import pytest




def test_components_reliable_checkpoint(spark, tmp_path):
    """reliable=True runs the same fixpoint through checkpoint() against a
    configured checkpoint dir (the executor-loss-safe path for long runs)."""
    from n2khab_mhq_data_spark.llmdata.dedup import connected_components

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "d1 long, d2 long"
    )
    out = {
        r.doc: r.component_id
        for r in connected_components(edges, reliable=True).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    import os

    assert os.listdir(str(tmp_path / "ckpt"))  # something was checkpointed


def test_twophase_matches_minlabel_on_hard_shapes(spark):
    """Large-star/small-star must produce the SAME labels as the
    min-label oracle on the shapes that stress it: a long chain (high
    diameter), bridged stars, a self-loop-only node, and singleton
    pairs — while converging in O(log^2 n) rounds."""
    from n2khab_mhq_data_spark.llmdata.dedup import (
        connected_components,
        connected_components_twophase,
    )

    chain = [(i, i + 1) for i in range(1, 17)]  # diameter 16
    edges = spark.createDataFrame(
        chain
        + [(30, 31), (30, 32), (40, 41), (40, 42), (32, 41)]
        + [(50, 51)]
        + [(60, 60)],  # self-loop-only node: its own component
        "d1 long, d2 long",
    )
    oracle = {
        r.doc: r.component_id
        for r in connected_components(edges, max_iter=30).collect()
    }
    got = {
        r.doc: r.component_id
        for r in connected_components_twophase(edges).collect()
    }
    assert got == oracle
    assert got[17] == 1 and got[42] == 30 and got[60] == 60


def test_twophase_converges_faster_than_diameter(spark):
    """On a diameter-64 chain the two-phase algorithm must converge well
    under the min-label round count (which needs ~diameter rounds) —
    the scale rationale for keeping it."""
    from n2khab_mhq_data_spark.llmdata import dedup as D

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 65)], "d1 long, d2 long"
    )
    # count rounds via the fingerprint loop: patch max_iter to a bound
    # far below the diameter; success proves round count << diameter
    out = {
        r.doc: r.component_id
        for r in D.connected_components_twophase(edges, max_iter=8).collect()
    }
    assert set(out.values()) == {1} and len(out) == 65


def test_twophase_matches_minlabel_on_random_graphs(spark):
    """Seeded random graphs (sparse, dense, with self-loops): the
    two-phase labels must equal the min-label oracle's exactly."""
    import random

    from n2khab_mhq_data_spark.llmdata.dedup import (
        connected_components,
        connected_components_twophase,
    )

    for seed, n, m in [(1, 30, 15), (2, 40, 60), (3, 25, 25)]:
        rng = random.Random(seed)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]  # includes occasional self-loops
        df = spark.createDataFrame(edges, "d1 long, d2 long")
        oracle = {
            r.doc: r.component_id
            for r in connected_components(df, max_iter=40).collect()
        }
        got = {
            r.doc: r.component_id
            for r in connected_components_twophase(df).collect()
        }
        assert got == oracle, f"seed {seed}"


@pytest.mark.parametrize(
    "kernel", ["connected_components", "connected_components_twophase"]
)
def test_components_raise_when_not_converged(spark, kernel):
    """One round cannot label a diameter-16 chain: exhausting max_iter
    raises instead of returning under-merged components."""
    from n2khab_mhq_data_spark.llmdata import dedup as D

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 17)], "d1 long, d2 long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        getattr(D, kernel)(edges, max_iter=1)
