import pytest


def _union_find_labels(edges):
    """Reference components: node -> smallest node id in its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_components_match_union_find_on_hard_shapes(spark):
    """connected_components must match a union-find on the shapes that
    stress it: a long chain (high diameter), bridged stars, a
    self-loop-only node, and a singleton pair."""
    from n2khab_mhq_data_spark.llmdata.dedup import connected_components

    chain = [(i, i + 1) for i in range(1, 17)]  # diameter 16
    pairs = (
        chain
        + [(30, 31), (30, 32), (40, 41), (40, 42), (32, 41)]
        + [(50, 51)]
        + [(60, 60)]  # self-loop-only node: its own component
    )
    edges = spark.createDataFrame(pairs, "d1 long, d2 long")
    got = {
        r.doc: r.component_id
        for r in connected_components(edges, max_iter=30).collect()
    }
    assert got == _union_find_labels(pairs)
    assert got[17] == 1 and got[42] == 30 and got[60] == 60


def test_components_match_union_find_on_random_graphs(spark):
    """Seeded random graphs (sparse, dense, with self-loops): the labels
    must equal a union-find's exactly."""
    import random

    from n2khab_mhq_data_spark.llmdata.dedup import connected_components

    for seed, n, m in [(1, 30, 15), (2, 40, 60), (3, 25, 25)]:
        rng = random.Random(seed)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]  # includes occasional self-loops
        df = spark.createDataFrame(edges, "d1 long, d2 long")
        got = {
            r.doc: r.component_id
            for r in connected_components(df, max_iter=40).collect()
        }
        assert got == _union_find_labels(edges), f"seed {seed}"


def test_components_raise_when_not_converged(spark):
    """One round cannot label a diameter-16 chain: exhausting max_iter
    raises instead of returning under-merged components."""
    from n2khab_mhq_data_spark.llmdata.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 17)], "d1 long, d2 long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1)
