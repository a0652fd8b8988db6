"""Checkpoint block lifecycle (operators/ckpt.py) — the r11 release()
helper used by the iterative loops (connected components, k-core, BFS).

The contract under test:
  - release() on a localCheckpoint'ed frame frees its storage blocks
    immediately (no waiting on GC + ContextCleaner);
  - release() is a safe no-op on None, on non-checkpoint plans and when
    the JVM handle is unavailable, and lets any other error propagate;
  - a plan that unions SURVIVING checkpoints still computes correctly
    after a superseded sibling was released (the exact shape the BFS
    ring union relies on).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from n2khab_mhq_data_spark.operators.ckpt import release


def _checkpoint_rdd_ids(spark) -> set[int]:
    sc = spark.sparkContext
    return {
        info.id()
        for info in sc._jsc.sc().getRDDStorageInfo()
        if "LocalCheckpointedRDD" in info.name()
        or "Local checkpoint" in str(info.name())
    }


def _n_stored_blocks(spark) -> int:
    sc = spark.sparkContext
    return sum(
        info.numCachedPartitions()
        for info in sc._jsc.sc().getRDDStorageInfo()
    )


def _rdd_block_counts(spark) -> dict[int, int]:
    sc = spark.sparkContext
    return {
        info.id(): info.numCachedPartitions()
        for info in sc._jsc.sc().getRDDStorageInfo()
    }


def test_release_frees_blocks_immediately(spark):
    # Track THIS checkpoint's own RDD, not the session-global block
    # total: other modules' iterative loops leave checkpoints whose
    # async GC/ContextCleaner decay between a global baseline and the
    # final assert (observed as one-off-count flakes when
    # test_components precedes this module in a shared session).
    before = set(_rdd_block_counts(spark))
    df = spark.range(0, 1000, 1, 4).withColumn(
        "v", F.col("id") * 2
    ).localCheckpoint()
    assert df.count() == 1000
    mine = {
        rid: n
        for rid, n in _rdd_block_counts(spark).items()
        if rid not in before and n > 0
    }
    assert mine, "localCheckpoint stored no blocks?"
    release(df)
    after = _rdd_block_counts(spark)
    assert all(after.get(rid, 0) == 0 for rid in mine)


def test_release_noop_on_none_and_plain_plans(spark):
    release(None)  # must not raise
    df = spark.range(10)  # not a checkpoint: LogicalRDD check rejects it
    release(df)
    assert df.count() == 10  # still computable


def test_surviving_checkpoints_unaffected(spark):
    """BFS ring-union shape: release a superseded ring, the union of
    the KEPT rings must still produce the right answer."""
    ring0 = spark.range(0, 5).localCheckpoint()
    superseded = spark.range(100, 200).localCheckpoint()
    ring1 = spark.range(5, 10).localCheckpoint()
    release(superseded)
    out = ring0.unionAll(ring1)
    assert sorted(r.id for r in out.collect()) == list(range(10))
    release(ring0)
    release(ring1)


class _FakeFrame:
    """Stands in for a DataFrame whose JVM handle raises ``exc``."""

    def __init__(self, exc: Exception):
        self._exc = exc

    @property
    def _jdf(self):
        return self

    def queryExecution(self):
        raise self._exc


def test_release_noop_when_jvm_handle_unavailable():
    from py4j.protocol import Py4JError, Py4JNetworkError

    release(object())  # no _jdf at all (e.g. a Spark Connect frame)
    release(_FakeFrame(Py4JError("gateway gone")))
    release(_FakeFrame(Py4JNetworkError("connection refused")))


def test_release_propagates_unexpected_errors():
    import pytest

    with pytest.raises(RuntimeError, match="boom"):
        release(_FakeFrame(RuntimeError("boom")))


def test_read_after_release_fails_loudly(spark):
    """A released local checkpoint has no lineage to recompute from, so
    reading it again raises instead of returning missing rows."""
    import pytest
    from py4j.protocol import Py4JJavaError

    df = spark.range(0, 100, 1, 4).localCheckpoint()
    assert df.count() == 100
    release(df)
    with pytest.raises(Py4JJavaError, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        df.count()
