"""Checkpoint block lifecycle for iterative loops.

``localCheckpoint`` materializes a DataFrame into executor storage
blocks that NOTHING releases until the wrapping RDD object is
garbage-collected on the JVM side AND the async ContextCleaner drains —
in an iterative algorithm (connected components, BFS, k-core peeling)
every superseded round's blocks therefore pile up for the whole run.
Locally that surfaces as multi-second run-to-run jitter once storage
churns (measured on the checkpoint-heavy queries); at 100 TB it is a
second-copy-of-the-dataset storage tax per round.

:func:`release` frees a superseded checkpoint's blocks immediately.
Callers must guarantee the frame is DEAD: released checkpoints cannot
recompute (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on any later action), so
only call it on loop state that has been replaced by a newer
materialized round and is referenced by no returned plan.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


def release(df: DataFrame | None) -> None:
    """Best-effort immediate unpersist of a localCheckpoint'ed frame's
    blocks. No-op when ``df`` is None, not a checkpoint, or the JVM
    handle is unavailable (no ``_jdf``, as on a Spark Connect frame, or a
    py4j error from a stopped context or gateway) — the worst case is the
    old behavior (blocks linger until GC + ContextCleaner). Any other
    error propagates."""
    jdf = getattr(df, "_jdf", None)
    if jdf is None:
        return
    try:
        analyzed = jdf.queryExecution().analyzed()
        if analyzed.getClass().getSimpleName() == "LogicalRDD":
            analyzed.rdd().unpersist(False)
    except Py4JError:
        pass
