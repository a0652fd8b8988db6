"""One timed sample of a query, shared by ``bench.py`` and the tools.

A sample builds the query's DataFrame under a ``build`` phase, then writes
it to Spark's ``noop`` sink under an ``exec`` phase, so the whole plan the
query specifies runs (``count()`` lets Catalyst prune every column and
operator a row count does not need). The phases are perfbench's
``Tracer`` spans: each sets the Spark job group ``<tag>|<op>|<phase>``,
so an event log attributes every job, stage and task to the sample that
launched it (``perfbench.spans.event_log_totals``), without the Spark UI.
"""

from __future__ import annotations

import gc
import time
from typing import Callable

from perfbench.spans import Tracer


def settle(spark) -> None:
    """Collect garbage outside the timed region: Python first, because
    localCheckpoint'ed RDDs stay pinned until their DataFrame wrappers
    are collected, then the JVM; then give the async ContextCleaner time
    to drain the block removals the GC triggered (without the pause the
    cleanup overlapped the next timed run, observed as a query paying
    3x: 7.9 s against 2.4 s isolated)."""
    gc.collect()
    spark._jvm.System.gc()
    time.sleep(0.3)


def last_span_s(tracer: Tracer) -> float:
    """Seconds of the tracer's latest span."""
    *_, t0, t1 = tracer.spans[-1]
    return t1 - t0


def sample(
    tracer: Tracer, tag: str, op: str, build: Callable
) -> tuple[float, float]:
    """Build the DataFrame with ``build()`` and write it to ``noop``;
    returns ``(build_s, exec_s)``. ``tracer`` must be enabled."""
    with tracer.phase(tag, op, "build"):
        df = build()
    build_s = last_span_s(tracer)
    with tracer.phase(tag, op, "exec"):
        df.write.format("noop").mode("overwrite").save()
    return build_s, last_span_s(tracer)
