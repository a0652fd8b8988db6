"""Event-time operators that run unchanged on a batch or a streaming
DataFrame (SURVEY.md §2.11): a watermarked tumbling-window count, a
watermarked interval join and a keyed dedup. The registered queries in
``plans/windows.py`` call them on batch frames; the tests also run them
through ``readStream`` to pin stream/batch parity.

The reference itself is batch-only; the watermarks are the standard
late-data pattern and cost nothing on a batch plan."""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from n2khab_mhq_data_spark.functions.scalars import ident


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation (late data dropped after the
    watermark): the canonical streaming agg shape; works identically on a
    batch DataFrame for testing."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value") + F.lit(1e-9), 2).alias("value_sum"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "value_sum",
        )
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "r_ts",
    max_delay: str = "30 minutes",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: each left event pairs with
    right events for the same key that happened in (left_ts, left_ts +
    max_delay] — the click-to-conversion attribution shape. Both sides are
    watermarked so the state store can expire buffered rows once the
    watermark passes the interval bound (without it, stream-stream join
    state grows forever). Works identically on batch DataFrames, which is
    how the oracle checks it.

    ``how="left_outer"`` adds the unattributed-clicks shape: a left event
    with no right match is emitted null-padded once the watermark passes
    its interval bound (batch mode emits it immediately). The event-time
    bound in the join condition is what makes outer emission decidable —
    without it Spark rejects the outer stream-stream join."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[f"r_{key}"])
        & (F.col(right_ts) > F.col(left_ts))
        & (
            F.col(right_ts)
            <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return lw.join(rw, cond, how)


def dedup_stream(
    events: DataFrame,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    ts_col: str = "ts",
    tiebreak: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Exactly-once keyed dedup for at-least-once ingestion.

    Streaming: ``dropDuplicatesWithinWatermark`` — keeps the first
    ARRIVAL per key and, unlike plain ``dropDuplicates``, expires key
    state once the watermark passes the key's event time + delay, so
    state is bounded by the duplicate-arrival horizon instead of growing
    with the whole key universe (the property that matters on an
    unbounded 100 TB ingest).

    Batch: the deterministic contract — first row per key by
    (event time, tiebreak). The streaming path converges to it whenever
    duplicates arrive within the watermark and sources replay in event
    order; the engine test pins the divergence (a duplicate arriving
    AFTER state expiry is re-emitted, by design)."""
    if events.isStreaming:
        return events.withWatermark(
            ts_col, watermark
        ).dropDuplicatesWithinWatermark(list(keys))
    from n2khab_mhq_data_spark.operators.relational import dedup_keep_latest

    # the ONE keyed-dedup implementation (guards included) — an inline
    # window copy here could drift from the batch contract
    return dedup_keep_latest(
        events, list(keys), [ident(c) for c in [ts_col, *tiebreak]]
    )
