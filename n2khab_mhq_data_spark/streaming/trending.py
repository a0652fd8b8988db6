"""Streaming trending top-k: continuously materialized per-window
leaderboard.

Ranking is not a streaming-native operator (no windowed row_number in
update mode), so the standard shape is: watermarked windowed COUNTS in
the engine's state store -> foreachBatch merges each batch's updated
(window, key) counts into a published count state (latest-wins — update-
mode emissions are cumulative per key, so the newest value is the max
and replays converge) -> re-rank ONLY the windows touched by the batch
-> publish the leaderboard via the shared atomic-swap protocol.

Scale: the engine handles the unbounded count state (watermark-bounded
RocksDB); the foreachBatch legs re-rank only the windows touched by the
batch. Both published stores are hive-partitioned by window
(``win_part=yyyy-MM-dd-HH-mm-ss``) and written with dynamic partition
overwrite, so per-trigger bytes READ and WRITTEN track the touched
windows only — untouched window partitions are never opened (partition
pruning on the read side, per-partition overwrite on the write side).
The retention horizon prunes long-final windows as whole-directory
deletes. This is the write_published layout applied to streaming state;
the wholesale-rewrite shape this replaced scaled IO with the retention
horizon instead of the trigger's touch set."""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window as W

from n2khab_mhq_data_spark.operators.merge import incremental_merge
from n2khab_mhq_data_spark.streaming.incremental import (
    prune_state_partitions,
    publish_state_partitioned,
    read_state,
)

# partition-value format for the published stores: zero-padded so
# lexicographic dir-name order == chronological order (retention prune
# compares strings), filesystem-safe (no ':' as in a raw timestamp).
# Only the Spark-side date_format spelling exists — every partition
# string (written, pruned, or compared) derives from this one
# expression so a session-vs-driver timezone split cannot occur.
_PART_FMT_SQL = "yyyy-MM-dd-HH-mm-ss"


_UNITS = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
}


def _parse_interval(spec: str) -> datetime.timedelta:
    """Parse the 'N unit' interval strings Spark accepts for windows and
    watermarks (enough for the retention guard; compound specs raise)."""
    parts = spec.strip().split()
    if len(parts) != 2 or parts[1].lower() not in _UNITS:
        raise ValueError(f"unsupported interval spec: {spec!r}")
    return datetime.timedelta(seconds=float(parts[0]) * _UNITS[parts[1].lower()])


def trending_topk(counts: DataFrame, k: int) -> DataFrame:
    """Rank (window_start, event_type, n) counts into a per-window
    top-k leaderboard — shared by the batch oracle and the stream."""
    w = W.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "window_start", F.col("rank").cast("int").alias("rank"),
            "event_type", "n",
        )
    )


def trending_topk_stream(
    spark: SparkSession,
    source: DataFrame,
    counts_path: str,
    topk_path: str,
    checkpoint: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    k: int = 3,
    retention: datetime.timedelta | None = None,
) -> StreamingQuery:
    if retention is None:
        retention = datetime.timedelta(days=365)
    # a window can still receive engine-admitted late updates until the
    # watermark passes it; pruning inside that horizon would silently
    # drop those updates — fail fast instead
    min_retention = _parse_interval(watermark) + _parse_interval(window)
    if retention < min_retention:
        raise ValueError(
            f"retention {retention} < watermark + window"
            f" ({min_retention}): late updates the engine still admits"
            " would be pruned from the published states"
        )
    agg = (
        source.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n"
        )
    )

    def _with_part(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "win_part", F.date_format("window_start", _PART_FMT_SQL)
        )

    def rerank(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        # one evaluation of the micro-batch: the touched-window set is
        # tiny (windows per trigger), collect it to literals so the
        # batch plan isn't re-executed by the downstream merge/rank legs.
        # Partition strings are derived Spark-side with the SAME
        # date_format expression that wrote win_part — a driver-side
        # strftime over collected datetimes silently diverges whenever
        # spark.sql.session.timeZone differs from the driver zone, and
        # the isin below would then prune away the very partitions just
        # written (ADVICE r4)
        batch = batch.persist()
        # unpersist on EVERY exit (the ingest.py try/finally shape)
        try:
            meta = (
                batch.select(
                    F.date_format("window_start", _PART_FMT_SQL).alias(
                        "win_part"
                    ),
                    F.date_format(
                        F.col("window_start")
                        - F.make_interval(
                            secs=F.lit(retention.total_seconds())
                        ),
                        _PART_FMT_SQL,
                    ).alias("h_part"),
                )
                .distinct()
                .collect()
            )
            if not meta:
                return  # the finally unpersists
            touched_parts = sorted({r["win_part"] for r in meta})
            # retention horizon: windows older than the newest touched
            # window minus `retention` are final (the engine's watermark
            # stopped updating them long ago; the retention >= watermark +
            # window guard above means no admitted update can precede it) —
            # their partitions are dropped from BOTH states as directory
            # deletes, never a rewrite of surviving data. The zero-padded
            # format is lexicographically chronological, so every horizon
            # comparison below is a plain string compare on win_part.
            horizon_part = max(r["h_part"] for r in meta)
            # merge ONLY the touched partitions of the count state (the
            # isin on the partition column prunes every other directory
            # from the scan); dynamic overwrite then writes back exactly
            # those partitions — untouched windows are never opened
            prev = read_state(s, counts_path)
            prev_touched = (
                None if prev is None
                else prev.filter(F.col("win_part").isin(touched_parts))
                .drop("win_part")
            )
            merged = (
                batch if prev_touched is None
                else incremental_merge(
                    prev_touched, batch, ["window_start", "event_type"],
                    ["n DESC"],
                )
            )
            merged = _with_part(merged).filter(
                F.col("win_part") >= horizon_part
            )
            publish_state_partitioned(s, counts_path, merged, "win_part")
            prune_state_partitions(s, counts_path, "win_part", horizon_part)
            counts = (
                s.read.parquet(counts_path)
                .filter(F.col("win_part").isin(touched_parts))
                .drop("win_part")
            )
            fresh = trending_topk(counts, k)
            publish_state_partitioned(
                s, topk_path, _with_part(fresh), "win_part"
            )
            prune_state_partitions(s, topk_path, "win_part", horizon_part)
        finally:
            batch.unpersist()

    return (
        agg.writeStream.foreachBatch(rerank)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
