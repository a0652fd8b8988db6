"""Streaming JSONL corpus intake — the front door of a training-data
pipeline: new shard files land in a directory, each micro-batch parses
them with corrupt-line quarantine, and the clean rows merge exactly-once
into the published parquet state.

Composes the repo's existing pieces end to end: the text+from_json
corrupt-capture parse (sources/jsonl.py), latest-wins incremental merge
with atomic temp+rename publish (streaming/incremental.py), and an
append-only quarantine keyed by batch id so every rejected line stays
inspectable (a crawl feed ALWAYS has some).

Scale: the file source lists only NEW files per trigger (checkpointed),
text parsing is line-splittable and JVM-side, the merge shuffles one
key-hash per batch, and quarantine appends are batch-sized. Nothing in
the loop scans historical state except the merge's published read —
which is the incremental-merge contract shared with K10.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from n2khab_mhq_data_spark.functions.scalars import ident
from n2khab_mhq_data_spark.sources.jsonl import CORRUPT_COL, split_corrupt
from n2khab_mhq_data_spark.streaming.incremental import (
    publish_state,
    read_state,
)


def parse_jsonl_stream(
    spark: SparkSession, path: str, schema: str
) -> DataFrame:
    """Streaming analog of sources.jsonl.read_jsonl — literally the SAME
    parse projection (sources/jsonl.py::parse_jsonl_lines) over a
    readStream.text source, so batch and stream agree line for line,
    including the NULL-struct override that quarantines blank lines and
    bare ``null`` literals (an earlier inlined copy dropped it and the
    stream PUBLISHED phantom all-null rows a batch re-run would have
    quarantined)."""
    from n2khab_mhq_data_spark.sources.jsonl import parse_jsonl_lines

    return parse_jsonl_lines(spark.readStream.text(path), schema)


def jsonl_ingest_stream(
    spark: SparkSession,
    source_path: str,
    schema: str,
    state_path: str,
    quarantine_path: str,
    keys: list[str],
    order_cols: list[str],
    checkpoint: str,
) -> StreamingQuery:
    """Run the intake: good rows merge latest-wins on ``keys`` ordered
    by ``order_cols`` desc into ``state_path`` (atomic temp+rename
    publish — replays converge, crash never truncates state); corrupt
    lines append to ``quarantine_path`` tagged with their batch id.

    Exactly-once story: file-source checkpointing dedups batch
    delivery; the merge is idempotent under replay (latest-wins);
    quarantine is append-only so a replayed batch may duplicate
    quarantine rows — they carry ``batch_id`` precisely so an auditor
    can dedup, the same trade CDC audit logs make."""
    from n2khab_mhq_data_spark.operators.merge import incremental_merge

    parsed = parse_jsonl_stream(spark, source_path, schema)

    def ingest_batch(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        # two actions consume this micro-batch (quarantine write, merge
        # publish) — persist so the text read + from_json parse runs
        # once per trigger, not once per action (same multi-action
        # shape scd2_stream and the neardup sink persist for)
        batch = batch.persist()
        try:
            # the ONE quarantine split (sources/jsonl.py) — inlining it
            # here would let the batch and streaming paths silently
            # diverge on what counts as corrupt
            good, bad = split_corrupt(batch)
            (
                bad.withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(quarantine_path)
            )
            published = read_state(s, state_path)
            if published is None:
                published = good.limit(0)
            merged = incremental_merge(
                published,
                good,
                keys,
                [f"{ident(c)} DESC" for c in order_cols],
            )
            publish_state(s, state_path, merged)
        finally:
            batch.unpersist()

    return (
        parsed.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
