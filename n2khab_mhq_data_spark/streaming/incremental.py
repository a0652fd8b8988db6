"""Streaming incremental-append path — the Structured Streaming wrapper
around kernel K10 (SURVEY.md §2.11).

The reference's closest-to-streaming semantic is the seasonal append of new
fieldwork into published tables (query_fieldmap_update_fieldwork2022.Rmd:
943-1076). Here that becomes: file/rate source -> foreachBatch -> the SAME
``incremental_merge`` used by the batch path -> deterministic rewrite. One
code path for merge semantics, two drivers (batch rerun / stream).

Watermarked windowed aggregation over the events table is included as the
standard late-data pattern, though the reference itself never needs it."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window as W

from n2khab_mhq_data_spark.functions.scalars import ident
from n2khab_mhq_data_spark.operators.merge import incremental_merge


def _fs_path(s: SparkSession, path: str):
    hpath = s._jvm.org.apache.hadoop.fs.Path
    p = hpath(path)
    return p.getFileSystem(s._jsc.hadoopConfiguration()), hpath


def read_state(s: SparkSession, state_path: str) -> DataFrame | None:
    """Read a published parquet state dir, recovering first from a crash
    that happened mid-swap (state moved aside to ``.bak``, temp output
    never promoted): restore the pre-batch state and let the replayed
    batch run against it. Returns None when no state exists yet (an
    explicit exists() check — a transient IO failure must surface, not
    silently truncate state)."""
    fs, hpath = _fs_path(s, state_path)
    state = hpath(state_path)
    bak = hpath(state_path + ".bak")
    if not fs.exists(state) and fs.exists(bak):
        # Hadoop rename reports failure by RETURNING FALSE, not raising
        # — an unchecked failed restore would fall through to None
        # ("first batch") and the next publish would delete the .bak
        # holding the only real state
        if not fs.rename(bak, state):
            raise IOError(
                f"read_state: restoring {bak} -> {state} failed"
            )
    if fs.exists(state):
        return s.read.parquet(state_path)
    return None


def publish_state(
    s: SparkSession,
    state_path: str,
    df: DataFrame,
    partition_by: str | None = None,
) -> None:
    """Atomically replace a published parquet state dir with ``df``.

    Write NEXT TO the live state (so any scan of the old state feeding
    ``df`` still has its input), then swap via atomic renames
    (state -> .bak, .tmp -> state, drop .bak) — never
    ``mode("overwrite")`` of the directory being read, which deletes
    existing state before the new write is known-good.

    ``partition_by`` lays the NEW state out hive-partitioned — the
    one-time bootstrap/migration companion of
    ``publish_state_partitioned`` (whose dynamic overwrite requires the
    dir to already be partition-dirs-only; mixing flat part files and
    partition dirs would double-read)."""
    fs, hpath = _fs_path(s, state_path)
    state = hpath(state_path)
    bak = hpath(state_path + ".bak")
    tmp = hpath(state_path + ".tmp")
    if fs.exists(tmp):
        fs.delete(tmp, True)
    w = df.write.mode("overwrite")
    if partition_by is not None:
        w = w.partitionBy(partition_by)
    w.parquet(tmp.toString())
    # Hadoop FileSystem.rename signals failure by returning False (not
    # raising): check each swap step, roll back on a failed promote, and
    # only drop the backup once the new state verifiably exists —
    # unchecked, a failed promote fell through to the bak delete and
    # destroyed the only surviving copy of the published state
    if fs.exists(bak):
        fs.delete(bak, True)
    if fs.exists(state) and not fs.rename(state, bak):
        raise IOError(f"publish_state: rename {state} -> {bak} failed")
    if not fs.rename(tmp, state):
        fs.rename(bak, state)  # restore so the table stays readable
        raise IOError(f"publish_state: rename {tmp} -> {state} failed")
    if fs.exists(state) and fs.exists(bak):
        fs.delete(bak, True)


def publish_state_partitioned(
    s: SparkSession, state_path: str, df: DataFrame, part_col: str
) -> None:
    """Overwrite ONLY the hive partitions present in ``df`` (dynamic
    partition overwrite) — the per-trigger IO tracks the touched
    partitions, never the whole store. Each partition commit is a staged
    write + rename; a crash mid-publish leaves a mix of old/new
    partitions, which the idempotent foreachBatch replay (checkpointed
    batch re-runs against the same inputs) repairs — the same
    effectively-once argument as ``merge_stream``, narrowed to the
    partition grain."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(state_path)
    )


def prune_state_partitions(
    s: SparkSession, state_path: str, part_col: str, min_value: str
) -> None:
    """Drop hive partition dirs whose ``part_col`` value sorts below
    ``min_value`` (values must be strings whose lexicographic order is
    the intended order — e.g. zero-padded ``yyyy-MM-dd-HH-mm-ss``).
    Retention for a partitioned state store is directory deletes, not a
    rewrite of the surviving data."""
    fs, hpath = _fs_path(s, state_path)
    root = hpath(state_path)
    if not fs.exists(root):
        return
    prefix = part_col + "="
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith(prefix) and name[len(prefix):] < min_value:
            fs.delete(st.getPath(), True)


def merge_stream(
    spark: SparkSession,
    source: DataFrame,
    state_path: str,
    keys: list[str],
    order_cols: list[str],
    checkpoint: str,
) -> StreamingQuery:
    """readStream -> foreachBatch(incremental_merge) -> parquet state.

    Each micro-batch merges into the published parquet state with
    latest-wins semantics on ``keys`` ordered by ``order_cols`` desc.

    Effectively-once: the checkpoint dedups batch delivery, the merge itself
    is idempotent (latest-wins replay converges), and the state swap is a
    write-to-temp + rename protocol (rename is atomic on HDFS/local FS) with
    crash recovery — never a mode("overwrite") of the directory being read,
    which would delete existing state before the new write is known-good.
    "First batch" is decided by an explicit FileSystem.exists() check, not by
    catching read errors, so a transient IO/permission failure surfaces
    instead of silently truncating state.
    """

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        published = read_state(s, state_path)
        if published is None:
            published = batch.limit(0)
        merged = incremental_merge(
            published,
            batch,
            keys,
            [f"{ident(c)} DESC" for c in order_cols],
        )
        publish_state(s, state_path, merged)

    return (
        source.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


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


def scd2_stream(
    spark: SparkSession,
    source: DataFrame,
    events_path: str,
    scd2_path: str,
    key_cols: list[str],
    state_cols: list[str],
    ts_col: str,
    checkpoint: str,
) -> StreamingQuery:
    """CDC change events -> continuously materialized SCD Type-2 table.

    Each micro-batch (foreachBatch):

    1. merges the batch's raw change events into ``events_path`` with
       latest-wins on (key, ts) — replayed/duplicate events collapse, so
       the pipeline is effectively-once end-to-end;
    2. rebuilds validity intervals ONLY for the keys present in the
       batch (``operators/scd.py::scd2_history`` over the merged event
       log semi-joined to the batch's keys — late events re-open history
       correctly because the rebuild always reads the full per-key
       log);
    3. publishes old-scd2-minus-affected-keys + rebuilt fragment via the
       same atomic-rename swap as ``merge_stream``.

    Scale: step 2's cost is proportional to the CHANGED keys' event
    volume, not the table — the standard CDC merge shape; both joins are
    on the key columns (the batch key set broadcasts)."""
    from n2khab_mhq_data_spark.operators.scd import scd2_history

    def upsert(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        # batch feeds three actions (log publish, affected-keys semi and
        # anti joins) — persist so the micro-batch source is read once
        batch = batch.persist()
        try:
            _scd2_upsert_body(s, batch)
        finally:
            # without the finally a publish/rename failure would leak
            # the cached micro-batch; retried batches then accumulate
            # pinned cache entries for the stream's life
            batch.unpersist()

    def _scd2_upsert_body(s, batch: DataFrame) -> None:
        log = read_state(s, events_path)
        # event identity is (key, ts); replays are exact duplicates, and a
        # same-timestamp correction resolves deterministically by state.
        # The merge ALWAYS runs (empty published side on batch 0) so
        # intra-batch duplicates / same-(key,ts) conflicts collapse before
        # the log is published — without it the first batch's raw rows
        # would make scd2_history's ts-ordered window nondeterministic.
        all_events = incremental_merge(
            log if log is not None else batch.limit(0),
            batch,
            key_cols + [ts_col],
            [f"{ident(c)} DESC" for c in state_cols],
        )
        # materialize the merged log FIRST; both downstream legs read it
        publish_state(s, events_path, all_events)
        merged_log = s.read.parquet(events_path)
        affected = batch.select(*key_cols).distinct()
        fragment = scd2_history(
            merged_log.join(F.broadcast(affected), key_cols, "semi"),
            key_cols,
            state_cols,
            ts_col,
        )
        prev = read_state(s, scd2_path)
        if prev is not None:
            kept = prev.join(F.broadcast(affected), key_cols, "anti")
            fragment = kept.unionByName(fragment)
        publish_state(s, scd2_path, fragment)

    return (
        source.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
