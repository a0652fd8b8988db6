"""Stream/batch parity of the event-time operators: each runs through a
real ``readStream`` (file source, availableNow) and must match its batch
result or pin the documented streaming divergence."""

from __future__ import annotations


def test_windowed_counts_stream_equals_batch(spark, tmp_path):
    """windowed_event_counts must produce the same result through a real
    readStream (file source, availableNow) as in batch mode."""
    from n2khab_mhq_data_spark.streaming.incremental import (
        windowed_event_counts,
    )

    src = tmp_path / "win"
    ckpt = tmp_path / "wckpt"
    src.mkdir()
    schema = "ts timestamp, event_type string, value double"
    rows = [
        ("2024-01-01 10:05:00", "click", 1.0),
        ("2024-01-01 10:20:00", "click", 2.0),
        ("2024-01-01 10:40:00", "view", 3.0),
        ("2024-01-01 11:10:00", "click", 4.0),
    ]
    df = spark.createDataFrame(rows, "ts string, event_type string, value double")
    df.selectExpr("CAST(ts AS TIMESTAMP) ts", "event_type", "value").write.mode(
        "append"
    ).parquet(str(src))

    batch = {
        (str(r.window_start), r.event_type): (r.n, r.value_sum)
        for r in windowed_event_counts(spark.read.parquet(str(src))).collect()
    }

    stream = spark.readStream.schema(schema).parquet(str(src))
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("complete")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (str(r.window_start), r.event_type): (r.n, r.value_sum)
        for r in spark.sql("SELECT * FROM win_agg").collect()
    }
    assert streamed == batch
    assert batch[("2024-01-01 10:00:00", "click")] == (2, 3.0)


def test_stream_drop_duplicates_equals_batch_distinct(spark, tmp_path):
    """Streaming dropDuplicates (state-backed) must converge to the batch
    distinct over the same files — including duplicates arriving in a
    LATER micro-batch than the original."""
    src = tmp_path / "din"
    ckpt = tmp_path / "dckpt"
    out = tmp_path / "dout"
    src.mkdir()
    schema = "user_id long, event_id long, value double"

    def run_batch(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(
            str(src)
        )
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            stream.dropDuplicates(["event_id"])
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch([(1, 100, 1.0), (1, 101, 2.0), (2, 100, 1.0)])  # 100 dup in-batch
    run_batch([(3, 100, 1.0), (3, 102, 3.0)])  # 100 dup across batches

    got = {r.event_id for r in spark.read.parquet(str(out)).collect()}
    assert got == {100, 101, 102}
    # exactly one row per event_id survived
    assert spark.read.parquet(str(out)).count() == 3


def test_interval_join_stream_equals_batch(spark, tmp_path):
    """interval_join_stream must pair the same (click, purchase) rows
    through a real stream-stream join (two file sources, availableNow,
    watermarked state) as in batch mode."""
    from n2khab_mhq_data_spark.streaming.incremental import (
        interval_join_stream,
    )

    lsrc, rsrc = tmp_path / "clicks", tmp_path / "buys"
    ckpt = tmp_path / "jckpt"
    lschema = "user_id bigint, ts timestamp, click_id bigint"
    rschema = "r_user_id bigint, r_ts timestamp, purchase_id bigint"
    clicks = [
        (1, "2024-01-01 10:00:00", 100),
        (1, "2024-01-01 11:00:00", 101),
        (2, "2024-01-01 10:00:00", 102),
    ]
    buys = [
        (1, "2024-01-01 10:20:00", 900),  # pairs with 100 only
        (1, "2024-01-01 11:25:00", 901),  # pairs with 101
        (2, "2024-01-01 10:31:00", 902),  # outside 30 min of 102
    ]
    spark.createDataFrame(
        clicks, "user_id bigint, ts string, click_id bigint"
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) ts", "click_id").write.parquet(
        str(lsrc)
    )
    spark.createDataFrame(
        buys, "r_user_id bigint, r_ts string, purchase_id bigint"
    ).selectExpr(
        "r_user_id", "CAST(r_ts AS TIMESTAMP) r_ts", "purchase_id"
    ).write.parquet(str(rsrc))

    batch = {
        (r.click_id, r.purchase_id)
        for r in interval_join_stream(
            spark.read.parquet(str(lsrc)), spark.read.parquet(str(rsrc))
        ).collect()
    }
    assert batch == {(100, 900), (101, 901)}

    q = (
        interval_join_stream(
            spark.readStream.schema(lschema).parquet(str(lsrc)),
            spark.readStream.schema(rschema).parquet(str(rsrc)),
        )
        .writeStream.format("memory")
        .queryName("ij")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ij").collect()
    }
    assert streamed == batch


def test_dedup_within_watermark_state_expiry(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics pinned: duplicates
    arriving while the key is in state are dropped; once the watermark
    passes (event time + delay) the state expires and a later duplicate
    is re-emitted. This bounded-state behavior is WHY the operator scales
    where plain streaming dropDuplicates (keys forever) does not."""
    from n2khab_mhq_data_spark.streaming.incremental import dedup_stream

    src = tmp_path / "win"
    ckpt = tmp_path / "wckpt"
    out = tmp_path / "wout"
    src.mkdir()
    schema = "user_id long, event_type string, event_id long, ts timestamp"

    def run_batch(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(
            str(src)
        )
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            dedup_stream(
                stream,
                keys=("user_id", "event_type"),
                watermark="10 minutes",
            )
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    from datetime import datetime, timedelta

    t = lambda m: datetime(2024, 1, 1, 10, 0) + timedelta(minutes=m)  # noqa: E731
    # batch 1: key (1, click) at 10:00 + an in-batch duplicate
    run_batch([(1, "click", 100, t(0)), (1, "click", 101, t(1))])
    # batch 2: duplicate at 10:05 — watermark (09:51) has not passed
    # 10:00+10min, key still in state -> dropped; the 11:00 event
    # advances the watermark to 10:50, expiring the key
    run_batch([(1, "click", 102, t(5)), (2, "view", 200, t(60))])
    # batch 3: duplicate at 11:01 — state expired -> re-emitted
    run_batch([(1, "click", 103, t(61))])

    rows = spark.read.parquet(str(out)).collect()
    clicks = sorted(r.event_id for r in rows if r.user_id == 1)
    # exactly ONE survivor from batch 1 (which of the two in-batch
    # arrivals wins is processing-order-dependent — part of why the
    # batch path, not the stream, defines the deterministic contract),
    # the batch-2 duplicate (102) dropped while in state, and the
    # post-expiry duplicate (103) re-emitted
    assert len(clicks) == 2 and clicks[0] in (100, 101) and clicks[1] == 103
    assert {r.event_id for r in rows if r.user_id == 2} == {200}


def test_dedup_stream_batch_contract(spark):
    """Batch path: deterministic first-by-event-time per key with a
    total-order tiebreak."""
    from datetime import datetime

    from n2khab_mhq_data_spark.streaming.incremental import dedup_stream

    df = spark.createDataFrame(
        [
            (1, "click", 5, datetime(2024, 1, 1, 10, 30)),
            (1, "click", 3, datetime(2024, 1, 1, 10, 0)),
            (1, "click", 2, datetime(2024, 1, 1, 10, 0)),  # ts tie -> id
            (2, "view", 9, datetime(2024, 1, 1, 9, 0)),
        ],
        "user_id long, event_type string, event_id long, ts timestamp",
    )
    got = {
        (r.user_id, r.event_type): r.event_id
        for r in dedup_stream(df).collect()
    }
    assert got == {(1, "click"): 2, (2, "view"): 9}


def test_interval_join_left_outer_emits_unmatched(spark, tmp_path):
    """left_outer: the unattributed click must come out null-padded once
    the watermark passes its interval bound. A far-future flush event on
    both sides drives the watermark forward so eviction is observable
    under availableNow."""
    from n2khab_mhq_data_spark.streaming.incremental import (
        interval_join_stream,
    )

    lsrc, rsrc = tmp_path / "clicks", tmp_path / "buys"
    ckpt = tmp_path / "ljckpt"
    lschema = "user_id bigint, ts timestamp, click_id bigint"
    rschema = "r_user_id bigint, r_ts timestamp, purchase_id bigint"
    clicks = [
        (1, "2024-01-01 10:00:00", 100),   # matched
        (2, "2024-01-01 10:00:00", 102),   # unmatched -> null-padded
        (99, "2024-03-01 00:00:00", 999),  # watermark flush
    ]
    buys = [
        (1, "2024-01-01 10:20:00", 900),
        (98, "2024-03-01 00:00:00", 998),  # watermark flush
    ]
    spark.createDataFrame(
        clicks, "user_id bigint, ts string, click_id bigint"
    ).selectExpr(
        "user_id", "CAST(ts AS TIMESTAMP) ts", "click_id"
    ).write.parquet(str(lsrc))
    spark.createDataFrame(
        buys, "r_user_id bigint, r_ts string, purchase_id bigint"
    ).selectExpr(
        "r_user_id", "CAST(r_ts AS TIMESTAMP) r_ts", "purchase_id"
    ).write.parquet(str(rsrc))

    batch = {
        (r.click_id, r.purchase_id)
        for r in interval_join_stream(
            spark.read.parquet(str(lsrc)),
            spark.read.parquet(str(rsrc)),
            how="left_outer",
        ).collect()
    }
    assert batch == {(100, 900), (102, None), (999, None), (998, None)} - {
        (998, None)
    }

    q = (
        interval_join_stream(
            spark.readStream.schema(lschema).parquet(str(lsrc)),
            spark.readStream.schema(rschema).parquet(str(rsrc)),
            how="left_outer",
        )
        .writeStream.format("memory")
        .queryName("lij")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM lij").collect()
    }
    # the matched pair and the watermark-expired unmatched click must be
    # out; the flush click (999) itself may still be buffered — that is
    # watermark semantics, not data loss
    assert (100, 900) in streamed
    assert (102, None) in streamed


def test_static_enrich_stream_equals_batch(spark, tmp_path):
    """The stream-static enrichment topology (broadcast dim join BEFORE
    the tumbling-window agg — plans/windows.py::streaming_static_enrich)
    must produce identical results through a real readStream: the
    stream-static equi-join is stateless and the dim is re-broadcast
    per micro-batch, so stream-vs-batch parity is exact."""
    from pyspark.sql import functions as F

    src = tmp_path / "enr"
    ckpt = tmp_path / "enr_ckpt"
    src.mkdir()
    schema = "ts timestamp, user_id bigint, value double"
    rows = [
        ("2024-01-01 10:05:00", 1, 10.0),
        ("2024-01-01 10:20:00", 2, 20.0),
        ("2024-01-01 10:40:00", 1, 30.0),
        ("2024-01-01 11:10:00", 3, 40.0),
    ]
    spark.createDataFrame(
        rows, "ts string, user_id long, value double"
    ).selectExpr(
        "CAST(ts AS TIMESTAMP) ts", "user_id", "value"
    ).write.mode("append").parquet(str(src))
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver"), (3, "gold")],
        "user_id long, tier string",
    )

    def topo(events):
        return (
            events.join(F.broadcast(dim), "user_id")
            .groupBy(F.window("ts", "1 hour").alias("w"), "tier")
            .agg(
                F.count("*").alias("n"),
                F.sum("value").alias("v"),
            )
            .select(
                F.col("w.start").alias("ws"), "tier", "n", "v"
            )
        )

    batch = {
        (str(r.ws), r.tier): (r.n, r.v)
        for r in topo(spark.read.parquet(str(src))).collect()
    }
    q = (
        topo(spark.readStream.schema(schema).parquet(str(src)))
        .writeStream.format("memory")
        .queryName("enr_agg")
        .outputMode("complete")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (str(r.ws), r.tier): (r.n, r.v)
        for r in spark.sql("SELECT * FROM enr_agg").collect()
    }
    assert streamed == batch
    assert batch[("2024-01-01 10:00:00", "gold")] == (2, 40.0)
