"""Driver-contract smoke tests: entry() returns rows, every registered query
runs at sf0.001, every oracle key matches a query key, the docs state the
registry's size."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "cover_mean" in df.columns


def test_oracle_keys_subset_of_queries():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 40


def test_every_query_runs(spark, sf_dir):
    qs = entrymod.queries()
    for name, fn in qs.items():
        df = fn(spark, sf_dir)
        # schema resolves and the plan executes
        assert df.limit(5).count() >= 0, name


def test_doc_query_counts_match_registry():
    """README.md and COVERAGE.md state the registry size in prose; they
    must not drift from the registry itself."""
    import re
    from pathlib import Path

    root = Path(entrymod.__file__).resolve().parent
    n = len(entrymod.queries())
    for doc, pattern in (
        ("README.md", r"(\d+) named queries"),
        ("COVERAGE.md", r"runs all \*\*(\d+) queries"),
    ):
        stated = re.findall(pattern, (root / doc).read_text())
        assert stated, f"{doc}: no query count matching {pattern!r}"
        assert set(map(int, stated)) == {n}, (doc, stated, n)


def test_catalog_load_handles_nanos_timestamp(spark, tmp_path):
    """The driver's events.parquet ships TIMESTAMP(NANOS), which vanilla
    Spark rejects (PARQUET_TYPE_ILLEGAL) — catalog.load must recover by
    reading nanos as long and rebuilding microsecond timestamps with
    integer division (float division would overflow the 53-bit mantissa
    on nano-epoch values). Pinned here with a synthesized nanos file so
    a testdata regen can't silently break it (it drifted in round 2)."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from n2khab_mhq_data_spark.catalog import load

    sf = tmp_path / "sf"
    sf.mkdir()
    t0 = datetime(2024, 3, 1, 12, 30, 15, 123456)
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([t0, datetime(2024, 3, 2)], pa.timestamp("ns")),
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["click", "view"]),
            "value": pa.array([1.5, 2.5], pa.float64()),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(table, str(sf / "events.parquet"))

    # the second load reuses the memoized schema: same dtypes, same
    # exact microseconds
    first = load(spark, str(sf), "events")
    for df in (first, load(spark, str(sf), "events")):
        assert df.dtypes == first.dtypes
        assert dict(df.dtypes)["ts"].startswith("timestamp")
        got = {r.event_id: r.ts for r in df.collect()}
        assert got[1] == t0  # microsecond precision survives exactly


def test_catalog_load_handles_tz_aware_nanos(spark, tmp_path):
    """A tz-aware TIMESTAMP(NANOS) column prints as
    'timestamp[ns, tz=UTC]' in the pyarrow footer — the proactive nanos
    peek must catch it too (prefix match), and a SECOND nanos column
    beyond the hardcoded 'ts' must also be rebuilt, not left as a bare
    bigint."""
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from n2khab_mhq_data_spark.catalog import load

    sf = tmp_path / "sf"
    sf.mkdir()
    t0 = datetime(2024, 3, 1, 12, 30, 15, 123456, tzinfo=timezone.utc)
    t1 = datetime(2024, 5, 2, 1, 2, 3, 654321, tzinfo=timezone.utc)
    table = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([t0], pa.timestamp("ns", tz="UTC")),
            "seen_at": pa.array([t1], pa.timestamp("ns", tz="UTC")),
            "user_id": pa.array([10], pa.int64()),
            "event_type": pa.array(["click"]),
            "value": pa.array([1.5], pa.float64()),
            "props": pa.array(["{}"]),
        }
    )
    pq.write_table(table, str(sf / "events.parquet"))

    first = load(spark, str(sf), "events")
    for df in (first, load(spark, str(sf), "events")):  # cold, memoized
        assert df.dtypes == first.dtypes
        dt = dict(df.dtypes)
        assert dt["ts"].startswith("timestamp"), dt
        assert dt["seen_at"].startswith("timestamp"), dt
        assert dt["user_id"] == "bigint"  # genuine bigint untouched
        row = df.collect()[0]
        assert row.ts == t0.replace(tzinfo=None)
        assert row.seen_at == t1.replace(tzinfo=None)


def test_cluster_conf_profile():
    """r11 (VERDICT r10 item 9): the 100 TB deployment profile must stay
    consistent with the local factory's incident-derived guards and with
    its own sizing model."""
    from n2khab_mhq_data_spark.session import cluster_conf

    c = cluster_conf(executors=1000, executor_cores=4)
    # the r10 driver-OOM guard must match the local factory exactly
    assert c["spark.sql.adaptive.autoBroadcastJoinThreshold"] == str(
        16 * 1024 * 1024
    )
    assert c["spark.sql.adaptive.enabled"] == "true"
    assert c["spark.sql.adaptive.skewJoin.enabled"] == "true"
    # shuffle partitions = 2 x total cores (AQE can coalesce, never grow)
    assert c["spark.sql.shuffle.partitions"] == "8000"
    # every value must be a string (spark-submit --conf compatible)
    assert all(isinstance(v, str) for v in c.values())
    # scaling: a smaller cluster scales the same model
    small = cluster_conf(executors=10, executor_cores=8)
    assert small["spark.sql.shuffle.partitions"] == "160"
    assert small["spark.executor.memory"] == "32g"
