"""catalog.load's schema memo: only the first load of a table infers its
schema (one Spark job); later loads, and the plan builds on top of them,
launch none — and rewritten data or a changed inference conf infers
again. The benchmark's adhoc builds also stay within a py4j call budget,
and its CRS op runs without a Python worker."""

from __future__ import annotations

import re
import shutil
import threading

import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entrymod
from n2khab_mhq_data_spark.catalog import TESTDATA_TABLES, load

# the ops of the benchmark's adhoc workload, then its publish workload
ADHOC_OPS = (
    "a2_min_max_sum",
    "w2_keep_latest",
    "j6_semi_join",
    "k1_cover_decode",
    "k10_incremental_merge",
    "k11_crs_transform",
    "scd2_user_status",
)
BENCH_OPS = (*ADHOC_OPS, "mhq_publish_pipeline")
# py4j round-trips a warm build of one adhoc op (or of k11_crs_full_datum)
# may make: the builders emit their expressions as SQL text, where a Column
# tree costs hundreds
ADHOC_BUILD_CALLS = 100


def _jobs(spark, group: str, action) -> int:
    """Spark jobs that ``action`` launches, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_plan_build_launches_no_jobs(spark, sf_dir, tmp_path):
    # control: a table this process has never read costs exactly the
    # one inference job, so the counter below does see load()'s jobs
    fresh = str(tmp_path)
    shutil.copy(f"{sf_dir}/region.parquet", f"{fresh}/region.parquet")
    assert _jobs(spark, "cat-cold", lambda: load(spark, fresh, "region")) == 1

    queries = entrymod.queries()
    for table in TESTDATA_TABLES:  # warm up
        load(spark, sf_dir, table)
    for op in BENCH_OPS:
        queries[op](spark, sf_dir)

    loads = {
        t: _jobs(spark, f"cat-load-{t}", lambda t=t: load(spark, sf_dir, t))
        for t in TESTDATA_TABLES
    }
    assert loads == dict.fromkeys(TESTDATA_TABLES, 0)
    builds = {}
    for op in BENCH_OPS:
        build = queries[op]
        builds[op] = _jobs(spark, f"build-{op}", lambda: build(spark, sf_dir))
    assert builds == dict.fromkeys(BENCH_OPS, 0)


def _py4j_calls(spark, action) -> int:
    """py4j round-trips (``send_command`` calls) that ``action`` makes.
    Only this thread's calls count: py4j's finalizer thread sends one
    call per released JVM object of earlier, unrelated frames, at
    whatever moment the garbage collector runs."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    caller = threading.get_ident()
    calls = 0

    def counting(*args, **kwargs):
        nonlocal calls
        calls += threading.get_ident() == caller
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        action()
    finally:
        del client.send_command
    return calls


def test_adhoc_builds_stay_within_py4j_budget(spark, sf_dir):
    queries = entrymod.queries()
    calls = {}
    for op in (*ADHOC_OPS, "k11_crs_full_datum"):
        build = queries[op]
        build(spark, sf_dir)  # warm: the schema memo is filled
        calls[op] = _py4j_calls(spark, lambda: build(spark, sf_dir))
    over = {op: n for op, n in calls.items() if n > ADHOC_BUILD_CALLS}
    assert not over, f"over {ADHOC_BUILD_CALLS} py4j calls: {calls}"


def test_crs_transforms_run_without_python_workers(spark, sf_dir):
    queries = entrymod.queries()
    for op in ("k11_crs_transform", "k11_crs_full_datum"):
        df = queries[op](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"EvalPython|InPandas|InArrow", plan), plan


def test_load_reinfers_rewritten_table(spark, tmp_path):
    """A file rewritten at the same path changes its fingerprint: the next
    load sees the new column instead of the memoized schema."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert load(spark, str(tmp_path), "t").columns == ["a", "b"]
    assert load(spark, str(tmp_path), "t").columns == ["a", "b"]

    pq.write_table(
        pa.table({"a": [1, 2], "b": ["x", "y"], "c": [0.5, 1.5]}), path
    )
    df = load(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b", "c"]
    assert sorted(r.c for r in df.collect()) == [0.5, 1.5]


def test_load_reinfers_when_binary_as_string_flips(spark, tmp_path):
    """spark.sql.parquet.binaryAsString is part of the memo key: flipping
    it re-infers the binary column's type, and flipping it back finds the
    first schema again."""
    conf = "spark.sql.parquet.binaryAsString"
    pq.write_table(
        pa.table({"k": [1, 2], "v": pa.array([b"ab", b"cd"], pa.binary())}),
        str(tmp_path / "t.parquet"),
    )
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert dict(load(spark, str(tmp_path), "t").dtypes)["v"] == "binary"
        spark.conf.set(conf, "true")
        df = load(spark, str(tmp_path), "t")
        assert dict(df.dtypes)["v"] == "string"
        assert sorted(r.v for r in df.collect()) == ["ab", "cd"]
        spark.conf.set(conf, "false")
        assert dict(load(spark, str(tmp_path), "t").dtypes)["v"] == "binary"
    finally:
        spark.conf.set(conf, prev)
