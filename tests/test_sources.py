"""Sink/reader tests: deterministic write_vc (golden hash stability across
partition counts), csv2 locale reader, versioned-TSV round trip."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from n2khab_mhq_data_spark.catalog import ColumnSpec, TableSpec
from n2khab_mhq_data_spark.sources.readers import read_csv2, read_vc
from n2khab_mhq_data_spark.sources.sink import write_vc


def _sample(spark):
    return spark.createDataFrame(
        [
            (2, 1, "b", 2.5, True, "2020-01-03"),
            (1, 1, "a", 1.25, False, "2020-01-01"),
            (1, 2, "c", None, None, None),
        ],
        "plot_id int, mon_cycle int, status string, v double, ok boolean,"
        " d string",
    ).withColumn("d", F.col("d").cast("date"))


def test_write_vc_deterministic_across_partitioning(spark, tmp_path):
    df = _sample(spark)
    m1 = write_vc(df.repartition(1), "t", str(tmp_path / "a"),
                  ["plot_id", "mon_cycle"], partitions=1)
    m2 = write_vc(df.repartition(7), "t", str(tmp_path / "b"),
                  ["plot_id", "mon_cycle"], partitions=3)
    assert m1["data_hash"] == m2["data_hash"]
    a = open(tmp_path / "a" / "t.tsv").read()
    b = open(tmp_path / "b" / "t.tsv").read()
    assert a == b
    # sorted by keys, dates as epoch days, NA for nulls, TRUE/FALSE logicals
    lines = a.strip().split("\n")
    assert lines[0].split("\t")[0] == "plot_id"
    assert lines[1].startswith("1\t1\ta\t1.25\tFALSE\t18262")
    assert lines[2].split("\t")[3] == "NA"


def test_write_vc_read_vc_round_trip(spark, tmp_path):
    df = _sample(spark)
    write_vc(df, "t", str(tmp_path), ["plot_id", "mon_cycle"], partitions=2)
    spec = TableSpec(
        "t",
        [
            ColumnSpec("plot_id", "integer"),
            ColumnSpec("mon_cycle", "integer"),
            ColumnSpec("status", "character"),
            ColumnSpec("v", "numeric"),
            ColumnSpec("ok", "logical"),
            ColumnSpec("d", "Date"),
        ],
    )
    back = read_vc(spark, str(tmp_path / "t.tsv"), spec)
    rows = {tuple(r) for r in back.collect()}
    orig = {tuple(r) for r in df.collect()}
    assert rows == orig


def test_conform_drift_tolerance_under_ansi(spark):
    """conform must yield NULL for malformed values (R coercion / NA),
    not throw — this project runs Spark 4 with ANSI on, where a plain
    cast aborts on the first bad value; drift tolerance is the method's
    entire purpose."""
    spec = TableSpec(
        "t",
        [
            ColumnSpec("plot_id", "integer"),
            ColumnSpec("v", "numeric"),
            ColumnSpec("extra", "character"),
        ],
    )
    df = spark.createDataFrame(
        [("12x", "1.5"), ("7", "oops")], "PLOT_ID string, v string"
    )
    got = {tuple(r) for r in spec.conform(df).collect()}
    assert got == {(None, 1.5, None), (7, None, None)}


def test_read_csv2_locale(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("id;val;name\n1;1,5;x\n2;2,25;y\n")
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("val", T.DoubleType()),
            T.StructField("name", T.StringType()),
        ]
    )
    out = read_csv2(spark, str(p), schema).collect()
    assert {(r.id, r.val, r.name) for r in out} == {(1, 1.5, "x"), (2, 2.25, "y")}


def test_read_csv2_malformed_yields_na(spark, tmp_path):
    """R read_csv2 contract: digit-grouped locale numbers parse, and a
    malformed token restores NA — never an ANSI cast abort of the scan."""
    p = tmp_path / "in.csv"
    p.write_text(
        "id;val;name\n1;1.234,5;x\n2;oops;y\nzz;3,5;z\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("val", T.DoubleType()),
            T.StructField("name", T.StringType()),
        ]
    )
    out = {r.name: (r.id, r.val) for r in read_csv2(spark, str(p), schema).collect()}
    assert out["x"] == (1, 1234.5)      # grouping dot + comma decimal
    assert out["y"] == (2, None)        # malformed numeric -> NA
    assert out["z"] == (None, 3.5)      # malformed int -> NA


def test_write_published_partition_pruning(spark, tmp_path):
    """The partitioned store must let Catalyst prune partitions at plan
    time — asserted on the scan's PartitionFilters, not just the result."""
    from n2khab_mhq_data_spark.sources.sink import write_published

    df = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b"), (3, 2, "c"), (4, 2, "d")],
        "plot_id int, mon_cycle int, v string",
    )
    path = str(tmp_path / "pub")
    write_published(df, path, ["mon_cycle"], ["plot_id"])

    back = spark.read.parquet(path).filter(F.col("mon_cycle") == 2)
    assert {r.plot_id for r in back.collect()} == {3, 4}

    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    # the pruning predicate must reach the scan node
    assert any(
        "mon_cycle" in line
        for line in plan.splitlines()
        if "PartitionFilters" in line
    )


def _derby_seed(spark, db_path: str) -> None:
    """Create an embedded Derby DB (the JDBC stand-in for the reference's
    Firebird/Access/SQL Server sources — same java.sql surface) with a
    MixedCase-named table so the P2 lowercase-conform step is exercised."""
    jvm = spark._jvm
    jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    conn = jvm.java.sql.DriverManager.getConnection(
        f"jdbc:derby:{db_path};create=true"
    )
    try:
        st = conn.createStatement()
        st.execute(
            'CREATE TABLE plots ("PlotID" INT, "PlotName" VARCHAR(20),'
            ' "AreaHa" DOUBLE)'
        )
        ps = conn.prepareStatement("INSERT INTO plots VALUES (?, ?, ?)")
        for pid, name, area in [
            (1, "heath", 2.5),
            (2, "dune", 0.75),
            (3, "marsh", 12.0),
            (4, None, 5.5),
        ]:
            ps.setInt(1, pid)
            if name is None:
                ps.setNull(2, jvm.java.sql.Types.VARCHAR)
            else:
                ps.setString(2, name)
            ps.setDouble(3, area)
            ps.executeUpdate()
        st.close()
    finally:
        conn.close()


def test_read_jdbc_derby_end_to_end(spark, tmp_path):
    """S1-S4 integration: driver dispatch, whole-table fetch, header
    lowercasing, and predicate/column pushdown through a REAL JDBC source
    (reference entry point: query_fieldmap.Rmd:139-154)."""
    from n2khab_mhq_data_spark.sources.readers import read_jdbc

    db = str(tmp_path / "fieldmap_db")
    _derby_seed(spark, db)
    url = f"jdbc:derby:{db}"

    # S4 whole-table fetch + P2 lowercasing of MixedCase headers
    df = read_jdbc(spark, url, table="plots")
    assert df.columns == ["plotid", "plotname", "areaha"]
    rows = {r.plotid: (r.plotname, r.areaha) for r in df.collect()}
    assert rows == {
        1: ("heath", 2.5),
        2: ("dune", 0.75),
        3: ("marsh", 12.0),
        4: (None, 5.5),
    }

    # predicate + column pruning must reach the JDBC scan (the reference
    # hand-writes WHERE clauses into its SQL; Catalyst pushes ours)
    filt = df.filter(F.col("areaha") > 2.0).select("plotid")
    plan = filt._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan" in plan, plan
    assert "PlotName" not in plan  # pruned column never fetched
    assert sorted(r.plotid for r in filt.collect()) == [1, 3, 4]

    # S1-S3 query-option path (the reference's hand-written SQL strings)
    q = read_jdbc(
        spark,
        url,
        query='SELECT "PlotID", "AreaHa" FROM plots WHERE "AreaHa" < 1.0',
    )
    assert q.columns == ["plotid", "areaha"]
    assert [r.plotid for r in q.collect()] == [2]


def test_write_vc_factor_round_trip(spark, tmp_path):
    """git2rdata factor parity: levels serialize as 1-based indices with
    labels/ordered in the yml; read_vc (sidecar-driven, no hand spec)
    restores the labels and the LEVEL ORDER — including levels absent from
    the data."""
    spec = TableSpec(
        "t",
        [
            ColumnSpec("plot_id", "integer"),
            ColumnSpec(
                "status",
                "factor",
                levels=("good", "moderate", "bad", "unknown"),
                ordered=True,
            ),
        ],
        sorting=("plot_id",),
    )
    df = spark.createDataFrame(
        [(1, "bad"), (2, "good"), (3, None), (4, "good")],
        "plot_id int, status string",
    )
    write_vc(df, "t", str(tmp_path), ["plot_id"], spec=spec)

    tsv = open(tmp_path / "t.tsv").read().strip().split("\n")
    # stored as level indices, not labels
    assert tsv[1].split("\t") == ["1", "3"]
    assert tsv[3].split("\t") == ["3", "NA"]
    yml = open(tmp_path / "t.yml").read()
    assert "labels: [good, moderate, bad, unknown]" in yml
    assert "ordered: true" in yml

    from n2khab_mhq_data_spark.sources.sink import read_vc_meta

    back_spec = read_vc_meta(str(tmp_path / "t.yml"))
    fac = [c for c in back_spec.columns if c.name == "status"][0]
    assert fac.levels == ("good", "moderate", "bad", "unknown")
    assert fac.ordered is True

    back = read_vc(spark, str(tmp_path / "t.tsv"))
    rows = {(r.plot_id, r.status) for r in back.collect()}
    assert rows == {(1, "bad"), (2, "good"), (3, None), (4, "good")}


def _published(root) -> dict:
    """Bytes of each file published in ``root``; fails when a write left
    its part-file directory behind."""
    files = {p.name: p.read_bytes() for p in root.iterdir() if p.is_file()}
    assert not list(root.glob("_tmp_*")), "sink left its part files behind"
    return files


def test_write_vc_factor_out_of_domain_fails(spark, tmp_path):
    import pytest

    spec = TableSpec(
        "t",
        [ColumnSpec("s", "factor", levels=("a", "b"))],
        sorting=("s",),
    )
    ok = spark.createDataFrame([("a",), ("b",)], "s string")
    write_vc(ok, "t", str(tmp_path), ["s"], spec=spec)
    before = _published(tmp_path)
    df = spark.createDataFrame([("a",), ("z",)], "s string")
    with pytest.raises(Exception, match="factor level not in spec"):
        write_vc(df, "t", str(tmp_path), ["s"], spec=spec)
    # the failed write cleans up and leaves the published table as it was
    assert _published(tmp_path) == before


def test_write_vc_factor_yaml_unsafe_label_fails(spark, tmp_path):
    """The sidecar's flow-list label format splits on commas; a label with
    YAML-significant characters would corrupt the round-trip silently, so
    write_vc refuses it up front (ADVICE r2)."""
    import pytest

    df = spark.createDataFrame([("x",)], "s string")
    for bad in ("a,b", "a:b", "[a]", " a", "a ", ""):
        spec = TableSpec(
            "t",
            [ColumnSpec("s", "factor", levels=("x", bad))],
            sorting=("s",),
        )
        with pytest.raises(ValueError, match="not yml-safe"):
            write_vc(df, "t", str(tmp_path), ["s"], spec=spec)


def test_write_vc_string_edge_cases_round_trip(spark, tmp_path):
    """Empty strings, embedded quotes/tabs/separators, and NULLs must
    survive write_vc -> read_vc byte-exactly: quotes are DOUBLED
    (RFC 4180 / R qmethod=double, not backslash-escaped), empty keeps
    the quoted "" form (unambiguous vs the unquoted NA null marker)."""
    from n2khab_mhq_data_spark.sources.readers import read_vc
    from n2khab_mhq_data_spark.sources.sink import write_vc as wvc

    vals = [
        (1, ""), (2, 'a"b'), (3, "with\ttab"), (4, None),
        (5, "x,y;z"), (6, "plain"),
    ]
    df = spark.createDataFrame(vals, "k int, s string")
    wvc(df, "edge", str(tmp_path), ["k"])
    tsv = (tmp_path / "edge.tsv").read_text()
    assert '"a""b"' in tsv and "\\" not in tsv  # doubled, not escaped
    back = {
        int(r.k): r.s
        for r in read_vc(spark, str(tmp_path / "edge.tsv")).collect()
    }
    assert back == dict(vals)


def test_write_vc_duplicate_sort_keys_fail(spark, tmp_path):
    """`sorting` must be a TOTAL order (documented contract): duplicate
    sort keys would make the tie order — hence the TSV bytes and the
    data_hash — depend on the incoming partition layout."""
    import pytest

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "k int, v string"
    )
    # the rows ARE writable under a genuinely total order
    out = write_vc(df, "t", str(tmp_path), ["k", "v"])
    assert out["data_hash"]
    before = _published(tmp_path)
    with pytest.raises(ValueError, match="not a total order"):
        write_vc(df, "t", str(tmp_path), ["k"])
    # the failed write cleans up and leaves the published table as it was
    assert _published(tmp_path) == before


def test_write_vc_total_order_check_matches_group_by(spark, tmp_path):
    """The in-write check rejects exactly what a groupBy on the sort keys
    calls a duplicate: NULL keys are equal, and so are NaNs and
    -0.0/0.0. Distinct floating keys still write in Spark's sort order
    (NULL first, NaN last)."""
    import pytest

    nan = float("nan")
    cases = [
        ([(None, 1), (None, 2)], "k int, v int", ["k"]),
        ([(nan, 1), (nan, 2)], "k double, v int", ["k"]),
        ([(-0.0, 1), (0.0, 2)], "k double, v int", ["k"]),
        ([(1, -0.0), (1, 0.0)], "a int, k double", ["a", "k"]),
        ([(None, 1), (0, 2)], "k int, v int", ["k"]),
        ([(nan, 1), (None, 2), (-0.0, 3), (-1.5, 4)], "k double, v int",
         ["k"]),
    ]
    for i, (rows, schema, keys) in enumerate(cases):
        df = spark.createDataFrame(rows, schema)
        dup = df.groupBy(*keys).count().filter(F.col("count") > 1).count()
        if dup:
            with pytest.raises(ValueError, match="not a total order"):
                write_vc(df, f"t{i}", str(tmp_path), keys)
        else:
            write_vc(df, f"t{i}", str(tmp_path), keys)
    assert not list(tmp_path.glob("_tmp_*"))
    lines = (tmp_path / "t5.tsv").read_text().splitlines()
    assert [ln.split("\t")[1] for ln in lines[1:]] == ["2", "4", "3", "1"]


def test_write_vc_floating_keys_stay_sorted(spark, tmp_path):
    """Catalyst normalizes NaN and -0.0 in floating window keys, which the
    range partitioning on the raw keys does not satisfy; the TSV must
    still come out globally sorted across several part files."""
    df = spark.range(2000).select(
        ((F.col("id") * 7919) % 2000 / 7.0 - 100).alias("x"), F.col("id")
    )
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")  # keep every shuffle partition apart
    try:
        write_vc(df, "f", str(tmp_path), ["x"])
    finally:
        spark.conf.set(conf, prev)
    lines = (tmp_path / "f.tsv").read_text().splitlines()[1:]
    xs = [float(ln.split("\t")[0]) for ln in lines]
    assert len(xs) == 2000 and xs == sorted(xs)


def test_write_vc_total_order_check_adds_no_job(spark, tmp_path):
    """The total-order check rides in the write plan: publishing a frame
    whose input has its own shuffles (groupBy + orderBy) launches exactly
    as many Spark jobs as the bare range-sorted write does."""
    from n2khab_mhq_data_spark.sources.sink import _range_ordered

    sc = spark.sparkContext

    def frame():
        # a fresh plan per call: a reused one could skip stages whose
        # shuffle output an earlier action already left behind
        return (
            spark.range(500)
            .select(
                (F.col("id") % 50).alias("k"), (F.col("id") % 7).alias("j")
            )
            .groupBy("k", "j")
            .count()
            .orderBy("k")
        )

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    bare = jobs(
        "sink-bare",
        lambda: _range_ordered(frame(), ["k", "j"], None)
        .write.format("noop").mode("overwrite").save(),
    )
    checked = jobs(
        "sink-write-vc",
        lambda: write_vc(frame(), "t", str(tmp_path), ["k", "j"]),
    )
    assert bare > 0
    assert checked == bare


def test_write_csv2_parallel_deterministic(spark, tmp_path):
    """S9 writes through the same range-partition + streamed-merge path as
    write_vc: no coalesce(1), and the merged bytes are independent of the
    partition count. Locale: ';' separator, ',' decimal mark."""
    from n2khab_mhq_data_spark.sources.sink import write_csv2

    df = spark.createDataFrame(
        [(2, 2.5, "y"), (1, 1.25, "x"), (3, None, None)],
        "id int, v double, s string",
    )
    m1 = write_csv2(df.repartition(1), "e", str(tmp_path / "a"),
                    ["id"], partitions=1)
    m2 = write_csv2(df.repartition(5), "e", str(tmp_path / "b"),
                    ["id"], partitions=3)
    assert m1["data_hash"] == m2["data_hash"]
    a = open(tmp_path / "a" / "e.csv").read()
    assert a == open(tmp_path / "b" / "e.csv").read()
    lines = a.strip().split("\n")
    assert lines[0] == "id;v;s"
    assert lines[1] == "1;1,25;x"
    assert lines[3] == "3;NA;NA"


def test_compact_published_reduces_files(spark, tmp_path):
    """Compaction: a store fragmented by many tiny appends collapses to
    ~1 file per partition, preserves every row, keeps the hive layout
    (partition pruning still works), and swaps atomically."""
    from n2khab_mhq_data_spark.sources.sink import (
        compact_published,
        write_published,
    )

    store = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(c, i, float(i)) for c in (1, 2) for i in range(50)],
        "mon_cycle int, plot_id int, v double",
    )
    write_published(df, store, ["mon_cycle"], sort_keys=["plot_id"])
    # fragment it: 5 tiny appends per cycle (the K10/streaming pattern)
    for k in range(5):
        spark.createDataFrame(
            [(c, 100 + k * 10 + i, 1.0) for c in (1, 2) for i in range(3)],
            "mon_cycle int, plot_id int, v double",
        ).repartition(4).write.mode("append").partitionBy(
            "mon_cycle"
        ).parquet(store)

    before_rows = spark.read.parquet(store).count()
    stats = compact_published(
        spark, store, ["mon_cycle"], target_file_bytes=1 << 30,
        sort_keys=["plot_id"],
    )
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] <= 2  # one per mon_cycle at this size
    after = spark.read.parquet(store)
    assert after.count() == before_rows

    # per-partition bucketing: with a target small enough to split the
    # fat partition, the small partition must STILL collapse to one file
    # (a global bucket count would fragment it by the fat one's count)
    store2 = str(tmp_path / "store2")
    fat = [(1, i, "x" * 200) for i in range(4000)]
    thin = [(2, i, "y") for i in range(5)]
    spark.createDataFrame(
        fat + thin, "mon_cycle int, plot_id int, v string"
    ).repartition(8).write.partitionBy("mon_cycle").parquet(store2)
    fat_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(os.path.join(store2, "mon_cycle=1"))
        for f in fs if f.endswith(".parquet")
    )
    compact_published(
        spark, store2, ["mon_cycle"], target_file_bytes=fat_bytes // 3
    )
    n_files = lambda d: sum(  # noqa: E731
        1 for _r, _d, fs in os.walk(os.path.join(store2, d))
        for f in fs if f.endswith(".parquet")
    )
    assert n_files("mon_cycle=2") == 1
    assert n_files("mon_cycle=1") >= 2
    assert spark.read.parquet(store2).count() == len(fat) + len(thin)
    # partition pruning still applies on the compacted layout
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        after.filter(F.col("mon_cycle") == 1).explain()
    assert "PartitionFilters" in buf.getvalue()


def test_compact_published_recovers_crash_between_renames(
    spark, tmp_path
):
    """A crash after `path -> .old` but before `.tmp -> path` leaves the
    ONLY copy of the data in .old; a documented re-run must RESTORE it,
    not delete it (the old cleanup-up-front rmtree'd both copies)."""
    import shutil

    from n2khab_mhq_data_spark.sources.sink import (
        compact_published,
        write_published,
    )

    store = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(c, i, float(i)) for c in (1, 2) for i in range(20)],
        "mon_cycle int, plot_id int, v double",
    )
    write_published(df, store, ["mon_cycle"], sort_keys=["plot_id"])
    # simulate the crash window: live dir moved aside, tmp half-written
    os.rename(store, store + ".__compact_old__")
    os.makedirs(store + ".__compact_tmp__")
    stats = compact_published(spark, store, ["mon_cycle"])
    assert spark.read.parquet(store).count() == 40  # data survived
    assert stats["files_after"] >= 1
    assert not os.path.exists(store + ".__compact_old__")
    assert not os.path.exists(store + ".__compact_tmp__")
    shutil.rmtree(store)


def test_compact_published_null_partition_buckets(spark, tmp_path):
    """NULL partition values land as __HIVE_DEFAULT_PARTITION__ on disk;
    the bucket-count join must match them so the null partition is
    sized from its own footprint (split when fat), not defaulted to
    one bucket."""
    from n2khab_mhq_data_spark.sources.sink import compact_published

    store = str(tmp_path / "store")
    rows = [(None, i, "x" * 200) for i in range(4000)] + [
        (2, i, "y") for i in range(5)
    ]
    spark.createDataFrame(
        rows, "mon_cycle int, plot_id int, v string"
    ).repartition(8).write.partitionBy("mon_cycle").parquet(store)
    null_dir = os.path.join(store, "mon_cycle=__HIVE_DEFAULT_PARTITION__")
    null_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(null_dir)
        for f in fs if f.endswith(".parquet")
    )
    compact_published(
        spark, store, ["mon_cycle"], target_file_bytes=null_bytes // 3
    )
    n = sum(
        1 for _r, _d, fs in os.walk(null_dir)
        for f in fs if f.endswith(".parquet")
    )
    assert n >= 2, f"null partition collapsed to {n} file(s)"
    assert spark.read.parquet(store).count() == 4005


def test_snapshot_store_time_travel_and_isolation(spark, tmp_path):
    """Append-only snapshot log: AS-OF reads return each version's
    exact content, a later publish never perturbs an earlier version,
    the latest-read follows the manifest log, and unmanifested
    versions are unreadable."""
    import pytest

    from n2khab_mhq_data_spark.sources.snapshots import (
        read_snapshot,
        snapshot_log,
        verify_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "store")
    df1 = spark.range(10).withColumnRenamed("id", "k")
    df2 = spark.range(25).withColumnRenamed("id", "k")
    assert write_snapshot(df1, path) == 1
    v1_rows = sorted(r.k for r in read_snapshot(spark, path).collect())
    assert write_snapshot(df2, path) == 2
    # time travel: v1 unchanged after v2's publish
    assert sorted(
        r.k for r in read_snapshot(spark, path, 1).collect()
    ) == v1_rows == list(range(10))
    assert read_snapshot(spark, path).count() == 25  # latest = v2
    verify_snapshot(spark, path, 1)
    verify_snapshot(spark, path, 2)
    log = {r.version: (r.n_rows, r.parent)
           for r in snapshot_log(spark, path).collect()}
    assert log == {1: (10, None), 2: (25, 1)}
    with pytest.raises(ValueError, match="not in manifest log"):
        read_snapshot(spark, path, 3)
    with pytest.raises(ValueError, match="no snapshot versions"):
        read_snapshot(spark, str(tmp_path / "missing"))


def test_snapshot_torn_write_invisible_and_drift_detected(spark, tmp_path):
    """A version directory without its manifest (a torn write) must be
    invisible to readers; out-of-band edits to stored data must fail
    verify_snapshot loudly."""
    import json
    import os

    import pytest

    from n2khab_mhq_data_spark.sources.snapshots import (
        read_snapshot,
        verify_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "store")
    write_snapshot(spark.range(5), path)
    # simulate a torn second publish: data lands, manifest never does
    spark.range(99).write.parquet(os.path.join(path, "v=2"))
    assert read_snapshot(spark, path).count() == 5  # latest is still v1
    with pytest.raises(ValueError, match="not in manifest log"):
        read_snapshot(spark, path, 2)
    # bit-rot: corrupt the manifest hash -> verify fails loudly
    mf = os.path.join(path, "_manifests", "1.json")
    m = json.load(open(mf))
    m["content_hash"] = (m["content_hash"] + 1) % (1 << 64)
    json.dump(m, open(mf, "w"))
    with pytest.raises(ValueError, match="drifted from its manifest"):
        verify_snapshot(spark, path, 1)


def test_snapshot_store_recovers_from_torn_publish(spark, tmp_path):
    """An orphaned UNMANIFESTED v=<n> dir (crash between parquet write
    and manifest rename) must not brick the store: the next
    write_snapshot clears the garbage and publishes v=<n> cleanly."""
    from n2khab_mhq_data_spark.sources.snapshots import (
        read_snapshot,
        verify_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "store")
    write_snapshot(spark.range(5), path)
    spark.range(99).write.parquet(os.path.join(path, "v=2"))  # torn
    assert write_snapshot(spark.range(7), path) == 2
    assert read_snapshot(spark, path, 2).count() == 7  # not the orphan's 99
    verify_snapshot(spark, path, 2)


def test_snapshot_optimize_rollback_leaves_no_orphan(
    spark, tmp_path, monkeypatch
):
    """optimize_snapshot's drift rollback must remove BOTH the manifest
    and the data dir, so the store stays writable afterwards."""
    import pytest

    from n2khab_mhq_data_spark.sources import snapshots as S

    path = str(tmp_path / "store")
    S.write_snapshot(spark.range(10), path)
    real = S._content_stats
    monkeypatch.setattr(
        S, "_content_stats", lambda df: tuple(x + 1 for x in real(df))
    )
    with pytest.raises(ValueError, match="content drift"):
        S.optimize_snapshot(spark, path, n_files=1)
    monkeypatch.setattr(S, "_content_stats", real)
    assert not os.path.isdir(os.path.join(path, "v=2"))  # no orphan
    assert S.write_snapshot(spark.range(3), path) == 2  # still writable
    assert S.read_snapshot(spark, path).count() == 3


def test_snapshot_prune_keeps_newest(spark, tmp_path):
    import pytest

    from n2khab_mhq_data_spark.sources.snapshots import (
        prune_snapshots,
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "store")
    for n in (3, 6, 9):
        write_snapshot(spark.range(n), path)
    assert prune_snapshots(path, keep_last=2) == [1]
    assert read_snapshot(spark, path, 2).count() == 6
    assert read_snapshot(spark, path).count() == 9
    with pytest.raises(ValueError, match="not in manifest log"):
        read_snapshot(spark, path, 1)


def test_snapshot_merge_publish(spark, tmp_path):
    """merge_snapshot: latest-wins upsert lands as a NEW version; the
    parent is byte-level untouched; updates override, inserts append."""
    from pyspark.sql import functions as F

    from n2khab_mhq_data_spark.sources.snapshots import (
        merge_snapshot,
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "store")
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], "k int, v string, rev int"
    )
    write_snapshot(base, path)
    delta = spark.createDataFrame(
        [(2, "B", 2), (9, "z", 2)], "k int, v string, rev int"
    )
    assert merge_snapshot(path, delta, ["k"], [F.col("rev").desc()]) == 2
    v2 = {r.k: r.v for r in read_snapshot(spark, path, 2).collect()}
    assert v2 == {1: "a", 2: "B", 3: "c", 9: "z"}
    v1 = {r.k: r.v for r in read_snapshot(spark, path, 1).collect()}
    assert v1 == {1: "a", 2: "b", 3: "c"}


def test_snapshot_diff_insert_update_delete(spark, tmp_path):
    from n2khab_mhq_data_spark.sources.snapshots import (
        snapshot_diff,
        write_snapshot,
    )

    path = str(tmp_path / "store")
    write_snapshot(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
        ),
        path,
    )
    write_snapshot(
        spark.createDataFrame(
            [(1, "a"), (2, "B"), (9, "z")], "k int, v string"
        ),
        path,
    )
    got = {
        (r.k, r.op)
        for r in snapshot_diff(spark, path, 1, 2, ["k"]).collect()
    }
    assert got == {(2, "update"), (3, "delete"), (9, "insert")}
    # reverse direction flips insert/delete
    rev = {
        (r.k, r.op)
        for r in snapshot_diff(spark, path, 2, 1, ["k"]).collect()
    }
    assert rev == {(2, "update"), (3, "insert"), (9, "delete")}


def test_snapshot_optimize_preserves_content_hash(spark, tmp_path):
    """OPTIMIZE-style compaction publishes a NEW version whose
    order-insensitive content hash must EQUAL its parent's (layout
    changed, content provably not); file count shrinks; parent stays
    readable; a drift-producing rewrite would roll back."""
    import glob
    import os

    from n2khab_mhq_data_spark.sources.snapshots import (
        optimize_snapshot,
        read_snapshot,
        snapshot_log,
        write_snapshot,
    )

    path = str(tmp_path / "store")
    df = spark.range(1000).select(
        (F.col("id") % 37).alias("x"),
        (F.col("id") % 23).alias("y"),
        F.col("id").alias("payload"),
    ).repartition(16)
    write_snapshot(df, path)
    n_before = len(glob.glob(os.path.join(path, "v=1", "part-*")))
    assert n_before >= 8
    v = optimize_snapshot(spark, path, n_files=2, zorder_cols=["x", "y"])
    assert v == 2
    n_after = len(glob.glob(os.path.join(path, "v=2", "part-*")))
    assert n_after <= 2
    log = {r.version: r.content_hash
           for r in snapshot_log(spark, path).collect()}
    assert log[1] == log[2]  # bit-identical content despite re-layout
    a = sorted(tuple(r) for r in read_snapshot(spark, path, 1).collect())
    b = sorted(tuple(r) for r in read_snapshot(spark, path, 2).collect())
    assert a == b


def test_jsonl_roundtrip_and_corrupt_capture(spark, tmp_path):
    from pyspark.sql import functions as F

    from n2khab_mhq_data_spark.sources.jsonl import (
        read_jsonl,
        split_corrupt,
        write_jsonl,
    )

    df = spark.createDataFrame(
        [(1, 'with "quotes"', 10), (2, "newline\\n literal", 20),
         (3, "plain", None)],
        "id long, txt string, v long",
    )
    path = str(tmp_path / "out")
    write_jsonl(df, path, order_by=["id"], n_shards=2)
    back = read_jsonl(spark, path, "id long, txt string, v long")
    good, bad = split_corrupt(back)
    assert bad.count() == 0
    got = {r.id: (r.txt, r.v) for r in good.collect()}
    assert got == {1: ('with "quotes"', 10),
                   2: ("newline\\n literal", 20), 3: ("plain", None)}

    # determinism: a second write from a differently-partitioned frame
    # yields byte-identical shards
    import hashlib
    import os

    def shard_hashes(p):
        return sorted(
            hashlib.md5(open(os.path.join(p, f), "rb").read()).hexdigest()
            for f in os.listdir(p) if f.startswith("part-")
        )

    path2 = str(tmp_path / "out2")
    write_jsonl(df.repartition(7), path2, order_by=["id"], n_shards=2)
    assert shard_hashes(path) == shard_hashes(path2)

    # corrupt line lands in the corrupt column, not silently dropped
    with open(os.path.join(path, "broken.json"), "w") as fh:
        fh.write('{"id": 4, "txt": "ok", "v": 1}\n{not json at all\n')
    back2 = read_jsonl(spark, path, "id long, txt string, v long")
    good2, bad2 = split_corrupt(back2)
    assert good2.count() == 4
    assert bad2.collect()[0]._corrupt_record.startswith("{not json")


def test_orc_roundtrip_pushdown_and_exactness(spark, sf_dir):
    """The ORC scan must show the pushed n_chars predicate in its plan
    and reproduce the parquet rows exactly."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["s12_orc_roundtrip"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ORC" in plan or "orc" in plan
    assert "n_chars" in plan  # predicate reached the scan
    from n2khab_mhq_data_spark.catalog import load

    src = load(spark, sf_dir, "documents").filter("n_chars >= 200")
    assert df.count() == src.count()
    got = {r["doc_id"]: r["text"] for r in df.collect()}
    for r in src.collect():
        assert got[r["doc_id"]] == r["text"]


def test_snapshot_changes_before_after_images(spark, tmp_path):
    from n2khab_mhq_data_spark.sources.snapshots import (
        snapshot_changes,
        write_snapshot,
    )

    path = str(tmp_path / "store")
    write_snapshot(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
            "k int, v string, w int",
        ),
        path,
    )
    write_snapshot(
        spark.createDataFrame(
            [(1, "a", 10), (2, "B", 25), (9, "z", 90)],
            "k int, v string, w int",
        ),
        path,
    )
    got = {
        r.k: (r.op, r.old_v, r.old_w, r.new_v, r.new_w)
        for r in snapshot_changes(spark, path, 1, 2, ["k"]).collect()
    }
    assert got == {
        2: ("update", "b", 20, "B", 25),
        3: ("delete", "c", 30, None, None),
        9: ("insert", None, None, "z", 90),
    }


def test_jsonl_blank_lines_quarantined(spark, tmp_path):
    """Blank/whitespace-only lines and the bare JSON literal `null` must
    land in the corrupt leg, not as phantom all-null GOOD rows."""
    from n2khab_mhq_data_spark.sources.jsonl import read_jsonl, split_corrupt

    p = tmp_path / "x.jsonl"
    p.write_text('{"a":1}\n\n{"a":2}\nnull\n   \n{bad\n')
    good, bad = split_corrupt(read_jsonl(spark, str(p), "a long"))
    assert sorted(r.a for r in good.collect()) == [1, 2]
    assert bad.count() == 4


def test_write_jsonl_shard_parallelism_and_total_order(spark, tmp_path):
    """Each shard id must land in its OWN partition (one part file per
    shard, none empty when every shard has rows) — repartition(n, col)
    alone re-hashes the id and collides shards onto few tasks. And the
    write_vc total-order posture: duplicate sort keys fail fast."""
    import glob
    import os

    import pytest as _pytest

    from n2khab_mhq_data_spark.sources.jsonl import read_jsonl, write_jsonl

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("grp")
    )
    path = str(tmp_path / "sharded")
    # n_shards beyond 2: the probe hashes LONG range ids, so the token
    # literals must be long too — an int-typed token re-hash routed
    # 3 shards into 2 files and 8 into 5 (Murmur3 int32 != int64)
    for n in (2, 3, 8):
        p_n = str(tmp_path / f"sharded_{n}")
        write_jsonl(df, p_n, order_by=["id"], n_shards=n)
        sizes_n = [
            os.path.getsize(p)
            for p in sorted(glob.glob(os.path.join(p_n, "part-*")))
        ]
        assert len([s for s in sizes_n if s > 0]) == n, (n, sizes_n)
    write_jsonl(df, path, order_by=["id"], n_shards=2)
    parts = sorted(glob.glob(os.path.join(path, "part-*")))
    sizes = [os.path.getsize(p) for p in parts]
    assert len([s for s in sizes if s > 0]) == 2, sizes
    # same bytes on rewrite from a different partitioning
    import hashlib

    def digest():
        h = hashlib.sha256()
        for p in sorted(glob.glob(os.path.join(path, "part-*"))):
            h.update(open(p, "rb").read())
        return h.hexdigest()

    d1 = digest()
    write_jsonl(df.repartition(13), path, order_by=["id"], n_shards=2)
    assert digest() == d1
    back = read_jsonl(spark, path, "id long, grp long")
    assert back.count() == 1000
    with _pytest.raises(ValueError, match="total order"):
        write_jsonl(df, path, order_by=["grp"], n_shards=2)


def test_read_jsonl_strict_rejects_blank_lines(spark, tmp_path):
    """The JSON datasource silently skips blank lines; the strict reader
    must account for every physical line and abort instead."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from n2khab_mhq_data_spark.sources.jsonl import read_jsonl_strict

    p = tmp_path / "strict.jsonl"
    p.write_text('{"a": 1}\n\n   \n{"a": 2}\n')
    with _pytest.raises((SparkRuntimeException, Py4JJavaError)):
        read_jsonl_strict(spark, str(p), "a long").collect()
    ok = tmp_path / "ok.jsonl"
    ok.write_text('{"a": 1}\n{"a": 2}\n')
    got = sorted(
        r["a"] for r in read_jsonl_strict(spark, str(ok), "a long").collect()
    )
    assert got == [1, 2]


def test_optimize_snapshot_zorder_normalizes_raw_domains(spark, tmp_path):
    """Raw wide-domain columns (epoch micros, surrogate ids) must be
    rescaled into the z-order grid: without normalization the
    interleave keys on value mod 128 and every output file spans the
    whole domain (no pruning). With it, at least the edge files cover
    a fraction of the x-domain."""
    import glob
    import os

    from n2khab_mhq_data_spark.sources.snapshots import (
        optimize_snapshot,
        read_snapshot,
        snapshot_log,
        write_snapshot,
    )

    df = spark.range(4096).select(
        (F.col("id") * 244140625).alias("ts_us"),  # ~1e12 domain
        F.pmod(F.col("id") * 2654435761, F.lit(10**12)).alias("key"),
        F.col("id").alias("payload"),
    ).repartition(8)
    path = str(tmp_path / "store")
    write_snapshot(df, path)
    v = optimize_snapshot(
        spark, path, n_files=4, zorder_cols=["ts_us", "key"]
    )
    assert v == 2
    log = {r.version: r.content_hash
           for r in snapshot_log(spark, path).collect()}
    assert log[1] == log[2]
    # per-file x spans: with mod-128 aliasing every file spans ~the full
    # domain; with normalization the range partition on z confines at
    # least half the files to < 80% of it
    spans = []
    for f in sorted(glob.glob(os.path.join(path, "v=2", "part-*"))):
        pf = spark.read.parquet(f)
        lo, hi = pf.agg(F.min("ts_us"), F.max("ts_us")).first()
        spans.append(hi - lo)
    domain = 4095 * 244140625
    assert len(spans) >= 2
    assert sum(1 for s in spans if s < 0.8 * domain) >= len(spans) // 2, (
        spans, domain,
    )


def test_optimize_snapshot_zorder_null_coords_land_in_cell_zero(
    spark, tmp_path
):
    """A NULL coordinate must land in grid cell 0, not silently in the
    far-corner cell: F.least SKIPS nulls, so an un-coalesced NULL frac
    returned lim (127). Layout-only (content hash still verifies), so
    pin it by checking the NULL rows share a file with the low-x rows,
    not with the max-x rows."""
    import glob
    import os

    from n2khab_mhq_data_spark.sources.snapshots import (
        optimize_snapshot,
        write_snapshot,
    )

    rows = [(float(i), float(i), i) for i in range(512)] + [
        (None, None, 1000 + i) for i in range(8)
    ]
    df = spark.createDataFrame(
        rows, "x double, y double, payload long"
    ).repartition(4)
    path = str(tmp_path / "store")
    write_snapshot(df, path)
    optimize_snapshot(spark, path, n_files=4, zorder_cols=["x", "y"])
    null_file = low_file = high_file = None
    for f in sorted(glob.glob(os.path.join(path, "v=2", "part-*"))):
        pf = spark.read.parquet(f)
        if pf.filter(F.col("x").isNull()).count() > 0:
            null_file = f
        if pf.filter(F.col("x") == 0.0).count() > 0:
            low_file = f
        if pf.filter(F.col("x") == 511.0).count() > 0:
            high_file = f
    assert null_file is not None
    assert null_file == low_file, (null_file, low_file)
    assert null_file != high_file, (null_file, high_file)


def test_zorder_layout_stats_null_coordinates_raise(spark):
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from n2khab_mhq_data_spark.spatial.zorder import zorder_layout_stats

    pts = spark.createDataFrame(
        [(None, 5.0), (1.0, 1.0)], "x double, y double"
    )
    with _pytest.raises(SparkRuntimeException, match="outside"):
        zorder_layout_stats(pts).collect()


def test_rangejoin_reserved_bucket_columns_raise(spark):
    import pytest as _pytest

    from n2khab_mhq_data_spark.operators.rangejoin import (
        interval_overlap_join_binned,
        range_join_bucketed,
    )

    pts = spark.createDataFrame([(1, 5, 0)], "k int, t long, _b int")
    iv = spark.createDataFrame([(1, 0, 9)], "k int, s long, e long")
    with _pytest.raises(ValueError, match="_b"):
        range_join_bucketed(pts, iv, "k", "t", "s", "e", 10)
    a = spark.createDataFrame([(0, 9, 1)], "s1 long, e1 long, _bin int")
    b = spark.createDataFrame([(5, 14,)], "s2 long, e2 long")
    with _pytest.raises(ValueError, match="_bin"):
        interval_overlap_join_binned(a, b, "s1", "e1", "s2", "e2", 10)


def test_ewma_rejects_null_values(spark):
    import pytest as _pytest

    from n2khab_mhq_data_spark.operators.timeseries import ewma

    df = spark.createDataFrame(
        [(1, 1, 1.0), (1, 2, None), (1, 3, 2.0)],
        "k int, t int, v double",
    )
    with _pytest.raises(Exception, match="undefined at missing"):
        ewma(df, ["k"], ["t"], "v").collect()


def test_read_csv2_and_vc_embedded_newlines_round_trip(spark, tmp_path):
    """Quoted fields containing newlines (which write_csv2/write_vc
    legitimately emit per RFC 4180) must read back as ONE record —
    without multiLine the scan splits them into corrupt rows."""
    from n2khab_mhq_data_spark.sources.readers import read_csv2, read_vc
    from n2khab_mhq_data_spark.sources.sink import write_csv2, write_vc

    df = spark.createDataFrame(
        [(1, "a\nb", 1.5), (2, "plain", 2.5)],
        "id long, remark string, x double",
    )
    root = str(tmp_path)
    write_csv2(df, "t_csv", root, sorting=["id"])
    back = read_csv2(spark, f"{root}/t_csv.csv", df.schema)
    rows = {r.id: (r.remark, r.x) for r in back.collect()}
    assert rows == {1: ("a\nb", 1.5), 2: ("plain", 2.5)}
    write_vc(df, "t_vc", root, ["id"])
    backv = read_vc(spark, f"{root}/t_vc.tsv")
    rowsv = {r.id: (r.remark, r.x) for r in backv.collect()}
    assert rowsv == {1: ("a\nb", 1.5), 2: ("plain", 2.5)}


def test_read_vc_factor_malformed_indices_restore_na(spark, tmp_path):
    """Hand-edited factor tokens '0', past-the-end, and negatives must
    restore as NA — not abort under ANSI ('0', '7') or silently decode
    from the END of the level list ('-1')."""
    from n2khab_mhq_data_spark.sources.readers import read_vc
    from n2khab_mhq_data_spark.sources.sink import write_vc

    df = spark.createDataFrame(
        [(1, "lo"), (2, "hi"), (3, "mid")], "id long, grade string"
    )
    root = str(tmp_path)
    spec = TableSpec(
        "t",
        [
            ColumnSpec("id", "integer"),
            ColumnSpec("grade", "factor", levels=("lo", "mid", "hi")),
        ],
        sorting=("id",),
    )
    write_vc(df, "t", root, ["id"], spec=spec)
    tsv = f"{root}/t.tsv"
    lines = open(tsv).read().splitlines()
    # corrupt the three factor index tokens in place
    body = [lines[0]]
    for tok, line in zip(["0", "7", "-1"], lines[1:]):
        rid, _ = line.split("\t")
        body.append(f"{rid}\t{tok}")
    open(tsv, "w").write("\n".join(body) + "\n")
    back = {r.id: r.grade for r in read_vc(spark, tsv).collect()}
    assert back == {1: None, 2: None, 3: None}


def test_read_vc_logical_optimized_storage(spark, tmp_path):
    """Genuine git2rdata OPTIMIZED storage encodes logicals as 0/1
    integers (like its Date-as-int and factor-as-index); the reader
    must decode both spellings, not just this sink's verbose
    TRUE/FALSE."""
    from n2khab_mhq_data_spark.sources.readers import read_vc
    from n2khab_mhq_data_spark.sources.sink import write_vc

    df = spark.createDataFrame(
        [(1, True), (2, False), (3, None)], "id long, flag boolean"
    )
    root = str(tmp_path)
    write_vc(df, "t", root, ["id"])
    tsv = f"{root}/t.tsv"
    lines = open(tsv).read().splitlines()
    remap = {"TRUE": "1", "FALSE": "0"}
    body = [lines[0]] + [
        "\t".join(remap.get(tok, tok) for tok in line.split("\t"))
        for line in lines[1:]
    ]
    open(tsv, "w").write("\n".join(body) + "\n")
    back = {r.id: r.flag for r in read_vc(spark, tsv).collect()}
    assert back == {1: True, 2: False, 3: None}


def test_read_vc_rejects_non_tsv_path(spark):
    import pytest as _pytest

    from n2khab_mhq_data_spark.sources.readers import read_vc

    with _pytest.raises(ValueError, match="expects a .tsv path"):
        read_vc(spark, "/tmp/whatever.TSV")


def test_snapshot_diff_null_position_shift_detected(spark, tmp_path):
    """xxhash64 skips NULL children, so (5, NULL) -> (NULL, 5) hashed
    identically and the update was silently missed; the
    null-position-sensitive hash must report it."""
    from n2khab_mhq_data_spark.sources.snapshots import (
        snapshot_diff,
        write_snapshot,
    )

    path = str(tmp_path / "store")
    v1 = spark.createDataFrame([(1, 5, None)], "k long, x int, y int")
    v2 = spark.createDataFrame([(1, None, 5)], "k long, x int, y int")
    write_snapshot(v1, path)
    write_snapshot(v2, path)
    ops = snapshot_diff(spark, path, 1, 2, ["k"]).collect()
    assert [(r["k"], r["op"]) for r in ops] == [(1, "update")]


def test_snapshot_diff_schema_evolution(spark, tmp_path):
    """The write path tolerates schema drift, so the diff must too:
    added and dropped columns participate in the compare instead of
    crashing (added) or being silently excluded (dropped)."""
    from n2khab_mhq_data_spark.sources.snapshots import (
        snapshot_changes,
        snapshot_diff,
        write_snapshot,
    )

    path = str(tmp_path / "store")
    v1 = spark.createDataFrame([(1, "a", 9)], "k long, s string, gone int")
    v2 = spark.createDataFrame([(1, "a", 7.5)], "k long, s string, score double")
    write_snapshot(v1, path)
    write_snapshot(v2, path)
    ops = snapshot_diff(spark, path, 1, 2, ["k"]).collect()
    assert [(r["k"], r["op"]) for r in ops] == [(1, "update")]
    ch = snapshot_changes(spark, path, 1, 2, ["k"]).collect()[0]
    assert ch["old_gone"] == 9 and ch["new_gone"] is None
    assert ch["old_score"] is None and ch["new_score"] == 7.5


def test_snapshot_diff_keys_only_table(spark, tmp_path):
    """Insert/delete diffs are well-defined for a keys-only table; the
    zero-argument xxhash64 previously failed analysis."""
    from n2khab_mhq_data_spark.sources.snapshots import (
        snapshot_diff,
        write_snapshot,
    )

    path = str(tmp_path / "store")
    write_snapshot(spark.createDataFrame([(1,), (2,)], "k long"), path)
    write_snapshot(spark.createDataFrame([(2,), (3,)], "k long"), path)
    ops = sorted(
        (r["k"], r["op"])
        for r in snapshot_diff(spark, path, 1, 2, ["k"]).collect()
    )
    assert ops == [(1, "delete"), (3, "insert")]
