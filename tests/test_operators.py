"""Unit tests for the operator library (grain assertions, keyed dedup,
membership flags, reshape)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from n2khab_mhq_data_spark.operators.relational import (
    GrainViolation,
    assert_grain,
    dedup_keep_latest,
    duplicates,
    membership_flag,
    patch_rows,
)
from n2khab_mhq_data_spark.operators.reshape import melt, pivot_wide, split_column


@pytest.fixture()
def plots(spark):
    return spark.createDataFrame(
        [
            (1, 1, "done", 10),
            (1, 1, "planned", 5),
            (1, 2, "done", 20),
            (2, 1, "done", 7),
        ],
        "plot_id int, mon_cycle int, status string, date_status int",
    )


def test_duplicates(plots):
    d = duplicates(plots, ["plot_id", "mon_cycle"]).collect()
    assert len(d) == 2
    assert all(r.plot_id == 1 and r.mon_cycle == 1 for r in d)


def test_assert_grain_raises(plots):
    with pytest.raises(GrainViolation):
        assert_grain(plots, ["plot_id", "mon_cycle"])
    assert_grain(plots.filter("status = 'done'"), ["plot_id", "mon_cycle"])


def test_dedup_keep_latest(plots):
    out = dedup_keep_latest(
        plots,
        ["plot_id", "mon_cycle"],
        ["date_status DESC", "status"],
    )
    rows = {(r.plot_id, r.mon_cycle): r.status for r in out.collect()}
    assert rows[(1, 1)] == "done"  # date 10 beats 5
    assert len(rows) == 3


def test_membership_flag(spark, plots):
    other = spark.createDataFrame([(1,)], "plot_id int")
    out = membership_flag(plots, other, "plot_id", "plot_id", "known")
    vals = {(r.plot_id, r.known) for r in out.collect()}
    assert (1, True) in vals and (2, False) in vals


def test_patch_rows(plots):
    out = patch_rows(
        plots, [(F.col("plot_id") == 1) & (F.col("status") == "planned")]
    )
    assert out.count() == 3


def test_melt_round_trip(spark):
    df = spark.createDataFrame([(1, 2.0, 3.0)], "id int, a double, b double")
    long = melt(df, ids=["id"], values=["a", "b"])
    assert {tuple(r) for r in long.collect()} == {(1, "a", 2.0), (1, "b", 3.0)}
    wide = pivot_wide(
        long, ids=["id"], key="variable", agg=F.first("value"), values=["a", "b"]
    )
    assert wide.collect()[0].asDict() == {"id": 1, "a": 2.0, "b": 3.0}


def test_split_column(spark):
    df = spark.createDataFrame([("1-URGENT",)], "p string")
    out = split_column(df, "p", into=["rank", "label"], sep="-")
    assert out.collect()[0].asDict() == {"rank": "1", "label": "URGENT"}


def test_input_version_pinning(spark, tmp_path):
    """§5 audit family: file-level md5 pin (reference
    check_observed_habitat_type.Rmd:106-113) and the dataset-scale
    fingerprint analog."""
    import hashlib

    import pytest

    from n2khab_mhq_data_spark.operators.pinning import (
        InputVersionMismatch,
        assert_input_version,
        dataset_fingerprint,
        pin_dataset_version,
        pin_file_version,
    )
    from pyspark.sql import functions as F

    p = tmp_path / "layer.bin"
    p.write_bytes(b"habitatmap v1 contents")
    good = hashlib.md5(b"habitatmap v1 contents").hexdigest()

    (row,) = pin_file_version(spark, str(p), good, "v1").collect()
    assert row.match is True and row.md5_file == good
    (row,) = pin_file_version(spark, str(p), "0" * 32, "v1").collect()
    assert row.match is False

    assert_input_version(spark, str(p), good, "v1")  # no raise
    with pytest.raises(InputVersionMismatch, match="v1"):
        assert_input_version(spark, str(p), "0" * 32, "v1")

    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "x"), (3, "c", "y")],
        "id long, txt string, shard string",
    )
    fp = dataset_fingerprint(df, cols=["id", "txt"], group_by=["shard"])
    rows = {r.shard: (r.fingerprint, r.n_rows) for r in fp.collect()}
    assert rows["x"][1] == 2 and rows["y"][1] == 1
    # order-insensitive: same rows, different order -> same fingerprint
    df2 = spark.createDataFrame(
        [(2, "b", "x"), (1, "a", "x"), (3, "c", "y")],
        "id long, txt string, shard string",
    )
    rows2 = {
        r.shard: r.fingerprint
        for r in dataset_fingerprint(
            df2, cols=["id", "txt"], group_by=["shard"]
        ).collect()
    }
    assert rows2 == {s: f for s, (f, _) in rows.items()}
    # content-sensitive: one changed character flips the fingerprint
    df3 = spark.createDataFrame(
        [(1, "a", "x"), (2, "B", "x"), (3, "c", "y")],
        "id long, txt string, shard string",
    )
    rows3 = {
        r.shard: r.fingerprint
        for r in dataset_fingerprint(
            df3, cols=["id", "txt"], group_by=["shard"]
        ).collect()
    }
    assert rows3["x"] != rows["x"][0] and rows3["y"] == rows["y"][0]

    recorded = spark.createDataFrame(
        [
            ("x", rows["x"][0]),
            ("y", rows["y"][0] ^ 1),
            # pinned shard with NO data rows: must fail CLOSED
            ("z", 12345),
        ],
        "shard string, fingerprint_expected long",
    )
    out = {
        r.shard: (r.match, r.n_rows)
        for r in pin_dataset_version(
            df, recorded, ["shard"], cols=["id", "txt"]
        ).collect()
    }
    assert out["x"] == (True, 2)
    assert out["y"] == (False, 1)
    assert out["z"] == (False, 0)  # vanished input is flagged, not dropped

    # unpinned shard in the data also fails closed
    partial = spark.createDataFrame(
        [("x", rows["x"][0])], "shard string, fingerprint_expected long"
    )
    out2 = {
        r.shard: r.match
        for r in pin_dataset_version(
            df, partial, ["shard"], cols=["id", "txt"]
        ).collect()
    }
    assert out2 == {"x": True, "y": False}

    # NULL values participate via the explicit sentinel: a null-bearing
    # row changes the fingerprint (concat_ws alone would drop it)
    dfn = spark.createDataFrame(
        [(1, "a", "x"), (2, None, "x"), (3, "c", "y")],
        "id long, txt string, shard string",
    )
    fpn = {
        r.shard: r.fingerprint
        for r in dataset_fingerprint(
            dfn, cols=["id", "txt"], group_by=["shard"]
        ).collect()
    }
    assert fpn["x"] != rows["x"][0] and fpn["y"] == rows["y"][0]


def test_salted_join_equals_plain_join(spark):
    from n2khab_mhq_data_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(k, v) for v, k in enumerate(["hot"] * 50 + ["a", "b", "c"])],
        "k string, v int",
    )
    dim = spark.createDataFrame(
        [("hot", 1), ("a", 2), ("b", 3), ("z", 9)], "k string, attr int"
    )
    got = sorted(
        tuple(r)
        for r in salted_join(fact, dim, ["k"], buckets=4).collect()
    )
    want = sorted(tuple(r) for r in fact.join(dim, ["k"]).collect())
    assert got == want

    got_l = sorted(
        tuple(r)
        for r in salted_join(
            fact, dim, ["k"], buckets=4, how="left"
        ).collect()
    )
    want_l = sorted(
        tuple(r) for r in fact.join(dim, ["k"], "left").collect()
    )
    assert got_l == want_l


def test_ewma_hand_computed(spark):
    from n2khab_mhq_data_spark.operators.timeseries import ewma

    df = spark.createDataFrame(
        [("u", 1, 4.0), ("u", 2, 8.0), ("u", 3, 0.0), ("v", 1, 2.0)],
        "k string, t int, v double",
    )
    got = {
        (r.k, r.t): r.ewma
        for r in ewma(df, ["k"], ["t"], "v", alpha=0.5).collect()
    }
    # s1=4, s2=.5*8+.5*4=6, s3=.5*0+.5*6=3; v: s1=2
    assert got[("u", 1)] == 4.0
    assert got[("u", 2)] == 6.0
    assert got[("u", 3)] == 3.0
    assert got[("v", 1)] == 2.0


def test_scd2_history_collapses_noop_changes(spark):
    from n2khab_mhq_data_spark.operators.scd import scd2_history

    df = spark.createDataFrame(
        [
            ("k", "a", 1, 10),
            ("k", "a", 2, 11),   # no-op -> collapsed
            ("k", "b", 3, 12),
            ("k", "a", 4, 13),   # back to a -> NEW interval
            ("x", None, 1, 14),  # null state must survive null-safe lag
            ("x", "c", 2, 15),
        ],
        "k string, state string, ts int, eid int",
    )
    out = scd2_history(df, ["k"], ["state"], "ts", ["eid"])
    rows = sorted(
        (
            (r.k, r.state or "", r.valid_from),
            (r.k, r.state, r.valid_from, r.valid_to, r.is_current),
        )
        for r in out.collect()
    )
    assert [r[1] for r in rows] == [
        ("k", "a", 1, 3, False),
        ("k", "a", 4, None, True),
        ("k", "b", 3, 4, False),
        ("x", None, 1, 2, False),
        ("x", "c", 2, None, True),
    ]


def test_global_rank_matches_single_partition_window(spark):
    from pyspark.sql import functions as F

    from n2khab_mhq_data_spark.operators.rank import (
        global_rank,
        quantile_bins,
    )

    # 97 rows over many input partitions, with duplicate sort keys so
    # the tie-break path is exercised across range-partition boundaries
    df = spark.range(97).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).repartition(13)
    got = {
        r.id: r.rank
        for r in global_rank(
            df, [F.col("k").asc(), F.col("id").desc()], num_partitions=5
        ).collect()
    }
    rows = sorted(((i % 7, -i, i) for i in range(97)))
    want = {i: pos + 1 for pos, (_, _, i) in enumerate(rows)}
    assert got == want

    # exact decile bins: sizes differ by at most 1, order-respecting
    b = quantile_bins(df, [F.col("k").asc(), F.col("id").desc()], 10)
    byid = {r.id: r.bin for r in b.collect()}
    assert {byid[i] for i in range(97)} == set(range(10))
    for i in range(97):
        assert byid[i] == ((want[i] - 1) * 10) // 97


def test_global_rank_with_total_matches_rank_and_count(spark):
    """r11: the in-plan total column must equal the exact row count on
    every row, with ranks identical to global_rank (it replaces the
    per-call df.count() in the median/trim/quintile queries)."""
    from pyspark.sql import functions as F

    from n2khab_mhq_data_spark.operators.rank import (
        global_rank,
        global_rank_with_total,
    )

    df = spark.range(97).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).repartition(13)
    order = [F.col("k").asc(), F.col("id").desc()]
    got = global_rank_with_total(
        df, order, rank_col="r", total_col="__n", num_partitions=5
    ).collect()
    assert {row["__n"] for row in got} == {97}
    want = {
        row.id: row.rank
        for row in global_rank(df, order, num_partitions=5).collect()
    }
    assert {row.id: row["r"] for row in got} == want


def test_global_rank_payload_column_reuse(spark):
    """r11 regression pin: a PAYLOAD column absent from the sort key
    must not break the in-plan rank. Column pruning used to narrow the
    counts branch's subplan to the key columns, so the range exchange
    stopped being reused, the two branches sampled different partition
    boundaries, and ranks stopped being a permutation (ml_gains_deciles
    grew an 11th decile at sf0.01). The full-column range key makes the
    reuse structural; this asserts exactness on that shape, for atomic,
    array and struct payloads. A map payload cannot join the range key
    and must fail at analysis, and a session with exchange reuse off
    must be refused rather than ranked against two samplings."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    from n2khab_mhq_data_spark.operators.rank import (
        global_rank,
        global_rank_with_total,
        global_running_max,
        grouped_running_sum,
        quantile_bins,
    )

    base = spark.range(503).select(
        F.col("id"), (F.col("id") % 11).alias("k")
    )
    order = [F.col("k").asc(), F.col("id").desc()]
    rows = sorted(((i % 11, -i, i) for i in range(503)))
    want = {i: pos + 1 for pos, (_, _, i) in enumerate(rows)}
    # payloads: referenced by no key, pruned unless pinned
    for payload in (
        F.col("id") % 2,
        F.array(F.col("id") % 2, F.col("k")),
        F.struct((F.col("id") % 2).alias("p"), F.col("k").alias("q")),
    ):
        df = base.withColumn("pos", payload).repartition(17)
        r = global_rank(df, order, num_partitions=7)
        assert {x.id: x.rank for x in r.collect()} == want

        b = quantile_bins(df, order, 10, bin_col="d")
        sizes = sorted(
            (x.d, x.c)
            for x in b.groupBy("d").agg(F.count("*").alias("c")).collect()
        )
        assert [d for d, _ in sizes] == list(range(10))
        assert all(c in (50, 51) for _, c in sizes)

    with_map = base.withColumn("pos", F.create_map(F.col("k"), F.col("id")))
    with pytest.raises(AnalysisException, match="INVALID_ORDERING_TYPE"):
        global_rank(with_map, order, num_partitions=7).collect()

    prev = spark.conf.get("spark.sql.exchange.reuse")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        for call in (
            lambda: global_rank(base, order),
            lambda: global_rank_with_total(base, order),
            lambda: quantile_bins(base, order),
            lambda: global_running_max(base, order, "k"),
            lambda: grouped_running_sum(base, ["k"], [F.col("id")], "id"),
        ):
            with pytest.raises(
                ValueError, match="spark.sql.exchange.reuse"
            ):
                call()
    finally:
        spark.conf.set("spark.sql.exchange.reuse", prev)


def test_interval_overlap_join_binned_matches_brute_force(spark):
    """Binned overlap join == brute-force theta join, each pair once —
    fixture spans multi-bin intervals, point intervals, bin-boundary
    touches, and disjoint pairs."""
    import random

    from n2khab_mhq_data_spark.operators.rangejoin import (
        interval_overlap_join_binned,
    )

    rng = random.Random(7)
    arows = [
        (i, s := rng.randrange(0, 200), s + rng.randrange(0, 25))
        for i in range(80)
    ]
    brows = [
        (j, s := rng.randrange(0, 200), s + rng.randrange(0, 25))
        for j in range(90)
    ]
    a = spark.createDataFrame(arows, "aid int, a_s long, a_e long")
    b = spark.createDataFrame(brows, "bid int, b_s long, b_e long")
    for width in (1, 8, 64):
        got = sorted(
            (r["aid"], r["bid"])
            for r in interval_overlap_join_binned(
                a, b, "a_s", "a_e", "b_s", "b_e", width
            ).collect()
        )
        brute = sorted(
            (ai, bi)
            for ai, s1, e1 in arows
            for bi, s2, e2 in brows
            if s1 <= e2 and s2 <= e1
        )
        assert got == brute  # equality also proves exactly-once emission


def test_profile_table_nulls_and_normalization(spark):
    from n2khab_mhq_data_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [
            (1, "a", 1.555, "2020-01-02 03:04:05"),
            (2, None, 2.0, None),
            (2, "b", None, "2021-12-31 23:59:59"),
        ],
        "k long, s string, x double, t string",
    ).withColumn("t", F.col("t").cast("timestamp"))
    got = {
        r["column_name"]: r
        for r in profile_table(
            df, [("k", "int"), ("s", "str"), ("x", "float"), ("t", "ts")]
        ).collect()
    }
    assert got["k"]["null_count"] == 0 and got["k"]["distinct_count"] == 2
    assert (got["k"]["min_value"], got["k"]["max_value"]) == ("1", "2")
    assert got["s"]["null_count"] == 1 and got["s"]["max_value"] == "b"
    assert got["x"]["null_count"] == 1
    assert (got["x"]["min_value"], got["x"]["max_value"]) == ("1.56", "2.00")
    assert got["t"]["min_value"] == "2020-01-02"
    assert got["t"]["max_value"] == "2021-12-31"
    # approx path keeps the same schema and exact null counts
    approx = {
        r["column_name"]: r
        for r in profile_table(
            df, [("k", "int")], exact_distinct=False
        ).collect()
    }
    assert approx["k"]["null_count"] == 0 and approx["k"]["distinct_count"] >= 1


def test_cusum_closed_form_matches_recursion(spark):
    """The window closed form S_i = C_i - min_{j<=i} C_j must equal the
    textbook recursion S_i = max(0, S_{i-1} + e_i) on a series with a
    planted level shift; the alarm must fire only after the shift."""
    from pyspark.sql.window import Window as W

    vals = [10, 11, 9, 10, 10, 11, 9, 10] + [15, 16, 15, 17, 16, 15]
    target, slack, h = 10, 0, 8
    # python recursion
    s, ref = 0, []
    for v in vals:
        s = max(0, s + (v - target - slack))
        ref.append(s)

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i int, v long"
    )
    w = (
        W.partitionBy(F.lit(1))
        .orderBy("i")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = df.select("i", F.sum(F.col("v") - target - slack).over(w).alias("c"))
    got = [
        r["s"]
        for r in c.select(
            "i", (F.col("c") - F.min("c").over(w)).alias("s")
        )
        .orderBy("i")
        .collect()
    ]
    assert got == ref
    first_alarm = next(i for i, v in enumerate(got) if v > h)
    assert first_alarm >= 8  # no alarm before the planted shift


def test_cuped_reduces_variance_when_covariate_predicts(spark, sf_dir):
    """CUPED must achieve var_ratio < 1 on the events data (pre-period
    mean predicts post-period mean within user), and the adjusted arm
    means must preserve the overall mean up to theta-weighted centering."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["events_cuped_adjustment"](
        spark, sf_dir
    ).collect()
    assert {r["arm"] for r in rows} == {0, 1}
    for r in rows:
        assert r["n_users"] > 3
        assert 0 < r["var_ratio"] < 1.5  # small-n arms can jitter high
    assert any(r["var_ratio"] < 1.0 for r in rows)


def test_acf_alternating_series_lag1_is_minus_one(spark):
    """A perfectly alternating daily series has ACF(1) == -1 and
    ACF(2) == +1 (exact, because the query's Pearson form is integer
    until the last division)."""
    import datetime as dt

    from pyspark.sql import functions as F

    rows = []
    eid = 0
    for i in range(10):
        day = dt.datetime(2024, 1, 1 + i)
        # alternate 1 event / 3 events per day
        for _ in range(1 if i % 2 == 0 else 3):
            rows.append((eid, day, 1, "tick", 0.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    df.createOrReplaceTempView("__acf_events")

    from n2khab_mhq_data_spark.plans.windows import ts_acf
    import n2khab_mhq_data_spark.catalog as catalog

    orig = catalog.load
    try:
        catalog.load = lambda s, d, t: (
            spark.table("__acf_events") if t == "events" else orig(s, d, t)
        )
        import n2khab_mhq_data_spark.plans.windows as wmod
        wload = wmod.load
        wmod.load = catalog.load
        try:
            out = {
                (r["lag"]): r["acf"]
                for r in ts_acf(spark, "unused").collect()
            }
        finally:
            wmod.load = wload
    finally:
        catalog.load = orig
    assert out[1] == -1.0
    assert out[2] == 1.0


def test_running_distinct_hand_case(spark):
    import datetime as dt

    import n2khab_mhq_data_spark.plans.windows as wmod
    from n2khab_mhq_data_spark.plans.windows import w11_running_distinct

    rows = [
        # (event_id, ts, user_id, type): u1 day1, u1 day2 (repeat),
        # u2 day2, u3 day3 -> new: d1=1, d2=1, d3=1; cum: 1,2,3
        (1, dt.datetime(2024, 1, 1), 1, "a", None, None),
        (2, dt.datetime(2024, 1, 2), 1, "a", None, None),
        (3, dt.datetime(2024, 1, 2), 2, "a", None, None),
        (4, dt.datetime(2024, 1, 3), 3, "a", None, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    wload = wmod.load
    wmod.load = lambda s, d, t: df
    try:
        out = {
            str(r["day"]): (r["new_users"], r["cum_users"])
            for r in w11_running_distinct(spark, "unused").collect()
        }
    finally:
        wmod.load = wload
    assert out == {
        "2024-01-01": (1, 1),
        "2024-01-02": (1, 2),
        "2024-01-03": (1, 3),
    }


def test_scd2_point_in_time_boundaries(spark):
    """Clicks before the first milestone get NULL status; a click at
    exactly valid_from lands in the NEW interval (half-open)."""
    import datetime as dt

    import n2khab_mhq_data_spark.plans.windows as wmod
    from n2khab_mhq_data_spark.plans.windows import j14_scd2_point_in_time

    t = lambda h: dt.datetime(2024, 1, 1, h)  # noqa: E731
    rows = [
        (1, t(0), 7, "click", None, None),     # before any milestone
        (2, t(1), 7, "signup", None, None),    # status: signup from 01:00
        (3, t(1), 7, "click", None, None),     # exactly at valid_from
        (4, t(2), 7, "click", None, None),     # inside signup interval
        (5, t(3), 7, "purchase", None, None),  # status flips at 03:00
        (6, t(3), 7, "click", None, None),     # exactly at the flip
        (7, t(4), 7, "click", None, None),     # current interval
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    wload = wmod.load
    wmod.load = lambda s, d, t_: df
    try:
        out = {
            r["click_id"]: r["status"]
            for r in j14_scd2_point_in_time(spark, "unused").collect()
        }
    finally:
        wmod.load = wload
    assert out == {
        1: None,
        3: "signup",
        4: "signup",
        6: "purchase",
        7: "purchase",
    }


def test_mann_kendall_monotone_series(spark):
    """Strictly increasing daily counts: S = n(n-1)/2, tie term 0,
    z = (S-1)/sqrt(n(n-1)(2n+5)/18)."""
    import datetime as dt
    import math

    import n2khab_mhq_data_spark.plans.windows as wmod
    from n2khab_mhq_data_spark.plans.windows import ts_mann_kendall

    rows = []
    eid = 0
    n = 8
    for i in range(n):
        for _ in range(i + 1):  # day i has i+1 events: strictly rising
            rows.append(
                (eid, dt.datetime(2024, 1, 1 + i), 1, "t", 0.0, "")
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    wload = wmod.load
    wmod.load = lambda s, d, t: df
    try:
        r = ts_mann_kendall(spark, "unused").collect()[0]
    finally:
        wmod.load = wload
    s_exp = n * (n - 1) // 2
    var18 = n * (n - 1) * (2 * n + 5)
    assert (r["n_days"], r["s_stat"], r["var18"]) == (n, s_exp, var18)
    assert r["z"] == round((s_exp - 1) / math.sqrt(var18 / 18.0) + 1e-9, 6)


def test_ab_readout_hand_case(spark):
    """4 customers, arms by key parity, conversion by one big order."""
    import datetime as dt
    import math

    import n2khab_mhq_data_spark.plans.windows as wmod
    from n2khab_mhq_data_spark.plans.windows import events_ab_readout

    rows = [
        # custkey, price: arm0 = {2: conv, 4: no}, arm1 = {1: conv, 3: conv}
        (1, 2, "O", 500000.0, dt.datetime(2024, 1, 1), "x"),
        (2, 4, "O", 100000.0, dt.datetime(2024, 1, 1), "x"),
        (3, 1, "O", 460000.0, dt.datetime(2024, 1, 1), "x"),
        (4, 3, "O", 470000.0, dt.datetime(2024, 1, 1), "x"),
        (5, 3, "O", 100.0, dt.datetime(2024, 1, 1), "x"),
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    wload = wmod.load
    wmod.load = lambda s, d, t: df
    try:
        r = events_ab_readout(spark, "unused").collect()[0]
    finally:
        wmod.load = wload
    assert (r["n_a"], r["conv_a"], r["n_b"], r["conv_b"]) == (2, 1, 2, 2)
    p_pool = 3 / 4
    z = (0.5 - 1.0) / math.sqrt(p_pool * (1 - p_pool) * (1 / 2 + 1 / 2))
    assert r["z"] == round(z + 1e-9, 6)


def test_psi_drift_single_group_is_zero(spark):
    """With ONE priority the per-group distribution IS the global one,
    so smoothed shares cancel exactly and PSI == 0."""
    import datetime as dt

    import n2khab_mhq_data_spark.plans.relational as rmod
    from n2khab_mhq_data_spark.plans.relational import audit_psi_drift

    rows = [
        (i, i, "O", 1000.0 * (i + 1), dt.datetime(2024, 1, 1), "P")
        for i in range(50)
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    rload = rmod.load
    rmod.load = lambda s, d, t: df
    try:
        out = audit_psi_drift(spark, "unused").collect()
    finally:
        rmod.load = rload
    assert len(out) == 1
    assert out[0]["n_orders"] == 50
    assert out[0]["psi"] == 0.0


def test_global_running_max_matches_single_window(spark):
    """The distributed exclusive prefix max must equal the naive global
    window, including across range-partition boundaries (force 4
    partitions over 40 rows) and the NULL for the global first row."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from n2khab_mhq_data_spark.operators.rank import global_running_max

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 1000)) for i in range(40)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r["k"]: r["running_max"]
        for r in global_running_max(
            df, [F.col("k")], "v", num_partitions=4
        ).collect()
    }
    w = W.orderBy("k").rowsBetween(W.unboundedPreceding, -1)
    exp = {
        r["k"]: r["e"]
        for r in df.withColumn("e", F.max("v").over(w)).collect()
    }
    assert got == exp
    assert got[0] is None


def test_grouped_running_sum_matches_plain_window(spark):
    """The distributed grouped cumsum must equal the naive partitioned
    window across forced partition boundaries (4 partitions, 2 groups,
    60 rows)."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from n2khab_mhq_data_spark.operators.rank import grouped_running_sum

    rng = random.Random(11)
    rows = [(i % 2, i, rng.randint(1, 9)) for i in range(60)]
    df = spark.createDataFrame(rows, "g int, k long, v long")
    got = {
        (r["g"], r["k"]): r["running_sum"]
        for r in grouped_running_sum(
            df, ["g"], [F.col("k")], "v", num_partitions=4
        ).collect()
    }
    w = (
        W.partitionBy("g")
        .orderBy("k")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    exp = {
        (r["g"], r["k"]): r["e"]
        for r in df.withColumn("e", F.sum("v").over(w)).collect()
    }
    assert got == exp


def test_grouped_running_sum_int_overflowing_prefix(spark):
    """An INT value column whose accumulated prefix exceeds int32 range:
    the broadcast __prefix carries F.sum results (long-valued), so typing
    it as the raw int column would fail createDataFrame at runtime."""
    from pyspark.sql import functions as F

    from n2khab_mhq_data_spark.operators.rank import grouped_running_sum

    big = 1_500_000_000  # 2 of these overflow int32
    df = spark.createDataFrame(
        [(0, i, big) for i in range(8)], "g int, k long, v int"
    )
    out = grouped_running_sum(
        df, ["g"], [F.col("k")], "v", num_partitions=4
    )
    assert dict(out.dtypes)["running_sum"] == "bigint"
    got = {r["k"]: r["running_sum"] for r in out.collect()}
    assert got == {i: big * (i + 1) for i in range(8)}


def test_grouped_running_sum_double_and_decimal_and_nulls(spark):
    """Non-integral value columns must work too (the prefix seed has to
    match the widened type), and an all-null partition slice (None group
    sum) must contribute nothing instead of crashing."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from n2khab_mhq_data_spark.operators.rank import grouped_running_sum

    from pyspark.sql.window import Window as W

    # leading NULLs force the no-prior-non-null case; interior NULLs at
    # partition starts force the prefix-carries-the-sum case
    dbl = spark.createDataFrame(
        [(0, i, float(i) if i % 3 and i > 1 else None) for i in range(12)],
        "g int, k long, v double",
    )
    w = (
        W.partitionBy("g")
        .orderBy("k")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    exp = {
        r["k"]: r["e"]
        for r in dbl.withColumn("e", F.sum("v").over(w)).collect()
    }
    # ALL positions (including NULL semantics) must match the plain
    # window regardless of partition placement
    for np_ in (1, 4, 7):
        got = {
            r["k"]: r["running_sum"]
            for r in grouped_running_sum(
                dbl, ["g"], [F.col("k")], "v", num_partitions=np_
            ).collect()
        }
        assert got == exp, (np_, got, exp)

    # NULL group keys are an ordinary group for the plain window — the
    # prefix join must be null-safe or those rows silently vanish
    ng = spark.createDataFrame(
        [(None, 0, 5.0), (None, 1, 7.0), (1, 0, 1.0)],
        "g int, k long, v double",
    )
    got_ng = {
        (r["g"], r["k"]): r["running_sum"]
        for r in grouped_running_sum(
            ng, ["g"], [F.col("k")], "v", num_partitions=3
        ).collect()
    }
    assert got_ng == {(None, 0): 5.0, (None, 1): 12.0, (1, 0): 1.0}

    dec = spark.createDataFrame(
        [(0, i, Decimal("1.50")) for i in range(4)],
        "g int, k long, v decimal(10,2)",
    )
    out = grouped_running_sum(
        dec, ["g"], [F.col("k")], "v", num_partitions=2
    )
    assert dict(out.dtypes)["running_sum"].startswith("decimal")
    got_dec = {r["k"]: r["running_sum"] for r in out.collect()}
    assert got_dec == {i: Decimal("1.50") * (i + 1) for i in range(4)}


def test_longest_streak_hand_case(spark):
    import datetime as dt

    import n2khab_mhq_data_spark.plans.windows as wmod
    from n2khab_mhq_data_spark.plans.windows import w12_longest_streak

    def ev(eid, day, uid):
        return (eid, dt.datetime(2024, 1, day), uid, "click", None, None)

    rows = [
        # user 1: days 1,2,3 then 5,6 -> longest 3 starting day 1
        ev(1, 1, 1), ev(2, 2, 1), ev(3, 3, 1), ev(4, 5, 1), ev(5, 6, 1),
        # user 2: days 2 then 4,5 -> longest 2 starting day 4
        ev(6, 2, 2), ev(7, 4, 2), ev(8, 5, 2),
        # user 3: tie of two 2-streaks (1,2) and (4,5) -> earliest wins
        ev(9, 1, 3), ev(10, 2, 3), ev(11, 4, 3), ev(12, 5, 3),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    wload = wmod.load
    wmod.load = lambda s, d, t: df
    try:
        out = {
            r["user_id"]: (r["longest_streak"], str(r["streak_start"]))
            for r in w12_longest_streak(spark, "unused").collect()
        }
    finally:
        wmod.load = wload
    assert out == {
        1: (3, "2024-01-01"),
        2: (2, "2024-01-04"),
        3: (2, "2024-01-01"),
    }


def test_weighted_median_hand_case(spark):
    import datetime as dt

    import n2khab_mhq_data_spark.plans.relational as rmod
    from n2khab_mhq_data_spark.plans.relational import a19_weighted_median

    # flag A: prices 10(w1), 20(w2), 30(w1): tot=4, half=2 ->
    #   cum at 10 is 1, at 20 is 3 -> 2*3 >= 4 -> median 20
    rows = [
        (1, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "A", "O",
         dt.datetime(2024, 1, 1)),
        (2, 1, 1, 1, 2.0, 20.0, 0.0, 0.0, "A", "O",
         dt.datetime(2024, 1, 1)),
        (3, 1, 1, 1, 1.0, 30.0, 0.0, 0.0, "A", "O",
         dt.datetime(2024, 1, 1)),
    ]
    df = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    )
    rload = rmod.load
    rmod.load = lambda s, d, t: df
    try:
        r = a19_weighted_median(spark, "unused").collect()[0]
    finally:
        rmod.load = rload
    assert (r["l_returnflag"], r["weighted_median"], r["total_qty"]) == (
        "A", 20.0, 4,
    )


def test_tiered_rate_join_boundaries(spark):
    """Closed-form tier keying must implement half-open [lo, hi) range
    semantics at exact boundary values."""
    import datetime as dt

    import n2khab_mhq_data_spark.plans.relational as rmod
    from n2khab_mhq_data_spark.plans.relational import j15_tiered_rate_join

    rows = [
        (1, 1, "O", 0.0, dt.datetime(2024, 1, 1), "P"),        # T1 lo edge
        (2, 1, "O", 99999.99, dt.datetime(2024, 1, 1), "P"),   # T1 hi-eps
        (3, 1, "O", 100000.0, dt.datetime(2024, 1, 1), "P"),   # T2 lo edge
        (4, 1, "O", 599999.0, dt.datetime(2024, 1, 1), "P"),   # T5
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    rload = rmod.load
    rmod.load = lambda s, d, t: df
    try:
        out = {
            r["o_orderkey"]: (r["tier"], r["fee"])
            for r in j15_tiered_rate_join(spark, "unused").collect()
        }
    finally:
        rmod.load = rload
    assert out[1][0] == "T1"
    assert out[2][0] == "T1"
    assert out[3][0] == "T2"
    assert out[4][0] == "T5"
    # fee = cents * bp / 1e6: order 3 -> 10000000 * 375 / 1e6 = 3750.00
    assert out[3][1] == 3750.0


def test_inter_arrival_lower_quantiles(spark):
    """Median/p95 are LOWER order statistics: for gaps [1..10]s the
    median is the 5th (rn*2>=10), p95 the 10th (rn*20>=190)."""
    import datetime as dt

    import n2khab_mhq_data_spark.plans.windows as wmod
    from n2khab_mhq_data_spark.plans.windows import (
        events_inter_arrival_stats,
    )

    base = dt.datetime(2024, 1, 1)
    times, t = [base], base
    for k in range(1, 11):  # gaps of 1,2,...,10 seconds
        t = t + dt.timedelta(seconds=k)
        times.append(t)
    rows = [
        (i, ts, 1, "t", None, None) for i, ts in enumerate(times)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    wload = wmod.load
    wmod.load = lambda s, d, t_: df
    try:
        r = events_inter_arrival_stats(spark, "unused").collect()[0]
    finally:
        wmod.load = wload
    assert r["n_gaps"] == 10
    assert r["median_gap_us"] == 5_000_000
    assert r["p95_gap_us"] == 10_000_000
    assert r["max_gap_us"] == 10_000_000


def test_pareto_abc_partition_sums(spark, sf_dir):
    """ABC classes partition all parts and all revenue; A holds at most
    80% + one straddling part."""
    from n2khab_mhq_data_spark.catalog import load
    from n2khab_mhq_data_spark.plans.relational import w13_pareto_abc
    from pyspark.sql import functions as F

    li = load(spark, sf_dir, "lineitem")
    n_parts = li.select("l_partkey").distinct().count()
    tot = (
        li.select(
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("c")
        ).agg(F.sum("c")).collect()[0][0]
    )
    rows = {r["abc_class"]: r for r in w13_pareto_abc(spark, sf_dir).collect()}
    assert set(rows) == {"A", "B", "C"}
    assert sum(r["n_parts"] for r in rows.values()) == n_parts
    assert abs(sum(r["class_revenue"] for r in rows.values()) - tot / 100.0) < 0.05
    assert rows["A"]["class_revenue"] <= tot / 100.0 * 0.80 + 1  # straddle


def test_dau_wau_hand_case(spark):
    """user 1 active day1+day3, user 2 active day3: day3 has DAU 2 and
    trailing-7 WAU 2 (stickiness 1.0); day1 DAU 1 WAU 1."""
    import datetime as dt

    import n2khab_mhq_data_spark.plans.windows as wmod
    from n2khab_mhq_data_spark.plans.windows import (
        events_dau_wau_stickiness,
    )

    rows = [
        (1, dt.datetime(2024, 1, 1), 1, "a", None, None),
        (2, dt.datetime(2024, 1, 3), 1, "a", None, None),
        (3, dt.datetime(2024, 1, 3), 2, "a", None, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    wload = wmod.load
    wmod.load = lambda s, d, t: df
    try:
        out = {
            str(r["day"]): (r["dau"], r["wau"])
            for r in events_dau_wau_stickiness(spark, "unused").collect()
        }
    finally:
        wmod.load = wload
    assert out == {"2024-01-01": (1, 1), "2024-01-03": (2, 2)}


def test_nearest_event_join_brute_force(spark, sf_dir):
    """The union-stream nearest pick must equal a brute-force python
    nearest (abs distance, earlier-view tie-break) for every click."""
    from n2khab_mhq_data_spark.catalog import load
    from n2khab_mhq_data_spark.plans.windows import j16_nearest_event_join

    e = load(spark, sf_dir, "events")
    rows = e.select("event_id", "ts", "user_id", "event_type").collect()
    views, clicks = {}, []
    for r in rows:
        if r["event_type"] == "view":
            key = (r["user_id"], r["ts"])
            views[key] = max(views.get(key, 0), r["event_id"])
        elif r["event_type"] == "click":
            clicks.append(r)
    byuser = {}
    for (u, ts), vid in views.items():
        byuser.setdefault(u, []).append((ts, vid))
    expected = {}
    for c in clicks:
        best = None
        for vts, vid in byuser.get(c["user_id"], []):
            d = abs((c["ts"] - vts).total_seconds() * 1e6)
            k = (d, vts, vid)
            if best is None or k < best:
                best = k
        expected[c["event_id"]] = (
            None if best is None else (best[2], int(round(best[0])))
        )
    got = {
        r["click_id"]: (r["view_id"], r["dist_us"])
        for r in j16_nearest_event_join(spark, sf_dir).collect()
    }
    assert set(got) == set(expected)
    for cid, exp in expected.items():
        if exp is None:
            assert got[cid] == (None, None)
        else:
            assert got[cid] == exp, (cid, got[cid], exp)


def test_profile_table_pos_and_overflow_fallback(spark):
    """pos is the spec index (explicit ordering key); a float extremum
    too large for DECIMAL(38,2) (or NaN) falls back to a raw string
    instead of a silent NULL masquerading as an all-null column."""
    from n2khab_mhq_data_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, 1e300), (2, float("nan"))], "k long, x double"
    )
    rows = profile_table(df, [("x", "float"), ("k", "int")]).collect()
    assert [(r["pos"], r["column_name"]) for r in rows] == [
        (0, "x"), (1, "k"),
    ]
    x = rows[0]
    assert x["null_count"] == 0
    assert x["min_value"] is not None and x["max_value"] is not None
    # NaN ranks greatest in Spark aggregation -> it is the max
    assert x["max_value"] == "NaN"


def test_asof_join_null_keys_never_match(spark):
    """Join-equality semantics: a NULL key matches nothing. NULL-key
    right rows must not attach to NULL-key left rows (partitionBy
    groups NULLs together, unlike join equality)."""
    from n2khab_mhq_data_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(None, 10), (1, 10)], "k int, t int"
    )
    right = spark.createDataFrame(
        [(None, 5, "null-key"), (1, 5, "real")], "k int, t int, v string"
    )
    got = {
        (r["k"], r["t"]): r["v"]
        for r in asof_join(left, right, "k", "t", ["v"]).collect()
    }
    assert got[(1, 10)] == "real"
    assert got[(None, 10)] is None


def test_scd2_history_rejects_reserved_columns(spark):
    import pytest as _pytest

    from n2khab_mhq_data_spark.operators.scd import scd2_history

    df = spark.createDataFrame(
        [(1, "a", 1, True)], "k int, s string, ts int, is_current boolean"
    )
    with _pytest.raises(ValueError, match="is_current"):
        scd2_history(df, ["k"], ["s"], "ts")


def test_salted_join_guard_catches_case_variants(spark):
    import pytest as _pytest

    from n2khab_mhq_data_spark.operators.skew import salted_join, with_salt

    fact = spark.createDataFrame([(1, "x")], "k int, v string")
    dim = spark.createDataFrame([(1, "d")], "k int, d string")
    for how in ("FULL", "Full_Outer", "RIGHT", "right_outer"):
        with _pytest.raises(ValueError, match="does not support"):
            salted_join(fact, dim, ["k"], buckets=4, how=how)
    # reserved-name guards
    with _pytest.raises(ValueError, match="__salt"):
        with_salt(with_salt(fact, 4), 4)
    with _pytest.raises(ValueError, match="__salt"):
        salted_join(fact, dim.withColumn("__salt", F.lit(0)), ["k"])


def test_incremental_merge_delta_beats_published_on_ties(spark):
    """A delta row with IDENTICAL order_by values must deterministically
    replace the published row it corrects (CDC same-timestamp
    correction) — not win or lose by partition order."""
    from n2khab_mhq_data_spark.operators.merge import incremental_merge

    pub = spark.createDataFrame(
        [(1, 100, "stale"), (2, 100, "keep")], "k int, ts int, v string"
    )
    delta = spark.createDataFrame(
        [(1, 100, "fixed")], "k int, ts int, v string"
    )
    out = {
        r["k"]: r["v"]
        for r in incremental_merge(
            pub, delta, ["k"], ["ts DESC"]
        ).collect()
    }
    assert out == {1: "fixed", 2: "keep"}
    # a LATER published ts still beats an older delta (tag is only the
    # final tiebreak)
    pub2 = spark.createDataFrame([(1, 200, "newer")], "k int, ts int, v string")
    out2 = incremental_merge(
        pub2, delta, ["k"], ["ts DESC"]
    ).collect()
    assert [(r["k"], r["v"]) for r in out2] == [(1, "newer")]


def test_decode_cover_rejects_payload_overlap(spark):
    import pytest as _pytest

    from n2khab_mhq_data_spark.kernels.cover import (
        cover_scale_dim,
        decode_cover,
    )

    df = spark.createDataFrame(
        [("londo", "1", 9.9)],
        "coverscale_name string, class_id string, cover_mean double",
    )
    with _pytest.raises(ValueError, match="cover_mean"):
        decode_cover(df, cover_scale_dim(spark))


def test_layer_cover_rollup_raises_out_of_domain(spark):
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from n2khab_mhq_data_spark.kernels.cover import layer_cover_rollup

    bad = spark.createDataFrame(
        [(1, 150.0), (1, 50.0)], "plot_id int, cover_mean double"
    )
    with _pytest.raises(SparkRuntimeException, match="outside"):
        layer_cover_rollup(bad, ["plot_id"]).collect()
    neg = spark.createDataFrame(
        [(1, -5.0), (1, 50.0)], "plot_id int, cover_mean double"
    )
    with _pytest.raises(SparkRuntimeException, match="outside"):
        layer_cover_rollup(neg, ["plot_id"]).collect()
    nan = spark.createDataFrame(
        [(1, float("nan"))], "plot_id int, cover_mean double"
    )
    with _pytest.raises(SparkRuntimeException, match="outside"):
        layer_cover_rollup(nan, ["plot_id"]).collect()
    # NULL-first still wins over out-of-domain (R: prod(c(NA, 1.5)) is NA)
    mixed = spark.createDataFrame(
        [(1, None), (1, 150.0)], "plot_id int, cover_mean double"
    )
    assert layer_cover_rollup(mixed, ["plot_id"]).collect()[0][
        "cover_layer"
    ] is None


def test_edit_distance_join_null_blocks_generate_no_pairs(spark):
    """Equality semantics for the hard keys: a NULL block attribute can
    never agree with anything, so such records emit no candidates —
    concat_ws would have collided (a, NULL) with (NULL, a)."""
    from n2khab_mhq_data_spark.operators.linkage import (
        edit_distance_join_deletion,
    )

    df = spark.createDataFrame(
        [
            (1, "smith", "BRU", None),
            (2, "smyth", None, "BRU"),
            (3, "smith", "GNT", "m1"),
            (4, "smyth", "GNT", "m1"),
        ],
        "id long, name string, region string, segment string",
    )
    pairs = edit_distance_join_deletion(
        df, "id", "name", block_cols=["region", "segment"]
    ).collect()
    assert sorted((r["id1"], r["id2"]) for r in pairs) == [(3, 4)]


def test_global_running_max_nan_propagates(spark):
    """Spark orders NaN above every number; the driver-side prefix
    combine must not drop a NaN partition maximum (Python NaN > x is
    False)."""
    import math

    from n2khab_mhq_data_spark.operators.rank import global_running_max

    df = spark.createDataFrame(
        [(1, 5.0), (2, float("nan")), (3, 1.0), (4, 2.0)],
        "t int, v double",
    )
    out = {
        r["t"]: r["running_max"]
        for r in global_running_max(
            df, [F.col("t")], "v", num_partitions=4
        ).collect()
    }
    assert out[1] is None
    assert out[2] == 5.0
    # rows strictly after the NaN must see NaN, not 5.0
    assert math.isnan(out[3]) and math.isnan(out[4])


def test_sorted_neighborhood_single_window_same_pairs(spark):
    """The one-window lead rewrite must emit exactly the per-step pair
    set of the naive formulation."""
    from n2khab_mhq_data_spark.operators.linkage import (
        sorted_neighborhood_pairs,
    )

    rows = [(i, k) for i, k in enumerate(
        ["alpha", "alphb", "beta", "betb", "gamma", "gamm", "delta"]
    )]
    df = spark.createDataFrame(rows, "id long, key string")
    got = sorted(
        (r["id1"], r["id2"], r["lev_dist"])
        for r in sorted_neighborhood_pairs(
            df, "id", "key", [F.lit(0)], window=3, max_dist=2
        ).collect()
    )
    # brute-force expected: within the global key-sorted order, each
    # record pairs with its next 2 neighbors; keep lev <= 2
    import itertools

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a):
            cur = [i + 1]
            for j, cb in enumerate(b):
                cur.append(min(prev[j + 1] + 1, cur[j] + 1,
                               prev[j] + (ca != cb)))
            prev = cur
        return prev[-1]

    order = sorted(rows, key=lambda r: (r[1], r[0]))
    want = set()
    for a, b in itertools.combinations(range(len(order)), 2):
        if b - a < 3:
            i1, k1 = order[a]
            i2, k2 = order[b]
            d = lev(k1, k2)
            if d <= 2:
                want.add((min(i1, i2), max(i1, i2), d))
    assert got == sorted(want)


def test_wkt_empty_polygon_raises(spark):
    import pytest as _pytest

    from n2khab_mhq_data_spark.spatial.wkt import parse_wkt_polygon

    with _pytest.raises(ValueError, match="empty POLYGON"):
        parse_wkt_polygon("POLYGON ()")


def test_reserved_name_guards_relational(spark):
    import pytest as _pytest

    from n2khab_mhq_data_spark.operators.relational import (
        dedup_keep_latest,
        duplicates,
        membership_flag,
    )

    df_rn = spark.createDataFrame([(1, 2, 0)], "k int, v int, __rn int")
    with _pytest.raises(ValueError, match="__rn"):
        dedup_keep_latest(df_rn, ["k"], ["v DESC"])
    df_n = spark.createDataFrame([(1, 5)], "k int, n int")
    with _pytest.raises(ValueError, match="'n'"):
        duplicates(df_n, ["k"])
    df = spark.createDataFrame([(1,)], "k int")
    with _pytest.raises(ValueError, match="internal column"):
        membership_flag(df, df, "k", "k", "__hit")
