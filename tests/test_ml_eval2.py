"""Hand-computed small cases for the r11 second-wave operators
(keyness G2, Naive Bayes, IPW, DiD, modularity) — same contract as
test_ml_eval.py: pin the math independently of the DuckDB differential.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def test_g2_keyness_by_hand():
    # target: word appears a=10 of ta=100; rest: b=5 of tb=400.
    # E_a = 100*15/500 = 3, E_b = 400*15/500 = 12
    a, b, ta, tb = 10, 5, 100.0, 400.0
    ea = ta * (a + b) / (ta + tb)
    eb = tb * (a + b) / (ta + tb)
    g2 = 2.0 * (a * math.log(a / ea) + b * math.log(b / eb))
    assert abs(ea - 3.0) < 1e-12 and abs(eb - 12.0) < 1e-12
    # the implemented statistic is the two-cell Rayson/Garside LL
    # (word-count cells only, expectations from the corpus marginals) —
    # NOT the full 2x2 binomial LLR. Its invariants:
    # (1) exactly 0 when the word is distributed proportionally
    prop = 2.0 * (
        20 * math.log(20 / (ta * 100 / (ta + tb)))
        + 80 * math.log(80 / (tb * 100 / (ta + tb)))
    )
    assert abs(prop) < 1e-12  # 20/100 == 80/400 == pooled rate
    # (2) positive and growing with over-representation in the target
    assert g2 > 0
    a2 = 12
    ea2 = ta * (a2 + b) / (ta + tb)
    eb2 = tb * (a2 + b) / (ta + tb)
    g2_more = 2.0 * (
        a2 * math.log(a2 / ea2) + b * math.log(b / eb2)
    )
    assert g2_more > g2


def test_naive_bayes_recovers_majority_feature(spark):
    # feature f perfectly predicts the label; prior is uniform — the
    # scored argmax must follow f despite Laplace smoothing
    rows = [("x", "A")] * 10 + [("y", "B")] * 10
    df = spark.createDataFrame(rows, "f string, label string")
    lik = df.groupBy("f").agg(
        F.count(F.when(F.col("label") == "A", 1)).alias("na"),
        F.count(F.when(F.col("label") == "B", 1)).alias("nb"),
    ).collect()
    by_f = {r["f"]: (r["na"], r["nb"]) for r in lik}
    ca = cb = 10.0
    kf = 2.0
    for f, (na, nb) in by_f.items():
        sa = math.log(ca / 20) + math.log((na + 1) / (ca + kf))
        sb = math.log(cb / 20) + math.log((nb + 1) / (cb + kf))
        pred = "A" if sa >= sb else "B"
        assert pred == ("A" if f == "x" else "B")


def test_ipw_stratified_recovers_planted_effect(spark):
    # stratum s1: treated mean 10, control 8 (effect 2), n=40
    # stratum s2: treated mean 20, control 17 (effect 3), n=60
    # stratified ATT with n_s weights = (40*2 + 60*3)/100 = 2.6
    rows = (
        [("s1", 1, 10)] * 20 + [("s1", 0, 8)] * 20
        + [("s2", 1, 20)] * 30 + [("s2", 0, 17)] * 30
    )
    df = spark.createDataFrame(rows, "s string, treat int, y long")
    strata = df.groupBy("s").agg(
        F.count("*").alias("n"),
        F.sum("treat").alias("nt"),
        F.sum(F.col("treat") * F.col("y")).alias("syt"),
        F.sum((1 - F.col("treat")) * F.col("y")).alias("syc"),
    )
    r = strata.agg(
        (
            (
                F.sum(F.col("n") * (F.col("syt") * 1.0 / F.col("nt")))
                - F.sum(
                    F.col("n")
                    * (F.col("syc") * 1.0 / (F.col("n") - F.col("nt")))
                )
            )
            / F.sum("n")
        ).alias("att")
    ).collect()[0]["att"]
    assert abs(r - 2.6) < 1e-12


def test_did_cancels_common_trend():
    # control drifts +5 pre->post; treated drifts +5 (trend) +3 (effect)
    tp, tpre, cp, cpre = 108.0, 100.0, 55.0, 50.0
    did = (tp - tpre) - (cp - cpre)
    assert abs(did - 3.0) < 1e-12


def test_modularity_two_cliques_by_hand():
    # two disconnected triangles, communities = the cliques:
    # m=6, each community: e_c=3, d_c=6 -> q_term = 3/6 - (6/12)^2 = 0.25
    # total Q = 0.5, the textbook two-clique value
    m = 6.0
    q_term = 3 / m - (6 / (2 * m)) ** 2
    assert abs(q_term - 0.25) < 1e-12
    # and a degree-preserving null: one community holding everything
    # scores Q = 0 exactly
    assert abs((6 / m - (12 / (2 * m)) ** 2)) < 1e-12


def test_burstiness_bounds(spark):
    # burstiness cf/df >= 1 always; equals 1 iff no within-doc repeats
    rows = [
        (1, "a a b"), (2, "a c"), (3, "b c c c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tok = df.select(
        "doc_id",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("w"),
    )
    wd = tok.groupBy("w", "doc_id").agg(F.count("*").alias("k"))
    vocab = wd.groupBy("w").agg(
        F.count("*").alias("df"), F.sum("k").alias("cf")
    ).collect()
    got = {r["w"]: (r["df"], r["cf"]) for r in vocab}
    assert got["a"] == (2, 3)   # burst: 2 in doc1 + 1 in doc2
    assert got["b"] == (2, 2)   # no repeats -> cf == df
    assert got["c"] == (2, 4)   # burst in doc3
    for df_, cf in got.values():
        assert cf >= df_


def test_holt_linear_by_hand(spark):
    from n2khab_mhq_data_spark.operators.timeseries import holt_linear
    from pyspark.sql import functions as F

    rows = [(1, 1, 10.0), (1, 2, 13.0), (1, 3, 16.0)]
    df = spark.createDataFrame(rows, "k long, t long, v double")
    out = {
        r["t"]: (r["level"], r["trend"])
        for r in holt_linear(
            df, ["k"], ["t"], "v", alpha=0.3, beta=0.2
        ).collect()
    }
    # s1=10, b1=0; s2=0.3*13+0.7*10=10.9, b2=0.2*0.9=0.18
    # s3=0.3*16+0.7*(10.9+0.18)=4.8+7.756=12.556
    # b3=0.2*(12.556-10.9)+0.8*0.18=0.3312+0.144=0.4752
    assert out[1] == (10.0, 0.0)
    assert abs(out[2][0] - 10.9) < 1e-12
    assert abs(out[2][1] - 0.18) < 1e-12
    assert abs(out[3][0] - 12.556) < 1e-12
    assert abs(out[3][1] - 0.4752) < 1e-12


def test_holt_linear_state_carries_across_arrow_batches(spark):
    """r11 regression pin for the mapInPandas rewrite: a series longer
    than one Arrow batch must continue its (s, b) recursion across the
    batch boundary, and a key change ON the boundary must reset it.
    maxRecordsPerBatch=7 forces many splits of both kinds."""
    from n2khab_mhq_data_spark.operators.timeseries import holt_linear

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        rows = [(k, t, float(10 + 3 * t + 7 * k)) for k in (1, 2) for t in range(40)]
        df = spark.createDataFrame(rows, "k long, t long, v double").coalesce(1)
        got = {
            (r["k"], r["t"]): (r["level"], r["trend"])
            for r in holt_linear(
                df, ["k"], ["t"], "v", alpha=0.3, beta=0.2,
            ).collect()
        }
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old
        )
    # sequential reference, one pass per key
    for k in (1, 2):
        s = float(10 + 7 * k)
        b = 0.0
        assert got[(k, 0)] == (s, b)
        for t in range(1, 40):
            v = float(10 + 3 * t + 7 * k)
            s_new = 0.3 * v + 0.7 * (s + b)
            b = 0.2 * (s_new - s) + 0.8 * b
            s = s_new
            assert got[(k, t)] == (s, b), (k, t)


def test_mann_whitney_u_matches_sequential(spark):
    from pyspark.sql.window import Window as W

    rows = [(3, 1), (1, 0), (4, 1), (4, 0), (2, 0), (5, 1)]
    df = spark.createDataFrame(rows, "score int, a int")
    grid = df.groupBy("score").agg(
        F.count("*").alias("t"), F.sum("a").alias("ta")
    )
    cum = W.orderBy("score").rowsBetween(W.unboundedPreceding, -1)
    ranked = grid.select(
        "t", "ta",
        (
            F.coalesce(F.sum("t").over(cum), F.lit(0)).cast("double")
            + (F.col("t") + 1) / 2.0
        ).alias("midrank"),
    )
    got = ranked.agg(
        (
            F.sum(F.col("ta") * F.col("midrank"))
            - F.sum("ta").cast("double")
            * (F.sum("ta") + 1) / 2.0
        ).alias("u")
    ).collect()[0]["u"]
    # sequential midranks: scores 1,2,3,4,4,5 -> ranks 1,2,3,4.5,4.5,6
    # group-a scores {3,4,5}: ranks 3 + 4.5 + 6 = 13.5; U = 13.5 - 6 = 7.5
    assert abs(got - 7.5) < 1e-12


def test_interval_union_islands_by_hand(spark):
    from pyspark.sql.window import Window as W

    # intervals (ms): [0,30), [10,40) overlap; [40,70) TOUCHES 40 ->
    # merges (closed-open adjacency); [100,130) is a second island
    rows = [(1, 0), (1, 10), (1, 40), (1, 100)]
    iv = spark.createDataFrame(rows, "u long, s long").select(
        "u", "s", (F.col("s") + 30).alias("e")
    )
    wp = (
        W.partitionBy("u").orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    wc = (
        W.partitionBy("u").orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    o = iv.select(
        "u", "s", "e", F.max("e").over(wp).alias("pme")
    )
    ni = F.when(
        F.col("pme").isNull() | (F.col("s") > F.col("pme")), 1
    ).otherwise(0)
    isl = o.select("u", "s", "e", F.sum(ni).over(wc).alias("i"))
    merged = isl.groupBy("u", "i").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    ).collect()
    spans = sorted((r["ms"], r["me"]) for r in merged)
    assert spans == [(0, 70), (100, 130)]


def test_trimmed_mean_exact_cut(spark):
    from n2khab_mhq_data_spark.operators.rank import global_rank_with_total

    # 0..39: 5% trim of 40 rows drops ranks 1-2 and 39-40 exactly
    df = spark.range(0, 40).select(
        F.col("id").alias("v"), F.col("id").alias("k")
    )
    ranked = global_rank_with_total(
        df, [F.col("v"), F.col("k")], "rnk", total_col="n"
    )
    n = F.col("n")
    inside = ranked.filter(
        (F.col("rnk") * 20 > n) & ((n - F.col("rnk") + 1) * 20 > n)
    )
    vals = sorted(r["v"] for r in inside.collect())
    assert vals == list(range(2, 38))


def test_entropy_uniform_and_degenerate():
    import math

    # uniform over 4 categories -> 2 bits, normalized 1
    h = -sum(0.25 * math.log(0.25) for _ in range(4))
    assert abs(h / math.log(2) - 2.0) < 1e-12
    assert abs(h / math.log(4) - 1.0) < 1e-12


def test_fleiss_agreement_reduction():
    # k positive votes of 3 raters: agreeing pairs = C(k,2) + C(3-k,2)
    # the query's closed form k(k-1) + (3-k)(2-k) must equal 2x that
    from math import comb

    for k in range(4):
        pairs = comb(k, 2) + comb(3 - k, 2)
        assert k * (k - 1) + (3 - k) * (2 - k) == 2 * pairs
    # perfect agreement (k=0 or 3) -> 6/6; maximal split -> 2/6
    assert 3 * 2 + 0 == 6 and 0 + 3 * 2 == 6
    assert 2 * 1 + 1 * 0 == 2
