"""Window-function queries (SURVEY.md §2.5 W1-W6). All reference windows are
whole-partition (grouped mutate), no frames, no lead/lag — row_number is the
only ranking used."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from n2khab_mhq_data_spark.catalog import load
from n2khab_mhq_data_spark.plans import query
from n2khab_mhq_data_spark.streaming.incremental import windowed_event_counts


@query(
    "w1_dup_detector",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS orderdate,
             o_orderkey AS orderkey,
             CAST(count(*) OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE))
                  AS BIGINT) AS n
      FROM orders
    ) t WHERE n > 1
    """,
)
def w1_dup_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 duplicate detector: group_by(keys) |> mutate(n = n()) |> filter(n>1)
    (~20 sites, query_fieldmap.Rmd:1370-1385). Flags customers placing more
    than one order on the same day."""
    o = load(spark, sf_dir, "orders").withColumn(
        "orderdate", F.col("o_orderdate").cast("date")
    )
    w = W.partitionBy("o_custkey", "orderdate")
    return (
        o.withColumn("n", F.count("*").over(w))
        .filter(F.col("n") > 1)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("orderdate"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("n"),
        )
    )


@query(
    "w2_keep_latest",
    oracle="""
    SELECT user_id, event_type, CAST(ts AS DATE) AS day, event_id
    FROM (
      SELECT user_id, event_type, ts, event_id,
             max(ts) OVER (PARTITION BY user_id, event_type) AS max_ts
      FROM events
    ) t WHERE ts = max_ts
    """,
)
def w2_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 most-recent-wins dedup: filter(date_status == max(date_status))
    (query_fieldmap.Rmd:1376-1379). Note: ALL rows tied at the max survive —
    that is the reference semantic, distinct from W3's single-row slice."""
    e = load(spark, sf_dir, "events")
    return (
        e.selectExpr(
            "*", "max(ts) OVER (PARTITION BY user_id, event_type) AS max_ts"
        )
        .where("ts = max_ts")
        .selectExpr("user_id", "event_type", "CAST(ts AS DATE) AS day", "event_id")
    )


@query(
    "w3_top1_per_group",
    oracle="""
    SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
           round(l_extendedprice, 2) AS price
    FROM (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice DESC, l_linenumber)
               AS rn
      FROM lineitem
    ) t WHERE rn = 1
    """,
)
def w3_top1_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 top-1 per group by ordering (slice_min/slice_max,
    query_fieldmap.Rmd:1573): priciest line of each order, tiebroken on
    linenumber for determinism."""
    li = load(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_linenumber")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            F.round("l_extendedprice", 2).alias("price"),
        )
    )


@query(
    "w4_window_string_concat",
    oracle="""
    SELECT n_regionkey AS regionkey,
           string_agg(n_name, '; ' ORDER BY n_name) AS members,
           count(*) > 1 AS mixed
    FROM nation GROUP BY n_regionkey
    """,
)
def w4_window_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 group-windowed string concat + mixed flag (mutate(desc =
    str_c(collapse='; '), mixed_plot = n() > 1), query_fieldmap.Rmd:1570-1572).
    collect_list over a window is unordered — array_sort restores determinism."""
    n = load(spark, sf_dir, "nation")
    w = W.partitionBy("n_regionkey")
    return (
        n.withColumn(
            "members",
            F.array_join(F.array_sort(F.collect_list("n_name").over(w)), "; "),
        )
        .withColumn("mixed", F.count("*").over(w) > 1)
        .select(F.col("n_regionkey").alias("regionkey"), "members", "mixed")
        .distinct()
    )


@query(
    "w5_window_sums_flags",
    oracle="""
    SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
           round(sum(l_quantity) OVER (PARTITION BY l_orderkey), 2)
             AS order_qty,
           bool_or(l_returnflag = 'R') OVER (PARTITION BY l_orderkey)
             AS any_returned,
           round(l_quantity / sum(l_quantity) OVER (PARTITION BY l_orderkey)
                 + 1e-9, 6)
             AS qty_share
    FROM lineitem
    """,
)
def w5_window_sums_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 group-windowed sums/flags (mutate(phab = sum(...), any_match =
    any(...)), check_observed_habitat_type.Rmd:204-211)."""
    li = load(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_orderkey")
    return li.select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenumber"),
        F.round(F.sum("l_quantity").over(w), 2).alias("order_qty"),
        F.bool_or(F.col("l_returnflag") == "R").over(w).alias("any_returned"),
        F.round(
            F.col("l_quantity") / F.sum("l_quantity").over(w) + F.lit(1e-9), 6
        ).alias("qty_share"),
    )


@query(
    "w6_distinct_count_filter",
    oracle="""
    SELECT user_id, event_id, event_type
    FROM (
      SELECT user_id, event_id, event_type,
             count(DISTINCT event_type) OVER (PARTITION BY user_id) AS n_types
      FROM events
    ) t WHERE n_types >= 4
    """,
)
def w6_distinct_count_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 distinct-count-per-group as filter (filter(n_distinct(type) > 1),
    query_fieldmap.Rmd:1585-1587). countDistinct is unsupported over Spark
    windows — size(collect_set(...)) is the idiomatic equivalent."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    return (
        e.withColumn("n_types", F.size(F.collect_set("event_type").over(w)))
        .filter(F.col("n_types") >= 4)
        .select("user_id", "event_id", "event_type")
    )


@query(
    "streaming_windowed_counts",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS DATE) AS window_day,
           CAST(extract(hour FROM ts) AS INTEGER) AS window_hour,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value) + 1e-9, 2) AS value_sum
    FROM events GROUP BY 1, 2, 3
    """,
)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event aggregation — the streaming.incremental
    windowed-agg shape run in batch mode (identical plan semantics; the
    watermark is a no-op on bounded input). Window start split into
    day+hour for engine-portable comparison."""
    e = load(spark, sf_dir, "events")
    out = windowed_event_counts(e, window="1 hour", watermark="2 hours")
    return out.select(
        F.col("window_start").cast("date").alias("window_day"),
        F.hour("window_start").alias("window_hour"),
        "event_type",
        "n",
        "value_sum",
    )


@query(
    "w7_session_window",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, brk DESC
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id, CAST(epoch_ms(min(ts)) AS BIGINT) AS session_start_ms,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value) + 1e-9, 2) AS value_sum
    FROM s GROUP BY user_id, sid
    """,
)
def w7_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via the built-in session_window (30-minute gap): the
    streaming-capable session aggregation (works identically under
    readStream + watermark). The oracle derives the same sessions with the
    classic gap-and-islands window pattern — a new session starts when the
    gap to the previous event reaches the 30-minute window, matching
    session_window's half-open [start, last+gap) semantics."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value") + F.lit(1e-9), 2).alias("value_sum"),
        )
        .select(
            "user_id",
            F.unix_millis(F.col("session_window.start")).alias(
                "session_start_ms"
            ),
            "n_events",
            "value_sum",
        )
    )


@query(
    "w9_lead_lag_gaps",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d,
             lag(CAST(o_orderdate AS DATE)) OVER w AS prev_d,
             lead(CAST(o_orderdate AS DATE)) OVER w AS next_d
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           CAST(d - prev_d AS INTEGER) AS days_since_prev,
           CAST(next_d - d AS INTEGER) AS days_until_next
    FROM o
    """,
)
def w9_lead_lag_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag offset windows (beyond the reference's whole-partition
    windows): per-customer day gaps between consecutive orders under a
    total order — the repeat-visit cadence shape every monitoring series
    needs."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.datediff(d, F.lag(d).over(w)).alias("days_since_prev"),
        F.datediff(F.lead(d).over(w), d).alias("days_until_next"),
    )


@query(
    "ts_rolling_p95",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id, value,
             list_sort(list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS s
      FROM events WHERE value IS NOT NULL
    ), q AS (
      SELECT user_id, event_id, value, len(s) AS k,
             CAST(floor(0.95 * (len(s) - 1)) AS INTEGER) AS lo, s
      FROM v
    )
    SELECT user_id, event_id,
           CAST(k AS INTEGER) AS n_window,
           round(s[lo + 1]
                 + (s[least(lo + 2, k)] - s[lo + 1])
                   * (0.95 * (k - 1) - lo) + 1e-9, 6) AS rolling_p95,
           value > s[lo + 1]
                   + (s[least(lo + 2, k)] - s[lo + 1])
                     * (0.95 * (k - 1) - lo) AS above_p95
    FROM q
    """,
)
def ts_rolling_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact p95 over each user's last 5 events — the
    telemetry anomaly-threshold primitive (flag events above their own
    trailing percentile). The window frame is bounded (5 rows), so the
    exact quantile is a tiny in-frame sort: collect_list over the frame
    -> array_sort -> closed-form linear interpolation, all codegen'd
    Column algebra — no UDF, one shuffle on the user key like every
    W-family window. The oracle spells out the SAME interpolation
    arithmetic (identical FP ops), so values hash-match; both sides
    order the frame by the unique (ts, event_id). NULL values are
    filtered BEFORE the window on both sides (the ts_ewma /
    events_ohlc_bars convention): Spark's collect_list drops NULLs from
    the frame while DuckDB's list() keeps them (sorted first), so an
    unfiltered NULL would silently desynchronize k, the quantile index,
    and the interpolation between the engines."""
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    s = F.array_sort(F.collect_list("value").over(w))
    k = F.size(s)
    lo = F.floor(0.95 * (k - 1)).cast("int")
    frac = 0.95 * (k - 1) - lo
    p95 = F.element_at(s, lo + 1) + (
        F.element_at(s, F.least(lo + 2, k)) - F.element_at(s, lo + 1)
    ) * frac
    return e.select(
        "user_id",
        "event_id",
        k.cast("int").alias("n_window"),
        F.round(p95 + F.lit(1e-9), 6).alias("rolling_p95"),
        (F.col("value") > p95).alias("above_p95"),
    )


@query(
    "ts_gap_fill",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), spans AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1
      FROM daily GROUP BY 1
    ), grid AS (
      SELECT user_id, CAST(g.d AS DATE) AS day
      FROM spans, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS g(d)
    )
    SELECT g.user_id, g.day, coalesce(daily.n, 0) AS n
    FROM grid g LEFT JOIN daily
      ON g.user_id = daily.user_id AND g.day = daily.day
    """,
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: per-user daily event counts with missing
    days zero-filled over each user's observed span — the resample/fill
    shape every monitoring series needs (a per-entity date scaffold, NOT a
    global calendar join). sequence() + explode generates each user's grid
    from its own min/max — grid size is bounded by the span, and the
    left join back to counts shuffles on the same (user, day) key."""
    e = load(spark, sf_dir, "events")
    daily = (
        e.select("user_id", F.col("ts").cast("date").alias("day"))
        .groupBy("user_id", "day")
        .agg(F.count("*").alias("n"))
    )
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = spans.select(
        "user_id",
        F.explode(F.sequence("d0", "d1")).alias("day"),
    )
    return grid.join(daily, ["user_id", "day"], "left").select(
        "user_id", "day", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )


@query(
    "events_funnel",
    oracle="""
    WITH stage AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purch
      FROM events GROUP BY 1
    )
    SELECT user_id,
           t_view IS NOT NULL AS saw_view,
           coalesce(t_view IS NOT NULL AND t_click > t_view, FALSE)
             AS clicked_after_view,
           coalesce(t_view IS NOT NULL AND t_click > t_view
                    AND t_purch > t_click, FALSE) AS purchased_after_click
    FROM stage
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase): first
    occurrence per stage via conditional min, ordering checks between
    stages. One aggregation pass over the event stream — no self-joins,
    no per-user sorting; null comparisons make missing stages fail the
    ordering predicate exactly as in SQL."""
    e = load(spark, sf_dir, "events")
    stage = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "t_click"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purch"
        ),
    )
    saw_view = F.col("t_view").isNotNull()
    clicked = saw_view & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purch") > F.col("t_click"))
    return stage.select(
        "user_id",
        saw_view.alias("saw_view"),
        F.coalesce(clicked, F.lit(False)).alias("clicked_after_view"),
        F.coalesce(purchased, F.lit(False)).alias("purchased_after_click"),
    )


@query(
    "events_hopping_counts",
    oracle="""
    SELECT CAST(win AS DATE) AS window_day,
           CAST(extract(hour FROM win) AS INTEGER) AS window_hour,
           CAST(extract(minute FROM win) AS INTEGER) AS window_min,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value) + 1e-9, 2) AS value_sum
    FROM (
      SELECT to_timestamp(CAST(floor(epoch(ts) / 1800) * 1800
                               - j.j * 1800 AS BIGINT)) AS win,
             event_type, value
      FROM events, unnest([0, 1]) AS j(j)
    )
    GROUP BY 1, 2, 3, 4
    """,
)
def events_hopping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregation (1h windows sliding every 30min — each
    event lands in exactly two overlapping windows): the sliding-window
    counterpart of the tumbling streaming_windowed_counts, via Spark's
    native window(ts, size, slide) generator. The oracle enumerates each
    event's two window starts arithmetically. Window start split into
    day/hour/minute for engine-portable comparison."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value") + F.lit(1e-9), 2).alias("value_sum"),
        )
        .select(
            F.col("window.start").cast("date").alias("window_day"),
            F.hour("window.start").alias("window_hour"),
            F.minute("window.start").alias("window_min"),
            "event_type",
            "n",
            "value_sum",
        )
    )


@query(
    "events_trending_topk",
    oracle="""
    WITH counts AS (
      SELECT to_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT))
               AS ws,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT ws, event_type, n,
             row_number() OVER (PARTITION BY ws
                                ORDER BY n DESC, event_type) AS rnk
      FROM counts
    )
    SELECT CAST(ws AS DATE) AS window_day,
           CAST(extract(hour FROM ws) AS INTEGER) AS window_hour,
           CAST(rnk AS INTEGER) AS rank,
           event_type,
           CAST(n AS BIGINT) AS n
    FROM ranked WHERE rnk <= 3
    """,
)
def events_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window trending top-3 leaderboard over tumbling 1h windows,
    ranked by streaming/trending.py's trending_topk (this entry puts the
    ranking under the driver's value hash and the DuckDB oracle).
    One shuffle for the windowed count, one window partitioned by
    window_start for the rank. Window start split day/hour for
    engine-portable comparison."""
    from n2khab_mhq_data_spark.streaming.trending import trending_topk

    e = load(spark, sf_dir, "events")
    counts = (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n"
        )
    )
    return trending_topk(counts, 3).select(
        F.col("window_start").cast("date").alias("window_day"),
        F.hour("window_start").alias("window_hour"),
        "rank",
        "event_type",
        "n",
    )


@query(
    "events_cohort_retention",
    oracle="""
    WITH activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), cohort AS (
      SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY 1
    )
    SELECT c.cohort_day,
           CAST(a.day - c.cohort_day AS BIGINT) AS day_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM activity a JOIN cohort c USING (user_id)
    WHERE a.day - c.cohort_day <= 7
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, distinct
    active users per day-offset for the first week. Two aggregations on
    the same user_id partitioning (the cohort attach is a co-partitioned
    join — one shuffle total on user_id, then the small cohort-day
    regroup); integer-only output."""
    e = load(spark, sf_dir, "events")
    activity = e.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    j = activity.join(cohort, "user_id").withColumn(
        "day_offset", F.datediff("day", "cohort_day").cast("long")
    )
    return (
        j.filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@query(
    "events_asof_attribution",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, event_id AS click_id FROM events
      WHERE event_type = 'click'
    ), views AS (
      SELECT user_id, ts AS view_ts, max(event_id) AS view_id
      FROM events WHERE event_type = 'view' GROUP BY 1, 2
    )
    SELECT c.click_id, c.user_id, v.view_id,
           CASE WHEN v.view_id IS NULL THEN NULL
                ELSE epoch_us(c.ts) - epoch_us(v.view_ts) END AS lag_us
    FROM clicks c ASOF LEFT JOIN views v
      ON c.user_id = v.user_id AND c.ts >= v.view_ts
    """,
)
def events_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN: attach to every click the same user's most recent view
    at-or-before it, plus the view->click latency in exact microseconds —
    the classic attribution alignment. Spark has no built-in as-of; the
    operator is the union + last-ignoring-nulls shape (one shuffle, no
    range-join explosion; see operators/asof.py). The oracle uses
    DuckDB's NATIVE ASOF JOIN, so two entirely different as-of
    implementations must agree row-for-row."""
    from n2khab_mhq_data_spark.operators.asof import asof_join

    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
        .select("user_id", "ts", F.col("ts").alias("view_ts"), "view_id")
    )
    out = asof_join(clicks, views, "user_id", "ts", ["view_ts", "view_id"])
    return out.select(
        "click_id",
        "user_id",
        "view_id",
        F.when(
            F.col("view_id").isNotNull(),
            F.unix_micros("ts") - F.unix_micros("view_ts"),
        ).alias("lag_us"),
    )


@query(
    "events_session_assign",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, event_id,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, brk DESC
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    ), sessions AS (
      SELECT user_id, CAST(epoch_us(min(ts)) AS BIGINT) AS s_start_us,
             CAST(epoch_us(max(ts)) AS BIGINT) AS s_end_us
      FROM s GROUP BY user_id, sid
    ), pts AS (
      SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS t_us
      FROM events
    )
    SELECT p.event_id, p.user_id, v.s_start_us, v.s_end_us
    FROM pts p JOIN sessions v
      ON p.user_id = v.user_id
     AND p.t_us BETWEEN v.s_start_us AND v.s_end_us
    """,
)
def events_session_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE JOIN: assign every event to its session's [first, last]
    interval — sessions from Spark's native session_window (30-min gap),
    the join via the bucketed-interval equi-join (operators/rangejoin.py:
    intervals explode to covered 30-min buckets, points hash to one
    bucket, exact range filter inside buckets — never a nested-loop range
    condition). The oracle computes sessions with lag/cumsum SQL and a
    plain BETWEEN join, so both the sessionization and the range-join
    mechanics are differentially pinned."""
    from n2khab_mhq_data_spark.operators.rangejoin import range_join_bucketed

    e = load(spark, sf_dir, "events")
    sessions = (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.min("ts").alias("s_min"), F.max("ts").alias("s_max"))
        .select(
            "user_id",
            F.unix_micros("s_min").alias("s_start_us"),
            F.unix_micros("s_max").alias("s_end_us"),
        )
    )
    pts = e.select("user_id", "event_id", F.unix_micros("ts").alias("t_us"))
    out = range_join_bucketed(
        pts, sessions, "user_id", "t_us", "s_start_us", "s_end_us",
        bucket_width=1_800_000_000,
    )
    return out.select("event_id", "user_id", "s_start_us", "s_end_us")


@query(
    "events_hypertable_rollup",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             count(*) AS n, sum(value) AS v
      FROM events GROUP BY 1, 2
    ), daily AS (
      SELECT event_type, date_trunc('day', bucket) AS bucket,
             sum(n) AS n, sum(v) AS v
      FROM hourly GROUP BY 1, 2
    )
    SELECT 'hour' AS level, event_type,
           CAST(epoch_us(bucket) AS BIGINT) AS bucket_us,
           CAST(n AS BIGINT) AS n, round(v + 1e-9, 2) AS value_sum
    FROM hourly
    UNION ALL
    SELECT 'day', event_type, CAST(epoch_us(bucket) AS BIGINT),
           CAST(n AS BIGINT), round(v + 1e-9, 2)
    FROM daily
    """,
)
def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: the DAILY rollup is
    re-aggregated FROM THE HOURLY PARTIALS (sum of sums / sum of counts —
    algebraic), never from raw events — the TimescaleDB continuous-
    aggregate pattern that makes coarser granularities nearly free at
    100 TB. Both levels are emitted with a level tag; the oracle computes
    the same two-stage reduction."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count("*").alias("n"), F.sum("value").alias("v"))
    daily = hourly.groupBy(
        "event_type", F.date_trunc("day", "bucket").alias("bucket")
    ).agg(F.sum("n").alias("n"), F.sum("v").alias("v"))
    def fmt(df, level):
        return df.select(
            F.lit(level).alias("level"),
            "event_type",
            F.unix_micros("bucket").alias("bucket_us"),
            F.col("n").cast("long").alias("n"),
            F.round(F.col("v") + F.lit(1e-9), 2).alias("value_sum"),
        )
    return fmt(hourly, "hour").unionByName(fmt(daily, "day"))


@query(
    "streaming_interval_join",
    oracle="""
    WITH l AS (
      SELECT user_id, ts, event_id AS click_id FROM events
      WHERE event_type = 'click'
    ), r AS (
      SELECT user_id AS r_user_id, ts AS r_ts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
    )
    SELECT l.click_id, r.purchase_id, l.user_id,
           CAST(date_diff('second', l.ts, r.r_ts) AS BIGINT) AS secs_between
    FROM l JOIN r
      ON l.user_id = r.r_user_id
     AND r.r_ts > l.ts
     AND r.r_ts <= l.ts + INTERVAL 30 MINUTE
    """,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (click -> purchase within
    30 min, the attribution shape): the SAME plan runs under readStream
    with both sides watermarked so join state expires
    (tests/test_streaming.py::test_interval_join_stream_equals_batch);
    here it runs in batch mode against the DuckDB oracle."""
    from n2khab_mhq_data_spark.streaming.incremental import (
        interval_join_stream,
    )

    e = load(spark, sf_dir, "events")
    left = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    right = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    out = interval_join_stream(left, right)
    return out.select(
        "click_id",
        "purchase_id",
        "user_id",
        (
            F.unix_timestamp("r_ts") - F.unix_timestamp("ts")
        ).alias("secs_between"),
    )


@query(
    "streaming_dedup_first_touch",
    oracle="""
    SELECT user_id, event_type, event_id, ts, value
    FROM (
      SELECT user_id, event_type, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def streaming_dedup_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exactly-once ingestion dedup's batch contract: first event per
    (user, type) by event time with a total-order tiebreak. The streaming
    sibling (dropDuplicatesWithinWatermark, bounded key state) is pinned
    by tests/test_streaming.py::test_dedup_within_watermark_state_expiry."""
    from n2khab_mhq_data_spark.streaming.incremental import dedup_stream

    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    return dedup_stream(e, keys=("user_id", "event_type"))


@query(
    "ts_ewma",
    oracle="""
    WITH RECURSIVE o AS (
      SELECT user_id, event_id, value,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events WHERE value IS NOT NULL
    ), r AS (
      SELECT user_id, event_id, rn, value AS s FROM o WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.event_id, o.rn,
             0.25 * o.value + 0.75 * r.s
      FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id, event_id,
           round(s + sign(s) * 1e-9, 6) AS ewma
    FROM r
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA over the event stream (alpha=0.25, adjust=False):
    genuinely recursive per-key state, so it runs as an Arrow grouped
    map (operators/timeseries.py::ewma) — one shuffle on user_id,
    pandas' C ewm loop inside. The oracle replays the recurrence with a
    recursive CTE, pinning every intermediate smoothed value."""
    from n2khab_mhq_data_spark.functions.scalars import eps_round
    from n2khab_mhq_data_spark.operators.timeseries import ewma

    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "event_id", "ts", "value")
    )
    out = ewma(e, ["user_id"], ["ts", "event_id"], "value", alpha=0.25)
    return out.select(
        "user_id", "event_id", eps_round(F.col("ewma"), 6).alias("ewma")
    )


@query(
    "streaming_interval_join_outer",
    oracle="""
    WITH l AS (
      SELECT user_id, ts, event_id AS click_id FROM events
      WHERE event_type = 'click'
    ), r AS (
      SELECT user_id AS r_user_id, ts AS r_ts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
    )
    SELECT l.click_id, r.purchase_id, l.user_id,
           r.purchase_id IS NULL AS unattributed
    FROM l LEFT JOIN r
      ON l.user_id = r.r_user_id
     AND r.r_ts > l.ts
     AND r.r_ts <= l.ts + INTERVAL 30 MINUTE
    """,
)
def streaming_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer watermarked interval join — the UNattributed-clicks
    report: clicks with no purchase inside the window come out
    null-padded. Under readStream the null-padded rows are emitted when
    the watermark passes the interval bound (engine-tested in
    tests/test_streaming.py::test_interval_join_left_outer_emits_unmatched);
    batch mode, as here, emits them immediately."""
    from n2khab_mhq_data_spark.streaming.incremental import (
        interval_join_stream,
    )

    e = load(spark, sf_dir, "events")
    left = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    right = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    out = interval_join_stream(left, right, how="left_outer")
    return out.select(
        "click_id",
        "purchase_id",
        "user_id",
        F.col("purchase_id").isNull().alias("unattributed"),
    )


@query(
    "scd2_user_status",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ), ch AS (
      SELECT user_id, event_type, event_id, ts AS valid_from FROM o
      WHERE prev IS DISTINCT FROM event_type
    )
    SELECT user_id, event_type AS status, event_id, valid_from,
           lead(valid_from) OVER (
             PARTITION BY user_id ORDER BY valid_from, event_id
           ) AS valid_to,
           lead(valid_from) OVER (
             PARTITION BY user_id ORDER BY valid_from, event_id
           ) IS NULL AS is_current
    FROM ch
    """,
)
def scd2_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 validity intervals over each user's event-type stream:
    consecutive same-status events collapse, each surviving row carries
    [valid_from, valid_to) and an is_current flag
    (operators/scd.py::scd2_history — two windows over ONE key
    partitioning)."""
    from n2khab_mhq_data_spark.operators.scd import scd2_history

    e = load(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type", "ts", "event_id"
    )
    out = scd2_history(
        e, ["user_id"], ["event_type"], "ts", tiebreak_cols=["event_id"]
    )
    return out.selectExpr(
        "user_id",
        "event_type AS status",
        "event_id",
        "valid_from",
        "valid_to",
        "is_current",
    )


@query(
    "events_ohlc_bars",
    oracle="""
    SELECT event_type, date_trunc('hour', ts) AS bucket,
           round(first(value ORDER BY ts, event_id) + 1e-9, 6) AS open,
           round(max(value) + 1e-9, 6) AS high,
           round(min(value) + 1e-9, 6) AS low,
           round(last(value ORDER BY ts, event_id) + 1e-9, 6) AS close,
           CAST(count(value) AS BIGINT) AS n
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling bars (the classic time-series resample): per
    (event_type, hour) open/high/low/close/count, open and close picked
    by (ts, event_id) order via min_by/max_by over a struct key — ONE
    map-side-combinable aggregation, no window, no sort. The oracle uses
    DuckDB's ordered-aggregate first()/last() for the same picks."""
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    key = F.struct("ts", "event_id")
    return e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.round(F.min_by("value", key) + F.lit(1e-9), 6).alias("open"),
        F.round(F.max("value") + F.lit(1e-9), 6).alias("high"),
        F.round(F.min("value") + F.lit(1e-9), 6).alias("low"),
        F.round(F.max_by("value", key) + F.lit(1e-9), 6).alias("close"),
        F.count("value").cast("bigint").alias("n"),
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), pairs AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY from_type) + 1e-9, 6)
             AS p
    FROM pairs
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lead() per user (one shuffle on user_id), pair counts
    (map-side combinable), row-normalized probabilities via a window
    over the TINY (type x type) matrix. The sequence-analytics
    companion to events_funnel — same plan family as W9's lead/lag."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n")
            / F.sum("n").over(W.partitionBy("from_type"))
            + F.lit(1e-9),
            6,
        ).alias("p"),
    )


@query(
    "ts_cusum_changepoint",
    oracle="""
    WITH x AS (
      SELECT event_type, event_id, ts,
             CAST(floor(value * 100) AS BIGINT) AS v
      FROM events
    ), m AS (
      SELECT event_type, CAST(floor(avg(v)) AS BIGINT) AS target
      FROM x GROUP BY 1
    ), c AS (
      SELECT x.event_type, event_id, ts,
             sum(v - target - 5) OVER w AS csum
      FROM x JOIN m ON m.event_type = x.event_type
      WINDOW w AS (PARTITION BY x.event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), s AS (
      SELECT event_type, ts,
             csum - min(csum) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
      FROM c
    )
    SELECT event_type,
           CAST(count(*) FILTER (WHERE cusum > 150000) AS BIGINT)
             AS n_alarms,
           min(ts) FILTER (WHERE cusum > 150000) AS first_alarm_ts,
           CAST(max(cusum) AS BIGINT) AS max_cusum
    FROM s GROUP BY 1
    """,
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point detection per event type — the
    drift-monitoring companion to the point-in-time gates
    (``ts_rolling_p95`` anomalies, ``audit_constraint_suite``): alarms
    when the cumulative excess over the per-type mean (minus slack)
    exceeds a threshold. The textbook recursion
    S_i = max(0, S_{i-1} + e_i) is NOT window-expressible, but its
    closed form S_i = C_i - min_{j<=i} C_j is: one running sum + one
    running min over the same (type, time) window partitioning — two
    frames, ONE shuffle, no recursion, no Python. All arithmetic is in
    integer cents (floor(value*100)) so running-window accumulation
    order — which engines are free to tree-reduce — cannot drift the
    result. h = 1500.00, slack = 0.05 per observation."""
    e = load(spark, sf_dir, "events")
    x = e.select(
        "event_type",
        "event_id",
        "ts",
        F.floor(F.col("value") * 100).cast("long").alias("v"),
    )
    m = x.groupBy("event_type").agg(
        F.floor(F.avg("v")).cast("long").alias("target")
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = x.join(F.broadcast(m), "event_type").select(
        "event_type",
        "event_id",
        "ts",
        F.sum(F.col("v") - F.col("target") - 5).over(w).alias("csum"),
    )
    s = c.select(
        "event_type",
        "ts",
        (F.col("csum") - F.min("csum").over(w)).alias("cusum"),
    )
    alarm = F.col("cusum") > 150000
    return s.groupBy("event_type").agg(
        F.count(F.when(alarm, 1)).cast("long").alias("n_alarms"),
        F.min(F.when(alarm, F.col("ts"))).alias("first_alarm_ts"),
        F.max("cusum").cast("long").alias("max_cusum"),
    )


@query(
    "events_frequent_paths",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), p AS (
      SELECT event_type || ' > ' || e2 || ' > ' || e3 AS path,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM s WHERE e3 IS NOT NULL
      GROUP BY 1
    )
    SELECT path, n, n_users FROM p
    ORDER BY n DESC, path LIMIT 15
    """,
)
def events_frequent_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 most frequent 3-step event paths (consecutive triples per
    user timeline) — the sequence-mining companion to
    ``events_markov_transitions`` (which sees only pairwise hops) and
    ``events_funnel`` (which checks ONE fixed path): here the frequent
    paths are DISCOVERED. Two lead() frames share one (user, time)
    window partitioning — a single shuffle — then a path-grain count;
    the top-k is a TakeOrderedAndProject, never a global sort. At
    100 TB the path-count table is bounded by |event_type|^3, not by
    rows."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    p = s.select(
        F.concat_ws(" > ", "event_type", "e2", "e3").alias("path"),
        "user_id",
    ).groupBy("path").agg(
        F.count("*").cast("long").alias("n"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )
    return p.orderBy(F.col("n").desc(), "path").limit(15)


@query(
    "events_cuped_adjustment",
    oracle="""
    WITH u AS (
      SELECT user_id,
             avg(CASE WHEN ts <  TIMESTAMP '2024-01-16' THEN value END)
               AS x,
             avg(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN value END)
               AS y
      FROM events GROUP BY 1
    ), c AS (
      SELECT user_id, user_id % 2 AS arm, x, y FROM u
      WHERE x IS NOT NULL AND y IS NOT NULL
    ), th AS (
      SELECT covar_samp(x, y) / var_samp(x) AS theta, avg(x) AS mx
      FROM c
    )
    SELECT CAST(c.arm AS INTEGER) AS arm,
           CAST(count(*) AS BIGINT) AS n_users,
           round(avg(c.y) + 1e-9, 6) AS raw_mean,
           round(avg(c.y - th.theta * (c.x - th.mx)) + 1e-9, 6)
             AS cuped_mean,
           round(var_samp(c.y - th.theta * (c.x - th.mx))
                 / var_samp(c.y) + 1e-9, 6) AS var_ratio
    FROM c, th
    GROUP BY c.arm, th.theta, th.mx
    """,
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for experiment readouts: per-user
    pre-period covariate x (mean event value before the mid-month cutover) and
    outcome y (mean after), theta = cov(x,y)/var(x) fitted on ALL
    units, adjusted outcome y - theta (x - mean x), reported per
    synthetic arm (user_id parity) with the achieved variance ratio.
    The standard experimentation-analytics kernel (Deng et al.,
    WSDM'13), expressed as two aggregation passes: a user-grain agg
    (one shuffle) and a 1-row theta fit broadcast back — never a
    per-row Python loop. var_ratio < 1 is the entire point of CUPED;
    the pytest asserts it."""
    e = load(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    u = e.groupBy("user_id").agg(
        F.avg(F.when(F.col("ts") < cut, F.col("value"))).alias("x"),
        F.avg(F.when(F.col("ts") >= cut, F.col("value"))).alias("y"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    c = u.select("user_id", (F.col("user_id") % 2).alias("arm"), "x", "y")
    th = c.agg(
        (F.covar_samp("x", "y") / F.var_samp("x")).alias("theta"),
        F.avg("x").alias("mx"),
    )
    adj = c.crossJoin(F.broadcast(th)).withColumn(
        "ya", F.col("y") - F.col("theta") * (F.col("x") - F.col("mx"))
    )
    return adj.groupBy("arm").agg(
        F.count("*").cast("long").alias("n_users"),
        F.round(F.avg("y") + F.lit(1e-9), 6).alias("raw_mean"),
        F.round(F.avg("ya") + F.lit(1e-9), 6).alias("cuped_mean"),
        F.round(
            F.var_samp("ya") / F.var_samp("y") + F.lit(1e-9), 6
        ).alias("var_ratio"),
    ).select(
        F.col("arm").cast("int").alias("arm"),
        "n_users", "raw_mean", "cuped_mean", "var_ratio",
    )


@query(
    "ts_acf",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), lags AS (SELECT CAST(range AS INTEGER) AS lag FROM range(1, 8)),
    p AS (
      SELECT c1.event_type, l.lag, c1.x AS x, c2.x AS y
      FROM d c1 CROSS JOIN lags l
      JOIN d c2 ON c2.event_type = c1.event_type
                AND c2.day = c1.day + l.lag
    ), s AS (
      SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM p GROUP BY 1, 2
    )
    SELECT event_type, lag, n AS n_pairs,
           round((n * sxy - sx * sy) /
                 sqrt(CAST((n * sxx - sx * sx) AS DOUBLE)
                      * (n * syy - sy * sy)) + 1e-9, 6) AS acf
    FROM s WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
)
def ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily event-count series per
    event_type at lags 1..7 (the seasonality probe a forecasting
    pipeline runs before picking a model). Pearson r over lag-aligned
    day pairs computed ENTIRELY in integer sums (n*Sxy - Sx*Sy form) so
    the only float op is the final division — cross-engine exact, no
    sum-order drift. Spark: one groupBy for the daily series (tiny: one
    row per type-day), explode the lag list, one equi-join on the
    shifted day, one partial-aggregable groupBy — the series table is
    dim-sized at any corpus scale, so every join stays broadcastable."""
    e = load(spark, sf_dir, "events")
    d = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    lag_col = F.explode(
        F.array([F.lit(i).cast("int") for i in range(1, 8)])
    ).alias("lag")
    shifted = (
        d.select("event_type", "day", "x", lag_col)
        .select(
            "event_type",
            F.expr("date_add(day, lag)").alias("day"),
            F.col("lag"),
            F.col("x"),
        )
    )
    p = shifted.join(
        d.select("event_type", "day", F.col("x").alias("y")),
        ["event_type", "day"],
    )
    s = p.groupBy("event_type", "lag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        s.filter((varx > 0) & (vary > 0))
        .select(
            "event_type",
            "lag",
            F.col("n").alias("n_pairs"),
            F.round(
                num / F.sqrt(varx.cast("double") * vary) + F.lit(1e-9), 6
            ).alias("acf"),
        )
    )


@query(
    "w11_running_distinct",
    oracle="""
    WITH f AS (
      SELECT event_type, user_id,
             CAST(min(ts) AS DATE) AS first_day
      FROM events GROUP BY 1, 2
    ), daily AS (
      SELECT event_type, first_day AS day,
             CAST(count(*) AS BIGINT) AS new_users
      FROM f GROUP BY 1, 2
    )
    SELECT event_type, day, new_users,
           CAST(sum(new_users) OVER (
             PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_users
    FROM daily
    """,
)
def w11_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT user count per event_type by day — the classic
    'cumulative uniques' curve, which no engine supports as a native
    windowed count(DISTINCT). Scalable shape: distinct collapses to a
    first-touch row per (type, user) via min(ts) (one map-side-combinable
    agg on the full data), then the window runs over the TINY type x day
    series — the unbounded running sum never sees corpus-grain rows."""
    e = load(spark, sf_dir, "events")
    f = e.groupBy("event_type", "user_id").agg(
        F.min("ts").cast("date").alias("first_day")
    )
    daily = f.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count("*").cast("long").alias("new_users"))
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return daily.select(
        "event_type",
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


@query(
    "j14_scd2_point_in_time",
    oracle="""
    WITH m AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events WHERE event_type IN ('signup', 'purchase')
    ), dim AS (
      SELECT user_id, event_type AS status, ts AS valid_from,
             lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      FROM m WHERE prev IS DISTINCT FROM event_type
    ), clicks AS (
      SELECT event_id AS click_id, user_id, ts FROM events
      WHERE event_type = 'click'
    )
    SELECT c.click_id, c.user_id, c.ts, d.status,
           d.valid_from AS status_since
    FROM clicks c LEFT JOIN dim d
      ON d.user_id = c.user_id
     AND c.ts >= d.valid_from
     AND (d.valid_to IS NULL OR c.ts < d.valid_to)
    """,
)
def j14_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join — the feature-store correctness
    primitive: attach to every click the user's milestone status
    (signup/purchase SCD2 interval) that was valid AT click time, never
    a leaked future value. The dimension is built by the same
    operators/scd.py::scd2_history engine as scd2_user_status; the
    fact-to-interval attach is an equi-join on user_id with the
    half-open [valid_from, valid_to) predicate applied INSIDE the join —
    intervals partition each user's timeline, so at most one dim row
    survives per fact and the per-user interval count is bounded by the
    user's change count, keeping the equi-join fan-out linear. Facts
    before the first milestone keep a NULL status via the left join."""
    from n2khab_mhq_data_spark.operators.scd import scd2_history

    e = load(spark, sf_dir, "events")
    m = e.filter(F.col("event_type").isin("signup", "purchase")).select(
        "user_id", "event_type", "ts", "event_id"
    )
    dim = scd2_history(
        m, ["user_id"], ["event_type"], "ts", tiebreak_cols=["event_id"]
    ).select(
        "user_id",
        F.col("event_type").alias("status"),
        "valid_from",
        "valid_to",
    )
    dim = dim.alias("d")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), "user_id", "ts")
        .alias("c")
    )
    cond = (
        (F.col("c.user_id") == F.col("d.user_id"))
        & (F.col("c.ts") >= F.col("d.valid_from"))
        & (F.col("d.valid_to").isNull() | (F.col("c.ts") < F.col("d.valid_to")))
    )
    out = clicks.join(dim, cond, "left")
    return out.select(
        "click_id",
        F.col("c.user_id").alias("user_id"),
        "ts",
        "status",
        F.col("d.valid_from").alias("status_since"),
    )


@query(
    "ts_mann_kendall",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), p AS (
      SELECT a.event_type,
             CAST(sum(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
      FROM d a JOIN d b
        ON b.event_type = a.event_type AND b.day > a.day
      GROUP BY 1
    ), nn AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1
    ), ties AS (
      SELECT event_type,
             CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT event_type, x, count(*) AS t FROM d GROUP BY 1, 2)
      WHERE t > 1 GROUP BY 1
    )
    SELECT nn.event_type, nn.n AS n_days, p.s_stat,
           nn.n * (nn.n - 1) * (2 * nn.n + 5)
             - coalesce(t.tie_term, 0) AS var18,
           round(CASE
             WHEN p.s_stat > 0 THEN (p.s_stat - 1)
               / sqrt((nn.n * (nn.n - 1) * (2 * nn.n + 5)
                       - coalesce(t.tie_term, 0)) / 18.0)
             WHEN p.s_stat < 0 THEN (p.s_stat + 1)
               / sqrt((nn.n * (nn.n - 1) * (2 * nn.n + 5)
                       - coalesce(t.tie_term, 0)) / 18.0)
             ELSE 0.0 END + 1e-9, 6) AS z
    FROM nn
    JOIN p ON p.event_type = nn.event_type
    LEFT JOIN ties t ON t.event_type = nn.event_type
    """,
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test on the daily event-count
    series per type — the non-parametric is-this-metric-drifting test
    (no normality assumption, robust to outliers). The S statistic and
    the tie-corrected variance numerator are PURE INTEGERS (var18 is
    exposed so the exactness is checkable); the normal-approximation z
    is the only float, computed by one shared formula. Scale: the
    pairwise sign sum runs over the DAY-GRAIN series (bounded by the
    calendar, not the corpus), with the series side broadcast — corpus
    rows are touched exactly once by the first groupBy."""
    e = load(spark, sf_dir, "events")
    # r12 (duplicate-scan sweep, guide §5): the day-grain series is
    # referenced 4x (both sides of the pairwise sign join, nn, ties) —
    # without a pin the events fact table is scanned once per
    # non-reused reference (2 scans survived exchange reuse in the r11
    # plan audit). The series is bounded by calendar x |event_type|
    # (never corpus-grain), so pinning it is safe at any scale and
    # makes every marginal read the materialized <= few-thousand-row
    # table: 1 fact scan total. Same class as the audit_psi_drift
    # one-scan rewrite (kept on the scale argument).
    d = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("x")).localCheckpoint(eager=False)
    a = d.alias("a")
    b = d.alias("b")
    p = (
        a.join(
            F.broadcast(b),
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.day") > F.col("a.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.x") > F.col("a.x"), 1)
                .when(F.col("b.x") < F.col("a.x"), -1)
                .otherwise(0)
            ).cast("long").alias("s_stat")
        )
    )
    nn = d.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n")
    )
    ties = (
        d.groupBy("event_type", "x")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).cast("long").alias("tie_term")
        )
    )
    j = (
        nn.join(F.broadcast(p), "event_type")
        .join(F.broadcast(ties), "event_type", "left")
    )
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.coalesce(F.col("tie_term"), F.lit(0))
    )
    denom = F.sqrt(var18 / F.lit(18.0))
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / denom)
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / denom)
        .otherwise(F.lit(0.0))
    )
    return j.select(
        "event_type",
        F.col("n").alias("n_days"),
        "s_stat",
        var18.cast("long").alias("var18"),
        F.round(z + F.lit(1e-9), 6).alias("z"),
    )


@query(
    "events_ab_readout",
    oracle="""
    WITH u AS (
      SELECT o_custkey, CAST(o_custkey % 2 AS INTEGER) AS arm,
             max(CASE WHEN o_totalprice > 450000 THEN 1 ELSE 0 END)
               AS conv
      FROM orders GROUP BY 1, 2
    )
    SELECT
      CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_a,
      CAST(sum(conv) FILTER (WHERE arm = 0) AS BIGINT) AS conv_a,
      round(sum(conv) FILTER (WHERE arm = 0)
            / CAST(count(*) FILTER (WHERE arm = 0) AS DOUBLE)
            + 1e-9, 6) AS rate_a,
      CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_b,
      CAST(sum(conv) FILTER (WHERE arm = 1) AS BIGINT) AS conv_b,
      round(sum(conv) FILTER (WHERE arm = 1)
            / CAST(count(*) FILTER (WHERE arm = 1) AS DOUBLE)
            + 1e-9, 6) AS rate_b,
      round((sum(conv) FILTER (WHERE arm = 0)
               / CAST(count(*) FILTER (WHERE arm = 0) AS DOUBLE)
             - sum(conv) FILTER (WHERE arm = 1)
               / CAST(count(*) FILTER (WHERE arm = 1) AS DOUBLE))
            / sqrt((sum(conv) / CAST(count(*) AS DOUBLE))
                   * (1.0 - sum(conv) / CAST(count(*) AS DOUBLE))
                   * (1.0 / count(*) FILTER (WHERE arm = 0)
                      + 1.0 / count(*) FILTER (WHERE arm = 1)))
            + 1e-9, 6) AS z
    FROM u
    """,
)
def events_ab_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B experiment readout: per-arm user counts,
    purchase-conversion rates, and the pooled two-proportion z statistic
    — the frequentist companion to events_cuped_adjustment (which
    variance-reduces a continuous metric; this tests a binary one).
    Conversion = customer placed at least one > 450k order; the events
    table is degenerate for this (all 150 users fire every event type,
    collapsing the pooled variance to zero). One customer-grain
    aggregate (map-side combinable) then ONE global 1-row aggregate with
    conditional sums — no join anywhere, so the readout costs a single
    shuffle regardless of corpus size. Integer counts feed one fixed
    float expression tree, identical in both engines."""
    o = load(spark, sf_dir, "orders")
    u = o.groupBy(
        "o_custkey", (F.col("o_custkey") % 2).cast("int").alias("arm")
    ).agg(
        F.max(
            F.when(F.col("o_totalprice") > 450000, 1).otherwise(0)
        ).alias("conv")
    )
    is_a = F.col("arm") == 0
    is_b = F.col("arm") == 1
    n_a = F.count(F.when(is_a, 1))
    n_b = F.count(F.when(is_b, 1))
    c_a = F.sum(F.when(is_a, F.col("conv")))
    c_b = F.sum(F.when(is_b, F.col("conv")))
    n = F.count("*")
    c = F.sum("conv")
    p_pool = c / n.cast("double")
    rate_a = c_a / n_a.cast("double")
    rate_b = c_b / n_b.cast("double")
    z = (rate_a - rate_b) / F.sqrt(
        p_pool
        * (F.lit(1.0) - p_pool)
        * (F.lit(1.0) / n_a + F.lit(1.0) / n_b)
    )
    return u.agg(
        n_a.cast("long").alias("n_a"),
        c_a.cast("long").alias("conv_a"),
        F.round(rate_a + F.lit(1e-9), 6).alias("rate_a"),
        n_b.cast("long").alias("n_b"),
        c_b.cast("long").alias("conv_b"),
        F.round(rate_b + F.lit(1e-9), 6).alias("rate_b"),
        F.round(z + F.lit(1e-9), 6).alias("z"),
    )


@query(
    "streaming_late_data_audit",
    oracle="""
    WITH a AS (
      SELECT event_id, ts,
             event_id + CAST(('0x' || substr(
               md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 12
               AS ak
      FROM events
    ), o AS (
      SELECT event_id, ts,
             max(ts) OVER (ORDER BY ak, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS wm_src
      FROM a
    )
    SELECT CAST(date_trunc('hour', ts) AS DATE) AS window_day,
           CAST(extract(hour FROM ts) AS INTEGER) AS window_hour,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN ts < wm_src - INTERVAL 30 MINUTE
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           round(sum(CASE WHEN ts < wm_src - INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)
                 + 1e-9, 6) AS late_ratio
    FROM o GROUP BY 1, 2
    """,
)
def streaming_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data accounting — the observability query an
    operator runs BEFORE picking ``withWatermark``'s delay: replay the
    stream in arrival order and count, per event-time hour, the rows a
    30-minute watermark would have dropped. Arrival order is a
    deterministic md5-jittered permutation of the ingest id (the raw
    feed is perfectly time-ordered, which would make every delay
    look safe); the watermark each row sees is the EXCLUSIVE prefix max
    of event time in arrival order — Spark's actual semantics, where a
    batch's watermark comes from previous batches only. Scale: the
    prefix max is operators/rank.py::global_running_max (TeraSort range
    shuffle + bounded P-row prefix combine), never a single-partition
    global window."""
    from n2khab_mhq_data_spark.operators.rank import global_running_max

    e = load(spark, sf_dir, "events").select("event_id", "ts")
    a = e.withColumn(
        "ak",
        F.col("event_id")
        + F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 8),
            16, 10,
        ).cast("long") % 12,
    )
    o = global_running_max(
        a, [F.col("ak"), F.col("event_id")], "ts", out_col="wm_src"
    )
    late = F.when(
        F.col("ts") < F.col("wm_src") - F.expr("INTERVAL 30 MINUTES"), 1
    ).otherwise(0)
    return o.groupBy(
        F.col("ts").cast("date").alias("window_day"),
        F.hour("ts").alias("window_hour"),
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(late).cast("long").alias("n_late"),
        F.round(
            F.sum(late) / F.count("*").cast("double") + F.lit(1e-9), 6
        ).alias("late_ratio"),
    )


@query(
    "w12_longest_streak",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      FROM events WHERE event_type = 'click'
    ), g AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
      FROM d
    ), s AS (
      SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len,
             min(day) AS streak_start
      FROM g GROUP BY 1, 2
    ), r AS (
      SELECT user_id, len, streak_start,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY len DESC, streak_start) AS rn
      FROM s
    )
    SELECT user_id, len AS longest_streak, streak_start
    FROM r WHERE rn = 1
    """,
)
def w12_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (clicks) — the
    engagement metric, solved with the gaps-and-islands identity:
    day - row_number(day) is constant exactly on consecutive runs, so
    one distinct + two user-partitioned windows + one group count find
    every streak with no self-join and no recursion. Earliest streak
    wins length ties (deterministic). All date/integer arithmetic.
    Scale: everything after the first-touch distinct runs at
    user x active-day grain; windows partition by user — never global."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "click"
    )
    d = e.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    g = d.withColumn(
        "grp",
        F.expr("date_sub(day, CAST(row_number() OVER (PARTITION BY "
               "user_id ORDER BY day) AS INT))"),
    )
    s = g.groupBy("user_id", "grp").agg(
        F.count("*").cast("long").alias("len"),
        F.min("day").alias("streak_start"),
    )
    wr = W.partitionBy("user_id").orderBy(
        F.col("len").desc(), "streak_start"
    )
    return (
        s.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("len").alias("longest_streak"),
                "streak_start")
    )


@query(
    "events_inter_arrival_stats",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY event_type ORDER BY ts, event_id)) AS gap_us
      FROM events
    ), gg AS (SELECT event_type, gap_us FROM g WHERE gap_us IS NOT NULL),
    r AS (
      SELECT event_type, gap_us,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY gap_us, event_type) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM gg
    )
    SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
           CAST(min(CASE WHEN rn * 2 >= n THEN gap_us END) AS BIGINT)
             AS median_gap_us,
           CAST(min(CASE WHEN rn * 20 >= n * 19 THEN gap_us END)
                AS BIGINT) AS p95_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
    FROM r GROUP BY event_type
    """,
)
def events_inter_arrival_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inter-arrival-time distribution per event type (median / p95 /
    max gap in exact microseconds) — the ops-health query behind
    staleness alerts ('this feed's p95 gap doubled'). Quantiles are
    LOWER order statistics selected by integer rank arithmetic
    (rn*2 >= n, rn*20 >= 19n), not interpolated percentiles, so there
    is no cross-engine interpolation formula to drift. One shuffle:
    everything — the lag, the rank, and the aggregate — shares the
    single (event_type) partitioning."""
    e = load(spark, sf_dir, "events")
    wl = W.partitionBy("event_type").orderBy("ts", "event_id")
    gap = (
        F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wl))
    ).alias("gap_us")
    g = e.select("event_type", gap).filter(F.col("gap_us").isNotNull())
    wr = W.partitionBy("event_type").orderBy("gap_us")
    wn = W.partitionBy("event_type")
    r = g.select(
        "event_type",
        "gap_us",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    return r.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_gaps"),
        F.min(
            F.when(F.col("rn") * 2 >= F.col("n"), F.col("gap_us"))
        ).cast("long").alias("median_gap_us"),
        F.min(
            F.when(F.col("rn") * 20 >= F.col("n") * 19, F.col("gap_us"))
        ).cast("long").alias("p95_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )


@query(
    "events_dau_wau_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), dau AS (
      SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1
    ), cover AS (
      SELECT user_id, day + CAST(o.range AS INTEGER) AS obs_day
      FROM ud, range(0, 7) o
    ), wau AS (
      SELECT obs_day AS day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      FROM cover GROUP BY 1
    )
    SELECT d.day, d.dau, w.wau,
           round(d.dau / CAST(w.wau AS DOUBLE) + 1e-9, 6) AS stickiness
    FROM dau d JOIN wau w ON w.day = d.day
    """,
)
def events_dau_wau_stickiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DAU / trailing-7-day WAU stickiness per day — the engagement
    ratio every product dashboard tracks, and a genuinely hard shape:
    WAU is a DISTINCT count over a SLIDING window, which no engine's
    window frame supports. The exact scalable trick: collapse to
    user-days (first distinct), then EXPLODE each user-day onto the 7
    observation days it covers (bounded fan-out = window length) and
    run a plain distinct-count groupBy — sliding-distinct becomes
    tumbling-distinct. Days with no activity simply have no DAU row
    (inner join keeps observed days only)."""
    e = load(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    dau = ud.groupBy("day").agg(F.count("*").cast("long").alias("dau"))
    offs = F.explode(
        F.array([F.lit(i).cast("int") for i in range(7)])
    ).alias("off")
    cover = ud.select("user_id", "day", offs).select(
        "user_id", F.expr("date_add(day, off)").alias("day")
    )
    wau = cover.groupBy("day").agg(
        F.count_distinct("user_id").cast("long").alias("wau")
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.round(
            F.col("dau") / F.col("wau").cast("double") + F.lit(1e-9), 6
        ).alias("stickiness"),
    )


@query(
    "events_time_to_convert",
    oracle="""
    WITH su AS (
      SELECT user_id, min(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ), pu AS (
      SELECT s.user_id, s.signup_ts, min(e.ts) AS purchase_ts
      FROM su s JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'purchase'
       AND e.ts >= s.signup_ts
      GROUP BY 1, 2
    ), lat AS (
      SELECT strftime(signup_ts, '%Y-%m') AS cohort_month,
             epoch_us(purchase_ts) - epoch_us(signup_ts) AS lat_us
      FROM pu
    ), r AS (
      SELECT cohort_month, lat_us,
             row_number() OVER (PARTITION BY cohort_month
                                ORDER BY lat_us) AS rn,
             count(*) OVER (PARTITION BY cohort_month) AS n
      FROM lat
    )
    SELECT cohort_month, CAST(max(n) AS BIGINT) AS n_converted,
           CAST(min(CASE WHEN rn * 2 >= n THEN lat_us END) AS BIGINT)
             AS median_latency_us,
           CAST(min(CASE WHEN rn * 20 >= n * 19 THEN lat_us END)
                AS BIGINT) AS p95_latency_us
    FROM r GROUP BY cohort_month
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert funnel latency: for each user, first signup to
    first AT-OR-AFTER purchase; per signup-cohort month the exact
    lower-median and lower-p95 latency in microseconds (the integer
    rank selection of events_inter_arrival_stats — no interpolation to
    drift). The signup side collapses to one row per user first
    (map-side combinable), the purchase attach is an equi-join on
    user_id with the at-or-after predicate inside the join, then one
    min-aggregate — fan-out bounded by the user's purchase count."""
    e = load(spark, sf_dir, "events")
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    pe = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    pu = (
        su.join(pe, "user_id")
        .filter(F.col("pts") >= F.col("signup_ts"))
        .groupBy("user_id", "signup_ts")
        .agg(F.min("pts").alias("purchase_ts"))
    )
    lat = pu.select(
        F.date_format("signup_ts", "yyyy-MM").alias("cohort_month"),
        (F.unix_micros("purchase_ts") - F.unix_micros("signup_ts"))
        .alias("lat_us"),
    )
    wr = W.partitionBy("cohort_month").orderBy("lat_us")
    wn = W.partitionBy("cohort_month")
    r = lat.select(
        "cohort_month",
        "lat_us",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    return r.groupBy("cohort_month").agg(
        F.max("n").cast("long").alias("n_converted"),
        F.min(
            F.when(F.col("rn") * 2 >= F.col("n"), F.col("lat_us"))
        ).cast("long").alias("median_latency_us"),
        F.min(
            F.when(F.col("rn") * 20 >= F.col("n") * 19, F.col("lat_us"))
        ).cast("long").alias("p95_latency_us"),
    )


@query(
    "j16_nearest_event_join",
    oracle="""
    WITH clicks AS (
      SELECT event_id AS click_id, user_id, ts FROM events
      WHERE event_type = 'click'
    ), views AS (
      SELECT user_id, ts AS view_ts, max(event_id) AS view_id
      FROM events WHERE event_type = 'view' GROUP BY 1, 2
    ), m AS (
      SELECT c.click_id, c.user_id, c.ts, v.view_ts, v.view_id,
             CASE WHEN v.view_ts IS NULL THEN NULL
                  ELSE abs(epoch_us(c.ts) - epoch_us(v.view_ts)) END
               AS dist_us,
             row_number() OVER (
               PARTITION BY c.click_id
               ORDER BY abs(epoch_us(c.ts) - epoch_us(v.view_ts)),
                        v.view_ts, v.view_id) AS rn
      FROM clicks c LEFT JOIN views v ON v.user_id = c.user_id
    )
    SELECT click_id, user_id, view_id, CAST(dist_us AS BIGINT) AS dist_us
    FROM m WHERE rn = 1
    """,
)
def j16_nearest_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-event join — the bidirectional sibling of the backward
    as-of (events_asof_attribution): each click gets the user's view
    CLOSEST in time, before OR after (sensor alignment / nearest-tick
    semantics). The oracle brute-forces all (click, view) pairs per
    user; the Spark side is the scalable union-stream shape: one
    interleave sort per user picks the previous and next view with
    lag-style windows, then one comparison chooses the closer — never a
    per-click fan-out over all views. Ties break earlier-view-first,
    then id, in both engines."""
    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
    )
    # interleave: views carry their id, clicks carry theirs
    u = views.select(
        "user_id", "ts", F.lit(0).alias("is_click"),
        F.col("view_id").alias("vid"), F.lit(None).cast("long")
        .alias("cid"),
    ).unionByName(
        clicks.select(
            "user_id", "ts", F.lit(1).alias("is_click"),
            F.lit(None).cast("long").alias("vid"),
            F.col("click_id").alias("cid"),
        )
    )
    # views sort BEFORE clicks at the same timestamp (is_click asc), so
    # "prev" includes a view at the exact click time — matching the
    # oracle's abs() = 0 preference for the earlier/equal view
    w = W.partitionBy("user_id").orderBy("ts", "is_click", "vid")
    pv_ts = F.last(
        F.when(F.col("is_click") == 0, F.col("ts")), ignorenulls=True
    ).over(w.rowsBetween(W.unboundedPreceding, -1))
    pv_id = F.last(
        F.when(F.col("is_click") == 0, F.col("vid")), ignorenulls=True
    ).over(w.rowsBetween(W.unboundedPreceding, -1))
    nxt = w.rowsBetween(1, W.unboundedFollowing)
    nv_ts = F.first(
        F.when(F.col("is_click") == 0, F.col("ts")), ignorenulls=True
    ).over(nxt)
    nv_id = F.first(
        F.when(F.col("is_click") == 0, F.col("vid")), ignorenulls=True
    ).over(nxt)
    # materialize the window columns BEFORE dropping the view rows — a
    # filter first would remove the very rows the windows must see
    scanned = u.select(
        "*",
        pv_ts.alias("pts"), pv_id.alias("pid"),
        nv_ts.alias("nts"), nv_id.alias("nid"),
    )
    m = scanned.filter(F.col("is_click") == 1).select(
        F.col("cid").alias("click_id"),
        "user_id",
        "ts",
        "pts", "pid", "nts", "nid",
    )
    pd_ = F.unix_micros("ts") - F.unix_micros("pts")
    nd = F.unix_micros("nts") - F.unix_micros("ts")
    # prefer the earlier view on equal distance (oracle tie-break)
    take_prev = F.col("pts").isNotNull() & (
        F.col("nts").isNull() | (pd_ <= nd)
    )
    return m.select(
        "click_id",
        "user_id",
        F.when(take_prev, F.col("pid"))
        .otherwise(F.col("nid")).alias("view_id"),
        F.when(take_prev, pd_)
        .otherwise(nd).cast("long").alias("dist_us"),
    )


@query(
    "streaming_static_enrich",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS DATE) AS window_day,
           CAST(extract(hour FROM ts) AS INTEGER) AS window_hour,
           c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0
                 + 1e-9, 2) AS value_sum
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2, 3
    """,
)
def streaming_static_enrich(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM-STATIC ENRICHMENT: the canonical streaming topology —
    an unbounded event stream broadcast-joined to a slowly-changing
    static dimension (customer segment) BEFORE the windowed
    aggregation, so per-segment rollups come out of one pass. Under
    readStream the identical plan runs continuously: a stream-static
    equi-join is stateless (no watermark needed on the static side)
    and Spark re-plans the broadcast per micro-batch, which is exactly
    why the dimension must stay broadcast-small — the scale contract
    this query pins. Batch mode here (watermark no-op on bounded
    input, same plan semantics — the streaming_windowed_counts
    pattern). Value sums ride the integer cents grid."""
    e = load(spark, sf_dir, "events").select(
        "ts", "user_id",
        F.round(F.col("value") * 100).cast("long").alias("v_c"),
    )
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = e.join(
        F.broadcast(c), e.user_id == c.c_custkey
    )
    return (
        enriched.groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(
                F.sum("v_c").cast("long") / 100.0 + F.lit(1e-9), 2
            ).alias("value_sum"),
        )
        .select(
            F.col("w.start").cast("date").alias("window_day"),
            F.hour("w.start").alias("window_hour"),
            "segment",
            "n",
            "value_sum",
        )
    )


@query(
    "w14_trailing_range_window",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey,
             date_diff('day', DATE '1970-01-01', o_orderdate) AS d,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
    )
    SELECT o_custkey, o_orderkey,
           CAST(count(*) OVER w AS BIGINT) AS n_trailing_30d,
           round(CAST(sum(v) OVER w AS BIGINT) / 100.0 + 1e-9, 2)
             AS spend_trailing_30d
    FROM o
    WINDOW w AS (PARTITION BY o_custkey ORDER BY d
                 RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
    """,
)
def w14_trailing_range_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TRAILING 30-DAY window per customer via a RANGE frame — the
    time-based frame ROWS windows cannot express: the frame holds
    every order whose DATE falls in [current - 29 days, current],
    regardless of how many rows share a date or how sparse the dates
    are (same-day peer orders are all in — the velocity/limit-check
    semantics a risk pipeline needs). Ordering key is exact integer
    days-since-epoch, so both engines resolve identical frames; spend
    rides the cents grid. Plan: ONE partitioned window over the
    customer shuffle — no self-join, no interval explode (the naive
    spellings that quadratic-blow at 100 TB)."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    w = (
        W.partitionBy("o_custkey")
        .orderBy("d")
        .rangeBetween(-29, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count("*").over(w).cast("long").alias("n_trailing_30d"),
        F.round(
            F.sum("v").over(w).cast("long") / 100.0 + F.lit(1e-9), 2
        ).alias("spend_trailing_30d"),
    )


@query(
    "ts_holt_linear",
    oracle="""
    WITH RECURSIVE o AS (
      SELECT user_id, event_id, value,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events WHERE value IS NOT NULL
    ), r AS (
      SELECT user_id, event_id, rn, value AS s, CAST(0.0 AS DOUBLE) AS b
      FROM o WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.event_id, o.rn,
             0.3 * o.value + 0.7 * (r.s + r.b),
             0.2 * ((0.3 * o.value + 0.7 * (r.s + r.b)) - r.s)
               + 0.8 * r.b
      FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id, event_id,
           round(s + sign(s) * 1e-9, 6) AS level,
           round(b + sign(b) * 1e-9, 6) AS trend,
           round((s + b) + sign(s + b) * 1e-9, 6) AS forecast_1
    FROM r
    """,
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user HOLT LINEAR (double exponential) smoothing
    (alpha=0.3, beta=0.2, flat start b_1=0) with the one-step-ahead
    forecast level+trend — the trend-aware sibling of ts_ewma whose
    COUPLED recursion (level feeds trend feeds level) makes it the
    suite's third genuinely-recursive oracle (a mutually-recursive
    CTE carrying BOTH state variables per row). Spark side: Arrow
    grouped map (operators/timeseries.py::holt_linear) — one shuffle
    on user_id, per-series scalar loop mirroring the CTE's arithmetic
    term for term, so both engines walk identical doubles."""
    from n2khab_mhq_data_spark.functions.scalars import eps_round
    from n2khab_mhq_data_spark.operators.timeseries import holt_linear

    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "event_id", "ts", "value")
    )
    out = holt_linear(
        e, ["user_id"], ["ts", "event_id"], "value", alpha=0.3, beta=0.2
    )
    fc = F.col("level") + F.col("trend")
    return out.select(
        "user_id",
        "event_id",
        eps_round(F.col("level"), 6).alias("level"),
        eps_round(F.col("trend"), 6).alias("trend"),
        eps_round(fc, 6).alias("forecast_1"),
    )


@query(
    "j17_interval_union_length",
    oracle="""
    WITH iv AS (
      SELECT user_id,
             CAST(epoch_ms(ts) AS BIGINT) AS s,
             CAST(epoch_ms(ts) AS BIGINT) + 1800000 AS e
      FROM events
    ), o AS (
      SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_e
      FROM iv
    ), islands AS (
      SELECT user_id, s, e,
             CAST(sum(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                      THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS island
      FROM o
    ), merged AS (
      SELECT user_id, island,
             min(s) AS ms, max(e) AS me
      FROM islands GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(me - ms) AS BIGINT) / 60000.0 AS covered_minutes,
           CAST(max(me - ms) AS BIGINT) / 60000.0 AS longest_minutes
    FROM merged GROUP BY 1
    """,
)
def j17_interval_union_length(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INTERVAL UNION per key (gap-and-islands): each event opens a
    30-minute activity interval; overlapping/touching intervals merge
    into islands, and the report is islands, total covered time, and
    the longest stretch per user — the utilization/coverage primitive
    behind billable-time, uptime, and session-coverage reports that
    NAIVE interval self-joins quadratic-blow on. Plan: the classic
    two-window linear spelling — running max of interval ends
    (exclusive) marks island starts, a running sum numbers them, one
    groupBy merges — all windows PARTITIONED by user, one shuffle
    total. Millisecond integer arithmetic end to end."""
    iv = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_millis("ts").alias("s"),
        (F.unix_millis("ts") + 1800000).alias("e"),
    )
    wp = (
        W.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    wc = (
        W.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    o = iv.select(
        "user_id", "s", "e", F.max("e").over(wp).alias("prev_max_e")
    )
    new_island = F.when(
        F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")),
        1,
    ).otherwise(0)
    islands = o.select(
        "user_id", "s", "e",
        F.sum(new_island).over(wc).cast("long").alias("island"),
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_islands"),
        (F.sum(F.col("me") - F.col("ms")).cast("long") / 60000.0).alias(
            "covered_minutes"
        ),
        (F.max(F.col("me") - F.col("ms")).cast("long") / 60000.0).alias(
            "longest_minutes"
        ),
    )
