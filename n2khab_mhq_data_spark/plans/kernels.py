"""Domain-kernel queries K1-K10 (SURVEY.md §2.10) mapped onto the synthetic
tables, each with a DuckDB oracle. The kernels themselves live in
``n2khab_mhq_data_spark.kernels`` / ``operators``; these plans adapt the
synthetic star schema into each kernel's input shape."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from n2khab_mhq_data_spark.catalog import load, local_dim
from n2khab_mhq_data_spark.functions.parsing import parse_measurement
from n2khab_mhq_data_spark.functions.scalars import eps_round, eps_round_sql
from n2khab_mhq_data_spark.kernels.cover import (
    cover_scale_dim,
    decode_cover,
    layer_cover_rollup,
)
from n2khab_mhq_data_spark.kernels.lsvi import (
    aggregate_levels,
    evaluate_conditions,
    rules_dim,
    species_list_dim,
    species_measurements,
)
from n2khab_mhq_data_spark.kernels.tariff import compute_volume, tariff_dim
from n2khab_mhq_data_spark.operators.merge import incremental_merge
from n2khab_mhq_data_spark.operators.relational import membership_flag
from n2khab_mhq_data_spark.plans import query, shared

# SQL literal of kernels.cover.COVER_SCALE_ROWS, kept in sync by tests
_COVER_DIM_SQL = """
  (VALUES ('londo','1',5.0),('londo','2',15.0),('londo','3',25.0),
          ('londo','4',35.0),('londo','5',45.0),
          ('braun_blanquet','r',0.5),('braun_blanquet','+',1.0),
          ('braun_blanquet','1',3.0),('braun_blanquet','2',15.0),
          ('braun_blanquet','3',37.5),('braun_blanquet','4',62.5),
          ('braun_blanquet','5',87.5))
    AS dim(coverscale_name, class_id, cover_mean)
"""

_BB_CLASSES = ["r", "+", "1", "2", "3", "4", "5"]


@query(
    "k1_cover_decode",
    oracle=f"""
    WITH coded AS (
      SELECT event_id,
             CASE WHEN user_id % 2 = 0 THEN 'londo'
                  ELSE 'braun_blanquet' END AS coverscale_name,
             CASE WHEN user_id % 2 = 0
                  THEN CAST(least(CAST(floor(value / 40) AS BIGINT) + 1, 5)
                            AS VARCHAR)
                  ELSE (['r','+','1','2','3','4','5'])
                       [least(CAST(floor(value / 30) AS BIGINT) + 1, 7)]
             END AS class_id
      FROM events WHERE value IS NOT NULL AND value >= 0
    )
    SELECT c.coverscale_name, c.class_id,
           CAST(dim.cover_mean AS DOUBLE) AS cover_mean,
           CAST(count(*) AS BIGINT) AS n
    FROM coded c LEFT JOIN {_COVER_DIM_SQL}
      ON c.coverscale_name = dim.coverscale_name
     AND c.class_id = dim.class_id
    GROUP BY 1, 2, 3
    """,
)
def k1_cover_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 cover-scale decode: (scale, class code) -> mean cover % via the
    broadcast 60-row dimension (query_fieldmap.Rmd:78-93,351-356)."""
    e = load(spark, sf_dir, "events").where("value IS NOT NULL AND value >= 0")
    bb = ", ".join(f"'{x}'" for x in _BB_CLASSES)
    coded = e.selectExpr(
        "event_id",
        "CASE WHEN user_id % 2 = 0 THEN 'londo' ELSE 'braun_blanquet' END"
        " AS coverscale_name",
        "CASE WHEN user_id % 2 = 0"
        " THEN CAST(least(floor(value / 40) + 1, 5) AS STRING)"
        f" ELSE element_at(array({bb}),"
        " CAST(least(floor(value / 30) + 1, 7) AS INT)) END AS class_id",
    )
    decoded = decode_cover(coded, cover_scale_dim(spark))
    return decoded.groupBy("coverscale_name", "class_id", "cover_mean").agg(
        F.expr("count(*) AS n")
    )


@query(
    "k2_type_resolution",
    oracle="""
    WITH seg AS (
      SELECT l_orderkey AS plot_id, l_linenumber AS segment_id,
             l_returnflag AS type_observed, l_quantity AS area,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber, l_returnflag,
                                         l_quantity) AS rn
      FROM lineitem
    ), plot AS (
      SELECT s.plot_id,
             min(CASE WHEN rn = 1 THEN type_observed END) AS plot_type,
             count(DISTINCT type_observed) > 1 AS mixed_plot,
             sum(area) AS total_area
      FROM seg s GROUP BY 1
    )
    SELECT p.plot_id, p.plot_type AS type_observed, p.mixed_plot,
           round(100 * sum(CASE WHEN s.type_observed = p.plot_type
                                THEN s.area ELSE 0 END) / p.total_area
                 + 1e-9, 6) AS cover_pct
    FROM plot p JOIN seg s ON s.plot_id = p.plot_id
    GROUP BY 1, 2, 3, p.total_area
    """,
)
def k2_type_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 plot-level observed-type resolution (query_fieldmap.Rmd:1550-1596):
    the lowest segment's type wins, mixed-plot flag from distinct types,
    cover % of the winning type from segment area shares.

    r11 plan shape (guide §2.3/§2.4): two CHAINED aggregations instead
    of window + countDistinct + self-join. The winner is the argmin of
    the total order (segment_id, type_observed, area); grouping to
    (plot, type) grain first makes the argmin a ``min_by`` over each
    type's minimal triple (the struct embeds the type, so cross-type
    ties are impossible and the pick is deterministic), mixed_plot a
    plain row count, and the winning type's area share a ``min_by`` of
    the per-type sums — no row_number window (one sort saved), no
    count-distinct expand, no join back, and the final exchange moves
    (plot, type)-grain partial aggregates, not raw segments. Area sums
    are integer-valued doubles (quantities), so the regrouped
    association is bit-exact."""
    seg = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("plot_id"),
        F.col("l_linenumber").alias("segment_id"),
        F.col("l_returnflag").alias("type_observed"),
        F.col("l_quantity").alias("area"),
    )
    # (plot_id, segment_id) is NOT unique in the synthetic data — the
    # "lowest segment" pick uses the full (segment, type, area) total
    # order so it stays deterministic
    mkey = F.struct("segment_id", "type_observed", "area")
    per_type = seg.groupBy("plot_id", "type_observed").agg(
        F.sum("area").alias("area_s"),
        F.min(mkey).alias("mkey"),
    )
    return (
        per_type.groupBy("plot_id")
        .agg(
            F.min_by("type_observed", "mkey").alias("type_observed"),
            (F.count("*") > 1).alias("mixed_plot"),
            F.sum("area_s").alias("total_area"),
            F.min_by("area_s", "mkey").alias("matched_area"),
        )
        .select(
            "plot_id",
            "type_observed",
            "mixed_plot",
            F.round(
                100 * F.col("matched_area") / F.col("total_area")
                + F.lit(1e-9),
                6,
            ).alias("cover_pct"),
        )
    )


@query(
    "k3_completeness_audit",
    oracle="""
    SELECT c.c_custkey AS custkey, c.c_mktsegment AS mktsegment,
           c.c_custkey IN (SELECT o_custkey FROM orders) AS has_order,
           c.c_custkey IN (SELECT o_custkey FROM orders
                           WHERE o_orderstatus = 'O') AS has_open,
           c.c_custkey IN (SELECT o_custkey FROM orders
                           WHERE o_totalprice > 20000) AS has_highvalue,
           CASE WHEN c.c_custkey IN (SELECT o_custkey FROM orders
                                     WHERE o_totalprice > 20000) THEN 'full'
                WHEN c.c_custkey IN (SELECT o_custkey FROM orders
                                     WHERE o_orderstatus = 'O') THEN 'partial'
                WHEN c.c_custkey IN (SELECT o_custkey FROM orders)
                     THEN 'minimal'
                ELSE 'none' END AS assessment_source,
           c.c_custkey IN (SELECT o_custkey FROM orders)
             AND NOT c.c_custkey IN (SELECT o_custkey FROM orders
                                     WHERE o_orderstatus = 'O') AS completed
    FROM customer c
    """,
)
def k3_completeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 completeness audit (query_fieldmap.Rmd:1621-1674): membership
    flags across fact tables -> assessment_source / completed ladder.
    Uses the operators.relational.membership_flag broadcast-lookup op."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    out = membership_flag(c, o, "c_custkey", "o_custkey", "has_order")
    out = membership_flag(
        out,
        o.filter(F.col("o_orderstatus") == "O"),
        "c_custkey",
        "o_custkey",
        "has_open",
    )
    out = membership_flag(
        out,
        o.filter(F.col("o_totalprice") > 20000),
        "c_custkey",
        "o_custkey",
        "has_highvalue",
    )
    return out.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        "has_order",
        "has_open",
        "has_highvalue",
        F.when(F.col("has_highvalue"), "full")
        .when(F.col("has_open"), "partial")
        .when(F.col("has_order"), "minimal")
        .otherwise("none")
        .alias("assessment_source"),
        (F.col("has_order") & ~F.col("has_open")).alias("completed"),
    )


@query(
    "k4_status_harmonize",
    oracle="""
    WITH raw AS (
      SELECT event_id,
             'gen' || CAST(user_id % 2 + 1 AS VARCHAR) AS db,
             CASE WHEN user_id % 2 = 0 THEN event_type
                  ELSE upper(substr(event_type, 1, 4)) END AS raw_status
      FROM events
    ), mapping AS (
      SELECT * FROM (VALUES
        ('gen1','click','interaction'), ('gen1','view','interaction'),
        ('gen1','purchase','conversion'), ('gen1','signup','conversion'),
        ('gen1','error','failure'),
        ('gen2','CLIC','interaction'), ('gen2','VIEW','interaction'),
        ('gen2','PURC','conversion'), ('gen2','SIGN','conversion'),
        ('gen2','ERRO','failure')) AS m(db, raw_status, status_unified)
    )
    SELECT r.db, m.status_unified, CAST(count(*) AS BIGINT) AS n
    FROM raw r LEFT JOIN mapping m
      ON r.db = m.db AND r.raw_status = m.raw_status
    GROUP BY 1, 2
    """,
)
def k4_status_harmonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 status-vocabulary harmonization (query_fieldmap.Rmd:1326-1336):
    two DB generations with different vocabularies mapped onto one via a
    data-driven broadcast mapping table (not a hard-coded ladder)."""
    e = load(spark, sf_dir, "events")
    raw = e.select(
        "event_id",
        F.concat(F.lit("gen"), (F.col("user_id") % 2 + 1).cast("string")).alias(
            "db"
        ),
        F.when(F.col("user_id") % 2 == 0, F.col("event_type"))
        .otherwise(F.upper(F.substring("event_type", 1, 4)))
        .alias("raw_status"),
    )
    mapping = local_dim(
        spark,
        [
            ("gen1", "click", "interaction"),
            ("gen1", "view", "interaction"),
            ("gen1", "purchase", "conversion"),
            ("gen1", "signup", "conversion"),
            ("gen1", "error", "failure"),
            ("gen2", "CLIC", "interaction"),
            ("gen2", "VIEW", "interaction"),
            ("gen2", "PURC", "conversion"),
            ("gen2", "SIGN", "conversion"),
            ("gen2", "ERRO", "failure"),
        ],
        "db string, raw_status string, status_unified string",
    )
    return (
        raw.join(F.broadcast(mapping), on=["db", "raw_status"], how="left")
        .groupBy("db", "status_unified")
        .agg(F.count("*").alias("n"))
    )


@query(
    "k6_eav_restructure",
    oracle="""
    WITH src AS (
      SELECT event_id, event_type AS var_code,
             CAST(round(value * 100) AS BIGINT) AS v100, value
      FROM events WHERE value IS NOT NULL
    ), rawv AS (
      SELECT event_id, var_code,
             CASE WHEN var_code = 'error' THEN 'ZS'
                  WHEN value < 20 THEN '<0,2'
                  WHEN value > 180 THEN '>180'
                  ELSE CAST(v100 // 100 AS VARCHAR) || ',' ||
                       lpad(CAST(v100 % 100 AS VARCHAR), 2, '0')
             END AS value
      FROM src
    )
    SELECT event_id, var_code, value,
           round(CASE WHEN value = 'ZS' THEN 0.5
                      WHEN value LIKE '<%'
                        THEN CAST(replace(substr(value, 2), ',', '.') AS DOUBLE)
                      WHEN value LIKE '>%'
                        THEN CAST(replace(substr(value, 2), ',', '.') AS DOUBLE)
                      ELSE CAST(replace(value, ',', '.') AS DOUBLE)
                 END + 1e-9, 6) AS value_numeric,
           value LIKE '<%' AS is_below_LOQ,
           value LIKE '>%' AS is_above_LOQ,
           TRUE AS is_numeric
    FROM rawv
    """,
)
def k6_eav_restructure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 EAV restructuring with LOQ parsing
    (HT31xx_data_preparation.Rmd:188-321): raw measurement strings (comma
    decimals, </> LOQ markers, sentinel codes) -> unified EAV rows via the
    functions.parsing.parse_measurement expression library. The raw strings
    are constructed deterministically from events.value so the oracle can
    rebuild them bit-for-bit."""
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v100 = F.round(F.col("value") * 100).cast("long")
    raw = (
        F.when(F.col("event_type") == "error", "ZS")
        .when(F.col("value") < 20, "<0,2")
        .when(F.col("value") > 180, ">180")
        .otherwise(
            F.concat(
                (v100 / 100).cast("long").cast("string"),
                F.lit(","),
                F.lpad((v100 % 100).cast("string"), 2, "0"),
            )
        )
    )
    src = e.select(
        "event_id", F.col("event_type").alias("var_code"), raw.alias("value")
    )
    parsed = parse_measurement(F.col("value"))
    return src.select(
        "event_id",
        "var_code",
        "value",
        eps_round(parsed["value_numeric"], 6).alias("value_numeric"),
        parsed["is_below_LOQ"].alias("is_below_LOQ"),
        parsed["is_above_LOQ"].alias("is_above_LOQ"),
        parsed["is_numeric"].alias("is_numeric"),
    )


# --- K7 LSVI rule engine -----------------------------------------------

_LSVI_RULES = [
    # versie, habitat_type, criterium, indicator, voorwaarde, operator,
    # threshold, optional — two rule-table versions side by side
    # (geefInvoervereisten serves "Versie 2.0" and "Versie 3"); the current
    # pipelines pin '3.0', k7_lsvi_versions compares both
    ("3.0", "ht_rush", "structuur", "omvang", "sum_qty", ">=", 50.5, False),
    ("3.0", "ht_rush", "structuur", "omvang", "n_items", ">=", 2.0, False),
    ("3.0", "ht_rush", "kwaliteit", "verstoring", "avg_disc", "<", 0.0605, False),
    ("3.0", "ht_normal", "structuur", "omvang", "sum_qty", ">=", 80.5, False),
    ("3.0", "ht_normal", "structuur", "omvang", "n_items", ">=", 3.0, False),
    ("3.0", "ht_normal", "kwaliteit", "verstoring", "avg_disc", "<", 0.0505, False),
    ("3.0", "ht_lax", "structuur", "omvang", "sum_qty", ">=", 100.5, False),
    ("3.0", "ht_lax", "structuur", "omvang", "n_items", ">=", 4.0, False),
    ("3.0", "ht_lax", "kwaliteit", "verstoring", "avg_disc", "<", 0.0405, False),
    # species-characteristics voorwaarden ('3.0' only; values produced by
    # species_measurements, so they never match the direct measurements)
    ("3.0", "ht_rush", "vegetatie", "sleutelsoorten", "n_key_species", ">=", 3.0, False),
    ("3.0", "ht_rush", "vegetatie", "sleutelsoorten", "cover_key_species", ">=", 120.0, True),
    ("3.0", "ht_normal", "vegetatie", "sleutelsoorten", "n_key_species", ">=", 4.0, False),
    ("3.0", "ht_normal", "vegetatie", "sleutelsoorten", "cover_key_species", ">=", 150.0, True),
    ("3.0", "ht_lax", "vegetatie", "sleutelsoorten", "n_key_species", ">=", 5.0, False),
    ("3.0", "ht_lax", "vegetatie", "sleutelsoorten", "cover_key_species", ">=", 180.0, True),
    # the older version: same vocabulary, stricter disturbance + looser size
    ("2.0", "ht_rush", "structuur", "omvang", "sum_qty", ">=", 40.5, False),
    ("2.0", "ht_rush", "structuur", "omvang", "n_items", ">=", 2.0, False),
    ("2.0", "ht_rush", "kwaliteit", "verstoring", "avg_disc", "<", 0.0505, False),
    ("2.0", "ht_normal", "structuur", "omvang", "sum_qty", ">=", 70.5, False),
    ("2.0", "ht_normal", "structuur", "omvang", "n_items", ">=", 3.0, False),
    ("2.0", "ht_normal", "kwaliteit", "verstoring", "avg_disc", "<", 0.0405, False),
    ("2.0", "ht_lax", "structuur", "omvang", "sum_qty", ">=", 90.5, False),
    ("2.0", "ht_lax", "structuur", "omvang", "n_items", ">=", 4.0, False),
    ("2.0", "ht_lax", "kwaliteit", "verstoring", "avg_disc", "<", 0.0305, False),
]

_LSVI_RULES_SQL = """
  (VALUES
    ('3.0','ht_rush','structuur','omvang','sum_qty','>=',50.5,FALSE),
    ('3.0','ht_rush','structuur','omvang','n_items','>=',2.0,FALSE),
    ('3.0','ht_rush','kwaliteit','verstoring','avg_disc','<',0.0605,FALSE),
    ('3.0','ht_normal','structuur','omvang','sum_qty','>=',80.5,FALSE),
    ('3.0','ht_normal','structuur','omvang','n_items','>=',3.0,FALSE),
    ('3.0','ht_normal','kwaliteit','verstoring','avg_disc','<',0.0505,FALSE),
    ('3.0','ht_lax','structuur','omvang','sum_qty','>=',100.5,FALSE),
    ('3.0','ht_lax','structuur','omvang','n_items','>=',4.0,FALSE),
    ('3.0','ht_lax','kwaliteit','verstoring','avg_disc','<',0.0405,FALSE),
    ('3.0','ht_rush','vegetatie','sleutelsoorten','n_key_species','>=',3.0,FALSE),
    ('3.0','ht_rush','vegetatie','sleutelsoorten','cover_key_species','>=',120.0,TRUE),
    ('3.0','ht_normal','vegetatie','sleutelsoorten','n_key_species','>=',4.0,FALSE),
    ('3.0','ht_normal','vegetatie','sleutelsoorten','cover_key_species','>=',150.0,TRUE),
    ('3.0','ht_lax','vegetatie','sleutelsoorten','n_key_species','>=',5.0,FALSE),
    ('3.0','ht_lax','vegetatie','sleutelsoorten','cover_key_species','>=',180.0,TRUE),
    ('2.0','ht_rush','structuur','omvang','sum_qty','>=',40.5,FALSE),
    ('2.0','ht_rush','structuur','omvang','n_items','>=',2.0,FALSE),
    ('2.0','ht_rush','kwaliteit','verstoring','avg_disc','<',0.0505,FALSE),
    ('2.0','ht_normal','structuur','omvang','sum_qty','>=',70.5,FALSE),
    ('2.0','ht_normal','structuur','omvang','n_items','>=',3.0,FALSE),
    ('2.0','ht_normal','kwaliteit','verstoring','avg_disc','<',0.0405,FALSE),
    ('2.0','ht_lax','structuur','omvang','sum_qty','>=',90.5,FALSE),
    ('2.0','ht_lax','structuur','omvang','n_items','>=',4.0,FALSE),
    ('2.0','ht_lax','kwaliteit','verstoring','avg_disc','<',0.0305,FALSE))
  AS r(versie, habitat_type, criterium, indicator, voorwaarde, op,
       threshold, optional)
"""

_LSVI_PREFIX_SQL = """
    WITH habitat AS (
      SELECT o_orderkey AS plot_id,
             CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'ht_rush'
                  WHEN o_orderpriority = '3-MEDIUM' THEN 'ht_normal'
                  ELSE 'ht_lax' END AS habitat_type
      FROM orders
    ), agg AS (
      SELECT l_orderkey AS plot_id, sum(l_quantity) AS sum_qty,
             avg(l_discount) AS avg_disc,
             CAST(count(*) AS DOUBLE) AS n_items
      FROM lineitem GROUP BY 1
    ), m AS (
      SELECT h.plot_id, h.habitat_type, k.voorwaarde, k.value
      FROM habitat h JOIN agg a USING (plot_id),
      LATERAL (VALUES ('sum_qty', a.sum_qty), ('avg_disc', a.avg_disc),
                      ('n_items', a.n_items)) AS k(voorwaarde, value)
    )"""

_LSVI_MEASUREMENTS_SQL = _LSVI_PREFIX_SQL + """, detail AS (
      SELECT m.plot_id, m.habitat_type, r.criterium, r.indicator,
             m.voorwaarde,
             round(m.value + sign(m.value) * 1e-9, 6) AS value,
             r.op AS operator, CAST(r.threshold AS DOUBLE) AS threshold,
             CASE r.op WHEN '>=' THEN m.value >= r.threshold
                       WHEN '>'  THEN m.value >  r.threshold
                       WHEN '<=' THEN m.value <= r.threshold
                       WHEN '<'  THEN m.value <  r.threshold
                       WHEN '='  THEN m.value =  r.threshold
             END AS status_voorwaarde
      FROM m JOIN {rules}
        ON m.habitat_type = r.habitat_type AND m.voorwaarde = r.voorwaarde
       AND r.versie = '3.0'
       AND r.voorwaarde IN ('sum_qty', 'avg_disc', 'n_items')
    )
"""


# completed-LSVI intermediate: the strict-null completed detail and its
# three roll-ups are the shared intermediate of FIVE k7_* consumers
# (detail, indicator, criterium, globaal, crosstab), and a real
# assessment pipeline evaluates the rule engine once per campaign, not
# per report. r6's strict-null completion added a rules-side left join
# per evaluation, which doubled detail/globaal when each query rebuilt
# the levels independently (r6 VERDICT item 3). localCheckpoint'ed
# (plot-grain — far smaller than lineitem). Determinism: the rule engine
# is exact relational algebra, so checkpointed rows are bit-identical to
# a recompute.
@shared("lsvi_levels", "orders", "lineitem")
def _lsvi_levels(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    # checkpoint the completed DETAIL first, then derive the three
    # roll-ups FROM the checkpointed detail — checkpointing each level's
    # raw lineage independently would re-run the whole rule evaluation
    # four times
    detail = _lsvi_detail_build(spark, sf_dir).localCheckpoint()
    return {"lsvi_detail": detail} | {
        name: df.localCheckpoint()
        for name, df in aggregate_levels(detail).items()
        if name != "lsvi_detail"
    }


def _lsvi_detail_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    habitat = o.select(
        F.col("o_orderkey").alias("plot_id"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "ht_rush")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "ht_normal")
        .otherwise("ht_lax")
        .alias("habitat_type"),
    )
    agg = li.groupBy(F.col("l_orderkey").alias("plot_id")).agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.avg("l_discount").alias("avg_disc"),
        F.count("*").cast("double").alias("n_items"),
    )
    measurements = (
        habitat.join(agg, "plot_id")
        .unpivot(
            ["plot_id", "habitat_type"],
            ["sum_qty", "avg_disc", "n_items"],
            "voorwaarde",
            "value",
        )
    )
    # scope pin: evaluate_conditions is STRICT since r6 (it completes
    # the detail against the rule set, so an unmeasured mandatory
    # voorwaarde NULLs its roll-up). These queries measure only the
    # three direct voorwaarden — the vegetatie pair is assessed by the
    # species branch (k7_lsvi_species) and jointly in
    # inboveg_lsvi_pipeline — so the rules in scope must be pinned to
    # the measured families or every plot would (correctly!) refuse to
    # certify.
    rules = rules_dim(spark, _LSVI_RULES).filter(
        F.col("voorwaarde").isin("sum_qty", "avg_disc", "n_items")
    )
    return evaluate_conditions(measurements, rules, versie="3.0")


@query(
    "k7_lsvi_detail",
    oracle=_LSVI_MEASUREMENTS_SQL.format(rules=_LSVI_RULES_SQL)
    + """
    SELECT plot_id, habitat_type, criterium, indicator, voorwaarde, value,
           operator, threshold, status_voorwaarde
    FROM detail
    """,
)
def k7_lsvi_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 LSVI rule engine, detail level (lsvi_detail result table;
    HT31xx_LSVI.Rmd:198-253): threshold evaluation per plot x voorwaarde
    against the broadcast, versioned rule dimension (pinned to '3.0'
    here; the versie/optional carrier columns are roll-up internals)."""
    return _lsvi_levels(spark, sf_dir)["lsvi_detail"].drop(
        "versie", "optional"
    )


@query(
    "k7_lsvi_globaal",
    oracle=_LSVI_MEASUREMENTS_SQL.format(rules=_LSVI_RULES_SQL)
    + """
    , ind AS (
      SELECT plot_id, habitat_type, criterium, indicator,
             bool_and(status_voorwaarde) AS status_indicator
      FROM detail GROUP BY 1, 2, 3, 4
    ), crit AS (
      SELECT plot_id, habitat_type, criterium,
             bool_and(status_indicator) AS status_criterium
      FROM ind GROUP BY 1, 2, 3
    )
    SELECT plot_id, habitat_type,
           bool_and(status_criterium) AS status_global,
           round(avg(CASE WHEN status_criterium THEN 1 ELSE 0 END) + 1e-9, 6)
             AS share_favourable
    FROM crit GROUP BY 1, 2
    """,
)
def k7_lsvi_globaal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 LSVI rule engine, global level (lsvi_globaal): voorwaarde ->
    indicator -> criterium -> global via layered bool_and + favourable
    share. The whole engine is one Catalyst plan — no UDF, no rule loop."""
    return _lsvi_levels(spark, sf_dir)["lsvi_globaal"]


@query(
    "k8_tariff_volume",
    oracle="""
    WITH trees AS (
      SELECT p_partkey AS partkey,
             CASE WHEN p_size % 3 = 0 THEN 'g1'
                  WHEN p_size % 3 = 1 THEN 'g2' ELSE 'g3' END
               AS species_group,
             CAST(p_size AS DOUBLE) AS dbh,
             round(p_retailprice, 2) / 100 AS height
      FROM part
    ), params AS (
      SELECT * FROM (VALUES
        ('g1', 1, 0.05, 0.002, 0.0001, 0.0),
        ('g2', 2, 0.02, 0.003, 0.0002, 0.00001),
        ('g3', 3, 0.01, 0.0005, 0.00002, 0.0))
      AS p(species_group, formule_type, a, b, c, d)
    )
    SELECT t.partkey, t.species_group, p.formule_type,
           round(CASE p.formule_type
                   WHEN 1 THEN a + b * dbh + c * dbh * dbh
                   WHEN 2 THEN a + b * dbh + c * dbh * dbh
                               + d * dbh * dbh * dbh
                   WHEN 3 THEN a + b * dbh * dbh + c * dbh * dbh * height
                 END + sign(CASE p.formule_type
                   WHEN 1 THEN a + b * dbh + c * dbh * dbh
                   WHEN 2 THEN a + b * dbh + c * dbh * dbh
                               + d * dbh * dbh * dbh
                   WHEN 3 THEN a + b * dbh * dbh + c * dbh * dbh * height
                 END) * 1e-9, 6) AS vol_m3
    FROM trees t LEFT JOIN params p USING (species_group)
    """,
)
def k8_tariff_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 tree-volume tariffs (export_from_vbidwh.Rmd:227-269): per-group
    parameters select a polynomial by formule_type; broadcast join +
    vectorized arithmetic (kernels.tariff.compute_volume)."""
    p = load(spark, sf_dir, "part")
    trees = p.select(
        F.col("p_partkey").alias("partkey"),
        F.when(F.col("p_size") % 3 == 0, "g1")
        .when(F.col("p_size") % 3 == 1, "g2")
        .otherwise("g3")
        .alias("species_group"),
        F.col("p_size").cast("double").alias("dbh"),
        (F.round("p_retailprice", 2) / 100).alias("height"),
    )
    params = tariff_dim(
        spark,
        [
            ("g1", 1, 0.05, 0.002, 0.0001, 0.0),
            ("g2", 2, 0.02, 0.003, 0.0002, 0.00001),
            ("g3", 3, 0.01, 0.0005, 0.00002, 0.0),
        ],
    )
    out = compute_volume(trees, params, dbh_col="dbh", height_col="height")
    return out.select("partkey", "species_group", "formule_type", "vol_m3")


@query(
    "k9_reconciliation_cascade",
    oracle="""
    WITH seg AS (
      SELECT l_orderkey AS plot_id, l_returnflag AS type_seg,
             l_quantity AS area
      FROM lineitem
    ), dominant AS (
      SELECT plot_id, type_seg AS type_observed FROM (
        SELECT plot_id, type_seg, sum(area) AS a,
               row_number() OVER (PARTITION BY plot_id
                                  ORDER BY sum(area) DESC, type_seg ASC) AS rn
        FROM seg GROUP BY 1, 2
      ) WHERE rn = 1
    ), mapped AS (
      SELECT o_orderkey AS plot_id,
             CASE o_orderstatus WHEN 'F' THEN 'R' WHEN 'O' THEN 'N'
                  ELSE 'A' END AS type_mapped
      FROM orders
    ), flags AS (
      SELECT d.plot_id, d.type_observed, m.type_mapped,
             bool_or(s.type_seg = m.type_mapped) AS any_seg_match,
             count(DISTINCT s.type_seg) > 1 AS mixed
      FROM dominant d
      JOIN mapped m ON d.plot_id = m.plot_id
      JOIN seg s ON s.plot_id = d.plot_id
      GROUP BY 1, 2, 3
    )
    SELECT plot_id, type_observed, type_mapped,
           CASE WHEN type_observed = type_mapped THEN 'match'
                WHEN any_seg_match THEN 'partial'
                WHEN mixed THEN 'manual_check'
                ELSE 'mismatch' END AS match_stage
    FROM flags
    """,
)
def k9_reconciliation_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 observed-vs-mapped reconciliation cascade
    (check_observed_habitat_type.Rmd:130-310): dominant observed type vs
    the mapped type, then the staged decision ladder
    match -> partial -> manual_check -> mismatch."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    seg = li.select(
        F.col("l_orderkey").alias("plot_id"),
        F.col("l_returnflag").alias("type_seg"),
        F.col("l_quantity").alias("area"),
    )
    per_type = seg.groupBy("plot_id", "type_seg").agg(F.sum("area").alias("a"))
    w = W.partitionBy("plot_id").orderBy(F.col("a").desc(), F.col("type_seg").asc())
    dominant = (
        per_type.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("plot_id", F.col("type_seg").alias("type_observed"))
    )
    mapped = o.select(
        F.col("o_orderkey").alias("plot_id"),
        F.when(F.col("o_orderstatus") == "F", "R")
        .when(F.col("o_orderstatus") == "O", "N")
        .otherwise("A")
        .alias("type_mapped"),
    )
    flags = (
        dominant.join(mapped, "plot_id")
        .join(seg, "plot_id")
        .groupBy("plot_id", "type_observed", "type_mapped")
        .agg(
            F.bool_or(F.col("type_seg") == F.col("type_mapped")).alias(
                "any_seg_match"
            ),
            (F.countDistinct("type_seg") > 1).alias("mixed"),
        )
    )
    return flags.select(
        "plot_id",
        "type_observed",
        "type_mapped",
        F.when(F.col("type_observed") == F.col("type_mapped"), "match")
        .when(F.col("any_seg_match"), "partial")
        .when(F.col("mixed"), "manual_check")
        .otherwise("mismatch")
        .alias("match_stage"),
    )


@query(
    "k10_incremental_merge",
    oracle="""
    WITH unioned AS (
      SELECT * FROM events WHERE ts < TIMESTAMP '2024-04-01'
      UNION ALL
      SELECT * FROM events WHERE ts >= TIMESTAMP '2024-04-01'
    ), ranked AS (
      SELECT user_id, event_type, event_id, CAST(ts AS DATE) AS day,
             round(value + sign(value) * 1e-9, 2) AS value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM unioned
    )
    SELECT user_id, event_type, event_id, day, value
    FROM ranked WHERE rn = 1
    """,
)
def k10_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K10 incremental append/update
    (query_fieldmap_update_fieldwork2022.Rmd:943-1076): published table +
    new-season delta -> unionByName -> latest-wins keyed dedup
    (operators.merge.incremental_merge)."""
    e = load(spark, sf_dir, "events")
    cutoff = "CAST('2024-04-01' AS TIMESTAMP)"
    merged = incremental_merge(
        e.where(f"ts < {cutoff}"),
        e.where(f"ts >= {cutoff}"),
        keys=["user_id", "event_type"],
        order_by=["ts DESC", "event_id DESC"],
    )
    return merged.selectExpr(
        "user_id",
        "event_type",
        "event_id",
        "CAST(ts AS DATE) AS day",
        f"{eps_round_sql('value', 2)} AS value",
    )


@query(
    "k5_area_weights",
    oracle="""
    WITH seg AS (
      SELECT l_orderkey AS plot_id, l_quantity AS area,
             CAST(row_number() OVER (PARTITION BY l_orderkey
                                     ORDER BY l_linenumber, l_returnflag,
                                              l_quantity, l_partkey)
                  AS INTEGER) AS seg_no
      FROM lineitem
    )
    SELECT plot_id, seg_no,
           round(area / sum(area) OVER (PARTITION BY plot_id) + 1e-9, 6)
             AS weight_segment,
           round(least(sum(area) OVER (PARTITION BY plot_id)
                       / (pi() * 18 * 18), 1.0) + 1e-9, 6) AS weight_plot
    FROM seg
    """,
)
def k5_area_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 plot/segment area weights (calc_plot_segment_area.Rmd:48-113,
    consumed export_from_vbidwh.Rmd:131-149): segment weight = area share
    within the plot, plot weight = plot area share of the A4 circle
    (pi * 18^2), capped at 1. Window sums over the plot partition — one
    shuffle on plot_id, reused by both weights."""
    import math

    seg = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("plot_id"),
        F.col("l_quantity").alias("area"),
        F.col("l_linenumber"),
        F.col("l_returnflag"),
        F.col("l_partkey"),
    )
    order = W.partitionBy("plot_id").orderBy(
        "l_linenumber", "l_returnflag", "area", "l_partkey"
    )
    whole = W.partitionBy("plot_id")
    circle = math.pi * 18 * 18
    return seg.select(
        "plot_id",
        F.row_number().over(order).alias("seg_no"),
        F.round(
            F.col("area") / F.sum("area").over(whole) + F.lit(1e-9), 6
        ).alias("weight_segment"),
        F.round(
            F.least(F.sum("area").over(whole) / circle, F.lit(1.0))
            + F.lit(1e-9),
            6,
        ).alias("weight_plot"),
    )


@query(
    "k7_lsvi_indicator",
    oracle=_LSVI_MEASUREMENTS_SQL.format(rules=_LSVI_RULES_SQL)
    + """
    SELECT plot_id, habitat_type, criterium, indicator,
           bool_and(status_voorwaarde) AS status_indicator
    FROM detail GROUP BY 1, 2, 3, 4
    """,
)
def k7_lsvi_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 LSVI rule engine, indicator level (lsvi_indicator result table):
    bool_and of the voorwaarde statuses per indicator."""
    return _lsvi_levels(spark, sf_dir)["lsvi_indicator"]


@query(
    "k7_lsvi_criterium",
    oracle=_LSVI_MEASUREMENTS_SQL.format(rules=_LSVI_RULES_SQL)
    + """
    , ind AS (
      SELECT plot_id, habitat_type, criterium, indicator,
             bool_and(status_voorwaarde) AS status_indicator
      FROM detail GROUP BY 1, 2, 3, 4
    )
    SELECT plot_id, habitat_type, criterium,
           bool_and(status_indicator) AS status_criterium,
           round(avg(CASE WHEN status_indicator THEN 1 ELSE 0 END) + 1e-9, 6)
             AS share_favourable_ind
    FROM ind GROUP BY 1, 2, 3
    """,
)
def k7_lsvi_criterium(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 LSVI rule engine, criterium level (lsvi_criterium result table):
    bool_and over indicators plus the favourable-indicator share."""
    return _lsvi_levels(spark, sf_dir)["lsvi_criterium"]


@query(
    "k2_square_override",
    oracle="""
    WITH seg AS (
      SELECT l_orderkey AS plot_id,
             '91' || l_returnflag || '0_c' AS type_circle,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber, l_returnflag,
                                         l_quantity, l_partkey) AS rn
      FROM lineitem
    ), circle AS (
      SELECT plot_id, min(CASE WHEN rn = 1 THEN type_circle END) AS type_circle
      FROM seg GROUP BY 1
    ), square AS (
      SELECT o_orderkey AS plot_id,
             '91' || (CASE WHEN o_orderpriority = '1-URGENT' THEN 'A'
                           WHEN o_orderpriority = '2-HIGH' THEN 'N'
                           ELSE 'R' END) || '0_s' AS type_square
      FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT COALESCE(c.plot_id, s.plot_id) AS plot_id,
           c.type_circle AS type_circle, s.type_square AS type_square,
           CASE WHEN s.type_square IS NULL THEN c.type_circle
                WHEN c.type_circle IS NULL THEN s.type_square
                WHEN substr(s.type_square, 1, 4) = substr(c.type_circle, 1, 4)
                  THEN substr(c.type_circle, 1, 4) || substr(s.type_square, 5)
                ELSE s.type_square END AS type_final,
           CASE WHEN s.type_square IS NULL OR c.type_circle IS NULL THEN 'single_source'
                WHEN substr(s.type_square, 1, 4) = substr(c.type_circle, 1, 4)
                  THEN 'subtype_refined'
                ELSE 'square_override' END AS resolution
    FROM circle c FULL OUTER JOIN square s ON c.plot_id = s.plot_id
    """,
)
def k2_square_override(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2's override rules in full (query_fieldmap.Rmd:1550-1596, doc at
    1552-1556): the square plot's observed type overrides the circle plot's;
    when both share the main type (first 4 chars of the code) only the
    SUBTYPE is refined from the square observation; plots observed by one
    source keep that source. Circle side resolves mixed plots to the lowest
    segment first; the merge is the J4 full-outer shape."""
    seg = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("plot_id"),
        F.concat(F.lit("91"), F.col("l_returnflag"), F.lit("0_c")).alias(
            "type_circle"
        ),
        F.row_number()
        .over(
            W.partitionBy("l_orderkey").orderBy(
                "l_linenumber", "l_returnflag", "l_quantity", "l_partkey"
            )
        )
        .alias("rn"),
    )
    circle = seg.groupBy("plot_id").agg(
        F.min(F.when(F.col("rn") == 1, F.col("type_circle"))).alias("type_circle")
    )
    square = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(
            F.col("o_orderkey").alias("plot_id"),
            F.concat(
                F.lit("91"),
                F.when(F.col("o_orderpriority") == "1-URGENT", "A")
                .when(F.col("o_orderpriority") == "2-HIGH", "N")
                .otherwise("R"),
                F.lit("0_s"),
            ).alias("type_square"),
        )
    )
    j = circle.join(square, "plot_id", "outer")
    sq, ci = F.col("type_square"), F.col("type_circle")
    same_main = F.substring(sq, 1, 4) == F.substring(ci, 1, 4)
    return j.select(
        "plot_id",
        ci.alias("type_circle"),
        sq.alias("type_square"),
        F.when(sq.isNull(), ci)
        .when(ci.isNull(), sq)
        .when(same_main, F.concat(F.substring(ci, 1, 4), F.substring(sq, 5, 100)))
        .otherwise(sq)
        .alias("type_final"),
        F.when(sq.isNull() | ci.isNull(), "single_source")
        .when(same_main, "subtype_refined")
        .otherwise("square_override")
        .alias("resolution"),
    )


@query(
    "k7_lsvi_crosstab",
    oracle=_LSVI_MEASUREMENTS_SQL.format(rules=_LSVI_RULES_SQL)
    + """
    SELECT plot_id, habitat_type,
           bool_and(CASE WHEN voorwaarde = 'sum_qty'
                         THEN status_voorwaarde END) AS sum_qty_ok,
           bool_and(CASE WHEN voorwaarde = 'n_items'
                         THEN status_voorwaarde END) AS n_items_ok,
           bool_and(CASE WHEN voorwaarde = 'avg_disc'
                         THEN status_voorwaarde END) AS avg_disc_ok
    FROM detail GROUP BY 1, 2
    """,
)
def k7_lsvi_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7's published cross-tab (HT31xx_LSVI.Rmd:249-253: spread of
    voorwaarde x status) — the R2 pivot applied to the rule-engine detail.
    The pivot uses an EXPLICIT voorwaarde list: data-dependent pivot
    schemas need a driver-side distinct scan, which is a full pass at
    100 TB; rule vocabularies are versioned dimensions, so the column set
    is known at plan time."""
    detail = _lsvi_levels(spark, sf_dir)["lsvi_detail"]
    piv = (
        detail.groupBy("plot_id", "habitat_type")
        .pivot("voorwaarde", ["sum_qty", "n_items", "avg_disc"])
        .agg(F.bool_and("status_voorwaarde"))
    )
    return piv.select(
        "plot_id",
        "habitat_type",
        F.col("sum_qty").alias("sum_qty_ok"),
        F.col("n_items").alias("n_items_ok"),
        F.col("avg_disc").alias("avg_disc_ok"),
    )


@query(
    "k1_cover_rollup_boundary",
    oracle="""
    WITH c AS (
      SELECT l_orderkey AS orderkey,
             CASE WHEN l_linenumber = 7 THEN NULL
                  ELSE l_quantity * 2 END AS cover_mean
      FROM lineitem
    )
    SELECT orderkey,
           CASE WHEN count(*) <> count(cover_mean) THEN NULL
                WHEN max(cover_mean) >= 100 THEN 100.0
                ELSE round((1 - exp(sum(CASE WHEN cover_mean < 100
                       THEN ln(1 - cover_mean / 100.0) END))) * 100 + 1e-9, 6)
           END AS cover_layer
    FROM c GROUP BY 1
    """,
)
def k1_cover_rollup_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/K1 roll-up at the boundary (export_from_vbidwh.Rmd:88-92): covers
    derived as quantity*2 reach exactly 100 (prod hits 0 -> layer = 100) and
    linenumber-7 rows inject NULLs (R prod() NA-propagation). Exercises both
    special branches of ``layer_cover_rollup`` that the plain exp-sum-log
    form gets wrong (Spark log(<=0) -> NULL, sum skips NULLs)."""
    li = load(spark, sf_dir, "lineitem")
    covers = li.select(
        F.col("l_orderkey").alias("orderkey"),
        F.when(F.col("l_linenumber") != 7, F.col("l_quantity") * 2).alias(
            "cover_mean"
        ),
    )
    return layer_cover_rollup(covers, ["orderkey"])


# --- K7 species-characteristics branch + rule-table versioning ----------

# geefSoortenlijst seed (HT31xx_LSVI.Rmd:85-110): per habitat type the key
# species sp_0..sp_5 feed two voorwaarden — how many are present and their
# summed cover
_LSVI_SPECIES_LIST = [
    ("3.0", ht, "vegetatie", "sleutelsoorten", vw, stat, f"sp_{i}")
    for ht in ("ht_rush", "ht_normal", "ht_lax")
    for vw, stat in (
        ("n_key_species", "n_species"),
        ("cover_key_species", "sum_cover"),
    )
    for i in range(6)
]


@query(
    "k7_lsvi_species",
    oracle=_LSVI_PREFIX_SQL.replace("WITH habitat", "WITH habitat0", 1)
    .replace("FROM habitat h", "FROM habitat0 h", 1)
    .replace("habitat AS (", "habitat AS (", 1)
    + """
    , cover AS (
      SELECT l.l_orderkey AS plot_id, h.habitat_type,
             'sp_' || CAST(l.l_partkey % 40 AS VARCHAR) AS name_sc,
             least(l.l_quantity * 2.0, 100.0) AS cover
      FROM lineitem l JOIN habitat0 h ON l.l_orderkey = h.plot_id
    ), dedup AS (
      SELECT plot_id, habitat_type, name_sc, max(cover) AS cover
      FROM cover GROUP BY 1, 2, 3
    ), lst AS (
      SELECT ht.habitat_type, v.voorwaarde, v.stat,
             'sp_' || CAST(r.range AS VARCHAR) AS name_sc
      FROM (VALUES ('ht_rush'),('ht_normal'),('ht_lax')) ht(habitat_type)
      CROSS JOIN (VALUES ('n_key_species','n_species'),
                         ('cover_key_species','sum_cover'))
                 v(voorwaarde, stat)
      CROSS JOIN range(6) r
    ), matched AS (
      SELECT d.plot_id, d.habitat_type, l.voorwaarde, l.stat,
             count(DISTINCT CASE WHEN d.cover > 0 THEN d.name_sc END) AS n_sp,
             sum(d.cover) AS sum_cov
      FROM dedup d JOIN lst l
        ON d.habitat_type = l.habitat_type AND d.name_sc = l.name_sc
      GROUP BY 1, 2, 3, 4
    ), meas0 AS (
      SELECT plot_id, habitat_type, voorwaarde,
             CASE WHEN stat = 'n_species' THEN CAST(n_sp AS DOUBLE)
                  ELSE CAST(sum_cov AS DOUBLE) END AS value
      FROM matched
    ), plots AS (
      SELECT DISTINCT plot_id, habitat_type FROM cover
    ), vw AS (
      SELECT DISTINCT habitat_type, voorwaarde FROM lst
    ), meas AS (
      SELECT p.plot_id, p.habitat_type, v.voorwaarde,
             coalesce(m0.value, 0.0) AS value
      FROM plots p JOIN vw v ON p.habitat_type = v.habitat_type
      LEFT JOIN meas0 m0 ON m0.plot_id = p.plot_id
       AND m0.habitat_type = p.habitat_type AND m0.voorwaarde = v.voorwaarde
    ), sdetail AS (
      SELECT r.versie, m.plot_id, m.habitat_type, r.criterium, r.indicator,
             CASE r.op WHEN '>=' THEN m.value >= r.threshold
                       WHEN '>'  THEN m.value >  r.threshold
                       WHEN '<=' THEN m.value <= r.threshold
                       WHEN '<'  THEN m.value <  r.threshold
                       WHEN '='  THEN m.value =  r.threshold
             END AS sv
      FROM meas m JOIN {rules}
        ON m.habitat_type = r.habitat_type AND m.voorwaarde = r.voorwaarde
       AND r.versie = '3.0'
       AND r.voorwaarde IN ('n_key_species', 'cover_key_species')
    )
    SELECT versie, plot_id, habitat_type, criterium, indicator,
           bool_and(sv) AS status_indicator
    FROM sdetail GROUP BY 1, 2, 3, 4, 5
    """.format(rules=_LSVI_RULES_SQL),
)
def k7_lsvi_species(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7's data_soortenkenmerken input branch (HT31xx_LSVI.Rmd:85-155):
    species covers deduped across growth forms (max-cover, the A10 idiom of
    HT3260_LSVI.Rmd:93-109), matched against the versioned species list
    (geefSoortenlijst), reduced to per-plot voorwaarde values (count present
    + summed cover, absent list species = 0), then pushed through the same
    broadcast-rule evaluation and indicator roll-up as the direct
    measurements. One Catalyst plan end to end — the species list and rule
    table are both broadcast dims, the only shuffles are the two keyed
    aggregations."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    habitat = o.select(
        F.col("o_orderkey").alias("plot_id"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "ht_rush")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "ht_normal")
        .otherwise("ht_lax")
        .alias("habitat_type"),
    )
    cover = li.join(habitat, F.col("l_orderkey") == F.col("plot_id")).select(
        "plot_id",
        "habitat_type",
        F.concat(
            F.lit("sp_"), (F.col("l_partkey") % 40).cast("string")
        ).alias("name_sc"),
        F.least(F.col("l_quantity") * 2.0, F.lit(100.0)).alias("cover"),
    )
    meas = species_measurements(
        cover, species_list_dim(spark, _LSVI_SPECIES_LIST), versie="3.0"
    )
    # scope pin (see _lsvi_levels): this branch measures only the
    # species-characteristics voorwaarden
    rules = rules_dim(spark, _LSVI_RULES).filter(
        F.col("voorwaarde").isin("n_key_species", "cover_key_species")
    )
    detail = evaluate_conditions(meas, rules, versie="3.0")
    return aggregate_levels(detail, by_version=True)["lsvi_indicator"]


@query(
    "k7_lsvi_versions",
    oracle=_LSVI_PREFIX_SQL
    + """
    , detail AS (
      SELECT r.versie, m.plot_id, m.habitat_type, r.criterium, r.indicator,
             CASE r.op WHEN '>=' THEN m.value >= r.threshold
                       WHEN '>'  THEN m.value >  r.threshold
                       WHEN '<=' THEN m.value <= r.threshold
                       WHEN '<'  THEN m.value <  r.threshold
                       WHEN '='  THEN m.value =  r.threshold
             END AS sv
      FROM m JOIN {rules}
        ON m.habitat_type = r.habitat_type AND m.voorwaarde = r.voorwaarde
       AND r.voorwaarde IN ('sum_qty', 'avg_disc', 'n_items')
    ), ind AS (
      SELECT versie, plot_id, habitat_type, criterium, indicator,
             bool_and(sv) AS si
      FROM detail GROUP BY 1, 2, 3, 4, 5
    ), crit AS (
      SELECT versie, plot_id, habitat_type, criterium, bool_and(si) AS sc
      FROM ind GROUP BY 1, 2, 3, 4
    )
    SELECT versie, plot_id, habitat_type, bool_and(sc) AS status_global,
           round(avg(CASE WHEN sc THEN 1 ELSE 0 END) + 1e-9, 6)
             AS share_favourable
    FROM crit GROUP BY 1, 2, 3
    """.format(rules=_LSVI_RULES_SQL),
)
def k7_lsvi_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-table versioning: evaluate ALL rule-table versions side by side
    (the reference runs LSVI Versie 2.0 and Versie 3 against the same field
    data via geefInvoervereisten) and roll each up to its global status.
    The version column rides the same broadcast join — assessing N versions
    is one plan, not N pipeline reruns."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    habitat = o.select(
        F.col("o_orderkey").alias("plot_id"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "ht_rush")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "ht_normal")
        .otherwise("ht_lax")
        .alias("habitat_type"),
    )
    agg = li.groupBy(F.col("l_orderkey").alias("plot_id")).agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.avg("l_discount").alias("avg_disc"),
        F.count("*").cast("double").alias("n_items"),
    )
    measurements = habitat.join(agg, "plot_id").unpivot(
        ["plot_id", "habitat_type"],
        ["sum_qty", "avg_disc", "n_items"],
        "voorwaarde",
        "value",
    )
    # scope pin (see _lsvi_levels): both versions' direct voorwaarden
    # only — the strict engine would otherwise NULL v3.0's roll-up for
    # its unmeasured species pair
    rules = rules_dim(spark, _LSVI_RULES).filter(
        F.col("voorwaarde").isin("sum_qty", "avg_disc", "n_items")
    )
    detail = evaluate_conditions(measurements, rules)
    return aggregate_levels(detail, by_version=True)["lsvi_globaal"]


@query(
    "mhq_publish_pipeline",
    oracle="""
    WITH gen1 AS (
      SELECT o_orderkey AS plot_id,
             CASE o_orderstatus WHEN 'O' THEN 'to do'
                  WHEN 'F' THEN 'done' ELSE 'busy' END AS status_raw,
             CAST(o_orderdate AS DATE) AS date_status,
             'gen1' AS db, CAST(NULL AS VARCHAR) AS priority
      FROM orders WHERE o_orderkey % 2 = 1
    ), gen2 AS (
      SELECT o_orderkey,
             CASE o_orderstatus WHEN 'O' THEN 'open'
                  WHEN 'F' THEN 'afgewerkt' ELSE 'in uitvoering' END,
             CAST(o_orderdate AS DATE) + 30,
             'gen2', o_orderpriority
      FROM orders WHERE o_orderkey % 3 = 0
    ), u AS (
      SELECT * FROM gen1 UNION ALL SELECT * FROM gen2
    ), h AS (
      SELECT *, CASE WHEN status_raw IN ('to do', 'open') THEN 'todo'
                     WHEN status_raw IN ('busy', 'in uitvoering') THEN 'busy'
                     ELSE 'done' END AS status
      FROM u
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY plot_id
                ORDER BY date_status DESC, db DESC) AS rn
      FROM h
    )
    SELECT r.plot_id, r.db, r.status, r.date_status, r.priority,
           CAST(o.o_orderdate AS DATE) AS date_assessment
    FROM r JOIN orders o ON o.o_orderkey = r.plot_id
    WHERE rn = 1
    """,
)
def mhq_publish_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — the reference's publish pipeline end to end, as ONE Catalyst
    plan (SURVEY.md §3 E1; query_fieldmap.Rmd:1313-1975): per-generation
    conform + status recode (P6), union across database generations with
    schema drift (U1: gen1 lacks the priority column), vocabulary
    harmonization (K4), most-recent-wins grain resolution (W2/W3,
    date_status desc with db tiebreak), and the date-attach inner join
    (J5) before the deterministic publish sort. The whole chain is lazy —
    Catalyst pushes the per-generation filters into the shared orders
    scan and AQE picks join strategies at runtime."""
    o = load(spark, sf_dir, "orders")
    st = F.col("o_orderstatus")
    gen1 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        F.col("o_orderkey").alias("plot_id"),
        F.when(st == "O", "to do").when(st == "F", "done")
        .otherwise("busy").alias("status_raw"),
        F.col("o_orderdate").cast("date").alias("date_status"),
        F.lit("gen1").alias("db"),
    )
    gen2 = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("plot_id"),
        F.when(st == "O", "open").when(st == "F", "afgewerkt")
        .otherwise("in uitvoering").alias("status_raw"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias(
            "date_status"
        ),
        F.lit("gen2").alias("db"),
        F.col("o_orderpriority").alias("priority"),
    )
    u = gen1.unionByName(gen2, allowMissingColumns=True)
    h = u.withColumn(
        "status",
        F.when(F.col("status_raw").isin("to do", "open"), "todo")
        .when(F.col("status_raw").isin("busy", "in uitvoering"), "busy")
        .otherwise("done"),
    )
    w = W.partitionBy("plot_id").orderBy(
        F.col("date_status").desc(), F.col("db").desc()
    )
    latest = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "status_raw")
    )
    dates = o.select(
        F.col("o_orderkey").alias("plot_id"),
        F.col("o_orderdate").cast("date").alias("date_assessment"),
    )
    return (
        latest.join(dates, "plot_id", "inner")
        .select(
            "plot_id", "db", "status", "date_status", "priority",
            "date_assessment",
        )
        .orderBy("plot_id")
    )


_E2_RULES = [
    # the aquatic-chain rule set (versie '1.0'): thresholds on the mean
    # measured value per variable
    ("1.0", "ht_rush", "activiteit", "interactie", "click", ">=", 0.9, False),
    ("1.0", "ht_rush", "activiteit", "conversie", "purchase", ">=", 0.95, False),
    ("1.0", "ht_rush", "kwaliteit", "fouten", "error", "<", 0.52, False),
    ("1.0", "ht_normal", "activiteit", "interactie", "click", ">=", 0.95, False),
    ("1.0", "ht_normal", "activiteit", "conversie", "purchase", ">=", 1.0, False),
    ("1.0", "ht_normal", "kwaliteit", "fouten", "error", "<", 0.51, False),
    ("1.0", "ht_lax", "activiteit", "interactie", "click", ">=", 1.0, False),
    ("1.0", "ht_lax", "activiteit", "conversie", "purchase", ">=", 1.05, False),
    ("1.0", "ht_lax", "kwaliteit", "fouten", "error", "<", 0.50, False),
]

_E2_RULES_SQL = """
  (VALUES
    ('1.0','ht_rush','activiteit','interactie','click','>=',0.9,FALSE),
    ('1.0','ht_rush','activiteit','conversie','purchase','>=',0.95,FALSE),
    ('1.0','ht_rush','kwaliteit','fouten','error','<',0.52,FALSE),
    ('1.0','ht_normal','activiteit','interactie','click','>=',0.95,FALSE),
    ('1.0','ht_normal','activiteit','conversie','purchase','>=',1.0,FALSE),
    ('1.0','ht_normal','kwaliteit','fouten','error','<',0.51,FALSE),
    ('1.0','ht_lax','activiteit','interactie','click','>=',1.0,FALSE),
    ('1.0','ht_lax','activiteit','conversie','purchase','>=',1.05,FALSE),
    ('1.0','ht_lax','kwaliteit','fouten','error','<',0.50,FALSE))
  AS r(versie, habitat_type, criterium, indicator, voorwaarde, op,
       threshold, optional)
"""


@query(
    "inboveg_lsvi_pipeline",
    oracle="""
    WITH src AS (
      SELECT event_id, event_type AS var_code,
             CAST(round(value * 100) AS BIGINT) AS v100, value
      FROM events WHERE value IS NOT NULL
    ), rawv AS (
      SELECT event_id, var_code,
             CASE WHEN var_code = 'error' THEN 'ZS'
                  WHEN value < 20 THEN '<0,2'
                  WHEN value > 180 THEN '>180'
                  ELSE CAST(v100 // 100 AS VARCHAR) || ',' ||
                       lpad(CAST(v100 % 100 AS VARCHAR), 2, '0')
             END AS value
      FROM src
    ), eav AS (
      SELECT event_id, var_code,
             round(CASE WHEN value = 'ZS' THEN 0.5
                        WHEN value LIKE '<%'
                          THEN CAST(replace(substr(value, 2), ',', '.')
                                    AS DOUBLE)
                        WHEN value LIKE '>%'
                          THEN CAST(replace(substr(value, 2), ',', '.')
                                    AS DOUBLE)
                        ELSE CAST(replace(value, ',', '.') AS DOUBLE)
                   END + 1e-9, 6) AS value_numeric,
             value LIKE '<%' AS is_below_loq
      FROM rawv
    ), m AS (
      SELECT event_id % 3000 AS plot_id,
             CASE (event_id % 3000) % 3 WHEN 0 THEN 'ht_rush'
                  WHEN 1 THEN 'ht_normal' ELSE 'ht_lax' END AS habitat_type,
             var_code AS voorwaarde,
             CASE WHEN is_below_loq THEN value_numeric / 2
                  ELSE value_numeric END AS v
      FROM eav
    ), meas AS (
      SELECT plot_id, habitat_type, voorwaarde,
             round(avg(v) + sign(avg(v)) * 1e-9, 6) AS value
      FROM m GROUP BY 1, 2, 3
    ), plots AS (
      SELECT DISTINCT plot_id, habitat_type FROM meas
    ), detail AS (
      SELECT p.plot_id, p.habitat_type, r.criterium, r.indicator,
             CASE r.op WHEN '>=' THEN m.value >= r.threshold
                       WHEN '>'  THEN m.value >  r.threshold
                       WHEN '<=' THEN m.value <= r.threshold
                       WHEN '<'  THEN m.value <  r.threshold
                       WHEN '='  THEN m.value =  r.threshold
             END AS sv
      FROM plots p
      JOIN {rules}
        ON p.habitat_type = r.habitat_type AND r.versie = '1.0'
      LEFT JOIN meas m
        ON m.plot_id = p.plot_id AND m.habitat_type = p.habitat_type
       AND m.voorwaarde = r.voorwaarde
    ), ind AS (
      SELECT plot_id, habitat_type, criterium, indicator,
             CASE WHEN bool_or(sv IS NULL) THEN NULL
                  ELSE bool_and(sv) END AS si
      FROM detail GROUP BY 1, 2, 3, 4
    ), crit AS (
      SELECT plot_id, habitat_type, criterium,
             CASE WHEN bool_or(si IS NULL) THEN NULL
                  ELSE bool_and(si) END AS sc
      FROM ind GROUP BY 1, 2, 3
    )
    SELECT plot_id, habitat_type,
           CASE WHEN bool_or(sc IS NULL) THEN NULL
                ELSE bool_and(sc) END AS status_global,
           CASE WHEN bool_or(sc IS NULL) THEN NULL
                ELSE round(avg(CASE WHEN sc THEN 1 ELSE 0 END) + 1e-9, 6)
           END AS share_favourable
    FROM crit GROUP BY 1, 2
    """.format(rules=_E2_RULES_SQL),
)
def inboveg_lsvi_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — the INBOVEG aquatic chain end to end, as ONE Catalyst plan
    (SURVEY.md §3 E2): the K6 EAV restructure (locale/LOQ measurement
    parsing) feeds LSVI input shaping — below-LOQ values halved per
    HT31xx_LSVI.Rmd:128-132 — then per-plot mean measurements run through
    the K7 broadcast-rule engine to the global status. Three notebooks in
    the reference, one lazy plan here: the EAV parse stays in the scan
    projection, the only shuffles are the measurement aggregation and the
    level roll-ups."""
    eav = k6_eav_restructure(spark, sf_dir)
    plot = F.col("event_id") % 3000
    m = eav.select(
        plot.alias("plot_id"),
        F.when(plot % 3 == 0, "ht_rush")
        .when(plot % 3 == 1, "ht_normal")
        .otherwise("ht_lax")
        .alias("habitat_type"),
        F.col("var_code").alias("voorwaarde"),
        F.when(
            F.col("is_below_LOQ"), F.col("value_numeric") / 2
        ).otherwise(F.col("value_numeric")).alias("v"),
    )
    meas = m.groupBy("plot_id", "habitat_type", "voorwaarde").agg(
        eps_round(F.avg("v"), 6).alias("value")
    )
    detail = evaluate_conditions(
        meas, rules_dim(spark, _E2_RULES), versie="1.0"
    )
    return aggregate_levels(detail)["lsvi_globaal"]


@query(
    "vbi_forest_pipeline",
    oracle="""
    WITH trees AS (
      SELECT l_orderkey AS plot_id,
             CASE WHEN l_partkey % 3 = 0 THEN 'g1'
                  WHEN l_partkey % 3 = 1 THEN 'g2' ELSE 'g3' END
               AS species_group,
             CAST(l_quantity AS DOUBLE) AS dbh,
             round(l_extendedprice / 1000 + 1e-9, 2) AS height,
             l_discount * 1000 AS cover_mean
      FROM lineitem
    ), params AS (
      SELECT * FROM (VALUES
        ('g1', 1, 0.05, 0.002, 0.0001, 0.0),
        ('g2', 2, 0.02, 0.003, 0.0002, 0.00001),
        ('g3', 3, 0.01, 0.0005, 0.00002, 0.0))
      AS p(species_group, formule_type, a, b, c, d)
    ), vols AS (
      SELECT t.plot_id,
             round(CASE p.formule_type
                     WHEN 1 THEN a + b * dbh + c * dbh * dbh
                     WHEN 2 THEN a + b * dbh + c * dbh * dbh
                                 + d * dbh * dbh * dbh
                     WHEN 3 THEN a + b * dbh * dbh + c * dbh * dbh * height
                   END + sign(CASE p.formule_type
                     WHEN 1 THEN a + b * dbh + c * dbh * dbh
                     WHEN 2 THEN a + b * dbh + c * dbh * dbh
                                 + d * dbh * dbh * dbh
                     WHEN 3 THEN a + b * dbh * dbh + c * dbh * dbh * height
                   END) * 1e-9, 6) AS vol_m3,
             cover_mean
      FROM trees t LEFT JOIN params p USING (species_group)
    ), per_plot AS (
      SELECT plot_id,
             CAST(count(*) AS BIGINT) AS n_trees,
             round(sum(vol_m3) + 1e-9, 4) AS vol_total,
             CASE WHEN count(*) <> count(cover_mean) THEN NULL
                  WHEN max(cover_mean) >= 100 THEN 100.0
                  ELSE round((1 - exp(sum(CASE WHEN cover_mean < 100
                         THEN ln(1 - cover_mean / 100.0) END))) * 100
                         + 1e-9, 6)
             END AS cover_layer
      FROM vols GROUP BY 1
    )
    SELECT plot_id, n_trees, vol_total, cover_layer FROM per_plot
    """,
)
def vbi_forest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — the VBI forest-inventory chain end to end
    (SURVEY.md §3 E3; export_from_vbidwh.Rmd:41-201): per-tree volumes via
    the K8 tariff polynomials (broadcast parameter dim), rolled up per
    plot next to the A3 complement-product layer cover — the published
    per-plot stand summary. Two operator reuses joined on the plot key;
    both sides pre-aggregate on the same key, so the final join is a
    broadcast of the smaller aggregate under AQE."""
    li = load(spark, sf_dir, "lineitem")
    trees = li.select(
        F.col("l_orderkey").alias("plot_id"),
        F.when(F.col("l_partkey") % 3 == 0, "g1")
        .when(F.col("l_partkey") % 3 == 1, "g2")
        .otherwise("g3")
        .alias("species_group"),
        F.col("l_quantity").cast("double").alias("dbh"),
        F.round(F.col("l_extendedprice") / 1000 + F.lit(1e-9), 2).alias(
            "height"
        ),
        (F.col("l_discount") * 1000).alias("cover_mean"),
    )
    params = tariff_dim(
        spark,
        [
            ("g1", 1, 0.05, 0.002, 0.0001, 0.0),
            ("g2", 2, 0.02, 0.003, 0.0002, 0.00001),
            ("g3", 3, 0.01, 0.0005, 0.00002, 0.0),
        ],
    )
    vols = compute_volume(trees, params, dbh_col="dbh", height_col="height")
    per_plot_vol = vols.groupBy("plot_id").agg(
        F.count("*").alias("n_trees"),
        F.round(F.sum("vol_m3") + F.lit(1e-9), 4).alias("vol_total"),
    )
    per_plot_cover = layer_cover_rollup(
        trees.select("plot_id", "cover_mean"), ["plot_id"]
    )
    return per_plot_vol.join(per_plot_cover, "plot_id").select(
        "plot_id", "n_trees", "vol_total", "cover_layer"
    )


@query(
    "audit_input_pinning",
    oracle="""
    WITH fp AS (
      SELECT lang,
             bit_xor(CAST(('0x' || substr(md5(
                 coalesce(CAST(doc_id AS VARCHAR), chr(0) || 'NULL')
                 || chr(31)
                 || coalesce(text, chr(0) || 'NULL')), 1, 15))
                          AS BIGINT)) AS fingerprint,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM documents GROUP BY 1
    ), rec AS (
      SELECT lang,
             xor(fingerprint,
                 CASE WHEN lang = (SELECT min(lang) FROM documents)
                      THEN 1 ELSE 0 END) AS fingerprint_expected
      FROM fp
    )
    SELECT f.lang, f.fingerprint, r.fingerprint_expected,
           f.fingerprint = r.fingerprint_expected AS match, f.n_rows
    FROM fp f LEFT JOIN rec r USING (lang)
    """,
)
def audit_input_pinning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input-version pinning audit (check_observed_habitat_type.Rmd:106-113
    scaled to datasets): per-shard order-insensitive content fingerprints
    (bit_xor of a portable 60-bit md5 row hash — partial-aggregable, no
    sort) joined against a recorded manifest with a match flag. The
    manifest here is derived in-query with the lexicographically first
    lang's entry deliberately poisoned, so the audit demonstrably flags a
    drifted input at any sf."""
    from n2khab_mhq_data_spark.operators.pinning import (
        dataset_fingerprint,
        pin_dataset_version,
    )

    docs = load(spark, sf_dir, "documents")
    fp = dataset_fingerprint(docs, cols=["doc_id", "text"], group_by=["lang"])
    first = docs.agg(F.min("lang").alias("__ml"))
    recorded = (
        fp.crossJoin(F.broadcast(first))
        .select(
            "lang",
            F.col("fingerprint")
            .bitwiseXOR(
                F.when(F.col("lang") == F.col("__ml"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .alias("fingerprint_expected"),
        )
    )
    return pin_dataset_version(
        docs, recorded, ["lang"], cols=["doc_id", "text"]
    )
