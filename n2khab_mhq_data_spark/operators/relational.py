"""Grain / dedup / audit operators — the reference's in-pipeline data-quality
idioms (SURVEY.md §1.3, §5) as first-class library functions.

All of these are pure DataFrame compositions: they shuffle once on the key
columns and stay entirely JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from n2khab_mhq_data_spark.functions.scalars import ident


class GrainViolation(AssertionError):
    pass


def duplicates(df: DataFrame, keys: list[str]) -> DataFrame:
    """The reference's duplicate detector: group_by(keys) |> mutate(n=n()) |>
    filter(n > 1) (query_fieldmap.Rmd:1370-1385, ~20 sites). Returns the
    offending rows with an ``n`` column."""
    if "n" in df.columns:
        # withColumn would silently replace the caller's data with the
        # group count — same reserved-name posture as dedup_keep_latest
        raise ValueError(
            "duplicates reserves the 'n' output column; rename the"
            " input's 'n' before checking"
        )
    w = W.partitionBy(*keys)
    return df.withColumn("n", F.count("*").over(w)).filter(F.col("n") > 1)


def assert_grain(df: DataFrame, keys: list[str], max_show: int = 20) -> DataFrame:
    """Fail fast if ``keys`` is not a unique key of ``df`` (the reference's
    'geen fout in data' check queries, promoted to a hard assertion).
    Single aggregation job — no window, no second pass."""
    dupe = (
        df.groupBy(*keys)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .limit(max_show)
        .collect()
    )
    if dupe:
        raise GrainViolation(
            f"grain {keys} violated; first offenders: {[r.asDict() for r in dupe]}"
        )
    return df


def dedup_keep_latest(
    df: DataFrame, keys: list[str], order_by: list[str]
) -> DataFrame:
    """Keyed dedup with ordering: keeps the FIRST row per key under
    ``order_by``, a list of SQL ORDER BY items — for most-recent-wins
    (filter(date_status == max(date_status)) + unique(),
    query_fieldmap.Rmd:1376-1379) pass DESCENDING items, e.g.
    ``["updated_at DESC", ...]`` (as incremental_merge does); plain
    ascending items keep the OLDEST. ``order_by`` must be a total order
    (add a unique id as final tiebreak). The window is SQL text, so the
    build costs a handful of py4j calls however many keys there are."""
    if "__rn" in df.columns:
        # selecting "*" plus a second __rn would make the filter
        # ambiguous and drop() then delete the caller's data — same
        # guard as membership_flag/asof_join
        raise ValueError(
            "dedup_keep_latest reserves the '__rn' column name;"
            " rename it before deduping"
        )
    part = ", ".join(ident(k) for k in keys)
    return (
        df.selectExpr(
            "*",
            f"row_number() OVER (PARTITION BY {part}"
            f" ORDER BY {', '.join(order_by)}) AS __rn",
        )
        .where("__rn = 1")
        .drop("__rn")
    )


def membership_flag(
    df: DataFrame,
    other: DataFrame,
    left_key: str,
    right_key: str,
    flag_name: str,
) -> DataFrame:
    """mutate(flag = id %in% other$id) (query_fieldmap.Rmd:1655-1662):
    broadcast the DISTINCT key set of ``other`` and left-join — a map-side
    lookup, not a shuffle, as long as the key set fits the broadcast cap."""
    # the internal lookup columns would ambiguously collide with (or
    # silently drop) same-named input columns — same guard as asof_join
    reserved = {"__mk", "__hit"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"membership_flag reserves column names {sorted(reserved)};"
            " rename them before flagging"
        )
    if flag_name in ("__mk", "__hit"):
        # the final drop would delete the just-computed flag and
        # silently return the input unchanged
        raise ValueError(
            f"membership_flag: flag_name {flag_name!r} collides with an"
            " internal column; pick another name"
        )
    keys = (
        other.select(F.col(right_key).alias("__mk")).distinct().withColumn(
            "__hit", F.lit(True)
        )
    )
    return (
        df.join(F.broadcast(keys), df[left_key] == keys["__mk"], "left")
        .withColumn(flag_name, F.coalesce(F.col("__hit"), F.lit(False)))
        .drop("__mk", "__hit")
    )


def audit_missing(
    header: DataFrame, facts: dict[str, DataFrame], key: str
) -> DataFrame:
    """Completeness audit (kernel K3, query_fieldmap.Rmd:1621-1674): for each
    header row, one boolean ``has_<name>`` per fact table."""
    out = header
    for name, fact in facts.items():
        out = membership_flag(out, fact, key, key, f"has_{name}")
    return out


def patch_rows(df: DataFrame, predicates: list[Column]) -> DataFrame:
    """Surgical row removal by composite predicates (P5,
    query_fieldmap.Rmd:1589-1595).

    NULL semantics are deliberately SQL's (and R filter's, which the
    reference uses): ``filter(~p)`` keeps only rows where ``~p`` is
    TRUE, so a row where the predicate evaluates to NULL (a nullable
    column compared against a literal) is ALSO removed — exactly what
    ``WHERE NOT (...)`` does in the DuckDB oracle and what
    ``filter(!(...))`` does in R on NA. Callers who want NULL-keyed
    rows kept must say so in the predicate (``eqNullSafe`` /
    ``isNotNull`` guards), not rely on the operator."""
    for p in predicates:
        df = df.filter(~p)
    return df
