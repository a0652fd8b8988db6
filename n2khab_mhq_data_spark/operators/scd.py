"""Slowly-changing-dimension Type-2 history builder.

The reference keeps raw versioned snapshots (S6/S8 read_vc/write_vc with
git-history semantics) but never materializes validity intervals; any
warehouse consumer of those snapshots needs the classic SCD2 shape:
per key, one row per *state change* with ``valid_from`` / ``valid_to``
bounds and an ``is_current`` flag, consecutive no-op updates collapsed.

Pure window algebra, one shuffle on the key:

1. order each key's change stream by (ts, tiebreak),
2. keep only rows whose tracked state differs from the previous row's
   (lag) — no-op updates vanish,
3. ``valid_to`` = lead(valid_from) over the surviving rows; null means
   current.

At 100 TB: the key cardinality is the parallelism; both window passes
reuse ONE hash partitioning on the key (Spark plans a single Exchange
for same-key windows), and nothing is ever collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from n2khab_mhq_data_spark.functions.scalars import ident


def scd2_history(
    df: DataFrame,
    key_cols: list[str],
    state_cols: list[str],
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Collapse a change-event stream into SCD2 validity intervals.

    Output: ALL input columns pass through (each surviving change-row's
    values — select explicitly if you need only key + state), plus
    ``valid_from`` (first ts at which the state held), ``valid_to``
    (ts of the next different state, null while current),
    ``is_current``.
    """
    reserved = {"__prev", "valid_from", "valid_to", "is_current"} & set(
        df.columns
    )
    if reserved:
        raise ValueError(
            f"scd2_history reserves column names {sorted(reserved)};"
            " rename them before deriving history"
        )
    # both windows are SQL text over the same (key, ts, tiebreak) order,
    # so Spark plans one Exchange and the build costs a few py4j calls
    order = ", ".join(ident(c) for c in [ts_col, *(tiebreak_cols or [])])
    over = (
        f"OVER (PARTITION BY {', '.join(ident(c) for c in key_cols)}"
        f" ORDER BY {order})"
    )
    state = f"struct({', '.join(ident(c) for c in state_cols)})"
    # null-safe comparison: a null state field must still compare (a
    # plain != returns null and would silently drop real changes)
    changed = df.selectExpr("*", f"lag({state}) {over} AS __prev").where(
        f"NOT (__prev <=> {state})"
    )
    return (
        changed.selectExpr("*", f"{ident(ts_col)} AS valid_from")
        .selectExpr("*", f"lead(valid_from) {over} AS valid_to")
        .selectExpr("*", "valid_to IS NULL AS is_current")
        .drop("__prev")
    )
