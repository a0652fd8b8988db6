"""K10 — incremental append/update of published tables (the reference's
new-fieldwork-season merge, query_fieldmap_update_fieldwork2022.Rmd:943-1076):
read the published table, align schema, union the new cycle, re-check grain,
keep the most recent row per key, rewrite deterministically.

This is the batch MERGE micro-pattern; ``sources/snapshots.py::merge_snapshot``
applies it to a versioned snapshot store."""

from __future__ import annotations

from pyspark.sql import DataFrame

from n2khab_mhq_data_spark.operators.relational import dedup_keep_latest


def incremental_merge(
    published: DataFrame,
    delta: DataFrame,
    keys: list[str],
    order_by: list[str],
) -> DataFrame:
    """unionByName (schema drift tolerated: missing cols -> null) then
    latest-wins dedup on the key, with DELTA-BEATS-PUBLISHED as the
    final tiebreak: when a delta row carries exactly the same
    ``order_by`` values (SQL ORDER BY items, as in
    ``dedup_keep_latest``) as the published row it corrects (a
    same-timestamp correction, common in CDC replays), the delta row
    deterministically wins — otherwise which row survives would be
    partition-order luck, and two replays of the same batch could
    publish different states. When ``order_by`` is already a total
    order (e.g. ["ts DESC", "event_id DESC"] with unique ids) the tag
    never decides anything.

    Scale note: the shuffle is on ``keys`` only; at 100 TB partition the
    published table by a key prefix so the union reads prune, and let AQE
    split skewed keys."""
    if "__src" in published.columns or "__src" in delta.columns:
        raise ValueError(
            "incremental_merge reserves the '__src' column name;"
            " rename it before merging"
        )
    merged = published.selectExpr("*", "0 AS __src").unionByName(
        delta.selectExpr("*", "1 AS __src"), allowMissingColumns=True
    )
    return dedup_keep_latest(
        merged, keys, [*order_by, "__src DESC"]
    ).drop("__src")
