"""K1 cover-scale decode + A3 complement-product roll-up.

Reference: the 60-row cover_scales.csv dimension maps (scale, class code) ->
mean/min/max cover percent (query_fieldmap.Rmd:78-93); layer cover is rolled
up from species covers as 1 - prod(1 - cover) (export_from_vbidwh.Rmd:88-92).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from n2khab_mhq_data_spark.catalog import local_dim

# A compact cover-scale dimension in the shape of metadata/cover_scales.csv
# (scale name, class code, mean/min/max cover %). Values follow the published
# Londo / Braun-Blanquet class midpoints.
COVER_SCALE_ROWS = [
    ("londo", "1", 5.0, 0.0, 10.0),
    ("londo", "2", 15.0, 10.0, 20.0),
    ("londo", "3", 25.0, 20.0, 30.0),
    ("londo", "4", 35.0, 30.0, 40.0),
    ("londo", "5", 45.0, 40.0, 50.0),
    ("braun_blanquet", "r", 0.5, 0.0, 1.0),
    ("braun_blanquet", "+", 1.0, 0.0, 2.0),
    ("braun_blanquet", "1", 3.0, 1.0, 5.0),
    ("braun_blanquet", "2", 15.0, 5.0, 25.0),
    ("braun_blanquet", "3", 37.5, 25.0, 50.0),
    ("braun_blanquet", "4", 62.5, 50.0, 75.0),
    ("braun_blanquet", "5", 87.5, 75.0, 100.0),
]

COVER_SCALE_SCHEMA = (
    "coverscale_name string, class_id string, cover_mean double,"
    " cover_min double, cover_max double"
)


def cover_scale_dim(spark: SparkSession) -> DataFrame:
    return local_dim(spark, COVER_SCALE_ROWS, COVER_SCALE_SCHEMA)


def decode_cover(
    df: DataFrame,
    dim: DataFrame,
    scale_col: str = "coverscale_name",
    class_col: str = "class_id",
) -> DataFrame:
    """K1: broadcast multi-key left join to the cover-scale dimension
    (query_fieldmap.Rmd:354,419 — dplyr left_join on
    (coverscale_name, class_id)). The dim is tiny -> always broadcast."""
    overlap = (set(dim.columns) - {scale_col, class_col}) & set(df.columns)
    if overlap:
        raise ValueError(
            f"decode_cover: df already carries dim payload columns"
            f" {sorted(overlap)} — the join would produce ambiguous"
            " duplicates; rename or drop them first"
        )
    return df.join(
        dim.hint("broadcast"),
        on=[scale_col, class_col],
        how="left",
    )


def layer_cover_rollup(
    df: DataFrame, keys: list[str], cover_col: str = "cover_mean"
) -> DataFrame:
    """A3: layer cover from species covers, 1 - prod(1 - cover/100)
    (export_from_vbidwh.Rmd:88-92), computed as exp-sum-log so it stays a
    single partial-aggregable expression (map-side combine at scale).

    Boundary semantics match R's prod() ON THE VALID DOMAIN [0, 100]:
    - any NULL cover -> NULL layer cover (NA * x = NA; checked FIRST because
      prod(c(NA, 1)) is NA in R even when another factor is 0 -> NA*0 = NA);
    - a cover OUTSIDE [0, 100] (or NaN — which Spark's max/comparison
      semantics rank above every number) RAISES: the complement formula
      is only meaningful for percentages, and silently clamping 150 to
      100 (or letting a negative cover inflate the product past 1) would
      diverge from R's prod() while looking plausible — the K8-tariff
      fail-fast convention;
    - else cover == 100 -> exactly 100 (the product hits 0; Spark's
      log(0) is NULL and sum() would silently skip it, under-reporting);
    - else the exp-sum-log closed form. All branches are plain
      partial-aggregable aggregates (count/min/max/sum), so map-side
      combine still applies.
    """
    cover = F.col(cover_col)
    frac = 1 - cover / 100.0
    has_null = F.count(F.lit(1)) != F.count(cover)
    bad = (F.max(cover) > 100.0) | (F.min(cover) < 0.0)
    return df.groupBy(*keys).agg(
        F.when(has_null, F.lit(None).cast("double"))
        .when(
            bad,
            F.raise_error(
                F.format_string(
                    "layer_cover_rollup: cover outside [0, 100] "
                    "(min=%s, max=%s) — percentages only",
                    F.min(cover), F.max(cover),
                )
            ).cast("double"),
        )
        .when(F.max(cover) >= 100.0, F.lit(100.0))
        .otherwise(
            F.round((1 - F.exp(F.sum(F.log(frac)))) * 100 + F.lit(1e-9), 6)
        )
        .alias("cover_layer")
    )
