"""Spatial queries J10/J11/K5/K11 (SURVEY.md §2.3, §2.10) — pandas-UDF
geometry kernels and SQL-text CRS formulas, tested against SQL oracles.

Synthetic geometry: points and segment cuts are derived from customer keys
with pure integer arithmetic, so the DuckDB oracle can re-derive the exact
same coordinates; polygons are grid cells whose containment has an exact
arithmetic form. The Spark side still runs the REAL general kernels
(ray-casting, strip clipping, LCC projection)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from n2khab_mhq_data_spark.catalog import load
from n2khab_mhq_data_spark.plans import query, shared, store_dir
from n2khab_mhq_data_spark.spatial import crs
from n2khab_mhq_data_spark.spatial.join import (
    point_in_polygon_join,
    strip_segment_areas,
)

# 5x5 grid of 20x20 cells over [0,100)^2; cell id = col + 5*row
_GRID_POLYGONS = {
    col + 5 * row: [
        (20.0 * col, 20.0 * row),
        (20.0 * (col + 1), 20.0 * row),
        (20.0 * (col + 1), 20.0 * (row + 1)),
        (20.0 * col, 20.0 * (row + 1)),
    ]
    for row in range(5)
    for col in range(5)
}


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic point per customer (never on a cell boundary: +0.05)."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("point_id"),
        ((F.col("c_custkey") * 7919 % 1000) / 10.0 + 0.05).alias("x"),
        ((F.col("c_custkey") * 104729 % 1000) / 10.0 + 0.05).alias("y"),
    )


@query(
    "j10_point_in_polygon",
    oracle="""
    WITH p AS (
      SELECT c_custkey AS point_id,
             (c_custkey * 7919 % 1000) / 10.0 + 0.05 AS x,
             (c_custkey * 104729 % 1000) / 10.0 + 0.05 AS y
      FROM customer
    )
    SELECT point_id,
           CAST(floor(x / 20) + 5 * floor(y / 20) AS BIGINT) AS polygon_id
    FROM p
    """,
)
def j10_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 spatial point-in-polygon join (st_join(points, habitatmap),
    check_observed_habitat_type.Rmd:147-148): broadcast polygon list, bbox
    prefilter, exact ray-casting in a vectorized pandas UDF. The grid-cell
    polygon set lets the oracle verify containment with exact arithmetic —
    the Spark side runs the general kernel, the oracle the closed form."""
    return point_in_polygon_join(_points(spark, sf_dir), _GRID_POLYGONS)


# the synthetic BD72/WGS84 point of each customer, in radians
_PHI = "radians(50.0D + (c_custkey % 100) / 100.0D)"
_LAM = "radians(3.0D + (c_custkey % 73) / 73.0D * 2)"


def _consts(**values: float) -> str:
    """A one-row oracle relation of named DOUBLE constants."""
    return "SELECT " + ", ".join(
        f"{float(v)!r}::DOUBLE AS {k}" for k, v in values.items()
    )


_LCC_CONSTS = _consts(
    e=crs._E, a=crs._A, n=crs._N, bigf=crs._BIGF, rho0=crs._RHO0,
    lon0=crs._LON0, x0=crs._X0, y0=crs._Y0,
)


def _lcc_oracle(src: str) -> str:
    """The K11 oracles' last step: LCC-2SP from ``src``'s radian
    ``phi``/``lam`` columns to rounded metres."""
    return f""", proj AS (
      SELECT point_id,
             a * bigf * power(
               tan(pi() / 4 - phi / 2)
               / power((1 - e * sin(phi)) / (1 + e * sin(phi)), e / 2), n)
               AS rho,
             n * (lam - lon0) AS theta, x0, y0, rho0
      FROM {src}, k
    )
    SELECT point_id,
           round(x0 + rho * sin(theta) + 1e-9, 3) AS x,
           round(y0 + rho0 - rho * cos(theta) + 1e-9, 3) AS y
    FROM proj"""


@query(
    "k11_crs_transform",
    oracle=f"""
    WITH k AS ({_LCC_CONSTS}),
    pts AS (
      SELECT c_custkey AS point_id,
             radians(50.0 + (c_custkey % 100) / 100.0) AS phi,
             radians(3.0 + (c_custkey % 73) / 73.0 * 2) AS lam
      FROM customer
    ){_lcc_oracle("pts")}
    """,
)
def k11_crs_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K11 CRS transform, projection leg (BD72 lon/lat -> Lambert-72 metres):
    Snyder LCC-2SP as one SQL-text projection; the oracle evaluates the same
    published formulas. The full sf::st_transform pipeline (datum shift +
    projection) is k11_crs_full_datum."""
    x, y = crs.lambert72_sql(_PHI, _LAM)
    return load(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS point_id",
        f"round({x} + 1e-9D, 3) AS x",
        f"round({y} + 1e-9D, 3) AS y",
    )


_HELMERT_CONSTS = _consts(
    wa=crs._WGS_A, we2=crs._WGS_E2, a2=crs._A, e2=crs._E2, tx=crs._TX,
    ty=crs._TY, tz=crs._TZ, rx=crs._RX, ry=crs._RY, rz=crs._RZ, ds=crs._DS,
)

# 6 unrolled iterations of the geocentric->geodetic latitude recovery
# (mirrors crs._xyz_to_geodetic's fixed-point loop exactly)
_PHI_ITER = "".join(
    f""", g{i + 1} AS (
      SELECT point_id, lam, p, zb, e2, a2,
             atan2(zb + e2 * (a2 / sqrt(1 - e2 * sin(phi) * sin(phi)))
                   * sin(phi), p) AS phi
      FROM g{i}
    )"""
    for i in range(6)
)


@query(
    "k11_crs_full_datum",
    oracle=f"""
    WITH hk AS ({_HELMERT_CONSTS}), k AS ({_LCC_CONSTS}),
    pts AS (
      SELECT c_custkey AS point_id,
             radians(50.0 + (c_custkey % 100) / 100.0) AS phw,
             radians(3.0 + (c_custkey % 73) / 73.0 * 2) AS lmw
      FROM customer
    ), xyz0 AS (
      SELECT point_id, phw, lmw,
             wa / sqrt(1 - we2 * sin(phw) * sin(phw)) AS nu,
             tx, ty, tz, rx, ry, rz, ds, we2
      FROM pts, hk
    ), xyz AS (
      SELECT point_id,
             tx + (1 + ds) * (x - rz * y + ry * z) AS xb,
             ty + (1 + ds) * (rz * x + y - rx * z) AS yb,
             tz + (1 + ds) * (-ry * x + rx * y + z) AS zb
      FROM (
        SELECT point_id, tx, ty, tz, rx, ry, rz, ds,
               nu * cos(phw) * cos(lmw) AS x,
               nu * cos(phw) * sin(lmw) AS y,
               nu * (1 - we2) * sin(phw) AS z
        FROM xyz0
      ) q
    ), g0 AS (
      SELECT point_id, atan2(yb, xb) AS lam,
             sqrt(xb * xb + yb * yb) AS p, zb, e2, a2,
             atan2(zb, sqrt(xb * xb + yb * yb) * (1 - e2)) AS phi
      FROM xyz, hk
    ){_PHI_ITER}{_lcc_oracle("g6")}
    """,
)
def k11_crs_full_datum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K11 full EPSG:31370 pipeline from true WGS84 (what sf::st_transform
    does, process_external_data.Rmd:148-152): Helmert 7-parameter shift to
    BD72 (inverse EPSG:15929) then LCC-2SP. ~100 m from the projection-only
    leg over Belgium. Spark and the oracle evaluate the same SQL steps,
    the fixed-point latitude recovery unrolled to the same 6 iterations."""
    df = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS point_id", f"{_PHI} AS phi", f"{_LAM} AS lam",
        *crs.wgs84_to_bd72_sql(),
    )
    x, y = crs.lambert72_sql("phi6", "lam_bd")
    return df.selectExpr(
        "point_id", f"round({x} + 1e-9D, 3) AS x", f"round({y} + 1e-9D, 3) AS y"
    )


@query(
    "j11_segment_area_weights",
    oracle=f"""
    WITH segs AS (
      SELECT c_custkey AS plot_id, s.segment_id,
             CASE s.segment_id WHEN 1 THEN -9.0
                  ELSE -8.95 + (c_custkey % 180) / 10.0 END AS x0,
             CASE s.segment_id WHEN 1 THEN -8.95 + (c_custkey % 180) / 10.0
                  ELSE 9.0 END AS x1
      FROM customer, (VALUES (1), (2)) AS s(segment_id)
    ), area AS (
      SELECT plot_id, segment_id,
             (pi() * 81 - (81 * acos(x1 / 9.0)
                           - x1 * sqrt(81 - x1 * x1)))
             - (pi() * 81 - (81 * acos(x0 / 9.0)
                             - x0 * sqrt(81 - x0 * x0))) AS seg_area
      FROM segs
    )
    SELECT plot_id, segment_id,
           round(seg_area + 1e-9, 3) AS seg_area,
           round(seg_area / (pi() * 81) + 1e-9, 6) AS weight
    FROM area
    """,
)
def j11_segment_area_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11/K5 segment-area weights (calc_plot_segment_area.Rmd:48-113):
    plot circle r=9 m split into two bands at a per-plot cut; intersection
    area from the vectorized strip-clipping kernel; weight = area share of
    the circle (the reference's segment weight). Oracle: the closed-form
    circular-segment formula."""
    c = load(spark, sf_dir, "customer")
    cut = (-8.95 + (F.col("c_custkey") % 180) / 10.0).alias("cut")
    segs = (
        c.select(F.col("c_custkey").alias("plot_id"), cut)
        .select(
            "plot_id",
            F.explode(
                F.array(
                    F.struct(
                        F.lit(1).alias("segment_id"),
                        F.lit(-9.0).alias("x0"),
                        F.col("cut").alias("x1"),
                    ),
                    F.struct(
                        F.lit(2).alias("segment_id"),
                        F.col("cut").alias("x0"),
                        F.lit(9.0).alias("x1"),
                    ),
                )
            ).alias("s"),
        )
        .select("plot_id", "s.segment_id", "s.x0", "s.x1")
    )
    out = strip_segment_areas(segs, radius=9.0)
    return out.select(
        "plot_id",
        "segment_id",
        F.round(F.col("seg_area") + F.lit(1e-9), 3).alias("seg_area"),
        F.round(F.col("weight") + F.lit(1e-9), 6).alias("weight"),
    )


@query(
    "s7_wkt_layer_load",
    oracle="""
    WITH g AS (
      SELECT c_custkey AS feature_id, 1.0 + (c_custkey % 4) AS s
      FROM customer
    )
    SELECT feature_id,
           CASE WHEN feature_id % 5 = 0 THEN 2 ELSE 1 END AS n_polys,
           CASE WHEN feature_id % 5 = 0 THEN 2
                WHEN feature_id % 3 = 0 THEN 2 ELSE 1 END AS n_rings,
           CASE WHEN feature_id % 5 = 0 THEN 10
                WHEN feature_id % 3 = 0 THEN 10 ELSE 5 END AS n_points,
           round(CASE
             WHEN feature_id % 5 = 0 THEN 4*s*s + s*s
             WHEN feature_id % 3 = 0 THEN 4*s*s - s*s
             ELSE 4*s*s END + 1e-9, 3) AS area
    FROM g
    """,
)
def s7_wkt_layer_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 spatial-layer ingestion: WKT text column -> validated layer with
    shape stats + exact shoelace area (sf::st_read + st_area analog). The
    layer mixes simple POLYGONs, POLYGONs with a hole, and MULTIPOLYGONs,
    all built as REAL WKT strings Spark-side so the parser runs end-to-end;
    the oracle re-derives the areas arithmetically (square side 2s, hole
    side s: 4s^2 - s^2; two squares: 4s^2 + s^2)."""
    from n2khab_mhq_data_spark.spatial.join import parse_wkt_layer

    c = load(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    s = (1.0 + (k % 4)).cast("double")
    cx = (k % 23).cast("double")
    cy = (k % 17).cast("double")
    # square ring (closed, CCW) at (x, y) with half-side h
    def sq(x, y, h):
        return F.format_string(
            "(%.2f %.2f, %.2f %.2f, %.2f %.2f, %.2f %.2f, %.2f %.2f)",
            x - h, y - h, x + h, y - h, x + h, y + h, x - h, y + h,
            x - h, y - h,
        )

    wkt = (
        F.when(
            k % 5 == 0,
            F.format_string(
                "MULTIPOLYGON ((%s), (%s))",
                sq(cx, cy, s),
                sq(cx + 10 * s, cy, s / 2),
            ),
        )
        .when(
            k % 3 == 0,
            F.format_string("POLYGON (%s, %s)", sq(cx, cy, s), sq(cx, cy, s / 2)),
        )
        .otherwise(F.format_string("POLYGON (%s)", sq(cx, cy, s)))
    )
    # spread the CPU-bound python WKT parse: the testbed's single-file
    # customer scan is one input partition, which would serialize the
    # whole pass onto one Arrow worker (same fix as llmdata's
    # _spread_ids); at 100 TB the scan already has ample partitions
    layer = c.select(k.alias("feature_id"), wkt.alias("wkt")).repartition(
        spark.sparkContext.defaultParallelism, "feature_id"
    )
    out = parse_wkt_layer(layer, "wkt", "feature_id")
    return out.select(
        "feature_id",
        "n_polys",
        "n_rings",
        "n_points",
        F.round(F.col("area") + F.lit(1e-9), 3).alias("area"),
    )


@query(
    "j11_wkt_polygon_area",
    oracle="""
    WITH geo AS (
      SELECT c_custkey AS plot_id,
             ((c_custkey % 7) - 3.0) AS cx,
             ((c_custkey % 11) / 2.0 - 2.5) AS cy,
             ((c_custkey % 7) - 3.0) + ((c_custkey % 5) - 2.0) AS mx,
             ((c_custkey % 11) / 2.0 - 2.5)
               + ((c_custkey % 13) / 4.0 - 1.5) AS my,
             (3.0 + (c_custkey % 9)) AS p,
             (2.0 + (c_custkey % 6)) AS q
      FROM customer
    ), edges AS (
      SELECT plot_id,
        CASE e.i WHEN 0 THEN mx + p WHEN 1 THEN mx
                 WHEN 2 THEN mx - p ELSE mx END - cx AS x1,
        CASE e.i WHEN 0 THEN my WHEN 1 THEN my + q
                 WHEN 2 THEN my ELSE my - q END - cy AS y1,
        CASE e.i WHEN 0 THEN mx WHEN 1 THEN mx - p
                 WHEN 2 THEN mx ELSE mx + p END - cx AS x2,
        CASE e.i WHEN 0 THEN my + q WHEN 1 THEN my
                 WHEN 2 THEN my - q ELSE my END - cy AS y2
      FROM geo, (VALUES (0), (1), (2), (3)) AS e(i)
    ), quad AS (
      SELECT plot_id, x1, y1, x2, y2, (x2 - x1) AS dx, (y2 - y1) AS dy,
             ((x2-x1)*(x2-x1) + (y2-y1)*(y2-y1)) AS a,
             2*(x1*(x2-x1) + y1*(y2-y1)) AS b,
             (x1*x1 + y1*y1 - 81.0) AS cc
      FROM edges
    ), ts AS (
      SELECT plot_id, x1, y1, x2, y2, dx, dy,
        least(greatest((-b - sqrt(greatest(b*b - 4*a*cc, 0.0))) / (2*a),
                       0.0), 1.0) AS ta,
        least(greatest((-b + sqrt(greatest(b*b - 4*a*cc, 0.0))) / (2*a),
                       0.0), 1.0) AS tb
      FROM quad
    ), pieces AS (
      SELECT plot_id,
        0.5 * ((x1+ta*dx)*(y1+tb*dy) - (x1+tb*dx)*(y1+ta*dy)) AS tri,
        0.5 * 81.0 * atan2(x1*(y1+ta*dy) - (x1+ta*dx)*y1,
                           x1*(x1+ta*dx) + y1*(y1+ta*dy)) AS s1,
        0.5 * 81.0 * atan2((x1+tb*dx)*y2 - x2*(y1+tb*dy),
                           (x1+tb*dx)*x2 + (y1+tb*dy)*y2) AS s2
      FROM ts
    )
    SELECT plot_id, 1 AS segment_id,
           round(abs(sum(tri + s1 + s2)) + 1e-9, 3) AS seg_area,
           round(abs(sum(tri + s1 + s2)) / (pi() * 81.0) + 1e-9, 6) AS weight
    FROM pieces GROUP BY 1, 2
    """,
)
def j11_wkt_polygon_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11/K5 general polygon form (calc_plot_segment_area.Rmd:59-75):
    per-plot segment polygons — rotated diamonds, NOT axis-aligned bands —
    enter as WKT text, and the exact polygon ∩ circle intersection area
    comes from the Green's-theorem kernel (triangle + circular-sector terms
    per edge). The oracle evaluates the IDENTICAL closed form in SQL over
    an exploded edge table, so the differential check verifies the general
    geometry math itself, not a special case."""
    from n2khab_mhq_data_spark.spatial.join import (
        wkt_circle_intersection_areas,
    )

    c = load(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    cx = ((k % 7) - 3.0).cast("double")
    cy = ((k % 11) / 2.0 - 2.5).cast("double")
    mx = cx + ((k % 5) - 2.0)
    my = cy + ((k % 13) / 4.0 - 1.5)
    p = (3.0 + (k % 9)).cast("double")
    q = (2.0 + (k % 6)).cast("double")
    wkt = F.format_string(
        "POLYGON ((%.2f %.2f, %.2f %.2f, %.2f %.2f, %.2f %.2f, %.2f %.2f))",
        mx + p, my, mx, my + q, mx - p, my, mx, my - q, mx + p, my,
    )
    segs = c.select(
        k.alias("plot_id"),
        F.lit(1).cast("long").alias("segment_id"),
        wkt.alias("wkt"),
        cx.alias("cx"),
        cy.alias("cy"),
    )
    out = wkt_circle_intersection_areas(segs, radius=9.0)
    return out.select(
        "plot_id",
        "segment_id",
        F.round(F.col("seg_area") + F.lit(1e-9), 3).alias("seg_area"),
        F.round(F.col("weight") + F.lit(1e-9), 6).alias("weight"),
    )


# 100x100 grid of 1x1 cells over [0,100)^2; polygon id = col + 100*row —
# the many-polygon layer (1e4 polygons, habitat-map scale shape) that the
# grid-bucket index in point_in_polygon_join exists for
_GRID_POLYGONS_10K = {
    col + 100 * row: [
        (float(col), float(row)),
        (float(col + 1), float(row)),
        (float(col + 1), float(row + 1)),
        (float(col), float(row + 1)),
    ]
    for row in range(100)
    for col in range(100)
}


@query(
    "j10_point_in_polygon_10k",
    oracle="""
    WITH p AS (
      SELECT c_custkey AS point_id,
             (c_custkey * 7919 % 1000) / 10.0 + 0.05 AS x,
             (c_custkey * 104729 % 1000) / 10.0 + 0.05 AS y
      FROM customer
    )
    SELECT point_id,
           CAST(floor(x) + 100 * floor(y) AS BIGINT) AS polygon_id
    FROM p
    """,
)
def j10_point_in_polygon_10k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 at habitat-map polygon counts (~1e4 polygons; the reference
    layer is ~1e5, check_observed_habitat_type.Rmd:147-148): same general
    ray-casting kernel, but candidate polygons come from the grid-bucket
    index, so each Arrow batch tests only its points' own cells' candidates
    instead of paying 1e4 bbox masks per batch. The 1x1-cell layer gives
    the oracle an exact closed form."""
    return point_in_polygon_join(_points(spark, sf_dir), _GRID_POLYGONS_10K)


def _zorder_oracle() -> str:
    from n2khab_mhq_data_spark.spatial.zorder import zvalue_sql

    return f"""
    WITH p AS (
      SELECT (c_custkey * 7919 % 1000) / 10.0 + 0.05 AS x,
             (c_custkey * 104729 % 1000) / 10.0 + 0.05 AS y
      FROM customer
    ), c AS (
      SELECT CAST(floor(x) AS BIGINT) AS cx,
             CAST(floor(y) AS BIGINT) AS cy, x, y
      FROM p
    ), z AS (
      SELECT ({zvalue_sql('cx', 'cy', 7)}) >> 6 AS zbucket, x, y FROM c
    )
    SELECT zbucket, CAST(count(*) AS BIGINT) AS n_points,
           round(min(x) + 1e-9, 6) AS min_x,
           round(max(x) + 1e-9, 6) AS max_x,
           round(min(y) + 1e-9, 6) AS min_y,
           round(max(y) + 1e-9, 6) AS max_y
    FROM z GROUP BY 1
    """


@query("spatial_zorder_layout", oracle=_zorder_oracle())
def spatial_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering layout stats: per z-bucket point
    count + bbox — the file-level min/max statistics a z-order-sorted
    writer would produce, which is what makes spatial range predicates
    prune at 100 TB (spatial/zorder.py; the Delta/Iceberg OPTIMIZE
    ZORDER analog from plain Column bit arithmetic)."""
    from n2khab_mhq_data_spark.spatial.zorder import zorder_layout_stats

    return zorder_layout_stats(_points(spark, sf_dir))


@query(
    "spatial_knn_join",
    oracle="""
    WITH p AS (
      SELECT c_custkey AS point_id,
             (c_custkey * 7919 % 1000) / 10.0 + 0.05 AS x,
             (c_custkey * 104729 % 1000) / 10.0 + 0.05 AS y
      FROM customer
    ), q AS (SELECT * FROM p WHERE point_id < 20),
    cand AS (
      SELECT q.point_id AS query_id, p.point_id AS neighbour_id,
             (q.x - p.x) * (q.x - p.x) + (q.y - p.y) * (q.y - p.y) AS d2
      FROM q JOIN p ON p.point_id != q.point_id
    ), ranked AS (
      SELECT query_id, neighbour_id, d2,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY d2, neighbour_id) AS rnk
      FROM cand
    )
    SELECT query_id, neighbour_id, CAST(rnk AS INTEGER) AS rank,
           round(sqrt(d2) + 1e-9, 6) AS dist
    FROM ranked WHERE rnk <= 5
    """,
)
def spatial_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-NN join for 20 query points against the full point set
    via grid buckets (spatial/join.py::knn_join_gridded): candidates
    come from the query's 3x3 cell neighbourhood only — the 2D analog
    of the banded-LSH candidate pattern — and exact distances + a
    per-query window produce the top 5. ``cell`` is sized from measured
    density (10x the expected kth-NN distance sqrt(k*A/(pi*n)) over the
    fixed 100x100 domain — the wide margin covers point 0, which sits
    isolated at the domain corner with a kth-NN distance ~6x the
    lattice spacing), so every sf tier keeps the ring guarantee; the
    candidate count per query stays bounded (~100*k/pi points) because
    cell^2 x density is scale-free. The r4 runtime exactness guard
    exposed that the previous fixed cell=20 was silently INEXACT at
    sf0.001 (corner kth ~ 35 > 20) — the failure mode the guard
    exists for. The brute-force cross-join oracle differentially proves
    exactness; distances are identical doubles in both engines, so
    ranks can't drift."""
    import math

    from n2khab_mhq_data_spark.spatial.join import knn_join_gridded

    pts = _points(spark, sf_dir)
    n = pts.count()  # tiny parquet-count job at plan build
    cell = 10.0 * math.sqrt(5 * 10000.0 / (math.pi * max(n, 1)))
    return knn_join_gridded(
        pts, pts.filter(F.col("point_id") < 20), k=5, cell=cell
    )


@shared("demo_gpkg", "customer")
def _demo_gpkg(spark: SparkSession, sf_dir: str) -> str:
    """A GeoPackage layer with one square-polygon feature per customer —
    the driver-checkable stand-in for the reference's .gpkg inputs
    (data_heide_groot_schietveld.Rmd:32) at a size that forces multiple
    rowid-window tasks. Geometry is integer-arithmetic-exact so the
    DuckDB oracle re-derives the areas from the customer view alone."""
    import os

    from n2khab_mhq_data_spark.spatial.geopackage import (
        write_geopackage_layer,
    )

    keys = [
        int(r.c_custkey)
        for r in load(spark, sf_dir, "customer").select("c_custkey").collect()
    ]

    def sq(cx: float, cy: float, h: float) -> str:
        return (
            f"({cx - h} {cy - h}, {cx + h} {cy - h}, {cx + h} {cy + h},"
            f" {cx - h} {cy + h}, {cx - h} {cy - h})"
        )

    rows = []
    for k in sorted(keys):
        s = float(1 + k % 4)
        cx, cy = float(k % 23), float(k % 17)
        if k % 3 == 0:  # square with a centered hole (half-side s/2)
            wkt = f"POLYGON ({sq(cx, cy, s)}, {sq(cx, cy, s / 2)})"
        else:
            wkt = f"POLYGON ({sq(cx, cy, s)})"
        rows.append((k, f"c{k % 7}", wkt))
    path = os.path.join(store_dir("demo_gpkg"), "plots.gpkg")
    write_geopackage_layer(
        path, "plots", rows, [("fid", "INTEGER"), ("tag", "TEXT")]
    )
    return path


@query(
    "s7_gpkg_distributed",
    oracle="""
    SELECT CAST(c_custkey AS BIGINT) AS feature_id,
           'c' || CAST(c_custkey % 7 AS VARCHAR) AS tag,
           CAST(CASE WHEN c_custkey % 3 = 0 THEN 2 ELSE 1 END
                AS BIGINT) AS n_rings,
           CAST(CASE WHEN c_custkey % 3 = 0 THEN 10 ELSE 5 END
                AS BIGINT) AS n_points,
           round(CASE WHEN c_custkey % 3 = 0 THEN 3.0 * s * s
                      ELSE 4.0 * s * s END + 1e-9, 3) AS area
    FROM (SELECT c_custkey,
                 CAST(1 + (c_custkey % 4) AS DOUBLE) AS s
          FROM customer)
    """,
)
def s7_gpkg_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 scale path end-to-end: write a GeoPackage feature layer (one
    square polygon per customer, some with holes), read it back with the
    DISTRIBUTED rowid-window reader (spatial/geopackage.py::
    read_geopackage_distributed — executors range-scan disjoint SQLite
    b-tree windows and decode GPB->WKB->WKT inside the task), then run
    the WKT stats kernel. The oracle re-derives ring/point counts and
    exact shoelace areas (outer 4s^2, hole s^2) arithmetically from the
    customer view — so the whole container round-trip (GPB header, WKB
    writer/reader, rowid windowing, attribute typing) is hash-checked.
    rows_per_task=512 forces multiple windows at every sf tier."""
    from n2khab_mhq_data_spark.spatial.geopackage import (
        read_geopackage_distributed,
    )
    from n2khab_mhq_data_spark.spatial.join import parse_wkt_layer

    path = _demo_gpkg(spark, sf_dir)
    feats = read_geopackage_distributed(
        spark, path, "plots", rows_per_task=512
    )
    # attributes CARRY through the one extraction pass — no re-join of
    # two corpus-grain sides (plan-audit clean)
    stats = parse_wkt_layer(
        feats.select(F.col("fid").alias("feature_id"), "tag", "wkt"),
        "wkt",
        "feature_id",
        carry=(("tag", "string"),),
    )
    return stats.select(
        "feature_id",
        "tag",
        "n_rings",
        "n_points",
        F.round(F.col("area") + F.lit(1e-9), 3).alias("area"),
    )


_GEOHASH_ALPHA = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_oracle() -> str:
    from n2khab_mhq_data_spark.spatial.zorder import zvalue_sql

    # 30-bit geohash code: lon bits sit at the ODD LSB positions (the
    # even positions counted from the MSB of a 30-bit code), lat at the
    # even LSB positions — i.e. morton(cx=lat, cy=lon)
    chars = " || ".join(
        f"substr('{_GEOHASH_ALPHA}',"
        f" CAST(((g >> {25 - 5 * j}) & 31) AS INTEGER) + 1, 1)"
        for j in range(6)
    )
    return f"""
    WITH p AS (
      SELECT c_custkey AS point_id,
             ((c_custkey * 7919 % 1000) / 10.0 + 0.05) * 3.6 - 180.0
               AS lon,
             ((c_custkey * 104729 % 1000) / 10.0 + 0.05) * 1.8 - 90.0
               AS lat
      FROM customer
    ), cells AS (
      SELECT point_id, lon, lat,
             CAST(floor((lon + 180.0) * 32768.0 / 360.0) AS BIGINT)
               AS clon,
             CAST(floor((lat + 90.0) * 32768.0 / 180.0) AS BIGINT)
               AS clat
      FROM p
    ), coded AS (
      SELECT point_id, lon, lat,
             ({zvalue_sql('clat', 'clon', 15)}) AS g
      FROM cells
    )
    SELECT point_id, round(lon + 1e-9, 6) AS lon,
           round(lat + 1e-9, 6) AS lat,
           {chars} AS geohash
    FROM coded
    """


@query("spatial_geohash_encode", oracle=_geohash_oracle())
def spatial_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash-6 encoding of the customer point cloud — the
    interoperable cousin of spatial_zorder_layout: the SAME Morton
    interleave (spatial/zorder.py::zvalue with (lat, lon) argument
    order, which puts longitude on the even positions of the 30-bit
    code exactly as Niemeyer's geohash does) followed by base32
    grouping, so the output strings are real geohashes any external GIS
    stack can consume for equality joins, prefix-range pruning, or tile
    sharding. Pure Column bit arithmetic + 6 substr lookups — zero
    shuffle, whole-stage codegen end to end."""
    from n2khab_mhq_data_spark.spatial.zorder import zvalue

    c = load(spark, sf_dir, "customer")
    p = c.select(
        F.col("c_custkey").alias("point_id"),
        (((F.col("c_custkey") * 7919 % 1000) / 10.0 + 0.05) * 3.6
         - 180.0).alias("lon"),
        (((F.col("c_custkey") * 104729 % 1000) / 10.0 + 0.05) * 1.8
         - 90.0).alias("lat"),
    )
    cells = p.select(
        "point_id",
        "lon",
        "lat",
        F.floor((F.col("lon") + 180.0) * 32768.0 / 360.0)
        .cast("long").alias("clon"),
        F.floor((F.col("lat") + 90.0) * 32768.0 / 180.0)
        .cast("long").alias("clat"),
    )
    g = zvalue(F.col("clat"), F.col("clon"), bits=15)
    coded = cells.select("point_id", "lon", "lat", g.alias("g"))
    chars = [
        F.expr(
            f"substr('{_GEOHASH_ALPHA}',"
            f" CAST(((g >> {25 - 5 * j}) & 31) AS INT) + 1, 1)"
        )
        for j in range(6)
    ]
    return coded.select(
        "point_id",
        F.round(F.col("lon") + F.lit(1e-9), 6).alias("lon"),
        F.round(F.col("lat") + F.lit(1e-9), 6).alias("lat"),
        F.concat(*chars).alias("geohash"),
    )
