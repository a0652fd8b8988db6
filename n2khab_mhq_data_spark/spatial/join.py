"""J10/J11 — spatial joins as broadcast-polygon pandas UDFs.

Pattern (SURVEY.md §7.4.1): the polygon layer is small (habitat map ~1e5
polygons) — serialize it to the executors once (closure/broadcast); the
point side streams through an Arrow-batched UDF that does a bbox prefilter
then the exact ray-casting test. The fact side never shuffles; the cost is
one projection. A Sedona-style partitioned spatial join only becomes
necessary when BOTH sides are large."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from n2khab_mhq_data_spark.spatial.geometry import (
    Polygon,
    bbox,
    circle_strip_area,
    points_in_polygon,
)


def _build_grid_index(
    polys: list[tuple[int, Polygon, tuple[float, float, float, float]]],
):
    """Uniform grid over the layer's bbox extent (~sqrt(P) cells per axis):
    each polygon is registered in every cell its bbox overlaps. Lookup is
    O(1) per point — per batch only the point's own cell's candidates pay a
    bbox mask + exact test, so per-batch cost is sub-linear in the polygon
    count (vs the round-1 linear scan over all P polygons per batch, which
    at the habitat map's ~1e5 polygons made every Arrow batch pay 1e5 mask
    evaluations)."""
    import math

    gx0 = min(b[0] for _, _, b in polys)
    gy0 = min(b[1] for _, _, b in polys)
    gx1 = max(b[2] for _, _, b in polys)
    gy1 = max(b[3] for _, _, b in polys)
    n = max(1, int(math.sqrt(len(polys))))
    dx = (gx1 - gx0) / n or 1.0
    dy = (gy1 - gy0) / n or 1.0
    cells: dict[int, list[int]] = {}
    for idx, (_, _, (x0, y0, x1, y1)) in enumerate(polys):
        i0 = min(max(int((x0 - gx0) / dx), 0), n - 1)
        i1 = min(max(int((x1 - gx0) / dx), 0), n - 1)
        j0 = min(max(int((y0 - gy0) / dy), 0), n - 1)
        j1 = min(max(int((y1 - gy0) / dy), 0), n - 1)
        for i in range(i0, i1 + 1):
            for j in range(j0, j1 + 1):
                cells.setdefault(i * n + j, []).append(idx)
    return gx0, gy0, gx1, gy1, dx, dy, n, cells


def point_in_polygon_join(
    points: DataFrame,
    polygons: dict[int, Polygon],
    x_col: str = "x",
    y_col: str = "y",
    id_col: str = "point_id",
) -> DataFrame:
    """st_join(points, polygons) (check_observed_habitat_type.Rmd:147-148):
    returns (point_id, polygon_id) for every containment hit (points in no
    polygon are dropped, matching sf's inner st_join default). Candidate
    lookup goes through a grid-bucket index over polygon bboxes (built once
    on the driver, shipped in the UDF closure) — see _build_grid_index."""
    polys = [(pid, poly, bbox(poly)) for pid, poly in polygons.items()]
    gx0, gy0, gx1, gy1, dx, dy, n, cells = _build_grid_index(polys)
    # output id column mirrors the INPUT id type (the id_col parameter
    # is honored for type, not just name) — hardcoding long crashed the
    # Arrow conversion for string-keyed layers
    id_type = points.schema[id_col].dataType.simpleString()
    id_np = object if id_type == "string" else np.int64

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            x = pdf[x_col].to_numpy(dtype=float)
            y = pdf[y_col].to_numpy(dtype=float)
            ids = pdf[id_col].to_numpy()
            out_ids, out_pids = [], []
            # points outside the layer extent can't hit any polygon
            inb = (x >= gx0) & (x <= gx1) & (y >= gy0) & (y <= gy1)
            xi, yi, idsi = x[inb], y[inb], ids[inb]
            if xi.size:
                ix = np.clip(((xi - gx0) / dx).astype(np.int64), 0, n - 1)
                iy = np.clip(((yi - gy0) / dy).astype(np.int64), 0, n - 1)
                key = ix * n + iy
                order = np.argsort(key, kind="stable")
                skey = key[order]
                bounds = np.searchsorted(
                    skey, np.unique(skey), side="left"
                ).tolist() + [skey.size]
                for b0, b1 in zip(bounds[:-1], bounds[1:]):
                    sel = order[b0:b1]
                    cand = cells.get(int(skey[b0]))
                    if not cand:
                        continue
                    cx, cy, cids = xi[sel], yi[sel], idsi[sel]
                    for idx in cand:
                        pid, poly, (x0, y0, x1, y1) = polys[idx]
                        m = (cx >= x0) & (cx <= x1) & (cy >= y0) & (cy <= y1)
                        if not m.any():
                            continue
                        hit = points_in_polygon(cx[m], cy[m], poly)
                        out_ids.append(cids[m][hit])
                        out_pids.append(
                            np.full(int(hit.sum()), pid, dtype=np.int64)
                        )
            if out_ids:
                yield pd.DataFrame(
                    {
                        id_col: np.concatenate(out_ids),
                        "polygon_id": np.concatenate(out_pids),
                    }
                )
            else:
                yield pd.DataFrame(
                    {
                        id_col: pd.Series(
                            [],
                            dtype="object" if id_np is object else "int64",
                        ),
                        "polygon_id": pd.Series([], dtype="int64"),
                    }
                )

    return points.mapInPandas(op, f"{id_col} {id_type}, polygon_id long")


def strip_segment_areas(
    segments: DataFrame,
    radius: float = 9.0,
    x0_col: str = "x0",
    x1_col: str = "x1",
) -> DataFrame:
    """J11/K5 — segment-band ∩ plot-circle area and weight
    (calc_plot_segment_area.Rmd:59-113): for band-shaped segments
    [x0, x1] against the radius-r circle, closed-form intersection area and
    the area share ("weight") of the full circle."""
    import math

    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def area_udf(x0: pd.Series, x1: pd.Series) -> pd.Series:
        a = circle_strip_area(
            x0.to_numpy(dtype=float), x1.to_numpy(dtype=float), radius
        )
        return pd.Series(a)

    total = math.pi * radius * radius
    out = segments.withColumn(
        "seg_area", area_udf(F.col(x0_col), F.col(x1_col))
    )
    return out.withColumn("weight", F.col("seg_area") / F.lit(total))


def wkt_circle_intersection_areas(
    segments: DataFrame,
    radius: float = 9.0,
    wkt_col: str = "wkt",
    cx_col: str = "cx",
    cy_col: str = "cy",
    id_cols: tuple[str, str] = ("plot_id", "segment_id"),
) -> DataFrame:
    """J11/K5 general form — segment POLYGON (WKT text) ∩ plot circle:
    exact intersection area + weight (area share of the circle), matching
    sf::st_intersection + st_area (calc_plot_segment_area.Rmd:59-75) for
    ARBITRARY simple polygons, not just axis-aligned bands.

    mapInPandas: per Arrow batch, parse the WKT shells into padded vertex
    matrices (row-wise string work, unavoidable), then ONE vectorized
    circle_polygon_area call over the whole batch (python loop over edge
    index only). No shuffle; the segment side streams."""
    import math

    from pyspark.sql import functions as F  # noqa: F401

    from n2khab_mhq_data_spark.spatial.geometry import circle_polygon_area
    from n2khab_mhq_data_spark.spatial.wkt import ring_vertex_arrays

    total = math.pi * radius * radius
    ida, idb = id_cols

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {
                        ida: pd.Series([], dtype="int64"),
                        idb: pd.Series([], dtype="int64"),
                        "seg_area": pd.Series([], dtype="float64"),
                        "weight": pd.Series([], dtype="float64"),
                    }
                )
                continue
            # flatten EVERY ring (+1 shells, -1 holes) so geometries
            # with holes and MULTIPOLYGON parts get exact areas — the
            # shell-only batching silently overstated seg_area on holes
            # and dropped all parts after the first
            X, Y, row_idx, sign = ring_vertex_arrays(
                pdf[wkt_col].tolist()
            )
            ring_area = circle_polygon_area(
                X,
                Y,
                pdf[cx_col].to_numpy(dtype=float)[row_idx],
                pdf[cy_col].to_numpy(dtype=float)[row_idx],
                radius,
            )
            area = np.zeros(len(pdf), dtype=float)
            np.add.at(area, row_idx, sign * ring_area)
            yield pd.DataFrame(
                {
                    ida: pdf[ida].to_numpy(),
                    idb: pdf[idb].to_numpy(),
                    "seg_area": area,
                    "weight": area / total,
                }
            )

    return segments.mapInPandas(
        op, f"{ida} long, {idb} long, seg_area double, weight double"
    )


def parse_wkt_layer(
    df: DataFrame,
    wkt_col: str = "wkt",
    id_col: str = "feature_id",
    carry: tuple[tuple[str, str], ...] = (),
) -> DataFrame:
    """S7 — spatial-layer ingestion from a WKT text column (the engine's
    interchange path for sf::st_read'd shapefiles/GPKG,
    process_external_data.Rmd:34): validates every geometry (malformed WKT
    fails the job, matching st_read) and materializes per-feature shape
    stats + exact planar area (shoelace, holes subtracted — st_area).

    ``carry`` is [(column, spark_type), ...] attribute columns passed
    through unchanged — attributes ride the one extraction pass instead
    of re-joining the source afterwards (an unstatted SortMergeJoin of
    two corpus-grain sides the single pass makes unnecessary)."""
    from n2khab_mhq_data_spark.spatial.wkt import (
        parse_wkt_polygon,
        ring_signed_area,
    )

    carry_names = [c for c, _ in carry]
    # the id column keeps the CALLER's name and type — hardcoding
    # 'feature_id'/'int64' crashed string-keyed layers (gml ids) and
    # silently renamed the join key out from under downstream plans
    id_type = df.schema[id_col].dataType.simpleString()
    id_dtype = "object" if id_type == "string" else "int64"

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, n_polys, n_rings, n_points, areas = [], [], [], [], []
            for fid, w in zip(pdf[id_col], pdf[wkt_col]):
                polys = parse_wkt_polygon(w)
                area = 0.0
                rings = pts = 0
                for rs in polys:
                    area += abs(ring_signed_area(rs[0]))
                    for hole in rs[1:]:
                        area -= abs(ring_signed_area(hole))
                    rings += len(rs)
                    pts += sum(len(r) for r in rs)
                ids.append(fid)
                n_polys.append(len(polys))
                n_rings.append(rings)
                n_points.append(pts)
                areas.append(area)
            out = {
                id_col: pd.Series(ids, dtype=id_dtype),
                "n_polys": pd.Series(n_polys, dtype="int64"),
                "n_rings": pd.Series(n_rings, dtype="int64"),
                "n_points": pd.Series(n_points, dtype="int64"),
                "area": pd.Series(areas, dtype="float64"),
            }
            for c in carry_names:
                out[c] = pdf[c].reset_index(drop=True)
            yield pd.DataFrame(out)

    schema = (
        f"{id_col} {id_type}, n_polys long, n_rings long, n_points long,"
        " area double"
        + "".join(f", {c} {t}" for c, t in carry)
    )
    return df.mapInPandas(op, schema)


def _knn_probe(
    points: DataFrame, queries: DataFrame, k: int, cell: float
) -> DataFrame:
    """Grid-bucketed kNN candidate pass (the query probes its 3x3 cell
    neighbourhood; guaranteed covered distance is ``cell``).

    Returns one row per kept candidate — columns ``qid, nid, rank, d2,
    __bad`` — PLUS a null-``nid`` placeholder row for every query with
    ZERO in-ring candidates (right-outer against the query-id set), so
    zero-candidate queries can never silently vanish (ADVICE r4). The
    per-query ``__bad`` flag is the exactness-breach signal: kth kept
    distance beyond the guaranteed ring radius, or a short result while
    eligible corpus points remain outside the ring. "Eligible" counts
    ACTUAL id matches (``__np - __self`` where ``__self`` is the corpus
    count of points sharing the query's id), not an assumed single
    self-exclusion — a query set disjoint from the corpus is checked
    against the full corpus size (ADVICE r4).

    Scale: one shuffle each side on the cell key; the per-query
    metadata (corpus count + self-match count) is two broadcast joins
    of aggregate tables bounded by 1 row and |queries| rows."""
    # the query id is THE key of this operator: a duplicated query row
    # would fan out the probe ring (each candidate appears twice in the
    # top-k window, so only k/2 distinct neighbours survive) and double
    # its kcnt through the qmeta right join — defeating the exactness
    # breach detector. Dedup up front so every downstream frame is
    # id-unique.
    queries = queries.dropDuplicates(["point_id"])
    p = points.select(
        F.col("point_id").alias("nid"),
        F.col("x").alias("px"),
        F.col("y").alias("py"),
        F.floor(F.col("x") / cell).alias("cx"),
        F.floor(F.col("y") / cell).alias("cy"),
    )
    probes = queries.select(
        F.col("point_id").alias("qid"), "x", "y",
        F.explode(
            F.expr("sequence(-1, 1)")
        ).alias("dx"),
    ).select(
        "qid", "x", "y",
        (F.floor(F.col("x") / cell) + F.col("dx")).alias("cx"),
        F.explode(F.expr("sequence(-1, 1)")).alias("dy"),
    ).select(
        "qid", "x", "y", "cx",
        (F.floor(F.col("y") / cell) + F.col("dy")).alias("cy"),
    )
    d2 = (F.col("x") - F.col("px")) ** 2 + (F.col("y") - F.col("py")) ** 2
    cand = (
        probes.join(p, ["cx", "cy"])
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "nid", d2.alias("d2"))
    )
    w = W.partitionBy("qid").orderBy("d2", "nid")
    kept = cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    # per-query metadata: corpus size and ACTUAL self-match count — ONE
    # corpus pass, not two (the old shape scanned points once for the
    # global count and again for the self-match counts): group by the
    # query id where matched, null otherwise; the grand total is the sum
    # over the <= |queries|+1 group rows. Pinned — two marginals read it.
    qids = queries.select(F.col("point_id").alias("qid"))
    g = (
        points.select(F.col("point_id").alias("pid"))
        .join(
            F.broadcast(qids.distinct()),
            F.col("pid") == F.col("qid"),
            "left",
        )
        .groupBy("qid")
        .agg(F.count("*").alias("__c"))
        .localCheckpoint(eager=False)
    )
    n_corpus = g.agg(F.sum("__c").alias("__np"))
    selfc = g.filter(F.col("qid").isNotNull()).select(
        "qid", F.col("__c").alias("__self")
    )
    qmeta = (
        qids.join(F.broadcast(n_corpus))
        .join(F.broadcast(selfc), "qid", "left")
        .na.fill({"__self": 0})
    )
    # right-outer: a query with zero kept candidates gets a null-nid
    # placeholder row instead of disappearing (kept is already hash-
    # partitioned on qid by the window, so only tiny qmeta reshuffles;
    # deliberately NOT broadcast-hinted — kept is k x |queries| and a
    # static hint would force the broadcast even for a huge query set)
    joined = kept.join(qmeta, "qid", "right")
    wq = W.partitionBy("qid")
    kcnt = F.count("nid").over(wq)  # non-null kept rows only
    reach = float(cell)
    bad = (
        F.coalesce(
            F.max("d2").over(wq) > F.lit(reach * reach), F.lit(False)
        )
    ) | ((kcnt < k) & (kcnt < F.col("__np") - F.col("__self")))
    return joined.select("qid", "nid", "rank", "d2", bad.alias("__bad"))


def knn_join_gridded(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    cell: float,
) -> DataFrame:
    """Exact k-nearest-neighbour join via grid buckets: each corpus
    point hashes to ONE (cx, cy) cell; each query probes its 3x3 cell
    neighbourhood; exact distances verify inside the candidate set, a
    per-query window keeps the top k.

    EXACTNESS PRECONDITION: the kth neighbour must lie within ``cell``
    of the query (the probe ring's guaranteed radius). Pick ``cell`` so
    that expected k-NN distance sqrt(k / (pi * density)) is well under
    it. The precondition is CHECKED AT RUNTIME inside the plan: any
    query whose kth kept distance exceeds the guaranteed radius, that
    kept fewer than k rows while eligible points exist outside its
    ring, or that kept ZERO rows while eligible points exist, fails the
    job via ``raise_error`` — an inexact result can never pass silently
    (ADVICE r3/r4). Eligibility uses the query's actual corpus
    id-match count, so disjoint query sets are held to the full corpus
    size. The breach raise lives INSIDE the filter condition so the
    null-nid placeholder rows are evaluated (and raise) before they are
    dropped — a filter on ``nid`` alone could be planned before the
    breach column and lose the zero-candidate signal.

    Scale: one shuffle each side on the cell key (query side is 9 rows
    per query — broadcastable when the query set is small); candidate
    count is bounded by ring size * cell occupancy, never O(n) per
    query; the top-k window partitions by query id only."""
    probe = _knn_probe(points, queries, k, cell)
    dist = F.round(F.sqrt(F.col("d2")) + F.lit(1e-9), 6)
    keep = F.when(
        F.col("__bad"),
        F.raise_error(
            F.format_string(
                "knn_join_gridded exactness breach for query %s:"
                " kth neighbour beyond %s — expand the probe"
                " ring or enlarge cell",
                F.col("qid"),
                F.lit(f"radius 1 * cell {cell}"),
            )
        ).cast("boolean"),
    ).otherwise(F.col("nid").isNotNull())
    return probe.filter(keep).select(
        F.col("qid").alias("query_id"),
        F.col("nid").alias("neighbour_id"),
        F.col("rank").cast("int").alias("rank"),
        dist.alias("dist"),
    )
