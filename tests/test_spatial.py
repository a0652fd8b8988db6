"""Spatial kernel tests: geometry ground truths, CRS round trips."""

from __future__ import annotations

import math

import numpy as np
import pytest

from n2khab_mhq_data_spark.spatial.crs import (
    lambert72_sql,
    lambert72_to_wgs84,
    lambert72_to_wgs84_full,
    wgs84_to_bd72,
    wgs84_to_bd72_sql,
    wgs84_to_lambert72,
    wgs84_to_lambert72_full,
)
from n2khab_mhq_data_spark.spatial.geometry import (
    circle_left_area,
    circle_strip_area,
    points_in_polygon,
)


def test_points_in_polygon_concave():
    # L-shaped polygon: unit tests beyond convex grid cells
    poly = [(0, 0), (4, 0), (4, 2), (2, 2), (2, 4), (0, 4)]
    x = np.array([1.0, 3.0, 3.0, 5.0, 1.0])
    y = np.array([1.0, 1.0, 3.0, 1.0, 3.0])
    assert points_in_polygon(x, y, poly).tolist() == [
        True, True, False, False, True,
    ]


def test_circle_areas():
    r = 9.0
    full = math.pi * r * r
    assert circle_left_area(np.array([r]), r)[0] == pytest.approx(full)
    assert circle_left_area(np.array([-r]), r)[0] == pytest.approx(0.0)
    assert circle_left_area(np.array([0.0]), r)[0] == pytest.approx(full / 2)
    # strip symmetric around 0 plus complement = full circle
    a = circle_strip_area(np.array([-3.0]), np.array([3.0]), r)[0]
    b = circle_strip_area(np.array([-9.0]), np.array([-3.0]), r)[0]
    c = circle_strip_area(np.array([3.0]), np.array([9.0]), r)[0]
    assert a + b + c == pytest.approx(full)
    assert b == pytest.approx(c)


def test_lcc_round_trip():
    lon = np.array([3.5, 4.367486, 5.5])
    lat = np.array([50.2, 50.8, 51.3])
    x, y = wgs84_to_lambert72(lon, lat)
    lon2, lat2 = lambert72_to_wgs84(x, y)
    np.testing.assert_allclose(lon2, lon, atol=1e-9)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)
    # central meridian maps to false easting
    x0, _ = wgs84_to_lambert72(np.array([4 + 22 / 60 + 2.952 / 3600]),
                               np.array([50.5]))
    assert x0[0] == pytest.approx(150000.013, abs=1e-6)


def test_datum_shift_magnitude():
    # BD72 vs WGS84 differs by ~100 m over Belgium (sanity band, not a
    # control-point assertion — see crs.py docstring)
    lon, lat = np.array([4.35]), np.array([50.85])
    xf, yf = wgs84_to_lambert72_full(lon, lat)
    xp, yp = wgs84_to_lambert72(lon, lat)
    d = math.hypot(float(xf[0] - xp[0]), float(yf[0] - yp[0]))
    assert 30 < d < 300


def test_full_datum_round_trip():
    lon = np.array([3.5, 4.35, 5.5])
    lat = np.array([50.2, 50.85, 51.3])
    x, y = wgs84_to_lambert72_full(lon, lat)
    lon2, lat2 = lambert72_to_wgs84_full(x, y)
    np.testing.assert_allclose(lon2, lon, atol=1e-9)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)


def test_wkt_parser_shapes():
    from n2khab_mhq_data_spark.spatial.wkt import (
        parse_wkt_point,
        parse_wkt_polygon,
        wkt_area,
    )

    simple = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    assert wkt_area(simple) == pytest.approx(16.0)
    holed = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"
    assert wkt_area(holed) == pytest.approx(15.0)
    multi = (
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)),"
        " ((10 10, 12 10, 12 12, 10 12, 10 10)))"
    )
    polys = parse_wkt_polygon(multi)
    assert len(polys) == 2
    assert wkt_area(multi) == pytest.approx(5.0)
    # scientific notation + negatives
    assert wkt_area(
        "POLYGON ((-1e1 0, 1E1 0, 10 2.5, -10 2.5, -1e1 0))"
    ) == pytest.approx(50.0)
    assert parse_wkt_point("POINT (3.5 -7)") == (3.5, -7.0)
    with pytest.raises(ValueError):
        parse_wkt_polygon("LINESTRING (0 0, 1 1)")
    with pytest.raises(ValueError):
        parse_wkt_polygon("POLYGON ((0 0, 1 0, 1 1, 0 1))")  # unclosed


def test_circle_polygon_area_matches_strip():
    from n2khab_mhq_data_spark.spatial.geometry import circle_polygon_area

    r = 9.0
    # band polygon == closed-form strip; off-centre circle
    for x0, x1, cx, cy in [(-9, -3, 0, 0), (-3, 3, 0, 0), (1, 6, 2, -1)]:
        poly = np.array(
            [[x0 + cx, cy - 30], [x1 + cx, cy - 30], [x1 + cx, cy + 30],
             [x0 + cx, cy + 30], [x0 + cx, cy - 30]], float
        )
        a = circle_polygon_area(
            poly[:, 0][None, :], poly[:, 1][None, :],
            np.array([float(cx)]), np.array([float(cy)]), r,
        )[0]
        b = circle_strip_area(
            np.array([float(x0)]), np.array([float(x1)]), r
        )[0]
        assert a == pytest.approx(b, abs=1e-9)


def test_circle_polygon_area_containment_cases():
    from n2khab_mhq_data_spark.spatial.geometry import circle_polygon_area

    r = 9.0
    big = np.array(
        [[-50, -50], [50, -50], [50, 50], [-50, 50], [-50, -50]], float
    )
    a = circle_polygon_area(
        big[:, 0][None, :], big[:, 1][None, :],
        np.array([0.0]), np.array([0.0]), r,
    )[0]
    assert a == pytest.approx(math.pi * r * r, abs=1e-9)
    tiny = np.array([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], float)
    a = circle_polygon_area(
        tiny[:, 0][None, :], tiny[:, 1][None, :],
        np.array([0.0]), np.array([0.0]), r,
    )[0]
    assert a == pytest.approx(1.0, abs=1e-9)
    far = tiny + 100
    a = circle_polygon_area(
        far[:, 0][None, :], far[:, 1][None, :],
        np.array([0.0]), np.array([0.0]), r,
    )[0]
    assert a == pytest.approx(0.0, abs=1e-9)


def test_point_in_polygon_grid_index_matches_bruteforce(spark):
    """The grid-bucket candidate index must not change results vs an exact
    check: polygons spanning many cells, overlapping polygons (multi-hit),
    and points outside the layer extent."""
    import numpy as np

    from n2khab_mhq_data_spark.spatial.geometry import points_in_polygon
    from n2khab_mhq_data_spark.spatial.join import point_in_polygon_join

    rng = np.random.RandomState(7)
    polygons = {}
    for pid in range(300):
        cx, cy = rng.uniform(0, 50, 2)
        w, h = rng.uniform(0.5, 12, 2)  # some span many grid cells
        polygons[pid] = [
            (cx - w, cy - h), (cx + w, cy - h), (cx + w, cy + h),
            (cx - w, cy + h),
        ]
    px = rng.uniform(-10, 60, 400)  # includes out-of-extent points
    py = rng.uniform(-10, 60, 400)
    pts = spark.createDataFrame(
        [(i, float(px[i]), float(py[i])) for i in range(400)],
        "point_id int, x double, y double",
    )
    got = {
        (r.point_id, r.polygon_id)
        for r in point_in_polygon_join(pts, polygons).collect()
    }
    want = set()
    for pid, poly in polygons.items():
        hit = points_in_polygon(px, py, poly)
        for i in np.nonzero(hit)[0]:
            want.add((int(i), pid))
    assert got == want


def test_shapefile_round_trip_and_layer_pipeline(spark, tmp_path):
    """S7 end-to-end: write a real .shp/.shx pair (public ESRI layout),
    read it back DISTRIBUTED (shx-indexed record ranges in mapInPandas),
    and pipe the WKT into the existing layer parser — st_read + st_area
    parity without any GIS dependency."""
    from n2khab_mhq_data_spark.spatial.join import parse_wkt_layer
    from n2khab_mhq_data_spark.spatial.shapefile import (
        read_shapefile,
        write_shapefile,
    )

    shp = str(tmp_path / "layer.shp")
    # polygon with a hole (outer 4x4 square, inner 2x2 hole), plain square,
    # and a point record
    outer = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
    hole = [(1.0, 1.0), (1.0, 3.0), (3.0, 3.0), (3.0, 1.0), (1.0, 1.0)]
    sq = [(10.0, 10.0), (13.0, 10.0), (13.0, 13.0), (10.0, 13.0),
          (10.0, 10.0)]
    write_shapefile(shp, [(5, [outer, hole]), (5, [sq])])

    layer = read_shapefile(spark, shp)
    rows = {r.feature_id: r.wkt for r in layer.collect()}
    assert len(rows) == 2
    assert rows[0].startswith("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1,")
    assert rows[1] == "POLYGON ((10 10, 13 10, 13 13, 10 13, 10 10))"

    stats = {
        r.feature_id: (r.n_rings, r.area)
        for r in parse_wkt_layer(layer, "wkt", "feature_id").collect()
    }
    assert stats[0] == (2, 16.0 - 4.0)
    assert stats[1] == (1, 9.0)


def test_shapefile_multi_outer_ring_record(spark, tmp_path):
    """A single ESRI Polygon record may carry SEVERAL outer rings (CW)
    plus holes (CCW); it must decode to a MULTIPOLYGON with the hole
    attached to the outer that contains it — not one POLYGON whose
    'holes' subtract the later outers (ADVICE r2)."""
    from n2khab_mhq_data_spark.spatial.shapefile import (
        read_shapefile,
        write_shapefile,
    )
    from n2khab_mhq_data_spark.spatial.wkt import wkt_area

    shp = str(tmp_path / "multi.shp")
    # ESRI orientation: outers clockwise, holes counter-clockwise
    outer_a = [(0.0, 0.0), (0.0, 4.0), (4.0, 4.0), (4.0, 0.0), (0.0, 0.0)]
    hole_a = [(1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0), (1.0, 1.0)]
    outer_b = [(10.0, 10.0), (10.0, 12.0), (12.0, 12.0), (12.0, 10.0),
               (10.0, 10.0)]
    # hole listed AFTER both outers: containment, not adjacency, must
    # route it to outer_a
    write_shapefile(shp, [(5, [outer_a, outer_b, hole_a])])

    (row,) = read_shapefile(spark, shp).collect()
    assert row.wkt.startswith("MULTIPOLYGON ")
    assert row.wkt.count("((") == 2  # two polygons
    assert abs(wkt_area(row.wkt) - ((16.0 - 4.0) + 4.0)) < 1e-9


def test_shapefile_points_and_lines(spark, tmp_path):
    from n2khab_mhq_data_spark.spatial.shapefile import (
        read_shapefile,
        write_shapefile,
    )

    shp = str(tmp_path / "pts.shp")
    write_shapefile(
        shp,
        [
            (1, [[(3.5, -2.25)]]),
            (3, [[(0.0, 0.0), (1.0, 1.0), (2.0, 0.0)]]),
        ],
    )
    rows = {r.feature_id: r.wkt for r in read_shapefile(spark, shp).collect()}
    assert rows[0] == "POINT (3.5 -2.25)"
    assert rows[1] == "LINESTRING (0 0, 1 1, 2 0)"


def _wkb_polygon(rings):
    import struct

    out = struct.pack("<BI", 1, 3) + struct.pack("<I", len(rings))
    for r in rings:
        out += struct.pack("<I", len(r))
        for x, y in r:
            out += struct.pack("<2d", x, y)
    return out


def _gpb(wkb, with_envelope=False):
    import struct

    flags = 0b00000011 if with_envelope else 0b00000001  # LE, env 1 or 0
    head = b"GP" + bytes([0, flags]) + struct.pack("<i", 31370)
    if with_envelope:
        head += struct.pack("<4d", 0, 0, 0, 0)  # minx maxx miny maxy
    return head + wkb


def test_geopackage_layer_read(spark, tmp_path):
    """S7 GPKG half: a real SQLite GeoPackage (gpkg_contents +
    gpkg_geometry_columns + feature table with GPB blobs, one with an
    envelope) loads into the WKT interchange column with attributes, and
    composes with the layer parser."""
    import sqlite3

    from n2khab_mhq_data_spark.spatial.geopackage import read_geopackage
    from n2khab_mhq_data_spark.spatial.join import parse_wkt_layer

    gpkg = str(tmp_path / "layer.gpkg")
    con = sqlite3.connect(gpkg)
    con.execute(
        "CREATE TABLE gpkg_contents (table_name TEXT, data_type TEXT)"
    )
    con.execute(
        "CREATE TABLE gpkg_geometry_columns"
        " (table_name TEXT, column_name TEXT)"
    )
    con.execute(
        "CREATE TABLE habitat (fid INTEGER PRIMARY KEY, naam TEXT,"
        " geom BLOB)"
    )
    con.execute(
        "INSERT INTO gpkg_contents VALUES ('habitat', 'features')"
    )
    con.execute(
        "INSERT INTO gpkg_geometry_columns VALUES ('habitat', 'geom')"
    )
    sq = [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 0.0)]
    hole = [(0.5, 0.5), (0.5, 1.5), (1.5, 1.5), (1.5, 0.5), (0.5, 0.5)]
    con.execute(
        "INSERT INTO habitat VALUES (1, 'heide', ?)",
        (_gpb(_wkb_polygon([sq])),),
    )
    con.execute(
        "INSERT INTO habitat VALUES (2, 'ven', ?)",
        (_gpb(_wkb_polygon([sq, hole]), with_envelope=True),),
    )
    con.commit()
    con.close()

    df = read_geopackage(spark, gpkg)
    rows = {r.fid: (r.naam, r.wkt) for r in df.collect()}
    assert rows[1] == ("heide", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
    assert rows[2][1].startswith(
        "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0), (0.5 0.5,"
    )
    layer = df.selectExpr("fid AS feature_id", "wkt")
    stats = {
        r.feature_id: r.area
        for r in parse_wkt_layer(layer, "wkt", "feature_id").collect()
    }
    assert stats[1] == 4.0
    assert stats[2] == 4.0 - 1.0


def test_geopackage_empty_layer_and_ewkb_flags(spark, tmp_path):
    """The driver-side reader must type from the SQLite declarations:
    an EMPTY feature layer (legal — e.g. a filtered export) returns an
    empty typed frame instead of crashing schema inference; and EWKB
    Z/M/SRID flag bits (which change the point byte layout) raise
    instead of silently decoding garbage coordinates."""
    import sqlite3
    import struct

    import pytest

    from n2khab_mhq_data_spark.spatial.geopackage import (
        read_geopackage,
        wkb_to_wkt,
    )

    gpkg = str(tmp_path / "empty.gpkg")
    con = sqlite3.connect(gpkg)
    con.execute(
        "CREATE TABLE gpkg_contents (table_name TEXT, data_type TEXT)"
    )
    con.execute(
        "CREATE TABLE gpkg_geometry_columns"
        " (table_name TEXT, column_name TEXT)"
    )
    con.execute(
        "CREATE TABLE habitat (fid INTEGER PRIMARY KEY, naam TEXT,"
        " geom BLOB)"
    )
    con.execute("INSERT INTO gpkg_contents VALUES ('habitat', 'features')")
    con.execute(
        "INSERT INTO gpkg_geometry_columns VALUES ('habitat', 'geom')"
    )
    con.commit()
    con.close()

    df = read_geopackage(spark, gpkg)
    assert df.columns == ["fid", "naam", "wkt"]
    assert dict(df.dtypes)["fid"] == "bigint"
    assert df.count() == 0

    # EWKB PolygonZ: high bit set; a masked parse would misalign on the
    # 3-double points and emit syntactically valid but WRONG WKT
    ewkb = struct.pack("<BI", 1, 0x80000003) + struct.pack("<I", 0)
    with pytest.raises(ValueError, match="EWKB"):
        wkb_to_wkt(ewkb)


def test_geopackage_distributed_matches_driver_path(spark, tmp_path):
    """The ranged-rowid distributed GPKG read must return exactly the
    driver-side reader's rows on a 10k-feature layer (many rowid
    windows), including NULL geometries and a rowid gap."""
    import sqlite3

    from n2khab_mhq_data_spark.spatial.geopackage import (
        read_geopackage,
        read_geopackage_distributed,
    )

    gpkg = str(tmp_path / "big.gpkg")
    con = sqlite3.connect(gpkg)
    con.execute(
        "CREATE TABLE gpkg_contents (table_name TEXT, data_type TEXT)"
    )
    con.execute(
        "CREATE TABLE gpkg_geometry_columns"
        " (table_name TEXT, column_name TEXT)"
    )
    con.execute(
        "CREATE TABLE parcels (fid INTEGER PRIMARY KEY, naam TEXT,"
        " opp REAL, geom BLOB)"
    )
    con.execute("INSERT INTO gpkg_contents VALUES ('parcels', 'features')")
    con.execute(
        "INSERT INTO gpkg_geometry_columns VALUES ('parcels', 'geom')"
    )
    rows = []
    for i in range(10_000):
        x = float(i % 100)
        y = float(i // 100)
        ring = [(x, y), (x + 1, y), (x + 1, y + 1), (x, y + 1), (x, y)]
        geom = None if i % 997 == 0 else _gpb(_wkb_polygon([ring]))
        # rowid gap: skip fid 5000 to exercise sparse ranges
        fid = i if i < 5000 else i + 137
        rows.append((fid, f"p{i}", float(i), geom))
    con.executemany("INSERT INTO parcels VALUES (?,?,?,?)", rows)
    con.commit()
    con.close()

    dist = read_geopackage_distributed(spark, gpkg, rows_per_task=512)
    assert dist.rdd.getNumPartitions() > 1
    got = sorted(tuple(r) for r in dist.collect())
    want = sorted(tuple(r) for r in read_geopackage(spark, gpkg).collect())
    assert len(got) == 10_000
    assert got == want
    assert dist.schema["fid"].dataType.typeName() == "long"
    assert dist.schema["opp"].dataType.typeName() == "double"


def test_gpb_flag_bits_null_empty_extended():
    """OGC 12-128 flags byte is RRXYEEEB: bit 4 = empty geometry -> None,
    bit 5 = ExtendedGeoPackageBinary -> fail fast (body is not plain WKB).
    SQL NULL geometry values are legal rows -> None, not an error."""
    import struct

    import pytest

    from n2khab_mhq_data_spark.spatial.geopackage import gpb_to_wkt

    assert gpb_to_wkt(None) is None

    srid = struct.pack("<i", 31370)
    empty = b"GP" + bytes([0, 0b00010001]) + srid
    assert gpb_to_wkt(empty) is None

    point_wkb = struct.pack("<BI2d", 1, 1, 1.0, 2.0)
    extended = b"GP" + bytes([0, 0b00100001]) + srid + point_wkb
    with pytest.raises(ValueError, match="Extended"):
        gpb_to_wkt(extended)

    plain = b"GP" + bytes([0, 0b00000001]) + srid + point_wkb
    assert gpb_to_wkt(plain) == "POINT (1 2)"

    with pytest.raises(ValueError, match="not a GeoPackage"):
        gpb_to_wkt(b"XX")


def test_zvalue_interleave_hand_computed(spark):
    from pyspark.sql import functions as F

    from n2khab_mhq_data_spark.spatial.zorder import zvalue

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (127, 127)], "cx long, cy long"
    )
    got = [
        r.z
        for r in df.select(
            zvalue(F.col("cx"), F.col("cy"), 7).alias("z")
        ).collect()
    ]

    def morton(x, y):
        z = 0
        for i in range(7):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    want = [morton(x, y) for x, y in [(0, 0), (1, 0), (0, 1), (3, 5), (127, 127)]]
    assert got == want
    # z-order locality: adjacent cells differ in few low bits
    assert morton(1, 0) == 1 and morton(0, 1) == 2 and morton(1, 1) == 3


def test_knn_join_gridded_exact_vs_brute_force(spark):
    """Grid-bucketed kNN must equal brute force, and the exactness
    precondition (kth distance <= cell) must hold with margin."""
    from pyspark.sql import functions as F

    from n2khab_mhq_data_spark.spatial.join import knn_join_gridded

    pts = spark.createDataFrame(
        [(i, (i * 7919 % 1000) / 10.0 + 0.05,
          (i * 104729 % 1000) / 10.0 + 0.05) for i in range(300)],
        "point_id long, x double, y double",
    )
    qs = pts.filter(F.col("point_id") < 10)
    got = {
        (r.query_id, r.rank): (r.neighbour_id, r.dist)
        for r in knn_join_gridded(pts, qs, k=3, cell=20.0).collect()
    }
    rows = pts.collect()
    import math

    for q in rows[:10]:
        if q.point_id >= 10:
            continue
        dists = sorted(
            (math.hypot(q.x - p.x, q.y - p.y), p.point_id)
            for p in rows
            if p.point_id != q.point_id
        )[:3]
        for rank, (d, nid) in enumerate(dists, 1):
            gn, gd = got[(q.point_id, rank)]
            assert gn == nid
            assert abs(gd - d) < 1e-5
        assert dists[-1][0] <= 20.0  # ring-guarantee margin holds


def test_knn_join_gridded_inexact_cell_fails_loud(spark):
    """A cell too small for the kth neighbour must fail the job at
    runtime (raise_error in the plan), never silently return wrong
    neighbours: two far-apart clusters with cell smaller than the
    inter-cluster gap."""
    import pytest

    from n2khab_mhq_data_spark.spatial.join import knn_join_gridded

    # query 0 has exactly 1 in-ring neighbour; its 2nd/3rd NN live 50
    # units away — outside the 3x3 ring at cell=2.0
    pts = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 0.5, 0.0),
         (2, 50.0, 0.0), (3, 50.5, 0.0), (4, 51.0, 0.0)],
        "point_id long, x double, y double",
    )
    qs = pts.filter("point_id = 0")
    with pytest.raises(Exception, match="exactness breach"):
        knn_join_gridded(pts, qs, k=3, cell=2.0).collect()


def test_knn_join_zero_candidate_query_fails_loud(spark):
    """A query whose ENTIRE 3x3 ring is empty used to vanish silently
    (no kept rows -> the per-query guard window never evaluated); the
    right-outer placeholder must surface it as an exactness breach
    while eligible corpus points exist (ADVICE r4)."""
    import pytest

    from n2khab_mhq_data_spark.spatial.join import knn_join_gridded

    pts = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 50.0, 0.0), (2, 50.5, 0.0)],
        "point_id long, x double, y double",
    )
    qs = pts.filter("point_id = 0")  # nothing else within cell=2 ring
    with pytest.raises(Exception, match="exactness breach"):
        knn_join_gridded(pts, qs, k=2, cell=2.0).collect()


def test_knn_join_disjoint_query_set_short_result_fails_loud(spark):
    """A query id NOT present in the corpus has zero self-exclusions:
    a result one row short of k must be flagged against the FULL corpus
    size, not corpus-1 (the old hard-coded self-exclusion let exactly
    this case pass unflagged; ADVICE r4)."""
    import pytest

    from n2khab_mhq_data_spark.spatial.join import knn_join_gridded

    pts = spark.createDataFrame(
        [(100, 0.5, 0.0), (101, 0.0, 0.5), (102, 50.0, 0.0)],
        "point_id long, x double, y double",
    )
    qs = spark.createDataFrame(
        [(999, 0.0, 0.0)], "point_id long, x double, y double"
    )
    # k=3: 2 in-ring candidates, the 3rd eligible point is 50 away —
    # kept count (2) == k-1 slipped through the old __np - 1 check
    with pytest.raises(Exception, match="exactness breach"):
        knn_join_gridded(pts, qs, k=3, cell=2.0).collect()
    # with k=2 the result is complete and must pass
    rows = knn_join_gridded(pts, qs, k=2, cell=2.0).collect()
    assert sorted(r.neighbour_id for r in rows) == [100, 101]


def test_geopackage_write_read_roundtrip(spark, tmp_path):
    """The GPKG write side (wkt_to_gpb + layer writer) must round-trip
    through BOTH readers — driver-side and distributed — with identical
    attributes and WKT, including holes, multipolygons and NULL
    geometry."""
    from n2khab_mhq_data_spark.spatial.geopackage import (
        read_geopackage,
        read_geopackage_distributed,
        write_geopackage_layer,
    )

    rows = [
        (1, "a", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
        (2, "b", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0),"
                 " (1 1, 2 1, 2 2, 1 2, 1 1))"),
        (3, "c", "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)),"
                 " ((5 5, 6 5, 6 6, 5 6, 5 5)))"),
        (4, None, None),
    ]
    path = str(tmp_path / "t.gpkg")
    write_geopackage_layer(
        path, "plots", rows, [("fid", "INTEGER"), ("tag", "TEXT")]
    )
    want = {
        (r[0], r[1], r[2].replace(" ((", " ((") if r[2] else None)
        for r in rows
    }

    def norm(df):
        return {
            (r.fid, r.tag, r.wkt) for r in df.collect()
        }

    drv = norm(read_geopackage(spark, path, "plots"))
    dist = norm(
        read_geopackage_distributed(spark, path, "plots", rows_per_task=2)
    )
    assert drv == dist
    # WKT strings round-trip exactly (integer coords -> %.10g is exact)
    assert drv == want


def test_geohash_matches_reference_encoder(spark, sf_dir):
    """The Morton-based geohash must equal the textbook bit-by-bit
    interval-halving encoder for every point."""
    from n2khab_mhq_data_spark.plans.spatial import spatial_geohash_encode

    alpha = "0123456789bcdefghjkmnpqrstuvwxyz"

    def reference(lon, lat, precision=6):
        lo = [-180.0, 180.0]
        la = [-90.0, 90.0]
        bits, out, even = 0, [], True
        ch = 0
        while len(out) < precision:
            if even:
                mid = (lo[0] + lo[1]) / 2
                if lon >= mid:
                    ch = ch * 2 + 1
                    lo[0] = mid
                else:
                    ch = ch * 2
                    lo[1] = mid
            else:
                mid = (la[0] + la[1]) / 2
                if lat >= mid:
                    ch = ch * 2 + 1
                    la[0] = mid
                else:
                    ch = ch * 2
                    la[1] = mid
            even = not even
            bits += 1
            if bits == 5:
                out.append(alpha[ch])
                bits, ch = 0, 0
        return "".join(out)

    rows = spatial_geohash_encode(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # recompute from the UNROUNDED coordinates (rebuild from id)
        k = r["point_id"]
        lon = ((k * 7919 % 1000) / 10.0 + 0.05) * 3.6 - 180.0
        lat = ((k * 104729 % 1000) / 10.0 + 0.05) * 1.8 - 90.0
        assert r["geohash"] == reference(lon, lat), (k, r["geohash"])


def test_wkt_circle_areas_holes_and_multipolygon(spark):
    """The ring-flattened kernel subtracts holes and sums MULTIPOLYGON
    parts — the shell-only batching overstated seg_area on holes and
    dropped every part after the first."""
    from n2khab_mhq_data_spark.spatial.join import (
        wkt_circle_intersection_areas,
    )

    rows = [
        # 2x2 square with a 1x1 hole, fully inside the circle: 4-1=3
        (1, 1, "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0),"
               " (0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))",
         1.0, 1.0),
        # two unit squares, both inside: 2
        (1, 2, "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)),"
               " ((3 3, 4 3, 4 4, 3 4, 3 3)))", 2.0, 2.0),
        (1, 3, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", 0.5, 0.5),
    ]
    df = spark.createDataFrame(
        rows, "plot_id long, segment_id long, wkt string,"
        " cx double, cy double"
    )
    out = {
        r.segment_id: r.seg_area
        for r in wkt_circle_intersection_areas(df).collect()
    }
    assert abs(out[1] - 3.0) < 1e-9
    assert abs(out[2] - 2.0) < 1e-9
    assert abs(out[3] - 1.0) < 1e-9


def test_zorder_layout_rejects_out_of_grid(spark):
    """Coordinates outside [0, 2^bits) must fail loudly — the
    bit-interleave would silently alias them onto far-away cells and
    merge unrelated regions into one bucket."""
    import pytest

    from n2khab_mhq_data_spark.spatial.zorder import zorder_layout_stats

    df = spark.createDataFrame(
        [(-1.5, 10.0), (5.0, 5.0)], "x double, y double"
    )
    with pytest.raises(Exception, match="outside"):
        zorder_layout_stats(df).collect()
    df2 = spark.createDataFrame(
        [(140.0, 10.0)], "x double, y double"  # 140 & 127 would alias to 12
    )
    with pytest.raises(Exception, match="outside"):
        zorder_layout_stats(df2).collect()


def test_point_in_polygon_join_string_ids(spark):
    """id_col is honored for TYPE, not just name — string point ids
    previously crashed the Arrow conversion against a hardcoded long."""
    from n2khab_mhq_data_spark.spatial.join import point_in_polygon_join

    pts = spark.createDataFrame(
        [("a", 0.5, 0.5), ("b", 5.0, 5.0)],
        "point_id string, x double, y double",
    )
    square = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)]
    out = point_in_polygon_join(pts, {7: square}).collect()
    assert [(r["point_id"], r["polygon_id"]) for r in out] == [("a", 7)]


def test_parse_wkt_layer_honors_id_col(spark):
    from n2khab_mhq_data_spark.spatial.join import parse_wkt_layer

    df = spark.createDataFrame(
        [("g1", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")],
        "gml_id string, wkt string",
    )
    out = parse_wkt_layer(df, id_col="gml_id").collect()
    assert out[0]["gml_id"] == "g1"
    assert abs(out[0]["area"] - 4.0) < 1e-9


def test_knn_join_duplicate_queries_deduped(spark):
    """A duplicated query row must not halve the neighbour list or
    defeat the exactness detector via an inflated kcnt."""
    from n2khab_mhq_data_spark.spatial.join import knn_join_gridded

    pts = spark.createDataFrame(
        [(i, float(i), 0.0) for i in range(10)],
        "point_id long, x double, y double",
    )
    q = spark.createDataFrame(
        [(100, 4.5, 0.0), (100, 4.5, 0.0)],
        "point_id long, x double, y double",
    )
    out = knn_join_gridded(pts, q, k=3, cell=2.0).collect()
    assert len(out) == 3
    assert len({r["neighbour_id"] for r in out}) == 3


def test_sql_transforms_match_numpy_reference(spark):
    """The SQL text the K11 queries run evaluates the numpy reference's
    formulas: projection only, and datum shift + projection."""
    lon = [2.6, 3.5, 4.367486, 5.5, 6.3]
    lat = [49.6, 50.2, 50.8, 51.3, 51.5]
    df = spark.createDataFrame(
        list(zip(range(len(lon)), lon, lat)), "point_id int, lon double, lat double"
    ).selectExpr("point_id", "radians(lat) AS phi", "radians(lon) AS lam")
    shifted = df.selectExpr("point_id", *wgs84_to_bd72_sql())
    for frame, (phi, lam), ref in (
        (df, ("phi", "lam"), wgs84_to_lambert72),
        (shifted, ("phi6", "lam_bd"), wgs84_to_lambert72_full),
    ):
        x, y = lambert72_sql(phi, lam)
        rows = frame.selectExpr("point_id", f"{x} AS x", f"{y} AS y").collect()
        rows.sort(key=lambda r: r.point_id)
        xr, yr = ref(np.array(lon), np.array(lat))
        np.testing.assert_allclose([r.x for r in rows], xr, rtol=0, atol=1e-6)
        np.testing.assert_allclose([r.y for r in rows], yr, rtol=0, atol=1e-6)
