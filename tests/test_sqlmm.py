"""SQLMM kernel tests (numpy level; the UDF wrappers are exercised by the
gate queries st_measures / st_accessors / st_contains)."""

import numpy as np
import pytest

from sis_spark import synth
from sis_spark.functions import geometry as geo
from sis_spark.functions import sqlmm


def test_wkt_point_roundtrip():
    for x, y in [(1.5, -2.25), (-180.0, 90.0), (0.1234567890123456, 1e-9)]:
        s = sqlmm.wkt_format_point(x, y)
        assert sqlmm.wkt_parse_point(s) == (x, y)
    assert sqlmm.wkt_parse_point("POINT(3 4)") == (3.0, 4.0)


def test_wkt_polygon_roundtrip():
    vx, vy = synth.polygon_vertices_np(23)
    s = sqlmm.wkt_format_polygon(vx, vy)
    typ, rings = sqlmm.wkt_parse(s)
    assert typ == "polygon"
    np.testing.assert_array_equal(rings[0][0], vx)
    np.testing.assert_array_equal(rings[0][1], vy)


def test_shoelace_known_shapes():
    # unit square
    vx = np.array([0.0, 1.0, 1.0, 0.0])
    vy = np.array([0.0, 0.0, 1.0, 1.0])
    assert sqlmm.shoelace_area(vx, vy) == 1.0
    assert sqlmm.perimeter(vx, vy) == 4.0
    cx, cy = sqlmm.polygon_centroid(vx, vy)
    assert (cx, cy) == (0.5, 0.5)
    # orientation-independent
    assert sqlmm.shoelace_area(vx[::-1], vy[::-1]) == 1.0
    # 3-4-5 triangle
    tx = np.array([0.0, 3.0, 0.0])
    ty = np.array([0.0, 0.0, 4.0])
    assert sqlmm.shoelace_area(tx, ty) == 6.0
    assert sqlmm.perimeter(tx, ty) == 12.0


def test_simplify_dp():
    # near-colinear noise collapses to the endpoints
    vx = np.array([0.0, 1.0, 2.0, 3.0, 4.0, 5.0])
    vy = np.array([0.0, 0.001, -0.002, 0.001, 0.0005, 0.0])
    sx, sy = sqlmm.simplify_dp(vx, vy, tol=0.01)
    assert list(sx) == [0.0, 5.0]
    # a significant kink is always kept
    vy2 = np.array([0.0, 0.001, 2.0, 0.001, 0.0005, 0.0])
    sx2, sy2 = sqlmm.simplify_dp(vx, vy2, tol=0.01)
    assert 2.0 in sx2 and sx2[0] == 0.0 and sx2[-1] == 5.0
    # simplification never increases vertex count; tol=0 keeps every
    # non-colinear vertex (exactly-colinear ones may still collapse)
    assert len(sx2) <= len(vx)
    sx0, _ = sqlmm.simplify_dp(vx, vy2, tol=0.0)
    assert len(sx0) >= len(sx2)


def test_buffer_contains_center_not_far():
    bx, by = sqlmm.buffer_polygon(10.0, -5.0, 2.0, n_seg=32)
    assert geo.points_in_polygon(np.array([10.0]), np.array([-5.0]), bx, by)[0]
    assert not geo.points_in_polygon(np.array([12.5]), np.array([-5.0]), bx, by)[0]
    # area approaches pi*r^2 from below
    a = sqlmm.shoelace_area(bx, by)
    assert 0.97 * np.pi * 4.0 < a < np.pi * 4.0


def test_padded_pip_equals_plain():
    rng = np.random.default_rng(17)
    keys = [3, 9, 27, 81]
    polys_vx = []
    polys_vy = []
    for k in keys:
        vx, vy = synth.polygon_vertices_np(k)
        polys_vx.append(vx)
        polys_vy.append(vy)
    VX, VY = geo.pad_polygons(polys_vx, polys_vy)
    px = rng.uniform(-180, 180, 2000)
    py = rng.uniform(-85, 85, 2000)
    gi = rng.integers(0, len(keys), 2000)
    got = geo.points_in_padded_rings(px, py, gi, VX, VY, ring_start=np.arange(len(keys) + 1))
    for i in range(len(keys)):
        sel = gi == i
        exp = geo.points_in_polygon(px[sel], py[sel], polys_vx[i], polys_vy[i])
        assert np.array_equal(got[sel], exp), f"poly {i}"


# ---------------------------------------------------------- LineString family (r2)

def test_linestring_accessors(spark):
    import pandas as pd

    from sis_spark.functions import geometry as geo
    from sis_spark.functions.sqlmm import (
        st_cast_udf,
        st_coorddim_udf,
        st_dimension_udf,
        st_endpoint_udf,
        st_exteriorring_udf,
        st_geometryn_udf,
        st_interiorringn_udf,
        st_isclosed_udf,
        st_isring_udf,
        st_length_udf,
        st_numgeometries_udf,
        st_numinteriorrings_udf,
        st_numpoints_udf,
        st_pointn_udf,
        st_srid_udf,
        st_startpoint_udf,
        st_x_udf,
        st_y_udf,
    )

    import numpy as np
    from pyspark.sql import functions as F

    line = geo.wkb_linestring(np.array([0.0, 3.0, 3.0]), np.array([0.0, 0.0, 4.0]))
    ring = geo.wkb_linestring(np.array([0.0, 1.0, 1.0, 0.0, 0.0]),
                              np.array([0.0, 0.0, 1.0, 1.0, 0.0]))
    bow = geo.wkb_linestring(np.array([0.0, 1.0, 1.0, 0.0, 0.0]),
                             np.array([0.0, 1.0, 0.0, 1.0, 0.0]))  # self-crossing, closed
    poly = geo.wkb_polygon([
        (np.array([0.0, 10.0, 10.0, 0.0]), np.array([0.0, 0.0, 10.0, 10.0])),
        (np.array([2.0, 4.0, 4.0, 2.0]), np.array([2.0, 2.0, 4.0, 4.0])),
    ])
    mls = geo.wkb_multilinestring([
        (np.array([0.0, 1.0]), np.array([0.0, 0.0])),
        (np.array([0.0, 0.0]), np.array([0.0, 2.0])),
    ])
    df = spark.createDataFrame(
        pd.DataFrame({"name": ["line", "ring", "bow", "poly", "mls"],
                      "wkb": [line, ring, bow, poly, mls]}),
        schema="name string, wkb binary",
    )
    r = {
        row["name"]: row
        for row in df.select(
            "name",
            st_numpoints_udf()(F.col("wkb")).alias("np"),
            st_dimension_udf()(F.col("wkb")).alias("dim"),
            st_coorddim_udf()(F.col("wkb")).alias("cd"),
            st_srid_udf()(F.col("wkb")).alias("srid"),
            st_numgeometries_udf()(F.col("wkb")).alias("ng"),
        ).collect()
    }
    assert r["line"]["np"] == 3 and r["line"]["dim"] == 1
    assert r["poly"]["np"] == 5 and r["poly"]["dim"] == 2  # closed outer ring
    assert r["mls"]["np"] == 4 and r["mls"]["dim"] == 1 and r["mls"]["ng"] == 2
    assert all(v["cd"] == 2 and v["srid"] == 4326 for v in r.values())

    lines = df.filter(F.col("name").isin(["line", "ring", "bow"]))
    r2 = {
        row["name"]: row
        for row in lines.select(
            "name",
            st_x_udf()(st_startpoint_udf()(F.col("wkb"))).alias("sx"),
            st_y_udf()(st_endpoint_udf()(F.col("wkb"))).alias("ey"),
            st_isclosed_udf()(F.col("wkb")).alias("closed"),
            st_isring_udf()(F.col("wkb")).alias("ring"),
            st_length_udf()(F.col("wkb")).alias("len"),
            st_x_udf()(st_pointn_udf()(F.col("wkb"), F.lit(2))).alias("p2x"),
        ).collect()
    }
    assert r2["line"]["sx"] == 0.0 and r2["line"]["ey"] == 4.0
    assert not r2["line"]["closed"] and not r2["line"]["ring"]
    assert r2["line"]["len"] == 7.0 and r2["line"]["p2x"] == 3.0
    assert r2["ring"]["closed"] and r2["ring"]["ring"]
    assert r2["bow"]["closed"] and not r2["bow"]["ring"]  # self-crossing

    # polygon ring accessors
    r3 = df.filter(F.col("name") == "poly").select(
        st_numinteriorrings_udf()(F.col("wkb")).alias("nir"),
        st_isring_udf()(st_exteriorring_udf()(F.col("wkb"))).alias("ext_ring"),
        st_numpoints_udf()(st_interiorringn_udf()(F.col("wkb"), F.lit(1))).alias("h1"),
    ).first()
    assert r3["nir"] == 1 and r3["ext_ring"] and r3["h1"] == 5  # closed hole ring

    # casts: matching type passes through, mismatch -> NULL
    r4 = df.select(
        "name",
        st_cast_udf("ST_ToLineString")(F.col("wkb")).alias("as_line"),
        st_geometryn_udf()(F.col("wkb"), F.lit(2)).alias("g2"),
    ).collect()
    by = {row["name"]: row for row in r4}
    assert by["line"]["as_line"] is not None and by["poly"]["as_line"] is None
    assert by["mls"]["g2"] is not None and by["line"]["g2"] is None


def test_linear_resolution_hint_and_property_path(spark):
    """FeatureQuery linear-resolution LOD hint (S/FeatureQuery.java:437) and
    XPath-style association traversal (AssociationValue a/b -> nested
    struct access, NULL propagation)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from sis_spark.functions import geometry as geo
    from sis_spark.operators.query import FeatureQuery, property_path

    # wiggly polyline: simplification at tol=0.5 drops the small wiggles
    t = np.linspace(0, 10, 101)
    vx, vy = t, 0.1 * np.sin(20 * t)
    wkb = geo.wkb_linestring(vx, vy)
    df = spark.createDataFrame(
        pd.DataFrame({"fid": [1], "geom": [wkb]}), schema="fid long, geom binary"
    )
    q = FeatureQuery().set_linear_resolution(0.5, "geom")
    row = q.execute(df).first()
    typ, (sx, sy) = geo.wkb_parse(bytes(row["geom"]))
    assert typ == "linestring" and len(sx) < 101
    # max deviation from the original vertices stays within tolerance-ish
    assert sx[0] == vx[0] and sx[-1] == vx[-1]

    # association traversal over nested structs
    nested = spark.sql("""
        SELECT 1 AS fid, named_struct('b', named_struct('c', 42)) AS a
        UNION ALL SELECT 2, CAST(NULL AS struct<b: struct<c: int>>)
    """)
    got = {r["fid"]: r["v"] for r in nested.select(
        "fid", property_path("a/b/c").alias("v")).collect()}
    assert got[1] == 42 and got[2] is None


# ---------------------------------------------------------- Multi* / collections (r2)

def test_multi_geometry_roundtrip_and_measures():
    """Pure-python layer: WKT<->parsed<->WKB round-trips for all 7 geometry
    types; multi-aware area/perimeter/dimension (SQLMM.java:550-714)."""
    import numpy as np

    from sis_spark.functions import geometry as geo
    from sis_spark.functions.sqlmm import (
        geom_area,
        geom_coords,
        geom_dimension,
        geom_perimeter,
        wkt_format,
        wkt_parse,
    )

    wkts = [
        "POINT (1.5 -2.25)",
        "LINESTRING (0 0, 3 0, 3 4)",
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
        "MULTIPOINT ((1 2), (3 4), (5 6))",
        "MULTIPOINT (1 2, 3 4)",  # bare-pair variant of the grammar
        "MULTILINESTRING ((0 0, 1 0), (0 0, 0 2))",
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5)))",
        "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 3 4), "
        "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)))",
    ]
    for s in wkts:
        typ, val = wkt_parse(s)
        # WKB round-trip preserves the parse exactly
        wkb = geo.wkb_write(typ, val)
        typ2, val2 = geo.wkb_parse(wkb)
        assert typ2 == typ
        # rings may be stored closed (WKB) vs open (WKT parse) — compare the
        # canonical WKT rendering, which closes rings either way
        assert wkt_format(typ2, val2) == wkt_format(typ, val)
        # WKT format -> parse round-trip is stable
        typ3, val3 = wkt_parse(wkt_format(typ, val))
        xs1, ys1 = geom_coords(typ, val)
        xs3, ys3 = geom_coords(typ3, val3)
        assert typ3 == typ and np.array_equal(xs1, xs3) and np.array_equal(ys1, ys3)

    # measures over multis: area sums members (holes subtracted)
    t, v = wkt_parse(wkts[2])
    assert geom_area(t, v) == 100.0 - 4.0
    t, v = wkt_parse(wkts[6])
    assert geom_area(t, v) == 1.0 + 4.0
    t, v = wkt_parse(wkts[7])
    assert geom_area(t, v) == 4.0 and geom_dimension(t, v) == 2
    assert geom_perimeter(t, v) == 8.0
    t, v = wkt_parse(wkts[3])
    assert geom_area(t, v) == 0.0 and geom_dimension(t, v) == 0


def test_multi_geometry_casts_and_accessors(spark):
    """Spark layer: ST_MultiPoint / ST_GeomCollection constructors, generic
    accessors over multis, and the ST_To* cast matrix (SQLMM.java:719-744)."""
    import pandas as pd
    from pyspark.sql import functions as F

    import numpy as np

    from sis_spark.functions import geometry as geo
    from sis_spark.functions.sqlmm import (
        st_astext_udf,
        st_cast_udf,
        st_collect_udf,
        st_dimension_udf,
        st_geometry_type_udf,
        st_geometryn_udf,
        st_geomfromtext_udf,
        st_multipoint_udf,
        st_numgeometries_udf,
        st_numpoints_udf,
        st_x_udf,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"xs": [[1.0, 3.0, 5.0]], "ys": [[2.0, 4.0, 6.0]]}),
        schema="xs array<double>, ys array<double>",
    )
    mp = st_multipoint_udf()(F.col("xs"), F.col("ys"))
    gc = st_collect_udf()(F.array(
        st_geomfromtext_udf()(F.lit("POINT (9 9)")),
        st_geomfromtext_udf()(F.lit("LINESTRING (0 0, 3 4)")),
    ))
    r = df.select(
        st_numgeometries_udf()(mp).alias("ng"),
        st_numpoints_udf()(mp).alias("np"),
        st_dimension_udf()(mp).alias("dim"),
        st_geometry_type_udf()(mp).alias("t"),
        st_astext_udf()(mp).alias("wkt"),
        st_x_udf()(st_geometryn_udf()(mp, F.lit(2))).alias("x2"),
        st_geometry_type_udf()(gc).alias("gct"),
        st_dimension_udf()(gc).alias("gcdim"),
        # cast matrix
        st_geometry_type_udf()(st_cast_udf("ST_ToGeomColl")(mp)).alias("mp2gc"),
        st_geometry_type_udf()(
            st_cast_udf("ST_ToMultiPoint")(st_geomfromtext_udf()(F.lit("POINT (1 2)")))
        ).alias("pt2mp"),
        st_astext_udf()(
            st_cast_udf("ST_ToPoint")(st_geomfromtext_udf()(F.lit("MULTIPOINT ((7 8))")))
        ).alias("mp1pt"),
        st_cast_udf("ST_ToPoint")(gc).alias("gc2pt_null"),
        st_geometry_type_udf()(
            st_cast_udf("ST_ToMultiLineString")(st_geomfromtext_udf()(F.lit(
                "GEOMETRYCOLLECTION (LINESTRING (0 0, 1 1), LINESTRING (2 2, 3 3))"
            )))
        ).alias("gc2mls"),
    ).first()
    assert r["ng"] == 3 and r["np"] == 3 and r["dim"] == 0
    assert r["t"] == "ST_MultiPoint"
    assert r["wkt"] == "MULTIPOINT ((1.0 2.0), (3.0 4.0), (5.0 6.0))"
    assert r["x2"] == 3.0
    assert r["gct"] == "ST_GeomCollection" and r["gcdim"] == 1
    assert r["mp2gc"] == "ST_GeomCollection"
    assert r["pt2mp"] == "ST_MultiPoint"
    assert r["mp1pt"] == "POINT (7.0 8.0)"
    assert r["gc2pt_null"] is None
    assert r["gc2mls"] == "ST_MultiLineString"


def test_geom_distance_known_and_sampled():
    """Generic ST_Distance kernel: known-answer pairs across all dimension
    combos, then a randomized differential vs dense boundary sampling."""
    import numpy as np

    from sis_spark.functions.sqlmm import geom_distance, wkt_parse

    d = lambda a, b: geom_distance(wkt_parse(a), wkt_parse(b))

    # point-point
    assert d("POINT (0 0)", "POINT (3 4)") == 5.0
    # point-line (projection interior, then endpoint clamp)
    assert d("POINT (1 1)", "LINESTRING (0 0, 2 0)") == 1.0
    assert d("POINT (5 0)", "LINESTRING (0 0, 2 0)") == 3.0
    # point-polygon: inside -> 0; outside -> edge distance; in-hole -> hole edge
    sq = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    hole = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
    assert d("POINT (5 5)", sq) == 0.0
    assert d("POINT (15 5)", sq) == 5.0
    assert d("POINT (5 5)", hole) == 1.0  # inside the hole -> outside the polygon
    # line-line: crossing -> 0; touching -> 0; parallel gap
    assert d("LINESTRING (0 0, 2 2)", "LINESTRING (0 2, 2 0)") == 0.0
    assert d("LINESTRING (0 0, 1 0)", "LINESTRING (1 0, 2 5)") == 0.0
    assert d("LINESTRING (0 0, 10 0)", "LINESTRING (0 3, 10 3)") == 3.0
    # line-polygon: crossing boundary -> 0; fully inside -> 0; outside
    assert d("LINESTRING (-5 5, 5 5)", sq) == 0.0
    assert d("LINESTRING (2 2, 3 3)", sq) == 0.0
    assert d("LINESTRING (12 0, 12 10)", sq) == 2.0
    # polygon-polygon: overlap -> 0; containment -> 0; disjoint gap
    assert d(sq, "POLYGON ((8 8, 12 8, 12 12, 8 12, 8 8))") == 0.0
    assert d(sq, "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))") == 0.0
    assert d(sq, "POLYGON ((13 0, 14 0, 14 1, 13 1, 13 0))") == 3.0
    # multis / collections
    assert d("MULTIPOINT ((0 0), (20 0))", "POINT (21 0)") == 1.0
    assert d("GEOMETRYCOLLECTION (POINT (50 50), LINESTRING (0 5, 10 5))",
             "POINT (0 8)") == 3.0

    # randomized differential: sampled boundary distance converges to kernel
    rng = np.random.default_rng(7)

    def sample(typ, val, n=400):
        from sis_spark.functions.sqlmm import geom_decompose
        g = geom_decompose(typ, val)
        xs, ys = [g["px"]], [g["py"]]
        if len(g["svx"]):
            t = rng.uniform(0, 1, (n, len(g["svx"])))
            xs.append((g["svx"][None, :] + (g["swx"] - g["svx"])[None, :] * t).ravel())
            ys.append((g["svy"][None, :] + (g["swy"] - g["svy"])[None, :] * t).ravel())
        return np.concatenate(xs), np.concatenate(ys)

    for _ in range(25):
        ax, ay = rng.uniform(0, 30, 2)
        bx, by = rng.uniform(0, 30, 2)
        na, nb = rng.integers(2, 6, 2)
        la = (f"LINESTRING ({', '.join(f'{ax + rng.uniform(-3, 3)!r} {ay + rng.uniform(-3, 3)!r}' for _ in range(na))})")
        lb = (f"LINESTRING ({', '.join(f'{bx + rng.uniform(-3, 3)!r} {by + rng.uniform(-3, 3)!r}' for _ in range(nb))})")
        a, b = wkt_parse(la), wkt_parse(lb)
        got = geom_distance(a, b)
        pa, qa = sample(*a)
        pb, qb = sample(*b)
        approx = np.sqrt(((pa[:, None] - pb[None, :]) ** 2
                          + (qa[:, None] - qb[None, :]) ** 2).min())
        assert got <= approx + 1e-9
        assert approx - got < 0.05  # dense sampling converges from above


# ---------------------------------------------- typed constructors + SQLMM tail

def test_typed_from_text_and_wkb(spark):
    from pyspark.sql import functions as F

    from sis_spark.functions.sqlmm import (
        st_astext_udf, st_geomfromtext_udf, st_typed_fromtext_udf,
        st_typed_fromwkb_udf)

    df = spark.createDataFrame(
        [("POINT (1 2)",), ("LINESTRING (0 0, 1 1)",),
         ("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",)], "wkt string")
    out = df.select(
        "wkt",
        st_typed_fromtext_udf("point")(F.col("wkt")).alias("as_pt"),
        st_typed_fromtext_udf("linestring")(F.col("wkt")).alias("as_ln"),
        st_typed_fromwkb_udf("polygon")(
            st_geomfromtext_udf()(F.col("wkt"))).alias("as_pl"),
    ).collect()
    by = {r["wkt"].split(" ")[0]: r for r in out}
    assert by["POINT"]["as_pt"] is not None and by["POINT"]["as_ln"] is None
    assert by["LINESTRING"]["as_ln"] is not None and by["LINESTRING"]["as_pt"] is None
    assert by["POLYGON"]["as_pl"] is not None and by["POINT"]["as_pl"] is None


def test_bdpoly_from_rings(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from sis_spark.functions import geometry as geo
    from sis_spark.functions.sqlmm import (
        st_area_udf, st_bdpolyfrom_udf, st_numinteriorrings_udf)

    shell = (np.array([0.0, 10, 10, 0, 0]), np.array([0.0, 0, 10, 10, 0]))
    hole = (np.array([2.0, 4, 4, 2, 2]), np.array([2.0, 2, 4, 4, 2]))
    far = (np.array([100.0, 101, 101, 100, 100]), np.array([0.0, 0, 1, 1, 0]))
    ml2 = geo.wkb_write("multilinestring", [shell, hole])
    ml3 = geo.wkb_write("multilinestring", [shell, hole, far])
    open_line = geo.wkb_linestring(np.array([0.0, 1.0]), np.array([0.0, 1.0]))
    df = spark.createDataFrame(
        [(bytes(ml2), bytes(ml3), bytes(open_line))], "ml2 binary, ml3 binary, op binary")
    r = df.select(
        st_area_udf()(st_bdpolyfrom_udf()(F.col("ml2"))).alias("a2"),
        st_numinteriorrings_udf()(st_bdpolyfrom_udf()(F.col("ml2"))).alias("h2"),
        st_bdpolyfrom_udf()(F.col("ml3")).alias("single3"),
        st_area_udf()(st_bdpolyfrom_udf(multi=True)(F.col("ml3"))).alias("a3"),
        st_bdpolyfrom_udf()(F.col("op")).alias("bad"),
    ).first()
    assert abs(r["a2"] - 96.0) < 1e-9        # 100 - 4 hole
    assert r["h2"] == 1
    assert r["single3"] is None              # two shells -> not a single polygon
    assert abs(r["a3"] - 97.0) < 1e-9        # 96 + 1
    assert r["bad"] is None                  # open line is no ring


def test_is3d_ismeasured_explicitpoint(spark):
    from pyspark.sql import functions as F

    from sis_spark.functions.sqlmm import (
        st_explicitpoint_udf, st_geomfromtext_udf, st_is3d_udf,
        st_ismeasured_udf)

    df = spark.createDataFrame([("POINT (3 4)",), ("LINESTRING (0 0, 1 1)",)],
                               "wkt string")
    g = st_geomfromtext_udf()(F.col("wkt"))
    out = df.select(
        "wkt",
        st_is3d_udf()(g).alias("z"),
        st_ismeasured_udf()(g).alias("m"),
        st_explicitpoint_udf()(g).alias("xy"),
    ).collect()
    for r in out:
        assert r["z"] is False and r["m"] is False
    by = {r["wkt"].split(" ")[0]: r for r in out}
    assert by["POINT"]["xy"] == [3.0, 4.0]
    assert by["LINESTRING"]["xy"] is None


def test_simplify_preserve_topology(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from sis_spark.functions import geometry as geo
    from sis_spark.functions.sqlmm import (
        is_simple_ring, simplify_dp, simplify_dp_preserve, st_numpoints_udf,
        st_simplify_preserve_udf)

    # ring where plain DP at huge tolerance collapses below a triangle
    ang = np.linspace(0, 2 * np.pi, 9)[:-1]
    vx = np.cos(ang) * (1 + 0.05 * np.sin(5 * ang + 0.3))
    vy = np.sin(ang) * (1 + 0.05 * np.sin(5 * ang + 0.3))
    svx, svy = simplify_dp_preserve(vx, vy, 10.0, is_ring=True)
    assert len(svx) >= 3 and is_simple_ring(svx, svy)

    poly = geo.wkb_polygon([(vx, vy)])
    df = spark.createDataFrame([(bytes(poly),)], "g binary")
    n = df.select(
        st_numpoints_udf()(st_simplify_preserve_udf(10.0)(F.col("g"))).alias("n")
    ).first()["n"]
    assert n >= 4  # closed ring keeps at least a triangle

    # small tolerance: no change
    s2x, s2y = simplify_dp_preserve(vx, vy, 1e-9, is_ring=True)
    assert np.array_equal(s2x, vx) and np.array_equal(s2y, vy)
