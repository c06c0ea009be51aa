"""WKB polygon-table adapter: the spatial join must produce identical rows
whether polygons come from synth dicts or from a WKB column."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from sis_spark import synth
from sis_spark.functions import geometry as geo
from sis_spark.sources import polygons_from_wkb


def test_adapter_shapes_and_holes():
    vx, vy = synth.polygon_vertices_np(3)
    hole = (vx.mean() + 0.01 * np.array([-1.0, 1, 0]), vy.mean() + 0.01 * np.array([-1.0, 0, 1]))
    wkb = geo.wkb_polygon([(vx, vy), hole])
    out = polygons_from_wkb([(3, wkb)])
    assert len(out) == 1
    p = out[0]
    assert p["key"] == 3 and len(p["holes"]) == 1
    assert np.allclose(p["vx"], vx) and np.allclose(p["vy"], vy)

    # multipolygon -> one part per member, same key
    mp = b"\x01" + (6).to_bytes(4, "little") + (2).to_bytes(4, "little") + wkb + wkb
    out = polygons_from_wkb([(9, mp)])
    assert len(out) == 2 and all(q["key"] == 9 for q in out)


def test_join_equivalence_via_wkb(spark, sf_dir):
    from sis_spark.operators.spatial_join import spatial_join
    from sis_spark.queries import _events_points, _supplier_polygons

    pts = _events_points(spark, sf_dir)
    direct = _supplier_polygons(spark, sf_dir)
    wkb_rows = [(p["key"], geo.wkb_polygon([(p["vx"], p["vy"])])) for p in direct]
    wkb_df = spark.createDataFrame(
        pd.DataFrame(wkb_rows, columns=["key", "wkb"]), schema="key long, wkb binary"
    )
    via_wkb = polygons_from_wkb(wkb_df)

    a = sorted(
        (r["event_id"], r["poly_key"])
        for r in spatial_join(pts, direct, "lon", "lat").select("event_id", "poly_key").collect()
    )
    b = sorted(
        (r["event_id"], r["poly_key"])
        for r in spatial_join(pts, via_wkb, "lon", "lat").select("event_id", "poly_key").collect()
    )
    assert a == b and len(a) > 0


def test_spatial_join_dist_matches_driver_path(spark, sf_dir):
    """spatial_join_dist (polygon side a DataFrame end to end, never
    collected) must equal the driver-path join row-for-row, including an
    anti-meridian polygon and one with a hole (VERDICT r1 item 3)."""
    from sis_spark.operators.spatial_join import spatial_join, spatial_join_dist
    from sis_spark.queries import _events_points, _supplier_polygons

    pts = _events_points(spark, sf_dir)
    direct = _supplier_polygons(spark, sf_dir)
    # add an anti-meridian crosser and a holed polygon to the dimension
    am_vx = np.array([176.0, 184.0, 184.0, 176.0])
    am_vy = np.array([-5.0, -5.0, 5.0, 5.0])
    direct = direct + [
        {"key": 9001, "vx": am_vx, "vy": am_vy,
         "xmin": 176.0, "ymin": -5.0, "xmax": 184.0, "ymax": 5.0},
    ]
    wkb_rows = []
    for p in direct:
        rings = [(p["vx"], p["vy"])] + list(p.get("holes", []))
        wkb_rows.append((p["key"], geo.wkb_polygon(rings)))
    # holed polygon: big square with a centered hole
    hv = np.array([-10.0, 10.0, 10.0, -10.0])
    wkb_rows.append(
        (9002, geo.wkb_polygon([
            (hv, np.array([20.0, 20.0, 40.0, 40.0])),
            (hv / 2, np.array([25.0, 25.0, 35.0, 35.0])),
        ]))
    )
    direct = direct + polygons_from_wkb([wkb_rows[-1]])
    wkb_df = spark.createDataFrame(
        pd.DataFrame(wkb_rows, columns=["key", "wkb"]), schema="key long, wkb binary"
    )

    a = sorted(
        (r["event_id"], r["poly_key"])
        for r in spatial_join(pts, direct, "lon", "lat").select("event_id", "poly_key").collect()
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    cached = cache.numCachedEntries()
    b = sorted(
        (r["event_id"], r["poly_key"])
        for r in spatial_join_dist(pts, wkb_df, "lon", "lat").select("event_id", "poly_key").collect()
    )
    assert cache.numCachedEntries() == cached  # the parts table is not cached
    assert a == b and len(a) > 0


def test_spatial_join_dist_no_interior_skip(spark, sf_dir):
    from sis_spark.operators.spatial_join import spatial_join, spatial_join_dist
    from sis_spark.queries import _events_points, _supplier_polygons

    pts = _events_points(spark, sf_dir)
    direct = _supplier_polygons(spark, sf_dir)
    wkb_df = spark.createDataFrame(
        pd.DataFrame(
            [(p["key"], geo.wkb_polygon([(p["vx"], p["vy"])])) for p in direct],
            columns=["key", "wkb"],
        ),
        schema="key long, wkb binary",
    )
    a = sorted(
        (r["event_id"], r["poly_key"])
        for r in spatial_join(pts, direct, "lon", "lat").select("event_id", "poly_key").collect()
    )
    b = sorted(
        (r["event_id"], r["poly_key"])
        for r in spatial_join_dist(pts, wkb_df, "lon", "lat", interior_skip=False)
        .select("event_id", "poly_key").collect()
    )
    assert a == b


def test_spatial_join_empty_polygons(spark, sf_dir):
    """Empty polygon list: early empty result with the right schema
    (ADVICE r1: the old fallback crashed at createDataFrame)."""
    from sis_spark.operators.spatial_join import spatial_join
    from sis_spark.queries import _events_points

    pts = _events_points(spark, sf_dir)
    out = spatial_join(pts, [], "lon", "lat", salt="auto")
    assert out.count() == 0
    assert "poly_key" in out.columns


def test_spatial_join_dist_adaptive_broadcast(spark, sf_dir):
    """broadcast_threshold: a small dimension takes the collected broadcast
    plan; results identical to the forced-distributed plan."""
    from sis_spark.operators.spatial_join import spatial_join_dist
    from sis_spark.queries import _events_points, _supplier_polygons_df

    pts = _events_points(spark, sf_dir)
    polys_df = _supplier_polygons_df(spark, sf_dir)
    a = sorted(
        (r["event_id"], r["poly_key"])
        for r in spatial_join_dist(pts, polys_df, "lon", "lat",
                                   broadcast_threshold=100000)
        .select("event_id", "poly_key").collect()
    )
    b = sorted(
        (r["event_id"], r["poly_key"])
        for r in spatial_join_dist(pts, polys_df, "lon", "lat")
        .select("event_id", "poly_key").collect()
    )
    assert a == b and len(a) > 0


def test_spatial_join_compact_matches_default(spark, sf_dir):
    """compact_levels (mixed-resolution covering + ancestor-chain join) must
    be value-identical to the single-resolution distributed plan, including
    an anti-meridian crosser and a holed polygon in the dimension."""
    from sis_spark.operators.spatial_join import spatial_join_dist
    from sis_spark.queries import _events_points, _supplier_polygons

    pts = _events_points(spark, sf_dir)
    wkb_rows = [
        (p["key"], geo.wkb_polygon([(p["vx"], p["vy"])]))
        for p in _supplier_polygons(spark, sf_dir)
    ]
    wkb_rows.append((9001, geo.wkb_polygon([(
        np.array([176.0, 184.0, 184.0, 176.0]), np.array([-5.0, -5.0, 5.0, 5.0])
    )])))
    hv = np.array([-10.0, 10.0, 10.0, -10.0])
    wkb_rows.append((9002, geo.wkb_polygon([
        (hv, np.array([20.0, 20.0, 40.0, 40.0])),
        (hv / 2, np.array([25.0, 25.0, 35.0, 35.0])),
    ])))
    wkb_df = spark.createDataFrame(
        pd.DataFrame(wkb_rows, columns=["key", "wkb"]), schema="key long, wkb binary"
    )
    a = sorted(
        (r["event_id"], r["poly_key"])
        for r in spatial_join_dist(pts, wkb_df, "lon", "lat")
        .select("event_id", "poly_key").collect()
    )
    b = sorted(
        (r["event_id"], r["poly_key"])
        for r in spatial_join_dist(pts, wkb_df, "lon", "lat", compact_levels=3)
        .select("event_id", "poly_key").collect()
    )
    assert a == b and len(a) > 0


def _square(x0, y0, x1, y1):
    return np.array([x0, x1, x1, x0]), np.array([y0, y0, y1, y1])


_HOLED = geo.wkb_polygon([_square(-10.0, 20.0, 10.0, 40.0), _square(-5.0, 25.0, 5.0, 35.0)])
_MULTI = geo.wkb_multipolygon([[_square(0.0, 0.0, 1.0, 1.0)], [_square(5.0, 2.0, 7.0, 3.0)]])
_AM = geo.wkb_polygon([_square(176.0, -5.0, 184.0, 5.0)])
_LINE = geo.wkb_linestring(np.array([0.0, 4.0, 2.0]), np.array([0.0, 1.0, 5.0]))


@pytest.mark.parametrize("fn, wkb, rows", [
    ("geometry_parts_df", geo.wkb_point(3.0, -2.0), [(3.0, -2.0, 3.0, -2.0)]),
    ("geometry_parts_df", _LINE, [(0.0, 0.0, 4.0, 5.0)]),
    ("line_parts_df", _LINE, [(0.0, 0.0, 4.0, 5.0)]),
    ("polygon_parts_df", _HOLED, [(-10.0, 20.0, 10.0, 40.0)]),
    ("geometry_parts_df", _HOLED, [(-10.0, 20.0, 10.0, 40.0)]),
    ("polygon_parts_df", _MULTI, [(0.0, 0.0, 1.0, 1.0), (5.0, 2.0, 7.0, 3.0)]),
    ("geometry_parts_df", _MULTI, [(0.0, 0.0, 7.0, 3.0)]),
    # anti-meridian: SPLIT into two parts for polygons, whole for distance
    ("polygon_parts_df", _AM, [(-180.0, -5.0, -176.0, 5.0), (176.0, -5.0, 180.0, 5.0)]),
    ("geometry_parts_df", _AM, [(176.0, -5.0, 184.0, 5.0)]),
    ("geometry_parts_df", geo.wkb_geomcollection([]), []),
    ("line_parts_df", _HOLED, ValueError),
])
def test_parts_core_rows(spark, fn, wkb, rows):
    """The three geometry normalisers share one parts core: one
    (key, wkb, envelope) row per part, none for an empty geometry, and
    line_parts_df refuses a non-LineString."""
    from sis_spark.operators import spatial_join as sj

    df = spark.createDataFrame([(7, bytes(wkb))], "k long, g binary")
    out = getattr(sj, fn)(df, "k", "g")
    if rows is ValueError:
        with pytest.raises(Exception, match="ValueError: line_parts_df expects LineStrings"):
            out.collect()
        return
    got = sorted(out.collect(), key=lambda r: (r["xmin"], r["ymin"]))
    assert [tuple(r)[2:] for r in got] == rows
    assert all(r["key"] == 7 for r in got)
    for r in got:
        typ, _ = geo.wkb_parse(bytes(r["wkb"]))
        assert typ == ("polygon" if fn == "polygon_parts_df" else geo.wkb_parse(bytes(wkb))[0])


def test_compact_cover_disjoint_and_exact(spark):
    """compact_cover output stays a disjoint per-part cover whose expansion
    equals the original sure set; unsure rows pass through untouched."""
    from sis_spark.operators.spatial_join import (
        compact_cover, polygon_cells_df, polygon_parts_df,
    )

    res = 8
    wkb_rows = [
        (1, geo.wkb_polygon([(np.array([0.0, 30.0, 30.0, 0.0]),
                              np.array([0.0, 0.0, 25.0, 25.0]))])),
        (2, geo.wkb_polygon([(np.array([-40.0, -20.0, -20.0, -40.0]),
                              np.array([10.0, 10.0, 22.0, 22.0]))])),
    ]
    wkb_df = spark.createDataFrame(
        pd.DataFrame(wkb_rows, columns=["key", "wkb"]), schema="key long, wkb binary"
    )
    parts = polygon_parts_df(wkb_df)
    cov = polygon_cells_df(parts, res, classify=True).toPandas()
    cc = compact_cover(
        spark.createDataFrame(cov), res, 3
    ).toPandas()

    for pkey in cov["pkey"].unique():
        orig_sure = set(cov[(cov.pkey == pkey) & cov.sure]["cell"])
        rows = cc[(cc.pkey == pkey) & cc.sure]
        # expansion of each compacted cell back to res must tile orig exactly
        expanded = []
        for c, cr in zip(rows["cell"], rows["cres"]):
            d = res - int(cr)
            expanded.extend(range(int(c) << (2 * d), (int(c) + 1) << (2 * d)))
        assert len(expanded) == len(set(expanded))  # disjoint
        assert set(expanded) == orig_sure            # exact
        # no surviving row is an ancestor of another
        ids = set((int(c), int(cr)) for c, cr in zip(rows["cell"], rows["cres"]))
        for c, cr in ids:
            a = c
            for rr in range(cr - 1, 0, -1):
                a >>= 2
                assert (a, rr) not in ids
        # unsure rows untouched at res
        un_o = sorted(cov[(cov.pkey == pkey) & ~cov.sure]["cell"])
        un_c = sorted(cc[(cc.pkey == pkey) & ~cc.sure]["cell"])
        assert un_o == un_c
        assert (cc[(cc.pkey == pkey) & ~cc.sure]["cres"] == res).all()

    # the scale claim: one big polygon's interior compacts ~4^levels
    n_sure = int(cov.sure.sum())
    n_cc_sure = int(cc.sure.sum())
    assert n_cc_sure < n_sure / 4


def test_spatial_join_compact_auto_levels(spark, sf_dir):
    """compact_levels='auto' (measured interior/boundary estimate) must be
    value-identical to the fixed-level and plain paths, and must actually
    pick a positive level for an area-dominated dimension."""
    from sis_spark.operators import spatial_join as sj
    from sis_spark.operators.spatial_join import spatial_join_dist
    from sis_spark.queries import _events_points

    pts = _events_points(spark, sf_dir)
    # one big polygon: area >> perimeter in cell units -> auto must compact
    wkb_df = spark.createDataFrame(
        pd.DataFrame(
            [(1, bytes(geo.wkb_polygon([(
                np.array([-60.0, 60.0, 60.0, -60.0]),
                np.array([-40.0, -40.0, 40.0, 40.0]),
            )])))],
            columns=["key", "wkb"],
        ),
        "key long, wkb binary",
    )
    a = sorted(
        (r["event_id"], r["poly_key"])
        for r in spatial_join_dist(pts, wkb_df, "lon", "lat", res=8)
        .select("event_id", "poly_key").collect()
    )
    auto = spatial_join_dist(pts, wkb_df, "lon", "lat", res=8,
                             compact_levels="auto")
    # a positive level was picked: the ancestor-chain explode is in the plan
    assert "explode" in auto._jdf.queryExecution().optimizedPlan().toString().lower()
    b = sorted(
        (r["event_id"], r["poly_key"])
        for r in auto.select("event_id", "poly_key").collect()
    )
    assert a == b and len(a) > 0
