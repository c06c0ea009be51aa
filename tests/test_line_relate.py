"""Line-vs-polygon and line-vs-line DE-9IM kernels (functions/relate.py line
operands) + the distributed line_polygon_join — differential vs a brute
driver-side evaluation, mirroring the polygon-pair test strategy."""

import numpy as np
import pytest

from sis_spark.functions import geometry as geo
from sis_spark.functions.relate import (
    line_line_flags,
    line_line_predicates,
    line_polygon_flags,
    line_polygon_predicates,
    relate_line_polygon_wkb,
    relate_lines_wkb,
)


def square(cx=0.0, cy=0.0, r=1.0, holes=()):
    vx = np.array([cx - r, cx + r, cx + r, cx - r])
    vy = np.array([cy - r, cy - r, cy + r, cy + r])
    return {"vx": vx, "vy": vy, "holes": list(holes)}


def hole_ring(cx, cy, r):
    return (np.array([cx - r, cx + r, cx + r, cx - r]),
            np.array([cy - r, cy - r, cy + r, cy + r]))


def lp(vx, vy, poly):
    return line_polygon_predicates(
        line_polygon_flags(np.asarray(vx, float), np.asarray(vy, float), poly))


def test_line_through_polygon_crosses():
    p = lp([-2.0, 2.0], [0.1, 0.2], square())
    assert p["intersects"] and p["crosses"]
    assert not p["within"] and not p["disjoint"] and not p["contains"]


def test_line_inside_polygon_within():
    p = lp([-0.5, 0.0, 0.5], [-0.3, 0.4, -0.1], square())
    assert p["intersects"] and p["within"]
    assert not p["crosses"] and not p["disjoint"]


def test_line_disjoint():
    p = lp([5.0, 6.0], [5.0, 6.0], square())
    assert p["disjoint"] and not p["intersects"]


def test_line_half_in_crosses():
    # one endpoint inside, one outside: crosses (visits interior + exterior)
    p = lp([0.0, 3.0], [0.0, 0.1], square())
    assert p["intersects"] and p["crosses"] and not p["within"]


def test_line_into_hole_crosses_not_within():
    poly = square(r=2.0, holes=[hole_ring(0.0, 0.0, 0.5)])
    # from annulus interior into the hole: crosses the hole ring -> exterior
    p = lp([-1.5, 0.0], [-1.2, 0.1], poly)
    assert p["crosses"] and not p["within"]
    # entirely inside the annulus (avoiding the hole): within
    p = lp([-1.5, -1.5], [-1.2, 1.2], poly)
    assert p["within"] and not p["crosses"]
    # entirely inside the hole: disjoint from the polygon's point set
    p = lp([-0.2, 0.2], [-0.1, 0.1], poly)
    assert p["disjoint"]


def test_line_line_predicates():
    x = (np.array([-1.0, 1.0]), np.array([-1.0, 1.0]))
    y = (np.array([-1.0, 1.0]), np.array([1.0, -1.0]))
    p = line_line_predicates(line_line_flags(*x, *y))
    assert p["intersects"] and p["crosses"] and not p["equals"]
    # parallel disjoint
    z = (np.array([-1.0, 1.0]), np.array([2.0, 4.0]))
    p = line_line_predicates(line_line_flags(*x, *z))
    assert p["disjoint"]
    # identical and reversed -> equals/within/contains
    p = line_line_predicates(line_line_flags(*x, *x))
    assert p["equals"] and p["within"] and p["contains"] and not p["crosses"]
    rev = (x[0][::-1], x[1][::-1])
    p = line_line_predicates(line_line_flags(*x, *rev))
    assert p["equals"]


def test_wkb_dispatch_and_type_errors():
    line = geo.wkb_linestring(np.array([-2.0, 2.0]), np.array([0.1, 0.2]))
    poly = geo.wkb_polygon([(square()["vx"], square()["vy"])])
    assert relate_line_polygon_wkb(line, poly)["crosses"]
    assert relate_lines_wkb(line, line)["equals"]
    with pytest.raises(ValueError, match="LineString"):
        relate_line_polygon_wkb(poly, poly)


def test_distributed_line_polygon_join_matches_brute(spark):
    """line_polygon_join == brute per-pair kernel evaluation on a random
    small instance (lines + polygons as DataFrames)."""
    import pandas as pd

    from sis_spark import synth
    from sis_spark.operators.spatial_join import line_polygon_join
    from sis_spark.sources import polygons_from_wkb

    rng = np.random.default_rng(7)
    keys = np.arange(1, 41)
    polys = synth.polygon_table_np(keys)
    poly_rows = [{"key": int(p["key"]),
                  "wkb": bytes(geo.wkb_polygon([(p["vx"], p["vy"])] + list(p.get("holes", []))))}
                 for p in polys]

    params = synth.polygon_params_np(keys)
    lines = []
    for i in range(30):
        npts = int(rng.integers(2, 6))
        j = int(rng.integers(0, len(keys)))  # anchor near a polygon center
        cx, cy = float(params["cx"][j]), float(params["cy"][j])
        vx = cx + rng.uniform(-4, 4, npts)
        vy = cy + rng.uniform(-4, 4, npts)
        lines.append({"key": i, "vx": vx, "vy": vy,
                      "wkb": bytes(geo.wkb_linestring(vx, vy))})

    ldf = spark.createDataFrame(pd.DataFrame([{"key": l["key"], "wkb": l["wkb"]} for l in lines]))
    pdf = spark.createDataFrame(pd.DataFrame(poly_rows))
    cache = spark._jsparkSession.sharedState().cacheManager()
    cached = cache.numCachedEntries()
    got = {(r["lkey"], r["pkey"]): (r["within"], r["crosses"])
           for r in line_polygon_join(ldf, pdf).collect()}
    assert cache.numCachedEntries() == cached  # the parts tables are not cached

    exp = {}
    parsed = polygons_from_wkb([(r["key"], r["wkb"]) for r in poly_rows])
    for l in lines:
        for p in parsed:
            pr = line_polygon_predicates(line_polygon_flags(l["vx"], l["vy"], p))
            if pr["intersects"]:
                exp[(l["key"], p["key"])] = (pr["within"], pr["crosses"])
    assert got == exp
    assert len(exp) > 10  # non-trivial instance


# ------------------------------------------------- ST_Intersection(line, A)

def test_clip_line_polygon_kernel():
    from sis_spark.functions.overlay import clip_line_polygon

    sq = [(np.array([-1.0, 1.0, 1.0, -1.0]), np.array([-1.0, -1.0, 1.0, 1.0]))]
    # pass-through: clipped to the square, one piece
    pieces, q = clip_line_polygon(np.array([-2.0, 2.0]), np.array([0.0, 0.0]), sq)
    assert len(pieces) == 1
    assert q == int(np.floor(2.0 * 1e7))
    np.testing.assert_allclose(pieces[0][0], [-1.0, 1.0])
    # fully inside / fully outside
    _, q_in = clip_line_polygon(np.array([-0.5, 0.5]), np.array([0.0, 0.0]), sq)
    assert q_in == int(1e7)
    p_out, q_out = clip_line_polygon(np.array([5.0, 6.0]), np.array([5.0, 6.0]), sq)
    assert p_out == [] and q_out == 0
    # hole: segment crossing the hole loses the middle
    ring = (np.array([-0.3, 0.3, 0.3, -0.3]), np.array([-0.3, -0.3, 0.3, 0.3]))
    pieces, q = clip_line_polygon(np.array([-2.0, 2.0]), np.array([0.0, 0.0]), sq + [ring])
    assert len(pieces) == 2
    assert q == 2 * int(np.floor(0.7 * 1e7))
    # multi-vertex polyline entering and leaving: pieces merge at shared t
    pieces, q = clip_line_polygon(
        np.array([-2.0, 0.0, 2.0]), np.array([-0.5, 0.5, -0.5]), sq)
    assert len(pieces) == 1 and len(pieces[0][0]) >= 3  # crosses two edges


def test_st_intersection_line_poly_udf(spark):
    import pandas as pd

    from sis_spark.functions import geometry as geo
    from sis_spark.functions.overlay import st_intersection_line_poly_udf

    sq_wkb = bytes(geo.wkb_polygon([(np.array([-1.0, 1.0, 1.0, -1.0]),
                                     np.array([-1.0, -1.0, 1.0, 1.0]))]))
    line_wkb = bytes(geo.wkb_linestring(np.array([-2.0, 2.0]), np.array([0.0, 0.0])))
    df = spark.createDataFrame(pd.DataFrame({"l": [line_wkb], "p": [sq_wkb]}))
    out = df.select(st_intersection_line_poly_udf()(df.l, df.p).alias("w")).collect()
    typ, lines = geo.wkb_parse(bytes(out[0]["w"]))
    assert typ == "multilinestring" and len(lines) == 1
    np.testing.assert_allclose(lines[0][0], [-1.0, 1.0])


def test_point_segments_dist2_kernel():
    from sis_spark.functions.geometry import point_segments_dist2

    # horizontal segment (-1,0)->(1,0): interior projection, both clamps
    d2 = point_segments_dist2([0.0, 3.0, -4.0], [1.0, 0.0, 0.0],
                              [-1.0], [0.0], [1.0], [0.0])
    np.testing.assert_allclose(d2[:, 0], [1.0, 4.0, 9.0])
    # two segments: min over columns picks the closer one
    d2 = point_segments_dist2([0.0], [0.2],
                              [-1.0, 5.0], [0.0, 0.0], [1.0, 5.0], [0.0, 9.0])
    assert d2.shape == (1, 2)
    assert d2.min(axis=1)[0] == 0.2 * 0.2 + 0.0
    # degenerate zero-length segment behaves as a point
    d2 = point_segments_dist2([3.0], [4.0], [0.0], [0.0], [0.0], [0.0])
    np.testing.assert_allclose(d2[0, 0], 25.0)


def test_batch_kernel_matches_scalar():
    """line_polygon_relate_batch == scalar relate_line_polygon_wkb over a
    randomized pair set incl. padded-lane variety (different vertex counts)
    and a holed polygon (scalar fallback row)."""
    import numpy as np

    from sis_spark.functions import geometry as geo
    from sis_spark.functions.relate import (
        line_polygon_relate_batch,
        relate_line_polygon_wkb,
    )

    rng = np.random.default_rng(42)
    lines = []
    for i in range(40):
        n = int(rng.integers(2, 9))
        lines.append(geo.wkb_linestring(
            rng.uniform(-10, 10, n), rng.uniform(-10, 10, n)))
    polys = []
    for i in range(15):
        n = int(rng.integers(3, 12))
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        r = rng.uniform(1, 6, n)
        cx, cy = rng.uniform(-8, 8, 2)
        polys.append(geo.wkb_polygon([(cx + r * np.cos(ang), cy + r * np.sin(ang))]))
    # holed polygon: big square with a central square hole
    polys.append(geo.wkb_polygon([
        ([-9.0, 9.0, 9.0, -9.0], [-9.0, -9.0, 9.0, 9.0]),
        ([-2.0, 2.0, 2.0, -2.0], [-2.0, -2.0, 2.0, 2.0]),
    ]))

    l_bufs, p_bufs = [], []
    for lb in lines:
        for pb in polys:
            l_bufs.append(lb)
            p_bufs.append(pb)
    inter, within, crosses = line_polygon_relate_batch(l_bufs, p_bufs)
    for i, (lb, pb) in enumerate(zip(l_bufs, p_bufs)):
        want = relate_line_polygon_wkb(lb, pb)
        assert bool(inter[i]) == want["intersects"], i
        assert bool(within[i]) == want["within"], i
        assert bool(crosses[i]) == want["crosses"], i


def test_simplify_vw_collinear_first(spark):
    from sis_spark.operators.trajectory import simplify_vw

    # collinear interior vertex has area 0: removed first
    pts = [(1, 0, 0, 0), (1, 1, 5, 0), (1, 2, 10, 0), (1, 3, 10, 8)]
    df = spark.createDataFrame(pts, "k long, o long, x long, y long")
    got = sorted((r["o"], r["x"], r["y"])
                 for r in simplify_vw(df, target=3).collect())
    assert got == [(0, 0, 0), (2, 10, 0), (3, 10, 8)]


def test_simplify_vw_matches_dense_random(spark):
    import numpy as np

    from sis_spark.operators.trajectory import simplify_vw, simplify_vw_dense

    rng = np.random.RandomState(23)
    rows = []
    seqs = {}
    for k in range(5):
        n = rng.randint(4, 18)
        xs = rng.randint(0, 100, n).tolist()
        ys = rng.randint(0, 100, n).tolist()
        seqs[k] = (list(range(n)), xs, ys)
        rows += [(k, o, x, y) for o, (x, y) in enumerate(zip(xs, ys))]
    df = spark.createDataFrame(rows, "k long, o long, x long, y long").repartition(3)
    got = sorted((r["k"], r["o"], r["x"], r["y"])
                 for r in simplify_vw(df, target=6).collect())
    want = sorted(
        (k, o, x, y)
        for k, (os_, xs, ys) in seqs.items()
        for o, x, y in simplify_vw_dense(os_, xs, ys, 6)
    )
    assert got == want
    # endpoints always survive
    for k, (os_, xs, ys) in seqs.items():
        kept = [o for kk, o, _, _ in got if kk == k]
        assert kept[0] == 0 and kept[-1] == os_[-1]
