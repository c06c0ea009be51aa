"""Holed-polygon batch refine kernels (r5): the all-ring edge-list grids
must match the scalar kernels exactly on a hole-heavy corpus AND beat the
scalar path by >=3x throughput — closing the r4 'scalar_idx' fallback
(VERDICT r4 "What's wrong" #1 / next-round item 1)."""

import time

import numpy as np
import pytest

from sis_spark.functions import geometry as geo
from sis_spark.functions.relate import (
    de9im_pattern,
    predicates_from_flags,
    relate_flags,
    relate_polygons_pred_batch,
)
from sis_spark.sources import polygons_from_wkb


def _star(cx, cy, r_out, n, rng, r_in=None):
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    r = rng.uniform((r_in or r_out * 0.5), r_out, n)
    return cx + r * np.cos(ang), cy + r * np.sin(ang)


def _holed_corpus(rng, n, holed_frac=0.6):
    """WKB polygons, >=holed_frac with 1-3 holes each."""
    out = []
    for i in range(n):
        cx, cy = rng.uniform(-20, 20, 2)
        nv = int(rng.integers(4, 14))
        ox, oy = _star(cx, cy, rng.uniform(3, 9), nv, rng)
        rings = [(ox, oy)]
        if rng.uniform() < holed_frac:
            for _ in range(int(rng.integers(1, 4))):
                hx0 = cx + rng.uniform(-1.5, 1.5)
                hy0 = cy + rng.uniform(-1.5, 1.5)
                hr = rng.uniform(0.2, 0.9)
                hn = int(rng.integers(3, 7))
                hx, hy = _star(hx0, hy0, hr, hn, rng, r_in=hr * 0.6)
                rings.append((hx, hy))
        out.append(geo.wkb_polygon(rings))
    return out


def _pairs(rng, polys, n_pairs):
    ii = rng.integers(0, len(polys), n_pairs)
    jj = rng.integers(0, len(polys), n_pairs)
    a = [polys[i] for i in ii]
    b = [polys[j] for j in jj]
    return a, b


def _scalar_answers(a_bufs, b_bufs):
    cache = {}

    def parsed(buf):
        if buf not in cache:
            (p,) = polygons_from_wkb([(0, buf)])
            cache[buf] = p
        return cache[buf]

    preds, pats = [], []
    for ab, bb in zip(a_bufs, b_bufs):
        f = relate_flags(parsed(ab), parsed(bb))
        preds.append(predicates_from_flags(f))
        pats.append(de9im_pattern(f))
    return preds, pats


def test_holed_batch_matches_scalar_exactly():
    rng = np.random.default_rng(7)
    polys = _holed_corpus(rng, 60, holed_frac=0.6)
    # nested fixtures exercising hole-bite and hole-containment flags:
    # big square + central hole; a small polygon inside the hole (disjoint);
    # a mid polygon covering the hole (not-contained via hole bite);
    # identical holed twins (equals)
    donut = geo.wkb_polygon([
        ([-10.0, 10.0, 10.0, -10.0], [-10.0, -10.0, 10.0, 10.0]),
        ([-3.0, 3.0, 3.0, -3.0], [-3.0, -3.0, 3.0, 3.0]),
    ])
    in_hole = geo.wkb_polygon([([-1.0, 1.0, 0.0], [-1.0, -1.0, 1.0])])
    over_hole = geo.wkb_polygon([
        ([-5.0, 5.0, 5.0, -5.0], [-5.0, -5.0, 5.0, 5.0])])
    inside_solid = geo.wkb_polygon([([5.5, 8.5, 7.0], [5.5, 5.5, 8.5])])
    fixtures = [donut, in_hole, over_hole, inside_solid, donut]
    a_bufs, b_bufs = _pairs(rng, polys, 400)
    for x in fixtures:
        for y in fixtures:
            a_bufs.append(x)
            b_bufs.append(y)

    got = relate_polygons_pred_batch(a_bufs, b_bufs)
    want_preds, want_pats = _scalar_answers(a_bufs, b_bufs)
    for i, (wp, pat) in enumerate(zip(want_preds, want_pats)):
        for k in ("intersects", "disjoint", "contains", "within", "equals",
                  "overlaps", "touches", "crosses"):
            assert bool(got[k][i]) == wp[k], (i, k)
        assert str(got["pattern"][i]) == pat, i

    # the fixtures really exercised the hole flags
    n = len(a_bufs)
    assert got["equals"][n - 25:].any()          # donut vs donut
    assert got["disjoint"][n - 25:].any()        # in_hole vs donut
    didx = n - 25  # donut row block start
    # donut does NOT contain over_hole (hole bites) but DOES contain
    # inside_solid (fully inside the solid part)
    assert not got["contains"][didx + 2]
    assert got["contains"][didx + 3]


def test_holed_batch_throughput_vs_scalar():
    """>=3x refine throughput on a >=50%-holed corpus (VERDICT done bar)."""
    rng = np.random.default_rng(11)
    polys = _holed_corpus(rng, 80, holed_frac=0.7)
    a_bufs, b_bufs = _pairs(rng, polys, 3000)

    def best_of_5(fn):
        best = float("inf")
        for _ in range(5):
            t0 = time.perf_counter()
            fn(a_bufs, b_bufs)
            best = min(best, time.perf_counter() - t0)
        return best

    t_batch = best_of_5(relate_polygons_pred_batch)
    t_scalar = best_of_5(_scalar_answers)

    speedup = t_scalar / max(t_batch, 1e-9)
    assert speedup >= 3.0, f"batch only {speedup:.1f}x faster ({t_batch:.3f}s vs {t_scalar:.3f}s)"


def test_line_polygon_batch_holed_parity():
    from sis_spark.functions.relate import (
        line_polygon_relate_batch,
        relate_line_polygon_wkb,
    )

    rng = np.random.default_rng(3)
    polys = _holed_corpus(rng, 25, holed_frac=0.8)
    lines = []
    for _ in range(40):
        n = int(rng.integers(2, 9))
        lines.append(geo.wkb_linestring(
            rng.uniform(-25, 25, n), rng.uniform(-25, 25, n)))
    # a short line living entirely inside a donut hole (disjoint) and one
    # inside the solid part (within)
    donut = geo.wkb_polygon([
        ([-10.0, 10.0, 10.0, -10.0], [-10.0, -10.0, 10.0, 10.0]),
        ([-3.0, 3.0, 3.0, -3.0], [-3.0, -3.0, 3.0, 3.0]),
    ])
    l_bufs, p_bufs = [], []
    for lb in lines:
        for pb in polys:
            l_bufs.append(lb)
            p_bufs.append(pb)
    l_bufs += [geo.wkb_linestring([-1.0, 1.0], [-1.0, 1.0]),
               geo.wkb_linestring([5.0, 8.0], [5.0, 8.0])]
    p_bufs += [donut, donut]

    inter, within, crosses = line_polygon_relate_batch(l_bufs, p_bufs)
    for i, (lb, pb) in enumerate(zip(l_bufs, p_bufs)):
        want = relate_line_polygon_wkb(lb, pb)
        assert bool(inter[i]) == want["intersects"], i
        assert bool(within[i]) == want["within"], i
        assert bool(crosses[i]) == want["crosses"], i
    # the appended fixtures: hole-line disjoint, solid-line within
    assert not inter[-2]
    assert within[-1]
