"""A/B refine-throughput bench for the r4 vectorized pair kernels.

Collects the REAL candidate pair sets (post cell-join + envelope prune) of
the four general-geometry join gates at a given SF, then times the old
per-pair scalar loop against the new batched kernel on identical arrays,
single-threaded — i.e. per-core refine throughput, the quantity the r3
verdict asked to improve >= 3x.

Each kernel's entry also checks the results: ``mismatches`` counts the
pairs where the scalar and batch kernels disagree (0 expected), and
``digest`` hashes the batch output bytes, so two checkouts run on the same
data can be compared for bit-identical results.

    python tools/bench_refine_ab.py [sf_dir] [max_pairs]
"""

from __future__ import annotations

import hashlib
import json
import sys
import time

import numpy as np

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from sis_spark.session import get_spark  # noqa: E402
from sis_spark import queries as Q  # noqa: E402


def collect_pairs(df, a_col, b_col, cap):
    # ordered, so the same data gives the same pair list (and digests)
    rows = df.orderBy(a_col, b_col).limit(cap).collect()
    return ([bytes(r[a_col]) for r in rows], [bytes(r[b_col]) for r in rows])


def timeit(fn, reps=3):
    """(best wall seconds over ``reps`` calls, the last call's result)."""
    best = np.inf
    for _ in range(reps):
        t0 = time.perf_counter()
        res = fn()
        best = min(best, time.perf_counter() - t0)
    return best, res


def digest(arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.asarray(a).tobytes())
    return h.hexdigest()[:16]


def entry(pairs, ts, tb, mismatches, batch_arrays):
    return dict(pairs=pairs, scalar_s=round(ts, 3), batch_s=round(tb, 3),
                speedup=round(ts / tb, 1), mismatches=int(mismatches),
                digest=digest(batch_arrays))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cap = int(sys.argv[2]) if len(sys.argv) > 2 else 20000
    spark = get_spark(cores=8)

    from sis_spark.operators import spatial_join as SJ
    from sis_spark.functions import relate, overlay, sqlmm
    from sis_spark.functions import geometry as geo
    from sis_spark.sources import polygons_from_wkb

    out = {}

    # ---- polygon pairs: the candidates polygon_pair_join refines
    polys = Q._supplier_polygons_df(spark, sf_dir)
    parts = SJ.polygon_parts_df(polys, "key", "wkb").localCheckpoint()
    cand = SJ._pair_candidates(parts)
    A, B = collect_pairs(cand, "wkb_a", "wkb_b", cap)

    def pp_scalar():
        return [relate.relate_polygons_wkb(a, b) for a, b in zip(A, B)]

    def pp_batch():
        return relate.relate_polygons_pred_batch(A, B)

    (ts, sr), (tb, br) = timeit(pp_scalar), timeit(pp_batch)
    keys = sorted(br)
    bad = sum(any(s[k] != br[k][i] for k in keys) for i, s in enumerate(sr))
    out["polygon_pairs"] = entry(len(A), ts, tb, bad, [br[k] for k in keys])

    # ---- line-polygon predicates + clip: the shared candidate set
    lines = Q._gate_lines_df(spark, sf_dir)
    lp_cand = SJ._line_poly_candidates(lines, polys, 3)
    L, P = collect_pairs(lp_cand, "wkb_a", "wkb_b", cap)

    def lp_scalar():
        return [relate.relate_line_polygon_wkb(l, p) for l, p in zip(L, P)]

    def lp_batch():
        return relate.line_polygon_relate_batch(L, P)

    (ts, sr), (tb, br) = timeit(lp_scalar), timeit(lp_batch)
    keys = ("intersects", "within", "crosses")  # the batch kernel's outputs
    bad = sum(any(s[k] != b[i] for k, b in zip(keys, br)) for i, s in enumerate(sr))
    out["line_predicates"] = entry(len(L), ts, tb, bad, br)

    def lc_scalar():
        qlens = []
        for l, p in zip(L, P):
            _typ, (lvx, lvy) = geo.wkb_parse(l)
            (poly,) = polygons_from_wkb([(0, p)])
            rings = [(poly["vx"], poly["vy"])] + list(poly.get("holes", []))
            qlens.append(overlay.clip_line_polygon(lvx, lvy, rings)[1])
        return qlens

    def lc_batch():
        return overlay.clip_qlen_batch(L, P)

    (ts, sr), (tb, br) = timeit(lc_scalar), timeit(lc_batch)
    out["line_clip"] = entry(len(L), ts, tb, np.sum(np.asarray(sr, np.int64) != br), [br])

    # ---- geometry distance join candidates (lines x polygons, radius 8)
    gl = lines.filter(F.col("key") % 3 == 0)
    gp = polys.filter(F.col("key") % 5 == 0)
    r = Q.GEOM_DIST_JOIN_RADIUS
    aparts = SJ.geometry_parts_df(gl).localCheckpoint()
    bparts = SJ.geometry_parts_df(gp).localCheckpoint()
    gcand = SJ._pair_candidates(aparts, bparts, SJ._radius_res(bparts, r), pad=r + 1e-6)
    GA, GB = collect_pairs(gcand, "wkb_a", "wkb_b", cap)

    def gd_scalar():
        return [sqlmm.geom_distance(geo.wkb_parse(a), geo.wkb_parse(b)) for a, b in zip(GA, GB)]

    def gd_batch():
        return sqlmm.geom_distance_batch(GA, GB)

    (ts, sr), (tb, br) = timeit(gd_scalar), timeit(gd_batch)
    # bitwise: the batch kernel promises the scalar's exact doubles
    bad = np.sum(np.asarray(sr, np.float64).view(np.int64) != br.view(np.int64))
    out["geom_distance"] = entry(len(GA), ts, tb, bad, [br])

    print(json.dumps(out))


if __name__ == "__main__":
    main()
