

def test_knn_classify_majority(spark):
    from sis_spark.operators.knn import knn_classify

    # 5 candidates around the query; 3 share label 'b'
    cand = spark.createDataFrame(
        [(1, 0.001, 0.0, "a"), (2, 0.002, 0.0, "b"), (3, 0.0, 0.001, "b"),
         (4, 0.0, 0.002, "b"), (5, 0.003, 0.0, "a"), (6, 50.0, 50.0, "z")],
        "cand_id long, lon double, lat double, label string",
    )
    q = spark.createDataFrame([(9, 0.0, 0.0)], "query_id long, qlon double, qlat double")
    (r,) = knn_classify(cand, q, 5).collect()
    assert (r["query_id"], r["label"], r["votes"]) == (9, "b", 3)


def test_seed_histogram_bounded_at_fine_res(spark):
    """VERDICT r3 item 3: at res 14 over globally-broad data the seeding
    histogram collect happens at SEED_RES_CAP (driver rows bounded at
    4^8 = 65k) and per-query seeding is O(log nh) rectangle sums, not a
    full-histogram argsort — results must still equal the exact brute
    plan because certification is untouched."""
    import numpy as np
    import pandas as pd
    from sis_spark.operators.knn import (SEED_RES_CAP, _cheb_count,
                                         _seed_sat, knn_join, knn_join_cells)

    assert SEED_RES_CAP == 8
    rng = np.random.default_rng(5)
    cand = pd.DataFrame({
        "cand_id": np.arange(4000, dtype=np.int64),
        "lon": rng.uniform(-179.9, 179.9, 4000),
        "lat": rng.uniform(-85.0, 85.0, 4000),
    })
    q = pd.DataFrame({
        "query_id": np.arange(40, dtype=np.int64),
        "qlon": rng.uniform(-179.9, 179.9, 40),
        "qlat": rng.uniform(-85.0, 85.0, 40),
    })
    cdf, qdf = spark.createDataFrame(cand), spark.createDataFrame(q)
    got = {(r["query_id"], r["rank"]): r["cand_id"]
           for r in knn_join_cells(cdf, qdf, 3, res=14).collect()}
    want = {(r["query_id"], r["rank"]): r["cand_id"]
            for r in knn_join(cdf, qdf, 3).select("query_id", "rank", "cand_id").collect()}
    assert got == want


def test_cheb_count_matches_naive():
    """The SAT rectangle-sum window (lat clamp, lon wrap) equals the naive
    per-cell Chebyshev count on a random grid."""
    import numpy as np
    from sis_spark.operators.knn import _cheb_count, _seed_sat

    rng = np.random.default_rng(9)
    nh = 16
    ix = rng.integers(0, nh, 60)
    iy = rng.integers(0, nh, 60)
    # accumulate duplicates like the histogram would
    grid = np.zeros((nh, nh), np.int64)
    np.add.at(grid, (iy, ix), 1)
    yy, xx = np.nonzero(grid)
    sat = _seed_sat(xx, yy, grid[yy, xx], nh)
    qx = rng.integers(0, nh, 25)
    qy = rng.integers(0, nh, 25)
    for r in (0, 1, 2, 5, 9, 20):
        rr = np.full(len(qx), r, np.int64)
        got = _cheb_count(sat, qx, qy, rr, nh)
        for i in range(len(qx)):
            dx = np.abs(np.arange(nh)[None, :] - qx[i])
            dx = np.minimum(dx, nh - dx)
            dy = np.abs(np.arange(nh)[:, None] - qy[i])
            cheb = np.maximum(dx, dy)
            naive = int(grid[(cheb <= r) & (np.abs(np.arange(nh)[:, None] - qy[i]) <= r)].sum())
            assert got[i] == naive, (i, r, got[i], naive)


def _knn_sets(spark, cand, q, k, res):
    from sis_spark.operators.knn import knn_join, knn_join_cells

    cdf = spark.createDataFrame(cand, "cand_id long, lon double, lat double")
    qdf = spark.createDataFrame(q, "query_id long, qlon double, qlat double")
    brute = {tuple(r) for r in knn_join(cdf, qdf, k).select("query_id", "rank", "cand_id").collect()}
    cache = spark._jsparkSession.sharedState().cacheManager()
    cached = cache.numCachedEntries()
    cells = {tuple(r) for r in knn_join_cells(cdf, qdf, k, res=res).collect()}
    assert cache.numCachedEntries() == cached  # the call leaves no cache entry
    return brute, cells


def test_knn_degenerate_inputs_one_rule(spark):
    """Both plans keep only rows with a finite lon and a lat in [-90, 90]
    and return the same rows; lon 190 is lon -170 for the cell id too, so
    the query at -170 finds the candidate stored at 190."""
    nan, inf = float("nan"), float("inf")
    near = [(10 + i, -170.0 + 0.01 * (i + 1), 0.02 * i) for i in range(6)]
    bad = [(90, None, 0.0), (91, 0.0, None), (92, nan, 0.0), (93, 0.0, nan),
           (94, inf, 0.0), (95, -inf, 0.0), (96, 0.0, 90.5), (97, 0.0, -inf)]
    good = [(1, 190.0, 0.001), (2, -190.0, 0.0), (3, 0.0, 90.0), (4, 0.0, -90.0),
            (5, 0.0, 0.0), (6, 10.0, 89.0)]
    cand = near + bad + good
    q = [(1, -170.0, 0.0), (2, 170.0, 0.0), (3, 45.0, 90.0), (4, 0.0, -90.0),
         (5, 0.0, 0.0), (8, None, 0.0), (9, nan, 0.0), (10, 0.0, 95.0)]
    for res in (3, 7, 14):
        brute, cells = _knn_sets(spark, cand, q, 3, res)
        assert brute == cells, res
        assert {r[0] for r in brute} == {1, 2, 3, 4, 5}
        assert not {r[2] for r in brute} & {c[0] for c in bad}
        assert (1, 1, 1) in brute and (2, 1, 2) in brute
        assert len(brute) == 15
    assert _knn_sets(spark, bad, q, 3, 7) == (set(), set())


def test_knn_cells_fuzz_equals_brute(spark):
    """Seeded fuzz of the one-round certificate: antimeridian clusters,
    polar caps, a sparse globe and k above the local density, at res 3, 7
    and 14 — knn_join_cells returns exactly knn_join's (query_id, rank,
    cand_id) rows."""
    import numpy as np

    rng = np.random.default_rng(2024)
    lon, lat = [], []

    def add(lo, la):
        lon.extend(lo)
        lat.extend(la)

    for c in (179.9, -179.9, 180.0):  # clusters straddling the antimeridian
        add((c + rng.normal(0, 0.3, 60) + 180.0) % 360.0 - 180.0, rng.normal(10.0, 0.3, 60))
    for pole in (89.9, -89.9):        # polar caps
        add(rng.uniform(-180, 180, 60), np.clip(pole + rng.normal(0, 0.08, 60), -90, 90))
    add(rng.uniform(-180, 180, 30), rng.uniform(-80, 80, 30))  # sparse globe
    for cx, cy in ((30.0, 40.0), (-60.0, -20.0)):              # 4-point clumps
        add(cx + rng.normal(0, 0.01, 4), cy + rng.normal(0, 0.01, 4))
    cand = [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lon, lat))]
    qs = ([(-179.95, 10.0), (179.95, 10.2), (180.0, 9.8), (0.0, 89.9), (120.0, 89.9),
           (-45.0, -89.9), (30.0, 40.0), (-60.0, -20.0)]
          + list(zip(rng.uniform(-180, 180, 8), rng.uniform(-85, 85, 8))))
    q = [(i, float(a), float(b)) for i, (a, b) in enumerate(qs)]
    for res in (3, 7, 14):
        for k in (3, 9):
            brute, cells = _knn_sets(spark, cand, q, k, res)
            assert brute == cells, (res, k, sorted(brute ^ cells)[:6])
            assert len(brute) == k * len(q)


def test_certified_ring_bounds_window():
    """Numpy-only: for a lon x lat grid of queries (poles at +-89.9
    included) and several coarse radii, D bounds the distance to every
    corner and to sampled points of the window, the chosen ring R is the
    smallest with _ring_bound_m_np(R) > D, and every sampled point
    outside ring R is farther than D."""
    import numpy as np
    from sis_spark.functions.cells import lonlat_to_ixiy
    from sis_spark.functions.geometry import haversine_m
    from sis_spark.operators.knn import (RING_CAP, _certified_ring,
                                         _ring_bound_m_np, _window_far_m)

    rng = np.random.default_rng(17)
    glon, glat = np.meshgrid(np.linspace(-179.9, 179.9, 13),
                             np.array([-89.9, -60.0, -5.0, 0.0, 33.0, 75.0, 89.9]))
    qlon, qlat = glon.ravel(), glat.ravel()
    pts_lon = rng.uniform(-180, 180, 4000)
    pts_lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 4000)))
    for hres, radii in ((3, (0, 1, 2)), (7, (0, 1, 3, 9)), (8, (0, 2, 40))):
        nh = 1 << hres
        qx, qy = (a.astype(np.int64) for a in lonlat_to_ixiy(qlon, qlat, hres))
        for radius in radii:
            far = _window_far_m(qlon, qlat, np.full(len(qlon), radius), hres)
            west = (qx - radius) * (360.0 / nh) - 180.0
            east = (qx + radius + 1) * (360.0 / nh) - 180.0
            south = np.maximum(qy - radius, 0) * (180.0 / nh) - 90.0
            north = (np.minimum(qy + radius, nh - 1) + 1) * (180.0 / nh) - 90.0
            for x in (west, east):
                for y in (south, north):
                    assert (far >= haversine_m(qlon, qlat, x, y)).all()
            u = rng.uniform(0, 1, (2, 64, 1))
            inside = haversine_m(qlon, qlat, west + u[0] * (east - west), south + u[1] * (north - south))
            assert (far >= inside).all()
            for res in (hres, 7, 14):
                ring = _certified_ring(qlon, qlat, res, far)
                live = ring <= RING_CAP
                assert (_ring_bound_m_np(qlon[live], qlat[live], res, ring[live]) > far[live]).all()
                for r in range(int(ring[live].max(initial=0))):
                    below = live & (ring > r)
                    assert (_ring_bound_m_np(qlon[below], qlat[below], res, np.full(below.sum(), r))
                            <= far[below]).all()
                n = 1 << res
                px, py = (a.astype(np.int64) for a in lonlat_to_ixiy(pts_lon, pts_lat, res))
                cx, cy = (a.astype(np.int64) for a in lonlat_to_ixiy(qlon[live], qlat[live], res))
                dx = np.abs(px[None, :] - cx[:, None])
                cheb = np.maximum(np.minimum(dx, n - dx), np.abs(py[None, :] - cy[:, None]))
                d = haversine_m(qlon[live][:, None], qlat[live][:, None], pts_lon[None, :], pts_lat[None, :])
                outside = cheb > ring[live][:, None]
                assert (d[outside] > np.broadcast_to(far[live][:, None], d.shape)[outside]).all()
