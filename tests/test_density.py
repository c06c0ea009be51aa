"""Grid-density clustering (operators/density.py) and weighted sampling
(sampling.weighted_topk): replicas, merge behavior, weight monotonicity."""

import numpy as np
from pyspark.sql import functions as F

from sis_spark.operators.density import grid_cluster, within_distance_join
from sis_spark.operators.sampling import weighted_topk


def test_two_blobs_and_noise(spark):
    rng = np.random.default_rng(4)
    rows = []
    i = 0
    # blob A near (10, 10), blob B near (-60, -30), sparse noise everywhere
    for cx, cy, n in ((10.0, 10.0, 200), (-60.0, -30.0, 150)):
        for _ in range(n):
            rows.append((i, cx + float(rng.normal(0, 0.2)),
                         cy + float(rng.normal(0, 0.2))))
            i += 1
    for _ in range(100):
        rows.append((i, float(rng.uniform(-179, 179)),
                     float(rng.uniform(-85, 85))))
        i += 1
    df = spark.createDataFrame(rows, "event_id long, lon double, lat double")
    out = grid_cluster(df, grid_n=1024, min_pts=4).collect()
    lab = {r["event_id"]: r["cluster"] for r in out}
    a = {lab[j] for j in range(200) if j in lab}
    b = {lab[j] for j in range(200, 350) if j in lab}
    assert len(a) == 1 and len(b) == 1 and a != b   # blobs merge internally
    assert len(lab) >= 300                           # blobs mostly core
    noise = [j for j in range(350, 450) if j in lab]
    assert len(noise) < 10                           # sparse points are noise


def test_adjacent_cells_merge_diagonally(spark):
    # two dense pockets in diagonally-adjacent cells -> ONE cluster
    n = 1024
    cell_w, cell_h = 360.0 / n, 180.0 / n
    # centers of cell (512, 512) and (513, 513)
    def center(ix, iy):
        return (ix + 0.5) * cell_w - 180.0, (iy + 0.5) * cell_h - 90.0
    rows = []
    i = 0
    for ix, iy in ((512, 512), (513, 513)):
        lon, lat = center(ix, iy)
        for _ in range(5):
            rows.append((i, lon, lat))
            i += 1
    df = spark.createDataFrame(rows, "event_id long, lon double, lat double")
    out = grid_cluster(df, grid_n=n, min_pts=3).collect()
    assert len({r["cluster"] for r in out}) == 1 and len(out) == 10


def test_within_distance_join_matches_brute(spark):
    # radius 10 over coordinates on and beside the cell borders (multiples
    # of 10), negative ones, exact-radius pairs (6, 8) ~ (0, 0), coincident
    # points on both sides, and an equality key; radius 0 keeps exactly
    # the coincident pairs
    coords = [-30, -21, -20, -11, -10, -9, -1, 0, 1, 6, 8, 9, 10, 11, 20, 29]
    rng = np.random.default_rng(8)

    def side(n, fixed):
        pts = fixed + [(int(rng.choice(coords)), int(rng.choice(coords)))
                       for _ in range(n)]
        return [(i % 2, i, x, y) for i, (x, y) in enumerate(pts)]

    fixed = [(0, 0), (0, 0), (6, 8), (-10, 0), (-20, -20), (-30, -10)]
    a_rows, b_rows = side(60, fixed), side(60, fixed[::-1])
    a = spark.createDataFrame(a_rows, "k long, a_id long, x long, y long")
    b = spark.createDataFrame(b_rows, "k long, b_id long, x long, y long")

    def brute(r, keyed):
        return sorted(
            (p[1], q[1], (p[2] - q[2]) ** 2 + (p[3] - q[3]) ** 2)
            for p in a_rows for q in b_rows
            if (p[2] - q[2]) ** 2 + (p[3] - q[3]) ** 2 <= r * r
            and (not keyed or p[0] == q[0])
        )

    for r in (10, 0):
        for keyed in (True, False):
            if keyed:
                out = within_distance_join(a, b, r, keys=("k",))
                cols = ["a_id", "b_id", "d2", "k"]
            else:
                out = within_distance_join(a.drop("k"), b.drop("k"), r)
                cols = ["a_id", "b_id", "d2"]
            assert sorted(out.columns) == cols
            got = sorted((t["a_id"], t["b_id"], t["d2"]) for t in out.collect())
            want = brute(r, keyed)
            assert got == want
            d2s = {t[2] for t in want}
            assert 0 in d2s and r * r in d2s  # coincident and exactly-r pairs
    for x, y in ((a, b.limit(0)), (a.limit(0), b)):
        assert within_distance_join(x, y, 10, keys=("k",)).count() == 0


def test_weighted_topk_monotone_and_stable(spark):
    df = spark.range(2000).select(
        F.col("id"), (F.col("id") % 100 + 1).alias("w")
    )
    heavy = weighted_topk(df, 200, "w", "id")
    rows = heavy.collect()
    assert len(rows) == 200
    # selection favors heavy rows: mean weight of the sample >> corpus mean
    assert np.mean([r["w"] for r in rows]) > 65  # corpus mean ~50.5
    # deterministic under repartitioning
    again = weighted_topk(df.repartition(13), 200, "w", "id").collect()
    assert sorted(r["id"] for r in rows) == sorted(r["id"] for r in again)


def test_weighted_topk_plan_is_take_ordered(spark):
    df = spark.range(1000).select(F.col("id"), (F.col("id") % 7 + 1).alias("w"))
    plan = weighted_topk(df, 10, "w", "id")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_kde_grid_matches_brute(spark):
    import numpy as np

    from sis_spark.operators.density import kde_grid

    rng = np.random.RandomState(9)
    pts = [(float(lo), float(la)) for lo, la in
           zip(rng.uniform(-170, 170, 200), rng.uniform(-80, 80, 200))]
    df = spark.createDataFrame(pts, "lon double, lat double").repartition(5)
    n, r = 64, 2
    got = {(row["ix"], row["iy"]): row["dens"]
           for row in kde_grid(df, grid_n=n, radius=r).collect()}
    # brute: counts then triangular smoothing
    cnt = {}
    for lo, la in pts:
        ix = min(max(int(np.floor((lo + 180.0) / 360.0 * n)), 0), n - 1)
        iy = min(max(int(np.floor((la + 90.0) / 180.0 * n)), 0), n - 1)
        cnt[(ix, iy)] = cnt.get((ix, iy), 0) + 1
    want = {}
    for (ix, iy), c in cnt.items():
        for dx in range(-r, r + 1):
            for dy in range(-r, r + 1):
                tx, ty = ix + dx, iy + dy
                if 0 <= tx < n and 0 <= ty < n:
                    w = r + 1 - max(abs(dx), abs(dy))
                    want[(tx, ty)] = want.get((tx, ty), 0) + c * w
    assert got == want


def test_hotspot_gi_hot_cell_positive(spark):
    import numpy as np

    from sis_spark.operators.density import hotspot_gi

    rng = np.random.RandomState(21)
    # dense blob near (0, 0) + sparse background
    pts = [(float(a), float(b)) for a, b in
           zip(rng.normal(0, 1.0, 400), rng.normal(0, 1.0, 400))]
    pts += [(float(a), float(b)) for a, b in
            zip(rng.uniform(-170, 170, 100), rng.uniform(-80, 80, 100))]
    df = spark.createDataFrame(pts, "lon double, lat double")
    rows = hotspot_gi(df, grid_n=64, radius=1).collect()
    by_cell = {(r["ix"], r["iy"]): r for r in rows}
    hot = max(rows, key=lambda r: r["cnt"])
    assert hot["z_q"] > 0  # the blob cell is a positive hot spot
    # background singleton cells: z below the hot cell's
    lone = [r for r in rows if r["cnt"] == 1 and r["w"] == 1]
    assert lone and all(r["z_q"] < hot["z_q"] for r in lone)
    # w counts occupied ring cells incl. self
    for r in rows:
        assert 1 <= r["w"] <= 9 and r["g"] >= r["cnt"]


def test_cell_change_log_ratio(spark):
    import math

    from sis_spark.operators.density import cell_change

    a = spark.createDataFrame([(0.0, 0.0)] * 7 + [(100.0, 50.0)],
                              "lon double, lat double")
    b = spark.createDataFrame([(0.0, 0.0)] * 3, "lon double, lat double")
    rows = {(r["ix"], r["iy"]): r for r in cell_change(a, b, grid_n=32).collect()}
    main = [r for r in rows.values() if r["na"] == 7][0]
    assert main["nb"] == 3
    assert abs(main["lr_q"] / 1e9 - math.log(8 / 4)) < 1e-6
    only_a = [r for r in rows.values() if r["na"] == 1][0]
    assert only_a["nb"] == 0 and abs(only_a["lr_q"] / 1e9 - math.log(2)) < 1e-6


def test_sd_ellipse_moments_reference(spark):
    import numpy as np

    from sis_spark.operators.density import sd_ellipse_moments

    rng = np.random.RandomState(12)
    xs = rng.randint(-100, 100, 50)
    ys = rng.randint(-100, 100, 50)
    rows = [(1, int(a), int(b)) for a, b in zip(xs, ys)]
    df = spark.createDataFrame(rows, "k long, qx long, qy long").repartition(5)
    (r,) = sd_ellipse_moments(df, "k").collect()
    assert (r["n"], r["sx"], r["sy"]) == (50, int(xs.sum()), int(ys.sum()))
    assert r["sxy"] == int((xs * ys).sum())
    # orientation: tan(2 theta) = 2*cov/(varx - vary) derivable exactly
    n = 50
    cov2 = n * r["sxy"] - r["sx"] * r["sy"]
    vx2 = n * r["sxx"] - r["sx"] ** 2
    vy2 = n * r["syy"] - r["sy"] ** 2
    assert vx2 > 0 and vy2 > 0 and isinstance(cov2, int)


def test_od_matrix_counts(spark):
    from sis_spark.operators.density import od_matrix

    # grid_n=4: cells are 90-degree lon bins; user 1 hops A->B->A
    rows = [(1, 0, -100.0, 0.0), (1, 1, 100.0, 0.0), (1, 2, -100.0, 0.0),
            (2, 0, 100.0, 0.0), (2, 1, 100.0, 0.0)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, lon double, lat double")
    got = {(r["oix"], r["dix"]): r["n_trips"]
           for r in od_matrix(df, grid_n=4).collect()}
    a = int((-100.0 + 180.0) / 360.0 * 4)  # 0
    b = int((100.0 + 180.0) / 360.0 * 4)   # 3
    assert got == {(a, b): 1, (b, a): 1, (b, b): 1}


def test_morans_i_checkerboard_negative(spark):
    # perfect checkerboard of counts 1/3 -> strong NEGATIVE autocorrelation
    n = 8
    rows = []
    i = 0
    cell_w, cell_h = 360.0 / n, 180.0 / n
    for ix in range(n):
        for iy in range(n):
            cnt = 1 if (ix + iy) % 2 == 0 else 3
            lon = -180.0 + (ix + 0.5) * cell_w
            lat = -90.0 + (iy + 0.5) * cell_h
            for _ in range(cnt):
                rows.append((i, lon, lat))
                i += 1
    from sis_spark.operators.density import morans_i
    df = spark.createDataFrame(rows, "event_id long, lon double, lat double")
    r = morans_i(df, grid_n=n).collect()[0]
    assert r["n"] == n * n and r["s"] == i
    # rook edges: 2*n*(n-1) per direction, directed both ways
    assert r["w_edges"] == 4 * n * (n - 1)
    moran = (r["n"] * r["num"]) / (r["w_edges"] * r["den"])
    assert moran == -1.0          # exact for a perfect checkerboard
    # clustered layout: all mass in one half -> positive I
    rows2 = [(j, -170.0 + (j % 4) * 2.0, -80.0 + (j // 4 % 4) * 2.0)
             for j in range(64)]
    rows2 += [(100 + j, 170.0, 80.0) for j in range(2)]
    df2 = spark.createDataFrame(rows2, "event_id long, lon double, lat double")
    r2 = morans_i(df2, grid_n=64).collect()[0]
    assert (r2["n"] * r2["num"]) / (r2["w_edges"] * r2["den"]) > 0


def test_ripley_pairs_matches_brute(spark):
    rng = np.random.default_rng(11)
    pts = [(i, float(rng.uniform(-2, 2)), float(rng.uniform(-2, 2)))
           for i in range(300)]
    from sis_spark.operators.density import ripley_pairs
    df = spark.createDataFrame(pts, "event_id long, lon double, lat double")
    radii = [20000, 60000]
    out = ripley_pairs(df, radii).collect()[0]
    q = [(i, int(np.floor(x * 1e5)), int(np.floor(y * 1e5)))
         for i, x, y in pts]
    for r in radii:
        brute = sum(
            1
            for a in range(len(q)) for b in range(a + 1, len(q))
            if (q[a][1] - q[b][1]) ** 2 + (q[a][2] - q[b][2]) ** 2 <= r * r
        )
        assert out[f"n_{r}"] == brute


def test_variogram_lags_hand(spark):
    from sis_spark.operators.density import variogram_lags

    # occupied cells: (0,0)x1, (1,0)x3, (3,0)x2  on a 64-grid row 0
    n = 64
    cw, ch = 360.0 / n, 180.0 / n
    rows = []
    i = 0
    for ix, cnt in ((0, 1), (1, 3), (3, 2)):
        for _ in range(cnt):
            rows.append((i, -180.0 + (ix + 0.5) * cw, -90.0 + 0.5 * ch))
            i += 1
    df = spark.createDataFrame(rows, "event_id long, lon double, lat double")
    out = {(r["dir"], r["lag"]): (r["n_pairs"], r["sq_sum"])
           for r in variogram_lags(df, n, [1, 2]).collect()}
    # lag 1 E: pairs (0->1): (1-3)^2 = 4 ; (2->3) missing; (3->4) missing
    assert out[("E", 1)] == (1, 4)
    # lag 2 E: (1->3): (3-2)^2 = 1
    assert out[("E", 2)] == (1, 1)
    # N direction: single row -> no pairs
    assert out[("N", 1)] == (0, 0) and out[("N", 2)] == (0, 0)


def test_cross_pairs_matches_brute(spark):
    rng = np.random.default_rng(19)
    A = [(float(rng.uniform(-1, 1)), float(rng.uniform(-1, 1)))
         for _ in range(120)]
    B = [(float(rng.uniform(-1, 1)), float(rng.uniform(-1, 1)))
         for _ in range(80)]
    from sis_spark.operators.density import cross_pairs
    da = spark.createDataFrame(A, "lon double, lat double")
    db = spark.createDataFrame(B, "lon double, lat double")
    radii = [30000, 90000]
    out = cross_pairs(da, db, radii).collect()[0]
    qa = [(int(np.floor(x * 1e5)), int(np.floor(y * 1e5))) for x, y in A]
    qb = [(int(np.floor(x * 1e5)), int(np.floor(y * 1e5))) for x, y in B]
    for r in radii:
        brute = sum(
            1 for ax, ay in qa for bx, by in qb
            if (ax - bx) ** 2 + (ay - by) ** 2 <= r * r
        )
        assert out[f"n_{r}"] == brute


def test_spatial_entropy_uniform_vs_point(spark):
    from sis_spark.operators.density import spatial_entropy

    # all mass in one cell: sum_c2 == n^2, entropy numerator = n*floor(log2 n)
    rows = [(i, 0.1, 0.1) for i in range(16)]
    df = spark.createDataFrame(rows, "event_id long, lon double, lat double")
    r = {x["res"]: x for x in spatial_entropy(df, [16]).collect()}[16]
    assert r["n_cells"] == 1 and r["n_pts"] == 16
    assert r["sum_c2"] == 256 and r["sum_clog2c"] == 16 * 4
    # spread over 4 separate cells of 4 each
    rows2 = []
    i = 0
    for cx in (10.0, 50.0, 90.0, 130.0):
        for _ in range(4):
            rows2.append((i, cx, 0.0))
            i += 1
    df2 = spark.createDataFrame(rows2, "event_id long, lon double, lat double")
    r2 = {x["res"]: x for x in spatial_entropy(df2, [64]).collect()}[64]
    assert r2["n_cells"] == 4 and r2["sum_c2"] == 4 * 16
    assert r2["sum_clog2c"] == 16 * 2  # each c=4, floor(log2 4)=2


def test_lisa_checkerboard_quadrants(spark):
    from sis_spark.operators.density import lisa_moments

    n = 8
    rows = []
    i = 0
    cw, ch = 360.0 / n, 180.0 / n
    for ix in range(n):
        for iy in range(n):
            cnt = 1 if (ix + iy) % 2 == 0 else 3
            for _ in range(cnt):
                rows.append((i, -180.0 + (ix + 0.5) * cw,
                             -90.0 + (iy + 0.5) * ch))
                i += 1
    df = spark.createDataFrame(rows, "event_id long, lon double, lat double")
    out = lisa_moments(df, grid_n=n).collect()
    # perfect checkerboard: every cell is a spatial OUTLIER
    # (dev and neighbor-dev sums have opposite signs)
    for r in out:
        assert r["dev"] != 0 and r["nbr_dev_sum"] != 0
        assert (r["dev"] > 0) != (r["nbr_dev_sum"] > 0)


def test_geary_c_checkerboard_and_flat(spark):
    # perfect checkerboard of counts 1/3: every rook edge differs by 2
    n = 8
    rows = []
    i = 0
    cell_w, cell_h = 360.0 / n, 180.0 / n
    for ix in range(n):
        for iy in range(n):
            cnt = 1 if (ix + iy) % 2 == 0 else 3
            lon = -180.0 + (ix + 0.5) * cell_w
            lat = -90.0 + (iy + 0.5) * cell_h
            for _ in range(cnt):
                rows.append((i, lon, lat))
                i += 1
    from sis_spark.operators.density import geary_c
    df = spark.createDataFrame(rows, "event_id long, lon double, lat double")
    r = geary_c(df, grid_n=n).collect()[0]
    assert r["n"] == n * n and r["s"] == i
    assert r["w_edges"] == 4 * n * (n - 1)
    assert r["num"] == r["w_edges"] * 4          # (1-3)^2 on every edge
    # C = (n_cells-1) * N^2 * num / (2 * W * den); den carries the N^2
    c = (r["n"] - 1) * r["n"] ** 2 * r["num"] / (2 * r["w_edges"] * r["den"])
    assert c > 1.0                                # dispersed -> C > 1
    # perfectly flat surface: num == 0 -> maximal positive autocorrelation
    rows2 = []
    i = 0
    for ix in range(n):
        for iy in range(n):
            rows2.append((i, -180.0 + (ix + 0.5) * cell_w,
                          -90.0 + (iy + 0.5) * cell_h))
            i += 1
    df2 = spark.createDataFrame(rows2, "event_id long, lon double, lat double")
    r2 = geary_c(df2, grid_n=n).collect()[0]
    assert r2["num"] == 0 and r2["den"] == 0      # zero variance too


def test_emerging_hotspot_trends(spark):
    from sis_spark.operators.density import emerging_hotspot

    n = 8
    cell_w, cell_h = 360.0 / n, 180.0 / n
    rows = []
    # cell (0,0): rising counts 0,1,2,3 over 4 epochs -> S = C(4,2) = 6
    i = 0
    for e in range(4):
        for _ in range(e):
            rows.append((i, -180.0 + 0.5 * cell_w, -90.0 + 0.5 * cell_h, e))
            i += 1
    # cell (2,2): constant 2 per epoch -> S = 0 (all ties)
    for e in range(4):
        for _ in range(2):
            rows.append((i, -180.0 + 2.5 * cell_w, -90.0 + 2.5 * cell_h, e))
            i += 1
    # cell (4,4): present only in epoch 0 -> falling (0 after) S = -3
    rows.append((i, -180.0 + 4.5 * cell_w, -90.0 + 4.5 * cell_h, 0))
    df = spark.createDataFrame(
        rows, "event_id long, lon double, lat double, epoch long")
    got = {(r["ix"], r["iy"]): (r["s"], r["n_pos"], r["n_neg"])
           for r in emerging_hotspot(df, n, "epoch", 4).collect()}
    assert got[(0, 0)] == (6, 6, 0)
    assert got[(2, 2)] == (0, 0, 0)
    assert got[(4, 4)] == (-3, 0, 3)


def test_knox_counts_brute(spark):
    import numpy as np
    from sis_spark.operators.density import knox_counts

    rng = np.random.RandomState(13)
    m = 300
    lon = rng.uniform(-10, 10, m)
    lat = rng.uniform(-10, 10, m)
    t = rng.randint(0, 1000, m)
    rows = [(int(i), int(t[i]), float(lon[i]), float(lat[i]))
            for i in range(m)]
    df = spark.createDataFrame(rows, "id long, t long, lon double, lat double")
    r_q, tau = 30000, 40
    (got,) = knox_counts(df, r_quant=r_q, tau=tau).collect()
    qx = np.floor(lon * 100000).astype(np.int64)
    qy = np.floor(lat * 100000).astype(np.int64)
    ns = nt = nb = 0
    for i in range(m):
        for j in range(i + 1, m):
            cs = (int(qx[i] - qx[j]) ** 2 + int(qy[i] - qy[j]) ** 2
                  <= r_q * r_q)
            ct = abs(int(t[i]) - int(t[j])) <= tau
            ns += cs
            nt += ct
            nb += cs and ct
    assert (got["n"], got["n_space"], got["n_time"], got["n_both"]) == \
        (m, ns, nt, nb)


def test_dbscan_differential(spark):
    """Engine DBSCAN == a brute-force reference implementation on random
    points, including the deterministic min-label border rule; neither
    ``dbscan`` nor ``all_nearest_neighbors`` leaves a cached frame behind
    in the session."""
    import numpy as np

    from sis_spark.operators.density import all_nearest_neighbors, dbscan

    rng = np.random.default_rng(11)
    n, eps, min_pts = 200, 40, 4
    x = rng.integers(0, 400, n)
    y = rng.integers(0, 400, n)
    df = spark.createDataFrame(
        [(i, int(x[i]), int(y[i])) for i in range(n)],
        "id long, qx long, qy long",
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    cached = cache.numCachedEntries()
    got = {r["id"]: (r["role"], r["cluster"]) for r in
           dbscan(df, eps=eps, min_pts=min_pts).collect()}
    assert len(got) == n
    assert all_nearest_neighbors(df, cell=eps).count() == n
    assert cache.numCachedEntries() == cached

    # brute reference
    d2 = (x[:, None] - x[None, :]) ** 2 + (y[:, None] - y[None, :]) ** 2
    nbr = d2 <= eps * eps
    core = nbr.sum(axis=1) >= min_pts
    # components over core-core adjacency (min reachable core id)
    lab = {i: i for i in range(n) if core[i]}
    changed = True
    while changed:
        changed = False
        for i in lab:
            for j in lab:
                if nbr[i, j] and lab[j] < lab[i]:
                    lab[i] = lab[j]
                    changed = True
    exp = {}
    for i in range(n):
        if core[i]:
            exp[i] = ("core", lab[i])
        else:
            cn = [lab[j] for j in lab if nbr[i, j]]
            exp[i] = ("border", min(cn)) if cn else ("noise", None)
    assert got == exp
    assert any(v[0] == "core" for v in exp.values())
    assert any(v[0] == "noise" for v in exp.values())


def test_ipf_balance_matches_brute(spark):
    import math

    from sis_spark.operators.density import ipf_balance

    rng = __import__("numpy").random.default_rng(8)
    seed = [(o, d, int(rng.integers(0, 50)) * 1000)
            for o in range(5) for d in range(4)]
    rt = [(o, (o + 2) * 40000) for o in range(5)]
    ct = [(d, (d + 3) * 50000) for d in range(4)]
    sdf = spark.createDataFrame(seed, "o long, d long, t long")
    rdf = spark.createDataFrame(rt, "o long, target long")
    cdf = spark.createDataFrame(ct, "d long, target long")
    got = {(r["o"], r["d"]): r["t"]
           for r in ipf_balance(sdf, rdf, cdf, rounds=3).collect()}

    t = {(o, d): v for o, d, v in seed}
    rtd, ctd = dict(rt), dict(ct)
    for _ in range(3):
        for axis in (0, 1):
            tgt = rtd if axis == 0 else ctd
            sums = {}
            for k, v in t.items():
                sums[k[axis]] = sums.get(k[axis], 0) + v
            t = {
                k: (0 if sums[k[axis]] == 0 else int(math.floor(
                    float(v) * float(tgt[k[axis]]) / float(sums[k[axis]])
                    + 0.12345678987)))
                for k, v in t.items()
            }
    assert got == t
    # after balancing, row sums should be close to their targets
    rs = {}
    for (o, _), v in got.items():
        rs[o] = rs.get(o, 0) + v
    for o, s in rs.items():
        assert abs(s - rtd[o]) / rtd[o] < 0.2


def test_ipf_balance_zero_row_stays_zero(spark):
    from sis_spark.operators.density import ipf_balance

    sdf = spark.createDataFrame(
        [(0, 0, 0), (0, 1, 0), (1, 0, 100), (1, 1, 300)],
        "o long, d long, t long",
    )
    rdf = spark.createDataFrame([(0, 500), (1, 500)], "o long, target long")
    cdf = spark.createDataFrame([(0, 400), (1, 600)], "d long, target long")
    got = {(r["o"], r["d"]): r["t"]
           for r in ipf_balance(sdf, rdf, cdf, rounds=2).collect()}
    assert got[(0, 0)] == 0 and got[(0, 1)] == 0
    assert got[(1, 0)] > 0 and got[(1, 1)] > 0
