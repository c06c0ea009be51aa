"""Terrain derivatives: distributed gradient == numpy.gradient, hillshade."""

import math

import numpy as np

from sis_spark.raster.grid import GridGeometry
from sis_spark.raster.terrain import gradient_dense, gradient_tiles, hillshade_tiles
from sis_spark.raster.tiles import TILE_SCHEMA

TS = 16


def _tiles_from(spark, arr, ts=TS):
    h, w = arr.shape
    ntx, nty = (w + ts - 1) // ts, (h + ts - 1) // ts
    rows = []
    for ty in range(nty):
        for tx in range(ntx):
            block = np.zeros((ts, ts), arr.dtype)
            sub = arr[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts]
            block[: sub.shape[0], : sub.shape[1]] = sub
            rows.append((tx, ty, 0, block.tobytes()))
    gg = GridGeometry((0, 0, w - 1, h - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(h)))
    return spark.createDataFrame(rows, TILE_SCHEMA), gg


def _assemble(rows, shape, col, dt=np.float64, ts=TS):
    out = np.full(shape, np.nan) if dt == np.float64 else np.zeros(shape, dt)
    for r in rows:
        a = np.frombuffer(bytes(r[col]), dt).reshape(ts, ts)
        y0, x0 = r["ty"] * ts, r["tx"] * ts
        vh = min(ts, shape[0] - y0)
        vw = min(ts, shape[1] - x0)
        out[y0:y0 + vh, x0:x0 + vw] = a[:vh, :vw]
    return out


def test_gradient_matches_numpy_with_padding(spark):
    rng = np.random.RandomState(11)
    arr = rng.randint(0, 256, size=(70, 100)).astype(np.uint8)  # not tile multiples
    tiles, gg = _tiles_from(spark, arr)
    rows = gradient_tiles(tiles, gg, tile_size=TS).collect()
    got_dx = _assemble(rows, arr.shape, "dzdx")
    got_dy = _assemble(rows, arr.shape, "dzdy")
    exp_dx, exp_dy = gradient_dense(arr)
    assert np.array_equal(got_dx, exp_dx)
    assert np.array_equal(got_dy, exp_dy)


def test_hillshade_matches_dense(spark):
    rng = np.random.RandomState(3)
    arr = rng.randint(0, 256, size=(32, 48)).astype(np.uint8)
    tiles, gg = _tiles_from(spark, arr)
    rows = hillshade_tiles(tiles, gg, tile_size=TS).collect()
    got = np.full(arr.shape, -1.0)
    for r in rows:
        a = np.frombuffer(bytes(r["data"]), np.uint8).reshape(TS, TS)
        y0, x0 = r["ty"] * TS, r["tx"] * TS
        vh = min(TS, arr.shape[0] - y0)
        vw = min(TS, arr.shape[1] - x0)
        got[y0:y0 + vh, x0:x0 + vw] = a[:vh, :vw]
    dzdx, dzdy = gradient_dense(arr)
    zen = math.radians(45.0)
    az = math.radians(360.0 - 315.0 + 90.0)
    slope = np.arctan(np.hypot(dzdx, dzdy))
    aspect = np.arctan2(dzdy, -dzdx)
    shade = 255.0 * (np.cos(zen) * np.cos(slope)
                     + np.sin(zen) * np.sin(slope) * np.cos(az - aspect))
    exp = np.clip(np.rint(shade), 0, 255)
    assert np.array_equal(got, exp)


# ---------------------------------------------------------------- D8 hydrology


def _d8_dense(arr):
    """Independent dense D8 reference (same convention: unweighted max
    drop, ESRI codes, first-wins in E,SE,S,SW,W,NW,N,NE order)."""
    from sis_spark.raster.terrain import _D8

    h, w = arr.shape
    dirs = np.zeros((h, w), np.uint8)
    for y in range(h):
        for x in range(w):
            best, code = 0, 0
            for dx, dy, c in _D8:
                nx, ny = x + dx, y + dy
                if 0 <= nx < w and 0 <= ny < h:
                    d = int(arr[y, x]) - int(arr[ny, nx])
                    if d > best:
                        best, code = d, c
            dirs[y, x] = code
    return dirs


def _accum_dense(dirs):
    from sis_spark.raster.terrain import _D8

    step = {c: (dx, dy) for dx, dy, c in _D8}
    h, w = dirs.shape
    acc = np.zeros((h, w), np.int64)
    for y in range(h):
        for x in range(w):
            cx, cy = x, y
            acc[cy, cx] += 1
            while dirs[cy, cx] != 0:
                dx, dy = step[dirs[cy, cx]]
                cx, cy = cx + dx, cy + dy
                acc[cy, cx] += 1
    return acc


def test_flow_dir_matches_dense(spark):
    from sis_spark.raster.terrain import flow_dir_tiles

    rng = np.random.RandomState(7)
    arr = rng.randint(0, 200, size=(40, 56)).astype(np.uint8)  # non-multiple of TS
    tiles, gg = _tiles_from(spark, arr)
    rows = flow_dir_tiles(tiles, gg, tile_size=TS).collect()
    want = _d8_dense(arr)
    got = np.full(arr.shape, 255, np.uint8)
    for r in rows:
        d = np.frombuffer(bytes(r["dirs"]), np.uint8).reshape(TS, TS)
        y0, x0 = r["ty"] * TS, r["tx"] * TS
        vh, vw = min(TS, 40 - y0), min(TS, 56 - x0)
        got[y0:y0 + vh, x0:x0 + vw] = d[:vh, :vw]
    assert np.array_equal(got, want)


def test_flow_accum_matches_dense_walk(spark):
    from sis_spark.raster.terrain import flow_accum, flow_cells, flow_dir_tiles

    # a bowl with noise: everything drains toward the center
    ys, xs = np.mgrid[0:32, 0:32]
    arr = (np.abs(xs - 16) + np.abs(ys - 16)) * 5 + ((xs * 7 + ys * 13) % 4)
    arr = arr.astype(np.uint8)
    tiles, gg = _tiles_from(spark, arr)
    cells = flow_cells(flow_dir_tiles(tiles, gg, tile_size=TS), gg, TS)
    acc = {(r["x"], r["y"]): r["acc"] for r in flow_accum(cells).collect()}
    want = _accum_dense(_d8_dense(arr))
    assert len(acc) == 32 * 32
    for (x, y), a in acc.items():
        assert a == want[y, x], (x, y, a, want[y, x])
    # conservation: total acc == total path length == sum over cells of
    # (1 + downstream distance); spot-check the global sum instead
    assert sum(acc.values()) == int(want.sum())


def test_watershed_matches_dense_walk(spark):
    from sis_spark.raster.terrain import (
        _D8, flow_cells, flow_dir_tiles, watershed_basins,
    )

    rng = np.random.RandomState(3)
    arr = rng.randint(0, 250, size=(32, 48)).astype(np.uint8)
    tiles, gg = _tiles_from(spark, arr)
    cells = flow_cells(flow_dir_tiles(tiles, gg, tile_size=TS), gg, TS)
    got = {
        (r["x"], r["y"]): (r["sink_x"], r["sink_y"])
        for r in watershed_basins(cells).collect()
    }
    dirs = _d8_dense(arr)
    step = {c: (dx, dy) for dx, dy, c in _D8}
    assert len(got) == 32 * 48
    for (x, y), (sx, sy) in got.items():
        cx, cy = x, y
        while dirs[cy, cx] != 0:
            dx, dy = step[dirs[cy, cx]]
            cx, cy = cx + dx, cy + dy
        assert (sx, sy) == (cx, cy), (x, y)
        assert dirs[sy, sx] == 0  # every label is a pit


def test_chamfer_window_matches_closed_form():
    from sis_spark.raster.terrain import chamfer_dense

    rng = np.random.RandomState(19)
    seeds = rng.rand(40, 55) < 0.02
    seeds[7, 12] = True  # guarantee at least one
    d = chamfer_dense(seeds)
    ys, xs = np.nonzero(seeds)
    for y in range(0, 40, 7):
        for x in range(0, 55, 9):
            dx = np.abs(xs - x)
            dy = np.abs(ys - y)
            want = int((3 * np.maximum(dx, dy) + np.minimum(dx, dy)).min())
            assert d[y, x] == want


def test_chamfer_distributed_matches_dense(spark):
    from sis_spark.raster.terrain import chamfer_dense, chamfer_dt_tiles

    rng = np.random.RandomState(29)
    arr = rng.randint(0, 40, size=(40, 56)).astype(np.uint8)  # ~2.5% zeros
    assert (arr == 0).any()
    tiles, gg = _tiles_from(spark, arr)
    dt = chamfer_dt_tiles(tiles, gg, tile_size=TS)
    got = np.full(arr.shape, -1, np.int64)
    for r in dt.collect():
        a = np.frombuffer(bytes(r["data"]), np.int64).reshape(TS, TS)
        y0, x0 = r["ty"] * TS, r["tx"] * TS
        vh, vw = min(TS, 40 - y0), min(TS, 56 - x0)
        got[y0:y0 + vh, x0:x0 + vw] = a[:vh, :vw]
    assert np.array_equal(got, chamfer_dense(arr == 0))


def test_rank_filter_matches_dense(spark):
    from sis_spark.raster.terrain import rank_filter_tiles

    rng = np.random.RandomState(33)
    arr = rng.randint(0, 255, size=(40, 56)).astype(np.uint8)
    tiles, gg = _tiles_from(spark, arr)
    h, w = arr.shape
    for mode in ("max", "min", "median"):
        rows = rank_filter_tiles(tiles, gg, mode, tile_size=TS).collect()
        got = np.full(arr.shape, -1, np.int64)
        for r in rows:
            a = np.frombuffer(bytes(r["data"]), np.int64).reshape(TS, TS)
            y0, x0 = r["ty"] * TS, r["tx"] * TS
            vh, vw = min(TS, h - y0), min(TS, w - x0)
            got[y0:y0 + vh, x0:x0 + vw] = a[:vh, :vw]
        pad = 0 if mode in ("max", "median") else (1 << 62)
        big = np.full((h + 2, w + 2), pad, np.int64)
        big[1:-1, 1:-1] = arr.astype(np.int64)
        stack = np.stack([
            big[dy:dy + h, dx:dx + w] for dy in range(3) for dx in range(3)
        ])
        if mode == "max":
            want = stack.max(axis=0)
        elif mode == "min":
            want = stack.min(axis=0)
        else:
            want = np.median(stack, axis=0).astype(np.int64)
        assert np.array_equal(got, want), mode


def test_voronoi_matches_dense_packed(spark):
    from sis_spark.raster.terrain import (
        _VOR_SCALE, _chamfer_window, chamfer_dense, voronoi_tiles,
    )

    rng = np.random.RandomState(51)
    arr = rng.randint(0, 30, size=(40, 56)).astype(np.uint8)
    assert (arr == 0).any()
    tiles, gg = _tiles_from(spark, arr)
    got = np.full(arr.shape, -1, np.int64)
    for r in voronoi_tiles(tiles, gg, tile_size=TS).collect():
        a = np.frombuffer(bytes(r["data"]), np.int64).reshape(TS, TS)
        y0, x0 = r["ty"] * TS, r["tx"] * TS
        vh, vw = min(TS, 40 - y0), min(TS, 56 - x0)
        got[y0:y0 + vh, x0:x0 + vw] = a[:vh, :vw]

    h, w = arr.shape
    sid = (np.arange(h)[:, None] * w + np.arange(w)[None, :]).astype(np.int64)
    init = np.where(arr == 0, sid, 1 << 42)
    want = _chamfer_window(init, scale=_VOR_SCALE)
    assert np.array_equal(got, want)

    # the distance component must equal the plain chamfer DT
    assert np.array_equal(got // _VOR_SCALE, chamfer_dense(arr == 0))
    # every label is a seed, and every pixel's label is a real pixel id
    labels = got % _VOR_SCALE
    ys, xs = labels // w, labels % w
    assert (arr[ys, xs] == 0).all()


def test_tri_matches_dense(spark):
    from sis_spark.raster.grid import GridGeometry
    from sis_spark.raster.terrain import tri_tiles
    from sis_spark.raster.tiles import raster_to_tiles

    rng = np.random.RandomState(41)
    arr = rng.randint(0, 256, (100, 130, 1)).astype(np.uint8)
    gg = GridGeometry((0, 0, 129, 99), (1.0, 0.0, 0.0, 0.0, -1.0, 0.0))
    tiles = raster_to_tiles(spark, arr, gg, 64)
    got = {(r["tx"], r["ty"]): r for r in tri_tiles(tiles, gg).collect()}
    v = arr[:, :, 0].astype(np.int64)
    h, w = v.shape
    dense = np.zeros((h, w), dtype=np.int64)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            if dx == dy == 0:
                continue
            nb = np.roll(np.roll(v, -dy, axis=0), -dx, axis=1)
            dense += (nb - v) ** 2
    interior = np.zeros((h, w), dtype=bool)
    interior[1:-1, 1:-1] = True
    dense = np.where(interior, dense, 0)
    for (tx, ty), r in got.items():
        sl = np.s_[ty * 64:(ty + 1) * 64, tx * 64:(tx + 1) * 64]
        assert r["sum_tri2"] == int(dense[sl].sum())
        assert r["n_int"] == int(interior[sl].sum())
        assert r["max_tri2"] == int(dense[sl].max())


def test_run_ge9_matches_brute():
    from sis_spark.raster.terrain import _run_ge9

    def brute(m):
        bits = [(m >> i) & 1 for i in range(16)]
        best = run = 0
        for b in bits + bits:  # circular
            run = run + 1 if b else 0
            best = max(best, run)
        return min(best, 16) >= 9

    rng = np.random.RandomState(2)
    ms = np.concatenate([
        rng.randint(0, 1 << 16, 500),
        np.array([0, 0xFFFF, 0x01FF, 0x00FF, 0xFF80, 0x3FE0, 0x8FF0]),
    ]).astype(np.int64)
    got = _run_ge9(ms)
    want = np.array([brute(int(m)) for m in ms])
    assert (got == want).all()


def test_fast_corners_matches_dense_brute(spark):
    from sis_spark.raster.terrain import _FAST_RING, fast_corners_tiles

    rng = np.random.RandomState(3)
    arr = rng.randint(0, 256, size=(100, 130)).astype(np.uint8)
    tiles, gg = _tiles_from(spark, arr)
    got = {(r["x"], r["y"]): r["kind"]
           for r in fast_corners_tiles(tiles, gg, t=25,
                                       tile_size=TS).collect()}

    def run9(bits):
        run = best = 0
        for b in bits + bits:
            run = run + 1 if b else 0
            best = max(best, run)
        return min(best, 16) >= 9

    want = {}
    h, w = arr.shape
    a = arr.astype(np.int64)
    for y in range(3, h - 3):
        for x in range(3, w - 3):
            c = a[y, x]
            ring = [a[y + dy, x + dx] for dy, dx in _FAST_RING]
            if run9([p > c + 25 for p in ring]):
                want[(x, y)] = 1
            elif run9([p < c - 25 for p in ring]):
                want[(x, y)] = 0
    assert got == want


def test_hough_votes_totals_and_exactness(spark):
    from sis_spark.raster.terrain import (
        HOUGH_OFFSET, HOUGH_STEP, hough_luts, hough_votes,
    )

    rng = np.random.RandomState(4)
    arr = rng.randint(0, 256, size=(90, 140)).astype(np.uint8)
    tiles, gg = _tiles_from(spark, arr)
    out = hough_votes(tiles, gg, threshold=200, tile_size=TS).collect()
    cq, sq = hough_luts(8)
    ys, xs = np.nonzero(arr > 200)
    want = {}
    for x, y in zip(xs, ys):
        for k in range(8):
            rho = (int(x) * cq[k] + int(y) * sq[k] + HOUGH_OFFSET) // HOUGH_STEP
            want[(k, rho)] = want.get((k, rho), 0) + 1
    got = {(r["k"], r["rho_idx"]): r["votes"] for r in out}
    assert got == want
    assert sum(got.values()) == 8 * len(xs)


def test_bayer_dither_extremes(spark):
    import pandas as pd

    from sis_spark.operators.imageops import bayer_dither_stats
    from sis_spark.raster import codec

    black = np.zeros((8, 8, 3), np.uint8)
    white = np.full((8, 8, 3), 255, np.uint8)
    mid = np.full((8, 8, 3), 128, np.uint8)
    rows = [("b", codec.encode(black, "png"), "png"),
            ("w", codec.encode(white, "png"), "png"),
            ("m", codec.encode(mid, "png"), "png")]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    out = pd.DataFrame([r.asDict() for r in bayer_dither_stats(df).collect()])
    per = out.groupby("image_id")[["n", "ones"]].sum()
    assert per.loc["b", "ones"] == 0
    assert per.loc["w", "ones"] == per.loc["w", "n"] == 64
    # luma 128 > thr*16+7 iff thr <= 7 -> exactly half the 16 phases fire
    assert per.loc["m", "ones"] == 32


def test_curvature_matches_dense(spark):
    from sis_spark.raster.terrain import curvature_tiles

    rng = np.random.RandomState(5)
    arr = rng.randint(0, 256, size=(40, 50)).astype(np.uint8)
    tiles, gg = _tiles_from(spark, arr)
    got = {(r["tx"], r["ty"]): (r["n"], r["sum_abs_fxx"],
                                r["sum_abs_fyy"], r["sum_abs_fxy"])
           for r in curvature_tiles(tiles, gg, tile_size=TS).collect()}
    a = arr.astype(np.int64)
    want = {}
    for y in range(1, 39):
        for x in range(1, 49):
            fxx = abs(a[y, x + 1] + a[y, x - 1] - 2 * a[y, x])
            fyy = abs(a[y + 1, x] + a[y - 1, x] - 2 * a[y, x])
            fxy = abs(a[y + 1, x + 1] - a[y - 1, x + 1]
                      - a[y + 1, x - 1] + a[y - 1, x - 1])
            key = (x // TS, y // TS)
            n, sxx, syy, sxy = want.get(key, (0, 0, 0, 0))
            want[key] = (n + 1, sxx + fxx, syy + fyy, sxy + fxy)
    assert got == want


def test_viewshed_matches_brute(spark):
    from sis_spark.raster.terrain import viewshed_tiles

    rng = np.random.RandomState(7)
    arr = rng.randint(0, 256, size=(30, 40)).astype(np.uint8)
    tiles, gg = _tiles_from(spark, arr)
    ox, oy, ht = 17, 12, 5
    got = {(r["x"], r["y"]): r["vis"]
           for r in viewshed_tiles(tiles, gg, ox, oy, obs_height=ht,
                                   tile_size=TS).collect()}
    a = arr.astype(np.int64)
    zo = a[oy, ox] + ht
    for y in range(30):
        for x in range(40):
            if (x, y) == (ox, oy):
                assert got[(x, y)] == 1
                continue
            dx, dy = x - ox, y - oy
            d = max(abs(dx), abs(dy))
            vis = 1
            for i in range(1, d):
                sx = (2 * (ox * d + i * dx) + d) // (2 * d)
                sy = (2 * (oy * d + i * dy) + d) // (2 * d)
                if (a[sy, sx] - zo) * d >= (a[y, x] - zo) * i:
                    vis = 0
                    break
            assert got[(x, y)] == vis, (x, y)


def test_template_match_matches_brute(spark):
    from sis_spark.raster.terrain import template_match_tiles

    rng = np.random.RandomState(9)
    arr = rng.randint(0, 256, size=(30, 40)).astype(np.uint8)
    T = rng.randint(0, 256, size=(4, 6)).astype(np.int64)
    tiles, gg = _tiles_from(spark, arr)
    got = {(r["x"], r["y"]): r["ssd"]
           for r in template_match_tiles(tiles, gg, T,
                                         tile_size=TS).collect()}
    a = arr.astype(np.int64)
    th, tw = T.shape
    want = {}
    for y in range(30 - th + 1):
        for x in range(40 - tw + 1):
            want[(x, y)] = int(((a[y:y + th, x:x + tw] - T) ** 2).sum())
    assert got == want


def test_harris_matches_dense_brute(spark):
    from sis_spark.raster.terrain import harris_tiles

    rng = np.random.RandomState(7)
    arr = rng.randint(0, 256, size=(70, 90)).astype(np.uint8)
    tiles, gg = _tiles_from(spark, arr)
    thr = 10_000_000_000_000
    got = {(r["x"], r["y"]): r["r"]
           for r in harris_tiles(tiles, gg, threshold=thr,
                                 tile_size=TS).collect()}

    a = arr.astype(np.int64)
    h, w = arr.shape
    want = {}
    for y in range(2, h - 2):
        for x in range(2, w - 2):
            sxx = syy = sxy = 0
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    cy, cx = y + dy, x + dx
                    ix = (a[cy - 1, cx + 1] + 2 * a[cy, cx + 1]
                          + a[cy + 1, cx + 1] - a[cy - 1, cx - 1]
                          - 2 * a[cy, cx - 1] - a[cy + 1, cx - 1])
                    iy = (a[cy + 1, cx - 1] + 2 * a[cy + 1, cx]
                          + a[cy + 1, cx + 1] - a[cy - 1, cx - 1]
                          - 2 * a[cy - 1, cx] - a[cy - 1, cx + 1])
                    sxx += ix * ix
                    syy += iy * iy
                    sxy += ix * iy
            r = 20 * (sxx * syy - sxy * sxy) - (sxx + syy) ** 2
            if r >= thr:
                want[(x, y)] = r
    assert want and got == want


def test_disparity_recovers_planted_shift(spark):
    from sis_spark.raster.terrain import disparity_tiles

    rng = np.random.RandomState(9)
    h, w = 64, 96
    left = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
    D = 3
    right = np.zeros_like(left)
    right[:, :w - D] = left[:, D:]        # left content appears D px left
    right[:, w - D:] = rng.randint(0, 256, size=(h, D))
    ltiles, gg = _tiles_from(spark, left)
    rtiles, _ = _tiles_from(spark, right)
    out = disparity_tiles(ltiles, rtiles, gg, d_max=4, block=4,
                          tile_size=TS).collect()
    got = {(r["bx"], r["by"]): (r["d"], r["ssd"]) for r in out}
    # interior blocks: L(x) == R(x - D) exactly -> d = D, ssd = 0
    nbx, nby = w // 4, h // 4
    assert got, "no blocks emitted"
    for (bx, by), (d, ssd) in got.items():
        assert 1 <= bx < nbx and 0 <= by < nby
        x0 = bx * 4
        if x0 + 4 - 1 < w - D:            # block fully inside shifted copy
            assert (d, ssd) == (D, 0), (bx, by, d, ssd)

    # brute SSD argmin replay on a strip to check tie rule end-to-end
    a = left.astype(np.int64)
    b = right.astype(np.int64)
    for (bx, by) in [(1, 0), (5, 3), (8, 7)]:
        best = None
        for d in range(5):
            blkL = a[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4]
            blkR = b[by * 4:by * 4 + 4, bx * 4 - d:bx * 4 - d + 4]
            ssd = int(((blkL - blkR) ** 2).sum())
            if best is None or ssd < best[1]:
                best = (d, ssd)
        assert got[(bx, by)] == best


def test_optical_flow_recovers_planted_shift(spark):
    from sis_spark.raster.terrain import optical_flow_tiles

    rng = np.random.RandomState(17)
    h, w = 64, 96
    a = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
    DX, DY = 2, 3
    b = np.zeros_like(a)
    b[:h - DY, :w - DX] = a[DY:, DX:]   # A content appears shifted up-left
    b[h - DY:, :] = rng.randint(0, 256, size=(DY, w))
    b[:, w - DX:] = rng.randint(0, 256, size=(h, DX))
    atiles, gg = _tiles_from(spark, a)
    btiles, _ = _tiles_from(spark, b)
    out = optical_flow_tiles(atiles, btiles, gg, s_max=4, block=4,
                             tile_size=TS).collect()
    got = {(r["bx"], r["by"]): (r["dx"], r["dy"], r["ssd"]) for r in out}
    assert got
    nbx, nby = w // 4, h // 4
    for (bx, by), (dx, dy, ssd) in got.items():
        assert 1 <= bx < nbx and 1 <= by < nby
        if (bx * 4 + 4 - 1 < w - DX) and (by * 4 + 4 - 1 < h - DY):
            assert (dx, dy, ssd) == (DX, DY, 0), (bx, by, dx, dy, ssd)
    # brute replay incl. the (ssd, dy, dx) tie rule on a few blocks
    ai = a.astype(np.int64)
    bi = b.astype(np.int64)
    for (bx, by) in [(1, 1), (10, 5), (20, 14)]:
        best = None
        for dy in range(5):
            for dx in range(5):
                blkA = ai[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4]
                blkB = bi[by * 4 - dy:by * 4 - dy + 4,
                          bx * 4 - dx:bx * 4 - dx + 4]
                ssd = int(((blkA - blkB) ** 2).sum())
                if best is None or ssd < best[2]:
                    best = (dx, dy, ssd)
        assert got[(bx, by)] == best


def test_canny_matches_dense_brute(spark):
    from sis_spark.raster.terrain import canny_edges, canny_nms_tiles

    rng = np.random.RandomState(21)
    h, w = 70, 90
    arr = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
    # plant a hard vertical edge so strong pixels definitely exist
    arr[:, 40:] = np.minimum(arr[:, 40:] // 4, 30)
    arr[:, :40] = np.maximum(arr[:, :40], 200)
    tiles, gg = _tiles_from(spark, arr)
    TL, TH = 100_000, 400_000
    nms = canny_nms_tiles(tiles, gg, t_low=TL, tile_size=TS)
    got = {(r["x"], r["y"]) for r in
           canny_edges(nms, gg, t_high=TH).collect()}

    # dense replay
    a = arr.astype(np.int64)
    gx = np.zeros((h, w), np.int64)
    gy = np.zeros((h, w), np.int64)
    gx[1:-1, 1:-1] = (a[:-2, 2:] + 2 * a[1:-1, 2:] + a[2:, 2:]
                      - a[:-2, :-2] - 2 * a[1:-1, :-2] - a[2:, :-2])
    gy[1:-1, 1:-1] = (a[2:, :-2] + 2 * a[2:, 1:-1] + a[2:, 2:]
                      - a[:-2, :-2] - 2 * a[:-2, 1:-1] - a[:-2, 2:])
    m2 = gx * gx + gy * gy
    offs = {0: (1, 0), 1: (1, 1), 2: (0, 1), 3: (1, -1)}
    weak = {}
    for y in range(2, h - 2):
        for x in range(2, w - 2):
            axv, ayv = abs(gx[y, x]), abs(gy[y, x])
            if ayv * 29 <= axv * 12:
                axis = 0
            elif axv * 29 <= ayv * 12:
                axis = 2
            elif gx[y, x] * gy[y, x] >= 0:
                axis = 1
            else:
                axis = 3
            dx, dy = offs[axis]
            c = m2[y, x]
            if (c >= m2[y + dy, x + dx] and c >= m2[y - dy, x - dx]
                    and c >= TL):
                weak[(x, y)] = c
    # hysteresis BFS from strong
    frontier = [p for p, v in weak.items() if v >= TH]
    seen = set(frontier)
    while frontier:
        x, y = frontier.pop()
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                q = (x + dx, y + dy)
                if q in weak and q not in seen:
                    seen.add(q)
                    frontier.append(q)
    assert seen, "planted edge produced no strong pixels"
    assert got == seen


def test_euler_quad_counts_topology(spark):
    from sis_spark.raster.terrain import euler_tiles

    h, w = 48, 64
    arr = np.zeros((h, w), np.uint8)
    # two solid squares (no holes) + one ring (a hole)
    arr[4:10, 4:10] = 255
    arr[20:30, 8:18] = 255
    arr[10:22, 36:48] = 255
    arr[14:18, 40:44] = 0          # hole -> ring
    tiles, gg = _tiles_from(spark, arr)
    rows = euler_tiles(tiles, gg, threshold=128, tile_size=TS).collect()
    q1 = sum(r["q1"] for r in rows)
    q3 = sum(r["q3"] for r in rows)
    qd = sum(r["qd"] for r in rows)
    # 3 components, 1 hole -> Euler number 2 (both connectivities agree
    # here: the shapes are rectangles, no diagonal quads)
    assert qd == 0
    assert (q1 - q3) % 4 == 0 and (q1 - q3) // 4 == 2

    # dense brute replay of the quad counts incl. the padding border
    m = (arr >= 128).astype(np.int64)
    p = np.zeros((h + 2, w + 2), np.int64)
    p[1:h + 1, 1:w + 1] = m
    A = p[:-1, :-1]; B = p[:-1, 1:]; C = p[1:, :-1]; D = p[1:, 1:]
    s = A + B + C + D
    assert q1 == int((s == 1).sum())
    assert q3 == int((s == 3).sum())

    # diagonal case: a 2-px checker makes Qd nonzero and splits the
    # connectivities: E4 counts 2 components, E8 counts 1
    arr2 = np.zeros((16, 16), np.uint8)
    arr2[2, 2] = 255
    arr2[3, 3] = 255
    tiles2, gg2 = _tiles_from(spark, arr2)
    rows2 = euler_tiles(tiles2, gg2, threshold=128, tile_size=TS).collect()
    q1 = sum(r["q1"] for r in rows2)
    q3 = sum(r["q3"] for r in rows2)
    qd = sum(r["qd"] for r in rows2)
    assert (q1 - q3 + 2 * qd) // 4 == 2      # 4-connectivity
    assert (q1 - q3 - 2 * qd) // 4 == 1      # 8-connectivity


def test_zhang_suen_matches_dense_and_thins(spark):
    from sis_spark.raster.terrain import ZS_OFFS, zhang_suen_tiles

    rng = np.random.RandomState(31)
    h, w = 48, 80
    arr = np.zeros((h, w), np.uint8)
    arr[10:16, 5:70] = 255          # a 6-px-thick bar
    arr[25:40, 30:36] = 255         # a vertical bar
    arr[rng.randint(0, h, 40), rng.randint(0, w, 40)] = 255  # specks
    tiles, gg = _tiles_from(spark, arr)
    rounds = 3
    got = {(r["x"], r["y"]) for r in
           zhang_suen_tiles(tiles, gg, threshold=128, rounds=rounds,
                            tile_size=TS).collect()}

    # dense replay
    M = np.zeros((h, w), np.int64)
    M[arr >= 128] = 1
    for it in range(2 * rounds):
        P = np.pad(M, 1)
        n = {k: P[1 + dy:1 + dy + h, 1 + dx:1 + dx + w]
             for k, (dx, dy) in ZS_OFFS.items()}
        B = sum(n.values())
        ring = [n[k] for k in (2, 3, 4, 5, 6, 7, 8, 9, 2)]
        A = sum(((ring[i] == 0) & (ring[i + 1] == 1)).astype(np.int64)
                for i in range(8))
        if it % 2 == 0:
            pr = (n[2] * n[4] * n[6] == 0) & (n[4] * n[6] * n[8] == 0)
        else:
            pr = (n[2] * n[4] * n[8] == 0) & (n[2] * n[6] * n[8] == 0)
        M = np.where((M == 1) & (B >= 2) & (B <= 6) & (A == 1) & pr, 0, M)
    want = {(int(x), int(y)) for y, x in zip(*np.nonzero(M))}
    assert got == want
    # the 6-px-thick bar must have strictly thinned (edges peeled), and
    # its interior spine must survive
    bar_cols = {x: {y for (xx, y) in got if xx == x and 10 <= y < 16}
                for x in range(20, 50)}
    assert all(0 < len(ys) < 6 for ys in bar_cols.values())


def test_halo_operators_tile_size_invariant(spark):
    """Every halo offset and margin pinned at once: on a 37 x 29 raster
    (a multiple of neither tile size) each halo operator, and each
    per-tile operator of raster/tiles.py on its edge windows, gives the
    same answer at tile sizes 8 and 16 — per-pixel planes reassembled and
    cropped to the extent, per-tile aggregates as totals, sparse
    (x, y, ...) rows as sets."""
    from pyspark.sql import functions as F

    from sis_spark.raster import terrain as T
    from sis_spark.raster import tiles as R
    from sis_spark.raster.isolines import isolines

    rng = np.random.RandomState(37)
    arr = rng.randint(0, 256, size=(29, 37)).astype(np.uint8)
    arr[[3, 20, 27], [5, 30, 11]] = 0            # chamfer / Voronoi seeds
    k5 = (np.arange(25) % 7 - 3).reshape(5, 5)
    tpl = arr[10:13, 20:23]
    pvx, pvy = np.array([3.0, 30.0, 25.0, 5.0]), np.array([4.0, 10.0, 26.0, 20.0])
    half = ((arr.shape[0] + 1) // 2, (arr.shape[1] + 1) // 2)

    def run(ts):
        tiles, gg = _tiles_from(spark, arr, ts)

        def plane(df, col="data", dt=np.int64, shape=arr.shape):
            return _assemble(df.collect(), shape, col, dt, ts)

        def rows(df):
            return {tuple(r) for r in df.collect()}

        grad = T.gradient_tiles(tiles, gg, tile_size=ts)
        out = {
            "dzdx": plane(grad, "dzdx", np.float64),
            "dzdy": plane(grad, "dzdy", np.float64),
            "convolve": plane(T.convolve_tiles(tiles, gg, k5, tile_size=ts)),
            "flow_dir": plane(T.flow_dir_tiles(tiles, gg, tile_size=ts),
                              "dirs", np.uint8),
            "chamfer": plane(T.chamfer_dt_tiles(tiles, gg, tile_size=ts)),
            "voronoi": plane(T.voronoi_tiles(tiles, gg, tile_size=ts)),
            "tri": tuple(T.tri_tiles(tiles, gg, tile_size=ts).agg(
                F.sum("n_int"), F.sum("sum_tri2"), F.max("max_tri2")).first()),
            "curvature": tuple(T.curvature_tiles(tiles, gg, tile_size=ts).agg(
                *[F.sum(c) for c in ("n", "sum_abs_fxx", "sum_abs_fyy",
                                     "sum_abs_fxy")]).first()),
            "euler": tuple(T.euler_tiles(tiles, gg, 128, tile_size=ts).agg(
                F.sum("q1"), F.sum("q3"), F.sum("qd")).first()),
            "fast": rows(T.fast_corners_tiles(tiles, gg, t=40, tile_size=ts)),
            "harris": rows(T.harris_tiles(tiles, gg, 10**9, tile_size=ts)),
            "template": rows(T.template_match_tiles(tiles, gg, tpl,
                                                    tile_size=ts)),
            "isolines": {tuple(np.round(r, 9)) for r in isolines(
                tiles, gg, [64.5, 191.5], tile_size=ts).collect()},
            # the per-tile operators of raster/tiles.py
            "band_stats": rows(R.band_stats(tiles, gg, ts)),
            "value_histogram": rows(R.value_histogram(tiles, gg, ts)),
            "convert": plane(R.convert(tiles, 0.5, -3.0, ts), dt=np.float64),
            "stretch": plane(R.stretch(tiles, gg, ts, low_pct=5.0,
                                       high_pct=95.0), dt=np.uint8),
            "hist_eq": plane(R.hist_eq(tiles, gg, ts), dt=np.uint8),
            "mask_polygon": plane(R.mask_polygon(tiles, gg, pvx, pvy, fill=9,
                                                 tile_size=ts), dt=np.uint8),
            "overview": plane(R.overview_level(tiles, gg, ts)[0], dt=np.uint8,
                              shape=half),
            "downsample_mean": plane(R.downsample_mean(tiles, gg, ts)[0],
                                     dt=np.uint8, shape=half),
            "row_profile": rows(R.row_profile(tiles, ts)),
            "moments": tuple(R.moments_tiles(tiles, ts).agg(
                *[F.sum(c) for c in ("m00", "m10", "m01", "m11", "m20",
                                     "m02")]).first()),
        }
        for mode in ("max", "min", "median"):
            out[mode] = plane(T.rank_filter_tiles(tiles, gg, mode,
                                                  tile_size=ts))
        return out

    a, b = run(8), run(16)
    for k in a:
        if isinstance(a[k], np.ndarray):
            assert np.array_equal(a[k], b[k]), k
        else:
            assert a[k] == b[k], k
    # non-vacuous: the sparse outputs and the seeds are really there
    assert min(len(a[k]) for k in ("fast", "harris", "template", "isolines")) > 0
    assert (a["chamfer"] == 0).sum() >= 3
