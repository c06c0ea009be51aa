"""Tiled neighbourhood operators: terrain, hydrology, morphology, features.

DEM and image operators in the distributed tile model (tiles_df rows
(tx, ty, band, data) of T x T pixels, the raster extent in a
GridGeometry) — the reference's neighbourhood contract, where
F/image/ComputedImage.java gathers the source tiles once and each
F/image/ImageProcessor.java operation only computes its own tile.

**The halo contract** (written once, in raster/grid.py):

* **Gather** — ``_halo_groups`` explodes every tile to the groups of the
  tiles whose neighbourhood it touches (the 9-way ring for centred
  stencils, fewer for one-sided ones: template apron, stereo/flow
  search, isolines), dropping groups off the ntx x nty tile grid, then
  one groupBy per operator — no broadcast, no dense mosaic.
* **Margins** — ``_place_blocks`` pastes the group's tiles into one halo
  array of T + lo + hi pixels per axis around the group tile (1 for
  3x3 stencils, 2 for Sobel-based Harris/Canny, 3 for the FAST ring, r
  for a radius-r kernel, one-sided for the template apron, stereo and
  flow).  A margin must fit one tile ring (<= T).
* **Fill and missing tiles** — cells no tile covers read the operator's
  fill: NaN for the float64 halos (a missing neighbour tile or the
  raster edge then disqualifies the pixel), 0 (zero padding), or a
  sentinel (rank min 2^62, chamfer/Voronoi infinity, extrema -2^62).
* **Extent masking** — edge tiles are zero-padded past (width, height).
  Operators whose padding value is a real value mask those halo cells
  back to the fill (``extent=gg``); every operator then confines its
  output to the extent (zeroed planes, interior masks, or dropped
  sparse rows), so a result never depends on the tile size.

Semantics are deterministic from pixel COORDINATES, so each operator's
SQL oracle replays every pixel: e.g. the gradient follows
``numpy.gradient`` (central differences inside, one-sided at the raster
edges), and the integer operators (TRI, rank filters, FAST, Harris,
Euler, ...) are exact int64 end to end.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .grid import (TILE_SCHEMA, GridGeometry, _halo_groups, _interior,
                   _map_tiles, _place_blocks, _tile_row)

GRAD_SCHEMA = "tx long, ty long, dzdx binary, dzdy binary"


def gradient_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Per-tile dz/dx and dz/dy planes (float64 bytes, numpy.gradient
    semantics in PIXEL units — callers divide by the affine cell size for
    CRS units).  Tiles are emitted only for the raster's real extent;
    padding pixels beyond (width, height) never contribute."""
    h, w = gg.height, gg.width
    ts = tile_size
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg, ts)

    def fn(key, pdf):
        gtx, gty, halo = _place_blocks(key, pdf, ts, dtype, 1, 1, np.nan)
        # global pixel coordinates of the halo's interior window
        px = gtx * ts + np.arange(ts)
        py = gty * ts + np.arange(ts)
        vw = int(np.count_nonzero(px < w))
        vh = int(np.count_nonzero(py < h))
        c = halo[1:1 + ts, 1:1 + ts]
        lf, rt = halo[1:1 + ts, 0:ts], halo[1:1 + ts, 2:2 + ts]
        up, dn = halo[0:ts, 1:1 + ts], halo[2:2 + ts, 1:1 + ts]
        gxm = px[None, :] == 0          # left raster edge: forward diff
        gxp = px[None, :] == w - 1      # right raster edge: backward diff
        gym = py[:, None] == 0
        gyp = py[:, None] == h - 1
        dzdx = np.where(gxm, rt - c, np.where(gxp, c - lf, (rt - lf) * 0.5))
        dzdy = np.where(gym, dn - c, np.where(gyp, c - up, (dn - up) * 0.5))
        dzdx[:, vw:] = 0.0
        dzdx[vh:, :] = 0.0
        dzdy[:, vw:] = 0.0
        dzdy[vh:, :] = 0.0
        return pd.DataFrame([
            {"tx": gtx, "ty": gty,
             "dzdx": dzdx.tobytes(), "dzdy": dzdy.tobytes()}
        ])

    return contrib.groupBy("gtx", "gty").applyInPandas(fn, schema=GRAD_SCHEMA)


def hillshade_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
    z_factor: float = 1.0,
) -> DataFrame:
    """Standard hillshade (ESRI/Horn formula) from the distributed gradient:
    255 * (cos(zen)*cos(slope) + sin(zen)*sin(slope)*cos(az - aspect)),
    clamped at 0 — emitted as uint8 tiles (tx, ty, band=0, data).  Gradient
    is converted to CRS units through the affine cell size."""
    sx = abs(gg.affine[0])
    sy = abs(gg.affine[4])
    zen = math.radians(90.0 - altitude_deg)
    az = math.radians(360.0 - azimuth_deg + 90.0)

    grads = gradient_tiles(tiles_df, gg, band, tile_size, dtype)

    def fn(r, dzdx, dzdy):
        gx = dzdx * (z_factor / sx)
        gy = dzdy * (z_factor / sy)
        slope = np.arctan(np.hypot(gx, gy))
        aspect = np.arctan2(gy, -gx)
        shade = 255.0 * (
            np.cos(zen) * np.cos(slope)
            + np.sin(zen) * np.sin(slope) * np.cos(az - aspect)
        )
        data = np.clip(np.rint(shade), 0, 255).astype(np.uint8)
        return {"tx": r["tx"], "ty": r["ty"], "band": 0, "data": data.tobytes()}

    return _map_tiles(grads, TILE_SCHEMA, tile_size,
                      {"dzdx": np.float64, "dzdy": np.float64}, fn)


def gradient_dense(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Reference single-node gradient (numpy.gradient order: dy first)."""
    dzdy, dzdx = np.gradient(arr.astype(np.float64))
    return dzdx, dzdy


CONV_SCHEMA = "tx long, ty long, data binary"


def convolve_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    kernel,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Generic focal convolution (integer kernel, cross-correlation
    orientation): out[y, x] = sum_{dy,dx} K[dy+r, dx+r] * in[y+dy, x+dx],
    with pixels outside the raster extent contributing 0 (zero padding).
    Integer kernel x integer raster -> exact int64 planes, so the output is
    SQL-replicable pixel for pixel.

    Same 9-way halo-gather shuffle as gradient_tiles (radius must fit one
    tile ring: r <= tile_size); the kernel loop is (2r+1)^2 whole-array
    shifted adds per tile — vectorized, no per-pixel Python."""
    K = np.asarray(kernel, dtype=np.int64)
    if K.ndim != 2 or K.shape[0] != K.shape[1] or K.shape[0] % 2 == 0:
        raise ValueError("kernel must be square with odd size")
    r = K.shape[0] // 2
    if r > tile_size:
        raise ValueError("kernel radius exceeds one tile ring")
    h, w = gg.height, gg.width
    ts = tile_size
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg, ts)

    def fn(key, pdf):
        gtx, gty, halo = _place_blocks(key, pdf, ts, dtype, r, r, 0, np.int64)
        out = np.zeros((ts, ts), dtype=np.int64)
        for ky in range(2 * r + 1):
            for kx in range(2 * r + 1):
                if K[ky, kx]:
                    out += K[ky, kx] * halo[ky:ky + ts, kx:kx + ts]
        # zero out columns/rows beyond the raster's real extent
        px = gtx * ts + np.arange(ts)
        py = gty * ts + np.arange(ts)
        out[:, px >= w] = 0
        out[py >= h, :] = 0
        return pd.DataFrame([{"tx": gtx, "ty": gty, "data": out.tobytes()}])

    return contrib.groupBy("gtx", "gty").applyInPandas(fn, schema=CONV_SCHEMA)


def convolve_dense(arr: np.ndarray, kernel) -> np.ndarray:
    """Single-node reference: same zero-padded cross-correlation."""
    K = np.asarray(kernel, dtype=np.int64)
    r = K.shape[0] // 2
    a = np.zeros((arr.shape[0] + 2 * r, arr.shape[1] + 2 * r), dtype=np.int64)
    a[r:r + arr.shape[0], r:r + arr.shape[1]] = arr.astype(np.int64)
    out = np.zeros(arr.shape, dtype=np.int64)
    for ky in range(K.shape[0]):
        for kx in range(K.shape[1]):
            if K[ky, kx]:
                out += K[ky, kx] * a[ky:ky + arr.shape[0], kx:kx + arr.shape[1]]
    return out


# ---------------------------------------------------------------------------
# D8 hydrology: flow direction + flow accumulation
# ---------------------------------------------------------------------------
#
# The classic DEM drainage pair (the neighborhood-operator counterpart of
# gradient above; reference analog: the ImageProcessor neighborhood
# contract, F/image/ImageProcessor.java pipeline style).  Convention:
# unweighted steepest drop over the 8 neighbors, ESRI direction codes
# (E=1, SE=2, S=4, SW=8, W=16, NW=32, N=64, NE=128; y grows DOWN so S is
# +y), ties broken by that fixed order (first wins), drop <= 0 or no
# in-raster neighbor -> 0 (pit).  Integer elevations make every comparison
# exact, so a SQL oracle replays each pixel's code.

# (dx, dy, code) in tie-break order
_D8 = [
    (1, 0, 1), (1, 1, 2), (0, 1, 4), (-1, 1, 8),
    (-1, 0, 16), (-1, -1, 32), (0, -1, 64), (1, -1, 128),
]

FLOW_SCHEMA = "tx long, ty long, dirs binary"


def flow_dir_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Per-tile D8 flow-direction codes (uint8 plane): same 9-way halo
    gather as gradient_tiles; neighbors outside the raster extent (or in a
    missing tile — NaN halo) can never be chosen (the isolines NaN lesson
    applied at design time)."""
    h, w = gg.height, gg.width
    ts = tile_size
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg, ts)

    def fn(key, pdf):
        gtx, gty, halo = _place_blocks(key, pdf, ts, dtype, 1, 1, np.nan)
        px = gtx * ts + np.arange(ts)[None, :]
        py = gty * ts + np.arange(ts)[:, None]
        c = halo[1:1 + ts, 1:1 + ts]
        drops = np.full((8, ts, ts), -np.inf)
        for i, (dx, dy, _code) in enumerate(_D8):
            n = halo[1 + dy:1 + dy + ts, 1 + dx:1 + dx + ts]
            ok = (
                (px + dx >= 0) & (px + dx < w)
                & (py + dy >= 0) & (py + dy < h)
                & ~np.isnan(n)
            )
            drops[i] = np.where(ok, c - np.where(np.isnan(n), 0.0, n), -np.inf)
        best = np.argmax(drops, axis=0)          # first max wins: _D8 order
        m = np.max(drops, axis=0)
        codes = np.array([code for _, _, code in _D8], dtype=np.uint8)
        dirs = np.where(m > 0, codes[best], 0).astype(np.uint8)
        # pixels outside the raster extent (tile padding): emit 0
        dirs = np.where((px < w) & (py < h) & ~np.isnan(c), dirs, 0).astype(np.uint8)
        return pd.DataFrame(
            [{"tx": gtx, "ty": gty, "dirs": dirs.tobytes()}]
        )

    return contrib.groupBy("gtx", "gty").applyInPandas(fn, schema=FLOW_SCHEMA)


def flow_cells(dirs_df: DataFrame, gg: GridGeometry, tile_size: int = 64) -> DataFrame:
    """Explode flow-direction tiles to global-coordinate cell rows
    (x, y, dir) within the raster extent."""
    def fn(r, dirs):
        return dict(_cells(r, dirs, tile_size), dir=dirs.ravel().astype(np.int64))

    return _map_tiles(dirs_df, "x long, y long, dir long", tile_size,
                      {"dirs": np.uint8}, fn, gg)


def _cells(r, plane, tile_size) -> dict:
    """Global (x, y) int64 columns of a valid-window ``plane`` of tile
    (r["tx"], r["ty"]), row-major like ``plane.ravel()``."""
    vh, vw = plane.shape
    gx, gy = np.meshgrid(r["tx"] * tile_size + np.arange(vw, dtype=np.int64),
                         r["ty"] * tile_size + np.arange(vh, dtype=np.int64))
    return {"x": gx.ravel(), "y": gy.ravel()}


def _d8_step_cols():
    """dir code -> (dx, dy) as codegen CASE columns."""
    dx = F.lit(0)
    dy = F.lit(0)
    for ddx, ddy, code in _D8:
        dx = F.when(F.col("dir") == code, F.lit(ddx)).otherwise(dx)
        dy = F.when(F.col("dir") == code, F.lit(ddy)).otherwise(dy)
    return dx, dy


def flow_accum(cells: DataFrame, max_rounds: int = 256) -> DataFrame:
    """D8 flow accumulation: acc(v) = number of cells whose flow path
    passes through v (including v itself).

    Iterative bottom-up sum over the in-forest: acc <- 1 + sum of upstream
    acc, one equi-join + partial agg per round, until the global total is
    stable (drops are strictly positive so the flow graph is acyclic and
    the recurrence converges in <= longest-flow-path rounds).  One scalar
    crosses the driver per round; lineage truncated per round
    (plan-shape lesson 6)."""
    dx, dy = _d8_step_cols()
    edges = (
        cells.filter(F.col("dir") > 0)
        .select("x", "y", (F.col("x") + dx).alias("nx"), (F.col("y") + dy).alias("ny"))
        .localCheckpoint()
    )
    base = cells.select("x", "y").localCheckpoint()
    acc = base.select("x", "y", F.lit(1).cast("long").alias("acc"))
    prev_total = -1
    for _ in range(max_rounds):
        contrib = (
            edges.join(acc, ["x", "y"])
            .groupBy(F.col("nx").alias("x"), F.col("ny").alias("y"))
            .agg(F.sum("acc").alias("up"))
        )
        acc = (
            base.join(contrib, ["x", "y"], "left")
            .select(
                "x", "y",
                (F.lit(1) + F.coalesce("up", F.lit(0))).cast("long").alias("acc"),
            )
            .localCheckpoint()
        )
        total = acc.agg(F.sum("acc")).collect()[0][0]
        if total == prev_total:
            break
        prev_total = total
    return acc


def watershed_basins(cells: DataFrame, max_rounds: int = 40) -> DataFrame:
    """Watershed basin labels over the D8 flow graph: each cell labelled
    with its SINK (the pit its flow path terminates in) ->
    (x, y, sink_x, sink_y).

    Pointer DOUBLING, not step-at-a-time: each round substitutes every
    cell's pointer with its pointer's pointer (one self-equi-join), so a
    flow path of length L resolves in ceil(log2 L) rounds — the O(log L)
    counterpart of flow_accum's O(L) bottom-up sum, and the same
    pointer-jumping primitive as operators/graph.py connected components.
    One changed-row count crosses the driver per round; lineage truncated
    per round (plan-shape lesson 6)."""
    dx, dy = _d8_step_cols()
    moving = F.col("dir") > 0
    p = cells.select(
        "x", "y",
        F.when(moving, F.col("x") + dx).otherwise(F.col("x")).alias("px"),
        F.when(moving, F.col("y") + dy).otherwise(F.col("y")).alias("py"),
    ).localCheckpoint()
    for _ in range(max_rounds):
        a, b = p.alias("a"), p.alias("b")
        nxt = (
            a.join(
                b,
                (F.col("a.px") == F.col("b.x")) & (F.col("a.py") == F.col("b.y")),
            )
            .select(
                F.col("a.x").alias("x"),
                F.col("a.y").alias("y"),
                F.col("a.px").alias("opx"),
                F.col("a.py").alias("opy"),
                F.col("b.px").alias("px"),
                F.col("b.py").alias("py"),
            )
            .localCheckpoint()
        )
        changed = nxt.filter(
            (F.col("px") != F.col("opx")) | (F.col("py") != F.col("opy"))
        ).count()
        p = nxt.select("x", "y", "px", "py")
        if changed == 0:
            break
    return p.select(
        "x", "y", F.col("px").alias("sink_x"), F.col("py").alias("sink_y")
    )


def rank_filter_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    mode: str = "max",
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Morphological 3x3 rank filter: ``max`` = grayscale dilation,
    ``min`` = erosion, ``median`` = salt-and-pepper denoise.  Same 9-way
    halo shuffle as convolve_tiles; out-of-extent neighbors take the
    identity element (0 for max — zero padding; 2^62 for min so the
    border erodes against +inf, matching an all-high surround; median
    pads 0).  Integer in, integer out — max/min are SQL greatest/least,
    so those two are oracle-replicable per pixel."""
    if mode not in ("max", "min", "median"):
        raise ValueError("mode must be max/min/median")
    h, w = gg.height, gg.width
    ts = tile_size
    pad = 0 if mode in ("max", "median") else (1 << 62)
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg, ts)

    def fn(key, pdf):
        # out-of-extent pixels inside the halo must read as padding too
        gtx, gty, halo = _place_blocks(key, pdf, ts, dtype, 1, 1, pad,
                                       np.int64, extent=gg)
        stack = np.stack([
            halo[dy:dy + ts, dx:dx + ts]
            for dy in range(3) for dx in range(3)
        ])
        if mode == "max":
            out = stack.max(axis=0)
        elif mode == "min":
            out = stack.min(axis=0)
        else:
            out = np.median(stack, axis=0).astype(np.int64)
        px = gtx * ts + np.arange(ts)
        py = gty * ts + np.arange(ts)
        out[:, px >= w] = 0
        out[py >= h, :] = 0
        return pd.DataFrame([{"tx": gtx, "ty": gty, "data": out.tobytes()}])

    return contrib.groupBy("gtx", "gty").applyInPandas(fn, schema=CONV_SCHEMA)


# ---------------------------------------------------------------------------
# Chamfer distance transform (block-Jacobi over tiles)
# ---------------------------------------------------------------------------

_CH_INF = 1 << 30  # safely addable without overflow


def _chamfer_window(d: np.ndarray, scale: int = 1) -> np.ndarray:
    """Exact two-pass 3-4 chamfer DT over one window with arbitrary seed
    values.  The in-row left/right propagation min_k(a[k] + 3s|x-k|) is
    vectorized with the cummin identity e = 3sx + cummin(a - 3sx).

    ``scale`` multiplies both step weights: with seed values packed as
    dist*scale + id (id < scale) the same min-plus sweep computes the
    LEXICOGRAPHIC (distance, id) minimum — the Voronoi assignment falls
    out of the distance transform for free."""
    d = d.copy()
    h, w = d.shape
    so, sd = 3 * scale, 4 * scale
    idx = so * np.arange(w, dtype=np.int64)

    def row_sweep(row):
        fwd = np.minimum.accumulate(row - idx) + idx
        bwd = (np.minimum.accumulate((row + idx)[::-1]) - idx[::-1])[::-1]
        return np.minimum(fwd, bwd)

    for y in range(h):
        if y > 0:
            up = d[y - 1]
            d[y] = np.minimum(d[y], up + so)
            d[y, :-1] = np.minimum(d[y, :-1], up[1:] + sd)
            d[y, 1:] = np.minimum(d[y, 1:], up[:-1] + sd)
        d[y] = row_sweep(d[y])
    for y in range(h - 2, -1, -1):
        dn = d[y + 1]
        d[y] = np.minimum(d[y], dn + so)
        d[y, :-1] = np.minimum(d[y, :-1], dn[1:] + sd)
        d[y, 1:] = np.minimum(d[y, 1:], dn[:-1] + sd)
        d[y] = row_sweep(d[y])
    return d


def chamfer_dense(seeds: np.ndarray) -> np.ndarray:
    """Single-node reference: exact 3-4 chamfer DT of a boolean seed mask
    (two full-image passes)."""
    d = np.where(seeds, 0, _CH_INF).astype(np.int64)
    return _chamfer_window(d)


def _chamfer_sweep(tiles_df, gg, band, ts, dtype, seed_value, max_rounds,
                   scale, inf):
    """Block-Jacobi 3-4 chamfer sweep over int64 tiles: pixels equal to
    ``seed_value`` start at 0 (scale 1) or at their global pixel id
    (scale > 1: the packed dist*scale + id field), the rest at ``inf``.
    Each round gathers a 1-pixel halo ring of the neighbours' current
    values and re-solves every tile EXACTLY with ``_chamfer_window``;
    information crosses one tile per round, so convergence takes at most
    (grid diameter in tiles) rounds — not O(max distance) pixel steps.
    One scalar (the global sum) crosses the driver per round; lineage is
    truncated per round."""
    h, w = gg.height, gg.width

    def init(r, v):
        if r["band"] != band:
            return None
        px = r["tx"] * ts + np.arange(ts)[None, :]
        py = r["ty"] * ts + np.arange(ts)[:, None]
        seed = (py * w + px).astype(np.int64) if scale > 1 else 0
        inext = _interior(r["tx"], r["ty"], ts, gg, 0)
        d = np.where((v == seed_value) & inext, seed, inf).astype(np.int64)
        return {"tx": r["tx"], "ty": r["ty"], "data": d.tobytes()}

    def relax(key, pdf):
        gtx, gty, halo = _place_blocks(key, pdf, ts, np.int64, 1, 1, inf,
                                       np.int64)
        out = _chamfer_window(halo, scale)[1:1 + ts, 1:1 + ts]
        out = np.minimum(out, inf)
        px = gtx * ts + np.arange(ts)[None, :]
        py = gty * ts + np.arange(ts)[:, None]
        out[~((px < w) & (py < h))] = inf
        return pd.DataFrame([{"tx": gtx, "ty": gty, "data": out.tobytes()}])

    def total(df):
        def s(batches):
            for pdf in batches:
                yield pd.DataFrame([{
                    "t": int(sum(
                        np.frombuffer(b, np.int64).sum() for b in pdf["data"]
                    ))
                }])
        return df.mapInPandas(s, "t long").agg(F.sum("t")).collect()[0][0]

    dist = _map_tiles(tiles_df, CONV_SCHEMA, ts, dtype, init).localCheckpoint()
    prev = total(dist)
    for _ in range(max_rounds):
        dist = _halo_groups(dist, gg, ts).groupBy("gtx", "gty").applyInPandas(
            relax, schema=CONV_SCHEMA
        ).localCheckpoint()
        cur = total(dist)
        if cur == prev:
            break
        prev = cur
    return dist


def chamfer_dt_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
    seed_value: int = 0,
    max_rounds: int = 64,
) -> DataFrame:
    """Distributed 3-4 chamfer distance transform: distance of every
    pixel to the nearest ``seed_value`` pixel, under the chamfer metric
    (orthogonal step 3, diagonal 4 — closed form 3*max(|dx|,|dy|) +
    min(|dx|,|dy|) in open space, which is what the oracle replays).
    Pixels with no seed keep _CH_INF.  Block-Jacobi over tiles
    (``_chamfer_sweep``)."""
    return _chamfer_sweep(tiles_df, gg, band, tile_size, dtype, seed_value,
                          max_rounds, 1, _CH_INF)


_VOR_SCALE = 1 << 20  # id field width: dist*SCALE + seed_id, lexicographic
_VOR_INF = 1 << 42


def voronoi_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
    seed_value: int = 0,
    max_rounds: int = 64,
) -> DataFrame:
    """Chamfer-metric Voronoi assignment: every pixel labelled with the
    NEAREST seed pixel's global id (ties -> smallest id), as int64 tiles
    of packed dist*2^20 + seed_id.

    Runs the SAME block-Jacobi sweep as chamfer_dt_tiles with step
    weights scaled by 2^20: packed values form a min-plus algebra where
    the minimum is the LEXICOGRAPHIC (distance, id) minimum, so the
    nearest-site assignment falls out of the distance transform for free
    — no argmin bookkeeping, no extra passes.  Requires w*h < 2^20."""
    if gg.width * gg.height >= _VOR_SCALE:
        raise ValueError("voronoi id field needs w*h < 2^20")
    return _chamfer_sweep(tiles_df, gg, band, tile_size, dtype, seed_value,
                          max_rounds, _VOR_SCALE, _VOR_INF)


TRI_SCHEMA = "tx long, ty long, n_int long, sum_tri2 long, max_tri2 long"


def tri_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Terrain ruggedness index per tile (Riley 1999, public literature;
    kept as the EXACT integer tri2 = sum of squared 8-neighbor
    differences — the sqrt adds nothing for ranking/thresholding) ->
    (tx, ty, n_int, sum_tri2, max_tri2) over INTERIOR raster pixels
    (x in [1, w-2], y in [1, h-2]; edge pixels lack a full neighborhood).

    Same halo-gather shuffle shape as the gradient: shuffled volume is
    the tile perimeter, the 8 squared differences are one vectorized
    numpy expression per tile."""
    ts = tile_size
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg, ts)

    def fn(key, pdf):
        gtx, gty, halo = _place_blocks(key, pdf, ts, dtype, 1, 1, 0, np.int64)
        interior = _interior(gtx, gty, ts, gg)
        c = halo[1:1 + ts, 1:1 + ts]
        tri2 = np.zeros((ts, ts), dtype=np.int64)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                if dx == 0 and dy == 0:
                    continue
                nb = halo[1 + dy:1 + dy + ts, 1 + dx:1 + dx + ts]
                d = nb - c
                tri2 += d * d
        tri2 = np.where(interior, tri2, 0)
        n_int = int(interior.sum())
        return pd.DataFrame([
            {"tx": gtx, "ty": gty, "n_int": n_int,
             "sum_tri2": int(tri2.sum()),
             "max_tri2": int(tri2.max()) if n_int else 0}
        ])

    return contrib.groupBy("gtx", "gty").applyInPandas(fn, schema=TRI_SCHEMA)


def _hog_octants(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """Octant k with atan2(gy, gx) in [k*45deg, (k+1)*45deg), derived by
    EXACT integer sign/magnitude comparisons (no trig); (0, 0) -> 0
    (its weight is 0 so it never contributes)."""
    conds = [
        (gx > 0) & (gy >= 0) & (gy < gx),
        (gx > 0) & (gy >= gx),
        (gx <= 0) & (gy > 0) & (gy > -gx),
        (gy > 0) & (gx < 0) & (gy <= -gx),
        (gx < 0) & (gy <= 0) & (-gy < -gx),
        (gy < 0) & (gx < 0) & (-gy >= -gx),
        (gx >= 0) & (gy < 0) & (gx < -gy),
        (gx > 0) & (gy < 0) & (gx >= -gy),
    ]
    return np.select(conds, list(range(8)), default=0)


def hog_octant_sql(gx: str, gy: str) -> str:
    """Shared Spark-SQL/DuckDB text twin of ``_hog_octants`` (same ladder,
    same order, first match wins)."""
    return f"""CASE
 WHEN ({gx}) > 0 AND ({gy}) >= 0 AND ({gy}) < ({gx}) THEN 0
 WHEN ({gx}) > 0 AND ({gy}) >= ({gx}) THEN 1
 WHEN ({gx}) <= 0 AND ({gy}) > 0 AND ({gy}) > -({gx}) THEN 2
 WHEN ({gy}) > 0 AND ({gx}) < 0 AND ({gy}) <= -({gx}) THEN 3
 WHEN ({gx}) < 0 AND ({gy}) <= 0 AND -({gy}) < -({gx}) THEN 4
 WHEN ({gy}) < 0 AND ({gx}) < 0 AND -({gy}) >= -({gx}) THEN 5
 WHEN ({gx}) >= 0 AND ({gy}) < 0 AND ({gx}) < -({gy}) THEN 6
 WHEN ({gx}) > 0 AND ({gy}) < 0 AND ({gx}) >= -({gy}) THEN 7
 ELSE 0 END"""


def hog_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Histogram of oriented gradients, 8 exact octants per tile (the
    Dalal-Triggs 2005 descriptor's cell stage, public literature):
    DOUBLED central differences keep gradients integer, the octant is an
    integer sign/magnitude ladder (``_hog_octants``; boundary angles pin
    to the lower octant), and each interior pixel adds its L1 magnitude
    |gx|+|gy| to its octant bin — all int64, one halo gather, zero
    Python in the aggregation."""
    ts = tile_size
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg, ts)

    def fn(key, pdf):
        gtx, gty, halo = _place_blocks(key, pdf, ts, dtype, 1, 1, np.nan)
        lf, rt = halo[1:1 + ts, 0:ts], halo[1:1 + ts, 2:2 + ts]
        up, dn = halo[0:ts, 1:1 + ts], halo[2:2 + ts, 1:1 + ts]
        valid = (
            np.isfinite(lf) & np.isfinite(rt)
            & np.isfinite(up) & np.isfinite(dn)
        )
        interior = _interior(gtx, gty, ts, gg)
        m = valid & interior
        gx = np.where(m, rt - lf, 0).astype(np.int64)
        gy = np.where(m, dn - up, 0).astype(np.int64)
        oct_ = _hog_octants(gx, gy)
        wgt = np.abs(gx) + np.abs(gy)
        bins = np.bincount(oct_.ravel(), weights=wgt.ravel(),
                           minlength=8).astype(np.int64)
        row = {"tx": gtx, "ty": gty}
        row.update({f"s{i}": int(bins[i]) for i in range(8)})
        return pd.DataFrame([row])

    return contrib.groupBy("gtx", "gty").applyInPandas(
        fn,
        schema=("tx long, ty long, " +
                ", ".join(f"s{i} long" for i in range(8))),
    )


def mode_filter_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """3x3 majority (mode) filter histogram per tile: each INTERIOR pixel
    takes the most frequent value of its 3x3 window (ties -> smallest
    value); output is the per-tile (v, cnt) histogram of modal values —
    the classic categorical-raster smoother (land-cover cleanup, public
    literature).  Exact integers, one halo gather; window pixels outside
    the raster (or on missing tiles) disqualify the pixel."""
    ts = tile_size
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg, ts)

    def fn(key, pdf):
        gtx, gty, halo = _place_blocks(key, pdf, ts, dtype, 1, 1, np.nan)
        stack = np.stack([
            halo[1 + dy:1 + dy + ts, 1 + dx:1 + dx + ts]
            for dy in (-1, 0, 1) for dx in (-1, 0, 1)
        ])  # (9, ts, ts)
        valid = np.isfinite(stack).all(axis=0)
        interior = _interior(gtx, gty, ts, gg)
        s = np.nan_to_num(stack, nan=0.0).astype(np.int64)
        # mode of 9 values with tie -> smallest: score = cnt*256 + (255 - v)
        best = np.full((ts, ts), -1, np.int64)
        mode = np.zeros((ts, ts), np.int64)
        for k in range(9):
            cnt = (s == s[k]).sum(axis=0)
            score = cnt * 256 + (255 - s[k])
            upd = score > best
            best = np.where(upd, score, best)
            mode = np.where(upd, s[k], mode)
        sel = mode[valid & interior]
        if sel.size == 0:
            return pd.DataFrame({"tx": [], "ty": [], "v": [], "cnt": []})
        cnt = np.bincount(sel, minlength=256)
        vs = np.nonzero(cnt)[0]
        return pd.DataFrame({
            "tx": gtx, "ty": gty,
            "v": vs.astype(np.int64), "cnt": cnt[vs].astype(np.int64),
        })

    return contrib.groupBy("gtx", "gty").applyInPandas(
        fn, schema="tx long, ty long, v long, cnt long"
    )


def range_filter_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    thresh: int,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Edge-preserving range (epsilon-box) filter moments: for each
    INTERIOR pixel, over its 3x3 window count the neighbors with
    |v - center| <= thresh and sum their values (the integer core of a
    bilateral filter's range kernel, public literature) -> per-tile
    exact int64 aggregates (n_px, n_in, v_in_sum) — the smoothed value
    floor(v_in_sum / n_in) per pixel is derivable and edges never bleed.
    One halo gather, zero Python aggregation."""
    ts = tile_size
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg, ts)

    def fn(key, pdf):
        gtx, gty, halo = _place_blocks(key, pdf, ts, dtype, 1, 1, np.nan)
        c = halo[1:1 + ts, 1:1 + ts]
        stack = np.stack([
            halo[1 + dy:1 + dy + ts, 1 + dx:1 + dx + ts]
            for dy in (-1, 0, 1) for dx in (-1, 0, 1)
        ])
        valid = np.isfinite(stack).all(axis=0)
        interior = _interior(gtx, gty, ts, gg)
        m = valid & interior
        s = np.nan_to_num(stack, nan=0.0).astype(np.int64)
        ci = np.nan_to_num(c, nan=0.0).astype(np.int64)
        inr = (np.abs(s - ci[None, :, :]) <= thresh)
        n_in = np.where(m, inr.sum(axis=0), 0)
        v_in = np.where(m, (s * inr).sum(axis=0), 0)
        return pd.DataFrame([{
            "tx": gtx, "ty": gty,
            "n_px": int(m.sum()),
            "n_in": int(n_in.sum()),
            "v_in_sum": int(v_in.sum()),
        }])

    return contrib.groupBy("gtx", "gty").applyInPandas(
        fn, schema="tx long, ty long, n_px long, n_in long, v_in_sum long"
    )


# FAST ring: 16 (dy, dx) offsets of the radius-3 Bresenham circle,
# clockwise from (dy=-3, dx=0) — the OpenCV/Rosten-Drummond order.
_FAST_RING = [(-3, 0), (-3, 1), (-2, 2), (-1, 3), (0, 3), (1, 3), (2, 2),
              (3, 1), (3, 0), (3, -1), (2, -2), (1, -3), (0, -3), (-1, -3),
              (-2, -2), (-3, -1)]


def _run_ge9(mask: np.ndarray) -> np.ndarray:
    """True where the 16-bit circular mask contains a contiguous run of
    >= 9 set bits (the doubling trick: &-ing with rotations of itself
    by 1, 2, 4 then the raw mask by 8 — exact, branch-free)."""
    rot = lambda m, k: ((m >> k) | (m << (16 - k))) & 0xFFFF  # noqa: E731
    r2 = mask & rot(mask, 1)
    r4 = r2 & rot(r2, 2)
    r8 = r4 & rot(r4, 4)
    r9 = r8 & rot(mask, 8)
    return r9 != 0


def fast_corners_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    t: int = 20,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """FAST-9 corner detection (Rosten & Drummond 2006, public
    literature) -> (x, y, kind): pixel is a corner when >= 9 CONTIGUOUS
    pixels of its radius-3 Bresenham ring are all brighter than c + t
    (kind=1) or all darker than c - t (kind=0).  Pure integer
    comparisons + the 16-bit rotate-and-AND run test — bit-exact, no
    trig, no FP.  Pixels whose ring leaves the raster (or touches a
    missing tile) are skipped; non-max suppression is a downstream
    concern (kNN/window ops in this repo).

    Shape: one 3-pixel halo gather (each tile ships to its 8 neighbor
    groups — same shuffle count as the gradient machinery, 3 rows wider),
    then map-side numpy; output is the sparse corner list."""
    ts = tile_size
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg, ts)
    R = 3

    def fn(key, pdf):
        gtx, gty, halo = _place_blocks(key, pdf, ts, dtype, R, R, np.nan)
        c = halo[R:R + ts, R:R + ts]
        bright = np.zeros((ts, ts), np.int64)
        dark = np.zeros((ts, ts), np.int64)
        valid = np.isfinite(c)
        for i, (dy, dx) in enumerate(_FAST_RING):
            nb = halo[R + dy:R + dy + ts, R + dx:R + dx + ts]
            valid &= np.isfinite(nb)
            bright |= (nb > c + t).astype(np.int64) << i
            dark |= (nb < c - t).astype(np.int64) << i
        interior = _interior(gtx, gty, ts, gg, R)
        is_b = _run_ge9(bright)
        is_d = _run_ge9(dark)
        sel = valid & interior & (is_b | is_d)
        ys, xs = np.nonzero(sel)
        if not len(ys):
            return pd.DataFrame({"x": [], "y": [], "kind": []})
        return pd.DataFrame({
            "x": (gtx * ts + xs).astype(np.int64),
            "y": (gty * ts + ys).astype(np.int64),
            "kind": is_b[ys, xs].astype(np.int64),
        })

    return contrib.groupBy("gtx", "gty").applyInPandas(
        fn, schema="x long, y long, kind long"
    )


def hough_luts(n_angles: int = 8, scale: int = 1 << 20):
    """Quantized (cos, sin) integer LUTs for theta_k = k*pi/n, k < n —
    literal ints shared verbatim by the engine and the SQL oracle so the
    vote arithmetic is exact int64 on both sides."""
    import math as _math

    cq = [int(_math.floor(_math.cos(k * _math.pi / n_angles) * scale))
          for k in range(n_angles)]
    sq = [int(_math.floor(_math.sin(k * _math.pi / n_angles) * scale))
          for k in range(n_angles)]
    return cq, sq


# rho-bucket width: 4 px * the 2^20 LUT scale; OFFSET (a multiple of
# STEP) shifts every rho positive so floor-division is plain integer
# division in BOTH engines (Spark div truncates, DuckDB // floors —
# they only agree on non-negatives)
HOUGH_STEP = 4 << 20
HOUGH_OFFSET = 1 << 30


def hough_votes(
    tiles_df: DataFrame,
    gg: GridGeometry,
    threshold: int = 240,
    n_angles: int = 8,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Hough line-transform vote accumulator (Duda & Hart 1972, public
    literature) -> (k, rho_idx, votes): every edge pixel (value >
    ``threshold``) votes for (angle k, rho bucket) with
    rho_idx = (x*cos_q[k] + y*sin_q[k] + OFFSET) / STEP — all-integer
    via the shared literal LUTs, so the accumulator is exact.

    Shape: map-side pixel extraction (Arrow, sparse edge list), an
    n_angles-way explode in codegen, one groupBy — the vote table is
    tiny (angles x rho buckets) so the shuffle is a partial-agg
    combine, not a data shuffle."""
    cq, sq = hough_luts(n_angles)

    def px(r, block):
        ys, xs = np.nonzero(block > threshold)
        return {"x": r["tx"] * tile_size + xs.astype(np.int64),
                "y": r["ty"] * tile_size + ys.astype(np.int64)}

    pts = _map_tiles(tiles_df.filter(F.col("band") == band).select(
        "tx", "ty", "data"), "x long, y long", tile_size, dtype, px, gg)
    votes = pts.select(
        F.explode(F.array(*[
            F.struct(
                F.lit(k).alias("k"),
                ((F.col("x") * cq[k] + F.col("y") * sq[k]
                  + F.lit(HOUGH_OFFSET)).cast("long")
                 / F.lit(HOUGH_STEP)).cast("long").alias("rho_idx"),
            )
            for k in range(n_angles)
        ])).alias("v")
    ).select("v.k", "v.rho_idx")
    return votes.groupBy("k", "rho_idx").agg(
        F.count(F.lit(1)).alias("votes")
    )


def curvature_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Per-tile second-derivative (curvature) accumulators -> (tx, ty, n,
    sum_abs_fxx, sum_abs_fyy, sum_abs_fxy): integer stencils
    fxx = v(x+1) + v(x-1) - 2c, fyy likewise, 4*fxy = v(x+1,y+1)
    - v(x+1,y-1) - v(x-1,y+1) + v(x-1,y-1) — the exact-integer
    roughness/curvature profile (Zevenbergen & Thorne 1987 numerators,
    public literature) a terrain or image-sharpness audit aggregates.
    Pixels whose 3x3 window leaves the raster or touches a missing tile
    are skipped; one halo gather, map-side sums."""
    ts = tile_size
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg, ts)

    def fn(key, pdf):
        gtx, gty, halo = _place_blocks(key, pdf, ts, dtype, 1, 1, np.nan)
        c = halo[1:1 + ts, 1:1 + ts]
        xm = halo[1:1 + ts, 0:ts]
        xp = halo[1:1 + ts, 2:2 + ts]
        ym = halo[0:ts, 1:1 + ts]
        yp = halo[2:2 + ts, 1:1 + ts]
        pp = halo[2:2 + ts, 2:2 + ts]
        pm = halo[0:ts, 2:2 + ts]
        mp = halo[2:2 + ts, 0:ts]
        mm = halo[0:ts, 0:ts]
        valid = np.isfinite(c)
        for nb in (xm, xp, ym, yp, pp, pm, mp, mm):
            valid &= np.isfinite(nb)
        interior = _interior(gtx, gty, ts, gg)
        sel = valid & interior
        if not sel.any():
            return pd.DataFrame({
                "tx": [], "ty": [], "n": [],
                "sum_abs_fxx": [], "sum_abs_fyy": [], "sum_abs_fxy": [],
            })
        fxx = np.abs(xp + xm - 2 * c)[sel].astype(np.int64)
        fyy = np.abs(yp + ym - 2 * c)[sel].astype(np.int64)
        fxy = np.abs(pp - pm - mp + mm)[sel].astype(np.int64)
        return pd.DataFrame({
            "tx": [gtx], "ty": [gty], "n": [int(sel.sum())],
            "sum_abs_fxx": [int(fxx.sum())],
            "sum_abs_fyy": [int(fyy.sum())],
            "sum_abs_fxy": [int(fxy.sum())],
        })

    return contrib.groupBy("gtx", "gty").applyInPandas(
        fn,
        schema=("tx long, ty long, n long, sum_abs_fxx long, "
                "sum_abs_fyy long, sum_abs_fxy long"),
    )


# 8-neighborhood: (dx, dy, mult) with mult 2 for orthogonal and 3 for
# diagonal steps — the 2/3 integer approximation of 1/sqrt(2) keeps every
# accumulated cost exact int64 (documented semantics of this operator)
_COST_STEPS = [(1, 0, 2), (-1, 0, 2), (0, 1, 2), (0, -1, 2),
               (1, 1, 3), (1, -1, 3), (-1, 1, 3), (-1, -1, 3)]


def _pixel_rows(tiles_df, gg, band, tile_size, dtype) -> DataFrame:
    """Tiles -> one (x, y, z) row per pixel of ``band`` inside the
    raster extent, the value widened to int64: the sparse cell table of
    the graph-shaped operators (cost distance, viewshed)."""
    def px(r, block):
        return dict(_cells(r, block, tile_size), z=block.ravel().astype(np.int64))

    return _map_tiles(tiles_df.filter(F.col("band") == band).select(
        "tx", "ty", "data"), "x long, y long, z long", tile_size, dtype, px, gg)


def cost_distance_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    hops: int = 8,
    source_max_cost: int = 1,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Raster cost-distance (least accumulated cost to the nearest
    source cell, Dijkstra semantics hop-bounded) -> (x, y, dist):
    per-cell cost c = value + 1 (always positive), moving u -> v costs
    (c_u + c_v) * 2 orthogonally and * 3 diagonally (the exact-integer
    1.5x diagonal rule), sources are the cells with c <= ``source_max_
    cost``.  The hop bound is part of the SEMANTICS (the shortest_paths
    contract): both engines run exactly ``hops`` relax rounds, so run
    hops >= the cost-field diameter for the classic answer.

    Shape: map-side sparse cell extraction, ONE equi-join builds the
    8-neighbor edge list (explode the offsets, join back on the
    destination cell), then one keyed join + min-agg per round with
    localCheckpoint truncation — the grid twin of graph.shortest_paths;
    everything shuffles on the cell key, nothing on the driver."""
    w = gg.width
    cells = _pixel_rows(tiles_df, gg, band, tile_size, dtype).select(
        "x", "y", (F.col("z") + 1).alias("c")
    ).localCheckpoint()
    node = (F.col("y") * w + F.col("x")).alias("node")
    arms = cells.select(
        "x", "y", F.col("c").alias("cu"),
        F.explode(F.array(*[
            F.struct(
                (F.col("x") + dx).alias("nx"),
                (F.col("y") + dy).alias("ny"),
                F.lit(m).alias("m"),
            )
            for dx, dy, m in _COST_STEPS
        ])).alias("o"),
    ).select(
        (F.col("y") * w + F.col("x")).alias("s"),
        F.col("o.nx").alias("x"), F.col("o.ny").alias("y"),
        "cu", F.col("o.m").alias("m"),
    )
    e = arms.join(cells.select("x", "y", F.col("c").alias("cv")),
                  ["x", "y"]).select(
        "s", (F.col("y") * w + F.col("x")).alias("d"),
        ((F.col("cu") + F.col("cv")) * F.col("m")).alias("w"),
    ).localCheckpoint()
    dist = cells.filter(F.col("c") <= int(source_max_cost)).select(
        node, F.lit(0).cast("long").alias("dist")
    ).localCheckpoint()
    for _ in range(int(hops)):
        dist = (
            dist.join(e, dist["node"] == e["s"])
            .select(F.col("d").alias("node"),
                    (F.col("dist") + F.col("w")).alias("dist"))
            .union(dist)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return dist.select(
        (F.col("node") % w).alias("x"),
        (F.col("node") / w).cast("long").alias("y"),
        "dist",
    )


def viewshed_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    ox: int,
    oy: int,
    obs_height: int = 20,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Raster viewshed (line-of-sight visibility from one observer) ->
    (x, y, vis): a target cell is visible iff NO sampled cell on the
    discrete ray from the observer blocks it.  All arithmetic is exact
    int64 — the ray from (ox,oy) to a target at Chebyshev distance
    d = max(|dx|,|dy|) is sampled at steps i = 1..d-1, the sample cell
    is the half-up-rounded nearest cell sx = (2*(ox*d + i*dx) + d) div
    (2*d) (same for sy; every quantity non-negative so floor == div in
    both engines), and "blocks" is the cross-multiplied slope test
    (z_s - zo) * d >= (z_t - zo) * i — no division, no trig, so the
    DuckDB oracle replays every pixel bit-exact.  zo = elevation at the
    observer + ``obs_height``.

    Shape: sparse cell extraction (mapInPandas), sequence/explode of the
    sample index per target (pure codegen), ONE equi-join back to the
    cell table for sample elevations, distinct blocked-target set, left
    join for the flag — two shuffles total, nothing on the driver but
    the observer's elevation scalar.  At scale the documented variant is
    radius-bounded (filter d <= R before the explode keeps sample count
    linear in cells); the full-raster form here is O(n * diameter).
    Beyond-reference raster analytics in the hillshade/TRI family
    (reference neighborhood contract: F/image/ImageProcessor.java)."""
    cells = _pixel_rows(tiles_df, gg, band, tile_size, dtype).localCheckpoint()
    zo = int(
        cells.filter((F.col("x") == ox) & (F.col("y") == oy))
        .first()["z"]
    ) + int(obs_height)

    targets = cells.filter(
        ~((F.col("x") == ox) & (F.col("y") == oy))
    ).select(
        "x", "y", F.col("z").alias("zt"),
        F.greatest(F.abs(F.col("x") - ox),
                   F.abs(F.col("y") - oy)).alias("d"),
    )
    # F.sequence DESCENDS when start > stop -> guard d == 1 with an
    # empty array (d == 1 neighbors have no intermediate samples).
    samples = targets.select(
        "x", "y", "zt", "d",
        F.explode(
            F.when(F.col("d") >= 2, F.sequence(F.lit(1), F.col("d") - 1))
            .otherwise(F.array().cast("array<int>"))
        ).alias("i"),
    ).select(
        "x", "y", "zt", "d", "i",
        F.expr(f"(2 * ({ox} * d + i * (x - {ox})) + d) div (2 * d)")
        .alias("sx"),
        F.expr(f"(2 * ({oy} * d + i * (y - {oy})) + d) div (2 * d)")
        .alias("sy"),
    )
    blocked = (
        samples.join(
            cells.select(F.col("x").alias("sx"), F.col("y").alias("sy"),
                         F.col("z").alias("zs")),
            ["sx", "sy"],
        )
        .filter((F.col("zs") - zo) * F.col("d")
                >= (F.col("zt") - zo) * F.col("i"))
        .select("x", "y")
        .distinct()
    )
    return cells.select("x", "y").join(
        blocked.withColumn("b", F.lit(1)), ["x", "y"], "left"
    ).select(
        "x", "y",
        F.when(F.col("b").isNull(), F.lit(1)).otherwise(F.lit(0))
        .cast("long").alias("vis"),
    )


def template_match_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    template,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """2-D template matching by exact integer SSD -> (x, y, ssd):
    ssd(x, y) = sum_{v,u} (raster[y+v, x+u] - T[v, u])^2 over every
    position whose (th x tw) window lies fully inside the raster —
    the localization primitive (logo/watermark/chart detection) of an
    image-curation pipeline, int64 end to end so the SQL oracle replays
    every position.

    Shape: the window is anchored top-left, so each destination tile
    gathers a RIGHT/DOWN apron from at most 3 forward neighbors (a
    4-way explode + groupBy — half the shuffle of the centered-halo
    ops); the (th*tw) kernel loop is vectorized whole-array adds per
    tile, no per-pixel Python.  Template must fit one tile ring
    (max(th, tw) <= tile_size + 1)."""
    T = np.asarray(template, dtype=np.int64)
    if T.ndim != 2:
        raise ValueError("template must be 2-D")
    th, tw = T.shape
    if max(th, tw) > tile_size + 1:
        raise ValueError("template exceeds one tile ring")
    h, w = gg.height, gg.width
    ts = tile_size
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg, ts,
                           dxs=(-1, 0), dys=(-1, 0))

    def fn(key, pdf):
        gtx, gty, apron = _place_blocks(key, pdf, ts, dtype, 0,
                                        (th - 1, tw - 1), 0, np.int64)
        ssd = np.zeros((ts, ts), dtype=np.int64)
        for v in range(th):
            for u in range(tw):
                d = apron[v:v + ts, u:u + ts] - T[v, u]
                ssd += d * d
        px = gtx * ts + np.arange(ts, dtype=np.int64)
        py = gty * ts + np.arange(ts, dtype=np.int64)
        GX, GY = np.meshgrid(px, py)
        keep = ((GX <= w - tw) & (GY <= h - th)).ravel()
        if not keep.any():
            return pd.DataFrame({"x": [], "y": [], "ssd": []})
        return pd.DataFrame({
            "x": GX.ravel()[keep], "y": GY.ravel()[keep],
            "ssd": ssd.ravel()[keep],
        })

    return contrib.groupBy("gtx", "gty").applyInPandas(
        fn, schema="x long, y long, ssd long"
    )


def harris_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    threshold: int,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Harris corner response (Harris & Stephens 1988, public literature)
    -> sparse (x, y, r): Sobel gradients Ix/Iy, structure-tensor window
    sums over the 3x3 neighborhood (Sxx, Syy, Sxy), and the k = 1/20
    response kept exact-integer as r = 20*(Sxx*Syy - Sxy^2) -
    (Sxx+Syy)^2.  Magnitudes: |Ix| <= 1020, Sxx <= 9.4e6, 20*det <=
    1.8e15 — all int64-safe, no FP anywhere.

    Pixels whose 5x5 support leaves the raster (or touches a missing
    tile) are skipped; only responses >= threshold are emitted (the
    corner shortlist an image-curation pipeline feeds to NMS/matching).

    Shape: one 2-pixel halo gather (the same 9-way shuffle as the
    gradient machinery), then map-side integer numpy; output is the
    sparse corner list."""
    ts = tile_size
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg, ts)
    R = 2
    thr = int(threshold)

    def fn(key, pdf):
        gtx, gty, halo = _place_blocks(key, pdf, ts, dtype, R, R, np.nan)

        # Sobel on the (ts+2)-wide inner frame; sub(dy,dx) is that frame
        # shifted — float64 holds these (< 2^11) exactly.
        def sub(dy, dx):
            return halo[1 + dy:1 + dy + ts + 2, 1 + dx:1 + dx + ts + 2]

        fin = np.isfinite(halo)

        def fin3(a):  # 3x3 all-finite for a (n+2)-wide frame -> n-wide
            n = a.shape[0] - 2
            out = np.ones((n, n), bool)
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    out &= a[1 + dy:1 + dy + n, 1 + dx:1 + dx + n]
            return out

        gvalid = fin3(fin)            # (ts+2)^2: gradient support finite
        ix = (sub(-1, 1) + 2 * sub(0, 1) + sub(1, 1)
              - sub(-1, -1) - 2 * sub(0, -1) - sub(1, -1))
        iy = (sub(1, -1) + 2 * sub(1, 0) + sub(1, 1)
              - sub(-1, -1) - 2 * sub(-1, 0) - sub(-1, 1))
        ix = np.where(gvalid, ix, 0).astype(np.int64)
        iy = np.where(gvalid, iy, 0).astype(np.int64)

        def w3(a):  # 3x3 window sum of a (ts+2)-wide int plane -> ts
            out = np.zeros((ts, ts), np.int64)
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    out += a[1 + dy:1 + dy + ts, 1 + dx:1 + dx + ts]
            return out

        sxx = w3(ix * ix)
        syy = w3(iy * iy)
        sxy = w3(ix * iy)
        # center valid = all 9 gradient cells valid
        ok = np.ones((ts, ts), bool)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                ok &= gvalid[1 + dy:1 + dy + ts, 1 + dx:1 + dx + ts]
        r = 20 * (sxx * syy - sxy * sxy) - (sxx + syy) * (sxx + syy)
        interior = _interior(gtx, gty, ts, gg, R)
        sel = ok & interior & (r >= thr)
        ys, xs = np.nonzero(sel)
        if not len(ys):
            return pd.DataFrame({"x": [], "y": [], "r": []})
        return pd.DataFrame({
            "x": (gtx * ts + xs).astype(np.int64),
            "y": (gty * ts + ys).astype(np.int64),
            "r": r[ys, xs],
        })

    return contrib.groupBy("gtx", "gty").applyInPandas(
        fn, schema="x long, y long, r long"
    )


def disparity_tiles(
    left_df: DataFrame,
    right_df: DataFrame,
    gg: GridGeometry,
    d_max: int = 8,
    block: int = 8,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Stereo block-matching disparity (the classic SSD scanline search,
    public literature) -> (bx, by, d, ssd): for each block x block patch
    of the LEFT image, the integer disparity d in [0, d_max] minimizing
    sum((L(x, y) - R(x - d, y))^2), ties to the SMALLEST d.  Pure int64
    (ssd <= block^2 * 255^2).  Blocks whose search window leaves the
    raster (or touches a missing right tile) are skipped.

    Shape: right tiles ship leftward-only (each right tile contributes to
    its own group and its +x neighbor — a 2-way halo, cheaper than the
    9-way stencil gather), cogrouped with the left tile; per-group numpy
    evaluates all d_max+1 shifts vectorized."""
    if d_max > tile_size:
        raise ValueError("d_max must be <= tile_size")
    h, w = gg.height, gg.width
    ts = tile_size
    left = left_df.filter(F.col("band") == band)
    rcontrib = _halo_groups(right_df.filter(F.col("band") == band), gg, ts,
                            dxs=(0, 1), dys=(0,))

    def fn(key, l_pdf, r_pdf):
        empty = pd.DataFrame({"bx": [], "by": [], "d": [], "ssd": []})
        if not len(l_pdf) or not len(r_pdf):
            return empty
        L = np.frombuffer(l_pdf["data"].iloc[0], dtype=dtype).reshape(
            ts, ts).astype(np.float64)
        # columns [tx*ts - ts, tx*ts + ts)
        tx, ty, rh = _place_blocks(key, r_pdf, ts, dtype, (0, ts), 0, np.nan)
        nb = ts // block
        best_ssd = np.full((nb, nb), np.inf)
        best_d = np.zeros((nb, nb), np.int64)
        allfinite = np.ones((nb, nb), bool)
        for d in range(d_max + 1):
            rsh = rh[:, ts - d:2 * ts - d]
            diff = (L - rsh) ** 2
            ssd = diff.reshape(nb, block, nb, block).sum(axis=(1, 3))
            allfinite &= np.isfinite(ssd)
            better = ssd < best_ssd          # NaN never wins; ties keep min d
            best_ssd = np.where(better, ssd, best_ssd)
            best_d = np.where(better, d, best_d)
        gbx = tx * nb + np.arange(nb)
        gby = ty * nb + np.arange(nb)
        ok = allfinite                        # every shift's window present
        # search window must stay inside the raster on both images
        ok &= (gbx[None, :] * block >= d_max)
        ok &= (gbx[None, :] * block + block - 1 <= w - 1)
        ok &= (gby[:, None] * block + block - 1 <= h - 1)
        ys, xs = np.nonzero(ok)
        if not len(ys):
            return empty
        return pd.DataFrame({
            "bx": gbx[xs].astype(np.int64),
            "by": gby[ys].astype(np.int64),
            "d": best_d[ys, xs],
            "ssd": best_ssd[ys, xs].astype(np.int64),
        })

    return (
        left.groupBy("tx", "ty")
        .cogroup(rcontrib.groupBy("gtx", "gty"))
        .applyInPandas(fn, schema="bx long, by long, d long, ssd long")
    )


def optical_flow_tiles(
    a_df: DataFrame,
    b_df: DataFrame,
    gg: GridGeometry,
    s_max: int = 4,
    block: int = 8,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Block-matching optical flow between two co-registered epochs
    (the classic exhaustive-search motion estimation of video coding,
    public literature) -> (bx, by, dx, dy, ssd): for each block x block
    patch of epoch A, the displacement (dx, dy) in [0, s_max]^2
    minimizing sum((A(x, y) - B(x - dx, y - dy))^2); ties take the
    lexicographically smallest (dy, dx).  Exact int64 SSDs.

    The positive-only search quadrant matches the common camera/feed
    drift case (pass mirrored B tiles for signed search).  Blocks whose
    search window leaves the raster or touches a missing B tile are
    skipped.  Shape: B tiles ship to their own and their (+x, +y)
    neighbor groups (4-way halo — the search only looks up-left), then
    per-group numpy evaluates all (s_max+1)^2 shifts vectorized."""
    if s_max > tile_size:
        raise ValueError("s_max must be <= tile_size")
    h, w = gg.height, gg.width
    ts = tile_size
    a = a_df.filter(F.col("band") == band)
    bcontrib = _halo_groups(b_df.filter(F.col("band") == band), gg, ts,
                            dxs=(0, 1), dys=(0, 1))

    def fn(key, a_pdf, b_pdf):
        empty = pd.DataFrame(
            {"bx": [], "by": [], "dx": [], "dy": [], "ssd": []})
        if not len(a_pdf) or not len(b_pdf):
            return empty
        A = np.frombuffer(a_pdf["data"].iloc[0], dtype=dtype).reshape(
            ts, ts).astype(np.float64)
        # rows/cols [g*ts - ts, g*ts + ts)
        tx, ty, bh = _place_blocks(key, b_pdf, ts, dtype, ts, 0, np.nan)
        nb = ts // block
        best_ssd = np.full((nb, nb), np.inf)
        best_dx = np.zeros((nb, nb), np.int64)
        best_dy = np.zeros((nb, nb), np.int64)
        allfinite = np.ones((nb, nb), bool)
        for dy in range(s_max + 1):
            for dx in range(s_max + 1):
                rsh = bh[ts - dy:2 * ts - dy, ts - dx:2 * ts - dx]
                diff = (A - rsh) ** 2
                ssd = diff.reshape(nb, block, nb, block).sum(axis=(1, 3))
                allfinite &= np.isfinite(ssd)
                # dy-outer loop + strict < == smallest (dy, dx) on ties
                better = ssd < best_ssd
                best_ssd = np.where(better, ssd, best_ssd)
                best_dx = np.where(better, dx, best_dx)
                best_dy = np.where(better, dy, best_dy)
        gbx = tx * nb + np.arange(nb)
        gby = ty * nb + np.arange(nb)
        ok = allfinite
        ok &= (gbx[None, :] * block >= s_max)
        ok &= (gby[:, None] * block >= s_max)
        ok &= (gbx[None, :] * block + block - 1 <= w - 1)
        ok &= (gby[:, None] * block + block - 1 <= h - 1)
        ys, xs = np.nonzero(ok)
        if not len(ys):
            return empty
        return pd.DataFrame({
            "bx": gbx[xs].astype(np.int64),
            "by": gby[ys].astype(np.int64),
            "dx": best_dx[ys, xs],
            "dy": best_dy[ys, xs],
            "ssd": best_ssd[ys, xs].astype(np.int64),
        })

    return (
        a.groupBy("tx", "ty")
        .cogroup(bcontrib.groupBy("gtx", "gty"))
        .applyInPandas(
            fn, schema="bx long, by long, dx long, dy long, ssd long")
    )


CANNY_AXIS_SQL = """CASE WHEN abs({gy}) * 29 <= abs({gx}) * 12 THEN 0
     WHEN abs({gx}) * 29 <= abs({gy}) * 12 THEN 2
     WHEN {gx} * {gy} >= 0 THEN 1 ELSE 3 END"""

_CANNY_OFFS = {0: (1, 0), 1: (1, 1), 2: (0, 1), 3: (1, -1)}


def canny_nms_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    t_low: int,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Canny stages 1-3 (Canny 1986, public literature) under an exact
    integer spec -> sparse (x, y, m2): Sobel gradients, m2 = gx^2 +
    gy^2, direction quantized to 4 NMS axes by the INTEGER sector rule
    12/29 ~ tan(22.5 deg) (CANNY_AXIS_SQL — shared text with the
    oracle), keep pixels whose m2 >= both axis neighbors (plateaus
    survive on both sides — deterministic) and m2 >= t_low.  2-px halo
    gather; hysteresis is ``canny_edges`` downstream."""
    ts = tile_size
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg, ts)
    R = 2
    tl = int(t_low)

    def fn(key, pdf):
        gtx, gty, halo = _place_blocks(key, pdf, ts, dtype, R, R, np.nan)

        def sub(dy, dx):
            return halo[1 + dy:1 + dy + ts + 2, 1 + dx:1 + dx + ts + 2]

        gx = (sub(-1, 1) + 2 * sub(0, 1) + sub(1, 1)
              - sub(-1, -1) - 2 * sub(0, -1) - sub(1, -1))
        gy = (sub(1, -1) + 2 * sub(1, 0) + sub(1, 1)
              - sub(-1, -1) - 2 * sub(-1, 0) - sub(-1, 1))
        m2 = gx * gx + gy * gy               # (ts+2)^2, NaN where unknown
        ax_, ay_ = np.abs(gx), np.abs(gy)
        axis = np.where(
            ay_ * 29 <= ax_ * 12, 0,
            np.where(ax_ * 29 <= ay_ * 12, 2,
                     np.where(gx * gy >= 0, 1, 3)),
        )
        c = m2[1:1 + ts, 1:1 + ts]
        caxis = axis[1:1 + ts, 1:1 + ts]
        n1 = np.full((ts, ts), np.nan)
        n2 = np.full((ts, ts), np.nan)
        for a, (dx, dy) in _CANNY_OFFS.items():
            sel = caxis == a
            n1 = np.where(sel, m2[1 + dy:1 + dy + ts, 1 + dx:1 + dx + ts], n1)
            n2 = np.where(sel, m2[1 - dy:1 - dy + ts, 1 - dx:1 - dx + ts], n2)
        interior = _interior(gtx, gty, ts, gg, R)
        keep = (
            np.isfinite(c) & np.isfinite(n1) & np.isfinite(n2)
            & (c >= n1) & (c >= n2) & (c >= tl) & interior
        )
        ys, xs = np.nonzero(keep)
        if not len(ys):
            return pd.DataFrame({"x": [], "y": [], "m2": []})
        return pd.DataFrame({
            "x": (gtx * ts + xs).astype(np.int64),
            "y": (gty * ts + ys).astype(np.int64),
            "m2": c[ys, xs].astype(np.int64),
        })

    return contrib.groupBy("gtx", "gty").applyInPandas(
        fn, schema="x long, y long, m2 long"
    )


def canny_edges(
    nms: DataFrame,
    gg: GridGeometry,
    t_high: int,
) -> DataFrame:
    """Canny hysteresis -> (x, y): keep every NMS survivor 8-connected
    (through survivors) to a strong pixel (m2 >= t_high).  Distributed
    as a graph problem on the SPARSE survivor set: 8-neighbor edges via
    a shifted-key equi-join (never a pixel-count-sized shuffle), then
    operators/graph.py connected components; components containing a
    strong member emit all their members."""
    from ..operators.graph import connected_components

    w = gg.width
    nodes = nms.select(
        "x", "y", "m2", (F.col("y") * w + F.col("x")).alias("nid")
    )
    nbr = nodes.select(
        F.col("nid").alias("a"),
        F.explode(F.array(*[
            F.struct((F.col("x") + dx).alias("x"),
                     (F.col("y") + dy).alias("y"))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)
        ])).alias("g"),
    ).select("a", "g.x", "g.y")
    edges = nbr.join(
        nodes.select("x", "y", F.col("nid").alias("b")), ["x", "y"]
    ).select("a", "b")
    loops = nodes.select(F.col("nid").alias("a"), F.col("nid").alias("b"))
    comp = connected_components(edges.unionByName(loops))
    labeled = nodes.join(comp, nodes.nid == comp.node).select(
        "x", "y", "m2", "comp")
    strong = (
        labeled.filter(F.col("m2") >= int(t_high))
        .select("comp").distinct()
    )
    return labeled.join(strong, ["comp"]).select("x", "y")


def euler_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    threshold: int,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Per-tile Euler-number quad counts of the mask (pixel >= threshold)
    by Gray's formula (Gray 1971, public literature): over every 2x2
    window of the zero-padded plane (anchors x, y in [-1, W-1] x
    [-1, H-1]), count Q1 (exactly one foreground), Q3 (exactly three)
    and Qd (diagonal pairs); the global Euler number is then
    (Q1 - Q3 + 2*Qd)/4 under 4-connectivity and (Q1 - Q3 - 2*Qd)/4
    under 8-connectivity — components minus holes, exact integer
    topology with NO labeling pass.

    Anchor ownership: tile of pixel (max(x,0), max(y,0)) — the x=-1 /
    y=-1 padding columns belong to the first tile row/column (same rule
    as the oracle's greatest(x,0)//T).  One 1-px halo gather; missing
    neighbor tiles read as background."""
    ts = tile_size
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg, ts)
    thr = int(threshold)

    def fn(key, pdf):
        # mask plane; pad, missing and out-of-extent pixels = 0
        gtx, gty, halo = _place_blocks(key, pdf, ts, dtype, 1, 1, 0, np.int64,
                                       extent=gg, block_fn=lambda b: b >= thr)
        # anchors owned by this tile: x in [gtx*ts .. +ts-1], plus the
        # -1 padding column/row for the first tile col/row
        lx0 = 0 if gtx == 0 else 1
        ly0 = 0 if gty == 0 else 1
        A = halo[ly0:1 + ts, lx0:1 + ts]
        B = halo[ly0:1 + ts, lx0 + 1:2 + ts]
        C = halo[ly0 + 1:2 + ts, lx0:1 + ts]
        D = halo[ly0 + 1:2 + ts, lx0 + 1:2 + ts]
        s = A + B + C + D
        q1 = int((s == 1).sum())
        q3 = int((s == 3).sum())
        qd = int((((A == 1) & (D == 1) & (B == 0) & (C == 0))
                  | ((B == 1) & (C == 1) & (A == 0) & (D == 0))).sum())
        return pd.DataFrame({"tx": [gtx], "ty": [gty],
                             "q1": [q1], "q3": [q3], "qd": [qd]})

    return contrib.groupBy("gtx", "gty").applyInPandas(
        fn, schema="tx long, ty long, q1 long, q3 long, qd long"
    )


# Zhang-Suen neighbor ring P2..P9 (x right, y down), shared with the oracle
ZS_OFFS = {2: (0, -1), 3: (1, -1), 4: (1, 0), 5: (1, 1),
           6: (0, 1), 7: (-1, 1), 8: (-1, 0), 9: (-1, -1)}


def zhang_suen_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    threshold: int,
    rounds: int,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """K-round Zhang-Suen thinning (Zhang & Suen 1984, public
    literature) of the mask (pixel >= threshold) -> surviving (x, y):
    each round runs the two classic subpasses (delete if 2<=B<=6, A==1,
    and the parity's two neighbor products are 0).  K rounds of the
    fixpoint iteration — enough to skeletonize strokes up to ~2K px
    wide; outside-raster reads are background.

    Scale shape — time-skewed stencil: a subpass only propagates
    influence 1 px, so ONE halo gather of width 2*rounds lets every tile
    run all 2*rounds subpasses locally and exactly (the central
    tile_size^2 region is provably unaffected by unknown cells beyond
    the halo).  Zero iterative shuffles, zero driver round-trips —
    unlike a naive per-round exchange this costs the same shuffle count
    as a single convolution."""
    R = 2 * int(rounds)
    if R > tile_size:
        raise ValueError("rounds too large for the 1-tile halo")
    ts = tile_size
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg, ts)
    thr = int(threshold)

    def fn(key, pdf):
        gtx, gty, M = _place_blocks(key, pdf, ts, dtype, R, R, 0, np.int64,
                                    extent=gg, block_fn=lambda b: b >= thr)

        for it in range(2 * int(rounds)):
            P = np.pad(M, 1)
            n = {k: P[1 + dy:1 + dy + M.shape[0],
                      1 + dx:1 + dx + M.shape[1]]
                 for k, (dx, dy) in ZS_OFFS.items()}
            B = sum(n.values())
            ring = [n[k] for k in (2, 3, 4, 5, 6, 7, 8, 9, 2)]
            A = sum(((ring[i] == 0) & (ring[i + 1] == 1)).astype(np.int64)
                    for i in range(8))
            if it % 2 == 0:
                pr = (n[2] * n[4] * n[6] == 0) & (n[4] * n[6] * n[8] == 0)
            else:
                pr = (n[2] * n[4] * n[8] == 0) & (n[2] * n[6] * n[8] == 0)
            kill = (M == 1) & (B >= 2) & (B <= 6) & (A == 1) & pr
            M = np.where(kill, 0, M)

        core = M[R:R + ts, R:R + ts]
        ys, xs = np.nonzero(core)
        if not len(ys):
            return pd.DataFrame({"x": [], "y": []})
        return pd.DataFrame({
            "x": (gtx * ts + xs).astype(np.int64),
            "y": (gty * ts + ys).astype(np.int64),
        })

    return contrib.groupBy("gtx", "gty").applyInPandas(
        fn, schema="x long, y long"
    )


def zhang_suen_round_sql(prev: str, cur: str, parity: int) -> str:
    """One Zhang-Suen subpass as a DuckDB CTE: ``cur`` keeps the pixels
    of ``prev`` that the subpass does not delete (8 LEFT JOINs stand in
    for the neighbor reads; absent row = background)."""
    joins = "\n  ".join(
        f"LEFT JOIN {prev} n{k} ON n{k}.x = p.x + {dx} "
        f"AND n{k}.y = p.y + {dy}"
        for k, (dx, dy) in ZS_OFFS.items()
    )
    b = {k: f"(CASE WHEN n{k}.x IS NOT NULL THEN 1 ELSE 0 END)"
         for k in ZS_OFFS}
    ring = [2, 3, 4, 5, 6, 7, 8, 9, 2]
    a = " + ".join(
        f"(CASE WHEN {b[ring[i]]} = 0 AND {b[ring[i + 1]]} = 1 "
        f"THEN 1 ELSE 0 END)"
        for i in range(8)
    )
    bsum = " + ".join(b.values())
    if parity == 0:
        pr = (f"({b[2]} * {b[4]} * {b[6]} = 0) "
              f"AND ({b[4]} * {b[6]} * {b[8]} = 0)")
    else:
        pr = (f"({b[2]} * {b[4]} * {b[8]} = 0) "
              f"AND ({b[2]} * {b[6]} * {b[8]} = 0)")
    return (
        f"{cur} AS MATERIALIZED (\n"
        f"  SELECT p.x, p.y FROM {prev} p\n  {joins}\n"
        f"  WHERE NOT ((({bsum}) BETWEEN 2 AND 6) AND (({a}) = 1) "
        f"AND {pr}))"
    )


def demosaic_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Bilinear demosaic of an RGGB Bayer mosaic (the standard camera
    pipeline interpolation, public literature) under an exact x4-scaled
    integer spec -> per-pixel (r4, g4, b4) emitted as bands 0/1/2 (each
    value is 4x the bilinear estimate, so no division anywhere):

      R site (even x, even y): r4 = 4m; g4 = N+S+E+W; b4 = 4 diagonals
      G site in an R row:      r4 = 2(E+W); g4 = 4m; b4 = 2(N+S)
      G site in a B row:       r4 = 2(N+S); g4 = 4m; b4 = 2(E+W)
      B site (odd x, odd y):   b4 = 4m; g4 = N+S+E+W; r4 = 4 diagonals

    Border pixels (any 8-neighbor off-raster or on a missing tile) emit
    0 in all three planes — interior-only semantics shared with the
    oracle.  One 1-px halo gather; output values <= 1020 ship as uint16
    little-endian bytes."""
    ts = tile_size
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg, ts)

    def fn(key, pdf):
        gtx, gty, halo = _place_blocks(key, pdf, ts, dtype, 1, 1, np.nan)

        def nb(dy, dx):
            return halo[1 + dy:1 + dy + ts, 1 + dx:1 + dx + ts]

        m = nb(0, 0)
        edges = nb(-1, 0) + nb(1, 0) + nb(0, -1) + nb(0, 1)
        diags = nb(-1, -1) + nb(-1, 1) + nb(1, -1) + nb(1, 1)
        ns = nb(-1, 0) + nb(1, 0)
        ew = nb(0, -1) + nb(0, 1)
        gx = gtx * ts + np.arange(ts)
        gy = gty * ts + np.arange(ts)
        ex = (gx % 2 == 0)[None, :]
        ey = (gy % 2 == 0)[:, None]
        r4 = np.where(ex & ey, 4 * m,
                      np.where(~ex & ey, 2 * ew,
                               np.where(ex & ~ey, 2 * ns, diags)))
        b4 = np.where(~ex & ~ey, 4 * m,
                      np.where(ex & ~ey, 2 * ew,
                               np.where(~ex & ey, 2 * ns, diags)))
        g4 = np.where(ex == ey, edges, 4 * m)   # broadcast XNOR of parities
        valid = np.isfinite(m + edges + diags)
        interior = _interior(gtx, gty, ts, gg)
        ok = valid & interior
        rows = []
        for bidx, plane in ((0, r4), (1, g4), (2, b4)):
            out = np.where(ok, plane, 0).astype("<u2")
            rows.append({"tx": gtx, "ty": gty, "band": bidx,
                         "data": out.tobytes()})
        return pd.DataFrame(rows)

    return contrib.groupBy("gtx", "gty").applyInPandas(
        fn, schema="tx long, ty long, band int, data binary"
    )


def lbp_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Local binary patterns (Ojala et al. 1996/2002, the classic
    texture descriptor) per tile -> (tx, ty, code, n): for each INTERIOR
    raster pixel (full 8-neighborhood inside the raster), code =
    sum over k of 2^k * [neighbor_k >= center], neighbors in the fixed
    raster-scan order k=0..7 of (dx, dy) in
    (-1,-1),(0,-1),(1,-1),(-1,0),(1,0),(-1,1),(0,1),(1,1);
    n = interior pixels of the tile with that code.  Per-tile LBP
    histograms are the texture feature vector for patch retrieval /
    classification; pure integer comparisons end to end.

    Same halo-gather shuffle as the gradient (shuffled volume = tile
    perimeter); the 8 comparisons are one vectorized expression and the
    histogram one bincount per tile."""
    ts = tile_size
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg, ts)
    offs = [(-1, -1), (0, -1), (1, -1), (-1, 0),
            (1, 0), (-1, 1), (0, 1), (1, 1)]

    def fn(key, pdf):
        gtx, gty, halo = _place_blocks(key, pdf, ts, dtype, 1, 1, 0, np.int64)
        interior = _interior(gtx, gty, ts, gg)
        c = halo[1:1 + ts, 1:1 + ts]
        code = np.zeros((ts, ts), dtype=np.int64)
        for k, (dx, dy) in enumerate(offs):
            nb = halo[1 + dy:1 + dy + ts, 1 + dx:1 + dx + ts]
            code += (nb >= c).astype(np.int64) << k
        codes = code[interior]
        if codes.size == 0:
            return pd.DataFrame(
                {"tx": [], "ty": [], "code": [], "n": []}
            ).astype({"tx": "int64", "ty": "int64",
                      "code": "int64", "n": "int64"})
        cnt = np.bincount(codes, minlength=256)
        nz = np.nonzero(cnt)[0]
        return pd.DataFrame({
            "tx": np.full(nz.size, gtx, dtype=np.int64),
            "ty": np.full(nz.size, gty, dtype=np.int64),
            "code": nz.astype(np.int64),
            "n": cnt[nz].astype(np.int64),
        })

    return contrib.groupBy("gtx", "gty").applyInPandas(
        fn, schema="tx long, ty long, code long, n long"
    )


def bilateral_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """All-integer 5x5 bilateral-style edge-preserving smoother (Tomasi &
    Manduchi 1998, derationalized to exact integers): per pixel,

        out = floor( sum_{|dx|<=2,|dy|<=2} sw*rw*v  /  sum sw*rw )

    with spatial weight sw = (3-|dx|)*(3-|dy|) and range weight
    rw = max(0, 32 - |v - v0| // 4) — a piecewise-linear stand-in for the
    Gaussian range kernel so both engines evaluate identical integer
    arithmetic (no exp, no doubles).  The center term always contributes
    sw*rw = 288, so the denominator is never 0.  Out-of-extent neighbors
    pad 0 (their large |diff| self-attenuates, the usual border story).

    Same single halo-gather shuffle as rank_filter_tiles (tile_size >= 2
    covers the radius-2 stencil from the 8 neighbor tiles); the 25
    shifted adds are vectorized numpy."""
    ts = tile_size
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg, ts)
    r = 2

    def fn(key, pdf):
        gtx, gty, halo = _place_blocks(key, pdf, ts, dtype, r, r, 0, np.int64,
                                       extent=gg)
        v0 = halo[r:r + ts, r:r + ts]
        num = np.zeros((ts, ts), dtype=np.int64)
        den = np.zeros((ts, ts), dtype=np.int64)
        for dy in range(-r, r + 1):
            for dx in range(-r, r + 1):
                nb = halo[r + dy:r + dy + ts, r + dx:r + dx + ts]
                sw = (3 - abs(dx)) * (3 - abs(dy))
                rw = np.maximum(0, 32 - np.abs(nb - v0) // 4)
                num += sw * rw * nb
                den += sw * rw
        out = num // den
        return pd.DataFrame({
            "tx": [gtx], "ty": [gty],
            "data": [out.astype(np.int64).tobytes()],
        })

    return contrib.groupBy("gtx", "gty").applyInPandas(
        fn, schema="tx long, ty long, data binary"
    )


def adaptive_threshold_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    radius: int = 4,
    t_pct: int = 15,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Bradley-Roth adaptive thresholding (Bradley & Roth 2007, public
    literature) -> binarized tiles (tx, ty, data int64 of 0/255): pixel
    is foreground iff

        v * cnt * 100  >=  boxsum * (100 - t_pct)

    over the extent-clamped (2r+1)^2 window — sum from an integral
    image over the zero-padded halo (out-of-extent contributes 0), cnt
    the analytic count of in-extent window pixels.  All-integer, so the
    oracle replays it with two separable 1-D window-frame passes.

    Same single halo-gather shuffle as bilateral_tiles (radius <=
    tile_size); per-tile work is one 2-D cumsum + vectorized compares."""
    h, w = gg.height, gg.width
    ts = tile_size
    r = int(radius)
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg, ts)

    def fn(key, pdf):
        gtx, gty, halo = _place_blocks(key, pdf, ts, dtype, r, r, 0, np.int64,
                                       extent=gg)
        ii = np.zeros((ts + 2 * r + 1, ts + 2 * r + 1), dtype=np.int64)
        ii[1:, 1:] = halo.cumsum(0).cumsum(1)
        # box sum for every tile pixel (window spans the full halo)
        s = (
            ii[2 * r + 1:, 2 * r + 1:]
            - ii[: ts, 2 * r + 1:]
            - ii[2 * r + 1:, : ts]
            + ii[: ts, : ts]
        )
        px = gtx * ts + np.arange(ts)[None, :]
        py = gty * ts + np.arange(ts)[:, None]
        cnt = (
            (np.minimum(px + r, w - 1) - np.maximum(px - r, 0) + 1)
            * (np.minimum(py + r, h - 1) - np.maximum(py - r, 0) + 1)
        )
        v = halo[r:r + ts, r:r + ts]
        out = np.where(v * cnt * 100 >= s * (100 - int(t_pct)), 255, 0)
        return pd.DataFrame({
            "tx": [gtx], "ty": [gty],
            "data": [out.astype(np.int64).tobytes()],
        })

    return contrib.groupBy("gtx", "gty").applyInPandas(
        fn, schema="tx long, ty long, data binary"
    )


def census_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Census transform (Zabih & Woodfill 1994, the illumination-
    invariant stereo/matching descriptor): every pixel becomes the
    8-bit pattern of strict (neighbor > center) comparisons over its
    3x3 ring, bit k following row-major ring order.  Out-of-extent
    neighbors read 0 (zero padding), matching the rank-filter
    convention.  Same 9-way halo shuffle as rank_filter_tiles; pure
    integer comparisons, so the oracle replays every bit."""
    h, w = gg.height, gg.width
    ts = tile_size
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg, ts)

    def fn(key, pdf):
        gtx, gty, halo = _place_blocks(key, pdf, ts, dtype, 1, 1, 0, np.int64,
                                       extent=gg)
        center = halo[1:1 + ts, 1:1 + ts]
        out = np.zeros((ts, ts), dtype=np.int64)
        bit = 0
        for dy in range(3):
            for dx in range(3):
                if dy == 1 and dx == 1:
                    continue
                nb = halo[dy:dy + ts, dx:dx + ts]
                out |= (nb > center).astype(np.int64) << bit
                bit += 1
        px = gtx * ts + np.arange(ts)
        py = gty * ts + np.arange(ts)
        out[:, px >= w] = 0
        out[py >= h, :] = 0
        return pd.DataFrame([{"tx": gtx, "ty": gty, "data": out.tobytes()}])

    return contrib.groupBy("gtx", "gty").applyInPandas(fn, schema=CONV_SCHEMA)


# 48 derandomized BRIEF sampling pairs, |offset| <= 7 (Calonder et al.
# 2010 use a random pattern; a fixed modular pattern keeps the gate
# oracle-replayable).  bit b: I(k + (dx1,dy1)) > I(k + (dx2,dy2)).
BRIEF_PAIRS = [
    ((b * 37 + 11) % 15 - 7, (b * 53 + 29) % 15 - 7,
     (b * 71 + 3) % 15 - 7, (b * 89 + 41) % 15 - 7)
    for b in range(48)
]


def brief_descriptors_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    step: int = 16,
    margin: int = 8,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """BRIEF binary descriptors (Calonder et al. 2010) at grid keypoints
    -> (kx, ky, desc): 48 strict pixel-pair comparisons from the fixed
    BRIEF_PAIRS pattern, packed into an int64 — the feature-matching
    descriptor stage of an image-registration pipeline (pair with
    imageops.hamming_join_bands for matching).  Keypoints sit on the
    ``step`` grid, at least ``margin`` from the extent edge; each tile
    computes its own keypoints from a margin-wide halo assembled from
    the 9-way neighbor shuffle (pattern offsets never leave it)."""
    h, w = gg.height, gg.width
    ts = tile_size
    M = int(margin)
    assert all(
        abs(o) <= M for p in BRIEF_PAIRS for o in p
    ), "pattern exceeds margin"
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg, ts)

    def fn(key, pdf):
        gtx, gty, halo = _place_blocks(key, pdf, ts, dtype, M, M, 0, np.int64)
        x0g, y0g = gtx * ts, gty * ts
        kxs = np.arange(
            ((max(x0g, M) + step - 1) // step) * step,
            min(x0g + ts, w - M), step, dtype=np.int64,
        )
        kys = np.arange(
            ((max(y0g, M) + step - 1) // step) * step,
            min(y0g + ts, h - M), step, dtype=np.int64,
        )
        if len(kxs) == 0 or len(kys) == 0:
            return pd.DataFrame({"kx": [], "ky": [], "desc": []}).astype(
                {"kx": np.int64, "ky": np.int64, "desc": np.int64}
            )
        KX, KY = np.meshgrid(kxs, kys)
        lx = KX - x0g + M
        ly = KY - y0g + M
        desc = np.zeros_like(KX)
        for b, (dx1, dy1, dx2, dy2) in enumerate(BRIEF_PAIRS):
            v1 = halo[ly + dy1, lx + dx1]
            v2 = halo[ly + dy2, lx + dx2]
            desc |= (v1 > v2).astype(np.int64) << b
        return pd.DataFrame({
            "kx": KX.ravel(), "ky": KY.ravel(), "desc": desc.ravel()
        })

    return contrib.groupBy("gtx", "gty").applyInPandas(
        fn, schema="kx long, ky long, desc long"
    )


def brief_desc_sql(v_fn, kx: str = "kx", ky: str = "ky") -> str:
    """SQL expression for the BRIEF_PAIRS descriptor at (kx, ky);
    ``v_fn(x_expr, y_expr)`` must return the image-value SQL."""
    terms = []
    for b, (dx1, dy1, dx2, dy2) in enumerate(BRIEF_PAIRS):
        v1 = v_fn(f"{kx} + ({dx1})", f"{ky} + ({dy1})")
        v2 = v_fn(f"{kx} + ({dx2})", f"{ky} + ({dy2})")
        terms.append(
            f"CASE WHEN ({v1}) > ({v2}) THEN {1 << b}::BIGINT "
            f"ELSE 0::BIGINT END"
        )
    return "(" + " + ".join(terms) + ")"


def sauvola_threshold_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    radius: int = 4,
    k_num: int = 1,
    k_den: int = 4,
    R: int = 128,
    band: int = 0,
    tile_size: int = 64,
) -> DataFrame:
    """Sauvola-Pietikainen local binarization (1997, public literature),
    EXACT-INTEGER decision: pixel -> 255 iff v >= m (1 + k (s/R - 1))
    over the (2r+1)^2 window, where m/s are the window mean/stddev.  The
    inequality is decided without ever computing s: with A = k_den*v*n -
    (k_den - k_num)*S,

        v >= m (1 + k (s/R - 1))
          <=>  A >= 0  AND  (R*A*n)^2 >= k_num^2 * S^2 * (n*Q - S^2)

    (all int64 for 9x9 windows of u8 pixels: |R*A*n| <= 8.6e8).
    S/Q/n are three ones-kernel convolutions on the halo machinery —
    window sums of v, v^2 and the in-extent indicator, so extent edges
    shrink the window exactly like the reference's border handling."""
    ones = np.ones((2 * radius + 1, 2 * radius + 1), dtype=np.int64)
    src = tiles_df.filter(F.col("band") == band)

    def mk(f):
        return _map_tiles(src, TILE_SCHEMA, tile_size, np.uint8, lambda r, a:
                          _tile_row(r, f(r, a.astype(np.int64)).astype(np.int64)))

    sq = mk(lambda r, a: a * a)
    # the window COUNT must see only real pixels: the indicator plane is
    # 1 inside the extent, 0 on the zero-padded tile remainder
    on = mk(lambda r, a: _interior(r["tx"], r["ty"], tile_size, gg, 0))
    S = convolve_tiles(src, gg, ones, band=band, tile_size=tile_size, dtype=np.uint8)
    Q = convolve_tiles(sq, gg, ones, band=band, tile_size=tile_size, dtype=np.int64)
    N = convolve_tiles(on, gg, ones, band=band, tile_size=tile_size, dtype=np.int64)

    j = (
        src.select("tx", "ty", F.col("data").alias("dv"))
        .join(S.select("tx", "ty", F.col("data").alias("ds")), ["tx", "ty"])
        .join(Q.select("tx", "ty", F.col("data").alias("dq")), ["tx", "ty"])
        .join(N.select("tx", "ty", F.col("data").alias("dn")), ["tx", "ty"])
    )
    kd, kn, Ri = int(k_den), int(k_num), int(R)

    def decide(r, v, s, q, n):
        a = kd * v.astype(np.int64) * n - (kd - kn) * s
        lhs = (Ri * a * n) ** 2
        rhs = kn * kn * s * s * (n * q - s * s)
        out = np.where((a >= 0) & (lhs >= rhs) & (n > 0), 255, 0)
        return {"tx": r["tx"], "ty": r["ty"], "data": out.astype(np.int64).tobytes()}

    return _map_tiles(j, CONV_SCHEMA, tile_size, {
        "dv": np.uint8, "ds": np.int64, "dq": np.int64, "dn": np.int64}, decide)


_EXTREMA_SENTINEL = -(1 << 62)


def local_extrema_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    thr: int,
    tile_size: int = 64,
) -> DataFrame:
    """Strict 8-neighbor local maxima of an int64 plane above ``thr`` ->
    (x, y, v) sparse rows: a pixel qualifies iff v > every AVAILABLE
    neighbor (neighbors outside the extent do not suppress — the engine
    sentinel and the oracle's window frames agree on that) and v > thr.
    Same 9-way halo shuffle as convolve_tiles; input tiles are int64
    planes without a band column (the convolve output shape)."""
    ts = tile_size
    contrib = _halo_groups(tiles_df, gg, ts)

    def fn(key, pdf):
        # pixels beyond the extent must never be treated as values
        gtx, gty, halo = _place_blocks(key, pdf, ts, np.int64, 1, 1,
                                       _EXTREMA_SENTINEL, np.int64, extent=gg)
        c = halo[1:-1, 1:-1]
        nmax = np.full_like(c, _EXTREMA_SENTINEL)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                if dx == 0 and dy == 0:
                    continue
                nmax = np.maximum(
                    nmax, halo[1 + dy:1 + dy + ts, 1 + dx:1 + dx + ts]
                )
        keep = (c > nmax) & (c > thr) & (c != _EXTREMA_SENTINEL)
        ys, xs = np.nonzero(keep)
        return pd.DataFrame({
            "x": gtx * ts + xs.astype(np.int64),
            "y": gty * ts + ys.astype(np.int64),
            "v": c[ys, xs],
        })

    return contrib.groupBy("gtx", "gty").applyInPandas(
        fn, schema="x long, y long, v long"
    )


def strahler_order(cells: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Strahler stream order over the D8 flow forest -> (x, y, ord):
    headwater cells (no inflow) are order 1; a cell is m+1 when two or
    more upstream cells share the max upstream order m, else m — the
    classic hydrological branching index (Strahler 1957, public
    literature).

    Jacobi iteration: every round recomputes all orders from the previous
    round's upstream orders (two keyed aggregations — max, then
    count-at-max — plus one left join back to the cell set); orders only
    grow and are bounded by log2(#cells), so the global sum is monotone
    and the loop stops when it stabilizes.  One scalar per round crosses
    the driver; lineage cut per round (plan-shape lesson 6)."""
    dx, dy = _d8_step_cols()
    edges = (
        cells.filter(F.col("dir") > 0)
        .select("x", "y", (F.col("x") + dx).alias("nx"), (F.col("y") + dy).alias("ny"))
        .localCheckpoint()
    )
    base = cells.select("x", "y").localCheckpoint()
    ordv = base.select("x", "y", F.lit(1).cast("long").alias("ord"))
    prev_total = -1
    for _ in range(max_rounds):
        up = edges.join(ordv, ["x", "y"]).select(
            F.col("nx").alias("x"), F.col("ny").alias("y"), "ord"
        )
        m = up.groupBy("x", "y").agg(F.max("ord").alias("m"))
        c = (
            up.join(m, ["x", "y"])
            .filter(F.col("ord") == F.col("m"))
            .groupBy("x", "y")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        ordv = (
            base.join(m, ["x", "y"], "left")
            .join(c, ["x", "y"], "left")
            .select(
                "x", "y",
                F.when(F.col("m").isNull(), 1)
                .when(F.col("c") >= 2, F.col("m") + 1)
                .otherwise(F.col("m")).cast("long").alias("ord"),
            )
            .localCheckpoint()
        )
        total = ordv.agg(F.sum("ord")).collect()[0][0]
        if total == prev_total:
            break
        prev_total = total
    return ordv


def strahler_rounds_sql(rounds: int = 6) -> str:
    """DuckDB replay of ``strahler_order`` as chained Jacobi rounds; must
    be appended after a CTE prefix defining ``dir`` (cells) and ``step``
    (dx/dy per flowing cell).  Returns the CTE blocks + final relation
    name ``o{rounds}`` with columns (x, y, ord)."""
    blocks = ["o0 AS MATERIALIZED (SELECT x, y, CAST(1 AS BIGINT) AS ord FROM dir)"]
    for i in range(rounds):
        blocks.append(f"""up{i} AS MATERIALIZED (
  SELECT s.x + s.dx AS x, s.y + s.dy AS y, o.ord
  FROM step s JOIN o{i} o ON o.x = s.x AND o.y = s.y),
m{i} AS MATERIALIZED (SELECT x, y, max(ord) AS m FROM up{i} GROUP BY 1, 2),
c{i} AS (
  SELECT u.x, u.y, count(*) AS c
  FROM up{i} u JOIN m{i} mm ON mm.x = u.x AND mm.y = u.y
  WHERE u.ord = mm.m GROUP BY 1, 2),
o{i + 1} AS MATERIALIZED (
  SELECT p.x, p.y,
         CAST(CASE WHEN mm.m IS NULL THEN 1
                   WHEN cc.c >= 2 THEN mm.m + 1
                   ELSE mm.m END AS BIGINT) AS ord
  FROM dir p
  LEFT JOIN m{i} mm ON mm.x = p.x AND mm.y = p.y
  LEFT JOIN c{i} cc ON cc.x = p.x AND cc.y = p.y)""")
    return ",\n".join(blocks)
