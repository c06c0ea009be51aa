"""Laplacian pyramid construction and blending (Burt & Adelson 1983,
public literature), exact-integer end to end.

The classic multiband blend: per level, L = G - expand(reduce(G)); the two
images' Laplacians mix under a per-level ramp mask; the blended pyramid
collapses back down.  Every step here is integer:

* reduce  = 5x5 binomial convolution (kernel outer([1,4,6,4,1]), sum 256)
  then [::2, ::2] decimation with a floor-div by 256,
* expand  = zero-insert upsample then the same 5x5 kernel with a floor-div
  by 64 (the kernel sums to 64 over the nonzero lattice),
* blend   = floor((LA * m + LB * (256 - m)) / 256) under an integer ramp,

so the whole pipeline is bit-replayable as SQL window passes (the oracle in
queries.py chains lag/lead weighted sums — separability of the binomial
kernel makes the 2-D convolution two 1-D passes).

Scale shape: reduce/expand ride the convolve_tiles halo machinery (one
9-way neighbor shuffle per convolution); decimate is the aligned 2x2
gather of overview_level (``grid._gather_2x2``); upsample, the per-level
floor-divs and the blends are per-tile passes of ``grid._map_tiles`` (the
blends over tile-key zips).  Nothing is ever dense on the driver.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .grid import GridGeometry, _gather_2x2, _map_tiles, _tile_row
from .terrain import convolve_tiles

TS = 64
K1 = np.array([1, 4, 6, 4, 1], dtype=np.int64)
K5 = np.outer(K1, K1)  # sums to 256

_SCHEMA = "tx long, ty long, band int, data binary"


def _with_band(conv_df: DataFrame) -> DataFrame:
    return conv_df.select(
        "tx", "ty", F.lit(0).cast("int").alias("band"), "data"
    )


def _zip_tiles(a: DataFrame, b: DataFrame, f) -> DataFrame:
    """Tile-key zip of two int64 tile sets (inner on (tx, ty); both sides
    must cover the same tile grid).  ``f(pa, pb, tx, ty)`` -> plane."""
    j = a.select("tx", "ty", F.col("data").alias("da")).join(
        b.select("tx", "ty", F.col("data").alias("db")), ["tx", "ty"]
    )

    def zf(r, pa, pb):
        plane = f(pa, pb, r["tx"], r["ty"]).astype(np.int64)
        return {"tx": r["tx"], "ty": r["ty"], "band": 0, "data": plane.tobytes()}

    return _map_tiles(j, _SCHEMA, TS, {"da": np.int64, "db": np.int64}, zf)


def _upsample2(tiles: DataFrame, out_ntx: int, out_nty: int) -> DataFrame:
    """Zero-insert upsample: input pixel (i, j) lands at (2i, 2j); each
    input tile emits its up-to-4 output tiles (1->4 flatMap)."""
    h = TS // 2

    def up(r, a):
        out = {"tx": [], "ty": [], "band": 0, "data": []}
        for dy in (0, 1):
            for dx in (0, 1):
                otx, oty = 2 * r["tx"] + dx, 2 * r["ty"] + dy
                if otx < out_ntx and oty < out_nty:
                    z = np.zeros((TS, TS), dtype=np.int64)
                    z[::2, ::2] = a[dy * h:(dy + 1) * h, dx * h:(dx + 1) * h]
                    out["tx"].append(otx)
                    out["ty"].append(oty)
                    out["data"].append(z.tobytes())
        return out

    return _map_tiles(tiles.select("tx", "ty", "data"), _SCHEMA, TS, np.int64, up)


def reduce_level(tiles: DataFrame, gg: GridGeometry, dtype=np.int64):
    """One pyramid reduce -> (tiles', gg'): conv5 then decimate//256."""
    c = _with_band(convolve_tiles(tiles, gg, K5, dtype=dtype))
    w2, h2 = (gg.width + 1) // 2, (gg.height + 1) // 2
    gg2 = GridGeometry((0, 0, w2 - 1, h2 - 1), gg.affine)
    return _gather_2x2(c, TS, np.int64, np.int64,
                       lambda m: np.floor_divide(m[::2, ::2], 256)), gg2


def expand_level(tiles: DataFrame, gg_big: GridGeometry) -> DataFrame:
    """One pyramid expand to the ``gg_big`` grid: zero-insert, conv5,
    floor-div 64 (kernel mass over the even lattice)."""
    ntx = (gg_big.width + TS - 1) // TS
    nty = (gg_big.height + TS - 1) // TS
    z = _with_band(_upsample2(tiles, ntx, nty))
    c = _with_band(convolve_tiles(z, gg_big, K5, dtype=np.int64))
    return _map_tiles(c, _SCHEMA, TS, np.int64,
                      lambda r, a: _tile_row(r, np.floor_divide(a, 64)))


def _ramp_mask(tx: int, level: int, width: int) -> np.ndarray:
    """Integer blend ramp in [0, 256]: full A left of the seam, full B
    right, 8-per-global-pixel ramp between (closed form shared with the
    oracle): m = clamp((W/2 + 16 - x * 2^level) * 8, 0, 256)."""
    x = tx * TS + np.arange(TS, dtype=np.int64)
    m = (width // 2 + 16 - x * (1 << level)) * 8
    return np.clip(m, 0, 256)[None, :]


def laplacian_blend(
    a_tiles: DataFrame,
    b_tiles: DataFrame,
    gg: GridGeometry,
    levels: int = 2,
    dtype=np.uint8,
) -> DataFrame:
    """Two-image multiband blend under the per-level ramp mask ->
    int64 result tiles on the ``gg`` grid."""
    width = gg.width

    # build Gaussian chains (level 0 input is dtype, deeper levels int64)
    def chain(tiles):
        gs = [(tiles, gg, dtype)]
        cur, cgg, dt = tiles, gg, dtype
        for _ in range(levels):
            cur, cgg = reduce_level(cur, cgg, dtype=dt)
            dt = np.int64
            gs.append((cur, cgg, dt))
        return gs

    ga = chain(a_tiles)
    gb = chain(b_tiles)

    def lap(gs):
        outs = []
        for lv in range(levels):
            t, g, dt = gs[lv]
            up = expand_level(gs[lv + 1][0], g)
            t64 = t if dt == np.int64 else _map_tiles(
                t, _SCHEMA, TS, np.uint8,
                lambda r, a: _tile_row(r, a.astype(np.int64)))
            outs.append(_zip_tiles(t64, up, lambda pa, pb, tx, ty: pa - pb))
        outs.append(gs[levels][0])  # top level: the Gaussian itself
        return outs

    la = lap(ga)
    lb = lap(gb)

    def blend(lv):
        def f(pa, pb, tx, ty):
            m = _ramp_mask(tx, lv, width)
            return np.floor_divide(pa * m + pb * (256 - m), 256)

        return _zip_tiles(la[lv], lb[lv], f)

    outs = [blend(lv) for lv in range(levels + 1)]

    r = outs[levels]
    for lv in range(levels - 1, -1, -1):
        up = expand_level(r, ga[lv][1])
        r = _zip_tiles(up, outs[lv], lambda pa, pb, tx, ty: pa + pb)
    return r
