"""CRS raster warp — reprojection between grids in DIFFERENT coordinate
reference systems.

The reference's flagship raster operator
(F/coverage/grid/ResampledGridCoverage.java + ResampledImage.java:84):
for each destination pixel, center -> dst gridToCRS -> CRS operation ->
src CRS -> inverse src gridToCRS -> fractional source pixel ->
NEAREST/BILINEAR/LANCZOS interpolation.  ``raster/tiles.resample`` covers
the affine-only case; this module inserts the (nonlinear) registry CRS
operation (functions/projections.transform_points) into the chain.

Scale shape (mirrors ``resample_gather``): the gather manifest —
destination tile -> needed source tiles — cannot be whole-stage-codegen
column math here because the CRS op is numpy; it is built DISTRIBUTED
with an Arrow-batched mapInPandas that samples each destination tile's
pixel-rect boundary through the transform (corners + edge midpoints
bound the window for projection-scale curvature, plus an explicit pixel
margin), then the same manifest ⋈ tiles shuffle join + per-destination
applyInPandas assembly as the affine gather path.  Per-task memory stays
bounded by one destination tile's source footprint; non-finite transform
results (outside the projection domain) read as fill.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import transforms as _tr
from ..functions.projections import transform_points
from ..functions.udfs import _map_rows
from .grid import GridGeometry
from .tiles import TILE_SCHEMA, _interp


def dst_to_src_frac(px, py, src_gg: GridGeometry, dst_gg: GridGeometry):
    """Destination pixel indices -> fractional source CENTER coordinates
    (the per-pixel inverse chain; vectorized numpy)."""
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    cx, cy = _tr.affine_apply(dst_gg.affine, px + 0.5, py + 0.5)
    X, Y = transform_points(cx, cy, dst_gg.crs, src_gg.crs)
    inv = _tr.affine_invert(src_gg.affine)
    fx, fy = _tr.affine_apply(inv, X, Y)
    return fx - 0.5, fy - 0.5


def warp_crs(
    tiles_df: DataFrame,
    src_gg: GridGeometry,
    dst_gg: GridGeometry,
    method: str = "bilinear",
    tile_size: int = 64,
    dtype=np.uint8,
    fill: float = 0.0,
    margin_px: float = 3.0,
    edge_samples: int = 8,
) -> DataFrame:
    """Distributed CRS warp.  Returns destination TILE_SCHEMA rows; tiles
    whose source window is empty are omitted (MISSING-tile semantics,
    matching ``resample_gather``)."""
    spark = tiles_df.sparkSession
    h_d, w_d = dst_gg.height, dst_gg.width
    h_s, w_s = src_gg.height, src_gg.width
    n_tx = (w_d + tile_size - 1) // tile_size
    n_ty = (h_d + tile_size - 1) // tile_size
    s_ntx = (w_s + tile_size - 1) // tile_size
    s_nty = (h_s + tile_size - 1) // tile_size

    keys = spark.range(n_tx * n_ty).select(
        (F.col("id") % n_tx).alias("dtx"),
        (F.col("id") / n_tx).cast("long").alias("dty"),
    )

    # boundary parameter lattice of one tile's pixel rect (corners + edge
    # midpoints); shared by every manifest task
    t = np.linspace(0.0, float(tile_size), edge_samples + 1)
    bx = np.concatenate([t, t, np.zeros_like(t), np.full_like(t, tile_size)])
    by = np.concatenate([np.zeros_like(t), np.full_like(t, tile_size), t, t])
    pad = 1.5 + margin_px

    def manifest(row):
        fx, fy = dst_to_src_frac(
            row["dtx"] * tile_size + bx - 0.5,
            row["dty"] * tile_size + by - 0.5,
            src_gg, dst_gg,
        )
        ok = np.isfinite(fx) & np.isfinite(fy)
        if not ok.any():
            return None
        sx0 = max(0, int(np.floor((fx[ok].min() - pad) / tile_size)))
        sx1 = min(s_ntx - 1, int(np.floor((fx[ok].max() + pad) / tile_size)))
        sy0 = max(0, int(np.floor((fy[ok].min() - pad) / tile_size)))
        sy1 = min(s_nty - 1, int(np.floor((fy[ok].max() + pad) / tile_size)))
        if sx0 > sx1 or sy0 > sy1:
            return None
        return {**row, "stx0": sx0, "stx1": sx1, "sty0": sy0, "sty1": sy1}

    bounds = _map_rows(
        keys, "dtx long, dty long, stx0 long, stx1 long, sty0 long, sty1 long",
        [], None, manifest)
    man = (
        bounds
        .select("dtx", "dty", "stx0", "stx1",
                F.explode(F.sequence("sty0", "sty1")).alias("sty"))
        .select("dtx", "dty", "sty",
                F.explode(F.sequence("stx0", "stx1")).alias("stx"))
    )
    src = tiles_df.select(
        F.col("tx").alias("stx"), F.col("ty").alias("sty"), "band", "data")
    gathered = man.join(src, ["stx", "sty"], "inner")
    bdt = np.dtype(dtype)
    gxs = np.arange(tile_size)

    def build(key, pdf):
        dtx, dty, band = int(key[0]), int(key[1]), int(key[2])
        stxs = pdf["stx"].to_numpy()
        stys = pdf["sty"].to_numpy()
        x_lo, x_hi = int(stxs.min()), int(stxs.max())
        y_lo, y_hi = int(stys.min()), int(stys.max())
        mosaic = np.full(
            ((y_hi - y_lo + 1) * tile_size, (x_hi - x_lo + 1) * tile_size),
            fill, dtype=np.float64)
        for stx, sty, data in zip(stxs, stys, pdf["data"]):
            block = np.frombuffer(data, dtype=bdt).reshape(tile_size, tile_size)
            ys, xs = (int(sty) - y_lo) * tile_size, (int(stx) - x_lo) * tile_size
            mosaic[ys:ys + tile_size, xs:xs + tile_size] = block
        gx, gy = np.meshgrid(dtx * tile_size + gxs, dty * tile_size + gxs)
        fx, fy = dst_to_src_frac(gx.ravel(), gy.ravel(), src_gg, dst_gg)
        bad = ~(np.isfinite(fx) & np.isfinite(fy))
        fx = np.where(bad, -1e18, fx)
        fy = np.where(bad, -1e18, fy)
        if method == "nearest":
            outside = ((np.rint(fx) < 0) | (np.rint(fx) >= w_s)
                       | (np.rint(fy) < 0) | (np.rint(fy) >= h_s))
        else:
            outside = ((np.floor(fx) < 0) | (np.floor(fx) >= w_s)
                       | (np.floor(fy) < 0) | (np.floor(fy) >= h_s))
        lx = np.clip(fx - x_lo * tile_size,
                     0.0 - x_lo * tile_size, (w_s - 1.0) - x_lo * tile_size)
        ly = np.clip(fy - y_lo * tile_size,
                     0.0 - y_lo * tile_size, (h_s - 1.0) - y_lo * tile_size)
        v = _interp(mosaic, lx, ly, method, fill)
        v[outside | bad] = fill
        block = np.clip(np.rint(v), 0, 255).astype(np.uint8).reshape(
            tile_size, tile_size)
        return pd.DataFrame(
            {"tx": [dtx], "ty": [dty], "band": [band], "data": [block.tobytes()]})

    return gathered.groupBy("dtx", "dty", "band").applyInPandas(
        build, schema=TILE_SCHEMA)
