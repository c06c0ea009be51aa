"""Distributed integral image (summed-area table) over tiled rasters.

SAT(X, Y) = sum of every pixel with x <= X and y <= Y — the O(1)-window
primitive behind box filters, Haar features and adaptive thresholding.
A 2-D prefix sum looks inherently sequential; the distributed decomposition
is the classic block-scan, with ALL cross-tile state linear in the number
of TILES (never pixels):

    SAT(X, Y) = corner(tx, ty)             # total of tiles strictly up-left
              + left(tx, ty)[y]            # rows <= y of tiles strictly left
              + top(tx, ty)[x]             # cols <= x of tiles strictly above
              + local SAT within the tile

corner is a 2-D prefix over the (ntx x nty) tile-total table; left/top are
1-D prefixes of per-tile row/column cumulative vectors (ts rows per tile,
so ntx*nty*ts rows total) — both computed with plain window functions; the
local SAT is one numpy cumsum per tile.  One shuffle for the window passes,
one cogroup to reassemble: no driver state, no pixel-count-sized exchange.

Exact int64 throughout (uint8 tiles), so the gate's oracle replays the SAT
with two SQL window cumsums.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .grid import GridGeometry, _map_tiles

SAT_SCHEMA = "tx long, ty long, data binary"


def integral_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Summed-area-table tiles (int64 planes) for one band.  Pixels beyond
    the raster extent contribute 0 (tile padding is zero by contract)."""
    ts = tile_size
    bdt = np.dtype(dtype)
    src = tiles_df.filter(F.col("band") == band)

    # per-tile marginals: row-cumulative totals R[y] = sum(rows <= y),
    # column-cumulative totals C[x] = sum(cols <= x), and the tile total
    def marginals(r, block):
        block = block.astype(np.int64)
        return {"tx": r["tx"], "ty": r["ty"], "i": np.arange(ts, dtype=np.int64),
                "rcum": np.cumsum(block.sum(axis=1)),
                "ccum": np.cumsum(block.sum(axis=0))}

    marg = _map_tiles(src.select("tx", "ty", "data"),
                      "tx long, ty long, i long, rcum long, ccum long", ts,
                      bdt, marginals)

    # left(tx, ty)[y]: prefix over tile columns strictly left, same ty row
    wl = (
        Window.partitionBy("ty", "i")
        .orderBy("tx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # top(tx, ty)[x]: prefix over tile rows strictly above, same tx column
    wt = (
        Window.partitionBy("tx", "i")
        .orderBy("ty")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    strips = marg.select(
        "tx", "ty", "i",
        F.coalesce(F.sum("rcum").over(wl), F.lit(0)).alias("left"),
        F.coalesce(F.sum("ccum").over(wt), F.lit(0)).alias("top"),
    )

    # corner(tx, ty): 2-D prefix of tile totals over strictly-up-left tiles.
    # total of tile = last rcum entry; two chained 1-D window prefixes.
    totals = marg.filter(F.col("i") == ts - 1).select(
        "tx", "ty", F.col("rcum").alias("total")
    )
    wx = Window.partitionBy("ty").orderBy("tx").rowsBetween(
        Window.unboundedPreceding, -1
    )
    rowpref = totals.select(
        "tx", "ty", F.coalesce(F.sum("total").over(wx), F.lit(0)).alias("rp")
    )
    wy = Window.partitionBy("tx").orderBy("ty").rowsBetween(
        Window.unboundedPreceding, -1
    )
    corner = rowpref.select(
        "tx", "ty", F.coalesce(F.sum("rp").over(wy), F.lit(0)).alias("corner")
    )

    aux = strips.join(corner, ["tx", "ty"])

    def assemble(key, tiles_pdf, aux_pdf):
        tx, ty = int(key[0]), int(key[1])
        if len(tiles_pdf) == 0 or len(aux_pdf) == 0:
            return pd.DataFrame({"tx": [], "ty": [], "data": []})
        block = (
            np.frombuffer(tiles_pdf["data"].iloc[0], dtype=bdt)
            .reshape(ts, ts)
            .astype(np.int64)
        )
        local = block.cumsum(axis=0).cumsum(axis=1)
        aux_pdf = aux_pdf.sort_values("i")
        left = aux_pdf["left"].to_numpy(dtype=np.int64)      # indexed by y
        top = aux_pdf["top"].to_numpy(dtype=np.int64)        # indexed by x
        c = int(aux_pdf["corner"].iloc[0])
        sat = local + left[:, None] + top[None, :] + c
        return pd.DataFrame([{"tx": tx, "ty": ty, "data": sat.tobytes()}])

    return (
        src.groupBy("tx", "ty")
        .cogroup(aux.groupBy("tx", "ty"))
        .applyInPandas(assemble, schema=SAT_SCHEMA)
    )


def integral_dense(arr: np.ndarray) -> np.ndarray:
    """Single-node reference."""
    return arr.astype(np.int64).cumsum(axis=0).cumsum(axis=1)


def box_sum(sat_tiles: DataFrame, gg: GridGeometry, boxes: DataFrame,
            tile_size: int = 64) -> DataFrame:
    """O(1)-per-box rectangle sums from SAT tiles: each box (id, x0, y0,
    x1, y1) inclusive needs the 4 SAT corner samples; boxes are joined to
    the tiles containing their corners (equi-join on tile keys) and the
    inclusion–exclusion sum is exact int64.  Boxes must lie within the
    raster extent."""
    ts = tile_size
    corners = boxes.select(
        "id",
        F.explode(F.array(
            F.struct(F.lit(0).alias("k"), (F.col("x1")).alias("px"), (F.col("y1")).alias("py"), F.lit(1).alias("sgn")),
            F.struct(F.lit(1).alias("k"), (F.col("x0") - 1).alias("px"), (F.col("y1")).alias("py"), F.lit(-1).alias("sgn")),
            F.struct(F.lit(2).alias("k"), (F.col("x1")).alias("px"), (F.col("y0") - 1).alias("py"), F.lit(-1).alias("sgn")),
            F.struct(F.lit(3).alias("k"), (F.col("x0") - 1).alias("px"), (F.col("y0") - 1).alias("py"), F.lit(1).alias("sgn")),
        )).alias("c"),
    ).select("id", "c.px", "c.py", "c.sgn").filter(
        (F.col("px") >= 0) & (F.col("py") >= 0)  # SAT(-1, ·) == 0
    ).select(
        "id", "px", "py", "sgn",
        F.expr(f"px div {ts}").alias("tx"),
        F.expr(f"py div {ts}").alias("ty"),
    )

    def sample(key, corners_pdf, tiles_pdf):
        if len(corners_pdf) == 0 or len(tiles_pdf) == 0:
            return pd.DataFrame({"id": [], "part": []})
        sat = np.frombuffer(tiles_pdf["data"].iloc[0], np.int64).reshape(ts, ts)
        px = corners_pdf["px"].to_numpy() % ts
        py = corners_pdf["py"].to_numpy() % ts
        vals = sat[py, px] * corners_pdf["sgn"].to_numpy()
        return pd.DataFrame({"id": corners_pdf["id"].to_numpy(), "part": vals})

    parts = (
        corners.groupBy("tx", "ty")
        .cogroup(sat_tiles.groupBy("tx", "ty"))
        .applyInPandas(sample, schema="id long, part long")
    )
    return parts.groupBy("id").agg(F.sum("part").alias("box_sum"))
