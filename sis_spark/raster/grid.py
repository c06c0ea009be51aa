"""Grid geometry semantics: GridExtent + affine gridToCRS, SIS conventions.

* GridExtent bounds are **inclusive** low/high per dimension
  (F/coverage/grid/GridExtent.java:105,340) — preserved here.
* gridToCRS maps CELL_CORNER by default; CELL_CENTER adds the +0.5 shift
  (F/coverage/grid/PixelInCell.java, PixelTranslation.java) via
  transforms.grid_to_crs.
* Tile index = floorDiv(cell, tile_size) (S/tiling/TiledGridCoverage.java:326).
* GridDerivation-style pruning (request ∩ data, rounded to tiles,
  F/coverage/grid/GridDerivation.java:332-401) is `derive_read_extent`.
* The tile-neighbourhood gather every tiled neighbourhood operator shares
  (the source-tile gather of F/image/ComputedImage.java) is
  `_halo_groups` (which tiles a group needs) + `_place_blocks` (the
  group's tiles pasted into one halo array); `_gather_2x2` is its aligned
  2x2 case (one overview step).
* The per-tile computation (F/image/ComputedImage.java:123 computeTile)
  is `_map_tiles`: the engine's one per-row loop
  (`functions.udfs._map_rows`) with the plane decoder (byte planes cut
  to the `_valid_window` when asked); `imageops._map_images` is the same
  loop with the image decoder.  `_interior` is the in-extent (or r-pixel
  interior) mask of a whole tile.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import transforms as tr
from ..functions.udfs import _map_rows

TILE_SCHEMA = "tx long, ty long, band int, data binary"


@dataclass(frozen=True)
class GridGeometry:
    """extent: (x0, y0, x1, y1) INCLUSIVE cell bounds; affine: 6-tuple
    grid(corner)->CRS; crs: identifier string."""

    extent: tuple[int, int, int, int]
    affine: tuple
    crs: str = "EPSG:4326"

    @property
    def width(self) -> int:
        return self.extent[2] - self.extent[0] + 1

    @property
    def height(self) -> int:
        return self.extent[3] - self.extent[1] + 1

    def cell_center_to_crs(self, gx, gy):
        return tr.affine_apply(tr.grid_to_crs(self.affine, cell_center=True), gx, gy)

    def crs_to_cell(self, x, y):
        """CRS coords -> containing cell indices (floor; inclusive-low rule)."""
        inv = tr.affine_invert(self.affine)
        fx, fy = tr.affine_apply(inv, x, y)
        return np.floor(fx).astype(np.int64), np.floor(fy).astype(np.int64)

    def envelope(self):
        """CRS envelope of the extent (corner-registered affine over the
        inclusive extent spans +1 cell on each axis)."""
        x0, y0, x1, y1 = self.extent
        cx = np.array([x0, x1 + 1], dtype=np.float64)
        cy = np.array([y0, y1 + 1], dtype=np.float64)
        ex, ey = tr.affine_apply(self.affine, cx[[0, 1, 0, 1]], cy[[0, 0, 1, 1]])
        return float(ex.min()), float(ey.min()), float(ex.max()), float(ey.max())


def tile_index(cell: np.ndarray, tile_size: int) -> np.ndarray:
    """floorDiv — negative-safe, matching java Math.floorDiv used by
    TiledGridCoverage (S/tiling/TiledGridCoverage.java:326)."""
    return np.floor_divide(np.asarray(cell, dtype=np.int64), tile_size)


def _halo_groups(
    src: DataFrame,
    gg: GridGeometry,
    tile_size: int,
    dxs=(-1, 0, 1),
    dys=(-1, 0, 1),
    col: str = "data",
) -> DataFrame:
    """Tile -> halo-group explode: tile (tx, ty) joins the group of every
    tile (tx + dx, ty + dy), dx in ``dxs``, dy in ``dys``; groups off the
    ntx x nty tile grid of ``gg`` are dropped.  -> (gtx, gty, tx, ty, col),
    ready for groupBy("gtx", "gty")."""
    ntx = (gg.width + tile_size - 1) // tile_size
    nty = (gg.height + tile_size - 1) // tile_size
    return (
        src.select(
            F.explode(F.array(*[
                F.struct((F.col("tx") + dx).alias("gtx"),
                         (F.col("ty") + dy).alias("gty"))
                for dx in dxs for dy in dys
            ])).alias("g"),
            "tx", "ty", col,
        )
        .select("g.gtx", "g.gty", "tx", "ty", col)
        .filter((F.col("gtx") >= 0) & (F.col("gty") >= 0)
                & (F.col("gtx") < ntx) & (F.col("gty") < nty))
    )


def _place_blocks(key, pdf, tile_size: int, dtype, lo, hi, fill,
                  halo_dtype=np.float64, extent: GridGeometry | None = None,
                  block_fn=None):
    """Paste a halo group's tiles into one array -> (gtx, gty, halo).

    The halo covers the group tile (gtx, gty) plus ``lo`` pixels before
    and ``hi`` after it on each axis (an int, or a (y, x) pair): shape
    (lo_y + T + hi_y, lo_x + T + hi_x), global pixel (gtx*T - lo_x + i,
    gty*T - lo_y + j) at [j, i].  Cells no tile covers (missing tiles,
    off-grid) read ``fill``; with ``extent`` so do cells outside the
    raster extent (the zero-padded remainder of edge tiles).  Tiles are
    ``dtype`` planes of T x T, optionally mapped by ``block_fn`` before
    they are cast into the ``halo_dtype`` array."""
    gtx, gty = int(key[0]), int(key[1])
    ts = tile_size
    ly, lx = (lo, lo) if np.isscalar(lo) else lo
    hy, hx = (hi, hi) if np.isscalar(hi) else hi
    H, W = ly + ts + hy, lx + ts + hx
    halo = np.full((H, W), fill, dtype=halo_dtype)
    for data, tx, ty in zip(pdf["data"], pdf["tx"], pdf["ty"]):
        block = np.frombuffer(data, dtype=dtype).reshape(ts, ts)
        if block_fn is not None:
            block = block_fn(block)
        oy = (int(ty) - gty) * ts + ly
        ox = (int(tx) - gtx) * ts + lx
        y0, x0 = max(oy, 0), max(ox, 0)
        y1, x1 = min(oy + ts, H), min(ox + ts, W)
        if y1 > y0 and x1 > x0:
            halo[y0:y1, x0:x1] = block[y0 - oy:y1 - oy, x0 - ox:x1 - ox]
    if extent is not None:
        gx = gtx * ts - lx + np.arange(W)
        gy = gty * ts - ly + np.arange(H)
        halo[:, (gx < 0) | (gx >= extent.width)] = fill
        halo[(gy < 0) | (gy >= extent.height), :] = fill
    return gtx, gty, halo


def _gather_2x2(tiles_df: DataFrame, tile_size: int, dtype, halo_dtype,
                reduce) -> DataFrame:
    """Aligned 2x2 gather: output tile (dtx, dty) of each band pastes its
    source tiles (2dtx..2dtx+1, 2dty..2dty+1) into one 2T x 2T
    ``halo_dtype`` mosaic (missing tiles read 0) and emits the T x T plane
    ``reduce(mosaic)`` -> (tx, ty, band, data) rows."""
    ts = tile_size
    src = tiles_df.select(
        (F.col("tx") / 2).cast("long").alias("dtx"),
        (F.col("ty") / 2).cast("long").alias("dty"),
        "tx", "ty", "band", "data",
    )

    def build(key, pdf):
        dtx, dty, band = (int(k) for k in key)
        _, _, mosaic = _place_blocks((2 * dtx, 2 * dty), pdf, ts, dtype, 0, ts,
                                     0, halo_dtype)
        return pd.DataFrame({"tx": [dtx], "ty": [dty], "band": [band],
                             "data": [reduce(mosaic).tobytes()]})

    return src.groupBy("dtx", "dty", "band").applyInPandas(
        build, schema=TILE_SCHEMA)


def _valid_window(gg: GridGeometry, tx, ty, tile_size: int) -> tuple[int, int]:
    """(rows, cols) of tile (tx, ty) inside the extent of ``gg``: the whole
    tile, the leading part of an edge tile, 0 for a tile off the extent
    (tile (0, 0) starts at pixel 0, so no tile is cut on its low side)."""
    def span(t, n):
        return 0 if t < 0 else max(0, min(tile_size, n - t * tile_size))

    return span(int(ty), gg.height), span(int(tx), gg.width)


def _interior(gtx, gty, ts, gg, r=1):
    """(ts, ts) mask of tile (gtx, gty)'s pixels at least ``r`` pixels
    inside every raster edge (a full (2r+1)^2 window in the extent); r = 0
    is the whole tile's in-extent mask."""
    px = gtx * ts + np.arange(ts)
    py = gty * ts + np.arange(ts)
    return ((px[None, :] >= r) & (px[None, :] <= gg.width - 1 - r)
            & (py[:, None] >= r) & (py[:, None] <= gg.height - 1 - r))


def _tile_row(row: dict, plane: np.ndarray) -> dict:
    """A ``_map_tiles`` output row: the input tile's key with ``plane``."""
    return {"tx": row["tx"], "ty": row["ty"], "band": row["band"],
            "data": plane.tobytes()}


def _map_tiles(df: DataFrame, schema: str, tile_size: int | None, planes,
               body, gg: GridGeometry | None = None) -> DataFrame:
    """The per-tile core: ``_map_rows`` over tile rows with the plane
    decoder.  ``planes`` is a dtype (the ``data`` column) or {column:
    dtype}; each row's planes decode as T x T arrays (flat when
    ``tile_size`` is None).  With ``gg`` they are cut to the tile's
    ``_valid_window`` and rows off the extent are skipped."""
    if not isinstance(planes, dict):
        planes = {"data": planes}
    dts = [np.dtype(d) for d in planes.values()]
    shape = (-1,) if tile_size is None else (tile_size, tile_size)

    def decode(row, *datas):
        arrs = [np.frombuffer(d, dt).reshape(shape) for d, dt in zip(datas, dts)]
        if gg is None:
            return arrs
        vh, vw = _valid_window(gg, row["tx"], row["ty"], tile_size)
        return [a[:vh, :vw] for a in arrs] if vh and vw else None

    return _map_rows(df, schema, planes, decode, body)


def derive_read_extent(
    gg: GridGeometry, request: tuple[int, int, int, int], tile_size: int
) -> tuple[int, int, int, int] | None:
    """Request ∩ data extent, expanded to tile boundaries (GridDerivation
    pruning).  Returns None when disjoint."""
    x0 = max(gg.extent[0], request[0])
    y0 = max(gg.extent[1], request[1])
    x1 = min(gg.extent[2], request[2])
    y1 = min(gg.extent[3], request[3])
    if x0 > x1 or y0 > y1:
        return None
    return (
        int(tile_index(np.array([x0]), tile_size)[0] * tile_size),
        int(tile_index(np.array([y0]), tile_size)[0] * tile_size),
        int((tile_index(np.array([x1]), tile_size)[0] + 1) * tile_size - 1),
        int((tile_index(np.array([y1]), tile_size)[0] + 1) * tile_size - 1),
    )


def subsample(gg: GridGeometry, sx: int, sy: int) -> GridGeometry:
    """Integer-stride subsampling: new affine = affine ∘ scale(sx, sy)
    (TiledGridCoverage.java:460 'subsampling via integer stride')."""
    a = tr.affine_concat(gg.affine, (float(sx), 0.0, 0.0, 0.0, float(sy), 0.0))
    return GridGeometry(
        (
            gg.extent[0] // sx,
            gg.extent[1] // sy,
            gg.extent[2] // sx,
            gg.extent[3] // sy,
        ),
        a,
        gg.crs,
    )
