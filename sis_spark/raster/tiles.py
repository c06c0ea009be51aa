"""Tiled raster coverages as DataFrames: (tx, ty, band, data) rows.

The Spark re-expression of the reference's lazy tiled-image dataflow
(F/image/ComputedImage.java:123 per-tile computation; operators wrapped by
GridCoverageProcessor, F/coverage/grid/GridCoverageProcessor.java):

    tile rows + a broadcast GridGeometry ==> every op is mapInPandas numpy
    over (TILE x TILE) uint8/float blocks, partitioned by (tx, ty).

The per-tile contract, written once in ``grid._map_tiles``:

* ``data`` is one band plane of tile (tx, ty): T x T values of the
  operator's ``dtype``, row-major, C order; tile (tx, ty) covers pixels
  [tx*T, tx*T + T) x [ty*T, ty*T + T).  Edge tiles are zero-padded to
  T x T; the real extent lives in the GridGeometry.
* The valid window (``grid._valid_window``) is the in-extent part of a
  tile: all of it inside the extent, the leading rows/columns of an edge
  tile.  Operators that read statistics of real pixels (band_stats, the
  histograms, zonal_stats, clahe_luts, haar/laplacian energies) see only
  this window.
* A tile off the extent has an empty window and is dropped by those
  operators: it contributes no pixels, counts or rows.

Operators (SURVEY.md §2.6 mapping):
    band_stats      per-band partial stats per tile -> combine (StatisticsCalculator)
    convert         transfer function value*scale+offset (ConvertedGridCoverage)
    clip            tile filter + in-tile slice (ClippedGridCoverage)
    band_select     filter on band key (BandSelectImage)
    mosaic_first    overlay first-non-missing by priority (ImageOverlay)
    resample        inverse-mapping bilinear/nearest (ResampledImage.java:84)
    mask_polygon    rasterized PIP mask (MaskedImage; shares the ray-cast kernel)
    point_eval      raster->vector sampling (DefaultEvaluator.java:75)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import geometry as _geo
from ..functions import transforms as _tr
from ..functions.udfs import _map_rows
from .grid import (TILE_SCHEMA, GridGeometry, _gather_2x2, _halo_groups,
                   _map_tiles, _place_blocks, _tile_row, _valid_window,
                   subsample)


def _tile_cut(arr: np.ndarray, tile_size: int) -> dict:
    """The one array-to-tile cut: an (h, w, bands) array -> TILE_SCHEMA
    columns (band, then ty, then tx order), edge tiles zero-padded to
    T x T.  Readers of strips override ``ty`` (and ``band``) with their
    own scalars."""
    h, w, nb = arr.shape
    ts = tile_size
    nty, ntx = -(-h // ts), -(-w // ts)
    full = np.zeros((nb, nty * ts, ntx * ts), dtype=arr.dtype)
    full[:, :h, :w] = arr.transpose(2, 0, 1)
    blocks = full.reshape(nb, nty, ts, ntx, ts).swapaxes(2, 3)
    band, ty, tx = np.indices((nb, nty, ntx)).reshape(3, -1)
    return {"tx": tx.astype(np.int64), "ty": ty.astype(np.int64),
            "band": band.astype(np.int32),
            "data": [b.tobytes() for b in blocks.reshape(-1, ts, ts)]}


def raster_to_tiles(
    spark: SparkSession, arr: np.ndarray, gg: GridGeometry, tile_size: int = 64
) -> DataFrame:
    """Materialize an in-memory (h, w, bands) array as a tile-row DataFrame.
    Edge tiles are zero-padded to full size; real extent lives in ``gg``."""
    return spark.createDataFrame(pd.DataFrame(_tile_cut(arr, tile_size)),
                                 schema=TILE_SCHEMA)


def tiles_to_raster(tiles_df: DataFrame, gg: GridGeometry, tile_size: int = 64,
                    dtype=np.uint8) -> np.ndarray:
    """Collect tile rows back to a dense (h, w, bands) array (test helper)."""
    rows = tiles_df.collect()
    nb = max(r["band"] for r in rows) + 1
    h, w = gg.height, gg.width
    out = np.zeros((h, w, nb), dtype=dtype)
    for r in rows:
        block = np.frombuffer(r["data"], dtype=dtype).reshape(tile_size, tile_size)
        vh, vw = _valid_window(gg, r["tx"], r["ty"], tile_size)
        ys, xs = r["ty"] * tile_size, r["tx"] * tile_size
        out[ys : ys + vh, xs : xs + vw, r["band"]] = block[:vh, :vw]
    return out


def band_stats(tiles_df: DataFrame, gg: GridGeometry, tile_size: int = 64,
               dtype=np.uint8) -> DataFrame:
    """Per-band (count, min, max, sum, mean): per-tile partials (numpy) then
    a tiny final combine — exactly Statistics.combine()
    (U/math/Statistics.java:311; per-tile parallelism of
    F/image/StatisticsCalculator.java:124-182).  Zero-padded margins of edge
    tiles are excluded via the real extent."""
    def partial(r, v):
        return {"band": r["band"], "cnt": v.size, "mn": int(v.min()),
                "mx": int(v.max()), "sm": int(v.sum(dtype=np.int64))}

    partials = _map_tiles(tiles_df, "band int, cnt long, mn long, mx long, sm long",
                          tile_size, dtype, partial, gg)
    return partials.groupBy("band").agg(
        F.sum("cnt").alias("n"),
        F.min("mn").alias("min"),
        F.max("mx").alias("max"),
        F.sum("sm").alias("sum"),
        (F.sum("sm").cast("double") / F.sum("cnt").cast("double")).alias("mean"),
    )


def convert(tiles_df: DataFrame, scale: float, offset: float, tile_size: int = 64,
            dtype=np.uint8) -> DataFrame:
    """Transfer function: value*scale + offset -> float64 tiles
    (SampleDimension transfer function, F/coverage/SampleDimension.java:118)."""
    return _map_tiles(tiles_df, TILE_SCHEMA, None, dtype, lambda r, a: _tile_row(
        r, a.astype(np.float64) * scale + offset))


def band_select(tiles_df: DataFrame, bands: list[int]) -> DataFrame:
    return tiles_df.filter(F.col("band").isin(bands))


def clip(tiles_df: DataFrame, request: tuple[int, int, int, int], gg: GridGeometry,
         tile_size: int = 64):
    """Tile pruning for a cell-range request (GridDerivation → partition
    pruning on the (tx, ty) key: Catalyst turns this into tile filters)."""
    from .grid import derive_read_extent, tile_index

    ext = derive_read_extent(gg, request, tile_size)
    if ext is None:
        return tiles_df.filter(F.lit(False)), None
    tx0, ty0 = (v // tile_size for v in ext[:2])
    tx1, ty1 = (v // tile_size for v in ext[2:])
    return (
        tiles_df.filter(
            (F.col("tx") >= tx0) & (F.col("tx") <= tx1)
            & (F.col("ty") >= ty0) & (F.col("ty") <= ty1)
        ),
        ext,
    )


def mosaic_first(*tile_dfs: DataFrame, tile_size: int = 64, dtype=np.uint8) -> DataFrame:
    """Overlay: first source wins per tile; later sources fill missing tiles
    (ImageOverlay / MergeStrategy.opaqueOverlay,
    S/aggregate/MergeStrategy.java:82).  Priority = source index."""
    tagged = [
        df.withColumn("prio", F.lit(i)) for i, df in enumerate(tile_dfs)
    ]
    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionByName(t)
    from pyspark.sql import Window

    w = Window.partitionBy("tx", "ty", "band").orderBy("prio")
    return (
        u.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("tx", "ty", "band", "data")
    )


def mask_polygon(tiles_df: DataFrame, gg: GridGeometry, vx: np.ndarray, vy: np.ndarray,
                 inside: bool = True, fill: int = 0, tile_size: int = 64,
                 dtype=np.uint8) -> DataFrame:
    """Mask by polygon ROI (GridCoverageProcessor.mask,
    F/image/MaskedImage.java): pixels whose CELL_CENTER CRS position fails
    the PIP test are replaced by ``fill``.  Reuses the ray-cast kernel."""
    spark = tiles_df.sparkSession
    bc = spark.sparkContext.broadcast((vx, vy, gg))
    gxs = np.arange(tile_size)

    def fn(r, a):
        pvx, pvy, g = bc.value
        gx, gy = np.meshgrid(r["tx"] * tile_size + gxs, r["ty"] * tile_size + gxs)
        cx, cy = g.cell_center_to_crs(gx.ravel(), gy.ravel())
        m = _geo.points_in_polygon(cx, cy, pvx, pvy).reshape(tile_size, tile_size)
        block = a.copy()
        block[m != inside] = fill
        return _tile_row(r, block)

    return _map_tiles(tiles_df, TILE_SCHEMA, tile_size, dtype, fn)


def point_eval(tiles_df: DataFrame, points: DataFrame, gg: GridGeometry,
               lon_col: str = "lon", lat_col: str = "lat",
               tile_size: int = 64, dtype=np.uint8) -> DataFrame:
    """Raster->vector sampling (DefaultEvaluator.java:75, nullIfOutside):
    join points to their containing tile (cell->tile key equi-join, broadcast
    the small side), then in-tile numpy lookup.  Points outside -> dropped."""
    spark = tiles_df.sparkSession
    inv = _tr.affine_invert(gg.affine)
    a0, a1, a2, a3, a4, a5 = inv
    gx = F.floor(F.lit(a0) * F.col(lon_col) + F.lit(a1) * F.col(lat_col) + F.lit(a2)).cast("long")
    gy = F.floor(F.lit(a3) * F.col(lon_col) + F.lit(a4) * F.col(lat_col) + F.lit(a5)).cast("long")
    pts = (
        points.withColumn("__gx", gx).withColumn("__gy", gy)
        .filter(
            (F.col("__gx") >= gg.extent[0]) & (F.col("__gx") <= gg.extent[2])
            & (F.col("__gy") >= gg.extent[1]) & (F.col("__gy") <= gg.extent[3])
        )
        .withColumn("tx", F.floor(F.col("__gx") / tile_size))
        .withColumn("ty", F.floor(F.col("__gy") / tile_size))
    )
    joined = pts.join(tiles_df, ["tx", "ty"], "inner")
    out_fields = [f"`{f.name}` {f.dataType.simpleString()}" for f in points.schema.fields]
    schema = ", ".join(out_fields) + ", band int, value long"
    keep_cols = [f.name for f in points.schema.fields]

    def fn(row, block):
        return {**{c: row[c] for c in keep_cols + ["band"]},
                "value": int(block[row["__gy"] % tile_size, row["__gx"] % tile_size])}

    return _map_tiles(joined, schema, tile_size, dtype, fn)


def zonal_stats(
    tiles_df: DataFrame,
    gg: GridGeometry,
    polygons: list[dict],
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Vector-over-raster aggregation: per (polygon, band) pixel statistics
    (count/sum/min/max/mean) of pixels whose CELL_CENTER falls inside the
    polygon — the raster<->vector composition of the mask kernel
    (MaskedImage) with the Statistics combine pattern
    (U/math/Statistics.java:311): per-tile partials, tiny final agg.

    ``polygons``: synth.polygon_table_np shape (key/vx/vy + envelope).
    Tiles not touching any polygon envelope are skipped cheaply.
    """
    from ..operators.spatial_join import _pack_polygons, normalize_polygons

    spark = tiles_df.sparkSession
    packed = _pack_polygons(normalize_polygons(polygons))
    bc = spark.sparkContext.broadcast((packed, gg))
    gxs = np.arange(tile_size)

    def partial(r, block):
        p, g = bc.value
        env = p["env"]
        vh, vw = block.shape
        gx, gy = np.meshgrid(r["tx"] * tile_size + gxs[:vw], r["ty"] * tile_size + gxs[:vh])
        cx, cy = g.cell_center_to_crs(gx.ravel(), gy.ravel())
        # tile envelope in CRS
        near = np.nonzero(
            (env[:, 0] <= cx.max()) & (env[:, 2] >= cx.min())
            & (env[:, 1] <= cy.max()) & (env[:, 3] >= cy.min())
        )[0]
        hits = []
        for part in near:
            gi = np.full(cx.shape, part, dtype=np.int64)
            m = _geo.points_in_padded_rings(
                cx, cy, gi, p["RVX"], p["RVY"], p["ring_start"]
            )
            if m.any():
                hits.append((int(p["keys"][part]), block.ravel()[m]))
        return {"poly_key": [k for k, _ in hits], "band": r["band"],
                "cnt": [v.size for _, v in hits],
                "sm": [int(v.sum(dtype=np.int64)) for _, v in hits],
                "mn": [int(v.min()) for _, v in hits],
                "mx": [int(v.max()) for _, v in hits]}

    partials = _map_tiles(
        tiles_df, "poly_key long, band int, cnt long, sm long, mn long, mx long",
        tile_size, dtype, partial, gg)
    return partials.groupBy("poly_key", "band").agg(
        F.sum("cnt").alias("n"),
        F.sum("sm").alias("sum"),
        F.min("mn").alias("min"),
        F.max("mx").alias("max"),
        (F.sum("sm").cast("double") / F.sum("cnt").cast("double")).alias("mean"),
    )


def resample(
    tiles_df: DataFrame,
    src_gg: GridGeometry,
    dst_gg: GridGeometry,
    method: str = "bilinear",
    tile_size: int = 64,
    dtype=np.uint8,
    fill: float = 0.0,
) -> DataFrame:
    """Warp/reproject between affine grids (ResampledImage.java:84 inverse
    mapping): for each destination tile, map its pixel centers dst->CRS->src,
    interpolate (NEAREST/BILINEAR per F/image/Interpolation.java:130,161).

    The source raster is broadcast densely here (single-scene scope); the
    tile-local gather variant (per-tile source windows) is the planned path
    for mosaics larger than executor memory."""
    spark = tiles_df.sparkSession
    src = tiles_to_raster(tiles_df, src_gg, tile_size, dtype)
    bc = spark.sparkContext.broadcast(src)
    h_d, w_d = dst_gg.height, dst_gg.width
    nb = src.shape[2]
    chain = _tr.affine_concat(_tr.affine_invert(src_gg.affine), dst_gg.affine)
    # dst cell center -> src fractional cell (affine ∘ affine merged at plan
    # time — MathTransforms.concatenate semantics)
    center = _tr.affine_concat(chain, (1.0, 0.0, 0.5, 0.0, 1.0, 0.5))

    n_tx = (w_d + tile_size - 1) // tile_size
    n_ty = (h_d + tile_size - 1) // tile_size
    keys = [(tx, ty, b) for b in range(nb) for ty in range(n_ty) for tx in range(n_tx)]
    kdf = spark.createDataFrame(pd.DataFrame(keys, columns=["tx", "ty", "band"]))

    gxs = np.arange(tile_size)

    def fn(row):
        gx, gy = np.meshgrid(row["tx"] * tile_size + gxs, row["ty"] * tile_size + gxs)
        fx, fy = _tr.affine_apply(center, gx.ravel().astype(np.float64), gy.ravel().astype(np.float64))
        fx -= 0.5  # to src cell-center coordinates
        fy -= 0.5
        v = _interp(bc.value[:, :, row["band"]], fx, fy, method, fill)
        return _tile_row(row, np.clip(np.rint(v), 0, 255).astype(np.uint8))

    return _map_rows(kdf, TILE_SCHEMA, [], None, fn)


def _lanczos_kernel(t: np.ndarray, a: int = 3) -> np.ndarray:
    """Lanczos-a window: sinc(t) * sinc(t/a) on |t| < a, 0 outside."""
    t = np.asarray(t, np.float64)
    out = np.sinc(t) * np.sinc(t / a)
    out[np.abs(t) >= a] = 0.0
    return out


def _interp(plane: np.ndarray, fx: np.ndarray, fy: np.ndarray, method: str, fill: float) -> np.ndarray:
    """NEAREST / BILINEAR / LANCZOS sampling of one band plane at fractional
    src cell-center coordinates (F/image/Interpolation.java:130,161,200),
    edge-clamped neighbors, ``fill`` outside."""
    hs, ws = plane.shape
    if method == "lanczos":
        # separable 6x6 Lanczos-3 (Interpolation.LANCZOS, a=3), weights
        # normalized per sample so edge-clamped windows stay unbiased
        x0 = np.floor(fx).astype(np.int64)
        y0 = np.floor(fy).astype(np.int64)
        ok = (x0 >= 0) & (x0 < ws) & (y0 >= 0) & (y0 < hs)
        v = np.full(fx.shape, fill, dtype=np.float64)
        fxo, fyo = fx[ok], fy[ok]
        acc = np.zeros(fxo.shape, dtype=np.float64)
        wsum = np.zeros(fxo.shape, dtype=np.float64)
        for j in range(-2, 4):
            yy = np.clip(np.floor(fyo).astype(np.int64) + j, 0, hs - 1)
            wy = _lanczos_kernel(fyo - (np.floor(fyo) + j))
            for i in range(-2, 4):
                xx = np.clip(np.floor(fxo).astype(np.int64) + i, 0, ws - 1)
                wx = _lanczos_kernel(fxo - (np.floor(fxo) + i))
                w = wx * wy
                acc += plane[yy, xx] * w
                wsum += w
        v[ok] = acc / np.where(wsum == 0.0, 1.0, wsum)
        return v
    if method == "bicubic":
        # separable 4x4 Catmull-Rom (Keys 1981 a=-1/2, public kernel):
        #   w(-1) = (-t^3 + 2t^2 - t)/2      w(0) = (3t^3 - 5t^2 + 2)/2
        #   w(1)  = (-3t^3 + 4t^2 + t)/2     w(2) = (t^3 - t^2)/2
        # For dyadic fractions every weight and partial sum is an exact
        # dyadic rational — bit-replayable as plain SQL arithmetic.
        x0 = np.floor(fx).astype(np.int64)
        y0 = np.floor(fy).astype(np.int64)
        ok = (x0 >= 0) & (x0 < ws) & (y0 >= 0) & (y0 < hs)
        v = np.full(fx.shape, fill, dtype=np.float64)
        fxo, fyo = fx[ok], fy[ok]
        tx = fxo - np.floor(fxo)
        ty = fyo - np.floor(fyo)

        def _keys_w(t, m):
            if m == -1:
                return (-(t ** 3) + 2.0 * t * t - t) * 0.5
            if m == 0:
                return (3.0 * t ** 3 - 5.0 * t * t + 2.0) * 0.5
            if m == 1:
                return (-3.0 * t ** 3 + 4.0 * t * t + t) * 0.5
            return (t ** 3 - t * t) * 0.5

        acc = np.zeros(fxo.shape, dtype=np.float64)
        for j in (-1, 0, 1, 2):
            yy = np.clip(np.floor(fyo).astype(np.int64) + j, 0, hs - 1)
            wy = _keys_w(ty, j)
            row = np.zeros(fxo.shape, dtype=np.float64)
            for i in (-1, 0, 1, 2):
                xx = np.clip(np.floor(fxo).astype(np.int64) + i, 0, ws - 1)
                row += plane[yy, xx] * _keys_w(tx, i)
            acc += row * wy
        v[ok] = acc
        return v
    if method == "nearest":
        ix = np.rint(fx).astype(np.int64)
        iy = np.rint(fy).astype(np.int64)
        ok = (ix >= 0) & (ix < ws) & (iy >= 0) & (iy < hs)
        v = np.full(fx.shape, fill, dtype=np.float64)
        v[ok] = plane[iy[ok], ix[ok]]
        return v
    x0 = np.floor(fx).astype(np.int64)
    y0 = np.floor(fy).astype(np.int64)
    dx = fx - x0
    dy = fy - y0
    v = np.full(fx.shape, fill, dtype=np.float64)
    ok = (x0 >= 0) & (x0 < ws) & (y0 >= 0) & (y0 < hs)
    xo, yo = x0[ok], y0[ok]
    x1 = np.minimum(xo + 1, ws - 1)
    y1 = np.minimum(yo + 1, hs - 1)
    v[ok] = (
        plane[yo, xo] * (1 - dx[ok]) * (1 - dy[ok])
        + plane[yo, x1] * dx[ok] * (1 - dy[ok])
        + plane[y1, xo] * (1 - dx[ok]) * dy[ok]
        + plane[y1, x1] * dx[ok] * dy[ok]
    )
    return v


def _gather_manifest_df(
    spark, center: tuple, n_tx: int, n_ty: int,
    s_ntx: int, s_nty: int, tile_size: int, margin: float = 1.5,
) -> DataFrame:
    """(dtx, dty, stx, sty) gather manifest as a DISTRIBUTED DataFrame.

    Whole-stage-codegen affine corner math over spark.range: each dst tile's
    four pixel-rect corners map through the merged affine (rotation-capable,
    hence least/greatest over all four), pad by the 1.5 px bilinear margin,
    floor-divide to src tile bounds, and explode the (stx, sty) ranges.
    Semantics identical to the former driver loop (same floor/ceil/margin
    expressions), verified by tests/test_resample_gather.py."""
    a, b, c, d, e, f = center
    ts = float(tile_size)
    ids = spark.range(n_tx * n_ty).select(
        (F.col("id") % n_tx).alias("dtx"), (F.col("id") / n_tx).cast("long").alias("dty"))
    x0 = F.col("dtx").cast("double") * ts
    x1 = (F.col("dtx") + 1).cast("double") * ts
    y0 = F.col("dty").cast("double") * ts
    y1 = (F.col("dty") + 1).cast("double") * ts
    fx = [F.lit(a) * x + F.lit(b) * y + F.lit(c) for x in (x0, x1) for y in (y0, y1)]
    fy = [F.lit(d) * x + F.lit(e) * y + F.lit(f) for x in (x0, x1) for y in (y0, y1)]
    sx0 = F.floor(F.least(*fx) - margin)
    sx1 = F.ceil(F.greatest(*fx) + margin)
    sy0 = F.floor(F.least(*fy) - margin)
    sy1 = F.ceil(F.greatest(*fy) + margin)
    bounds = ids.select(
        "dtx", "dty",
        F.greatest(F.lit(0), F.floor(sx0 / tile_size)).alias("stx0"),
        F.least(F.lit(s_ntx - 1), F.floor(sx1 / tile_size)).alias("stx1"),
        F.greatest(F.lit(0), F.floor(sy0 / tile_size)).alias("sty0"),
        F.least(F.lit(s_nty - 1), F.floor(sy1 / tile_size)).alias("sty1"),
    ).filter((F.col("stx0") <= F.col("stx1")) & (F.col("sty0") <= F.col("sty1")))
    return (
        bounds
        .select("dtx", "dty", "stx0", "stx1",
                F.explode(F.sequence("sty0", "sty1")).alias("sty"))
        .select("dtx", "dty", "sty",
                F.explode(F.sequence("stx0", "stx1")).alias("stx"))
        .select("dtx", "dty", "stx", "sty")
    )


def resample_gather(
    tiles_df: DataFrame,
    src_gg: GridGeometry,
    dst_gg: GridGeometry,
    method: str = "bilinear",
    tile_size: int = 64,
    dtype=np.uint8,
    fill: float = 0.0,
) -> DataFrame:
    """Distributed warp WITHOUT the dense-source broadcast of ``resample``:
    the scale path for mosaics larger than executor memory.

    Plan (GridDerivation style — F/coverage/grid/GridDerivation.java
    request∩data rounding): each destination tile's pixel rect is
    inverse-mapped through the merged affine chain to a source window
    (+1 px bilinear margin), giving the (dst tile -> src tiles) gather
    manifest — computed DISTRIBUTED in whole-stage codegen
    (_gather_manifest_df), nothing tile-count-sized on the driver.
    Execution: manifest ⋈ tiles on the src tile key (shuffle
    hash join), then applyInPandas per (dst tx, ty, band) assembles the
    local source mosaic and interpolates — per-task memory is bounded by
    one destination tile's source footprint, never the whole raster.

    Destination tiles with NO source coverage are omitted from the output
    (tile status MISSING, S/tiling/TileMatrix.java:175-188) rather than
    materialized as fill — at mosaic scale, absent tiles are the norm."""
    spark = tiles_df.sparkSession
    h_d, w_d = dst_gg.height, dst_gg.width
    h_s, w_s = src_gg.height, src_gg.width
    chain = _tr.affine_concat(_tr.affine_invert(src_gg.affine), dst_gg.affine)
    center = _tr.affine_concat(chain, (1.0, 0.0, 0.5, 0.0, 1.0, 0.5))

    n_tx = (w_d + tile_size - 1) // tile_size
    n_ty = (h_d + tile_size - 1) // tile_size
    s_ntx = (w_s + tile_size - 1) // tile_size
    s_nty = (h_s + tile_size - 1) // tile_size

    # gather manifest: dst tile -> needed src tiles (corners of the dst pixel
    # rect through an affine map bound the src window exactly).  Built
    # DISTRIBUTED with pure column math + sequence/explode — at mosaic scale
    # the manifest is O(dst tiles) and must never materialize on the driver
    # (r1 verdict: the python double loop here was the remaining driver
    # bottleneck of the gather path).
    # kernel reach sets the gather margin: bilinear 1, bicubic 2, lanczos 3
    margin = {"bicubic": 2.5, "lanczos": 3.5}.get(method, 1.5)
    manifest = _gather_manifest_df(
        spark, center, n_tx, n_ty, s_ntx, s_nty, tile_size, margin)

    src = tiles_df.select(
        F.col("tx").alias("stx"), F.col("ty").alias("sty"), "band", "data"
    )
    gathered = manifest.join(src, ["stx", "sty"], "inner")
    bdt = np.dtype(dtype)
    gxs = np.arange(tile_size)

    def build(key, pdf):
        dtx, dty, band = int(key[0]), int(key[1]), int(key[2])
        stxs = pdf["stx"].to_numpy()
        stys = pdf["sty"].to_numpy()
        x_lo, x_hi = int(stxs.min()), int(stxs.max())
        y_lo, y_hi = int(stys.min()), int(stys.max())
        span = ((y_hi - y_lo) * tile_size, (x_hi - x_lo) * tile_size)
        _, _, mosaic = _place_blocks(
            (x_lo, y_lo), pdf.rename(columns={"stx": "tx", "sty": "ty"}),
            tile_size, bdt, 0, span, fill)
        gx, gy = np.meshgrid(dtx * tile_size + gxs, dty * tile_size + gxs)
        fx, fy = _tr.affine_apply(center, gx.ravel().astype(np.float64), gy.ravel().astype(np.float64))
        fx -= 0.5
        fy -= 0.5
        # outside-the-raster pixels must read `fill`, matching ``resample``:
        # mask them before sampling the local mosaic (whose edge values
        # would otherwise clamp-extend)
        outside = (fx < -0.5) | (fx >= w_s - 0.5) | (fy < -0.5) | (fy >= h_s - 0.5)
        if method == "bilinear":
            outside = (np.floor(fx) < 0) | (np.floor(fx) >= w_s) | (np.floor(fy) < 0) | (np.floor(fy) >= h_s)
        # clamp mosaic-local neighbor indices exactly like the dense path:
        # emulate by padding sampling coordinates into the mosaic frame
        lx = fx - x_lo * tile_size
        ly = fy - y_lo * tile_size
        # global edge clamp (x1 = min(x0+1, ws-1)) == local clamp only when
        # the raster edge is inside this mosaic; guarantee it by clipping
        # sample coords to the raster's global valid range first
        lx = np.clip(lx, 0.0 - x_lo * tile_size, (w_s - 1.0) - x_lo * tile_size)
        ly = np.clip(ly, 0.0 - y_lo * tile_size, (h_s - 1.0) - y_lo * tile_size)
        v = _interp(mosaic, lx, ly, method, fill)
        v[outside] = fill
        block = np.clip(np.rint(v), 0, 255).astype(np.uint8).reshape(tile_size, tile_size)
        return pd.DataFrame(
            {"tx": [dtx], "ty": [dty], "band": [band], "data": [block.tobytes()]}
        )

    return gathered.groupBy("dtx", "dty", "band").applyInPandas(build, schema=TILE_SCHEMA)


def overview_level(tiles_df: DataFrame, gg: GridGeometry, tile_size: int = 64,
                   dtype=np.uint8):
    """One overview level: integer stride-2 subsampling (OverviewImage /
    ImageProcessor.java:1264; stride+offset semantics of
    TiledGridCoverage.java:460 with offset 0).

    Each destination tile gathers its EXACT 2x2 source-tile block (the
    aligned special case of the resample_gather manifest), mosaics it and
    takes ``[::2, ::2]`` — pixel (i, j) of level z+1 is pixel (2i, 2j) of
    level z, bit-exact, no interpolation.  Returns (tiles_df, subsampled
    GridGeometry)."""
    out = _gather_2x2(tiles_df, tile_size, dtype, dtype, lambda m: m[::2, ::2])
    return out, subsample(gg, 2, 2)


def build_overviews(tiles_df: DataFrame, gg: GridGeometry, n_levels: int,
                    tile_size: int = 64, dtype=np.uint8):
    """Full overview pyramid: [(level, tiles_df, gg)] for level 1..n
    (TileMatrixSet zoom hierarchy, S/tiling/TileMatrixSet.java:53; level 0
    is the input).  Each level derives lazily from the previous — Spark
    chains the gathers into one DAG."""
    out = []
    cur, cur_gg = tiles_df, gg
    for level in range(1, n_levels + 1):
        cur, cur_gg = overview_level(cur, cur_gg, tile_size, dtype)
        out.append((level, cur, cur_gg))
    return out


# ------------------------------------------------- stretch / color ramp (r2)

def stretch(tiles_df: DataFrame, gg: GridGeometry, tile_size: int = 64,
            dtype=np.uint8, low_pct: float = 0.0, high_pct: float = 100.0) -> DataFrame:
    """Contrast stretch to the full uint8 range
    (ImageProcessor.stretchColorRamp, F/image/ImageProcessor.java:780):
    per-band global [low, high] from a distributed histogram (percentile
    clip; 0/100 = min-max), then a linear map per tile.

    Two Spark jobs: one 256-bin histogram aggregation (tiny — 256 rows per
    band regardless of raster size), one map over tiles."""
    bounds: dict[int, tuple[float, float]] = {}
    for band, cnt in _band_hists(tiles_df, gg, tile_size, dtype).items():
        cum = np.cumsum(cnt)
        total = cum[-1]
        lo = int(np.searchsorted(cum, total * low_pct / 100.0, side="left"))
        hi = int(np.searchsorted(cum, total * high_pct / 100.0, side="left"))
        hi = min(hi, 255)
        if hi <= lo:
            hi = lo + 1
        bounds[band] = (float(lo), float(hi))

    def apply(r, a):
        lo, hi = bounds.get(r["band"], (0.0, 255.0))
        out = np.clip((a.astype(np.float64) - lo) * (255.0 / (hi - lo)), 0.0, 255.0)
        return _tile_row(r, out.astype(np.uint8))

    return _map_tiles(tiles_df, TILE_SCHEMA, None, dtype, apply)


def hist_eq(tiles_df: DataFrame, gg: GridGeometry, tile_size: int = 64,
            dtype=np.uint8) -> DataFrame:
    """Global histogram equalization (the classic CDF remap; the
    equalization sibling of ``stretch``'s percentile clip,
    ImageProcessor.stretchColorRamp family, F/image/ImageProcessor.java:780):
    per-band distributed 256-bin histogram -> cumulative counts -> LUT
    ``lut[v] = (cdf[v] - cdf_min) * 255 // (n - cdf_min)`` -> per-tile remap.

    PURE INTEGER end to end: counts are exact int64 sums and the LUT is one
    integer floor division per bin, so the result is bit-replicable across
    engines and partitionings.  Two Spark jobs: one tiny histogram
    aggregation (<= 256 rows per band regardless of raster size), one map
    over tiles — same shape as ``stretch``."""
    luts: dict[int, np.ndarray] = {}
    for band, cnt in _band_hists(tiles_df, gg, tile_size, dtype).items():
        cum = np.cumsum(cnt)
        n = int(cum[-1])
        cdf_min = int(cum[np.nonzero(cnt)[0][0]])
        if n == cdf_min:  # constant image: map everything to 255
            luts[band] = np.full(256, 255, dtype=np.uint8)
        else:
            luts[band] = (
                np.maximum(cum - cdf_min, 0) * 255 // (n - cdf_min)
            ).astype(np.uint8)
    return _apply_luts(tiles_df, luts, dtype)


def value_histogram(tiles_df: DataFrame, gg: GridGeometry,
                    tile_size: int = 64, dtype=np.uint8) -> DataFrame:
    """Distributed per-band 256-bin value histogram -> (band, value, cnt)
    DataFrame (<= 256 rows per band regardless of raster size; the
    stretch/hist_eq partial kept as a composable relation instead of a
    driver collect).  Padding beyond the real extent is excluded."""
    def part(r, v):
        cnt = np.bincount(v.ravel(), minlength=256)
        nz = np.nonzero(cnt)[0]
        return {"band": r["band"], "value": nz, "cnt": cnt[nz]}

    return (
        _map_tiles(tiles_df, "band int, value int, cnt long", tile_size, dtype,
                   part, gg)
        .groupBy("band", "value")
        .agg(F.sum("cnt").alias("cnt"))
    )


def _band_hists(tiles_df: DataFrame, gg: GridGeometry, tile_size: int,
                dtype) -> dict[int, np.ndarray]:
    """``value_histogram`` collected -> {band: int64[256] counts} (<= 256
    rows per band: a plan input, like the salting histogram)."""
    out: dict[int, np.ndarray] = {}
    for r in value_histogram(tiles_df, gg, tile_size, dtype).collect():
        out.setdefault(r["band"], np.zeros(256, dtype=np.int64))[r["value"]] += r["cnt"]
    return out


def _apply_luts(tiles_df: DataFrame, luts: dict, dtype) -> DataFrame:
    """Remap every tile through its band's 256-entry LUT; bands without a
    LUT pass through unchanged."""
    def fn(r, a):
        lut = luts.get(r["band"])
        return _tile_row(r, a if lut is None else lut[a])

    return _map_tiles(tiles_df, TILE_SCHEMA, None, dtype, fn)


def otsu_score_sql() -> str:
    """Shared Spark/DuckDB text for the quantized Otsu between-class
    score from exact int64 columns (d = s_tot*c - s*n_tot, c, n_tot):
    score(t) proportional to d^2 / (c * (N - c)) — squared in DOUBLE (the
    chi2 overflow lesson) from identical integer inputs, so both engines
    produce the bit-identical double and the argmax cannot drift."""
    return (
        "CAST(floor(CAST(d AS DOUBLE) * CAST(d AS DOUBLE)"
        " / CAST(c * (n_tot - c) AS DOUBLE) + 0.12345678987) AS BIGINT)"
    )


def otsu_threshold(tiles_df: DataFrame, gg: GridGeometry,
                   tile_size: int = 64, dtype=np.uint8) -> DataFrame:
    """Otsu global threshold per band (Otsu 1979, public literature) ->
    (band, thr, score_q): the value t maximizing the between-class
    variance, computed ENTIRELY on the <=256-row histogram relation —
    window cumsums of exact integer counts/sums, one shared-text double
    per candidate, argmax by (score desc, t asc).  The raster-sized work
    is one histogram aggregation; everything after is O(256) rows."""
    from pyspark.sql import Window

    hist = value_histogram(tiles_df, gg, tile_size, dtype)
    wb = Window.partitionBy("band").orderBy("value")
    run = wb.rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy("band")
    pre = (
        hist.withColumn("c", F.sum("cnt").over(run))
        .withColumn("s", F.sum(F.col("cnt") * F.col("value")).over(run))
        .withColumn("n_tot", F.sum("cnt").over(tot))
        .withColumn("s_tot", F.sum(F.col("cnt") * F.col("value")).over(tot))
        .filter(F.col("c") < F.col("n_tot"))
        .withColumn(
            "d", F.col("s_tot") * F.col("c") - F.col("s") * F.col("n_tot")
        )
        .withColumn("score_q", F.expr(otsu_score_sql()))
    )
    best = Window.partitionBy("band").orderBy(
        F.col("score_q").desc(), F.col("value").asc()
    )
    return (
        pre.withColumn("__rn", F.row_number().over(best))
        .filter(F.col("__rn") == 1)
        .select("band", F.col("value").alias("thr"), "score_q")
    )


def color_ramp(tiles_df: DataFrame, lut: np.ndarray, band: int = 0,
               tile_size: int = 64, dtype=np.uint8) -> DataFrame:
    """Single band -> RGB via a (256, 3) uint8 lookup table
    (ImageProcessor.visualize color ramp semantics): output tiles carry
    bands 0/1/2 = R/G/B."""
    lut = np.asarray(lut, dtype=np.uint8)
    if lut.shape != (256, 3):
        raise ValueError("lut must be (256, 3) uint8")

    def fn(r, a):
        rgb = lut[a]  # (n, 3)
        return {"tx": r["tx"], "ty": r["ty"], "band": [0, 1, 2],
                "data": [rgb[:, ch].tobytes() for ch in range(3)]}

    return _map_tiles(tiles_df.filter(F.col("band") == band), TILE_SCHEMA,
                      None, dtype, fn)


def ssim_expr_sql() -> str:
    """Shared Spark/DuckDB expression text for the quantized per-tile SSIM
    from the exact integer sums (n_px, sum_a, sum_b, sumsq_a, sumsq_b,
    sum_ab) — the engine evaluates this IN SQL (not numpy) so the oracle
    reuses the identical expression order bit-exactly (the image_quality
    trick).  C1/C2 are the standard (0.01*255)^2 / (0.03*255)^2."""
    n = "CAST(n_px AS DOUBLE)"
    ma = f"(CAST(sum_a AS DOUBLE) / {n})"
    mb = f"(CAST(sum_b AS DOUBLE) / {n})"
    va = f"(CAST(sumsq_a AS DOUBLE) / {n} - {ma} * {ma})"
    vb = f"(CAST(sumsq_b AS DOUBLE) / {n} - {mb} * {mb})"
    cab = f"(CAST(sum_ab AS DOUBLE) / {n} - {ma} * {mb})"
    ssim = (
        f"(((2.0 * {ma} * {mb} + 6.5025) * (2.0 * {cab} + 58.5225))"
        f" / (({ma} * {ma} + {mb} * {mb} + 6.5025)"
        f" * ({va} + {vb} + 58.5225)))"
    )
    return f"CAST(floor({ssim} * 1.0e9 + 0.12345678987) AS BIGINT)"


def ssim_tiles(a: DataFrame, b: DataFrame, tile_size: int = 64,
               dtype=np.uint8) -> DataFrame:
    """Per-tile structural similarity between two co-registered rasters
    (Wang et al. 2004, public literature; each tile is one SSIM window) ->
    (tx, ty, band, n_px, sum_a, sum_b, ssim_q).

    Scale shape: ONE equi-join on (tx, ty, band) co-locates tile pairs,
    per-tile moments are exact int64 sums inside one mapInPandas pass, and
    the FP formula runs as shared SQL expression text (``ssim_expr_sql``)
    so the DuckDB oracle cannot drift — the per-row reduction is
    embarrassingly parallel, no global state."""
    def fn(r, va, vb):
        va, vb = va.astype(np.int64), vb.astype(np.int64)
        return {"tx": r["tx"], "ty": r["ty"], "band": r["band"],
                "n_px": va.size,
                "sum_a": int(va.sum()), "sum_b": int(vb.sum()),
                "sumsq_a": int((va * va).sum()),
                "sumsq_b": int((vb * vb).sum()),
                "sum_ab": int((va * vb).sum())}

    ints = _map_tiles(
        _band_pairs(a, b),
        "tx long, ty long, band int, n_px long, sum_a long, "
        "sum_b long, sumsq_a long, sumsq_b long, sum_ab long",
        None, {"da": dtype, "db": dtype}, fn)
    return ints.select(
        "tx", "ty", "band", "n_px", "sum_a", "sum_b",
        F.expr(ssim_expr_sql()).alias("ssim_q"),
    )


def band_ratio_tiles(a: DataFrame, b: DataFrame, scale: int = 1_000_000,
                     dtype=np.uint8) -> DataFrame:
    """Normalized-difference map algebra (the NDVI shape: (a-b)/(a+b)) per
    tile -> (tx, ty, band, n_px, n_valid, sum_q, min_q, max_q) with the
    per-pixel index quantized EXACTLY: q = floor((a-b)*scale / (a+b)) as a
    true integer floor division (posmod identity — both engines agree on
    negative numerators), 0 where a+b = 0.  No FP anywhere.

    Scale shape: one equi-join on (tx, ty, band) co-locates band pairs,
    then a single embarrassingly-parallel mapInPandas pass."""
    def fn(r, va, vb):
        va, vb = va.astype(np.int64), vb.astype(np.int64)
        s = va + vb
        valid = s > 0
        q = np.zeros_like(s)
        q[valid] = np.floor_divide((va[valid] - vb[valid]) * scale, s[valid])
        return {"tx": r["tx"], "ty": r["ty"], "band": r["band"],
                "n_px": s.size, "n_valid": int(valid.sum()),
                "sum_q": int(q.sum()),
                "min_q": int(q.min()), "max_q": int(q.max())}

    return _map_tiles(
        _band_pairs(a, b),
        "tx long, ty long, band int, n_px long, n_valid long, "
        "sum_q long, min_q long, max_q long",
        None, {"da": dtype, "db": dtype}, fn)


def _band_pairs(a: DataFrame, b: DataFrame) -> DataFrame:
    """The (tx, ty, band) equi-join of two co-registered tile sets ->
    rows with both planes, ``da`` from ``a`` and ``db`` from ``b``."""
    return (
        a.withColumnRenamed("data", "da")
        .join(b.withColumnRenamed("data", "db"), ["tx", "ty", "band"])
    )


def glcm_tiles(tiles_df: DataFrame, levels: int = 8, tile_size: int = 64,
               dtype=np.uint8) -> DataFrame:
    """Gray-level co-occurrence texture features (Haralick 1973, public
    literature) per tile at offset (1, 0): pixel values quantized to
    ``levels`` buckets (256 // levels wide), horizontal neighbor pairs
    counted, and the classic features kept EXACT ->
    (tx, ty, band, n_pairs, contrast, energy, max_cnt):
      contrast = sum over (i,j) of cnt * (i-j)^2   (exact int64)
      energy   = sum of cnt^2                      (exact int64)
    One embarrassingly-parallel pass, no shuffle at all."""
    width = 256 // levels
    ii = np.arange(levels * levels) // levels
    jj = np.arange(levels * levels) % levels

    def fn(r, v):
        block = v.astype(np.int64) // width
        li = block[:, :-1].ravel()
        lj = block[:, 1:].ravel()
        cnt = np.bincount(li * levels + lj, minlength=levels * levels)
        return {"tx": r["tx"], "ty": r["ty"], "band": r["band"],
                "n_pairs": int(cnt.sum()),
                "contrast": int((cnt * (ii - jj) ** 2).sum()),
                "energy": int((cnt * cnt).sum()),
                "max_cnt": int(cnt.max())}

    return _map_tiles(
        tiles_df,
        "tx long, ty long, band int, n_pairs long, contrast long, "
        "energy long, max_cnt long",
        tile_size, dtype, fn)


def append_bands(a: DataFrame, b: DataFrame) -> DataFrame:
    """Dimensionality append (F/coverage/grid/DimensionalityReduction.java
    reverse direction): b's bands are renumbered DENSELY after a's — same
    grid, no pixel movement, a pure union + band remap (two tiny aggregates
    as plan inputs)."""
    na = a.agg(F.max("band")).first()[0]
    offset = int(na) + 1 if na is not None else 0
    b_bands = sorted(r["band"] for r in b.select("band").distinct().collect())
    expr = F.col("band")
    for i, bb in enumerate(b_bands):
        expr = F.when(F.col("band") == bb, F.lit(offset + i)).otherwise(expr)
    return a.unionByName(b.withColumn("band", expr.cast("int")))


def reduce_bands(tiles_df: DataFrame, op: str = "mean", bands: list[int] | None = None,
                 dtype=np.uint8, out_band: int = 0) -> DataFrame:
    """Dimensionality reduction (F/coverage/grid/DimensionalityReduction.java,
    GridCoverageProcessor.java:743-837 "reduce extra dimensions"): collapse
    the band axis (the engine's stand-in for any extra dimension — band,
    time, depth) to one plane per tile with a pixel-wise aggregate.

    Shape at scale: groupBy (tx, ty) shuffles one row per contributing band
    per tile only; the pixel math is a single numpy reduce per group inside
    applyInPandas.  ``mean`` accumulates in float64 and truncates back like
    an integer divide so the result is reproducible regardless of the
    per-group row order (bit-exactness: order-independent sums)."""
    if bands is not None:
        tiles_df = tiles_df.filter(F.col("band").isin(bands))
    bdt = np.dtype(dtype)
    ops = {
        "sum": lambda a: a.sum(axis=0),
        "mean": lambda a: a.sum(axis=0) / a.shape[0],
        "min": lambda a: a.min(axis=0),
        "max": lambda a: a.max(axis=0),
    }
    if op not in ops:
        raise ValueError(f"unsupported reduce op {op!r}")
    red = ops[op]

    def fn(key, pdf):
        stack = np.stack([np.frombuffer(d, dtype=bdt).astype(np.float64)
                          for d in pdf["data"]])
        out = red(stack)
        if np.issubdtype(bdt, np.integer):
            out = np.clip(np.trunc(out), np.iinfo(bdt).min, np.iinfo(bdt).max)
        return pd.DataFrame({"tx": [key[0]], "ty": [key[1]],
                             "band": [out_band], "data": [out.astype(bdt).tobytes()]})

    return tiles_df.groupBy("tx", "ty").applyInPandas(fn, schema=TILE_SCHEMA)


def rasterize_polygons(polygons_df: DataFrame, gg: GridGeometry,
                       tile_size: int = 64, fill: int = 0) -> DataFrame:
    """Vector->raster label burn (the GDAL RasterizeLayer analog; the
    missing inverse of ``point_eval``): each pixel takes the MAX key of the
    polygons whose interior contains its CELL_CENTER, ``fill`` where none.

    Distributed on BOTH sides — the polygon table never lands on the
    driver (same contract as spatial_join_dist):

      polygon_parts_df (normalize + envelopes, Arrow pass)
        -> envelope->tile-range explode (one row per candidate tile x part,
           same Arrow pass — the raster twin of polygon_cells_df)
        -> groupBy(tx, ty) applyInPandas burn: PIP of the 64x64 centers per
           candidate part, keys ascending, overwrite (max wins).

    Output: sparse int32 tile rows (tx, ty, band=0, data); tiles no
    envelope touches are absent (all-``fill`` by contract).  Mirrors the
    reference's MaskedImage pixel discipline (F/image/MaskedImage.java,
    CELL_CENTER PIP) generalized from one ROI to a polygon table."""
    from ..operators.spatial_join import polygon_parts_df
    from ..sources import polygons_from_wkb

    inv = _tr.affine_invert(gg.affine)
    w_px, h_px = gg.width, gg.height
    nx = (w_px + tile_size - 1) // tile_size
    ny = (h_px + tile_size - 1) // tile_size
    parts = polygon_parts_df(polygons_df)

    def explode_tiles(row):
        cx = np.array([row["xmin"], row["xmax"], row["xmin"], row["xmax"]])
        cy = np.array([row["ymin"], row["ymin"], row["ymax"], row["ymax"]])
        fx, fy = _tr.affine_apply(inv, cx, cy)
        tx0 = max(0, int(np.floor(fx.min())) // tile_size)
        tx1 = min(nx - 1, int(np.ceil(fx.max())) // tile_size)
        ty0 = max(0, int(np.floor(fy.min())) // tile_size)
        ty1 = min(ny - 1, int(np.ceil(fy.max())) // tile_size)
        ty, tx = np.mgrid[ty0:ty1 + 1, tx0:tx1 + 1]
        return {"tx": tx.ravel(), "ty": ty.ravel(), "key": row["key"],
                "wkb": row["wkb"]}

    cand = _map_rows(parts, "tx long, ty long, key long, wkb binary", [],
                     None, explode_tiles)

    def burn(pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(pdf["tx"].iloc[0]), int(pdf["ty"].iloc[0])
        gxs = np.arange(tile_size)
        gx, gy = np.meshgrid(tx * tile_size + gxs, ty * tile_size + gxs)
        cx, cy = gg.cell_center_to_crs(gx.ravel().astype(np.float64),
                                       gy.ravel().astype(np.float64))
        block = np.full(tile_size * tile_size, fill, dtype=np.int32)
        order = np.argsort(pdf["key"].to_numpy(), kind="stable")
        for i in order:
            (part,) = polygons_from_wkb([(int(pdf["key"].iloc[i]),
                                          bytes(pdf["wkb"].iloc[i]))])
            rings = [(part["vx"], part["vy"])] + list(part["holes"])
            m = _geo.points_in_polygon_with_holes(cx, cy, rings)
            block[m] = int(pdf["key"].iloc[i])
        return pd.DataFrame({
            "tx": [tx], "ty": [ty], "band": [0], "data": [block.tobytes()],
        })

    return cand.groupBy("tx", "ty").applyInPandas(burn, schema=TILE_SCHEMA)


def downsample_mean(tiles_df: DataFrame, gg: GridGeometry,
                    tile_size: int = 64, dtype=np.uint8):
    """Anti-aliased 2x reduction: each output pixel is the FLOOR mean of
    its 2x2 source block ((a+b+c+d) // 4, exact integer — the box-filter
    overview, vs overview_level's stride-2 point sampling).  Same
    aligned 2x2 gather shuffle shape as overview_level.  Returns
    (tiles_df, subsampled GridGeometry)."""
    def mean4(m):
        return ((m[0::2, 0::2] + m[0::2, 1::2] + m[1::2, 0::2] + m[1::2, 1::2])
                // 4).astype(dtype)

    out = _gather_2x2(tiles_df, tile_size, dtype, np.int64, mean4)
    return out, subsample(gg, 2, 2)


def tile_entropy_contrib_sql(n_px: int) -> str:
    """Shared Spark/DuckDB text: per-value Shannon-entropy contribution
    -p ln p (p = cnt/n_px, an exact dyadic for power-of-two tiles),
    floor-quantized at 1e9 BEFORE the per-tile integer sum."""
    n = f"{int(n_px)}.0"
    return (
        f"CAST(floor(-(CAST(cnt AS DOUBLE) / {n})"
        f" * ln(CAST(cnt AS DOUBLE) / {n})"
        " * 1.0e9 + 0.12345678987) AS BIGINT)"
    )


def tile_entropy(tiles_df: DataFrame, tile_size: int = 64,
                 dtype=np.uint8) -> DataFrame:
    """Per-tile Shannon entropy -> (tx, ty, band, n_vals, ent_q): the
    information-content score an image pipeline filters blank/noisy
    tiles by.  Exact integer histogram per tile (mapInPandas), then the
    shared-text quantized -p ln p per VALUE summed per tile — full
    tiles only (the caller clips partials); ln(1) tiles score 0."""
    def hist(r, a):
        cnt = np.bincount(a, minlength=256)
        nz = np.nonzero(cnt)[0]
        return {"tx": r["tx"], "ty": r["ty"], "band": r["band"],
                "value": nz, "cnt": cnt[nz]}

    rows = _map_tiles(tiles_df, "tx long, ty long, band int, value int, cnt long",
                      None, dtype, hist)
    n_px = tile_size * tile_size
    return (
        rows.withColumn("c", F.expr(tile_entropy_contrib_sql(n_px)))
        .groupBy("tx", "ty", "band")
        .agg(
            F.count(F.lit(1)).alias("n_vals"),
            F.sum("c").alias("ent_q"),
        )
    )


def hist_match(a: DataFrame, ref: DataFrame, gg: GridGeometry,
               tile_size: int = 64, dtype=np.uint8) -> DataFrame:
    """Histogram matching (specification): remap raster ``a`` so its
    per-band value distribution matches raster ``ref``'s -> remapped
    tiles.  PURE INTEGER: lut[v] = the smallest u minimizing
    |cdfA(v)*nR - cdfR(u)*nA| (cross-multiplied so no rational leaves
    int64), computed from two <=256-row distributed histograms — the
    color-normalization pass a satellite/image corpus runs before
    training.  Same two-job shape as stretch/hist_eq."""
    ha, hr = (_band_hists(t, gg, tile_size, dtype) for t in (a, ref))
    luts: dict[int, np.ndarray] = {}
    for band, ca in ha.items():
        cr = hr.get(band)
        if cr is None:
            continue
        cumA = np.cumsum(ca)
        cumR = np.cumsum(cr)
        nA, nR = int(cumA[-1]), int(cumR[-1])
        # |cdfA(v) - cdfR(u)| cross-multiplied: |cumA[v]*nR - cumR[u]*nA|
        diff = np.abs(
            cumA[:, None] * nR - cumR[None, :] * nA
        )  # (256, 256) int64
        luts[band] = diff.argmin(axis=1).astype(np.uint8)  # first min: smallest u
    return _apply_luts(a, luts, dtype)


def blockiness(tiles_df: DataFrame, block: int = 8, tile_size: int = 64,
               dtype=np.uint8) -> DataFrame:
    """JPEG block-artifact score per tile -> (tx, ty, band, b_sum, b_n,
    o_sum, o_n): the exact integer sums of |v[x+1] - v[x]| across column
    boundaries at x %% block == block-1 (b_*) vs all other columns (o_*)
    — a compressed image shows b_sum/b_n elevated against o_sum/o_n (the
    ratio stays rational).  Horizontal only, embarrassingly parallel,
    the compression-quality audit for a scraped-image corpus."""
    bmask = (np.arange(tile_size - 1) % block) == block - 1

    def fn(r, v):
        diff = np.abs(np.diff(v.astype(np.int64), axis=1))
        return {"tx": r["tx"], "ty": r["ty"], "band": r["band"],
                "b_sum": int(diff[:, bmask].sum()),
                "b_n": int(bmask.sum()) * tile_size,
                "o_sum": int(diff[:, ~bmask].sum()),
                "o_n": int((~bmask).sum()) * tile_size}

    return _map_tiles(
        tiles_df,
        "tx long, ty long, band int, b_sum long, b_n long, o_sum long, o_n long",
        tile_size, dtype, fn)


def moments_tiles(tiles_df: DataFrame, tile_size: int = 64,
                  dtype=np.uint8) -> DataFrame:
    """Raw image moments per tile in GLOBAL pixel coordinates (the exact
    building blocks of centroid / orientation / Hu-style shape features,
    public literature): with weight v(x, y) = pixel value,
      m00 = sum v, m10 = sum x*v, m01 = sum y*v,
      m11 = sum x*y*v, m20 = sum x^2*v, m02 = sum y^2*v,
    all exact int64.  Per-tile partials ADD, so the whole-image moments
    are one further sum — the Statistics.combine shape
    (U/math/Statistics.java:311) applied to weighted coordinates.
    Embarrassingly parallel, no shuffle; padding pixels are zero-valued
    and contribute nothing."""
    gx = np.arange(tile_size, dtype=np.int64)

    def fn(r, v):
        v = v.astype(np.int64)
        X = (r["tx"] * tile_size + gx)[None, :]
        Y = (r["ty"] * tile_size + gx)[:, None]
        return {"tx": r["tx"], "ty": r["ty"], "band": r["band"],
                "m00": int(v.sum()),
                "m10": int((X * v).sum()),
                "m01": int((Y * v).sum()),
                "m11": int((X * Y * v).sum()),
                "m20": int((X * X * v).sum()),
                "m02": int((Y * Y * v).sum())}

    return _map_tiles(
        tiles_df,
        "tx long, ty long, band int, m00 long, m10 long, "
        "m01 long, m11 long, m20 long, m02 long",
        tile_size, dtype, fn)


def gamma_lut(gamma: float = 2.2) -> list:
    """The shared 256-entry integer gamma LUT: lut[v] =
    floor(255 * (v/255)^(1/gamma) + 0.5), computed ONCE driver-side and
    embedded as a literal in both engines — no runtime pow anywhere."""
    return [
        int(np.floor(255.0 * (v / 255.0) ** (1.0 / gamma) + 0.5))
        for v in range(256)
    ]


def lut_hist_tiles(tiles_df: DataFrame, lut: list, tile_size: int = 64,
                   dtype=np.uint8) -> DataFrame:
    """Apply a 256-entry integer LUT (gamma / tone curve) and emit the
    per-tile histogram of transformed values -> (tx, ty, v, cnt) — the
    verification surface of any point-transfer raster op
    (F/image/ImageProcessor.java transfer functions).  Exact integers,
    embarrassingly parallel."""
    lu = np.asarray(lut, dtype=np.int64)

    def fn(r, a):
        cnt = np.bincount(lu[a.astype(np.int64)], minlength=256)
        nz = np.nonzero(cnt)[0]
        return {"tx": r["tx"], "ty": r["ty"], "v": nz, "cnt": cnt[nz]}

    return _map_tiles(tiles_df, "tx long, ty long, v long, cnt long", None,
                      dtype, fn)


def row_profile(tiles_df: DataFrame, tile_size: int = 64,
                dtype=np.uint8) -> DataFrame:
    """Horizontal projection profile: exact int64 pixel-value sum per
    GLOBAL raster row -> (band, y, vsum) — the document-layout /
    deskew primitive (row profiles locate text lines and margins).
    Per-tile partial row sums (map-only), then one tiny keyed sum —
    the Statistics.combine shape along an axis."""
    def fn(r, v):
        return {"band": r["band"],
                "y": r["ty"] * tile_size + np.arange(tile_size),
                "p": v.astype(np.int64).sum(axis=1)}

    part = _map_tiles(tiles_df, "band int, y long, p long", tile_size, dtype, fn)
    return part.groupBy("band", "y").agg(F.sum("p").alias("vsum"))


def clahe_luts(tiles_df: DataFrame, gg: GridGeometry, clip_limit: int = 64,
               band: int = 0, tile_size: int = 64,
               dtype=np.uint8) -> DataFrame:
    """Per-tile contrast-limited LUTs, the first half of CLAHE (Pizer et
    al. 1987, public literature) under a deterministic INTEGER spec:
    256-bin histogram over the tile's valid pixels, bins clipped at
    ``clip_limit``, the excess redistributed floor-uniformly (exc//256 to
    every bin, +1 to bins 0..exc%256-1 — conserves the pixel count
    exactly), then ``lut[v] = cdf[v] * 255 // npix``.  All int64; both
    engines replay it bit-exact.  Output: (tx, ty, lut binary[256])."""
    L = int(clip_limit)

    def fn(r, block):
        cnt = np.bincount(block.ravel(), minlength=256).astype(np.int64)
        exc = int(np.maximum(cnt - L, 0).sum())
        h2 = np.minimum(cnt, L) + exc // 256
        h2[: exc % 256] += 1
        cdf = np.cumsum(h2)
        npix = int(cdf[-1])          # == vh*vw by construction
        lut = (cdf * 255 // npix).astype(np.uint8)
        return {"tx": r["tx"], "ty": r["ty"], "lut": lut.tobytes()}

    return _map_tiles(tiles_df.filter(F.col("band") == band),
                      "tx long, ty long, lut binary", tile_size, dtype, fn, gg)


def clahe_tiles(tiles_df: DataFrame, gg: GridGeometry, clip_limit: int = 64,
                band: int = 0, tile_size: int = 64,
                dtype=np.uint8) -> DataFrame:
    """Contrast-limited adaptive histogram equalization: each output
    pixel bilinearly blends the clipped-CDF LUTs (``clahe_luts``) of its
    4 nearest tile centers with INTEGER weights — out = ((T-wx)*(T-wy)*
    L00[v] + wx*(T-wy)*L10[v] + (T-wx)*wy*L01[v] + wx*wy*L11[v]) //
    (T*T), where i0 = clamp((x + T/2)//T - 1), wx = (x + T/2) % T (the
    shift keeps every division non-negative so floor == truncate in any
    engine).  Border pixels clamp to the edge tile's LUT (the classic
    replicate rule); a neighbor missing from a sparse tile set falls
    back to the pixel's own tile LUT.

    Shape: the LUT table is tiny (one 256-byte row per tile) and ships
    to the 8 neighbor groups — a 9-way halo shuffle of LUTs, not pixels;
    pixel data joins its own group once via cogroup.  Pure integer."""
    T = tile_size
    ntx = (gg.width + T - 1) // T
    nty = (gg.height + T - 1) // T
    luts = clahe_luts(tiles_df, gg, clip_limit, band, T, dtype)
    halo = _halo_groups(luts, gg, T, col="lut")
    bdt = np.dtype(dtype)

    def fn(key, tiles_pdf, luts_pdf):
        if not len(tiles_pdf):
            return pd.DataFrame({"tx": [], "ty": [], "band": [],
                                 "data": []})
        tx, ty = int(key[0]), int(key[1])
        lutmap = {
            (int(a), int(b)): np.frombuffer(lv, np.uint8).astype(np.int64)
            for a, b, lv in zip(luts_pdf["tx"], luts_pdf["ty"],
                                luts_pdf["lut"])
        }
        own = lutmap.get((tx, ty))
        if own is None:
            return pd.DataFrame({"tx": [], "ty": [], "band": [],
                                 "data": []})
        # 3x3 LUT stack, missing neighbors replicate the own-tile LUT
        S = np.stack([
            np.stack([
                lutmap.get((tx + di, ty + dj), own)
                for di in (-1, 0, 1)
            ])
            for dj in (-1, 0, 1)
        ])  # (3, 3, 256)
        gx = tx * T + np.arange(T)
        gy = ty * T + np.arange(T)
        i0f = (gx + T // 2) // T - 1
        wx = ((gx + T // 2) % T)[None, :]
        j0f = (gy + T // 2) // T - 1
        wy = ((gy + T // 2) % T)[:, None]
        i0 = np.clip(i0f, 0, ntx - 1) - (tx - 1)
        i1 = np.clip(i0f + 1, 0, ntx - 1) - (tx - 1)
        j0 = np.clip(j0f, 0, nty - 1) - (ty - 1)
        j1 = np.clip(j0f + 1, 0, nty - 1) - (ty - 1)
        out_rows = []
        for bnd, data in zip(tiles_pdf["band"], tiles_pdf["data"]):
            v = np.frombuffer(data, dtype=bdt).reshape(T, T).astype(np.int64)
            l00 = S[j0[:, None], i0[None, :], v]
            l10 = S[j0[:, None], i1[None, :], v]
            l01 = S[j1[:, None], i0[None, :], v]
            l11 = S[j1[:, None], i1[None, :], v]
            m = ((T - wx) * (T - wy) * l00 + wx * (T - wy) * l10
                 + (T - wx) * wy * l01 + wx * wy * l11) // (T * T)
            out_rows.append({"tx": tx, "ty": ty, "band": bnd,
                             "data": m.astype(bdt).tobytes()})
        return pd.DataFrame(out_rows)

    src = tiles_df.filter(F.col("band") == band)
    return (
        src.groupBy("tx", "ty")
        .cogroup(halo.groupBy("gtx", "gty"))
        .applyInPandas(fn, schema=TILE_SCHEMA)
    )


def haar_energy_tiles(tiles_df: DataFrame, gg: GridGeometry, band: int = 0,
                      tile_size: int = 64, dtype=np.uint8) -> DataFrame:
    """Per-tile 1-level 2-D Haar subband energies (unnormalized integer
    lifting; the wavelet-energy texture/blur fingerprint an image-curation
    pipeline buckets by).  Over each 2x2 block with a = (2i, 2j),
    b = (2i+1, 2j), c = (2i, 2j+1), d = (2i+1, 2j+1):
    LL = a+b+c+d, HL = a-b+c-d, LH = a+b-c-d, HH = a-b-c+d, and the tile
    row carries the exact int64 sums of squares per subband over the
    tile's fully-valid blocks.  Tile-local (2 | tile_size), no halo, no
    FP; magnitudes <= 1024 blocks * 1020^2 < 2^31 per tile."""
    def fn(r, blk):
        nby, nbx = blk.shape[0] // 2, blk.shape[1] // 2  # fully-valid blocks only
        if nby <= 0 or nbx <= 0:
            return None
        blk = blk.astype(np.int64)
        a = blk[0:2 * nby:2, 0:2 * nbx:2]
        b = blk[0:2 * nby:2, 1:2 * nbx:2]
        c = blk[1:2 * nby:2, 0:2 * nbx:2]
        d = blk[1:2 * nby:2, 1:2 * nbx:2]
        ll = a + b + c + d
        hl = a - b + c - d
        lh = a + b - c - d
        hh = a - b - c + d
        return {"tx": r["tx"], "ty": r["ty"],
                "e_ll": int((ll * ll).sum()),
                "e_hl": int((hl * hl).sum()),
                "e_lh": int((lh * lh).sum()),
                "e_hh": int((hh * hh).sum())}

    return _map_tiles(tiles_df.filter(F.col("band") == band),
                      "tx long, ty long, e_ll long, e_hl long, e_lh long, e_hh long",
                      tile_size, dtype, fn, gg)


def laplacian_energy_tiles(tiles_df: DataFrame, gg: GridGeometry,
                           band: int = 0, tile_size: int = 64,
                           dtype=np.uint8) -> DataFrame:
    """Per-tile level-1 Laplacian-pyramid detail energy: L = tile -
    nearest-upsample(stride-2 decimation) (the bit-exact decimation of
    ``overview_level``), emitted as exact int64 (sum|L|, sum L^2, n) —
    the blur/detail score an image-curation pipeline filters on.
    Tile-local (2 | tile_size): no halo, no shuffle beyond the scan."""
    def fn(r, blk):
        blk = blk.astype(np.int64)
        vh, vw = blk.shape
        up = np.repeat(np.repeat(blk[0::2, 0::2], 2, 0), 2, 1)[:vh, :vw]
        L = blk - up
        return {"tx": r["tx"], "ty": r["ty"],
                "sum_abs": int(np.abs(L).sum()),
                "sum_sq": int((L * L).sum()),
                "n": int(L.size)}

    return _map_tiles(tiles_df.filter(F.col("band") == band),
                      "tx long, ty long, sum_abs long, sum_sq long, n long",
                      tile_size, dtype, fn, gg)


def brovey_tiles(ms_df: DataFrame, pan_df: DataFrame, gg: GridGeometry,
                 bands: tuple = (0, 1, 2), tile_size: int = 64,
                 dtype=np.uint8) -> DataFrame:
    """Brovey pansharpening (the classic ratio transform, public remote-
    sensing literature) under an exact integer spec: out_b = pan * m_b *
    len(bands) // max(sum_b m_b, 1), clamped to 255.  The multispectral
    tile set carries one row per band; the pan set one row — joined by
    cogroup on (tx, ty), so the fusion is tile-local (no halo)."""
    bdt = np.dtype(dtype)
    ts = tile_size
    nb = len(bands)

    def fn(key, ms_pdf, pan_pdf):
        empty = pd.DataFrame({"tx": [], "ty": [], "band": [], "data": []})
        if not len(pan_pdf):
            return empty
        tx, ty = int(key[0]), int(key[1])
        planes = {}
        for b, data in zip(ms_pdf["band"], ms_pdf["data"]):
            planes[int(b)] = np.frombuffer(data, dtype=bdt).reshape(
                ts, ts).astype(np.int64)
        if any(b not in planes for b in bands):
            return empty
        pan = np.frombuffer(pan_pdf["data"].iloc[0], dtype=bdt).reshape(
            ts, ts).astype(np.int64)
        tot = np.maximum(sum(planes[b] for b in bands), 1)
        rows = []
        for b in bands:
            out = np.minimum(pan * planes[b] * nb // tot, 255)
            rows.append({"tx": tx, "ty": ty, "band": int(b),
                         "data": out.astype(bdt).tobytes()})
        return pd.DataFrame(rows)

    return (
        ms_df.filter(F.col("band").isin(list(bands)))
        .groupBy("tx", "ty")
        .cogroup(pan_df.groupBy("tx", "ty"))
        .applyInPandas(fn, schema=TILE_SCHEMA)
    )


def areal_interpolate(tiles: DataFrame, values: DataFrame,
                      tile_size: int = 64, scale: int = 1 << 20) -> DataFrame:
    """Areal (dasymetric) interpolation over a rasterized label grid (the
    classic GIS apportionment: a polygon's value spreads uniformly over
    its burned cells): per-cell share of polygon k =
    floordiv(value(k) * scale, ncells(k)); returns per-tile apportioned
    sums (tx, ty, share) over labeled pixels.

    Shape: pass 1 counts labels per tile (mapInPandas bincount -> one
    map-side-combined agg = the tiny ncells table); pass 2 joins the
    broadcast ncells+values back to the same per-tile counts and sums —
    the label raster is scanned twice, nothing else shuffles."""
    def counts(r, lab):
        ks, cs = np.unique(lab[lab > 0], return_counts=True)
        return {"tx": r["tx"], "ty": r["ty"], "key": ks, "cnt": cs}

    # eager checkpoint: read by both passes, no cache entry left behind
    tc = _map_tiles(tiles.filter(F.col("band") == 0),
                    "tx long, ty long, key long, cnt long", None, np.int32,
                    counts).localCheckpoint()
    ncells = tc.groupBy("key").agg(F.sum("cnt").alias("ncells"))
    per_cell = ncells.join(values, "key").selectExpr(
        "key", f"(value * {int(scale)}) DIV ncells AS share_per_cell"
    )
    out = (
        tc.join(F.broadcast(per_cell), "key")
        .groupBy("tx", "ty")
        .agg(F.sum(F.col("cnt") * F.col("share_per_cell")).alias("share"))
    )
    return out


def zonal_mode(zone_tiles: DataFrame, val_tiles: DataFrame,
               tile_size: int = 64) -> DataFrame:
    """Zonal majority (the categorical member of the zonal_stats family):
    the modal value of the value raster within each zone of the label
    raster, ties to the SMALLEST value — (zone, v_mode, cnt), zone 0
    (background) excluded.

    Shape: one (tx, ty) tile zip join -> per-tile (zone, v) bincount
    rows (mapInPandas) -> one map-side-combined count + one window
    argmax over the (zones x values) table — never per-pixel shuffles."""
    from pyspark.sql import Window

    z = zone_tiles.filter(F.col("band") == 0).select(
        "tx", "ty", F.col("data").alias("zdata")
    )
    v = val_tiles.filter(F.col("band") == 0).select(
        "tx", "ty", F.col("data").alias("vdata")
    )

    def pairs(r, zl, vl):
        m = zl > 0
        key = zl[m].astype(np.int64) * 256 + vl[m]
        ks, cs = np.unique(key, return_counts=True)
        return {"zone": ks // 256, "v": ks % 256, "cnt": cs}

    pv = _map_tiles(z.join(v, ["tx", "ty"]), "zone long, v long, cnt long",
                    None, {"zdata": np.int32, "vdata": np.uint8}, pairs)
    agg = pv.groupBy("zone", "v").agg(F.sum("cnt").alias("cnt"))
    w = Window.partitionBy("zone").orderBy(F.col("cnt").desc(), "v")
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("zone", F.col("v").alias("v_mode"), "cnt")
    )


def zone_adjacency(zone_tiles: DataFrame, tile_size: int = 64) -> DataFrame:
    """Zone adjacency extraction (the topology step of a rasterized
    coverage: which zones share a border, and how long): counts
    4-neighbor pixel pairs whose labels differ, keyed by the canonical
    (min zone, max zone) pair; background (0) participates so exterior
    borders are measurable.  Returns (za, zb, border_len).

    Shape: intra-tile transitions are one mapInPandas count per tile;
    the tile seams come from ``_seams`` — only edge columns and rows
    ship, so the shuffle is O(perimeter), not O(area)."""
    def label_pairs(a, b):
        a, b = a.astype(np.int64), b.astype(np.int64)
        m = a != b
        key = np.minimum(a[m], b[m]) * (1 << 32) + np.maximum(a[m], b[m])
        ks, cs = np.unique(key, return_counts=True)
        return {"za": ks >> 32, "zb": ks & 0xFFFFFFFF, "border_len": cs}

    z = zone_tiles.filter(F.col("band") == 0).select("tx", "ty", "data")
    schema = "za long, zb long, border_len long"
    intra = _map_tiles(z, schema, tile_size, np.int32,
                       lambda r, lab: label_pairs(*_inner_pairs(lab)))
    seams = _map_tiles(_seams(z, tile_size, np.int32), schema, None,
                       {"a": np.int32, "b": np.int32},
                       lambda r, a, b: label_pairs(a, b))
    return intra.union(seams).groupBy("za", "zb").agg(
        F.sum("border_len").alias("border_len"))


def _inner_pairs(v: np.ndarray):
    """The 4-neighbour pixel pairs inside one tile -> (a, b) flat arrays:
    every horizontal pair, then every vertical one."""
    return (np.concatenate([v[:, :-1].ravel(), v[:-1, :].ravel()]),
            np.concatenate([v[:, 1:].ravel(), v[1:, :].ravel()]))


def _seams(tiles: DataFrame, tile_size: int, dtype) -> DataFrame:
    """The neighbour-seam join: every tile against the tiles at
    (tx+1, ty) and (tx, ty+1) -> (kx, ky, axis, a, b), a = the tile's last
    column (axis 0) or last row (axis 1), b = the neighbour's first column
    or first row, as ``dtype`` byte strips.  Only those edges leave the
    tile, so the shuffle is O(perimeter); a tile with no such neighbour
    has no seam row."""
    def edges(r, v):
        tx, ty = r["tx"], r["ty"]
        return {"kx": [tx, tx - 1, tx, tx], "ky": [ty, ty, ty, ty - 1],
                "axis": [0, 0, 1, 1], "side": [0, 1, 0, 1],
                "strip": [v[:, -1].tobytes(), v[:, 0].tobytes(),
                          v[-1].tobytes(), v[0].tobytes()]}

    e = _map_tiles(tiles, "kx long, ky long, axis int, side int, strip binary",
                   tile_size, dtype, edges)
    side = [F.max(F.when(F.col("side") == i, F.col("strip"))).alias(c)
            for i, c in enumerate("ab")]
    return e.groupBy("kx", "ky", "axis").agg(*side).dropna()


def join_counts_tiles(
    tiles: DataFrame, thresh: int, tile_size: int = 64
) -> DataFrame:
    """Join-count statistics (Cliff & Ord 1981) of the binary raster
    b = (v >= thresh) under rook (4-neighbor) adjacency -> ONE row
    (n1, n0, bb, ww, bw, m): the categorical spatial-autocorrelation
    test — clustered black pixels push bb above its random expectation
    m * n1(n1-1)/(n(n-1)).  Same shape as zone_adjacency: intra-tile
    pair counts are one vectorized mapInPandas pass, tile seams
    (``_seams``) ship only their edge columns and rows (O(perimeter)
    shuffle), one final tiny agg.
    Tiles must cover the extent exactly (no partial tiles)."""
    th = int(thresh)
    t = tiles.filter(F.col("band") == 0).select("tx", "ty", "data")
    schema = "n1 long, n0 long, bb long, ww long, bw long"

    def counts(a, b):
        a, b = (a >= th).astype(np.int64), (b >= th).astype(np.int64)
        bb = int((a & b).sum())
        ww = int(((1 - a) & (1 - b)).sum())
        return {"bb": bb, "ww": ww, "bw": int(a.size - bb - ww)}

    def intra(r, v):
        n1 = int((v >= th).sum())
        return {"n1": n1, "n0": v.size - n1, **counts(*_inner_pairs(v))}

    seams = _map_tiles(_seams(t, tile_size, np.uint8), schema, None,
                       {"a": np.uint8, "b": np.uint8},
                       lambda r, a, b: {"n1": 0, "n0": 0, **counts(a, b)})
    out = _map_tiles(t, schema, tile_size, np.uint8, intra).union(seams)
    agg = out.agg(
        F.sum("n1").alias("n1"), F.sum("n0").alias("n0"),
        F.sum("bb").alias("bb"), F.sum("ww").alias("ww"),
        F.sum("bw").alias("bw"),
    )
    return agg.select(
        "n1", "n0", "bb", "ww", "bw",
        (F.col("bb") + F.col("ww") + F.col("bw")).alias("m"),
    )
