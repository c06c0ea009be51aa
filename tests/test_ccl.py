"""Distributed connected-component labeling vs the dense reference."""

import numpy as np

from sis_spark.raster.ccl import ccl_dense, ccl_tiles
from sis_spark.raster.grid import GridGeometry
from sis_spark.raster.tiles import raster_to_tiles


def _region_stats(mask):
    lab = ccl_dense(mask)
    out = set()
    for v in np.unique(lab[lab > 0]):
        ys, xs = np.nonzero(lab == v)
        out.add((len(xs), xs.min(), ys.min(), xs.max(), ys.max()))
    return out


def test_ccl_tiles_matches_dense_random(spark):
    rng = np.random.default_rng(41)
    h = w = 80
    mask = rng.random((h, w)) < 0.35  # sparse blobs, many boundary crossings
    gg = GridGeometry((0, 0, w - 1, h - 1), (1, 0, 0, 0, 1, 0))
    tiles = raster_to_tiles(
        spark, mask.astype(np.uint8)[..., None], gg, tile_size=32
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    cached = cache.numCachedEntries()
    got = {
        (r.n_px, r.x_min, r.y_min, r.x_max, r.y_max)
        for r in ccl_tiles(tiles, gg, tile_size=32).collect()
    }
    assert got == _region_stats(mask)
    assert cache.numCachedEntries() == cached


def test_ccl_tiles_single_region_spanning_all_tiles(spark):
    h = w = 64
    mask = np.zeros((h, w), bool)
    mask[31, :] = True   # full-width line
    mask[:, 17] = True   # full-height line -> one cross-shaped region
    gg = GridGeometry((0, 0, w - 1, h - 1), (1, 0, 0, 0, 1, 0))
    tiles = raster_to_tiles(
        spark, mask.astype(np.uint8)[..., None], gg, tile_size=16
    )
    rows = ccl_tiles(tiles, gg, tile_size=16).collect()
    assert len(rows) == 1
    (r,) = rows
    assert r.n_px == 64 + 64 - 1
    assert (r.x_min, r.y_min, r.x_max, r.y_max) == (0, 0, 63, 63)


def test_ccl_dense_diagonal_not_connected():
    mask = np.array([[1, 0], [0, 1]], bool)
    lab = ccl_dense(mask)
    assert lab[0, 0] != lab[1, 1]  # 4-connectivity: diagonals separate
