"""XYZ (slippy-map) tile-pyramid sink and source: ``{z}/{x}/{y}.png`` trees.

The serving-side export of the tile pyramid (the reference's TileMatrixSet /
WritableTileMatrixSet contract, S/storage/tiling/TileMatrixSet.java:53 and
WritableTileMatrix.java — re-expressed as a distributed file sink): every
(tile, zoom) renders to one image file under the standard web-mapping
directory convention, where ``z = deepest`` is the full-resolution level and
each step up halves the grid (exactly the stride-2 overview levels of
raster/tiles.build_overviews).

Spark shape: the band tiles of one (tx, ty) meet in a single
``groupBy(tx, ty).applyInPandas`` task that stacks bands, encodes (pure-numpy
codec, no PIL), and writes its one file — one shuffle per level, payload
bytes never on the driver; the returned manifest DataFrame is the only thing
the driver sees (collecting it drives the write).  Reads are one task per
tile file with (z, x, y) recovered from the path — path layout IS the index,
so a zoom- or extent-filtered read lists only the matching files.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions.udfs import _map_rows
from . import codec

MANIFEST_SCHEMA = "z int, x long, y long, path string, bytes long"
TILE_READ_SCHEMA = "z int, tx long, ty long, band int, data binary"


def write_xyz_tiles(
    levels: list,
    out_dir: str,
    tile_size: int = 64,
    fmt: str = "png",
) -> DataFrame:
    """Write pyramid ``levels`` = [(level, tiles_df, gg)] (level 0 = full
    resolution, as produced by [(0, base, gg)] + build_overviews(...)) as a
    slippy tree: directory z = (max level - level), so the deepest z is the
    full-resolution grid.  Returns the unioned manifest DataFrame — one
    action (e.g. .collect()) performs every write."""
    max_level = max(lv for lv, _, _ in levels)

    def make_writer(z: int):
        # single-arg closure: a two-parameter function would make
        # applyInPandas pass (key, pdf) instead
        def write_tile(pdf: pd.DataFrame) -> pd.DataFrame:
            tx, ty = int(pdf["tx"].iloc[0]), int(pdf["ty"].iloc[0])
            pdf = pdf.sort_values("band", kind="mergesort")
            arr = np.stack(
                [np.frombuffer(d, np.uint8).reshape(tile_size, tile_size)
                 for d in pdf["data"]],
                axis=2,
            )
            buf = codec.encode(arr, fmt)
            d = os.path.join(out_dir, str(z), str(tx))
            os.makedirs(d, exist_ok=True)
            path = os.path.join(d, f"{ty}.{fmt}")
            with open(path, "wb") as fh:
                fh.write(buf)
            return pd.DataFrame(
                [{"z": z, "x": tx, "y": ty, "path": path, "bytes": len(buf)}]
            )

        return write_tile

    manifest = None
    for level, tiles_df, _gg in levels:
        z = max_level - level
        m = tiles_df.groupBy("tx", "ty").applyInPandas(make_writer(z), MANIFEST_SCHEMA)
        manifest = m if manifest is None else manifest.unionByName(m)
    return manifest


def read_xyz_tiles(
    spark: SparkSession,
    in_dir: str,
    fmt: str = "png",
    zooms: list[int] | None = None,
) -> DataFrame:
    """Distributed read of a slippy tree back to band-tile rows
    (z, tx, ty, band, data).  ``zooms`` prunes at the LISTING level — a
    single-zoom read never opens the other directories."""
    zs = (
        sorted(int(os.path.basename(p)) for p in glob.glob(os.path.join(in_dir, "*")))
        if zooms is None
        else list(zooms)
    )
    paths = [
        p for z in zs for p in glob.glob(os.path.join(in_dir, str(z), "*", f"*.{fmt}"))
    ]
    pdf = spark.createDataFrame([(p,) for p in paths], "path string").repartition(
        max(min(len(paths), 64), 1)
    )

    def rd(row):
        parts = row["path"].split(os.sep)
        with open(row["path"], "rb") as fh:
            arr = codec.decode(fh.read(), fmt)
        return {"z": int(parts[-3]), "tx": int(parts[-2]),
                "ty": int(parts[-1].rsplit(".", 1)[0]),
                "band": np.arange(arr.shape[2]),
                "data": [arr[:, :, b].tobytes() for b in range(arr.shape[2])]}

    return _map_rows(pdf, TILE_READ_SCHEMA, [], None, rd)
