"""ESRI ASCII grid store — text rasters as tile-row DataFrames.

Header semantics re-derived from the reference's AsciiGridStore
(S/esri/AsciiGridStore.java:244-320 ``readHeader``):

* ``NCOLS/NROWS`` grid size; ``CELLSIZE`` (or the GDAL ``DX``/``DY``
  extension) scales; rows are north->south, so m11 = -cellsize;
* lower-left origin by ``XLLCORNER/YLLCORNER`` or ``XLLCENTER/YLLCENTER``;
  the y translation is YLL - m11*height (the top edge), and a CENTER
  registration shifts that axis by half a cell;
* ``NODATA_VALUE`` optional; no-data cells surface as NaN (the reference's
  default, AsciiGridStore.java:57 DEFAULT_NODATA).

Spark shape: the (small) header parses driver-side; the body is read as a
line DataFrame — one text line per grid row, the layout this writer and
every common producer emit — and each task turns its row-range into tile
fragments which a single (tx, ty) shuffle assembles into the engine's
TILE_SCHEMA blocks (float64).  The layout is decided on the driver from
the first body line, which the header read already holds: a body whose
first line does not hold NCOLS values falls back to a driver-side
whole-text parse.  Blank lines are skipped; a later row line that does
not hold NCOLS values raises a ``ValueError`` naming it, and so does a
body short of NROWS lines (every tile of the header's grid keys a group,
so a tile missing rows is seen where it is assembled).  A body that is
one split of the text starts no Spark job before the caller's action; a
longer one starts ``zipWithIndex``'s partition-size job.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import _map_rows
from ..raster.grid import GridGeometry
from ..raster.tiles import TILE_SCHEMA, raster_to_tiles

_HEADER_KEYS = {"ncols", "nrows", "xllcorner", "yllcorner", "xllcenter",
                "yllcenter", "cellsize", "dx", "dy", "nodata_value"}


def parse_ascii_header(lines: list[str]) -> tuple[dict, int]:
    """Leading ``KEY value`` lines -> (header dict, #header lines)."""
    header: dict = {}
    n = 0
    for line in lines:
        parts = line.split()
        if len(parts) == 2 and parts[0].lower() in _HEADER_KEYS:
            header[parts[0].lower()] = parts[1]
            n += 1
        else:
            break
    return header, n


def grid_geometry_of(header: dict) -> tuple[GridGeometry, float]:
    """Header -> (engine GridGeometry with corner-registered affine,
    nodata value).  Mirrors AsciiGridStore.readHeader's matrix build."""
    w = int(header["ncols"])
    h = int(header["nrows"])
    if "cellsize" in header:
        sx = float(header["cellsize"])
        sy = -sx
    else:
        sx = float(header["dx"])
        sy = -float(header["dy"])
    if "xllcenter" in header:
        x0 = float(header["xllcenter"]) - 0.5 * sx
    else:
        x0 = float(header["xllcorner"])
    yll = float(header.get("yllcenter", header.get("yllcorner")))
    y0 = yll - sy * h  # top edge (m12 = YLL - m11*height)
    if "yllcenter" in header:
        y0 = y0 + 0.5 * sy
    nodata = float(header.get("nodata_value", "nan"))
    gg = GridGeometry((0, 0, w - 1, h - 1), (sx, 0.0, x0, 0.0, sy, y0))
    return gg, nodata


def read_ascii_grid(
    spark: SparkSession, path: str, tile_size: int = 64
) -> tuple[DataFrame, GridGeometry]:
    """Distributed read: returns (tiles_df in TILE_SCHEMA float64 blocks,
    GridGeometry).  No-data cells become NaN."""
    from itertools import islice

    from ..functions.wkt_crs import prj_sidecar_code

    with open(path, "r") as f:
        head_lines = list(islice(f, 12))
    header, n_head = parse_ascii_header(head_lines)
    gg, nodata = grid_geometry_of(header)
    code = prj_sidecar_code(path)  # the reference's readPRJ step
    if code is not None:
        gg = GridGeometry(gg.extent, gg.affine, code)
    w, h = gg.width, gg.height

    body = [ln for ln in head_lines[n_head:] if ln.strip()]
    if not body or len(body[0].split()) != w:
        # not line-per-row: parse driver-side (reference reads sequentially
        # token-by-token anyway; this layout is rare and small in practice)
        with open(path, "r") as f:
            toks = f.read().split()
        vals = np.array([float(v) for v in toks[2 * n_head:]], dtype=np.float64)
        arr = vals.reshape(h, w)
        arr = np.where(arr == nodata, np.nan, arr)[..., None]
        return raster_to_tiles(spark, arr, gg, tile_size), gg

    # stable line numbers over the non-blank lines: single ordered pass (the
    # file is one split for typical sizes; zipWithIndex keeps correctness if
    # it is not)
    lines = spark.read.text(path).filter(F.trim("value") != "")
    idx = spark.createDataFrame(
        lines.rdd.zipWithIndex().map(lambda t: (t[1] - n_head, t[0]["value"])),
        "row long, line string",
    ).filter(F.col("row") >= 0).repartition(spark.sparkContext.defaultParallelism, "row")

    ntx = (w + tile_size - 1) // tile_size

    def to_fragments(row, line):
        v = np.array(line.split(), dtype=np.float64)
        if len(v) != w or row["row"] >= h:
            raise ValueError(
                f"{path}: row line {row['row']} holds {len(v)} values; the "
                f"body should be NROWS {h} lines of NCOLS {w} values")
        seg = np.zeros(ntx * tile_size, dtype=np.float64)
        seg[:w] = np.where(v == nodata, np.nan, v)
        ty, iy = divmod(row["row"], tile_size)
        return {"tx": np.arange(ntx, dtype=np.int64), "ty": ty, "iy": iy,
                "seg": [s.tobytes() for s in seg.reshape(ntx, tile_size)]}

    frags = _map_rows(idx, "tx long, ty long, iy int, seg binary", ["line"],
                      None, to_fragments)
    # one marker row (iy -1) per tile of the header's grid: a tile row the
    # body never reaches still forms a group, and fails the row check below
    nty = (h + tile_size - 1) // tile_size
    frags = frags.unionByName(spark.range(ntx * nty).select(
        (F.col("id") % ntx).alias("tx"), F.expr(f"id div {ntx}").alias("ty"),
        F.lit(-1).alias("iy"), F.lit(None).cast("binary").alias("seg")))

    def assemble(key, pdf: pd.DataFrame):
        ty = int(key[1])
        pdf = pdf[pdf["iy"] >= 0]
        n_valid = min(tile_size, h - ty * tile_size)
        if len(pdf) != n_valid:  # row numbers are unique and < NROWS
            missing = sorted(set(range(n_valid)) - set(pdf["iy"].tolist()))[0]
            raise ValueError(
                f"{path}: the body holds no row line {ty * tile_size + missing}; "
                f"it should be NROWS {h} lines of NCOLS {w} values")
        block = np.zeros((tile_size, tile_size), dtype=np.float64)
        for iy, seg in zip(pdf["iy"], pdf["seg"]):
            block[int(iy)] = np.frombuffer(seg, dtype=np.float64)
        return pd.DataFrame(
            [(int(key[0]), ty, 0, block.tobytes())],
            columns=["tx", "ty", "band", "data"],
        )

    tiles = frags.groupBy("tx", "ty").applyInPandas(assemble, schema=TILE_SCHEMA)
    return tiles, gg


def format_ascii_grid(
    arr: np.ndarray, gg: GridGeometry, nodata: float = -9999.0
) -> str:
    """(h, w) array + grid geometry -> ASCII grid text (WritableGridCoverage
    analog; corner-registered, one grid row per line).  NaN cells are
    written as the nodata value."""
    sx, _, x0, _, sy, y0 = gg.affine
    h, w = arr.shape
    lines = [
        f"NCOLS {w}", f"NROWS {h}",
        f"XLLCORNER {x0!r}", f"YLLCORNER {(y0 + sy * h)!r}",
        f"CELLSIZE {sx!r}", f"NODATA_VALUE {nodata:g}",
    ]
    a = np.where(np.isnan(arr), nodata, arr)
    for r in range(h):
        lines.append(" ".join(
            repr(v) if v != int(v) else str(int(v)) for v in a[r]
        ))
    return "\n".join(lines) + "\n"
