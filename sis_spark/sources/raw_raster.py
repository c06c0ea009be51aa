"""ESRI raw binary raster store (BIL / BIP / BSQ + ``.hdr``).

Header and layout semantics re-derived from the reference's RawRasterStore
(S/esri/RawRasterStore.java:383-470 ``readHeader``):

* ``NROWS/NCOLS/NBANDS``; ``NBITS`` + ``PIXELTYPE`` (SIGNEDINT/FLOAT) +
  ``BYTEORDER`` (I = little, M = big/Motorola) fix the sample dtype;
* ``LAYOUT`` BIL (band-interleaved by line, the default), BIP (by pixel),
  BSQ (band sequential); ``SKIPBYTES`` header offset; for BIL,
  ``BANDROWBYTES``/``TOTALROWBYTES`` allow row padding (defaults
  ceil(NCOLS*NBITS/8) and NBANDS*BANDROWBYTES, RawRasterStore.java:461-463);
* ``ULXMAP/ULYMAP`` are the CENTER of the upper-left cell and
  ``XDIM/YDIM`` the cell sizes (CELL_CENTER anchor, :446-447), so the
  corner-registered affine is (xdim, 0, ulxmap - xdim/2,
  0, -ydim, ulymap + ydim/2).  Defaults xdim = ydim = 1, ulxmap = 0,
  ulymap = NROWS - 1 (the documented default; the reference code's
  ``ncols - 1`` at :430 contradicts its own javadoc at :139).

Spark shape: a fixed binary layout means every tile row maps to a byte
range computable from the header alone — the read is a SHUFFLE-FREE
manifest of tile-row strips (``functions.udfs._map_manifest``); each
strip seeks into the data file and emits finished tile blocks.  That is
the random-access contract a 100 TB object store needs (ranged GETs),
unlike the ASCII store's sequential text scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions.udfs import _map_manifest
from ..raster.grid import GridGeometry
from ..raster.tiles import TILE_SCHEMA, _tile_cut

_HDR_KEYS = {"nrows", "ncols", "nbands", "nbits", "pixeltype", "byteorder",
             "layout", "skipbytes", "bandrowbytes", "totalrowbytes",
             "bandgapbytes", "ulxmap", "ulymap", "xdim", "ydim", "nodata"}


def parse_hdr(text: str) -> dict:
    h: dict = {}
    for line in text.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0].lower() in _HDR_KEYS:
            h[parts[0].lower()] = parts[1]
    return h


def _dtype_of(h: dict) -> np.dtype:
    nbits = int(h.get("nbits", "8"))
    pt = h.get("pixeltype", "").upper()
    little = h.get("byteorder", "I").upper() != "M"
    if pt in ("FLOAT", "F"):
        base = {32: "f4", 64: "f8"}[nbits]
    elif pt in ("SIGNED", "SIGNEDINT"):
        base = {8: "i1", 16: "i2", 32: "i4"}[nbits]
    else:
        base = {8: "u1", 16: "u2", 32: "u4"}[nbits]
    return np.dtype(("<" if little else ">") + base)


def hdr_geometry(h: dict) -> tuple[GridGeometry, np.dtype, dict]:
    """Header dict -> (GridGeometry, dtype, layout info)."""
    w, hh = int(h["ncols"]), int(h["nrows"])
    nbands = int(h.get("nbands", "1"))
    dtype = _dtype_of(h)
    bps = dtype.itemsize
    layout = h.get("layout", "BIL").upper()
    xdim = float(h.get("xdim", "1"))
    ydim = float(h.get("ydim", "1"))
    ulx = float(h.get("ulxmap", "0"))
    uly = float(h.get("ulymap", repr(hh - 1)))
    gg = GridGeometry(
        (0, 0, w - 1, hh - 1),
        (xdim, 0.0, ulx - 0.5 * xdim, 0.0, -ydim, uly + 0.5 * ydim),
    )
    band_row = int(h.get("bandrowbytes", "0")) or -(-(w * int(h.get("nbits", "8"))) // 8)
    info = {
        "nbands": nbands, "layout": layout, "bps": bps,
        "skip": int(h.get("skipbytes", "0")),
        "band_row": band_row,
        "total_row": int(h.get("totalrowbytes", "0")) or nbands * band_row,
    }
    return gg, dtype, info


def _decode_rows(buf: bytes, h_info: dict, dtype: np.dtype, w: int,
                 n_rows: int) -> np.ndarray:
    """Bytes holding n_rows full raster rows -> (n_rows, w, nbands)."""
    nb, bps = h_info["nbands"], h_info["bps"]
    lay = h_info["layout"]
    if lay == "BIL":
        tr, br = h_info["total_row"], h_info["band_row"]
        rows = np.frombuffer(buf, dtype=np.uint8).reshape(n_rows, tr)
        out = np.empty((n_rows, w, nb), dtype=dtype)
        for b in range(nb):
            band = rows[:, b * br:b * br + w * bps]
            out[:, :, b] = np.frombuffer(band.tobytes(), dtype=dtype).reshape(n_rows, w)
        return out
    if lay == "BIP":
        return np.frombuffer(buf, dtype=dtype).reshape(n_rows, w, nb)
    raise ValueError(f"unsupported layout {lay!r}")  # BSQ handled by caller


def read_raw_raster(
    spark: SparkSession, data_path: str, hdr_path: str | None = None,
    tile_size: int = 64,
) -> tuple[DataFrame, GridGeometry, np.dtype]:
    """Distributed shuffle-free read: one manifest row per tile-row strip,
    ranged reads into finished TILE_SCHEMA blocks (native dtype bytes)."""
    from ..functions.wkt_crs import prj_sidecar_code

    hdr_path = hdr_path or data_path.rsplit(".", 1)[0] + ".hdr"
    with open(hdr_path, "r") as f:
        h = parse_hdr(f.read())
    gg, dtype, info = hdr_geometry(h)
    code = prj_sidecar_code(data_path)  # the reference's readPRJ step
    if code is not None:
        gg = GridGeometry(gg.extent, gg.affine, code)
    w, hh = gg.width, gg.height
    nb = info["nbands"]
    n_ty = (hh + tile_size - 1) // tile_size
    strips = pd.DataFrame({"ty": np.arange(n_ty, dtype=np.int64)})
    bps = info["bps"]
    lay = info["layout"]

    def read_strip(row):
        y0 = row["ty"] * tile_size
        nr = min(tile_size, hh - y0)
        with open(data_path, "rb") as f:
            if lay == "BSQ":
                cube = np.empty((nr, w, nb), dtype=dtype)
                for band in range(nb):
                    f.seek(info["skip"] + (band * hh + y0) * w * bps)
                    cube[:, :, band] = np.frombuffer(
                        f.read(nr * w * bps), dtype=dtype).reshape(nr, w)
            else:
                tr = info["total_row"] if lay == "BIL" else w * nb * bps
                f.seek(info["skip"] + y0 * tr)
                cube = _decode_rows(f.read(nr * tr), info, dtype, w, nr)
        return dict(_tile_cut(cube, tile_size), ty=row["ty"])

    return _map_manifest(spark, strips, TILE_SCHEMA, read_strip), gg, dtype


def format_raw_raster(
    arr: np.ndarray, gg: GridGeometry, layout: str = "BIL",
    byteorder: str = "I",
) -> tuple[bytes, str]:
    """(h, w, bands) array -> (data bytes, .hdr text).  Writer analog of
    the reference's WritableStore for the raw family."""
    hh, w, nb = arr.shape
    dt = arr.dtype
    swapped = arr.astype(dt.newbyteorder("<" if byteorder == "I" else ">"))
    layout = layout.upper()
    if layout == "BIL":
        data = swapped.transpose(0, 2, 1).tobytes()  # row -> band -> col
    elif layout == "BIP":
        data = swapped.tobytes()
    elif layout == "BSQ":
        data = swapped.transpose(2, 0, 1).tobytes()
    else:
        raise ValueError(layout)
    sx, _, x0, _, sy, y0 = gg.affine
    if dt.kind == "f":
        pt = "FLOAT"
    elif dt.kind == "i":
        pt = "SIGNEDINT"
    else:
        pt = "UNSIGNEDINT"
    hdr = "\n".join([
        f"NROWS {hh}", f"NCOLS {w}", f"NBANDS {nb}",
        f"NBITS {dt.itemsize * 8}", f"PIXELTYPE {pt}",
        f"BYTEORDER {byteorder}", f"LAYOUT {layout}",
        f"ULXMAP {(x0 + 0.5 * sx)!r}", f"ULYMAP {(y0 + 0.5 * sy)!r}",
        f"XDIM {sx!r}", f"YDIM {(-sy)!r}",
    ]) + "\n"
    return data, hdr
