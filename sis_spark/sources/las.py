"""LAS point-cloud store (public ASPRS LAS 1.2 spec, point format 0).

The lidar member of the binary-source family (the reference's store zoo
analog; layout semantics from the published spec, not from any
implementation): a 227-byte little-endian header fixes the record length,
count, and the x/y/z scale+offset that turn the stored int32 triplets
into coordinates.

Spark shape: like sources/raw_raster — the fixed record layout means any
record range maps to a byte range computable from the header alone, so
the read is a SHUFFLE-FREE manifest of record chunks
(``functions.udfs._map_manifest``); each chunk seeks and decodes its
slice with numpy (ranged GETs at 100 TB).  Raw int32 coordinates are
exposed alongside the scaled doubles so downstream exact arithmetic never
re-quantizes.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions.udfs import _map_manifest

HEADER_SIZE = 227
POINT_LEN = 20  # point data record format 0

_PT0 = np.dtype([
    ("xi", "<i4"), ("yi", "<i4"), ("zi", "<i4"),
    ("intensity", "<u2"), ("retbyte", "u1"), ("classification", "u1"),
    ("scan_angle", "i1"), ("user_data", "u1"), ("point_source", "<u2"),
])


def encode_las(xi, yi, zi, intensity, classification,
               scale=(1e-7, 1e-7, 1e-2), offset=(0.0, 0.0, 0.0)) -> bytes:
    """LAS 1.2 / format-0 payload from raw int32 triplets."""
    xi = np.asarray(xi, "<i4")
    yi = np.asarray(yi, "<i4")
    zi = np.asarray(zi, "<i4")
    n = len(xi)
    rec = np.zeros(n, dtype=_PT0)
    rec["xi"], rec["yi"], rec["zi"] = xi, yi, zi
    rec["intensity"] = np.asarray(intensity, "<u2")
    rec["retbyte"] = 0x11  # return 1 of 1
    rec["classification"] = np.asarray(classification, "u1")
    hdr = bytearray(HEADER_SIZE)
    hdr[0:4] = b"LASF"
    struct.pack_into("<BB", hdr, 24, 1, 2)          # version 1.2
    struct.pack_into("<H", hdr, 94, HEADER_SIZE)     # header size
    struct.pack_into("<I", hdr, 96, HEADER_SIZE)     # offset to points
    struct.pack_into("<I", hdr, 100, 0)              # no VLRs
    struct.pack_into("<BH", hdr, 104, 0, POINT_LEN)  # format 0, 20 bytes
    struct.pack_into("<I", hdr, 107, n)
    struct.pack_into("<3d", hdr, 131, *scale)
    struct.pack_into("<3d", hdr, 155, *offset)
    def mm(a, s, o):
        a = a.astype(np.float64) * s + o
        return (float(a.max()) if n else 0.0, float(a.min()) if n else 0.0)
    struct.pack_into("<6d", hdr, 179, *mm(xi, scale[0], offset[0]),
                     *mm(yi, scale[1], offset[1]), *mm(zi, scale[2], offset[2]))
    return bytes(hdr) + rec.tobytes()


def parse_las_header(buf: bytes) -> dict:
    if buf[0:4] != b"LASF":
        raise ValueError("not a LAS file")
    fmt, plen = struct.unpack_from("<BH", buf, 104)
    if fmt != 0 or plen != POINT_LEN:
        raise ValueError(f"unsupported point format {fmt}/{plen}")
    (n,) = struct.unpack_from("<I", buf, 107)
    (off,) = struct.unpack_from("<I", buf, 96)
    scale = struct.unpack_from("<3d", buf, 131)
    offset = struct.unpack_from("<3d", buf, 155)
    return {"n": n, "offset": off, "scale": scale, "origin": offset,
            "version": (buf[24], buf[25])}


def read_las(spark: SparkSession, path: str,
             chunk: int = 65536) -> tuple[DataFrame, dict]:
    """Distributed shuffle-free LAS read -> (DataFrame, header dict);
    one manifest row per record chunk, ranged seek + numpy structured
    decode."""
    with open(path, "rb") as f:
        hdr = parse_las_header(f.read(HEADER_SIZE))
    n, off = hdr["n"], hdr["offset"]
    sx, sy, sz = hdr["scale"]
    ox, oy, oz = hdr["origin"]
    starts = pd.DataFrame({"start": np.arange(0, n, int(chunk), dtype=np.int64)})

    def read_chunk(row):
        s = row["start"]
        cnt = min(int(chunk), n - s)
        with open(path, "rb") as f:
            f.seek(off + s * POINT_LEN)
            rec = np.frombuffer(f.read(cnt * POINT_LEN), dtype=_PT0)
        return {
            "idx": np.arange(s, s + cnt, dtype=np.int64),
            "xi": rec["xi"].astype(np.int64),
            "yi": rec["yi"].astype(np.int64),
            "zi": rec["zi"].astype(np.int64),
            "x": rec["xi"] * sx + ox,
            "y": rec["yi"] * sy + oy,
            "z": rec["zi"] * sz + oz,
            "intensity": rec["intensity"].astype(np.int64),
            "classification": rec["classification"].astype(np.int64),
        }

    schema = ("idx long, xi long, yi long, zi long, x double, y double, "
              "z double, intensity long, classification long")
    return _map_manifest(spark, starts, schema, read_chunk), hdr


def make_formula_las(path: str, n: int) -> None:
    """Deterministic formula point cloud (the test/gate content)."""
    i = np.arange(n, dtype=np.int64)
    encode = encode_las(
        (i * 7919) % 360000000 - 180000000,
        (i * 104729) % 170000000 - 85000000,
        (i * 13) % 500000,
        (i * 31) % 65536,
        i % 8,
    )
    with open(path, "wb") as f:
        f.write(encode)
