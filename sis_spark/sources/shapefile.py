"""Shapefile store (.shp / .shx / .dbf) — features as (WKB, attrs) rows.

Formats per the PUBLIC specs (ESRI Shapefile Technical Description and
dBase III): the reference scopes this store in its incubator
(incubator/src/org.apache.sis.storage.shapefile/); this implementation is
original, built directly on the published layouts.

* ``.shp``: 100-byte header (big-endian file code 9994, length; little-
  endian shape type + bbox), then records of (big-endian rec#, content
  words) + little-endian shape payload.  Types: 0 null, 1 Point,
  3 PolyLine, 5 Polygon, 8 MultiPoint.
* ``.shx``: the record index — per record (offset words, length words)
  big-endian, which is exactly the random-access manifest a distributed
  read needs.
* ``.dbf``: dBase III header + 32-byte field descriptors + fixed-width
  ASCII records; types C (text), N/F (numeric), L (logical), D (date).

Spark shape: the .dbf header parses driver-side (tiny) and the record
count comes from the .shx size; the record set becomes a manifest of
fixed-size record ranges (``_CHUNK`` records each,
``functions.udfs._map_manifest``) and each range reads its slice of the
.shx index, then seeks its records in .shp/.dbf directly — shuffle-free,
ranged-GET friendly.
Polygon records assemble their rings into shells + holes by containment
(``bdpoly_assemble``, the ST_BdPoly kernel) and all rings are normalized
to the engine's CCW convention; geometries come out as WKB compatible
with every SQLMM function.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions import geometry as geo
from ..functions.sqlmm import bdpoly_assemble, shoelace_area
from ..functions.udfs import _map_manifest

_CHUNK = 8192  # records per manifest row of ``shapefile_table``


def _ccw(vx, vy):
    if shoelace_area(vx, vy) < 0:
        return vx[::-1].copy(), vy[::-1].copy()
    return vx, vy


def _shape_to_wkb(buf: bytes) -> bytes | None:
    typ = struct.unpack_from("<i", buf, 0)[0]
    if typ == 0:
        return None
    if typ == 1:
        x, y = struct.unpack_from("<2d", buf, 4)
        return geo.wkb_point(x, y)
    if typ == 8:
        n = struct.unpack_from("<i", buf, 36)[0]
        pts = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=40).reshape(n, 2)
        return geo.wkb_multipoint(pts[:, 0].copy(), pts[:, 1].copy())
    if typ in (3, 5):
        nparts, npts = struct.unpack_from("<2i", buf, 36)
        parts = np.frombuffer(buf, dtype="<i4", count=nparts, offset=44)
        pts = np.frombuffer(buf, dtype="<f8", count=2 * npts,
                            offset=44 + 4 * nparts).reshape(npts, 2)
        bounds = list(parts) + [npts]
        lines = [(pts[a:b, 0].copy(), pts[a:b, 1].copy())
                 for a, b in zip(bounds, bounds[1:])]
        if typ == 3:
            if len(lines) == 1:
                return geo.wkb_linestring(*lines[0])
            return geo.wkb_multilinestring(lines)
        polys = bdpoly_assemble(
            "multilinestring" if len(lines) > 1 else "linestring",
            lines if len(lines) > 1 else lines[0])
        if polys is None:
            return None
        polys = [[_ccw(*r) for r in rings] for rings in polys]
        if len(polys) == 1:
            return geo.wkb_polygon(polys[0])
        return geo.wkb_multipolygon(polys)
    raise ValueError(f"unsupported shape type {typ}")


def _parse_dbf_header(buf: bytes):
    nrec, hsize, rsize = struct.unpack_from("<IHH", buf, 4)
    fields = []
    pos = 32
    while buf[pos] != 0x0D:
        name = buf[pos:pos + 11].split(b"\0")[0].decode("ascii")
        ftype = chr(buf[pos + 11])
        flen = buf[pos + 16]
        fdec = buf[pos + 17]
        fields.append((name, ftype, flen, fdec))
        pos += 32
    return nrec, hsize, rsize, fields


def _decode_dbf_record(raw: bytes, fields) -> list:
    out = []
    pos = 1  # deletion flag
    for _name, ftype, flen, fdec in fields:
        s = raw[pos:pos + flen].decode("ascii", "replace").strip()
        pos += flen
        if ftype == "C":
            out.append(s or None)
        elif ftype in ("N", "F"):
            if not s:
                out.append(None)
            elif ftype == "N" and fdec == 0 and "." not in s:
                out.append(int(s))
            else:
                out.append(float(s))
        elif ftype == "L":
            out.append(None if s in ("", "?") else s in ("Y", "y", "T", "t"))
        elif ftype == "D":
            out.append(s or None)
        else:
            out.append(s or None)
    return out


def shapefile_table(spark: SparkSession, base: str) -> DataFrame:
    """Distributed read of ``base``.shp/.shx/.dbf -> DataFrame
    (fid, geom WKB, <dbf attributes>)."""
    base = base.rsplit(".", 1)[0] if base.endswith((".shp", ".dbf", ".shx")) else base
    n_rec = (os.path.getsize(base + ".shx") - 100) // 8
    with open(base + ".dbf", "rb") as f:
        dbf_head = f.read(4096)
    nrec_d, hsize, rsize, fields = _parse_dbf_header(dbf_head)
    if nrec_d != n_rec:
        raise ValueError(f".shx has {n_rec} records but .dbf has {nrec_d}")

    type_map = {"C": "string", "N": "bigint", "F": "double", "L": "boolean",
                "D": "string"}

    def ftype_of(f_):
        name, ftype, flen, fdec = f_
        if ftype == "N" and fdec > 0:
            return "double"
        return type_map.get(ftype, "string")

    schema = "fid bigint, geom binary" + "".join(
        f", `{n}` {ftype_of(f_)}" for f_ in fields for n in [f_[0]])

    lo = np.arange(0, n_rec, _CHUNK, dtype=np.int64)
    ranges = pd.DataFrame({"lo": lo, "hi": np.minimum(lo + _CHUNK, n_rec)})

    def read_records(row):
        lo, hi = row["lo"], row["hi"]
        with open(base + ".shx", "rb") as f:
            f.seek(100 + 8 * lo)
            idx = np.frombuffer(f.read(8 * (hi - lo)), dtype=">i4").reshape(-1, 2)
        with open(base + ".shp", "rb") as f:
            geoms = []
            for off, ln in idx.astype(np.int64) * 2:  # words -> bytes
                f.seek(int(off) + 8)  # skip record header
                geoms.append(_shape_to_wkb(f.read(int(ln))))
        with open(base + ".dbf", "rb") as f:
            f.seek(hsize + lo * rsize)
            raw = f.read((hi - lo) * rsize)
        attrs = [_decode_dbf_record(raw[i:i + rsize], fields)
                 for i in range(0, len(raw), rsize)]
        cols = {"fid": np.arange(lo, hi, dtype=np.int64), "geom": geoms}
        for j, f_ in enumerate(fields):
            cols[f_[0]] = [a[j] for a in attrs]
        return cols

    return _map_manifest(spark, ranges, schema, read_records)


# ---------------------------------------------------------------- writer

def _shape_bytes(typ: str, val) -> bytes:
    if typ == "point":
        return struct.pack("<i2d", 1, float(val[0]), float(val[1]))
    if typ == "multipoint":
        xs, ys = (np.asarray(v, np.float64) for v in val)
        return (struct.pack("<i4di", 8, xs.min(), ys.min(), xs.max(), ys.max(),
                            len(xs))
                + np.column_stack([xs, ys]).astype("<f8").tobytes())
    if typ in ("linestring", "multilinestring", "polygon", "multipolygon"):
        if typ == "linestring":
            stype, lines = 3, [val]
        elif typ == "multilinestring":
            stype, lines = 3, list(val)
        else:
            stype = 5
            polys = [val] if typ == "polygon" else list(val)
            lines = []
            for rings in polys:
                for k, (vx, vy) in enumerate(rings):
                    vx = np.asarray(vx, np.float64)
                    vy = np.asarray(vy, np.float64)
                    if vx[0] != vx[-1] or vy[0] != vy[-1]:
                        vx, vy = np.append(vx, vx[0]), np.append(vy, vy[0])
                    # shapefile convention: shells CW, holes CCW
                    a = shoelace_area(vx[:-1], vy[:-1])
                    if (k == 0) == (a > 0):
                        vx, vy = vx[::-1], vy[::-1]
                    lines.append((vx, vy))
        xs = np.concatenate([np.asarray(l[0], np.float64) for l in lines])
        ys = np.concatenate([np.asarray(l[1], np.float64) for l in lines])
        parts = np.cumsum([0] + [len(l[0]) for l in lines[:-1]]).astype("<i4")
        pts = np.column_stack([xs, ys]).astype("<f8")
        return (struct.pack("<i4d2i", stype, xs.min(), ys.min(), xs.max(),
                            ys.max(), len(lines), len(xs))
                + parts.tobytes() + pts.tobytes())
    raise ValueError(typ)


def write_shapefile(geoms: list[tuple], attrs: pd.DataFrame,
                    fields: list[tuple]) -> dict[str, bytes]:
    """geoms: [(typ, val), ...] in the engine's parsed-geometry form;
    fields: [(name, type C/N/F/L/D, length, decimals)].  Returns
    {'shp': ..., 'shx': ..., 'dbf': ...}."""
    recs, index = [], []
    pos = 100
    for i, g in enumerate(geoms):
        payload = _shape_bytes(*g) if g is not None else struct.pack("<i", 0)
        rec = struct.pack(">2i", i + 1, len(payload) // 2) + payload
        index.append(struct.pack(">2i", pos // 2, len(payload) // 2))
        recs.append(rec)
        pos += len(rec)

    real = [g for g in geoms if g is not None]
    xs = [v for t, val in real for v in _bounds(t, val)[0]] or [0.0]
    ys = [v for t, val in real for v in _bounds(t, val)[1]] or [0.0]
    stype = {"point": 1, "multipoint": 8, "linestring": 3,
             "multilinestring": 3, "polygon": 5, "multipolygon": 5}[real[0][0]]

    def header(total_len: int) -> bytes:
        return (struct.pack(">i5ii", 9994, 0, 0, 0, 0, 0, total_len // 2)
                + struct.pack("<2i4d4d", 1000, stype,
                              min(xs), min(ys), max(xs), max(ys),
                              0.0, 0.0, 0.0, 0.0))

    shp = header(pos) + b"".join(recs)
    shx = header(100 + 8 * len(recs)) + b"".join(index)

    rsize = 1 + sum(f[2] for f in fields)
    dbf_head = struct.pack("<4B I H H 20x", 3, 24, 1, 1, len(geoms),
                           32 + 32 * len(fields) + 1, rsize)
    fdesc = b""
    for name, ftype, flen, fdec in fields:
        fdesc += (name.encode("ascii").ljust(11, b"\0") + ftype.encode("ascii")
                  + b"\0" * 4 + bytes([flen, fdec]) + b"\0" * 14)
    body = []
    for i in range(len(geoms)):
        row = b" "
        for name, ftype, flen, fdec in fields:
            v = attrs.iloc[i][name]
            if v is None or (isinstance(v, float) and v != v):
                s = ""
            elif ftype in ("N", "F") and fdec > 0:
                s = f"{float(v):.{fdec}f}"
            elif ftype == "L":
                s = "T" if v else "F"
            else:
                s = str(v)
            row += (s.rjust(flen) if ftype in ("N", "F") else s.ljust(flen))[:flen].encode("ascii")
        body.append(row)
    dbf = dbf_head + fdesc + b"\x0D" + b"".join(body) + b"\x1A"
    return {"shp": shp, "shx": shx, "dbf": dbf}


def _bounds(typ: str, val):
    if typ == "point":
        return [float(val[0])], [float(val[1])]
    if typ == "multipoint":
        return list(map(float, val[0])), list(map(float, val[1]))
    if typ == "linestring":
        return list(map(float, val[0])), list(map(float, val[1]))
    if typ == "multilinestring":
        return ([v for l in val for v in l[0]], [v for l in val for v in l[1]])
    if typ == "polygon":
        return ([v for r in val for v in r[0]], [v for r in val for v in r[1]])
    if typ == "multipolygon":
        return ([v for rings in val for r in rings for v in r[0]],
                [v for rings in val for r in rings for v in r[1]])
    raise ValueError(typ)
