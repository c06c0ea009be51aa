"""netCDF classic (CDF-1/CDF-2/CDF-5) store — n-D array variables as coverages.

Re-derivation of the reference's netCDF DataStore scope
(S.netcdf/.../NetcdfStore.java: variables -> GridCoverages; the reference
embeds a full decoder for the same classic format in
org.apache.sis.storage.netcdf/.../base/ChannelDecoder.java) against the
PUBLIC NetCDF classic format spec (the Unidata "NetCDF Classic Format
Specification"):

    header = magic 'CDF' + version(1|2|5) | numrecs | dim_list | gatt_list
             | var_list;  each var = name | dimids | vatt_list | nc_type
             | vsize | begin(32/64-bit)

CDF-5 (the pnetcdf 64-bit-data variant, version byte 5) widens every
NON_NEG count (list lengths, name lengths, dim lengths, ndims, dimids,
attr value counts, vsize, numrecs) to INT64 and adds the unsigned/64-bit
external types (NC_UBYTE..NC_UINT64) — the same layout otherwise, so the
strip reader is untouched.

Data is big-endian, row-major, at fixed ``begin`` offsets — so, exactly
like the raw-raster store, a 2-D (or sliced n-D) variable reads as a
SHUFFLE-FREE manifest of tile-row strips with ranged seeks
(``functions.udfs._map_manifest``).  CF ``scale_factor``/``add_offset``/
``_FillValue`` attributes unpack packed integers to physical values (the
ConvertedGridCoverage transfer function).

A writer emits CDF-1 files with fixed dimensions (round-trip tested), so
the store is usable as a sink as well.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions.udfs import _map_manifest
from ..raster.grid import GridGeometry
from ..raster.tiles import TILE_SCHEMA, _tile_cut

_NC_DIMENSION, _NC_VARIABLE, _NC_ATTRIBUTE = 0x0A, 0x0B, 0x0C
_DTYPES = {1: np.dtype(">i1"), 2: np.dtype("S1"), 3: np.dtype(">i2"),
           4: np.dtype(">i4"), 5: np.dtype(">f4"), 6: np.dtype(">f8"),
           # CDF-5 additions (NC_UBYTE, NC_USHORT, NC_UINT, NC_INT64, NC_UINT64)
           7: np.dtype(">u1"), 8: np.dtype(">u2"), 9: np.dtype(">u4"),
           10: np.dtype(">i8"), 11: np.dtype(">u8")}
_TYPE_OF = {np.dtype("int8"): 1, np.dtype("int16"): 3, np.dtype("int32"): 4,
            np.dtype("float32"): 5, np.dtype("float64"): 6,
            # CDF-5-only external types
            np.dtype("uint8"): 7, np.dtype("uint16"): 8, np.dtype("uint32"): 9,
            np.dtype("int64"): 10, np.dtype("uint64"): 11}


class _Reader:
    def __init__(self, buf: bytes, version: int = 1):
        self.buf = buf
        self.pos = 0
        self.version = version

    def cnt(self) -> int:
        """A NON_NEG count: INT64 in CDF-5, INT otherwise."""
        return self.u64() if self.version == 5 else self.u32()

    def u32(self) -> int:
        v = struct.unpack_from(">I", self.buf, self.pos)[0]
        self.pos += 4
        return v

    def u64(self) -> int:
        v = struct.unpack_from(">Q", self.buf, self.pos)[0]
        self.pos += 8
        return v

    def name(self) -> str:
        n = self.cnt()
        s = self.buf[self.pos:self.pos + n].decode("utf-8")
        self.pos += (n + 3) & ~3
        return s

    def values(self):
        t = self.u32()
        n = self.cnt()
        dt = _DTYPES[t]
        nbytes = dt.itemsize * n
        raw = self.buf[self.pos:self.pos + nbytes]
        self.pos += (nbytes + 3) & ~3
        if t == 2:
            return raw.decode("utf-8")
        arr = np.frombuffer(raw, dtype=dt)
        return arr.tolist() if n > 1 else arr[0].item()


def parse_netcdf_header(buf: bytes) -> dict:
    """Header bytes -> {version, numrecs, dims: [(name, len)], attrs: {},
    vars: {name: {dims, shape, dtype, attrs, vsize, begin}}}."""
    if buf[:3] != b"CDF" or buf[3] not in (1, 2, 5):
        raise ValueError("not a netCDF classic/CDF-5 file")
    version = buf[3]
    r = _Reader(buf, version)
    r.pos = 4
    numrecs = r.cnt()

    def tagged_list(expect):
        tag = r.u32()
        n = r.cnt()
        if tag == 0 and n == 0:
            return 0
        if tag != expect:
            raise ValueError(f"bad tag {tag:#x}, expected {expect:#x}")
        return n

    dims = []
    for _ in range(tagged_list(_NC_DIMENSION)):
        nm = r.name()
        dims.append((nm, r.cnt()))

    def attr_block():
        out = {}
        for _ in range(tagged_list(_NC_ATTRIBUTE)):
            nm = r.name()
            out[nm] = r.values()
        return out

    gattrs = attr_block()
    variables = {}
    for _ in range(tagged_list(_NC_VARIABLE)):
        nm = r.name()
        nd = r.cnt()
        dimids = [r.cnt() for _ in range(nd)]
        vattrs = attr_block()
        t = r.u32()
        vsize = r.cnt()
        begin = r.u64() if version in (2, 5) else r.u32()
        variables[nm] = {
            "dims": [dims[i][0] for i in dimids],
            "shape": tuple(dims[i][1] for i in dimids),
            "dtype": _DTYPES[t],
            "attrs": vattrs,
            "vsize": vsize,
            "begin": begin,
        }
    return {"version": version, "numrecs": numrecs, "dims": dims,
            "attrs": gattrs, "vars": variables}


def read_header(path: str) -> dict:
    with open(path, "rb") as f:
        return parse_netcdf_header(f.read(65536))


def _grid_geometry_from_coords(path: str, hdr: dict, var: dict):
    """If the variable's last two dims have 1-D coordinate variables with
    regular spacing, derive a corner-registered affine (the CF convention
    coordinates are cell CENTERS)."""
    ydim, xdim = var["dims"][-2], var["dims"][-1]
    vs = hdr["vars"]
    if ydim not in vs or xdim not in vs:
        return None
    with open(path, "rb") as f:
        out = {}
        for d in (ydim, xdim):
            v = vs[d]
            f.seek(v["begin"])
            out[d] = np.frombuffer(
                f.read(v["dtype"].itemsize * v["shape"][0]), dtype=v["dtype"]
            ).astype(np.float64)
    ys, xs = out[ydim], out[xdim]
    if len(xs) < 2 or len(ys) < 2:
        return None
    dx = xs[1] - xs[0]
    dy = ys[1] - ys[0]
    if not (np.all(np.diff(xs) == dx) and np.all(np.diff(ys) == dy)):
        return None
    h, w = len(ys), len(xs)
    return GridGeometry(
        (0, 0, w - 1, h - 1),
        (dx, 0.0, xs[0] - 0.5 * dx, 0.0, dy, ys[0] - 0.5 * dy),
    )


def netcdf_variable_tiles(
    spark: SparkSession, path: str, var_name: str,
    index: tuple = (), tile_size: int = 64, unpack: bool = True,
) -> tuple[DataFrame, GridGeometry | None]:
    """Distributed read of one variable's trailing 2-D (y, x) plane as
    float64 tile rows; ``index`` fixes the leading dimensions (e.g. a time
    slice of a (t, y, x) cube).  CF scale/offset/fill unpack when present
    and ``unpack`` — fill values become NaN.  Shuffle-free: each task
    seeks its tile-row strips directly (fixed classic layout)."""
    hdr = read_header(path)
    v = hdr["vars"][var_name]
    if len(index) != len(v["shape"]) - 2:
        raise ValueError(f"need {len(v['shape']) - 2} leading indices for "
                         f"dims {v['dims']}")
    h, w = v["shape"][-2], v["shape"][-1]
    dt = v["dtype"]
    bps = dt.itemsize
    plane_off = 0
    stride = h * w
    for n, i in zip(reversed(v["shape"][:-2]), reversed(index)):
        plane_off += i * stride
        stride *= n
    base = v["begin"] + plane_off * bps
    scale = float(v["attrs"].get("scale_factor", 1.0)) if unpack else 1.0
    off = float(v["attrs"].get("add_offset", 0.0)) if unpack else 0.0
    fill = v["attrs"].get("_FillValue") if unpack else None
    gg = _grid_geometry_from_coords(path, hdr, v)

    n_ty = (h + tile_size - 1) // tile_size
    strips = pd.DataFrame({"ty": np.arange(n_ty, dtype=np.int64)})

    def read_strip(row):
        y0 = row["ty"] * tile_size
        nr = min(tile_size, h - y0)
        with open(path, "rb") as f:
            f.seek(base + y0 * w * bps)
            buf = f.read(nr * w * bps)
        rows = np.frombuffer(buf, dtype=dt).reshape(nr, w).astype(np.float64)
        if fill is not None:
            rows = np.where(rows == float(fill), np.nan, rows)
        if scale != 1.0 or off != 0.0:
            rows = rows * scale + off
        return dict(_tile_cut(rows[:, :, None], tile_size), ty=row["ty"])

    return _map_manifest(spark, strips, TILE_SCHEMA, read_strip), gg


def _pad4(b: bytes) -> bytes:
    return b + b"\0" * (-len(b) % 4)


def _w_cnt(n: int, version: int) -> bytes:
    return struct.pack(">Q" if version == 5 else ">I", n)


def _w_name(s: str, version: int = 1) -> bytes:
    e = s.encode("utf-8")
    return _w_cnt(len(e), version) + _pad4(e)


def _w_attrs(attrs: dict, version: int = 1) -> bytes:
    if not attrs:
        return struct.pack(">I", 0) + _w_cnt(0, version)
    out = [struct.pack(">I", _NC_ATTRIBUTE) + _w_cnt(len(attrs), version)]
    for k, val in attrs.items():
        out.append(_w_name(k, version))
        if isinstance(val, str):
            e = val.encode("utf-8")
            out.append(struct.pack(">I", 2) + _w_cnt(len(e), version) + _pad4(e))
        else:
            arr = np.atleast_1d(np.asarray(val))
            t = _TYPE_OF[arr.dtype.newbyteorder("=")]
            out.append(struct.pack(">I", t) + _w_cnt(arr.size, version)
                       + _pad4(arr.astype(_DTYPES[t]).tobytes()))
    return b"".join(out)


def format_netcdf(dims: list[tuple[str, int]], variables: dict,
                  gattrs: dict | None = None, version: int = 1) -> bytes:
    """Write a CDF-1 (default), CDF-2 (64-bit offsets) or CDF-5
    (``version=5``, 64-bit data) file with fixed dimensions.
    ``variables`` maps name -> (dim_names, numpy array, attrs dict)."""
    if version not in (1, 2, 5):
        raise ValueError("version must be 1 (classic), 2 (64-bit offset) or 5 (CDF-5)")
    if version in (1, 2):
        for name, (_d, arr, _a) in variables.items():
            if _TYPE_OF[arr.dtype.newbyteorder("=")] >= 7:
                raise ValueError(
                    f"{name}: {arr.dtype} requires CDF-5 (version=5)")
    dim_index = {n: i for i, (n, _l) in enumerate(dims)}
    head = [b"CDF" + bytes([version]), _w_cnt(0, version),
            struct.pack(">I", _NC_DIMENSION) + _w_cnt(len(dims), version)]
    for n, l in dims:
        head.append(_w_name(n, version) + _w_cnt(l, version))
    head.append(_w_attrs(gattrs or {}, version))

    # lay out variables: header first (two passes to learn its size)
    def var_entries(offsets):
        out = [struct.pack(">I", _NC_VARIABLE) + _w_cnt(len(variables), version)]
        for name, (dnames, arr, attrs) in variables.items():
            t = _TYPE_OF[arr.dtype.newbyteorder("=")]
            vsize = (arr.size * _DTYPES[t].itemsize + 3) & ~3
            out.append(_w_name(name, version))
            out.append(_w_cnt(len(dnames), version))
            for d in dnames:
                out.append(_w_cnt(dim_index[d], version))
            out.append(_w_attrs(attrs, version))
            out.append(struct.pack(">I", t) + _w_cnt(vsize, version))
            out.append(struct.pack(">Q" if version in (2, 5) else ">I", offsets[name]))
        return b"".join(out)

    zero_off = {n: 0 for n in variables}
    header_len = len(b"".join(head)) + len(var_entries(zero_off))
    offsets = {}
    pos = header_len
    for name, (_d, arr, _a) in variables.items():
        offsets[name] = pos
        pos += (arr.size * arr.dtype.itemsize + 3) & ~3
    body = []
    for name, (_d, arr, _a) in variables.items():
        t = _TYPE_OF[arr.dtype.newbyteorder("=")]
        body.append(_pad4(np.ascontiguousarray(arr).astype(_DTYPES[t]).tobytes()))
    return b"".join(head) + var_entries(offsets) + b"".join(body)
