"""Minimal HDF5 reader (+ writer profile) for netCDF-4 grid files.

The reference reads netCDF-4/HDF5 through its UCAR-style decoder stack
(org.apache.sis.storage.netcdf — HDF5 handled by the wrapped UCAR library);
the sandbox has no HDF5 library at all, so this module re-derives the
subset of the PUBLIC "HDF5 File Format Specification Version 3.0" that
netCDF-4 grid files actually use:

* superblock v0 (the netCDF-4 C library default) and v2/v3 (libver latest),
* object headers v1 and v2 (incl. continuation blocks),
* old-style groups (symbol-table message -> v1 B-tree + SNOD + local heap)
  and compact new-style groups (link messages),
* datasets: fixed-point / floating-point / fixed-string datatypes, simple
  dataspaces, compact / contiguous / chunked (v1 B-tree) layouts,
* filter pipeline v1/v2: deflate (1), shuffle (2), fletcher32 (3 — data
  checksum stripped, not verified),
* attributes v1/v2/v3 (scalar + 1-D; enough for CF scale/offset/fill and
  the _Netcdf4Dimid/CLASS bookkeeping netCDF-4 writes).

Out of scope (documented): dense (fractal-heap) groups, variable-length
and compound datatypes, layout v4, virtual datasets.  Those appear in
HDF5-native zoo files, not in netCDF-4 rectangular grids.

The writer emits one concrete valid profile (superblock v0, v1 object
headers, symbol-table root group, chunked+deflate or contiguous datasets)
so round-trip tests exercise the reader without an external library —
the JPEG-codec precedent (raster/jpeg.py).

The distributed read maps HDF5 chunks straight onto manifest rows: the
driver walks the chunk B-tree (metadata only), builds the chunk manifest
(``functions.udfs._map_manifest``), and executors do ranged reads +
inflate per chunk — shuffle-free, like the classic-netCDF strip reader.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

UNDEF = 0xFFFFFFFFFFFFFFFF
_SIG = b"\x89HDF\r\n\x1a\n"


# ---------------------------------------------------------------- reader

class H5Error(ValueError):
    pass


def _u(buf, pos, n):
    return int.from_bytes(buf[pos:pos + n], "little")


class H5File:
    """Parses all metadata eagerly (headers are small); raw data reads are
    ranged and lazy."""

    def __init__(self, path: str):
        self.path = path
        with open(path, "rb") as f:
            self.buf = f.read()  # metadata walker; data reads re-seek
        b = self.buf
        if b[:8] != _SIG:
            raise H5Error("not an HDF5 file (bad signature)")
        ver = b[8]
        if ver == 0:
            if b[13] != 8 or b[14] != 8:
                raise H5Error("only 8-byte offsets/lengths supported")
            self.group_leaf_k = _u(b, 16, 2)
            self.group_internal_k = _u(b, 18, 2)
            # sig+versions(16) ks+flags(8) base/free/eof/driver(32), then the
            # root symbol-table entry (link_name_offset, object_header_addr)
            root_entry = 24 + 32
            self.root_addr = _u(b, root_entry + 8, 8)
        elif ver in (2, 3):
            if b[9] != 8 or b[10] != 8:
                raise H5Error("only 8-byte offsets/lengths supported")
            self.root_addr = _u(b, 12 + 24, 8)
        else:
            raise H5Error(f"unsupported superblock version {ver}")
        self.datasets: dict[str, H5Dataset] = {}
        self.groups: dict[str, dict] = {}
        self._walk_group("", self.root_addr)

    # ----------------------------------------------------- object headers

    def _messages(self, addr: int) -> list[tuple[int, bytes]]:
        b = self.buf
        out: list[tuple[int, bytes]] = []
        if b[addr:addr + 4] == b"OHDR":  # v2
            flags = b[addr + 5]
            pos = addr + 6
            if flags & 0x20:
                pos += 16
            if flags & 0x10:
                pos += 4
            cs = 1 << (flags & 3)
            size0 = _u(b, pos, cs)
            pos += cs
            blocks = [(pos, size0)]
            creation_order = bool(flags & 0x04)
            bi = 0
            while bi < len(blocks):
                p, sz = blocks[bi]
                end = p + sz
                while p + 4 <= end:
                    mtype = b[p]
                    msize = _u(b, p + 1, 2)
                    mflags = b[p + 3]
                    p += 4
                    if creation_order:
                        p += 2
                    body = b[p:p + msize]
                    p += msize
                    if mtype == 0x10:  # continuation: 'OCHK' ... checksum
                        caddr = _u(body, 0, 8)
                        clen = _u(body, 8, 8)
                        if b[caddr:caddr + 4] != b"OCHK":
                            raise H5Error("bad continuation block signature")
                        blocks.append((caddr + 4, clen - 8))
                    else:
                        out.append((mtype, body))
                bi += 1
            return out
        # v1
        if b[addr] != 1:
            raise H5Error(f"unsupported object header version {b[addr]}")
        nmsgs = _u(b, addr + 2, 2)
        hsize = _u(b, addr + 8, 4)
        blocks = [(addr + 16, hsize)]
        read = 0
        bi = 0
        while bi < len(blocks) and read < nmsgs:
            p, sz = blocks[bi]
            end = p + sz
            while p + 8 <= end and read < nmsgs:
                mtype = _u(b, p, 2)
                msize = _u(b, p + 2, 2)
                body = b[p + 8:p + 8 + msize]
                p += 8 + msize
                read += 1
                if mtype == 0x10:
                    blocks.append((_u(body, 0, 8), _u(body, 8, 8)))
                else:
                    out.append((mtype, body))
            bi += 1
        return out

    # ----------------------------------------------------------- groups

    def _walk_group(self, prefix: str, addr: int):
        msgs = self._messages(addr)
        links: list[tuple[str, int]] = []
        for t, body in msgs:
            if t == 0x11:  # symbol table message
                btree = _u(body, 0, 8)
                heap = _u(body, 8, 8)
                links.extend(self._symbol_links(btree, heap))
            elif t == 0x06:  # link message (compact new-style group)
                lk = self._parse_link(body)
                if lk is not None:
                    links.append(lk)
        self.groups[prefix or "/"] = {"attrs": self._attrs(msgs)}
        for name, a in links:
            child = f"{prefix}/{name}"
            cmsgs = self._messages(a)
            if any(t in (0x11, 0x02, 0x06) for t, _ in cmsgs) and not any(
                t == 0x08 for t, _ in cmsgs
            ):
                self._walk_group(child, a)
            else:
                ds = self._dataset(child, cmsgs)
                if ds is not None:
                    self.datasets[child] = ds

    def _parse_link(self, body: bytes):
        ver, flags = body[0], body[1]
        pos = 2
        ltype = 0
        if flags & 0x08:
            ltype = body[pos]
            pos += 1
        if flags & 0x04:
            pos += 8
        if flags & 0x10:
            pos += 1
        lsz = 1 << (flags & 3)
        n = _u(body, pos, lsz)
        pos += lsz
        name = body[pos:pos + n].decode("utf-8")
        pos += n
        if ltype != 0:  # soft/external links out of scope
            return None
        return name, _u(body, pos, 8)

    def _symbol_links(self, btree_addr: int, heap_addr: int):
        b = self.buf
        if b[heap_addr:heap_addr + 4] != b"HEAP":
            raise H5Error("bad local heap signature")
        heap_data = _u(b, heap_addr + 24, 8)

        def heap_str(off):
            p = heap_data + off
            e = b.index(b"\0", p)
            return b[p:e].decode("utf-8")

        out = []

        def walk(addr):
            if b[addr:addr + 4] != b"TREE":
                raise H5Error("bad B-tree signature")
            level = b[addr + 5]
            n = _u(b, addr + 6, 2)
            p = addr + 8 + 16  # skip left/right siblings
            p += 8  # key 0
            for _ in range(n):
                child = _u(b, p, 8)
                p += 16  # child + next key
                if level > 0:
                    walk(child)
                else:
                    if b[child:child + 4] != b"SNOD":
                        raise H5Error("bad SNOD signature")
                    ns = _u(b, child + 6, 2)
                    q = child + 8
                    for _ in range(ns):
                        name_off = _u(b, q, 8)
                        oaddr = _u(b, q + 8, 8)
                        out.append((heap_str(name_off), oaddr))
                        q += 40

        walk(btree_addr)
        return out

    # --------------------------------------------------------- datasets

    def _dtype(self, body: bytes):
        cls = body[0] & 0x0F
        bits0 = body[1]
        size = _u(body, 4, 4)
        order = ">" if (bits0 & 1) else "<"
        if cls == 0:  # fixed-point
            sign = "i" if (bits0 & 0x08) else "u"
            return np.dtype(f"{order}{sign}{size}")
        if cls == 1:  # floating-point
            return np.dtype(f"{order}f{size}")
        if cls == 3:  # fixed string
            return np.dtype(f"S{size}")
        raise H5Error(f"unsupported datatype class {cls}")

    def _dataspace(self, body: bytes):
        ver = body[0]
        rank = body[1]
        if ver == 1:
            pos = 8
        elif ver == 2:
            pos = 4
        else:
            raise H5Error(f"unsupported dataspace version {ver}")
        return tuple(_u(body, pos + 8 * i, 8) for i in range(rank))

    def _filters(self, body: bytes):
        out = []
        ver = body[0]
        n = body[1]
        pos = 8 if ver == 1 else 2
        for _ in range(n):
            fid = _u(body, pos, 2)
            pos += 2
            if ver == 1 or fid >= 256:
                namelen = _u(body, pos, 2)
                pos += 2
            else:
                namelen = 0
            pos += 2  # flags
            ncdv = _u(body, pos, 2)
            pos += 2
            if ver == 1:
                namelen = (namelen + 7) & ~7
            pos += namelen
            cdv = [_u(body, pos + 4 * i, 4) for i in range(ncdv)]
            pos += 4 * ncdv
            if ver == 1 and ncdv % 2 == 1:
                pos += 4
            out.append((fid, cdv))
        return out

    def _attrs(self, msgs) -> dict:
        out = {}
        for t, body in msgs:
            if t != 0x0C:
                continue
            ver = body[0]
            if ver == 1:
                nsz = _u(body, 2, 2)
                dtsz = _u(body, 4, 2)
                dssz = _u(body, 6, 2)
                pos = 8
                name = body[pos:pos + nsz].split(b"\0")[0].decode("utf-8")
                pos += (nsz + 7) & ~7
                dt = body[pos:pos + dtsz]
                pos += (dtsz + 7) & ~7
                ds = body[pos:pos + dssz]
                pos += (dssz + 7) & ~7
            elif ver in (2, 3):
                nsz = _u(body, 2, 2)
                dtsz = _u(body, 4, 2)
                dssz = _u(body, 6, 2)
                pos = 8 + (1 if ver == 3 else 0)
                name = body[pos:pos + nsz].split(b"\0")[0].decode("utf-8")
                pos += nsz
                dt = body[pos:pos + dtsz]
                pos += dtsz
                ds = body[pos:pos + dssz]
                pos += dssz
            else:
                continue
            try:
                dtype = self._dtype(dt)
                shape = self._dataspace(ds)
            except H5Error:
                continue
            n = int(np.prod(shape)) if shape else 1
            raw = body[pos:pos + n * dtype.itemsize]
            if dtype.kind == "S":
                out[name] = raw.split(b"\0")[0].decode("utf-8", "replace")
            else:
                arr = np.frombuffer(raw, dtype=dtype, count=n)
                out[name] = arr.tolist() if n > 1 else arr[0].item()
        return out

    def _dataset(self, name, msgs):
        dtype = shape = layout = None
        filters: list = []
        fill_raw = None
        for t, body in msgs:
            if t == 0x01:
                shape = self._dataspace(body)
            elif t == 0x03:
                dtype = self._dtype(body)
            elif t == 0x08:
                layout = self._layout(body)
            elif t == 0x0B:
                filters = self._filters(body)
            elif t in (0x04, 0x05):
                fill_raw = (t, body)
        if dtype is None or shape is None or layout is None:
            return None
        return H5Dataset(self, name, shape, dtype, layout, filters,
                         self._attrs(msgs),
                         _parse_fill(fill_raw, dtype))

    def _layout(self, body: bytes):
        ver = body[0]
        if ver != 3:
            raise H5Error(f"unsupported data layout version {ver}")
        cls = body[1]
        if cls == 0:  # compact
            size = _u(body, 2, 2)
            return {"class": "compact", "data": body[4:4 + size]}
        if cls == 1:  # contiguous
            return {"class": "contiguous", "addr": _u(body, 2, 8),
                    "size": _u(body, 10, 8)}
        if cls == 2:  # chunked
            dim = body[2]
            btree = _u(body, 3, 8)
            dims = tuple(_u(body, 11 + 4 * i, 4) for i in range(dim))
            return {"class": "chunked", "btree": btree,
                    "chunk": dims[:-1], "elem": dims[-1]}
        raise H5Error(f"unsupported layout class {cls}")


def _defilter(raw: bytes, filters, dtype_size: int, chunk_elems: int) -> bytes:
    """Apply the filter pipeline in reverse (read direction)."""
    for fid, _cdv in reversed(filters):
        if fid == 1:  # deflate
            raw = zlib.decompress(raw)
        elif fid == 2:  # shuffle
            arr = np.frombuffer(raw, np.uint8)
            n = len(arr) // dtype_size
            raw = arr.reshape(dtype_size, n).T.tobytes()
        elif fid == 3:  # fletcher32: 4-byte checksum suffix (not verified)
            raw = raw[:-4]
        else:
            raise H5Error(f"unsupported filter id {fid}")
    return raw


def _parse_fill(fill_raw, dtype):
    """Fill Value message (type 0x05, versions 1-3; 0x04 is the old form) ->
    numpy scalar or None.  Chunks absent from the B-tree and UNDEF
    contiguous data decode as this value (real netCDF-4 writers omit
    never-written all-fill chunks, so zero-filling them is wrong whenever a
    fill value is defined)."""
    if fill_raw is None:
        return None
    t, body = fill_raw
    try:
        if t == 0x04:  # old fill value: size + bytes
            size = _u(body, 0, 4)
            val = body[4:4 + size]
        else:
            ver = body[0]
            if ver == 1:
                # v1 layout: version, alloc time, write time, Size(4), value —
                # no "fill value defined" byte (that arrives in v2)
                size = _u(body, 3, 4)
                val = body[7:7 + size]
            elif ver == 2:
                if not body[3]:  # fill value defined flag
                    return None
                size = _u(body, 4, 4)
                val = body[8:8 + size]
            elif ver == 3:
                flags = body[1]
                if not (flags & 0x20):  # fill value defined flag
                    return None
                size = _u(body, 2, 4)
                val = body[6:6 + size]
            else:
                return None
        if len(val) != dtype.itemsize:
            return None
        return np.frombuffer(val, dtype)[0]
    except (IndexError, struct.error):
        return None


class H5Dataset:
    def __init__(self, f: H5File, name, shape, dtype, layout, filters, attrs,
                 fill=None):
        self.file = f
        self.name = name
        self.shape = shape
        self.dtype = dtype
        self.layout = layout
        self.filters = filters
        self.attrs = attrs
        self.fill = fill

    def chunk_manifest(self) -> list[dict]:
        """Chunked datasets: [(chunk offset coords, file addr, stored
        nbytes, filter mask)] from the v1 chunk B-tree — metadata only, the
        unit of the distributed read."""
        if self.layout["class"] != "chunked":
            raise H5Error("chunk_manifest on non-chunked dataset")
        b = self.file.buf
        rank = len(self.shape)
        out = []

        def walk(addr):
            if b[addr:addr + 4] != b"TREE":
                raise H5Error("bad chunk B-tree signature")
            level = b[addr + 5]
            n = _u(b, addr + 6, 2)
            keysz = 8 + 8 * (rank + 1)
            p = addr + 24
            for i in range(n):
                kp = p + i * (keysz + 8)
                nbytes = _u(b, kp, 4)
                mask = _u(b, kp + 4, 4)
                coords = tuple(_u(b, kp + 8 + 8 * j, 8) for j in range(rank))
                child = _u(b, kp + keysz, 8)
                if level > 0:
                    walk(child)
                else:
                    out.append({"coords": coords, "addr": child,
                                "nbytes": nbytes, "mask": mask})

        walk(self.layout["btree"])
        return out

    def read(self) -> np.ndarray:
        """Driver-side full read (small/metadata datasets; executors use
        chunk_manifest + read_chunk for the big ones)."""
        lay = self.layout
        if lay["class"] == "compact":
            return np.frombuffer(lay["data"], self.dtype).reshape(self.shape)
        if lay["class"] == "contiguous":
            if lay["addr"] == UNDEF:
                return np.full(self.shape, self.fill, self.dtype) \
                    if self.fill is not None else np.zeros(self.shape, self.dtype)
            raw = self.file.buf[lay["addr"]:lay["addr"] + lay["size"]]
            return np.frombuffer(raw, self.dtype).reshape(self.shape)
        chunk = lay["chunk"]
        # regions not covered by any B-tree chunk decode as the fill value
        arr = np.full(self.shape, self.fill, self.dtype) \
            if self.fill is not None else np.zeros(self.shape, self.dtype)
        for c in self.chunk_manifest():
            data = read_chunk(self.file.path, c["addr"], c["nbytes"],
                              self.filters, self.dtype, chunk)
            sel = tuple(
                slice(o, min(o + cs, s))
                for o, cs, s in zip(c["coords"], chunk, self.shape))
            sub = data[tuple(slice(0, sl.stop - sl.start) for sl in sel)]
            arr[sel] = sub
        return arr


def read_chunk(path: str, addr: int, nbytes: int, filters, dtype,
               chunk_dims) -> np.ndarray:
    """Ranged chunk read + de-filter — the executor-side kernel (opens the
    file itself, no driver state beyond the manifest row)."""
    with open(path, "rb") as f:
        f.seek(addr)
        raw = f.read(nbytes)
    n_el = int(np.prod(chunk_dims))
    raw = _defilter(raw, filters, dtype.itemsize, n_el)
    return np.frombuffer(raw, dtype, count=n_el).reshape(chunk_dims)


# ---------------------------------------------------------------- writer
# One concrete valid profile: superblock v0, v1 object headers,
# symbol-table root group, contiguous or chunked(+shuffle?+deflate)
# datasets, v1 attributes.  Field-by-field from the public format spec.

_H5_TYPE = {
    np.dtype("int8"): (0, 0x08), np.dtype("int16"): (0, 0x08),
    np.dtype("int32"): (0, 0x08), np.dtype("int64"): (0, 0x08),
    np.dtype("uint8"): (0, 0x00), np.dtype("uint16"): (0, 0x00),
    np.dtype("uint32"): (0, 0x00), np.dtype("uint64"): (0, 0x00),
    np.dtype("float32"): (1, 0x00), np.dtype("float64"): (1, 0x00),
}


def _dt_msg(dtype: np.dtype) -> bytes:
    cls, signbit = _H5_TYPE[dtype.newbyteorder("=")]
    size = dtype.itemsize
    if cls == 0:
        body = bytes([0x10 | cls, signbit, 0, 0]) + struct.pack(
            "<IHH", size, 0, size * 8)
    else:
        # IEEE float LE: bit fields + exponent/mantissa properties
        if size == 4:
            props = struct.pack("<HHBBBBI", 0, 32, 23, 8, 0, 23, 127)
            bits = bytes([0x20, 0x1F, 0])
        else:
            props = struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
            bits = bytes([0x20, 0x3F, 0])
        body = bytes([0x10 | cls]) + bits + struct.pack("<I", size) + props
    return body


def _ds_msg(shape) -> bytes:
    rank = len(shape)
    return bytes([1, rank, 0, 0, 0, 0, 0, 0]) + b"".join(
        struct.pack("<Q", s) for s in shape)


def _attr_msg(name: str, val) -> bytes:
    if isinstance(val, str):
        raw = val.encode("utf-8") + b"\0"
        dt = bytes([0x13, 0, 0, 0]) + struct.pack("<I", len(raw)) + b""
        shape = ()
        data = raw
    else:
        arr = np.atleast_1d(np.asarray(val))
        dt = _dt_msg(arr.dtype)
        shape = arr.shape if arr.size > 1 else ()
        data = arr.tobytes()
    ds = _ds_msg(shape)
    nm = name.encode("utf-8") + b"\0"

    def pad8(b):
        return b + b"\0" * (-len(b) % 8)

    return (struct.pack("<BBHHH", 1, 0, len(nm), len(dt), len(ds))
            + pad8(nm) + pad8(dt) + pad8(ds) + data)


class _W:
    def __init__(self):
        self.out = bytearray()

    def tell(self):
        return len(self.out)

    def write(self, b):
        self.out += b

    def align(self, n):
        self.out += b"\0" * (-len(self.out) % n)


def _v1_header(msgs: list[tuple[int, bytes]]) -> bytes:
    body = bytearray()
    for t, m in msgs:
        m8 = m + b"\0" * (-len(m) % 8)
        body += struct.pack("<HHBBBB", t, len(m8), 0, 0, 0, 0) + m8
    return struct.pack("<BBHIII", 1, 0, len(msgs), 1, len(body), 0) + bytes(body)


def format_hdf5(datasets: dict, gattrs: dict | None = None,
                chunk: tuple | None = None, compress: bool = True,
                fill: float | None = None) -> bytes:
    """netCDF-4-shaped HDF5 file: ``datasets`` maps name -> (array, attrs).
    2-D arrays are chunked (``chunk`` or 64x64) with optional deflate;
    1-D arrays are contiguous (the coordinate-variable shape).

    ``fill``: write a version-3 Fill Value message on every 2-D dataset and
    OMIT chunks that are entirely equal to it from the B-tree — the
    real-writer behavior (netCDF-4 never materializes never-written
    chunks), so readers must fill absent regions from the message."""
    w = _W()
    names = list(datasets)
    # ---- plan root group: local heap + SNOD + btree, laid out after the
    # superblock; dataset object headers and data after that.
    w.write(_SIG)
    w.write(bytes([0, 0, 0, 0, 0, 8, 8, 0]))
    w.write(struct.pack("<HHI", 4, 16, 0))
    sb_fix = w.tell()
    w.write(struct.pack("<QQQQ", 0, UNDEF, 0, UNDEF))  # base free eof driver
    root_entry_at = w.tell()
    w.write(b"\0" * 40)  # root symbol-table entry, patched later

    # root object header (symbol table message patched later)
    root_hdr_at = w.tell()
    stm_probe = struct.pack("<QQ", 0, 0)
    root_hdr = _v1_header([(0x11, stm_probe)]
                          + [(0x0C, _attr_msg(k, v)) for k, v in (gattrs or {}).items()])
    w.write(root_hdr)
    stm_at = root_hdr_at + 16 + 8  # header prefix + first message header

    # local heap: names, NUL-terminated, 8-aligned
    heap_offsets = {}
    heap_data = bytearray(b"\0" * 8)  # offset 0 = empty string
    for n in names:
        heap_offsets[n] = len(heap_data)
        e = n.encode("utf-8") + b"\0"
        heap_data += e + b"\0" * (-len(e) % 8)
    w.align(8)
    heap_at = w.tell()
    heap_data_at = heap_at + 32
    w.write(b"HEAP" + bytes([0, 0, 0, 0])
            + struct.pack("<QQQ", len(heap_data), UNDEF, heap_data_at))
    w.write(bytes(heap_data))

    # SNOD with all entries (k up to 16 names; tests stay small)
    w.align(8)
    snod_at = w.tell()
    snod = bytearray(b"SNOD" + bytes([1, 0]) + struct.pack("<H", len(names)))
    entry_patch = []
    for n in names:
        entry_patch.append((n, snod_at + len(snod) + 8))
        snod += struct.pack("<QQII", heap_offsets[n], 0, 0, 0) + b"\0" * 16
    w.write(bytes(snod))

    # group B-tree: one leaf node pointing at the SNOD
    w.align(8)
    btree_at = w.tell()
    w.write(b"TREE" + bytes([0, 0]) + struct.pack("<H", 1)
            + struct.pack("<QQ", UNDEF, UNDEF)
            + struct.pack("<Q", 0) + struct.pack("<Q", snod_at)
            + struct.pack("<Q", heap_offsets[names[-1]]))

    # ---- datasets
    hdr_addr = {}
    for n in names:
        arr, attrs = datasets[n]
        arr = np.ascontiguousarray(arr)
        dt = arr.dtype.newbyteorder("<")
        msgs = [(0x01, _ds_msg(arr.shape)), (0x03, _dt_msg(arr.dtype))]
        if arr.ndim == 2:
            ch = chunk or (min(64, arr.shape[0]), min(64, arr.shape[1]))
            filters = [(1, [6])] if compress else []
            if filters:
                fb = bytearray(bytes([1, len(filters), 0, 0, 0, 0, 0, 0]))
                for fid, cdv in filters:
                    name = b"deflate\0"
                    fb += struct.pack("<HHHH", fid, len(name), 1, len(cdv))
                    fb += name + b"".join(struct.pack("<I", c) for c in cdv)
                msgs.append((0x0B, bytes(fb)))
            if fill is not None:
                fv = np.asarray(fill, dt).tobytes()
                msgs.append((0x05, bytes([3, 0x20]) +
                             struct.pack("<I", len(fv)) + fv))
            # chunk the data, build a single-leaf chunk B-tree
            chunks = []
            for cy in range(0, arr.shape[0], ch[0]):
                for cx in range(0, arr.shape[1], ch[1]):
                    block = np.full(ch, fill, dt) if fill is not None \
                        else np.zeros(ch, dt)
                    sub = arr[cy:cy + ch[0], cx:cx + ch[1]]
                    block[:sub.shape[0], :sub.shape[1]] = sub
                    if fill is not None and np.all(sub == np.asarray(fill, dt)):
                        continue  # never-written all-fill chunk: omit
                    raw = block.tobytes()
                    if compress:
                        raw = zlib.compress(raw, 6)
                    chunks.append(((cy, cx), raw))
            w.align(8)
            data_addrs = []
            for _c, raw in chunks:
                data_addrs.append(w.tell())
                w.write(raw)
                w.align(8)
            btree = w.tell()
            nb = bytearray(b"TREE" + bytes([1, 0]) + struct.pack("<H", len(chunks))
                           + struct.pack("<QQ", UNDEF, UNDEF))
            for ((cy, cx), raw), addr in zip(chunks, data_addrs):
                nb += struct.pack("<II", len(raw), 0)
                nb += struct.pack("<QQQ", cy, cx, 0)
                nb += struct.pack("<Q", addr)
            # final key
            nb += struct.pack("<II", 0, 0) + struct.pack("<QQQ", arr.shape[0], arr.shape[1], 0)
            w.write(bytes(nb))
            lay = bytes([3, 2, 3]) + struct.pack("<Q", btree) + struct.pack(
                "<III", ch[0], ch[1], dt.itemsize)
            msgs.append((0x08, lay))
        else:
            w.align(8)
            daddr = w.tell()
            w.write(arr.astype(dt).tobytes())
            msgs.append((0x08, bytes([3, 1]) + struct.pack("<QQ", daddr, arr.nbytes)))
        for k, v in attrs.items():
            msgs.append((0x0C, _attr_msg(k, v)))
        w.align(8)
        hdr_addr[n] = w.tell()
        w.write(_v1_header(msgs))

    out = w.out
    # patch symbol-table message, SNOD entries, root entry, eof
    out[stm_at:stm_at + 16] = struct.pack("<QQ", btree_at, heap_at)
    for n, at in entry_patch:
        out[at:at + 8] = struct.pack("<Q", hdr_addr[n])
    out[root_entry_at:root_entry_at + 16] = struct.pack("<QQ", 0, root_hdr_at)
    out[sb_fix + 16:sb_fix + 24] = struct.pack("<Q", len(out))
    return bytes(out)


# ------------------------------------------------- distributed tile read

def netcdf4_variable_tiles(spark, path: str, var_name: str,
                           unpack: bool = True):
    """Distributed read of a 2-D netCDF-4/HDF5 variable as tile rows:
    the driver walks ONLY metadata (chunk B-tree -> manifest), executors do
    ranged chunk reads + inflate — the HDF5 chunk grid IS the tile grid, so
    the read is shuffle-free like the classic-netCDF strip reader.

    Returns (tiles_df, grid_geometry_or_None, (chunk_h, chunk_w)): tile
    rows are float64 (CF scale/offset/fill applied when ``unpack``), padded
    to full chunk size, in TILE_SCHEMA with band 0.
    """
    import pandas as pd

    from ..functions.udfs import _map_manifest
    from ..raster.grid import GridGeometry
    from ..raster.tiles import TILE_SCHEMA

    f = H5File(path)
    key = var_name if var_name.startswith("/") else "/" + var_name
    d = f.datasets[key]
    if len(d.shape) != 2:
        raise H5Error("netcdf4_variable_tiles reads 2-D variables")
    h, w = d.shape
    if d.layout["class"] != "chunked":
        raise H5Error("expected a chunked dataset (netCDF-4 default)")
    ch, cw = d.layout["chunk"]
    filters = d.filters
    dtype = d.dtype
    scale = float(d.attrs.get("scale_factor", 1.0)) if unpack else 1.0
    off = float(d.attrs.get("add_offset", 0.0)) if unpack else 0.0
    fill = d.attrs.get("_FillValue") if unpack else None

    # CF coordinate variables named like classic-netCDF dims: any 1-D
    # sibling datasets whose lengths match (y, x) and are regularly spaced
    gg = None
    cand_y = [v for v in f.datasets.values()
              if len(v.shape) == 1 and v.shape[0] == h and v.name != key]
    cand_x = [v for v in f.datasets.values()
              if len(v.shape) == 1 and v.shape[0] == w and v.name != key]
    if len(cand_y) == 1 and len(cand_x) == 1:
        ys = cand_y[0].read().astype(np.float64)
        xs = cand_x[0].read().astype(np.float64)
        if len(xs) >= 2 and len(ys) >= 2:
            dx, dy = xs[1] - xs[0], ys[1] - ys[0]
            if np.all(np.diff(xs) == dx) and np.all(np.diff(ys) == dy):
                gg = GridGeometry(
                    (0, 0, w - 1, h - 1),
                    (dx, 0.0, xs[0] - 0.5 * dx, 0.0, dy, ys[0] - 0.5 * dy),
                )

    man = d.chunk_manifest()
    # chunk-grid positions absent from the B-tree are never-written
    # all-fill chunks (netCDF-4 writers omit them): synthesize manifest
    # rows with addr = -1 so the executors emit fill tiles for them
    h5fill = d.fill if d.fill is not None else fill
    present = {(c["coords"][0] // ch, c["coords"][1] // cw) for c in man}
    absent = [(ty, tx)
              for ty in range(-(-h // ch)) for tx in range(-(-w // cw))
              if (ty, tx) not in present]
    rows = pd.DataFrame({
        "tx": [c["coords"][1] // cw for c in man] + [tx for _, tx in absent],
        "ty": [c["coords"][0] // ch for c in man] + [ty for ty, _ in absent],
        "addr": [c["addr"] for c in man] + [-1] * len(absent),
        "nbytes": [c["nbytes"] for c in man] + [0] * len(absent),
    })

    def read_tile(row):
        if row["addr"] < 0:  # synthesized all-fill chunk
            block = np.full((ch, cw),
                            float(h5fill) if h5fill is not None else 0.0,
                            np.float64)
        else:
            block = read_chunk(path, row["addr"], row["nbytes"], filters,
                               dtype, (ch, cw)).astype(np.float64)
        if fill is not None:
            block = np.where(block == float(fill), np.nan, block)
        if scale != 1.0 or off != 0.0:
            block = block * scale + off
        return {"tx": row["tx"], "ty": row["ty"], "band": 0,
                "data": block.tobytes()}

    return _map_manifest(spark, rows, TILE_SCHEMA, read_tile), gg, (ch, cw)


def _attr_msg_v3(name: str, val) -> bytes:
    """Version-3 attribute message (no field padding, encoding byte) —
    what libver-latest writers emit."""
    if isinstance(val, str):
        raw = val.encode("utf-8") + b"\0"
        dt = bytes([0x13, 0, 0, 0]) + struct.pack("<I", len(raw))
        ds = _ds_msg(())
        data = raw
    else:
        arr = np.atleast_1d(np.asarray(val))
        dt = _dt_msg(arr.dtype)
        ds = _ds_msg(arr.shape if arr.size > 1 else ())
        data = arr.tobytes()
    nm = name.encode("utf-8") + b"\0"
    return (struct.pack("<BBHHHB", 3, 0, len(nm), len(dt), len(ds), 0)
            + nm + dt + ds + data)


def format_hdf5_v2(datasets: dict, gattrs: dict | None = None) -> bytes:
    """Second writer profile — the libver-latest shape: superblock v2,
    OHDR (v2) root object header with compact LINK messages, v3
    attributes, contiguous datasets (v1 headers).  Exists to round-trip
    the reader's new-style paths; netCDF-4 files default to the v0
    profile of format_hdf5."""
    w = _W()
    w.write(_SIG)
    w.write(bytes([2, 8, 8, 0]))
    sb_at = w.tell()
    w.write(struct.pack("<QQQQI", 0, UNDEF, 0, 0, 0))  # base ext eof root cksum

    hdr_addr = {}
    for n, (arr, attrs) in datasets.items():
        arr = np.ascontiguousarray(arr)
        dt = arr.dtype.newbyteorder("<")
        w.align(8)
        daddr = w.tell()
        w.write(arr.astype(dt).tobytes())
        msgs = [(0x01, _ds_msg(arr.shape)), (0x03, _dt_msg(arr.dtype)),
                (0x08, bytes([3, 1]) + struct.pack("<QQ", daddr, arr.nbytes))]
        msgs += [(0x0C, _attr_msg_v3(k, v)) for k, v in attrs.items()]
        w.align(8)
        hdr_addr[n] = w.tell()
        w.write(_v1_header(msgs))

    # root OHDR with link messages
    body = bytearray()
    for n, addr in hdr_addr.items():
        nm = n.encode("utf-8")
        lk = bytes([1, 0, len(nm)]) + nm + struct.pack("<Q", addr)
        body += bytes([0x06]) + struct.pack("<H", len(lk)) + bytes([0]) + lk
    for k, v in (gattrs or {}).items():
        am = _attr_msg_v3(k, v)
        body += bytes([0x0C]) + struct.pack("<H", len(am)) + bytes([0]) + am
    w.align(8)
    root_at = w.tell()
    w.write(b"OHDR" + bytes([2, 1]))  # flags=1: 2-byte size-of-chunk-0
    w.write(struct.pack("<H", len(body)))
    w.write(bytes(body))
    w.write(struct.pack("<I", 0))  # checksum (not verified by this reader)

    out = w.out
    out[sb_at:sb_at + 32] = struct.pack("<QQQQ", 0, UNDEF, len(out), root_at)
    return bytes(out)
