"""Pure-numpy JPEG (ITU-T T.81) codec: baseline sequential + progressive.

No libjpeg/PIL exists in this image, so the bitstream is produced and parsed
from scratch: 8x8 DCT via an orthonormal matrix product, IJG-style quality
scaling of the Annex-K quantization tables, canonical Huffman entropy coding
(tables are *generated* from a deterministic frequency model and embedded in
DHT segments — the spec requires valid tables in the stream, not libjpeg's
defaults), JFIF/SOF0/SOS marker framing, 0xFF byte stuffing, optional 4:2:0
chroma subsampling and restart markers.

The decoder is general baseline: arbitrary (H,V) sampling factors, multiple
DQT/DHT per segment, DRI/RSTn restart intervals, and "abbreviated" streams
whose tables arrive separately (the TIFF/EP ``JPEGTables`` mechanism used by
GeoTIFF compression 7 — see sources/geotiff.py).  Progressive (SOF2) decode
is full Annex-G Huffman: spectral selection, successive approximation, EOB
runs, AC correction bits; a test/tooling progressive encoder (libjpeg's
default scan script) backs the round-trip tests.

Reference parity: the reference reads JPEG-in-GeoTIFF through Java ImageIO
(S/storage/geotiff — its inflater set delegates compression 7); this module
is the sandbox-native equivalent.  Fidelity contract per the north rule:
decode(encode(x, quality>=90)) must reach PSNR >= 40 dB (tests/test_jpeg.py).
"""

from __future__ import annotations

import heapq
import struct

import numpy as np

# --------------------------------------------------------------- constants

# Natural-order index of each zigzag position (ITU-T T.81 Figure 5).
ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63], dtype=np.int64)

# Annex K.1 / K.2 base quantization tables (natural order).
_Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.float64)

_Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.float64)

# Orthonormal DCT-II matrix: forward F = D @ X @ D.T, inverse X = D.T @ F @ D.
_D = np.array([
    [(np.sqrt(0.125) if k == 0 else 0.5) * np.cos((2 * n + 1) * k * np.pi / 16.0)
     for n in range(8)] for k in range(8)])


def quant_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling (public libjpeg formula): 1..100 -> scaled tables."""
    q = min(100, max(1, int(quality)))
    scale = 5000.0 / q if q < 50 else 200.0 - 2.0 * q
    out = []
    for base in (_Q_LUMA, _Q_CHROMA):
        t = np.floor((base * scale + 50.0) / 100.0)
        out.append(np.clip(t, 1, 255).astype(np.int32))
    return out[0], out[1]


# ------------------------------------------------------- Huffman generation

def _huffman_lengths(freqs: list[tuple[int, int]]) -> dict[int, int]:
    """Code lengths from a deterministic Huffman build, limited to <=16 bits
    with Kraft-sum margin (< 1 - 2^-16) so no all-ones max-length code is
    emitted — the same constraint the spec's Annex-K AdjustBits guarantees."""
    if len(freqs) == 1:
        return {freqs[0][0]: 1}
    heap = [(f, (sym,), [sym]) for sym, f in freqs]
    heapq.heapify(heap)
    depth = {sym: 0 for sym, _ in freqs}
    while len(heap) > 1:
        f1, k1, s1 = heapq.heappop(heap)
        f2, k2, s2 = heapq.heappop(heap)
        for s in s1:
            depth[s] += 1
        for s in s2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, min(k1, k2), s1 + s2))
    for s in depth:
        depth[s] = min(depth[s], 16)
    limit = 1.0 - 2.0 ** -16
    while sum(2.0 ** -l for l in depth.values()) > limit:
        # lengthen the currently-shortest symbol (stable: lowest symbol wins ties)
        s = min(depth, key=lambda k: (depth[k], k))
        depth[s] += 1
    return depth


def _canonical(depth: dict[int, int]) -> tuple[list[int], list[int], dict[int, tuple[int, int]]]:
    """(bits[1..16], symbol list, sym -> (code, length)) canonical assignment
    in DHT order: ascending length, then insertion order of the freq model."""
    order = sorted(depth, key=lambda s: (depth[s], s))
    bits = [0] * 17
    for s in order:
        bits[depth[s]] += 1
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    i = 0
    for L in range(1, 17):
        for _ in range(bits[L]):
            codes[order[i]] = (code, L)
            code += 1
            i += 1
        code <<= 1
    return bits[1:], order, codes


def _dc_freq_model() -> list[tuple[int, int]]:
    # categories 0..11; small diffs dominate
    return [(s, 1 << max(0, 12 - s)) for s in range(12)]


def _ac_freq_model() -> list[tuple[int, int]]:
    freqs = [(0x00, 1 << 14), (0xF0, 1 << 6)]  # EOB, ZRL
    for r in range(16):
        for s in range(1, 11):
            freqs.append(((r << 4) | s, 1 << max(0, 14 - r - 2 * s)))
    return freqs


def _build_tables():
    out = {}
    for cls, model in (("dc", _dc_freq_model()), ("ac", _ac_freq_model())):
        depth = _huffman_lengths(model)
        bits, syms, codes = _canonical(depth)
        out[cls] = (bits, syms, codes)
    return out

_HUFF = _build_tables()  # same tables for luma and chroma (both embedded in DHT)


_LUT_CACHE: dict = {}


def _decode_lut(bits: list[int], syms: list[int]) -> tuple[np.ndarray, np.ndarray]:
    """16-bit-peek lookup tables: value -> (symbol, code length).

    Memoized on the (bits, syms) spec — a decode-heavy pipeline (e.g. the
    images_codec bench, 20k images sharing one DHT) otherwise rebuilds two
    64 KiB tables per image."""
    key = (tuple(bits), tuple(syms))
    hit = _LUT_CACHE.get(key)
    if hit is not None:
        return hit
    lut_len = np.zeros(1 << 16, dtype=np.uint8)
    lut_sym = np.zeros(1 << 16, dtype=np.uint8)
    code = 0
    i = 0
    for L in range(1, 17):
        for _ in range(bits[L - 1]):
            lo = code << (16 - L)
            hi = (code + 1) << (16 - L)
            lut_len[lo:hi] = L
            lut_sym[lo:hi] = syms[i]
            code += 1
            i += 1
        code <<= 1
    if len(_LUT_CACHE) > 64:  # bound the cache; specs are few in practice
        _LUT_CACHE.clear()
    _LUT_CACHE[key] = (lut_len, lut_sym)
    return lut_len, lut_sym


# --------------------------------------------------------------- encoder

def _rgb_to_ycbcr(arr: np.ndarray) -> np.ndarray:
    a = arr.astype(np.float64)
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(y, cb, cr) -> np.ndarray:
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


def _pad_to(plane: np.ndarray, my: int, mx: int) -> np.ndarray:
    h, w = plane.shape
    H = -(-h // my) * my
    W = -(-w // mx) * mx
    return np.pad(plane, ((0, H - h), (0, W - w)), mode="edge")


def _blocks_of(plane: np.ndarray) -> np.ndarray:
    """(H/8, W/8, 8, 8) view-copy of an 8-aligned plane."""
    H, W = plane.shape
    return plane.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3)


def _fdct_quant(plane: np.ndarray, qtbl: np.ndarray) -> np.ndarray:
    """All blocks of a plane -> quantized zigzag coefficients (by, bx, 64)."""
    blocks = _blocks_of(plane.astype(np.float64) - 128.0)
    f = (_D @ blocks) @ _D.T  # == einsum("ij,abjk,lk->abil", D, blocks, D), ~14x faster
    q = np.round(f / qtbl.reshape(8, 8)).astype(np.int32)
    by, bx = q.shape[:2]
    return q.reshape(by, bx, 64)[:, :, ZIGZAG]


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def _dqt_segment(qtbls: list[np.ndarray]) -> bytes:
    payload = b""
    for tid, t in enumerate(qtbls):
        payload += bytes([tid]) + bytes(int(v) for v in t[ZIGZAG])
    return _seg(0xFFDB, payload)


def _dht_segment(entries: list[tuple[int, int, list[int], list[int]]]) -> bytes:
    payload = b""
    for cls, tid, bits, syms in entries:
        payload += bytes([(cls << 4) | tid]) + bytes(bits) + bytes(syms)
    return _seg(0xFFC4, payload)


def _prep_components(arr: np.ndarray, subsample: bool, ql: np.ndarray,
                     qc: np.ndarray):
    """Component geometry + quantized zigzag blocks, padded to exact MCU
    coverage: (comps, qblocks, mcux, mcuy).  Shared by the baseline and
    progressive encoders."""
    h, w, nc = arr.shape
    if nc == 1:
        comps = [dict(cid=1, H=1, V=1, tq=0)]
        planes = [arr[:, :, 0].astype(np.float64)]
    else:
        sub = 2 if subsample else 1
        comps = [dict(cid=1, H=sub, V=sub, tq=0),
                 dict(cid=2, H=1, V=1, tq=1),
                 dict(cid=3, H=1, V=1, tq=1)]
        ycc = _rgb_to_ycbcr(arr)
        y = ycc[..., 0]
        if subsample:
            yp = _pad_to(y, 2, 2)
            cb = _pad_to(ycc[..., 1], 2, 2)
            cr = _pad_to(ycc[..., 2], 2, 2)
            cb = cb.reshape(cb.shape[0] // 2, 2, cb.shape[1] // 2, 2).mean(axis=(1, 3))
            cr = cr.reshape(cr.shape[0] // 2, 2, cr.shape[1] // 2, 2).mean(axis=(1, 3))
            planes = [yp, cb, cr]
        else:
            planes = [y, ycc[..., 1], ycc[..., 2]]

    hmax = max(c["H"] for c in comps)
    vmax = max(c["V"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    qblocks = []
    for c, p in zip(comps, planes):
        ch = -(-h * c["V"] // vmax)  # component resolution
        cw = -(-w * c["H"] // hmax)
        p = p[:ch, :cw]
        need_h, need_w = mcuy * 8 * c["V"], mcux * 8 * c["H"]
        p = np.pad(p, ((0, need_h - p.shape[0]), (0, need_w - p.shape[1])), mode="edge")
        qblocks.append(_fdct_quant(p, ql if c["tq"] == 0 else qc))
    return comps, qblocks, mcux, mcuy


def encode(arr: np.ndarray, quality: int = 90, subsample: bool = False,
           restart_interval: int = 0, tables_only: bool = False,
           omit_tables: bool = False) -> bytes:
    """Baseline JFIF encode of an 8-bit gray (h,w) / (h,w,1) or RGB (h,w,3)
    array.  ``subsample`` selects 4:2:0 chroma; ``tables_only`` /
    ``omit_tables`` produce the abbreviated streams of TIFF's JPEGTables
    mechanism (tables stream = SOI+DQT+DHT+EOI; image streams then carry no
    tables of their own)."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nc = arr.shape
    if nc not in (1, 3):
        raise ValueError("gray or RGB only")
    ql, qc = quant_tables(quality)
    dc_bits, dc_syms, dc_codes = _HUFF["dc"]
    ac_bits, ac_syms, ac_codes = _HUFF["ac"]

    head = bytearray(b"\xff\xd8")  # SOI
    if not tables_only:
        head += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    if not omit_tables:
        head += _dqt_segment([ql] if nc == 1 else [ql, qc])
        head += _dht_segment([(0, 0, dc_bits, dc_syms), (1, 0, ac_bits, ac_syms)])
    if tables_only:
        return bytes(head) + b"\xff\xd9"

    comps, qblocks, mcux, mcuy = _prep_components(arr, subsample, ql, qc)

    sof = bytearray([8]) + struct.pack(">HH", h, w) + bytes([nc])
    for c in comps:
        sof += bytes([c["cid"], (c["H"] << 4) | c["V"], c["tq"]])
    head += _seg(0xFFC0, bytes(sof))
    if restart_interval:
        head += _seg(0xFFDD, struct.pack(">H", restart_interval))
    sos = bytes([nc]) + b"".join(bytes([c["cid"], 0x00]) for c in comps) + b"\x00\x3f\x00"
    head += _seg(0xFFDA, sos)

    # entropy scan — inlined bit packing (local acc/nbits, drain per symbol)
    out = bytearray()
    acc = 0
    nbits = 0
    preds = [0] * len(comps)
    mcu_i = 0
    rst = 0
    eob_code, eob_len = ac_codes[0x00]
    zrl_code, zrl_len = ac_codes[0xF0]
    HV = [(c["H"], c["V"]) for c in comps]
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                if nbits:  # 1-pad to byte boundary
                    pad = 8 - nbits
                    b = ((acc << pad) | ((1 << pad) - 1)) & 0xFF
                    out.append(b)
                    if b == 0xFF:
                        out.append(0x00)
                    acc = nbits = 0
                out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) & 7
                preds = [0] * len(comps)
            for ci in range(len(comps)):
                H, V = HV[ci]
                for v in range(V):
                    for u in range(H):
                        blk = qblocks[ci][my * V + v, mx * H + u]
                        blkl = blk.tolist()
                        # DC
                        dc = blkl[0]
                        diff = dc - preds[ci]
                        preds[ci] = dc
                        s = diff.bit_length() if diff >= 0 else (-diff).bit_length()
                        code, L = dc_codes[s]
                        if s:
                            acc = (acc << (L + s)) | (code << s) | (
                                diff if diff > 0 else diff + (1 << s) - 1)
                            nbits += L + s
                        else:
                            acc = (acc << L) | code
                            nbits += L
                        while nbits >= 8:
                            b = (acc >> (nbits - 8)) & 0xFF
                            out.append(b)
                            if b == 0xFF:
                                out.append(0x00)
                            nbits -= 8
                        acc &= (1 << nbits) - 1
                        # AC
                        nz = np.nonzero(blk[1:])[0]
                        prev = 0
                        for k in nz.tolist():
                            run = k - prev
                            prev = k + 1
                            while run >= 16:
                                acc = (acc << zrl_len) | zrl_code
                                nbits += zrl_len
                                run -= 16
                            v_ = blkl[1 + k]
                            s = v_.bit_length() if v_ >= 0 else (-v_).bit_length()
                            code, L = ac_codes[(run << 4) | s]
                            acc = (acc << (L + s)) | (code << s) | (
                                v_ if v_ > 0 else v_ + (1 << s) - 1)
                            nbits += L + s
                            while nbits >= 8:
                                b = (acc >> (nbits - 8)) & 0xFF
                                out.append(b)
                                if b == 0xFF:
                                    out.append(0x00)
                                nbits -= 8
                            acc &= (1 << nbits) - 1
                        if prev < 63:
                            acc = (acc << eob_len) | eob_code
                            nbits += eob_len
                            while nbits >= 8:
                                b = (acc >> (nbits - 8)) & 0xFF
                                out.append(b)
                                if b == 0xFF:
                                    out.append(0x00)
                                nbits -= 8
                            acc &= (1 << nbits) - 1
            mcu_i += 1
    if nbits:
        pad = 8 - nbits
        b = ((acc << pad) | ((1 << pad) - 1)) & 0xFF
        out.append(b)
        if b == 0xFF:
            out.append(0x00)
    return bytes(head) + bytes(out) + b"\xff\xd9"


# --------------------------------------------------------------- decoder

class _JpegState:
    def __init__(self):
        self.qt: dict[int, np.ndarray] = {}       # tid -> 64 natural-order
        self.huff: dict[tuple[int, int], tuple] = {}  # (class, tid) -> luts
        self.restart = 0
        self.frame = None


def _parse_tables(buf: bytes, pos: int, marker: int, state: _JpegState, ln: int):
    end = pos + ln - 2
    if marker == 0xDB:  # DQT
        while pos < end:
            pq_tq = buf[pos]
            pq, tq = pq_tq >> 4, pq_tq & 15
            pos += 1
            if pq == 0:
                z = np.frombuffer(buf, np.uint8, 64, pos).astype(np.int32)
                pos += 64
            else:
                z = np.frombuffer(buf, ">u2", 64, pos).astype(np.int32)
                pos += 128
            nat = np.zeros(64, np.int32)
            nat[ZIGZAG] = z
            state.qt[tq] = nat
    elif marker == 0xC4:  # DHT
        while pos < end:
            tc_th = buf[pos]
            bits = list(buf[pos + 1:pos + 17])
            n = sum(bits)
            syms = list(buf[pos + 17:pos + 17 + n])
            pos += 17 + n
            state.huff[(tc_th >> 4, tc_th & 15)] = _decode_lut(bits, syms)
    elif marker == 0xDD:  # DRI
        (state.restart,) = struct.unpack_from(">H", buf, pos)


def _scan_segments(buf: bytes, pos: int) -> tuple[list[bytes], int]:
    """De-stuffed entropy byte runs split at RST markers; returns (runs, pos
    of the terminating marker's 0xFF).  Scans with bytes.find (0xFF bytes are
    rare in entropy data) rather than per-byte Python."""
    segs = []
    cur = bytearray()
    n = len(buf)
    while pos < n:
        j = buf.find(b"\xff", pos)
        if j < 0:
            cur += buf[pos:]
            pos = n
            break
        cur += buf[pos:j]
        m = buf[j + 1] if j + 1 < n else 0xD9
        if m == 0x00:
            cur.append(0xFF)
            pos = j + 2
        elif 0xD0 <= m <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            pos = j + 2
        else:
            pos = j
            break
    segs.append(bytes(cur))
    return segs, pos


def _walk_markers(buf: bytes, state: _JpegState, stop_at_sos: bool = False):
    assert buf[:2] == b"\xff\xd8", "not a JPEG stream (missing SOI)"
    pos = 2
    n = len(buf)
    while pos < n:
        if buf[pos] != 0xFF:
            pos += 1
            continue
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
        while pos + 1 < n and buf[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= n:
            break
        marker = buf[pos + 1]
        pos += 2
        if marker in (0xD8, 0xD9, 0x01) or 0xD0 <= marker <= 0xD7:
            if marker == 0xD9:
                return None
            continue
        (ln,) = struct.unpack_from(">H", buf, pos)
        if marker in (0xDB, 0xC4, 0xDD):
            _parse_tables(buf, pos + 2, marker, state, ln)
        elif marker in (0xC0, 0xC1, 0xC2):  # baseline / ext. sequential / progressive
            p = pos + 2
            precision = buf[p]
            assert precision == 8, "8-bit precision only"
            h, w = struct.unpack_from(">HH", buf, p + 1)
            nc = buf[p + 5]
            comps = []
            for i in range(nc):
                cid, hv, tq = buf[p + 6 + 3 * i:p + 9 + 3 * i]
                comps.append(dict(cid=cid, H=hv >> 4, V=hv & 15, tq=tq))
            state.frame = dict(h=h, w=w, comps=comps, progressive=marker == 0xC2)
        elif marker == 0xDA:  # SOS: (payload start, entropy-data start)
            return pos + 2, pos + ln
        pos += ln
    raise ValueError("no SOS marker found")


def _reconstruct(state: _JpegState, coefs: list[np.ndarray]) -> np.ndarray:
    """Zigzag coefficient arrays (by, bx, 64) per component -> (h, w, c) uint8
    (dequantize, IDCT, upsample, color-convert)."""
    frame = state.frame
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["H"] for c in comps)
    vmax = max(c["V"] for c in comps)
    planes = []
    for c, zz in zip(comps, coefs):
        nat = np.zeros_like(zz)
        nat[:, :, ZIGZAG] = zz
        q = state.qt[c["tq"]]
        by, bx = nat.shape[:2]
        f = (nat * q).reshape(by, bx, 8, 8).astype(np.float64)
        x = (_D.T @ f) @ _D + 128.0  # == einsum("ji,abjk,kl->abil", D, f, D)
        plane = x.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        # upsample by sample replication to full resolution
        plane = np.repeat(np.repeat(plane, vmax // c["V"], axis=0), hmax // c["H"], axis=1)
        planes.append(plane[:h, :w])

    if len(comps) == 1:
        return np.clip(planes[0].round(), 0, 255).astype(np.uint8)[:, :, None]
    return _ycbcr_to_rgb(planes[0], planes[1], planes[2])


def decode(buf: bytes, tables: bytes | None = None) -> np.ndarray:
    """Decode a baseline OR progressive (SOF2) JPEG to (h, w, c) uint8.
    ``tables`` optionally carries a separate abbreviated tables stream
    (TIFF JPEGTables)."""
    state = _JpegState()
    if tables is not None:
        _walk_markers(tables, state, stop_at_sos=True)
    res = _walk_markers(buf, state)
    if res is None:
        raise ValueError("stream has no scan (tables-only?)")
    p, entropy_pos = res
    frame = state.frame
    if frame is None:
        raise ValueError("no SOF frame header")
    if frame.get("progressive"):
        return _reconstruct(state, _decode_progressive(buf, state, p, entropy_pos))
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    nc = len(comps)

    # SOS header: component -> huffman table ids
    ns = buf[p]
    tsel = {}
    for i in range(ns):
        cid, tdta = buf[p + 1 + 2 * i], buf[p + 2 + 2 * i]
        tsel[cid] = (tdta >> 4, tdta & 15)

    segs, _ = _scan_segments(buf, entropy_pos)
    hmax = max(c["H"] for c in comps)
    vmax = max(c["V"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    total_mcus = mcux * mcuy
    ri = state.restart or total_mcus

    # hot loop: bytes-backed LUTs (C-speed int indexing), inlined bit reads,
    # coefficients accumulated as (flat index, value) lists, bulk-assigned after
    HV = [(c["H"], c["V"]) for c in comps]
    luts = []
    for c in comps:
        dcl, dcs = state.huff[(0, tsel[c["cid"]][0])]
        acl, acs = state.huff[(1, tsel[c["cid"]][1])]
        luts.append((dcl.tobytes(), dcs.tobytes(), acl.tobytes(), acs.tobytes()))
    idx_l: list[list[int]] = [[] for _ in comps]
    val_l: list[list[int]] = [[] for _ in comps]
    bwidths = [mcux * c["H"] for c in comps]

    seg_i = 0
    data = segs[0] + b"\x00\x00"
    pos = 0
    preds = [0] * nc
    for mcu in range(total_mcus):
        if mcu and mcu % ri == 0 and seg_i + 1 < len(segs):
            seg_i += 1
            data = segs[seg_i] + b"\x00\x00"
            pos = 0
            preds = [0] * nc
        my, mx = divmod(mcu, mcux)
        for ci in range(nc):
            H, V = HV[ci]
            dc_len, dc_sym, ac_len, ac_sym = luts[ci]
            bw_ci = bwidths[ci]
            idx = idx_l[ci]
            val = val_l[ci]
            for v in range(V):
                for u in range(H):
                    base = ((my * V + v) * bw_ci + (mx * H + u)) * 64
                    byte = pos >> 3
                    pk = (((data[byte] << 16) | (data[byte + 1] << 8) | data[byte + 2])
                          >> (8 - (pos & 7))) & 0xFFFF
                    L = dc_len[pk]
                    if L == 0:
                        raise ValueError("invalid DC huffman code")
                    pos += L
                    s = dc_sym[pk]
                    if s:
                        byte = pos >> 3
                        bits = ((((data[byte] << 16) | (data[byte + 1] << 8) | data[byte + 2])
                                 >> (8 - (pos & 7))) & 0xFFFF) >> (16 - s)
                        pos += s
                        preds[ci] += bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1
                    if preds[ci]:
                        idx.append(base)
                        val.append(preds[ci])
                    k = 1
                    while k < 64:
                        byte = pos >> 3
                        pk = (((data[byte] << 16) | (data[byte + 1] << 8) | data[byte + 2])
                              >> (8 - (pos & 7))) & 0xFFFF
                        L = ac_len[pk]
                        if L == 0:
                            raise ValueError("invalid AC huffman code")
                        pos += L
                        rs = ac_sym[pk]
                        s = rs & 15
                        if s == 0:
                            if rs == 0xF0:
                                k += 16
                                continue
                            break  # EOB
                        k += rs >> 4
                        if k > 63:
                            raise ValueError("AC run overflows block")
                        byte = pos >> 3
                        bits = ((((data[byte] << 16) | (data[byte + 1] << 8) | data[byte + 2])
                                 >> (8 - (pos & 7))) & 0xFFFF) >> (16 - s)
                        pos += s
                        idx.append(base + k)
                        val.append(bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1)
                        k += 1

    coefs = []
    for ci, c in enumerate(comps):
        flat = np.zeros(mcuy * c["V"] * mcux * c["H"] * 64, np.int32)
        if idx_l[ci]:
            flat[np.array(idx_l[ci], np.int64)] = np.array(val_l[ci], np.int32)
        coefs.append(flat.reshape(mcuy * c["V"], mcux * c["H"], 64))

    return _reconstruct(state, coefs)


# ------------------------------------------------- progressive (SOF2) decoder
#
# ITU-T T.81 Annex G.2 (progressive Huffman decoding): spectral selection
# (Ss..Se bands per scan) and successive approximation (Ah/Al bit planes),
# including EOB-run coding across blocks and the AC-refinement correction-bit
# procedure (G.1.2.3).  Web-scraped image corpora are ~10-20% progressive, so
# the pipeline decoder must accept them (reference reads them via ImageIO —
# S/storage/geotiff delegates any SOF the JRE supports).
#
# Coefficients are held per component as (by, bx, 64) int32 in ZIGZAG order
# (band index k == zigzag index), so scans address block[k] directly; the
# shared _reconstruct permutes to natural order once at the end.

class _BitReader:
    """De-stuffed entropy segments with MSB-first bit addressing; segment
    hops happen at restart boundaries (caller-driven)."""

    __slots__ = ("segs", "seg_i", "data", "pos")

    def __init__(self, segs: list[bytes]):
        self.segs = segs
        self.seg_i = 0
        self.data = segs[0] + b"\x00\x00\x00"
        self.pos = 0

    def next_segment(self):
        self.seg_i += 1
        self.data = self.segs[self.seg_i] + b"\x00\x00\x00"
        self.pos = 0

    def bits(self, n: int) -> int:
        d, pos = self.data, self.pos
        byte = pos >> 3
        pk = (((d[byte] << 16) | (d[byte + 1] << 8) | d[byte + 2])
              >> (8 - (pos & 7))) & 0xFFFF
        self.pos = pos + n
        return pk >> (16 - n)

    def huff(self, lenb: bytes, symb: bytes) -> int:
        d, pos = self.data, self.pos
        byte = pos >> 3
        pk = (((d[byte] << 16) | (d[byte + 1] << 8) | d[byte + 2])
              >> (8 - (pos & 7))) & 0xFFFF
        L = lenb[pk]
        if L == 0:
            raise ValueError("invalid huffman code")
        self.pos = pos + L
        return symb[pk]


def _extend(bits: int, s: int) -> int:
    """RECEIVE/EXTEND (T.81 F.2.2.1): s magnitude bits -> signed value."""
    return bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1


def _comp_block_dims(frame: dict, c: dict) -> tuple[int, int]:
    """Non-interleaved block-grid dims (hb, wb) of one component (A.2.2)."""
    hmax = max(x["H"] for x in frame["comps"])
    vmax = max(x["V"] for x in frame["comps"])
    cw = -(-frame["w"] * c["H"] // hmax)
    ch = -(-frame["h"] * c["V"] // vmax)
    return -(-ch // 8), -(-cw // 8)


def _ac_first(br: _BitReader, lenb, symb, block, Ss, Se, Al, eobrun):
    """One block of an initial AC scan (G.1.2.2); returns the new EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = Ss
    while k <= Se:
        rs = br.huff(lenb, symb)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r != 15:
                eb = (1 << r) - 1
                if r:
                    eb += br.bits(r)
                return eb
            k += 16  # ZRL
        else:
            k += r
            if k > Se:
                raise ValueError("AC run overflows band")
            block[k] = _extend(br.bits(s), s) << Al
            k += 1
    return 0


def _ac_refine(br: _BitReader, lenb, symb, block, Ss, Se, Al, eobrun):
    """One block of an AC refinement scan (G.1.2.3): newly-nonzero
    coefficients arrive as +-1<<Al; already-nonzero ones receive a
    correction bit each time the scan passes over them."""
    p1 = 1 << Al
    m1 = -1 << Al
    k = Ss
    if eobrun == 0:
        while k <= Se:
            rs = br.huff(lenb, symb)
            r, s = rs >> 4, rs & 15
            val = 0
            if s:
                val = p1 if br.bits(1) else m1
            elif r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += br.bits(r)
                break
            # advance over r zero-HISTORY coefficients (16 for ZRL),
            # correcting every nonzero-history coefficient passed over
            while k <= Se:
                c = int(block[k])
                if c:
                    if br.bits(1) and not (c & p1):
                        block[k] = c + (p1 if c >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= Se:
                block[k] = val
            k += 1
    if eobrun > 0:
        while k <= Se:  # correction bits through the rest of the band
            c = int(block[k])
            if c and br.bits(1) and not (c & p1):
                block[k] = c + (p1 if c >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_scan(buf: bytes, state: _JpegState, coefs, sos_payload: int,
                 entropy_pos: int) -> int:
    """Decode one progressive scan; returns the stream position after its
    entropy data (at the next marker's 0xFF)."""
    frame = state.frame
    comps = frame["comps"]
    cid_to_ci = {c["cid"]: i for i, c in enumerate(comps)}
    p = sos_payload
    ns = buf[p]
    scomps = []  # (ci, dc table id, ac table id)
    for i in range(ns):
        cid, tdta = buf[p + 1 + 2 * i], buf[p + 2 + 2 * i]
        scomps.append((cid_to_ci[cid], tdta >> 4, tdta & 15))
    q = p + 1 + 2 * ns
    Ss, Se, ah_al = buf[q], buf[q + 1], buf[q + 2]
    Ah, Al = ah_al >> 4, ah_al & 15

    segs, endpos = _scan_segments(buf, entropy_pos)
    br = _BitReader(segs)
    hmax = max(c["H"] for c in comps)
    vmax = max(c["V"] for c in comps)
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))

    if Ss == 0:  # DC scan (interleaved when ns > 1, per A.2)
        if Se != 0:
            raise ValueError("DC scan must have Se == 0")
        luts = {}
        for ci, td, _ in scomps:
            if Ah == 0:
                lenb, symb = state.huff[(0, td)]
                luts[ci] = (lenb.tobytes(), symb.tobytes())
        preds = {ci: 0 for ci, _, _ in scomps}
        if ns > 1:
            units, wb = mcux * mcuy, mcux
        else:
            hb, wb = _comp_block_dims(frame, comps[scomps[0][0]])
            units = hb * wb
        ri = state.restart or units
        for u in range(units):
            if u and u % ri == 0 and br.seg_i + 1 < len(br.segs):
                br.next_segment()
                preds = {ci: 0 for ci in preds}
            if ns > 1:
                my, mx = divmod(u, wb)
                for ci, td, _ in scomps:
                    c = comps[ci]
                    for v in range(c["V"]):
                        for uu in range(c["H"]):
                            block = coefs[ci][my * c["V"] + v, mx * c["H"] + uu]
                            if Ah == 0:
                                lenb, symb = luts[ci]
                                s = br.huff(lenb, symb)
                                if s:
                                    preds[ci] += _extend(br.bits(s), s)
                                block[0] = preds[ci] << Al
                            elif br.bits(1):
                                block[0] = int(block[0]) | (1 << Al)
            else:
                ci = scomps[0][0]
                by, bx = divmod(u, wb)
                block = coefs[ci][by, bx]
                if Ah == 0:
                    lenb, symb = luts[ci]
                    s = br.huff(lenb, symb)
                    if s:
                        preds[ci] += _extend(br.bits(s), s)
                    block[0] = preds[ci] << Al
                elif br.bits(1):
                    block[0] = int(block[0]) | (1 << Al)
    else:  # AC scan: always non-interleaved single component (G.1.1.1.1)
        if ns != 1:
            raise ValueError("AC scans carry exactly one component")
        ci, _, ta = scomps[0]
        lenb, symb = state.huff[(1, ta)]
        lenb, symb = lenb.tobytes(), symb.tobytes()
        hb, wb = _comp_block_dims(frame, comps[ci])
        units = hb * wb
        ri = state.restart or units
        eobrun = 0
        fn = _ac_first if Ah == 0 else _ac_refine
        for u in range(units):
            if u and u % ri == 0 and br.seg_i + 1 < len(br.segs):
                br.next_segment()
                eobrun = 0
            by, bx = divmod(u, wb)
            eobrun = fn(br, lenb, symb, coefs[ci][by, bx], Ss, Se, Al, eobrun)
    return endpos


def _decode_progressive(buf: bytes, state: _JpegState, first_sos_payload: int,
                        first_entropy: int) -> list[np.ndarray]:
    """Scan loop: decode every SOS (tables may be redefined between scans)
    and return the accumulated zigzag coefficient arrays per component."""
    frame = state.frame
    comps = frame["comps"]
    hmax = max(c["H"] for c in comps)
    vmax = max(c["V"] for c in comps)
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    coefs = [np.zeros((mcuy * c["V"], mcux * c["H"], 64), np.int32) for c in comps]

    pos = _decode_scan(buf, state, coefs, first_sos_payload, first_entropy)
    n = len(buf)
    while pos < n - 1:  # walk inter-scan markers until EOI
        if buf[pos] != 0xFF:
            pos += 1
            continue
        # T.81 B.1.1.2: skip 0xFF fill bytes before the marker code
        while pos + 1 < n and buf[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= n:
            break
        marker = buf[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        (ln,) = struct.unpack_from(">H", buf, pos)
        if marker in (0xDB, 0xC4, 0xDD):
            _parse_tables(buf, pos + 2, marker, state, ln)
            pos += ln
        elif marker == 0xDA:
            pos = _decode_scan(buf, state, coefs, pos + 2, pos + ln)
        else:
            pos += ln
    return coefs


# ------------------------------------------------- progressive (SOF2) encoder
#
# Test/tooling counterpart of the progressive decoder (T.81 Annex G.1):
# produces real SOF2 streams with libjpeg's default scan script (spectral
# selection + successive approximation, EOB-run coding, AC correction bits)
# so the decoder's every path is exercised by round-trip tests.  Not a hot
# path — corpus re-encodes use the baseline encoder.

class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, L: int):
        acc = (self.acc << L) | code
        nbits = self.nbits + L
        out = self.out
        while nbits >= 8:
            b = (acc >> (nbits - 8)) & 0xFF
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
            nbits -= 8
        self.acc = acc & ((1 << nbits) - 1)
        self.nbits = nbits

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            b = ((self.acc << pad) | ((1 << pad) - 1)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.acc = self.nbits = 0


_PROG_AC = None


def _prog_ac_table():
    """One generic AC table covering every progressive symbol (EOBn r 0..14,
    ZRL, and (run, size) for size 1..10) at equal weight — valid canonical
    codes, deliberately not tuned (test encoder)."""
    global _PROG_AC
    if _PROG_AC is None:
        freqs = [((r << 4) | s, 1) for r in range(16) for s in range(11)]
        _PROG_AC = _canonical(_huffman_lengths(freqs))
    return _PROG_AC


def _default_scan_script(nc: int) -> list[tuple[list[int], int, int, int, int]]:
    """libjpeg's default progressive scan script (jcparam.c): entries are
    (component indices, Ss, Se, Ah, Al)."""
    if nc == 1:
        return [([0], 0, 0, 0, 1), ([0], 1, 5, 0, 2), ([0], 6, 63, 0, 2),
                ([0], 1, 63, 2, 1), ([0], 0, 0, 1, 0), ([0], 1, 63, 1, 0)]
    return [([0, 1, 2], 0, 0, 0, 1),
            ([0], 1, 5, 0, 2), ([2], 1, 63, 0, 1), ([1], 1, 63, 0, 1),
            ([0], 6, 63, 0, 2), ([0], 1, 63, 2, 1),
            ([0, 1, 2], 0, 0, 1, 0),
            ([2], 1, 63, 1, 0), ([1], 1, 63, 1, 0), ([0], 1, 63, 1, 0)]


class _EobState:
    """Pending EOB run + buffered correction bits (libjpeg's EOBRUN/BE)."""

    __slots__ = ("run", "bits")

    def __init__(self):
        self.run = 0
        self.bits: list[int] = []

    def flush(self, bw: _BitWriter, ac_codes):
        if self.run > 0:
            nb = self.run.bit_length() - 1
            code, L = ac_codes[nb << 4]
            bw.put(code, L)
            if nb:
                bw.put(self.run & ((1 << nb) - 1), nb)
            self.run = 0
            for b in self.bits:
                bw.put(b, 1)
            self.bits = []


def _encode_ac_first_block(bw, ac_codes, blk, Ss, Se, Al, eob: _EobState):
    run = 0
    for k in range(Ss, Se + 1):
        t = int(blk[k])
        m = (t if t >= 0 else -t) >> Al
        if m == 0:
            run += 1
            continue
        eob.flush(bw, ac_codes)
        while run > 15:
            code, L = ac_codes[0xF0]
            bw.put(code, L)
            run -= 16
        s = m.bit_length()
        code, L = ac_codes[(run << 4) | s]
        v = m if t >= 0 else -m
        bw.put(code, L)
        bw.put(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if run > 0:
        eob.run += 1
        if eob.run == 0x7FFF:
            eob.flush(bw, ac_codes)


def _encode_ac_refine_block(bw, ac_codes, blk, Ss, Se, Al, eob: _EobState):
    absv = [(int(blk[k]) if blk[k] >= 0 else -int(blk[k])) >> Al
            for k in range(Ss, Se + 1)]
    EOB = 0  # index AFTER the last newly-nonzero coefficient (relative)
    for i, m in enumerate(absv):
        if m == 1:
            EOB = i + 1
    run = 0
    br: list[int] = []
    for i, m in enumerate(absv):
        if m == 0:
            run += 1
            continue
        while run > 15 and i < EOB:
            eob.flush(bw, ac_codes)
            code, L = ac_codes[0xF0]
            bw.put(code, L)
            run -= 16
            for b in br:
                bw.put(b, 1)
            br = []
        if m > 1:  # nonzero history: buffer the next magnitude bit
            br.append(m & 1)
            continue
        eob.flush(bw, ac_codes)
        code, L = ac_codes[(run << 4) | 1]
        bw.put(code, L)
        bw.put(0 if int(blk[Ss + i]) < 0 else 1, 1)
        run = 0
        for b in br:
            bw.put(b, 1)
        br = []
    if run > 0 or br:
        eob.run += 1
        eob.bits.extend(br)
        if eob.run == 0x7FFF or len(eob.bits) > 900:
            eob.flush(bw, ac_codes)


def encode_progressive(arr: np.ndarray, quality: int = 90,
                       subsample: bool = False,
                       scans: list | None = None) -> bytes:
    """Progressive JFIF encode; ``scans`` overrides the default scan script
    with (comp index list, Ss, Se, Ah, Al) tuples."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nc = arr.shape
    if nc not in (1, 3):
        raise ValueError("gray or RGB only")
    ql, qc = quant_tables(quality)
    comps, qblocks, mcux, mcuy = _prep_components(arr, subsample, ql, qc)
    dc_bits, dc_syms, dc_codes = _HUFF["dc"]
    ac_bits, ac_syms, ac_codes = _prog_ac_table()

    out = bytearray(b"\xff\xd8")
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _dqt_segment([ql] if nc == 1 else [ql, qc])
    out += _dht_segment([(0, 0, dc_bits, dc_syms), (1, 0, ac_bits, ac_syms)])
    sof = bytearray([8]) + struct.pack(">HH", h, w) + bytes([nc])
    for c in comps:
        sof += bytes([c["cid"], (c["H"] << 4) | c["V"], c["tq"]])
    out += _seg(0xFFC2, bytes(sof))

    hmax = max(c["H"] for c in comps)
    vmax = max(c["V"] for c in comps)
    frame = dict(h=h, w=w, comps=comps)

    for cis, Ss, Se, Ah, Al in (scans or _default_scan_script(nc)):
        sos = bytes([len(cis)])
        for ci in cis:
            sos += bytes([comps[ci]["cid"], 0x00])
        sos += bytes([Ss, Se, (Ah << 4) | Al])
        out += _seg(0xFFDA, sos)
        bw = _BitWriter()
        if Ss == 0:  # DC scan
            preds = {ci: 0 for ci in cis}
            if len(cis) > 1:
                units, wb = mcux * mcuy, mcux
            else:
                hb, wb = _comp_block_dims(frame, comps[cis[0]])
                units = hb * wb
            for u in range(units):
                if len(cis) > 1:
                    my, mx = divmod(u, wb)
                    targets = [
                        (ci, qblocks[ci][my * comps[ci]["V"] + v,
                                         mx * comps[ci]["H"] + uu])
                        for ci in cis
                        for v in range(comps[ci]["V"])
                        for uu in range(comps[ci]["H"])
                    ]
                else:
                    by, bx = divmod(u, wb)
                    targets = [(cis[0], qblocks[cis[0]][by, bx])]
                for ci, blk in targets:
                    dc = int(blk[0])
                    if Ah == 0:  # arithmetic shift: refinement ORs bits back
                        diff = (dc >> Al) - preds[ci]
                        preds[ci] = dc >> Al
                        s = diff.bit_length() if diff >= 0 else (-diff).bit_length()
                        code, L = dc_codes[s]
                        bw.put(code, L)
                        if s:
                            bw.put(diff if diff > 0 else diff + (1 << s) - 1, s)
                    else:
                        bw.put((dc >> Al) & 1, 1)
        else:  # AC scan
            ci = cis[0]
            hb, wb = _comp_block_dims(frame, comps[ci])
            eob = _EobState()
            fn = _encode_ac_first_block if Ah == 0 else _encode_ac_refine_block
            for u in range(hb * wb):
                by, bx = divmod(u, wb)
                fn(bw, ac_codes, qblocks[ci][by, bx], Ss, Se, Al, eob)
            eob.flush(bw, ac_codes)
        bw.flush()
        out += bw.out
    return bytes(out) + b"\xff\xd9"
