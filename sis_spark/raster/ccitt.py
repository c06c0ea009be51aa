"""CCITT Group 3 one-dimensional Modified Huffman run-length codec —
TIFF compression 2 ("CCITT RLE", TIFF 6.0 section 10), the bilevel
scanned-map format the reference inflates through
TIF/inflater/CCITTRLE.java.

Each image row is coded independently as alternating WHITE/BLACK run
lengths (rows always start with a white run — a leading black pixel is
coded as a zero-length white run), each run length a variable-length
codeword from the PUBLIC ITU-T T.4 tables: terminating codes 0..63 per
color, make-up codes 64..1728 per color, and the shared extended make-up
codes 1792..2560.  Runs >= 64 are one-or-more make-up codes followed by a
terminating code (a decoder accumulates make-ups until a terminating code
arrives, so arbitrarily wide rows chain 2560-make-ups).  Bits pack
MSB-first; every row starts on a byte boundary (the TIFF-2 convention:
no EOL codes, no fill bits beyond the byte pad).

Pixels decode as 0 = white run, 1 = black run; with the standard
PhotometricInterpretation 0 (WhiteIsZero) the values are the image.
"""

from __future__ import annotations

import numpy as np

# ITU-T T.4 terminating codes (run 0..63) and make-up codes, per color.
_WHITE_TERM = [
    "00110101", "000111", "0111", "1000", "1011", "1100", "1110", "1111",
    "10011", "10100", "00111", "01000", "001000", "000011", "110100",
    "110101", "101010", "101011", "0100111", "0001100", "0001000",
    "0010111", "0000011", "0000100", "0101000", "0101011", "0010011",
    "0100100", "0011000", "00000010", "00000011", "00011010", "00011011",
    "00010010", "00010011", "00010100", "00010101", "00010110", "00010111",
    "00101000", "00101001", "00101010", "00101011", "00101100", "00101101",
    "00000100", "00000101", "00001010", "00001011", "01010010", "01010011",
    "01010100", "01010101", "00100100", "00100101", "01011000", "01011001",
    "01011010", "01011011", "01001010", "01001011", "00110010", "00110011",
    "00110100",
]
_WHITE_MAKEUP = {
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100", 512: "01100101",
    576: "01101000", 640: "01100111", 704: "011001100", 768: "011001101",
    832: "011010010", 896: "011010011", 960: "011010100", 1024: "011010101",
    1088: "011010110", 1152: "011010111", 1216: "011011000",
    1280: "011011001", 1344: "011011010", 1408: "011011011",
    1472: "010011000", 1536: "010011001", 1600: "010011010",
    1664: "011000", 1728: "010011011",
}
_BLACK_TERM = [
    "0000110111", "010", "11", "10", "011", "0011", "0010", "00011",
    "000101", "000100", "0000100", "0000101", "0000111", "00000100",
    "00000111", "000011000", "0000010111", "0000011000", "0000001000",
    "00001100111", "00001101000", "00001101100", "00000110111",
    "00000101000", "00000010111", "00000011000", "000011001010",
    "000011001011", "000011001100", "000011001101", "000001101000",
    "000001101001", "000001101010", "000001101011", "000011010010",
    "000011010011", "000011010100", "000011010101", "000011010110",
    "000011010111", "000001101100", "000001101101", "000011011010",
    "000011011011", "000001010100", "000001010101", "000001010110",
    "000001010111", "000001100100", "000001100101", "000001010010",
    "000001010011", "000000100100", "000000110111", "000000111000",
    "000000100111", "000000101000", "000001011000", "000001011001",
    "000000101011", "000000101100", "000001011010", "000001100110",
    "000001100111",
]
_BLACK_MAKEUP = {
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}
_EXT_MAKEUP = {  # shared by both colors (T.4 extended make-ups)
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}


def _enc_table(color: int) -> dict[int, str]:
    term = _WHITE_TERM if color == 0 else _BLACK_TERM
    makeup = _WHITE_MAKEUP if color == 0 else _BLACK_MAKEUP
    t = {i: c for i, c in enumerate(term)}
    t.update(makeup)
    t.update(_EXT_MAKEUP)
    return t


_ENC = (_enc_table(0), _enc_table(1))
#: decode maps: bitstring -> run length (prefix-free, max 13 bits)
_DEC = ({c: r for r, c in _ENC[0].items()}, {c: r for r, c in _ENC[1].items()})
_MAXLEN = (max(len(c) for c in _DEC[0]), max(len(c) for c in _DEC[1]))
#: make-up run values descending, for greedy encoding of long runs
_MAKEUPS = (sorted((r for r in _ENC[0] if r >= 64), reverse=True),
            sorted((r for r in _ENC[1] if r >= 64), reverse=True))


def encode_mh(arr: np.ndarray) -> bytes:
    """(rows, width) 0/1 array -> CCITT MH RLE bytes (rows byte-aligned)."""
    arr = np.asarray(arr)
    if arr.ndim == 3:
        arr = arr[:, :, 0]
    a = (arr != 0).astype(np.int8)
    out = bytearray()
    for row in a:
        if not len(row):  # a zero-width row holds no runs (decode reads none)
            continue
        bits = []
        # run-length extraction: change positions over the row
        changes = np.flatnonzero(np.diff(row)) + 1
        bounds = np.concatenate([[0], changes, [len(row)]])
        runs = np.diff(bounds)
        colors = row[bounds[:-1]]
        if colors[0] != 0:  # row must start white: zero-length white run
            runs = np.concatenate([[0], runs])
            colors = np.concatenate([[0], colors])
        color = 0
        for run in runs:
            run = int(run)
            enc = _ENC[color]
            while run >= 2624:  # chain max make-ups for very wide runs
                bits.append(enc[2560])
                run -= 2560
            if run >= 64:  # make-ups are multiples of 64: one exact fit
                m = (run // 64) * 64
                bits.append(enc[m])
                run -= m
            bits.append(enc[run])
            color ^= 1
        s = "".join(bits)
        pad = (-len(s)) % 8
        s += "0" * pad
        out += int(s, 2).to_bytes(len(s) // 8, "big") if s else b""
    return bytes(out)


def decode_mh(payload: bytes, rows: int, width: int) -> np.ndarray:
    """CCITT MH RLE bytes -> (rows, width) uint8 0/1."""
    bits = np.unpackbits(np.frombuffer(payload, np.uint8))
    out = np.zeros((rows, width), np.uint8)
    pos = 0  # bit position
    for y in range(rows):
        x = 0
        color = 0
        while x < width:
            run = 0
            # accumulate make-ups until a terminating code (< 64)
            while True:
                dec = _DEC[color]
                code = ""
                val = None
                start = pos
                while val is None:
                    if pos >= len(bits):
                        raise ValueError("truncated CCITT stream")
                    code += "1" if bits[pos] else "0"
                    pos += 1
                    if len(code) > _MAXLEN[color]:
                        raise ValueError(
                            f"bad CCITT code {code!r} at bit {start}")
                    val = dec.get(code)
                run += val
                if val < 64:
                    break
            if run:
                if color:
                    out[y, x:x + run] = 1
                x += run
            color ^= 1
        if x != width:
            raise ValueError(f"row {y} overruns width {width}")
        pos = (pos + 7) & ~7  # next row starts byte-aligned
    return out
