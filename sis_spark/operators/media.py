"""Audio/video columns: opaque ``binary`` + typed metadata, codec registry.

r2: REAL default codecs ship in-engine (sources/riff.py) — ``wav-pcm16``
(RIFF/WAVE PCM) for audio and ``mjpg-avi`` (RIFF/AVI of baseline-JPEG
frames, idx1-seekable) for video — so the pipeline stages below run on real
bitstreams, not stand-ins.  The registry remains the drop-in point for
external codecs (libsndfile/ffmpeg) beyond that envelope; the deterministic
``fake-*`` payloads are kept for plumbing tests whose content must be a pure
function of the media id (FIXTURES.md determinism rule).

Frame sampling only touches the sampled frames: the AVI idx1 index gives
per-frame byte ranges, the time-axis analog of deferred tile decode
(AT_GET_TILE_TIME, S/RasterLoadingStrategy.java:50-77).
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame

from ..functions.udfs import _map_rows

AUDIO_SCHEMA = (
    "media_id string, payload binary, sample_rate int, n_samples long, codec string"
)
VIDEO_SCHEMA = (
    "media_id string, payload binary, fps double, n_frames int, w int, h int, codec string"
)

_AUDIO_DECODERS: dict = {}
_VIDEO_DECODERS: dict = {}


def register_audio_decoder(codec: str, fn) -> None:
    """fn(payload: bytes) -> np.ndarray (n_samples,) float32 in [-1, 1]."""
    _AUDIO_DECODERS[codec] = fn


def register_video_decoder(codec: str, fn) -> None:
    """fn(payload: bytes, frame_idx: np.ndarray) -> (len(idx), h, w, 3) uint8."""
    _VIDEO_DECODERS[codec] = fn


def _decode_audio(payload: bytes, codec: str) -> np.ndarray:
    if codec in _AUDIO_DECODERS:
        return _AUDIO_DECODERS[codec](payload)
    if codec == "wav-pcm16":  # real RIFF/WAVE (sources/riff.py)
        from ..sources import riff

        x, _rate = riff.decode_wav(bytes(payload))
        return x if x.ndim == 1 else x.mean(axis=1).astype(np.float32)
    if codec == "fake-pcm":  # deterministic stand-in: i16 little-endian PCM
        return np.frombuffer(payload, dtype="<i2").astype(np.float32) / 32768.0
    raise NotImplementedError(
        f"no audio decoder for codec {codec!r}: register one via register_audio_decoder"
    )


def _decode_video_frames(payload: bytes, codec: str, idx: np.ndarray, w: int, h: int) -> np.ndarray:
    if codec in _VIDEO_DECODERS:
        return _VIDEO_DECODERS[codec](payload, idx)
    if codec == "mjpg-avi":  # real RIFF/AVI MJPG, idx1 frame seeks
        from ..sources import riff

        return riff.decode_avi_frames(bytes(payload), idx)
    if codec == "fake-raw":  # frame-major raw RGB — supports true frame seeks
        frame_bytes = w * h * 3
        out = np.empty((len(idx), h, w, 3), dtype=np.uint8)
        for k, i in enumerate(idx):
            off = int(i) * frame_bytes
            out[k] = np.frombuffer(payload, dtype=np.uint8, count=frame_bytes, offset=off).reshape(h, w, 3)
        return out
    raise NotImplementedError(
        f"no video decoder for codec {codec!r}: register one via register_video_decoder"
    )


def _audio(row, payload):
    """The per-clip audio decoder of ``_map_rows``."""
    return (_decode_audio(bytes(payload), row["codec"]),)


def _video(video: DataFrame) -> DataFrame:
    """A clip table pruned to what ``_frames`` reads."""
    return video.select("media_id", "codec", "n_frames", "w", "h", "payload")


def _frames(index):
    """The per-clip video decoder of ``_map_rows``: the frames
    ``index(n_frames)`` of each clip, decoded -> (idx, frames)."""

    def decode(row, payload):
        idx = index(int(row["n_frames"]))
        return idx, _decode_video_frames(bytes(payload), row["codec"], idx,
                                         int(row["w"]), int(row["h"]))

    return decode


def make_fake_audio(media_id: int, sample_rate: int = 8000, seconds: float = 1.0) -> dict:
    """Deterministic PCM: two mixed tones keyed by the id."""
    n = int(sample_rate * seconds)
    t = np.arange(n, dtype=np.float64) / sample_rate
    f1 = 200.0 + (media_id * 37) % 1800
    f2 = 100.0 + (media_id * 101) % 900
    x = 0.5 * np.sin(2 * np.pi * f1 * t) + 0.25 * np.sin(2 * np.pi * f2 * t)
    pcm = np.clip(x * 32767.0, -32768, 32767).astype("<i2")
    return {
        "media_id": f"aud-{media_id:09d}", "payload": pcm.tobytes(),
        "sample_rate": sample_rate, "n_samples": n, "codec": "fake-pcm",
    }


def make_fake_video(media_id: int, n_frames: int = 12, w: int = 16, h: int = 12) -> dict:
    x = np.arange(w)[None, None, :, None]
    y = np.arange(h)[None, :, None, None]
    f = np.arange(n_frames)[:, None, None, None]
    ch = np.arange(3)[None, None, None, :]
    arr = ((x * 5 + y * 11 + f * 17 + ch * 29 + media_id * 7) % 256).astype(np.uint8)
    return {
        "media_id": f"vid-{media_id:09d}", "payload": arr.tobytes(),
        "fps": 6.0, "n_frames": n_frames, "w": w, "h": h, "codec": "fake-raw",
    }


def make_wav_audio(media_id: int, sample_rate: int = 8000, seconds: float = 1.0) -> dict:
    """Same deterministic two-tone content as make_fake_audio, but packaged
    as a REAL RIFF/WAVE PCM16 payload (codec 'wav-pcm16')."""
    from ..sources import riff

    n = int(sample_rate * seconds)
    t = np.arange(n, dtype=np.float64) / sample_rate
    f1 = 200.0 + (media_id * 37) % 1800
    f2 = 100.0 + (media_id * 101) % 900
    x = 0.5 * np.sin(2 * np.pi * f1 * t) + 0.25 * np.sin(2 * np.pi * f2 * t)
    return {
        "media_id": f"aud-{media_id:09d}", "payload": riff.encode_wav(x, sample_rate),
        "sample_rate": sample_rate, "n_samples": n, "codec": "wav-pcm16",
    }


def make_mjpg_video(media_id: int, n_frames: int = 12, w: int = 16, h: int = 12) -> dict:
    """Same deterministic frame content as make_fake_video, but packaged as
    a REAL AVI/MJPG payload (codec 'mjpg-avi', frame-seekable)."""
    from ..sources import riff

    x = np.arange(w)[None, None, :, None]
    y = np.arange(h)[None, :, None, None]
    f = np.arange(n_frames)[:, None, None, None]
    ch = np.arange(3)[None, None, None, :]
    arr = ((x * 5 + y * 11 + f * 17 + ch * 29 + media_id * 7) % 256).astype(np.uint8)
    return {
        "media_id": f"vid-{media_id:09d}",
        "payload": riff.encode_avi_mjpg(arr, fps=6.0, quality=98),
        "fps": 6.0, "n_frames": n_frames, "w": w, "h": h, "codec": "mjpg-avi",
    }


def audio_features(audio: DataFrame, frame_ms: int = 25) -> DataFrame:
    """Windowed audio features: RMS energy + zero-crossing rate per frame
    (the token-counting analog for audio rows).  One output row per frame."""

    def fn(row, x):
        flen = max(1, int(row["sample_rate"]) * frame_ms // 1000)
        n_frames = len(x) // flen
        if n_frames == 0:
            return None
        frames = x[: n_frames * flen].reshape(n_frames, flen)
        return {
            "media_id": row["media_id"], "frame": np.arange(n_frames),
            "rms": np.sqrt((frames.astype(np.float64) ** 2).mean(axis=1)),
            "zcr": (np.diff(np.signbit(frames), axis=1) != 0).mean(axis=1),
        }

    return _map_rows(
        audio.select("media_id", "sample_rate", "codec", "payload"),
        "media_id string, frame int, rms double, zcr double",
        ["payload"], _audio, fn)


def sample_frames(video: DataFrame, every_n: int = 4) -> DataFrame:
    """Frame sampling: decode every Nth frame only (a seekable codec never
    touches the rest — the AT_GET_TILE_TIME discipline applied to time),
    emit per-frame mean intensity + the raw frame bytes."""

    def fn(row, idx, frames):
        return {
            "media_id": row["media_id"], "frame": idx,
            "mean_intensity": [float(f.astype(np.float64).mean()) for f in frames],
            "frame_bytes": [f.tobytes() for f in frames],
        }

    return _map_rows(
        _video(video), "media_id string, frame int, mean_intensity double, frame_bytes binary",
        ["payload"], _frames(lambda nf: np.arange(0, nf, every_n)), fn)


def make_scene_video(media_id: int, n_frames: int = 12, w: int = 16,
                     h: int = 12, scene_len: int = 5) -> dict:
    """Deterministic scene-structured clip: content keys on scene = f //
    scene_len plus a +f per-frame flicker, so within-scene SADs are small
    and scene boundaries are large — the shot-boundary test content."""
    x = np.arange(w)[None, None, :, None]
    y = np.arange(h)[None, :, None, None]
    f = np.arange(n_frames)[:, None, None, None]
    ch = np.arange(3)[None, None, None, :]
    arr = ((x * 5 + y * 11 + (f // scene_len) * 37 + ch * 29
            + media_id * 7 + f) % 256).astype(np.uint8)
    return {
        "media_id": f"vid-{media_id:09d}", "payload": arr.tobytes(),
        "fps": 6.0, "n_frames": n_frames, "w": w, "h": h, "codec": "fake-raw",
    }


def frame_diffs(video: DataFrame, cut_threshold: int) -> DataFrame:
    """Shot-boundary detection by frame differencing (the classic hard-cut
    detector of video indexing literature): per consecutive frame pair,
    SAD = sum |frame_i - frame_{i-1}| over all pixels/channels as exact
    int64, flagged as a cut when SAD > ``cut_threshold``.

    One row per frame i >= 1: (media_id, frame, sad, is_cut).

    Scale shape: ONE mapInPandas pass, each clip decoded once and
    differenced in-memory — embarrassingly parallel across clips, no
    shuffle at all; a 100 TB video corpus partitions by clip."""
    thr = int(cut_threshold)

    def fn(row, idx, frames):
        frames = frames.astype(np.int64)
        sad = np.abs(np.diff(frames, axis=0)).reshape(len(idx) - 1, -1).sum(axis=1)
        return {"media_id": row["media_id"], "frame": idx[1:], "sad": sad,
                "is_cut": sad > thr}

    return _map_rows(
        _video(video), "media_id string, frame int, sad long, is_cut boolean",
        ["payload"], _frames(np.arange), fn)


def make_motion_video(media_id: int, n_frames: int = 6, w: int = 24,
                      h: int = 16) -> dict:
    """Deterministic single-channel clip with TRUE translational motion
    (vx, vy) = (id%3 - 1, (id//3)%3 - 1): frame f shows the nonlinear
    texture g(u, v) = (3u^2 + 7v + uv) mod 256 at u = x - vx*f — block
    matching recovers the motion exactly (numpy's % is floor-mod, same
    as the oracle's posmod)."""
    vx, vy = media_id % 3 - 1, (media_id // 3) % 3 - 1
    f = np.arange(n_frames)[:, None, None]
    y = np.arange(h)[None, :, None]
    x = np.arange(w)[None, None, :]
    u = x - vx * f
    v = y - vy * f
    arr = ((3 * u * u + 7 * v + u * v) % 256).astype(np.uint8)
    return {
        "media_id": f"vid-{media_id:09d}", "payload": arr.tobytes(),
        "fps": 6.0, "n_frames": n_frames, "w": w, "h": h,
        "codec": "fake-raw-gray",
    }


def block_motion(video: DataFrame, block: int = 4, radius: int = 2) -> DataFrame:
    """Block-matching motion estimation (the MPEG motion-search primitive,
    public literature) -> (media_id, frame, bx, by, dx, dy, sad): for
    every INTERIOR block of frame f >= 1, the displacement in
    [-radius, radius]^2 minimizing the exact int64 SAD against frame
    f-1, ties by (sad, dy, dx).  Interior = blocks whose full search
    window stays inside the frame, so no candidate is ever clipped.

    Scale shape: one mapInPandas pass, each clip decoded once (the
    frame_diffs discipline); embarrassingly parallel across clips."""
    b, r = int(block), int(radius)

    def decode(row, payload):
        nf, h, w = int(row["n_frames"]), int(row["h"]), int(row["w"])
        return (np.frombuffer(payload, np.uint8).reshape(nf, h, w).astype(np.int64),)

    def fn(row, arr):
        nf, h, w = arr.shape
        out = []
        for f in range(1, nf):
            cur, prev = arr[f], arr[f - 1]
            for by in range(h // b):
                y0 = by * b
                if y0 - r < 0 or y0 + b + r > h:
                    continue
                for bx in range(w // b):
                    x0 = bx * b
                    if x0 - r < 0 or x0 + b + r > w:
                        continue
                    blk = cur[y0:y0 + b, x0:x0 + b]
                    best = None
                    for dy in range(-r, r + 1):
                        for dx in range(-r, r + 1):
                            ref = prev[y0 + dy:y0 + dy + b,
                                       x0 + dx:x0 + dx + b]
                            key = (int(np.abs(blk - ref).sum()), dy, dx)
                            if best is None or key < best:
                                best = key
                    out.append((f, bx, by, best[2], best[1], best[0]))
        cols = np.array(out, np.int64).reshape(-1, 6).T
        return {"media_id": row["media_id"],
                **dict(zip(("frame", "bx", "by", "dx", "dy", "sad"), cols))}

    return _map_rows(
        video.select("media_id", "n_frames", "w", "h", "payload"),
        "media_id string, frame long, bx long, by long, dx long, dy long, sad long",
        ["payload"], decode, fn)


def make_formula_pcm(media_id: int, n: int = 2000) -> dict:
    """Integer formula PCM (SQL-replicable, unlike the sine clips):
    s[i] = ((i*i*7 + i*13 + id*31) mod 4096) - 2048, int16."""
    i = np.arange(n, dtype=np.int64)
    s = (i * i * 7 + i * 13 + media_id * 31) % 4096 - 2048
    return {
        "media_id": f"aud-{media_id:09d}", "payload": s.astype("<i2").tobytes(),
        "sample_rate": 3000, "n_samples": n, "codec": "fake-pcm",
    }


def pcm_resample_2_3(audio: DataFrame) -> DataFrame:
    """Linear PCM resampling to 2/3 of the input rate, EXACT-INTEGER ->
    (media_id, j, y2): output sample j sits at input position 3j/2, so
    y2 = 2*s[k] + (s[k+1] - s[k]) * (3j mod 2) with k = (3j) div 2 —
    twice the interpolated value, kept integral (the polyphase
    fractional delays are all halves).  One mapInPandas pass per clip."""

    def fn(row, s):
        n = int(row["n_samples"])
        m = (2 * (n - 1)) // 3  # last j with k+1 <= n-1
        j = np.arange(m + 1, dtype=np.int64)
        k = (3 * j) // 2
        fr = (3 * j) % 2
        y2 = 2 * s[k] + (s[np.minimum(k + 1, n - 1)] - s[k]) * fr
        return {"media_id": row["media_id"], "j": j, "y2": y2}

    return _map_rows(
        audio.select("media_id", "n_samples", "payload"),
        "media_id string, j long, y2 long", ["payload"],
        lambda row, p: (np.frombuffer(p, "<i2").astype(np.int64),), fn)


def _pow2_case(exp_expr: str, base_shift: int) -> str:
    """CASE mapping an exponent column in 0..7 to 2^(exp+base_shift) —
    both dialects lack a shared integer-shift-by-column operator."""
    arms = " ".join(
        f"WHEN {e} THEN {1 << (e + base_shift)}" for e in range(8)
    )
    return f"(CASE {exp_expr} {arms} END)"


def mulaw_exprs(x: str, div_op: str) -> tuple[str, str]:
    """G.711 mu-law encode/decode of an int16 PCM sample as pure integer
    segment arithmetic (ITU-T G.711, public spec): clip to 32635, add the
    132 bias, segment = bit-length of the biased magnitude minus 8 (the
    ``length(bin())`` exact integer log2, no FP), 4-bit mantissa, one's
    complement.  Returns (code_sql, decoded_sql) sharing text except for
    the integer-divide operator (`div` in Spark SQL, `//` in DuckDB).

    Scale shape: per-row codegen, no Python — audio transcode at 100 TB is
    a map-only pass.
    """
    sign = f"(CASE WHEN ({x}) < 0 THEN 1 ELSE 0 END)"
    mag = f"(least(abs(CAST(({x}) AS BIGINT)), 32635) + 132)"
    ex = f"(length(bin({mag})) - 8)"
    mant = f"((({mag}) {div_op} {_pow2_case(ex, 3)}) % 16)"
    code = f"(255 - ({sign} * 128 + {ex} * 16 + {mant}))"
    dec_mag = f"((({mant} * 8 + 132) * {_pow2_case(ex, 0)}) - 132)"
    decoded = f"(CASE WHEN {sign} = 1 THEN -({dec_mag}) ELSE {dec_mag} END)"
    return code, decoded


def shot_segments(
    diffs: "DataFrame",
    threshold: int,
    guard: int = 2,
    key_col: str = "media_id",
    frame_col: str = "frame",
    sad_col: str = "sad",
) -> "DataFrame":
    """Shot segmentation from per-frame difference energy.

    A cut is a frame whose SAD exceeds ``threshold`` AND is the strict
    local argmax within +/-``guard`` frames (earliest frame wins ties) —
    the 1-D non-max suppression that keeps a single cut per transition
    even when a dissolve spreads energy over neighbours.  The argmax is
    one packed-key window max (sad * 2^20 + (2^20-1-frame), the voronoi
    packing trick); shots are the running cut count; per-shot stats are
    one aggregation.  Pure window codegen, one shuffle on the clip key.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    d = diffs.select(
        F.col(key_col).alias("k"),
        F.col(frame_col).cast("long").alias("f"),
        F.col(sad_col).cast("long").alias("sad"),
    )
    packed = F.col("sad") * F.lit(1048576) + (F.lit(1048575) - F.col("f"))
    word = Window.partitionBy("k").orderBy("f")
    wnb = word.rowsBetween(-guard, guard)
    d = d.withColumn("pk", packed).withColumn(
        "cut",
        (F.col("sad") > threshold) & (F.col("pk") == F.max("pk").over(wnb)),
    )
    d = d.withColumn(
        "shot",
        F.sum(F.when(F.col("cut"), 1).otherwise(0)).over(
            word.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        d.groupBy(F.col("k").alias(key_col), "shot")
        .agg(
            F.min("f").alias("start_frame"),
            F.count("*").alias("n_frames"),
            F.sum("sad").alias("sad_sum"),
        )
    )


def shot_segments_sql(
    base_select: str,
    threshold: int,
    guard: int = 2,
    key_col: str = "media_id",
    frame_col: str = "frame",
    sad_col: str = "sad",
) -> str:
    """DuckDB twin of ``shot_segments`` (same packed-key NMS windows)."""
    return f"""
WITH d AS (
  SELECT {key_col} AS k, CAST({frame_col} AS BIGINT) AS f,
         CAST({sad_col} AS BIGINT) AS sad
  FROM ({base_select}) s),
p AS (
  SELECT k, f, sad, sad * 1048576 + (1048575 - f) AS pk FROM d),
c AS (
  SELECT k, f, sad,
         (sad > {int(threshold)} AND pk = max(pk) OVER (PARTITION BY k ORDER BY f
             ROWS BETWEEN {int(guard)} PRECEDING AND {int(guard)} FOLLOWING)) AS cut
  FROM p),
sh AS (
  SELECT k, f, sad,
         sum(CASE WHEN cut THEN 1 ELSE 0 END) OVER (PARTITION BY k ORDER BY f
             ROWS UNBOUNDED PRECEDING) AS shot
  FROM c)
SELECT k AS {key_col}, shot, min(f) AS start_frame,
       count(*) AS n_frames, sum(sad) AS sad_sum
FROM sh GROUP BY 1, 2"""
