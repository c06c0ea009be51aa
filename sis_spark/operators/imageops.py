"""Image-column operators over the (image_id, bytes, w, h, fmt, ...) table.

The training-data-pipeline surface of the driver mandate: decode, feature
extraction, resize, and perceptual near-duplicate detection as Arrow-batched
operators — binary payloads stay opaque to Spark (BinaryType) and are only
materialized inside mapInPandas workers (the deferred-decode discipline of
the reference's RasterLoadingStrategy, S/RasterLoadingStrategy.java:50-77).

All kernels reuse raster/codec.py (pure numpy PNG/raw + the clearly-marked
JPEG stand-in).  Throughput note: decode cost dominates; these operators
column-prune everything except (bytes, fmt) into the Python worker.

**The per-image contract**, written once in ``_map_images`` (the per-row
loop ``functions.udfs._map_rows`` with the image decoder):

* **Decode** — each row's payload decodes with ``codec.decode(bytes,
  fmt)`` to an (h, w, c) uint8 array (two per row for ``mse_pairs``).
* **Channel rule** — operators that read RGB statistics see a gray
  (h, w, 1) image widened to 3 equal channels, so a gray image and its
  RGB copy give the same row; the re-encoding operators (``thumbnails``,
  ``augment_*``, ``patchify_*``, ``resize_to_bucket``) keep the decoded
  channels.
* **Row expansion** — the numpy body returns one output row as a column
  dict; a list or array value makes one row per element (scalars repeat).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import _map_rows
from ..raster import codec


def _map_images(df: DataFrame, schema: str, body, cols=("image_id",),
                fmts=None, rgb: bool = True) -> DataFrame:
    """The per-image core: ``body(row, *images)`` over ``df`` pruned to
    ``cols`` and the payloads; ``fmts`` maps each payload column to its
    format column (default bytes -> fmt).  With ``rgb`` a gray image is
    widened to 3 channels."""
    fmts = fmts or {"bytes": "fmt"}

    def decode(row, *bufs):
        arrs = [codec.decode(bytes(b), row[f]) for b, f in zip(bufs, fmts.values())]
        return [np.repeat(a, 3, axis=2) if rgb and a.shape[2] == 1 else a
                for a in arrs]

    return _map_rows(df.select(*cols, *fmts, *fmts.values()), schema, fmts,
                     decode, body)


FEATURE_SCHEMA = (
    "image_id string, mean_r double, mean_g double, mean_b double, "
    "std double, edge_energy double"
)


def image_features(images: DataFrame) -> DataFrame:
    """Decode + per-image features: channel means, global std, and a simple
    gradient edge-energy score (mean |dx| + |dy|) — the quality-scoring
    analog for image rows."""

    def fn(r, arr):
        arr = arr.astype(np.float64)
        g = arr.mean(axis=2)
        return {
            "image_id": r["image_id"],
            "mean_r": float(arr[:, :, 0].mean()),
            "mean_g": float(arr[:, :, 1].mean()),
            "mean_b": float(arr[:, :, 2].mean()),
            "std": float(arr.std()),
            "edge_energy": float(
                np.abs(np.diff(g, axis=0)).mean() + np.abs(np.diff(g, axis=1)).mean()
            ),
        }

    return _map_images(images, FEATURE_SCHEMA, fn)


QUALITY_INT_SCHEMA = (
    "image_id string, n_px long, sum_l long, sumsq_l long, "
    "n_lap long, sum_lap long, sumsq_lap long"
)


def _quality_double_exprs():
    """Shared Spark-SQL expression text for the derived doubles — the engine
    computes them IN SQL from the integer sums (not in numpy) so the DuckDB
    oracle can reuse the identical expression order bit-exactly."""
    var = lambda sq, s, n: (
        f"(CAST({sq} AS DOUBLE) - CAST({s} AS DOUBLE) * CAST({s} AS DOUBLE) "
        f"/ CAST({n} AS DOUBLE)) / CAST({n} AS DOUBLE)"
    )
    return {
        "brightness": "CAST(sum_l AS DOUBLE) / CAST(n_px AS DOUBLE)",
        "contrast_var": var("sumsq_l", "sum_l", "n_px"),
        "sharpness_var": var("sumsq_lap", "sum_lap", "n_lap"),
    }


def image_quality(images: DataFrame) -> DataFrame:
    """Per-image quality metrics for filtering a multimodal corpus:
    brightness (mean luma), RMS contrast (luma variance) and sharpness
    (variance of the 4-neighbor Laplacian over interior pixels — the
    classic blur detector).

    Decode + integer sums run Arrow-batched per image (embarrassingly
    parallel, no shuffle); luma = r+g+b kept integral so the sums are
    exact int64 and the derived doubles are shared-expression SQL over
    them.  Images smaller than 3x3 report NULL sharpness."""

    def fn(r, arr):
        luma = arr.astype(np.int64).sum(axis=2)
        lap = (
            4 * luma[1:-1, 1:-1]
            - luma[1:-1, :-2]
            - luma[1:-1, 2:]
            - luma[:-2, 1:-1]
            - luma[2:, 1:-1]
        )
        return {
            "image_id": r["image_id"],
            "n_px": int(luma.size),
            "sum_l": int(luma.sum()),
            "sumsq_l": int((luma * luma).sum()),
            "n_lap": int(lap.size),
            "sum_lap": int(lap.sum()),
            "sumsq_lap": int((lap * lap).sum()),
        }

    ints = _map_images(images, QUALITY_INT_SCHEMA, fn)
    d = _quality_double_exprs()
    return ints.select(
        "image_id", "n_px", "sum_l", "sumsq_l", "n_lap", "sum_lap", "sumsq_lap",
        F.expr(d["brightness"]).alias("brightness"),
        F.expr(d["contrast_var"]).alias("contrast_var"),
        F.when(F.col("n_lap") > 0, F.expr(d["sharpness_var"])).alias("sharpness_var"),
    )


ALIGN_INT_SCHEMA = "image_id string, caption string, sum_r long, sum_g long, sum_b long"


def _bucket_case(tok_expr: str, dialect: str) -> str:
    """Hashed token bucket in {0,1,2}: md5 first hexdigit mod 3 — identical
    CASE text in both dialects (no hex-to-int builtin shared by the two)."""
    md5 = f"md5(CAST({tok_expr} AS BINARY))" if dialect == "spark" else f"md5({tok_expr})"
    sub = f"substring({md5}, 1, 1)" if dialect == "spark" else f"substr({md5}, 1, 1)"
    arms = " ".join(f"WHEN '{c}' THEN {i % 3}" for i, c in enumerate("0123456789abcdef"))
    return f"(CASE {sub} {arms} ELSE 0 END)"


def _alignment_expr() -> str:
    """Cosine of the caption vector (c0,c1,c2) and image vector
    (sum_r,sum_g,sum_b) — shared Spark/DuckDB expression text over the
    integer columns (sqrt is IEEE correctly-rounded, so bit-exact)."""
    dot = "CAST(c0 * sum_r + c1 * sum_g + c2 * sum_b AS DOUBLE)"
    nc = "sqrt(CAST(c0 * c0 + c1 * c1 + c2 * c2 AS DOUBLE))"
    ni = "sqrt(CAST(sum_r * sum_r + sum_g * sum_g + sum_b * sum_b AS DOUBLE))"
    return f"(CASE WHEN {nc} * {ni} > 0 THEN {dot} / ({nc} * {ni}) END)"


def caption_alignment(images: DataFrame, threshold: float = 0.0) -> DataFrame:
    """Image-caption alignment scoring — the CLIP-score filtering shape of a
    multimodal curation pipeline.  The MODEL here is a documented
    deterministic stand-in (no ML runtimes in this environment): caption
    embedding = 3-bucket hashed bag of words, image embedding = per-channel
    pixel sums from the REAL distributed decode; score = their cosine.  A
    production deployment swaps the two embedding functions for ONNX/Arrow
    model UDFs — the plumbing (single mapInPandas pass, zero shuffles, the
    codegen caption fold, the threshold filter column) is the real part.

    Output: (image_id, c0..c2, sum_r..sum_b, alignment, keep)."""

    def fn(r, arr):
        s = arr.astype(np.int64).sum(axis=(0, 1))
        return {"image_id": r["image_id"], "caption": r["caption"],
                "sum_r": int(s[0]), "sum_g": int(s[1]), "sum_b": int(s[2])}

    ints = _map_images(images, ALIGN_INT_SCHEMA, fn, cols=("image_id", "caption"))
    c = lambda j: (
        "aggregate(split(caption, ' '), 0L, (acc, t) -> acc + "
        f"CASE WHEN {_bucket_case('t', 'spark')} = {j} THEN 1 ELSE 0 END)"
    )
    vec = ints.select(
        "image_id",
        F.expr(c(0)).alias("c0"),
        F.expr(c(1)).alias("c1"),
        F.expr(c(2)).alias("c2"),
        "sum_r", "sum_g", "sum_b",
    )
    a = _alignment_expr()
    return vec.select(
        "*",
        F.expr(a).alias("alignment"),
        (F.expr(a) >= F.lit(threshold)).alias("keep"),
    )


def block_mean_resize(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic area-average resize (no PIL): pixel (i, j) of the output
    averages its source box [i*h/oh, (i+1)*h/oh) x [...).  Matches the
    integral-image definition exactly for integer ratios."""
    h, w, c = arr.shape
    ys = (np.arange(out_h + 1) * h) // out_h
    xs = (np.arange(out_w + 1) * w) // out_w
    out = np.empty((out_h, out_w, c), dtype=np.float64)
    for i in range(out_h):
        for j in range(out_w):
            out[i, j] = arr[ys[i]:max(ys[i + 1], ys[i] + 1), xs[j]:max(xs[j + 1], xs[j] + 1)].mean(axis=(0, 1))
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def thumbnails(images: DataFrame, size: int = 8, fmt: str = "png") -> DataFrame:
    """Resize every image to (size x size) and re-encode — the bulk
    thumbnail/preprocess shape (decode -> numpy kernel -> encode inside one
    Arrow batch; nothing but bytes crosses the JVM boundary)."""

    def fn(r, arr):
        thumb = block_mean_resize(arr.astype(np.float64), size, size)
        return {"image_id": r["image_id"], "thumb": codec.encode(thumb, fmt),
                "tw": size, "th": size, "tfmt": fmt}

    return _map_images(
        images, "image_id string, thumb binary, tw int, th int, tfmt string",
        fn, rgb=False)


AUG_OPS = ("hflip", "vflip", "rot90", "crop")


def augment_array(arr: np.ndarray, op: str) -> np.ndarray:
    """Deterministic augmentation kernels over an (h, w, c) uint8 array.

    - hflip / vflip: mirror along the x / y axis.
    - rot90: one quarter-turn counter-clockwise (numpy.rot90 k=1 semantics:
      out[i, j] = in[j, w-1-i]; output is (w, h, c)).
    - crop: central half-crop (x0 = w//4, y0 = h//4, size w//2 x h//2).
    """
    if op == "hflip":
        return arr[:, ::-1]
    if op == "vflip":
        return arr[::-1]
    if op == "rot90":
        return np.rot90(arr, k=1)
    if op == "crop":
        h, w = arr.shape[:2]
        return arr[h // 4: h // 4 + h // 2, w // 4: w // 4 + w // 2]
    raise ValueError(f"unknown augmentation op: {op}")


def augment_images(
    images: DataFrame, ops: tuple[str, ...] = AUG_OPS, out_fmt: str | None = None
) -> DataFrame:
    """Dataset augmentation: each input image yields one row per op with the
    transformed payload re-encoded (``out_fmt`` or the input format) — the
    offline-augmentation shape of an image training pipeline (decode ->
    numpy kernel -> encode inside one Arrow batch)."""

    def fn(r, arr):
        outs = [augment_array(arr, op) for op in ops]
        f = out_fmt or r["fmt"]
        return {"image_id": r["image_id"], "op": list(ops),
                "bytes": [codec.encode(o, f) for o in outs],
                "w": [o.shape[1] for o in outs], "h": [o.shape[0] for o in outs],
                "fmt": f}

    return _map_images(
        images, "image_id string, op string, bytes binary, w int, h int, fmt string",
        fn, rgb=False)


CHECKSUM_MOD = 9973  # prime weight cycle; max sum 64*64*3 * 9973 * 255 < 2^63


def pixel_checksum(arr: np.ndarray) -> int:
    """Order-canonical integer digest: sum over flattened (y, x, channel)
    positions p of value * (p % CHECKSUM_MOD + 1).  Integer sums are
    evaluation-order independent (bit-exactness playbook rule 4), and the
    position weighting makes every spatial permutation (flip/rotate/crop)
    produce a distinct, oracle-derivable value — a plain sum would be
    invariant under them."""
    v = arr.reshape(-1).astype(np.int64)
    w = np.arange(v.size, dtype=np.int64) % CHECKSUM_MOD + 1
    return int((v * w).sum())


def augment_checksums(
    images: DataFrame, ops: tuple[str, ...] = AUG_OPS
) -> DataFrame:
    """Fused augment + digest (single decode, no re-encode): one
    (image_id, op, checksum) row per augmentation — the verification path
    for the augmentation kernels (gate `augment`)."""

    return _map_images(
        images, "image_id string, op string, checksum long",
        lambda r, arr: {"image_id": r["image_id"], "op": list(ops), "checksum": [
            pixel_checksum(augment_array(arr, op)) for op in ops]},
        rgb=False)


def patchify_array(arr: np.ndarray, patch: int):
    """(py, px, patch-array) tiles of an image in row-major grid order; edge
    patches are truncated (never padded) — the ViT patch-extraction
    convention for variable-size inputs."""
    h, w = arr.shape[:2]
    for py in range(0, (h + patch - 1) // patch):
        for px in range(0, (w + patch - 1) // patch):
            yield py, px, arr[py * patch: py * patch + patch,
                              px * patch: px * patch + patch]


def patchify_images(images: DataFrame, patch: int = 16,
                    out_fmt: str | None = None) -> DataFrame:
    """ViT-style patch extraction: one row per (image, grid position) with
    the patch payload re-encoded — the patch-sequence shape of an image
    training pipeline (decode -> slice -> encode inside one Arrow batch).
    Output (image_id, py, px, bytes, w, h, fmt); edge patches keep their
    truncated size."""

    def fn(r, arr):
        f = out_fmt or r["fmt"]
        ps = list(patchify_array(arr, patch))
        return {"image_id": r["image_id"], "py": [p[0] for p in ps],
                "px": [p[1] for p in ps],
                "bytes": [codec.encode(np.ascontiguousarray(t), f) for *_, t in ps],
                "w": [t.shape[1] for *_, t in ps],
                "h": [t.shape[0] for *_, t in ps], "fmt": f}

    return _map_images(
        images, "image_id string, py int, px int, bytes binary, "
                "w int, h int, fmt string", fn, rgb=False)


def patchify_checksums(images: DataFrame, patch: int = 16) -> DataFrame:
    """Fused patchify + digest (single decode, no re-encode): one
    (image_id, py, px, checksum) row per patch, checksum over the patch's
    OWN flattened positions — the verification path for the slicing
    arithmetic (gate `patchify`)."""

    def fn(r, arr):
        ps = list(patchify_array(arr, patch))
        return {"image_id": r["image_id"], "py": [p[0] for p in ps],
                "px": [p[1] for p in ps], "checksum": [
                    pixel_checksum(np.ascontiguousarray(t)) for *_, t in ps]}

    return _map_images(
        images, "image_id string, py int, px int, checksum long", fn, rgb=False)


def phash_near_dups(images: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Perceptual near-duplicate pairs by 64-bit phash Hamming distance.

    Banded exact search (the SimHash banding trick, operators/dedup.py): the
    64-bit hash splits into (max_hamming + 1) bands — two hashes within
    ``max_hamming`` bits must agree exactly on >= 1 band (pigeonhole), so
    candidates come from an equi-join on (band_idx, band_bits) and only
    candidates pay the exact popcount check.  No crossJoin at any scale."""
    n_bands = max_hamming + 1
    width = 64 // n_bands  # last band takes the remainder

    img = images.select("image_id", "phash")
    bands = []
    for b in range(n_bands):
        lo = b * width
        hi = 64 if b == n_bands - 1 else lo + width
        if hi - lo >= 64:  # max_hamming=0: the single band IS the hash
            bits = F.col("phash")  # (1<<64)-1 would overflow LongType
        else:
            mask = (1 << (hi - lo)) - 1
            bits = F.shiftright(F.col("phash"), lo).bitwiseAND(F.lit(mask))
        bands.append(
            img.select(
                "image_id", "phash",
                F.lit(b).alias("band"),
                bits.alias("bits"),
            )
        )
    banded = bands[0]
    for b in bands[1:]:
        banded = banded.unionByName(b)
    left = banded
    right = banded.select(
        F.col("image_id").alias("image_id_2"), F.col("phash").alias("phash_2"),
        "band", "bits",
    )
    cand = (
        left.join(right, ["band", "bits"])
        .filter(F.col("image_id") < F.col("image_id_2"))
        .select("image_id", "image_id_2", "phash", "phash_2")
        .distinct()
    )
    ham = F.bit_count(F.col("phash").bitwiseXOR(F.col("phash_2")))
    return cand.withColumn("hamming", ham).filter(F.col("hamming") <= max_hamming).drop(
        "phash", "phash_2"
    )


# ---------------------------------------------------------------- aspect-ratio bucketing
# Batch assembly for variable-shape image training: images group into a
# fixed set of aspect buckets and get deterministic batch/slot indexes, so
# every batch holds same-bucket images (resize-compatible) and the
# assignment is reproducible run over run.

ASPECT_BUCKETS = ((1, 1), (4, 3), (3, 4), (16, 9), (9, 16))
# lcm of the bucket heights: scaling |w*bh - h*bw| by _ASPECT_LCM/bh makes the
# distances comparable across buckets (it equals |w/h - bw/bh| * lcm * h) while
# staying integer — no FP ratios, bit-exact in any engine.
_ASPECT_LCM = 144


def aspect_bucket_expr(w_col: str = "w", h_col: str = "h"):
    """Index of the aspect bucket nearest to w/h — argmin over the scaled
    integer cross products above; ties take the lower bucket index."""
    w, h = F.col(w_col).cast("long"), F.col(h_col).cast("long")

    def dist(bw, bh):
        return F.abs(w * bh - h * bw) * F.lit(_ASPECT_LCM // bh)

    best_i = F.lit(0)
    best_d = dist(*ASPECT_BUCKETS[0])
    for i, (bw, bh) in enumerate(ASPECT_BUCKETS[1:], start=1):
        d = dist(bw, bh)
        best_i = F.when(d < best_d, F.lit(i)).otherwise(best_i)
        best_d = F.when(d < best_d, d).otherwise(best_d)
    return best_i


def aspect_batches(images: DataFrame, batch_size: int,
                   id_col: str = "image_id") -> DataFrame:
    """(image_id, w, h, bucket, batch, slot): images ranked by id within
    their aspect bucket; batch = rank div batch_size, slot = rank mod
    batch_size.  One window per bucket — the partition count equals the
    bucket count, so at scale rank within bucket should be composed with a
    shard key exactly like pack_stream (documented trade-off: global
    determinism costs a per-bucket sort)."""
    from pyspark.sql import Window

    d = images.select(id_col, "w", "h").withColumn(
        "bucket", aspect_bucket_expr()
    )
    w = Window.partitionBy("bucket").orderBy(id_col)
    d = d.withColumn("rk", F.row_number().over(w) - F.lit(1))
    return d.select(
        id_col, "w", "h", "bucket",
        F.expr(f"rk DIV {batch_size}").alias("batch"),
        (F.col("rk") % batch_size).alias("slot"),
    )


BUCKET_TARGETS = ((32, 32), (32, 24), (24, 32), (32, 18), (18, 32))
# canonical (w, h) per ASPECT_BUCKETS entry at the test scale; a production
# deployment swaps in its training resolutions (e.g. 1024x1024, 1152x896, ...)


def resize_to_bucket(images: DataFrame, targets=BUCKET_TARGETS,
                     out_fmt: str | None = None) -> DataFrame:
    """Batch-assembly resize: every image is area-average-resized
    (block_mean_resize) to its aspect bucket's canonical resolution, so all
    members of a batch share a shape.  Output: aspect_batches columns +
    re-encoded payload at the target size.  One decode+resize+encode per
    image inside the Arrow batch; the bucket/batch/slot assignment is the
    codegen plan of aspect_batches (its window runs before the Python
    stage, so the Arrow stage is map-only)."""
    assign = aspect_batches(
        images.select("image_id", "w", "h"),
        batch_size=1 << 30,  # bucket only; caller re-batches as needed
    ).select("image_id", "bucket")
    src = images.select("image_id", "bytes", "fmt").join(assign, "image_id")

    def fn(r, arr):
        tw, th = targets[r["bucket"]]
        f = out_fmt or r["fmt"]
        out = block_mean_resize(arr.astype(np.float64), th, tw)
        return {"image_id": r["image_id"], "bucket": r["bucket"],
                "bytes": codec.encode(out, f), "w": tw, "h": th, "fmt": f}

    return _map_images(
        src, "image_id string, bucket int, bytes binary, w int, h int, fmt string",
        fn, cols=("image_id", "bucket"), rgb=False)


def aspect_batches_sql(batch_size: int, rel: str, id_col: str = "image_id") -> str:
    """DuckDB replica of aspect_batches over a (id, w, h) relation."""
    ds = [
        f"(abs(w * {bh} - h * {bw}) * {_ASPECT_LCM // bh})"
        for bw, bh in ASPECT_BUCKETS
    ]
    terms = [f"WHEN {d} = m THEN {i}" for i, d in enumerate(ds)]
    mins = ", ".join(ds)
    return f"""
WITH b AS (
  SELECT {id_col}, w, h, LEAST({mins}) AS m FROM {rel}),
bk AS (
  SELECT {id_col}, w, h, CASE {' '.join(terms)} END AS bucket FROM b),
r AS (
  SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY {id_col}) - 1 AS rk
  FROM bk)
SELECT {id_col}, w, h, bucket, rk // {batch_size} AS batch,
       rk % {batch_size} AS slot
FROM r"""


# ---------------------------------------------------------------- dHash (difference hash)
# The second perceptual-hash family next to phash: luma block-mean grid,
# one bit per horizontally adjacent block comparison.  Grid 7 rows x 10
# cols -> 7 * 9 = 63 bits, MSB-first, so the hash stays a non-negative
# int64 in both engines (the repo-wide 63-bit hash convention).  Block
# boundaries are the integer map bx = x*10 // w (NOT the resize kernel) so
# the SQL oracle can replicate them with integer division alone.

DHASH_ROWS, DHASH_COLS = 7, 10
DHASH_SCHEMA = "image_id string, dhash long"


def dhash(images: DataFrame) -> DataFrame:
    """(image_id, dhash) — 63-bit difference hash over summed-luma blocks.

    Decode + block sums + comparisons are one Arrow batch pass per image
    (no shuffle); block sums of r+g+b stay exact int64."""
    R, C = DHASH_ROWS, DHASH_COLS

    def fn(r, arr):
        luma = arr.astype(np.int64).sum(axis=2)
        h, w = luma.shape
        by = (np.arange(h) * R) // h
        bx = (np.arange(w) * C) // w
        idx = by[:, None] * C + bx[None, :]
        s = np.bincount(
            idx.ravel(), weights=luma.ravel().astype(np.float64),
            minlength=R * C,
        ).astype(np.int64).reshape(R, C)
        bits = s[:, 1:] > s[:, :-1]          # (R, C-1)
        weights = 1 << (62 - np.arange(R * (C - 1), dtype=np.int64))
        return {"image_id": r["image_id"],
                "dhash": int((bits.ravel() * weights).sum())}

    return _map_images(images, DHASH_SCHEMA, fn)


# ---------------------------------------------------------------- color histogram
HIST_BINS = 8
HIST_SCHEMA = "image_id string, channel int, bin int, n long"


def color_histogram(images: DataFrame, bins: int = HIST_BINS) -> DataFrame:
    """Per-channel color histogram (``bins`` buckets of 0..255, value v in
    bin v * bins // 256 — equal width when ``bins`` divides 256):
    (image_id, channel, bin, n) with zero bins emitted, so every image
    yields exactly 3*bins rows — the stable shape a downstream histogram
    join or chi-square near-dup distance needs.  One Arrow pass, no shuffle."""

    def fn(r, arr):
        n = [np.bincount((arr[:, :, k].astype(np.int64) * bins // 256).ravel(),
                         minlength=bins) for k in range(3)]
        return {"image_id": r["image_id"], "channel": np.repeat(np.arange(3), bins),
                "bin": np.tile(np.arange(bins), 3), "n": np.concatenate(n)}

    return _map_images(images, HIST_SCHEMA, fn)


def seam_cost(images: DataFrame) -> DataFrame:
    """Minimal vertical-seam cost per image (the seam-carving DP of
    Avidan & Shamir 2007, public literature): energy = integer luma
    (r+g+b), M(y, x) = E(y, x) + min of the three upper neighbors,
    answer = min over the bottom row (ties -> smallest x).  The
    content-aware-resize primitive; everything exact int64.

    Decode + DP run Arrow-batched per image (embarrassingly parallel,
    no shuffle); rows vectorize, only the h-step recurrence is
    sequential — the same per-group-recurrence shape as stay_points."""

    def fn(r, arr):
        e = arr.astype(np.int64).sum(axis=2)
        m = e[0].copy()
        big = np.int64(2**62)
        for y in range(1, e.shape[0]):
            left = np.concatenate(([big], m[:-1]))
            right = np.concatenate((m[1:], [big]))
            m = e[y] + np.minimum(np.minimum(left, m), right)
        return {"image_id": r["image_id"], "cost": int(m.min()),
                "x_end": int(np.argmin(m))}  # first minimum = smallest x

    return _map_images(images, "image_id string, cost long, x_end long", fn)


# fixed 8-color palette for palette_map (RGB, public web-safe-ish picks)
PALETTE8 = [
    (0, 0, 0), (255, 255, 255), (255, 0, 0), (0, 255, 0),
    (0, 0, 255), (255, 255, 0), (0, 255, 255), (255, 0, 255),
]


def palette_map(images: DataFrame, palette=None) -> DataFrame:
    """Nearest-palette-color quantization histogram per image: each pixel
    maps to the palette entry with the smallest EXACT squared RGB
    distance (ties -> smallest palette index) -> (image_id, p, cnt).
    The posterize/color-quantization stage of an image pipeline, and a
    compact color signature for near-dup blocking; all integer, decode +
    argmin Arrow-batched per image, no shuffle."""
    pal = np.asarray(palette if palette is not None else PALETTE8,
                     dtype=np.int64)  # (P, 3)

    def fn(r, arr):
        d = ((arr.astype(np.int64)[:, :, None, :] - pal[None, None, :, :]) ** 2
             ).sum(axis=3)  # (h, w, P)
        p = np.argmin(d, axis=2)  # first min = smallest index
        return _nonzero_counts(r, "p", np.bincount(p.ravel(), minlength=len(pal)))

    return _map_images(images, "image_id string, p long, cnt long", fn)


def _nonzero_counts(r, key: str, cnt: np.ndarray) -> dict:
    """The image's (image_id, key, cnt) rows of the nonzero bins of ``cnt``."""
    nz = np.nonzero(cnt)[0]
    return {"image_id": r["image_id"], key: nz, "cnt": cnt[nz]}


def mse_pairs(images: DataFrame, stride: int = 9) -> DataFrame:
    """Exact MSE partials between same-dimension image pairs (id, id +
    stride): n pixels and the int64 sum of squared channel differences —
    the PSNR building block (psnr = 10*log10(255^2 * 3n / sse) derivable
    downstream).  One equi-join on the numeric id + one Arrow-batched
    dual decode; pairs whose dimensions differ are skipped."""
    num = F.regexp_extract("image_id", r"(\d+)$", 1).cast("long")
    a = images.select(
        num.alias("n_a"), F.col("image_id").alias("image_id_a"),
        F.col("bytes").alias("bytes_a"), F.col("fmt").alias("fmt_a"),
    )
    b = images.select(
        (num - stride).alias("n_a"), F.col("image_id").alias("image_id_b"),
        F.col("bytes").alias("bytes_b"), F.col("fmt").alias("fmt_b"),
    )
    j = a.join(b, "n_a")

    def fn(r, xa, xb):
        if xa.shape != xb.shape:
            return None
        return {"image_id_a": r["image_id_a"], "image_id_b": r["image_id_b"],
                "n_px": int(xa.shape[0] * xa.shape[1]),
                "sse": int(((xa.astype(np.int64) - xb) ** 2).sum())}

    return _map_images(
        j, "image_id_a string, image_id_b string, n_px long, sse long", fn,
        cols=("image_id_a", "image_id_b"),
        fmts={"bytes_a": "fmt_a", "bytes_b": "fmt_b"})


def gray_hist(images: DataFrame, bucket: int = 16) -> DataFrame:
    """Integer ITU-R BT.601 luma histogram per image: luma = (299*r +
    587*g + 114*b) // 1000 (exact rational weights, floor), bucketed by
    ``bucket`` -> (image_id, b, cnt).  The tonal signature used for
    exposure filtering and cheap near-dup blocking; decode + bincount
    Arrow-batched, no shuffle."""

    def fn(r, arr):
        bb = _bt601_luma(arr) // bucket
        return _nonzero_counts(r, "b", np.bincount(bb.ravel(), minlength=256 // bucket))

    return _map_images(images, "image_id string, b long, cnt long", fn)


def _bt601_luma(arr: np.ndarray) -> np.ndarray:
    """Integer BT.601 luma (299 r + 587 g + 114 b) // 1000, int64."""
    a = arr.astype(np.int64)
    return (299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]) // 1000


_PATCH_P = (1 << 31) - 1  # Mersenne prime modulus for the patch hash
_PATCH_B = 131            # polynomial base


def patch_pow_lut(n: int) -> list:
    """B^k mod P for k < n, computed once and shared verbatim by both
    engines (literal list — no runtime pow)."""
    out, cur = [], 1
    for _ in range(n):
        out.append(cur)
        cur = (cur * _PATCH_B) % _PATCH_P
    return out


def patch_dedup(images: DataFrame, patch: int = 8,
                min_count: int = 2) -> DataFrame:
    """Cross-image patch-level dedup candidates: every aligned
    ``patch`` x ``patch`` luma-less (channel-0) patch is fingerprinted
    with a polynomial rolling hash mod 2^31-1 (exact integer, identical
    formula in SQL), then hashes occurring >= ``min_count`` times
    corpus-wide are reported -> (h, cnt).  The patch-granular twin of
    phash dedup (watermarks/logos/borders repeat at patch level long
    before whole images do).

    Shape: decode + hash Arrow-batched per image, then ONE map-side
    combined count — the dedup_exact plan at patch granularity."""
    lut = np.asarray(patch_pow_lut(patch * patch), dtype=np.int64)

    def fn(r, arr):
        a = arr[:, :, 0].astype(np.int64)
        h, w = a.shape
        return {"h": [int((a[py0:py0 + patch, px0:px0 + patch].ravel() * lut).sum()
                          % _PATCH_P)
                      for py0 in range(0, h - patch + 1, patch)
                      for px0 in range(0, w - patch + 1, patch)]}

    hashes = _map_images(images, "h long", fn, cols=())
    return (
        hashes.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


def channel_corr(images: DataFrame) -> DataFrame:
    """Exact R/G/B channel second-moment partials per image -> n plus
    per-pair integer sums (sr, sg, sb, srr, sgg, sbb, srg, srb, sgb):
    channel Pearson correlations are derivable rationals — grayscale
    detection (corr ~ 1 everywhere) and color-cast auditing for image
    corpora.  Decode + integer sums Arrow-batched, no shuffle."""

    def fn(row, arr):
        arr = arr.astype(np.int64)
        r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
        return {
            "image_id": row["image_id"], "n": int(r.size),
            "sr": int(r.sum()), "sg": int(g.sum()),
            "sb": int(b.sum()),
            "srr": int((r * r).sum()), "sgg": int((g * g).sum()),
            "sbb": int((b * b).sum()),
            "srg": int((r * g).sum()), "srb": int((r * b).sum()),
            "sgb": int((g * b).sum()),
        }

    return _map_images(
        images, "image_id string, n long, sr long, sg long, sb long, "
                "srr long, sgg long, sbb long, srg long, srb long, sgb long", fn)


def dominant_color(images: DataFrame, bits: int = 2) -> DataFrame:
    """Dominant quantized color per image: RGB cut to ``bits`` bits per
    channel (code = r'<<2b | g'<<b | b'), most frequent code wins, ties
    -> smallest code -> (image_id, code, cnt, n_px).  The palette
    signature used for color-facet search and cheap near-dup blocking."""
    shift = 8 - bits

    def fn(r, arr):
        arr = arr.astype(np.int64)
        code = (
            (arr[:, :, 0] >> shift) << (2 * bits)
        ) | ((arr[:, :, 1] >> shift) << bits) | (arr[:, :, 2] >> shift)
        cnt = np.bincount(code.ravel(), minlength=1 << (3 * bits))
        best = int(cnt.argmax())  # first max = smallest code
        return {"image_id": r["image_id"], "code": best,
                "cnt": int(cnt[best]), "n_px": int(code.size)}

    return _map_images(images, "image_id string, code long, cnt long, n_px long", fn)


def border_stats(images: DataFrame, margin: int = 2) -> DataFrame:
    """Letterbox/border detector moments: integer luma (r+g+b) sums and
    squared sums over the ``margin``-pixel frame vs the interior ->
    (image_id, n_border, s_border, ss_border, n_inner, s_inner,
    ss_inner).  A near-constant border with a busy interior (low border
    variance, high contrast to inner mean) is the classic crop/letterbox
    cue; all exact int64, no shuffle."""

    def fn(r, arr):
        luma = arr.astype(np.int64).sum(axis=2)
        h, w = luma.shape
        m = min(margin, h // 2, w // 2)
        mask = np.zeros((h, w), bool)
        mask[:m, :] = True
        mask[h - m:, :] = True
        mask[:, :m] = True
        mask[:, w - m:] = True
        bvals = luma[mask]
        ivals = luma[~mask]
        return {
            "image_id": r["image_id"],
            "n_border": int(bvals.size),
            "s_border": int(bvals.sum()),
            "ss_border": int((bvals * bvals).sum()),
            "n_inner": int(ivals.size),
            "s_inner": int(ivals.sum()),
            "ss_inner": int((ivals * ivals).sum()),
        }

    return _map_images(
        images, "image_id string, n_border long, s_border long, "
                "ss_border long, n_inner long, s_inner long, ss_inner long", fn)


# index as _BAYER4[y % 4][x % 4] — the standard 4x4 ordered-dither matrix
_BAYER4 = ((0, 8, 2, 10), (12, 4, 14, 6), (3, 11, 1, 9), (15, 7, 13, 5))


def bayer_dither_stats(images: DataFrame) -> DataFrame:
    """Ordered (Bayer 4x4) dithering audit per image -> (image_id, phase,
    n, ones): pixel (x, y) dithers to 1 iff luma > B[y%4][x%4]*16 + 7
    (exact integer thresholds 7, 23, ..., 247), phase = (y%4)*4 + x%4.
    The per-phase on-counts fingerprint the halftone a 1-bit re-encode
    would produce — integer end-to-end through the REAL decode path.

    Shape: decode + phase-binned popcounts Arrow-batched, no shuffle."""

    def fn(r, arr):
        h, w = arr.shape[:2]
        yy, xx = np.mgrid[0:h, 0:w]
        thr = np.asarray(_BAYER4, dtype=np.int64)[yy % 4, xx % 4]
        bit = _bt601_luma(arr) > thr * 16 + 7
        phase = (yy % 4) * 4 + xx % 4
        return {"image_id": r["image_id"], "phase": np.arange(16),
                "n": np.bincount(phase.ravel(), minlength=16),
                "ones": np.bincount(phase[bit], minlength=16)}

    return _map_images(images, "image_id string, phase long, n long, ones long", fn)


def median_cut_boxes(pixels: DataFrame, rounds: int = 3) -> DataFrame:
    """Distributed median-cut color quantization (Heckbert 1982,
    breadth-first variant: every round splits EVERY box on its longest
    axis at the weighted median) over a weighted pixel/color table
    (r, g, b, w) -> 2^rounds boxes as (box, n, wsum, r_mean, g_mean,
    b_mean), means = floordiv(sum(channel*w), sum(w)) exact integers.

    Determinism: axis ties break r > g > b; the weighted median is the
    smallest value v with 2*cumweight(<= v) >= total (ties share their
    cumulative weight via a RANGE window frame), and <= v goes to the
    left child — every rule a pure integer comparison.

    Scale shape: each round is one tiny per-box aggregate (2^round rows,
    broadcast back) + two window passes over the pixel table — rounds
    are O(log k), everything codegen, no Python, no driver state."""
    from pyspark.sql import Window

    d = pixels.select(
        F.col("r").cast("long"), F.col("g").cast("long"),
        F.col("b").cast("long"), F.col("w").cast("long"),
        F.lit(0).cast("long").alias("box"),
    )
    for _ in range(int(rounds)):
        wall = Window.partitionBy("box")
        # widest axis via window aggregates over the box partition — the
        # per-box agg + broadcast join constant-folds its box=0 first-round
        # keys away and degenerates to a BroadcastNestedLoopJoin
        rr = F.max("r").over(wall) - F.min("r").over(wall)
        rg = F.max("g").over(wall) - F.min("g").over(wall)
        rb = F.max("b").over(wall) - F.min("b").over(wall)
        ax = (
            F.when((rr >= rg) & (rr >= rb), 0)
            .when(rg >= rb, 1)
            .otherwise(2)
        )
        d = d.withColumn("ax", ax)
        val = (
            F.when(F.col("ax") == 0, F.col("r"))
            .when(F.col("ax") == 1, F.col("g"))
            .otherwise(F.col("b"))
        )
        d = d.withColumn("val", val)
        wcum = Window.partitionBy("box").orderBy("val").rangeBetween(
            Window.unboundedPreceding, 0
        )
        wall = Window.partitionBy("box")
        d = d.withColumn("cum", F.sum("w").over(wcum)).withColumn(
            "tot", F.sum("w").over(wall)
        )
        med = F.min(
            F.when(F.col("cum") * 2 >= F.col("tot"), F.col("val"))
        ).over(wall)
        d = d.withColumn(
            "box", F.col("box") * 2 + (F.col("val") > med).cast("long")
        ).drop("ax", "val", "cum", "tot")
    return d.groupBy("box").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("w").alias("wsum"),
        F.expr("sum(r * w) DIV sum(w)").alias("r_mean"),
        F.expr("sum(g * w) DIV sum(w)").alias("g_mean"),
        F.expr("sum(b * w) DIV sum(w)").alias("b_mean"),
    )


def median_cut_sql(base_select: str, rounds: int = 3) -> str:
    """DuckDB replay of ``median_cut_boxes``; ``base_select`` -> (r, g,
    b, w).  One CTE pair per round (per-box axis pick, then the windowed
    weighted-median split)."""
    ctes = [f"d0 AS (SELECT CAST(r AS BIGINT) AS r, CAST(g AS BIGINT) AS g, "
            f"CAST(b AS BIGINT) AS b, CAST(w AS BIGINT) AS w, "
            f"CAST(0 AS BIGINT) AS box FROM ({base_select}) s)"]
    for i in range(int(rounds)):
        ctes.append(f"""a{i} AS (
  SELECT box,
         CASE WHEN max(r) - min(r) >= max(g) - min(g)
               AND max(r) - min(r) >= max(b) - min(b) THEN 0
              WHEN max(g) - min(g) >= max(b) - min(b) THEN 1
              ELSE 2 END AS ax
  FROM d{i} GROUP BY 1)""")
        ctes.append(f"""v{i} AS (
  SELECT d.*, CASE a.ax WHEN 0 THEN d.r WHEN 1 THEN d.g ELSE d.b END AS val
  FROM d{i} d JOIN a{i} a USING (box))""")
        ctes.append(f"""m{i} AS (
  SELECT *,
         sum(w) OVER (PARTITION BY box ORDER BY val
                      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(w) OVER (PARTITION BY box) AS tot
  FROM v{i})""")
        ctes.append(f"""d{i + 1} AS (
  SELECT r, g, b, w,
         box * 2 + CASE WHEN val > min(CASE WHEN cum * 2 >= tot THEN val END)
                              OVER (PARTITION BY box)
                        THEN 1 ELSE 0 END AS box
  FROM m{i})""")
    return f"""
WITH {", ".join(ctes)}
SELECT box, CAST(count(*) AS BIGINT) AS n, CAST(sum(w) AS BIGINT) AS wsum,
       CAST(CAST(sum(r * w) AS BIGINT) // CAST(sum(w) AS BIGINT) AS BIGINT) AS r_mean,
       CAST(CAST(sum(g * w) AS BIGINT) // CAST(sum(w) AS BIGINT) AS BIGINT) AS g_mean,
       CAST(CAST(sum(b * w) AS BIGINT) // CAST(sum(w) AS BIGINT) AS BIGINT) AS b_mean
FROM d{int(rounds)} GROUP BY 1"""


def slic_superpixels(
    pixels: DataFrame,
    w: int,
    h: int,
    step: int,
    m: int = 10,
    iters: int = 2,
) -> DataFrame:
    """Integer SLIC superpixels (Achanta et al. 2012, public literature;
    grayscale, fixed iteration count): centroids start at grid-step
    centers with the image value there; each round assigns every pixel
    to the argmin-cost centroid among the 3x3 ring of HOME cells (the
    deterministic variant of SLIC's 2S-window search) with
    cost = m^2 * ((x-cx)^2 + (y-cy)^2) + step^2 * (v-cv)^2 (all int64,
    ties by centroid id), then recomputes centroids as exact floordiv
    means.  Returns the final centroid table (k, n, cx, cy, cv).

    Scale shape: ONE 9-way pixel explode (the shared
    ``density._ring_cells``, home cell floor(x / step)), per round
    equi-joined to the (tiny, broadcast) centroid table + one window
    argmin + one aggregation — pixels never pair with more than 9
    centroids, rounds are a fixed constant; localCheckpoint truncates
    the lineage."""
    from pyspark.sql import Window

    from .density import _ring_cells

    S = int(step)
    gw = w // S
    px = pixels.select(
        F.col("x").cast("long"), F.col("y").cast("long"),
        F.col("v").cast("long"),
    )
    pe = _ring_cells(px, "x", "y", S).select(
        "x", "y", "v", F.col("cx").alias("hx"), F.col("cy").alias("hy"),
    ).persist()

    cent = pixels.sparkSession.range(gw * (h // S)).selectExpr(
        "id AS k",
        f"id % {gw} AS hx",
        f"id DIV {gw} AS hy",
        f"(id % {gw}) * {S} + {S // 2} AS cx",
        f"(id DIV {gw}) * {S} + {S // 2} AS cy",
    )
    # centroid color init = image value at the centroid pixel
    cent = cent.join(
        px.selectExpr("x AS cx", "y AS cy", "v AS cv"), ["cx", "cy"]
    ).select("k", "hx", "hy", "cx", "cy", "cv").localCheckpoint()

    wmin = Window.partitionBy("x", "y").orderBy("cost", "k")
    for _ in range(int(iters)):
        dx = F.col("x") - F.col("cx")
        dy = F.col("y") - F.col("cy")
        dv = F.col("v") - F.col("cv")
        cost = (
            F.lit(int(m) * int(m)) * (dx * dx + dy * dy)
            + F.lit(S * S) * (dv * dv)
        )
        assign = (
            pe.join(F.broadcast(cent), ["hx", "hy"])
            .withColumn("cost", cost)
            .withColumn("rn", F.row_number().over(wmin))
            .filter(F.col("rn") == 1)
            .select("x", "y", "v", "k", F.col("hx").alias("ahx"),
                    F.col("hy").alias("ahy"))
        )
        cent = assign.groupBy("k").agg(
            F.min("ahx").alias("hx"), F.min("ahy").alias("hy"),
            F.expr("sum(x) DIV count(*)").alias("cx"),
            F.expr("sum(y) DIV count(*)").alias("cy"),
            F.expr("sum(v) DIV count(*)").alias("cv"),
            F.count(F.lit(1)).alias("n"),
        ).localCheckpoint()
    pe.unpersist()
    return cent.select("k", "n", "cx", "cy", "cv")


def slic_sql(
    w: int, h: int, step: int, v_expr: str, m: int = 10, iters: int = 2
) -> str:
    """DuckDB replay of ``slic_superpixels`` over the formula image
    ``v_expr`` (a SQL expression in x, y).  The oracle may use the plain
    |home - cell| <= 1 join (same candidate set as the ring explode)."""
    S, M2 = int(step), int(m) * int(m)
    gw = w // S
    ctes = [f"""px AS (
  SELECT g.g % {w} AS x, g.g // {w} AS y,
         CAST({v_expr.format(x=f"(g.g % {w})", y=f"(g.g // {w})")} AS BIGINT) AS v,
         (g.g % {w}) // {S} AS cellx, (g.g // {w}) // {S} AS celly
  FROM generate_series(0, {w * h - 1}) g(g))""",
            f"""c0 AS (
  SELECT c.c AS k, c.c % {gw} AS hx, c.c // {gw} AS hy,
         (c.c % {gw}) * {S} + {S // 2} AS cx,
         (c.c // {gw}) * {S} + {S // 2} AS cy,
         (SELECT v FROM px WHERE px.x = (c.c % {gw}) * {S} + {S // 2}
            AND px.y = (c.c // {gw}) * {S} + {S // 2}) AS cv
  FROM generate_series(0, {gw * (h // S) - 1}) c(c))"""]
    prev = "c0"
    for i in range(int(iters)):
        ctes.append(f"""a{i} AS (
  SELECT x, y, v, k, hx, hy FROM (
    SELECT p.x, p.y, p.v, c.k, c.hx, c.hy,
           row_number() OVER (
             PARTITION BY p.x, p.y
             ORDER BY {M2} * ((p.x - c.cx) * (p.x - c.cx)
                              + (p.y - c.cy) * (p.y - c.cy))
                      + {S * S} * ((p.v - c.cv) * (p.v - c.cv)), c.k) AS rn
    FROM px p JOIN {prev} c
      ON abs(c.hx - p.cellx) <= 1 AND abs(c.hy - p.celly) <= 1) t
  WHERE rn = 1)""")
        ctes.append(f"""c{i + 1} AS (
  SELECT k, min(hx) AS hx, min(hy) AS hy,
         CAST(sum(x) // count(*) AS BIGINT) AS cx,
         CAST(sum(y) // count(*) AS BIGINT) AS cy,
         CAST(sum(v) // count(*) AS BIGINT) AS cv,
         CAST(count(*) AS BIGINT) AS n
  FROM a{i} GROUP BY 1)""")
        prev = f"c{i + 1}"
    return f"""
WITH {", ".join(ctes)}
SELECT k, n, cx, cy, cv FROM {prev}"""


def gray_world(images: DataFrame) -> DataFrame:
    """Gray-world white balance (Buchsbaum 1980, public literature) in
    exact integer arithmetic: per image, channel sums s_ch and
    stot = s0+s1+s2; every pixel rescales as
    v' = min(255, floordiv(v * stot, 3 * s_ch)) — the channel means
    equalize toward the gray mean.  Returns one row per image:
    (image_id, s0, s1, s2, cs) with cs the position-weighted int64
    checksum of the balanced image (wt = ((y*w + x)*3 + ch) % 9973 + 1).

    Shape: one Arrow-batched decode pass per image, no shuffle."""

    def fn(r, arr):
        arr = arr.astype(np.int64)
        h, w = arr.shape[:2]
        s = arr.reshape(-1, 3).sum(axis=0)  # (3,)
        stot = int(s.sum())
        bal = np.minimum(
            255, (arr * stot) // (3 * s[None, None, :])
        )
        x = np.arange(w)[None, :, None]
        y = np.arange(h)[:, None, None]
        ch = np.arange(3)[None, None, :]
        wt = ((y * w + x) * 3 + ch) % 9973 + 1
        return {"image_id": r["image_id"], "s0": int(s[0]), "s1": int(s[1]),
                "s2": int(s[2]), "cs": int((bal * wt).sum())}

    return _map_images(images, "image_id string, s0 long, s1 long, s2 long, cs long", fn)


def hamming_join_bands(
    a: DataFrame,
    b: DataFrame,
    code_col: str = "desc",
    bits: int = 48,
    band_bits: int = 8,
    max_d: int = 5,
) -> DataFrame:
    """Hamming-radius join of two binary-descriptor sets -> rows
    (a.*, b.* prefixed, d): candidates come from the pigeonhole band
    trick (bits/band_bits exact-match bands; any pair with hamming
    distance < #bands shares at least one identical band, so
    max_d <= #bands - 1 guarantees NO false negatives), verified with
    an exact bit_count popcount.  One explode + one equi-join on
    (band index, band value) + distinct — never |A| x |B|; the
    descriptor-matching stage of image registration and near-dup
    mining."""
    nb = bits // band_bits
    if max_d > nb - 1:
        raise ValueError("max_d must be <= bands - 1 for the pigeonhole"
                         " guarantee")
    mask = (1 << band_bits) - 1

    def banded(df, prefix):
        cols = [F.col(c).alias(f"{prefix}{c}") for c in df.columns]
        return df.select(
            *cols,
            F.explode(F.array(*[
                F.struct(
                    F.lit(i).alias("bi"),
                    F.expr(
                        f"shiftright({code_col}, {i * band_bits}) & {mask}"
                    ).alias("bv"),
                )
                for i in range(nb)
            ])).alias("band"),
        ).select(*[f"{prefix}{c}" for c in df.columns],
                 "band.bi", "band.bv")

    ab = banded(a, "a_")
    bb = banded(b, "b_")
    cand = (
        ab.join(bb, ["bi", "bv"])
        .drop("bi", "bv")
        .distinct()
    )
    d = F.bit_count(
        F.expr(f"a_{code_col} ^ b_{code_col}").cast("long")
    ).cast("long")
    return cand.withColumn("d", d).filter(F.col("d") <= max_d)


def rgb_hsv_exprs(r: str, g: str, b: str) -> dict:
    """Exact-rational RGB -> HSV as shared SQL text (identical in Spark
    SQL and DuckDB — pure integer CASE arithmetic, no division): value
    V = max, chroma C = V - min, saturation = C/V (emitted as the integer
    pair), hue in sixths = h_num / C with h_num normalized to [0, 6C)
    (sector precedence R, G, B on channel ties — documented).  The color
    conversion primitive of the augmentation/palette suite kept exact
    instead of FP."""
    V = f"greatest({r}, {g}, {b})"
    m = f"least({r}, {g}, {b})"
    C = f"({V} - {m})"
    hn = (f"(CASE WHEN {C} = 0 THEN 0 "
          f"WHEN {V} = {r} THEN ((({g}) - ({b})) % (6 * {C}) + 6 * {C}) % (6 * {C}) "
          f"WHEN {V} = {g} THEN (({b}) - ({r})) + 2 * {C} "
          f"ELSE (({r}) - ({g})) + 4 * {C} END)")
    return {
        "v": V,
        "chroma": C,
        "s_num": C,
        "s_den": V,
        "h_num": hn,
        "h_den": C,
    }


def wu_lines(
    lines: "DataFrame",
    dx: int = 64,
    line_col: str = "line_id",
) -> "DataFrame":
    """Wu anti-aliased line rasterization (Wu 1991, public literature),
    EXACT: for x-major lines whose run length is the power of two ``dx``,
    the gradient dy/dx is an exact dyadic, so at step i the sub-pixel
    offset is (i*dy mod dx) and the two coverage weights are
    (dx - off, off) in 1/dx units — pure integers, no FP accumulator.
    Emits both pixels per step: (line_id, x, y, cov).

    Input: (line_id, x0, y0, dy) with |dy| <= dx (x-major contract).
    Scale shape: one bounded explode (dx steps x 2 pixels) — the
    vector-overlay rasterizer's line sibling (rasterize_aa covers
    polygons)."""
    from pyspark.sql import functions as F

    D = int(dx)
    ex = lines.select(
        line_col, "x0", "y0", "dy",
        F.explode(F.sequence(F.lit(0), F.lit(D - 1))).alias("i"),
    ).select(
        line_col,
        (F.col("x0") + F.col("i")).alias("x"),
        (F.col("y0") + F.expr(f"((i * dy) div {D}) "
                              f"- (CASE WHEN i * dy < 0 AND (i * dy) % {D} != 0 "
                              f"THEN 1 ELSE 0 END)")).alias("ybase"),
        F.expr(f"((i * dy) % {D} + {D}) % {D}").alias("off"),
    )
    top = ex.select(line_col, "x", F.col("ybase").alias("y"),
                    (F.lit(D) - F.col("off")).alias("cov"))
    bot = ex.select(line_col, "x", (F.col("ybase") + 1).alias("y"),
                    F.col("off").alias("cov"))
    return top.unionByName(bot).filter(F.col("cov") > 0)


def wu_lines_sql(base_select: str, dx: int = 64,
                 line_col: str = "line_id") -> str:
    """DuckDB twin of ``wu_lines`` (same floor-division identities; the
    engine's explicit negative-floor correction matches // which already
    floors, so the shared form uses the posmod identity both sides)."""
    D = int(dx)
    return f"""
WITH ex AS (
  SELECT {line_col}, x0 + i.i AS x,
         y0 + ((i.i * dy) - (((i.i * dy) % {D} + {D}) % {D})) / {D} AS ybase,
         ((i.i * dy) % {D} + {D}) % {D} AS off
  FROM ({base_select}) l, (SELECT unnest(range({D})) AS i) i)
SELECT {line_col}, x, CAST(ybase AS BIGINT) AS y, cov FROM (
  SELECT {line_col}, x, ybase, {D} - off AS cov FROM ex
  UNION ALL
  SELECT {line_col}, x, ybase + 1, off FROM ex) u
WHERE cov > 0"""
