"""Seam-carving DP (imageops.seam_cost): distributed vs brute."""

def test_seam_cost_brute(spark):
    import numpy as np

    from sis_spark.operators.imageops import seam_cost
    from sis_spark.raster import codec

    rng = np.random.default_rng(21)
    rows = []
    want = {}
    for i in range(6):
        h, w = int(rng.integers(4, 12)), int(rng.integers(4, 12))
        arr = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        e = arr.astype(np.int64).sum(axis=2)
        # brute DP
        m = e[0].astype(np.int64).copy()
        for y in range(1, h):
            nm = np.empty(w, np.int64)
            for x in range(w):
                best = m[x]
                if x > 0:
                    best = min(best, m[x - 1])
                if x < w - 1:
                    best = min(best, m[x + 1])
                nm[x] = e[y, x] + best
            m = nm
        iid = f"t-{i}"
        want[iid] = (int(m.min()), int(np.argmin(m)))
        rows.append((iid, codec.encode(arr, "raw"), "raw"))
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = {r["image_id"]: (r["cost"], r["x_end"])
           for r in seam_cost(df).collect()}
    assert got == want


def test_palette_map_assignments(spark):
    import numpy as np

    from sis_spark.operators.imageops import PALETTE8, palette_map
    from sis_spark.raster import codec

    # 2x2 image: pure black, pure white, pure red, and a mid gray that
    # ties black(d=3*127.5^2...) -- use exact values to pin tie rule
    arr = np.zeros((2, 2, 3), np.uint8)
    arr[0, 1] = (255, 255, 255)
    arr[1, 0] = (250, 5, 5)       # nearest = red (idx 2)
    arr[1, 1] = (128, 128, 128)   # closer to white? d_black=3*128^2, d_white=3*127^2 -> white
    df = spark.createDataFrame(
        [("a", codec.encode(arr, "raw"), "raw")],
        "image_id string, bytes binary, fmt string",
    )
    out = {(r["p"]): r["cnt"] for r in palette_map(df).collect()}
    assert out[0] == 1 and out[1] == 2 and out[2] == 1
    assert len(PALETTE8) == 8


def test_mse_pairs_exact(spark):
    import numpy as np

    from sis_spark.operators.imageops import mse_pairs
    from sis_spark.raster import codec

    rng = np.random.default_rng(3)
    a = rng.integers(0, 256, (8, 8, 3)).astype(np.uint8)
    b = rng.integers(0, 256, (8, 8, 3)).astype(np.uint8)
    c = rng.integers(0, 256, (4, 4, 3)).astype(np.uint8)  # mismatched dims
    rows = [
        ("img-000000000000", codec.encode(a, "raw"), "raw"),
        ("img-000000000001", codec.encode(b, "raw"), "raw"),
        ("img-000000000002", codec.encode(c, "raw"), "raw"),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    out = mse_pairs(df, stride=1).collect()
    got = {(r["image_id_a"], r["image_id_b"]): (r["n_px"], r["sse"])
           for r in out}
    want_sse = int(((a.astype(np.int64) - b.astype(np.int64)) ** 2).sum())
    assert got == {("img-000000000000", "img-000000000001"): (64, want_sse)}


def test_gray_hist_exact(spark):
    import numpy as np

    from sis_spark.operators.imageops import gray_hist
    from sis_spark.raster import codec

    rng = np.random.default_rng(8)
    arr = rng.integers(0, 256, (6, 7, 3)).astype(np.uint8)
    df = spark.createDataFrame(
        [("a", codec.encode(arr, "raw"), "raw")],
        "image_id string, bytes binary, fmt string",
    )
    out = {r["b"]: r["cnt"] for r in gray_hist(df, bucket=16).collect()}
    a = arr.astype(np.int64)
    luma = (299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]) // 1000
    want = {}
    for v in (luma // 16).ravel():
        want[int(v)] = want.get(int(v), 0) + 1
    assert out == want


def test_color_histogram_bins_not_dividing_256(spark):
    """bins = 3: value v lands in bin v * 3 // 256, so 255 is in bin 2 and
    every image still gives 3 * bins rows whose counts sum to h * w."""
    import numpy as np

    from sis_spark.operators.imageops import color_histogram
    from sis_spark.raster import codec

    arr = np.arange(48, dtype=np.int64).reshape(4, 4, 3) * 17 % 256
    arr[0, 0] = 255
    df = spark.createDataFrame(
        [("a", codec.encode(arr.astype(np.uint8), "raw"), "raw")],
        "image_id string, bytes binary, fmt string",
    )
    rows = color_histogram(df, bins=3).collect()
    assert len(rows) == 9
    for ch in range(3):
        got = {r["bin"]: r["n"] for r in rows if r["channel"] == ch}
        want = np.bincount(arr[:, :, ch].ravel() * 3 // 256, minlength=3)
        assert sum(got.values()) == 16
        assert [got[b] for b in range(3)] == want.tolist()


def test_gamma_lut_monotone_and_roundtrip_ends(spark):
    from sis_spark.raster.tiles import gamma_lut

    lut = gamma_lut(2.2)
    assert lut[0] == 0 and lut[255] == 255
    assert all(lut[i] <= lut[i + 1] for i in range(255))
    assert lut[128] > 128  # gamma 2.2 brightens midtones


def test_patch_dedup_finds_planted_duplicates(spark):
    import numpy as np

    from sis_spark.operators.imageops import patch_dedup
    from sis_spark.raster import codec

    rng = np.random.default_rng(31)
    common = rng.integers(0, 256, (8, 8), np.uint8)  # planted patch
    rows = []
    for i in range(4):
        arr = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
        if i < 3:
            arr[0:8, 0:8, 0] = common   # plant in 3 of 4 images
        rows.append((f"im{i}", codec.encode(arr, "raw"), "raw"))
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    out = patch_dedup(df, patch=8, min_count=3).collect()
    assert len(out) >= 1
    assert max(r["cnt"] for r in out) >= 3


def test_channel_corr_grayscale_detects_unit_corr(spark):
    import numpy as np

    from sis_spark.operators.imageops import channel_corr
    from sis_spark.raster import codec

    rng = np.random.default_rng(12)
    gray = rng.integers(0, 256, (8, 8, 1)).astype(np.uint8)
    arr = np.repeat(gray, 3, axis=2)  # perfectly gray image
    df = spark.createDataFrame(
        [("g", codec.encode(arr, "raw"), "raw")],
        "image_id string, bytes binary, fmt string",
    )
    r = channel_corr(df).collect()[0]
    n, sr, sg = r["n"], r["sr"], r["sg"]
    num = n * r["srg"] - sr * sg
    den2 = (n * r["srr"] - sr * sr) * (n * r["sgg"] - sg * sg)
    assert num * num == den2  # Pearson == 1 exactly


def test_dominant_color_and_border_stats(spark):
    import numpy as np

    from sis_spark.operators.imageops import border_stats, dominant_color
    from sis_spark.raster import codec

    # 8x8 image: black border (2px), red-ish interior
    arr = np.zeros((8, 8, 3), np.uint8)
    arr[2:6, 2:6] = (200, 10, 10)
    df = spark.createDataFrame(
        [("a", codec.encode(arr, "raw"), "raw")],
        "image_id string, bytes binary, fmt string",
    )
    dc = dominant_color(df, bits=2).collect()[0]
    # black (0,0,0) -> code 0 covers 48 px; red (3,0,0) -> 48 vs 16
    assert dc["code"] == 0 and dc["cnt"] == 48 and dc["n_px"] == 64
    bs = border_stats(df, margin=2).collect()[0]
    assert bs["n_border"] == 48 and bs["n_inner"] == 16
    assert bs["s_border"] == 0 and bs["ss_border"] == 0
    assert bs["s_inner"] == 16 * 220 and bs["ss_inner"] == 16 * 220 * 220


def test_median_cut_properties(spark):
    """8 boxes partition the weight; each split balances weight to within
    the largest single color's weight; means lie inside [0, 255]."""
    from sis_spark.operators.imageops import median_cut_boxes

    px = spark.range(5000).selectExpr(
        "(id * 11 + 1) % 256 AS r", "(id * 17 + 2) % 256 AS g",
        "(id * 23 + 4) % 256 AS b", "1 + id % 3 AS w",
    )
    rows = median_cut_boxes(px, rounds=3).collect()
    assert len(rows) == 8
    assert sorted(r["box"] for r in rows) == list(range(8))
    tot = sum(r["wsum"] for r in rows)
    assert tot == sum(1 + i % 3 for i in range(5000))
    for r in rows:
        for c in ("r_mean", "g_mean", "b_mean"):
            assert 0 <= r[c] <= 255
    # sibling boxes are reasonably balanced (weighted-median split)
    by_box = {r["box"]: r["wsum"] for r in rows}
    for b in range(0, 8, 2):
        pair = by_box[b] + by_box[b + 1]
        assert by_box[b] >= pair * 2 // 5  # left >= ~40% by construction


def test_slic_superpixels_properties(spark):
    """Superpixels partition all pixels, centroids stay near their home
    cells, and a flat image yields exact grid-block superpixels."""
    from sis_spark.operators.imageops import slic_superpixels

    W, H, S = 64, 64, 16
    px = spark.range(W * H).selectExpr(
        f"id % {W} AS x", f"id DIV {W} AS y",
        f"((id % {W}) * 3 + (id DIV {W}) * 5) % 256 AS v",
    )
    rows = slic_superpixels(px, W, H, step=S, m=10, iters=2).collect()
    assert len(rows) == (W // S) * (H // S)
    assert sum(r["n"] for r in rows) == W * H
    for r in rows:
        assert 0 <= r["cx"] < W and 0 <= r["cy"] < H
        assert 0 <= r["cv"] <= 255

    # flat image: color ties everywhere, so assignment is nearest-centroid
    # with id tie-break (block-boundary pixels defect to the lower id) —
    # still a full partition into non-empty near-blocks of constant color
    flat = spark.range(W * H).selectExpr(
        f"id % {W} AS x", f"id DIV {W} AS y", "42 AS v",
    )
    frows = slic_superpixels(flat, W, H, step=S, m=10, iters=2).collect()
    assert len(frows) == (W // S) * (H // S)
    assert sum(r["n"] for r in frows) == W * H
    assert all(r["n"] > 0 for r in frows)
    assert all(r["cv"] == 42 for r in frows)


def test_image_operators_gray_equals_rgb(spark):
    """The channel rule: every operator that reads RGB statistics gives a
    gray (h, w, 1) image and its 3-channel copy the same rows (png and raw
    payloads), and mse_pairs pairs a gray image with an RGB one of equal
    size."""
    import numpy as np

    from sis_spark.operators import imageops as io
    from sis_spark.raster import codec

    rng = np.random.default_rng(10)
    rows = []
    for i, (fmt, h, w) in enumerate([("png", 9, 12), ("raw", 9, 12),
                                      ("png", 3, 3), ("raw", 12, 8)]):
        g = rng.integers(0, 256, (h, w, 1)).astype(np.uint8)
        g[:2, :2] = 77  # a 2x2 patch every image repeats, for patch_dedup
        for kind, arr in (("gray", g), ("rgb", np.repeat(g, 3, axis=2))):
            rows.append((f"{kind}-{i}", codec.encode(arr, fmt), fmt,
                         "a red cat on a mat"))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string, caption string")
    ops = {
        "image_features": io.image_features, "image_quality": io.image_quality,
        "caption_alignment": io.caption_alignment, "dhash": io.dhash,
        "color_histogram": io.color_histogram, "seam_cost": io.seam_cost,
        "palette_map": io.palette_map, "gray_hist": io.gray_hist,
        "mse_pairs": lambda d: io.mse_pairs(d, stride=1),
        "patch_dedup": lambda d: io.patch_dedup(d, patch=2, min_count=2),
        "channel_corr": io.channel_corr, "dominant_color": io.dominant_color,
        "border_stats": io.border_stats,
        "bayer_dither_stats": io.bayer_dither_stats,
        "gray_world": io.gray_world,
    }

    def strip(out):
        return sorted(repr(sorted(
            (k, v.split("-")[1] if k.startswith("image_id") else v)
            for k, v in r.asDict().items())) for r in out.collect())

    for name, op in ops.items():
        gray = strip(op(df.filter(df.image_id.startswith("gray"))))
        rgb = strip(op(df.filter(df.image_id.startswith("rgb"))))
        assert gray and gray == rgb, name
    mixed = io.mse_pairs(df, stride=1).collect()
    assert len(mixed) == 4  # (gray|rgb)-0 x (gray|rgb)-1, all 9 x 12
    assert len({(r["n_px"], r["sse"]) for r in mixed}) == 1
