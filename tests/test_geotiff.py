"""GeoTIFF store: round-trip, layout/compression matrix, georeferencing, and
the deferred-decode Spark read — the read-consistency discipline of
St/test/CoverageReadConsistency.java applied to our TIFF codec."""

from __future__ import annotations

import numpy as np
import pytest

from sis_spark.sources import geotiff as gt


def _img(seed: int, h: int, w: int, c: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    # runs of equal bytes exercise PackBits' RLE branch
    a = rng.integers(0, 4, size=(h, w, c), dtype=np.uint8) * 80
    return a


@pytest.mark.parametrize("compression", ["none", "deflate", "packbits", "lzw"])
@pytest.mark.parametrize("tile_size", [64, None])
@pytest.mark.parametrize("c", [1, 3])
def test_roundtrip_matrix(compression, tile_size, c):
    arr = _img(11, 130, 190, c)
    buf = gt.encode_geotiff(arr, tile_size=tile_size, compression=compression)
    out, affine = gt.decode_geotiff(buf)
    assert affine is None
    assert out.shape == (130, 190, c)
    assert np.array_equal(out, arr)


def test_packbits_codec_exact():
    rng = np.random.default_rng(3)
    for n in (1, 2, 127, 128, 129, 1000):
        data = bytes(rng.integers(0, 3, size=n, dtype=np.uint8) * 90)
        enc = gt._packbits_encode(data)
        assert gt._packbits_decode(enc, n) == data


@pytest.mark.parametrize("tile_size", [64, None])
def test_bigtiff_roundtrip(tile_size):
    arr = _img(17, 130, 190, 3)
    affine = (0.5, 0.0, -10.0, 0.0, -0.5, 45.0)
    buf = gt.encode_geotiff(arr, affine=affine, tile_size=tile_size,
                            compression="deflate", bigtiff=True)
    assert buf[2:4] == (43).to_bytes(2, "little")  # BigTIFF magic
    out, got_affine = gt.decode_geotiff(buf)
    assert np.array_equal(out, arr)
    assert got_affine == pytest.approx(affine)


def test_lzw_codec_exact():
    rng = np.random.default_rng(6)
    for n in (0, 1, 5, 300, 5000):
        # low-entropy data exercises long table entries; random tail covers
        # KwKwK and width changes
        data = bytes(rng.integers(0, 5, size=n, dtype=np.uint8)) + bytes(
            rng.integers(0, 256, size=n // 2, dtype=np.uint8)
        )
        enc = gt._lzw_encode(data)
        assert gt._lzw_decode(enc, len(data)) == data
    # table-reset path: > 4k distinct phrases
    big = bytes(np.random.default_rng(1).integers(0, 256, size=60000, dtype=np.uint8))
    assert gt._lzw_decode(gt._lzw_encode(big), len(big)) == big


def test_georeferencing_roundtrip():
    arr = _img(5, 64, 96, 1)
    affine = (0.25, 0.0, -74.25, 0.0, -0.25, 41.0)  # north-up, 0.25 deg pixels
    buf = gt.encode_geotiff(arr, affine=affine, tile_size=64)
    out, got = gt.decode_geotiff(buf)
    assert np.array_equal(out, arr)
    assert got == pytest.approx(affine)
    info = gt.parse_ifd(buf)
    assert info["geokeys"] is not None and 4326 in info["geokeys"]


def test_unsupported_compression_rejected():
    arr = _img(1, 16, 16, 1)
    buf = bytearray(gt.encode_geotiff(arr, tile_size=None, compression="none"))
    # flip the Compression tag to CCITT G4 (4) — fax codecs stay out of scope
    # (JPEG, compression 7, is now IN scope — tests/test_jpeg.py)
    idx = buf.find((259).to_bytes(2, "little"))
    buf[idx + 8] = 4
    with pytest.raises(ValueError, match="unsupported compression"):
        gt.parse_ifd(bytes(buf))


@pytest.mark.parametrize("tile_size_file", [64, 48, None])
def test_spark_deferred_tiles_match_full_decode(spark, tile_size_file):
    """Executor-side inflate + re-chunk to the engine grid must equal the
    in-memory decode, including when the file's native tiling (48) or strip
    layout disagrees with the engine tile size (64)."""
    from sis_spark.raster import tiles as rt

    arr = _img(21, 130, 190, 3)
    affine = (0.1, 0.0, 10.0, 0.0, -0.1, 55.0)
    buf = gt.encode_geotiff(arr, affine=affine, tile_size=tile_size_file)
    tiles_df, gg = gt.geotiff_tiles(spark, buf, tile_size=64)
    assert gg is not None and gg.width == 190 and gg.height == 130
    got = rt.tiles_to_raster(tiles_df, gg, tile_size=64)
    assert np.array_equal(got, arr)


def test_spark_tiles_then_band_stats(spark):
    """The decoded tile DataFrame composes with downstream raster operators."""
    from sis_spark.raster import tiles as rt

    arr = _img(8, 96, 128, 1)
    buf = gt.encode_geotiff(arr, affine=(1.0, 0.0, 0.0, 0.0, -1.0, 96.0), tile_size=64)
    tiles_df, gg = gt.geotiff_tiles(spark, buf, tile_size=64)
    stats = {r["band"]: r for r in rt.band_stats(tiles_df, gg, tile_size=64).collect()}
    assert stats[0]["n"] == 96 * 128
    assert stats[0]["sum"] == int(arr.sum(dtype=np.int64))
    assert stats[0]["min"] == int(arr.min()) and stats[0]["max"] == int(arr.max())


# ------------------------------------------------- predictor-2 + COG (r2)

def _smooth(h=200, w=300):
    rng = np.random.RandomState(7)
    return (np.cumsum(rng.randint(0, 3, (h, w)), axis=1) % 256).astype(np.uint8)


def test_predictor2_round_trip_all_layouts():
    from sis_spark.sources.geotiff import decode_geotiff, encode_geotiff

    arr = _smooth()
    aff = (0.01, 0.0, -10.0, 0.0, -0.01, 50.0)
    for comp in ("lzw", "deflate", "none", "packbits"):
        for ts in (64, None):
            buf = encode_geotiff(arr, aff, tile_size=ts, compression=comp, predictor=2)
            dec, a2 = decode_geotiff(buf)
            assert np.array_equal(dec[:, :, 0], arr)
            assert a2 == aff


def test_predictor2_improves_smooth_compression():
    from sis_spark.sources.geotiff import encode_geotiff

    arr = _smooth()
    for comp in ("lzw", "deflate"):
        b1 = len(encode_geotiff(arr, compression=comp, predictor=1))
        b2 = len(encode_geotiff(arr, compression=comp, predictor=2))
        assert b2 < b1  # differencing is the point of predictor 2


def test_cog_overview_chain_round_trip():
    """Every COG overview IFD decodes to the bit-exact stride-2^i subsample,
    and the layout is cloud-friendly: all IFDs+heaps precede all tile data."""
    from sis_spark.sources.geotiff import decode_geotiff, encode_cog, parse_ifds

    arr = _smooth()
    aff = (0.01, 0.0, -10.0, 0.0, -0.01, 50.0)
    cog = encode_cog(arr, aff, tile_size=64, compression="deflate", predictor=2, min_size=32)
    infos = parse_ifds(cog)
    assert len(infos) == 4
    assert [i["subfile"] for i in infos] == [0, 1, 1, 1]
    first_block = min(min(b["offset"] for b in inf["blocks"]) for inf in infos)
    assert all(b["offset"] >= first_block for inf in infos for b in inf["blocks"])
    for i in range(len(infos)):
        dec, a2 = decode_geotiff(cog, level=i)
        assert np.array_equal(dec[:, :, 0], arr[::2**i, ::2**i])
    assert decode_geotiff(cog, level=0)[1] == aff


def test_cog_matches_build_overviews(spark):
    """The COG overview levels agree with the engine's distributed
    build_overviews pyramid (both stride-2, bit-exact)."""
    from sis_spark.raster.grid import GridGeometry
    from sis_spark.raster.tiles import build_overviews, raster_to_tiles, tiles_to_raster
    from sis_spark.sources.geotiff import decode_geotiff, encode_cog

    arr = _smooth(128, 128)[:, :, None]
    gg = GridGeometry((0, 0, 127, 127), (0.01, 0.0, -10.0, 0.0, -0.01, 5.0))
    cog = encode_cog(arr, tile_size=64, min_size=32)
    tiles = raster_to_tiles(spark, arr, gg, 64)
    (_, t1, gg1), (_, t2, gg2) = build_overviews(tiles, gg, 2, 64)
    assert np.array_equal(tiles_to_raster(t1, gg1, 64)[:, :, 0],
                          decode_geotiff(cog, level=1)[0][:, :, 0])
    assert np.array_equal(tiles_to_raster(t2, gg2, 64)[:, :, 0],
                          decode_geotiff(cog, level=2)[0][:, :, 0])


def test_geotiff_tiles_reads_predictor2(spark):
    from sis_spark.raster.grid import GridGeometry
    from sis_spark.raster.tiles import tiles_to_raster
    from sis_spark.sources.geotiff import encode_geotiff, geotiff_tiles

    arr = _smooth(130, 190)
    buf = encode_geotiff(arr, (0.01, 0.0, 0.0, 0.0, -0.01, 10.0),
                         tile_size=64, compression="lzw", predictor=2)
    tiles_df, gg = geotiff_tiles(spark, buf, tile_size=64)
    got = tiles_to_raster(tiles_df, gg, 64)
    assert np.array_equal(got[:, :, 0], arr)


def test_aligned_read_has_no_shuffle(spark):
    """Native tile grid == engine grid: the deferred read must decode
    straight to final tiles with NO Exchange (the groupBy-assemble stage
    exists only for mis-aligned layouts)."""
    arr = _img(5, 130, 190, 3)
    aligned_buf = gt.encode_geotiff(arr, tile_size=64)
    tiles_df, _ = gt.geotiff_tiles(spark, aligned_buf, tile_size=64)
    plan = tiles_df._jdf.queryExecution().executedPlan().toString()
    # the only Exchange allowed is the round-robin scatter of the tiny BYTE
    # RANGE manifest; decoded pixel data must never be hash-shuffled
    assert "hashpartitioning" not in plan

    misaligned_buf = gt.encode_geotiff(arr, tile_size=48)
    tiles2, _ = gt.geotiff_tiles(spark, misaligned_buf, tile_size=64)
    plan2 = tiles2._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" in plan2  # groupBy-assemble pays the shuffle

    # and both paths produce identical tile sets
    a = {(r["tx"], r["ty"], r["band"]): bytes(r["data"]) for r in tiles_df.collect()}
    b = {(r["tx"], r["ty"], r["band"]): bytes(r["data"]) for r in tiles2.collect()}
    assert a == b


def test_geotiff_tiles_cog_level(spark):
    """Distributed COG read at an overview level equals the stride-2^z
    subsample, with the affine scaled from level 0."""
    from sis_spark.raster import tiles as rt

    arr = _smooth(150, 220)[:, :, None]
    aff = (0.01, 0.0, -10.0, 0.0, -0.01, 50.0)
    cog = gt.encode_cog(arr, aff, tile_size=64, compression="deflate", min_size=32)
    for level in (0, 1):
        tiles_df, gg = gt.geotiff_tiles(spark, cog, tile_size=64, level=level)
        s = 2 ** level
        want = arr[::s, ::s]
        assert gg is not None
        assert gg.width == want.shape[1] and gg.height == want.shape[0]
        assert gg.affine[0] == 0.01 * s and gg.affine[4] == -0.01 * s
        got = rt.tiles_to_raster(tiles_df, gg, tile_size=64)
        assert np.array_equal(got, want)
    import pytest as _pt
    with _pt.raises(ValueError, match="out of range"):
        gt.geotiff_tiles(spark, cog, tile_size=64, level=99)


# ------------------------------------------- CCITT MH RLE (r5, comp 2)

def test_ccitt_roundtrip_tiled_and_strips():
    import numpy as np

    from sis_spark.sources.geotiff import decode_geotiff, encode_geotiff

    rng = np.random.default_rng(0)
    g = (rng.random((130, 201)) < 0.2).astype(np.uint8)
    buf = encode_geotiff(g, affine=(0.1, 0, 5.0, 0, -0.1, 50.0),
                         tile_size=64, compression="ccittrle")
    arr, aff = decode_geotiff(buf)
    assert np.array_equal(arr[:, :, 0], g)
    assert aff == (0.1, 0.0, 5.0, 0.0, -0.1, 50.0)
    buf2 = encode_geotiff(g, tile_size=None, compression="ccittrle")
    arr2, _ = decode_geotiff(buf2)
    assert np.array_equal(arr2[:, :, 0], g)


def test_ccitt_extremes_and_wide_runs():
    import numpy as np

    from sis_spark.raster.ccitt import decode_mh, encode_mh

    for img in (np.zeros((3, 3000), np.uint8), np.ones((3, 3000), np.uint8)):
        assert np.array_equal(decode_mh(encode_mh(img), 3, 3000), img)
    # leading-black rows (zero-length white run), single-pixel runs
    img = np.zeros((4, 97), np.uint8)
    img[0, 0] = 1
    img[1, ::2] = 1
    img[2, :] = 1
    img[3, 40:60] = 1
    assert np.array_equal(decode_mh(encode_mh(img), 4, 97), img)
    # zero-width rows encode to no bytes
    img = np.zeros((3, 0), np.uint8)
    assert encode_mh(img) == b""
    assert np.array_equal(decode_mh(encode_mh(img), 3, 0), img)


def test_ccitt_codewords_are_t4():
    """Spot-check canonical ITU T.4 codewords (TIFF 6.0 section 10)."""
    from sis_spark.raster.ccitt import _ENC

    assert _ENC[0][0] == "00110101"       # white 0
    assert _ENC[0][63] == "00110100"      # white 63
    assert _ENC[0][64] == "11011"         # white make-up 64
    assert _ENC[0][1728] == "010011011"   # white make-up 1728
    assert _ENC[1][1] == "010"            # black 1
    assert _ENC[1][2] == "11"             # black 2
    assert _ENC[1][64] == "0000001111"    # black make-up 64
    assert _ENC[1][2560] == "000000011111"  # shared extended make-up
