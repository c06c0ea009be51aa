"""ESRI ASCII grid store: header variants (corner/center registration,
CELLSIZE vs DX/DY), nodata -> NaN, round-trip, and the non-line-per-row
fallback parse."""

import numpy as np
import pytest

from sis_spark.raster.grid import GridGeometry
from sis_spark.raster.tiles import tiles_to_raster
from sis_spark.sources.ascii_grid import (
    format_ascii_grid, grid_geometry_of, parse_ascii_header, read_ascii_grid,
)


def test_header_corner_vs_center():
    h, n = parse_ascii_header(
        ["NCOLS 4", "NROWS 3", "XLLCORNER 10", "YLLCORNER 20",
         "CELLSIZE 2", "NODATA_VALUE -1", "1 2 3 4"])
    assert n == 6
    gg, nodata = grid_geometry_of(h)
    assert nodata == -1.0
    # top edge = yll + cellsize*h; y scale negative (north->south rows)
    assert gg.affine == (2.0, 0.0, 10.0, 0.0, -2.0, 26.0)
    assert (gg.width, gg.height) == (4, 3)

    h2, _ = parse_ascii_header(
        ["ncols 4", "nrows 3", "xllcenter 11", "yllcenter 21", "dx 2", "dy 1"])
    gg2, nodata2 = grid_geometry_of(h2)
    assert np.isnan(nodata2)
    # center registration shifts each axis by half a cell
    assert gg2.affine == (2.0, 0.0, 10.0, 0.0, -1.0, 23.5)


def test_roundtrip_distributed(spark, tmp_path):
    w, h = 100, 70  # ragged tiles both axes
    gy, gx = np.mgrid[0:h, 0:w]
    arr = ((gx * 3 + gy * 11) % 50).astype(np.float64)
    arr[10, 20] = np.nan
    gg = GridGeometry((0, 0, w - 1, h - 1), (0.5, 0.0, 5.0, 0.0, -0.5, 100.0))
    p = tmp_path / "g.asc"
    p.write_text(format_ascii_grid(arr, gg, nodata=-9999.0))

    tiles, gg2 = read_ascii_grid(spark, str(p))
    assert gg2.affine == gg.affine
    back = tiles_to_raster(tiles, gg2, dtype=np.float64)[..., 0]
    assert back.shape == (h, w)
    assert np.isnan(back[10, 20])
    m = ~np.isnan(arr)
    assert (back[m] == arr[m]).all()


def test_fallback_multirow_lines(spark, tmp_path):
    # body NOT one-line-per-row -> driver fallback parse
    p = tmp_path / "g.asc"
    p.write_text(
        "NCOLS 3\nNROWS 2\nXLLCORNER 0\nYLLCORNER 0\nCELLSIZE 1\n"
        "1 2\n3 4\n5 6\n")
    tiles, gg = read_ascii_grid(spark, str(p))
    back = tiles_to_raster(tiles, gg, dtype=np.float64)[..., 0]
    assert back.tolist() == [[1, 2, 3], [4, 5, 6]]


def test_read_starts_no_job_and_checks_row_lines(spark, tmp_path):
    """The layout is decided from the header read: a one-split body starts
    no Spark job (no count over the text).  Blank lines are skipped; a row
    line that does not hold NCOLS values, or a body short of NROWS lines,
    raises, naming the line."""
    w, h = 300, 200
    gy, gx = np.mgrid[0:h, 0:w]
    arr = ((gx * 7 + gy * 5) % 31).astype(np.float64)
    gg = GridGeometry((0, 0, w - 1, h - 1), (0.5, 0.0, 5.0, 0.0, -0.5, 100.0))
    p = tmp_path / "big.asc"
    p.write_text(format_ascii_grid(arr, gg))
    sc = spark.sparkContext
    sc.setJobGroup("ascii_grid_read", "ascii_grid_read")
    try:
        tiles, gg2 = read_ascii_grid(spark, str(p))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("ascii_grid_read") == []
    assert (tiles_to_raster(tiles, gg2, dtype=np.float64)[..., 0] == arr).all()

    # a body over many splits numbers its lines across them
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try:
        tiles, gg2 = read_ascii_grid(spark, str(p))
        assert spark.read.text(str(p)).rdd.getNumPartitions() > 1
        assert (tiles_to_raster(tiles, gg2, dtype=np.float64)[..., 0] == arr).all()
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")

    text = format_ascii_grid(arr[:5, :4], GridGeometry((0, 0, 3, 4), (1.0, 0.0, 0.0, 0.0, -1.0, 5.0)))
    lines = text.splitlines()
    blank = tmp_path / "blank.asc"
    blank.write_text("\n".join(lines[:8] + [""] + lines[8:]) + "\n\n")
    tiles, gg3 = read_ascii_grid(spark, str(blank))
    assert (tiles_to_raster(tiles, gg3, dtype=np.float64)[..., 0] == arr[:5, :4]).all()

    # a body short of NROWS lines: a tile short of rows, or a whole tile row
    # (tile_size 2: row 4 is tile row 2's only row) missing
    short = tmp_path / "short.asc"
    short.write_text("\n".join(lines[:-1]) + "\n")
    for tile_size in (64, 2):
        tiles, _ = read_ascii_grid(spark, str(short), tile_size=tile_size)
        with pytest.raises(Exception, match="ValueError.*no row line 4"):
            tiles.collect()

    lines[8] = "1 2 3"
    bad = tmp_path / "bad.asc"
    bad.write_text("\n".join(lines) + "\n")
    tiles, _ = read_ascii_grid(spark, str(bad))
    with pytest.raises(Exception, match="ValueError.*row line 2 holds 3 values"):
        tiles.collect()
