"""Shapefile store: geometry round-trips (point/multipoint/line/polygon
with holes/multipolygon), dbf attribute typing, distributed read."""

import numpy as np
import pandas as pd
import pytest

from sis_spark.functions import geometry as geo
from sis_spark.sources import shapefile
from sis_spark.sources.shapefile import shapefile_table, write_shapefile


def _write(tmp_path, geoms, attrs, fields, name="t"):
    files = write_shapefile(geoms, attrs, fields)
    for ext, buf in files.items():
        (tmp_path / f"{name}.{ext}").write_bytes(buf)
    return str(tmp_path / name)


def test_points_and_attrs(spark, tmp_path):
    geoms = [("point", (1.5, 2.5)), ("point", (-3.0, 4.0))]
    attrs = pd.DataFrame({"name": ["a", None], "n": [7, None],
                          "score": [1.25, -0.5], "ok": [True, False],
                          "day": ["20240117", None]})
    fields = [("name", "C", 8, 0), ("n", "N", 6, 0),
              ("score", "N", 8, 2), ("ok", "L", 1, 0), ("day", "D", 8, 0)]
    df = shapefile_table(spark, _write(tmp_path, geoms, attrs, fields))
    rows = {r["fid"]: r for r in df.collect()}
    assert geo.wkb_parse(bytes(rows[0]["geom"])) == ("point", (1.5, 2.5))
    assert rows[0]["name"] == "a" and rows[0]["n"] == 7
    assert rows[0]["score"] == 1.25 and rows[0]["ok"] is True
    assert rows[0]["day"] == "20240117"
    assert rows[1]["name"] is None and rows[1]["n"] is None
    assert rows[1]["score"] == -0.5 and rows[1]["ok"] is False


def test_polygon_with_hole_roundtrip(spark, tmp_path):
    shell = (np.array([0.0, 4, 4, 0]), np.array([0.0, 0, 4, 4]))
    hole = (np.array([1.0, 1, 2, 2]), np.array([1.0, 2, 2, 1]))
    geoms = [("polygon", [shell, hole])]
    df = shapefile_table(spark, _write(
        tmp_path, geoms, pd.DataFrame({"id": [1]}), [("id", "N", 4, 0)]))
    typ, val = geo.wkb_parse(bytes(df.collect()[0]["geom"]))
    assert typ == "polygon" and len(val) == 2
    from sis_spark.functions.sqlmm import geom_area

    assert geom_area(typ, val) == 15.0  # 16 - 1, holes assembled + CCW


def test_multipolygon_and_lines(spark, tmp_path):
    p1 = [(np.array([0.0, 1, 1, 0]), np.array([0.0, 0, 1, 1]))]
    p2 = [(np.array([10.0, 12, 12, 10]), np.array([0.0, 0, 2, 2]))]
    base = _write(tmp_path, [("multipolygon", [p1, p2])],
                  pd.DataFrame({"id": [1]}), [("id", "N", 4, 0)], "mp")
    typ, val = geo.wkb_parse(bytes(shapefile_table(spark, base).collect()[0]["geom"]))
    from sis_spark.functions.sqlmm import geom_area

    assert typ == "multipolygon" and geom_area(typ, val) == 5.0

    line = ("linestring", (np.array([0.0, 1, 1]), np.array([0.0, 0, 2])))
    mline = ("multilinestring", [line[1], (np.array([5.0, 6]), np.array([1.0, 1]))])
    base = _write(tmp_path, [line, mline],
                  pd.DataFrame({"id": [1, 2]}), [("id", "N", 4, 0)], "ln")
    rows = {r["fid"]: r for r in shapefile_table(spark, base).collect()}
    assert geo.wkb_parse(bytes(rows[0]["geom"]))[0] == "linestring"
    assert geo.wkb_parse(bytes(rows[1]["geom"]))[0] == "multilinestring"


def test_multipoint_and_null(spark, tmp_path):
    geoms = [("multipoint", (np.array([1.0, 2]), np.array([3.0, 4]))), None]
    base = _write(tmp_path, geoms, pd.DataFrame({"id": [1, 2]}),
                  [("id", "N", 4, 0)], "np")
    rows = {r["fid"]: r for r in shapefile_table(spark, base).collect()}
    t, v = geo.wkb_parse(bytes(rows[0]["geom"]))
    assert t == "multipoint" and [tuple(p) for p in v] == [(1.0, 3.0), (2.0, 4.0)]
    assert rows[1]["geom"] is None


def test_record_ranges_read_every_record_once(spark, tmp_path, monkeypatch):
    """About 3 x defaultParallelism records split into 2-record ranges
    (more ranges than partitions, the last one short): every record comes
    back exactly once with its geometry and attributes."""
    monkeypatch.setattr(shapefile, "_CHUNK", 2)
    n = 3 * spark.sparkContext.defaultParallelism + 1
    geoms = [("point", (0.5 * i, -1.0 * i)) for i in range(n)]
    attrs = pd.DataFrame({"name": [f"r{i}" for i in range(n)],
                          "n": [3 * i for i in range(n)]})
    fields = [("name", "C", 8, 0), ("n", "N", 6, 0)]
    rows = shapefile_table(spark, _write(tmp_path, geoms, attrs, fields)).collect()
    assert sorted(r["fid"] for r in rows) == list(range(n))
    for r in rows:
        i = r["fid"]
        assert geo.wkb_parse(bytes(r["geom"])) == ("point", (0.5 * i, -1.0 * i))
        assert (r["name"], r["n"]) == (f"r{i}", 3 * i)
