"""GeoJSON store: document + ndjson layouts, full geometry-type
round-trip through the engine WKB codec."""

import json
import os

import pandas as pd

from sis_spark.sources.geojson import (
    feature_json,
    geojson_seq_table,
    geojson_table,
    parse_geojson,
    write_geojson,
    write_geojson_seq,
)


def _feature(geom, props):
    return {"type": "Feature", "geometry": geom, "properties": props}


ALL_TYPES = [
    {"type": "Point", "coordinates": [1.5, -2.25]},
    {"type": "LineString", "coordinates": [[0.0, 0.0], [1.0, 2.0], [3.0, 1.0]]},
    {"type": "Polygon", "coordinates": [
        [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]],
        [[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 2.0], [1.0, 1.0]],
    ]},
    {"type": "MultiPoint", "coordinates": [[0.5, 0.5], [1.5, 1.5]]},
    {"type": "MultiLineString", "coordinates": [
        [[0.0, 0.0], [1.0, 1.0]], [[2.0, 2.0], [3.0, 3.0], [4.0, 2.0]],
    ]},
    {"type": "MultiPolygon", "coordinates": [
        [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]],
        [[[5.0, 5.0], [6.0, 5.0], [6.0, 6.0], [5.0, 6.0], [5.0, 5.0]]],
    ]},
    {"type": "GeometryCollection", "geometries": [
        {"type": "Point", "coordinates": [9.0, 9.0]},
        {"type": "LineString", "coordinates": [[0.0, 1.0], [1.0, 0.0]]},
    ]},
]


def test_parse_write_roundtrip_all_types():
    doc = json.dumps({
        "type": "FeatureCollection",
        "features": [
            _feature(g, {"i": i}) for i, g in enumerate(ALL_TYPES)
        ] + [_feature(None, None)],
    })
    rows = parse_geojson(doc)
    assert len(rows) == len(ALL_TYPES) + 1
    assert rows["gtype"].tolist()[:3] == ["point", "linestring", "polygon"]
    assert rows["wkb"].iloc[-1] is None and rows["props"].iloc[-1] is None
    # engine write -> parse again must be a fixed point
    doc2 = write_geojson(rows)
    rows2 = parse_geojson(doc2)
    assert rows2["wkb"].tolist() == rows["wkb"].tolist()
    assert rows2["props"].tolist() == rows["props"].tolist()
    # rings closed by the codec stay closed in GeoJSON output
    gj = json.loads(doc2)
    tri = gj["features"][5]["geometry"]["coordinates"][0][0]
    assert tri[0] == tri[-1]


def test_bare_geometry_and_bare_feature():
    one = parse_geojson(json.dumps(ALL_TYPES[0]))
    assert len(one) == 1 and one["gtype"].iloc[0] == "point"
    one = parse_geojson(json.dumps(_feature(ALL_TYPES[1], {"a": 1})))
    assert one["gtype"].iloc[0] == "linestring"
    assert json.loads(one["props"].iloc[0]) == {"a": 1}


def test_geojson_table_distributed(spark, tmp_path):
    paths = []
    for f in range(3):
        doc = json.dumps({
            "type": "FeatureCollection",
            "features": [
                _feature({"type": "Point",
                          "coordinates": [float(f), float(i)]},
                         {"f": f, "i": i})
                for i in range(4)
            ],
        })
        p = os.path.join(tmp_path, f"part_{f}.geojson")
        with open(p, "w") as fh:
            fh.write(doc)
        paths.append(p)
    df = geojson_table(spark, paths)
    rows = df.collect()
    assert len(rows) == 12
    assert all(r["gtype"] == "point" for r in rows)
    assert sorted({json.loads(r["props"])["f"] for r in rows}) == [0, 1, 2]


def test_geojson_seq_roundtrip(spark, tmp_path):
    src = os.path.join(tmp_path, "in.ndjson")
    with open(src, "w") as fh:
        for i, g in enumerate(ALL_TYPES):
            fh.write(json.dumps(_feature(g, {"i": i})) + "\n")
    df = geojson_seq_table(spark, src)
    assert df.count() == len(ALL_TYPES)
    out_dir = os.path.join(tmp_path, "out_ndjson")
    write_geojson_seq(df, out_dir)
    back = geojson_seq_table(spark, out_dir)
    a = sorted(r["props"] for r in df.select("props").collect())
    b = sorted(r["props"] for r in back.select("props").collect())
    assert a == b
    wa = sorted(bytes(r["wkb"]) for r in df.select("wkb").collect())
    wb = sorted(bytes(r["wkb"]) for r in back.select("wkb").collect())
    assert wa == wb


def test_feature_json_deterministic():
    rows = parse_geojson(json.dumps(_feature(ALL_TYPES[0], {"b": 2, "a": 1})))
    s1 = feature_json(rows["gtype"].iloc[0], rows["wkb"].iloc[0],
                      rows["props"].iloc[0])
    s2 = feature_json(rows["gtype"].iloc[0], rows["wkb"].iloc[0],
                      rows["props"].iloc[0])
    assert s1 == s2 and '"a":1,"b":2' in s1


def test_geojson_seq_gives_each_line_its_own_seq(spark, tmp_path):
    src = os.path.join(tmp_path, "three.ndjson")
    with open(src, "w") as fh:
        for i in range(3):
            fh.write(json.dumps(_feature(ALL_TYPES[0], {"i": i})) + "\n")
    rows = geojson_seq_table(spark, src).toPandas()
    assert rows["seq"].nunique() == 3
    # write_geojson orders by seq: the document keeps the line order
    doc = json.loads(write_geojson(rows.sample(frac=1.0, random_state=3)))
    assert [f["properties"]["i"] for f in doc["features"]] == [0, 1, 2]
