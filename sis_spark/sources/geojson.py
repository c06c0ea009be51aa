"""GeoJSON store (RFC 7946 + RFC 8142 GeoJSONSeq, public specs).

The interchange format every web/geo pipeline speaks; the reference ships
a GeoJSON DataStore in its incubator tree (same Feature-rows contract as
its GPX/CSV stores).  Two layouts, two scale shapes:

* ``geojson_table`` — folders of FeatureCollection DOCUMENTS: the path
  list parallelizes and each task ``json``-parses its files (a file is
  the parallelism unit, exactly like the GPX store — right for many
  small-to-medium files).
* ``geojson_seq_table`` — newline-delimited GeoJSON (ndjson /
  GeoJSONSeq): ``spark.read.text`` line-splits, so a single huge file
  still fans out across executors — the 100 TB layout.

Geometries land as the engine's own ISO-19125 WKB codec bytes
(functions/geometry.py) plus a type tag, so every downstream SQLMM
function applies unchanged; foreign members/properties land as a JSON
string column (``get_json_object`` / ``from_json`` decode lazily —
column pruning keeps unparsed JSON out of queries that don't touch it).
Writers round-trip both layouts.
"""

from __future__ import annotations

import json

import pandas as pd

from ..functions.geometry import wkb_parse, wkb_write
from ..functions.udfs import _map_rows, _parse_files

GEOJSON_SCHEMA = "seq long, gtype string, wkb binary, props string"

_GJ_TO_WKB = {
    "Point": "point",
    "LineString": "linestring",
    "Polygon": "polygon",
    "MultiPoint": "multipoint",
    "MultiLineString": "multilinestring",
    "MultiPolygon": "multipolygon",
    "GeometryCollection": "geomcollection",
}
_WKB_TO_GJ = {v: k for k, v in _GJ_TO_WKB.items()}


def _geom_to_wkb(geom: dict) -> tuple[str, bytes]:
    """One GeoJSON geometry object -> (engine type tag, WKB bytes)."""
    gtype = geom["type"]
    typ = _GJ_TO_WKB[gtype]
    c = geom.get("coordinates")
    if typ == "point":
        val = (float(c[0]), float(c[1]))
    elif typ == "linestring":
        val = ([p[0] for p in c], [p[1] for p in c])
    elif typ == "polygon":
        val = [([p[0] for p in ring], [p[1] for p in ring]) for ring in c]
    elif typ == "multipoint":
        val = [(float(p[0]), float(p[1])) for p in c]
    elif typ == "multilinestring":
        val = [([p[0] for p in ln], [p[1] for p in ln]) for ln in c]
    elif typ == "multipolygon":
        val = [
            [([p[0] for p in ring], [p[1] for p in ring]) for ring in poly]
            for poly in c
        ]
    else:  # geomcollection
        members = [_geom_to_wkb(g) for g in geom["geometries"]]
        parsed = [wkb_parse(w) for _t, w in members]
        return typ, wkb_write("geomcollection", parsed)
    return typ, wkb_write(typ, val)


def _wkb_to_geom(typ: str, wkb: bytes) -> dict:
    """Engine (type tag, WKB) -> GeoJSON geometry object."""
    ptyp, val = wkb_parse(bytes(wkb))

    def coords(t, v):
        if t == "point":
            return [v[0], v[1]]
        if t == "linestring":
            return [[float(x), float(y)] for x, y in zip(v[0], v[1])]
        if t == "polygon":
            return [
                [[float(x), float(y)] for x, y in zip(vx, vy)]
                for vx, vy in v
            ]
        if t == "multipoint":
            return [[float(x), float(y)] for x, y in v]
        if t == "multilinestring":
            return [
                [[float(x), float(y)] for x, y in zip(vx, vy)]
                for vx, vy in v
            ]
        if t == "multipolygon":
            return [coords("polygon", rings) for rings in v]
        raise ValueError(t)

    if ptyp == "geomcollection":
        return {
            "type": "GeometryCollection",
            "geometries": [
                {"type": _WKB_TO_GJ[t], "coordinates": coords(t, v)}
                for t, v in val
            ],
        }
    return {"type": _WKB_TO_GJ[ptyp], "coordinates": coords(ptyp, val)}


def parse_feature(obj: dict, seq: int) -> dict:
    """One GeoJSON Feature -> a GEOJSON_SCHEMA row dict."""
    geom = obj.get("geometry")
    if geom is None:
        gtype, wkb = None, None
    else:
        gtype, wkb = _geom_to_wkb(geom)
    props = obj.get("properties")
    return {
        "seq": seq,
        "gtype": gtype,
        "wkb": wkb,
        "props": None if props is None else json.dumps(
            props, sort_keys=True, separators=(",", ":")
        ),
    }


def parse_geojson(text: str) -> pd.DataFrame:
    """One FeatureCollection (or bare Feature / bare geometry) document
    -> GEOJSON_SCHEMA rows."""
    obj = json.loads(text)
    t = obj.get("type")
    if t == "FeatureCollection":
        rows = [parse_feature(f, i) for i, f in enumerate(obj["features"])]
    elif t == "Feature":
        rows = [parse_feature(obj, 0)]
    else:  # bare geometry
        rows = [parse_feature({"geometry": obj, "properties": None}, 0)]
    return pd.DataFrame(
        rows, columns=["seq", "gtype", "wkb", "props"]
    )


def geojson_table(spark, paths: list[str]):
    """Distributed read of many FeatureCollection files: the path list
    parallelizes and each task parses its files (the GPX-store shape)."""
    return _parse_files(spark, paths, GEOJSON_SCHEMA, parse_geojson)


def geojson_seq_table(spark, path: str):
    """Newline-delimited GeoJSON (one Feature per line, RFC 8142 without
    the RS byte — the common ndjson dialect): ``spark.read.text`` gives
    line-level splits, so one multi-TB file fans out; ``seq`` is the
    per-partition-stable line hash surrogate (use an id property for a
    stable key at scale)."""
    def decode(row, ln):
        s = ln.strip()
        if not s or s == "\x1e":
            return None
        return (json.loads(s.lstrip("\x1e")),)

    return _map_rows(spark.read.text(path), GEOJSON_SCHEMA, ["value"], decode,
                     lambda row, feat: parse_feature(feat, 0))


def feature_json(gtype: str, wkb: bytes, props_json: str | None) -> str:
    """One GEOJSON_SCHEMA row -> a GeoJSON Feature string (compact,
    key-sorted — deterministic for byte-exact round-trip tests)."""
    return json.dumps(
        {
            "type": "Feature",
            "geometry": (
                None if gtype is None else _wkb_to_geom(gtype, wkb)
            ),
            "properties": (
                None if props_json is None else json.loads(props_json)
            ),
        },
        sort_keys=True,
        separators=(",", ":"),
    )


def write_geojson(df: pd.DataFrame) -> str:
    """GEOJSON_SCHEMA rows -> one FeatureCollection document."""
    feats = [
        feature_json(r.gtype, r.wkb, r.props)
        for r in df.sort_values("seq").itertuples()
    ]
    return (
        '{"type":"FeatureCollection","features":[' + ",".join(feats) + "]}"
    )


def write_geojson_seq(df, out_path: str):
    """Engine DataFrame (GEOJSON_SCHEMA columns) -> ndjson directory via
    the line writer (one Feature per line, executor-side encode)."""
    _map_rows(df.select("gtype", "wkb", "props"), "value string",
              ["gtype", "wkb", "props"], None,
              lambda row, g, w, p: {"value": feature_json(g, w, p)},
              ).write.mode("overwrite").text(out_path)
