"""GPX store: waypoints / routes / tracks as feature DataFrames.

Re-derivation of the reference's GPX DataStore semantics
(endorsed/src/org.apache.sis.storage.xml/main/.../storage/gpx/ — tags in
Tags.java: wpt/rte/rtept/trk/trkseg/trkpt; feature types in Types.java)
with stdlib ``xml.etree`` parsing:

* waypoints  -> rows (kind='wpt',  seq, lon, lat, ele, time, name)
* routes     -> rows (kind='rte',  route_id, seq, ...)
* tracks     -> rows (kind='trk',  track_id, segment_id, seq, ...) — the
  trkseg nesting becomes a segment_id column, the Moving-Features
  "trajectory as ordered rows" shape shared with the CSV store.

Reading is one file per task-side parse (GPX files are small); many
files parallelize as a manifest of paths (``functions.udfs._parse_files``
on ``_map_manifest``) — the shape provided by ``gpx_table``.  A writer
round-trips the same schema.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from xml.sax.saxutils import escape

import pandas as pd

from ..functions.udfs import _parse_files

GPX_SCHEMA = (
    "kind string, route_id int, segment_id int, seq int, "
    "lon double, lat double, ele double, time string, name string"
)

_NS = "{http://www.topografix.com/GPX/1/1}"


def _strip(tag: str) -> str:
    return tag.split("}", 1)[1] if tag.startswith("{") else tag


def parse_gpx(text: str) -> pd.DataFrame:
    """One GPX document -> flat point rows (schema GPX_SCHEMA)."""
    root = ET.fromstring(text)
    rows = []

    def point_fields(el):
        ele = el.findtext(f"{_NS}ele") or el.findtext("ele")
        time = el.findtext(f"{_NS}time") or el.findtext("time")
        name = el.findtext(f"{_NS}name") or el.findtext("name")
        return {
            "lon": float(el.get("lon")),
            "lat": float(el.get("lat")),
            "ele": float(ele) if ele is not None else None,
            "time": time,
            "name": name,
        }

    seq = 0
    for el in root:
        tag = _strip(el.tag)
        if tag == "wpt":
            rows.append({"kind": "wpt", "route_id": None, "segment_id": None,
                         "seq": seq, **point_fields(el)})
            seq += 1
    for ri, rte in enumerate(e for e in root if _strip(e.tag) == "rte"):
        for si, el in enumerate(e for e in rte if _strip(e.tag) == "rtept"):
            rows.append({"kind": "rte", "route_id": ri, "segment_id": None,
                         "seq": si, **point_fields(el)})
    for ti, trk in enumerate(e for e in root if _strip(e.tag) == "trk"):
        for gi, seg in enumerate(e for e in trk if _strip(e.tag) == "trkseg"):
            for si, el in enumerate(e for e in seg if _strip(e.tag) == "trkpt"):
                rows.append({"kind": "trk", "route_id": ti, "segment_id": gi,
                             "seq": si, **point_fields(el)})
    cols = ["kind", "route_id", "segment_id", "seq", "lon", "lat", "ele", "time", "name"]
    return pd.DataFrame(rows, columns=cols)


def write_gpx(df: pd.DataFrame) -> str:
    """Round-trip writer for the GPX_SCHEMA shape (WritableFeatureSet
    analog).  Emits wpt, then rte, then trk/trkseg groups."""
    def pt(tag, r, indent):
        attrs = f'lon="{r.lon!r}" lat="{r.lat!r}"'
        inner = ""
        if pd.notna(r.ele):
            inner += f"<ele>{r.ele!r}</ele>"
        if r.time is not None and pd.notna(r.time):
            inner += f"<time>{escape(str(r.time))}</time>"
        if r.name is not None and pd.notna(r.name):
            inner += f"<name>{escape(str(r.name))}</name>"
        return f"{indent}<{tag} {attrs}>{inner}</{tag}>\n"

    out = ['<?xml version="1.0"?>\n<gpx xmlns="http://www.topografix.com/GPX/1/1" version="1.1">\n']
    for r in df[df["kind"] == "wpt"].sort_values("seq").itertuples():
        out.append(pt("wpt", r, "  "))
    for ri, g in df[df["kind"] == "rte"].groupby("route_id"):
        out.append("  <rte>\n")
        for r in g.sort_values("seq").itertuples():
            out.append(pt("rtept", r, "    "))
        out.append("  </rte>\n")
    for ti, g in df[df["kind"] == "trk"].groupby("route_id"):
        out.append("  <trk>\n")
        for gi, seg in g.groupby("segment_id"):
            out.append("    <trkseg>\n")
            for r in seg.sort_values("seq").itertuples():
                out.append(pt("trkpt", r, "      "))
            out.append("    </trkseg>\n")
        out.append("  </trk>\n")
    out.append("</gpx>\n")
    return "".join(out)


def gpx_table(spark, paths: list[str]):
    """Distributed read of many GPX files: the path list parallelizes and
    each task parses its files (file content read task-side — the
    DataStore probe/open shape for a folder of GPX files)."""
    return _parse_files(spark, paths, GPX_SCHEMA, parse_gpx)
