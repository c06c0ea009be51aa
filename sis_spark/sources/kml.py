"""KML store: Placemarks (Point / LineString) as feature DataFrames.

Re-derivation of the OGC KML 2.2 Placemark subset in the reference's
XML-DataStore style (the reference handles XML feature stores through
org.apache.sis.storage.xml; KML itself is out of its endorsed set, so
this follows the public OGC 07-147r2 spec directly) with stdlib
``xml.etree`` parsing:

* <Placemark><Point><coordinates>      -> one row, seq 0
* <Placemark><LineString><coordinates> -> one row per vertex, ordered seq
* <ExtendedData><Data name=..><value>  -> a map column

KML's <coordinates> order is lon,lat[,alt] tuples separated by
whitespace.  Reading is task-side per file over a manifest of paths (the
text stores' folder shape, ``functions.udfs._parse_files``); a writer
round-trips the same schema."""

from __future__ import annotations

import xml.etree.ElementTree as ET
from xml.sax.saxutils import escape

import pandas as pd

from ..functions.udfs import _parse_files

KML_SCHEMA = (
    "placemark_id int, name string, kind string, seq int, "
    "lon double, lat double, alt double, ext map<string,string>"
)

_NS = "{http://www.opengis.net/kml/2.2}"


def _find(el, tag):
    r = el.find(f"{_NS}{tag}")
    return r if r is not None else el.find(tag)


def _findall(el, tag):
    return el.findall(f"{_NS}{tag}") or el.findall(tag)


def _coords(text):
    out = []
    for tok in (text or "").split():
        parts = tok.split(",")
        lon, lat = float(parts[0]), float(parts[1])
        alt = float(parts[2]) if len(parts) > 2 else None
        out.append((lon, lat, alt))
    return out


def parse_kml(text: str) -> pd.DataFrame:
    """One KML document -> flat rows (schema KML_SCHEMA)."""
    root = ET.fromstring(text)
    rows = []
    pid = 0
    # Placemarks may sit under Document/Folder at any depth
    for pm in root.iter():
        if not pm.tag.endswith("Placemark"):
            continue
        name = None
        nm = _find(pm, "name")
        if nm is not None:
            name = nm.text
        ext = {}
        ed = _find(pm, "ExtendedData")
        if ed is not None:
            for d in _findall(ed, "Data"):
                v = _find(d, "value")
                ext[d.get("name")] = v.text if v is not None else None
        pt = _find(pm, "Point")
        ls = _find(pm, "LineString")
        if pt is not None:
            kind, cs = "point", _coords(_find(pt, "coordinates").text)
        elif ls is not None:
            kind, cs = "line", _coords(_find(ls, "coordinates").text)
        else:
            pid += 1
            continue
        for seq, (lon, lat, alt) in enumerate(cs):
            rows.append({
                "placemark_id": pid, "name": name, "kind": kind,
                "seq": seq, "lon": lon, "lat": lat, "alt": alt,
                "ext": ext or None,
            })
        pid += 1
    cols = ["placemark_id", "name", "kind", "seq", "lon", "lat", "alt", "ext"]
    return pd.DataFrame(rows, columns=cols)


def write_kml(df: pd.DataFrame) -> str:
    """Round-trip writer for the KML_SCHEMA shape."""
    out = [
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<kml xmlns="http://www.opengis.net/kml/2.2">\n<Document>\n'
    ]
    for pid, g in df.sort_values(["placemark_id", "seq"]).groupby(
        "placemark_id", sort=True
    ):
        first = g.iloc[0]
        out.append("  <Placemark>\n")
        if first["name"] is not None and pd.notna(first["name"]):
            out.append(f"    <name>{escape(str(first['name']))}</name>\n")
        ext = first["ext"]
        if ext:
            out.append("    <ExtendedData>\n")
            for k in sorted(ext):
                v = escape(str(ext[k])) if ext[k] is not None else ""
                out.append(
                    f'      <Data name="{escape(str(k))}">'
                    f"<value>{v}</value></Data>\n"
                )
            out.append("    </ExtendedData>\n")

        def tup(r):
            if r.alt is not None and pd.notna(r.alt):
                return f"{r.lon!r},{r.lat!r},{r.alt!r}"
            return f"{r.lon!r},{r.lat!r}"

        if first["kind"] == "point":
            out.append(
                "    <Point><coordinates>"
                + tup(g.iloc[0])
                + "</coordinates></Point>\n"
            )
        else:
            coords = " ".join(tup(r) for r in g.itertuples())
            out.append(
                "    <LineString><coordinates>"
                + coords
                + "</coordinates></LineString>\n"
            )
        out.append("  </Placemark>\n")
    out.append("</Document>\n</kml>\n")
    return "".join(out)


def kml_table(spark, paths: list[str]):
    """Distributed read of many KML files (task-side parse, the GPX
    folder shape)."""
    return _parse_files(spark, paths, KML_SCHEMA, parse_kml)
