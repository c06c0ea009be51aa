"""OGC Moving Features CSV store (OGC 14-084r2) — the trajectory side of
the reference's CSV DataStore.

Reference semantics re-derived (not ported) from:

* header parsing ``@stboundedby`` / ``@columns`` / ``@foliation``
  (S/csv/Store.java:229-330); relative time encoding — numbers in the
  declared unit since the ``@stboundedby`` start instant
  (S/csv/TimeEncoding.java:33-80);
* fixed leading columns mfidref, startTime, endTime, trajectory
  (S/csv/FeatureIterator.java:55-58);
* "omitted values are same as previous line" (reference test fixture
  S/csv/StoreTest.java testData(), third row);
* FRAGMENTED vs merged moving-feature representation
  (F/feature/FoliationRepresentation.java; S/csv/MovingFeatureIterator.java:33):
  merged trajectories concatenate the per-line segments in chronological
  order, dropping the joining vertex when it coincides with the previous
  segment's last vertex (MovingFeatureBuilder.java:210-249 ``assemble``),
  and reduce each dynamic attribute to value PERIODS, merging a period
  into the previous one when it is time-contiguous and the value is equal
  (MovingFeatureBuilder.java:133-141 ``addValue``).

Spark shape: file headers are read driver-side (the schema source, like
Spark's own CSV ``header`` option); the data rows parse executor-side
over a manifest of paths (``functions.udfs._map_manifest``) — one file
per manifest row, so a folder of MF-CSV files scales horizontally while
the sequential previous-line inheritance stays correct inside each file.
The merged representation is a groupBy(mfidref) + sort + JVM-side
higher-order ``aggregate`` fold — no Python in the merge path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import _map_manifest

_XSD_TO_SPARK = {
    "xsd:string": "string",
    "xsd:anyURI": "string",
    "xsd:integer": "bigint",
    "xsd:decimal": "double",
    "xsd:double": "double",
    "xsd:boolean": "boolean",
}


def _split_csv_line(line: str) -> list[str]:
    """Split one CSV line honoring double-quoted fields with '""' escapes
    (the reference's quote handling — test fixture has a quoted column
    name containing quotes and a comma)."""
    out, cur, i, q = [], [], 0, False
    while i < len(line):
        c = line[i]
        if q:
            if c == '"':
                if i + 1 < len(line) and line[i + 1] == '"':
                    cur.append('"')
                    i += 1
                else:
                    q = False
            else:
                cur.append(c)
        elif c == '"':
            q = True
        elif c == ",":
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
        i += 1
    out.append("".join(cur).strip())
    return out


_UNIT_SECONDS = {"sec": 1.0, "second": 1.0, "minute": 60.0, "min": 60.0,
                 "hour": 3600.0, "day": 86400.0, "absolute": None}


def parse_mf_header(text: str) -> dict:
    """Parse the ``@`` metadata lines into {crs, lower, upper, t0, t1,
    unit_seconds, columns: [(name, spark_type)], foliation}.

    ``unit_seconds is None`` means ABSOLUTE time encoding (ISO instants in
    the data rows, TimeEncoding.ABSOLUTE)."""
    meta: dict = {"crs": None, "lower": None, "upper": None, "t0": None,
                  "t1": None, "unit_seconds": None, "columns": [],
                  "foliation": None}
    for line in text.splitlines():
        if not line.startswith("@"):
            break
        parts = _split_csv_line(line)
        key = parts[0].lower()
        if key == "@stboundedby":
            # @stboundedby, <crs>, 2D, <lower x y>, <upper x y>[, t0, t1, unit]
            meta["crs"] = parts[1]
            meta["lower"] = tuple(float(v) for v in parts[3].split())
            meta["upper"] = tuple(float(v) for v in parts[4].split())
            if len(parts) > 6:
                meta["t0"], meta["t1"] = parts[5], parts[6]
                unit = parts[7] if len(parts) > 7 else "absolute"
                meta["unit_seconds"] = _UNIT_SECONDS[unit]
        elif key == "@columns":
            # @columns, mfidref, trajectory, <name>,xsd:<type>, ...
            names = parts[1:]
            if len(names) < 2 or names[0] != "mfidref" or names[1] != "trajectory":
                raise ValueError(f"unsupported @columns line: {line!r}")
            it = iter(names[2:])
            meta["columns"] = [
                (name, _XSD_TO_SPARK[next(it)]) for name in it
            ]
        elif key == "@foliation":
            meta["foliation"] = parts[1]
    return meta


def read_mf_header(path: str) -> dict:
    with open(path, "r") as f:
        head = []
        for line in f:
            if not line.startswith("@"):
                break
            head.append(line)
    return parse_mf_header("".join(head))


def _parse_time(tok: str, t0_us: int | None, unit_seconds: float | None):
    """One time token -> int64 epoch microseconds."""
    if unit_seconds is None or t0_us is None:
        return pd.Timestamp(tok.rstrip("Z")).value // 1000
    return t0_us + int(round(float(tok) * unit_seconds * 1e6))


def parse_mf_csv(text: str, header: dict | None = None) -> pd.DataFrame:
    """One MF-CSV document -> fragmented segment rows:
    (line_id, mfidref, start_us, end_us, trajectory list[float], <attrs>).

    Implements the previous-line inheritance: a data row may omit trailing
    attribute values; the omitted positions take the previous physical
    line's values (StoreTest.java testData() row 3)."""
    header = header or parse_mf_header(text)
    t0_us = (pd.Timestamp(header["t0"].rstrip("Z")).value // 1000
             if header["t0"] else None)
    unit = header["unit_seconds"]
    attr_names = [n for n, _t in header["columns"]]
    attr_types = [t for _n, t in header["columns"]]
    n_attrs = len(attr_names)

    rows = []
    prev_attrs: list = [None] * n_attrs
    line_id = 0
    for line in text.splitlines():
        if not line or line.startswith("@"):
            continue
        parts = _split_csv_line(line)
        mfid, ts, te, traj = parts[0], parts[1], parts[2], parts[3]
        got = parts[4:4 + n_attrs]
        attrs = []
        for j in range(n_attrs):
            if j < len(got) and got[j] != "":
                tok = got[j]
                if attr_types[j] == "bigint":
                    v: object = int(tok)
                elif attr_types[j] == "double":
                    v = float(tok)
                elif attr_types[j] == "boolean":
                    v = tok.lower() == "true"
                else:
                    v = tok
            else:
                v = prev_attrs[j]  # omitted -> same as previous line
            attrs.append(v)
        prev_attrs = attrs
        rows.append(
            [line_id, mfid, _parse_time(ts, t0_us, unit),
             _parse_time(te, t0_us, unit),
             [float(v) for v in traj.split()]] + attrs
        )
        line_id += 1
    cols = ["line_id", "mfidref", "start_us", "end_us", "trajectory"] + attr_names
    return pd.DataFrame(rows, columns=cols)


def mf_schema(header: dict) -> str:
    # backtick-quote: MF column names may be arbitrary strings (the
    # reference fixture has a quoted name containing '"' and a space)
    attrs = "".join(
        f", `{n.replace(chr(96), chr(96) * 2)}` {t}" for n, t in header["columns"]
    )
    return ("path string, line_id bigint, mfidref string, "
            "start_time timestamp_ntz, end_time timestamp_ntz, "
            "trajectory array<double>" + attrs)


def mf_table(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Distributed FRAGMENTED read of many MF-CSV files: one row per CSV
    line with absolute timestamps and the trajectory as an ordered flat
    [x1,y1,x2,y2,...] array (the reference's double[] representation,
    StoreTest.java testStaticFeatures).  Schema comes from the first
    file's header; all files must share it."""
    if not paths:
        raise ValueError("mf_table needs at least one path (got an empty path list)")
    header = read_mf_header(paths[0])
    schema = mf_schema(header)
    attr_names = [n for n, _t in header["columns"]]

    def read(row):
        path = row["path"]
        with open(path, "r") as f:
            out = parse_mf_csv(f.read(), read_mf_header(path))
        out.insert(0, "path", path)
        out["start_time"] = out.pop("start_us").astype("datetime64[us]")
        out["end_time"] = out.pop("end_us").astype("datetime64[us]")
        return out[["path", "line_id", "mfidref", "start_time",
                    "end_time", "trajectory"] + attr_names]

    return _map_manifest(spark, pd.DataFrame({"path": paths}), schema, read)


def mf_merge(df: DataFrame, attrs: list[str]) -> DataFrame:
    """Fragmented segments -> merged moving features (the reference's
    default, non-FRAGMENTED representation).

    Per (path, mfidref): segments sorted chronologically, trajectories
    concatenated with the joining vertex deduplicated when coincident
    (MovingFeatureBuilder.assemble), each attribute in ``attrs`` reduced
    to an array of (t0, t1, v) periods with contiguous equal values merged
    (MovingFeatureBuilder.addValue).  Entirely JVM-side: collect_list +
    array_sort + higher-order aggregate folds — the only shuffle is the
    groupBy on the feature key, so a billion-segment table scales like any
    keyed aggregation."""
    seg = F.struct(
        F.col("start_time").alias("t0"), F.col("end_time").alias("t1"),
        F.col("trajectory").alias("traj"),
        *[F.col(a).alias(a) for a in attrs],
    )
    g = (
        df.groupBy("path", "mfidref")
        .agg(F.array_sort(F.collect_list(seg)).alias("segs"))
    )
    merged_traj = F.expr(
        "aggregate(segs, cast(array() as array<double>), (acc, s) -> "
        "CASE WHEN size(acc) >= 2 AND element_at(acc, -2) = s.traj[0] "
        "          AND element_at(acc, -1) = s.traj[1] "
        "THEN concat(acc, slice(s.traj, 3, size(s.traj) - 2)) "
        "ELSE concat(acc, s.traj) END)"
    )

    def periods(a: str):
        acc_t = f"array<struct<t0:timestamp_ntz,t1:timestamp_ntz,v:{df.schema[a].dataType.simpleString()}>>"
        return F.expr(
            f"aggregate(segs, cast(array() as {acc_t}), (acc, s) -> "
            f"CASE WHEN size(acc) > 0 AND element_at(acc, -1).t1 = s.t0 "
            f"          AND element_at(acc, -1).v <=> s.{a} "
            f"THEN concat(slice(acc, 1, size(acc) - 1), array(named_struct("
            f"  't0', element_at(acc, -1).t0, 't1', s.t1, 'v', s.{a}))) "
            f"ELSE concat(acc, array(named_struct("
            f"  't0', s.t0, 't1', s.t1, 'v', s.{a}))) END)"
        )

    return g.select(
        "path", "mfidref",
        F.expr("segs[0].t0").alias("start_time"),
        F.expr("element_at(segs, -1).t1").alias("end_time"),
        merged_traj.alias("trajectory"),
        *[periods(a).alias(f"{a}_periods") for a in attrs],
    )


def format_mf_csv(pdf: pd.DataFrame, header: dict) -> str:
    """Writable-feature-set analog: fragmented segment rows (columns
    mfidref, start_us, end_us, trajectory, <attrs>) -> MF-CSV text with
    relative times in the header unit."""
    t0_us = pd.Timestamp(header["t0"].rstrip("Z")).value // 1000
    unit_us = header["unit_seconds"] * 1e6
    attr_names = [n for n, _t in header["columns"]]

    def fmt_t(us: int) -> str:
        # repr = shortest round-trip form ({:g} truncates to 6 significant
        # digits and silently corrupts dyadic fractions like .390625)
        v = (us - t0_us) / unit_us
        return repr(int(v)) if v == int(v) else repr(v)

    def quote(name: str) -> str:
        if "," in name or '"' in name:
            return '"' + name.replace('"', '""') + '"'
        return name

    xsd_of = {"string": "xsd:string", "bigint": "xsd:integer",
              "double": "xsd:decimal", "boolean": "xsd:boolean"}
    lines = [
        "@stboundedby, {crs}, 2D, {l0:g} {l1:g}, {u0:g} {u1:g}, {t0}, {t1}, sec".format(
            crs=header["crs"], l0=header["lower"][0], l1=header["lower"][1],
            u0=header["upper"][0], u1=header["upper"][1],
            t0=header["t0"], t1=header["t1"],
        ),
        "@columns, mfidref, trajectory" + "".join(
            f", {quote(n)},{xsd_of[t]}" for n, t in header["columns"]
        ),
        "@foliation,Time",
    ]
    cols = [pdf["mfidref"], pdf["start_us"], pdf["end_us"], pdf["trajectory"]]
    cols += [pdf[a] for a in attr_names]  # zip, not itertuples: attribute
    # names like '"type" code' are not Python identifiers
    for mfid, t_s, t_e, traj_v, *attr_vals in zip(*cols):
        traj = " ".join(repr(float(v)) for v in traj_v)
        vals = []
        # format by the DECLARED type: pandas widens int columns holding
        # missing values to float64, which must not leak '0.0'/'nan' text
        for v, (_n, typ) in zip(attr_vals, header["columns"]):
            if v is None or (isinstance(v, float) and v != v):
                vals.append("")
            elif typ == "bigint":
                vals.append(str(int(v)))
            elif typ == "double":
                vals.append(repr(float(v)))
            else:
                vals.append(str(v))
        while vals and vals[-1] == "":  # None tail -> true trailing omission
            vals.pop()
        lines.append(
            f"{mfid}, {fmt_t(t_s)}, {fmt_t(t_e)}, {traj}"
            + "".join(f", {v}" for v in vals)
        )
    return "\n".join(lines) + "\n"
