"""GeoPackage store — feature tables in a SQLite container (OGC GPKG).

The reference scopes GeoPackage in its incubator
(incubator/src/org.apache.sis.storage.geopackage/); this implementation
is original, built on the PUBLIC OGC GeoPackage Encoding Standard and the
stdlib ``sqlite3``:

* catalog: ``gpkg_contents`` (table name, data_type, bbox, srs) and
  ``gpkg_geometry_columns`` (geometry column, type, srs);
* geometry: GeoPackageBinary blobs = 'GP' magic, version, flags byte
  (envelope contents + byte order), srs_id, optional envelope, then
  standard WKB — which drops straight into the engine's WKB codec.

Spark shape: this is the engine's JDBC/SQL-store analog
(SQL/SQLStore.java, FeatureStream.java pushdown): the driver reads only
the catalog + MIN/MAX(rowid); the read fans out as a manifest of rowid
ranges (``functions.udfs._map_manifest``) and each range opens the
database read-only and executes

    SELECT ... WHERE rowid BETWEEN ? AND ? [AND <pushdown predicate>]

so both partitioned parallel scan AND predicate pushdown run inside the
store, exactly like ``spark.read.jdbc(partitionColumn=...)``.
"""

from __future__ import annotations

import os
import sqlite3
import struct
from contextlib import closing

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions.udfs import _map_manifest


def gpb_to_wkb(blob: bytes) -> bytes | None:
    """GeoPackageBinary -> WKB payload (None for empty-geometry flag)."""
    if blob is None:
        return None
    if blob[:2] != b"GP":
        raise ValueError("not a GeoPackageBinary blob")
    flags = blob[3]
    if (flags >> 4) & 1:  # empty geometry flag
        return None
    env_code = (flags >> 1) & 0b111
    env_len = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}[env_code]
    return bytes(blob[8 + env_len:])


def wkb_to_gpb(wkb: bytes | None, srs_id: int = 0,
               envelope: tuple | None = None) -> bytes | None:
    """WKB -> GeoPackageBinary (little-endian header, optional 2-D
    envelope)."""
    if wkb is None:
        return None
    flags = 0b0000_0001  # little-endian header
    env = b""
    if envelope is not None:
        flags |= 0b0000_0010
        env = struct.pack("<4d", *envelope)  # minx, maxx, miny, maxy
    return b"GP" + bytes([0, flags]) + struct.pack("<i", srs_id) + env + wkb


def create_geopackage(path: str, table: str, pdf: pd.DataFrame,
                      geom_col: str = "geom", geom_type: str = "GEOMETRY",
                      srs_id: int = 4326) -> None:
    """Write a feature table (pandas rows; ``geom_col`` holds WKB) into a
    new or existing GeoPackage with the required catalog entries."""
    if os.path.exists(path):
        con = sqlite3.connect(path)
    else:
        con = sqlite3.connect(path)
        con.executescript("""
CREATE TABLE gpkg_spatial_ref_sys (
  srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY,
  organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL,
  definition TEXT NOT NULL, description TEXT);
INSERT INTO gpkg_spatial_ref_sys VALUES
  ('WGS 84', 4326, 'EPSG', 4326, 'GEOGCS["WGS 84"]', NULL),
  ('undefined', 0, 'NONE', 0, 'undefined', NULL),
  ('undefined', -1, 'NONE', -1, 'undefined', NULL);
CREATE TABLE gpkg_contents (
  table_name TEXT NOT NULL PRIMARY KEY, data_type TEXT NOT NULL,
  identifier TEXT UNIQUE, description TEXT DEFAULT '',
  last_change DATETIME DEFAULT '2024-01-01T00:00:00Z',
  min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE,
  srs_id INTEGER);
CREATE TABLE gpkg_geometry_columns (
  table_name TEXT NOT NULL, column_name TEXT NOT NULL,
  geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL,
  z TINYINT NOT NULL, m TINYINT NOT NULL,
  CONSTRAINT pk_geom_cols PRIMARY KEY (table_name, column_name));
""")
    cols = []
    for c in pdf.columns:
        if c == geom_col:
            cols.append(f"{c} BLOB")
        elif pdf[c].dtype.kind in "iu":
            cols.append(f"{c} INTEGER")
        elif pdf[c].dtype.kind == "f":
            cols.append(f"{c} REAL")
        else:
            cols.append(f"{c} TEXT")
    con.execute(f"CREATE TABLE {table} (fid INTEGER PRIMARY KEY AUTOINCREMENT, "
                + ", ".join(cols) + ")")
    con.execute(
        "INSERT INTO gpkg_contents (table_name, data_type, identifier, srs_id)"
        " VALUES (?, 'features', ?, ?)", (table, table, srs_id))
    con.execute(
        "INSERT INTO gpkg_geometry_columns VALUES (?, ?, ?, ?, 0, 0)",
        (table, geom_col, geom_type, srs_id))
    rows = []
    for t in pdf.itertuples(index=False):
        row = []
        for c, v in zip(pdf.columns, t):
            if c == geom_col:
                row.append(wkb_to_gpb(v, srs_id))
            elif isinstance(v, float) and v != v:
                row.append(None)
            else:
                row.append(v)
        rows.append(row)
    con.executemany(
        f"INSERT INTO {table} ({', '.join(pdf.columns)}) VALUES "
        f"({', '.join('?' * len(pdf.columns))})", rows)
    con.commit()
    con.close()


def list_feature_tables(path: str) -> list[dict]:
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        cur = con.execute(
            "SELECT c.table_name, g.column_name, g.geometry_type_name, c.srs_id"
            " FROM gpkg_contents c JOIN gpkg_geometry_columns g"
            " ON c.table_name = g.table_name WHERE c.data_type = 'features'")
        return [{"table": t, "geom_col": g, "geom_type": gt, "srs_id": s}
                for t, g, gt, s in cur.fetchall()]
    finally:
        con.close()


def geopackage_table(
    spark: SparkSession, path: str, table: str, predicate: str | None = None,
) -> DataFrame:
    """Distributed partitioned read of one feature table.  ``predicate``
    (SQL over the table's columns) is PUSHED DOWN into every partition's
    sqlite query — rows failing it never leave the store."""
    meta = {m["table"]: m for m in list_feature_tables(path)}
    if table not in meta:
        raise ValueError(f"{table!r} is not a feature table; have {sorted(meta)}")
    geom_col = meta[table]["geom_col"]

    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        lo, hi = con.execute(f"SELECT MIN(rowid), MAX(rowid) FROM {table}").fetchone()
        cur = con.execute(f"SELECT * FROM {table} LIMIT 0")
        col_names = [d[0] for d in cur.description]
        type_rows = con.execute(f"PRAGMA table_info({table})").fetchall()
    finally:
        con.close()
    sql_types = {r[1]: (r[2] or "").upper() for r in type_rows}

    def spark_type(c: str) -> str:
        if c == geom_col:
            return "binary"
        t = sql_types.get(c, "")
        if "INT" in t:
            return "bigint"
        if t in ("REAL", "DOUBLE", "FLOAT"):
            return "double"
        if t == "BLOB":
            return "binary"
        return "string"

    schema = ", ".join(f"`{c}` {spark_type(c)}" for c in col_names)
    if lo is None:
        return spark.createDataFrame([], schema)

    edges = np.linspace(lo, hi + 1, spark.sparkContext.defaultParallelism + 1
                        ).astype(np.int64)
    ranges = pd.DataFrame({"lo": edges[:-1], "hi": edges[1:] - 1})
    ranges = ranges[ranges["hi"] >= ranges["lo"]]
    where_extra = f" AND ({predicate})" if predicate else ""

    def read_range(row):
        with closing(sqlite3.connect(f"file:{path}?mode=ro", uri=True)) as c:
            rows = c.execute(
                f"SELECT * FROM {table} WHERE rowid BETWEEN ? AND ?"
                + where_extra, (row["lo"], row["hi"])).fetchall()
        if not rows:
            return None
        cols = dict(zip(col_names, map(list, zip(*rows))))
        cols[geom_col] = [gpb_to_wkb(v) for v in cols[geom_col]]
        return cols

    return _map_manifest(spark, ranges, schema, read_range)
