"""Vector-tile line cutting: clip polyline segments to slippy-tile cells.

The vector analog of the raster tile pyramid (and of the reference's
GridDerivation request∩data intersection, F/coverage/grid/
GridDerivation.java:332-401): every line segment is assigned to the tile
cells it actually crosses, clipped to each cell, and quantized to
tile-local integer coordinates — the cut step of Mapbox-Vector-Tile-style
serving pipelines.

Spark-first shape: **pure whole-stage-codegen** — candidate cells come from
``sequence()``/``explode`` over the segment's bbox rows/columns, the clip is
Liang–Barsky as CASE-guarded arithmetic columns (axis-parallel segments
handled by the guards, no division by zero evaluated), and quantization is
``floor``/``least``/``greatest``.  No UDF, no Python boundary, no shuffle
until the caller aggregates — at 100 TB this is a map-only stage.

Coordinates are WORLD TILE UNITS: x, y in [0, 2^zoom), one unit per tile
(callers project lon/lat first — e.g. the Web-Mercator transform of
functions/transforms.py; projection is its own gated concern).  The
bbox-candidate set can include corner cells a diagonal segment misses; the
``t0 < t1`` interval test removes them exactly.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def axis_interval_sql(p0: str, d: str, lo: str, hi: str) -> tuple[str, str]:
    """(t_enter, t_exit) SQL for one axis of Liang–Barsky over the slab
    [lo, hi).  Shared text between the Spark plan and the DuckDB oracle —
    only +,-,*,/ (guarded nonzero), CASE, comparisons.  Axis-parallel
    (d == 0): inside the slab contributes [0, 1], outside [1, 0] (empty)."""
    enter = (
        f"(CASE WHEN {d} > 0.0e0 THEN (({lo}) - ({p0})) / ({d}) "
        f"WHEN {d} < 0.0e0 THEN (({hi}) - ({p0})) / ({d}) "
        f"WHEN ({p0}) >= ({lo}) AND ({p0}) < ({hi}) THEN 0.0e0 ELSE 1.0e0 END)"
    )
    exit_ = (
        f"(CASE WHEN {d} > 0.0e0 THEN (({hi}) - ({p0})) / ({d}) "
        f"WHEN {d} < 0.0e0 THEN (({lo}) - ({p0})) / ({d}) "
        f"WHEN ({p0}) >= ({lo}) AND ({p0}) < ({hi}) THEN 1.0e0 ELSE 0.0e0 END)"
    )
    return enter, exit_


def quantize_sql(p0: str, d: str, t: str, cell: str, extent: int) -> str:
    """Tile-local integer coordinate of the clipped point p0 + d*t, clamped
    into [0, extent-1] (the exit boundary itself quantizes to extent)."""
    # plain integer literals (no Spark 'L' suffix): the text must parse in
    # DuckDB too; both engines coerce them to BIGINT next to the CAST
    return (
        f"greatest(0, least(CAST(floor(((({p0}) + ({d}) * ({t})) - CAST({cell} AS DOUBLE))"
        f" * {extent}.0e0) AS BIGINT), {extent - 1}))"
    )


def tile_cut_segments(
    segs: DataFrame,
    zoom: int,
    extent: int = 256,
    cols: tuple[str, str, str, str] = ("x0", "y0", "x1", "y1"),
) -> DataFrame:
    """One output row per (input segment, tile cell it crosses), with the
    clip parameters (t0, t1) and the quantized tile-local endpoints
    (qx0, qy0, qx1, qy1).  Input columns pass through."""
    x0, y0, x1, y1 = cols
    n = 1 << zoom
    dx, dy = f"({x1} - {x0})", f"({y1} - {y0})"
    out = (
        segs
        .withColumn("_cxlo", F.expr(
            f"greatest(0L, CAST(floor(least({x0}, {x1})) AS BIGINT))"))
        .withColumn("_cxhi", F.expr(
            f"least({n - 1}L, CAST(floor(greatest({x0}, {x1})) AS BIGINT))"))
        .withColumn("_cylo", F.expr(
            f"greatest(0L, CAST(floor(least({y0}, {y1})) AS BIGINT))"))
        .withColumn("_cyhi", F.expr(
            f"least({n - 1}L, CAST(floor(greatest({y0}, {y1})) AS BIGINT))"))
        .filter("_cxlo <= _cxhi AND _cylo <= _cyhi")
        .withColumn("tx", F.explode(F.sequence("_cxlo", "_cxhi")))
        .withColumn("ty", F.explode(F.sequence("_cylo", "_cyhi")))
        .drop("_cxlo", "_cxhi", "_cylo", "_cyhi")
    )
    ex, xx = axis_interval_sql(x0, dx, "CAST(tx AS DOUBLE)", "CAST(tx AS DOUBLE) + 1.0e0")
    ey, xy = axis_interval_sql(y0, dy, "CAST(ty AS DOUBLE)", "CAST(ty AS DOUBLE) + 1.0e0")
    out = (
        out.withColumn("t0", F.expr(f"greatest(0.0e0, {ex}, {ey})"))
        .withColumn("t1", F.expr(f"least(1.0e0, {xx}, {xy})"))
        .filter("t0 < t1")
        .withColumn("qx0", F.expr(quantize_sql(x0, dx, "t0", "tx", extent)))
        .withColumn("qy0", F.expr(quantize_sql(y0, dy, "t0", "ty", extent)))
        .withColumn("qx1", F.expr(quantize_sql(x0, dx, "t1", "tx", extent)))
        .withColumn("qy1", F.expr(quantize_sql(y0, dy, "t1", "ty", extent)))
    )
    return out


def tile_cut_lonlat(
    segs: DataFrame,
    zoom: int,
    extent: int = 256,
    cols: tuple[str, str, str, str] = ("lon0", "lat0", "lon1", "lat1"),
) -> DataFrame:
    """Lon/lat convenience wrapper: project segment endpoints through the
    slippy world mapping (Web-Mercator y, the same world_xy_cols every tile
    operator uses) into world tile units, then cut.  The projection treats
    each segment as a straight line in PROJECTED space — the standard
    vector-tile convention."""
    from ..functions.spark_exprs import world_xy_cols

    n = float(1 << zoom)
    x0, y0 = world_xy_cols(F.col(cols[0]), F.col(cols[1]))
    x1, y1 = world_xy_cols(F.col(cols[2]), F.col(cols[3]))
    segs = (
        segs.withColumn("x0", x0 * F.lit(n))
        .withColumn("y0", y0 * F.lit(n))
        .withColumn("x1", x1 * F.lit(n))
        .withColumn("y1", y1 * F.lit(n))
    )
    return tile_cut_segments(segs, zoom, extent)


POLY_CUT_SCHEMA = (
    "tx long, ty long, pkey long, clip_wkb binary, q_wkb binary, area double"
)


def tile_cut_polygons(
    polys: DataFrame,
    zoom: int,
    extent: int = 256,
    key_col: str = "pkey",
    wkb_col: str = "wkb",
) -> DataFrame:
    """Cut WKB polygons (holes supported) to slippy cells: one output row
    per (polygon, tile) with a non-empty intersection — the clipped
    geometry in world units (``clip_wkb``), the tile-local quantized
    geometry (``q_wkb``, integer grid 0..extent snapped via floor+clamp,
    the MVT coordinate convention), and the clipped area.

    Plan shape mirrors spatial_join_dist's distributed dimension: one Arrow
    stage derives the envelope per polygon, candidate cells explode
    JVM-side (sequence over the envelope's tile range), and a second Arrow
    stage runs the Sutherland–Hodgman convex clip (overlay.clip_convex —
    the exact kernel the `halfplane_clip` gate verifies per half-plane)
    only on (polygon, cell) pairs.  Coordinates are world TILE UNITS, as in
    tile_cut_segments.

    Scale note: a polygon fans out to (envelope tiles) rows — at deep zooms
    generate per-zoom with simplified geometry (ST_Simplify / the LOD hint),
    the standard MVT practice; the explode itself is distributed, so a hot
    polygon costs rows, not driver memory."""
    from ..functions.geometry import wkb_parse, wkb_polygon
    from ..functions.overlay import clip_convex, signed_area
    from ..functions.udfs import _map_rows
    from .spatial_join import _parts_df

    n = 1 << zoom

    def outer_ring(key, wkb):
        typ, rings = wkb_parse(wkb)
        return [(wkb, *rings[0])] if typ == "polygon" and rings else []

    env = _parts_df(polys, key_col, wkb_col, outer_ring)
    cand = (
        env.withColumn("_cxlo", F.expr("greatest(0, CAST(floor(xmin) AS BIGINT))"))
        .withColumn("_cxhi", F.expr(f"least({n - 1}, CAST(floor(xmax) AS BIGINT))"))
        .withColumn("_cylo", F.expr("greatest(0, CAST(floor(ymin) AS BIGINT))"))
        .withColumn("_cyhi", F.expr(f"least({n - 1}, CAST(floor(ymax) AS BIGINT))"))
        .filter("_cxlo <= _cxhi AND _cylo <= _cyhi")
        .withColumn("tx", F.explode(F.sequence("_cxlo", "_cxhi")))
        .withColumn("ty", F.explode(F.sequence("_cylo", "_cyhi")))
        .select("key", "wkb", "tx", "ty")
    )
    last: dict[bytes, list] = {}  # a polygon's candidate cells arrive together

    def rings_of(row, buf):
        buf = bytes(buf)
        if buf not in last:
            last.clear()
            last[buf] = wkb_parse(buf)[1]
        return last[buf], int(row["tx"]), int(row["ty"])

    def clip(row, rings, tx, ty):
        rx = np.array([tx, tx + 1, tx + 1, tx], dtype=np.float64)
        ry = np.array([ty, ty, ty + 1, ty + 1], dtype=np.float64)
        out_rings = []
        area = 0.0
        for i, (vx, vy) in enumerate(rings):
            vx = np.asarray(vx, np.float64)
            vy = np.asarray(vy, np.float64)
            if len(vx) > 1 and vx[0] == vx[-1] and vy[0] == vy[-1]:
                vx, vy = vx[:-1], vy[:-1]  # clip kernel wants open rings
            cx, cy = clip_convex(vx, vy, rx, ry)
            if len(cx) < 3:
                continue
            a = signed_area(cx, cy)
            if a == 0.0:
                continue
            out_rings.append((cx, cy))
            area += abs(a) if i == 0 else -abs(a)
        if not out_rings or area <= 0.0:
            return None
        q = lambda v, c: np.minimum(
            np.maximum(np.floor((v - c) * extent), 0), extent - 1
        )
        q_rings = [(q(cx, tx), q(cy, ty)) for cx, cy in out_rings]
        return {
            "tx": tx, "ty": ty, "pkey": row["key"],
            "clip_wkb": wkb_polygon(out_rings),
            "q_wkb": wkb_polygon(q_rings),
            "area": float(area),
        }

    return _map_rows(cand, POLY_CUT_SCHEMA, ["wkb"], rings_of, clip)


def tile_cut_oracle_sql(
    seg_rel: str, zoom: int, extent: int = 256,
    cols: tuple[str, str, str, str] = ("x0", "y0", "x1", "y1"),
) -> str:
    """DuckDB replica of tile_cut_segments over relation ``seg_rel``
    (columns gid, seg, x0, y0, x1, y1): identical expressions, identical
    evaluation order — returns per-(gid, tx, ty) segment count and the
    quantized-endpoint checksum the gate aggregates."""
    x0, y0, x1, y1 = cols
    n = 1 << zoom
    dx, dy = f"({x1} - {x0})", f"({y1} - {y0})"
    ex, xx = axis_interval_sql(x0, dx, "CAST(tx AS DOUBLE)", "CAST(tx AS DOUBLE) + 1.0e0")
    ey, xy = axis_interval_sql(y0, dy, "CAST(ty AS DOUBLE)", "CAST(ty AS DOUBLE) + 1.0e0")
    q = lambda p0, d, t, cell: quantize_sql(p0, d, t, cell, extent)
    return f"""
cand AS (
  SELECT s.*, tx.tx, ty.ty
  FROM {seg_rel} s,
       generate_series(0, {n - 1}) tx(tx), generate_series(0, {n - 1}) ty(ty)
  WHERE tx.tx >= greatest(0, CAST(floor(least({x0}, {x1})) AS BIGINT))
    AND tx.tx <= least({n - 1}, CAST(floor(greatest({x0}, {x1})) AS BIGINT))
    AND ty.ty >= greatest(0, CAST(floor(least({y0}, {y1})) AS BIGINT))
    AND ty.ty <= least({n - 1}, CAST(floor(greatest({y0}, {y1})) AS BIGINT))),
clipped AS (
  SELECT *, greatest(0.0e0, {ex}, {ey}) AS t0, least(1.0e0, {xx}, {xy}) AS t1
  FROM cand),
quant AS (
  SELECT gid, tx, ty,
         {q(x0, dx, 't0', 'tx')} AS qx0, {q(y0, dy, 't0', 'ty')} AS qy0,
         {q(x0, dx, 't1', 'tx')} AS qx1, {q(y0, dy, 't1', 'ty')} AS qy1
  FROM clipped WHERE t0 < t1)"""
