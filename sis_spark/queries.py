"""Query catalog: every gate query as (spark_fn, duckdb_oracle_sql) pairs.

Each Spark query and its oracle are independent implementations of the same
semantics (the differential-testing style of the reference,
Ft/filter/sqlmm/RegistryTestCase.java) — the oracle is plain DuckDB SQL over
the pre-registered TESTDATA views.

Bit-exactness rules (see synth.py): outputs are integers, strings, or doubles
produced by identical IEEE op sequences in both engines.  Raw transcendental
outputs are floored with an irrational offset so that special values (e.g.
lat=0 -> Mercator y ~ -7e-10 vs 0.0 across libms) cannot straddle a boundary.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import synth
from .functions.cells import cell_sql_flat
from .functions.spark_exprs import (
    cell_col,
    haversine_col,
    mercator_cols,
    point_lonlat_cols,
    query_lonlat_cols,
    tile_cols,
)
from .functions.transforms import tile_sql
from .operators import tiling
from .operators.knn import knn_join
from .operators.query import FeatureQuery, SortProperty, bbox_filter, comparison, concat_feature_sets, join_features
from .operators.spatial_join import spatial_join

CELL_RES = 12
TILE_ZOOM = 8
KNN_K = 5


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    lon, lat = point_lonlat_cols("event_id")
    return ev.select("event_id", lon.alias("lon"), lat.alias("lat"))


def _points_sql() -> str:
    return (
        f"SELECT event_id, {synth.point_lon_sql('event_id')} AS lon, "
        f"{synth.point_lat_sql('event_id')} AS lat FROM events"
    )


def _supplier_polygons(spark: SparkSession, sf_dir: str):
    keys = [r[0] for r in _read(spark, sf_dir, "supplier").select("s_suppkey").collect()]
    return synth.polygon_table_np(sorted(keys))


# ================================================================ geo queries

def q_cell_counts(spark, sf_dir):
    """Cell-frequency histogram at res 12 (the skew-sampling primitive)."""
    pts = _events_points(spark, sf_dir)
    return (
        pts.withColumn("cell", cell_col(F.col("lon"), F.col("lat"), CELL_RES))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_cell_counts_oracle():
    cell = cell_sql_flat("lon", "lat", CELL_RES)
    return (
        f"SELECT {cell} AS cell, count(*) AS n FROM ({_points_sql()}) p "
        f"GROUP BY 1 ORDER BY cell"
    )


CC_RES = 12   # compaction gate: input cell resolution (410 + 47 real merges)
CC_MIN = 8    # stop promoting above this resolution (merges stop at 10)


def q_cell_compact(spark, sf_dir):
    """Cell-set compaction (the H3 compact analog, operators/tiling.py):
    the distinct res-12 cells of the events points collapse bottom-up —
    wherever all four children of a parent are present they are replaced
    by the parent, recursively to res 8 (at sf0.01 that is 410 first-level
    and 47 second-level real merges, then two provably-empty rounds).
    Pure integer codegen (parent =
    cell >> 2 in the Morton scheme), one groupBy per level.  The oracle
    replays the identical rounds as explicit GROUP BY/HAVING count(*)=4
    stages."""
    from .operators.tiling import compact_cells

    pts = _events_points(spark, sf_dir)
    cells = pts.select(
        cell_col(F.col("lon"), F.col("lat"), CC_RES).alias("cell")
    )
    out = compact_cells(cells, min_res=CC_MIN)
    return (
        out.select("cell", F.col("res").cast("int").alias("res"))
        .orderBy("cell")
    )


def q_cell_compact_oracle():
    cell = cell_sql_flat("lon", "lat", CC_RES)
    parts = [
        f"c{CC_RES} AS (SELECT DISTINCT {cell} AS cell FROM ({_points_sql()}) p)"
    ]
    selects = []
    cur = f"c{CC_RES}"
    for r in range(CC_RES, CC_MIN, -1):
        parts.append(
            f"f{r - 1} AS (SELECT cell // 4 AS cell FROM {cur} "
            f"GROUP BY 1 HAVING count(*) = 4)"
        )
        parts.append(
            f"k{r} AS (SELECT cell, {r} AS res FROM {cur} "
            f"WHERE cell // 4 NOT IN (SELECT cell FROM f{r - 1}))"
        )
        selects.append(f"SELECT cell, res FROM k{r}")
        cur = f"f{r - 1}"
    selects.append(f"SELECT cell, {CC_MIN} AS res FROM {cur}")
    return (
        "WITH " + ",\n".join(parts) + "\n"
        + " UNION ALL ".join(selects) + " ORDER BY cell"
    )


def q_cell_uncompact(spark, sf_dir):
    """compact -> uncompact roundtrip under the oracle gate: expanding the
    minimal mixed-res cover back to res 12 must reproduce EXACTLY the
    distinct res-12 cell set (disjointness means no duplicates to hide
    behind a distinct — none is applied).  Exercises the sequence/explode
    expansion (operators/tiling.uncompact_cells) end to end; the oracle is
    simply the distinct cell set."""
    from .operators.tiling import compact_cells, uncompact_cells

    pts = _events_points(spark, sf_dir)
    cells = pts.select(
        cell_col(F.col("lon"), F.col("lat"), CC_RES).alias("cell")
    )
    comp = compact_cells(cells, min_res=CC_MIN)
    return uncompact_cells(comp, to_res=CC_RES).orderBy("cell")


def q_cell_uncompact_oracle():
    cell = cell_sql_flat("lon", "lat", CC_RES)
    return (
        f"SELECT DISTINCT {cell} AS cell FROM ({_points_sql()}) p ORDER BY cell"
    )


HEX_D = 5.0  # hex center spacing in degrees for the gate


def q_hex_counts(spark, sf_dir):
    """Hexagonal cell-frequency histogram (the H3-analog binning,
    functions/hexgrid.py): exact nearest-center assignment over the
    two-staggered-lattice construction, pure codegen, shared expression
    text with the oracle — no rounding function anywhere (floor(x + 1/2)
    sidesteps the half-to-even vs half-away dialect mismatch)."""
    from .functions.hexgrid import hex_cell_expr

    pts = _events_points(spark, sf_dir)
    return (
        pts.withColumn("cell", hex_cell_expr("lon", "lat", HEX_D))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cell")
    )


def q_hex_counts_oracle():
    from .functions.hexgrid import flit, hex_cell_sql

    cell = hex_cell_sql("lon", "lat", flit(HEX_D))
    return (
        f"SELECT {cell} AS cell, count(*) AS n FROM ({_points_sql()}) p "
        f"GROUP BY 1 ORDER BY cell"
    )


def q_tile_counts(spark, sf_dir):
    """Web-Mercator tile histogram at zoom 8 (raster-side tiling)."""
    return tiling.tile_counts(_events_points(spark, sf_dir), "lon", "lat", TILE_ZOOM)


def q_tile_counts_oracle():
    sx, sy = tile_sql("lon", "lat", TILE_ZOOM)
    return (
        f"SELECT {sx} AS tx, {sy} AS ty, count(*) AS n FROM ({_points_sql()}) p "
        f"GROUP BY 1, 2 ORDER BY tx, ty"
    )


def q_tile_pyramid(spark, sf_dir):
    """Pyramid rollup z8 -> z0 (TileMatrixSet zoom hierarchy)."""
    base = tiling.tile_counts(_events_points(spark, sf_dir), "lon", "lat", TILE_ZOOM)
    return tiling.pyramid_rollup(base, max_zoom=TILE_ZOOM, min_zoom=0)


def q_tile_pyramid_oracle():
    sx, sy = tile_sql("lon", "lat", TILE_ZOOM)
    levels = []
    for z in range(0, TILE_ZOOM + 1):
        shift = TILE_ZOOM - z
        levels.append(
            f"SELECT {z} AS z, ({sx} >> {shift}) AS tx, ({sy} >> {shift}) AS ty, "
            f"count(*) AS n FROM ({_points_sql()}) p GROUP BY 2, 3"
        )
    return " UNION ALL ".join(levels)


def q_spatial_join(spark, sf_dir):
    """Flagship: point-in-polygon join, two-phase (cell prefilter + PIP refine)."""
    pts = _events_points(spark, sf_dir)
    polys = _supplier_polygons(spark, sf_dir)
    return spatial_join(pts, polys, "lon", "lat").select(
        F.col("event_id").alias("pid"), "poly_key"
    )


def q_spatial_join_oracle():
    return synth.pip_join_oracle_sql(
        f"SELECT event_id AS pid, {synth.point_lon_sql('event_id')} AS lon, "
        f"{synth.point_lat_sql('event_id')} AS lat FROM events"
    )


def q_spatial_join_agg(spark, sf_dir):
    """Polygon hit statistics (join + partial/final aggregation)."""
    j = q_spatial_join(spark, sf_dir)
    return j.groupBy("poly_key").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("pid").alias("min_pid"),
        F.max("pid").alias("max_pid"),
    )


def q_spatial_join_agg_oracle():
    inner = q_spatial_join_oracle()
    return (
        f"SELECT poly_key, count(*) AS n_points, min(pid) AS min_pid, "
        f"max(pid) AS max_pid FROM ({inner}) j GROUP BY 1 ORDER BY poly_key"
    )


def q_spatial_join_salted(spark, sf_dir):
    """Same join with ``salt=8``: the covering join SHUFFLES on (cell, salt)
    with every covering cell salted 8 ways (the long-tail path for
    non-broadcastable polygon sets) — same oracle as the broadcast path,
    proving the two plans agree at the gate."""
    pts = _events_points(spark, sf_dir)
    polys = _supplier_polygons(spark, sf_dir)
    return spatial_join(pts, polys, "lon", "lat", salt=8).select(
        F.col("event_id").alias("pid"), "poly_key"
    )


def q_spatial_join_auto_salt(spark, sf_dir):
    """Shuffle join with MEASURED salting: the sampled cell histogram picks
    the hot cells and the salt factor (hot_cells_with_counts); only hot
    cells pay the dimension-side explosion.  Same oracle again — the
    auto-tuned skew path must be value-identical to every other strategy."""
    pts = _events_points(spark, sf_dir)
    polys = _supplier_polygons(spark, sf_dir)
    return spatial_join(pts, polys, "lon", "lat", salt="auto").select(
        F.col("event_id").alias("pid"), "poly_key"
    )


def _supplier_polygons_df(spark, sf_dir):
    """Distributed WKB polygon dimension: generated executor-side
    (mapInPandas over supplier keys), never landing on the driver."""
    import pandas as _pd

    from .functions import geometry as _geo

    def mk_wkb(batches):
        for pdf in batches:
            keys = pdf["s_suppkey"].to_numpy()
            yield _pd.DataFrame({
                "key": keys,
                "wkb": [
                    bytes(_geo.wkb_polygon([synth.polygon_vertices_np(int(k))]))
                    for k in keys
                ],
            })

    return (
        _read(spark, sf_dir, "supplier")
        .select("s_suppkey")
        # supplier parquet is a single row group -> 1-split scan; without
        # this the whole WKB-generation + covering-cell chain runs on one
        # core until the first shuffle (NOTES plan-shape lesson 5)
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(mk_wkb, schema="key long, wkb binary")
    )


def q_spatial_join_dist(spark, sf_dir):
    """Same join with the polygon side a DATAFRAME end to end: normalized,
    covered, and joined without ever landing on the driver — the
    non-broadcastable-dimension plan (VERDICT r1 item 3).  Same oracle as
    every other strategy."""
    from .operators.spatial_join import spatial_join_dist

    pts = _events_points(spark, sf_dir)
    return spatial_join_dist(pts, _supplier_polygons_df(spark, sf_dir), "lon", "lat").select(
        F.col("event_id").alias("pid"), "poly_key"
    )


def q_spatial_join_compact(spark, sf_dir):
    """Same join through the MIXED-RESOLUTION covering path: interior
    covering cells compacted per polygon (compact_cover, the H3 compact
    analog — dimension table shrinks ~4^levels on the interior), point side
    joins via a codegen ancestor-cell chain explode.  Same oracle as every
    other strategy — the compacted cover must be value-identical."""
    from .operators.spatial_join import spatial_join_dist

    pts = _events_points(spark, sf_dir)
    return spatial_join_dist(
        pts, _supplier_polygons_df(spark, sf_dir), "lon", "lat", compact_levels=3
    ).select(F.col("event_id").alias("pid"), "poly_key")


def q_polygon_pairs(spark, sf_dir):
    """Polygon-vs-polygon spatial self-join: covering-cell bucket candidates,
    codegen envelope prune, DE-9IM refine (general-position kernel,
    functions/relate.py).  Output: intersecting pairs with containment flags
    (BinarySpatialFilter.java:43 / GeometryWrapper.predicate:287 parity)."""
    from .operators.spatial_join import polygon_pair_join

    return polygon_pair_join(_supplier_polygons_df(spark, sf_dir)).select(
        "a", "b", "contains_ab", "contains_ba"
    )


def q_polygon_pairs_oracle():
    return synth.polygon_pair_oracle_sql()


N_LINE_EVENTS = 360  # 60 global polylines x 6 vertices


def _gate_lines_df(spark, sf_dir):
    """Mixed-dimension join operands: 60 global zigzag polylines from event
    points PLUS one 3-vertex mini-line per (key % 4 == 1) supplier polygon,
    placed strictly inside it (vertices within 0.112*r of the star-convex
    center, inside-radius >= 0.485*r) so the WITHIN branch is exercised.
    Mini-line vertex arithmetic uses the same FP expression order as the SQL
    oracle (bit-exact parity)."""
    import pandas as _pd

    from .functions import geometry as _geo
    from .functions.sqlmm import st_linestring_udf

    pts = _events_points(spark, sf_dir).filter(F.col("event_id") < N_LINE_EVENTS)
    g = (
        pts.withColumn("gid", F.col("event_id") % 60)
        .groupBy("gid")
        .agg(F.sort_array(F.collect_list(F.struct("event_id", "lon", "lat"))).alias("s"))
        .select(
            "gid",
            F.transform("s", lambda r: r["lon"]).alias("xs"),
            F.transform("s", lambda r: r["lat"]).alias("ys"),
        )
    )
    zig = g.select(F.col("gid").alias("key"),
                   st_linestring_udf()(F.col("xs"), F.col("ys")).alias("wkb"))

    sup = _read(spark, sf_dir, "supplier").select("s_suppkey").filter(
        F.col("s_suppkey") % 4 == 1)

    def mk_mini(batches):
        import numpy as _np

        for pdf in batches:
            keys = pdf["s_suppkey"].to_numpy()
            if len(keys) == 0:
                continue
            p = synth.polygon_params_np(keys)
            rows = []
            for k, cx, cy, r in zip(keys.tolist(), p["cx"].tolist(),
                                    p["cy"].tolist(), p["r"].tolist()):
                vx = _np.array([cx - 0.1 * r, cx, cx + 0.1 * r])
                vy = _np.array([cy - 0.05 * r, cy + 0.05 * r, cy])
                rows.append({"key": 1000 + k, "wkb": bytes(_geo.wkb_linestring(vx, vy))})
            yield _pd.DataFrame(rows)

    mini = sup.mapInPandas(mk_mini, schema="key long, wkb binary")
    return zig.unionByName(mini)


def q_line_predicates(spark, sf_dir):
    """Line-vs-polygon DE-9IM join (dim-1 x dim-2 dispatch of
    BinarySpatialFilter.java:43): covering-cell candidates on both
    distributed sides, envelope prune, mixed-dimension refine.  res=3
    because the zigzag lines are global-extent (their covering tables would
    explode at point-join resolutions)."""
    from .operators.spatial_join import line_polygon_join

    lines = _gate_lines_df(spark, sf_dir)
    out = line_polygon_join(lines, _supplier_polygons_df(spark, sf_dir), res=3)
    return out.select("lkey", "pkey", "within", "crosses")


def _line_sets_sql() -> str:
    """Shared oracle CTE prefix: polygon vertices/edges + the gate line set
    (zigzag + mini) as ordered vertices, open segments, envelopes, and
    envelope-overlap candidates."""
    return f"""{synth.polygon_vertices_sql()},
pts AS ({_points_sql()}),
lv AS (
  SELECT event_id % 60 AS gid, event_id AS ord, lon AS vx, lat AS vy
  FROM pts WHERE event_id < {N_LINE_EVENTS}),
mini AS (
  SELECT 1000 + p.key AS gid, j.j AS ord,
         CASE j.j WHEN 0 THEN p.cx - 1.0e-1 * p.r
                  WHEN 1 THEN p.cx ELSE p.cx + 1.0e-1 * p.r END AS vx,
         CASE j.j WHEN 0 THEN p.cy - 5.0e-2 * p.r
                  WHEN 1 THEN p.cy + 5.0e-2 * p.r ELSE p.cy END AS vy
  FROM par p CROSS JOIN generate_series(0, 2) j(j)
  WHERE (p.key % 4) = 1),
allv AS (SELECT * FROM lv UNION ALL SELECT * FROM mini),
lseg0 AS (
  SELECT gid, ord, vx, vy,
         lead(vx) OVER (PARTITION BY gid ORDER BY ord) AS wx,
         lead(vy) OVER (PARTITION BY gid ORDER BY ord) AS wy
  FROM allv),
lseg AS (SELECT * FROM lseg0 WHERE wx IS NOT NULL),
lenv AS (SELECT gid, min(vx) AS xmin, min(vy) AS ymin,
                max(vx) AS xmax, max(vy) AS ymax FROM allv GROUP BY 1),
penv AS (SELECT key, min(vx) AS xmin, min(vy) AS ymin,
                max(vx) AS xmax, max(vy) AS ymax FROM verts GROUP BY 1),
cand AS (
  SELECT l.gid, p.key
  FROM lenv l JOIN penv p
    ON l.xmin <= p.xmax AND p.xmin <= l.xmax
   AND l.ymin <= p.ymax AND p.ymin <= l.ymax)"""


def q_line_predicates_oracle():
    return f"""
WITH {_line_sets_sql()},
crossings AS (
  SELECT c.gid, c.key, count(*) AS nx
  FROM cand c
  JOIN lseg s ON s.gid = c.gid
  JOIN edges e ON e.key = c.key
  WHERE (((s.wx - s.vx) * (e.vy - s.vy) - (s.wy - s.vy) * (e.vx - s.vx))
       * ((s.wx - s.vx) * (e.wy - s.vy) - (s.wy - s.vy) * (e.wx - s.vx)) < 0)
    AND (((e.wx - e.vx) * (s.vy - e.vy) - (e.wy - e.vy) * (s.vx - e.vx))
       * ((e.wx - e.vx) * (s.wy - e.vy) - (e.wy - e.vy) * (s.wx - e.vx)) < 0)
  GROUP BY 1, 2),
vin AS (
  SELECT c.gid, c.key, v.ord,
         (sum(CASE WHEN ((e.vy > v.vy) <> (e.wy > v.vy))
                    AND (v.vx < (e.wx - e.vx) * (v.vy - e.vy) / (e.wy - e.vy) + e.vx)
              THEN 1 ELSE 0 END) % 2) = 1 AS inside
  FROM cand c JOIN allv v ON v.gid = c.gid JOIN edges e ON e.key = c.key
  GROUP BY c.gid, c.key, v.ord),
vagg AS (SELECT gid, key, bool_or(inside) AS any_in, bool_and(inside) AS all_in
         FROM vin GROUP BY 1, 2),
flags AS (
  SELECT c.gid, c.key, coalesce(x.nx, 0) > 0 AS crossed, va.any_in, va.all_in
  FROM cand c
  LEFT JOIN crossings x ON x.gid = c.gid AND x.key = c.key
  JOIN vagg va ON va.gid = c.gid AND va.key = c.key)
SELECT gid AS lkey, key AS pkey,
       (NOT crossed AND all_in AND any_in) AS within,
       crossed AS crosses
FROM flags
WHERE crossed OR any_in
ORDER BY lkey, pkey"""


def q_line_clip(spark, sf_dir):
    """ST_Intersection(line, polygon) as a distributed length join: the
    parametric clip kernel (overlay.clip_line_polygon) over the same line +
    polygon sets as `line_predicates`; output the quantized clipped length
    per intersecting pair (int64 per-interval floor — order-independent,
    SQL-replicable)."""
    from .operators.spatial_join import line_clip_join

    lines = _gate_lines_df(spark, sf_dir)
    return line_clip_join(lines, _supplier_polygons_df(spark, sf_dir), res=3)


def q_line_clip_oracle():
    # t/u crossing parameters, midpoint classification, and the quantized
    # interval length all use the EXACT FP expression order of
    # overlay.clip_line_polygon (denominator, numerators, mid, floor chain).
    return f"""
WITH {_line_sets_sql()},
tv AS (
  SELECT c.gid, c.key, s.ord AS sid, s.vx, s.vy, s.wx, s.wy,
         ((e.vx - s.vx) * (e.wy - e.vy) - (e.vy - s.vy) * (e.wx - e.vx))
         / ((s.wx - s.vx) * (e.wy - e.vy) - (s.wy - s.vy) * (e.wx - e.vx)) AS t,
         ((e.vx - s.vx) * (s.wy - s.vy) - (e.vy - s.vy) * (s.wx - s.vx))
         / ((s.wx - s.vx) * (e.wy - e.vy) - (s.wy - s.vy) * (e.wx - e.vx)) AS u
  FROM cand c
  JOIN lseg s ON s.gid = c.gid
  JOIN edges e ON e.key = c.key),
bounds AS (
  SELECT gid, key, sid, vx, vy, wx, wy, t
  FROM tv WHERE t > 0.0e0 AND t < 1.0e0 AND u > 0.0e0 AND u < 1.0e0
  UNION ALL
  SELECT c.gid, c.key, s.ord AS sid, s.vx, s.vy, s.wx, s.wy, b.t
  FROM cand c JOIN lseg s ON s.gid = c.gid
  CROSS JOIN (SELECT 0.0e0 AS t UNION ALL SELECT 1.0e0 AS t) b),
iv AS (
  SELECT gid, key, sid, vx, vy, wx, wy, t,
         lead(t) OVER (PARTITION BY gid, key, sid ORDER BY t) AS tn
  FROM bounds),
mids AS (
  SELECT gid, key, sid, t, tn,
         vx + (wx - vx) * (5.0e-1 * (t + tn)) AS mx,
         vy + (wy - vy) * (5.0e-1 * (t + tn)) AS my,
         sqrt((wx - vx) * (wx - vx) + (wy - vy) * (wy - vy)) * (tn - t) * 1.0e7 AS rawlen
  FROM iv WHERE tn IS NOT NULL AND tn > t),
cls AS (
  SELECT m.gid, m.key, m.sid, m.t, m.rawlen,
         (sum(CASE WHEN ((e.vy > m.my) <> (e.wy > m.my))
                    AND (m.mx < (e.wx - e.vx) * (m.my - e.vy) / (e.wy - e.vy) + e.vx)
              THEN 1 ELSE 0 END) % 2) = 1 AS inside
  FROM mids m JOIN edges e ON e.key = m.key
  GROUP BY m.gid, m.key, m.sid, m.t, m.rawlen)
SELECT gid AS lkey, key AS pkey,
       CAST(sum(CASE WHEN inside THEN CAST(floor(rawlen) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS qclip
FROM cls
GROUP BY 1, 2
HAVING CAST(sum(CASE WHEN inside THEN CAST(floor(rawlen) AS BIGINT) ELSE 0 END)
            AS BIGINT) > 0
ORDER BY 1, 2"""


def q_geom_distance(spark, sf_dir):
    """General ST_Distance(geometry, geometry) as a distance join
    (SQLMM.java:169; reference delegates to JTS via GeometryWrapper):
    line-vs-polygon pairs over the gate line + polygon sets, zero when they
    intersect (vertex containment or proper crossing — the same FP
    expressions the predicate gates already mirror), else the min
    clamped-projection distance over BOTH vertex-vs-edge directions.
    Plan: small dimension broadcast, one Arrow stage over the pairs."""
    from .functions.sqlmm import st_distance_q_udf

    lines = (
        _gate_lines_df(spark, sf_dir)
        .filter(F.col("key") % 3 == 0)
        .select(F.col("key").alias("lkey"), F.col("wkb").alias("lwkb"))
    )
    polys = (
        _supplier_polygons_df(spark, sf_dir)
        .filter(F.col("key") % 5 == 0)
        .select(F.col("key").alias("pkey"), F.col("wkb").alias("pwkb"))
    )
    pairs = lines.crossJoin(F.broadcast(polys))
    return pairs.select(
        "lkey", "pkey",
        st_distance_q_udf()(F.col("lwkb"), F.col("pwkb")).alias("qdist"),
    )


def q_geom_distance_oracle():
    # d2 terms mirror geometry.point_segments_dist2 exactly (dx, len2, tt,
    # clamp, ex/ey squares); crossing + membership mirror the relate
    # kernels already gated by line_predicates.
    return f"""
WITH {_line_sets_sql()},
pairs AS (
  SELECT l.gid, p.key FROM lenv l CROSS JOIN penv p
  WHERE (l.gid % 3) = 0 AND (p.key % 5) = 0),
pe AS (
  SELECT e.key, e.vx, e.vy, e.wx - e.vx AS dx, e.wy - e.vy AS dy,
         (e.wx - e.vx) * (e.wx - e.vx) + (e.wy - e.vy) * (e.wy - e.vy) AS len2
  FROM edges e),
ls AS (
  SELECT s.gid, s.vx, s.vy, s.wx - s.vx AS dx, s.wy - s.vy AS dy,
         (s.wx - s.vx) * (s.wx - s.vx) + (s.wy - s.vy) * (s.wy - s.vy) AS len2
  FROM lseg s),
da AS (  -- line vertices vs polygon edges
  SELECT pr.gid, pr.key, min(
    (v.vx - (e.vx + e.dx * (CASE WHEN ((v.vx - e.vx) * e.dx + (v.vy - e.vy) * e.dy) / e.len2 < 0.0e0 THEN 0.0e0
                                 WHEN ((v.vx - e.vx) * e.dx + (v.vy - e.vy) * e.dy) / e.len2 > 1.0e0 THEN 1.0e0
                                 ELSE ((v.vx - e.vx) * e.dx + (v.vy - e.vy) * e.dy) / e.len2 END)))
    * (v.vx - (e.vx + e.dx * (CASE WHEN ((v.vx - e.vx) * e.dx + (v.vy - e.vy) * e.dy) / e.len2 < 0.0e0 THEN 0.0e0
                                   WHEN ((v.vx - e.vx) * e.dx + (v.vy - e.vy) * e.dy) / e.len2 > 1.0e0 THEN 1.0e0
                                   ELSE ((v.vx - e.vx) * e.dx + (v.vy - e.vy) * e.dy) / e.len2 END)))
    + (v.vy - (e.vy + e.dy * (CASE WHEN ((v.vx - e.vx) * e.dx + (v.vy - e.vy) * e.dy) / e.len2 < 0.0e0 THEN 0.0e0
                                   WHEN ((v.vx - e.vx) * e.dx + (v.vy - e.vy) * e.dy) / e.len2 > 1.0e0 THEN 1.0e0
                                   ELSE ((v.vx - e.vx) * e.dx + (v.vy - e.vy) * e.dy) / e.len2 END)))
    * (v.vy - (e.vy + e.dy * (CASE WHEN ((v.vx - e.vx) * e.dx + (v.vy - e.vy) * e.dy) / e.len2 < 0.0e0 THEN 0.0e0
                                   WHEN ((v.vx - e.vx) * e.dx + (v.vy - e.vy) * e.dy) / e.len2 > 1.0e0 THEN 1.0e0
                                   ELSE ((v.vx - e.vx) * e.dx + (v.vy - e.vy) * e.dy) / e.len2 END)))
  ) AS d2
  FROM pairs pr
  JOIN allv v ON v.gid = pr.gid
  JOIN pe e ON e.key = pr.key AND e.len2 > 0.0e0
  GROUP BY 1, 2),
db AS (  -- polygon vertices vs line segments
  SELECT pr.gid, pr.key, min(
    (v.vx - (s.vx + s.dx * (CASE WHEN ((v.vx - s.vx) * s.dx + (v.vy - s.vy) * s.dy) / s.len2 < 0.0e0 THEN 0.0e0
                                 WHEN ((v.vx - s.vx) * s.dx + (v.vy - s.vy) * s.dy) / s.len2 > 1.0e0 THEN 1.0e0
                                 ELSE ((v.vx - s.vx) * s.dx + (v.vy - s.vy) * s.dy) / s.len2 END)))
    * (v.vx - (s.vx + s.dx * (CASE WHEN ((v.vx - s.vx) * s.dx + (v.vy - s.vy) * s.dy) / s.len2 < 0.0e0 THEN 0.0e0
                                   WHEN ((v.vx - s.vx) * s.dx + (v.vy - s.vy) * s.dy) / s.len2 > 1.0e0 THEN 1.0e0
                                   ELSE ((v.vx - s.vx) * s.dx + (v.vy - s.vy) * s.dy) / s.len2 END)))
    + (v.vy - (s.vy + s.dy * (CASE WHEN ((v.vx - s.vx) * s.dx + (v.vy - s.vy) * s.dy) / s.len2 < 0.0e0 THEN 0.0e0
                                   WHEN ((v.vx - s.vx) * s.dx + (v.vy - s.vy) * s.dy) / s.len2 > 1.0e0 THEN 1.0e0
                                   ELSE ((v.vx - s.vx) * s.dx + (v.vy - s.vy) * s.dy) / s.len2 END)))
    * (v.vy - (s.vy + s.dy * (CASE WHEN ((v.vx - s.vx) * s.dx + (v.vy - s.vy) * s.dy) / s.len2 < 0.0e0 THEN 0.0e0
                                   WHEN ((v.vx - s.vx) * s.dx + (v.vy - s.vy) * s.dy) / s.len2 > 1.0e0 THEN 1.0e0
                                   ELSE ((v.vx - s.vx) * s.dx + (v.vy - s.vy) * s.dy) / s.len2 END)))
  ) AS d2
  FROM pairs pr
  JOIN (SELECT key, vx, vy FROM verts) v ON v.key = pr.key
  JOIN ls s ON s.gid = pr.gid AND s.len2 > 0.0e0
  GROUP BY 1, 2),
crossings AS (
  SELECT pr.gid, pr.key, count(*) AS nx
  FROM pairs pr
  JOIN lseg s ON s.gid = pr.gid
  JOIN edges e ON e.key = pr.key
  WHERE (((s.wx - s.vx) * (e.vy - s.vy) - (s.wy - s.vy) * (e.vx - s.vx))
       * ((s.wx - s.vx) * (e.wy - s.vy) - (s.wy - s.vy) * (e.wx - s.vx)) < 0)
    AND (((e.wx - e.vx) * (s.vy - e.vy) - (e.wy - e.vy) * (s.vx - e.vx))
       * ((e.wx - e.vx) * (s.wy - e.vy) - (e.wy - e.vy) * (s.wx - e.vx)) < 0)
  GROUP BY 1, 2),
vin AS (  -- any line vertex inside the polygon (even-odd)
  SELECT pr.gid, pr.key, v.ord,
         (sum(CASE WHEN ((e.vy > v.vy) <> (e.wy > v.vy))
                    AND (v.vx < (e.wx - e.vx) * (v.vy - e.vy) / (e.wy - e.vy) + e.vx)
              THEN 1 ELSE 0 END) % 2) = 1 AS inside
  FROM pairs pr JOIN allv v ON v.gid = pr.gid JOIN edges e ON e.key = pr.key
  GROUP BY pr.gid, pr.key, v.ord),
vagg AS (SELECT gid, key, bool_or(inside) AS any_in FROM vin GROUP BY 1, 2)
SELECT a.gid AS lkey, a.key AS pkey,
       CASE WHEN coalesce(x.nx, 0) > 0 OR va.any_in THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(sqrt(least(a.d2, b.d2)) * 1.0e7) AS BIGINT)
       END AS qdist
FROM da a
JOIN db b ON b.gid = a.gid AND b.key = a.key
LEFT JOIN crossings x ON x.gid = a.gid AND x.key = a.key
JOIN vagg va ON va.gid = a.gid AND va.key = a.key
ORDER BY 1, 2"""


# ---- EPSG top-20 datum gates (functions/datums.py: Helmert + national
# grids; VERDICT r2 missing #1).  Window filters keep the points inside
# each projection's validity area; identical literals both sides.

def _datum_gate(spark, sf_dir, code, lon_lo, lon_hi, lat_lo, lat_hi):
    from .functions.projections import st_transform_any_udf

    pts = _events_points(spark, sf_dir).filter(
        (F.col("lon") >= lon_lo) & (F.col("lon") <= lon_hi)
        & (F.col("lat") >= lat_lo) & (F.col("lat") <= lat_hi)
    )
    p = st_transform_any_udf("EPSG:4326", code)(F.col("lon"), F.col("lat"))
    return pts.select(
        "event_id",
        F.floor(p["x"] - F.lit(0.123456789)).cast("long").alias("xl"),
        F.floor(p["y"] - F.lit(0.123456789)).cast("long").alias("yl"),
    )


def _datum_oracle(code, emit, lon_lo, lon_hi, lat_lo, lat_hi):
    from .functions import datums as _D
    from .functions.projections import CRS_REGISTRY, _crs

    crs = CRS_REGISTRY[code] if code in CRS_REGISTRY else _crs(code)
    win = (f"(SELECT event_id, lon, lat FROM ({_points_sql()}) __pt "
           f"WHERE lon >= {synth.flit(lon_lo)} AND lon <= {synth.flit(lon_hi)} "
           f"AND lat >= {synth.flit(lat_lo)} AND lat <= {synth.flit(lat_hi)})")
    return f"""
WITH __w AS {win},{_D.datum_shift_sql(crs.datum, "__w")},{emit(crs.proj, "__d")}
SELECT event_id,
  CAST(floor(px - 0.123456789) AS BIGINT) AS xl,
  CAST(floor(py - 0.123456789) AS BIGINT) AS yl
FROM __p ORDER BY event_id"""


def q_osgb_transform(spark, sf_dir):
    """WGS84 -> British National Grid (EPSG:27700): Airy 1830 Transverse
    Mercator behind the OSGB36 Helmert (EPSG 1314) — the full non-WGS84
    datum pipeline (geocentric, negated-parameter Helmert, Bowring, Karney
    TM), mirrored term-for-term by the oracle."""
    return _datum_gate(spark, sf_dir, "EPSG:27700", -7.5, 1.8, 49.9, 60.8)


def q_osgb_transform_oracle():
    from .functions import datums as _D

    return _datum_oracle("EPSG:27700", _D.tm_forward_sql, -7.5, 1.8, 49.9, 60.8)


def q_rdnew_transform(spark, sf_dir):
    """WGS84 -> RD New (EPSG:28992): Bessel 1841 oblique (double)
    stereographic, EPSG method 9809, behind the Amersfoort Helmert
    (EPSG 15934)."""
    return _datum_gate(spark, sf_dir, "EPSG:28992", 0.0, 11.0, 47.0, 56.0)


def q_rdnew_transform_oracle():
    from .functions import datums as _D

    return _datum_oracle("EPSG:28992", _D.oblique_stereo_sql, 0.0, 11.0, 47.0, 56.0)


def q_swiss_transform(spark, sf_dir):
    """WGS84 -> CH1903+/LV95 (EPSG:2056): the swisstopo double projection
    (ellipsoid -> conformal sphere -> rotated Mercator) behind the CH1903+
    translation (EPSG 1676)."""
    return _datum_gate(spark, sf_dir, "EPSG:2056", 2.0, 13.0, 43.0, 50.0)


def q_swiss_transform_oracle():
    from .functions import datums as _D

    return _datum_oracle("EPSG:2056", _D.swiss_sql, 2.0, 13.0, 43.0, 50.0)


def q_belgian_transform(spark, sf_dir):
    """WGS84 -> Belgian Lambert 72 (EPSG:31370): International 1924 LCC 2SP
    (lat0 = 90 degrees — the degenerate-origin deployment) behind the BD72
    Helmert (EPSG 15929)."""
    return _datum_gate(spark, sf_dir, "EPSG:31370", 0.0, 9.0, 47.0, 54.0)


def q_belgian_transform_oracle():
    from .functions import datums as _D

    return _datum_oracle("EPSG:31370", _D.lcc_forward_sql, 0.0, 9.0, 47.0, 54.0)


def q_ntv2_shift(spark, sf_dir):
    """Grid-interpolation datum shift — the DatumShiftGrid.java machinery
    (R/referencing/operation/transform/DatumShiftGrid.java interpolateAt /
    interpolateInCell): events inside the synthetic grid's interior are
    shifted to WGS84 by bilinear interpolation of per-node arcsecond
    offsets in one Arrow stage.  The grid ROUND-TRIPS through real NTv2
    .gsb bytes (sources/ntv2.py) before use, so the gate drives the exact
    slot a licensed OSTN15/NTv2 file would fill; node values are dyadic so
    the float32 file precision is lossless."""
    from pyspark.sql import types as T

    from .functions.datums import ShiftGrid
    from .sources.ntv2 import format_ntv2, read_ntv2

    g = read_ntv2(format_ntv2(ShiftGrid.synthetic()))
    pts = _events_points(spark, sf_dir).filter(
        (F.col("lon") >= -7.5) & (F.col("lon") <= 7.5)
        & (F.col("lat") >= 48.5) & (F.col("lat") <= 59.5)
    )

    schema = T.StructType([T.StructField("x", T.DoubleType()),
                           T.StructField("y", T.DoubleType())])

    @F.pandas_udf(schema)
    def shift(lon_s: pd.Series, lat_s: pd.Series) -> pd.DataFrame:
        ox, oy = g.to_wgs84(lon_s.to_numpy(), lat_s.to_numpy())
        return pd.DataFrame({"x": ox, "y": oy})

    p = shift(F.col("lon"), F.col("lat"))
    return pts.select(
        "event_id",
        F.floor(p["x"] * F.lit(1.0e7) - F.lit(0.123456789)).cast("long").alias("qlon"),
        F.floor(p["y"] * F.lit(1.0e7) - F.lit(0.123456789)).cast("long").alias("qlat"),
    )


def q_ntv2_multigrid(spark, sf_dir):
    """Multi-sub-grid NTv2 (r5): parent + aligned 4x-denser child grid,
    per-point densest-containing-sub-grid selection — the
    DatumShiftGridGroup.java machinery
    (R/referencing/operation/transform/DatumShiftGridGroup.java).  The
    window straddles the child extent (lon [-4, 2] x lat [52, 56] inside
    the parent's [-8, 8] x [48, 60]), so rows exercise child-interior,
    child-edge, and parent-only selection; the hierarchy ROUND-TRIPS
    through real multi-sub-grid .gsb bytes before use and the oracle
    replays the selection rule in SQL."""
    from pyspark.sql import types as T

    from .functions.datums import ShiftGridGroup
    from .sources.ntv2 import format_ntv2_group, read_ntv2_group

    g = read_ntv2_group(format_ntv2_group(ShiftGridGroup.synthetic()))
    pts = _events_points(spark, sf_dir).filter(
        (F.col("lon") >= -7.5) & (F.col("lon") <= 7.5)
        & (F.col("lat") >= 48.5) & (F.col("lat") <= 59.5)
    )

    schema = T.StructType([T.StructField("x", T.DoubleType()),
                           T.StructField("y", T.DoubleType())])

    @F.pandas_udf(schema)
    def shift(lon_s: pd.Series, lat_s: pd.Series) -> pd.DataFrame:
        ox, oy = g.to_wgs84(lon_s.to_numpy(), lat_s.to_numpy())
        return pd.DataFrame({"x": ox, "y": oy})

    p = shift(F.col("lon"), F.col("lat"))
    return pts.select(
        "event_id",
        F.floor(p["x"] * F.lit(1.0e7) - F.lit(0.123456789)).cast("long").alias("qlon"),
        F.floor(p["y"] * F.lit(1.0e7) - F.lit(0.123456789)).cast("long").alias("qlat"),
    )


def q_ntv2_multigrid_oracle():
    from .functions import datums as _D

    g = _D.ShiftGridGroup.synthetic()
    win = (f"(SELECT event_id, lon, lat FROM ({_points_sql()}) __pt "
           f"WHERE lon >= {synth.flit(-7.5)} AND lon <= {synth.flit(7.5)} "
           f"AND lat >= {synth.flit(48.5)} AND lat <= {synth.flit(59.5)})")
    return f"""
WITH __w AS {win},{_D.shift_grid_group_sql(g, "__w")}
SELECT event_id,
  CAST(floor(dlon * 1.0e7 - 0.123456789) AS BIGINT) AS qlon,
  CAST(floor(dlat * 1.0e7 - 0.123456789) AS BIGINT) AS qlat
FROM __d ORDER BY event_id"""


def q_ntv2_shift_oracle():
    from .functions import datums as _D

    g = _D.ShiftGrid.synthetic()
    win = (f"(SELECT event_id, lon, lat FROM ({_points_sql()}) __pt "
           f"WHERE lon >= {synth.flit(-7.5)} AND lon <= {synth.flit(7.5)} "
           f"AND lat >= {synth.flit(48.5)} AND lat <= {synth.flit(59.5)})")
    return f"""
WITH __w AS {win},{_D.shift_grid_sql(g, "__w")}
SELECT event_id,
  CAST(floor(dlon * 1.0e7 - 0.123456789) AS BIGINT) AS qlon,
  CAST(floor(dlat * 1.0e7 - 0.123456789) AS BIGINT) AS qlat
FROM __d ORDER BY event_id"""


# ---- EPSG WKT side-registry gates (r5, functions/epsg_wkt.py): codes
# absent from the hand registry resolve through generated WKT text and the
# r4 custom-CRS route (EPSGDataAccess.java breadth, no-database slice).

def q_epsg_side_tm(spark, sf_dir):
    """EPSG:2180 (ETRS89 / Poland CS92) — a side-registry-ONLY code (the
    hand registry has no entry; asserted in pytest), so resolution MUST
    flow through the generated-WKT route into the Karney TM kernel
    (k0 = 0.9993, FN = -5300000)."""
    return _datum_gate(spark, sf_dir, "EPSG:2180", -2.0, 40.0, 40.0, 72.0)


def q_epsg_side_tm_oracle():
    from .functions import datums as _D
    from .functions.projections import _crs

    tm = _crs("EPSG:2180")
    win = (f"(SELECT event_id, lon, lat FROM ({_points_sql()}) __pt "
           f"WHERE lon >= {synth.flit(-2.0)} AND lon <= {synth.flit(40.0)} "
           f"AND lat >= {synth.flit(40.0)} AND lat <= {synth.flit(72.0)})")
    return f"""
WITH __w AS {win},
__d AS (SELECT event_id, lon AS dlon, lat AS dlat FROM __w),{_D.tm_forward_sql(tm, "__d")}
SELECT event_id,
  CAST(floor(px - 0.123456789) AS BIGINT) AS xl,
  CAST(floor(py - 0.123456789) AS BIGINT) AS yl
FROM __p ORDER BY event_id"""


def q_epsg_side_ed50(spark, sf_dir):
    """EPSG:23035 (ED50 / UTM 35N) — side-registry-ONLY code carrying a
    DATUM SHIFT: International 1924 TM behind the mean-European ED50
    Helmert (EPSG 1133), the full generated-WKT datum pipeline."""
    return _datum_gate(spark, sf_dir, "EPSG:23035", 13.0, 41.0, 30.0, 64.0)


def q_epsg_side_ed50_oracle():
    from .functions import datums as _D

    return _datum_oracle("EPSG:23035", _D.tm_forward_sql,
                         13.0, 41.0, 30.0, 64.0)


#: A registry-absent CRS defined purely in WKT — the EPSG:27700 parameter
#: values with NO AUTHORITY node, so only the WKT route can resolve it.
WKT_CUSTOM_OSGB = """PROJCS["Custom OSGB-like",
  GEOGCS["Custom geographic",
    DATUM["custom",
      SPHEROID["Airy 1830", 6377563.396, 299.3249646],
      TOWGS84[446.448, -125.157, 542.06, 0.1502, 0.247, 0.8421, -20.4894]],
    PRIMEM["Greenwich", 0],
    UNIT["degree", 0.0174532925199433]],
  PROJECTION["Transverse_Mercator"],
  PARAMETER["latitude_of_origin", 49],
  PARAMETER["central_meridian", -2],
  PARAMETER["scale_factor", 0.9996012717],
  PARAMETER["false_easting", 400000],
  PARAMETER["false_northing", -100000],
  UNIT["metre", 1]]"""


def q_wkt_custom_crs(spark, sf_dir):
    """WKT-driven custom-CRS routing (CRS.java:371 ``fromWKT`` — the
    no-database answer to EPSG long-tail codes): st_transform_any accepts
    raw WKT text; this definition carries NO AUTHORITY/ID node, so it
    cannot resolve through the registry — the datum+projection pipeline
    (Airy TM behind the OSGB Helmert) is built purely from the WKT
    parameters and must match the EPSG:27700 registry result bit-for-bit
    (identical public parameter values)."""
    return _datum_gate(spark, sf_dir, WKT_CUSTOM_OSGB, -7.5, 1.8, 49.9, 60.8)


def q_wkt_custom_crs_oracle():
    return q_osgb_transform_oracle()


# ---- Projection long tail (r5, functions/proj_tail.py): the five
# families from VERDICT r4 missing #1, each gated through
# st_transform_any against a term-exact DuckDB replay.  These CRSs are
# datum-preserving (GRS80/WGS84-compatible or documented approximation),
# so the oracle skips the Helmert CTE.

def _proj_oracle(code, emit, lon_lo, lon_hi, lat_lo, lat_hi):
    from .functions.projections import CRS_REGISTRY, _crs

    crs = CRS_REGISTRY[code] if code in CRS_REGISTRY else _crs(code)
    return _proj_oracle_with(code, emit(crs, "__d"),
                             lon_lo, lon_hi, lat_lo, lat_hi)


def q_eqc_transform(spark, sf_dir):
    """WGS84 -> World Equidistant Cylindrical (EPSG:4087, method 1028):
    the plate-carree family common in climate grids
    (R/operation/projection/EquidistantCylindrical.java)."""
    return _datum_gate(spark, sf_dir, "EPSG:4087", -179.0, 179.0, -80.0, 80.0)


def q_eqc_transform_oracle():
    from .functions import proj_tail as _PT

    return _proj_oracle("EPSG:4087", _PT.eqc_forward_sql,
                        -179.0, 179.0, -80.0, 80.0)


def q_cea_transform(spark, sf_dir):
    """WGS84 -> NSIDC EASE-Grid 2.0 Global (EPSG:6933): Lambert
    Cylindrical Equal Area, method 9835, via the authalic latitude
    (R/operation/projection/CylindricalEqualArea.java)."""
    return _datum_gate(spark, sf_dir, "EPSG:6933", -179.0, 179.0, -80.0, 80.0)


def q_cea_transform_oracle():
    from .functions import proj_tail as _PT

    return _proj_oracle("EPSG:6933", _PT.cea_forward_sql,
                        -179.0, 179.0, -80.0, 80.0)


def q_polyconic_transform(spark, sf_dir):
    """WGS84 -> Brazil Polyconic (EPSG:5880, method 9818, GRS80
    datum-preserving; R/operation/projection/Polyconic.java — forward
    fixtures pinned to Snyder p.304 in pytest)."""
    return _datum_gate(spark, sf_dir, "EPSG:5880", -74.0, -34.0, -34.0, 6.0)


def q_polyconic_transform_oracle():
    from .functions import proj_tail as _PT

    return _proj_oracle("EPSG:5880", _PT.polyconic_forward_sql,
                        -74.0, -34.0, -34.0, 6.0)


def q_om_transform(spark, sf_dir):
    """WGS84 -> GDM2000 Peninsular RSO (EPSG:3375): Hotine Oblique
    Mercator variant A (method 9812), the general rotated-grid kernel
    that subsumes the Swiss azimuth-90 special case
    (R/operation/projection/ObliqueMercator.java)."""
    return _datum_gate(spark, sf_dir, "EPSG:3375", 75.0, 130.0, -25.0, 30.0)


def q_om_transform_oracle():
    from .functions import proj_tail as _PT

    return _proj_oracle("EPSG:3375", _PT.om_forward_sql,
                        75.0, 130.0, -25.0, 30.0)


def q_mercator_ell(spark, sf_dir):
    """WGS84 -> World Mercator (EPSG:3395): ELLIPSOIDAL Mercator variant A
    (method 9804, conformal-latitude formulas) — distinct from the
    spherical Web-Mercator kernel; validated against both EPSG GN7-2
    worked examples (Makassar 9804, Caspian 9805) in pytest
    (R/operation/projection/Mercator.java)."""
    return _datum_gate(spark, sf_dir, "EPSG:3395", -179.0, 179.0, -80.0, 80.0)


def q_mercator_ell_oracle():
    from .functions import proj_tail as _PT

    return _proj_oracle("EPSG:3395", _PT.mercator_ell_forward_sql,
                        -179.0, 179.0, -80.0, 80.0)


def q_mae_transform(spark, sf_dir):
    """WGS84 -> Yap Islands Modified Azimuthal Equidistant (EPSG:3295,
    method 9832): the ellipsoidal Guam-area series — a LOCAL projection,
    so the window stays within ~20 degrees of the origin
    (R/operation/projection/ModifiedAzimuthalEquidistant.java; pytest
    pins the EPSG guidance-note Yap example to 5mm)."""
    return _datum_gate(spark, sf_dir, "EPSG:3295", 118.0, 158.0, -10.0, 30.0)


def q_mae_transform_oracle():
    from .functions import proj_tail as _PT

    return _proj_oracle("EPSG:3295", _PT.mae_forward_sql,
                        118.0, 158.0, -10.0, 30.0)


def q_zoned_tm(spark, sf_dir):
    """WGS84 -> zoned UTM grid (EPSG:32600, method 9824): the zone
    derives from longitude and prefixes the easting (Z*1e6 + 500000) —
    R/operation/projection/ZonedGridSystem.java.  Window spans zones
    31 and 32 so the per-point zone rule is exercised."""
    return _datum_gate(spark, sf_dir, "EPSG:32600", 0.5, 11.5, 35.0, 70.0)


def q_zoned_tm_oracle():
    from .functions import proj_tail as _PT
    from .functions.projections import _crs

    zt = _crs("EPSG:32600")
    win = (f"(SELECT event_id, lon, lat FROM ({_points_sql()}) __pt "
           f"WHERE lon >= {synth.flit(0.5)} AND lon <= {synth.flit(11.5)} "
           f"AND lat >= {synth.flit(35.0)} AND lat <= {synth.flit(70.0)})")
    return f"""
WITH __w AS {win},
__d AS (SELECT event_id, lon AS dlon, lat AS dlat FROM __w),{_PT.zoned_tm_sql(zt, "__d", [31, 32])}
SELECT event_id,
  CAST(floor(px - 0.123456789) AS BIGINT) AS xl,
  CAST(floor(py - 0.123456789) AS BIGINT) AS yl
FROM __p ORDER BY event_id"""


def q_satellite_tracking(spark, sf_dir):
    """Cylindrical satellite-tracking projection (Snyder ch. 28, the
    Landsat-3 parameters; R/operation/projection/SatelliteTracking.java —
    no EPSG code, registry key SIS:SATTRACK).  Window stays inside the
    tracking limit (|lat| <= 80.9 for i = 99.092); pytest pins both the
    cylindrical and conic Snyder p.360 fixtures on the unit sphere."""
    return _datum_gate(spark, sf_dir, "SIS:SATTRACK",
                       -179.0, 179.0, -75.0, 75.0)


def q_satellite_tracking_oracle():
    from .functions import proj_tail as _PT
    from .functions.projections import _crs

    st = _crs("SIS:SATTRACK")
    return _proj_oracle_with("SIS:SATTRACK",
                             _PT.satellite_tracking_cyl_sql(st, "__d"),
                             -179.0, 179.0, -75.0, 75.0)


def _proj_oracle_with(code, emitted_sql, lon_lo, lon_hi, lat_lo, lat_hi):
    win = (f"(SELECT event_id, lon, lat FROM ({_points_sql()}) __pt "
           f"WHERE lon >= {synth.flit(lon_lo)} AND lon <= {synth.flit(lon_hi)} "
           f"AND lat >= {synth.flit(lat_lo)} AND lat <= {synth.flit(lat_hi)})")
    return f"""
WITH __w AS {win},
__d AS (SELECT event_id, lon AS dlon, lat AS dlat FROM __w),{emitted_sql}
SELECT event_id,
  CAST(floor(px - 0.123456789) AS BIGINT) AS xl,
  CAST(floor(py - 0.123456789) AS BIGINT) AS yl
FROM __p ORDER BY event_id"""


#: Cassini-Soldner defined purely in WKT (the Trinidad 1903 parameters in
#: Clarke's links, no AUTHORITY node): exercises both the 9806 kernel and
#: the WKT method routing in one gate (datum-preserving, like EPSG:5070).
WKT_CASSINI_TRINIDAD = """PROJCS["Trinidad-like Cassini",
  GEOGCS["Custom geographic",
    DATUM["custom", SPHEROID["Clarke 1858", 31706587.88, 294.2606764]],
    PRIMEM["Greenwich", 0],
    UNIT["degree", 0.0174532925199433]],
  PROJECTION["Cassini_Soldner"],
  PARAMETER["latitude_of_origin", 10.441666666666666],
  PARAMETER["central_meridian", -61.33333333333334],
  PARAMETER["false_easting", 430000],
  PARAMETER["false_northing", 325000],
  UNIT["link", 0.201166195164]]"""


def q_cassini_transform(spark, sf_dir):
    """WGS84 -> Trinidad-style Cassini-Soldner grid (EPSG method 9806,
    R/operation/projection/CassiniSoldner.java; EPSG Guidance Note 7-2
    §3.2.2 series, fixture pinned to the EPSG example in pytest)."""
    return _datum_gate(spark, sf_dir, WKT_CASSINI_TRINIDAD,
                       -91.0, -31.0, -30.0, 35.0)


def q_cassini_transform_oracle():
    from .functions import proj_tail as _PT
    from .functions.wkt_crs import crs_from_wkt

    crs = crs_from_wkt(WKT_CASSINI_TRINIDAD)
    win = (f"(SELECT event_id, lon, lat FROM ({_points_sql()}) __pt "
           f"WHERE lon >= {synth.flit(-91.0)} AND lon <= {synth.flit(-31.0)} "
           f"AND lat >= {synth.flit(-30.0)} AND lat <= {synth.flit(35.0)})")
    return f"""
WITH __w AS {win},
__d AS (SELECT event_id, lon AS dlon, lat AS dlat FROM __w),{_PT.cassini_forward_sql(crs, "__d")}
SELECT event_id,
  CAST(floor(px - 0.123456789) AS BIGINT) AS xl,
  CAST(floor(py - 0.123456789) AS BIGINT) AS yl
FROM __p ORDER BY event_id"""


GEOM_DIST_JOIN_RADIUS = 8.0


def q_geom_distance_join(spark, sf_dir):
    """Distance-bounded geometry join — DistanceFilter.java:48 as a JOIN
    predicate (ST_Distance(a, b) <= d), not a crossJoin + filter: both
    operand tables stay distributed, candidates come from radius-expanded
    envelope cell covers, and the exact geom_distance kernel runs on
    candidate pairs only.  Same operand sets and FP expressions as the
    geom_distance gate, so the oracle is that gate's SQL bounded by the
    radius.  test_plans asserts no CartesianProduct / BNLJ anywhere."""
    from .operators.spatial_join import geometry_distance_join

    lines = _gate_lines_df(spark, sf_dir).filter(F.col("key") % 3 == 0)
    polys = _supplier_polygons_df(spark, sf_dir).filter(F.col("key") % 5 == 0)
    out = geometry_distance_join(lines, polys, GEOM_DIST_JOIN_RADIUS)
    return out.select(
        F.col("akey").alias("lkey"), F.col("bkey").alias("pkey"), "qdist")


def q_geom_distance_join_oracle():
    rq = int(GEOM_DIST_JOIN_RADIUS * 1e7)  # 8.0 -> 80000000, exact
    return f"""SELECT lkey, pkey, qdist FROM ({q_geom_distance_oracle()})
WHERE qdist <= {rq} ORDER BY 1, 2"""


def q_nearest_line_dist(spark, sf_dir):
    """The nearest_line contract through the fully-DISTRIBUTED dimension
    path (nearest_line_join_dist): cell-bucketed candidates with the radius
    folded into the covering expansion, per-batch vectorized refine, top-1
    by min(struct(qdist, key)).  Same oracle as nearest_line — both paths
    must satisfy the identical (qdist, gid) contract."""
    from .operators.spatial_join import nearest_line_join_dist

    pts = _events_points(spark, sf_dir).filter(
        (F.col("event_id") >= N_LINE_EVENTS)
        & (F.col("event_id") < N_LINE_EVENTS + N_DIST_POINTS)
    )
    out = nearest_line_join_dist(
        pts, _gate_lines_df(spark, sf_dir), "lon", "lat",
        NEAREST_LINE_RADIUS, id_col="event_id",
    )
    return out.select(
        F.col("id").alias("event_id"), F.col("key").alias("gid"), "qdist"
    )


BUF_R = 6.0
BUF_NSEG = 48
BUF_KEYS = (5, 13, 21, 37)
# inscribed-n-gon tolerance band: inside guaranteed below r*cos(pi/n),
# outside guaranteed above r; both thresholds quantized with safety margin
BUF_QLO = 59_800_000   # < floor(6*cos(pi/48)*1e7) = 59_871_578
BUF_QHI = 60_100_000   # > 6e7
N_BUF_POINTS = 3000


def q_st_buffer(spark, sf_dir):
    """ST_Buffer (SQLMM.java:129) gated through its *containment contract*:
    for every point outside the inscribed-n-gon tolerance band
    [r*cos(pi/n), r], point-in-buffer (ray cast against the stitched union
    rings from overlay.buffer_geometry) must equal distance(point, geom)
    <= r.  Polygon and polyline operands per supplier key.  Plan: 8 tiny
    buffered geometries ship in the UDF closure (broadcast-dim pattern);
    points stream through one vectorized Arrow stage."""
    import math

    import numpy as _np
    import pandas as _pd

    from .functions import geometry as _geo
    from .functions.overlay import buffer_geometry

    geoms = []  # (key, kind, segs dict, poly rings or None, buffer rings)
    for k in BUF_KEYS:
        vx, vy = synth.polygon_vertices_np(k)
        p = synth.polygon_params_np(_np.array([k]))
        lvx = _np.array([p["cx"][0] - 0.1 * p["r"][0], p["cx"][0],
                         p["cx"][0] + 0.1 * p["r"][0]])
        lvy = _np.array([p["cy"][0] - 0.05 * p["r"][0], p["cy"][0] + 0.05 * p["r"][0],
                         p["cy"][0]])
        for kind, typ, val in (("poly", "polygon", [(vx, vy)]),
                               ("line", "linestring", (lvx, lvy))):
            bt, brings = buffer_geometry(typ, val, BUF_R, n_seg=BUF_NSEG)
            flat = brings if bt == "polygon" else [r for pp in brings for r in pp]
            if kind == "poly":
                segs = (vx, vy, _np.roll(vx, -1), _np.roll(vy, -1))
                rings = [(vx, vy)]
            else:
                segs = (lvx[:-1], lvy[:-1], lvx[1:], lvy[1:])
                rings = None
            geoms.append((int(k), kind, segs, rings, flat))

    pts = _events_points(spark, sf_dir).filter(F.col("event_id") < N_BUF_POINTS)

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            px = pdf["lon"].to_numpy()
            py = pdf["lat"].to_numpy()
            out = []
            for k, kind, segs, rings, flat in geoms:
                d2 = _geo.point_segments_dist2(px, py, *segs).min(axis=1)
                d = _np.sqrt(d2)
                if rings is not None:
                    d = _np.where(
                        _geo.points_in_polygon_with_holes(px, py, rings), 0.0, d)
                q = _np.floor(d * 1e7).astype(_np.int64)
                keep = (q <= BUF_QLO) | (q >= BUF_QHI)
                pip = _geo.points_in_polygon_with_holes(px[keep], py[keep], flat)
                out.append(_pd.DataFrame({
                    "event_id": pdf["event_id"].to_numpy()[keep],
                    "gkey": k,
                    "gkind": kind,
                    "qdist": q[keep],
                    "inside": pip,
                }))
            yield _pd.concat(out) if out else _pd.DataFrame(
                columns=["event_id", "gkey", "gkind", "qdist", "inside"])

    return pts.mapInPandas(
        fn, "event_id long, gkey long, gkind string, qdist long, inside boolean")


def q_st_buffer_oracle():
    keys = ", ".join(str(k) for k in BUF_KEYS)
    return f"""
WITH {synth.polygon_vertices_sql(f"(SELECT s_suppkey FROM supplier WHERE s_suppkey IN ({keys}))")},
pts AS ({_points_sql()}),
p2 AS (SELECT event_id, lon AS px, lat AS py FROM pts
       WHERE event_id < {N_BUF_POINTS}),
mini AS (
  SELECT p.key AS gid, j.j AS ord,
         CASE j.j WHEN 0 THEN p.cx - 1.0e-1 * p.r
                  WHEN 1 THEN p.cx ELSE p.cx + 1.0e-1 * p.r END AS vx,
         CASE j.j WHEN 0 THEN p.cy - 5.0e-2 * p.r
                  WHEN 1 THEN p.cy + 5.0e-2 * p.r ELSE p.cy END AS vy
  FROM par p CROSS JOIN generate_series(0, 2) j(j)),
lseg AS (
  SELECT gid, vx, vy,
         lead(vx) OVER (PARTITION BY gid ORDER BY ord) AS wx,
         lead(vy) OVER (PARTITION BY gid ORDER BY ord) AS wy
  FROM mini QUALIFY wx IS NOT NULL),
pe AS (
  SELECT 'poly' AS gkind, e.key AS gkey, e.vx, e.vy,
         e.wx - e.vx AS dx, e.wy - e.vy AS dy,
         (e.wx - e.vx) * (e.wx - e.vx) + (e.wy - e.vy) * (e.wy - e.vy) AS len2
  FROM edges e
  UNION ALL
  SELECT 'line', s.gid, s.vx, s.vy, s.wx - s.vx, s.wy - s.vy,
         (s.wx - s.vx) * (s.wx - s.vx) + (s.wy - s.vy) * (s.wy - s.vy)
  FROM lseg s),
dmin AS (
  SELECT p.event_id, e.gkey, e.gkind, min(
    (p.px - (e.vx + e.dx * (CASE WHEN ((p.px - e.vx) * e.dx + (p.py - e.vy) * e.dy) / e.len2 < 0.0e0 THEN 0.0e0
                                 WHEN ((p.px - e.vx) * e.dx + (p.py - e.vy) * e.dy) / e.len2 > 1.0e0 THEN 1.0e0
                                 ELSE ((p.px - e.vx) * e.dx + (p.py - e.vy) * e.dy) / e.len2 END)))
    * (p.px - (e.vx + e.dx * (CASE WHEN ((p.px - e.vx) * e.dx + (p.py - e.vy) * e.dy) / e.len2 < 0.0e0 THEN 0.0e0
                                   WHEN ((p.px - e.vx) * e.dx + (p.py - e.vy) * e.dy) / e.len2 > 1.0e0 THEN 1.0e0
                                   ELSE ((p.px - e.vx) * e.dx + (p.py - e.vy) * e.dy) / e.len2 END)))
    + (p.py - (e.vy + e.dy * (CASE WHEN ((p.px - e.vx) * e.dx + (p.py - e.vy) * e.dy) / e.len2 < 0.0e0 THEN 0.0e0
                                   WHEN ((p.px - e.vx) * e.dx + (p.py - e.vy) * e.dy) / e.len2 > 1.0e0 THEN 1.0e0
                                   ELSE ((p.px - e.vx) * e.dx + (p.py - e.vy) * e.dy) / e.len2 END)))
    * (p.py - (e.vy + e.dy * (CASE WHEN ((p.px - e.vx) * e.dx + (p.py - e.vy) * e.dy) / e.len2 < 0.0e0 THEN 0.0e0
                                   WHEN ((p.px - e.vx) * e.dx + (p.py - e.vy) * e.dy) / e.len2 > 1.0e0 THEN 1.0e0
                                   ELSE ((p.px - e.vx) * e.dx + (p.py - e.vy) * e.dy) / e.len2 END)))
  ) AS d2
  FROM p2 p CROSS JOIN pe e
  GROUP BY 1, 2, 3),
inpoly AS (
  SELECT p.event_id, e.key AS gkey,
         (sum(CASE WHEN ((e.vy > p.py) <> (e.wy > p.py))
                    AND (p.px < (e.wx - e.vx) * (p.py - e.vy) / (e.wy - e.vy) + e.vx)
              THEN 1 ELSE 0 END) % 2) = 1 AS inside
  FROM p2 p CROSS JOIN edges e
  GROUP BY 1, 2),
q AS (
  SELECT d.event_id, d.gkey, d.gkind,
         CASE WHEN d.gkind = 'poly' AND ip.inside THEN CAST(0 AS BIGINT)
              ELSE CAST(floor(sqrt(d.d2) * 1.0e7) AS BIGINT) END AS qdist
  FROM dmin d
  LEFT JOIN inpoly ip ON ip.event_id = d.event_id AND ip.gkey = d.gkey)
SELECT event_id, gkey, gkind, qdist, qdist <= {BUF_QLO} AS inside
FROM q
WHERE qdist <= {BUF_QLO} OR qdist >= {BUF_QHI}
ORDER BY event_id, gkey, gkind"""


N_UNION_POINTS = 2000


def q_st_union(spark, sf_dir):
    """Aggregate ST_Union (SQLMM.java:141 generalized to GROUP BY) gated
    through its containment contract: point-in-union must equal OR over the
    members' point-in-polygon.  The union itself is computed DISTRIBUTED
    (st_union_agg: groupBy key%10 -> one union_pieces call per group inside
    applyInPandas); the 10 tiny union geometries then ship in the probe
    stage's closure (broadcast-dim pattern) for one vectorized PIP pass."""
    import numpy as _np
    import pandas as _pd

    from .functions import geometry as _geo
    from .functions.overlay import st_union_agg

    polys = _supplier_polygons_df(spark, sf_dir).withColumn(
        "gid", F.col("key") % 10)
    unions = st_union_agg(polys.select("gid", "wkb"))
    rings_by_gid = {}
    for r in unions.collect():  # 10 tiny rows (broadcast-dim)
        t, v = _geo.wkb_parse(bytes(r["wkb"]))
        rings_by_gid[int(r["gid"])] = (
            v if t == "polygon" else [rg for p in v for rg in p])

    pts = _events_points(spark, sf_dir).filter(F.col("event_id") < N_UNION_POINTS)

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            px = pdf["lon"].to_numpy()
            py = pdf["lat"].to_numpy()
            out = []
            for gid in sorted(rings_by_gid):
                inside = _geo.points_in_polygon_with_holes(
                    px, py, rings_by_gid[gid])
                out.append(_pd.DataFrame({
                    "event_id": pdf["event_id"], "gid": gid, "inside": inside}))
            yield _pd.concat(out)

    return pts.mapInPandas(fn, "event_id long, gid long, inside boolean")


def q_st_union_oracle():
    return f"""
WITH {synth.polygon_vertices_sql()},
pts AS ({_points_sql()}),
p2 AS (SELECT event_id, lon AS px, lat AS py FROM pts
       WHERE event_id < {N_UNION_POINTS}),
vin AS (
  SELECT p.event_id, e.key,
         (sum(CASE WHEN ((e.vy > p.py) <> (e.wy > p.py))
                    AND (p.px < (e.wx - e.vx) * (p.py - e.vy) / (e.wy - e.vy) + e.vx)
              THEN 1 ELSE 0 END) % 2) = 1 AS inside
  FROM p2 p CROSS JOIN edges e
  GROUP BY 1, 2)
SELECT event_id, key % 10 AS gid, bool_or(inside) AS inside
FROM vin GROUP BY 1, 2 ORDER BY 1, 2"""


N_DIST_POINTS = 400


def q_point_line_distance(spark, sf_dir):
    """ST_Distance(point, line) over the gate line set (SQLMM.java:169 for
    mixed-dimension operands): per event point, the quantized distance to
    the nearest polyline.  Shape: the line dimension is tiny -> its packed
    segment arrays ship in the UDF closure (the broadcast-dim pattern of
    spatial_join); points stream through one vectorized Arrow stage —
    (n_points, n_segments) numpy, no per-row Python."""
    import numpy as _np
    import pandas as _pd

    from .functions import geometry as _geo

    segs = {"vx": [], "vy": [], "wx": [], "wy": []}
    for r in _gate_lines_df(spark, sf_dir).collect():  # tiny dimension table
        _typ, (lvx, lvy) = _geo.wkb_parse(bytes(r["wkb"]))
        segs["vx"].extend(lvx[:-1].tolist())
        segs["vy"].extend(lvy[:-1].tolist())
        segs["wx"].extend(lvx[1:].tolist())
        segs["wy"].extend(lvy[1:].tolist())
    sa = {k: _np.asarray(v, _np.float64) for k, v in segs.items()}

    pts = _events_points(spark, sf_dir).filter(F.col("event_id") < N_DIST_POINTS)

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            d2 = _geo.point_segments_dist2(
                pdf["lon"].to_numpy(), pdf["lat"].to_numpy(),
                sa["vx"], sa["vy"], sa["wx"], sa["wy"])
            q = _np.floor(_np.sqrt(d2.min(axis=1)) * 1e7).astype(_np.int64)
            yield _pd.DataFrame({"event_id": pdf["event_id"], "qdist": q})

    return pts.mapInPandas(fn, "event_id long, qdist long")


NEAREST_LINE_RADIUS = 2.0  # degrees; keeps ~80% of the probe points


def q_nearest_line(spark, sf_dir):
    """Nearest-polyline join (map-matching): per probe point, the single
    nearest gate line within 2°, ties → lowest line key.  The probe slice
    starts at N_LINE_EVENTS so no probe point is a line vertex (distances
    are non-degenerate).  Same broadcast-dim + single-Arrow-stage shape as
    the ST_Distance gate, reduced per line by minimum.reduceat."""
    from .operators.spatial_join import nearest_line_join

    pts = _events_points(spark, sf_dir).filter(
        (F.col("event_id") >= N_LINE_EVENTS)
        & (F.col("event_id") < N_LINE_EVENTS + N_DIST_POINTS)
    )
    out = nearest_line_join(
        pts, _gate_lines_df(spark, sf_dir), "lon", "lat",
        NEAREST_LINE_RADIUS, id_col="event_id",
    )
    return out.select(
        F.col("id").alias("event_id"), F.col("key").alias("gid"), "qdist"
    )


def q_nearest_line_oracle():
    # per-(point, line) min over the identical clamped-projection d2 terms,
    # then top-1 per point by (qdist, gid) — mirrors argmin-first-hit
    rq = int(NEAREST_LINE_RADIUS * 1e7)  # 2.0 -> 20000000, exact
    return f"""
WITH {_line_sets_sql()},
pts2 AS (SELECT event_id, lon AS px, lat AS py FROM pts
         WHERE event_id >= {N_LINE_EVENTS}
           AND event_id < {N_LINE_EVENTS + N_DIST_POINTS}),
seg2 AS (
  SELECT gid, vx, vy, wx - vx AS dx, wy - vy AS dy,
         (wx - vx) * (wx - vx) + (wy - vy) * (wy - vy) AS len2
  FROM lseg),
proj AS (
  SELECT p.event_id, p.px, p.py, s.gid, s.vx, s.vy, s.dx, s.dy,
         ((p.px - s.vx) * s.dx + (p.py - s.vy) * s.dy) / s.len2 AS tt
  FROM pts2 p CROSS JOIN seg2 s),
clamped AS (
  SELECT *, CASE WHEN tt < 0.0e0 THEN 0.0e0
                 WHEN tt > 1.0e0 THEN 1.0e0 ELSE tt END AS tc
  FROM proj),
dd AS (
  SELECT event_id, gid,
         (px - (vx + dx * tc)) * (px - (vx + dx * tc))
         + (py - (vy + dy * tc)) * (py - (vy + dy * tc)) AS d2
  FROM clamped),
pl AS (
  SELECT event_id, gid,
         CAST(floor(sqrt(min(d2)) * 1.0e7) AS BIGINT) AS qdist
  FROM dd GROUP BY 1, 2)
SELECT event_id, gid, qdist FROM (
  SELECT event_id, gid, qdist,
         row_number() OVER (PARTITION BY event_id
                            ORDER BY qdist ASC, gid ASC) AS rn
  FROM pl) t
WHERE rn = 1 AND qdist <= {rq}"""


def q_point_line_distance_oracle():
    # mirrors point_segments_dist2 term for term (clamped projection; the
    # squared terms are written as (A)*(A) with identical A both sides)
    return f"""
WITH {_line_sets_sql()},
pts2 AS (SELECT event_id, lon AS px, lat AS py FROM pts
         WHERE event_id < {N_DIST_POINTS}),
seg2 AS (
  SELECT gid, vx, vy, wx - vx AS dx, wy - vy AS dy,
         (wx - vx) * (wx - vx) + (wy - vy) * (wy - vy) AS len2
  FROM lseg),
proj AS (
  SELECT p.event_id, p.px, p.py, s.vx, s.vy, s.dx, s.dy,
         ((p.px - s.vx) * s.dx + (p.py - s.vy) * s.dy) / s.len2 AS tt
  FROM pts2 p CROSS JOIN seg2 s),
clamped AS (
  SELECT *, CASE WHEN tt < 0.0e0 THEN 0.0e0
                 WHEN tt > 1.0e0 THEN 1.0e0 ELSE tt END AS tc
  FROM proj),
dd AS (
  SELECT event_id,
         (px - (vx + dx * tc)) * (px - (vx + dx * tc))
         + (py - (vy + dy * tc)) * (py - (vy + dy * tc)) AS d2
  FROM clamped)
SELECT event_id, CAST(floor(sqrt(min(d2)) * 1.0e7) AS BIGINT) AS qdist
FROM dd GROUP BY 1 ORDER BY 1"""


def q_knn(spark, sf_dir):
    """kNN join: 25 query points x events, k=5, haversine, deterministic ties."""
    cand = _events_points(spark, sf_dir).withColumnRenamed("event_id", "cand_id")
    qlon, qlat = query_lonlat_cols("n_nationkey")
    queries = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("query_id"), qlon.alias("qlon"), qlat.alias("qlat")
    )
    return knn_join(cand, queries, KNN_K).select("query_id", "rank", "cand_id")


def q_knn_oracle():
    from .functions.geometry import haversine_sql

    d = haversine_sql(
        synth.point_lon_sql("e.event_id"), synth.point_lat_sql("e.event_id"),
        synth.query_lon_sql("n.n_nationkey"), synth.query_lat_sql("n.n_nationkey"),
    )
    return f"""
SELECT query_id, rank, cand_id FROM (
  SELECT n.n_nationkey AS query_id, e.event_id AS cand_id,
         row_number() OVER (PARTITION BY n.n_nationkey ORDER BY {d} ASC, e.event_id ASC) AS rank
  FROM nation n CROSS JOIN events e) t
WHERE rank <= {KNN_K} ORDER BY query_id, rank"""


def q_knn_cells(spark, sf_dir):
    """Same kNN contract via the one-round k-ring plan (each query's ring is
    certified before the join: its outside is provably farther than the
    k-th neighbour can be) — checked against the same DuckDB oracle as the
    brute plan."""
    from .operators.knn import knn_join_cells

    cand = _events_points(spark, sf_dir).withColumnRenamed("event_id", "cand_id")
    qlon, qlat = query_lonlat_cols("n_nationkey")
    queries = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("query_id"), qlon.alias("qlon"), qlat.alias("qlat")
    )
    return knn_join_cells(cand, queries, KNN_K).select("query_id", "rank", "cand_id")


def q_bbox_filter(spark, sf_dir):
    """Envelope selection incl. anti-meridian wraparound SPLIT box."""
    pts = _events_points(spark, sf_dir)
    nyc = pts.filter(bbox_filter(F.col("lon"), F.col("lat"), -75.0, 40.0, -73.0, 41.5)).select(
        "event_id", F.lit("nyc").alias("box")
    )
    wrap = pts.filter(bbox_filter(F.col("lon"), F.col("lat"), 170.0, -20.0, -170.0, 20.0)).select(
        "event_id", F.lit("antimeridian").alias("box")
    )
    return nyc.unionAll(wrap)


def q_bbox_filter_oracle():
    p = _points_sql()
    return f"""
SELECT event_id, 'nyc' AS box FROM ({p}) p
WHERE lon >= -75.0 AND lon <= -73.0 AND lat >= 40.0 AND lat <= 41.5
UNION ALL
SELECT event_id, 'antimeridian' AS box FROM ({p}) p
WHERE (lon >= 170.0 OR lon <= -170.0) AND lat >= -20.0 AND lat <= 20.0"""


def q_mercator(spark, sf_dir):
    """WGS84 -> EPSG:3857 reprojection (ST_Transform workhorse).

    Output floored with an irrational shift: different libm asinh/ln
    implementations differ in final ulps, and lat=0 rows sit exactly on the
    0-boundary otherwise."""
    pts = _events_points(spark, sf_dir)
    x, y = mercator_cols(F.col("lon"), F.col("lat"))
    return pts.select(
        "event_id",
        F.floor(x - F.lit(0.123456789)).cast("long").alias("xm"),
        F.floor(y - F.lit(0.123456789)).cast("long").alias("ym"),
    )


def q_mercator_oracle():
    return f"""
SELECT event_id,
  CAST(floor(radians(lon) * 6378137.0 - 0.123456789) AS BIGINT) AS xm,
  CAST(floor(ln(tan(pi()/4.0 + radians(lat)/2.0)) * 6378137.0 - 0.123456789) AS BIGINT) AS ym
FROM ({_points_sql()}) p ORDER BY event_id"""


def q_lcc_transform(spark, sf_dir):
    """WGS84 -> Lambert-93 (EPSG:2154, LCC 2SP — the projected-CRS family
    beyond Mercator/UTM, VERDICT r1 missing item 3).  Output floored at
    meter scale with the irrational shift (libm pow/tan ulp differences)."""
    from .functions.projections import st_transform_any_udf

    pts = _events_points(spark, sf_dir)
    p = st_transform_any_udf("EPSG:4326", "EPSG:2154")(F.col("lon"), F.col("lat"))
    return pts.select(
        "event_id",
        F.floor(p["x"] - F.lit(0.123456789)).cast("long").alias("xl"),
        F.floor(p["y"] - F.lit(0.123456789)).cast("long").alias("yl"),
    )


def q_lcc_transform_oracle():
    from .functions.projections import CRS_REGISTRY

    p = CRS_REGISTRY["EPSG:2154"]
    # flit: exponent-marked literals, else DuckDB parses bare decimals as
    # DECIMAL and the multiplications overflow / double-round (playbook rule 2)
    e, a, n_, F_, rho0 = (synth.flit(float(v)) for v in (p.e, p.a, p.n, p.F, p.rho0))
    lon0, fe, fn = synth.flit(p.lon0), synth.flit(p.fe), synth.flit(p.fn)
    # identical IEEE op order to LambertConformal2SP.forward
    t = (f"(tan(pi()/4.0 - radians(lat)/2.0) / "
         f"pow((1.0 - {e} * sin(radians(lat))) / (1.0 + {e} * sin(radians(lat))), {e} / 2.0))")
    rho = f"({a} * {F_} * pow({t}, {n_}))"
    th = f"({n_} * radians(lon - {lon0}))"
    return f"""
SELECT event_id,
  CAST(floor({fe} + {rho} * sin({th}) - 0.123456789) AS BIGINT) AS xl,
  CAST(floor({fn} + {rho0} - {rho} * cos({th}) - 0.123456789) AS BIGINT) AS yl
FROM ({_points_sql()}) p ORDER BY event_id"""


def q_laea_transform(spark, sf_dir):
    """WGS84 -> LAEA Europe (EPSG:3035, method 9820 oblique equal-area —
    the equal-area azimuthal member of the projected-CRS family).  Same
    floor-shift discipline as `lcc_transform`."""
    from .functions.projections import st_transform_any_udf

    # exclude a cap around the projection antipode (-170, -52): the equal-
    # area azimuthal map blows up there and near-singular magnification
    # breaks meter-level bit parity.  The cut uses haversine computed with
    # the same FP expression both sides (geodesic_within pattern).
    d = haversine_col(F.col("lon"), F.col("lat"), F.lit(10.0), F.lit(52.0))
    pts = _events_points(spark, sf_dir).filter(d < F.lit(17000000.0))
    p = st_transform_any_udf("EPSG:4326", "EPSG:3035")(F.col("lon"), F.col("lat"))
    return pts.select(
        "event_id",
        F.floor(p["x"] - F.lit(0.123456789)).cast("long").alias("xl"),
        F.floor(p["y"] - F.lit(0.123456789)).cast("long").alias("yl"),
    )


def q_laea_transform_oracle():
    from .functions.projections import CRS_REGISTRY

    p = CRS_REGISTRY["EPSG:3035"]
    e, e2, a = (synth.flit(float(v)) for v in (p.e, p.e2, p.a))
    qp, sinb0, cosb0 = (synth.flit(float(v)) for v in (p.qp, p.sinb0, p.cosb0))
    Rq, D = synth.flit(float(p.Rq)), synth.flit(float(p.D))
    lon0, fe, fn = synth.flit(p.lon0), synth.flit(p.fe), synth.flit(p.fn)
    one_m_e2 = synth.flit(1.0 - p.e2)
    # identical IEEE op order to _q_authalic + LambertAzimuthalEqualArea.forward
    s = "sin(radians(lat))"
    q = (f"({one_m_e2} * ({s} / (1.0 - {e2} * {s} * {s}) "
         f"- (1.0 / (2.0 * {e})) * ln((1.0 - {e} * {s}) / (1.0 + {e} * {s}))))")
    sinb = f"({q} / {qp})"
    cosb = f"(sqrt(1.0 - {sinb} * {sinb}))"
    lam = f"(radians(lon - {lon0}))"
    B = (f"({Rq} * sqrt(2.0 / (1.0 + {sinb0} * {sinb} "
         f"+ {cosb0} * {cosb} * cos({lam}))))")
    x = f"({fe} + ({B} * {D}) * ({cosb} * sin({lam})))"
    y = f"({fn} + ({B} / {D}) * ({cosb0} * {sinb} - {sinb0} * {cosb} * cos({lam})))"
    from .functions.geometry import haversine_sql

    hd = haversine_sql("lon", "lat", "10.0", "52.0")
    return f"""
SELECT event_id,
  CAST(floor({x} - 0.123456789) AS BIGINT) AS xl,
  CAST(floor({y} - 0.123456789) AS BIGINT) AS yl
FROM ({_points_sql()}) p
WHERE {hd} < 17000000.0
ORDER BY event_id"""


def q_geodesic_pairs(spark, sf_dir):
    """Distance predicate (DistanceFilter beyond/within,
    F/filter/DistanceFilter.java:48): events within 50 km of their hot center."""
    pts = _events_points(spark, sf_dir)
    clon = F.expr(synth._center_case("event_id", 0))
    clat = F.expr(synth._center_case("event_id", 1))
    d = haversine_col(F.col("lon"), F.col("lat"), clon, clat)
    return (
        pts.filter((F.col("event_id") % 10) < 8)
        .select("event_id", F.floor(d / F.lit(1000.0) - F.lit(0.123456789)).cast("long").alias("km"))
        .filter(F.col("km") < 50)
    )


def q_geodesic_pairs_oracle():
    from .functions.geometry import haversine_sql

    d = haversine_sql(
        "lon", "lat",
        synth._center_case("event_id", 0), synth._center_case("event_id", 1),
    )
    return f"""
SELECT event_id, CAST(floor({d} / 1000.0 - 0.123456789) AS BIGINT) AS km
FROM ({_points_sql()}) p
WHERE (event_id % 10) < 8 AND CAST(floor({d} / 1000.0 - 0.123456789) AS BIGINT) < 50"""


# ================================================================ relational (FeatureQuery parity)

def q_feature_query_q1(spark, sf_dir):
    """TPC-H Q1 shape: the Statistics partial+final aggregation
    (U/math/Statistics.java:311 combine())."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        )
    )


def q_feature_query_q1_oracle():
    return """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS revenue,
       round(CAST(avg(l_discount) AS DOUBLE), 6) AS avg_disc
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY 1, 2 ORDER BY 1, 2"""


def q_feature_query_facade(spark, sf_dir):
    """FeatureQuery pipeline: selection -> sort (null-aware multi-key) ->
    offset/limit -> projection (S/FeatureSubset.java:134-168 order)."""
    orders = _read(spark, sf_dir, "orders")
    fq = (
        FeatureQuery()
        .set_selection((F.col("o_totalprice") > 150000.0) & (F.col("o_orderstatus") == "O"))
        .set_sort_by(
            SortProperty("o_orderpriority", ascending=True),
            SortProperty("o_totalprice", ascending=False),
            SortProperty("o_orderkey", ascending=True),
        )
        .set_offset(10)
        .set_limit(50)
        .set_projection(
            (F.col("o_orderkey"), "okey"),
            (F.col("o_orderpriority"), "prio"),
            (F.round(F.col("o_totalprice"), 2), "price"),
            (F.col("o_custkey") % 97, "custmod"),
        )
    )
    return fq.execute(orders)


def q_feature_query_facade_oracle():
    return """
SELECT o_orderkey AS okey, o_orderpriority AS prio,
       round(o_totalprice, 2) AS price, o_custkey % 97 AS custmod
FROM orders
WHERE o_totalprice > 150000.0 AND o_orderstatus = 'O'
ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey ASC
LIMIT 50 OFFSET 10"""


def _null_keyed(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 37 == 0, F.lit(None)).otherwise(F.col("c_nationkey")).alias("k"),
    )
    nat = _read(spark, sf_dir, "nation").select(
        "n_name",
        F.when(F.col("n_nationkey") % 11 == 3, F.lit(None)).otherwise(F.col("n_nationkey")).alias("k"),
    )
    return cust, nat


_NULLKEY_SQL = """
cust AS (SELECT c_custkey, CASE WHEN c_custkey % 37 = 0 THEN NULL ELSE c_nationkey END AS k FROM customer),
nat AS (SELECT n_name, CASE WHEN n_nationkey % 11 = 3 THEN NULL ELSE n_nationkey END AS k FROM nation)"""


def q_join_inner_nullsafe(spark, sf_dir):
    """JoinFeatureSet INNER: null key matches null key
    (S/aggregate/JoinFeatureSet.java:498-502 -> Spark `<=>`)."""
    cust, nat = _null_keyed(spark, sf_dir)
    return join_features(cust, nat, "k", "k", "inner").select("c_custkey", "n_name")


def q_join_inner_nullsafe_oracle():
    return f"""
WITH {_NULLKEY_SQL}
SELECT c_custkey, n_name FROM cust JOIN nat ON cust.k IS NOT DISTINCT FROM nat.k"""


def q_join_outer_nullsafe(spark, sf_dir):
    """JoinFeatureSet LEFT_OUTER (:517-541 null emission on no match)."""
    cust, nat = _null_keyed(spark, sf_dir)
    return join_features(cust, nat, "k", "k", "left").select("c_custkey", "n_name")


def q_join_outer_nullsafe_oracle():
    return f"""
WITH {_NULLKEY_SQL}
SELECT c_custkey, n_name FROM cust LEFT JOIN nat ON cust.k IS NOT DISTINCT FROM nat.k"""


def q_union_stats(spark, sf_dir):
    """ConcatenatedFeatureSet (schema-reconciled UNION ALL) + Statistics
    accumulator semantics (count/min/max/sum/mean/std,
    U/math/Statistics.java:93)."""
    cust = _read(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.col("c_acctbal").alias("bal")
    )
    supp = _read(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.col("s_acctbal").alias("bal")
    )
    u = concat_feature_sets(cust, supp)
    return u.groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("bal"), 2).alias("min_bal"),
        F.round(F.max("bal"), 2).alias("max_bal"),
        F.round(F.sum("bal"), 1).alias("sum_bal"),
        F.round(F.avg("bal"), 3).alias("avg_bal"),
        F.round(F.stddev_samp("bal"), 3).alias("std_bal"),
    )


def q_union_stats_oracle():
    return """
WITH u AS (
  SELECT c_nationkey AS nationkey, c_acctbal AS bal FROM customer
  UNION ALL
  SELECT s_nationkey, s_acctbal FROM supplier)
SELECT nationkey, count(*) AS n,
       round(min(bal), 2) AS min_bal, round(max(bal), 2) AS max_bal,
       round(CAST(sum(bal) AS DOUBLE), 1) AS sum_bal,
       round(avg(bal), 3) AS avg_bal,
       round(stddev_samp(bal), 3) AS std_bal
FROM u GROUP BY 1 ORDER BY 1"""


def q_temporal_allen(spark, sf_dir):
    """Allen-interval predicates (F/filter/TemporalFilter.java): DURING a
    period, and order-interval OVERLAPS a fixed window."""
    orders = _read(spark, sf_dir, "orders")
    t0, t1 = "1995-01-01", "1996-01-01"
    during = orders.filter(
        (F.col("o_orderdate") >= F.lit(t0)) & (F.col("o_orderdate") < F.lit(t1))
    )
    # interval [o_orderdate, o_orderdate + 30 days) overlaps [t1, t1 + 90 days)
    overlaps = orders.filter(
        (F.col("o_orderdate") < F.expr("TIMESTAMP '1996-01-01' + INTERVAL 90 DAY"))
        & (F.expr("o_orderdate + INTERVAL 30 DAY") > F.lit(t1))
    )
    return during.select(F.lit("during").alias("rel"), "o_orderkey").unionAll(
        overlaps.select(F.lit("toverlaps").alias("rel"), "o_orderkey")
    )


def q_temporal_allen_oracle():
    return """
SELECT 'during' AS rel, o_orderkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
UNION ALL
SELECT 'toverlaps', o_orderkey FROM orders
WHERE o_orderdate < TIMESTAMP '1996-01-01' + INTERVAL 90 DAY
  AND o_orderdate + INTERVAL 30 DAY > TIMESTAMP '1996-01-01'"""


def q_like_filter(spark, sf_dir):
    """LikeFilter wildcard semantics (F/filter/LikeFilter.java:37): %, _."""
    part = _read(spark, sf_dir, "part")
    return part.filter(
        F.col("p_name").like("%a%e%") & ~F.col("p_type").like("_TEEL%")
    ).select("p_partkey", "p_name", "p_type")


def q_like_filter_oracle():
    return """
SELECT p_partkey, p_name, p_type FROM part
WHERE p_name LIKE '%a%e%' AND p_type NOT LIKE '_TEEL%'"""


def q_between_topk(spark, sf_dir):
    """ComparisonFilter.Between (inclusive bounds) + sort/limit top-k."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity").between(10.0, 20.0))
        .select("l_orderkey", "l_linenumber", F.round(F.col("l_extendedprice"), 2).alias("price"))
        .orderBy(F.col("price").desc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc())
        .limit(100)
    )


def q_between_topk_oracle():
    return """
SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
FROM lineitem WHERE l_quantity BETWEEN 10.0 AND 20.0
ORDER BY price DESC, l_orderkey ASC, l_linenumber ASC LIMIT 100"""


def q_math_functions(spark, sf_dir):
    """SQLMM math-function registry subset (F/filter/math/Function.java:61-169)
    restricted to correctly-rounded ops (abs/floor/ceil/sqrt/sign)."""
    part = _read(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.abs(F.col("p_size") - 25).alias("abs_sz"),
        F.floor(F.col("p_retailprice")).cast("long").alias("floor_price"),
        F.ceil(F.col("p_retailprice")).cast("long").alias("ceil_price"),
        F.sqrt(F.col("p_retailprice")).alias("sqrt_price"),
        F.signum(F.col("p_size") - 25).cast("int").alias("sign_sz"),
    )


def q_math_functions_oracle():
    return """
SELECT p_partkey, abs(p_size - 25) AS abs_sz,
       CAST(floor(p_retailprice) AS BIGINT) AS floor_price,
       CAST(ceil(p_retailprice) AS BIGINT) AS ceil_price,
       sqrt(p_retailprice) AS sqrt_price,
       CAST(sign(p_size - 25) AS INTEGER) AS sign_sz
FROM part ORDER BY p_partkey"""


def q_distinct_grouping(spark, sf_dir):
    """DISTINCT pushdown analog (SQL/FeatureStream.java:52-57) + count distinct."""
    orders = _read(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_orderpriority").alias("n_prio"),
        F.count(F.lit(1)).alias("n"),
    )


def q_distinct_grouping_oracle():
    return """
SELECT o_orderstatus, count(DISTINCT o_orderpriority) AS n_prio, count(*) AS n
FROM orders GROUP BY 1 ORDER BY 1"""


# ================================================================ SQLMM functions

def q_geohash_counts(spark, sf_dir):
    """Geohash encode (G/GeohashReferenceSystem.java:400) — 6-char cells."""
    from .functions.udfs import geohash_udf

    pts = _events_points(spark, sf_dir)
    return (
        pts.withColumn("geohash", geohash_udf(6)("lon", "lat"))
        .groupBy("geohash")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_geohash_counts_oracle():
    from .functions.cells import geohash_sql

    inner = geohash_sql("lon", "lat", 6).replace("__POINTS__", f"({_points_sql()}) p")
    return f"SELECT geohash, count(*) AS n FROM ({inner}) g GROUP BY 1 ORDER BY 1"


def q_st_measures(spark, sf_dir):
    """ST_Area (shoelace, SQLMM.java:445), ST_Perimeter (:455),
    ST_Centroid (:461) over the supplier polygons as WKB geometry columns."""
    import pandas as pd

    from .functions import geometry as geo
    from .functions.sqlmm import st_area_udf, st_centroid_udf, st_perimeter_udf

    polys = _supplier_polygons(spark, sf_dir)
    pdf = pd.DataFrame(
        {"poly_key": [p["key"] for p in polys],
         "wkb": [geo.wkb_polygon([(p["vx"], p["vy"])]) for p in polys]}
    )
    df = spark.createDataFrame(pdf, schema="poly_key long, wkb binary")
    c = st_centroid_udf()(F.col("wkb"))
    return df.select(
        "poly_key",
        F.round(st_area_udf()(F.col("wkb")), 6).alias("area"),
        F.round(st_perimeter_udf()(F.col("wkb")), 6).alias("perim"),
        F.round(c["x"], 6).alias("cx"),
        F.round(c["y"], 6).alias("cy"),
    )


def q_st_measures_oracle():
    return f"""
WITH {synth.polygon_vertices_sql()},
m AS (
  SELECT key, sum(vx * wy - wx * vy) AS s2,
         sum(sqrt((wx - vx) * (wx - vx) + (wy - vy) * (wy - vy))) AS per,
         sum((vx + wx) * (vx * wy - wx * vy)) AS cxs,
         sum((vy + wy) * (vx * wy - wx * vy)) AS cys
  FROM edges GROUP BY 1)
SELECT key AS poly_key, round(abs(s2) * 0.5, 6) AS area, round(per, 6) AS perim,
       round(cxs / (3.0 * s2), 6) AS cx, round(cys / (3.0 * s2), 6) AS cy
FROM m ORDER BY poly_key"""


def q_st_accessors(spark, sf_dir):
    """WKT construct/parse + accessors: ST_GeomFromText (:277),
    ST_X/ST_Y (:309,:314), ST_GeometryType (:58)."""
    from .functions.sqlmm import st_geometry_type_udf, st_geomfromtext_udf, st_x_udf, st_y_udf

    part = _read(spark, sf_dir, "part")
    wkt = F.concat(
        F.lit("POINT ("), (F.col("p_partkey") % 360 - 180).cast("string"),
        F.lit(" "), (F.col("p_partkey") % 170 - 85).cast("string"), F.lit(")"),
    )
    g = st_geomfromtext_udf()(wkt)
    return part.select(
        "p_partkey",
        st_x_udf()(g).alias("x"),
        st_y_udf()(g).alias("y"),
        st_geometry_type_udf()(g).alias("gtype"),
    )


def q_st_accessors_oracle():
    return """
SELECT p_partkey,
       CAST(p_partkey % 360 - 180 AS DOUBLE) AS x,
       CAST(p_partkey % 170 - 85 AS DOUBLE) AS y,
       'ST_Point' AS gtype
FROM part ORDER BY p_partkey"""


def q_st_contains(spark, sf_dir):
    """ST_Contains(literal polygon, point) as a selection filter
    (BinarySpatialFilter semantics; plan-time literal normalization)."""
    from .functions.sqlmm import st_contains_point_udf

    vx, vy = synth.polygon_vertices_np(5)
    pts = _events_points(spark, sf_dir)
    return pts.filter(st_contains_point_udf(vx, vy)(F.col("lon"), F.col("lat"))).select(
        "event_id"
    )


def q_st_contains_oracle():
    return f"""
WITH {synth.polygon_vertices_sql("(SELECT 5 AS s_suppkey)")},
pts AS ({_points_sql()})
SELECT p.event_id
FROM pts p
JOIN edges e
  ON ((e.vy > p.lat) <> (e.wy > p.lat))
 AND (p.lon < (e.wx - e.vx) * (p.lat - e.vy) / (e.wy - e.vy) + e.vx)
GROUP BY p.event_id
HAVING (count(*) % 2) = 1"""


def _formula_tiles(spark, w: int, h: int, bands: int = 2, tile_size: int = 64):
    """Distributed formula raster: tile (tx, ty, band) blocks filled from
    integer pixel formulas a SQL oracle can replicate exactly —
    band 0: (x*7 + y*13) % 256, band 1: (x*3 + y*5 + 17) % 256,
    band 2: (x*11 + y*3 + 29) % 256.
    Padding beyond (w, h) is zero (excluded by the stats extent mask)."""
    import numpy as _np
    import pandas as _pd

    from .raster.tiles import TILE_SCHEMA

    ntx = (w + tile_size - 1) // tile_size
    nty = (h + tile_size - 1) // tile_size
    ids = spark.range(ntx * nty * bands).repartition(
        min(ntx * nty * bands, spark.sparkContext.defaultParallelism)
    )

    def fill(batches):
        gxs = _np.arange(tile_size, dtype=_np.int64)
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                band = i % bands
                t = i // bands
                tx, ty = t % ntx, t // ntx
                GX, GY = _np.meshgrid(tx * tile_size + gxs, ty * tile_size + gxs)
                if band == 0:
                    block = (GX * 7 + GY * 13) % 256
                elif band == 1:
                    block = (GX * 3 + GY * 5 + 17) % 256
                else:
                    block = (GX * 11 + GY * 3 + 29) % 256
                block = _np.where((GX < w) & (GY < h), block, 0).astype(_np.uint8)
                rows.append({"tx": tx, "ty": ty, "band": band,
                             "data": block.tobytes()})
            yield _pd.DataFrame(rows)

    return ids.mapInPandas(fill, TILE_SCHEMA)


def _tile_checksums(tiles, W: int, H: int, TS: int, sums, planes=None):
    """Per-tile position-weighted checksums of TS x TS tile planes (the
    gate side of the raster oracles): pixel (px, py) weighs
    ``(py * W + px) % 9973 + 1`` inside the W x H extent and 0 outside.
    ``sums`` maps each output column to ``fn(wt, *planes) -> int``; a
    column name alone is the weighted sum of the one plane.  ``planes``
    is {column: dtype}, default the int64 ``data`` plane.
    -> (tx, ty, <sums>) rows, all long."""
    import numpy as _np

    from .raster.grid import _map_tiles

    if isinstance(sums, str):
        sums = {sums: lambda wt, v: (v * wt).sum()}
    planes = planes or {"data": _np.int64}

    def body(row, *arrs):
        px = row["tx"] * TS + _np.arange(TS)[None, :]
        py = row["ty"] * TS + _np.arange(TS)[:, None]
        wt = ((py * W + px) % 9973 + 1) * ((px < W) & (py < H))
        return {"tx": row["tx"], "ty": row["ty"],
                **{c: int(fn(wt, *arrs)) for c, fn in sums.items()}}

    return _map_tiles(tiles.select("tx", "ty", *planes),
                      ", ".join(f"{c} long" for c in ["tx", "ty", *sums]),
                      TS, planes, body)


def _cell_checksums(cells, W: int, TS: int, v, *aggs):
    """The Spark-column form of ``_tile_checksums`` over per-pixel (x, y)
    rows: ``cs`` = sum(v * ((y * W + x) % 9973 + 1)) per (tx, ty) tile,
    next to ``aggs``, ordered by tile."""
    wt = ((F.col("y") * W + F.col("x")) % 9973 + 1).cast("long")
    return (
        cells.groupBy(
            (F.col("x") / TS).cast("long").alias("tx"),
            (F.col("y") / TS).cast("long").alias("ty"),
        )
        .agg(F.sum(v * wt).alias("cs"), *aggs)
        .orderBy("tx", "ty")
    )


def q_raster_stats(spark, sf_dir):
    """Per-band raster statistics over a distributed formula raster — the
    Statistics.combine shape (U/math/Statistics.java:311; per-tile partials
    of F/image/StatisticsCalculator.java:124-182) with edge-tile padding
    excluded by the grid extent."""
    from .raster.grid import GridGeometry
    from .raster.tiles import band_stats

    W, H = 1000, 800
    tiles = _formula_tiles(spark, W, H, bands=2)
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    out = band_stats(tiles, gg)
    return out.select(
        "band", "n", "min", "max", "sum", "mean"
    ).orderBy("band")


def q_raster_stats_oracle():
    return """
WITH px AS (
  SELECT gx.x AS x, gy.y AS y
  FROM generate_series(0, 999) gx(x), generate_series(0, 799) gy(y)),
v AS (
  SELECT 0 AS band, (x * 7 + y * 13) % 256 AS v FROM px
  UNION ALL
  SELECT 1 AS band, (x * 3 + y * 5 + 17) % 256 AS v FROM px)
SELECT CAST(band AS INT) AS band, count(*) AS n,
       CAST(min(v) AS BIGINT) AS min, CAST(max(v) AS BIGINT) AS max,
       CAST(sum(v) AS BIGINT) AS sum,
       CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
FROM v GROUP BY band ORDER BY band"""


def q_xyz_pyramid(spark, sf_dir):
    """The slippy-map tile sink end to end (raster/xyz.py — the
    WritableTileMatrixSet analog, S/storage/tiling/TileMatrixSet.java:53): a
    3-band formula raster + its stride-2 overviews render to a {z}/{x}/{y}.png
    tree (one applyInPandas task per tile file), are read back DISTRIBUTED
    (one task per file, z/x/y recovered from paths), PNG-decoded, and reduced
    to per-(zoom, band) stats.  Raster dims are exact tile multiples at every
    level, so the oracle is the formula at stride 2^(maxz - z) — the
    arr[::s, ::s] overview contract through a full encode/decode round trip."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    import numpy as _np
    import pandas as _pd

    from .raster.grid import GridGeometry
    from .raster.tiles import build_overviews
    from .raster.xyz import read_xyz_tiles, write_xyz_tiles

    W, H = 512, 256
    tiles = _formula_tiles(spark, W, H, bands=3)
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    levels = [(0, tiles, gg)] + build_overviews(tiles, gg, 2)
    root = _os.path.join(_tempfile.gettempdir(), "sis_xyz_gate")
    _shutil.rmtree(root, ignore_errors=True)
    write_xyz_tiles(levels, root).collect()  # manifest action drives the write

    def agg(batches):
        for pdf in batches:
            rows = []
            for z, band, data in zip(pdf["z"], pdf["band"], pdf["data"]):
                a = _np.frombuffer(data, _np.uint8).astype(_np.int64)
                rows.append({"z": int(z), "band": int(band), "n": a.size,
                             "s": int(a.sum()), "mn": int(a.min()),
                             "mx": int(a.max())})
            if rows:
                yield _pd.DataFrame(rows)

    part = read_xyz_tiles(spark, root).mapInPandas(
        agg, "z int, band int, n long, s long, mn long, mx long"
    )
    return (
        part.groupBy("z", "band")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("sum"),
             F.min("mn").alias("min"), F.max("mx").alias("max"))
        .orderBy("z", "band")
    )


def q_xyz_pyramid_oracle():
    return """
WITH lv AS (SELECT z.z AS z, (1 << (2 - z.z)) AS st FROM (VALUES (0), (1), (2)) z(z)),
px AS (
  SELECT z, st, x.x * st AS x, y.y * st AS y
  FROM lv, generate_series(0, 511) x(x), generate_series(0, 255) y(y)
  WHERE x.x < 512 // st AND y.y < 256 // st),
ch AS (
  SELECT z, 0 AS band, (x * 7 + y * 13) % 256 AS v FROM px
  UNION ALL SELECT z, 1, (x * 3 + y * 5 + 17) % 256 FROM px
  UNION ALL SELECT z, 2, (x * 11 + y * 3 + 29) % 256 FROM px)
SELECT CAST(z AS INT) AS z, CAST(band AS INT) AS band, count(*) AS n,
       CAST(sum(v) AS BIGINT) AS sum, CAST(min(v) AS BIGINT) AS min,
       CAST(max(v) AS BIGINT) AS max
FROM ch GROUP BY z, band ORDER BY z, band"""


def q_gradient(spark, sf_dir):
    """Distributed DEM gradient (raster/terrain.py — 9-way halo gather,
    numpy.gradient semantics: central differences interior, one-sided at
    the raster's global edges, decided by pixel COORDINATES) under the
    oracle gate: per-tile position-weighted integer checksums of 2*dz/dx
    and 2*dz/dy (doubled gradients are exact integers for an integer
    raster), re-derived per pixel by the oracle."""
    import numpy as _np

    from .raster.grid import GridGeometry
    from .raster.terrain import gradient_tiles

    W, H, TS = 512, 384, 64  # exact tile multiples: no padding anywhere
    tiles = _formula_tiles(spark, W, H, bands=1, tile_size=TS)
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    g = gradient_tiles(tiles, gg, tile_size=TS)

    return _tile_checksums(g, W, H, TS, {
        "csx": lambda wt, x, y: (_np.rint(2.0 * x).astype(_np.int64) * wt).sum(),
        "csy": lambda wt, x, y: (_np.rint(2.0 * y).astype(_np.int64) * wt).sum(),
    }, {"dzdx": _np.float64, "dzdy": _np.float64}).orderBy("tx", "ty")


def q_gradient_oracle():
    v = lambda a, b: f"((({a}) * 7 + ({b}) * 13) % 256)"
    dx2 = (
        f"(CASE WHEN x = 0 THEN 2 * ({v('x + 1', 'y')} - {v('x', 'y')}) "
        f"WHEN x = 511 THEN 2 * ({v('x', 'y')} - {v('x - 1', 'y')}) "
        f"ELSE {v('x + 1', 'y')} - {v('x - 1', 'y')} END)"
    )
    dy2 = (
        f"(CASE WHEN y = 0 THEN 2 * ({v('x', 'y + 1')} - {v('x', 'y')}) "
        f"WHEN y = 383 THEN 2 * ({v('x', 'y')} - {v('x', 'y - 1')}) "
        f"ELSE {v('x', 'y + 1')} - {v('x', 'y - 1')} END)"
    )
    return f"""
WITH px AS (
  SELECT x.x AS x, y.y AS y
  FROM generate_series(0, 511) x(x), generate_series(0, 383) y(y)),
g AS (
  SELECT x // 64 AS tx, y // 64 AS ty,
         {dx2} AS dx2, {dy2} AS dy2,
         ((y * 512 + x) % 9973 + 1) AS wt
  FROM px)
SELECT tx, ty, CAST(sum(dx2 * wt) AS BIGINT) AS csx,
       CAST(sum(dy2 * wt) AS BIGINT) AS csy
FROM g GROUP BY 1, 2 ORDER BY 1, 2"""


N_VT_LINES = 2000
VT_ZOOM = 3
VT_EXTENT = 256


def _vt_vertex_sql(g: str, v: str) -> tuple[str, str]:
    """Shared Spark-SQL/DuckDB vertex formulas for the vector-tile gate
    lines: all coordinates are dyadic (denominators 4/8/16 — exact doubles),
    dx is a positive constant per line and dy is provably nonzero (3m % 16
    never 0 for m in 1..8), so no axis-parallel segments and every
    Liang–Barsky division is IEEE-identical in both engines."""
    x = (
        f"(CAST(({g}) % 32 AS DOUBLE) / 4.0e0"
        f" + CAST(({v}) * ((({g}) % 4) + 1) AS DOUBLE) / 8.0e0)"
    )
    y = (
        f"(CAST((({g}) * 7) % 32 AS DOUBLE) / 4.0e0"
        f" + (CAST((({v}) * ((({g}) % 8) + 1) * 3) % 16 AS DOUBLE) - 7.5e0) / 8.0e0)"
    )
    return x, y


def q_vector_tiles(spark, sf_dir):
    """Vector-tile line cutting under the oracle gate
    (operators/vector_tiles.py): 2000 formula polylines (4 segments each)
    are cut against the zoom-3 tile grid — candidate cells by bbox
    sequence/explode, Liang–Barsky clip, tile-local quantization, ALL
    whole-stage codegen (no Python boundary) — then reduced to per
    (line, tile) segment counts + quantized-endpoint checksums.  The oracle
    replays the identical shared-text expressions in DuckDB."""
    from .operators.vector_tiles import tile_cut_segments

    x0, y0 = _vt_vertex_sql("gid", "v")
    x1, y1 = _vt_vertex_sql("gid", "(v + 1)")
    segs = (
        spark.range(N_VT_LINES)
        .selectExpr("id AS gid", "explode(sequence(0, 3)) AS v")
        .selectExpr("gid", "v AS seg", f"{x0} AS x0", f"{y0} AS y0",
                    f"{x1} AS x1", f"{y1} AS y1")
    )
    cut = tile_cut_segments(segs, zoom=VT_ZOOM, extent=VT_EXTENT)
    return (
        cut.groupBy("gid", "tx", "ty")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.col("qx0") + 3 * F.col("qy0") + 5 * F.col("qx1") + 7 * F.col("qy1")
            ).cast("long").alias("qsum"),
        )
        .orderBy("gid", "tx", "ty")
    )


def q_vector_tiles_oracle():
    from .operators.vector_tiles import tile_cut_oracle_sql

    x0, y0 = _vt_vertex_sql("g.i", "v.v")
    x1, y1 = _vt_vertex_sql("g.i", "(v.v + 1)")
    return f"""
WITH segs AS (
  SELECT g.i AS gid, v.v AS seg,
         {x0} AS x0, {y0} AS y0, {x1} AS x1, {y1} AS y1
  FROM generate_series(0, {N_VT_LINES - 1}) g(i), generate_series(0, 3) v(v)),
{tile_cut_oracle_sql('segs', VT_ZOOM, VT_EXTENT)}
SELECT gid, tx, ty, count(*) AS n,
       CAST(sum(qx0 + 3 * qy0 + 5 * qx1 + 7 * qy1) AS BIGINT) AS qsum
FROM quant GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""


N_PC_RECTS = 600
PC_ZOOM = 3      # 8x8 world tile grid
PC_EXTENT = 64


def _pc_rect_sql(g: str) -> tuple[str, str, str, str]:
    """Shared Spark-SQL/DuckDB formulas for the polygon tile-cut gate
    rectangles (a, c, w, h) = (left, bottom, width, height).  Exactness by
    construction: corners sit at integer + odd/32 (never ON a cell line, so
    no Sutherland–Hodgman on-boundary duplicates) and widths/heights are
    powers of two (1/2/4), so clip divisions against the ORIGINAL extents
    are exact dyadic doubles; clips against already-clipped (non-power-of-
    two) extents may land an ulp off the cell line, but every such point is
    ON a cell boundary where floor+clamp quantization absorbs ±ulp and the
    exact-integer area*1024 is recovered by round()."""
    a = (
        f"(CAST((({g}) % 9) AS DOUBLE) - 1.0e0"
        f" + CAST(2 * (({g}) % 8) + 1 AS DOUBLE) / 32.0e0)"
    )
    c = (
        f"(CAST(((({g}) * 3) % 9) AS DOUBLE) - 1.0e0"
        f" + CAST(2 * ((({g}) * 5) % 8) + 1 AS DOUBLE) / 32.0e0)"
    )
    w = (
        f"(CAST(CASE WHEN ({g}) % 3 = 0 THEN 1 "
        f"WHEN ({g}) % 3 = 1 THEN 2 ELSE 4 END AS DOUBLE))"
    )
    h = (
        f"(CAST(CASE WHEN (({g}) % 5) % 3 = 0 THEN 1 "
        f"WHEN (({g}) % 5) % 3 = 1 THEN 2 ELSE 4 END AS DOUBLE))"
    )
    return a, c, w, h


def q_vector_tiles_poly(spark, sf_dir):
    """Vector-tile POLYGON cutting under the oracle gate: 600 formula
    rectangles (dyadic corners, power-of-two sizes, some straddling the
    grid edge) run through the full tile_cut_polygons pipeline — Arrow
    envelope stage, JVM sequence/explode candidates, Sutherland–Hodgman
    convex clip per (polygon, cell), MVT quantization — then each output
    row is reduced to exact integers: area*1024 (the clip areas are exact
    multiples of 1/1024 by construction), the quantized-ring vertex-sum
    checksum, and the ring vertex count.  The DuckDB oracle re-derives the
    rect∩cell interval clamps in closed form; any FP deviation in the clip
    kernel, ring assembly, or quantization breaks the hash."""
    import pandas as pd

    from .functions.geometry import wkb_parse, wkb_polygon
    from .operators.vector_tiles import tile_cut_polygons

    a, c, w, h = _pc_rect_sql("pkey")
    params = spark.range(N_PC_RECTS).selectExpr(
        "id AS pkey", f"{a} AS a", f"{c} AS c", f"{w} AS w", f"{h} AS h"
    )

    def mk_wkb(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for k, ra, rc, rw, rh in zip(
                pdf["pkey"], pdf["a"], pdf["c"], pdf["w"], pdf["h"]
            ):
                vx = np.array([ra, ra + rw, ra + rw, ra], dtype=np.float64)
                vy = np.array([rc, rc, rc + rh, rc + rh], dtype=np.float64)
                rows.append({"pkey": int(k), "wkb": wkb_polygon([(vx, vy)])})
            yield pd.DataFrame(rows)

    polys = params.mapInPandas(mk_wkb, "pkey long, wkb binary")
    cut = tile_cut_polygons(polys, zoom=PC_ZOOM, extent=PC_EXTENT)

    def digest(batches):
        for pdf in batches:
            rows = []
            for k, tx, ty, area, qb in zip(
                pdf["pkey"], pdf["tx"], pdf["ty"], pdf["area"], pdf["q_wkb"]
            ):
                (qx, qy) = wkb_parse(bytes(qb))[1][0]
                if len(qx) > 1 and qx[0] == qx[-1] and qy[0] == qy[-1]:
                    qx, qy = qx[:-1], qy[:-1]  # WKB rings close; sum open
                # round, don't truncate: clip divisions by already-clipped
                # (non-power-of-two) extents can land an intersection an
                # ulp off the cell line, so area*1024 is integer ± epsilon
                rows.append({
                    "pkey": int(k), "tx": int(tx), "ty": int(ty),
                    "area_q": int(round(area * 1024.0)),
                    "nv": len(qx),
                    "qsum": int(sum(131 * x + 17 * y for x, y in zip(qx, qy))),
                })
            if rows:
                yield pd.DataFrame(rows)

    out = cut.mapInPandas(
        digest, "pkey long, tx long, ty long, area_q long, nv long, qsum long"
    )
    return out.orderBy("pkey", "tx", "ty")


def q_vector_tiles_poly_oracle():
    a, c, w, h = _pc_rect_sql("g.i")
    n = 1 << PC_ZOOM
    qlo = lambda lo, cell: (
        f"greatest(0, least(CAST(floor((({lo}) - CAST({cell} AS DOUBLE))"
        f" * {PC_EXTENT}.0e0) AS BIGINT), {PC_EXTENT - 1}))"
    )
    return f"""
WITH rects AS (
  SELECT g.i AS pkey, {a} AS a, {c} AS c, {w} AS w, {h} AS h
  FROM generate_series(0, {N_PC_RECTS - 1}) g(i)),
cand AS (
  SELECT r.*, tx.tx, ty.ty
  FROM rects r, generate_series(0, {n - 1}) tx(tx), generate_series(0, {n - 1}) ty(ty)
  WHERE tx.tx >= greatest(0, CAST(floor(a) AS BIGINT))
    AND tx.tx <= least({n - 1}, CAST(floor(a + w) AS BIGINT))
    AND ty.ty >= greatest(0, CAST(floor(c) AS BIGINT))
    AND ty.ty <= least({n - 1}, CAST(floor(c + h) AS BIGINT))),
clip AS (
  SELECT pkey, tx, ty,
         greatest(a, CAST(tx AS DOUBLE)) AS ixlo,
         least(a + w, CAST(tx AS DOUBLE) + 1.0e0) AS ixhi,
         greatest(c, CAST(ty AS DOUBLE)) AS iylo,
         least(c + h, CAST(ty AS DOUBLE) + 1.0e0) AS iyhi
  FROM cand),
q AS (
  SELECT pkey, tx, ty,
         CAST(round((ixhi - ixlo) * (iyhi - iylo) * 1024.0e0) AS BIGINT) AS area_q,
         {qlo('ixlo', 'tx')} AS qxlo, {qlo('ixhi', 'tx')} AS qxhi,
         {qlo('iylo', 'ty')} AS qylo, {qlo('iyhi', 'ty')} AS qyhi
  FROM clip WHERE ixhi > ixlo AND iyhi > iylo)
SELECT pkey, tx, ty, area_q, CAST(4 AS BIGINT) AS nv,
       CAST(131 * 2 * (qxlo + qxhi) + 17 * 2 * (qylo + qyhi) AS BIGINT) AS qsum
FROM q ORDER BY pkey, tx, ty"""


ZONAL_POLYS = [
    # (key, [(x, y) vertices]) — irregular coords inside/straddling the
    # gate raster window x in [-4, 4], y in [0, 3]
    (1, [(-2.3, 0.4), (-0.7, 0.9), (-1.1, 2.6)]),
    (2, [(0.3, 0.2), (3.7, 0.7), (3.1, 2.9), (0.9, 2.4)]),
    (3, [(-3.9, 1.7), (-2.9, 0.1), (-1.7, 1.3), (-2.1, 2.9), (-3.3, 2.7)]),
    (4, [(2.5, 2.5), (5.5, 2.7), (4.0, 4.5)]),  # straddles the window edge
]


def q_zonal_stats(spark, sf_dir):
    """Zonal statistics: per-polygon pixel stats of a formula raster, pixel
    CELL CENTERS tested with the engine's even-odd PIP (the MaskedImage x
    Statistics.combine composition).  The affine is dyadic (1/64, 1/128
    pixels) so every pixel-center coordinate is exact in FP — the oracle
    recomputes the centers, the formula, and the PIP verbatim."""
    import numpy as _np

    from .raster.grid import GridGeometry
    from .raster.tiles import zonal_stats

    W, H = 512, 384
    a = (0.015625, 0.0, -4.0, 0.0, -0.0078125, 3.0)
    gg = GridGeometry((0, 0, W - 1, H - 1), a)
    tiles = _formula_tiles(spark, W, H, bands=1)
    polys = []
    for key, verts in ZONAL_POLYS:
        vx = _np.asarray([v[0] for v in verts], float)
        vy = _np.asarray([v[1] for v in verts], float)
        polys.append({
            "key": key, "vx": vx, "vy": vy,
            "xmin": float(vx.min()), "ymin": float(vy.min()),
            "xmax": float(vx.max()), "ymax": float(vy.max()),
        })
    out = zonal_stats(tiles, gg, polys)
    return out.select(
        "poly_key", "band", "n", "sum", "min", "max", "mean"
    ).orderBy("poly_key")


def q_zonal_stats_oracle():
    from .synth import flit

    edges = []
    for key, verts in ZONAL_POLYS:
        n = len(verts)
        for i in range(n):
            x1, y1 = verts[i]
            x2, y2 = verts[(i + 1) % n]
            edges.append(
                f"({key}, {flit(x1)}, {flit(y1)}, {flit(x2)}, {flit(y2)})"
            )
    edges_sql = ", ".join(edges)
    # pixel centers: cx = 0.015625*gx + (0.015625*0.5 + (-4.0)),
    #                cy = -0.0078125*gy + (-0.0078125*0.5 + 3.0)
    # (dyadic affine: every term is exact, so any FP evaluation order agrees)
    return f"""
WITH e(key, vx, vy, wx, wy) AS (VALUES {edges_sql}),
px AS (
  SELECT gx.x AS x, gy.y AS y,
         1.5625e-2 * gx.x + (-3.9921875e0) AS cx,
         -7.8125e-3 * gy.y + (2.99609375e0) AS cy,
         (gx.x * 7 + gy.y * 13) % 256 AS v
  FROM generate_series(0, 511) gx(x), generate_series(0, 383) gy(y)),
pip AS (
  SELECT p.x, p.y, p.v, e.key,
         (sum(CASE WHEN ((e.vy > p.cy) <> (e.wy > p.cy))
                    AND (p.cx < (e.wx - e.vx) * (p.cy - e.vy) / (e.wy - e.vy) + e.vx)
              THEN 1 ELSE 0 END) % 2) = 1 AS inside
  FROM px p CROSS JOIN e
  GROUP BY p.x, p.y, p.v, e.key)
SELECT key AS poly_key, CAST(0 AS INT) AS band, count(*) AS n,
       CAST(sum(v) AS BIGINT) AS sum,
       CAST(min(v) AS BIGINT) AS min, CAST(max(v) AS BIGINT) AS max,
       CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
FROM pip WHERE inside GROUP BY key ORDER BY poly_key"""


def q_point_eval(spark, sf_dir):
    """Raster->vector point sampling (DefaultEvaluator.java:75,
    nullIfOutside -> dropped): synthetic points over the formula raster,
    floor-affine cell lookup, in-tile value read.  The dyadic affine makes
    the inverse-affine floor exact, so the oracle recomputes gx/gy/value
    verbatim; ~36% of points fall outside the window and must be dropped
    by BOTH engines."""
    from .raster.grid import GridGeometry
    from .raster.tiles import point_eval

    W, H = 512, 384
    a = (0.015625, 0.0, -4.0, 0.0, -0.0078125, 3.0)
    gg = GridGeometry((0, 0, W - 1, H - 1), a)
    tiles = _formula_tiles(spark, W, H, bands=1)
    part = _read(spark, sf_dir, "part")
    pts = part.select(
        "p_partkey",
        ((F.col("p_partkey") % 997).cast("double") * 0.01 - 3.98).alias("lon"),
        ((F.col("p_partkey") % 293).cast("double") * 0.01 + 0.02).alias("lat"),
    )
    out = point_eval(tiles, pts, gg)
    return out.select("p_partkey", "band", "value").orderBy("p_partkey")


def q_point_eval_oracle():
    # inverse affine (exact dyadic): gx = floor(64*lon + 256),
    # gy = floor(-128*lat + 384); value = formula(gx, gy)
    return """
WITH pts AS (
  SELECT p_partkey,
         CAST(p_partkey % 997 AS DOUBLE) * 1.0e-2 - 3.98e0 AS lon,
         CAST(p_partkey % 293 AS DOUBLE) * 1.0e-2 + 2.0e-2 AS lat
  FROM part),
g AS (
  SELECT p_partkey,
         CAST(floor(6.4e1 * lon + 2.56e2) AS BIGINT) AS gx,
         CAST(floor(-1.28e2 * lat + 3.84e2) AS BIGINT) AS gy
  FROM pts)
SELECT p_partkey, CAST(0 AS INT) AS band,
       (gx * 7 + gy * 13) % 256 AS value
FROM g
WHERE gx BETWEEN 0 AND 511 AND gy BETWEEN 0 AND 383
ORDER BY p_partkey"""


def q_resample(spark, sf_dir):
    """Distributed NEAREST warp on the SCALE path (resample_gather: per-dst-
    tile source gather, no dense broadcast — ResampledImage.java:84 inverse
    mapping over the merged affine chain).  Both affines are dyadic and the
    chain lands every dst pixel center on src fractional coordinate .25/.75
    (never a rint tie), so the oracle recomputes sx/sy/value verbatim.
    Output: per dst tile (n, sum, position-weighted sum) — int64 exact and
    order-independent, sensitive to any misplaced pixel."""
    import numpy as _np
    import pandas as _pd

    from .raster.grid import GridGeometry
    from .raster.tiles import resample_gather

    SW, SH, DW, DH = 256, 192, 384, 288
    src_gg = GridGeometry((0, 0, SW - 1, SH - 1), (0.0625, 0.0, 0.0, 0.0, -0.0625, 12.0))
    dst_gg = GridGeometry((0, 0, DW - 1, DH - 1), (0.03125, 0.0, 0.5, 0.0, -0.03125, 11.5))
    tiles = _formula_tiles(spark, SW, SH, bands=1)
    out = resample_gather(tiles, src_gg, dst_gg, method="nearest")

    def chk(batches):
        gxs = _np.arange(64, dtype=_np.int64)
        for pdf in batches:
            rows = []
            for tx, ty, band, data in zip(pdf["tx"], pdf["ty"], pdf["band"], pdf["data"]):
                tx, ty = int(tx), int(ty)
                vh = min(64, DH - ty * 64)
                vw = min(64, DW - tx * 64)
                block = _np.frombuffer(data, dtype=_np.uint8).reshape(64, 64)
                GX, GY = _np.meshgrid(tx * 64 + gxs[:vw], ty * 64 + gxs[:vh])
                v = block[:vh, :vw].astype(_np.int64)
                px = GY * DW + GX
                rows.append({
                    "tx": tx, "ty": ty, "band": int(band),
                    "n": int(vh * vw), "s": int(v.sum()),
                    "ws": int((v * px).sum()),
                })
            if rows:
                yield _pd.DataFrame(rows)

    return out.mapInPandas(
        chk, schema="tx long, ty long, band int, n long, s long, ws long"
    ).orderBy("tx", "ty")


def q_resample_oracle():
    # merged chain: src_frac = 0.5*dst_px + 7.75 on both axes (dyadic exact;
    # fractional part is always .25/.75 so round() has no ties)
    return """
WITH d AS (
  SELECT gx.x AS x, gy.y AS y,
         CAST(round(5.0e-1 * gx.x + 7.75e0) AS BIGINT) AS sx,
         CAST(round(5.0e-1 * gy.y + 7.75e0) AS BIGINT) AS sy
  FROM generate_series(0, 383) gx(x), generate_series(0, 287) gy(y)),
v AS (SELECT x, y, (sx * 7 + sy * 13) % 256 AS v FROM d)
SELECT x // 64 AS tx, y // 64 AS ty, CAST(0 AS INT) AS band,
       count(*) AS n, CAST(sum(v) AS BIGINT) AS s,
       CAST(sum(v * (y * 384 + x)) AS BIGINT) AS ws
FROM v GROUP BY 1, 2 ORDER BY tx, ty"""


def q_stretch(spark, sf_dir):
    """Percentile contrast stretch (ImageProcessor.stretchColorRamp,
    F/image/ImageProcessor.java:780): distributed 256-bin histogram ->
    [lo, hi] percentile clip -> linear map, verified through per-band
    stats of the stretched raster.  The oracle rebuilds the cumulative
    histogram over all 256 bins (searchsorted-left == first bin whose
    cum >= target) and applies the identical FP map
    floor(clip((v - lo) * (255 / (hi - lo)), 0, 255))."""
    from .raster.grid import GridGeometry
    from .raster.tiles import band_stats, stretch

    W, H = 500, 300
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _formula_tiles(spark, W, H, bands=1)
    out = stretch(tiles, gg, low_pct=2.0, high_pct=98.0)
    return band_stats(out, gg).select(
        "band", "n", "min", "max", "sum", "mean"
    ).orderBy("band")


def q_stretch_oracle():
    return """
WITH px AS (
  SELECT (gx.x * 7 + gy.y * 13) % 256 AS v
  FROM generate_series(0, 499) gx(x), generate_series(0, 299) gy(y)),
hist AS (
  SELECT b.value, coalesce(h.cnt, 0) AS cnt
  FROM generate_series(0, 255) b(value)
  LEFT JOIN (SELECT v AS value, count(*) AS cnt FROM px GROUP BY v) h
    ON h.value = b.value),
cum AS (
  SELECT value, sum(cnt) OVER (ORDER BY value) AS c,
         sum(cnt) OVER () AS total
  FROM hist),
b AS (
  SELECT
    (SELECT min(value) FROM cum WHERE c >= total * 2.0e0 / 1.0e2) AS lo0,
    least((SELECT min(value) FROM cum WHERE c >= total * 9.8e1 / 1.0e2), 255) AS hi0
  FROM (SELECT 1) one),
bounds AS (
  SELECT CAST(lo0 AS DOUBLE) AS lo,
         CAST(CASE WHEN hi0 <= lo0 THEN lo0 + 1 ELSE hi0 END AS DOUBLE) AS hi
  FROM b),
sv AS (
  SELECT CAST(floor(least(greatest(
           (CAST(v AS DOUBLE) - lo) * (2.55e2 / (hi - lo)), 0.0e0), 2.55e2))
         AS BIGINT) AS s
  FROM px CROSS JOIN bounds)
SELECT CAST(0 AS INT) AS band, count(*) AS n,
       CAST(min(s) AS BIGINT) AS min, CAST(max(s) AS BIGINT) AS max,
       CAST(sum(s) AS BIGINT) AS sum,
       CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
FROM sv GROUP BY 1 ORDER BY band"""


def q_mosaic(spark, sf_dir):
    """Mosaic overlay, first source wins per tile (MergeStrategy.
    opaqueOverlay, S/aggregate/MergeStrategy.java:82): source A keeps only
    tiles with even tx+ty, source B (a different pixel formula) covers
    everything; the merged raster's per-band stats prove priority AND
    gap-filling.  Oracle: CASE on tile parity picks the formula per pixel."""
    from .raster.grid import GridGeometry
    from .raster.tiles import band_stats, mosaic_first

    W, H = 448, 256  # multiples of 64: every tile fully real
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    a = _formula_tiles(spark, W, H, bands=1).filter((F.col("tx") + F.col("ty")) % 2 == 0)
    b = _formula_tiles(spark, W, H, bands=2).filter(F.col("band") == 1).withColumn(
        "band", F.lit(0).cast("int")
    )
    merged = mosaic_first(a, b)
    return band_stats(merged, gg).select(
        "band", "n", "min", "max", "sum", "mean"
    ).orderBy("band")


def q_mosaic_oracle():
    return """
WITH px AS (
  SELECT gx.x AS x, gy.y AS y,
         CASE WHEN ((gx.x // 64) + (gy.y // 64)) % 2 = 0
              THEN (gx.x * 7 + gy.y * 13) % 256
              ELSE (gx.x * 3 + gy.y * 5 + 17) % 256 END AS v
  FROM generate_series(0, 447) gx(x), generate_series(0, 255) gy(y))
SELECT CAST(0 AS INT) AS band, count(*) AS n,
       CAST(min(v) AS BIGINT) AS min, CAST(max(v) AS BIGINT) AS max,
       CAST(sum(v) AS BIGINT) AS sum,
       CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
FROM px GROUP BY 1 ORDER BY band"""


def _ramp_lut():
    """(256, 3) LUT from integer formulas a SQL oracle replicates exactly."""
    import numpy as _np

    v = _np.arange(256, dtype=_np.int64)
    return _np.stack(
        [(v * 5 + 3) % 256, (v * 11 + 7) % 256, 255 - v], axis=1
    ).astype(_np.uint8)


def q_color_ramp(spark, sf_dir):
    """Color-ramp visualization (ImageProcessor.visualize,
    F/image/ImageProcessor.java:1046 colorized rendering): one band through
    a (256, 3) LUT -> R/G/B planes, verified through per-band stats of the
    ramped raster.  The LUT entries come from integer formulas the oracle
    applies pixel-wise."""
    from .raster.grid import GridGeometry
    from .raster.tiles import band_stats, color_ramp

    W, H = 448, 256  # multiples of 64: every pixel real through the LUT
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _formula_tiles(spark, W, H, bands=1)
    out = color_ramp(tiles, _ramp_lut())
    return band_stats(out, gg).select(
        "band", "n", "min", "max", "sum", "mean"
    ).orderBy("band")


def q_color_ramp_oracle():
    return """
WITH px AS (
  SELECT (gx.x * 7 + gy.y * 13) % 256 AS v
  FROM generate_series(0, 447) gx(x), generate_series(0, 255) gy(y)),
ch AS (
  SELECT 0 AS band, (v * 5 + 3) % 256 AS s FROM px
  UNION ALL SELECT 1 AS band, (v * 11 + 7) % 256 AS s FROM px
  UNION ALL SELECT 2 AS band, 255 - v AS s FROM px)
SELECT CAST(band AS INT) AS band, count(*) AS n,
       CAST(min(s) AS BIGINT) AS min, CAST(max(s) AS BIGINT) AS max,
       CAST(sum(s) AS BIGINT) AS sum,
       CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
FROM ch GROUP BY band ORDER BY band"""


def q_band_reduce(spark, sf_dir):
    """Dimensionality reduction over the band axis
    (F/coverage/grid/DimensionalityReduction.java;
    GridCoverageProcessor.java:743-837 "reduce extra dimensions"): pixel-wise
    mean of two formula bands collapses to one plane, verified through stats
    of the reduced raster.  Both inputs are uint8 so (v0 + v1) / 2 is
    FP-exact and the engine's trunc equals the oracle's integer floor-div;
    the shuffle is one row per (tile, band), never per pixel."""
    from .raster.grid import GridGeometry
    from .raster.tiles import band_stats, reduce_bands

    W, H = 1000, 800
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _formula_tiles(spark, W, H, bands=2)
    out = reduce_bands(tiles, op="mean")
    return band_stats(out, gg).select(
        "band", "n", "min", "max", "sum", "mean"
    ).orderBy("band")


def q_band_reduce_oracle():
    return """
WITH px AS (
  SELECT ((gx.x * 7 + gy.y * 13) % 256
        + (gx.x * 3 + gy.y * 5 + 17) % 256) // 2 AS s
  FROM generate_series(0, 999) gx(x), generate_series(0, 799) gy(y))
SELECT CAST(0 AS INT) AS band, count(*) AS n,
       CAST(min(s) AS BIGINT) AS min, CAST(max(s) AS BIGINT) AS max,
       CAST(sum(s) AS BIGINT) AS sum,
       CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
FROM px GROUP BY 1 ORDER BY band"""


ISO_LEVELS = [63.5, 127.5]
_ISO_Q = "1048576.0e0"  # 2^20 — power-of-two scale, exact FP multiply


def _iso_agg_exprs():
    """Order-independent segment-set digest (shared Spark/DuckDB text):
    int64 sums of quantized symmetric endpoint functions — orientation of
    each segment can't matter, per-segment doubles are bit-identical on
    both sides, and integer sums commute."""
    return [
        "CAST(count(*) AS BIGINT) AS n",
        f"CAST(sum(CAST(floor((x1 + x2) * {_ISO_Q}) AS BIGINT)) AS BIGINT) AS sx",
        f"CAST(sum(CAST(floor((y1 + y2) * {_ISO_Q}) AS BIGINT)) AS BIGINT) AS sy",
        "CAST(sum(CAST(floor(((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))"
        f" * {_ISO_Q}) AS BIGINT)) AS BIGINT) AS slen2",
    ]


def q_isolines(spark, sf_dir):
    """Distributed marching-squares contour extraction
    (F/image/processing/isoline/Isolines.java fork-join per-band contouring
    re-expressed as halo-gather + vectorized march): two levels over a
    formula raster, verified by an order-independent quantized digest of
    the segment set.  The oracle re-derives every 2x2 cell case, the linear
    edge interpolation, the saddle center-mean rule, and the engine's exact
    FP association order (tile-local coordinate + frac, then tile offset,
    then the CELL_CENTER affine)."""
    from .raster.grid import GridGeometry
    from .raster.isolines import isolines

    W, H = 448, 256  # multiples of 64: no padding, full halo coverage
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _formula_tiles(spark, W, H, bands=1)
    segs = isolines(tiles, gg, ISO_LEVELS)
    return segs.groupBy("level").agg(
        *[F.expr(e) for e in _iso_agg_exprs()]
    ).orderBy("level")


def q_isolines_oracle():
    # marching-squares case table (tl=v00, tr=v10, br=v11, bl=v01;
    # idx = tl + 2*tr + 4*br + 8*bl) — mirrors isolines.marching_squares
    cases = {
        1: [("l", "t")], 2: [("t", "r")], 3: [("l", "r")], 4: [("r", "b")],
        6: [("t", "b")], 7: [("l", "b")], 8: [("b", "l")], 9: [("t", "b")],
        11: [("r", "b")], 12: [("r", "l")], 13: [("t", "r")], 14: [("l", "t")],
    }
    saddles = [  # (idx, center-hi?, pairs)
        (5, True, [("l", "t"), ("r", "b")]),
        (5, False, [("l", "b"), ("t", "r")]),
        (10, True, [("t", "r"), ("b", "l")]),
        (10, False, [("l", "t"), ("r", "b")]),
    ]

    def edge(e, lvl):
        # tile-LOCAL pixel coordinate + interpolation frac FIRST (the
        # engine builds segments in halo-local coords), tile offset second,
        # CELL_CENTER affine last — the exact numpy association order
        pxl, pyl = "CAST(x % 64 AS DOUBLE)", "CAST(y % 64 AS DOUBLE)"
        ox = "CAST((x // 64) * 64 AS DOUBLE)"
        oy = "CAST((y // 64) * 64 AS DOUBLE)"
        if e == "t":
            lx, ly = f"({pxl} + ({lvl} - v00) / (v10 - v00))", pyl
        elif e == "r":
            lx, ly = f"({pxl} + 1.0e0)", f"({pyl} + ({lvl} - v10) / (v11 - v10))"
        elif e == "b":
            lx, ly = f"({pxl} + ({lvl} - v01) / (v11 - v01))", f"({pyl} + 1.0e0)"
        else:
            lx, ly = pxl, f"({pyl} + ({lvl} - v00) / (v01 - v00))"
        gx, gy = f"({lx} + {ox})", f"({ly} + {oy})"
        # center affine of ((1,0,0),(0,-1,H=256)) = x+0.5 / 255.5-y, applied
        # in affine_apply's ((a0*x + a1*y) + a2) order
        cx = f"((1.0e0 * {gx} + 0.0e0 * {gy}) + 5.0e-1)"
        cy = f"((0.0e0 * {gx} + -1.0e0 * {gy}) + 2.555e2)"
        return cx, cy

    arms = []
    for lvl_s in ("6.35e1", "1.275e2"):
        idx_sql = (
            f"(CASE WHEN v00 >= {lvl_s} THEN 1 ELSE 0 END"
            f" + 2 * CASE WHEN v10 >= {lvl_s} THEN 1 ELSE 0 END"
            f" + 4 * CASE WHEN v11 >= {lvl_s} THEN 1 ELSE 0 END"
            f" + 8 * CASE WHEN v01 >= {lvl_s} THEN 1 ELSE 0 END)"
        )
        chi_sql = f"((v00 + v10 + v01 + v11) * 2.5e-1 >= {lvl_s})"
        for k, pairs in cases.items():
            for a, b in pairs:
                ax, ay = edge(a, lvl_s)
                bx, by = edge(b, lvl_s)
                arms.append(
                    f"SELECT CAST({lvl_s} AS DOUBLE) AS level, {ax} AS x1, {ay} AS y1,"
                    f" {bx} AS x2, {by} AS y2 FROM c WHERE {idx_sql} = {k}"
                )
        for k, hi, pairs in saddles:
            cond = chi_sql if hi else f"(NOT {chi_sql})"
            for a, b in pairs:
                ax, ay = edge(a, lvl_s)
                bx, by = edge(b, lvl_s)
                arms.append(
                    f"SELECT CAST({lvl_s} AS DOUBLE) AS level, {ax} AS x1, {ay} AS y1,"
                    f" {bx} AS x2, {by} AS y2 FROM c WHERE {idx_sql} = {k} AND {cond}"
                )
    union = "\nUNION ALL\n".join(arms)
    aggs = ", ".join(_iso_agg_exprs())
    return f"""
WITH c AS (
  SELECT gx.x AS x, gy.y AS y,
    CAST((gx.x * 7 + gy.y * 13) % 256 AS DOUBLE) AS v00,
    CAST(((gx.x + 1) * 7 + gy.y * 13) % 256 AS DOUBLE) AS v10,
    CAST((gx.x * 7 + (gy.y + 1) * 13) % 256 AS DOUBLE) AS v01,
    CAST(((gx.x + 1) * 7 + (gy.y + 1) * 13) % 256 AS DOUBLE) AS v11
  FROM generate_series(0, 446) gx(x), generate_series(0, 254) gy(y)),
segs AS (
{union})
SELECT level, {aggs}
FROM segs GROUP BY level ORDER BY level"""


def q_sqlmm_registry(spark, sf_dir):
    """The SQL-callable SQLMM surface end-to-end: the reference registers
    every SQLMM constant with the filter factory so query TEXT can call
    them by name (F/filter/sqlmm/Registry.java:62); register_sqlmm exposes
    the same names via spark.udf.register and this whole gate is a SQL
    string — ST_Point construction, typed parse of a polygon literal,
    ST_GeometryType, and the any-pair predicate dispatch in BOTH operand
    orders (point-in-polygon within / transposed intersects)."""
    from .functions.register import register_sqlmm
    from .functions.sqlmm import wkt_format_polygon

    register_sqlmm(spark)
    _events_points(spark, sf_dir).filter(
        F.col("event_id") % 9 == 3
    ).createOrReplaceTempView("gate_pts")
    vx, vy = synth.polygon_vertices_np(5)
    wkt = wkt_format_polygon(vx, vy)
    return spark.sql(
        f"""
SELECT event_id,
       ST_GeometryType(g) AS gtype,
       ST_Within(g, ST_PolyFromText('{wkt}')) AS inside,
       ST_Intersects(ST_PolyFromText('{wkt}'), g) AS covers
FROM (SELECT event_id, ST_Point(lon, lat) AS g FROM gate_pts)"""
    )


def q_sqlmm_registry_oracle():
    return f"""
WITH {synth.polygon_vertices_sql("(SELECT 5 AS s_suppkey)")},
pts AS (SELECT * FROM ({_points_sql()}) WHERE event_id % 9 = 3),
pip AS (
  SELECT p.event_id,
         (sum(CASE WHEN ((e.vy > p.lat) <> (e.wy > p.lat))
                    AND (p.lon < (e.wx - e.vx) * (p.lat - e.vy) / (e.wy - e.vy) + e.vx)
              THEN 1 ELSE 0 END) % 2) = 1 AS inside
  FROM pts p CROSS JOIN edges e
  GROUP BY p.event_id)
SELECT event_id, 'ST_Point' AS gtype, inside, inside AS covers
FROM pip ORDER BY event_id"""


def q_match_action(spark, sf_dir):
    """MatchAction ANY/ALL/ONE over a multi-valued attribute
    (ComparisonFilter.java:79-82,421-431): per-order quantity arrays,
    compared element-wise with the three aggregation semantics as pure
    higher-order Column functions (exists/forall/filter — codegen, no
    Python)."""
    from .operators.query import multi_comparison

    li = _read(spark, sf_dir, "lineitem")
    g = li.groupBy("l_orderkey").agg(F.collect_list("l_quantity").alias("qs"))
    thr = F.lit(45.0)
    return g.select(
        "l_orderkey",
        multi_comparison(F.col("qs"), ">", thr, "ANY").alias("any45"),
        multi_comparison(F.col("qs"), ">", thr, "ALL").alias("all45"),
        multi_comparison(F.col("qs"), ">", thr, "ONE").alias("one45"),
    )


def q_match_action_oracle():
    return """
SELECT l_orderkey,
       bool_or(l_quantity > 45.0) AS any45,
       bool_and(l_quantity > 45.0) AS all45,
       (count(*) FILTER (WHERE l_quantity > 45.0)) = 1 AS one45
FROM lineitem GROUP BY 1 ORDER BY 1"""


def q_st_lines(spark, sf_dir):
    """LineString construct + accessors (SQLMM.java:365-434): polylines are
    assembled per group from ordered event points (ST_LineString from
    coordinate arrays), then ST_NumPoints / ST_StartPoint / ST_EndPoint /
    ST_IsClosed / quantized ST_Length read them back from WKB.  The
    quantized length (per-segment floor at 1e7, int64 sum) is aggregation-
    order-independent, hence bit-identical to the SQL oracle."""
    from .functions.sqlmm import (
        st_endpoint_udf,
        st_isclosed_udf,
        st_length_q_udf,
        st_linestring_udf,
        st_numpoints_udf,
        st_startpoint_udf,
        st_x_udf,
        st_y_udf,
    )

    pts = _events_points(spark, sf_dir)
    g = (
        pts.withColumn("gid", F.col("event_id") % 50)
        .groupBy("gid")
        .agg(F.sort_array(F.collect_list(F.struct("event_id", "lon", "lat"))).alias("s"))
        .select(
            "gid",
            F.transform("s", lambda r: r["lon"]).alias("xs"),
            F.transform("s", lambda r: r["lat"]).alias("ys"),
        )
    )
    line = g.select("gid", st_linestring_udf()(F.col("xs"), F.col("ys")).alias("wkb"))
    sp = st_startpoint_udf()(F.col("wkb"))
    ep = st_endpoint_udf()(F.col("wkb"))
    return line.select(
        "gid",
        st_numpoints_udf()(F.col("wkb")).cast("long").alias("npts"),
        st_x_udf()(sp).alias("sx"),
        st_y_udf()(sp).alias("sy"),
        st_x_udf()(ep).alias("ex"),
        st_y_udf()(ep).alias("ey"),
        st_isclosed_udf()(F.col("wkb")).alias("closed"),
        st_length_q_udf()(F.col("wkb")).alias("qlen"),
    )


def q_st_lines_oracle():
    return f"""
WITH pts AS ({_points_sql()}),
g AS (SELECT event_id % 50 AS gid, event_id, lon, lat FROM pts),
base AS (
  SELECT gid, count(*) AS npts,
         arg_min(lon, event_id) AS sx, arg_min(lat, event_id) AS sy,
         arg_max(lon, event_id) AS ex, arg_max(lat, event_id) AS ey
  FROM g GROUP BY 1),
seg AS (
  SELECT gid, lon, lat,
         lead(lon) OVER (PARTITION BY gid ORDER BY event_id) AS nlon,
         lead(lat) OVER (PARTITION BY gid ORDER BY event_id) AS nlat
  FROM g),
ln AS (
  SELECT gid,
         sum(CAST(floor(sqrt((nlon - lon) * (nlon - lon) + (nlat - lat) * (nlat - lat))
                        * 10000000.0) AS BIGINT)) AS qlen
  FROM seg WHERE nlon IS NOT NULL GROUP BY 1)
SELECT b.gid, b.npts, b.sx, b.sy, b.ex, b.ey,
       (b.sx = b.ex AND b.sy = b.ey) AS closed,
       CAST(l.qlen AS BIGINT) AS qlen
FROM base b JOIN ln l ON l.gid = b.gid ORDER BY b.gid"""


def q_st_multi(spark, sf_dir):
    """Multi-geometry model (SQLMM.java:550-714): ST_MultiPoint from
    coordinate arrays, ST_GeomCollection from member WKBs, and the generic
    accessors over them — with a full WKT round-trip (ST_AsText ->
    ST_GeomFromText) in the middle so the MULTIPOINT / GEOMETRYCOLLECTION
    grammar of both the formatter and the parser is on the oracle path.
    Reference geometry aggregation: F/geometry/wrapper/Geometries.java
    createMultiGeometry / GeometryWrapper envelope-merge semantics."""
    from .functions.sqlmm import (
        st_astext_udf,
        st_collect_udf,
        st_dimension_udf,
        st_envelope_udf,
        st_geometry_type_udf,
        st_geomfromtext_udf,
        st_geometryn_udf,
        st_length_q_udf,
        st_linestring_udf,
        st_multipoint_udf,
        st_numgeometries_udf,
        st_numpoints_udf,
        st_point_udf,
        st_x_udf,
    )

    pts = _events_points(spark, sf_dir)
    g = (
        pts.withColumn("gid", F.col("event_id") % 40)
        .groupBy("gid")
        .agg(F.sort_array(F.collect_list(F.struct("event_id", "lon", "lat"))).alias("s"))
        .select(
            "gid",
            F.transform("s", lambda r: r["lon"]).alias("xs"),
            F.transform("s", lambda r: r["lat"]).alias("ys"),
        )
    )
    rt = lambda c: st_geomfromtext_udf()(st_astext_udf()(c))  # WKT round-trip
    mp = rt(st_multipoint_udf()(F.col("xs"), F.col("ys")))
    gc = rt(st_collect_udf()(F.array(
        st_point_udf()(F.element_at("xs", 1), F.element_at("ys", 1)),
        st_linestring_udf()(F.col("xs"), F.col("ys")),
    )))
    env = st_envelope_udf()(mp)
    return g.select(
        "gid",
        st_numgeometries_udf()(mp).cast("long").alias("mp_ng"),
        st_numpoints_udf()(mp).cast("long").alias("mp_np"),
        st_dimension_udf()(mp).alias("mp_dim"),
        st_geometry_type_udf()(mp).alias("mp_type"),
        env["xmin"].alias("xmin"),
        env["ymin"].alias("ymin"),
        env["xmax"].alias("xmax"),
        env["ymax"].alias("ymax"),
        st_numgeometries_udf()(gc).cast("long").alias("gc_ng"),
        st_dimension_udf()(gc).alias("gc_dim"),
        st_geometry_type_udf()(gc).alias("gc_type"),
        st_length_q_udf()(gc).alias("gc_qlen"),
        st_x_udf()(st_geometryn_udf()(gc, F.lit(1))).alias("g1x"),
    )


def q_st_multi_oracle():
    return f"""
WITH pts AS ({_points_sql()}),
g AS (SELECT event_id % 40 AS gid, event_id, lon, lat FROM pts),
base AS (
  SELECT gid, count(*) AS n,
         min(lon) AS xmin, min(lat) AS ymin, max(lon) AS xmax, max(lat) AS ymax,
         arg_min(lon, event_id) AS sx
  FROM g GROUP BY 1),
seg AS (
  SELECT gid, lon, lat,
         lead(lon) OVER (PARTITION BY gid ORDER BY event_id) AS nlon,
         lead(lat) OVER (PARTITION BY gid ORDER BY event_id) AS nlat
  FROM g),
ln AS (
  SELECT gid,
         sum(CAST(floor(sqrt((nlon - lon) * (nlon - lon) + (nlat - lat) * (nlat - lat))
                        * 10000000.0) AS BIGINT)) AS qlen
  FROM seg WHERE nlon IS NOT NULL GROUP BY 1)
SELECT b.gid, b.n AS mp_ng, b.n AS mp_np, 0 AS mp_dim,
       'ST_MultiPoint' AS mp_type,
       b.xmin, b.ymin, b.xmax, b.ymax,
       CAST(2 AS BIGINT) AS gc_ng, 1 AS gc_dim,
       'ST_GeomCollection' AS gc_type,
       CAST(coalesce(l.qlen, 0) AS BIGINT) AS gc_qlen,
       b.sx AS g1x
FROM base b LEFT JOIN ln l ON l.gid = b.gid ORDER BY b.gid"""


def q_halfplane_clip(spark, sf_dir):
    """ST_Intersection with a halfplane (binary constructive op family,
    SQLMM.java:135 ST_Intersection): each supplier polygon is clipped to
    ``lon <= cx`` (its own center meridian) and the doubled clipped area is
    returned, quantized to int64 at 1e-7 resolution.

    The engine side is the per-edge Green's-theorem kernel
    (overlay.clip_area_halfplane_q): every directed edge contributes an
    independent term, floored to int64 and summed — order-independent, so
    the distributed sum is exact.  The oracle recomputes the identical
    per-edge terms in DuckDB SQL over the edges CTE.  The general
    polygon-pair Greiner–Hormann path is differentials-tested in
    tests/test_overlay.py (no SQL expression exists for it)."""
    from .functions.overlay import supplier_clip_q_udf

    sup = _read(spark, sf_dir, "supplier").select("s_suppkey")
    clip_q = supplier_clip_q_udf()
    return sup.select(
        F.col("s_suppkey").cast("long").alias("poly_key"),
        clip_q(F.col("s_suppkey")).alias("clip2a_q"),
    )


def q_halfplane_clip_oracle():
    from .functions.overlay import IRR_OFF, QUANT

    quant = synth.flit(QUANT)
    irr = synth.flit(IRR_OFF)
    yi = "(e.vy + (p.cx - e.vx) / (e.wx - e.vx) * (e.wy - e.vy))"
    term_both = "((e.vx * e.wy - e.wx * e.vy) - p.cx * (e.wy - e.vy))"
    term_in1 = f"((e.vx * {yi} - p.cx * e.vy) - p.cx * ({yi} - e.vy))"
    term_in2 = f"((p.cx * e.wy - e.wx * {yi}) - p.cx * (e.wy - {yi}))"
    return f"""
WITH {synth.polygon_vertices_sql()},
terms AS (
  SELECT e.key,
         CAST(floor((CASE
            WHEN e.vx <= p.cx AND e.wx <= p.cx THEN {term_both}
            WHEN e.vx <= p.cx THEN {term_in1}
            WHEN e.wx <= p.cx THEN {term_in2}
            ELSE 0.0e0 END) * {quant} - {irr}) AS BIGINT) AS q
  FROM edges e JOIN par p ON p.key = e.key)
SELECT key AS poly_key, CAST(sum(q) AS BIGINT) AS clip2a_q
FROM terms GROUP BY key ORDER BY poly_key"""


def q_utm_zones(spark, sf_dir):
    """UTM zone + MGRS latitude band per event point — the gazetteer's zone
    arithmetic incl. the Norway (32V widened) and Svalbard (31/33/35/37X)
    exceptions (G/MilitaryGridReferenceSystem.java:373 zone rules).  Engine
    side = the vectorized numpy implementation behind MGRS encode
    (functions/utm.py); oracle = an independent SQL CASE re-derivation."""
    from .functions.utm import mgrs_band_udf, utm_zone_udf

    pts = _events_points(spark, sf_dir).filter(
        (F.col("lat") >= -80.0) & (F.col("lat") < 84.0)
    )
    return pts.select(
        "event_id",
        utm_zone_udf()(F.col("lon"), F.col("lat")).alias("zone"),
        mgrs_band_udf()(F.col("lat")).alias("band"),
    )


def q_utm_zones_oracle():
    bands = "CDEFGHJKLMNPQRSTUVWX"
    return f"""
WITH pts AS ({_points_sql()})
SELECT event_id,
  CAST(CASE
    WHEN lat >= 72.0 AND lat < 84.5 AND lon >= 0.0  AND lon < 9.0  THEN 31
    WHEN lat >= 72.0 AND lat < 84.5 AND lon >= 9.0  AND lon < 21.0 THEN 33
    WHEN lat >= 72.0 AND lat < 84.5 AND lon >= 21.0 AND lon < 33.0 THEN 35
    WHEN lat >= 72.0 AND lat < 84.5 AND lon >= 33.0 AND lon < 42.0 THEN 37
    WHEN lat >= 56.0 AND lat < 64.0 AND lon >= 3.0  AND lon < 12.0 THEN 32
    ELSE (CAST(floor((lon + 180.0) / 6.0) AS BIGINT) % 60) + 1
  END AS INTEGER) AS zone,
  substr('{bands}', CAST(least(greatest(floor((lat + 80.0) / 8.0), 0), 19) AS INTEGER) + 1, 1) AS band
FROM pts
WHERE lat >= -80.0 AND lat < 84.0
ORDER BY event_id"""


# ================================================================ training-data ops (documents / embeddings)

def q_dedup_exact(spark, sf_dir):
    """Exact dedup: md5 content groups, canonical = min id."""
    from .operators.dedup import exact_dedup_groups

    return exact_dedup_groups(_read(spark, sf_dir, "documents"))


def q_dedup_exact_oracle():
    from .operators.dedup import exact_dedup_sql

    return exact_dedup_sql()


N_CC_NODES = 4000


def q_connected_components(spark, sf_dir):
    """Distributed connected components (operators/graph.py — min-label
    propagation + pointer jumping, one scalar per round) under the oracle
    gate: a formula graph of short chains, cross-chain jump edges, and one
    100-node chain (diameter 100 — label propagation alone would need 100
    rounds; pointer jumping converges in O(log n), exercised here) vs the
    DuckDB recursive-CTE transitive closure."""
    from .operators.graph import connected_components

    n = N_CC_NODES
    base = spark.range(n)
    e1 = base.filter(
        f"(id % 5 < 2 OR (id >= 3000 AND id < 3099)) AND id + 1 < {n}"
    ).selectExpr("id AS a", "id + 1 AS b")
    e2 = base.filter(f"id % 11 = 0 AND id + 7 < {n}").selectExpr(
        "id AS a", "id + 7 AS b"
    )
    loops = base.selectExpr("id AS a", "id AS b")  # keep isolated nodes
    cc = connected_components(e1.union(e2).union(loops))
    return cc.orderBy("node")


def q_connected_components_oracle():
    n = N_CC_NODES
    return f"""
WITH RECURSIVE nodes AS (SELECT i FROM generate_series(0, {n - 1}) t(i)),
e AS (
  SELECT i AS a, i + 1 AS b FROM nodes
  WHERE (i % 5 < 2 OR (i >= 3000 AND i < 3099)) AND i + 1 < {n}
  UNION ALL
  SELECT i, i + 7 FROM nodes WHERE i % 11 = 0 AND i + 7 < {n}
),
und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
reach(node, r) AS (
  SELECT i, i FROM nodes
  UNION
  SELECT reach.node, und.b FROM reach JOIN und ON und.a = reach.r
)
SELECT node, min(r) AS comp FROM reach GROUP BY node ORDER BY node"""


def q_dedup_clusters(spark, sf_dir):
    """The LSH-dedup finishing move end to end: pair edges (md5 exact-dup
    CHAINS — each k-copy group contributes k-1 consecutive edges, so the
    3-copy groups need transitive closure, not just pair lookup) ->
    connected components -> one canonical survivor per cluster.  The sf
    documents are all-unique, so duplicate copies are synthesized (x2 for
    doc_id%3==0 at +10000, x3 for doc_id%6==0 at +20000) identically on
    both sides; the oracle re-derives cluster = min(doc_id) per md5 group."""
    from pyspark.sql import Window

    from .operators.graph import dedup_clusters

    base = _read(spark, sf_dir, "documents").select("doc_id", "text")
    docs = base.union(
        base.filter("doc_id % 3 = 0").selectExpr("doc_id + 10000 AS doc_id", "text")
    ).union(
        base.filter("doc_id % 6 = 0").selectExpr("doc_id + 20000 AS doc_id", "text")
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    edges = (
        docs.select(F.md5(F.col("text").cast("binary")).alias("h"), "doc_id")
        .withColumn("prev", F.lag("doc_id").over(w))
        .filter(F.col("prev").isNotNull())
        .select(F.col("prev").alias("a"), F.col("doc_id").alias("b"))
    )
    return dedup_clusters(edges, docs, "doc_id").orderBy("doc_id")


def q_dedup_clusters_oracle():
    return """
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 20000, text FROM documents WHERE doc_id % 6 = 0)
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY md5(text)) AS cluster,
       doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep
FROM docs ORDER BY doc_id"""


def q_lsh_dedup_pipeline(spark, sf_dir):
    """The WHOLE near-dup dedup pipeline under one oracle gate: MinHash
    signatures -> LSH banded candidates -> exact Jaccard verify (the
    minhash_lsh gate's operator, unchanged) -> connected components ->
    one canonical survivor per transitive cluster.  The oracle nests the
    full minhash SQL replica inside a recursive-CTE closure — every stage
    of the production dedup shape is re-derived independently."""
    from .operators.dedup import minhash_lsh_pairs
    from .operators.graph import dedup_clusters

    docs = _read(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, max_bucket=None).select("a", "b")
    return dedup_clusters(pairs, docs, "doc_id").orderBy("doc_id")


def q_lsh_dedup_pipeline_oracle():
    from .operators.dedup import minhash_lsh_sql

    return f"""
WITH RECURSIVE pairs AS (SELECT a, b FROM ({minhash_lsh_sql("documents")}) t),
ids AS (SELECT doc_id FROM documents),
und AS (
  SELECT a AS u, b AS v FROM pairs
  UNION SELECT b, a FROM pairs
  UNION SELECT doc_id, doc_id FROM ids),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM ids
  UNION
  SELECT reach.node, und.v FROM reach JOIN und ON und.u = reach.r)
SELECT node AS doc_id, min(r) AS cluster, node = min(r) AS keep
FROM reach GROUP BY node ORDER BY doc_id"""


INC_SPLIT = 250   # incremental-dedup gate: batch-1 = doc_id < INC_SPLIT
INC_COPIES = 40   # batch-2 replays this many batch-1 texts under new ids


def q_incremental_dedup(spark, sf_dir):
    """Append-shape dedup under the oracle gate (operators/dedup.py
    incremental_dedup): batch 1 seeds the band history (kept docs' band
    keys only — no text crosses batches); batch 2 (fresh docs + INC_COPIES
    verbatim replays of batch-1 texts under new ids) is deduplicated
    against history + itself.  Output: batch-2 decisions (keep, reason
    'history'/'batch'/NULL).  The oracle replays BOTH increments — the
    batch-1 closure, its kept-band table, the band-membership history test,
    and the batch-2 in-batch closure — in one recursive SQL."""
    from .operators.dedup import incremental_dedup

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") < INC_SPLIT)
    b2 = docs.filter(F.col("doc_id") >= INC_SPLIT).unionByName(
        docs.filter(F.col("doc_id") < INC_COPIES)
        .select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    )
    _, kept1 = incremental_dedup(b1, None)
    dec2, _ = incremental_dedup(b2, kept1)
    return dec2.orderBy("doc_id")


def q_incremental_dedup_oracle():
    from .operators.dedup import BAND_SIZE, N_HASHES, minhash_lsh_sql, shingles_sql

    def bands_block(s, rel):
        return f"""
sh{s} AS ({shingles_sql(rel)}),
sigs{s} AS (
  SELECT doc_id, i.i, min(md5(CAST(i.i AS VARCHAR) || ':' || s)) AS mh
  FROM sh{s}, generate_series(0, {N_HASHES - 1}) i(i) GROUP BY 1, 2),
bands{s} AS (
  SELECT doc_id, (i // {BAND_SIZE}) AS band,
         concat_ws('|', min(CASE WHEN i % {BAND_SIZE} = 0 THEN mh END),
                        min(CASE WHEN i % {BAND_SIZE} = 1 THEN mh END)) AS bkey
  FROM sigs{s} GROUP BY 1, 2)"""

    def closure_block(s, rel, pairs_rel):
        return f"""
und{s} AS (
  SELECT a AS u, b AS v FROM {pairs_rel}
  UNION SELECT b, a FROM {pairs_rel}
  UNION SELECT doc_id, doc_id FROM {rel}),
reach{s}(node, r) AS (
  SELECT doc_id, doc_id FROM {rel}
  UNION
  SELECT reach{s}.node, und{s}.v FROM reach{s} JOIN und{s} ON und{s}.u = reach{s}.r),
comp{s} AS (SELECT node AS doc_id, min(r) AS cluster FROM reach{s} GROUP BY node)"""

    return f"""
WITH RECURSIVE
b1 AS (SELECT doc_id, text FROM documents WHERE doc_id < {INC_SPLIT}),
b2 AS (SELECT doc_id, text FROM documents WHERE doc_id >= {INC_SPLIT}
       UNION ALL
       SELECT doc_id + 10000, text FROM documents WHERE doc_id < {INC_COPIES}),
p1 AS (SELECT a, b FROM ({minhash_lsh_sql("b1")}) t),
{closure_block("1", "b1", "p1")},
keep1 AS (SELECT doc_id FROM comp1 WHERE doc_id = cluster),
b1k AS (SELECT b1.doc_id, b1.text FROM b1 JOIN keep1 USING (doc_id)),
{bands_block("h", "b1k")},
hist AS (SELECT DISTINCT band, bkey FROM bandsh),
{bands_block("2", "b2")},
histhit AS (
  SELECT DISTINCT bands2.doc_id FROM bands2 JOIN hist USING (band, bkey)),
p2 AS (SELECT a, b FROM ({minhash_lsh_sql("b2")}) t),
{closure_block("2", "b2", "p2")},
dec AS (
  SELECT doc_id,
         CASE WHEN doc_id IN (SELECT doc_id FROM histhit) THEN 'history'
              WHEN doc_id <> cluster THEN 'batch' END AS reason
  FROM comp2)
SELECT doc_id, reason IS NULL AS keep, reason FROM dec ORDER BY doc_id"""


SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
SAMPLE_RATE = 0.3


def q_dataset_split(spark, sf_dir):
    """Deterministic train/val/test assignment + Bernoulli sampling
    (operators/sampling.py): split and sample are pure functions of
    (key, salt) via a 60-bit md5 integer — rerun-, append-, and
    partitioning-stable, unlike DataFrame.sample.  The oracle re-derives
    every row's split and sample flag from the same hash."""
    from .operators.sampling import hash_split, hash_u60

    docs = _read(spark, sf_dir, "documents")
    thr = int(SAMPLE_RATE * (1 << 60))
    return (
        hash_split(docs, SPLIT_WEIGHTS, "doc_id")
        .select(
            "doc_id", "split",
            (hash_u60(F.col("doc_id"), "sample") < F.lit(thr)).alias("in_sample"),
        )
        .orderBy("doc_id")
    )


def q_dataset_split_oracle():
    from .operators.sampling import hash_u60_sql, split_sql

    thr = int(SAMPLE_RATE * (1 << 60))
    return f"""
SELECT doc_id, {split_sql("doc_id", SPLIT_WEIGHTS)} AS split,
       {hash_u60_sql("doc_id", "sample")} < {thr} AS in_sample
FROM documents ORDER BY doc_id"""


def q_jaccard_pairs(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs (shingle self-join baseline)."""
    from .operators.dedup import jaccard_pairs

    return jaccard_pairs(_read(spark, sf_dir, "documents"))


def q_jaccard_pairs_oracle():
    from .operators.dedup import jaccard_pairs_sql

    return jaccard_pairs_sql()


def q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup: banded candidates + exact Jaccard verify."""
    from .operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_read(spark, sf_dir, "documents"), max_bucket=None)


def q_minhash_lsh_oracle():
    from .operators.dedup import minhash_lsh_sql

    return minhash_lsh_sql()


def q_simhash(spark, sf_dir):
    """64-bit SimHash signatures per document."""
    from .operators.dedup import simhash

    return simhash(_read(spark, sf_dir, "documents"))


def q_simhash_oracle():
    from .operators.dedup import simhash_sql

    return simhash_sql()


def q_token_stats(spark, sf_dir):
    """Token counting / punctuation ratios (rational arithmetic only)."""
    from .operators.textops import token_stats

    return token_stats(_read(spark, sf_dir, "documents"))


def q_token_stats_oracle():
    from .operators.textops import token_stats_sql

    return token_stats_sql()


PACK_CAP = 256   # context-window token capacity for the packing gates
PACK_SHARDS = 8


def q_pack_stream(spark, sf_dir):
    """Token-stream sequence packing (pretraining concat-and-split): per
    shard the documents form one token stream cut into fixed-capacity
    context windows, docs straddling boundaries.  Pure window-cumsum +
    integer-div codegen; oracle is the identical SQL window."""
    from .operators.textops import pack_stream

    return pack_stream(
        _read(spark, sf_dir, "documents"), PACK_CAP, PACK_SHARDS
    ).orderBy("doc_id")


def q_pack_stream_oracle():
    from .operators.textops import pack_stream_sql

    return pack_stream_sql(PACK_CAP, PACK_SHARDS) + " ORDER BY doc_id"


def q_pack_greedy(spark, sf_dir):
    """First-fit-sequential packing (no straddling): the running-remainder
    recurrence runs as one applyInPandas group per shard; the oracle
    replays the same recurrence as a DuckDB RECURSIVE CTE stepping
    row_number within shard."""
    from .operators.textops import pack_greedy

    return pack_greedy(
        _read(spark, sf_dir, "documents"), PACK_CAP, PACK_SHARDS
    ).orderBy("doc_id")


def q_pack_greedy_oracle():
    from .operators.textops import pack_greedy_sql

    return pack_greedy_sql(PACK_CAP, PACK_SHARDS) + " ORDER BY doc_id"


def q_lang_id(spark, sf_dir):
    """Stopword-marker language guesser (engine: per-column scores + argmax
    CASE; oracle: the equivalent inlined SQL text)."""
    from .operators.textops import lang_id

    docs = _read(spark, sf_dir, "documents")
    return lang_id(docs).select("doc_id", "lang", "predicted")


def q_lang_id_oracle():
    from .operators.textops import lang_id_sql

    return f"SELECT doc_id, lang, {lang_id_sql('text')} AS predicted FROM documents"


def q_quality_score(spark, sf_dir):
    """Composite document quality score (shared SQL text)."""
    from .operators.textops import quality_score_sql

    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", F.expr(quality_score_sql("text")).alias("quality"))


def q_quality_score_oracle():
    from .operators.textops import quality_score_sql

    return f"SELECT doc_id, {quality_score_sql('text')} AS quality FROM documents"


def q_fingerprints(spark, sf_dir):
    """Winnowing-style char-k-gram fingerprints (4 min-hashes per doc)."""
    from .operators.textops import fingerprints

    return fingerprints(_read(spark, sf_dir, "documents"))


def q_fingerprints_oracle():
    from .operators.textops import fingerprints_sql

    return fingerprints_sql()


ANN_QUERY_IDS = list(range(10))
ANN_K = 5
# max pairwise cosine in the synthetic embeddings is ~0.51; 0.35 yields a
# meaningful near-dup set while still exercising the threshold filter
NEAR_DUP_THRESHOLD = 0.35


def q_ann_topk(spark, sf_dir):
    """Brute-force quantized-cosine top-k (exact ANN baseline)."""
    from .operators.ann import brute_topk

    emb = _read(spark, sf_dir, "embeddings")
    return brute_topk(emb, ANN_QUERY_IDS, ANN_K).select("query_id", "rank", "cand_id")


def q_ann_topk_oracle():
    return f"""
WITH qv AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS v
  FROM embeddings),
n AS (
  SELECT vec_id, v,
         CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nn
  FROM qv),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         CAST(CAST(list_sum(list_transform(list_zip(c.v, q.v), x -> x[1] * x[2])) AS BIGINT) AS DOUBLE)
           / sqrt(CAST(c.nn AS DOUBLE) * CAST(q.nn AS DOUBLE)) AS qcos
  FROM n q JOIN n c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {len(ANN_QUERY_IDS)})
SELECT query_id, rank, cand_id FROM (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, cand_id ASC) AS rank
  FROM scored) t
WHERE rank <= {ANN_K} ORDER BY query_id, rank"""


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining (ann.hard_negative_topk): exact top-k
    quantized-cosine neighbors with a DIFFERENT label per query — the
    contrastive-training near-miss miner; label predicate applied before
    the per-partition top-k so k never shrinks."""
    from .operators.ann import hard_negative_topk

    emb = _read(spark, sf_dir, "embeddings")
    return hard_negative_topk(emb, ANN_QUERY_IDS, ANN_K).select(
        "query_id", "rank", "cand_id")


def q_hard_negatives_oracle():
    return f"""
WITH qv AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS v
  FROM embeddings),
n AS (
  SELECT vec_id, label, v,
         CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nn
  FROM qv),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         CAST(CAST(list_sum(list_transform(list_zip(c.v, q.v), x -> x[1] * x[2])) AS BIGINT) AS DOUBLE)
           / sqrt(CAST(c.nn AS DOUBLE) * CAST(q.nn AS DOUBLE)) AS qcos
  FROM n q JOIN n c ON c.vec_id <> q.vec_id AND c.label <> q.label
  WHERE q.vec_id < {len(ANN_QUERY_IDS)})
SELECT query_id, rank, cand_id FROM (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, cand_id ASC) AS rank
  FROM scored) t
WHERE rank <= {ANN_K} ORDER BY query_id, rank"""


_MMR_NQ, _MMR_POOL, _MMR_K = 8, 12, 5


def q_mmr(spark, sf_dir):
    """MMR diversified selection (ann.mmr_select, pool 12, k 5,
    lambda 7/10): greedy argmax(7*rel - 3*max-sim-to-selected) on exact
    integer quantized dots — the diversified-retrieval / dedup-aware
    sampling op; the oracle unrolls the greedy as k chained CTE steps."""
    from .operators.ann import mmr_select

    emb = _read(spark, sf_dir, "embeddings")
    return mmr_select(
        emb, list(range(_MMR_NQ)), k=_MMR_K, pool=_MMR_POOL
    ).orderBy("query_id", "pos")


def q_mmr_oracle():
    ln, ld = 7, 3
    parts = [f"""qv AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS v
  FROM embeddings),
pool AS MATERIALIZED (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         CAST(list_sum(list_transform(list_zip(c.v, q.v), x -> x[1] * x[2])) AS BIGINT) AS rel
  FROM qv q JOIN qv c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {_MMR_NQ}
  QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY rel DESC, c.vec_id) <= {_MMR_POOL}),
pv AS (SELECT p.query_id, p.cand_id, qv.v FROM pool p JOIN qv ON qv.vec_id = p.cand_id),
sims AS MATERIALIZED (
  SELECT a.query_id, a.cand_id AS ia, b.cand_id AS ib,
         CAST(list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2])) AS BIGINT) AS sim
  FROM pv a JOIN pv b ON a.query_id = b.query_id),
sel1 AS (
  SELECT query_id, cand_id, rel, CAST(1 AS BIGINT) AS pos FROM pool
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, cand_id) = 1),
selected1 AS (SELECT query_id, cand_id FROM sel1)"""]
    for s in range(2, _MMR_K + 1):
        parts.append(f"""scored{s} AS (
  SELECT p.query_id, p.cand_id, p.rel,
         {ln} * p.rel - {ld} * mx.msim AS score
  FROM pool p
  JOIN (
    SELECT sm.query_id, sm.ia AS cand_id, CAST(max(sm.sim) AS BIGINT) AS msim
    FROM sims sm JOIN selected{s - 1} sl
      ON sl.query_id = sm.query_id AND sl.cand_id = sm.ib
    GROUP BY 1, 2) mx
    ON mx.query_id = p.query_id AND mx.cand_id = p.cand_id
  WHERE NOT EXISTS (
    SELECT 1 FROM selected{s - 1} s2
    WHERE s2.query_id = p.query_id AND s2.cand_id = p.cand_id)),
sel{s} AS (
  SELECT query_id, cand_id, rel, CAST({s} AS BIGINT) AS pos FROM scored{s}
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) = 1),
selected{s} AS (
  SELECT query_id, cand_id FROM selected{s - 1}
  UNION ALL SELECT query_id, cand_id FROM sel{s})""")
    union = "\nUNION ALL ".join(
        f"SELECT query_id, pos, cand_id, rel FROM sel{s}"
        for s in range(1, _MMR_K + 1)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT CAST(query_id AS BIGINT) AS query_id, pos, "
          f"CAST(cand_id AS BIGINT) AS cand_id, rel FROM ({union}) u "
          "ORDER BY query_id, pos"
    )


ANN_NLIST = 16
ANN_NPROBE = 4


def q_ann_ivf(spark, sf_dir):
    """IVF top-k: deterministic k-means coarse quantizer (one exact-integer
    Lloyd iteration, lowest-id init) -> posting lists -> nprobe-list probe
    search.  The second mandated ANN scale path next to LSH buckets: the
    search cogroups the query probes with the posting lists on list_id, so
    each query scans ~nprobe/nlist of the collection — no all-pairs join.
    The oracle replicates the TRAINING too, bit for bit (floor-divided
    integer centroid means)."""
    from .operators.ann import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, ANN_QUERY_IDS, ANN_K, nlist=ANN_NLIST, nprobe=ANN_NPROBE
    ).select("query_id", "rank", "cand_id")


def q_ann_ivf_oracle():
    from .operators.ann import ivf_topk_sql

    return ivf_topk_sql(
        len(ANN_QUERY_IDS), ANN_K, EMB_DIM, nlist=ANN_NLIST, nprobe=ANN_NPROBE
    )


PQ_M = 8
PQ_KSUB = 16


def q_ann_pq(spark, sf_dir):
    """Product-quantization top-k (ADC): deterministic per-subspace k-means
    codebooks (exact-integer training, one Lloyd iteration), the collection
    compressed to m=8 codes per vector, search = m int64 table lookups per
    candidate (no dot products in the scan), partial/final top-k.  The
    compressed-domain scan is the third ANN scale path next to LSH buckets
    and IVF posting lists; the oracle replicates the TRAINING bit-for-bit
    per subspace and the identical ADC sum."""
    from .operators.ann import pq_topk

    emb = _read(spark, sf_dir, "embeddings")
    return pq_topk(emb, ANN_QUERY_IDS, ANN_K, m=PQ_M, ksub=PQ_KSUB)


def q_ann_pq_oracle():
    from .operators.ann import pq_topk_sql

    return pq_topk_sql(
        len(ANN_QUERY_IDS), ANN_K, EMB_DIM, m=PQ_M, ksub=PQ_KSUB
    )


def q_embedding_near_dup(spark, sf_dir):
    """Banded near-duplicates (sign-random-projection candidates + exact
    quantized-cosine verify) — the 100-TB plan: one bucket shuffle, two
    equi-joins, no all-pairs join anywhere (asserted in test_plans.py).
    Recall vs the exact all-pairs baseline is measured in pytest; the oracle
    replicates the identical banded semantics bit-for-bit."""
    from .operators.ann import near_dup_pairs_banded

    emb = _read(spark, sf_dir, "embeddings")
    return near_dup_pairs_banded(emb, NEAR_DUP_THRESHOLD, max_bucket=None).select("a", "b", "qcos")


EMB_DIM = 64


def q_embedding_near_dup_oracle():
    from .operators.ann import near_dup_banded_sql

    return near_dup_banded_sql(EMB_DIM, NEAR_DUP_THRESHOLD)


def q_embedding_dedup_pipeline(spark, sf_dir):
    """The embedding-side dedup pipeline end to end: sign-random-projection
    banded candidates -> exact quantized-cosine verify (the
    embedding_near_dup gate's operator, unchanged) -> connected components
    -> one canonical survivor per transitive cluster of near-duplicate
    vectors.  Oracle = the banded SQL replica nested in a recursive-CTE
    closure (same composition as lsh_dedup_pipeline for text)."""
    from .operators.ann import near_dup_pairs_banded
    from .operators.graph import dedup_clusters

    emb = _read(spark, sf_dir, "embeddings")
    pairs = near_dup_pairs_banded(emb, NEAR_DUP_THRESHOLD, max_bucket=None).select("a", "b")
    return dedup_clusters(pairs, emb, "vec_id").orderBy("vec_id")


def q_embedding_dedup_pipeline_oracle():
    from .operators.ann import near_dup_banded_sql

    return f"""
WITH RECURSIVE pairs AS (
  SELECT a, b FROM ({near_dup_banded_sql(EMB_DIM, NEAR_DUP_THRESHOLD)}) t),
ids AS (SELECT vec_id FROM embeddings),
und AS (
  SELECT a AS u, b AS v FROM pairs
  UNION SELECT b, a FROM pairs
  UNION SELECT vec_id, vec_id FROM ids),
reach(node, r) AS (
  SELECT vec_id, vec_id FROM ids
  UNION
  SELECT reach.node, und.v FROM reach JOIN und ON und.u = reach.r)
SELECT node AS vec_id, min(r) AS cluster, node = min(r) AS keep
FROM reach GROUP BY node ORDER BY vec_id"""


def q_label_centroid_sim(spark, sf_dir):
    """Per-label centroid stats over embeddings (vector agg: elementwise sums
    are exact integer arithmetic after quantization)."""
    from .operators.ann import quantize_col

    emb = _read(spark, sf_dir, "embeddings")
    q = emb.select("label", quantize_col(F.col("embedding")).alias("qv"))
    summed = q.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.element_at(F.col("qv"), i + 1)).alias(f"s{i}")
            for i in range(4)
        ],
    )
    return summed.select("label", "n", "s0", "s1", "s2", "s3")


def q_label_centroid_sim_oracle():
    cols = ", ".join(
        f"CAST(sum(CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * 10000000.0) AS BIGINT)) AS BIGINT) AS s{i}"
        for i in range(4)
    )
    return f"SELECT label, count(*) AS n, {cols} FROM embeddings GROUP BY 1 ORDER BY 1"


# ================================================================ images table (north-rule input)

N_GATE_IMAGES = 2000


def q_images_metadata(spark, sf_dir):
    """The image+caption table itself under the oracle gate: every generated
    row's metadata, caption (byte-equality — the input_hint invariant), and
    spatial cell are re-derived independently in SQL.  Pixel bytes are
    validated by PSNR/pytest (DuckDB cannot decode PNG)."""
    from .functions.spark_exprs import cell_col
    from .sources.images import images_table

    img = images_table(spark, N_GATE_IMAGES)
    return img.select(
        "image_id", "w", "h", "fmt", "caption",
        cell_col(F.col("lon"), F.col("lat"), CELL_RES).alias("cell"),
    )


def _images_meta_sql(n_rows: int) -> str:
    """Shared oracle CTE: the image table's metadata re-derived row-by-row
    (``ids`` + ``meta`` with image_id/w/h/fmt/caption/lon/lat columns)."""
    from .sources.images import FMTS, SIZES, _VOCAB

    word_case = lambda k: (
        "(CASE ((i * 7 + " + str(k) + " * 13) % " + str(len(_VOCAB)) + ") "
        + " ".join(f"WHEN {j} THEN '{w}'" for j, w in enumerate(_VOCAB))
        + " END)"
    )
    caption = (
        "'caption of img-' || lpad(CAST(i AS VARCHAR), 12, '0') || ': ' || "
        + " || ' ' || ".join(word_case(k) for k in range(6))
    )
    size_case = lambda e: (
        f"(CASE ({e}) % 3 WHEN 0 THEN {SIZES[0]} WHEN 1 THEN {SIZES[1]} ELSE {SIZES[2]} END)"
    )
    fmt_case = (
        "(CASE i % 3 "
        + " ".join(f"WHEN {j} THEN '{f}'" for j, f in enumerate(FMTS[:2]))
        + f" ELSE '{FMTS[2]}' END)"
    )
    lon = synth.point_lon_sql("i")
    lat = synth.point_lat_sql("i")
    return f"""ids AS (SELECT i FROM generate_series(0, {n_rows - 1}) t(i)),
meta AS (
  SELECT 'img-' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
         CAST({size_case('i')} AS INTEGER) AS w,
         CAST({size_case('i // 3')} AS INTEGER) AS h,
         {fmt_case} AS fmt,
         {caption} AS caption,
         {lon} AS lon, {lat} AS lat, i
  FROM ids)"""


def q_images_metadata_oracle():
    from .functions.cells import cell_sql_flat

    cell = cell_sql_flat("lon", "lat", CELL_RES)
    return f"""
WITH {_images_meta_sql(N_GATE_IMAGES)}
SELECT image_id, w, h, fmt, caption, {cell} AS cell FROM meta ORDER BY image_id"""


# ================================================================ source stores


def q_geotiff_cog(spark, sf_dir):
    """The GeoTIFF source end-to-end under the oracle gate: a COG (tiled
    deflate + horizontal predictor-2, stride-2 overview IFD chain —
    S/storage/geotiff writer/reader semantics incl.
    TIF/inflater/HorizontalPredictor.java and the TileMatrixSet pyramid
    read) is encoded from an integer-formula RGB array, then every pyramid
    level is read back DISTRIBUTED (driver parses only the IFD; executors
    range-read + inflate + un-predict their blocks) and reduced to per-band
    stats.  The oracle re-derives level L as the formula evaluated at
    (x * 2^L, y * 2^L) — the exact arr[::2^L, ::2^L] overview contract."""
    import numpy as _np

    from .raster.tiles import band_stats
    from .sources.geotiff import encode_cog, geotiff_tiles

    W, H = 448, 256
    GX, GY = _np.meshgrid(
        _np.arange(W, dtype=_np.int64), _np.arange(H, dtype=_np.int64)
    )
    arr = _np.stack(
        [(GX * 7 + GY * 13) % 256, (GX * 3 + GY * 5 + 17) % 256,
         (GX * 11 + GY * 3 + 29) % 256], axis=2,
    ).astype(_np.uint8)
    buf = encode_cog(
        arr, affine=(1.0, 0.0, 0.0, 0.0, -1.0, float(H)),
        tile_size=64, compression="deflate", predictor=2,
    )
    out = None
    for level in (0, 1, 2):
        tiles, gg = geotiff_tiles(spark, buf, level=level)
        st = band_stats(tiles, gg).select(
            F.lit(level).cast("int").alias("level"),
            "band", "n", "min", "max", "sum", "mean",
        )
        out = st if out is None else out.unionAll(st)
    return out.orderBy("level", "band")


def q_geotiff_cog_oracle():
    return """
WITH lv AS (
  SELECT l.l AS level, gx.x * (1 << l.l) AS x, gy.y * (1 << l.l) AS y
  FROM (VALUES (0), (1), (2)) l(l),
       generate_series(0, 447) gx(x), generate_series(0, 255) gy(y)
  WHERE gx.x < 448 // (1 << l.l) AND gy.y < 256 // (1 << l.l)),
ch AS (
  SELECT level, 0 AS band, (x * 7 + y * 13) % 256 AS s FROM lv
  UNION ALL SELECT level, 1, (x * 3 + y * 5 + 17) % 256 FROM lv
  UNION ALL SELECT level, 2, (x * 11 + y * 3 + 29) % 256 FROM lv)
SELECT CAST(level AS INT) AS level, CAST(band AS INT) AS band, count(*) AS n,
       CAST(min(s) AS BIGINT) AS min, CAST(max(s) AS BIGINT) AS max,
       CAST(sum(s) AS BIGINT) AS sum,
       CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
FROM ch GROUP BY level, band ORDER BY level, band"""


def q_geotiff_ccitt(spark, sf_dir):
    """Bilevel CCITT Group 3 1-D (Modified Huffman RLE, TIFF compression
    2) through the full distributed file path — the
    TIF/inflater/CCITTRLE.java slot (r5): a formula-defined 0/1 raster is
    written as a REAL tiled bilevel GeoTIFF (BitsPerSample 1,
    WhiteIsZero), the driver parses only the IFD, executors inflate their
    MH-coded tiles (raster/ccitt.py — codewords verified against the ITU
    T.4 tables), reduced to band stats.  The oracle re-derives the
    formula in SQL."""
    import numpy as _np

    from .raster.tiles import band_stats
    from .sources.geotiff import encode_geotiff, geotiff_tiles

    W, H = 320, 192
    GX, GY = _np.meshgrid(
        _np.arange(W, dtype=_np.int64), _np.arange(H, dtype=_np.int64)
    )
    arr = (((GX * 5 + GY * 3) % 7) < 2).astype(_np.uint8)
    buf = encode_geotiff(
        arr, affine=(1.0, 0.0, 0.0, 0.0, -1.0, float(H)),
        tile_size=64, compression="ccittrle",
    )
    tiles, gg = geotiff_tiles(spark, buf)
    return band_stats(tiles, gg).select(
        "band", "n", "min", "max", "sum", "mean").orderBy("band")


def q_geotiff_ccitt_oracle():
    return """
WITH px AS (
  SELECT ((x * 5 + y * 3) % 7 < 2)::INT AS s
  FROM generate_series(0, 319) gx(x), generate_series(0, 191) gy(y))
SELECT CAST(0 AS INT) AS band, count(*) AS n,
       CAST(min(s) AS BIGINT) AS min, CAST(max(s) AS BIGINT) AS max,
       CAST(sum(s) AS BIGINT) AS sum,
       CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
FROM px"""


N_GPX_FILES = 6


def _gpx_point_rows(f: int):
    """Formula point set for GPX gate file ``f`` — quarters of a degree so
    every coordinate is FP-exact through XML text round-trip and SQL."""
    rows = []
    for i in range(10):
        g = f * 1000 + i
        rows.append(("wpt", None, None, i, g, f"p{g}"))
    for i in range(10):
        g = f * 1000 + 100 + i
        rows.append(("rte", 0, None, i, g, None))
    for sg in range(2):
        for i in range(5):
            g = f * 1000 + 200 + sg * 50 + i
            rows.append(("trk", 0, sg, i, g, None))
    return [
        {"kind": k, "route_id": r, "segment_id": s, "seq": q,
         "lon": (g * 7 % 720) / 4.0 - 90.0, "lat": (g * 13 % 360) / 4.0 - 45.0,
         "ele": float(g), "time": None, "name": nm}
        for (k, r, s, q, g, nm) in rows
    ]


def q_gpx_read(spark, sf_dir):
    """The GPX store end-to-end under the oracle gate (S/storage/gpx
    reader/writer, wpt/rte/trk+trkseg nesting -> flat Moving-Features
    rows): formula point sets are WRITTEN as real GPX XML documents, then
    the folder is read back distributed (each task parses its files) and
    the oracle re-derives every row from the same integer formulas."""
    import os as _os
    import tempfile as _tempfile

    import pandas as _pd

    from .sources.gpx import gpx_table, write_gpx

    d = _os.path.join(_tempfile.gettempdir(), "sis_gpx_gate")
    _os.makedirs(d, exist_ok=True)
    paths = []
    for f in range(N_GPX_FILES):
        p = _os.path.join(d, f"gpx_{f}.gpx")
        with open(p, "w") as fh:
            fh.write(write_gpx(_pd.DataFrame(_gpx_point_rows(f))))
        paths.append(p)
    df = gpx_table(spark, paths)
    return df.select(
        F.regexp_extract("path", r"gpx_(\d+)\.gpx", 1).cast("int").alias("file_id"),
        "kind", "route_id", "segment_id", "seq", "lon", "lat", "ele", "name",
    ).orderBy("file_id", "kind", "route_id", "segment_id", "seq")


def q_gpx_read_oracle():
    return f"""
WITH f AS (SELECT t.f FROM generate_series(0, {N_GPX_FILES - 1}) t(f)),
pts AS (
  SELECT f, 'wpt' AS kind, CAST(NULL AS INT) AS route_id,
         CAST(NULL AS INT) AS segment_id, i AS seq, f * 1000 + i AS g
  FROM f, generate_series(0, 9) s(i)
  UNION ALL
  SELECT f, 'rte', 0, CAST(NULL AS INT), i, f * 1000 + 100 + i
  FROM f, generate_series(0, 9) s(i)
  UNION ALL
  SELECT f, 'trk', 0, sg, i, f * 1000 + 200 + sg * 50 + i
  FROM f, generate_series(0, 1) ss(sg), generate_series(0, 4) s(i))
SELECT CAST(f AS INT) AS file_id, kind,
       CAST(route_id AS INT) AS route_id,
       CAST(segment_id AS INT) AS segment_id,
       CAST(seq AS INT) AS seq,
       CAST(g * 7 % 720 AS DOUBLE) / 4.0e0 - 9.0e1 AS lon,
       CAST(g * 13 % 360 AS DOUBLE) / 4.0e0 - 4.5e1 AS lat,
       CAST(g AS DOUBLE) AS ele,
       CASE WHEN kind = 'wpt' THEN 'p' || CAST(g AS VARCHAR) ELSE NULL END AS name
FROM pts ORDER BY file_id, kind, route_id, segment_id, seq"""


# ================================================================ table format / CSV store


def q_snapshot_table(spark, sf_dir):
    """The Iceberg-shaped snapshot table format end-to-end under the oracle
    gate (sources/table_format.py — the manifest mechanics of the public
    Iceberg spec the north rule's input table uses): the image+caption
    metadata table is committed in two snapshots partitioned by coarse
    spatial cell, then read back three ways — time travel to snapshot 1,
    the current snapshot, and a manifest-level partition-pruned scan (files
    selected on the driver, the cluster never globs the table) — and every
    row of each read is re-derived by the oracle."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from .functions.spark_exprs import cell_col
    from .sources import table_format as tf
    from .sources.images import images_table

    root = _os.path.join(_tempfile.gettempdir(), "sis_snapshot_gate")
    _shutil.rmtree(root, ignore_errors=True)
    half = N_GATE_IMAGES // 2
    img = images_table(
        spark, N_GATE_IMAGES,
        columns=["image_id", "w", "h", "fmt", "caption", "lon", "lat"],
    ).withColumn("cell_p", cell_col(F.col("lon"), F.col("lat"), 4))
    cut = f"img-{half:012d}"
    tf.create_table(spark, root, img.filter(F.col("image_id") < cut),
                    partition_by=["cell_p"])
    tf.append(spark, root, img.filter(F.col("image_id") >= cut))

    cols = ["image_id", "w", "h", "fmt", "caption",
            F.col("cell_p").cast("int").alias("cell_p")]
    s1 = tf.read(spark, root, snapshot=1).select(
        F.lit("s1").alias("label"), *cols)
    cur = tf.read(spark, root).select(F.lit("cur").alias("label"), *cols)
    pruned = tf.read(
        spark, root, partition_filter=lambda p: int(p["cell_p"]) % 4 == 0
    ).select(F.lit("pruned").alias("label"), *cols)
    return s1.unionByName(cur).unionByName(pruned).orderBy("label", "image_id")


def q_snapshot_table_oracle():
    from .functions.cells import cell_sql_flat

    half = N_GATE_IMAGES // 2
    cell = cell_sql_flat("lon", "lat", 4)
    return f"""
WITH {_images_meta_sql(N_GATE_IMAGES)},
rows_ AS (
  SELECT image_id, w, h, fmt, caption, CAST({cell} AS INT) AS cell_p, i
  FROM meta)
SELECT 's1' AS label, image_id, w, h, fmt, caption, cell_p
FROM rows_ WHERE i < {half}
UNION ALL
SELECT 'cur', image_id, w, h, fmt, caption, cell_p FROM rows_
UNION ALL
SELECT 'pruned', image_id, w, h, fmt, caption, cell_p
FROM rows_ WHERE cell_p % 4 = 0
ORDER BY label, image_id"""


def q_csv_roundtrip(spark, sf_dir):
    """The CSV feature store end-to-end under the oracle gate
    (S/csv/Store.java:91 header-driven schema inference :254-262): the
    events table is written as headered CSV (µs ISO-8601 timestamps,
    quoted strings) and read back with full schema INFERENCE; the oracle
    is simply the original table — so timestamps, doubles (Java
    round-trip-exact toString), quoting, and nulls must all survive the
    text round-trip bit-exactly."""
    import os as _os
    import tempfile as _tempfile

    from .sources.csv_store import read_feature_csv, write_feature_csv

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = _os.path.join(_tempfile.gettempdir(), "sis_csv_gate")
    write_feature_csv(ev, out)
    return read_feature_csv(spark, out).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).orderBy("event_id")


def q_csv_roundtrip_oracle():
    return """
SELECT event_id, ts, user_id, event_type, value, props
FROM events ORDER BY event_id"""


N_GATE_FEATURE_IMAGES = 600


def q_image_features(spark, sf_dir):
    """The image decode + feature-extraction path under the oracle gate:
    real encoded bytes (PNG zlib stream / raw planes) are decoded
    DISTRIBUTED and reduced to channel means; the oracle re-derives every
    mean from the closed-form pixel content, so the decoder must be
    bit-perfect.  Lossy JPEG rows are excluded (their reconstruction is
    validated by PSNR pytest, not SQL-expressible); std/edge_energy are
    float reductions over rounded intermediates (association-order
    dependent) and stay pytest-validated."""
    from .operators.imageops import image_features
    from .sources.images import images_table

    img = images_table(spark, N_GATE_FEATURE_IMAGES).filter(
        F.col("fmt") != "jpeg"
    )
    return image_features(img).select(
        "image_id", "mean_r", "mean_g", "mean_b"
    ).orderBy("image_id")


def q_image_features_oracle():
    from .sources.images import SIZES

    size_case = lambda e: (
        f"(CASE ({e}) % 3 WHEN 0 THEN {SIZES[0]} WHEN 1 THEN {SIZES[1]} ELSE {SIZES[2]} END)"
    )
    mean_k = lambda k: (
        f"CAST(sum((x.x * 3 + y.y * 7 + {k} * 31 + d.i * 13) % 256) AS DOUBLE)"
        " / CAST(count(*) AS DOUBLE)"
    )
    return f"""
WITH dims AS (
  SELECT i, {size_case('i')} AS w, {size_case('i // 3')} AS h
  FROM generate_series(0, {N_GATE_FEATURE_IMAGES - 1}) t(i)
  WHERE i % 3 <> 2)
SELECT 'img-' || lpad(CAST(d.i AS VARCHAR), 12, '0') AS image_id,
       {mean_k(0)} AS mean_r,
       {mean_k(1)} AS mean_g,
       {mean_k(2)} AS mean_b
FROM dims d, generate_series(0, 63) x(x), generate_series(0, 63) y(y)
WHERE x.x < d.w AND y.y < d.h
GROUP BY d.i ORDER BY image_id"""


N_GATE_PHASH = 2500


def _phash_formula_sql(i: str) -> str:
    """Shared Spark-SQL/DuckDB 63-bit hash formula (playbook rule 1): groups
    of 5 ids share a mixed base (three multiplicative pieces packing bits
    16..62 — disjoint, so '+' composes them in both dialects without '|'),
    and member j of a group flips the first j of four distinct low bits
    (base low 16 bits are zero, so '+' IS xor there).  Within-group Hamming
    distance is exactly |j1 - j2| <= 4; the banded join must recover every
    such pair.  Only +,*,%,floor,CASE — identical text in both engines
    (DuckDB's xor() vs Spark's ^ never appears)."""
    g = f"CAST(floor(({i}) / 5.0e0) AS BIGINT)"
    j = f"(({i}) % 5)"
    p0 = f"(({g} * 40503 + 12713) % 32768)"
    p1 = f"(({g} * 52711 + 7919) % 65536)"
    p2 = f"(({g} * 31357 + 104729) % 65536)"
    bit = lambda e: (
        f"(CASE ({e}) " + " ".join(f"WHEN {b} THEN {1 << b}" for b in range(16)) + " END)"
    )
    perturb = " + ".join(
        f"(CASE WHEN {j} > {m} THEN {bit(f'({g} * 11 + {m * 7}) % 16')} ELSE 0 END)"
        for m in range(4)
    )
    return (
        f"({p0} * 281474976710656 + {p1} * 4294967296 + {p2} * 65536 + {perturb})"
    )


def q_phash_near_dup(spark, sf_dir):
    """Perceptual near-duplicate pairs by banded Hamming join under the
    oracle gate: the pigeonhole banding (operators/imageops.py
    phash_near_dups — (max_hamming+1) bands, equi-join candidates, exact
    popcount verify, no crossJoin) must recover EXACTLY the brute-force
    O(n^2) pair set the DuckDB oracle computes.  Hash values come from the
    shared SQL formula (real image phash is decode-derived and therefore
    pytest-gated: tests/test_imageops.py exact-vs-brute on codec.phash64)."""
    from .operators.imageops import phash_near_dups

    df = spark.range(N_GATE_PHASH).selectExpr(
        "concat('img-', lpad(cast(id AS string), 12, '0')) AS image_id",
        f"{_phash_formula_sql('id')} AS phash",
    )
    out = phash_near_dups(df, max_hamming=6)
    return out.select(
        "image_id", "image_id_2", F.col("hamming").cast("int").alias("hamming")
    ).orderBy("image_id", "image_id_2")


def q_phash_near_dup_oracle():
    f = _phash_formula_sql("i")
    return f"""
WITH h AS (
  SELECT 'img-' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id, {f} AS phash
  FROM generate_series(0, {N_GATE_PHASH - 1}) t(i))
SELECT a.image_id AS image_id, b.image_id AS image_id_2,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM h a JOIN h b ON a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= 6
ORDER BY 1, 2"""


def q_phash_dedup_pipeline(spark, sf_dir):
    """The image-modality dedup pipeline end to end under one oracle gate
    (the phash twin of lsh_dedup_pipeline / embedding_dedup_pipeline):
    banded Hamming candidate pairs -> exact popcount verify -> connected
    components -> one canonical survivor per transitive cluster.  The
    shared 63-bit formula builds 5-member near-dup groups, so the closure
    must recover exactly 500 five-image clusters with the lexicographic
    minimum as keeper."""
    from .operators.graph import dedup_clusters
    from .operators.imageops import phash_near_dups

    df = spark.range(N_GATE_PHASH).selectExpr(
        "concat('img-', lpad(cast(id AS string), 12, '0')) AS image_id",
        f"{_phash_formula_sql('id')} AS phash",
    )
    pairs = phash_near_dups(df, max_hamming=6).select(
        F.col("image_id").alias("a"), F.col("image_id_2").alias("b")
    )
    return dedup_clusters(pairs, df, "image_id").orderBy("image_id")


def q_phash_dedup_pipeline_oracle():
    f = _phash_formula_sql("i")
    return f"""
WITH RECURSIVE h AS (
  SELECT 'img-' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id, {f} AS phash
  FROM generate_series(0, {N_GATE_PHASH - 1}) t(i)),
pairs AS (
  SELECT a.image_id AS a, b.image_id AS b
  FROM h a JOIN h b ON a.image_id < b.image_id
  WHERE bit_count(xor(a.phash, b.phash)) <= 6),
und AS (
  SELECT a AS u, b AS v FROM pairs
  UNION SELECT b, a FROM pairs
  UNION SELECT image_id, image_id FROM h),
reach(node, r) AS (
  SELECT image_id, image_id FROM h
  UNION
  SELECT reach.node, und.v FROM reach JOIN und ON und.u = reach.r)
SELECT node AS image_id, min(r) AS cluster, node = min(r) AS keep
FROM reach GROUP BY node ORDER BY image_id"""


N_GATE_TAR = 1200
TAR_SHARDS = 8


def q_tar_shards(spark, sf_dir):
    """The tar-shard store (WebDataset layout, sources/tar_shards.py) end to
    end: the image table is written as 8 deterministic tar shards (one
    executor task per shard, members {id}.json/{id}.txt/{id}.{fmt}) and read
    back DISTRIBUTED (one task per shard); every read row's metadata,
    caption, and shard assignment are re-derived by the oracle.  Payload
    byte fidelity is pytest-gated (round-trip equality + ranged-read proof,
    tests/test_tar_shards.py — DuckDB cannot decode tar)."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from .sources.images import images_table
    from .sources.tar_shards import read_tar_shards, write_tar_shards

    root = _os.path.join(_tempfile.gettempdir(), "sis_tar_gate")
    _shutil.rmtree(root, ignore_errors=True)
    img = images_table(spark, N_GATE_TAR).withColumn(
        "shard",
        (F.substring("image_id", 5, 12).cast("long") % TAR_SHARDS).cast("int"),
    )
    write_tar_shards(img, root).collect()  # manifest rows drive the write
    rd = read_tar_shards(spark, root)
    return rd.select("image_id", "shard", "w", "h", "fmt", "caption").orderBy(
        "image_id"
    )


def q_tar_shards_oracle():
    return f"""
WITH {_images_meta_sql(N_GATE_TAR)}
SELECT image_id, CAST(i % {TAR_SHARDS} AS INT) AS shard, w, h, fmt, caption
FROM meta ORDER BY image_id"""


N_GATE_AUG = 300


def q_augment(spark, sf_dir):
    """Deterministic image augmentation under the oracle gate: decode ->
    {hflip, vflip, rot90, crop} -> position-weighted integer digest
    (operators/imageops.py augment_checksums), one Arrow pass, no re-encode.
    The oracle re-derives every digest from the closed-form pixel content
    with the op's index mapping — so the decoder AND each kernel's exact
    pixel permutation are verified per image.  Lossy JPEG rows are excluded
    (PSNR pytest instead); re-encoded augmented BYTES are pytest-gated."""
    from .operators.imageops import augment_checksums
    from .sources.images import images_table

    img = images_table(
        spark, N_GATE_AUG, columns=["image_id", "bytes", "fmt"]
    ).filter(F.col("fmt") != "jpeg")
    return augment_checksums(img).orderBy("image_id", "op")


def q_augment_oracle():
    from .sources.images import SIZES

    size_case = lambda e: (
        f"(CASE ({e}) % 3 WHEN 0 THEN {SIZES[0]} WHEN 1 THEN {SIZES[1]} ELSE {SIZES[2]} END)"
    )
    # (op, out_w, out_h, src_x, src_y) in terms of d.w/d.h and out coords x.x/y.y
    arms = [
        ("hflip", "d.w", "d.h", "d.w - 1 - x.x", "y.y"),
        ("vflip", "d.w", "d.h", "x.x", "d.h - 1 - y.y"),
        # numpy rot90 k=1: out[i, j] = in[j, w-1-i] -> out is (w, h)
        ("rot90", "d.h", "d.w", "d.w - 1 - y.y", "x.x"),
        ("crop", "d.w // 2", "d.h // 2", "d.w // 4 + x.x", "d.h // 4 + y.y"),
    ]
    sel = lambda op, ow, oh, sx, sy: f"""
SELECT 'img-' || lpad(CAST(d.i AS VARCHAR), 12, '0') AS image_id, '{op}' AS op,
       CAST(sum(
         ((({sx}) * 3 + ({sy}) * 7 + c.c * 31 + d.i * 13) % 256)
         * ((((y.y * ({ow}) + x.x) * 3 + c.c) % 9973) + 1)
       ) AS BIGINT) AS checksum
FROM dims d, generate_series(0, 63) x(x), generate_series(0, 63) y(y),
     generate_series(0, 2) c(c)
WHERE x.x < ({ow}) AND y.y < ({oh})
GROUP BY d.i"""
    body = "\nUNION ALL".join(sel(*a) for a in arms)
    return f"""
WITH dims AS (
  SELECT i, {size_case('i')} AS w, {size_case('i // 3')} AS h
  FROM generate_series(0, {N_GATE_AUG - 1}) t(i)
  WHERE i % 3 <> 2)
{body}
ORDER BY image_id, op"""


N_GATE_PATCH = 200
PATCH = 24  # does not divide 16/32/64 -> every image has truncated edge patches


def q_patchify(spark, sf_dir):
    """ViT-style patch extraction under the oracle gate: decode -> 24x24
    grid slices (edge patches truncated, never padded) -> per-patch
    position-weighted integer digest (operators/imageops.patchify_checksums,
    one Arrow pass, no re-encode).  The oracle re-derives every patch digest
    from the closed-form pixel content and the slice index arithmetic —
    global pixel = patch_origin + local offset, weight over the patch's OWN
    flattened positions — so decoder AND slicing are verified per patch.
    Patch 24 never divides the 16/32/64 image sizes, so truncated-edge
    arithmetic is exercised on every image.  Lossy JPEG rows excluded
    (PSNR pytest instead); re-encoded patch BYTES are pytest-gated."""
    from .operators.imageops import patchify_checksums
    from .sources.images import images_table

    img = images_table(
        spark, N_GATE_PATCH, columns=["image_id", "bytes", "fmt"]
    ).filter(F.col("fmt") != "jpeg")
    return patchify_checksums(img, patch=PATCH).orderBy("image_id", "py", "px")


def q_patchify_oracle():
    from .sources.images import SIZES

    size_case = lambda e: (
        f"(CASE ({e}) % 3 WHEN 0 THEN {SIZES[0]} WHEN 1 THEN {SIZES[1]} ELSE {SIZES[2]} END)"
    )
    P = PATCH
    return f"""
WITH dims AS (
  SELECT i, {size_case('i')} AS w, {size_case('i // 3')} AS h
  FROM generate_series(0, {N_GATE_PATCH - 1}) t(i)
  WHERE i % 3 <> 2),
patches AS (
  SELECT d.i, d.w, d.h, gx.px, gy.py,
         LEAST({P}, d.w - gx.px * {P}) AS pw,
         LEAST({P}, d.h - gy.py * {P}) AS ph
  FROM dims d, generate_series(0, 3) gx(px), generate_series(0, 3) gy(py)
  WHERE gx.px * {P} < d.w AND gy.py * {P} < d.h)
SELECT 'img-' || lpad(CAST(p.i AS VARCHAR), 12, '0') AS image_id,
       CAST(p.py AS INT) AS py, CAST(p.px AS INT) AS px,
       CAST(sum(
         (((p.px * {P} + lx.lx) * 3 + (p.py * {P} + ly.ly) * 7 + c.c * 31 + p.i * 13) % 256)
         * ((((ly.ly * p.pw + lx.lx) * 3 + c.c) % 9973) + 1)
       ) AS BIGINT) AS checksum
FROM patches p, generate_series(0, {P - 1}) lx(lx),
     generate_series(0, {P - 1}) ly(ly), generate_series(0, 2) c(c)
WHERE lx.lx < p.pw AND ly.ly < p.ph
GROUP BY 1, 2, 3
ORDER BY image_id, py, px"""


N_GATE_ASPECT = 1000


def q_aspect_batches(spark, sf_dir):
    """Aspect-ratio bucketing + deterministic batch assembly for image
    training (operators/imageops.aspect_batches): nearest-bucket argmin over
    scale-fair integer cross products (no FP ratios), then rank-within-bucket
    div/mod batch_size.  The scan reads ONLY (image_id, w, h) — the payload
    bytes never leave the source (generator-side pruning)."""
    from .operators.imageops import aspect_batches
    from .sources.images import images_table

    img = images_table(spark, N_GATE_ASPECT, columns=["image_id", "w", "h"])
    return aspect_batches(img, batch_size=32).orderBy("image_id")


def q_aspect_batches_oracle():
    from .operators.imageops import aspect_batches_sql
    from .sources.images import SIZES

    size_case = lambda e: (
        f"(CASE ({e}) % 3 WHEN 0 THEN {SIZES[0]} WHEN 1 THEN {SIZES[1]} ELSE {SIZES[2]} END)"
    )
    rel = (
        f"(SELECT 'img-' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id, "
        f"{size_case('i')} AS w, {size_case('i // 3')} AS h "
        f"FROM generate_series(0, {N_GATE_ASPECT - 1}) t(i))"
    )
    return aspect_batches_sql(32, rel) + " ORDER BY image_id"


# ================================================================ moving features (MF-CSV)

N_MF_FILES = 3
_MF_T0 = "2024-01-01T00:00:00Z"
_MF_STATE_SQL = "CASE ({k}) % 3 WHEN 0 THEN 'walk' WHEN 1 THEN 'ride' ELSE 'fly' END"


def _mf_write_files(tag: str, with_omissions: bool) -> list[str]:
    """Deterministic MF-CSV fixture files: per file, 10 moving features x 3
    time-contiguous segments, lines ordered (segment, feature) so the
    previous-physical-line inheritance crosses features.  Vertices follow
    u = 4*segment + v with x = i + u^2/64, y = file + u/32 (all dyadic, so
    the text round-trip and every later interpolation are FP-exact); even
    features have 5 points per segment (joining vertices coincide -> merge
    dedup fires), odd features 4 (no coincidence).  When
    ``with_omissions``, features with i%3==1 omit their trailing attribute
    values on every line (inherit from the previous line = feature i-1)."""
    import os as _os
    import tempfile as _tempfile

    import pandas as _pd

    from .sources.mf_csv import format_mf_csv

    d = _os.path.join(_tempfile.gettempdir(), f"sis_mf_gate_{tag}")
    _os.makedirs(d, exist_ok=True)
    t0_us = _pd.Timestamp(_MF_T0.rstrip("Z")).value // 1000
    header = {
        "crs": "urn:ogc:def:crs:CRS:1.3:84", "lower": (0.0, 0.0),
        "upper": (1024.0, 1024.0), "t0": _MF_T0,
        "t1": "2024-01-02T00:00:00Z", "unit_seconds": 1.0,
        "columns": [("state", "string"), ("code", "bigint")],
        "foliation": "Time",
    }
    states = ["walk", "ride", "fly"]
    paths = []
    for f in range(N_MF_FILES):
        rows = []
        for s in range(3):
            for i in range(10):
                start = t0_us + (i * 256 + s * 32) * 1_000_000
                n = 5 if i % 2 == 0 else 4
                traj = []
                for v in range(n):
                    u = s * 4 + v
                    traj += [i + u * u / 64.0, f + u / 32.0]
                omit = with_omissions and i % 3 == 1
                state = None if omit else states[(i + (1 if s == 2 else 0)) % 3]
                code = None if omit else i * 5 + s % 2
                rows.append([f"mf-{i}", start, start + 32_000_000, traj, state, code])
        p = _os.path.join(d, f"mf_{f}.csv")
        with open(p, "w") as fh:
            fh.write(format_mf_csv(
                _pd.DataFrame(rows, columns=["mfidref", "start_us", "end_us",
                                             "trajectory", "state", "code"]),
                header,
            ))
        paths.append(p)
    return paths


def _mf_file_id():
    return F.regexp_extract("path", r"mf_(\d+)\.csv", 1).cast("int").alias("file_id")


def q_mf_fragmented(spark, sf_dir):
    """The Moving Features CSV store, FRAGMENTED representation, under the
    oracle gate (S/csv/Store.java:229-330 header parsing, TimeEncoding
    relative seconds, FeatureIterator fixed leading columns, and the
    previous-line value inheritance of the reference's own fixture): files
    are written through the store's writer, read back distributed, the
    trajectory exploded to ordered vertices, and every row — including the
    inherited attribute values — re-derived closed-form by the oracle."""
    from .sources.mf_csv import mf_table

    paths = _mf_write_files("frag", with_omissions=True)
    df = mf_table(spark, paths)
    pts = F.expr(
        "transform(sequence(0, cast(size(trajectory)/2 as int) - 1),"
        " v -> struct(trajectory[2*v] as x, trajectory[2*v+1] as y))"
    )
    return df.select(
        _mf_file_id(), "line_id", "mfidref", "start_time", "end_time",
        "state", "code", F.posexplode(pts).alias("seq", "pt"),
    ).select(
        "file_id", "line_id", "mfidref", "start_time", "end_time",
        "seq", F.col("pt.x").alias("x"), F.col("pt.y").alias("y"),
        "state", "code",
    ).orderBy("file_id", "line_id", "seq")


def _mf_ts_sql(off_expr: str) -> str:
    return (f"TIMESTAMP '2024-01-01 00:00:00'"
            f" + to_microseconds(CAST({off_expr} AS BIGINT) * 1000000)")


def q_mf_fragmented_oracle():
    state = _MF_STATE_SQL.format(k="eff_i + CASE WHEN s = 2 THEN 1 ELSE 0 END")
    return f"""
WITH li AS (
  SELECT f, s, i, CASE WHEN i % 3 = 1 THEN i - 1 ELSE i END AS eff_i,
         CASE WHEN i % 2 = 0 THEN 5 ELSE 4 END AS n
  FROM generate_series(0, {N_MF_FILES - 1}) tf(f),
       generate_series(0, 2) ts(s), generate_series(0, 9) ti(i)),
vtx AS (SELECT li.*, v, s * 4 + v AS u FROM li, generate_series(0, 4) tv(v)
        WHERE v < n)
SELECT CAST(f AS INT) AS file_id, CAST(s * 10 + i AS BIGINT) AS line_id,
       'mf-' || i AS mfidref,
       {_mf_ts_sql('i * 256 + s * 32')} AS start_time,
       {_mf_ts_sql('i * 256 + s * 32 + 32')} AS end_time,
       CAST(v AS INT) AS seq,
       CAST(i AS DOUBLE) + CAST(u * u AS DOUBLE) / 6.4e1 AS x,
       CAST(f AS DOUBLE) + CAST(u AS DOUBLE) / 3.2e1 AS y,
       {state} AS state,
       CAST(eff_i * 5 + s % 2 AS BIGINT) AS code
FROM vtx ORDER BY file_id, line_id, seq"""


def q_mf_merged(spark, sf_dir):
    """The merged moving-feature representation under the oracle gate
    (MovingFeatureIterator.java:33; MovingFeatureBuilder.java:133-141
    period merge, :210-249 trajectory assembly): per feature the segments
    concatenate with the coincident joining vertex deduplicated (even
    features), and each dynamic attribute reduces to value periods with
    time-contiguous equal values merged (state: segments 0+1 share a
    value; code: alternates).  The merge itself is a JVM-side higher-order
    aggregate — the oracle re-derives vertices and periods closed-form."""
    from .sources.mf_csv import mf_merge, mf_table

    paths = _mf_write_files("plain", with_omissions=False)
    m = mf_merge(mf_table(spark, paths), ["state", "code"]).withColumn(
        "file_id", _mf_file_id())
    pts = F.expr(
        "transform(sequence(0, cast(size(trajectory)/2 as int) - 1),"
        " v -> struct(trajectory[2*v] as x, trajectory[2*v+1] as y))"
    )
    nd, ns, nt = (F.lit(None).cast("double"), F.lit(None).cast("string"),
                  F.lit(None).cast("timestamp_ntz"))
    vtx = m.select(
        "file_id", "mfidref", F.lit("vtx").alias("kind"),
        F.posexplode(pts).alias("idx", "pt"),
    ).select(
        "file_id", "mfidref", "kind", "idx",
        F.col("pt.x").alias("x"), F.col("pt.y").alias("y"),
        ns.alias("sval"), F.lit(None).cast("bigint").alias("ival"),
        nt.alias("p0"), nt.alias("p1"),
    )
    st = m.select(
        "file_id", "mfidref", F.lit("state").alias("kind"),
        F.posexplode("state_periods").alias("idx", "p"),
    ).select(
        "file_id", "mfidref", "kind", "idx", nd.alias("x"), nd.alias("y"),
        F.col("p.v").alias("sval"), F.lit(None).cast("bigint").alias("ival"),
        F.col("p.t0").alias("p0"), F.col("p.t1").alias("p1"),
    )
    cd = m.select(
        "file_id", "mfidref", F.lit("code").alias("kind"),
        F.posexplode("code_periods").alias("idx", "p"),
    ).select(
        "file_id", "mfidref", "kind", "idx", nd.alias("x"), nd.alias("y"),
        ns.alias("sval"), F.col("p.v").alias("ival"),
        F.col("p.t0").alias("p0"), F.col("p.t1").alias("p1"),
    )
    return vtx.unionByName(st).unionByName(cd).orderBy(
        "file_id", "mfidref", "kind", "idx")


def q_mf_merged_oracle():
    s0 = _MF_STATE_SQL.format(k="i")
    s1 = _MF_STATE_SQL.format(k="i + 1")
    return f"""
WITH fi AS (
  SELECT f, i, CASE WHEN i % 2 = 0 THEN 13 ELSE 12 END AS nm
  FROM generate_series(0, {N_MF_FILES - 1}) tf(f), generate_series(0, 9) ti(i)),
vtx AS (
  SELECT f, i, 'vtx' AS kind, u AS idx,
         CAST(i AS DOUBLE) + CAST(u * u AS DOUBLE) / 6.4e1 AS x,
         CAST(f AS DOUBLE) + CAST(u AS DOUBLE) / 3.2e1 AS y,
         CAST(NULL AS VARCHAR) AS sval, CAST(NULL AS BIGINT) AS ival,
         CAST(NULL AS TIMESTAMP) AS p0, CAST(NULL AS TIMESTAMP) AS p1
  FROM fi, generate_series(0, 12) tu(u) WHERE u < nm),
st AS (
  SELECT f, i, 'state' AS kind, j AS idx,
         CAST(NULL AS DOUBLE) AS x, CAST(NULL AS DOUBLE) AS y,
         CASE WHEN j = 0 THEN {s0} ELSE {s1} END AS sval,
         CAST(NULL AS BIGINT) AS ival,
         {_mf_ts_sql('i * 256 + CASE WHEN j = 0 THEN 0 ELSE 64 END')} AS p0,
         {_mf_ts_sql('i * 256 + CASE WHEN j = 0 THEN 64 ELSE 96 END')} AS p1
  FROM fi, generate_series(0, 1) tj(j)),
cd AS (
  SELECT f, i, 'code' AS kind, j AS idx,
         CAST(NULL AS DOUBLE) AS x, CAST(NULL AS DOUBLE) AS y,
         CAST(NULL AS VARCHAR) AS sval, CAST(i * 5 + j % 2 AS BIGINT) AS ival,
         {_mf_ts_sql('i * 256 + j * 32')} AS p0,
         {_mf_ts_sql('i * 256 + j * 32 + 32')} AS p1
  FROM fi, generate_series(0, 2) tj(j)),
uni AS (SELECT * FROM vtx UNION ALL SELECT * FROM st UNION ALL SELECT * FROM cd)
SELECT CAST(f AS INT) AS file_id, 'mf-' || i AS mfidref, kind,
       CAST(idx AS INT) AS idx, x, y, sval, ival, p0, p1
FROM uni ORDER BY file_id, mfidref, kind, idx"""


def q_trajectory_interp(spark, sf_dir):
    """Trajectory sampling + metrics under the oracle gate
    (operators/trajectory.py — the linear foliation of OGC 14-084r2):
    each feature's position at its own query time t = start + 48 s (mid
    segment 1: an exact vertex for even features, a half-way interpolation
    for odd ones) joined with the per-feature total quantized length and
    mean speed.  Lengths are int64-quantized per edge so the distributed
    sum is order-independent; every sqrt input is dyadic-exact, so Spark
    and DuckDB agree bit-for-bit."""
    from .operators.trajectory import position_at, segment_metrics
    from .sources.mf_csv import mf_table

    paths = _mf_write_files("plain", with_omissions=False)
    df = mf_table(spark, paths)
    dfq = df.withColumn(
        "tq",
        F.expr("timestampadd(SECOND, cast(regexp_extract(mfidref, 'mf-(\\\\d+)', 1)"
               " as int) * 256 + 48, timestamp '2024-01-01 00:00:00')"),
    )
    pos = position_at(dfq, F.col("tq"))
    met = (
        segment_metrics(df)
        .groupBy("path", "mfidref")
        .agg(F.sum("len_q").alias("len_q"))
        .withColumn("speed", (F.col("len_q").cast("double") / F.lit(1e9)) / F.lit(9.6e1))
    )
    return (
        pos.join(met, ["path", "mfidref"])
        .select(_mf_file_id(), "mfidref",
                F.col("x").alias("px"), F.col("y").alias("py"),
                "len_q", "speed")
        .orderBy("file_id", "mfidref")
    )


def q_trajectory_interp_oracle():
    return f"""
WITH fi AS (
  SELECT f, i, CASE WHEN i % 2 = 0 THEN 5 ELSE 4 END AS n
  FROM generate_series(0, {N_MF_FILES - 1}) tf(f), generate_series(0, 9) ti(i)),
edges AS (
  SELECT f, i, s * 4 + j AS u FROM fi,
       generate_series(0, 2) ts(s), generate_series(0, 3) tj(j)
  WHERE j < n - 1),
lens AS (
  SELECT f, i,
         CAST(sum(CAST(floor(sqrt(CAST((2*u+1)*(2*u+1) + 4 AS DOUBLE)) / 6.4e1
                             * 1e9 + 5e-1) AS BIGINT)) AS BIGINT) AS len_q
  FROM edges GROUP BY f, i)
SELECT CAST(fi.f AS INT) AS file_id, 'mf-' || fi.i AS mfidref,
       CAST(fi.i AS DOUBLE) + CASE WHEN fi.i % 2 = 0
            THEN CAST(36 AS DOUBLE) / 6.4e1
            ELSE 3.05e1 / 6.4e1 END AS px,
       CAST(fi.f AS DOUBLE) + CASE WHEN fi.i % 2 = 0
            THEN CAST(6 AS DOUBLE) / 3.2e1
            ELSE 5.5e0 / 3.2e1 END AS py,
       lens.len_q,
       (CAST(lens.len_q AS DOUBLE) / 1e9) / 9.6e1 AS speed
FROM fi JOIN lens ON fi.f = lens.f AND fi.i = lens.i
ORDER BY file_id, mfidref"""


# ================================================================ WKT store


def q_wkt_crs(spark, sf_dir):
    """The WKT store under the oracle gate (S/wkt/StoreProvider.java: CRS
    definitions from `.prj`-style text): Lambert-93 is WRITTEN as WKT 2,
    read back, and structurally rebuilt from its METHOD + PARAMETERs (the
    ID shortcut disabled, so the parser's parameter mapping is what's
    tested); the transform through the rebuilt CRS must match the oracle's
    independent closed-form LCC formulas bit-for-bit — the `lcc_transform`
    oracle with the CRS sourced from text instead of the registry."""
    import os as _os
    import tempfile as _tempfile

    from .functions.projections import st_transform_any_udf
    from .functions.wkt_crs import crs_from_wkt, to_wkt

    prj = _os.path.join(_tempfile.gettempdir(), "sis_wkt_gate.prj")
    with open(prj, "w") as f:
        f.write(to_wkt("EPSG:2154"))
    with open(prj, "r") as f:
        crs = crs_from_wkt(f.read(), prefer_id=False)

    pts = _events_points(spark, sf_dir)
    p = st_transform_any_udf("EPSG:4326", crs)(F.col("lon"), F.col("lat"))
    return pts.select(
        "event_id",
        F.floor(p["x"] - F.lit(0.123456789)).cast("long").alias("xl"),
        F.floor(p["y"] - F.lit(0.123456789)).cast("long").alias("yl"),
    )


def q_wkt_crs_oracle():
    return q_lcc_transform_oracle()


# ================================================================ ESRI ASCII grid


def q_ascii_grid(spark, sf_dir):
    """The ESRI ASCII grid store end-to-end under the oracle gate
    (S/esri/AsciiGridStore.java:244-320 header semantics: CELLSIZE sign
    flip, YLL -> top-edge translation, NODATA -> NaN): a formula raster
    with ragged edge tiles and scattered no-data cells is written as real
    ASCII grid text, read back DISTRIBUTED (line-range tasks -> tile
    assembly), and every pixel plus its cell-center CRS coordinates is
    re-derived by the oracle."""
    import os as _os
    import tempfile as _tempfile

    import numpy as _np
    import pandas as _pd

    from .sources.ascii_grid import format_ascii_grid, read_ascii_grid
    from .raster.grid import GridGeometry

    w, h = 300, 200
    gy, gx = _np.mgrid[0:h, 0:w]
    arr = ((gx * 7 + gy * 13) % 1000).astype(_np.float64)
    arr[(gx * 3 + gy * 5) % 97 == 11] = _np.nan
    gg = GridGeometry((0, 0, w - 1, h - 1), (0.25, 0.0, -10.0, 0.0, -0.25, 70.0))
    p = _os.path.join(_tempfile.gettempdir(), "sis_ascii_gate.asc")
    with open(p, "w") as f:
        f.write(format_ascii_grid(arr[:, :], gg))

    tiles, gg2 = read_ascii_grid(spark, p)
    tile_size = 64
    aff = gg2.affine

    def explode(batches):
        for b in batches:
            for tx, ty, data in zip(b["tx"], b["ty"], b["data"]):
                block = _np.frombuffer(data, dtype=_np.float64).reshape(
                    tile_size, tile_size)
                x0 = int(tx) * tile_size
                y0 = int(ty) * tile_size
                ww = min(tile_size, w - x0)
                hh = min(tile_size, h - y0)
                yy, xx = _np.mgrid[0:hh, 0:ww]
                gxx = (x0 + xx).ravel()
                gyy = (y0 + yy).ravel()
                cx = aff[2] + (gxx + 0.5) * aff[0]
                cy = aff[5] + (gyy + 0.5) * aff[4]
                yield _pd.DataFrame({
                    "gx": gxx, "gy": gyy,
                    "val": block[:hh, :ww].ravel(),
                    "cx": cx, "cy": cy,
                })

    return tiles.mapInPandas(
        explode, schema="gx long, gy long, val double, cx double, cy double"
    ).orderBy("gy", "gx")


def q_ascii_grid_oracle():
    return """
SELECT CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
       CASE WHEN (gx * 3 + gy * 5) % 97 = 11 THEN CAST('nan' AS DOUBLE)
            ELSE CAST((gx * 7 + gy * 13) % 1000 AS DOUBLE) END AS val,
       -1e1 + (CAST(gx AS DOUBLE) + 5e-1) * 2.5e-1 AS cx,
       7e1 + (CAST(gy AS DOUBLE) + 5e-1) * -2.5e-1 AS cy
FROM generate_series(0, 299) tx(gx), generate_series(0, 199) ty(gy)
ORDER BY gy, gx"""


# ================================================================ raw raster store


def q_raw_raster(spark, sf_dir):
    """The ESRI raw binary raster store under the oracle gate
    (S/esri/RawRasterStore.java:383-470: BIL layout, BYTEORDER, CELL_CENTER
    ULXMAP/ULYMAP anchor): a 3-band formula raster is written as raw BIL
    bytes + .hdr, read back with the SHUFFLE-FREE ranged-seek strip reader,
    and every pixel of every band plus its cell-center coordinates is
    re-derived closed-form by the oracle."""
    import os as _os
    import tempfile as _tempfile

    import numpy as _np
    import pandas as _pd

    from .raster.grid import GridGeometry
    from .sources.raw_raster import format_raw_raster, read_raw_raster

    w, h, nb = 300, 200, 3
    gy, gx = _np.mgrid[0:h, 0:w]
    arr = _np.stack(
        [(gx * 7 + gy * 13 + b * 101) % 60000 for b in range(nb)], axis=-1
    ).astype(_np.uint16)
    gg = GridGeometry((0, 0, w - 1, h - 1), (0.25, 0.0, -10.0, 0.0, -0.25, 70.0))
    base = _os.path.join(_tempfile.gettempdir(), "sis_raw_gate")
    data, hdr = format_raw_raster(arr, gg, layout="BIL")
    with open(base + ".bil", "wb") as f:
        f.write(data)
    with open(base + ".hdr", "w") as f:
        f.write(hdr)

    tiles, gg2, dtype = read_raw_raster(spark, base + ".bil")
    tile_size = 64
    aff = gg2.affine

    def explode(batches):
        for b in batches:
            for tx, ty, band, data_ in zip(b["tx"], b["ty"], b["band"], b["data"]):
                block = _np.frombuffer(data_, dtype=dtype).reshape(
                    tile_size, tile_size)
                x0 = int(tx) * tile_size
                y0 = int(ty) * tile_size
                ww = min(tile_size, w - x0)
                hh = min(tile_size, h - y0)
                yy, xx = _np.mgrid[0:hh, 0:ww]
                gxx = (x0 + xx).ravel()
                gyy = (y0 + yy).ravel()
                yield _pd.DataFrame({
                    "band": int(band), "gx": gxx, "gy": gyy,
                    "val": block[:hh, :ww].ravel().astype(_np.int64),
                    "cx": aff[2] + (gxx + 0.5) * aff[0],
                    "cy": aff[5] + (gyy + 0.5) * aff[4],
                })

    return tiles.mapInPandas(
        explode,
        schema="band int, gx long, gy long, val long, cx double, cy double",
    ).orderBy("band", "gy", "gx")


def q_raw_raster_oracle():
    return """
SELECT CAST(b AS INT) AS band, CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
       CAST((gx * 7 + gy * 13 + b * 101) % 60000 AS BIGINT) AS val,
       -1e1 + (CAST(gx AS DOUBLE) + 5e-1) * 2.5e-1 AS cx,
       7e1 + (CAST(gy AS DOUBLE) + 5e-1) * -2.5e-1 AS cy
FROM generate_series(0, 2) tb(b),
     generate_series(0, 299) tx(gx), generate_series(0, 199) ty(gy)
ORDER BY band, gy, gx"""


# ================================================================ shapefile store

N_SHP = 50


def q_shapefile(spark, sf_dir):
    """The shapefile store under the oracle gate (public ESRI shapefile +
    dBase III specs; the reference scopes this store in its incubator):
    three formula feature sets — points, axis-aligned polylines, square
    polygons with holes — are written as real .shp/.shx/.dbf triples, read
    back DISTRIBUTED (.shx-driven ranged record reads), piped through the
    SQLMM accessors (ST_X/Y, ST_Length, ST_Area over the assembled
    shell+hole WKB), and re-derived closed-form together with the typed
    dbf attributes."""
    import os as _os
    import tempfile as _tempfile

    import numpy as _np
    import pandas as _pd

    from .functions.sqlmm import st_area_udf, st_length_udf, st_x_udf, st_y_udf
    from .sources.shapefile import shapefile_table, write_shapefile

    d = _os.path.join(_tempfile.gettempdir(), "sis_shp_gate")
    _os.makedirs(d, exist_ok=True)
    ii = _np.arange(N_SHP)
    attrs = _pd.DataFrame({
        "name": [f"f{i}" for i in ii],
        "value": (ii * 3).tolist(),
        "score": (ii * 0.25).tolist(),
    })
    fields = [("name", "C", 8, 0), ("value", "N", 8, 0), ("score", "N", 10, 2)]

    pts = [("point", (i * 0.5 - 10.0, i * 0.25 + 5.0)) for i in ii]
    lines = [("linestring",
              (_np.array([i, i + 1, i + 1], _np.float64),
               _np.array([i % 7, i % 7, i % 7 + 2], _np.float64)))
             for i in ii]
    polys = []
    for i in ii:
        s = 2.0 + (i % 5) * 0.5
        ox, oy = float(i), float(i % 7)
        shell = (_np.array([ox, ox + s, ox + s, ox]),
                 _np.array([oy, oy, oy + s, oy + s]))
        hole = (_np.array([ox + 0.5, ox + 1.5, ox + 1.5, ox + 0.5]),
                _np.array([oy + 0.5, oy + 0.5, oy + 1.5, oy + 1.5]))
        polys.append(("polygon", [shell, hole]))

    outs = []
    for kind, geoms in (("pt", pts), ("ln", lines), ("pg", polys)):
        base = _os.path.join(d, kind)
        for ext, buf in write_shapefile(geoms, attrs, fields).items():
            with open(f"{base}.{ext}", "wb") as f:
                f.write(buf)
        df = shapefile_table(spark, base)
        nd = F.lit(None).cast("double")
        if kind == "pt":
            x, y = st_x_udf()(F.col("geom")), st_y_udf()(F.col("geom"))
            ln, ar = nd, nd
        elif kind == "ln":
            x, y, ar = nd, nd, nd
            ln = st_length_udf()(F.col("geom"))
        else:
            x, y, ln = nd, nd, nd
            ar = st_area_udf()(F.col("geom"))
        outs.append(df.select(
            F.lit(kind).alias("kind"), "fid", "name", "value", "score",
            x.alias("x"), y.alias("y"), ln.alias("len"), ar.alias("area")))
    out = outs[0].unionByName(outs[1]).unionByName(outs[2])
    return out.orderBy("kind", "fid")


def q_shapefile_oracle():
    return f"""
WITH f AS (SELECT i FROM generate_series(0, {N_SHP - 1}) t(i)),
base AS (
  SELECT i, 'f' || i AS name, CAST(i * 3 AS BIGINT) AS value,
         CAST(i AS DOUBLE) * 2.5e-1 AS score FROM f),
pt AS (
  SELECT 'pt' AS kind, i, name, value, score,
         CAST(i AS DOUBLE) * 5e-1 - 1e1 AS x,
         CAST(i AS DOUBLE) * 2.5e-1 + 5e0 AS y,
         CAST(NULL AS DOUBLE) AS len, CAST(NULL AS DOUBLE) AS area
  FROM base),
ln AS (
  SELECT 'ln', i, name, value, score, NULL, NULL, CAST(3 AS DOUBLE),
         CAST(NULL AS DOUBLE)
  FROM base),
pg AS (
  SELECT 'pg', i, name, value, score, NULL, NULL, CAST(NULL AS DOUBLE),
         (2e0 + CAST(i % 5 AS DOUBLE) * 5e-1) * (2e0 + CAST(i % 5 AS DOUBLE) * 5e-1)
           - 1e0
  FROM base)
SELECT kind, CAST(i AS BIGINT) AS fid, name, value, score, x, y, len, area
FROM (SELECT * FROM pt UNION ALL SELECT * FROM ln UNION ALL SELECT * FROM pg)
ORDER BY kind, fid"""


# ================================================================ GeoPackage store

N_GPKG = 500


def q_geopackage(spark, sf_dir):
    """The GeoPackage store under the oracle gate (OGC GPKG spec; the
    engine's SQL-store analog, SQL/SQLStore.java + FeatureStream.java
    pushdown): formula point features are written into a real SQLite
    GeoPackage (catalog tables + GeoPackageBinary blobs), read back as
    rowid-range PARTITIONS with a predicate PUSHED DOWN into every
    partition's sqlite query, geometries decoded GPB->WKB->ST_X/Y, and
    the surviving rows re-derived closed-form."""
    import os as _os
    import tempfile as _tempfile

    import numpy as _np
    import pandas as _pd

    from .functions import geometry as _geo
    from .functions.sqlmm import st_x_udf, st_y_udf
    from .sources.geopackage import create_geopackage, geopackage_table

    path = _os.path.join(_tempfile.gettempdir(), "sis_gpkg_gate.gpkg")
    if _os.path.exists(path):
        _os.remove(path)
    ii = _np.arange(N_GPKG)
    pdf = _pd.DataFrame({
        "geom": [_geo.wkb_point(i * 0.5 - 100.0, (i % 160) * 0.25 - 20.0)
                 for i in ii],
        "name": [f"p{i}" for i in ii],
        "value": (ii * 3).tolist(),
        "score": (ii * 0.25).tolist(),
    })
    create_geopackage(path, "pts", pdf, geom_type="POINT")

    df = geopackage_table(spark, path, "pts", predicate="value % 7 < 4")
    return df.select(
        "fid", "name", "value", "score",
        st_x_udf()(F.col("geom")).alias("x"),
        st_y_udf()(F.col("geom")).alias("y"),
    ).orderBy("fid")


def q_geopackage_oracle():
    return f"""
SELECT CAST(i + 1 AS BIGINT) AS fid, 'p' || i AS name,
       CAST(i * 3 AS BIGINT) AS value,
       CAST(i AS DOUBLE) * 2.5e-1 AS score,
       CAST(i AS DOUBLE) * 5e-1 - 1e2 AS x,
       CAST(i % 160 AS DOUBLE) * 2.5e-1 - 2e1 AS y
FROM generate_series(0, {N_GPKG - 1}) t(i)
WHERE (i * 3) % 7 < 4
ORDER BY fid"""


# ================================================================ CoverageJSON store


def q_coveragejson(spark, sf_dir):
    """The CoverageJSON store under the oracle gate (OGC CoverageJSON
    Community Standard; incubator-scoped in the reference): two formula
    coverage documents (a band stack) with scattered nulls are written as
    real Coverage JSON, read back distributed (one task per document),
    georeferenced from the center-anchored axes, and every pixel is
    re-derived closed-form — nulls must surface as NaN."""
    import os as _os
    import tempfile as _tempfile

    import numpy as _np
    import pandas as _pd

    from .sources.coveragejson import coveragejson_tiles, format_coverage

    h, w = 120, 150
    gy, gx = _np.mgrid[0:h, 0:w]
    d = _os.path.join(_tempfile.gettempdir(), "sis_covjson_gate")
    _os.makedirs(d, exist_ok=True)
    paths = []
    for band in range(2):
        arr = ((gx * 7 + gy * 13 + band * 31) % 1000).astype(_np.float64)
        arr[(gx * 3 + gy * 5 + band) % 89 == 11] = _np.nan
        p = _os.path.join(d, f"cov_{band}.covjson")
        with open(p, "w") as f:
            f.write(format_coverage(
                {"x": -10.0 + 0.25 * _np.arange(w),
                 "y": 50.0 - 0.25 * _np.arange(h)},
                {"temp": arr},
            ))
        paths.append(p)

    tiles, gg = coveragejson_tiles(spark, paths, "temp")
    tile_size = 64
    aff = gg.affine

    def explode(batches):
        for b in batches:
            for tx, ty, band, data_ in zip(b["tx"], b["ty"], b["band"], b["data"]):
                block = _np.frombuffer(data_, dtype=_np.float64).reshape(
                    tile_size, tile_size)
                x0, y0 = int(tx) * tile_size, int(ty) * tile_size
                ww, hh = min(tile_size, w - x0), min(tile_size, h - y0)
                yy, xx = _np.mgrid[0:hh, 0:ww]
                gxx = (x0 + xx).ravel()
                gyy = (y0 + yy).ravel()
                yield _pd.DataFrame({
                    "band": int(band), "gx": gxx, "gy": gyy,
                    "val": block[:hh, :ww].ravel(),
                    "cx": aff[2] + (gxx + 0.5) * aff[0],
                    "cy": aff[5] + (gyy + 0.5) * aff[4],
                })

    return tiles.mapInPandas(
        explode,
        schema="band int, gx long, gy long, val double, cx double, cy double",
    ).orderBy("band", "gy", "gx")


def q_coveragejson_oracle():
    return """
SELECT CAST(b AS INT) AS band, CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
       CASE WHEN (gx * 3 + gy * 5 + b) % 89 = 11 THEN CAST('nan' AS DOUBLE)
            ELSE CAST((gx * 7 + gy * 13 + b * 31) % 1000 AS DOUBLE) END AS val,
       -1e1 + CAST(gx AS DOUBLE) * 2.5e-1 AS cx,
       5e1 - CAST(gy AS DOUBLE) * 2.5e-1 AS cy
FROM generate_series(0, 1) tb(b),
     generate_series(0, 149) tx(gx), generate_series(0, 119) ty(gy)
ORDER BY band, gy, gx"""


# ================================================================ netCDF store


def q_netcdf_grid(spark, sf_dir):
    """The netCDF classic store under the oracle gate (the reference's
    NetcdfStore scope: n-D variables -> coverages; format per the public
    NetCDF Classic Format Specification): a (t, y, x) int16 variable with
    CF scale/offset/fill packing plus 1-D coordinate variables is written
    as a real CDF-1 file, the t=1 plane is read back SHUFFLE-FREE (ranged
    seeks into the fixed layout), unpacked to physical values (fill ->
    NaN), georeferenced from the coordinate variables, and every pixel is
    re-derived closed-form by the oracle."""
    import os as _os
    import tempfile as _tempfile

    import numpy as _np
    import pandas as _pd

    from .sources.netcdf import format_netcdf, netcdf_variable_tiles

    t, h, w = 2, 200, 300
    tt, gy, gx = _np.mgrid[0:t, 0:h, 0:w]
    raw = ((gx * 7 + gy * 13 + tt * 29) % 5000 - 1000).astype(_np.int16)
    raw[(gx + 2 * gy) % 101 == 7] = -32768
    p = _os.path.join(_tempfile.gettempdir(), "sis_netcdf_gate.nc")
    with open(p, "wb") as f:
        f.write(format_netcdf(
            dims=[("time", t), ("lat", h), ("lon", w)],
            variables={
                "lat": (["lat"], (20.0 + 0.25 * _np.arange(h)), {}),
                "lon": (["lon"], (-10.0 + 0.25 * _np.arange(w)), {}),
                "temp": (["time", "lat", "lon"], raw,
                         {"scale_factor": _np.float64(0.25),
                          "add_offset": _np.float64(100.5),
                          "_FillValue": _np.int16(-32768)}),
            },
        ))

    tiles, gg = netcdf_variable_tiles(spark, p, "temp", index=(1,))
    tile_size = 64
    aff = gg.affine

    def explode(batches):
        for b in batches:
            for tx, ty, data_ in zip(b["tx"], b["ty"], b["data"]):
                block = _np.frombuffer(data_, dtype=_np.float64).reshape(
                    tile_size, tile_size)
                x0, y0 = int(tx) * tile_size, int(ty) * tile_size
                ww, hh = min(tile_size, w - x0), min(tile_size, h - y0)
                yy, xx = _np.mgrid[0:hh, 0:ww]
                gxx = (x0 + xx).ravel()
                gyy = (y0 + yy).ravel()
                yield _pd.DataFrame({
                    "gx": gxx, "gy": gyy,
                    "val": block[:hh, :ww].ravel(),
                    "cx": aff[2] + (gxx + 0.5) * aff[0],
                    "cy": aff[5] + (gyy + 0.5) * aff[4],
                })

    return tiles.mapInPandas(
        explode, schema="gx long, gy long, val double, cx double, cy double"
    ).orderBy("gy", "gx")


def q_netcdf_grid_oracle():
    return """
SELECT CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
       CASE WHEN (gx + 2 * gy) % 101 = 7 THEN CAST('nan' AS DOUBLE)
            ELSE CAST((gx * 7 + gy * 13 + 29) % 5000 - 1000 AS DOUBLE)
                 * 2.5e-1 + 1.005e2 END AS val,
       -1e1 + CAST(gx AS DOUBLE) * 2.5e-1 AS cx,
       2e1 + CAST(gy AS DOUBLE) * 2.5e-1 AS cy
FROM generate_series(0, 299) tx(gx), generate_series(0, 199) ty(gy)
ORDER BY gy, gx"""


def q_netcdf_cdf5(spark, sf_dir):
    """CDF-5 (64-bit-data classic, version byte 5 — VERDICT r2 missing #2
    first step): every NON_NEG count widened to INT64 and an NC_INT64
    variable, written by the store's own CDF-5 writer, read back through
    the same shuffle-free strip reader, each pixel re-derived by the
    oracle.  The reference reads this variant via its UCAR-style decoder
    (S.netcdf/.../base/ChannelDecoder.java version dispatch)."""
    import os as _os
    import tempfile as _tempfile

    import numpy as _np
    import pandas as _pd

    from .sources.netcdf import format_netcdf, netcdf_variable_tiles, read_header

    h, w = 150, 260
    gy, gx = _np.mgrid[0:h, 0:w]
    raw = ((gx * 11 + gy * 17) % 9000 - 4000).astype(_np.int64) * 1_000_003
    p = _os.path.join(_tempfile.gettempdir(), "sis_netcdf_cdf5_gate.nc")
    with open(p, "wb") as f:
        f.write(format_netcdf(
            dims=[("lat", h), ("lon", w)],
            variables={
                "lat": (["lat"], (40.0 + 0.5 * _np.arange(h)), {}),
                "lon": (["lon"], (5.0 + 0.5 * _np.arange(w)), {}),
                "mass": (["lat", "lon"], raw, {}),
            },
            version=5,
        ))
    assert read_header(p)["version"] == 5

    tiles, gg = netcdf_variable_tiles(spark, p, "mass")
    tile_size = 64
    aff = gg.affine

    def explode(batches):
        for b in batches:
            for tx, ty, data_ in zip(b["tx"], b["ty"], b["data"]):
                block = _np.frombuffer(data_, dtype=_np.float64).reshape(
                    tile_size, tile_size)
                x0, y0 = int(tx) * tile_size, int(ty) * tile_size
                ww, hh = min(tile_size, w - x0), min(tile_size, h - y0)
                yy, xx = _np.mgrid[0:hh, 0:ww]
                gxx = (x0 + xx).ravel()
                gyy = (y0 + yy).ravel()
                yield _pd.DataFrame({
                    "gx": gxx, "gy": gyy,
                    "val": block[:hh, :ww].ravel().astype(_np.int64),
                    "cx": aff[2] + (gxx + 0.5) * aff[0],
                    "cy": aff[5] + (gyy + 0.5) * aff[4],
                })

    return tiles.mapInPandas(
        explode, schema="gx long, gy long, val long, cx double, cy double"
    ).orderBy("gy", "gx")


def q_netcdf_cdf5_oracle():
    return """
SELECT CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
       CAST(((gx * 11 + gy * 17) % 9000 - 4000) * 1000003 AS BIGINT) AS val,
       5e0 + CAST(gx AS DOUBLE) * 5e-1 AS cx,
       4e1 + CAST(gy AS DOUBLE) * 5e-1 AS cy
FROM generate_series(0, 259) tx(gx), generate_series(0, 149) ty(gy)
ORDER BY gy, gx"""


def q_netcdf4_grid(spark, sf_dir):
    """netCDF-4/HDF5 under the oracle gate (VERDICT r2 missing #2 closed:
    reference reads these via its UCAR-wrapped decoder,
    S.netcdf/.../NetcdfStore.java): a chunked+deflate int32 variable with
    CF scale/offset/fill and coordinate variables is written as a real
    HDF5 file (sources/hdf5.py writer profile: superblock v0, v1 object
    headers, symbol-table group, v1 chunk B-tree), then read back
    DISTRIBUTED — driver walks only the chunk B-tree, executors do ranged
    chunk reads + inflate — and every pixel is re-derived closed-form."""
    import os as _os
    import tempfile as _tempfile

    import numpy as _np
    import pandas as _pd

    from .sources.hdf5 import format_hdf5, netcdf4_variable_tiles

    h, w = 190, 330
    gy, gx = _np.mgrid[0:h, 0:w]
    raw = ((gx * 13 + gy * 7) % 4000 - 1500).astype(_np.int32)
    raw[(3 * gx + gy) % 89 == 11] = -99999
    p = _os.path.join(_tempfile.gettempdir(), "sis_netcdf4_gate.h5")
    with open(p, "wb") as f:
        f.write(format_hdf5(
            {
                # 0.25-degree spacing: exactly representable, so the
                # strict regular-spacing check derives the affine
                "lat": (10.0 + 0.25 * _np.arange(h), {"units": "degrees_north"}),
                "lon": (-30.0 + 0.25 * _np.arange(w), {"units": "degrees_east"}),
                "temp": (raw, {"scale_factor": _np.float64(0.5),
                               "add_offset": _np.float64(250.0),
                               "_FillValue": _np.int32(-99999)}),
            },
            gattrs={"Conventions": "CF-1.6"},
            chunk=(64, 64),
        ))

    tiles, gg, (ch, cw) = netcdf4_variable_tiles(spark, p, "temp")
    aff = gg.affine

    def explode(batches):
        for b in batches:
            for tx, ty, data_ in zip(b["tx"], b["ty"], b["data"]):
                block = _np.frombuffer(data_, dtype=_np.float64).reshape(ch, cw)
                x0, y0 = int(tx) * cw, int(ty) * ch
                ww, hh = min(cw, w - x0), min(ch, h - y0)
                yy, xx = _np.mgrid[0:hh, 0:ww]
                gxx = (x0 + xx).ravel()
                gyy = (y0 + yy).ravel()
                yield _pd.DataFrame({
                    "gx": gxx, "gy": gyy,
                    "val": block[:hh, :ww].ravel(),
                    "cx": aff[2] + (gxx + 0.5) * aff[0],
                    "cy": aff[5] + (gyy + 0.5) * aff[4],
                })

    return tiles.mapInPandas(
        explode, schema="gx long, gy long, val double, cx double, cy double"
    ).orderBy("gy", "gx")


def q_netcdf4_grid_oracle():
    return """
SELECT CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
       CASE WHEN (3 * gx + gy) % 89 = 11 THEN CAST('nan' AS DOUBLE)
            ELSE CAST((gx * 13 + gy * 7) % 4000 - 1500 AS DOUBLE)
                 * 5e-1 + 2.5e2 END AS val,
       -3e1 + CAST(gx AS DOUBLE) * 2.5e-1 AS cx,
       1e1 + CAST(gy AS DOUBLE) * 2.5e-1 AS cy
FROM generate_series(0, 329) tx(gx), generate_series(0, 189) ty(gy)
ORDER BY gy, gx"""


# ================================================================ CRS raster warp


def q_warp_crs(spark, sf_dir):
    """The CRS raster warp under the oracle gate (ResampledGridCoverage +
    ResampledImage.java:84 inverse mapping with a REAL CRS change):
    a formula WGS84 raster is warped NEAREST onto a Web-Mercator grid via
    the distributed gather path (boundary-sampled manifest -> tile join ->
    per-destination assembly), and the oracle re-derives every destination
    pixel by running the same inverse chain in SQL — Mercator inverse,
    the inverted source affine, rint, bounds -> fill.  Grid constants are
    chosen so every pixel sits >= 1e-3 from a rounding boundary (engine
    and DuckDB libm differ only at ~1e-14)."""
    import numpy as _np
    import pandas as _pd

    from .raster.grid import GridGeometry
    from .raster.tiles import raster_to_tiles
    from .raster.warp import warp_crs

    w_s, h_s = 360, 200
    gy, gx = _np.mgrid[0:h_s, 0:w_s]
    src = ((gx * 7 + gy * 13) % 256).astype(_np.uint8)
    src_gg = GridGeometry((0, 0, w_s - 1, h_s - 1),
                          (0.1, 0.0, -18.037, 0.0, -0.1, 10.043), "EPSG:4326")
    dst_gg = GridGeometry((0, 0, 255, 255),
                          (12000.0, 0.0, -1999500.123, 0.0, -12000.0, 1100000.456),
                          "EPSG:3857")
    tiles = raster_to_tiles(spark, src[..., None], src_gg)
    out = warp_crs(tiles, src_gg, dst_gg, method="nearest")

    # materialize MISSING destination tiles as fill so the pixel compare is
    # total (the operator's omit-empty contract is covered by pytest)
    tile_size = 64
    n_t = 256 // tile_size
    full = spark.range(n_t * n_t).select(
        (F.col("id") % n_t).alias("tx"),
        (F.col("id") / n_t).cast("long").alias("ty"),
        F.lit(0).alias("band"),
    )
    joined = full.join(out, ["tx", "ty", "band"], "left")

    def explode(batches):
        zeros = _np.zeros((tile_size, tile_size), _np.uint8)
        for b in batches:
            for tx, ty, data_ in zip(b["tx"], b["ty"], b["data"]):
                block = (zeros if data_ is None else
                         _np.frombuffer(data_, dtype=_np.uint8).reshape(
                             tile_size, tile_size))
                yy, xx = _np.mgrid[0:tile_size, 0:tile_size]
                yield _pd.DataFrame({
                    "px": (int(tx) * tile_size + xx).ravel(),
                    "py": (int(ty) * tile_size + yy).ravel(),
                    "val": block.ravel().astype(_np.int64),
                })

    return joined.mapInPandas(
        explode, schema="px long, py long, val long").orderBy("py", "px")


def q_warp_crs_oracle():
    from .functions import transforms as _tr

    inv = _tr.affine_invert((0.1, 0.0, -18.037, 0.0, -0.1, 10.043))
    ia, ic = synth.flit(inv[0]), synth.flit(inv[2])
    ie, if_ = synth.flit(inv[4]), synth.flit(inv[5])
    # engine chain mirrored: dst center -> mercator inverse (sinh via the
    # exp identity; ulp-level differences are inside the 1e-3 margins) ->
    # inverted src affine -> center frac -> rint
    cx = "(1.2e4 * (CAST(px AS DOUBLE) + 5e-1) + -1.9995001230e6)"
    cy = "(-1.2e4 * (CAST(py AS DOUBLE) + 5e-1) + 1.100000456e6)"
    lon = f"degrees({cx} / 6.378137e6)"
    lat = (f"degrees(atan((exp({cy} / 6.378137e6) - exp(-({cy}) / 6.378137e6))"
           f" / 2e0))")
    fx = f"({ia} * {lon} + {ic} - 5e-1)"
    fy = f"({ie} * {lat} + {if_} - 5e-1)"
    return f"""
WITH px_ AS (
  SELECT px, py, CAST(round({fx}) AS BIGINT) AS ix, CAST(round({fy}) AS BIGINT) AS iy
  FROM generate_series(0, 255) tx(px), generate_series(0, 255) ty(py))
SELECT px, py,
       CASE WHEN ix >= 0 AND ix < 360 AND iy >= 0 AND iy < 200
            THEN (ix * 7 + iy * 13) % 256 ELSE 0 END AS val
FROM px_ ORDER BY py, px"""


# ================================================================ Landsat scene store


def _landsat_write_scene() -> str:
    """Synthetic two-band Landsat scene: MTL text + real GeoTIFF band files
    (uint8 formula rasters, deflate tiles).  Returns the MTL path."""
    import os as _os
    import tempfile as _tempfile

    import numpy as _np

    from .sources.geotiff import encode_geotiff

    d = _os.path.join(_tempfile.gettempdir(), "sis_landsat_gate")
    _os.makedirs(d, exist_ok=True)
    h = w = 96
    gy, gx = _np.mgrid[0:h, 0:w]
    lines = [
        "GROUP = LANDSAT_METADATA_FILE",
        "  GROUP = IMAGE_ATTRIBUTES",
        '    SPACECRAFT_ID = "LANDSAT_9"',
        "    WRS_PATH = 123",
        "    WRS_ROW = 45",
        "    DATE_ACQUIRED = 2024-01-01",
        "  END_GROUP = IMAGE_ATTRIBUTES",
        "  GROUP = PRODUCT_CONTENTS",
    ]
    for n in (2, 3):
        arr = ((gx * 5 + gy * 9 + n * 17) % 256).astype(_np.uint8)
        buf = encode_geotiff(arr, affine=(0.5, 0.0, 100.0, 0.0, -0.5, 50.0),
                             tile_size=64, compression="deflate")
        fname = f"scene_B{n}.TIF"
        with open(_os.path.join(d, fname), "wb") as f:
            f.write(buf)
        lines.append(f'    FILE_NAME_BAND_{n} = "{fname}"')
    lines += ["  END_GROUP = PRODUCT_CONTENTS",
              "  GROUP = LEVEL1_RADIOMETRIC_RESCALING"]
    for n in (2, 3):
        add = -0.5 + n / 64.0
        lines.append(f"    REFLECTANCE_MULT_BAND_{n} = 0.03125")
        lines.append(f"    REFLECTANCE_ADD_BAND_{n} = {add!r}")
    lines += ["  END_GROUP = LEVEL1_RADIOMETRIC_RESCALING",
              "END_GROUP = LANDSAT_METADATA_FILE", "END", ""]
    mtl = _os.path.join(d, "scene_MTL.txt")
    with open(mtl, "w") as f:
        f.write("\n".join(lines))
    return mtl


def q_landsat_scene(spark, sf_dir):
    """The Landsat earth-observation store under the oracle gate
    (S.earthobservation/.../landsat/MetadataReader.java:257-330 flat MTL
    parse, BandName.java band table, FILE_NAME_BAND_n -> GeoTIFF band
    resources): a synthetic two-band scene is opened, each band read
    through the distributed deferred-decode GeoTIFF path, and every pixel
    converted DN -> TOA reflectance with the scene's rescaling
    coefficients; the oracle re-derives pixels, coefficients, and the band
    table closed-form."""
    import numpy as _np
    import pandas as _pd

    from .sources.landsat import open_scene

    scene = open_scene(_landsat_write_scene())
    outs = []
    for n in (2, 3):
        meta = scene.band(n)
        tiles, gg = scene.load_band(spark, n)
        mult, add = float(meta["reflectance_mult"]), float(meta["reflectance_add"])
        w, h = gg.width, gg.height
        tile_size = 64

        def explode(batches, _m=mult, _a=add, _n=n, _g=meta["group"],
                    _wl=meta["wavelength_nm"], _w=w, _h=h):
            for b in batches:
                for tx, ty, data_ in zip(b["tx"], b["ty"], b["data"]):
                    block = _np.frombuffer(data_, dtype=_np.uint8).reshape(
                        tile_size, tile_size)
                    x0, y0 = int(tx) * tile_size, int(ty) * tile_size
                    ww, hh2 = min(tile_size, _w - x0), min(tile_size, _h - y0)
                    yy, xx = _np.mgrid[0:hh2, 0:ww]
                    v = block[:hh2, :ww].ravel().astype(_np.float64)
                    yield _pd.DataFrame({
                        "band": _n, "grp": _g, "wavelength_nm": _wl,
                        "gx": (x0 + xx).ravel(), "gy": (y0 + yy).ravel(),
                        "refl": _m * v + _a,
                    })

        outs.append(tiles.mapInPandas(
            explode,
            schema="band int, grp string, wavelength_nm int, "
                   "gx long, gy long, refl double",
        ))
    out = outs[0].unionByName(outs[1])
    return out.orderBy("band", "gy", "gx")


def q_landsat_scene_oracle():
    return """
SELECT CAST(n AS INT) AS band, 'REFLECTIVE' AS grp,
       CAST(CASE n WHEN 2 THEN 482 ELSE 562 END AS INT) AS wavelength_nm,
       CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
       3.125e-2 * CAST((gx * 5 + gy * 9 + n * 17) % 256 AS DOUBLE)
         + (-5e-1 + CAST(n AS DOUBLE) / 6.4e1) AS refl
FROM generate_series(2, 3) tn(n),
     generate_series(0, 95) tx(gx), generate_series(0, 95) ty(gy)
ORDER BY band, gy, gx"""


# ================================================================ media columns

N_GATE_CLIPS = 12
_AUDIO_SR = 8000  # 25 ms frames -> flen 200, 40 frames per 1 s clip


def q_audio_features(spark, sf_dir):
    """Audio columns end-to-end under the oracle gate: integer-formula PCM16
    is packaged as REAL RIFF/WAVE payloads, decoded distributed, and reduced
    to per-frame RMS + zero-crossing rate (operators/media.audio_features).
    Bit-exact because every sample is the dyadic rational k/2^15 (|k| <=
    16000, exact through the int16 round-trip AND the float32 decode), so
    frame sums are exact integers over 2^30 and the oracle can replay the
    identical divide/sqrt sequence."""
    import numpy as _np
    import pandas as _pd

    from .operators.media import audio_features
    from .sources import riff

    rows = []
    for c in range(N_GATE_CLIPS):
        t = _np.arange(_AUDIO_SR, dtype=_np.int64)
        k = (c * 7919 + t * 104729) % 32001 - 16000
        rows.append({
            "media_id": f"aud-{c:09d}",
            "payload": riff.encode_wav(k.astype(_np.float64) / 32768.0, _AUDIO_SR),
            "sample_rate": _AUDIO_SR, "n_samples": _AUDIO_SR,
            "codec": "wav-pcm16",
        })
    audio = spark.createDataFrame(
        _pd.DataFrame(rows),
        schema="media_id string, payload binary, sample_rate int, "
               "n_samples long, codec string",
    ).repartition(min(N_GATE_CLIPS, spark.sparkContext.defaultParallelism))
    return audio_features(audio, frame_ms=25).orderBy("media_id", "frame")


def q_audio_features_oracle():
    return f"""
WITH s AS (
  SELECT c.c AS c, t.t AS t,
         ((c.c * 7919 + t.t * 104729) % 32001) - 16000 AS k
  FROM generate_series(0, {N_GATE_CLIPS - 1}) c(c),
       generate_series(0, {_AUDIO_SR - 1}) t(t)),
fr AS (SELECT c, t // 200 AS frame, t % 200 AS pos, k FROM s),
rms AS (SELECT c, frame, CAST(sum(k * k) AS BIGINT) AS s2
        FROM fr GROUP BY 1, 2),
z AS (
  SELECT a.c AS c, a.frame AS frame,
         CAST(sum(CASE WHEN (a.k < 0) <> (b.k < 0) THEN 1 ELSE 0 END) AS BIGINT) AS nz
  FROM fr a JOIN fr b ON a.c = b.c AND a.frame = b.frame AND b.pos = a.pos + 1
  GROUP BY 1, 2)
SELECT 'aud-' || lpad(CAST(rms.c AS VARCHAR), 9, '0') AS media_id,
       CAST(rms.frame AS INT) AS frame,
       sqrt(CAST(rms.s2 AS DOUBLE) / 1.073741824e9 / 2.0e2) AS rms,
       CAST(z.nz AS DOUBLE) / 1.99e2 AS zcr
FROM rms JOIN z ON rms.c = z.c AND rms.frame = z.frame
ORDER BY media_id, frame"""


def q_video_frames(spark, sf_dir):
    """Video columns end-to-end under the oracle gate: formula raw-RGB clips
    through the frame-seeking sampler (operators/media.sample_frames decodes
    every 4th frame ONLY — the AT_GET_TILE_TIME discipline applied to time)
    reduced to per-frame mean intensity the oracle re-derives pixel-wise."""
    import pandas as _pd

    from .operators.media import VIDEO_SCHEMA, make_fake_video, sample_frames

    video = spark.createDataFrame(
        _pd.DataFrame([make_fake_video(c) for c in range(N_GATE_CLIPS)]),
        schema=VIDEO_SCHEMA,
    ).repartition(min(N_GATE_CLIPS, spark.sparkContext.defaultParallelism))
    return sample_frames(video, every_n=4).select(
        "media_id", "frame", "mean_intensity"
    ).orderBy("media_id", "frame")


def q_video_frames_oracle():
    return f"""
WITH px AS (
  SELECT m.m AS m, f.f AS f,
         (x.x * 5 + y.y * 11 + f.f * 17 + ch.ch * 29 + m.m * 7) % 256 AS v
  FROM generate_series(0, {N_GATE_CLIPS - 1}) m(m),
       (VALUES (0), (4), (8)) f(f),
       generate_series(0, 15) x(x), generate_series(0, 11) y(y),
       generate_series(0, 2) ch(ch))
SELECT 'vid-' || lpad(CAST(m AS VARCHAR), 9, '0') AS media_id,
       CAST(f AS INT) AS frame,
       CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) / 5.76e2 AS mean_intensity
FROM px GROUP BY m, f ORDER BY media_id, frame"""


EPOCH_US = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {})"


def q_asof_join(spark, sf_dir):
    """As-of join (operators/timeseries.asof_join): every click gets the
    latest error at-or-before it for the same user, nulled when staler than
    2 hours — the union + keyed-window formulation (one shuffle, no driver
    state).  The oracle is DuckDB's native ASOF LEFT JOIN with the same
    tolerance as a CASE."""
    from .operators.timeseries import asof_join

    ev = _read(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("err_id"), "value"
    )
    out = asof_join(
        clicks, errors, keys=["user_id"],
        value_cols=["err_id", "value"],
        tolerance=F.expr("INTERVAL 2 HOURS"), how="left",
    )
    return out.select(
        "event_id", "user_id", "r_err_id",
        F.expr(
            "timestampdiff(MICROSECOND, r_ts, ts)"
        ).alias("staleness_us"),
        F.col("r_value").alias("err_value"),
    ).orderBy("event_id")


def q_asof_join_oracle():
    return """
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
     r AS (SELECT user_id, ts AS r_ts, event_id AS err_id, value
           FROM events WHERE event_type = 'error'),
     m AS (SELECT l.event_id, l.user_id, l.ts, r.r_ts, r.err_id, r.value
           FROM l ASOF LEFT JOIN r
           ON l.user_id = r.user_id AND l.ts >= r.r_ts)
SELECT event_id, user_id,
       CASE WHEN r_ts >= ts - INTERVAL 2 HOUR THEN err_id END AS r_err_id,
       CASE WHEN r_ts >= ts - INTERVAL 2 HOUR
            THEN epoch_us(ts) - epoch_us(r_ts) END AS staleness_us,
       CASE WHEN r_ts >= ts - INTERVAL 2 HOUR THEN value END AS err_value
FROM m ORDER BY event_id"""


RJ_BIN_US = 600_000_000  # 10-minute bins ~ the median interval length


def q_range_join(spark, sf_dir):
    """Interval overlap join (operators/timeseries.range_join — the
    distributed TemporalFilter.anyInteracts): click intervals
    [ts, ts + (1 + id%7) min] x error intervals [ts, ts + (1 + id%11) min],
    binned explode + equi-join on the bin, each pair emitted exactly once
    in the bin of max(starts).  Oracle: the plain non-equi join."""
    from .operators.timeseries import range_join

    ev = _read(spark, sf_dir, "events")
    us = F.expr(EPOCH_US.format("ts"))
    a = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("a_id"),
        us.alias("a_s"),
        (us + (F.lit(1) + F.col("event_id") % 7) * 60_000_000).alias("a_e"),
    )
    b = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("b_id"),
        us.alias("b_s"),
        (us + (F.lit(1) + F.col("event_id") % 11) * 60_000_000).alias("b_e"),
    )
    out = range_join(a, b, "a_s", "a_e", "b_s", "b_e", bin_width=RJ_BIN_US)
    return out.select(
        "a_id", "b_id",
        (F.least("a_e", "b_e") - F.greatest("a_s", "b_s")).alias("overlap_us"),
    ).orderBy("a_id", "b_id")


def q_range_join_oracle():
    return """
WITH a AS (SELECT event_id AS a_id, epoch_us(ts) AS a_s,
                  epoch_us(ts) + (1 + event_id % 7) * 60000000 AS a_e
           FROM events WHERE event_type = 'click'),
     b AS (SELECT event_id AS b_id, epoch_us(ts) AS b_s,
                  epoch_us(ts) + (1 + event_id % 11) * 60000000 AS b_e
           FROM events WHERE event_type = 'error')
SELECT a_id, b_id, least(a_e, b_e) - greatest(a_s, b_s) AS overlap_us
FROM a JOIN b ON a_s <= b_e AND b_s <= a_e
ORDER BY a_id, b_id"""


def q_sessionize(spark, sf_dir):
    """Gap sessionization (operators/timeseries.session_stats): per-user
    sessions split on >30-minute silence, rolled up to count/first/last/
    quantized value sum — lag + running-sum windows in one shuffle.  The
    oracle replays the same windows in SQL (sum cast per playbook rule 6)."""
    from .operators.timeseries import session_stats

    ev = _read(spark, sf_dir, "events").select("user_id", "ts", "value")
    out = session_stats(
        ev, "user_id",
        aggs=[
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_c")
        ],
    )
    return out.orderBy("user_id", "session_idx")


def q_sessionize_oracle():
    return """
WITH s AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS ns
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
t AS (
  SELECT user_id, ts, value,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_idx
  FROM s)
SELECT user_id, session_idx, count(*) AS n_events,
       min(ts) AS first_ts, max(ts) AS last_ts,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c
FROM t GROUP BY user_id, session_idx ORDER BY user_id, session_idx"""


def q_gopher_repetition(spark, sf_dir):
    """Gopher repetition quality signals (textops.repetition_stats):
    duplicate-word fraction + most-frequent-bigram fraction per document —
    one map-side-combined aggregation, int/int-division doubles so both
    engines agree bit-exactly."""
    from .operators.textops import repetition_stats

    return repetition_stats(_read(spark, sf_dir, "documents")).orderBy("doc_id")


def q_gopher_repetition_oracle():
    from .operators.textops import repetition_stats_sql

    return repetition_stats_sql() + " ORDER BY doc_id"


def q_decontaminate(spark, sf_dir):
    """Benchmark n-gram decontamination (textops.decontaminate): flag docs
    sharing any word 8-gram with a benchmark set.  The benchmark is
    synthesized from the corpus by a shared rule (docs doc_id%29==3 with
    >=20 words donate tokens 5..16), so both engines derive it identically.
    Plan: benchmark gram hashes distinct + broadcast, doc side map-side
    explode -> broadcast join -> one partial-agg count shuffle."""
    from .operators.textops import decontaminate

    docs = _read(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    bench = docs.filter((F.col("doc_id") % 29 == 3) & (F.size(ws) >= 20)).select(
        F.array_join(F.slice(ws, 5, 12), " ").alias("text")
    )
    return decontaminate(docs, bench, n=8).orderBy("doc_id")


def q_decontaminate_oracle():
    from .operators.textops import decontaminate_sql

    return decontaminate_sql(n=8) + " ORDER BY doc_id"


def q_classifier_score(spark, sf_dir):
    """Hashed-bag-of-words linear classifier inference
    (textops.classifier_score): zero-shuffle codegen fold over the token
    array — the scoring shape for quality-filtering 100 TB of text."""
    from .operators.textops import classifier_score

    return classifier_score(_read(spark, sf_dir, "documents"), threshold=0).orderBy("doc_id")


def q_classifier_score_oracle():
    from .operators.textops import classifier_score_sql

    return classifier_score_sql(threshold=0) + " ORDER BY doc_id"


def q_image_quality(spark, sf_dir):
    """Image quality metrics (imageops.image_quality): brightness, RMS
    contrast and Laplacian-variance sharpness through the REAL distributed
    decode path; the oracle replays every interior-pixel Laplacian from the
    closed-form synthetic pixel content, and the derived doubles share one
    expression text between engines (lossy JPEG rows excluded as in
    `image_features`)."""
    from .operators.imageops import image_quality
    from .sources.images import images_table

    img = images_table(spark, N_GATE_FEATURE_IMAGES).filter(F.col("fmt") != "jpeg")
    return image_quality(img).orderBy("image_id")


def q_image_quality_oracle():
    from .operators.imageops import _quality_double_exprs
    from .sources.images import SIZES

    size_case = lambda e: (
        f"(CASE ({e}) % 3 WHEN 0 THEN {SIZES[0]} WHEN 1 THEN {SIZES[1]} ELSE {SIZES[2]} END)"
    )
    luma = lambda x, y: (
        "("
        + " + ".join(f"((({x}) * 3 + ({y}) * 7 + {k * 31} + d.i * 13) % 256)" for k in range(3))
        + ")"
    )
    lap = (
        f"4 * {luma('x.x', 'y.y')} - {luma('x.x - 1', 'y.y')} - {luma('x.x + 1', 'y.y')}"
        f" - {luma('x.x', 'y.y - 1')} - {luma('x.x', 'y.y + 1')}"
    )
    d = _quality_double_exprs()
    return f"""
WITH dims AS (
  SELECT i, {size_case('i')} AS w, {size_case('i // 3')} AS h
  FROM generate_series(0, {N_GATE_FEATURE_IMAGES - 1}) t(i)
  WHERE i % 3 <> 2),
px AS (
  SELECT d.i, {luma('x.x', 'y.y')} AS l,
         CASE WHEN x.x >= 1 AND x.x <= d.w - 2 AND y.y >= 1 AND y.y <= d.h - 2
              THEN {lap} END AS lap
  FROM dims d, generate_series(0, 63) x(x), generate_series(0, 63) y(y)
  WHERE x.x < d.w AND y.y < d.h),
s AS (
  SELECT i, count(*) AS n_px,
         CAST(sum(l) AS BIGINT) AS sum_l,
         CAST(sum(l * l) AS BIGINT) AS sumsq_l,
         count(lap) AS n_lap,
         CAST(COALESCE(sum(lap), 0) AS BIGINT) AS sum_lap,
         CAST(COALESCE(sum(lap * lap), 0) AS BIGINT) AS sumsq_lap
  FROM px GROUP BY i)
SELECT 'img-' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       n_px, sum_l, sumsq_l, n_lap, sum_lap, sumsq_lap,
       {d['brightness']} AS brightness,
       {d['contrast_var']} AS contrast_var,
       CASE WHEN n_lap > 0 THEN {d['sharpness_var']} END AS sharpness_var
FROM s ORDER BY image_id"""


def q_dup_ngram_coverage(spark, sf_dir):
    """Fraction of tokens inside corpus-duplicated word 4-grams
    (textops.dup_ngram_coverage) — the cross-document boilerplate signal of
    the FineWeb/Gopher filter family."""
    from .operators.textops import dup_ngram_coverage

    return dup_ngram_coverage(_read(spark, sf_dir, "documents"), n=4, min_count=2).orderBy(
        "doc_id"
    )


def q_dup_ngram_coverage_oracle():
    from .operators.textops import dup_ngram_coverage_sql

    return dup_ngram_coverage_sql(n=4, min_count=2) + " ORDER BY doc_id"


ALIGN_THRESHOLD = 0.97


def q_caption_alignment(spark, sf_dir):
    """Image-caption alignment filtering (imageops.caption_alignment): the
    CLIP-score curation shape with a documented deterministic stand-in
    model — real distributed decode for the image embedding, codegen hashed
    bag-of-words fold for the caption embedding, shared-expression cosine.
    Lossy JPEG rows excluded (pixel sums not SQL-replicable)."""
    from .operators.imageops import caption_alignment
    from .sources.images import images_table

    img = images_table(spark, N_GATE_FEATURE_IMAGES).filter(F.col("fmt") != "jpeg")
    return caption_alignment(img, threshold=ALIGN_THRESHOLD).orderBy("image_id")


def q_caption_alignment_oracle():
    from .operators.imageops import _alignment_expr, _bucket_case
    from .sources.images import _VOCAB, SIZES

    size_case = lambda e: (
        f"(CASE ({e}) % 3 WHEN 0 THEN {SIZES[0]} WHEN 1 THEN {SIZES[1]} ELSE {SIZES[2]} END)"
    )
    vocab_lit = "[" + ", ".join(f"'{w}'" for w in _VOCAB) + "]"
    tokens = (
        "(['caption', 'of', 'img-' || lpad(CAST(d.i AS VARCHAR), 12, '0') || ':'] || "
        f"[{vocab_lit}[(d.i * 7 + k * 13) % {len(_VOCAB)} + 1] for k in range(0, 6)])"
    )
    cnt = lambda j: (
        f"CAST(len(list_filter({tokens}, t -> {_bucket_case('t', 'duckdb')} = {j})) AS BIGINT)"
    )
    ch_sum = lambda k: (
        f"CAST(sum((x.x * 3 + y.y * 7 + {k * 31} + d.i * 13) % 256) AS BIGINT)"
    )
    a = _alignment_expr()
    return f"""
WITH dims AS (
  SELECT i, {size_case('i')} AS w, {size_case('i // 3')} AS h
  FROM generate_series(0, {N_GATE_FEATURE_IMAGES - 1}) t(i)
  WHERE i % 3 <> 2),
s AS (
  SELECT d.i, {ch_sum(0)} AS sum_r, {ch_sum(1)} AS sum_g, {ch_sum(2)} AS sum_b
  FROM dims d, generate_series(0, 63) x(x), generate_series(0, 63) y(y)
  WHERE x.x < d.w AND y.y < d.h
  GROUP BY d.i),
c AS (
  SELECT d.i, {cnt(0)} AS c0, {cnt(1)} AS c1, {cnt(2)} AS c2 FROM dims d)
SELECT 'img-' || lpad(CAST(s.i AS VARCHAR), 12, '0') AS image_id,
       c0, c1, c2, sum_r, sum_g, sum_b,
       {a} AS alignment,
       {a} >= {ALIGN_THRESHOLD} AS keep
FROM s JOIN c USING (i) ORDER BY image_id"""


def q_bpe_pair_counts(spark, sf_dir):
    """Round-1 BPE pair statistics (bpe.pair_counts over the char-split
    distinct-word table): the gate-able slice of distributed BPE training —
    the full argmax merge chain is pytest-differentialed (test_bpe.py)."""
    from .operators.bpe import init_vocab, pair_counts, word_freq

    docs = _read(spark, sf_dir, "documents")
    return (
        pair_counts(init_vocab(word_freq(docs)))
        .orderBy(F.col("cnt").desc(), "a", "b")
        .limit(32)
    )


def q_bpe_pair_counts_oracle():
    from .operators.bpe import pair_counts_sql

    return pair_counts_sql(top=32)


def q_group_cap(spark, sf_dir):
    """Deterministic per-source document cap (sampling.group_cap): keep at
    most 20 docs per source, chosen by md5(doc_id) — the C4-style per-domain
    cap, stable across partitionings and re-runs.  One window shuffle."""
    from .operators.sampling import group_cap

    return group_cap(_read(spark, sf_dir, "documents"), "source", 20, "doc_id").orderBy(
        "doc_id"
    )


def q_group_cap_oracle():
    from .operators.sampling import group_cap_sql

    return (
        group_cap_sql(20, "source", "doc_id", cols="doc_id, text, lang, source, n_chars")
        + " ORDER BY doc_id"
    )


def q_hash_sample(spark, sf_dir):
    """Deterministic 25% Bernoulli subsample (sampling.hash_sample, the
    60-bit md5 uniform): a map-only codegen filter, zero shuffles —
    rerun/append/partitioning-stable unlike DataFrame.sample."""
    from .operators.sampling import hash_sample

    return hash_sample(_read(spark, sf_dir, "documents"), 0.25, "doc_id").orderBy(
        "doc_id"
    )


def q_hash_sample_oracle():
    from .operators.sampling import _SCALE, hash_u60_sql

    thr = int(0.25 * _SCALE)
    return (
        f"SELECT * FROM documents WHERE {hash_u60_sql('doc_id', 'sample')} < {thr} "
        "ORDER BY doc_id"
    )


def q_group_quantiles(spark, sf_dir):
    """Exact per-language quantiles of document length (sampling.
    group_quantiles): element at integer index (n-1)*num DIV den of the
    sorted multiset — no FP interpolation, one window shuffle."""
    from .operators.sampling import group_quantiles

    return group_quantiles(
        _read(spark, sf_dir, "documents"), "lang", "n_chars"
    ).orderBy("lang", "q_num", "q_den")


def q_group_quantiles_oracle():
    from .operators.sampling import group_quantiles_sql

    return group_quantiles_sql("lang", "n_chars") + " ORDER BY lang, q_num, q_den"


def q_tfidf_topk(spark, sf_dir):
    """Top-3 terms per document by tf-idf (textops.tfidf_topk): corpus df
    table + shared ln() expression text over exact integers; ties broken by
    term so the selection is total."""
    from .operators.textops import tfidf_topk

    return tfidf_topk(_read(spark, sf_dir, "documents"), k=3).orderBy("doc_id", "rank")


def q_tfidf_topk_oracle():
    from .operators.textops import tfidf_topk_sql

    return tfidf_topk_sql(k=3) + " ORDER BY doc_id, rank"


def q_dhash(spark, sf_dir):
    """63-bit difference hash over luma blocks (imageops.dhash), grid 7x10,
    integer block boundaries bx = x*10 DIV w so the oracle replays them with
    integer division over the formula pixels.  Lossy JPEG rows excluded."""
    from .operators.imageops import dhash
    from .sources.images import images_table

    img = images_table(spark, N_GATE_FEATURE_IMAGES).filter(F.col("fmt") != "jpeg")
    return dhash(img).orderBy("image_id")


def q_dhash_oracle():
    from .operators.imageops import DHASH_COLS, DHASH_ROWS
    from .sources.images import SIZES

    R, C = DHASH_ROWS, DHASH_COLS
    size_case = lambda e: (
        f"(CASE ({e}) % 3 WHEN 0 THEN {SIZES[0]} WHEN 1 THEN {SIZES[1]} ELSE {SIZES[2]} END)"
    )
    luma = (
        "("
        + " + ".join(f"((x.x * 3 + y.y * 7 + {k * 31} + d.i * 13) % 256)" for k in range(3))
        + ")"
    )
    return f"""
WITH dims AS (
  SELECT i, {size_case('i')} AS w, {size_case('i // 3')} AS h
  FROM generate_series(0, {N_GATE_FEATURE_IMAGES - 1}) t(i)
  WHERE i % 3 <> 2),
px AS (
  SELECT d.i, (x.x * {C}) // d.w AS bx, (y.y * {R}) // d.h AS by, {luma} AS l
  FROM dims d, generate_series(0, 63) x(x), generate_series(0, 63) y(y)
  WHERE x.x < d.w AND y.y < d.h),
bs AS (SELECT i, by, bx, CAST(sum(l) AS BIGINT) AS s FROM px GROUP BY i, by, bx),
cmp AS (SELECT i, by, bx, s,
               lead(s) OVER (PARTITION BY i, by ORDER BY bx) AS nxt
        FROM bs),
h AS (SELECT i, CAST(sum(CASE WHEN nxt > s
                   THEN (CAST(1 AS BIGINT) << (62 - (by * {C - 1} + bx)))
                   ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS dhash
      FROM cmp WHERE bx < {C - 1} GROUP BY i)
SELECT 'img-' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id, dhash
FROM h ORDER BY image_id"""


def q_color_histogram(spark, sf_dir):
    """Per-channel 8-bin color histograms (imageops.color_histogram), zero
    bins emitted for a stable 24-rows-per-image shape.  JPEG rows excluded
    (lossy pixels aren't SQL-replicable)."""
    from .operators.imageops import color_histogram
    from .sources.images import images_table

    img = images_table(spark, N_GATE_FEATURE_IMAGES).filter(F.col("fmt") != "jpeg")
    return color_histogram(img).orderBy("image_id", "channel", "bin")


def q_color_histogram_oracle():
    from .sources.images import SIZES

    size_case = lambda e: (
        f"(CASE ({e}) % 3 WHEN 0 THEN {SIZES[0]} WHEN 1 THEN {SIZES[1]} ELSE {SIZES[2]} END)"
    )
    return f"""
WITH dims AS (
  SELECT i, {size_case('i')} AS w, {size_case('i // 3')} AS h
  FROM generate_series(0, {N_GATE_FEATURE_IMAGES - 1}) t(i)
  WHERE i % 3 <> 2),
px AS (
  SELECT d.i, k.k AS k,
         ((x.x * 3 + y.y * 7 + k.k * 31 + d.i * 13) % 256) // 32 AS bin
  FROM dims d, generate_series(0, 2) k(k),
       generate_series(0, 63) x(x), generate_series(0, 63) y(y)
  WHERE x.x < d.w AND y.y < d.h),
c AS (SELECT i, k, bin, CAST(count(*) AS BIGINT) AS n FROM px GROUP BY i, k, bin)
SELECT 'img-' || lpad(CAST(d.i AS VARCHAR), 12, '0') AS image_id,
       CAST(k.k AS INTEGER) AS channel, CAST(b.b AS INTEGER) AS bin,
       COALESCE(c.n, 0) AS n
FROM dims d
CROSS JOIN generate_series(0, 2) k(k)
CROSS JOIN generate_series(0, 7) b(b)
LEFT JOIN c ON c.i = d.i AND c.k = k.k AND c.bin = b.b
ORDER BY image_id, channel, bin"""


def q_embedding_covariance(spark, sf_dir):
    """Exact distributed covariance of the quantized embedding dims
    (embeddings.embedding_covariance): map-side integer moment partials +
    one keyed aggregation — the tree-aggregate second-moment pattern that
    feeds PCA/whitening.  2,080 pair rows for d=64."""
    from .operators.embeddings import embedding_covariance

    return embedding_covariance(_read(spark, sf_dir, "embeddings")).orderBy("i", "j")


def q_embedding_covariance_oracle():
    from .operators.embeddings import embedding_covariance_sql

    return embedding_covariance_sql() + " ORDER BY i, j"


def q_shuffle_assign(spark, sf_dir):
    """Deterministic global training order (sampling.shuffle_assign): shard
    by the 60-bit hash, rank within shard — a reproducible permutation with
    no single-task global sort."""
    from .operators.sampling import shuffle_assign

    return shuffle_assign(_read(spark, sf_dir, "documents"), 8, "doc_id").orderBy(
        "doc_id"
    )


def q_shuffle_assign_oracle():
    from .operators.sampling import shuffle_assign_sql

    return (
        shuffle_assign_sql(8, "doc_id", cols="doc_id, text, lang, source, n_chars")
        + " ORDER BY doc_id"
    )


MIX_WEIGHTS = {"en": 5, "de": 2, "es": 1, "fr": 1, "zh": 1}


def q_mixture_rates(spark, sf_dir):
    """Data-mixing rate computation (sampling.mixture_rates): integer target
    proportions -> largest no-upsampling total + per-language keep rates,
    all integer arithmetic until the final rate."""
    from .operators.sampling import mixture_rates

    return mixture_rates(_read(spark, sf_dir, "documents"), "lang", MIX_WEIGHTS).orderBy(
        "lang"
    )


def q_mixture_rates_oracle():
    from .operators.sampling import mixture_rates_sql

    return mixture_rates_sql("lang", MIX_WEIGHTS) + " ORDER BY lang"


RAST_W, RAST_H, RAST_TS = 256, 192, 64
RAST_N_RECTS = 24


def _rasterize_rects():
    """Deterministic dyadic rectangles (corners at odd/32 offsets, widths
    even/32) on the [-10, -6] x [2, 5] grid: pixel centers sit at odd/128
    offsets, so center-vs-edge comparisons are exact in BOTH engines (the
    vector_tiles_poly dyadic trick applied to rasterization)."""
    rects = []
    for r in range(RAST_N_RECTS):
        xk = 2 * ((r * 7) % 60) + 1
        wk = 2 * ((r * 3) % 20) + 2
        yk = 2 * ((r * 11) % 44) + 1
        hk = 2 * ((r * 5) % 16) + 2
        rects.append({
            "key": r + 1,
            "xmin": -10.0 + xk / 32.0,
            "xmax": -10.0 + (xk + wk) / 32.0,
            "ymax": 5.0 - yk / 32.0,
            "ymin": 5.0 - (yk + hk) / 32.0,
        })
    return rects


def _rasterize_gg():
    from .raster.grid import GridGeometry

    return GridGeometry(
        (0, 0, RAST_W - 1, RAST_H - 1),
        (1.0 / 64.0, 0.0, -10.0, 0.0, -1.0 / 64.0, 5.0),
    )


def q_rasterize(spark, sf_dir):
    """Distributed vector->raster label burn (tiles.rasterize_polygons):
    polygon table -> envelope->tile explode -> per-tile CELL_CENTER PIP
    burn, max key wins.  Gate output: per-tile position-weighted int64
    checksums of the label raster, dense over the full tile grid."""
    import numpy as _np
    import pandas as _pd

    from .functions.geometry import wkb_polygon
    from .raster.tiles import rasterize_polygons

    rects = _rasterize_rects()
    pdf = _pd.DataFrame({
        "key": [r["key"] for r in rects],
        "wkb": [
            wkb_polygon([(
                _np.array([r["xmin"], r["xmax"], r["xmax"], r["xmin"]]),
                _np.array([r["ymin"], r["ymin"], r["ymax"], r["ymax"]]),
            )])
            for r in rects
        ],
    })
    polys = spark.createDataFrame(pdf, schema="key long, wkb binary")
    tiles = rasterize_polygons(polys, _rasterize_gg(), tile_size=RAST_TS)

    TS, W = RAST_TS, RAST_W

    sums = _tile_checksums(tiles, W, RAST_H, TS, "cs", {"data": _np.int32})
    nx, ny = RAST_W // TS, RAST_H // TS
    grid = spark.range(nx).withColumnRenamed("id", "tx").crossJoin(
        spark.range(ny).withColumnRenamed("id", "ty")
    )
    return (
        grid.join(sums, ["tx", "ty"], "left")
        .select("tx", "ty", F.coalesce(F.col("cs"), F.lit(0)).alias("cs"))
        .orderBy("ty", "tx")
    )


def q_rasterize_oracle():
    vals = ",\n  ".join(
        f"({r['key']}, {r['xmin']!r}E0, {r['xmax']!r}E0, {r['ymin']!r}E0, {r['ymax']!r}E0)"
        for r in _rasterize_rects()
    )
    return f"""
WITH rects(key, xmin, xmax, ymin, ymax) AS (VALUES
  {vals}),
px AS (
  SELECT x.x AS px, y.y AS py,
         CAST(2 * x.x + 1 AS DOUBLE) / 128.0E0 - 10.0E0 AS cx,
         5.0E0 - CAST(2 * y.y + 1 AS DOUBLE) / 128.0E0 AS cy
  FROM generate_series(0, {RAST_W - 1}) x(x), generate_series(0, {RAST_H - 1}) y(y)),
lab AS (
  SELECT px, py,
         COALESCE((SELECT max(r.key) FROM rects r
                   WHERE px.cx > r.xmin AND px.cx < r.xmax
                     AND px.cy > r.ymin AND px.cy < r.ymax), 0) AS label
  FROM px)
SELECT CAST(px // {RAST_TS} AS BIGINT) AS tx, CAST(py // {RAST_TS} AS BIGINT) AS ty,
       CAST(sum(CAST(label AS BIGINT) * ((py * {RAST_W} + px) % 9973 + 1)) AS BIGINT) AS cs
FROM lab GROUP BY 1, 2 ORDER BY ty, tx"""


def _pii_aug_sql(dialect: str) -> str:
    """Shared augmentation: inject deterministic emails/IPs/phones into the
    synthetic docs (they contain none) — identical string construction in
    both dialects (only the cast keyword differs)."""
    s = lambda e: (
        f"CAST({e} AS STRING)" if dialect == "spark" else f"CAST({e} AS VARCHAR)"
    )
    return (
        "text"
        f" || (CASE WHEN doc_id % 3 = 0 THEN ' mail user' || {s('doc_id')}"
        f" || '@ex' || {s('doc_id % 7')} || '.org' ELSE '' END)"
        f" || (CASE WHEN doc_id % 4 = 0 THEN ' ip 10.' || {s('doc_id % 256')}"
        f" || '.0.' || {s('doc_id % 100')} ELSE '' END)"
        f" || (CASE WHEN doc_id % 5 = 0 THEN ' tel +14155550' || {s('doc_id % 90 + 10')}"
        " ELSE '' END)"
    )


def q_redact_pii(spark, sf_dir):
    """PII redaction (textops.redact_pii): email/IPv4/phone patterns from
    the Java-regex ∩ RE2 identical-semantics subset, applied in order, with
    pre-redaction audit counts — map-only codegen, zero shuffles."""
    from .operators.textops import redact_pii

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_pii_aug_sql("spark")).alias("text")
    )
    return redact_pii(docs).orderBy("doc_id")


def q_redact_pii_oracle():
    from .operators.textops import redact_pii_sql

    inner = f"(SELECT doc_id, {_pii_aug_sql('duckdb')} AS text FROM documents) aug"
    return redact_pii_sql(rel=inner) + " ORDER BY doc_id"


def q_window_tumbling(spark, sf_dir):
    """Tumbling event-time windows (timeseries.tumbling_agg, the batch twin
    of Structured Streaming's F.window): 5-minute buckets per event_type,
    one map-side-combined aggregation; totals as exact integer cents."""
    from .operators.timeseries import tumbling_agg

    return tumbling_agg(
        _read(spark, sf_dir, "events"), 300, keys=("event_type",)
    ).orderBy("event_type", "w_start")


def q_window_tumbling_oracle():
    from .operators.timeseries import tumbling_agg_sql

    return tumbling_agg_sql(300, keys=("event_type",)) + " ORDER BY event_type, w_start"


def q_window_sliding(spark, sf_dir):
    """Sliding event-time windows (width 10 min, slide 5 min): F.window's
    explode + keyed agg, replicated by the oracle as a slide-offset UNNEST."""
    from .operators.timeseries import sliding_agg

    return sliding_agg(_read(spark, sf_dir, "events"), 600, 300).orderBy("w_start")


def q_window_sliding_oracle():
    from .operators.timeseries import sliding_agg_sql

    return sliding_agg_sql(600, 300) + " ORDER BY w_start"


def q_hll_registers(spark, sf_dir):
    """HyperLogLog register table (sketches.hll_registers, p=8): the
    fixed-size mergeable distinct-count state — top-8-bit register index,
    first-1-bit rank of the 52-bit suffix via length(bin(w)), one 256-key
    map-side-combined max.  The gate checks the sketch CONTENTS bit-for-bit;
    the FP estimate is pytest-only."""
    from .operators.sketches import hll_registers

    return hll_registers(_read(spark, sf_dir, "documents"), "doc_id", p=8).orderBy(
        "reg"
    )


def q_hll_registers_oracle():
    from .operators.sketches import hll_registers_sql

    return (
        "SELECT reg, max_rho FROM ("
        + hll_registers_sql("doc_id", p=8)
        + ") ORDER BY reg"
    )


def q_bloom_filter(spark, sf_dir):
    """Bloom membership (sketches.bloom_build/bloom_probe, 4096 bits, k=3):
    bitmap = 60-bit words built by bit_or partial aggregation over a
    deterministic half of the corpus; every doc probed through the same k
    md5 positions — false positives are part of the gated output, the
    oracle replays them exactly."""
    from .operators.sampling import hash_u60
    from .operators.sketches import bloom_build, bloom_probe

    docs = _read(spark, sf_dir, "documents")
    build = docs.filter(hash_u60(F.col("doc_id"), "bf-build") < F.lit(1 << 59))
    bitmap = bloom_build(build, "doc_id")
    return bloom_probe(docs, bitmap, "doc_id").orderBy("doc_id")


def q_bloom_filter_oracle():
    from .operators.sampling import hash_u60_sql
    from .operators.sketches import bloom_probe_sql

    pred = f"{hash_u60_sql('doc_id', 'bf-build')} < {1 << 59}"
    return (
        "SELECT doc_id, maybe FROM ("
        + bloom_probe_sql(pred)
        + ") ORDER BY doc_id"
    )


def q_countmin_heavy(spark, sf_dir):
    """Count-Min frequency estimates (sketches.countmin_build/estimate,
    4x16): exact-integer counters keyed by md5 column hashes — width
    deliberately small so colliding counters over-count and the min across
    the 4 rows is load-bearing, estimate =
    min over the 4 rows (never under-counts); probe set = the distinct terms
    of docs 0-19, output carries the true count beside the estimate."""
    from .operators.sketches import countmin_build, countmin_estimate

    docs = _read(spark, sf_dir, "documents")
    terms = docs.select(F.explode(F.split("text", " ")).alias("term"))
    sketch = countmin_build(terms, "term", depth=4, width=16)
    probe = (
        docs.filter(F.col("doc_id") < 20)
        .select(F.explode(F.split("text", " ")).alias("term"))
        .distinct()
    )
    est = countmin_estimate(probe, sketch, "term", depth=4, width=16)
    truth = terms.groupBy("term").agg(F.count(F.lit(1)).alias("true_n"))
    return est.join(truth, "term").select("term", "est", "true_n").orderBy("term")


def q_countmin_heavy_oracle():
    from .operators.sketches import countmin_sql

    return (
        "SELECT term, est, true_n FROM ("
        + countmin_sql(depth=4, width=16, probe_pred="doc_id < 20")
        + ") ORDER BY term"
    )


def q_kmeans_clusters(spark, sf_dir):
    """Distributed k-means over the embedding column (embeddings.
    kmeans_assign, k=8, TWO full Lloyd iterations): exact-integer training
    (lowest-id init, floor-divided centroid means, first-min argmin) so the
    oracle replays the TRAINING itself, not just the final assignment.
    Output: (vec_id, cluster, csize)."""
    from .operators.embeddings import kmeans_assign

    return kmeans_assign(
        _read(spark, sf_dir, "embeddings"), k=8, iters=2
    ).orderBy("vec_id")


def q_kmeans_clusters_oracle():
    from .operators.embeddings import kmeans_assign_select

    return kmeans_assign_select(8, 64, 2) + " ORDER BY vec_id"


def q_cluster_balanced(spark, sf_dir):
    """Cluster-balanced corpus selection (embeddings.cluster_balanced):
    k-means k=8 then keep <=40 rows per cluster by deterministic md5 rank —
    the over-represented-mode trim of semantic curation (SemDeDup-shaped),
    rerun/partitioning-stable."""
    from .operators.embeddings import cluster_balanced

    return cluster_balanced(
        _read(spark, sf_dir, "embeddings"), k=8, cap=40, iters=2
    ).orderBy("vec_id")


def q_cluster_balanced_oracle():
    from .operators.embeddings import kmeans_assign_select
    from .operators.sampling import group_cap_sql

    km = kmeans_assign_select(8, 64, 2)
    return (
        group_cap_sql(
            40, "cluster", "vec_id",
            rel=f"(SELECT vec_id, cluster FROM ({km}) base) km",
            cols="vec_id, cluster",
        )
        + " ORDER BY vec_id"
    )


_HILBERT_ORDER = 10


def _hilbert_grid_sql(axis: str) -> str:
    """Shared expression text (Spark SQL == DuckDB) mapping lon/lat to the
    2^order grid — the cells.py floor+clamp convention."""
    n = 1 << _HILBERT_ORDER
    if axis == "x":
        return (
            f"CAST(LEAST(GREATEST(floor((lon + 180.0) / 360.0 * {n}.0), 0.0), "
            f"{n - 1}.0) AS BIGINT)"
        )
    return (
        f"CAST(LEAST(GREATEST(floor((lat + 90.0) / 180.0 * {n}.0), 0.0), "
        f"{n - 1}.0) AS BIGINT)"
    )


def q_hilbert_order(spark, sf_dir):
    """Hilbert-curve layout keys (functions/hilbert.py, order 10): the
    locality-preserving file-clustering sort key — unlike the Morton cell id,
    consecutive keys are always 4-adjacent grid cells, the property that
    makes range-partitioned writes cluster bbox scans.  Vectorized per-bit
    rotate/reflect walk in one map-only Arrow pass; the oracle replays the
    walk as a recursive CTE."""
    from .functions.hilbert import hilbert_index

    pts = _events_points(spark, sf_dir)
    g = pts.select(
        "event_id",
        F.expr(_hilbert_grid_sql("x")).alias("ix"),
        F.expr(_hilbert_grid_sql("y")).alias("iy"),
    )
    return hilbert_index(g, "ix", "iy", _HILBERT_ORDER, id_cols=["event_id"]).orderBy(
        "event_id"
    )


def q_hilbert_order_oracle():
    from .functions.hilbert import hilbert_sql_select

    base = (
        f"SELECT event_id, {_hilbert_grid_sql('x')} AS ix, "
        f"{_hilbert_grid_sql('y')} AS iy FROM ({_points_sql()}) p"
    )
    return (
        "SELECT event_id, ix, iy, hkey FROM ("
        + hilbert_sql_select(base, _HILBERT_ORDER)
        + ") ORDER BY event_id"
    )


def q_stay_points(spark, sf_dir):
    """Stay-point detection (trajectory.stay_points, Li et al. 2008 anchor
    walk): per-user time-ordered tracks grouped while points stay within the
    anchor radius; groups spanning >= 2h emitted with exact quantized
    centroids.  One applyInPandas group per user (sequential recurrence,
    users parallelize); the oracle steps the same recurrence as a recursive
    CTE with the identical FP distance expression."""
    from .operators.trajectory import stay_points

    ev = _read(spark, sf_dir, "events")
    lon, lat = point_lonlat_cols("event_id")
    pts = ev.select(
        "user_id", "event_id", "ts", lon.alias("lon"), lat.alias("lat")
    )
    return stay_points(pts, dist_deg=1.5, min_duration_s=7200).orderBy(
        "user_id", "anchor_rn"
    )


def q_stay_points_oracle():
    from .operators.trajectory import stay_points_sql
    from . import synth

    base = (
        f"SELECT user_id, event_id, ts, {synth.point_lon_sql('event_id')} AS lon, "
        f"{synth.point_lat_sql('event_id')} AS lat FROM events"
    )
    return (
        "SELECT * FROM ("
        + stay_points_sql(base, "1.5e0", 7200)
        + ") ORDER BY user_id, anchor_rn"
    )


_CONV_W, _CONV_H = 500, 300  # NOT tile multiples: extent masking exercised
_CONV_KERNEL = ((0, -1, 0), (-1, 5, -1), (0, -1, 0))  # sharpen


def q_convolve(spark, sf_dir):
    """Generic focal convolution (terrain.convolve_tiles, 3x3 sharpen
    kernel, zero padding outside the raster): the neighborhood operator the
    gradient specializes — same 9-way halo gather, integer kernel x integer
    raster -> exact int64 planes.  Raster 500x300 (not a tile multiple) so
    padding columns/rows are live in the test; per-tile position-weighted
    checksums vs the oracle's per-pixel re-derivation."""
    from .raster.grid import GridGeometry
    from .raster.terrain import convolve_tiles

    W, H, TS = _CONV_W, _CONV_H, 64
    tiles = _formula_tiles(spark, W, H, bands=1, tile_size=TS)
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    conv = convolve_tiles(tiles, gg, _CONV_KERNEL, tile_size=TS)

    return _tile_checksums(conv, W, H, TS, "cs").orderBy("tx", "ty")


def q_convolve_oracle():
    W, H = _CONV_W, _CONV_H
    v = lambda a, b: f"((({a}) * 7 + ({b}) * 13) % 256)"
    terms = []
    for dy, row in zip((-1, 0, 1), _CONV_KERNEL):
        for dx, coef in zip((-1, 0, 1), row):
            if not coef:
                continue
            terms.append(
                f"(CASE WHEN x + ({dx}) BETWEEN 0 AND {W - 1} "
                f"AND y + ({dy}) BETWEEN 0 AND {H - 1} "
                f"THEN ({coef}) * {v(f'x + ({dx})', f'y + ({dy})')} ELSE 0 END)"
            )
    conv = "(" + " + ".join(terms) + ")"
    return f"""
WITH px AS (
  SELECT x.x AS x, y.y AS y
  FROM generate_series(0, {W - 1}) x(x), generate_series(0, {H - 1}) y(y)),
g AS (
  SELECT x // 64 AS tx, y // 64 AS ty,
         {conv} AS cv,
         ((y * {W} + x) % 9973 + 1) AS wt
  FROM px)
SELECT tx, ty, CAST(sum(cv * wt) AS BIGINT) AS cs
FROM g GROUP BY 1, 2 ORDER BY 1, 2"""


def q_ngram_lm(spark, sf_dir):
    """Corpus-LM fluency scoring (textops.ngram_lm_score): the perplexity-
    filter step of CCNet-style curation, made bit-exact — per-bigram logprob
    is the integer log2 floor bitlen(c2) - bitlen(c1) via length(bin(n)),
    no libm; one bigram-count shuffle + count-table join + per-doc agg."""
    from .operators.textops import ngram_lm_score

    return ngram_lm_score(_read(spark, sf_dir, "documents")).orderBy("doc_id")


def q_ngram_lm_oracle():
    from .operators.textops import ngram_lm_score_sql

    return ngram_lm_score_sql() + " ORDER BY doc_id"


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement (sampling.
    weighted_topk): integer priority = u60(key) DIV weight, k smallest —
    selection probability grows with document length, yet the sample is a
    pure function of keys (rerun/append/partitioning-stable).  Plan is
    TakeOrderedAndProject: per-partition partial top-k, size-k final."""
    from .operators.sampling import weighted_topk

    return weighted_topk(
        _read(spark, sf_dir, "documents"), 100, "n_chars", "doc_id"
    )


def q_weighted_sample_oracle():
    from .operators.sampling import weighted_topk_sql

    return weighted_topk_sql(100, "n_chars", "doc_id")


def q_grid_cluster(spark, sf_dir):
    """Grid-density clustering (operators/density.py, grid DBSCAN at
    2^10 cells, min_pts 3): core-cell histogram + connected components of
    8-adjacent core cells — the density clustering that survives 10^12
    points (the component loop runs over ~200 core cells, not the input).
    Output: every core point with its cluster label."""
    from .operators.density import grid_cluster

    pts = _events_points(spark, sf_dir)
    return grid_cluster(pts, grid_n=1024, min_pts=3).orderBy("event_id")


def q_grid_cluster_oracle():
    from .operators.density import grid_cluster_sql

    return (
        "SELECT * FROM ("
        + grid_cluster_sql(_points_sql(), 1024, 3)
        + ") ORDER BY event_id"
    )


def q_theta_sketch(spark, sf_dir):
    """KMV / theta sketch set algebra (sketches.kmv_build/kmv_summary,
    k=64): the k smallest distinct u60 hashes of two overlapping doc-id
    subsets — distinct is map-side-combined, the k-min compiles to
    TakeOrderedAndProject — combined into one row of content checksums +
    shifted-integer estimates for |A|, |B|, |A∪B| and |A∩B| (the set
    operation HLL cannot answer).  Every value is exact int64; the oracle
    replays hashes, k-min sets and the 52-bit-precision divisions."""
    from .operators.sampling import hash_u60
    from .operators.sketches import kmv_build, kmv_summary

    docs = _read(spark, sf_dir, "documents")
    h = hash_u60(F.col("doc_id"), "ta")
    a = kmv_build(docs.filter(h < F.lit(1 << 59)), "doc_id", k=64)
    b = kmv_build(docs.filter(h >= F.lit(1 << 58)), "doc_id", k=64)
    return kmv_summary(a, b, k=64)


def q_theta_sketch_oracle():
    from .operators.sampling import hash_u60_sql
    from .operators.sketches import kmv_summary_sql

    h = hash_u60_sql("doc_id", "ta")
    return kmv_summary_sql(f"{h} < {1 << 59}", f"{h} >= {1 << 58}", k=64)


def _d8_sql_cte(W: int, H: int) -> str:
    """Shared DuckDB CTE prefix deriving per-pixel D8 direction codes for
    the band-0 formula raster ((x*7 + y*13) % 256): drops to the 8
    neighbors in the engine\'s tie-break order (E, SE, S, SW, W, NW, N,
    NE), out-of-extent neighbors pinned to -999999 (never the max), code 0
    when the best drop is not strictly positive — byte-for-byte the
    raster/terrain.py flow_dir_tiles convention."""
    from .raster.terrain import _D8

    v = lambda a, b: f"((({a}) * 7 + ({b}) * 13) % 256)"
    dcols = []
    for i, (ddx, ddy, _code) in enumerate(_D8):
        nx, ny = f"x + ({ddx})", f"y + ({ddy})"
        rng = f"{nx} >= 0 AND {nx} < {W} AND {ny} >= 0 AND {ny} < {H}"
        dcols.append(
            f"(CASE WHEN {rng} THEN {v('x', 'y')} - {v(nx, ny)}"
            f" ELSE -999999 END) AS d{i}"
        )
    m = "greatest(" + ", ".join(f"d{i}" for i in range(8)) + ")"
    arms = " ".join(
        f"WHEN d{i} = m THEN {code}" for i, (_, _, code) in enumerate(_D8)
    )
    return f"""
WITH RECURSIVE px AS (
  SELECT x.x AS x, y.y AS y
  FROM generate_series(0, {W - 1}) x(x), generate_series(0, {H - 1}) y(y)),
dd AS (SELECT x, y, {", ".join(dcols)} FROM px),
mm AS (SELECT *, {m} AS m FROM dd),
dir AS (
  SELECT x, y, CASE WHEN m <= 0 THEN 0 {arms} END AS dir FROM mm)"""


def q_flow_dir(spark, sf_dir):
    """D8 flow direction over a tiled DEM (raster/terrain.py
    flow_dir_tiles: 9-way halo gather, unweighted steepest drop, ESRI
    codes, first-wins ties, pits/out-of-extent -> 0) under the oracle
    gate: per-tile position-weighted integer checksums of the direction
    codes, each pixel re-derived by the oracle from the formula raster."""
    import numpy as _np

    from .raster.grid import GridGeometry
    from .raster.terrain import flow_dir_tiles

    W, H, TS = 512, 384, 64
    tiles = _formula_tiles(spark, W, H, bands=1, tile_size=TS)
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    d = flow_dir_tiles(tiles, gg, tile_size=TS)

    return _tile_checksums(d, W, H, TS, {
        "cs": lambda wt, v: (v * wt).sum(),
        "pits": lambda wt, v: (v == 0).sum(),
    }, {"dirs": _np.uint8}).orderBy("tx", "ty")


def q_flow_dir_oracle():
    return _d8_sql_cte(512, 384) + """
SELECT x // 64 AS tx, y // 64 AS ty,
       CAST(sum(dir * ((y * 512 + x) % 9973 + 1)) AS BIGINT) AS cs,
       CAST(sum(CASE WHEN dir = 0 THEN 1 ELSE 0 END) AS BIGINT) AS pits
FROM dir GROUP BY 1, 2 ORDER BY 1, 2"""


def q_flow_accum(spark, sf_dir):
    """D8 flow accumulation (raster/terrain.py flow_accum: iterative
    bottom-up upstream-count over the acyclic flow forest — one equi-join
    + partial agg per round, one scalar to the driver, localCheckpoint
    lineage truncation) gated against a DuckDB RECURSIVE-CTE walk that
    follows every cell\'s flow path and counts visits per cell.  Output:
    per-tile position-weighted checksum of acc + cell count + max acc."""
    from .raster.grid import GridGeometry
    from .raster.terrain import flow_accum, flow_cells, flow_dir_tiles

    W = H = 128
    TS = 64
    tiles = _formula_tiles(spark, W, H, bands=1, tile_size=TS)
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    cells = flow_cells(flow_dir_tiles(tiles, gg, tile_size=TS), gg, TS)
    acc = flow_accum(cells)
    return _cell_checksums(acc, W, TS, F.col("acc"), F.count(F.lit(1)).alias("n"),
                           F.max("acc").alias("max_acc"))


def q_flow_accum_oracle():
    from .raster.terrain import _D8

    dx = " ".join(f"WHEN dir = {c} THEN {ddx}" for ddx, ddy, c in _D8)
    dy = " ".join(f"WHEN dir = {c} THEN {ddy}" for ddx, ddy, c in _D8)
    return _d8_sql_cte(128, 128) + f""",
step AS (
  SELECT x, y, CASE {dx} END AS dx, CASE {dy} END AS dy
  FROM dir WHERE dir > 0),
walk(sx, sy, x, y) AS (
  SELECT x, y, x, y FROM dir
  UNION ALL
  SELECT w.sx, w.sy, s.x + s.dx, s.y + s.dy
  FROM walk w JOIN step s ON s.x = w.x AND s.y = w.y),
acc AS (SELECT x, y, count(*) AS acc FROM walk GROUP BY x, y)
SELECT x // 64 AS tx, y // 64 AS ty,
       CAST(sum(acc * ((y * 128 + x) % 9973 + 1)) AS BIGINT) AS cs,
       count(*) AS n, CAST(max(acc) AS BIGINT) AS max_acc
FROM acc GROUP BY 1, 2 ORDER BY 1, 2"""


_MM_LAM = 250000
_MM_N_EVENTS = 4000


def q_map_match(spark, sf_dir):
    """HMM map-matching forward DP (trajectory.viterbi_forward): per-user
    tracks matched against a closed-form gridline road network (horizontal
    roads every 1000 q-units, vertical every 1000; candidates = the 4
    enclosing gridlines, emission = exact integer axis distance squared;
    candidate generation is pure codegen — the pluggable join variant is
    nearest_line_join).  The flat segment-change penalty lam is the
    continuity prior.  The gate pins the FULL DP table (dp0..dp3 per
    point) — the Viterbi path is derivable from it and is pytest-covered;
    the oracle replays the recurrence as a lockstep recursive CTE."""
    from .operators.trajectory import viterbi_forward

    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") < _MM_N_EVENTS)
    lon, lat = point_lonlat_cols("event_id")
    pts = (
        ev.select("user_id", "event_id", "ts", lon.alias("lon"), lat.alias("lat"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ).cast("long"),
        )
        .withColumn("qx", F.floor(F.col("lon") * 100).cast("long"))
        .withColumn("qy", F.floor(F.col("lat") * 100).cast("long"))
        .withColumn("j0", F.expr("(qy - ((qy % 1000) + 1000) % 1000) div 1000"))
        .withColumn("i0", F.expr("(qx - ((qx % 1000) + 1000) % 1000) div 1000"))
    )
    cand = pts.select(
        "user_id", "rn",
        F.explode(F.array(
            F.struct(F.lit(0).cast("long").alias("rank"),
                     (F.col("j0") * 2).alias("seg_key"),
                     ((F.col("qy") - F.col("j0") * 1000)
                      * (F.col("qy") - F.col("j0") * 1000)).alias("emit")),
            F.struct(F.lit(1).cast("long").alias("rank"),
                     ((F.col("j0") + 1) * 2).alias("seg_key"),
                     (((F.col("j0") + 1) * 1000 - F.col("qy"))
                      * ((F.col("j0") + 1) * 1000 - F.col("qy"))).alias("emit")),
            F.struct(F.lit(2).cast("long").alias("rank"),
                     (F.col("i0") * 2 + 1).alias("seg_key"),
                     ((F.col("qx") - F.col("i0") * 1000)
                      * (F.col("qx") - F.col("i0") * 1000)).alias("emit")),
            F.struct(F.lit(3).cast("long").alias("rank"),
                     ((F.col("i0") + 1) * 2 + 1).alias("seg_key"),
                     (((F.col("i0") + 1) * 1000 - F.col("qx"))
                      * (((F.col("i0") + 1) * 1000 - F.col("qx")))).alias("emit")),
        )).alias("c"),
    ).select("user_id", "rn", "c.rank", "c.seg_key", "c.emit")
    dp = viterbi_forward(cand, lam=_MM_LAM)
    agg = [
        F.min(F.when(F.col("rank") == r, F.col("dp"))).alias(f"dp{r}")
        for r in range(4)
    ]
    return dp.groupBy("user_id", "rn").agg(*agg).orderBy("user_id", "rn")


def q_map_match_oracle():
    lam = _MM_LAM

    def dp_term(m):
        terms = ", ".join(
            f"r.dp{x} + CASE WHEN r.k{x} = p.k{m} THEN 0 ELSE {lam} END"
            for x in range(4)
        )
        return f"p.e{m} + least({terms})"

    cand_cols = []
    for m, (k, e) in enumerate([
        ("2 * j0", "(qy - 1000 * j0) * (qy - 1000 * j0)"),
        ("2 * (j0 + 1)", "(1000 * (j0 + 1) - qy) * (1000 * (j0 + 1) - qy)"),
        ("2 * i0 + 1", "(qx - 1000 * i0) * (qx - 1000 * i0)"),
        ("2 * (i0 + 1) + 1", "(1000 * (i0 + 1) - qx) * (1000 * (i0 + 1) - qx)"),
    ]):
        cand_cols.append(f"{k} AS k{m}, {e} AS e{m}")
    rec_cols = ",\n    ".join(dp_term(m) for m in range(4))
    return f"""
WITH RECURSIVE base AS (
  SELECT user_id, event_id, ts,
         {synth.point_lon_sql('event_id')} AS lon,
         {synth.point_lat_sql('event_id')} AS lat
  FROM events WHERE event_id < {_MM_N_EVENTS}),
pts AS (
  SELECT user_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn,
         CAST(floor(lon * 1.0e2) AS BIGINT) AS qx,
         CAST(floor(lat * 1.0e2) AS BIGINT) AS qy
  FROM base),
fd AS (
  SELECT user_id, rn, qx, qy,
         (qy - ((qy % 1000) + 1000) % 1000) // 1000 AS j0,
         (qx - ((qx % 1000) + 1000) % 1000) // 1000 AS i0
  FROM pts),
cc AS (
  SELECT user_id, rn, {", ".join(cand_cols)}
  FROM fd),
rec AS (
  SELECT user_id, rn, e0 AS dp0, e1 AS dp1, e2 AS dp2, e3 AS dp3,
         k0, k1, k2, k3
  FROM cc WHERE rn = 1
  UNION ALL
  SELECT p.user_id, p.rn,
    {rec_cols},
    p.k0, p.k1, p.k2, p.k3
  FROM rec r JOIN cc p ON p.user_id = r.user_id AND p.rn = r.rn + 1
)
SELECT user_id, rn, CAST(dp0 AS BIGINT) AS dp0, CAST(dp1 AS BIGINT) AS dp1,
       CAST(dp2 AS BIGINT) AS dp2, CAST(dp3 AS BIGINT) AS dp3
FROM rec ORDER BY user_id, rn"""


def q_watershed(spark, sf_dir):
    """Watershed basin labeling (terrain.watershed_basins): every cell
    labelled with the pit its D8 flow path terminates in, resolved by
    POINTER DOUBLING (ceil(log2 L) self-joins — the O(log L) counterpart
    of flow_accum's O(L) rounds).  Output per tile: position-weighted
    checksum of basin ids + distinct-basin count; the oracle walks every
    cell's path to its sink with a recursive CTE."""
    from .raster.grid import GridGeometry
    from .raster.terrain import flow_cells, flow_dir_tiles, watershed_basins

    W = H = 128
    TS = 64
    tiles = _formula_tiles(spark, W, H, bands=1, tile_size=TS)
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    cells = flow_cells(flow_dir_tiles(tiles, gg, tile_size=TS), gg, TS)
    basins = watershed_basins(cells)
    sink_id = (F.col("sink_y") * W + F.col("sink_x")).cast("long")
    return _cell_checksums(basins, W, TS, sink_id,
                           F.countDistinct(sink_id).alias("n_basins"))


def q_watershed_oracle():
    from .raster.terrain import _D8

    dx = " ".join(f"WHEN dir = {c} THEN {ddx}" for ddx, ddy, c in _D8)
    dy = " ".join(f"WHEN dir = {c} THEN {ddy}" for ddx, ddy, c in _D8)
    return _d8_sql_cte(128, 128) + f""",
step AS (
  SELECT x, y, CASE {dx} END AS dx, CASE {dy} END AS dy
  FROM dir WHERE dir > 0),
walk(sx, sy, x, y) AS (
  SELECT x, y, x, y FROM dir
  UNION ALL
  SELECT w.sx, w.sy, s.x + s.dx, s.y + s.dy
  FROM walk w JOIN step s ON s.x = w.x AND s.y = w.y),
sinks AS (
  SELECT w.sx AS x, w.sy AS y, w.y * 128 + w.x AS sink_id
  FROM walk w JOIN dir d ON d.x = w.x AND d.y = w.y
  WHERE d.dir = 0)
SELECT x // 64 AS tx, y // 64 AS ty,
       CAST(sum(sink_id * ((y * 128 + x) % 9973 + 1)) AS BIGINT) AS cs,
       CAST(count(DISTINCT sink_id) AS BIGINT) AS n_basins
FROM sinks GROUP BY 1, 2 ORDER BY 1, 2"""


_PR_SCALE = 10**12
_PR_ITERS = 3


def q_pagerank(spark, sf_dir):
    """Exact-integer PageRank (graph.pagerank_exact, d=0.85, 3
    iterations) over a closed-form link graph on the documents table
    (doc a -> (a*7+11)%N, (a*13+5)%N, (a*3+1)%N, deduplicated): every
    division is an integer floor-div so the scaled ranks are bit-exact —
    the oracle chains one CTE block per iteration (the kmeans-oracle
    pattern).  Output: top 100 docs by (rank DESC, node)."""
    from .operators.graph import pagerank_exact

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("src")
    )
    n = docs.count()
    edges = (
        docs.select(
            "src",
            F.explode(F.array(
                (F.col("src") * 7 + 11) % n,
                (F.col("src") * 13 + 5) % n,
                (F.col("src") * 3 + 1) % n,
            )).alias("dst"),
        )
        .distinct()
    )
    nodes = docs.select(F.col("src").alias("node"))
    ranks = pagerank_exact(edges, nodes, iters=_PR_ITERS, scale=_PR_SCALE)
    w = Window.orderBy(F.col("rank").desc(), F.col("node").asc())
    return (
        ranks.withColumn("pos", F.row_number().over(w).cast("long"))
        .filter(F.col("pos") <= 100)
        .select("pos", "node", "rank")
        .orderBy("pos")
    )


def q_pagerank_oracle():
    S = _PR_SCALE
    blocks = ["""nn AS (SELECT count(*) AS n FROM documents),
nodes AS (SELECT CAST(doc_id AS BIGINT) AS node FROM documents),
e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT CAST(doc_id AS BIGINT) AS src, (CAST(doc_id AS BIGINT) * 7 + 11) % nn.n AS dst FROM documents, nn
    UNION ALL
    SELECT CAST(doc_id AS BIGINT), (CAST(doc_id AS BIGINT) * 13 + 5) % nn.n FROM documents, nn
    UNION ALL
    SELECT CAST(doc_id AS BIGINT), (CAST(doc_id AS BIGINT) * 3 + 1) % nn.n FROM documents, nn)),
deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
r0 AS (SELECT node, {S} // nn.n AS rank FROM nodes, nn)""".format(S=S)]
    for i in range(_PR_ITERS):
        blocks.append(f"""c{i + 1} AS (
  SELECT e.dst AS node, sum(r.rank // d.outdeg) AS s
  FROM e JOIN r{i} r ON r.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY 1),
r{i + 1} AS (
  SELECT nodes.node,
         ({S} * 15) // (100 * nn.n) + (85 * COALESCE(c.s, 0)) // 100 AS rank
  FROM nodes LEFT JOIN c{i + 1} c ON c.node = nodes.node, nn)""")
    return "WITH " + ",\n".join(blocks) + f"""
SELECT pos, node, CAST(rank AS BIGINT) AS rank FROM (
  SELECT node, rank,
         CAST(row_number() OVER (ORDER BY rank DESC, node ASC) AS BIGINT) AS pos
  FROM r{_PR_ITERS}) t
WHERE pos <= 100 ORDER BY pos"""


def q_triangles(spark, sf_dir):
    """Per-node triangle counting (graph.triangle_count) with
    degree-ordered orientation — each triangle counted at exactly one
    wedge node, intermediate size bounded by sum(outdeg^2) with
    outdeg = O(sqrt(E)) even under power-law skew.  Link graph: ring +
    skip + formula chords over documents (the ring/skip edges guarantee
    triangles exist).  Output: histogram (triangles, n_nodes); the
    oracle enumerates each triangle once as an ordered 3-path."""
    from .operators.graph import triangle_count

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("src")
    )
    n = docs.count()
    edges = docs.select(
        "src",
        F.explode(F.array(
            (F.col("src") + 1) % n,
            (F.col("src") + 2) % n,
            (F.col("src") * 7 + 11) % n,
        )).alias("dst"),
    )
    tc = triangle_count(edges)
    return (
        tc.groupBy("triangles")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("triangles")
    )


def q_triangles_oracle():
    return """
WITH nn AS (SELECT count(*) AS n FROM documents),
raw AS (
  SELECT CAST(doc_id AS BIGINT) AS src, (CAST(doc_id AS BIGINT) + 1) % nn.n AS dst FROM documents, nn
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), (CAST(doc_id AS BIGINT) + 2) % nn.n FROM documents, nn
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), (CAST(doc_id AS BIGINT) * 7 + 11) % nn.n FROM documents, nn),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM raw WHERE src <> dst),
tri AS (
  SELECT e1.a AS p, e1.b AS q, e2.b AS r
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
pn AS (
  SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
    SELECT p AS node FROM tri
    UNION ALL SELECT q FROM tri
    UNION ALL SELECT r FROM tri) t
  GROUP BY 1)
SELECT triangles, CAST(count(*) AS BIGINT) AS n_nodes
FROM pn GROUP BY 1 ORDER BY 1"""


def q_prefix_join(spark, sf_dir):
    """Exact Jaccard similarity join at t=17/20 via prefix filtering
    (dedup.jaccard_join_prefix, the PPJoin-family scale-exact counterpart
    of minhash_lsh): corpus = documents plus one mutated copy each (one
    extra per-doc-unique token, Jaccard s/(s+1) — guaranteed positives);
    candidates only from each doc's globally-rarest prefix tokens, exact
    integer cross-multiplication verify."""
    from .operators.dedup import jaccard_join_prefix

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    mut = docs.select(
        (F.col("doc_id").cast("long") + 1000000).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" zz"), F.col("doc_id").cast("string")
        ).alias("text"),
    )
    corpus = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).unionByName(mut)
    return jaccard_join_prefix(corpus, t_num=17, t_den=20).orderBy("a", "b")


def q_prefix_join_oracle():
    return """
WITH corpus AS (
  SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents
  UNION ALL
  SELECT CAST(doc_id AS BIGINT) + 1000000,
         text || ' zz' || CAST(doc_id AS VARCHAR) FROM documents),
toks AS (SELECT DISTINCT id, unnest(string_split(text, ' ')) AS tok FROM corpus),
dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY 1),
sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS s FROM toks GROUP BY 1),
ordered AS (
  SELECT t.id, t.tok,
         row_number() OVER (PARTITION BY t.id ORDER BY d.df, t.tok) AS rn
  FROM toks t JOIN dfreq d ON d.tok = t.tok),
pref AS (
  SELECT o.id, o.tok FROM ordered o JOIN sizes z ON z.id = o.id
  WHERE o.rn <= z.s - ((17 * z.s + 19) // 20) + 1),
cand AS (
  SELECT DISTINCT a.id AS a, b.id AS b
  FROM pref a JOIN pref b ON a.tok = b.tok AND a.id < b.id),
cm AS (
  SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS common
  FROM cand c
  JOIN toks ta ON ta.id = c.a
  JOIN toks tb ON tb.id = c.b AND tb.tok = ta.tok
  GROUP BY 1, 2)
SELECT m.a, m.b, m.common, za.s AS sa, zb.s AS sb
FROM cm m JOIN sizes za ON za.id = m.a JOIN sizes zb ON zb.id = m.b
WHERE 20 * m.common >= 17 * (za.s + zb.s - m.common)
ORDER BY a, b"""


def q_rollup_agg(spark, sf_dir):
    """Multi-level ROLLUP aggregation (region -> nation -> grand total)
    with explicit grouping flags: the OLAP grouping-sets surface over the
    orders->customer->nation->region join chain; money quantized to exact
    integer cents (floor(x*100)) so every subtotal is bit-exact."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region")
    j = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select(
            "r_name", "n_name",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("cents").alias("cents"),
            F.grouping("r_name").cast("long").alias("gr"),
            F.grouping("n_name").cast("long").alias("gn"),
        )
        .select(
            F.coalesce("r_name", F.lit("<all>")).alias("r"),
            F.coalesce("n_name", F.lit("<all>")).alias("n"),
            "gr", "gn", "cnt", "cents",
        )
        .orderBy("gr", "gn", "r", "n")
    )


def q_rollup_agg_oracle():
    return """
SELECT COALESCE(r_name, '<all>') AS r, COALESCE(n_name, '<all>') AS n,
       CAST(GROUPING(r_name) AS BIGINT) AS gr,
       CAST(GROUPING(n_name) AS BIGINT) AS gn,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(CAST(floor(o_totalprice * 1.0e2) AS BIGINT)) AS BIGINT) AS cents
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region rg ON n.n_regionkey = rg.r_regionkey
GROUP BY ROLLUP(r_name, n_name)
ORDER BY gr, gn, r, n"""


def q_pivot_counts(spark, sf_dir):
    """Pivot (long -> wide) aggregation: order counts + cent sums by
    priority, one column pair per order status — Spark's pivot() vs the
    oracle's CASE-conditional aggregation (the canonical translation)."""
    o = _read(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("cents").alias("cents"),
        )
    )
    return wide.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("F_cnt").alias("f_cnt"), F.col("F_cents").alias("f_cents"),
        F.col("O_cnt").alias("o_cnt"), F.col("O_cents").alias("o_cents"),
        F.col("P_cnt").alias("p_cnt"), F.col("P_cents").alias("p_cents"),
    ).orderBy("priority")


def q_pivot_counts_oracle():
    arms = []
    for s, p in (("F", "f"), ("O", "o"), ("P", "p")):
        arms.append(
            f"CAST(count(*) FILTER (o_orderstatus = '{s}') AS BIGINT) AS {p}_cnt"
        )
        arms.append(
            f"CAST(sum(CAST(floor(o_totalprice * 1.0e2) AS BIGINT)) "
            f"FILTER (o_orderstatus = '{s}') AS BIGINT) AS {p}_cents"
        )
    return f"""
SELECT o_orderpriority AS priority, {", ".join(arms)}
FROM orders GROUP BY 1 ORDER BY 1"""


def q_window_rank(spark, sf_dir):
    """Ranking-window surface: per-nation top customers by exact cent
    spend — row_number / rank / dense_rank / ntile(3) / lag over the same
    deterministic (cents DESC, custkey) frame, top 8 per nation."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    tot = (
        o.select(
            "o_custkey", F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents")
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("cents"))
    )
    j = tot.join(c, tot["o_custkey"] == c["c_custkey"]).join(
        n, c["c_nationkey"] == n["n_nationkey"]
    ).select("n_name", F.col("c_custkey").alias("custkey"), "cents")
    w = Window.partitionBy("n_name").orderBy(F.col("cents").desc(), F.col("custkey"))
    return (
        j.select(
            "n_name", "custkey", "cents",
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rk"),
            F.dense_rank().over(w).cast("long").alias("drk"),
            F.ntile(3).over(w).cast("long").alias("nt"),
            F.lag("cents").over(w).alias("prev_cents"),
        )
        .filter(F.col("rn") <= 8)
        .orderBy("n_name", "rn")
    )


def q_window_rank_oracle():
    return """
WITH tot AS (
  SELECT o_custkey, CAST(sum(CAST(floor(o_totalprice * 1.0e2) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
j AS (
  SELECT n.n_name, c.c_custkey AS custkey, t.cents
  FROM tot t JOIN customer c ON t.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey),
wr AS (
  SELECT n_name, custkey, cents,
         CAST(row_number() OVER w AS BIGINT) AS rn,
         CAST(rank() OVER w AS BIGINT) AS rk,
         CAST(dense_rank() OVER w AS BIGINT) AS drk,
         CAST(ntile(3) OVER w AS BIGINT) AS nt,
         lag(cents) OVER w AS prev_cents
  FROM j
  WINDOW w AS (PARTITION BY n_name ORDER BY cents DESC, custkey))
SELECT * FROM wr WHERE rn <= 8 ORDER BY n_name, rn"""


def q_quantile_hist(spark, sf_dir):
    """Mergeable quantile histogram (sketches.quantile_hist, the quantile
    member of the sketch family): 2^10 dyadic buckets over clamped doc
    length, quantiles answered as the first bucket whose running count
    reaches ceil(q*n) with q rational — exact integer thresholds.  Output:
    one row per quantile (q_num, q_den, bucket, lo, hi, cum, n)."""
    from .operators.sketches import quantile_from_hist, quantile_hist

    docs = _read(spark, sf_dir, "documents").select(
        F.least(F.length("text"), F.lit((1 << 16) - 1)).alias("v")
    )
    hist = quantile_hist(docs, "v", domain_bits=16, p=10).localCheckpoint()
    outs = []
    for q_num, q_den in ((1, 2), (9, 10), (99, 100)):
        outs.append(
            quantile_from_hist(hist, q_num, q_den, domain_bits=16, p=10).select(
                F.lit(q_num).cast("long").alias("q_num"),
                F.lit(q_den).cast("long").alias("q_den"),
                "bucket", "lo", "hi", "cum", "n",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("q_num", "q_den")


def q_quantile_hist_oracle():
    from .operators.sketches import quantile_hist_sql

    return quantile_hist_sql(
        f"least(length(text), {(1 << 16) - 1})", domain_bits=16, p=10
    )


def q_fuzzy_join(spark, sf_dir):
    """Edit-distance-1 self-join via FastSS deletion-neighborhood hashing
    (dedup.edit_distance_join): each string's len+1 single-deletion
    variants make every <=1-distance pair share an equi-join key — the
    fuzzy-radius join as a bounded equi-join, verified with exact
    levenshtein.  Customer names differ in single digits, so real pairs
    exist at every position."""
    from .operators.dedup import edit_distance_join

    c = _read(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("c_custkey"), "c_name"
    )
    return (
        edit_distance_join(c, "c_name", "c_custkey")
        .select("a", "b", "d")
        .orderBy("a", "b")
    )


def q_fuzzy_join_oracle():
    return """
WITH base AS (
  SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS s FROM customer),
v AS (
  SELECT DISTINCT id, s,
         left(s, i.i) || substr(s, i.i + 2) AS variant
  FROM base, LATERAL (SELECT unnest(range(0, length(s) + 1)) AS i) i),
cand AS (
  SELECT DISTINCT a.id AS a, b.id AS b, a.s AS sa, b.s AS sb
  FROM v a JOIN v b ON a.variant = b.variant AND a.id < b.id)
SELECT a, b, CAST(levenshtein(sa, sb) AS BIGINT) AS d
FROM cand WHERE levenshtein(sa, sb) <= 1
ORDER BY a, b"""


def q_ewma(spark, sf_dir):
    """Integer exponential smoothing (timeseries.ewma_int, alpha=1/4)
    over per-user event tracks: s_t = floor((x_t + 3 s_{t-1}) / 4) with
    a true floor division (posmod identity) so negative signal values
    cannot split engines on truncate-vs-floor; the oracle steps the same
    recurrence as a lockstep recursive CTE."""
    from .operators.timeseries import ewma_int

    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    lon, _ = point_lonlat_cols("event_id")
    pts = ev.select(
        "user_id", "event_id", "ts",
        F.floor(lon * 10000).cast("long").alias("x"),
    )
    return ewma_int(pts, num=1, den=4).orderBy("user_id", "rn")


def q_ewma_oracle():
    from .operators.timeseries import ewma_int_sql

    base = (
        "SELECT user_id, event_id, ts, "
        f"CAST(floor(({synth.point_lon_sql('event_id')}) * 1.0e4) AS BIGINT) AS x "
        "FROM events WHERE event_id < 4000"
    )
    return (
        "SELECT * FROM ("
        + ewma_int_sql(base, num=1, den=4)
        + ") ORDER BY user_id, rn"
    )


def q_skyline(spark, sf_dir):
    """2-D skyline / Pareto frontier (analytics.skyline2d): customers not
    dominated on (total order cents, account-balance cents) — local
    per-partition prune then one exact sweep over the survivors (sort +
    single pass, no nested-loop join); the oracle is the NOT EXISTS
    dominance definition itself."""
    from .operators.analytics import skyline2d

    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    tot = (
        o.select("o_custkey", F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("cents"))
    )
    pts = tot.join(c, tot["o_custkey"] == c["c_custkey"]).select(
        F.col("c_custkey").cast("long").alias("custkey"),
        "cents",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal"),
    )
    return skyline2d(pts, "cents", "bal").orderBy("custkey")


def q_skyline_oracle():
    return """
WITH tot AS (
  SELECT o_custkey, CAST(sum(CAST(floor(o_totalprice * 1.0e2) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
pts AS (
  SELECT CAST(c.c_custkey AS BIGINT) AS custkey, t.cents,
         CAST(floor(c.c_acctbal * 1.0e2) AS BIGINT) AS bal
  FROM tot t JOIN customer c ON t.o_custkey = c.c_custkey)
SELECT custkey, cents, bal FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.cents >= p.cents AND q.bal >= p.bal
    AND (q.cents > p.cents OR q.bal > p.bal))
ORDER BY custkey"""


def q_funnel(spark, sf_dir):
    """Ordered-stage funnel (analytics.funnel): stage = event_id % 5,
    per-user first-0 -> first-1-strictly-after -> first-2-strictly-after
    timestamps in epoch micros; each stage is one equi-join + one
    min-agg (no per-user sequence scan)."""
    from .operators.analytics import funnel

    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        (F.col("event_id") % 5).alias("stage"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    return funnel(ev, "stage", (0, 1, 2)).orderBy("user_id")


def q_funnel_oracle():
    return """
WITH ev AS (
  SELECT user_id, event_id % 5 AS stage, epoch_us(ts) AS ts_us FROM events),
s0 AS (SELECT user_id, min(ts_us) AS t0 FROM ev WHERE stage = 0 GROUP BY 1),
s1 AS (
  SELECT e.user_id, min(e.ts_us) AS t1
  FROM ev e JOIN s0 ON s0.user_id = e.user_id
  WHERE e.stage = 1 AND e.ts_us > s0.t0 GROUP BY 1),
s2 AS (
  SELECT e.user_id, min(e.ts_us) AS t2
  FROM ev e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.stage = 2 AND e.ts_us > s1.t1 GROUP BY 1)
SELECT s0.user_id, s0.t0, s1.t1, s2.t2
FROM s0 LEFT JOIN s1 ON s1.user_id = s0.user_id
LEFT JOIN s2 ON s2.user_id = s0.user_id
ORDER BY s0.user_id"""


def q_retention(spark, sf_dir):
    """Cohort retention (analytics.retention): cohort week = floor(first
    active epoch-day / 7), one count per (cohort_week, week_offset) of
    distinct users active that week — integer day buckets only, no
    calendar/timezone semantics to diverge on."""
    from .operators.analytics import retention

    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day"),
    )
    return retention(ev).orderBy("cohort_week", "week_offset")


def q_retention_oracle():
    return """
WITH ev AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
first AS (SELECT user_id, min(day) // 7 AS cohort_week FROM ev GROUP BY 1),
active AS (SELECT DISTINCT user_id, day // 7 AS week FROM ev)
SELECT f.cohort_week, a.week - f.cohort_week AS week_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM active a JOIN first f ON f.user_id = a.user_id
GROUP BY 1, 2 ORDER BY 1, 2"""


def q_morphology(spark, sf_dir):
    """Morphological 3x3 dilation + erosion (terrain.rank_filter_tiles)
    on the halo machinery: dilation pads 0 outside the extent, erosion
    pads +inf (border erodes against an all-high surround); raster
    500x300 (not a tile multiple) so within-tile padding is masked live.
    Per-tile weighted checksums of both planes; the oracle is a 9-term
    greatest/least per pixel."""
    from .raster.grid import GridGeometry
    from .raster.terrain import rank_filter_tiles

    W, H, TS = 500, 300, 64
    tiles = _formula_tiles(spark, W, H, bands=1, tile_size=TS)
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    dil = rank_filter_tiles(tiles, gg, "max", tile_size=TS)
    ero = rank_filter_tiles(tiles, gg, "min", tile_size=TS)

    d = _tile_checksums(dil, W, H, TS, "cs_dil")
    e = _tile_checksums(ero, W, H, TS, "cs_ero")
    return d.join(e, ["tx", "ty"]).orderBy("tx", "ty")


def q_morphology_oracle():
    v = lambda a, b: f"((({a}) * 7 + ({b}) * 13) % 256)"
    dil_terms, ero_terms = [], []
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            nx, ny = f"x + ({dx})", f"y + ({dy})"
            rng = f"{nx} >= 0 AND {nx} < 500 AND {ny} >= 0 AND {ny} < 300"
            dil_terms.append(f"CASE WHEN {rng} THEN {v(nx, ny)} ELSE 0 END")
            ero_terms.append(
                f"CASE WHEN {rng} THEN {v(nx, ny)} ELSE 4611686018427387904 END"
            )
    return f"""
WITH px AS (
  SELECT x.x AS x, y.y AS y
  FROM generate_series(0, 499) x(x), generate_series(0, 299) y(y)),
m AS (
  SELECT x // 64 AS tx, y // 64 AS ty,
         greatest({", ".join(dil_terms)}) AS dil,
         least({", ".join(ero_terms)}) AS ero,
         ((y * 500 + x) % 9973 + 1) AS wt
  FROM px)
SELECT tx, ty, CAST(sum(dil * wt) AS BIGINT) AS cs_dil,
       CAST(sum(ero * wt) AS BIGINT) AS cs_ero
FROM m GROUP BY 1, 2 ORDER BY 1, 2"""


def q_distance_transform(spark, sf_dir):
    """Distributed 3-4 chamfer distance transform
    (terrain.chamfer_dt_tiles): distance to the nearest zero-valued
    pixel, solved by BLOCK-JACOBI — each round re-solves every tile
    exactly from a 1-pixel halo of neighbor distances, so convergence
    takes grid-diameter-in-TILES rounds, not O(distance) pixel steps.
    The oracle exploits the chamfer closed form in open space:
    dist = min over seeds of 3*max(|dx|,|dy|) + min(|dx|,|dy|)."""
    from .raster.grid import GridGeometry
    from .raster.terrain import chamfer_dt_tiles

    W, H, TS = 256, 192, 64
    tiles = _formula_tiles(spark, W, H, bands=1, tile_size=TS)
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    dt = chamfer_dt_tiles(tiles, gg, tile_size=TS)

    return _tile_checksums(dt, W, H, TS, {
        "cs": lambda wt, v: (v * wt).sum(),
        "dmax": lambda wt, v: v[wt > 0].max(),
    }).orderBy("tx", "ty")


def q_distance_transform_oracle():
    return """
WITH px AS (
  SELECT x.x AS x, y.y AS y
  FROM generate_series(0, 255) x(x), generate_series(0, 191) y(y)),
seeds AS (SELECT x AS sx, y AS sy FROM px WHERE ((x * 7 + y * 13) % 256) = 0),
d AS (
  SELECT p.x, p.y,
         min(3 * greatest(abs(p.x - s.sx), abs(p.y - s.sy))
             + least(abs(p.x - s.sx), abs(p.y - s.sy))) AS dist
  FROM px p CROSS JOIN seeds s GROUP BY 1, 2)
SELECT x // 64 AS tx, y // 64 AS ty,
       CAST(sum(dist * ((y * 256 + x) % 9973 + 1)) AS BIGINT) AS cs,
       CAST(max(dist) AS BIGINT) AS dmax
FROM d GROUP BY 1, 2 ORDER BY 1, 2"""


def q_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic sampling (sampling.stratified_sample):
    downsample hot strata by hash rate — stratum 0 kept whole, 1 at 1/2,
    2 at 1/4, 3 dropped (no configured rate); map-only codegen filter.
    Output pins membership: per-stratum kept count + doc-id sum."""
    from .operators.sampling import stratified_sample

    docs = _read(spark, sf_dir, "documents").withColumn(
        "stratum", (F.col("doc_id") % 4).cast("long")
    )
    kept = stratified_sample(
        docs, {0: 1.0, 1: 0.5, 2: 0.25}, "stratum", "doc_id"
    )
    return (
        kept.groupBy("stratum")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("doc_id").cast("long")).alias("id_sum"),
        )
        .orderBy("stratum")
    )


def q_stratified_sample_oracle():
    from .operators.sampling import hash_u60_sql

    u = hash_u60_sql("doc_id", "strata")
    s = 1 << 60
    return f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(doc_id AS BIGINT) % 4 AS stratum,
         {u} AS u
  FROM documents),
kept AS (
  SELECT * FROM d
  WHERE (stratum = 0 AND u < {int(1.0 * s)})
     OR (stratum = 1 AND u < {int(0.5 * s)})
     OR (stratum = 2 AND u < {int(0.25 * s)}))
SELECT stratum, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM kept GROUP BY 1 ORDER BY 1"""


def q_integral_image(spark, sf_dir):
    """Distributed integral image (raster/integral.py): SAT = corner +
    left-strip + top-strip + local cumsum — all cross-tile state linear
    in TILES (window-function prefixes over ntx*nty*ts marginal rows),
    one cogroup to reassemble.  Raster 500x300 (padding live); per-tile
    weighted checksums of the SAT plane vs the oracle's two chained SQL
    window cumsums."""
    from .raster.grid import GridGeometry
    from .raster.integral import integral_tiles

    W, H, TS = 500, 300, 64
    tiles = _formula_tiles(spark, W, H, bands=1, tile_size=TS)
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    sat = integral_tiles(tiles, gg, tile_size=TS)

    return _tile_checksums(sat, W, H, TS, "cs").orderBy("tx", "ty")


def q_integral_image_oracle():
    return """
WITH px AS (
  SELECT x.x AS x, y.y AS y, ((x.x * 7 + y.y * 13) % 256) AS v
  FROM generate_series(0, 499) x(x), generate_series(0, 299) y(y)),
s1 AS (
  SELECT x, y,
         sum(v) OVER (PARTITION BY y ORDER BY x ROWS UNBOUNDED PRECEDING) AS sx
  FROM px),
s2 AS (
  SELECT x, y,
         sum(sx) OVER (PARTITION BY x ORDER BY y ROWS UNBOUNDED PRECEDING) AS sat
  FROM s1)
SELECT x // 64 AS tx, y // 64 AS ty,
       CAST(sum(sat * ((y * 500 + x) % 9973 + 1)) AS BIGINT) AS cs
FROM s2 GROUP BY 1, 2 ORDER BY 1, 2"""


def q_voronoi(spark, sf_dir):
    """Chamfer-metric Voronoi assignment (terrain.voronoi_tiles): every
    pixel labelled with its nearest zero-pixel's global id — the SAME
    block-Jacobi sweep as the distance transform run on packed
    dist*2^20 + id values, whose min-plus minimum IS the lexicographic
    (distance, id) minimum.  Per-tile checksums of both the label and
    distance planes; the oracle takes min(packed) over seeds per pixel."""
    from .raster.grid import GridGeometry
    from .raster.terrain import _VOR_SCALE, voronoi_tiles

    W, H, TS = 256, 192, 64
    tiles = _formula_tiles(spark, W, H, bands=1, tile_size=TS)
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    vt = voronoi_tiles(tiles, gg, tile_size=TS)

    return _tile_checksums(vt, W, H, TS, {
        "cs_sid": lambda wt, v: (v % _VOR_SCALE * wt).sum(),
        "cs_dist": lambda wt, v: (v // _VOR_SCALE * wt).sum(),
    }).orderBy("tx", "ty")


def q_voronoi_oracle():
    S = 1 << 20
    return f"""
WITH px AS (
  SELECT x.x AS x, y.y AS y
  FROM generate_series(0, 255) x(x), generate_series(0, 191) y(y)),
seeds AS (
  SELECT x AS sx, y AS sy, (y * 256 + x) AS sid
  FROM px WHERE ((x * 7 + y * 13) % 256) = 0),
d AS (
  SELECT p.x, p.y,
         min((3 * greatest(abs(p.x - s.sx), abs(p.y - s.sy))
              + least(abs(p.x - s.sx), abs(p.y - s.sy))) * {S} + s.sid) AS packed
  FROM px p CROSS JOIN seeds s GROUP BY 1, 2)
SELECT x // 64 AS tx, y // 64 AS ty,
       CAST(sum((packed % {S}) * ((y * 256 + x) % 9973 + 1)) AS BIGINT) AS cs_sid,
       CAST(sum((packed // {S}) * ((y * 256 + x) % 9973 + 1)) AS BIGINT) AS cs_dist
FROM d GROUP BY 1, 2 ORDER BY 1, 2"""


def q_ann_ivfpq(spark, sf_dir):
    """IVF-PQ top-k (ann.ivf_pq_topk): coarse posting lists + product-
    quantized RESIDUALS + per-(query, probed-list) ADC tables — the
    standard billion-scale ANN layout (inverted file bounds the scan,
    residual PQ makes the scanned rows m table lookups each).  All-int64
    arithmetic end to end; the oracle replicates BOTH trainings (coarse
    k-means and the per-subspace residual codebooks) plus the ADC sums
    bit-for-bit."""
    from .operators.ann import ivf_pq_topk

    emb = _read(spark, sf_dir, "embeddings")
    return ivf_pq_topk(
        emb, ANN_QUERY_IDS, ANN_K, nlist=8, nprobe=4, m=PQ_M, ksub=PQ_KSUB
    )


def q_ann_ivfpq_oracle():
    from .operators.ann import ivf_pq_sql

    return ivf_pq_sql(
        len(ANN_QUERY_IDS), ANN_K, EMB_DIM, nlist=8, nprobe=4,
        m=PQ_M, ksub=PQ_KSUB,
    )


def q_collocations(spark, sf_dir):
    """Collocation extraction (textops.collocations): top-20 bigrams by
    the PMI-ordered EXACT integer score c12*N*2^20 div (c1*c2) — PMI's
    log is monotone, so the ranking needs no logarithm and no floats;
    ties break lexicographically.  One bigram agg + one unigram agg +
    a broadcast-size join of surviving bigrams."""
    from .operators.textops import collocations

    return collocations(_read(spark, sf_dir, "documents"), min_count=3, k=20)


def q_collocations_oracle():
    from .operators.textops import collocations_sql

    return collocations_sql(min_count=3, k=20)


def q_robust_outliers(spark, sf_dir):
    """Median/MAD robust outlier detection (analytics.robust_outliers):
    per-priority order totals in exact integer cents, outlier iff
    2*|x - med| > 7*MAD — both med and MAD are exact sorted-multiset
    elements (the group_quantiles convention), so the flags are
    bit-replicable where mean/stddev z-scores would not be."""
    from .operators.analytics import robust_outliers

    o = _read(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return robust_outliers(o, "o_orderpriority", "cents").orderBy(
        "o_orderpriority"
    )


def q_robust_outliers_oracle():
    return """
WITH v AS (
  SELECT o_orderpriority AS g, CAST(floor(o_totalprice * 1.0e2) AS BIGINT) AS x
  FROM orders),
r1 AS (
  SELECT g, x,
         row_number() OVER (PARTITION BY g ORDER BY x) - 1 AS rn,
         count(*) OVER (PARTITION BY g) AS n
  FROM v),
med AS (SELECT g, x AS med FROM r1 WHERE rn = (n - 1) // 2),
dev AS (SELECT v.g, v.x, abs(v.x - m.med) AS dv, m.med FROM v JOIN med m ON m.g = v.g),
r2 AS (
  SELECT g, dv,
         row_number() OVER (PARTITION BY g ORDER BY dv) - 1 AS rn,
         count(*) OVER (PARTITION BY g) AS n
  FROM dev),
mad AS (SELECT g, dv AS mad FROM r2 WHERE rn = (n - 1) // 2),
fl AS (
  SELECT d.g, d.x, d.med, a.mad,
         CASE WHEN 2 * d.dv > 7 * a.mad THEN 1 ELSE 0 END AS o
  FROM dev d JOIN mad a ON a.g = d.g)
SELECT g AS o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       CAST(min(med) AS BIGINT) AS med, CAST(min(mad) AS BIGINT) AS mad,
       CAST(sum(o) AS BIGINT) AS n_outliers,
       CAST(sum(o * x) AS BIGINT) AS outlier_sum
FROM fl GROUP BY 1 ORDER BY 1"""


def q_interval_union(spark, sf_dir):
    """Interval merging per key (timeseries.interval_union): synthesized
    event intervals (start = epoch seconds, duration 600 + id%900 s)
    merged when touching/overlapping — the classic ONE-window-pass
    formulation (new-group flag = start > running max end, group id =
    running flag sum), no self-join, one shuffle."""
    from .operators.timeseries import interval_union

    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000").alias("s"),
    ).withColumn("e", F.col("s") + 600 + F.col("user_id") % 900)
    iv = ev.select("user_id", "s", "e")
    return interval_union(iv).orderBy("user_id", "m_start", "m_end")


def q_interval_union_oracle():
    from .operators.timeseries import interval_union_sql

    base = (
        "SELECT user_id, epoch_us(ts) // 1000000 AS s, "
        "epoch_us(ts) // 1000000 + 600 + user_id % 900 AS e FROM events"
    )
    return (
        "SELECT * FROM ("
        + interval_union_sql(base)
        + ") ORDER BY user_id, m_start, m_end"
    )


def q_hll_grouped(spark, sf_dir):
    """Per-group HLL sketches (sketches.hll_registers_grouped, p=6): one
    fixed-size distinct-count state per order priority over customer
    keys — 64 registers per group, bit-for-bit; the grouped form of the
    hll_registers gate."""
    from .operators.sketches import hll_registers_grouped

    o = _read(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    return hll_registers_grouped(
        o, "o_orderpriority", "o_custkey", p=6
    ).orderBy("o_orderpriority", "reg")


def q_hll_grouped_oracle():
    from .operators.sketches import hll_registers_grouped_sql

    return (
        "SELECT * FROM ("
        + hll_registers_grouped_sql("o_orderpriority", "o_custkey", p=6, rel="orders")
        + ") ORDER BY o_orderpriority, reg"
    )


def q_data_profile(spark, sf_dir):
    """Single-pass table profiling (quality.profile_table, deequ-style):
    per-column row/null/exact-distinct counts + min/max (value for
    numerics, length for strings) over orders — ONE scan (all metrics in
    one aggregation); at 100 TB the exact distincts become the HLL/KMV
    sketches (documented)."""
    from .operators.quality import profile_table

    o = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return profile_table(
        o,
        [("o_orderkey", True), ("o_custkey", True), ("o_orderstatus", False),
         ("o_orderpriority", False), ("cents", True)],
    ).orderBy("col")


def q_data_profile_oracle():
    arms = []
    for name, numeric in [
        ("o_orderkey", True), ("o_custkey", True), ("o_orderstatus", False),
        ("o_orderpriority", False), ("cents", True),
    ]:
        metric = name if numeric else f"length({name})"
        arms.append(f"""SELECT '{name}' AS col, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {name}) AS BIGINT) AS n_distinct,
       CAST(min({metric}) AS BIGINT) AS min_q,
       CAST(max({metric}) AS BIGINT) AS max_q
FROM t""")
    u = "\nUNION ALL\n".join(arms)
    return f"""
WITH t AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
         CAST(floor(o_totalprice * 1.0e2) AS BIGINT) AS cents
  FROM orders)
SELECT * FROM ({u}) ORDER BY col"""


def q_data_quality(spark, sf_dir):
    """Constraint suite (quality.check_constraints): referential
    integrity (orders.o_custkey ⊆ customer.c_custkey via left-anti
    count), key uniqueness, range and completeness checks — one row of
    exact violation counts.  A synthetic violation set (customers with
    c_custkey % 97 == 0 removed from the dimension) guarantees non-zero
    orphans so the check is live."""
    from .operators.quality import check_constraints

    o = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = _read(spark, sf_dir, "customer").filter(F.col("c_custkey") % 97 != 0)
    return check_constraints(
        o, c, "o_custkey", "c_custkey", "o_orderkey", "cents",
        lo=0, hi=50_000_000,
    )


def q_data_quality_oracle():
    return """
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(floor(o_totalprice * 1.0e2) AS BIGINT) AS cents
  FROM orders),
d AS (SELECT DISTINCT c_custkey FROM customer WHERE c_custkey % 97 <> 0)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM o) AS n,
  (SELECT CAST(count(*) AS BIGINT) FROM o
   WHERE o_custkey NOT IN (SELECT c_custkey FROM d)) AS orphans,
  (SELECT CAST(count(*) AS BIGINT) FROM (
     SELECT o_orderkey FROM o GROUP BY 1 HAVING count(*) > 1)) AS dup_keys,
  (SELECT CAST(sum(CASE WHEN cents < 0 OR cents > 50000000 THEN 1 ELSE 0 END) AS BIGINT)
   FROM o) AS out_of_range,
  (SELECT CAST(sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
   FROM o) AS nulls"""


def q_changepoint(spark, sf_dir):
    """Least-squares changepoint per user (timeseries.changepoint): the
    split minimizing SSE_l + SSE_r found as the argmax of the exact
    int64 fraction (S_l^2 n_r + S_r^2 n_l) / (n_l n_r) — pure window
    codegen (prefix sums + argmax), ties -> smallest split.  The signal
    is the quantized event longitude, so segment means genuinely shift
    per user."""
    from .operators.timeseries import changepoint

    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    lon, _ = point_lonlat_cols("event_id")
    pts = ev.select(
        "user_id", "event_id", "ts",
        F.floor(lon * 100).cast("long").alias("x"),
    )
    return changepoint(pts).orderBy("user_id")


def q_changepoint_oracle():
    from .operators.timeseries import changepoint_sql

    base = (
        "SELECT user_id, event_id, ts, "
        f"CAST(floor(({synth.point_lon_sql('event_id')}) * 1.0e2) AS BIGINT) AS x "
        "FROM events WHERE event_id < 4000"
    )
    return (
        "SELECT * FROM ("
        + changepoint_sql(base)
        + ") ORDER BY user_id"
    )


# ================================================================ registry

_BOX_IMAGES = 157


def _boxes_df(spark, sf_dir):
    """Deterministic detection boxes synthesized from orders (formula shared
    with the oracle): integer half-open rectangles in a 480+136 px frame."""
    oid = F.col("o_orderkey")
    x1 = oid * 37 % 480
    y1 = oid * 61 % 480
    return _read(spark, sf_dir, "orders").select(
        (oid % _BOX_IMAGES).alias("image_id"),
        oid.alias("box_id"),
        x1.alias("x1"),
        y1.alias("y1"),
        (x1 + 16 + oid * 13 % 120).alias("x2"),
        (y1 + 16 + oid * 29 % 120).alias("y2"),
        (oid * 97 % 1000).alias("score"),
    )


_BOXES_SQL = f"""
SELECT o_orderkey % {_BOX_IMAGES} AS image_id, o_orderkey AS box_id,
       o_orderkey * 37 % 480 AS x1, o_orderkey * 61 % 480 AS y1,
       o_orderkey * 37 % 480 + 16 + o_orderkey * 13 % 120 AS x2,
       o_orderkey * 61 % 480 + 16 + o_orderkey * 29 % 120 AS y2,
       o_orderkey * 97 % 1000 AS score
FROM orders"""


def q_nms_boxes(spark, sf_dir):
    """Greedy per-image non-maximum suppression (boxes.nms): detection
    labels deduplicated at IoU > 1/2 in (score DESC, box_id) order — exact
    int64 area arithmetic, applyInPandas per image (embarrassingly
    parallel), oracle replays the greedy recurrence as a lockstep
    recursive CTE carrying the kept-prefix as a list of structs."""
    from .operators.boxes import nms

    return nms(_boxes_df(spark, sf_dir), iou_num=1, iou_den=2).orderBy(
        "image_id", "box_id"
    )


def q_nms_boxes_oracle():
    from .operators.boxes import nms_sql

    return (
        "SELECT * FROM ("
        + nms_sql(_BOXES_SQL, iou_num=1, iou_den=2)
        + ") ORDER BY image_id, box_id"
    )


def q_box_iou_join(spark, sf_dir):
    """IoU join between predicted and ground-truth boxes (boxes.iou_join):
    one equi-join on image_id + codegen integer IoU filter (cross-multiplied
    rational threshold, no division) — the evaluation/pseudo-label matching
    primitive of a detection-labeled corpus."""
    from .operators.boxes import iou_join

    b = _boxes_df(spark, sf_dir)
    pred = b.filter(F.col("box_id") % 2 == 0)
    gt = b.filter(F.col("box_id") % 2 == 1)
    return iou_join(pred, gt, iou_num=1, iou_den=4).orderBy(
        "image_id", "pred_id", "gt_id"
    )


def q_box_iou_join_oracle():
    return f"""
WITH b AS ({_BOXES_SQL}),
p AS (SELECT * FROM b WHERE box_id % 2 = 0),
g AS (SELECT * FROM b WHERE box_id % 2 = 1),
j AS (
  SELECT p.image_id, p.box_id AS pred_id, g.box_id AS gt_id,
         greatest(0, least(p.x2, g.x2) - greatest(p.x1, g.x1))
         * greatest(0, least(p.y2, g.y2) - greatest(p.y1, g.y1)) AS inter,
         (p.x2 - p.x1) * (p.y2 - p.y1) + (g.x2 - g.x1) * (g.y2 - g.y1)
         - greatest(0, least(p.x2, g.x2) - greatest(p.x1, g.x1))
           * greatest(0, least(p.y2, g.y2) - greatest(p.y1, g.y1)) AS uni
  FROM p JOIN g ON g.image_id = p.image_id)
SELECT * FROM j WHERE 4 * inter >= uni
ORDER BY image_id, pred_id, gt_id"""


def q_str_partition(spark, sf_dir):
    """STR balanced spatial partitioning (partitioning.str_partition):
    8x4 sort-tile-recursive grid over the skewed event points — every
    partition's row count equal up to +-1 regardless of skew; membership
    pinned by per-part id sums.  Assignment is pure ntile over a total
    order, so the oracle replicates it exactly."""
    from .operators.partitioning import str_partition

    pts = _events_points(spark, sf_dir)
    return (
        str_partition(pts, "lon", "lat", nx=8, ny=4, id_col="event_id")
        .groupBy("part_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("event_id").alias("id_sum"),
            F.min("slice_x").alias("sx"),
            F.min("slice_y").alias("sy"),
        )
        .orderBy("part_id")
    )


def q_str_partition_oracle():
    from .operators.partitioning import str_partition_sql

    return (
        "SELECT part_id, CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(event_id) AS BIGINT) AS id_sum, "
        "CAST(min(slice_x) AS INT) AS sx, CAST(min(slice_y) AS INT) AS sy "
        "FROM ("
        + str_partition_sql(_points_sql(), "lon", "lat", 8, 4, "event_id")
        + ") GROUP BY part_id ORDER BY part_id"
    )


def q_acf(spark, sf_dir):
    """Lag-k autocorrelation per user (timeseries.acf_int, lags 1-4):
    centered autocovariance and variance scaled by n^2 so the whole
    statistic is exact int64 rational (no float anywhere) — one window
    pass for all leads, one (key, lag) shuffle."""
    from .operators.timeseries import acf_int

    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("x"),
    )
    return acf_int(ev, "user_id", "event_id", "x").orderBy("user_id", "lag")


def q_acf_oracle():
    from .operators.timeseries import acf_int_sql

    base = (
        "SELECT user_id, event_id, "
        "CAST(floor(value * 1.0e2) AS BIGINT) AS x FROM events"
    )
    return (
        "SELECT * FROM ("
        + acf_int_sql(base, "user_id", "event_id", "x")
        + ") ORDER BY user_id, lag"
    )


_BM25_QUERIES = {
    1: ("spark", "join", "window"),
    2: ("data", "table", "scan"),
    3: ("vector", "hash"),
}


def q_bm25_topk(spark, sf_dir):
    """Okapi BM25 ranked retrieval (textops.bm25_topk, k1=6/5, b=3/4):
    top-10 documents per query — the length-normalized term factor is an
    exact integer fraction (rational k1/b multiplied through by 10*total),
    only the idf ln() is floating point and it is floor-quantized BEFORE
    the order-independent integer sum (the tf-idf 1-ulp lesson)."""
    from .operators.textops import bm25_topk

    return bm25_topk(
        _read(spark, sf_dir, "documents"), _BM25_QUERIES, k=10
    ).orderBy("qid", "rank")


def q_bm25_topk_oracle():
    from .operators.textops import bm25_topk_sql

    return (
        "SELECT * FROM ("
        + bm25_topk_sql(_BM25_QUERIES, k=10)
        + ") ORDER BY qid, rank"
    )


def _kcore_raw_sql() -> str:
    return """
SELECT CAST(doc_id AS BIGINT) AS a,
       (CAST(doc_id AS BIGINT) + 1) % (SELECT count(*) FROM documents) AS b
FROM documents
UNION ALL
SELECT CAST(doc_id AS BIGINT),
       (CAST(doc_id AS BIGINT) * 7 + 11) % (SELECT count(*) FROM documents)
FROM documents WHERE doc_id % 3 = 0
UNION ALL
SELECT CAST(doc_id AS BIGINT), (CAST(doc_id AS BIGINT) + 2) % 40
FROM documents WHERE doc_id < 40
UNION ALL
SELECT CAST(doc_id AS BIGINT), (CAST(doc_id AS BIGINT) + 11) % 40
FROM documents WHERE doc_id < 40
UNION ALL
SELECT CAST(doc_id AS BIGINT), (CAST(doc_id AS BIGINT) + 17) % 40
FROM documents WHERE doc_id < 40"""


def q_kcore(spark, sf_dir):
    """k-core decomposition (graph.k_core, k=3): iterative peel of the
    ring+chords+dense-subset formula graph — the cascade strips the ring,
    the 40-node dense block survives with its in-core degrees.  Per round
    one degree agg + two semi-joins, one driver scalar, localCheckpoint
    lineage truncation; oracle unrolls the peel as chained CTEs
    (idempotent once converged, the pagerank pattern)."""
    from .operators.graph import k_core

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("i")
    )
    n = docs.count()
    i = F.col("i")
    e1 = docs.select(i.alias("a"), ((i + 1) % n).alias("b"))
    e2 = docs.filter(i % 3 == 0).select(
        i.alias("a"), ((i * 7 + 11) % n).alias("b")
    )
    e3 = docs.filter(i < 40).select(
        i.alias("a"),
        F.explode(
            F.array((i + 2) % 40, (i + 11) % 40, (i + 17) % 40)
        ).alias("b"),
    )
    edges = e1.union(e2).union(e3)
    return k_core(edges, k=3).orderBy("node")


def q_kcore_oracle():
    from .operators.graph import k_core_sql

    raw = _kcore_raw_sql()
    sym = f"""
SELECT DISTINCT u, v FROM (
  SELECT a AS u, b AS v FROM ({raw}) r1
  UNION ALL
  SELECT b, a FROM ({raw}) r2) t
WHERE u <> v"""
    return (
        "SELECT * FROM ("
        + k_core_sql(sym, k=3, rounds=12)
        + ") ORDER BY node"
    )


_FRECHET_Q = "0.12345678987"
_FRECHET_CAP = 30


def _traj_pts_df(spark, sf_dir, cap=_FRECHET_CAP):
    """Per-user event tracks, first ``cap`` points, coords int64 @ 1e5."""
    from pyspark.sql import Window

    lon, lat = point_lonlat_cols("event_id")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return (
        _read(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            F.floor(lon * 1e5 + float(_FRECHET_Q)).cast("long").alias("qx"),
            F.floor(lat * 1e5 + float(_FRECHET_Q)).cast("long").alias("qy"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
    )


def _traj_pairs_df(pts):
    users = pts.select("user_id").distinct()
    return (
        users.filter(F.col("user_id") % 2 == 0)
        .select(F.col("user_id").alias("a"), (F.col("user_id") + 1).alias("b"))
        .join(users.withColumnRenamed("user_id", "b"), "b", "semi")
    )


def _traj_pts_sql(cap=_FRECHET_CAP):
    return f"""
SELECT user_id AS k, rn AS o, qx AS x, qy AS y FROM (
  SELECT user_id,
         CAST(floor(({synth.point_lon_sql('event_id')}) * 1.0e5
                    + {_FRECHET_Q}) AS BIGINT) AS qx,
         CAST(floor(({synth.point_lat_sql('event_id')}) * 1.0e5
                    + {_FRECHET_Q}) AS BIGINT) AS qy,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events) t
WHERE rn <= {cap}"""


_TRAJ_PAIRS_SQL = """
SELECT u.user_id AS a, u.user_id + 1 AS b
FROM (SELECT DISTINCT user_id FROM events) u
WHERE u.user_id % 2 = 0
  AND EXISTS (SELECT 1 FROM events e WHERE e.user_id = u.user_id + 1)"""


def q_frechet_pairs(spark, sf_dir):
    """Trajectory similarity join (trajectory.frechet_join): squared
    discrete Fréchet distance between consecutive users' event tracks
    (first 30 points each, coordinates floor-quantized to int64 at 1e5)
    — exact integer min/max DP swept by anti-diagonal (O(na+nb) numpy
    rounds per pair), oracle replays the identical diagonal recurrence
    as a lockstep recursive CTE carrying two LIST columns."""
    from .operators.trajectory import frechet_join

    pts = _traj_pts_df(spark, sf_dir)
    return frechet_join(
        pts, _traj_pairs_df(pts), key_col="user_id", order_col="rn",
        x_col="qx", y_col="qy",
    ).orderBy("a")


def q_frechet_pairs_oracle():
    from .operators.trajectory import frechet_join_sql

    return (
        "SELECT * FROM ("
        + frechet_join_sql(_traj_pts_sql(), _TRAJ_PAIRS_SQL)
        + ") ORDER BY a"
    )


def q_dtw_pairs(spark, sf_dir):
    """Dynamic time warping join (trajectory.dtw_join): the Fréchet DP
    with SUM in place of MAX — same anti-diagonal sweep, same lockstep
    diagonal oracle; int64 cost sums stay far below 2^63 at the 1e5
    quantization and 30-point cap."""
    from .operators.trajectory import dtw_join

    pts = _traj_pts_df(spark, sf_dir)
    return dtw_join(
        pts, _traj_pairs_df(pts), key_col="user_id", order_col="rn",
        x_col="qx", y_col="qy",
    ).orderBy("a")


def q_dtw_pairs_oracle():
    from .operators.trajectory import dtw_join_sql

    return (
        "SELECT * FROM ("
        + dtw_join_sql(_traj_pts_sql(), _TRAJ_PAIRS_SQL)
        + ") ORDER BY a"
    )


def q_hausdorff_pairs(spark, sf_dir):
    """Symmetric squared Hausdorff distance join (trajectory.
    hausdorff_join): max-over-min of exact int64 squared distances —
    no DP, one bounded per-pair cross product + two keyed aggregations,
    all codegen."""
    from .operators.trajectory import hausdorff_join

    pts = _traj_pts_df(spark, sf_dir)
    return hausdorff_join(
        pts, _traj_pairs_df(pts), key_col="user_id",
        x_col="qx", y_col="qy",
    ).orderBy("a")


def q_hausdorff_pairs_oracle():
    from .operators.trajectory import hausdorff_join_sql

    return (
        "SELECT * FROM ("
        + hausdorff_join_sql(_traj_pts_sql(), _TRAJ_PAIRS_SQL)
        + ") ORDER BY a"
    )


_LR_FRACS = [(1, 3), (3, 7), (9, 10)]


def q_line_interpolate(spark, sf_dir):
    """Linear referencing (linear_ref.line_interpolate_points): the
    ST_LineInterpolatePoint analog at rational fractions 1/3, 3/7, 9/10
    of each user's event polyline — pure window codegen, segment lengths
    int64-quantized right after the one correctly-rounded sqrt so the
    running sums and the segment pick are exact integer comparisons."""
    from pyspark.sql import Window

    from .functions.linear_ref import line_interpolate_points

    lon, lat = point_lonlat_cols("event_id")
    w = Window.partitionBy("user_id").orderBy("event_id")
    pts = (
        _read(spark, sf_dir, "events")
        .select(
            F.col("user_id").alias("k"),
            "event_id",
            F.floor(lon * 1e5 + float(_FRECHET_Q)).cast("long").alias("x"),
            F.floor(lat * 1e5 + float(_FRECHET_Q)).cast("long").alias("y"),
        )
        .withColumn(
            "o",
            F.row_number().over(
                Window.partitionBy("k").orderBy("event_id")
            ),
        )
        .filter(F.col("o") <= 8)
    )
    return line_interpolate_points(pts, _LR_FRACS).orderBy("k", "p", "q")


def q_line_interpolate_oracle():
    from .functions.linear_ref import line_interpolate_sql

    pts = f"""
SELECT user_id AS k, rn AS o, qx AS x, qy AS y FROM (
  SELECT user_id,
         CAST(floor(({synth.point_lon_sql('event_id')}) * 1.0e5
                    + {_FRECHET_Q}) AS BIGINT) AS qx,
         CAST(floor(({synth.point_lat_sql('event_id')}) * 1.0e5
                    + {_FRECHET_Q}) AS BIGINT) AS qy,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events) t
WHERE rn <= 8"""
    return (
        "SELECT * FROM ("
        + line_interpolate_sql(pts, _LR_FRACS)
        + ") ORDER BY k, p, q"
    )


def q_box_letterbox(spark, sf_dir):
    """Letterbox label remap (boxes.letterbox_boxes to 640x640): every box
    follows the aspect-preserving rational scale min(W/w, H/h) chosen by
    integer cross-comparison + floor-div + centered pad + canvas clamp —
    the label-side twin of resize_to_bucket, bit-replicable in SQL."""
    from .operators.boxes import letterbox_boxes

    b = _boxes_df(spark, sf_dir)
    img = F.col("image_id")
    dims = (
        b.select("image_id").distinct().select(
            "image_id",
            (320 + img * 17 % 640).alias("w"),
            (240 + img * 23 % 480).alias("h"),
        )
    )
    return letterbox_boxes(b, dims, 640, 640).orderBy("image_id", "box_id")


def q_box_letterbox_oracle():
    from .operators.boxes import letterbox_boxes_sql

    dims = f"""
SELECT image_id, 320 + image_id * 17 % 640 AS w,
       240 + image_id * 23 % 480 AS h
FROM (SELECT DISTINCT o_orderkey % {_BOX_IMAGES} AS image_id FROM orders) t"""
    return (
        "SELECT * FROM ("
        + letterbox_boxes_sql(_BOXES_SQL, dims, 640, 640)
        + ") ORDER BY image_id, box_id"
    )


def q_quadkey(spark, sf_dir):
    """Bing quadkey encoding (transforms.quadkey_col, zoom 8): slippy
    tiles -> base-4 digit strings, pure shift/mod codegen; membership
    pinned per quadkey by count + event-id sum."""
    from .functions.spark_exprs import tile_cols
    from .functions.transforms import quadkey_col

    pts = _events_points(spark, sf_dir)
    tx, ty = tile_cols(F.col("lon"), F.col("lat"), 8)
    return (
        pts.select("event_id", quadkey_col(tx, ty, 8).alias("qk"))
        .groupBy("qk")
        .agg(F.count("*").alias("n"), F.sum("event_id").alias("id_sum"))
        .orderBy("qk")
    )


def q_quadkey_oracle():
    from .functions.transforms import quadkey_sql, tile_sql

    tx, ty = tile_sql(
        synth.point_lon_sql("event_id"), synth.point_lat_sql("event_id"), 8
    )
    return f"""
SELECT qk, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(event_id) AS BIGINT) AS id_sum
FROM (SELECT event_id, {quadkey_sql(tx, ty, 8)} AS qk FROM events) t
GROUP BY qk ORDER BY qk"""


def q_rolling_median(spark, sf_dir):
    """Exact rolling median (timeseries.rolling_median, width 7): the
    trailing-window median as a sorted-multiset element — width-bounded
    band self-join + one rank window, bit-replicable for integer cents."""
    from .operators.timeseries import rolling_median

    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    return rolling_median(ev, "user_id", "event_id", "cents", width=7).orderBy(
        "k", "o"
    )


def q_rolling_median_oracle():
    from .operators.timeseries import rolling_median_sql

    base = (
        "SELECT user_id, event_id, "
        "CAST(floor(value * 1.0e2) AS BIGINT) AS cents FROM events"
    )
    return (
        "SELECT * FROM ("
        + rolling_median_sql(base, "user_id", "event_id", "cents", width=7)
        + ") ORDER BY k, o"
    )


def q_token_entropy(spark, sf_dir):
    """Token-distribution entropy per document (textops.token_entropy):
    the vocabulary-diversity quality signal — per-term contributions
    floor-quantized before the order-independent integer sum."""
    from .operators.textops import token_entropy

    return token_entropy(_read(spark, sf_dir, "documents")).orderBy("doc_id")


def q_token_entropy_oracle():
    from .operators.textops import token_entropy_sql

    return (
        "SELECT * FROM (" + token_entropy_sql() + ") ORDER BY doc_id"
    )


def q_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend per user (analytics.theil_sen, cap 25):
    median of pairwise slopes picked as a sorted-multiset element under a
    total order ending in integer tiebreaks — the robust-regression
    companion of robust_outliers/changepoint."""
    from .operators.analytics import theil_sen

    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    return theil_sen(ev, "user_id", "event_id", "cents", cap=25).orderBy("k")


def q_theil_sen_oracle():
    from .operators.analytics import theil_sen_sql

    base = (
        "SELECT user_id, event_id, "
        "CAST(floor(value * 1.0e2) AS BIGINT) AS cents FROM events"
    )
    return (
        "SELECT * FROM ("
        + theil_sen_sql(base, "user_id", "event_id", "cents", cap=25)
        + ") ORDER BY k"
    )


def q_cube_agg(spark, sf_dir):
    """CUBE grouping sets (native cube() + grouping flags): all four
    aggregation levels over (priority, status) in one pass, exact integer
    cents — the ROLLUP gate's lattice-complete sibling."""
    o = _read(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping("o_orderpriority").cast("long").alias("g_pri"),
            F.grouping("o_orderstatus").cast("long").alias("g_st"),
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("total_cents"),
        )
        .select(
            "g_pri", "g_st", "o_orderpriority", "o_orderstatus",
            "n", "total_cents",
        )
        .orderBy("g_pri", "g_st", "o_orderpriority", "o_orderstatus")
    )


def q_cube_agg_oracle():
    return """
SELECT CAST(grouping(o_orderpriority) AS BIGINT) AS g_pri,
       CAST(grouping(o_orderstatus) AS BIGINT) AS g_st,
       o_orderpriority, o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(o_totalprice * 1.0e2) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
ORDER BY g_pri, g_st, o_orderpriority, o_orderstatus"""


_STATS_BASE_SQL = (
    "SELECT user_id, event_id, "
    "CAST(floor(value * 1.0e2) AS BIGINT) AS cents FROM events"
)


def _stats_base_df(spark, sf_dir):
    return _read(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )


def q_ols_trend(spark, sf_dir):
    """Exact-rational least-squares trend per user (analytics.ols_trend):
    slope and intercept as integer numerator/denominator pairs from one
    rank window + one aggregation — the closed-form companion of the
    pairwise theil_sen."""
    from .operators.analytics import ols_trend

    return ols_trend(
        _stats_base_df(spark, sf_dir), "user_id", "event_id", "cents"
    ).orderBy("k")


def q_ols_trend_oracle():
    from .operators.analytics import ols_trend_sql

    return (
        "SELECT * FROM ("
        + ols_trend_sql(_STATS_BASE_SQL, "user_id", "event_id", "cents")
        + ") ORDER BY k"
    )


def q_rank_sum(spark, sf_dir):
    """Mann-Whitney U per order priority (analytics.rank_sum_u):
    doubled tie-corrected rank sums keep the statistic exact int64;
    groups = finished vs open orders."""
    from .operators.analytics import rank_sum_u

    o = _read(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("g"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return rank_sum_u(o, "o_orderpriority", "g", "cents").orderBy("k")


def q_rank_sum_oracle():
    from .operators.analytics import rank_sum_u_sql

    base = (
        "SELECT o_orderpriority, "
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS g, "
        "CAST(floor(o_totalprice * 1.0e2) AS BIGINT) AS cents FROM orders"
    )
    return (
        "SELECT * FROM ("
        + rank_sum_u_sql(base, "o_orderpriority", "g", "cents")
        + ") ORDER BY k"
    )


def q_group_mode(spark, sf_dir):
    """Deterministic mode per user (analytics.group_mode) over
    coarse-bucketed cents (div 1000) so frequency ties exercise the
    smallest-value tie-break."""
    from .operators.analytics import group_mode

    ev = _stats_base_df(spark, sf_dir).select(
        "user_id", F.expr("cents div 1000").alias("bucket")
    )
    return group_mode(ev, "user_id", "bucket").orderBy("k")


def q_group_mode_oracle():
    from .operators.analytics import group_mode_sql

    base = (
        "SELECT user_id, CAST(floor(value * 1.0e2) AS BIGINT) // 1000"
        " AS bucket FROM events"
    )
    return (
        "SELECT * FROM ("
        + group_mode_sql(base, "user_id", "bucket")
        + ") ORDER BY k"
    )


def q_weighted_median(spark, sf_dir):
    """Weighted lower median per priority (analytics.weighted_median):
    smallest value whose running weight reaches half the total — exact
    int64 comparisons; the picked VALUE is invariant to tie order inside
    the running-sum frame (weights of equal values aggregate)."""
    from .operators.analytics import weighted_median

    o = _read(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (1 + F.col("o_orderkey") % 7).alias("wt"),
    )
    return weighted_median(o, "o_orderpriority", "cents", "wt").orderBy("k")


def q_weighted_median_oracle():
    from .operators.analytics import weighted_median_sql

    base = (
        "SELECT o_orderpriority, "
        "CAST(floor(o_totalprice * 1.0e2) AS BIGINT) AS cents, "
        "1 + o_orderkey % 7 AS wt FROM orders"
    )
    return (
        "SELECT * FROM ("
        + weighted_median_sql(base, "o_orderpriority", "cents", "wt")
        + ") ORDER BY k"
    )


def q_rle_segments(spark, sf_dir):
    """Run-length encoding of per-user event-type sequences
    (analytics.rle_segments): maximal runs of equal consecutive states by
    the one-window-pass change-flag formulation."""
    from .operators.analytics import rle_segments

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type"
    )
    return rle_segments(ev, "user_id", "event_id", "event_type").orderBy(
        "k", "seg"
    )


def q_rle_segments_oracle():
    from .operators.analytics import rle_segments_sql

    base = "SELECT user_id, event_id, event_type FROM events"
    return (
        "SELECT * FROM ("
        + rle_segments_sql(base, "user_id", "event_id", "event_type")
        + ") ORDER BY k, seg"
    )


def q_scd2(spark, sf_dir):
    """SCD type-2 history from the event change log (analytics.
    scd2_intervals): consecutive duplicate states collapse, each version
    valid until the next change, last version open-ended."""
    from .operators.analytics import scd2_intervals

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type"
    )
    return scd2_intervals(
        ev, "user_id", "event_id", ["event_type"]
    ).orderBy("k", "valid_from")


def q_scd2_oracle():
    from .operators.analytics import scd2_intervals_sql

    base = "SELECT user_id, event_id, event_type FROM events"
    return (
        "SELECT * FROM ("
        + scd2_intervals_sql(base, "user_id", "event_id", ["event_type"])
        + ") ORDER BY k, valid_from"
    )


def q_corr_pairs(spark, sf_dir):
    """Pearson correlation per user (analytics.corr_moments): covariance
    and variances as exact n^2-scaled int64 moments from ONE aggregation;
    only the final normalize (multiply, sqrt, divide) is FP and it is
    floor-quantized."""
    from .operators.analytics import corr_moments

    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("value") * 100).cast("long").alias("x"),
        (F.col("event_id") * 7 % 1000).alias("y"),
    )
    return corr_moments(ev, "user_id", "x", "y").orderBy("k")


def q_corr_pairs_oracle():
    from .operators.analytics import corr_moments_sql

    base = (
        "SELECT user_id, CAST(floor(value * 1.0e2) AS BIGINT) AS x, "
        "event_id * 7 % 1000 AS y FROM events"
    )
    return (
        "SELECT * FROM ("
        + corr_moments_sql(base, "user_id", "x", "y")
        + ") ORDER BY k"
    )


def q_gini(spark, sf_dir):
    """Gini concentration of order totals per priority (analytics.gini):
    exact int64 rational from one rank window + one aggregation."""
    from .operators.analytics import gini

    o = _read(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    return gini(o, "o_orderpriority", "cents", "o_orderkey").orderBy("k")


def q_gini_oracle():
    from .operators.analytics import gini_sql

    base = (
        "SELECT o_orderpriority, "
        "CAST(floor(o_totalprice * 1.0e2) AS BIGINT) AS cents, "
        "o_orderkey FROM orders"
    )
    return (
        "SELECT * FROM ("
        + gini_sql(base, "o_orderpriority", "cents", "o_orderkey")
        + ") ORDER BY k"
    )


def q_matmul(spark, sf_dir):
    """Distributed sparse matmul (embeddings.sparse_matmul): COO triples
    synthesized from orders x customer, ONE equi-join on the contraction
    index + map-side-combined (i, j) aggregation — the canonical shuffle
    shape, exact int64."""
    from .operators.embeddings import sparse_matmul

    ok = F.col("o_orderkey")
    ck = F.col("c_custkey")
    a = _read(spark, sf_dir, "orders").select(
        (ok % 13).alias("i"), (ok % 17).alias("k"), (ok % 5 + 1).alias("v")
    )
    b = _read(spark, sf_dir, "customer").select(
        (ck % 17).alias("k"), (ck % 11).alias("j"), (ck % 7 + 1).alias("w")
    )
    return sparse_matmul(a, b).orderBy("i", "j")


def q_matmul_oracle():
    from .operators.embeddings import sparse_matmul_sql

    a = (
        "SELECT o_orderkey % 13 AS i, o_orderkey % 17 AS k, "
        "o_orderkey % 5 + 1 AS v FROM orders"
    )
    b = (
        "SELECT c_custkey % 17 AS k, c_custkey % 11 AS j, "
        "c_custkey % 7 + 1 AS w FROM customer"
    )
    return (
        "SELECT * FROM (" + sparse_matmul_sql(a, b) + ") ORDER BY i, j"
    )


def q_isotonic(spark, sf_dir):
    """Isotonic regression per user (timeseries.isotonic_fit): PAVA over
    the event cent series — blocks of the monotone least-squares fit with
    exact rational means; oracle replays PAVA as a lockstep recursive-CTE
    event loop (merge-or-consume per round, keys drop out when done)."""
    from .operators.timeseries import isotonic_fit

    return isotonic_fit(
        _stats_base_df(spark, sf_dir), "user_id", "event_id", "cents"
    ).orderBy("k", "blk")


def q_isotonic_oracle():
    from .operators.timeseries import isotonic_fit_sql

    base = (
        "SELECT user_id AS k, event_id AS o, "
        "CAST(floor(value * 1.0e2) AS BIGINT) AS y FROM events"
    )
    return (
        "SELECT * FROM (" + isotonic_fit_sql(base) + ") ORDER BY k, blk"
    )


def q_kendall_tau(spark, sf_dir):
    """Kendall rank-correlation counts per user (analytics.kendall_tau,
    cap 25): exact concordant/discordant/tied pair counts from the capped
    band self-join — tau-a/tau-b derive from the counts."""
    from .operators.analytics import kendall_tau

    return kendall_tau(
        _stats_base_df(spark, sf_dir), "user_id", "event_id", "cents", cap=25
    ).orderBy("k")


def q_kendall_tau_oracle():
    from .operators.analytics import kendall_tau_sql

    return (
        "SELECT * FROM ("
        + kendall_tau_sql(
            _STATS_BASE_SQL, "user_id", "event_id", "cents", cap=25
        )
        + ") ORDER BY k"
    )


def q_spearman(spark, sf_dir):
    """Spearman rank correlation per user (analytics.spearman_rho):
    doubled tie-corrected average ranks into the exact Pearson moments —
    monotone-invariant by construction."""
    from .operators.analytics import spearman_rho

    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("value") * 100).cast("long").alias("x"),
        (F.col("event_id") * 7 % 1000).alias("y"),
    )
    return spearman_rho(ev, "user_id", "x", "y").orderBy("k")


def q_spearman_oracle():
    from .operators.analytics import spearman_rho_sql

    base = (
        "SELECT user_id, CAST(floor(value * 1.0e2) AS BIGINT) AS x, "
        "event_id * 7 % 1000 AS y FROM events"
    )
    return (
        "SELECT * FROM ("
        + spearman_rho_sql(base, "user_id", "x", "y")
        + ") ORDER BY k"
    )


def q_chi2(spark, sf_dir):
    """Chi-squared contingency cells over (priority x status)
    (analytics.chi2_contingency): exact integer observed/marginal counts;
    the per-cell contribution (O*N - R*C)^2/(N*R*C) squared in double
    (int64-safe at scale) and floor-quantized."""
    from .operators.analytics import chi2_contingency

    o = _read(spark, sf_dir, "orders")
    return chi2_contingency(o, "o_orderpriority", "o_orderstatus").orderBy(
        "row_v", "col_v"
    )


def q_chi2_oracle():
    from .operators.analytics import chi2_contingency_sql

    return (
        "SELECT * FROM ("
        + chi2_contingency_sql(
            "SELECT o_orderpriority, o_orderstatus FROM orders",
            "o_orderpriority",
            "o_orderstatus",
        )
        + ") ORDER BY row_v, col_v"
    )


_SP_HOPS = 8


def q_shortest_paths(spark, sf_dir):
    """Bounded-hop single-source shortest paths (graph.shortest_paths,
    8 hops from node 0): distributed Bellman-Ford, one relax round per
    hop (join + min agg + localCheckpoint); the hop bound is part of the
    semantics so the oracle chains exactly the same number of
    MATERIALIZED relax rounds."""
    from .operators.graph import shortest_paths

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("i")
    )
    n = docs.count()
    i = F.col("i")
    edges = docs.select(
        i.alias("src"), ((i + 1) % n).alias("dst"), (1 + i % 5).alias("w")
    ).union(
        docs.filter(i % 3 == 0).select(
            i.alias("src"),
            ((i * 7 + 11) % n).alias("dst"),
            (3 + i % 7).alias("w"),
        )
    )
    return shortest_paths(edges, 0, hops=_SP_HOPS).orderBy("node")


def q_shortest_paths_oracle():
    from .operators.graph import shortest_paths_sql

    edges = """
SELECT CAST(doc_id AS BIGINT) AS s,
       (CAST(doc_id AS BIGINT) + 1) % (SELECT count(*) FROM documents) AS d,
       1 + CAST(doc_id AS BIGINT) % 5 AS w
FROM documents
UNION ALL
SELECT CAST(doc_id AS BIGINT),
       (CAST(doc_id AS BIGINT) * 7 + 11) % (SELECT count(*) FROM documents),
       3 + CAST(doc_id AS BIGINT) % 7
FROM documents WHERE doc_id % 3 = 0"""
    return (
        "SELECT * FROM ("
        + shortest_paths_sql(edges, 0, _SP_HOPS)
        + ") ORDER BY node"
    )


def q_bloom_join(spark, sf_dir):
    """Bloom-prefiltered semi-join (sketches.bloom_semi_join): orders
    whose customer is in the selective dim subset — the Bloom bitmap
    prunes the big side BEFORE the shuffle, the exact semi-join removes
    false positives, so the result equals the plain semi-join (which is
    the oracle).  Output aggregated per priority with id-sum pins."""
    from .operators.sketches import bloom_semi_join

    orders = _read(spark, sf_dir, "orders")
    dim = _read(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 9 == 0
    )
    out = bloom_semi_join(orders, dim, "o_custkey", "c_custkey")
    return (
        out.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), F.sum("o_orderkey").alias("id_sum"))
        .orderBy("o_orderpriority")
    )


def q_bloom_join_oracle():
    return """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS id_sum
FROM orders
WHERE EXISTS (SELECT 1 FROM customer
              WHERE c_custkey = o_custkey AND c_custkey % 9 = 0)
GROUP BY 1 ORDER BY 1"""


def q_url_parse(spark, sf_dir):
    """URL splitting (textops.url_parse): formula URLs synthesized per
    document, scheme/host/path/query/tld via the Java-RE2-identical
    regex subset — pure scan-cost codegen."""
    from .operators.textops import url_parse

    d = F.col("doc_id")
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://host"), (d % 7).cast("string"),
            F.lit(".example"), (d % 3).cast("string"),
            F.lit(".com/path"), (d % 11).cast("string"),
            F.when(d % 4 == 0, F.concat(F.lit("?q="), (d % 5).cast("string")))
            .otherwise(F.lit("")),
        ).alias("url"),
    )
    return url_parse(docs).orderBy("doc_id")


def q_url_parse_oracle():
    from .operators.textops import url_parse_sql

    base = """
SELECT doc_id,
       'https://host' || CAST(doc_id % 7 AS VARCHAR)
       || '.example' || CAST(doc_id % 3 AS VARCHAR)
       || '.com/path' || CAST(doc_id % 11 AS VARCHAR)
       || CASE WHEN doc_id % 4 = 0
               THEN '?q=' || CAST(doc_id % 5 AS VARCHAR) ELSE '' END AS url
FROM documents"""
    return "SELECT * FROM (" + url_parse_sql(base) + ") ORDER BY doc_id"


def q_calendar_agg(spark, sf_dir):
    """Calendar rollup (epoch-day integer arithmetic): orders per
    (dow, month-bucket) — day-of-week = (epoch_day + 4) % 7 and month
    bucket via explicit integer math, NOT the engines' calendar
    functions (whose week/dow conventions differ); exact cents totals."""
    o = _read(spark, sf_dir, "orders").select(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("long")
        .alias("ed"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return (
        o.select(
            ((F.col("ed") + 4) % 7).alias("dow"),
            F.expr("ed div 30").alias("mbucket"),
            "cents",
        )
        .groupBy("dow", "mbucket")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("total_cents"))
        .orderBy("dow", "mbucket")
    )


def q_calendar_agg_oracle():
    return """
SELECT (ed + 4) % 7 AS dow, ed // 30 AS mbucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM (
  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS ed,
         CAST(floor(o_totalprice * 1.0e2) AS BIGINT) AS cents
  FROM orders) t
GROUP BY 1, 2 ORDER BY 1, 2"""


def q_vector_ops(spark, sf_dir):
    """Higher-order array functions over the embeddings table: exact
    integer dot product and L1 norm of the 1e7-quantized vectors via
    F.aggregate/F.zip_with (JVM lambda codegen, the UDF-free vector
    path) vs DuckDB list lambdas."""
    e = _read(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1.0e7"
            " + 0.12345678987) AS BIGINT))"
        ).alias("q"),
    )
    return e.select(
        "id",
        F.expr(
            "aggregate(zip_with(q, reverse(q), (a, b) -> a * b),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("dot_rev"),
        F.expr(
            "aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + abs(x))"
        ).alias("l1"),
        F.size("q").alias("dim"),
    ).orderBy("id")


def q_vector_ops_oracle():
    return """
SELECT id,
       CAST(list_sum(list_transform(range(1, len(q) + 1),
            i -> q[i] * q[len(q) + 1 - i])) AS BIGINT) AS dot_rev,
       CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS l1,
       CAST(len(q) AS INT) AS dim
FROM (
  SELECT vec_id AS id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1.0e7
             + 0.12345678987) AS BIGINT)) AS q
  FROM embeddings) t
ORDER BY id"""


def q_json_extract(spark, sf_dir):
    """JSON field extraction from the events props column
    (get_json_object vs DuckDB json_extract): the scan-cost shape of
    every metadata-sidecar pipeline; exact integer aggregation of the
    extracted field."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
        .orderBy("user_id")
    )


def q_json_extract_oracle():
    return """
SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(k) AS BIGINT) AS k_sum,
       CAST(min(k) AS BIGINT) AS k_min,
       CAST(max(k) AS BIGINT) AS k_max
FROM (SELECT user_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events) t
GROUP BY 1 ORDER BY 1"""


def q_st_azimuth(spark, sf_dir):
    """ST_Azimuth (spherical forward bearing p1 -> p2): pure codegen trig
    with the identical expression text in both engines, floor-quantized
    at 1e9 with the irrational offset.  p1 = event point, p2 = the
    event's query point (both formula-generated)."""
    lon1, lat1 = point_lonlat_cols("event_id")
    lon2, lat2 = query_lonlat_cols("event_id")
    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        F.radians(lon1).alias("l1"),
        F.radians(lat1).alias("p1"),
        F.radians(lon2).alias("l2"),
        F.radians(lat2).alias("p2"),
    )
    az = F.atan2(
        F.sin(F.col("l2") - F.col("l1")) * F.cos("p2"),
        F.cos("p1") * F.sin("p2")
        - F.sin("p1") * F.cos("p2") * F.cos(F.col("l2") - F.col("l1")),
    )
    return ev.select(
        "event_id",
        F.floor(az * F.expr("1.0e9") + F.expr("0.12345678987"))
        .cast("long")
        .alias("az_q"),
    ).orderBy("event_id")


def q_st_azimuth_oracle():
    return f"""
SELECT event_id,
  CAST(floor(atan2(sin(l2 - l1) * cos(p2),
                   cos(p1) * sin(p2) - sin(p1) * cos(p2) * cos(l2 - l1))
             * 1.0e9 + 0.12345678987) AS BIGINT) AS az_q
FROM (
  SELECT event_id,
         radians({synth.point_lon_sql('event_id')}) AS l1,
         radians({synth.point_lat_sql('event_id')}) AS p1,
         radians({synth.query_lon_sql('event_id')}) AS l2,
         radians({synth.query_lat_sql('event_id')}) AS p2
  FROM events) t
ORDER BY event_id"""


def q_geodesic_destination(spark, sf_dir):
    """Spherical destination point (the ST_Project analog): from each
    event point travel d = 1000*(1 + id%50) m at bearing id%360 deg on
    the R=6371000 sphere — shared-text trig, quantized at 1e9."""
    lon1, lat1 = point_lonlat_cols("event_id")
    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        F.radians(lon1).alias("l1"),
        F.radians(lat1).alias("p1"),
        F.radians((F.col("event_id") % 360).cast("double")).alias("th"),
        (
            (1000.0 * (1 + F.col("event_id") % 50)).cast("double") / 6371000.0
        ).alias("dl"),
    )
    p2 = F.asin(
        F.sin("p1") * F.cos("dl") + F.cos("p1") * F.sin("dl") * F.cos("th")
    )
    l2 = F.col("l1") + F.atan2(
        F.sin("th") * F.sin("dl") * F.cos("p1"),
        F.cos("dl") - F.sin("p1") * F.sin(p2),
    )
    return ev.select(
        "event_id",
        F.floor(F.degrees(p2) * F.expr("1.0e9") + F.expr("0.12345678987"))
        .cast("long")
        .alias("lat2_q"),
        F.floor(F.degrees(l2) * F.expr("1.0e9") + F.expr("0.12345678987"))
        .cast("long")
        .alias("lon2_q"),
    ).orderBy("event_id")


def q_geodesic_destination_oracle():
    return f"""
SELECT event_id,
  CAST(floor(degrees(asin(sin(p1) * cos(dl) + cos(p1) * sin(dl) * cos(th)))
             * 1.0e9 + 0.12345678987) AS BIGINT) AS lat2_q,
  CAST(floor(degrees(l1 + atan2(sin(th) * sin(dl) * cos(p1),
       cos(dl) - sin(p1) * sin(asin(sin(p1) * cos(dl)
                                    + cos(p1) * sin(dl) * cos(th)))))
             * 1.0e9 + 0.12345678987) AS BIGINT) AS lon2_q
FROM (
  SELECT event_id,
         radians({synth.point_lon_sql('event_id')}) AS l1,
         radians({synth.point_lat_sql('event_id')}) AS p1,
         radians(CAST(event_id % 360 AS DOUBLE)) AS th,
         CAST(1.0e3 * (1 + event_id % 50) AS DOUBLE) / 6371000.0 AS dl
  FROM events) t
ORDER BY event_id"""


def q_idw(spark, sf_dir):
    """Inverse-distance-weighted interpolation (knn.idw_interpolate,
    k=4): event cent values interpolated at the 25 nation query points —
    kNN from the gated distributed join, weights quantized to integers
    (2^36 div d_mm) so the weighted sums are exact and order-free."""
    from .operators.knn import idw_interpolate

    cand = _events_points(spark, sf_dir).withColumnRenamed(
        "event_id", "cand_id"
    )
    vals = _read(spark, sf_dir, "events").select(
        F.col("event_id").alias("cand_id"),
        F.floor(F.col("value") * 100).cast("long").alias("val"),
    )
    qlon, qlat = query_lonlat_cols("n_nationkey")
    queries = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("query_id"),
        qlon.alias("qlon"),
        qlat.alias("qlat"),
    )
    return idw_interpolate(cand, queries, vals, k=4).orderBy("query_id")


def q_idw_oracle():
    from .functions.geometry import haversine_sql

    d = haversine_sql(
        synth.point_lon_sql("e.event_id"), synth.point_lat_sql("e.event_id"),
        synth.query_lon_sql("n.n_nationkey"),
        synth.query_lat_sql("n.n_nationkey"),
    )
    return f"""
WITH nn AS (
  SELECT n.n_nationkey AS query_id, e.event_id AS cand_id,
         CAST(floor(value * 1.0e2) AS BIGINT) AS val,
         CAST(floor({d} * 1.0e3 + 0.12345678987) AS BIGINT) AS d_mm,
         row_number() OVER (PARTITION BY n.n_nationkey
                            ORDER BY {d} ASC, e.event_id ASC) AS rank
  FROM nation n CROSS JOIN events e),
top AS (SELECT * FROM nn WHERE rank <= 4),
wt AS (SELECT query_id, val,
              {1 << 36} // greatest(d_mm, 1) AS w
       FROM top)
SELECT query_id, CAST(count(*) AS BIGINT) AS n_used,
       CAST(sum(w * val) AS BIGINT) AS est_num,
       CAST(sum(w) AS BIGINT) AS est_den
FROM wt GROUP BY 1 ORDER BY 1"""


_CCL_W = 96
_CCL_TS = 32


def q_ccl_regions(spark, sf_dir):
    """Distributed connected-component labeling (raster/ccl.py): the
    formula mask (blob lattice + one full-width line that welds a row of
    blobs together) is generated tile-distributed, labeled tile-locally,
    and merged through boundary-only equivalences + the graph CC
    machinery — shuffled volume is the mask PERIMETER.  Regions are
    keyed canonically by (x_min, y_min) rank so the oracle (a pixel-
    adjacency recursive closure) can match them without seeing the
    engine's provisional labels."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    from .raster.ccl import ccl_tiles
    from .raster.grid import GridGeometry

    n = _CCL_W // _CCL_TS

    def gen(batches):
        for pdf in batches:
            rows = []
            for tid in pdf["id"]:
                tx, ty = int(tid) % n, int(tid) // n
                x = tx * _CCL_TS + np.arange(_CCL_TS)[None, :]
                y = ty * _CCL_TS + np.arange(_CCL_TS)[:, None]
                m = ((x % 7 < 3) & (y % 5 < 2)) | (y == 32)
                rows.append(
                    {"tx": tx, "ty": ty, "band": 0,
                     "data": m.astype(np.uint8).tobytes()}
                )
            yield pd.DataFrame(rows)

    tiles = spark.range(n * n).mapInPandas(
        gen, schema="tx long, ty long, band int, data binary"
    )
    gg = GridGeometry((0, 0, _CCL_W - 1, _CCL_W - 1), (1, 0, 0, 0, 1, 0))
    regions = ccl_tiles(tiles, gg, tile_size=_CCL_TS)
    w = Window.orderBy("x_min", "y_min", "n_px")
    return regions.select(
        F.row_number().over(w).cast("long").alias("rid"),
        "n_px", "x_min", "y_min", "x_max", "y_max",
    ).orderBy("rid")


def q_ccl_regions_oracle():
    return f"""
WITH RECURSIVE xs AS (SELECT i AS x FROM generate_series(0, {_CCL_W - 1}) t(i)),
ys AS (SELECT i AS y FROM generate_series(0, {_CCL_W - 1}) t(i)),
px AS (
  SELECT x, y, y * {_CCL_W} + x AS id
  FROM xs CROSS JOIN ys
  WHERE (x % 7 < 3 AND y % 5 < 2) OR y = 32),
und AS (
  SELECT a.id AS u, b.id AS v
  FROM px a JOIN px b
    ON (abs(a.x - b.x) + abs(a.y - b.y)) = 1
  UNION ALL SELECT id, id FROM px),
reach(node, r) AS (
  SELECT id, id FROM px
  UNION
  SELECT reach.node, und.v FROM reach JOIN und ON und.u = reach.r),
comp AS (SELECT node, min(r) AS c FROM reach GROUP BY 1),
stats AS (
  SELECT c, CAST(count(*) AS BIGINT) AS n_px,
         CAST(min(x) AS BIGINT) AS x_min, CAST(min(y) AS BIGINT) AS y_min,
         CAST(max(x) AS BIGINT) AS x_max, CAST(max(y) AS BIGINT) AS y_max
  FROM comp JOIN px ON px.id = comp.node GROUP BY 1)
SELECT CAST(row_number() OVER (ORDER BY x_min, y_min, n_px) AS BIGINT) AS rid,
       n_px, x_min, y_min, x_max, y_max
FROM stats ORDER BY rid"""


def q_hist_eq(spark, sf_dir):
    """Global histogram equalization (tiles.hist_eq — the CDF remap
    sibling of the stretch gate): distributed 256-bin histogram -> pure
    INTEGER LUT ``(cdf - cdf_min) * 255 // (n - cdf_min)`` -> per-tile
    remap, verified through per-band stats.  No FP anywhere — counts,
    cumsum, and the LUT division are all exact int64."""
    from .raster.grid import GridGeometry
    from .raster.tiles import band_stats, hist_eq

    W, H = 500, 300
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _formula_tiles(spark, W, H, bands=2)
    out = hist_eq(tiles, gg)
    return band_stats(out, gg).select(
        "band", "n", "min", "max", "sum", "mean"
    ).orderBy("band")


def q_hist_eq_oracle():
    return """
WITH px AS (
  SELECT b.band, CASE b.band WHEN 0 THEN (gx.x * 7 + gy.y * 13) % 256
                             ELSE (gx.x * 3 + gy.y * 5 + 17) % 256 END AS v
  FROM generate_series(0, 499) gx(x), generate_series(0, 299) gy(y),
       (SELECT 0 AS band UNION ALL SELECT 1) b),
hist AS (SELECT band, v, CAST(count(*) AS BIGINT) AS cnt FROM px GROUP BY 1, 2),
cum AS (
  SELECT band, v,
         CAST(sum(cnt) OVER (PARTITION BY band ORDER BY v) AS BIGINT) AS c,
         CAST(sum(cnt) OVER (PARTITION BY band) AS BIGINT) AS n
  FROM hist),
lut AS (
  SELECT band, v,
         (c - min(c) OVER (PARTITION BY band)) * 255
           // (n - min(c) OVER (PARTITION BY band)) AS s
  FROM cum),
sv AS (SELECT px.band, lut.s FROM px JOIN lut USING (band, v))
SELECT CAST(band AS INT) AS band, count(*) AS n,
       CAST(min(s) AS BIGINT) AS min, CAST(max(s) AS BIGINT) AS max,
       CAST(sum(s) AS BIGINT) AS sum,
       CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
FROM sv GROUP BY 1 ORDER BY band"""


def q_hillshade(spark, sf_dir):
    """Hillshade rendering (terrain.hillshade_tiles, ESRI/Horn formula,
    default sun az 315 / alt 45) on the distributed gradient's halo
    machinery: slope/aspect per pixel from exact dyadic central
    differences, one trig expression, round+clamp to uint8 — verified
    through per-band stats.  The shade values land >=2.5e-3 away from
    every rounding boundary on this raster (measured), so the numpy-vs-
    DuckDB trig agreement holds with ~10 orders of magnitude of margin."""
    from .raster.grid import GridGeometry
    from .raster.terrain import hillshade_tiles
    from .raster.tiles import band_stats

    W, H = 500, 300
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _formula_tiles(spark, W, H, bands=1)
    out = hillshade_tiles(tiles, gg)
    return band_stats(out, gg).select(
        "band", "n", "min", "max", "sum", "mean"
    ).orderBy("band")


def q_hillshade_oracle():
    import math as _math

    zen = _math.radians(90.0 - 45.0)
    cz, sz = repr(_math.cos(zen)), repr(_math.sin(zen))
    az = repr(_math.radians(360.0 - 315.0 + 90.0))
    return f"""
WITH px AS (
  SELECT gx.x AS x, gy.y AS y
  FROM generate_series(0, 499) gx(x), generate_series(0, 299) gy(y)),
g AS (
  SELECT
    CASE WHEN x = 0
         THEN CAST(((x+1)*7 + y*13) % 256 - (x*7 + y*13) % 256 AS DOUBLE)
         WHEN x = 499
         THEN CAST((x*7 + y*13) % 256 - ((x-1)*7 + y*13) % 256 AS DOUBLE)
         ELSE CAST(((x+1)*7 + y*13) % 256
                   - ((x-1)*7 + y*13) % 256 AS DOUBLE) * 0.5 END AS gxv,
    CASE WHEN y = 0
         THEN CAST((x*7 + (y+1)*13) % 256 - (x*7 + y*13) % 256 AS DOUBLE)
         WHEN y = 299
         THEN CAST((x*7 + y*13) % 256 - (x*7 + (y-1)*13) % 256 AS DOUBLE)
         ELSE CAST((x*7 + (y+1)*13) % 256
                   - (x*7 + (y-1)*13) % 256 AS DOUBLE) * 0.5 END AS gyv
  FROM px),
sh AS (
  SELECT CAST(least(greatest(round(
    2.55e2 * ({cz} * cos(atan(sqrt(gxv*gxv + gyv*gyv)))
            + {sz} * sin(atan(sqrt(gxv*gxv + gyv*gyv)))
                   * cos({az} - atan2(gyv, -gxv)))
  ), 0.0e0), 2.55e2) AS BIGINT) AS s FROM g)
SELECT CAST(0 AS INT) AS band, count(*) AS n,
       CAST(min(s) AS BIGINT) AS min, CAST(max(s) AS BIGINT) AS max,
       CAST(sum(s) AS BIGINT) AS sum,
       CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
FROM sh GROUP BY 1 ORDER BY band"""


def q_lcs_pairs(spark, sf_dir):
    """Longest-common-subsequence join over per-user event-type sequences
    (textops.lcs_join): the order-aware text-similarity companion of the
    Jaccard/MinHash family — pure integer DP swept by anti-diagonal
    (O(na+nb) numpy rounds per pair), the Fréchet/DTW lockstep-diagonal
    oracle with 0 in place of the int64-max sentinel."""
    from pyspark.sql import Window

    from .operators.textops import lcs_join

    w = Window.partitionBy("user_id").orderBy("event_id")
    seqs = (
        _read(spark, sf_dir, "events")
        .select("user_id", "event_id", F.ascii("event_type").cast("long").alias("tok"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _FRECHET_CAP)
    )
    pairs = _traj_pairs_df(seqs.select("user_id"))
    return lcs_join(
        seqs, pairs, key_col="user_id", order_col="rn", tok_col="tok"
    ).orderBy("a")


def q_lcs_pairs_oracle():
    from .operators.textops import lcs_join_sql

    seqs = f"""
SELECT user_id AS k, rn AS o, tok FROM (
  SELECT user_id, CAST(ascii(event_type) AS BIGINT) AS tok,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events) t
WHERE rn <= {_FRECHET_CAP}"""
    return (
        "SELECT * FROM ("
        + lcs_join_sql(seqs, _TRAJ_PAIRS_SQL)
        + ") ORDER BY a"
    )


def q_holt(spark, sf_dir):
    """Holt double exponential smoothing (timeseries.holt_int,
    alpha=1/4, beta=1/8) over per-user event tracks: coupled integer
    level+trend recurrences with true floor divisions; the oracle steps
    both states in one lockstep recursive CTE (the level resolves in a
    LATERAL subexpression before the trend reads it)."""
    from .operators.timeseries import holt_int

    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    lon, _ = point_lonlat_cols("event_id")
    pts = ev.select(
        "user_id", "event_id", "ts",
        F.floor(lon * 10000).cast("long").alias("x"),
    )
    return holt_int(pts, a_num=1, a_den=4, b_num=1, b_den=8).orderBy(
        "user_id", "rn"
    )


def q_holt_oracle():
    from .operators.timeseries import holt_int_sql

    base = (
        "SELECT user_id, event_id, ts, "
        f"CAST(floor(({synth.point_lon_sql('event_id')}) * 1.0e4) AS BIGINT) AS x "
        "FROM events WHERE event_id < 4000"
    )
    return (
        "SELECT * FROM ("
        + holt_int_sql(base, a_num=1, a_den=4, b_num=1, b_den=8)
        + ") ORDER BY user_id, rn"
    )


def q_ssim_tiles(spark, sf_dir):
    """Per-tile SSIM between two co-registered rasters (tiles.ssim_tiles,
    Wang et al. 2004): one equi-join co-locates tile pairs, moments are
    exact int64 sums, and the FP formula is SHARED SQL expression text
    (tiles.ssim_expr_sql) evaluated by both engines — quantized at 1e9."""
    from .raster.tiles import ssim_tiles

    W, H = 448, 256  # multiples of 64: every pixel real
    tiles = _formula_tiles(spark, W, H, bands=2)
    a = tiles.filter(F.col("band") == 0)
    b = tiles.filter(F.col("band") == 1).withColumn("band", F.lit(0).cast("int"))
    return ssim_tiles(a, b).orderBy("tx", "ty")


def q_ssim_tiles_oracle():
    from .raster.tiles import ssim_expr_sql

    return f"""
WITH px AS (
  SELECT gx.x // 64 AS tx, gy.y // 64 AS ty,
         CAST((gx.x * 7 + gy.y * 13) % 256 AS BIGINT) AS va,
         CAST((gx.x * 3 + gy.y * 5 + 17) % 256 AS BIGINT) AS vb
  FROM generate_series(0, 447) gx(x), generate_series(0, 255) gy(y)),
sums AS (
  SELECT tx, ty, CAST(0 AS INT) AS band,
         CAST(count(*) AS BIGINT) AS n_px,
         CAST(sum(va) AS BIGINT) AS sum_a, CAST(sum(vb) AS BIGINT) AS sum_b,
         CAST(sum(va * va) AS BIGINT) AS sumsq_a,
         CAST(sum(vb * vb) AS BIGINT) AS sumsq_b,
         CAST(sum(va * vb) AS BIGINT) AS sum_ab
  FROM px GROUP BY 1, 2)
SELECT tx, ty, band, n_px, sum_a, sum_b, {ssim_expr_sql()} AS ssim_q
FROM sums ORDER BY tx, ty"""


def q_roc_points(spark, sf_dir):
    """ROC/PR curve support points (analytics.roc_points): confusion
    counts at every distinct score threshold — one groupBy collapse then
    a tiny window cumsum, all exact int64; the evaluation twin of the
    classifier_score gate."""
    from .operators.analytics import roc_points

    d = _read(spark, sf_dir, "documents").select(
        (F.col("n_chars") % 97).cast("long").alias("s"),
        (F.col("doc_id") % 3 == 0).cast("long").alias("y"),
    )
    return roc_points(d, "s", "y").orderBy("thr")


def q_roc_points_oracle():
    from .operators.analytics import roc_points_sql

    base = (
        "SELECT CAST(n_chars % 97 AS BIGINT) AS s, "
        "CAST(doc_id % 3 = 0 AS BIGINT) AS y FROM documents"
    )
    return (
        "SELECT * FROM (" + roc_points_sql(base, "s", "y") + ") ORDER BY thr"
    )


def q_seq_patterns(spark, sf_dir):
    """Sequential pattern mining, length-2 core (analytics.seq_patterns):
    ordered event-type pairs within 3 positions inside each user's
    stream — rank window + bounded band self-join + one aggregation;
    the ORDERED counterpart of the unordered PMI collocations gate."""
    from .operators.analytics import seq_patterns

    ev = _read(spark, sf_dir, "events")
    return seq_patterns(
        ev, "user_id", "event_id", "event_type", max_gap=3
    ).orderBy("s1", "s2")


def q_seq_patterns_oracle():
    from .operators.analytics import seq_patterns_sql

    return (
        "SELECT * FROM ("
        + seq_patterns_sql(
            "SELECT user_id, event_id, event_type FROM events",
            "user_id",
            "event_id",
            "event_type",
            max_gap=3,
        )
        + ") ORDER BY s1, s2"
    )


def q_ndvi(spark, sf_dir):
    """Normalized-difference map algebra (tiles.band_ratio_tiles — the
    NDVI/NDWI shape): per-pixel (a-b)*1e6 / (a+b) as a TRUE integer floor
    division (posmod identity), 0 where a+b=0, reduced to per-tile exact
    stats.  One band-pair equi-join + one embarrassingly-parallel pass —
    no FP anywhere."""
    from .raster.tiles import band_ratio_tiles

    W, H = 448, 256
    tiles = _formula_tiles(spark, W, H, bands=2)
    a = tiles.filter(F.col("band") == 0)
    b = tiles.filter(F.col("band") == 1).withColumn("band", F.lit(0).cast("int"))
    return band_ratio_tiles(a, b).orderBy("tx", "ty")


def q_ndvi_oracle():
    d, s = "(va - vb)", "(va + vb)"
    num = f"({d} * 1000000)"
    q = f"(({num} - ((({num} % {s}) + {s}) % {s})) // {s})"
    return f"""
WITH px AS (
  SELECT gx.x // 64 AS tx, gy.y // 64 AS ty,
         CAST((gx.x * 7 + gy.y * 13) % 256 AS BIGINT) AS va,
         CAST((gx.x * 3 + gy.y * 5 + 17) % 256 AS BIGINT) AS vb
  FROM generate_series(0, 447) gx(x), generate_series(0, 255) gy(y)),
qv AS (
  SELECT tx, ty, CASE WHEN {s} > 0 THEN {q} ELSE 0 END AS q,
         CASE WHEN {s} > 0 THEN 1 ELSE 0 END AS v
  FROM px)
SELECT tx, ty, CAST(0 AS INT) AS band, count(*) AS n_px,
       CAST(sum(v) AS BIGINT) AS n_valid, CAST(sum(q) AS BIGINT) AS sum_q,
       CAST(min(q) AS BIGINT) AS min_q, CAST(max(q) AS BIGINT) AS max_q
FROM qv GROUP BY 1, 2 ORDER BY tx, ty"""


def q_glcm(spark, sf_dir):
    """Haralick co-occurrence texture per tile (tiles.glcm_tiles, offset
    (1,0), 8 gray levels): contrast and energy as exact int64 sums over
    the in-tile horizontal pair histogram — zero shuffles, the texture
    features a training-data pipeline filters satellite/image corpora
    by."""
    from .raster.tiles import glcm_tiles

    W, H = 448, 256
    tiles = _formula_tiles(spark, W, H, bands=1)
    return glcm_tiles(tiles).orderBy("tx", "ty")


def q_glcm_oracle():
    return """
WITH pr AS (
  SELECT gx.x // 64 AS tx, gy.y // 64 AS ty,
         ((gx.x * 7 + gy.y * 13) % 256) // 32 AS li,
         (((gx.x + 1) * 7 + gy.y * 13) % 256) // 32 AS lj
  FROM generate_series(0, 447) gx(x), generate_series(0, 255) gy(y)
  WHERE gx.x % 64 < 63),
cnt AS (
  SELECT tx, ty, li, lj, CAST(count(*) AS BIGINT) AS c
  FROM pr GROUP BY 1, 2, 3, 4)
SELECT tx, ty, CAST(0 AS INT) AS band,
       CAST(sum(c) AS BIGINT) AS n_pairs,
       CAST(sum(c * (li - lj) * (li - lj)) AS BIGINT) AS contrast,
       CAST(sum(c * c) AS BIGINT) AS energy,
       CAST(max(c) AS BIGINT) AS max_cnt
FROM cnt GROUP BY 1, 2 ORDER BY tx, ty"""


def q_simplify_vw(spark, sf_dir):
    """Visvalingam-Whyatt polyline simplification (trajectory.simplify_vw,
    target 10 vertices) over per-user quantized event tracks: doubled
    triangle areas are exact int64 cross products, pick-order is
    deterministic (min area, ties -> smallest position), and the oracle
    replays the removal loop as an event-loop recursive CTE (one vertex
    per key per round) — the LOD / linear-resolution hint
    (S/FeatureQuery.java:437) applied to polylines."""
    from .operators.trajectory import simplify_vw

    pts = _traj_pts_df(spark, sf_dir).select(
        F.col("user_id").alias("k"), F.col("rn").alias("o"),
        F.col("qx").alias("x"), F.col("qy").alias("y"),
    )
    return simplify_vw(pts, target=10).orderBy("k", "o")


def q_simplify_vw_oracle():
    from .operators.trajectory import simplify_vw_sql

    pts = f"SELECT k, o, x, y FROM ({_traj_pts_sql()}) tp"
    return (
        "SELECT * FROM (" + simplify_vw_sql(pts, 10) + ") ORDER BY k, o"
    )


def q_kde_grid(spark, sf_dir):
    """Triangular-kernel grid heatmap (density.kde_grid, 256x256 grid,
    radius 2): one point->cell aggregation (the only data-sized shuffle),
    then the 25-offset smoothing fans out over the TINY cell-count table
    via a broadcast cross join — O(cells * r^2), point-count independent;
    weights and sums exact int64."""
    from .operators.density import kde_grid

    pts = _events_points(spark, sf_dir)
    return kde_grid(pts, grid_n=256, radius=2).orderBy("ix", "iy")


def q_kde_grid_oracle():
    from .operators.density import kde_grid_sql

    return (
        "SELECT * FROM ("
        + kde_grid_sql(_points_sql(), 256, 2)
        + ") ORDER BY ix, iy"
    )


def q_gps_jumps(spark, sf_dir):
    """GPS teleport flagging (trajectory.gps_jumps): per-user
    time-ordered segments, speed > 20000 quantized-units/s decided by
    the EXACT integer cross-comparison dist2 > v^2 * dt_s^2 — pure
    window codegen, the cleaning pass before any trajectory op."""
    from .operators.trajectory import gps_jumps

    from pyspark.sql import Window

    lon, lat = point_lonlat_cols("event_id")
    w = Window.partitionBy("k").orderBy("event_id")
    pts = (
        _read(spark, sf_dir, "events")
        .select(
            F.col("user_id").alias("k"),
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            F.floor(lon * 1e5 + float(_FRECHET_Q)).cast("long").alias("x"),
            F.floor(lat * 1e5 + float(_FRECHET_Q)).cast("long").alias("y"),
        )
        .withColumn("o", F.row_number().over(w))
        .filter(F.col("o") <= _FRECHET_CAP)
    )
    return gps_jumps(pts, v_per_s=20000).orderBy("k", "o")


def q_gps_jumps_oracle():
    from .operators.trajectory import gps_jumps_sql

    pts = f"""
SELECT user_id AS k, rn AS o, ts_us, qx AS x, qy AS y FROM (
  SELECT user_id, epoch_us(ts) AS ts_us,
         CAST(floor(({synth.point_lon_sql('event_id')}) * 1.0e5
                    + {_FRECHET_Q}) AS BIGINT) AS qx,
         CAST(floor(({synth.point_lat_sql('event_id')}) * 1.0e5
                    + {_FRECHET_Q}) AS BIGINT) AS qy,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events) t
WHERE rn <= {_FRECHET_CAP}"""
    return (
        "SELECT * FROM ("
        + gps_jumps_sql(pts, v_per_s=20000)
        + ") ORDER BY k, o"
    )


def q_doc_cosine(spark, sf_dir):
    """Sparse document-document cosine over the df-capped vocabulary
    (textops.doc_cosine_pairs, max_df 50): candidates only from shared
    rare tokens (posting-list self-join, fan-out bounded by the df cap —
    the jaccard_pairs quadratic-blowup lesson applied at design time);
    dot products and squared norms exact int64."""
    from .operators.textops import doc_cosine_pairs

    docs = _read(spark, sf_dir, "documents")
    return doc_cosine_pairs(docs, max_df=50).orderBy("a", "b")


def q_doc_cosine_oracle():
    from .operators.textops import doc_cosine_pairs_sql

    return (
        "SELECT * FROM ("
        + doc_cosine_pairs_sql("SELECT doc_id, text FROM documents", max_df=50)
        + ") ORDER BY a, b"
    )


def q_adaptive_cells(spark, sf_dir):
    """Adaptive quadtree cell cover for a skewed point set
    (partitioning.adaptive_cells, depths 2..6, cap 500): hot cells split
    fine, empty space stays coarse — the skew-handling partition planner
    shape, computed with ONE data-sized aggregation + algebraic roll-ups
    on <=4^d rows and a join-free emit predicate (ancestor counts only
    grow upward, so a single parent check suffices)."""
    from .operators.partitioning import adaptive_cells

    pts = _events_points(spark, sf_dir)
    return adaptive_cells(pts, d_min=2, d_max=6, cap=500).orderBy(
        "d", "ix", "iy"
    )


def q_adaptive_cells_oracle():
    from .operators.partitioning import adaptive_cells_sql

    return (
        "SELECT * FROM ("
        + adaptive_cells_sql(_points_sql(), d_min=2, d_max=6, cap=500)
        + ") ORDER BY d, ix, iy"
    )


def q_otsu(spark, sf_dir):
    """Otsu global threshold per band (tiles.otsu_threshold): argmax of
    the between-class variance over the distributed 256-bin histogram —
    integer cumsums, ONE shared-text double per candidate (squared in
    DOUBLE, the chi2 overflow lesson), deterministic argmax ties to the
    smaller threshold.  Raster-sized work is one histogram aggregation."""
    from .raster.grid import GridGeometry
    from .raster.tiles import otsu_threshold

    W, H = 500, 300
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _formula_tiles(spark, W, H, bands=2)
    return otsu_threshold(tiles, gg).orderBy("band")


def q_otsu_oracle():
    from .raster.tiles import otsu_score_sql

    return f"""
WITH px AS (
  SELECT b.band, CASE b.band WHEN 0 THEN (gx.x * 7 + gy.y * 13) % 256
                             ELSE (gx.x * 3 + gy.y * 5 + 17) % 256 END AS v
  FROM generate_series(0, 499) gx(x), generate_series(0, 299) gy(y),
       (SELECT 0 AS band UNION ALL SELECT 1) b),
hist AS (SELECT band, v AS value, CAST(count(*) AS BIGINT) AS cnt
         FROM px GROUP BY 1, 2),
pre AS (
  SELECT band, value,
         CAST(sum(cnt) OVER (PARTITION BY band ORDER BY value) AS BIGINT) AS c,
         CAST(sum(cnt * value) OVER (PARTITION BY band ORDER BY value)
              AS BIGINT) AS s,
         CAST(sum(cnt) OVER (PARTITION BY band) AS BIGINT) AS n_tot,
         CAST(sum(cnt * value) OVER (PARTITION BY band) AS BIGINT) AS s_tot
  FROM hist),
sc AS (
  SELECT band, value, {otsu_score_sql()} AS score_q
  FROM (SELECT *, s_tot * c - s * n_tot AS d FROM pre WHERE c < n_tot) t),
best AS (
  SELECT *, row_number() OVER (PARTITION BY band
       ORDER BY score_q DESC, value ASC) AS rn
  FROM sc)
SELECT CAST(band AS INT) AS band, CAST(value AS INT) AS thr, score_q
FROM best WHERE rn = 1 ORDER BY band"""


def _rhumb_texts():
    """Shared Spark/DuckDB expression texts for loxodrome bearing and
    distance from radian columns (l1, p1, l2, p2).  Every constant is an
    explicit double literal so both engines parse the identical value."""
    dpsi = (
        "ln(tan(0.7853981633974483 + p2 / 2)"
        " / tan(0.7853981633974483 + p1 / 2))"
    )
    dlam = (
        "(CASE WHEN l2 - l1 > 3.141592653589793"
        " THEN l2 - l1 - 6.283185307179586"
        " WHEN l2 - l1 < -3.141592653589793"
        " THEN l2 - l1 + 6.283185307179586 ELSE l2 - l1 END)"
    )
    q = f"(CASE WHEN p2 = p1 THEN cos(p1) ELSE (p2 - p1) / ({dpsi}) END)"
    brg = (
        f"CAST(floor(atan2({dlam}, {dpsi}) * 1.0e9 + 0.12345678987)"
        " AS BIGINT)"
    )
    dist = (
        f"CAST(floor(sqrt((p2 - p1) * (p2 - p1)"
        f" + ({q}) * ({q}) * ({dlam}) * ({dlam})) * 6371000.0 * 1.0e3"
        " + 0.12345678987) AS BIGINT)"
    )
    return brg, dist


def q_rhumb_line(spark, sf_dir):
    """Rhumb-line (loxodrome) bearing and distance between each event
    point and its query point — the constant-bearing navigation twin of
    st_azimuth/geodesic gates: Mercator-stretched latitude, wrapped
    longitude difference, the q = dphi/dpsi stretch factor — all one
    shared expression text, distance quantized at millimetres."""
    brg, dist = _rhumb_texts()
    lon1, lat1 = point_lonlat_cols("event_id")
    lon2, lat2 = query_lonlat_cols("event_id")
    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        F.radians(lon1).alias("l1"),
        F.radians(lat1).alias("p1"),
        F.radians(lon2).alias("l2"),
        F.radians(lat2).alias("p2"),
    )
    return ev.select(
        "event_id",
        F.expr(brg).alias("brg_q"),
        F.expr(dist).alias("dist_q"),
    ).orderBy("event_id")


def q_rhumb_line_oracle():
    brg, dist = _rhumb_texts()
    return f"""
SELECT event_id, {brg} AS brg_q, {dist} AS dist_q
FROM (
  SELECT event_id,
         radians({synth.point_lon_sql('event_id')}) AS l1,
         radians({synth.point_lat_sql('event_id')}) AS p1,
         radians({synth.query_lon_sql('event_id')}) AS l2,
         radians({synth.query_lat_sql('event_id')}) AS p2
  FROM events) t
ORDER BY event_id"""


def q_tri(spark, sf_dir):
    """Terrain ruggedness index per tile (terrain.tri_tiles, Riley 1999
    kept as the exact integer tri2 — no sqrt needed to rank): the
    8-neighbor halo gather, interior pixels only; PURE INTEGER end to
    end, the oracle replays all eight squared mod-formula differences."""
    from .raster.grid import GridGeometry
    from .raster.terrain import tri_tiles

    W, H = 500, 300
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _formula_tiles(spark, W, H, bands=1)
    return tri_tiles(tiles, gg).orderBy("tx", "ty")


def q_tri_oracle():
    v = "((gx.x + {dx}) * 7 + (gy.y + {dy}) * 13) % 256"
    terms = " + ".join(
        f"(({v.format(dx=dx, dy=dy)}) - v0) * (({v.format(dx=dx, dy=dy)}) - v0)"
        for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)
    )
    return f"""
WITH px AS (
  SELECT gx.x AS x, gy.y AS y, gx.x // 64 AS tx, gy.y // 64 AS ty,
         CASE WHEN gx.x >= 1 AND gx.x <= 498 AND gy.y >= 1 AND gy.y <= 298
              THEN ({terms}) ELSE 0 END AS tri2,
         CASE WHEN gx.x >= 1 AND gx.x <= 498 AND gy.y >= 1 AND gy.y <= 298
              THEN 1 ELSE 0 END AS i
  FROM (SELECT x, (x * 7) % 256 AS vx FROM generate_series(0, 499) t(x)) gx,
       generate_series(0, 299) gy(y),
       LATERAL (SELECT (gx.x * 7 + gy.y * 13) % 256 AS v0) c)
SELECT tx, ty, CAST(sum(i) AS BIGINT) AS n_int,
       CAST(sum(tri2) AS BIGINT) AS sum_tri2,
       CAST(max(tri2) AS BIGINT) AS max_tri2
FROM px GROUP BY 1, 2 ORDER BY tx, ty"""


def q_kappa(spark, sf_dir):
    """Cohen's kappa agreement counts (analytics.cohens_kappa) between
    two synthetic label assignments over orders: kappa stays the exact
    rational (agree*n - pe_num)/(n*n - pe_num); three tiny exact
    aggregations."""
    from .operators.analytics import cohens_kappa

    o = _read(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 5).alias("a"),
        ((F.col("o_orderkey") * 7 + F.col("o_custkey")) % 5).alias("b"),
    )
    return cohens_kappa(o, "a", "b")


def q_kappa_oracle():
    from .operators.analytics import cohens_kappa_sql

    base = (
        "SELECT o_orderkey % 5 AS a, "
        "(o_orderkey * 7 + o_custkey) % 5 AS b FROM orders"
    )
    return cohens_kappa_sql(base, "a", "b")


def q_class_prf(spark, sf_dir):
    """Per-class precision/recall counts (analytics.class_prf): one
    confusion aggregation + marginal joins; P/R/F1 stay exact rationals.
    Pseudo-classifier: predicted = priority hash bucket, actual =
    status-derived class (classes can miss on either side — full outer
    marginals)."""
    from .operators.analytics import class_prf

    o = _read(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 4).alias("pred"),
        ((F.col("o_custkey") + F.col("o_orderkey") % 3) % 5).alias("act"),
    )
    return class_prf(o, "pred", "act").orderBy("cls")


def q_class_prf_oracle():
    from .operators.analytics import class_prf_sql

    base = (
        "SELECT o_orderkey % 4 AS pred, "
        "(o_custkey + o_orderkey % 3) % 5 AS act FROM orders"
    )
    return (
        "SELECT * FROM (" + class_prf_sql(base, "pred", "act")
        + ") ORDER BY cls"
    )


def _cross_track_texts():
    """Shared Spark/DuckDB texts for great-circle cross-track and
    along-track distance of point p (lp, pp) from the path A->B, with A/B
    embedded as double literals (radians).  d13/theta13 by the standard
    haversine-free spherical formulas; quantized at 1e9 (radians)."""
    import math as _math

    a_lat, a_lon = _math.radians(40.7128), _math.radians(-74.006)
    b_lat, b_lon = _math.radians(51.5074), _math.radians(-0.1276)
    la, fa = repr(a_lon), repr(a_lat)
    th12 = repr(
        _math.atan2(
            _math.sin(b_lon - a_lon) * _math.cos(b_lat),
            _math.cos(a_lat) * _math.sin(b_lat)
            - _math.sin(a_lat) * _math.cos(b_lat) * _math.cos(b_lon - a_lon),
        )
    )
    d13 = (
        f"acos(least(greatest(sin({fa}) * sin(pp)"
        f" + cos({fa}) * cos(pp) * cos(lp - {la}), -1.0), 1.0))"
    )
    th13 = (
        f"atan2(sin(lp - {la}) * cos(pp),"
        f" cos({fa}) * sin(pp) - sin({fa}) * cos(pp) * cos(lp - {la}))"
    )
    dxt = f"asin(least(greatest(sin({d13}) * sin(({th13}) - {th12}), -1.0), 1.0))"
    dat = (
        f"acos(least(greatest(cos({d13}) / "
        f"(CASE WHEN cos({dxt}) = 0.0 THEN 1.0 ELSE cos({dxt}) END),"
        " -1.0), 1.0))"
    )
    q = "CAST(floor(({e}) * 1.0e9 + 0.12345678987) AS BIGINT)"
    return q.format(e=dxt), q.format(e=dat)


def q_cross_track(spark, sf_dir):
    """Great-circle cross-track / along-track distance (the navigation
    companion of st_azimuth): each event point against the fixed NYC ->
    London great circle — one shared expression text, clamped inverse
    trig, quantized radians."""
    dxt, dat = _cross_track_texts()
    lon, lat = point_lonlat_cols("event_id")
    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        F.radians(lon).alias("lp"),
        F.radians(lat).alias("pp"),
    )
    return ev.select(
        "event_id",
        F.expr(dxt).alias("dxt_q"),
        F.expr(dat).alias("dat_q"),
    ).orderBy("event_id")


def q_cross_track_oracle():
    dxt, dat = _cross_track_texts()
    return f"""
SELECT event_id, {dxt} AS dxt_q, {dat} AS dat_q
FROM (
  SELECT event_id,
         radians({synth.point_lon_sql('event_id')}) AS lp,
         radians({synth.point_lat_sql('event_id')}) AS pp
  FROM events) t
ORDER BY event_id"""


def q_line_cells(spark, sf_dir):
    """Supercover line->cell assignment (tiling.line_cells, 10-degree
    cells): every grid cell each event->query segment passes through,
    decided by the EXACT integer separating-axis test (bbox candidates
    via codegen sequence/explode, int64 cross products, no FP) — the
    vector-line twin of the point tile assignment and polygon burn."""
    from .operators.tiling import line_cells

    lon1, lat1 = point_lonlat_cols("event_id")
    lon2, lat2 = query_lonlat_cols("event_id")
    segs = (
        _read(spark, sf_dir, "events")
        .filter(F.col("event_id") < 300)
        .select(
            F.col("event_id").alias("seg_id"),
            F.floor(lon1 * 1e5 + 0.12345678987).cast("long").alias("x1"),
            F.floor(lat1 * 1e5 + 0.12345678987).cast("long").alias("y1"),
            F.floor(lon2 * 1e5 + 0.12345678987).cast("long").alias("x2"),
            F.floor(lat2 * 1e5 + 0.12345678987).cast("long").alias("y2"),
        )
    )
    return line_cells(segs, cell=1_000_000).orderBy("seg_id", "ix", "iy")


def q_line_cells_oracle():
    from .operators.tiling import line_cells_sql

    segs = f"""
SELECT event_id AS seg_id,
       CAST(floor(({synth.point_lon_sql('event_id')}) * 1.0e5
                  + 0.12345678987) AS BIGINT) AS x1,
       CAST(floor(({synth.point_lat_sql('event_id')}) * 1.0e5
                  + 0.12345678987) AS BIGINT) AS y1,
       CAST(floor(({synth.query_lon_sql('event_id')}) * 1.0e5
                  + 0.12345678987) AS BIGINT) AS x2,
       CAST(floor(({synth.query_lat_sql('event_id')}) * 1.0e5
                  + 0.12345678987) AS BIGINT) AS y2
FROM events WHERE event_id < 300"""
    return (
        "SELECT * FROM ("
        + line_cells_sql(segs, cell=1_000_000)
        + ") ORDER BY seg_id, ix, iy"
    )


def q_mase(spark, sf_dir):
    """Seasonal-naive forecast error components (timeseries.
    mase_components, season 7) per user: exact integer sums of
    |x_t - x_{t-1}| and |x_t - x_{t-7}| — the MASE denominators, two lag
    windows, no FP."""
    from .operators.timeseries import mase_components

    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    lon, _ = point_lonlat_cols("event_id")
    pts = ev.select(
        "user_id", "event_id", "ts",
        F.floor(lon * 10000).cast("long").alias("x"),
    )
    return mase_components(pts, season=7).orderBy("k")


def q_mase_oracle():
    from .operators.timeseries import mase_components_sql

    base = (
        "SELECT user_id, event_id, ts, "
        f"CAST(floor(({synth.point_lon_sql('event_id')}) * 1.0e4) AS BIGINT) AS x "
        "FROM events WHERE event_id < 4000"
    )
    return (
        "SELECT * FROM ("
        + mase_components_sql(base, season=7)
        + ") ORDER BY k"
    )


_HITS_ITERS = 3
_HITS_SCALE = 10**6


def q_hits(spark, sf_dir):
    """HITS hubs/authorities (graph.hits_exact, 3 iterations,
    max-normalized to 1e6): the coupled link-analysis recurrence kept
    exact-integer by normalizing with a floor-div by the round maximum
    instead of L2 (the pagerank_exact contract); the oracle chains one
    MATERIALIZED CTE block per half-step (the kcore double-reference
    lesson).  Same closed-form documents link graph as the pagerank
    gate.  Output: top 100 by (auth DESC, node)."""
    from .operators.graph import hits_exact

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("src")
    )
    n = docs.count()
    edges = (
        docs.select(
            "src",
            F.explode(F.array(
                (F.col("src") * 7 + 11) % n,
                (F.col("src") * 13 + 5) % n,
                (F.col("src") * 3 + 1) % n,
            )).alias("dst"),
        )
        .distinct()
    )
    nodes = docs.select(F.col("src").alias("node"))
    st = hits_exact(edges, nodes, iters=_HITS_ITERS, scale=_HITS_SCALE)
    w = Window.orderBy(F.col("auth").desc(), F.col("node").asc())
    return (
        st.withColumn("pos", F.row_number().over(w).cast("long"))
        .filter(F.col("pos") <= 100)
        .select("pos", "node", "hub", "auth")
        .orderBy("pos")
    )


def q_hits_oracle():
    S = _HITS_SCALE
    blocks = ["""nn AS (SELECT count(*) AS n FROM documents),
nodes AS (SELECT CAST(doc_id AS BIGINT) AS node FROM documents),
e AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT CAST(doc_id AS BIGINT) AS src, (CAST(doc_id AS BIGINT) * 7 + 11) % nn.n AS dst FROM documents, nn
    UNION ALL
    SELECT CAST(doc_id AS BIGINT), (CAST(doc_id AS BIGINT) * 13 + 5) % nn.n FROM documents, nn
    UNION ALL
    SELECT CAST(doc_id AS BIGINT), (CAST(doc_id AS BIGINT) * 3 + 1) % nn.n FROM documents, nn)),
st0 AS MATERIALIZED (SELECT node, CAST({S} AS BIGINT) AS hub, CAST({S} AS BIGINT) AS auth FROM nodes)""".format(S=S)]
    for i in range(_HITS_ITERS):
        blocks.append(f"""ar{i + 1} AS MATERIALIZED (
  SELECT e.dst AS node, CAST(sum(st.hub) AS BIGINT) AS ar
  FROM e JOIN st{i} st ON st.node = e.src GROUP BY 1),
am{i + 1} AS (SELECT CASE WHEN max(ar) IS NULL OR max(ar) = 0 THEN 1
                          ELSE max(ar) END AS m FROM ar{i + 1}),
au{i + 1} AS MATERIALIZED (
  SELECT nodes.node, COALESCE(ar.ar, 0) * {S} // am.m AS auth
  FROM nodes LEFT JOIN ar{i + 1} ar ON ar.node = nodes.node, am{i + 1} am),
hr{i + 1} AS MATERIALIZED (
  SELECT e.src AS node, CAST(sum(au.auth) AS BIGINT) AS hr
  FROM e JOIN au{i + 1} au ON au.node = e.dst GROUP BY 1),
hm{i + 1} AS (SELECT CASE WHEN max(hr) IS NULL OR max(hr) = 0 THEN 1
                          ELSE max(hr) END AS m FROM hr{i + 1}),
st{i + 1} AS MATERIALIZED (
  SELECT nodes.node, COALESCE(hr.hr, 0) * {S} // hm.m AS hub, au.auth
  FROM nodes LEFT JOIN hr{i + 1} hr ON hr.node = nodes.node
       JOIN au{i + 1} au ON au.node = nodes.node, hm{i + 1} hm)""")
    return "WITH " + ",\n".join(blocks) + f"""
SELECT pos, node, CAST(hub AS BIGINT) AS hub, CAST(auth AS BIGINT) AS auth
FROM (
  SELECT node, hub, auth,
         CAST(row_number() OVER (ORDER BY auth DESC, node ASC) AS BIGINT) AS pos
  FROM st{_HITS_ITERS}) t
WHERE pos <= 100 ORDER BY pos"""


def q_mutual_info(spark, sf_dir):
    """Mutual information + marginal entropies over (priority x status)
    (analytics.mutual_info): exact integer counts; the only FP is the
    shared-text ln per contingency cell, floor-quantized BEFORE the
    order-independent integer sums — the feature-redundancy companion
    of the chi2 gate."""
    from .operators.analytics import mutual_info

    o = _read(spark, sf_dir, "orders")
    return mutual_info(o, "o_orderpriority", "o_orderstatus")


def q_mutual_info_oracle():
    from .operators.analytics import mutual_info_sql

    return mutual_info_sql(
        "SELECT o_orderpriority, o_orderstatus FROM orders",
        "o_orderpriority",
        "o_orderstatus",
    )


def q_downsample_mean(spark, sf_dir):
    """Anti-aliased 2x reduction (tiles.downsample_mean): every output
    pixel the FLOOR mean of its 2x2 source block — exact integer, the
    box-filter overview next to tile_pyramid's stride-2 sampling;
    verified through per-band stats at the subsampled geometry."""
    from .raster.grid import GridGeometry
    from .raster.tiles import band_stats, downsample_mean

    W, H = 448, 256
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _formula_tiles(spark, W, H, bands=1)
    out, out_gg = downsample_mean(tiles, gg)
    return band_stats(out, out_gg).select(
        "band", "n", "min", "max", "sum", "mean"
    ).orderBy("band")


def q_downsample_mean_oracle():
    return """
WITH px AS (
  SELECT gx.x AS x, gy.y AS y
  FROM generate_series(0, 223) gx(x), generate_series(0, 127) gy(y)),
m AS (
  SELECT (((2*x) * 7 + (2*y) * 13) % 256
        + ((2*x+1) * 7 + (2*y) * 13) % 256
        + ((2*x) * 7 + (2*y+1) * 13) % 256
        + ((2*x+1) * 7 + (2*y+1) * 13) % 256) // 4 AS s
  FROM px)
SELECT CAST(0 AS INT) AS band, count(*) AS n,
       CAST(min(s) AS BIGINT) AS min, CAST(max(s) AS BIGINT) AS max,
       CAST(sum(s) AS BIGINT) AS sum,
       CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
FROM m GROUP BY 1 ORDER BY band"""


def q_url_canonical(spark, sf_dir):
    """Canonical URL dedup keys (textops.url_canonical): lowercase host,
    www. stripped, query/fragment dropped, trailing slash removed —
    grouped to (canon, n_urls, n_docs); the normalization a web-crawl
    dedup keys on.  Messier synthetic URLs than the url_parse gate
    (mixed-case hosts, optional www./slash/fragment)."""
    from .operators.textops import url_canonical

    d = F.col("doc_id")
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.when(d % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
            F.when(d % 2 == 0, F.lit("Host")).otherwise(F.lit("host")),
            (d % 7).cast("string"),
            F.lit(".example.com/path"), (d % 5).cast("string"),
            F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(d % 6 == 0, F.lit("#frag")).otherwise(F.lit("")),
        ).alias("url"),
    )
    return (
        url_canonical(docs)
        .groupBy("canon")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy("canon")
    )


def q_url_canonical_oracle():
    from .operators.textops import url_canonical_sql

    base = """
SELECT doc_id,
       'https://' || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
       || CASE WHEN doc_id % 2 = 0 THEN 'Host' ELSE 'host' END
       || CAST(doc_id % 7 AS VARCHAR)
       || '.example.com/path' || CAST(doc_id % 5 AS VARCHAR)
       || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
       || CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END AS url
FROM documents"""
    return f"""
SELECT canon, CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM ({url_canonical_sql(base)}) c
GROUP BY 1 ORDER BY canon"""


def q_cum_distinct(spark, sf_dir):
    """Running distinct count (analytics.cum_distinct): per user, how
    many distinct event types seen so far at each event — the
    vocabulary-growth primitive, two windows, no join."""
    from .operators.analytics import cum_distinct

    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    return cum_distinct(ev, "user_id", "event_id", "event_type").orderBy(
        "k", "o"
    )


def q_cum_distinct_oracle():
    from .operators.analytics import cum_distinct_sql

    return (
        "SELECT * FROM ("
        + cum_distinct_sql(
            "SELECT user_id, event_id, event_type FROM events "
            "WHERE event_id < 3000",
            "user_id",
            "event_id",
            "event_type",
        )
        + ") ORDER BY k, o"
    )


def q_sphere_excess(spark, sf_dir):
    """Spherical polygon area by Girard's excess (geodesic.
    spherical_excess_angles): per-vertex CCW interior angles from two
    forward azimuths in ONE shared expression text, quantized at 1e9
    before the per-polygon integer sum — the geodesic ST_Area companion
    to the planar shoelace.  Vertices generated executor-side with the
    padded-numpy path that is bit-identical to the SQL vertex CTE."""
    import numpy as _np
    import pandas as _pd

    from .functions.geodesic import spherical_excess_angles

    def mk_verts(batches):
        for pdf in batches:
            keys = pdf["s_suppkey"].to_numpy()
            VX, VY, nv = synth.polygon_vertices_padded_np(keys)
            rows = []
            for i, key in enumerate(keys):
                n = int(nv[i])
                for k in range(n):
                    rows.append({
                        "key": int(key), "k": k, "nv": n,
                        "vx": float(VX[i, k]), "vy": float(VY[i, k]),
                    })
            yield _pd.DataFrame(rows)

    verts = (
        _read(spark, sf_dir, "supplier")
        .select("s_suppkey")
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(mk_verts, schema="key long, k long, nv long, vx double, vy double")
    )
    return spherical_excess_angles(verts).orderBy("key")


def q_sphere_excess_oracle():
    from .functions.geodesic import interior_angle_q_sql

    return f"""
WITH {synth.polygon_vertices_sql()},
cur AS (
  SELECT key, k, nv, radians(vx) AS lb, radians(vy) AS pb FROM verts),
prv AS (
  SELECT key, (k + 1) % nv AS k, radians(vx) AS la, radians(vy) AS pa
  FROM verts),
nxt AS (
  SELECT key, (k + nv - 1) % nv AS k, radians(vx) AS lc, radians(vy) AS pc
  FROM verts),
ang AS (
  SELECT cur.key, cur.nv, {interior_angle_q_sql()} AS aq
  FROM cur JOIN prv ON prv.key = cur.key AND prv.k = cur.k
           JOIN nxt ON nxt.key = cur.key AND nxt.k = cur.k)
SELECT key, CAST(nv AS BIGINT) AS nv, CAST(sum(aq) AS BIGINT) AS sum_ang_q
FROM ang GROUP BY 1, 2 ORDER BY key"""


def q_knn_classify(spark, sf_dir):
    """kNN classification (knn.knn_classify, k=7): majority event-type
    among each nation query point's 7 nearest events, ties -> smallest
    label — the exact deterministic neighbor set of the knn gate plus
    one label join and an argmax window."""
    from .operators.knn import knn_classify

    cand = (
        _events_points(spark, sf_dir)
        .withColumnRenamed("event_id", "cand_id")
        .join(
            _read(spark, sf_dir, "events").select(
                F.col("event_id").alias("cand_id"),
                F.col("event_type").alias("label"),
            ),
            "cand_id",
        )
    )
    qlon, qlat = query_lonlat_cols("n_nationkey")
    queries = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("query_id"),
        qlon.alias("qlon"), qlat.alias("qlat"),
    )
    return knn_classify(cand, queries, 7).orderBy("query_id")


def q_knn_classify_oracle():
    from .functions.geometry import haversine_sql

    d = haversine_sql(
        synth.point_lon_sql("e.event_id"), synth.point_lat_sql("e.event_id"),
        synth.query_lon_sql("n.n_nationkey"), synth.query_lat_sql("n.n_nationkey"),
    )
    return f"""
WITH nn AS (
  SELECT query_id, cand_id FROM (
    SELECT n.n_nationkey AS query_id, e.event_id AS cand_id,
           row_number() OVER (PARTITION BY n.n_nationkey
                              ORDER BY {d} ASC, e.event_id ASC) AS rank
    FROM nation n CROSS JOIN events e) t
  WHERE rank <= 7),
votes AS (
  SELECT nn.query_id, ev.event_type AS label,
         CAST(count(*) AS BIGINT) AS votes
  FROM nn JOIN events ev ON ev.event_id = nn.cand_id
  GROUP BY 1, 2),
best AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
       ORDER BY votes DESC, label ASC) AS rn
  FROM votes)
SELECT query_id, label, votes FROM best WHERE rn = 1 ORDER BY query_id"""


def q_spacetime_join(spark, sf_dir):
    """Spatio-temporal pair join (spatial_join.spacetime_join): purchase
    events within 2 quantized degrees AND 1 day of a click event — ONE
    cell equi-join (a-side 3x3 ring explode), exact integer distance and
    time predicates; each pair emitted once."""
    from .operators.spatial_join import spacetime_join

    lon, lat = point_lonlat_cols("event_id")
    ev = _read(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        "event_type",
        lon.alias("lon"), lat.alias("lat"),
        F.floor(lon * 1e5 + 0.12345678987).cast("long").alias("qx"),
        F.floor(lat * 1e5 + 0.12345678987).cast("long").alias("qy"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    a = ev.filter(F.col("event_type") == "click")
    b = ev.filter(F.col("event_type") == "purchase")
    return spacetime_join(
        a, b, r_q=200_000, tau_us=86_400_000_000
    ).orderBy("a_id", "b_id")


def q_spacetime_join_oracle():
    pt = (
        f"SELECT event_id AS id, event_type, "
        f"CAST(floor(({synth.point_lon_sql('event_id')}) * 1.0e5"
        f" + 0.12345678987) AS BIGINT) AS qx, "
        f"CAST(floor(({synth.point_lat_sql('event_id')}) * 1.0e5"
        f" + 0.12345678987) AS BIGINT) AS qy, "
        f"epoch_us(ts) AS ts_us FROM events"
    )
    return f"""
WITH ev AS ({pt})
SELECT a.id AS a_id, b.id AS b_id
FROM ev a JOIN ev b
  ON a.event_type = 'click' AND b.event_type = 'purchase'
 AND (a.qx - b.qx) * (a.qx - b.qx) + (a.qy - b.qy) * (a.qy - b.qy)
     <= CAST(200000 AS BIGINT) * CAST(200000 AS BIGINT)
 AND abs(a.ts_us - b.ts_us) <= 86400000000
ORDER BY a_id, b_id"""


def q_tile_entropy(spark, sf_dir):
    """Per-tile Shannon entropy (tiles.tile_entropy): the
    information-content score for blank/noisy tile filtering — exact
    per-tile histograms, the -p ln p contribution one shared expression
    text quantized per VALUE before the order-independent sum."""
    from .raster.tiles import tile_entropy

    W, H = 448, 256
    tiles = _formula_tiles(spark, W, H, bands=1)
    return tile_entropy(tiles).orderBy("tx", "ty")


def q_tile_entropy_oracle():
    from .raster.tiles import tile_entropy_contrib_sql

    return f"""
WITH px AS (
  SELECT gx.x // 64 AS tx, gy.y // 64 AS ty,
         (gx.x * 7 + gy.y * 13) % 256 AS v
  FROM generate_series(0, 447) gx(x), generate_series(0, 255) gy(y)),
hist AS (
  SELECT tx, ty, v, CAST(count(*) AS BIGINT) AS cnt
  FROM px GROUP BY 1, 2, 3)
SELECT tx, ty, CAST(0 AS INT) AS band,
       CAST(count(*) AS BIGINT) AS n_vals,
       CAST(sum({tile_entropy_contrib_sql(4096)}) AS BIGINT) AS ent_q
FROM hist GROUP BY 1, 2 ORDER BY tx, ty"""


def q_hist_match(spark, sf_dir):
    """Histogram matching / specification (tiles.hist_match): remap band
    0 onto band 1's distribution via the PURE-INTEGER LUT
    lut[v] = argmin_u |cdfA(v)*nR - cdfR(u)*nA| (cross-multiplied, ties
    -> smallest u) — the color-normalization pass before training;
    verified through per-band stats."""
    from .raster.grid import GridGeometry
    from .raster.tiles import band_stats, hist_match

    W, H = 500, 300
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _formula_tiles(spark, W, H, bands=2)
    a = tiles.filter(F.col("band") == 0)
    ref = tiles.filter(F.col("band") == 1).withColumn(
        "band", F.lit(0).cast("int")
    )
    out = hist_match(a, ref, gg)
    return band_stats(out, gg).select(
        "band", "n", "min", "max", "sum", "mean"
    ).orderBy("band")


def q_hist_match_oracle():
    return """
WITH px AS (
  SELECT gx.x AS x, gy.y AS y,
         (gx.x * 7 + gy.y * 13) % 256 AS va,
         (gx.x * 3 + gy.y * 5 + 17) % 256 AS vr
  FROM generate_series(0, 499) gx(x), generate_series(0, 299) gy(y)),
ha AS (
  SELECT b.v, CAST(coalesce(h.cnt, 0) AS BIGINT) AS cnt
  FROM generate_series(0, 255) b(v)
  LEFT JOIN (SELECT va AS v, count(*) AS cnt FROM px GROUP BY 1) h USING (v)),
hr AS (
  SELECT b.v, CAST(coalesce(h.cnt, 0) AS BIGINT) AS cnt
  FROM generate_series(0, 255) b(v)
  LEFT JOIN (SELECT vr AS v, count(*) AS cnt FROM px GROUP BY 1) h USING (v)),
ca AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS c,
              CAST(sum(cnt) OVER () AS BIGINT) AS n FROM ha),
cr AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS c,
              CAST(sum(cnt) OVER () AS BIGINT) AS n FROM hr),
lut AS (
  SELECT v, u FROM (
    SELECT ca.v, cr.v AS u,
           row_number() OVER (PARTITION BY ca.v
             ORDER BY abs(ca.c * cr.n - cr.c * ca.n) ASC, cr.v ASC) AS rn
    FROM ca CROSS JOIN cr) t
  WHERE rn = 1),
sv AS (SELECT lut.u AS s FROM px JOIN lut ON lut.v = px.va)
SELECT CAST(0 AS INT) AS band, count(*) AS n,
       CAST(min(s) AS BIGINT) AS min, CAST(max(s) AS BIGINT) AS max,
       CAST(sum(s) AS BIGINT) AS sum,
       CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
FROM sv GROUP BY 1 ORDER BY band"""


def q_xcorr(spark, sf_dir):
    """Cross-correlation lag sweep (timeseries.xcorr_argmax, lags 0..5)
    between each user's two quantized coordinate signals: exact integer
    inner products per lag, argmax ties to the smaller lag — one bounded
    self-join on (key, rank+lag)."""
    from .operators.timeseries import xcorr_argmax

    lon, lat = point_lonlat_cols("event_id")
    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") < 3000).select(
        "user_id", "event_id",
        F.floor(lon * 100).cast("long").alias("x"),
        F.floor(lat * 100).cast("long").alias("y"),
    )
    return xcorr_argmax(
        ev, max_lag=5, key_col="user_id", order_col="event_id"
    ).orderBy("k")


def q_xcorr_oracle():
    from .operators.timeseries import xcorr_argmax_sql

    base = (
        "SELECT user_id, event_id, "
        f"CAST(floor(({synth.point_lon_sql('event_id')}) * 1.0e2) AS BIGINT) AS x, "
        f"CAST(floor(({synth.point_lat_sql('event_id')}) * 1.0e2) AS BIGINT) AS y "
        "FROM events WHERE event_id < 3000"
    )
    return (
        "SELECT * FROM ("
        + xcorr_argmax_sql(base, 5, key_col="user_id", order_col="event_id")
        + ") ORDER BY k"
    )


def q_assortativity(spark, sf_dir):
    """Degree assortativity moments (graph.degree_assortativity_moments)
    over the documents link graph: Pearson assortativity stays the exact
    rational (m*s_xy - s_x^2)/(m*s_x2 - s_x^2) from four int64 sums over
    directed edge endpoints."""
    from .operators.graph import degree_assortativity_moments

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("src")
    )
    n = docs.count()
    edges = docs.select(
        "src",
        F.explode(F.array(
            (F.col("src") * 7 + 11) % n,
            (F.col("src") * 13 + 5) % n,
            (F.col("src") * 3 + 1) % n,
        )).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return degree_assortativity_moments(edges)


def q_assortativity_oracle():
    from .operators.graph import degree_assortativity_sql

    edges = """
SELECT src, dst FROM (
  SELECT CAST(doc_id AS BIGINT) AS src,
         (CAST(doc_id AS BIGINT) * 7 + 11) % nn.n AS dst
  FROM documents, (SELECT count(*) AS n FROM documents) nn
  UNION ALL
  SELECT CAST(doc_id AS BIGINT),
         (CAST(doc_id AS BIGINT) * 13 + 5) % nn.n
  FROM documents, (SELECT count(*) AS n FROM documents) nn
  UNION ALL
  SELECT CAST(doc_id AS BIGINT),
         (CAST(doc_id AS BIGINT) * 3 + 1) % nn.n
  FROM documents, (SELECT count(*) AS n FROM documents) nn) t
WHERE src <> dst"""
    return degree_assortativity_sql(edges)


def q_hotspot_gi(spark, sf_dir):
    """Hot-spot detection (density.hotspot_gi, Getis-Ord Gi* shape,
    64x64 grid, radius 1, occupied-cell semantics): ring sums and
    global moments exact int64, the z-score one shared expression text
    quantized at 1e6 — the skew-diagnosis view of the cell histogram."""
    from .operators.density import hotspot_gi

    pts = _events_points(spark, sf_dir)
    return hotspot_gi(pts, grid_n=64, radius=1).orderBy("ix", "iy")


def q_hotspot_gi_oracle():
    from .operators.density import hotspot_gi_sql

    return (
        "SELECT * FROM ("
        + hotspot_gi_sql(_points_sql(), 64, 1)
        + ") ORDER BY ix, iy"
    )


def q_cell_change(spark, sf_dir):
    """Two-epoch cell change detection (density.cell_change, 64x64
    grid): even vs odd event ids as the two epochs; exact counts per
    occupied cell (full outer), add-one log-ratio shared-text quantized
    at 1e9 — the temporal-drift view of the spatial histogram."""
    from .operators.density import cell_change

    pts = _events_points(spark, sf_dir)
    a = pts.filter(F.col("event_id") % 2 == 0)
    b = pts.filter(F.col("event_id") % 2 == 1)
    return cell_change(a, b, grid_n=64).orderBy("ix", "iy")


def q_cell_change_oracle():
    from .operators.density import cell_change_sql

    p = _points_sql()
    return (
        "SELECT * FROM ("
        + cell_change_sql(
            f"SELECT * FROM ({p}) pa WHERE event_id % 2 = 0",
            f"SELECT * FROM ({p}) pb WHERE event_id % 2 = 1",
            64,
        )
        + ") ORDER BY ix, iy"
    )


def q_k_anonymity(spark, sf_dir):
    """k-anonymity audit (quality.k_anonymity_violations, k=5) over the
    quasi-identifiers (event_type, coarse cell): the re-identifiable
    groups a privacy gate blocks — one aggregation + filter."""
    from .operators.density import grid_expr
    from .operators.quality import k_anonymity_violations

    pts = _events_points(spark, sf_dir).join(
        _read(spark, sf_dir, "events").select("event_id", "event_type"),
        "event_id",
    ).select(
        "event_type",
        F.expr(grid_expr("x", 16)).alias("ix"),
        F.expr(grid_expr("y", 16)).alias("iy"),
    )
    return k_anonymity_violations(pts, ["event_type", "ix", "iy"], k=5).orderBy(
        "event_type", "ix", "iy"
    )


def q_k_anonymity_oracle():
    from .operators.density import grid_expr
    from .operators.quality import k_anonymity_sql

    base = f"""
SELECT e.event_type,
       {grid_expr('x', 16)} AS ix,
       {grid_expr('y', 16)} AS iy
FROM ({_points_sql()}) p JOIN events e ON e.event_id = p.event_id"""
    return (
        "SELECT * FROM ("
        + k_anonymity_sql(base, ["event_type", "ix", "iy"], 5)
        + ") ORDER BY event_type, ix, iy"
    )


def q_resample_bilinear(spark, sf_dir):
    """Distributed BILINEAR warp on the scale path (resample_gather, the
    nearest gate's geometry): every src fraction is exactly .25/.75, so
    each interpolated value is an exact multiple of 1/16 — the oracle
    replays the four-tap blend verbatim IN EXACT DYADICS, including
    numpy rint's round-HALF-TO-EVEN on the genuine .5 ties (an explicit
    CASE; DuckDB round() alone would round those away from zero).
    Output: per dst tile (n, sum, position-weighted sum)."""
    import numpy as _np
    import pandas as _pd

    from .raster.grid import GridGeometry
    from .raster.tiles import resample_gather

    SW, SH, DW, DH = 256, 192, 384, 288
    src_gg = GridGeometry((0, 0, SW - 1, SH - 1), (0.0625, 0.0, 0.0, 0.0, -0.0625, 12.0))
    dst_gg = GridGeometry((0, 0, DW - 1, DH - 1), (0.03125, 0.0, 0.5, 0.0, -0.03125, 11.5))
    tiles = _formula_tiles(spark, SW, SH, bands=1)
    out = resample_gather(tiles, src_gg, dst_gg, method="bilinear")

    def chk(batches):
        gxs = _np.arange(64, dtype=_np.int64)
        for pdf in batches:
            rows = []
            for tx, ty, band, data in zip(pdf["tx"], pdf["ty"], pdf["band"], pdf["data"]):
                tx, ty = int(tx), int(ty)
                vh = min(64, DH - ty * 64)
                vw = min(64, DW - tx * 64)
                block = _np.frombuffer(data, dtype=_np.uint8).reshape(64, 64)
                GX, GY = _np.meshgrid(tx * 64 + gxs[:vw], ty * 64 + gxs[:vh])
                v = block[:vh, :vw].astype(_np.int64)
                px = GY * DW + GX
                rows.append({
                    "tx": tx, "ty": ty, "band": int(band),
                    "n": int(vh * vw), "s": int(v.sum()),
                    "ws": int((v * px).sum()),
                })
            if rows:
                yield _pd.DataFrame(rows)

    return out.mapInPandas(
        chk, schema="tx long, ty long, band int, n long, s long, ws long"
    ).orderBy("tx", "ty")


def q_resample_bilinear_oracle():
    # merged chain: src_frac = 0.5*dst_px + 7.75 (both axes) -> x0 in
    # [7, 199], y0 in [7, 151]: no edge clamps, no fill.  All arithmetic
    # below is exact dyadic (multiples of 1/16).
    vv = (
        "(v00 * (1 - dx) * (1 - dy) + v10 * dx * (1 - dy)"
        " + v01 * (1 - dx) * dy + v11 * dx * dy)"
    )
    rq = (
        f"CASE WHEN {vv} - floor({vv}) = 0.5"
        f" THEN CAST(floor({vv}) AS BIGINT) + CAST(floor({vv}) AS BIGINT) % 2"
        f" ELSE CAST(round({vv}) AS BIGINT) END"
    )
    return f"""
WITH d AS (
  SELECT gx.x AS x, gy.y AS y
  FROM generate_series(0, 383) gx(x), generate_series(0, 287) gy(y)),
f AS (
  SELECT x, y,
         CAST(floor(0.5 * x + 7.75) AS BIGINT) AS x0,
         (0.5 * x + 7.75) - floor(0.5 * x + 7.75) AS dx,
         CAST(floor(0.5 * y + 7.75) AS BIGINT) AS y0,
         (0.5 * y + 7.75) - floor(0.5 * y + 7.75) AS dy
  FROM d),
v AS (
  SELECT x, y, dx, dy,
         CAST((x0 * 7 + y0 * 13) % 256 AS DOUBLE) AS v00,
         CAST(((x0 + 1) * 7 + y0 * 13) % 256 AS DOUBLE) AS v10,
         CAST((x0 * 7 + (y0 + 1) * 13) % 256 AS DOUBLE) AS v01,
         CAST(((x0 + 1) * 7 + (y0 + 1) * 13) % 256 AS DOUBLE) AS v11
  FROM f),
r AS (SELECT x, y, {rq} AS s FROM v)
SELECT x // 64 AS tx, y // 64 AS ty, CAST(0 AS INT) AS band,
       count(*) AS n, CAST(sum(s) AS BIGINT) AS s,
       CAST(sum(s * (y * 384 + x)) AS BIGINT) AS ws
FROM r GROUP BY 1, 2 ORDER BY tx, ty"""


def q_attribution(spark, sf_dir):
    """First-touch conversion attribution (analytics.
    first_touch_attribution, 30-min gap sessions): each user session
    attributed to its first event type, converted iff it contains a
    purchase — exact integer epoch-second gaps, deterministic
    first-touch (ties -> smallest event id)."""
    from .operators.analytics import first_touch_attribution

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000").alias("t_s"),
    )
    return first_touch_attribution(
        ev, "user_id", "t_s", "event_id", "event_type", "purchase"
    ).orderBy("channel")


def q_attribution_oracle():
    from .operators.analytics import first_touch_attribution_sql

    base = (
        "SELECT user_id, event_id, event_type, "
        "epoch_us(ts) // 1000000 AS t_s FROM events"
    )
    return (
        "SELECT * FROM ("
        + first_touch_attribution_sql(
            base, "user_id", "t_s", "event_id", "event_type", "purchase"
        )
        + ") ORDER BY channel"
    )


def q_rfm(spark, sf_dir):
    """RFM customer scoring (analytics.rfm_scores, quartiles): exact
    integer recency/frequency/monetary metrics per customer, bucket
    labels via deterministic ntile (the window_rank remainder-rule
    lesson); monetary in exact cents."""
    from .operators.analytics import rfm_scores

    o = _read(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long").alias("day"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    return rfm_scores(o, "o_custkey", "day", "cents").orderBy("c")


def q_rfm_oracle():
    from .operators.analytics import rfm_scores_sql

    base = (
        "SELECT o_custkey, "
        "CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)"
        " AS day, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents "
        "FROM orders"
    )
    return (
        "SELECT * FROM ("
        + rfm_scores_sql(base, "o_custkey", "day", "cents")
        + ") ORDER BY c"
    )


def q_prefix_norms(spark, sf_dir):
    """Matryoshka prefix-energy audit (embeddings.prefix_norms, dims
    8/16/32/64): exact int64 sums of squared quantized components per
    prefix — the truncation-quality check before shipping shortened
    embeddings; one posexplode + one conditional aggregation."""
    from .operators.embeddings import prefix_norms

    emb = _read(spark, sf_dir, "embeddings")
    return prefix_norms(emb, [8, 16, 32, 64]).orderBy("id")


def q_prefix_norms_oracle():
    from .operators.embeddings import prefix_norms_sql

    return (
        "SELECT * FROM ("
        + prefix_norms_sql(
            "SELECT vec_id, embedding FROM embeddings", [8, 16, 32, 64]
        )
        + ") ORDER BY id"
    )


def q_sd_ellipse(spark, sf_dir):
    """Standard-deviational-ellipse moments per user (density.
    sd_ellipse_moments): the centrographic dispersion statistic kept as
    exact int64 first/second moments of the quantized track coordinates
    — centroid, orientation and axes are rationals/one trig call away."""
    from .operators.density import sd_ellipse_moments

    lon, lat = point_lonlat_cols("event_id")
    pts = _read(spark, sf_dir, "events").select(
        "user_id",
        F.floor(lon * 1e5 + float(_FRECHET_Q)).cast("long").alias("qx"),
        F.floor(lat * 1e5 + float(_FRECHET_Q)).cast("long").alias("qy"),
    )
    return sd_ellipse_moments(pts, "user_id").orderBy("k")


def q_sd_ellipse_oracle():
    from .operators.density import sd_ellipse_sql

    base = f"""
SELECT user_id,
       CAST(floor(({synth.point_lon_sql('event_id')}) * 1.0e5
                  + {_FRECHET_Q}) AS BIGINT) AS qx,
       CAST(floor(({synth.point_lat_sql('event_id')}) * 1.0e5
                  + {_FRECHET_Q}) AS BIGINT) AS qy
FROM events"""
    return (
        "SELECT * FROM ("
        + sd_ellipse_sql(base, "user_id")
        + ") ORDER BY k"
    )


def q_blockiness(spark, sf_dir):
    """JPEG block-artifact audit per tile (tiles.blockiness, 8-px
    blocks): exact integer |horizontal difference| sums at block
    boundaries vs elsewhere — the compression-quality screen for a
    scraped-image corpus; the oracle replays every column difference of
    the pixel formula."""
    from .raster.tiles import blockiness

    W, H = 448, 256
    tiles = _formula_tiles(spark, W, H, bands=1)
    return blockiness(tiles).orderBy("tx", "ty")


def q_blockiness_oracle():
    return """
WITH d AS (
  SELECT gx.x // 64 AS tx, gy.y // 64 AS ty,
         (gx.x % 64) % 8 = 7 AS is_b,
         abs(((gx.x + 1) * 7 + gy.y * 13) % 256
             - (gx.x * 7 + gy.y * 13) % 256) AS dd
  FROM generate_series(0, 447) gx(x), generate_series(0, 255) gy(y)
  WHERE gx.x % 64 < 63)
SELECT tx, ty, CAST(0 AS INT) AS band,
       CAST(sum(CASE WHEN is_b THEN dd ELSE 0 END) AS BIGINT) AS b_sum,
       CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS b_n,
       CAST(sum(CASE WHEN is_b THEN 0 ELSE dd END) AS BIGINT) AS o_sum,
       CAST(sum(CASE WHEN is_b THEN 0 ELSE 1 END) AS BIGINT) AS o_n
FROM d GROUP BY 1, 2 ORDER BY tx, ty"""


def q_burstiness(spark, sf_dir):
    """Inter-event-time dispersion (timeseries.burstiness_moments): per
    user, exact integer gap moments at second granularity (int64-safe
    for multi-decade spans) — burstiness and CV stay rationals."""
    from .operators.timeseries import burstiness_moments

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000").alias("t_s"),
    )
    return burstiness_moments(ev, "user_id", "t_s", "event_id").orderBy("k")


def q_burstiness_oracle():
    from .operators.timeseries import burstiness_sql

    base = (
        "SELECT user_id, event_id, epoch_us(ts) // 1000000 AS t_s "
        "FROM events"
    )
    return (
        "SELECT * FROM ("
        + burstiness_sql(base, "user_id", "t_s", "event_id")
        + ") ORDER BY k"
    )


def q_od_matrix(spark, sf_dir):
    """Origin-destination flows (density.od_matrix, 32x32 grid):
    consecutive per-user positions aggregated into cell-to-cell trip
    counts — the flow-map primitive; one lag window + one aggregation."""
    from .operators.density import od_matrix

    pts = _events_points(spark, sf_dir).join(
        _read(spark, sf_dir, "events").select("event_id", "user_id"),
        "event_id",
    )
    return od_matrix(pts, grid_n=32).orderBy("oix", "oiy", "dix", "diy")


def q_od_matrix_oracle():
    from .operators.density import od_matrix_sql

    base = (
        f"SELECT e.user_id, p.event_id, p.lon, p.lat "
        f"FROM ({_points_sql()}) p JOIN events e ON e.event_id = p.event_id"
    )
    return (
        "SELECT * FROM ("
        + od_matrix_sql(base, 32)
        + ") ORDER BY oix, oiy, dix, diy"
    )


def q_reciprocity(spark, sf_dir):
    """Directed reciprocity (graph.reciprocity_counts) on the documents
    link graph: the fraction of edges with a reverse edge stays the
    exact rational m_recip/m — one distinct + one semi-join."""
    from .operators.graph import reciprocity_counts

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("src")
    )
    n = docs.count()
    edges = docs.select(
        "src",
        F.explode(F.array(
            (F.col("src") * 7 + 11) % n,
            (F.col("src") * 13 + 5) % n,
            (F.col("src") * 3 + 1) % n,
        )).alias("dst"),
    )
    return reciprocity_counts(edges)


def q_reciprocity_oracle():
    from .operators.graph import reciprocity_sql

    edges = """
SELECT CAST(doc_id AS BIGINT) AS src,
       (CAST(doc_id AS BIGINT) * 7 + 11) % nn.n AS dst
FROM documents, (SELECT count(*) AS n FROM documents) nn
UNION ALL
SELECT CAST(doc_id AS BIGINT), (CAST(doc_id AS BIGINT) * 13 + 5) % nn.n
FROM documents, (SELECT count(*) AS n FROM documents) nn
UNION ALL
SELECT CAST(doc_id AS BIGINT), (CAST(doc_id AS BIGINT) * 3 + 1) % nn.n
FROM documents, (SELECT count(*) AS n FROM documents) nn"""
    return reciprocity_sql(edges)


def q_class_separation(spark, sf_dir):
    """Between-class centroid distances (embeddings.class_separation):
    per label pair, squared centroid distance in quantized units — per-
    dimension terms from exact int64 (label, dim) sums, floor-quantized
    before the order-independent sum; the class-separation audit."""
    from .operators.embeddings import class_separation

    emb = _read(spark, sf_dir, "embeddings")
    return class_separation(emb).orderBy("a", "b")


def q_class_separation_oracle():
    from .operators.embeddings import class_separation_sql

    return (
        "SELECT * FROM ("
        + class_separation_sql("SELECT vec_id, embedding, label FROM embeddings")
        + ") ORDER BY a, b"
    )


def _gc_densify_texts(f_num: int, f_den: int = 4):
    """Shared Spark/DuckDB texts for the great-circle intermediate point
    at fraction f between radian columns (la, pa) and (lb, pb): classic
    spherical slerp over unit 3-vectors; outputs quantized (lat, lon) in
    radians at 1e9.  f enters as an exact rational literal."""
    f = f"(CAST({f_num} AS DOUBLE) / {f_den}.0)"
    d = (
        "acos(least(greatest(sin(pa) * sin(pb)"
        " + cos(pa) * cos(pb) * cos(lb - la), -1.0), 1.0))"
    )
    wa = f"(sin((1.0 - {f}) * ({d})) / sin({d}))"
    wb = f"(sin({f} * ({d})) / sin({d}))"
    x = f"({wa} * cos(pa) * cos(la) + {wb} * cos(pb) * cos(lb))"
    y = f"({wa} * cos(pa) * sin(la) + {wb} * cos(pb) * sin(lb))"
    z = f"({wa} * sin(pa) + {wb} * sin(pb))"
    lat = f"atan2({z}, sqrt({x} * {x} + {y} * {y}))"
    lon = f"atan2({y}, {x})"
    q = "CAST(floor(({e}) * 1.0e9 + 0.12345678987) AS BIGINT)"
    return q.format(e=lat), q.format(e=lon)


def q_gc_densify(spark, sf_dir):
    """Great-circle densification (the geodesic segment interpolator —
    flight-path rendering / segment splitting): intermediate points at
    fractions 1/4, 1/2, 3/4 between each event point and its query
    point by spherical slerp — one shared expression text per fraction,
    quantized radians at 1e9."""
    lon1, lat1 = point_lonlat_cols("event_id")
    lon2, lat2 = query_lonlat_cols("event_id")
    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") < 4000).select(
        "event_id",
        F.radians(lon1).alias("la"),
        F.radians(lat1).alias("pa"),
        F.radians(lon2).alias("lb"),
        F.radians(lat2).alias("pb"),
    )
    parts = []
    for fn in (1, 2, 3):
        lat_t, lon_t = _gc_densify_texts(fn)
        parts.append(
            ev.select(
                "event_id",
                F.lit(fn).cast("long").alias("f_num"),
                F.expr(lat_t).alias("lat_q"),
                F.expr(lon_t).alias("lon_q"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("event_id", "f_num")


def q_gc_densify_oracle():
    sels = []
    for fn in (1, 2, 3):
        lat_t, lon_t = _gc_densify_texts(fn)
        sels.append(
            f"SELECT event_id, CAST({fn} AS BIGINT) AS f_num, "
            f"{lat_t} AS lat_q, {lon_t} AS lon_q FROM pts"
        )
    u = "\nUNION ALL\n".join(sels)
    return f"""
WITH pts AS (
  SELECT event_id,
         radians({synth.point_lon_sql('event_id')}) AS la,
         radians({synth.point_lat_sql('event_id')}) AS pa,
         radians({synth.query_lon_sql('event_id')}) AS lb,
         radians({synth.query_lat_sql('event_id')}) AS pb
  FROM events WHERE event_id < 4000)
SELECT * FROM ({u}) z ORDER BY event_id, f_num"""


def q_token_sort_dedup(spark, sf_dir):
    """Word-order-robust dedup keys (textops.token_sort_dedup): the
    space-joined SORTED token multiset as canonical key (md5-carried) —
    reordered near-copies collide; exact group sizes + representative."""
    from .operators.textops import token_sort_dedup

    docs = _read(spark, sf_dir, "documents")
    return token_sort_dedup(docs).orderBy("key_hash")


def q_token_sort_dedup_oracle():
    from .operators.textops import token_sort_dedup_sql

    return (
        "SELECT * FROM ("
        + token_sort_dedup_sql("SELECT doc_id, text FROM documents")
        + ") ORDER BY key_hash"
    )


def q_vec_topk_dims(spark, sf_dir):
    """Per-vector top-3 salient dimensions (embeddings.vec_topk_dims):
    |quantized value| argmax with deterministic ties — the
    sparsification audit; one posexplode + one rank window."""
    from .operators.embeddings import vec_topk_dims

    emb = _read(spark, sf_dir, "embeddings")
    return vec_topk_dims(emb, k=3).orderBy("id", "rank")


def q_vec_topk_dims_oracle():
    from .operators.embeddings import vec_topk_dims_sql

    return (
        "SELECT * FROM ("
        + vec_topk_dims_sql("SELECT vec_id, embedding FROM embeddings", 3)
        + ") ORDER BY id, rank"
    )


def q_temporal_split(spark, sf_dir):
    """Temporal-leakage-safe group split (sampling.temporal_group_split,
    3 splits): users cut into contiguous first-seen-time ntile buckets —
    whole groups per split, later groups never leak earlier; exact
    integer epochs, deterministic ties."""
    from .operators.sampling import temporal_group_split

    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    return temporal_group_split(ev, n_splits=3).orderBy("k")


def q_temporal_split_oracle():
    from .operators.sampling import temporal_group_split_sql

    base = "SELECT user_id, epoch_us(ts) AS ts_us FROM events"
    return (
        "SELECT * FROM ("
        + temporal_group_split_sql(base, 3)
        + ") ORDER BY k"
    )


def q_hampel(spark, sf_dir):
    """Hampel spike flags (timeseries.hampel_flags, window 2, k=3,
    decomposed-MAD variant): exact window medians via array_sort over
    collect_list (lower-median rule both engines), integer
    cross-comparison flag — the spike-cleaning sibling of
    rolling_median."""
    from .operators.timeseries import hampel_flags

    lon, _ = point_lonlat_cols("event_id")
    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") < 3000).select(
        "user_id", "event_id",
        F.floor(lon * 100).cast("long").alias("x"),
    )
    return hampel_flags(ev).orderBy("k", "o")


def q_hampel_oracle():
    from .operators.timeseries import hampel_flags_sql

    base = (
        "SELECT user_id, event_id, "
        f"CAST(floor(({synth.point_lon_sql('event_id')}) * 1.0e2) AS BIGINT) AS x "
        "FROM events WHERE event_id < 3000"
    )
    return (
        "SELECT * FROM (" + hampel_flags_sql(base) + ") ORDER BY k, o"
    )


def q_decision_stump(spark, sf_dir):
    """Best Gini split per return flag (analytics.decision_stump over
    lineitem: x = quantity, label = discount > 0.05): exact int64 prefix
    sums score every candidate threshold; the argmax quotient is the
    only FP step and ties break to the smallest threshold."""
    from .operators.analytics import decision_stump

    li = _read(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        (F.col("l_discount") > 0.05).cast("long").alias("y"),
    )
    return decision_stump(li, "l_returnflag", "x", "y").orderBy("k")


def q_decision_stump_oracle():
    from .operators.analytics import decision_stump_sql

    base = (
        "SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x, "
        "CAST(l_discount > 0.05 AS BIGINT) AS y FROM lineitem"
    )
    return (
        "SELECT * FROM ("
        + decision_stump_sql(base, "l_returnflag", "x", "y")
        + ") ORDER BY k"
    )


def q_assoc_rules(spark, sf_dir):
    """Pairwise association rules over order baskets
    (analytics.assoc_rules: basket = orderkey, item = partkey mod 20):
    support/confidence/lift left as exact integer numerators and
    denominators; the pair table is pruned by min_support before the
    single-count joins."""
    from .operators.analytics import assoc_rules

    li = _read(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("bk"),
        (F.col("l_partkey") % 20).cast("long").alias("it"),
    )
    return assoc_rules(li, "bk", "it", min_support=3).orderBy("a", "b")


def q_assoc_rules_oracle():
    from .operators.analytics import assoc_rules_sql

    base = (
        "SELECT l_orderkey AS bk, CAST(l_partkey % 20 AS BIGINT) AS it "
        "FROM lineitem"
    )
    return (
        "SELECT * FROM ("
        + assoc_rules_sql(base, "bk", "it", min_support=3)
        + ") ORDER BY a, b"
    )


def q_markov_transitions(spark, sf_dir):
    """Empirical Markov transition matrix over per-user event-type
    sequences (analytics.markov_transitions, ordered by event_id):
    transition and marginal counts exact int64; the probability stays
    the rational n_trans/n_from."""
    from .operators.analytics import markov_transitions

    ev = _read(spark, sf_dir, "events")
    return markov_transitions(
        ev, "user_id", "event_id", "event_type"
    ).orderBy("from_state", "to_state")


def q_markov_transitions_oracle():
    from .operators.analytics import markov_transitions_sql

    return (
        "SELECT * FROM ("
        + markov_transitions_sql(
            "SELECT user_id, event_id, event_type FROM events",
            "user_id",
            "event_id",
            "event_type",
        )
        + ") ORDER BY from_state, to_state"
    )


def q_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier life table over synthetic durations from orders
    (analytics.kaplan_meier: t = orderkey mod 50, event = status 'F'):
    at-risk/death/censor counts exact; the survival curve is the running
    sum of per-step ln(1 - d/n) terms floor-quantized at 1e9 BEFORE the
    cumulative sum, so the curve is order-independent int64."""
    from .operators.analytics import kaplan_meier

    o = _read(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 50).cast("long").alias("t"),
        (F.col("o_orderstatus") == "F").cast("long").alias("e"),
    )
    return kaplan_meier(o, "t", "e").orderBy("t")


def q_kaplan_meier_oracle():
    from .operators.analytics import kaplan_meier_sql

    base = (
        "SELECT CAST(o_orderkey % 50 AS BIGINT) AS t, "
        "CAST(o_orderstatus = 'F' AS BIGINT) AS e FROM orders"
    )
    return (
        "SELECT * FROM (" + kaplan_meier_sql(base, "t", "e") + ") ORDER BY t"
    )


def _texture_v_sql(x: str, y: str) -> str:
    """Quadratic texture formula (rich octant/code variety, values 0..255):
    shared text for the DuckDB oracles of the texture gates."""
    return (f"(3 * ({x}) * ({x}) + 7 * ({x}) * ({y}) + 5 * ({y}) * ({y}) "
            f"+ 11 * ({x}) + 13 * ({y})) % 256")


def _texture_tiles(spark, w: int, h: int, tile_size: int = 64):
    """Distributed quadratic-formula raster (band 0 only), the engine twin
    of ``_texture_v_sql`` — same mapInPandas layout as ``_formula_tiles``."""
    import numpy as _np
    import pandas as _pd

    from .raster.tiles import TILE_SCHEMA

    ntx = (w + tile_size - 1) // tile_size
    nty = (h + tile_size - 1) // tile_size
    ids = spark.range(ntx * nty).repartition(
        min(ntx * nty, spark.sparkContext.defaultParallelism)
    )

    def fill(batches):
        gxs = _np.arange(tile_size, dtype=_np.int64)
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                t = int(i)
                tx, ty = t % ntx, t // ntx
                GX, GY = _np.meshgrid(tx * tile_size + gxs,
                                      ty * tile_size + gxs)
                block = (3 * GX * GX + 7 * GX * GY + 5 * GY * GY
                         + 11 * GX + 13 * GY) % 256
                block = _np.where((GX < w) & (GY < h), block, 0).astype(
                    _np.uint8
                )
                rows.append({"tx": tx, "ty": ty, "band": 0,
                             "data": block.tobytes()})
            yield _pd.DataFrame(rows)

    return ids.mapInPandas(fill, TILE_SCHEMA)


def _texture_tiles_multi(spark, w: int, h: int, shifts, tile_size: int = 64):
    """Multi-band twin of ``_texture_tiles``: band b samples the texture
    formula at (x + shifts[b][0], y + shifts[b][1])."""
    import numpy as _np
    import pandas as _pd

    from .raster.tiles import TILE_SCHEMA

    ntx = (w + tile_size - 1) // tile_size
    nty = (h + tile_size - 1) // tile_size
    ids = spark.range(ntx * nty).repartition(
        min(ntx * nty, spark.sparkContext.defaultParallelism)
    )
    shifts = [tuple(s) for s in shifts]

    def fill(batches):
        gxs = _np.arange(tile_size, dtype=_np.int64)
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                t = int(i)
                tx, ty = t % ntx, t // ntx
                GX, GY = _np.meshgrid(tx * tile_size + gxs,
                                      ty * tile_size + gxs)
                for b, (sx, sy) in enumerate(shifts):
                    X, Y = GX + sx, GY + sy
                    block = (3 * X * X + 7 * X * Y + 5 * Y * Y
                             + 11 * X + 13 * Y) % 256
                    block = _np.where((GX < w) & (GY < h), block, 0).astype(
                        _np.uint8
                    )
                    rows.append({"tx": tx, "ty": ty, "band": b,
                                 "data": block.tobytes()})
            yield _pd.DataFrame(rows)

    return ids.mapInPandas(fill, TILE_SCHEMA)


def q_laplacian(spark, sf_dir):
    """Level-1 Laplacian-pyramid detail energy (tiles.
    laplacian_energy_tiles): L = tile - nearest-upsample(stride-2
    decimation), exact int64 (sum|L|, sum L^2) per tile — tile-local,
    no halo."""
    from .raster.grid import GridGeometry
    from .raster.tiles import laplacian_energy_tiles

    W, H = 448, 256
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _texture_tiles(spark, W, H)
    return laplacian_energy_tiles(tiles, gg).orderBy("tx", "ty")


def q_laplacian_oracle():
    W, H, T = 448, 256, 64
    v = _texture_v_sql("gx.x", "gy.y")
    u = _texture_v_sql("2 * (gx.x // 2)", "2 * (gy.y // 2)")
    return f"""
WITH px AS (
  SELECT gx.x // {T} AS tx, gy.y // {T} AS ty,
         ({v}) - ({u}) AS l
  FROM generate_series(0, {W - 1}) gx(x), generate_series(0, {H - 1}) gy(y))
SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
       CAST(sum(abs(l)) AS BIGINT) AS sum_abs,
       CAST(sum(l * l) AS BIGINT) AS sum_sq,
       CAST(count(*) AS BIGINT) AS n
FROM px GROUP BY 1, 2 ORDER BY tx, ty"""


def q_brovey(spark, sf_dir):
    """Brovey pansharpening (tiles.brovey_tiles): out_b = pan * m_b * 3
    // max(r+g+b, 1) clamped 255 — exact integer ratio transform fused
    tile-locally by cogroup; gate output is the per-(tile, band)
    (count, sum) of the sharpened planes."""
    import numpy as _np
    import pandas as _pd

    from .raster.grid import GridGeometry
    from .raster.tiles import brovey_tiles

    W, H = 448, 256
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    ms = _texture_tiles_multi(spark, W, H, [(0, 0), (17, 0), (34, 0)])
    pan = _texture_tiles_multi(spark, W, H, [(0, 31)])
    out = brovey_tiles(ms, pan, gg)

    def stats(batches):
        for pdf in batches:
            rows = []
            for tx, ty, b, data in zip(pdf["tx"], pdf["ty"],
                                       pdf["band"], pdf["data"]):
                blk = _np.frombuffer(data, _np.uint8).astype(_np.int64)
                rows.append({"tx": int(tx), "ty": int(ty), "band": int(b),
                             "n": int(blk.size), "s": int(blk.sum())})
            if rows:
                yield _pd.DataFrame(rows)

    return out.mapInPandas(
        stats, schema="tx long, ty long, band long, n long, s long"
    ).orderBy("tx", "ty", "band")


def q_brovey_oracle():
    W, H, T = 448, 256, 64
    v = _texture_v_sql
    r, g, b = (v(f"gx.x + {s}", "gy.y") for s in (0, 17, 34))
    p = v("gx.x", "gy.y + 31")
    return f"""
WITH px AS MATERIALIZED (
  SELECT gx.x // {T} AS tx, gy.y // {T} AS ty,
         ({r}) AS r, ({g}) AS g, ({b}) AS b, ({p}) AS p
  FROM generate_series(0, {W - 1}) gx(x), generate_series(0, {H - 1}) gy(y)),
m AS (
  SELECT tx, ty, band,
         least(p * mb * 3 // greatest(r + g + b, 1), 255) AS o
  FROM px, (VALUES (0), (1), (2)) bb(band),
       LATERAL (SELECT CASE band WHEN 0 THEN r WHEN 1 THEN g ELSE b END
                AS mb) s)
SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
       CAST(band AS BIGINT) AS band,
       CAST(count(*) AS BIGINT) AS n, CAST(sum(o) AS BIGINT) AS s
FROM m GROUP BY 1, 2, 3 ORDER BY tx, ty, band"""


def q_demosaic(spark, sf_dir):
    """Bilinear RGGB demosaic (terrain.demosaic_tiles, x4-scaled integer
    spec): per-(tile) sums of the reconstructed R/G/B planes over
    interior pixels — 1-px halo, no division anywhere."""
    import numpy as _np
    import pandas as _pd

    from .raster.grid import GridGeometry
    from .raster.terrain import demosaic_tiles

    W, H = 448, 256
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _texture_tiles(spark, W, H)
    out = demosaic_tiles(tiles, gg)

    def stats(batches):
        for pdf in batches:
            acc = {}
            for tx, ty, b, data in zip(pdf["tx"], pdf["ty"],
                                       pdf["band"], pdf["data"]):
                blk = _np.frombuffer(data, "<u2").astype(_np.int64)
                acc.setdefault((int(tx), int(ty)), {})[int(b)] = int(
                    blk.sum())
            rows = [
                {"tx": k[0], "ty": k[1], "sr": v.get(0, 0),
                 "sg": v.get(1, 0), "sb": v.get(2, 0)}
                for k, v in acc.items()
            ]
            if rows:
                yield _pd.DataFrame(rows)

    return out.mapInPandas(
        stats, schema="tx long, ty long, sr long, sg long, sb long"
    ).orderBy("tx", "ty")


def q_demosaic_oracle():
    W, H, T = 448, 256, 64
    v = _texture_v_sql
    m = v("gx.x", "gy.y")
    edges = " + ".join(v(f"gx.x + {dx}", f"gy.y + {dy}")
                       for dx, dy in ((0, -1), (0, 1), (-1, 0), (1, 0)))
    diags = " + ".join(v(f"gx.x + {dx}", f"gy.y + {dy}")
                       for dx, dy in ((-1, -1), (-1, 1), (1, -1), (1, 1)))
    ns = " + ".join(v("gx.x", f"gy.y + {dy}") for dy in (-1, 1))
    ew = " + ".join(v(f"gx.x + {dx}", "gy.y") for dx in (-1, 1))
    return f"""
WITH px AS (
  SELECT gx.x // {T} AS tx, gy.y // {T} AS ty,
         gx.x % 2 = 0 AS ex, gy.y % 2 = 0 AS ey,
         ({m}) AS m, ({edges}) AS edges, ({diags}) AS diags,
         ({ns}) AS ns, ({ew}) AS ew
  FROM generate_series(1, {W - 2}) gx(x), generate_series(1, {H - 2}) gy(y))
SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
       CAST(sum(CASE WHEN ex AND ey THEN 4 * m
                     WHEN NOT ex AND ey THEN 2 * ew
                     WHEN ex AND NOT ey THEN 2 * ns
                     ELSE diags END) AS BIGINT) AS sr,
       CAST(sum(CASE WHEN ex = ey THEN edges ELSE 4 * m END) AS BIGINT)
         AS sg,
       CAST(sum(CASE WHEN NOT ex AND NOT ey THEN 4 * m
                     WHEN ex AND NOT ey THEN 2 * ew
                     WHEN NOT ex AND ey THEN 2 * ns
                     ELSE diags END) AS BIGINT) AS sb
FROM px GROUP BY 1, 2 ORDER BY tx, ty"""


def q_lbp(spark, sf_dir):
    """Local Binary Pattern texture histogram (terrain.lbp_tiles): 8-bit
    neighbor-comparison codes per interior pixel, per-tile (code, cnt)
    rows — exact integers, one halo gather; the texture fingerprint an
    image-curation pipeline buckets corpora by."""
    from .raster.grid import GridGeometry
    from .raster.terrain import lbp_tiles

    W, H = 448, 256
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _texture_tiles(spark, W, H)
    return lbp_tiles(tiles, gg).orderBy("tx", "ty", "code")


def q_lbp_oracle():
    v = _texture_v_sql
    bits = []
    offs = [(-1, -1), (0, -1), (1, -1), (1, 0), (1, 1), (0, 1), (-1, 1),
            (-1, 0)]  # (dx, dy) for bits 0..7, clockwise from top-left
    for i, (dx, dy) in enumerate(offs):
        nb = v(f"x + {dx}", f"y + {dy}")
        bits.append(f"(CASE WHEN {nb} >= c THEN {1 << i} ELSE 0 END)")
    return f"""
WITH px AS (
  SELECT gx.x AS x, gy.y AS y, {v('gx.x', 'gy.y')} AS c
  FROM generate_series(1, 446) gx(x), generate_series(1, 254) gy(y)),
cd AS (
  SELECT x // 64 AS tx, y // 64 AS ty,
         {' + '.join(bits)} AS code
  FROM px)
SELECT tx, ty, CAST(code AS BIGINT) AS code,
       CAST(count(*) AS BIGINT) AS cnt
FROM cd GROUP BY 1, 2, 3 ORDER BY tx, ty, code"""


def q_hog(spark, sf_dir):
    """Oriented-gradient histogram, 8 exact octants (terrain.hog_tiles):
    doubled central differences stay integer, octant = integer
    sign/magnitude ladder, weight = L1 magnitude — the HOG cell stage
    per tile, all int64."""
    from .raster.grid import GridGeometry
    from .raster.terrain import hog_tiles

    W, H = 448, 256
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _texture_tiles(spark, W, H)
    return hog_tiles(tiles, gg).orderBy("tx", "ty")


def q_hog_oracle():
    from .raster.terrain import hog_octant_sql

    v = _texture_v_sql
    sums = ",\n       ".join(
        f"CAST(coalesce(sum(CASE WHEN k = {i} THEN w END), 0) AS BIGINT) "
        f"AS s{i}"
        for i in range(8)
    )
    return f"""
WITH g AS (
  SELECT gx.x // 64 AS tx, gy.y // 64 AS ty,
         ({v('gx.x + 1', 'gy.y')}) - ({v('gx.x - 1', 'gy.y')}) AS gxv,
         ({v('gx.x', 'gy.y + 1')}) - ({v('gx.x', 'gy.y - 1')}) AS gyv
  FROM generate_series(1, 446) gx(x), generate_series(1, 254) gy(y)),
o AS (
  SELECT tx, ty, {hog_octant_sql('gxv', 'gyv')} AS k,
         abs(gxv) + abs(gyv) AS w
  FROM g)
SELECT tx, ty,
       {sums}
FROM o GROUP BY 1, 2 ORDER BY tx, ty"""


def q_morans_i(spark, sf_dir):
    """Global Moran's I moments (density.morans_i, 64x64 grid, rook
    adjacency over occupied cells): the one-number clustered-vs-dispersed
    diagnostic of the cell histogram — numerator/denominator pinned as
    exact int64 via the N*x - S deviation scaling; only the initial cell
    histogram touches input-sized data."""
    from .operators.density import morans_i

    pts = _events_points(spark, sf_dir)
    return morans_i(pts, grid_n=64)


def q_morans_i_oracle():
    from .operators.density import morans_i_sql

    return morans_i_sql(_points_sql(), 64)


def q_geary_c(spark, sf_dir):
    """Global Geary's C moments (density.geary_c, 64x64 grid, rook
    adjacency over occupied cells): the local-contrast complement of
    Moran's I — squared-difference numerator exact on raw counts, the
    denominator reuses the N*x - S deviation scaling; only the initial
    cell histogram touches input-sized data."""
    from .operators.density import geary_c

    pts = _events_points(spark, sf_dir)
    return geary_c(pts, grid_n=64)


def q_geary_c_oracle():
    from .operators.density import geary_c_sql

    return geary_c_sql(_points_sql(), 64)


_EHS_EPOCHS = 8


def q_emerging_hotspot(spark, sf_dir):
    """Per-cell Mann-Kendall trend of epoch counts (density.
    emerging_hotspot, 32x32 grid, 8 epochs = event_id % 8): the
    "emerging hot spot" S statistic with missing epochs counted as 0 —
    one input-sized histogram, then pairs over the tiny dense
    cell x epoch table."""
    from .operators.density import emerging_hotspot

    ev = _read(spark, sf_dir, "events")
    lon, lat = point_lonlat_cols("event_id")
    pts = ev.select(
        lon.alias("lon"), lat.alias("lat"),
        (F.col("event_id") % _EHS_EPOCHS).alias("epoch"),
    )
    return emerging_hotspot(
        pts, grid_n=32, epoch_col="epoch", n_epochs=_EHS_EPOCHS
    ).orderBy("ix", "iy")


def q_emerging_hotspot_oracle():
    from .operators.density import emerging_hotspot_sql

    return (
        "SELECT * FROM ("
        + emerging_hotspot_sql(
            _points_sql() + " ",
            32,
            f"event_id % {_EHS_EPOCHS}",
            _EHS_EPOCHS,
        )
        + ") ORDER BY ix, iy"
    )


def q_knox(spark, sf_dir):
    """Knox space-time interaction counts (density.knox_counts,
    r = 0.2 deg quantized, tau = 50 on a formula-shuffled clock): the
    2x2 pair contingency via cell-bin + time-bin probes — each unordered
    pair counted once by the (t, id) guard, NO all-pairs join on the
    engine side (the oracle brute-forces the definition)."""
    from .operators.density import knox_counts

    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    lon, lat = point_lonlat_cols("event_id")
    pts = ev.select(
        F.col("event_id").alias("id"),
        (F.col("event_id") * 7919 % 86400).alias("t"),
        lon.alias("lon"), lat.alias("lat"),
    )
    return knox_counts(pts, r_quant=20000, tau=50)


def q_knox_oracle():
    from .operators.density import knox_counts_sql

    base = (
        "SELECT event_id AS pid, event_id * 7919 % 86400 AS t, "
        f"{synth.point_lon_sql('event_id')} AS lon, "
        f"{synth.point_lat_sql('event_id')} AS lat "
        "FROM events WHERE event_id < 4000"
    )
    return knox_counts_sql(base, r_quant=20000, tau=50)


def q_ripley_pairs(spark, sf_dir):
    """Ripley's K pair counts (density.ripley_pairs, radii 0.2/0.4/0.8 deg
    at 1e5 quantization): second-order point-pattern statistic via
    cell-binned candidate join (cell side = r_max) + exact integer d^2
    verify — the all-pairs definition never materializes."""
    from .operators.density import ripley_pairs

    pts = _events_points(spark, sf_dir)
    return ripley_pairs(pts, [20000, 40000, 80000])


def q_ripley_pairs_oracle():
    from .operators.density import ripley_pairs_sql

    return ripley_pairs_sql(_points_sql(), [20000, 40000, 80000],
                            id_col="event_id")


def q_image_moments(spark, sf_dir):
    """Raw image moments per tile (tiles.moments_tiles): exact int64
    weighted-coordinate sums m00..m02 in global pixel coordinates — the
    distributed building blocks of centroid/orientation shape features;
    per-tile partials add, zero shuffles."""
    from .raster.tiles import moments_tiles

    tiles = _formula_tiles(spark, 448, 256, bands=1)
    return moments_tiles(tiles).orderBy("tx", "ty")


def q_image_moments_oracle():
    return """
WITH px AS (
  SELECT gx.x // 64 AS tx, gy.y // 64 AS ty,
         gx.x AS x, gy.y AS y,
         (gx.x * 7 + gy.y * 13) % 256 AS v
  FROM generate_series(0, 447) gx(x), generate_series(0, 255) gy(y))
SELECT tx, ty, CAST(0 AS INT) AS band,
       CAST(sum(v) AS BIGINT) AS m00,
       CAST(sum(x * v) AS BIGINT) AS m10,
       CAST(sum(y * v) AS BIGINT) AS m01,
       CAST(sum(x * y * v) AS BIGINT) AS m11,
       CAST(sum(x * x * v) AS BIGINT) AS m20,
       CAST(sum(y * y * v) AS BIGINT) AS m02
FROM px GROUP BY 1, 2 ORDER BY tx, ty"""


def q_auc_exact(spark, sf_dir):
    """Exact ROC AUC via the Mann-Whitney identity (analytics.auc_exact):
    2*concordant + ties over 2*P*N as exact int64, computed from per-score
    counts + a window cumsum — no pair ever materialized, one shuffle."""
    from .operators.analytics import auc_exact

    d = _read(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 997).cast("long").alias("s"),
        (F.col("o_custkey") % 3 == 0).cast("long").alias("y"),
    )
    return auc_exact(d, "s", "y")


def q_auc_exact_oracle():
    from .operators.analytics import auc_exact_sql

    base = (
        "SELECT CAST(o_orderkey % 997 AS BIGINT) AS s, "
        "CAST(o_custkey % 3 = 0 AS BIGINT) AS y FROM orders"
    )
    return auc_exact_sql(base, "s", "y")


def q_ranking_metrics(spark, sf_dir):
    """Retrieval evaluation per key (analytics.ranking_metrics): rank each
    customer's orders by price, then first relevant rank, integer-quantized
    MRR (2^20 DIV rank) and precision@5 — one window + one aggregation."""
    from .operators.analytics import ranking_metrics

    d = _read(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderkey",
        (F.col("o_orderstatus") == "F").cast("long").alias("rel"),
    )
    return ranking_metrics(
        d, "o_custkey", "o_totalprice", "o_orderkey", "rel", k=5
    ).orderBy("k")


def q_ranking_metrics_oracle():
    from .operators.analytics import ranking_metrics_sql

    base = (
        "SELECT o_custkey, o_totalprice, o_orderkey, "
        "CAST(o_orderstatus = 'F' AS BIGINT) AS rel FROM orders"
    )
    return (
        "SELECT * FROM ("
        + ranking_metrics_sql(
            base, "o_custkey", "o_totalprice", "o_orderkey", "rel", k=5
        )
        + ") ORDER BY k"
    )


def q_calibration_bins(spark, sf_dir):
    """Reliability-diagram bins (analytics.calibration_bins, 10 bins over
    integer scores in [0, 997)): per-bin count / positives / score sum as
    exact int64 map-side-combined partials — the ECE input table."""
    from .operators.analytics import calibration_bins

    d = _read(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 997).cast("long").alias("s"),
        (F.col("o_custkey") % 3 == 0).cast("long").alias("y"),
    )
    return calibration_bins(d, "s", "y", n_bins=10, score_max=997).orderBy(
        "bin"
    )


def q_calibration_bins_oracle():
    from .operators.analytics import calibration_bins_sql

    base = (
        "SELECT CAST(o_orderkey % 997 AS BIGINT) AS s, "
        "CAST(o_custkey % 3 = 0 AS BIGINT) AS y FROM orders"
    )
    return (
        "SELECT * FROM ("
        + calibration_bins_sql(base, "s", "y", 10, 997)
        + ") ORDER BY bin"
    )


def q_line_dedup(spark, sf_dir):
    """CCNet/C4-style duplicated-line removal (textops.line_dedup,
    8-token lines, max corpus frequency 2): explode -> one corpus-wide
    frequency agg -> join back -> ordered per-doc reassembly; the
    paragraph-dedup stage of a web-corpus pipeline."""
    from .operators.textops import line_dedup

    return line_dedup(
        _read(spark, sf_dir, "documents"), line_tokens=8, max_df=2
    ).orderBy("doc_id")


def q_line_dedup_oracle():
    from .operators.textops import line_dedup_sql

    return (
        "SELECT * FROM ("
        + line_dedup_sql("documents", 8, 2)
        + ") ORDER BY doc_id"
    )


def q_benford(spark, sf_dir):
    """Benford first-digit audit (quality.benford_digits) of order totals
    (exact integer cents) per order priority — the synthetic-data /
    fraud smell test as one map-side combined aggregation."""
    from .operators.quality import benford_digits

    d = _read(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return benford_digits(d, "cents", "o_orderpriority").orderBy(
        "grp", "digit"
    )


def q_benford_oracle():
    from .operators.quality import benford_digits_sql

    base = (
        "SELECT o_orderpriority, CAST(o_totalprice * 100 AS BIGINT) AS cents "
        "FROM orders"
    )
    return (
        "SELECT * FROM ("
        + benford_digits_sql(base, "cents", "o_orderpriority")
        + ") ORDER BY grp, digit"
    )


def q_circular_mean(spark, sf_dir):
    """Circular statistics of track headings (trajectory.heading_resultant):
    per-user quantized resultant of segment unit vectors — no trig (unit
    components are dx / sqrt(dx^2+dy^2), one correctly-rounded sqrt),
    per-segment quantization before the order-independent integer sum."""
    from .operators.trajectory import heading_resultant

    pts = _traj_pts_df(spark, sf_dir).select(
        F.col("user_id").alias("k"), F.col("rn").alias("o"),
        F.col("qx").alias("x"), F.col("qy").alias("y"),
    )
    return heading_resultant(pts).orderBy("k")


def q_circular_mean_oracle():
    from .operators.trajectory import heading_resultant_sql

    return (
        "SELECT * FROM ("
        + heading_resultant_sql(_traj_pts_sql())
        + ") ORDER BY k"
    )


_DOC_EDGES_SQL = """
SELECT CAST(doc_id AS BIGINT) AS s,
       (CAST(doc_id AS BIGINT) * 7 + 11) % nn.n AS d
FROM documents, (SELECT count(*) AS n FROM documents) nn
UNION ALL
SELECT CAST(doc_id AS BIGINT),
       (CAST(doc_id AS BIGINT) * 13 + 5) % nn.n
FROM documents, (SELECT count(*) AS n FROM documents) nn
UNION ALL
SELECT CAST(doc_id AS BIGINT),
       (CAST(doc_id AS BIGINT) * 3 + 1) % nn.n
FROM documents, (SELECT count(*) AS n FROM documents) nn"""


def _doc_edges(spark, sf_dir):
    """Closed-form doc link graph (the pagerank gate's), directed,
    NOT deduplicated — consumers dedup/symmetrize per their semantics."""
    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("src")
    )
    n = docs.count()
    return docs.select(
        "src",
        F.explode(F.array(
            (F.col("src") * 7 + 11) % n,
            (F.col("src") * 13 + 5) % n,
            (F.col("src") * 3 + 1) % n,
        )).alias("dst"),
    )


def q_label_prop(spark, sf_dir):
    """Deterministic majority label propagation (graph.label_prop, 3
    synchronous rounds, self-vote, ties -> smallest label) over the
    closed-form doc graph — community detection as join + count + pick
    rounds; the oracle unrolls the rounds as MATERIALIZED CTEs."""
    from .operators.graph import label_prop

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("node")
    )
    return label_prop(_doc_edges(spark, sf_dir), docs, rounds=3).orderBy(
        "node"
    )


def q_label_prop_oracle():
    from .operators.graph import label_prop_sql

    nodes = "SELECT CAST(doc_id AS BIGINT) AS n FROM documents"
    return (
        "SELECT * FROM ("
        + label_prop_sql(_DOC_EDGES_SQL, nodes, rounds=3)
        + ") ORDER BY node"
    )


def q_link_predict(spark, sf_dir):
    """Common-neighbor link prediction (graph.link_predict) on the
    closed-form doc graph: unlinked pairs sharing a neighbor, with
    common-neighbor count and endpoint degrees (Jaccard/Adamic-Adar
    derivable) — wedge join + anti-join + degree joins, exact int64."""
    from .operators.graph import link_predict

    e = _doc_edges(spark, sf_dir)
    return link_predict(e).orderBy("a", "b")


def q_link_predict_oracle():
    from .operators.graph import link_predict_sql

    return (
        "SELECT * FROM ("
        + link_predict_sql(_DOC_EDGES_SQL)
        + ") ORDER BY a, b"
    )


def q_random_projection(spark, sf_dir):
    """Sign random projection to 16 dims (embeddings.random_projection):
    exact int64 JL sketch — formula sign matrix (never materialized),
    quantize-then-sum; the dimensionality-reduction stage before
    LSH/ANN."""
    from .operators.embeddings import random_projection

    emb = _read(spark, sf_dir, "embeddings")
    return random_projection(emb, out_dims=16).orderBy("id", "j")


def q_random_projection_oracle():
    from .operators.embeddings import random_projection_sql

    return (
        "SELECT * FROM ("
        + random_projection_sql(
            "SELECT vec_id, embedding FROM embeddings", 16
        )
        + ") ORDER BY id, j"
    )


def q_convex_hull(spark, sf_dir):
    """Per-key convex hull vertex set (trajectory.convex_hull_vertices,
    monotone chain, exact int64 cross products) over per-user quantized
    tracks — the general-geometry ST_ConvexHull under an independent
    Caratheodory vertex-test oracle (no chain replay needed)."""
    from .operators.trajectory import convex_hull_vertices

    pts = _traj_pts_df(spark, sf_dir, cap=20).select(
        F.col("user_id").alias("k"),
        F.col("qx").alias("x"), F.col("qy").alias("y"),
    )
    return convex_hull_vertices(pts).orderBy("k", "x", "y")


def q_convex_hull_oracle():
    from .operators.trajectory import convex_hull_vertices_sql

    base = f"SELECT k, x, y FROM ({_traj_pts_sql(cap=20)}) tp"
    return (
        "SELECT * FROM ("
        + convex_hull_vertices_sql(base)
        + ") ORDER BY k, x, y"
    )


N_SEAM_IMAGES = 120


def q_seam_cost(spark, sf_dir):
    """Seam-carving minimal vertical seam (imageops.seam_cost) through the
    REAL distributed decode path: per image the exact int64 DP cost and
    the tie-broken seam end column — the content-aware-resize primitive;
    the oracle replays the row recurrence as a recursive CTE carrying the
    M row as a LIST (the DTW oracle pattern), from the closed-form pixel
    content."""
    from .operators.imageops import seam_cost
    from .sources.images import images_table

    img = images_table(spark, N_SEAM_IMAGES).filter(F.col("fmt") != "jpeg")
    return seam_cost(img).orderBy("image_id")


def q_seam_cost_oracle():
    from .sources.images import SIZES

    size_case = lambda e: (
        f"(CASE ({e}) % 3 WHEN 0 THEN {SIZES[0]} WHEN 1 THEN {SIZES[1]} "
        f"ELSE {SIZES[2]} END)"
    )
    luma = lambda x, y: (
        "("
        + " + ".join(
            f"((({x}) * 3 + ({y}) * 7 + {k * 31} + i * 13) % 256)"
            for k in range(3)
        )
        + ")"
    )
    big = 2**62
    step = (
        f"{luma('xx - 1', 'y + 1')} + least("
        "CASE WHEN xx >= 2 THEN m[xx - 1] ELSE " + str(big) + " END, "
        "m[xx], "
        "CASE WHEN xx + 1 <= w THEN m[xx + 1] ELSE " + str(big) + " END)"
    )
    return f"""
WITH RECURSIVE dims AS (
  SELECT i, {size_case('i')} AS w, {size_case('i // 3')} AS h
  FROM generate_series(0, {N_SEAM_IMAGES - 1}) t(i)
  WHERE i % 3 <> 2),
st(i, w, h, y, m) AS (
  SELECT i, w, h, 0,
         list_transform(range(1, w + 1), xx -> {luma('xx - 1', '0')})
  FROM dims
  UNION ALL
  SELECT i, w, h, y + 1,
         list_transform(range(1, w + 1), xx -> {step})
  FROM st WHERE y + 1 <= h - 1),
fin AS (SELECT i, m FROM st WHERE y = h - 1)
SELECT 'img-' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       CAST(list_min(m) AS BIGINT) AS cost,
       CAST(list_position(m, list_min(m)) - 1 AS BIGINT) AS x_end
FROM fin ORDER BY image_id"""


def q_mode_filter(spark, sf_dir):
    """3x3 majority filter (terrain.mode_filter_tiles): per-tile modal-value
    histogram with deterministic tie-break (smallest value) — the
    categorical-raster smoother, exact integers on the halo machinery."""
    from .raster.grid import GridGeometry
    from .raster.terrain import mode_filter_tiles

    W, H = 448, 256
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _texture_tiles(spark, W, H)
    return mode_filter_tiles(tiles, gg).orderBy("tx", "ty", "v")


def q_mode_filter_oracle():
    v = _texture_v_sql
    return f"""
WITH w9 AS (
  SELECT gx.x AS x, gy.y AS y,
         {v('gx.x + o.dx', 'gy.y + o.dy')} AS nv
  FROM generate_series(1, 446) gx(x), generate_series(1, 254) gy(y),
       (VALUES (-1, -1), (0, -1), (1, -1), (-1, 0), (0, 0), (1, 0),
               (-1, 1), (0, 1), (1, 1)) o(dx, dy)),
cnts AS (
  SELECT x, y, nv, count(*) AS c FROM w9 GROUP BY 1, 2, 3),
pick AS (
  SELECT x, y, nv FROM (
    SELECT x, y, nv,
           row_number() OVER (PARTITION BY x, y
             ORDER BY c DESC, nv ASC) AS rn
    FROM cnts) t
  WHERE rn = 1)
SELECT x // 64 AS tx, y // 64 AS ty, CAST(nv AS BIGINT) AS v,
       CAST(count(*) AS BIGINT) AS cnt
FROM pick GROUP BY 1, 2, 3 ORDER BY tx, ty, v"""


def q_palette_map(spark, sf_dir):
    """Nearest-palette color quantization (imageops.palette_map, fixed
    8-color palette, exact integer RGB distance, ties -> smallest index)
    through the real decode path -> per-image palette histogram."""
    from .operators.imageops import palette_map
    from .sources.images import images_table

    img = images_table(spark, N_SEAM_IMAGES).filter(F.col("fmt") != "jpeg")
    return palette_map(img).orderBy("image_id", "p")


def q_palette_map_oracle():
    from .operators.imageops import PALETTE8
    from .sources.images import SIZES

    size_case = lambda e: (
        f"(CASE ({e}) % 3 WHEN 0 THEN {SIZES[0]} WHEN 1 THEN {SIZES[1]} "
        f"ELSE {SIZES[2]} END)"
    )
    chan = lambda k: f"(((x.x) * 3 + (y.y) * 7 + {k} * 31 + d.i * 13) % 256)"
    pal_rows = ", ".join(
        f"({p}, {r}, {g}, {b})" for p, (r, g, b) in enumerate(PALETTE8)
    )
    dist = " + ".join(
        f"({chan(k)} - pal.c{k}) * ({chan(k)} - pal.c{k})" for k in range(3)
    )
    return f"""
WITH dims AS (
  SELECT i, {size_case('i')} AS w, {size_case('i // 3')} AS h
  FROM generate_series(0, {N_SEAM_IMAGES - 1}) t(i)
  WHERE i % 3 <> 2),
d8 AS (
  SELECT d.i, x.x, y.y, pal.p, {dist} AS dd
  FROM dims d, generate_series(0, 63) x(x), generate_series(0, 63) y(y),
       (VALUES {pal_rows}) pal(p, c0, c1, c2)
  WHERE x.x < d.w AND y.y < d.h),
pick AS (
  SELECT i, p FROM (
    SELECT i, x, y, p,
           row_number() OVER (PARTITION BY i, x, y
             ORDER BY dd ASC, p ASC) AS rn
    FROM d8) t
  WHERE rn = 1)
SELECT 'img-' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       CAST(p AS BIGINT) AS p, CAST(count(*) AS BIGINT) AS cnt
FROM pick GROUP BY 1, 2 ORDER BY image_id, p"""


def q_mse_pairs(spark, sf_dir):
    """Exact MSE partials between same-shape image pairs (imageops.
    mse_pairs, stride 9 so dimensions provably match): n pixels + int64
    SSE — the PSNR input, one equi-join + dual decode."""
    from .operators.imageops import mse_pairs
    from .sources.images import images_table

    img = images_table(spark, N_SEAM_IMAGES).filter(F.col("fmt") != "jpeg")
    return mse_pairs(img, stride=9).orderBy("image_id_a")


def q_mse_pairs_oracle():
    from .sources.images import SIZES

    size_case = lambda e: (
        f"(CASE ({e}) % 3 WHEN 0 THEN {SIZES[0]} WHEN 1 THEN {SIZES[1]} "
        f"ELSE {SIZES[2]} END)"
    )
    va = "(((x.x) * 3 + (y.y) * 7 + k.k * 31 + d.i * 13) % 256)"
    vb = f"(((x.x) * 3 + (y.y) * 7 + k.k * 31 + (d.i + 9) * 13) % 256)"
    return f"""
WITH dims AS (
  SELECT i, {size_case('i')} AS w, {size_case('i // 3')} AS h
  FROM generate_series(0, {N_SEAM_IMAGES - 1}) t(i)
  WHERE i % 3 <> 2 AND i + 9 <= {N_SEAM_IMAGES - 1}),
px AS (
  SELECT d.i, d.w, d.h, ({va} - {vb}) * ({va} - {vb}) AS sq
  FROM dims d, generate_series(0, 63) x(x), generate_series(0, 63) y(y),
       generate_series(0, 2) k(k)
  WHERE x.x < d.w AND y.y < d.h)
SELECT 'img-' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id_a,
       'img-' || lpad(CAST(i + 9 AS VARCHAR), 12, '0') AS image_id_b,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(sum(sq) AS BIGINT) AS sse
FROM px GROUP BY 1, 2, w, h ORDER BY image_id_a"""


def q_pca_power(spark, sf_dir):
    """Leading-eigenvector power iteration (embeddings.pca_power, 3
    rounds) on the scaled integer covariance matrix: the HITS
    max-normalized recurrence with signed floor-div — bit-exact
    principal-direction extraction; oracle unrolls rounds as CTEs."""
    from .operators.embeddings import pca_power

    emb = _read(spark, sf_dir, "embeddings")
    return pca_power(emb, iters=3).orderBy("i")


def q_pca_power_oracle():
    from .operators.embeddings import pca_power_sql

    return (
        "SELECT * FROM ("
        + pca_power_sql("embeddings", iters=3, dims=64)
        + ") ORDER BY i"
    )


def q_paa(spark, sf_dir):
    """Piecewise Aggregate Approximation (timeseries.paa_segments,
    10-point segments) of each user's quantized value series — the SAX
    precursor; one window rank + one aggregation, exact int64."""
    from .operators.timeseries import paa_segments

    d = _read(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), F.col("event_id").alias("o"),
        F.expr("CAST(floor(value * 1000000.0) AS BIGINT)").alias("v"),
    )
    return paa_segments(d, seg_len=10).orderBy("k", "seg")


def q_paa_oracle():
    from .operators.timeseries import paa_segments_sql

    base = (
        "SELECT user_id AS k, event_id AS o, "
        "CAST(floor(value * 1000000.0) AS BIGINT) AS v FROM events"
    )
    return (
        "SELECT * FROM (" + paa_segments_sql(base, 10) + ") ORDER BY k, seg"
    )


def q_sinuosity(spark, sf_dir):
    """Track sinuosity moments (trajectory.sinuosity): quantized path
    length vs straight-line chord per user — route-quality diagnostics,
    pure window codegen with per-segment sqrt quantization."""
    from .operators.trajectory import sinuosity

    pts = _traj_pts_df(spark, sf_dir).select(
        F.col("user_id").alias("k"), F.col("rn").alias("o"),
        F.col("qx").alias("x"), F.col("qy").alias("y"),
    )
    return sinuosity(pts).orderBy("k")


def q_sinuosity_oracle():
    from .operators.trajectory import sinuosity_sql

    return (
        "SELECT * FROM (" + sinuosity_sql(_traj_pts_sql()) + ") ORDER BY k"
    )


def q_self_intersections(spark, sf_dir):
    """Proper self-crossing count per user track
    (trajectory.self_intersections): strict integer orientation tests on
    non-adjacent segment pairs — the GPS topology / ST_IsSimple audit;
    per-key quadratic band join only."""
    from .operators.trajectory import self_intersections

    pts = _traj_pts_df(spark, sf_dir).select(
        F.col("user_id").alias("k"), F.col("rn").alias("o"),
        F.col("qx").alias("x"), F.col("qy").alias("y"),
    )
    return self_intersections(pts).orderBy("k")


def q_self_intersections_oracle():
    from .operators.trajectory import self_intersections_sql

    return (
        "SELECT * FROM ("
        + self_intersections_sql(_traj_pts_sql())
        + ") ORDER BY k"
    )


def q_ks_stat(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov distance (analytics.ks_stat):
    cross-multiplied cumulative-count gap, argmax score with smallest-s
    tie-break — distribution-drift detection between order cohorts."""
    from .operators.analytics import ks_stat

    d = _read(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 997).cast("long").alias("s"),
        (F.col("o_custkey") % 3 == 0).cast("long").alias("g"),
    )
    return ks_stat(d, "s", "g")


def q_ks_stat_oracle():
    from .operators.analytics import ks_stat_sql

    base = (
        "SELECT CAST(o_orderkey % 997 AS BIGINT) AS s, "
        "CAST(o_custkey % 3 = 0 AS BIGINT) AS g FROM orders"
    )
    return ks_stat_sql(base, "s", "g")


def q_distance_bands(spark, sf_dir):
    """Geodesic annulus histogram around (10, 52): events per distance
    band (0/2000/5000/10000 km cut points, shared haversine text with
    the geodesic_within safety shift) — the proximity-profile view of a
    point corpus, one aggregation."""
    pts = _events_points(spark, sf_dir)
    d = haversine_col(F.col("lon"), F.col("lat"), F.lit(10.0), F.lit(52.0))
    km = F.floor(d / F.lit(1000.0) - F.lit(0.123456789)).cast("long")
    band = (
        F.when(km < 2000, 0).when(km < 5000, 1).when(km < 10000, 2)
        .otherwise(3)
    )
    return (
        pts.select(band.alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("band")
    )


def q_distance_bands_oracle():
    from .functions.geometry import haversine_sql

    d = haversine_sql("lon", "lat", "10.0", "52.0")
    return f"""
WITH k AS (
  SELECT CAST(floor({d} / 1000.0 - 0.123456789) AS BIGINT) AS km
  FROM ({_points_sql()}) p)
SELECT CASE WHEN km < 2000 THEN 0 WHEN km < 5000 THEN 1
            WHEN km < 10000 THEN 2 ELSE 3 END AS band,
       CAST(count(*) AS BIGINT) AS cnt
FROM k GROUP BY 1 ORDER BY band"""


def q_gray_hist(spark, sf_dir):
    """BT.601 integer luma histogram (imageops.gray_hist, bucket 16)
    through the real decode path — exposure-profile signature per image,
    exact floor-rational weights."""
    from .operators.imageops import gray_hist
    from .sources.images import images_table

    img = images_table(spark, N_SEAM_IMAGES).filter(F.col("fmt") != "jpeg")
    return gray_hist(img, bucket=16).orderBy("image_id", "b")


def q_gray_hist_oracle():
    from .sources.images import SIZES

    size_case = lambda e: (
        f"(CASE ({e}) % 3 WHEN 0 THEN {SIZES[0]} WHEN 1 THEN {SIZES[1]} "
        f"ELSE {SIZES[2]} END)"
    )
    chan = lambda k: f"(((x.x) * 3 + (y.y) * 7 + {k} * 31 + d.i * 13) % 256)"
    luma = f"((299 * {chan(0)} + 587 * {chan(1)} + 114 * {chan(2)}) // 1000)"
    return f"""
WITH dims AS (
  SELECT i, {size_case('i')} AS w, {size_case('i // 3')} AS h
  FROM generate_series(0, {N_SEAM_IMAGES - 1}) t(i)
  WHERE i % 3 <> 2),
px AS (
  SELECT d.i, {luma} // 16 AS b
  FROM dims d, generate_series(0, 63) x(x), generate_series(0, 63) y(y)
  WHERE x.x < d.w AND y.y < d.h)
SELECT 'img-' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       CAST(b AS BIGINT) AS b, CAST(count(*) AS BIGINT) AS cnt
FROM px GROUP BY 1, 2 ORDER BY image_id, b"""


def q_gamma_lut(spark, sf_dir):
    """Gamma tone-curve histogram (tiles.lut_hist_tiles, gamma 2.2 LUT
    computed once driver-side, embedded as a literal in BOTH engines):
    the point-transfer raster op family (ImageProcessor transfer
    functions) with no runtime pow anywhere."""
    from .raster.tiles import gamma_lut, lut_hist_tiles

    tiles = _texture_tiles(spark, 448, 256)
    return lut_hist_tiles(tiles, gamma_lut(2.2)).orderBy("tx", "ty", "v")


def q_gamma_lut_oracle():
    from .raster.tiles import gamma_lut

    lut = gamma_lut(2.2)
    lut_lit = "[" + ", ".join(str(v) for v in lut) + "]"
    v = _texture_v_sql("gx.x", "gy.y")
    return f"""
WITH px AS (
  SELECT gx.x // 64 AS tx, gy.y // 64 AS ty,
         {lut_lit}[({v}) + 1] AS v
  FROM generate_series(0, 447) gx(x), generate_series(0, 255) gy(y))
SELECT tx, ty, CAST(v AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS cnt
FROM px GROUP BY 1, 2, 3 ORDER BY tx, ty, v"""


def q_cooccurrence(spark, sf_dir):
    """Event-type co-occurrence graph: unordered type pairs weighted by
    the number of distinct users exhibiting both — the bipartite
    user-type projection (market-basket/graph-feature primitive); one
    distinct + one self-join on user, all exact."""
    ut = (
        _read(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    a = ut.select("user_id", F.col("event_type").alias("ta"))
    b = ut.select("user_id", F.col("event_type").alias("tb"))
    return (
        a.join(b, "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("ta", "tb")
    )


def q_cooccurrence_oracle():
    return """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
SELECT a.event_type AS ta, b.event_type AS tb,
       CAST(count(*) AS BIGINT) AS n_users
FROM ut a JOIN ut b
  ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1, 2 ORDER BY ta, tb"""


def q_range_filter(spark, sf_dir):
    """Edge-preserving range-filter moments (terrain.range_filter_tiles,
    |v - center| <= 24): the integer core of a bilateral smoother —
    per-tile in-range neighbor counts/sums, exact int64 on the halo
    machinery."""
    from .raster.grid import GridGeometry
    from .raster.terrain import range_filter_tiles

    W, H = 448, 256
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _texture_tiles(spark, W, H)
    return range_filter_tiles(tiles, gg, thresh=24).orderBy("tx", "ty")


def q_range_filter_oracle():
    v = _texture_v_sql
    c = v("gx.x", "gy.y")
    nb = v("gx.x + o.dx", "gy.y + o.dy")
    return f"""
WITH w9 AS (
  SELECT gx.x AS x, gy.y AS y,
         CASE WHEN abs(({nb}) - ({c})) <= 24 THEN 1 ELSE 0 END AS inr,
         CASE WHEN abs(({nb}) - ({c})) <= 24 THEN ({nb}) ELSE 0 END AS vin
  FROM generate_series(1, 446) gx(x), generate_series(1, 254) gy(y),
       (VALUES (-1, -1), (0, -1), (1, -1), (-1, 0), (0, 0), (1, 0),
               (-1, 1), (0, 1), (1, 1)) o(dx, dy))
SELECT x // 64 AS tx, y // 64 AS ty,
       CAST(count(*) / 9 AS BIGINT) AS n_px,
       CAST(sum(inr) AS BIGINT) AS n_in,
       CAST(sum(vin) AS BIGINT) AS v_in_sum
FROM w9 GROUP BY 1, 2 ORDER BY tx, ty"""


def q_patch_dedup(spark, sf_dir):
    """Patch-level cross-image dedup candidates (imageops.patch_dedup,
    8x8 channel-0 patches, polynomial hash mod 2^31-1): hashes seen >= 2
    times corpus-wide — watermark/border repetition surfaces at patch
    granularity; decode + hash per image, ONE count aggregation."""
    from .operators.imageops import patch_dedup
    from .sources.images import images_table

    img = images_table(spark, N_SEAM_IMAGES).filter(F.col("fmt") != "jpeg")
    return patch_dedup(img, patch=8, min_count=2).orderBy("h")


def q_patch_dedup_oracle():
    from .operators.imageops import _PATCH_P, patch_pow_lut
    from .sources.images import SIZES

    size_case = lambda e: (
        f"(CASE ({e}) % 3 WHEN 0 THEN {SIZES[0]} WHEN 1 THEN {SIZES[1]} "
        f"ELSE {SIZES[2]} END)"
    )
    lut = patch_pow_lut(64)
    lut_lit = "[" + ", ".join(str(v) for v in lut) + "]"
    vpx = ("(((p.px + (kk.k % 8)) * 3 + (p.py + (kk.k // 8)) * 7 "
           "+ d.i * 13) % 256)")
    return f"""
WITH dims AS (
  SELECT i, {size_case('i')} AS w, {size_case('i // 3')} AS h
  FROM generate_series(0, {N_SEAM_IMAGES - 1}) t(i)
  WHERE i % 3 <> 2),
org AS (
  SELECT d.i, d.w, d.h, px.px, py.py
  FROM dims d,
       generate_series(0, 56, 8) px(px), generate_series(0, 56, 8) py(py)
  WHERE px.px + 8 <= d.w AND py.py + 8 <= d.h),
hh AS (
  SELECT p.i, p.px, p.py,
         CAST(sum({vpx} * {lut_lit}[kk.k + 1]) % {_PATCH_P} AS BIGINT) AS h
  FROM org p
  JOIN dims d ON d.i = p.i
  CROSS JOIN generate_series(0, 63) kk(k)
  GROUP BY 1, 2, 3)
SELECT h, CAST(count(*) AS BIGINT) AS cnt
FROM hh GROUP BY 1 HAVING count(*) >= 2 ORDER BY h"""


def q_bearing_rose(spark, sf_dir):
    """Per-user wind-rose (trajectory.bearing_rose): segment directions
    binned into 8 exact octants via the integer sign/magnitude ladder —
    directional movement profiles without any trig."""
    from .operators.trajectory import bearing_rose

    pts = _traj_pts_df(spark, sf_dir).select(
        F.col("user_id").alias("k"), F.col("rn").alias("o"),
        F.col("qx").alias("x"), F.col("qy").alias("y"),
    )
    return bearing_rose(pts).orderBy("k", "sector")


def q_bearing_rose_oracle():
    from .operators.trajectory import bearing_rose_sql

    return (
        "SELECT * FROM ("
        + bearing_rose_sql(_traj_pts_sql())
        + ") ORDER BY k, sector"
    )


def q_variogram(spark, sf_dir):
    """Directional empirical semivariogram moments (density.variogram_lags,
    64x64 grid, lags 1/2/4, E and N axes) over the occupied-cell
    histogram — the kriging-range diagnostic; per-lag shifted-key
    equi-joins on the tiny cell table, exact int64."""
    from .operators.density import variogram_lags

    pts = _events_points(spark, sf_dir)
    return variogram_lags(pts, grid_n=64, lags=[1, 2, 4]).orderBy(
        "dir", "lag"
    )


def q_variogram_oracle():
    from .operators.density import variogram_lags_sql

    return (
        "SELECT * FROM ("
        + variogram_lags_sql(_points_sql(), 64, [1, 2, 4])
        + ") ORDER BY dir, lag"
    )


def q_cross_k(spark, sf_dir):
    """Bivariate cross-K pair counts (density.cross_pairs): purchase
    events within 0.2/0.4/0.8 deg of error events — category co-location
    via the cell-binned candidate join, exact integer d^2 verify."""
    from .operators.density import cross_pairs

    ev = _read(spark, sf_dir, "events").select("event_id", "event_type")
    pts = _events_points(spark, sf_dir).join(ev, "event_id")
    a = pts.filter(F.col("event_type") == "purchase")
    b = pts.filter(F.col("event_type") == "error")
    return cross_pairs(a, b, [20000, 40000, 80000])


def q_cross_k_oracle():
    from .operators.density import cross_pairs_sql

    base = (
        f"SELECT p.event_id, p.lon, p.lat, e.event_type "
        f"FROM ({_points_sql()}) p JOIN events e ON e.event_id = p.event_id"
    )
    return cross_pairs_sql(
        f"SELECT * FROM ({base}) a WHERE event_type = 'purchase'",
        f"SELECT * FROM ({base}) b WHERE event_type = 'error'",
        [20000, 40000, 80000],
    )


def q_row_profile(spark, sf_dir):
    """Horizontal projection profile (tiles.row_profile): exact per-row
    pixel sums of the texture raster — the deskew/layout primitive;
    per-tile partial row sums + one tiny keyed aggregation."""
    from .raster.tiles import row_profile

    tiles = _texture_tiles(spark, 448, 256)
    return row_profile(tiles).orderBy("band", "y")


def q_row_profile_oracle():
    v = _texture_v_sql("gx.x", "gy.y")
    return f"""
SELECT CAST(0 AS INT) AS band, gy.y AS y,
       CAST(sum({v}) AS BIGINT) AS vsum
FROM generate_series(0, 447) gx(x), generate_series(0, 255) gy(y)
GROUP BY 2 ORDER BY band, y"""


def q_sax(spark, sf_dir):
    """Uniform-breakpoint SAX words (timeseries.sax_symbols, alpha 4) of
    each user's quantized value series — exact integer discretization,
    ordered string aggregation; the motif-mining precursor."""
    from .operators.timeseries import sax_symbols

    d = _read(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), F.col("event_id").alias("o"),
        F.expr("CAST(floor(value * 1000000.0) AS BIGINT)").alias("v"),
    )
    return sax_symbols(d, alpha=4).orderBy("k")


def q_sax_oracle():
    from .operators.timeseries import sax_symbols_sql

    base = (
        "SELECT user_id AS k, event_id AS o, "
        "CAST(floor(value * 1000000.0) AS BIGINT) AS v FROM events"
    )
    return "SELECT * FROM (" + sax_symbols_sql(base, 4) + ") ORDER BY k"


def q_spatial_entropy(spark, sf_dir):
    """Multi-resolution spatial diversity (density.spatial_entropy, grids
    16/64/256): Simpson concentration and bit-length-log2 entropy
    numerators of the cell histogram — the resolution-selection summary,
    exact int64 (no FP log anywhere)."""
    from .operators.density import spatial_entropy

    pts = _events_points(spark, sf_dir)
    return spatial_entropy(pts, [16, 64, 256]).orderBy("res")


def q_spatial_entropy_oracle():
    from .operators.density import spatial_entropy_sql

    return (
        "SELECT * FROM ("
        + spatial_entropy_sql(_points_sql(), [16, 64, 256])
        + ") ORDER BY res"
    )


def q_channel_corr(spark, sf_dir):
    """Exact channel second moments (imageops.channel_corr): per-image
    R/G/B sums and cross products — channel Pearson correlations
    derivable; grayscale / color-cast auditing through the real decode
    path."""
    from .operators.imageops import channel_corr
    from .sources.images import images_table

    img = images_table(spark, N_SEAM_IMAGES).filter(F.col("fmt") != "jpeg")
    return channel_corr(img).orderBy("image_id")


def q_channel_corr_oracle():
    from .sources.images import SIZES

    size_case = lambda e: (
        f"(CASE ({e}) % 3 WHEN 0 THEN {SIZES[0]} WHEN 1 THEN {SIZES[1]} "
        f"ELSE {SIZES[2]} END)"
    )
    chan = lambda k: f"(((x.x) * 3 + (y.y) * 7 + {k} * 31 + d.i * 13) % 256)"
    r, g, b = chan(0), chan(1), chan(2)
    return f"""
WITH dims AS (
  SELECT i, {size_case('i')} AS w, {size_case('i // 3')} AS h
  FROM generate_series(0, {N_SEAM_IMAGES - 1}) t(i)
  WHERE i % 3 <> 2),
px AS (
  SELECT d.i, {r} AS r, {g} AS g, {b} AS b
  FROM dims d, generate_series(0, 63) x(x), generate_series(0, 63) y(y)
  WHERE x.x < d.w AND y.y < d.h)
SELECT 'img-' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(r) AS BIGINT) AS sr, CAST(sum(g) AS BIGINT) AS sg,
       CAST(sum(b) AS BIGINT) AS sb,
       CAST(sum(r * r) AS BIGINT) AS srr,
       CAST(sum(g * g) AS BIGINT) AS sgg,
       CAST(sum(b * b) AS BIGINT) AS sbb,
       CAST(sum(r * g) AS BIGINT) AS srg,
       CAST(sum(r * b) AS BIGINT) AS srb,
       CAST(sum(g * b) AS BIGINT) AS sgb
FROM px GROUP BY 1 ORDER BY image_id"""


def q_interarrival(spark, sf_dir):
    """Inter-arrival log2 histogram (timeseries.interarrival_hist):
    per-user event gaps bucketed by bit length (integer floor-log2 via
    bin()) — the burst/traffic fingerprint, one window + one
    aggregation."""
    from .operators.timeseries import interarrival_hist

    d = _read(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), F.col("event_id").alias("o"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    return interarrival_hist(d).orderBy("bucket")


def q_interarrival_oracle():
    from .operators.timeseries import interarrival_hist_sql

    base = (
        "SELECT user_id AS k, event_id AS o, epoch_us(ts) AS t_us "
        "FROM events"
    )
    return (
        "SELECT * FROM ("
        + interarrival_hist_sql(base)
        + ") ORDER BY bucket"
    )


def q_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty vs all earlier documents
    (textops.ngram_novelty, word 4-grams, min-id credit): the corpus
    growth / marginal-new-text diagnostic — explode + one min-id agg +
    join back, the decontaminate plan against the corpus's own past."""
    from .operators.textops import ngram_novelty

    return ngram_novelty(
        _read(spark, sf_dir, "documents"), n=4
    ).orderBy("doc_id")


def q_ngram_novelty_oracle():
    from .operators.textops import ngram_novelty_sql

    return (
        "SELECT * FROM ("
        + ngram_novelty_sql("documents", 4)
        + ") ORDER BY doc_id"
    )


def q_l_diversity(spark, sf_dir):
    """l-diversity audit (quality.l_diversity, l=3) over quasi-ids
    (event_type, coarse cell) with user_id sensitive — groups whose
    sensitive values are too uniform to release; one aggregation."""
    from .operators.density import grid_expr
    from .operators.quality import l_diversity

    pts = _events_points(spark, sf_dir).join(
        _read(spark, sf_dir, "events").select("event_id", "event_type",
                                              "user_id"),
        "event_id",
    ).select(
        "event_type", "user_id",
        F.expr(grid_expr("x", 16)).alias("ix"),
        F.expr(grid_expr("y", 16)).alias("iy"),
    )
    return l_diversity(
        pts, ["event_type", "ix", "iy"], "user_id", l=3
    ).orderBy("event_type", "ix", "iy")


def q_l_diversity_oracle():
    from .operators.density import grid_expr
    from .operators.quality import l_diversity_sql

    base = f"""
SELECT e.event_type, e.user_id,
       {grid_expr('x', 16)} AS ix, {grid_expr('y', 16)} AS iy
FROM ({_points_sql()}) p JOIN events e ON e.event_id = p.event_id"""
    return (
        "SELECT * FROM ("
        + l_diversity_sql(base, ["event_type", "ix", "iy"], "user_id", l=3)
        + ") ORDER BY event_type, ix, iy"
    )


def q_cell_jaccard(spark, sf_dir):
    """Occupied-cell Jaccard between even/odd event epochs
    (density.cell_jaccard, 64-grid): coverage drift as exact set counts
    — two tiny distinct-cell tables + one equi-join."""
    from .operators.density import cell_jaccard

    pts = _events_points(spark, sf_dir)
    a = pts.filter(F.col("event_id") % 2 == 0)
    b = pts.filter(F.col("event_id") % 2 == 1)
    return cell_jaccard(a, b, grid_n=64)


def q_cell_jaccard_oracle():
    from .operators.density import cell_jaccard_sql

    p = _points_sql()
    return cell_jaccard_sql(
        f"SELECT * FROM ({p}) pa WHERE event_id % 2 = 0",
        f"SELECT * FROM ({p}) pb WHERE event_id % 2 = 1",
        64,
    )


def q_dominant_color(spark, sf_dir):
    """Dominant 6-bit RGB code per image (imageops.dominant_color,
    2 bits/channel, ties -> smallest code) through the real decode path
    — the color-facet signature."""
    from .operators.imageops import dominant_color
    from .sources.images import images_table

    img = images_table(spark, N_SEAM_IMAGES).filter(F.col("fmt") != "jpeg")
    return dominant_color(img, bits=2).orderBy("image_id")


def q_dominant_color_oracle():
    from .sources.images import SIZES

    size_case = lambda e: (
        f"(CASE ({e}) % 3 WHEN 0 THEN {SIZES[0]} WHEN 1 THEN {SIZES[1]} "
        f"ELSE {SIZES[2]} END)"
    )
    chan = lambda k: f"(((x.x) * 3 + (y.y) * 7 + {k} * 31 + d.i * 13) % 256)"
    code = (f"((({chan(0)}) // 64) * 16 + (({chan(1)}) // 64) * 4 "
            f"+ (({chan(2)}) // 64))")
    return f"""
WITH dims AS (
  SELECT i, {size_case('i')} AS w, {size_case('i // 3')} AS h
  FROM generate_series(0, {N_SEAM_IMAGES - 1}) t(i)
  WHERE i % 3 <> 2),
px AS (
  SELECT d.i, d.w, d.h, {code} AS code
  FROM dims d, generate_series(0, 63) x(x), generate_series(0, 63) y(y)
  WHERE x.x < d.w AND y.y < d.h),
cnts AS (
  SELECT i, w, h, code, count(*) AS c FROM px GROUP BY 1, 2, 3, 4),
pick AS (
  SELECT i, w, h, code, c FROM (
    SELECT i, w, h, code, c,
           row_number() OVER (PARTITION BY i
             ORDER BY c DESC, code ASC) AS rn
    FROM cnts) t
  WHERE rn = 1)
SELECT 'img-' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       CAST(code AS BIGINT) AS code, CAST(c AS BIGINT) AS cnt,
       CAST(w * h AS BIGINT) AS n_px
FROM pick ORDER BY image_id"""


def q_border_stats(spark, sf_dir):
    """Letterbox/border moments (imageops.border_stats, 2-px frame):
    exact luma sums over frame vs interior — the crop/border-removal cue
    of an image-curation pipeline."""
    from .operators.imageops import border_stats
    from .sources.images import images_table

    img = images_table(spark, N_SEAM_IMAGES).filter(F.col("fmt") != "jpeg")
    return border_stats(img, margin=2).orderBy("image_id")


def q_border_stats_oracle():
    from .sources.images import SIZES

    size_case = lambda e: (
        f"(CASE ({e}) % 3 WHEN 0 THEN {SIZES[0]} WHEN 1 THEN {SIZES[1]} "
        f"ELSE {SIZES[2]} END)"
    )
    chan = lambda k: f"(((x.x) * 3 + (y.y) * 7 + {k} * 31 + d.i * 13) % 256)"
    luma = f"({chan(0)} + {chan(1)} + {chan(2)})"
    isb = ("(x.x < 2 OR y.y < 2 OR x.x >= d.w - 2 OR y.y >= d.h - 2)")
    return f"""
WITH dims AS (
  SELECT i, {size_case('i')} AS w, {size_case('i // 3')} AS h
  FROM generate_series(0, {N_SEAM_IMAGES - 1}) t(i)
  WHERE i % 3 <> 2),
px AS (
  SELECT d.i, {luma} AS l, CASE WHEN {isb} THEN 1 ELSE 0 END AS bord
  FROM dims d, generate_series(0, 63) x(x), generate_series(0, 63) y(y)
  WHERE x.x < d.w AND y.y < d.h)
SELECT 'img-' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       CAST(sum(bord) AS BIGINT) AS n_border,
       CAST(sum(CASE WHEN bord = 1 THEN l ELSE 0 END) AS BIGINT) AS s_border,
       CAST(sum(CASE WHEN bord = 1 THEN l * l ELSE 0 END) AS BIGINT)
         AS ss_border,
       CAST(sum(1 - bord) AS BIGINT) AS n_inner,
       CAST(sum(CASE WHEN bord = 0 THEN l ELSE 0 END) AS BIGINT) AS s_inner,
       CAST(sum(CASE WHEN bord = 0 THEN l * l ELSE 0 END) AS BIGINT)
         AS ss_inner
FROM px GROUP BY 1 ORDER BY image_id"""


def q_lisa(spark, sf_dir):
    """Local Moran's I moments per occupied cell (density.lisa_moments,
    64-grid, rook adjacency): dev and neighbor-dev sums exact int64 —
    the hot-hot/cold-cold LISA quadrant drill-down of the global
    morans_i gate."""
    from .operators.density import lisa_moments

    pts = _events_points(spark, sf_dir)
    return lisa_moments(pts, grid_n=64).orderBy("ix", "iy")


def q_lisa_oracle():
    from .operators.density import lisa_moments_sql

    return (
        "SELECT * FROM ("
        + lisa_moments_sql(_points_sql(), 64)
        + ") ORDER BY ix, iy"
    )


def q_pq_recon(spark, sf_dir):
    """PQ reconstruction-error audit (ann.pq_recon_error, m=8, ksub=16):
    per-vector exact int64 squared error against the trained product
    codebooks — the compression-quality / re-train signal; oracle
    replays training via the shared _pq_train_blocks chain."""
    from .operators.ann import pq_recon_error

    emb = _read(spark, sf_dir, "embeddings")
    return pq_recon_error(emb, m=8, ksub=16).orderBy("id")


def q_pq_recon_oracle():
    from .operators.ann import pq_recon_error_sql

    return (
        "SELECT * FROM ("
        + pq_recon_error_sql(64, m=8, ksub=16)
        + ") ORDER BY id"
    )


def q_mcc(spark, sf_dir):
    """Matthews-correlation confusion accumulator (analytics.mcc_counts):
    one map-side-combined agg -> (tp, fp, fn, tn, num) with the exact
    int64 numerator tp*tn - fp*fn.  Pseudo-classifier over orders."""
    from .operators.analytics import mcc_counts

    o = _read(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 3 == 0).cast("long").alias("pred"),
        (F.col("o_custkey") % 2 == 0).cast("long").alias("y"),
    )
    return mcc_counts(o, "pred", "y")


def q_mcc_oracle():
    from .operators.analytics import mcc_counts_sql

    base = ("SELECT CAST(o_orderkey % 3 = 0 AS BIGINT) AS pred, "
            "CAST(o_custkey % 2 = 0 AS BIGINT) AS y FROM orders")
    return mcc_counts_sql(base, "pred", "y")


def q_brier(spark, sf_dir):
    """Exact Brier-score accumulator (analytics.brier_sum): probability
    pre-quantized to [0, 1e6], per-row squared error exact int64, one
    agg -> (n, sq_sum); brier = sq_sum / (n * 1e12) derivable."""
    from .operators.analytics import brier_sum

    o = _read(spark, sf_dir, "orders").select(
        ((F.col("o_orderkey") * 48271) % 1000001).alias("pq"),
        ((F.col("o_custkey") + F.col("o_orderkey")) % 2).alias("y"),
    )
    return brier_sum(o, "pq", "y")


def q_brier_oracle():
    from .operators.analytics import brier_sum_sql

    base = ("SELECT (o_orderkey * 48271) % 1000001 AS pq, "
            "(o_custkey + o_orderkey) % 2 AS y FROM orders")
    return brier_sum_sql(base, "pq", "y")


def q_ndcg(spark, sf_dir):
    """Per-query NDCG@10 integer accumulators (analytics.ndcg_at_k):
    shared literal discount LUT floor(1e12/log2(rank+1)), total-order
    tie-breaks, dcg/idcg exact int64.  Queries = customer buckets,
    items = orders, graded relevance 0..3."""
    from .operators.analytics import ndcg_at_k

    o = _read(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 50).alias("q"),
        F.col("o_orderkey").alias("i"),
        ((F.col("o_orderkey") * 2654435761) % 100000).alias("s"),
        ((F.col("o_orderkey") % 7) % 4).alias("rel"),
    )
    return ndcg_at_k(o, "q", "i", "s", "rel", k=10).orderBy("q")


def q_ndcg_oracle():
    from .operators.analytics import ndcg_at_k_sql

    base = ("SELECT o_custkey % 50 AS q, o_orderkey AS i, "
            "(o_orderkey * 2654435761) % 100000 AS s, "
            "(o_orderkey % 7) % 4 AS rel FROM orders")
    return ("SELECT * FROM ("
            + ndcg_at_k_sql(base, "q", "i", "s", "rel", k=10)
            + ") ORDER BY q")


def q_lift_table(spark, sf_dir):
    """Decile gains table (analytics.lift_table): floor-bucket on the
    (score DESC, id ASC) total order -> per-decile exact row/positive
    counts (cumulative lift derivable as rationals)."""
    from .operators.analytics import lift_table

    o = _read(spark, sf_dir, "orders").select(
        ((F.col("o_orderkey") * 48271) % 99991).alias("s"),
        (F.col("o_custkey") % 3 == 0).cast("long").alias("y"),
        F.col("o_orderkey").alias("i"),
    )
    return lift_table(o, "s", "y", "i").orderBy("bucket")


def q_lift_table_oracle():
    from .operators.analytics import lift_table_sql

    base = ("SELECT (o_orderkey * 48271) % 99991 AS s, "
            "CAST(o_custkey % 3 = 0 AS BIGINT) AS y, o_orderkey AS i "
            "FROM orders")
    return ("SELECT * FROM (" + lift_table_sql(base, "s", "y", "i")
            + ") ORDER BY bucket")


def _truss_edges(spark, sf_dir):
    """Ring + {+1,+2,+3} chord graph over documents, plus the sparse
    7i+11 chords: base edges carry translation-invariant triangle
    support (4/3/2 for the +1/+2/+3 families), the random-ish chords
    mostly peel in round one and trigger short LOCAL cascades — peel
    depth stays O(1) in n."""
    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("src")
    )
    n = docs.count()
    i = F.col("src")
    return docs.select(
        "src",
        F.explode(F.array(
            (i + 1) % n, (i + 2) % n, (i + 3) % n, (i * 7 + 11) % n,
        )).alias("dst"),
    )


_TRUSS_EDGES_SQL = """
SELECT least(s, d) AS a, greatest(s, d) AS b FROM (
  SELECT CAST(doc_id AS BIGINT) AS s,
         (CAST(doc_id AS BIGINT) + 1) % nn.n AS d
  FROM documents, (SELECT count(*) AS n FROM documents) nn
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), (CAST(doc_id AS BIGINT) + 2) % nn.n
  FROM documents, (SELECT count(*) AS n FROM documents) nn
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), (CAST(doc_id AS BIGINT) + 3) % nn.n
  FROM documents, (SELECT count(*) AS n FROM documents) nn
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), (CAST(doc_id AS BIGINT) * 7 + 11) % nn.n
  FROM documents, (SELECT count(*) AS n FROM documents) nn) r
WHERE s <> d GROUP BY 1, 2"""


def q_k_truss(spark, sf_dir):
    """k-truss decomposition (graph.k_truss, k=4): iterative edge peel
    on triangle support over the ordered edge set — per round one
    triangle-enumeration self-join (bounded by forward degrees) + one
    support agg + one filter; oracle unrolls the peel as MATERIALIZED
    CTE rounds (idempotent at the fixpoint, the k_core pattern)."""
    from .operators.graph import k_truss

    return k_truss(_truss_edges(spark, sf_dir), k=4).orderBy("a", "b")


def q_k_truss_oracle():
    from .operators.graph import k_truss_sql

    return (
        "SELECT * FROM ("
        + k_truss_sql(_TRUSS_EDGES_SQL, k=4, rounds=10)
        + ") ORDER BY a, b"
    )


def q_clustering_coeff(spark, sf_dir):
    """Per-node local clustering accumulators (graph.clustering_coeff):
    degree-ordered triangle counts + degrees, coefficient
    2T/(deg(deg-1)) derivable as an exact rational."""
    from .operators.graph import clustering_coeff

    return clustering_coeff(_truss_edges(spark, sf_dir)).orderBy("node")


def q_clustering_coeff_oracle():
    return f"""
WITH und AS MATERIALIZED ({_TRUSS_EDGES_SQL}),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und) t GROUP BY 1),
tri AS (
  SELECT e1.a AS p, e1.b AS q, e2.b AS r
  FROM und e1 JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
pn AS (
  SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
    SELECT p AS node FROM tri
    UNION ALL SELECT q FROM tri
    UNION ALL SELECT r FROM tri) t
  GROUP BY 1)
SELECT deg.node, CAST(coalesce(pn.triangles, 0) AS BIGINT) AS triangles,
       deg.deg
FROM deg LEFT JOIN pn ON pn.node = deg.node
ORDER BY deg.node"""


def q_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction (graph.adamic_adar): per shared
    neighbor floor(1e9/ln(deg)) quantized-then-summed — exact int64
    scores over the link_predict gate's doc graph."""
    from .operators.graph import adamic_adar

    return adamic_adar(_doc_edges(spark, sf_dir)).orderBy("a", "b")


def q_adamic_adar_oracle():
    from .operators.graph import adamic_adar_sql

    return (
        "SELECT * FROM ("
        + adamic_adar_sql(_DOC_EDGES_SQL)
        + ") ORDER BY a, b"
    )


def q_bayer_dither(spark, sf_dir):
    """Ordered Bayer-4x4 dithering audit (imageops.bayer_dither_stats):
    per-image per-phase halftone on-counts, exact integer thresholds
    B[y%4][x%4]*16+7 through the real decode path."""
    from .operators.imageops import bayer_dither_stats
    from .sources.images import images_table

    img = images_table(spark, N_SEAM_IMAGES).filter(F.col("fmt") != "jpeg")
    return bayer_dither_stats(img).orderBy("image_id", "phase")


def q_bayer_dither_oracle():
    from .operators.imageops import _BAYER4
    from .sources.images import SIZES

    size_case = lambda e: (
        f"(CASE ({e}) % 3 WHEN 0 THEN {SIZES[0]} WHEN 1 THEN {SIZES[1]} "
        f"ELSE {SIZES[2]} END)"
    )
    chan = lambda k: f"(((x.x) * 3 + (y.y) * 7 + {k} * 31 + d.i * 13) % 256)"
    luma = f"((299 * {chan(0)} + 587 * {chan(1)} + 114 * {chan(2)}) // 1000)"
    flat = [b for row in _BAYER4 for b in row]
    blit = "[" + ", ".join(str(b) for b in flat) + "]"
    return f"""
WITH dims AS (
  SELECT i, {size_case('i')} AS w, {size_case('i // 3')} AS h
  FROM generate_series(0, {N_SEAM_IMAGES - 1}) t(i)
  WHERE i % 3 <> 2),
px AS (
  SELECT d.i, (y.y % 4) * 4 + (x.x % 4) AS phase,
         CASE WHEN {luma} > {blit}[(y.y % 4) * 4 + (x.x % 4) + 1] * 16 + 7
              THEN 1 ELSE 0 END AS bit
  FROM dims d, generate_series(0, 63) x(x), generate_series(0, 63) y(y)
  WHERE x.x < d.w AND y.y < d.h)
SELECT 'img-' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       CAST(phase AS BIGINT) AS phase, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(bit) AS BIGINT) AS ones
FROM px GROUP BY 1, 2 ORDER BY image_id, phase"""


def q_fast_corners(spark, sf_dir):
    """FAST-9 corner detection (terrain.fast_corners_tiles): radius-3
    Bresenham ring, >= 9 contiguous brighter/darker via the 16-bit
    rotate-AND run test — pure integer, 3-px halo gather."""
    from .raster.grid import GridGeometry
    from .raster.terrain import fast_corners_tiles

    W, H = 448, 256
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _texture_tiles(spark, W, H)
    return fast_corners_tiles(tiles, gg, t=20).orderBy("x", "y")


def q_fast_corners_oracle():
    from .raster.terrain import _FAST_RING

    v = _texture_v_sql
    b_bits, d_bits = [], []
    for i, (dy, dx) in enumerate(_FAST_RING):
        nb = v(f"x + {dx}", f"y + {dy}")
        b_bits.append(f"(CASE WHEN {nb} > c + 20 THEN {1 << i} ELSE 0 END)")
        d_bits.append(f"(CASE WHEN {nb} < c - 20 THEN {1 << i} ELSE 0 END)")

    def run9(m):
        return f"""(
  SELECT r8 & ((({m} >> 8) | ({m} << 8)) & 65535) FROM (
    SELECT r4 & (((r4 >> 4) | (r4 << 12)) & 65535) AS r8 FROM (
      SELECT r2 & (((r2 >> 2) | (r2 << 14)) & 65535) AS r4 FROM (
        SELECT {m} & ((({m} >> 1) | ({m} << 15)) & 65535) AS r2) a) b) c)"""

    return f"""
WITH px AS (
  SELECT gx.x AS x, gy.y AS y, {v('gx.x', 'gy.y')} AS c
  FROM generate_series(3, 444) gx(x), generate_series(3, 252) gy(y)),
masks AS (
  SELECT x, y, {' + '.join(b_bits)} AS bm, {' + '.join(d_bits)} AS dm
  FROM px),
runs AS (
  SELECT x, y, {run9('bm')} AS rb, {run9('dm')} AS rd FROM masks)
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(CASE WHEN rb <> 0 THEN 1 ELSE 0 END AS BIGINT) AS kind
FROM runs WHERE rb <> 0 OR rd <> 0 ORDER BY x, y"""


def q_clahe(spark, sf_dir):
    """Contrast-limited adaptive histogram equalization
    (tiles.clahe_tiles, clip 64, 64-px tiles): per-tile clipped
    histograms -> floor-redistributed CDF LUTs -> exact-integer bilinear
    blend of the 4 nearest tile LUTs; gate output is the per-tile
    (count, sum) of the remapped image — any single-pixel drift in the
    LUT chain moves a sum."""
    import pandas as _pd
    import numpy as _np

    from .raster.grid import GridGeometry
    from .raster.tiles import clahe_tiles

    W, H = 448, 256
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _texture_tiles(spark, W, H)
    out = clahe_tiles(tiles, gg, clip_limit=64)

    def stats(batches):
        for pdf in batches:
            rows = []
            for tx, ty, data in zip(pdf["tx"], pdf["ty"], pdf["data"]):
                block = _np.frombuffer(data, _np.uint8)
                rows.append({"tx": int(tx), "ty": int(ty),
                             "n": int(block.size),
                             "s": int(block.astype(_np.int64).sum())})
            if rows:
                yield _pd.DataFrame(rows)

    return out.mapInPandas(
        stats, schema="tx long, ty long, n long, s long"
    ).orderBy("tx", "ty")


def q_clahe_oracle():
    W, H, T = 448, 256, 64
    v = _texture_v_sql("gx.x", "gy.y")
    return f"""
WITH px AS MATERIALIZED (
  SELECT gx.x AS x, gy.y AS y, ({v}) AS val,
         gx.x // {T} AS i, gy.y // {T} AS j
  FROM generate_series(0, {W - 1}) gx(x), generate_series(0, {H - 1}) gy(y)),
hist AS (SELECT i, j, val AS v, count(*) AS h FROM px GROUP BY 1, 2, 3),
bins AS (
  SELECT t.i, t.j, b.v, coalesce(h.h, 0) AS h
  FROM (SELECT DISTINCT i, j FROM px) t
  CROSS JOIN generate_series(0, 255) b(v)
  LEFT JOIN hist h ON h.i = t.i AND h.j = t.j AND h.v = b.v),
exc AS (
  SELECT i, j, CAST(sum(greatest(h - 64, 0)) AS BIGINT) AS e
  FROM bins GROUP BY 1, 2),
clipped AS (
  SELECT b.i, b.j, b.v,
         least(b.h, 64) + e.e // 256
         + (CASE WHEN b.v < e.e % 256 THEN 1 ELSE 0 END) AS h2
  FROM bins b JOIN exc e ON e.i = b.i AND e.j = b.j),
lut AS MATERIALIZED (
  SELECT i, j, v,
         CAST(sum(h2) OVER (PARTITION BY i, j ORDER BY v) AS BIGINT)
           * 255 // {T * T} AS l
  FROM clipped),
corners AS (
  SELECT x // {T} AS ti, y // {T} AS tj, val,
         greatest(0, least({W // T - 1}, (x + {T // 2}) // {T} - 1)) AS i0,
         greatest(0, least({W // T - 1}, (x + {T // 2}) // {T})) AS i1,
         (x + {T // 2}) % {T} AS wx,
         greatest(0, least({H // T - 1}, (y + {T // 2}) // {T} - 1)) AS j0,
         greatest(0, least({H // T - 1}, (y + {T // 2}) // {T})) AS j1,
         (y + {T // 2}) % {T} AS wy
  FROM px),
mapped AS (
  SELECT c.ti, c.tj,
         (({T} - wx) * ({T} - wy) * a.l + wx * ({T} - wy) * b.l
          + ({T} - wx) * wy * d.l + wx * wy * e.l) // {T * T} AS m
  FROM corners c
  JOIN lut a ON a.i = c.i0 AND a.j = c.j0 AND a.v = c.val
  JOIN lut b ON b.i = c.i1 AND b.j = c.j0 AND b.v = c.val
  JOIN lut d ON d.i = c.i0 AND d.j = c.j1 AND d.v = c.val
  JOIN lut e ON e.i = c.i1 AND e.j = c.j1 AND e.v = c.val)
SELECT CAST(ti AS BIGINT) AS tx, CAST(tj AS BIGINT) AS ty,
       CAST(count(*) AS BIGINT) AS n, CAST(sum(m) AS BIGINT) AS s
FROM mapped GROUP BY 1, 2 ORDER BY tx, ty"""


_CANNY_TL, _CANNY_TH = 300_000, 600_000


def q_canny(spark, sf_dir):
    """Full Canny edge chain (terrain.canny_nms_tiles + canny_edges):
    Sobel m2, integer 12/29-sector direction quantization, NMS vs the
    two axis neighbors, double threshold 3e5/6e5, hysteresis as
    connected components over the SPARSE survivor graph — the oracle
    replays NMS with self-joins and the hysteresis closure as a
    recursive CTE from the strong seeds."""
    from .raster.grid import GridGeometry
    from .raster.terrain import canny_edges, canny_nms_tiles

    W, H = 448, 256
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _texture_tiles(spark, W, H)
    nms = canny_nms_tiles(tiles, gg, t_low=_CANNY_TL)
    return canny_edges(nms, gg, t_high=_CANNY_TH).orderBy("x", "y")


def q_canny_oracle():
    from .raster.terrain import CANNY_AXIS_SQL

    W, H = 448, 256
    v = _texture_v_sql
    ixe = (f"({v('x+1', 'y-1')}) + 2*({v('x+1', 'y')}) + ({v('x+1', 'y+1')})"
           f" - ({v('x-1', 'y-1')}) - 2*({v('x-1', 'y')})"
           f" - ({v('x-1', 'y+1')})")
    iye = (f"({v('x-1', 'y+1')}) + 2*({v('x', 'y+1')}) + ({v('x+1', 'y+1')})"
           f" - ({v('x-1', 'y-1')}) - 2*({v('x', 'y-1')})"
           f" - ({v('x+1', 'y-1')})")
    axis = CANNY_AXIS_SQL.format(gx="gx", gy="gy")
    dx = "(CASE p.axis WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 0 ELSE 1 END)"
    dy = "(CASE p.axis WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 1 ELSE -1 END)"
    return f"""
WITH RECURSIVE grad AS MATERIALIZED (
  SELECT gx.x AS x, gy.y AS y,
         ({ixe}) AS gx, ({iye}) AS gy
  FROM generate_series(1, {W - 2}) gx(x), generate_series(1, {H - 2}) gy(y)),
ax AS MATERIALIZED (
  SELECT x, y, gx * gx + gy * gy AS m2, {axis} AS axis
  FROM grad),
nms AS MATERIALIZED (
  SELECT p.x, p.y, p.m2
  FROM ax p
  JOIN ax n1 ON n1.x = p.x + {dx} AND n1.y = p.y + {dy}
  JOIN ax n2 ON n2.x = p.x - {dx} AND n2.y = p.y - {dy}
  WHERE p.x BETWEEN 2 AND {W - 3} AND p.y BETWEEN 2 AND {H - 3}
    AND p.m2 >= n1.m2 AND p.m2 >= n2.m2 AND p.m2 >= {_CANNY_TL}),
r AS (
  SELECT x, y FROM nms WHERE m2 >= {_CANNY_TH}
  UNION
  SELECT n.x, n.y FROM r JOIN nms n
    ON abs(n.x - r.x) <= 1 AND abs(n.y - r.y) <= 1)
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y
FROM r ORDER BY x, y"""


def q_euler(spark, sf_dir):
    """Euler-number quad counts (terrain.euler_tiles, mask = texture >=
    128, Gray's formula): per-tile Q1/Q3/Qd over every 2x2 window of the
    zero-padded plane — components minus holes derivable as
    (Q1-Q3+-2Qd)/4 with NO labeling pass; 1-px halo, exact integers."""
    from .raster.grid import GridGeometry
    from .raster.terrain import euler_tiles

    W, H = 448, 256
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _texture_tiles(spark, W, H)
    return euler_tiles(tiles, gg, threshold=128).orderBy("tx", "ty")


def q_euler_oracle():
    W, H, T = 448, 256, 64
    v = _texture_v_sql

    def fg(xe, ye, xmax, ymax):
        return (f"CASE WHEN {xe} >= 0 AND {xe} <= {xmax} AND {ye} >= 0 "
                f"AND {ye} <= {ymax} AND ({v(xe, ye)}) >= 128 "
                f"THEN 1 ELSE 0 END")

    a = fg("ax.x", "ay.y", W - 1, H - 1)
    b = fg("ax.x + 1", "ay.y", W - 1, H - 1)
    c = fg("ax.x", "ay.y + 1", W - 1, H - 1)
    d = fg("ax.x + 1", "ay.y + 1", W - 1, H - 1)
    return f"""
WITH q AS (
  SELECT greatest(ax.x, 0) // {T} AS tx, greatest(ay.y, 0) // {T} AS ty,
         ({a}) AS a, ({b}) AS b, ({c}) AS c, ({d}) AS d
  FROM generate_series(-1, {W - 1}) ax(x),
       generate_series(-1, {H - 1}) ay(y))
SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
       CAST(sum(CASE WHEN a + b + c + d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS q1,
       CAST(sum(CASE WHEN a + b + c + d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS q3,
       CAST(sum(CASE WHEN (a = 1 AND d = 1 AND b = 0 AND c = 0)
                      OR (b = 1 AND c = 1 AND a = 0 AND d = 0)
                THEN 1 ELSE 0 END) AS BIGINT) AS qd
FROM q GROUP BY 1, 2 ORDER BY tx, ty"""


_ZS_ROUNDS = 3


def q_skeleton(spark, sf_dir):
    """K-round Zhang-Suen thinning (terrain.zhang_suen_tiles, mask =
    texture >= 230, 3 rounds = 6 subpasses): the time-skewed stencil —
    ONE 6-px halo gather, all subpasses local and exact, zero iterative
    shuffles.  The oracle unrolls each subpass as a CTE with 8 LEFT
    JOINs replaying the delete rule."""
    from .raster.grid import GridGeometry
    from .raster.terrain import zhang_suen_tiles

    W, H = 448, 256
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _texture_tiles(spark, W, H)
    return zhang_suen_tiles(
        tiles, gg, threshold=230, rounds=_ZS_ROUNDS
    ).orderBy("x", "y")


def q_skeleton_oracle():
    from .raster.terrain import zhang_suen_round_sql

    W, H = 448, 256
    v = _texture_v_sql("gx.x", "gy.y")
    ctes = [f"""m0 AS MATERIALIZED (
  SELECT gx.x AS x, gy.y AS y
  FROM generate_series(0, {W - 1}) gx(x), generate_series(0, {H - 1}) gy(y)
  WHERE ({v}) >= 230)"""]
    for i in range(2 * _ZS_ROUNDS):
        ctes.append(zhang_suen_round_sql(f"m{i}", f"m{i + 1}", i % 2))
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y "
          f"FROM m{2 * _ZS_ROUNDS} ORDER BY x, y"
    )


_HARRIS_THR = 20_000_000_000_000  # ~top-1% responses of the texture grid


def q_harris(spark, sf_dir):
    """Harris corner response shortlist (terrain.harris_tiles, k = 1/20):
    Sobel gradients, 3x3 structure-tensor sums, exact-integer response
    r = 20*(Sxx*Syy - Sxy^2) - (Sxx+Syy)^2 >= 2e13 — 2-px halo gather,
    no FP, int64-safe by construction."""
    from .raster.grid import GridGeometry
    from .raster.terrain import harris_tiles

    W, H = 448, 256
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _texture_tiles(spark, W, H)
    return harris_tiles(tiles, gg, threshold=_HARRIS_THR).orderBy("x", "y")


def q_harris_oracle():
    W, H = 448, 256
    v = _texture_v_sql
    ixe = (f"({v('x+1', 'y-1')}) + 2*({v('x+1', 'y')}) + ({v('x+1', 'y+1')})"
           f" - ({v('x-1', 'y-1')}) - 2*({v('x-1', 'y')})"
           f" - ({v('x-1', 'y+1')})")
    iye = (f"({v('x-1', 'y+1')}) + 2*({v('x', 'y+1')}) + ({v('x+1', 'y+1')})"
           f" - ({v('x-1', 'y-1')}) - 2*({v('x', 'y-1')})"
           f" - ({v('x+1', 'y-1')})")
    offs = ", ".join(
        f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    )
    # group-shift window sums: gradient (x, y) contributes to center
    # (x - dx, y - dy); the interior filter keeps only full 9-cell sums.
    return f"""
WITH grad AS MATERIALIZED (
  SELECT gx.x AS x, gy.y AS y, ({ixe}) AS ix, ({iye}) AS iy
  FROM generate_series(1, {W - 2}) gx(x), generate_series(1, {H - 2}) gy(y)),
o AS (SELECT * FROM (VALUES {offs}) o(dx, dy)),
s AS (
  SELECT g.x - o.dx AS x, g.y - o.dy AS y,
         CAST(sum(g.ix*g.ix) AS BIGINT) AS sxx,
         CAST(sum(g.iy*g.iy) AS BIGINT) AS syy,
         CAST(sum(g.ix*g.iy) AS BIGINT) AS sxy
  FROM grad g CROSS JOIN o
  GROUP BY 1, 2)
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(20*(sxx*syy - sxy*sxy) - (sxx+syy)*(sxx+syy) AS BIGINT) AS r
FROM s
WHERE x BETWEEN 2 AND {W - 3} AND y BETWEEN 2 AND {H - 3}
  AND 20*(sxx*syy - sxy*sxy) - (sxx+syy)*(sxx+syy) >= {_HARRIS_THR}
ORDER BY x, y"""


def q_hough(spark, sf_dir):
    """Hough line-vote accumulator (terrain.hough_votes): edge pixels
    (texture > 240) vote into 8 quantized angles x 4-px rho buckets —
    shared integer LUTs, exact int64 votes."""
    from .raster.grid import GridGeometry
    from .raster.terrain import hough_votes

    W, H = 448, 256
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _texture_tiles(spark, W, H)
    return hough_votes(tiles, gg, threshold=240).orderBy("k", "rho_idx")


def q_hough_oracle():
    from .raster.terrain import HOUGH_OFFSET, HOUGH_STEP, hough_luts

    cq, sq = hough_luts(8)
    v = _texture_v_sql("gx.x", "gy.y")
    arms = " UNION ALL ".join(
        f"SELECT {k} AS k, (x * {cq[k]} + y * {sq[k]} + {HOUGH_OFFSET}) "
        f"// {HOUGH_STEP} AS rho_idx FROM pts"
        for k in range(8)
    )
    return f"""
WITH pts AS (
  SELECT gx.x AS x, gy.y AS y
  FROM generate_series(0, 447) gx(x), generate_series(0, 255) gy(y)
  WHERE ({v}) > 240),
votes AS ({arms})
SELECT CAST(k AS BIGINT) AS k, CAST(rho_idx AS BIGINT) AS rho_idx,
       CAST(count(*) AS BIGINT) AS votes
FROM votes GROUP BY 1, 2 ORDER BY k, rho_idx"""


def q_douglas_peucker(spark, sf_dir):
    """Douglas-Peucker polyline simplification (trajectory.douglas_peucker,
    eps = 2e5 quantized units = 2 deg) over per-user tracks: recursive
    farthest-point split, cross^2-vs-eps^2*len2 exact (int128) compare,
    smallest-index argmax ties; oracle replays the split as round-based
    gap insertion in a recursive CTE (same fixpoint, HUGEINT)."""
    from .operators.trajectory import douglas_peucker

    pts = _traj_pts_df(spark, sf_dir).select(
        F.col("user_id").alias("k"), F.col("rn").alias("o"),
        F.col("qx").alias("x"), F.col("qy").alias("y"),
    )
    return douglas_peucker(pts, eps=200000).orderBy("k", "o")


def q_douglas_peucker_oracle():
    from .operators.trajectory import douglas_peucker_sql

    pts = f"SELECT k, o, x, y FROM ({_traj_pts_sql()}) tp"
    return (
        "SELECT * FROM (" + douglas_peucker_sql(pts, 200000)
        + ") ORDER BY k, o"
    )


def q_geofence(spark, sf_dir):
    """Geofence enter/exit extraction (trajectory.geofence_transitions):
    inside = quantized haversine band (< 2000 km of (10, 52), the
    geodesic_within km discipline so the flag is bit-stable), transitions
    + visit numbering per user track — one lag/cumsum window."""
    from .operators.trajectory import geofence_transitions

    lon, lat = point_lonlat_cols("event_id")
    d = haversine_col(lon, lat, F.lit(10.0), F.lit(52.0))
    km = F.floor(d / F.lit(1000.0) - F.lit(0.123456789)).cast("long")
    pts = _read(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), F.col("event_id").alias("o"),
        (km < 2000).cast("long").alias("ins"),
    )
    return geofence_transitions(pts, "ins").orderBy("k", "o")


def q_geofence_oracle():
    from .functions.geometry import haversine_sql
    from .operators.trajectory import geofence_transitions_sql

    d = haversine_sql(
        synth.point_lon_sql("event_id"), synth.point_lat_sql("event_id"),
        "10.0", "52.0",
    )
    base = f"""SELECT user_id AS k, event_id AS o,
       CASE WHEN CAST(floor({d} / 1000.0 - 0.123456789) AS BIGINT) < 2000
            THEN 1 ELSE 0 END AS ins
FROM events"""
    return (
        "SELECT * FROM (" + geofence_transitions_sql(base)
        + ") ORDER BY k, o"
    )


def q_psi(spark, sf_dir):
    """Population Stability Index drift audit (analytics.population_
    stability): event-type distribution of the first epoch half vs the
    second (epoch = event_id median split), per-bucket quantized PSI
    terms — exact counts, shared ln text."""
    from .operators.analytics import population_stability

    e = _read(spark, sf_dir, "events")
    n = e.count()
    d = e.select(
        F.col("event_type").alias("bucket"),
        (F.col("event_id") * 2 >= n).cast("long").alias("ep"),
    )
    return population_stability(d, "bucket", "ep").orderBy("bucket")


def q_psi_oracle():
    from .operators.analytics import population_stability_sql

    base = ("SELECT event_type AS bucket, "
            "CASE WHEN event_id * 2 >= (SELECT count(*) FROM events) "
            "THEN 1 ELSE 0 END AS ep FROM events")
    return (
        "SELECT * FROM ("
        + population_stability_sql(base, "bucket", "ep")
        + ") ORDER BY bucket"
    )


def q_curvature(spark, sf_dir):
    """Second-derivative curvature accumulators (terrain.curvature_tiles):
    per-tile exact-integer |fxx|, |fyy|, |4fxy| stencil sums over the
    texture raster — the roughness/sharpness profile, one halo gather."""
    from .raster.grid import GridGeometry
    from .raster.terrain import curvature_tiles

    W, H = 448, 256
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _texture_tiles(spark, W, H)
    return curvature_tiles(tiles, gg).orderBy("tx", "ty")


def q_curvature_oracle():
    v = _texture_v_sql
    fxx = f"abs({v('x + 1', 'y')} + {v('x - 1', 'y')} - 2 * ({v('x', 'y')}))"
    fyy = f"abs({v('x', 'y + 1')} + {v('x', 'y - 1')} - 2 * ({v('x', 'y')}))"
    fxy = (f"abs({v('x + 1', 'y + 1')} - {v('x + 1', 'y - 1')}"
           f" - {v('x - 1', 'y + 1')} + {v('x - 1', 'y - 1')})")
    return f"""
WITH px AS (
  SELECT gx.x AS x, gy.y AS y
  FROM generate_series(1, 446) gx(x), generate_series(1, 254) gy(y))
SELECT x // 64 AS tx, y // 64 AS ty, CAST(count(*) AS BIGINT) AS n,
       CAST(sum({fxx}) AS BIGINT) AS sum_abs_fxx,
       CAST(sum({fyy}) AS BIGINT) AS sum_abs_fyy,
       CAST(sum({fxy}) AS BIGINT) AS sum_abs_fxy
FROM px GROUP BY 1, 2 ORDER BY tx, ty"""


def q_t_closeness(spark, sf_dir):
    """t-closeness audit (quality.t_closeness): per QI group the exact
    integer EMD numerator between the group's ordered sensitive-value
    distribution and the global one — the privacy-drift sibling of
    k_anonymity / l_diversity."""
    from .operators.quality import t_closeness

    o = _read(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 20).alias("qi"),
        (F.col("o_orderkey") % 8).alias("sens"),
    )
    return t_closeness(o, "qi", "sens").orderBy("grp")


def q_t_closeness_oracle():
    from .operators.quality import t_closeness_sql

    base = ("SELECT o_custkey % 20 AS qi, o_orderkey % 8 AS sens "
            "FROM orders")
    return (
        "SELECT * FROM (" + t_closeness_sql(base, "qi", "sens")
        + ") ORDER BY grp"
    )


def q_cost_distance(spark, sf_dir):
    """Raster cost-distance (terrain.cost_distance_tiles, hops=8):
    multi-source hop-bounded Bellman-Ford over the 8-neighbor cell graph
    with exact-integer edge costs (cu+cv)*2 orthogonal / *3 diagonal,
    sources = cells of cost 1 — the grid twin of graph.shortest_paths;
    oracle unrolls the relax rounds as MATERIALIZED CTEs."""
    from .raster.grid import GridGeometry
    from .raster.terrain import cost_distance_tiles

    W, H = 192, 128
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _texture_tiles(spark, W, H)
    return cost_distance_tiles(tiles, gg, hops=8).orderBy("x", "y")


def q_cost_distance_oracle():
    from .raster.terrain import _COST_STEPS

    W, H, HOPS = 192, 128, 8
    v = _texture_v_sql("gx.x", "gy.y")
    arms = " UNION ALL ".join(
        f"""SELECT c1.y * {W} + c1.x AS s, c2.y * {W} + c2.x AS d,
       (c1.c + c2.c) * {m} AS w
FROM cells c1 JOIN cells c2
  ON c2.x = c1.x + {dx} AND c2.y = c1.y + {dy}"""
        for dx, dy, m in _COST_STEPS
    )
    blocks = [f"""cells AS MATERIALIZED (
  SELECT gx.x AS x, gy.y AS y, ({v}) + 1 AS c
  FROM generate_series(0, {W - 1}) gx(x), generate_series(0, {H - 1}) gy(y))""",
              f"e AS MATERIALIZED ({arms})",
              f"""d0 AS MATERIALIZED (
  SELECT y * {W} + x AS node, CAST(0 AS BIGINT) AS dist
  FROM cells WHERE c <= 1)"""]
    for i in range(HOPS):
        blocks.append(f"""d{i + 1} AS MATERIALIZED (
  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT e.d AS node, d{i}.dist + e.w AS dist
    FROM d{i} JOIN e ON e.s = d{i}.node
    UNION ALL SELECT node, dist FROM d{i}) t
  GROUP BY 1)"""
        )
    return (
        "WITH " + ",\n".join(blocks)
        + f"""
SELECT CAST(node % {W} AS BIGINT) AS x, CAST(node // {W} AS BIGINT) AS y,
       dist
FROM d{HOPS} ORDER BY x, y"""
    )


def q_viewshed(spark, sf_dir):
    """Raster viewshed (terrain.viewshed_tiles): exact-integer
    line-of-sight from one observer — Chebyshev-step Bresenham sampling,
    half-up integer rounding of the sample cell, cross-multiplied slope
    blocking test; (x, y, vis) for every cell, all int64."""
    from .raster.grid import GridGeometry
    from .raster.terrain import viewshed_tiles

    W, H = 192, 128
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _texture_tiles(spark, W, H)
    return viewshed_tiles(tiles, gg, ox=96, oy=64, obs_height=20).orderBy(
        "x", "y"
    )


def q_viewshed_oracle():
    W, H, OX, OY, HT = 192, 128, 96, 64, 20
    v = _texture_v_sql("gx.x", "gy.y")
    return f"""
WITH cells AS MATERIALIZED (
  SELECT gx.x AS x, gy.y AS y, ({v}) AS z
  FROM generate_series(0, {W - 1}) gx(x), generate_series(0, {H - 1}) gy(y)),
obs AS (SELECT z + {HT} AS zo FROM cells WHERE x = {OX} AND y = {OY}),
t AS (
  SELECT x, y, z AS zt,
         greatest(abs(x - {OX}), abs(y - {OY})) AS d
  FROM cells WHERE NOT (x = {OX} AND y = {OY})),
si AS (
  SELECT x, y, zt, d, unnest(range(1, d)) AS i FROM t),
s AS (
  SELECT x, y, zt, d, i,
         (2 * ({OX} * d + i * (x - {OX})) + d) // (2 * d) AS sx,
         (2 * ({OY} * d + i * (y - {OY})) + d) // (2 * d) AS sy
  FROM si),
b AS (
  SELECT DISTINCT s.x, s.y
  FROM s JOIN cells c ON c.x = s.sx AND c.y = s.sy, obs
  WHERE (c.z - obs.zo) * s.d >= (s.zt - obs.zo) * s.i)
SELECT CAST(c.x AS BIGINT) AS x, CAST(c.y AS BIGINT) AS y,
       CAST(CASE WHEN b.x IS NULL THEN 1 ELSE 0 END AS BIGINT) AS vis
FROM cells c LEFT JOIN b ON b.x = c.x AND b.y = c.y
ORDER BY x, y"""


def _tmatch_template(th: int = 5, tw: int = 5):
    import numpy as _np

    U, V = _np.meshgrid(_np.arange(tw, dtype=_np.int64),
                        _np.arange(th, dtype=_np.int64))
    return (7 * U + 11 * V + 3 * U * V + 1) % 256


def q_template_match(spark, sf_dir):
    """2-D template matching (terrain.template_match_tiles): exact-integer
    SSD of a 5x5 template at every fully-inside position — right/down
    apron gather, vectorized kernel loop, int64 end to end."""
    from .raster.grid import GridGeometry
    from .raster.terrain import template_match_tiles

    W, H = 192, 128
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _texture_tiles(spark, W, H)
    return template_match_tiles(tiles, gg, _tmatch_template()).orderBy(
        "x", "y"
    )


def q_template_match_oracle():
    W, H = 192, 128
    T = _tmatch_template()
    th, tw = T.shape
    vals = ", ".join(
        f"({u}, {v}, {int(T[v, u])})"
        for v in range(th) for u in range(tw)
    )
    v = _texture_v_sql("gx.x", "gy.y")
    return f"""
WITH cells AS MATERIALIZED (
  SELECT gx.x AS x, gy.y AS y, ({v}) AS z
  FROM generate_series(0, {W - 1}) gx(x), generate_series(0, {H - 1}) gy(y)),
tpl AS (SELECT * FROM (VALUES {vals}) tpl(u, v, t)),
pos AS (
  SELECT gx.x AS x, gy.y AS y
  FROM generate_series(0, {W - tw}) gx(x), generate_series(0, {H - th}) gy(y))
SELECT CAST(p.x AS BIGINT) AS x, CAST(p.y AS BIGINT) AS y,
       CAST(sum((c.z - tpl.t) * (c.z - tpl.t)) AS BIGINT) AS ssd
FROM pos p CROSS JOIN tpl
JOIN cells c ON c.x = p.x + tpl.u AND c.y = p.y + tpl.v
GROUP BY 1, 2 ORDER BY x, y"""


def q_seasonal(spark, sf_dir):
    """Exact-integer seasonal decomposition (timeseries.
    seasonal_decompose_int, period 24) per user: phase = t % 24, the
    per-(user, phase) seasonal component carried as exact (ssum, cnt)
    rationals, and the cnt-scaled residual dev = x*cnt - ssum — all
    int64, one hash partition, no FP."""
    from .operators.timeseries import seasonal_decompose_int

    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    lon, _ = point_lonlat_cols("event_id")
    pts = ev.select(
        "user_id",
        F.col("event_id").alias("t"),
        F.floor(lon * 10000).cast("long").alias("x"),
    )
    return seasonal_decompose_int(
        pts, t_col="t", x_col="x", period=24, key_cols=("user_id",)
    ).orderBy("user_id", "t")


def q_seasonal_oracle():
    from .operators.timeseries import seasonal_decompose_sql

    base = (
        "SELECT user_id, event_id AS t, "
        f"CAST(floor(({synth.point_lon_sql('event_id')}) * 1.0e4) AS BIGINT) AS x "
        "FROM events WHERE event_id < 4000"
    )
    return (
        "SELECT * FROM ("
        + seasonal_decompose_sql(base, period=24, key_cols=("user_id",))
        + ") ORDER BY user_id, t"
    )


def q_dft(spark, sf_dir):
    """Fixed-period DFT spectral coefficients (timeseries.dft_coeffs,
    period 32, freqs 1-4) per user: quantized integer cos/sin LUTs
    shared verbatim with the oracle (the hough_luts pattern) make the
    periodogram sums exact int64 — no trig at runtime."""
    from .operators.timeseries import dft_coeffs

    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    lon, _ = point_lonlat_cols("event_id")
    pts = ev.select(
        "user_id",
        F.col("event_id").alias("t"),
        F.floor(lon * 10000).cast("long").alias("x"),
    )
    return dft_coeffs(pts, key_cols=("user_id",)).orderBy(
        "user_id", "freq")


def q_dft_oracle():
    from .operators.timeseries import dft_coeffs_sql

    base = (
        "SELECT user_id, event_id AS t, "
        f"CAST(floor(({synth.point_lon_sql('event_id')}) * 1.0e4) AS BIGINT) AS x "
        "FROM events WHERE event_id < 4000"
    )
    return (
        "SELECT * FROM ("
        + dft_coeffs_sql(base, key_cols=("user_id",))
        + ") ORDER BY user_id, freq"
    )


_MR_BOX = (-47.3, 12.1, 33.9, 55.2)
_MR_RES = 9


def q_morton_ranges(spark, sf_dir):
    """Z-order scan-range decomposition (partitioning.morton_ranges,
    res 9): envelope -> merged runs of consecutive Morton cell ids —
    the planner step that turns a bbox into index range scans over a
    Z-ordered layout.  Distributed cell generation + the integer
    islands merge (cell - row_number)."""
    from .operators.partitioning import morton_ranges

    return morton_ranges(spark, *_MR_BOX, res=_MR_RES).orderBy("lo")


def q_morton_ranges_oracle():
    from .operators.partitioning import morton_ranges_sql

    return (
        "SELECT * FROM ("
        + morton_ranges_sql(*_MR_BOX, res=_MR_RES)
        + ") ORDER BY lo"
    )


_HELMERT = {"tx": 1234, "ty": -2345, "tz": 3456,
            "rx": 12, "ry": -34, "rz": 55, "ds": 3}


def q_helmert(spark, sf_dir):
    """7-parameter Helmert datum shift (transforms.helmert_cols,
    position-vector EPSG 9606 family) over synthetic millimeter-scaled
    geocentric coordinates: pure scaled-integer linear transform, no
    division — the datum-change step of any cross-CRS pipeline,
    bit-exact in both engines."""
    from .functions.transforms import helmert_cols

    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    pts = ev.select(
        "event_id",
        (F.col("event_id") * 9973 % 12000000000 - 6000000000).alias("x"),
        (F.col("event_id") * 7717 % 12000000000 - 6000000000).alias("y"),
        (F.col("event_id") * 5279 % 12000000000 - 6000000000).alias("z"),
    )
    xs, ys, zs = helmert_cols(
        F.col("x"), F.col("y"), F.col("z"), _HELMERT)
    return pts.select("event_id", xs, ys, zs).orderBy("event_id")


def q_helmert_oracle():
    from .functions.transforms import helmert_sql

    exprs = helmert_sql("x", "y", "z", _HELMERT)
    return f"""
WITH p AS (
  SELECT event_id,
         event_id * 9973 % 12000000000 - 6000000000 AS x,
         event_id * 7717 % 12000000000 - 6000000000 AS y,
         event_id * 5279 % 12000000000 - 6000000000 AS z
  FROM events WHERE event_id < 4000)
SELECT event_id, {exprs} FROM p ORDER BY event_id"""


def q_co_traveler(spark, sf_dir):
    """Co-traveler detection (trajectory.co_travelers, 32x32 grid,
    600-tick time bins, >= 2 distinct meetings): user pairs repeatedly
    co-located in the same space-time bucket — one distinct presence
    pass, then an equi-join ON THE BUCKET KEY (never all user pairs)."""
    from .operators.trajectory import co_travelers

    ev = _read(spark, sf_dir, "events")
    lon, lat = point_lonlat_cols("event_id")
    pts = ev.select(
        F.col("user_id").alias("u"),
        (F.col("event_id") * 7919 % 86400).alias("t"),
        lon.alias("lon"), lat.alias("lat"),
    )
    return co_travelers(
        pts, grid_n=32, time_bin=600, min_meetings=2, user_col="u"
    ).orderBy("u1", "u2")


def q_co_traveler_oracle():
    from .operators.trajectory import co_travelers_sql

    base = (
        "SELECT user_id AS u, event_id * 7919 % 86400 AS t, "
        f"{synth.point_lon_sql('event_id')} AS lon, "
        f"{synth.point_lat_sql('event_id')} AS lat FROM events"
    )
    return (
        "SELECT * FROM ("
        + co_travelers_sql(base, grid_n=32, time_bin=600, min_meetings=2)
        + ") ORDER BY u1, u2"
    )


def q_jenks(spark, sf_dir):
    """Optimal 1-D class breaks (analytics.jenks_costs, k = 5, the
    Fisher/Jenks natural-breaks family) over the events' quantized
    longitude byte: exact integer DP on a collected <= 256-bin
    histogram; the oracle replays the DP as a recursive CTE carrying the
    D row as a LIST.  Output: optimal cost per class count 1..5."""
    from .operators.analytics import jenks_costs

    ev = _events_points(spark, sf_dir)
    vals = ev.select(
        (F.floor((F.col("lon") + 180.0) * 100).cast("long") % 256)
        .alias("v")
    )
    return jenks_costs(vals, "v", k=5).orderBy("c")


def q_jenks_oracle():
    from .operators.analytics import jenks_costs_sql

    base = (
        f"SELECT CAST(floor((({synth.point_lon_sql('event_id')}) + 180.0)"
        " * 100) AS BIGINT) % 256 AS v FROM events"
    )
    return jenks_costs_sql(base, "v", k=5)


def q_ordinal(spark, sf_dir):
    """Order-3 ordinal-pattern histogram (timeseries.ordinal_patterns)
    per user: consecutive value triples in event order map to the
    Bandt-Pompe code 4*[x0<=x1] + 2*[x0<=x2] + [x1<=x2] — the
    permutation-entropy input, pure lag-window codegen, no FP."""
    from .operators.timeseries import ordinal_patterns

    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    lon, _ = point_lonlat_cols("event_id")
    pts = ev.select(
        "user_id",
        F.col("event_id").alias("t"),
        F.floor(lon * 10000).cast("long").alias("x"),
    )
    return ordinal_patterns(
        pts, t_col="t", x_col="x", key_cols=("user_id",)
    ).orderBy("user_id", "code")


def q_ordinal_oracle():
    from .operators.timeseries import ordinal_patterns_sql

    base = (
        "SELECT user_id, event_id AS t, "
        f"CAST(floor(({synth.point_lon_sql('event_id')}) * 1.0e4) AS BIGINT) AS x "
        "FROM events WHERE event_id < 4000"
    )
    return (
        "SELECT * FROM ("
        + ordinal_patterns_sql(base, key_cols=("user_id",))
        + ") ORDER BY user_id, code"
    )


def q_haar(spark, sf_dir):
    """Per-tile 1-level Haar subband energies (tiles.haar_energy_tiles):
    unnormalized integer lifting over 2x2 blocks, exact int64 sums of
    squares per LL/HL/LH/HH — the wavelet blur/texture fingerprint."""
    from .raster.grid import GridGeometry
    from .raster.tiles import haar_energy_tiles

    W, H = 448, 256
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _texture_tiles(spark, W, H)
    return haar_energy_tiles(tiles, gg).orderBy("tx", "ty")


def q_haar_oracle():
    W, H, T = 448, 256, 64
    v = _texture_v_sql
    a = v("2*bx.i", "2*by.j")
    b = v("2*bx.i + 1", "2*by.j")
    c = v("2*bx.i", "2*by.j + 1")
    d = v("2*bx.i + 1", "2*by.j + 1")
    return f"""
WITH blk AS (
  SELECT bx.i AS bi, by.j AS bj,
         ({a}) AS a, ({b}) AS b, ({c}) AS c, ({d}) AS d
  FROM generate_series(0, {W // 2 - 1}) bx(i),
       generate_series(0, {H // 2 - 1}) by(j))
SELECT CAST(bi // {T // 2} AS BIGINT) AS tx,
       CAST(bj // {T // 2} AS BIGINT) AS ty,
       CAST(sum((a+b+c+d)*(a+b+c+d)) AS BIGINT) AS e_ll,
       CAST(sum((a-b+c-d)*(a-b+c-d)) AS BIGINT) AS e_hl,
       CAST(sum((a+b-c-d)*(a+b-c-d)) AS BIGINT) AS e_lh,
       CAST(sum((a-b-c+d)*(a-b-c+d)) AS BIGINT) AS e_hh
FROM blk GROUP BY 1, 2 ORDER BY tx, ty"""


def _texture_tiles_shifted(spark, w: int, h: int, tile_size: int = 64):
    """Right-eye twin of ``_texture_tiles``: value at (x, y) is the
    texture formula sampled at (x + D(y), y) with the planted disparity
    D(y) = 2 + y//64 — so block matching should recover D almost
    everywhere (SSD 0 at the true shift)."""
    import numpy as _np
    import pandas as _pd

    from .raster.tiles import TILE_SCHEMA

    ntx = (w + tile_size - 1) // tile_size
    nty = (h + tile_size - 1) // tile_size
    ids = spark.range(ntx * nty).repartition(
        min(ntx * nty, spark.sparkContext.defaultParallelism)
    )

    def fill(batches):
        gxs = _np.arange(tile_size, dtype=_np.int64)
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                t = int(i)
                tx, ty = t % ntx, t // ntx
                GX, GY = _np.meshgrid(tx * tile_size + gxs,
                                      ty * tile_size + gxs)
                SX = GX + 2 + GY // 64
                block = (3 * SX * SX + 7 * SX * GY + 5 * GY * GY
                         + 11 * SX + 13 * GY) % 256
                block = _np.where((GX < w) & (GY < h), block, 0).astype(
                    _np.uint8
                )
                rows.append({"tx": tx, "ty": ty, "band": 0,
                             "data": block.tobytes()})
            yield _pd.DataFrame(rows)

    return ids.mapInPandas(fill, TILE_SCHEMA)


def q_disparity(spark, sf_dir):
    """Stereo block-matching disparity (terrain.disparity_tiles, 8x8
    blocks, d in [0, 8], SSD argmin with smallest-d ties): the right
    image carries a planted row-band disparity D(y) = 2 + y//64, so the
    argmin recovers it with ssd = 0 — leftward-only 2-way tile halo,
    exact int64 SSDs."""
    from .raster.grid import GridGeometry
    from .raster.terrain import disparity_tiles

    W, H = 448, 256
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    left = _texture_tiles(spark, W, H)
    right = _texture_tiles_shifted(spark, W, H)
    return disparity_tiles(left, right, gg, d_max=8, block=8).orderBy(
        "bx", "by")


def q_disparity_oracle():
    W, H = 448, 256
    lv = _texture_v_sql("gx.x", "gy.y")
    rv = _texture_v_sql("gx.x + 2 + gy.y // 64", "gy.y")
    return f"""
WITH l AS MATERIALIZED (
  SELECT gx.x AS x, gy.y AS y, gx.x // 8 AS bx, gy.y // 8 AS by,
         ({lv}) AS lv
  FROM generate_series(0, {W - 1}) gx(x), generate_series(0, {H - 1}) gy(y)),
r AS MATERIALIZED (
  SELECT gx.x AS x, gy.y AS y, ({rv}) AS rv
  FROM generate_series(0, {W - 1}) gx(x), generate_series(0, {H - 1}) gy(y)),
ssd AS (
  SELECT l.bx, l.by, ds.d,
         CAST(sum((l.lv - r.rv) * (l.lv - r.rv)) AS BIGINT) AS ssd
  FROM l CROSS JOIN generate_series(0, 8) ds(d)
  JOIN r ON r.x = l.x - ds.d AND r.y = l.y
  WHERE l.bx >= 1
  GROUP BY 1, 2, 3)
SELECT CAST(bx AS BIGINT) AS bx, CAST(by AS BIGINT) AS by,
       CAST(d AS BIGINT) AS d, ssd
FROM ssd
QUALIFY row_number() OVER (PARTITION BY bx, by ORDER BY ssd, d) = 1
ORDER BY bx, by"""


N_GEOJSON_FILES = 6


def _geojson_xy(g: int) -> tuple[float, float]:
    """Quarter-degree formula coordinates (exact binary fractions)."""
    return (g * 7 % 720) / 4.0 - 90.0, (g * 13 % 360) / 4.0 - 45.0


def q_geojson(spark, sf_dir):
    """The GeoJSON store end-to-end under the oracle gate (RFC 7946
    FeatureCollections; the reference ships a GeoJSON DataStore in its
    incubator tree): formula point/linestring/polygon features are
    WRITTEN as real FeatureCollection documents via the engine's writer,
    read back distributed (each task json-parses its files into WKB +
    props rows), and the oracle re-derives every coordinate checksum and
    property from the same integer formulas."""
    import json as _json
    import os as _os
    import tempfile as _tempfile

    import pandas as _pd

    from .functions.geometry import wkb_parse, wkb_write
    from .sources.geojson import geojson_table, write_geojson

    d = _os.path.join(_tempfile.gettempdir(), "sis_geojson_gate")
    _os.makedirs(d, exist_ok=True)
    paths = []
    for f in range(N_GEOJSON_FILES):
        rows = []

        def props(seq):
            return _json.dumps(
                {"name": f"f{f}_{seq}", "val": f * 1000 + seq},
                sort_keys=True, separators=(",", ":"),
            )

        for i in range(5):
            x, y = _geojson_xy(f * 100 + i)
            rows.append({"seq": i, "gtype": "point",
                         "wkb": wkb_write("point", (x, y)),
                         "props": props(i)})
        for i in (5, 6):
            gs = [f * 100 + 10 * i + k for k in range(4)]
            vx = [_geojson_xy(g)[0] for g in gs]
            vy = [_geojson_xy(g)[1] for g in gs]
            rows.append({"seq": i, "gtype": "linestring",
                         "wkb": wkb_write("linestring", (vx, vy)),
                         "props": props(i)})
        gs = [f * 100 + 50 + k for k in range(3)]
        vx = [_geojson_xy(g)[0] for g in gs]
        vy = [_geojson_xy(g)[1] for g in gs]
        rows.append({"seq": 7, "gtype": "polygon",
                     "wkb": wkb_write("polygon", [(vx, vy)]),
                     "props": props(7)})
        p = _os.path.join(d, f"fc_{f}.geojson")
        with open(p, "w") as fh:
            fh.write(write_geojson(_pd.DataFrame(rows)))
        paths.append(p)

    df = geojson_table(spark, paths)

    def stats(batches):
        import re as _re

        for b in batches:
            out = []
            for path, seq, gtype, wkb, pr in zip(
                b["path"], b["seq"], b["gtype"], b["wkb"], b["props"]
            ):
                typ, val = wkb_parse(bytes(wkb))
                if typ == "point":
                    xs, ys = [val[0]], [val[1]]
                elif typ == "linestring":
                    xs, ys = list(val[0]), list(val[1])
                else:  # polygon
                    xs = [x for vx, _vy in val for x in vx]
                    ys = [y for _vx, vy in val for y in vy]
                pj = _json.loads(pr)
                out.append({
                    "file_id": int(
                        _re.search(r"fc_(\d+)\.geojson", path).group(1)
                    ),
                    "seq": int(seq),
                    "gtype": typ,
                    "npts": len(xs),
                    "sx": int(round(sum(4 * (x + 90.0) for x in xs))),
                    "sy": int(round(sum(4 * (y + 45.0) for y in ys))),
                    "name": pj["name"],
                    "val": int(pj["val"]),
                })
            if out:
                yield _pd.DataFrame(out)

    return df.mapInPandas(
        stats,
        schema="file_id long, seq long, gtype string, npts long, "
               "sx long, sy long, name string, val long",
    ).orderBy("file_id", "seq")


def q_geojson_oracle():
    n = N_GEOJSON_FILES
    return f"""
WITH fs AS (SELECT t.f FROM generate_series(0, {n - 1}) t(f)),
pts AS (
  SELECT f, i AS seq, 'point' AS gtype, CAST(1 AS BIGINT) AS npts,
         CAST((f*100 + i)*7 % 720 AS BIGINT) AS sx,
         CAST((f*100 + i)*13 % 360 AS BIGINT) AS sy,
         'f' || CAST(f AS VARCHAR) || '_' || CAST(i AS VARCHAR) AS name,
         CAST(f*1000 + i AS BIGINT) AS val
  FROM fs, generate_series(0, 4) s(i)
  UNION ALL
  SELECT f, i, 'linestring', 4,
         CAST(sum((f*100 + 10*i + k)*7 % 720) AS BIGINT),
         CAST(sum((f*100 + 10*i + k)*13 % 360) AS BIGINT),
         'f' || CAST(f AS VARCHAR) || '_' || CAST(i AS VARCHAR),
         CAST(f*1000 + i AS BIGINT)
  FROM fs, (VALUES (5), (6)) ii(i), generate_series(0, 3) kk(k)
  GROUP BY f, i
  UNION ALL
  SELECT f, 7, 'polygon', 4,
         CAST(sum((f*100 + 50 + k)*7 % 720) AS BIGINT),
         CAST(sum((f*100 + 50 + k)*13 % 360) AS BIGINT),
         'f' || CAST(f AS VARCHAR) || '_7',
         CAST(f*1000 + 7 AS BIGINT)
  FROM fs, (VALUES (0), (1), (2), (0)) kk(k)
  GROUP BY f)
SELECT CAST(f AS BIGINT) AS file_id, CAST(seq AS BIGINT) AS seq,
       gtype, npts, sx, sy, name, val
FROM pts ORDER BY file_id, seq"""


def _texture_tiles_flowed(spark, w: int, h: int, tile_size: int = 64):
    """Second-epoch twin of ``_texture_tiles``: value at (x, y) is the
    texture formula sampled at (x + 1 + (y//64)%3, y + (x//64)%3) — a
    planted per-band displacement field for the optical-flow gate."""
    import numpy as _np
    import pandas as _pd

    from .raster.tiles import TILE_SCHEMA

    ntx = (w + tile_size - 1) // tile_size
    nty = (h + tile_size - 1) // tile_size
    ids = spark.range(ntx * nty).repartition(
        min(ntx * nty, spark.sparkContext.defaultParallelism)
    )

    def fill(batches):
        gxs = _np.arange(tile_size, dtype=_np.int64)
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                t = int(i)
                tx, ty = t % ntx, t // ntx
                GX, GY = _np.meshgrid(tx * tile_size + gxs,
                                      ty * tile_size + gxs)
                SX = GX + 1 + (GY // 64) % 3
                SY = GY + (GX // 64) % 3
                block = (3 * SX * SX + 7 * SX * SY + 5 * SY * SY
                         + 11 * SX + 13 * SY) % 256
                block = _np.where((GX < w) & (GY < h), block, 0).astype(
                    _np.uint8
                )
                rows.append({"tx": tx, "ty": ty, "band": 0,
                             "data": block.tobytes()})
            yield _pd.DataFrame(rows)

    return ids.mapInPandas(fill, TILE_SCHEMA)


def q_optical_flow(spark, sf_dir):
    """Block-matching optical flow (terrain.optical_flow_tiles, 8x8
    blocks, (dx, dy) in [0, 4]^2, SSD argmin with smallest-(dy, dx)
    ties) between the texture epoch and a planted per-band displacement
    field — 4-way tile halo (the search only looks up-left), exact
    int64 SSDs."""
    from .raster.grid import GridGeometry
    from .raster.terrain import optical_flow_tiles

    W, H = 448, 256
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    a = _texture_tiles(spark, W, H)
    b = _texture_tiles_flowed(spark, W, H)
    return optical_flow_tiles(a, b, gg, s_max=4, block=8).orderBy(
        "bx", "by")


def q_optical_flow_oracle():
    W, H = 448, 256
    av = _texture_v_sql("gx.x", "gy.y")
    bv = _texture_v_sql("gx.x + 1 + (gy.y // 64) % 3",
                        "gy.y + (gx.x // 64) % 3")
    return f"""
WITH a AS MATERIALIZED (
  SELECT gx.x AS x, gy.y AS y, gx.x // 8 AS bx, gy.y // 8 AS by,
         ({av}) AS av
  FROM generate_series(0, {W - 1}) gx(x), generate_series(0, {H - 1}) gy(y)),
b AS MATERIALIZED (
  SELECT gx.x AS x, gy.y AS y, ({bv}) AS bv
  FROM generate_series(0, {W - 1}) gx(x), generate_series(0, {H - 1}) gy(y)),
ssd AS (
  SELECT a.bx, a.by, dd.dx, dd.dy,
         CAST(sum((a.av - b.bv) * (a.av - b.bv)) AS BIGINT) AS ssd
  FROM a
  CROSS JOIN (SELECT sx.v AS dx, sy.v AS dy
              FROM generate_series(0, 4) sx(v),
                   generate_series(0, 4) sy(v)) dd
  JOIN b ON b.x = a.x - dd.dx AND b.y = a.y - dd.dy
  WHERE a.bx >= 1 AND a.by >= 1
  GROUP BY 1, 2, 3, 4)
SELECT CAST(bx AS BIGINT) AS bx, CAST(by AS BIGINT) AS by,
       CAST(dx AS BIGINT) AS dx, CAST(dy AS BIGINT) AS dy, ssd
FROM ssd
QUALIFY row_number() OVER (PARTITION BY bx, by ORDER BY ssd, dy, dx) = 1
ORDER BY bx, by"""


def q_areal_interp(spark, sf_dir):
    """Areal (dasymetric) interpolation (tiles.areal_interpolate over
    tiles.rasterize_polygons): polygon values spread uniformly over
    their burned cells — share per cell = floordiv(value * 2^20,
    ncells), per-tile apportioned sums.  Values = 100 + 17*key; same
    dyadic rectangles as `rasterize`."""
    import numpy as _np
    import pandas as _pd

    from .functions.geometry import wkb_polygon
    from .raster.tiles import areal_interpolate, rasterize_polygons

    rects = _rasterize_rects()
    pdf = _pd.DataFrame({
        "key": [r["key"] for r in rects],
        "wkb": [
            wkb_polygon([(
                _np.array([r["xmin"], r["xmax"], r["xmax"], r["xmin"]]),
                _np.array([r["ymin"], r["ymin"], r["ymax"], r["ymax"]]),
            )])
            for r in rects
        ],
    })
    polys = spark.createDataFrame(pdf, schema="key long, wkb binary")
    tiles = rasterize_polygons(polys, _rasterize_gg(), tile_size=RAST_TS)
    values = spark.createDataFrame(
        [(r["key"], 100 + 17 * r["key"]) for r in rects],
        "key long, value long",
    )
    return areal_interpolate(tiles, values, tile_size=RAST_TS).orderBy(
        "ty", "tx"
    )


def q_areal_interp_oracle():
    vals = ",\n  ".join(
        f"({r['key']}, {r['xmin']!r}E0, {r['xmax']!r}E0, {r['ymin']!r}E0, {r['ymax']!r}E0)"
        for r in _rasterize_rects()
    )
    return f"""
WITH rects(key, xmin, xmax, ymin, ymax) AS (VALUES
  {vals}),
px AS (
  SELECT x.x AS px, y.y AS py,
         CAST(2 * x.x + 1 AS DOUBLE) / 128.0E0 - 10.0E0 AS cx,
         5.0E0 - CAST(2 * y.y + 1 AS DOUBLE) / 128.0E0 AS cy
  FROM generate_series(0, {RAST_W - 1}) x(x), generate_series(0, {RAST_H - 1}) y(y)),
lab AS (
  SELECT px, py,
         COALESCE((SELECT max(r.key) FROM rects r
                   WHERE px.cx > r.xmin AND px.cx < r.xmax
                     AND px.cy > r.ymin AND px.cy < r.ymax), 0) AS label
  FROM px),
nc AS (
  SELECT label AS key, CAST(count(*) AS BIGINT) AS ncells
  FROM lab WHERE label > 0 GROUP BY 1),
pc AS (
  SELECT key, ((100 + 17 * key) * {1 << 20}) // ncells AS share_per_cell
  FROM nc)
SELECT CAST(l.px // {RAST_TS} AS BIGINT) AS tx,
       CAST(l.py // {RAST_TS} AS BIGINT) AS ty,
       CAST(sum(pc.share_per_cell) AS BIGINT) AS share
FROM lab l JOIN pc ON pc.key = l.label
GROUP BY 1, 2 ORDER BY ty, tx"""


def q_correlogram(spark, sf_dir):
    """Spatial correlogram (density.correlogram, 3 bands of 20000
    milli-degree units, every 10th event): per-annulus Moran cross
    products with n-scaled integer deviations — one cell-ring self-join
    at the max radius, exact threshold-chain band assignment."""
    from .operators.density import correlogram

    pts = _events_points(spark, sf_dir).filter(F.col("event_id") % 10 == 0)
    d = pts.select(
        F.col("event_id").alias("id"),
        F.floor(F.col("lon") * F.lit(1000.0)).cast("long").alias("qx"),
        F.floor(F.col("lat") * F.lit(1000.0)).cast("long").alias("qy"),
        (F.col("event_id") % 100).alias("v"),
    )
    return correlogram(d, band_width=20000, n_bands=3).orderBy("band")


def q_correlogram_oracle():
    from .operators.density import correlogram_sql

    base = (
        "SELECT event_id AS id, CAST(floor(lon * 1000.0) AS BIGINT) AS qx, "
        "CAST(floor(lat * 1000.0) AS BIGINT) AS qy, event_id % 100 AS v "
        f"FROM ({_points_sql()}) p WHERE event_id % 10 = 0"
    )
    return (
        "SELECT * FROM (" + correlogram_sql(base, 20000, 3)
        + ") ORDER BY band"
    )


def q_minhash_calibration(spark, sf_dir):
    """MinHash estimator calibration (dedup.minhash_calibration): per
    signature-agreement level, exact (common, union) shingle sums over
    the LSH candidate pairs — the QA table that validates the estimator
    on THIS corpus.  No all-pairs anywhere; banded candidates only."""
    from .operators.dedup import minhash_calibration

    return minhash_calibration(_read(spark, sf_dir, "documents")).orderBy(
        "agree"
    )


def q_minhash_calibration_oracle():
    from .operators.dedup import minhash_calibration_sql

    return (
        "SELECT * FROM (" + minhash_calibration_sql("documents")
        + ") ORDER BY agree"
    )


def q_zone_adjacency(spark, sf_dir):
    """Zone adjacency / shared-border extraction (tiles.zone_adjacency)
    over the rasterized dyadic rectangles: 4-neighbor label transitions,
    intra-tile bincounts + O(perimeter) seam joins.  The label grid is
    densified first (rasterize emits sparse tiles; absent = background)
    so borders against empty tiles count."""
    import numpy as _np
    import pandas as _pd

    from .functions.geometry import wkb_polygon
    from .raster.tiles import rasterize_polygons, zone_adjacency

    rects = _rasterize_rects()
    pdf = _pd.DataFrame({
        "key": [r["key"] for r in rects],
        "wkb": [
            wkb_polygon([(
                _np.array([r["xmin"], r["xmax"], r["xmax"], r["xmin"]]),
                _np.array([r["ymin"], r["ymin"], r["ymax"], r["ymax"]]),
            )])
            for r in rects
        ],
    })
    polys = spark.createDataFrame(pdf, schema="key long, wkb binary")
    zones = rasterize_polygons(polys, _rasterize_gg(), tile_size=RAST_TS)
    ntx, nty = RAST_W // RAST_TS, RAST_H // RAST_TS
    zero = bytes(RAST_TS * RAST_TS * 4)
    grid = spark.range(ntx * nty).selectExpr(
        f"id % {ntx} AS tx", f"id DIV {ntx} AS ty", "0 AS band"
    ).withColumn("zero", F.lit(zero))
    dense = (
        grid.join(zones.withColumnRenamed("data", "d0"), ["tx", "ty", "band"],
                  "left")
        .select("tx", "ty", "band",
                F.coalesce("d0", "zero").alias("data"))
    )
    return zone_adjacency(dense, tile_size=RAST_TS).orderBy("za", "zb")


def q_zone_adjacency_oracle():
    vals = ",\n  ".join(
        f"({r['key']}, {r['xmin']!r}E0, {r['xmax']!r}E0, {r['ymin']!r}E0, {r['ymax']!r}E0)"
        for r in _rasterize_rects()
    )
    return f"""
WITH rects(key, xmin, xmax, ymin, ymax) AS (VALUES
  {vals}),
px AS (
  SELECT x.x AS px, y.y AS py,
         CAST(2 * x.x + 1 AS DOUBLE) / 128.0E0 - 10.0E0 AS cx,
         5.0E0 - CAST(2 * y.y + 1 AS DOUBLE) / 128.0E0 AS cy
  FROM generate_series(0, {RAST_W - 1}) x(x), generate_series(0, {RAST_H - 1}) y(y)),
lab AS (
  SELECT px, py,
         COALESCE((SELECT max(r.key) FROM rects r
                   WHERE px.cx > r.xmin AND px.cx < r.xmax
                     AND px.cy > r.ymin AND px.cy < r.ymax), 0) AS label
  FROM px),
pairs AS (
  SELECT least(a.label, b.label) AS za, greatest(a.label, b.label) AS zb
  FROM lab a JOIN lab b ON b.px = a.px + 1 AND b.py = a.py
  WHERE a.label <> b.label
  UNION ALL
  SELECT least(a.label, b.label), greatest(a.label, b.label)
  FROM lab a JOIN lab b ON b.px = a.px AND b.py = a.py + 1
  WHERE a.label <> b.label)
SELECT za, zb, CAST(count(*) AS BIGINT) AS border_len
FROM pairs GROUP BY 1, 2 ORDER BY za, zb"""


def q_ground_filter(spark, sf_dir):
    """Lidar ground filtering + canopy stats (pointcloud.grid_ground_
    stats, 10M-unit cells, dz 20000) over the LAS formula cloud read
    through the REAL file path: per-cell z_min ground estimate, ground
    returns within dz, canopy height — one keyed window + one agg."""
    import os
    import shutil
    import tempfile

    from .operators.pointcloud import grid_ground_stats
    from .sources.las import make_formula_las, read_las

    d = tempfile.mkdtemp(prefix="las_")
    path = os.path.join(d, "pts.las")
    try:
        make_formula_las(path, 40000)
        df, _ = read_las(spark, path, chunk=4096)
        res = grid_ground_stats(df, cell=10_000_000, dz=20_000).orderBy(
            "cx", "cy"
        ).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return res


def q_ground_filter_oracle():
    from .operators.pointcloud import grid_ground_stats_sql

    base = """
SELECT (i * 7919) % 360000000 - 180000000 AS xi,
       (i * 104729) % 170000000 - 85000000 AS yi,
       (i * 13) % 500000 AS zi
FROM generate_series(0, 39999) t(i)"""
    return (
        "SELECT * FROM ("
        + grid_ground_stats_sql(base, cell=10_000_000, dz=20_000)
        + ") ORDER BY cx, cy"
    )


def q_las_points(spark, sf_dir):
    """LAS point-cloud read (sources/las, ASPRS 1.2 format 0): formula
    cloud written as a real LAS file, distributed ranged-chunk decode,
    per-classification exact integer stats the oracle re-derives from
    the formula (proving header/record parsing end to end)."""
    import os
    import shutil
    import tempfile

    from .sources.las import make_formula_las, read_las

    d = tempfile.mkdtemp(prefix="las_")
    path = os.path.join(d, "pts.las")
    try:
        make_formula_las(path, 40000)
        df, hdr = read_las(spark, path, chunk=4096)
        assert hdr["n"] == 40000 and hdr["version"] == (1, 2)
        res = (
            df.groupBy("classification")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("xi").alias("sx"),
                F.sum("yi").alias("sy"),
                F.sum("zi").alias("sz"),
                F.sum("intensity").alias("si"),
            )
            .orderBy("classification")
            .localCheckpoint()  # materialize before the file vanishes
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return res


def q_las_points_oracle():
    return """
WITH p AS (
  SELECT i, (i * 7919) % 360000000 - 180000000 AS xi,
         (i * 104729) % 170000000 - 85000000 AS yi,
         (i * 13) % 500000 AS zi,
         (i * 31) % 65536 AS intensity,
         i % 8 AS classification
  FROM generate_series(0, 39999) t(i))
SELECT classification, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(xi) AS BIGINT) AS sx, CAST(sum(yi) AS BIGINT) AS sy,
       CAST(sum(zi) AS BIGINT) AS sz, CAST(sum(intensity) AS BIGINT) AS si
FROM p GROUP BY 1 ORDER BY classification"""


def q_geoparquet(spark, sf_dir):
    """GeoParquet round-trip under the oracle gate (sources/geoparquet):
    part-formula points -> distributed per-partition GeoParquet writes
    (WKB column + footer 'geo' bbox metadata) -> footer-bbox file
    pruning -> read-back + WKB decode -> 30-degree-band histogram the
    oracle re-derives from the formula.  Proves write/read/prune/decode
    agree end to end."""
    import shutil
    import tempfile

    from .functions.sqlmm import st_point_udf, st_x_udf, st_y_udf
    from .sources.geoparquet import read_geoparquet, write_geoparquet

    p = _read(spark, sf_dir, "part").selectExpr(
        "p_partkey",
        "CAST(p_partkey % 360 - 180 AS DOUBLE) AS lon",
        "CAST(p_partkey % 170 - 85 AS DOUBLE) AS lat",
    ).withColumn("geometry", st_point_udf()(F.col("lon"), F.col("lat")))
    out_dir = tempfile.mkdtemp(prefix="geopq_")
    try:
        write_geoparquet(p.repartition(8), out_dir)
        r = read_geoparquet(spark, out_dir, bbox=(0.0, 0.0, 90.0, 85.0))
        dx = st_x_udf()(F.col("geometry"))
        dy = st_y_udf()(F.col("geometry"))
        res = (
            r.select(
                F.floor(dx / F.lit(30.0)).cast("long").alias("band"),
                dy.alias("y"),
            )
            .groupBy("band")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("y").cast("long")).alias("ysum"),
            )
            .orderBy("band")
        )
        res = res.localCheckpoint()  # materialize before the dir vanishes
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return res


def q_geoparquet_oracle():
    return """
WITH p AS (
  SELECT CAST(p_partkey % 360 - 180 AS DOUBLE) AS lon,
         CAST(p_partkey % 170 - 85 AS DOUBLE) AS lat
  FROM part)
SELECT CAST(floor(lon / 30.0) AS BIGINT) AS band,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(lat AS BIGINT)) AS BIGINT) AS ysum
FROM p
WHERE lon >= 0.0 AND lon <= 90.0 AND lat >= 0.0 AND lat <= 85.0
GROUP BY 1 ORDER BY band"""


def q_winnowing(spark, sf_dir):
    """MOSS winnowing fingerprints (textops.winnow_fingerprints, word
    5-grams, window 4): every window's minimum hash (ties to earliest
    position via low-bit packing) — the plagiarism/dedup fingerprint
    scheme with the guaranteed-match property; distinct selections
    aggregated per doc."""
    from .operators.textops import winnow_fingerprints

    return winnow_fingerprints(
        _read(spark, sf_dir, "documents"), k=5, w=4
    ).orderBy("doc_id")


def q_winnowing_oracle():
    from .operators.textops import winnow_fingerprints_sql

    return (
        "SELECT * FROM (" + winnow_fingerprints_sql("documents", k=5, w=4)
        + ") ORDER BY doc_id"
    )


def q_soundex(spark, sf_dir):
    """Soundex blocking histogram (textops.soundex_blocks) over the
    parts' first name token: the record-linkage blocking key as ONE
    shared translate/replace codegen expression (simplified American
    Soundex, H/W-as-separator variant) + one aggregation."""
    from .operators.textops import soundex_blocks

    p = _read(spark, sf_dir, "part").select(
        F.split(F.col("p_name"), " ")[0].alias("word")
    )
    return soundex_blocks(p).orderBy("code")


def q_soundex_oracle():
    from .operators.textops import soundex_expr

    return f"""
WITH w AS (SELECT string_split(p_name, ' ')[1] AS word FROM part)
SELECT {soundex_expr('word')} AS code,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(count(DISTINCT word) AS BIGINT) AS n_distinct
FROM w GROUP BY 1 ORDER BY code"""


def q_dissolve(spark, sf_dir):
    """GIS dissolve, rectangle case (analytics.dissolve_rect_area):
    exact union area per group by strip decomposition + per-strip
    y-interval union — all codegen int64, no geometry UDF.  Rects from
    the part table (5 groups, formula extents, heavy overlaps)."""
    from .operators.analytics import dissolve_rect_area

    p = _read(spark, sf_dir, "part").selectExpr(
        "p_partkey % 5 AS g",
        "(p_partkey * 7) % 1000 AS xmin",
        "(p_partkey * 7) % 1000 + 50 + p_partkey % 100 AS xmax",
        "(p_partkey * 13) % 800 AS ymin",
        "(p_partkey * 13) % 800 + 40 + p_partkey % 60 AS ymax",
    )
    return dissolve_rect_area(p).orderBy("g")


def q_dissolve_oracle():
    from .operators.analytics import dissolve_rect_area_sql

    base = (
        "SELECT p_partkey % 5 AS g, (p_partkey * 7) % 1000 AS xmin, "
        "(p_partkey * 7) % 1000 + 50 + p_partkey % 100 AS xmax, "
        "(p_partkey * 13) % 800 AS ymin, "
        "(p_partkey * 13) % 800 + 40 + p_partkey % 60 AS ymax FROM part"
    )
    return (
        "SELECT * FROM (" + dissolve_rect_area_sql(base) + ") ORDER BY g"
    )


def q_gray_world(spark, sf_dir):
    """Gray-world white balance (imageops.gray_world) through the real
    decode path: per-image channel sums + exact integer rescale
    v' = min(255, v*stot DIV 3*s_ch), position-weighted checksum of the
    balanced image the oracle re-derives pixel-wise."""
    from .operators.imageops import gray_world
    from .sources.images import images_table

    img = images_table(spark, N_SEAM_IMAGES).filter(F.col("fmt") != "jpeg")
    return gray_world(img).orderBy("image_id")


def q_gray_world_oracle():
    from .sources.images import SIZES

    size_case = lambda e: (
        f"(CASE ({e}) % 3 WHEN 0 THEN {SIZES[0]} WHEN 1 THEN {SIZES[1]} "
        f"ELSE {SIZES[2]} END)"
    )
    v = "(((x.x) * 3 + (y.y) * 7 + k.k * 31 + d.i * 13) % 256)"
    return f"""
WITH dims AS (
  SELECT i, {size_case('i')} AS w, {size_case('i // 3')} AS h
  FROM generate_series(0, {N_SEAM_IMAGES - 1}) t(i)
  WHERE i % 3 <> 2),
px AS (
  SELECT d.i, d.w, d.h, x.x AS x, y.y AS y, k.k AS k, {v} AS v
  FROM dims d, generate_series(0, 63) x(x), generate_series(0, 63) y(y),
       generate_series(0, 2) k(k)
  WHERE x.x < d.w AND y.y < d.h),
sums AS (
  SELECT i, k, CAST(sum(v) AS BIGINT) AS s FROM px GROUP BY 1, 2),
tot AS (
  SELECT i, CAST(sum(s) AS BIGINT) AS stot,
         min(CASE WHEN k = 0 THEN s END) AS s0,
         min(CASE WHEN k = 1 THEN s END) AS s1,
         min(CASE WHEN k = 2 THEN s END) AS s2
  FROM sums GROUP BY 1),
bal AS (
  SELECT p.i,
         least(255, (p.v * t.stot) // (3 * s.s)) AS b,
         ((p.y * p.w + p.x) * 3 + p.k) % 9973 + 1 AS wt
  FROM px p JOIN sums s ON s.i = p.i AND s.k = p.k
  JOIN tot t ON t.i = p.i)
SELECT 'img-' || lpad(CAST(b.i AS VARCHAR), 12, '0') AS image_id,
       t.s0, t.s1, t.s2, CAST(sum(b.b * b.wt) AS BIGINT) AS cs
FROM bal b JOIN tot t ON t.i = b.i
GROUP BY 1, 2, 3, 4 ORDER BY image_id"""


def q_mondrian(spark, sf_dir):
    """Mondrian k-anonymization (quality.mondrian_boxes, k=25, 4 rounds)
    over two customer quasi-identifiers: strict top-down median splits
    with the both-children->=k guard — the median_cut discipline turned
    privacy generalizer.  Complements `k_anonymity`/`l_diversity`."""
    from .operators.quality import mondrian_boxes

    c = _read(spark, sf_dir, "customer").selectExpr(
        "c_custkey % 97 AS a", "c_nationkey * 7 + c_custkey % 5 AS b"
    )
    return mondrian_boxes(c, k=25, rounds=4).orderBy("box")


def q_mondrian_oracle():
    from .operators.quality import mondrian_sql

    base = ("SELECT c_custkey % 97 AS a, c_nationkey * 7 + c_custkey % 5 AS b "
            "FROM customer")
    return (
        "SELECT * FROM (" + mondrian_sql(base, k=25, rounds=4)
        + ") ORDER BY box"
    )


def q_critical_path(spark, sf_dir):
    """Hop-bounded longest path (graph.longest_path_h, 8 rounds) on a
    forward-edge document DAG (out-degree 2, int weights): one join +
    one max-agg per round, the maximizing Bellman-Ford; the oracle walks
    every <= 8-edge path in a recursive CTE."""
    from .operators.graph import longest_path_h

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("a")
    )
    n = docs.count()
    e1 = docs.selectExpr("a", "a + 1 + (a * 7) % 5 AS b", "1 + a % 9 AS w")
    e2 = docs.selectExpr("a", "a + 2 + (a * 11) % 7 AS b", "1 + a % 4 AS w")
    edges = e1.union(e2).filter(F.col("b") < n)
    return longest_path_h(edges, hops=8).orderBy("node")


def q_critical_path_oracle():
    from .operators.graph import longest_path_h_sql

    edges = (
        "SELECT a, b, w FROM ("
        "  SELECT doc_id AS a, doc_id + 1 + (doc_id * 7) % 5 AS b, "
        "         1 + doc_id % 9 AS w FROM documents"
        "  UNION ALL"
        "  SELECT doc_id, doc_id + 2 + (doc_id * 11) % 7, "
        "         1 + doc_id % 4 FROM documents) u "
        "WHERE b < (SELECT count(*) FROM documents)"
    )
    return (
        "SELECT * FROM (" + longest_path_h_sql(edges, hops=8)
        + ") ORDER BY node"
    )


def q_zonal_mode(spark, sf_dir):
    """Zonal majority (tiles.zonal_mode): modal texture value per
    rasterized-rectangle zone, ties to the smallest value — tile zip
    join + per-tile bincounts + one window argmax.  The categorical
    member of the zonal_stats family."""
    import numpy as _np
    import pandas as _pd

    from .functions.geometry import wkb_polygon
    from .raster.tiles import rasterize_polygons, zonal_mode

    rects = _rasterize_rects()
    pdf = _pd.DataFrame({
        "key": [r["key"] for r in rects],
        "wkb": [
            wkb_polygon([(
                _np.array([r["xmin"], r["xmax"], r["xmax"], r["xmin"]]),
                _np.array([r["ymin"], r["ymin"], r["ymax"], r["ymax"]]),
            )])
            for r in rects
        ],
    })
    polys = spark.createDataFrame(pdf, schema="key long, wkb binary")
    zones = rasterize_polygons(polys, _rasterize_gg(), tile_size=RAST_TS)
    vals = _texture_tiles(spark, RAST_W, RAST_H, tile_size=RAST_TS)
    return zonal_mode(zones, vals, tile_size=RAST_TS).orderBy("zone")


def q_zonal_mode_oracle():
    vals = ",\n  ".join(
        f"({r['key']}, {r['xmin']!r}E0, {r['xmax']!r}E0, {r['ymin']!r}E0, {r['ymax']!r}E0)"
        for r in _rasterize_rects()
    )
    v = _texture_v_sql("px.px", "px.py")
    return f"""
WITH rects(key, xmin, xmax, ymin, ymax) AS (VALUES
  {vals}),
px AS (
  SELECT x.x AS px, y.y AS py,
         CAST(2 * x.x + 1 AS DOUBLE) / 128.0E0 - 10.0E0 AS cx,
         5.0E0 - CAST(2 * y.y + 1 AS DOUBLE) / 128.0E0 AS cy
  FROM generate_series(0, {RAST_W - 1}) x(x), generate_series(0, {RAST_H - 1}) y(y)),
lab AS (
  SELECT px, py, {v} AS v,
         COALESCE((SELECT max(r.key) FROM rects r
                   WHERE px.cx > r.xmin AND px.cx < r.xmax
                     AND px.cy > r.ymin AND px.cy < r.ymax), 0) AS label
  FROM px),
cnt AS (
  SELECT label AS zone, CAST(v AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS cnt
  FROM lab WHERE label > 0 GROUP BY 1, 2)
SELECT zone, v AS v_mode, cnt FROM (
  SELECT *, row_number() OVER (PARTITION BY zone
              ORDER BY cnt DESC, v) AS rn
  FROM cnt) t
WHERE rn = 1 ORDER BY zone"""


def q_home_work(spark, sf_dir):
    """Home/work anchor inference (trajectory.home_work, 64x64 grid):
    modal night cell vs modal working-hours cell per user with the
    (count DESC, ix, iy) tie rule — one count + one window argmin."""
    from .operators.trajectory import home_work

    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    lon, lat = point_lonlat_cols("event_id")
    us = F.expr(EPOCH_US.format("ts"))
    pts = ev.select(
        F.col("user_id").alias("u"),
        (us.cast("long") / F.lit(3600000000)).cast("long").__mod__(24).alias("hour"),
        lon.alias("lon"), lat.alias("lat"),
    )
    return home_work(pts, grid_n=64).orderBy("u", "kind")


def q_home_work_oracle():
    from .operators.trajectory import home_work_sql

    base = (
        "SELECT e.user_id AS u, "
        "epoch_us(e.ts) // 3600000000 % 24 AS hour, p.lon, p.lat "
        f"FROM ({_points_sql()}) p JOIN events e ON e.event_id = p.event_id"
    )
    return (
        "SELECT * FROM (" + home_work_sql(base, 64) + ") ORDER BY u, kind"
    )


def q_slic(spark, sf_dir):
    """Integer SLIC superpixels (imageops.slic_superpixels, 256x128,
    step 16, m=10, 2 iterations) over the texture formula image: 9-way
    ring explode equi-joined to the broadcast centroid table, window
    argmin with (cost, id) ties, exact floordiv centroid means."""
    from .operators.imageops import slic_superpixels

    W, H = 256, 128
    px = spark.range(W * H).selectExpr(
        f"id % {W} AS x", f"id DIV {W} AS y",
        f"((id % {W}) * 7 + (id DIV {W}) * 13) % 256 AS v",
    )
    return slic_superpixels(px, W, H, step=16, m=10, iters=2).orderBy("k")


def q_slic_oracle():
    from .operators.imageops import slic_sql

    return (
        "SELECT * FROM ("
        + slic_sql(256, 128, 16, "(({x}) * 7 + ({y}) * 13) % 256",
                   m=10, iters=2)
        + ") ORDER BY k"
    )


def q_rake(spark, sf_dir):
    """RAKE keyword extraction (textops.rake_keywords, top 50): integer
    degree/frequency word scores over stopword-free phrase runs, phrase
    score = sum of member scores — posexplode + cumsum boundaries, one
    broadcastable word dictionary, order-pinned phrase reassembly."""
    from .operators.textops import rake_keywords

    return rake_keywords(_read(spark, sf_dir, "documents"), top_k=50)


def q_rake_oracle():
    from .operators.textops import rake_keywords_sql

    return rake_keywords_sql("documents", top_k=50)


def q_network_build(spark, sf_dir):
    """Network construction from tracks (trajectory.build_network, snap
    20000 quantized units): per-user consecutive positions -> snapped
    segments -> canonical distinct undirected edges -> node degrees;
    two shuffles total, the map-inference primitive."""
    from .operators.trajectory import build_network

    pts = _events_points(spark, sf_dir).join(
        _read(spark, sf_dir, "events").select("event_id", "user_id"),
        "event_id",
    ).select(
        F.col("user_id").alias("k"), F.col("event_id").alias("o"),
        F.floor(F.col("lon") * F.lit(10000.0)).cast("long").alias("qx"),
        F.floor(F.col("lat") * F.lit(10000.0)).cast("long").alias("qy"),
    )
    return build_network(pts, snap=20000).orderBy("nx", "ny")


def q_network_build_oracle():
    from .operators.trajectory import build_network_sql

    base = (
        "SELECT e.user_id AS k, p.event_id AS o, "
        "CAST(floor(p.lon * 10000.0) AS BIGINT) AS qx, "
        "CAST(floor(p.lat * 10000.0) AS BIGINT) AS qy "
        f"FROM ({_points_sql()}) p JOIN events e ON e.event_id = p.event_id"
    )
    return (
        "SELECT * FROM (" + build_network_sql(base, snap=20000)
        + ") ORDER BY nx, ny"
    )


def q_median_cut(spark, sf_dir):
    """Distributed median-cut palette training (imageops.median_cut_
    boxes, 3 rounds -> 8 boxes, breadth-first Heckbert variant): every
    round is one tiny per-box aggregate broadcast back + two window
    passes — O(log k) codegen rounds, integer weighted medians, exact
    floordiv means.  The training companion of `palette_map`."""
    from .operators.imageops import median_cut_boxes

    px = spark.range(20000).selectExpr(
        "(id * 7 + 3) % 256 AS r",
        "(id * 13 + 5) % 256 AS g",
        "(id * 29 + 11) % 256 AS b",
        "1 + id % 5 AS w",
    )
    return median_cut_boxes(px, rounds=3).orderBy("box")


def q_median_cut_oracle():
    from .operators.imageops import median_cut_sql

    base = (
        "SELECT (i * 7 + 3) % 256 AS r, (i * 13 + 5) % 256 AS g, "
        "(i * 29 + 11) % 256 AS b, 1 + i % 5 AS w "
        "FROM generate_series(0, 19999) t(i)"
    )
    return (
        "SELECT * FROM (" + median_cut_sql(base, rounds=3)
        + ") ORDER BY box"
    )


def q_dbscan(spark, sf_dir):
    """Exact point-level DBSCAN (density.dbscan, eps 30000 quantized
    units, min_pts 4, every 20th event): cell-ring neighbor join + core
    graph connected components (min-label + pointer jumping) + the
    deterministic min-label border rule.  The point-exact companion of
    `grid_cluster`; oracle = radius self-join + recursive transitive
    closure."""
    from .operators.density import dbscan

    pts = _events_points(spark, sf_dir).filter(F.col("event_id") % 20 == 0)
    d = pts.select(
        F.col("event_id").alias("id"),
        F.floor(F.col("lon") * F.lit(10000.0)).cast("long").alias("qx"),
        F.floor(F.col("lat") * F.lit(10000.0)).cast("long").alias("qy"),
    )
    return dbscan(d, eps=30000, min_pts=4).orderBy("id")


def q_dbscan_oracle():
    from .operators.density import dbscan_sql

    base = (
        "SELECT event_id AS id, "
        "CAST(floor(lon * 10000.0) AS BIGINT) AS qx, "
        "CAST(floor(lat * 10000.0) AS BIGINT) AS qy "
        f"FROM ({_points_sql()}) p WHERE event_id % 20 = 0"
    )
    return (
        "SELECT * FROM (" + dbscan_sql(base, eps=30000, min_pts=4)
        + ") ORDER BY id"
    )


def q_gravity(spark, sf_dir):
    """Gravity-model scoring of the OD flow matrix (density.gravity_
    scores over density.od_matrix at 32x32): score = floordiv(outmass *
    inmass * 2^20, cell distance^2 clamped to 1) — marginal masses from
    two broadcastable aggregations, all-int64 spatial-interaction model."""
    from .operators.density import gravity_scores, od_matrix

    pts = _events_points(spark, sf_dir).join(
        _read(spark, sf_dir, "events").select("event_id", "user_id"),
        "event_id",
    )
    flows = od_matrix(pts, grid_n=32).withColumnRenamed("n_trips", "n")
    return gravity_scores(flows).orderBy("oix", "oiy", "dix", "diy")


def q_gravity_oracle():
    from .operators.density import gravity_scores_sql, od_matrix_sql

    base = (
        f"SELECT e.user_id, p.event_id, p.lon, p.lat "
        f"FROM ({_points_sql()}) p JOIN events e ON e.event_id = p.event_id"
    )
    return (
        "SELECT * FROM ("
        + gravity_scores_sql(
            "SELECT oix, oiy, dix, diy, n_trips AS n FROM ("
            + od_matrix_sql(base, 32) + ") f0"
        )
        + ") ORDER BY oix, oiy, dix, diy"
    )


def q_dwell_time(spark, sf_dir):
    """Per-visit dwell extraction (trajectory.dwell_times): maximal
    inside-runs per user track against the same quantized haversine
    geofence as `geofence` — one lag/cumsum window + one aggregation."""
    from .operators.trajectory import dwell_times

    lon, lat = point_lonlat_cols("event_id")
    d = haversine_col(lon, lat, F.lit(10.0), F.lit(52.0))
    km = F.floor(d / F.lit(1000.0) - F.lit(0.123456789)).cast("long")
    pts = _read(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), F.col("event_id").alias("o"),
        (km < 2000).cast("long").alias("ins"),
    )
    return dwell_times(pts, "ins").orderBy("k", "visit")


def q_dwell_time_oracle():
    from .functions.geometry import haversine_sql
    from .operators.trajectory import dwell_times_sql

    d = haversine_sql(
        synth.point_lon_sql("event_id"), synth.point_lat_sql("event_id"),
        "10.0", "52.0",
    )
    base = f"""SELECT user_id AS k, event_id AS o,
       CASE WHEN CAST(floor({d} / 1000.0 - 0.123456789) AS BIGINT) < 2000
            THEN 1 ELSE 0 END AS ins
FROM events"""
    return (
        "SELECT * FROM (" + dwell_times_sql(base) + ") ORDER BY k, visit"
    )


def q_func_deps(spark, sf_dir):
    """Unary functional-dependency discovery (quality.fd_discover, the
    Metanome/TANE profiling primitive) over four orders attributes — one
    codegen explode of the k*(k-1) quadruples + two keyed aggregations.
    The candidate set plants a real 1-1 FD (priority <-> its digit)."""
    from .operators.quality import fd_discover

    o = _read(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority",
        F.substring("o_orderpriority", 1, 1).alias("prio_digit"),
        (F.col("o_orderkey") % 100).alias("bucket"),
    )
    return fd_discover(
        o, ["o_orderstatus", "o_orderpriority", "prio_digit", "bucket"]
    ).orderBy("a_col", "b_col")


def q_func_deps_oracle():
    from .operators.quality import fd_discover_sql

    base = (
        "SELECT o_orderstatus, o_orderpriority, "
        "substr(o_orderpriority, 1, 1) AS prio_digit, "
        "o_orderkey % 100 AS bucket FROM orders"
    )
    return (
        "SELECT * FROM ("
        + fd_discover_sql(base, ["o_orderstatus", "o_orderpriority",
                                 "prio_digit", "bucket"])
        + ") ORDER BY a_col, b_col"
    )


def q_chunk_docs(spark, sf_dir):
    """Sliding-window chunking (textops.chunk_documents, 32-token chunks
    every 24): the RAG/training-prep pre-tokenization step as pure JVM
    codegen — split, sequence+explode starts, slice/array_join/md5."""
    from .operators.textops import chunk_documents

    docs = _read(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk=32, stride=24).orderBy(
        "doc_id", "chunk_idx"
    )


def q_chunk_docs_oracle():
    from .operators.textops import chunk_documents_sql

    return (
        "SELECT * FROM (" + chunk_documents_sql("documents", chunk=32, stride=24)
        + ") ORDER BY doc_id, chunk_idx"
    )


def q_bootstrap(spark, sf_dir):
    """Deterministic Poisson bootstrap (sampling.poisson_bootstrap, 50
    replicates): per-(row, replicate) Poisson(1) weights by inverse-CDF
    lookup of a 60-bit hash — one explode + one map-side-combined
    aggregation; each replicate mean is the exact rational sum_x/n_eff.
    The distributed bootstrap of the large-scale-inference literature."""
    from .operators.sampling import poisson_bootstrap

    ev = _read(spark, sf_dir, "events").select(
        "event_id", F.floor(F.col("value") * F.lit(100.0)).cast("long").alias("x")
    )
    return poisson_bootstrap(ev, n_boot=50, key_col="event_id",
                             value_col="x").orderBy("b")


def q_bootstrap_oracle():
    from .operators.sampling import poisson_bootstrap_sql

    base = ("SELECT event_id, CAST(floor(value * 1.0e2) AS BIGINT) AS x "
            "FROM events")
    return (
        "SELECT * FROM ("
        + poisson_bootstrap_sql(base, n_boot=50, key_col="event_id", value_col="x")
        + ") ORDER BY b"
    )


def q_holt_winters(spark, sf_dir):
    """Additive Holt-Winters (timeseries.holt_winters_int, alpha=1/4,
    beta=1/8, gamma=1/4, period 4) over per-user event tracks: coupled
    integer level+trend+season recurrences with true floor divisions;
    the oracle carries the last 4 seasonals as a LIST column in the
    lockstep recursive CTE (the dtw diagonal-list trick)."""
    from .operators.timeseries import holt_winters_int

    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    lon, _ = point_lonlat_cols("event_id")
    pts = ev.select(
        "user_id", "event_id", "ts",
        F.floor(lon * 10000).cast("long").alias("x"),
    )
    return holt_winters_int(pts, m=4).orderBy("user_id", "rn")


def q_holt_winters_oracle():
    from .operators.timeseries import holt_winters_int_sql

    base = (
        "SELECT user_id, event_id, ts, "
        f"CAST(floor(({synth.point_lon_sql('event_id')}) * 1.0e4) AS BIGINT) AS x "
        "FROM events WHERE event_id < 4000"
    )
    return (
        "SELECT * FROM (" + holt_winters_int_sql(base, m=4)
        + ") ORDER BY user_id, rn"
    )


def q_ols_multi(spark, sf_dir):
    """Exact multivariate OLS (analytics.ols_multi): y ~ b0 + b1*x1 +
    b2*x2 solved by Cramer's rule over nine map-side-combined int64
    moments — one aggregation, codegen determinants, b_i = num_i / det
    exact rationals.  The multivariate companion of `ols_trend`."""
    from .operators.analytics import ols_multi

    ev = _read(spark, sf_dir, "events")
    b = ev.select(
        (F.col("event_id") % 13).alias("x1"),
        (F.col("event_id") * 7919 % 11).alias("x2"),
        (F.col("event_id") % 13 * 3 - F.col("event_id") * 7919 % 11 * 2
         + F.col("event_id") % 5).alias("y"),
    )
    return ols_multi(b, "x1", "x2", "y")


def q_ols_multi_oracle():
    from .operators.analytics import ols_multi_sql

    base = (
        "SELECT event_id % 13 AS x1, event_id * 7919 % 11 AS x2, "
        "(event_id % 13) * 3 - (event_id * 7919 % 11) * 2 + event_id % 5 AS y "
        "FROM events"
    )
    return ols_multi_sql(base, "x1", "x2", "y")


def q_frame_diff(spark, sf_dir):
    """Shot-boundary detection (media.frame_diffs, SAD > 5000): scene-
    structured formula clips decoded once per clip, exact int64 sum of
    absolute frame differences, hard cuts at the scene boundaries the
    oracle re-derives pixel-wise."""
    import pandas as _pd

    from .operators.media import VIDEO_SCHEMA, frame_diffs, make_scene_video

    video = spark.createDataFrame(
        _pd.DataFrame([make_scene_video(c) for c in range(N_GATE_CLIPS)]),
        schema=VIDEO_SCHEMA,
    ).repartition(min(N_GATE_CLIPS, spark.sparkContext.defaultParallelism))
    return frame_diffs(video, cut_threshold=5000).orderBy("media_id", "frame")


def q_frame_diff_oracle():
    v = ("((x.x * 5 + y.y * 11 + (({f}) // 5) * 37 + ch.ch * 29 "
         "+ m.m * 7 + ({f})) % 256)")
    return f"""
WITH sad AS (
  SELECT m.m AS m, f.f AS f,
         CAST(sum(abs({v.format(f='f.f')} - {v.format(f='f.f - 1')})) AS BIGINT) AS sad
  FROM generate_series(0, {N_GATE_CLIPS - 1}) m(m),
       generate_series(1, 11) f(f),
       generate_series(0, 15) x(x), generate_series(0, 11) y(y),
       generate_series(0, 2) ch(ch)
  GROUP BY 1, 2)
SELECT 'vid-' || lpad(CAST(m AS VARCHAR), 9, '0') AS media_id,
       CAST(f AS INT) AS frame, sad, sad > 5000 AS is_cut
FROM sad ORDER BY media_id, frame"""


def q_median_filter(spark, sf_dir):
    """3x3 median filter (terrain.rank_filter_tiles mode="median" — the
    salt-and-pepper denoiser) on the halo machinery, raster 500x300,
    zero padding outside the extent.  Median of 9 integers is the exact
    5th order statistic, so the oracle is list_sort(...)[5] per pixel;
    per-tile weighted checksums as `morphology`."""
    from .raster.grid import GridGeometry
    from .raster.terrain import rank_filter_tiles

    W, H, TS = 500, 300, 64
    tiles = _formula_tiles(spark, W, H, bands=1, tile_size=TS)
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    med = rank_filter_tiles(tiles, gg, "median", tile_size=TS)

    return _tile_checksums(med, W, H, TS, "cs_med").orderBy("tx", "ty")


def q_median_filter_oracle():
    v = lambda a, b: f"((({a}) * 7 + ({b}) * 13) % 256)"
    terms = []
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            nx, ny = f"x + ({dx})", f"y + ({dy})"
            rng = f"{nx} >= 0 AND {nx} < 500 AND {ny} >= 0 AND {ny} < 300"
            terms.append(f"CASE WHEN {rng} THEN {v(nx, ny)} ELSE 0 END")
    return f"""
WITH px AS (
  SELECT x.x AS x, y.y AS y
  FROM generate_series(0, 499) x(x), generate_series(0, 299) y(y)),
m AS (
  SELECT x // 64 AS tx, y // 64 AS ty,
         list_sort([{", ".join(terms)}])[5] AS med,
         ((y * 500 + x) % 9973 + 1) AS wt
  FROM px)
SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
       CAST(sum(med * wt) AS BIGINT) AS cs_med
FROM m GROUP BY 1, 2 ORDER BY tx, ty"""


def q_track_link(spark, sf_dir):
    """Tracking-by-detection linking (trajectory.link_tracks, 32 frames,
    radius 50000 quantized units): mutual-nearest-neighbor assignment
    between consecutive frames — one cell-ring equi-join for candidates
    (never frame x frame), two window argmins, exact integer distances."""
    from .operators.trajectory import link_tracks

    pts = _events_points(spark, sf_dir)
    dets = pts.select(
        (F.col("event_id") % 32).alias("frame"),
        F.col("event_id").alias("id"),
        F.floor(F.col("lon") * F.lit(10000.0)).cast("long").alias("qx"),
        F.floor(F.col("lat") * F.lit(10000.0)).cast("long").alias("qy"),
    )
    return link_tracks(dets, r_q=50000).orderBy("frame", "a_id")


def q_track_link_oracle():
    from .operators.trajectory import link_tracks_sql

    base = (
        "SELECT event_id % 32 AS frame, event_id AS id, "
        "CAST(floor(lon * 10000.0) AS BIGINT) AS qx, "
        "CAST(floor(lat * 10000.0) AS BIGINT) AS qy "
        f"FROM ({_points_sql()}) p"
    )
    return (
        "SELECT * FROM (" + link_tracks_sql(base, r_q=50000)
        + ") ORDER BY frame, a_id"
    )


def q_polar_stereo(spark, sf_dir):
    """WGS84 -> Antarctic Polar Stereographic (EPSG:3031, method 9829
    variant B — the polar member of the projected-CRS family,
    R/operation/projection/PolarStereographic.java).  Southern-hemisphere
    points only (the CRS's domain; the north-polar antipode is singular),
    floor-shift discipline as `laea_transform`."""
    from .functions.projections import st_transform_any_udf

    pts = _events_points(spark, sf_dir).filter(F.col("lat") < F.lit(0.0))
    p = st_transform_any_udf("EPSG:4326", "EPSG:3031")(F.col("lon"), F.col("lat"))
    return pts.select(
        "event_id",
        F.floor(p["x"] - F.lit(0.123456789)).cast("long").alias("xl"),
        F.floor(p["y"] - F.lit(0.123456789)).cast("long").alias("yl"),
    )


def q_polar_stereo_oracle():
    import math

    from .functions.projections import CRS_REGISTRY

    p = CRS_REGISTRY["EPSG:3031"]
    e = synth.flit(p.e)
    ehalf = synth.flit(p.e / 2.0)
    pi4 = synth.flit(math.pi / 4.0)
    amF = synth.flit(p.a * p.mF)  # a * mF is one runtime double product
    tF = synth.flit(p.tF)
    # south frame: phi = -radians(lat); y = -(-rho cos lam) = rho cos lam
    # (sign flips are exact).  lon0 = fe = fn = 0 for EPSG:3031.
    phi = "(-radians(lat))"
    s = f"sin({phi})"
    t = (f"(tan({pi4} - {phi} / 2.0) / "
         f"pow((1.0 - {e} * {s}) / (1.0 + {e} * {s}), {ehalf}))")
    rho = f"(({amF} * {t}) / {tF})"
    lam = "(radians(lon - 0.0))"
    x = f"(0.0 + {rho} * sin({lam}))"
    y = f"(0.0 + {rho} * cos({lam}))"
    return f"""
SELECT event_id,
  CAST(floor({x} - 0.123456789) AS BIGINT) AS xl,
  CAST(floor({y} - 0.123456789) AS BIGINT) AS yl
FROM ({_points_sql()}) p
WHERE lat < 0.0
ORDER BY event_id"""


def q_albers(spark, sf_dir):
    """WGS84 -> CONUS Albers (EPSG:5070, method 9822 equal-area conic —
    the equal-area conic member of the projected-CRS family,
    R/operation/projection/AlbersEqualArea.java).  For these standard
    parallels C - n*q > 0 on the whole sphere, so no domain cut is
    needed; floor-shift discipline as `lcc_transform`."""
    from .functions.projections import st_transform_any_udf

    pts = _events_points(spark, sf_dir)
    p = st_transform_any_udf("EPSG:4326", "EPSG:5070")(F.col("lon"), F.col("lat"))
    return pts.select(
        "event_id",
        F.floor(p["x"] - F.lit(0.123456789)).cast("long").alias("xl"),
        F.floor(p["y"] - F.lit(0.123456789)).cast("long").alias("yl"),
    )


def q_albers_oracle():
    from .functions.projections import CRS_REGISTRY

    p = CRS_REGISTRY["EPSG:5070"]
    e, e2 = synth.flit(p.e), synth.flit(p.e2)
    one_m_e2 = synth.flit(1.0 - p.e2)
    inv2e = synth.flit(1.0 / (2.0 * p.e))
    a, n, C = synth.flit(p.a), synth.flit(p.n), synth.flit(p.C)
    fn_rho0 = synth.flit(p.fn + p.rho0)  # fn + rho0 folds left-assoc
    lon0 = synth.flit(p.lon0)
    # identical IEEE op order to AlbersEqualArea._q / .forward
    s = "sin(radians(lat))"
    q = (f"({one_m_e2} * ({s} / (1.0 - {e2} * {s} * {s}) "
         f"- {inv2e} * ln((1.0 - {e} * {s}) / (1.0 + {e} * {s}))))")
    rho = f"(({a} * sqrt({C} - {n} * {q})) / {n})"
    th = f"({n} * radians(lon - {lon0}))"
    x = f"(0.0 + {rho} * sin({th}))"
    y = f"({fn_rho0} - {rho} * cos({th}))"
    return f"""
SELECT event_id,
  CAST(floor({x} - 0.123456789) AS BIGINT) AS xl,
  CAST(floor({y} - 0.123456789) AS BIGINT) AS yl
FROM ({_points_sql()}) p
ORDER BY event_id"""


QUERIES = {
    "cell_counts": (q_cell_counts, q_cell_counts_oracle),
    "tile_counts": (q_tile_counts, q_tile_counts_oracle),
    "tile_pyramid": (q_tile_pyramid, q_tile_pyramid_oracle),
    "spatial_join": (q_spatial_join, q_spatial_join_oracle),
    "spatial_join_agg": (q_spatial_join_agg, q_spatial_join_agg_oracle),
    "spatial_join_salted": (q_spatial_join_salted, q_spatial_join_oracle),
    "spatial_join_auto_salt": (q_spatial_join_auto_salt, q_spatial_join_oracle),
    "spatial_join_dist": (q_spatial_join_dist, q_spatial_join_oracle),
    "spatial_join_compact": (q_spatial_join_compact, q_spatial_join_oracle),
    "polygon_pairs": (q_polygon_pairs, q_polygon_pairs_oracle),
    "knn": (q_knn, q_knn_oracle),
    "knn_cells": (q_knn_cells, q_knn_oracle),
    "bbox_filter": (q_bbox_filter, q_bbox_filter_oracle),
    "mercator": (q_mercator, q_mercator_oracle),
    "lcc_transform": (q_lcc_transform, q_lcc_transform_oracle),
    "laea_transform": (q_laea_transform, q_laea_transform_oracle),
    "geodesic_within": (q_geodesic_pairs, q_geodesic_pairs_oracle),
    "feature_query_q1": (q_feature_query_q1, q_feature_query_q1_oracle),
    "feature_query_facade": (q_feature_query_facade, q_feature_query_facade_oracle),
    "join_inner_nullsafe": (q_join_inner_nullsafe, q_join_inner_nullsafe_oracle),
    "join_outer_nullsafe": (q_join_outer_nullsafe, q_join_outer_nullsafe_oracle),
    "union_stats": (q_union_stats, q_union_stats_oracle),
    "temporal_allen": (q_temporal_allen, q_temporal_allen_oracle),
    "like_filter": (q_like_filter, q_like_filter_oracle),
    "between_topk": (q_between_topk, q_between_topk_oracle),
    "math_functions": (q_math_functions, q_math_functions_oracle),
    "distinct_grouping": (q_distinct_grouping, q_distinct_grouping_oracle),
    "dedup_exact": (q_dedup_exact, q_dedup_exact_oracle),
    "jaccard_pairs": (q_jaccard_pairs, q_jaccard_pairs_oracle),
    "minhash_lsh": (q_minhash_lsh, q_minhash_lsh_oracle),
    "simhash": (q_simhash, q_simhash_oracle),
    "token_stats": (q_token_stats, q_token_stats_oracle),
    "pack_stream": (q_pack_stream, q_pack_stream_oracle),
    "pack_greedy": (q_pack_greedy, q_pack_greedy_oracle),
    "lang_id": (q_lang_id, q_lang_id_oracle),
    "quality_score": (q_quality_score, q_quality_score_oracle),
    "fingerprints": (q_fingerprints, q_fingerprints_oracle),
    "ann_topk": (q_ann_topk, q_ann_topk_oracle),
    "ann_ivf": (q_ann_ivf, q_ann_ivf_oracle),
    "embedding_near_dup": (q_embedding_near_dup, q_embedding_near_dup_oracle),
    "label_centroid": (q_label_centroid_sim, q_label_centroid_sim_oracle),
    "geohash_counts": (q_geohash_counts, q_geohash_counts_oracle),
    "st_measures": (q_st_measures, q_st_measures_oracle),
    "st_accessors": (q_st_accessors, q_st_accessors_oracle),
    "st_lines": (q_st_lines, q_st_lines_oracle),
    "st_multi": (q_st_multi, q_st_multi_oracle),
    "line_predicates": (q_line_predicates, q_line_predicates_oracle),
    "line_clip": (q_line_clip, q_line_clip_oracle),
    "point_line_distance": (q_point_line_distance, q_point_line_distance_oracle),
    "nearest_line": (q_nearest_line, q_nearest_line_oracle),
    "nearest_line_dist": (q_nearest_line_dist, q_nearest_line_oracle),
    "osgb_transform": (q_osgb_transform, q_osgb_transform_oracle),
    "rdnew_transform": (q_rdnew_transform, q_rdnew_transform_oracle),
    "swiss_transform": (q_swiss_transform, q_swiss_transform_oracle),
    "belgian_transform": (q_belgian_transform, q_belgian_transform_oracle),
    "ntv2_shift": (q_ntv2_shift, q_ntv2_shift_oracle),
    "ntv2_multigrid": (q_ntv2_multigrid, q_ntv2_multigrid_oracle),
    "wkt_custom_crs": (q_wkt_custom_crs, q_wkt_custom_crs_oracle),
    "eqc_transform": (q_eqc_transform, q_eqc_transform_oracle),
    "cea_transform": (q_cea_transform, q_cea_transform_oracle),
    "polyconic_transform": (q_polyconic_transform, q_polyconic_transform_oracle),
    "om_transform": (q_om_transform, q_om_transform_oracle),
    "cassini_transform": (q_cassini_transform, q_cassini_transform_oracle),
    "epsg_side_tm": (q_epsg_side_tm, q_epsg_side_tm_oracle),
    "epsg_side_ed50": (q_epsg_side_ed50, q_epsg_side_ed50_oracle),
    "geotiff_ccitt": (q_geotiff_ccitt, q_geotiff_ccitt_oracle),
    "mercator_ell": (q_mercator_ell, q_mercator_ell_oracle),
    "mae_transform": (q_mae_transform, q_mae_transform_oracle),
    "zoned_tm": (q_zoned_tm, q_zoned_tm_oracle),
    "satellite_tracking": (q_satellite_tracking, q_satellite_tracking_oracle),
    "geom_distance": (q_geom_distance, q_geom_distance_oracle),
    "geom_distance_join": (q_geom_distance_join, q_geom_distance_join_oracle),
    "st_buffer": (q_st_buffer, q_st_buffer_oracle),
    "st_union": (q_st_union, q_st_union_oracle),
    "match_action": (q_match_action, q_match_action_oracle),
    "st_contains": (q_st_contains, q_st_contains_oracle),
    "sqlmm_registry": (q_sqlmm_registry, q_sqlmm_registry_oracle),
    "raster_stats": (q_raster_stats, q_raster_stats_oracle),
    "zonal_stats": (q_zonal_stats, q_zonal_stats_oracle),
    "point_eval": (q_point_eval, q_point_eval_oracle),
    "resample_nearest": (q_resample, q_resample_oracle),
    "stretch": (q_stretch, q_stretch_oracle),
    "mosaic": (q_mosaic, q_mosaic_oracle),
    "color_ramp": (q_color_ramp, q_color_ramp_oracle),
    "band_reduce": (q_band_reduce, q_band_reduce_oracle),
    "isolines": (q_isolines, q_isolines_oracle),
    "halfplane_clip": (q_halfplane_clip, q_halfplane_clip_oracle),
    "utm_zones": (q_utm_zones, q_utm_zones_oracle),
    "images_metadata": (q_images_metadata, q_images_metadata_oracle),
    "geotiff_cog": (q_geotiff_cog, q_geotiff_cog_oracle),
    "gpx_read": (q_gpx_read, q_gpx_read_oracle),
    "audio_features": (q_audio_features, q_audio_features_oracle),
    "video_frames": (q_video_frames, q_video_frames_oracle),
    "snapshot_table": (q_snapshot_table, q_snapshot_table_oracle),
    "csv_roundtrip": (q_csv_roundtrip, q_csv_roundtrip_oracle),
    "image_features": (q_image_features, q_image_features_oracle),
    "mf_fragmented": (q_mf_fragmented, q_mf_fragmented_oracle),
    "mf_merged": (q_mf_merged, q_mf_merged_oracle),
    "trajectory_interp": (q_trajectory_interp, q_trajectory_interp_oracle),
    "ascii_grid": (q_ascii_grid, q_ascii_grid_oracle),
    "wkt_crs": (q_wkt_crs, q_wkt_crs_oracle),
    "raw_raster": (q_raw_raster, q_raw_raster_oracle),
    "landsat_scene": (q_landsat_scene, q_landsat_scene_oracle),
    "netcdf_grid": (q_netcdf_grid, q_netcdf_grid_oracle),
    "netcdf_cdf5": (q_netcdf_cdf5, q_netcdf_cdf5_oracle),
    "netcdf4_grid": (q_netcdf4_grid, q_netcdf4_grid_oracle),
    "shapefile": (q_shapefile, q_shapefile_oracle),
    "geopackage": (q_geopackage, q_geopackage_oracle),
    "coveragejson": (q_coveragejson, q_coveragejson_oracle),
    "warp_crs": (q_warp_crs, q_warp_crs_oracle),
    "phash_near_dup": (q_phash_near_dup, q_phash_near_dup_oracle),
    "phash_dedup_pipeline": (q_phash_dedup_pipeline, q_phash_dedup_pipeline_oracle),
    "incremental_dedup": (q_incremental_dedup, q_incremental_dedup_oracle),
    "tar_shards": (q_tar_shards, q_tar_shards_oracle),
    "augment": (q_augment, q_augment_oracle),
    "patchify": (q_patchify, q_patchify_oracle),
    "aspect_batches": (q_aspect_batches, q_aspect_batches_oracle),
    "connected_components": (q_connected_components, q_connected_components_oracle),
    "dedup_clusters": (q_dedup_clusters, q_dedup_clusters_oracle),
    "xyz_pyramid": (q_xyz_pyramid, q_xyz_pyramid_oracle),
    "vector_tiles": (q_vector_tiles, q_vector_tiles_oracle),
    "vector_tiles_poly": (q_vector_tiles_poly, q_vector_tiles_poly_oracle),
    "ann_pq": (q_ann_pq, q_ann_pq_oracle),
    "cell_compact": (q_cell_compact, q_cell_compact_oracle),
    "cell_uncompact": (q_cell_uncompact, q_cell_uncompact_oracle),
    "asof_join": (q_asof_join, q_asof_join_oracle),
    "range_join": (q_range_join, q_range_join_oracle),
    "sessionize": (q_sessionize, q_sessionize_oracle),
    "gopher_repetition": (q_gopher_repetition, q_gopher_repetition_oracle),
    "lsh_dedup_pipeline": (q_lsh_dedup_pipeline, q_lsh_dedup_pipeline_oracle),
    "gradient": (q_gradient, q_gradient_oracle),
    "embedding_dedup_pipeline": (
        q_embedding_dedup_pipeline, q_embedding_dedup_pipeline_oracle),
    "hex_counts": (q_hex_counts, q_hex_counts_oracle),
    "dataset_split": (q_dataset_split, q_dataset_split_oracle),
    "decontaminate": (q_decontaminate, q_decontaminate_oracle),
    "classifier_score": (q_classifier_score, q_classifier_score_oracle),
    "bpe_pair_counts": (q_bpe_pair_counts, q_bpe_pair_counts_oracle),
    "image_quality": (q_image_quality, q_image_quality_oracle),
    "caption_alignment": (q_caption_alignment, q_caption_alignment_oracle),
    "dup_ngram_coverage": (q_dup_ngram_coverage, q_dup_ngram_coverage_oracle),
    "group_cap": (q_group_cap, q_group_cap_oracle),
    "hash_sample": (q_hash_sample, q_hash_sample_oracle),
    "group_quantiles": (q_group_quantiles, q_group_quantiles_oracle),
    "tfidf_topk": (q_tfidf_topk, q_tfidf_topk_oracle),
    "dhash": (q_dhash, q_dhash_oracle),
    "color_histogram": (q_color_histogram, q_color_histogram_oracle),
    "embedding_covariance": (q_embedding_covariance, q_embedding_covariance_oracle),
    "shuffle_assign": (q_shuffle_assign, q_shuffle_assign_oracle),
    "mixture_rates": (q_mixture_rates, q_mixture_rates_oracle),
    "rasterize": (q_rasterize, q_rasterize_oracle),
    "redact_pii": (q_redact_pii, q_redact_pii_oracle),
    "window_tumbling": (q_window_tumbling, q_window_tumbling_oracle),
    "window_sliding": (q_window_sliding, q_window_sliding_oracle),
    "hll_registers": (q_hll_registers, q_hll_registers_oracle),
    "bloom_filter": (q_bloom_filter, q_bloom_filter_oracle),
    "countmin_heavy": (q_countmin_heavy, q_countmin_heavy_oracle),
    "kmeans_clusters": (q_kmeans_clusters, q_kmeans_clusters_oracle),
    "cluster_balanced": (q_cluster_balanced, q_cluster_balanced_oracle),
    "hilbert_order": (q_hilbert_order, q_hilbert_order_oracle),
    "stay_points": (q_stay_points, q_stay_points_oracle),
    "convolve": (q_convolve, q_convolve_oracle),
    "ngram_lm": (q_ngram_lm, q_ngram_lm_oracle),
    "weighted_sample": (q_weighted_sample, q_weighted_sample_oracle),
    "grid_cluster": (q_grid_cluster, q_grid_cluster_oracle),
    "theta_sketch": (q_theta_sketch, q_theta_sketch_oracle),
    "flow_dir": (q_flow_dir, q_flow_dir_oracle),
    "flow_accum": (q_flow_accum, q_flow_accum_oracle),
    "map_match": (q_map_match, q_map_match_oracle),
    "watershed": (q_watershed, q_watershed_oracle),
    "pagerank": (q_pagerank, q_pagerank_oracle),
    "triangles": (q_triangles, q_triangles_oracle),
    "prefix_join": (q_prefix_join, q_prefix_join_oracle),
    "rollup_agg": (q_rollup_agg, q_rollup_agg_oracle),
    "pivot_counts": (q_pivot_counts, q_pivot_counts_oracle),
    "window_rank": (q_window_rank, q_window_rank_oracle),
    "quantile_hist": (q_quantile_hist, q_quantile_hist_oracle),
    "fuzzy_join": (q_fuzzy_join, q_fuzzy_join_oracle),
    "ewma": (q_ewma, q_ewma_oracle),
    "skyline": (q_skyline, q_skyline_oracle),
    "funnel": (q_funnel, q_funnel_oracle),
    "retention": (q_retention, q_retention_oracle),
    "morphology": (q_morphology, q_morphology_oracle),
    "distance_transform": (q_distance_transform, q_distance_transform_oracle),
    "stratified_sample": (q_stratified_sample, q_stratified_sample_oracle),
    "integral_image": (q_integral_image, q_integral_image_oracle),
    "voronoi": (q_voronoi, q_voronoi_oracle),
    "ann_ivfpq": (q_ann_ivfpq, q_ann_ivfpq_oracle),
    "collocations": (q_collocations, q_collocations_oracle),
    "robust_outliers": (q_robust_outliers, q_robust_outliers_oracle),
    "interval_union": (q_interval_union, q_interval_union_oracle),
    "hll_grouped": (q_hll_grouped, q_hll_grouped_oracle),
    "data_profile": (q_data_profile, q_data_profile_oracle),
    "data_quality": (q_data_quality, q_data_quality_oracle),
    "changepoint": (q_changepoint, q_changepoint_oracle),
    "nms_boxes": (q_nms_boxes, q_nms_boxes_oracle),
    "box_iou_join": (q_box_iou_join, q_box_iou_join_oracle),
    "str_partition": (q_str_partition, q_str_partition_oracle),
    "acf": (q_acf, q_acf_oracle),
    "bm25_topk": (q_bm25_topk, q_bm25_topk_oracle),
    "kcore": (q_kcore, q_kcore_oracle),
    "frechet_pairs": (q_frechet_pairs, q_frechet_pairs_oracle),
    "line_interpolate": (q_line_interpolate, q_line_interpolate_oracle),
    "dtw_pairs": (q_dtw_pairs, q_dtw_pairs_oracle),
    "hausdorff_pairs": (q_hausdorff_pairs, q_hausdorff_pairs_oracle),
    "box_letterbox": (q_box_letterbox, q_box_letterbox_oracle),
    "quadkey": (q_quadkey, q_quadkey_oracle),
    "rolling_median": (q_rolling_median, q_rolling_median_oracle),
    "token_entropy": (q_token_entropy, q_token_entropy_oracle),
    "theil_sen": (q_theil_sen, q_theil_sen_oracle),
    "cube_agg": (q_cube_agg, q_cube_agg_oracle),
    "ols_trend": (q_ols_trend, q_ols_trend_oracle),
    "rank_sum": (q_rank_sum, q_rank_sum_oracle),
    "group_mode": (q_group_mode, q_group_mode_oracle),
    "weighted_median": (q_weighted_median, q_weighted_median_oracle),
    "rle_segments": (q_rle_segments, q_rle_segments_oracle),
    "scd2": (q_scd2, q_scd2_oracle),
    "corr_pairs": (q_corr_pairs, q_corr_pairs_oracle),
    "gini": (q_gini, q_gini_oracle),
    "matmul": (q_matmul, q_matmul_oracle),
    "isotonic": (q_isotonic, q_isotonic_oracle),
    "kendall_tau": (q_kendall_tau, q_kendall_tau_oracle),
    "spearman": (q_spearman, q_spearman_oracle),
    "chi2": (q_chi2, q_chi2_oracle),
    "shortest_paths": (q_shortest_paths, q_shortest_paths_oracle),
    "bloom_join": (q_bloom_join, q_bloom_join_oracle),
    "url_parse": (q_url_parse, q_url_parse_oracle),
    "calendar_agg": (q_calendar_agg, q_calendar_agg_oracle),
    "vector_ops": (q_vector_ops, q_vector_ops_oracle),
    "json_extract": (q_json_extract, q_json_extract_oracle),
    "st_azimuth": (q_st_azimuth, q_st_azimuth_oracle),
    "geodesic_destination": (q_geodesic_destination, q_geodesic_destination_oracle),
    "idw": (q_idw, q_idw_oracle),
    "ccl_regions": (q_ccl_regions, q_ccl_regions_oracle),
    "decision_stump": (q_decision_stump, q_decision_stump_oracle),
    "assoc_rules": (q_assoc_rules, q_assoc_rules_oracle),
    "markov_transitions": (q_markov_transitions, q_markov_transitions_oracle),
    "kaplan_meier": (q_kaplan_meier, q_kaplan_meier_oracle),
    "hist_eq": (q_hist_eq, q_hist_eq_oracle),
    "hillshade": (q_hillshade, q_hillshade_oracle),
    "lcs_pairs": (q_lcs_pairs, q_lcs_pairs_oracle),
    "holt": (q_holt, q_holt_oracle),
    "ssim_tiles": (q_ssim_tiles, q_ssim_tiles_oracle),
    "roc_points": (q_roc_points, q_roc_points_oracle),
    "seq_patterns": (q_seq_patterns, q_seq_patterns_oracle),
    "ndvi": (q_ndvi, q_ndvi_oracle),
    "glcm": (q_glcm, q_glcm_oracle),
    "simplify_vw": (q_simplify_vw, q_simplify_vw_oracle),
    "kde_grid": (q_kde_grid, q_kde_grid_oracle),
    "gps_jumps": (q_gps_jumps, q_gps_jumps_oracle),
    "doc_cosine": (q_doc_cosine, q_doc_cosine_oracle),
    "adaptive_cells": (q_adaptive_cells, q_adaptive_cells_oracle),
    "otsu": (q_otsu, q_otsu_oracle),
    "rhumb_line": (q_rhumb_line, q_rhumb_line_oracle),
    "tri": (q_tri, q_tri_oracle),
    "kappa": (q_kappa, q_kappa_oracle),
    "class_prf": (q_class_prf, q_class_prf_oracle),
    "cross_track": (q_cross_track, q_cross_track_oracle),
    "line_cells": (q_line_cells, q_line_cells_oracle),
    "mase": (q_mase, q_mase_oracle),
    "hits": (q_hits, q_hits_oracle),
    "mutual_info": (q_mutual_info, q_mutual_info_oracle),
    "downsample_mean": (q_downsample_mean, q_downsample_mean_oracle),
    "url_canonical": (q_url_canonical, q_url_canonical_oracle),
    "cum_distinct": (q_cum_distinct, q_cum_distinct_oracle),
    "sphere_excess": (q_sphere_excess, q_sphere_excess_oracle),
    "knn_classify": (q_knn_classify, q_knn_classify_oracle),
    "spacetime_join": (q_spacetime_join, q_spacetime_join_oracle),
    "tile_entropy": (q_tile_entropy, q_tile_entropy_oracle),
    "hist_match": (q_hist_match, q_hist_match_oracle),
    "xcorr": (q_xcorr, q_xcorr_oracle),
    "assortativity": (q_assortativity, q_assortativity_oracle),
    "hotspot_gi": (q_hotspot_gi, q_hotspot_gi_oracle),
    "cell_change": (q_cell_change, q_cell_change_oracle),
    "k_anonymity": (q_k_anonymity, q_k_anonymity_oracle),
    "resample_bilinear": (q_resample_bilinear, q_resample_bilinear_oracle),
    "attribution": (q_attribution, q_attribution_oracle),
    "rfm": (q_rfm, q_rfm_oracle),
    "prefix_norms": (q_prefix_norms, q_prefix_norms_oracle),
    "sd_ellipse": (q_sd_ellipse, q_sd_ellipse_oracle),
    "blockiness": (q_blockiness, q_blockiness_oracle),
    "burstiness": (q_burstiness, q_burstiness_oracle),
    "od_matrix": (q_od_matrix, q_od_matrix_oracle),
    "reciprocity": (q_reciprocity, q_reciprocity_oracle),
    "class_separation": (q_class_separation, q_class_separation_oracle),
    "gc_densify": (q_gc_densify, q_gc_densify_oracle),
    "token_sort_dedup": (q_token_sort_dedup, q_token_sort_dedup_oracle),
    "vec_topk_dims": (q_vec_topk_dims, q_vec_topk_dims_oracle),
    "temporal_split": (q_temporal_split, q_temporal_split_oracle),
    "hampel": (q_hampel, q_hampel_oracle),
    "morans_i": (q_morans_i, q_morans_i_oracle),
    "ripley_pairs": (q_ripley_pairs, q_ripley_pairs_oracle),
    "image_moments": (q_image_moments, q_image_moments_oracle),
    "lbp": (q_lbp, q_lbp_oracle),
    "hog": (q_hog, q_hog_oracle),
    "auc_exact": (q_auc_exact, q_auc_exact_oracle),
    "ranking_metrics": (q_ranking_metrics, q_ranking_metrics_oracle),
    "calibration_bins": (q_calibration_bins, q_calibration_bins_oracle),
    "line_dedup": (q_line_dedup, q_line_dedup_oracle),
    "benford": (q_benford, q_benford_oracle),
    "circular_mean": (q_circular_mean, q_circular_mean_oracle),
    "label_prop": (q_label_prop, q_label_prop_oracle),
    "link_predict": (q_link_predict, q_link_predict_oracle),
    "random_projection": (q_random_projection, q_random_projection_oracle),
    "convex_hull": (q_convex_hull, q_convex_hull_oracle),
    "seam_cost": (q_seam_cost, q_seam_cost_oracle),
    "mode_filter": (q_mode_filter, q_mode_filter_oracle),
    "palette_map": (q_palette_map, q_palette_map_oracle),
    "mse_pairs": (q_mse_pairs, q_mse_pairs_oracle),
    "pca_power": (q_pca_power, q_pca_power_oracle),
    "paa": (q_paa, q_paa_oracle),
    "sinuosity": (q_sinuosity, q_sinuosity_oracle),
    "self_intersections": (q_self_intersections, q_self_intersections_oracle),
    "ks_stat": (q_ks_stat, q_ks_stat_oracle),
    "distance_bands": (q_distance_bands, q_distance_bands_oracle),
    "gray_hist": (q_gray_hist, q_gray_hist_oracle),
    "gamma_lut": (q_gamma_lut, q_gamma_lut_oracle),
    "cooccurrence": (q_cooccurrence, q_cooccurrence_oracle),
    "range_filter": (q_range_filter, q_range_filter_oracle),
    "patch_dedup": (q_patch_dedup, q_patch_dedup_oracle),
    "bearing_rose": (q_bearing_rose, q_bearing_rose_oracle),
    "variogram": (q_variogram, q_variogram_oracle),
    "cross_k": (q_cross_k, q_cross_k_oracle),
    "row_profile": (q_row_profile, q_row_profile_oracle),
    "sax": (q_sax, q_sax_oracle),
    "spatial_entropy": (q_spatial_entropy, q_spatial_entropy_oracle),
    "channel_corr": (q_channel_corr, q_channel_corr_oracle),
    "interarrival": (q_interarrival, q_interarrival_oracle),
    "ngram_novelty": (q_ngram_novelty, q_ngram_novelty_oracle),
    "l_diversity": (q_l_diversity, q_l_diversity_oracle),
    "cell_jaccard": (q_cell_jaccard, q_cell_jaccard_oracle),
    "dominant_color": (q_dominant_color, q_dominant_color_oracle),
    "border_stats": (q_border_stats, q_border_stats_oracle),
    "lisa": (q_lisa, q_lisa_oracle),
    "pq_recon": (q_pq_recon, q_pq_recon_oracle),
    "mcc": (q_mcc, q_mcc_oracle),
    "brier": (q_brier, q_brier_oracle),
    "ndcg": (q_ndcg, q_ndcg_oracle),
    "lift_table": (q_lift_table, q_lift_table_oracle),
    "k_truss": (q_k_truss, q_k_truss_oracle),
    "clustering_coeff": (q_clustering_coeff, q_clustering_coeff_oracle),
    "adamic_adar": (q_adamic_adar, q_adamic_adar_oracle),
    "bayer_dither": (q_bayer_dither, q_bayer_dither_oracle),
    "fast_corners": (q_fast_corners, q_fast_corners_oracle),
    "hough": (q_hough, q_hough_oracle),
    "douglas_peucker": (q_douglas_peucker, q_douglas_peucker_oracle),
    "geofence": (q_geofence, q_geofence_oracle),
    "psi": (q_psi, q_psi_oracle),
    "curvature": (q_curvature, q_curvature_oracle),
    "t_closeness": (q_t_closeness, q_t_closeness_oracle),
    "cost_distance": (q_cost_distance, q_cost_distance_oracle),
    "viewshed": (q_viewshed, q_viewshed_oracle),
    "template_match": (q_template_match, q_template_match_oracle),
    "seasonal": (q_seasonal, q_seasonal_oracle),
    "geary_c": (q_geary_c, q_geary_c_oracle),
    "harris": (q_harris, q_harris_oracle),
    "clahe": (q_clahe, q_clahe_oracle),
    "ordinal": (q_ordinal, q_ordinal_oracle),
    "haar": (q_haar, q_haar_oracle),
    "disparity": (q_disparity, q_disparity_oracle),
    "geojson": (q_geojson, q_geojson_oracle),
    "emerging_hotspot": (q_emerging_hotspot, q_emerging_hotspot_oracle),
    "knox": (q_knox, q_knox_oracle),
    "optical_flow": (q_optical_flow, q_optical_flow_oracle),
    "dft": (q_dft, q_dft_oracle),
    "canny": (q_canny, q_canny_oracle),
    "euler": (q_euler, q_euler_oracle),
    "skeleton": (q_skeleton, q_skeleton_oracle),
    "jenks": (q_jenks, q_jenks_oracle),
    "morton_ranges": (q_morton_ranges, q_morton_ranges_oracle),
    "laplacian": (q_laplacian, q_laplacian_oracle),
    "brovey": (q_brovey, q_brovey_oracle),
    "demosaic": (q_demosaic, q_demosaic_oracle),
    "helmert": (q_helmert, q_helmert_oracle),
    "hard_negatives": (q_hard_negatives, q_hard_negatives_oracle),
    "mmr": (q_mmr, q_mmr_oracle),
    "co_traveler": (q_co_traveler, q_co_traveler_oracle),
    "polar_stereo": (q_polar_stereo, q_polar_stereo_oracle),
    "albers": (q_albers, q_albers_oracle),
    "track_link": (q_track_link, q_track_link_oracle),
    "median_filter": (q_median_filter, q_median_filter_oracle),
    "frame_diff": (q_frame_diff, q_frame_diff_oracle),
    "ols_multi": (q_ols_multi, q_ols_multi_oracle),
    "holt_winters": (q_holt_winters, q_holt_winters_oracle),
    "bootstrap": (q_bootstrap, q_bootstrap_oracle),
    "chunk_docs": (q_chunk_docs, q_chunk_docs_oracle),
    "func_deps": (q_func_deps, q_func_deps_oracle),
    "gravity": (q_gravity, q_gravity_oracle),
    "dbscan": (q_dbscan, q_dbscan_oracle),
    "median_cut": (q_median_cut, q_median_cut_oracle),
    "network_build": (q_network_build, q_network_build_oracle),
    "rake": (q_rake, q_rake_oracle),
    "slic": (q_slic, q_slic_oracle),
    "home_work": (q_home_work, q_home_work_oracle),
    "areal_interp": (q_areal_interp, q_areal_interp_oracle),
    "zonal_mode": (q_zonal_mode, q_zonal_mode_oracle),
    "critical_path": (q_critical_path, q_critical_path_oracle),
    "mondrian": (q_mondrian, q_mondrian_oracle),
    "gray_world": (q_gray_world, q_gray_world_oracle),
    "dissolve": (q_dissolve, q_dissolve_oracle),
    "soundex": (q_soundex, q_soundex_oracle),
    "winnowing": (q_winnowing, q_winnowing_oracle),
    "geoparquet": (q_geoparquet, q_geoparquet_oracle),
    "las_points": (q_las_points, q_las_points_oracle),
    "ground_filter": (q_ground_filter, q_ground_filter_oracle),
    "zone_adjacency": (q_zone_adjacency, q_zone_adjacency_oracle),
    "minhash_calibration": (q_minhash_calibration, q_minhash_calibration_oracle),
    "correlogram": (q_correlogram, q_correlogram_oracle),
    "dwell_time": (q_dwell_time, q_dwell_time_oracle),
}


def _doc_graph_edges(spark, sf_dir, directed=False):
    """Closed-form link graph over documents (the pagerank gate's
    construction): doc a -> (a*7+11)%N, (a*13+5)%N, (a*3+1)%N."""
    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("src")
    )
    n = docs.count()
    e = docs.select(
        "src",
        F.explode(F.array(
            (F.col("src") * 7 + 11) % n,
            (F.col("src") * 13 + 5) % n,
            (F.col("src") * 3 + 1) % n,
        )).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    if directed:
        return e.distinct()
    return e.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
    ).distinct()


def _doc_graph_edges_sql(directed=False):
    # UNION ALL of the three closed-form targets (DuckDB's binder
    # rejects unnest over a column of a comma-joined scalar subquery)
    base = """
  SELECT src, dst FROM (
    SELECT src, (src * 7 + 11) % nn.n AS dst
    FROM (SELECT CAST(doc_id AS BIGINT) AS src FROM documents) b,
         (SELECT count(*) AS n FROM documents) nn
    UNION ALL
    SELECT src, (src * 13 + 5) % nn.n
    FROM (SELECT CAST(doc_id AS BIGINT) AS src FROM documents) b,
         (SELECT count(*) AS n FROM documents) nn
    UNION ALL
    SELECT src, (src * 3 + 1) % nn.n
    FROM (SELECT CAST(doc_id AS BIGINT) AS src FROM documents) b,
         (SELECT count(*) AS n FROM documents) nn) t
  WHERE src <> dst"""
    if directed:
        return f"SELECT DISTINCT src, dst FROM ({base}) d"
    return (f"SELECT DISTINCT least(src, dst) AS src, "
            f"greatest(src, dst) AS dst FROM ({base}) d")


def q_modularity(spark, sf_dir):
    """Per-community modularity moments (graph.modularity_counts) of a
    7-way hash partition of the closed-form document graph: Newman Q is
    the exact rational sum_c(4*m*intra - dsum^2) / (4*m^2) of the
    emitted int64 moments — two equi-joins + three partial aggs, no
    driver state."""
    from .operators.graph import modularity_counts

    edges = _doc_graph_edges(spark, sf_dir)
    labels = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("node"),
        (F.col("doc_id") % 7).cast("long").alias("c"),
    )
    return modularity_counts(edges, labels).orderBy("c")


def q_modularity_oracle():
    from .operators.graph import modularity_sql

    labels = ("SELECT CAST(doc_id AS BIGINT) AS node, "
              "CAST(doc_id % 7 AS BIGINT) AS c FROM documents")
    return ("SELECT * FROM (" + modularity_sql(_doc_graph_edges_sql(), labels)
            + ") ORDER BY c")


def q_random_walks(spark, sf_dir):
    """Deterministic uniform random walks (graph.random_walks, 6 hops)
    over the directed closed-form document graph: hop t of walk w at
    node u moves to neighbor hash_u60(w:t:u) mod deg(u) — rerun-stable
    node2vec-corpus generation whose every path the SQL oracle replays
    with the identical md5 choice function."""
    from .operators.graph import random_walks

    edges = _doc_graph_edges(spark, sf_dir, directed=True)
    starts = _read(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 20 == 0
    ).select(
        F.col("doc_id").cast("long").alias("walk"),
        F.col("doc_id").cast("long").alias("node"),
    )
    return random_walks(edges, starts, steps=6).orderBy(
        "walk", "step", "node"
    )


def q_random_walks_oracle():
    from .operators.graph import random_walks_sql

    starts = ("SELECT CAST(doc_id AS BIGINT) AS walk, "
              "CAST(doc_id AS BIGINT) AS node FROM documents "
              "WHERE doc_id % 20 = 0")
    return ("SELECT * FROM ("
            + random_walks_sql(_doc_graph_edges_sql(directed=True), starts, 6)
            + ") ORDER BY walk, step, node")


QUERIES.update({
    "modularity": (q_modularity, q_modularity_oracle),
    "random_walks": (q_random_walks, q_random_walks_oracle),
})


def q_lbp(spark, sf_dir):
    """Local binary patterns per tile (terrain.lbp_tiles, Ojala texture
    codes): 8 fixed-order neighbor comparisons per interior pixel of the
    formula raster, per-tile code histogram — the halo-gather shuffle
    shape, pure integer end to end; the oracle replays all eight mod-
    formula comparisons per pixel."""
    from .raster.grid import GridGeometry
    from .raster.terrain import lbp_tiles

    W, H = 500, 300
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    tiles = _formula_tiles(spark, W, H, bands=1)
    return lbp_tiles(tiles, gg).orderBy("tx", "ty", "code")


def q_lbp_oracle():
    v = "((x + {dx}) * 7 + (y + {dy}) * 13) % 256"
    offs = [(-1, -1), (0, -1), (1, -1), (-1, 0),
            (1, 0), (-1, 1), (0, 1), (1, 1)]
    bits = " + ".join(
        f"(CASE WHEN ({v.format(dx=dx, dy=dy)}) >= v0 THEN {1 << k} ELSE 0 END)"
        for k, (dx, dy) in enumerate(offs)
    )
    return f"""
WITH px AS (
  SELECT x // 64 AS tx, y // 64 AS ty, {bits} AS code
  FROM generate_series(1, 498) gx(x), generate_series(1, 298) gy(y),
       LATERAL (SELECT (x * 7 + y * 13) % 256 AS v0) c)
SELECT tx, ty, CAST(code AS BIGINT) AS code, CAST(count(*) AS BIGINT) AS n
FROM px GROUP BY 1, 2, 3 ORDER BY tx, ty, code"""


QUERIES["lbp"] = (q_lbp, q_lbp_oracle)


def q_louvain_move(spark, sf_dir):
    """One synchronous Louvain local-move round (graph.louvain_move) on
    the closed-form document graph from a 7-way hash seed partition:
    every node argmaxes the exact int64 modularity-gain score
    2*m*k(u,c) - deg*(tot_c - deg*[own]) over neighbor communities —
    three partial-agg shuffles + one window, no floats, no driver
    state."""
    from .operators.graph import louvain_move

    edges = _doc_graph_edges(spark, sf_dir)
    labels = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("node"),
        (F.col("doc_id") % 7).cast("long").alias("c"),
    )
    return louvain_move(edges, labels).orderBy("node")


def q_louvain_move_oracle():
    from .operators.graph import louvain_move_sql

    labels = ("SELECT CAST(doc_id AS BIGINT) AS node, "
              "CAST(doc_id % 7 AS BIGINT) AS c FROM documents")
    return ("SELECT * FROM ("
            + louvain_move_sql(_doc_graph_edges_sql(), labels)
            + ") ORDER BY node")


QUERIES["louvain_move"] = (q_louvain_move, q_louvain_move_oracle)


def q_nb_classify(spark, sf_dir):
    """Multinomial naive Bayes trained on the corpus itself
    (textops.nb_classify, CCNet-style quality/topic filtering): train on
    doc_id % 5 != 0 with closed-form labels doc_id % 3, classify the
    held-out fifth; Laplace-smoothed log-probs are 1e6 floor-quantized
    before the per-doc sum so the argmax is exact int64 in both
    engines."""
    from .operators.textops import nb_classify

    docs = _read(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id", "text", (F.col("doc_id") % 3).cast("long").alias("label")
    )
    test = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    return nb_classify(train, test).orderBy("doc_id")


def q_nb_classify_oracle():
    from .operators.textops import nb_classify_sql

    train = ("SELECT doc_id, text, CAST(doc_id % 3 AS BIGINT) AS label "
             "FROM documents WHERE doc_id % 5 != 0")
    test = "SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0"
    return ("SELECT * FROM (" + nb_classify_sql(train, test)
            + ") ORDER BY doc_id")


QUERIES["nb_classify"] = (q_nb_classify, q_nb_classify_oracle)


def q_ransac_line(spark, sf_dir):
    """Derandomized RANSAC line consensus (analytics.ransac_line): 24
    hash-seeded candidate models over a synthetic 90%-inlier line
    y = 3x + 40 +/- 10 with hash-scattered outliers; the all-integer
    perpendicular test makes every per-model inlier count exact, and the
    oracle samples the identical models via the shared md5 choice
    function."""
    from .operators.analytics import ransac_line
    from .operators.sampling import hash_u60

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("id")
    )
    h = hash_u60(F.col("id"), "rln")
    pts = d.select(
        "id",
        (F.col("id") % 1000).alias("x"),
        F.when(
            F.col("id") % 10 != 0,
            3 * (F.col("id") % 1000) + 40 + (h % 21) - 10,
        ).otherwise(h % 4000 - 500).alias("y"),
    )
    return ransac_line(pts, n_models=24, eps=8).orderBy("k")


def q_ransac_line_oracle():
    from .operators.analytics import ransac_line_sql
    from .operators.sampling import hash_u60_sql

    h = hash_u60_sql("CAST(doc_id AS VARCHAR)", "rln")
    pts = f"""
SELECT CAST(doc_id AS BIGINT) AS id,
       CAST(doc_id % 1000 AS BIGINT) AS x,
       CASE WHEN doc_id % 10 != 0
            THEN 3 * (doc_id % 1000) + 40 + (({h}) % 21) - 10
            ELSE ({h}) % 4000 - 500 END AS y
FROM documents"""
    return ("SELECT * FROM (" + ransac_line_sql(pts, n_models=24, eps=8)
            + ") ORDER BY k")


QUERIES["ransac_line"] = (q_ransac_line, q_ransac_line_oracle)


def q_ipf_balance(spark, sf_dir):
    """Furness / IPF balancing (density.ipf_balance): a seed OD matrix
    aggregated from documents is alternately row/column-scaled for 4
    rounds toward closed-form zone targets; cells stay int64 between
    rounds (order-independent sums) and each scaling is one shared
    double expression floor-quantized back — the gravity model's
    distribution step, exact in both engines."""
    from .operators.density import ipf_balance

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("id")
    )
    seed = (
        d.groupBy(
            (F.col("id") % 20).alias("o"),
            ((F.col("id") * 7) % 15).alias("d"),
        )
        .agg((F.sum(F.col("id") % 9 + 1) * 10000).alias("t"))
    )
    zones_o = spark.range(20).select(
        F.col("id").alias("o"),
        (((F.col("id") * 13 + 7) % 50 + 10) * 10000).alias("target"),
    )
    zones_d = spark.range(15).select(
        F.col("id").alias("d"),
        (((F.col("id") * 11 + 3) % 40 + 20) * 10000).alias("target"),
    )
    return ipf_balance(seed, zones_o, zones_d, rounds=4).orderBy("o", "d")


def q_ipf_balance_oracle():
    from .operators.density import ipf_balance_sql

    seed = """
SELECT CAST(doc_id % 20 AS BIGINT) AS o,
       CAST((doc_id * 7) % 15 AS BIGINT) AS d,
       CAST(sum(doc_id % 9 + 1) * 10000 AS BIGINT) AS t
FROM documents GROUP BY 1, 2"""
    zo = ("SELECT CAST(i AS BIGINT) AS o, "
          "CAST(((i * 13 + 7) % 50 + 10) * 10000 AS BIGINT) AS target "
          "FROM (SELECT unnest(range(0, 20)) AS i) z")
    zd = ("SELECT CAST(i AS BIGINT) AS d, "
          "CAST(((i * 11 + 3) % 40 + 20) * 10000 AS BIGINT) AS target "
          "FROM (SELECT unnest(range(0, 15)) AS i) z")
    return ("SELECT * FROM (" + ipf_balance_sql(seed, zo, zd, rounds=4)
            + ") ORDER BY o, d")


QUERIES["ipf_balance"] = (q_ipf_balance, q_ipf_balance_oracle)


def q_bilateral(spark, sf_dir):
    """All-integer 5x5 bilateral edge-preserving smoother
    (terrain.bilateral_tiles) on the formula raster: spatial weight
    (3-|dx|)*(3-|dy|), range weight max(0, 32 - |diff|//4), exact
    floor-divided output — one halo-gather shuffle; per-tile weighted
    checksums as the median_filter gate."""
    from .raster.grid import GridGeometry
    from .raster.terrain import bilateral_tiles

    W, H, TS = 500, 300, 64
    tiles = _formula_tiles(spark, W, H, bands=1, tile_size=TS)
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    out = bilateral_tiles(tiles, gg, tile_size=TS)

    return _tile_checksums(out, W, H, TS, "cs_bi").orderBy("tx", "ty")


def q_bilateral_oracle():
    v = lambda a, b: f"((({a}) * 7 + ({b}) * 13) % 256)"
    nums, dens = [], []
    for dy in range(-2, 3):
        for dx in range(-2, 3):
            nx, ny = f"x + ({dx})", f"y + ({dy})"
            rng = f"{nx} >= 0 AND {nx} < 500 AND {ny} >= 0 AND {ny} < 300"
            nb = f"(CASE WHEN {rng} THEN {v(nx, ny)} ELSE 0 END)"
            sw = (3 - abs(dx)) * (3 - abs(dy))
            rw = f"greatest(0, 32 - abs({nb} - v0) // 4)"
            nums.append(f"{sw} * {rw} * {nb}")
            dens.append(f"{sw} * {rw}")
    return f"""
WITH px AS (
  SELECT x.x AS x, y.y AS y
  FROM generate_series(0, 499) x(x), generate_series(0, 299) y(y)),
m AS (
  SELECT x // 64 AS tx, y // 64 AS ty,
         ({" + ".join(nums)}) // ({" + ".join(dens)}) AS bi,
         ((y * 500 + x) % 9973 + 1) AS wt
  FROM px, LATERAL (SELECT {v("x", "y")} AS v0) c)
SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
       CAST(sum(bi * wt) AS BIGINT) AS cs_bi
FROM m GROUP BY 1, 2 ORDER BY tx, ty"""


QUERIES["bilateral"] = (q_bilateral, q_bilateral_oracle)


def q_dsir(spark, sf_dir):
    """DSIR importance resampling (textops.dsir_select, Xie et al.
    2023): every seventh document forms the target corpus; the rest are
    scored by the quantized hashed-bigram log-likelihood ratio and the
    top 80 drawn with deterministic md5 Gumbel-top-k — the
    data-selection step of an LLM pretraining pipeline, exact in both
    engines."""
    from .operators.textops import dsir_select

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    target = docs.filter(F.col("doc_id") % 7 == 0)
    cands = docs.filter(F.col("doc_id") % 7 != 0)
    return dsir_select(target, cands, k=80).orderBy("rank")


def q_dsir_oracle():
    from .operators.textops import dsir_select_sql

    return ("SELECT * FROM (" + dsir_select_sql(
        "SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0",
        "SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0",
        k=80,
    ) + ") ORDER BY rank")


QUERIES["dsir"] = (q_dsir, q_dsir_oracle)


def q_matrix_profile(spark, sf_dir):
    """Exact integer matrix profile (timeseries.matrix_profile, m=8,
    cap=50): per-series nearest-neighbor ED^2 of every subsequence with
    the |i-j| >= m exclusion zone — the motif/discord primitive; a
    planted repeating motif guarantees real matches.  The bounded
    self-join + JVM aggregate distance keeps everything int64."""
    from .operators.timeseries import matrix_profile

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("id")
    )
    series = d.select(
        (F.col("id") % 5).alias("k"),
        F.col("id").alias("o"),
        # base signal + a period-25 planted motif on a varying carrier
        (
            (F.col("id") * 7 % 23)
            + F.when((F.col("id") % 25) < 8, (F.col("id") % 25) * 10)
            .otherwise(F.col("id") % 13)
        ).alias("v"),
    )
    return matrix_profile(series, "k", "o", "v", m=8, cap=50).orderBy("k", "i")


def q_matrix_profile_oracle():
    from .operators.timeseries import matrix_profile_sql

    base = """
SELECT CAST(doc_id % 5 AS BIGINT) AS k,
       CAST(doc_id AS BIGINT) AS o,
       CAST((doc_id * 7 % 23)
            + CASE WHEN (doc_id % 25) < 8 THEN (doc_id % 25) * 10
                   ELSE doc_id % 13 END AS BIGINT) AS v
FROM documents"""
    return ("SELECT * FROM (" + matrix_profile_sql(base, m=8, cap=50)
            + ") ORDER BY k, i")


QUERIES["matrix_profile"] = (q_matrix_profile, q_matrix_profile_oracle)


def q_semdedup(spark, sf_dir):
    """SemDeDup semantic deduplication (embeddings.semdedup, Abbas et
    al. 2023): exact-integer k-means (k=8, 2 Lloyd iterations) then a
    within-cluster quantized-cosine pair sweep at 0.35 dropping the
    higher id of each near-dup pair — the candidate join is bucketed on
    cluster, never all-pairs; the oracle replays the training AND the
    sweep."""
    from .operators.embeddings import semdedup

    return semdedup(
        _read(spark, sf_dir, "embeddings"), k=8, threshold=0.35, iters=2
    ).orderBy("vec_id")


def q_semdedup_oracle():
    from .operators.embeddings import semdedup_sql

    return ("SELECT * FROM ("
            + semdedup_sql(k=8, dim=64, threshold=0.35, iters=2)
            + ") ORDER BY vec_id")


QUERIES["semdedup"] = (q_semdedup, q_semdedup_oracle)


def q_adaptive_threshold(spark, sf_dir):
    """Bradley-Roth adaptive binarization (terrain.
    adaptive_threshold_tiles, 9x9 window, t=15%): integral-image box
    sums over the halo on the Spark side; the oracle computes the same
    extent-clamped box sums with two separable 1-D window-frame passes
    — all-integer, per-tile weighted checksums."""
    from .raster.grid import GridGeometry
    from .raster.terrain import adaptive_threshold_tiles

    W, H, TS = 500, 300, 64
    tiles = _formula_tiles(spark, W, H, bands=1, tile_size=TS)
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    out = adaptive_threshold_tiles(tiles, gg, radius=4, t_pct=15, tile_size=TS)

    return _tile_checksums(out, W, H, TS, "cs_at").orderBy("tx", "ty")


def q_adaptive_threshold_oracle():
    return """
WITH px AS (
  SELECT x.x AS x, y.y AS y, ((x.x * 7 + y.y * 13) % 256) AS v
  FROM generate_series(0, 499) x(x), generate_series(0, 299) y(y)),
rowpass AS (
  SELECT x, y, v,
         sum(v) OVER (PARTITION BY y ORDER BY x
                      ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING) AS rs,
         count(*) OVER (PARTITION BY y ORDER BY x
                        ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING) AS rc
  FROM px),
boxpass AS (
  SELECT x, y, v,
         sum(rs) OVER (PARTITION BY x ORDER BY y
                       ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING) AS bs,
         sum(rc) OVER (PARTITION BY x ORDER BY y
                       ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING) AS bc
  FROM rowpass),
m AS (
  SELECT x // 64 AS tx, y // 64 AS ty,
         CASE WHEN v * bc * 100 >= bs * 85 THEN 255 ELSE 0 END AS o,
         ((y * 500 + x) % 9973 + 1) AS wt
  FROM boxpass)
SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
       CAST(sum(o * wt) AS BIGINT) AS cs_at
FROM m GROUP BY 1, 2 ORDER BY tx, ty"""


QUERIES["adaptive_threshold"] = (q_adaptive_threshold, q_adaptive_threshold_oracle)


def q_ppr(spark, sf_dir):
    """Personalized PageRank (graph.ppr_exact, d=0.85, 3 iterations,
    seeds = every 50th doc) over the closed-form document link graph:
    random-walk-with-restart relevance in exact floor-div integer
    arithmetic — the related-items score.  Output: top 100 by
    (rank DESC, node)."""
    from .operators.graph import ppr_exact

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("src")
    )
    n = docs.count()
    edges = docs.select(
        "src",
        F.explode(F.array(
            (F.col("src") * 7 + 11) % n,
            (F.col("src") * 13 + 5) % n,
            (F.col("src") * 3 + 1) % n,
        )).alias("dst"),
    ).distinct()
    nodes = docs.select(F.col("src").alias("node"))
    seeds = nodes.filter(F.col("node") % 50 == 0)
    ranks = ppr_exact(edges, nodes, seeds, iters=3, scale=10**12)
    w = Window.orderBy(F.col("rank").desc(), F.col("node").asc())
    return (
        ranks.withColumn("pos", F.row_number().over(w).cast("long"))
        .filter(F.col("pos") <= 100)
        .select("pos", "node", "rank")
        .orderBy("pos")
    )


def q_ppr_oracle():
    S = 10**12
    blocks = ["""nn AS (SELECT count(*) AS n FROM documents),
nodes AS (SELECT CAST(doc_id AS BIGINT) AS node FROM documents),
seeds AS (SELECT node FROM nodes WHERE node % 50 = 0),
ns AS (SELECT count(*) AS m FROM seeds),
e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT CAST(doc_id AS BIGINT) AS src, (CAST(doc_id AS BIGINT) * 7 + 11) % nn.n AS dst FROM documents, nn
    UNION ALL
    SELECT CAST(doc_id AS BIGINT), (CAST(doc_id AS BIGINT) * 13 + 5) % nn.n FROM documents, nn
    UNION ALL
    SELECT CAST(doc_id AS BIGINT), (CAST(doc_id AS BIGINT) * 3 + 1) % nn.n FROM documents, nn)),
deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
r0 AS (
  SELECT nodes.node,
         CASE WHEN seeds.node IS NOT NULL THEN {S} // ns.m ELSE 0 END AS rank
  FROM nodes LEFT JOIN seeds ON seeds.node = nodes.node, ns)""".format(S=S)]
    for i in range(3):
        blocks.append(f"""c{i + 1} AS (
  SELECT e.dst AS node, sum(r.rank // d.outdeg) AS s
  FROM e JOIN r{i} r ON r.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY 1),
r{i + 1} AS (
  SELECT nodes.node,
         CASE WHEN seeds.node IS NOT NULL
              THEN ({S} * 15) // (100 * ns.m) ELSE 0 END
         + (85 * COALESCE(c.s, 0)) // 100 AS rank
  FROM nodes LEFT JOIN c{i + 1} c ON c.node = nodes.node
       LEFT JOIN seeds ON seeds.node = nodes.node, ns)""")
    return "WITH " + ",\n".join(blocks) + """
SELECT pos, node, CAST(rank AS BIGINT) AS rank FROM (
  SELECT node, rank,
         CAST(row_number() OVER (ORDER BY rank DESC, node ASC) AS BIGINT) AS pos
  FROM r3) t
WHERE pos <= 100 ORDER BY pos"""


QUERIES["ppr"] = (q_ppr, q_ppr_oracle)


def q_dp_counts(spark, sf_dir):
    """Differentially-private histogram release (quality.dp_counts,
    Laplace b=2): geohash-cell visit counts from events with
    derandomized inverse-CDF noise — the private-telemetry shape; the
    md5-driven draw makes the release rerun-stable and oracle-exact."""
    from .operators.quality import dp_counts

    pts = _events_points(spark, sf_dir)
    cells = pts.select(
        (F.floor(F.col("lon")).cast("long") * 1000
         + F.floor(F.col("lat")).cast("long")).alias("cell")
    )
    return dp_counts(cells, "cell", b="2.0E0").orderBy("key")


def q_dp_counts_oracle():
    from .operators.quality import dp_counts_sql

    base = ("SELECT CAST(floor(lon) AS BIGINT) * 1000 "
            "+ CAST(floor(lat) AS BIGINT) AS cell FROM ("
            + _points_sql() + ") p")
    return ("SELECT * FROM (" + dp_counts_sql(base, "cell", b="2.0E0")
            + ") ORDER BY key")


QUERIES["dp_counts"] = (q_dp_counts, q_dp_counts_oracle)


def q_mst(spark, sf_dir):
    """Minimum spanning forest (graph.boruvka_mst, Boruvka rounds) over
    a closed-form cluster graph on documents (62+ clusters of <= 8 nodes,
    chain + chord edges, modular weights with heavy ties): the
    single-linkage clustering primitive.  The (w, u, v) total order makes
    the forest unique, so the oracle replays Boruvka as chained
    MATERIALIZED CTEs and must produce the identical edge set."""
    from .operators.graph import boruvka_mst

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("i")
    )
    n = docs.count()
    i = F.col("i")
    parts = []
    for off in (1, 2, 5):
        parts.append(
            docs.filter((i % 8 + off < 8) & (i + off < n)).select(
                i.alias("a"),
                (i + off).alias("b"),
                ((i * 73 + (i + off) * 31) % 97 + 1).alias("w"),
            )
        )
    edges = parts[0].union(parts[1]).union(parts[2])
    return boruvka_mst(edges).orderBy("u", "v")


def q_mst_oracle():
    from .operators.graph import boruvka_sql

    edges = """
SELECT i AS a, i + o AS b, (i * 73 + (i + o) * 31) % 97 + 1 AS w
FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents) d,
     (SELECT unnest([1, 2, 5]) AS o) offs
WHERE i % 8 + o < 8 AND i + o < (SELECT count(*) FROM documents)"""
    return (
        "SELECT * FROM ("
        + boruvka_sql(edges, outer_rounds=4, cc_rounds=5)
        + ") ORDER BY u, v"
    )


QUERIES["mst"] = (q_mst, q_mst_oracle)


def q_chaikin(spark, sf_dir):
    """Chaikin corner-cutting smoothing (trajectory.chaikin_smooth, 2
    rounds) of per-user GPS tracks (30-point cap, 1e3-quantized
    coords): exact dyadic quarter-point arithmetic in 16x-scaled
    integer units, replayed bit-for-bit by the oracle's lead() rounds."""
    from .operators.trajectory import chaikin_smooth

    lon, lat = point_lonlat_cols("event_id")
    w = Window.partitionBy("k").orderBy("event_id")
    pts = (
        _read(spark, sf_dir, "events")
        .select(
            F.col("user_id").alias("k"),
            "event_id",
            F.floor(lon * 1e3 + float(_FRECHET_Q)).cast("long").alias("x"),
            F.floor(lat * 1e3 + float(_FRECHET_Q)).cast("long").alias("y"),
        )
        .withColumn("o", F.row_number().over(w))
        .filter(F.col("o") <= _FRECHET_CAP)
    )
    return chaikin_smooth(pts, rounds=2).orderBy("k", "pos")


def q_chaikin_oracle():
    from .operators.trajectory import chaikin_sql

    pts = f"""
SELECT k, o, x, y FROM (
  SELECT user_id AS k, event_id AS o,
         CAST(floor(({synth.point_lon_sql('event_id')}) * 1.0e3
                    + {_FRECHET_Q}) AS BIGINT) AS x,
         CAST(floor(({synth.point_lat_sql('event_id')}) * 1.0e3
                    + {_FRECHET_Q}) AS BIGINT) AS y,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events) t
WHERE rn <= {_FRECHET_CAP}"""
    return (
        "SELECT * FROM ("
        + chaikin_sql(pts, rounds=2)
        + ") ORDER BY k, pos"
    )


QUERIES["chaikin"] = (q_chaikin, q_chaikin_oracle)


def q_radius_gyration(spark, sf_dir):
    """Radius of gyration per user (trajectory.radius_gyration): the
    mobility-range scale as the exact rational rg^2 = rg2_num/n^2 over
    1e3-quantized event coordinates — one map-side-combinable agg."""
    from .operators.trajectory import radius_gyration

    lon, lat = point_lonlat_cols("event_id")
    pts = _read(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        F.floor(lon * 1e3 + float(_FRECHET_Q)).cast("long").alias("x"),
        F.floor(lat * 1e3 + float(_FRECHET_Q)).cast("long").alias("y"),
    )
    return radius_gyration(pts).orderBy("k")


def q_radius_gyration_oracle():
    from .operators.trajectory import radius_gyration_sql

    pts = f"""
SELECT user_id AS k,
       CAST(floor(({synth.point_lon_sql('event_id')}) * 1.0e3
                  + {_FRECHET_Q}) AS BIGINT) AS x,
       CAST(floor(({synth.point_lat_sql('event_id')}) * 1.0e3
                  + {_FRECHET_Q}) AS BIGINT) AS y
FROM events"""
    return (
        "SELECT * FROM (" + radius_gyration_sql(pts) + ") ORDER BY k"
    )


QUERIES["radius_gyration"] = (q_radius_gyration, q_radius_gyration_oracle)


def q_anova_f(spark, sf_dir):
    """One-way ANOVA (analytics.anova_f, q=1024) of order-key residues
    across order priorities: exact integer SSB/SSW decomposition and
    the F statistic as a rational pair — the distributed
    group-difference test."""
    from .operators.analytics import anova_f

    orders = _read(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        (F.col("o_orderkey") % 1000).cast("long").alias("v"),
    )
    return anova_f(orders, "g", "v")


def q_anova_f_oracle():
    from .operators.analytics import anova_f_sql

    return anova_f_sql(
        "SELECT o_orderpriority AS g, o_orderkey % 1000 AS v FROM orders",
        "g", "v",
    )


QUERIES["anova_f"] = (q_anova_f, q_anova_f_oracle)


def q_fdr_bh(spark, sf_dir):
    """Benjamini-Hochberg FDR control (analytics.fdr_bh, alpha=0.05)
    over 2^20-quantized p-values on parts — uniform nulls from the md5
    draw with a planted small-p subset (every 40th part), the step-up
    rule as exact integer cross-comparisons."""
    from .operators.analytics import fdr_bh
    from .operators.sampling import hash_u60

    parts = _read(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("id"),
        F.when(
            F.col("p_partkey") % 40 == 0, F.col("p_partkey") % 797
        ).otherwise(
            hash_u60(F.col("p_partkey"), "pval") % (1 << 20)
        ).cast("long").alias("p"),
    )
    return fdr_bh(parts, "id", "p").orderBy("i")


def q_fdr_bh_oracle():
    from .operators.analytics import fdr_bh_sql
    from .operators.sampling import hash_u60_sql

    h = hash_u60_sql("p_partkey", "pval")
    base = f"""
SELECT CAST(p_partkey AS BIGINT) AS id,
       CASE WHEN p_partkey % 40 = 0 THEN CAST(p_partkey % 797 AS BIGINT)
            ELSE {h} % {1 << 20} END AS p
FROM part"""
    return "SELECT * FROM (" + fdr_bh_sql(base) + ") ORDER BY i"


QUERIES["fdr_bh"] = (q_fdr_bh, q_fdr_bh_oracle)


def q_ams_f2(spark, sf_dir):
    """AMS tug-of-war F2 sketch (sketches.ams_f2, 16 estimators) of the
    per-user event frequency vector: derandomized md5 signs, so every
    Z_j and Z_j^2 is oracle-exact — the join-size / skew estimator."""
    from .operators.sketches import ams_f2

    ev = _read(spark, sf_dir, "events").select("user_id")
    return ams_f2(ev, "user_id", reps=16).orderBy("rep")


def q_ams_f2_oracle():
    from .operators.sketches import ams_f2_sql

    return (
        "SELECT * FROM ("
        + ams_f2_sql("SELECT user_id FROM events", "user_id", reps=16)
        + ") ORDER BY rep"
    )


QUERIES["ams_f2"] = (q_ams_f2, q_ams_f2_oracle)


def q_join_counts(spark, sf_dir):
    """Join-count statistics (tiles.join_counts_tiles, rook adjacency,
    threshold 128) of the 512x256 quadratic texture raster: BB/WW/BW
    adjacent-pair counts plus pixel totals in one O(perimeter)-seam
    pass — the binary-map spatial autocorrelation test."""
    from .raster.tiles import join_counts_tiles

    tiles = _texture_tiles(spark, 512, 256)
    return join_counts_tiles(tiles, thresh=128)


def q_join_counts_oracle():
    v = _texture_v_sql("x.x", "y.y")
    return f"""
WITH lab AS (
  SELECT x.x AS px, y.y AS py,
         CASE WHEN ({v}) >= 128 THEN 1 ELSE 0 END AS b
  FROM generate_series(0, 511) x(x), generate_series(0, 255) y(y)),
pairs AS (
  SELECT a.b AS ba, c.b AS bc
  FROM lab a JOIN lab c ON c.px = a.px + 1 AND c.py = a.py
  UNION ALL
  SELECT a.b, c.b
  FROM lab a JOIN lab c ON c.px = a.px AND c.py = a.py + 1),
cnt AS (
  SELECT sum(CASE WHEN ba = 1 AND bc = 1 THEN 1 ELSE 0 END) AS bb,
         sum(CASE WHEN ba = 0 AND bc = 0 THEN 1 ELSE 0 END) AS ww,
         sum(CASE WHEN ba <> bc THEN 1 ELSE 0 END) AS bw
  FROM pairs),
tot AS (SELECT sum(b) AS n1, count(*) - sum(b) AS n0 FROM lab)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
       CAST(bb AS BIGINT) AS bb, CAST(ww AS BIGINT) AS ww,
       CAST(bw AS BIGINT) AS bw, CAST(bb + ww + bw AS BIGINT) AS m
FROM cnt, tot"""


QUERIES["join_counts"] = (q_join_counts, q_join_counts_oracle)


def q_sinusoidal(spark, sf_dir):
    """WGS84 -> sphere sinusoidal (ESRI:53008, Sanson-Flamsteed — the
    equal-area pseudocylindrical of the MODIS grid).  Same floor-shift
    discipline as `polar_stereo`/`albers`; whole-sphere domain, no cut
    needed."""
    from .functions.projections import st_transform_any_udf

    pts = _events_points(spark, sf_dir)
    p = st_transform_any_udf("EPSG:4326", "ESRI:53008")(
        F.col("lon"), F.col("lat")
    )
    return pts.select(
        "event_id",
        F.floor(p["x"] - F.lit(0.123456789)).cast("long").alias("xl"),
        F.floor(p["y"] - F.lit(0.123456789)).cast("long").alias("yl"),
    ).orderBy("event_id")


def q_sinusoidal_oracle():
    from .functions.projections import CRS_REGISTRY

    p = CRS_REGISTRY["ESRI:53008"]
    R = synth.flit(p.R)
    lam = "(radians(lon - 0.0))"
    phi = "(radians(lat))"
    x = f"({R} * {lam} * cos({phi}))"
    y = f"({R} * {phi})"
    return f"""
SELECT event_id,
  CAST(floor({x} - 0.123456789) AS BIGINT) AS xl,
  CAST(floor({y} - 0.123456789) AS BIGINT) AS yl
FROM ({_points_sql()}) p
ORDER BY event_id"""


QUERIES["sinusoidal"] = (q_sinusoidal, q_sinusoidal_oracle)


def q_scc(spark, sf_dir):
    """Strongly connected components (graph.scc, FB-coloring peel) of a
    closed-form directed graph on documents: 5-cycles per cluster plus
    DAG cross edges pairing even->odd clusters — 100 SCCs at sf0.01,
    resolved in one peel because ids increase along the condensation.
    The oracle labels by mutual reachability over one recursive
    closure, a completely different algorithm."""
    from .operators.graph import scc

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("i")
    )
    n = docs.count()
    i = F.col("i")
    cyc = docs.select(
        i.alias("src"),
        (5 * F.expr("i div 5") + (i % 5 + 1) % 5).alias("dst"),
    )
    cross = docs.filter(
        (i % 5 == 2) & (F.expr("i div 5") % 2 == 0) & (i + 5 < n)
    ).select(i.alias("src"), (i + 5).alias("dst"))
    return scc(cyc.union(cross)).orderBy("node")


def q_scc_oracle():
    from .operators.graph import scc_sql

    edges = """
SELECT i AS src, 5 * (i // 5) + (i % 5 + 1) % 5 AS dst
FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents) d
UNION ALL
SELECT i, i + 5
FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents) d
WHERE i % 5 = 2 AND (i // 5) % 2 = 0
  AND i + 5 < (SELECT count(*) FROM documents)"""
    return "SELECT * FROM (" + scc_sql(edges) + ") ORDER BY node"


QUERIES["scc"] = (q_scc, q_scc_oracle)


N_KML_FILES = 8


def _kml_rows(f: int):
    rows = []
    for i in range(6):
        g = f * 100 + i
        rows.append({
            "placemark_id": i, "name": f"p{g}", "kind": "point", "seq": 0,
            "lon": (g * 7 % 720) / 4.0 - 90.0,
            "lat": (g * 13 % 360) / 4.0 - 45.0,
            "alt": None, "ext": {"cat": str(g % 7)},
        })
    for j in range(2):
        for i in range(5):
            g = f * 100 + 50 + j * 10 + i
            rows.append({
                "placemark_id": 6 + j, "name": None, "kind": "line",
                "seq": i,
                "lon": (g * 7 % 720) / 4.0 - 90.0,
                "lat": (g * 13 % 360) / 4.0 - 45.0,
                "alt": float(g), "ext": None,
            })
    return rows


def q_kml_read(spark, sf_dir):
    """The KML store end-to-end under the oracle gate (sources/kml.py,
    OGC KML 2.2 Placemark Point/LineString + ExtendedData): formula
    placemark sets are WRITTEN as real KML documents, the folder is
    read back distributed (each task parses its files), and the oracle
    re-derives every row from the same integer formulas."""
    import os as _os
    import tempfile as _tempfile

    import pandas as _pd

    from .sources.kml import kml_table, write_kml

    d = _os.path.join(_tempfile.gettempdir(), "sis_kml_gate")
    _os.makedirs(d, exist_ok=True)
    paths = []
    for f in range(N_KML_FILES):
        p = _os.path.join(d, f"kml_{f}.kml")
        with open(p, "w") as fh:
            fh.write(write_kml(_pd.DataFrame(_kml_rows(f))))
        paths.append(p)
    df = kml_table(spark, paths)
    return df.select(
        F.regexp_extract("path", r"kml_(\d+)\.kml", 1).cast("int")
        .alias("file_id"),
        "placemark_id", "name", "kind", "seq", "lon", "lat", "alt",
        F.col("ext")["cat"].alias("cat"),
    ).orderBy("file_id", "placemark_id", "seq")


def q_kml_read_oracle():
    return f"""
WITH f AS (SELECT t.f FROM generate_series(0, {N_KML_FILES - 1}) t(f)),
pts AS (
  SELECT f, i AS placemark_id, 'p' || CAST(f * 100 + i AS VARCHAR) AS name,
         'point' AS kind, 0 AS seq, f * 100 + i AS g,
         CAST(NULL AS DOUBLE) AS alt,
         CAST((f * 100 + i) % 7 AS VARCHAR) AS cat
  FROM f, generate_series(0, 5) s(i)
  UNION ALL
  SELECT f, 6 + j, CAST(NULL AS VARCHAR), 'line', i,
         f * 100 + 50 + j * 10 + i,
         CAST(f * 100 + 50 + j * 10 + i AS DOUBLE),
         CAST(NULL AS VARCHAR)
  FROM f, generate_series(0, 1) jj(j), generate_series(0, 4) s(i))
SELECT CAST(f AS INT) AS file_id, CAST(placemark_id AS INT) AS placemark_id,
       name, kind, CAST(seq AS INT) AS seq,
       CAST(g * 7 % 720 AS DOUBLE) / 4.0e0 - 9.0e1 AS lon,
       CAST(g * 13 % 360 AS DOUBLE) / 4.0e0 - 4.5e1 AS lat,
       alt, cat
FROM pts ORDER BY file_id, placemark_id, seq"""


QUERIES["kml_read"] = (q_kml_read, q_kml_read_oracle)


_TRI_DIRS = [
    (100, 0), (92, 38), (71, 71), (38, 92), (0, 100), (-38, 92),
    (-71, 71), (-92, 38), (-100, 0), (-92, -38), (-71, -71), (-38, -92),
    (0, -100), (38, -92), (71, -71), (92, -38),
]


def q_triangulate(spark, sf_dir):
    """Ear-clipping triangulation (functions/triangulate.py) of 60
    closed-form star polygons (6..12 vertices, modular radii): exact
    integer cross-product ear tests, smallest-position clip order (a
    total order, so the fan-out is unique); sum(area2) per key equals
    the shoelace doubled area.  The oracle replays the clip rounds as
    window/anti-join event-loop CTEs."""
    from .functions.triangulate import triangulate

    dirs_x = F.array(*[F.lit(d[0]) for d in _TRI_DIRS])
    dirs_y = F.array(*[F.lit(d[1]) for d in _TRI_DIRS])
    docs = (
        _read(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("k"))
        .filter(F.col("k") < 60)
    )
    k = F.col("k")
    m = (6 + k % 7).alias("m")
    verts = (
        docs.select("k", m)
        .select("k", "m", F.explode(F.sequence(F.lit(0), F.col("m") - 1)).alias("j"))
        .select(
            "k",
            F.col("j").alias("i"),
            (50 + (k * 31 + F.col("j") * 17) % 40).alias("r"),
            F.element_at(dirs_x, (16 * F.col("j") / F.col("m")).cast("int") + 1).alias("dx"),
            F.element_at(dirs_y, (16 * F.col("j") / F.col("m")).cast("int") + 1).alias("dy"),
        )
        .select("k", "i", (F.col("r") * F.col("dx")).alias("x"),
                (F.col("r") * F.col("dy")).alias("y"))
    )
    return triangulate(verts, key_col="k").orderBy("key", "i0", "i1", "i2")


def q_triangulate_oracle():
    from .functions.triangulate import triangulate_sql

    dirs = ", ".join(f"({d}, {dx}, {dy})"
                     for d, (dx, dy) in enumerate(_TRI_DIRS))
    pts = f"""
SELECT k AS key, j AS i, r * dx AS x, r * dy AS y FROM (
  SELECT k, j, 50 + (k * 31 + j * 17) % 40 AS r, (16 * j) // m AS d
  FROM (SELECT CAST(doc_id AS BIGINT) AS k, 6 + CAST(doc_id AS BIGINT) % 7 AS m
        FROM documents WHERE doc_id < 60) p,
       generate_series(0, 11) s(j)
  WHERE j < m) v
JOIN (VALUES {dirs}) dirs(d, dx, dy) USING (d)"""
    return (
        "SELECT * FROM ("
        + triangulate_sql(pts, max_rounds=9)
        + ") ORDER BY key, i0, i1, i2"
    )


QUERIES["triangulate"] = (q_triangulate, q_triangulate_oracle)


def q_avg_precision(spark, sf_dir):
    """Average precision / area under the PR curve
    (analytics.average_precision, q=2^20) of a score-correlated planted
    labeling on parts — rank by (score DESC, id), q-quantized precision
    terms at each positive, exact integer sum."""
    from .operators.analytics import average_precision
    from .operators.sampling import hash_u60

    s = (hash_u60(F.col("p_partkey"), "apscore") % 1000).alias("score")
    parts = _read(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("id"),
        s,
        (
            (hash_u60(F.col("p_partkey"), "apscore") % 1000
             + hash_u60(F.col("p_partkey"), "apnoise") % 600) >= 1100
        ).cast("long").alias("y"),
    )
    return average_precision(parts, "id", "score", "y")


def q_avg_precision_oracle():
    from .operators.analytics import average_precision_sql
    from .operators.sampling import hash_u60_sql

    hs = hash_u60_sql("p_partkey", "apscore")
    hn = hash_u60_sql("p_partkey", "apnoise")
    base = f"""
SELECT CAST(p_partkey AS BIGINT) AS id, {hs} % 1000 AS score,
       CASE WHEN {hs} % 1000 + {hn} % 600 >= 1100 THEN 1 ELSE 0 END AS y
FROM part"""
    return average_precision_sql(base)


QUERIES["avg_precision"] = (q_avg_precision, q_avg_precision_oracle)


def q_quadrat_vmr(spark, sf_dir):
    """Quadrat-count index of dispersion (density.quadrat_vmr) over the
    1-degree grid (64800 fixed quadrats): VMR as an exact rational —
    the CSR clustering test; the synthetic events are strongly
    clustered so VMR >> 1."""
    from .operators.density import quadrat_vmr

    pts = _events_points(spark, sf_dir).select(
        F.floor(F.col("lon")).cast("long").alias("qx"),
        F.floor(F.col("lat")).cast("long").alias("qy"),
    )
    return quadrat_vmr(pts, n_quadrats=360 * 180)


def q_quadrat_vmr_oracle():
    from .operators.density import quadrat_vmr_sql

    pts = (
        "SELECT CAST(floor(lon) AS BIGINT) AS qx, "
        "CAST(floor(lat) AS BIGINT) AS qy FROM ("
        + _points_sql() + ") p"
    )
    return quadrat_vmr_sql(pts, n_quadrats=360 * 180)


QUERIES["quadrat_vmr"] = (q_quadrat_vmr, q_quadrat_vmr_oracle)


def q_mollweide(spark, sf_dir):
    """WGS84 -> sphere Mollweide (ESRI:53009): the equal-area world-map
    pseudocylindrical whose auxiliary angle has no closed form — 50
    derandomized bisection rounds solve 2t + sin(2t) = pi*sin(phi)
    identically in both engines (the oracle chains the same rounds as
    CTEs); floor-shift discipline as `polar_stereo`."""
    from .functions.projections import st_transform_any_udf

    pts = _events_points(spark, sf_dir)
    p = st_transform_any_udf("EPSG:4326", "ESRI:53009")(
        F.col("lon"), F.col("lat")
    )
    return pts.select(
        "event_id",
        F.floor(p["x"] - F.lit(0.123456789)).cast("long").alias("xl"),
        F.floor(p["y"] - F.lit(0.123456789)).cast("long").alias("yl"),
    ).orderBy("event_id")


def q_mollweide_oracle():
    import math

    from .functions.projections import CRS_REGISTRY

    p = CRS_REGISTRY["ESRI:53009"]
    pi = synth.flit(math.pi)
    hpi = synth.flit(math.pi / 2.0)
    xc, yc = synth.flit(p._xc), synth.flit(p._yc)
    blocks = [f"""b0 AS (
  SELECT event_id, radians(lon - 0.0) AS lam,
         {pi} * sin(radians(lat)) AS tgt,
         -{hpi} AS lo, {hpi} AS hi
  FROM ({_points_sql()}) p)"""]
    for i in range(p.ROUNDS):
        blocks.append(f"""b{i + 1} AS (
  SELECT event_id, lam, tgt,
         CASE WHEN 2.0 * mid + sin(2.0 * mid) < tgt
              THEN mid ELSE lo END AS lo,
         CASE WHEN 2.0 * mid + sin(2.0 * mid) < tgt
              THEN hi ELSE mid END AS hi
  FROM (SELECT *, (lo + hi) * 0.5 AS mid FROM b{i}) m)""")
    return (
        "WITH " + ",\n".join(blocks) + f"""
SELECT event_id,
  CAST(floor(({xc} * lam * cos((lo + hi) * 0.5)) - 0.123456789)
       AS BIGINT) AS xl,
  CAST(floor(({yc} * sin((lo + hi) * 0.5)) - 0.123456789)
       AS BIGINT) AS yl
FROM b{p.ROUNDS} ORDER BY event_id"""
    )


QUERIES["mollweide"] = (q_mollweide, q_mollweide_oracle)


def q_census_transform(spark, sf_dir):
    """Census transform (terrain.census_tiles — the illumination-
    invariant stereo descriptor) of the 500x300 quadratic texture
    raster: per-pixel 8-bit strict neighbor>center patterns on the
    9-way halo machinery, zero padding; per-tile weighted checksums as
    `median_filter`."""
    from .raster.grid import GridGeometry
    from .raster.terrain import census_tiles

    W, H, TS = 500, 300, 64
    tiles = _texture_tiles(spark, W, H, tile_size=TS)
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    cen = census_tiles(tiles, gg, tile_size=TS)

    return _tile_checksums(cen, W, H, TS, "cs_cen").orderBy("tx", "ty")


def q_census_transform_oracle():
    vc = _texture_v_sql("x", "y")
    terms = []
    bit = 0
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            if dy == 0 and dx == 0:
                continue
            nx, ny = f"x + ({dx})", f"y + ({dy})"
            vn = _texture_v_sql(nx, ny)
            rng = f"{nx} >= 0 AND {nx} < 500 AND {ny} >= 0 AND {ny} < 300"
            terms.append(
                f"CASE WHEN {rng} AND ({vn}) > ({vc}) "
                f"THEN {1 << bit} ELSE 0 END"
            )
            bit += 1
    return f"""
WITH px AS (
  SELECT x.x AS x, y.y AS y
  FROM generate_series(0, 499) x(x), generate_series(0, 299) y(y)),
m AS (
  SELECT x // 64 AS tx, y // 64 AS ty,
         ({" + ".join(terms)}) AS code,
         ((y * 500 + x) % 9973 + 1) AS wt
  FROM px)
SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
       CAST(sum(code * wt) AS BIGINT) AS cs_cen
FROM m GROUP BY 1, 2 ORDER BY tx, ty"""


QUERIES["census_transform"] = (q_census_transform, q_census_transform_oracle)


_BLOCKLIST = ["table", "fast spark", "agg row", "scan scan", "customer",
              "value table part"]


def q_blocklist_counts(spark, sf_dir):
    """Blocklist / dictionary matching (textops.dict_match_counts) over
    documents: per-pattern hit-doc and occurrence totals by exact
    non-overlapping replace counting — the PII/contamination dictionary
    filter, pure codegen."""
    from .operators.textops import dict_match_counts

    docs = _read(spark, sf_dir, "documents")
    return dict_match_counts(docs, "text", _BLOCKLIST).orderBy("pattern")


def q_blocklist_counts_oracle():
    from .operators.textops import dict_match_counts_sql

    return (
        "SELECT * FROM ("
        + dict_match_counts_sql("SELECT text FROM documents", "text",
                                _BLOCKLIST)
        + ") ORDER BY pattern"
    )


QUERIES["blocklist_counts"] = (q_blocklist_counts, q_blocklist_counts_oracle)


def q_betweenness(spark, sf_dir):
    """Sampled-source betweenness centrality (graph.betweenness_q,
    Brandes forward/backward levels, q=2^20, 8 levels) over a ternary
    expander on documents with sources every 100th doc: sigma path
    counts forward, q-fixed-point dependency accumulation backward —
    the influence/bridging score.  Bounded-level semantics like
    shortest_paths; the oracle replays the identical levels."""
    from .operators.graph import betweenness_q

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("i")
    )
    n = docs.count()
    i = F.col("i")
    edges = (
        docs.select(i.alias("src"), ((3 * i + 1) % n).alias("dst"))
        .union(docs.select(i.alias("src"), ((3 * i + 2) % n).alias("dst")))
        .union(docs.select(i.alias("src"), ((3 * i + 3) % n).alias("dst")))
        .filter(F.col("src") != F.col("dst"))
    )
    sources = docs.filter(i % 100 == 0).select(i.alias("node"))
    return betweenness_q(edges, sources, levels=8).orderBy("v")


def q_betweenness_oracle():
    from .operators.graph import betweenness_sql

    edges = """
SELECT i AS src, (3 * i + o) % nn.n AS dst
FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents) d,
     (SELECT unnest([1, 2, 3]) AS o) offs,
     (SELECT count(*) AS n FROM documents) nn
WHERE i <> (3 * i + o) % nn.n"""
    sources = ("SELECT CAST(doc_id AS BIGINT) AS node FROM documents "
               "WHERE doc_id % 100 = 0")
    return (
        "SELECT * FROM ("
        + betweenness_sql(edges, sources, levels=8)
        + ") ORDER BY v"
    )


QUERIES["betweenness"] = (q_betweenness, q_betweenness_oracle)


def _texture_tiles_perturbed(spark, w: int, h: int, tile_size: int = 64):
    """Texture raster plus the deterministic +/-2 sensor-noise field
    ((x*31 + y*17) % 5 - 2, wrapped mod 256) — the 'second exposure'
    for matching gates."""
    import numpy as _np
    import pandas as _pd

    from .raster.tiles import TILE_SCHEMA

    ntx = (w + tile_size - 1) // tile_size
    nty = (h + tile_size - 1) // tile_size
    ids = spark.range(ntx * nty).repartition(
        min(ntx * nty, spark.sparkContext.defaultParallelism)
    )

    def fill(batches):
        gxs = _np.arange(tile_size, dtype=_np.int64)
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                t = int(i)
                tx, ty = t % ntx, t // ntx
                GX, GY = _np.meshgrid(tx * tile_size + gxs,
                                      ty * tile_size + gxs)
                tex = (3 * GX * GX + 7 * GX * GY + 5 * GY * GY
                       + 11 * GX + 13 * GY) % 256
                block = (tex + (GX * 31 + GY * 17) % 5 + 254) % 256
                block = _np.where((GX < w) & (GY < h), block, 0).astype(
                    _np.uint8
                )
                rows.append({"tx": tx, "ty": ty, "band": 0,
                             "data": block.tobytes()})
            yield _pd.DataFrame(rows)

    return ids.mapInPandas(fill, TILE_SCHEMA)


def q_brief_match(spark, sf_dir):
    """BRIEF descriptor matching (terrain.brief_descriptors_tiles +
    imageops.hamming_join_bands): 48-bit binary descriptors at 16-px
    grid keypoints of the 500x300 texture image and its deterministic
    noise-perturbed twin, joined at hamming <= 5 through 8-bit
    pigeonhole bands (no |A|x|B| pairs) — the image-registration
    feature-matching pipeline.  The oracle recomputes every descriptor
    closed-form and cross-joins with an exact popcount (band candidates
    are a superset at d <= bands-1, so the results coincide)."""
    from .raster.grid import GridGeometry
    from .raster.terrain import brief_descriptors_tiles
    from .operators.imageops import hamming_join_bands

    W, H, TS = 500, 300, 64
    gg = GridGeometry((0, 0, W - 1, H - 1),
                      (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    da = brief_descriptors_tiles(
        _texture_tiles(spark, W, H, TS), gg, step=16, margin=8,
        tile_size=TS,
    )
    db = brief_descriptors_tiles(
        _texture_tiles_perturbed(spark, W, H, TS), gg, step=16, margin=8,
        tile_size=TS,
    )
    out = hamming_join_bands(da, db, bits=48, band_bits=8, max_d=5)
    return out.select(
        "a_kx", "a_ky", "b_kx", "b_ky", "d"
    ).orderBy("a_kx", "a_ky", "b_kx", "b_ky")


def q_brief_match_oracle():
    from .raster.terrain import brief_desc_sql

    tex = lambda x, y: _texture_v_sql(x, y)
    per = (lambda x, y: f"((({_texture_v_sql(x, y)}) + (({x}) * 31 "
           f"+ ({y}) * 17) % 5 + 254) % 256)")
    da = brief_desc_sql(tex)
    db = brief_desc_sql(per)
    return f"""
WITH kp AS (
  SELECT x.kx, y.ky
  FROM generate_series(16, 491, 16) x(kx),
       generate_series(16, 291, 16) y(ky)),
a AS (SELECT kx, ky, {da} AS desc FROM kp),
b AS (SELECT kx, ky, {db} AS desc FROM kp)
SELECT a.kx AS a_kx, a.ky AS a_ky, b.kx AS b_kx, b.ky AS b_ky,
       CAST(bit_count(xor(a.desc, b.desc)) AS BIGINT) AS d
FROM a, b
WHERE bit_count(xor(a.desc, b.desc)) <= 5
ORDER BY a_kx, a_ky, b_kx, b_ky"""


QUERIES["brief_match"] = (q_brief_match, q_brief_match_oracle)


def q_polylabel(spark, sf_dir):
    """Pole of inaccessibility (functions/polylabel.py — the Mapbox
    polylabel quadtree search, level-synchronous and pruned) for 40
    closed-form star polygons, depth 6: signed distance via shared
    integer-branch/double-value expressions, exact even-odd ray cast,
    argmax cell center with (dq DESC, cx, cy) ties.  The oracle chains
    the identical levels as CTEs."""
    from .functions.polylabel import polylabel

    dirs_x = F.array(*[F.lit(d[0]) for d in _TRI_DIRS])
    dirs_y = F.array(*[F.lit(d[1]) for d in _TRI_DIRS])
    docs = (
        _read(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("k"))
        .filter(F.col("k") < 40)
    )
    k = F.col("k")
    verts = (
        docs.select("k", (6 + k % 7).alias("m"))
        .select("k", "m",
                F.explode(F.sequence(F.lit(0), F.col("m") - 1)).alias("j"))
        .select(
            "k", "m", "j",
            (50 + (k * 31 + F.col("j") * 17) % 40).alias("r"),
            F.element_at(dirs_x, (16 * F.col("j") / F.col("m")).cast("int") + 1).alias("dx"),
            F.element_at(dirs_y, (16 * F.col("j") / F.col("m")).cast("int") + 1).alias("dy"),
        )
        .select("k", "m", "j", (F.col("r") * F.col("dx")).alias("x"),
                (F.col("r") * F.col("dy")).alias("y"))
    )
    w = Window.partitionBy("k").orderBy("j")
    edges = (
        verts.withColumn("nx", F.lead("x").over(w))
        .withColumn("ny", F.lead("y").over(w))
        .withColumn("fx", F.first("x").over(w))
        .withColumn("fy", F.first("y").over(w))
        .select(
            F.col("k").alias("key"),
            F.col("x").alias("ax"), F.col("y").alias("ay"),
            F.coalesce("nx", "fx").alias("bx"),
            F.coalesce("ny", "fy").alias("by"),
        )
    )
    return polylabel(edges, depth=6).orderBy("key")


def q_polylabel_oracle():
    from .functions.polylabel import polylabel_sql

    dirs = ", ".join(f"({d}, {dx}, {dy})"
                     for d, (dx, dy) in enumerate(_TRI_DIRS))
    edges = f"""
SELECT key, ax, ay,
       coalesce(lead(ax) OVER w, first_value(ax) OVER w) AS bx,
       coalesce(lead(ay) OVER w, first_value(ay) OVER w) AS by
FROM (
  SELECT k AS key, j, r * dx AS ax, r * dy AS ay FROM (
    SELECT k, j, 50 + (k * 31 + j * 17) % 40 AS r, (16 * j) // m AS d, m
    FROM (SELECT CAST(doc_id AS BIGINT) AS k,
                 6 + CAST(doc_id AS BIGINT) % 7 AS m
          FROM documents WHERE doc_id < 40) p,
         generate_series(0, 11) s(j)
    WHERE j < m) v
  JOIN (VALUES {dirs}) dirs(d, dx, dy) USING (d)) pts
WINDOW w AS (PARTITION BY key ORDER BY j
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"""
    return (
        "SELECT * FROM ("
        + polylabel_sql(edges, depth=6)
        + ") ORDER BY key"
    )


QUERIES["polylabel"] = (q_polylabel, q_polylabel_oracle)


# ====================================================== seventeenth sitting

_CUSUM_K = 5000   # drift allowance in value-cents (just above the mean)
_CUSUM_H = 20000  # alarm threshold


def q_cusum(spark, sf_dir):
    """One-sided CUSUM control chart (timeseries.cusum_chart) over per-user
    event value-cents: the Page recurrence C_t = max(0, C_{t-1} + x_t - k)
    computed WITHOUT a recurrence via the prefix-sum identity
    C_t = S_t - min(0, min_{j<=t} S_j) — two pure-codegen window passes
    sharing one exchange; the oracle runs the identical integer windows."""
    from .operators.timeseries import cusum_chart

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("x"),
    )
    return cusum_chart(ev, k=_CUSUM_K, h=_CUSUM_H).orderBy("user_id", "rn")


def q_cusum_oracle():
    from .operators.timeseries import cusum_chart_sql

    base = (
        "SELECT user_id, ts, event_id, "
        "CAST(floor(value * 100) AS BIGINT) AS x FROM events"
    )
    return (
        "SELECT * FROM ("
        + cusum_chart_sql(base, k=_CUSUM_K, h=_CUSUM_H)
        + ") ORDER BY user_id, rn"
    )


QUERIES["cusum"] = (q_cusum, q_cusum_oracle)


def q_hull_diameter(spark, sf_dir):
    """Per-user point-set diameter (max pairwise squared distance) via the
    convex hull: the engine reduces each track to its hull vertex set
    (trajectory.convex_hull_vertices, exact int64 monotone chain) and
    scans only hull-vertex pairs — O(h^2) per key instead of O(n^2); the
    oracle exploits the IDENTITY diameter(S) = diameter(hull(S)) and
    brute-forces ALL point pairs, so hull correctness is re-verified from
    the other side.  Tie-break: smallest (ax, ay, bx, by) among pairs
    achieving the max, with a < b lexicographically."""
    from .operators.trajectory import convex_hull_vertices

    pts = _traj_pts_df(spark, sf_dir, cap=20).select(
        F.col("user_id").alias("k"), F.col("qx").alias("x"), F.col("qy").alias("y"),
    )
    hull = convex_hull_vertices(pts)
    a = hull.select(F.col("k"), F.col("x").alias("ax"), F.col("y").alias("ay"))
    b = hull.select(F.col("k"), F.col("x").alias("bx"), F.col("y").alias("by"))
    pairs = a.join(b, "k").filter(
        (F.col("ax") < F.col("bx"))
        | ((F.col("ax") == F.col("bx")) & (F.col("ay") < F.col("by")))
    ).withColumn(
        "d2",
        (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
        + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by")),
    )
    w = Window.partitionBy("k").orderBy(
        F.col("d2").desc(), "ax", "ay", "bx", "by"
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("k", "d2", "ax", "ay", "bx", "by")
        .orderBy("k")
    )


def q_hull_diameter_oracle():
    base = _traj_pts_sql(cap=20)
    return f"""
WITH p AS (SELECT DISTINCT k, x, y FROM ({base}) tp),
pairs AS (
  SELECT a.k,
         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2,
         a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by
  FROM p a JOIN p b
    ON a.k = b.k AND (a.x < b.x OR (a.x = b.x AND a.y < b.y)))
SELECT k, d2, ax, ay, bx, by FROM (
  SELECT *, row_number() OVER (PARTITION BY k
      ORDER BY d2 DESC, ax, ay, bx, by) AS rn FROM pairs) r
WHERE rn = 1 ORDER BY k"""


QUERIES["hull_diameter"] = (q_hull_diameter, q_hull_diameter_oracle)


_TREE_FANOUT = 4  # synthetic hierarchy: parent(node) = node // 4, roots 1..3
_TREE_DEPTH = 6   # 4^6 > 2000 = max p_partkey


def q_tree_rollup(spark, sf_dir):
    """Hierarchy subtree roll-up (BOM-explosion aggregate) over a synthetic
    part tree parent(p) = p // 4: for every node, the sum of retail cents
    and the count over ALL descendants including itself.  Join-free: each
    row explodes its O(log n) ancestor chain (closed-form divisions, the
    cell-ancestor discipline of spatial_join_compact) and one partial agg
    groups by ancestor — no iteration, no self-join, scales as
    O(n log n) exploded rows.  The oracle unions one SELECT per level."""
    p = _read(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("node"),
        F.floor(F.col("p_retailprice") * 100).cast("long").alias("cents"),
    )
    ancs = F.array(*[
        (F.col("node") / F.lit(_TREE_FANOUT ** L)).cast("long")
        for L in range(_TREE_DEPTH + 1)
    ])
    return (
        p.select("node", "cents", F.explode(ancs).alias("anc"))
        .filter(F.col("anc") >= 1)
        .groupBy("anc")
        .agg(
            F.sum("cents").alias("subtree_cents"),
            F.count(F.lit(1)).alias("n_desc"),
        )
        .orderBy("anc")
    )


def q_tree_rollup_oracle():
    levels = " UNION ALL ".join(
        f"SELECT CAST(p_partkey AS BIGINT) // {_TREE_FANOUT ** L} AS anc, "
        f"CAST(floor(p_retailprice * 100) AS BIGINT) AS cents FROM part "
        f"WHERE CAST(p_partkey AS BIGINT) // {_TREE_FANOUT ** L} >= 1"
        for L in range(_TREE_DEPTH + 1)
    )
    return (
        f"SELECT anc, sum(cents) AS subtree_cents, count(*) AS n_desc "
        f"FROM ({levels}) lv GROUP BY anc ORDER BY anc"
    )


QUERIES["tree_rollup"] = (q_tree_rollup, q_tree_rollup_oracle)


_FH_BUCKETS = 64


def q_feature_hash(spark, sf_dir):
    """Hashing-trick feature vectors (Weinberger et al. 2009, public
    literature): each document's tokens map to bucket = u60(token) mod 64
    with a +-1 sign from an independent hash bit, summed per (doc,
    bucket) — the collision-unbiased sparse featurizer used at
    training-data scale.  Pure codegen (split/explode/md5/pmod), one
    partial agg; the oracle replays the identical md5-derived buckets."""
    from .operators.sampling import hash_u60

    docs = _read(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
    )
    return (
        tok.withColumn("bucket", F.pmod(hash_u60(F.col("t"), "fh-b"), F.lit(_FH_BUCKETS)))
        .withColumn("sgn", F.pmod(hash_u60(F.col("t"), "fh-s"), F.lit(2)) * 2 - 1)
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sgn").alias("val"))
        .orderBy("doc_id", "bucket")
    )


def q_feature_hash_oracle():
    from .operators.sampling import hash_u60_sql

    b = hash_u60_sql("t", "fh-b")
    s = hash_u60_sql("t", "fh-s")
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
SELECT doc_id,
       (({b}) % {_FH_BUCKETS} + {_FH_BUCKETS}) % {_FH_BUCKETS} AS bucket,
       sum((({s}) % 2 + 2) % 2 * 2 - 1) AS val
FROM tok GROUP BY 1, 2 ORDER BY doc_id, bucket"""


QUERIES["feature_hash"] = (q_feature_hash, q_feature_hash_oracle)


_ANN_CELL = 20000  # all-NN grid side: 2 degrees at the 1e4 quantization


def q_all_nn(spark, sf_dir):
    """Exact all-pairs nearest neighbor (density.all_nearest_neighbors)
    over quantized customer points — the Clark-Evans building block: per
    point the closest other point, ties by id, with the CORRECTED integer
    sqrt (floor(sqrt) fixed up by integer comparison so perfect squares
    cannot straddle a libm boundary).  Engine certifies each NN from
    doubling grid-block rounds (best_d2 < boundary-clearance^2); the
    oracle is the brute self-join definition."""
    from .operators.density import all_nearest_neighbors

    c = _read(spark, sf_dir, "customer")
    lon, lat = point_lonlat_cols("c_custkey")
    pts = c.select(
        F.col("c_custkey").cast("long").alias("id"),
        F.floor(lon * 1e4).cast("long").alias("qx"),
        F.floor(lat * 1e4).cast("long").alias("qy"),
    )
    return all_nearest_neighbors(pts, cell=_ANN_CELL).orderBy("id")


def q_all_nn_oracle():
    from .operators.density import all_nearest_neighbors_sql

    base = (
        "SELECT CAST(c_custkey AS BIGINT) AS id, "
        f"CAST(floor(({synth.point_lon_sql('c_custkey')}) * 1.0e4) AS BIGINT) AS qx, "
        f"CAST(floor(({synth.point_lat_sql('c_custkey')}) * 1.0e4) AS BIGINT) AS qy "
        "FROM customer"
    )
    return (
        "SELECT * FROM (" + all_nearest_neighbors_sql(base) + ") ORDER BY id"
    )


QUERIES["all_nn"] = (q_all_nn, q_all_nn_oracle)


_SFCA_RADIUS = 30000  # 3 degrees at the 1e4 quantization
_SFCA_FKEY = "(s_suppkey * 131 + 7)"


def q_catchment_2sfca(spark, sf_dir):
    """Two-step floating catchment accessibility (density.catchment_2sfca):
    suppliers as capacity-weighted facilities, customers as population —
    R_j = floor(supply * 2^30 / served population), A_i = sum of R_j over
    reachable facilities.  One bounded 3x3-ring distance join feeds both
    steps; the oracle brute-forces the radius joins and replays the same
    integer floor ratios."""
    from .operators.density import catchment_2sfca

    s = _read(spark, sf_dir, "supplier")
    flon, flat = point_lonlat_cols(_SFCA_FKEY)
    fac = s.select(
        F.col("s_suppkey").cast("long").alias("f_id"),
        F.floor(flon * 1e4).cast("long").alias("x"),
        F.floor(flat * 1e4).cast("long").alias("y"),
        (F.col("s_suppkey") % 20 + 5).cast("long").alias("supply"),
    )
    c = _read(spark, sf_dir, "customer")
    dlon, dlat = point_lonlat_cols("c_custkey")
    dem = c.select(
        F.col("c_custkey").cast("long").alias("d_id"),
        F.floor(dlon * 1e4).cast("long").alias("x"),
        F.floor(dlat * 1e4).cast("long").alias("y"),
        (F.col("c_custkey") % 7 + 1).cast("long").alias("pop"),
    )
    return catchment_2sfca(fac, dem, radius=_SFCA_RADIUS).orderBy("d_id")


def q_catchment_2sfca_oracle():
    from .operators.density import catchment_2sfca_sql

    fac = (
        "SELECT CAST(s_suppkey AS BIGINT) AS f_id, "
        f"CAST(floor(({synth.point_lon_sql(_SFCA_FKEY)}) * 1.0e4) AS BIGINT) AS x, "
        f"CAST(floor(({synth.point_lat_sql(_SFCA_FKEY)}) * 1.0e4) AS BIGINT) AS y, "
        "CAST(s_suppkey % 20 + 5 AS BIGINT) AS supply FROM supplier"
    )
    dem = (
        "SELECT CAST(c_custkey AS BIGINT) AS d_id, "
        f"CAST(floor(({synth.point_lon_sql('c_custkey')}) * 1.0e4) AS BIGINT) AS x, "
        f"CAST(floor(({synth.point_lat_sql('c_custkey')}) * 1.0e4) AS BIGINT) AS y, "
        "CAST(c_custkey % 7 + 1 AS BIGINT) AS pop FROM customer"
    )
    return (
        "SELECT * FROM ("
        + catchment_2sfca_sql(fac, dem, radius=_SFCA_RADIUS)
        + ") ORDER BY d_id"
    )


QUERIES["catchment_2sfca"] = (q_catchment_2sfca, q_catchment_2sfca_oracle)


# front-hemisphere cut for the orthographic gate: shared-text cos(c)
# expression; the threshold keeps an irrational margin from every point's
# cos(c) (measured 1.5e-3 at sf0.01, 3.1e-4 at sf0.1 vs ~1e-16 libm drift)
_ORTHO_COSC = (
    "(sin(radians(45.0)) * sin(radians(lat)) + cos(radians(45.0)) * "
    "cos(radians(lat)) * cos(radians(lon - 10.0)))"
)
_ORTHO_THR = 0.001234567891


def q_orthographic(spark, sf_dir):
    """WGS84 -> sphere orthographic, oblique aspect centered (10E, 45N)
    (Snyder §20 — the hemisphere view): the front-hemisphere cut is the
    SHARED-TEXT cos(c) expression evaluated by each engine with an
    irrational-threshold margin, the coordinates follow the
    floor-shift discipline of `sinusoidal`/`mollweide`."""
    from .functions.projections import st_transform_any_udf

    pts = _events_points(spark, sf_dir)
    p = st_transform_any_udf("EPSG:4326", "ESRI:53044:EU")(
        F.col("lon"), F.col("lat")
    )
    return (
        pts.filter(F.expr(_ORTHO_COSC) >= F.lit(_ORTHO_THR))
        .select(
            "event_id",
            F.floor(p["x"] - F.lit(0.123456789)).cast("long").alias("xl"),
            F.floor(p["y"] - F.lit(0.123456789)).cast("long").alias("yl"),
        )
        .orderBy("event_id")
    )


def q_orthographic_oracle():
    R = synth.flit(6371000.0)
    lam = "(radians(lon - 10.0))"
    phi = "(radians(lat))"
    x = f"({R} * cos({phi}) * sin({lam}))"
    y = (f"({R} * (cos(radians(45.0)) * sin({phi}) - sin(radians(45.0)) * "
         f"cos({phi}) * cos({lam})))")
    return f"""
SELECT event_id,
  CAST(floor({x} - 0.123456789) AS BIGINT) AS xl,
  CAST(floor({y} - 0.123456789) AS BIGINT) AS yl
FROM ({_points_sql()}) p
WHERE {_ORTHO_COSC} >= {_ORTHO_THR}
ORDER BY event_id"""


QUERIES["orthographic"] = (q_orthographic, q_orthographic_oracle)


def q_aeqd(spark, sf_dir):
    """WGS84 -> sphere azimuthal equidistant centered (10E, 45N) (Snyder
    §25, the range-ring map; whole sphere, no domain cut).  The k =
    c/sin(c) scale factor is the one transcendental division — well-
    conditioned everywhere except the antipode, which no synthetic point
    hits; floor-shift output discipline."""
    from .functions.projections import st_transform_any_udf

    pts = _events_points(spark, sf_dir)
    p = st_transform_any_udf("EPSG:4326", "ESRI:53032:EU")(
        F.col("lon"), F.col("lat")
    )
    return pts.select(
        "event_id",
        F.floor(p["x"] - F.lit(0.123456789)).cast("long").alias("xl"),
        F.floor(p["y"] - F.lit(0.123456789)).cast("long").alias("yl"),
    ).orderBy("event_id")


def q_aeqd_oracle():
    R = synth.flit(6371000.0)
    lam = "(radians(lon - 10.0))"
    phi = "(radians(lat))"
    cosc = (f"(sin(radians(45.0)) * sin({phi}) + cos(radians(45.0)) * "
            f"cos({phi}) * cos({lam}))")
    c = f"(acos(LEAST(GREATEST({cosc}, -1.0), 1.0)))"
    k = f"(CASE WHEN sin({c}) != 0.0 THEN {c} / sin({c}) ELSE 1.0 END)"
    x = f"({R} * {k} * cos({phi}) * sin({lam}))"
    y = (f"({R} * {k} * (cos(radians(45.0)) * sin({phi}) - "
         f"sin(radians(45.0)) * cos({phi}) * cos({lam})))")
    return f"""
SELECT event_id,
  CAST(floor({x} - 0.123456789) AS BIGINT) AS xl,
  CAST(floor({y} - 0.123456789) AS BIGINT) AS yl
FROM ({_points_sql()}) p
ORDER BY event_id"""


QUERIES["aeqd"] = (q_aeqd, q_aeqd_oracle)


def _mis_edges_df(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("i")
    )
    n = docs.count()
    i = F.col("i")
    fwd = docs.select(
        i.alias("a"),
        F.explode(F.array((i * 7 + 11) % n, (i * 13 + 5) % n)).alias("b"),
    )
    sym = fwd.union(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
    return sym.filter(F.col("a") != F.col("b")).distinct(), docs.select(
        F.col("i").alias("node")
    )


def _mis_edges_sql():
    return """
SELECT DISTINCT a, b FROM (
  SELECT i AS a, (i * 7 + 11) % n AS b FROM
    (SELECT CAST(doc_id AS BIGINT) AS i,
            (SELECT count(*) FROM documents) AS n FROM documents) d
  UNION ALL
  SELECT i, (i * 13 + 5) % n FROM
    (SELECT CAST(doc_id AS BIGINT) AS i,
            (SELECT count(*) FROM documents) AS n FROM documents) d
  UNION ALL
  SELECT (i * 7 + 11) % n, i FROM
    (SELECT CAST(doc_id AS BIGINT) AS i,
            (SELECT count(*) FROM documents) AS n FROM documents) d
  UNION ALL
  SELECT (i * 13 + 5) % n, i FROM
    (SELECT CAST(doc_id AS BIGINT) AS i,
            (SELECT count(*) FROM documents) AS n FROM documents) d) e
WHERE a != b"""


def q_luby_mis(spark, sf_dir):
    """Derandomized Luby maximal-independent-set rounds (graph.luby_mis)
    over the symmetrized closed-form document graph: packed
    (multiplicative-hash priority, id) keys make every round a pure
    function of the graph — the oracle unrolls the identical rounds as
    MATERIALIZED CTE blocks.  Output: MIS members with the round each
    joined in."""
    from .operators.graph import luby_mis

    edges, nodes = _mis_edges_df(spark, sf_dir)
    return luby_mis(edges, nodes).orderBy("node")


def q_luby_mis_oracle():
    from .operators.graph import luby_mis_sql

    nodes = "SELECT CAST(doc_id AS BIGINT) AS node FROM documents"
    return (
        "SELECT * FROM ("
        + luby_mis_sql(_mis_edges_sql(), nodes, rounds=12)
        + ") ORDER BY node"
    )


QUERIES["luby_mis"] = (q_luby_mis, q_luby_mis_oracle)


def q_conductance(spark, sf_dir):
    """Per-community conductance (graph.conductance_counts) of the
    hash-block partition label = node % 16 on the document graph —
    cut / min(vol, complement vol) with the exact integer floor
    quantization; the partition-quality twin of the `modularity` gate."""
    from .operators.graph import conductance_counts

    edges, nodes = _mis_edges_df(spark, sf_dir)
    labels = nodes.select("node", (F.col("node") % 16).alias("label"))
    return conductance_counts(edges, labels).orderBy("label")


def q_conductance_oracle():
    from .operators.graph import conductance_sql

    labels = "SELECT CAST(doc_id AS BIGINT) AS node, CAST(doc_id AS BIGINT) % 16 AS label FROM documents"
    return (
        "SELECT * FROM ("
        + conductance_sql(_mis_edges_sql(), labels)
        + ") ORDER BY label"
    )


QUERIES["conductance"] = (q_conductance, q_conductance_oracle)


_KCENTER_K = 8


def q_kcenter(spark, sf_dir):
    """Farthest-first k-center traversal (sampling.kcenter_greedy) over
    quantized customer points — the classic coreset / diversity-selection
    pass for curation: each round updates the running nearest-center
    distance with one narrow map (no join) and takes the global argmax;
    the oracle chains one dist-update + argmax CTE pair per round."""
    from .operators.sampling import kcenter_greedy

    c = _read(spark, sf_dir, "customer")
    lon, lat = point_lonlat_cols("c_custkey")
    pts = c.select(
        F.col("c_custkey").cast("long").alias("id"),
        F.floor(lon * 1e4).cast("long").alias("qx"),
        F.floor(lat * 1e4).cast("long").alias("qy"),
    )
    centers = kcenter_greedy(pts, k=_KCENTER_K)
    return spark.createDataFrame(
        [(int(r), int(i), int(d)) for r, i, d in centers],
        "rank long, id long, d2 long",
    ).orderBy("rank")


def q_kcenter_oracle():
    from .operators.sampling import kcenter_greedy_sql

    base = (
        "SELECT CAST(c_custkey AS BIGINT) AS id, "
        f"CAST(floor(({synth.point_lon_sql('c_custkey')}) * 1.0e4) AS BIGINT) AS qx, "
        f"CAST(floor(({synth.point_lat_sql('c_custkey')}) * 1.0e4) AS BIGINT) AS qy "
        "FROM customer"
    )
    return (
        "SELECT * FROM ("
        + kcenter_greedy_sql(base, k=_KCENTER_K)
        + ") ORDER BY rank"
    )


QUERIES["kcenter"] = (q_kcenter, q_kcenter_oracle)


_LM_NODES = 400  # line-merge grid: 20 x 20 node lattice


def _line_merge_segs_sql():
    """Closed-form segment soup on a 20x20 lattice: seg i joins node
    u = (i*7) % 400 to its right or upper neighbor (odd/even i), edges
    wrapping dropped, deduped on the normalized (u, v)."""
    return f"""
SELECT min(seg_id) AS seg_id, u, v FROM (
  SELECT CAST(doc_id AS BIGINT) AS seg_id,
         (CAST(doc_id AS BIGINT) * 7) % {_LM_NODES} AS u,
         CASE WHEN CAST(doc_id AS BIGINT) % 2 = 1
              THEN (CAST(doc_id AS BIGINT) * 7) % {_LM_NODES} + 1
              ELSE (CAST(doc_id AS BIGINT) * 7) % {_LM_NODES} + 20 END AS v
  FROM documents) s
WHERE v < {_LM_NODES} AND NOT (u % 20 = 19 AND v = u + 1)
GROUP BY u, v"""


def q_line_merge(spark, sf_dir):
    """ST_LineMerge / groupAsPolyline analog (trajectory.line_merge,
    reference F/feature/FeatureOperations.java:297): maximal polylines
    from a closed-form lattice segment soup — paths join only through
    degree-2 nodes, path id = smallest member segment.  The oracle
    recomputes degrees and closes the adjacency with a recursive
    reachability CTE."""
    from .operators.trajectory import line_merge

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("seg_id")
    )
    i = F.col("seg_id")
    raw = docs.select(
        "seg_id",
        ((i * 7) % _LM_NODES).alias("u"),
        F.when(i % 2 == 1, (i * 7) % _LM_NODES + 1)
        .otherwise((i * 7) % _LM_NODES + 20).alias("v"),
    ).filter(
        (F.col("v") < _LM_NODES)
        & ~((F.col("u") % 20 == 19) & (F.col("v") == F.col("u") + 1))
    ).groupBy("u", "v").agg(F.min("seg_id").alias("seg_id"))
    return line_merge(raw).orderBy("seg_id")


def q_line_merge_oracle():
    from .operators.trajectory import line_merge_sql

    return (
        "SELECT * FROM ("
        + line_merge_sql(_line_merge_segs_sql())
        + ") ORDER BY seg_id"
    )


QUERIES["line_merge"] = (q_line_merge, q_line_merge_oracle)


def q_resample_bicubic(spark, sf_dir):
    """Distributed BICUBIC (Catmull-Rom, Keys a=-1/2) warp on the gather
    scale path — same geometry as `resample_bilinear`, src fractions all
    .25/.75 so every 4x4 tap weight and partial sum is an exact dyadic
    (denominator 128 per axis): the oracle replays the 16-tap blend
    verbatim, including rint's round-HALF-TO-EVEN ties and the post-round
    [0,255] clip (bicubic overshoots where bilinear cannot)."""
    import numpy as _np
    import pandas as _pd

    from .raster.grid import GridGeometry
    from .raster.tiles import resample_gather

    SW, SH, DW, DH = 256, 192, 384, 288
    src_gg = GridGeometry((0, 0, SW - 1, SH - 1), (0.0625, 0.0, 0.0, 0.0, -0.0625, 12.0))
    dst_gg = GridGeometry((0, 0, DW - 1, DH - 1), (0.03125, 0.0, 0.5, 0.0, -0.03125, 11.5))
    tiles = _formula_tiles(spark, SW, SH, bands=1)
    out = resample_gather(tiles, src_gg, dst_gg, method="bicubic")

    def chk(batches):
        gxs = _np.arange(64, dtype=_np.int64)
        for pdf in batches:
            rows = []
            for tx, ty, band, data in zip(pdf["tx"], pdf["ty"], pdf["band"], pdf["data"]):
                tx, ty = int(tx), int(ty)
                vh = min(64, DH - ty * 64)
                vw = min(64, DW - tx * 64)
                block = _np.frombuffer(data, dtype=_np.uint8).reshape(64, 64)
                GX, GY = _np.meshgrid(tx * 64 + gxs[:vw], ty * 64 + gxs[:vh])
                v = block[:vh, :vw].astype(_np.int64)
                px = GY * DW + GX
                rows.append({
                    "tx": tx, "ty": ty, "band": int(band),
                    "n": int(vh * vw), "s": int(v.sum()),
                    "ws": int((v * px).sum()),
                })
            if rows:
                yield _pd.DataFrame(rows)

    return out.mapInPandas(
        chk, schema="tx long, ty long, band int, n long, s long, ws long"
    ).orderBy("tx", "ty")


def q_resample_bicubic_oracle():
    # Catmull-Rom weights as named columns; src_frac = 0.5*dst + 7.75 on
    # both axes -> x0 in [7, 199], y0 in [7, 151]: the full 4x4 window is
    # interior (no clamps, no fill).  Exact dyadics end to end.
    def w(m, t):
        if m == -1:
            return f"((-({t}*{t}*{t}) + 2*{t}*{t} - {t}) * 0.5)"
        if m == 0:
            return f"((3*{t}*{t}*{t} - 5*{t}*{t} + 2) * 0.5)"
        if m == 1:
            return f"((-3*{t}*{t}*{t} + 4*{t}*{t} + {t}) * 0.5)"
        return f"(({t}*{t}*{t} - {t}*{t}) * 0.5)"

    def val(i, j):
        return f"CAST(((x0 + {i}) * 7 + (y0 + {j}) * 13) % 256 AS DOUBLE)"

    taps = (-1, 0, 1, 2)
    rows = " + ".join(
        "("
        + " + ".join(val(i, j) + " * " + w(i, "dx") for i in taps)
        + ") * "
        + w(j, "dy")
        for j in taps
    )
    vv = f"({rows})"
    rq = (
        f"CASE WHEN {vv} - floor({vv}) = 0.5"
        f" THEN CAST(floor({vv}) AS BIGINT) + CAST(floor({vv}) AS BIGINT) % 2"
        f" ELSE CAST(round({vv}) AS BIGINT) END"
    )
    cq = f"LEAST(GREATEST({rq}, 0), 255)"
    return f"""
WITH d AS (
  SELECT gx.x AS x, gy.y AS y
  FROM generate_series(0, 383) gx(x), generate_series(0, 287) gy(y)),
f AS (
  SELECT x, y,
         CAST(floor(0.5 * x + 7.75) AS BIGINT) AS x0,
         (0.5 * x + 7.75) - floor(0.5 * x + 7.75) AS dx,
         CAST(floor(0.5 * y + 7.75) AS BIGINT) AS y0,
         (0.5 * y + 7.75) - floor(0.5 * y + 7.75) AS dy
  FROM d),
r AS (SELECT x, y, {cq} AS s FROM f)
SELECT x // 64 AS tx, y // 64 AS ty, CAST(0 AS INT) AS band,
       count(*) AS n, CAST(sum(s) AS BIGINT) AS s,
       CAST(sum(s * (y * 384 + x)) AS BIGINT) AS ws
FROM r GROUP BY 1, 2 ORDER BY tx, ty"""


QUERIES["resample_bicubic"] = (q_resample_bicubic, q_resample_bicubic_oracle)


def q_silhouette(spark, sf_dir):
    """Simplified silhouette clustering diagnostic (embeddings.
    silhouette_simplified) over the k=8 exact-integer k-means of the
    `kmeans_clusters` gate: a / b / floor((b-a)*256 / b) per vector from
    the FINAL centroids — the oracle reuses the kmeans training chain and
    re-finishes from the all-pairs distance block."""
    from .operators.embeddings import silhouette_simplified

    return silhouette_simplified(
        _read(spark, sf_dir, "embeddings"), k=8, iters=2
    ).orderBy("vec_id")


def q_silhouette_oracle():
    from .operators.embeddings import silhouette_sql

    return silhouette_sql(8, 64, 2) + " ORDER BY vec_id"


QUERIES["silhouette"] = (q_silhouette, q_silhouette_oracle)


def q_sq_int8(spark, sf_dir):
    """Int8 scalar quantization with reconstruction audit (embeddings.
    sq_int8_stats): per-dimension min/max training + exact integer
    code/recon/|err| sums per vector — the ANN storage-compression pass;
    pure codegen both sides."""
    from .operators.embeddings import sq_int8_stats

    return sq_int8_stats(_read(spark, sf_dir, "embeddings")).orderBy("vec_id")


def q_sq_int8_oracle():
    from .operators.embeddings import sq_int8_sql

    return "SELECT * FROM (" + sq_int8_sql() + ") ORDER BY vec_id"


QUERIES["sq_int8"] = (q_sq_int8, q_sq_int8_oracle)


def q_robinson(spark, sf_dir):
    """WGS84 -> sphere Robinson (ESRI:53030, Robinson 1974 table with
    piecewise-linear node interpolation — documented variant): every step
    is +-*/ over the shared published constants, no libm beyond
    radians(), so the engines agree bit-for-bit; floor-shift output
    discipline."""
    from .functions.projections import st_transform_any_udf

    pts = _events_points(spark, sf_dir)
    p = st_transform_any_udf("EPSG:4326", "ESRI:53030")(
        F.col("lon"), F.col("lat")
    )
    return pts.select(
        "event_id",
        F.floor(p["x"] - F.lit(0.123456789)).cast("long").alias("xl"),
        F.floor(p["y"] - F.lit(0.123456789)).cast("long").alias("yl"),
    ).orderBy("event_id")


def q_robinson_oracle():
    from .functions.projections import _ROBINSON_PDFE, _ROBINSON_PLEN

    tbl = ", ".join(
        f"({i}, {synth.flit(pl)}, {synth.flit(pd)})"
        for i, (pl, pd) in enumerate(zip(_ROBINSON_PLEN, _ROBINSON_PDFE))
    )
    x = "(0.8487 * 6371000.0 * (r1.pl + (r2.pl - r1.pl) * f.f) * radians(lon - 0.0))"
    y = "(1.3523 * 6371000.0 * (r1.pd + (r2.pd - r1.pd) * f.f) * sign(lat))"
    return f"""
WITH pts AS ({_points_sql()}),
f AS (
  SELECT event_id, lon, lat,
         CAST(LEAST(floor(abs(lat) / 5.0), 17.0) AS BIGINT) AS i,
         (abs(lat) - 5.0 * CAST(LEAST(floor(abs(lat) / 5.0), 17.0) AS BIGINT)) / 5.0 AS f
  FROM pts),
rob(i, pl, pd) AS (VALUES {tbl})
SELECT event_id,
  CAST(floor({x} - 0.123456789) AS BIGINT) AS xl,
  CAST(floor({y} - 0.123456789) AS BIGINT) AS yl
FROM f JOIN rob r1 ON r1.i = f.i JOIN rob r2 ON r2.i = f.i + 1
ORDER BY event_id"""


QUERIES["robinson"] = (q_robinson, q_robinson_oracle)


#: fixed public-style merge table for the encode gate (training is gated
#: separately by `bpe_pair_counts`; every pair has a != b as token strings,
#: so one pair's occurrences can never overlap — see bpe_encode_sql)
_BPE_MERGES = [
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("r", "o"), ("ro", "w"), ("j", "o"), ("jo", "i"), ("joi", "n"),
    ("h", "a"), ("ha", "s"), ("has", "h"), ("s", "c"), ("sc", "a"),
    ("sca", "n"), ("o", "r"), ("e", "r"), ("t", "h"), ("th", "e"),
]


def q_bpe_encode(spark, sf_dir):
    """BPE tokenization APPLY (bpe.bpe_encode) under the fixed merge
    table: per doc the token and word totals after the lowest-rank-first
    merge loop — the encode loop runs Arrow-batched over DISTINCT corpus
    words only; the oracle steps the identical rounds as a lockstep
    recursive CTE carrying each word's token list."""
    from .operators.bpe import bpe_encode

    docs = _read(spark, sf_dir, "documents")
    return bpe_encode(docs, _BPE_MERGES).orderBy("doc_id")


def q_bpe_encode_oracle():
    from .operators.bpe import bpe_encode_sql

    return (
        "SELECT * FROM (" + bpe_encode_sql(_BPE_MERGES) + ") ORDER BY doc_id"
    )


QUERIES["bpe_encode"] = (q_bpe_encode, q_bpe_encode_oracle)


_SIMRANK_N = 100


def q_simrank(spark, sf_dir):
    """Exact-integer SimRank (graph.simrank, C = 4/5, 3 iterations,
    2^20 scale) on the closed-form 100-node directed graph: structural
    similarity from in-neighbor meetings, every division a positive
    floor-div; the oracle chains one pair-table CTE per iteration."""
    from .operators.graph import simrank

    docs = _read(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _SIMRANK_N
    ).select(F.col("doc_id").cast("long").alias("i"))
    i = F.col("i")
    edges = (
        docs.select(
            i.alias("src"),
            F.explode(F.array((i * 7 + 11) % _SIMRANK_N,
                              (i * 13 + 5) % _SIMRANK_N)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = docs.select(i.alias("node"))
    return simrank(edges, nodes, iters=3).orderBy("a", "b")


def q_simrank_oracle():
    from .operators.graph import simrank_sql

    n = _SIMRANK_N
    edges = f"""
SELECT DISTINCT i AS src, d AS dst FROM (
  SELECT i, (i * 7 + 11) % {n} AS d FROM
    (SELECT CAST(doc_id AS BIGINT) AS i FROM documents WHERE doc_id < {n}) a
  UNION ALL
  SELECT i, (i * 13 + 5) % {n} FROM
    (SELECT CAST(doc_id AS BIGINT) AS i FROM documents WHERE doc_id < {n}) b) e
WHERE src != d"""
    nodes = (
        f"SELECT CAST(doc_id AS BIGINT) AS node FROM documents "
        f"WHERE doc_id < {n}"
    )
    return (
        "SELECT * FROM ("
        + simrank_sql(edges, nodes, iters=3)
        + ") ORDER BY a, b"
    )


QUERIES["simrank"] = (q_simrank, q_simrank_oracle)


def q_interval_sched(spark, sf_dir):
    """Weighted interval scheduling DP (timeseries.interval_schedule) per
    user over closed-form event intervals: max total value of
    non-overlapping intervals — dp[i] = max(dp[i-1], w_i + dp[p_i]) exact
    int64; one applyInPandas group per user, recursive-CTE dp-list
    oracle with identically precomputed predecessor ranks."""
    from .operators.timeseries import interval_schedule

    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        ((F.col("event_id") * 37) % 1000).cast("long").alias("t0"),
        ((F.col("event_id") * 37) % 1000
         + (F.col("event_id") % 7 + 1) * 3).cast("long").alias("t1"),
        F.floor(F.col("value") * 100).cast("long").alias("w"),
    )
    return interval_schedule(ev).orderBy("user_id")


def q_interval_sched_oracle():
    from .operators.timeseries import interval_schedule_sql

    base = (
        "SELECT user_id, (event_id * 37) % 1000 AS t0, "
        "(event_id * 37) % 1000 + (event_id % 7 + 1) * 3 AS t1, "
        "CAST(floor(value * 100) AS BIGINT) AS w FROM events"
    )
    return (
        "SELECT * FROM ("
        + interval_schedule_sql(base)
        + ") ORDER BY user_id"
    )


QUERIES["interval_sched"] = (q_interval_sched, q_interval_sched_oracle)


def q_huffman(spark, sf_dir):
    """Huffman code lengths for the corpus vocabulary (textops.
    huffman_code_lengths): deterministic (weight, id) tie rule, leaf id =
    alphabetic rank — the compression-codebook trainer; only the
    vocabulary-sized codebook reaches the driver.  The oracle replays the
    merge loop as a self-terminating recursive CTE over a single
    (nodes, leaf-map) state row."""
    from .operators.textops import huffman_code_lengths

    docs = _read(spark, sf_dir, "documents")
    return huffman_code_lengths(docs).orderBy("word")


def q_huffman_oracle():
    from .operators.textops import huffman_code_lengths_sql

    return (
        "SELECT * FROM (" + huffman_code_lengths_sql() + ") ORDER BY word"
    )


QUERIES["huffman"] = (q_huffman, q_huffman_oracle)


_CL_LAYERS = 3


def q_convex_layers(spark, sf_dir):
    """Onion peeling (trajectory.convex_layers, 3 layers, strict-corner
    peeling variant) over per-user quantized tracks — depth-of-point
    decomposition used for robust center estimation; each layer is
    independently re-verified by the Caratheodory vertex oracle on the
    peeled remainder."""
    from .operators.trajectory import convex_layers

    pts = _traj_pts_df(spark, sf_dir, cap=16).select(
        F.col("user_id").alias("k"),
        F.col("qx").alias("x"), F.col("qy").alias("y"),
    )
    return convex_layers(pts, layers=_CL_LAYERS).orderBy(
        "k", "layer", "x", "y"
    )


def q_convex_layers_oracle():
    from .operators.trajectory import convex_layers_sql

    base = f"SELECT k, x, y FROM ({_traj_pts_sql(cap=16)}) tp"
    return (
        "SELECT * FROM ("
        + convex_layers_sql(base, layers=_CL_LAYERS)
        + ") ORDER BY k, layer, x, y"
    )


QUERIES["convex_layers"] = (q_convex_layers, q_convex_layers_oracle)


def q_rand_response(spark, sf_dir):
    """Local-DP randomized response (quality.randomized_response, Warner
    p = 3/4, derandomized by the row-key hash): per user-cohort the
    reported-positive count and the integral debiased estimate
    est2 = 4*n1 - n for bit = (event_type = 'purchase')."""
    from .operators.quality import randomized_response

    ev = _read(spark, sf_dir, "events").select(
        F.col("event_id").alias("key"),
        (F.col("event_type") == "purchase").cast("int").alias("bit"),
        (F.col("user_id") % 10).alias("cohort"),
    )
    return randomized_response(ev, "bit", "key", "cohort").orderBy("cohort")


def q_rand_response_oracle():
    from .operators.quality import randomized_response_sql

    base = (
        "SELECT event_id AS key, "
        "CAST(event_type = 'purchase' AS INT) AS bit, "
        "user_id % 10 AS cohort FROM events"
    )
    return (
        "SELECT * FROM ("
        + randomized_response_sql(base)
        + ") ORDER BY cohort"
    )


QUERIES["rand_response"] = (q_rand_response, q_rand_response_oracle)


_UPS_COSC_NOTE = None  # (placeholder keeps this block greppable)


def q_ups_north(spark, sf_dir):
    """WGS84 -> Universal Polar Stereographic North (EPSG:5041, method
    9810 variant A with k0 = 0.994 — closes the documented polar-UPS gap
    of the UTM/MGRS family).  Northern points only; floor-shift
    discipline as `polar_stereo`."""
    from .functions.projections import st_transform_any_udf

    pts = _events_points(spark, sf_dir).filter(F.col("lat") > F.lit(0.0))
    p = st_transform_any_udf("EPSG:4326", "EPSG:5041")(F.col("lon"), F.col("lat"))
    return pts.select(
        "event_id",
        F.floor(p["x"] - F.lit(0.123456789)).cast("long").alias("xl"),
        F.floor(p["y"] - F.lit(0.123456789)).cast("long").alias("yl"),
    ).orderBy("event_id")


def q_ups_north_oracle():
    import math

    from .functions.projections import CRS_REGISTRY

    p = CRS_REGISTRY["EPSG:5041"]
    e = synth.flit(p.e)
    ehalf = synth.flit(p.e / 2.0)
    pi4 = synth.flit(math.pi / 4.0)
    rk = synth.flit(p.rk)
    phi = "(radians(lat))"
    s = f"sin({phi})"
    t = (f"(tan({pi4} - {phi} / 2.0) / "
         f"pow((1.0 - {e} * {s}) / (1.0 + {e} * {s}), {ehalf}))")
    rho = f"({rk} * {t})"
    lam = "(radians(lon - 0.0))"
    x = f"(2000000.0 + {rho} * sin({lam}))"
    y = f"(2000000.0 + -{rho} * cos({lam}))"
    return f"""
SELECT event_id,
  CAST(floor({x} - 0.123456789) AS BIGINT) AS xl,
  CAST(floor({y} - 0.123456789) AS BIGINT) AS yl
FROM ({_points_sql()}) p
WHERE lat > 0.0
ORDER BY event_id"""


QUERIES["ups_north"] = (q_ups_north, q_ups_north_oracle)


_PB_W = 128  # pyramid blend raster (two levels of reduce: 128 -> 64 -> 32)


def q_pyramid_blend(spark, sf_dir):
    """Laplacian multiband blend (raster/pyramid.py, Burt & Adelson):
    bands 0 and 1 of the formula raster blended under the per-level
    integer ramp — reduce/expand on the convolve_tiles halo machinery,
    all floor-divs exact; the oracle replays the ENTIRE pipeline (both
    Gaussian chains, both Laplacian stacks, the three blends and the
    collapse) as separable lag/lead window convolutions.  Output:
    per-tile checksums of the reconstructed int64 plane."""
    import numpy as _np
    import pandas as _pd

    from .raster.grid import GridGeometry
    from .raster.pyramid import laplacian_blend

    W = _PB_W
    tiles = _formula_tiles(spark, W, W, bands=2)
    a = tiles.filter(F.col("band") == 0)
    b = tiles.filter(F.col("band") == 1).withColumn(
        "band", F.lit(0).cast("int")
    )
    gg = GridGeometry((0, 0, W - 1, W - 1), (1.0, 0.0, 0.0, 0.0, 1.0, 0.0))
    r0 = laplacian_blend(a, b, gg, levels=2)

    def chk(batches):
        gxs = _np.arange(64, dtype=_np.int64)
        for pdf in batches:
            rows = []
            for tx, ty, data in zip(pdf["tx"], pdf["ty"], pdf["data"]):
                tx, ty = int(tx), int(ty)
                v = _np.frombuffer(data, _np.int64).reshape(64, 64)
                GX, GY = _np.meshgrid(tx * 64 + gxs, ty * 64 + gxs)
                px = GY * W + GX
                rows.append({
                    "tx": tx, "ty": ty,
                    "n": int(v.size), "s": int(v.sum()),
                    "ws": int((v * px).sum()),
                })
            if rows:
                yield _pd.DataFrame(rows)

    return r0.mapInPandas(
        chk, schema="tx long, ty long, n long, s long, ws long"
    ).orderBy("tx", "ty")


def q_pyramid_blend_oracle():
    W = _PB_W

    def fd(n, d):
        return f"((({n}) - (((({n}) % {d}) + {d}) % {d})) // {d})"

    def conv_pair(src, name):
        tap = ("1 * coalesce(lag(v, 2) OVER {w}, 0) + "
               "4 * coalesce(lag(v, 1) OVER {w}, 0) + 6 * v + "
               "4 * coalesce(lead(v, 1) OVER {w}, 0) + "
               "1 * coalesce(lead(v, 2) OVER {w}, 0)")
        h = (f"{name}h AS (SELECT x, y, {tap.format(w='wx')} AS v FROM {src} "
             f"WINDOW wx AS (PARTITION BY y ORDER BY x))")
        vpass = (f"{name} AS (SELECT x, y, {tap.format(w='wy')} AS v "
                 f"FROM {name}h WINDOW wy AS (PARTITION BY x ORDER BY y))")
        return [h, vpass]

    def decimate(src, name, den):
        return [f"{name} AS MATERIALIZED (SELECT x // 2 AS x, y // 2 AS y, "
                f"v // {den} AS v FROM {src} WHERE x % 2 = 0 AND y % 2 = 0)"]

    def expand(src, grid, name):
        z = (f"{name}z AS (SELECT g.x, g.y, coalesce(s.v, 0) AS v "
             f"FROM {grid} g LEFT JOIN {src} s "
             f"ON s.x * 2 = g.x AND s.y * 2 = g.y)")
        return [z] + conv_pair(f"{name}z", f"{name}c") + [
            f"{name} AS MATERIALIZED (SELECT x, y, {fd('v', 64)} AS v FROM {name}c)"
        ]

    def sub(a, b, name):
        return [f"{name} AS MATERIALIZED (SELECT a.x, a.y, a.v - b.v AS v "
                f"FROM {a} a JOIN {b} b ON b.x = a.x AND b.y = a.y)"]

    def add(a, b, name):
        return [f"{name} AS MATERIALIZED (SELECT a.x, a.y, a.v + b.v AS v "
                f"FROM {a} a JOIN {b} b ON b.x = a.x AND b.y = a.y)"]

    def blend(a, b, lv, name):
        m = f"LEAST(GREATEST(({W // 2} + 16 - a.x * {1 << lv}) * 8, 0), 256)"
        ex = fd(f"a.v * {m} + b.v * (256 - {m})", 256)
        return [f"{name} AS MATERIALIZED (SELECT a.x, a.y, {ex} AS v "
                f"FROM {a} a JOIN {b} b ON b.x = a.x AND b.y = a.y)"]

    blocks = [
        f"gs128 AS (SELECT i AS x FROM generate_series(0, {W - 1}) t(i))",
        f"gs64 AS (SELECT i AS x FROM generate_series(0, {W // 2 - 1}) t(i))",
        "grid128 AS (SELECT a.x, b.x AS y FROM gs128 a, gs128 b)",
        "grid64 AS (SELECT a.x, b.x AS y FROM gs64 a, gs64 b)",
        "ga0 AS MATERIALIZED (SELECT x, y, CAST((x * 7 + y * 13) % 256 AS BIGINT) AS v FROM grid128)",
        "gb0 AS MATERIALIZED (SELECT x, y, CAST((x * 3 + y * 5 + 17) % 256 AS BIGINT) AS v FROM grid128)",
    ]
    for tag in ("a", "b"):
        blocks += conv_pair(f"g{tag}0", f"c{tag}0")
        blocks += decimate(f"c{tag}0", f"g{tag}1", 256)
        blocks += conv_pair(f"g{tag}1", f"c{tag}1")
        blocks += decimate(f"c{tag}1", f"g{tag}2", 256)
        blocks += expand(f"g{tag}1", "grid128", f"e{tag}1")
        blocks += sub(f"g{tag}0", f"e{tag}1", f"l{tag}0")
        blocks += expand(f"g{tag}2", "grid64", f"e{tag}2")
        blocks += sub(f"g{tag}1", f"e{tag}2", f"l{tag}1")
    blocks += blend("la0", "lb0", 0, "o0")
    blocks += blend("la1", "lb1", 1, "o1")
    blocks += blend("ga2", "gb2", 2, "o2")
    blocks += expand("o2", "grid64", "er2")
    blocks += add("er2", "o1", "r1")
    blocks += expand("r1", "grid128", "er1")
    blocks += add("er1", "o0", "r0")
    return (
        "WITH " + ",\n".join(blocks) + f"""
SELECT x // 64 AS tx, y // 64 AS ty, count(*) AS n,
       CAST(sum(v) AS BIGINT) AS s,
       CAST(sum(v * (y * {W} + x)) AS BIGINT) AS ws
FROM r0 GROUP BY 1, 2 ORDER BY tx, ty"""
    )


QUERIES["pyramid_blend"] = (q_pyramid_blend, q_pyramid_blend_oracle)


def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (textops.cdc_chunks, Rabin fixed-window
    boundaries): per document the chunk lengths and codepoint checksums —
    the storage-dedup primitive; pure window codegen (8 lag taps + a
    shifted running boundary count) both sides."""
    from .operators.textops import cdc_chunks

    docs = _read(spark, sf_dir, "documents")
    return cdc_chunks(docs).orderBy("doc_id", "chunk_idx")


def q_cdc_chunks_oracle():
    from .operators.textops import cdc_chunks_sql

    return (
        "SELECT * FROM (" + cdc_chunks_sql()
        + ") ORDER BY doc_id, chunk_idx"
    )


QUERIES["cdc_chunks"] = (q_cdc_chunks, q_cdc_chunks_oracle)


def q_kmedoids_swap(spark, sf_dir):
    """One exact PAM k-medoids swap round (embeddings.kmedoids_swap,
    k = 4, CLARA-style 128-candidate cap): per current medoid the best
    replacement and its exact int64 cost delta from the classic
    (d1, d2, nearest) O(1)-per-point form; the oracle recomputes every
    swap from the raw pair distances."""
    from .operators.embeddings import kmedoids_swap

    return kmedoids_swap(
        _read(spark, sf_dir, "embeddings"), k=4, cand_cap=128
    ).orderBy("m_out")


def q_kmedoids_swap_oracle():
    from .operators.embeddings import kmedoids_swap_sql

    return (
        "SELECT * FROM (" + kmedoids_swap_sql(k=4, cand_cap=128)
        + ") ORDER BY m_out"
    )


QUERIES["kmedoids_swap"] = (q_kmedoids_swap, q_kmedoids_swap_oracle)


def q_sauvola(spark, sf_dir):
    """Sauvola local binarization (terrain.sauvola_threshold_tiles, 9x9,
    k=1/4, R=128): the stddev-aware document thresholder decided in
    EXACT integers — (R*A*n)^2 vs k^2 S^2 (nQ - S^2), no sqrt ever; S, Q
    and the in-extent count are three ones-kernel halo convolutions; the
    oracle runs the same separable window sums and the same squared
    comparison.  Per-tile weighted checksums as `adaptive_threshold`."""
    from .raster.grid import GridGeometry
    from .raster.terrain import sauvola_threshold_tiles

    W, H, TS = 500, 300, 64
    tiles = _formula_tiles(spark, W, H, bands=1, tile_size=TS)
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    out = sauvola_threshold_tiles(tiles, gg, radius=4)

    return _tile_checksums(out, W, H, TS, "cs_sv").orderBy("tx", "ty")


def q_sauvola_oracle():
    # A = 4*v*n - 3*S ; keep iff A >= 0 AND (128*A*n)^2 >= S^2*(n*Q - S^2)
    return """
WITH px AS (
  SELECT x.x AS x, y.y AS y, CAST((x.x * 7 + y.y * 13) % 256 AS BIGINT) AS v
  FROM generate_series(0, 499) x(x), generate_series(0, 299) y(y)),
rowpass AS (
  SELECT x, y, v,
         sum(v) OVER wx AS rs, sum(v * v) OVER wx AS rq, count(*) OVER wx AS rc
  FROM px
  WINDOW wx AS (PARTITION BY y ORDER BY x ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING)),
boxpass AS (
  SELECT x, y, v,
         sum(rs) OVER wy AS S, sum(rq) OVER wy AS Q, sum(rc) OVER wy AS n
  FROM rowpass
  WINDOW wy AS (PARTITION BY x ORDER BY y ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING)),
m AS (
  SELECT x // 64 AS tx, y // 64 AS ty,
         CASE WHEN (4 * v * n - 3 * S) >= 0
               AND (128 * (4 * v * n - 3 * S) * n) * (128 * (4 * v * n - 3 * S) * n)
                   >= S * S * (n * Q - S * S)
              THEN 255 ELSE 0 END AS o,
         ((y * 500 + x) % 9973 + 1) AS wt
  FROM boxpass)
SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
       CAST(sum(o * wt) AS BIGINT) AS cs_sv
FROM m GROUP BY 1, 2 ORDER BY tx, ty"""


QUERIES["sauvola"] = (q_sauvola, q_sauvola_oracle)


_HC_SOURCES = [0, 100, 200, 300, 400]
_HC_HOPS = 8


def q_harmonic(spark, sf_dir):
    """Sampled harmonic centrality (graph.harmonic_centrality, 5 sources,
    8 hops, 2^20 per-term quantization) on the symmetric document graph:
    ONE multi-source Bellman-Ford keyed (src, node) — all sources relax
    in the same per-round join; the oracle chains the identical rounds."""
    from .operators.graph import harmonic_centrality

    edges, _nodes = _mis_edges_df(spark, sf_dir)
    return harmonic_centrality(
        edges, _HC_SOURCES, hops=_HC_HOPS
    ).orderBy("node")


def q_harmonic_oracle():
    from .operators.graph import harmonic_centrality_sql

    return (
        "SELECT * FROM ("
        + harmonic_centrality_sql(_mis_edges_sql(), _HC_SOURCES, _HC_HOPS)
        + ") ORDER BY node"
    )


QUERIES["harmonic"] = (q_harmonic, q_harmonic_oracle)


def q_delaunay(spark, sf_dir):
    """Delaunay triangulation by the empty-open-circumdisk DEFINITION
    (functions/triangulate.delaunay_triangles) over per-user quantized
    tracks: exact arbitrary-precision incircle determinants engine-side,
    HUGEINT determinants oracle-side — strict-inside keeps cocircular
    ties deterministic (both diagonals emit)."""
    from .functions.triangulate import delaunay_triangles

    pts = _traj_pts_df(spark, sf_dir, cap=10).select(
        F.col("user_id").alias("k"),
        F.col("qx").alias("x"), F.col("qy").alias("y"),
    )
    return delaunay_triangles(pts).orderBy(
        "k", "ax", "ay", "bx", "by", "cx", "cy"
    )


def q_delaunay_oracle():
    from .functions.triangulate import delaunay_triangles_sql

    base = f"SELECT k, x, y FROM ({_traj_pts_sql(cap=10)}) tp"
    return (
        "SELECT * FROM ("
        + delaunay_triangles_sql(base)
        + ") ORDER BY k, ax, ay, bx, by, cx, cy"
    )


QUERIES["delaunay"] = (q_delaunay, q_delaunay_oracle)


def q_gabriel(spark, sf_dir):
    """Gabriel proximity graph (trajectory.gabriel_graph) over per-user
    quantized tracks: edge iff the open diameter disk is point-free —
    exact int64 dot products, boundary-inclusive (deterministic set
    semantics); brute NOT EXISTS oracle."""
    from .operators.trajectory import gabriel_graph

    pts = _traj_pts_df(spark, sf_dir, cap=14).select(
        F.col("user_id").alias("k"),
        F.col("qx").alias("x"), F.col("qy").alias("y"),
    )
    return gabriel_graph(pts).orderBy("k", "ax", "ay", "bx", "by")


def q_gabriel_oracle():
    from .operators.trajectory import gabriel_graph_sql

    base = f"SELECT k, x, y FROM ({_traj_pts_sql(cap=14)}) tp"
    return (
        "SELECT * FROM (" + gabriel_graph_sql(base)
        + ") ORDER BY k, ax, ay, bx, by"
    )


QUERIES["gabriel"] = (q_gabriel, q_gabriel_oracle)


_EMST_CAP = 8


def _emst_edges_df(spark, sf_dir):
    """Delaunay edges with rank-compressed weights -> (a, b, w): node id
    = user * 16 + per-user (x, y) rank; w = dense rank of d^2 over the
    (d2, a, b) order (monotone in d^2, so the MST is the Euclidean MST;
    compressed because boruvka's packed order key needs w < 2^21)."""
    from .functions.triangulate import delaunay_triangles

    pts = _traj_pts_df(spark, sf_dir, cap=_EMST_CAP).select(
        F.col("user_id").alias("k"),
        F.col("qx").alias("x"), F.col("qy").alias("y"),
    ).distinct()
    w_rank = Window.partitionBy("k").orderBy("x", "y")
    ids = pts.withColumn(
        "nid", F.col("k") * 16 + F.row_number().over(w_rank) - 1
    )
    tri = delaunay_triangles(pts)
    e = None
    for p, q in (("a", "b"), ("b", "c"), ("a", "c")):
        part = tri.select(
            "k",
            F.col(p + "x").alias("ux"), F.col(p + "y").alias("uy"),
            F.col(q + "x").alias("vx"), F.col(q + "y").alias("vy"),
        )
        e = part if e is None else e.unionByName(part)
    e = e.distinct()
    iu = ids.select(F.col("k"), F.col("x").alias("ux"), F.col("y").alias("uy"),
                    F.col("nid").alias("a"))
    iv = ids.select(F.col("k"), F.col("x").alias("vx"), F.col("y").alias("vy"),
                    F.col("nid").alias("b"))
    ed = (
        e.join(iu, ["k", "ux", "uy"]).join(iv, ["k", "vx", "vy"])
        .withColumn(
            "d2",
            (F.col("ux") - F.col("vx")) * (F.col("ux") - F.col("vx"))
            + (F.col("uy") - F.col("vy")) * (F.col("uy") - F.col("vy")),
        )
        .select("a", "b", "d2")
    )
    return ed.withColumn("w", F.dense_rank().over(Window.orderBy("d2")).cast("long"))


def q_emst(spark, sf_dir):
    """Euclidean minimum spanning forest: Delaunay edges (EMST is a
    Delaunay subgraph — public theorem) + boruvka_mst under
    rank-compressed d^2 weights; the composition gate for
    single-linkage spatial clustering.  The oracle composes the
    HUGEINT Delaunay definition with the unrolled Boruvka chain."""
    from .operators.graph import boruvka_mst

    edges = _emst_edges_df(spark, sf_dir)
    return boruvka_mst(edges.select("a", "b", "w")).orderBy("u", "v")


def q_emst_oracle():
    from .functions.triangulate import delaunay_triangles_sql
    from .operators.graph import boruvka_sql

    base = f"SELECT k, x, y FROM ({_traj_pts_sql(cap=_EMST_CAP)}) tp"
    tri = delaunay_triangles_sql(base)
    edges = f"""
WITH tri AS MATERIALIZED ({tri}),
pts AS MATERIALIZED (
  SELECT k, x, y,
         k * 16 + row_number() OVER (PARTITION BY k ORDER BY x, y) - 1 AS nid
  FROM (SELECT DISTINCT k, x, y FROM ({base}) b) d),
eraw AS (
  SELECT DISTINCT k, ax AS ux, ay AS uy, bx AS vx, by AS vy FROM tri
  UNION SELECT DISTINCT k, bx, by, cx, cy FROM tri
  UNION SELECT DISTINCT k, ax, ay, cx, cy FROM tri),
eid AS (
  SELECT u.nid AS a, v.nid AS b,
         (e.ux - e.vx) * (e.ux - e.vx) + (e.uy - e.vy) * (e.uy - e.vy) AS d2
  FROM eraw e
  JOIN pts u ON u.k = e.k AND u.x = e.ux AND u.y = e.uy
  JOIN pts v ON v.k = e.k AND v.x = e.vx AND v.y = e.vy)
SELECT a, b, CAST(dense_rank() OVER (ORDER BY d2) AS BIGINT) AS w FROM eid"""
    return (
        "SELECT * FROM ("
        + boruvka_sql(f"SELECT * FROM ({edges}) eee", outer_rounds=6)
        + ") ORDER BY u, v"
    )


QUERIES["emst"] = (q_emst, q_emst_oracle)


def q_bcubed(spark, sf_dir):
    """B-cubed clustering evaluation (Bagga & Baldwin 1998): the k-means
    assignment of `kmeans_clusters` scored against the embeddings' true
    labels — per (cluster, label) block the exact item counts and the
    2^20-quantized per-item precision/recall (they depend only on the
    block); the dedup-clustering quality metric."""
    from .operators.embeddings import kmeans_assign

    emb = _read(spark, sf_dir, "embeddings")
    km = kmeans_assign(emb, k=8, iters=2).select("vec_id", "cluster")
    j = km.join(emb.select("vec_id", "label"), "vec_id")
    csz = j.groupBy("cluster").agg(F.count(F.lit(1)).alias("cn"))
    lsz = j.groupBy("label").agg(F.count(F.lit(1)).alias("ln"))
    blk = j.groupBy("cluster", "label").agg(F.count(F.lit(1)).alias("n"))
    return (
        blk.join(csz, "cluster").join(lsz, "label")
        .select(
            "cluster", "label", "n",
            F.expr("(n * 1048576) div cn").alias("p_q"),
            F.expr("(n * 1048576) div ln").alias("r_q"),
        )
        .orderBy("cluster", "label")
    )


def q_bcubed_oracle():
    from .operators.embeddings import kmeans_assign_select

    km = kmeans_assign_select(8, 64, 2)
    return f"""
WITH km AS MATERIALIZED (SELECT vec_id, cluster FROM ({km}) t),
j AS MATERIALIZED (
  SELECT km.vec_id, km.cluster, e.label
  FROM km JOIN embeddings e ON e.vec_id = km.vec_id),
csz AS (SELECT cluster, count(*) AS cn FROM j GROUP BY 1),
lsz AS (SELECT label, count(*) AS ln FROM j GROUP BY 1),
blk AS (SELECT cluster, label, count(*) AS n FROM j GROUP BY 1, 2)
SELECT b.cluster, b.label, b.n,
       (b.n * 1048576) // c.cn AS p_q,
       (b.n * 1048576) // l.ln AS r_q
FROM blk b JOIN csz c ON c.cluster = b.cluster
JOIN lsz l ON l.label = b.label
ORDER BY b.cluster, b.label"""


QUERIES["bcubed"] = (q_bcubed, q_bcubed_oracle)


_ALPHA_CAP = 9
_ALPHA_R = 20000  # alpha radius in 1e3-degree units (20 degrees)


def q_alpha_shape(spark, sf_dir):
    """Alpha-shape / concave-hull boundary (triangulate.alpha_shape_edges,
    alpha = 20 deg at the 1e3 quantization): edges bounding exactly one
    alpha-complex triangle — the circumradius filter is the exact
    cross-comparison a2*b2*c2 <= 4*alpha^2*(2A)^2 (no sqrt, no division);
    coordinates quantized at 1e3 so the oracle's HUGEINT replay fits."""
    from .functions.triangulate import alpha_shape_edges

    from pyspark.sql import Window as _W

    lon, lat = point_lonlat_cols("event_id")
    w = _W.partitionBy("k").orderBy("event_id")
    pts = (
        _read(spark, sf_dir, "events")
        .select(
            F.col("user_id").alias("k"),
            "event_id",
            F.floor(lon * 1e3).cast("long").alias("x"),
            F.floor(lat * 1e3).cast("long").alias("y"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _ALPHA_CAP)
    )
    return alpha_shape_edges(pts, alpha=_ALPHA_R).orderBy(
        "k", "ax", "ay", "bx", "by"
    )


def q_alpha_shape_oracle():
    from .functions.triangulate import alpha_shape_edges_sql

    base = f"""
SELECT user_id AS k,
       CAST(floor(({synth.point_lon_sql('event_id')}) * 1.0e3) AS BIGINT) AS x,
       CAST(floor(({synth.point_lat_sql('event_id')}) * 1.0e3) AS BIGINT) AS y,
       row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
FROM events QUALIFY rn <= {_ALPHA_CAP}"""
    return (
        "SELECT * FROM ("
        + alpha_shape_edges_sql(f"SELECT k, x, y FROM ({base}) t", _ALPHA_R)
        + ") ORDER BY k, ax, ay, bx, by"
    )


QUERIES["alpha_shape"] = (q_alpha_shape, q_alpha_shape_oracle)


def q_rolling_ols(spark, sf_dir):
    """Rolling OLS slope (timeseries.rolling_ols, 16-row window) over
    per-user value-cents: exact-rational windowed trend as (num, den)
    integer pairs — four window sums sharing one exchange."""
    from .operators.timeseries import rolling_ols

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("y"),
    )
    return rolling_ols(ev).orderBy("user_id", "rn")


def q_rolling_ols_oracle():
    from .operators.timeseries import rolling_ols_sql

    base = ("SELECT user_id, ts, event_id, "
            "CAST(floor(value * 100) AS BIGINT) AS y FROM events")
    return (
        "SELECT * FROM (" + rolling_ols_sql(base)
        + ") ORDER BY user_id, rn"
    )


QUERIES["rolling_ols"] = (q_rolling_ols, q_rolling_ols_oracle)


_DOG_THR = 2000


def q_dog_extrema(spark, sf_dir):
    """Difference-of-Gaussians keypoints (blob detection): DoG =
    16*conv3x3 - conv5x5 over shared binomial kernels (common 256 scale,
    exact int64), then STRICT 8-neighbor local maxima above 2000
    (terrain.local_extrema_tiles — out-of-extent neighbors never
    suppress).  The oracle replays both separable convolutions and the
    neighbor max with lag/lead window frames."""
    import numpy as _np

    from .raster.grid import GridGeometry
    from .raster.terrain import convolve_tiles, local_extrema_tiles

    W, H, TS = 500, 300, 64
    tiles = _formula_tiles(spark, W, H, bands=1, tile_size=TS)
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    k3 = _np.outer([1, 2, 1], [1, 2, 1])
    k5 = _np.outer([1, 4, 6, 4, 1], [1, 4, 6, 4, 1])
    c3 = convolve_tiles(tiles, gg, k3, tile_size=TS)
    c5 = convolve_tiles(tiles, gg, k5, tile_size=TS)
    j = c3.select("tx", "ty", F.col("data").alias("d3")).join(
        c5.select("tx", "ty", F.col("data").alias("d5")), ["tx", "ty"]
    )
    import pandas as _pd

    def dog(batches):
        for pdf in batches:
            rows = []
            for tx, ty, d3, d5 in zip(pdf["tx"], pdf["ty"], pdf["d3"], pdf["d5"]):
                a3 = _np.frombuffer(d3, _np.int64).reshape(TS, TS)
                a5 = _np.frombuffer(d5, _np.int64).reshape(TS, TS)
                rows.append({"tx": int(tx), "ty": int(ty),
                             "data": (16 * a3 - a5).tobytes()})
            if rows:
                yield _pd.DataFrame(rows)

    dg = j.mapInPandas(dog, schema="tx long, ty long, data binary")
    return local_extrema_tiles(dg, gg, thr=_DOG_THR, tile_size=TS).orderBy(
        "x", "y"
    )


def q_dog_extrema_oracle():
    SMIN = -(1 << 62)
    tap3 = ("1 * coalesce(lag(v, 1) OVER {w}, 0) + 2 * v + "
            "1 * coalesce(lead(v, 1) OVER {w}, 0)")
    tap5 = ("1 * coalesce(lag(v, 2) OVER {w}, 0) + "
            "4 * coalesce(lag(v, 1) OVER {w}, 0) + 6 * v + "
            "4 * coalesce(lead(v, 1) OVER {w}, 0) + "
            "1 * coalesce(lead(v, 2) OVER {w}, 0)")
    return f"""
WITH px AS (
  SELECT x.x AS x, y.y AS y, CAST((x.x * 7 + y.y * 13) % 256 AS BIGINT) AS v
  FROM generate_series(0, 499) x(x), generate_series(0, 299) y(y)),
h3 AS (SELECT x, y, {tap3.format(w='wx')} AS v FROM px
       WINDOW wx AS (PARTITION BY y ORDER BY x)),
c3 AS (SELECT x, y, {tap3.format(w='wy')} AS v FROM h3
       WINDOW wy AS (PARTITION BY x ORDER BY y)),
h5 AS (SELECT x, y, {tap5.format(w='wx')} AS v FROM px
       WINDOW wx AS (PARTITION BY y ORDER BY x)),
c5 AS (SELECT x, y, {tap5.format(w='wy')} AS v FROM h5
       WINDOW wy AS (PARTITION BY x ORDER BY y)),
dg AS (
  SELECT c3.x, c3.y, 16 * c3.v - c5.v AS v
  FROM c3 JOIN c5 ON c5.x = c3.x AND c5.y = c3.y),
rowm AS (
  SELECT x, y, v,
         GREATEST(coalesce(lag(v, 1) OVER wx, {SMIN}), v,
                  coalesce(lead(v, 1) OVER wx, {SMIN})) AS rm,
         GREATEST(coalesce(lag(v, 1) OVER wx, {SMIN}),
                  coalesce(lead(v, 1) OVER wx, {SMIN})) AS mid
  FROM dg WINDOW wx AS (PARTITION BY y ORDER BY x)),
nmax AS (
  SELECT x, y, v,
         GREATEST(coalesce(lag(rm, 1) OVER wy, {SMIN}),
                  coalesce(lead(rm, 1) OVER wy, {SMIN}), mid) AS nm
  FROM rowm WINDOW wy AS (PARTITION BY x ORDER BY y))
SELECT x, y, v FROM nmax
WHERE v > nm AND v > {_DOG_THR}
ORDER BY x, y"""


QUERIES["dog_extrema"] = (q_dog_extrema, q_dog_extrema_oracle)


def q_orb_octants(spark, sf_dir):
    """ORB-style keypoint orientation, atan2-free (the intensity-centroid
    octant of Rublee 2011 classified by exact integer sign/magnitude
    comparisons): DoG keypoints (the `dog_extrema` detector) oriented by
    7x7 patch moments m10/m01 — both are integer-kernel convolutions
    (coordinate-weighted box sums) on the halo machinery; octant =
    quadrant from signs x |m01| > |m10| bit, 8 = null moment.  The
    oracle replays the separable moment sums and the same CASE."""
    import numpy as _np
    import pandas as _pd

    from .raster.grid import GridGeometry
    from .raster.terrain import convolve_tiles, local_extrema_tiles

    W, H, TS = 500, 300, 64
    tiles = _formula_tiles(spark, W, H, bands=1, tile_size=TS)
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    k3 = _np.outer([1, 2, 1], [1, 2, 1])
    k5 = _np.outer([1, 4, 6, 4, 1], [1, 4, 6, 4, 1])
    c3 = convolve_tiles(tiles, gg, k3, tile_size=TS)
    c5 = convolve_tiles(tiles, gg, k5, tile_size=TS)

    def dog(batches):
        for pdf in batches:
            rows = []
            for tx, ty, d3, d5 in zip(pdf["tx"], pdf["ty"], pdf["d3"], pdf["d5"]):
                a3 = _np.frombuffer(d3, _np.int64).reshape(TS, TS)
                a5 = _np.frombuffer(d5, _np.int64).reshape(TS, TS)
                rows.append({"tx": int(tx), "ty": int(ty),
                             "data": (16 * a3 - a5).tobytes()})
            if rows:
                yield _pd.DataFrame(rows)

    j = c3.select("tx", "ty", F.col("data").alias("d3")).join(
        c5.select("tx", "ty", F.col("data").alias("d5")), ["tx", "ty"]
    )
    dg = j.mapInPandas(dog, schema="tx long, ty long, data binary")
    kp = local_extrema_tiles(dg, gg, thr=_DOG_THR, tile_size=TS)

    dxk = _np.outer(_np.ones(7, _np.int64), _np.arange(-3, 4))
    dyk = _np.outer(_np.arange(-3, 4), _np.ones(7, _np.int64))
    m10 = convolve_tiles(tiles, gg, dxk, tile_size=TS)
    m01 = convolve_tiles(tiles, gg, dyk, tile_size=TS)
    mom = m10.select("tx", "ty", F.col("data").alias("dx")).join(
        m01.select("tx", "ty", F.col("data").alias("dy")), ["tx", "ty"]
    )
    pts = kp.withColumn("tx", F.expr("x div 64")).withColumn(
        "ty", F.expr("y div 64")
    ).join(mom, ["tx", "ty"])

    def extract(batches):
        for pdf in batches:
            rows = []
            for x, y, dx, dy in zip(pdf["x"], pdf["y"], pdf["dx"], pdf["dy"]):
                ax = _np.frombuffer(dx, _np.int64).reshape(TS, TS)
                ay = _np.frombuffer(dy, _np.int64).reshape(TS, TS)
                lx, ly = int(x) % TS, int(y) % TS
                m10v, m01v = int(ax[ly, lx]), int(ay[ly, lx])
                if m10v == 0 and m01v == 0:
                    o = 8
                else:
                    if m10v > 0 and m01v >= 0:
                        q = 0
                    elif m10v <= 0 and m01v > 0:
                        q = 1
                    elif m10v < 0 and m01v <= 0:
                        q = 2
                    else:
                        q = 3
                    o = q * 2 + (1 if abs(m01v) > abs(m10v) else 0)
                rows.append({"x": int(x), "y": int(y),
                             "m10": m10v, "m01": m01v, "oct": o})
            if rows:
                yield _pd.DataFrame(rows)

    return pts.mapInPandas(
        extract, schema="x long, y long, m10 long, m01 long, oct long"
    ).orderBy("x", "y")


def q_orb_octants_oracle():
    SMIN = -(1 << 62)
    tap3 = ("1 * coalesce(lag(v, 1) OVER {w}, 0) + 2 * v + "
            "1 * coalesce(lead(v, 1) OVER {w}, 0)")
    tap5 = ("1 * coalesce(lag(v, 2) OVER {w}, 0) + "
            "4 * coalesce(lag(v, 1) OVER {w}, 0) + 6 * v + "
            "4 * coalesce(lead(v, 1) OVER {w}, 0) + "
            "1 * coalesce(lead(v, 2) OVER {w}, 0)")
    box7 = " + ".join(
        [f"coalesce(lag(v, {j}) OVER {{w}}, 0)" for j in range(3, 0, -1)]
        + ["v"]
        + [f"coalesce(lead(v, {j}) OVER {{w}}, 0)" for j in range(1, 4)]
    )
    dx7 = " + ".join(
        [f"{-j} * coalesce(lag(s, {j}) OVER {{w}}, 0)" for j in range(3, 0, -1)]
        + [f"{j} * coalesce(lead(s, {j}) OVER {{w}}, 0)" for j in range(1, 4)]
    )
    return f"""
WITH px AS (
  SELECT x.x AS x, y.y AS y, CAST((x.x * 7 + y.y * 13) % 256 AS BIGINT) AS v
  FROM generate_series(0, 499) x(x), generate_series(0, 299) y(y)),
h3 AS (SELECT x, y, {tap3.format(w='wx')} AS v FROM px
       WINDOW wx AS (PARTITION BY y ORDER BY x)),
c3 AS (SELECT x, y, {tap3.format(w='wy')} AS v FROM h3
       WINDOW wy AS (PARTITION BY x ORDER BY y)),
h5 AS (SELECT x, y, {tap5.format(w='wx')} AS v FROM px
       WINDOW wx AS (PARTITION BY y ORDER BY x)),
c5 AS (SELECT x, y, {tap5.format(w='wy')} AS v FROM h5
       WINDOW wy AS (PARTITION BY x ORDER BY y)),
dg AS (
  SELECT c3.x, c3.y, 16 * c3.v - c5.v AS v
  FROM c3 JOIN c5 ON c5.x = c3.x AND c5.y = c3.y),
rowm AS (
  SELECT x, y, v,
         GREATEST(coalesce(lag(v, 1) OVER wx, {SMIN}), v,
                  coalesce(lead(v, 1) OVER wx, {SMIN})) AS rm,
         GREATEST(coalesce(lag(v, 1) OVER wx, {SMIN}),
                  coalesce(lead(v, 1) OVER wx, {SMIN})) AS mid
  FROM dg WINDOW wx AS (PARTITION BY y ORDER BY x)),
kp AS (
  SELECT x, y FROM (
    SELECT x, y, v,
           GREATEST(coalesce(lag(rm, 1) OVER wy, {SMIN}),
                    coalesce(lead(rm, 1) OVER wy, {SMIN}), mid) AS nm
    FROM rowm WINDOW wy AS (PARTITION BY x ORDER BY y)) t
  WHERE v > nm AND v > {_DOG_THR}),
colsum AS (
  SELECT x, y, {box7.format(w='wy')} AS s FROM px
  WINDOW wy AS (PARTITION BY x ORDER BY y)),
m10 AS (SELECT x, y, {dx7.format(w='wx')} AS m FROM colsum
        WINDOW wx AS (PARTITION BY y ORDER BY x)),
rowsum AS (
  SELECT x, y, {box7.format(w='wx')} AS s FROM px
  WINDOW wx AS (PARTITION BY y ORDER BY x)),
m01 AS (SELECT x, y, {dx7.format(w='wy')} AS m FROM rowsum
        WINDOW wy AS (PARTITION BY x ORDER BY y))
SELECT kp.x, kp.y, a.m AS m10, b.m AS m01,
       CASE WHEN a.m = 0 AND b.m = 0 THEN 8
            ELSE (CASE WHEN a.m > 0 AND b.m >= 0 THEN 0
                       WHEN a.m <= 0 AND b.m > 0 THEN 1
                       WHEN a.m < 0 AND b.m <= 0 THEN 2
                       ELSE 3 END) * 2
                 + CASE WHEN abs(b.m) > abs(a.m) THEN 1 ELSE 0 END
       END AS oct
FROM kp JOIN m10 a ON a.x = kp.x AND a.y = kp.y
JOIN m01 b ON b.x = kp.x AND b.y = kp.y
ORDER BY kp.x, kp.y"""


QUERIES["orb_octants"] = (q_orb_octants, q_orb_octants_oracle)


N_MOTION_CLIPS = 8


def q_block_motion(spark, sf_dir):
    """Block-matching motion estimation (media.block_motion, 4x4 blocks,
    +-2 search) over true-motion formula clips: per interior block the
    exact int64 SAD argmin displacement, ties (sad, dy, dx) — the MPEG
    motion-search primitive; clips decode once per task (frame_diffs
    shape).  The oracle replays every candidate SAD from the closed-form
    pixels and takes the same argmin."""
    import pandas as _pd

    from .operators.media import VIDEO_SCHEMA, block_motion, make_motion_video

    video = spark.createDataFrame(
        _pd.DataFrame([make_motion_video(m) for m in range(N_MOTION_CLIPS)]),
        schema=VIDEO_SCHEMA,
    ).repartition(min(N_MOTION_CLIPS, spark.sparkContext.defaultParallelism))
    return block_motion(video).orderBy("media_id", "frame", "by", "bx")


def q_block_motion_oracle():
    def c(fexpr, yexpr, xexpr):
        u = f"(({xexpr}) - (m.m % 3 - 1) * ({fexpr}))"
        v = f"(({yexpr}) - ((m.m // 3) % 3 - 1) * ({fexpr}))"
        return (f"(((3 * {u} * {u} + 7 * {v} + {u} * {v}) % 256 + 256) % 256)")

    cur = c("f.f", "by.by * 4 + py.py", "bx.bx * 4 + px.px")
    ref = c("f.f - 1", "by.by * 4 + dy.dy + py.py", "bx.bx * 4 + dx.dx + px.px")
    return f"""
WITH cand AS (
  SELECT m.m, f.f, bx.bx, by.by, dx.dx, dy.dy,
         CAST(sum(abs({cur} - {ref})) AS BIGINT) AS sad
  FROM generate_series(0, {N_MOTION_CLIPS - 1}) m(m),
       generate_series(1, 5) f(f),
       generate_series(1, 4) bx(bx), generate_series(1, 2) by(by),
       generate_series(-2, 2) dx(dx), generate_series(-2, 2) dy(dy),
       generate_series(0, 3) px(px), generate_series(0, 3) py(py)
  GROUP BY 1, 2, 3, 4, 5, 6)
SELECT 'vid-' || lpad(CAST(m AS VARCHAR), 9, '0') AS media_id,
       CAST(f AS BIGINT) AS frame, CAST(bx AS BIGINT) AS bx,
       CAST(by AS BIGINT) AS by, CAST(dx AS BIGINT) AS dx,
       CAST(dy AS BIGINT) AS dy, sad
FROM (SELECT *, row_number() OVER (PARTITION BY m, f, bx, by
          ORDER BY sad, dy, dx) AS rn FROM cand) t
WHERE rn = 1 ORDER BY media_id, frame, by, bx"""


QUERIES["block_motion"] = (q_block_motion, q_block_motion_oracle)


def q_tree_lca(spark, sf_dir):
    """Lowest common ancestor + hop distance over the synthetic part
    hierarchy parent(n) = n div 4 (the `tree_rollup` tree): pairs
    (a, b = (a*7) mod 2000 + 1); since every ancestor id is smaller than
    its child, the LCA is simply the MAX over common chain values —
    one ancestor-explode per side + an equi-join + a window argmax, all
    closed-form."""
    p = _read(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("a"),
        ((F.col("p_partkey") * 7) % 2000 + 1).cast("long").alias("b"),
    )

    def chain(side):
        col = F.col(side)
        arr = F.array(*[
            (col / F.lit(_TREE_FANOUT ** L)).cast("long")
            for L in range(_TREE_DEPTH + 1)
        ])
        return p.select(
            "a", "b", F.posexplode(arr).alias(f"l{side}", "anc")
        ).filter(F.col("anc") >= 1)

    ca = chain("a")
    cb = chain("b").withColumnRenamed("anc", "anc_b")
    j = ca.join(
        cb,
        (ca["a"] == cb["a"]) & (ca["b"] == cb["b"])
        & (ca["anc"] == cb["anc_b"]),
    ).select(ca["a"], ca["b"], ca["anc"], F.col("la"), F.col("lb"))
    w = Window.partitionBy("a", "b").orderBy(F.col("anc").desc())
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("a", "b", F.col("anc").alias("lca"),
                (F.col("la") + F.col("lb")).alias("hops"))
        .orderBy("a")
    )


def q_tree_lca_oracle():
    levels = " UNION ALL ".join(
        f"SELECT a, b, CAST({L} AS BIGINT) AS l, "
        f"{{side}} // {_TREE_FANOUT ** L} AS anc FROM pairs "
        f"WHERE {{side}} // {_TREE_FANOUT ** L} >= 1"
        for L in range(_TREE_DEPTH + 1)
    )
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT CAST(p_partkey AS BIGINT) AS a,
         (CAST(p_partkey AS BIGINT) * 7) % 2000 + 1 AS b
  FROM part),
ca AS MATERIALIZED ({levels.format(side='a')}),
cb AS MATERIALIZED ({levels.format(side='b')})
SELECT a, b, lca, hops FROM (
  SELECT ca.a, ca.b, ca.anc AS lca, ca.l + cb.l AS hops,
         row_number() OVER (PARTITION BY ca.a, ca.b
                            ORDER BY ca.anc DESC) AS rn
  FROM ca JOIN cb ON cb.a = ca.a AND cb.b = ca.b AND cb.anc = ca.anc) t
WHERE rn = 1 ORDER BY a"""


QUERIES["tree_lca"] = (q_tree_lca, q_tree_lca_oracle)


N_PCM_CLIPS = 12


def q_pcm_resample(spark, sf_dir):
    """Exact-integer 2/3 linear PCM resampling (media.pcm_resample_2_3)
    over integer formula clips: y2 = 2*s[k] + (s[k+1]-s[k])*(3j mod 2) —
    the polyphase fractional delays are all halves, so the resampled
    signal is integral at twice scale; one decode pass per clip."""
    import pandas as _pd

    from .operators.media import AUDIO_SCHEMA, make_formula_pcm, pcm_resample_2_3

    audio = spark.createDataFrame(
        _pd.DataFrame([make_formula_pcm(m) for m in range(N_PCM_CLIPS)]),
        schema=AUDIO_SCHEMA,
    ).repartition(min(N_PCM_CLIPS, spark.sparkContext.defaultParallelism))
    return pcm_resample_2_3(audio).orderBy("media_id", "j")


def q_pcm_resample_oracle():
    n = 2000
    s = "((i * i * 7 + i * 13 + m.m * 31) % 4096 - 2048)"
    sk = s.replace("i", "((3 * j.j) // 2)")
    sk1 = s.replace("i", "((3 * j.j) // 2 + 1)")
    return f"""
SELECT 'aud-' || lpad(CAST(m.m AS VARCHAR), 9, '0') AS media_id,
       CAST(j.j AS BIGINT) AS j,
       CAST(2 * {sk} + CASE WHEN (3 * j.j) % 2 = 1
                            THEN {sk1} - {sk} ELSE 0 END AS BIGINT) AS y2
FROM generate_series(0, {N_PCM_CLIPS - 1}) m(m),
     generate_series(0, {(2 * (n - 1)) // 3}) j(j)
ORDER BY media_id, j"""


QUERIES["pcm_resample"] = (q_pcm_resample, q_pcm_resample_oracle)


def q_winsorized_mean(spark, sf_dir):
    """10% winsorized group mean (analytics.winsorized_mean): customer
    account cents per nation with exact order-statistic clamps (ranks,
    not quantiles) — the robust location estimator; one rank window +
    bounds + partial agg both sides."""
    from .operators.analytics import winsorized_mean

    c = _read(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nation"),
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    return winsorized_mean(c, "nation", "cents").orderBy("key")


def q_winsorized_mean_oracle():
    from .operators.analytics import winsorized_mean_sql

    base = ("SELECT CAST(c_nationkey AS BIGINT) AS key, "
            "CAST(floor(c_acctbal * 100) AS BIGINT) AS v FROM customer")
    return (
        "SELECT * FROM (" + winsorized_mean_sql(base) + ") ORDER BY key"
    )


QUERIES["winsorized_mean"] = (q_winsorized_mean, q_winsorized_mean_oracle)


def q_hhi(spark, sf_dir):
    """Herfindahl-Hirschman concentration (analytics.hhi_index): per
    nation, how concentrated order revenue is across market segments —
    the exact rational sum(x_i^2)/X^2 plus its floor quantization (x in
    price-hundreds so num * 10^4 stays inside int64)."""
    from .operators.analytics import hhi_index

    o = _read(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") / 100).cast("long").alias("x"),
    )
    c = _read(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").cast("long").alias("nation"),
        "c_mktsegment",
    )
    j = o.join(c, "o_custkey")
    return hhi_index(j, "nation", "c_mktsegment", "x", scale=10000).orderBy("key")


def q_hhi_oracle():
    from .operators.analytics import hhi_index_sql

    base = """
SELECT CAST(c.c_nationkey AS BIGINT) AS key, c.c_mktsegment AS p,
       CAST(floor(o.o_totalprice / 100) AS BIGINT) AS x
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey"""
    return (
        "SELECT * FROM (" + hhi_index_sql(base, scale=10000)
        + ") ORDER BY key"
    )


QUERIES["hhi"] = (q_hhi, q_hhi_oracle)


def q_rasterize_aa(spark, sf_dir):
    """Anti-aliased (supersampled) rasterization: 2x2 subsample coverage
    0..4 of the rectangle UNION — four quarter-pixel-shifted runs of the
    SAME rasterize_polygons machinery, masks summed tile-wise.  The
    subsample points sit at odd/256 offsets while every rect edge is
    even/256, so no sample can straddle an edge in either engine.
    Output: dense per-tile position-weighted checksums of the coverage
    plane."""
    import numpy as _np
    import pandas as _pd

    from .functions.geometry import wkb_polygon
    from .raster.grid import GridGeometry, _map_tiles
    from .raster.tiles import rasterize_polygons

    rects = _rasterize_rects()
    pdf = _pd.DataFrame({
        "key": [r["key"] for r in rects],
        "wkb": [
            wkb_polygon([(
                _np.array([r["xmin"], r["xmax"], r["xmax"], r["xmin"]]),
                _np.array([r["ymin"], r["ymin"], r["ymax"], r["ymax"]]),
            )])
            for r in rects
        ],
    })
    polys = spark.createDataFrame(pdf, schema="key long, wkb binary")
    TS, W, H = RAST_TS, RAST_W, RAST_H
    a, e = 1.0 / 64.0, -1.0 / 64.0
    masks = None
    for sx in (-0.25, 0.25):
        for sy in (-0.25, 0.25):
            gg = GridGeometry(
                (0, 0, W - 1, H - 1),
                (a, 0.0, -10.0 + a * sx, 0.0, e, 5.0 + e * sy),
            )
            t = rasterize_polygons(polys, gg, tile_size=TS)

            m = _map_tiles(t.select("tx", "ty", "data"), "tx long, ty long, data binary",
                           TS, _np.int32, lambda r, lab: {
                               **r, "data": (lab > 0).astype(_np.int64).tobytes()})
            masks = m if masks is None else masks.unionByName(m)

    def summed(key, p):
        acc = _np.zeros((TS, TS), dtype=_np.int64)
        for data in p["data"]:
            acc += _np.frombuffer(data, _np.int64).reshape(TS, TS)
        return _pd.DataFrame([{
            "tx": int(key[0]), "ty": int(key[1]), "data": acc.tobytes(),
        }])

    cov = masks.groupBy("tx", "ty").applyInPandas(
        summed, schema="tx long, ty long, data binary"
    )

    sums = _tile_checksums(cov, W, H, TS, "cs")
    nx, ny = W // TS, H // TS
    grid = spark.range(nx).withColumnRenamed("id", "tx").crossJoin(
        spark.range(ny).withColumnRenamed("id", "ty")
    )
    return (
        grid.join(sums, ["tx", "ty"], "left")
        .select("tx", "ty", F.coalesce(F.col("cs"), F.lit(0)).alias("cs"))
        .orderBy("ty", "tx")
    )


def q_rasterize_aa_oracle():
    vals = ",\n  ".join(
        f"({r['key']}, {r['xmin']!r}E0, {r['xmax']!r}E0, {r['ymin']!r}E0, {r['ymax']!r}E0)"
        for r in _rasterize_rects()
    )
    sub = []
    for sx in (-0.25, 0.25):
        for sy in (0.25, -0.25):
            # x sample = (2x+1)/128 - 10 + sx/64 ; y = 5 - (2y+1)/128 + sy*(-1/64)
            sub.append(
                "(CASE WHEN EXISTS (SELECT 1 FROM rects r WHERE "
                f"CAST(2 * px.px + 1 AS DOUBLE) / 128.0E0 - 10.0E0 + ({sx!r}E0 / 64.0E0) > r.xmin AND "
                f"CAST(2 * px.px + 1 AS DOUBLE) / 128.0E0 - 10.0E0 + ({sx!r}E0 / 64.0E0) < r.xmax AND "
                f"5.0E0 - CAST(2 * px.py + 1 AS DOUBLE) / 128.0E0 - ({sy!r}E0 / 64.0E0) > r.ymin AND "
                f"5.0E0 - CAST(2 * px.py + 1 AS DOUBLE) / 128.0E0 - ({sy!r}E0 / 64.0E0) < r.ymax) "
                "THEN 1 ELSE 0 END)"
            )
    cov = " + ".join(sub)
    return f"""
WITH rects(key, xmin, xmax, ymin, ymax) AS (VALUES
  {vals}),
px AS (
  SELECT x.x AS px, y.y AS py
  FROM generate_series(0, {RAST_W - 1}) x(x), generate_series(0, {RAST_H - 1}) y(y)),
lab AS (SELECT px, py, {cov} AS cvg FROM px)
SELECT CAST(px // {RAST_TS} AS BIGINT) AS tx, CAST(py // {RAST_TS} AS BIGINT) AS ty,
       CAST(sum(CAST(cvg AS BIGINT) * ((py * {RAST_W} + px) % 9973 + 1)) AS BIGINT) AS cs
FROM lab GROUP BY 1, 2 ORDER BY ty, tx"""


QUERIES["rasterize_aa"] = (q_rasterize_aa, q_rasterize_aa_oracle)


def q_densest_subgraph(spark, sf_dir):
    """Parallel densest-subgraph peel (graph.densest_subgraph_trace,
    Bahmani et al., eps = 1) on the symmetric document graph: per round
    the surviving (n, e) before removing every vertex with
    deg * n <= 4 * e — O(log n) rounds guaranteed; is_best marks the
    exact cross-compared density maximum.  The oracle unrolls the
    identical rounds."""
    from .operators.graph import densest_subgraph_trace

    edges, nodes = _mis_edges_df(spark, sf_dir)
    # plant a 20-clique (docs 0..19) so the peel has a core to converge to
    cl = nodes.filter(F.col("node") < 20)
    clique = (
        cl.select(F.col("node").alias("a"))
        .crossJoin(cl.select(F.col("node").alias("b")))
        .filter(F.col("a") != F.col("b"))
    )
    edges = edges.unionByName(clique).distinct()
    return densest_subgraph_trace(edges, nodes).orderBy("round")


def q_densest_subgraph_oracle():
    from .operators.graph import densest_subgraph_sql

    nodes = "SELECT CAST(doc_id AS BIGINT) AS node FROM documents"
    edges = f"""
SELECT DISTINCT a, b FROM (
  SELECT a, b FROM ({_mis_edges_sql()}) m
  UNION ALL
  SELECT x.i, y.i FROM
    (SELECT CAST(doc_id AS BIGINT) AS i FROM documents WHERE doc_id < 20) x,
    (SELECT CAST(doc_id AS BIGINT) AS i FROM documents WHERE doc_id < 20) y
  WHERE x.i != y.i) u"""
    return (
        "SELECT * FROM ("
        + densest_subgraph_sql(edges, nodes, rounds=30)
        + ") ORDER BY round"
    )


QUERIES["densest_subgraph"] = (q_densest_subgraph, q_densest_subgraph_oracle)


def q_quantile_transform(spark, sf_dir):
    """Rank-based quantile normalization of the embedding columns (the
    scikit-style QuantileTransformer, exact): per dimension, value ->
    floor((rank - 1) * 2^20 / (n - 1)) with ties broken by vec id (a
    deterministic documented variant) — per-vector position-weighted
    checksums of the transformed codes; one window + one partial agg."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.select(
        F.col("vec_id").cast("long").alias("id"),
        F.posexplode(F.col("embedding")).alias("p", "x"),
    ).select(
        "id", "p",
        F.floor(F.col("x").cast("double") * 10000000.0).cast("long").alias("v"),
    )
    w = Window.partitionBy("p").orderBy("v", "id")
    wall = Window.partitionBy("p")
    d = (
        q.withColumn("r", F.row_number().over(w).cast("long"))
        .withColumn("n", F.count(F.lit(1)).over(wall))
        .withColumn("qv", F.expr("((r - 1) * 1048576) div (n - 1)"))
    )
    return (
        d.groupBy(F.col("id").alias("vec_id"))
        .agg(
            F.sum("qv").alias("q_sum"),
            F.sum(F.col("qv") * (F.col("p") + 1)).alias("q_ws"),
        )
        .orderBy("vec_id")
    )


def q_quantile_transform_oracle():
    return """
WITH q AS (
  SELECT CAST(vec_id AS BIGINT) AS id,
         generate_subscripts(embedding, 1) AS p,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000000.0) AS BIGINT) AS v
  FROM embeddings),
d AS (
  SELECT id, p,
         ((row_number() OVER (PARTITION BY p ORDER BY v, id) - 1) * 1048576)
           // (count(*) OVER (PARTITION BY p) - 1) AS qv
  FROM q)
SELECT id AS vec_id, sum(qv) AS q_sum, sum(qv * p) AS q_ws
FROM d GROUP BY 1 ORDER BY vec_id"""


QUERIES["quantile_transform"] = (q_quantile_transform, q_quantile_transform_oracle)


def q_stab_count(spark, sf_dir):
    """Interval stabbing / concurrency counting: at each interval start,
    how many of the user's intervals (the `interval_sched` closed-form
    set) are active — the classic +1/-1 event prefix sum: explode each
    interval to (t0, +1) and (t1, -1), order by (t, delta) so closings
    apply before the opening at the same instant ([t0, t1) semantics),
    running-sum, keep the +1 events.  Pure window codegen both sides."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id", F.col("event_id").cast("long").alias("eid"),
        ((F.col("event_id") * 37) % 1000).cast("long").alias("t0"),
        ((F.col("event_id") * 37) % 1000
         + (F.col("event_id") % 7 + 1) * 3).cast("long").alias("t1"),
    )
    pts = ev.select(
        "user_id", "eid", F.col("t0").alias("t"), F.lit(1).alias("d")
    ).unionByName(ev.select(
        "user_id", F.col("eid"), F.col("t1").alias("t"), F.lit(-1).alias("d")
    ))
    w = Window.partitionBy("user_id").orderBy("t", "d", "eid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        pts.withColumn("c", F.sum("d").over(w))
        .filter(F.col("d") == 1)
        .select("user_id", "eid", "t", F.col("c").alias("active"))
        .orderBy("user_id", "eid")
    )


def q_stab_count_oracle():
    return """
WITH ev AS (
  SELECT user_id, CAST(event_id AS BIGINT) AS eid,
         (event_id * 37) % 1000 AS t0,
         (event_id * 37) % 1000 + (event_id % 7 + 1) * 3 AS t1
  FROM events),
pts AS (
  SELECT user_id, eid, t0 AS t, 1 AS d FROM ev
  UNION ALL SELECT user_id, eid, t1, -1 FROM ev),
c AS (
  SELECT user_id, eid, t, d,
         sum(d) OVER (PARTITION BY user_id ORDER BY t, d, eid
                      ROWS UNBOUNDED PRECEDING) AS c
  FROM pts)
SELECT user_id, eid, CAST(t AS BIGINT) AS t, CAST(c AS BIGINT) AS active
FROM c WHERE d = 1 ORDER BY user_id, eid"""


QUERIES["stab_count"] = (q_stab_count, q_stab_count_oracle)


def q_kadane(spark, sf_dir):
    """Maximum-sum subarray per user (timeseries.max_subarray, Kadane) over
    a deterministic +/- signal derived from event ids: the prefix-extremum
    identity best(t) = S_t - min(0, min prefix S) makes the classic
    recurrence pure window codegen — two window passes, one pick, no
    applyInPandas (the cusum discipline applied to max instead of min)."""
    from .operators.timeseries import max_subarray

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id",
        ((F.col("event_id") * 37) % 21 - 10).cast("long").alias("v"),
    )
    return max_subarray(ev, key_col="user_id", order_col="event_id",
                        value_col="v").orderBy("user_id")


def q_kadane_oracle():
    from .operators.timeseries import max_subarray_sql

    base = ("SELECT user_id, event_id, (event_id * 37) % 21 - 10 AS v "
            "FROM events")
    return ("SELECT * FROM (" + max_subarray_sql(
        base, key_col="user_id", order_col="event_id", value_col="v"
    ) + ") ORDER BY user_id")


QUERIES["kadane"] = (q_kadane, q_kadane_oracle)


_FK_PAIRS_SQL = [
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("events_customer", "events", "user_id", "customer", "c_custkey"),
]


def q_fk_audit(spark, sf_dir):
    """Inclusion-dependency / foreign-key audit (quality.inclusion_audit)
    over five candidate key pairs of the TPC-H-ish schema: distinct child
    keys + orphan counts via broadcast LEFT ANTI joins against the
    dimension keys — the data-profiling primitive behind FK discovery
    (the SQL-store JDBC-metadata analog, SQL/TableAnalyzer.java derives
    declared FKs; this audits undeclared ones)."""
    from .operators.quality import inclusion_audit

    pairs = [
        (label, _read(spark, sf_dir, crel), ccol, _read(spark, sf_dir, prel), pcol)
        for label, crel, ccol, prel, pcol in _FK_PAIRS_SQL
    ]
    return inclusion_audit(pairs).orderBy("label")


def q_fk_audit_oracle():
    from .operators.quality import inclusion_audit_sql

    return ("SELECT * FROM (" + inclusion_audit_sql(_FK_PAIRS_SQL)
            + ") ORDER BY label")


QUERIES["fk_audit"] = (q_fk_audit, q_fk_audit_oracle)


def q_vocab_stats(spark, sf_dir):
    """Zipf vocabulary profile per document source (textops.vocab_stats):
    token totals, vocabulary size, hapax/dis legomena, top-type frequency,
    exact TTR — the per-shard corpus-health diagnostics; one explode + two
    map-side-combined aggregations."""
    from .operators.textops import vocab_stats

    return vocab_stats(_read(spark, sf_dir, "documents")).orderBy("source")


def q_vocab_stats_oracle():
    from .operators.textops import vocab_stats_sql

    return "SELECT * FROM (" + vocab_stats_sql() + ") ORDER BY source"


QUERIES["vocab_stats"] = (q_vocab_stats, q_vocab_stats_oracle)


def q_readability(spark, sf_dir):
    """Flesch reading-ease per document (textops.readability_counts):
    whitespace words, [.!?]+ sentences, vowel-group syllables (min 1 each),
    score quantized at 1e6 through ONE shared expression text — the
    readability axis of the quality-scoring suite."""
    from .operators.textops import readability_counts

    return readability_counts(_read(spark, sf_dir, "documents")).orderBy("doc_id")


def q_readability_oracle():
    from .operators.textops import readability_sql

    return "SELECT * FROM (" + readability_sql() + ") ORDER BY doc_id"


QUERIES["readability"] = (q_readability, q_readability_oracle)


def q_mulaw(spark, sf_dir):
    """G.711 mu-law audio companding (media.mulaw_exprs): int16 PCM samples
    derived from event ids -> 8-bit code + decoded reconstruction, pure
    integer segment arithmetic (bit-length exponent via length(bin()), no
    FP log) — the telephony codec as a map-only codegen pass."""
    from .operators.media import mulaw_exprs

    code, dec = mulaw_exprs("pcm", " div ")
    return (
        _read(spark, sf_dir, "events")
        .select(
            "event_id",
            ((F.col("event_id") * 9973) % 65536 - 32768).cast("long").alias("pcm"),
        )
        .select(
            "event_id", "pcm",
            F.expr(code).cast("long").alias("code"),
            F.expr(dec).cast("long").alias("decoded"),
        )
        .orderBy("event_id")
    )


def q_mulaw_oracle():
    from .operators.media import mulaw_exprs

    code, dec = mulaw_exprs("pcm", " // ")
    return f"""
WITH s AS (
  SELECT event_id,
         CAST((event_id * 9973) % 65536 - 32768 AS BIGINT) AS pcm
  FROM events)
SELECT event_id, pcm, {code} AS code, {dec} AS decoded
FROM s ORDER BY event_id"""


QUERIES["mulaw"] = (q_mulaw, q_mulaw_oracle)


def q_shot_cuts(spark, sf_dir):
    """Shot segmentation (media.shot_segments) on the frame_diff gate's
    scene clips: packed-key 1-D non-max suppression picks one cut per
    transition (threshold 5000, guard 2), running cut count numbers the
    shots, per-shot frame/energy stats — the video-structure op above the
    raw differencer."""
    import pandas as _pd

    from .operators.media import VIDEO_SCHEMA, frame_diffs, make_scene_video, shot_segments

    video = spark.createDataFrame(
        _pd.DataFrame([make_scene_video(c) for c in range(N_GATE_CLIPS)]),
        schema=VIDEO_SCHEMA,
    ).repartition(min(N_GATE_CLIPS, spark.sparkContext.defaultParallelism))
    d = frame_diffs(video, cut_threshold=5000)
    return shot_segments(d, threshold=5000, guard=2).orderBy("media_id", "shot")


def q_shot_cuts_oracle():
    from .operators.media import shot_segments_sql

    v = ("((x.x * 5 + y.y * 11 + (({f}) // 5) * 37 + ch.ch * 29 "
         "+ m.m * 7 + ({f})) % 256)")
    sad = f"""
  SELECT 'vid-' || lpad(CAST(m.m AS VARCHAR), 9, '0') AS media_id,
         CAST(f.f AS INT) AS frame,
         CAST(sum(abs({v.format(f='f.f')} - {v.format(f='f.f - 1')})) AS BIGINT) AS sad
  FROM generate_series(0, {N_GATE_CLIPS - 1}) m(m),
       generate_series(1, 11) f(f),
       generate_series(0, 15) x(x), generate_series(0, 11) y(y),
       generate_series(0, 2) ch(ch)
  GROUP BY 1, 2"""
    return (
        "SELECT * FROM ("
        + shot_segments_sql(sad, threshold=5000, guard=2)
        + ") ORDER BY media_id, shot"
    )


QUERIES["shot_cuts"] = (q_shot_cuts, q_shot_cuts_oracle)


def q_conformal(spark, sf_dir):
    """Split-conformal prediction audit (analytics.conformal_coverage,
    alpha=1/5) per event_type: residuals are a deterministic integer
    signal, even event ids calibrate, odd ids test; q_hat is the exact
    ceil((n+1)(1-alpha)) order statistic, coverage an exact count — the
    distribution-free uncertainty layer over any point predictor."""
    from .operators.analytics import conformal_coverage

    ev = _read(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        ((F.col("event_id") * 7) % 11).cast("long").alias("r"),
        (F.col("event_id") % 2 == 0).alias("is_cal"),
        F.col("event_id").alias("id"),
    )
    return conformal_coverage(
        ev, group_col="g", resid_col="r", cal_col="is_cal", id_col="id",
        alpha_num=1, alpha_den=5,
    ).orderBy("g")


def q_conformal_oracle():
    from .operators.analytics import conformal_coverage_sql

    base = ("SELECT event_type AS g, (event_id * 7) % 11 AS r, "
            "event_id % 2 = 0 AS is_cal, event_id AS id FROM events")
    return ("SELECT * FROM (" + conformal_coverage_sql(
        base, group_col="g", resid_col="r", cal_col="is_cal", id_col="id",
        alpha_num=1, alpha_den=5,
    ) + ") ORDER BY g")


QUERIES["conformal"] = (q_conformal, q_conformal_oracle)


def q_min_circle(spark, sf_dir):
    """Minimum enclosing circle per user track
    (triangulate.min_enclosing_circle): pair + circumcircle candidates,
    exact bigint/HUGEINT containment, identical-double selection; coords
    quantized at 1e2 so the containment products keep nine orders of
    HUGEINT margin (the delaunay discipline at MEC's deeper products)."""
    from .functions.triangulate import min_enclosing_circle

    lon, lat = point_lonlat_cols("event_id")
    w = Window.partitionBy("user_id").orderBy("event_id")
    pts = (
        _read(spark, sf_dir, "events")
        .select(
            "user_id", "event_id",
            F.floor(lon * 100 + F.lit(0.12345678987)).cast("long").alias("x"),
            F.floor(lat * 100 + F.lit(0.12345678987)).cast("long").alias("y"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 12)
        .select(F.col("user_id").alias("k"), "x", "y")
    )
    return min_enclosing_circle(pts).orderBy("k")


def q_min_circle_oracle():
    from .functions.triangulate import min_enclosing_circle_sql

    base = f"""
SELECT k, x, y FROM (
  SELECT user_id AS k,
         CAST(floor(({synth.point_lon_sql('event_id')}) * 1.0e2
                    + 0.12345678987) AS BIGINT) AS x,
         CAST(floor(({synth.point_lat_sql('event_id')}) * 1.0e2
                    + 0.12345678987) AS BIGINT) AS y,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events) t
WHERE rn <= 12"""
    return ("SELECT * FROM (" + min_enclosing_circle_sql(base)
            + ") ORDER BY k")


QUERIES["min_circle"] = (q_min_circle, q_min_circle_oracle)


def q_lz77(spark, sf_dir):
    """Greedy bounded-window LZ77 factorization (textops.lz77_factors,
    window 64, match 3..16, first 160 chars): the gzip-style
    compressibility profile per document — one mapInPandas parse pass;
    the oracle replays the identical greedy rule as a lockstep recursive
    CTE."""
    from .operators.textops import lz77_factors

    return lz77_factors(_read(spark, sf_dir, "documents")).orderBy("doc_id", "idx")


def q_lz77_oracle():
    from .operators.textops import lz77_factors_sql

    return "SELECT * FROM (" + lz77_factors_sql() + ") ORDER BY doc_id, idx"


QUERIES["lz77"] = (q_lz77, q_lz77_oracle)


def q_greedy_matching(spark, sf_dir):
    """Locally-dominant greedy max-weight matching (graph.greedy_matching)
    on the symmetrized document graph reduced to u < v edges with
    deterministic weights: an edge matches when it is the best at BOTH
    endpoints — the distributed 1/2-approximation of maximum weight
    matching; the oracle unrolls the identical packed-key rounds."""
    from .operators.graph import greedy_matching

    edges, _ = _mis_edges_df(spark, sf_dir)
    e = edges.filter(F.col("a") < F.col("b")).select(
        F.col("a").alias("u"), F.col("b").alias("v"),
        ((F.col("a") * 13 + F.col("b") * 7) % 1000).cast("long").alias("w"),
    )
    return greedy_matching(e, max_rounds=12).orderBy("u", "v")


def q_greedy_matching_oracle():
    from .operators.graph import greedy_matching_sql

    edges = (
        f"SELECT a AS u, b AS v, (a * 13 + b * 7) % 1000 AS w "
        f"FROM ({_mis_edges_sql()}) se WHERE a < b"
    )
    return ("SELECT * FROM (" + greedy_matching_sql(edges, rounds=12)
            + ") ORDER BY u, v")


QUERIES["greedy_matching"] = (q_greedy_matching, q_greedy_matching_oracle)


def q_rect_union(spark, sf_dir):
    """Union area of the detection boxes per image (boxes.union_area):
    slab decomposition + the 1-D interval-union sweep as pure window
    codegen — exact integer geometry over overlapping boxes (the measure
    problem / Klee's algorithm in 2-D)."""
    from .operators.boxes import union_area

    return union_area(_boxes_df(spark, sf_dir)).orderBy("image_id")


def q_rect_union_oracle():
    from .operators.boxes import union_area_sql

    return ("SELECT * FROM (" + union_area_sql(_BOXES_SQL)
            + ") ORDER BY image_id")


QUERIES["rect_union"] = (q_rect_union, q_rect_union_oracle)


def q_region_quadtree(spark, sf_dir):
    """Region-quadtree compression of a 64x64 classified raster
    (tiling.region_quadtree): bottom-up uniformity roll-up, leaves =
    maximal uniform blocks — six chained 4-to-1 aggregations + per-level
    parent checks; the raster twin of `adaptive_cells`."""
    from .operators.tiling import region_quadtree

    n = 64
    px = spark.range(n * n).select(
        (F.col("id") % n).alias("x"),
        (F.col("id") / n).cast("long").alias("y"),
    ).withColumn(
        "v",
        F.when(((F.col("x") / 8).cast("long") * 3
                + (F.col("y") / 8).cast("long") * 5) % 7 < 3, 1)
        .otherwise(((F.col("x") * 7 + F.col("y") * 13) % 29 < 9).cast("long")),
    )
    return region_quadtree(px, levels=6).orderBy("lvl", "bx", "by")


def q_region_quadtree_oracle():
    from .operators.tiling import region_quadtree_sql

    base = """
SELECT (i % 64) AS x, (i // 64) AS y,
       CASE WHEN ((i % 64) // 8 * 3 + (i // 64) // 8 * 5) % 7 < 3 THEN 1
            ELSE CAST(((i % 64) * 7 + (i // 64) * 13) % 29 < 9 AS BIGINT)
       END AS v
FROM (SELECT unnest(range(4096)) AS i) t"""
    return ("SELECT * FROM (" + region_quadtree_sql(base, levels=6)
            + ") ORDER BY lvl, bx, by")


QUERIES["region_quadtree"] = (q_region_quadtree, q_region_quadtree_oracle)


_CIDR_TABLE = (
    [(f"net{k:02d}", k << 28, 4) for k in range(16)]
    + [(f"sub{k:02d}", k << 24, 8) for k in range(16)]
    + [(f"leaf{k:02d}", k << 20, 12) for k in range(8)]
)


def q_cidr_match(spark, sf_dir):
    """Longest-prefix CIDR enrichment (analytics.cidr_longest_match) of
    deterministic event IPs against a 40-network table: prefix-explode to
    an equi-join (no nested loop), window argmax on prefix length — the
    routing-table join of log analytics."""
    from .operators.analytics import cidr_longest_match

    ips = _read(spark, sf_dir, "events").select(
        "event_id",
        ((F.col("event_id") * 2654435761) % 4294967296).cast("long").alias("ip"),
    )
    return cidr_longest_match(ips, _CIDR_TABLE).orderBy("event_id")


def q_cidr_match_oracle():
    from .operators.analytics import cidr_longest_match_sql

    base = ("SELECT event_id, (event_id * 2654435761) % 4294967296 AS ip "
            "FROM events")
    return ("SELECT * FROM (" + cidr_longest_match_sql(base, _CIDR_TABLE)
            + ") ORDER BY event_id")


QUERIES["cidr_match"] = (q_cidr_match, q_cidr_match_oracle)


def _caliper_pts_df(spark, sf_dir):
    lon, lat = point_lonlat_cols("event_id")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return (
        _read(spark, sf_dir, "events")
        .select(
            "user_id", "event_id",
            F.floor(lon * 100 + F.lit(0.12345678987)).cast("long").alias("x"),
            F.floor(lat * 100 + F.lit(0.12345678987)).cast("long").alias("y"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 12)
        .select(F.col("user_id").alias("k"), "x", "y")
    )


_CALIPER_PTS_SQL = None


def _caliper_pts_sql():
    return f"""
SELECT k, x, y FROM (
  SELECT user_id AS k,
         CAST(floor(({synth.point_lon_sql('event_id')}) * 1.0e2
                    + 0.12345678987) AS BIGINT) AS x,
         CAST(floor(({synth.point_lat_sql('event_id')}) * 1.0e2
                    + 0.12345678987) AS BIGINT) AS y,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events) t
WHERE rn <= 12"""


def q_hull_caliper(spark, sf_dir):
    """Rotating-calipers width^2 + minimum-area bounding rectangle per
    user track (trajectory.caliper_stats), as exact gcd-reduced rationals:
    the engine scans convex-hull edges, the oracle re-derives both minima
    over ALL point-pair directions (the superset identity — hull-free
    oracle, the hull_diameter discipline extended to calipers)."""
    from .operators.trajectory import caliper_stats

    return caliper_stats(_caliper_pts_df(spark, sf_dir)).orderBy("k")


def q_hull_caliper_oracle():
    from .operators.trajectory import caliper_stats_sql

    return ("SELECT * FROM (" + caliper_stats_sql(_caliper_pts_sql())
            + ") ORDER BY k")


QUERIES["hull_caliper"] = (q_hull_caliper, q_hull_caliper_oracle)


def q_adler32(spark, sf_dir):
    """Adler-32 checksums per document (textops.adler32_docs): the RFC 1950
    rolling checksum re-expressed as a position-weighted sum — one explode
    + one map-side-combined aggregation, exact int64; the ingest-manifest
    integrity primitive."""
    from .operators.textops import adler32_docs

    return adler32_docs(_read(spark, sf_dir, "documents")).orderBy("doc_id")


def q_adler32_oracle():
    from .operators.textops import adler32_sql

    return "SELECT * FROM (" + adler32_sql() + ") ORDER BY doc_id"


QUERIES["adler32"] = (q_adler32, q_adler32_oracle)


def q_luhn(spark, sf_dir):
    """Luhn mod-10 validation (quality.luhn_exprs) of deterministic
    10-digit account numbers: fully unrolled double-with-carry digit sum,
    map-only codegen — the payment-card / id-field data-quality audit."""
    from .operators.quality import luhn_exprs

    total, valid = luhn_exprs("num", " div ")
    return (
        _read(spark, sf_dir, "events")
        .select(
            "event_id",
            ((F.col("event_id") * 1000003) % 10000000000).cast("long").alias("num"),
        )
        .select(
            "event_id", "num",
            F.expr(total).cast("long").alias("digit_sum"),
            F.expr(valid).alias("valid"),
        )
        .orderBy("event_id")
    )


def q_luhn_oracle():
    from .operators.quality import luhn_exprs

    total, valid = luhn_exprs("num", " // ")
    return f"""
WITH s AS (
  SELECT event_id,
         CAST((event_id * 1000003) % 10000000000 AS BIGINT) AS num
  FROM events)
SELECT event_id, num, {total} AS digit_sum, {valid} AS valid
FROM s ORDER BY event_id"""


QUERIES["luhn"] = (q_luhn, q_luhn_oracle)


_TG_EDGES_SQL = """
SELECT i AS u, (i * 7 + 11) % n AS v, (i * 3) % 40 AS t, 1 + i % 5 AS d
FROM (SELECT CAST(doc_id AS BIGINT) AS i,
             (SELECT count(*) FROM documents) AS n FROM documents) a
UNION ALL
SELECT i, (i * 13 + 5) % n, (i * 11) % 40, 1 + i % 3
FROM (SELECT CAST(doc_id AS BIGINT) AS i,
             (SELECT count(*) FROM documents) AS n FROM documents) b"""


def q_temporal_reach(spark, sf_dir):
    """Temporal-graph earliest arrival from node 0 (graph.earliest_arrival,
    8 relax rounds) over timestamped document edges: an edge departs at t
    only if you arrived by t — the foremost-journey primitive of
    contact/transport networks; per round one equi-join + one min-agg."""
    from .operators.graph import earliest_arrival

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("i")
    )
    n = docs.count()
    i = F.col("i")
    e = docs.select(
        i.alias("u"), ((i * 7 + 11) % n).alias("v"),
        ((i * 3) % 40).alias("t"), (1 + i % 5).alias("d"),
    ).unionByName(docs.select(
        i.alias("u"), ((i * 13 + 5) % n).alias("v"),
        ((i * 11) % 40).alias("t"), (1 + i % 3).alias("d"),
    ))
    return earliest_arrival(e, src=0, rounds=8).orderBy("node")


def q_temporal_reach_oracle():
    from .operators.graph import earliest_arrival_sql

    return ("SELECT * FROM (" + earliest_arrival_sql(_TG_EDGES_SQL, 0, 8)
            + ") ORDER BY node")


QUERIES["temporal_reach"] = (q_temporal_reach, q_temporal_reach_oracle)


def q_kriging(spark, sf_dir):
    """Ordinary kriging (density.kriging_ordinary, linear variogram,
    3-neighbor): exact Cramer solve of the 4x4 kriging system in big
    integers over 2^10-quantized gammas (IEEE sqrt is correctly rounded,
    so both engines quantize identically); supplier points interpolated
    from the customer field — the geostatistics flagship."""
    from .operators.density import kriging_ordinary

    slon, slat = point_lonlat_cols("s_suppkey")
    queries = _read(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("qid"),
        F.floor(slon * 100 + F.lit(0.12345678987)).cast("long").alias("x"),
        F.floor(slat * 100 + F.lit(0.12345678987)).cast("long").alias("y"),
    )
    clon, clat = point_lonlat_cols("c_custkey")
    knowns = _read(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("id"),
        F.floor(clon * 100 + F.lit(0.12345678987)).cast("long").alias("x"),
        F.floor(clat * 100 + F.lit(0.12345678987)).cast("long").alias("y"),
        ((F.col("c_custkey") * 37) % 100).cast("long").alias("z"),
    )
    return kriging_ordinary(queries, knowns).orderBy("qid")


def q_kriging_oracle():
    from .operators.density import kriging_ordinary_sql

    queries = f"""
SELECT CAST(s_suppkey AS BIGINT) AS qid,
       CAST(floor(({synth.point_lon_sql('s_suppkey')}) * 1.0e2
                  + 0.12345678987) AS BIGINT) AS x,
       CAST(floor(({synth.point_lat_sql('s_suppkey')}) * 1.0e2
                  + 0.12345678987) AS BIGINT) AS y
FROM supplier"""
    knowns = f"""
SELECT CAST(c_custkey AS BIGINT) AS id,
       CAST(floor(({synth.point_lon_sql('c_custkey')}) * 1.0e2
                  + 0.12345678987) AS BIGINT) AS x,
       CAST(floor(({synth.point_lat_sql('c_custkey')}) * 1.0e2
                  + 0.12345678987) AS BIGINT) AS y,
       (c_custkey * 37) % 100 AS z
FROM customer"""
    return ("SELECT * FROM (" + kriging_ordinary_sql(queries, knowns)
            + ") ORDER BY qid")


QUERIES["kriging"] = (q_kriging, q_kriging_oracle)


def q_wht(spark, sf_dir):
    """Exact Walsh-Hadamard spectrum (timeseries.wht64) of each user's
    first 64 signal samples: the +/-1 closed form over bit_count — the
    integer-exact transform next to the quantized `dft` gate."""
    from .operators.timeseries import wht64

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id",
        ((F.col("event_id") * 23) % 17 - 8).cast("long").alias("v"),
    )
    return wht64(ev).orderBy("user_id", "k")


def q_wht_oracle():
    from .operators.timeseries import wht64_sql

    base = ("SELECT user_id, event_id, (event_id * 23) % 17 - 8 AS v "
            "FROM events")
    return "SELECT * FROM (" + wht64_sql(base) + ") ORDER BY user_id, k"


QUERIES["wht"] = (q_wht, q_wht_oracle)


def q_drawdown(spark, sf_dir):
    """Maximum drawdown per user (timeseries.max_drawdown) of the kadane
    gate's cumulative signal: running-max minus running-sum, earliest-rank
    tie — the risk metric twin of `kadane`."""
    from .operators.timeseries import max_drawdown

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id",
        ((F.col("event_id") * 37) % 21 - 10).cast("long").alias("v"),
    )
    return max_drawdown(ev).orderBy("user_id")


def q_drawdown_oracle():
    from .operators.timeseries import max_drawdown_sql

    base = ("SELECT user_id, event_id, (event_id * 37) % 21 - 10 AS v "
            "FROM events")
    return "SELECT * FROM (" + max_drawdown_sql(base) + ") ORDER BY user_id"


QUERIES["drawdown"] = (q_drawdown, q_drawdown_oracle)


def q_ohlc(spark, sf_dir):
    """OHLC candles (timeseries.ohlc_bars) per (user, 500-event bucket)
    over integer-quantized prices: min_by/max_by open/close against
    DuckDB arg_min/arg_max — the canonical feed downsampler as one
    map-side-combined aggregation."""
    from .operators.timeseries import ohlc_bars

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id",
        (F.col("event_id") / 500).cast("long").alias("bucket"),
        F.floor(F.col("value") * 100).cast("long").alias("price"),
    )
    return ohlc_bars(ev).orderBy("user_id", "bucket")


def q_ohlc_oracle():
    from .operators.timeseries import ohlc_bars_sql

    base = ("SELECT user_id, event_id, event_id // 500 AS bucket, "
            "CAST(floor(value * 100) AS BIGINT) AS price FROM events")
    return ("SELECT * FROM (" + ohlc_bars_sql(base)
            + ") ORDER BY user_id, bucket")


QUERIES["ohlc"] = (q_ohlc, q_ohlc_oracle)


def q_tree_depth2(spark, sf_dir):
    """Depth-2 decision tree (analytics.tree_depth2): exact-Gini stump on
    feature 1, then per-branch stumps on feature 2 over re-keyed branches
    — two chained window passes, the shallow-tree extension of
    `decision_stump`."""
    from .operators.analytics import tree_depth2

    ev = _read(spark, sf_dir, "events").select(
        (F.col("event_id") % 8).cast("long").alias("g"),
        ((F.col("event_id") * 7) % 50).cast("long").alias("f1"),
        ((F.col("event_id") * 11) % 50).cast("long").alias("f2"),
        F.when((F.col("event_id") * 7) % 50 < 25,
               ((F.col("event_id") % 5) < 3).cast("long"))
        .otherwise(((F.col("event_id") % 5) < 1).cast("long")).alias("y"),
    )
    return tree_depth2(ev, "g", "f1", "f2", "y").orderBy("k", "side")


def q_tree_depth2_oracle():
    from .operators.analytics import tree_depth2_sql

    base = """
SELECT event_id % 8 AS g, (event_id * 7) % 50 AS f1,
       (event_id * 11) % 50 AS f2,
       CASE WHEN (event_id * 7) % 50 < 25
            THEN CAST((event_id % 5) < 3 AS BIGINT)
            ELSE CAST((event_id % 5) < 1 AS BIGINT) END AS y
FROM events"""
    return ("SELECT * FROM (" + tree_depth2_sql(base, "g", "f1", "f2", "y")
            + ") ORDER BY k, side")


QUERIES["tree_depth2"] = (q_tree_depth2, q_tree_depth2_oracle)


def q_apportion(spark, sf_dir):
    """Largest-remainder (Hare) seat apportionment
    (analytics.apportion_largest_remainder, 1000 seats) of order counts
    per customer segment-key — exact integer quotas + remainder ranking;
    the allocation primitive of sampling budgets and shard planning."""
    from .operators.analytics import apportion_largest_remainder

    votes = (
        _read(spark, sf_dir, "orders")
        .groupBy((F.col("o_custkey") % 25).cast("long").alias("seg"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    return apportion_largest_remainder(votes, "seg", "n", seats=1000).orderBy("k")


def q_apportion_oracle():
    from .operators.analytics import apportion_sql

    base = ("SELECT o_custkey % 25 AS seg, count(*) AS n "
            "FROM orders GROUP BY 1")
    return ("SELECT * FROM (" + apportion_sql(base, "seg", "n", 1000)
            + ") ORDER BY k")


QUERIES["apportion"] = (q_apportion, q_apportion_oracle)


def q_rendezvous(spark, sf_dir):
    """Rendezvous (HRW) shard assignment (analytics.rendezvous_assign) of
    event keys across 12 nodes: explode + window argmax of a bounded
    integer mix — the stateless consistent-assignment rule, minimal
    reshuffle on node loss."""
    from .operators.analytics import rendezvous_assign

    keys = _read(spark, sf_dir, "events").select(
        F.col("event_id").cast("long").alias("key_id")
    )
    return rendezvous_assign(keys, list(range(12))).orderBy("key_id")


def q_rendezvous_oracle():
    from .operators.analytics import rendezvous_sql

    return ("SELECT * FROM ("
            + rendezvous_sql("SELECT event_id AS key_id FROM events",
                             list(range(12)))
            + ") ORDER BY key_id")


QUERIES["rendezvous"] = (q_rendezvous, q_rendezvous_oracle)


def q_merkle_root(spark, sf_dir):
    """Merkle roots per document source (quality.merkle_root, 12 pairing
    rounds): leaves are per-doc md5s in doc_id order, parents
    md5(left || right) hex — the shard-integrity primitive; log-depth
    2-to-1 aggregations."""
    from .operators.quality import merkle_root

    w = Window.partitionBy("source").orderBy("doc_id")
    leaves = _read(spark, sf_dir, "documents").select(
        F.col("source").alias("g"),
        F.expr("md5(cast(text as binary))").alias("h"),
        F.row_number().over(w).cast("long").alias("rank"),
    )
    return merkle_root(leaves).orderBy("g")


def q_merkle_root_oracle():
    from .operators.quality import merkle_root_sql

    leaves = """
SELECT source AS g, md5(text) AS h,
       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rank
FROM documents"""
    return "SELECT * FROM (" + merkle_root_sql(leaves) + ") ORDER BY g"


QUERIES["merkle_root"] = (q_merkle_root, q_merkle_root_oracle)


def q_secret_share(spark, sf_dir):
    """Shamir (3,5) secret sharing over GF(2^31-1)
    (quality.shamir_exprs): five polynomial shares per document secret +
    exact reconstruction from shares 1-3 with integer Lagrange weights —
    map-only modular codegen, shared expression text both engines."""
    from .operators.quality import shamir_exprs

    exprs = shamir_exprs("s")
    cols = [F.expr(sql).cast("long").alias(name) for name, sql in exprs]
    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        ((F.col("doc_id") * 123457) % 2147483647).cast("long").alias("s"),
    )
    return d.select("doc_id", "s", *cols).withColumn(
        "ok", F.col("recovered") == F.col("s")
    ).orderBy("doc_id")


def q_secret_share_oracle():
    from .operators.quality import shamir_exprs

    exprs = shamir_exprs("s")
    cols = ", ".join(f"{sql} AS {name}" for name, sql in exprs)
    return f"""
WITH d AS (
  SELECT doc_id, (doc_id * 123457) % 2147483647 AS s FROM documents)
SELECT doc_id, s, {cols},
       {exprs[-1][1]} = s AS ok
FROM d ORDER BY doc_id"""


QUERIES["secret_share"] = (q_secret_share, q_secret_share_oracle)


def q_strahler(spark, sf_dir):
    """Strahler stream order (raster/terrain.strahler_order) over the D8
    flow forest of the 128x128 formula DEM: Jacobi rounds of
    max/count-at-max upstream aggregations — the hydrological branching
    index completing the flow_dir/flow_accum/watershed family.  Output:
    per-tile position-weighted checksum + order histogram stats."""
    from .raster.grid import GridGeometry
    from .raster.terrain import flow_cells, flow_dir_tiles, strahler_order

    W = H = 128
    TS = 64
    tiles = _formula_tiles(spark, W, H, bands=1, tile_size=TS)
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    cells = flow_cells(flow_dir_tiles(tiles, gg, tile_size=TS), gg, TS)
    o = strahler_order(cells)
    return _cell_checksums(o, W, TS, F.col("ord"), F.count(F.lit(1)).alias("n"),
                           F.max("ord").alias("max_ord"))


def q_strahler_oracle():
    from .raster.terrain import _D8, strahler_rounds_sql

    dx = " ".join(f"WHEN dir = {c} THEN {ddx}" for ddx, ddy, c in _D8)
    dy = " ".join(f"WHEN dir = {c} THEN {ddy}" for ddx, ddy, c in _D8)
    R = 6
    return _d8_sql_cte(128, 128) + f""",
step AS (
  SELECT x, y, CASE {dx} END AS dx, CASE {dy} END AS dy
  FROM dir WHERE dir > 0),
{strahler_rounds_sql(R)}
SELECT x // 64 AS tx, y // 64 AS ty,
       sum(ord * ((y * 128 + x) % 9973 + 1)) AS cs,
       count(*) AS n, max(ord) AS max_ord
FROM o{R} GROUP BY 1, 2 ORDER BY tx, ty"""


QUERIES["strahler"] = (q_strahler, q_strahler_oracle)


def q_gorilla_size(spark, sf_dir):
    """Gorilla-style storage-size estimate (timeseries.gorilla_size) per
    user signal: zigzag delta-of-delta varint byte accounting, exact —
    the telemetry-retention planner; two lag windows + one aggregation."""
    from .operators.timeseries import gorilla_size

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id",
        (F.col("event_id") * 3 % 97 + (F.col("event_id") % 7) * 50).cast("long").alias("v"),
    )
    return gorilla_size(ev).orderBy("user_id")


def q_gorilla_size_oracle():
    from .operators.timeseries import gorilla_size_sql

    base = ("SELECT user_id, event_id, "
            "event_id * 3 % 97 + (event_id % 7) * 50 AS v FROM events")
    return ("SELECT * FROM (" + gorilla_size_sql(base) + ") ORDER BY user_id")


QUERIES["gorilla_size"] = (q_gorilla_size, q_gorilla_size_oracle)


def q_neyman(spark, sf_dir):
    """Neyman-optimal stratified allocation (sampling.neyman_allocation,
    10000 samples across event_type strata): exact integer moments, one
    correctly-rounded sqrt quantized at 2^10, largest-remainder seats —
    the sampling-design layer over `stratified_sample` + `apportion`."""
    from .operators.sampling import neyman_allocation

    ev = _read(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") * 100).cast("long").alias("x"),
    )
    return neyman_allocation(ev, "event_type", "x", 10000).orderBy("event_type")


def q_neyman_oracle():
    from .operators.sampling import neyman_allocation_sql

    base = ("SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS x "
            "FROM events")
    return ("SELECT * FROM ("
            + neyman_allocation_sql(base, "event_type", "x", 10000)
            + ") ORDER BY event_type")


QUERIES["neyman"] = (q_neyman, q_neyman_oracle)


def q_wl_colors(spark, sf_dir):
    """1-WL color refinement (graph.wl_colors, 3 rounds) on the document
    graph: md5 recoloring over sorted neighbor multisets — the graph
    fingerprint behind WL kernels and GNN expressivity tests."""
    from .operators.graph import wl_colors

    edges, nodes = _mis_edges_df(spark, sf_dir)
    return wl_colors(edges, nodes, rounds=3).orderBy("node")


def q_wl_colors_oracle():
    from .operators.graph import wl_colors_sql

    nodes = "SELECT CAST(doc_id AS BIGINT) AS node FROM documents"
    return ("SELECT * FROM (" + wl_colors_sql(_mis_edges_sql(), nodes, 3)
            + ") ORDER BY node")


QUERIES["wl_colors"] = (q_wl_colors, q_wl_colors_oracle)


def q_sliding_distinct(spark, sf_dir):
    """Sliding COUNT(DISTINCT event_type) over the last 8 events per user
    (timeseries.sliding_distinct): the contribute-forward explode that
    expresses what window frames cannot — constant fan-out, one keyed
    aggregation."""
    from .operators.timeseries import sliding_distinct

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("event_type").alias("val")
    )
    return sliding_distinct(ev).orderBy("user_id", "rn")


def q_sliding_distinct_oracle():
    from .operators.timeseries import sliding_distinct_sql

    base = "SELECT user_id, event_id, event_type AS val FROM events"
    return ("SELECT * FROM (" + sliding_distinct_sql(base)
            + ") ORDER BY user_id, rn")


QUERIES["sliding_distinct"] = (q_sliding_distinct, q_sliding_distinct_oracle)


_ROT_M = (0.6, -0.8, 121.65, 0.8, 0.6, -83.45)  # 3-4-5 rotation, dst->src
_ROT_SW = _ROT_SH = 192
_ROT_DW = _ROT_DH = 256


def _rot_geoms():
    from .functions import transforms as _tr
    from .raster.grid import GridGeometry

    src_gg = GridGeometry((0, 0, _ROT_SW - 1, _ROT_SH - 1),
                          (1.0, 0.0, 0.0, 0.0, -1.0, float(_ROT_SH)))
    dst_aff = _tr.affine_concat(src_gg.affine, _ROT_M)
    dst_gg = GridGeometry((0, 0, _ROT_DW - 1, _ROT_DH - 1), dst_aff)
    return src_gg, dst_gg


def q_rotate_nearest(spark, sf_dir):
    """Arbitrary-angle raster rotation through the gather warp
    (resample_gather with a ROTATING affine — the first gate exercising
    the manifest's four-corner bound): the 3-4-5 Pythagorean rotation
    (cos 0.6 / sin 0.8) lands every source fraction on the 0.2 grid
    offset by .05, so nearest rint has no ties; the oracle recomputes the
    merged center chain with the engine's own affine functions and
    replays the per-pixel map verbatim.  Output: per-dst-tile exact
    count/sum/position-weighted checksums."""
    import numpy as _np
    import pandas as _pd

    from .raster.tiles import resample_gather

    src_gg, dst_gg = _rot_geoms()
    tiles = _formula_tiles(spark, _ROT_SW, _ROT_SH, bands=1)
    out = resample_gather(tiles, src_gg, dst_gg, method="nearest")

    def chk(batches):
        gxs = _np.arange(64, dtype=_np.int64)
        for pdf in batches:
            rows = []
            for tx, ty, band, data in zip(pdf["tx"], pdf["ty"], pdf["band"], pdf["data"]):
                tx, ty = int(tx), int(ty)
                block = _np.frombuffer(data, dtype=_np.uint8).reshape(64, 64)
                GX, GY = _np.meshgrid(tx * 64 + gxs, ty * 64 + gxs)
                v = block.astype(_np.int64)
                px = GY * _ROT_DW + GX
                rows.append({
                    "tx": tx, "ty": ty, "band": int(band),
                    "n": int(v.size), "s": int(v.sum()),
                    "ws": int((v * px).sum()),
                })
            if rows:
                yield _pd.DataFrame(rows)

    return out.mapInPandas(
        chk, schema="tx long, ty long, band int, n long, s long, ws long"
    ).orderBy("tx", "ty")


def q_rotate_nearest_oracle():
    from .functions import transforms as _tr

    src_gg, dst_gg = _rot_geoms()
    chain = _tr.affine_concat(_tr.affine_invert(src_gg.affine), dst_gg.affine)
    a, b, c, d, e, f = _tr.affine_concat(chain, (1.0, 0.0, 0.5, 0.0, 1.0, 0.5))
    lit = lambda v: f"{v:.17e}"
    fx = f"(({lit(a)} * x + {lit(b)} * y + {lit(c)}) - 5.0e-1)"
    fy = f"(({lit(d)} * x + {lit(e)} * y + {lit(f)}) - 5.0e-1)"
    ws_, hs_ = _ROT_SW, _ROT_SH
    outside = (f"({fx} < -5.0e-1 OR {fx} >= {ws_ - 0.5:.17e} "
               f"OR {fy} < -5.0e-1 OR {fy} >= {hs_ - 0.5:.17e})")
    sx = f"CAST(round(least(greatest({fx}, 0.0e0), {ws_ - 1.0:.17e})) AS BIGINT)"
    sy = f"CAST(round(least(greatest({fy}, 0.0e0), {hs_ - 1.0:.17e})) AS BIGINT)"
    return f"""
WITH d AS (
  SELECT gx.x AS x, gy.y AS y,
         CASE WHEN {outside} THEN 0
              ELSE ({sx} * 7 + {sy} * 13) % 256 END AS v
  FROM generate_series(0, {_ROT_DW - 1}) gx(x),
       generate_series(0, {_ROT_DH - 1}) gy(y))
SELECT x // 64 AS tx, y // 64 AS ty, CAST(0 AS INT) AS band,
       count(*) AS n, CAST(sum(v) AS BIGINT) AS s,
       CAST(sum(v * (y * {_ROT_DW} + x)) AS BIGINT) AS ws
FROM d GROUP BY 1, 2 ORDER BY tx, ty"""


QUERIES["rotate_nearest"] = (q_rotate_nearest, q_rotate_nearest_oracle)


def q_textrank(spark, sf_dir):
    """TextRank chunk summarization (textops.textrank_chunks): 8-token
    chunks linked by >=2 shared tokens, ranked by the engine's exact
    integer PageRank over one global multi-component graph; top-2 chunks
    per document — the extractive-summary layer of the text suite."""
    from .operators.textops import textrank_chunks

    return textrank_chunks(_read(spark, sf_dir, "documents")).orderBy(
        "doc_id", "pick"
    )


def q_textrank_oracle():
    from .operators.textops import textrank_chunks_sql

    return ("SELECT * FROM (" + textrank_chunks_sql()
            + ") ORDER BY doc_id, pick")


QUERIES["textrank"] = (q_textrank, q_textrank_oracle)


def q_pluscode(spark, sf_dir):
    """Open Location Code encoding (functions/cells.pluscode_expr,
    10-char precision) of the event points: base-20 interleaved digit
    pairs, pure integer after one shared floor — the third global
    geocoder next to geohash and MGRS."""
    from .functions.cells import pluscode_expr

    pts = _events_points(spark, sf_dir)
    code = pluscode_expr("lat", "lon", " div ")
    return pts.select(
        "event_id", F.expr(code).alias("pluscode")
    ).orderBy("event_id")


def q_pluscode_oracle():
    from .functions.cells import pluscode_expr

    lat = synth.point_lat_sql("event_id")
    lon = synth.point_lon_sql("event_id")
    code = pluscode_expr(f"({lat})", f"({lon})", " // ")
    return f"""
SELECT event_id, {code} AS pluscode
FROM events ORDER BY event_id"""


QUERIES["pluscode"] = (q_pluscode, q_pluscode_oracle)


def q_fisher_lda(spark, sf_dir):
    """Fisher linear discriminant per event_type (analytics.fisher_lda):
    denominator-cleared within-class scatter + adjugate solve, gcd-reduced
    exact integer direction — the closed-form classifier next to
    `decision_stump`/`tree_depth2`.  Features bounded (% 30) and classes
    capped so every product stays under int64."""
    from .operators.analytics import fisher_lda

    w = Window.partitionBy("event_type").orderBy("event_id")
    ev = (
        _read(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 600)
        .select(
            F.col("event_type").alias("g"),
            ((F.col("event_id") * 7) % 30).cast("long").alias("x1"),
            ((F.col("event_id") * 11) % 30).cast("long").alias("x2"),
            (F.col("event_id") % 2).cast("long").alias("y"),
        )
    )
    return fisher_lda(ev, "g", "x1", "x2", "y").orderBy("g")


def q_fisher_lda_oracle():
    from .operators.analytics import fisher_lda_sql

    base = """
SELECT event_type AS g, (event_id * 7) % 30 AS x1,
       (event_id * 11) % 30 AS x2, event_id % 2 AS y
FROM (SELECT *, row_number() OVER (PARTITION BY event_type
          ORDER BY event_id) AS rn FROM events) t
WHERE rn <= 600"""
    return ("SELECT * FROM (" + fisher_lda_sql(base, "g", "x1", "x2", "y")
            + ") ORDER BY g")


QUERIES["fisher_lda"] = (q_fisher_lda, q_fisher_lda_oracle)


def q_brier_decomp(spark, sf_dir):
    """Murphy decomposition of the Brier score
    (analytics.brier_decomposition): per-bin quantized reliability +
    resolution and the exact uncertainty rational over deterministic
    20-bin forecasts — the diagnostics layer above `brier` /
    `calibration_bins`."""
    from .operators.analytics import brier_decomposition

    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") < 8000).select(
        (F.col("event_id") % 20).cast("long").alias("k"),
        ((F.col("event_id") * 13) % 40 < (F.col("event_id") % 20) * 2)
        .cast("long").alias("o"),
    )
    return brier_decomposition(ev).orderBy("n")


def q_brier_decomp_oracle():
    from .operators.analytics import brier_decomposition_sql

    base = """
SELECT event_id % 20 AS k,
       CAST((event_id * 13) % 40 < (event_id % 20) * 2 AS BIGINT) AS o
FROM events WHERE event_id < 8000"""
    return ("SELECT * FROM (" + brier_decomposition_sql(base)
            + ") ORDER BY n")


QUERIES["brier_decomp"] = (q_brier_decomp, q_brier_decomp_oracle)


def q_rbo(spark, sf_dir):
    """Rank-biased overlap (analytics.rbo_scores, p=9/10, depth 12)
    between two closed-form permutation rankings of 20 items per query
    (multipliers vary by query so overlap structures differ): per-depth
    quantized geometric terms, exact int64 — the top-weighted
    rank-agreement metric next to `ndcg`/`kendall_tau`."""
    from .operators.analytics import rbo_scores

    ma = "CASE q % 4 WHEN 0 THEN 3 WHEN 1 THEN 7 WHEN 2 THEN 9 ELSE 11 END"
    mb = "CASE q % 4 WHEN 0 THEN 11 WHEN 1 THEN 13 WHEN 2 THEN 17 ELSE 19 END"
    items = spark.range(200).select(
        (F.col("id") / 20).cast("long").alias("q"),
        (F.col("id") % 20).alias("i"),
    ).select(
        "q",
        F.expr(f"(i * ({ma}) + q) % 20 + 1").cast("long").alias("pa"),
        F.expr(f"(i * ({mb}) + q * 3) % 20 + 1").cast("long").alias("pb"),
    )
    return rbo_scores(items).orderBy("q")


def q_rbo_oracle():
    from .operators.analytics import rbo_scores_sql

    base = """
SELECT q,
       (i * (CASE q % 4 WHEN 0 THEN 3 WHEN 1 THEN 7 WHEN 2 THEN 9 ELSE 11 END)
          + q) % 20 + 1 AS pa,
       (i * (CASE q % 4 WHEN 0 THEN 11 WHEN 1 THEN 13 WHEN 2 THEN 17 ELSE 19 END)
          + q * 3) % 20 + 1 AS pb
FROM (SELECT j // 20 AS q, j % 20 AS i
      FROM (SELECT unnest(range(200)) AS j) u) t"""
    return "SELECT * FROM (" + rbo_scores_sql(base) + ") ORDER BY q"


QUERIES["rbo"] = (q_rbo, q_rbo_oracle)


def q_bwt(spark, sf_dir):
    """Burrows-Wheeler transform of 32-char document prefixes
    (textops.bwt_prefix): sorted-rotation last column with a unique
    sentinel — the compression/self-index primitive closing the LZ77 /
    Huffman / CDC coding family."""
    from .operators.textops import bwt_prefix

    return bwt_prefix(_read(spark, sf_dir, "documents")).orderBy("doc_id")


def q_bwt_oracle():
    from .operators.textops import bwt_prefix_sql

    return "SELECT * FROM (" + bwt_prefix_sql() + ") ORDER BY doc_id"


QUERIES["bwt"] = (q_bwt, q_bwt_oracle)


def q_knapsack(spark, sf_dir):
    """0/1 knapsack per user (analytics.knapsack01, cap 15, first 12
    deterministic items): the classic capacity dp — applyInPandas per key
    vs a recursive-CTE dp-LIST oracle; the combinatorial-optimization
    sibling of `interval_sched`."""
    from .operators.analytics import knapsack01

    w = Window.partitionBy("user_id").orderBy("event_id")
    ev = (
        _read(spark, sf_dir, "events")
        .withColumn("rn0", F.row_number().over(w))
        .filter(F.col("rn0") <= 12)
        .select(
            F.col("user_id").alias("k"), F.col("event_id").alias("o"),
            (F.col("event_id") % 7 + 1).cast("long").alias("w"),
            (F.col("event_id") % 10 + 1).cast("long").alias("v"),
        )
    )
    return knapsack01(ev, "k", "o", "w", "v", cap=15).orderBy("k")


def q_knapsack_oracle():
    from .operators.analytics import knapsack01_sql

    base = """
SELECT user_id AS k, event_id AS o, event_id % 7 + 1 AS w,
       event_id % 10 + 1 AS v
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
          ORDER BY event_id) AS rn0 FROM events) t
WHERE rn0 <= 12"""
    return ("SELECT * FROM (" + knapsack01_sql(base, "k", "o", "w", "v", 15)
            + ") ORDER BY k")


QUERIES["knapsack"] = (q_knapsack, q_knapsack_oracle)


def q_rgb_hsv(spark, sf_dir):
    """Exact-rational RGB->HSV (imageops.rgb_hsv_exprs) over deterministic
    8-bit triples: integer chroma/value/hue-sixths numerators, shared
    expression text both engines — the FP-free color conversion under the
    augmentation suite."""
    from .operators.imageops import rgb_hsv_exprs

    e = rgb_hsv_exprs("r", "g", "b")
    d = _read(spark, sf_dir, "events").select(
        "event_id",
        ((F.col("event_id") * 37) % 256).cast("long").alias("r"),
        ((F.col("event_id") * 59) % 256).cast("long").alias("g"),
        ((F.col("event_id") * 83) % 256).cast("long").alias("b"),
    )
    return d.select(
        "event_id", "r", "g", "b",
        *[F.expr(sql).cast("long").alias(name) for name, sql in e.items()],
    ).orderBy("event_id")


def q_rgb_hsv_oracle():
    from .operators.imageops import rgb_hsv_exprs

    e = rgb_hsv_exprs("r", "g", "b")
    cols = ", ".join(f"{sql} AS {name}" for name, sql in e.items())
    return f"""
WITH d AS (
  SELECT event_id, (event_id * 37) % 256 AS r, (event_id * 59) % 256 AS g,
         (event_id * 83) % 256 AS b
  FROM events)
SELECT event_id, r, g, b, {cols}
FROM d ORDER BY event_id"""


QUERIES["rgb_hsv"] = (q_rgb_hsv, q_rgb_hsv_oracle)


def q_hash_ring(spark, sf_dir):
    """Consistent-hash ring assignment (analytics.hash_ring_assign, 12
    nodes x 4 vnodes on a 2^20 ring): clockwise-successor search as ONE
    packed-key min aggregation — the stateful-ring companion of
    `rendezvous`."""
    from .operators.analytics import hash_ring_assign

    keys = _read(spark, sf_dir, "events").select(
        F.col("event_id").cast("long").alias("key_id")
    )
    return hash_ring_assign(keys, list(range(12))).orderBy("key_id")


def q_hash_ring_oracle():
    from .operators.analytics import hash_ring_sql

    return ("SELECT * FROM ("
            + hash_ring_sql("SELECT event_id AS key_id FROM events",
                            list(range(12)))
            + ") ORDER BY key_id")


QUERIES["hash_ring"] = (q_hash_ring, q_hash_ring_oracle)


def q_bradley_terry(spark, sf_dir):
    """Bradley-Terry team strengths (analytics.bradley_terry, 2 MM
    rounds) from deterministic pairwise match outcomes over 10 teams:
    every division an integer floor-div, the trajectory a pure function
    of the win matrix — the paired-comparison ranking model next to
    `hits`/`pagerank`."""
    from .operators.analytics import bradley_terry

    ev = _read(spark, sf_dir, "events").select(
        (F.col("event_id") % 10).alias("ta"),
        ((F.col("event_id") * 3 + 1) % 10).alias("tb"),
        (F.col("event_id") % 2).alias("win_a"),
    ).filter(F.col("ta") != F.col("tb"))
    m = ev.select(
        F.least("ta", "tb").alias("a"), F.greatest("ta", "tb").alias("b"),
        F.when((F.col("ta") < F.col("tb")) == (F.col("win_a") == 1), 1)
        .otherwise(0).alias("w_ab"),
    ).groupBy("a", "b").agg(
        F.sum("w_ab").alias("wins_ab"),
        (F.count("*") - F.sum("w_ab")).alias("wins_ba"),
    )
    return bradley_terry(m).orderBy("team")


def q_bradley_terry_oracle():
    from .operators.analytics import bradley_terry_sql

    m = """
SELECT a, b, sum(w_ab) AS wins_ab, count(*) - sum(w_ab) AS wins_ba
FROM (
  SELECT least(ta, tb) AS a, greatest(ta, tb) AS b,
         CASE WHEN (ta < tb) = (win_a = 1) THEN 1 ELSE 0 END AS w_ab
  FROM (
    SELECT event_id % 10 AS ta, (event_id * 3 + 1) % 10 AS tb,
           event_id % 2 AS win_a
    FROM events) e
  WHERE ta <> tb) t
GROUP BY 1, 2"""
    return ("SELECT * FROM (" + bradley_terry_sql(m) + ") ORDER BY team")


QUERIES["bradley_terry"] = (q_bradley_terry, q_bradley_terry_oracle)


def q_chain_ladder(spark, sf_dir):
    """Chain-ladder loss development (analytics.chain_ladder, 5x5
    run-off triangle from orders): volume-weighted factors as exact
    integer rationals, ultimates by the unrolled floor-division
    projection chain — actuarial reserving with no FP anywhere."""
    from .operators.analytics import chain_ladder

    o = _read(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 5).alias("i"),
        ((F.col("o_orderkey") / 5).cast("long") % 5).alias("j"),
        F.floor(F.col("o_totalprice") / 100).cast("long").alias("x"),
    )
    return chain_ladder(o).orderBy("i")


def q_chain_ladder_oracle():
    from .operators.analytics import chain_ladder_sql

    base = ("SELECT o_orderkey % 5 AS i, (o_orderkey // 5) % 5 AS j, "
            "CAST(floor(o_totalprice / 100) AS BIGINT) AS x FROM orders")
    return "SELECT * FROM (" + chain_ladder_sql(base) + ") ORDER BY i"


QUERIES["chain_ladder"] = (q_chain_ladder, q_chain_ladder_oracle)


def q_lww_set(spark, sf_dir):
    """LWW-element-set CRDT merge (analytics.lww_set_merge) over a
    deterministic multi-replica op log: presence = add-biased
    lexicographic (ts, op, replica) max — one packed-key aggregation, the
    convergence rule pinned exactly."""
    from .operators.analytics import lww_set_merge

    ops = _read(spark, sf_dir, "events").select(
        (F.col("event_id") % 300).alias("elem"),
        ((F.col("event_id") * 17) % 1000).cast("long").alias("ts"),
        ((F.col("event_id") * 7) % 3 != 0).cast("long").alias("is_add"),
        (F.col("event_id") % 5).cast("long").alias("replica"),
    )
    return lww_set_merge(ops).orderBy("elem")


def q_lww_set_oracle():
    from .operators.analytics import lww_set_merge_sql

    base = """
SELECT event_id % 300 AS elem, (event_id * 17) % 1000 AS ts,
       CAST((event_id * 7) % 3 <> 0 AS BIGINT) AS is_add,
       event_id % 5 AS replica
FROM events"""
    return "SELECT * FROM (" + lww_set_merge_sql(base) + ") ORDER BY elem"


QUERIES["lww_set"] = (q_lww_set, q_lww_set_oracle)


_GS_N = 8


def q_stable_matching(spark, sf_dir):
    """Parallel Gale-Shapley stable matching (graph.stable_matching, 12
    groups of 8x8, 12 simultaneous-proposal rounds): man rankings and
    woman keys are closed-form; losing proposers and dumped fiances
    advance — the classic two-sided assignment, rounds lockstep across
    groups."""
    from .operators.graph import stable_matching

    n = _GS_N
    base = spark.range(12 * n * n).select(
        (F.col("id") / (n * n)).cast("long").alias("g"),
        ((F.col("id") / n) % n).cast("long").alias("m"),
        (F.col("id") % n).alias("w"),
    )
    wp = Window.partitionBy("g", "m").orderBy(
        (F.col("m") * 7 + F.col("w") * 11 + F.col("g") * 3) % 19, "w"
    )
    pref = base.withColumn("rk", F.row_number().over(wp).cast("long"))
    wkey = lambda g, w, m: (w * 5 + m * 13 + g * 7) % 23
    return stable_matching(pref, wkey, n=n, rounds=12).orderBy("g", "m")


def q_stable_matching_oracle():
    from .operators.graph import stable_matching_sql

    n = _GS_N
    pref = f"""
SELECT g, m, w,
       CAST(row_number() OVER (PARTITION BY g, m
            ORDER BY (m * 7 + w * 11 + g * 3) % 19, w) AS BIGINT) AS rk
FROM (
  SELECT i // {n * n} AS g, (i // {n}) % {n} AS m, i % {n} AS w
  FROM (SELECT unnest(range({12 * n * n})) AS i) t) b"""
    return ("SELECT * FROM ("
            + stable_matching_sql(pref, "(w * 5 + m * 13 + g * 7) % 23", n, 12)
            + ") ORDER BY g, m")


QUERIES["stable_matching"] = (q_stable_matching, q_stable_matching_oracle)


def q_los_pairs(spark, sf_dir):
    """Pairwise line-of-sight over the formula DEM (density.los_pairs,
    16 subdivisions): nearest-cell sampling and the cross-multiplied
    sight-line lerp, all integers — the point-to-point companion of
    `viewshed`."""
    from .operators.density import los_pairs

    pairs = _read(spark, sf_dir, "events").select(
        F.col("event_id").alias("pid"),
        ((F.col("event_id") * 13) % 128).cast("long").alias("ax"),
        ((F.col("event_id") * 29) % 128).cast("long").alias("ay"),
        ((F.col("event_id") * 31 + 7) % 128).cast("long").alias("bx"),
        ((F.col("event_id") * 37 + 11) % 128).cast("long").alias("by"),
    )
    return los_pairs(pairs, "(((X) * 7 + (Y) * 13) % 256)").orderBy("pid")


def q_los_pairs_oracle():
    from .operators.density import los_pairs_sql

    pairs = """
SELECT event_id AS pid, (event_id * 13) % 128 AS ax,
       (event_id * 29) % 128 AS ay, (event_id * 31 + 7) % 128 AS bx,
       (event_id * 37 + 11) % 128 AS by
FROM events"""
    return ("SELECT * FROM ("
            + los_pairs_sql(pairs, "(((X) * 7 + (Y) * 13) % 256)")
            + ") ORDER BY pid")


QUERIES["los_pairs"] = (q_los_pairs, q_los_pairs_oracle)


def q_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative hazard (analytics.nelson_aalen) over the
    kaplan_meier gate's durations: per-step quantized d/n increments,
    order-independent cumulative sum — the hazard-scale life table."""
    from .operators.analytics import nelson_aalen

    o = _read(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 50).cast("long").alias("t"),
        (F.col("o_orderstatus") == "F").cast("long").alias("e"),
    )
    return nelson_aalen(o).orderBy("t")


def q_nelson_aalen_oracle():
    from .operators.analytics import nelson_aalen_sql

    base = ("SELECT CAST(o_orderkey % 50 AS BIGINT) AS t, "
            "CAST(o_orderstatus = 'F' AS BIGINT) AS e FROM orders")
    return "SELECT * FROM (" + nelson_aalen_sql(base) + ") ORDER BY t"


QUERIES["nelson_aalen"] = (q_nelson_aalen, q_nelson_aalen_oracle)


def q_lorenz(spark, sf_dir):
    """Lorenz curve deciles per nation (analytics.lorenz_deciles) over
    customer account balances: exact cumulative-mass rationals (ntile
    splits of tied values are mass-neutral) — the inequality curve under
    the `gini` coefficient."""
    from .operators.analytics import lorenz_deciles

    c = _read(spark, sf_dir, "customer").select(
        (F.col("c_custkey") % 5).alias("g"),
        F.floor(F.col("c_custkey") * 7919 % 100000).cast("long").alias("x"),
    )
    return lorenz_deciles(c, "g", "x").orderBy("g", "decile")


def q_lorenz_oracle():
    from .operators.analytics import lorenz_deciles_sql

    base = ("SELECT c_custkey % 5 AS g, "
            "CAST(c_custkey * 7919 % 100000 AS BIGINT) AS x FROM customer")
    return ("SELECT * FROM (" + lorenz_deciles_sql(base, "g", "x")
            + ") ORDER BY g, decile")


QUERIES["lorenz"] = (q_lorenz, q_lorenz_oracle)


def q_palindromes(spark, sf_dir):
    """Longest bounded odd palindrome per document
    (textops.longest_palindrome, first 120 chars, radius <= 12):
    reverse-substring matching with a running-min radius window — pure
    string codegen both engines."""
    from .operators.textops import longest_palindrome

    return longest_palindrome(_read(spark, sf_dir, "documents")).orderBy("doc_id")


def q_palindromes_oracle():
    from .operators.textops import longest_palindrome_sql

    return ("SELECT * FROM (" + longest_palindrome_sql()
            + ") ORDER BY doc_id")


QUERIES["palindromes"] = (q_palindromes, q_palindromes_oracle)


_KEY_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def q_candidate_keys(spark, sf_dir):
    """Candidate-key discovery over four orders columns
    (quality.candidate_keys): distinct-vs-rowcount for every single and
    pair combination — the uniqueness side of schema profiling next to
    `func_deps` and `fk_audit`."""
    from .operators.quality import candidate_keys

    return candidate_keys(_read(spark, sf_dir, "orders"), _KEY_COLS).orderBy("combo")


def q_candidate_keys_oracle():
    from .operators.quality import candidate_keys_sql

    return ("SELECT * FROM (" + candidate_keys_sql("orders", _KEY_COLS)
            + ") ORDER BY combo")


QUERIES["candidate_keys"] = (q_candidate_keys, q_candidate_keys_oracle)


_KS_PAIRS = [("click", "view"), ("click", "purchase"), ("view", "purchase")]


def q_ks_pairs(spark, sf_dir):
    """Pairwise two-sample KS statistics between event-type value
    distributions (analytics.ks_pairs): exact cross-multiplied ECDF max
    — the drift matrix across corpus slices, no division anywhere."""
    from .operators.analytics import ks_pairs

    ev = _read(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 1000).cast("long").alias("x"),
    )
    return ks_pairs(ev, pairs=_KS_PAIRS).orderBy("a", "b")


def q_ks_pairs_oracle():
    from .operators.analytics import ks_pairs_sql

    base = ("SELECT event_type AS g, CAST(floor(value * 1000) AS BIGINT) AS x "
            "FROM events")
    return ("SELECT * FROM (" + ks_pairs_sql(base, pairs=_KS_PAIRS)
            + ") ORDER BY a, b")


QUERIES["ks_pairs"] = (q_ks_pairs, q_ks_pairs_oracle)


def q_onset_flux(spark, sf_dir):
    """Spectral-flux onset detection (timeseries.spectral_flux, period-32
    frames, freqs 1-4, NMS guard 2) over a per-user integer signal: the
    audio novelty function composed from the quantized-LUT DFT — no trig,
    no FP."""
    from .operators.timeseries import spectral_flux

    w = Window.partitionBy("user_id").orderBy("event_id")
    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id",
        ((F.col("event_id") * 17) % 101 - 50).cast("long").alias("x"),
    ).withColumn("t", (F.row_number().over(w) - 1).cast("long"))
    return spectral_flux(ev, threshold=1000).orderBy("user_id", "frame")


def q_onset_flux_oracle():
    from .operators.timeseries import spectral_flux_sql

    base = """
SELECT user_id, (event_id * 17) % 101 - 50 AS x,
       row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS t
FROM events"""
    return ("SELECT * FROM (" + spectral_flux_sql(base, threshold=1000)
            + ") ORDER BY user_id, frame")


QUERIES["onset_flux"] = (q_onset_flux, q_onset_flux_oracle)


def q_julian_day(spark, sf_dir):
    """Julian day numbers + weekday + inverse roundtrip
    (analytics.julian_day_exprs): positive-operand integer Fliegel-Van
    Flandern arithmetic (floor == truncate, so `div` and `//` agree) over
    deterministic Gregorian dates — the calendrical backbone of temporal
    joins across calendars."""
    from .operators.analytics import julian_day_exprs

    e = julian_day_exprs("y", "m", "d", " div ")
    base = _read(spark, sf_dir, "events").select(
        "event_id",
        (1900 + F.col("event_id") % 300).cast("long").alias("y"),
        (1 + F.col("event_id") % 12).cast("long").alias("m"),
        (1 + F.col("event_id") % 28).cast("long").alias("d"),
    )
    return base.select(
        "event_id", "y", "m", "d",
        *[F.expr(sql).cast("long").alias(name) for name, sql in e.items()],
    ).orderBy("event_id")


def q_julian_day_oracle():
    from .operators.analytics import julian_day_exprs

    e = julian_day_exprs("y", "m", "d", " // ")
    cols = ", ".join(f"{sql} AS {name}" for name, sql in e.items())
    return f"""
WITH b AS (
  SELECT event_id, 1900 + event_id % 300 AS y, 1 + event_id % 12 AS m,
         1 + event_id % 28 AS d
  FROM events)
SELECT event_id, y, m, d, {cols}
FROM b ORDER BY event_id"""


QUERIES["julian_day"] = (q_julian_day, q_julian_day_oracle)


def q_easter(spark, sf_dir):
    """Gregorian Easter dates (analytics.easter_exprs, the Anonymous
    Gregorian algorithm) for a deterministic year range — pure integer
    calendrical codegen, the movable-feast test of the calendar family."""
    from .operators.analytics import easter_exprs

    mth, day = easter_exprs("y", " div ")
    base = spark.range(400).select(
        (1800 + F.col("id")).cast("long").alias("y")
    )
    return base.select(
        "y",
        F.expr(mth).cast("long").alias("month"),
        F.expr(day).cast("long").alias("day"),
    ).orderBy("y")


def q_easter_oracle():
    from .operators.analytics import easter_exprs

    mth, day = easter_exprs("y", " // ")
    return f"""
SELECT y, {mth} AS month, {day} AS day
FROM (SELECT 1800 + unnest(range(400)) AS y) t
ORDER BY y"""


QUERIES["easter"] = (q_easter, q_easter_oracle)


_UNIT_PAIRS = [("km", "m"), ("mi", "km"), ("ft", "m"), ("km/h", "m/s"),
               ("lb", "kg"), ("degC", "degF"), ("degF", "K"), ("acre", "ha")]
_UNIT_Q = 1000


def _unit_convert_case(div_op):
    from .functions.units import convert_q_sql

    arms = " ".join(
        f"WHEN {i} THEN {convert_q_sql('vq', s, d, _UNIT_Q, div_op)}"
        for i, (s, d) in enumerate(_UNIT_PAIRS)
    )
    return f"(CASE pair {arms} END)"


def q_unit_convert(spark, sf_dir):
    """Exact rational unit conversion (functions/units.py — the
    LinearConverter.java/Prefixes.java/Units.java parity surface): eight
    (src, dst) pairs across length/speed/mass/temperature/area resolved
    at plan time into single integer multiply-add floor-divisions; the
    affine temperature offsets compose as exact rationals.  Map-only
    codegen."""
    d = _read(spark, sf_dir, "events").select(
        "event_id",
        (F.col("event_id") % 8).cast("long").alias("pair"),
        (F.col("event_id") % 100000).cast("long").alias("vq"),
    )
    return d.select(
        "event_id", "pair", "vq",
        F.expr(_unit_convert_case(" div ")).cast("long").alias("out_q"),
    ).orderBy("event_id")


def q_unit_convert_oracle():
    return f"""
WITH d AS (
  SELECT event_id, event_id % 8 AS pair, event_id % 100000 AS vq
  FROM events)
SELECT event_id, pair, vq, {_unit_convert_case(' // ')} AS out_q
FROM d ORDER BY event_id"""


QUERIES["unit_convert"] = (q_unit_convert, q_unit_convert_oracle)


def q_dms_format(spark, sf_dir):
    """Sexagesimal DMS formatting (functions/units.dms_exprs — the
    AngleFormat.java surface): micro-degree angles decomposed to
    degrees/minutes/tenth-seconds by exact positive integer division and
    rendered as D°MM′SS.T″ strings — identical string codegen both
    engines."""
    from .functions.units import dms_exprs

    e = dms_exprs("aq", " div ")
    lon, lat = point_lonlat_cols("event_id")
    d = _read(spark, sf_dir, "events").select(
        "event_id",
        F.floor(lat * 1000000 + F.lit(0.12345678987)).cast("long").alias("aq"),
    )
    return d.select(
        "event_id", "aq",
        F.expr(e["sign"]).cast("long").alias("sign"),
        F.expr(e["d"]).cast("long").alias("d"),
        F.expr(e["m"]).cast("long").alias("m"),
        F.expr(e["s10"]).cast("long").alias("s10"),
        F.expr(e["dms"]).alias("dms"),
    ).orderBy("event_id")


def q_dms_format_oracle():
    from .functions.units import dms_exprs

    e = dms_exprs("aq", " // ")
    lat = synth.point_lat_sql("event_id")
    return f"""
WITH d AS (
  SELECT event_id,
         CAST(floor(({lat}) * 1000000 + 0.12345678987) AS BIGINT) AS aq
  FROM events)
SELECT event_id, aq, {e['sign']} AS sign, {e['d']} AS d, {e['m']} AS m,
       {e['s10']} AS s10, {e['dms']} AS dms
FROM d ORDER BY event_id"""


QUERIES["dms_format"] = (q_dms_format, q_dms_format_oracle)


def q_gnomonic(spark, sf_dir):
    """WGS84 -> sphere gnomonic, oblique centered (10E, 45N) (Snyder §22
    — great circles map to straight lines): k = 1/cos(c) with the SAME
    shared-text cos(c) hemisphere cut as `orthographic` (threshold with
    irrational margin keeps the 1/cos(c) division well-conditioned);
    floor-shift output discipline."""
    from .functions.projections import st_transform_any_udf

    pts = _events_points(spark, sf_dir)
    p = st_transform_any_udf("EPSG:4326", "ESRI:53049:EU")(
        F.col("lon"), F.col("lat")
    )
    return (
        pts.filter(F.expr(_ORTHO_COSC) >= F.lit(0.201234567891))
        .select(
            "event_id",
            F.floor(p["x"] - F.lit(0.123456789)).cast("long").alias("xl"),
            F.floor(p["y"] - F.lit(0.123456789)).cast("long").alias("yl"),
        )
        .orderBy("event_id")
    )


def q_gnomonic_oracle():
    R = synth.flit(6371000.0)
    lam = "(radians(lon - 10.0))"
    phi = "(radians(lat))"
    cosc = (f"(sin(radians(45.0)) * sin({phi}) + cos(radians(45.0)) * "
            f"cos({phi}) * cos({lam}))")
    x = f"({R} * (1.0 / {cosc}) * cos({phi}) * sin({lam}))"
    y = (f"({R} * (1.0 / {cosc}) * (cos(radians(45.0)) * sin({phi}) - "
         f"sin(radians(45.0)) * cos({phi}) * cos({lam})))")
    return f"""
SELECT event_id,
  CAST(floor({x} - 0.123456789) AS BIGINT) AS xl,
  CAST(floor({y} - 0.123456789) AS BIGINT) AS yl
FROM ({_points_sql()}) p
WHERE {_ORTHO_COSC} >= 0.201234567891
ORDER BY event_id"""


QUERIES["gnomonic"] = (q_gnomonic, q_gnomonic_oracle)


def q_suffix_array(spark, sf_dir):
    """Suffix arrays by prefix doubling (textops.suffix_array, 64-char
    prefixes): log rounds of lead + dense_rank windows — the scalable SA
    construction behind substring dedup, each round pure window codegen."""
    from .operators.textops import suffix_array

    return suffix_array(_read(spark, sf_dir, "documents")).orderBy("doc_id", "i")


def q_suffix_array_oracle():
    from .operators.textops import suffix_array_sql

    return ("SELECT * FROM (" + suffix_array_sql() + ") ORDER BY doc_id, i")


QUERIES["suffix_array"] = (q_suffix_array, q_suffix_array_oracle)


def q_mann_kendall(spark, sf_dir):
    """Mann-Kendall trend test per user (timeseries.mann_kendall, first
    40 points): exact S statistic + tie-corrected 18*Var(S) — the
    nonparametric trend detector pairing the existing `theil_sen`
    slope."""
    from .operators.timeseries import mann_kendall

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id",
        ((F.col("event_id") * 13) % 50 + (F.col("event_id") / 200).cast("long"))
        .cast("long").alias("v"),
    )
    return mann_kendall(ev).orderBy("user_id")


def q_mann_kendall_oracle():
    from .operators.timeseries import mann_kendall_sql

    base = ("SELECT user_id, event_id, "
            "(event_id * 13) % 50 + event_id // 200 AS v FROM events")
    return ("SELECT * FROM (" + mann_kendall_sql(base) + ") ORDER BY user_id")


QUERIES["mann_kendall"] = (q_mann_kendall, q_mann_kendall_oracle)


def q_rich_club(spark, sf_dir):
    """Rich-club coefficients (graph.rich_club, k in 2,4,6,8) of the
    symmetrized document graph: induced-subgraph edge counts among
    high-degree nodes — the hub-interconnection diagnostic next to
    `assortativity`."""
    from .operators.graph import rich_club

    edges, _ = _mis_edges_df(spark, sf_dir)
    return rich_club(edges).orderBy("k")


def q_rich_club_oracle():
    from .operators.graph import rich_club_sql

    return ("SELECT * FROM (" + rich_club_sql(_mis_edges_sql())
            + ") ORDER BY k")


QUERIES["rich_club"] = (q_rich_club, q_rich_club_oracle)


def q_space_saving(spark, sf_dir):
    """Space-Saving heavy hitters per user (sketches.space_saving, k=4)
    over a skewed deterministic item stream: the classic k-counter stream
    summary with fully deterministic replace rules — applyInPandas per
    key vs a lockstep recursive-CTE counter-list oracle; completes the
    sketch family's heavy-hitter side next to `countmin_heavy`."""
    from .operators.sketches import space_saving

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.expr("CASE WHEN event_id % 4 < 2 THEN event_id % 3 "
               "ELSE (event_id * 7) % 12 END").cast("long").alias("item"),
    )
    return space_saving(ev).orderBy("user_id", "item")


def q_space_saving_oracle():
    from .operators.sketches import space_saving_sql

    base = """
SELECT user_id, event_id,
       CASE WHEN event_id % 4 < 2 THEN event_id % 3
            ELSE (event_id * 7) % 12 END AS item
FROM events"""
    return ("SELECT * FROM (" + space_saving_sql(base)
            + ") ORDER BY user_id, item")


QUERIES["space_saving"] = (q_space_saving, q_space_saving_oracle)


def q_lcs_substring(spark, sf_dir):
    """Longest common substring between consecutive documents
    (textops.lcs_substring_pairs, 48-char prefixes): the suffix-array
    identity — max cross-side LCP is attained at rank-adjacent suffixes
    of the merged string — composed from the prefix-doubling SA plus a
    bounded adjacent-LCP window; the exact substring-overlap forensic
    under the shingle/minhash estimators."""
    from .operators.textops import lcs_substring_pairs

    return lcs_substring_pairs(_read(spark, sf_dir, "documents")).orderBy(
        "a_id", "b_id"
    )


def q_lcs_substring_oracle():
    from .operators.textops import lcs_substring_pairs_sql

    return ("SELECT * FROM (" + lcs_substring_pairs_sql()
            + ") ORDER BY a_id, b_id")


QUERIES["lcs_substring"] = (q_lcs_substring, q_lcs_substring_oracle)


def q_box_counting(spark, sf_dir):
    """Box-counting occupancy curve (density.box_counting, res 4..8)
    over the event points — the fractal-dimension ladder of exact
    occupied-cell counts; the multi-resolution view of the engine's cell
    histogram."""
    from .operators.density import box_counting

    return box_counting(_events_points(spark, sf_dir)).orderBy("res")


def q_box_counting_oracle():
    from .operators.density import box_counting_sql

    return ("SELECT * FROM (" + box_counting_sql(_points_sql())
            + ") ORDER BY res")


QUERIES["box_counting"] = (q_box_counting, q_box_counting_oracle)


def q_pareto_point(spark, sf_dir):
    """Pareto 80/20 point per nation segment (analytics.pareto_point):
    smallest top-k holding >= 4/5 of the mass, cross-multiplied exact —
    the concentration diagnostic over `lorenz`/`gini`."""
    from .operators.analytics import pareto_point

    c = _read(spark, sf_dir, "customer").select(
        (F.col("c_custkey") % 5).alias("g"),
        ((F.col("c_custkey") * 7919) % 100000).cast("long").alias("x"),
    )
    return pareto_point(c, "g", "x").orderBy("g")


def q_pareto_point_oracle():
    from .operators.analytics import pareto_point_sql

    base = ("SELECT c_custkey % 5 AS g, (c_custkey * 7919) % 100000 AS x "
            "FROM customer")
    return ("SELECT * FROM (" + pareto_point_sql(base, "g", "x")
            + ") ORDER BY g")


QUERIES["pareto_point"] = (q_pareto_point, q_pareto_point_oracle)


def q_wu_line(spark, sf_dir):
    """Wu anti-aliased line rasterization (imageops.wu_lines, dx=64):
    dyadic gradients make both per-step coverage weights exact 1/64
    integers — the line sibling of `rasterize_aa`, pure explode codegen."""
    from .operators.imageops import wu_lines

    lines = _read(spark, sf_dir, "events").filter(F.col("event_id") < 2000).select(
        F.col("event_id").alias("line_id"),
        ((F.col("event_id") * 3) % 500).cast("long").alias("x0"),
        ((F.col("event_id") * 7) % 300).cast("long").alias("y0"),
        ((F.col("event_id") % 129) - 64).cast("long").alias("dy"),
    )
    return wu_lines(lines).orderBy("line_id", "x", "y")


def q_wu_line_oracle():
    from .operators.imageops import wu_lines_sql

    base = """
SELECT event_id AS line_id, (event_id * 3) % 500 AS x0,
       (event_id * 7) % 300 AS y0, (event_id % 129) - 64 AS dy
FROM events WHERE event_id < 2000"""
    return ("SELECT * FROM (" + wu_lines_sql(base)
            + ") ORDER BY line_id, x, y")


QUERIES["wu_line"] = (q_wu_line, q_wu_line_oracle)


def q_lindley(spark, sf_dir):
    """G/G/1 waiting times (timeseries.lindley_waits) for deterministic
    per-server service/interarrival streams: the Lindley recurrence in
    closed form via the prefix-extremum identity — queueing theory as
    two window passes."""
    from .operators.timeseries import lindley_waits

    ev = _read(spark, sf_dir, "events").select(
        (F.col("user_id") % 20).alias("server"),
        F.col("event_id").alias("n"),
        ((F.col("event_id") * 13) % 17 + 1).cast("long").alias("s"),
        ((F.col("event_id") * 7) % 19 + 1).cast("long").alias("a"),
    )
    return lindley_waits(ev).orderBy("server", "n")


def q_lindley_oracle():
    from .operators.timeseries import lindley_waits_sql

    base = ("SELECT user_id % 20 AS server, event_id AS n, "
            "(event_id * 13) % 17 + 1 AS s, (event_id * 7) % 19 + 1 AS a "
            "FROM events")
    return ("SELECT * FROM (" + lindley_waits_sql(base)
            + ") ORDER BY server, n")


QUERIES["lindley"] = (q_lindley, q_lindley_oracle)


def q_hdr_hist(spark, sf_dir):
    """HdrHistogram-style log buckets (timeseries.hdr_histogram,
    2 mantissa bits) of synthetic latencies per event type: exponent via
    the exact length(bin()) log2 — bounded-relative-error latency
    profiling with no FP."""
    from .operators.timeseries import hdr_histogram

    ev = _read(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        ((F.col("event_id") * F.col("event_id")) % 100000 + 1)
        .cast("long").alias("v"),
    )
    return hdr_histogram(ev).orderBy("g", "exp", "mant")


def q_hdr_hist_oracle():
    from .operators.timeseries import hdr_histogram_sql

    base = ("SELECT event_type AS g, (event_id * event_id) % 100000 + 1 AS v "
            "FROM events")
    return ("SELECT * FROM (" + hdr_histogram_sql(base)
            + ") ORDER BY g, exp, mant")


QUERIES["hdr_hist"] = (q_hdr_hist, q_hdr_hist_oracle)


def q_seasonal_medians(spark, sf_dir):
    """Robust STL-lite decomposition (timeseries.seasonal_medians,
    period 7, trend window 15): rolling-median trend + per-phase exact
    median seasonal + remainder, all integer order statistics — the
    outlier-immune companion of `holt_winters`/`seasonal`."""
    from .operators.timeseries import seasonal_medians

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id",
        ((F.col("event_id") % 7) * 10 + (F.col("event_id") * 13) % 9
         + (F.col("event_id") / 100).cast("long")).cast("long").alias("v"),
    )
    return seasonal_medians(ev).orderBy("user_id", "event_id")


def q_seasonal_medians_oracle():
    from .operators.timeseries import seasonal_medians_sql

    base = ("SELECT user_id, event_id, "
            "(event_id % 7) * 10 + (event_id * 13) % 9 + event_id // 100 AS v "
            "FROM events")
    return ("SELECT * FROM (" + seasonal_medians_sql(base)
            + ") ORDER BY user_id, event_id")


QUERIES["seasonal_medians"] = (q_seasonal_medians, q_seasonal_medians_oracle)


def q_allen_join(spark, sf_dir):
    """Allen interval-algebra classifying join (timeseries.allen_join)
    over the stab_count interval set, capped to 20 intervals per user:
    each pair labeled with exactly one of the 13 relations by endpoint
    comparisons — the join form of the temporal_allen predicate gate."""
    from .operators.timeseries import allen_join

    w = Window.partitionBy("user_id").orderBy("event_id")
    iv = (
        _read(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select(
            "user_id", F.col("event_id").alias("iid"),
            ((F.col("event_id") * 37) % 1000).cast("long").alias("t0"),
            ((F.col("event_id") * 37) % 1000
             + (F.col("event_id") % 7 + 1) * 3).cast("long").alias("t1"),
        )
    )
    return allen_join(iv).orderBy("k", "a_id", "b_id")


def q_allen_join_oracle():
    from .operators.timeseries import allen_join_sql

    base = """
SELECT user_id, event_id AS iid, (event_id * 37) % 1000 AS t0,
       (event_id * 37) % 1000 + (event_id % 7 + 1) * 3 AS t1
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
          ORDER BY event_id) AS rn FROM events) t
WHERE rn <= 20"""
    return ("SELECT * FROM (" + allen_join_sql(base)
            + ") ORDER BY k, a_id, b_id")


QUERIES["allen_join"] = (q_allen_join, q_allen_join_oracle)


_SOBEL_GX = ((-1, 0, 1), (-2, 0, 2), (-1, 0, 1))
_SOBEL_GY = ((-1, -2, -1), (0, 0, 0), (1, 2, 1))


def q_focus_measure(spark, sf_dir):
    """Tenengrad focus/sharpness measure per tile (the Sobel-energy blur
    detector of autofocus and training-data curation): two
    convolve_tiles passes (Sobel gx, gy — zero padding) joined per tile,
    energy = sum(gx^2 + gy^2) exact int64 — a blur-ranking signal next to
    `blockiness`/`image_quality`."""
    import numpy as _np
    import pandas as _pd

    from .raster.grid import GridGeometry
    from .raster.terrain import convolve_tiles

    W, H, TS = 500, 300, 64
    tiles = _formula_tiles(spark, W, H, bands=1, tile_size=TS)
    gg = GridGeometry((0, 0, W - 1, H - 1), (1.0, 0.0, 0.0, 0.0, -1.0, float(H)))
    gx = convolve_tiles(tiles, gg, _SOBEL_GX, tile_size=TS).select(
        "tx", "ty", F.col("data").alias("dx"))
    gy = convolve_tiles(tiles, gg, _SOBEL_GY, tile_size=TS).select(
        "tx", "ty", F.col("data").alias("dy"))
    j = gx.join(gy, ["tx", "ty"])

    def ten(batches):
        for pdf in batches:
            rows = []
            for tx, ty, bx, by in zip(pdf["tx"], pdf["ty"], pdf["dx"], pdf["dy"]):
                vx = _np.frombuffer(bx, _np.int64).reshape(TS, TS)
                vy = _np.frombuffer(by, _np.int64).reshape(TS, TS)
                px = int(tx) * TS + _np.arange(TS)[None, :]
                py = int(ty) * TS + _np.arange(TS)[:, None]
                live = (px < W) & (py < H)
                g2 = (vx * vx + vy * vy) * live
                rows.append({
                    "tx": int(tx), "ty": int(ty),
                    "tenengrad": int(g2.sum()),
                    "max_g2": int(g2.max()),
                })
            if rows:
                yield _pd.DataFrame(rows)

    return j.mapInPandas(
        ten, "tx long, ty long, tenengrad long, max_g2 long"
    ).orderBy("tx", "ty")


def q_focus_measure_oracle():
    W, H = 500, 300
    v = lambda a, b: f"((({a}) * 7 + ({b}) * 13) % 256)"

    def conv(kernel):
        terms = []
        for dy, row in zip((-1, 0, 1), kernel):
            for dx, coef in zip((-1, 0, 1), row):
                if not coef:
                    continue
                terms.append(
                    f"(CASE WHEN x + ({dx}) BETWEEN 0 AND {W - 1} "
                    f"AND y + ({dy}) BETWEEN 0 AND {H - 1} "
                    f"THEN ({coef}) * {v(f'x + ({dx})', f'y + ({dy})')} ELSE 0 END)"
                )
        return "(" + " + ".join(terms) + ")"

    return f"""
WITH px AS (
  SELECT x.x AS x, y.y AS y
  FROM generate_series(0, {W - 1}) x(x), generate_series(0, {H - 1}) y(y)),
g AS (
  SELECT x // 64 AS tx, y // 64 AS ty,
         {conv(_SOBEL_GX)} AS gx, {conv(_SOBEL_GY)} AS gy
  FROM px)
SELECT tx, ty, CAST(sum(gx * gx + gy * gy) AS BIGINT) AS tenengrad,
       CAST(max(gx * gx + gy * gy) AS BIGINT) AS max_g2
FROM g GROUP BY 1, 2 ORDER BY 1, 2"""


QUERIES["focus_measure"] = (q_focus_measure, q_focus_measure_oracle)


def q_log_rank(spark, sf_dir):
    """Two-group log-rank test (analytics.log_rank) over the
    kaplan_meier durations split by orderkey parity: per-time quantized
    observed-minus-expected and hypergeometric variance, order-free sums
    — the survival-curve comparison completing km/nelson_aalen."""
    from .operators.analytics import log_rank

    o = _read(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 50).cast("long").alias("t"),
        (F.col("o_orderstatus") == "F").cast("long").alias("e"),
        (F.col("o_orderkey") % 2).cast("long").alias("g"),
    )
    return log_rank(o)


def q_log_rank_oracle():
    from .operators.analytics import log_rank_sql

    base = ("SELECT o_orderkey % 50 AS t, "
            "CAST(o_orderstatus = 'F' AS BIGINT) AS e, "
            "o_orderkey % 2 AS g FROM orders")
    return log_rank_sql(base)


QUERIES["log_rank"] = (q_log_rank, q_log_rank_oracle)


def q_ltv_curves(spark, sf_dir):
    """Cohort LTV curves (analytics.ltv_curves): user cohort = user_id
    mod 12, age = event_id bucket, revenue quantized — cumulative
    revenue per cohort-age, the monetary layer over `retention`."""
    from .operators.analytics import ltv_curves

    ev = _read(spark, sf_dir, "events").select(
        (F.col("user_id") % 12).alias("cohort"),
        (F.col("event_id") / 1000).cast("long").alias("age"),
        F.floor(F.col("value") * 10).cast("long").alias("rev"),
    )
    return ltv_curves(ev).orderBy("cohort", "age")


def q_ltv_curves_oracle():
    from .operators.analytics import ltv_curves_sql

    base = ("SELECT user_id % 12 AS cohort, event_id // 1000 AS age, "
            "CAST(floor(value * 10) AS BIGINT) AS rev FROM events")
    return ("SELECT * FROM (" + ltv_curves_sql(base)
            + ") ORDER BY cohort, age")


QUERIES["ltv_curves"] = (q_ltv_curves, q_ltv_curves_oracle)


def q_perceptron(spark, sf_dir):
    """Single-epoch perceptron per user (analytics.perceptron_epoch,
    first 60 rows): exact integer margin updates in stream order —
    online learning as a pure function of the data, applyInPandas vs a
    lockstep recursive-CTE state oracle."""
    from .operators.analytics import perceptron_epoch

    w = Window.partitionBy("user_id").orderBy("event_id")
    ev = (
        _read(spark, sf_dir, "events")
        .withColumn("rn0", F.row_number().over(w))
        .filter(F.col("rn0") <= 60)
        .select(
            F.col("user_id").alias("k"), F.col("event_id").alias("o"),
            ((F.col("event_id") * 7) % 11 - 5).cast("long").alias("x1"),
            ((F.col("event_id") * 13) % 11 - 5).cast("long").alias("x2"),
            F.when((F.col("event_id") * 7) % 11 - 5
                   + 2 * ((F.col("event_id") * 13) % 11 - 5) > 0, 1)
            .otherwise(-1).cast("long").alias("y"),
        )
    )
    return perceptron_epoch(ev, "k", "o", "x1", "x2", "y").orderBy("k")


def q_perceptron_oracle():
    from .operators.analytics import perceptron_epoch_sql

    base = """
SELECT user_id AS k, event_id AS o,
       (event_id * 7) % 11 - 5 AS x1,
       (event_id * 13) % 11 - 5 AS x2,
       CASE WHEN (event_id * 7) % 11 - 5
                 + 2 * ((event_id * 13) % 11 - 5) > 0 THEN 1 ELSE -1 END AS y
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
          ORDER BY event_id) AS rn0 FROM events) t
WHERE rn0 <= 60"""
    return ("SELECT * FROM ("
            + perceptron_epoch_sql(base, "k", "o", "x1", "x2", "y")
            + ") ORDER BY k")


QUERIES["perceptron"] = (q_perceptron, q_perceptron_oracle)


def q_bwt_inverse(spark, sf_dir):
    """Inverse BWT by pointer-doubled LF mapping (textops.bwt_inverse):
    jump tables LF^(2^k) by permutation self-joins, every output
    position walking its binary decomposition in O(log n) keyed rounds —
    round-trips the `bwt` gate's transform back to prefix+'!' exactly."""
    from .operators.textops import bwt_inverse, bwt_prefix

    docs = _read(spark, sf_dir, "documents")
    b = bwt_prefix(docs)
    rec = bwt_inverse(b)
    orig = docs.filter(F.length("text") >= 32).select(
        "doc_id",
        F.concat(F.substring("text", 1, 32), F.lit("!")).alias("t"),
    )
    return (
        rec.join(orig, "doc_id")
        .select("doc_id", "recon", (F.col("recon") == F.col("t")).alias("ok"))
        .orderBy("doc_id")
    )


def q_bwt_inverse_oracle():
    from .operators.textops import bwt_inverse_sql, bwt_prefix_sql

    inv = bwt_inverse_sql(f"({bwt_prefix_sql()})")
    return f"""
SELECT r.doc_id, r.recon,
       r.recon = substr(d.text, 1, 32) || '!' AS ok
FROM ({inv}) r
JOIN documents d ON d.doc_id = r.doc_id AND length(d.text) >= 32
ORDER BY r.doc_id"""


QUERIES["bwt_inverse"] = (q_bwt_inverse, q_bwt_inverse_oracle)


def q_mtf(spark, sf_dir):
    """Move-to-front codes of 64-char document prefixes
    (textops.mtf_encode): the recency-list transform between `bwt` and
    entropy coding — with `rle_segments` and `huffman` the bzip2 chain
    is now gated end to end; string-state lockstep recursive CTE
    oracle."""
    from .operators.textops import mtf_encode

    return mtf_encode(_read(spark, sf_dir, "documents")).orderBy("doc_id", "i")


def q_mtf_oracle():
    from .operators.textops import mtf_encode_sql

    return "SELECT * FROM (" + mtf_encode_sql() + ") ORDER BY doc_id, i"


QUERIES["mtf"] = (q_mtf, q_mtf_oracle)


def q_two_opt(spark, sf_dir):
    """Best 2-opt move per user tour (trajectory.two_opt_step) over the
    caliper point sets in visit order: all edge pairs evaluated in
    parallel with 2^10-quantized exact lengths, best reversal gain +
    closed-tour length — local search as one bounded pair join."""
    from .operators.trajectory import two_opt_step

    # DISTINCT points per key -> the (x, y) visit order is tie-free and
    # deterministic in both engines
    pts = _caliper_pts_df(spark, sf_dir).distinct()
    w = Window.partitionBy("k").orderBy("x", "y")
    pts = pts.withColumn("o", F.row_number().over(w))
    return two_opt_step(pts, "k", "o", "x", "y").orderBy("k")


def q_two_opt_oracle():
    from .operators.trajectory import two_opt_step_sql

    base = f"""
SELECT k, x, y, row_number() OVER (PARTITION BY k ORDER BY x, y) AS o
FROM (SELECT DISTINCT k, x, y FROM ({_caliper_pts_sql()}) cp0) cp"""
    return ("SELECT * FROM (" + two_opt_step_sql(base, "k", "o", "x", "y")
            + ") ORDER BY k")


QUERIES["two_opt"] = (q_two_opt, q_two_opt_oracle)


def q_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary growth (textops.vocab_growth, 5 checkpoints):
    exact V(N) curve points — the corpus-scaling diagnostic next to
    `vocab_stats`."""
    from .operators.textops import vocab_growth

    return vocab_growth(_read(spark, sf_dir, "documents")).orderBy("k")


def q_vocab_growth_oracle():
    from .operators.textops import vocab_growth_sql

    return "SELECT * FROM (" + vocab_growth_sql() + ") ORDER BY k"


QUERIES["vocab_growth"] = (q_vocab_growth, q_vocab_growth_oracle)


def q_iso_week(spark, sf_dir):
    """ISO-8601 week dates (analytics.iso_week_exprs) for the julian_day
    gate's dates: weekday from JDN mod 7, ISO year from the week's
    Thursday, week number by Thursday count — all positive-operand
    integer arithmetic; the year-boundary cases (Jan 1 landing in week
    52/53 of the prior ISO year) come out of the same formulas."""
    from .operators.analytics import iso_week_exprs, jdn_expr

    e = iso_week_exprs("jdn", " div ")
    base = _read(spark, sf_dir, "events").select(
        "event_id",
        (1900 + F.col("event_id") % 300).cast("long").alias("y"),
        (1 + F.col("event_id") % 12).cast("long").alias("m"),
        (1 + F.col("event_id") % 28).cast("long").alias("d"),
    ).withColumn("jdn", F.expr(jdn_expr("y", "m", "d", " div ")).cast("long"))
    return base.select(
        "event_id", "y", "m", "d", "jdn",
        *[F.expr(sql).cast("long").alias(name) for name, sql in e.items()],
    ).orderBy("event_id")


def q_iso_week_oracle():
    from .operators.analytics import iso_week_exprs, jdn_expr

    e = iso_week_exprs("jdn", " // ")
    cols = ", ".join(f"{sql} AS {name}" for name, sql in e.items())
    return f"""
WITH b AS (
  SELECT event_id, 1900 + event_id % 300 AS y, 1 + event_id % 12 AS m,
         1 + event_id % 28 AS d
  FROM events),
j AS (SELECT *, {jdn_expr('y', 'm', 'd', ' // ')} AS jdn FROM b)
SELECT event_id, y, m, d, jdn, {cols}
FROM j ORDER BY event_id"""


QUERIES["iso_week"] = (q_iso_week, q_iso_week_oracle)


def q_mod97(spark, sf_dir):
    """ISO 7064 mod-97-10 validation (quality.mod97_cols) of synthetic
    24-digit payment references: the remainder as a POSITIONAL sum
    (digit * 10^p mod 97 literals) — no sequential folding, one explode +
    one agg; valid iff remainder = 1 (the IBAN rule)."""
    from .operators.quality import mod97_cols

    W = 24
    wts = mod97_cols(W)
    arms = " ".join(f"WHEN {i + 1} THEN {w}" for i, w in enumerate(wts))
    d = _read(spark, sf_dir, "events").select(
        "event_id",
        F.lpad(((F.col("event_id") * 982451653) % 1000000000000).cast("string"),
               W, "0").alias("ref"),
    )
    ex = d.select(
        "event_id", "ref",
        F.explode(F.sequence(F.lit(1), F.lit(W))).alias("p"),
    ).select(
        "event_id", "ref",
        (F.ascii(F.expr("substring(ref, p, 1)")) - 48).cast("long").alias("dg"),
        F.expr(f"CASE p {arms} END").cast("long").alias("w"),
    )
    return (
        ex.groupBy("event_id", "ref")
        .agg((F.sum(F.col("dg") * F.col("w")) % 97).alias("rem"))
        .withColumn("valid", F.col("rem") == 1)
        .orderBy("event_id")
    )


def q_mod97_oracle():
    from .operators.quality import mod97_cols

    W = 24
    arms = " ".join(f"WHEN {i + 1} THEN {w}"
                    for i, w in enumerate(mod97_cols(W)))
    return f"""
WITH d AS (
  SELECT event_id,
         lpad(CAST((event_id * 982451653) % 1000000000000 AS STRING),
              {W}, '0') AS ref
  FROM events),
ex AS (
  SELECT event_id, ref,
         ascii(substr(ref, CAST(p.p AS INT), 1)) - 48 AS dg,
         CASE p.p {arms} END AS w
  FROM d, (SELECT unnest(range(1, {W} + 1)) AS p) p)
SELECT event_id, ref, sum(dg * w) % 97 AS rem, sum(dg * w) % 97 = 1 AS valid
FROM ex GROUP BY 1, 2 ORDER BY event_id"""


QUERIES["mod97"] = (q_mod97, q_mod97_oracle)


def q_shapley_attr(spark, sf_dir):
    """Exact Shapley attribution (analytics.shapley_attribution): each
    purchase's credit split across the four touch channels by the exact
    coalition formula — reduced to prior-presence windows + a 64-entry
    psi lookup (no runtime subset enumeration); phi24 sums to
    24 x attributed conversions per user."""
    from .operators.analytics import shapley_attribution

    return shapley_attribution(
        _read(spark, sf_dir, "events").select("user_id", "event_id", "event_type")
    ).orderBy("user_id", "channel")


def q_shapley_attr_oracle():
    from .operators.analytics import shapley_attribution_sql

    return ("SELECT * FROM (" + shapley_attribution_sql(
        "SELECT user_id, event_id, event_type FROM events"
    ) + ") ORDER BY user_id, channel")


QUERIES["shapley_attr"] = (q_shapley_attr, q_shapley_attr_oracle)


def q_damm(spark, sf_dir):
    """Damm quasigroup checksum (quality.damm_checksum, 10-digit
    numbers): the totally-antisymmetric table walk — catches all
    adjacent transpositions Luhn misses; sequential by nature, so the
    oracle is a lockstep digit-position recursive CTE."""
    from .operators.quality import damm_checksum

    d = _read(spark, sf_dir, "events").select(
        "event_id",
        ((F.col("event_id") * 1000003) % 10000000000).cast("long").alias("num"),
    )
    return damm_checksum(d).orderBy("event_id")


def q_damm_oracle():
    from .operators.quality import damm_checksum_sql

    base = ("SELECT event_id, (event_id * 1000003) % 10000000000 AS num "
            "FROM events")
    return ("SELECT * FROM (" + damm_checksum_sql(base)
            + ") ORDER BY event_id")


QUERIES["damm"] = (q_damm, q_damm_oracle)


def q_sieve(spark, sf_dir):
    """Distributed sieve of Eratosthenes (analytics.prime_sieve,
    n=100000): multiples exploded + one distinct + one ANTI-join —
    per-bucket prime counts and checksums (pi(10^5) = 9592 pinned by
    the totals)."""
    from .operators.analytics import prime_sieve

    return prime_sieve(spark).orderBy("bucket")


def q_sieve_oracle():
    from .operators.analytics import prime_sieve_sql

    return "SELECT * FROM (" + prime_sieve_sql() + ") ORDER BY bucket"


QUERIES["sieve"] = (q_sieve, q_sieve_oracle)


def q_round_robin(spark, sf_dir):
    """Circle-method round-robin schedule (analytics.round_robin_schedule,
    14 teams, 13 rounds): every pair exactly once, closed-form pairing
    arithmetic — combinatorial design as a map-only range transform."""
    from .operators.analytics import round_robin_schedule

    return round_robin_schedule(spark).orderBy("round", "slot")


def q_round_robin_oracle():
    from .operators.analytics import round_robin_sql

    return "SELECT * FROM (" + round_robin_sql() + ") ORDER BY round, slot"


QUERIES["round_robin"] = (q_round_robin, q_round_robin_oracle)


def q_inventory(spark, sf_dir):
    """(s,S) inventory replay (analytics.inventory_policy, s=20, S=60)
    over deterministic per-item demand streams: lost sales, refills and
    shipments exactly — operations analytics as a lockstep fold."""
    from .operators.analytics import inventory_policy

    ev = _read(spark, sf_dir, "events").select(
        (F.col("user_id") % 30).alias("item"),
        F.col("event_id").alias("t"),
        ((F.col("event_id") * 11) % 17).cast("long").alias("dem"),
    )
    return inventory_policy(ev).orderBy("k")


def q_inventory_oracle():
    from .operators.analytics import inventory_policy_sql

    base = ("SELECT user_id % 30 AS item, event_id AS t, "
            "(event_id * 11) % 17 AS dem FROM events")
    return ("SELECT * FROM (" + inventory_policy_sql(base) + ") ORDER BY k")


QUERIES["inventory"] = (q_inventory, q_inventory_oracle)


def q_adstock(spark, sf_dir):
    """Geometric adstock (analytics.adstock, half-life decay, 10-period
    memory): the media-mix carryover as ONE power-of-two-weighted window
    sum — dyadic decay needs no recurrence; exact integers."""
    from .operators.analytics import adstock

    ev = _read(spark, sf_dir, "events").select(
        F.col("event_type").alias("channel"),
        F.col("event_id").alias("t"),
        ((F.col("event_id") * 7) % 23).cast("long").alias("x"),
    )
    return adstock(ev).orderBy("channel", "t")


def q_adstock_oracle():
    from .operators.analytics import adstock_sql

    base = ("SELECT event_type AS channel, event_id AS t, "
            "(event_id * 7) % 23 AS x FROM events")
    return ("SELECT * FROM (" + adstock_sql(base) + ") ORDER BY channel, t")


QUERIES["adstock"] = (q_adstock, q_adstock_oracle)


def q_erlang_b(spark, sf_dir):
    """Erlang-B blocking (analytics.erlang_b_steps semantics, 12
    servers) for a grid of offered loads: the teletraffic recursion with
    every division a floor-div at scale 2^20.  LESSON: staged codegen
    columns do NOT tame the doubling chain — Catalyst's projection
    collapse re-inlines the aliases (t appears twice per step -> 2^c
    tree); the engine folds the 12 steps in one Arrow batch instead, and
    the oracle MATERIALIZES each stage (the kcore discipline)."""
    import pandas as _pd

    S = 1 << 20

    def fold(batches):
        for pdf in batches:
            rows = []
            for aq in pdf["aq"]:
                aq = int(aq)
                b = S
                out = {}
                for k in range(1, 13):
                    t = (aq * b) // S
                    b = (t * S) // (k * S + t)
                    if k in (4, 8, 12):
                        out[f"b{k}"] = b
                rows.append({"aq": aq, **out})
            if rows:
                yield _pd.DataFrame(rows)

    d = spark.range(1, 81).select(
        (F.col("id") * 655360).cast("long").alias("aq")
    )
    return d.mapInPandas(
        fold, "aq long, b4 long, b8 long, b12 long"
    ).orderBy("aq")


def q_erlang_b_oracle():
    from .operators.analytics import erlang_b_steps

    blocks = ["s0 AS MATERIALIZED (SELECT unnest(range(1, 81)) * 655360 AS aq)"]
    prev = "s0"
    for k, (t, b) in enumerate(erlang_b_steps(" // ", 12), 1):
        blocks.append(
            f"s{k} AS MATERIALIZED (SELECT *, {b} AS b{k} FROM "
            f"(SELECT *, {t} AS t{k} FROM {prev}) i{k})"
        )
        prev = f"s{k}"
    return ("WITH " + ",\n".join(blocks)
            + f"\nSELECT aq, b4, b8, b12 FROM {prev} ORDER BY aq")


QUERIES["erlang_b"] = (q_erlang_b, q_erlang_b_oracle)


def q_abc_xyz(spark, sf_dir):
    """ABC/XYZ segmentation (analytics.abc_xyz) of order revenue by
    customer-segment item keys: Pareto classes by cross-multiplied
    cumulative shares, variability classes by exact CV^2 comparisons —
    the ops-planning classifier over `pareto_point`."""
    from .operators.analytics import abc_xyz

    o = _read(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 40).alias("item"),
        F.floor(F.col("o_totalprice") / 100).cast("long").alias("v"),
    )
    return abc_xyz(o).orderBy("item")


def q_abc_xyz_oracle():
    from .operators.analytics import abc_xyz_sql

    base = ("SELECT o_custkey % 40 AS item, "
            "CAST(floor(o_totalprice / 100) AS BIGINT) AS v FROM orders")
    return "SELECT * FROM (" + abc_xyz_sql(base) + ") ORDER BY item"


QUERIES["abc_xyz"] = (q_abc_xyz, q_abc_xyz_oracle)


def q_rmst(spark, sf_dir):
    """Restricted mean survival time (analytics.rmst, tau=40) over the
    kaplan_meier durations: the floor-div survival chain integrated to
    tau — completes the survival quartet (km / nelson_aalen / log_rank /
    rmst)."""
    from .operators.analytics import rmst

    o = _read(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 50).cast("long").alias("t"),
        (F.col("o_orderstatus") == "F").cast("long").alias("e"),
    )
    return rmst(o)


def q_rmst_oracle():
    from .operators.analytics import rmst_sql

    base = ("SELECT CAST(o_orderkey % 50 AS BIGINT) AS t, "
            "CAST(o_orderstatus = 'F' AS BIGINT) AS e FROM orders")
    return rmst_sql(base)


QUERIES["rmst"] = (q_rmst, q_rmst_oracle)


def q_bitmap_index(spark, sf_dir):
    """Bitmap-index AND query (sketches.bitmap_index +
    bitmap_and_count): per-event-type 60-bit-word bitmaps over row
    buckets, conjunction answered by word-aligned & + bit_count — the
    Roaring-style OLAP predicate accelerator.  The bit domain is USER
    ids (event-row positions would make the conjunction structurally
    empty — one type per row; caught by the output audit): the AND
    counts users who did BOTH actions.  Emits the two keys' index words
    plus the AND count as one relation."""
    from .operators.sketches import bitmap_and_count, bitmap_index

    ev = _read(spark, sf_dir, "events").select(
        F.col("event_type").alias("k"),
        F.col("user_id").cast("long").alias("rn"),
    ).distinct()
    idx = bitmap_index(ev)
    cnt = bitmap_and_count(idx, "click", "view")
    return (
        idx.filter(F.col("k").isin("click", "view"))
        .select("k", "w", "bits", F.lit(None).cast("long").alias("n_and"))
        .unionByName(cnt.select(F.lit("AND").alias("k"),
                                F.lit(-1).cast("long").alias("w"),
                                F.lit(0).cast("long").alias("bits"), "n_and"))
        .orderBy("k", "w")
    )


def q_bitmap_index_oracle():
    from .operators.sketches import bitmap_index_sql

    base = "SELECT DISTINCT event_type AS k, user_id AS rn FROM events"
    idx = bitmap_index_sql(base)
    return f"""
WITH idx AS ({idx})
SELECT k, w, bits, CAST(NULL AS BIGINT) AS n_and
FROM idx WHERE k IN ('click', 'view')
UNION ALL
SELECT 'AND', -1, 0,
       (SELECT sum(bit_count(a.bits & b.bits))
        FROM idx a JOIN idx b ON b.w = a.w
        WHERE a.k = 'click' AND b.k = 'view')
ORDER BY k, w"""


QUERIES["bitmap_index"] = (q_bitmap_index, q_bitmap_index_oracle)


def q_encoding_stats(spark, sf_dir):
    """Columnar encoding chooser (quality.encoding_stats): RLE runs,
    dictionary cardinality and the integer byte models per synthetic
    column — the writer-side planning primitive of the table format."""
    from .operators.quality import encoding_stats

    ev = _read(spark, sf_dir, "events")
    cols = ev.select(
        "event_id",
        F.explode(F.array(
            F.struct(F.lit("low_card").alias("c"),
                     (F.col("event_id") % 4).cast("long").alias("v")),
            F.struct(F.lit("runs").alias("c"),
                     (F.col("event_id") / 100).cast("long").alias("v")),
            F.struct(F.lit("unique").alias("c"),
                     F.col("event_id").cast("long").alias("v")),
        )).alias("s"),
    ).select(F.col("s.c").alias("col_name"), F.col("event_id").alias("rn"),
             F.col("s.v").alias("v"))
    return encoding_stats(cols).orderBy("col_name")


def q_encoding_stats_oracle():
    from .operators.quality import encoding_stats_sql

    base = """
SELECT c AS col_name, event_id AS rn, v FROM (
  SELECT event_id, 'low_card' AS c, event_id % 4 AS v FROM events
  UNION ALL SELECT event_id, 'runs', event_id // 100 FROM events
  UNION ALL SELECT event_id, 'unique', event_id FROM events) u"""
    return ("SELECT * FROM (" + encoding_stats_sql(base)
            + ") ORDER BY col_name")


QUERIES["encoding_stats"] = (q_encoding_stats, q_encoding_stats_oracle)


def q_max_cliques(spark, sf_dir):
    """Maximal cliques on 16 twelve-node graphs
    (graph.maximal_cliques_bounded): clique- and maximality-tests as
    pure bitmask algebra over all 4095 subsets — the bounded exact
    verifier of the NP enumeration (Bron-Kerbosch is the unbounded
    path); per-key counts, max size and canonical best clique."""
    from .operators.graph import maximal_cliques_bounded

    n = 12
    base = spark.range(16 * n * n).select(
        (F.col("id") / (n * n)).cast("long").alias("k"),
        ((F.col("id") / n) % n).cast("long").alias("i"),
        (F.col("id") % n).alias("j"),
    ).filter(F.col("i") != F.col("j")).filter(
        (F.col("i") * F.col("j") * 7 + F.col("i") + F.col("j")
         + F.col("k") * 3) % 5 < 2
    )
    adj = base.groupBy("k", F.col("i").alias("node")).agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))"))
        .alias("amask")
    )
    full = spark.range(16 * n).select(
        (F.col("id") / n).cast("long").alias("k"),
        (F.col("id") % n).alias("node"),
    )
    adj = full.join(adj, ["k", "node"], "left").fillna(0, ["amask"])
    return maximal_cliques_bounded(adj).orderBy("k")


def q_max_cliques_oracle():
    from .operators.graph import maximal_cliques_sql

    n = 12
    adj = f"""
SELECT f.k, f.node, coalesce(a.amask, 0) AS amask
FROM (SELECT i // {n} AS k, i % {n} AS node
      FROM (SELECT unnest(range({16 * n})) AS i) t) f
LEFT JOIN (
  SELECT k, i AS node,
         sum(CAST(1 AS BIGINT) << CAST(j AS INT)) AS amask
  FROM (
    SELECT id // {n * n} AS k, (id // {n}) % {n} AS i, id % {n} AS j
    FROM (SELECT unnest(range({16 * n * n})) AS id) u) e
  WHERE i <> j AND (i * j * 7 + i + j + k * 3) % 5 < 2
  GROUP BY 1, 2) a
  ON a.k = f.k AND a.node = f.node"""
    return ("SELECT * FROM (" + maximal_cliques_sql(adj)
            + ") ORDER BY k")


QUERIES["max_cliques"] = (q_max_cliques, q_max_cliques_oracle)


def q_tsp_exact(spark, sf_dir):
    """Exact Held-Karp TSP (trajectory.tsp_exact, 10 cities x 16 keys):
    bitmask DP layers as chained equi-join + min-agg rounds — the
    bounded-exact optimum that pins `two_opt` from below; distances are
    the caliper quantization (2^10 sqrt)."""
    from .operators.trajectory import tsp_exact

    n = 10
    pts = spark.range(16 * n).select(
        (F.col("id") / n).cast("long").alias("k"),
        (F.col("id") % n).alias("node"),
        ((F.col("id") * 37) % 1000).cast("long").alias("x"),
        ((F.col("id") * 61) % 1000).cast("long").alias("y"),
    )
    a = pts.select("k", F.col("node").alias("i"), F.col("x").alias("xi"),
                   F.col("y").alias("yi"))
    b = pts.select("k", F.col("node").alias("j"), F.col("x").alias("xj"),
                   F.col("y").alias("yj"))
    d = a.join(b, "k").filter(F.col("i") != F.col("j")).select(
        "k", "i", "j",
        F.floor(F.sqrt(((F.col("xi") - F.col("xj")) * (F.col("xi") - F.col("xj"))
                        + (F.col("yi") - F.col("yj")) * (F.col("yi") - F.col("yj")))
                       .cast("double")) * 1024).cast("long").alias("d"),
    )
    return tsp_exact(d).orderBy("k")


def q_tsp_exact_oracle():
    from .operators.trajectory import tsp_exact_sql

    n = 10
    dists = f"""
SELECT a.k, a.node AS i, b.node AS j,
       CAST(floor(sqrt(CAST((a.x - b.x) * (a.x - b.x)
            + (a.y - b.y) * (a.y - b.y) AS DOUBLE)) * 1024) AS BIGINT) AS d
FROM (SELECT id // {n} AS k, id % {n} AS node, (id * 37) % 1000 AS x,
             (id * 61) % 1000 AS y
      FROM (SELECT unnest(range({16 * n})) AS id) t) a
JOIN (SELECT id // {n} AS k, id % {n} AS node, (id * 37) % 1000 AS x,
             (id * 61) % 1000 AS y
      FROM (SELECT unnest(range({16 * n})) AS id) t) b
  ON b.k = a.k AND a.node <> b.node"""
    return "SELECT * FROM (" + tsp_exact_sql(dists) + ") ORDER BY k"


QUERIES["tsp_exact"] = (q_tsp_exact, q_tsp_exact_oracle)


def q_streaks(spark, sf_dir):
    """Longest / current success streaks per user
    (timeseries.longest_streaks): the gaps-and-islands rank-difference
    trick — the engagement metric as pure window codegen."""
    from .operators.timeseries import longest_streaks

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id",
        ((F.col("event_id") * 7) % 10 < 6).cast("long").alias("hit"),
    )
    return longest_streaks(ev).orderBy("user_id")


def q_streaks_oracle():
    from .operators.timeseries import longest_streaks_sql

    base = ("SELECT user_id, event_id, "
            "CAST((event_id * 7) % 10 < 6 AS BIGINT) AS hit FROM events")
    return ("SELECT * FROM (" + longest_streaks_sql(base)
            + ") ORDER BY user_id")


QUERIES["streaks"] = (q_streaks, q_streaks_oracle)


# --------------------------------------------------------------------------
# Oracle dtype hardening: DuckDB widens BIGINT sums in WINDOW frames and
# RECURSIVE CTEs to HUGEINT, which fetch_df renders as float64 — the
# driver's value-hash then mismatches Spark's int64 column even when every
# value is equal (the pack_stream/simhash/sessionize failure class).  Rather
# than editing ~50 oracle bodies, wrap each affected oracle with a
# `SELECT * REPLACE (CAST(c AS BIGINT) AS c, ...)` shell.  The list is
# produced (and re-checkable) by tools/scan_dtype_splits.py; nullable
# columns are excluded there (both engines render those float64, which
# hashes consistently).

_BIGINT_ORACLE_COLS = {
    'abc_xyz': ['total_v'],
    'adler32': ['a', 'bb', 'adler'],
    'apportion': ['quota', 'rem', 'seats'],
    'bpe_encode': ['n_tokens'],
    'bradley_terry': ['w'],
    'brier_decomp': ['m', 'rel_q', 'res_q', 'unc_num'],
    'catchment_2sfca': ['access'],
    'cdc_chunks': ['chunk_idx', 'csum'],
    'chain_ladder': ['latest', 'ultimate'],
    'conformal': ['covered'],
    'cusum': ['c'],
    'drawdown': ['max_dd'],
    'encoding_stats': ['runs', 'rle_b'],
    'feature_hash': ['val'],
    'fisher_lda': ['n0', 'n1', 't11', 't12', 't22', 'd1', 'd2', 'w1', 'w2'],
    'gorilla_size': ['total_bytes'],
    'harmonic': ['h_q'],
    'hhi': ['num', 'den', 'hhi_q'],
    'kadane': ['max_sum'],
    'kmedoids_swap': ['delta'],
    'ks_pairs': ['d_num'],
    'lindley': ['wait'],
    'log_rank': ['oe_q', 'var_q'],
    'lorenz': ['cum_x', 'tot_x'],
    'los_pairs': ['n_blocked'],
    'ltv_curves': ['rev', 'cum_rev'],
    'mann_kendall': ['n', 's', 'var18'],
    'mod97': ['rem'],
    'nelson_aalen': ['n_risk', 'd', 'c', 'na_q'],
    'neyman': ['quota', 'rem', 'n_alloc'],
    'onset_flux': ['flux'],
    'pareto_point': ['total', 'cum_at_k'],
    'quantile_transform': ['q_sum', 'q_ws'],
    'rand_response': ['n1', 'est2'],
    'rbo': ['rbo_q'],
    'readability': ['n_syll'],
    'rect_union': ['area'],
    'rolling_ols': ['num', 'den'],
    'shapley_attr': ['phi24'],
    'shot_cuts': ['shot', 'sad_sum'],
    'sieve': ['sum_primes'],
    'simrank': ['s'],
    'sq_int8': ['code_sum', 'code_ws', 'err_abs'],
    'strahler': ['cs'],
    'streaks': ['n_hits'],
    'tree_rollup': ['subtree_cents'],
    'two_opt': ['tour_q'],
    'vocab_stats': ['n_tokens', 'hapax', 'dis'],
    'wht': ['coef'],
    'winsorized_mean': ['wsum'],
}


def _bigint_oracle(fn, cols):
    def wrapped():
        rep = ", ".join(f"CAST({c} AS BIGINT) AS {c}" for c in cols)
        return f"SELECT * REPLACE ({rep}) FROM ({fn()}) _bigint_fix"
    return wrapped


for _name, _cols in _BIGINT_ORACLE_COLS.items():
    _fn, _ofn = QUERIES[_name]
    QUERIES[_name] = (_fn, _bigint_oracle(_ofn, _cols))
del _name, _cols, _fn, _ofn
