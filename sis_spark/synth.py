"""Deterministic synthetic geometry derived from integer keys — shared by the
engine (Spark) and the DuckDB oracle so both see bit-identical doubles.

No table in TESTDATA carries coordinates, so spatial queries derive lon/lat
from integer keys.  Rules:

* Only integer ops (*, %, +) and IEEE double ops (+,-,*,/) on values both
  engines parse from the same literals — transcendental-free wherever a
  floor/compare boundary decision could flip between libm implementations.
* Polygon vertex *directions* come from a 32-entry unit-vector table computed
  ONCE in Python and embedded as literals into the oracle SQL — numpy and
  DuckDB therefore multiply the exact same doubles.
* The point distribution is the "synthetic skewed H3 distribution" the north
  rule demands: 80% of points in 8 hot clusters (jitter ±0.5°), 20% uniform —
  this is what the salting/skew machinery is exercised against.

Coordinate expressions are emitted as SQL text valid in BOTH Spark SQL and
DuckDB (same grammar subset), so the derivation literally cannot drift
between engines.
"""

from __future__ import annotations

import math

import numpy as np

# 8 city-like hot cluster centers (lon, lat)
HOT_CENTERS = [
    (-74.006, 40.7128),   # New York
    (-0.1276, 51.5074),   # London
    (139.6917, 35.6895),  # Tokyo
    (2.3522, 48.8566),    # Paris
    (-122.4194, 37.7749), # San Francisco
    (77.209, 28.6139),    # Delhi
    (-43.1729, -22.9068), # Rio
    (151.2093, -33.8688), # Sydney
]

# 32 CCW unit direction vectors, computed once; repr() round-trips exactly,
# so the SQL literals parse back to these exact doubles.
N_DIRS = 32
DIR_UX = [math.cos(2.0 * math.pi * i / N_DIRS) for i in range(N_DIRS)]
DIR_UY = [math.sin(2.0 * math.pi * i / N_DIRS) for i in range(N_DIRS)]


def flit(x: float) -> str:
    """Float literal that parses as DOUBLE (not DECIMAL) in both Spark SQL and
    DuckDB: an exponent marker forces the double fast-path, so 17-digit
    mantissas are strtod-round-tripped instead of going through DECIMAL
    (whose cast to double double-rounds for mantissas > 2^53)."""
    r = repr(float(x))
    return r if ("e" in r or "inf" in r or "nan" in r) else r + "e0"


def _center_case(id_sql: str, axis: int) -> str:
    """CASE mapping (id % 8) -> hot-center coordinate (valid in both dialects)."""
    arms = " ".join(
        f"WHEN {i} THEN {flit(HOT_CENTERS[i][axis])}" for i in range(len(HOT_CENTERS))
    )
    return f"(CASE (({id_sql}) % 8) {arms} END)"


# ---------------------------------------------------------------- event points

def point_lon_sql(id_sql: str) -> str:
    """Skewed longitude from an integer key (both dialects)."""
    jitter = f"(CAST((({id_sql}) * 2654435761) % 100001 - 50000 AS DOUBLE) / 100000.0)"
    uniform = f"(CAST((({id_sql}) * 7919) % 36000000 AS DOUBLE) / 100000.0 - 180.0)"
    hot = f"({_center_case(id_sql, 0)} + {jitter})"
    return f"(CASE WHEN (({id_sql}) % 10) < 8 THEN {hot} ELSE {uniform} END)"


def point_lat_sql(id_sql: str) -> str:
    jitter = f"(CAST((({id_sql}) * 179424673) % 100001 - 50000 AS DOUBLE) / 100000.0)"
    uniform = f"(CAST((({id_sql}) * 104729) % 17000000 AS DOUBLE) / 100000.0 - 85.0)"
    hot = f"({_center_case(id_sql, 1)} + {jitter})"
    return f"(CASE WHEN (({id_sql}) % 10) < 8 THEN {hot} ELSE {uniform} END)"


def point_lonlat_np(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """numpy twin of point_lon_sql/point_lat_sql (same op order)."""
    ids = np.asarray(ids, dtype=np.int64)
    c = (ids % 8).astype(np.int64)
    centers = np.asarray(HOT_CENTERS, dtype=np.float64)
    jlon = ((ids * 2654435761) % 100001 - 50000).astype(np.float64) / 100000.0
    jlat = ((ids * 179424673) % 100001 - 50000).astype(np.float64) / 100000.0
    hot_lon = centers[c, 0] + jlon
    hot_lat = centers[c, 1] + jlat
    u_lon = ((ids * 7919) % 36000000).astype(np.float64) / 100000.0 - 180.0
    u_lat = ((ids * 104729) % 17000000).astype(np.float64) / 100000.0 - 85.0
    is_hot = (ids % 10) < 8
    return np.where(is_hot, hot_lon, u_lon), np.where(is_hot, hot_lat, u_lat)


# ---------------------------------------------------------------- query points (kNN)

def query_lon_sql(id_sql: str) -> str:
    """kNN query points: mostly near hot clusters (±2°), some uniform."""
    jitter = f"(CAST((({id_sql}) * 48271) % 400001 - 200000 AS DOUBLE) / 100000.0)"
    uniform = f"(CAST((({id_sql}) * 6700417) % 36000000 AS DOUBLE) / 100000.0 - 180.0)"
    hot = f"({_center_case(id_sql, 0)} + {jitter})"
    return f"(CASE WHEN (({id_sql}) % 5) < 4 THEN {hot} ELSE {uniform} END)"


def query_lat_sql(id_sql: str) -> str:
    jitter = f"(CAST((({id_sql}) * 69621) % 400001 - 200000 AS DOUBLE) / 100000.0)"
    uniform = f"(CAST((({id_sql}) * 999331) % 17000000 AS DOUBLE) / 100000.0 - 85.0)"
    hot = f"({_center_case(id_sql, 1)} + {jitter})"
    return f"(CASE WHEN (({id_sql}) % 5) < 4 THEN {hot} ELSE {uniform} END)"


# ---------------------------------------------------------------- polygons

# integer parameter formulas (Python // == DuckDB // for non-negatives)

def polygon_params_np(keys: np.ndarray) -> dict:
    keys = np.asarray(keys, dtype=np.int64)
    is_hot = (keys % 4) < 3
    c = (keys % 8).astype(np.int64)
    centers = np.asarray(HOT_CENTERS, dtype=np.float64)
    offlon = ((keys * 48271) % 2001 - 1000).astype(np.float64) / 1000.0 * 0.3
    offlat = ((keys * 69621) % 2001 - 1000).astype(np.float64) / 1000.0 * 0.3
    hot_cx = centers[c, 0] + offlon
    hot_cy = centers[c, 1] + offlat
    bg_cx = ((keys * 7919) % 34000).astype(np.float64) / 100.0 - 170.0
    bg_cy = ((keys * 104729) % 16000).astype(np.float64) / 100.0 - 80.0
    return {
        "key": keys,
        "cx": np.where(is_hot, hot_cx, bg_cx),
        "cy": np.where(is_hot, hot_cy, bg_cy),
        "r": (5.0 + ((keys * 31) % 26).astype(np.float64)) / 10.0,  # 0.5 .. 3.0 deg
        "nv": (5 + keys % 12).astype(np.int64),                      # 5 .. 16 vertices
        "phase": (keys % 32).astype(np.int64),
    }


def polygon_vertices_np(key: int) -> tuple[np.ndarray, np.ndarray]:
    """Star-convex simple polygon vertices for one key (CCW order)."""
    p = polygon_params_np(np.asarray([key]))
    cx, cy, r = float(p["cx"][0]), float(p["cy"][0]), float(p["r"][0])
    nv, phase = int(p["nv"][0]), int(p["phase"][0])
    ks = np.arange(nv, dtype=np.int64)
    d = (phase + (ks * 32) // nv) % 32
    rk = r * (0.6 + 0.4 * ((key * 13 + ks * 7) % 10).astype(np.float64) / 10.0)
    ux = np.asarray(DIR_UX, dtype=np.float64)[d]
    uy = np.asarray(DIR_UY, dtype=np.float64)[d]
    return cx + rk * ux, cy + rk * uy


MAX_NV = 16


def polygon_vertices_padded_np(keys: np.ndarray):
    """Vectorized twin of polygon_vertices_np for MANY keys at once:
    returns (VX, VY, nv) with (N, MAX_NV) padded vertex arrays (lanes
    >= nv[i] are garbage — callers mask).  Identical FP op order to the
    scalar path and to polygon_vertices_sql."""
    p = polygon_params_np(np.asarray(keys, dtype=np.int64))
    keys = p["key"]
    nv = p["nv"]
    ks = np.arange(MAX_NV, dtype=np.int64)[None, :]
    d = (p["phase"][:, None] + (ks * 32) // nv[:, None]) % 32
    rk = p["r"][:, None] * (
        0.6 + 0.4 * ((keys[:, None] * 13 + ks * 7) % 10).astype(np.float64) / 10.0
    )
    ux = np.asarray(DIR_UX, dtype=np.float64)[d]
    uy = np.asarray(DIR_UY, dtype=np.float64)[d]
    VX = p["cx"][:, None] + rk * ux
    VY = p["cy"][:, None] + rk * uy
    return VX, VY, nv


def polygon_table_np(keys: np.ndarray) -> list[dict]:
    """Driver-side polygon 'dimension' (the broadcast side of the spatial join).
    Mirrors plan-time CRS/envelope normalization of the reference's
    BinaryGeometryFilter.optimize (F/filter/BinaryGeometryFilter.java:43)."""
    out = []
    for key in np.asarray(keys, dtype=np.int64):
        vx, vy = polygon_vertices_np(int(key))
        out.append({
            "key": int(key),
            "vx": vx,
            "vy": vy,
            "xmin": float(vx.min()),
            "ymin": float(vy.min()),
            "xmax": float(vx.max()),
            "ymax": float(vy.max()),
        })
    return out


def _dirs_values_sql() -> str:
    rows = ", ".join(
        f"({i}, {flit(DIR_UX[i])}, {flit(DIR_UY[i])})" for i in range(N_DIRS)
    )
    return f"(VALUES {rows}) AS d(di, ux, uy)"


def polygon_vertices_sql(supplier_rel: str = "supplier", key: str = "s_suppkey") -> str:
    """DuckDB CTE text producing (key, k, nv, vx, vy) for every supplier polygon.

    Independent SQL re-derivation of polygon_vertices_np for differential
    testing — shares only the literal constants.
    """
    k8 = f"(({key}) % 8)"
    offlon = f"(CAST((({key}) * 48271) % 2001 - 1000 AS DOUBLE) / 1000.0 * 0.3)"
    offlat = f"(CAST((({key}) * 69621) % 2001 - 1000 AS DOUBLE) / 1000.0 * 0.3)"
    hot_cx = f"({_center_case(key, 0)} + {offlon})"
    hot_cy = f"({_center_case(key, 1)} + {offlat})"
    bg_cx = f"(CAST((({key}) * 7919) % 34000 AS DOUBLE) / 100.0 - 170.0)"
    bg_cy = f"(CAST((({key}) * 104729) % 16000 AS DOUBLE) / 100.0 - 80.0)"
    return f"""
  par AS (
    SELECT {key} AS key,
           CASE WHEN ({key} % 4) < 3 THEN {hot_cx} ELSE {bg_cx} END AS cx,
           CASE WHEN ({key} % 4) < 3 THEN {hot_cy} ELSE {bg_cy} END AS cy,
           (5.0 + CAST(({key} * 31) % 26 AS DOUBLE)) / 10.0 AS r,
           5 + ({key} % 12) AS nv,
           ({key} % 32) AS phase
    FROM {supplier_rel}
  ),
  verts AS (
    SELECT p.key, t.k, p.nv,
           p.cx + (p.r * (0.6 + 0.4 * CAST((p.key * 13 + t.k * 7) % 10 AS DOUBLE) / 10.0)) * d.ux AS vx,
           p.cy + (p.r * (0.6 + 0.4 * CAST((p.key * 13 + t.k * 7) % 10 AS DOUBLE) / 10.0)) * d.uy AS vy
    FROM par p
    CROSS JOIN generate_series(0, 15) t(k)
    JOIN {_dirs_values_sql()}
      ON d.di = (p.phase + (t.k * 32) // p.nv) % 32
    WHERE t.k < p.nv
  ),
  edges AS (
    SELECT v.key, v.vx, v.vy, w.vx AS wx, w.vy AS wy
    FROM verts v
    JOIN verts w ON w.key = v.key AND w.k = (v.k + 1) % v.nv
  )"""


def pip_join_oracle_sql(points_select: str, zoom_or_none=None) -> str:
    """Full DuckDB oracle for the point-in-polygon join.

    ``points_select`` must yield (pid, lon, lat).  Output: (pid, poly_key)
    pairs where the point is strictly inside by the even-odd rule — the
    crossing test is written with the exact FP ops of
    geometry.points_in_polygon.
    """
    return f"""
WITH {polygon_vertices_sql()},
  pts AS ({points_select})
SELECT p.pid, e.key AS poly_key
FROM pts p
JOIN edges e
  ON ((e.vy > p.lat) <> (e.wy > p.lat))
 AND (p.lon < (e.wx - e.vx) * (p.lat - e.vy) / (e.wy - e.vy) + e.vx)
GROUP BY p.pid, e.key
HAVING (count(*) % 2) = 1
ORDER BY p.pid, poly_key
"""


def polygon_pair_oracle_sql(supplier_rel: str = "supplier", key: str = "s_suppkey") -> str:
    """DuckDB oracle for the polygon-vs-polygon pair join: envelope-overlap
    candidates, proper-crossing detection (orientation sign products, the
    exact FP expression order of geometry.proper_crossings), strict even-odd
    vertex containment (the geometry.ray_crossings expression), and the same
    general-position predicate derivations as relate.predicates_from_flags.
    Output (a, b, contains_ab, contains_ba) for intersecting pairs a < b."""
    return f"""
WITH {polygon_vertices_sql(supplier_rel, key)},
env AS (
  SELECT key, min(vx) AS xmin, min(vy) AS ymin, max(vx) AS xmax, max(vy) AS ymax
  FROM verts GROUP BY 1),
cand AS (
  SELECT ea.key AS a, eb.key AS b
  FROM env ea JOIN env eb
    ON ea.key < eb.key
   AND ea.xmin <= eb.xmax AND eb.xmin <= ea.xmax
   AND ea.ymin <= eb.ymax AND eb.ymin <= ea.ymax),
crossings AS (
  SELECT c.a, c.b, count(*) AS nx
  FROM cand c
  JOIN edges ea ON ea.key = c.a
  JOIN edges eb ON eb.key = c.b
  WHERE (((ea.wx - ea.vx) * (eb.vy - ea.vy) - (ea.wy - ea.vy) * (eb.vx - ea.vx))
       * ((ea.wx - ea.vx) * (eb.wy - ea.vy) - (ea.wy - ea.vy) * (eb.wx - ea.vx)) < 0)
    AND (((eb.wx - eb.vx) * (ea.vy - eb.vy) - (eb.wy - eb.vy) * (ea.vx - eb.vx))
       * ((eb.wx - eb.vx) * (ea.wy - eb.vy) - (eb.wy - eb.vy) * (ea.wx - eb.vx)) < 0)
  GROUP BY 1, 2),
ain AS (
  SELECT c.a, c.b, v.k,
         (sum(CASE WHEN ((e.vy > v.vy) <> (e.wy > v.vy))
                    AND (v.vx < (e.wx - e.vx) * (v.vy - e.vy) / (e.wy - e.vy) + e.vx)
              THEN 1 ELSE 0 END) % 2) = 1 AS inside
  FROM cand c JOIN verts v ON v.key = c.a JOIN edges e ON e.key = c.b
  GROUP BY c.a, c.b, v.k),
a_in AS (SELECT a, b, bool_or(inside) AS any_ab, bool_and(inside) AS all_ab FROM ain GROUP BY 1, 2),
bin AS (
  SELECT c.a, c.b, v.k,
         (sum(CASE WHEN ((e.vy > v.vy) <> (e.wy > v.vy))
                    AND (v.vx < (e.wx - e.vx) * (v.vy - e.vy) / (e.wy - e.vy) + e.vx)
              THEN 1 ELSE 0 END) % 2) = 1 AS inside
  FROM cand c JOIN verts v ON v.key = c.b JOIN edges e ON e.key = c.a
  GROUP BY c.a, c.b, v.k),
b_in AS (SELECT a, b, bool_or(inside) AS any_ba, bool_and(inside) AS all_ba FROM bin GROUP BY 1, 2),
flags AS (
  SELECT c.a, c.b,
         coalesce(x.nx, 0) > 0 AS crossed,
         ai.any_ab, ai.all_ab, bi.any_ba, bi.all_ba
  FROM cand c
  LEFT JOIN crossings x ON x.a = c.a AND x.b = c.b
  JOIN a_in ai ON ai.a = c.a AND ai.b = c.b
  JOIN b_in bi ON bi.a = c.a AND bi.b = c.b)
SELECT a, b,
       (NOT crossed AND all_ba) AS contains_ab,
       (NOT crossed AND all_ab) AS contains_ba
FROM flags
WHERE crossed OR any_ab OR any_ba
ORDER BY a, b"""
