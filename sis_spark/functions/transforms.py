"""Coordinate transforms: affine 6-tuples + WGS84 <-> Web-Mercator, Web-Mercator tiling.

Re-derivation (NOT a port) of the reference's batch-array MathTransform design
(R/referencing/operation/transform/AbstractMathTransform.java:406-739) as numpy:

* Spherical Mercator forward/inverse per the formulas in
  R/referencing/operation/projection/Mercator.java:532-605
  (``y = R * asinh(tan(phi))``), with the special-latitude rules asserted by
  Rt/.../projection/MercatorTest.java:141-161: phi=+-90deg -> +-inf, NaN -> NaN,
  |phi| > 90deg -> NaN.
* Affine composition mirrors MathTransforms.concatenate's matrix-multiply
  merging (R/.../transform/MathTransforms.java:481).
* Tile assignment uses floorDiv(pixel, TILE) exactly as
  S/tiling/TiledGridCoverage.java:326,489, with the inclusive-low GridExtent
  convention (F/coverage/grid/GridExtent.java:340).
* CELL_CENTER vs CELL_CORNER half-pixel registration
  (F/coverage/grid/PixelInCell.java, PixelTranslation.java) is explicit in
  ``grid_to_crs`` / ``crs_to_grid``.
"""

from __future__ import annotations

import numpy as np

R_EARTH = 6378137.0  # WGS84 semi-major axis, spherical Web-Mercator (EPSG:3857)
MAX_MERC_LAT = 85.05112878  # atan(sinh(pi)) in degrees: square world
TILE = 256


# ---------------------------------------------------------------- affine

def affine_apply(a: tuple, x: np.ndarray, y: np.ndarray):
    """(x,y) -> (a0*x + a1*y + a2, a3*x + a4*y + a5)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    return a[0] * x + a[1] * y + a[2], a[3] * x + a[4] * y + a[5]


def affine_concat(f: tuple, g: tuple) -> tuple:
    """Affine equal to applying g first, then f (matrix product f@g)."""
    return (
        f[0] * g[0] + f[1] * g[3],
        f[0] * g[1] + f[1] * g[4],
        f[0] * g[2] + f[1] * g[5] + f[2],
        f[3] * g[0] + f[4] * g[3],
        f[3] * g[1] + f[4] * g[4],
        f[3] * g[2] + f[4] * g[5] + f[5],
    )


def affine_invert(a: tuple) -> tuple:
    det = a[0] * a[4] - a[1] * a[3]
    if det == 0.0:
        raise ValueError("singular affine")
    ia, ib, ic, id_ = a[4] / det, -a[1] / det, -a[3] / det, a[0] / det
    return (ia, ib, -(ia * a[2] + ib * a[5]), ic, id_, -(ic * a[2] + id_ * a[5]))


def grid_to_crs(a: tuple, cell_center: bool = True) -> tuple:
    """Registration shift: a GridGeometry affine maps *cell corners*;
    CELL_CENTER registration adds +0.5 before the affine
    (F/coverage/grid/PixelTranslation.java)."""
    if not cell_center:
        return a
    return affine_concat(a, (1.0, 0.0, 0.5, 0.0, 1.0, 0.5))


# ---------------------------------------------------------------- mercator

def mercator_forward(lon: np.ndarray, lat: np.ndarray):
    """WGS84 deg -> EPSG:3857 meters.  phi=+-90 -> +-inf, out-of-range -> NaN."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = R_EARTH * np.radians(lon)
    with np.errstate(divide="ignore", invalid="ignore"):
        phi = np.radians(lat)
        y = R_EARTH * np.arcsinh(np.tan(phi))
        y = np.where(np.abs(lat) > 90.0, np.nan, y)
        y = np.where(lat == 90.0, np.inf, y)
        y = np.where(lat == -90.0, -np.inf, y)
    return x, y


def mercator_inverse(x: np.ndarray, y: np.ndarray):
    """EPSG:3857 meters -> WGS84 deg (Mercator.java inverse: phi = atan(sinh(y/R)))."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = np.degrees(x / R_EARTH)
    lat = np.degrees(np.arctan(np.sinh(y / R_EARTH)))
    return lon, lat


# ---------------------------------------------------------------- web-mercator tiling

def world_coords(lon: np.ndarray, lat: np.ndarray):
    """Normalized square-world coords in [0,1): x east, y SOUTH (slippy-map).

    Latitude is clamped to +-MAX_MERC_LAT (the reference clamps poles when
    rasterizing: MercatorTest.java:141-161 documents the +-inf poles which a
    tiling must clamp into the last row).
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_MERC_LAT, MAX_MERC_LAT)
    xn = (lon + 180.0) / 360.0
    phi = np.radians(lat)
    yn = 0.5 - np.arcsinh(np.tan(phi)) / (2.0 * np.pi)
    return xn, yn


def tile_assign(lon: np.ndarray, lat: np.ndarray, zoom: int):
    """(tx, ty) web-mercator tile indices: floorDiv convention of
    S/tiling/TiledGridCoverage.java:326 — a pixel exactly on k*TILE lands
    in tile k; the world edge clamps into the last tile."""
    n = 1 << zoom
    xn, yn = world_coords(lon, lat)
    tx = np.clip(np.floor(xn * n), 0, n - 1).astype(np.int64)
    ty = np.clip(np.floor(yn * n), 0, n - 1).astype(np.int64)
    return tx, ty


def pixel_assign(lon: np.ndarray, lat: np.ndarray, zoom: int):
    """Global pixel coords at zoom (TILE px per tile); tile = floorDiv(px, TILE)."""
    n = (1 << zoom) * TILE
    xn, yn = world_coords(lon, lat)
    px = np.clip(np.floor(xn * n), 0, n - 1).astype(np.int64)
    py = np.clip(np.floor(yn * n), 0, n - 1).astype(np.int64)
    return px, py


# ---------------------------------------------------------------- SQL oracle text

def world_xy_sql(lon_sql: str, lat_sql: str) -> tuple[str, str]:
    """DuckDB SQL for world_coords (same IEEE ops; ln/tan are the only
    transcendentals and boundary hits are measure-zero on jittered data)."""
    xn = f"((({lon_sql}) + 180.0) / 360.0)"
    lat_c = f"LEAST(GREATEST(({lat_sql}), -85.05112878), 85.05112878)"
    yn = f"(0.5 - ln(tan(pi()/4.0 + radians({lat_c})/2.0)) / (2.0*pi()))"
    return xn, yn


def tile_sql(lon_sql: str, lat_sql: str, zoom: int) -> tuple[str, str]:
    n = 1 << zoom
    xn, yn = world_xy_sql(lon_sql, lat_sql)
    tx = f"CAST(LEAST(GREATEST(floor({xn} * {n}.0), 0.0), {n - 1}.0) AS BIGINT)"
    ty = f"CAST(LEAST(GREATEST(floor({yn} * {n}.0), 0.0), {n - 1}.0) AS BIGINT)"
    return tx, ty


def quadkey_col(tx, ty, zoom: int):
    """Bing-style quadkey string for slippy tile (tx, ty) at ``zoom`` —
    digit i (MSB first) = 2*bit(ty) + bit(tx).  Pure integer codegen
    (shift + mod), no UDF; published Bing Maps tile-system convention."""
    from pyspark.sql import functions as F

    parts = []
    for i in range(1, zoom + 1):
        sh = zoom - i
        d = (F.shiftright(ty, sh) % 2) * 2 + (F.shiftright(tx, sh) % 2)
        parts.append(d.cast("string"))
    return F.concat(*parts)


def quadkey_sql(tx_sql: str, ty_sql: str, zoom: int) -> str:
    """DuckDB replay of ``quadkey_col`` (floor-div instead of shifts —
    identical on the non-negative tile domain)."""
    parts = []
    for i in range(1, zoom + 1):
        p = 1 << (zoom - i)
        parts.append(
            f"CAST((({ty_sql}) // {p}) % 2 * 2 + (({tx_sql}) // {p}) % 2"
            " AS VARCHAR)"
        )
    return "(" + " || ".join(parts) + ")"


def quadkey_to_tile(qk: str) -> tuple[int, int, int]:
    """Inverse (driver-side helper, pytest): quadkey -> (tx, ty, zoom)."""
    tx = ty = 0
    for ch in qk:
        d = int(ch)
        tx = (tx << 1) | (d & 1)
        ty = (ty << 1) | (d >> 1)
    return tx, ty, len(qk)


# ------------------------------------------------------- datum shift

def helmert_cols(x, y, z, params: dict):
    """7-parameter Helmert datum shift (position-vector convention, the
    EPSG 9606 family the reference applies between datums,
    R/referencing/datum/BursaWolfParameters.java) as EXACT scaled
    integers: inputs are geocentric coordinates in MICROMETERS (int64),
    parameters are tx/ty/tz in micrometers, rx/ry/rz in MICRORADIAN
    (small-angle), ds in parts-per-million, and the output is the
    transformed coordinate scaled by 10^6 (i.e. micrometer * 1e6):

      X'_e6 = (1e6 + ds) * X - rz * Y + ry * Z + tx * 1e6
      Y'_e6 =  rz * X + (1e6 + ds) * Y - rx * Z + ty * 1e6
      Z'_e6 = -ry * X + rx * Y + (1e6 + ds) * Z + tz * 1e6

    Keeping the 1e6 scale in the OUTPUT avoids any division, so Spark
    and the oracle agree bit-for-bit (downstream consumers divide once
    at the end).  Earth-sized magnitudes: |X| ~ 6.4e12 um * 1e6 = 6.4e18
    would overflow — so callers pass MILLIMETER-scaled ints for
    earth-sized frames (|X| ~ 6.4e9, * 1e6 = 6.4e15, safe)."""
    from pyspark.sql import functions as F  # noqa: N812

    tx, ty, tz = (int(params[k]) for k in ("tx", "ty", "tz"))
    rx, ry, rz = (int(params[k]) for k in ("rx", "ry", "rz"))
    ds = int(params["ds"])
    m = 1_000_000 + ds
    return (
        (F.lit(m) * x - F.lit(rz) * y + F.lit(ry) * z
         + F.lit(tx * 1_000_000)).alias("xs"),
        (F.lit(rz) * x + F.lit(m) * y - F.lit(rx) * z
         + F.lit(ty * 1_000_000)).alias("ys"),
        (-F.lit(ry) * x + F.lit(rx) * y + F.lit(m) * z
         + F.lit(tz * 1_000_000)).alias("zs"),
    )


def helmert_sql(x: str, y: str, z: str, params: dict) -> str:
    """DuckDB twin of ``helmert_cols`` — returns the three select
    expressions as SQL text (aliases xs, ys, zs)."""
    tx, ty, tz = (int(params[k]) for k in ("tx", "ty", "tz"))
    rx, ry, rz = (int(params[k]) for k in ("rx", "ry", "rz"))
    ds = int(params["ds"])
    m = 1_000_000 + ds
    # parenthesize every parameter: a negative value after '-' would
    # otherwise emit '--' (a SQL comment)
    # translations pre-multiplied in Python: a bare int literal is INT32
    # in DuckDB and (t * 1000000) would overflow before widening
    return (
        f"CAST({m} * ({x}) - ({rz}) * ({y}) + ({ry}) * ({z}) "
        f"+ ({tx * 1_000_000}) AS BIGINT) AS xs, "
        f"CAST(({rz}) * ({x}) + {m} * ({y}) - ({rx}) * ({z}) "
        f"+ ({ty * 1_000_000}) AS BIGINT) AS ys, "
        f"CAST(-(({ry})) * ({x}) + ({rx}) * ({y}) + {m} * ({z}) "
        f"+ ({tz * 1_000_000}) AS BIGINT) AS zs"
    )
