"""Pure-Column (JVM, whole-stage-codegen) implementations of the geo kernels.

These mirror the numpy kernels in cells.py / transforms.py exactly, but stay
inside Tungsten codegen — no Python boundary at all.  They are the default
hot path for cell/tile assignment; the pandas UDFs in udfs.py are the
"batched MathTransform" path used where per-geometry work is unavoidable
(PIP refine, raster tiles).  Both paths are differentially tested equal.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import synth
from .transforms import MAX_MERC_LAT


_SPREAD_STEPS = ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
                 (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
                 (1, 0x5555555555555555))


def _spread_bits_col(v: Column, bits: int) -> Column:
    """Morton bit-spread of a bigint Column of ``bits``-bit values
    (0 <= v < 2**bits, bits <= 32; same magic numbers as cells.py).  Each
    step names ``v`` twice, so the expression holds 2**steps copies of the
    input; a step whose shift is at least ``bits`` moves no bit and is left
    out (a res-8 cell id spreads in 3 steps, 8 copies, not 64)."""
    for shift, mask in _SPREAD_STEPS:
        if bits > shift:
            v = (v.bitwiseOR(F.shiftleft(v, shift))).bitwiseAND(F.lit(mask))
    return v


def cell_col(lon: Column, lat: Column, res: int) -> Column:
    """int64 cell id — JVM twin of cells.encode_cell."""
    n = 1 << res
    ix = F.least(
        F.greatest(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))), F.lit(0)),
        F.lit(n - 1),
    ).cast("long")
    iy = F.least(
        F.greatest(F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n))), F.lit(0)),
        F.lit(n - 1),
    ).cast("long")
    return (
        F.lit(1 << (2 * res))
        .bitwiseOR(F.shiftleft(_spread_bits_col(ix, res), 1))
        .bitwiseOR(_spread_bits_col(iy, res))
    )


def world_xy_cols(lon: Column, lat: Column) -> tuple[Column, Column]:
    """Normalized slippy-map world coords (twin of transforms.world_coords)."""
    xn = (lon + F.lit(180.0)) / F.lit(360.0)
    lat_c = F.least(F.greatest(lat, F.lit(-MAX_MERC_LAT)), F.lit(MAX_MERC_LAT))
    yn = F.lit(0.5) - F.asinh(F.tan(F.radians(lat_c))) / F.lit(2.0 * 3.141592653589793)
    return xn, yn


def tile_cols(lon: Column, lat: Column, zoom: int) -> tuple[Column, Column]:
    """(tx, ty) slippy tiles — floorDiv/inclusive-low convention
    (S/tiling/TiledGridCoverage.java:326)."""
    n = 1 << zoom
    xn, yn = world_xy_cols(lon, lat)
    tx = F.least(F.greatest(F.floor(xn * F.lit(float(n))), F.lit(0)), F.lit(n - 1)).cast("long")
    ty = F.least(F.greatest(F.floor(yn * F.lit(float(n))), F.lit(0)), F.lit(n - 1)).cast("long")
    return tx, ty


def mercator_cols(lon: Column, lat: Column) -> tuple[Column, Column]:
    """EPSG:3857 meters (spherical; Mercator.java:532-605 semantics)."""
    from .transforms import R_EARTH

    x = F.radians(lon) * F.lit(R_EARTH)
    y = F.asinh(F.tan(F.radians(lat))) * F.lit(R_EARTH)
    return x, y


def haversine_col(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle meters — JVM twin of geometry.haversine_m."""
    from .geometry import EARTH_RADIUS_M

    dlat = (F.radians(lat2) - F.radians(lat1)) * F.lit(0.5)
    dlon = (F.radians(lon2) - F.radians(lon1)) * F.lit(0.5)
    h = F.pow(F.sin(dlat), F.lit(2.0)) + F.cos(F.radians(lat1)) * F.cos(
        F.radians(lat2)
    ) * F.pow(F.sin(dlon), F.lit(2.0))
    h = F.least(F.greatest(h, F.lit(0.0)), F.lit(1.0))
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(h))


def point_lonlat_cols(id_col: str) -> tuple[Column, Column]:
    """Skewed synthetic coordinates from an integer key (shared SQL text —
    the same string runs in DuckDB for the oracle)."""
    return F.expr(synth.point_lon_sql(id_col)), F.expr(synth.point_lat_sql(id_col))


def query_lonlat_cols(id_col: str) -> tuple[Column, Column]:
    return F.expr(synth.query_lon_sql(id_col)), F.expr(synth.query_lat_sql(id_col))
