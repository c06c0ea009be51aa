"""Projected-CRS family (LCC 2SP, Polar Stereographic B, TM registry):
round-trip precision, conformal-scale properties, and known coordinates.

Property-test style of the reference's projection suites
(Rt/.../projection/LambertConicConformalTest.java,
PolarStereographicTest.java — derivative/consistency checks)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from sis_spark.functions.projections import (
    CRS_REGISTRY,
    GRS80,
    WGS84,
    transform_points,
)


def _meridian_radius(lat_deg: float, ellipsoid) -> float:
    a, f = ellipsoid
    e2 = f * (2.0 - f)
    s = math.sin(math.radians(lat_deg))
    return a * (1.0 - e2) / (1.0 - e2 * s * s) ** 1.5


@pytest.mark.parametrize("code,lon_rng,lat_rng", [
    ("EPSG:2154", (-5, 10), (41, 52)),
    ("EPSG:3347", (-140, -50), (42, 84)),
    ("EPSG:3031", (-180, 180), (-89, -60)),
    ("EPSG:3413", (-180, 180), (60, 89)),
    ("EPSG:32618", (-78, -72), (0, 84)),
    ("EPSG:32718", (-78, -72), (-80, 0)),
    ("EPSG:3857", (-180, 180), (-85, 85)),
])
def test_round_trip(code, lon_rng, lat_rng):
    rng = np.random.RandomState(hash(code) % 2**31)
    lon = rng.uniform(*lon_rng, 500)
    lat = rng.uniform(*lat_rng, 500)
    x, y = transform_points(lon, lat, "EPSG:4326", code)
    lon2, lat2 = transform_points(x, y, code, "EPSG:4326")
    dl = (lon2 - lon + 180.0) % 360.0 - 180.0
    assert np.abs(dl).max() < 1e-9
    assert np.abs(lat2 - lat).max() < 1e-9


@pytest.mark.parametrize("code,lats,ellipsoid", [
    ("EPSG:2154", (49.0, 44.0), GRS80),      # both standard parallels
    ("EPSG:3347", (49.0, 77.0), GRS80),
    ("EPSG:3031", (-71.0,), WGS84),          # standard parallel
    ("EPSG:3413", (70.0,), WGS84),
])
def test_unit_scale_at_standard_parallels(code, lats, ellipsoid):
    """Conformal projections are TRUE SCALE along their standard parallels:
    the numerically-estimated meridian scale factor there must be 1."""
    p = CRS_REGISTRY[code]
    h = 1e-6
    for latsp in lats:
        lam = getattr(p, "lon0", 0.0) + 7.0
        x1, y1 = p.forward(np.array([lam]), np.array([latsp - h / 2]))
        x2, y2 = p.forward(np.array([lam]), np.array([latsp + h / 2]))
        dist = math.hypot(float(x2[0] - x1[0]), float(y2[0] - y1[0]))
        k = dist / (_meridian_radius(latsp, ellipsoid) * math.radians(h))
        assert abs(k - 1.0) < 1e-6, (code, latsp, k)


def test_known_coordinates():
    # Paris (2.3522 E, 48.8566 N) in Lambert-93 — IGN-published neighborhood
    x, y = transform_points(np.array([2.3522]), np.array([48.8566]),
                            "EPSG:4326", "EPSG:2154")
    assert abs(float(x[0]) - 652469.02) < 0.5
    assert abs(float(y[0]) - 6862035.26) < 0.5
    # South pole maps to the EPSG:3031 origin
    x, y = transform_points(np.array([0.0]), np.array([-90.0]),
                            "EPSG:4326", "EPSG:3031")
    assert abs(float(x[0])) < 1e-6 and abs(float(y[0])) < 1e-6
    # the 3031 standard parallel is ~71S: a point there has rho ~ a*m(71)
    x, y = transform_points(np.array([90.0]), np.array([-71.0]),
                            "EPSG:4326", "EPSG:3031")
    rho = math.hypot(float(x[0]), float(y[0]))
    a, f = WGS84
    e2 = f * (2 - f)
    s = math.sin(math.radians(71.0))
    m = math.cos(math.radians(71.0)) / math.sqrt(1 - e2 * s * s)
    assert abs(rho - a * m) < 1.0


def test_projected_to_projected_routes_through_geographic():
    lon = np.array([5.0])
    lat = np.array([45.0])
    x93, y93 = transform_points(lon, lat, "EPSG:4326", "EPSG:2154")
    xm, ym = transform_points(x93, y93, "EPSG:2154", "EPSG:3857")
    xm2, ym2 = transform_points(lon, lat, "EPSG:4326", "EPSG:3857")
    assert abs(float(xm[0] - xm2[0])) < 1e-6
    assert abs(float(ym[0] - ym2[0])) < 1e-6


def test_unknown_crs_raises():
    with pytest.raises(ValueError, match="unsupported CRS"):
        transform_points(np.array([0.0]), np.array([0.0]), "EPSG:4326", "EPSG:9999")


def test_albers_round_trip_and_equal_area():
    """EPSG:5070: round trip + the defining property — the areal scale
    factor (Jacobian determinant over the ellipsoid area element) is 1
    everywhere in the domain."""
    from sis_spark.functions.projections import CRS_REGISTRY

    p = CRS_REGISTRY["EPSG:5070"]
    rng = np.random.RandomState(11)
    lon = rng.uniform(-120, -75, 300)
    lat = rng.uniform(25, 48, 300)
    x, y = p.forward(lon, lat)
    lon2, lat2 = p.inverse(x, y)
    assert np.abs(lon2 - lon).max() < 1e-9
    assert np.abs(lat2 - lat).max() < 1e-9

    a, f = GRS80
    e2 = f * (2.0 - f)
    h = 1e-5
    xe, ye = p.forward(lon + h, lat)
    xn, yn = p.forward(lon, lat + h)
    jac = np.abs((xe - x) * (yn - y) - (ye - y) * (xn - x)) / math.radians(h) ** 2
    s = np.sin(np.radians(lat))
    M = a * (1.0 - e2) / (1.0 - e2 * s * s) ** 1.5
    Nr = a / np.sqrt(1.0 - e2 * s * s)
    ellipsoid_area = M * Nr * np.cos(np.radians(lat))
    ratio = jac / ellipsoid_area
    assert np.abs(ratio - 1.0).max() < 1e-4


def test_laea_roundtrip_origin_and_equal_area():
    """EPSG:3035 (LAEA Europe, method 9820): origin maps to FE/FN exactly,
    inverse(forward) is machine-precision, and the projection is genuinely
    equal-area — a small quad's projected area matches its authalic-sphere
    area within 1e-6 relative, at two very different latitudes."""
    import numpy as np

    from sis_spark.functions.projections import CRS_REGISTRY, _q_authalic

    p = CRS_REGISTRY["EPSG:3035"]
    x, y = p.forward(np.array([10.0]), np.array([52.0]))
    assert float(x[0]) == 4321000.0 and float(y[0]) == 3210000.0

    rng = np.random.default_rng(5)
    lon = rng.uniform(-30, 60, 500)
    lat = rng.uniform(20, 75, 500)
    X, Y = p.forward(lon, lat)
    lo2, la2 = p.inverse(X, Y)
    assert np.abs(lon - lo2).max() < 1e-9
    assert np.abs(lat - la2).max() < 1e-9

    # the poles: a finite forward at +-90 and a round trip within 2e-8 deg
    # (one ulp of the northing is ~4e-9 deg of latitude at 89.9999)
    polar = np.array([89.999, 89.9999, 90.0, -89.999, -89.9999, -90.0])
    X, Y = p.forward(np.full(polar.shape, 10.0), polar)
    assert np.isfinite(X).all() and np.isfinite(Y).all()
    _, la2 = p.inverse(X, Y)
    assert np.abs(polar - la2).max() <= 2e-8

    for lat0 in (40.0, 65.0):
        dd = 0.01
        quad_lon = np.array([10.0, 10.0 + dd, 10.0 + dd, 10.0])
        quad_lat = np.array([lat0, lat0, lat0 + dd, lat0 + dd])
        qx, qy = p.forward(quad_lon, quad_lat)
        proj_area = 0.5 * abs(
            np.dot(qx, np.roll(qy, -1)) - np.dot(qy, np.roll(qx, -1)))
        # ellipsoidal area of the lon/lat quad via the authalic q function
        q1 = _q_authalic(np.radians(lat0), p.e, p.e2)
        q2 = _q_authalic(np.radians(lat0 + dd), p.e, p.e2)
        ell_area = (p.a ** 2 / 2.0) * (q2 - q1) * np.radians(dd)
        assert abs(proj_area - ell_area) / ell_area < 1e-6, lat0


def test_laea_transform_points_routing():
    import numpy as np

    from sis_spark.functions.projections import transform_points

    x, y = transform_points(np.array([4.3517]), np.array([50.8503]),
                            "EPSG:4326", "EPSG:3035")
    # ETRS89 LAEA Europe puts Brussels in the 3.9M/3.1M block
    assert 3.8e6 < float(x[0]) < 4.0e6 and 3.0e6 < float(y[0]) < 3.2e6
    lon, lat = transform_points(x, y, "EPSG:3035", "EPSG:4326")
    assert abs(float(lon[0]) - 4.3517) < 1e-9
    assert abs(float(lat[0]) - 50.8503) < 1e-9


def test_sinusoidal_roundtrip_and_properties():
    import numpy as np

    from sis_spark.functions.projections import CRS_REGISTRY

    p = CRS_REGISTRY["ESRI:53008"]
    rng = np.random.default_rng(8)
    lon = rng.uniform(-179, 179, 500)
    lat = rng.uniform(-85, 85, 500)
    x, y = p.forward(lon, lat)
    lon2, lat2 = p.inverse(x, y)
    assert np.max(np.abs(lon2 - lon)) < 1e-9
    assert np.max(np.abs(lat2 - lat)) < 1e-9
    # equator: x = R * lam exactly; central meridian: x = 0
    xe, ye = p.forward(np.array([90.0]), np.array([0.0]))
    assert abs(xe[0] - p.R * np.pi / 2) < 1e-6 and ye[0] == 0.0
    x0, y0 = p.forward(np.array([0.0]), np.array([45.0]))
    assert x0[0] == 0.0
    # equal-area: the Jacobian det is R^2*cos(phi)*... constant-lat strip
    # width scales with cos(lat): check x at lat 60 is half of x at lat 0
    xh, _ = p.forward(np.array([90.0]), np.array([60.0]))
    assert abs(xh[0] - 0.5 * xe[0]) < 1e-6


def test_mollweide_roundtrip_and_known_points():
    import numpy as np

    from sis_spark.functions.projections import CRS_REGISTRY

    p = CRS_REGISTRY["ESRI:53009"]
    rng = np.random.default_rng(12)
    lon = rng.uniform(-179, 179, 400)
    lat = rng.uniform(-88, 88, 400)
    x, y = p.forward(lon, lat)
    lon2, lat2 = p.inverse(x, y)
    assert np.max(np.abs(lon2 - lon)) < 1e-7
    assert np.max(np.abs(lat2 - lat)) < 1e-7
    # published frame: x(180E, 0) = 2*sqrt(2)*R*pi/pi... = 2*sqrt(2)*R
    xe, ye = p.forward(np.array([180.0]), np.array([0.0]))
    assert abs(xe[0] - 2.0 * np.sqrt(2.0) * p.R) < 1e-4
    assert abs(ye[0]) < 1e-4
    # pole: y = sqrt(2)*R, x = 0.  f(t) = 2t + sin(2t) is CUBICALLY flat
    # at t = pi/2, so float comparisons stall bisection ~1e-5 rad out:
    # ~2e-4 m of y — inherent to doubles, identical in both engines.
    xp, yp = p.forward(np.array([0.0]), np.array([90.0]))
    assert abs(yp[0] - np.sqrt(2.0) * p.R) < 1e-3 and abs(xp[0]) < 1e-3


def test_orthographic_roundtrip_and_center():
    import numpy as np

    from sis_spark.functions.projections import CRS_REGISTRY

    p = CRS_REGISTRY["ESRI:53044:EU"]
    # center maps to the origin
    x0, y0 = p.forward(np.array([10.0]), np.array([45.0]))
    assert abs(x0[0]) < 1e-9 and abs(y0[0]) < 1e-9
    # round-trip on the front hemisphere (keep a margin from the horizon)
    rng = np.random.default_rng(17)
    lon = rng.uniform(-60, 80, 400)
    lat = rng.uniform(-30, 85, 400)
    keep = p.cos_c(lon, lat) > 0.05
    lon, lat = lon[keep], lat[keep]
    x, y = p.forward(lon, lat)
    lon2, lat2 = p.inverse(x, y)
    assert np.max(np.abs(lon2 - lon)) < 1e-6
    assert np.max(np.abs(lat2 - lat)) < 1e-6
    # the horizon circle has radius R
    assert np.max(np.sqrt(x * x + y * y)) < p.R + 1e-6


def test_aeqd_roundtrip_and_distance_property():
    import numpy as np

    from sis_spark.functions.geometry import EARTH_RADIUS_M, haversine_m
    from sis_spark.functions.projections import CRS_REGISTRY

    p = CRS_REGISTRY["ESRI:53032:EU"]
    rng = np.random.default_rng(18)
    lon = rng.uniform(-179, 179, 400)
    lat = rng.uniform(-85, 85, 400)
    x, y = p.forward(lon, lat)
    lon2, lat2 = p.inverse(x, y)
    dl = (lon2 - lon + 180.0) % 360.0 - 180.0  # atan2 wraps past the antimeridian
    assert np.max(np.abs(dl)) < 1e-6
    assert np.max(np.abs(lat2 - lat)) < 1e-6
    # defining property: planar radius == great-circle distance from center
    d = haversine_m(np.full_like(lon, 10.0), np.full_like(lat, 45.0), lon, lat)
    r = np.sqrt(x * x + y * y) * (EARTH_RADIUS_M / p.R)
    assert np.max(np.abs(r - d)) < 1.0


def test_robinson_roundtrip_and_frame():
    import numpy as np

    from sis_spark.functions.projections import CRS_REGISTRY

    p = CRS_REGISTRY["ESRI:53030"]
    rng = np.random.default_rng(19)
    lon = rng.uniform(-179, 179, 400)
    lat = rng.uniform(-89, 89, 400)
    x, y = p.forward(lon, lat)
    lon2, lat2 = p.inverse(x, y)
    assert np.max(np.abs(lon2 - lon)) < 1e-7
    assert np.max(np.abs(lat2 - lat)) < 1e-7
    # table frame: equator length factor 1.0, pole y factor 1.0
    xe, ye = p.forward(np.array([180.0]), np.array([0.0]))
    assert abs(xe[0] - 0.8487 * p.R * np.pi) < 1e-6 and ye[0] == 0.0
    xp, yp = p.forward(np.array([0.0]), np.array([90.0]))
    assert abs(yp[0] - 1.3523 * p.R) < 1e-6 and xp[0] == 0.0
