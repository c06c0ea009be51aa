"""Projection long tail (r5, functions/proj_tail.py): published-point
fixtures in the reference's MapProjectionTestCase style
(EquidistantCylindricalTest / CylindricalEqualAreaTest /
CassiniSoldnerTest / PolyconicTest / ObliqueMercatorTest semantics),
plus round-trips, registry routing, and WKT method routing."""

import numpy as np

from sis_spark.functions import proj_tail as PT
from sis_spark.functions.projections import GRS80, WGS84, CRS_REGISTRY, transform_points

CLARKE1866 = (6378206.4, (6378206.4 - 6356583.8) / 6378206.4)


def test_equidistant_cylindrical_epsg_example():
    # EPSG example (reference EquidistantCylindricalTest.java:67)
    p = PT.EquidistantCylindrical(0.0, 0.0, 0.0, 0.0, WGS84)
    x, y = p.forward(np.array([10.0]), np.array([55.0]))
    assert abs(x[0] - 1113194.91) < 0.005
    assert abs(y[0] - 6097230.31) < 0.005
    lon, lat = p.inverse(x, y)
    assert abs(lon[0] - 10.0) < 1e-7 and abs(lat[0] - 55.0) < 1e-7


def test_equidistant_cylindrical_matches_karney_meridian_arc():
    """Snyder's closed meridian-arc series vs the independent Karney
    rectifying series (datums.TransverseMercator northing at lon0):
    two derivations of M(phi) must agree to sub-mm."""
    from sis_spark.functions.datums import TransverseMercator

    tm = TransverseMercator(0.0, 0.0, 1.0, 0.0, 0.0, (6378137.0, 298.257223563))
    lat = np.linspace(-85.0, 85.0, 41)
    _, m_karney = tm.forward(np.zeros_like(lat), lat)
    m_snyder = PT._mdist(np.radians(lat), 6378137.0,
                         (2.0 - 1.0 / 298.257223563) / 298.257223563)
    assert np.max(np.abs(m_karney - m_snyder)) < 1e-3


def test_cylindrical_equal_area_proj_point():
    # PROJ test point (reference CylindricalEqualAreaTest.java:66)
    p = PT.CylindricalEqualArea(0.0, 0.0, 0.0, 0.0, WGS84)
    x, y = p.forward(np.array([2.0, -2.0, 2.0, -2.0]),
                     np.array([1.0, 1.0, -1.0, -1.0]))
    assert np.allclose(x, [222638.98, -222638.98, 222638.98, -222638.98], atol=0.01)
    assert np.allclose(y, [110568.81, 110568.81, -110568.81, -110568.81], atol=0.01)
    lon, lat = p.inverse(x, y)
    assert np.allclose(lon, [2, -2, 2, -2], atol=1e-9)
    assert np.allclose(lat, [1, 1, -1, -1], atol=1e-9)


def test_cylindrical_equal_area_is_equal_area():
    """The defining property: the projected area of a lon/lat cell equals
    its authalic-sphere area (constant cell area along a meridian strip)."""
    p = PT.CylindricalEqualArea(30.0, 0.0, 0.0, 0.0, WGS84)
    lats = np.linspace(-80, 80, 33)
    # area of [lat, lat+d] x [0, 1deg] strip = dx * dy
    d = 0.5
    x0, y0 = p.forward(np.zeros_like(lats), lats)
    x1, y1 = p.forward(np.full_like(lats, 1.0), lats + d)
    cell = (x1 - x0) * (y1 - y0)
    # exact authalic areas of the same strips
    e, e2 = p.e, p.e2
    q0 = PT._q_authalic(np.radians(lats), e, e2)
    q1 = PT._q_authalic(np.radians(lats + d), e, e2)
    a2 = p.a * p.a
    want = a2 * (q1 - q0) / 2.0 * np.radians(1.0)
    assert np.allclose(cell, want, rtol=1e-12)


def test_cylindrical_equal_area_roundtrip_at_poles():
    """EPSG:6933 forward -> inverse stays on the pole and within the
    northing's resolution next to it: one ulp of the northing is ~4e-9 deg
    of latitude at 89.9999, so that row gets a looser bound."""
    p = PT.CylindricalEqualArea(30.0, 0.0, 0.0, 0.0, WGS84)
    for lats, tol in (([90.0, 89.999, -89.999, -90.0], 1e-9), ([89.9999, -89.9999], 2e-8)):
        lat = np.array(lats)
        _lon, back = p.inverse(*p.forward(np.full_like(lat, 10.0), lat))
        assert np.max(np.abs(back - lat)) <= tol, back - lat


def test_cassini_soldner_epsg_example():
    # EPSG Trinidad 1903 example (reference CassiniSoldnerTest.java:110)
    a = 31706587.88
    f = 1.0 - 20855233.0 / 20926348.0
    p = PT.CassiniSoldner(10 + (26 + 30.0 / 60) / 60, -(61 + 20.0 / 60),
                          430000.0, 325000.0, (a, f))
    x, y = p.forward(np.array([-62.0]), np.array([10.0]))
    assert abs(x[0] - 66644.94) < 0.005
    assert abs(y[0] - 82536.22) < 0.005
    lon, lat = p.inverse(x, y)
    assert abs(lon[0] + 62.0) < 1e-8 and abs(lat[0] - 10.0) < 1e-8


def test_polyconic_snyder_examples():
    # Snyder p.304 values (reference PolyconicTest.java:103)
    p = PT.Polyconic(30.0, -96.0, 0.0, 0.0, CLARKE1866)
    x, y = p.forward(np.array([-75.0, -75.0]), np.array([40.0, 0.0]))
    assert np.allclose(x, [1776774.54, 2337734.74], atol=0.01)
    assert np.allclose(y, [1319657.78, -3319933.30], atol=0.01)
    lon, lat = p.inverse(x, y)
    assert np.allclose(lon, [-75.0, -75.0], atol=1e-8)
    assert np.allclose(lat, [40.0, 0.0], atol=1e-8)


def test_oblique_mercator_variant_b_epsg_example():
    # EPSG Guidance Note 7-2 Timbalai 1948 / RSO Borneo example (9815)
    a, f = 6377298.556, 1.0 / 300.8017
    om = PT.ObliqueMercator(
        4.0, 115.0,
        53 + 18.0 / 60 + 56.9537 / 3600,      # azimuth of initial line
        53 + 7.0 / 60 + 48.3685 / 3600,       # rectified-to-skew angle
        0.99984, 590476.87, 442857.65, (a, f), variant_b=True)
    lam = 115 + 48.0 / 60 + 19.8196 / 3600
    phi = 5 + 23.0 / 60 + 14.1129 / 3600
    x, y = om.forward(np.array([lam]), np.array([phi]))
    assert abs(x[0] - 679245.73) < 0.01
    assert abs(y[0] - 596562.78) < 0.01
    lon, lat = om.inverse(x, y)
    assert abs(lon[0] - lam) < 1e-9 and abs(lat[0] - phi) < 1e-9


def test_oblique_mercator_variant_a_roundtrip_wide():
    om = CRS_REGISTRY["EPSG:3375"]
    rng = np.random.default_rng(3)
    lon = rng.uniform(75, 130, 5000)
    lat = rng.uniform(-25, 30, 5000)
    x, y = om.forward(lon, lat)
    lo, la = om.inverse(x, y)
    assert np.max(np.abs(lo - lon)) < 1e-9
    assert np.max(np.abs(la - lat)) < 1e-7


def test_registry_routing_all_tail_codes():
    for code in ("EPSG:4087", "EPSG:6933", "EPSG:5880", "EPSG:3375"):
        x, y = transform_points(
            np.array([100.0 if code == "EPSG:3375" else -50.0]),
            np.array([5.0 if code == "EPSG:3375" else -10.0]),
            "EPSG:4326", code)
        lon, lat = transform_points(x, y, code, "EPSG:4326")
        assert abs(lon[0] - (100.0 if code == "EPSG:3375" else -50.0)) < 1e-7
        assert abs(lat[0] - (5.0 if code == "EPSG:3375" else -10.0)) < 1e-7


def test_wkt_routing_tail_methods():
    from sis_spark.functions.wkt_crs import crs_from_wkt

    cas = crs_from_wkt("""PROJCS["T", GEOGCS["G",
      DATUM["d", SPHEROID["Clarke 1858", 31706587.88, 294.2606764]],
      PRIMEM["Greenwich", 0], UNIT["degree", 0.0174532925199433]],
      PROJECTION["Cassini_Soldner"],
      PARAMETER["latitude_of_origin", 10.441666666666666],
      PARAMETER["central_meridian", -61.33333333333334],
      PARAMETER["false_easting", 430000],
      PARAMETER["false_northing", 325000], UNIT["link", 0.201166195164]]""")
    assert isinstance(cas, PT.CassiniSoldner)
    x, y = cas.forward(np.array([-62.0]), np.array([10.0]))
    assert abs(x[0] - 66644.94) < 0.01 and abs(y[0] - 82536.22) < 0.01

    om = crs_from_wkt("""PROJCRS["RSO", BASEGEOGCRS["T48",
      DATUM["Timbalai", ELLIPSOID["Everest", 6377298.556, 300.8017]]],
      CONVERSION["c", METHOD["Hotine Oblique Mercator (variant B)"],
      PARAMETER["Latitude of projection centre", 4],
      PARAMETER["Longitude of projection centre", 115],
      PARAMETER["Azimuth of initial line", 53.31582047222222],
      PARAMETER["Angle from Rectified to Skew Grid", 53.13010236111111],
      PARAMETER["Scale factor on initial line", 0.99984],
      PARAMETER["Easting at projection centre", 590476.87],
      PARAMETER["Northing at projection centre", 442857.65]]]""")
    assert isinstance(om, PT.ObliqueMercator) and om.variant_b
    x, y = om.forward(np.array([115.80550544444444]), np.array([5.387253583333334]))
    assert abs(x[0] - 679245.73) < 0.01 and abs(y[0] - 596562.78) < 0.01

    eqc = crs_from_wkt("""PROJCS["P", GEOGCS["W",
      DATUM["wgs", SPHEROID["WGS 84", 6378137, 298.257223563]],
      PRIMEM["Greenwich", 0], UNIT["degree", 0.0174532925199433]],
      PROJECTION["Equirectangular"],
      PARAMETER["latitude_of_origin", 0], PARAMETER["central_meridian", 0],
      UNIT["metre", 1]]""")
    assert isinstance(eqc, PT.EquidistantCylindrical)

    cea = crs_from_wkt("""PROJCS["C", GEOGCS["W",
      DATUM["wgs", SPHEROID["WGS 84", 6378137, 298.257223563]],
      PRIMEM["Greenwich", 0], UNIT["degree", 0.0174532925199433]],
      PROJECTION["Cylindrical_Equal_Area"],
      PARAMETER["standard_parallel_1", 30], PARAMETER["central_meridian", 0],
      UNIT["metre", 1]]""")
    assert isinstance(cea, PT.CylindricalEqualArea)
    assert cea.lat_ts == 30.0

    pol = crs_from_wkt("""PROJCS["B", GEOGCS["W",
      DATUM["wgs", SPHEROID["GRS 1980", 6378137, 298.257222101]],
      PRIMEM["Greenwich", 0], UNIT["degree", 0.0174532925199433]],
      PROJECTION["Polyconic"],
      PARAMETER["latitude_of_origin", 0], PARAMETER["central_meridian", -54],
      PARAMETER["false_easting", 5000000],
      PARAMETER["false_northing", 10000000], UNIT["metre", 1]]""")
    assert isinstance(pol, PT.Polyconic)


def test_swiss_wkt_still_routes_to_swiss_kernel():
    """The general Hotine route must NOT capture the Swiss method name
    (the LV95 gates pin the swisstopo double-projection kernel)."""
    from sis_spark.functions.datums import SwissObliqueMercator
    from sis_spark.functions.wkt_crs import crs_from_wkt

    sw = crs_from_wkt("""PROJCS["CH", GEOGCS["CH1903",
      DATUM["ch", SPHEROID["Bessel 1841", 6377397.155, 299.1528128]],
      PRIMEM["Greenwich", 0], UNIT["degree", 0.0174532925199433]],
      PROJECTION["Swiss_Oblique_Mercator"],
      PARAMETER["latitude_of_origin", 46.95240555555556],
      PARAMETER["central_meridian", 7.439583333333333],
      PARAMETER["false_easting", 2600000],
      PARAMETER["false_northing", 1200000], UNIT["metre", 1]]""")
    assert isinstance(sw, SwissObliqueMercator)


def test_equidistant_cylindrical_spherical_degenerates():
    """e = 0 -> method 1029: x = R lam cos(lat1), y = R phi exactly."""
    R = 6371000.0
    p = PT.EquidistantCylindrical(0.0, 0.0, 0.0, 0.0, (R, 0.0))
    x, y = p.forward(np.array([90.0]), np.array([45.0]))
    assert abs(x[0] - R * np.pi / 2.0) < 1e-6
    assert abs(y[0] - R * np.pi / 4.0) < 1e-6


def test_mercator_ellipsoidal_epsg_examples():
    # variant A: Makassar / NEIEZ (EPSG GN7-2, Bessel 1841)
    m = PT.Mercator(k0=0.997, lon0=110.0, fe=3900000.0, fn=900000.0,
                    ellipsoid=(6377397.155, 1 / 299.1528128))
    x, y = m.forward(np.array([120.0]), np.array([-3.0]))
    assert abs(x[0] - 5009726.58) < 0.01
    assert abs(y[0] - 569150.82) < 0.01
    lon, lat = m.inverse(x, y)
    assert abs(lon[0] - 120.0) < 1e-9 and abs(lat[0] + 3.0) < 1e-7
    # variant B: Pulkovo 1942 / Caspian Sea Mercator (Krassowsky)
    mb = PT.Mercator(lat_ts=42.0, lon0=51.0,
                     ellipsoid=(6378245.0, 1 / 298.3))
    x, y = mb.forward(np.array([53.0]), np.array([53.0]))
    assert abs(x[0] - 165704.29) < 0.01
    assert abs(y[0] - 5171848.07) < 0.01


def test_mercator_wkt_routing_and_pseudo_separation():
    """Mercator_1SP WKT routes to the ellipsoidal kernel; the pseudo /
    popular-visualisation method stays on the spherical Web-Mercator."""
    from sis_spark.functions.projections import _WebMercator
    from sis_spark.functions.wkt_crs import crs_from_wkt

    merc = crs_from_wkt("""PROJCS["M", GEOGCS["W",
      DATUM["wgs", SPHEROID["WGS 84", 6378137, 298.257223563]],
      PRIMEM["Greenwich", 0], UNIT["degree", 0.0174532925199433]],
      PROJECTION["Mercator_1SP"],
      PARAMETER["central_meridian", 0], PARAMETER["scale_factor", 1],
      UNIT["metre", 1]]""")
    assert isinstance(merc, PT.Mercator)
    pseudo = crs_from_wkt("""PROJCS["P", GEOGCS["W",
      DATUM["wgs", SPHEROID["WGS 84", 6378137, 298.257223563]],
      PRIMEM["Greenwich", 0], UNIT["degree", 0.0174532925199433]],
      PROJECTION["Popular Visualisation Pseudo Mercator"],
      UNIT["metre", 1]]""")
    assert isinstance(pseudo, _WebMercator)
    # at 55N the two differ by tens of km in northing (conformal vs sphere)
    x1, y1 = merc.forward(np.array([10.0]), np.array([55.0]))
    x2, y2 = pseudo.forward(np.array([10.0]), np.array([55.0]))
    assert abs(x1[0] - x2[0]) < 1e-6
    assert 10000.0 < abs(y1[0] - y2[0]) < 60000.0


def test_modified_azimuthal_equidistant_epsg_yap():
    # EPSG GN7-2 Yap Islands example (method 9832, Clarke 1866 —
    # reference AzimuthalEquidistantTest.testWithEPSG fixture)
    m = PT.ModifiedAzimuthalEquidistant(
        9 + (32 + 48.15 / 60) / 60, 138 + (10 + 7.48 / 60) / 60,
        40000.0, 60000.0, CLARKE1866)
    x, y = m.forward(np.array([138 + (11 + 34.908 / 60) / 60]),
                     np.array([9 + (35 + 47.493 / 60) / 60]))
    assert abs(x[0] - 42665.90) < 0.01
    assert abs(y[0] - 65509.82) < 0.01
    lon, lat = m.inverse(x, y)
    assert abs(lon[0] - (138 + (11 + 34.908 / 60) / 60)) < 1e-8
    assert abs(lat[0] - (9 + (35 + 47.493 / 60) / 60)) < 1e-8
    # due-north point (meridional special case: sin(alpha) ~ 0)
    x, y = m.forward(np.array([m.lon0]), np.array([m.lat0 + 0.5]))
    assert abs(x[0] - 40000.0) < 1e-6
    assert y[0] > 60000.0
    lon, lat = m.inverse(x, y)
    assert abs(lat[0] - (m.lat0 + 0.5)) < 1e-7


def test_mae_wkt_routing_precedence():
    """'Modified Azimuthal Equidistant' must not fall into the plain
    (spherical) azimuthal-equidistant branch."""
    from sis_spark.functions.wkt_crs import crs_from_wkt

    m = crs_from_wkt("""PROJCS["Y", GEOGCS["G",
      DATUM["g", SPHEROID["Clarke 1866", 6378206.4, 294.9786982]],
      PRIMEM["Greenwich", 0], UNIT["degree", 0.0174532925199433]],
      PROJECTION["Modified Azimuthal Equidistant"],
      PARAMETER["latitude_of_origin", 9.546708333333333],
      PARAMETER["central_meridian", 138.16874444444444],
      PARAMETER["false_easting", 40000],
      PARAMETER["false_northing", 60000], UNIT["metre", 1]]""")
    assert isinstance(m, PT.ModifiedAzimuthalEquidistant)


def test_zoned_tm_matches_utm_and_roundtrips():
    from sis_spark.functions.projections import transform_points

    zt = CRS_REGISTRY["EPSG:32600"]
    rng = np.random.default_rng(12)
    lon = rng.uniform(-179.9, 179.9, 2000)
    lat = rng.uniform(-70, 70, 2000)
    x, y = zt.forward(lon, lat)
    # per-point zone prefix: easting div 1e6 == zone of lon
    assert np.array_equal(np.floor(x / 1e6).astype(np.int64), zt.zone_of(lon))
    lo, la = zt.inverse(x, y)
    assert np.max(np.abs(lo - lon)) < 1e-9
    assert np.max(np.abs(la - lat)) < 1e-9
    # zone 31 content equals the plain EPSG:32631 kernel exactly
    m = zt.zone_of(lon) == 31
    if m.any():
        ux, uy = transform_points(lon[m], lat[m], "EPSG:4326", "EPSG:32631")
        # compose, don't subtract: (31e6 + zx) - 31e6 loses low bits
        assert np.array_equal(x[m], 31e6 + ux)
        assert np.array_equal(y[m], uy)


def test_zoned_tm_on_a_sphere_roundtrips():
    zt = PT.ZonedTransverseMercator(ellipsoid=(6371000.0, 0.0))
    x, y = zt.forward(np.array([10.0]), np.array([45.0]))
    assert np.floor(x[0] / 1e6) == 32
    lon, lat = zt.inverse(x, y)
    assert abs(lon[0] - 10.0) < 1e-9 and abs(lat[0] - 45.0) < 1e-9


def test_zoned_tm_wkt_roundtrip():
    from sis_spark.functions.wkt_crs import crs_from_wkt, to_wkt

    zt = CRS_REGISTRY["EPSG:32600"]
    back = crs_from_wkt(to_wkt("EPSG:32600"), prefer_id=False)
    assert isinstance(back, PT.ZonedTransverseMercator)
    lon = np.linspace(-170, 170, 40)
    lat = np.linspace(-60, 60, 40)
    a = zt.forward(lon, lat)
    b = back.forward(lon, lat)
    assert np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])


def test_satellite_tracking_snyder_fixtures():
    """Snyder p.360-363 Landsat-3 examples on the unit sphere (the
    reference SatelliteTrackingTest fixtures): cylindrical and conic."""
    c = PT.SatelliteTracking(-90.0, 0.0, 30.0, -30.0, 99.092,
                             103.267 / 1440.0, R=1.0)
    x, y = c.forward(np.array([-75.0]), np.array([40.0]))
    assert abs(x[0] - 0.2267249) < 1e-7
    assert abs(y[0] - 0.6459071) < 1e-7
    lon, lat = c.inverse(x, y)
    assert abs(lon[0] + 75.0) < 1e-9 and abs(lat[0] - 40.0) < 1e-9

    k = PT.SatelliteTracking(-90.0, 30.0, 45.0, 70.0, 99.092,
                             103.267 / 1440.0, R=1.0)
    x, y = k.forward(np.array([-75.0]), np.array([40.0]))
    assert abs(x[0] - 0.2001910) < 1e-7
    assert abs(y[0] - 0.2121685) < 1e-7
    lon, lat = k.inverse(x, y)
    assert abs(lon[0] + 75.0) < 1e-9 and abs(lat[0] - 40.0) < 1e-9


def test_satellite_tracking_limit_is_nan():
    """Latitudes beyond the tracking limit (no ground track) -> NaN."""
    c = PT.SatelliteTracking(-90.0, 0.0, 30.0, -30.0, 99.092,
                             103.267 / 1440.0, R=1.0)
    x, y = c.forward(np.array([0.0]), np.array([85.0]))
    assert np.isnan(y[0])


def test_satellite_tracking_wkt_roundtrip():
    from sis_spark.functions.wkt_crs import crs_from_wkt, to_wkt

    back = crs_from_wkt(to_wkt("SIS:SATTRACK"), prefer_id=False)
    assert isinstance(back, PT.SatelliteTracking)
    lon = np.linspace(-170, 170, 30)
    lat = np.linspace(-70, 70, 30)
    a = CRS_REGISTRY["SIS:SATTRACK"].forward(lon, lat)
    b = back.forward(lon, lat)
    assert np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])


def test_oblique_mercator_two_points_matches_azimuth_form():
    """ESRI two-point variant: feeding two points that lie exactly on an
    azimuth-defined central line reproduces that projection (<1e-6 m
    over the full window) — the Snyder 9-16..9-24 line derivation."""
    om = PT.ObliqueMercator(4.0, 102.25, 323.0257905, 323.0257905,
                            0.99984, 0.0, 0.0, GRS80, variant_b=False)
    g = om.gamma_c
    pts = []
    for u in (-400000.0, 500000.0):
        lo, la = om.inverse(np.array([u * np.sin(g)]),
                            np.array([u * np.cos(g)]))
        pts.append((float(la[0]), float(lo[0])))
    (la1, lo1), (la2, lo2) = pts
    om2 = PT.ObliqueMercator.from_two_points(
        4.0, la1, lo1, la2, lo2, 0.99984, 0.0, 0.0, GRS80)
    rng = np.random.default_rng(1)
    lon = rng.uniform(96, 108, 2000)
    lat = rng.uniform(-4, 9, 2000)
    x1, y1 = om.forward(lon, lat)
    x2, y2 = om2.forward(lon, lat)
    assert np.max(np.abs(x1 - x2)) < 1e-6
    assert np.max(np.abs(y1 - y2)) < 1e-6
    lo, la = om2.inverse(x2, y2)
    assert np.max(np.abs(lo - lon)) < 1e-9


def test_oblique_mercator_two_points_wkt():
    from sis_spark.functions.wkt_crs import crs_from_wkt

    om = crs_from_wkt("""PROJCS["TP", GEOGCS["G",
      DATUM["g", SPHEROID["GRS 1980", 6378137, 298.257222101]],
      PRIMEM["Greenwich", 0], UNIT["degree", 0.0174532925199433]],
      PROJECTION["Hotine Oblique Mercator Two Point Natural Origin"],
      PARAMETER["latitude_of_projection_centre", 4],
      PARAMETER["latitude of 1st point", 2.0],
      PARAMETER["longitude of 1st point", 100.0],
      PARAMETER["latitude of 2nd point", 6.0],
      PARAMETER["longitude of 2nd point", 105.0],
      PARAMETER["scale_factor", 0.99984],
      PARAMETER["false_easting", 0],
      PARAMETER["false_northing", 0], UNIT["metre", 1]]""")
    assert isinstance(om, PT.ObliqueMercator)
    x, y = om.forward(np.array([102.0]), np.array([4.0]))
    lo, la = om.inverse(x, y)
    assert abs(lo[0] - 102.0) < 1e-9 and abs(la[0] - 4.0) < 1e-9
