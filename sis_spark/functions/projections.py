"""Projected-CRS family: ellipsoidal Lambert Conformal Conic (2SP) and
Polar Stereographic (variant B), plus a small CRS registry that routes any
supported pair through geographic coordinates.

The reference resolves arbitrary EPSG pairs through its full operation
factory (R/referencing/CRS.java:731 findOperation ->
CoordinateOperationFinder.java:128); a full EPSG registry is out of scope
here (SURVEY §2.3), but this module covers the projected families that
dominate real requests beyond Mercator/UTM:

* LCC 2SP  — R/operation/projection/LambertConicConformal.java:318
  (EPSG method 9802), formulas re-derived from the PUBLIC EPSG Guidance
  Note 7-2 §3.1.1 (identical to Snyder 1987 eq. 15-1..15-11).
* Polar Stereographic B — R/operation/projection/PolarStereographic.java
  (EPSG 9829), Guidance Note 7-2 §3.2.4.
* Transverse Mercator reuses the Karney series in functions/utm.py.

All kernels are vectorized numpy over degree inputs; the registry is
deliberately datum-preserving (one ellipsoid per CRS; no datum shifts —
documented model, the reference's datum machinery is out of scope).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

WGS84 = (6378137.0, 1.0 / 298.257223563)
GRS80 = (6378137.0, 1.0 / 298.257222101)
INTL1924_P = (6378388.0, 1.0 / 297.0)  # Hayford / International 1924


def _ecc(ellipsoid) -> float:
    a, f = ellipsoid
    return float(np.sqrt(f * (2.0 - f)))


def _m(phi, e):
    s = np.sin(phi)
    return np.cos(phi) / np.sqrt(1.0 - e * e * s * s)


def _t(phi, e):
    s = np.sin(phi)
    return np.tan(np.pi / 4.0 - phi / 2.0) / ((1.0 - e * s) / (1.0 + e * s)) ** (e / 2.0)


class LambertConformal2SP:
    """EPSG method 9802 (two standard parallels)."""

    def __init__(self, lat1: float, lat2: float, lat0: float, lon0: float,
                 fe: float, fn: float, ellipsoid=GRS80):
        self.a, f = ellipsoid
        self.e = _ecc(ellipsoid)
        p1, p2, p0 = np.radians([lat1, lat2, lat0])
        m1, m2 = _m(p1, self.e), _m(p2, self.e)
        t1, t2, t0 = _t(p1, self.e), _t(p2, self.e), _t(p0, self.e)
        self.n = (np.log(m1) - np.log(m2)) / (np.log(t1) - np.log(t2))
        self.F = m1 / (self.n * t1 ** self.n)
        self.rho0 = self.a * self.F * t0 ** self.n
        self.lon0 = lon0
        self.fe, self.fn = fe, fn
        self.lat1, self.lat2, self.lat0 = lat1, lat2, lat0
        self.ellipsoid = tuple(ellipsoid)

    def forward(self, lon, lat):
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        phi = np.radians(np.asarray(lat, np.float64))
        t = _t(phi, self.e)
        rho = self.a * self.F * t ** self.n
        th = self.n * lam
        return self.fe + rho * np.sin(th), self.fn + self.rho0 - rho * np.cos(th)

    def inverse(self, x, y):
        dx = np.asarray(x, np.float64) - self.fe
        dy = self.rho0 - (np.asarray(y, np.float64) - self.fn)
        rho = np.sign(self.n) * np.sqrt(dx * dx + dy * dy)
        t = (rho / (self.a * self.F)) ** (1.0 / self.n)
        th = np.arctan2(np.sign(self.n) * dx, np.sign(self.n) * dy)
        lam = th / self.n
        phi = np.pi / 2.0 - 2.0 * np.arctan(t)
        for _ in range(8):  # converges in ~4 iterations to <1e-12 rad
            s = np.sin(phi)
            phi = np.pi / 2.0 - 2.0 * np.arctan(
                t * ((1.0 - self.e * s) / (1.0 + self.e * s)) ** (self.e / 2.0)
            )
        return np.degrees(lam) + self.lon0, np.degrees(phi)


class PolarStereographicB:
    """EPSG method 9829 (variant B: standard parallel, no explicit k0)."""

    def __init__(self, lat_ts: float, lon0: float, fe: float, fn: float,
                 ellipsoid=WGS84):
        self.a, f = ellipsoid
        self.e = _ecc(ellipsoid)
        self.south = lat_ts < 0.0
        pf = np.radians(abs(lat_ts))
        # work in the north-pole frame; south flips lat and y
        s = np.sin(pf)
        self.mF = np.cos(pf) / np.sqrt(1.0 - self.e * self.e * s * s)
        self.tF = np.tan(np.pi / 4.0 - pf / 2.0) / (
            (1.0 - self.e * s) / (1.0 + self.e * s)
        ) ** (self.e / 2.0)
        self.lon0 = lon0
        self.fe, self.fn = fe, fn
        self.ellipsoid = tuple(ellipsoid)
        self.lat_ts = lat_ts

    def forward(self, lon, lat):
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        phi = np.radians(np.asarray(lat, np.float64))
        if self.south:
            phi = -phi
        s = np.sin(phi)
        t = np.tan(np.pi / 4.0 - phi / 2.0) / (
            (1.0 - self.e * s) / (1.0 + self.e * s)
        ) ** (self.e / 2.0)
        rho = self.a * self.mF * t / self.tF
        x = rho * np.sin(lam)
        y = -rho * np.cos(lam)  # north-pole frame: grid north toward the pole
        if self.south:
            y = -y
        return self.fe + x, self.fn + y

    def inverse(self, x, y):
        dx = np.asarray(x, np.float64) - self.fe
        dy = np.asarray(y, np.float64) - self.fn
        if self.south:
            dy = -dy
        rho = np.sqrt(dx * dx + dy * dy)
        t = rho * self.tF / (self.a * self.mF)
        lam = np.arctan2(dx, -dy)
        phi = np.pi / 2.0 - 2.0 * np.arctan(t)
        for _ in range(8):
            s = np.sin(phi)
            phi = np.pi / 2.0 - 2.0 * np.arctan(
                t * ((1.0 - self.e * s) / (1.0 + self.e * s)) ** (self.e / 2.0)
            )
        if self.south:
            phi = -phi
        return np.degrees(lam) + self.lon0, np.degrees(phi)


class PolarStereographicA:
    """EPSG method 9810 (variant A: explicit scale factor k0 at the pole) —
    the UPS formulation (Guidance Note 7-2 §3.1.3.1):

        t   = tan(pi/4 - phi/2) / ((1 - e sin phi)/(1 + e sin phi))^(e/2)
        rho = 2 a k0 t / sqrt((1+e)^(1+e) (1-e)^(1-e))

    North frame; ``south`` flips phi and grid northing."""

    def __init__(self, k0: float, lon0: float, fe: float, fn: float,
                 south: bool = False, ellipsoid=WGS84):
        self.a, f = ellipsoid
        self.e = _ecc(ellipsoid)
        e = self.e
        self.rk = (2.0 * self.a * k0
                   / np.sqrt((1.0 + e) ** (1.0 + e) * (1.0 - e) ** (1.0 - e)))
        self.south = south
        self.lon0, self.fe, self.fn = lon0, fe, fn
        self.ellipsoid = tuple(ellipsoid)
        self.k0 = k0

    def forward(self, lon, lat):
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        phi = np.radians(np.asarray(lat, np.float64))
        if self.south:
            phi = -phi
        s = np.sin(phi)
        t = np.tan(np.pi / 4.0 - phi / 2.0) / (
            (1.0 - self.e * s) / (1.0 + self.e * s)
        ) ** (self.e / 2.0)
        rho = self.rk * t
        x = rho * np.sin(lam)
        y = -rho * np.cos(lam)
        if self.south:
            y = -y
        return self.fe + x, self.fn + y

    def inverse(self, x, y):
        dx = np.asarray(x, np.float64) - self.fe
        dy = np.asarray(y, np.float64) - self.fn
        if self.south:
            dy = -dy
        rho = np.sqrt(dx * dx + dy * dy)
        t = rho / self.rk
        lam = np.arctan2(dx, -dy)
        phi = np.pi / 2.0 - 2.0 * np.arctan(t)
        for _ in range(8):
            s = np.sin(phi)
            phi = np.pi / 2.0 - 2.0 * np.arctan(
                t * ((1.0 - self.e * s) / (1.0 + self.e * s)) ** (self.e / 2.0)
            )
        if self.south:
            phi = -phi
        return np.degrees(lam) + self.lon0, np.degrees(phi)


class AlbersEqualArea:
    """EPSG method 9822 (Albers equal-area conic, two standard parallels) —
    Guidance Note 7-2 §3.1.5 / Snyder 1987 eq. 14-1..14-21.  The equal-area
    complement to LCC (R/operation/projection/AlbersEqualArea.java)."""

    def __init__(self, lat1: float, lat2: float, lat0: float, lon0: float,
                 fe: float, fn: float, ellipsoid=GRS80):
        self.a, f = ellipsoid
        self.e = _ecc(ellipsoid)
        self.e2 = self.e * self.e
        p1, p2, p0 = np.radians([lat1, lat2, lat0])
        m1, m2 = _m(p1, self.e), _m(p2, self.e)
        q1, q2, q0 = self._q(p1), self._q(p2), self._q(p0)
        self.n = (m1 * m1 - m2 * m2) / (q2 - q1)
        self.C = m1 * m1 + self.n * q1
        self.rho0 = self.a * np.sqrt(self.C - self.n * q0) / self.n
        self.lon0 = lon0
        self.fe, self.fn = fe, fn
        self.lat1, self.lat2, self.lat0 = lat1, lat2, lat0
        self.ellipsoid = tuple(ellipsoid)

    def _q(self, phi):
        s = np.sin(phi)
        e = self.e
        return (1.0 - self.e2) * (
            s / (1.0 - self.e2 * s * s)
            - (1.0 / (2.0 * e)) * np.log((1.0 - e * s) / (1.0 + e * s))
        )

    def forward(self, lon, lat):
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        phi = np.radians(np.asarray(lat, np.float64))
        q = self._q(phi)
        rho = self.a * np.sqrt(self.C - self.n * q) / self.n
        th = self.n * lam
        return self.fe + rho * np.sin(th), self.fn + self.rho0 - rho * np.cos(th)

    def inverse(self, x, y):
        dx = np.asarray(x, np.float64) - self.fe
        dy = self.rho0 - (np.asarray(y, np.float64) - self.fn)
        # southern cone (n < 0): rho is negative and theta measures from
        # the reversed axes (Snyder's sign note under eq. 14-11)
        sgn = 1.0 if self.n >= 0.0 else -1.0
        rho = sgn * np.sqrt(dx * dx + dy * dy)
        q = (self.C - (rho * self.n / self.a) ** 2) / self.n
        th = np.arctan2(sgn * dx, sgn * dy)
        lam = th / self.n
        phi = np.arcsin(np.clip(q / 2.0, -1.0, 1.0))
        e, e2 = self.e, self.e2
        for _ in range(12):
            s = np.sin(phi)
            phi = phi + (1.0 - e2 * s * s) ** 2 / (2.0 * np.cos(phi)) * (
                q / (1.0 - e2)
                - s / (1.0 - e2 * s * s)
                + (1.0 / (2.0 * e)) * np.log((1.0 - e * s) / (1.0 + e * s))
            )
        return np.degrees(lam) + self.lon0, np.degrees(phi)


def _q_authalic(phi, e, e2):
    """Authalic-latitude helper q(phi) (Snyder 1987 eq. 3-12) — module-level
    so LAEA and the SQL oracle share one FP expression order."""
    s = np.sin(phi)
    return (1.0 - e2) * (
        s / (1.0 - e2 * s * s)
        - (1.0 / (2.0 * e)) * np.log((1.0 - e * s) / (1.0 + e * s))
    )


def _authalic_inverse(q, qp, e, e2):
    """Geodetic latitude (radians) whose authalic helper is ``q`` (Snyder
    1987 eq. 3-16 Newton step), shared by LAEA and ellipsoidal CEA.  The
    step starts from the authalic latitude asin(q/qp): near the pole
    q'(phi) -> 0 and a start at asin(q/2) only halves the error per step,
    while this one is within a factor 1 + O(e2) of the answer.  |q| within
    the rounding of qp is the pole itself, where the step would divide
    by cos(phi) ~ 0."""
    pole = np.abs(q) >= qp - 4.0 * np.spacing(qp)
    phi = np.arcsin(np.clip(q / qp, -1.0, 1.0))
    for _ in range(12):
        s = np.sin(phi)
        step = np.where(pole, 0.0, (1.0 - e2 * s * s) ** 2 / (2.0 * np.cos(phi)) * (
            q / (1.0 - e2)
            - s / (1.0 - e2 * s * s)
            + (1.0 / (2.0 * e)) * np.log((1.0 - e * s) / (1.0 + e * s))
        ))
        phi = phi + step
        if not (np.abs(step) > 1e-15).any():
            break
    return np.where(pole, np.copysign(np.pi / 2.0, q), phi)


class LambertAzimuthalEqualArea:
    """EPSG method 9820 (oblique ellipsoidal Lambert Azimuthal Equal Area) —
    Guidance Note 7-2 §3.1.3.2 / Snyder 1987 eq. 24-2..24-16 via the
    authalic sphere.  The projection behind EPSG:3035 (LAEA Europe), the
    standard equal-area statistical grid
    (R/operation/projection/LambertAzimuthalEqualArea.java)."""

    def __init__(self, lat0: float, lon0: float, fe: float, fn: float,
                 ellipsoid=GRS80):
        self.a, f = ellipsoid
        self.e = _ecc(ellipsoid)
        self.e2 = self.e * self.e
        p0 = np.radians(lat0)
        self.qp = float(_q_authalic(np.pi / 2.0, self.e, self.e2))
        q0 = float(_q_authalic(p0, self.e, self.e2))
        self.sinb0 = q0 / self.qp
        self.cosb0 = np.sqrt(1.0 - self.sinb0 * self.sinb0)
        self.Rq = self.a * np.sqrt(self.qp / 2.0)
        m0 = float(_m(p0, self.e))
        self.D = (self.a * m0) / (self.Rq * self.cosb0)
        self.lon0 = lon0
        self.fe, self.fn = fe, fn
        self.lat0 = lat0
        self.ellipsoid = tuple(ellipsoid)

    def forward(self, lon, lat):
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        q = _q_authalic(np.radians(np.asarray(lat, np.float64)), self.e, self.e2)
        sinb = q / self.qp
        # q(-pi/2)/qp may round past -1
        cosb = np.sqrt(np.maximum(1.0 - sinb * sinb, 0.0))
        B = self.Rq * np.sqrt(
            2.0 / (1.0 + self.sinb0 * sinb + self.cosb0 * cosb * np.cos(lam)))
        x = self.fe + (B * self.D) * (cosb * np.sin(lam))
        y = self.fn + (B / self.D) * (
            self.cosb0 * sinb - self.sinb0 * cosb * np.cos(lam))
        return x, y

    def inverse(self, x, y):
        dx = np.asarray(x, np.float64) - self.fe
        dy = np.asarray(y, np.float64) - self.fn
        rho = np.sqrt((dx / self.D) ** 2 + (self.D * dy) ** 2)
        ce = 2.0 * np.arcsin(np.clip(rho / (2.0 * self.Rq), -1.0, 1.0))
        with np.errstate(divide="ignore", invalid="ignore"):
            sinb = np.where(
                rho == 0.0, self.sinb0,
                np.cos(ce) * self.sinb0
                + self.D * dy * np.sin(ce) * self.cosb0 / np.where(rho == 0.0, 1.0, rho))
        q = self.qp * sinb
        lam = np.arctan2(
            dx * np.sin(ce),
            self.D * rho * np.cos(ce) * self.cosb0
            - self.D * self.D * dy * np.sin(ce) * self.sinb0)
        phi = _authalic_inverse(q, self.qp, self.e, self.e2)
        return np.degrees(lam) + self.lon0, np.degrees(phi)


class Sinusoidal:
    """Spherical sinusoidal (Sanson-Flamsteed) — the MODIS-grid family
    member (ESRI:53008 Sphere_Sinusoidal): equal-area, pseudocylindrical,

        x = R * lam * cos(phi)        y = R * phi

    with lam = radians(lon - lon0).  Exact one-line inverse, so the
    round-trip is closed-form (no iteration)."""

    def __init__(self, lon0: float = 0.0, R: float = 6371000.0):
        self.lon0, self.R = lon0, R

    def forward(self, lon, lat):
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        phi = np.radians(np.asarray(lat, np.float64))
        x = self.R * lam * np.cos(phi)
        y = self.R * phi
        return x, y

    def inverse(self, x, y):
        phi = np.asarray(y, np.float64) / self.R
        lam = np.asarray(x, np.float64) / (self.R * np.cos(phi))
        return np.degrees(lam) + self.lon0, np.degrees(phi)


class Mollweide:
    """Spherical Mollweide (ESRI:53009 Sphere_Mollweide): equal-area
    pseudocylindrical,

        x = (2*sqrt(2)/pi) * R * lam * cos(t)     y = sqrt(2) * R * sin(t)

    with the auxiliary angle t solving 2t + sin(2t) = pi*sin(phi) by 50
    DERANDOMIZED bisection rounds — a fixed, replayable op sequence (the
    oracle chains the same rounds as CTEs).  A one-ULP libm sin
    difference can only flip a comparison whose midpoint is within
    ~1e-16 of the root, leaving t within float precision of the true
    root either way, and the floor-shift output discipline absorbs it."""

    ROUNDS = 50

    def __init__(self, lon0: float = 0.0, R: float = 6371000.0):
        self.lon0, self.R = lon0, R
        self._xc = R * 2.0 * np.sqrt(2.0) / np.pi
        self._yc = R * np.sqrt(2.0)

    def forward(self, lon, lat):
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        phi = np.radians(np.asarray(lat, np.float64))
        tgt = np.pi * np.sin(phi)
        lo = np.full_like(phi, -np.pi / 2.0)
        hi = np.full_like(phi, np.pi / 2.0)
        for _ in range(self.ROUNDS):
            mid = (lo + hi) * 0.5
            take = 2.0 * mid + np.sin(2.0 * mid) < tgt
            lo = np.where(take, mid, lo)
            hi = np.where(take, hi, mid)
        t = (lo + hi) * 0.5
        x = self._xc * lam * np.cos(t)
        y = self._yc * np.sin(t)
        return x, y

    def inverse(self, x, y):
        t = np.arcsin(np.asarray(y, np.float64) / self._yc)
        phi = np.arcsin((2.0 * t + np.sin(2.0 * t)) / np.pi)
        lam = np.asarray(x, np.float64) / (self._xc * np.cos(t))
        return np.degrees(lam) + self.lon0, np.degrees(phi)


class Orthographic:
    """Spherical orthographic, oblique aspect (Snyder 1987 §20, public
    formulas — the view-from-infinity hemisphere map):

        x = R cos(phi) sin(lam)
        y = R (cos(phi1) sin(phi) - sin(phi1) cos(phi) cos(lam))

    with lam = radians(lon - lon0); defined only on the front hemisphere
    cos(c) = sin(phi1) sin(phi) + cos(phi1) cos(phi) cos(lam) >= 0 —
    callers clip on cos(c) themselves (both engines derive the identical
    expression, and gate thresholds keep an irrational margin from 0)."""

    def __init__(self, lat0: float, lon0: float, R: float = 6371000.0):
        self.lat0, self.lon0, self.R = lat0, lon0, R

    def cos_c(self, lon, lat):
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        phi = np.radians(np.asarray(lat, np.float64))
        p1 = np.radians(self.lat0)
        return np.sin(p1) * np.sin(phi) + np.cos(p1) * np.cos(phi) * np.cos(lam)

    def forward(self, lon, lat):
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        phi = np.radians(np.asarray(lat, np.float64))
        p1 = np.radians(self.lat0)
        x = self.R * np.cos(phi) * np.sin(lam)
        y = self.R * (np.cos(p1) * np.sin(phi)
                      - np.sin(p1) * np.cos(phi) * np.cos(lam))
        return x, y

    def inverse(self, x, y):
        x = np.asarray(x, np.float64) / self.R
        y = np.asarray(y, np.float64) / self.R
        rho = np.sqrt(x * x + y * y)
        c = np.arcsin(np.clip(rho, 0.0, 1.0))
        p1 = np.radians(self.lat0)
        with np.errstate(invalid="ignore", divide="ignore"):
            phi = np.arcsin(np.cos(c) * np.sin(p1)
                            + np.where(rho > 0, y * np.sin(c) * np.cos(p1) / rho, 0.0))
            lam = np.arctan2(x * np.sin(c),
                             rho * np.cos(c) * np.cos(p1) - y * np.sin(c) * np.sin(p1))
        return np.degrees(lam) + self.lon0, np.degrees(phi)


class Gnomonic:
    """Spherical gnomonic, oblique aspect (Snyder 1987 §22, public
    formulas — the great-circles-are-straight-lines map used for
    route planning and seismic work):

        k = 1 / cos(c),  cos(c) = sin(phi1) sin(phi) + cos(phi1) cos(phi) cos(lam)
        x = R k cos(phi) sin(lam)
        y = R k (cos(phi1) sin(phi) - sin(phi1) cos(phi) cos(lam))

    defined strictly inside the front hemisphere (cos(c) > 0); callers
    clip on cos(c) with an irrational-margin threshold exactly like
    Orthographic (same shared-text expression)."""

    def __init__(self, lat0: float, lon0: float, R: float = 6371000.0):
        self.lat0, self.lon0, self.R = lat0, lon0, R

    def cos_c(self, lon, lat):
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        phi = np.radians(np.asarray(lat, np.float64))
        p1 = np.radians(self.lat0)
        return np.sin(p1) * np.sin(phi) + np.cos(p1) * np.cos(phi) * np.cos(lam)

    def forward(self, lon, lat):
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        phi = np.radians(np.asarray(lat, np.float64))
        p1 = np.radians(self.lat0)
        cosc = np.sin(p1) * np.sin(phi) + np.cos(p1) * np.cos(phi) * np.cos(lam)
        with np.errstate(divide="ignore", invalid="ignore"):
            k = 1.0 / cosc
        x = self.R * k * np.cos(phi) * np.sin(lam)
        y = self.R * k * (np.cos(p1) * np.sin(phi)
                          - np.sin(p1) * np.cos(phi) * np.cos(lam))
        return x, y

    def inverse(self, x, y):
        x = np.asarray(x, np.float64) / self.R
        y = np.asarray(y, np.float64) / self.R
        rho = np.sqrt(x * x + y * y)
        c = np.arctan(rho)
        p1 = np.radians(self.lat0)
        with np.errstate(invalid="ignore", divide="ignore"):
            phi = np.arcsin(np.cos(c) * np.sin(p1)
                            + np.where(rho > 0, y * np.sin(c) * np.cos(p1) / rho, 0.0))
            lam = np.arctan2(x * np.sin(c),
                             rho * np.cos(c) * np.cos(p1) - y * np.sin(c) * np.sin(p1))
        return np.degrees(lam) + self.lon0, np.degrees(phi)


class AzimuthalEquidistant:
    """Spherical azimuthal equidistant, oblique aspect (Snyder 1987 §25 —
    the true-distance-from-center map used for range rings):

        cos c = sin(phi1) sin(phi) + cos(phi1) cos(phi) cos(lam)
        k = c / sin c   (k -> 1 at the center)
        x = R k cos(phi) sin(lam)
        y = R k (cos(phi1) sin(phi) - sin(phi1) cos(phi) cos(lam))

    Whole sphere except the antipode — no domain cut for finite inputs."""

    def __init__(self, lat0: float, lon0: float, R: float = 6371000.0):
        self.lat0, self.lon0, self.R = lat0, lon0, R

    def forward(self, lon, lat):
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        phi = np.radians(np.asarray(lat, np.float64))
        p1 = np.radians(self.lat0)
        cosc = np.sin(p1) * np.sin(phi) + np.cos(p1) * np.cos(phi) * np.cos(lam)
        c = np.arccos(np.clip(cosc, -1.0, 1.0))
        sinc = np.sin(c)
        with np.errstate(invalid="ignore", divide="ignore"):
            k = np.where(sinc != 0.0, c / sinc, 1.0)
        x = self.R * k * np.cos(phi) * np.sin(lam)
        y = self.R * k * (np.cos(p1) * np.sin(phi)
                          - np.sin(p1) * np.cos(phi) * np.cos(lam))
        return x, y

    def inverse(self, x, y):
        x = np.asarray(x, np.float64) / self.R
        y = np.asarray(y, np.float64) / self.R
        c = np.sqrt(x * x + y * y)
        p1 = np.radians(self.lat0)
        with np.errstate(invalid="ignore", divide="ignore"):
            phi = np.arcsin(np.cos(c) * np.sin(p1)
                            + np.where(c > 0, y * np.sin(c) * np.cos(p1) / c, 0.0))
            lam = np.arctan2(x * np.sin(c),
                             c * np.cos(c) * np.cos(p1) - y * np.sin(c) * np.sin(p1))
        return np.degrees(lam) + self.lon0, np.degrees(phi)


#: Robinson 1974 projection table (public constants, 5-degree nodes):
#: PLEN (parallel length factor) and PDFE (distance-from-equator factor).
_ROBINSON_PLEN = (
    1.0000, 0.9986, 0.9954, 0.9900, 0.9822, 0.9730, 0.9600, 0.9427,
    0.9216, 0.8962, 0.8679, 0.8350, 0.7986, 0.7597, 0.7186, 0.6732,
    0.6213, 0.5722, 0.5322,
)
_ROBINSON_PDFE = (
    0.0000, 0.0620, 0.1240, 0.1860, 0.2480, 0.3100, 0.3720, 0.4340,
    0.4958, 0.5571, 0.6176, 0.6769, 0.7346, 0.7903, 0.8435, 0.8936,
    0.9394, 0.9761, 1.0000,
)


class Robinson:
    """Robinson world projection (Robinson 1974 lookup table, public
    constants) with PIECEWISE-LINEAR node interpolation (documented
    variant; ESRI/classic implementations use Stirling interpolation):

        i = floor(|lat| / 5),  f = (|lat| - 5 i) / 5
        X = PLEN[i] + (PLEN[i+1] - PLEN[i]) f   (same for Y over PDFE)
        x = 0.8487 R X lam,  y = 1.3523 R Y sign(lat)

    Every step is +-*/ on shared constants — no libm, so both engines
    produce bit-identical doubles given the same op order."""

    def __init__(self, lon0: float = 0.0, R: float = 6371000.0):
        self.lon0, self.R = lon0, R

    def forward(self, lon, lat):
        lat = np.asarray(lat, np.float64)
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        al = np.abs(lat)
        i = np.minimum(np.floor(al / 5.0), 17.0).astype(np.int64)
        f = (al - 5.0 * i) / 5.0
        PL = np.asarray(_ROBINSON_PLEN)
        PD = np.asarray(_ROBINSON_PDFE)
        X = PL[i] + (PL[i + 1] - PL[i]) * f
        Y = PD[i] + (PD[i + 1] - PD[i]) * f
        x = 0.8487 * self.R * X * lam
        y = 1.3523 * self.R * Y * np.sign(lat)
        return x, y

    def inverse(self, x, y):
        # piecewise-linear tables invert by bracketing Y then one linear solve
        x = np.asarray(x, np.float64)
        y = np.asarray(y, np.float64)
        PD = np.asarray(_ROBINSON_PDFE)
        PL = np.asarray(_ROBINSON_PLEN)
        Yv = np.abs(y) / (1.3523 * self.R)
        i = np.clip(np.searchsorted(PD, Yv, side="right") - 1, 0, 17)
        f = np.where(PD[i + 1] > PD[i], (Yv - PD[i]) / (PD[i + 1] - PD[i]), 0.0)
        lat = np.sign(y) * 5.0 * (i + f)
        X = PL[i] + (PL[i + 1] - PL[i]) * f
        lam = x / (0.8487 * self.R * X)
        return np.degrees(lam) + self.lon0, lat


class _Geographic:
    def forward(self, lon, lat):
        return np.asarray(lon, np.float64), np.asarray(lat, np.float64)

    inverse = forward


class _WebMercator:
    def forward(self, lon, lat):
        from . import transforms as tr

        return tr.mercator_forward(lon, lat)

    def inverse(self, x, y):
        from . import transforms as tr

        return tr.mercator_inverse(x, y)


class _TM:
    """Transverse Mercator on the Karney series (utm.py), with false
    easting/northing and central meridian."""

    def __init__(self, lon0: float, fe: float = 500000.0, fn: float = 0.0):
        self.lon0, self.fe, self.fn = lon0, fe, fn

    def forward(self, lon, lat):
        from . import utm

        x, y = utm.tm_forward(lon, lat, self.lon0)
        return x + self.fe, y + self.fn

    def inverse(self, x, y):
        from . import utm

        return utm.tm_inverse(
            np.asarray(x, np.float64) - self.fe,
            np.asarray(y, np.float64) - self.fn,
            self.lon0,
        )


def _crs(code):
    if not isinstance(code, str):
        return code  # already a projection object (e.g. parsed from WKT)
    if "[" in code:
        # WKT text (CRS.java:371 fromWKT): build the datum+projection
        # pipeline from the definition itself — the no-database route for
        # EPSG long-tail codes.  A known AUTHORITY/ID inside the text still
        # wins (the reference's EPSG-first resolution).
        from .wkt_crs import crs_from_wkt

        return crs_from_wkt(code)
    code = code.upper()
    if code in CRS_REGISTRY:
        return CRS_REGISTRY[code]
    if code.startswith("EPSG:326") or code.startswith("EPSG:327"):
        zone = int(code[8:])
        if 1 <= zone <= 60:
            south = code[5:8] == "327"
            return _TM(zone * 6.0 - 183.0, 500000.0,
                       10000000.0 if south else 0.0)
    # WKT side-registry (r5): top-100 published codes generated as WKT
    # text and resolved through the custom-CRS route, cached on first use
    from .epsg_wkt import WKT_SIDE_REGISTRY

    if code in WKT_SIDE_REGISTRY:
        from .wkt_crs import crs_from_wkt

        crs = crs_from_wkt(WKT_SIDE_REGISTRY[code], prefer_id=False)
        CRS_REGISTRY[code] = crs
        return crs
    raise ValueError(f"unsupported CRS {code!r} (registry: {sorted(CRS_REGISTRY)}, EPSG:326xx/327xx, side-registry: {len(WKT_SIDE_REGISTRY)} codes)")


CRS_REGISTRY: dict[str, object] = {
    "EPSG:4326": _Geographic(),
    # Sphere sinusoidal (equal-area pseudocylindrical, the MODIS-grid shape)
    "ESRI:53008": Sinusoidal(0.0, 6371000.0),
    # Sphere Mollweide (equal-area pseudocylindrical world map)
    "ESRI:53009": Mollweide(0.0, 6371000.0),
    "CRS:84": _Geographic(),
    "EPSG:3857": _WebMercator(),
    # Lambert-93 (France), the canonical LCC 2SP deployment
    "EPSG:2154": LambertConformal2SP(49.0, 44.0, 46.5, 3.0, 700000.0, 6600000.0, GRS80),
    # Statistics Canada LCC
    "EPSG:3347": LambertConformal2SP(49.0, 77.0, 63.390675, -91.866667,
                                     6200000.0, 3000000.0, GRS80),
    # Antarctic Polar Stereographic
    "EPSG:3031": PolarStereographicB(-71.0, 0.0, 0.0, 0.0, WGS84),
    # NSIDC Sea Ice Polar Stereographic North
    "EPSG:3413": PolarStereographicB(70.0, -45.0, 0.0, 0.0, WGS84),
    # NAD83 / Conus Albers (datum-preserving GRS80 approximation)
    "EPSG:5070": AlbersEqualArea(29.5, 45.5, 23.0, -96.0, 0.0, 0.0, GRS80),
    # ETRS89-extended / LAEA Europe (the EU statistical grid CRS)
    "EPSG:3035": LambertAzimuthalEqualArea(52.0, 10.0, 4321000.0, 3210000.0, GRS80),
    # Sphere orthographic centered on Europe (hemisphere view)
    "ESRI:53044:EU": Orthographic(45.0, 10.0, 6371000.0),
    # Sphere azimuthal equidistant centered on Europe (range-ring map)
    "ESRI:53032:EU": AzimuthalEquidistant(45.0, 10.0, 6371000.0),
    # Sphere gnomonic centered on Europe (great-circle route map)
    "ESRI:53049:EU": Gnomonic(45.0, 10.0, 6371000.0),
    # Sphere Robinson world map (piecewise-linear node interpolation)
    "ESRI:53030": Robinson(0.0, 6371000.0),
    # Universal Polar Stereographic North / South (MGRS polar zones)
    "EPSG:5041": PolarStereographicA(0.994, 0.0, 2000000.0, 2000000.0, False, WGS84),
    "EPSG:5042": PolarStereographicA(0.994, 0.0, 2000000.0, 2000000.0, True, WGS84),
}


# Projection long tail (r5, functions/proj_tail.py): equidistant
# cylindrical / cylindrical equal-area / Cassini-Soldner / polyconic /
# Hotine oblique Mercator families (VERDICT r4 missing #1)
def _extend_tail():
    from . import proj_tail as PT

    CRS_REGISTRY.update({
        # WGS 84 / World Equidistant Cylindrical (EPSG method 1028)
        "EPSG:4087": PT.EquidistantCylindrical(0.0, 0.0, 0.0, 0.0, WGS84),
        # WGS 84 / NSIDC EASE-Grid 2.0 Global (Lambert CEA, lat_ts 30)
        "EPSG:6933": PT.CylindricalEqualArea(30.0, 0.0, 0.0, 0.0, WGS84),
        # SIRGAS 2000 / Brazil Polyconic (GRS80, datum-preserving)
        "EPSG:5880": PT.Polyconic(0.0, -54.0, 5000000.0, 10000000.0, GRS80),
        # Guam 1963 / Yap Islands (Modified Azimuthal Equidistant,
        # Clarke 1866, datum-preserving approximation like EPSG:5070)
        "EPSG:3295": PT.ModifiedAzimuthalEquidistant(
            9.0 + (32.0 + 48.15 / 60.0) / 60.0,
            138.0 + (10.0 + 7.48 / 60.0) / 60.0,
            40000.0, 60000.0,
            (6378206.4, (6378206.4 - 6356583.8) / 6378206.4)),
        # Landsat-3 cylindrical satellite-tracking (Snyder 28; sphere)
        "SIS:SATTRACK": PT.SatelliteTracking(
            -90.0, 0.0, 30.0, -30.0, 99.092, 103.267 / 1440.0, 6371007.0),
        # WGS 84 / UTM zoned grid system, northern hemisphere (9824)
        "EPSG:32600": PT.ZonedTransverseMercator(),
        # WGS 84 / World Mercator (ellipsoidal Mercator variant A)
        "EPSG:3395": PT.Mercator(1.0, None, 0.0, 0.0, 0.0, WGS84),
        # GDM2000 / Peninsular RSO (Hotine OM variant A, GRS80)
        "EPSG:3375": PT.ObliqueMercator(
            4.0, 102.25,
            323.0 + 1.0 / 60.0 + 32.8458 / 3600.0,          # azimuth
            323.0 + 7.0 / 60.0 + 48.3685 / 3600.0,          # gamma_c
            0.99984, 804671.0, 0.0, GRS80, variant_b=False),
    })


# EPSG top-20 extension: non-WGS84 national grids routed through Helmert
# (data-driven parameter table + three extra kernels, functions/datums.py)
def _extend_registry():
    from . import datums as _d

    CRS_REGISTRY.update(_d.registry_entries())
    CRS_REGISTRY["EPSG:31370"] = _d._belgian()


_extend_registry()
_extend_tail()


def transform_points(lon_or_x, lat_or_y, src: str, dst: str):
    """Vectorized CRS transform routed through geographic (the two-step
    CoordinateOperationFinder path: inverse(src) |> forward(dst))."""
    s, d = _crs(src), _crs(dst)
    lon, lat = s.inverse(lon_or_x, lat_or_y)
    return d.forward(lon, lat)


def st_transform_any_udf(src: str, dst: str):
    """ST_Transform(geom, src, dst) over (x, y) double columns for any
    registry pair — the Arrow-batched MathTransform shape."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("x", T.DoubleType()),
                           T.StructField("y", T.DoubleType())])

    @F.pandas_udf(schema)
    def _f(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        ox, oy = transform_points(x.to_numpy(), y.to_numpy(), src, dst)
        return pd.DataFrame({"x": ox, "y": oy})

    return _f
