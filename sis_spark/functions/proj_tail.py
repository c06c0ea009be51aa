"""Projection long tail (r5): the five families the reference ships that
were still missing from the registry —

* Equidistant Cylindrical — EPSG method 1028 (ellipsoidal; 1029 spherical
  degenerates naturally), the plate-carrée family behind EPSG:4087 climate
  grids.  R/operation/projection/EquidistantCylindrical.java semantics;
  formulas from the PUBLIC EPSG Guidance Note 7-2 §3.5.3 (meridian-arc
  series = Snyder 1987 eq. 3-21).
* Cylindrical Equal Area (Lambert) — EPSG 9835 (9834 spherical
  degenerates), behind the EASE-Grid 2.0 EPSG:6933.
  R/operation/projection/CylindricalEqualArea.java; Guidance Note 7-2
  §3.5.2 / Snyder eq. 10-1..10-26 via the authalic latitude.
* Cassini-Soldner — EPSG 9806, the Trinidad/Caribbean cadastral family.
  R/operation/projection/CassiniSoldner.java; Guidance Note 7-2 §3.2.2.
* American Polyconic — EPSG 9818, behind Brazil's EPSG:5880.
  R/operation/projection/Polyconic.java; Snyder 1987 eq. 18-12..18-21.
* Hotine Oblique Mercator variants A (EPSG 9812) and B (9815) — the
  general rotated-grid kernel (Borneo RSO, Malaysian GDM2000, Alaska
  zone 1) that subsumes the Swiss special case (azimuth 90 at center).
  R/operation/projection/ObliqueMercator.java; Guidance Note 7-2 §3.2.6.

All kernels are vectorized numpy over degree inputs, registry-compatible
(forward/inverse), with SQL CTE emitters mirroring the forward term order
so the DuckDB oracle replays them bit-for-bit.
"""

from __future__ import annotations

import numpy as np

WGS84 = (6378137.0, 1.0 / 298.257223563)


def _q_authalic(phi, e, e2):
    # lazy import: projections.py imports this module at registry-build
    # time, so a top-level import here would be circular
    from .projections import _q_authalic as q

    return q(phi, e, e2)


def _af(ellipsoid):
    a, f = ellipsoid
    e2 = f * (2.0 - f)
    return float(a), float(e2), float(np.sqrt(e2))


def _mer_coeffs(e2: float):
    """Meridian-arc series coefficients (Snyder eq. 3-21): M = a*(c0*phi
    - c2*sin 2phi + c4*sin 4phi - c6*sin 6phi)."""
    e4 = e2 * e2
    e6 = e4 * e2
    c0 = 1.0 - e2 / 4.0 - 3.0 * e4 / 64.0 - 5.0 * e6 / 256.0
    c2 = 3.0 * e2 / 8.0 + 3.0 * e4 / 32.0 + 45.0 * e6 / 1024.0
    c4 = 15.0 * e4 / 256.0 + 45.0 * e6 / 1024.0
    c6 = 35.0 * e6 / 3072.0
    return c0, c2, c4, c6


def _mdist(phi, a: float, e2: float):
    """Meridian arc length from the equator (Snyder eq. 3-21)."""
    c0, c2, c4, c6 = _mer_coeffs(e2)
    return a * (c0 * phi - c2 * np.sin(2.0 * phi)
                + c4 * np.sin(4.0 * phi) - c6 * np.sin(6.0 * phi))


def _footpoint(M, a: float, e2: float):
    """Footpoint (rectifying) latitude from a meridian arc (Snyder
    eq. 3-24 / 7-19: the e1 series)."""
    c0 = _mer_coeffs(e2)[0]
    mu = np.asarray(M, np.float64) / (a * c0)
    sq = np.sqrt(1.0 - e2)
    e1 = (1.0 - sq) / (1.0 + sq)
    e1_2 = e1 * e1
    e1_3 = e1_2 * e1
    e1_4 = e1_3 * e1
    return (mu
            + (3.0 * e1 / 2.0 - 27.0 * e1_3 / 32.0) * np.sin(2.0 * mu)
            + (21.0 * e1_2 / 16.0 - 55.0 * e1_4 / 32.0) * np.sin(4.0 * mu)
            + (151.0 * e1_3 / 96.0) * np.sin(6.0 * mu)
            + (1097.0 * e1_4 / 512.0) * np.sin(8.0 * mu))


class EquidistantCylindrical:
    """EPSG method 1028: E = FE + nu1*cos(phi1)*lam, N = FN + M(phi).
    lat1 = standard parallel (latitude of 1st standard parallel); a
    spherical ellipsoid degenerates to method 1029 exactly."""

    def __init__(self, lat1: float = 0.0, lon0: float = 0.0,
                 fe: float = 0.0, fn: float = 0.0, ellipsoid=WGS84):
        self.a, self.e2, _ = _af(ellipsoid)
        p1 = np.radians(lat1)
        s1 = np.sin(p1)
        self.nu1_cos = self.a * np.cos(p1) / np.sqrt(1.0 - self.e2 * s1 * s1)
        self.lon0, self.fe, self.fn = float(lon0), float(fe), float(fn)
        self.lat1 = float(lat1)
        self.ellipsoid = tuple(ellipsoid)

    def forward(self, lon, lat):
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        phi = np.radians(np.asarray(lat, np.float64))
        x = self.fe + self.nu1_cos * lam
        y = self.fn + _mdist(phi, self.a, self.e2)
        return x, y

    def inverse(self, x, y):
        lam = (np.asarray(x, np.float64) - self.fe) / self.nu1_cos
        phi = _footpoint(np.asarray(y, np.float64) - self.fn, self.a, self.e2)
        return np.degrees(lam) + self.lon0, np.degrees(phi)


class CylindricalEqualArea:
    """EPSG method 9835 (Lambert Cylindrical Equal Area, ellipsoidal):
    k0 = cos(phi1)/sqrt(1 - e2 sin^2 phi1); E = FE + a*k0*lam;
    N = FN + a*q(phi)/(2*k0) with q the authalic-latitude helper shared
    with LAEA (identical FP expression order)."""

    def __init__(self, lat_ts: float = 0.0, lon0: float = 0.0,
                 fe: float = 0.0, fn: float = 0.0, ellipsoid=WGS84):
        self.a, self.e2, self.e = _af(ellipsoid)
        p1 = np.radians(lat_ts)
        s1 = np.sin(p1)
        self.k0 = float(np.cos(p1) / np.sqrt(1.0 - self.e2 * s1 * s1))
        self.qp = float(_q_authalic(np.pi / 2.0, self.e, self.e2)) if self.e else 2.0
        self.lon0, self.fe, self.fn = float(lon0), float(fe), float(fn)
        self.lat_ts = float(lat_ts)
        self.ellipsoid = tuple(ellipsoid)

    def _q(self, phi):
        if self.e == 0.0:
            return 2.0 * np.sin(phi)
        return _q_authalic(phi, self.e, self.e2)

    def forward(self, lon, lat):
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        phi = np.radians(np.asarray(lat, np.float64))
        x = self.fe + self.a * self.k0 * lam
        y = self.fn + self.a * self._q(phi) / (2.0 * self.k0)
        return x, y

    def inverse(self, x, y):
        lam = (np.asarray(x, np.float64) - self.fe) / (self.a * self.k0)
        q = (np.asarray(y, np.float64) - self.fn) * 2.0 * self.k0 / self.a
        if self.e == 0.0:
            phi = np.arcsin(np.clip(q / 2.0, -1.0, 1.0))
            return np.degrees(lam) + self.lon0, np.degrees(phi)
        from .projections import _authalic_inverse  # lazy: see _q_authalic

        phi = _authalic_inverse(q, self.qp, self.e, self.e2)
        return np.degrees(lam) + self.lon0, np.degrees(phi)


class CassiniSoldner:
    """EPSG method 9806 (Guidance Note 7-2 §3.2.2 series)."""

    def __init__(self, lat0: float, lon0: float,
                 fe: float = 0.0, fn: float = 0.0, ellipsoid=WGS84):
        self.a, self.e2, _ = _af(ellipsoid)
        self.lat0, self.lon0 = float(lat0), float(lon0)
        self.fe, self.fn = float(fe), float(fn)
        self.m0 = float(_mdist(np.radians(lat0), self.a, self.e2))
        self.ep2 = self.e2 / (1.0 - self.e2)
        self.ellipsoid = tuple(ellipsoid)

    def forward(self, lon, lat):
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        phi = np.radians(np.asarray(lat, np.float64))
        s = np.sin(phi)
        c = np.cos(phi)
        A = lam * c
        T = np.tan(phi) ** 2
        C = self.ep2 * c * c
        nu = self.a / np.sqrt(1.0 - self.e2 * s * s)
        A2 = A * A
        A3 = A2 * A
        A4 = A2 * A2
        A5 = A4 * A
        x = self.fe + nu * (A - T * A3 / 6.0
                            - (8.0 - T + 8.0 * C) * T * A5 / 120.0)
        M = _mdist(phi, self.a, self.e2)
        X = A2 / 2.0 + (5.0 - T + 6.0 * C) * A4 / 24.0
        y = self.fn + M - self.m0 + nu * np.tan(phi) * X
        return x, y

    def inverse(self, x, y):
        dx = np.asarray(x, np.float64) - self.fe
        dy = np.asarray(y, np.float64) - self.fn
        M1 = self.m0 + dy
        phi1 = _footpoint(M1, self.a, self.e2)
        s1 = np.sin(phi1)
        w = 1.0 - self.e2 * s1 * s1
        nu1 = self.a / np.sqrt(w)
        rho1 = self.a * (1.0 - self.e2) / w ** 1.5
        T1 = np.tan(phi1) ** 2
        D = dx / nu1
        D2 = D * D
        D3 = D2 * D
        D4 = D2 * D2
        D5 = D4 * D
        phi = phi1 - (nu1 * np.tan(phi1) / rho1) * (
            D2 / 2.0 - (1.0 + 3.0 * T1) * D4 / 24.0)
        lam = (D - T1 * D3 / 3.0 + (1.0 + 3.0 * T1) * T1 * D5 / 15.0) / np.cos(phi1)
        return np.degrees(lam) + self.lon0, np.degrees(phi)


class Polyconic:
    """EPSG method 9818 (American Polyconic; Snyder eq. 18-12..18-21).
    Forward is closed-form; inverse is Snyder's 18-18 iteration (the same
    3-step convergence the reference's test pins, PolyconicTest.java:86)."""

    def __init__(self, lat0: float = 0.0, lon0: float = 0.0,
                 fe: float = 0.0, fn: float = 0.0, ellipsoid=WGS84):
        self.a, self.e2, _ = _af(ellipsoid)
        self.lat0, self.lon0 = float(lat0), float(lon0)
        self.fe, self.fn = float(fe), float(fn)
        self.m0 = float(_mdist(np.radians(lat0), self.a, self.e2))
        self.ellipsoid = tuple(ellipsoid)

    def forward(self, lon, lat):
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        phi = np.radians(np.asarray(lat, np.float64))
        s = np.sin(phi)
        eq = np.abs(phi) < 1e-12
        phi_safe = np.where(eq, 1.0, phi)  # avoid 0-division in cot
        cot = 1.0 / np.tan(phi_safe)
        A = lam * s
        nu = self.a / np.sqrt(1.0 - self.e2 * s * s)
        M = _mdist(phi, self.a, self.e2)
        x = np.where(eq, self.a * lam, nu * cot * np.sin(A))
        y = np.where(eq, -self.m0, M - self.m0 + nu * cot * (1.0 - np.cos(A)))
        return self.fe + x, self.fn + y

    def inverse(self, x, y):
        a, e2 = self.a, self.e2
        dx = np.asarray(x, np.float64) - self.fe
        dy = np.asarray(y, np.float64) - self.fn
        Aq = (self.m0 + dy) / a
        Bq = Aq * Aq + (dx / a) ** 2
        eq = np.abs(Aq) < 1e-12
        c0, c2, c4, c6 = _mer_coeffs(e2)
        phi = np.where(eq, 1.0, Aq)  # seed (Snyder: phi_0 = A)
        for _ in range(12):
            s = np.sin(phi)
            s2 = np.sin(2.0 * phi)
            C = np.sqrt(1.0 - e2 * s * s) * np.tan(phi)
            Ma = (c0 * phi - c2 * s2 + c4 * np.sin(4.0 * phi)
                  - c6 * np.sin(6.0 * phi))
            Mp = (c0 - 2.0 * c2 * np.cos(2.0 * phi)
                  + 4.0 * c4 * np.cos(4.0 * phi) - 6.0 * c6 * np.cos(6.0 * phi))
            num = Aq * (C * Ma + 1.0) - Ma - C * (Ma * Ma + Bq) / 2.0
            den = (e2 * s2 * (Ma * Ma + Bq - 2.0 * Aq * Ma) / (4.0 * C)
                   + (Aq - Ma) * (C * Mp - 2.0 / s2) - Mp)
            phi = phi - num / den
        s = np.sin(phi)
        C = np.sqrt(1.0 - e2 * s * s) * np.tan(phi)
        lam = np.arcsin(np.clip(dx * C / a, -1.0, 1.0)) / np.sin(phi)
        lam = np.where(eq, dx / a, lam)
        phi = np.where(eq, 0.0, phi)
        return np.degrees(lam) + self.lon0, np.degrees(phi)


class ObliqueMercator:
    """Hotine Oblique Mercator, EPSG methods 9812 (variant A) and 9815
    (variant B) — Guidance Note 7-2 §3.2.6 constants B, A, t0, D, F, H,
    gamma0, lam0 and the (u, v) skew grid rotated by gamma_c.  Subsumes
    the Swiss-style azimuth-90 special case (datums.SwissObliqueMercator
    stays the sphere-free swisstopo double projection for the LV95 gates;
    this kernel is the general Hotine route for WKT2-defined RSO grids)."""

    def __init__(self, latc: float, lonc: float, azimuth: float,
                 gamma_c: float | None = None, k0: float = 1.0,
                 fe: float = 0.0, fn: float = 0.0, ellipsoid=WGS84,
                 variant_b: bool = False):
        self.a, self.e2, self.e = _af(ellipsoid)
        e, e2 = self.e, self.e2
        pc = np.radians(latc)
        sc = np.sin(pc)
        cc = np.cos(pc)
        self.B = float(np.sqrt(1.0 + e2 * cc ** 4 / (1.0 - e2)))
        self.A = float(self.a * self.B * k0 * np.sqrt(1.0 - e2)
                       / (1.0 - e2 * sc * sc))
        t0 = (np.tan(np.pi / 4.0 - pc / 2.0)
              / ((1.0 - e * sc) / (1.0 + e * sc)) ** (e / 2.0))
        D = self.B * np.sqrt(1.0 - e2) / (cc * np.sqrt(1.0 - e2 * sc * sc))
        D2 = max(float(D * D), 1.0)
        sign = 1.0 if latc >= 0.0 else -1.0
        F = D + np.sqrt(D2 - 1.0) * sign
        self.H = float(F * t0 ** self.B)
        G = (F - 1.0 / F) / 2.0
        alpha = np.radians(azimuth)
        self.gamma0 = float(np.arcsin(np.clip(np.sin(alpha) / D, -1.0, 1.0)))
        # at azimuth 90 G*tan(gamma0) == 1 exactly in real arithmetic
        # (G = sqrt(D^2-1), tan(gamma0) = 1/sqrt(D^2-1)) but FP rounding
        # can land just above 1 -> clip keeps the arcsin defined
        self.lam0 = float(np.radians(lonc)
                          - np.arcsin(np.clip(G * np.tan(self.gamma0),
                                              -1.0, 1.0)) / self.B)
        self.gamma_c = np.radians(gamma_c if gamma_c is not None else azimuth)
        self.k0 = float(k0)
        self.fe, self.fn = float(fe), float(fn)
        self.variant_b = bool(variant_b)
        self.sign = sign
        # variant B's center-point u offset (Guidance Note: uc)
        if abs(azimuth - 90.0) < 1e-12:
            self.uc = float(self.A * (np.radians(lonc) - self.lam0))
        else:
            self.uc = float((self.A / self.B)
                            * np.arctan2(np.sqrt(D2 - 1.0), np.cos(alpha))
                            * sign)
        self.latc, self.lonc, self.azimuth = float(latc), float(lonc), float(azimuth)
        self.ellipsoid = tuple(ellipsoid)

    @classmethod
    def from_two_points(cls, latc: float, lat1: float, lon1: float,
                        lat2: float, lon2: float, k0: float = 1.0,
                        fe: float = 0.0, fn: float = 0.0, ellipsoid=WGS84,
                        variant_b: bool = False):
        """ESRI "two points" variant: the central line is defined by two
        points instead of an azimuth (Snyder 1987 eq. 9-16..9-24; the
        ObliqueMercatorTwoPoints provider semantics).  Derives lam0 and
        gamma0 from the two points, alpha_c = gamma_c = asin(D sin
        gamma0), then shares the standard Hotine kernel."""
        a, e2, e = _af(ellipsoid)
        pc = np.radians(latc)
        sc, cc = np.sin(pc), np.cos(pc)
        B = np.sqrt(1.0 + e2 * cc ** 4 / (1.0 - e2))
        t0 = (np.tan(np.pi / 4.0 - pc / 2.0)
              / ((1.0 - e * sc) / (1.0 + e * sc)) ** (e / 2.0))
        D = B * np.sqrt(1.0 - e2) / (cc * np.sqrt(1.0 - e2 * sc * sc))
        D2 = max(float(D * D), 1.0)
        sign = 1.0 if latc >= 0.0 else -1.0
        F = D + np.sqrt(D2 - 1.0) * sign
        H = F * t0 ** B

        def tB(lat):
            p = np.radians(lat)
            sp = np.sin(p)
            t = (np.tan(np.pi / 4.0 - p / 2.0)
                 / ((1.0 - e * sp) / (1.0 + e * sp)) ** (e / 2.0))
            return t ** B

        H1 = tB(lat1)
        L = tB(lat2)
        E2c = H * H
        LH = L * H1
        J = (E2c - LH) / (E2c + LH)
        P = (L - H1) / (L + H1)
        l1 = np.radians(lon1)
        l2 = np.radians(lon2)
        dl = l1 - l2
        if abs(dl) > np.pi:  # Snyder's +-2pi adjustment
            l2 += np.copysign(2.0 * np.pi, dl)
            dl = l1 - l2
        lam0 = (l1 + l2) / 2.0 - np.arctan(J * np.tan(B * dl / 2.0) / P) / B
        dl = l1 - lam0
        if abs(dl) > np.pi:
            lam0 += np.copysign(2.0 * np.pi, dl)
            dl = l1 - lam0
        # Snyder: plain atan here, NOT atan2
        gamma0 = np.arctan(2.0 * np.sin(B * dl) / (H / H1 - H1 / H))
        alpha_c = np.arcsin(D * np.sin(gamma0))
        self = cls(latc, float(np.degrees(lam0)), float(np.degrees(alpha_c)),
                   float(np.degrees(alpha_c)), k0, fe, fn, ellipsoid,
                   variant_b=variant_b)
        # the two-point lam0/gamma0 are authoritative (the azimuth-based
        # constructor re-derives lam0 from G tan(gamma0), which agrees
        # only to FP noise)
        self.lam0 = float(lam0)
        self.gamma0 = float(gamma0)
        return self

    def forward(self, lon, lat):
        e, e2 = self.e, self.e2
        phi = np.radians(np.asarray(lat, np.float64))
        lam = np.radians(np.asarray(lon, np.float64))
        s = np.sin(phi)
        t = (np.tan(np.pi / 4.0 - phi / 2.0)
             / ((1.0 - e * s) / (1.0 + e * s)) ** (e / 2.0))
        Q = self.H / t ** self.B
        S = (Q - 1.0 / Q) / 2.0
        T = (Q + 1.0 / Q) / 2.0
        dl = self.B * (lam - self.lam0)
        V = np.sin(dl)
        U = (-V * np.cos(self.gamma0) + S * np.sin(self.gamma0)) / T
        v = self.A * np.log((1.0 - U) / (1.0 + U)) / (2.0 * self.B)
        u = (self.A / self.B) * np.arctan2(
            S * np.cos(self.gamma0) + V * np.sin(self.gamma0), np.cos(dl))
        if self.variant_b:
            u = u - abs(self.uc) * self.sign
        cg = np.cos(self.gamma_c)
        sg = np.sin(self.gamma_c)
        E = v * cg + u * sg + self.fe
        N = u * cg - v * sg + self.fn
        return E, N

    def inverse(self, x, y):
        e, e2 = self.e, self.e2
        cg = np.cos(self.gamma_c)
        sg = np.sin(self.gamma_c)
        dE = np.asarray(x, np.float64) - self.fe
        dN = np.asarray(y, np.float64) - self.fn
        v = dE * cg - dN * sg
        u = dN * cg + dE * sg
        if self.variant_b:
            u = u + abs(self.uc) * self.sign
        Qp = np.exp(-self.B * v / self.A)
        Sp = (Qp - 1.0 / Qp) / 2.0
        Tp = (Qp + 1.0 / Qp) / 2.0
        Vp = np.sin(self.B * u / self.A)
        Up = (Vp * np.cos(self.gamma0) + Sp * np.sin(self.gamma0)) / Tp
        tp = (self.H / np.sqrt((1.0 + Up) / (1.0 - Up))) ** (1.0 / self.B)
        chi = np.pi / 2.0 - 2.0 * np.arctan(tp)
        e4 = e2 * e2
        e6 = e4 * e2
        e8 = e6 * e2
        phi = (chi
               + np.sin(2.0 * chi) * (e2 / 2.0 + 5.0 * e4 / 24.0
                                      + e6 / 12.0 + 13.0 * e8 / 360.0)
               + np.sin(4.0 * chi) * (7.0 * e4 / 48.0 + 29.0 * e6 / 240.0
                                      + 811.0 * e8 / 11520.0)
               + np.sin(6.0 * chi) * (7.0 * e6 / 120.0 + 81.0 * e8 / 1120.0)
               + np.sin(8.0 * chi) * (4279.0 * e8 / 161280.0))
        lam = self.lam0 - np.arctan2(
            Sp * np.cos(self.gamma0) - Vp * np.sin(self.gamma0),
            np.cos(self.B * u / self.A)) / self.B
        return np.degrees(lam), np.degrees(phi)


# --------------------------------------------------------- SQL emitters
#
# CTE builders in the datums.py style: given the kernel and a relation
# exposing (event_id, dlon, dlat), emit `__p` with (event_id, px, py)
# mirroring forward() term-for-term so the DuckDB oracle is bit-exact.

def _fl(v: float) -> str:
    from .. import synth

    return synth.flit(float(v))  # DOUBLE literal (never DECIMAL)


def _mdist_sql(a: float, e2: float, phi: str) -> str:
    c0, c2, c4, c6 = _mer_coeffs(e2)
    return (f"{_fl(a)} * ({_fl(c0)} * {phi} - {_fl(c2)} * sin(2.0 * {phi})"
            f" + {_fl(c4)} * sin(4.0 * {phi}) - {_fl(c6)} * sin(6.0 * {phi}))")


def eqc_forward_sql(p: EquidistantCylindrical, rel: str,
                    lon_col: str = "dlon", lat_col: str = "dlat") -> str:
    return f"""
__p AS (
  SELECT event_id,
    {_fl(p.fe)} + {_fl(p.nu1_cos)} * radians({lon_col} - {_fl(p.lon0)}) AS px,
    {_fl(p.fn)} + {_mdist_sql(p.a, p.e2, f"radians({lat_col})")} AS py
  FROM {rel})"""


def cea_forward_sql(p: CylindricalEqualArea, rel: str,
                    lon_col: str = "dlon", lat_col: str = "dlat") -> str:
    e, e2 = p.e, p.e2
    q = (f"(1.0 - {_fl(e2)}) * (sin(radians({lat_col})) / "
         f"(1.0 - {_fl(e2)} * sin(radians({lat_col})) * sin(radians({lat_col})))"
         f" - (1.0 / (2.0 * {_fl(e)})) * ln((1.0 - {_fl(e)} * sin(radians({lat_col})))"
         f" / (1.0 + {_fl(e)} * sin(radians({lat_col})))))")
    return f"""
__p AS (
  SELECT event_id,
    {_fl(p.fe)} + {_fl(p.a)} * {_fl(p.k0)} * radians({lon_col} - {_fl(p.lon0)}) AS px,
    {_fl(p.fn)} + {_fl(p.a)} * {q} / (2.0 * {_fl(p.k0)}) AS py
  FROM {rel})"""


def cassini_forward_sql(p: CassiniSoldner, rel: str,
                        lon_col: str = "dlon", lat_col: str = "dlat") -> str:
    # power chains (a2 = A*A; a3 = a2*A; a4 = a2*a2; a5 = a4*A) are named
    # columns so the product ASSOCIATION matches the numpy kernel exactly
    return f"""
__c AS (
  SELECT event_id,
    radians({lon_col} - {_fl(p.lon0)}) * cos(radians({lat_col})) AS A,
    tan(radians({lat_col})) * tan(radians({lat_col})) AS T,
    {_fl(p.ep2)} * cos(radians({lat_col})) * cos(radians({lat_col})) AS C,
    {_fl(p.a)} / sqrt(1.0 - {_fl(p.e2)} * sin(radians({lat_col})) * sin(radians({lat_col}))) AS nu,
    tan(radians({lat_col})) AS tphi,
    {_mdist_sql(p.a, p.e2, f"radians({lat_col})")} AS M
  FROM {rel}),
__c2 AS (
  SELECT event_id, A, T, C, nu, tphi, M, A * A AS a2, (A * A) * A AS a3,
    (A * A) * (A * A) AS a4, ((A * A) * (A * A)) * A AS a5
  FROM __c),
__p AS (
  SELECT event_id,
    {_fl(p.fe)} + nu * (A - T * a3 / 6.0
        - (8.0 - T + 8.0 * C) * T * a5 / 120.0) AS px,
    {_fl(p.fn)} + M - {_fl(p.m0)} + nu * tphi *
        (a2 / 2.0 + (5.0 - T + 6.0 * C) * a4 / 24.0) AS py
  FROM __c2)"""


def polyconic_forward_sql(p: Polyconic, rel: str,
                          lon_col: str = "dlon", lat_col: str = "dlat") -> str:
    return f"""
__c AS (
  SELECT event_id,
    radians({lon_col} - {_fl(p.lon0)}) AS lam,
    radians({lat_col}) AS phi,
    sin(radians({lat_col})) AS s,
    {_fl(p.a)} / sqrt(1.0 - {_fl(p.e2)} * sin(radians({lat_col})) * sin(radians({lat_col}))) AS nu,
    {_mdist_sql(p.a, p.e2, f"radians({lat_col})")} AS M
  FROM {rel}),
__p AS (
  SELECT event_id,
    {_fl(p.fe)} + CASE WHEN abs(phi) < 1e-12 THEN {_fl(p.a)} * lam
      ELSE nu * (1.0 / tan(phi)) * sin(lam * s) END AS px,
    {_fl(p.fn)} + CASE WHEN abs(phi) < 1e-12 THEN -{_fl(p.m0)}
      ELSE M - {_fl(p.m0)} + nu * (1.0 / tan(phi)) * (1.0 - cos(lam * s)) END AS py
  FROM __c)"""


def om_forward_sql(p: ObliqueMercator, rel: str,
                   lon_col: str = "dlon", lat_col: str = "dlat") -> str:
    uc_term = f" - {_fl(abs(p.uc) * p.sign)}" if p.variant_b else ""
    return f"""
__c AS (
  SELECT event_id,
    {_fl(p.H)} / pow(tan(pi() / 4.0 - radians({lat_col}) / 2.0)
      / pow((1.0 - {_fl(p.e)} * sin(radians({lat_col})))
          / (1.0 + {_fl(p.e)} * sin(radians({lat_col}))), {_fl(p.e / 2.0)}),
      {_fl(p.B)}) AS Q,
    {_fl(p.B)} * (radians({lon_col}) - {_fl(p.lam0)}) AS dl
  FROM {rel}),
__u AS (
  SELECT event_id,
    (-sin(dl) * {_fl(np.cos(p.gamma0))} + ((Q - 1.0 / Q) / 2.0) * {_fl(np.sin(p.gamma0))})
      / ((Q + 1.0 / Q) / 2.0) AS bigu,
    {_fl(p.A / p.B)} * atan2(((Q - 1.0 / Q) / 2.0) * {_fl(np.cos(p.gamma0))}
      + sin(dl) * {_fl(np.sin(p.gamma0))}, cos(dl)){uc_term} AS uskew
  FROM __c),
__p AS (
  SELECT event_id,
    ({_fl(p.A)} * ln((1.0 - bigu) / (1.0 + bigu)) / {_fl(2.0 * p.B)}) * {_fl(np.cos(p.gamma_c))}
      + uskew * {_fl(np.sin(p.gamma_c))} + {_fl(p.fe)} AS px,
    uskew * {_fl(np.cos(p.gamma_c))}
      - ({_fl(p.A)} * ln((1.0 - bigu) / (1.0 + bigu)) / {_fl(2.0 * p.B)}) * {_fl(np.sin(p.gamma_c))}
      + {_fl(p.fn)} AS py
  FROM __u)"""


class Mercator:
    """Ellipsoidal Mercator, EPSG methods 9804 (variant A: scale k0 at the
    equator) and 9805 (variant B: standard parallel lat_ts) — the
    EPSG:3395 World Mercator family (R/operation/projection/Mercator.java;
    Guidance Note 7-2 §3.1.2).  A spherical ellipsoid degenerates to the
    classic spherical Mercator; the Web-Mercator registry entry stays the
    separate method-1024 kernel (spherical formulas on the WGS84 datum)."""

    def __init__(self, k0: float = 1.0, lat_ts: float | None = None,
                 lon0: float = 0.0, fe: float = 0.0, fn: float = 0.0,
                 ellipsoid=WGS84):
        self.a, self.e2, self.e = _af(ellipsoid)
        if lat_ts is not None:  # variant B: k0 from the standard parallel
            p1 = np.radians(lat_ts)
            s1 = np.sin(p1)
            k0 = float(np.cos(p1) / np.sqrt(1.0 - self.e2 * s1 * s1))
        self.k0 = float(k0)
        self.lat_ts = lat_ts
        self.lon0, self.fe, self.fn = float(lon0), float(fe), float(fn)
        self.ellipsoid = tuple(ellipsoid)

    def forward(self, lon, lat):
        e = self.e
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        phi = np.radians(np.asarray(lat, np.float64))
        s = np.sin(phi)
        t = (np.tan(np.pi / 4.0 - phi / 2.0)
             / ((1.0 - e * s) / (1.0 + e * s)) ** (e / 2.0))
        x = self.fe + self.a * self.k0 * lam
        y = self.fn - self.a * self.k0 * np.log(t)
        return x, y

    def inverse(self, x, y):
        e, e2 = self.e, self.e2
        lam = (np.asarray(x, np.float64) - self.fe) / (self.a * self.k0)
        t = np.exp(-(np.asarray(y, np.float64) - self.fn) / (self.a * self.k0))
        chi = np.pi / 2.0 - 2.0 * np.arctan(t)
        e4 = e2 * e2
        e6 = e4 * e2
        e8 = e6 * e2
        phi = (chi
               + np.sin(2.0 * chi) * (e2 / 2.0 + 5.0 * e4 / 24.0
                                      + e6 / 12.0 + 13.0 * e8 / 360.0)
               + np.sin(4.0 * chi) * (7.0 * e4 / 48.0 + 29.0 * e6 / 240.0
                                      + 811.0 * e8 / 11520.0)
               + np.sin(6.0 * chi) * (7.0 * e6 / 120.0 + 81.0 * e8 / 1120.0)
               + np.sin(8.0 * chi) * (4279.0 * e8 / 161280.0))
        return np.degrees(lam) + self.lon0, np.degrees(phi)


def mercator_ell_forward_sql(p: Mercator, rel: str,
                             lon_col: str = "dlon", lat_col: str = "dlat") -> str:
    ak0 = f"{_fl(p.a)} * {_fl(p.k0)}"
    t = (f"tan(pi() / 4.0 - radians({lat_col}) / 2.0)"
         f" / pow((1.0 - {_fl(p.e)} * sin(radians({lat_col})))"
         f" / (1.0 + {_fl(p.e)} * sin(radians({lat_col}))), {_fl(p.e / 2.0)})")
    return f"""
__p AS (
  SELECT event_id,
    {_fl(p.fe)} + {ak0} * radians({lon_col} - {_fl(p.lon0)}) AS px,
    {_fl(p.fn)} - {ak0} * ln({t}) AS py
  FROM {rel})"""


class ModifiedAzimuthalEquidistant:
    """Modified Azimuthal Equidistant, EPSG method 9832 — the ellipsoidal
    Guam/Yap-area series (Guidance Note 7-2 §3.2.8;
    R/operation/projection/ModifiedAzimuthalEquidistant.java).  A LOCAL
    projection: the polynomial geodesic-distance series holds near the
    origin (island-survey deployments); the spherical AzimuthalEquidistant
    kernel in projections.py remains the whole-hemisphere route."""

    def __init__(self, lat0: float, lon0: float,
                 fe: float = 0.0, fn: float = 0.0, ellipsoid=WGS84):
        self.a, self.e2, self.e = _af(ellipsoid)
        self.lat0, self.lon0 = float(lat0), float(lon0)
        self.fe, self.fn = float(fe), float(fn)
        p0 = np.radians(lat0)
        self.sin0, self.cos0 = float(np.sin(p0)), float(np.cos(p0))
        self.nu0 = self.a / float(np.sqrt(1.0 - self.e2 * self.sin0 ** 2))
        self.G = float(self.e * self.sin0 / np.sqrt(1.0 - self.e2))
        self.ellipsoid = tuple(ellipsoid)

    def forward(self, lon, lat):
        e2 = self.e2
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        phi = np.radians(np.asarray(lat, np.float64))
        s = np.sin(phi)
        nu = self.a / np.sqrt(1.0 - e2 * s * s)
        psi = np.arctan((1.0 - e2) * np.tan(phi)
                        + e2 * self.nu0 * self.sin0 / (nu * np.cos(phi)))
        cpsi = np.cos(psi)
        spsi = np.sin(psi)
        alpha = np.arctan2(np.sin(lam),
                           self.cos0 * np.tan(psi) - self.sin0 * np.cos(lam))
        sa = np.sin(alpha)
        ca = np.cos(alpha)
        H = self.e * self.cos0 * ca / np.sqrt(1.0 - e2)
        G = self.G
        # geodesic arc s: general case via sin(lam); meridional via psi
        with np.errstate(invalid="ignore", divide="ignore"):
            s_gen = np.arcsin(np.clip(np.sin(lam) * cpsi / sa, -1.0, 1.0))
        s_mer = np.arcsin(np.clip(
            self.cos0 * spsi - self.sin0 * cpsi, -1.0, 1.0)) * np.where(
                ca >= 0.0, 1.0, -1.0)
        srad = np.where(np.abs(sa) < 1e-12, s_mer, s_gen)
        H2 = H * H
        s2 = srad * srad
        c = self.nu0 * srad * (
            1.0 - s2 * H2 * (1.0 - H2) / 6.0
            + (s2 * srad / 8.0) * G * H * (1.0 - 2.0 * H2)
            + (s2 * s2 / 120.0) * (H2 * (4.0 - 7.0 * H2)
                                   - 3.0 * G * G * (1.0 - 7.0 * H2))
            - (s2 * s2 * srad / 48.0) * G * H)
        return self.fe + c * sa, self.fn + c * ca

    def inverse(self, x, y):
        e2 = self.e2
        dx = np.asarray(x, np.float64) - self.fe
        dy = np.asarray(y, np.float64) - self.fn
        cp = np.sqrt(dx * dx + dy * dy)
        alpha = np.arctan2(dx, dy)
        ca = np.cos(alpha)
        A = -e2 * self.cos0 ** 2 * ca * ca / (1.0 - e2)
        B = 3.0 * e2 * (1.0 - A) * self.sin0 * self.cos0 * ca / (1.0 - e2)
        D = cp / self.nu0
        D2 = D * D
        J = D - A * (1.0 + A) * D2 * D / 6.0 - B * (1.0 + 3.0 * A) * D2 * D2 / 24.0
        K = 1.0 - A * J * J / 2.0 - B * J * J * J / 6.0
        psi = np.arcsin(np.clip(
            self.sin0 * np.cos(J) + self.cos0 * np.sin(J) * ca, -1.0, 1.0))
        lam = np.arcsin(np.clip(
            np.sin(alpha) * np.sin(J) / np.cos(psi), -1.0, 1.0))
        with np.errstate(invalid="ignore", divide="ignore"):
            phi = np.arctan(
                (1.0 - e2 * K * self.sin0 / np.sin(psi)) * np.tan(psi)
                / (1.0 - e2))
        phi = np.where(np.abs(psi) < 1e-15, 0.0, phi)
        return np.degrees(lam) + self.lon0, np.degrees(phi)


def mae_forward_sql(p: ModifiedAzimuthalEquidistant, rel: str,
                    lon_col: str = "dlon", lat_col: str = "dlat") -> str:
    e2 = p.e2
    return f"""
__c AS (
  SELECT event_id,
    radians({lon_col} - {_fl(p.lon0)}) AS lam,
    radians({lat_col}) AS phi,
    {_fl(p.a)} / sqrt(1.0 - {_fl(e2)} * sin(radians({lat_col})) * sin(radians({lat_col}))) AS nu
  FROM {rel}),
__ps AS (
  SELECT event_id, lam,
    atan((1.0 - {_fl(e2)}) * tan(phi)
         + {_fl(e2)} * {_fl(p.nu0)} * {_fl(p.sin0)} / (nu * cos(phi))) AS psi
  FROM __c),
__al AS (
  SELECT event_id, lam, psi,
    atan2(sin(lam), {_fl(p.cos0)} * tan(psi) - {_fl(p.sin0)} * cos(lam)) AS alpha
  FROM __ps),
__sr AS (
  SELECT event_id, alpha,
    {_fl(p.e * p.cos0)} * cos(alpha) / sqrt(1.0 - {_fl(e2)}) AS H,
    CASE WHEN abs(sin(alpha)) < 1e-12 THEN
      asin(least(greatest({_fl(p.cos0)} * sin(psi) - {_fl(p.sin0)} * cos(psi), -1.0), 1.0))
        * (CASE WHEN cos(alpha) >= 0.0 THEN 1.0 ELSE -1.0 END)
    ELSE
      asin(least(greatest(sin(lam) * cos(psi) / sin(alpha), -1.0), 1.0))
    END AS srad
  FROM __al),
__cc AS (
  SELECT event_id, alpha,
    {_fl(p.nu0)} * srad * (
      1.0 - (srad * srad) * (H * H) * (1.0 - H * H) / 6.0
      + ((srad * srad) * srad / 8.0) * {_fl(p.G)} * H * (1.0 - 2.0 * (H * H))
      + ((srad * srad) * (srad * srad) / 120.0) * ((H * H) * (4.0 - 7.0 * (H * H))
          - 3.0 * {_fl(p.G * p.G)} * (1.0 - 7.0 * (H * H)))
      - ((srad * srad) * (srad * srad) * srad / 48.0) * {_fl(p.G)} * H) AS c
  FROM __sr),
__p AS (
  SELECT event_id,
    {_fl(p.fe)} + c * sin(alpha) AS px,
    {_fl(p.fn)} + c * cos(alpha) AS py
  FROM __cc)"""


class ZonedTransverseMercator:
    """Transverse Mercator Zoned Grid System, EPSG method 9824 — the
    self-zoning UTM-style transform (R/operation/projection/
    ZonedGridSystem.java): the zone derives from longitude, the easting
    is prefixed with the zone number (E = Z*1e6 + 500000 + tm_easting).
    Vectorized per unique zone over the generalized Karney TM kernel."""

    def __init__(self, initial_lon: float = -180.0, zone_width: float = 6.0,
                 k0: float = 0.9996, fe: float = 500000.0, fn: float = 0.0,
                 ellipsoid=WGS84):
        self.initial_lon = float(initial_lon)
        self.zone_width = float(zone_width)
        self.k0, self.fe, self.fn = float(k0), float(fe), float(fn)
        self.ellipsoid = tuple(ellipsoid)
        self.n_zones = int(round(360.0 / zone_width))
        self._tms: dict[int, object] = {}

    def _tm(self, zone: int):
        tm = self._tms.get(zone)
        if tm is None:
            from .datums import TransverseMercator

            a, f = self.ellipsoid
            lon0 = self.initial_lon + (zone - 0.5) * self.zone_width
            # f == 0 is a sphere: inverse flattening infinity
            tm = self._tms[zone] = TransverseMercator(
                0.0, lon0, self.k0, self.fe, self.fn, (a, 1.0 / f if f else np.inf))
        return tm

    def zone_of(self, lon):
        z = np.floor((np.asarray(lon, np.float64) - self.initial_lon)
                     / self.zone_width).astype(np.int64)
        return z % self.n_zones + 1

    def forward(self, lon, lat):
        lon = np.asarray(lon, np.float64)
        lat = np.asarray(lat, np.float64)
        zones = self.zone_of(lon)
        x = np.empty_like(lon)
        y = np.empty_like(lat)
        for z in np.unique(zones):
            m = zones == z
            zx, zy = self._tm(int(z)).forward(lon[m], lat[m])
            x[m] = float(z) * 1e6 + zx
            y[m] = zy
        return x, y

    def inverse(self, x, y):
        x = np.asarray(x, np.float64)
        y = np.asarray(y, np.float64)
        zones = np.floor(x / 1e6).astype(np.int64)
        lon = np.empty_like(x)
        lat = np.empty_like(y)
        for z in np.unique(zones):
            m = zones == z
            lo, la = self._tm(int(z)).inverse(x[m] - float(z) * 1e6, y[m])
            lon[m] = lo
            lat[m] = la
        return lon, lat


def zoned_tm_sql(p: ZonedTransverseMercator, rel: str, zones: list[int],
                 lon_col: str = "dlon", lat_col: str = "dlat") -> str:
    """CTE chain replaying forward() for a window whose points fall in
    ``zones``: per-zone Karney chains (datums.tm_forward_sql with the
    internal CTE names suffixed per zone) unioned with the Z*1e6 easting
    prefix.  The zone rule is floor((lon - initial)/width) %% n + 1 —
    identical expression both sides."""
    from .datums import tm_forward_sql

    parts = [f"""
__zw AS (
  SELECT event_id, {lon_col}, {lat_col},
         CAST(floor(({lon_col} - ({_fl(p.initial_lon)})) / {_fl(p.zone_width)}) AS BIGINT)
           % {p.n_zones} + 1 AS zone
  FROM {rel})"""]
    sels = []
    for z in zones:
        frag = tm_forward_sql(p._tm(int(z)), f"zin{z}", lon_col, lat_col)
        frag = frag.replace("__", f"__z{z}_").lstrip("\n")
        parts.append(f"""
zin{z} AS (SELECT event_id, {lon_col}, {lat_col} FROM __zw WHERE zone = {z}),
{frag}""")
        sels.append(f"SELECT event_id, {float(z)!r}e0 * 1000000.0 + px AS px, py"
                    f" FROM __z{z}_p")
    union = " UNION ALL ".join(sels)
    parts.append(f"""
__p AS ({union})""")
    return ",".join(parts)


class SatelliteTracking:
    """Satellite-Tracking projections (Snyder 1987 chapter 28, spherical —
    no EPSG code; R/operation/projection/SatelliteTracking.java carries
    the same Landsat-era semantics).  All ground tracks of a satellite
    with inclination ``i`` and period ratio ``p2_on_p1`` = P2/P1 plot as
    straight lines.  ``sp2 == -sp1`` selects the CYLINDRICAL form
    (Snyder 28-5..28-8); otherwise the CONIC form (28-9..28-18).

    Latitudes beyond the tracking limit (|phi| > 180 - i for retrograde
    orbits) have no ground track and project to NaN."""

    def __init__(self, lon0: float = 0.0, lat0: float = 0.0,
                 sp1: float = 30.0, sp2: float | None = None,
                 inclination: float = 99.092,
                 p2_on_p1: float = 103.267 / 1440.0,
                 R: float = 6371007.0, fe: float = 0.0, fn: float = 0.0):
        self.lon0, self.lat0 = float(lon0), float(lat0)
        self.sp1 = float(sp1)
        self.sp2 = float(-sp1 if sp2 is None else sp2)
        self.inclination = float(inclination)
        self.q = float(p2_on_p1)
        self.R, self.fe, self.fn = float(R), float(fe), float(fn)
        i = np.radians(inclination)
        self.sin_i, self.cos_i = float(np.sin(i)), float(np.cos(i))
        self.cos2_i = self.cos_i ** 2
        p1 = np.radians(self.sp1)
        c12 = float(np.cos(p1) ** 2)
        self.cosp1 = float(np.cos(p1))
        self.conic = abs(self.sp2 + self.sp1) > 1e-12
        if self.conic:
            L0 = self._L(np.sin(np.radians(lat0)))
            L1 = self._L(np.sin(p1))
            F1 = self._F(c12)
            if abs(self.sp2 - self.sp1) < 1e-12:
                s1 = float(np.sin(p1))
                self.n = (s1 * (self.q * (2.0 * self.cos2_i - c12) - self.cos_i)
                          / (self.q * c12 - self.cos_i))       # Snyder 28-17
            else:
                p2 = np.radians(self.sp2)
                c22 = float(np.cos(p2) ** 2)
                F2 = self._F(c22)
                L2 = self._L(np.sin(p2))
                self.n = float((F2 - F1) / (L2 - L1))          # Snyder 28-10
            self.s0 = float(F1 - self.n * L1)                  # Snyder 28-11
            self.rf = float(self.cosp1 * np.sin(F1) / self.n)  # Snyder 28-12 part
            self.r0 = float(self.rf / np.sin(self.n * L0 + self.s0))
            if not np.isfinite(self.rf) or self.rf == 0.0:
                raise ValueError("invalid standard parallel for the orbit")
        else:
            # cot(F1), Snyder 28-9 without the arctangent
            self.cotF1 = float(np.sqrt(c12 - self.cos2_i)
                               / (self.q * c12 - self.cos_i))
            if not np.isfinite(self.cotF1) or self.cotF1 == 0.0:
                raise ValueError("invalid standard parallel for the orbit")

    def _L(self, sinp):
        lp = -np.arcsin(np.asarray(sinp, np.float64) / self.sin_i)  # 28-2a
        return np.arctan(np.tan(lp) * self.cos_i) - self.q * lp     # 28-3a/4a

    def _F(self, cos2p):
        return float(np.arctan((self.q * cos2p - self.cos_i)
                               / np.sqrt(cos2p - self.cos2_i)))     # 28-9

    def forward(self, lon, lat):
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        phi = np.radians(np.asarray(lat, np.float64))
        with np.errstate(invalid="ignore", divide="ignore"):
            L = self._L(np.sin(phi))
            if not self.conic:
                x = self.R * self.cosp1 * lam
                y = self.R * self.cosp1 * self.cotF1 * L    # 28-6 assembled
                return self.fe + x, self.fn + y
            A = self.n * L + self.s0
            A = np.where(np.sign(A) == np.sign(self.n), A, np.nan)
            inv_rho = np.sin(A) / self.rf                   # 1/rho, 28-12
            th = self.n * lam
            x = self.R * np.sin(th) / inv_rho
            y = self.R * (self.r0 - np.cos(th) / inv_rho)
        return self.fe + x, self.fn + y

    def _phi_from_L(self, L):
        """Invert L(lambda') (Snyder 28-24/28-25, then 28-22).  L is
        strictly monotone in lambda' on (-pi/2, pi/2) (its derivative
        cos_i (1+tan^2)/(1+lambda_t^2) - q keeps one sign), so a
        vectorized bisection always converges — a plain Newton seeded at
        the equator can overshoot past |lambda'| = pi/2 where tan wraps
        and land on a spurious root (caught by the property fuzz)."""
        L = np.asarray(L, np.float64)
        lo = np.full_like(L, -np.pi / 2.0 + 1e-12)
        hi = np.full_like(L, np.pi / 2.0 - 1e-12)

        def g(lp):
            return np.arctan(np.tan(lp) * self.cos_i) - self.q * lp - L

        with np.errstate(invalid="ignore", divide="ignore"):
            increasing = g(hi) > g(lo)
            for _ in range(60):
                mid = 0.5 * (lo + hi)
                gm = g(mid)
                take_lo = (gm < 0.0) == increasing
                lo = np.where(take_lo, mid, lo)
                hi = np.where(take_lo, hi, mid)
            lp = 0.5 * (lo + hi)
            phi = -np.arcsin(np.clip(np.sin(lp) * self.sin_i, -1.0, 1.0))
        return np.where(np.isfinite(L), phi, np.nan)

    def inverse(self, x, y):
        X = (np.asarray(x, np.float64) - self.fe) / self.R
        Y = (np.asarray(y, np.float64) - self.fn) / self.R
        with np.errstate(invalid="ignore", divide="ignore"):
            if not self.conic:
                lam = X / self.cosp1
                L = Y / (self.cosp1 * self.cotF1)
            else:
                u = X / self.rf
                v = (self.r0 - Y) / self.rf
                rho = np.copysign(np.hypot(u, v), self.n)
                lam = np.arctan2(u, v) / self.n
                L = (np.arcsin(1.0 / rho) - self.s0) / self.n  # 28-26
            phi = self._phi_from_L(L)
        return np.degrees(lam) + self.lon0, np.degrees(phi)


def satellite_tracking_cyl_sql(p: SatelliteTracking, rel: str,
                               lon_col: str = "dlon", lat_col: str = "dlat") -> str:
    """Forward SQL replay for the CYLINDRICAL satellite-tracking form:
    lambda' = -asin(sin(phi)/sin i); L = atan(tan(lambda') cos i) - q*lambda';
    x = R cos(phi1) lam; y = R cos(phi1) cot(F1) L."""
    if p.conic:
        raise ValueError("SQL replay covers the cylindrical form")
    return f"""
__lp AS (
  SELECT event_id,
    radians({lon_col} - ({_fl(p.lon0)})) AS lam,
    -asin(sin(radians({lat_col})) / {_fl(p.sin_i)}) AS lp
  FROM {rel}),
__p AS (
  SELECT event_id,
    {_fl(p.fe)} + {_fl(p.R)} * {_fl(p.cosp1)} * lam AS px,
    {_fl(p.fn)} + {_fl(p.R)} * {_fl(p.cosp1)} * {_fl(p.cotF1)}
      * (atan(tan(lp) * {_fl(p.cos_i)}) - {_fl(p.q)} * lp) AS py
  FROM __lp)"""
