"""WKT store — CRS definitions from `.prj`-style text (WKT 1 and WKT 2).

The reference's WKT DataStore reads a text file holding a CRS definition
and exposes it as a referencing object (S/wkt/StoreProvider.java; parsing
delegated to the referencing module's WKT parser, R/io/wkt/).  This module
re-derives that contract against OUR code-based CRS registry
(functions/projections.py): parse WKT 1 (POSC/ESRI keywords) or WKT 2
(ISO 19162 keywords) into the registry's projection kernels, and format
any registry CRS back out as WKT 2.

The element grammar is the published ISO 19162 one: ``KEYWORD[arg, ...]``
with double-quoted strings (doubled-quote escape) and plain numbers;
WKT 1 and WKT 2 differ only in keywords and parameter naming, so one
recursive parser serves both.
"""

from __future__ import annotations

import re

from .projections import (
    GRS80, WGS84, AlbersEqualArea, AzimuthalEquidistant, Gnomonic,
    LambertAzimuthalEqualArea, LambertConformal2SP, Mollweide, Orthographic,
    PolarStereographicA, PolarStereographicB, Robinson, Sinusoidal,
    _Geographic, _TM, _WebMercator, CRS_REGISTRY,
)


class Node:
    """One WKT element: keyword + mixed args (str / float / Node)."""

    __slots__ = ("keyword", "args")

    def __init__(self, keyword: str, args: list):
        self.keyword = keyword.upper()
        self.args = args

    def children(self, *keywords: str):
        ks = {k.upper() for k in keywords}
        return [a for a in self.args if isinstance(a, Node) and a.keyword in ks]

    def child(self, *keywords: str):
        c = self.children(*keywords)
        return c[0] if c else None

    def __repr__(self):
        return f"{self.keyword}[{', '.join(map(repr, self.args))}]"


_TOKEN = re.compile(
    r'\s*(?:("(?:[^"]|"")*")|([A-Za-z_][A-Za-z0-9_]*)|'
    r'([-+]?[0-9]*\.?[0-9]+(?:[eE][-+]?[0-9]+)?)|([\[\](),]))'
)


def parse_wkt(text: str) -> Node:
    """WKT text -> element tree.  Accepts ( ) as [ ] (both are legal)."""
    pos = 0
    tokens: list = []
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if not m:
            if text[pos:].strip() == "":
                break
            raise ValueError(f"bad WKT at {text[pos:pos + 30]!r}")
        pos = m.end()
        s, kw, num, punct = m.groups()
        if s is not None:
            tokens.append(("str", s[1:-1].replace('""', '"')))
        elif kw is not None:
            tokens.append(("kw", kw))
        elif num is not None:
            tokens.append(("num", float(num)))
        else:
            tokens.append(("punct", "[" if punct == "(" else
                           "]" if punct == ")" else punct))

    def element(i: int) -> tuple[Node, int]:
        kind, kw = tokens[i]
        if kind != "kw":
            raise ValueError(f"expected keyword, got {tokens[i]}")
        if tokens[i + 1] != ("punct", "["):
            return Node(kw, []), i + 1  # bare enum keyword (e.g. Cartesian)
        i += 2
        args: list = []
        while True:
            kind, val = tokens[i]
            if kind == "punct" and val == "]":
                return Node(kw, args), i + 1
            if kind == "punct" and val == ",":
                i += 1
                continue
            if kind == "kw":
                node, i = element(i)
                args.append(node)
            else:
                args.append(val)
                i += 1

    node, _ = element(0)
    return node


def _norm(name: str) -> str:
    return re.sub(r"[^a-z0-9]+", " ", name.lower()).strip()


# normalized parameter name (WKT1 snake and WKT2/EPSG prose) -> slot
_PARAM_SLOTS = {
    "standard parallel 1": "sp1",
    "latitude of 1st standard parallel": "sp1",
    "latitude of standard parallel": "sp1",
    "standard parallel 2": "sp2",
    "latitude of 2nd standard parallel": "sp2",
    "latitude of origin": "lat0",
    "latitude of false origin": "lat0",
    "latitude of natural origin": "lat0",
    "latitude of center": "lat0",
    "central meridian": "lon0",
    "longitude of false origin": "lon0",
    "longitude of natural origin": "lon0",
    "longitude of origin": "lon0",
    "longitude of center": "lon0",
    "false easting": "fe",
    "easting at false origin": "fe",
    "false northing": "fn",
    "northing at false origin": "fn",
    "scale factor": "k0",
    "scale factor at natural origin": "k0",
    "scale factor on initial line": "k0",
    "azimuth": "azimuth",
    "azimuth at projection centre": "azimuth",
    "azimuth of initial line": "azimuth",
    "angle from rectified to skew grid": "gamma_c",
    "rectified grid angle": "gamma_c",
    "latitude of projection centre": "latc",
    "longitude of projection centre": "lonc",
    "easting at projection centre": "ec",
    "northing at projection centre": "nc",
    "pseudo standard parallel 1": "sp1",
    "zone width": "zone_width",
    "satellite orbit inclination": "inclination",
    "latitude of 1st point": "lat1p",
    "longitude of 1st point": "lon1p",
    "latitude of 2nd point": "lat2p",
    "longitude of 2nd point": "lon2p",
    "satellite orbital period ratio": "p2_on_p1",
}


def _params_of(node: Node) -> dict:
    out = {}
    for p in node.children("PARAMETER"):
        slot = _PARAM_SLOTS.get(_norm(str(p.args[0])))
        if slot is not None:
            out[slot] = float(p.args[1])
    return out


def _ellipsoid_of(node: Node):
    raw = _ellipsoid_raw_of(node)
    if raw is None:
        return None
    a, invf = raw
    return (a, 0.0 if invf == 0 else 1.0 / invf)


def _ellipsoid_raw_of(node: Node):
    """(a, INVERSE flattening) as written — the datums.py convention, so a
    rebuilt Datum recomputes f = 1/invf bit-identically."""
    el = node.child("ELLIPSOID", "SPHEROID")
    if el is None:
        for c in node.args:
            if isinstance(c, Node):
                e = _ellipsoid_raw_of(c)
                if e is not None:
                    return e
        return None
    return float(el.args[1]), float(el.args[2])


def _datum_ell_of(node: Node):
    """Ellipsoid for a Datum carrying TOWGS84: raw (a, 1/f) as written,
    falling back to WGS84 when the WKT has no ELLIPSOID node (the same
    fallback the projected branches use), and rejecting spherical
    1/f == 0 up front (datums._ell computes f = 1/invf)."""
    from . import datums as D

    raw = _ellipsoid_raw_of(node)
    if raw is None:
        return D.WGS84_E
    a, invf = raw
    if invf == 0:
        raise ValueError(
            "spherical ELLIPSOID (inverse flattening 0) cannot carry a "
            "TOWGS84 datum shift")
    return raw


def _towgs84_of(node: Node):
    """Bursa-Wolf parameters from a TOWGS84 node anywhere under ``node``
    (3- or 7-value forms), or None."""
    t = node.child("TOWGS84")
    if t is None:
        for c in node.args:
            if isinstance(c, Node):
                h = _towgs84_of(c)
                if h is not None:
                    return h
        return None
    v = [float(x) for x in t.args] + [0.0] * 7
    return dict(tx=v[0], ty=v[1], tz=v[2], rx=v[3], ry=v[4], rz=v[5], ds=v[6])


def _id_of(node: Node) -> str | None:
    idn = node.child("ID", "AUTHORITY")
    if idn is None:
        return None
    auth = str(idn.args[0])
    code = idn.args[1]
    code = str(int(code)) if isinstance(code, float) else str(code)
    return f"{auth.upper()}:{code}"


def crs_from_wkt(text: str, prefer_id: bool = True):
    """WKT text -> a registry-compatible projection object.

    If the definition carries an ``ID``/``AUTHORITY`` that the registry
    knows, that entry wins (the reference's EPSG-first resolution);
    otherwise the projection method + parameters are built directly, so a
    `.prj` without an EPSG code still resolves."""
    root = parse_wkt(text)
    if prefer_id:
        code = _id_of(root)
        if code is not None and code in CRS_REGISTRY:
            return CRS_REGISTRY[code]

    if root.keyword in ("GEOGCS", "GEOGCRS", "GEOGRAPHICCRS"):
        hel = _towgs84_of(root)
        if hel is not None:
            from . import datums as D

            return D.GeographicOnDatum(D.Datum(_datum_ell_of(root), hel))
        return _Geographic()
    if root.keyword not in ("PROJCS", "PROJCRS", "PROJECTEDCRS"):
        raise ValueError(f"unsupported WKT root {root.keyword}")

    conv = root.child("CONVERSION")
    meth_holder = conv if conv is not None else root
    meth = meth_holder.child("METHOD", "PROJECTION")
    if meth is None:
        raise ValueError("no projection METHOD in WKT")
    method = _norm(str(meth.args[0]))
    p = _params_of(meth_holder)
    ell = _ellipsoid_of(root) or WGS84
    sp1, sp2 = p.get("sp1", 0.0), p.get("sp2", 0.0)
    lat0, lon0 = p.get("lat0", 0.0), p.get("lon0", 0.0)
    fe, fn = p.get("fe", 0.0), p.get("fn", 0.0)
    hel = _towgs84_of(root)

    def _wrap(kernel):
        if hel is None:
            return kernel
        from . import datums as D

        return D.DatumProjected(kernel, D.Datum(_datum_ell_of(root), hel))

    if "lambert conic conformal" in method or "lambert conformal conic" in method:
        return _wrap(LambertConformal2SP(sp1, sp2, lat0, lon0, fe, fn, ell))
    if "polar stereographic" in method and ("variant a" in method or "k0" in p):
        return PolarStereographicA(p.get("k0", 0.994), lon0, fe, fn,
                                   lat0 < 0, ell)
    if "polar stereographic" in method:
        return PolarStereographicB(sp1 if "sp1" in p else lat0, lon0, fe, fn, ell)
    if "albers" in method:
        return AlbersEqualArea(sp1, sp2, lat0, lon0, fe, fn, ell)
    if "lambert azimuthal equal area" in method:
        return LambertAzimuthalEqualArea(lat0, lon0, fe, fn, ell)
    if "zoned" in method and "transverse mercator" in method:
        from . import proj_tail as PT

        return _wrap(PT.ZonedTransverseMercator(
            p.get("lon0", -180.0), p.get("zone_width", 6.0),
            p.get("k0", 0.9996), fe if fe else 500000.0, fn, ell))
    if "transverse mercator" in method:
        ell_raw = _ellipsoid_raw_of(root)
        k0 = p.get("k0", 0.9996)
        if (k0 == 0.9996 and lat0 == 0.0 and hel is None
                and (ell_raw is None or tuple(ell_raw) == (6378137.0, 298.257223563))):
            return _TM(lon0, fe, fn)  # the WGS84/UTM fast path
        from . import datums as D

        kern = D.TransverseMercator(lat0, lon0, k0, fe, fn,
                                    ell_raw or D.WGS84_E)
        return _wrap(kern)
    if "oblique stereographic" in method:
        from . import datums as D

        kern = D.ObliqueStereographic(lat0, lon0, p.get("k0", 1.0), fe, fn,
                                      _ellipsoid_raw_of(root) or D.WGS84_E)
        return _wrap(kern)
    if ("hotine oblique mercator" in method
            or ("oblique mercator" in method and "swiss" not in method)):
        from . import proj_tail as PT

        variant_b = ("variant b" in method or "center" in method
                     or "centre" in method or "ec" in p or "nc" in p)
        if "two point" in method or ("lat1p" in p and "lat2p" in p):
            return _wrap(PT.ObliqueMercator.from_two_points(
                p.get("latc", lat0), p["lat1p"], p["lon1p"],
                p["lat2p"], p["lon2p"], p.get("k0", 1.0),
                p.get("ec", fe), p.get("nc", fn), ell,
                variant_b=variant_b))
        latc = p.get("latc", lat0)
        lonc = p.get("lonc", lon0)
        az = p.get("azimuth", 0.0)
        kern = PT.ObliqueMercator(
            latc, lonc, az, p.get("gamma_c"), p.get("k0", 1.0),
            p.get("ec", fe), p.get("nc", fn), ell, variant_b=variant_b)
        return _wrap(kern)
    if "equidistant cylindrical" in method or "equirectangular" in method:
        from . import proj_tail as PT

        return _wrap(PT.EquidistantCylindrical(
            p.get("sp1", lat0), lon0, fe, fn, ell))
    if "cylindrical equal area" in method:
        from . import proj_tail as PT

        return _wrap(PT.CylindricalEqualArea(
            p.get("sp1", lat0), lon0, fe, fn, ell))
    if "cassini" in method:
        from . import proj_tail as PT

        return _wrap(PT.CassiniSoldner(lat0, lon0, fe, fn, ell))
    if "polyconic" in method:
        from . import proj_tail as PT

        return _wrap(PT.Polyconic(lat0, lon0, fe, fn, ell))
    if "swiss oblique mercator" in method:
        from . import datums as D

        kern = D.SwissObliqueMercator(lat0, lon0, fe, fn,
                                      _ellipsoid_raw_of(root) or D.WGS84_E)
        return _wrap(kern)
    if "pseudo mercator" in method or "popular visualisation" in method:
        return _WebMercator()
    if "mercator" in method:  # ellipsoidal 9804/9805 (1SP / 2SP / variants)
        from . import proj_tail as PT

        if "variant b" in method or "2sp" in method or "sp1" in p:
            return _wrap(PT.Mercator(1.0, p.get("sp1", lat0), lon0, fe, fn, ell))
        return _wrap(PT.Mercator(p.get("k0", 1.0), None, lon0, fe, fn, ell))
    if "sinusoidal" in method:
        return Sinusoidal(lon0, ell[0])
    if "mollweide" in method:
        return Mollweide(lon0, ell[0])
    if "robinson" in method:
        return Robinson(lon0, ell[0])
    if "orthographic" in method:
        return Orthographic(lat0, lon0, ell[0])
    if "gnomonic" in method:
        return Gnomonic(lat0, lon0, ell[0])
    if "satellite tracking" in method:
        from . import proj_tail as PT

        return PT.SatelliteTracking(
            lon0, lat0, p.get("sp1", 30.0), p.get("sp2"),
            p.get("inclination", 99.092), p.get("p2_on_p1", 103.267 / 1440.0),
            ell[0], fe, fn)
    if "modified azimuthal equidistant" in method:
        from . import proj_tail as PT

        return _wrap(PT.ModifiedAzimuthalEquidistant(lat0, lon0, fe, fn, ell))
    if "azimuthal equidistant" in method:
        return AzimuthalEquidistant(lat0, lon0, ell[0])
    raise ValueError(f"unsupported projection method {method!r}")


def crs_code_of(text: str) -> str | None:
    """WKT text -> its authority code ('EPSG:nnnn') if declared, else None.
    The identifier string GridGeometry carries (the stores' readPRJ
    analog, AsciiGridStore.readPRJ / RawRasterStore.java:446)."""
    return _id_of(parse_wkt(text))


def prj_sidecar_code(data_path: str) -> str | None:
    """Look for ``<base>.prj`` next to a data file; return its CRS code."""
    import os

    base = data_path.rsplit(".", 1)[0]
    p = base + ".prj"
    if not os.path.exists(p):
        return None
    with open(p, "r") as f:
        return crs_code_of(f.read())


def _f(v: float) -> str:
    return repr(int(v)) if float(v) == int(v) else repr(float(v))


def _ellipsoid_wkt(ell) -> str:
    # canonical inverse-flattening literals: parse recomputes f = 1/invf
    # with the exact same expression the registry constants use, so the
    # round trip is bit-identical (1/(1/x) alone is not)
    a, f = ell
    if tuple(ell) == GRS80:
        name, invf_s = "GRS 1980", "298.257222101"
    elif tuple(ell) == WGS84:
        name, invf_s = "WGS 84", "298.257223563"
    elif float(a) == 6378388.0 and float(f) == 1.0 / 297.0:
        name, invf_s = "International 1924", "297.0"
    else:
        name, invf_s = "unnamed", _f(0.0 if f == 0 else 1.0 / f)
    return f'ELLIPSOID["{name}", {_f(a)}, {invf_s}]'


_ELL_RAW_NAMES = {
    (6377563.396, 299.3249646): "Airy 1830",
    (6377397.155, 299.1528128): "Bessel 1841",
    (6378388.0, 297.0): "International 1924",
    (6378137.0, 298.257222101): "GRS 1980",
    (6378137.0, 298.257223563): "WGS 84",
}


def _ellipsoid_wkt_raw(ell_raw) -> str:
    """(a, inverse flattening) — the datums.py convention — serialized with
    the RAW invf literal so parse rebuilds f = 1/invf bit-identically."""
    a, invf = ell_raw
    name = _ELL_RAW_NAMES.get((float(a), float(invf)), "unnamed")
    return f'ELLIPSOID["{name}", {_f(a)}, {_f(invf)}]'


def _towgs84_wkt(datum) -> str:
    """WKT1-convention TOWGS84 node (tx ty tz m, rx ry rz arcsec, ds ppm)
    inside the DATUM — the no-grid-file BursaWolf serialization."""
    p = datum.helmert
    if p is None:
        return ""
    vals = ", ".join(_f(p[k]) for k in ("tx", "ty", "tz", "rx", "ry", "rz", "ds"))
    return f", TOWGS84[{vals}]"


def to_wkt(code: str) -> str:
    """Registry code -> WKT 2 text (the writable side of the WKT store).
    Numbers are repr-formatted, so parse(to_wkt(code)) rebuilds the exact
    same projection parameters.  Non-WGS84 datums serialize their
    Bursa-Wolf parameters as a TOWGS84 node inside the DATUM."""
    from . import datums as D

    crs = CRS_REGISTRY.get(code.upper())
    if crs is None:
        from .projections import _crs

        crs = _crs(code)

    tow = ""
    ell_raw = None
    if isinstance(crs, D.GeographicOnDatum):
        el = _ellipsoid_wkt_raw(crs.datum.ell)
        return (f'GEOGCRS["{code}", DATUM["datum", '
                f'{el}{_towgs84_wkt(crs.datum)}], CS[ellipsoidal, 2], '
                f'ID["{code.split(":")[0]}", {code.split(":")[1]}]]')
    if isinstance(crs, D.DatumProjected):
        tow = _towgs84_wkt(crs.datum)
        crs = crs.proj
    if isinstance(crs, (D.TransverseMercator, D.ObliqueStereographic,
                        D.SwissObliqueMercator)):
        ell_raw = crs.ell

    base = ('BASEGEOGCRS["geographic", DATUM["datum", {el}' + tow + ']]')
    if isinstance(crs, _Geographic):
        return (f'GEOGCRS["{code}", DATUM["datum", '
                f'{_ellipsoid_wkt(WGS84)}], CS[ellipsoidal, 2], '
                f'ID["{code.split(":")[0]}", {code.split(":")[1]}]]')

    def proj(name, method, params, ell):
        el = _ellipsoid_wkt_raw(ell) if ell is ell_raw and ell_raw is not None \
            else _ellipsoid_wkt(ell)
        ps = ", ".join(f'PARAMETER["{k}", {_f(v)}]' for k, v in params)
        tail = code.split(":", 1)[1]
        tail_s = tail if tail.isdigit() else f'"{tail}"'
        return (f'PROJCRS["{name}", {base.format(el=el)}, '
                f'CONVERSION["{name}", METHOD["{method}"], {ps}], '
                f'CS[Cartesian, 2], '
                f'ID["{code.split(":")[0]}", {tail_s}]]')

    if isinstance(crs, D.TransverseMercator):
        return proj(code, "Transverse Mercator", [
            ("Latitude of natural origin", crs.lat0),
            ("Longitude of natural origin", crs.lon0),
            ("Scale factor at natural origin", crs.k0),
            ("False easting", crs.fe),
            ("False northing", crs.fn),
        ], crs.ell)
    if isinstance(crs, D.ObliqueStereographic):
        return proj(code, "Oblique Stereographic", [
            ("Latitude of natural origin", crs.lat0),
            ("Longitude of natural origin", crs.lon0),
            ("Scale factor at natural origin", crs.k0),
            ("False easting", crs.fe),
            ("False northing", crs.fn),
        ], crs.ell)
    if isinstance(crs, D.SwissObliqueMercator):
        return proj(code, "Swiss Oblique Mercator", [
            ("Latitude of natural origin", crs.lat0),
            ("Longitude of natural origin", crs.lon0),
            ("False easting", crs.fe),
            ("False northing", crs.fn),
        ], crs.ell)

    if isinstance(crs, LambertConformal2SP):
        return proj(code, "Lambert Conic Conformal (2SP)", [
            ("Latitude of 1st standard parallel", crs.lat1),
            ("Latitude of 2nd standard parallel", crs.lat2),
            ("Latitude of false origin", crs.lat0),
            ("Longitude of false origin", crs.lon0),
            ("Easting at false origin", crs.fe),
            ("Northing at false origin", crs.fn),
        ], crs.ellipsoid)
    if isinstance(crs, PolarStereographicB):
        return proj(code, "Polar Stereographic (variant B)", [
            ("Latitude of standard parallel", crs.lat_ts),
            ("Longitude of origin", crs.lon0),
            ("False easting", crs.fe),
            ("False northing", crs.fn),
        ], crs.ellipsoid)
    if isinstance(crs, AlbersEqualArea):
        return proj(code, "Albers Equal Area", [
            ("Latitude of 1st standard parallel", crs.lat1),
            ("Latitude of 2nd standard parallel", crs.lat2),
            ("Latitude of false origin", crs.lat0),
            ("Longitude of false origin", crs.lon0),
            ("Easting at false origin", crs.fe),
            ("Northing at false origin", crs.fn),
        ], crs.ellipsoid)
    if isinstance(crs, LambertAzimuthalEqualArea):
        return proj(code, "Lambert Azimuthal Equal Area", [
            ("Latitude of natural origin", crs.lat0),
            ("Longitude of natural origin", crs.lon0),
            ("False easting", crs.fe),
            ("False northing", crs.fn),
        ], crs.ellipsoid)
    if isinstance(crs, _TM):
        return proj(code, "Transverse Mercator", [
            ("Latitude of natural origin", 0.0),
            ("Longitude of natural origin", crs.lon0),
            ("Scale factor at natural origin", 0.9996),
            ("False easting", crs.fe),
            ("False northing", crs.fn),
        ], WGS84)
    if isinstance(crs, PolarStereographicA):
        return proj(code, "Polar Stereographic (variant A)", [
            ("Latitude of natural origin", -90.0 if crs.south else 90.0),
            ("Longitude of origin", crs.lon0),
            ("Scale factor at natural origin", crs.k0),
            ("False easting", crs.fe),
            ("False northing", crs.fn),
        ], crs.ellipsoid)
    if isinstance(crs, Sinusoidal):
        return proj(code, "Sinusoidal", [
            ("Longitude of natural origin", crs.lon0),
        ], (crs.R, 0.0))
    if isinstance(crs, Mollweide):
        return proj(code, "Mollweide", [
            ("Longitude of natural origin", crs.lon0),
        ], (crs.R, 0.0))
    if isinstance(crs, Robinson):
        return proj(code, "Robinson", [
            ("Longitude of natural origin", crs.lon0),
        ], (crs.R, 0.0))
    if isinstance(crs, Orthographic):
        return proj(code, "Orthographic", [
            ("Latitude of natural origin", crs.lat0),
            ("Longitude of natural origin", crs.lon0),
        ], (crs.R, 0.0))
    if isinstance(crs, Gnomonic):
        return proj(code, "Gnomonic", [
            ("Latitude of natural origin", crs.lat0),
            ("Longitude of natural origin", crs.lon0),
        ], (crs.R, 0.0))
    if isinstance(crs, AzimuthalEquidistant):
        return proj(code, "Azimuthal Equidistant", [
            ("Latitude of natural origin", crs.lat0),
            ("Longitude of natural origin", crs.lon0),
        ], (crs.R, 0.0))
    if isinstance(crs, _WebMercator):
        return proj(code, "Popular Visualisation Pseudo Mercator", [
            ("Latitude of natural origin", 0.0),
            ("Longitude of natural origin", 0.0),
            ("False easting", 0.0),
            ("False northing", 0.0),
        ], WGS84)

    from . import proj_tail as PT
    if isinstance(crs, PT.SatelliteTracking):
        return proj(code, "Satellite Tracking", [
            ("Longitude of natural origin", crs.lon0),
            ("Latitude of natural origin", crs.lat0),
            ("Standard parallel 1", crs.sp1),
            ("Standard parallel 2", crs.sp2),
            ("Satellite orbit inclination", crs.inclination),
            ("Satellite orbital period ratio", crs.q),
            ("False easting", crs.fe),
            ("False northing", crs.fn),
        ], (crs.R, 0.0))
    if isinstance(crs, PT.ZonedTransverseMercator):
        return proj(code, "Transverse Mercator Zoned Grid System", [
            ("Longitude of natural origin", crs.initial_lon),
            ("Zone width", crs.zone_width),
            ("Scale factor at natural origin", crs.k0),
            ("False easting", crs.fe),
            ("False northing", crs.fn),
        ], crs.ellipsoid)
    if isinstance(crs, PT.ModifiedAzimuthalEquidistant):
        return proj(code, "Modified Azimuthal Equidistant", [
            ("Latitude of natural origin", crs.lat0),
            ("Longitude of natural origin", crs.lon0),
            ("False easting", crs.fe),
            ("False northing", crs.fn),
        ], crs.ellipsoid)
    if isinstance(crs, PT.Mercator):
        if crs.lat_ts is not None:
            return proj(code, "Mercator (variant B)", [
                ("Latitude of 1st standard parallel", crs.lat_ts),
                ("Longitude of natural origin", crs.lon0),
                ("False easting", crs.fe),
                ("False northing", crs.fn),
            ], crs.ellipsoid)
        return proj(code, "Mercator (variant A)", [
            ("Latitude of natural origin", 0.0),
            ("Longitude of natural origin", crs.lon0),
            ("Scale factor at natural origin", crs.k0),
            ("False easting", crs.fe),
            ("False northing", crs.fn),
        ], crs.ellipsoid)
    if isinstance(crs, PT.EquidistantCylindrical):
        return proj(code, "Equidistant Cylindrical", [
            ("Latitude of 1st standard parallel", crs.lat1),
            ("Longitude of natural origin", crs.lon0),
            ("False easting", crs.fe),
            ("False northing", crs.fn),
        ], crs.ellipsoid)
    if isinstance(crs, PT.CylindricalEqualArea):
        return proj(code, "Lambert Cylindrical Equal Area", [
            ("Latitude of 1st standard parallel", crs.lat_ts),
            ("Longitude of natural origin", crs.lon0),
            ("False easting", crs.fe),
            ("False northing", crs.fn),
        ], crs.ellipsoid)
    if isinstance(crs, PT.CassiniSoldner):
        return proj(code, "Cassini-Soldner", [
            ("Latitude of natural origin", crs.lat0),
            ("Longitude of natural origin", crs.lon0),
            ("False easting", crs.fe),
            ("False northing", crs.fn),
        ], crs.ellipsoid)
    if isinstance(crs, PT.Polyconic):
        return proj(code, "American Polyconic", [
            ("Latitude of natural origin", crs.lat0),
            ("Longitude of natural origin", crs.lon0),
            ("False easting", crs.fe),
            ("False northing", crs.fn),
        ], crs.ellipsoid)
    if isinstance(crs, PT.ObliqueMercator):
        method = ("Hotine Oblique Mercator (variant B)" if crs.variant_b
                  else "Hotine Oblique Mercator (variant A)")
        params = [
            ("Latitude of projection centre", crs.latc),
            ("Longitude of projection centre", crs.lonc),
            ("Azimuth of initial line", crs.azimuth),
            ("Angle from Rectified to Skew Grid", float(__import__("math").degrees(crs.gamma_c))),
            ("Scale factor on initial line", crs.k0),
        ]
        if crs.variant_b:
            params += [("Easting at projection centre", crs.fe),
                       ("Northing at projection centre", crs.fn)]
        else:
            params += [("False easting", crs.fe),
                       ("False northing", crs.fn)]
        return proj(code, method, params, crs.ellipsoid)
    raise ValueError(f"no WKT writer for {type(crs).__name__}")
