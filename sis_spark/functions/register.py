"""Register the engine's SQLMM surface as Spark SQL functions.

In the reference the SQLMM functions ARE SQL functions — any `Filter` or
query string can call ``ST_Area(geom)`` (F/filter/sqlmm/Registry.java:62
registers all 86 enum constants with the filter factory).  The Spark analog
is ``spark.udf.register``: after ``register_sqlmm(spark)`` the whole surface
works from ``spark.sql(...)`` over WKB columns, e.g.

    spark.sql("SELECT ST_Area(wkb) FROM shapes WHERE ST_IsSimple(wkb)")

Scalar parameters are real SQL arguments where the SQLMM signature has
them: ``ST_Buffer(g, radius)``, ``ST_Simplify(g, tolerance)``,
``ST_TransformCRS(g, src, dst)``.  Only ST_SimplifyPreserveTopology keeps a
fixed-parameter registration (build variants with its factory directly).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import geometry as geo
from . import sqlmm as S
from .overlay import (
    st_difference_line_poly_udf,
    st_intersection_line_line_udf,
    st_intersection_line_poly_udf,
)
from .relate import st_predicate_any_udf, st_relate_any_udf
from .utm import st_transform_utm_udf


def _st_centroid_wkb_udf():
    """SQL-composable ST_Centroid: geometry in, WKB *point* out.

    The Column-API variant (sqlmm.st_centroid_udf) returns a struct(x, y)
    for direct consumption; SQLMM's ST_Centroid returns a geometry
    (SQLMM.java:243), so the SQL-registered surface must stay in WKB for
    expressions like ST_AsText(ST_Centroid(g)) to compose.
    """

    @F.pandas_udf(T.BinaryType())
    def _f(wkb: pd.Series) -> pd.Series:
        out = []
        for b in wkb:
            typ, val = geo.wkb_parse(bytes(b))
            if typ == "point":
                out.append(geo.wkb_point(float(val[0]), float(val[1])))
            else:
                cx, cy = S.polygon_centroid(*val[0])
                out.append(geo.wkb_point(cx, cy))
        return pd.Series(out)

    return _f


def _st_envelope_wkb_udf():
    """SQL-composable ST_Envelope: geometry in, WKB *polygon* out (SQLMM.java:232)."""

    @F.pandas_udf(T.BinaryType())
    def _f(wkb: pd.Series) -> pd.Series:
        out = []
        for b in wkb:
            typ, val = geo.wkb_parse(bytes(b))
            xs, ys = S.geom_coords(typ, val)
            x0, x1 = float(min(xs)), float(max(xs))
            y0, y1 = float(min(ys)), float(max(ys))
            out.append(
                geo.wkb_polygon([([x0, x1, x1, x0, x0], [y0, y0, y1, y1, y0])])
            )
        return pd.Series(out)

    return _f


def _st_buffer_param_udf(n_seg: int = 24):
    """ST_Buffer(geom, radius) with the radius as a SQL argument
    (SQLMM.java:129 signature)."""
    from .overlay import buffer_geometry

    @F.pandas_udf(T.BinaryType())
    def _f(wkb: pd.Series, radius: pd.Series) -> pd.Series:
        out = []
        for b, r in zip(wkb, radius):
            typ, rings = buffer_geometry(*geo.wkb_parse(bytes(b)), float(r), n_seg)
            out.append(geo.wkb_write(typ, rings) if rings else None)
        return pd.Series(out)

    return _f


def _st_simplify_param_udf():
    """ST_Simplify(geom, tolerance) with the tolerance as a SQL argument
    (SQLMM.java:753 signature)."""
    from .sqlmm import simplify_wkb

    @F.pandas_udf(T.BinaryType())
    def _f(wkb: pd.Series, tol: pd.Series) -> pd.Series:
        return pd.Series(
            [simplify_wkb(bytes(b), float(t)) for b, t in zip(wkb, tol)]
        )

    return _f


def _st_transform_crs_udf():
    """ST_TransformCRS(geom, src, dst): any registry CRS pair, geometry in,
    geometry out (ST_Transform.java:63; routing through geographic mirrors
    CoordinateOperationFinder's inverse|>forward path).  src/dst are string
    columns, so the pair can vary per row."""
    from .projections import transform_points

    @F.pandas_udf(T.BinaryType())
    def _f(wkb: pd.Series, src: pd.Series, dst: pd.Series) -> pd.Series:
        out = []
        for b, s, d in zip(wkb, src, dst):
            typ, val = geo.wkb_parse(bytes(b))
            fn = lambda xs, ys: transform_points(xs, ys, str(s), str(d))
            out.append(geo.wkb_write(typ, geo.map_geom_coords(typ, val, fn)))
        return pd.Series(out)

    return _f


def register_sqlmm(spark: SparkSession) -> list[str]:
    """Register the SQL-callable SQLMM surface; returns the names registered."""
    fns = {
        # I/O + constructors
        "ST_Point": S.st_point_udf(),
        "ST_AsText": S.st_astext_udf(),
        "ST_GeomFromText": S.st_geomfromtext_udf(),
        "ST_LineString": S.st_linestring_udf(),
        "ST_MultiPoint": S.st_multipoint_udf(),
        # typed constructors
        **{f"ST_{n}FromText": S.st_typed_fromtext_udf(t) for n, t in [
            ("Point", "point"), ("Line", "linestring"), ("Poly", "polygon"),
            ("MPoint", "multipoint"), ("MLine", "multilinestring"),
            ("MPoly", "multipolygon"), ("GeomColl", "geomcollection")]},
        **{f"ST_{n}FromWKB": S.st_typed_fromwkb_udf(t) for n, t in [
            ("Point", "point"), ("Line", "linestring"), ("Poly", "polygon"),
            ("MPoint", "multipoint"), ("MLine", "multilinestring"),
            ("MPoly", "multipolygon"), ("GeomColl", "geomcollection")]},
        "ST_BdPolyFromWKB": S.st_bdpolyfrom_udf(),
        "ST_BdMPolyFromWKB": S.st_bdpolyfrom_udf(multi=True),
        # accessors / metadata
        "ST_X": S.st_x_udf(),
        "ST_Y": S.st_y_udf(),
        "ST_GeometryType": S.st_geometry_type_udf(),
        "ST_Dimension": S.st_dimension_udf(),
        "ST_CoordDim": S.st_coorddim_udf(),
        "ST_SRID": S.st_srid_udf(),
        "ST_Is3D": S.st_is3d_udf(),
        "ST_IsMeasured": S.st_ismeasured_udf(),
        "ST_IsSimple": S.st_issimple_udf(),
        "ST_ExplicitPoint": S.st_explicitpoint_udf(),
        "ST_NumPoints": S.st_numpoints_udf(),
        "ST_PointN": S.st_pointn_udf(),
        "ST_StartPoint": S.st_startpoint_udf(),
        "ST_EndPoint": S.st_endpoint_udf(),
        "ST_IsClosed": S.st_isclosed_udf(),
        "ST_IsRing": S.st_isring_udf(),
        "ST_ExteriorRing": S.st_exteriorring_udf(),
        "ST_NumInteriorRings": S.st_numinteriorrings_udf(),
        "ST_InteriorRingN": S.st_interiorringn_udf(),
        "ST_NumGeometries": S.st_numgeometries_udf(),
        "ST_GeometryN": S.st_geometryn_udf(),
        # measures
        "ST_Area": S.st_area_udf(),
        "ST_Perimeter": S.st_perimeter_udf(),
        "ST_Length": S.st_length_udf(),
        "ST_Centroid": _st_centroid_wkb_udf(),
        "ST_Envelope": _st_envelope_wkb_udf(),
        "ST_Distance": S.st_distance_udf(),
        # unary constructive
        "ST_ConvexHull": S.st_convexhull_udf(),
        "ST_Boundary": S.st_boundary_udf(),
        "ST_PointOnSurface": S.st_pointonsurface_udf(),
        "ST_Simplify": _st_simplify_param_udf(),         # (geom, tolerance)
        "ST_SimplifyPreserveTopology": S.st_simplify_preserve_udf(0.01),  # fixed-tol
        "ST_Buffer": _st_buffer_param_udf(),             # (geom, radius)
        # binary constructive (polygon-polygon + mixed dimension)
        "ST_Intersection": S.st_overlay_udf("intersection"),
        "ST_Union": S.st_overlay_udf("union"),
        "ST_Difference": S.st_overlay_udf("difference"),
        "ST_SymDifference": S.st_overlay_udf("symdifference"),
        "ST_IntersectionLinePoly": st_intersection_line_poly_udf(),
        "ST_DifferenceLinePoly": st_difference_line_poly_udf(),
        "ST_IntersectionLineLine": st_intersection_line_line_udf(),
        # binary predicates (any simple-geometry pair)
        **{f"ST_{p.capitalize()}": st_predicate_any_udf(p) for p in
           ["intersects", "contains", "within", "overlaps", "equals",
            "disjoint", "touches", "crosses"]},
        "ST_Relate": st_relate_any_udf(),
        # CRS
        "ST_Transform": S.st_transform_udf(),            # 4326 -> 3857
        "ST_TransformCRS": _st_transform_crs_udf(),      # any registry pair
        "ST_TransformUTM": st_transform_utm_udf(),
        # casts
        **{f"ST_To{n}": S.st_cast_udf(f"st_to{n.lower()}") for n in
           ["Point", "Polygon", "MultiPoint", "MultiLine", "MultiPolygon",
            "GeomColl"]},
    }
    for name, fn in fns.items():
        spark.udf.register(name, fn)
    return sorted(fns)
