"""Column-level geometry functions over WKT (string) or WKB (binary)
columns — the user surface of OGRGeometry's method suite
(ogr/ogrgeometry.cpp) as Arrow-batched pandas UDFs. Per-feature
geometry work is inherently row-local (the reference iterates
features the same way); distribution comes from Spark's partitioning,
and nothing here shuffles.

    st_area, st_centroid_x/y, st_convex_hull, st_buffer, st_simplify,
    st_make_valid, st_is_valid_shape, st_is_simple, st_is_ring,
    st_boundary, st_point_on_surface_x/y, st_delaunay,
    st_astext / st_aswkb (WKT <-> WKB),
    st_intersection_area, st_distance,
    st_intersection / st_union_geom / st_difference / st_symdifference,
    st_intersects / st_contains / st_within / st_touches / st_overlaps
    / st_equals / st_disjoint / st_crosses,
    st_force_polygon / st_force_multipolygon / st_force_multipoint /
    st_force_multilinestring / st_force_linestring
    (ogrgeometryfactory.cpp forceTo* conversions),
    st_line_interpolate / st_line_locate / st_line_substring
    (ogrlineref linear referencing, apps/ogrlineref.cpp),
    st_segmentize (ogr2ogr -segmentize),
    st_dump (ogr2ogr -explodecollections; array of part WKTs),
    st_wrapdateline (ogr2ogr -wrapdateline; array of split parts)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import geometry as GM


def _udf1(fn, rtype):
    @F.pandas_udf(rtype)
    def u(col: pd.Series) -> pd.Series:
        return pd.Series([fn(GM.geom_of(v)) if v is not None else None for v in col])

    return u


def _udf2(fn, rtype):
    @F.pandas_udf(rtype)
    def u(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                fn(GM.geom_of(x), GM.geom_of(y))
                if x is not None and y is not None
                else None
                for x, y in zip(a, b)
            ]
        )

    return u


st_area = _udf1(lambda g: float(g.area()), T.DoubleType())
st_centroid_x = _udf1(lambda g: GM.centroid(g)[0], T.DoubleType())
st_centroid_y = _udf1(lambda g: GM.centroid(g)[1], T.DoubleType())
st_convex_hull = _udf1(lambda g: GM.to_wkt(GM.convex_hull(g)), T.StringType())
st_make_valid = _udf1(lambda g: GM.to_wkt(GM.make_valid(g)), T.StringType())


def _make_valid_canonical(g):
    v = GM.make_valid(g)
    if v.kind not in ("polygon", "multipolygon"):
        return GM.to_wkt(v)  # non-area kinds pass through untouched
    polys = v.parts if v.kind == "multipolygon" else (
        [v.parts[0]] if v.parts else [])
    from ..boolean import canonical_wkt

    return canonical_wkt(
        [[np.stack([xs, ys], axis=1) for xs, ys in rings]
         for rings in polys if rings], 6)


# MakeValid with deterministic output ordering (canonical ring
# rotation + polygon sort) — the golden-comparable form
st_make_valid_canonical = _udf1(_make_valid_canonical, T.StringType())
st_is_valid_shape = _udf1(GM.is_valid_shape, T.BooleanType())
st_union_cascaded = _udf1(lambda g: GM.to_wkt(GM.union_cascaded(g)), T.StringType())
st_normalize = _udf1(lambda g: GM.to_wkt(GM.normalize(g)), T.StringType())
st_force_polygon = _udf1(lambda g: GM.to_wkt(GM.force_polygon(g)), T.StringType())
st_force_multipolygon = _udf1(
    lambda g: GM.to_wkt(GM.force_multipolygon(g)), T.StringType()
)
st_force_multipoint = _udf1(
    lambda g: GM.to_wkt(GM.force_multipoint(g)), T.StringType()
)
st_force_multilinestring = _udf1(
    lambda g: GM.to_wkt(GM.force_multilinestring(g)), T.StringType()
)
st_force_linestring = _udf1(
    lambda g: GM.to_wkt(GM.force_linestring(g)), T.StringType()
)
st_astext = _udf1(GM.to_wkt, T.StringType())
st_aswkb = _udf1(GM.to_wkb, T.BinaryType())

def st_transform(col, epsg: int, prec: int = 3, inverse: bool = False):
    """Reproject every vertex of a WKT/WKB geometry with the engine's
    closed-form CRS families (crs.CONIC_PRESETS; the
    OGRCoordinateTransformation::Transform whole-geometry path,
    ogr/ogrct.cpp:1822 via ogrgeometry.cpp transform) — numpy over the
    parsed coordinate arrays inside the Arrow batch; geometry
    structure (kind, ring order, vertex order) is preserved."""
    from .. import crs

    # resolve driver-side: synthetic proj4-import codes exist only in
    # the driver's registry (crs.np_transform_fn docstring)
    fn = crs.np_transform_fn(epsg, inverse)

    def tx(g):
        def conv(xs, ys):
            x2, y2 = fn(np.asarray(xs, np.float64),
                        np.asarray(ys, np.float64))
            return np.asarray(x2, np.float64), np.asarray(y2, np.float64)

        if g.kind in ("point", "multipoint", "linestring"):
            parts = [conv(*g.parts[0])] if g.parts else []
        elif g.kind == "multilinestring":
            parts = [conv(*ln) for ln in g.parts]
        elif g.kind == "polygon":
            parts = [[conv(*r) for r in g.parts[0]]] if g.parts else []
        else:  # multipolygon
            parts = [[conv(*r) for r in rings] for rings in g.parts]
        return GM.to_wkt(GM.Geom(g.kind, parts), prec)

    return _udf1(tx, T.StringType())(col)


def st_transform_crs(col, src_epsg: int, dst_epsg: int, prec: int = 3):
    """Whole-geometry reprojection between two PROJECTED CRS (the
    ogr2ogr -s_srs/-t_srs pair; OGRCreateCoordinateTransformation
    composed through geographic, ogr/ogrct.cpp:1822): every vertex
    runs inverse(src) -> WGS84 hub -> forward(dst) with the numpy
    twins of the closed-form families (crs.grid_transform_np)."""
    from .. import crs

    fwd = crs.grid_transform_np(src_epsg, dst_epsg)[0]

    def tx(g):
        def conv(xs, ys):
            x2, y2 = fwd(np.asarray(xs, np.float64),
                         np.asarray(ys, np.float64))
            return np.asarray(x2, np.float64), np.asarray(y2, np.float64)

        if g.kind in ("point", "multipoint", "linestring"):
            parts = [conv(*g.parts[0])] if g.parts else []
        elif g.kind == "multilinestring":
            parts = [conv(*ln) for ln in g.parts]
        elif g.kind == "polygon":
            parts = [[conv(*r) for r in g.parts[0]]] if g.parts else []
        else:  # multipolygon
            parts = [[conv(*r) for r in rings] for rings in g.parts]
        return GM.to_wkt(GM.Geom(g.kind, parts), prec)

    return _udf1(tx, T.StringType())(col)


def _perimeter(g):
    ax, ay, bx, by = g.boundary_segments()
    return float(np.hypot(bx - ax, by - ay).sum())


# boundary length (OGRCurve::get_Length over polygon rings)
st_perimeter = _udf1(_perimeter, T.DoubleType())
st_npoints = _udf1(lambda g: int(g.all_points()[0].shape[0]), T.IntegerType())
# OGRGeometry::CurveToLine / ogr2ogr -nlt CONVERT_TO_LINEAR: curve WKT
# in (CIRCULARSTRING / COMPOUNDCURVE / CURVEPOLYGON / MULTICURVE /
# MULTISURFACE), linearized classic WKT out at the default 4-deg step
st_curve_to_line = _udf1(GM.to_wkt, T.StringType())

st_boundary = _udf1(lambda g: GM.to_wkt(GM.boundary(g)), T.StringType())
st_point_on_surface_x = _udf1(lambda g: GM.point_on_surface(g)[0], T.DoubleType())
st_point_on_surface_y = _udf1(lambda g: GM.point_on_surface(g)[1], T.DoubleType())
st_is_simple = _udf1(GM.is_simple, T.BooleanType())
st_is_ring = _udf1(GM.is_ring, T.BooleanType())


def _delaunay_wkt(g):
    tris = GM.delaunay_triangles(g)
    if not tris:
        return "GEOMETRYCOLLECTION EMPTY"
    return "GEOMETRYCOLLECTION(" + ", ".join(
        "POLYGON(("
        + ", ".join(f"{x:.7f} {y:.7f}" for x, y in list(t) + [t[0]])
        + "))"
        for t in tris
    ) + ")"


# GEOMETRYCOLLECTION of POLYGON triangles, like the reference's
# GEOS-backed DelaunayTriangulation (ogr/ogrgeometry.cpp:5763)
st_delaunay = _udf1(_delaunay_wkt, T.StringType())

st_intersection_area = _udf2(GM.intersection_area, T.DoubleType())
st_distance = _udf2(GM.geom_distance, T.DoubleType())
st_intersects = _udf2(GM.intersects, T.BooleanType())
st_contains = _udf2(GM.contains, T.BooleanType())
st_within = _udf2(GM.within, T.BooleanType())
st_touches = _udf2(GM.touches, T.BooleanType())
st_overlaps = _udf2(GM.overlaps, T.BooleanType())
st_equals = _udf2(GM.equals, T.BooleanType())
st_disjoint = _udf2(GM.disjoint, T.BooleanType())
st_crosses = _udf2(GM.crosses, T.BooleanType())


# ------------------------------------------------- linear referencing
# The ogrlineref app surface (apps/ogrlineref.cpp:1583 -create,
# :1762 -get_pos, :1814 -get_coord, :1859 -get_subline) is built on
# three curve primitives; these are their column forms.


@F.pandas_udf(T.StringType())
def st_line_interpolate(wkt: pd.Series, m: pd.Series) -> pd.Series:
    """Point at measure m along the line (OGRSimpleCurve::Value,
    ogr/ogrlinestring.cpp:1949) as WKT."""
    out = []
    for w, d in zip(wkt, m):
        if w is None or d is None:
            out.append(None)
            continue
        x, y = GM.line_value(GM.geom_of(w), float(d))
        out.append(f"POINT({x:.7f} {y:.7f})")
    return pd.Series(out)


@F.pandas_udf(T.DoubleType())
def st_line_locate(wkt: pd.Series, px: pd.Series, py: pd.Series) -> pd.Series:
    """Measure of the closest point on the line
    (OGRSimpleCurve::Project, ogr/ogrlinestring.cpp:2022)."""
    return pd.Series(
        [
            GM.line_project(GM.geom_of(w), float(x), float(y))
            if w is not None
            else None
            for w, x, y in zip(wkt, px, py)
        ]
    )


@F.pandas_udf(T.DoubleType())
def st_line_length(wkt: pd.Series) -> pd.Series:
    """Line length (OGRSimpleCurve::get_Length) — the same segment
    sum line_sub uses internally, so part cutting clamps exactly."""
    out = []
    for w in wkt:
        if w is None:
            out.append(None)
            continue
        xs, ys = GM._line_coords(GM.geom_of(w))
        out.append(float(np.hypot(np.diff(xs), np.diff(ys)).sum()))
    return pd.Series(out)


def line_parts(df, wkt_col: str, id_col: str, step) -> "pd.DataFrame":
    """ogrlineref -create without a repers file (apps/ogrlineref.cpp
    :1035 CreateParts / :596 CreatePartsFromLineString, simplified to
    uniform measure: no milestone re-scaling): cut each line into
    parts of length `step` with (part, beg, end, scale=1, sub WKT).
    Column-math fan-out (sequence + explode) + the getSubLine kernel —
    each line's parts are produced where the line lives; no shuffle."""
    step = F.lit(step) if isinstance(step, (int, float)) else step
    ln = st_line_length(F.col(wkt_col))
    d = df.withColumn("_len", ln).withColumn(
        "_n", F.ceil(F.col("_len") / step).cast("int")
    )
    d = d.select(
        F.col(id_col), F.col(wkt_col), "_len", step.alias("_step"),
        F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("part"),
    )
    beg = F.col("part").cast("double") * F.col("_step")
    end = F.least(
        F.col("_len"), (F.col("part") + 1).cast("double") * F.col("_step")
    )
    return d.select(
        F.col(id_col), "part",
        beg.alias("beg"), end.alias("end"), F.lit(1.0).alias("scale"),
        st_line_substring(F.col(wkt_col), beg, end).alias("sub"),
    )


@F.pandas_udf(T.StringType())
def st_line_substring(wkt: pd.Series, m0: pd.Series, m1: pd.Series) -> pd.Series:
    """Portion of the line between two measures
    (OGRSimpleCurve::getSubLine, ogr/ogrlinestring.cpp:2076) as WKT;
    NULL for an invalid range, like the reference's nullptr."""
    out = []
    for w, a, b in zip(wkt, m0, m1):
        if w is None or a is None or b is None:
            out.append(None)
            continue
        sub = GM.line_sub(GM.geom_of(w), float(a), float(b))
        out.append(GM.to_wkt(sub) if sub is not None else None)
    return pd.Series(out)


def _boolean_udf(op: str):
    from .. import boolean as BO

    @F.pandas_udf(T.StringType())
    def u(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                BO.boolean_wkt(GM.geom_of(x), GM.geom_of(y), op)
                if x is not None and y is not None
                else None
                for x, y in zip(a, b)
            ]
        )

    return u


# Geometry-VALUED boolean ops (ogr/ogrgeometry.cpp Intersection :4240,
# Union :4359, Difference :4560, SymDifference :4682) — canonical WKT
# out, arbitrary concave / multi-ring / multi-part polygons in.
st_intersection = _boolean_udf("intersection")
st_union_geom = _boolean_udf("union")
st_difference = _boolean_udf("difference")
st_symdifference = _boolean_udf("symdifference")


def st_buffer(col, dist: float, quadsegs: int = 30):
    @F.pandas_udf(T.StringType())
    def u(c: pd.Series) -> pd.Series:
        return pd.Series(
            [
                GM.to_wkt(GM.buffer_geom(GM.geom_of(v), dist, quadsegs))
                if v is not None
                else None
            for v in c]
        )

    return u(col)


def st_buffer_area(col, dist: float, quadsegs: int = 30):
    @F.pandas_udf(T.DoubleType())
    def u(c: pd.Series) -> pd.Series:
        return pd.Series(
            [
                GM.buffer_geom(GM.geom_of(v), dist, quadsegs).area()
                if v is not None
                else None
            for v in c]
        )

    return u(col)


def st_simplify(col, tol: float):
    @F.pandas_udf(T.StringType())
    def u(c: pd.Series) -> pd.Series:
        return pd.Series(
            [
                GM.to_wkt(GM.simplify(GM.geom_of(v), tol)) if v is not None else None
            for v in c]
        )

    return u(col)


def st_dump(col):
    """Collection parts as an array of WKT strings (ogr2ogr
    -explodecollections; explode the result for one row per part)."""
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def u(c: pd.Series) -> pd.Series:
        return pd.Series(
            [
                [GM.to_wkt(p) for p in GM.explode_parts(GM.geom_of(v))]
                if v is not None else None
            for v in c]
        )

    return u(col)


def st_wrapdateline(col):
    """ogr2ogr -wrapdateline as an array of single-part WKTs, each with
    longitudes in [-180, 180] (OGRGeometryFactory::transformWithOptions
    WRAPDATELINE=YES); explode for one row per part."""
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def u(c: pd.Series) -> pd.Series:
        return pd.Series(
            [
                [GM.to_wkt(p) for p in GM.wrapdateline_parts(GM.geom_of(v))]
                if v is not None else None
            for v in c]
        )

    return u(col)


def st_segmentize(col, max_length: float):
    """OGRGeometry::segmentize (ogr/ogrlinestring.cpp:2474) as a
    vectorized UDF: insert evenly spaced vertices so no segment
    exceeds max_length (the reference's floor(sqrt(d2/m2)-1e-2) count
    and both-directions canonicalization preserved)."""
    return _udf1(
        lambda g: GM.to_wkt(GM.segmentize(g, max_length)),
        T.StringType())(col)


def st_segmentize_points(col, max_length: float):
    """segmentize() returning the vertex array numerically (no WKT
    text quantization) — array<struct<x, y>> in vertex order."""
    @F.pandas_udf(T.ArrayType(T.StructType([
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
    ])))
    def u(c: pd.Series) -> pd.Series:
        out = []
        for w in c:
            g = GM.segmentize(GM.parse_wkt(w), max_length)
            xs, ys = g.parts[0]
            out.append([{"x": float(x), "y": float(y)}
                        for x, y in zip(xs, ys)])
        return pd.Series(out)

    return u(col)
