"""Spatial joins: point-in-polygon (the benchmark op) and kNN support.

PIP join = the reference's spatial-filter / overlay candidate pattern
(OGRLayer::FilterGeometry 3-stage test, generic/ogrlayer.cpp:1357;
overlay Intersection's per-feature pushdown, :2128-2198) restated as:

  zones --(driver build, CSR numpy)--> broadcast PackedCover (index.py)
  docs  --(ONE Arrow UDF: parse WKT -> rep point -> cell lookup in
           the broadcast -> bbox reject -> exact PIP)--> matches

The whole join is a single map stage: no shuffle, no join, no row
duplication, no per-row Python, and the only cross-task data movement
is the broadcast index itself (megabytes, once per executor). Left /
first-match semantics reproduce OGR SQL's one-to-first-match LEFT JOIN
(ogr_sql_dialect.rst:483-490); 'all' mode reproduces the overlay join's
every-intersecting-pair semantics (generic/ogrlayer.cpp:2062).

Span-order invariant: `spans` stays a nested array column on the row
through the join — shuffles (there are none here anyway) cannot reorder
it (SURVEY.md §1.1).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import geomlite as G
from . import index as IX
from .cells import np_geo_cell


def geom_wkt_col():
    """The first 'geom' span's WKT (NULL when there is none or `spans`
    is NULL). `array_position` over the spans' kind array finds it, so
    the lookup compiles into whole-stage codegen — no lambda."""
    pos = F.array_position(F.col("spans.kind"), "geom")
    return F.get(F.col("spans"), pos - 1)["text"]


_POINT_RE = r"^POINT\(([-0-9.eE+]+) ([-0-9.eE+]+)\)$"


def _with_point_parse(docs: DataFrame) -> DataFrame:
    """docs plus geom_wkt and the POINT fast path: _plon/_plat are a
    POINT WKT's coordinates, extracted JVM-side by codegen'd regexp +
    cast (NULL for any other geometry), and _pwkt keeps the WKT of only
    the rows that missed, the minority whose text ships through Arrow.
    geom_wkt gets its own projection, which the optimizer keeps (its
    four uses below are not cheap to inline), so the span lookup runs
    once per row in the scan's codegen stage and the UDF's input rows
    carry the WKT rather than the whole spans array."""
    if "geom_wkt" not in docs.columns:
        docs = docs.withColumn("geom_wkt", geom_wkt_col())
    wkt = F.col("geom_wkt")
    plon = F.regexp_extract(wkt, _POINT_RE, 1).cast("double")
    plat = F.regexp_extract(wkt, _POINT_RE, 2).cast("double")
    return docs.withColumns({"_plon": plon, "_plat": plat, "_pwkt": F.when(plon.isNull(), wkt)})


def _splice(df: DataFrame, struct: str, fields: list, drop: tuple = ()) -> DataFrame:
    """One projection that lifts `struct`'s fields to top-level columns:
    a field named like an existing column replaces it in place, the
    others follow in field order; `struct` and `drop` go. Plain names,
    not Column calls: a name costs a few py4j round trips on the driver, a
    Column call about a dozen."""
    keep = [c for c in df.columns if c != struct and c not in drop]
    out = [f"{struct}.{c}" if c in fields else "`" + c.replace("`", "``") + "`" for c in keep]
    return df.select(*out, *(f"{struct}.{f}" for f in fields if f not in keep))


def _fill_poly_rows(lon: np.ndarray, lat: np.ndarray, raw: pa.Array) -> dict:
    """Rows whose lon is NaN carry a non-point (or missing) WKT in
    `raw`: parse them Python-side (bounded minority), fill their rep
    point (vertex mean via sequential np.add.reduce — matches the
    oracle's fold order, SURVEY.md §7.4) in place, and return the
    sparse {row: (xs, ys)} dict. Point rows never touch Python: the JVM
    already extracted their coordinates with codegen'd regexp + cast
    (both sides parse decimal -> nearest double, so parity holds)."""
    polys: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    miss = np.where(np.isnan(lon))[0]
    if len(miss):
        gxs, gys = G.parse_wkt_objs(raw.take(miss).to_pylist())
        for k, i in enumerate(miss):
            xs, ys = gxs[k], gys[k]
            n = len(xs)
            if n == 1:  # POINT the fast path didn't match (odd spacing)
                lon[i] = xs[0]
                lat[i] = ys[0]
            elif n > 1:
                lon[i] = np.add.reduce(xs) / n
                lat[i] = np.add.reduce(ys) / n
                polys[int(i)] = (xs, ys)
            else:
                polys[int(i)] = (xs, ys)  # empty geom -> never matches
    return polys


_GEOM = T.StructType(
    [
        T.StructField("gx", T.ArrayType(T.DoubleType())),
        T.StructField("gy", T.ArrayType(T.DoubleType())),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
    ]
)


def _geom_struct(xs: list, ys: list) -> pa.StructArray:
    """The shared tail of extract_geom / extract_geom_wkb: per-row vertex
    arrays -> gx/gy list columns (one flat buffer + offsets) and the rep
    point, the vertex mean by sequential np.add.reduce (the oracle's
    fold order) — NULL for a missing or empty geometry."""
    off = np.zeros(len(xs) + 1, dtype=np.int32)
    np.cumsum([len(a) for a in xs], out=off[1:])

    def lists(vs):
        return pa.ListArray.from_arrays(off, pa.array(np.concatenate([np.empty(0), *vs])))

    def rep(vs):
        mean = [np.add.reduce(a) / len(a) if len(a) else np.nan for a in vs]
        return pa.array(np.array(mean, dtype=np.float64), from_pandas=True)

    return pa.StructArray.from_arrays(
        [lists(xs), lists(ys), rep(xs), rep(ys)], names=_GEOM.fieldNames()
    )


def _with_geom(docs: DataFrame, parsed) -> DataFrame:
    return _splice(docs.withColumn("_g", parsed), "_g", _GEOM.fieldNames())


def extract_geom(docs: DataFrame) -> DataFrame:
    """Pull geometry out of spans, parse to vertex arrays + rep point in
    one Arrow UDF batch. Used by operators that need the vertex columns
    JVM-side (kNN, tiling); pip_join fuses this work into its own UDF."""
    docs = docs.withColumn("geom_wkt", geom_wkt_col())

    @F.arrow_udf(_GEOM)
    def parse_wkt(wkt: pa.Array) -> pa.Array:
        return _geom_struct(*G.parse_wkt_batch(wkt.to_numpy(zero_copy_only=False)))

    return _with_geom(docs, parse_wkt(F.col("geom_wkt")))


def extract_geom_wkb(docs: DataFrame, wkb_col: str = "geom_wkb") -> DataFrame:
    """WKB (binary) counterpart of extract_geom — SURVEY §1.1 declares
    WKB the canonical geometry encoding, so the join path must consume
    it without a WKT round trip. 2-D little-endian POINTs (the 21-byte
    common case) unpack directly; other types go through the full WKB
    reader. Output columns match extract_geom (gx, gy, lon, lat), so
    pip_join's prepared path runs unchanged."""
    import struct

    from . import geometry as GM

    @F.arrow_udf(_GEOM)
    def parse(bs: pa.Array) -> pa.Array:
        xs, ys = [], []
        for v in bs.to_pylist():
            if v is None:
                x = y = np.empty(0)
            elif len(v) == 21 and v[0] == 1 and v[1:5] == b"\x01\x00\x00\x00":
                x, y = (np.array([c]) for c in struct.unpack_from("<2d", v, 5))
            else:
                x, y = GM.parse_wkb(v).all_points()
            xs.append(x)
            ys.append(y)
        return _geom_struct(xs, ys)

    return _with_geom(docs, parse(F.col(wkb_col)))


_POINT_FIELDS = [
    T.StructField("lon", T.DoubleType()),
    T.StructField("lat", T.DoubleType()),
]

_PAIR = [
    T.StructField("zone_id", T.LongType()),
    T.StructField("eas_id", T.LongType()),
]

_MATCH_FIELDS = {
    "first": _PAIR,
    "all": [T.StructField("_matches", T.ArrayType(T.StructType(_PAIR)))],
}


def _coords(a: pa.Array) -> np.ndarray:
    """float64 copy of an Arrow double column, NULL -> NaN; writable,
    because _fill_poly_rows fills polygon rows in place."""
    return a.to_numpy(zero_copy_only=False, writable=True)


def _polys_from_lists(gx: pa.ListArray, gy: pa.ListArray) -> dict:
    """Sparse {row: (xs, ys)} for rows whose vertex list is not a single
    point, sliced out of the list offsets (extract_geom output carries
    gx/gy as list columns; a NULL list is an empty geometry)."""
    xo, yo = gx.offsets.to_numpy(), gy.offsets.to_numpy()
    xv, yv = gx.values.to_numpy(), gy.values.to_numpy()
    n = gx.value_lengths().fill_null(0).to_numpy()
    return {
        int(i): (xv[xo[i] : xo[i] + n[i]], yv[yo[i] : yo[i] + n[i]])
        for i in np.flatnonzero(n != 1)
    }


def _match_arrays(cov, level: int, mode: str, lon, lat, polys) -> list:
    """The mode adapter: rep point -> cell -> staged match, returned as
    the Arrow columns of _MATCH_FIELDS[mode]. 'first' masks the -1
    sentinel to NULL; 'all' wraps the kernel's CSR output in a ListArray
    directly — no Python object per row or per hit."""
    cell = np_geo_cell(np.nan_to_num(lon, nan=-999.0),
                       np.nan_to_num(lat, nan=-999.0), level)
    cell[np.isnan(lon)] = -1
    if mode == "first":
        zone, eas = IX.first_match_packed(cov, cell, lon, lat, polys)
        miss = zone < 0
        return [pa.array(zone, mask=miss), pa.array(eas, mask=miss)]
    off, zone, eas = IX.all_matches_packed(cov, cell, lon, lat, polys)
    pairs = pa.StructArray.from_arrays([zone, eas], names=[f.name for f in _PAIR])
    return [pa.ListArray.from_arrays(off.astype(np.int32), pairs)]


def _make_pip_udf(bc, level: int, mode: str, prepared: bool):
    """One Arrow UDF runs rep point -> cell -> staged match against the
    broadcast PackedCover. Fused (prepared=False): point coordinates
    arrive pre-extracted by JVM codegen (pip_join) and only the minority
    polygon rows ship their WKT into Python; the struct also returns the
    filled rep point. Prepared: the inputs are extract_geom's lon/lat/
    gx/gy columns, so nothing is re-parsed. Arrow traffic: two doubles
    plus a rarely-non-null string (or the vertex lists) in, one small
    struct out — candidate data never rides on document rows."""
    fields = _MATCH_FIELDS[mode] if prepared else _POINT_FIELDS + _MATCH_FIELDS[mode]
    rtype = T.StructType(fields)
    names = rtype.fieldNames()

    def struct(lon, lat, polys) -> pa.StructArray:
        arrs = _match_arrays(bc.value, level, mode, lon, lat, polys)
        if not prepared:
            arrs = [pa.array(lon, from_pandas=True),
                    pa.array(lat, from_pandas=True)] + arrs
        return pa.StructArray.from_arrays(arrs, names=names)

    if prepared:

        @F.arrow_udf(rtype)
        def pip_prepared(
            lon: pa.Array, lat: pa.Array, gx: pa.Array, gy: pa.Array
        ) -> pa.Array:
            return struct(_coords(lon), _coords(lat), _polys_from_lists(gx, gy))

        return pip_prepared

    @F.arrow_udf(rtype)
    def pip_fused(plon: pa.Array, plat: pa.Array, pwkt: pa.Array) -> pa.Array:
        lon, lat = _coords(plon), _coords(plat)
        return struct(lon, lat, _fill_poly_rows(lon, lat, pwkt))

    return pip_fused


def pip_join(docs: DataFrame, zindex: IX.ZoneIndex, mode: str = "first") -> DataFrame:
    """Join documents to zones by geometric intersection.

    docs: the raw document table (spans nested) OR extract_geom output.
    zindex: index.zone_index(...) — the broadcast PackedCover.
    mode 'first': one row per doc, first (lowest zone_id) match, NULLs
      when none — OGR SQL LEFT JOIN semantics (ogr_sql_dialect.rst:490).
    mode 'all': one row per intersecting pair, NULL row when none —
      overlay-join semantics (generic/ogrlayer.cpp:2062).

    One engine: one Arrow UDF over the broadcast cover, map-only, no
    shuffle. POINT rows arrive as coordinates parsed by JVM codegen
    (`_with_point_parse`); any other geometry ships its WKT.
    """
    if mode not in ("first", "all"):
        raise ValueError(f"mode must be 'first' or 'all', got {mode}")

    if "gx" in docs.columns:  # pre-extracted geometry path
        src, prepared, args = docs, True, ("lon", "lat", "gx", "gy")
    else:  # fused path: parse + locate + match in one UDF
        src, prepared, args = _with_point_parse(docs), False, ("_plon", "_plat", "_pwkt")
    udf = _make_pip_udf(zindex.bc, zindex.level, mode, prepared)
    j = _splice(src.withColumn("_m", udf(*args)), "_m", udf.returnType.fieldNames(),
                drop=("_plon", "_plat", "_pwkt"))
    if mode == "first":
        return j
    ex = j.select("*", F.explode_outer("_matches").alias("_e"))
    return _splice(ex, "_e", ["zone_id", "eas_id"], drop=("_matches",))
