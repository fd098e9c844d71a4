"""Compound CRS pipelines — real-world EPSG codes whose PROJ pipeline
is datum step + projection step, composed from datum.py and crs.py.

These are the transforms the reference performs when both a datum
shift and a projection are in play (ogr/ogrct.cpp:1822 builds e.g.
`+proj=pipeline +step +inv +proj=longlat +towgs84=... +step
+proj=tmerc ...`).  Two marquee pipelines:

* EPSG:4326 -> EPSG:27700 (British National Grid): position-vector
  Helmert WGS84->OSGB36 (datum.py), then Transverse Mercator on
  Airy 1830 with the published OSGB parameters (lat0 49N, lon0 2W,
  k0 0.9996012717, FE 400000, FN -100000 — OS "A guide to coordinate
  systems in Great Britain" annex C).  The non-zero latitude of
  origin enters as a constant meridian-arc offset folded into the
  false northing, so the crs.py Snyder TM forms apply unchanged.
* NAD27 -> NAD83 UTM: NTv2-style horizontal grid shift (datum.py's
  broadcast-join bilinear — PROJ hgridshift), then UTM on GRS80.
  This is the classic North-American pipeline GDAL users hit through
  `gdalwarp -s_srs EPSG:4267 -t_srs EPSG:269xx`.

Same three instantiations as everywhere else: Columns (JVM codegen),
SQL strings for the DuckDB oracle, numpy for vertex arrays."""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import datum
from .crs import (_ColBackend, _NpBackend, _Sql, _SqlBackend, _m_of,
                  _tm_forward, _tm_inverse)

# EPSG:27700 projection constants (on Airy 1830)
_BNG_A, _BNG_F = datum.DATUM_ELLIPSOIDS["airy"]
_BNG_K0 = 0.9996012717
_BNG_LON0 = -2.0
_BNG_LAT0 = 49.0
_BNG_FE = 400000.0
_BNG_FN = -100000.0
# fold the latitude-of-origin meridian arc into the false northing:
# northing = FN + k0*(M(phi) - M(phi0)) + ...  ==  [FN - k0*M0] + k0*M + ...
_BNG_E2 = _BNG_F * (2.0 - _BNG_F)
_BNG_M0 = _BNG_A * _m_of(_BNG_E2, math.radians(_BNG_LAT0))
_BNG_FN_EFF = _BNG_FN - _BNG_K0 * _BNG_M0


def bng_forward(B, lon, lat):
    """WGS84 lon/lat degrees -> EPSG:27700 easting/northing metres."""
    lon_os, lat_os, _ = datum.datum_shift(B, lon, lat, 0.0,
                                          "WGS84", "OSGB36")
    return _tm_forward(B, lon_os, lat_os, _BNG_LON0, _BNG_A, _BNG_F,
                       k0=_BNG_K0, false_e=_BNG_FE, false_n=_BNG_FN_EFF)


def bng_inverse(B, e, n):
    """EPSG:27700 -> WGS84 lon/lat degrees (TM inverse on Airy, then
    the reverse Helmert)."""
    lon_os, lat_os = _tm_inverse(B, e, n, _BNG_LON0, _BNG_A, _BNG_F,
                                 k0=_BNG_K0, false_e=_BNG_FE,
                                 false_n=_BNG_FN_EFF)
    lon, lat, _ = datum.datum_shift(B, lon_os, lat_os, 0.0,
                                    "OSGB36", "WGS84")
    return lon, lat


def bng_forward_cols(lon: Column, lat: Column):
    """Fused Column pipeline. WARNING: composing datum + TM in one
    expression tree multiplies shared subexpressions through Catalyst
    codegen (the inverse over a fused forward is minutes of janino
    compile). Use `to_bng` / `from_bng`, which stage one Project per
    pipeline step, everywhere a DataFrame is at hand."""
    return bng_forward(_ColBackend, lon, lat)


def to_bng(df: DataFrame, lon_col: str = "lon", lat_col: str = "lat",
           keep: list[str] | None = None) -> DataFrame:
    """WGS84 -> EPSG:27700 as a staged plan: one Project per pipeline
    step (datum shift, then TM) so each codegen unit stays bounded —
    the plan is still a single map stage, no shuffle, no UDF."""
    keep = keep if keep is not None else [
        c for c in df.columns if c not in (lon_col, lat_col)]
    lon_os, lat_os, _ = datum.datum_shift_cols(
        F.col(lon_col), F.col(lat_col), F.lit(0.0), "WGS84", "OSGB36")
    s = df.select(*keep, F.col(lon_col), F.col(lat_col),
                  lon_os.alias("_lon_os"), lat_os.alias("_lat_os"))
    e, n = _tm_forward(_ColBackend, F.col("_lon_os"), F.col("_lat_os"),
                       _BNG_LON0, _BNG_A, _BNG_F, k0=_BNG_K0,
                       false_e=_BNG_FE, false_n=_BNG_FN_EFF)
    return s.select(*keep, F.col(lon_col), F.col(lat_col),
                    e.alias("easting"), n.alias("northing"))


def from_bng(df: DataFrame, e_col: str = "easting",
             n_col: str = "northing",
             keep: list[str] | None = None) -> DataFrame:
    """EPSG:27700 -> WGS84, staged like `to_bng` (TM inverse, then the
    reverse Helmert), adding lon_wgs84 / lat_wgs84."""
    keep = keep if keep is not None else list(df.columns)
    lon_i, lat_i = _tm_inverse(_ColBackend, F.col(e_col), F.col(n_col),
                               _BNG_LON0, _BNG_A, _BNG_F, k0=_BNG_K0,
                               false_e=_BNG_FE, false_n=_BNG_FN_EFF)
    s = df.select(*keep, lon_i.alias("_lon_i"), lat_i.alias("_lat_i"))
    lon, lat, _ = datum.datum_shift_cols(
        F.col("_lon_i"), F.col("_lat_i"), F.lit(0.0), "OSGB36", "WGS84")
    return s.select(*keep, lon.alias("lon_wgs84"), lat.alias("lat_wgs84"))


def bng_forward_sql(lon_expr: str, lat_expr: str):
    """Monolithic SQL instantiation. NOTE: textual expansion of the
    full pipeline is multiplicative — for an oracle query prefer the
    staged step builders below with one CTE per step."""
    return bng_forward(_SqlBackend, _Sql(lon_expr), _Sql(lat_expr))


def bng_tm_forward_sql(lon_expr: str, lat_expr: str):
    """Projection step only: OSGB36 geodetic -> grid metres."""
    return _tm_forward(_SqlBackend, _Sql(lon_expr), _Sql(lat_expr),
                       _BNG_LON0, _BNG_A, _BNG_F, k0=_BNG_K0,
                       false_e=_BNG_FE, false_n=_BNG_FN_EFF)


def bng_tm_inverse_sql(e_expr: str, n_expr: str):
    """Projection step only: grid metres -> OSGB36 geodetic."""
    return _tm_inverse(_SqlBackend, _Sql(e_expr), _Sql(n_expr),
                       _BNG_LON0, _BNG_A, _BNG_F, k0=_BNG_K0,
                       false_e=_BNG_FE, false_n=_BNG_FN_EFF)


def bng_forward_np(lons, lats):
    return bng_forward(_NpBackend, lons, lats)


# ---------------------------------------------------- NAD27 -> NAD83 UTM
def nad27_utm_cols(df: DataFrame, grid: DataFrame, zone: int,
                   lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """NAD27 lon/lat -> NAD83 UTM: grid shift via the broadcast-join
    bilinear path (the real scale plan), then GRS80 UTM column math.
    Adds lon_nad83 / lat_nad83 / easting / northing."""
    a, f = datum.DATUM_ELLIPSOIDS["GRS80"]
    d = datum.apply_grid_shift(df, grid, lon_col=lon_col, lat_col=lat_col)
    d = d.withColumnRenamed("lon_shifted", "lon_nad83") \
         .withColumnRenamed("lat_shifted", "lat_nad83")
    e, n = _tm_forward(_ColBackend, F.col("lon_nad83"), F.col("lat_nad83"),
                       float(zone * 6 - 183), a, f)
    return d.withColumn("easting", e).withColumn("northing", n)


def nad27_utm_sql(lon_expr: str, lat_expr: str, zone: int):
    """Oracle instantiation: inline node-function grid shift feeding
    the identical UTM expression tree."""
    a, f = datum.DATUM_ELLIPSOIDS["GRS80"]
    glon, glat = datum.grid_shift_sql(lon_expr, lat_expr)
    e, n = _tm_forward(_SqlBackend, _Sql(glon), _Sql(glat),
                       float(zone * 6 - 183), a, f)
    return glon, glat, e, n


def nad27_utm_np(lons, lats, zone: int):
    a, f = datum.DATUM_ELLIPSOIDS["GRS80"]
    glon, glat = datum.grid_shift_np(lons, lats)
    e, n = _tm_forward(_NpBackend, glon, glat, float(zone * 6 - 183), a, f)
    return glon, glat, e, n
