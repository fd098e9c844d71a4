"""Datum transformations — the piece of general CRS support that the
closed-form projection families in crs.py deliberately left out.

The reference reaches datum shifts through PROJ (OGRCoordinate-
Transformation, ogr/ogrct.cpp:1822, building a proj pipeline of
+cart / +helmert / +hgridshift steps).  The math itself is public:

* geodetic -> geocentric (ECEF) and back: EPSG Guidance Note 7-2
  (IOGP 373-7-2) section 4.1.1; the reverse uses Bowring's 1976
  closed form (single-shot, sub-mm for |h| < 10 km), so the whole
  pipeline stays branch- and iteration-free and can be written once
  against the crs.py expression backends.
* 7-parameter Helmert, position-vector convention: EPSG method 1033
  (= PROJ +towgs84=tx,ty,tz,rx,ry,rz,ds with the small-angle
  linearized rotation matrix).  The reverse direction follows the
  EPSG-documented convention of negating the parameters (exact to
  ~0.1 mm for real-world parameter magnitudes — documented, same as
  PROJ's +inv on a linearized helmert).
* NTv2-style horizontal grid shift: bilinear interpolation of
  (dlat, dlon) arc-second node values over a regular lat/lon grid,
  longitude shift positive WEST, per the published NTv2 Developer's
  Guide (the format GDAL/PROJ consume as *.gsb).  The sandbox has no
  real .gsb files, so `shift_grid` synthesises a deterministic smooth
  grid from a closed-form node function — the Spark side still runs
  the real scale path (grid as a broadcast-joined table, four corner
  lookups), while the DuckDB oracle evaluates the identical node
  function inline.

Everything is written once against the abstract backend (B) and
instantiated three ways exactly like crs.py: pyspark Columns (pure
JVM whole-stage codegen, no UDF), ANSI SQL strings with identical
association order for the DuckDB oracle, and numpy for the
vertex-array / localref path.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .crs import ELLIPSOIDS, _ColBackend, _NpBackend, _Sql, _SqlBackend

# extra ellipsoids the classic Helmert sets target (same public
# source as crs.ELLIPSOIDS: EPSG registry a / 1/f values)
DATUM_ELLIPSOIDS = dict(
    ELLIPSOIDS,
    airy=(6377563.396, 1.0 / 299.3249646),       # OSGB36
    intl=(6378388.0, 1.0 / 297.0),               # ED50 (Hayford/International)
    krass=(6378245.0, 1.0 / 298.3),              # Pulkovo 1942
)

# published position-vector parameter sets (tx, ty, tz metres;
# rx, ry, rz arc-seconds; ds ppm), keyed by (src, dst) datum name.
# OSGB36 set: Ordnance Survey "A guide to coordinate systems in GB"
# annex B; ED50 set: the standard European mean values.
HELMERT_PRESETS = {
    ("WGS84", "OSGB36"): (-446.448, 125.157, -542.060,
                          -0.1502, -0.2470, -0.8421, 20.4894),
    ("OSGB36", "WGS84"): (446.448, -125.157, 542.060,
                          0.1502, 0.2470, 0.8421, -20.4894),
    ("ED50", "WGS84"): (-87.0, -98.0, -121.0, 0.0, 0.0, 0.0, 0.0),
    ("WGS84", "ED50"): (87.0, 98.0, 121.0, 0.0, 0.0, 0.0, 0.0),
}

DATUM_OF = {"WGS84": "WGS84", "OSGB36": "airy", "ED50": "intl"}

_DEG = 180.0 / math.pi


# ------------------------------------------------------ cart fwd/inv
def geodetic_to_geocentric(B, lon, lat, h, a: float, f: float):
    """(lon, lat deg; h m) -> ECEF (X, Y, Z m). EPSG GN7-2 4.1.1."""
    e2 = f * (2.0 - f)
    lam = B.radians(lon)
    phi = B.radians(lat)
    sphi = B.sin(phi)
    cphi = B.cos(phi)
    n = a / B.sqrt(1.0 - e2 * sphi * sphi)
    x = (n + h) * cphi * B.cos(lam)
    y = (n + h) * cphi * B.sin(lam)
    z = (n * (1.0 - e2) + h) * sphi
    return x, y, z


def geocentric_to_geodetic(B, x, y, z, a: float, f: float):
    """ECEF -> (lon, lat deg; h m), Bowring 1976 single-shot closed
    form (the non-iterative variant PROJ's cart op also starts from;
    sub-mm for terrestrial points)."""
    b = a * (1.0 - f)
    e2 = f * (2.0 - f)
    ep2 = e2 / (1.0 - e2)
    p = B.sqrt(x * x + y * y)
    th = B.atan2(z * a, p * b)
    st = B.sin(th)
    ct = B.cos(th)
    phi = B.atan2(z + ep2 * b * st * st * st, p - e2 * a * ct * ct * ct)
    lam = B.atan2(y, x)
    sphi = B.sin(phi)
    n = a / B.sqrt(1.0 - e2 * sphi * sphi)
    h = p / B.cos(phi) - n
    return lam * _DEG, phi * _DEG, h


# ------------------------------------------------------ helmert
def helmert_position_vector(B, x, y, z, params):
    """EPSG method 1033 (position vector, small-angle linearized):
    [X'] = T + (1+ds) * [1 -rz ry; rz 1 -rx; -ry rx 1] [X]."""
    tx, ty, tz, rx_s, ry_s, rz_s, ds_ppm = params
    rx = math.radians(rx_s / 3600.0)
    ry = math.radians(ry_s / 3600.0)
    rz = math.radians(rz_s / 3600.0)
    s = 1.0 + ds_ppm * 1e-6
    xp = tx + s * (x - rz * y + ry * z)
    yp = ty + s * (rz * x + y - rx * z)
    zp = tz + s * (-ry * x + rx * y + z)
    return xp, yp, zp


def datum_shift(B, lon, lat, h, src: str, dst: str):
    """Full geodetic pipeline src datum -> dst datum:
    cart(src ellipsoid) -> helmert(position vector) -> cart^-1(dst).
    Mirrors PROJ's `+proj=pipeline +step +proj=cart +step
    +proj=helmert ... +step +inv +proj=cart` for +towgs84 datums."""
    sa, sf = DATUM_ELLIPSOIDS[DATUM_OF[src]]
    da, df_ = DATUM_ELLIPSOIDS[DATUM_OF[dst]]
    params = HELMERT_PRESETS[(src, dst)]
    x, y, z = geodetic_to_geocentric(B, lon, lat, h, sa, sf)
    xp, yp, zp = helmert_position_vector(B, x, y, z, params)
    return geocentric_to_geodetic(B, xp, yp, zp, da, df_)


# the three instantiations --------------------------------------------------
def datum_shift_cols(lon: Column, lat: Column, h, src: str, dst: str):
    return datum_shift(_ColBackend, lon, lat, h, src, dst)


def datum_shift_sql(lon_expr: str, lat_expr: str, h_expr: str,
                    src: str, dst: str):
    return datum_shift(_SqlBackend, _Sql(lon_expr), _Sql(lat_expr),
                       _Sql(h_expr), src, dst)


def datum_shift_np(lons, lats, hs, src: str, dst: str):
    return datum_shift(_NpBackend, lons, lats, hs, src, dst)


def geocentric_cols(lon: Column, lat: Column, h, ellps: str = "WGS84"):
    a, f = DATUM_ELLIPSOIDS[ellps]
    return geodetic_to_geocentric(_ColBackend, lon, lat, h, a, f)


def geodetic_cols(x: Column, y: Column, z: Column, ellps: str = "WGS84"):
    a, f = DATUM_ELLIPSOIDS[ellps]
    return geocentric_to_geodetic(_ColBackend, x, y, z, a, f)


def geocentric_sql(lon: str, lat: str, h: str, ellps: str = "WGS84"):
    a, f = DATUM_ELLIPSOIDS[ellps]
    return geodetic_to_geocentric(
        _SqlBackend, _Sql(lon), _Sql(lat), _Sql(h), a, f)


# ------------------------------------------------------ NTv2-style grid
# synthetic subgrid header (NTv2 stores lat0/lon0, node spacing and
# counts per subgrid; shifts in arc-seconds, lon +WEST).  World-wide
# at 0.5 deg = 174k nodes, the size class of a real country-wide .gsb
# (e.g. Canada's NTv2_0) — small enough to always broadcast.
GRID = dict(lat0=-60.0, lon0=-180.0, dlat=0.5, dlon=0.5, ni=241, nj=721)


def _shift_node(B, i, j):
    """Deterministic smooth node function standing in for a .gsb
    payload: (dlat_sec, dlon_sec) at grid node (i, j). Chosen to vary
    on both axes with NAD27->NAD83-like magnitudes (|shift| < 2\")."""
    dlat = 0.9 * B.sin(0.37 * i + 0.11 * j) + 0.2 * B.cos(0.05 * i)
    dlon = 1.1 * B.cos(0.23 * i - 0.07 * j) + 0.15 * B.sin(0.04 * j)
    return dlat, dlon


def shift_grid(spark: SparkSession, g: dict = GRID) -> DataFrame:
    """Materialize the synthetic grid as a (i, j, dlat_sec, dlon_sec)
    table — the shape a parsed .gsb subgrid would land in.  Built with
    pure column math from spark.range, so it is JVM-only and tiny
    (ni*nj rows; NTv2 grids are a few MB -> always broadcastable)."""
    nj = g["nj"]
    d = spark.range(g["ni"] * nj).select(
        (F.col("id") / nj).cast("long").alias("i"),
        (F.col("id") % nj).cast("long").alias("j"),
    )
    dlat, dlon = _shift_node(_ColBackend, F.col("i").cast("double"),
                             F.col("j").cast("double"))
    return d.select("i", "j", dlat.alias("dlat_sec"), dlon.alias("dlon_sec"))


def grid_region_predicate(g: dict = GRID) -> str:
    """SQL predicate keeping points strictly inside the grid (one full
    cell of margin), identical text for the Spark filter and oracle."""
    lat_lo = g["lat0"] + g["dlat"]
    lat_hi = g["lat0"] + (g["ni"] - 2) * g["dlat"]
    lon_lo = g["lon0"] + g["dlon"]
    lon_hi = g["lon0"] + (g["nj"] - 2) * g["dlon"]
    return (f"lat > {lat_lo} AND lat < {lat_hi} AND "
            f"lon > {lon_lo} AND lon < {lon_hi}")


def apply_grid_shift(df: DataFrame, grid: DataFrame,
                     lon_col: str = "lon", lat_col: str = "lat",
                     g: dict = GRID) -> DataFrame:
    """NTv2 hgridshift forward: bilinear interpolation of the four
    surrounding nodes, lat' = lat + dlat/3600, lon' = lon - dlon/3600
    (NTv2 longitude shift is positive west).  The grid joins in as a
    broadcast table four times (one per corner) — at 10^12 input rows
    this stays a map-side-only stage, the grid never shuffles and the
    input never reshuffles.  PROJ equivalent: hgridshift bilinear on
    a .gsb subgrid."""
    lat = F.col(lat_col)
    lon = F.col(lon_col)
    gi = F.floor((lat - g["lat0"]) / g["dlat"])
    gj = F.floor((lon - g["lon0"]) / g["dlon"])
    d = (df
         .withColumn("_gi", gi)
         .withColumn("_gj", gj)
         .withColumn("_fi", (lat - g["lat0"]) / g["dlat"] - F.col("_gi"))
         .withColumn("_fj", (lon - g["lon0"]) / g["dlon"] - F.col("_gj")))
    bg = F.broadcast(grid)
    for di, dj in ((0, 0), (0, 1), (1, 0), (1, 1)):
        corner = bg.select(
            F.col("i").alias("_ci"), F.col("j").alias("_cj"),
            F.col("dlat_sec").alias(f"_a{di}{dj}"),
            F.col("dlon_sec").alias(f"_o{di}{dj}"))
        d = d.join(corner, (F.col("_gi") + di == F.col("_ci")) &
                   (F.col("_gj") + dj == F.col("_cj")), "left").drop(
                       "_ci", "_cj")
    fi = F.col("_fi")
    fj = F.col("_fj")
    w00 = (1.0 - fi) * (1.0 - fj)
    w01 = (1.0 - fi) * fj
    w10 = fi * (1.0 - fj)
    w11 = fi * fj
    dlat = (w00 * F.col("_a00") + w01 * F.col("_a01") +
            w10 * F.col("_a10") + w11 * F.col("_a11"))
    dlon = (w00 * F.col("_o00") + w01 * F.col("_o01") +
            w10 * F.col("_o10") + w11 * F.col("_o11"))
    return (d
            .withColumn("lat_shifted", lat + dlat / 3600.0)
            .withColumn("lon_shifted", lon - dlon / 3600.0)
            .drop("_gi", "_gj", "_fi", "_fj",
                  "_a00", "_a01", "_a10", "_a11",
                  "_o00", "_o01", "_o10", "_o11"))


def grid_shift_sql(lon_expr: str, lat_expr: str,
                   g: dict = GRID) -> tuple[str, str]:
    """Oracle instantiation: the same bilinear formula with the node
    function inlined (no table), association order matching the
    Column path term for term."""
    gi = _Sql(f"FLOOR(({lat_expr} - {g['lat0']}) / {g['dlat']})")
    gj = _Sql(f"FLOOR(({lon_expr} - {g['lon0']}) / {g['dlon']})")
    fi = _Sql(f"(({lat_expr} - {g['lat0']}) / {g['dlat']} - {gi})")
    fj = _Sql(f"(({lon_expr} - {g['lon0']}) / {g['dlon']} - {gj})")
    corners = {}
    for di, dj in ((0, 0), (0, 1), (1, 0), (1, 1)):
        a, o = _shift_node(_SqlBackend,
                           _Sql(f"({gi} + {di})"), _Sql(f"({gj} + {dj})"))
        corners[(di, dj)] = (a, o)
    w = {(0, 0): (1.0 - fi) * (1.0 - fj), (0, 1): (1.0 - fi) * fj,
         (1, 0): fi * (1.0 - fj), (1, 1): fi * fj}
    dlat = (w[(0, 0)] * corners[(0, 0)][0] + w[(0, 1)] * corners[(0, 1)][0]
            + w[(1, 0)] * corners[(1, 0)][0] + w[(1, 1)] * corners[(1, 1)][0])
    dlon = (w[(0, 0)] * corners[(0, 0)][1] + w[(0, 1)] * corners[(0, 1)][1]
            + w[(1, 0)] * corners[(1, 0)][1] + w[(1, 1)] * corners[(1, 1)][1])
    return (_Sql(f"({lon_expr} - {dlon} / 3600.0)"),
            _Sql(f"({lat_expr} + {dlat} / 3600.0)"))


def grid_shift_np(lons, lats, g: dict = GRID):
    """numpy instantiation (localref oracle / vertex arrays)."""
    np = _NpBackend._np
    gi = np.floor((lats - g["lat0"]) / g["dlat"])
    gj = np.floor((lons - g["lon0"]) / g["dlon"])
    fi = (lats - g["lat0"]) / g["dlat"] - gi
    fj = (lons - g["lon0"]) / g["dlon"] - gj
    acc_a = 0.0
    acc_o = 0.0
    for di, dj in ((0, 0), (0, 1), (1, 0), (1, 1)):
        a, o = _shift_node(_NpBackend, gi + di, gj + dj)
        wt = (fi if di else 1.0 - fi) * (fj if dj else 1.0 - fj)
        acc_a = acc_a + wt * a
        acc_o = acc_o + wt * o
    return lons - acc_o / 3600.0, lats + acc_a / 3600.0
