"""GTX vertical-datum (geoid) grids — NOAA VDatum / PROJ +vgridshift.

Reference:
  - gdal/frmts/raw/gtxdataset.cpp — the layout this module mirrors:
    40-byte big-endian header (ll_lat f64, ll_lon f64, dlat f64,
    dlon f64, nrows i32, ncols i32), then rows SOUTH to north
    (the band is registered with a negative line offset, :292-296);
    float32 since 2009, float64 sniffed from the file size (:276-280);
    nodata -88.8888 (:159); the dataset shifts the origin half a cell
    and flips dlat for the pixel-is-point geotransform (:247-253).
  - the reference APPLIES these grids through PROJ +vgridshift
    (ogr/ogrct.cpp compound/vertical CRS pipelines) and through
    GDALApplyVerticalShiftGrid (alg — see vshift.py for the
    raster-to-raster form). This module is the POINT form: orthometric
    H = ellipsoidal h - N(lon, lat), N bilinear from the grid.

Spark lowering: the geoid model is a small broadcast side (EGM96 at
15' is ~2 MB; even EGM2008 1' is ~150 MB, still broadcastable or
bucketable) while the point table is the 100 TB side — so the apply is
the ntv2.py pattern: clamped-floor cell math in whole-stage codegen,
four broadcast corner joins against the node table, bilinear in
double, ZERO shuffles of the big side.  The same expressions render
to SQL for the DuckDB oracle (localref.sql_geoid_shift).
"""

from __future__ import annotations

import io
import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NODATA = -88.8888


# ------------------------------------------------------------------- I/O
def write_gtx(path_or_buf, values: np.ndarray, *, ll_lat: float,
              ll_lon: float, dlat: float, dlon: float,
              dtype: str = "float32") -> None:
    """values is SOUTH-UP row-major (row 0 = the ll row) — the file's
    own order (gtxdataset.cpp:292 negative line offset)."""
    nrows, ncols = values.shape
    hdr = struct.pack(">4d2i", ll_lat, ll_lon, dlat, dlon, nrows, ncols)
    arr = values.astype(">f4" if dtype == "float32" else ">f8")
    if hasattr(path_or_buf, "write"):
        path_or_buf.write(hdr + arr.tobytes())
    else:
        with open(path_or_buf, "wb") as f:
            f.write(hdr + arr.tobytes())


def read_gtx(path_or_bytes) -> dict:
    """Header + south-up node array; dtype sniffed from the size the
    way the reference does (gtxdataset.cpp:276-280)."""
    if isinstance(path_or_bytes, (bytes, bytearray)):
        raw = bytes(path_or_bytes)
    else:
        with open(path_or_bytes, "rb") as f:
            raw = f.read()
    ll_lat, ll_lon, dlat, dlon, nrows, ncols = struct.unpack(
        ">4d2i", raw[:40])
    n = nrows * ncols
    if len(raw) == 40 + 8 * n:
        vals = np.frombuffer(raw, dtype=">f8", count=n, offset=40)
    elif len(raw) == 40 + 4 * n:
        vals = np.frombuffer(raw, dtype=">f4", count=n, offset=40)
    else:
        raise ValueError(f"GTX size {len(raw)} != header + {n} nodes")
    return {"ll_lat": ll_lat, "ll_lon": ll_lon, "dlat": dlat,
            "dlon": dlon, "nrows": nrows, "ncols": ncols,
            "values": vals.astype(np.float64).reshape(nrows, ncols)}


def grid_df(spark: SparkSession, g: dict) -> DataFrame:
    """(i, j, v) node rows, i south-up — the broadcast side."""
    vals = g["values"]
    rows = [(int(i), int(j), float(vals[i, j]))
            for i in range(g["nrows"]) for j in range(g["ncols"])]
    return spark.createDataFrame(rows, "i int, j int, v double")


# ----------------------------------------------------------------- apply
def _lon_in_frame(lon, ll_lon):
    """GTX grids are usually 0..360; bring lon into the grid frame
    (gtxdataset.cpp SHIFT_ORIGIN handling, inverted)."""
    return F.when(lon < F.lit(ll_lon), lon + 360.0).otherwise(lon)


def apply_geoid(df: DataFrame, spark: SparkSession, g: dict,
                lon_col: str = "lon", lat_col: str = "lat",
                h_col: str = "h", direction: str = "to_orthometric",
                ) -> DataFrame:
    """Bilinear undulation N at each point + the shifted height:
    H = h - N (to_orthometric) or h = H + N (to_ellipsoidal).
    Points outside the grid, or touching a -88.8888 nodata corner,
    get NULL undulation and a passthrough height (PROJ +vgridshift
    errors there; the engine's contract is explicit NULLs instead).
    Plan: cell math in codegen + 4 broadcast corner joins — the point
    table never shuffles."""
    lat0, lon0 = g["ll_lat"], g["ll_lon"]
    dla, dlo = g["dlat"], g["dlon"]
    nrm2, ncm2 = g["nrows"] - 2, g["ncols"] - 2
    lon = _lon_in_frame(F.col(lon_col), lon0)
    lat = F.col(lat_col)
    inside = ((lat >= F.lit(lat0)) &
              (lat <= F.lit(lat0 + (g["nrows"] - 1) * dla)) &
              (lon >= F.lit(lon0)) &
              (lon <= F.lit(lon0 + (g["ncols"] - 1) * dlo)))
    d = (df
         .withColumn("_in", inside)
         .withColumn("_gi", F.least(F.floor((lat - lat0) / dla),
                                    F.lit(nrm2).cast("long")))
         .withColumn("_gj", F.least(F.floor((lon - lon0) / dlo),
                                    F.lit(ncm2).cast("long"))))
    d = (d
         .withColumn("_fi", (lat - lat0) / dla - F.col("_gi"))
         .withColumn("_fj", (lon - lon0) / dlo - F.col("_gj")))
    bg = F.broadcast(grid_df(spark, g))
    for di, dj in ((0, 0), (0, 1), (1, 0), (1, 1)):
        corner = bg.select(F.col("i").alias("_ci"),
                           F.col("j").alias("_cj"),
                           F.col("v").alias(f"_v{di}{dj}"))
        d = d.join(corner,
                   (F.col("_gi") + di == F.col("_ci")) &
                   (F.col("_gj") + dj == F.col("_cj")), "left") \
             .drop("_ci", "_cj")
    fi, fj = F.col("_fi"), F.col("_fj")
    v00, v01 = F.col("_v00"), F.col("_v01")
    v10, v11 = F.col("_v10"), F.col("_v11")
    und = (v00 * (1 - fi) * (1 - fj) + v01 * (1 - fi) * fj
           + v10 * fi * (1 - fj) + v11 * fi * fj)
    bad = (~F.col("_in")
           | (v00 <= NODATA + 1e-4) | (v01 <= NODATA + 1e-4)
           | (v10 <= NODATA + 1e-4) | (v11 <= NODATA + 1e-4))
    und = F.when(bad, F.lit(None).cast("double")).otherwise(und)
    d = d.withColumn("undulation", und)
    h = F.col(h_col)
    if direction == "to_orthometric":
        out = F.when(F.col("undulation").isNull(), h) \
               .otherwise(h - F.col("undulation"))
    elif direction == "to_ellipsoidal":
        out = F.when(F.col("undulation").isNull(), h) \
               .otherwise(h + F.col("undulation"))
    else:
        raise ValueError(direction)
    d = d.withColumn("h_shifted", out)
    return d.drop("_in", "_gi", "_gj", "_fi", "_fj",
                  "_v00", "_v01", "_v10", "_v11")


# ---------------------------------------------------------------- numpy
def geoid_shift_np(lons, lats, hs, g: dict,
                   direction: str = "to_orthometric"):
    """Independent numpy bilinear — tests' second opinion."""
    lons = np.asarray(lons, dtype=np.float64)
    lats = np.asarray(lats, dtype=np.float64)
    hs = np.asarray(hs, dtype=np.float64)
    lat0, lon0, dla, dlo = g["ll_lat"], g["ll_lon"], g["dlat"], g["dlon"]
    lon = np.where(lons < lon0, lons + 360.0, lons)
    inside = ((lats >= lat0) & (lats <= lat0 + (g["nrows"] - 1) * dla)
              & (lon >= lon0) & (lon <= lon0 + (g["ncols"] - 1) * dlo))
    gi = np.minimum(np.floor((lats - lat0) / dla),
                    g["nrows"] - 2).astype(int)
    gj = np.minimum(np.floor((lon - lon0) / dlo),
                    g["ncols"] - 2).astype(int)
    gi = np.clip(gi, 0, g["nrows"] - 2)
    gj = np.clip(gj, 0, g["ncols"] - 2)
    fi = (lats - lat0) / dla - gi
    fj = (lon - lon0) / dlo - gj
    v = g["values"]
    v00, v01 = v[gi, gj], v[gi, gj + 1]
    v10, v11 = v[gi + 1, gj], v[gi + 1, gj + 1]
    und = (v00 * (1 - fi) * (1 - fj) + v01 * (1 - fi) * fj
           + v10 * fi * (1 - fj) + v11 * fi * fj)
    bad = (~inside | (v00 <= NODATA + 1e-4) | (v01 <= NODATA + 1e-4)
           | (v10 <= NODATA + 1e-4) | (v11 <= NODATA + 1e-4))
    und = np.where(bad, np.nan, und)
    sign = -1.0 if direction == "to_orthometric" else 1.0
    out = np.where(np.isnan(und), hs, hs + sign * und)
    return und, out


# ----------------------------------------------------------------- toy
def toy_gtx_bytes(*, nodata_hole: bool = True,
                  dtype: str = "float32") -> bytes:
    """Deterministic EGM-like test grid over a 0..360-frame box that
    crosses the dateline frame shift (ll_lon 210 covers lon -150 west
    of the antimeridian): N(i,j) = ((3i + 7j) % 29) * 0.1 - 1.4, with
    one nodata node to exercise the passthrough contract."""
    ii, jj = np.mgrid[0:25, 0:41]
    vals = (((3 * ii + 7 * jj) % 29) * 0.1 - 1.4).astype(np.float64)
    if nodata_hole:
        vals[10, 13] = NODATA
    buf = io.BytesIO()
    write_gtx(buf, vals, ll_lat=-30.0, ll_lon=210.0, dlat=2.5,
              dlon=2.5, dtype=dtype)
    return buf.getvalue()
