"""Web-Mercator tile / quadkey math as pure Spark Column expressions,
plus exact numpy mirrors used by the local test oracle.

Semantics reproduce the reference's GlobalMercator pyramid
(gdal/swig/python/gdal-utils/osgeo_utils/gdal2tiles.py):
  LatLonToMeters   :356-363   mx = lon*O/180 ; my = ln(tan((90+lat)*pi/360))/(pi/180)*O/180
  MetersToPixels   :383-389   px = (mx+O)/res, res = 2*pi*R/256/2^z   (Resolution :434-438)
  PixelsToTile     :391-396   tx = ceil(px/256)-1
  GoogleTile       :445-449   ty_g = 2^z-1-ty_tms
  QuadTree         :451-466   per-bit digit = tx_bit + 2*ty_g_bit, MSB first

Everything here is whole-stage-codegen-able column arithmetic — no UDFs,
so tile assignment at 10^12 rows is a pure map stage with zero shuffle
and zero Python.

The geodetic index grid (`geo_cell`) is the engine's H3/S2-style cell id
used for spatial-join candidate pruning (role of the shapefile .qix
quadtree, gdal/ogr/ogrsf_frmts/shape/ogrshapelayer.cpp:621, and
cpl_quad_tree.cpp:149): a simple lon/lat grid at a chosen level packs
(level, cx, cy) into one int64 equality-join key.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS = 6378137.0
ORIGIN_SHIFT = 2 * math.pi * EARTH_RADIUS / 2.0  # 20037508.342789244
TILE_SIZE = 256


def resolution(zoom: int) -> float:
    """Meters/pixel at given zoom (gdal2tiles.py:434-438)."""
    return 2 * math.pi * EARTH_RADIUS / TILE_SIZE / (2**zoom)


# ---------------------------------------------------------------- columns
def lonlat_to_meters(lon: Column, lat: Column) -> tuple[Column, Column]:
    """EPSG:4326 -> EPSG:3857 (gdal2tiles.py:356-363)."""
    mx = lon * ORIGIN_SHIFT / 180.0
    my = (
        F.log(F.tan((F.lit(90.0) + lat) * math.pi / 360.0))
        / (math.pi / 180.0)
        * (ORIGIN_SHIFT / 180.0)
    )
    return mx, my


def meters_to_tile_tms(mx: Column, my: Column, zoom: int) -> tuple[Column, Column]:
    """Mercator meters -> TMS tile coords (gdal2tiles.py:383-396)."""
    res = resolution(zoom)
    px = (mx + ORIGIN_SHIFT) / res
    py = (my + ORIGIN_SHIFT) / res
    tx = F.ceil(px / TILE_SIZE).cast("long") - 1
    ty = F.ceil(py / TILE_SIZE).cast("long") - 1
    return tx, ty


def tms_to_google(ty_tms: Column, zoom: int) -> Column:
    """TMS -> Google/XYZ y flip (gdal2tiles.py:445-449)."""
    return F.lit(2**zoom - 1) - ty_tms


def clamp_tile(t: Column, zoom: int) -> Column:
    """Clamp a tile coordinate into [0, 2^zoom - 1]. The raw
    PixelsToTile formula (ceil(px/256)-1, gdal2tiles.py:391-396) yields
    -1 at the exact px=0 domain edge (lon=-180); gdal2tiles never emits
    it because raster pixel CENTERS are never at px=0 — for point
    indexing we clamp so every point gets a valid tile."""
    return F.greatest(F.lit(0).cast("long"), F.least(F.lit(2**zoom - 1).cast("long"), t))


def lonlat_to_tile(lon: Column, lat: Column, zoom: int) -> tuple[Column, Column]:
    """lon/lat -> Google tile (tx, ty) at zoom. Pure column math."""
    mx, my = lonlat_to_meters(lon, lat)
    tx, ty_tms = meters_to_tile_tms(mx, my, zoom)
    return clamp_tile(tx, zoom), clamp_tile(tms_to_google(ty_tms, zoom), zoom)


def quadkey(tx: Column, ty_tms: Column, zoom: int) -> Column:
    """Bing quadkey from TMS tile coords (gdal2tiles.py:451-466).

    digit_i = bit_i(tx) + 2*bit_i(ty_google), MSB first, is the Morton
    interleave of the two coordinates read in base 4: `bin` spells each
    coordinate in binary, `conv` reads those digits as base 4, and the
    sum x4 + 2*y4 cannot carry. One `conv` back to base 4 and an `lpad`
    to `zoom` digits give the key, so the expression has the same size
    at every zoom and stays in whole-stage codegen.
    """
    x4 = F.conv(F.bin(tx), 4, 10).cast("long")
    y4 = F.conv(F.bin(tms_to_google(ty_tms, zoom)), 4, 10).cast("long")
    return F.lpad(F.conv(x4 + y4 * 2, 10, 4), zoom, "0")


def geo_cell(lon: Column, lat: Column, level: int) -> Column:
    """Geodetic index cell id at `level` (2^level x 2^level world grid).

    The candidate-pruning key for spatial joins: equality on geo_cell
    replaces the reference's quadtree probe (cpl_quad_tree.cpp:149).
    """
    n = 1 << level
    cx = F.least(F.floor((lon + 180.0) / 360.0 * n).cast("long"), F.lit(n - 1))
    cy = F.least(F.floor((lat + 90.0) / 180.0 * n).cast("long"), F.lit(n - 1))
    cx = F.greatest(cx, F.lit(0))
    cy = F.greatest(cy, F.lit(0))
    return (F.lit(int(level)).cast("long") * (1 << 52)) + cx * (1 << 26) + cy


# ------------------------------------------------------------- numpy mirror
def np_lonlat_to_meters(lon, lat):
    mx = np.asarray(lon, dtype=np.float64) * ORIGIN_SHIFT / 180.0
    my = (
        np.log(np.tan((90.0 + np.asarray(lat, dtype=np.float64)) * math.pi / 360.0))
        / (math.pi / 180.0)
        * (ORIGIN_SHIFT / 180.0)
    )
    return mx, my


def np_lonlat_to_tile(lon, lat, zoom: int):
    """Google tile (tx, ty) — numpy mirror of lonlat_to_tile (clamped)."""
    mx, my = np_lonlat_to_meters(lon, lat)
    res = resolution(zoom)
    nmax = 2**zoom - 1
    tx = np.ceil((mx + ORIGIN_SHIFT) / res / TILE_SIZE).astype(np.int64) - 1
    ty_tms = np.ceil((my + ORIGIN_SHIFT) / res / TILE_SIZE).astype(np.int64) - 1
    tx = np.clip(tx, 0, nmax)
    ty_tms = np.clip(ty_tms, 0, nmax)
    return tx, nmax - ty_tms


def np_quadkey(tx, ty_tms, zoom: int):
    """Vectorized Bing quadkey (mirror of gdal2tiles.py:451-466)."""
    tx = np.asarray(tx, dtype=np.int64)
    ty_g = (2**zoom - 1) - np.asarray(ty_tms, dtype=np.int64)
    out = np.full(tx.shape, "", dtype=object)
    for i in range(zoom, 0, -1):
        mask = 1 << (i - 1)
        digit = ((tx & mask) != 0).astype(np.int64) + 2 * ((ty_g & mask) != 0).astype(np.int64)
        out = np.char.add(out.astype(str), digit.astype(str)).astype(object)
    return out.astype(str)


def np_geo_cell(lon, lat, level: int):
    n = 1 << level
    cx = np.clip(np.floor((np.asarray(lon) + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    cy = np.clip(np.floor((np.asarray(lat) + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
    return np.int64(level) * (1 << 52) + cx * (1 << 26) + cy


def geo_cell_xy(lon: float, lat: float, level: int) -> tuple[int, int]:
    """Scalar (cx, cy) of the geodetic grid — used by the cover builder."""
    n = 1 << level
    cx = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
    cy = min(max(int(math.floor((lat + 90.0) / 180.0 * n)), 0), n - 1)
    return cx, cy


def pack_geo_cell(cx: int, cy: int, level: int) -> int:
    return level * (1 << 52) + cx * (1 << 26) + cy
