"""Golden Software (Surfer) binary grid drivers: GSBG (Surfer 6) and
GS7BG (Surfer 7).

Reference:
  - gdal/frmts/gsg/gsbgdataset.cpp — `DSBB` magic, 56-byte header
    (i16 nx, i16 ny, then LE doubles minX maxX minY maxY minZ maxZ,
    :511-650), float32 samples, rows stored BOTTOM-UP (IReadBlock
    :265 seeks to `56 + 4*nx*(ny - row - 1)`), nodata
    1.701410009187828e38 (:87, the 0x7effffee Surfer 8 blank).
    min/max X/Y name grid NODES (pixel centers): GetGeoTransform
    (:655-686) divides by (n-1) and shifts the origin half a cell.
  - gdal/frmts/gsg/gs7bgdataset.cpp — `DSRB` tagged-section header:
    header section (tag+size+version), GRID section (i32 nRows,
    i32 nCols, then LE doubles xLL yLL xSize ySize zMin zMax rotation
    blankValue, :560-760), DATA section tag+size, then float64
    samples bottom-up (:346 same `(ny - row - 1)` seek); writer
    layout is the fixed 100-byte prefix (:93).  xLL/yLL are node
    coordinates; gt = (xLL - xSize/2, xSize, 0, yLL + ySize*(ny-1)
    + ySize/2, 0, -ySize).

Spark lowering: fixed-stride raw layouts, so the scan is the
descriptor-parallel MAP-ONLY block scan (blockscan): the driver
reads 56/100 header bytes and emits one strip descriptor per
tile-row; a bottom-up image strip [y0, y0+h) is the contiguous file
range [(ny-y0-h)*stride, (ny-y0)*stride), one pread + one in-memory
flip per task.  Zero shuffles, zero driver pixel bytes.

Writers mirror it: the driver computes the header's zMin/zMax with
one bounded aggregation over the non-blank samples (a per-tile
pandas-UDF partial min/max then a 1-row final — never pixel bytes on
the driver), writes the header, truncates, and executors pwrite
their rows at closed-form bottom-up offsets in parallel.
"""

from __future__ import annotations

import math
import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import blockscan
from .blockscan import Layout

GSBG_NODATA = 1.701410009187828e+38
GSBG_HEADER = 56
GS7BG_HEADER = 100

# ---------------------------------------------------------------- headers
def parse_gsbg(path: str) -> dict:
    """Surfer 6 binary header (gsbgdataset.cpp Open :511-650)."""
    with open(path, "rb") as f:
        head = f.read(GSBG_HEADER)
    if head[:4] != b"DSBB":
        raise ValueError(f"{path}: not a GSBG grid (no DSBB magic)")
    nx, ny = struct.unpack_from("<hh", head, 4)
    minx, maxx, miny, maxy, minz, maxz = struct.unpack_from("<6d", head, 8)
    dx = (maxx - minx) / (nx - 1)
    dy = (maxy - miny) / (ny - 1)
    return {
        "ncols": int(nx), "nrows": int(ny), "dtype": "float32",
        "data_offset": GSBG_HEADER, "nodata": GSBG_NODATA,
        "zmin": minz, "zmax": maxz,
        "geotransform": [minx - dx / 2, dx, 0.0,
                         maxy + dy / 2, 0.0, -dy],
    }


def parse_gs7bg(path: str) -> dict:
    """Surfer 7 tagged-section header (gs7bgdataset.cpp :560-760):
    walk sections until GRID, then the data follows its DATA tag."""
    with open(path, "rb") as f:
        tag = f.read(4)
        if tag != b"DSRB":
            raise ValueError(f"{path}: not a GS7BG grid (no DSRB tag)")
        size, _version = struct.unpack("<Ii", f.read(8))
        f.seek(size - 4, os.SEEK_CUR)  # version counted in the size
        grid = None
        while True:
            sec = f.read(8)
            if len(sec) < 8:
                raise ValueError(f"{path}: no GRID section")
            stag, ssize = struct.unpack("<4sI", sec)
            if stag == b"GRID":
                grid = struct.unpack("<ii8d", f.read(72))
                continue
            if stag == b"DATA":
                data_offset = f.tell()
                break
            f.seek(ssize, os.SEEK_CUR)
    ny, nx, xll, yll, dx, dy, zmin, zmax, _rot, blank = grid
    return {
        "ncols": int(nx), "nrows": int(ny), "dtype": "float64",
        "data_offset": data_offset, "nodata": float(blank),
        "zmin": zmin, "zmax": zmax,
        "geotransform": [xll - dx / 2, dx, 0.0,
                         yll + dy * (ny - 1) + dy / 2, 0.0, -dy],
    }


# ------------------------------------------------------------------ scan
def _read_bottom_up(spark: SparkSession, path: str, hdr: dict, *,
                    tile_px: int, raster_id: str | None, zoom: int,
                    crs: str) -> DataFrame:
    dtype = hdr["dtype"]
    return blockscan.read(
        spark, Layout(path, hdr["ncols"], hdr["nrows"], dtype,
                      (hdr["data_offset"],), byteorder="<", bottom_up=True,
                      out_dtype=dtype),
        raster_id=raster_id or os.path.splitext(os.path.basename(path))[0],
        geotransform=hdr["geotransform"], tile_px=tile_px, zoom=zoom,
        nodata=float(hdr["nodata"]), crs=crs)


def read_gsbg(spark: SparkSession, path: str, *, tile_px: int = 256,
              raster_id: str | None = None, zoom: int = 0,
              crs: str = "") -> DataFrame:
    return _read_bottom_up(spark, path, parse_gsbg(path), tile_px=tile_px,
                           raster_id=raster_id, zoom=zoom, crs=crs)


def read_gs7bg(spark: SparkSession, path: str, *, tile_px: int = 256,
               raster_id: str | None = None, zoom: int = 0,
               crs: str = "") -> DataFrame:
    return _read_bottom_up(spark, path, parse_gs7bg(path), tile_px=tile_px,
                           raster_id=raster_id, zoom=zoom, crs=crs)


# ------------------------------------------------------------------ sinks
def _z_range(tiles: DataFrame, dtype: str, nodata: float):
    """Distributed non-blank min/max for the header (partial per tile
    inside a pandas UDF, 1-row final agg — no pixel bytes driverside)."""
    @F.pandas_udf("double")
    def tmin(data: pd.Series, dt: pd.Series) -> pd.Series:
        out = []
        for buf, d in zip(data, dt):
            a = np.frombuffer(buf, dtype=np.dtype(d)).astype(np.float64)
            a = a[a != nodata]
            out.append(a.min() if len(a) else np.nan)
        return pd.Series(out)

    @F.pandas_udf("double")
    def tmax(data: pd.Series, dt: pd.Series) -> pd.Series:
        out = []
        for buf, d in zip(data, dt):
            a = np.frombuffer(buf, dtype=np.dtype(d)).astype(np.float64)
            a = a[a != nodata]
            out.append(a.max() if len(a) else np.nan)
        return pd.Series(out)

    r = tiles.select(tmin("data", "dtype").alias("lo"),
                     tmax("data", "dtype").alias("hi")) \
        .agg(F.min("lo").alias("zmin"), F.max("hi").alias("zmax")).first()
    zmin = 0.0 if r["zmin"] is None or math.isnan(r["zmin"]) else r["zmin"]
    zmax = 0.0 if r["zmax"] is None or math.isnan(r["zmax"]) else r["zmax"]
    return zmin, zmax


def _write_bottom_up(tiles: DataFrame, path: str, header: bytes,
                     dtype: str, nrows: int, ncols: int,
                     tile_px: int) -> None:
    isz = np.dtype(dtype).itemsize
    stride = ncols * isz
    data_off = len(header)
    with open(path, "wb") as f:
        f.write(header)
        f.truncate(data_off + stride * nrows)

    def write_part(rows):
        with open(path, "r+b") as f:
            fd = f.fileno()
            for r in rows:
                h, w = int(r["height"]), int(r["width"])
                arr = np.frombuffer(bytes(r["data"]),
                                    dtype=np.dtype(r["dtype"])) \
                    .reshape(h, w).astype(np.dtype(dtype), copy=False)
                gy0 = int(r["tile_y"]) * tile_px
                gx0 = int(r["tile_x"]) * tile_px
                for i in range(h):
                    frow = nrows - 1 - (gy0 + i)
                    os.pwrite(fd, arr[i].astype("<" + arr.dtype.str[1:],
                                                 copy=False).tobytes(),
                              data_off + frow * stride + gx0 * isz)

    tiles.foreachPartition(write_part)


def write_gsbg(tiles: DataFrame, path: str, *, tile_px: int = 256,
               nodata: float = GSBG_NODATA) -> str:
    """Surfer 6 sink (gsbgdataset.cpp WriteHeader :730-820): float32
    samples; min/max X/Y are node (center) coordinates."""
    from .ehdr import _collect_meta

    m = _collect_meta(tiles)
    nrows, ncols = int(m["img_h"]), int(m["img_w"])
    if int(m["nbands"]) != 1:
        raise ValueError("Surfer grids are single-band")
    gt = list(m["gt"])
    zmin, zmax = _z_range(tiles, "float32", nodata)
    minx = gt[0] + gt[1] / 2
    maxy = gt[3] + gt[5] / 2
    hdr = b"DSBB" + struct.pack("<hh", ncols, nrows) + struct.pack(
        "<6d", minx, minx + gt[1] * (ncols - 1),
        maxy + gt[5] * (nrows - 1), maxy, zmin, zmax)
    _write_bottom_up(tiles, path, hdr, "float32", nrows, ncols, tile_px)
    return path


def write_gs7bg(tiles: DataFrame, path: str, *, tile_px: int = 256,
                nodata: float = GSBG_NODATA) -> str:
    """Surfer 7 sink (gs7bgdataset.cpp WriteHeader :900-1040): the
    fixed 100-byte tagged prefix, float64 samples."""
    from .ehdr import _collect_meta

    m = _collect_meta(tiles)
    nrows, ncols = int(m["img_h"]), int(m["img_w"])
    if int(m["nbands"]) != 1:
        raise ValueError("Surfer grids are single-band")
    gt = list(m["gt"])
    zmin, zmax = _z_range(tiles, "float64", nodata)
    xll = gt[0] + gt[1] / 2
    yll = gt[3] + gt[5] * (nrows - 1) + gt[5] / 2
    hdr = struct.pack("<4sIi", b"DSRB", 4, 1)
    hdr += struct.pack("<4sI", b"GRID", 72)
    hdr += struct.pack("<ii8d", nrows, ncols, xll, yll, gt[1], -gt[5],
                       zmin, zmax, 0.0, nodata)
    hdr += struct.pack("<4sI", b"DATA", ncols * nrows * 8)
    _write_bottom_up(tiles, path, hdr, "float64", nrows, ncols, tile_px)
    return path
