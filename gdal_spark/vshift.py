"""GDALApplyVerticalShiftGrid: vertical-datum shift of an elevation
raster by a (usually much coarser) shift/geoid grid.

Reference: ``alg/gdalapplyverticalshiftgrid.cpp`` —
``GDALApplyVerticalShiftGrid(src, grid, bInverse, srcUnitToMeter,
dstUnitToMeter)`` warps the grid onto the source's exact pixel grid
with bilinear resampling (the reference builds a warped VRT with
``GRA_Bilinear``), then combines per pixel (``IReadBlock``,
:230-305)::

    out = (src * srcUnitToMeter + grid) / dstUnitToMeter      # forward
    out = (src * srcUnitToMeter - grid) / dstUnitToMeter      # inverse

with source-nodata passthrough (a nodata source pixel stays the
nodata value) and a hard error where the resampled grid has no value
(the reference surfaces missing grid as +Inf and fails the block).

Spark shape: stage 1 IS the audited ``tiling.warp`` bilinear
regrid (dst grid = the source's tile grid, so its output arrives
keyed by the same (tile_x, tile_y) the source uses); stage 2 is one
equi-join on the tile key plus a map-only Arrow combine.  At 100 TB
the join is tile-to-tile with no skew (every key is exactly 1x1), and
the expensive part — the grid regrid — only shuffles the *grid*,
which is orders of magnitude smaller than the DEM.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gdal_spark import tiling
from gdal_spark.synth import TILE_COLUMNS, tile_row
from gdal_spark.tiling import TILE_SCHEMA, _decode, _gdal_cast


def apply_vertical_shift_grid(
    src_tiles: DataFrame,
    grid_tiles: DataFrame,
    *,
    src_origin: tuple[float, float],
    src_res: float,
    src_tiles_x: int,
    src_tiles_y: int,
    grid_origin: tuple[float, float],
    grid_res: float,
    inverse: bool = False,
    src_unit_to_meter: float = 1.0,
    dst_unit_to_meter: float = 1.0,
    out_dtype: str = "float32",
    out_raster_id: str = "vshifted",
) -> DataFrame:
    """Tile table of the vertically shifted raster (same grid as src).

    ``out_dtype`` mirrors the reference's DATATYPE option (default
    there is the source type; elevation workflows pass Float32, which
    is the default here).
    """
    # grid coverage extent: one O(1) metadata aggregate (4 doubles) —
    # the reference turns "sampled outside the grid" into +Inf and a
    # hard error; the warp only reads nodata where a pixel centre falls
    # past the grid, so tile containment is checked explicitly against
    # the true extent
    ext = grid_tiles.select(
        F.min(F.element_at("geotransform", 1)).alias("x0"),
        F.max(F.element_at("geotransform", 1)
              + F.col("width") * F.element_at("geotransform", 2)).alias("x1"),
        F.min(F.element_at("geotransform", 4)
              + F.col("height") * F.element_at("geotransform", 6)).alias("y0"),
        F.max(F.element_at("geotransform", 4)).alias("y1"),
    ).collect()[0]
    gx0, gx1, gy0, gy1 = (float(ext["x0"]), float(ext["x1"]),
                          float(ext["y0"]), float(ext["y1"]))

    grid_on_src = tiling.warp(
        grid_tiles,
        src_origin=grid_origin,
        src_res=grid_res,
        dst_origin=src_origin,
        dst_res=src_res,
        dst_tiles_x=src_tiles_x,
        dst_tiles_y=src_tiles_y,
        kernel="bilinear",
        dst_raster_id="__vshift_grid__",
    )
    g = grid_on_src.select(
        "tile_x", "tile_y",
        F.col("data").alias("g_data"), F.col("dtype").alias("g_dtype"),
        F.col("nodata").alias("g_nodata"),
        F.col("width").alias("g_width"), F.col("height").alias("g_height"),
    )
    # LEFT join: a source tile with no grid coverage at all must
    # surface as the reference's hard error (the warp drops dst
    # tiles whose source window is empty, so an inner join would
    # silently lose them instead)
    joined = src_tiles.join(g, ["tile_x", "tile_y"], "left")
    sgn = -1.0 if inverse else 1.0
    su, du = float(src_unit_to_meter), float(dst_unit_to_meter)

    def combine(batches):
        for pdf in batches:
            out_rows = []
            for r in pdf.itertuples(index=False):
                gt = list(r.geotransform)
                tx0, txe = gt[0], gt[0] + int(r.width) * gt[1]
                tyt, tyb = gt[3], gt[3] + int(r.height) * gt[5]
                eps = 1e-6 * abs(gt[1])
                if (r.g_data is None or tx0 < gx0 - eps or txe > gx1 + eps
                        or tyb < gy0 - eps or tyt > gy1 + eps):
                    raise ValueError(
                        "Missing vertical grid value: source tile "
                        f"({r.tile_x},{r.tile_y}) extends outside the "
                        "grid coverage")
                src = _decode(r.data, r.dtype, r.height, r.width)
                grd = _decode(r.g_data, r.g_dtype, r.g_height, r.g_width)
                if grd.shape != src.shape:
                    raise ValueError(
                        f"grid window {grd.shape} != src {src.shape}")
                nod = float(r.nodata)
                gnod = float(r.g_nodata)
                grd = grd.astype(np.float64)
                sv = src.astype(np.float64)
                valid = sv != nod
                # reference: missing grid under a valid source pixel is
                # a hard failure, not silent nodata (:278-283)
                if np.any(valid & (grd == gnod)):
                    raise ValueError(
                        "Missing vertical grid value under valid source "
                        f"pixels in tile ({r.tile_x},{r.tile_y})")
                shifted = (sv * su + sgn * grd) / du
                outv = np.where(valid, shifted, nod)
                out_rows.append(tile_row(
                    out_raster_id, int(r.band), int(r.zoom), int(r.tile_x),
                    int(r.tile_y), _gdal_cast(outv, out_dtype), gt,
                    nodata=nod, crs=r.crs, dtype=out_dtype))
            yield pd.DataFrame(out_rows, columns=TILE_COLUMNS)

    return joined.mapInPandas(combine, schema=TILE_SCHEMA)
