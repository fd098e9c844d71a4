"""Histogram-equalization enhancement and lookup-table application.

Reference semantics:
  - gdalenhance -equalize  (apps/gdalenhance.cpp:493-580
    ComputeEqualizationLUTs, :585-660 EnhancerCallback): per band,
    take the default histogram over [scale_min, scale_max), zero the
    two extreme buckets, build the half-bucket-offset cumulative
    histogram ``cum[i] = running + hist[i]//2``, then
    ``LUT[j] = clamp((cum[(j*nhist)//nbins] * nbins) // total)``;
    apply is ``out = LUT[clamp(int((v - scale_min) * scale))]`` with
    nodata passed through unchanged.
  - gdal_lut (swig/python/gdal-utils/osgeo_utils/samples/gdal_lut.py):
    direct integer table lookup — pixel values < len(lut) map through
    the table, values beyond it are left unaltered.

Design for 100 TB: the histogram is the only global state. It is
computed exactly and distributedly (per-tile np.histogram partials →
groupBy(band, bucket) sum — the shuffled state is nbands*nbins rows
TOTAL, independent of raster size), the derived LUT (nbins ints per
band) is collected on the driver (bounded, tiny) and rides into the
map-only apply stage as a broadcast-sized closure literal. Pixel data
never shuffles; every stage after the histogram is embarrassingly
parallel per tile. The reference samples the histogram
(bApproxOK=TRUE in GDALGetDefaultHistogramEx); we compute it exactly —
on a cluster the exact distributed histogram is one map pass plus a
constant-size shuffle, so there is nothing to approximate away.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .raster import histogram
from .synth import TILE_COLUMNS, TILE_SCHEMA
from .tiling import _decode


def equalization_luts(tiles: DataFrame, nbins: int = 256,
                      scale_min: float = -0.5,
                      scale_max: float = 255.5) -> dict:
    """Per-(raster_id, band) equalization LUT — the distributed
    equivalent of ComputeEqualizationLUTs (apps/gdalenhance.cpp:493).

    Returns {(raster_id, band): np.ndarray[nbins] of int}. The
    defaults mirror GDAL's default Byte histogram (one bucket per
    integer value, bucket centers at 0..255)."""
    hist_rows = histogram(tiles, scale_min, scale_max, nbins).collect()
    luts = {}
    for r in hist_rows:
        h = np.asarray(r["counts"], dtype=np.int64)
        h[0] = 0          # zero out extremes (nodata etc), ref :534
        h[-1] = 0
        cum = np.cumsum(h) - h + h // 2   # cum[i] = running + h[i]//2
        total = int(h.sum())
        if total == 0:
            total = 1
        j = (np.arange(nbins) * len(h)) // nbins
        lut = np.clip((cum[j] * nbins) // total, 0, nbins - 1)
        luts[(r["raster_id"], r["band"])] = lut.astype(np.int64)
    return luts


def _apply_table(tiles: DataFrame, per_band_lut: dict, scale_min: float,
                 scale_max: float, nbins: int) -> DataFrame:
    """Map-only LUT application (EnhancerCallback, ref :585-660):
    bin = clamp(int((v - scale_min) * nbins / (scale_max - scale_min))),
    out = LUT[bin]; nodata pixels pass through."""
    scale = nbins / (scale_max - scale_min)
    luts = {k: np.asarray(v, dtype=np.float64) for k, v in per_band_lut.items()}

    def apply(batches):
        for pdf in batches:
            out = pdf.copy()
            datas = []
            for r in pdf.itertuples(index=False):
                arr = _decode(r.data, r.dtype, r.height, r.width)
                lut = luts[(r.raster_id, r.band)]
                v = arr.astype(np.float64)
                bins = np.clip(((v - scale_min) * scale).astype(np.int64),
                               0, nbins - 1)
                res = lut[bins]
                if r.nodata is not None and not np.isnan(r.nodata):
                    res = np.where(v == r.nodata, r.nodata, res)
                datas.append(res.astype(np.uint8).tobytes())
            out["data"] = datas
            out["dtype"] = "uint8"
            yield out[TILE_COLUMNS]

    return tiles.mapInPandas(apply, schema=TILE_SCHEMA)


def enhance_equalize(tiles: DataFrame, nbins: int = 256,
                     scale_min: float = -0.5,
                     scale_max: float = 255.5) -> DataFrame:
    """gdalenhance -equalize over a tile table: one distributed
    histogram pass, then a shuffle-free per-tile apply."""
    luts = equalization_luts(tiles, nbins, scale_min, scale_max)
    return _apply_table(tiles, luts, scale_min, scale_max, nbins)


def apply_lut(tiles: DataFrame, lut) -> DataFrame:
    """gdal_lut semantics (osgeo_utils/samples/gdal_lut.py:46-54,
    :100-118): integer pixel values below len(lut) map through the
    table; values beyond the table are left unaltered. Map-only —
    the LUT is a plain literal in the task closure."""
    table = np.asarray(list(lut), dtype=np.int64)

    def apply(batches):
        for pdf in batches:
            out = pdf.copy()
            datas = []
            for r in pdf.itertuples(index=False):
                arr = _decode(r.data, r.dtype, r.height, r.width)
                v = arr.astype(np.int64)
                mapped = np.where(v < len(table),
                                  table[np.minimum(v, len(table) - 1)], v)
                datas.append(np.clip(mapped, 0, 255).astype(np.uint8).tobytes())
            out["data"] = datas
            out["dtype"] = "uint8"
            yield out[TILE_COLUMNS]

    return tiles.mapInPandas(apply, schema=TILE_SCHEMA)


def val_repl(tiles: DataFrame, src_val: float, dst_val: float) -> DataFrame:
    """val_repl semantics (osgeo_utils/samples/val_repl.py:118-133):
    pixels equal to src_val become dst_val, all others pass through;
    dtype is preserved (the script writes the input band type).
    Map-only."""

    def apply(batches):
        for pdf in batches:
            out = pdf.copy()
            datas = []
            for r in pdf.itertuples(index=False):
                arr = _decode(r.data, r.dtype, r.height, r.width)
                rep = np.where(arr == src_val,
                               np.asarray(dst_val, dtype=arr.dtype), arr)
                datas.append(rep.astype(arr.dtype).tobytes())
            out["data"] = datas
            yield out[TILE_COLUMNS]

    return tiles.mapInPandas(apply, schema=TILE_SCHEMA)


def classify(tiles: DataFrame,
             class_defs: list[tuple[int, float, float]]) -> DataFrame:
    """classify semantics (osgeo_utils/samples/classify.py:36-62):
    start from a zero byte image; for each (value, start, end) in
    order, pixels with start <= v <= end take `value` (later classes
    overwrite earlier on overlap, the script's sequential choose).
    Output dtype uint8 (the script creates a GDT_Byte dataset).
    Map-only — the class table is a task-closure literal."""
    defs = [(int(v), float(a), float(b)) for v, a, b in class_defs]

    def apply(batches):
        for pdf in batches:
            out = pdf.copy()
            datas = []
            for r in pdf.itertuples(index=False):
                arr = _decode(r.data, r.dtype, r.height, r.width
                              ).astype(np.float64)
                dst = np.zeros(arr.shape, dtype=np.uint8)
                for value, start, end in defs:
                    dst = np.where((arr >= start) & (arr <= end),
                                   np.uint8(value), dst)
                datas.append(dst.tobytes())
            out["data"] = datas
            out["dtype"] = "uint8"
            yield out[TILE_COLUMNS]

    return tiles.mapInPandas(apply, schema=TILE_SCHEMA)
