"""Distributed 2-D FFT over the tile table + complex mag/phase.

References: osgeo_utils/samples/fft.py (whole-raster forward/inverse
2-D FFT, `-inv`), osgeo_utils/samples/magphase.py:36-51 (complex band
-> magnitude + phase images).

Distributed shape — the classic transpose (row/column) method: a 2-D
DFT is separable, so
  stage 1  group tiles by (raster, band, zoom, tile_y): each task
           assembles one 256-row strip spanning the full image width
           and runs FFT along axis=1 (every pixel row is independent,
           so strip-local == whole-image row FFT bit-for-bit), then
           re-splits into tiles;
  stage 2  the same by tile_x with FFT along axis=0.
Two keyed exchanges total — exactly the all-to-all "transpose" of a
parallel FFT (e.g. FFTW's MPI plan). Task memory is one strip:
tile_h x image_width x 16 bytes; for extremely wide rasters shrink the
strip by splitting bands of rows (the four-step factorization) — the
grouping key, not the algorithm, changes.

The inverse applies ifft on both axes; numpy's per-axis 1/n
normalization composes to the 2-D 1/(W*H), so inverse(forward(x)) == x
to float64 rounding, and a roundtrip re-cast answers the source
checksum oracle exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .synth import TILE_COLUMNS, TILE_SCHEMA, tile_row
from .tiling import _decode, _gdal_cast

_KEY = ["raster_id", "band", "zoom"]


def _axis_fft(tiles: DataFrame, axis: int, inverse: bool,
              dst_raster_id: str | None) -> DataFrame:
    """One separable pass: strip-assemble along `axis`, FFT, re-split.
    axis=1 groups by tile_y (row strips), axis=0 by tile_x."""
    gcol = "tile_y" if axis == 1 else "tile_x"
    ocol = "tile_x" if axis == 1 else "tile_y"

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ocol)
        h, w = int(pdf.iloc[0]["height"]), int(pdf.iloc[0]["width"])
        arrs = [
            _decode(r.data, r.dtype, h, w).astype(np.complex128)
            for r in pdf.itertuples(index=False)
        ]
        strip = np.concatenate(arrs, axis=axis)
        out = (np.fft.ifft if inverse else np.fft.fft)(strip, axis=axis)
        rows = []
        step = w if axis == 1 else h
        for i, r in enumerate(pdf.itertuples(index=False)):
            piece = (out[:, i * step:(i + 1) * step] if axis == 1
                     else out[i * step:(i + 1) * step, :])
            rows.append(tile_row(
                r.raster_id if dst_raster_id is None else dst_raster_id,
                r.band, r.zoom, r.tile_x, r.tile_y, piece, r.geotransform,
                nodata=r.nodata, crs=r.crs, dtype="complex128"))
        return pd.DataFrame(rows, columns=TILE_COLUMNS)

    return tiles.groupBy(*_KEY, gcol).applyInPandas(run, schema=TILE_SCHEMA)


def fft2d(tiles: DataFrame, inverse: bool = False,
          dst_raster_id: str | None = None) -> DataFrame:
    """fft.py's whole-raster FFT (forward) / -inv (inverse) as two
    separable strip passes. Output tiles are complex128."""
    rows_done = _axis_fft(tiles, 1, inverse, dst_raster_id)
    return _axis_fft(rows_done, 0, inverse, None)


def real_cast(tiles: DataFrame, out_dtype: str = "uint8") -> DataFrame:
    """Re-cast complex tiles to a real GDAL type via GDALCopyWords
    rounding on the real part — fft.py's `-ot Byte` output path."""

    def run(batches):
        for pdf in batches:
            out = pdf.copy()
            out["data"] = [
                _gdal_cast(
                    _decode(r.data, r.dtype, r.height, r.width).real,
                    out_dtype,
                ).tobytes()
                for r in pdf.itertuples(index=False)
            ]
            out["dtype"] = out_dtype
            yield out[TILE_COLUMNS]

    return tiles.mapInPandas(run, schema=TILE_SCHEMA)


def magphase(tiles: DataFrame) -> DataFrame:
    """magphase.py:36-51: magnitude = |z|, phase = np.angle(z), as two
    float64 rasters ('<id>_mag' / '<id>_phase'). Map-only."""

    def run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                z = _decode(r.data, r.dtype, r.height, r.width)
                for suffix, arr in (
                    ("_mag", np.abs(z)), ("_phase", np.angle(z)),
                ):
                    rows.append(tile_row(
                        str(r.raster_id) + suffix, r.band, r.zoom, r.tile_x,
                        r.tile_y, arr.astype(np.float64), r.geotransform,
                        nodata=r.nodata, crs=r.crs, dtype="float64"))
            yield pd.DataFrame(rows, columns=TILE_COLUMNS)

    return tiles.mapInPandas(run, schema=TILE_SCHEMA)


TILE_SUM_SCHEMA = T.StructType([
    T.StructField("raster_id", T.StringType()),
    T.StructField("tile_x", T.IntegerType()),
    T.StructField("tile_y", T.IntegerType()),
    T.StructField("px_sum", T.DoubleType()),
])


def tile_sums(tiles: DataFrame, ndigits: int = 4) -> DataFrame:
    """Per-tile pixel sums, rounded with Python's round (banker's) so
    a numpy oracle rounds identically. Map-only."""

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "raster_id": pdf["raster_id"],
                    "tile_x": pdf["tile_x"].astype(np.int32),
                    "tile_y": pdf["tile_y"].astype(np.int32),
                    "px_sum": [
                        round(float(np.sum(
                            _decode(r.data, r.dtype, r.height, r.width).real
                        )), ndigits)
                        for r in pdf.itertuples(index=False)
                    ],
                }
            )

    return tiles.mapInPandas(run, schema=TILE_SUM_SCHEMA)
