"""One raw block scanner (GDAL's RawRasterBand, written once) and one
descriptor spread.

Reference:
  - gdal/gcore/rawdataset.cpp RawRasterBand — every band-sequential,
    line-interleaved and pixel-interleaved layout is an image offset, a
    pixel offset, a line offset and a byte order per band (plus a
    bottom-up flag); a raw driver only parses its header and hands
    those numbers over. AccessBlock zero-fills reads past EOF, which
    some drivers' truncated fixtures rely on.

Spark lowering: the driver builds one small descriptor per strip
(tile row, and band when the bands do not share a line) and `spread`s
them without a shuffle; each task fstat()s its files once, preads one
contiguous byte range per strip, de-interleaves it with strided numpy
views and emits TILE_SCHEMA rows through `synth.strip_rows`. A strip
that ends past EOF is zero-filled only when the header parser set the
layout's `zero_fill`; otherwise it raises `TruncatedRaster`. This is
the one place raw strip reads check the file extent.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .synth import TILE_COLUMNS, TILE_SCHEMA, strip_rows


class TruncatedRaster(ValueError):
    """A strip's byte range ends past the end of its file."""

    def __init__(self, path: str, offset: int, size: int, file_size: int):
        super().__init__(
            f"{path}: strip of {size} bytes at offset {offset} ends past "
            f"EOF ({file_size} bytes)")
        self.path, self.offset, self.size = path, offset, size


def spread(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Descriptor rows as a DataFrame split over the cluster's cores.

    Built from a parallelized RDD, so the plan carries no round-robin
    Exchange (a `repartition` would shuffle the descriptors first)."""
    sc = spark.sparkContext
    n = max(1, min(len(rows), 2 * sc.defaultParallelism))
    return spark.createDataFrame(sc.parallelize(rows, n), schema)


class Strip(NamedTuple):
    """One contiguous read: `raw` holds the file bytes from `offset`;
    it covers stored lines [line0, line0 + h) of the layout's bands
    `bands` (0-based)."""
    raw: bytes
    offset: int
    bands: tuple
    line0: int
    h: int


@dataclass(frozen=True)
class Layout:
    """RawRasterBand geometry of one or more same-typed bands of a file.

    Band b's stored line l starts at `band_offsets[b] + l*line_offset`
    and holds `width` samples `pixel_offset` bytes apart. Bands whose
    offsets lie within one line (BIL, BIP, pixel-interleaved) share one
    read per strip.

    dtype/byteorder: the stored sample type; byteorder None keeps the
      dtype's own order.
    bottom_up: stored line 0 is the raster's last row.
    zero_fill: strips past EOF read as zeros (set by format parsers
      whose reference driver does so); otherwise TruncatedRaster.
    out_dtype: the dtype tile rows carry, spelled as given; None casts
      to the native-order sample type (decoded planes stay as decoded).
    decode: `decode(planes, strip) -> [(band, plane)]` turns the
      strip's strided views `planes` ([(band, view)], bands 1-based and
      top-down) into pixel planes: VAX floats, packed sub-byte pixels,
      derived bands.
    line_table: (starts, sizes) of every stored line, band-major
      (index b*height + line), for formats whose lines are not
      fixed-stride (SGI RLE); a strip then reads from its first line's
      start to its last line's end, and `decode` gets no views.
    """
    path: str
    width: int
    height: int
    dtype: str
    band_offsets: tuple
    pixel_offset: int = 0
    line_offset: int = 0
    byteorder: str | None = None
    bottom_up: bool = False
    zero_fill: bool = False
    out_dtype: str | None = None
    decode: Callable | None = None
    line_table: tuple | None = None

    @property
    def sample(self) -> np.dtype:
        dt = np.dtype(self.dtype)
        return (dt if self.byteorder is None
                else dt.newbyteorder(self.byteorder))

    @property
    def pixel(self) -> int:
        return self.pixel_offset or self.sample.itemsize

    @property
    def line(self) -> int:
        return self.line_offset or self.width * self.pixel

    def shared(self) -> bool:
        offs = self.band_offsets
        return self.line_table is None and max(offs) - min(offs) < self.line

    def extent(self, bands, line0: int, h: int) -> tuple[int, int]:
        """(offset, nbytes) of the one read covering a strip."""
        if self.line_table is not None:
            i = bands[0] * self.height + line0
            starts, sizes = (np.asarray(a[i:i + h], np.int64)
                             for a in self.line_table)
            lo = int(starts.min())
            return lo, int((starts + sizes).max()) - lo
        offs = [self.band_offsets[b] for b in bands]
        lo = min(offs) + line0 * self.line
        hi = (max(offs) + (line0 + h - 1) * self.line
              + (self.width - 1) * self.pixel + self.sample.itemsize)
        return lo, hi - lo

    def planes(self, s: Strip) -> list:
        """Strided views of each band of the strip, top-down."""
        out = []
        for b in s.bands:
            v = np.ndarray((s.h, self.width), self.sample, buffer=s.raw,
                           offset=self.band_offsets[b]
                           + s.line0 * self.line - s.offset,
                           strides=(self.line, self.pixel))
            out.append((b + 1, v[::-1] if self.bottom_up else v))
        return out


def _read_strip(fd: int, file_size: int, L: Layout, bands, line0: int,
                h: int) -> tuple[bytes, int]:
    """(bytes, offset) of one strip; the extent check. Past EOF the
    strip zero-fills when the layout says so (the place to count
    zero-filled bytes) and raises TruncatedRaster otherwise."""
    off, n = L.extent(bands, line0, h)
    if off + n > file_size:
        if not L.zero_fill:
            raise TruncatedRaster(L.path, off, n, file_size)
        raw = os.pread(fd, max(0, min(n, file_size - off)), off)
        return raw + b"\0" * (n - len(raw)), off
    return os.pread(fd, n, off), off


def read(spark: SparkSession, layouts, *, raster_id: str, geotransform,
         tile_px: int = 256, zoom: int = 0, nodata=float("nan"),
         crs: str = "") -> DataFrame:
    """Raw fixed-stride scan -> TILE_SCHEMA frame, map-only.

    `layouts` is one Layout or a list of them (one per file or sample
    type); their bands are numbered 1, 2, ... in order. Every layout has
    the raster's height. `nodata` is one value, or a {band: value} dict
    (bands not named get NaN)."""
    if isinstance(layouts, Layout):
        layouts = [layouts]
    height = layouts[0].height
    first, rows = [], []
    nb = 0
    for li, L in enumerate(layouts):
        first.append(nb)
        nb += len(L.band_offsets)
        groups = [-1] if L.shared() else range(len(L.band_offsets))
        rows += [(li, g, ty) for ty in range(math.ceil(height / tile_px))
                 for g in groups]
    desc = spread(spark, rows, "layout int, band int, tile_y int")

    def scan(batches):
        fds, sizes = {}, {}
        try:
            for pdf in batches:
                for li, g, ty in zip(pdf["layout"].tolist(),
                                     pdf["band"].tolist(),
                                     pdf["tile_y"].tolist()):
                    L = layouts[li]
                    if L.path not in fds:
                        fds[L.path] = os.open(L.path, os.O_RDONLY)
                        sizes[L.path] = os.fstat(fds[L.path]).st_size
                    bands = (tuple(range(len(L.band_offsets))) if g < 0
                             else (g,))
                    y0 = ty * tile_px
                    h = min(tile_px, height - y0)
                    line0 = height - y0 - h if L.bottom_up else y0
                    raw, off = _read_strip(fds[L.path], sizes[L.path], L,
                                           bands, line0, h)
                    s = Strip(raw, off, bands, line0, h)
                    planes = [] if L.line_table is not None else L.planes(s)
                    if L.decode is not None:
                        planes = L.decode(planes, s)
                    native = L.sample.newbyteorder("=")
                    out = []
                    for band, plane in planes:
                        if L.out_dtype is not None:
                            plane = plane.astype(np.dtype(L.out_dtype),
                                                 copy=False)
                        elif L.decode is None:
                            plane = plane.astype(native, copy=False)
                        band += first[li]
                        nd = (nodata.get(band, float("nan"))
                              if isinstance(nodata, dict) else nodata)
                        out += strip_rows(raster_id, band, int(zoom), ty,
                                          plane, geotransform, tile_px, y0=y0,
                                          nodata=nd, crs=crs,
                                          dtype=L.out_dtype)
                    yield pd.DataFrame(out, columns=TILE_COLUMNS)
        finally:
            for fd in fds.values():
                os.close(fd)

    return desc.mapInPandas(scan, schema=TILE_SCHEMA)
