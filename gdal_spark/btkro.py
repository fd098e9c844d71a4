"""BT (VTerrain binary terrain) and KRO (KOLOR raw) drivers.

Reference:
  - gdal/frmts/raw/btdataset.cpp — 256-byte header ("binterr1.3",
    cols i32@10, rows i32@14, dataSize i16@18, floatFlag@20,
    extents left/right/bottom/top f64 LE @28..52, vscale f32@62);
    the grid is COLUMN-major: column x occupies the contiguous range
    `256 + x*rows*size`, values BOTTOM-TO-TOP (IReadBlock flips,
    :126-190); Int16/Int32/Float32.
  - gdal/frmts/raw/krodataset.cpp — "KRO\\x01" + BIG-endian u32
    xsize/ysize/depth/ncomp; pixel-interleaved BIG-endian rows at 20
    (band i offset 20+size*i, pixel stride ncomp*size); depth
    8/16/32 -> Byte/UInt16/Float32; 3/4 components are RGB(A).

Spark lowering: BT columns are the DTED column-profile contract —
column-strip descriptors, one contiguous pread per strip, in-kernel
transpose+flip; KRO is the ehdr BIP family.  Both sinks pwrite at
closed-form offsets after a driver-side fixed header.  Map-only.
"""

from __future__ import annotations

import math
import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import blockscan
from .synth import TILE_COLUMNS, TILE_SCHEMA, tile_row

_BT_TYPES = {(0, 2): "int16", (0, 4): "int32", (1, 4): "float32"}


def parse_bt(path: str) -> dict:
    with open(path, "rb") as f:
        hdr = f.read(256)
    if not hdr.startswith(b"binterr"):
        raise ValueError(f"not a BT file: {path}")
    W, H = struct.unpack_from("<ii", hdr, 10)
    size, = struct.unpack_from("<h", hdr, 18)
    isfloat = hdr[20] != 0
    dtype = _BT_TYPES.get((1 if isfloat else 0, size))
    if dtype is None:
        raise ValueError(f"BT data size {size}/float={isfloat}")
    left, right, bottom, top = struct.unpack_from("<4d", hdr, 28)
    gt = [left, (right - left) / W, 0.0, top, 0.0,
          -(top - bottom) / H]
    return dict(width=W, height=H, dtype=dtype, geotransform=gt)


def read_bt(spark: SparkSession, path: str, *, tile_px: int = 256,
            raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    h = parse_bt(path)
    W, H = h["width"], h["height"]
    dt = np.dtype(h["dtype"])
    gt = h["geotransform"]
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    ntx = math.ceil(W / tile_px)
    rows = [(txi, min(tile_px, W - txi * tile_px))
            for txi in range(ntx)]
    desc = blockscan.spread(spark, rows, "txi int, width int")

    def scan(batches):
        for pdf in batches:
            out = []
            with open(path, "rb") as f:
                fd = f.fileno()
                for r in pdf.itertuples(index=False):
                    x0 = int(r.txi) * tile_px
                    w = int(r.width)
                    raw = os.pread(
                        fd, w * H * dt.itemsize,
                        256 + x0 * H * dt.itemsize)
                    cols = np.frombuffer(
                        raw, dt.newbyteorder("<")).reshape(w, H)
                    plane = cols.T[::-1]     # bottom-up columns
                    plane = np.ascontiguousarray(plane).astype(
                        dt, copy=False)
                    out += [tile_row(rid, 1, int(zoom), int(r.txi), tyi,
                                     plane[y0:y0 + tile_px], gt, x0=x0,
                                     y0=y0)
                            for tyi, y0 in enumerate(range(0, H, tile_px))]
            yield pd.DataFrame(out, columns=TILE_COLUMNS)

    return desc.mapInPandas(scan, schema=TILE_SCHEMA)


def write_bt(tiles: DataFrame, path: str, *,
             tile_px: int = 256) -> dict:
    """BT sink: 256-byte header driver-side; each written COLUMN
    strip is contiguous, so tiles pwrite their transposed+flipped
    slices in parallel (one keyed shuffle zips a column strip's
    tiles: groupBy tile_x)."""
    from .ehdr import _collect_meta

    m = _collect_meta(tiles)
    W, H = int(m.img_w), int(m.img_h)
    dtype = str(m.dtype)
    key = {(b, s) for (b, s), d in _BT_TYPES.items() if d == dtype}
    if not key:
        raise ValueError(f"BT cannot hold dtype {dtype}")
    (isfloat, size), = key
    gt = list(m.gt) if m.gt is not None else [0, 1, 0, 0, 0, -1]
    hdr = bytearray(256)
    hdr[:10] = b"binterr1.3"
    struct.pack_into("<ii", hdr, 10, W, H)
    struct.pack_into("<h", hdr, 18, size)
    hdr[20] = 1 if isfloat else 0
    struct.pack_into("<4d", hdr, 28,
                     gt[0], gt[0] + gt[1] * W,
                     gt[3] + gt[5] * H, gt[3])
    struct.pack_into("<f", hdr, 62, 1.0)
    with open(path, "wb") as f:
        f.write(bytes(hdr))
        f.truncate(256 + W * H * size)
    npd = np.dtype(dtype)

    out_schema = T.StructType([T.StructField("k", T.LongType())])

    def write_col_strip(key_, pdf):
        txi = int(key_[0])
        x0 = txi * tile_px
        w = int(pdf["width"].iloc[0])
        strip = np.zeros((H, w), npd)
        for r in pdf.itertuples(index=False):
            a = np.frombuffer(bytes(r.data),
                              np.dtype(r.dtype)).reshape(
                int(r.height), int(r.width))
            y0 = int(r.tile_y) * tile_px
            strip[y0:y0 + a.shape[0], :a.shape[1]] = a
        cols = np.ascontiguousarray(strip[::-1].T)   # bottom-up cols
        with open(path, "r+b") as f:
            os.pwrite(f.fileno(),
                      cols.astype("<" + npd.str[1:], copy=False)
                      .tobytes(), 256 + x0 * H * npd.itemsize)
        return pd.DataFrame({"k": [txi]})

    tiles.filter("band = 1").groupBy("tile_x").applyInPandas(
        write_col_strip, schema=out_schema).count()
    return {"path": path, "width": W, "height": H, "dtype": dtype}


_KRO_TYPES = {8: "u1", 16: ">u2", 32: ">f4"}


def parse_kro(path: str) -> dict:
    with open(path, "rb") as f:
        hdr = f.read(20)
    if hdr[:4] != b"KRO\x01":
        raise ValueError(f"not a KRO file: {path}")
    W, H, depth, ncomp = struct.unpack(">4I", hdr[4:20])
    dt = _KRO_TYPES.get(depth)
    if dt is None:
        raise ValueError(f"KRO depth {depth}")
    return dict(width=W, height=H, dtype=dt, nbands=ncomp)


def read_kro(spark: SparkSession, path: str, *, tile_px: int = 256,
             raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    from .ehdr import read_raw

    h = parse_kro(path)
    base = np.dtype(h["dtype"])
    raw = dict(nrows=h["height"], ncols=h["width"],
               nbands=h["nbands"], dtype=str(base.base),
               interleave="bip", skip=20,
               geotransform=[0, 1, 0, 0, 0, -1],
               byteorder=">" if base.itemsize > 1 else "<", crs="")
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    return read_raw(spark, path, raw, tile_px=tile_px,
                    raster_id=rid, zoom=zoom)


def write_kro(tiles: DataFrame, path: str, *,
              tile_px: int = 256) -> dict:
    from .ehdr import _collect_meta, _write_raw_data

    m = _collect_meta(tiles)
    W, H = int(m.img_w), int(m.img_h)
    nbands, dtype = int(m.nbands), str(m.dtype)
    depth = {"uint8": 8, "uint16": 16, "float32": 32}.get(dtype)
    if depth is None:
        raise ValueError(f"KRO cannot hold dtype {dtype}")
    with open(path, "wb") as f:
        f.write(b"KRO\x01" + struct.pack(">4I", W, H, depth, nbands))
    wdtype = dtype if depth == 8 else \
        (">u2" if depth == 16 else ">f4")
    _write_raw_data(tiles, path, interleave="bip", nrows=H, ncols=W,
                    nbands=nbands, dtype=wdtype, tile_px=tile_px,
                    skip=20)
    return {"path": path, "width": W, "height": H, "bands": nbands,
            "depth": depth}
