"""Raster Matrix Format (RMF — GIS Panorama .rsw / .mtw) reader.

Reference: gdal/frmts/rmf/rmfdataset.cpp —
  - little-endian header (offsets match RMF_WRITE_* :920-975):
    signature "RSW"/"MTW", version at 4 (RMF_VERSION_HUGE 0x0201 multiplies
    every file offset by 256 — GetFileOffset :2162), bit depth 52,
    height/width 56/60, tile grid 64-84, color-table offset/size
    96/100, tile table offset/size 104/108, EPSG 132, pixel size
    152, LLY/LLX 160/168, compression byte 208, georef flag 244,
    nodata double 296.
  - tile table: (offset, size) u32 pairs, row-major; edge tiles
    store only their clipped width/height, packed tight.
  - decode (IReadBlock :260-420): RSW 24-bit tiles are BGR pixel
    groups (band b reads byte nBands-b); 4-bit low nibble first;
    1-bit MSB first; MTW tiles are raw elevation samples (depth
    8/16/32/64 → Byte/Int16/Int32/Float64).
  - RSW 1/4/8-bit carry an RGBA color table (indices returned).
  - gt = (LLX, pixel, 0, LLY + H*pixel, 0, -pixel) when the georef
    flag is set.

Compressed tiles (LZW/JPEG/DEM) are not decoded.

Spark lowering: the driver reads the KB header + tile table; the
RMF tile IS the output tile — executors pread + decode their
(offset, size) entries map-only."""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import blockscan
from .synth import TILE_COLUMNS, TILE_SCHEMA, tile_row


def identify(path: str) -> bool:
    with open(path, "rb") as f:
        return f.read(3) in (b"RSW", b"MTW")


def parse_rmf(path: str) -> dict:
    with open(path, "rb") as f:
        h = f.read(320)
    sig = h[:3]
    if sig not in (b"RSW", b"MTW"):
        raise ValueError(f"RMF: bad signature in {path}")
    version, = struct.unpack_from("<I", h, 4)
    mult = 256 if version >= 0x0201 else 1   # RMF_VERSION_HUGE
    depth, height, width, xtiles, ytiles, th, tw = \
        struct.unpack_from("<7I", h, 52)
    clr_off, clr_size, tbl_off, tbl_size = \
        struct.unpack_from("<4I", h, 96)
    epsg, = struct.unpack_from("<i", h, 132)
    pixel, = struct.unpack_from("<d", h, 152)
    lly, llx = struct.unpack_from("<2d", h, 160)
    compression = h[208]
    georef = h[244]
    nodata, = struct.unpack_from("<d", h, 296)

    mtw = sig == b"MTW"
    if mtw:
        dtype = {8: "uint8", 16: "int16", 32: "int32",
                 64: "float64"}.get(depth)
        nbands = 1
    else:
        nbands = 3 if depth in (16, 24, 32) else 1
        dtype = "uint8"
    if dtype is None:
        raise ValueError(f"RMF: bit depth {depth} unsupported")

    with open(path, "rb") as f:
        f.seek(tbl_off * mult)
        tiles = np.frombuffer(f.read(tbl_size), "<u4").reshape(-1, 2)
        color_table = None
        if not mtw and depth in (1, 4, 8) and clr_size:
            f.seek(clr_off * mult)
            raw = f.read(min(clr_size, (1 << depth) * 4))
            color_table = [(raw[i * 4], raw[i * 4 + 1],
                            raw[i * 4 + 2], 255)
                           for i in range(len(raw) // 4)]

    gt = [llx, pixel, 0.0, lly + height * pixel, 0.0, -pixel] \
        if georef and pixel else [0.0, 1.0, 0.0, 0.0, 0.0, 1.0]
    return dict(width=width, height=height, nbands=nbands,
                dtype=dtype, depth=depth, mtw=mtw,
                tile_w=tw, tile_h=th, xtiles=xtiles, ytiles=ytiles,
                tiles=tiles, mult=mult, compression=compression,
                color_table=color_table, nodata=nodata,
                geotransform=gt,
                crs=f"EPSG:{epsg}" if epsg > 0 else "")


def read_rmf(spark: SparkSession, path: str, *,
             raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    info = parse_rmf(path)
    if info["compression"] != 0:
        raise ValueError(
            f"RMF: compression {info['compression']} unsupported")
    W, H = info["width"], info["height"]
    tw, th = info["tile_w"], info["tile_h"]
    depth, mtw, nb = info["depth"], info["mtw"], info["nbands"]
    dtype = info["dtype"]
    mult = info["mult"]
    gt = info["geotransform"]
    nodata = info["nodata"] if mtw else float("nan")
    crs = info["crs"]
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    ntx = (W + tw - 1) // tw
    nty = (H + th - 1) // th

    rows = []
    for i, (off, size) in enumerate(info["tiles"][:ntx * nty]):
        tx, ty = i % ntx, i // ntx
        rows.append((tx, ty, int(off) * mult, int(size)))
    seg = blockscan.spread(
        spark, rows, "tile_x int, tile_y int, offset long, size int")

    def scan(batches):
        for pdf in batches:
            out = []
            fd = os.open(path, os.O_RDONLY)
            for r in pdf.itertuples(index=False):
                w = min(tw, W - int(r.tile_x) * tw)
                h = min(th, H - int(r.tile_y) * th)
                raw = os.pread(fd, int(r.size), int(r.offset))
                if depth == 1:
                    line = (w + 7) // 8
                    raw = raw.ljust(line * h, b"\0")
                    a = np.unpackbits(
                        np.frombuffer(raw[:line * h], np.uint8)
                        .reshape(h, line), axis=1)[:, :w]
                    planes = [a.astype(np.uint8)]
                elif depth == 4:
                    line = (w * 4 + 7) // 8
                    raw = raw.ljust(line * h, b"\0")
                    by = np.frombuffer(raw[:line * h], np.uint8) \
                        .reshape(h, line)
                    nib = np.empty((h, line * 2), np.uint8)
                    nib[:, 0::2] = by & 0x0F      # LOW nibble first
                    nib[:, 1::2] = by >> 4
                    planes = [nib[:, :w]]
                elif not mtw and depth in (24, 32):
                    bpp = depth // 8
                    raw = raw.ljust(w * h * bpp, b"\0")
                    cube = np.frombuffer(raw[:w * h * bpp], np.uint8) \
                        .reshape(h, w, bpp)
                    # band b picks byte (nbands - b): BGR -> R,G,B
                    planes = [cube[:, :, nb - b] for b in
                              range(1, nb + 1)]
                else:
                    isz = np.dtype(dtype).itemsize
                    raw = raw.ljust(w * h * isz, b"\0")
                    planes = [np.frombuffer(
                        raw[:w * h * isz],
                        np.dtype(dtype).newbyteorder("<"))
                        .reshape(h, w)]
                out += [tile_row(
                    rid, b, int(zoom), int(r.tile_x), int(r.tile_y),
                    plane.astype(np.dtype(dtype), copy=False), gt,
                    x0=int(r.tile_x) * tw, y0=int(r.tile_y) * th,
                    nodata=nodata, crs=crs, dtype=dtype)
                    for b, plane in enumerate(planes, start=1)]
            os.close(fd)
            yield pd.DataFrame(out, columns=TILE_COLUMNS)

    return seg.mapInPandas(scan, schema=TILE_SCHEMA)
