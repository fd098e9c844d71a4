"""Erdas 7.x .LAN / .GIS raster driver.

Reference:
  - gdal/frmts/raw/landataset.cpp — 128-byte header ("HEAD74" int32
    dims / "HEADER" float32 dims, :40-96), pixel type 0=8bit 1=4bit
    2=16bit (:48), BIL band interleave (IReadBlock offset
    `128 + (y * nbands + band) * ncols * pixsize` :215-221, 4-bit
    lines are ncols/2 bytes with HIGH nibble first :242-258),
    byte order sniffed by the band-count plausibility test (:93-95,
    :442-470), georeferencing floats at 112..124 naming the CENTER
    of the upper-left pixel (:534-545 subtracts half a pixel).
  - autotest/gdrivers/lan.py — fakelan.lan / fakelan4bit.lan, both
    checksum 10.

Spark lowering: 8/16-bit is the ehdr BIL raw family with skip=128 —
map-only strip preads.  4-bit packs two pixels per byte, so a band
line is ncols/2 contiguous bytes: the same block scan with an
in-kernel nibble unpack (vectorized shifts — the bmp.py sub-byte
pattern).  Zero shuffles either way.
"""

from __future__ import annotations

import os
import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from . import blockscan
from .blockscan import Layout
from .ehdr import read_raw

HEADER_SIZE = 128


def parse_lan(path: str) -> dict:
    with open(path, "rb") as f:
        hdr = f.read(HEADER_SIZE)
    magic = hdr[:6]
    if magic not in (b"HEAD74", b"HEADER"):
        raise ValueError(f"not an Erdas LAN/GIS file: {path}")
    # byte order: the band count must be plausible (:93-95)
    bo = "<"
    nbands = struct.unpack("<h", hdr[8:10])[0]
    if not 1 <= nbands <= 255:
        bo = ">"
        nbands = struct.unpack(">h", hdr[8:10])[0]
        if not 1 <= nbands <= 255:
            raise ValueError("implausible LAN band count in both orders")
    ptype = struct.unpack(bo + "h", hdr[6:8])[0]
    if magic == b"HEAD74":
        ncols, nrows = struct.unpack(bo + "ii", hdr[16:24])
    else:
        fw, fh = struct.unpack(bo + "ff", hdr[16:24])
        ncols, nrows = int(fw), int(fh)
    ulx, uly, pw, ph = struct.unpack(bo + "ffff", hdr[112:128])
    gt = [0.0, 1.0, 0.0, 0.0, 0.0, -1.0]
    if pw != 0 and ph != 0:
        # header names the CENTER of the UL pixel (:534-545)
        gt = [float(ulx) - pw / 2.0, float(pw), 0.0,
              float(uly) + ph / 2.0, 0.0, -float(ph)]
    dtype = {0: "uint8", 1: "uint8", 2: "int16"}.get(ptype)
    if dtype is None:
        raise ValueError(f"LAN pixel type {ptype} not supported")
    return dict(nrows=nrows, ncols=ncols, nbands=nbands,
                dtype=dtype, four_bit=ptype == 1, byteorder=bo,
                geotransform=gt)


def write_lan(tiles: DataFrame, path: str, *,
              tile_px: int = 256) -> dict:
    """HEAD74 sink (landataset.cpp Create :700-760): 128-byte header
    driver-side, BIL body pwrites in parallel (ehdr raw family with
    skip=128).  uint8 or int16 bands."""
    from .ehdr import _collect_meta, _write_raw_data

    m = _collect_meta(tiles)
    nrows, ncols = int(m.img_h), int(m.img_w)
    nbands, dtype = int(m.nbands), str(m.dtype)
    ptype = {"uint8": 0, "int16": 2}.get(dtype)
    if ptype is None:
        raise ValueError(f"LAN holds uint8 or int16, not {dtype}")
    gt = list(m.gt) if m.gt is not None else [0, 1, 0, 0, 0, -1]
    hdr = bytearray(HEADER_SIZE)
    hdr[:6] = b"HEAD74"
    struct.pack_into("<hh", hdr, 6, ptype, nbands)
    struct.pack_into("<ii", hdr, 16, ncols, nrows)
    # floats name the CENTER of the UL pixel (:534-545)
    struct.pack_into("<ffff", hdr, 112,
                     gt[0] + gt[1] / 2.0, gt[3] + gt[5] / 2.0,
                     gt[1], -gt[5])
    with open(path, "wb") as f:
        f.write(bytes(hdr))
    _write_raw_data(tiles, path, interleave="bil", nrows=nrows,
                    ncols=ncols, nbands=nbands, dtype=dtype,
                    tile_px=tile_px, skip=HEADER_SIZE)
    return {"path": path, "width": ncols, "height": nrows,
            "bands": nbands, "dtype": dtype}


def read_lan(spark: SparkSession, path: str, *, tile_px: int = 256,
             raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    """Distributed LAN scan -> tile table (map-only BIL strips)."""
    h = parse_lan(path)
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    if not h["four_bit"]:
        raw = dict(nrows=h["nrows"], ncols=h["ncols"],
                   nbands=h["nbands"], dtype=h["dtype"],
                   interleave="bil", skip=HEADER_SIZE,
                   geotransform=h["geotransform"],
                   byteorder=h["byteorder"], crs="")
        return read_raw(spark, path, raw, tile_px=tile_px,
                        raster_id=rid, zoom=zoom)

    # 4-bit: a band line is (ncols+1)//2 packed bytes, BIL interleaved
    ncols, nbands = h["ncols"], h["nbands"]
    line_b = (ncols + 1) // 2

    def decode(planes, strip):
        out = []
        for b, packed in planes:
            # HIGH nibble first (:242-258)
            unp = np.empty((packed.shape[0], line_b * 2), np.uint8)
            unp[:, 0::2] = packed >> 4
            unp[:, 1::2] = packed & 0x0F
            out.append((b, unp[:, :ncols]))
        return out

    return blockscan.read(
        spark, Layout(path, line_b, h["nrows"], "u1",
                      tuple(HEADER_SIZE + b * line_b for b in range(nbands)),
                      line_offset=nbands * line_b, decode=decode),
        raster_id=rid, geotransform=h["geotransform"], tile_px=tile_px,
        zoom=zoom)
