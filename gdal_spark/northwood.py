"""Northwood/Vertical Mapper GRD (.grd) driver — read.

Reference: gdal/frmts/northwood/{northwood.cpp,grddataset.cpp} —
- 1024-byte header: "HGPC" + format char ('1' = surface grid);
  dims u16@9/u16@11 (u32@128/@132 when zero), extents f64 LE
  @13/21/29/37 (node coordinates — the geotransform shifts half a
  step), zMin/zMax f32 @45/49, color inflection count u16@516 with
  7-byte entries (zVal f32 + r,g,b) from 518.
- Cell rows: u16 LE records at 1024 + y*2*W.  Band 4 (the data) is
  Float32 `zMin + (raw-1)*(zMax-zMin)/65534`, raw==0 -> nodata
  (-1e37).  Bands 1-3 are the shaded-relief VIRTUAL RGB: a
  4096-entry color map built from the inflection ramp (nwt_LoadColors
  — index 0 white, ramp segments linearly interpolated with the
  running "walker mark" fill of createIP) indexed by `raw >> 4`.
- dfStepSize = (maxX-minX)/(W-1); gt = [minX - step/2, step, 0,
  maxY + step/2, 0, -step].

Spark lowering: fixed-stride u16 strips (the raw family); the color
map is KBs of driver state shipped in the closure; all four bands
derive from the SAME strip pread — map-only.
"""

from __future__ import annotations

import os
import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from . import blockscan
from .blockscan import Layout

NODATA = -1.0e37


def _load_colors(zmin, zmax, inflections, map_size=4096) -> np.ndarray:
    """nwt_LoadColors + createIP replicated: a ramp over [zmin,zmax]
    through the header's inflection points."""
    cmap = np.zeros((map_size, 3), np.uint8)
    state = {"wm": 0}

    def create_ip(index, r, g, b):
        if index == 0:
            cmap[0] = (r, g, b)
            state["wm"] = 0
            return
        wm = state["wm"]
        if index <= wm:
            return
        base = cmap[wm].astype(np.float64)
        tgt = np.array([r, g, b], np.float64)
        slope = (tgt - base) / (index - wm)
        for i in range(wm + 1, index):
            cmap[i] = (base + (i - wm) * slope + 0.5).astype(np.uint8)
        cmap[index] = (r, g, b)
        state["wm"] = index

    create_ip(0, 255, 255, 255)
    n = len(inflections)
    if n == 0:
        return cmap

    def linear_color(lo, hi, mid):
        if mid < lo[0]:
            return lo[1:]
        if mid > hi[0]:
            return hi[1:]
        s = (mid - lo[0]) / (hi[0] - lo[0])
        return tuple(int(s * (hi[k + 1] - lo[k + 1]) + lo[k + 1] + 0.5)
                     for k in range(3))

    if zmin <= inflections[0][0]:
        create_ip(1, *inflections[0][1:])
        i = 1
    else:
        i = 1
        while i < n:
            if zmin < inflections[i][0]:
                c = linear_color(inflections[i - 1], inflections[i],
                                 zmin)
                create_ip(1, *c)
                break
            i += 1
    if i >= n:
        create_ip(1, *inflections[-1][1:])
        create_ip(map_size - 1, *inflections[-1][1:])
        return cmap
    index = 0
    while i < n:
        if zmax < inflections[i][0]:
            c = linear_color(inflections[i - 1], inflections[i], zmax)
            index = map_size - 1
            create_ip(index, *c)
            break
        index = int(((inflections[i][0] - zmin) / (zmax - zmin))
                    * map_size)
        index = min(index, map_size - 1)
        create_ip(index, *inflections[i][1:])
        i += 1
    if index < map_size - 1:
        create_ip(map_size - 1, *inflections[-1][1:])
    return cmap


def parse_grd(path: str) -> dict:
    with open(path, "rb") as f:
        hdr = f.read(1024)
    if hdr[:4] != b"HGPC" or hdr[4:5] != b"1":
        raise ValueError(f"not a Northwood GRD surface: {path}")
    W, = struct.unpack_from("<H", hdr, 9)
    H, = struct.unpack_from("<H", hdr, 11)
    if W == 0:
        W, = struct.unpack_from("<I", hdr, 128)
    if H == 0:
        H, = struct.unpack_from("<I", hdr, 132)
    xmin, = struct.unpack_from("<d", hdr, 13)
    xmax, = struct.unpack_from("<d", hdr, 21)
    ymin, = struct.unpack_from("<d", hdr, 29)
    ymax, = struct.unpack_from("<d", hdr, 37)
    zmin, = struct.unpack_from("<f", hdr, 45)
    zmax, = struct.unpack_from("<f", hdr, 49)
    ninf, = struct.unpack_from("<H", hdr, 516)
    inflections = []
    if ninf <= 32:
        for i in range(ninf):
            z, = struct.unpack_from("<f", hdr, 518 + 7 * i)
            r, g, b = hdr[522 + 7 * i], hdr[523 + 7 * i], \
                hdr[524 + 7 * i]
            inflections.append((z, r, g, b))
    step = (xmax - xmin) / (W - 1) if W > 1 else 1.0
    gt = [xmin - step * 0.5, step, 0.0, ymax + step * 0.5, 0.0,
          -step]
    return dict(width=W, height=H, zmin=zmin, zmax=zmax,
                inflections=inflections, geotransform=gt)


def read_grd(spark: SparkSession, path: str, *, tile_px: int = 256,
             raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    """Four bands: 1-3 = ramp RGB (uint8), 4 = Float32 Z."""
    h = parse_grd(path)
    zmin, zmax = h["zmin"], h["zmax"]
    scale = (zmax - zmin) / 65534.0
    cmap = _load_colors(zmin, zmax, h["inflections"])

    def decode(planes, strip):
        u16 = planes[0][1]
        z = (zmin + (u16.astype(np.float64) - 1)
             * scale).astype(np.float32)
        z[u16 == 0] = NODATA
        rgb = cmap[u16 >> 4]
        return [(1, rgb[:, :, 0]), (2, rgb[:, :, 1]), (3, rgb[:, :, 2]),
                (4, z)]

    return blockscan.read(
        spark, Layout(path, h["width"], h["height"], "<u2", (1024,),
                      decode=decode),
        raster_id=raster_id or os.path.splitext(os.path.basename(path))[0],
        geotransform=h["geotransform"], tile_px=tile_px, zoom=zoom,
        nodata={4: NODATA})


def parse_grc(path: str) -> dict:
    """Northwood classified grid (format char '8'): band 1 = raw
    class indices at 1024, pixel width = header[1023]*8 bits
    (grcdataset.cpp + nwt_ParseHeader :196-205)."""
    with open(path, "rb") as f:
        hdr = f.read(1024)
    if hdr[:4] != b"HGPC" or hdr[4:5] != b"8":
        raise ValueError(f"not a Northwood GRC grid: {path}")
    W, = struct.unpack_from("<H", hdr, 9)
    H, = struct.unpack_from("<H", hdr, 11)
    if W == 0:
        W, = struct.unpack_from("<I", hdr, 128)
    if H == 0:
        H, = struct.unpack_from("<I", hdr, 132)
    xmin, = struct.unpack_from("<d", hdr, 13)
    xmax, = struct.unpack_from("<d", hdr, 21)
    ymax, = struct.unpack_from("<d", hdr, 37)
    # GRC bit width: header[1023]==0 -> 16, else *4
    # (nwt_ParseHeader :196-202 — the GRD branch uses *8)
    bits = 16 if hdr[1023] == 0 else hdr[1023] * 4
    dtype = {8: "u1", 16: "<u2", 32: "<u4"}.get(bits)
    if dtype is None:
        raise ValueError(f"GRC bits per pixel {bits}")
    step = (xmax - xmin) / (W - 1) if W > 1 else 1.0
    return dict(width=W, height=H, dtype=dtype,
                geotransform=[xmin - step * 0.5, step, 0.0,
                              ymax + step * 0.5, 0.0, -step])


def read_grc(spark: SparkSession, path: str, *, tile_px: int = 256,
             raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    h = parse_grc(path)
    return blockscan.read(
        spark, Layout(path, h["width"], h["height"], h["dtype"], (1024,)),
        raster_id=raster_id or os.path.splitext(os.path.basename(path))[0],
        geotransform=h["geotransform"], tile_px=tile_px, zoom=zoom)
