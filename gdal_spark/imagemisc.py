"""SGI image, Terragen terrain, and ILWIS raster drivers.

Reference:
  - gdal/frmts/sgi/sgidataset.cpp — 512-byte BIG-endian header
    (magic 474, storage 0=verbatim/1=RLE, bpc, xsize/ysize/zsize);
    rows stored BOTTOM-UP (ImageGetRow flips :129); verbatim row y
    of channel z at `512 + y*xsize + z*xsize*ysize`; RLE uses
    u32-BE rowStart/rowSize tables at 512 (ysize*zsize each) and
    the classic SGI packbits variant (high bit of the count byte =
    literal run, clear = repeat, 0 terminates).
  - gdal/frmts/terragen/terragendataset.cpp — "TERRAGENTERRAIN "
    signature, 8-byte-aligned chunk tags (SIZE/XPTS/YPTS/SCAL/ALTW);
    ALTW = heightscale i16, baseheight i16, then a LE int16 grid
    stored BOTTOM-UP (IReadBlock seeks ysize-1-y :279-282); band is
    Int16 with scale = SCAL * hs/65536.
  - gdal/frmts/ilwis/ilwisdataset.cpp — .mpr INI ([MapStore]
    Data/Type/RowLength), Byte/Int/Long/Float/Real store types,
    CoordBounds edge coordinates, .grf GeoRefCorners; the .mp# body
    is plain top-down raw rows.

Spark lowering: ILWIS, verbatim SGI and Terragen are raw strips of
the shared block scan (bottom-up for SGI and Terragen); RLE SGI
scanlines are independent byte ranges, so the layout carries the
format's own (rowStart, rowSize) table and a strip reads from its first
line's start to its last line's end, decoding its own lines.  All
map-only.
"""

from __future__ import annotations

import os
import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from . import blockscan
from .blockscan import Layout

# ------------------------------------------------------------------ SGI


def parse_sgi(path: str) -> dict:
    with open(path, "rb") as f:
        hdr = f.read(512)
    magic, storage, bpc = struct.unpack(">hBB", hdr[:4])
    if magic != 474:
        raise ValueError(f"not an SGI image: {path}")
    dim, xs, ys, zs = struct.unpack(">4H", hdr[4:12])
    if bpc != 1:
        raise ValueError("SGI bpc=2 not supported")
    if dim < 3:
        zs = 1
    tables = None
    if storage == 1:
        n = ys * zs
        with open(path, "rb") as f:
            f.seek(512)
            raw = f.read(8 * n)
        starts = np.frombuffer(raw[:4 * n], ">u4")
        sizes = np.frombuffer(raw[4 * n:8 * n], ">u4")
        tables = (starts, sizes)
    return dict(width=xs, height=ys, nbands=zs, rle=storage == 1,
                tables=tables)


def _sgi_rle_decode(raw: bytes, w: int) -> np.ndarray:
    out = np.zeros(w, np.uint8)
    p = pos = 0
    while p < len(raw):
        c = raw[p]
        p += 1
        n = c & 0x7F
        if n == 0:
            break
        if c & 0x80:                      # literal run
            out[pos:pos + n] = np.frombuffer(raw[p:p + n], np.uint8)
            p += n
        else:                             # repeat next byte
            out[pos:pos + n] = raw[p]
            p += 1
        pos += n
    return out


def read_sgi(spark: SparkSession, path: str, *, tile_px: int = 256,
             raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    h = parse_sgi(path)
    W, H, nb = h["width"], h["height"], h["nbands"]
    decode = table = None
    if h["rle"]:
        table = h["tables"]

        def decode(planes, s):
            # stored lines line0+h-1 .. line0, i.e. the strip top-down
            b = s.bands[0]
            lines = []
            for fy in range(s.line0 + s.h - 1, s.line0 - 1, -1):
                st = int(table[0][b * H + fy]) - s.offset
                lines.append(_sgi_rle_decode(
                    s.raw[st:st + int(table[1][b * H + fy])], W))
            return [(b + 1, np.stack(lines))]

    return blockscan.read(
        spark, Layout(path, W, H, "u1",
                      tuple(512 + b * W * H for b in range(nb)),
                      bottom_up=True, out_dtype="uint8", decode=decode,
                      line_table=table),
        raster_id=raster_id or os.path.splitext(os.path.basename(path))[0],
        geotransform=[0.0, 1.0, 0.0, 0.0, 0.0, -1.0], tile_px=tile_px,
        zoom=zoom)


# ------------------------------------------------------------- Terragen
def parse_terragen(path: str) -> dict:
    with open(path, "rb") as f:
        hdr = f.read(16)
        if hdr != b"TERRAGENTERRAIN ":
            raise ValueError(f"not a Terragen terrain: {path}")
        xpts = ypts = None
        scal = (30.0, 30.0, 30.0)
        hs = bh = 0
        data_off = None
        while True:
            tag = f.read(4)
            if len(tag) < 4 or tag == b"EOF ":
                break
            if tag == b"SIZE":
                n, = struct.unpack("<h", f.read(2))
                f.seek(2, 1)
                xpts = ypts = n + 1
            elif tag == b"XPTS":
                xpts, = struct.unpack("<h", f.read(2))
                f.seek(2, 1)
            elif tag == b"YPTS":
                ypts, = struct.unpack("<h", f.read(2))
                f.seek(2, 1)
            elif tag == b"SCAL":
                scal = struct.unpack("<3f", f.read(12))
            elif tag == b"CRAD":
                f.seek(4, 1)
            elif tag == b"CRVM":
                f.seek(4, 1)
            elif tag == b"ALTW":
                hs, bh = struct.unpack("<hh", f.read(4))
                data_off = f.tell()
                break
            else:
                f.seek(4, 1)
    if data_off is None or xpts is None:
        raise ValueError("Terragen file without ALTW/size chunks")
    return dict(width=xpts, height=ypts, data_off=data_off,
                heightscale=hs, baseheight=bh, scal=scal)


def read_terragen(spark: SparkSession, path: str, *,
                  tile_px: int = 256, raster_id: str | None = None,
                  zoom: int = 0) -> DataFrame:
    """Int16 band (value scale SCAL*hs/65536 carried in the module's
    parse dict, the reference's band metadata) — bottom-up strips."""
    h = parse_terragen(path)
    W, H = h["width"], h["height"]
    scal = h["scal"]
    return blockscan.read(
        spark, Layout(path, W, H, "<i2", (h["data_off"],), bottom_up=True),
        raster_id=raster_id or os.path.splitext(os.path.basename(path))[0],
        geotransform=[0.0, scal[0], 0.0, H * scal[1], 0.0, -scal[1]],
        tile_px=tile_px, zoom=zoom)


# ---------------------------------------------------------------- ILWIS
_ILWIS_TYPES = {"byte": "uint8", "int": "int16", "long": "int32",
                "float": "float32", "real": "float64"}


def parse_ilwis(path: str) -> dict:
    import configparser

    cp = configparser.ConfigParser(strict=False)
    cp.optionxform = str.lower
    with open(path, "r", encoding="utf-8", errors="replace") as f:
        cp.read_string(f.read())
    store = {k.lower(): v for k, v in cp["MapStore"].items()} \
        if cp.has_section("MapStore") else {}
    mp = {k.lower(): v for k, v in cp["Map"].items()} \
        if cp.has_section("Map") else {}
    base = {k.lower(): v for k, v in cp["BaseMap"].items()} \
        if cp.has_section("BaseMap") else {}
    size = mp.get("size", "").split()
    H, W = int(size[0]), int(size[1])
    dtype = _ILWIS_TYPES.get(store.get("type", "byte").lower())
    if dtype is None:
        raise ValueError(f"ILWIS store type {store.get('type')!r}")
    gt = [0.0, 1.0, 0.0, 0.0, 0.0, -1.0]
    if "coordbounds" in base:
        x0, y0, x1, y1 = (float(v) for v in base["coordbounds"].split())
        gt = [x0, (x1 - x0) / W, 0.0, y1, 0.0, -(y1 - y0) / H]
    data = store.get("data", "")
    d = os.path.dirname(path) or "."
    return dict(nrows=H, ncols=W, nbands=1, dtype=dtype,
                interleave="bip",
                skip=int(store.get("startoffset", "0")),
                geotransform=gt,
                byteorder=">" if store.get("swapbytes", "No") == "Yes"
                else "<",
                crs="", data=os.path.join(d, os.path.basename(data)))


def read_ilwis(spark: SparkSession, path: str, *, tile_px: int = 256,
               raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    from .ehdr import read_raw

    hdr = parse_ilwis(path)
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    return read_raw(spark, hdr["data"], hdr, tile_px=tile_px,
                    raster_id=rid, zoom=zoom)
