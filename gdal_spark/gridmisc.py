"""Grid-format drivers: ELAS, BYN (NRCan geoid), JDEM (Japanese DEM),
ISG (International Service for the Geoid), PCRaster CSF.

Reference:
  - gdal/frmts/elas/elasdataset.cpp — 1024-byte BIG-endian header
    (NBIH/NBPR/IL/LL/IE/LE/NC), data records at literal 1024 with
    per-line stride NBPR, band b of line y at
    `1024 + y*NBPR + (b-1)*xsize*isz` (IReadBlock :186); types from
    IH19 ((IH19[2]&0x7e)>>2: 0/1=byte, 16=f32, 17=f64, BE);
    XOffset/YOffset name the UL pixel CENTER, gt shifts half a
    pixel (:455-475).
  - gdal/frmts/raw/byndataset.{h,cpp} — 80-byte header (boundaries
    in arcseconds, i32; DLat/DLon i16; Factor f64; SizeOf 2/4;
    ByteOrder field; Scale flag divides stored bounds by 1000);
    size = (span+1)/step + 1, gt in DEGREES with half-cell shift
    (:276-292); int16/int32 rows north-first at offset 80.
  - gdal/frmts/jdem/jdemdataset.cpp — 1011-byte ASCII header,
    xsize/ysize 3-char fields at +23/+26, row records of
    `xsize*5 + 9 + 2` bytes, elevations 5-char ints * 0.1 -> f32
    (IReadBlock :153-196), georef from DDDMMSS.S angle fields.
  - gdal/frmts/aaigrid/aaigriddataset.cpp ISGDataset — free-text
    preamble, `begin_of_head`..`end_of_head`, lat/lon min/max +
    delta + nrows/ncols, first data row = NORTH row; bounds name
    cell edges when span == n*delta, centers when span ==
    (n-1)*delta.
  - gdal/frmts/pcraster/libcsf — CSF fixed layout (csfimpl.h):
    main header at 0 (sig 32, version u16, ...), raster header at
    64 (valueScale u16, cellRepr u16, min/max 8+8, xUL/yUL f64,
    nrRows/nrCols u32, cellSize f64), cell matrix at 256 row-major;
    cellRepr codes 0x00 u8, 0x04 s8, 0x11 u16, 0x15 s16, 0x22 u32,
    0x26 s32, 0x5A f32, 0xDB f64; byteOrder word 0x00000001 = native
    little-endian.

Spark lowering: ELAS/BYN/PCRaster/Leveller/DIPEx are stride-offset
raw strips read by the shared block scan (blockscan: the driver reads
the KB header, executors pread closed-form strips); JDEM rows are
fixed-size ASCII records so the strip offsets stay closed-form TEXT
ranges; ISG rides the asciigrid line-parallel scan (spark.read.text +
zipindex).  All map-only.
"""

from __future__ import annotations

import math
import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import blockscan
from .blockscan import Layout
from .synth import TILE_COLUMNS, TILE_SCHEMA, tile_row

_DESC = T.StructType([
    T.StructField("band", T.IntegerType()),
    T.StructField("tile_y", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
])


def _read_grid(spark, path, h, offset, *, tile_px, raster_id, zoom):
    """One-band top-down grid of h["dtype"] at `offset`."""
    return blockscan.read(
        spark, Layout(path, h["width"], h["height"], h["dtype"], (offset,)),
        raster_id=raster_id or os.path.splitext(os.path.basename(path))[0],
        geotransform=h["geotransform"], tile_px=tile_px, zoom=zoom)


def _read_records(spark, path, h, *, tile_px, raster_id, zoom):
    """ELAS/DIPEx: line records of NBPR bytes at 1024, band b of a line
    at byte b*xsize*itemsize of its record."""
    isz = np.dtype(h["dtype"]).itemsize
    W = h["width"]
    return blockscan.read(
        spark, Layout(path, W, h["height"], h["dtype"],
                      tuple(1024 + b * W * isz for b in range(h["nbands"])),
                      line_offset=h["line_stride"]),
        raster_id=raster_id or os.path.splitext(os.path.basename(path))[0],
        geotransform=h["geotransform"], tile_px=tile_px, zoom=zoom)


# ----------------------------------------------------------------- ELAS
def parse_elas(path: str) -> dict:
    with open(path, "rb") as f:
        hdr = f.read(1024)
    nbih, nbpr, il, ll, ie, le, nc, h4321 = struct.unpack(
        ">8i", hdr[:32])
    if h4321 != 4321:
        raise ValueError(f"not an ELAS file: {path}")
    H = ll - il + 1
    W = le - ie + 1
    # layout: 8 i32 (0..32), YLabel[4]@32, YOffset@36, XLabel[4]@40,
    # XOffset@44, YPixSize@48, XPixSize@52, Matrix[4]@56, IH19@72
    ih19 = hdr[72:76]
    code = (ih19[2] & 0x7E) >> 2
    size = ih19[3]
    if code in (0, 1) and size == 1:
        dtype = "uint8"
    elif code == 16 and size == 4:
        dtype = ">f4"
    elif code == 17 and size == 8:
        dtype = ">f8"
    else:
        raise ValueError(f"ELAS data type {code}/{size}")
    yoff = struct.unpack(">i", hdr[36:40])[0]
    xoff = struct.unpack(">i", hdr[44:48])[0]
    ypix, xpix = struct.unpack(">ff", hdr[48:56])
    gt = [0.0, 1.0, 0.0, 0.0, 0.0, 1.0]
    if xoff != 0:
        gt = [xoff - xpix * 0.5, float(xpix), 0.0,
              yoff + abs(ypix) * 0.5, 0.0, -abs(float(ypix))]
    return dict(width=W, height=H, nbands=nc, dtype=dtype,
                line_stride=nbpr, geotransform=gt)


def read_elas(spark: SparkSession, path: str, *, tile_px: int = 256,
              raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    return _read_records(spark, path, parse_elas(path), tile_px=tile_px,
                         raster_id=raster_id, zoom=zoom)


# ------------------------------------------------------------------ BYN
def parse_byn(path: str) -> dict:
    with open(path, "rb") as f:
        hdr = f.read(80)

    def fields(bo):
        s, n, w, e = struct.unpack(bo + "4i", hdr[:16])
        dlat, dlon, glob, typ = struct.unpack(bo + "4h", hdr[16:24])
        factor, = struct.unpack(bo + "d", hdr[24:32])
        size, vdatum = struct.unpack(bo + "2h", hdr[32:36])
        descr, sub, datum, ell, border, scale = struct.unpack(
            bo + "6h", hdr[42:54])
        return dict(south=s, north=n, west=w, east=e, dlat=dlat,
                    dlon=dlon, glob=glob, typ=typ, factor=factor,
                    size=size, vdatum=vdatum, descr=descr, sub=sub,
                    datum=datum, ell=ell, border=border, scale=scale)

    def valid(h):
        return (0 <= h["glob"] <= 1 and 0 <= h["typ"] <= 9
                and h["size"] in (2, 4) and 0 <= h["vdatum"] <= 3
                and 0 <= h["descr"] <= 3 and 0 <= h["sub"] <= 9
                and 0 <= h["datum"] <= 1 and 0 <= h["ell"] <= 7
                and 0 <= h["border"] <= 1 and 0 <= h["scale"] <= 1
                and h["dlat"] != 0 and h["dlon"] != 0)

    h = fields("<")
    if not valid(h):
        h = fields(">")
        if not valid(h):
            raise ValueError(f"not a BYN file: {path}")
    sc = 1000.0 if h["scale"] == 1 else 1.0
    south, north = h["south"] * sc, h["north"] * sc
    west, east = h["west"] * sc, h["east"] * sc
    dlat, dlon = h["dlat"] * sc, h["dlon"] * sc
    W = int((east - west + 1.0) / dlon + 1.0)
    H = int((north - south + 1.0) / dlat + 1.0)
    gt = [(west - dlon / 2.0) / 3600.0, dlon / 3600.0, 0.0,
          (north + dlat / 2.0) / 3600.0, 0.0, -dlat / 3600.0]
    dt = ("<" if h["border"] == 1 else ">") + \
        ("i2" if h["size"] == 2 else "i4")
    return dict(width=W, height=H, dtype=dt, factor=h["factor"],
                geotransform=gt)


def read_byn(spark: SparkSession, path: str, *, tile_px: int = 256,
             raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    h = parse_byn(path)
    return _read_grid(spark, path, h, 80, tile_px=tile_px,
                      raster_id=raster_id, zoom=zoom)


# ----------------------------------------------------------------- JDEM
def _jfield(raw: bytes, off: int, width: int) -> int:
    s = raw[off:off + width].decode("ascii", "replace").strip()
    return int(s) if s and s.lstrip("-").isdigit() else 0


def _jangle(raw: bytes, off: int) -> float:
    v = _jfield(raw, off, 7)
    deg, mn, sec = v // 10000, (v // 100) % 100, v % 100
    return deg + mn / 60.0 + sec / 3600.0


def parse_jdem(path: str) -> dict:
    with open(path, "rb") as f:
        hdr = f.read(1011)
    W = _jfield(hdr, 23, 3)
    H = _jfield(hdr, 26, 3)
    if W <= 0 or H <= 0:
        raise ValueError(f"not a JDEM file: {path}")
    # lower-left / upper-right corner angles (jdemdataset Open)
    lls = _jangle(hdr, 29)
    lll = _jangle(hdr, 36)
    urs = _jangle(hdr, 43)
    url = _jangle(hdr, 50)
    gt = [lll, (url - lll) / W if url > lll else 1.0, 0.0,
          urs, 0.0, -((urs - lls) / H) if urs > lls else -1.0]
    return dict(width=W, height=H, record=W * 5 + 9 + 2,
                geotransform=gt)


def read_jdem(spark: SparkSession, path: str, *, tile_px: int = 256,
              raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    h = parse_jdem(path)
    W, rec = h["width"], h["record"]
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    nty = math.ceil(h["height"] / tile_px)
    rows = [(0, ty, min(tile_px, h["height"] - ty * tile_px))
            for ty in range(nty)]
    desc = blockscan.spread(spark, rows, _DESC)
    gt = h["geotransform"]
    fsize = os.path.getsize(path)

    def scan(batches):
        for pdf in batches:
            out = []
            with open(path, "rb") as f:
                fd = f.fileno()
                for r in pdf.itertuples(index=False):
                    hh = int(r.height)
                    y0 = int(r.tile_y) * tile_px
                    plane = np.zeros((hh, W), np.float32)
                    for i in range(hh):
                        off = 1011 + rec * (y0 + i)
                        raw = os.pread(fd, min(rec, fsize - off), off)
                        for x in range(W):
                            plane[i, x] = _jfield(
                                raw, 9 + 5 * x, 5) * np.float32(0.1)
                    out.append(tile_row(rid, 1, int(zoom), 0,
                                        int(r.tile_y), plane, gt, y0=y0))
            yield pd.DataFrame(out, columns=TILE_COLUMNS)

    return desc.mapInPandas(scan, schema=TILE_SCHEMA)


# ------------------------------------------------------------------ ISG
def parse_isg(path: str) -> dict:
    kv = {}
    header_lines = 0
    in_head = False
    with open(path, "r", encoding="utf-8", errors="replace") as f:
        for i, line in enumerate(f):
            if line.startswith("begin_of_head"):
                in_head = True
            elif line.startswith("end_of_head"):
                header_lines = i + 1
                break
            elif in_head and "=" in line:
                k, v = line.split("=", 1)
                kv[k.strip().lower()] = v.strip()
    if not header_lines:
        raise ValueError(f"no end_of_head in ISG file: {path}")
    nrows = int(kv["nrows"])
    ncols = int(kv["ncols"])
    dlat = float(kv["delta lat"])
    dlon = float(kv["delta lon"])
    lat0, lat1 = float(kv["lat min"]), float(kv["lat max"])
    lon0, lon1 = float(kv["lon min"]), float(kv["lon max"])
    # edges when the span covers n cells, centers when n-1
    if abs((lat1 - lat0) - (nrows - 1) * dlat) < 1e-9:
        lat1 += dlat / 2.0
        lon0 -= dlon / 2.0
    return dict(nrows=nrows, ncols=ncols, header_lines=header_lines,
                nodata=float(kv.get("nodata", "-9999")),
                geotransform=[lon0, dlon, 0.0, lat1, 0.0, -dlat])


def read_isg(spark: SparkSession, path: str, *, tile_px: int = 256,
             raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    """ISG scan on the asciigrid line-parallel machinery (one data
    line per grid row, first row = NORTH)."""
    from .asciigrid import _assemble_tiles, _fragment_lines
    from .zipindex import with_global_index

    h = parse_isg(path)
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    lines = with_global_index(spark.read.text(path), "_ln")
    frags = _fragment_lines(
        lines.filter(F.col("_ln") >= h["header_lines"]),
        h["header_lines"], h["ncols"], tile_px)
    return _assemble_tiles(frags, h["geotransform"], h["nrows"],
                           h["ncols"], tile_px, "float32",
                           h["nodata"], rid, zoom, "")


# ------------------------------------------------------------- PCRaster
_CSF_REPR = {0x00: "uint8", 0x04: "int8", 0x11: "uint16",
             0x15: "int16", 0x22: "uint32", 0x26: "int32",
             0x5A: "float32", 0xDB: "float64"}


def parse_csf(path: str) -> dict:
    with open(path, "rb") as f:
        hdr = f.read(256)
    if hdr[:27] != b"RUU CROSS SYSTEM MAP FORMAT":
        raise ValueError(f"not a PCRaster CSF file: {path}")
    vs, repr_ = struct.unpack_from("<HH", hdr, 64)
    xul, yul = struct.unpack_from("<dd", hdr, 84)
    nrows, ncols = struct.unpack_from("<II", hdr, 100)
    cell, = struct.unpack_from("<d", hdr, 108)
    dtype = _CSF_REPR.get(repr_)
    if dtype is None:
        raise ValueError(f"CSF cell representation 0x{repr_:02x}")
    return dict(width=int(ncols), height=int(nrows), dtype=dtype,
                value_scale=vs,
                geotransform=[xul, cell, 0.0, yul, 0.0, -cell])


def read_pcraster(spark: SparkSession, path: str, *,
                  tile_px: int = 256, raster_id: str | None = None,
                  zoom: int = 0) -> DataFrame:
    return _read_grid(spark, path, parse_csf(path), 256, tile_px=tile_px,
                      raster_id=raster_id, zoom=zoom)


# -------------------------------------------------------------- Leveller
def parse_leveller(path: str) -> dict:
    """Leveller .ter tag walk (frmts/leveller/levellerdataset.cpp
    locate_data :1021 — after the 5-byte 'trrn'+version header,
    repeated [len u8][name][datalen u32 LE][data]); hf_data is a
    float32 LE top-down grid (v6+), raw values (the worldscale
    multiply is compiled out, :586-590); hf_worldspacing centers the
    origin on the heightfield."""
    with open(path, "rb") as f:
        head = f.read(5)
        if head[:4] != b"trrn":
            raise ValueError(f"not a Leveller terrain: {path}")
        version = head[4]
        tags = {}
        while True:
            c = f.read(1)
            if not c:
                break
            dlen = c[0]
            if dlen == 0 or dlen > 64:
                break
            name = f.read(dlen).decode("latin-1", "replace")
            raw = f.read(4)
            if len(raw) < 4:
                break
            n, = struct.unpack("<I", raw)
            tags[name] = (f.tell(), n)
            f.seek(n, 1)

        def tag_int(name):
            off, n = tags[name]
            f.seek(off)
            return struct.unpack("<i", f.read(4))[0]

        def tag_double(name, default=None):
            if name not in tags:
                return default
            off, n = tags[name]
            f.seek(off)
            if n == 8:
                return struct.unpack("<d", f.read(8))[0]
            return float(struct.unpack("<f", f.read(4))[0])

        W = tag_int("hf_w")
        H = tag_int("hf_b")
        if "hf_data" not in tags:
            raise ValueError("Leveller file without hf_data")
        data_off, dlen = tags["hf_data"]
        ws = tag_double("hf_worldspacing")
    gt = [0.0, 1.0, 0.0, 0.0, 0.0, 1.0]
    if ws is not None:
        gt = [-0.5 * ws * (W - 1), ws, 0.0,
              -0.5 * ws * (H - 1), 0.0, ws]
    return dict(width=W, height=H, version=version,
                data_off=data_off, geotransform=gt)


def read_leveller(spark: SparkSession, path: str, *,
                  tile_px: int = 256, raster_id: str | None = None,
                  zoom: int = 0) -> DataFrame:
    h = parse_leveller(path)
    return _read_grid(spark, path, dict(h, dtype="<f4"), h["data_off"],
                      tile_px=tile_px, raster_id=raster_id, zoom=zoom)


# ---------------------------------------------------------------- DIPEx
def parse_dipex(path: str) -> dict:
    """DIPEx — the LITTLE-endian ELAS variant (frmts/raw/
    dipxdataset.cpp): magic 4322 at offset 28, type=(IH19[1]&0x7e)>>2
    with size=IH19[0] (note the byte swap vs ELAS), data records of
    NBPR bytes at literal 1024."""
    with open(path, "rb") as f:
        hdr = f.read(1024)
    nbih, nbpr, il, ll, ie, le, nc, h4322 = struct.unpack(
        "<8i", hdr[:32])
    if h4322 != 4322:
        raise ValueError(f"not a DIPEx file: {path}")
    ih19 = hdr[72:76]
    code = (ih19[1] & 0x7E) >> 2
    size = ih19[0]
    if code in (0, 1) and size == 1:
        dtype = "u1"
    elif code == 16 and size == 4:
        dtype = "<f4"
    elif code == 17 and size == 8:
        dtype = "<f8"
    else:
        raise ValueError(f"DIPEx data type {code}/{size}")
    return dict(width=le - ie + 1, height=ll - il + 1, nbands=nc,
                dtype=dtype, line_stride=nbpr,
                geotransform=[0.0, 1.0, 0.0, 0.0, 0.0, 1.0])


def read_dipex(spark: SparkSession, path: str, *, tile_px: int = 256,
               raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    return _read_records(spark, path, parse_dipex(path), tile_px=tile_px,
                         raster_id=raster_id, zoom=zoom)


# ------------------------------------------------------------------ CTG
def read_ctg(spark: SparkSession, path: str, *,
             raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    """USGS LULC Composite Theme Grid (frmts/ctg/ctgdataset.cpp):
    five 80-char header records (rows@0, cols@20, cellsize@35, UTM
    zone@50; NW corner at record 4 offsets 40/50), then one 80-char
    record per CELL (zone, easting, northing, six 10-char int32
    themes; >= 2e9 -> 0); cells place by their center coordinates
    against the NW origin.  Files are small legacy city grids — the
    FILE is the distributed unit; each kernel fills its 6-band image
    with one vectorized pass."""
    with open(path, "rb") as f:
        hdr = f.read(5 * 80).decode("ascii", "replace")
    nrows = int(hdr[0:10])
    ncols = int(hdr[20:30])
    cell = int(hdr[35:40])
    zone = int(hdr[50:55])
    nwe = int(hdr[3 * 80 + 40:3 * 80 + 50])
    nwn = int(hdr[3 * 80 + 50:3 * 80 + 60])
    gt = [nwe - cell / 2, float(cell), 0.0, nwn + cell / 2, 0.0,
          float(-cell)]
    rid = raster_id or os.path.basename(path)
    desc = spark.createDataFrame(
        [(path,)], "path string").repartition(1)

    def scan(batches):
        for pdf in batches:
            out = []
            for p in pdf["path"]:
                with open(p, "rb") as f:
                    f.seek(5 * 80)
                    body = f.read()
                n = len(body) // 80
                img = np.zeros((6, nrows, ncols), np.int32)
                for k in range(n):
                    ln = body[k * 80:(k + 1) * 80].decode(
                        "ascii", "replace")
                    x = int(ln[3:11]) - cell // 2
                    y = int(ln[11:19]) + cell // 2
                    cx = (x - nwe) // cell
                    cy = (nwn - y) // cell
                    if not (0 <= cx < ncols and 0 <= cy < nrows):
                        continue
                    for i in range(6):
                        v = int(ln[20 + 10 * i:30 + 10 * i])
                        img[i, cy, cx] = 0 if v >= 2000000000 else v
                out += [tile_row(rid, b + 1, int(zoom), 0, 0, img[b], gt,
                                 crs=f"EPSG:{32600 + zone}")
                        for b in range(6)]
            yield pd.DataFrame(out, columns=TILE_COLUMNS)

    return desc.mapInPandas(scan, schema=TILE_SCHEMA)
