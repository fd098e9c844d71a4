"""Labelled-raw raster drivers: RRASTER (R 'raster' package),
GenBin (Generic Binary .hdr), PAux (PCI .aux labelled raw), and
MFF (Vexcel .hdr, untiled + tiled).

Reference:
  - gdal/frmts/raw/rrasterdataset.cpp — `[section]\\nkey=value` .grd
    header beside a raw .gri body; INT1U..FLT8S type names,
    bandorder BIL/BIP/BSQ, xmin/xmax/ymin/ymax EDGE coordinates.
  - gdal/frmts/raw/genbindataset.cpp — `KEY: value` .hdr beside a
    .bil; U8/U16/S16/F32... DATATYPE, UL_X/UL_Y name the CENTER of
    the upper-left pixel (Open computes gt with the half-pixel
    shift), PIXEL_WIDTH/HEIGHT.
  - gdal/frmts/raw/pauxdataset.cpp — `AuxilaryTarget/RawDefinition/
    ChanDefinition-N: type offset pixOffset lineOffset Swapped`;
    UpLeftX/LoRightX are EDGES (GetGeoTransform :535 divides by the
    raster size directly, no half-pixel shift).
  - gdal/frmts/raw/mffdataset.cpp — keyword `=` header; band files
    by extension letter (b=u8, i=u16, r=f32), optional refined
    `type` (I*2, U*2, R*8...); tiled variant via tile_size_rows/
    columns with block k at bsize*(bx + by*tilesPerRow) (IReadBlock
    :165); short tail reads are legal (fixtures are truncated) and
    pad with zeros.

Spark lowering: all four are raw-strip layouts of the shared block
scan (blockscan) — driver reads the KB label, executors pread
closed-form strips; PAux's arbitrary per-channel (offset, pixOffset,
lineOffset) triples become numpy strided views over one contiguous
strip pread.  Tiled MFF reads its block grid directly.  Map-only,
zero shuffles.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import blockscan
from .blockscan import Layout
from .ehdr import read_raw
from .synth import TILE_COLUMNS, TILE_SCHEMA, tile_row

# ------------------------------------------------------------- RRASTER
_R_TYPES = {
    "LOG1S": "uint8", "INT1S": "int8", "INT2S": "int16",
    "INT4S": "int32", "INT1U": "uint8", "INT2U": "uint16",
    "INT4U": "uint32", "FLT4S": "float32", "FLT8S": "float64",
}
_R_BACK = {"uint8": "INT1U", "int8": "INT1S", "int16": "INT2S",
           "int32": "INT4S", "uint16": "INT2U", "uint32": "INT4U",
           "float32": "FLT4S", "float64": "FLT8S"}


def parse_rraster(path: str) -> dict:
    base = os.path.splitext(path)[0]
    kv = {}
    with open(base + ".grd", "r", encoding="utf-8",
              errors="replace") as f:
        for line in f:
            line = line.strip()
            if "=" in line and not line.startswith("["):
                k, v = line.split("=", 1)
                kv[k.strip().lower()] = v.strip()
    dtype = _R_TYPES.get(kv.get("datatype", "").upper())
    if dtype is None:
        raise ValueError(f"RRASTER datatype {kv.get('datatype')!r}")
    nrows, ncols = int(kv["nrows"]), int(kv["ncols"])
    xmin, xmax = float(kv["xmin"]), float(kv["xmax"])
    ymin, ymax = float(kv["ymin"]), float(kv["ymax"])
    nodata = kv.get("nodatavalue", "NA")
    return dict(
        nrows=nrows, ncols=ncols, nbands=int(kv.get("nbands", "1")),
        dtype=dtype,
        interleave=kv.get("bandorder", "BIL").lower(), skip=0,
        geotransform=[xmin, (xmax - xmin) / ncols, 0.0,
                      ymax, 0.0, -(ymax - ymin) / nrows],
        byteorder=">" if kv.get("byteorder") == "big" else "<",
        nodata=None if nodata in ("NA", "") else float(nodata),
        crs=kv.get("projection", ""), gri=base + ".gri")


def read_rraster(spark: SparkSession, path: str, *, tile_px: int = 256,
                 raster_id: str | None = None,
                 zoom: int = 0) -> DataFrame:
    hdr = parse_rraster(path)
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    return read_raw(spark, hdr["gri"], hdr, tile_px=tile_px,
                    raster_id=rid, zoom=zoom)


def write_rraster(tiles: DataFrame, path: str, *,
                  tile_px: int = 256) -> dict:
    from .ehdr import _collect_meta, _write_raw_data

    base = os.path.splitext(path)[0]
    m = _collect_meta(tiles)
    nrows, ncols = int(m.img_h), int(m.img_w)
    nbands, dtype = int(m.nbands), str(m.dtype)
    gt = list(m.gt) if m.gt is not None else [0, 1, 0, 0, 0, -1]
    nod = m.nodata
    has_nod = nod is not None and not (isinstance(nod, float)
                                       and np.isnan(nod))
    with open(base + ".grd", "w", encoding="ascii") as f:
        f.write("[general]\ncreator=gdal_spark\n[georeference]\n")
        f.write(f"nrows={nrows}\nncols={ncols}\n")
        f.write(f"xmin={gt[0]!r}\nymin={gt[3] + gt[5] * nrows!r}\n")
        f.write(f"xmax={gt[0] + gt[1] * ncols!r}\nymax={gt[3]!r}\n")
        f.write(f"projection={m.crs or ''}\n[data]\n")
        f.write(f"datatype={_R_BACK[dtype]}\nbyteorder=little\n")
        f.write(f"nbands={nbands}\nbandorder=BIL\n")
        f.write(f"nodatavalue={float(nod) if has_nod else 'NA'}\n")
    _write_raw_data(tiles, base + ".gri", interleave="bil",
                    nrows=nrows, ncols=ncols, nbands=nbands,
                    dtype=dtype, tile_px=tile_px)
    return {"grd": base + ".grd", "gri": base + ".gri",
            "width": ncols, "height": nrows, "bands": nbands}


# -------------------------------------------------------------- GenBin
_GB_TYPES = {"U8": "uint8", "S8": "int8", "U16": "uint16",
             "S16": "int16", "U32": "uint32", "S32": "int32",
             "F32": "float32", "F64": "float64"}


def parse_genbin(path: str) -> dict:
    base = os.path.splitext(path)[0]
    kv = {}
    with open(base + ".hdr", "r", encoding="utf-8",
              errors="replace") as f:
        for line in f:
            if ":" in line and not line.startswith(("\t", " ")):
                k, v = line.split(":", 1)
                kv[k.strip().upper()] = v.strip()
    dt = _GB_TYPES.get(kv.get("DATATYPE", "").split()[0].upper()
                       if kv.get("DATATYPE") else "")
    if dt is None:
        raise ValueError(f"GenBin DATATYPE {kv.get('DATATYPE')!r}")
    ncols, nrows = int(kv["COLS"]), int(kv["ROWS"])
    gt = [0.0, 1.0, 0.0, 0.0, 0.0, -1.0]
    if "UL_X_COORDINATE" in kv and "LR_X_COORDINATE" in kv and             ncols > 1 and nrows > 1:
        # UL/LR name pixel CENTERS; pixel size derives from the
        # corner span over (size - 1), NOT from PIXEL_WIDTH
        # (genbindataset.cpp Open :871-878)
        ulx = float(kv["UL_X_COORDINATE"])
        uly = float(kv["UL_Y_COORDINATE"])
        lrx = float(kv["LR_X_COORDINATE"])
        lry = float(kv["LR_Y_COORDINATE"])
        px = (lrx - ulx) / (ncols - 1)
        py = (lry - uly) / (nrows - 1)
        gt = [ulx - px * 0.5, px, 0.0, uly - py * 0.5, 0.0, py]
    bo = kv.get("BYTE_ORDER", "NA").upper()
    return dict(
        nrows=nrows, ncols=ncols, nbands=int(kv.get("BANDS", "1")),
        dtype=dt,
        interleave=kv.get("INTERLEAVING", "BSQ").lower(), skip=0,
        geotransform=gt,
        byteorder=">" if bo in ("MSB", "BIG_ENDIAN") else "<",
        crs=kv.get("PROJECTION_NAME", ""))


def read_genbin(spark: SparkSession, path: str, *, tile_px: int = 256,
                raster_id: str | None = None,
                zoom: int = 0) -> DataFrame:
    hdr = parse_genbin(path)
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    return read_raw(spark, path, hdr, tile_px=tile_px,
                    raster_id=rid, zoom=zoom)


# ---------------------------------------------------------------- PAux
_PAUX_TYPES = {"8U": "uint8", "16U": "uint16", "16S": "int16",
               "32R": "float32"}


def parse_paux(path: str) -> dict:
    aux = os.path.splitext(path)[0] + ".aux"
    kv: dict[str, str] = {}
    with open(aux, "r", encoding="utf-8", errors="replace") as f:
        for line in f:
            if ":" in line:
                k, v = line.split(":", 1)
                kv[k.strip()] = v.strip()
    W, H, nb = (int(t) for t in kv["RawDefinition"].split()[:3])
    chans = []
    for i in range(1, nb + 1):
        toks = kv[f"ChanDefinition-{i}"].split()
        chans.append(dict(
            dtype=_PAUX_TYPES[toks[0]], offset=int(toks[1]),
            pix_off=int(toks[2]), line_off=int(toks[3]),
            # PCI native is big-endian: "Swapped" = little-endian
            # (pauxdataset.cpp :827 — native on LSB iff Swapped)
            big=len(toks) > 4 and toks[4].lower() == "unswapped"))
    gt = [0.0, 1.0, 0.0, 0.0, 0.0, 1.0]
    if "UpLeftX" in kv:
        ulx, uly = float(kv["UpLeftX"]), float(kv["UpLeftY"])
        lrx, lry = float(kv["LoRightX"]), float(kv["LoRightY"])
        gt = [ulx, (lrx - ulx) / W, 0.0, uly, 0.0, (lry - uly) / H]
    raw = kv.get("AuxilaryTarget", os.path.basename(
        os.path.splitext(path)[0] + ".raw"))
    return dict(width=W, height=H, chans=chans, geotransform=gt,
                raw=os.path.join(os.path.dirname(path) or ".", raw))


def read_paux(spark: SparkSession, path: str, *, tile_px: int = 256,
              raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    """PAux scan: one layout per channel, its (offset, pixOffset,
    lineOffset) triple as given; a short tail line zero-fills.
    Map-only."""
    hdr = parse_paux(path)
    W, H = hdr["width"], hdr["height"]
    return blockscan.read(
        spark, [Layout(hdr["raw"], W, H, ch["dtype"], (ch["offset"],),
                       pixel_offset=ch["pix_off"],
                       line_offset=ch["line_off"],
                       byteorder=">" if ch["big"] else "<", zero_fill=True)
                for ch in hdr["chans"]],
        raster_id=raster_id or os.path.splitext(os.path.basename(path))[0],
        geotransform=hdr["geotransform"], tile_px=tile_px, zoom=zoom)


# ----------------------------------------------------------------- MFF
_MFF_EXT = {"b": "uint8", "i": "uint16", "r": "float32"}
_MFF_TYPE = {"I*1": "uint8", "I*2": "int16", "I*4": "int32",
             "U*2": "uint16", "U*4": "uint32", "R*4": "float32",
             "R*8": "float64"}


def parse_mff(path: str) -> dict:
    kv = {}
    with open(path, "r", encoding="utf-8", errors="replace") as f:
        for line in f:
            if "=" in line:
                k, v = line.split("=", 1)
                kv[k.strip()] = v.strip()
    H = int(kv["IMAGE_LINES"])
    W = int(kv["LINE_SAMPLES"])
    base = os.path.splitext(path)[0]
    d = os.path.dirname(path) or "."
    stem = os.path.basename(base)
    bands = []
    for fn in sorted(os.listdir(d)):
        fb, fe = os.path.splitext(fn)
        if fb != stem or len(fe) < 2:
            continue
        letter = fe[1].lower()
        if letter not in _MFF_EXT:
            continue
        dt = _MFF_TYPE.get(kv.get("type", "").upper(),
                           _MFF_EXT[letter])
        bands.append((os.path.join(d, fn), dt))
    tiled = "tile_size_rows" in kv
    return dict(
        width=W, height=H, bands=bands, tiled=tiled,
        tile_h=int(kv.get("tile_size_rows", H)),
        tile_w=int(kv.get("tile_size_columns", W)),
        byteorder=">" if kv.get("BYTE_ORDER", "LSB") == "MSB" else "<")


def read_mff(spark: SparkSession, path: str, *,
             raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    """MFF scan: an untiled raster is one raw band file per band, read
    as one W x H tile each; a tiled one is the block grid of
    mffdataset.cpp IReadBlock, one descriptor per (band file, block).
    Short tail reads pad with zeros (the reference accepts any read
    >= 1 byte).  Map-only."""
    hdr = parse_mff(path)
    W, H = hdr["width"], hdr["height"]
    tw, th = hdr["tile_w"], hdr["tile_h"]
    bo = hdr["byteorder"]
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    bands = hdr["bands"]
    gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    if not hdr["tiled"]:
        return blockscan.read(
            spark, [Layout(fn, W, H, dt, (0,), byteorder=bo, zero_fill=True)
                    for fn, dt in bands],
            raster_id=rid, geotransform=gt, tile_px=max(W, H, 1),
            zoom=zoom)

    tpr = math.ceil(W / tw)
    rows = [(b, tx, ty, tw * th * np.dtype(dt).itemsize * (tx + ty * tpr))
            for b, (fn, dt) in enumerate(bands)
            for ty in range(math.ceil(H / th)) for tx in range(tpr)]
    desc = blockscan.spread(
        spark, rows, "band int, bx int, by int, offset long")

    def scan(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                fn, dts = bands[int(r.band)]
                dt = np.dtype(dts).newbyteorder(bo)
                nbytes = tw * th * dt.itemsize
                with open(fn, "rb") as f:
                    raw = os.pread(f.fileno(), nbytes, int(r.offset))
                raw = raw + b"\x00" * (nbytes - len(raw))
                arr = np.frombuffer(raw, dt).reshape(th, tw)
                w = min(tw, W - int(r.bx) * tw)
                h = min(th, H - int(r.by) * th)
                out.append(tile_row(
                    rid, int(r.band) + 1, int(zoom), int(r.bx), int(r.by),
                    arr[:h, :w].astype(dt.newbyteorder("="), copy=False),
                    gt, x0=int(r.bx) * tw, y0=int(r.by) * th))
            yield pd.DataFrame(out, columns=TILE_COLUMNS)

    return desc.mapInPandas(scan, schema=TILE_SCHEMA)
