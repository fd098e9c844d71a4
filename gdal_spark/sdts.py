"""USGS SDTS DEM raster reader (over the shared ISO 8211 codec).

Reference: gdal/frmts/sdts/ —
  - sdtscatd.cpp: the CATD module maps logical module names (IDEN,
    IREF, LDEF, RSDF, DDSH, CEL0...) to files.
  - sdtsrasterreader.cpp: LDEF gives NROW/NCOL/SOCI/INTR; RSDF's
    SADR (scaled by IREF SFAX/SFAY, offset XORG/YORG) is the first
    cell's position, with a half-cell shift when INTR=CE
    (:228-231); IREF XHRS/YHRS are the cell sizes; DDSH FMT picks
    BI16 (big-endian int16) or BFP32 rows; CEL0 records carry one
    scanline each — CELL.ROWI (1-based via SOCI) + the raw CVLS
    value array (GetBlock :371-460).
  - sdtsdataset.cpp: IDEN TITL → TITLE metadata; XREF names the
    projection (UTM zone / datum).

Rows absent from a truncated CEL0 zero-fill, like the raw family.

Spark lowering: the driver reads the KB catalog/metadata modules
and walks only the CEL0 record LEADERS to index record offsets;
executors decode their record ranges in mapInPandas — map-only,
zero shuffles, and a 10^6-scanline DEM splits into even record
ranges without parsing a single cell value on the driver."""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import blockscan
from .iso8211 import FT, ISO8211Reader
from .synth import TILE_COLUMNS, TILE_SCHEMA, strip_rows


def _ci(path: str) -> str | None:
    if os.path.exists(path):
        return path
    d, b = os.path.dirname(path), os.path.basename(path).lower()
    for f in os.listdir(d):
        if f.lower() == b:
            return os.path.join(d, f)
    return None


def parse_sdts(catd_path: str) -> dict:
    d = os.path.dirname(os.path.abspath(catd_path))
    cat = {}
    for rec in ISO8211Reader(catd_path).records():
        for g in rec.get("CATD", []):
            if g.get("NAME") and g.get("FILE"):
                cat[g["NAME"].strip()] = _ci(
                    os.path.join(d, g["FILE"].strip()))

    def module(name):
        p = cat.get(name)
        return list(ISO8211Reader(p).records()) if p else []

    md = {}
    for rec in module("IDEN"):
        for g in rec.get("IDEN", []):
            if g.get("TITL"):
                md["TITLE"] = g["TITL"].strip()

    ldef = rsdf = iref = ddsh = {}
    for rec in module("LDEF"):
        ldef = rec.get("LDEF", [{}])[0] or ldef
        cell_name = ldef.get("CMNM", "CEL0").strip()
    for rec in module("RSDF"):
        rsdf = rec.get("RSDF", [{}])[0] or rsdf
        if "SADR" in rec:
            rsdf = dict(rsdf, SADR=rec["SADR"][0])
    for rec in module("IREF"):
        iref = rec.get("IREF", [{}])[0] or iref
    for rec in module("DDSH"):
        ddsh = rec.get("DDSH", [{}])[0] or ddsh

    W = int(ldef.get("NCOL", 0))
    H = int(ldef.get("NROW", 0))
    soci = int(ldef.get("SOCI", 1) or 1)
    intr = (ldef.get("INTR") or "CE").strip() or "CE"
    fmt = (ddsh.get("FMT") or "BI16").strip()
    dtype = "int16" if fmt == "BI16" else "float32"
    sfax = float(iref.get("SFAX", 1.0) or 1.0)
    sfay = float(iref.get("SFAY", 1.0) or 1.0)
    xorg = float(iref.get("XORG", 0.0) or 0.0)
    yorg = float(iref.get("YORG", 0.0) or 0.0)
    xres = float(iref.get("XHRS", 1.0) or 1.0)
    yres = float(iref.get("YHRS", 1.0) or 1.0)
    sadr = rsdf.get("SADR", {})
    x0 = xorg + sfax * float(sadr.get("X", 0.0) or 0.0)
    y0 = yorg + sfay * float(sadr.get("Y", 0.0) or 0.0)
    gt = [x0, xres, 0.0, y0, 0.0, -yres]
    if intr == "CE":
        gt[0] -= gt[1] * 0.5
        gt[3] -= gt[5] * 0.5

    crs = ""
    for rec in module("XREF"):
        g = rec.get("XREF", [{}])[0]
        if g:
            crs = " ".join(str(g.get(k, "")).strip()
                           for k in ("RSNM", "ZONE", "HDAT")).strip()

    cell_path = cat.get(cell_name if "cell_name" in dir() else "CEL0") \
        or cat.get("CEL0")
    return dict(width=W, height=H, soci=soci, dtype=dtype,
                geotransform=gt, metadata=md, crs=crs,
                cell_path=cell_path, catalog=cat)


def read_sdts(spark: SparkSession, catd_path: str, *,
              tile_px: int = 256, raster_id: str | None = None,
              zoom: int = 0) -> DataFrame:
    info = parse_sdts(catd_path)
    W, H = info["width"], info["height"]
    dtype = info["dtype"]
    gt = info["geotransform"]
    soci = info["soci"]
    crs = info["crs"]
    cell_path = info["cell_path"]
    rid = raster_id or os.path.basename(
        os.path.dirname(os.path.abspath(catd_path))) or "sdts"
    nty = math.ceil(H / tile_px)

    # driver: leader-walk record offsets; ranges align to tile_px
    # record chunks so each task owns whole tile-rows (CEL0 records
    # are row-sequential in the SDTS raster profile, FSCN='R')
    offs = ISO8211Reader(cell_path).record_offsets()
    ranges = []
    for lo in range(0, len(offs), tile_px):
        hi = min(lo + tile_px, len(offs))
        ranges.append((offs[lo], hi - lo))
    seg = blockscan.spread(spark, ranges, "offset long, nrecords int")
    np_dt = np.dtype(dtype).newbyteorder(">")
    isz = np_dt.itemsize

    def scan(batches):
        for pdf in batches:
            # collect this task's scanlines, then emit tiles for any
            # tile-row fully covered by them
            rows_here = {}
            for r in pdf.itertuples(index=False):
                rdr = ISO8211Reader(cell_path)
                first = rdr._pos
                if int(r.offset) != first:
                    # prime the reuse-leader directory from the first
                    # data record before jumping into the range
                    next(rdr.records_raw(), None)
                rdr._pos = int(r.offset)
                n = 0
                for fields in rdr.records_raw():
                    rowi = None
                    vals = None
                    for tag, raw in fields:
                        if tag == "CELL":
                            g = rdr.defs[tag].decode(raw)[0]
                            rowi = int(g.get("ROWI", 0))
                        elif tag == "CVLS":
                            body = raw[:-1] if raw.endswith(
                                bytes([FT])) else raw
                            vals = np.frombuffer(
                                body[:W * isz], np_dt)
                    if rowi is not None and vals is not None:
                        y = rowi - soci
                        if 0 <= y < H:
                            row = np.zeros(W, np_dt.newbyteorder("="))
                            row[:len(vals)] = vals
                            rows_here[y] = row
                    n += 1
                    if n >= int(r.nrecords):
                        break
            out = []
            for ty in range(nty):
                h = min(tile_px, H - ty * tile_px)
                ys = range(ty * tile_px, ty * tile_px + h)
                mine = [y for y in ys if y in rows_here]
                if not mine:
                    continue
                block = np.zeros((h, W), np.dtype(dtype))
                for y in mine:
                    block[y - ty * tile_px] = rows_here[y]
                out += strip_rows(rid, 1, int(zoom), ty, block, gt, tile_px,
                                  y0=ty * tile_px, nodata=-32766.0, crs=crs,
                                  dtype=dtype)
            yield pd.DataFrame(out, columns=TILE_COLUMNS)

    return seg.mapInPandas(scan, schema=TILE_SCHEMA)
