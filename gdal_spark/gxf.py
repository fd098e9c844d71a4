"""Geosoft GXF (Grid eXchange File) driver — read.

Reference: gdal/frmts/gxf/gxfopen.c + gxfdataset.cpp —
`#KEYWORD` blocks (#POINTS columns, #ROWS, #GTYPE, #TRANSFORM scale
offset, #DUMMY, #SENSE with LL_RIGHT=1 default meaning the FIRST
data row is the BOTTOM row, #XORIGIN/#YORIGIN/#PTSEPARATION/
#RWSEPARATION), then `#GRID` with either whitespace ASCII values
(GTYPE 0) or base-90 compressed fields of GTYPE chars each
(char-37 digits; '!'-prefixed field = dummy, '"'-prefixed = repeat:
next field is an UNSCALED count, the following field the value;
values map through value*scale + offset; fields never split across
lines).  Band type Float32, rows returned top-down with the SENSE
mirror applied (GXFGetScanline :634-662).

Spark lowering: compressed fields and free value wrapping mean a
text line does not map to a grid row, so the driver makes ONE
string-walk over the grid section to index each scanline's (line,
field) span — the same sequential index GXF readers must build
(gxfopen.c caches panRawLineOffset identically) — and executors
re-parse only their strips.  The index is O(rows) driver state;
pixel VALUES never materialize on the driver.  Map-only scan.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import blockscan
from .synth import TILE_COLUMNS, TILE_SCHEMA, strip_rows


def _fields_of(line: str, gtype: int) -> list[str]:
    """Split one text line into value fields."""
    if gtype == 0:
        return line.split()
    out, p = [], 0
    line = line.rstrip("\r\n")
    while p + gtype <= len(line):
        out.append(line[p:p + gtype])
        p += gtype
    return out


def _b90(s: str) -> int:
    v = 0
    for ch in s:
        v = v * 90 + (ord(ch) - 37)
    return v


def parse_gxf(path: str) -> dict:
    with open(path, "r", encoding="latin-1") as f:
        lines = f.read().splitlines()
    kv: dict[str, list[str]] = {}
    grid_start = None
    i = 0
    while i < len(lines):
        ln = lines[i]
        if ln.startswith("#"):
            key = ln.strip().upper()
            if key.startswith("#GRID"):
                grid_start = i + 1
                break
            vals = []
            i += 1
            while i < len(lines) and not lines[i].startswith("#"):
                vals.append(lines[i])
                i += 1
            kv[key] = vals
            continue
        i += 1
    if grid_start is None:
        raise ValueError(f"no #GRID in GXF file: {path}")

    def head(keys, default=None):
        for k in keys:
            if k in kv and kv[k]:
                return kv[k][0].strip()
        return default

    ncols = int(float(head(["#POINTS", "#POIN"], "0")))
    nrows = int(float(head(["#ROWS"], "0")))
    gtype = int(float(head(["#GTYPE"], "0")))
    sense = int(float(head(["#SENSE", "#SENS"], "1")))
    scale, offset = 1.0, 0.0
    t = head(["#TRANSFORM", "#TRAN"])
    if t:
        toks = t.split()
        scale, offset = float(toks[0]), float(toks[1])
    dummy = head(["#DUMMY"], None)
    xsep = float(head(["#PTSEPARATION", "#PTSE"], "1"))
    ysep = float(head(["#RWSEPARATION", "#RWSE"], "1"))
    xorg = float(head(["#XORIGIN", "#XORI"], "0"))
    yorg = float(head(["#YORIGIN", "#YORI"], "0"))

    # one sequential walk indexing each scanline's (line, field) span
    spans = []          # per raw scanline: (line0, field0, line1, field1)
    li, fi = grid_start, 0
    flds = _fields_of(lines[li], gtype) if li < len(lines) else []
    for _row in range(nrows):
        got = 0
        l0, f0 = li, fi
        while got < ncols:
            if fi >= len(flds):
                li += 1
                fi = 0
                if li >= len(lines):
                    raise ValueError("GXF grid truncated")
                flds = _fields_of(lines[li], gtype)
                continue
            fld = flds[fi]
            if gtype > 0 and fld[0] == '"':
                # repeat: consume count + value fields
                fi += 1
                if fi >= len(flds):
                    li += 1
                    fi = 0
                    flds = _fields_of(lines[li], gtype)
                cnt = _b90(flds[fi])
                fi += 1
                if fi >= len(flds):
                    li += 1
                    fi = 0
                    flds = _fields_of(lines[li], gtype)
                fi += 1      # the value field
                got += cnt
            else:
                fi += 1
                got += 1
        spans.append((l0, f0, li, fi))

    gt_default = [xorg, xsep, 0.0, yorg + nrows * ysep, 0.0, -ysep]
    return dict(ncols=ncols, nrows=nrows, gtype=gtype, sense=sense,
                scale=scale, offset=offset, dummy=dummy,
                geotransform=gt_default, grid_start=grid_start,
                spans=spans)


def read_gxf(spark: SparkSession, path: str, *, tile_px: int = 256,
             raster_id: str | None = None, zoom: int = 0,
             nodata: float = -1e32) -> DataFrame:
    h = parse_gxf(path)
    W, H = h["ncols"], h["nrows"]
    gtype, sense = h["gtype"], h["sense"]
    scale, offset = h["scale"], h["offset"]
    dummy = h["dummy"]
    gt = h["geotransform"]
    spans = h["spans"]
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    nty = math.ceil(H / tile_px)
    rows = [(0, ty, min(tile_px, H - ty * tile_px))
            for ty in range(nty)]
    desc = blockscan.spread(spark, rows,
                            "band int, tile_y int, height int")

    def parse_scanline(lines, span):
        l0, f0, l1, f1 = span
        vals = np.empty(W, np.float64)
        got, li, fi = 0, l0, f0
        flds = _fields_of(lines[li], gtype)
        while got < W:
            if fi >= len(flds):
                li += 1
                fi = 0
                flds = _fields_of(lines[li], gtype)
                continue
            fld = flds[fi]
            if gtype == 0:
                if dummy is not None and fld == dummy:
                    vals[got] = nodata
                else:
                    vals[got] = float(fld)
                got += 1
                fi += 1
            elif fld[0] == "!":
                vals[got] = nodata
                got += 1
                fi += 1
            elif fld[0] == '"':
                fi += 1
                if fi >= len(flds):
                    li += 1
                    fi = 0
                    flds = _fields_of(lines[li], gtype)
                cnt = _b90(flds[fi])
                fi += 1
                if fi >= len(flds):
                    li += 1
                    fi = 0
                    flds = _fields_of(lines[li], gtype)
                vfld = flds[fi]
                fi += 1
                v = nodata if vfld[0] == "!" else \
                    _b90(vfld) * scale + offset
                vals[got:got + cnt] = v
                got += cnt
            else:
                vals[got] = _b90(fld) * scale + offset
                got += 1
                fi += 1
        return vals

    def scan(batches):
        # executors re-read + split the text themselves (shared
        # storage) — no pixel text ever rides the driver/broadcast
        with open(path, "r", encoding="latin-1") as f:
            lines = f.read().splitlines()
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                hh = int(r.height)
                y0 = int(r.tile_y) * tile_px
                plane = np.empty((hh, W), np.float64)
                for i in range(hh):
                    y = y0 + i
                    # SENSE: LL/LR (1/-1) = first raw row is BOTTOM
                    raw_y = H - 1 - y if sense in (1, -1) else y
                    ln = parse_scanline(lines, spans[raw_y])
                    if sense in (-1, -2):    # right-to-left senses
                        ln = ln[::-1]
                    plane[i] = ln
                out += strip_rows(rid, 1, int(zoom), int(r.tile_y),
                                  plane.astype(np.float32), gt, tile_px,
                                  y0=y0, nodata=float(nodata))
            yield pd.DataFrame(out, columns=TILE_COLUMNS)

    return desc.mapInPandas(scan, schema=TILE_SCHEMA)
