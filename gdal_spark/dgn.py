"""Microstation DGN v7 vector reader.

Reference: gdal/ogr/ogrsf_frmts/dgn/ —
  - dgnread.cpp DGNLoadRawElement (:91): element stream of
    [level|complex u8][type|deleted u8][word count u16 LE] + words;
    0xFFFF terminates.  DGN_INT32 is word-swapped (dgnlibp.h :86:
    b2 + b3<<8 + b1<<24 + b0<<16); doubles are VAX D-floats
    (port/cpl_vax.cpp CPLVaxToIEEEDouble).
  - DGNParseCore (:~390): level/type/deleted/complex from bytes
    0-1, display header at 28-35 (graphic group, properties,
    style/weight, color).
  - DGNParseTCB (:1482): 2D/3D flag at byte 1214 & 0x40,
    subunits-per-master at 1112, UOR-per-subunit at 1116, global
    origin VAX doubles at 1240; scale = 1/(uor*subunits);
    DGNTransformPoint (:1655): v*scale - origin.
  - element payloads (:440-780): LINE vertices at 36; LINE_STRING/
    SHAPE/CURVE count u16 at 36, vertices at 38; TEXT font/just at
    36-37, rotation at 46 (2D, 1/360000 deg), origin at 50/54,
    string length at 58, chars at 60; ELLIPSE axes VAX doubles at
    36/44 (x scale), rotation at 52, origin VAX doubles at 56/64;
    ARC start angle at 36, sweep at 40 (sign bit 0x80 of byte 41),
    axes at 44/52, rotation 60, origin 64/72.
  - ogrdgnlayer.cpp (:595-620): arcs/ellipses stroke to
    linestrings with nPoints = min(90, |sweep|/5 + 1) equal-angle
    steps via ComputePointOnArc2D (dgnstroke.cpp :~40); SHAPE →
    POLYGON; TEXT → POINT at origin.

Only 2D elements are decoded (the reference's quaternion-rotated
3D path is not); complex-chain components are emitted as
individual features.

Spark lowering: a DGN file is a sequential element stream with no
index, so — like GIF/RLE-TGA — the FILE is the parallel unit; a
fleet of DGN files decodes embarrassingly parallel via one
descriptor row per file."""

from __future__ import annotations

import math
import struct

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import blockscan
from .fmt import fmt_coord as fnum

DGNT_TCB = 9
DGNT_LINE = 3
DGNT_LINE_STRING = 4
DGNT_SHAPE = 6
DGNT_CURVE = 11
DGNT_ELLIPSE = 15
DGNT_ARC = 16
DGNT_TEXT = 17


def identify(path: str) -> bool:
    with open(path, "rb") as f:
        h = f.read(4)
    # first element: TCB = type 9 level 8 ("\x08\x09"), or cell
    # library header 5/8 (dgnopen.cpp DGNTestOpen)
    return len(h) == 4 and h[0] in (0x08, 0xC8) and h[1] == 0x09


def _i32(b: bytes, off: int) -> int:
    v = b[off + 2] + (b[off + 3] << 8) + (b[off + 1] << 24) \
        + (b[off] << 16)
    return v - (1 << 32) if v & 0x80000000 else v


def vax_double(b: bytes) -> float:
    """CPLVaxToIEEEDouble restated."""
    hi = b[2] | (b[3] << 8) | (b[0] << 16) | (b[1] << 24)
    lo = b[6] | (b[7] << 8) | (b[4] << 16) | (b[5] << 24)
    sign = hi & 0x80000000
    exponent = (hi >> 23) & 0xFF
    if exponent:
        exponent = exponent - 129 + 1023
    rndbits = lo & 0x7
    lo = (lo >> 3) & 0x1FFFFFFF | ((hi << 29) & 0xFFFFFFFF)
    if rndbits:
        lo |= 1
    hi = (hi >> 3) & 0x000FFFFF | (exponent << 20) | sign
    return struct.unpack(">d", struct.pack(">II", hi, lo))[0]


def _elements(path: str):
    """Yield (level, type, complex, deleted, data) per element."""
    with open(path, "rb") as f:
        while True:
            hdr = f.read(4)
            if len(hdr) < 4 or (hdr[0] == 0xFF and hdr[1] == 0xFF):
                return
            nwords = hdr[2] + hdr[3] * 256
            body = f.read(nwords * 2)
            if len(body) < nwords * 2:
                return
            data = hdr + body
            yield (hdr[0] & 0x3F, hdr[1] & 0x7F, bool(hdr[0] & 0x80),
                   bool(hdr[1] & 0x80), data)


def parse_dgn(path: str) -> list[dict]:
    """Decode all graphic elements of a DGN v7 file (driver-side for
    metadata; executors run this per file in the distributed scan)."""
    scale = 1.0
    ox = oy = 0.0
    dimension = 2
    feats = []
    for level, typ, cplx, deleted, d in _elements(path):
        if typ == DGNT_TCB:
            if len(d) >= 1264:
                dimension = 3 if d[1214] & 0x40 else 2
                spm = _i32(d, 1112)
                ups = _i32(d, 1116)
                ox = vax_double(d[1240:1248])
                oy = vax_double(d[1248:1256])
                if ups and spm:
                    scale = 1.0 / (ups * spm)
                    ox /= (ups * spm)
                    oy /= (ups * spm)
            continue
        if deleted or dimension != 2:
            continue

        def tp(nx, ny):
            return nx * scale - ox, ny * scale - oy

        color = d[35] if len(d) >= 36 else 0
        wkt = None
        text = None
        if typ == DGNT_LINE and len(d) >= 52:
            p0 = tp(_i32(d, 36), _i32(d, 40))
            p1 = tp(_i32(d, 44), _i32(d, 48))
            wkt = (f"LINESTRING ({fnum(p0[0])} {fnum(p0[1])}, "
                   f"{fnum(p1[0])} {fnum(p1[1])})")
        elif typ in (DGNT_LINE_STRING, DGNT_SHAPE, DGNT_CURVE):
            count = d[36] + d[37] * 256
            pts = []
            for i in range(count):
                off = 38 + i * 8
                if off + 8 > len(d):
                    break
                pts.append(tp(_i32(d, off), _i32(d, off + 4)))
            body = ", ".join(f"{fnum(x)} {fnum(y)}" for x, y in pts)
            if typ == DGNT_SHAPE:
                wkt = f"POLYGON (({body}))"
            else:
                wkt = f"LINESTRING ({body})"
        elif typ in (DGNT_ELLIPSE, DGNT_ARC):
            if typ == DGNT_ELLIPSE:
                prim = vax_double(d[36:44]) * scale
                sec = vax_double(d[44:52]) * scale
                rot = _i32(d, 52) / 360000.0
                cx = vax_double(d[56:64]) * scale - ox
                cy = vax_double(d[64:72]) * scale - oy
                start, sweep = 0.0, 360.0
            else:
                start = _i32(d, 36) / 360000.0
                db = bytearray(d)
                neg = bool(db[41] & 0x80)
                db[41] &= 0x7F
                sv = _i32(bytes(db), 40)
                sv = -sv if neg else sv
                sweep = 360.0 if sv == 0 else sv / 360000.0
                prim = vax_double(d[44:52]) * scale
                sec = vax_double(d[52:60]) * scale
                rot = _i32(d, 60) / 360000.0
                cx = vax_double(d[64:72]) * scale - ox
                cy = vax_double(d[72:80]) * scale - oy
            n = min(90, int(max(1.0, abs(sweep) / 5.0)) + 1)
            cr, sr = math.cos(math.radians(rot)), \
                math.sin(math.radians(rot))
            pts = []
            for i in range(n):
                a = math.radians(start + sweep / (n - 1) * i)
                ex, ey = prim * math.cos(a), sec * math.sin(a)
                pts.append((cx + ex * cr - ey * sr,
                            cy + ex * sr + ey * cr))
            wkt = "LINESTRING (" + ", ".join(
                f"{fnum(x)} {fnum(y)}" for x, y in pts) + ")"
        elif typ == DGNT_TEXT:
            nchars = d[58]
            x, y = tp(_i32(d, 50), _i32(d, 54))
            text = d[60:60 + nchars].decode("latin-1")
            wkt = f"POINT ({fnum(x)} {fnum(y)})"
        else:
            continue
        feats.append(dict(type=typ, level=level, color=int(color),
                          text=text, geom_wkt=wkt))
    return feats


_SCHEMA = T.StructType([
    T.StructField("fid", T.LongType()),
    T.StructField("Type", T.IntegerType()),
    T.StructField("Level", T.IntegerType()),
    T.StructField("ColorIndex", T.IntegerType()),
    T.StructField("Text", T.StringType()),
    T.StructField("geom_wkt", T.StringType()),
])


def read_dgn(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Distributed DGN scan: one task per file (sequential element
    stream, no index — the file is the parallel unit)."""
    if isinstance(paths, str):
        paths = [paths]
    seg = blockscan.spread(spark, [(p,) for p in paths], "path string")

    def scan(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                for i, ft in enumerate(parse_dgn(r.path), start=1):
                    out.append({
                        "fid": i, "Type": ft["type"],
                        "Level": ft["level"],
                        "ColorIndex": ft["color"],
                        "Text": ft["text"], "geom_wkt": ft["geom_wkt"],
                    })
            yield pd.DataFrame(out, columns=[f.name for f in _SCHEMA])

    return seg.mapInPandas(scan, schema=_SCHEMA)
