"""BSB/KAP (NOAA/Maptech nautical raster chart) driver — read.

Reference: gdal/frmts/bsb/bsb_read.c + bsbdataset.cpp —
- ASCII header records (BSB/NA=...,RA=w,h, RGB/i,r,g,b palette,
  KNP/... projection params); a newline followed by spaces is a
  CONTINUATION (the reader eats the spaces and splices with a
  comma, :620-650 — pinned by the rgbsmall_with_line_break
  fixture); the header ends at the 0x1A 0x00 sequence, then one
  depth byte (ASCII '1'..'8' forms subtract 0x30).
- Scanlines: base-128 varint line marker (value == line or line+1,
  leading zero bytes skipped), then run bytes: value =
  (b & ((2^depth-1) << (7-depth))) >> (7-depth), run length =
  (b & countMask) extended base-128 while bit 7 is set, run+1
  pixels; 0x00 terminates; a line decoding to XSize-1 pixels gets
  one zero appended (:860-866, the NDI/CHS quirk).
- The last 4 BE bytes point at a 4-byte-BE per-scanline offset
  table (validated against the file length; may be one row short).

Spark lowering: the file's own scanline index IS the split table
(the SGI/GeoTIFF-strip contract): the driver reads header + index
(KBs), executors pread + RLE-decode exactly their lines.  When the
index is missing/invalid the driver falls back to one sequential
run-walk to rebuild it (what every BSB reader must do).  Map-only.
"""

from __future__ import annotations

import math
import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import blockscan
from .synth import TILE_COLUMNS, TILE_SCHEMA, strip_rows


def parse_bsb(path: str) -> dict:
    with open(path, "rb") as f:
        data = f.read()
    # ---- header text ends at 0x1A 0x00
    end = data.find(b"\x1a\x00")
    if end < 0:
        raise ValueError(f"not a BSB/KAP file: {path}")
    txt = data[:end].decode("latin-1", "replace")
    # continuation: newline + leading spaces -> comma splice
    lines: list[str] = []
    for raw in txt.replace("\r\n", "\n").replace("\r", "\n").split("\n"):
        if raw[:1].isspace() and lines:
            lines[-1] += "," + raw.strip()
        else:
            lines.append(raw)
    W = H = None
    palette = {}
    version = 0.0
    for ln in lines:
        if ln.startswith("VER/"):
            try:
                version = float(ln[4:].strip())
            except ValueError:
                pass
        for part in ln.split(","):
            part = part.strip()
            if part.startswith("RA="):
                toks = part[3:].split(",")
                W = int(toks[0])
        if "RA=" in ln:
            toks = ln.split("RA=")[1].split(",")
            W, H = int(toks[0]), int(toks[1])
        if ln.startswith("RGB/"):
            toks = ln[4:].split(",")
            palette[int(toks[0])] = (int(toks[1]), int(toks[2]),
                                     int(toks[3]))
    if W is None or H is None:
        raise ValueError("BSB header without RA= dimensions")
    pos = end + 2
    depth = data[pos]
    if 0x31 <= depth <= 0x38:
        depth -= 0x30
    if not 1 <= depth <= 7:
        raise ValueError(f"BSB depth {depth}")
    pos += 1

    # ---- scanline offsets from the trailing index table
    flen = len(data)
    (idx_off,) = struct.unpack(">i", data[flen - 4:])
    offsets = None
    n_index = None
    for rows in (H, H - 1):
        if idx_off > 0 and idx_off + 4 * rows == flen - 4:
            offsets = list(struct.unpack(
                ">%di" % rows, data[idx_off:idx_off + 4 * rows]))
            n_index = rows
            break
    if offsets is None:
        # sequential rebuild: ONE recovery-aware decode pass (the
        # same walk every BSB reader without an index must do)
        offsets = []
        p = pos
        for y in range(H):
            offsets.append(p)
            _, used = _decode_line(data[p:], W, depth, y,
                                   return_end=True)
            p += used
        n_index = H
    if n_index == H - 1:
        H = H - 1
    return dict(width=W, height=H, depth=depth, palette=palette,
                offsets=offsets, version=version)


def _peek_marker(buf: bytes, p: int, want: int) -> int | None:
    """Parse a varint line marker at p (zero-skip rule); None when
    the bytes run out."""
    marker = 0
    while p < len(buf):
        b = buf[p]
        p += 1
        if want != 0 and marker == 0 and b == 0:
            continue
        marker = marker * 128 + (b & 0x7F)
        if not (b & 0x80):
            return marker
    return None


def _decode_line(buf: bytes, W: int, depth: int, want_line: int,
                 return_end: bool = False):
    """One scanline with the reference's full recovery semantics
    (BSBReadScanline): a 0x00 before the buffer fills triggers a
    next-line-marker peek — if the following bytes are NOT the next
    line's marker they are data and decoding continues; when the
    line fills, bytes are still consumed up to the terminator so the
    successor offset is exact."""
    vshift = 7 - depth
    vmask = ((1 << depth) - 1) << vshift
    cmask = (1 << (7 - depth)) - 1
    out = np.zeros(W, np.uint8)
    p = 0
    marker = 0
    while p < len(buf):
        b = buf[p]
        p += 1
        if want_line != 0 and marker == 0 and b == 0:
            continue
        marker = marker * 128 + (b & 0x7F)
        if not (b & 0x80):
            break
    i = 0
    while p < len(buf):
        b = buf[p]
        p += 1
        if b == 0:
            if i >= W:
                break
            if i == W - 1:
                out[i] = 0
                i = W
                break
            nxt = _peek_marker(buf, p, want_line + 1)
            if nxt in (want_line + 1, want_line + 2):
                break          # genuinely short line; zeros fill
            continue           # spurious NUL: the bytes are data
        val = (b & vmask) >> vshift
        run = b & cmask
        while b & 0x80 and p < len(buf):
            b = buf[p]
            p += 1
            run = run * 128 + (b & 0x7F)
        if i < W:
            end = min(i + run + 1, W)
            out[i:end] = val
        i += run + 1
    # indices start at 1 (0 = filled/missing); the band decrements
    # nonzero values (bsbdataset.cpp IReadBlock)
    out[out > 0] -= 1
    if return_end:
        return out, p
    return out


def read_bsb(spark: SparkSession, path: str, *, tile_px: int = 256,
             raster_id: str | None = None, zoom: int = 0,
             expand: str | None = None) -> DataFrame:
    """Distributed BSB scan -> tile table (band 1 = palette indices;
    ``expand='rgb'`` emits 3 palette-expanded bands)."""
    h = parse_bsb(path)
    W, H, depth = h["width"], h["height"], h["depth"]
    offsets = h["offsets"] + [os.path.getsize(path)]
    pal = np.zeros((1 << depth, 3), np.uint8)
    for k, rgb in h["palette"].items():
        if k < pal.shape[0]:
            pal[k] = rgb
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    nty = math.ceil(H / tile_px)
    rows = [(0, ty, min(tile_px, H - ty * tile_px))
            for ty in range(nty)]
    desc = blockscan.spread(spark, rows,
                            "band int, tile_y int, height int")

    def scan(batches):
        for pdf in batches:
            out = []
            with open(path, "rb") as f:
                fd = f.fileno()
                for r in pdf.itertuples(index=False):
                    hh = int(r.height)
                    y0 = int(r.tile_y) * tile_px
                    lines = []
                    for i in range(hh):
                        y = y0 + i
                        lo = offsets[y]
                        hi = offsets[y + 1] if y + 1 < len(offsets) \
                            else os.path.getsize(path)
                        raw = os.pread(fd, max(0, hi - lo), lo)
                        lines.append(_decode_line(raw, W, depth, y))
                    plane = np.stack(lines)
                    emit = [(1, plane)] if expand != "rgb" else [
                        (b + 1, pal[plane, b]) for b in range(3)]
                    for band, pl in emit:
                        out += strip_rows(
                            rid, band, int(zoom), int(r.tile_y), pl,
                            [0.0, 1.0, 0.0, 0.0, 0.0, -1.0], tile_px,
                            y0=y0, dtype="uint8")
            yield pd.DataFrame(out, columns=TILE_COLUMNS)

    return desc.mapInPandas(scan, schema=TILE_SCHEMA)


def bsb_palette(path: str) -> pd.DataFrame:
    """(idx, red, green, blue) color table (bsbdataset.cpp
    GDALColorTable surface)."""
    pal = parse_bsb(path)["palette"]
    ks = sorted(pal)
    return pd.DataFrame({
        "idx": ks,
        "red": [pal[k][0] for k in ks],
        "green": [pal[k][1] for k in ks],
        "blue": [pal[k][2] for k in ks]})
