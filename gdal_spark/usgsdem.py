"""USGS DEM (.dem) driver — read.

Reference: gdal/frmts/usgsdem/usgsdemdataset.cpp —
- A record probed at 864/1024/893/918 for the two leading `1` ints
  (old, new, and two undocumented layout variants, :LoadFromFile);
  fixed header offsets: 156 coord system + zone, 528 ground/vertical
  units, 546 four corner pairs (24-char D-exponent floats), 816
  dx/dy/value resolution (12-char), 858 profile count.
- Band type Int16, or Float32 when vertical units are feet or the
  value resolution < 1 (:121-127); nodata -32767, buffer pre-filled.
- Data = nProfiles COLUMN profiles: 4 ints (row#, col#, point count,
  col count) + five fixed 24-char doubles (xStart, yStart,
  elevOffset, min, max), then point-count whitespace ints; value =
  n*fVRes + elevOffset (Int16 clamped); profiles anchor vertically
  via lygap = (yMin - yStart)/gt5 + 0.5 and fill bottom-up
  (iY = H-1-j); in the blocked (1024) layout each profile pads to
  the next 1024-byte boundary.
- Geographic coordinates are arcseconds (/3600); UTM/state-plane
  extents snap to the pixel grid and X anchors on the first
  profile's xStart.

Spark lowering: the profile is the parallel unit (the DTED
column-strip contract): the driver makes ONE light index pass
(regex token walk — no value conversion) recording each profile's
byte span, then executors pread their COLUMN-strip spans, parse
their own profiles, and emit vertical strip tiles.  Map-only; the
driver state is O(nProfiles) offsets.
"""

from __future__ import annotations

import math
import os
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import blockscan
from .synth import TILE_COLUMNS, TILE_SCHEMA, tile_row

NODATA = -32767
_WS = b" \t\r\n\x00"


def _skip_ws(buf: bytes, pos: int) -> int:
    n = len(buf)
    while pos < n and buf[pos] in _WS:
        pos += 1
    return pos


def _read_int(buf: bytes, pos: int):
    pos = _skip_ws(buf, pos)
    if pos >= len(buf):
        return None, pos
    m = re.match(rb"[+-]?\d+", buf[pos:pos + 32])
    if not m:
        return None, pos
    return int(m.group(0)), pos + m.end()


_FLOAT_PREFIX = re.compile(
    rb"\s*[+-]?(?:\d+\.?\d*|\.\d+)(?:[EeDd][+-]?\d+)?")


def _strtod(field: bytes):
    """CPLAtof/strtod semantics: parse the leading number, ignore
    trailing garbage (a fixed window may clip into the next field's
    padding or even data tokens — the reference still advances by
    the full width)."""
    m = _FLOAT_PREFIX.match(field)
    if not m:
        return None
    return float(m.group(0).replace(b"D", b"E").replace(b"d", b"e"))


def _read_fixed(buf: bytes, pos: int, n: int):
    """Profile-buffer double: exactly n chars from the CURRENT
    cursor, no whitespace skip — CPLAtof handles the padding inside
    the window (USGSDEMReadDoubleFromBuffer :229-257)."""
    return _strtod(buf[pos:pos + n]), pos + n


def _dconvert(buf: bytes, pos: int, n: int):
    """Header double: EXACT n-char slice at pos, no whitespace skip
    (DConvert reads from the seek position verbatim)."""
    return _strtod(buf[pos:pos + n]), pos + n


def parse_usgsdem(path: str) -> dict:
    with open(path, "rb") as f:
        buf = f.read()

    def int_at(off):
        return _read_int(buf, off)[0]

    r864, p = _read_int(buf, 864)
    c864, p = _read_int(buf, p)
    new_fmt = p >= 1024 or r864 != 1 or c864 != 1
    if new_fmt:
        for cand in (1024, 893, 918):
            i, p2 = _read_int(buf, cand)
            j, _ = _read_int(buf, p2)
            if i == 1 and j in (0, 1):
                data_start = cand
                break
        else:
            raise ValueError(f"not a USGS DEM file: {path}")
    else:
        data_start = 864

    coordsys = int_at(156)
    _zone = _read_int(buf, _read_int(buf, 156)[1])[0]
    gunit, p = _read_int(buf, 528)
    vunit, _ = _read_int(buf, p)
    dx, p = _dconvert(buf, 816, 12)
    dy, p = _dconvert(buf, p, 12)
    vres, _ = _dconvert(buf, p, 12)
    if not dy:
        raise ValueError("USGS DEM with zero y-resolution")
    dtype = "float32" if (vunit == 1 or vres < 1.0) else "int16"

    pos = 546
    corners = []
    for _ in range(4):
        x, pos = _dconvert(buf, pos, 24)
        y, pos = _dconvert(buf, pos, 24)
        corners.append((x, y))
    xmin = min(corners[0][0], corners[1][0])
    xmax = max(corners[2][0], corners[3][0])
    ymin = min(corners[0][1], corners[3][1])
    ymax = max(corners[1][1], corners[2][1])

    nprof = int_at(858)
    geographic = coordsys not in (1, 2, -9999)
    if not geographic:
        ymin = math.floor(ymin / dy) * dy
        ymax = math.ceil(ymax / dy) * dy
        p = data_start
        for _ in range(4):
            _, p = _read_int(buf, p)
        dx_start, _ = _read_fixed(buf, p, 24)
        H = int((ymax - ymin) / dy + 1.5)
        gt = [dx_start - dx / 2.0, dx, 0.0,
              ymax + dy / 2.0, 0.0, -dy]
    else:
        H = int((ymax - ymin) / dy + 1.5)
        gt = [(xmin - dx / 2.0) / 3600.0, dx / 3600.0, 0.0,
              (ymax + dy / 2.0) / 3600.0, 0.0, -dy / 3600.0]
    W = nprof

    # ---- profile span index (light token walk, no value convert)
    spans = []
    pos = data_start
    for _i in range(W):
        start = pos
        ok = True
        for _ in range(4):
            v, pos = _read_int(buf, pos)
            if v is None:
                ok = False
                break
            if _ == 2:
                npts = v
        if not ok:
            break
        for _ in range(5):
            _v, pos = _read_fixed(buf, pos, 24)
        for _ in range(npts):
            v, pos = _read_int(buf, pos)
            if v is None:
                ok = False
                break
        if data_start == 1024:
            pos = (pos + 1023) // 1024 * 1024
        spans.append((start, pos))
        if not ok:
            break
    return dict(width=W, height=H, dtype=dtype, vres=vres,
                geographic=geographic, geotransform=gt, spans=spans,
                data_start=data_start)


def read_usgsdem(spark: SparkSession, path: str, *, tile_px: int = 256,
                 raster_id: str | None = None,
                 zoom: int = 0) -> DataFrame:
    h = parse_usgsdem(path)
    W, H = h["width"], h["height"]
    gt = h["geotransform"]
    dtype = h["dtype"]
    vres = h["vres"]
    geographic = h["geographic"]
    spans = h["spans"]
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    ntx = math.ceil(W / tile_px)
    rows = []
    for txi in range(ntx):
        x0 = txi * tile_px
        x1 = min(x0 + tile_px, W)
        lo = spans[x0][0] if x0 < len(spans) else -1
        hi = spans[x1 - 1][1] if x1 - 1 < len(spans) else -1
        rows.append((txi, x0, x1, lo, hi))
    desc = blockscan.spread(
        spark, rows, "txi int, x0 int, x1 int, lo long, hi long")
    span_lo = [s[0] for s in spans]
    dy_gt = gt[5]
    ymin_c = gt[3] + (H - 0.5) * gt[5]

    def scan(batches):
        for pdf in batches:
            out = []
            with open(path, "rb") as f:
                fd = f.fileno()
                for r in pdf.itertuples(index=False):
                    x0, x1 = int(r.x0), int(r.x1)
                    w = x1 - x0
                    plane = np.full((H, w), NODATA,
                                    np.dtype(dtype))
                    if int(r.lo) >= 0:
                        raw = os.pread(fd, int(r.hi) - int(r.lo),
                                       int(r.lo))
                        for ci in range(w):
                            col = x0 + ci
                            if col >= len(span_lo):
                                break
                            pos = span_lo[col] - int(r.lo)
                            vals_pos = pos
                            hdr_ints = []
                            for _ in range(4):
                                v, vals_pos = _read_int(raw, vals_pos)
                                hdr_ints.append(v)
                            if hdr_ints[2] is None:
                                continue
                            npts = hdr_ints[2]
                            _xs, vals_pos = _read_fixed(raw, vals_pos,
                                                        24)
                            ys, vals_pos = _read_fixed(raw, vals_pos,
                                                       24)
                            eoff, vals_pos = _read_fixed(raw, vals_pos,
                                                         24)
                            for _ in range(2):
                                _v, vals_pos = _read_fixed(
                                    raw, vals_pos, 24)
                            if geographic:
                                ys = ys / 3600.0
                            lygap = int((ymin_c - ys) / dy_gt + 0.5)
                            # ReadInt semantics: sign+digits, the
                            # next '-' starts a NEW value (files pack
                            # "-32767-32767..." with no separators)
                            toks = re.findall(rb"[+-]?\d+",
                                              raw[vals_pos:])
                            vals = np.array(
                                [int(t) for t in toks[:npts]],
                                np.int64)
                            elev = vals.astype(np.float64) * vres \
                                + eoff
                            if dtype == "int16":
                                elev = np.clip(elev, -32768, 32767)
                            js = np.arange(lygap, lygap + len(vals))
                            iy = H - js - 1
                            keep = (iy >= 0) & (iy < H) & \
                                (vals != NODATA)
                            plane[iy[keep], ci] = elev[keep].astype(
                                plane.dtype)
                    out += [tile_row(rid, 1, int(zoom), int(r.txi), tyi,
                                     plane[y0:y0 + tile_px], gt, x0=x0,
                                     y0=y0, nodata=float(NODATA),
                                     dtype=dtype)
                            for tyi, y0 in enumerate(range(0, H, tile_px))]
            yield pd.DataFrame(out, columns=TILE_COLUMNS)

    return desc.mapInPandas(scan, schema=TILE_SCHEMA)
