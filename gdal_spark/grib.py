"""GRIB2 (WMO FM 92 Edition 2) raster driver: read + write, simple
packing, optional bitmap, message-parallel AND strip-parallel scan.

Reference:
  - gdal/frmts/grib/gribdataset.cpp — GDAL's GRIB driver (each GRIB
    message = one raster band; the open path indexes messages by
    scanning section-0 total lengths, `GRIBDataset::Open`).
  - gdal/frmts/grib/degrib/degrib/ — the embedded degrib decoder the
    reference delegates section parsing to (metaparse.c ParseSect*,
    grid unpacking in unpk_grib2 / simpack path).
  - autotest/gdrivers/grib.py — the reference driver's test coverage
    (simple-packing templates, bitmap handling, lat/lon grids).
  - On-disk layout is the public WMO GRIB2 specification: message =
    sections 0..8; section 5 template 5.0 "simple packing" stores
    Y = (R + X * 2**E) / 10**D with X bit-packed at a fixed width in
    section 7; section 6 carries an optional presence bitmap;
    section 3 template 3.0 is the equidistant lat/lon grid with
    microdegree coordinates; "7777" terminates the message.

Spark lowering — the same descriptor-parallel shape as the other
from-scratch containers (geotiff.py IFD walk, hdf5.py chunk B-tree,
netcdf.py strip plan): the DRIVER reads only section headers (a few
hundred bytes per message — never pixel data) and emits one
descriptor row per (message, tile-row strip); EXECUTORS pread their
slice of section 7, unpack the fixed-width bit stream with one
numpy matmul, and emit TILE_SCHEMA rows. The scan is MAP-ONLY —
zero shuffles at any size.

Strip-parallelism inside a message is possible precisely because
simple packing has a FIXED bit width: row r of the grid starts at bit
r*Ni*nbits of section 7, so a tile-row strip is an independent byte
range (pread [floor(bit0/8), ceil(bit1/8)), shift by bit0%8). When a
bitmap is present the data stream loses that closed form (only
present cells are stored), so bitmapped messages fall back to one
descriptor per message — the same granularity the reference uses
(degrib unpacks whole messages), and still message-parallel across
the file's many messages (time steps / levels / parameters).

The WRITER plans in reverse: the driver lays out per-message byte
extents from the packed sizes, writes section headers, and executors
os.pwrite each message's section-7 payload in parallel (small
fixtures write driver-side in one pass — the layout is identical).
Packing is deterministic: E=0, D caller-chosen, R = min(scaled), so
decode(encode(x)) == round(x*10**D)/10**D exactly in float64 for
values within the 24-bit float32-exact range — which makes GRIB
roundtrips hash-exact against a closed-form oracle.

Complex packing (template 5.2) and complex packing with spatial
differencing (template 5.3 — what real NCEP GFS/NAM files actually
use; degrib's unpk_complex) are supported read+write: general group
splitting, fixed 32-value groups on the write side, order-1/2
differencing with signed-magnitude extra descriptors, missing-value
management 0. Group boundaries are data-dependent, so complex
messages scan at PER-MESSAGE granularity (the same honest fallback
as bitmapped simple packing) — a multi-message file still spreads
across the cluster, and the in-kernel decode is fully vectorized
(np.repeat group expansion + double cumsum integration).

Unsupported (documented, like the reference gates them by template):
jpeg2000/png packing (templates 5.40/5.41), spectral data,
missing-value management 1/2, non-latlon grids (templates other
than 3.0), GRIB1 edition.
"""

from __future__ import annotations

import math
import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import blockscan
from .synth import TILE_COLUMNS, TILE_SCHEMA, strip_rows

_SEG_SCHEMA = T.StructType([
    T.StructField("band", T.IntegerType()),
    T.StructField("tile_y", T.IntegerType()),
    T.StructField("row0", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("data_off", T.LongType()),    # file offset of section-7 payload
    T.StructField("data_len", T.LongType()),
    T.StructField("bit0", T.LongType()),        # first bit of the strip within payload
    T.StructField("whole", T.BooleanType()),    # bitmap case: decode whole message
    T.StructField("bmp_off", T.LongType()),     # bitmap bytes offset (or -1)
    T.StructField("bmp_len", T.LongType()),
    T.StructField("R", T.DoubleType()),
    T.StructField("E", T.IntegerType()),
    T.StructField("D", T.IntegerType()),
    T.StructField("nbits", T.IntegerType()),
    T.StructField("flip", T.BooleanType()),     # scan 0x40: file rows
    #                                             run south->north
])


# --------------------------------------------------------------- codec

def _s16(v: int) -> int:
    """GRIB sign-and-magnitude 16-bit -> python int."""
    return -(v & 0x7FFF) if v & 0x8000 else v


def _u16sm(v: int) -> int:
    """python int -> GRIB sign-and-magnitude 16-bit."""
    return (0x8000 | (-v)) if v < 0 else v


def _s32(v: int) -> int:
    return -(v & 0x7FFFFFFF) if v & 0x80000000 else v


def _u32sm(v: int) -> int:
    return (0x80000000 | (-v)) if v < 0 else v


def _pack_bits(x: np.ndarray, nbits: int) -> bytes:
    """Pack non-negative ints into a big-endian fixed-width bit stream."""
    n = x.size
    bits = np.zeros((n, nbits), dtype=np.uint8)
    for b in range(nbits):
        bits[:, b] = (x >> (nbits - 1 - b)) & 1
    return np.packbits(bits.reshape(-1)).tobytes()


def _unpack_bits(raw: bytes, bit0: int, count: int, nbits: int) -> np.ndarray:
    """Read `count` fixed-width big-endian values starting at bit `bit0`."""
    if nbits == 0:
        return np.zeros(count, dtype=np.int64)
    byte0 = bit0 // 8
    byte1 = (bit0 + count * nbits + 7) // 8
    bits = np.unpackbits(np.frombuffer(raw[byte0:byte1], dtype=np.uint8))
    off = bit0 - byte0 * 8
    bits = bits[off:off + count * nbits].reshape(count, nbits).astype(np.int64)
    weights = (1 << np.arange(nbits - 1, -1, -1, dtype=np.int64))
    return bits @ weights


# ------------------------------------------- complex packing (5.2/5.3)

_GROUP_LEN = 32  # fixed group size on the write side (general splitting)


def _sm32(v: int) -> int:
    """Signed-magnitude 32-bit encode (GRIB2 stores negatives as
    sign bit + magnitude, regulation 92.1.5)."""
    return (0x80000000 | -v) if v < 0 else v


def _encode_complex(x: np.ndarray, order: int):
    """Group-split (and optionally spatially difference) the
    non-negative scaled field x = scaled - rmin. Returns (payload
    bytes, template fields dict) per data templates 7.2/7.3: extra
    descriptors, group references, widths, lengths — each stream
    padded to an octet boundary (g2clib comunpack layout) — then the
    bit-contiguous group data."""
    n = int(x.size)
    if order:
        if n <= order:
            raise NotImplementedError("field shorter than the "
                                      "differencing order")
        h = [int(x[i]) for i in range(order)]
        d = x.astype(np.int64).copy()
        if order == 1:
            d[1:] = x[1:] - x[:-1]
        else:
            d[2:] = x[2:] - 2 * x[1:-1] + x[:-2]
        hmin = int(d[order:].min())
        xx = np.zeros(n, dtype=np.int64)
        xx[order:] = d[order:] - hmin
        extras = b"".join(struct.pack(">I", _sm32(v))
                          for v in (*h, hmin))
        ds = 4
    else:
        xx, extras, ds = x.astype(np.int64), b"", 0

    ng = math.ceil(n / _GROUP_LEN)
    pad = ng * _GROUP_LEN - n
    g = np.pad(xx, (0, pad), constant_values=0).reshape(ng, _GROUP_LEN)
    # the pad rides the LAST group: keep its ref/width from real values
    last_n = _GROUP_LEN - pad
    refs = g.min(axis=1)
    if pad:
        refs[-1] = g[-1, :last_n].min()
    spans = g.max(axis=1) - refs
    if pad:
        spans[-1] = g[-1, :last_n].max() - refs[-1]
    widths = np.array([int(s).bit_length() for s in spans], dtype=np.int64)
    nbits = int(refs.max()).bit_length()
    wbits = int(widths.max()).bit_length()
    payload = bytearray(extras)
    payload += _pack_bits(refs, nbits)
    payload += _pack_bits(widths, wbits)
    # group lengths: ref_len = _GROUP_LEN, increment 1, all scaled
    # lengths 0 (lbits = 0 -> empty stream), true last length in the
    # template header
    bit_chunks = []
    rel = g - refs[:, None]
    for gi in range(ng):
        w = int(widths[gi])
        if w == 0:
            continue
        cnt = last_n if gi == ng - 1 else _GROUP_LEN
        vals = rel[gi, :cnt]
        b = np.zeros((cnt, w), dtype=np.uint8)
        for k in range(w):
            b[:, k] = (vals >> (w - 1 - k)) & 1
        bit_chunks.append(b.reshape(-1))
    if bit_chunks:
        payload += np.packbits(np.concatenate(bit_chunks)).tobytes()
    fields = dict(nbits=nbits, ng=ng, wbits=wbits,
                  last_len=last_n, order=order, ds=ds)
    return bytes(payload), fields


def _decode_complex(raw: bytes, m: dict) -> np.ndarray:
    """Inverse of _encode_complex for any conforming 5.2/5.3 stream
    (variable group lengths included): returns the reconstructed
    integer field f with Y = (R + f*2^E)/10^D left to the caller."""
    n, ng, order, ds = m["ndata"], m["cx_ng"], m["cx_order"], m["cx_ds"]
    off = 0
    hs = []
    for _ in range(order + 1 if order else 0):
        if ds == 1:
            v = raw[off]
            v = -(v & 0x7F) if v & 0x80 else v
        elif ds == 2:
            v = struct.unpack_from(">H", raw, off)[0]
            v = -(v & 0x7FFF) if v & 0x8000 else v
        elif ds == 4:
            v = struct.unpack_from(">I", raw, off)[0]
            v = -(v & 0x7FFFFFFF) if v & 0x80000000 else v
        else:
            raise NotImplementedError(f"{ds}-octet extra descriptors")
        hs.append(int(v))
        off += ds
    bit = off * 8
    refs = _unpack_bits(raw, bit, ng, m["cx_nbits"])
    bit += ng * m["cx_nbits"]
    bit = (bit + 7) // 8 * 8
    widths = m["cx_ref_w"] + _unpack_bits(raw, bit, ng, m["cx_wbits"])
    bit += ng * m["cx_wbits"]
    bit = (bit + 7) // 8 * 8
    lens = m["cx_ref_len"] + m["cx_inc"] * _unpack_bits(
        raw, bit, ng, m["cx_lbits"])
    bit += ng * m["cx_lbits"]
    bit = (bit + 7) // 8 * 8
    lens[-1] = m["cx_last_len"]
    parts = []
    for gi in range(ng):
        cnt, w = int(lens[gi]), int(widths[gi])
        if w == 0:
            parts.append(np.full(cnt, int(refs[gi]), dtype=np.int64))
        else:
            parts.append(int(refs[gi]) + _unpack_bits(raw, bit, cnt, w))
            bit += cnt * w
    f = np.concatenate(parts)[:n]
    if order:
        # first `order` values come from the extra descriptors; the
        # rest are differences shifted by the overall minimum — undo
        # by (order x) cumulative summation
        f[order:] += hs[-1]
        f[:order] = hs[:order]
        if order == 1:
            f = np.cumsum(f)
        else:
            u = np.cumsum(np.concatenate([[f[1] - f[0]], f[2:]]))
            f = np.concatenate([[f[0]], f[0] + np.cumsum(u)])
    return f


# --------------------------------------------------------------- writer

def write_grib2(path: str, messages: list[dict]) -> None:
    """Write a multi-message GRIB2 file.

    Each message dict: ``name`` (shortName stand-in), ``data`` (2-D
    float array, np.nan = missing -> bitmap), ``lat0/lon0/dlat/dlon``
    (degrees, row-major north-to-south when dlat>0 with scanning mode
    0), ``decimals`` (decimal scale D, default 0), ``discipline``/
    ``category``/``parameter`` (code-table numbers, default 0/0/0),
    ``forecast_hour`` (default 0).
    """
    out = bytearray()
    for m in messages:
        a = np.asarray(m["data"], dtype=np.float64)
        if m.get("grid", "latlon") in ("lcc", "ps"):
            # templates 3.20/3.30 write scanning mode 0x40 (+i +j,
            # first row southernmost — the NCEP convention): flip the
            # caller's north-up array into file order
            a = a[::-1]
        nj, ni = a.shape
        D = int(m.get("decimals", 0))
        mask = np.isfinite(a)
        has_bmp = not mask.all()
        vals = a[mask]
        scaled = np.rint(vals * (10.0 ** D)).astype(np.int64)
        rmin = int(scaled.min()) if scaled.size else 0
        # R is stored as IEEE float32: keep it exactly representable
        # (24-bit mantissa) so decode is bit-deterministic.
        if abs(rmin) >= (1 << 24):
            raise NotImplementedError("reference value exceeds float32-exact range")
        x = (scaled - rmin).astype(np.int64)
        xmax = int(x.max()) if x.size else 0
        packing = m.get("packing", "simple")
        if packing == "complex":
            order = int(m.get("order", 2))
            payload, cf = _encode_complex(x, order)
            tnum5 = 3 if order else 2
        elif packing == "simple":
            nbits = max(1, xmax.bit_length())
            payload = _pack_bits(x, nbits)
            tnum5 = 0
        else:
            raise NotImplementedError(f"packing {packing!r}")

        sec1 = struct.pack(">HHBBBHBBBBBBB", 255, 255, 2, 1, 1,
                           2026, 1, 1, 0, 0, 0, 0, 1)
        sec1 = struct.pack(">IB", 5 + len(sec1), 1) + sec1
        if m.get("grid", "latlon") == "ps":
            # section 3: grid template 3.20 (polar stereographic —
            # the NCEP Alaska/polar product grids); hemisphere from
            # the sign of LaD via the projection-centre flag
            rad = int(m.get("earth_radius", 6_371_229))
            south = m["lad"] < 0
            tmpl3 = struct.pack(
                ">BBIBIBIIIIIBIIIIBB",
                6, 0, rad, 0, 0, 0, 0,
                ni, nj,
                _u32sm(int(round(m["la1"] * 1_000_000))),
                int(round(m["lo1"] * 1_000_000)) % 360_000_000,
                0x08,
                _u32sm(int(round(m["lad"] * 1_000_000))),
                int(round(m["lov"] * 1_000_000)) % 360_000_000,
                int(round(m["dx"] * 1_000)),
                int(round(m["dy"] * 1_000)),
                0x80 if south else 0x00,       # projection centre flag
                0x40)                          # scan +i +j
            sec3 = struct.pack(">IBBIBBH", 14 + len(tmpl3), 3, 0,
                               ni * nj, 0, 0, 20) + tmpl3
        elif m.get("grid", "latlon") == "lcc":
            # section 3: grid template 3.30 (Lambert conformal) —
            # frmts/grib reads these through degrib's lcc support;
            # la1/lo1 = geographic coords of the FIRST point in file
            # order (the SW corner under scan 0x40)
            rad = int(m.get("earth_radius", 6_371_229))
            la1 = _u32sm(int(round(m["la1"] * 1_000_000)))
            lo1 = int(round(m["lo1"] * 1_000_000)) % 360_000_000
            tmpl3 = struct.pack(
                ">BBIBIBIIIIIBIIIIBBIIII",
                6, 0, rad, 0, 0, 0, 0,        # spherical earth
                ni, nj,
                la1, lo1, 0x08,
                _u32sm(int(round(m["lad"] * 1_000_000))),
                int(round(m["lov"] * 1_000_000)) % 360_000_000,
                int(round(m["dx"] * 1_000)),   # Dx/Dy in mm
                int(round(m["dy"] * 1_000)),
                0x00, 0x40,                    # centre flag; scan +i +j
                _u32sm(int(round(m["latin1"] * 1_000_000))),
                _u32sm(int(round(m["latin2"] * 1_000_000))),
                _u32sm(-90_000_000), 0)        # southern pole (unused)
            sec3 = struct.pack(">IBBIBBH", 14 + len(tmpl3), 3, 0,
                               ni * nj, 0, 0, 30) + tmpl3
        else:
            # section 3: grid definition template 3.0 (lat/lon)
            lat0 = int(round(m["lat0"] * 1_000_000))
            lon0 = int(round(m["lon0"] * 1_000_000)) % 360_000_000
            dlat = int(round(m["dlat"] * 1_000_000))
            dlon = int(round(m["dlon"] * 1_000_000))
            lat1 = lat0 - (nj - 1) * dlat
            lon1 = (lon0 + (ni - 1) * dlon) % 360_000_000
            tmpl3 = struct.pack(
                ">BBIBIBIIIIIIIBIIIIB",
                6, 0, 6_371_229, 0, 0, 0, 0,   # spherical earth, radii
                ni, nj, 0, 0,
                _u32sm(lat0), lon0, 0x30,
                _u32sm(lat1), lon1,
                dlon, dlat, 0x00)              # scan mode 0: +i, -j
            sec3 = struct.pack(">IBBIBBH", 14 + len(tmpl3), 3, 0,
                               ni * nj, 0, 0, 0) + tmpl3
        # section 4: product definition template 4.0
        tmpl4 = struct.pack(">BBBBBHBBIBBIBBI",
                            int(m.get("category", 0)),
                            int(m.get("parameter", 0)),
                            2, 0, 0, 0, 0, 1,
                            int(m.get("forecast_hour", 0)),
                            1, 0, 0, 255, 0, 0)
        sec4 = struct.pack(">IBHH", 9 + len(tmpl4), 4, 0, 0) + tmpl4
        # section 5: data representation template 5.0 (simple) or
        # 5.2/5.3 (complex, +spatial differencing)
        if tnum5 == 0:
            tmpl5 = struct.pack(">fHHBB", float(np.float32(rmin)),
                                _u16sm(0), _u16sm(D), nbits, 0)
        else:
            tmpl5 = struct.pack(
                ">fHHBBBBIIIBBIBIB",
                float(np.float32(rmin)), _u16sm(0), _u16sm(D),
                cf["nbits"], 0,
                1,                      # general group splitting
                0,                      # no missing-value management
                0, 0,                   # missing substitutes (unused)
                cf["ng"],
                0, cf["wbits"],         # width reference + bits
                _GROUP_LEN, 1,          # length reference + increment
                cf["last_len"], 0)      # true last length; lbits = 0
            if tnum5 == 3:
                tmpl5 += struct.pack(">BB", cf["order"], cf["ds"])
        sec5 = struct.pack(">IBIH", 11 + len(tmpl5), 5,
                           int(vals.size), tnum5) + tmpl5
        if has_bmp:
            bmp = np.packbits(mask.reshape(-1).astype(np.uint8)).tobytes()
            sec6 = struct.pack(">IBB", 6 + len(bmp), 6, 0) + bmp
        else:
            sec6 = struct.pack(">IBB", 6, 6, 255)
        sec7 = struct.pack(">IB", 5 + len(payload), 7) + payload

        body = sec1 + sec3 + sec4 + sec5 + sec6 + sec7
        total = 16 + len(body) + 4
        sec0 = (b"GRIB" + b"\x00\x00"
                + struct.pack(">BB", int(m.get("discipline", 0)), 2)
                + struct.pack(">Q", total))
        out += sec0 + body + b"7777"
    with open(path, "wb") as f:
        f.write(bytes(out))


# --------------------------------------------------------------- reader

def _index_messages(path: str) -> list[dict]:
    """Driver-side message index: section headers only, no pixel data."""
    msgs = []
    fsize = os.path.getsize(path)
    with open(path, "rb") as f:
        pos = 0
        while pos + 16 <= fsize:
            f.seek(pos)
            sec0 = f.read(16)
            if sec0[:4] != b"GRIB":
                raise ValueError(f"bad GRIB magic at offset {pos}")
            if sec0[7] != 2:
                raise NotImplementedError("GRIB edition 1 not supported")
            discipline = sec0[6]
            total = struct.unpack(">Q", sec0[8:16])[0]
            m: dict = {"offset": pos, "discipline": discipline,
                       "bmp_off": -1, "bmp_len": 0}
            sp = pos + 16
            end = pos + total - 4
            while sp < end:
                f.seek(sp)
                hdr = f.read(5)
                slen, snum = struct.unpack(">IB", hdr)
                body_off = sp + 5
                if snum == 3:
                    b = f.read(slen - 5)
                    src, npts, noct, interp, tnum = struct.unpack_from(
                        ">BIBBH", b, 0)
                    if tnum not in (0, 20, 30):
                        raise NotImplementedError(
                            f"grid template 3.{tnum} not supported")
                    t = b[9:]  # template octet 15 -> t[0]
                    ni, nj = struct.unpack_from(">II", t, 16)
                    if tnum == 20:
                        # template 3.20: polar stereographic (NCEP
                        # Alaska/polar grids) — ps_north/ps_south
                        # variant B with lat_ts = LaD
                        rad = struct.unpack_from(">I", t, 2)[0] \
                            / (10.0 ** t[1])
                        la1 = _s32(struct.unpack_from(">I", t, 24)[0]) / 1e6
                        lo1 = struct.unpack_from(">I", t, 28)[0] / 1e6
                        if lo1 > 180.0:
                            lo1 -= 360.0
                        lad = _s32(struct.unpack_from(">I", t, 33)[0]) / 1e6
                        lov = struct.unpack_from(">I", t, 37)[0] / 1e6
                        if lov > 180.0:
                            lov -= 360.0
                        dx = struct.unpack_from(">I", t, 41)[0] / 1e3
                        dy = struct.unpack_from(">I", t, 45)[0] / 1e3
                        south = bool(t[49] & 0x80)
                        scan = t[50]
                        if scan not in (0x00, 0x40):
                            raise NotImplementedError(
                                f"scanning mode {scan:#04x} unsupported"
                                " for template 3.20")
                        from . import crs as _crs

                        fwd = (_crs.ps_south_forward if south
                               else _crs.ps_north_forward)
                        x1, y1 = fwd(_crs._NpBackend, np.float64(lo1),
                                     np.float64(la1), phi_f=lad,
                                     lon0=lov, a=rad, f=0.0)
                        lat0s = "-90" if south else "90"
                        m.update(
                            ni=ni, nj=nj, npts=npts, grid="ps",
                            flip=(scan == 0x40),
                            x1=float(x1), y1=float(y1), dx=dx, dy=dy,
                            la1=la1, lo1=lo1, lad=lad, lov=lov,
                            earth_radius=rad,
                            proj4=(f"+proj=stere +lat_0={lat0s}"
                                   f" +lat_ts={lad!r} +lon_0={lov!r}"
                                   f" +a={rad!r} +b={rad!r}"
                                   f" +units=m +no_defs"))
                    elif tnum == 0:
                        lat0 = _s32(struct.unpack_from(">I", t, 32)[0])
                        lon0 = struct.unpack_from(">I", t, 36)[0]
                        dlon = struct.unpack_from(">I", t, 49)[0]
                        dlat = struct.unpack_from(">I", t, 53)[0]
                        scan = t[57]
                        if scan != 0:
                            raise NotImplementedError(
                                f"scanning mode {scan:#04x} unsupported"
                                " for template 3.0")
                        m.update(ni=ni, nj=nj, npts=npts, grid="latlon",
                                 lat0=lat0 / 1e6, lon0=lon0 / 1e6,
                                 dlat=dlat / 1e6, dlon=dlon / 1e6,
                                 flip=False)
                    else:
                        # template 3.30: Lambert conformal (what NCEP
                        # NAM/HRRR-class products use); degrib's lcc
                        # path in frmts/grib. Scan 0x40 (+i +j, first
                        # row southernmost) is the NCEP convention.
                        rad = struct.unpack_from(">I", t, 2)[0] \
                            / (10.0 ** t[1])
                        la1 = _s32(struct.unpack_from(">I", t, 24)[0]) / 1e6
                        lo1 = struct.unpack_from(">I", t, 28)[0] / 1e6
                        if lo1 > 180.0:  # stored 0..360 per the spec
                            lo1 -= 360.0
                        lad = _s32(struct.unpack_from(">I", t, 33)[0]) / 1e6
                        lov = struct.unpack_from(">I", t, 37)[0] / 1e6
                        if lov > 180.0:
                            lov -= 360.0
                        dx = struct.unpack_from(">I", t, 41)[0] / 1e3
                        dy = struct.unpack_from(">I", t, 45)[0] / 1e3
                        scan = t[50]
                        if scan not in (0x00, 0x40):
                            raise NotImplementedError(
                                f"scanning mode {scan:#04x} unsupported"
                                " for template 3.30")
                        lat1 = _s32(struct.unpack_from(">I", t, 51)[0]) / 1e6
                        lat2 = _s32(struct.unpack_from(">I", t, 55)[0]) / 1e6
                        from . import crs as _crs

                        x1, y1 = _crs.lcc_forward(
                            _crs._NpBackend, np.float64(lo1),
                            np.float64(la1), phi1=lat1, phi2=lat2,
                            phi0=lad, lon0=lov, a=rad, f=0.0)
                        m.update(
                            ni=ni, nj=nj, npts=npts, grid="lcc",
                            flip=(scan == 0x40),
                            x1=float(x1), y1=float(y1), dx=dx, dy=dy,
                            la1=la1, lo1=lo1, lad=lad, lov=lov,
                            latin1=lat1, latin2=lat2,
                            earth_radius=rad,
                            proj4=(f"+proj=lcc +lat_1={lat1!r}"
                                   f" +lat_2={lat2!r} +lat_0={lad!r}"
                                   f" +lon_0={lov!r} +a={rad!r}"
                                   f" +b={rad!r} +units=m +no_defs"))
                elif snum == 4:
                    b = f.read(min(slen - 5, 64))
                    tnum = struct.unpack_from(">H", b, 2)[0]
                    if tnum == 0:
                        m["category"], m["parameter"] = b[4], b[5]
                        m["forecast_hour"] = struct.unpack_from(">I", b, 13)[0]
                elif snum == 5:
                    b = f.read(slen - 5)
                    ndata, tnum = struct.unpack_from(">IH", b, 0)
                    if tnum not in (0, 2, 3):
                        raise NotImplementedError(
                            f"packing template 5.{tnum} not supported")
                    R = struct.unpack_from(">f", b, 6)[0]
                    E = _s16(struct.unpack_from(">H", b, 10)[0])
                    D = _s16(struct.unpack_from(">H", b, 12)[0])
                    m.update(ndata=ndata, R=float(R), E=E, D=D,
                             nbits=b[14], tnum5=tnum)
                    if tnum in (2, 3):
                        if b[16] != 1:
                            raise NotImplementedError(
                                "only general group splitting")
                        if b[17] != 0:
                            raise NotImplementedError(
                                "missing-value management 1/2")
                        m.update(
                            cx_nbits=b[14],
                            cx_ng=struct.unpack_from(">I", b, 26)[0],
                            cx_ref_w=b[30], cx_wbits=b[31],
                            cx_ref_len=struct.unpack_from(">I", b, 32)[0],
                            cx_inc=b[36],
                            cx_last_len=struct.unpack_from(">I", b, 37)[0],
                            cx_lbits=b[41],
                            cx_order=b[42] if tnum == 3 else 0,
                            cx_ds=b[43] if tnum == 3 else 0)
                elif snum == 6:
                    ind = f.read(1)[0]
                    if ind == 0:
                        m["bmp_off"] = body_off + 1
                        m["bmp_len"] = slen - 6
                    elif ind != 255:
                        raise NotImplementedError(
                            "predefined bitmaps not supported")
                elif snum == 7:
                    m["data_off"] = body_off
                    m["data_len"] = slen - 5
                sp += slen
            msgs.append(m)
            pos += total
    return msgs


def read_grib2(spark: SparkSession, path: str, *, tile_px: int = 256,
               raster_id: str | None = None) -> DataFrame:
    """GRIB2 -> TILE_SCHEMA tile table; band b = message b (1-based),
    matching the reference's band-per-message model
    (gribdataset.cpp GRIBDataset::Open). Map-only scan."""
    msgs = _index_messages(path)
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    rows = []
    for bi, m in enumerate(msgs, start=1):
        nj, ni, nbits = m["nj"], m["ni"], m["nbits"]
        flip = bool(m.get("flip", False))
        if m["bmp_off"] >= 0 or m.get("tnum5", 0) != 0:
            # bitmap or complex packing: group boundaries / present-
            # value offsets are data-dependent, no closed-form row
            # offsets -> whole-message granularity
            rows.append((bi, 0, 0, nj, m["data_off"], m["data_len"], 0,
                         True, m["bmp_off"], m["bmp_len"],
                         m["R"], m["E"], m["D"], nbits, flip))
        else:
            for ty in range(math.ceil(nj / tile_px)):
                r0 = ty * tile_px
                h = min(tile_px, nj - r0)
                # scan 0x40 stores rows south->north: the NORTH-UP
                # strip [r0, r0+h) is the contiguous file-row range
                # [nj-r0-h, nj-r0) — still closed-form, still
                # strip-parallel
                fr0 = nj - r0 - h if flip else r0
                bit0 = fr0 * ni * nbits
                bit1 = (fr0 + h) * ni * nbits
                byte0 = bit0 // 8
                byte1 = min((bit1 + 7) // 8, m["data_len"])
                rows.append((bi, ty, r0, h, m["data_off"] + byte0,
                             byte1 - byte0, bit0 - byte0 * 8,
                             False, -1, 0,
                             m["R"], m["E"], m["D"], nbits, flip))
    meta = {bi: m for bi, m in enumerate(msgs, start=1)}
    seg = blockscan.spread(spark, rows, _SEG_SCHEMA)
    bc = spark.sparkContext.broadcast(meta)

    def scan(batches):
        for pdf in batches:
            out = []
            with open(path, "rb") as f:
                for r in pdf.itertuples(index=False):
                    m = bc.value[int(r.band)]
                    ni = m["ni"]
                    raw = os.pread(f.fileno(), int(r.data_len),
                                   int(r.data_off))
                    # Y = (R + X*2^E) / 10^D — ONE division, so the
                    # decode is bit-identical to a SQL oracle's
                    # (ref + x) / POWER(10, D) in float64
                    two_e = 2.0 ** int(r.E)
                    ten_d = 10.0 ** int(r.D)
                    if r.whole:
                        if int(r.bmp_off) >= 0:
                            bmp = np.unpackbits(np.frombuffer(
                                os.pread(f.fileno(), int(r.bmp_len),
                                         int(r.bmp_off)),
                                dtype=np.uint8))[: m["nj"] * ni] \
                                .astype(bool)
                            npresent = int(bmp.sum())
                        else:
                            bmp, npresent = None, m["nj"] * ni
                        if m.get("tnum5", 0) in (2, 3):
                            x = _decode_complex(raw, m)[:npresent]
                        else:
                            x = _unpack_bits(raw, 0, npresent,
                                             int(r.nbits))
                        vals = (float(r.R) + x * two_e) / ten_d
                        if bmp is None:
                            grid = vals.reshape(m["nj"], ni)
                        else:
                            full = np.full(m["nj"] * ni, np.nan)
                            full[bmp] = vals
                            grid = full.reshape(m["nj"], ni)
                        if r.flip:
                            grid = grid[::-1]
                        row0, h = 0, m["nj"]
                    else:
                        x = _unpack_bits(raw, int(r.bit0),
                                         int(r.height) * ni, int(r.nbits))
                        grid = ((float(r.R) + x * two_e) / ten_d) \
                            .reshape(int(r.height), ni)
                        if r.flip:
                            grid = grid[::-1]
                        row0, h = int(r.row0), int(r.height)
                    if m.get("grid", "latlon") in ("lcc", "ps"):
                        dx, dy = m["dx"], m["dy"]
                        ytop = m["y1"] + (
                            (m["nj"] - 1) * dy if r.flip else 0.0)
                        gt = (m["x1"] - dx / 2.0, dx, 0.0,
                              ytop + dy / 2.0, 0.0, -dy)
                        crs_s = m["proj4"]
                    else:
                        dx, dy = m["dlon"], m["dlat"]
                        gt = (m["lon0"] - dx / 2.0, dx, 0.0,
                              m["lat0"] + dy / 2.0, 0.0, -dy)
                        crs_s = "EPSG:4326"
                    grid = grid.astype(np.float64, copy=False)
                    for ty0 in range(0, h, tile_px):
                        out += strip_rows(
                            rid, int(r.band), 0, (row0 + ty0) // tile_px,
                            grid[ty0:ty0 + tile_px], gt, tile_px,
                            y0=row0 + ty0, crs=crs_s)
            yield pd.DataFrame(out, columns=TILE_COLUMNS)

    return seg.mapInPandas(scan, schema=TILE_SCHEMA)


def grib2_metadata(path: str) -> list[dict]:
    """gdalinfo-style per-band metadata (discipline/category/parameter/
    forecast hour/grid), mirroring GRIB_* band metadata items
    (gribdataset.cpp GRIBRasterBand::GetMetadata)."""
    out = []
    for bi, m in enumerate(_index_messages(path), start=1):
        rec = {
            "band": bi, "discipline": m["discipline"],
            "category": m.get("category", 0),
            "parameter": m.get("parameter", 0),
            "forecast_hour": m.get("forecast_hour", 0),
            "ni": m["ni"], "nj": m["nj"],
            "grid": m.get("grid", "latlon"),
            "nbits": m["nbits"], "decimals": m["D"],
            "bitmap": m["bmp_off"] >= 0,
            "packing": m.get("tnum5", 0),
        }
        if rec["grid"] in ("lcc", "ps"):
            rec.update(la1=m["la1"], lo1=m["lo1"], lad=m["lad"],
                       lov=m["lov"], dx=m["dx"], dy=m["dy"],
                       proj4=m["proj4"])
            if rec["grid"] == "lcc":
                rec.update(latin1=m["latin1"], latin2=m["latin2"])
        else:
            rec.update(lat0=m["lat0"], lon0=m["lon0"],
                       dlat=m["dlat"], dlon=m["dlon"])
        out.append(rec)
    return out
