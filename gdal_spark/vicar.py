"""VICAR (JPL planetary image) driver — read.

Reference: gdal/frmts/pds/vicardataset.cpp (+ vicarkeywordhandler.cpp)
— `KEY=VALUE` ASCII label of LBLSIZE bytes (LBLSIZE itself is the
first keyword; EOL=1 appends a second label block after the pixels),
FORMAT BYTE/HALF/FULL/REAL/DOUB/COMP, ORG BSQ/BIL/BIP, NL/NS/NB
dims, RECSIZE record bytes, NBB binary prefix bytes per record, NLB
binary header records after the label, INTFMT LOW/HIGH and REALFMT
IEEE/RIEEE/VAX byte orders — VAX F/D floating decoded by 16-bit word
swap + (0.5 + f/2^n)*2^(e-128) excess-128 semantics; COMPRESS other
than NONE is refused (BASIC RLE out of scope).  autotest/gdrivers/
vicar.py pins checksums for 12 uncompressed layout/type variants,
reproduced in tests.

Spark lowering: records are fixed RECSIZE strides, so every (band,
strip) is a closed-form byte range read by the shared block scan
(blockscan), the NBB record prefix folded into the band offsets.
Map-only, zero shuffles.
"""

from __future__ import annotations

import os
import re

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from . import blockscan
from .blockscan import Layout

_FMT = {"BYTE": ("u1", 1), "HALF": ("i2", 2), "FULL": ("i4", 4),
        "REAL": ("f4", 4), "DOUB": ("f8", 8), "COMP": ("c8", 8)}


def _tokens(label: str) -> dict:
    """KEY=VALUE splitter; quoted strings may hold spaces."""
    out = {}
    for m in re.finditer(
            r"(\w+)=('(?:[^']|'')*'|\([^)]*\)|[^\s]+)", label):
        k, v = m.group(1), m.group(2)
        if v.startswith("'"):
            v = v[1:-1].replace("''", "'")
        out.setdefault(k, v)
    return out


def parse_vicar(path: str) -> dict:
    with open(path, "rb") as f:
        head = f.read(64).decode("latin-1", "replace")
        m = re.match(r"\s*LBLSIZE=(\d+)", head)
        if not m:
            raise ValueError(f"not a VICAR file: {path}")
        lblsize = int(m.group(1))
        f.seek(0)
        label = f.read(lblsize).decode("latin-1", "replace")
    kv = _tokens(label)
    if kv.get("COMPRESS", "NONE") not in ("NONE", ""):
        raise ValueError(
            f"VICAR COMPRESS={kv['COMPRESS']} not supported")
    fmt = kv.get("FORMAT", "BYTE")
    if fmt not in _FMT:
        raise ValueError(f"VICAR FORMAT {fmt!r}")
    base, isz = _FMT[fmt]
    nl = int(kv.get("NL", "0"))
    ns = int(kv.get("NS", "0"))
    nb = int(kv.get("NB", "1"))
    recsize = int(kv["RECSIZE"])
    nbb = int(kv.get("NBB", "0"))
    nlb = int(kv.get("NLB", "0"))
    org = kv.get("ORG", "BSQ")
    intfmt = kv.get("INTFMT", "LOW")
    realfmt = kv.get("REALFMT", "IEEE")
    if base in ("i2", "i4"):
        bo = "<" if intfmt == "LOW" else ">"
        vax = False
    elif base in ("f4", "f8", "c8"):
        vax = realfmt == "VAX"
        bo = "<" if realfmt == "RIEEE" else ">"
    else:
        bo, vax = "<", False
    return dict(nl=nl, ns=ns, nb=nb, dtype=base, itemsize=isz,
                byteorder=bo, vax=vax, org=org, recsize=recsize,
                nbb=nbb, data_off=lblsize + nlb * recsize, label=kv)


def _vax_f(u32: np.ndarray) -> np.ndarray:
    """VAX F_floating -> float64 (word-swapped, excess-128,
    0.5-based hidden fraction)."""
    v = ((u32 & 0xFFFF) << 16) | (u32 >> 16)
    s = (v >> 31) & 1
    e = (v >> 23) & 0xFF
    f = (v & 0x7FFFFF).astype(np.float64)
    val = (0.5 + f / (1 << 24)) * np.exp2(e.astype(np.float64) - 128)
    val[e == 0] = 0.0
    return np.where(s == 1, -val, val)


def _vax_d(u64: np.ndarray) -> np.ndarray:
    """VAX D_floating -> float64 (four 16-bit words, high first)."""
    w = [(u64 >> (16 * k)) & 0xFFFF for k in range(4)]
    v = (w[0] << 48) | (w[1] << 32) | (w[2] << 16) | w[3]
    s = (v >> 63) & 1
    e = (v >> 55) & 0xFF
    f = (v & ((1 << 55) - 1)).astype(np.float64)
    val = (0.5 + f / float(1 << 56)) * \
        np.exp2(e.astype(np.float64) - 128)
    val[e == 0] = 0.0
    return np.where(s == 1, -val, val)


def read_vicar(spark: SparkSession, path: str, *, tile_px: int = 256,
               raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    h = parse_vicar(path)
    NL, NS, NB = h["nl"], h["ns"], h["nb"]
    isz = h["itemsize"]
    recsize, org = h["recsize"], h["org"]
    base, vax = h["dtype"], h["vax"]
    # record index by organization (vicardataset IReadBlock): BSQ
    # records are lines per band, BIL band-lines, BIP one record per
    # PIXEL (N1=NB) — a line is NS consecutive records; each record
    # starts with NBB prefix bytes
    start = h["data_off"] + h["nbb"]
    if org == "BSQ":
        offs = [start + b * NL * recsize for b in range(NB)]
        pix, line = isz, recsize
    elif org == "BIL":
        offs = [start + b * recsize for b in range(NB)]
        pix, line = isz, NB * recsize
    else:
        offs = [start + b * isz for b in range(NB)]
        pix, line = recsize, NS * recsize
    decode = None
    if vax:
        def decode(planes, strip):
            if base == "f4":
                return [(b, _vax_f(v).astype(np.float32)) for b, v in planes]
            if base == "f8":
                return [(b, _vax_d(v)) for b, v in planes]
            # CFloat32: (re, im) VAX floats in one 8-byte sample
            return [(b, (_vax_f(v & 0xFFFFFFFF).astype(np.float32)
                         + 1j * _vax_f(v >> 32).astype(np.float32))
                     .astype(np.complex64)) for b, v in planes]

    return blockscan.read(
        spark, Layout(path, NS, NL,
                      {"f4": "<u4"}.get(base, "<u8") if vax else base,
                      tuple(offs), pixel_offset=pix, line_offset=line,
                      byteorder=None if vax else h["byteorder"],
                      zero_fill=True, decode=decode),
        raster_id=raster_id or os.path.splitext(os.path.basename(path))[0],
        geotransform=[0.0, 1.0, 0.0, 0.0, 0.0, -1.0], tile_px=tile_px,
        zoom=zoom)
