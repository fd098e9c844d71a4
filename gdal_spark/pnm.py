"""PNM (Portable Any-Map: PGM grayscale / PPM RGB) raster driver.

Reference:
  - gdal/frmts/raw/pnmdataset.cpp — binary (raw) P5/P6 only, exactly
    like this module ("Currently no support for ascii"): whitespace/
    comment-tolerant header `P5|P6 <w> <h> <maxval>`, 8-bit when
    maxval < 256 else 16-bit BIG-endian samples (:118-137), PPM
    pixel-interleaved RGB, Create writes the same header then raw
    rows (:391-447); world-file georeferencing via PAM.
  - autotest/gdrivers/pnm.py — 1-band PGM + 3-band PPM create/read.

Spark lowering: a binary PNM is the ehdr fixed-stride raw family with
an ASCII header in front — the scan builds a header dict and hands it
to ehdr.read_raw (strip descriptors -> map-only pread, zero
shuffles); the writer emits the KB header driver-side and pwrites
strips after it (ehdr._write_raw_data skip=header).  PGM = one band
contiguous, PPM = BIP interleave (one narrow keyed shuffle assembles
band triples per tile, the BMP 24-bit sink's contract).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from .ehdr import _collect_meta, _write_raw_data, read_raw

_TOKEN = re.compile(rb"(?:\s|#[^\n]*\n)*(\S+)")


def parse_pnm(path: str) -> dict:
    """Header -> ehdr.read_raw dict (the PNMDataset::Open parse,
    whitespace- and #-comment-tolerant)."""
    with open(path, "rb") as f:
        head = f.read(512)
    if head[:2] not in (b"P5", b"P6"):
        raise ValueError(f"not a binary PNM (P5/P6): {path}")
    toks, pos = [], 2
    while len(toks) < 3:
        m = _TOKEN.match(head, pos)
        if not m:
            raise ValueError("truncated PNM header")
        toks.append(m.group(1))
        pos = m.end()
    w, h, maxval = (int(t) for t in toks)
    skip = pos + 1          # single whitespace after maxval
    nbands = 3 if head[:2] == b"P6" else 1
    dtype = "uint8" if maxval < 256 else "uint16"
    from .bmp import read_world_file

    gt = read_world_file(os.path.splitext(path)[0] + ".wld") or \
        [0.0, 1.0, 0.0, 0.0, 0.0, -1.0]
    return dict(nrows=h, ncols=w, nbands=nbands, dtype=dtype,
                interleave="bip", skip=skip, geotransform=gt,
                byteorder=">", crs="", maxval=maxval)


def read_pnm(spark: SparkSession, path: str, *, tile_px: int = 256,
             raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    """Distributed binary PNM scan -> tile table (map-only; the raw
    strip family)."""
    return read_raw(spark, path, parse_pnm(path), tile_px=tile_px,
                    raster_id=raster_id, zoom=zoom)


def write_pnm(tiles: DataFrame, path: str, *, tile_px: int = 256,
              maxval: int | None = None) -> dict:
    """P5 (1 band) / P6 (3 bands) sink: KB header driver-side,
    strip-parallel pwrite body (ehdr raw family with skip=header)."""
    from .bmp import write_world_file

    m = _collect_meta(tiles)
    nrows, ncols = int(m.img_h), int(m.img_w)
    nbands, dtype = int(m.nbands), str(m.dtype)
    if nbands not in (1, 3):
        raise ValueError("PNM holds 1 (PGM) or 3 (PPM) bands")
    if dtype not in ("uint8", "uint16"):
        raise ValueError("PNM samples are uint8 or uint16")
    if maxval is None:
        maxval = 255 if dtype == "uint8" else 65535
    hdr = (f"P{'6' if nbands == 3 else '5'}\n"
           f"{ncols} {nrows}\n{maxval}\n").encode("ascii")
    with open(path, "wb") as f:
        f.write(hdr)
    wdtype = dtype if dtype == "uint8" else ">u2"  # 16-bit is BE
    _write_raw_data(tiles, path, interleave="bip",
                    nrows=nrows, ncols=ncols, nbands=nbands,
                    dtype=wdtype, tile_px=tile_px, skip=len(hdr))
    gt = list(m.gt) if m.gt is not None else None
    if gt and gt != [0.0, 1.0, 0.0, 0.0, 0.0, -1.0]:
        write_world_file(os.path.splitext(path)[0] + ".wld", gt)
    return {"path": path, "width": ncols, "height": nrows,
            "bands": nbands, "maxval": maxval,
            "bytes": os.path.getsize(path)}
