"""GIF (Graphics Interchange Format) raster driver, from scratch.

Reference:
  - gdal/frmts/gif/gifdataset.cpp — single-frame read through giflib
    (DGifSlurp), band 1 = palette indices with a GDALColorTable from
    the global/local color map (:320-360), transparency from the
    Graphic Control Extension, interlaced row order undone on read
    (InterlacedOffset/InterlacedJumps), world-file georeferencing;
    CreateCopy writes GIF87a/89a with LZW (:556+).
  - gdal/frmts/gif/biggifdataset.cpp — the stream-once variant for
    frames too big to slurp (same wire format).
  - GIF89a specification (CompuServe, public): logical screen
    descriptor, color tables, image descriptor, LZW minimum code
    size + 255-byte sub-blocks, variable-width LSB-first codes,
    CLEAR/EOI, 12-bit cap, 4-pass interlace.

Spark lowering: an LZW stream has no reset points, so the parallel
unit is the FRAME (animation cells / the single image) — the same
whole-message fallback the GRIB complex-packing scan documents.  The
driver walks only block HEADERS (length-prefixed sub-block skips, no
pixel decode) and emits one descriptor per frame; executors pread
exactly their frame's byte range and run the LZW kernel locally.
Zero shuffles; a directory of GIFs (the web-corpus case) spreads at
file x frame granularity like any descriptor-parallel scan.  The
writer is the ordered single-stream sink (write_aaigrid contract):
one GIF is one sequential LZW stream; fleets of files write in
parallel.

Frame k > 0 reads as raster_id "<rid>:<k>" — the reference exposes
the same thing as GIF subdatasets.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import blockscan
from .synth import TILE_COLUMNS, TILE_SCHEMA, tile_row

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _skip_subblocks(f) -> tuple[int, int]:
    """(start, end) byte range of a sub-block chain; leaves f at the
    terminator's successor."""
    start = f.tell()
    while True:
        b = f.read(1)
        if not b:
            raise ValueError("truncated GIF sub-block chain")
        n = b[0]
        if n == 0:
            return start, f.tell()
        f.seek(n, 1)


def parse_gif(path: str) -> dict:
    """Header walk (driver-side, no pixel decode): logical screen,
    global color table, per-frame descriptors with their data byte
    ranges, palettes, interlace + transparency flags."""
    frames = []
    with open(path, "rb") as f:
        magic = f.read(6)
        if magic[:3] != b"GIF" or magic[3:] not in (b"87a", b"89a"):
            raise ValueError(f"not a GIF: {path}")
        sw, sh, flags, bg, _ar = struct.unpack("<HHBBB", f.read(7))
        gct = None
        if flags & 0x80:
            n = 2 << (flags & 7)
            gct = np.frombuffer(f.read(3 * n), np.uint8).reshape(n, 3)
        transparent = None
        while True:
            b = f.read(1)
            if not b or b[0] == 0x3B:        # trailer
                break
            if b[0] == 0x21:                 # extension
                label = f.read(1)[0]
                if label == 0xF9:            # graphic control
                    n = f.read(1)[0]
                    seg = f.read(n)
                    f.seek(1, 1)             # terminator
                    if seg[0] & 1:
                        transparent = seg[3]
                else:
                    _skip_subblocks(f)
            elif b[0] == 0x2C:               # image descriptor
                left, top, w, h, ifl = struct.unpack("<HHHHB", f.read(9))
                lct = None
                if ifl & 0x80:
                    n = 2 << (ifl & 7)
                    lct = np.frombuffer(
                        f.read(3 * n), np.uint8).reshape(n, 3)
                mcs = f.read(1)[0]
                lo, hi = _skip_subblocks(f)
                frames.append(dict(
                    left=left, top=top, width=w, height=h,
                    interlaced=bool(ifl & 0x40), mcs=mcs,
                    data_lo=lo, data_hi=hi,
                    palette=lct if lct is not None else gct,
                    transparent=transparent))
                transparent = None
            else:
                raise ValueError(f"unknown GIF block 0x{b[0]:02x}")
    return dict(width=sw, height=sh, background=bg,
                global_palette=gct, frames=frames)


def _lzw_decode_gif(data: bytes, mcs: int, npix: int) -> np.ndarray:
    """GIF-flavor LZW: LSB-first variable-width codes (TIFF's LZW in
    geotiff.py is the MSB-first cousin), CLEAR=2^mcs, EOI=CLEAR+1,
    width grows AFTER code 2^width-1 enters the table, 12-bit cap."""
    clear = 1 << mcs
    eoi = clear + 1
    out = np.empty(npix, np.uint8)
    pos = 0

    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = mcs + 1
    acc = nbits = 0
    prev = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = list(base)
                width = mcs + 1
                prev = None
                continue
            if code == eoi:
                return out[:pos]
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("corrupt GIF LZW stream")
            ln = len(entry)
            out[pos:pos + ln] = np.frombuffer(entry, np.uint8)[
                : max(0, npix - pos)]
            pos += ln
            prev = entry
            if len(table) >= (1 << width) and width < 12:
                width += 1
            if pos >= npix:
                return out[:npix]
    return out[:pos]


def _deinterlace(idx: np.ndarray) -> np.ndarray:
    h = idx.shape[0]
    order = np.concatenate([np.arange(s, h, j)
                            for s, j in _INTERLACE_PASSES])
    out = np.empty_like(idx)
    out[order] = idx
    return out


def _subblock_bytes(raw: bytes) -> bytes:
    """Concatenate a length-prefixed sub-block chain."""
    parts, p = [], 0
    while p < len(raw):
        n = raw[p]
        if n == 0:
            break
        parts.append(raw[p + 1:p + 1 + n])
        p += 1 + n
    return b"".join(parts)


_DESC = T.StructType([
    T.StructField("frame", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("interlaced", T.BooleanType()),
    T.StructField("mcs", T.IntegerType()),
    T.StructField("data_lo", T.LongType()),
    T.StructField("data_hi", T.LongType()),
])


def read_gif(spark: SparkSession, path: str, raster_id: str | None = None,
             expand: str | None = None, zoom: int = 0) -> DataFrame:
    """Distributed GIF scan -> TILE_SCHEMA (one row per frame for the
    index band; ``expand='rgb'`` emits 3 palette-expanded bands the
    way ``gdal_translate -expand rgb`` does).  Frame = parallel unit
    (module docstring)."""
    from .bmp import read_world_file

    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    meta = parse_gif(path)
    gt = [float(v) for v in read_world_file(
        os.path.splitext(path)[0] + ".wld") or
        [0.0, 1.0, 0.0, 0.0, 0.0, -1.0]]
    palettes = {k: fr["palette"] for k, fr in enumerate(meta["frames"])}
    rows = [(k, fr["width"], fr["height"], fr["interlaced"], fr["mcs"],
             fr["data_lo"], fr["data_hi"])
            for k, fr in enumerate(meta["frames"])]
    desc = blockscan.spread(spark, rows, _DESC)

    def scan(batches):
        for pdf in batches:
            out = []
            with open(path, "rb") as f:
                for r in pdf.itertuples(index=False):
                    f.seek(r.data_lo)
                    raw = f.read(r.data_hi - r.data_lo)
                    idx = _lzw_decode_gif(
                        _subblock_bytes(raw), int(r.mcs),
                        int(r.width) * int(r.height))
                    idx = idx.reshape(int(r.height), int(r.width))
                    if r.interlaced:
                        idx = _deinterlace(idx)
                    rid_k = rid if r.frame == 0 else f"{rid}:{r.frame}"
                    bands = [idx] if expand != "rgb" else [
                        palettes[int(r.frame)][idx, b] for b in range(3)]
                    out += [tile_row(rid_k, b + 1, int(zoom), 0,
                                     int(r.frame), a.astype(np.uint8), gt)
                            for b, a in enumerate(bands)]
            yield pd.DataFrame(out, columns=TILE_COLUMNS)

    return desc.mapInPandas(scan, schema=TILE_SCHEMA)


def gif_palette(path: str, frame: int = 0) -> pd.DataFrame:
    """(idx, red, green, blue) of the frame's effective color table —
    gifdataset.cpp's GDALColorTable surface."""
    pal = parse_gif(path)["frames"][frame]["palette"]
    return pd.DataFrame({"idx": np.arange(len(pal)),
                         "red": pal[:, 0], "green": pal[:, 1],
                         "blue": pal[:, 2]})


# ---------------------------------------------------------------- writer
def _lzw_encode_gif(idx: np.ndarray, mcs: int) -> bytes:
    """GIF LZW encode (variable width LSB-first, clear on table
    overflow at 4096)."""
    clear = 1 << mcs
    eoi = clear + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = mcs + 1

    out = bytearray()
    acc = nbits = 0

    def emit(code, w):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear, width)
    data = idx.tobytes()
    s = b""
    for i in range(len(data)):
        c = data[i:i + 1]
        if s + c in table:
            s += c
            continue
        emit(table[s], width)
        table[s + c] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code > 4095:
            emit(clear, width)
            table = {bytes([j]): j for j in range(clear)}
            next_code = eoi + 1
            width = mcs + 1
        s = c
    if s:
        emit(table[s], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def write_gif(tiles: DataFrame, path: str,
              palette: np.ndarray | None = None) -> dict:
    """Ordered single-stream GIF89a sink (one file = one sequential
    LZW stream — the write_aaigrid single-writer contract; fleets of
    files write in parallel).  Band 1 uint8 indices; default palette
    is the grayscale identity ramp gifdataset.cpp CreateCopy uses for
    greyscale input.  Emits a ``.wld`` world file when the tile table
    carries a geotransform."""
    from .bmp import write_world_file

    pdf = (tiles.filter("band = 1")
           .select("tile_x", "tile_y", "width", "height", "data",
                   "geotransform")
           .toPandas().sort_values(["tile_y", "tile_x"]))
    ntx = int(pdf["tile_x"].max()) + 1
    nty = int(pdf["tile_y"].max()) + 1
    # assemble the mosaic (small-side export sink)
    widths = {int(r.tile_x): int(r.width)
              for r in pdf.itertuples(index=False) if r.tile_y == 0}
    heights = {int(r.tile_y): int(r.height)
               for r in pdf.itertuples(index=False) if r.tile_x == 0}
    W = sum(widths.values())
    H = sum(heights.values())
    img = np.zeros((H, W), np.uint8)
    x0s = np.cumsum([0] + [widths[i] for i in range(ntx)])
    y0s = np.cumsum([0] + [heights[i] for i in range(nty)])
    for r in pdf.itertuples(index=False):
        a = np.frombuffer(r.data, np.uint8).reshape(
            int(r.height), int(r.width))
        img[y0s[r.tile_y]:y0s[r.tile_y] + a.shape[0],
            x0s[r.tile_x]:x0s[r.tile_x] + a.shape[1]] = a

    if palette is None:
        palette = np.repeat(np.arange(256, dtype=np.uint8), 3
                            ).reshape(256, 3)
    npal = len(palette)
    bits = max(1, int(np.ceil(np.log2(npal))))
    pal_n = 1 << bits
    pal = np.zeros((pal_n, 3), np.uint8)
    pal[:npal] = palette
    mcs = max(2, bits)

    with open(path, "wb") as f:
        f.write(b"GIF89a")
        f.write(struct.pack("<HHBBB", W, H,
                            0x80 | ((bits - 1) & 7), 0, 0))
        f.write(pal.tobytes())
        f.write(b"\x2c" + struct.pack("<HHHHB", 0, 0, W, H, 0))
        f.write(bytes([mcs]))
        enc = _lzw_encode_gif(img, mcs)
        for p in range(0, len(enc), 255):
            chunk = enc[p:p + 255]
            f.write(bytes([len(chunk)]) + chunk)
        f.write(b"\x00\x3b")
    gt = pdf["geotransform"].iloc[0]
    if gt is not None and list(gt) != [0.0, 1.0, 0.0, 0.0, 0.0, -1.0]:
        write_world_file(os.path.splitext(path)[0] + ".wld", list(gt))
    return {"path": path, "width": W, "height": H,
            "palette": int(pal_n), "bytes": os.path.getsize(path)}
