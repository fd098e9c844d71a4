"""BMP (Windows / OS/2 Device-Independent Bitmap) raster driver.

Reference:
  - gdal/frmts/bmp/bmpdataset.cpp — the header zoo (BITMAPFILEHEADER
    14 bytes `BM` + size + iOffBits; BITMAPINFOHEADER sizes 12 =
    OS/2 1.x with u16 dims, 40 = Win 3.x, 64 = OS/2 2.x, 108/124 =
    V4/V5, :1131-1141), 4-byte-aligned scanlines, BOTTOM-UP row order
    when iHeight > 0 (IReadBlock :346-353 seeks to
    `(ysize - row - 1) * nScanSize`), pixel triplets stored B,G,R so
    band N is byte `3 - nBand` of each pixel (:392-404, "Colour
    triplets in BMP file organized in reverse order"), paletted
    1/4/8-bit with BGR0 quads (BMPColorTable :179), sub-byte pixels
    unpacked high-bits-first (:489-520), and Create/IWriteBlock
    (:556-600, :1259-1430) writing the same layout.  Georeferencing is
    a `.wld` world file naming the CENTER of the UL pixel
    (GDALReadWorldFile from GDALPamDataset; bmpdataset :1048).
  - autotest/gdrivers/bmp.py — 1/4/8/24-bit read + create tests.

Spark lowering: an uncompressed BMP is a fixed-stride raw raster with
two quirks — rows are stored bottom-to-top and padded to 4 bytes — so
the scan is the shared block scan's (blockscan) descriptor-parallel
MAP-ONLY pattern: the driver reads only the <200-byte header (+1 KB
palette) and emits one strip descriptor per tile-row; an image strip
[y0, y0+h) is the CONTIGUOUS file range [(nrows-y0-h)*stride,
(nrows-y0)*stride), so each executor does one pread, one vertical
flip, one numpy de-interleave.  Zero shuffles, zero driver pixel
bytes; a 100k-tile mosaic of BMPs scans as independent descriptors,
the same shape as a parquet row-group scan.

The writer plans the same closed-form offsets (driver writes the
54/1078-byte header and truncates): 8-bit tiles pwrite their rows
directly in parallel; 24-bit needs each written row to interleave all
3 bands B,G,R, so one narrow keyed shuffle (groupBy tile) assembles
band triples first — exactly the reference's IWriteBlock order, made
batch.  RLE4/RLE8 compression is a sequential stream (each run's
offset depends on every prior run) and is rejected up front like the
reference rejects writing it.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import blockscan
from .blockscan import Layout

FILE_HDR = 14
BIH_WIN4 = 40


def _pad4(n: int) -> int:
    return (n + 3) & ~3


# ---------------------------------------------------------------- header
def parse_bmp(path: str) -> dict:
    """File + info header -> layout dict (bmpdataset.cpp Open
    :1077-1230).  Only BMPC_RGB (uncompressed) rasters scan in
    parallel; RLE streams are inherently sequential and unsupported."""
    with open(path, "rb") as f:
        head = f.read(FILE_HDR + 124)
    if head[:2] != b"BM":
        raise ValueError(f"{path}: not a BMP (no BM magic)")
    off_bits = struct.unpack_from("<I", head, 10)[0]
    bih_size = struct.unpack_from("<I", head, FILE_HDR)[0]
    if bih_size == 12:  # OS/2 1.x core header: u16 dims, no compression
        ncols, nrows_s, planes, bits = struct.unpack_from(
            "<HHHH", head, FILE_HDR + 4)
        nrows_s = int(nrows_s)
        compression, clr_used = 0, 0
    else:  # WIN4 (40) and every later superset start with the same 40
        (ncols, nrows_s, planes, bits, compression, _size_img,
         _xppm, _yppm, clr_used, _clr_imp) = struct.unpack_from(
            "<iihhIIiiII", head, FILE_HDR + 4)
    top_down = nrows_s < 0
    nrows = abs(int(nrows_s))
    if compression != 0:
        raise NotImplementedError(
            "BMP RLE/bitfields streams are sequential by construction "
            f"(biCompression={compression}); only BMPC_RGB scans")
    if bits not in (1, 4, 8, 24, 32):
        raise NotImplementedError(f"biBitCount={bits}")
    palette = None
    if bits <= 8:
        n_pal = int(clr_used) or (1 << bits)
        quad = 3 if bih_size == 12 else 4  # OS/2 1.x palettes are BGR
        with open(path, "rb") as f:
            f.seek(FILE_HDR + bih_size)
            raw = np.frombuffer(f.read(n_pal * quad), dtype=np.uint8)
        raw = raw.reshape(-1, quad)
        palette = raw[:, [2, 1, 0]].copy()  # BGR(0) -> RGB
    return {
        "ncols": int(ncols), "nrows": nrows, "bits": int(bits),
        "nbands": 3 if bits in (24, 32) else 1,
        "bytes_pp": bits // 8 if bits >= 8 else 0,
        "stride": _pad4((int(ncols) * bits + 7) // 8),
        "top_down": top_down, "data_offset": int(off_bits),
        "palette": palette,
    }


# ------------------------------------------------------------- world file
def read_world_file(path: str) -> list[float] | None:
    """`.wld` sidecar -> geotransform; the 6 lines name the CENTER of
    the UL pixel (GDALReadWorldFile contract), so shift half a cell."""
    wld = os.path.splitext(path)[0] + ".wld"
    if not os.path.exists(wld):
        return None
    v = [float(s) for s in open(wld).read().split()[:6]]
    resx, rot1, rot2, resy, cx, cy = v
    return [cx - resx / 2 - rot1 / 2, resx, rot1,
            cy - rot2 / 2 - resy / 2, rot2, resy]


def write_world_file(path: str, gt: list[float]) -> None:
    wld = os.path.splitext(path)[0] + ".wld"
    cx = gt[0] + gt[1] / 2 + gt[2] / 2
    cy = gt[3] + gt[4] / 2 + gt[5] / 2
    with open(wld, "w") as f:
        for v in (gt[1], gt[4], gt[2], gt[5], cx, cy):
            f.write(repr(float(v)) + "\n")


def _unpack_sub_byte(rows: np.ndarray, bits: int, w: int) -> np.ndarray:
    """1/4-bit pixels, high bits first (bmpdataset.cpp :489-520)."""
    if bits == 1:
        return np.unpackbits(rows, axis=1)[:, :w]
    hi, lo = rows >> 4, rows & 0x0F
    out = np.empty((rows.shape[0], rows.shape[1] * 2), dtype=np.uint8)
    out[:, 0::2], out[:, 1::2] = hi, lo
    return out[:, :w]


# ------------------------------------------------------------------ scan
def read_bmp(spark: SparkSession, path: str, *, tile_px: int = 256,
             raster_id: str | None = None, zoom: int = 0,
             crs: str = "", geotransform: list[float] | None = None,
             ) -> DataFrame:
    """BMP scan -> tile table, map-only.  One descriptor per tile-row;
    bottom-up strips are contiguous preads flipped in memory."""
    hdr = parse_bmp(path)
    nrows, ncols, bits = hdr["nrows"], hdr["ncols"], hdr["bits"]
    gt = geotransform or read_world_file(path) or \
        [0.0, 1.0, 0.0, float(nrows), 0.0, -1.0]
    decode = None
    if bits in (24, 32):
        # stored B,G,R(,x): band n = byte 3-n (:392)
        offs, width, pix = (2, 1, 0), ncols, bits // 8
    elif bits == 8:
        offs, width, pix = (0,), ncols, 1
    else:
        offs, width, pix = (0,), (ncols * bits + 7) // 8, 1

        def decode(planes, strip):
            return [(1, _unpack_sub_byte(planes[0][1], bits, ncols))]

    t = blockscan.read(
        spark, Layout(path, width, nrows, "u1",
                      tuple(hdr["data_offset"] + o for o in offs),
                      pixel_offset=pix, line_offset=hdr["stride"],
                      bottom_up=not hdr["top_down"], decode=decode),
        raster_id=raster_id or os.path.splitext(os.path.basename(path))[0],
        geotransform=gt, tile_px=tile_px, zoom=zoom, nodata=None, crs=crs)
    if gt[2] or gt[4]:
        # world-file rotation terms shift the tile origins too
        x0, y0 = F.col("tile_x") * tile_px, F.col("tile_y") * tile_px
        t = t.withColumn("geotransform", F.array(
            F.lit(gt[0]) + x0 * gt[1] + y0 * gt[2], F.lit(gt[1]),
            F.lit(gt[2]), F.lit(gt[3]) + x0 * gt[4] + y0 * gt[5],
            F.lit(gt[4]), F.lit(gt[5])))
    return t


def read_bmp_palette(path: str) -> pd.DataFrame:
    """Color table as a small driver-side frame (index, r, g, b) —
    the reference exposes it via GetColorTable (bmpdataset :658)."""
    pal = parse_bmp(path)["palette"]
    if pal is None:
        return pd.DataFrame(columns=["index", "r", "g", "b"])
    return pd.DataFrame({"index": np.arange(len(pal)),
                         "r": pal[:, 0], "g": pal[:, 1], "b": pal[:, 2]})


# ------------------------------------------------------------------ sink
def _bmp_header(ncols: int, nrows: int, bits: int,
                palette: np.ndarray | None) -> bytes:
    """BITMAPFILEHEADER + WIN4 BITMAPINFOHEADER + palette quads
    (bmpdataset.cpp Create :1259-1370)."""
    n_pal = 0 if bits == 24 else (len(palette) if palette is not None
                                  else 1 << bits)
    off = FILE_HDR + BIH_WIN4 + n_pal * 4
    stride = _pad4((ncols * bits + 7) // 8)
    fsize = off + stride * nrows
    out = bytearray()
    out += b"BM" + struct.pack("<IHHI", fsize, 0, 0, off)
    out += struct.pack("<IiihhIIiiII", BIH_WIN4, ncols, nrows, 1, bits,
                       0, stride * nrows, 0, 0, n_pal if bits <= 8 else 0,
                       0)
    if bits <= 8:
        if palette is None:  # grayscale ramp, the Create default
            idx = np.arange(n_pal, dtype=np.uint8)
            palette = np.stack([idx, idx, idx], axis=1)
        quads = np.zeros((n_pal, 4), dtype=np.uint8)
        quads[:, 0], quads[:, 1], quads[:, 2] = (
            palette[:, 2], palette[:, 1], palette[:, 0])  # RGB -> BGR0
        out += quads.tobytes()
    return bytes(out)


def write_bmp(tiles: DataFrame, path: str, *, tile_px: int = 256,
              palette: np.ndarray | None = None,
              world_file: bool = True) -> str:
    """BMP sink: 1 uint8 band -> 8-bit paletted, 3 uint8 bands ->
    24-bit BGR.  Driver writes header only; executors pwrite scanline
    segments at closed-form offsets (bottom-up, 4-byte padded)."""
    from .ehdr import _collect_meta

    m = _collect_meta(tiles)
    nrows, ncols = int(m["img_h"]), int(m["img_w"])
    nbands = int(m["nbands"])
    if m["dtype"] != "uint8":
        raise ValueError("BMP stores 8-bit samples; cast first")
    if nbands not in (1, 3):
        raise ValueError("BMP writes 1 (paletted) or 3 (24-bit) bands")
    bits = 8 if nbands == 1 else 24
    stride = _pad4(ncols * (bits // 8))
    header = _bmp_header(ncols, nrows, bits, palette)
    data_off = len(header)
    with open(path, "wb") as f:
        f.write(header)
        f.truncate(data_off + stride * nrows)
    if world_file and m["gt"] is not None:
        write_world_file(path, list(m["gt"]))

    if nbands == 1:
        def write_part(rows):
            with open(path, "r+b") as f:
                fd = f.fileno()
                for r in rows:
                    h, w = int(r["height"]), int(r["width"])
                    arr = np.frombuffer(bytes(r["data"]),
                                        dtype=np.uint8).reshape(h, w)
                    gy0 = int(r["tile_y"]) * tile_px
                    gx0 = int(r["tile_x"]) * tile_px
                    for i in range(h):
                        frow = nrows - 1 - (gy0 + i)
                        os.pwrite(fd, arr[i].tobytes(),
                                  data_off + frow * stride + gx0)
        tiles.foreachPartition(write_part)
        return path

    out_schema = T.StructType([
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("tile_y", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("data", T.BinaryType()),
    ])

    def interleave_bgr(key, pdf: pd.DataFrame) -> pd.DataFrame:
        h = int(pdf["height"].iloc[0])
        w = int(pdf["width"].iloc[0])
        cube = np.zeros((h, w, 3), dtype=np.uint8)
        for r in pdf.itertuples(index=False):
            # band n lands at byte 3-n of the triplet (:573 write order)
            cube[:, :, 3 - int(r.band)] = np.frombuffer(
                bytes(r.data), dtype=np.uint8).reshape(h, w)
        return pd.DataFrame([{
            "tile_x": int(key[0]), "tile_y": int(key[1]),
            "height": h, "width": w, "data": cube.tobytes(),
        }])

    packed = tiles.groupBy("tile_x", "tile_y").applyInPandas(
        interleave_bgr, schema=out_schema)

    def write_bgr(rows):
        with open(path, "r+b") as f:
            fd = f.fileno()
            for r in rows:
                h, w = int(r["height"]), int(r["width"])
                cube = np.frombuffer(bytes(r["data"]), dtype=np.uint8) \
                    .reshape(h, w * 3)
                gy0 = int(r["tile_y"]) * tile_px
                gx0 = int(r["tile_x"]) * tile_px
                for i in range(h):
                    frow = nrows - 1 - (gy0 + i)
                    os.pwrite(fd, cube[i].tobytes(),
                              data_off + frow * stride + gx0 * 3)

    packed.foreachPartition(write_bgr)
    return path
