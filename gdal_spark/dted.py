"""DTED (MIL-PRF-89020B) and SRTMHGT elevation-cell drivers.

Reference:
  - gdal/frmts/dted/dted_api.c — UHL(80)+DSI(648)+ACC(2700) headers
    (optional leading VOL/HDR 80-byte records skipped), then nXSize
    column records of ``8 + 2*nYSize + 4`` bytes each: 0xAA sentinel,
    3-byte data-block count, 2-byte lon count, 2-byte lat count,
    big-endian SIGNED-MAGNITUDE samples bottom-to-top, 4-byte additive
    checksum over the first ``8 + 2*ny`` bytes (DTEDReadProfileEx
    :575, DTEDWriteProfile :740).  Values < -16000 that are not the
    -32767 nodata are re-read as two's complement (:644 heuristic).
    UHL geometry fields (DTEDOpenEx :230-345): lon origin DDDMMSSH at
    byte 4, lat origin at 12, intervals in tenths of arc seconds at
    20/24, counts at 47/51; UL corner = LL origin shifted half a
    pixel (:333).
  - gdal/frmts/dted/dted_create.c — header field layout the writer
    mirrors byte-for-byte (UHL :171-190, DSI :195-256, ACC :261-273).
  - gdal/frmts/srtmhgt/srtmhgtdataset.cpp — headerless big-endian
    int16 square cells; the FILENAME is the georeferencing
    ([ns]YY[ew]XXX.hgt names the SW cell corner, :366-373), the file
    SIZE is the schema (1201^2*2, 3601^2*2, 3601^2 byte, 1801x3601*2,
    :310-313 / :408-420), geotransform :443-448, nodata -32768 (:41).

Spark lowering: both formats are fixed-stride raw layouts, so the scan
is the descriptor-parallel map-only pattern (ehdr.read_raw family):
the driver reads only ~3.5 KB of header (DTED) or just the file stat
(SRTMHGT) and emits strip descriptors; executors pread their byte
ranges and decode with numpy — zero shuffles, zero driver pixel bytes,
identical shape at a 3601x3601 cell or a 100k-cell mosaic (each cell
an independent descriptor set).  DTED is column-major bottom-to-top,
so descriptors are COLUMN strips (consecutive profiles are contiguous
on disk); a task transposes its strip to row-major once, in memory.

Writers: SRTMHGT rows pwrite in parallel at closed-form offsets (the
driver only truncates).  DTED profiles are whole-column checksummed
records, so the writer needs full columns: one keyed shuffle
(groupBy tile_x, the BIP-writer pattern) assembles column strips,
then each task formats and pwrites its profile records in parallel.
The headers (3,428 bytes) are driver-side by nature.
"""

from __future__ import annotations

import math
import os
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import blockscan
from . import ehdr
from .synth import TILE_COLUMNS, TILE_SCHEMA, tile_row

UHL_SIZE, DSI_SIZE, ACC_SIZE = 80, 648, 2700
DTED_NODATA = -32767
SRTM_NODATA = -32768.0
_WGS84 = "EPSG:4326"

_STRIP_SCHEMA = T.StructType([
    T.StructField("col0", T.IntegerType()),
    T.StructField("ncols", T.IntegerType()),
])


# ------------------------------------------------------------------ SRTMHGT
def parse_hgt_name(path: str) -> tuple[int, int]:
    """SW cell corner from the filename (srtmhgtdataset.cpp:366-373):
    [NSns]YY[EWew]XXX.hgt."""
    name = os.path.basename(path)
    m = re.match(r"^([NSns])(\d{2})([EWew])(\d{3})\.", name)
    if not m:
        raise ValueError(f"{name}: not an SRTMHGT cell name")
    lat = int(m.group(2)) * (-1 if m.group(1) in "Ss" else 1)
    lon = int(m.group(4)) * (-1 if m.group(3) in "Ww" else 1)
    return lat, lon


def _hgt_shape(nbytes: int) -> tuple[int, int, str]:
    """(nx, ny, dtype) from the file size (srtmhgtdataset.cpp:310,408)."""
    if nbytes == 3601 * 3601 * 2:
        return 3601, 3601, "int16"
    if nbytes == 3601 * 3601:
        return 3601, 3601, "uint8"
    if nbytes == 1801 * 3601 * 2:
        return 1801, 3601, "int16"
    if nbytes == 1201 * 1201 * 2:
        return 1201, 1201, "int16"
    raise ValueError(f"{nbytes} bytes is not a valid SRTMHGT size")


def read_srtmhgt(spark: SparkSession, path: str, *, tile_px: int = 256,
                 raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    """SRTMHGT scan -> tile table: headerless raw big-endian cell, so
    this is exactly the ehdr.read_raw map-only strip scan with the
    header synthesized from the filename + file size."""
    lat, lon = parse_hgt_name(path)
    nx, ny, dtype = _hgt_shape(os.path.getsize(path))
    # srtmhgtdataset.cpp:443-448 — pixel-is-point, half-pixel shift
    gt = [lon - 0.5 / (nx - 1), 1.0 / (nx - 1), 0.0,
          lat + 1 + 0.5 / (ny - 1), 0.0, -1.0 / (ny - 1)]
    hdr = {"nrows": ny, "ncols": nx, "nbands": 1, "dtype": dtype,
           "byteorder": ">", "interleave": "bsq", "skip": 0,
           "geotransform": gt, "nodata": float(SRTM_NODATA)}
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    return ehdr.read_raw(spark, path, hdr, tile_px=tile_px,
                         raster_id=rid, zoom=zoom, crs=_WGS84)


def hgt_cell_name(sw_lat: int, sw_lon: int) -> str:
    """Canonical [NS]YY[EW]XXX.hgt name for a SW corner."""
    return "%s%02d%s%03d.hgt" % ("S" if sw_lat < 0 else "N", abs(sw_lat),
                                 "W" if sw_lon < 0 else "E", abs(sw_lon))


def write_srtmhgt(tiles: DataFrame, path: str, *,
                  tile_px: int = 256) -> str:
    """SRTMHGT sink (srtmhgtdataset.cpp CreateCopy :500-560): validate
    the cell shape, derive the SW corner from the geotransform, demand
    the canonical filename (the reference errors on a mismatch), then
    parallel-pwrite big-endian rows at closed-form offsets.  Returns
    the path written."""
    m = ehdr._collect_meta(tiles)
    nx, ny = int(m.img_w), int(m.img_h)
    if (nx, ny) not in ((1201, 1201), (3601, 3601), (1801, 3601)):
        raise ValueError(f"SRTMHGT cells are 1201/3601 square "
                         f"(or 1801x3601), got {nx}x{ny}")
    gt = list(m.gt)
    sw_lon = int(round(gt[0] + 0.5 * gt[1]))
    sw_lat = int(round(gt[3] + 0.5 * gt[5] - 1))  # top edge minus 1 deg
    want = hgt_cell_name(sw_lat, sw_lon)
    if os.path.basename(path).lower() != want.lower():
        raise ValueError(f"SRTMHGT filename must be {want} for this "
                         f"cell (got {os.path.basename(path)})")
    dtype = str(m.dtype)
    if dtype != "int16":
        raise ValueError("SRTMHGT writes int16 cells")
    isz = 2
    with open(path, "wb") as f:
        f.truncate(nx * ny * isz)

    def write_part(rows):
        with open(path, "r+b") as f:
            fd = f.fileno()
            for r in rows:
                arr = np.frombuffer(bytes(r["data"]), dtype=np.int16)
                h, w = int(r["height"]), int(r["width"])
                arr = arr.reshape(h, w).astype(">i2")
                gy0 = int(r["tile_y"]) * tile_px
                gx0 = int(r["tile_x"]) * tile_px
                for i in range(h):
                    os.pwrite(fd, arr[i].tobytes(),
                              ((gy0 + i) * nx + gx0) * isz)

    tiles.foreachPartition(write_part)
    return path


# -------------------------------------------------------------------- DTED
def _dms_field(angle: float, is_lat: bool, fmt: str = "%03d%02d%02d%c") -> str:
    """DDDMMSSH rendering (dted_create.c DTEDFormatDMS :43-85)."""
    hemi = ("S" if angle < 0 else "N") if is_lat else \
           ("W" if angle < 0 else "E")
    a = abs(angle)
    deg = int(math.floor(a + 0.5 / 3600.0))
    rem = a - deg
    mins = int(math.floor(rem * 60.0 + 0.5 / 60.0))
    rem -= mins / 60.0
    sec = int(math.floor(rem * 3600.0 + 0.5))
    return fmt % (deg, mins, sec, hemi)


def _parse_dms(field: bytes) -> float:
    """DDDMMSSH -> degrees (DTEDOpenEx :275-296, leading zeros
    stripped the same way)."""
    s = field.decode("ascii")
    deg, mins, sec, hemi = int(s[0:3]), int(s[3:5]), int(s[5:7]), s[7]
    v = deg + mins / 60.0 + sec / 3600.0
    return -v if hemi in ("W", "S") else v


def parse_dted_header(path: str) -> dict:
    """Driver-side header walk (DTEDOpenEx): skip VOL/HDR records,
    parse the UHL geometry fields, locate the data offset."""
    with open(path, "rb") as f:
        rec = f.read(UHL_SIZE)
        while rec[:3].upper() in (b"VOL", b"HDR"):
            rec = f.read(UHL_SIZE)
        if rec[:3].upper() != b"UHL":
            raise ValueError(f"{path}: no UHL record — not DTED")
        dsi = f.read(DSI_SIZE)
        acc = f.read(ACC_SIZE)
        if dsi[:3].upper() != b"DSI" or acc[:3].upper() != b"ACC":
            raise ValueError(f"{path}: DSI or ACC record missing")
        data_off = f.tell()
    px = int(rec[20:24]) / 36000.0
    py = int(rec[24:28]) / 36000.0
    nx = int(rec[47:51])
    ny = int(rec[51:55])
    lon_ll = _parse_dms(rec[4:12])
    lat_ll = _parse_dms(rec[12:20])
    # DTEDOpenEx :333 — UL corner from the LL origin
    gt = [lon_ll - 0.5 * px, px, 0.0,
          lat_ll - 0.5 * py + ny * py, 0.0, -py]
    return {"nx": nx, "ny": ny, "data_off": data_off,
            "geotransform": gt, "lon_ll": lon_ll, "lat_ll": lat_ll,
            "px": px, "py": py}


def _decode_profiles(raw: bytes, ncols: int, ny: int, col0: int,
                     verify_checksum: bool) -> np.ndarray:
    """Column records -> row-major (ny, ncols) int16 plane, top-down.
    Vectorized signed-magnitude decode incl. the reference's
    two-complement repair heuristic (dted_api.c :631-665)."""
    rec = 12 + 2 * ny
    a = np.frombuffer(raw, dtype=np.uint8).reshape(ncols, rec)
    if not (a[:, 0] == 0xAA).all():
        bad = int(np.argmin(a[:, 0] == 0xAA))
        raise ValueError(f"profile {col0 + bad}: missing 0xAA sentinel")
    if verify_checksum:
        sums = a[:, : 8 + 2 * ny].astype(np.uint32).sum(axis=1)
        want = (a[:, rec - 4].astype(np.uint32) << 24) | \
               (a[:, rec - 3].astype(np.uint32) << 16) | \
               (a[:, rec - 2].astype(np.uint32) << 8) | \
               a[:, rec - 1].astype(np.uint32)
        if not (sums == want).all():
            bad = int(np.argmin(sums == want))
            raise ValueError(f"profile {col0 + bad}: checksum mismatch")
    hi = a[:, 8:8 + 2 * ny:2].astype(np.int32)
    lo = a[:, 9:9 + 2 * ny:2].astype(np.int32)
    mag = ((hi & 0x7F) << 8) | lo
    neg = (hi & 0x80) != 0
    val = np.where(neg, -mag, mag)
    # dted_api.c :644 — some producers wrote two's complement; repair
    # any negative below -16000 that is not the -32767 nodata
    twos = ((hi << 8) | lo).astype(np.uint16).view(np.int16) \
        .astype(np.int32)
    val = np.where(neg & (val < -16000) & (val != DTED_NODATA),
                   twos, val)
    # profiles run bottom-to-top, one per column -> transpose + flip
    return val.astype(np.int16).T[::-1, :]


def read_dted(spark: SparkSession, path: str, *, tile_px: int = 256,
              raster_id: str | None = None, zoom: int = 0,
              verify_checksum: bool = False) -> DataFrame:
    """DTED scan -> tile table, map-only: one descriptor per column
    strip (consecutive profiles are contiguous bytes), each task
    preads its strip, decodes signed magnitude with numpy, transposes
    bottom-to-top profiles into top-down tile rows, and emits every
    tile of its strip.  No shuffle, no driver pixel bytes."""
    hdr = parse_dted_header(path)
    nx, ny, data_off = hdr["nx"], hdr["ny"], hdr["data_off"]
    gt = hdr["geotransform"]
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    rec = 12 + 2 * ny
    ntx = math.ceil(nx / tile_px)
    strips = [(tx * tile_px, min(tile_px, nx - tx * tile_px))
              for tx in range(ntx)]
    seg = blockscan.spread(spark, strips, _STRIP_SCHEMA)

    def scan(batches):
        for pdf in batches:
            out = []
            with open(path, "rb") as f:
                fd = f.fileno()
                for r in pdf.itertuples(index=False):
                    c0, w = int(r.col0), int(r.ncols)
                    raw = os.pread(fd, w * rec, data_off + c0 * rec)
                    plane = _decode_profiles(raw, w, ny, c0,
                                             verify_checksum)
                    tx = c0 // tile_px
                    out += [tile_row(rid, 1, zoom, tx, ty,
                                     plane[y0:y0 + tile_px], gt, x0=c0,
                                     y0=y0, nodata=float(DTED_NODATA),
                                     crs=_WGS84, dtype="int16")
                            for ty, y0 in enumerate(range(0, ny, tile_px))]
            yield pd.DataFrame(out, columns=TILE_COLUMNS)

    return seg.mapInPandas(scan, schema=TILE_SCHEMA)


def _dted_headers(sw_lat: int, sw_lon: int, nx: int, ny: int,
                  level: int) -> bytes:
    """UHL+DSI+ACC byte-for-byte per dted_create.c :171-273."""
    def put(buf: bytearray, off: int, s: str):
        buf[off:off + len(s)] = s.encode("ascii")

    uhl = bytearray(b" " * UHL_SIZE)
    put(uhl, 0, "UHL1")
    put(uhl, 4, _dms_field(sw_lon, False))
    put(uhl, 12, _dms_field(sw_lat, True))
    put(uhl, 20, "%04d" % ((3600 // (nx - 1)) * 10))
    put(uhl, 24, "%04d" % ((3600 // (ny - 1)) * 10))
    put(uhl, 28, "%4s" % "NA  ")
    put(uhl, 32, "%-3s" % "U")
    put(uhl, 47, "%04d" % nx)
    put(uhl, 51, "%04d" % ny)
    put(uhl, 55, "0")

    dsi = bytearray(b" " * DSI_SIZE)
    put(dsi, 0, "DSI")
    put(dsi, 3, "U")
    put(dsi, 59, "DTED%d" % level)
    put(dsi, 64, "%015d" % 0)
    put(dsi, 87, "%02d" % 1)
    put(dsi, 89, "A")
    put(dsi, 90, "%04d" % 0)
    put(dsi, 94, "%04d" % 0)
    put(dsi, 98, "%04d" % 0)
    put(dsi, 126, "PRF89020B")
    put(dsi, 135, "00")
    put(dsi, 137, "0005")
    put(dsi, 141, "MSL")
    put(dsi, 144, "WGS84")
    put(dsi, 185, _dms_field(sw_lat, True, "%02d%02d%02d.0%c"))
    put(dsi, 194, _dms_field(sw_lon, False, "%03d%02d%02d.0%c"))
    put(dsi, 204, _dms_field(sw_lat, True, "%02d%02d%02d%c"))
    put(dsi, 211, _dms_field(sw_lon, False))
    put(dsi, 219, _dms_field(sw_lat + 1, True, "%02d%02d%02d%c"))
    put(dsi, 226, _dms_field(sw_lon, False))
    put(dsi, 234, _dms_field(sw_lat + 1, True, "%02d%02d%02d%c"))
    put(dsi, 241, _dms_field(sw_lon + 1, False))
    put(dsi, 249, _dms_field(sw_lat, True, "%02d%02d%02d%c"))
    put(dsi, 256, _dms_field(sw_lon + 1, False))
    put(dsi, 264, "0000000.0")
    put(dsi, 273, "%04d" % ((3600 // (ny - 1)) * 10))
    put(dsi, 277, "%04d" % ((3600 // (nx - 1)) * 10))
    put(dsi, 281, "%04d" % ny)
    put(dsi, 285, "%04d" % nx)
    put(dsi, 289, "%02d" % 0)

    acc = bytearray(b" " * ACC_SIZE)
    put(acc, 0, "ACC")
    put(acc, 3, "NA")
    put(acc, 7, "NA")
    put(acc, 11, "NA")
    put(acc, 15, "NA")
    put(acc, 55, "00")
    return bytes(uhl + dsi + acc)


def _encode_profiles(plane: np.ndarray, col0: int) -> bytes:
    """Row-major top-down (ny, w) int16 -> w column records
    (DTEDWriteProfile :740-790), vectorized."""
    ny, w = plane.shape
    rec = 12 + 2 * ny
    # bottom-to-top profiles, columns of the plane
    prof = plane[::-1, :].T.astype(np.int32)          # (w, ny)
    mag = np.abs(prof)
    hi = ((mag >> 8) & 0x7F) | np.where(prof < 0, 0x80, 0)
    lo = mag & 0xFF
    out = np.zeros((w, rec), dtype=np.uint8)
    out[:, 0] = 0xAA
    cols = np.arange(col0, col0 + w)
    out[:, 2] = cols // 256
    out[:, 3] = cols % 256
    out[:, 4] = cols // 256
    out[:, 5] = cols % 256
    out[:, 8:8 + 2 * ny:2] = hi
    out[:, 9:9 + 2 * ny:2] = lo
    sums = out[:, : 8 + 2 * ny].astype(np.uint32).sum(axis=1)
    out[:, rec - 4] = (sums >> 24) & 0xFF
    out[:, rec - 3] = (sums >> 16) & 0xFF
    out[:, rec - 2] = (sums >> 8) & 0xFF
    out[:, rec - 1] = sums & 0xFF
    return out.tobytes()


def write_dted(tiles: DataFrame, path: str, *, level: int = 0,
               tile_px: int = 256) -> str:
    """DTED sink: the driver writes the 3,428 header bytes and
    truncates the data region; profile records are whole checksummed
    columns, so ONE keyed shuffle (groupBy tile_x — the ehdr BIP
    pattern) assembles full-height column strips, and each task
    formats + pwrites its records in parallel.  At scale the shuffle
    volume equals the raster once, keyed by column strip — the format
    demands it (a profile spans every row)."""
    m = ehdr._collect_meta(tiles)
    nx, ny = int(m.img_w), int(m.img_h)
    gt = list(m.gt)
    rec = 12 + 2 * ny
    sw_lon = int(round(gt[0] + 0.5 * gt[1]))
    sw_lat = int(round(gt[3] + ny * gt[5] - 0.5 * gt[5]))
    hdr = _dted_headers(sw_lat, sw_lon, nx, ny, level)
    data_off = len(hdr)
    with open(path, "wb") as f:
        f.write(hdr)
        f.truncate(data_off + nx * rec)

    out_schema = T.StructType([
        T.StructField("col0", T.IntegerType()),
        T.StructField("data", T.BinaryType()),
    ])

    def pack_strip(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tx = int(key[0])
        w = int(pdf["width"].iloc[0])
        plane = np.zeros((ny, w), dtype=np.int16)
        for r in pdf.itertuples(index=False):
            y0 = int(r.tile_y) * tile_px
            plane[y0:y0 + int(r.height), :] = np.frombuffer(
                bytes(r.data), dtype=np.int16).reshape(int(r.height), w)
        return pd.DataFrame([{"col0": tx * tile_px,
                              "data": _encode_profiles(plane,
                                                       tx * tile_px)}])

    packed = tiles.groupBy("tile_x").applyInPandas(pack_strip,
                                                   schema=out_schema)

    def write_part(rows):
        with open(path, "r+b") as f:
            fd = f.fileno()
            for r in rows:
                os.pwrite(fd, bytes(r["data"]),
                          data_off + int(r["col0"]) * rec)

    packed.foreachPartition(write_part)
    return path
