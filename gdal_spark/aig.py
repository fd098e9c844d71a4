"""Arc/Info Binary Grid (AIG) coverage reader.

Reference: gdal/frmts/aigrid/ —
  - hdr.adf (gridlib.c AIGReadHeader :803): big-endian cell type at
    +16 (1=int, 2=float), inverted compression flag at +20, cell
    sizes f64 at +256/+264, blocks-per-row/column at +288/+292 and
    block pixel size at +296/+304.
  - dblbnd.adf (AIGReadBounds :1066): LLX/LLY/URX/URY doubles;
    raster size = (UR-LL+cell/2)/cell (aigopen.c :112-117);
    gt = (LLX, cellX, 0, URY, 0, -cellY).
  - sta.adf (AIGReadStatistics :1126): min/max/mean/stddev big-
    endian doubles — or the 24-byte little-endian min/max/mean
    variant.
  - w001001x.adf block index (AIGReadBlockIndex :878): 100-byte
    header (length word at +24), then nBlocks x (offset, size)
    u32 pairs, both stored halved.
  - w001001.adf blocks (AIGReadBlock :564): u16 size word, then for
    float cells raw BE f32; for uncompressed int rasters raw BE
    i32; else magic u8 + minsize u8 + big-endian min (sign from the
    first min byte) + payload: 0x00 const, 0x01/0x04/0x08/0x10/0x20
    raw 1/4/8/16/32-bit + min (unsigned-rollover add), 0xD7/0xCF
    literal 8/16-bit runs, 0xE0/0xF0/0xF8/0xFC repeat runs, 0xDF
    min-fill runs; marker >128 always a (256-marker) nodata run;
    zero-size blocks are all nodata (ESRI_GRID_NO_DATA).
  - multi-file coverages (aigopen.c AIGAccessTile :~200): tile
    (tx,ty) lives in w{tx+1}001 / w{tx+1}000 / z{tx+1}{ty-1}.adf.
  - band type (aigdataset.cpp :121-139): int grids narrow to Byte
    (nodata 255) when sta range fits 0..254, Int16 (nodata -32768)
    within +-32767, else Int32 (nodata -2147483647); float grids
    are Float32 with the float32-lowest nodata.
  - .clr colormap (TranslateColorTable :805) and the Arc/Info
    prj.adf projection text (imported via importFromESRI).

The CCITT-G4 block type (0xFF, aigccitt.c) is not implemented —
such blocks fill with nodata and a warning, the reference's own
fallback for unsupported tile types (gridlib.c :770-789).

Spark lowering: the driver reads the KB-scale header/index files
and builds a block-descriptor DataFrame; executors pread + decode
their blocks in mapInPandas — map-only, zero shuffles. The AIG
block IS the output tile, so no re-tiling pass exists.  For a
coverage with many wNNN/zNNN tile files the per-file index reads
are also KB-scale and independent (could themselves be distributed
over a file-descriptor DataFrame if a pathological 10^6-tile
coverage appears)."""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import blockscan
from .synth import TILE_COLUMNS, TILE_SCHEMA, tile_row

GRID_NO_DATA = -2147483647
FLOAT_NO_DATA = float(np.finfo(np.float32).min)


def _find(dirname: str, name: str) -> str | None:
    """Case-insensitive coverage-file lookup (AIGLLOpen tries both
    cases; fixtures ship in either)."""
    for cand in (name, name.upper()):
        p = os.path.join(dirname, cand)
        if os.path.exists(p):
            return p
    low = name.lower()
    for f in os.listdir(dirname):
        if f.lower() == low:
            return os.path.join(dirname, f)
    return None


def read_cover_info(cover: str) -> dict:
    hdr_p = _find(cover, "hdr.adf")
    bnd_p = _find(cover, "dblbnd.adf")
    if hdr_p is None or bnd_p is None:
        raise ValueError(f"AIG: {cover} lacks hdr.adf/dblbnd.adf")
    with open(hdr_p, "rb") as f:
        h = f.read(308)
    cell_type, compressed = struct.unpack(">2i", h[16:24])
    csx, csy = struct.unpack(">2d", h[256:272])
    bpr, bpc, bxs = struct.unpack(">3i", h[288:300])
    bys, = struct.unpack(">i", h[304:308])
    compressed = not compressed          # stored inverted
    with open(bnd_p, "rb") as f:
        llx, lly, urx, ury = struct.unpack(">4d", f.read(32))
    npix = int((urx - llx + 0.5 * csx) / csx)
    nlin = int((ury - lly + 0.5 * csy) / csy)

    vmin = vmax = mean = 0.0
    sta_p = _find(cover, "sta.adf")
    if sta_p:
        sta = open(sta_p, "rb").read()
        if len(sta) >= 32:
            vmin, vmax, mean, _sd = struct.unpack(">4d", sta[:32])
        elif len(sta) == 24:
            # gdal #6633: min/max/mean only, little-endian
            vmin, vmax, mean = struct.unpack("<3d", sta)

    if cell_type == 1:
        if 0.0 <= vmin and vmax <= 254.0:
            dtype, nodata = "uint8", 255.0
        elif -32767 <= vmin and vmax <= 32767:
            dtype, nodata = "int16", -32768.0
        else:
            dtype, nodata = "int32", float(GRID_NO_DATA)
    else:
        dtype, nodata = "float32", FLOAT_NO_DATA

    crs = ""
    prj_p = _find(cover, "prj.adf")
    if prj_p:
        crs = prj_to_wkt(parse_prj(open(prj_p).read()))

    return dict(cover=cover, cell_type=cell_type, compressed=compressed,
                cell_size=(csx, csy), blocks_per_row=bpr,
                blocks_per_column=bpc, block_xsize=bxs, block_ysize=bys,
                bounds=(llx, lly, urx, ury), width=npix, height=nlin,
                vmin=vmin, vmax=vmax, mean=mean,
                dtype=dtype, nodata=nodata, crs=crs,
                geotransform=[llx, csx, 0.0, ury, 0.0, -csy])


def read_block_index(cover: str, basename: str) -> list[tuple[int, int]]:
    """w001001x.adf → [(byte offset, byte size)] per block."""
    p = _find(cover, basename + "x.adf")
    if p is None:
        return []
    with open(p, "rb") as f:
        head = f.read(100)
        if len(head) < 100:
            return []
        nlength = struct.unpack(">I", head[24:28])[0] * 2
        nblocks = (nlength - 100) // 8
        raw = np.frombuffer(f.read(nblocks * 8), ">u4").reshape(-1, 2)
    return [(int(o) * 2, int(s) * 2) for o, s in raw]


def parse_prj(text: str) -> dict:
    kv = {}
    for line in text.splitlines():
        parts = line.split(None, 1)
        if parts:
            kv[parts[0].lower()] = parts[1].strip() if len(parts) > 1 else ""
    return kv


_DATUMS = {
    # datum keyword -> (WKT datum name, geogcs name, spheroid)
    "GDA94": ("Geocentric_Datum_of_Australia_1994", "GDA94",
              ("GRS 1980", 6378137.0, 298.257222101)),
    "NAD83": ("North_American_Datum_1983", "NAD83",
              ("GRS 1980", 6378137.0, 298.257222101)),
    "NAD27": ("North_American_Datum_1927", "NAD27",
              ("Clarke 1866", 6378206.4, 294.978698213898)),
    "WGS84": ("WGS_1984", "WGS 84", ("WGS 84", 6378137.0, 298.257223563)),
    "WGS72": ("WGS_1972", "WGS 72", ("WGS 72", 6378135.0, 298.26)),
}


def prj_to_wkt(kv: dict) -> str:
    """Minimal Arc/Info projection-file import (the reference feeds
    prj.adf through OSRImportFromESRI; UTM + GEOGRAPHIC covered —
    the cases the reference's own test data exercises)."""
    datum = kv.get("datum", "").upper()
    dat = _DATUMS.get(datum)
    if dat is None:
        return ""
    dname, gname, (sname, a, rf) = dat
    geog = (f'GEOGCS["{gname}",DATUM["{dname}",'
            f'SPHEROID["{sname}",{a:.15g},{rf:.15g}]],'
            f'PRIMEM["Greenwich",0],'
            f'UNIT["degree",0.0174532925199433]]')
    proj = kv.get("projection", "").upper()
    if proj in ("GEOGRAPHIC", ""):
        return geog
    if proj == "UTM":
        zone = int(kv.get("zone", "0"))
        yshift = float(kv.get("yshift", "0") or 0)
        lon0 = zone * 6 - 183
        return (f'PROJCS["unnamed",{geog},'
                f'PROJECTION["Transverse_Mercator"],'
                f'PARAMETER["latitude_of_origin",0],'
                f'PARAMETER["central_meridian",{lon0}],'
                f'PARAMETER["scale_factor",0.9996],'
                f'PARAMETER["false_easting",500000],'
                f'PARAMETER["false_northing",{yshift:.15g}],'
                f'UNIT["metre",1]]')
    return ""


def read_clr(cover: str) -> dict | None:
    """Colormap: any .clr in the coverage dir, else ../<cover>.clr
    (aigdataset.cpp :683-703)."""
    path = None
    for f in sorted(os.listdir(cover)):
        if f.lower().endswith(".clr"):
            path = os.path.join(cover, f)
            break
    if path is None:
        parent = os.path.dirname(os.path.abspath(cover))
        base = os.path.basename(os.path.abspath(cover))
        for ext in (".clr", ".CLR"):
            c = os.path.join(parent, base + ext)
            if os.path.exists(c):
                path = c
                break
    if path is None:
        return None
    ct = {}
    for line in open(path):
        tok = line.split()
        if len(tok) >= 4 and not tok[0].startswith("#"):
            idx = int(tok[0])
            ct[idx] = (int(tok[1]), int(tok[2]), int(tok[3]), 255)
    return ct or None


def _signed_min(b: bytes) -> int:
    """Variable-width big-endian min with the reference's sign rule
    (gridlib.c :694-718)."""
    if len(b) == 0:
        return 0
    if len(b) == 4:
        return struct.unpack(">i", b)[0]
    v = int.from_bytes(b, "big")
    if b[0] > 127:
        v -= 1 << (8 * len(b))
    return v


def _roll_add(arr: np.ndarray, nmin: int) -> np.ndarray:
    """AIGRolloverSignedAdd, vectorized: wrapping uint32 add."""
    return (arr.astype(np.uint32) + np.uint32(nmin & 0xFFFFFFFF)) \
        .astype(np.int32)


def decode_block(raw: bytes, bxs: int, bys: int, cell_type: int,
                 compressed: bool) -> np.ndarray:
    """One grid block → (bys, bxs) int32/float32 (AIGReadBlock)."""
    n = bxs * bys
    if len(raw) == 0:
        if cell_type == 2:
            return np.full((bys, bxs), FLOAT_NO_DATA, np.float32)
        return np.full((bys, bxs), GRID_NO_DATA, np.int32)
    body = raw[2:]
    if cell_type == 2:
        return np.frombuffer(body[:n * 4], ">f4").astype(
            np.float32).reshape(bys, bxs)
    if not compressed:
        return np.frombuffer(body[:n * 4], ">i4").astype(
            np.int32).reshape(bys, bxs)
    magic = body[0]
    minsize = body[1]
    nmin = _signed_min(body[2:2 + minsize])
    cur = body[2 + minsize:]
    if magic == 0x00:
        out = np.full(n, nmin, np.int32)
    elif magic == 0x08:
        out = _roll_add(np.frombuffer(cur[:n], np.uint8), nmin)
    elif magic == 0x04:
        by = np.frombuffer(cur[:(n + 1) // 2], np.uint8)
        nib = np.empty(len(by) * 2, np.uint8)
        nib[0::2] = by >> 4
        nib[1::2] = by & 0xF
        out = _roll_add(nib[:n], nmin)
    elif magic == 0x01:
        bits = np.unpackbits(np.frombuffer(cur[:(n + 7) // 8], np.uint8))
        out = _roll_add(bits[:n], nmin)
    elif magic == 0x10:
        out = _roll_add(np.frombuffer(cur[:n * 2], ">u2"), nmin)
    elif magic == 0x20:
        out = _roll_add(
            np.frombuffer(cur[:n * 4], ">i4").astype(np.int64)
            .astype(np.uint32), nmin)
    elif magic == 0xFF:
        # CCITT-G4 block: the reference's unsupported-type fallback
        out = np.full(n, GRID_NO_DATA, np.int32)
    else:
        out = _decode_runs(cur, n, magic, nmin)
    return out.reshape(bys, bxs)


def _decode_runs(cur: bytes, n: int, magic: int, nmin: int) -> np.ndarray:
    """0xE0/0xF0/0xFC/0xF8/0xDF/0xD7/0xCF run blocks
    (AIGProcessBlock :346-560)."""
    out = np.empty(n, np.int32)
    pos = 0
    filled = 0
    size = len(cur)
    u = np.uint32

    def radd(v):
        return np.int32(u(v & 0xFFFFFFFF) + u(nmin & 0xFFFFFFFF))

    while filled < n and pos < size:
        marker = cur[pos]
        pos += 1
        if marker > 128:
            cnt = 256 - marker
            out[filled:filled + cnt] = GRID_NO_DATA
            filled += cnt
        elif magic == 0xE0:
            v = radd(struct.unpack(">i", cur[pos:pos + 4])[0])
            pos += 4
            out[filled:filled + marker] = v
            filled += marker
        elif magic == 0xF0:
            v = np.int32((cur[pos] * 256 + cur[pos + 1]) + nmin)
            pos += 2
            out[filled:filled + marker] = v
            filled += marker
        elif magic in (0xFC, 0xF8):
            v = np.int32(cur[pos] + nmin)
            pos += 1
            out[filled:filled + marker] = v
            filled += marker
        elif magic == 0xDF:
            out[filled:filled + marker] = nmin
            filled += marker
        elif magic == 0xD7:
            vals = np.frombuffer(cur[pos:pos + marker], np.uint8)
            pos += marker
            out[filled:filled + marker] = _roll_add(vals, nmin)
            filled += marker
        elif magic == 0xCF:
            vals = np.frombuffer(cur[pos:pos + marker * 2], ">u2")
            pos += marker * 2
            out[filled:filled + marker] = _roll_add(vals, nmin)
            filled += marker
        else:
            raise ValueError(f"AIG: unknown block magic 0x{magic:02X}")
    return out


def _tile_basename(tx: int, ty: int) -> str:
    if ty == 0:
        return f"w{tx + 1:03d}001"
    if ty == 1:
        return f"w{tx + 1:03d}000"
    return f"z{tx + 1:03d}{ty - 1:03d}"


def read_aig(spark: SparkSession, cover: str, *,
             raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    """Coverage scan → tile table: one output tile per AIG block,
    map-only (driver touches only the KB header/index files)."""
    info = read_cover_info(cover)
    bxs, bys = info["block_xsize"], info["block_ysize"]
    bpr, bpc = info["blocks_per_row"], info["blocks_per_column"]
    W, H = info["width"], info["height"]
    gt = info["geotransform"]
    cell_type = info["cell_type"]
    compressed = info["compressed"]
    dtype, nodata = info["dtype"], info["nodata"]
    crs = info["crs"]
    rid = raster_id or os.path.basename(os.path.abspath(cover))

    gbx = (W + bxs - 1) // bxs           # global blocks per row
    gby = (H + bys - 1) // bys
    tiles_per_row = (W - 1) // (bxs * bpr) + 1
    tiles_per_col = (H - 1) // (bys * bpc) + 1

    rows = []
    for tty in range(tiles_per_col):
        for ttx in range(tiles_per_row):
            base = _tile_basename(ttx, tty)
            grid_p = _find(cover, base + ".adf")
            idx = read_block_index(cover, base) if grid_p else []
            for lby in range(bpc):
                for lbx in range(bpr):
                    BX, BY = ttx * bpr + lbx, tty * bpc + lby
                    if BX >= gbx or BY >= gby:
                        continue
                    bid = lbx + lby * bpr
                    # beyond-index / missing-file blocks are nodata
                    # (aigopen.c AIGReadTile :~90-118)
                    off, sz = idx[bid] if bid < len(idx) else (0, 0)
                    rows.append((grid_p or cover, BX, BY, off, sz))
    seg = blockscan.spread(
        spark, rows, "path string, bx int, by int, offset long, size int")

    def scan(batches):
        for pdf in batches:
            out = []
            handles = {}
            for r in pdf.itertuples(index=False):
                fd = handles.get(r.path)
                if fd is None:
                    fd = os.open(r.path, os.O_RDONLY)
                    handles[r.path] = fd
                raw = os.pread(fd, int(r.size) + 2, int(r.offset)) \
                    if int(r.size) > 0 else b""
                a = decode_block(raw, bxs, bys, cell_type, compressed)
                # clip block padding at the raster edge
                w = min(bxs, W - int(r.bx) * bxs)
                h = min(bys, H - int(r.by) * bys)
                a = a[:h, :w]
                if dtype == "uint8":
                    t = np.where(a == GRID_NO_DATA, 255, a) \
                        .astype(np.uint8)
                elif dtype == "int16":
                    t = np.where(a == GRID_NO_DATA, -32768, a) \
                        .astype(np.int16)
                else:
                    t = a.astype(dtype, copy=False)
                out.append(tile_row(
                    rid, 1, int(zoom), int(r.bx), int(r.by), t, gt,
                    x0=int(r.bx) * bxs, y0=int(r.by) * bys,
                    nodata=float(nodata), crs=crs, dtype=dtype))
            for fd in handles.values():
                os.close(fd)
            yield pd.DataFrame(out, columns=TILE_COLUMNS)

    return seg.mapInPandas(scan, schema=TILE_SCHEMA)
