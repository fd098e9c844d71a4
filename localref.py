"""Single-node reference implementations backing literal VALUES oracles.

Each function here recomputes a driver query's expected output WITHOUT
the distributed machinery — global numpy arrays instead of tiles +
halo exchange, in-process union-find instead of connected-component
joins, pure-Python xxhash64 instead of Spark's JVM expression — and
emits it as an ANSI `SELECT ... FROM (VALUES ...)` string DuckDB can
run. This is the `_sssp_oracle_sql` pattern (an independent local
Dijkstra as the oracle for the Pregel loop) applied to every query
whose answer no closed-form SQL expresses: the thing verified is the
distributed orchestration (tiling, halo seams, shuffle joins,
broadcast maps), by comparing it to a straightforward single-node
computation. `__spark_entry__.REGISTRY` names the function that
builds each query's oracle; each runs only when that oracle is asked
for.

Shared primitives (the declared single-node kernels: tile_pixels_np
input generator, gdal_checksum, los_visibility, idw_fill_window,
cell_segments, dither_tile, splitmix64/_rolling_hashes) are imported;
the per-op orchestration is re-derived here independently.

xxhash64 is a from-spec Python implementation of the public XXH64
algorithm (Cyan4973/xxHash; also Spark's
catalyst/expressions/XXH64.java) — parity with Spark's JVM expression
is pinned by tests/test_localref.py.
"""

from __future__ import annotations

import math
import os
import zlib

import numpy as np

from gdal_spark import geomlite as G
from gdal_spark import synth
from gdal_spark.synth import tile_pixels_np

SEED = synth.SEED
KNUTH = 2654435761
MOD32 = 4294967296

ORACLE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
)


# ================================================================ xxhash64
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def _signed(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def xxh64_bytes(data: bytes, seed: int = 42) -> int:
    """XXH64 over bytes (the string path of Spark's xxhash64)."""
    length = len(data)
    off = 0
    seed &= _M
    if length >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed
        v4 = (seed - _P1) & _M
        while off + 32 <= length:
            for i, v in enumerate((v1, v2, v3, v4)):
                k = int.from_bytes(data[off + 8 * i : off + 8 * i + 8], "little")
                v = (_rotl((v + k * _P2) & _M, 31) * _P1) & _M
                if i == 0:
                    v1 = v
                elif i == 1:
                    v2 = v
                elif i == 2:
                    v3 = v
                else:
                    v4 = v
            off += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M, 31) * _P1) & _M
            h = (h * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + length) & _M
    while off + 8 <= length:
        k = int.from_bytes(data[off : off + 8], "little")
        h ^= (_rotl((k * _P2) & _M, 31) * _P1) & _M
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        off += 8
    if off + 4 <= length:
        k = int.from_bytes(data[off : off + 4], "little")
        h ^= (k * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        off += 4
    while off < length:
        h ^= (data[off] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        off += 1
    return _signed(_fmix(h))


def xxh64_long(v: int, seed: int = 42) -> int:
    """XXH64 of one long (Spark's hashLong path)."""
    h = (seed + _P5 + 8) & _M
    h ^= (_rotl((v & _M) * _P2 & _M, 31) * _P1) & _M
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    return _signed(_fmix(h))


def xxh64_int(v: int, seed: int = 42) -> int:
    """XXH64 of one int (Spark's hashInt path — unsigned 32-bit widen)."""
    h = (seed + _P5 + 4) & _M
    h ^= ((v & 0xFFFFFFFF) * _P1) & _M
    h = (_rotl(h, 23) * _P2 + _P3) & _M
    return _signed(_fmix(h))


def xxh64_chain_int_longs(i: int, longs, seed: int = 42) -> int:
    """Spark's multi-argument xxhash64(int_col, array<long>): the seed
    threads through — result of each element hashes the next."""
    h = xxh64_int(i, seed)
    for v in longs:
        h = xxh64_long(int(v), h & _M)
    return h


# ============================================================== VALUES SQL
def values_sql(rows, cols, types) -> str:
    """Literal VALUES table with per-column CAST-pinned types.
    types: 'bigint' | 'double' | 'varchar' per column."""
    if not rows:
        casts = ", ".join(
            f"CAST(NULL AS {t.upper()}) AS {c}" for c, t in zip(cols, types)
        )
        return f"SELECT {casts} WHERE FALSE"

    def lit(v, t):
        if v is None:
            return f"CAST(NULL AS {t.upper()})"
        if t == "varchar":
            s = str(v).replace("'", "''")
            return f"'{s}'"
        if t == "double":
            # a bare decimal literal is inferred as DECIMAL and
            # DuckDB's DECIMAL->DOUBLE conversion double-rounds (int128
            # / 10^s in floating point) — 1-ulp drift on ~25% of
            # values.  A string parse is correctly rounded, so this
            # round-trips every finite double exactly.
            return f"CAST('{float(v)!r}' AS DOUBLE)"
        return str(int(v))

    body = ",\n".join(
        "(" + ", ".join(lit(v, t) for v, t in zip(r, types)) + ")" for r in rows
    )
    casted = ", ".join(
        f"CAST({c} AS {t.upper()}) AS {c}" for c, t in zip(cols, types)
    )
    return (
        f"SELECT {casted} FROM (VALUES {body}) AS _t({', '.join(cols)})"
    )


# ============================================================ raster inputs
def global_mosaic(ntx: int, nty: int, seed: int = SEED) -> np.ndarray:
    """The full synth raster as one array (what the tile table shards)."""
    rows = []
    for ty in range(nty):
        rows.append(
            np.hstack([tile_pixels_np(tx, ty, seed=seed) for tx in range(ntx)])
        )
    return np.vstack(rows)


def tile_checksums(arr: np.ndarray, tile_px: int, raster_id: str, band: int,
                   zoom: int):
    """(raster_id, band, zoom, tile_x, tile_y, checksum) rows for a
    global array re-split into tiles."""
    H, W = arr.shape
    out = []
    for ty in range(H // tile_px):
        for tx in range(W // tile_px):
            sub = arr[ty * tile_px : (ty + 1) * tile_px,
                      tx * tile_px : (tx + 1) * tile_px]
            out.append((raster_id, band, zoom, tx, ty, G.gdal_checksum(sub)))
    return out


CKS_COLS = ["raster_id", "band", "zoom", "tile_x", "tile_y", "checksum"]
CKS_TYPES = ["varchar", "bigint", "bigint", "bigint", "bigint", "bigint"]


def _gdal_cast_local(arr: np.ndarray, out_dtype: str) -> np.ndarray:
    """GDALCopyWords float->int: +0.5, clamp, floor (independent of
    tiling._gdal_cast on purpose — same published convention)."""
    if out_dtype.startswith("float"):
        return arr.astype(out_dtype)
    ranges = {"uint8": (0, 255), "int32": (-2147483648, 2147483647)}
    lo, hi = ranges[out_dtype]
    v = np.floor(arr.astype(np.float64) + 0.5) if arr.dtype.kind == "f" else arr
    return np.clip(v, lo, hi).astype(out_dtype)


# ============================================================== raster ops
def sql_raster_checksums() -> str:
    g = global_mosaic(4, 4)
    return values_sql(tile_checksums(g, 256, "byte_like", 1, 12), CKS_COLS, CKS_TYPES)


def sql_raster_stats() -> str:
    g = global_mosaic(4, 4).astype(np.float64)
    a = g  # synth nodata is -1.0 — uint8 data never matches, keep all
    cnt = a.size
    s = float(a.sum())
    ss = float((a * a).sum())
    mean = s / cnt
    std = math.sqrt(ss / cnt - mean ** 2)
    rows = [("byte_like", 1, int(cnt), _round6(float(a.min())),
             _round6(float(a.max())), _round6(mean), _round6(std))]
    return values_sql(rows,
                      ["raster_id", "band", "count", "min", "max", "mean",
                       "stddev"],
                      ["varchar", "bigint", "bigint", "double", "double",
                       "double", "double"])


def sql_raster_histogram() -> str:
    g = global_mosaic(4, 4).astype(np.float64)
    h, _ = np.histogram(g.ravel(), bins=np.linspace(0.0, 256.0, 17))
    rows = [("byte_like", 1, i, int(c)) for i, c in enumerate(h)]
    return values_sql(rows, ["raster_id", "band", "bucket", "cnt"],
                      ["varchar", "bigint", "integer", "bigint"])


def sql_windowed_read() -> str:
    """-srcwin oracle: clip each 256-px tile of the global 1024^2
    mosaic to the (100, 50, 500, 300) global-pixel window, checksum
    each non-empty piece."""
    g = global_mosaic(4, 4)
    px0, py0, w, h = 100, 50, 500, 300
    rows = []
    for ty in range(4):
        for tx in range(4):
            x0 = max(px0, tx * 256)
            x1 = min(px0 + w, (tx + 1) * 256)
            y0 = max(py0, ty * 256)
            y1 = min(py0 + h, (ty + 1) * 256)
            if x1 <= x0 or y1 <= y0:
                continue
            sub = g[y0:y1, x0:x1]
            rows.append(("byte_like", 1, 12, tx, ty, G.gdal_checksum(sub)))
    return values_sql(rows, CKS_COLS, CKS_TYPES)


def sql_retile_checksums() -> str:
    g = global_mosaic(2, 2)
    return values_sql(tile_checksums(g, 128, "byte_like", 1, 12),
                      CKS_COLS, CKS_TYPES)


def sql_overview_checksums() -> str:
    g = global_mosaic(4, 4).astype(np.float64)
    small = g.reshape(512, 2, 512, 2).mean(axis=(1, 3))
    out = _gdal_cast_local(small, "uint8")
    return values_sql(tile_checksums(out, 256, "byte_like", 1, 11), CKS_COLS, CKS_TYPES)


def _warp_global(src: np.ndarray, sx0, sy0, src_res, dx0, dy0, dst_res,
                 dst_w, dst_h, kernel: str, cutline_rings=None,
                 nodata: float = 0.0) -> np.ndarray:
    """Whole-raster warp between two affine grids — the single-node
    counterpart of tiling.warp's windowed/sharded pipeline with no
    inv_transform."""
    H, W = src.shape
    src = src.astype(np.float64)
    if cutline_rings is not None:
        gj, gi = np.mgrid[0:H, 0:W]
        swx = sx0 + (gi + 0.5) * src_res
        swy = sy0 - (gj + 0.5) * src_res
        inside = np.zeros((H, W), dtype=bool)
        for rxs, rys in cutline_rings:
            inside |= G.pip_one(
                swx.ravel(), swy.ravel(),
                np.asarray(rxs, dtype=np.float64),
                np.asarray(rys, dtype=np.float64),
            ).reshape(H, W)
        src = np.where(inside, src, nodata)
    jj, ii = np.mgrid[0:dst_h, 0:dst_w]
    wx = dx0 + (ii + 0.5) * dst_res
    wy = dy0 - (jj + 0.5) * dst_res
    lx = (wx - sx0) / src_res - 0.5
    ly = (sy0 - wy) / src_res - 0.5
    if kernel == "nearest":
        xi = np.clip(np.round(lx).astype(np.int64), 0, W - 1)
        yi = np.clip(np.round(ly).astype(np.int64), 0, H - 1)
        return src[yi, xi]
    x0i = np.clip(np.floor(lx).astype(np.int64), 0, W - 1)
    y0i = np.clip(np.floor(ly).astype(np.int64), 0, H - 1)
    x1i = np.clip(x0i + 1, 0, W - 1)
    y1i = np.clip(y0i + 1, 0, H - 1)
    fx = np.clip(lx - x0i, 0.0, 1.0)
    fy = np.clip(ly - y0i, 0.0, 1.0)
    return (
        src[y0i, x0i] * (1 - fx) * (1 - fy)
        + src[y0i, x1i] * fx * (1 - fy)
        + src[y1i, x0i] * (1 - fx) * fy
        + src[y1i, x1i] * fx * fy
    )


_R_EARTH = 6378137.0


def _zoom_res(zoom: int) -> float:
    return 2 * math.pi * _R_EARTH / 256 / (2 ** zoom)


def sql_warp_checksums() -> str:
    res = _zoom_res(12)
    x0 = -math.pi * _R_EARTH
    ytop = x0 + 2 * 256 * res
    g = global_mosaic(2, 2)
    out = _warp_global(g, x0, ytop, res, x0, ytop, res * 2, 256, 256, "bilinear")
    out = _gdal_cast_local(out, "uint8")
    return values_sql(tile_checksums(out, 256, "warped", 1, 12), CKS_COLS, CKS_TYPES)


def sql_warp_cutline_checksums() -> str:
    res = _zoom_res(12)
    x0 = -math.pi * _R_EARTH
    ytop = x0 + 256 * res
    ring = (
        np.array([x0 + 100 * res, x0 + 400 * res, x0 + 400 * res, x0 + 100 * res]),
        np.array([ytop - 450 * res, ytop - 450 * res, ytop - 80 * res, ytop - 80 * res]),
    )
    g = global_mosaic(2, 2)
    out = _warp_global(g, x0, ytop, res, x0, ytop, res, 512, 512, "nearest",
                       cutline_rings=[ring])
    out = _gdal_cast_local(out, "uint8")
    return values_sql(tile_checksums(out, 256, "warped", 1, 12), CKS_COLS, CKS_TYPES)


def sql_mosaic_checksums() -> str:
    rows = tile_checksums(global_mosaic(2, 2), 256, "byte_like", 1, 12)
    patch = tile_pixels_np(0, 0, seed=9)
    rows = [r for r in rows if not (r[3] == 0 and r[4] == 0)]
    rows.append(("patch", 1, 12, 0, 0, G.gdal_checksum(patch)))
    return values_sql(rows, CKS_COLS, CKS_TYPES)


def sql_raster_checksums_2x2() -> str:
    """Checksums of the 2x2 synth tile grid — oracle for the
    AAIGrid/XYZ driver roundtrips (the loops must reproduce the source
    tile table exactly)."""
    g = global_mosaic(2, 2)
    return values_sql(tile_checksums(g, 256, "byte_like", 1, 12),
                      CKS_COLS, CKS_TYPES)


def sql_bmp_checksums() -> str:
    """BMP roundtrip oracle: an 8-bit paletted single-band image
    (default-seed mosaic) plus a 24-bit 3-band image (seeds 1/9/17 for
    R/G/B) — both loops must reproduce the source tiles exactly."""
    rows = tile_checksums(global_mosaic(2, 2), 256, "byte_like", 1, 12)
    for band, seed in ((1, 1), (2, 9), (3, 17)):
        rows += tile_checksums(global_mosaic(2, 2, seed=seed), 256,
                               "rgb_like", band, 12)
    return values_sql(rows, CKS_COLS, CKS_TYPES)


def sql_surfer_checksums() -> str:
    """Surfer GSBG (float32) + GS7BG (float64) roundtrip oracle: both
    loops must reproduce the float-cast synth mosaic exactly (GDAL's
    checksum floors values, so the casts keep the uint8 sums)."""
    g = global_mosaic(2, 2)
    rows = tile_checksums(g, 256, "byte_like", 1, 12)
    rows += tile_checksums(g, 256, "gs7_like", 1, 12)
    return values_sql(rows, CKS_COLS, CKS_TYPES)


def sql_mbtiles_jpeg_checksums(quality: int = 85) -> str:
    """Oracle for the lossy MBTiles-JPEG loop: sequential
    decode(encode(tile)) with the engine's own deterministic baseline
    codec — the distributed write/read pyramid must land on the exact
    same pixels."""
    from gdal_spark.jpeg import decode_jpeg, encode_jpeg

    rows = []
    for ty in range(2):
        for tx in range(2):
            dec = decode_jpeg(encode_jpeg(tile_pixels_np(tx, ty), quality))
            rows.append(("jpeg_like", 1, 12, tx, ty, G.gdal_checksum(dec)))
    return values_sql(rows, CKS_COLS, CKS_TYPES)


def sql_gif_checksums() -> str:
    """GIF loop oracle: the 2x2 mosaic reads back as ONE frame row
    (LZW has no reset points -> frame granularity), expanded through
    the identity grayscale palette into 3 equal bands."""
    m = global_mosaic(2, 2)
    rows = []
    for band in (1, 2, 3):
        rows += tile_checksums(m, 512, "byte_like", band, 12)
    return values_sql(rows, CKS_COLS, CKS_TYPES)


def sql_envi_checksums_2x2_2band() -> str:
    """2-band ENVI/EHdr roundtrip oracle: band 1 = default-seed synth
    mosaic, band 2 = seed-9 mosaic (the writer interleaves them BIP,
    the reader must split them back untouched)."""
    rows = tile_checksums(global_mosaic(2, 2), 256, "byte_like", 1, 12)
    rows += tile_checksums(global_mosaic(2, 2, seed=9), 256,
                           "byte_like", 2, 12)
    return values_sql(rows, CKS_COLS, CKS_TYPES)


def sql_gdalinfo_2x2() -> str:
    """gdalinfo report oracle for the 2x2 synth raster."""
    g = global_mosaic(2, 2).astype(np.float64)
    mean = g.mean()
    std = math.sqrt((g * g).mean() - mean * mean)
    res = 2 * math.pi * 6378137.0 / 256 / (2 ** 12)
    origin = -math.pi * 6378137.0
    rows = [(
        "byte_like", 1, 512, 512, "uint8", 0.0, "EPSG:3857",
        _round6(origin), _round6(origin + 256 * res), _round6(res),
        _round6(-res), 4, int(g.size), _round6(g.min()), _round6(g.max()),
        _round6(mean), _round6(std),
    )]
    return values_sql(
        rows,
        ["raster_id", "band", "size_x", "size_y", "dtype", "nodata", "crs",
         "origin_x", "origin_y", "pixel_size_x", "pixel_size_y", "tiles",
         "count", "min", "max", "mean", "stddev"],
        ["varchar", "bigint", "bigint", "bigint", "varchar", "double",
         "varchar", "double", "double", "double", "double", "bigint",
         "bigint", "double", "double", "double", "double"],
    )


def _avg2x2_u8(a: np.ndarray) -> np.ndarray:
    q = a.astype(np.float64).reshape(a.shape[0] // 2, 2, a.shape[1] // 2, 2)
    m = q.mean(axis=(1, 3))
    return np.clip(np.floor(m + 0.5), 0, 255).astype(np.uint8)


def sql_cog_checksums() -> str:
    """COG writer loop oracle: full-res 2x2 tiles at zoom 12 plus two
    average-kernel overview levels (gcore/overview.cpp average; COG
    overview chain), all checksummed."""
    g = global_mosaic(2, 2)
    rows = tile_checksums(g, 256, "byte_like", 1, 12)
    l1 = _avg2x2_u8(g)
    rows.append(("byte_like", 1, 11, 0, 0, G.gdal_checksum(l1)))
    rows.append(("byte_like", 1, 10, 0, 0, G.gdal_checksum(_avg2x2_u8(l1))))
    return values_sql(rows, CKS_COLS, CKS_TYPES)


def sql_vrt_composite_checksums() -> str:
    """VRT XML composite oracle: 2x2 base mosaic + a ComplexSource
    patch (v*2+3, Byte cast) drawn later at tile (1,1) — later sources
    win (frmts/vrt/vrtsourcedrasterband.cpp draw order)."""
    rows = tile_checksums(global_mosaic(2, 2), 256, "vrt", 1, 12)
    patch = tile_pixels_np(0, 0, seed=9).astype(np.float64) * 2.0 + 3.0
    patch = _gdal_cast_local(patch, "uint8")
    rows = [r for r in rows if not (r[3] == 1 and r[4] == 1)]
    rows.append(("vrt", 1, 12, 1, 1, G.gdal_checksum(patch)))
    return values_sql(rows, CKS_COLS, CKS_TYPES)


def sql_vrt_derived_checksums() -> str:
    """VRT derived-band oracle: PixelFunctionType=sum over two 2x2
    sources, Float64 output (vrtderivedrasterband.cpp:678)."""
    s = global_mosaic(2, 2).astype(np.float64) + \
        global_mosaic(2, 2, seed=9).astype(np.float64)
    return values_sql(tile_checksums(s, 256, "vrt", 1, 12),
                      CKS_COLS, CKS_TYPES)


def _horn(pad: np.ndarray, res: float):
    nw, n, ne = pad[:-2, :-2], pad[:-2, 1:-1], pad[:-2, 2:]
    w_, e = pad[1:-1, :-2], pad[1:-1, 2:]
    sw, s, se = pad[2:, :-2], pad[2:, 1:-1], pad[2:, 2:]
    dzdx = ((ne + 2 * e + se) - (nw + 2 * w_ + sw)) / (8.0 * res)
    dzdy = ((sw + 2 * s + se) - (nw + 2 * n + ne)) / (8.0 * res)
    return dzdx, dzdy


def sql_dem_tri_checksums() -> str:
    g = global_mosaic(2, 2).astype(np.float64)
    pad = np.pad(g, 1, mode="edge")
    c = pad[1:-1, 1:-1]
    nb = np.stack(
        [pad[:-2, :-2], pad[:-2, 1:-1], pad[:-2, 2:],
         pad[1:-1, :-2], pad[1:-1, 2:],
         pad[2:, :-2], pad[2:, 1:-1], pad[2:, 2:]]
    )
    d = nb - c[None, :, :]
    out = np.sqrt((d * d).sum(axis=0))
    return values_sql(tile_checksums(out, 256, "tri", 1, 12), CKS_COLS, CKS_TYPES)


def sql_dem_aspect_checksums() -> str:
    g = global_mosaic(2, 2).astype(np.float64)
    pad = np.pad(g, 1, mode="edge")
    dzdx, dzdy = _horn(pad, 1.0)
    az = np.degrees(np.arctan2(dzdy, -dzdx))
    compass = np.where(az > 90.0, 450.0 - az, 90.0 - az)
    compass = np.where(compass == 360.0, 0.0, compass)
    out = np.where((dzdx == 0) & (dzdy == 0), -9999.0, compass)
    return values_sql(tile_checksums(out, 256, "aspect", 1, 12), CKS_COLS, CKS_TYPES)


def sql_pansharpen_checksums() -> str:
    rows = []
    for tx in range(2):
        v = tile_pixels_np(tx, 0, seed=SEED).astype(np.float64)
        pan = tile_pixels_np(tx, 0, seed=7).astype(np.float64)
        pseudo = 0.5 * v + 0.5 * (v * v)
        ratio = np.where(pseudo > 0, pan / np.maximum(pseudo, 1e-30), 0.0)
        for band, arr in ((1, v), (2, v * v)):
            rows.append(
                ("pansharp", band, 12, tx, 0, G.gdal_checksum(arr * ratio))
            )
    return values_sql(rows, CKS_COLS, CKS_TYPES)


# ----------------------------------------------------- zone-burn derived ops
def zones_raster(npx: int, zone_g: int = 8) -> np.ndarray:
    """Closed-form rect-zone burn on an npx x npx grid over lon[-180,
    180) lat[-85,85] north-up — the independent counterpart of
    rasterize_zones' PIP-kernel burn (already oracle-checked by
    rasterize_counts)."""
    rx, ry = 360.0 / npx, 170.0 / npx
    gx = np.arange(npx)
    lon = -180.0 + (gx + 0.5) * rx
    lat = 85.0 - (np.arange(npx) + 0.5) * ry
    kx = np.floor((lon + 180.0) / (360.0 / zone_g)).astype(np.int64)
    ky = np.floor((lat + 85.0) / (170.0 / zone_g)).astype(np.int64)
    zid = kx[None, :] * zone_g + ky[:, None]
    hole = (zid * KNUTH % MOD32) % 10 == 0
    return np.where(hole, -1, zid).astype(np.int32)


def sql_proximity_checksums() -> str:
    burned = zones_raster(128).astype(np.float64)
    ty_, tx_ = np.nonzero(burned == -1.0)
    H, W = burned.shape
    yy, xx = np.mgrid[0:H, 0:W]
    best = np.full((H, W), np.inf)
    for s in range(0, len(tx_), 2048):
        dx = xx[:, :, None] - tx_[None, None, s : s + 2048]
        dy = yy[:, :, None] - ty_[None, None, s : s + 2048]
        best = np.minimum(best, (dx * dx + dy * dy).min(axis=2))
    out = np.where(best <= 400.0, np.sqrt(best), -1.0)
    return values_sql(tile_checksums(out, 64, "proximity", 1, 0), CKS_COLS, CKS_TYPES)


def sql_fillnodata_checksums() -> str:
    from gdal_spark.raster import idw_fill_window

    g = global_mosaic(2, 2).astype(np.float64)
    g = g * g  # pixel_calc 'square'
    for ty in range(2):
        for tx in range(2):
            g[ty * 256 + 100 : ty * 256 + 120, tx * 256 + 100 : tx * 256 + 140] = -1.0
    pad = np.full((512 + 16, 512 + 16), np.nan)
    pad[8:-8, 8:-8] = g
    out = idw_fill_window(pad, 8, -1.0, 2.0)
    return values_sql(tile_checksums(out, 256, "filled", 1, 12), CKS_COLS, CKS_TYPES)


def sql_viewshed_curv_counts() -> str:
    """Curvature-mode viewshed oracle (alg/viewshed.cpp:64-75): the
    same single-node window assembly as sql_viewshed_counts with the
    height-drop parameters the contract query uses."""
    from gdal_spark.raster import los_visibility

    g = global_mosaic(2, 2).astype(np.float64)
    rows = []
    for obs_id, gx, gy in ((1, 100, 100), (2, 300, 260), (3, 450, 400)):
        radius = 60
        txs = [t for t in range(2) if t * 256 <= gx + radius and (t + 1) * 256 >= gx - radius]
        tys = [t for t in range(2) if t * 256 <= gy + radius and (t + 1) * 256 >= gy - radius]
        x0, x1 = min(txs) * 256, (max(txs) + 1) * 256
        y0, y1 = min(tys) * 256, (max(tys) + 1) * 256
        dem = g[y0:y1, x0:x1]
        vis = los_visibility(dem, gx - x0, gy - y0, 2.0, radius,
                             curv_coeff=0.85714,
                             sphere_diameter=2 * 6378137.0,
                             pixel_size=700.0)
        yy, xx = np.mgrid[0 : dem.shape[0], 0 : dem.shape[1]]
        in_rng = ((xx - (gx - x0)) ** 2 + (yy - (gy - y0)) ** 2) <= radius ** 2
        rows.append((obs_id, int((vis & in_rng).sum()), int(in_rng.sum())))
    return values_sql(rows, ["obs_id", "visible_px", "in_range_px"],
                      ["bigint", "bigint", "bigint"])


def sql_contour_totals_interval(interval=48.0, offset=7.0) -> str:
    """-i/-off level generation oracle: the closed-form level list from
    the mosaic min/max (level_generator.h:128-183), then the same
    cell_segments totals as sql_contour_totals."""
    g = global_mosaic(2, 2).astype(np.float64)
    k1 = math.ceil((float(g.min()) - offset) / interval)
    k2 = math.floor((float(g.max()) - offset) / interval)
    levels = tuple(float(k * interval + offset) for k in range(int(k1), int(k2) + 1))
    return sql_contour_totals(levels)


def sql_contour_totals(levels=(64.0, 128.5, 200.0)) -> str:
    from gdal_spark.contour import cell_segments

    g = global_mosaic(2, 2).astype(np.float64)
    A = g[:-1, :-1].ravel()
    B = g[:-1, 1:].ravel()
    C = g[1:, 1:].ravel()
    D = g[1:, :-1].ravel()
    rows = []
    for lv in levels:
        cnt, ln = cell_segments(A, B, C, D, lv)
        ln6 = math.floor(float(ln.sum()) * 1e6 + 0.5) / 1e6  # HALF_UP like F.round
        rows.append((float(lv), int(cnt.sum()), ln6))
    return values_sql(rows, ["level", "n_segments", "length"],
                      ["double", "bigint", "double"])


def sql_viewshed_counts() -> str:
    from gdal_spark.raster import los_visibility

    g = global_mosaic(2, 2).astype(np.float64)
    rows = []
    for obs_id, gx, gy in ((1, 100, 100), (2, 300, 260), (3, 450, 400)):
        radius = 60
        # window = union of 256px tiles whose bbox intersects the radius
        txs = [t for t in range(2) if t * 256 <= gx + radius and (t + 1) * 256 >= gx - radius]
        tys = [t for t in range(2) if t * 256 <= gy + radius and (t + 1) * 256 >= gy - radius]
        x0, x1 = min(txs) * 256, (max(txs) + 1) * 256
        y0, y1 = min(tys) * 256, (max(tys) + 1) * 256
        dem = g[y0:y1, x0:x1]
        vis = los_visibility(dem, gx - x0, gy - y0, 2.0, radius)
        yy, xx = np.mgrid[0 : dem.shape[0], 0 : dem.shape[1]]
        in_rng = ((xx - (gx - x0)) ** 2 + (yy - (gy - y0)) ** 2) <= radius ** 2
        rows.append((obs_id, int((vis & in_rng).sum()), int(in_rng.sum())))
    return values_sql(rows, ["obs_id", "visible_px", "in_range_px"],
                      ["bigint", "bigint", "bigint"])


# ===================================================== polygonize / sieve
def sql_polygonize_regions() -> str:
    """Global flood-fill CCL — fully independent of the per-tile CCL +
    seam-join + distributed-CC pipeline it checks."""
    arr = zones_raster(128)
    H, W = arr.shape
    seen = np.zeros((H, W), dtype=bool)
    rows = []
    for sy in range(H):
        for sx in range(W):
            if seen[sy, sx]:
                continue
            v = int(arr[sy, sx])
            stack = [(sy, sx)]
            seen[sy, sx] = True
            npix = 0
            xmin = xmax = sx
            ymin = ymax = sy
            while stack:
                y, x = stack.pop()
                npix += 1
                xmin = min(xmin, x); xmax = max(xmax, x)
                ymin = min(ymin, y); ymax = max(ymax, y)
                for ny, nx in ((y - 1, x), (y + 1, x), (y, x - 1), (y, x + 1)):
                    if 0 <= ny < H and 0 <= nx < W and not seen[ny, nx] \
                            and arr[ny, nx] == v:
                        seen[ny, nx] = True
                        stack.append((ny, nx))
            rows.append((float(v), npix, xmin, ymin, xmax, ymax))
    return values_sql(
        rows,
        ["value", "npix", "xmin", "ymin", "xmax", "ymax"],
        ["double", "bigint", "bigint", "bigint", "bigint", "bigint"],
    )


def sieve_local(arr: np.ndarray, tile_px: int, threshold: int) -> np.ndarray:
    """In-process port of the original driver-side sieve resolution
    (same label scheme + smallest-first merge policy) — the oracle for
    the distributed subgraph version."""
    import heapq

    from gdal_spark.polygonize import _UF, tile_ccl

    H, W = arr.shape
    glab = np.empty((H, W), dtype=np.int64)
    for ty in range(H // tile_px):
        for tx in range(W // tile_px):
            ys = slice(ty * tile_px, (ty + 1) * tile_px)
            xs = slice(tx * tile_px, (tx + 1) * tile_px)
            labels = tile_ccl(arr[ys, xs].astype(np.float64))
            gbase = (np.int64(ty) * (1 << 20) + tx) * (1 << 22)
            glab[ys, xs] = labels + gbase
    uf = _UF()
    for c in range(tile_px, W, tile_px):  # vertical seams
        same = arr[:, c - 1] == arr[:, c]
        for r in np.nonzero(same)[0]:
            uf.union(int(glab[r, c - 1]), int(glab[r, c]))
    for r in range(tile_px, H, tile_px):  # horizontal seams
        same = arr[r - 1, :] == arr[r, :]
        for c in np.nonzero(same)[0]:
            uf.union(int(glab[r - 1, c]), int(glab[r, c]))

    flat_l = glab.ravel()
    flat_v = arr.ravel()
    uniq, inv, cnt = np.unique(flat_l, return_inverse=True, return_counts=True)
    roots = np.array([uf.find(int(u)) for u in uniq], dtype=np.int64)
    size: dict = {}
    value: dict = {}
    firsts = np.zeros(len(uniq), dtype=np.int64)
    firsts[inv[::-1]] = np.arange(len(flat_l))[::-1]
    for k in range(len(uniq)):
        rt = int(roots[k])
        size[rt] = size.get(rt, 0) + int(cnt[k])
        value[rt] = float(flat_v[firsts[k]])

    neigh: dict = {rt: set() for rt in size}
    rl = roots[inv].reshape(H, W)
    vv = arr
    for a_l, b_l, a_v, b_v in (
        (rl[:, :-1], rl[:, 1:], vv[:, :-1], vv[:, 1:]),
        (rl[:-1, :], rl[1:, :], vv[:-1, :], vv[1:, :]),
    ):
        diff = a_v != b_v
        if diff.any():
            pa = a_l[diff]
            pb = b_l[diff]
            for x, y in set(zip(pa.tolist(), pb.tolist())):
                neigh[x].add(y)
                neigh[y].add(x)

    merged_into: dict = {}

    def final(x):
        while x in merged_into:
            x = merged_into[x]
        return x

    heap = [(sz, rt) for rt, sz in size.items() if sz < threshold]
    heapq.heapify(heap)
    while heap:
        sz, rt = heapq.heappop(heap)
        if rt in merged_into or size.get(rt, 0) != sz or sz >= threshold:
            continue
        cands = {final(n) for n in neigh.get(rt, ())} - {rt}
        if not cands:
            continue
        target = max(cands, key=lambda n: (size.get(n, 0), -n))
        merged_into[rt] = target
        size[target] = size.get(target, 0) + sz
        neigh.setdefault(target, set()).update(
            n for n in neigh.get(rt, ()) if final(n) != target
        )
        size.pop(rt, None)
        if size[target] < threshold:
            heapq.heappush(heap, (size[target], target))

    out_lut = np.array(
        [value[final(int(r))] for r in roots], dtype=np.float64
    )
    return out_lut[inv].reshape(H, W)


def sql_sieve_checksums() -> str:
    out = sieve_local(zones_raster(128).astype(np.float64), 64, 40)
    return values_sql(tile_checksums(out, 64, "sieved", 1, 0), CKS_COLS, CKS_TYPES)


# ================================================================= dither
def _median_cut_local(pts: np.ndarray, n_colors: int) -> np.ndarray:
    """Single-node weighted median cut over the 5-bit 3-D histogram
    (same published convention as color.hist_median_cut, computed here
    from raw pixels via np.unique rather than distributed bincounts)."""
    v = np.clip(np.round(pts), 0, 255).astype(np.int64) >> 3
    code = (v[:, 0] << 10) | (v[:, 1] << 5) | v[:, 2]
    codes, cnts = np.unique(code, return_counts=True)
    bins = np.stack(
        [(codes >> 10) & 31, (codes >> 5) & 31, codes & 31], axis=1
    ).astype(np.int64)
    boxes = [(bins, cnts.astype(np.int64))]
    while len(boxes) < n_colors:
        best = (-1, -1, -1)
        for i, (b, _) in enumerate(boxes):
            if len(b) <= 1:
                continue
            for c in range(3):
                cand = (int(b[:, c].max() - b[:, c].min()), i, c)
                if cand > best:
                    best = cand
        rng, bi, ch = best
        if rng <= 0:
            break
        b, wt = boxes.pop(bi)
        order = np.argsort(b[:, ch], kind="stable")
        bs, ws = b[order], wt[order]
        cum = np.cumsum(ws)
        k = int(np.searchsorted(cum, cum[-1] / 2.0))
        med = int(bs[min(k, len(bs) - 1), ch])
        sel = b[:, ch] <= med
        parts = [(b[sel], wt[sel]), (b[~sel], wt[~sel])]
        if len(parts[0][0]) == 0 or len(parts[1][0]) == 0:
            h = len(bs) // 2
            parts = [(bs[:h], ws[:h]), (bs[h:], ws[h:])]
        boxes.extend(parts)
    out = []
    for b, wt in boxes:
        if len(b) == 0:
            out.append([0, 0, 0])
        else:
            # gdalmediancut.cpp:578-580: ((min + max) << shift) / 2
            out.append((((b.min(axis=0) + b.max(axis=0)) * 8) // 2).tolist())
    return np.clip(np.array(out), 0, 255).astype(np.uint8)


def _derived_rgb(tx: int) -> np.ndarray:
    v = tile_pixels_np(tx, 0)
    return np.stack([v, 255 - v, v // 2], axis=-1)


def sql_dither_checksums() -> str:
    from gdal_spark.color import dither_tile

    pts = np.vstack(
        [_derived_rgb(tx).astype(np.float64).reshape(-1, 3) for tx in range(2)]
    )
    pal = _median_cut_local(pts, 8)
    rows = []
    for tx in range(2):
        out = dither_tile(_derived_rgb(tx).astype(np.uint8), pal)
        rows.append(("paletted", 1, 12, tx, 0, G.gdal_checksum(out)))
    return values_sql(rows, CKS_COLS, CKS_TYPES)


# ================================================================== media
def sql_media_thumbnails() -> str:
    rows = []
    for did in range(64):
        px = ((np.arange(32 * 32 * 3) * 7 + did) % 256).astype(np.uint8)
        arr = px.reshape(32, 32, 3).astype(np.float64)
        small = arr.reshape(8, 4, 8, 4, 3).mean(axis=(1, 3))
        small = np.clip(np.floor(small + 0.5), 0, 255).astype(np.uint8)
        blob = (8).to_bytes(2, "big") + (8).to_bytes(2, "big") + small.tobytes()
        rows.append((f"{did:09d}", 8, 8, zlib.crc32(blob)))
    return values_sql(
        rows,
        ["media_id", "height", "width", "crc"],
        ["varchar", "bigint", "bigint", "bigint"],
    )


# ============================================================ text / dedup
def _read_parquet(path: str):
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pandas()


def sql_minhash_pairs(threshold: float = 0.8, n_hashes: int = 64,
                      bands: int = 16, shingle_k: int = 5) -> str:
    from gdal_spark.functions.text import _norm_py, _rolling_hashes

    docs = _read_parquet(f"{ORACLE_SF_DIR}/documents.parquet")
    seeds = (G.splitmix64(np.arange(n_hashes)) | np.uint64(1)).astype(np.uint64)
    sigs = {}
    with np.errstate(over="ignore"):
        for did, text in zip(docs["doc_id"], docs["text"]):
            sh = np.unique(_rolling_hashes(_norm_py(text), shingle_k))
            m = sh[:, None] * seeds[None, :]
            sigs[int(did)] = m.min(axis=0).astype(np.int64)
    slice_len = n_hashes // bands
    buckets: dict = {}
    for did, sig in sigs.items():
        for b in range(bands):
            key = (b, xxh64_chain_int_longs(b, sig[b * slice_len : (b + 1) * slice_len]))
            buckets.setdefault(key, []).append(did)
    pairs = set()
    for mem in buckets.values():
        if len(mem) > 1000:  # the engine's max_bucket hot-key cap
            continue
        mem = sorted(mem)
        for i in range(len(mem)):
            for j in range(i + 1, len(mem)):
                pairs.add((mem[i], mem[j]))
    rows = sorted(
        (a, b)
        for a, b in pairs
        if float((sigs[a] == sigs[b]).mean()) >= threshold
    )
    return values_sql(rows, ["id_a", "id_b"], ["bigint", "bigint"])


def sql_geometry_curves() -> str:
    """Single-node rerun of the geometry_curves query: linearize each
    document's circular CURVEPOLYGON per the CurveToLine spec (uniform
    angular sampling at <= 4-degree steps, endpoints exact, CW/CCW by
    where the middle point falls) and measure with shoelace/hypot —
    no engine geometry code involved."""
    step = math.radians(4.0)
    two_pi = 2.0 * math.pi

    def arc(p0, p1, p2):
        (x0, y0), (x1, y1), (x2, y2) = p0, p1, p2
        d = 2.0 * (x0 * (y1 - y2) + x1 * (y2 - y0) + x2 * (y0 - y1))
        if abs(d) < 1e-12:
            return [p0, p1, p2]
        s0, s1, s2 = x0 * x0 + y0 * y0, x1 * x1 + y1 * y1, x2 * x2 + y2 * y2
        ux = (s0 * (y1 - y2) + s1 * (y2 - y0) + s2 * (y0 - y1)) / d
        uy = (s0 * (x2 - x1) + s1 * (x0 - x2) + s2 * (x1 - x0)) / d
        r = math.hypot(x0 - ux, y0 - uy)
        a0 = math.atan2(y0 - uy, x0 - ux)
        a1 = math.atan2(y1 - uy, x1 - ux)
        a2 = math.atan2(y2 - uy, x2 - ux)
        d1 = (a1 - a0) % two_pi
        d2 = (a2 - a0) % two_pi
        if x0 == x2 and y0 == y2:
            sweep = two_pi if d1 > 0 else -two_pi
        elif d1 <= d2:
            sweep = d2
        else:
            sweep = d2 - two_pi
        n = max(1, int(math.ceil(abs(sweep) / step)))
        pts = [(ux + r * math.cos(a0 + sweep * k / n),
                uy + r * math.sin(a0 + sweep * k / n)) for k in range(n + 1)]
        pts[0], pts[-1] = p0, p2
        return pts

    i, x0s, x1s, y0s, y1s = _doc_squares()
    lon = (x0s + x1s) / 2.0
    lat = (y0s + y1s) / 2.0
    half = (x1s - x0s) / 2.0
    rows = []
    for k in range(len(i)):
        did = int(i[k])
        if did >= 150:
            continue
        f7 = lambda v: float(f"{v:.7f}")  # noqa: E731 — printf parity
        p = [
            (f7(lon[k] - half[k]), f7(lat[k])),
            (f7(lon[k]), f7(lat[k] + half[k])),
            (f7(lon[k] + half[k]), f7(lat[k])),
            (f7(lon[k]), f7(lat[k] - half[k])),
            (f7(lon[k] - half[k]), f7(lat[k])),
        ]
        ring = arc(p[0], p[1], p[2])
        ring += arc(p[2], p[3], p[4])[1:]
        if ring[0] == ring[-1]:
            ring = ring[:-1]
        # consecutive-duplicate drop, mirroring WKT ring normalization
        ring = [q for j, q in enumerate(ring) if j == 0 or q != ring[j - 1]]
        xs = np.array([q[0] for q in ring])
        ys = np.array([q[1] for q in ring])
        area = abs(0.5 * np.sum(
            xs * np.roll(ys, -1) - np.roll(xs, -1) * ys))
        per = float(np.hypot(np.roll(xs, -1) - xs, np.roll(ys, -1) - ys).sum())
        rows.append((did, float(area), per, len(ring)))
    rows.sort()
    return values_sql(
        rows, ["doc_id", "area", "perimeter", "npoints"],
        ["bigint", "double", "double", "bigint"],
    )


def sql_geometry_makevalid_bowtie() -> str:
    """Analytic expected output for the bowtie MakeValid query: the
    even-odd reassembly of (x0 y0, x1 y1, x1 y0, x0 y1) is exactly the
    two triangles meeting at the rectangle center — constructed here
    directly in canonical form, no noding code involved."""
    def fmt(v):
        s = f"{round(float(v), 6):.6f}".rstrip("0").rstrip(".")
        return "0" if s == "-0" else s

    def ring(*pts):
        closed = list(pts) + [pts[0]]
        return "(" + ", ".join(f"{fmt(x)} {fmt(y)}" for x, y in closed) + ")"

    i, x0s, x1s, y0s, y1s = _doc_squares()
    rows = []
    for k in range(len(i)):
        did = int(i[k])
        if did >= 150:
            continue
        f3 = lambda v: float(f"{v:.3f}")  # noqa: E731 — printf parity
        x0, x1 = f3(x0s[k]), f3(x1s[k])
        y0, y1 = f3(y0s[k]), f3(y1s[k])
        cx, cy = (x0 + x1) / 2.0, (y0 + y1) / 2.0
        left = ring((x0, y0), (cx, cy), (x0, y1))
        right = ring((cx, cy), (x1, y0), (x1, y1))
        wkt = f"MULTIPOLYGON(({left}), ({right}))"
        area = round((x1 - x0) * (y1 - y0) / 2.0, 9)
        rows.append((did, wkt, float(area), True))
    rows.sort()
    out = []
    for did, wkt, area, _ in rows:
        w = wkt.replace("'", "''")
        out.append(
            f"({did}, '{w}', {area!r}, TRUE)"
        )
    body = ",\n".join(out)
    return (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(valid_wkt AS VARCHAR) AS valid_wkt, "
        "CAST(area AS DOUBLE) AS area, "
        "CAST(is_valid AS BOOLEAN) AS is_valid "
        f"FROM (VALUES\n{body}\n) AS t(doc_id, valid_wkt, area, is_valid)"
    )


def sql_graph_ksp() -> str:
    """Independent Yen's K-shortest-paths over the same deterministic
    test network (heapq Dijkstra, not the engine's Pregel relaxation).
    Path costs are all distinct by construction, so the k-set and its
    order are unique and no tie-break coupling is needed."""
    import heapq

    from __spark_entry__ import _KSP_DST, _KSP_K, _KSP_N, _KSP_SRC

    K, M = 2654435761, 4294967296
    adj: dict = {}

    def add(s, d, w):
        if s != d:
            cur = adj.setdefault(s, {})
            cur[d] = min(cur.get(d, math.inf), w)

    for i in range(_KSP_N):
        add(i, (i + 1) % _KSP_N, 1.0 + ((i + 0) * K % M) / M)
        add(i, (i + 5) % _KSP_N, 1.5 + ((i + 1) * K % M) / M)
        add(i, (i * 7 + 3) % _KSP_N, 2.0 + ((i + 2) * K % M) / M)

    def dijkstra(src, dst, banned_nodes, banned_edges):
        dist = {src: 0.0}
        prev: dict = {}
        pq = [(0.0, src)]
        while pq:
            d, u = heapq.heappop(pq)
            if d > dist.get(u, math.inf):
                continue
            if u == dst:
                break
            for v, w in adj.get(u, {}).items():
                if v in banned_nodes or (u, v) in banned_edges:
                    continue
                nd = d + w
                if nd < dist.get(v, math.inf):
                    dist[v] = nd
                    prev[v] = u
                    heapq.heappush(pq, (nd, v))
        if dst not in dist:
            return [], math.inf
        path = [dst]
        while path[-1] != src:
            path.append(prev[path[-1]])
        return path[::-1], dist[dst]

    first = dijkstra(_KSP_SRC, _KSP_DST, set(), set())
    A = [first]
    B: list = []
    while len(A) < _KSP_K:
        prev_path = A[-1][0]
        for si in range(len(prev_path) - 1):
            root = prev_path[: si + 1]
            banned_e = {
                (p[0][si], p[0][si + 1])
                for p in A
                if len(p[0]) > si + 1 and p[0][: si + 1] == root
            }
            banned_n = set(root[:-1])
            sp, sc = dijkstra(root[-1], _KSP_DST, banned_n, banned_e)
            if not sp:
                continue
            total = root[:-1] + sp
            rc = sum(adj[root[j]][root[j + 1]] for j in range(len(root) - 1))
            cand = (sc + rc, total)
            if cand not in B and not any(p == total for p, _ in A):
                B.append(cand)
        if not B:
            break
        B.sort(key=lambda c: (c[0], c[1]))
        c, p = B.pop(0)
        A.append((p, c))
    rows = [
        (rank, round(cost, 9), "-".join(str(x) for x in path))
        for rank, (path, cost) in enumerate(A)
    ]
    return values_sql(rows, ["rank", "cost", "path"],
                      ["bigint", "double", "varchar"])


def _simhash_of(text) -> int:
    import re

    shifts = np.arange(64, dtype=np.uint64)
    toks = [t for t in re.split(r"\s+", (text or "").lower()) if t]
    if not toks:
        return 0
    hs = np.array(
        [xxh64_bytes(t.encode("utf-8")) for t in toks], dtype=np.int64
    ).astype(np.uint64)
    bits = ((hs[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
    maj = (bits.sum(axis=0) * 2 > len(hs)).astype(np.uint64)
    with np.errstate(over="ignore"):
        return int(np.int64((maj << shifts).sum().astype(np.uint64).astype(np.int64)))


def sql_simhash_table() -> str:
    docs = _read_parquet(f"{ORACLE_SF_DIR}/documents.parquet")
    rows = [
        (int(did), _simhash_of(text))
        for did, text in zip(docs["doc_id"], docs["text"])
    ]
    return values_sql(rows, ["doc_id", "simhash"], ["bigint", "bigint"])


def sql_simhash_pairs(max_hamming: int = 3, max_bucket: int = 10000) -> str:
    """Independent single-node rerun of simhash + 4x16-bit banding +
    hot-bucket cap + hamming filter over the duplicated-doc fixture
    (doc_id < 2000 plus verbatim copies at doc_id + 1000000)."""
    docs = _read_parquet(f"{ORACLE_SF_DIR}/documents.parquet")
    sel = docs[docs["doc_id"] < 2000]
    sh = {}
    for did, text in zip(sel["doc_id"], sel["text"]):
        h = _simhash_of(text)
        sh[int(did)] = h
        sh[int(did) + 1000000] = h
    buckets: dict = {}
    for did, h in sh.items():
        for b in range(4):
            buckets.setdefault((b, (h >> (16 * b)) & 0xFFFF), []).append(did)
    pairs = set()
    for mem in buckets.values():
        if len(mem) > max_bucket:
            continue
        mem = sorted(mem)
        for i in range(len(mem)):
            for j in range(i + 1, len(mem)):
                pairs.add((mem[i], mem[j]))
    rows = sorted(
        (a, b, int(bin(sh[a] ^ sh[b]).count("1")))
        for a, b in pairs
        if bin(sh[a] ^ sh[b]).count("1") <= max_hamming
    )
    return values_sql(
        rows, ["id_a", "id_b", "hamming"], ["bigint", "bigint", "bigint"]
    )


def sql_ann_lsh_topk(k: int = 10, n_bits: int = 4, tables: int = 16) -> str:
    from gdal_spark.functions.ann import _hyperplanes

    emb = _read_parquet(f"{ORACLE_SF_DIR}/embeddings.parquet")
    ids = emb["vec_id"].to_numpy(dtype=np.int64)
    M = np.stack([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    qsel = ids < 8
    q_ids = ids[qsel]
    qn = M[qsel]
    dim = M.shape[1]
    pow2 = (1 << np.arange(n_bits)).astype(np.int64)
    cand = np.zeros((len(q_ids), len(ids)), dtype=bool)
    for t in range(tables):
        pl = _hyperplanes(dim, n_bits, t)
        vb = ((pl @ M.T) > 0).T.astype(np.int64) @ pow2
        qb = ((pl @ qn.T) > 0).T.astype(np.int64) @ pow2
        cand |= qb[:, None] == vb[None, :]
    sims = np.where(cand, qn @ M.T, -np.inf)
    rows = []
    for qi, q in enumerate(q_ids):
        order = sorted(
            (i for i in range(len(ids)) if np.isfinite(sims[qi, i])),
            key=lambda i: (-sims[qi, i], ids[i]),
        )[:k]
        for rank, i in enumerate(order, 1):
            rows.append((int(q), int(ids[i]), rank))
    return values_sql(rows, ["q_id", "vec_id", "rank"], ["bigint", "bigint", "bigint"])


def sql_ann_ivf_topk(k: int = 10, n_lists: int = 16, nprobe: int = 4) -> str:
    """Single-node IVF replica: same deterministic centroids, nearest-
    list assignment, nprobe probing, exact rerank."""
    from gdal_spark.functions.ann import ivf_centroids

    emb = _read_parquet(f"{ORACLE_SF_DIR}/embeddings.parquet")
    ids = emb["vec_id"].to_numpy(dtype=np.int64)
    M = np.stack([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    qsel = ids < 8
    q_ids = ids[qsel]
    qn = M[qsel]
    C = ivf_centroids(M.shape[1], n_lists)
    assign = np.argmax(M @ C.T, axis=1)
    qsim = qn @ C.T
    rows = []
    for qi, q in enumerate(q_ids):
        probe = sorted(range(n_lists), key=lambda c: (-qsim[qi, c], c))[:nprobe]
        cand = [i for i in range(len(ids)) if assign[i] in set(probe)]
        sims = qn[qi] @ M[cand].T
        order = sorted(range(len(cand)), key=lambda j: (-sims[j], ids[cand[j]]))[:k]
        for rank, j in enumerate(order, 1):
            rows.append((int(q), int(ids[cand[j]]), rank))
    return values_sql(rows, ["q_id", "vec_id", "rank"],
                      ["bigint", "bigint", "bigint"])


# ============================================================ overlay legs
def _doc_squares():
    docs = _read_parquet(f"{ORACLE_SF_DIR}/documents.parquet")
    i = docs["doc_id"].to_numpy(dtype=np.int64)
    lon = -180.0 + ((i * KNUTH) % MOD32).astype(np.float64) * 360.0 / MOD32
    lat = -85.0 + (((i + 1) * KNUTH) % MOD32).astype(np.float64) * 170.0 / MOD32
    half = 0.2 + 0.8 * (((i + 2) * KNUTH) % MOD32).astype(np.float64) / MOD32
    return i, lon - half, lon + half, lat - half, lat + half


def _zone_rects(g: int = 8):
    px, py = 360.0 / g, 170.0 / g
    out = []
    for zi in range(g):
        for zj in range(g):
            zid = zi * g + zj
            if (zid * KNUTH % MOD32) % 10 == 0:
                continue
            out.append(
                (zid, 158 + zid * 7, -180.0 + zi * px, -180.0 + (zi + 1) * px,
                 -85.0 + zj * py, -85.0 + (zj + 1) * py)
            )
    return out


def _round6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6  # HALF_UP like F.round


def overlay_zone_remainders(full: bool, zone_g: int = 8):
    """(zone_id, eas_id, piece_area) rows for the method-side legs of
    Union/SymDifference (zone area minus the UNION of overlapping doc
    squares, exact rectangle sweep) or Update (whole zone areas)."""
    from gdal_spark.overlay import rect_union_area

    _, x0, x1, y0, y1 = _doc_squares()
    rows = []
    for zid, eas, zx0, zx1, zy0, zy1 in _zone_rects(zone_g):
        zarea = (zx1 - zx0) * (zy1 - zy0)
        if full:
            rem = zarea
        else:
            ix0 = np.maximum(x0, zx0)
            ix1 = np.minimum(x1, zx1)
            iy0 = np.maximum(y0, zy0)
            iy1 = np.minimum(y1, zy1)
            sel = (ix1 > ix0) & (iy1 > iy0)
            covered = (
                rect_union_area(ix0[sel], ix1[sel], iy0[sel], iy1[sel])
                if sel.any()
                else 0.0
            )
            rem = max(0.0, zarea - covered)
        if rem > 1e-9:
            rows.append((zid, eas, _round6(rem)))
    return rows


# ================================================== extra overview / warp
def sql_overview_mode_checksums() -> str:
    """Per-pixel Python port of GDAL's mode scan (first value whose
    count reaches the max in row-major order) — independent of the
    engine's vectorized tie-break."""
    g = global_mosaic(2, 2)
    H, W = g.shape
    out = np.empty((H // 2, W // 2), dtype=np.float64)
    for y in range(H // 2):
        for x in range(W // 2):
            counts = {}
            best_v, best_c = None, 0
            for v in (g[2 * y, 2 * x], g[2 * y, 2 * x + 1],
                      g[2 * y + 1, 2 * x], g[2 * y + 1, 2 * x + 1]):
                v = float(v)
                counts[v] = counts.get(v, 0) + 1
                if counts[v] > best_c:
                    best_c = counts[v]
                    best_v = v
            out[y, x] = best_v
    out = _gdal_cast_local(out, "uint8")
    return values_sql(tile_checksums(out, 256, "byte_like", 1, 11), CKS_COLS, CKS_TYPES)


def sql_overview_gauss_checksums() -> str:
    from gdal_spark.tiling import gauss_2x2

    g = global_mosaic(4, 4).astype(np.float64)
    big = np.full((1025, 1025), np.nan)
    big[:1024, :1024] = g
    out = _gdal_cast_local(gauss_2x2(big, 0.0), "uint8")
    return values_sql(tile_checksums(out, 256, "byte_like", 1, 11), CKS_COLS, CKS_TYPES)


def sql_warp_average_checksums() -> str:
    res = _zoom_res(12)
    x0 = -math.pi * _R_EARTH
    ytop = x0 + 2 * 256 * res
    g = global_mosaic(2, 2).astype(np.float64)
    # dst 256px at 2x res: each dst pixel averages its exact 2x2 block
    sat = np.zeros((513, 513))
    sat[1:, 1:] = g.cumsum(axis=0).cumsum(axis=1)
    jj, ii = np.mgrid[0:256, 0:256]
    px0, py0 = 2 * ii, 2 * jj
    s = sat[py0 + 2, px0 + 2] - sat[py0, px0 + 2] - sat[py0 + 2, px0] + sat[py0, px0]
    out = _gdal_cast_local(s / 4.0, "uint8")
    return values_sql(tile_checksums(out, 256, "warped", 1, 12), CKS_COLS, CKS_TYPES)


def sql_warp_lanczos_checksums() -> str:
    res = _zoom_res(12)
    x0 = -math.pi * _R_EARTH
    ytop = x0 + 2 * 256 * res
    g = global_mosaic(2, 2).astype(np.float64)
    H, W = g.shape
    dst_res = res * 1.5
    jj, ii = np.mgrid[0:256, 0:256]
    # mirror the engine's meter-space association exactly: lanczos of
    # the integer ramp lands many values next to the +0.5 cast
    # boundary, so a 5e-11 lx difference flips ~124 pixels
    wx = x0 + (ii + 0.5) * dst_res
    wy = ytop - (jj + 0.5) * dst_res
    lx = (wx - x0) / res - 0.5
    ly = (ytop - wy) / res - 0.5
    # bilinear fallback value
    x0i = np.clip(np.floor(lx).astype(np.int64), 0, W - 1)
    y0i = np.clip(np.floor(ly).astype(np.int64), 0, H - 1)
    x1i = np.clip(x0i + 1, 0, W - 1)
    y1i = np.clip(y0i + 1, 0, H - 1)
    fx = np.clip(lx - x0i, 0.0, 1.0)
    fy = np.clip(ly - y0i, 0.0, 1.0)
    out = (
        g[y0i, x0i] * (1 - fx) * (1 - fy) + g[y0i, x1i] * fx * (1 - fy)
        + g[y1i, x0i] * (1 - fx) * fy + g[y1i, x1i] * fx * fy
    )
    ix = np.floor(lx).astype(np.int64)
    iy = np.floor(ly).astype(np.int64)
    dxf, dyf = lx - ix, ly - iy
    interior = (ix - 2 >= 0) & (ix + 3 <= W - 1) & (iy - 2 >= 0) & (iy + 3 <= H - 1)
    ixc = np.clip(ix, 2, W - 4)
    iyc = np.clip(iy, 2, H - 4)

    def lw(d):
        a = np.pi * d
        with np.errstate(divide="ignore", invalid="ignore"):
            w = np.where(np.abs(d) < 1e-12, 1.0,
                         3.0 * np.sin(a) * np.sin(a / 3.0) / (a * a))
        return np.where(np.abs(d) >= 3.0, 0.0, w)

    wxs = [lw(dxf - k) for k in range(-2, 4)]
    wys = [lw(dyf - k) for k in range(-2, 4)]
    acc = np.zeros_like(out)
    for j, wy_ in enumerate(wys):
        row = np.zeros_like(out)
        for i, wx_ in enumerate(wxs):
            row = row + g[iyc + j - 2, ixc + i - 2] * wx_
        acc = acc + row * wy_
    acc = acc / (sum(wxs) * sum(wys))
    out = np.where(interior, acc, out)
    out = _gdal_cast_local(out, "uint8")
    return values_sql(tile_checksums(out, 256, "warped", 1, 12), CKS_COLS, CKS_TYPES)


# ================================================ contour polylines / relief
def sql_contour_polylines(levels=(64.0, 128.5, 200.0)) -> str:
    """Global marching squares (shared cell geometry) + LOCAL
    union-find stitch — the oracle for the distributed endpoint-graph
    connected-components stitcher."""
    from gdal_spark.contour import cell_segment_coords

    g = global_mosaic(2, 2).astype(np.float64)
    A = g[:-1, :-1].ravel()
    B = g[:-1, 1:].ravel()
    C = g[1:, 1:].ravel()
    D = g[1:, :-1].ravel()
    jj, ii = np.mgrid[0:511, 0:511]
    cx = ii.ravel().astype(np.float64)
    cy = jj.ravel().astype(np.float64)
    Q = float(1 << 20)
    rows = []
    for li, lv in enumerate(levels):
        segs = cell_segment_coords(A, B, C, D, lv, cx, cy)
        if not len(segs):
            rows.append((float(lv), 0, 0, 0, 0.0))
            continue
        # quantized endpoint keys (floor(x*Q + 0.5) mirrors F.round's
        # HALF_UP on the positive coords)
        k0 = (np.floor(segs[:, 0] * Q + 0.5).astype(np.int64) * (1 << 31)
              + np.floor(segs[:, 1] * Q + 0.5).astype(np.int64))
        k1 = (np.floor(segs[:, 2] * Q + 0.5).astype(np.int64) * (1 << 31)
              + np.floor(segs[:, 3] * Q + 0.5).astype(np.int64))
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(k0.tolist(), k1.tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        ln = np.sqrt(
            (segs[:, 2] - segs[:, 0]) ** 2 + (segs[:, 3] - segs[:, 1]) ** 2
        )
        comp_of = {}
        nseg: dict = {}
        length: dict = {}
        nodes: dict = {}
        for i in range(len(segs)):
            c = find(int(k0[i]))
            nseg[c] = nseg.get(c, 0) + 1
            length[c] = length.get(c, 0.0) + float(ln[i])
            nodes.setdefault(c, set()).update((int(k0[i]), int(k1[i])))
        n_closed = sum(
            1 for c in nseg if nseg[c] == len(nodes[c])
        )
        rows.append(
            (float(lv), len(nseg), n_closed, sum(nseg.values()),
             _round6(sum(length.values())))
        )
    return values_sql(
        rows,
        ["level", "n_polylines", "n_closed", "n_segments", "length"],
        ["double", "bigint", "bigint", "bigint", "double"],
    )


def sql_color_relief_checksums(ramp) -> str:
    g = global_mosaic(2, 2).astype(np.float64)
    ramp = sorted(ramp)
    vals = np.array([r[0] for r in ramp], dtype=np.float64)
    rows = []
    for band, k in enumerate((1, 2, 3), start=1):
        chan = np.array([r[k] for r in ramp], dtype=np.float64)
        out = _gdal_cast_local(np.interp(g, vals, chan), "uint8")
        rows.extend(tile_checksums(out, 256, "relief", band, 12))
    return values_sql(rows, CKS_COLS, CKS_TYPES)


def sql_hillshade_md_checksums() -> str:
    """Global-array multidirectional hillshade (same USGS OF 92-422
    formula; the verified machinery is the halo exchange)."""
    g = global_mosaic(2, 2).astype(np.float64)
    pad = np.pad(g, 1, mode="edge")
    dzdx, dzdy = _horn(pad, 1.0)
    alt = math.radians(45.0)
    slope = np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy))
    aspect = np.arctan2(dzdy, -dzdx)
    acc = np.zeros_like(slope)
    wsum = np.zeros_like(slope)
    for az_deg in (225.0, 270.0, 315.0, 360.0):
        az = math.radians(360.0 - az_deg + 90.0)
        shade = (np.sin(alt) * np.cos(slope)
                 + np.cos(alt) * np.sin(slope) * np.cos(az - aspect))
        w = np.sin(aspect - math.radians(az_deg)) ** 2
        acc += w * np.maximum(shade, 0.0)
        wsum += w
    blend = np.where(wsum == 0.0, np.sin(alt), acc / np.maximum(wsum, 1e-300))
    out = _gdal_cast_local(1.0 + 254.0 * np.maximum(blend, 0.0), "uint8")
    return values_sql(tile_checksums(out, 256, "hillshade_md", 1, 12), CKS_COLS, CKS_TYPES)


def _warp_footprint_2x(kind: str) -> str:
    g = global_mosaic(2, 2).astype(np.float64)
    jj, ii = np.mgrid[0:256, 0:256]
    px0, py0 = 2 * ii, 2 * jj
    # axis 0 = row-major footprint scan order (iSrcY outer, iSrcX inner)
    blocks = np.stack(
        [g[py0, px0], g[py0, px0 + 1], g[py0 + 1, px0], g[py0 + 1, px0 + 1]]
    )
    if kind == "rms":
        out = np.sqrt((blocks * blocks).sum(axis=0) / 4.0)
    elif kind == "sum":
        out = blocks.sum(axis=0)
    elif kind == "min":
        out = blocks.min(axis=0)
    elif kind == "max":
        out = blocks.max(axis=0)
    elif kind in ("med", "q1", "q3"):
        # quantIdx = ceil(q*n - 1) over the sorted footprint
        # (gdalwarpkernel.cpp:6454); n = 4
        q = {"med": 0.5, "q1": 0.25, "q3": 0.75}[kind]
        idx = max(int(math.ceil(q * 4 - 1)), 0)
        out = np.sort(blocks, axis=0)[idx]
    else:  # mode: first value to REACH the max count in scan order
        K = blocks.shape[0]
        eq = blocks[:, None] == blocks[None, :]
        cnt = eq.sum(axis=0)
        cmax = cnt.max(axis=0)
        tri = np.tril(np.ones((K, K), dtype=bool))
        rank = (eq & tri[:, :, None, None]).sum(axis=1)
        reach = np.where(rank == cmax[None], np.arange(K)[:, None, None], 99)
        win = reach.argmin(axis=0)
        out = np.take_along_axis(blocks, win[None], axis=0)[0]
    out = _gdal_cast_local(out, "uint8")
    return values_sql(tile_checksums(out, 256, "warped", 1, 12), CKS_COLS, CKS_TYPES)


def sql_warp_rms_checksums() -> str:
    return _warp_footprint_2x("rms")


def sql_warp_max_checksums() -> str:
    return _warp_footprint_2x("max")


def sql_warp_mode_checksums() -> str:
    return _warp_footprint_2x("mode")


def sql_warp_med_checksums() -> str:
    return _warp_footprint_2x("med")


def sql_warp_q1_checksums() -> str:
    return _warp_footprint_2x("q1")


def sql_warp_q3_checksums() -> str:
    return _warp_footprint_2x("q3")


def sql_warp_cubicspline_checksums() -> str:
    """Cubic B-Spline warp at 0.75x dst res (upscale -> unit scale
    weights), GWKBSpline basis normalized by the weight sum; bilinear
    fallback outside the interior 4x4 support."""
    res = _zoom_res(12)
    x0 = -math.pi * _R_EARTH
    ytop = x0 + 2 * 256 * res
    g = global_mosaic(2, 2).astype(np.float64)
    dst_res = res * 0.75
    out = _warp_global(g, x0, ytop, res, x0, ytop, dst_res, 256, 256,
                       "bilinear")
    H, W = g.shape
    jj, ii = np.mgrid[0:256, 0:256]
    lx = ((x0 + (ii + 0.5) * dst_res) - x0) / res - 0.5
    ly = (ytop - (ytop - (jj + 0.5) * dst_res)) / res - 0.5
    ix = np.floor(lx).astype(np.int64)
    iy = np.floor(ly).astype(np.int64)
    dxf, dyf = lx - ix, ly - iy
    interior = (ix - 1 >= 0) & (ix + 2 <= W - 1) & (iy - 1 >= 0) & (iy + 2 <= H - 1)

    def bspl(x):
        t = 0.0
        for c, off in ((1.0, 2.0), (-4.0, 1.0), (6.0, 0.0), (-4.0, -1.0)):
            xo = x + off
            t = t + c * np.where(xo > 0, xo * xo * xo, 0.0)
        return t

    wx = [bspl(k - dxf) for k in range(-1, 3)]
    wy = [bspl(k - dyf) for k in range(-1, 3)]
    ixc = np.clip(ix, 1, W - 3)
    iyc = np.clip(iy, 1, H - 3)
    acc = np.zeros_like(out)
    for j in range(-1, 3):
        row = sum(g[iyc + j, ixc + k] * wx[k + 1] for k in range(-1, 3))
        acc = acc + row * wy[j + 1]
    out = np.where(interior, acc / (sum(wx) * sum(wy)), out)
    out = _gdal_cast_local(out, "uint8")
    return values_sql(tile_checksums(out, 256, "warped", 1, 12), CKS_COLS, CKS_TYPES)


def sql_overview_rms_checksums() -> str:
    """RMS 2x2 overview with GDAL's integer rounding (overview.cpp:365
    ComputeIntegerRMS: the integer minimizing |rms^2 - mean-square|)."""
    g = global_mosaic(2, 2).astype(np.float64)
    m = (g * g).reshape(256, 2, 256, 2).mean(axis=(1, 3))
    r = np.floor(np.sqrt(m))
    r = r + (2 * r * (r + 1) + 1 < 2 * m)
    out = np.clip(r, 0, 255).astype(np.uint8)
    return values_sql(tile_checksums(out, 256, "byte_like", 1, 11), CKS_COLS, CKS_TYPES)


def _overview_conv_global(kernel: str) -> np.ndarray:
    """2x convolution overview on the global mosaic: taps s = 2i+o,
    o in [1-2r, 2r], constant weights f(0.5*(o-0.5)) normalized per
    axis over in-raster taps (overview.cpp:2919-2961 at ratio 2)."""
    g = global_mosaic(4, 4).astype(np.float64)
    radius = {"cubic": 2, "lanczos": 3}[kernel]
    offs = list(range(1 - 2 * radius, 2 * radius + 1))

    def wfun(x):
        if kernel == "cubic":
            ax = abs(x)
            if ax <= 1.0:
                return x * x * (1.5 * ax - 2.5) + 1.0
            if ax <= 2.0:
                return x * x * (-0.5 * ax + 2.5) - 4.0 * ax + 2.0
            return 0.0
        if x == 0.0:
            return 1.0
        if abs(x) >= 3.0:
            return 0.0
        pix = math.pi * x
        return 3.0 * math.sin(pix) * math.sin(pix / 3.0) / (pix * pix)

    w_o = [wfun(0.5 * (o - 0.5)) for o in offs]
    H, W = g.shape
    dw, dh = W // 2, H // 2

    def conv_axis(arr, n_dst, axis):
        num = np.zeros((arr.shape[0], n_dst) if axis == 1 else (n_dst, arr.shape[1]))
        den = np.zeros_like(num)
        size = arr.shape[axis]
        for o, wt in zip(offs, w_o):
            idx = 2 * np.arange(n_dst) + o
            ok = (idx >= 0) & (idx < size)
            idc = np.clip(idx, 0, size - 1)
            v = arr[:, idc] if axis == 1 else arr[idc, :]
            okb = ok[None, :] if axis == 1 else ok[:, None]
            num += np.where(okb, v, 0.0) * wt
            den += np.where(okb, wt, 0.0)
        return num / den

    hf = conv_axis(g, dw, axis=1)
    out = conv_axis(hf, dh, axis=0)
    return _gdal_cast_local(out, "uint8")


def sql_overview_cubic_checksums() -> str:
    return values_sql(
        tile_checksums(_overview_conv_global("cubic"), 256, "byte_like", 1, 11),
        CKS_COLS, CKS_TYPES)


def sql_overview_lanczos_checksums() -> str:
    return values_sql(
        tile_checksums(_overview_conv_global("lanczos"), 256, "byte_like", 1, 11),
        CKS_COLS, CKS_TYPES)


def sql_dem_slope_zt_checksums() -> str:
    g = global_mosaic(2, 2).astype(np.float64)
    pad = np.pad(g, 1, mode="edge")
    n = pad[:-2, 1:-1]
    w_, e = pad[1:-1, :-2], pad[1:-1, 2:]
    s = pad[2:, 1:-1]
    dzdx = (e - w_) / 2.0
    dzdy = (s - n) / 2.0
    out = np.degrees(np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy)))
    return values_sql(tile_checksums(out, 256, "slope", 1, 12), CKS_COLS, CKS_TYPES)


def sql_polygonize_wkt() -> str:
    """Global flood fill + (shared) ring tracer per region mask — the
    oracle for polygonize_wkt's distributed edge/stitch/gather plumbing."""
    from gdal_spark.polygonize import (boundary_edges_for_mask, rings_to_wkt,
                                       trace_rings)

    arr = zones_raster(128)
    H, W = arr.shape
    seen = np.zeros((H, W), dtype=bool)
    rows = []
    for sy in range(H):
        for sx in range(W):
            if seen[sy, sx]:
                continue
            v = int(arr[sy, sx])
            stack = [(sy, sx)]
            seen[sy, sx] = True
            px = []
            while stack:
                y, x = stack.pop()
                px.append((y, x))
                for ny, nx in ((y - 1, x), (y + 1, x), (y, x - 1), (y, x + 1)):
                    if 0 <= ny < H and 0 <= nx < W and not seen[ny, nx] \
                            and arr[ny, nx] == v:
                        seen[ny, nx] = True
                        stack.append((ny, nx))
            mask = np.zeros((H, W), dtype=bool)
            ys_, xs_ = zip(*px)
            mask[list(ys_), list(xs_)] = True
            wkt = rings_to_wkt(trace_rings(boundary_edges_for_mask(mask)))
            rows.append((float(v), len(px), wkt))
    return values_sql(rows, ["value", "npix", "wkt"],
                      ["double", "bigint", "varchar"])


def _pip_evenodd(rings, x: float, y: float) -> bool:
    """Pure-Python even-odd point-in-polygon over [(xs, ys), ...]
    (ring 0 exterior, rest holes)."""
    inside = False
    for ri, (xs, ys) in enumerate(rings):
        hit = False
        n = len(xs)
        j = n - 1
        for i in range(n):
            if (ys[i] > y) != (ys[j] > y):
                xin = (xs[j] - xs[i]) * (y - ys[i]) / (ys[j] - ys[i]) + xs[i]
                if x < xin:
                    hit = not hit
            j = i
        if ri == 0:
            inside = hit
        elif hit:
            inside = False
    return inside


def _rectilinear_boolean(rings_a, rings_b, op: str):
    """INDEPENDENT oracle for polygon booleans, exact for axis-aligned
    (rectilinear) inputs: decompose the plane by every x / y coordinate
    of both polygons, classify each cell by its midpoint, combine with
    the op, then trace region boundaries on the non-uniform cell grid
    (reusing polygonize's mask ring tracer — the boolean SEMANTICS here
    come from cell classification, a completely different computation
    than the engine's boundary-classification clipper). Returns a list
    of [exterior CCW, holes CW] ring lists."""
    from gdal_spark.polygonize import boundary_edges_for_mask, trace_rings

    xs = sorted({float(v) for xsr, _ in rings_a + rings_b for v in xsr})
    ys = sorted({float(v) for _, ysr in rings_a + rings_b for v in ysr})
    nx, ny = len(xs) - 1, len(ys) - 1
    mask = np.zeros((ny, nx), dtype=bool)
    for j in range(ny):
        for i in range(nx):
            mx = (xs[i] + xs[i + 1]) / 2.0
            my = (ys[j] + ys[j + 1]) / 2.0
            ina = _pip_evenodd(rings_a, mx, my)
            inb = _pip_evenodd(rings_b, mx, my)
            mask[j, i] = {
                "intersection": ina and inb,
                "union": ina or inb,
                "difference": ina and not inb,
                "symdifference": ina != inb,
            }[op]
    # 4-connected components -> one polygon each
    seen = np.zeros_like(mask)
    polys = []
    for sy in range(ny):
        for sx in range(nx):
            if seen[sy, sx] or not mask[sy, sx]:
                continue
            stack = [(sy, sx)]
            seen[sy, sx] = True
            comp = np.zeros_like(mask)
            while stack:
                y_, x_ = stack.pop()
                comp[y_, x_] = True
                for ny_, nx_ in ((y_ - 1, x_), (y_ + 1, x_),
                                 (y_, x_ - 1), (y_, x_ + 1)):
                    if 0 <= ny_ < ny and 0 <= nx_ < nx \
                            and mask[ny_, nx_] and not seen[ny_, nx_]:
                        seen[ny_, nx_] = True
                        stack.append((ny_, nx_))
            rings = trace_rings(boundary_edges_for_mask(comp))
            mapped = []
            for r in rings:
                body = r[:-1] if (r[0] == r[-1]).all() else r
                pts = np.array([[xs[int(ix)], ys[int(iy)]]
                                for ix, iy in body])
                mapped.append(pts)
            # exterior = largest |area| (CCW), holes CW; drop collinear
            def sa(p):
                x_, y_ = p[:, 0], p[:, 1]
                return 0.5 * float(np.sum(
                    x_ * np.roll(y_, -1) - np.roll(x_, -1) * y_))

            def decollinear(p):
                keep = []
                n = len(p)
                for k in range(n):
                    a_, c_, b_ = p[k - 1], p[k], p[(k + 1) % n]
                    cr = (c_[0] - a_[0]) * (b_[1] - a_[1]) \
                        - (c_[1] - a_[1]) * (b_[0] - a_[0])
                    if abs(cr) > 1e-12:
                        keep.append(k)
                return p[keep]

            mapped = [decollinear(p) for p in mapped]
            mapped = [p for p in mapped if len(p) >= 3]
            mapped.sort(key=lambda p: abs(sa(p)), reverse=True)
            fixed = []
            for k, p in enumerate(mapped):
                want_ccw = k == 0
                if (sa(p) > 0) != want_ccw:
                    p = p[::-1].copy()
                fixed.append(p)
            if fixed:
                polys.append(fixed)
    return polys


def _rectilinear_boolean_wkt(rings_a, rings_b, op: str) -> str:
    from gdal_spark.boolean import canonical_wkt

    return canonical_wkt(_rectilinear_boolean(rings_a, rings_b, op))


def _polys_area(polys) -> float:
    t = 0.0
    for rings in polys:
        for i, p in enumerate(rings):
            x_, y_ = p[:, 0], p[:, 1]
            a = abs(0.5 * float(np.sum(
                x_ * np.roll(y_, -1) - np.roll(x_, -1) * y_)))
            t += a if i == 0 else -a
    return t


_BOOL_OPS = ("intersection", "union", "difference", "symdifference")


def _boolean_fixture_rings():
    """Deterministic concave pairs from the doc squares: A = the square
    with its NE quadrant notched out (L-shape), B = the same square
    shifted NE by 60% of its half-width — overlapping the notch, so
    every op yields non-convex output."""
    ids, x0, x1, y0, y1 = _doc_squares()
    sel = ids < 60
    out = []
    for i, a0, a1, b0, b1 in zip(ids[sel], x0[sel], x1[sel],
                                 y0[sel], y1[sel]):
        xm, ym = (a0 + a1) / 2.0, (b0 + b1) / 2.0
        h = (a1 - a0) / 2.0
        s = 0.6 * h
        ra = [(
            [a0, a1, a1, xm, xm, a0],
            [b0, b0, ym, ym, b1, b1],
        )]
        rb = [(
            [a0 + s, a1 + s, a1 + s, a0 + s],
            [b0 + s, b0 + s, b1 + s, b1 + s],
        )]
        out.append((int(i), ra, rb))
    return out


def _concave_zone_rings(g: int = 8):
    """The L-shaped (NE-quadrant-notched) zone rings of the concave
    overlay queries, as rectilinear ring lists."""
    out = []
    for zi in range(g):
        for zj in range(g):
            zid = zi * g + zj
            if (zid * KNUTH % MOD32) % 10 == 0:
                continue
            x0 = -180.0 + zi * (360.0 / g)
            x1 = -180.0 + (zi + 1) * (360.0 / g)
            y0 = -85.0 + zj * (170.0 / g)
            y1 = -85.0 + (zj + 1) * (170.0 / g)
            xm, ym = (x0 + x1) / 2.0, (y0 + y1) / 2.0
            out.append((zid, [(
                [x0, x1, x1, xm, xm, x0],
                [y0, y0, ym, ym, y1, y1],
            )], x0, x1, y0, y1))
    return out


def sql_overlay_concave_wkt() -> str:
    """Independent oracle for the concave overlay with REAL piece
    geometry: doc square x L-zone intersections via the rectilinear
    cell-decomposition boolean."""
    ids, x0, x1, y0, y1 = _doc_squares()
    sel = ids < 60
    zones = _concave_zone_rings()
    rows = []
    for i, a0, a1, b0, b1 in zip(ids[sel], x0[sel], x1[sel],
                                 y0[sel], y1[sel]):
        dr = [([a0, a1, a1, a0], [b0, b0, b1, b1])]
        for zid, zr, zx0, zx1, zy0, zy1 in zones:
            if a1 < zx0 or a0 > zx1 or b1 < zy0 or b0 > zy1:
                continue
            polys = _rectilinear_boolean(dr, zr, "intersection")
            if not polys:
                continue
            from gdal_spark.boolean import canonical_wkt
            area = _polys_area(polys)
            if area > 1e-9:
                rows.append((int(i), int(zid), canonical_wkt(polys),
                             _round6(area)))
    return values_sql(rows, ["doc_id", "zone_id", "wkt", "piece_area"],
                      ["bigint", "bigint", "varchar", "double"])


def sql_rasterize_lines_z() -> str:
    """Z-interpolated line burn oracle: independent single-node DDA
    over the derived segments (same published grid-crossing spec as
    raster.rasterize_lines_z, separate implementation)."""
    docs = _read_parquet(f"{ORACLE_SF_DIR}/documents.parquet")
    i = docs["doc_id"].to_numpy(dtype=np.int64)
    lon = -180.0 + ((i * KNUTH) % MOD32).astype(np.float64) * 360.0 / MOD32
    lat = -85.0 + (((i + 1) * KNUTH) % MOD32).astype(np.float64) * 170.0 / MOD32
    z0 = (i % 97).astype(np.float64)
    W = H = 128
    rx, ry = 360.0 / W, 170.0 / H
    acc: dict = {}
    for a_lon, a_lat, az in zip(lon, lat, z0):
        b_lon, b_lat, bz = a_lon + 0.8, a_lat + 0.5, az + 16.0
        px0, py0 = (a_lon + 180.0) / rx, (85.0 - a_lat) / ry
        px1, py1 = (b_lon + 180.0) / rx, (85.0 - b_lat) / ry
        dx, dy = px1 - px0, py1 - py0
        ts = {0.0, 1.0}
        for p0, d in ((px0, dx), (py0, dy)):
            if d != 0.0:
                lo, hi = sorted((p0, p0 + d))
                g = math.ceil(lo)
                while g <= math.floor(hi):
                    t = (g - p0) / d
                    if 0.0 <= t <= 1.0:
                        ts.add(t)
                    g += 1
        tl = sorted(ts)
        for ta, tb in zip(tl[:-1], tl[1:]):
            if tb - ta <= 1e-12:
                continue
            tm = (ta + tb) / 2.0
            cx = math.floor(px0 + tm * dx)
            cy = math.floor(py0 + tm * dy)
            if 0 <= cx < W and 0 <= cy < H:
                acc[(cx, cy)] = acc.get((cx, cy), 0.0) \
                    + (1000.0 + az + tm * (bz - az))
    rows = [(gx, gy, _round6(v)) for (gx, gy), v in sorted(acc.items())]
    return values_sql(rows, ["gx", "gy", "value"],
                      ["integer", "integer", "double"])


def sql_cutline_blend() -> str:
    """BLEND_DIST density-mask oracle: the gdalcutline.cpp:208-213 ramp
    recomputed on the GLOBAL 512x512 source grid (distance to the
    cutline boundary in pixel units, 0.5 +- 0.5*d/blend inside/outside,
    hard 1/0 beyond), then per-tile sum / feathered-count."""
    blend = 12.0
    W = H = 512
    # the cutline in source-pixel coords (same ring as warp_cutline)
    xs = np.array([100.0, 400.0, 400.0, 100.0])
    ys = np.array([450.0, 450.0, 80.0, 80.0])
    jj, ii = np.mgrid[0:H, 0:W]
    px = (ii + 0.5).astype(np.float64)
    py = (jj + 0.5).astype(np.float64)
    inside = G.pip_one(px.ravel(), py.ravel(), xs, ys).reshape(H, W)
    d2 = np.full((H, W), np.inf)
    bx, by = np.roll(xs, -1), np.roll(ys, -1)
    for k in range(len(xs)):
        ax, ay = xs[k], ys[k]
        dx, dy = bx[k] - ax, by[k] - ay
        L2 = max(dx * dx + dy * dy, 1e-300)
        t = np.clip(((px - ax) * dx + (py - ay) * dy) / L2, 0.0, 1.0)
        d2 = np.minimum(d2, (px - (ax + t * dx)) ** 2 + (py - (ay + t * dy)) ** 2)
    dist = np.sqrt(d2)
    far = dist > blend
    dens = np.where(
        far, inside.astype(np.float64),
        np.where(inside, 0.5 + 0.5 * dist / blend, 0.5 - 0.5 * dist / blend),
    )
    rows = []
    for ty in range(2):
        for tx in range(2):
            a = dens[ty * 256 : (ty + 1) * 256, tx * 256 : (tx + 1) * 256].ravel()
            rows.append(
                (tx, ty, float(np.round(a.sum(), 6)),
                 int(((a > 0.0) & (a < 1.0)).sum()))
            )
    return values_sql(rows, ["tile_x", "tile_y", "dsum", "feathered"],
                      ["integer", "integer", "double", "bigint"])


def sql_grid_linear() -> str:
    """GDALGridLinear oracle: same canonical Delaunay (tin.delaunay —
    the triangulation is a deterministic pure function of the point
    set), but an INDEPENDENT per-pixel point location: every pixel
    evaluates barycentric coordinates against each triangle in
    canonical order and keeps the first containment, rather than the
    engine's bbox-masked vectorized sweep."""
    from gdal_spark.tin import delaunay

    docs = _read_parquet(f"{ORACLE_SF_DIR}/documents.parquet")
    i = np.sort(docs["doc_id"].to_numpy(np.int64))
    lon = -180.0 + ((i * KNUTH) % MOD32).astype(np.float64) * 360.0 / MOD32
    lat = -85.0 + (((i + 1) * KNUTH) % MOD32).astype(np.float64) * 170.0 / MOD32
    v = (i % 97).astype(np.float64)
    tris = delaunay(lon, lat)
    rows = []
    eps = 1e-9
    for gy in range(32):
        for gx in range(32):
            qx = -180.0 + (gx + 0.5) * (360.0 / 32)
            qy = 85.0 - (gy + 0.5) * (170.0 / 32)
            val = None
            for a, b, c in tris:
                x1, y1, x2, y2 = lon[a], lat[a], lon[b], lat[b]
                x3, y3 = lon[c], lat[c]
                if qx < min(x1, x2, x3) - eps or qx > max(x1, x2, x3) + eps \
                        or qy < min(y1, y2, y3) - eps or qy > max(y1, y2, y3) + eps:
                    continue
                det = (y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3)
                if abs(det) < 1e-300:
                    continue
                l1 = ((y2 - y3) * (qx - x3) + (x3 - x2) * (qy - y3)) / det
                l2 = ((y3 - y1) * (qx - x3) + (x1 - x3) * (qy - y3)) / det
                l3 = 1.0 - l1 - l2
                if l1 >= -eps and l2 >= -eps and l3 >= -eps:
                    val = l1 * v[a] + l2 * v[b] + l3 * v[c]
                    break
            if val is not None:
                rows.append((gx, gy, _round6(val)))
    return values_sql(rows, ["gx", "gy", "value"],
                      ["integer", "integer", "double"])


def sql_geometry_boolean() -> str:
    rows = []
    for did, ra, rb in _boolean_fixture_rings():
        for op in _BOOL_OPS:
            rows.append((did, op, _rectilinear_boolean_wkt(ra, rb, op)))
    return values_sql(rows, ["doc_id", "op", "wkt"],
                      ["bigint", "varchar", "varchar"])


def sql_dem_igor_checksums() -> str:
    """Igor hillshade (gdaldem -igor, apps/gdaldem_lib.cpp:901) on the
    global mosaic — single-node restatement of the focal kernel."""
    g = global_mosaic(2, 2).astype(np.float64)
    pad = np.pad(g, 1, mode="edge")
    dzdx, dzdy = _horn(pad, 1.0)
    az = math.radians(315.0)
    slope_deg = np.degrees(np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy)))
    aspect = np.arctan2(dzdy, -dzdx)
    two_pi = 2.0 * math.pi
    diff = np.abs(np.mod(aspect, two_pi) - ((1.5 * math.pi - az) % two_pi))
    diff = np.where(diff > math.pi, two_pi - diff, diff)
    out = 255.0 * (1.0 - (slope_deg / 90.0) * (1.0 - diff / math.pi))
    out = _gdal_cast_local(out, "uint8")
    return values_sql(tile_checksums(out, 256, "hillshade_igor", 1, 12),
                      CKS_COLS, CKS_TYPES)


def sql_dem_hillshade_checksums() -> str:
    g = global_mosaic(2, 2).astype(np.float64)
    pad = np.pad(g, 1, mode="edge")
    dzdx, dzdy = _horn(pad, 1.0)
    az = math.radians(360.0 - 315.0 + 90.0)
    alt = math.radians(45.0)
    slope = np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy))
    aspect = np.arctan2(dzdy, -dzdx)
    shade = (np.sin(alt) * np.cos(slope)
             + np.cos(alt) * np.sin(slope) * np.cos(az - aspect))
    out = _gdal_cast_local(1.0 + 254.0 * np.maximum(shade, 0.0), "uint8")
    return values_sql(tile_checksums(out, 256, "hillshade", 1, 12), CKS_COLS, CKS_TYPES)


def sql_dem_slope_checksums() -> str:
    g = global_mosaic(2, 2).astype(np.float64)
    pad = np.pad(g, 1, mode="edge")
    dzdx, dzdy = _horn(pad, 1.0)
    out = np.degrees(np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy)))
    return values_sql(tile_checksums(out, 256, "slope", 1, 12), CKS_COLS, CKS_TYPES)


# ===================================================== VRT pixel functions
PIX_SINGLE = ["real", "imag", "conj", "mod", "phase", "intensity",
              "dB", "dB2amp", "dB2pow"]
PIX_MULTI = ["sum", "diff", "mul", "cmul", "complex"]
PIX_COMPLEX = ["real", "imag", "mod", "phase", "intensity", "conj",
               "inv", "sum", "diff", "mul", "cmul"]


def sql_pixel_functions_checksums() -> str:
    """Single-source VRT pixel funcs over the NEGATED mosaic (the query
    negates first so abs/phase/dB exercise their signed branches).
    Formulas restated from pixelfunctions.cpp real paths."""
    s = -global_mosaic(2, 2).astype(np.float64)
    outs = {
        "real": s,
        "imag": np.zeros_like(s),
        "conj": s,
        "mod": np.abs(s),
        "phase": np.where(s < 0, np.pi, 0.0),
        "intensity": s * s,
        "dB": 20.0 * np.log10(np.maximum(np.abs(s), 1e-30)),
        "dB2amp": np.power(10.0, s / 20.0),
        "dB2pow": np.power(10.0, s / 10.0),
    }
    rows = []
    for name in PIX_SINGLE:
        for r in tile_checksums(outs[name], 256, "byte_like", 1, 12):
            rows.append((name,) + r)
    return values_sql(rows, ["func"] + CKS_COLS, ["varchar"] + CKS_TYPES)


def sql_pixel_multiband_checksums() -> str:
    """N-source real-branch funcs over a 2-band raster (band 2 is the
    seed-7 variant); 'complex' packs the two real bands into a pair."""
    g1 = global_mosaic(2, 1).astype(np.float64)
    g2 = global_mosaic(2, 1, seed=7).astype(np.float64)
    outs = {
        "sum": [g1 + g2],
        "diff": [g1 - g2],
        "mul": [g1 * g2],
        "cmul": [g1 * g2],  # real branch: conj is the identity
        "complex": [g1, g2],
    }
    rows = []
    for name in PIX_MULTI:
        for band, a in enumerate(outs[name], start=1):
            for r in tile_checksums(a, 256, "mb", band, 12):
                rows.append((name,) + r)
    return values_sql(rows, ["func"] + CKS_COLS, ["varchar"] + CKS_TYPES)


def sql_pixel_complex_checksums() -> str:
    """Complex-branch funcs over the band-pair representation: source 1
    = (seed mosaic, negated seed-7 mosaic), source 2 = (seed-11,
    seed-13). Complex arithmetic restated from pixelfunctions.cpp."""
    re1 = global_mosaic(2, 1).astype(np.float64)
    im1 = -global_mosaic(2, 1, seed=7).astype(np.float64)
    re2 = global_mosaic(2, 1, seed=11).astype(np.float64)
    im2 = global_mosaic(2, 1, seed=13).astype(np.float64)
    m2 = np.maximum(re1 * re1 + im1 * im1, 1e-30)
    outs = {
        "real": [re1],
        "imag": [im1],
        "mod": [np.hypot(re1, im1)],
        "phase": [np.arctan2(im1, re1)],
        "intensity": [re1 * re1 + im1 * im1],
        "conj": [re1, -im1],
        "inv": [re1 / m2, -im1 / m2],
        "sum": [re1 + re2, im1 + im2],
        "diff": [re1 - re2, im1 - im2],
        "mul": [re1 * re2 - im1 * im2, re1 * im2 + im1 * re2],
        "cmul": [re1 * re2 + im1 * im2, im1 * re2 - re1 * im2],
    }
    rows = []
    for name in PIX_COMPLEX:
        for band, a in enumerate(outs[name], start=1):
            for r in tile_checksums(a, 256, "cx", band, 12):
                rows.append((name,) + r)
    return values_sql(rows, ["func"] + CKS_COLS, ["varchar"] + CKS_TYPES)


def sql_proximity_full_checksums() -> str:
    """Unbounded proximity to one sparse zone block (zid 27 is a single
    16x16 patch of the 128px zone burn) — distances span the raster."""
    burned = zones_raster(128).astype(np.float64)
    ty_, tx_ = np.nonzero(burned == 27.0)
    H, W = burned.shape
    yy, xx = np.mgrid[0:H, 0:W]
    best = np.full((H, W), np.inf)
    for s in range(0, len(tx_), 2048):
        dx = xx[:, :, None] - tx_[None, None, s : s + 2048]
        dy = yy[:, :, None] - ty_[None, None, s : s + 2048]
        best = np.minimum(best, (dx * dx + dy * dy).min(axis=2))
    out = np.sqrt(best)
    return values_sql(tile_checksums(out, 32, "proximity", 1, 0), CKS_COLS, CKS_TYPES)


def _flood_regions(arr: np.ndarray, connect: int = 4):
    """Global flood-fill CCL, 4- or 8-neighborhood — independent
    oracle for polygonize(connect=...)."""
    H, W = arr.shape
    seen = np.zeros((H, W), dtype=bool)
    nbrs4 = ((-1, 0), (1, 0), (0, -1), (0, 1))
    nbrs8 = nbrs4 + ((-1, -1), (-1, 1), (1, -1), (1, 1))
    nbrs = nbrs8 if connect == 8 else nbrs4
    rows = []
    for sy in range(H):
        for sx in range(W):
            if seen[sy, sx]:
                continue
            v = float(arr[sy, sx])
            stack = [(sy, sx)]
            seen[sy, sx] = True
            npix = 0
            xmin = xmax = sx
            ymin = ymax = sy
            while stack:
                y, x = stack.pop()
                npix += 1
                xmin = min(xmin, x); xmax = max(xmax, x)
                ymin = min(ymin, y); ymax = max(ymax, y)
                for dy, dx in nbrs:
                    ny, nx = y + dy, x + dx
                    if 0 <= ny < H and 0 <= nx < W and not seen[ny, nx] \
                            and arr[ny, nx] == arr[sy, sx]:
                        seen[ny, nx] = True
                        stack.append((ny, nx))
            rows.append((v, npix, xmin, ymin, xmax, ymax))
    return rows


def sql_polygonize_8conn() -> str:
    """8-connected regions over two fixtures: the 8x8 checkerboard
    (diagonal-only connectivity — collapses 64 4-regions into 2) and
    the rect-zone burn."""
    from gdal_spark.synth import checker_np

    rows = []
    for tag, arr in (
        ("checker", checker_np(128, 16).astype(np.float64)),
        ("zones", zones_raster(128).astype(np.float64)),
    ):
        rows += [(tag,) + r for r in _flood_regions(arr, connect=8)]
    return values_sql(
        rows,
        ["fixture", "value", "npix", "xmin", "ymin", "xmax", "ymax"],
        ["varchar", "double", "bigint", "bigint", "bigint", "bigint", "bigint"],
    )


def sql_contour_polygons(levels=(64.0, 128.0, 192.0)) -> str:
    """Independent oracle for contour polygon (band) mode: global
    flood fill over the banded dome + the shared canonical ring
    tracer (same WKT convention as sql_polygonize_wkt)."""
    from gdal_spark.polygonize import (boundary_edges_for_mask,
                                       rings_to_wkt, trace_rings)
    from gdal_spark.synth import dome_np

    lv = [float(x) for x in levels]
    arr = np.digitize(dome_np(512).astype(np.float64), lv).astype(np.int64)
    H, W = arr.shape
    seen = np.zeros((H, W), dtype=bool)
    rows = []
    for sy in range(H):
        for sx in range(W):
            if seen[sy, sx]:
                continue
            b = int(arr[sy, sx])
            stack = [(sy, sx)]
            seen[sy, sx] = True
            px = []
            while stack:
                y, x = stack.pop()
                px.append((y, x))
                for ny, nx in ((y - 1, x), (y + 1, x), (y, x - 1), (y, x + 1)):
                    if 0 <= ny < H and 0 <= nx < W and not seen[ny, nx] \
                            and arr[ny, nx] == b:
                        seen[ny, nx] = True
                        stack.append((ny, nx))
            mask = np.zeros((H, W), dtype=bool)
            ys_, xs_ = zip(*px)
            mask[list(ys_), list(xs_)] = True
            wkt = rings_to_wkt(trace_rings(boundary_edges_for_mask(mask)))
            rows.append(
                (
                    b,
                    lv[b - 1] if b > 0 else None,
                    lv[b] if b < len(lv) else None,
                    len(px),
                    wkt,
                )
            )
    return values_sql(
        rows,
        ["band_idx", "elev_min", "elev_max", "npix", "wkt"],
        ["bigint", "double", "double", "bigint", "varchar"],
    )


def sql_expand_rgb_checksums() -> str:
    """Oracle for palette -> RGB expansion: local dither then color
    table lookup, per-band GDAL checksums."""
    from gdal_spark.color import dither_tile

    pts = np.vstack(
        [_derived_rgb(tx).astype(np.float64).reshape(-1, 3) for tx in range(2)]
    )
    pal = _median_cut_local(pts, 8)
    rows = []
    for tx in range(2):
        idx = dither_tile(_derived_rgb(tx).astype(np.uint8), pal)
        rgb = pal.astype(np.uint8)[idx]
        for b in range(3):
            rows.append(
                ("expanded", b + 1, 12, tx, 0, G.gdal_checksum(rgb[:, :, b]))
            )
    return values_sql(rows, CKS_COLS, CKS_TYPES)


# ============================================================== nearblack
def nearblack_ref(arr: np.ndarray, near_dist: int = 15, white: bool = False,
                  max_non_black: int = 0):
    """Faithful sequential port of the reference's nearblack
    (apps/nearblack_lib.cpp:356-500 pass structure + ProcessLine :549
    with the vertical termination counts :568, the horizontal
    both-direction scans :643, and the :714 bDoTest re-enable) —
    the oracle for the distributed closed form in
    gdal_spark/nearblack.py. Returns (out, mask)."""
    H, W = arr.shape
    c = 255 if white else 0
    out = arr.astype(np.int64).copy()
    mask = np.full((H, W), 255, np.uint8)

    def nonblack(v):
        return (c - v > near_dist) or (v > near_dist + c)

    def process_line(y, istart, iend, counts, vertical, bottom_up):
        if vertical:
            for i in range(max(istart, iend) + 1):
                if counts[i] > max_non_black:
                    continue
                if nonblack(out[y, i]):
                    counts[i] += 1
                    if counts[i] > max_non_black:
                        continue
                out[y, i] = c
                mask[y, i] = 0
        mnb = 0 if bottom_up else max_non_black
        nnb = 0
        idir = 1 if istart < iend else -1
        dotest = True
        i = istart
        while i != iend:
            if dotest:
                if nonblack(out[y, i]):
                    if counts[i] <= mnb:
                        nnb = counts[i]
                    else:
                        nnb += 1
                if nnb > mnb:
                    dotest = False
                    i += idir
                    continue
                out[y, i] = c
                mask[y, i] = 0
            elif counts[i] == 0:
                dotest = True
                nnb = 0
            i += idir

    counts = np.zeros(W, np.int64)
    for y in range(H):
        process_line(y, 0, W - 1, counts, True, False)
        process_line(y, W - 1, 0, counts, False, False)
    counts[:] = 0
    for y in range(H - 1, -1, -1):
        process_line(y, 0, W - 1, counts, True, True)
        process_line(y, W - 1, 0, counts, False, True)
    return out.astype(arr.dtype), mask


def sql_nearblack_checksums() -> str:
    g = synth.collar_np(256)
    out, mask = nearblack_ref(g)
    rows = tile_checksums(out, 64, "collar", 1, 0) + tile_checksums(
        mask, 64, "collar", 101, 0
    )
    return values_sql(rows, CKS_COLS, CKS_TYPES)


def sql_dedup_groups() -> str:
    """Transitive closure of the minhash near-dup pairs via a DuckDB
    recursive CTE — an INDEPENDENT grouping mechanism to cross-check
    the engine's pointer-jumping connected components."""
    pairs_sql = sql_minhash_pairs()
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        und AS (
          SELECT id_a AS s, id_b AS d FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ),
        walk AS (
          SELECT s AS node, d AS reach FROM und
          UNION
          SELECT w.node, u.d FROM walk w JOIN und u ON w.reach = u.s
        )
        SELECT d.doc_id,
               CAST(LEAST(d.doc_id, COALESCE(MIN(w.reach), d.doc_id))
                    AS BIGINT) AS canonical_id
        FROM documents d LEFT JOIN walk w ON d.doc_id = w.node
        GROUP BY d.doc_id
    """


def sql_compression_ratio() -> str:
    """python-zlib recomputation of the compression-ratio quality
    signal (level 6, same as the engine's Arrow kernel)."""
    import zlib

    docs = _read_parquet(f"{ORACLE_SF_DIR}/documents.parquet")
    rows = []
    for did, text in zip(docs["doc_id"], docs["text"]):
        raw = (text or "").encode("utf-8")
        r = 1.0 if not raw else len(zlib.compress(raw, 6)) / len(raw)
        rows.append((int(did), float(r)))
    return values_sql(rows, ["doc_id", "cratio"], ["bigint", "double"])


def sql_dedup_keep_best() -> str:
    """dedup_groups' recursive-CTE closure + per-cluster argmax by
    text length (ties to smallest id) — the keep-best retention
    policy, independently in SQL."""
    pairs_sql = sql_minhash_pairs()
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        und AS (
          SELECT id_a AS s, id_b AS d FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ),
        walk AS (
          SELECT s AS node, d AS reach FROM und
          UNION
          SELECT w.node, u.d FROM walk w JOIN und u ON w.reach = u.s
        ),
        g AS (
          SELECT d.doc_id,
                 CAST(LEAST(d.doc_id, COALESCE(MIN(w.reach), d.doc_id))
                      AS BIGINT) AS canonical_id,
                 LENGTH(d.text) AS sc
          FROM documents d LEFT JOIN walk w ON d.doc_id = w.node
          GROUP BY d.doc_id, LENGTH(d.text)
        ),
        r AS (
          SELECT doc_id, canonical_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY canonical_id
                   ORDER BY sc DESC, doc_id ASC
                 ) AS rk
          FROM g
        )
        SELECT doc_id, canonical_id, (rk = 1) AS keep FROM r
    """


def sql_gdal_calc_checksums() -> str:
    """Same expression, same pixel values, evaluated on the global
    mosaics with the engine's own compiled-calc runner."""
    from gdal_spark.calc import compile_calc

    a = global_mosaic(2, 2).astype(np.float64)
    b = synth.dome_np(512).astype(np.float64)
    run = compile_calc("A*0.5 + sqrt(B)*2.0 + (A>B)*7.0", ["A", "B"])
    out = run({"A": a, "B": b}).astype("float64")
    return values_sql(tile_checksums(out, 256, "calc", 1, 12),
                      CKS_COLS, CKS_TYPES)


def sql_vrt_separate_checksums() -> str:
    rows = tile_checksums(global_mosaic(2, 2), 256, "stack", 1, 12) + \
        tile_checksums(synth.dome_np(512), 256, "stack", 2, 0)
    return values_sql(rows, CKS_COLS, CKS_TYPES)


def sql_decontaminate(n: int = 8) -> str:
    """Word-8-gram eval-set collision counts, recomputed with Python
    set algebra over the same whitespace tokenization."""
    docs = _read_parquet(f"{ORACLE_SF_DIR}/documents.parquet")

    def grams(text):
        toks = [t for t in (text or "").lower().split() if t]
        return {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }

    gmap = {int(d): grams(t) for d, t in zip(docs["doc_id"], docs["text"])}
    ev = set()
    for did, gs in gmap.items():
        if did < 100:
            ev |= gs
    rows = sorted(
        (did, len(gs & ev)) for did, gs in gmap.items() if gs & ev
    )
    return values_sql(rows, ["doc_id", "matched_grams"],
                      ["bigint", "bigint"])


def sql_dem_slope_pct_checksums() -> str:
    g = global_mosaic(2, 2).astype(np.float64)
    pad = np.pad(g, 1, mode="edge")
    dzdx, dzdy = _horn(pad, 1.0)
    out = 100.0 * np.sqrt(dzdx * dzdx + dzdy * dzdy)
    return values_sql(tile_checksums(out, 256, "slope_pct", 1, 12),
                      CKS_COLS, CKS_TYPES)


def sql_mask_band_checksums() -> str:
    out, _ = nearblack_ref(synth.collar_np(256))
    mask = np.where(out == 0, 0, 255).astype(np.uint8)
    return values_sql(tile_checksums(mask, 64, "collar", 201, 0),
                      CKS_COLS, CKS_TYPES)


def sql_overview_select() -> str:
    """Independent restatement of the best-overview selection
    (gcore/rasterio.cpp:3648) + per-tile window checksums."""
    g = global_mosaic(4, 4)
    l1 = _gdal_cast_local(
        g.astype(np.float64).reshape(512, 2, 512, 2).mean(axis=(1, 3)),
        "uint8")
    l2 = _gdal_cast_local(
        l1.astype(np.float64).reshape(256, 2, 256, 2).mean(axis=(1, 3)),
        "uint8")
    levels = [l1, l2]
    reqs = [
        ("A", 100, 50, 500, 300, 250, 150),
        ("B", 0, 0, 1024, 1024, 1024, 1024),
        ("C", 64, 64, 800, 600, 100, 100),
        ("D", 10, 20, 1000, 1000, 10, 10),
    ]
    rows = []
    for rid, xo, yo, xs, ys, bx, by in reqs:
        desired = xs / float(bx) \
            if (xs / float(bx)) < (ys / float(by)) or by == 1 \
            else ys / float(by)
        best, bres = -1, 0.0
        for i, arr in enumerate(levels):
            res = 1024.0 / arr.shape[1]
            if res >= desired * 1.2 or res <= bres:
                continue
            best, bres = i, res
        if best < 0:
            arr = g
            axo, ayo, axs, ays = xo, yo, xs, ys
        else:
            arr = levels[best]
            side = arr.shape[1]
            r = 1024.0 / side
            axo = min(side - 1, int(xo / r + 0.5))
            ayo = min(side - 1, int(yo / r + 0.5))
            axs = max(1, int(xs / r + 0.5))
            ays = max(1, int(ys / r + 0.5))
            axs = min(axs, side - axo)
            ays = min(ays, side - ayo)
        nt = arr.shape[1] // 256
        for ty in range(nt):
            for tx in range(nt):
                x0 = max(axo, tx * 256)
                x1 = min(axo + axs, (tx + 1) * 256)
                y0 = max(ayo, ty * 256)
                y1 = min(ayo + ays, (ty + 1) * 256)
                if x1 <= x0 or y1 <= y0:
                    continue
                rows.append((rid, best, axo, ayo, axs, ays, tx, ty,
                             G.gdal_checksum(arr[y0:y1, x0:x1])))
    return values_sql(
        rows,
        ["req", "level", "oxoff", "oyoff", "oxsize", "oysize",
         "tile_x", "tile_y", "checksum"],
        ["varchar", "integer", "integer", "integer", "integer",
         "integer", "integer", "integer", "bigint"],
    )


def sql_translate_scale() -> str:
    g = global_mosaic(2, 2).astype(np.float64)
    ratio = (1000.0 - 0.0) / (254.0 - 4.0)
    lin = _gdal_cast_local((g - 4.0) * ratio + 0.0, "int32")
    p = np.clip((g - 4.0) / (254.0 - 4.0), 0.0, 1.0)
    expo = _gdal_cast_local((255.0 - 0.0) * np.power(p, 0.5) + 0.0,
                            "uint8")
    rows = []
    for which, arr in (("linear", lin), ("exponent", expo)):
        for ty in range(2):
            for tx in range(2):
                sub = arr[ty * 256:(ty + 1) * 256, tx * 256:(tx + 1) * 256]
                rows.append((which, tx, ty, G.gdal_checksum(sub)))
    return values_sql(rows, ["which", "tile_x", "tile_y", "checksum"],
                      ["varchar", "integer", "integer", "bigint"])


def sql_dem_hillshade_comb_checksums() -> str:
    g = global_mosaic(2, 2).astype(np.float64)
    pad = np.pad(g, 1, mode="edge")
    dzdx, dzdy = _horn(pad, 1.0)
    az = math.radians(360.0 - 315.0 + 90.0)
    alt = math.radians(45.0)
    s = np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy))
    aspect = np.arctan2(dzdy, -dzdx)
    shade = (np.sin(alt) * np.cos(s)
             + np.cos(alt) * np.sin(s) * np.cos(az - aspect))
    cang = 1.0 - np.arccos(np.clip(shade, -1.0, 1.0)) * s \
        / ((math.pi / 2.0) ** 2)
    out = _gdal_cast_local(
        np.where(cang <= 0.0, 1.0, 1.0 + 254.0 * cang), "uint8")
    return values_sql(tile_checksums(out, 256, "hillshade_comb", 1, 12),
                      CKS_COLS, CKS_TYPES)


def sql_dem_hillshade_zt_checksums() -> str:
    g = global_mosaic(2, 2).astype(np.float64)
    pad = np.pad(g, 1, mode="edge")
    n = pad[:-2, 1:-1]
    w_, e = pad[1:-1, :-2], pad[1:-1, 2:]
    s = pad[2:, 1:-1]
    dzdx = (e - w_) / 2.0
    dzdy = (s - n) / 2.0
    az = math.radians(360.0 - 315.0 + 90.0)
    alt = math.radians(45.0)
    sl = np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy))
    aspect = np.arctan2(dzdy, -dzdx)
    shade = (np.sin(alt) * np.cos(sl)
             + np.cos(alt) * np.sin(sl) * np.cos(az - aspect))
    out = _gdal_cast_local(1.0 + 254.0 * np.maximum(shade, 0.0), "uint8")
    return values_sql(tile_checksums(out, 256, "hillshade", 1, 12),
                      CKS_COLS, CKS_TYPES)


def sql_fillnodata_smooth_checksums() -> str:
    from gdal_spark.raster import fill_smooth_window

    g = global_mosaic(2, 2).astype(np.float64)
    g = g * g  # pixel_calc 'square'
    for ty in range(2):
        for tx in range(2):
            g[ty * 256 + 100 : ty * 256 + 120,
              tx * 256 + 100 : tx * 256 + 140] = -1.0
    hx = 8 + 3
    pad = np.full((512 + 2 * hx, 512 + 2 * hx), np.nan)
    pad[hx:-hx, hx:-hx] = g
    out = fill_smooth_window(pad, 8, 3, -1.0, 2.0)
    return values_sql(tile_checksums(out, 256, "filled_si", 1, 12),
                      CKS_COLS, CKS_TYPES)


# ------------------------------------------------- general reprojection
def reproject_fixture_grid():
    """Deterministic fixture for the general-transformer warp
    (gdalwarp -t_srs): the 2x2 synthetic EPSG:3857 source at zoom 12
    reprojected to EPSG:3031 (Antarctic Polar Stereographic — the
    source sits at lat ~ -85, inside 3031's domain). The dst grid is a
    2x2-tile window CENTERED on the image of the source (every dst
    pixel's preimage falls inside the source), derived once here and
    imported by BOTH the engine query and this oracle so the grids are
    identical python floats. Returns (src_origin, src_res, dst_origin,
    dst_res)."""
    from gdal_spark.crs import grid_transform_np
    from gdal_spark.tiling import suggested_warp_output

    res = _zoom_res(12)
    x0 = -math.pi * _R_EARTH
    origin = (x0, x0 + 2 * 256 * res)
    fwd, _ = grid_transform_np(3857, 3031)
    (ox, oy), sres, w, h = suggested_warp_output(origin, res, 512, 512, fwd)
    dres = sres * 0.45  # zoom into the interior: 512 dst px span ~23%
    cx = ox + (w / 2.0) * sres
    cy = oy - (h / 2.0) * sres
    dst_origin = (cx - 256.0 * dres, cy + 256.0 * dres)
    return origin, res, dst_origin, dres


def _warp_transform_global(src: np.ndarray, sx0, sy0, src_res,
                           dx0, dy0, dst_res, dst_w, dst_h, inv_fn,
                           kernel: str = "bilinear",
                           nodata: float = 0.0) -> np.ndarray:
    """Single-node counterpart of tiling.warp with an inv_transform:
    inverse-transform every dst pixel center, sample the GLOBAL source.
    Identical arithmetic sequence (global pixel index + 0.5, then the
    exact-integer window shift on the engine side) so values are
    bit-equal wherever the engine's window covers the kernel support."""
    H, W = src.shape
    src = src.astype(np.float64)
    jj, ii = np.mgrid[0:dst_h, 0:dst_w]
    wx = dx0 + (ii + 0.5) * dst_res
    wy = dy0 - (jj + 0.5) * dst_res
    sxw, syw = inv_fn(wx.ravel(), wy.ravel())
    lx = ((np.asarray(sxw) - sx0) / src_res - 0.5).reshape(dst_h, dst_w)
    ly = ((sy0 - np.asarray(syw)) / src_res - 0.5).reshape(dst_h, dst_w)
    valid = (np.isfinite(lx) & np.isfinite(ly) &
             (lx > -0.5) & (lx < W - 0.5) & (ly > -0.5) & (ly < H - 0.5))
    lxs = np.where(valid, lx, 0.0)
    lys = np.where(valid, ly, 0.0)
    if kernel == "nearest":
        xi = np.clip(np.round(lxs).astype(np.int64), 0, W - 1)
        yi = np.clip(np.round(lys).astype(np.int64), 0, H - 1)
        out = src[yi, xi]
    else:
        x0i = np.clip(np.floor(lxs).astype(np.int64), 0, W - 1)
        y0i = np.clip(np.floor(lys).astype(np.int64), 0, H - 1)
        x1i = np.clip(x0i + 1, 0, W - 1)
        y1i = np.clip(y0i + 1, 0, H - 1)
        fx = np.clip(lxs - x0i, 0.0, 1.0)
        fy = np.clip(lys - y0i, 0.0, 1.0)
        out = (src[y0i, x0i] * (1 - fx) * (1 - fy)
               + src[y0i, x1i] * fx * (1 - fy)
               + src[y1i, x0i] * (1 - fx) * fy
               + src[y1i, x1i] * fx * fy)
    return np.where(valid, out, nodata)


def sql_warp_reproject_checksums() -> str:
    from gdal_spark.crs import grid_transform_np

    (sx0, sy0), res, (dx0, dy0), dres = reproject_fixture_grid()
    _, inv = grid_transform_np(3857, 3031)
    g = global_mosaic(2, 2)
    out = _warp_transform_global(g, sx0, sy0, res, dx0, dy0, dres,
                                 512, 512, inv, "bilinear")
    out = _gdal_cast_local(out, "uint8")
    return values_sql(tile_checksums(out, 256, "reprojected", 1, 12),
                      CKS_COLS, CKS_TYPES)


def datum_warp_fixture_grid():
    """Fixture for the cross-DATUM raster warp: the same 2x2 synthetic
    tile content declared on a zoom-12 EPSG:3857 grid over London,
    warped to EPSG:27700 (British National Grid, OSGB36 datum — the
    transformer chain includes the position-vector Helmert step, like
    gdalwarp -s_srs EPSG:3857 -t_srs EPSG:27700 through PROJ).
    Returns (src_origin, src_res, dst_origin, dst_res)."""
    from gdal_spark.crs import grid_transform_np, webmerc_forward_np
    from gdal_spark.tiling import suggested_warp_output

    res = _zoom_res(12)
    x0, ytop = webmerc_forward_np(np.array([-0.35]), np.array([51.7]))
    origin = (float(x0[0]), float(ytop[0]))
    fwd, _ = grid_transform_np(3857, 27700)
    (ox, oy), sres, w, h = suggested_warp_output(origin, res, 512, 512, fwd)
    dres = sres * 0.45
    cx = ox + (w / 2.0) * sres
    cy = oy - (h / 2.0) * sres
    return origin, res, (cx - 256.0 * dres, cy + 256.0 * dres), dres


def sql_warp_datum_checksums() -> str:
    from gdal_spark.crs import grid_transform_np

    (sx0, sy0), res, (dx0, dy0), dres = datum_warp_fixture_grid()
    _, inv = grid_transform_np(3857, 27700)
    g = global_mosaic(2, 2)
    out = _warp_transform_global(g, sx0, sy0, res, dx0, dy0, dres,
                                 512, 512, inv, "bilinear")
    out = _gdal_cast_local(out, "uint8")
    return values_sql(tile_checksums(out, 256, "bng_warp", 1, 12),
                      CKS_COLS, CKS_TYPES)


def sql_mdarray_classic_checksums() -> str:
    """Expected checksums for the AsClassicDataset bridge: the same
    (y*131 + x) % 251 lattice assembled sequentially."""
    y, x = np.mgrid[0:512, 0:512]
    arr = _gdal_cast_local(((y * 131 + x) % 251).astype(np.float64), "uint8")
    return values_sql(tile_checksums(arr, 256, "md_classic", 1, 0),
                      CKS_COLS, CKS_TYPES)


# ====================================================== enhance / gdal_lut
def gamma_lut(n: int = 200) -> list:
    """Shared LUT fixture for the gdal_lut query: gamma-ish curve over
    the first n input values (values >= n pass through, per the
    sample's contract)."""
    return [int(min(255, math.floor(255.0 * math.sqrt(i / 255.0) + 0.5)))
            for i in range(n)]


def enhance_equalize_np(g: np.ndarray, nbins: int = 256,
                        smin: float = -0.5, smax: float = 255.5) -> np.ndarray:
    """Sequential mirror of gdal_spark.enhance.enhance_equalize
    (apps/gdalenhance.cpp:493-660 semantics, exact histogram)."""
    h, _ = np.histogram(g.astype(np.float64).ravel(),
                        bins=np.linspace(smin, smax, nbins + 1))
    h = h.astype(np.int64)
    h[0] = 0
    h[-1] = 0
    cum = np.cumsum(h) - h + h // 2
    total = max(1, int(h.sum()))
    j = (np.arange(nbins) * len(h)) // nbins
    lut = np.clip((cum[j] * nbins) // total, 0, nbins - 1)
    scale = nbins / (smax - smin)
    bins = np.clip(((g.astype(np.float64) - smin) * scale).astype(np.int64),
                   0, nbins - 1)
    return lut[bins].astype(np.uint8)


def sql_enhance_checksums() -> str:
    out = enhance_equalize_np(global_mosaic(4, 4))
    return values_sql(tile_checksums(out, 256, "byte_like", 1, 12),
                      CKS_COLS, CKS_TYPES)


def sql_lut_checksums() -> str:
    g = global_mosaic(4, 4).astype(np.int64)
    table = np.asarray(gamma_lut(), dtype=np.int64)
    mapped = np.where(g < len(table), table[np.minimum(g, len(table) - 1)], g)
    out = np.clip(mapped, 0, 255).astype(np.uint8)
    return values_sql(tile_checksums(out, 256, "byte_like", 1, 12),
                      CKS_COLS, CKS_TYPES)


# ========================================================== gdal_footprint
def _mask_regions(mask: np.ndarray):
    """4-connected flood fill over a boolean mask -> list of
    (npix, region_mask) for every True component."""
    H, W = mask.shape
    seen = np.zeros((H, W), dtype=bool)
    out = []
    for sy in range(H):
        for sx in range(W):
            if not mask[sy, sx] or seen[sy, sx]:
                continue
            stack = [(sy, sx)]
            seen[sy, sx] = True
            px = []
            while stack:
                y, x = stack.pop()
                px.append((y, x))
                for ny, nx in ((y - 1, x), (y + 1, x), (y, x - 1), (y, x + 1)):
                    if 0 <= ny < H and 0 <= nx < W and mask[ny, nx] \
                            and not seen[ny, nx]:
                        seen[ny, nx] = True
                        stack.append((ny, nx))
            rm = np.zeros((H, W), dtype=bool)
            ys_, xs_ = zip(*px)
            rm[list(ys_), list(xs_)] = True
            out.append((len(px), rm))
    return out


def sql_footprint() -> str:
    """Sequential mirror of the footprint query: nearblack collar ->
    nodata stripe -> per-region rings -> georef transform -> regions
    rows + the dissolve MULTIPOLYGON row."""
    from gdal_spark.footprint import _transform_wkt
    from gdal_spark.polygonize import (boundary_edges_for_mask,
                                       rings_to_wkt, trace_rings)

    gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    arr, _ = nearblack_ref(synth.collar_np(256))
    arr = arr.copy()
    arr[:, 120:136] = 0
    rows = []
    pieces = []
    for npix, rm in _mask_regions(arr != 0):
        w = rings_to_wkt(trace_rings(boundary_edges_for_mask(rm)))
        w = _transform_wkt(w, gt, 0.0, 7)
        rows.append(("regions", npix, w))
        pieces.append((npix, w))
    bodies = []
    for w in sorted(p[1] for p in pieces):
        b = w.strip()
        bodies.append(b[len("POLYGON"):].strip())
    rows.append(("dissolve", sum(p[0] for p in pieces),
                 "MULTIPOLYGON (" + ", ".join(bodies) + ")"))
    return values_sql(rows, ["mode", "npix", "wkt"],
                      ["varchar", "bigint", "varchar"])


# ==================================================================== BPE
def sql_bpe_tokenize() -> str:
    """Sequential BPE over the same 400-doc synth corpus: identical
    pair counts, identical lexicographic tie-break, identical apply —
    verifies the distributed word-frequency shuffle and the
    broadcast-ranks pandas-UDF apply end to end."""
    from gdal_spark.functions.bpe import (_WORD_RE, _merge_word,
                                          _pair_counts_local,
                                          _word_symbols)

    docs = synth.documents_np(400)
    texts = {}
    for r in docs.itertuples(index=False):
        texts[r.doc_id] = " ".join(
            s["text"] for s in r.spans if s["kind"] == "text")
    words: dict = {}
    for t in texts.values():
        for w in _WORD_RE.findall(t.lower()):
            k = _word_symbols(w)
            words[k] = words.get(k, 0) + 1
    # Mirror bpe_train's driver-bounding prune: min_freq=2, then
    # top-max_vocab by (freq desc, word asc).
    words = {k: n for k, n in words.items() if n >= 2}
    words = dict(sorted(words.items(),
                        key=lambda kv: (-kv[1], "".join(kv[0][:-1])))
                 [:1_000_000])
    merges = []
    for _ in range(20):
        pc = _pair_counts_local(words)
        if not pc:
            break
        best = max(pc.items(), key=lambda kv: (kv[1], kv[0]))
        if best[1] < 2:
            break
        merges.append(best[0])
        words = {_merge_word(s, best[0]): n for s, n in words.items()}
    ranks = {m: i for i, m in enumerate(merges)}

    def encode(word):
        syms = list(_word_symbols(word))
        while len(syms) > 1:
            bi, br = -1, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (br is None or r < br):
                    bi, br = i, r
            if br is None:
                break
            syms[bi:bi + 2] = [syms[bi] + syms[bi + 1]]
        return syms

    rows = []
    for did in sorted(texts):
        if did >= "doc000000060":
            continue
        toks = [s for w in _WORD_RE.findall(texts[did].lower())
                for s in encode(w)]
        rows.append((did, " ".join(toks), len(toks)))
    return values_sql(rows, ["doc_id", "tok_str", "n_tokens"],
                      ["varchar", "varchar", "bigint"])


# ============================================================= gdalsrsinfo
def sql_srsinfo() -> str:
    """gdalsrsinfo oracle: re-render each registered CRS code's PROJ.4
    and WKT1 strings with straight f-string assembly (no Catalyst),
    from the same declared registry rows the engine explodes.  What the
    comparison verifies is the distributed re-assembly: the groupBy +
    array_sort ordering, conditional +key=value rendering (bare +south,
    missing proj4/WKT slots), quoting, and the AUTHORITY gate."""
    from gdal_spark.srsinfo import registry_rows

    by_code: dict = {}
    for r in registry_rows():
        by_code.setdefault(r["epsg"], []).append(r)

    rows = []
    for code in sorted(by_code):
        ps = sorted(by_code[code], key=lambda r: r["ordinal"])
        h = ps[0]
        p4_items = []
        wkt_items = []
        for r in ps:
            k = r["proj4_key"]
            if k == "south":
                p4_items.append("+south")
            elif k is not None:
                p4_items.append(f"+{k}={r['value']}")
            if r["wkt_key"] is not None:
                wkt_items.append(f'PARAMETER["{r["wkt_key"]}",{r["value"]}]')
        if h["kind"] == "webmerc":
            tail = (" +k=1 +units=m +nadgrids=@null"
                    " +wgs84=0,0,0,0,0,0,0 +no_defs")
        else:
            tail = f" {h['p4_units']} +no_defs"
        ellps = f" {h['ellps_frag']}" if h["ellps_frag"] else ""
        p4 = "+proj=" + h["proj"]
        if p4_items:
            p4 += " " + " ".join(p4_items)
        p4 += ellps + tail
        geogcs = (
            f'GEOGCS["{h["geogcs"]}",DATUM["{h["datum"]}",'
            f'SPHEROID["{h["spheroid"]}",{h["a"]},{h["rf"]}]],'
            f'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]'
        )
        from gdal_spark.srsinfo import ESRI_CODES
        auth = ("" if code in ESRI_CODES
                else f',AUTHORITY["EPSG","{code}"]')
        wkt = (
            f'PROJCS["{h["name"]}",{geogcs},'
            f'PROJECTION["{h["wkt_projection"]}"],'
            + ",".join(wkt_items)
            + f',UNIT["{h["unit_name"]}",{h["unit_factor"]}]{auth}]'
        )
        rows.append((code, h["name"], h["kind"], p4, wkt))
    return values_sql(
        rows, ["epsg", "name", "kind", "proj4", "wkt"],
        ["bigint", "varchar", "varchar", "varchar", "varchar"],
    )


# ============================================== GDALApplyVerticalShiftGrid
def sql_vshift_checksums() -> str:
    """Vertical-shift oracle: bilinear-regrid the 1-tile float32 shift
    grid (2x coarser) onto the 512x512 source mosaic grid with
    _warp_global, cast to float32 (the warp stage's declared output
    dtype), then (src*1 + grid)/1 with src-nodata passthrough, cast
    float32, checksum per 256px tile — the single-node counterpart of
    vshift.apply_vertical_shift_grid's warp + tile-join + combine."""
    from gdal_spark.synth import vshift_grid_np

    res = _zoom_res(12)
    x0 = -math.pi * _R_EARTH
    ytop = x0 + 2 * 256 * res
    src = global_mosaic(2, 2).astype(np.float64)
    gv = vshift_grid_np().astype(np.float64)
    grid_on_src = _warp_global(
        gv, x0, ytop, 2 * res, x0, ytop, res, 512, 512, "bilinear")
    grid_on_src = _gdal_cast_local(grid_on_src, "float32").astype(np.float64)
    valid = src != 0.0
    out = np.where(valid, (src * 1.0 + grid_on_src) / 1.0, 0.0)
    out = _gdal_cast_local(out, "float32")
    return values_sql(tile_checksums(out, 256, "vshifted", 1, 12),
                      CKS_COLS, CKS_TYPES)


# ======================================= GDALComputeMatchingPoints (SURF)
def sql_surf_gcps() -> str:
    """SimpleSURF tie-point oracle: run the shared single-node kernels
    (surf.extract_feature_points_np / surf.match_np — the verbatim
    transcriptions of alg/gdal_octave.cpp + alg/gdal_simplesurf.cpp)
    on the GLOBAL 512x512 bump fixtures; what the comparison verifies
    is the distributed orchestration — the halo-window seam parity of
    detection/descriptors and the partial-top-2 broadcast matching."""
    from gdal_spark import surf
    from gdal_spark.synth import surf_image_window_np

    img1 = surf_image_window_np(0, 0, 512, 512)
    img2 = surf_image_window_np(0, 0, 512, 512, shift=(17, 9))
    fp1 = surf.extract_feature_points_np(img1 / 255.0, 2, 2, 0.001)
    fp2 = surf.extract_feature_points_np(img2 / 255.0, 2, 2, 0.001)
    m = surf.match_np(fp1, fp2, matching_threshold=1.0)
    rows = [(round(r.x1 + 0.5, 1), round(r.y1 + 0.5, 1),
             round(r.x2 + 0.5, 1), round(r.y2 + 0.5, 1))
            for r in m.itertuples(index=False)]
    rows.sort()
    return values_sql(rows, ["pixel", "line", "gcp_x", "gcp_y"],
                      ["double", "double", "double", "double"])


def sql_mdreader_scenes(n: int = 25) -> str:
    """Expected IMAGERY/RPC rows for the synthetic satellite scenes —
    a literal transcription of the fork's mdreader derivations
    (reader_gaofen/tianhui/triplesat/ziyuan.cpp: SATELLITEID passthrough,
    CLOUDCOVER with the >= 99 -> '999' clamp, ACQUISITIONDATETIME in
    MD_DATETIMEFORMAT) evaluated single-node over the shared
    closed-form fixture parameters (synth.scene_params)."""
    from gdal_spark.synth import scene_params

    rows = []
    for i in range(n):
        p = scene_params(i)
        y, mo, d, h, mi, s = p["dt"]
        cloud = "999" if p["cloud"] >= 99 else str(p["cloud"])
        dt = f"{y:04d}-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:{s:02d}"
        rows.append(
            f"('scene_{i:03d}.tiff', '{p['family']}', "
            f"'{p['satellite']}', '{cloud}', '{dt}', "
            f"{p['line_off']!r}, {p['long_scale']!r})")
    return ("SELECT * FROM (VALUES " + ", ".join(rows)
            + ") AS t(name, md_type, satellite_id, cloud_cover, "
              "acq_datetime, line_off, long_scale)")


def sql_transform_geolocs() -> str:
    """GDALTransformGeolocations oracle: the lon/lat ramps through the
    same spherical web-mercator forward, single-node, re-tiled to
    per-tile checksums."""
    from gdal_spark.crs import webmerc_forward_np
    from gdal_spark.synth import lonlat_bands_np

    lon, lat = lonlat_bands_np(2, 2)
    gx, gy = webmerc_forward_np(lon, lat)
    rows = tile_checksums(gx, 256, "geoloc", 1, 0) + \
        tile_checksums(gy, 256, "geoloc", 2, 0)
    return values_sql(rows, CKS_COLS, CKS_TYPES)


def sql_dump_overviews() -> str:
    """dumpoverviews oracle: the COG fixture's two average-kernel
    overview levels, checksummed per dumped file."""
    g = global_mosaic(2, 2)
    l1 = _avg2x2_u8(g)
    l2 = _avg2x2_u8(l1)
    rows = [("good_1_0.tif", G.gdal_checksum(l1)),
            ("good_1_1.tif", G.gdal_checksum(l2))]
    return values_sql(rows, ["file", "checksum"], ["varchar", "bigint"])


# ============================================================== hsv_merge
def hsv_merge_np(rgb: list, grey: np.ndarray,
                 nodata: float | None = None) -> list:
    """Sequential mirror of gdal_spark.color.hsv_merge
    (osgeo_utils/samples/hsv_merge.py:48-110,199-226): RGB->HSV, V
    replaced by the greyscale (nodata pixels keep the color V),
    HSV->RGB with the reference's truncating uint8 cast."""
    r, g, b = (c.astype(np.float64) for c in rgb)
    maxc = np.maximum(r, np.maximum(g, b))
    minc = np.minimum(r, np.minimum(g, b))
    span = np.where(maxc == minc, 1.0, maxc - minc)
    s = (maxc - minc) / np.maximum(1.0, maxc)
    rc, gc, bc = (maxc - r) / span, (maxc - g) / span, (maxc - b) / span
    h = np.zeros_like(s)
    h = np.where(maxc == b, 4.0 + gc - rc, h)
    h = np.where(maxc == g, 2.0 + rc - bc, h)
    h = np.where(maxc == r, bc - gc, h)
    h = np.mod(h / 6.0, 1.0)
    gf = grey.astype(np.float64)
    v = np.where(gf == float(nodata), maxc, gf) if nodata is not None else gf
    i = (h * 6.0).astype(np.int64)
    f = (h * 6.0) - i
    p = v * (1.0 - s)
    q = v * (1.0 - s * f)
    t = v * (1.0 - s * (1.0 - f))
    return [np.choose(i, [v, q, p, p, t, v]).astype(np.uint8),
            np.choose(i, [t, v, v, q, p, p]).astype(np.uint8),
            np.choose(i, [p, p, t, v, v, q]).astype(np.uint8)]


def sql_hsv_merge_checksums(ramp) -> str:
    """color-relief RGB + hillshade intensity of the same 2x2 mosaic,
    merged; per-band checksums."""
    g = global_mosaic(2, 2).astype(np.float64)
    ramp = sorted(ramp)
    vals = np.array([x[0] for x in ramp], dtype=np.float64)
    rgb = [
        _gdal_cast_local(
            np.interp(g, vals, np.array([x[k] for x in ramp],
                                        dtype=np.float64)), "uint8")
        for k in (1, 2, 3)
    ]
    pad = np.pad(g, 1, mode="edge")
    dzdx, dzdy = _horn(pad, 1.0)
    az = math.radians(360.0 - 315.0 + 90.0)
    alt = math.radians(45.0)
    slope = np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy))
    aspect = np.arctan2(dzdy, -dzdx)
    shade = (np.sin(alt) * np.cos(slope)
             + np.cos(alt) * np.sin(slope) * np.cos(az - aspect))
    grey = _gdal_cast_local(1.0 + 254.0 * np.maximum(shade, 0.0), "uint8")
    merged = hsv_merge_np(rgb, grey)
    rows = []
    for band, arr in enumerate(merged, start=1):
        rows.extend(tile_checksums(arr, 256, "hsv_merge", band, 12))
    return values_sql(rows, CKS_COLS, CKS_TYPES)


# ============================================== val_repl / classify / attachpct
ATTACH_PCT = np.array(
    [[0, 0, 0], [255, 255, 255], [255, 0, 0], [0, 255, 0],
     [0, 0, 255], [255, 255, 0], [0, 255, 255], [255, 0, 255]],
    dtype=np.uint8,
)

CLASSIFY_DEFS = [(1, 0.0, 63.0), (2, 64.0, 127.0),
                 (3, 128.0, 191.0), (4, 192.0, 255.0)]


def sql_val_repl_checksums() -> str:
    """Mirror of enhance.val_repl (samples/val_repl.py:118-133)."""
    g = global_mosaic(2, 2)
    out = np.where(g == 77, np.uint8(255), g).astype(np.uint8)
    return values_sql(tile_checksums(out, 256, "byte_like", 1, 12),
                      CKS_COLS, CKS_TYPES)


def sql_classify_checksums() -> str:
    """Mirror of enhance.classify (samples/classify.py:36-62)."""
    g = global_mosaic(2, 2).astype(np.float64)
    dst = np.zeros(g.shape, dtype=np.uint8)
    for value, start, end in CLASSIFY_DEFS:
        dst = np.where((g >= start) & (g <= end), np.uint8(value), dst)
    return values_sql(tile_checksums(dst, 256, "byte_like", 1, 12),
                      CKS_COLS, CKS_TYPES)


def sql_attachpct_checksums() -> str:
    """Mirror of the gdalattachpct/rgb2pct -pct path: dither against
    an EXTERNAL palette (no median cut), expand back via the attached
    table (pct2rgb)."""
    from gdal_spark.color import dither_tile

    rows = []
    for tx in range(2):
        idx = dither_tile(_derived_rgb(tx).astype(np.uint8), ATTACH_PCT)
        rgb = ATTACH_PCT[idx]
        for b in range(3):
            rows.append(
                ("attached", b + 1, 12, tx, 0, G.gdal_checksum(rgb[:, :, b]))
            )
    return values_sql(rows, CKS_COLS, CKS_TYPES)


# ================================================================== FFT
def sql_fft_magphase() -> str:
    """Oracle for the distributed transpose-method 2-D FFT
    (samples/fft.py) + magphase (samples/magphase.py): sequential
    np.fft over the assembled mosaic, per-tile rounded sums."""
    g = global_mosaic(2, 2).astype(np.complex128)
    z = np.fft.fft(np.fft.fft(g, axis=1), axis=0)
    rows = []
    for rid, arr in (("fft_mag", np.abs(z)), ("fft_phase", np.angle(z))):
        for ty in range(2):
            for tx in range(2):
                sub = arr[ty * 256:(ty + 1) * 256, tx * 256:(tx + 1) * 256]
                rows.append((rid, tx, ty, round(float(np.sum(sub)), 4)))
    return values_sql(rows, ["raster_id", "tile_x", "tile_y", "px_sum"],
                      ["varchar", "bigint", "bigint", "double"])


# =================================================== graticule / junction
def _float_range(start: float, stop: float, step: float) -> list:
    steps = (stop - start) / step
    if steps != int(steps):
        steps = steps + 1.0
    return [i * step + start for i in range(int(steps))]


GRAT_STEP, GRAT_SUBSTEP = 30.0, 15.0


def sql_graticule_segments() -> str:
    """Mirror of graticule.graticule_segments (mkgraticule.py:95-120)
    at step=30/substep=15 over the full globe."""
    rows = []
    for lat in _float_range(-90.0, 90.0 + GRAT_STEP / 2, GRAT_STEP):
        for lon in _float_range(-180.0, 180.0 - GRAT_SUBSTEP / 2,
                                GRAT_SUBSTEP):
            rows.append(("lat", lon, lat, lon + GRAT_SUBSTEP, lat))
    for lon in _float_range(-180.0, 180.0 + GRAT_STEP / 2, GRAT_STEP):
        for lat in _float_range(-90.0, 90.0 - GRAT_SUBSTEP / 2,
                                GRAT_SUBSTEP):
            rows.append(("lon", lon, lat, lon, lat + GRAT_SUBSTEP))
    return values_sql(rows, ["kind", "x0", "y0", "x1", "y1"],
                      ["varchar", "double", "double", "double", "double"])


def sql_graticule_lines() -> str:
    """Connected mode (mkgraticule.py:122-146): (kind, at, n_vertices)."""
    rows = []
    nx = len(_float_range(-180.0, 180.0 + GRAT_SUBSTEP / 2, GRAT_SUBSTEP))
    for lat in _float_range(-90.0, 90.0 + GRAT_STEP / 2, GRAT_STEP):
        rows.append(("lat", lat, nx))
    ny = len(_float_range(-90.0, 90.0 + GRAT_SUBSTEP / 2, GRAT_SUBSTEP))
    for lon in _float_range(-180.0, 180.0 + GRAT_STEP / 2, GRAT_STEP):
        rows.append(("lon", lon, ny))
    return values_sql(rows, ["kind", "at", "n_vertices"],
                      ["varchar", "double", "bigint"])


def sql_gcps2wld() -> str:
    """Exact world file of the synthetic GCP affine (the distributed
    normal-equation fit recovers a consistent system exactly)."""
    gt = (1000.0, 0.05, -0.001, 2000.0, -0.002, -0.05)
    wf = (gt[1], gt[4], gt[2], gt[5],
          gt[0] + 0.5 * gt[1] + 0.5 * gt[2],
          gt[3] + 0.5 * gt[4] + 0.5 * gt[5])
    return values_sql([tuple(round(v, 6) for v in wf)],
                      ["wld_a", "wld_d", "wld_b", "wld_e", "wld_c", "wld_f"],
                      ["double"] * 6)


def sql_ntv2_transform() -> str:
    """Fully-independent DuckDB oracle for the NTv2 hgridshift apply:
    the toy .gsb bytes are regenerated, parsed, and the node table is
    INLINED as VALUES; DuckDB then reruns subgrid selection and the
    bilinear corner joins itself in plain SQL (same association order
    as the Column expressions, node floats via shortest repr)."""
    from gdal_spark import ntv2
    from gdal_spark.derived import DERIVED_LAT_SQL, DERIVED_LON_SQL

    subs = ntv2.read_gsb(ntv2.toy_gsb_bytes())
    vals = []
    for gid, sg in enumerate(subs):
        sh = sg["shifts"]
        ni, nj = sh.shape[0], sh.shape[1]
        for i in range(ni):
            for j in range(nj):
                vals.append(f"({gid},{i},{j},{sh[i, j, 0]!r},{sh[i, j, 1]!r})")
    gid_case = ntv2.subgrid_select_sql(subs, "lon", "lat")
    c = {
        "lat0": ntv2.per_gid_const_sql(subs, lambda g: g["lat0"], "gid"),
        "lon0": ntv2.per_gid_const_sql(subs, lambda g: g["lon0"], "gid"),
        "dla": ntv2.per_gid_const_sql(subs, lambda g: g["dlat"], "gid", 1.0),
        "dlo": ntv2.per_gid_const_sql(subs, lambda g: g["dlon"], "gid", 1.0),
        "nim2": ntv2.per_gid_const_sql(subs, lambda g: g["ni"] - 2, "gid"),
        "njm2": ntv2.per_gid_const_sql(subs, lambda g: g["nj"] - 2, "gid"),
    }
    return f"""
WITH grid(g, i, j, a, o) AS (VALUES {','.join(vals)}),
b AS (SELECT doc_id,
        (-112.0 + ({DERIVED_LON_SQL} + 180.0) / 360.0 * 29.0) AS lon,
        (28.0 + ({DERIVED_LAT_SQL} + 85.0) / 170.0 * 24.0) AS lat
      FROM documents),
s AS (SELECT doc_id, lon, lat, {gid_case} AS gid FROM b),
c AS (SELECT *, {c['lat0']} AS lat0, {c['lon0']} AS lon0,
        {c['dla']} AS dla, {c['dlo']} AS dlo,
        {c['nim2']} AS nim2, {c['njm2']} AS njm2 FROM s),
f AS (SELECT *, LEAST(FLOOR((lat - lat0) / dla), nim2) AS gi,
        LEAST(FLOOR((lon - lon0) / dlo), njm2) AS gj FROM c),
f2 AS (SELECT *, (lat - lat0) / dla - gi AS fi,
        (lon - lon0) / dlo - gj AS fj FROM f),
jn AS (SELECT f2.*,
        g00.a AS a00, g00.o AS o00, g01.a AS a01, g01.o AS o01,
        g10.a AS a10, g10.o AS o10, g11.a AS a11, g11.o AS o11
      FROM f2
      LEFT JOIN grid g00 ON f2.gid = g00.g AND f2.gi = g00.i AND f2.gj = g00.j
      LEFT JOIN grid g01 ON f2.gid = g01.g AND f2.gi = g01.i AND f2.gj + 1 = g01.j
      LEFT JOIN grid g10 ON f2.gid = g10.g AND f2.gi + 1 = g10.i AND f2.gj = g10.j
      LEFT JOIN grid g11 ON f2.gid = g11.g AND f2.gi + 1 = g11.i AND f2.gj + 1 = g11.j),
w AS (SELECT *,
        ((1.0 - fi) * (1.0 - fj) * a00 + (1.0 - fi) * fj * a01
         + fi * (1.0 - fj) * a10 + fi * fj * a11) AS dlat,
        ((1.0 - fi) * (1.0 - fj) * o00 + (1.0 - fi) * fj * o01
         + fi * (1.0 - fj) * o10 + fi * fj * o11) AS dlon
      FROM jn)
SELECT doc_id, gid,
       ROUND(CASE WHEN gid >= 0 THEN lon - dlon / 3600.0 ELSE lon END, 6)
         AS lon_nad83,
       ROUND(CASE WHEN gid >= 0 THEN lat + dlat / 3600.0 ELSE lat END, 6)
         AS lat_nad83
FROM w
"""


def sql_rat_roundtrip() -> str:
    """Oracle for the default-RAT build over the classified mosaic:
    sequential classify + histogram (gcore/gdal_rat.cpp default RAT =
    VALUE/COUNT; autotest/gcore/rat.py)."""
    g = global_mosaic(2, 2).astype(np.float64)
    dst = np.zeros(g.shape, dtype=np.uint8)
    for value, start, end in CLASSIFY_DEFS:
        dst = np.where((g >= start) & (g <= end), np.uint8(value), dst)
    c = np.bincount(dst.ravel())
    rows = [("byte_like", 1, int(v), int(c[v]))
            for v in np.nonzero(c)[0]]
    return values_sql(rows, ["raster_id", "band", "value", "count"],
                      ["varchar", "integer", "bigint", "bigint"])


def sql_dem_checksums(npx: int, tile_px: int, raster_id: str,
                      zoom: int = 0) -> str:
    """Checksums of the synth int16 DEM cell re-split into (possibly
    ragged) tiles — oracle for the DTED / SRTMHGT driver loops."""
    arr = synth.dem_pixels_np(0, 0, npx, npx)
    nt = math.ceil(npx / tile_px)
    rows = []
    for ty in range(nt):
        for tx in range(nt):
            sub = arr[ty * tile_px:(ty + 1) * tile_px,
                      tx * tile_px:(tx + 1) * tile_px]
            rows.append((raster_id, 1, zoom, tx, ty, G.gdal_checksum(sub)))
    return values_sql(rows, CKS_COLS, CKS_TYPES)


def sql_geoid_shift() -> str:
    """Fully-independent DuckDB oracle for the GTX +vgridshift point
    apply: the toy .gtx bytes are regenerated and parsed, the node
    table INLINED as VALUES, and DuckDB reruns the frame shift, cell
    math, corner joins, bilinear, and nodata/outside passthrough in
    plain SQL (same association order as the Column expressions)."""
    from gdal_spark import gtx
    from gdal_spark.derived import DERIVED_LAT_SQL, DERIVED_LON_SQL

    g = gtx.read_gtx(gtx.toy_gtx_bytes())
    vals = []
    for i in range(g["nrows"]):
        for j in range(g["ncols"]):
            vals.append(f"({i},{j},{g['values'][i, j]!r})")
    lat0, lon0 = g["ll_lat"], g["ll_lon"]
    dla, dlo = g["dlat"], g["dlon"]
    lat_hi = lat0 + (g["nrows"] - 1) * dla
    lon_hi = lon0 + (g["ncols"] - 1) * dlo
    nd = gtx.NODATA + 1e-4
    return f"""
WITH grid(i, j, v) AS (VALUES {','.join(vals)}),
b AS (SELECT doc_id,
        (-149.0 + ({DERIVED_LON_SQL} + 180.0) / 360.0 * 97.0) AS lon,
        (-35.0 + ({DERIVED_LAT_SQL} + 85.0) / 170.0 * 68.0) AS lat,
        (CAST(doc_id % 100 AS DOUBLE) * 1.5 - 20.0) AS h
      FROM documents WHERE doc_id < 4000),
fr AS (SELECT *, CASE WHEN lon < {lon0!r} THEN lon + 360.0 ELSE lon END
        AS long, (lat >= {lat0!r} AND lat <= {lat_hi!r}
                  AND (CASE WHEN lon < {lon0!r} THEN lon + 360.0
                       ELSE lon END) >= {lon0!r}
                  AND (CASE WHEN lon < {lon0!r} THEN lon + 360.0
                       ELSE lon END) <= {lon_hi!r}) AS inside FROM b),
f AS (SELECT *, LEAST(FLOOR((lat - {lat0!r}) / {dla!r}),
                      {g["nrows"] - 2}) AS gi,
        LEAST(FLOOR((long - {lon0!r}) / {dlo!r}),
              {g["ncols"] - 2}) AS gj FROM fr),
f2 AS (SELECT *, (lat - {lat0!r}) / {dla!r} - gi AS fi,
        (long - {lon0!r}) / {dlo!r} - gj AS fj FROM f),
jn AS (SELECT f2.*, g00.v AS v00, g01.v AS v01,
              g10.v AS v10, g11.v AS v11
      FROM f2
      LEFT JOIN grid g00 ON f2.gi = g00.i AND f2.gj = g00.j
      LEFT JOIN grid g01 ON f2.gi = g01.i AND f2.gj + 1 = g01.j
      LEFT JOIN grid g10 ON f2.gi + 1 = g10.i AND f2.gj = g10.j
      LEFT JOIN grid g11 ON f2.gi + 1 = g11.i AND f2.gj + 1 = g11.j),
u AS (SELECT *, CASE WHEN (NOT inside) OR v00 <= {nd!r} OR v01 <= {nd!r}
            OR v10 <= {nd!r} OR v11 <= {nd!r} THEN NULL
        ELSE v00 * (1 - fi) * (1 - fj) + v01 * (1 - fi) * fj
             + v10 * fi * (1 - fj) + v11 * fi * fj END AS und FROM jn)
SELECT doc_id, ROUND(und, 6) AS undulation,
       ROUND(CASE WHEN und IS NULL THEN h ELSE h - und END, 6)
         AS h_ortho
FROM u
"""
