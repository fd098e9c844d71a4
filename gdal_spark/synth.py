"""Deterministic synthetic fixtures (FIXTURES.md T1-T4).

Every generator is a pure function of (seed, index) — no RNG state, no
wall clock — and exists in two exactly-matching forms:

  *_df  : distributed Spark generation via spark.range + column
          expressions / higher-order functions (JVM-side, no Python in
          the hot path, never collected — scales to 10^12 rows)
  *_np  : single-process numpy mirror producing IDENTICAL values,
          used by the pytest oracle to compute golden outputs

Determinism rules shared by both forms (so values are bit-identical):
  - hash H(key) = splitmix64(key) on wrapping 64-bit arithmetic
    (Java long and numpy uint64 wrap identically)
  - bounded ints / uniforms are always derived via the *unsigned* top
    53 bits: rnd_int = (h >>> 11) % k, rnd_u01 = (h >>> 11) / 2^53
  - coordinates snap to fixed grids with floor (never round — Spark
    rounds HALF_UP, numpy rounds half-even): points on 1e-7, zone
    vertices on 1e-5 (per FIXTURES.md, avoids border-touching points)
  - polygon vertices use a shared literal cos/sin table (COS8/SIN8) so
    both engines run the same double arithmetic

Modeled on the reference's canonical fixtures poly.shp (10 polygons,
fields AREA/EAS_ID/PRFEDEA — autotest/ogr/data/, substrate of
autotest/ogr/ogr_sql_test.py) and byte.tif (20x20 Byte, checksum 4672 —
autotest/gcore/data/, asserted at autotest/utilities/test_gdalwarp.py:56).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import geomlite as G
from .cells import EARTH_RADIUS

SEED = 42
KNN_SEED = 43

# shared literal vertex table for the 8-gon polygon docs (radius 0.01 deg)
COS8 = [1.0, 0.7071067811865476, 0.0, -0.7071067811865476,
        -1.0, -0.7071067811865476, 0.0, 0.7071067811865476]
SIN8 = [0.0, 0.7071067811865476, 1.0, 0.7071067811865476,
        0.0, -0.7071067811865476, -1.0, -0.7071067811865476]
POLY_RADIUS = 0.01

_SM1 = -7046029254386353131  # 0x9E3779B97F4A7C15 as signed i64
_SM2 = -4658895280553007687  # 0xBF58476D1CE4E5B9
_SM3 = -7723592293110705685  # 0x94D049BB133111EB


# ------------------------------------------------------ column-side hashing
def sm64_col(x: Column) -> Column:
    """splitmix64 as a Column expression (wrapping Java long arithmetic —
    bit-identical to geomlite.splitmix64 on uint64)."""
    z = x.cast("long") + F.lit(_SM1)
    z = z.bitwiseXOR(F.shiftrightunsigned(z, 30)) * F.lit(_SM2)
    z = z.bitwiseXOR(F.shiftrightunsigned(z, 27)) * F.lit(_SM3)
    return z.bitwiseXOR(F.shiftrightunsigned(z, 31))


def h_col(i: Column, stream: int, seed: int = SEED) -> Column:
    return sm64_col(i * F.lit(1000003) + F.lit(stream * 7919 + seed))


def rnd_int_col(h: Column, k: int) -> Column:
    return F.shiftrightunsigned(h, 11) % F.lit(k)


def rnd_u01_col(h: Column) -> Column:
    return F.shiftrightunsigned(h, 11).cast("double") / float(1 << 53)


def _grid7(x: Column) -> Column:
    return F.floor(x * 1e7).cast("double") / 1e7


# -------------------------------------------------------- numpy-side hashing
def h_np(i, stream: int, seed: int = SEED) -> np.ndarray:
    i = np.asarray(i, dtype=np.int64)
    return G.splitmix64(
        (i.astype(np.uint64) * np.uint64(1000003)) + np.uint64(stream * 7919 + seed)
    )


def rnd_int_np(h, k: int) -> np.ndarray:
    return ((np.asarray(h, dtype=np.uint64) >> np.uint64(11)) % np.uint64(k)).astype(np.int64)


def rnd_u01_np(h) -> np.ndarray:
    return (np.asarray(h, dtype=np.uint64) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _grid7_np(x) -> np.ndarray:
    return np.floor(np.asarray(x, dtype=np.float64) * 1e7) / 1e7


# ================================================================ T1 documents
# layout: n_spans in 4..8; span p kind: p==3 -> 'geom' (exactly one),
# else 'text' if p even else 'media'. offset == position index.
def _doc_lonlat_cols(i: Column) -> tuple[Column, Column, Column]:
    lon = _grid7(F.lit(-180.0) + rnd_u01_col(h_col(i, 1)) * 360.0)
    lat = _grid7(F.lit(-85.0) + rnd_u01_col(h_col(i, 2)) * 170.0)
    is_poly = rnd_int_col(h_col(i, 3), 20) == 0
    return lon, lat, is_poly


def _doc_wkt_col(i: Column) -> Column:
    lon, lat, is_poly = _doc_lonlat_cols(i)
    pt = F.format_string("POINT(%.7f %.7f)", lon, lat)
    verts = [
        F.format_string(
            "%.7f %.7f",
            _grid7(lon + F.lit(POLY_RADIUS * COS8[k])),
            _grid7(lat + F.lit(POLY_RADIUS * SIN8[k])),
        )
        for k in range(8)
    ]
    first = verts[0]
    ring = F.concat_ws(", ", *verts, first)
    poly = F.concat(F.lit("POLYGON(("), ring, F.lit("))"))
    return F.when(is_poly, poly).otherwise(pt)


def documents_df(spark: SparkSession, n: int, seed: int = SEED, partitions: int | None = None) -> DataFrame:
    """T1 interleaved documents: (doc_id string, spans array<struct<
    kind,text,media_ref,offset>>). Fully JVM-side generation."""
    # default partitioning: ~15k docs per partition, floor 64 — enough
    # waves that a 32-core (or 4N-executor) scan is never starved or
    # straggler-bound, small enough that each parquet file stays a
    # single split at any maxPartitionBytes
    rng = spark.range(0, n, 1, partitions or max(64, min(4096, n // 15000 + 1)))
    i = F.col("id")
    n_spans = (F.lit(4) + rnd_int_col(h_col(i, 0), 5)).cast("int")
    wkt = _doc_wkt_col(i)

    def span(p: Column) -> Column:
        sk = i * F.lit(16) + p.cast("long")
        hw = h_col(sk, 4)
        words = F.format_string(
            "w%04d w%04d w%04d",
            rnd_int_col(hw, 10000),
            rnd_int_col(h_col(sk, 5), 10000),
            rnd_int_col(h_col(sk, 6), 10000),
        )
        kind = (
            F.when(p == 3, F.lit("geom"))
            .when(p % 2 == 0, F.lit("text"))
            .otherwise(F.lit("media"))
        )
        text = (
            F.when(p == 3, wkt).when(p % 2 == 0, words).otherwise(F.lit(""))
        )
        media = F.when(
            (p != 3) & (p % 2 == 1),
            F.format_string("media://%09d", rnd_int_col(h_col(sk, 7), 1000000000)),
        ).otherwise(F.lit(""))
        return F.struct(
            kind.alias("kind"),
            text.alias("text"),
            media.alias("media_ref"),
            p.cast("int").alias("offset"),
        )

    spans = F.transform(F.sequence(F.lit(0), n_spans - 1), span)
    return rng.select(
        F.format_string("doc%09d", i).alias("doc_id"),
        spans.alias("spans"),
    )


def documents_np(n: int, seed: int = SEED) -> pd.DataFrame:
    """numpy mirror of documents_df — identical values."""
    i = np.arange(n, dtype=np.int64)
    n_spans = 4 + rnd_int_np(h_np(i, 0), 5)
    lon = _grid7_np(-180.0 + rnd_u01_np(h_np(i, 1)) * 360.0)
    lat = _grid7_np(-85.0 + rnd_u01_np(h_np(i, 2)) * 170.0)
    is_poly = rnd_int_np(h_np(i, 3), 20) == 0

    doc_ids = np.array([f"doc{k:09d}" for k in i], dtype=object)
    wkts = np.empty(n, dtype=object)
    pt_sel = ~is_poly
    wkts[pt_sel] = [f"POINT({x:.7f} {y:.7f})" for x, y in zip(lon[pt_sel], lat[pt_sel])]
    for k in np.where(is_poly)[0]:
        vx = _grid7_np(lon[k] + POLY_RADIUS * np.array(COS8))
        vy = _grid7_np(lat[k] + POLY_RADIUS * np.array(SIN8))
        verts = [f"{x:.7f} {y:.7f}" for x, y in zip(vx, vy)]
        wkts[k] = "POLYGON((" + ", ".join(verts + [verts[0]]) + "))"

    rows = []
    for k in range(n):
        spans = []
        for p in range(int(n_spans[k])):
            sk = np.int64(k * 16 + p)
            if p == 3:
                kind, text, media = "geom", wkts[k], ""
            elif p % 2 == 0:
                a = int(rnd_int_np(h_np(sk, 4), 10000))
                b = int(rnd_int_np(h_np(sk, 5), 10000))
                c = int(rnd_int_np(h_np(sk, 6), 10000))
                kind, text, media = "text", f"w{a:04d} w{b:04d} w{c:04d}", ""
            else:
                m = int(rnd_int_np(h_np(sk, 7), 1000000000))
                kind, text, media = "media", "", f"media://{m:09d}"
            spans.append({"kind": kind, "text": text, "media_ref": media, "offset": p})
        rows.append({"doc_id": doc_ids[k], "spans": spans})
    out = pd.DataFrame(rows)
    out["lon"] = lon
    out["lat"] = lat
    out["is_poly"] = is_poly
    out["geom_wkt"] = wkts
    return out


# ================================================================== T2 zones
def zones_np(m: int, seed: int = SEED, holes: bool = True) -> pd.DataFrame:
    """Jittered-grid convex-ish quads covering lon[-180,180] lat[-85,85].
    m must be a perfect square (g x g zones from a (g+1)^2 node grid —
    shared nodes guarantee no overlaps / no gaps beyond borders).
    When `holes`, ~10% of zones are deterministically removed so the
    left-join NULL leg is exercised (FIXTURES.md T2: ~92% of points in
    exactly one zone, mirroring OGR's NULL-row LEFT JOIN semantics,
    ogr_sql_dialect.rst:490). zone_id stays the grid id (stable)."""
    g = int(round(math.sqrt(m)))
    assert g * g == m, f"zone count {m} must be a perfect square"
    ii, jj = np.meshgrid(np.arange(g + 1), np.arange(g + 1), indexing="ij")
    node_key = (ii * 100003 + jj).astype(np.int64)
    pitch_x, pitch_y = 360.0 / g, 170.0 / g
    jx = (rnd_u01_np(h_np(node_key.ravel(), 8, seed)) - 0.5) * 0.4 * pitch_x
    jy = (rnd_u01_np(h_np(node_key.ravel(), 9, seed)) - 0.5) * 0.4 * pitch_y
    jx = jx.reshape(ii.shape)
    jy = jy.reshape(ii.shape)
    jx[0, :] = 0.0
    jx[g, :] = 0.0
    jy[:, 0] = 0.0
    jy[:, g] = 0.0
    nx = np.floor((-180.0 + ii * pitch_x + jx) * 1e5) / 1e5
    ny = np.floor((-85.0 + jj * pitch_y + jy) * 1e5) / 1e5

    rows = []
    for zi in range(g):
        for zj in range(g):
            zone_id = zi * g + zj
            if holes and int(rnd_int_np(h_np(np.int64(zone_id), 11, seed), 10)) == 0:
                continue
            xs = np.array([nx[zi, zj], nx[zi + 1, zj], nx[zi + 1, zj + 1], nx[zi, zj + 1]])
            ys = np.array([ny[zi, zj], ny[zi + 1, zj], ny[zi + 1, zj + 1], ny[zi, zj + 1]])
            verts = [f"{x:.5f} {y:.5f}" for x, y in zip(xs, ys)]
            wkt = "POLYGON((" + ", ".join(verts + [verts[0]]) + "))"
            rows.append(
                {
                    "zone_id": zone_id,
                    "eas_id": 158 + zone_id * 7,
                    "prfedea": f"35043{zone_id:04d}",
                    "area": G.shoelace_area(xs, ys),
                    "geom_wkt": wkt,
                    "xs": xs.tolist(),
                    "ys": ys.tolist(),
                    "xmin": float(xs.min()),
                    "ymin": float(ys.min()),
                    "xmax": float(xs.max()),
                    "ymax": float(ys.max()),
                }
            )
    return pd.DataFrame(rows)


ZONE_SCHEMA = T.StructType(
    [
        T.StructField("zone_id", T.LongType()),
        T.StructField("eas_id", T.LongType()),
        T.StructField("prfedea", T.StringType()),
        T.StructField("area", T.DoubleType()),
        T.StructField("geom_wkt", T.StringType()),
        T.StructField("xs", T.ArrayType(T.DoubleType())),
        T.StructField("ys", T.ArrayType(T.DoubleType())),
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
    ]
)


# ============================================================= T4 kNN queries
def knn_queries_np(n: int, seed: int = KNN_SEED) -> pd.DataFrame:
    i = np.arange(n, dtype=np.int64)
    lon = _grid7_np(-180.0 + rnd_u01_np(h_np(i, 1, seed)) * 360.0)
    lat = _grid7_np(-85.0 + rnd_u01_np(h_np(i, 2, seed)) * 170.0)
    return pd.DataFrame({"q_id": i, "lon": lon, "lat": lat, "k": 5})


# ================================================================ T3 raster
def tile_pixels_np(tile_x: int, tile_y: int, width: int = 256, height: int = 256,
                   seed: int = SEED) -> np.ndarray:
    """Deterministic tile raster: v(x,y) = (3x + 5y + h) % 251 + 4
    (never equals nodata=0). Local pixel coords, row-major uint8."""
    tid = np.int64(tile_x * 65537 + tile_y)
    h = int(rnd_int_np(h_np(tid, 13, seed), 251))
    yy, xx = np.mgrid[0:height, 0:width]
    return ((3 * xx + 5 * yy + h) % 251 + 4).astype(np.uint8)


TILE_SCHEMA = T.StructType(
    [
        T.StructField("raster_id", T.StringType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("zoom", T.IntegerType()),
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("tile_y", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("dtype", T.StringType()),
        T.StructField("nodata", T.DoubleType()),
        T.StructField("crs", T.StringType()),
        T.StructField("geotransform", T.ArrayType(T.DoubleType())),
        T.StructField("data", T.BinaryType()),
    ]
)
TILE_COLUMNS = TILE_SCHEMA.fieldNames()


def tile_row(raster_id, band, zoom, tile_x, tile_y, arr: np.ndarray, gt,
             *, x0=0, y0=0, nodata=float("nan"), crs="",
             dtype=None) -> dict:
    """One TILE_SCHEMA row (the GDALRasterBlock record) for the 2-D block
    `arr`: width/height from its shape, data its C-order bytes, dtype
    str(arr.dtype) unless given. A block at pixel offset (x0, y0) of a
    raster with geotransform `gt` gets gt's origin shifted there; with
    no offset `gt` is stored as passed."""
    h, w = arr.shape
    if x0 or y0:
        gt = [gt[0] + x0 * gt[1], gt[1], gt[2],
              gt[3] + y0 * gt[5], gt[4], gt[5]]
    return {
        "raster_id": raster_id, "band": band, "zoom": zoom,
        "tile_x": tile_x, "tile_y": tile_y, "width": w, "height": h,
        "dtype": str(arr.dtype) if dtype is None else dtype,
        "nodata": nodata, "crs": crs, "geotransform": gt,
        "data": arr.tobytes(),
    }


def strip_rows(raster_id, band, zoom, tile_y, strip: np.ndarray, gt,
               tile_px: int, *, y0=0, **kw) -> list[dict]:
    """Cut one decoded strip (rows [y0, y0+h) of the raster, full width)
    into tile rows every tile_px columns, tile_x = 0, 1, ..."""
    return [tile_row(raster_id, band, zoom, tx, tile_y,
                     strip[:, x:x + tile_px], gt, x0=x, y0=y0, **kw)
            for tx, x in enumerate(range(0, strip.shape[1], tile_px))]


def tiles_src_df(spark: SparkSession, ntx: int, nty: int, zoom: int = 12,
                 raster_id: str = "byte_like", seed: int = SEED) -> DataFrame:
    """T3 raster tile table: each row one 256x256 uint8 tile. Pixel data
    is generated distributedly inside mapInPandas (numpy, batch)."""
    base = spark.range(0, ntx * nty, 1, max(4, ntx * nty // 64 + 1)).select(
        (F.col("id") % ntx).cast("int").alias("tile_x"),
        (F.col("id") / ntx).cast("int").alias("tile_y"),
    )
    res = 2 * math.pi * EARTH_RADIUS / 256 / (2**zoom)
    origin = -math.pi * EARTH_RADIUS

    def gen(batches):
        for pdf in batches:
            # TMS rows: the tile's top edge is (ty + 1) tiles above origin
            yield pd.DataFrame([
                tile_row(raster_id, 1, zoom, tx, ty,
                         tile_pixels_np(tx, ty, seed=seed),
                         (origin, res, 0.0, origin, 0.0, -res),
                         x0=tx * 256, y0=-(ty + 1) * 256, nodata=0.0,
                         crs="EPSG:3857")
                for tx, ty in zip(pdf["tile_x"].tolist(),
                                  pdf["tile_y"].tolist())
            ], columns=TILE_COLUMNS)

    return base.mapInPandas(gen, schema=TILE_SCHEMA)


def surf_bumps_np(n: int = 48, extent: int = 512,
                  seed: int = SEED) -> np.ndarray:
    """Deterministic gaussian-bump parameters (cx, cy, sigma, amp) for
    the SURF tie-point fixture — smooth blobs are exactly what the
    fast-Hessian detector responds to."""
    i = np.arange(n, dtype=np.int64)
    cx = _grid7_np(rnd_u01_np(h_np(i, 61, seed)) * extent)
    cy = _grid7_np(rnd_u01_np(h_np(i, 62, seed)) * extent)
    sig = _grid7_np(3.0 + rnd_u01_np(h_np(i, 63, seed)) * 9.0)
    amp = _grid7_np((40.0 + rnd_u01_np(h_np(i, 64, seed)) * 60.0)
                    * np.where(rnd_int_np(h_np(i, 65, seed), 2) == 0,
                               1.0, -1.0))
    return np.stack([cx, cy, sig, amp], axis=1)


def surf_image_window_np(x0: int, y0: int, w: int, h: int,
                         shift: tuple[int, int] = (0, 0),
                         n: int = 48, extent: int = 512,
                         seed: int = SEED) -> np.ndarray:
    """Evaluate the bump field on pixel window [x0, x0+w) x [y0, y0+h)
    of the (virtually shifted) image: value(x, y) = clip(120 +
    sum_k amp_k * exp(-d^2 / (2 sigma_k^2)), 0, 255) sampled at
    (x + shift_x, y + shift_y) — an integer shift therefore produces
    bit-identical local patches, the property the matching fixture
    relies on."""
    bumps = surf_bumps_np(n, extent, seed)
    yy, xx = np.mgrid[y0:y0 + h, x0:x0 + w]
    fx = (xx + shift[0]).astype(np.float64)
    fy = (yy + shift[1]).astype(np.float64)
    v = np.full((h, w), 120.0)
    for cx, cy, sig, amp in bumps:
        d2 = (fx - cx) ** 2 + (fy - cy) ** 2
        v += amp * np.exp(-d2 / (2.0 * sig * sig))
    return np.clip(v, 0.0, 255.0)


def surf_tiles_df(spark: SparkSession, ntx: int = 2, nty: int = 2,
                  shift: tuple[int, int] = (0, 0), tile_px: int = 256,
                  raster_id: str = "surf_img",
                  seed: int = SEED) -> DataFrame:
    """The bump field as a float64 tile table (map-only generation)."""
    base = spark.range(0, ntx * nty, 1, max(4, ntx * nty)).select(
        (F.col("id") % ntx).cast("int").alias("tile_x"),
        (F.col("id") / ntx).cast("int").alias("tile_y"),
    )
    extent = max(ntx, nty) * tile_px

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame([
                tile_row(raster_id, 1, 0, tx, ty,
                         surf_image_window_np(
                             tx * tile_px, ty * tile_px, tile_px, tile_px,
                             shift=shift, extent=extent, seed=seed),
                         [0.0, 1.0, 0.0, 0.0, 0.0, 1.0], nodata=-1.0)
                for tx, ty in zip(pdf["tile_x"].tolist(),
                                  pdf["tile_y"].tolist())
            ], columns=TILE_COLUMNS)

    return base.mapInPandas(gen, schema=TILE_SCHEMA)


def vshift_grid_np(seed: int = SEED) -> np.ndarray:
    """Deterministic float32 vertical-shift (geoid-like) grid, one
    256x256 tile: v = tile_pixels_np/8 - 10, range [-9.5, 21.875],
    never the grid nodata (-32768). Exact in float32 (divide by a
    power of two, subtract an integer)."""
    base = tile_pixels_np(0, 0, seed=seed + 7).astype(np.float32)
    return base * np.float32(0.125) - np.float32(10.0)


def vshift_grid_df(spark: SparkSession, origin: tuple[float, float],
                   res: float, seed: int = SEED) -> DataFrame:
    """The shift grid as a 1-tile float32 tile table covering
    [origin_x, origin_x+256*res] x [origin_y-256*res, origin_y]."""
    base = spark.range(0, 1, 1, 1).select(
        F.lit(0).cast("int").alias("tile_x"),
        F.lit(0).cast("int").alias("tile_y"),
    )
    ox, oy = float(origin[0]), float(origin[1])

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame([
                tile_row("vshift_grid", 1, 0, tx, ty, vshift_grid_np(seed),
                         [ox, res, 0.0, oy, 0.0, -res], nodata=-32768.0,
                         crs="EPSG:3857")
                for tx, ty in zip(pdf["tile_x"].tolist(),
                                  pdf["tile_y"].tolist())
            ], columns=TILE_COLUMNS)

    return base.mapInPandas(gen, schema=TILE_SCHEMA)


def _image_tiles(pdf: pd.DataFrame, raster_id: str, img: np.ndarray,
                 tile_px: int, nodata: float) -> pd.DataFrame:
    """The tiles (pdf.tile_x, pdf.tile_y) of one in-memory uint8 image,
    geotransform origin (tx, ty) * tile_px with a -1 pixel height."""
    return pd.DataFrame([
        tile_row(raster_id, 1, 0, tx, ty,
                 img[ty * tile_px:(ty + 1) * tile_px,
                     tx * tile_px:(tx + 1) * tile_px],
                 [float(tx * tile_px), 1.0, 0.0, float(ty * tile_px), 0.0,
                  -1.0], nodata=nodata, crs="EPSG:3857")
        for tx, ty in zip(pdf["tile_x"].tolist(), pdf["tile_y"].tolist())
    ], columns=TILE_COLUMNS)


def checker_np(npx: int, cell: int = 16) -> np.ndarray:
    """Deterministic checkerboard: value = (gx//cell + gy//cell) % 2.
    Every same-color square touches its diagonal neighbors only — the
    canonical fixture separating 4- from 8-connected polygonize."""
    g = np.arange(npx) // cell
    return ((g[None, :] + g[:, None]) % 2).astype(np.uint8)


def checker_tiles_df(spark: SparkSession, ntx: int = 2, nty: int = 2,
                     tile_px: int = 64, cell: int = 16) -> DataFrame:
    """Checkerboard raster as a tile table (same schema as
    tiles_src_df); pixels generated distributedly per tile."""
    base = spark.range(0, ntx * nty, 1, max(4, ntx * nty)).select(
        (F.col("id") % ntx).cast("int").alias("tile_x"),
        (F.col("id") / ntx).cast("int").alias("tile_y"),
    )
    def gen(batches):
        for pdf in batches:
            yield _image_tiles(pdf, "checker",
                               checker_np(max(ntx, nty) * tile_px, cell),
                               tile_px, 255.0)

    return base.mapInPandas(gen, schema=TILE_SCHEMA)


def collar_np(npx: int, seed: int = SEED) -> np.ndarray:
    """Bright raster with an irregular near-black collar (for the
    nearblack operator): wavy left/right margins per row, wavy
    top/bottom margins per column, plus an interior dark block that a
    correct nearblack must NOT remove (it is near-black but not
    edge-connected in the prefix sense)."""
    yy, xx = np.mgrid[0:npx, 0:npx]
    arr = (60 + (3 * xx + 5 * yy) % 150).astype(np.uint8)
    idx = np.arange(npx, dtype=np.int64)
    lw = 4 + rnd_int_np(h_np(idx, 31, seed), 20)
    rw = 4 + rnd_int_np(h_np(idx, 33, seed), 20)
    td = 2 + rnd_int_np(h_np(idx, 35, seed), 16)
    bd = 2 + rnd_int_np(h_np(idx, 37, seed), 16)
    dark = (4 + (7 * xx + 11 * yy) % 9).astype(np.uint8)  # values 4..12
    collar = (
        (xx < lw[:, None])
        | (xx >= npx - rw[:, None])
        | (yy < td[None, :])
        | (yy >= npx - bd[None, :])
    )
    arr = np.where(collar, dark, arr)
    arr[120:140, 120:160] = 5  # interior near-black block: must survive
    return arr.astype(np.uint8)


def collar_tiles_df(spark: SparkSession, ntx: int = 4, nty: int = 4,
                    tile_px: int = 64, seed: int = SEED) -> DataFrame:
    """The collar raster as a tile table (same schema as tiles_src_df)."""
    base = spark.range(0, ntx * nty, 1, max(4, ntx * nty)).select(
        (F.col("id") % ntx).cast("int").alias("tile_x"),
        (F.col("id") / ntx).cast("int").alias("tile_y"),
    )

    def gen(batches):
        for pdf in batches:
            yield _image_tiles(pdf, "collar",
                               collar_np(max(ntx, nty) * tile_px, seed),
                               tile_px, 0.0)

    return base.mapInPandas(gen, schema=TILE_SCHEMA)


def dome_np(npx: int) -> np.ndarray:
    """Smooth deterministic dome: v = clip(255 - floor(dist to the
    raster center), 0, 255), uint8. Level sets are concentric circles
    — the fixture for contour polygon banding (few large regions,
    unlike the fragmented modular test pattern)."""
    c = npx / 2.0 - 0.5
    yy, xx = np.mgrid[0:npx, 0:npx]
    d = np.floor(np.sqrt((xx - c) ** 2 + (yy - c) ** 2))
    return np.clip(255.0 - d, 0, 255).astype(np.uint8)


def dome_tiles_df(spark: SparkSession, ntx: int = 2, nty: int = 2,
                  tile_px: int = 256) -> DataFrame:
    """Dome raster as a tile table (tiles_src_df schema)."""
    base = spark.range(0, ntx * nty, 1, max(4, ntx * nty)).select(
        (F.col("id") % ntx).cast("int").alias("tile_x"),
        (F.col("id") / ntx).cast("int").alias("tile_y"),
    )
    npx = max(ntx, nty) * tile_px

    def gen(batches):
        for pdf in batches:
            yield _image_tiles(pdf, "dome", dome_np(npx), tile_px, 255.0)

    return base.mapInPandas(gen, schema=TILE_SCHEMA)


# ------------------------------------------------------- mdreader fixtures
SCENE_FAMILIES = ["GaoFen", "TianHui", "TripleSat", "ZiYuan02C", "ZiYuan"]

_SCENE_SAT = {"GaoFen": "GF2", "TianHui": "TH-1", "TripleSat": "TripleSat-2",
              "ZiYuan02C": "ZY02C", "ZiYuan": "ZY3-01"}


def scene_params(i: int) -> dict:
    """Deterministic parameters for synthetic satellite scene #i (the
    shared ground truth for the mdreader fixtures AND the DuckDB
    oracle — both sides derive from these closed forms)."""
    fam = SCENE_FAMILIES[i % 5]
    cc = (i * 13) % 130
    dt = (2015 + i % 8, 1 + i % 12, 1 + (i * 3) % 28,
          i % 24, (i * 7) % 60, (i * 11) % 60)
    return {
        "family": fam,
        "satellite": _SCENE_SAT[fam],
        "cloud": cc,
        "dt": dt,
        "line_off": 1000.0 + i,
        "samp_off": 2000.0 + 2 * i,
        "long_scale": 10.0 + (i % 4),
    }


def write_scene_fixture(dirpath: str, i: int) -> str:
    """Materialize scene #i's sidecars (XML + .rpb or _rpc.txt per
    family — reader_gaofen/tianhui/triplesat/ziyuan.cpp file
    contracts) and return the scene path the readers dispatch on."""
    import os

    p = scene_params(i)
    fam, (y, mo, d, h, mi, s) = p["family"], p["dt"]
    base = os.path.join(dirpath, f"scene_{i:03d}")
    dash = f"{y:04d}-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:{s:02d}"

    if fam == "ZiYuan":
        xml = ("<sensor_corrected_metadata><ProductInfo>"
               f"<SatelliteID>ZY3-01</SatelliteID>"
               f"<CloudPercent>{p['cloud']}</CloudPercent>"
               f"<AcquistionTime>{dash}</AcquistionTime>"
               "</ProductInfo></sensor_corrected_metadata>")
    else:
        date_key = {"GaoFen": "CenterTime", "ZiYuan02C": "CenterTime",
                    "TianHui": "ReceiveTime",
                    "TripleSat": "ReceiveTime"}[fam]
        date_val = f'"{dash}"' if fam == "TripleSat" else dash
        xml = ("<ProductMetaData>"
               f"<SatelliteID>{p['satellite']}</SatelliteID>"
               f"<CloudPercent>{p['cloud']}</CloudPercent>"
               f"<{date_key}>{date_val}</{date_key}>"
               "<Bands>1,2,3</Bands>"
               "</ProductMetaData>")
    with open(base + ".xml", "w") as f:
        f.write(xml)

    coef = lambda k: " ".join(f"{(k * 20 + j) * 1e-6:.6g}"
                              for j in range(1, 21))
    if fam == "TripleSat":
        lines = [f"LINE_OFF: {p['line_off']:+.2f} pixels",
                 f"SAMP_OFF: {p['samp_off']:+.2f} pixels",
                 "LAT_OFF: +30.00 degrees", "LONG_OFF: +110.00 degrees",
                 "HEIGHT_OFF: +500.0 meters", "LINE_SCALE: 6000.0 pixels",
                 "SAMP_SCALE: 6000.0 pixels", "LAT_SCALE: 0.5 degrees",
                 f"LONG_SCALE: {p['long_scale']:.1f} degrees",
                 "HEIGHT_SCALE: 100.0 meters"]
        for n_, key in enumerate(["LINE_NUM_COEFF", "LINE_DEN_COEFF",
                                  "SAMP_NUM_COEFF", "SAMP_DEN_COEFF"]):
            for j, v in enumerate(coef(n_ + 1).split(), start=1):
                lines.append(f"{key}_{j}: {v}")
        with open(base + "_rpc.txt", "w") as f:
            f.write("\n".join(lines) + "\n")
    else:
        paren = lambda k: "(" + ", ".join(coef(k).split()) + ")"
        rpb = ("satId = \"XX\";\nBEGIN_GROUP = IMAGE\n"
               f"\tlineOffset = {p['line_off']:.2f};\n"
               f"\tsampOffset = {p['samp_off']:.2f};\n"
               "\tlatOffset = 30.0;\n\tlongOffset = 110.0;\n"
               "\theightOffset = 500.0;\n\tlineScale = 6000.0;\n"
               "\tsampScale = 6000.0;\n\tlatScale = 0.5;\n"
               f"\tlongScale = {p['long_scale']:.1f};\n"
               "\theightScale = 100.0;\n"
               f"\tlineNumCoef = {paren(1)};\n"
               f"\tlineDenCoef = {paren(2)};\n"
               f"\tsampNumCoef = {paren(3)};\n"
               f"\tsampDenCoef = {paren(4)};\n"
               "END_GROUP = IMAGE\nEND;\n")
        with open(base + ".rpb", "w") as f:
            f.write(rpb)
    return base + ".tiff"


def lonlat_bands_np(ntx: int, nty: int, tile_px: int = 256,
                    lon0: float = -30.0, lat0: float = 20.0,
                    dlon: float = 0.01, dlat: float = 0.005
                    ) -> tuple[np.ndarray, np.ndarray]:
    """Global lon/lat geolocation ramps (the GDALTransformGeolocations
    fixture): X = lon0 + col*dlon, Y = lat0 + row*dlat, float64."""
    H, W = nty * tile_px, ntx * tile_px
    jj, ii = np.meshgrid(np.arange(W, dtype=np.float64),
                         np.arange(H, dtype=np.float64))
    return lon0 + jj * dlon, lat0 + ii * dlat


def lonlat_bands_df(spark: SparkSession, ntx: int, nty: int,
                    tile_px: int = 256, raster_id: str = "geoloc",
                    zoom: int = 0, **kw) -> DataFrame:
    """The lon/lat ramps as a 2-band float64 tile table (band 1 = X,
    band 2 = Y), generated map-only from the closed forms."""
    base = spark.range(0, ntx * nty * 2, 1, max(4, ntx * nty)).select(
        (F.col("id") % ntx).cast("int").alias("tile_x"),
        ((F.col("id") / ntx) % nty).cast("int").alias("tile_y"),
        (F.col("id") / (ntx * nty) + 1).cast("int").alias("band"),
    )
    args = dict(tile_px=tile_px, **kw)

    def gen(batches):
        for pdf in batches:
            rows = []
            for tx, ty, b in zip(pdf["tile_x"], pdf["tile_y"], pdf["band"]):
                lon0 = args.get("lon0", -30.0)
                lat0 = args.get("lat0", 20.0)
                dlon = args.get("dlon", 0.01)
                dlat = args.get("dlat", 0.005)
                jj, ii = np.meshgrid(
                    np.arange(tx * tile_px, (tx + 1) * tile_px,
                              dtype=np.float64),
                    np.arange(ty * tile_px, (ty + 1) * tile_px,
                              dtype=np.float64))
                arr = (lon0 + jj * dlon) if b == 1 else (lat0 + ii * dlat)
                rows.append(tile_row(raster_id, int(b), zoom, int(tx),
                                     int(ty), arr,
                                     [0.0, 1.0, 0.0, 0.0, 0.0, 1.0]))
            yield pd.DataFrame(rows, columns=TILE_COLUMNS)

    return base.mapInPandas(gen, schema=TILE_SCHEMA)


def dem_pixels_np(x0: int, y0: int, width: int, height: int) -> np.ndarray:
    """Deterministic int16 DEM patch in GLOBAL pixel coords: the value
    depends only on (X, Y) so any tiling of the same cell assembles the
    same image. Range -950..952 exercises the DTED signed-magnitude
    encoding's negative branch while staying far from the -16000
    two-complement heuristic and the -32767 nodata."""
    yy, xx = np.mgrid[y0:y0 + height, x0:x0 + width]
    return (((7 * xx + 11 * yy + 37) % 1903) - 950).astype(np.int16)


def dem_tiles_df(spark: SparkSession, npx: int, tile_px: int = 256,
                 sw_lon: int = -80, sw_lat: int = 43,
                 raster_id: str = "dem_cell", zoom: int = 0) -> DataFrame:
    """One 1-degree DEM cell (npx x npx int16, pixel-is-point) as a
    tile table — the source fixture for the SRTMHGT / DTED loops.
    Edge tiles are ragged when tile_px does not divide npx. The
    geotransform is the reference's half-pixel-shifted cell frame
    (frmts/srtmhgt/srtmhgtdataset.cpp:443): UL corner =
    (sw_lon - px/2, sw_lat + 1 + px/2), px = 1/(npx-1)."""
    nt = math.ceil(npx / tile_px)
    px = 1.0 / (npx - 1)
    ulx = sw_lon - 0.5 * px
    uly = sw_lat + 1 + 0.5 * px
    base = spark.range(0, nt * nt, 1, max(4, nt * nt)).select(
        (F.col("id") % nt).cast("int").alias("tile_x"),
        (F.col("id") / nt).cast("int").alias("tile_y"),
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for tx, ty in zip(pdf["tile_x"], pdf["tile_y"]):
                tx, ty = int(tx), int(ty)
                w = min(tile_px, npx - tx * tile_px)
                h = min(tile_px, npx - ty * tile_px)
                arr = dem_pixels_np(tx * tile_px, ty * tile_px, w, h)
                rows.append(tile_row(raster_id, 1, zoom, tx, ty, arr,
                                     (ulx, px, 0.0, uly, 0.0, -px),
                                     x0=tx * tile_px, y0=ty * tile_px,
                                     nodata=-32767.0, crs="EPSG:4326"))
            yield pd.DataFrame(rows, columns=TILE_COLUMNS)

    return base.mapInPandas(gen, schema=TILE_SCHEMA)
