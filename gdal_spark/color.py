"""Color quantization: median-cut palette + Floyd-Steinberg dither
(the reference's RGB->paletted pipeline: alg/gdalmediancut.cpp
GDALComputeMedianCutPCT + alg/gdaldither.cpp GDALDitherRGB2PCT).

Distributed shape:
  palette — per-tile strided RGB samples stream to the driver (bounded
  by the stride, not the raster size) and one numpy median-cut runs
  there: the palette is a tiny global model, like the broadcast
  spatial index.
  dither — per-tile Floyd-Steinberg error diffusion against the
  broadcast palette. GDAL diffuses across the whole image serially;
  per-tile diffusion (errors reset at tile borders) is the documented
  distributed approximation — border pixels can differ from a
  single-pass global dither by at most the diffused error magnitude.

Input: the tile table with band in {1,2,3} as R,G,B planes per tile.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .synth import TILE_COLUMNS, TILE_SCHEMA, tile_row
from .tiling import _decode

HIST_SCHEMA = T.StructType(
    [
        T.StructField("code", T.IntegerType()),
        T.StructField("cnt", T.LongType()),
    ]
)


def _assemble_rgb(pdf: pd.DataFrame):
    bands = {}
    first = pdf.iloc[0]
    h, w = int(first["height"]), int(first["width"])
    for i in range(len(pdf)):
        row = pdf.iloc[i]
        bands[int(row["band"])] = _decode(
            row["data"], row["dtype"], int(row["height"]), int(row["width"])
        ).astype(np.float64)
    return np.stack([bands[1], bands[2], bands[3]], axis=-1), h, w


def hist_median_cut(bins: np.ndarray, weights: np.ndarray,
                    n_colors: int) -> np.ndarray:
    """Weighted median cut over 5-bit RGB histogram bins — the actual
    shape of GDALComputeMedianCutPCT (alg/gdalmediancut.cpp works on a
    32^3 histogram, never raw pixels). `bins` (n, 3) int in 0..31,
    lexsorted; `weights` (n,) int64 pixel counts. Palette entry =
    ((min + max) << 3) / 2 per channel over the box's bin range — the
    reference's exact formula (gdalmediancut.cpp:578-580)."""
    boxes = [(bins.astype(np.int64), weights.astype(np.int64))]
    while len(boxes) < n_colors:
        ranges = [
            (b[:, c].max() - b[:, c].min() if len(b) > 1 else -1, i, c)
            for i, (b, _) in enumerate(boxes)
            for c in range(3)
        ]
        rng, bi, ch = max(ranges)
        if rng <= 0:
            break
        b, wt = boxes.pop(bi)
        order = np.argsort(b[:, ch], kind="stable")
        bs, ws = b[order], wt[order]
        cum = np.cumsum(ws)
        half = cum[-1] / 2.0
        k = int(np.searchsorted(cum, half))  # first bin reaching half
        med = bs[min(k, len(bs) - 1), ch]
        sel = b[:, ch] <= med
        lo, wlo = b[sel], wt[sel]
        hi, whi = b[~sel], wt[~sel]
        if len(lo) == 0 or len(hi) == 0:
            hcount = len(bs) // 2
            lo, wlo = bs[:hcount], ws[:hcount]
            hi, whi = bs[hcount:], ws[hcount:]
        boxes.extend([(lo, wlo), (hi, whi)])
    pal = np.array(
        [
            ((b.min(axis=0) + b.max(axis=0)) * 8) // 2
            if len(b) else np.zeros(3, dtype=np.int64)
            for b, wt in boxes
        ]
    )
    return np.clip(pal, 0, 255).astype(np.uint8)


def median_cut_palette(tiles: DataFrame, n_colors: int = 16) -> np.ndarray:
    """(n_colors, 3) uint8 palette via weighted median cut over the
    DISTRIBUTED 5-bit 3-D color histogram (GDALComputeMedianCutPCT,
    alg/gdalmediancut.cpp's 32^3 histogram): each tile emits its local
    nonzero (code, count) rows, a groupBy-sum merges them, and the
    driver sees at most 32768 rows no matter how large the raster is —
    the unbounded strided-sample collect this replaces scaled with
    pixel count."""

    def hist(key, pdf: pd.DataFrame) -> pd.DataFrame:
        rgb, h, w = _assemble_rgb(pdf)
        v = np.clip(np.round(rgb), 0, 255).astype(np.int32)
        code = ((v[..., 0] >> 3) << 10) | ((v[..., 1] >> 3) << 5) | (v[..., 2] >> 3)
        cnt = np.bincount(code.ravel(), minlength=32768)
        nz = np.nonzero(cnt)[0]
        return pd.DataFrame({"code": nz.astype(np.int32), "cnt": cnt[nz]})

    agg = (
        tiles.groupBy("tile_x", "tile_y")
        .applyInPandas(hist, schema=HIST_SCHEMA)
        .groupBy("code")
        .agg(F.sum("cnt").alias("cnt"))
        .orderBy("code")
        .toPandas()
    )
    codes = agg["code"].to_numpy(np.int64)
    bins = np.stack(
        [(codes >> 10) & 31, (codes >> 5) & 31, codes & 31], axis=1
    )
    return hist_median_cut(bins, agg["cnt"].to_numpy(np.int64), n_colors)


_DITHER_C_SRC = r"""
#include <stddef.h>
#include <stdint.h>

/* Exact C restatement of the serpentine Floyd-Steinberg loop below
   (and of alg/gdaldither.cpp:238-330's serial int pipeline). Floor
   divisions by 16 are arithmetic right shifts so negative errors
   round like Python's //. */
void dither_tile_c(const uint8_t *rgb, const int32_t *pal, int npal,
                   int h, int w, int32_t *cur, int32_t *nxt,
                   uint8_t *out)
{
    for (int c = 0; c < 3 * w; c++) { cur[c] = 0; }
    for (int y = 0; y < h; y++) {
        int serp = y & 1;
        int step = serp ? -1 : 1;
        int x0 = serp ? w - 1 : 0;
        for (int c = 0; c < 3 * w; c++) { nxt[c] = 0; }
        const uint8_t *row = rgb + (size_t)y * w * 3;
        uint8_t *orow = out + (size_t)y * w;
        int car_r = 0, car_g = 0, car_b = 0;
        for (int i = 0, x = x0; i < w; i++, x += step) {
            int r = row[3 * x] + cur[x] + car_r;
            int g = row[3 * x + 1] + cur[w + x] + car_g;
            int b = row[3 * x + 2] + cur[2 * w + x] + car_b;
            int rc = r < 0 ? 0 : (r > 255 ? 255 : r);
            int gc = g < 0 ? 0 : (g > 255 ? 255 : g);
            int bc = b < 0 ? 0 : (b > 255 ? 255 : b);
            int best = 1 << 30, k = 0;
            for (int p = 0; p < npal; p++) {
                int dr = rc - pal[3 * p], dg = gc - pal[3 * p + 1],
                    db = bc - pal[3 * p + 2];
                int d = dr * dr + dg * dg + db * db;
                if (d < best) { best = d; k = p; }
            }
            orow[x] = (uint8_t)k;
            int er = rc - pal[3 * k], eg = gc - pal[3 * k + 1],
                eb = bc - pal[3 * k + 2];
            int e7r = (er * 7) >> 4, e5r = (er * 5) >> 4, e3r = (er * 3) >> 4;
            int e7g = (eg * 7) >> 4, e5g = (eg * 5) >> 4, e3g = (eg * 3) >> 4;
            int e7b = (eb * 7) >> 4, e5b = (eb * 5) >> 4, e3b = (eb * 3) >> 4;
            car_r = e7r; car_g = e7g; car_b = e7b;
            nxt[x] += e5r; nxt[w + x] += e5g; nxt[2 * w + x] += e5b;
            int xm = x - step;
            if (xm >= 0 && xm < w) {
                nxt[xm] += e3r; nxt[w + xm] += e3g; nxt[2 * w + xm] += e3b;
            }
            int xp = x + step;
            if (xp >= 0 && xp < w) {
                nxt[xp] += er - e7r - e5r - e3r;
                nxt[w + xp] += eg - e7g - e5g - e3g;
                nxt[2 * w + xp] += eb - e7b - e5b - e3b;
            } else {
                car_r = 0; car_g = 0; car_b = 0;
            }
        }
        int32_t *t = cur; cur = nxt; nxt = t;
    }
}
"""

_dither_c = None
_dither_c_tried = False


def _get_dither_c():
    """Compile the C kernel once per process (cached .so under the
    temp dir, atomic rename so concurrent executor workers race
    safely). Returns the ctypes function or None -> Python fallback."""
    global _dither_c, _dither_c_tried
    if _dither_c_tried:
        return _dither_c
    _dither_c_tried = True
    try:
        import ctypes
        import hashlib
        import os
        import subprocess
        import tempfile

        tag = hashlib.sha256(_DITHER_C_SRC.encode()).hexdigest()[:16]
        so = os.path.join(tempfile.gettempdir(), f"gdal_spark_dither_{tag}.so")
        if not os.path.exists(so):
            with tempfile.TemporaryDirectory() as td:
                src = os.path.join(td, "d.c")
                tmp = os.path.join(td, "d.so")
                with open(src, "w") as fh:
                    fh.write(_DITHER_C_SRC)
                subprocess.run(
                    ["cc", "-O2", "-shared", "-fPIC", "-o", tmp, src],
                    check=True, capture_output=True,
                )
                os.replace(tmp, so)
        lib = ctypes.CDLL(so)
        fn = lib.dither_tile_c
        fn.restype = None
        _dither_c = fn
    except Exception:
        _dither_c = None
    return _dither_c


def dither_tile(rgb: np.ndarray, palette: np.ndarray) -> np.ndarray:
    """Serpentine Floyd-Steinberg error diffusion of one (H, W, 3)
    uint8 tile against a (P, 3) palette; returns (H, W) uint8 indices.

    The error carry is serial by nature (GDAL's own loop is serial C,
    alg/gdaldither.cpp:238-330), so the hot path is a tiny C kernel
    compiled on first use (ctypes; ~50x the Python loop) with the
    pure-Python implementation below as the bit-exact fallback when no
    compiler is available — equality is pinned by a test.

    Integer error arithmetic with clamp-before-search, the shape of
    GDALDitherRGB2PCT's scanline loop (alg/gdaldither.cpp:238-330,
    int error accumulators + CLAMP + nearest-color cache). The serial
    in-row carry is irreducible, so the inner loop runs on Python ints
    with a memoized exact nearest-palette lookup (the analog of GDAL's
    color cache) — ~20x faster than per-pixel numpy argmin and exact:
    cache hits return precomputed exact answers, misses do the full
    scan. Error weights are 7/16 right, 3/16, 5/16, 1/16 down, floor
    division, remainder folded into the 1/16 slot so error is
    conserved like GDAL's int pipeline."""
    h, w = rgb.shape[:2]
    fn = _get_dither_c()
    if fn is not None:
        import ctypes

        rgbc = np.ascontiguousarray(rgb, dtype=np.uint8)
        palc = np.ascontiguousarray(palette, dtype=np.int32)
        outc = np.zeros((h, w), dtype=np.uint8)
        cur = np.zeros(3 * w, dtype=np.int32)
        nxt = np.zeros(3 * w, dtype=np.int32)
        fn(
            rgbc.ctypes.data_as(ctypes.c_void_p),
            palc.ctypes.data_as(ctypes.c_void_p),
            ctypes.c_int(len(palc)),
            ctypes.c_int(h), ctypes.c_int(w),
            cur.ctypes.data_as(ctypes.c_void_p),
            nxt.ctypes.data_as(ctypes.c_void_p),
            outc.ctypes.data_as(ctypes.c_void_p),
        )
        return outc
    out = np.zeros((h, w), dtype=np.uint8)
    pal = [(int(r), int(g), int(b)) for r, g, b in palette.astype(np.int64)]
    memo: dict = {}
    cur = [[0] * w for _ in range(3)]  # error arriving from the row above
    for y in range(h):
        serp = y & 1
        step = -1 if serp else 1
        xs = range(w - 1, -1, -1) if serp else range(w)
        nxt = [[0] * w for _ in range(3)]
        rr = rgb[y, :, 0].tolist()
        gg = rgb[y, :, 1].tolist()
        bb = rgb[y, :, 2].tolist()
        cr0, cg0, cb0 = cur
        nr0, ng0, nb0 = nxt
        out_row = out[y]
        car_r = car_g = car_b = 0
        for x in xs:
            r = rr[x] + cr0[x] + car_r
            g = gg[x] + cg0[x] + car_g
            b = bb[x] + cb0[x] + car_b
            rc = 0 if r < 0 else (255 if r > 255 else r)
            gc = 0 if g < 0 else (255 if g > 255 else g)
            bc_ = 0 if b < 0 else (255 if b > 255 else b)
            key = (rc << 16) | (gc << 8) | bc_
            k = memo.get(key)
            if k is None:
                best = 1 << 30
                k = 0
                for i, (pr, pg, pb) in enumerate(pal):
                    d = (rc - pr) ** 2 + (gc - pg) ** 2 + (bc_ - pb) ** 2
                    if d < best:
                        best = d
                        k = i
                memo[key] = k
            out_row[x] = k
            pr, pg, pb = pal[k]
            er, eg, eb = rc - pr, gc - pg, bc_ - pb
            e7r, e5r, e3r = (er * 7) // 16, (er * 5) // 16, (er * 3) // 16
            e7g, e5g, e3g = (eg * 7) // 16, (eg * 5) // 16, (eg * 3) // 16
            e7b, e5b, e3b = (eb * 7) // 16, (eb * 5) // 16, (eb * 3) // 16
            car_r, car_g, car_b = e7r, e7g, e7b
            nr0[x] += e5r
            ng0[x] += e5g
            nb0[x] += e5b
            xm = x - step
            if 0 <= xm < w:
                nr0[xm] += e3r
                ng0[xm] += e3g
                nb0[xm] += e3b
            xp = x + step
            if 0 <= xp < w:
                nr0[xp] += er - e7r - e5r - e3r
                ng0[xp] += eg - e7g - e5g - e3g
                nb0[xp] += eb - e7b - e5b - e3b
            else:
                car_r = car_g = car_b = 0
        cur = nxt
    return out


def dither(tiles: DataFrame, palette: np.ndarray,
           dst_raster_id: str = "paletted") -> DataFrame:
    """RGB tiles -> single-band palette-index tiles via per-tile
    Floyd-Steinberg error diffusion (GDALDitherRGB2PCT,
    alg/gdaldither.cpp) against the broadcast palette."""
    spark = tiles.sparkSession
    bc = spark.sparkContext.broadcast(palette.astype(np.uint8))

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pal = bc.value
        rgb = _assemble_rgb(pdf)[0]
        out = dither_tile(
            np.clip(np.round(rgb), 0, 255).astype(np.uint8), pal
        )
        first = pdf.iloc[0]
        return pd.DataFrame([tile_row(
            dst_raster_id, 1, int(first["zoom"]), int(first["tile_x"]),
            int(first["tile_y"]), out, list(first["geotransform"]),
            nodata=-1.0, crs=str(first["crs"]), dtype="uint8")])

    return tiles.groupBy("tile_x", "tile_y").applyInPandas(run, schema=TILE_SCHEMA)


def expand_rgb(index_tiles: DataFrame, palette: np.ndarray,
               dst_raster_id: str = "expanded") -> DataFrame:
    """Palette-index tiles -> 3-band RGB via broadcast color-table
    lookup (gdal_translate -expand rgb, GDALTranslate color-table
    expansion, apps/gdaltranslate_lib.cpp): pure per-tile numpy
    fancy indexing, one map stage, no shuffle."""
    spark = index_tiles.sparkSession
    bc = spark.sparkContext.broadcast(palette.astype(np.uint8))

    def run(batches):
        for pdf in batches:
            pal = bc.value
            rows = []
            for r in pdf.itertuples(index=False):
                idx = np.frombuffer(r.data, dtype=np.uint8).reshape(
                    r.height, r.width
                )
                rgb = pal[idx]  # (H, W, 3)
                rows += [tile_row(dst_raster_id, b + 1, int(r.zoom),
                                  int(r.tile_x), int(r.tile_y), rgb[:, :, b],
                                  list(r.geotransform), nodata=-1.0,
                                  crs=str(r.crs))
                         for b in range(3)]
            yield pd.DataFrame(rows, columns=TILE_COLUMNS)

    return index_tiles.mapInPandas(run, schema=TILE_SCHEMA)


# ------------------------------------------------------------- hsv_merge
def rgb_to_hsv_np(r: np.ndarray, g: np.ndarray, b: np.ndarray):
    """Vectorized RGB->HSV, h/s in [0,1), v in [0,255] — the exact
    formula sequence of osgeo_utils/samples/hsv_merge.py:48-80
    (rgb_to_hsv), including the choose-order tie rule: when channels
    tie for max, r wins over g wins over b (the reference overwrites
    h in b, g, r order)."""
    maxc = np.maximum(r, np.maximum(g, b))
    minc = np.minimum(r, np.minimum(g, b))
    v = maxc
    span = np.where(maxc == minc, 1.0, maxc - minc)
    s = (maxc - minc) / np.maximum(1.0, maxc)
    rc = (maxc - r) / span
    gc = (maxc - g) / span
    bc = (maxc - b) / span
    h = np.zeros_like(s)
    h = np.where(maxc == b, 4.0 + gc - rc, h)
    h = np.where(maxc == g, 2.0 + rc - bc, h)
    h = np.where(maxc == r, bc - gc, h)
    h = np.mod(h / 6.0, 1.0)
    return h, s, v


def hsv_to_rgb_np(h: np.ndarray, s: np.ndarray, v: np.ndarray):
    """Inverse map (hsv_merge.py:89-110 hsv_to_rgb): sector index
    i = int(h*6), truncating uint8 cast (the reference's astype)."""
    i = (h * 6.0).astype(np.int64)
    f = (h * 6.0) - i
    p = v * (1.0 - s)
    q = v * (1.0 - s * f)
    t = v * (1.0 - s * (1.0 - f))
    r = np.choose(i, [v, q, p, p, t, v])
    g = np.choose(i, [t, v, v, q, p, p])
    b = np.choose(i, [p, p, t, v, v, q])
    return (r.astype(np.uint8), g.astype(np.uint8), b.astype(np.uint8))


def hsv_merge(color_tiles: DataFrame, grey_tiles: DataFrame,
              nodata: float | None = None,
              dst_raster_id: str = "hsv_merge") -> DataFrame:
    """hsv_merge.py (osgeo_utils/samples/hsv_merge.py:159-235): merge a
    greyscale intensity raster (e.g. gdaldem hillshade) into the V
    channel of an RGB(A) color raster (e.g. gdaldem color-relief).
    `nodata`: greyscale pixels equal to it keep the color raster's own
    V (hsv_merge.py:210-214); None means the greyscale V is used
    everywhere, as in the reference when the band carries no nodata.
    Band 4 (alpha), when present, passes through untouched.

    Distributed shape: the reference streams scanlines through one
    process; here the two tile tables join 1:1 on tile identity
    (zoom, tile_x, tile_y) — both rasters must share the grid, the
    same precondition the reference enforces by XSize/YSize equality —
    and the per-tile kernel is one numpy batch. One hash exchange to
    co-locate the bands of a tile; no halo (the transform is
    pixel-local)."""
    key = ["zoom", "tile_x", "tile_y"]
    grey = grey_tiles.select(
        *key,
        F.col("data").alias("_gdata"), F.col("dtype").alias("_gdtype"),
    )
    j = color_tiles.join(grey, key, "inner")

    def run(_key, pdf: pd.DataFrame) -> pd.DataFrame:
        first = pdf.iloc[0]
        hh, ww = int(first["height"]), int(first["width"])
        bands = {}
        by_band = {}
        for i in range(len(pdf)):
            row = pdf.iloc[i]
            bands[int(row["band"])] = _decode(
                row["data"], row["dtype"], hh, ww
            ).astype(np.float64)
            by_band[int(row["band"])] = row
        grey_arr = _decode(first["_gdata"], first["_gdtype"], hh, ww
                           ).astype(np.float64)
        h, s, v = rgb_to_hsv_np(bands[1], bands[2], bands[3])
        if nodata is not None:
            vv = np.where(grey_arr == float(nodata), v, grey_arr)
        else:
            vv = grey_arr
        out = hsv_to_rgb_np(h, s, vv)
        rows = []
        for b in (1, 2, 3):
            d = by_band[b].to_dict()
            d.update(raster_id=dst_raster_id, dtype="uint8",
                     data=out[b - 1].tobytes())
            rows.append(d)
        if 4 in by_band:  # alpha passthrough (hsv_merge.py:228-233)
            d = by_band[4].to_dict()
            d.update(raster_id=dst_raster_id)
            rows.append(d)
        pout = pd.DataFrame(rows)
        return pout[TILE_COLUMNS]

    return j.groupBy(*key).applyInPandas(run, schema=TILE_SCHEMA)
