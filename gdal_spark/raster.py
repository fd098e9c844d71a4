"""Raster analytics operators over the tile table.

  band_stats   min/max/mean/stddev (GDALRasterBand::ComputeStatistics,
               gcore/gdalrasterband.cpp:4894) as the classic partial+
               final aggregate: per-tile (count, sum, sumsq, min, max)
               in one Arrow UDF, then a tiny groupBy — the map-side
               combine GDAL does per scanline, distributed
  histogram    bucketed counts (GetHistogram, gcore/gdalrasterband.cpp:
               2927) — np.histogram per tile, vector-sum across tiles
  locate       pixel value at world coords (gdallocationinfo,
               apps/gdallocationinfo.cpp:92): inverse geotransform ->
               tile id (pure columns) -> broadcast-join points to tiles
               -> array index in one UDF
  pixel_calc   band algebra on tiles (gdal_calc / VRT pixel functions,
               osgeo_utils/gdal_calc.py:35-50, frmts/vrt/
               vrtderivedrasterband.cpp:1205): named numpy expression
               applied per tile, map-only. pixel_calc_multi /
               pixel_calc_complex cover the full registered suite
               (pixelfunctions.cpp:920-937): N-source sum/diff/mul/
               cmul and the complex branches over band-pair tiles
  hillshade / slope
               3x3 focal DEM ops (apps/gdaldem_lib.cpp:901-1035 Horn
               hillshade, :1325 slope) with HALO EXCHANGE: every tile
               joins its 8 neighbors' edge blocks (`halo`, keyed by the
               whole tile address), then the kernel runs on the padded
               window (`halo_window`) — the distributed form of GDAL's
               scanline window. Contour, polygonize_wkt, fill_nodata
               and SURF detection read their windows the same way.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .synth import TILE_COLUMNS, TILE_SCHEMA, tile_row
from .tiling import _decode, _gdal_cast, full_tile_px, gather, paste

# ------------------------------------------------------------------ stats
_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("raster_id", T.StringType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("s", T.DoubleType()),
        T.StructField("ss", T.DoubleType()),
        T.StructField("mn", T.DoubleType()),
        T.StructField("mx", T.DoubleType()),
    ]
)


def band_stats(tiles: DataFrame, exclude_nodata: bool = True) -> DataFrame:
    """(raster_id, band, count, min, max, mean, stddev). Population
    stddev, matching GDAL's ComputeStatistics."""

    def partial(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = _decode(r.data, r.dtype, r.height, r.width).astype(np.float64)
                if exclude_nodata:
                    arr = arr[arr != r.nodata]
                if arr.size == 0:
                    continue
                rows.append(
                    {
                        "raster_id": r.raster_id, "band": r.band,
                        "cnt": int(arr.size), "s": float(arr.sum()),
                        "ss": float((arr * arr).sum()),
                        "mn": float(arr.min()), "mx": float(arr.max()),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in _PARTIAL_SCHEMA.fields])

    p = tiles.mapInPandas(partial, schema=_PARTIAL_SCHEMA)
    agg = p.groupBy("raster_id", "band").agg(
        F.sum("cnt").alias("count"),
        F.min("mn").alias("min"),
        F.max("mx").alias("max"),
        (F.sum("s") / F.sum("cnt")).alias("mean"),
        F.sqrt(
            F.sum("ss") / F.sum("cnt") - F.pow(F.sum("s") / F.sum("cnt"), 2)
        ).alias("stddev"),
    )
    return agg


HIST_SCHEMA = T.StructType(
    [
        T.StructField("raster_id", T.StringType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("counts", T.ArrayType(T.LongType())),
    ]
)


def histogram(tiles: DataFrame, vmin: float, vmax: float, buckets: int = 256,
              include_out_of_range: bool = False) -> DataFrame:
    """GetHistogram semantics: `buckets` equal bins over [vmin, vmax);
    per-tile np.histogram partials, element-wise vector sum to finish."""

    def partial(batches):
        edges = np.linspace(vmin, vmax, buckets + 1)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = _decode(r.data, r.dtype, r.height, r.width).astype(np.float64).ravel()
                h, _ = np.histogram(arr, bins=edges)
                if include_out_of_range:
                    h[0] += int((arr < vmin).sum())
                    h[-1] += int((arr >= vmax).sum())
                rows.append(
                    {"raster_id": r.raster_id, "band": r.band,
                     "counts": h.astype(np.int64).tolist()}
                )
            yield pd.DataFrame(rows, columns=[f.name for f in HIST_SCHEMA.fields])

    # explode -> partial-aggregated sum per bucket -> reassemble: the
    # shuffled state is (group, bucket, partial_sum), never a
    # collect_list of one array per tile (unbounded at billions of
    # tiles); the final collect_list holds exactly `buckets` elements
    p = tiles.mapInPandas(partial, schema=HIST_SCHEMA)
    per_bucket = (
        p.select("raster_id", "band", F.posexplode("counts").alias("pos", "cnt"))
        .groupBy("raster_id", "band", "pos")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return per_bucket.groupBy("raster_id", "band").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cnt"))),
            lambda s: s["cnt"],
        ).alias("counts")
    )


# ------------------------------------------------------------------ locate
def locate(tiles: DataFrame, points: DataFrame, zoom_origin: tuple[float, float],
           res: float, x_col: str = "x", y_col: str = "y",
           id_col: str = "q_id") -> DataFrame:
    """Raster value at world coords (gdallocationinfo): inverse affine
    to global pixel -> tile id in pure columns -> broadcast join points
    onto tiles -> per-tile vectorized pixel gather."""
    x0, y0 = zoom_origin
    gpx = F.floor((F.col(x_col) - x0) / res).cast("long")
    gpy = F.floor((F.lit(y0) - F.col(y_col)) / res).cast("long")
    pts = points.withColumn("_tx", F.floor(gpx / 256).cast("int")) \
                .withColumn("_ty", F.floor(gpy / 256).cast("int")) \
                .withColumn("_lx", (gpx % 256).cast("int")) \
                .withColumn("_ly", (gpy % 256).cast("int"))
    j = tiles.join(
        F.broadcast(pts),
        (tiles.tile_x == pts._tx) & (tiles.tile_y == pts._ty),
        "inner",
    )

    @F.pandas_udf(T.DoubleType())
    def pick(data: pd.Series, dtype: pd.Series, h: pd.Series, w: pd.Series,
             lx: pd.Series, ly: pd.Series) -> pd.Series:
        out = np.empty(len(data))
        for i in range(len(data)):
            arr = _decode(data.iloc[i], dtype.iloc[i], int(h.iloc[i]), int(w.iloc[i]))
            out[i] = float(arr[int(ly.iloc[i]), int(lx.iloc[i])])
        return pd.Series(out)

    return j.select(
        F.col(id_col),
        F.col(x_col),
        F.col(y_col),
        pick("data", "dtype", "height", "width", "_lx", "_ly").alias("value"),
    )


# --------------------------------------------------------------- pixel calc
_PIXEL_FUNCS = {
    # gdal_calc-style named expressions (pixelfunctions.cpp:918-938 has
    # the C analogs); each maps ndarray -> ndarray
    "sqrt": np.sqrt,
    "log10": lambda a: np.log10(np.maximum(a, 1e-30)),
    "inv": lambda a: 1.0 / np.maximum(a, 1e-30),
    "square": lambda a: a * a,
    "negate": lambda a: -a,
    "abs": np.abs,
    # VRT derived-band suite, real-input branch (frmts/vrt/
    # pixelfunctions.cpp:920-937 GDALRegisterDefaultPixelFunc; each C
    # func's "not complex" path): real/conj are the identity, imag is
    # zero, mod is fabs (ModulePixelFunc), phase is pi for negatives
    # else 0 (PhasePixelFunc), intensity squares (IntensityPixelFunc),
    # dB = 20*log10(abs x) (DBPixelFunc), dB2amp = 10^(x/20), dB2pow =
    # 10^(x/10). Logs carry the same 1e-30 epsilon guard as "log10"
    # above (documented deviation: GDAL emits -inf at 0).
    "real": lambda a: a,
    "imag": np.zeros_like,
    "conj": lambda a: a,
    "mod": np.abs,
    "phase": lambda a: np.where(a < 0, np.pi, 0.0),
    "intensity": lambda a: a * a,
    "dB": lambda a: 20.0 * np.log10(np.maximum(np.abs(a), 1e-30)),
    "dB2amp": lambda a: np.power(10.0, a / 20.0),
    "dB2pow": lambda a: np.power(10.0, a / 10.0),
}

# N-source real-branch pixel functions (pixelfunctions.cpp SumPixelFunc
# / DiffPixelFunc / MulPixelFunc / CMulPixelFunc "not complex" paths).
# Each maps a stacked (nbands, H, W) array -> (H, W); cmul's real branch
# is a plain product because conj is the identity on reals.
_MULTI_FUNCS = {
    "sum": lambda b: np.sum(b, axis=0),
    "diff": lambda b: b[0] - b[1],
    "mul": lambda b: np.prod(b, axis=0),
    "cmul": lambda b: b[0] * b[1],
}

# Complex pixel functions over the band-pair representation (the tile
# model has no complex dtype, so a complex raster is stored as band
# pairs: bands (1,2) = (re,im) of source 1, bands (3,4) = source 2).
# Semantics follow the complex branches of pixelfunctions.cpp: mod =
# sqrt(re^2+im^2), phase = atan2(im, re), intensity = re^2+im^2, conj
# negates im, inv divides the conjugate by the squared modulus, mul /
# cmul are the complex product / product-with-conjugate, "complex"
# packs two real bands into a pair (ComplexPixelFunc). Values are
# (n_out_bands, fn(sources)) where sources is a list of (re, im).
_COMPLEX_FUNCS = {
    "real": (1, lambda s: [s[0][0]]),
    "imag": (1, lambda s: [s[0][1]]),
    "mod": (1, lambda s: [np.hypot(s[0][0], s[0][1])]),
    "phase": (1, lambda s: [np.arctan2(s[0][1], s[0][0])]),
    "intensity": (1, lambda s: [s[0][0] * s[0][0] + s[0][1] * s[0][1]]),
    "conj": (2, lambda s: [s[0][0], -s[0][1]]),
    "inv": (2, lambda s: (
        lambda m2: [s[0][0] / m2, -s[0][1] / m2]
    )(np.maximum(s[0][0] * s[0][0] + s[0][1] * s[0][1], 1e-30))),
    "sum": (2, lambda s: [sum(p[0] for p in s), sum(p[1] for p in s)]),
    "diff": (2, lambda s: [s[0][0] - s[1][0], s[0][1] - s[1][1]]),
    "mul": (2, lambda s: [
        s[0][0] * s[1][0] - s[0][1] * s[1][1],
        s[0][0] * s[1][1] + s[0][1] * s[1][0],
    ]),
    "cmul": (2, lambda s: [
        s[0][0] * s[1][0] + s[0][1] * s[1][1],
        s[0][1] * s[1][0] - s[0][0] * s[1][1],
    ]),
    "complex": (2, lambda s: [s[0][0], s[0][1]]),
}

_TILE_KEY = ["raster_id", "zoom", "tile_x", "tile_y"]


def _grouped_band_calc(tiles: DataFrame, fn, out_dtype: str,
                       raster_id: str | None) -> DataFrame:
    """Shared shell for multi-band pixel funcs: group a tile table by
    tile coordinate, stack its bands ascending, emit fn's output bands.
    One narrow shuffle on the tile key — the distributed equivalent of
    VRTDerivedRasterBand reading its sources for one block
    (frmts/vrt/vrtderivedrasterband.cpp:1205 IRasterIO)."""

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("band")
        first = pdf.iloc[0]
        arrs = [
            _decode(r.data, r.dtype, r.height, r.width).astype(np.float64)
            for r in pdf.itertuples(index=False)
        ]
        outs = fn(arrs)
        rows = []
        for i, out in enumerate(outs):
            d = first.to_dict()
            d["band"] = i + 1
            d["dtype"] = out_dtype
            d["data"] = _gdal_cast(out, out_dtype).tobytes()
            if raster_id:
                d["raster_id"] = raster_id
            rows.append(d)
        return pd.DataFrame(rows)[TILE_COLUMNS]

    return tiles.groupBy(*_TILE_KEY).applyInPandas(run, schema=TILE_SCHEMA)


def pixel_calc_multi(tiles: DataFrame, func: str, out_dtype: str = "float64",
                     raster_id: str | None = None) -> DataFrame:
    """N-source pixel function (sum/diff/mul/cmul real branch): the
    bands of each tile coordinate are the sources, ascending band id.
    diff/cmul require exactly 2 bands."""
    f = _MULTI_FUNCS[func]
    if func in ("diff", "cmul"):
        def fn(arrs):
            if len(arrs) != 2:
                raise ValueError(f"{func} needs exactly 2 bands, got {len(arrs)}")
            return [f(np.stack(arrs))]
    else:
        def fn(arrs):
            return [f(np.stack(arrs))]
    return _grouped_band_calc(tiles, fn, out_dtype, raster_id)


def pixel_calc_complex(tiles: DataFrame, func: str,
                       out_dtype: str = "float64",
                       raster_id: str | None = None) -> DataFrame:
    """Complex pixel function over band-pair tiles: bands (1,2) are
    (re,im) of source 1, (3,4) source 2. Single-band output funcs
    (real/imag/mod/phase/intensity) emit band 1; pair-output funcs
    (conj/inv/sum/diff/mul/cmul/complex) emit bands (1,2). "complex"
    instead reads two REAL source bands (1,2) and packs them into a
    pair (ComplexPixelFunc semantics)."""
    _nout, f = _COMPLEX_FUNCS[func]

    def fn(arrs):
        if func == "complex":
            if len(arrs) != 2:
                raise ValueError("complex needs exactly 2 real bands")
            sources = [(arrs[0], arrs[1])]
        else:
            if len(arrs) % 2 != 0:
                raise ValueError(f"{func} needs band pairs, got {len(arrs)}")
            sources = [(arrs[i], arrs[i + 1]) for i in range(0, len(arrs), 2)]
            if func in ("diff", "mul", "cmul") and len(sources) != 2:
                raise ValueError(f"{func} needs exactly 2 complex sources")
        return f(sources)

    return _grouped_band_calc(tiles, fn, out_dtype, raster_id)


def pixel_calc(tiles: DataFrame, func: str, out_dtype: str = "float64",
               raster_id: str | None = None) -> DataFrame:
    """Apply a named numpy pixel function per tile (map-only)."""
    f = _PIXEL_FUNCS[func]

    def run(batches):
        for pdf in batches:
            pdf = pdf.copy()
            new = []
            for r in pdf.itertuples(index=False):
                arr = _decode(r.data, r.dtype, r.height, r.width).astype(np.float64)
                new.append(_gdal_cast(f(arr), out_dtype).tobytes())
            pdf["data"] = new
            pdf["dtype"] = out_dtype
            if raster_id:
                pdf["raster_id"] = raster_id
            yield pdf

    return tiles.mapInPandas(run, schema=TILE_SCHEMA)


# --------------------------------------------------------------- rasterize
def _edge_interior_cells(px0, py0, px1, py1, n):
    """Grid cells (gx, gy) whose INTERIOR the segment crosses, exact
    DDA: split at every grid-line crossing, classify sub-segment
    midpoints. A segment lying exactly on a grid line yields nothing."""
    eps = 1e-9
    if abs(px0 - px1) < eps and abs(px0 - round(px0)) < eps:
        return []
    if abs(py0 - py1) < eps and abs(py0 - round(py0)) < eps:
        return []
    ts = {0.0, 1.0}
    dx, dy = px1 - px0, py1 - py0
    if abs(dx) > eps:
        for g in range(int(np.ceil(min(px0, px1))), int(np.floor(max(px0, px1))) + 1):
            ts.add((g - px0) / dx)
    if abs(dy) > eps:
        for g in range(int(np.ceil(min(py0, py1))), int(np.floor(max(py0, py1))) + 1):
            ts.add((g - py0) / dy)
    out = []
    tl = sorted(t for t in ts if 0.0 <= t <= 1.0)
    for t0, t1 in zip(tl[:-1], tl[1:]):
        tm = (t0 + t1) / 2.0
        mx = px0 + tm * dx
        my = py0 + tm * dy
        cx, cy = int(np.floor(mx)), int(np.floor(my))
        if 0 <= cx < n and 0 <= cy < n:
            # midpoint on a grid line (axis-aligned boundary run) -> no interior
            if abs(mx - round(mx)) < eps or abs(my - round(my)) < eps:
                continue
            out.append((cx, cy))
    return out


def _burn_all_touched(arr, cov, tile_x0w, tile_ytopw, rx, ry, n):
    """Edge pass of ALL_TOUCHED: burn (lowest zone_id wins) every cell
    whose interior a zone ring edge crosses."""
    tile_x1w = tile_x0w + n * rx
    tile_y1w = tile_ytopw - n * ry
    cand = np.where(
        (cov.zxmin < tile_x1w) & (cov.zxmax > tile_x0w)
        & (cov.zymin < tile_ytopw) & (cov.zymax > tile_y1w)
    )[0]
    for z in cand:
        L = int(cov.ring_len[z])
        o = int(cov.ring_off[z])
        vx = cov.ring_x[o : o + L]
        vy = cov.ring_y[o : o + L]
        zid = int(cov.zone_id[z])
        for k in range(L):
            px0 = (vx[k] - tile_x0w) / rx
            py0 = (tile_ytopw - vy[k]) / ry
            px1 = (vx[(k + 1) % L] - tile_x0w) / rx
            py1 = (tile_ytopw - vy[(k + 1) % L]) / ry
            for cx, cy in _edge_interior_cells(px0, py0, px1, py1, n):
                cur = arr[cy, cx]
                if cur == -1 or zid < cur:
                    arr[cy, cx] = zid


def rasterize_zones(
    spark,
    zindex,
    ntx: int,
    nty: int,
    tile_px: int = 128,
    x0: float = -180.0,
    y_top: float = 85.0,
    res_x: float | None = None,
    res_y: float | None = None,
    extent_x: float = 360.0,
    extent_y: float = 170.0,
    raster_id: str = "zones_burn",
    all_touched: bool = False,
    merge_alg: str = "replace",
    invert: bool = False,
    invert_burn: int = 1,
) -> DataFrame:
    """Vector -> raster burn (gdal_rasterize, alg/gdalrasterize.cpp;
    app apps/gdal_rasterize_lib.cpp:598). GDAL default semantics: a
    pixel is burned when its CENTER is inside a polygon (ALL_TOUCHED
    off, gdalrasterize.cpp:573-613); burn value = zone_id with
    MERGE_ALG=REPLACE resolved deterministically to the lowest zone_id.

    all_touched=True (gdalrasterize.cpp ALL_TOUCHED): additionally
    burns every pixel whose cell INTERIOR a zone edge passes through
    (exact grid DDA per edge; segments lying exactly on a grid line
    touch no interior) — together with the center pass this equals
    strict rectangle/convex overlap.

    merge_alg='add' (MERGE_ALG=ADD, :605): the burn values of ALL
    matching zones sum instead of first-match-replace.

    invert=True (gdal_rasterize -i, apps/gdal_rasterize_lib.cpp
    bInverse): burn `invert_burn` into every pixel NOT covered by any
    zone; covered pixels become nodata.

    Spark shape: the tile list is a spark.range map stage; each task
    computes its pixel-center grid and runs the SAME broadcast-cover
    kernels as the PIP join over all centers at once — rasterize IS a
    dense PIP join. The all_touched edge pass walks the (tiny) set of
    zone edges overlapping the tile. No shuffle.
    Output: int32 tiles, nodata -1 (outside every zone / hole zones).
    """
    from .cells import np_geo_cell
    from .index import eval_pairs_packed, first_match_packed

    if merge_alg not in ("replace", "add"):
        raise ValueError(merge_alg)
    rx = res_x if res_x is not None else extent_x / (ntx * tile_px)
    ry = res_y if res_y is not None else extent_y / (nty * tile_px)
    bc, level = zindex.bc, zindex.level
    base = spark.range(0, ntx * nty, 1, max(4, min(64, ntx * nty))).select(
        (F.col("id") % ntx).cast("int").alias("tile_x"),
        (F.col("id") / ntx).cast("int").alias("tile_y"),
    )

    def burn(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                tx, ty = int(r.tile_x), int(r.tile_y)
                gx = tx * tile_px + np.arange(tile_px)
                gy = ty * tile_px + np.arange(tile_px)
                lon = x0 + (gx + 0.5) * rx
                lat = y_top - (gy + 0.5) * ry
                LON, LAT = np.meshgrid(lon, lat)  # row-major, north-up
                flat_lon = LON.ravel()
                flat_lat = LAT.ravel()
                cov = bc.value
                cell = np_geo_cell(flat_lon, flat_lat, level)
                if merge_alg == "add":
                    pix, zpos = eval_pairs_packed(cov, cell, flat_lon, flat_lat)
                    acc = np.zeros(len(flat_lon), dtype=np.int64)
                    hits = np.zeros(len(flat_lon), dtype=np.int64)
                    if len(pix):
                        np.add.at(acc, pix, cov.zone_id[zpos])
                        np.add.at(hits, pix, 1)
                    zone = np.where(hits > 0, acc, -1)
                else:
                    zone, _ = first_match_packed(cov, cell, flat_lon, flat_lat)
                arr = zone.astype(np.int32).reshape(tile_px, tile_px)
                if all_touched:
                    _burn_all_touched(
                        arr, cov, x0 + tx * tile_px * rx,
                        y_top - ty * tile_px * ry, rx, ry, tile_px,
                    )
                if invert:
                    arr = np.where(
                        arr == -1, np.int32(invert_burn), np.int32(-1)
                    ).astype(np.int32)
                rows.append(tile_row(
                    raster_id, 1, 0, tx, ty, arr, (x0, rx, 0.0, y_top, 0.0, -ry),
                    x0=tx * tile_px, y0=ty * tile_px, nodata=-1.0,
                    crs="EPSG:4326"))
            yield pd.DataFrame(rows, columns=TILE_COLUMNS)

    return base.mapInPandas(burn, schema=TILE_SCHEMA)


def rasterize_points_z(
    points: DataFrame,
    ntx: int,
    nty: int,
    tile_px: int = 128,
    x0: float = -180.0,
    y_top: float = 85.0,
    extent_x: float = 360.0,
    extent_y: float = 170.0,
    burn: float = 0.0,
    z_col: str = "z",
    id_col: str = "doc_id",
    merge_alg: str = "add",
) -> DataFrame:
    """BURN_VALUE_FROM=Z point burn (alg/gdalrasterize.cpp:687-690 —
    "May be set to Z to use the Z values of the geometries. dfBurnValue
    is added to this before burning"; gvBurnPointBasic:163 applies
    burn + dfVariant per pixel, summing under MERGE_ALG=ADD).

    Returns per-pixel rows (gx, gy, value) — fully distributed: the
    pixel id is pure column math, the merge is a groupBy on the pixel
    key (ADD = SUM; REPLACE = the last feature in FID order wins, the
    deterministic restatement of GDAL's sequential overwrite). Scales
    to any number of points; no driver collect, no broadcast."""
    if merge_alg not in ("add", "replace"):
        raise ValueError(merge_alg)
    rx = extent_x / (ntx * tile_px)
    ry = extent_y / (nty * tile_px)
    gx = F.floor((F.col("lon") - x0) / rx).cast("int")
    gy = F.floor((F.lit(y_top) - F.col("lat")) / ry).cast("int")
    d = points.select(
        gx.alias("gx"), gy.alias("gy"),
        (F.lit(burn) + F.col(z_col).cast("double")).alias("_v"),
        F.col(id_col).alias("_fid"),
    ).filter(
        (F.col("gx") >= 0) & (F.col("gx") < ntx * tile_px)
        & (F.col("gy") >= 0) & (F.col("gy") < nty * tile_px)
    )
    if merge_alg == "add":
        return d.groupBy("gx", "gy").agg(F.sum("_v").alias("value"))
    return d.groupBy("gx", "gy").agg(
        F.expr("max_by(_v, _fid)").alias("value")
    )


def rasterize_lines_z(
    lines: DataFrame,
    ntx: int,
    nty: int,
    tile_px: int = 128,
    x0: float = -180.0,
    y_top: float = 85.0,
    extent_x: float = 360.0,
    extent_y: float = 170.0,
    burn: float = 0.0,
) -> DataFrame:
    """BURN_VALUE_FROM=Z line burn with MERGE_ALG=ADD
    (alg/gdalrasterize.cpp:687-690; the reference interpolates
    dfVariant along the segment, alg/llrasterize.cpp): each segment
    (lon0 lat0 z0) -> (lon1 lat1 z1) burns burn + z(t) into every
    pixel whose interior it crosses, z evaluated at the midpoint of
    the segment's parameter interval inside the pixel (the engine's
    published grid-crossing DDA convention, same traversal as the
    all_touched edge pass).

    Per-row work is O(pixels crossed); rows explode to (gx, gy, v) and
    merge through one groupBy-sum — fully distributed, no broadcast."""
    rx = extent_x / (ntx * tile_px)
    ry = extent_y / (nty * tile_px)
    W, H = ntx * tile_px, nty * tile_px

    OUT = T.ArrayType(
        T.StructType(
            [
                T.StructField("gx", T.IntegerType()),
                T.StructField("gy", T.IntegerType()),
                T.StructField("v", T.DoubleType()),
            ]
        )
    )

    @F.pandas_udf(OUT)
    def burn_px(lon0: pd.Series, lat0: pd.Series, z0: pd.Series,
                lon1: pd.Series, lat1: pd.Series, z1: pd.Series) -> pd.Series:
        out = []
        for a_lon, a_lat, az, b_lon, b_lat, bz in zip(
            lon0, lat0, z0, lon1, lat1, z1
        ):
            px0 = (a_lon - x0) / rx
            py0 = (y_top - a_lat) / ry
            px1 = (b_lon - x0) / rx
            py1 = (y_top - b_lat) / ry
            dx, dy = px1 - px0, py1 - py0
            ts = [0.0, 1.0]
            if dx != 0.0:
                lo, hi = sorted((px0, px1))
                for gx_ in range(int(np.ceil(lo)), int(np.floor(hi)) + 1):
                    ts.append((gx_ - px0) / dx)
            if dy != 0.0:
                lo, hi = sorted((py0, py1))
                for gy_ in range(int(np.ceil(lo)), int(np.floor(hi)) + 1):
                    ts.append((gy_ - py0) / dy)
            ts = sorted({t for t in ts if 0.0 <= t <= 1.0})
            hits = []
            for ta, tb in zip(ts[:-1], ts[1:]):
                if tb - ta <= 1e-12:
                    continue
                tm = (ta + tb) / 2.0
                cx = int(np.floor(px0 + tm * dx))
                cy = int(np.floor(py0 + tm * dy))
                if 0 <= cx < W and 0 <= cy < H:
                    hits.append(
                        {"gx": cx, "gy": cy,
                         "v": burn + az + tm * (bz - az)}
                    )
            out.append(hits)
        return pd.Series(out)

    ex = lines.withColumn(
        "_p",
        F.explode(
            burn_px(
                F.col("lon0"), F.col("lat0"), F.col("z0"),
                F.col("lon1"), F.col("lat1"), F.col("z1"),
            )
        ),
    )
    return ex.groupBy(
        F.col("_p.gx").alias("gx"), F.col("_p.gy").alias("gy")
    ).agg(F.sum("_p.v").alias("value"))


def mask_band(tiles: DataFrame, dst_band_offset: int = 200) -> DataFrame:
    """GDALRasterBand::GetMaskBand with GMF_NODATA semantics
    (gcore/gdalrasterband.cpp:5905; the nodata comparison kernel is
    gcore/gdalnodatamaskband.cpp IReadBlock:160): uint8 255 where the
    pixel differs from the band's nodata value, 0 where it equals it;
    a band with no nodata is GMF_ALL_VALID (all 255). Map-only."""

    def run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = _decode(r.data, r.dtype, r.height, r.width)
                if r.nodata is None or (isinstance(r.nodata, float)
                                        and np.isnan(r.nodata)):
                    m = np.full(arr.shape, 255, np.uint8)
                else:
                    m = np.where(
                        arr.astype(np.float64) == float(r.nodata), 0, 255
                    ).astype(np.uint8)
                rows.append(tile_row(
                    r.raster_id, int(r.band) + dst_band_offset, r.zoom,
                    r.tile_x, r.tile_y, m, r.geotransform,
                    nodata=r.nodata, crs=r.crs))
            yield pd.DataFrame(rows, columns=TILE_COLUMNS)

    return tiles.mapInPandas(run, schema=TILE_SCHEMA)


def value_counts(tiles: DataFrame) -> DataFrame:
    """(tile_x, tile_y, value, npix) histogram of burned values per tile
    — per-tile np.unique partial; no cross-tile shuffle needed beyond
    the tiny result."""
    VC_SCHEMA = T.StructType(
        [
            T.StructField("tile_x", T.IntegerType()),
            T.StructField("tile_y", T.IntegerType()),
            T.StructField("value", T.LongType()),
            T.StructField("npix", T.LongType()),
        ]
    )

    def part(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = _decode(r.data, r.dtype, r.height, r.width)
                vals, cnts = np.unique(arr, return_counts=True)
                for v, c in zip(vals, cnts):
                    rows.append(
                        {"tile_x": int(r.tile_x), "tile_y": int(r.tile_y),
                         "value": int(v), "npix": int(c)}
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in VC_SCHEMA.fields])

    return tiles.mapInPandas(part, schema=VC_SCHEMA)


# ------------------------------------------------------------- focal (halo)
# the whole tile address: every exchange between tiles is keyed by it
_TILE_ADDRESS = ["raster_id", "band", "zoom", "tile_x", "tile_y"]
_KEY_FIELDS = [TILE_SCHEMA[c] for c in _TILE_ADDRESS]
_BLOCK_SCHEMA = T.StructType(
    _KEY_FIELDS
    + [
        T.StructField("dx", T.IntegerType()),
        T.StructField("dy", T.IntegerType()),
        T.StructField("bh", T.IntegerType()),
        T.StructField("bw", T.IntegerType()),
        T.StructField("block", T.BinaryType()),
    ]
)


def halo(tiles: DataFrame, h: int) -> DataFrame:
    """The halo exchange: every tile sends its h-px edge and corner
    blocks to its 8 neighbours, addressed by the whole tile key
    (raster_id, band, zoom, tile_x, tile_y), so rasters and bands never
    mix. The blocks are collected per key and left-joined back onto the
    tiles as `halo`, a list of (dx, dy, bh, bw, block): the side of the
    receiving tile the float64 block lies on, and its shape. A tile
    ships ~4h/tile_px of its pixels — the exchange shuffles edges, not
    tiles. `halo_window` turns one joined row into its window."""

    def emit(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = _decode(r.data, r.dtype, r.height, r.width).astype(np.float64)
                for dx in (-1, 0, 1):
                    for dy in (-1, 0, 1):
                        if dx == 0 and dy == 0:
                            continue
                        # the piece of THIS tile next to neighbour (dx, dy)
                        sx = slice(0, h) if dx < 0 else (slice(-h, None) if dx > 0 else slice(None))
                        sy = slice(0, h) if dy < 0 else (slice(-h, None) if dy > 0 else slice(None))
                        piece = arr[sy, sx]
                        rows.append((r.raster_id, int(r.band), int(r.zoom),
                                     int(r.tile_x) + dx, int(r.tile_y) + dy,
                                     -dx, -dy, *piece.shape, piece.tobytes()))
            yield pd.DataFrame(rows, columns=_BLOCK_SCHEMA.fieldNames())

    blocks = tiles.mapInPandas(emit, schema=_BLOCK_SCHEMA)
    gathered = blocks.groupBy(*_TILE_ADDRESS).agg(
        F.collect_list(F.struct("dx", "dy", "bh", "bw", "block")).alias("halo")
    )
    return tiles.join(gathered, _TILE_ADDRESS, "left")


def halo_window(r, h: int, fill) -> np.ndarray:
    """The (H+2h, W+2h) float64 window of one `halo` row: the tile in
    the centre, each neighbour's block against the side it came from,
    and `fill` where no neighbour sent one (past the raster's edge).
    fill="edge" is GDAL's edge rule for the 3x3 DEM ops: the tile's
    border repeats outward (np.pad mode="edge"), and a missing corner
    whose straight neighbour is present repeats that neighbour's end
    pixels — the edge-padded global mosaic."""
    arr = _decode(r.data, r.dtype, r.height, r.width).astype(np.float64)
    H, W = arr.shape
    if fill == "edge":
        win = np.pad(arr, h, mode="edge")
    else:
        win = np.full((H + 2 * h, W + 2 * h), fill)
        win[h : h + H, h : h + W] = arr
    sent = set()
    for b in (r.halo if r.halo is not None else ()):
        dx, dy, bh, bw = int(b["dx"]), int(b["dy"]), int(b["bh"]), int(b["bw"])
        ys = slice(h - bh, h) if dy < 0 else (slice(h + H, h + H + bh) if dy > 0 else slice(h, h + H))
        xs = slice(h - bw, h) if dx < 0 else (slice(h + W, h + W + bw) if dx > 0 else slice(h, h + W))
        win[ys, xs] = np.frombuffer(b["block"], dtype=np.float64).reshape(bh, bw)
        sent.add((dx, dy))
    if fill == "edge":
        for dx, dy in ((-1, -1), (1, -1), (-1, 1), (1, 1)):
            if (dx, dy) in sent:
                continue
            ys = slice(0, h) if dy < 0 else slice(h + H, None)
            xs = slice(0, h) if dx < 0 else slice(h + W, None)
            if (0, dy) in sent:
                win[ys, xs] = win[ys, h if dx < 0 else h + W - 1][:, None]
            elif (dx, 0) in sent:
                win[ys, xs] = win[h if dy < 0 else h + H - 1, xs][None, :]
    return win


def _focal(tiles: DataFrame, kernel_fn, out_dtype: str, dst_raster_id: str,
           res: float) -> DataFrame:
    def run(batches):
        for pdf in batches:
            out_rows = []
            for r in pdf.itertuples(index=False):
                out = kernel_fn(halo_window(r, 1, "edge"), res)
                out_rows.append(tile_row(
                    dst_raster_id, int(r.band), int(r.zoom), int(r.tile_x),
                    int(r.tile_y), _gdal_cast(out, out_dtype),
                    list(r.geotransform), nodata=float(r.nodata), crs=r.crs,
                    dtype=out_dtype))
            yield pd.DataFrame(out_rows, columns=TILE_COLUMNS)

    return halo(tiles, 1).mapInPandas(run, schema=TILE_SCHEMA)


def _horn_gradients(pad: np.ndarray, res: float):
    """Horn 3x3 gradients (apps/gdaldem_lib.cpp:901-957)."""
    c = pad[1:-1, 1:-1]  # noqa: F841 (center, for clarity)
    nw, n, ne = pad[:-2, :-2], pad[:-2, 1:-1], pad[:-2, 2:]
    w_, e = pad[1:-1, :-2], pad[1:-1, 2:]
    sw, s, se = pad[2:, :-2], pad[2:, 1:-1], pad[2:, 2:]
    dzdx = ((ne + 2 * e + se) - (nw + 2 * w_ + sw)) / (8.0 * res)
    dzdy = ((sw + 2 * s + se) - (nw + 2 * n + ne)) / (8.0 * res)
    return dzdx, dzdy


def _zt_gradients(pad: np.ndarray, res: float):
    """Zevenbergen-Thorne gradients (gdaldem -alg ZevenbergenThorne,
    apps/gdaldem_lib.cpp GradientAlg::ZEVENBERGEN_THORNE): central
    differences over the 4-neighborhood only."""
    n = pad[:-2, 1:-1]
    w_, e = pad[1:-1, :-2], pad[1:-1, 2:]
    s = pad[2:, 1:-1]
    dzdx = (e - w_) / (2.0 * res)
    dzdy = (s - n) / (2.0 * res)
    return dzdx, dzdy


_GRADIENTS = {"horn": _horn_gradients, "zevenbergen_thorne": _zt_gradients}


def hillshade(tiles: DataFrame, res: float, azimuth: float = 315.0,
              altitude: float = 45.0, z_factor: float = 1.0,
              dst_raster_id: str = "hillshade",
              alg: str = "horn") -> DataFrame:
    """Hillshade (gdaldem hillshade, apps/gdaldem_lib.cpp:901-1035),
    output Byte 1..255 like GDAL; alg 'horn' (default) or
    'zevenbergen_thorne' (-alg ZT)."""
    az = math.radians(360.0 - azimuth + 90.0)
    alt = math.radians(altitude)
    grad = _GRADIENTS[alg]

    def kern(pad, r):
        dzdx, dzdy = grad(pad * z_factor, r)
        slope = np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy))
        aspect = np.arctan2(dzdy, -dzdx)
        shade = np.sin(alt) * np.cos(slope) + np.cos(alt) * np.sin(slope) * np.cos(az - aspect)
        return 1.0 + 254.0 * np.maximum(shade, 0.0)

    return _focal(tiles, kern, "uint8", dst_raster_id, res)


def hillshade_combined(tiles: DataFrame, res: float,
                       azimuth: float = 315.0, altitude: float = 45.0,
                       z_factor: float = 1.0,
                       dst_raster_id: str = "hillshade_comb") -> DataFrame:
    """gdaldem hillshade -combined (apps/gdaldem_lib.cpp:1131
    GDALHillshadeCombinedAlg): the oblique shade modulated by slope —
    cang = 1 - acos(shade) * slope_angle / (pi/2)^2; non-positive
    shading maps to 1 (the reference's fcang floor)."""
    az = math.radians(360.0 - azimuth + 90.0)
    alt = math.radians(altitude)
    inv_sq_half_pi = 1.0 / ((math.pi / 2.0) ** 2)

    def kern(pad, r):
        dzdx, dzdy = _horn_gradients(pad * z_factor, r)
        s = np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy))
        aspect = np.arctan2(dzdy, -dzdx)
        shade = np.sin(alt) * np.cos(s) \
            + np.cos(alt) * np.sin(s) * np.cos(az - aspect)
        cang = 1.0 - np.arccos(np.clip(shade, -1.0, 1.0)) * s \
            * inv_sq_half_pi
        return np.where(cang <= 0.0, 1.0, 1.0 + 254.0 * cang)

    return _focal(tiles, kern, "uint8", dst_raster_id, res)


def hillshade_igor(tiles: DataFrame, res: float, azimuth: float = 315.0,
                   z_factor: float = 1.0, alg: str = "horn",
                   dst_raster_id: str = "hillshade_igor") -> DataFrame:
    """Igor's hillshade (gdaldem hillshade -igor,
    apps/gdaldem_lib.cpp:901 GDALHillshadeIgorAlg): shadowness from
    slope strength (slopeDeg / 90) times aspect alignment with the
    light azimuth; no altitude parameter. 255 * (1 - s * a)."""
    az = math.radians(azimuth)

    def kern(pad, r):
        grad = _horn_gradients if alg == "horn" else _zt_gradients
        dzdx, dzdy = grad(pad * z_factor, r)
        slope_deg = np.degrees(np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy)))
        aspect = np.arctan2(dzdy, -dzdx)
        # DifferenceBetweenAngles(aspect, 3pi/2 - az, 2pi)
        two_pi = 2.0 * math.pi
        diff = np.abs(np.mod(aspect, two_pi) - ((1.5 * math.pi - az) % two_pi))
        diff = np.where(diff > math.pi, two_pi - diff, diff)
        aspect_strength = 1.0 - diff / math.pi
        shadowness = 1.0 - (slope_deg / 90.0) * aspect_strength
        return 255.0 * shadowness

    return _focal(tiles, kern, "uint8", dst_raster_id, res)


def slope(tiles: DataFrame, res: float, z_factor: float = 1.0,
          dst_raster_id: str = "slope", alg: str = "horn",
          slope_format: str = "degrees") -> DataFrame:
    """Slope (gdaldem slope, apps/gdaldem_lib.cpp:1325-1386); alg:
    'horn' (default) or 'zevenbergen_thorne' (-alg ZT); slope_format
    'degrees' (default) or 'percent' (-p: 100 * rise/run, the
    slopeFormat==0 branch at :1356)."""
    grad = _GRADIENTS[alg]

    def kern(pad, r):
        dzdx, dzdy = grad(pad * z_factor, r)
        mag = np.sqrt(dzdx * dzdx + dzdy * dzdy)
        if slope_format == "percent":
            return 100.0 * mag
        return np.degrees(np.arctan(mag))

    return _focal(tiles, kern, "float64", dst_raster_id, res)


def aspect(tiles: DataFrame, res: float,
           dst_raster_id: str = "aspect") -> DataFrame:
    """Aspect in compass degrees, 0=N clockwise (gdaldem aspect,
    apps/gdaldem_lib.cpp:1389-1440): atan2 of the Horn gradients
    converted to azimuth; flat cells (both gradients 0) -> -9999 like
    GDAL's default nodata."""

    def kern(pad, r):
        dzdx, dzdy = _horn_gradients(pad, r)
        az = np.degrees(np.arctan2(dzdy, -dzdx))
        compass = np.where(az > 90.0, 450.0 - az, 90.0 - az)
        compass = np.where(compass == 360.0, 0.0, compass)
        flat = (dzdx == 0) & (dzdy == 0)
        return np.where(flat, -9999.0, compass)

    return _focal(tiles, kern, "float64", dst_raster_id, res)


def _neighbor_stack(pad: np.ndarray):
    return np.stack(
        [pad[:-2, :-2], pad[:-2, 1:-1], pad[:-2, 2:],
         pad[1:-1, :-2], pad[1:-1, 2:],
         pad[2:, :-2], pad[2:, 1:-1], pad[2:, 2:]]
    )


def tri(tiles: DataFrame, res: float, alg: str = "riley",
        dst_raster_id: str = "tri") -> DataFrame:
    """Terrain Ruggedness Index (gdaldem TRI, apps/gdaldem_lib.cpp:
    2689-2700): Riley = sqrt(sum((center - neighbor)^2)) over the 8
    neighbors (default since GDAL 3.3); Wilson = mean absolute
    difference."""

    def kern(pad, r):
        c = pad[1:-1, 1:-1]
        nb = _neighbor_stack(pad)
        d = nb - c[None, :, :]
        if alg == "riley":
            return np.sqrt((d * d).sum(axis=0))
        return np.abs(d).mean(axis=0)

    return _focal(tiles, kern, "float64", dst_raster_id, res)


def tpi(tiles: DataFrame, res: float,
        dst_raster_id: str = "tpi") -> DataFrame:
    """Topographic Position Index (gdaldem TPI): center minus the mean
    of its 8 neighbors."""

    def kern(pad, r):
        c = pad[1:-1, 1:-1]
        return c - _neighbor_stack(pad).mean(axis=0)

    return _focal(tiles, kern, "float64", dst_raster_id, res)


def roughness(tiles: DataFrame, res: float,
              dst_raster_id: str = "roughness") -> DataFrame:
    """Roughness (gdaldem roughness): max - min over the full 3x3
    window (center included)."""

    def kern(pad, r):
        c = pad[1:-1, 1:-1]
        nb = _neighbor_stack(pad)
        mx = np.maximum(nb.max(axis=0), c)
        mn = np.minimum(nb.min(axis=0), c)
        return mx - mn

    return _focal(tiles, kern, "float64", dst_raster_id, res)


# --------------------------------------------------------------- pansharpen
def pansharpen(pan: DataFrame, ms: DataFrame,
               weights: list[float] | None = None,
               dst_raster_id: str = "pansharp") -> DataFrame:
    """Weighted-Brovey pansharpening (alg/gdalpansharpen.cpp:509,
    803-881): out_band = ms_band * pan / pseudo_pan where pseudo_pan =
    sum(w_i * ms_band_i). pan and ms tile tables join on tile coords
    (both at the pan resolution — upsample ms first via warp/overview
    if needed); the per-tile ratio runs in one numpy kernel.
    """

    pan_t = pan.select(
        F.col("tile_x"), F.col("tile_y"),
        F.col("data").alias("_pan"), F.col("dtype").alias("_pan_dtype"),
        F.col("width").alias("_w"), F.col("height").alias("_h"),
    )
    j = ms.join(pan_t, ["tile_x", "tile_y"], "inner")

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bands = sorted(pdf["band"].unique())
        w = weights if weights is not None else [1.0 / len(bands)] * len(bands)
        arrs = {}
        first = pdf.iloc[0]
        h, wd = int(first["_h"]), int(first["_w"])
        for r in pdf.itertuples(index=False):
            arrs[int(r.band)] = _decode(r.data, r.dtype, r.height, r.width).astype(np.float64)
        pan_arr = _decode(first["_pan"], first["_pan_dtype"], h, wd).astype(np.float64)
        pseudo = np.zeros_like(pan_arr)
        for wi, b in zip(w, bands):
            pseudo += wi * arrs[b]
        ratio = np.where(pseudo > 0, pan_arr / np.maximum(pseudo, 1e-30), 0.0)
        rows = []
        for r in pdf.itertuples(index=False):
            out = arrs[int(r.band)] * ratio
            rows.append(tile_row(
                dst_raster_id, int(r.band), int(r.zoom), int(r.tile_x),
                int(r.tile_y), out, list(r.geotransform),
                nodata=float(r.nodata), crs=r.crs))
        return pd.DataFrame(rows, columns=TILE_COLUMNS)

    return j.groupBy("tile_x", "tile_y").applyInPandas(run, schema=TILE_SCHEMA)


# --------------------------------------------------------------- tile index
def tile_index(tiles: DataFrame) -> DataFrame:
    """gdaltindex (apps/gdaltindex.cpp:96): one footprint polygon per
    raster — pure column math over per-tile geotransforms, then a tiny
    envelope aggregate. location = raster_id (the 'file path')."""
    gt = F.col("geotransform")
    x0 = gt[0]
    x1 = gt[0] + F.col("width") * gt[1]
    ytop = gt[3]
    ybot = gt[3] + F.col("height") * gt[5]
    per_tile = tiles.select(
        "raster_id",
        F.least(x0, x1).alias("_xmin"), F.greatest(x0, x1).alias("_xmax"),
        F.least(ytop, ybot).alias("_ymin"), F.greatest(ytop, ybot).alias("_ymax"),
    )
    env = per_tile.groupBy("raster_id").agg(
        F.min("_xmin").alias("xmin"), F.min("_ymin").alias("ymin"),
        F.max("_xmax").alias("xmax"), F.max("_ymax").alias("ymax"),
    )
    wkt = F.format_string(
        "POLYGON((%s %s, %s %s, %s %s, %s %s, %s %s))",
        F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymin"),
        F.col("xmax"), F.col("ymax"), F.col("xmin"), F.col("ymax"),
        F.col("xmin"), F.col("ymin"),
    )
    return env.select(
        F.col("raster_id").alias("location"), "xmin", "ymin", "xmax", "ymax",
        wkt.alias("geom_wkt"),
    )


# --------------------------------------------------------------- proximity
def proximity(tiles: DataFrame, target_values: list[float],
              maxdist: float, nodata: float = -1.0,
              dst_raster_id: str = "proximity") -> DataFrame:
    """Distance-to-nearest-target raster (GDALComputeProximity,
    alg/gdalproximity.cpp:112), bounded by `maxdist` (the tool's
    MAXDIST option; farther pixels get `nodata`) with maxdist <= one
    tile extent.

    Distributed shape: target pixels are SPARSE — each tile broadcasts
    its target coordinate lists to itself and its 8 neighbors (the same
    halo exchange as the focal ops, but carrying sparse coords instead
    of dense strips), then one numpy kernel per tile computes each
    pixel's exact Euclidean distance to the nearest visible target.
    With maxdist <= tile size every target that can influence a pixel
    is in its 3x3 tile neighborhood, so one pass is exact — no
    iteration. For unbounded / larger maxdist use `proximity_full`
    below (geometric ring-doubling rounds, exact at any distance)."""
    TGT_SCHEMA = T.StructType(
        _KEY_FIELDS
        + [T.StructField("txs", T.ArrayType(T.LongType())),
           T.StructField("tys", T.ArrayType(T.LongType()))]
    )
    tvals = list(target_values)

    def emit_targets(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = _decode(r.data, r.dtype, r.height, r.width)
                mask = np.isin(arr, tvals)
                if not mask.any():
                    continue
                ys, xs = np.nonzero(mask)
                gx = (xs + int(r.tile_x) * r.width).astype(np.int64).tolist()
                gy = (ys + int(r.tile_y) * r.height).astype(np.int64).tolist()
                for dx in (-1, 0, 1):
                    for dy in (-1, 0, 1):
                        rows.append((r.raster_id, int(r.band), int(r.zoom),
                                     int(r.tile_x) + dx, int(r.tile_y) + dy,
                                     gx, gy))
            yield pd.DataFrame(rows, columns=TGT_SCHEMA.fieldNames())

    tgts = tiles.mapInPandas(emit_targets, schema=TGT_SCHEMA)
    agg = tgts.groupBy(*_TILE_ADDRESS).agg(
        F.flatten(F.collect_list("txs")).alias("all_tx"),
        F.flatten(F.collect_list("tys")).alias("all_ty"),
    )
    j = tiles.join(agg, _TILE_ADDRESS, "left")

    md2 = maxdist * maxdist

    def run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                h, w = int(r.height), int(r.width)
                if maxdist > min(h, w):
                    raise ValueError(
                        f"proximity: maxdist={maxdist} px exceeds the tile "
                        f"size {w}x{h} — the 3x3-halo exchange is only "
                        "exact for maxdist <= one tile extent"
                    )
                gx0, gy0 = int(r.tile_x) * w, int(r.tile_y) * h
                if r.all_tx is None or len(r.all_tx) == 0:
                    out = np.full((h, w), nodata)
                else:
                    txs = np.asarray(r.all_tx, dtype=np.float64)
                    tys = np.asarray(r.all_ty, dtype=np.float64)
                    px = gx0 + np.arange(w, dtype=np.float64)
                    py = gy0 + np.arange(h, dtype=np.float64)
                    # (h, w) min over targets, chunked over targets to
                    # bound memory
                    best = np.full((h, w), np.inf)
                    for s in range(0, len(txs), 2048):
                        dx = px[None, :, None] - txs[None, None, s : s + 2048]
                        dy = py[:, None, None] - tys[None, None, s : s + 2048]
                        d2 = (dx * dx + dy * dy).min(axis=2)
                        best = np.minimum(best, d2)
                    out = np.where(best <= md2, np.sqrt(best), nodata)
                rows.append(tile_row(
                    dst_raster_id, int(r.band), int(r.zoom), int(r.tile_x),
                    int(r.tile_y), out, list(r.geotransform), nodata=nodata,
                    crs=r.crs, dtype="float64"))
            yield pd.DataFrame(rows, columns=TILE_COLUMNS)

    return j.mapInPandas(run, schema=TILE_SCHEMA)


def proximity_full(tiles: DataFrame, target_values: list[float],
                   maxdist: float | None = None, nodata: float = -1.0,
                   dst_raster_id: str = "proximity",
                   max_rounds: int = 24) -> DataFrame:
    """Unbounded distance-to-nearest-target raster (GDALComputeProximity,
    alg/gdalproximity.cpp:112 — the no-MAXDIST default the bounded
    `proximity` above can't serve): exact Euclidean pixel distances with
    no tile-extent cap.

    Distributed shape — geometric ring doubling with a per-pixel
    settlement guard:

      round k explores the tile annulus with Chebyshev radius in
      (R/2, R], R = 2^k: each UNSETTLED tile joins the sparse target
      coordinate lists of the annulus tiles and relaxes its per-pixel
      best distance. A pixel is settled once best <= R*tile_px — every
      unexplored target is farther than R tiles, i.e. > R*tile_px away,
      so no later round can improve it (with maxdist set, best >
      maxdist also settles as nodata once R*tile_px >= maxdist). Tiles
      drop out of the loop as soon as all their pixels settle.

    Rounds needed = log2 of the tile-hop distance to the nearest
    target, so dense target sets finish in one round (the `proximity`
    fast path) and the loop only keeps running for tiles in large
    target voids — exactly the tiles whose annuli are nearly empty, so
    the per-round exploded (tile, annulus-tile) pair volume stays
    bounded by void geometry, not raster size. The expensive side (the
    per-tile best-distance state) shuffles once per round on its own
    key only; target lists ride the join."""
    tvals = list(target_values)
    # a target tile's whole address, its position named (jx, jy): the
    # (tile, annulus tile) pairs join it on raster_id, band, zoom, jx, jy
    TGT_SCHEMA = T.StructType(
        _KEY_FIELDS[:3]
        + [T.StructField("jx", T.IntegerType()),
           T.StructField("jy", T.IntegerType()),
           T.StructField("txs", T.ArrayType(T.LongType())),
           T.StructField("tys", T.ArrayType(T.LongType()))]
    )

    def emit_targets(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = _decode(r.data, r.dtype, r.height, r.width)
                mask = np.isin(arr, tvals)
                if not mask.any():
                    continue
                ys, xs = np.nonzero(mask)
                rows.append((
                    r.raster_id, int(r.band), int(r.zoom),
                    int(r.tile_x), int(r.tile_y),
                    (xs + int(r.tile_x) * r.width).astype(np.int64).tolist(),
                    (ys + int(r.tile_y) * r.height).astype(np.int64).tolist(),
                ))
            yield pd.DataFrame(rows, columns=TGT_SCHEMA.fieldNames())

    tgts = tiles.mapInPandas(emit_targets, schema=TGT_SCHEMA).persist()

    STATE_SCHEMA = T.StructType(
        [f for f in TILE_SCHEMA.fields if f.name != "data"]
        + [T.StructField("best2", T.BinaryType()),
           T.StructField("settled", T.BooleanType())]
    )
    state_cols = [f.name for f in STATE_SCHEMA.fields]

    def init_state(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                h, w = int(r.height), int(r.width)
                d = {c: getattr(r, c) for c in state_cols
                     if c not in ("best2", "settled")}
                d["best2"] = np.full((h, w), np.inf).tobytes()
                d["settled"] = False
                rows.append(d)
            yield pd.DataFrame(rows, columns=state_cols)

    state = tiles.mapInPandas(init_state, schema=STATE_SCHEMA)
    md = float(maxdist) if maxdist is not None else None

    # global tile extent bounds the last possible round
    ext = tiles.agg(
        F.min("tile_x"), F.max("tile_x"), F.min("tile_y"), F.max("tile_y")
    ).first()
    span = max(ext[1] - ext[0], ext[3] - ext[2]) + 1

    def relax(r_guard: int):
        def run(batches):
            for pdf in batches:
                rows = []
                for r in pdf.itertuples(index=False):
                    h, w = int(r.height), int(r.width)
                    best = np.frombuffer(r.best2, dtype=np.float64).reshape(h, w)
                    if r.all_tx is not None and len(r.all_tx) > 0:
                        best = best.copy()
                        txs = np.asarray(r.all_tx, dtype=np.float64)
                        tys = np.asarray(r.all_ty, dtype=np.float64)
                        px = int(r.tile_x) * w + np.arange(w, dtype=np.float64)
                        py = int(r.tile_y) * h + np.arange(h, dtype=np.float64)
                        for s in range(0, len(txs), 2048):
                            dx = px[None, :, None] - txs[None, None, s:s + 2048]
                            dy = py[:, None, None] - tys[None, None, s:s + 2048]
                            best = np.minimum(best, (dx * dx + dy * dy).min(axis=2))
                    guard = float(r_guard * min(h, w))
                    g2 = guard * guard
                    ok = best <= g2
                    if md is not None and guard >= md:
                        ok |= best > md * md  # provably beyond maxdist -> nodata
                    d = {c: getattr(r, c) for c in state_cols
                         if c not in ("best2", "settled")}
                    d["best2"] = best.tobytes()
                    d["settled"] = bool(ok.all())
                    rows.append(d)
                yield pd.DataFrame(rows, columns=state_cols)

        return run

    done = []
    r_prev, radius = -1, 1  # first annulus includes the tile itself
    for _ in range(max_rounds):
        dxs = F.explode(
            F.sequence(F.lit(-radius), F.lit(radius))
        ).alias("dx")
        dys = F.explode(
            F.sequence(F.lit(-radius), F.lit(radius))
        ).alias("dy")
        pairs = (
            state.select(*_TILE_ADDRESS, dxs)
            .select(*_TILE_ADDRESS, "dx", dys)
            .filter(
                F.greatest(F.abs(F.col("dx")), F.abs(F.col("dy"))) > r_prev
            )
            .select(
                *_TILE_ADDRESS,
                (F.col("tile_x") + F.col("dx")).alias("jx"),
                (F.col("tile_y") + F.col("dy")).alias("jy"),
            )
        )
        ring = (
            pairs.join(tgts, ["raster_id", "band", "zoom", "jx", "jy"])
            .groupBy(*_TILE_ADDRESS)
            .agg(
                F.flatten(F.collect_list("txs")).alias("all_tx"),
                F.flatten(F.collect_list("tys")).alias("all_ty"),
            )
        )
        state = (
            state.join(ring, _TILE_ADDRESS, "left")
            .mapInPandas(relax(radius), schema=STATE_SCHEMA)
            .localCheckpoint()
        )
        done.append(state.filter("settled"))
        state = state.filter("NOT settled")
        if radius >= span or state.isEmpty():
            break
        r_prev, radius = radius, min(radius * 2, span)
    done.append(state)  # anything left after the extent cap
    tgts.unpersist()

    all_states = done[0]
    for d in done[1:]:
        all_states = all_states.unionByName(d)

    def finish(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                h, w = int(r.height), int(r.width)
                best = np.frombuffer(r.best2, dtype=np.float64).reshape(h, w)
                lim = md * md if md is not None else np.inf
                out = np.where(best <= lim, np.sqrt(best), nodata)
                d = {c: getattr(r, c) for c in state_cols
                     if c not in ("best2", "settled")}
                d["raster_id"] = dst_raster_id
                d["dtype"] = "float64"
                d["nodata"] = nodata
                d["data"] = out.tobytes()
                rows.append(d)
            yield pd.DataFrame(rows, columns=TILE_COLUMNS)

    return all_states.mapInPandas(finish, schema=TILE_SCHEMA)


# -------------------------------------------------------------- fill nodata
def idw_fill_window(pad: np.ndarray, h: int, nodata: float,
                    power: float = 2.0) -> np.ndarray:
    """Core kernel, shared with the single-node test oracle: fill the
    CENTER region of an (H+2h, W+2h) padded array by inverse-distance
    weighting every valid pixel within Chebyshev radius h. NaN padding
    = no data available there. Fully vectorized: one accumulation pass
    per window offset ((2h+1)^2 vector ops), no per-pixel Python."""
    Hp, Wp = pad.shape
    H, W = Hp - 2 * h, Wp - 2 * h
    core = pad[h : h + H, h : h + W]
    invalid = np.isnan(core) | (core == nodata)
    num = np.zeros((H, W))
    den = np.zeros((H, W))
    for dy in range(-h, h + 1):
        for dx in range(-h, h + 1):
            if dx == 0 and dy == 0:
                continue
            nb = pad[h + dy : h + dy + H, h + dx : h + dx + W]
            ok = ~(np.isnan(nb) | (nb == nodata))
            w = 1.0 / float(dx * dx + dy * dy) ** (power / 2.0)
            num += np.where(ok, nb * w, 0.0)
            den += np.where(ok, w, 0.0)
    filled = np.where(invalid & (den > 0), num / np.maximum(den, 1e-300), core)
    return filled


def fill_smooth_window(pad: np.ndarray, search: int, n_smooth: int,
                       nodata: float, power: float = 2.0) -> np.ndarray:
    """Fill + the reference's -si post-smoothing (GDALMultiFilter,
    alg/rasterfill.cpp:142; per-line math GDALFilterLine :51): each
    smoothing pass replaces every INTERPOLATED pixel by the unweighted
    mean of its 3x3 neighbors that are valid-after-fill (original
    valid pixels contribute but never change). `pad` carries a halo of
    search + n_smooth; returns the core (pad minus the full halo) —
    the n_smooth margin absorbs one ring per iteration, the classic
    halo-iteration trade. Shared with the single-node oracle."""
    filled = idw_fill_window(pad, search, nodata, power)
    core0 = pad[search:pad.shape[0] - search, search:pad.shape[1] - search]
    orig_invalid = np.isnan(core0) | (core0 == nodata)
    valid = ~(np.isnan(filled) | (filled == nodata))
    fmask = orig_invalid & valid
    cur = filled.copy()
    for _ in range(n_smooth):
        padv = np.pad(cur, 1, constant_values=np.nan)
        padm = np.pad(valid, 1, constant_values=False)
        s = np.zeros_like(cur)
        c = np.zeros_like(cur)
        H, W = cur.shape
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                v = padv[1 + dy : 1 + dy + H, 1 + dx : 1 + dx + W]
                m = padm[1 + dy : 1 + dy + H, 1 + dx : 1 + dx + W]
                s += np.where(m, v, 0.0)
                c += m
        cur = np.where(fmask, s / np.maximum(c, 1), cur)
    if n_smooth:
        cur = cur[n_smooth : cur.shape[0] - n_smooth,
                  n_smooth : cur.shape[1] - n_smooth]
    return cur


def fill_nodata(tiles: DataFrame, search: int = 8, power: float = 2.0,
                dst_raster_id: str = "filled",
                smoothing: int = 0) -> DataFrame:
    """Fill nodata pixels by inverse-distance weighting the valid
    pixels within Chebyshev radius `search` (GDALFillNodata,
    alg/rasterfill.cpp:412 — GDAL scans toward the nearest valid pixel
    per direction; this windowed-IDW form is the dense equivalent with
    the same bounded search). `search` <= tile size: each tile pulls a
    search-wide halo block from its 8 neighbors, so one pass is exact
    within the search bound; pixels with no valid pixel in range keep
    nodata. `smoothing` applies GDAL's -si 3x3 post-smoothing passes
    (alg/rasterfill.cpp:142) — the halo widens by one ring per
    iteration so the passes stay exact across tile borders.
    """
    h = search + smoothing

    def run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                H, W = int(r.height), int(r.width)
                if h > min(H, W):
                    raise ValueError(
                        f"fill_nodata: search={h} px exceeds the tile size "
                        f"{W}x{H} — the one-tile halo exchange is only "
                        "exact for search <= one tile extent"
                    )
                pad = halo_window(r, h, np.nan)
                filled = fill_smooth_window(pad, search, smoothing,
                                            float(r.nodata), power)
                rows.append(tile_row(
                    dst_raster_id, int(r.band), int(r.zoom), int(r.tile_x),
                    int(r.tile_y), filled, list(r.geotransform),
                    nodata=float(r.nodata), crs=r.crs, dtype="float64"))
            yield pd.DataFrame(rows, columns=TILE_COLUMNS)

    return halo(tiles, h).mapInPandas(run, schema=TILE_SCHEMA)


# ---------------------------------------------------------------- viewshed
def los_visibility(dem: np.ndarray, ox: int, oy: int, obs_height: float,
                   radius: int, curv_coeff: float = 0.0,
                   sphere_diameter: float = float("inf"),
                   pixel_size: float = 1.0) -> np.ndarray:
    """Shared kernel (also the single-node test oracle): boolean
    visibility of every pixel from observer (ox, oy) standing
    `obs_height` above the DEM, bounded by `radius` pixels.

    Exact sampled line-of-sight: for every target pixel the sight line
    is sampled at unit steps with bilinear DEM interpolation; the
    target is visible iff no intermediate sample rises above the
    observer->target ray. Vectorized over ALL pixels at once per step
    index (the step loop is bounded by `radius`).

    Earth curvature + refraction (gdalwarp viewshed -cc): every height
    drops by curv_coeff * geo_dist^2 / sphere_diameter before the ray
    test (alg/viewshed.cpp:64-75 AdjustHeightInRange; GDAL's default
    coefficient 0.85714 approximates atmospheric refraction).
    geo_dist = pixel distance * pixel_size."""
    H, W = dem.shape
    yy, xx = np.mgrid[0:H, 0:W]
    dx = xx - ox
    dy = yy - oy
    dist = np.sqrt(dx * dx + dy * dy)
    in_range = dist <= radius

    def drop(d_px):
        if curv_coeff == 0.0 or not np.isfinite(sphere_diameter):
            return 0.0
        g = d_px * pixel_size
        return curv_coeff * g * g / sphere_diameter

    eye = dem[oy, ox] + obs_height
    with np.errstate(divide="ignore", invalid="ignore"):
        tgt_slope = (dem - drop(dist) - eye) / np.maximum(dist, 1e-12)
    visible = in_range.copy()
    nsteps = int(np.ceil(min(radius, max(H, W))))
    for s in range(1, nsteps):
        frac = s / np.maximum(dist, 1e-12)
        act = (frac < 1.0) & in_range
        if not act.any():
            break
        sx = ox + dx * frac
        sy = oy + dy * frac
        x0 = np.clip(np.floor(sx).astype(np.int64), 0, W - 2)
        y0 = np.clip(np.floor(sy).astype(np.int64), 0, H - 2)
        fx = np.clip(sx - x0, 0.0, 1.0)
        fy = np.clip(sy - y0, 0.0, 1.0)
        z = (
            dem[y0, x0] * (1 - fx) * (1 - fy)
            + dem[y0, x0 + 1] * fx * (1 - fy)
            + dem[y0 + 1, x0] * (1 - fx) * fy
            + dem[y0 + 1, x0 + 1] * fx * fy
        )
        blocked = act & (
            (z - drop(float(s)) - eye) / (frac * np.maximum(dist, 1e-12))
            > tgt_slope + 1e-12
        )
        visible &= ~blocked
    visible[oy, ox] = True
    return visible


VIEWSHED_SCHEMA = T.StructType(
    [
        T.StructField("obs_id", T.LongType()),
        T.StructField("raster_id", T.StringType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("zoom", T.IntegerType()),
        T.StructField("visible_px", T.LongType()),
        T.StructField("in_range_px", T.LongType()),
        T.StructField("mask", T.BinaryType()),
        T.StructField("x0", T.LongType()),
        T.StructField("y0", T.LongType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
    ]
)


def viewshed(tiles: DataFrame, observers: "pd.DataFrame",
             radius_px: int, obs_height: float = 2.0,
             curv_coeff: float = 0.0,
             sphere_diameter: float = float("inf"),
             pixel_size: float = 1.0) -> DataFrame:
    """Viewshed (alg/viewshed.cpp:202): per-observer visibility over a
    bounded radius. Observers are a small table (gx, gy in global pixel
    coords); each observer gathers the tiles its radius box touches to
    ONE task (the window gather), which pastes the window and runs the
    sampled line-of-sight kernel. Long-range ops like this are
    per-observer local by nature — the distribution axis is ACROSS
    observers, matching GDAL's one-observer-per-call shape. Each
    band (raster, zoom) of the table is its own window: one row per
    observer and band, labelled by raster_id, band and zoom.
    """
    ts = full_tile_px(tiles)
    gx, gy = observers["gx"].astype(np.int64), observers["gy"].astype(np.int64)
    # tiles whose pixel extent touches [g - r, g + r] on both axes
    wants = tiles.sparkSession.createDataFrame(pd.DataFrame({
        "obs_id": observers["obs_id"].astype(np.int64), "gx": gx, "gy": gy,
        "tx0": (gx - radius_px - 1) // ts, "tx1": (gx + radius_px) // ts,
        "ty0": (gy - radius_px - 1) // ts, "ty1": (gy + radius_px) // ts,
    }))

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        obs_id, gx, gy = int(key[0]), int(key[1]), int(key[2])
        raster_id, band, zoom = key[3], int(key[4]), int(key[5])
        tx0 = int(pdf["tile_x"].min()) * ts
        ty0 = int(pdf["tile_y"].min()) * ts
        dem = paste(pdf, np.nan, ts)
        vis = los_visibility(dem, gx - tx0, gy - ty0, obs_height, radius_px,
                             curv_coeff, sphere_diameter, pixel_size)
        yy, xx = np.mgrid[0 : dem.shape[0], 0 : dem.shape[1]]
        in_rng = ((xx - (gx - tx0)) ** 2 + (yy - (gy - ty0)) ** 2) <= radius_px**2
        return pd.DataFrame(
            [
                {
                    "obs_id": obs_id, "raster_id": raster_id,
                    "band": band, "zoom": zoom,
                    "visible_px": int((vis & in_rng).sum()),
                    "in_range_px": int(in_rng.sum()),
                    "mask": np.packbits(vis & in_rng).tobytes(),
                    "x0": tx0, "y0": ty0,
                    "w": dem.shape[1], "h": dem.shape[0],
                }
            ]
        )

    return gather(tiles, wants, ["obs_id", "gx", "gy"], run, VIEWSHED_SCHEMA)


# ------------------------------------------------------------ color relief
def color_relief(tiles: DataFrame, ramp: list[tuple[float, int, int, int]],
                 interpolate: bool = True,
                 dst_raster_id: str = "relief") -> DataFrame:
    """gdaldem color-relief (apps/gdaldem_lib.cpp:1470
    GDALColorReliefDataset): map band values through a color ramp to
    R/G/B bands. interpolate=True linearly blends between adjacent
    ramp entries (COLOR_SELECTION_INTERPOLATE, the default); False
    snaps to the nearest-below entry (EXACT_COLOR_ENTRY-ish step
    mode). Values below the first / above the last entry clamp to the
    end colors. Map-only: one np.interp per band per tile."""
    ramp = sorted(ramp)
    vals = np.array([r[0] for r in ramp], dtype=np.float64)
    chans = [np.array([r[k] for r in ramp], dtype=np.float64) for k in (1, 2, 3)]

    def run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = _decode(r.data, r.dtype, r.height, r.width).astype(np.float64)
                for band, cv in enumerate(chans, start=1):
                    if interpolate:
                        out = np.interp(arr, vals, cv)
                    else:
                        idx = np.clip(
                            np.searchsorted(vals, arr, side="right") - 1,
                            0, len(vals) - 1,
                        )
                        out = cv[idx]
                    rows.append(tile_row(
                        dst_raster_id, band, r.zoom, r.tile_x, r.tile_y,
                        _gdal_cast(out, "uint8"), r.geotransform,
                        nodata=r.nodata, crs=r.crs, dtype="uint8"))
            yield pd.DataFrame(rows, columns=TILE_COLUMNS)

    return tiles.mapInPandas(run, schema=TILE_SCHEMA)


def hillshade_multidirectional(tiles: DataFrame, res: float,
                               altitude: float = 45.0, z_factor: float = 1.0,
                               dst_raster_id: str = "hillshade_md") -> DataFrame:
    """Multidirectional hillshade (gdaldem -multidirectional,
    apps/gdaldem_lib.cpp GDALHillshadeMultiDirectionalAlg; USGS
    OF 92-422): the weighted blend of the 225/270/315/360-degree
    shades with weights sin^2(aspect - az). Deterministic restatement:
    GDAL's build uses an SSE rsqrt approximation
    (ApproxADivByInvSqrtB) that makes its exact byte values
    machine-specific; this kernel computes the same formula in exact
    double arithmetic."""
    alt = math.radians(altitude)

    def kern(pad, r):
        dzdx, dzdy = _horn_gradients(pad * z_factor, r)
        slope = np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy))
        aspect = np.arctan2(dzdy, -dzdx)
        acc = np.zeros_like(slope)
        wsum = np.zeros_like(slope)
        for az_deg in (225.0, 270.0, 315.0, 360.0):
            az = math.radians(360.0 - az_deg + 90.0)
            shade = (
                np.sin(alt) * np.cos(slope)
                + np.cos(alt) * np.sin(slope) * np.cos(az - aspect)
            )
            w = np.sin(aspect - math.radians(az_deg)) ** 2
            acc += w * np.maximum(shade, 0.0)
            wsum += w
        flat = wsum == 0.0
        blend = np.where(flat, np.sin(alt), acc / np.maximum(wsum, 1e-300))
        return 1.0 + 254.0 * np.maximum(blend, 0.0)

    return _focal(tiles, kern, "uint8", dst_raster_id, res)


# ---------------------------------------------------------------- gdal2xyz
_XYZ_SCHEMA = T.StructType(
    [
        T.StructField("raster_id", T.StringType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("px", T.LongType()),
        T.StructField("py", T.LongType()),
        T.StructField("gx", T.DoubleType()),
        T.StructField("gy", T.DoubleType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def to_xyz(tiles: DataFrame, step: int = 1,
           skip_nodata: bool = False) -> DataFrame:
    """gdal2xyz (osgeo_utils/gdal2xyz.py): dump pixels as rows —
    (global pixel x/y, georeferenced center x/y via the tile's
    geotransform, value). `step` decimates like -skip; skip_nodata
    like -skipnodata. Map-only: each tile emits its own rows from one
    Arrow batch, so the dump parallelizes with the tile table and
    nothing shuffles."""

    def emit(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = _decode(r.data, r.dtype, r.height, r.width)
                gt = list(r.geotransform)
                x0, y0 = r.tile_x * r.width, r.tile_y * r.height
                # phase the decimation on GLOBAL pixel coords so the
                # grid is consistent across tiles
                lx = np.arange(r.width)[(x0 + np.arange(r.width)) % step == 0]
                ly = np.arange(r.height)[(y0 + np.arange(r.height)) % step == 0]
                if not len(lx) or not len(ly):
                    continue
                yy, xx = np.meshgrid(ly, lx, indexing="ij")
                vals = arr[yy, xx].astype(np.float64).ravel()
                px = (x0 + xx).ravel()
                py = (y0 + yy).ravel()
                if skip_nodata and r.nodata is not None:
                    keep = vals != r.nodata
                    px, py, vals = px[keep], py[keep], vals[keep]
                # pixel-center georeferencing, like gdal2xyz
                gx = gt[0] + (xx.ravel() + 0.5) * gt[1] + (yy.ravel() + 0.5) * gt[2]
                gy = gt[3] + (xx.ravel() + 0.5) * gt[4] + (yy.ravel() + 0.5) * gt[5]
                if skip_nodata and r.nodata is not None:
                    gx, gy = gx[keep], gy[keep]
                out.append(
                    pd.DataFrame(
                        {
                            "raster_id": r.raster_id, "band": r.band,
                            "px": px, "py": py, "gx": gx, "gy": gy,
                            "value": vals,
                        }
                    )
                )
            yield (
                pd.concat(out)
                if out
                else pd.DataFrame(
                    {f.name: pd.Series(dtype="object")
                     for f in _XYZ_SCHEMA.fields}
                )
            )

    return tiles.mapInPandas(emit, schema=_XYZ_SCHEMA)


# ------------------------------------------------------------- gdalcompare
_CMP_PARTIAL = T.StructType(
    [
        T.StructField("band", T.IntegerType()),
        T.StructField("n", T.LongType()),
        T.StructField("n_diff", T.LongType()),
        T.StructField("max_diff", T.DoubleType()),
    ]
)


def compare_rasters(a: DataFrame, b: DataFrame) -> DataFrame:
    """gdalcompare (osgeo_utils/gdalcompare.py): pixel-level diff of
    two rasters sharing a tile grid — per band: pixel count, count of
    differing pixels, max absolute difference. Tiles join on their
    grid key (co-partitioned equi-join; with a bucketed tile layout
    this is shuffle-free), each pair diffs in one Arrow batch, then a
    tiny per-band aggregate. Tiles present in only one input are not
    compared (the reference reports structural mismatches separately
    before diffing pixels)."""
    key = ["band", "zoom", "tile_x", "tile_y"]
    j = a.select(
        *key, "width", "height", "dtype", F.col("data").alias("data_a")
    ).join(
        b.select(
            *key,
            F.col("dtype").alias("dtype_b"),
            F.col("data").alias("data_b"),
        ),
        key,
    )

    def part(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                va = _decode(r.data_a, r.dtype, r.height, r.width).astype(
                    np.float64)
                vb = _decode(r.data_b, r.dtype_b, r.height, r.width).astype(
                    np.float64)
                d = np.abs(va - vb)
                rows.append(
                    {
                        "band": r.band, "n": int(d.size),
                        "n_diff": int((d != 0).sum()),
                        "max_diff": float(d.max()) if d.size else 0.0,
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in _CMP_PARTIAL.fields])

    p = j.mapInPandas(part, schema=_CMP_PARTIAL)
    return p.groupBy("band").agg(
        F.sum("n").alias("n_pixels"),
        F.sum("n_diff").alias("n_diff"),
        F.max("max_diff").alias("max_diff"),
    )


def gdal_create(spark, width: int, height: int, *, bands: int = 1,
                burn: list[float] | None = None, dtype: str = "uint8",
                nodata: float | None = None,
                geotransform: list[float] | None = None,
                crs: str = "", raster_id: str = "created",
                tile_px: int = 256) -> DataFrame:
    """gdal_create (apps/gdal_create.cpp): materialize a blank raster
    of the given size/bands, optionally burning constant values
    (-burn per band, last value repeated like the reference :199) —
    directly as the engine's tile table.

    Pure JVM planning: the tile grid comes from a crossJoin of two
    ranges and the constant pixel data is one literal byte buffer per
    band, so creating a 10^6-tile blank raster moves zero driver
    bytes; edge tiles are exact-size like every driver in the
    engine."""
    import numpy as np
    from pyspark.sql import functions as F

    from .synth import TILE_SCHEMA
    from .tiling import _gdal_cast

    gt = geotransform or [0.0, 1.0, 0.0, 0.0, 0.0, -1.0]
    burn = list(burn) if burn else [0.0]
    while len(burn) < bands:
        burn.append(burn[-1])  # gdal_create.cpp repeats the last -burn
    ntx = (width + tile_px - 1) // tile_px
    nty = (height + tile_px - 1) // tile_px

    grid = (
        spark.range(ntx).select(F.col("id").cast("int").alias("tile_x"))
        .crossJoin(spark.range(nty).select(
            F.col("id").cast("int").alias("tile_y")))
        .crossJoin(spark.range(bands).select(
            (F.col("id") + 1).cast("int").alias("band")))
    )
    w_col = F.least(F.lit(tile_px),
                    F.lit(width) - F.col("tile_x") * tile_px).cast("int")
    h_col = F.least(F.lit(tile_px),
                    F.lit(height) - F.col("tile_y") * tile_px).cast("int")
    # per-band constant blobs for the full-tile case; edge tiles take
    # an exact-size prefix of the same constant buffer via substring
    full = {}
    npdt = _gdal_cast(np.zeros(1), dtype).dtype
    for b in range(1, bands + 1):
        full[b] = _gdal_cast(
            np.full((tile_px, tile_px), burn[b - 1]), dtype).tobytes()
    itemsize = np.dtype(npdt).itemsize
    expr = None
    for b in range(1, bands + 1):
        branch = F.substring(
            F.lit(bytearray(full[b])), 1,
            (w_col * h_col * itemsize).cast("int"))
        expr = branch if expr is None else F.when(
            F.col("band") == b, branch).otherwise(expr)
    tile_gt = F.array(
        F.lit(float(gt[0])) + F.col("tile_x") * F.lit(float(tile_px * gt[1])),
        F.lit(float(gt[1])), F.lit(float(gt[2])),
        F.lit(float(gt[3])) + F.col("tile_y") * F.lit(float(tile_px * gt[5])),
        F.lit(float(gt[4])), F.lit(float(gt[5])),
    )
    return grid.select(
        F.lit(raster_id).alias("raster_id"), "band",
        F.lit(0).alias("zoom"), "tile_x", "tile_y",
        w_col.alias("width"), h_col.alias("height"),
        F.lit(str(npdt)).alias("dtype"),
        (F.lit(float(nodata)) if nodata is not None
         else F.lit(None).cast("double")).alias("nodata"),
        F.lit(crs).alias("crs"), tile_gt.alias("geotransform"),
        expr.alias("data"),
    )
