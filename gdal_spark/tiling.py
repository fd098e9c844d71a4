"""Tiling: document tile assignment + raster tile-table operators.

Tile assignment (the benchmark op) is pure column arithmetic — the
gdal2tiles GlobalMercator math (osgeo_utils/gdal2tiles.py:355-466)
compiled by Catalyst into whole-stage codegen: zero UDF, zero shuffle.

Raster operators work on the tile table (FIXTURES.md T3): one row per
256x256 tile, pixels packed as binary numpy bytes, decoded batch-wise in
Arrow UDFs (the reference's own "ship numpy to the pixels" pattern —
VRT Python pixel functions, frmts/vrt/vrtderivedrasterband.cpp:1205, and
gdal_calc, osgeo_utils/gdal_calc.py:35-50):

  translate       — window/cast/scale per tile      (apps/gdal_translate_lib.cpp:107-262)
  gather / paste  — the window gather: each destination's rectangle of
                    source tiles joined and grouped by the whole tile
                    address, pasted into one window (gcore/rasterio.cpp:207);
                    group_blocks is its aligned k x k case, one groupBy
  build_overview  — 2x factor pyramid level          (gcore/overview.cpp:144 ff;
                    build_overview_conv: cubic/lanczos :2771)
  warp_affine     — chunked inverse-mapping resample (alg/gdalwarpoperation.cpp:116-157,
                    kernels alg/gdalwarpkernel.cpp:101-137; near/bilinear/
                    cubic/cubicspline/lanczos and the average..q3 footprints)
  warp_transform  — the same with a general transformer (-t_srs)
  retile          — re-chunk the grid (gdal_retile.py)
  checksum_table  — GDAL checksum per tile           (alg/gdalchecksum.cpp:64-180)
  mosaic          — VRT-style priority resolve       (apps/gdalbuildvrt_lib.cpp:1684)

Scale notes: translate/checksum are map-only. Every operator whose
output tile reads a window of source tiles — both warps, both
overviews, retile's coarsen, raster.viewshed — builds it with the one
paste. Where a source tile feeds several destinations (both warps,
build_overview_conv, viewshed) the window gather joins each
destination's source range; where each feeds exactly one (the 2x
overviews, retile's coarsen) group_blocks keys the tile by its block,
one groupBy and no join. Either way only the source tiles each
destination needs move through the shuffle. For warp that is GDAL's ChunkAndWarpImage chunk
list (gdalwarpoperation.cpp:808) restated as a deterministic dst-tile
table joined to its source window, with its 2-thread I/O-compute
overlap (:992-1050) generalized to all executors.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from . import geomlite as G
from .cells import (TILE_SIZE, clamp_tile, lonlat_to_meters,
                    meters_to_tile_tms, quadkey, tms_to_google)
from .synth import TILE_COLUMNS, TILE_SCHEMA, tile_row


# ----------------------------------------------------------- tile assignment
def assign_tiles(docs: DataFrame, zoom: int, lon_col: str = "lon",
                 lat_col: str = "lat") -> DataFrame:
    """Add (zoom, tile_x, tile_y, quadkey) — Google tile convention for
    x/y (gdal2tiles.py:445-449), Bing quadkey (:451-466). Pure columns,
    added in one projection; existing columns of those names are
    replaced in place."""
    mx, my = lonlat_to_meters(F.col(lon_col), F.col(lat_col))
    tx, ty_tms = meters_to_tile_tms(mx, my, zoom)
    tx = clamp_tile(tx, zoom)
    ty_tms = clamp_tile(ty_tms, zoom)
    return docs.withColumns({
        "zoom": F.lit(zoom),
        "tile_x": tx,
        "tile_y": tms_to_google(ty_tms, zoom),
        "quadkey": quadkey(tx, ty_tms, zoom),
    })


# ------------------------------------------------------------------ helpers
def _decode(data: bytes, dtype: str, h: int, w: int) -> np.ndarray:
    return np.frombuffer(data, dtype=np.dtype(dtype)).reshape(h, w)


_DTYPE_RANGES = {
    "uint8": (0, 255), "uint16": (0, 65535), "int16": (-32768, 32767),
    "uint32": (0, 4294967295), "int32": (-2147483648, 2147483647),
}


def _gdal_cast(arr: np.ndarray, out_dtype: str) -> np.ndarray:
    """GDALCopyWords semantics for float->int: +0.5 then clamp+floor
    (same convention the checksum uses, alg/gdalchecksum.cpp:118-131);
    int->int clamps to the destination range."""
    if out_dtype.startswith("float"):
        return arr.astype(out_dtype)
    lo, hi = _DTYPE_RANGES[out_dtype]
    if arr.dtype.kind == "f":
        v = np.floor(arr.astype(np.float64) + 0.5)
    else:
        v = arr.astype(np.float64)
    return np.clip(v, lo, hi).astype(out_dtype)


# ---------------------------------------------------------------- translate
def translate(
    tiles: DataFrame,
    window: tuple[int, int, int, int] | None = None,
    bands: list[int] | None = None,
    cast_to: str | None = None,
    scale: tuple[float, float] | None = None,
    pixel_window: tuple[int, int, int, int] | None = None,
    scale_range: tuple[float, float, float, float] | None = None,
    exponent: float | None = None,
) -> DataFrame:
    """gdal_translate as a tile-table op (apps/gdal_translate_lib.cpp):
    window = (tx0, ty0, tx1, ty1) inclusive tile range -> plain column
    filter (partition/file pruning does the subsetting); pixel_window
    = (px0, py0, w, h) in GLOBAL pixel coords (-srcwin) -> each tile
    emits its clipped piece (the result stays a tile table covering
    the window); band select -> filter; scale (a, b): v*a + b; cast
    with GDAL float->int rounding; scale_range = (src_min, src_max,
    dst_min, dst_max) is -scale's range remap — linear
    (v - smin) * ratio + dmin, or with `exponent` the VRT exponential
    scaling (frmts/vrt/vrtsources.cpp VRT_SCALING_EXPONENTIAL: the
    [0,1]-clipped power curve).

    Map-only: no shuffle at any scale."""
    out = tiles
    if window is not None:
        tx0, ty0, tx1, ty1 = window
        out = out.filter(
            (F.col("tile_x") >= tx0) & (F.col("tile_x") <= tx1)
            & (F.col("tile_y") >= ty0) & (F.col("tile_y") <= ty1)
        )
    if bands is not None:
        out = out.filter(F.col("band").isin(bands))
    if pixel_window is not None:
        px0, py0, pw, ph = pixel_window
        # prune tiles that can't intersect, then clip per tile
        out = out.filter(
            (F.col("tile_x") * F.col("width") < px0 + pw)
            & ((F.col("tile_x") + 1) * F.col("width") > px0)
            & (F.col("tile_y") * F.col("height") < py0 + ph)
            & ((F.col("tile_y") + 1) * F.col("height") > py0)
        )

        def clip(batches):
            for pdf in batches:
                rows = []
                for r in pdf.itertuples(index=False):
                    gx0 = int(r.tile_x) * int(r.width)
                    gy0 = int(r.tile_y) * int(r.height)
                    lx0 = max(px0 - gx0, 0)
                    ly0 = max(py0 - gy0, 0)
                    lx1 = min(px0 + pw - gx0, int(r.width))
                    ly1 = min(py0 + ph - gy0, int(r.height))
                    if lx0 >= lx1 or ly0 >= ly1:
                        continue
                    arr = _decode(r.data, r.dtype, r.height, r.width)
                    rows.append(tile_row(
                        r.raster_id, r.band, r.zoom, r.tile_x, r.tile_y,
                        arr[ly0:ly1, lx0:lx1], list(r.geotransform),
                        x0=lx0, y0=ly0, nodata=r.nodata, crs=r.crs,
                        dtype=r.dtype))
                yield pd.DataFrame(rows, columns=TILE_COLUMNS)

        out = out.mapInPandas(clip, schema=TILE_SCHEMA)
    if cast_to is None and scale is None and scale_range is None:
        return out

    dst_dtype = cast_to
    a, b = scale if scale is not None else (1.0, 0.0)

    def xform(batches):
        for pdf in batches:
            new_data = []
            new_dtype = []
            for r in pdf.itertuples(index=False):
                arr = _decode(r.data, r.dtype, r.height, r.width)
                if scale is not None:
                    arr = arr.astype(np.float64) * a + b
                if scale_range is not None:
                    smin, smax, dmin, dmax = scale_range
                    v = arr.astype(np.float64)
                    if exponent is not None:
                        p = np.clip((v - smin) / (smax - smin), 0.0, 1.0)
                        arr = (dmax - dmin) * np.power(p, exponent) + dmin
                    else:
                        ratio = (dmax - dmin) / (smax - smin)
                        arr = (v - smin) * ratio + dmin
                # gdal_translate keeps the source type unless -ot is given
                # (values clamp on write-back, GDALCopyWords semantics)
                dd = dst_dtype or r.dtype
                arr = _gdal_cast(arr, dd) if not (dd == str(arr.dtype)) else arr
                new_data.append(arr.tobytes())
                new_dtype.append(str(arr.dtype))
            pdf = pdf.copy()
            pdf["data"] = new_data
            pdf["dtype"] = new_dtype
            yield pdf

    return out.mapInPandas(xform, schema=TILE_SCHEMA)


# ------------------------------------------------------------ window gather
_SOURCE_KEY = ["raster_id", "band", "zoom"]


def full_tile_px(tiles: DataFrame) -> int:
    """The full tile size: the largest tile side (a partial edge tile
    is smaller). One small aggregate job."""
    return int(tiles.select(F.max(F.greatest("width", "height"))).first()[0])


def gather(tiles: DataFrame, wants: DataFrame, key: list[str], fn,
           schema: T.StructType) -> DataFrame:
    """The window gather — GDAL's source-window read (RasterIO,
    gcore/rasterio.cpp:207) as a tile-range join. `wants` holds one
    rectangle of source tiles per destination: the `key` columns plus
    tx0..tx1 x ty0..ty1 (inclusive); a want that carries raster_id,
    band or zoom reads only those tiles. Each rectangle is exploded
    into tile addresses and equi-joined to `tiles`; the tiles that
    arrive are grouped by the destination key plus their own
    raster_id, band and zoom, so bands and rasters never share a
    window, and `fn(key, pdf)` runs once per group (applyInPandas,
    `schema` out). Only the tiles a destination needs move through the
    shuffle; a rectangle that holds no tile yields no group."""
    own = [c for c in _SOURCE_KEY if c in wants.columns]
    carry = list(dict.fromkeys(key + own))
    cells = wants.select(
        *carry, F.explode(F.sequence("tx0", "tx1")).alias("tile_x"), "ty0", "ty1",
    ).select(*carry, "tile_x", F.explode(F.sequence("ty0", "ty1")).alias("tile_y"))
    joined = cells.join(tiles, own + ["tile_x", "tile_y"])
    group = list(dict.fromkeys(key + _SOURCE_KEY))
    return joined.groupBy(*group).applyInPandas(fn, schema=schema)


def paste(pdf: pd.DataFrame, fill: float, ts: int,
          window: tuple[int, int, int, int] | None = None,
          h: int = 0, crop: bool = True) -> np.ndarray:
    """The float64 window of one gathered group over tiles
    tx0..tx0+nx-1 x ty0..ty0+ny-1 (`window` = (tx0, ty0, nx, ny),
    default the bounding box of the tiles that arrived). Each tile
    lands at (tile index - window origin) * ts, ts the full tile size,
    by its own shape; `fill` stands where no tile arrived. A partial
    tile is the raster's edge, so with `crop` the window ends there;
    without it the window keeps all nx*ts x ny*ts pixels and `fill`
    stands past the edge. With h > 0 the rows carry `raster.halo`
    blocks and each tile lands with its h-px halo
    (`raster.halo_window`): the window grows by h on every side."""
    from .raster import halo_window  # raster imports this module

    if window is None:
        tx0, ty0 = int(pdf["tile_x"].min()), int(pdf["tile_y"].min())
        window = (tx0, ty0, int(pdf["tile_x"].max()) - tx0 + 1,
                  int(pdf["tile_y"].max()) - ty0 + 1)
    tx0, ty0, nx, ny = window
    W, H = nx * ts, ny * ts
    placed = []
    for r in pdf.itertuples(index=False):
        ox, oy = (int(r.tile_x) - tx0) * ts, (int(r.tile_y) - ty0) * ts
        if crop and r.width < ts:
            W = min(W, ox + int(r.width))
        if crop and r.height < ts:
            H = min(H, oy + int(r.height))
        placed.append((ox, oy, halo_window(r, h, fill) if h else
                       _decode(r.data, r.dtype, r.height, r.width)))
    win = np.full((H + 2 * h, W + 2 * h), fill, dtype=np.float64)
    for ox, oy, arr in placed:
        win[oy : oy + arr.shape[0], ox : ox + arr.shape[1]] = arr
    return win


# ------------------------------------------------------------------ overview
def _mode_firstmax(V: np.ndarray, OK: np.ndarray, nodata: float) -> np.ndarray:
    """GDAL mode tie-break over an arbitrary K-slot footprint
    (gdalwarpkernel.cpp:6240-6330 GWKAOM_Imode/Fmode): the winner is
    the value whose count FIRST reaches the maximum in footprint scan
    order. V, OK: (..., K) values/validity in row-major scan order."""
    K = V.shape[-1]
    eq = (V[..., :, None] == V[..., None, :]) & OK[..., :, None] & OK[..., None, :]
    cnt = np.where(OK, eq.sum(axis=-1), 0)
    cmax = cnt.max(axis=-1)
    tri = np.tril(np.ones((K, K), dtype=bool))
    rank = (eq & tri).sum(axis=-1)
    reach = np.where(OK & (rank == cmax[..., None]), np.arange(K), K + 1)
    win = reach.argmin(axis=-1)
    out = np.take_along_axis(V, win[..., None], axis=-1)[..., 0]
    return np.where(cmax > 0, out, nodata)


def _mode_2x2(q: np.ndarray, qv: np.ndarray, nodata: float) -> np.ndarray:
    """GDAL mode tie-break (overview.cpp:1913 GDALResampleChunk32R_Mode,
    byte histogram path): the winner is the value whose count FIRST
    reaches the maximum in row-major scan order. For the 4 slots,
    reach time of slot i = i when its occurrence rank equals the final
    max count, else +inf; winner = value at argmin reach."""
    cnt = (
        (q[:, :, :, None] == q[:, :, None, :]) & qv[:, :, :, None] & qv[:, :, None, :]
    ).sum(axis=3)
    cnt = np.where(qv, cnt, 0)
    cmax = cnt.max(axis=2)
    # occurrence rank of slot i among equal earlier slots
    eq = (q[:, :, :, None] == q[:, :, None, :]) & qv[:, :, :, None] & qv[:, :, None, :]
    tri = np.tril(np.ones((4, 4), dtype=bool))
    rank = (eq & tri[None, None]).sum(axis=3)
    reach = np.where(qv & (rank == cmax[:, :, None]), np.arange(4)[None, None, :], 99)
    win = reach.argmin(axis=2)
    ii, jj = np.mgrid[0 : q.shape[0], 0 : q.shape[1]]
    out = q[ii, jj, win]
    return np.where(cmax > 0, out, nodata)


_PARENT_KEY = ["raster_id", "band", "zoom", "p_tx", "p_ty"]


def group_blocks(tiles: DataFrame, k: int, fn) -> DataFrame:
    """The aligned-block exchange: each k x k block of tiles (p_tx,
    p_ty) = floor(tile / k) is one group, `fn(key, pdf)` runs once per
    group (applyInPandas, tile rows out). Every source tile feeds
    exactly one block, so the key is a pure function of the tile
    address: one groupBy, no join; the block is pasted like any
    gathered window."""
    return tiles.withColumns({
        "p_tx": F.floor(F.col("tile_x") / k).cast("int"),
        "p_ty": F.floor(F.col("tile_y") / k).cast("int"),
    }).groupBy(*_PARENT_KEY).applyInPandas(fn, schema=TILE_SCHEMA)


def _overview_row(key, pdf: pd.DataFrame, out: np.ndarray, ts: int) -> pd.DataFrame:
    """The parent tile of one overview group: doubled pixel size, its
    origin at the parent's 2x2 child block."""
    raster_id, band, zoom, p_tx, p_ty = key
    first = pdf.iloc[0]
    gt = list(first["geotransform"])
    x0 = gt[0] - (int(first["tile_x"]) - 2 * int(p_tx)) * ts * gt[1]
    y0 = gt[3] - (int(first["tile_y"]) - 2 * int(p_ty)) * ts * gt[5]
    return pd.DataFrame([tile_row(
        raster_id, int(band), int(zoom) - 1, int(p_tx), int(p_ty),
        _gdal_cast(out, first["dtype"]), [x0, gt[1] * 2, 0.0, y0, 0.0, gt[5] * 2],
        nodata=float(first["nodata"]), crs=first["crs"])])


def gauss_2x2(big: np.ndarray, nodata: float) -> np.ndarray:
    """3x3 binomial gauss at (2x, 2y) anchors with weight
    renormalization over valid taps (overview.cpp:1616
    GDALResampleChunk32R_Gauss, 2x ratio -> 3x3 matrix). `big` is
    (2h+1, 2w+1) with NaN where no source pixel exists."""
    k = np.array([[1.0, 2.0, 1.0], [2.0, 4.0, 2.0], [1.0, 2.0, 1.0]])
    H2, W2 = big.shape
    h, w = (H2 - 1) // 2, (W2 - 1) // 2
    num = np.zeros((h, w))
    den = np.zeros((h, w))
    for j in range(3):
        for i in range(3):
            v = big[j : j + 2 * h : 2, i : i + 2 * w : 2]
            ok = ~np.isnan(v) & (v != nodata)
            num += np.where(ok, v, 0.0) * k[j, i]
            den += np.where(ok, k[j, i], 0.0)
    return np.where(den > 0, num / np.maximum(den, 1e-300), nodata)


def build_overview(tiles: DataFrame, kernel: str = "average") -> DataFrame:
    """One pyramid level up (zoom-1): each output tile aggregates its
    <=4 children (gcore/overview.cpp — average :144 ff; nearest =
    upper-left of each 2x2 block; mode :1913 with GDAL's first-to-max
    tie-break; gauss :1616 3x3 binomial; rms with ComputeIntegerRMS
    rounding :365). Convolution kernels (cubic, lanczos) live in
    build_overview_conv. A parent over partial edge children ends
    where they do: ceil(extent / 2) pixels.

    Shuffle: the aligned-block exchange (group_blocks) of each
    parent's 2x2 children — fan-in bounded by 4, keys are tile ids, no
    skew possible. Gauss's 3x3 window reaches 1 px into the next parent
    block; that pixel comes from the halo exchange (raster.halo), so
    only edges cross parents."""
    if kernel not in ("average", "nearest", "mode", "gauss", "rms"):
        raise ValueError(f"unsupported overview kernel: {kernel}")
    reach = 1 if kernel == "gauss" else 0
    ts = full_tile_px(tiles)
    src = tiles
    if reach:
        from .raster import halo  # raster imports this module

        src = halo(tiles, reach)

    def agg(key, pdf: pd.DataFrame) -> pd.DataFrame:
        p_tx, p_ty = int(key[3]), int(key[4])
        first = pdf.iloc[0]
        nodata = float(first["nodata"])
        win = paste(pdf, np.nan, ts, (2 * p_tx, 2 * p_ty, 2, 2), reach)[reach:, reach:]
        # whole 2x2 blocks (+ the gauss tap) past an odd edge read NaN
        h, w = -(-(win.shape[0] - reach) // 2), -(-(win.shape[1] - reach) // 2)
        win = np.pad(win, ((0, 2 * h + reach - win.shape[0]),
                           (0, 2 * w + reach - win.shape[1])), constant_values=np.nan)
        if kernel == "gauss":
            return _overview_row(key, pdf, gauss_2x2(win, nodata), ts)
        valid = ~np.isnan(win) & (win != nodata)
        core = np.where(np.isnan(win), nodata, win)
        q = core.reshape(h, 2, w, 2).transpose(0, 2, 1, 3).reshape(h, w, 4)
        qv = valid.reshape(h, 2, w, 2).transpose(0, 2, 1, 3).reshape(h, w, 4)
        if kernel == "average":
            cnt = qv.sum(axis=2)
            s = np.where(qv, q, 0.0).sum(axis=2)
            with np.errstate(invalid="ignore", divide="ignore"):
                out = np.where(cnt > 0, s / np.maximum(cnt, 1), nodata)
        elif kernel == "rms":
            # sqrt(mean of squares); integer bands round to the
            # integer minimizing |rms^2 - mean| (overview.cpp:365
            # ComputeIntegerRMS), NOT the usual +0.5 cast
            cnt = qv.sum(axis=2)
            s = np.where(qv, q * q, 0.0).sum(axis=2)
            with np.errstate(invalid="ignore", divide="ignore"):
                m = s / np.maximum(cnt, 1)
            if np.dtype(first["dtype"]).kind in "ui":
                r = np.floor(np.sqrt(m))
                r = r + (2 * r * (r + 1) + 1 < 2 * m)
                out = np.where(cnt > 0, r, nodata)
            else:
                out = np.where(cnt > 0, np.sqrt(m), nodata)
        elif kernel == "mode":
            out = _mode_2x2(q, qv, nodata)
        else:  # nearest: upper-left of each 2x2 block
            out = core[0::2, 0::2]
        return _overview_row(key, pdf, out, ts)

    return group_blocks(src, 2, agg)


def build_overview_conv(tiles: DataFrame, kernel: str = "cubic") -> DataFrame:
    """Convolution overview kernels — cubic (Catmull-Rom) and lanczos
    (gcore/overview.cpp:2771 GDALResampleChunk32R_ConvolutionT at 2x:
    scale weight 0.5, scaled radius 2*r, so taps s = 2i+o with o in
    [1-2r, 2r] and CONSTANT per-axis weights w(o) = f(0.5*(o - 0.5))
    normalized by their sum). The kernel reaches up to 2r-1 source px
    beyond the 2x2 child block on every side, so each parent gathers
    its 4x4 child-tile neighborhood, origin 2p-1 (shuffle volume = 4x
    the child tiles, bounded fan-in of 16, no skew possible). Missing
    neighbors (raster edges) truncate the window and renormalize per
    axis — exactly the reference's chunk-clamp behavior — and a parent
    over partial edge children ends where they do."""
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

    w_o = np.array([wfun(0.5 * (o - 0.5)) for o in offs])
    ts = full_tile_px(tiles)
    parents = tiles.select(
        *_SOURCE_KEY,
        F.floor(F.col("tile_x") / 2).cast("int").alias("p_tx"),
        F.floor(F.col("tile_y") / 2).cast("int").alias("p_ty"),
    ).distinct()
    wants = parents.select(
        *_PARENT_KEY,
        (F.col("p_tx") * 2 - 1).alias("tx0"), (F.col("p_tx") * 2 + 2).alias("tx1"),
        (F.col("p_ty") * 2 - 1).alias("ty0"), (F.col("p_ty") * 2 + 2).alias("ty1"),
    )

    def agg(key, pdf: pd.DataFrame) -> pd.DataFrame:
        p_tx, p_ty = int(key[3]), int(key[4])
        win = paste(pdf, np.nan, ts, (2 * p_tx - 1, 2 * p_ty - 1, 4, 4))
        # the parent block is window [ts, 3ts); past a partial edge it ends
        oh = min(ts, -(-(win.shape[0] - ts) // 2))
        ow = min(ts, -(-(win.shape[1] - ts) // 2))
        mosaic = np.pad(win, ((0, 4 * ts - win.shape[0]), (0, 4 * ts - win.shape[1])),
                        constant_values=np.nan)
        # horizontal pass: Hf[:, i] = sum_o w_o * M[:, ts + 2i + o],
        # NaN taps drop out and the weight sum renormalizes
        num = np.zeros((4 * ts, ts))
        den = np.zeros((4 * ts, ts))
        for o, wt in zip(offs, w_o):
            v = mosaic[:, ts + o : ts + o + 2 * ts : 2]
            ok = ~np.isnan(v)
            num += np.where(ok, v, 0.0) * wt
            den += np.where(ok, wt, 0.0)
        with np.errstate(invalid="ignore", divide="ignore"):
            hf = np.where(den != 0, num / den, np.nan)
        num = np.zeros((ts, ts))
        den = np.zeros((ts, ts))
        for o, wt in zip(offs, w_o):
            v = hf[ts + o : ts + o + 2 * ts : 2, :]
            ok = ~np.isnan(v)
            num += np.where(ok, v, 0.0) * wt
            den += np.where(ok, wt, 0.0)
        with np.errstate(invalid="ignore", divide="ignore"):
            out = np.where(den != 0, num / den, float(pdf["nodata"].iloc[0]))
        return _overview_row(key, pdf, out[:oh, :ow], ts)

    return gather(tiles, wants, _PARENT_KEY, agg, TILE_SCHEMA)


# ---------------------------------------------------------------- warp
def warp_affine(
    tiles: DataFrame,
    src_zoom_origin: tuple[float, float],
    src_res: float,
    dst_origin: tuple[float, float],
    dst_res: float,
    dst_tiles_x: int,
    dst_tiles_y: int,
    kernel: str = "nearest",
    dst_raster_id: str = "warped",
    cutline_rings: list | None = None,
    tile_px: int | None = None,
    src_tile_px: int | None = None,
) -> DataFrame:
    """Warp between two affine grids (GDALWarpOperation restated).

    cutline_rings: optional list of (xs, ys) polygon rings in world
    coordinates — gdalwarp -cutline (apps/gdalwarp_lib.cpp:181-195):
    the rings rasterize against the SOURCE grid as a validity mask
    before resampling (alg/gdalcutline.cpp; source pixels whose center
    is outside become nodata), matching the reference's golden
    checksums 19139/14047 exactly (test_gdalwarp.py:441,458).
    BLEND_DIST feathering lives in cutline_blend_density (apply the
    density as the blend weight when composing onto existing raster
    content). Rings ship in the UDF
    closure (broadcast-sized, like the zone cover).

    The source is treated as a global pixel grid: tile (tx, ty) covers
    pixels [tx*256,(tx+1)*256) x [ty*256,(ty+1)*256); world x = x0 +
    px*res, y = y0 - py*res (north-up). The destination grid is given by
    its own origin/res and tile extent.

    Plan: enumerate dst tiles (deterministic, = GDAL's chunk list,
    gdalwarpoperation.cpp:808) -> compute each dst tile's conservative
    src tile window (the ComputeSourceWindow step) -> explode ->
    shuffle-join src tiles -> per-dst-tile grouped pandas UDF assembles
    the window and runs the numpy kernel (gdalwarpkernel.cpp:101-137).
    Only the src tiles actually needed move through the shuffle.
    """
    _FOOTPRINT = ("average", "sum", "rms", "min", "max",
                  "mode", "med", "q1", "q3")
    if kernel not in ("nearest", "bilinear", "cubic", "cubicspline",
                      "lanczos") + _FOOTPRINT:
        raise ValueError(f"unsupported warp kernel: {kernel}")
    sx0, sy0 = src_zoom_origin
    dx0, dy0 = dst_origin
    spark = tiles.sparkSession
    ts = tile_px if tile_px is not None else TILE_SIZE
    sts = src_tile_px if src_tile_px is not None else ts
    fp_margin = max(2, int(math.ceil(dst_res / src_res)) + 1)
    margin = {
        "nearest": 1, "bilinear": 2, "cubic": 3, "cubicspline": 3,
        "lanczos": 4,
        "average": fp_margin, "sum": fp_margin, "rms": fp_margin,
        "min": fp_margin, "max": fp_margin, "mode": fp_margin,
        "med": fp_margin, "q1": fp_margin, "q3": fp_margin,
    }[kernel]

    dst = spark.range(0, dst_tiles_x * dst_tiles_y, 1).select(
        (F.col("id") % dst_tiles_x).cast("int").alias("d_tx"),
        (F.col("id") / dst_tiles_x).cast("int").alias("d_ty"),
    )
    # dst tile world bounds -> src pixel bounds -> src tile range (pure cols)
    wx0 = F.lit(dx0) + F.col("d_tx") * ts * dst_res
    wx1 = F.lit(dx0) + (F.col("d_tx") + 1) * ts * dst_res
    wy1 = F.lit(dy0) - F.col("d_ty") * ts * dst_res
    wy0 = F.lit(dy0) - (F.col("d_ty") + 1) * ts * dst_res
    spx0 = (wx0 - sx0) / src_res
    spx1 = (wx1 - sx0) / src_res
    spy0 = (F.lit(sy0) - wy1) / src_res
    spy1 = (F.lit(sy0) - wy0) / src_res
    wants = dst.select(
        "d_tx", "d_ty",
        F.floor((spx0 - margin) / sts).cast("int").alias("tx0"),
        F.floor((spx1 + margin) / sts).cast("int").alias("tx1"),
        F.floor((spy0 - margin) / sts).cast("int").alias("ty0"),
        F.floor((spy1 + margin) / sts).cast("int").alias("ty1"),
    )

    def warp_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        d_tx, d_ty = int(key[0]), int(key[1])
        first = pdf.iloc[0]
        nodata = float(first["nodata"])
        tx_min, ty_min = int(pdf["tile_x"].min()), int(pdf["tile_y"].min())
        mosaic = paste(pdf, nodata, sts, crop=False)
        H, W = mosaic.shape

        if cutline_rings is not None:
            # GDAL applies the cutline as a SOURCE validity mask
            # (apps/gdalwarp_lib.cpp -> alg/gdalcutline.cpp rasterizes
            # it against the source grid before resampling) — verified
            # against test_gdalwarp.py goldens 19139/14047
            gj, gi = np.mgrid[0:H, 0:W]
            swx = sx0 + (tx_min * sts + gi + 0.5) * src_res
            swy = sy0 - (ty_min * sts + gj + 0.5) * src_res
            inside = np.zeros((H, W), dtype=bool)
            for rxs, rys in cutline_rings:
                inside |= G.pip_one(
                    swx.ravel(), swy.ravel(),
                    np.asarray(rxs, dtype=np.float64),
                    np.asarray(rys, dtype=np.float64),
                ).reshape(H, W)
            mosaic = np.where(inside, mosaic, nodata)

        # dst pixel centers -> world -> global src pixel coords
        jj, ii = np.mgrid[0:ts, 0:ts]
        wx = dx0 + (d_tx * ts + ii + 0.5) * dst_res
        wy = dy0 - (d_ty * ts + jj + 0.5) * dst_res
        spx = (wx - sx0) / src_res - 0.5
        spy = (sy0 - wy) / src_res - 0.5
        lx = spx - tx_min * sts
        ly = spy - ty_min * sts
        if kernel in ("average", "sum", "rms", "min", "max",
                      "mode", "med", "q1", "q3"):
            # GWKAverageOrMode family (alg/gdalwarpkernel.cpp
            # GRA_Average/Sum/RMS/Min/Max): reduce over the dst pixel's
            # integer source-pixel footprint. average/sum/rms evaluate
            # via summed-area tables (O(1)/pixel at any factor);
            # min/max walk the bounded footprint offsets with masking.
            fx0 = (dx0 + (d_tx * ts + ii) * dst_res - sx0) / src_res - tx_min * sts
            fy0 = (sy0 - (dy0 - (d_ty * ts + jj) * dst_res)) / src_res - ty_min * sts
            px0 = np.clip(np.floor(fx0 + 1e-8).astype(np.int64), 0, W - 1)
            px1 = np.clip(np.ceil(fx0 + dst_res / src_res - 1e-8).astype(np.int64), 1, W)
            py0 = np.clip(np.floor(fy0 + 1e-8).astype(np.int64), 0, H - 1)
            py1 = np.clip(np.ceil(fy0 + dst_res / src_res - 1e-8).astype(np.int64), 1, H)
            px1 = np.maximum(px1, px0 + 1)
            py1 = np.maximum(py1, py0 + 1)
            cnt = (px1 - px0) * (py1 - py0)
            if kernel in ("average", "sum", "rms"):
                base = mosaic * mosaic if kernel == "rms" else mosaic
                sat = np.zeros((H + 1, W + 1))
                sat[1:, 1:] = base.cumsum(axis=0).cumsum(axis=1)
                s = sat[py1, px1] - sat[py0, px1] - sat[py1, px0] + sat[py0, px0]
                if kernel == "sum":
                    out = s
                elif kernel == "average":
                    out = s / cnt
                else:
                    out = np.sqrt(s / cnt)
            elif kernel in ("min", "max"):
                fw = int((px1 - px0).max())
                fh = int((py1 - py0).max())
                acc = np.full(px0.shape, np.inf if kernel == "min" else -np.inf)
                for dy in range(fh):
                    yy_ = np.minimum(py0 + dy, H - 1)
                    ok_y = py0 + dy < py1
                    for dx_ in range(fw):
                        xx_ = np.minimum(px0 + dx_, W - 1)
                        ok = ok_y & (px0 + dx_ < px1)
                        v = mosaic[yy_, xx_]
                        if kernel == "min":
                            acc = np.where(ok, np.minimum(acc, v), acc)
                        else:
                            acc = np.where(ok, np.maximum(acc, v), acc)
                out = acc
            else:
                # GWKAOM_Fract/Quant family (GRA_Mode/Med/Q1/Q3,
                # alg/gdalwarpkernel.cpp:5882-6462): gather the integer
                # footprint in row-major scan order, then per-pixel
                # order statistics
                fw = int((px1 - px0).max())
                fh = int((py1 - py0).max())
                vals, oks = [], []
                for dy in range(fh):
                    yy_ = np.minimum(py0 + dy, H - 1)
                    ok_y = py0 + dy < py1
                    for dx_ in range(fw):
                        xx_ = np.minimum(px0 + dx_, W - 1)
                        oks.append(ok_y & (px0 + dx_ < px1))
                        vals.append(mosaic[yy_, xx_])
                V = np.stack(vals, axis=-1)  # (..., K) scan order
                OK = np.stack(oks, axis=-1)
                if kernel == "mode":
                    out = _mode_firstmax(V, OK, nodata)
                else:
                    # sort valid ascending; quantIdx = ceil(q*n - 1)
                    # (gdalwarpkernel.cpp:6454)
                    q = {"med": 0.5, "q1": 0.25, "q3": 0.75}[kernel]
                    Vs = np.sort(np.where(OK, V, np.inf), axis=-1)
                    n = OK.sum(axis=-1)
                    idx = np.maximum(
                        np.ceil(q * n - 1).astype(np.int64), 0)
                    out = np.take_along_axis(
                        Vs, idx[..., None], axis=-1)[..., 0]
                    out = np.where(n > 0, out, nodata)
        elif kernel == "nearest":
            xi = np.clip(np.round(lx).astype(np.int64), 0, W - 1)
            yi = np.clip(np.round(ly).astype(np.int64), 0, H - 1)
            out = mosaic[yi, xi]
        else:
            x0i = np.clip(np.floor(lx).astype(np.int64), 0, W - 1)
            y0i = np.clip(np.floor(ly).astype(np.int64), 0, H - 1)
            x1i = np.clip(x0i + 1, 0, W - 1)
            y1i = np.clip(y0i + 1, 0, H - 1)
            fx = np.clip(lx - x0i, 0.0, 1.0)
            fy = np.clip(ly - y0i, 0.0, 1.0)
            v00, v10 = mosaic[y0i, x0i], mosaic[y0i, x1i]
            v01, v11 = mosaic[y1i, x0i], mosaic[y1i, x1i]
            out = (
                v00 * (1 - fx) * (1 - fy) + v10 * fx * (1 - fy)
                + v01 * (1 - fx) * fy + v11 * fx * fy
            )
        if kernel == "cubic":
            # Catmull-Rom 4x4 cubic convolution, exact GDAL weights
            # (GWKCubicComputeWeights, alg/gdalwarpkernel.cpp:2650-2660)
            # with GDAL's bilinear fallback where the 4x4 support would
            # leave the image (GWKCubicResampleNoMasks4SampleT:3053) —
            # `out` currently holds that bilinear value
            ix = np.floor(lx).astype(np.int64)
            iy = np.floor(ly).astype(np.int64)
            dxf = lx - ix
            dyf = ly - iy
            interior = (ix - 1 >= 0) & (ix + 2 <= W - 1) & (iy - 1 >= 0) & (iy + 2 <= H - 1)

            def cubw(d):
                h = 0.5 * d
                h2 = h * d
                t = 3.0 * d
                return (h * (-1 + d * (2 - d)), 1 + h2 * (-5 + t),
                        h * (1 + d * (4 - t)), h2 * (-1 + d))

            wx = cubw(dxf)
            wy = cubw(dyf)
            ixc = np.clip(ix, 1, max(W - 3, 1))
            iyc = np.clip(iy, 1, max(H - 3, 1))
            cub = np.zeros_like(out)
            for j in range(-1, 3):
                row = (
                    mosaic[iyc + j, ixc - 1] * wx[0]
                    + mosaic[iyc + j, ixc] * wx[1]
                    + mosaic[iyc + j, ixc + 1] * wx[2]
                    + mosaic[iyc + j, ixc + 2] * wx[3]
                )
                cub = cub + row * wy[j + 1]
            out = np.where(interior, cub, out)
        if kernel == "cubicspline":
            # Cubic B-Spline 4x4 (GWKBSpline, alg/gdalwarpkernel.cpp
            # :3239; unnormalized basis, normalized by the weight sum
            # like GWKResampleNoMasksT:3781), bilinear fallback where
            # the 4x4 support would leave the window (`out` currently
            # holds that bilinear value)
            ix = np.floor(lx).astype(np.int64)
            iy = np.floor(ly).astype(np.int64)
            dxf = lx - ix
            dyf = ly - iy
            interior = (ix - 1 >= 0) & (ix + 2 <= W - 1) & (iy - 1 >= 0) & (iy + 2 <= H - 1)

            def bspl(x):
                # xp2^3 - 4*xp1^3 + 6*x^3 - 4*xm1^3, each term gated on
                # positivity (x in (-2, 2)); scale cancels in the
                # normalization
                t = 0.0
                for c, off in ((1.0, 2.0), (-4.0, 1.0), (6.0, 0.0), (-4.0, -1.0)):
                    xo = x + off
                    t = t + c * np.where(xo > 0, xo * xo * xo, 0.0)
                return t

            # taps at ix-1..ix+2; argument = (tap - ix) - dxf
            wx = [bspl(k - dxf) for k in range(-1, 3)]
            wy = [bspl(k - dyf) for k in range(-1, 3)]
            wsx = sum(wx)
            wsy = sum(wy)
            ixc = np.clip(ix, 1, max(W - 3, 1))
            iyc = np.clip(iy, 1, max(H - 3, 1))
            acc = np.zeros_like(out)
            for j in range(-1, 3):
                row = (
                    mosaic[iyc + j, ixc - 1] * wx[0]
                    + mosaic[iyc + j, ixc] * wx[1]
                    + mosaic[iyc + j, ixc + 1] * wx[2]
                    + mosaic[iyc + j, ixc + 2] * wx[3]
                )
                acc = acc + row * wy[j + 1]
            out = np.where(interior, acc / (wsx * wsy), out)
        if kernel == "lanczos":
            # Lanczos-3 windowed sinc (GWKLanczosSinc,
            # alg/gdalwarpkernel.cpp:874-905; radius 3 per
            # anGWKFilterRadius), weights normalized by their sum like
            # GWKResampleOptimizedLanczos; bilinear fallback where the
            # 6x6 support would leave the assembled window (`out`
            # currently holds that bilinear value)
            ix = np.floor(lx).astype(np.int64)
            iy = np.floor(ly).astype(np.int64)
            dxf = lx - ix
            dyf = ly - iy
            interior = (ix - 2 >= 0) & (ix + 3 <= W - 1) & (iy - 2 >= 0) & (iy + 3 <= H - 1)
            ixc = np.clip(ix, 2, max(W - 4, 2))
            iyc = np.clip(iy, 2, max(H - 4, 2))

            def lweight(d):
                # normalized sinc(d) * sinc(d/3), |d| < 3
                a = np.pi * d
                with np.errstate(divide="ignore", invalid="ignore"):
                    w = np.where(
                        np.abs(d) < 1e-12,
                        1.0,
                        3.0 * np.sin(a) * np.sin(a / 3.0) / (a * a),
                    )
                return np.where(np.abs(d) >= 3.0, 0.0, w)

            wxs = [lweight(dxf - k) for k in range(-2, 4)]
            wys = [lweight(dyf - k) for k in range(-2, 4)]
            wsum_x = sum(wxs)
            wsum_y = sum(wys)
            acc = np.zeros_like(out)
            for j, wy_ in enumerate(wys):
                row = np.zeros_like(out)
                for i, wx_ in enumerate(wxs):
                    row = row + mosaic[iyc + j - 2, ixc + i - 2] * wx_
                acc = acc + row * wy_
            acc = acc / (wsum_x * wsum_y)
            out = np.where(interior, acc, out)
        return pd.DataFrame([tile_row(
            dst_raster_id, int(first["band"]), int(first["zoom"]), d_tx,
            d_ty, _gdal_cast(out, str(first["dtype"])),
            (dx0, dst_res, 0.0, dy0, 0.0, -dst_res), x0=d_tx * ts,
            y0=d_ty * ts, nodata=nodata, crs=first["crs"])])

    return gather(tiles, wants, ["d_tx", "d_ty"], warp_group, TILE_SCHEMA)


def suggested_warp_output(src_origin: tuple[float, float], src_res: float,
                          src_w_px: int, src_h_px: int, fwd_transform,
                          samples: int = 21):
    """GDALSuggestedWarpOutput (alg/gdaltransformer.cpp:1384): sample a
    lattice over the source extent through the forward transform
    (src world -> dst world) and return (dst_origin, dst_res, dst_w_px,
    dst_h_px) covering the image of the source, pixel count preserved
    along the larger axis. Driver-side, O(samples^2) — same cost class
    as the reference's 21-point edge walk."""
    sx0, sy0 = src_origin
    xs = np.linspace(sx0, sx0 + src_w_px * src_res, samples)
    ys = np.linspace(sy0 - src_h_px * src_res, sy0, samples)
    gx, gy = np.meshgrid(xs, ys)
    dx, dy = fwd_transform(gx.ravel(), gy.ravel())
    ok = np.isfinite(dx) & np.isfinite(dy)
    xmin, xmax = float(dx[ok].min()), float(dx[ok].max())
    ymin, ymax = float(dy[ok].min()), float(dy[ok].max())
    res = max((xmax - xmin) / src_w_px, (ymax - ymin) / src_h_px)
    w = int(math.ceil((xmax - xmin) / res))
    h = int(math.ceil((ymax - ymin) / res))
    return (xmin, ymax), res, w, h


def warp_transform(
    tiles: DataFrame,
    src_origin: tuple[float, float],
    src_res: float,
    dst_origin: tuple[float, float],
    dst_res: float,
    dst_tiles_x: int,
    dst_tiles_y: int,
    inv_transform,
    kernel: str = "nearest",
    dst_raster_id: str = "reprojected",
    dst_crs: str = "custom",
    tile_px: int | None = None,
    src_tile_px: int | None = None,
    window_samples: int = 11,
) -> DataFrame:
    """gdalwarp with a GENERAL coordinate transformer — the -t_srs
    reprojection core (GDALGenImgProjTransformer, alg/gdaltransformer
    .cpp:1000; GDALWarpOperation per-chunk source-window computation,
    alg/gdalwarpoperation.cpp:2118 samples boundary points the same
    way). `inv_transform` is a picklable vectorized numpy function
    (dst world xs, ys) -> (src world xs, ys) — the composition
    inverse-dst-projection -> [datum step] -> forward-src-projection;
    build it from crs.grid_transform_np / datum.* numpy backends. It
    ships to executors inside the UDF closures.

    Plan (all distributed, two stages):
      1. mapInPandas over the dst tile list: each tile's conservative
         source window from a transformed window_samples^2 lattice
         (+ kernel margin + curvature slack).
      2. explode the window -> shuffle-join the source tile table ->
         per-dst-tile grouped pandas UDF inverse-transforms the dst
         pixel-center lattice (vectorized, one call per tile) and
         samples the assembled window. Pixels whose preimage falls
         outside the source become nodata.

    Kernels: nearest / bilinear (GDAL's default near and the common
    reprojection choice). Dst tiles whose preimage intersects no
    source tile produce no row, like warp_affine."""
    if kernel not in ("nearest", "bilinear"):
        raise ValueError(f"unsupported warp_transform kernel: {kernel}")
    sx0, sy0 = src_origin
    dx0, dy0 = dst_origin
    spark = tiles.sparkSession
    ts = tile_px if tile_px is not None else TILE_SIZE
    sts = src_tile_px if src_tile_px is not None else ts
    margin = {"nearest": 1, "bilinear": 2}[kernel] + 2  # + curvature slack
    nsamp = window_samples

    dst = spark.range(0, dst_tiles_x * dst_tiles_y, 1).select(
        (F.col("id") % dst_tiles_x).cast("int").alias("d_tx"),
        (F.col("id") / dst_tiles_x).cast("int").alias("d_ty"),
    )

    win_schema = T.StructType(
        [T.StructField(c, T.IntegerType())
         for c in ("d_tx", "d_ty", "tx0", "tx1", "ty0", "ty1")])

    def windows(batches):
        lin = np.linspace(0.0, 1.0, nsamp)
        for pdf in batches:
            rows = []
            for tx, ty in zip(pdf["d_tx"], pdf["d_ty"]):
                wx0 = dx0 + int(tx) * ts * dst_res
                wy1 = dy0 - int(ty) * ts * dst_res
                gx, gy = np.meshgrid(wx0 + lin * ts * dst_res,
                                     wy1 - lin * ts * dst_res)
                sxw, syw = inv_transform(gx.ravel(), gy.ravel())
                ok = np.isfinite(sxw) & np.isfinite(syw)
                if not ok.any():
                    continue
                spx = (sxw[ok] - sx0) / src_res
                spy = (sy0 - syw[ok]) / src_res
                rows.append((int(tx), int(ty),
                             int(np.floor((spx.min() - margin) / sts)),
                             int(np.floor((spx.max() + margin) / sts)),
                             int(np.floor((spy.min() - margin) / sts)),
                             int(np.floor((spy.max() + margin) / sts))))
            yield pd.DataFrame(rows, columns=win_schema.fieldNames())

    wants = dst.mapInPandas(windows, schema=win_schema)

    def warp_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        d_tx, d_ty = int(key[0]), int(key[1])
        first = pdf.iloc[0]
        nodata = float(first["nodata"])
        tx_min, ty_min = int(pdf["tile_x"].min()), int(pdf["tile_y"].min())
        mosaic = paste(pdf, nodata, sts, crop=False)
        H, W = mosaic.shape

        jj, ii = np.mgrid[0:ts, 0:ts]
        wxp = dx0 + (d_tx * ts + ii + 0.5) * dst_res
        wyp = dy0 - (d_ty * ts + jj + 0.5) * dst_res
        sxw, syw = inv_transform(wxp.ravel(), wyp.ravel())
        # global source pixel coords, then window-local (exact integer
        # shift — bit-identical to the single-node oracle's global lx)
        spx = (np.asarray(sxw) - sx0) / src_res - 0.5
        spy = (sy0 - np.asarray(syw)) / src_res - 0.5
        lx = (spx - tx_min * sts).reshape(ts, ts)
        ly = (spy - ty_min * sts).reshape(ts, ts)
        valid = (np.isfinite(lx) & np.isfinite(ly) &
                 (lx > -0.5) & (lx < W - 0.5) &
                 (ly > -0.5) & (ly < H - 0.5))
        lxs = np.where(valid, lx, 0.0)
        lys = np.where(valid, ly, 0.0)
        if kernel == "nearest":
            xi = np.clip(np.round(lxs).astype(np.int64), 0, W - 1)
            yi = np.clip(np.round(lys).astype(np.int64), 0, H - 1)
            out = mosaic[yi, xi]
        else:
            x0i = np.clip(np.floor(lxs).astype(np.int64), 0, W - 1)
            y0i = np.clip(np.floor(lys).astype(np.int64), 0, H - 1)
            x1i = np.clip(x0i + 1, 0, W - 1)
            y1i = np.clip(y0i + 1, 0, H - 1)
            fx = np.clip(lxs - x0i, 0.0, 1.0)
            fy = np.clip(lys - y0i, 0.0, 1.0)
            out = (mosaic[y0i, x0i] * (1 - fx) * (1 - fy)
                   + mosaic[y0i, x1i] * fx * (1 - fy)
                   + mosaic[y1i, x0i] * (1 - fx) * fy
                   + mosaic[y1i, x1i] * fx * fy)
        out = np.where(valid, out, nodata)
        return pd.DataFrame([tile_row(
            dst_raster_id, int(first["band"]), int(first["zoom"]), d_tx,
            d_ty, _gdal_cast(out, str(first["dtype"])),
            (dx0, dst_res, 0.0, dy0, 0.0, -dst_res), x0=d_tx * ts,
            y0=d_ty * ts, nodata=nodata, crs=dst_crs)])

    return gather(tiles, wants, ["d_tx", "d_ty"], warp_group, TILE_SCHEMA)


def cutline_blend_density(
    tiles: DataFrame,
    cutline_rings: list,
    blend_dist_px: float,
    src_zoom_origin: tuple[float, float],
    src_res: float,
    tile_px: int | None = None,
    dst_raster_id: str = "cutline_density",
) -> DataFrame:
    """Cutline BLEND_DIST feather mask (gdalwarp -cblend;
    alg/gdalcutline.cpp:70 BlendMaskGenerator): per SOURCE pixel
    center, distance to the cutline BOUNDARY (the reference converts
    the polygon to lines "so that we measure distance from the edge
    even on the inside") in pixel units; density =
        inside,  dist > blend : 1
        outside, dist > blend : 0
        inside,  dist <= blend: 0.5 + 0.5 * dist / blend
        outside, dist <= blend: 0.5 - 0.5 * dist / blend   (:208-213)
    Returned as float64 tiles; when warping onto EXISTING raster
    content the density is the per-pixel blend weight (out = src * d +
    dst * (1 - d), GDALWarpOperation's density combination). Map-only:
    rings ride the closure, every tile computes its own pixels."""
    sx0, sy0 = src_zoom_origin
    ts = tile_px if tile_px is not None else TILE_SIZE
    rings_px = [
        (
            (np.asarray(rxs, np.float64) - sx0) / src_res,
            (sy0 - np.asarray(rys, np.float64)) / src_res,
        )
        for rxs, rys in cutline_rings
    ]

    def run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                h, w = int(r.height), int(r.width)
                jj, ii = np.mgrid[0:h, 0:w]
                px = (int(r.tile_x) * ts + ii + 0.5).ravel().astype(np.float64)
                py = (int(r.tile_y) * ts + jj + 0.5).ravel().astype(np.float64)
                inside = np.zeros(px.shape, dtype=bool)
                d2 = np.full(px.shape, np.inf)
                for xs, ys in rings_px:
                    inside ^= G.pip_one(px, py, xs, ys)
                    ax, ay = xs, ys
                    bx, by = np.roll(xs, -1), np.roll(ys, -1)
                    dx, dy = bx - ax, by - ay
                    L2 = np.maximum(dx * dx + dy * dy, 1e-300)
                    t = np.clip(
                        ((px[:, None] - ax) * dx + (py[:, None] - ay) * dy) / L2,
                        0.0, 1.0,
                    )
                    cx = ax + t * dx
                    cy = ay + t * dy
                    d2 = np.minimum(
                        d2, ((px[:, None] - cx) ** 2
                             + (py[:, None] - cy) ** 2).min(axis=1)
                    )
                dist = np.sqrt(d2)
                far = dist > blend_dist_px
                dens = np.where(
                    far,
                    inside.astype(np.float64),
                    np.where(inside, 0.5 + 0.5 * dist / blend_dist_px,
                             0.5 - 0.5 * dist / blend_dist_px),
                )
                rows.append(tile_row(
                    dst_raster_id, r.band, r.zoom, r.tile_x, r.tile_y,
                    dens.reshape(h, w), r.geotransform, nodata=r.nodata,
                    crs=r.crs, dtype="float64"))
            yield pd.DataFrame(rows, columns=TILE_COLUMNS)

    return tiles.mapInPandas(run, schema=TILE_SCHEMA)


# ---------------------------------------------------------------- checksum
CHECKSUM_SCHEMA = T.StructType(
    [
        T.StructField("raster_id", T.StringType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("zoom", T.IntegerType()),
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("tile_y", T.IntegerType()),
        T.StructField("checksum", T.LongType()),
    ]
)


def best_overview_level(
    full_x: int, full_y: int, ov_sizes: list[tuple[int, int]],
    nxoff: int, nyoff: int, nxsize: int, nysize: int,
    nbufx: int, nbufy: int,
) -> tuple[int, tuple[int, int, int, int]]:
    """Faithful port of GDALBandGetBestOverviewLevel2
    (gcore/rasterio.cpp:3648): pick the most-downsampled pyramid level
    whose resolution stays under 1.2x the requested decimation, and
    re-express the source window in that level's pixel space. Returns
    (level index or -1, (xoff, yoff, xsize, ysize)); -1 keeps the
    full-resolution window. Pure metadata arithmetic — this is the
    planner that decides which tile TABLE a decimated read scans."""
    if (nxsize / float(nbufx)) < (nysize / float(nbufy)) or nbufy == 1:
        desired = nxsize / float(nbufx)
    else:
        desired = nysize / float(nbufy)
    best = -1
    best_res = 0.0
    for i, (ox, oy) in enumerate(ov_sizes):
        if ox > full_x or oy > full_y:
            continue
        if (full_x / float(ox)) < (full_y / float(oy)):
            res = full_x / float(ox)
        else:
            res = full_y / float(oy)
        if res >= desired * 1.2 or res <= best_res:
            continue
        best = i
        best_res = res
    if best < 0:
        return -1, (nxoff, nyoff, nxsize, nysize)
    bx, by = ov_sizes[best]
    xres = full_x / float(bx)
    yres = full_y / float(by)
    oxoff = min(bx - 1, int(nxoff / xres + 0.5))
    oyoff = min(by - 1, int(nyoff / yres + 0.5))
    oxsize = max(1, int(nxsize / xres + 0.5))
    oysize = max(1, int(nysize / yres + 0.5))
    if oxoff + oxsize > bx:
        oxsize = bx - oxoff
    if oyoff + oysize > by:
        oysize = by - oyoff
    return best, (oxoff, oyoff, oxsize, oysize)


def checksum_table(tiles: DataFrame) -> DataFrame:
    """Per-tile GDAL checksum (alg/gdalchecksum.cpp:64-180) — the
    raster golden-test oracle. Map-only."""

    def cks(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "raster_id": pdf["raster_id"],
                    "band": pdf["band"].astype(np.int32),
                    "zoom": pdf["zoom"].astype(np.int32),
                    "tile_x": pdf["tile_x"].astype(np.int32),
                    "tile_y": pdf["tile_y"].astype(np.int32),
                    "checksum": [
                        G.gdal_checksum(_decode(r.data, r.dtype, r.height, r.width))
                        for r in pdf.itertuples(index=False)
                    ],
                }
            )

    return tiles.mapInPandas(cks, schema=CHECKSUM_SCHEMA)


# ------------------------------------------------------------------ mosaic
def mosaic(tile_tables: list[DataFrame]) -> DataFrame:
    """VRT-style virtual mosaic (apps/gdalbuildvrt_lib.cpp:1684): later
    tables take priority on overlapping tiles — unionByName + keep the
    highest-priority row per tile key (row_number window)."""
    tagged = [
        t.withColumn("_prio", F.lit(i)) for i, t in enumerate(tile_tables)
    ]
    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionByName(t, allowMissingColumns=True)
    w = Window.partitionBy("band", "zoom", "tile_x", "tile_y").orderBy(F.desc("_prio"))
    return (
        u.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_prio")
    )


def stack_separate(tile_tables: list[DataFrame],
                   dst_raster_id: str = "stack") -> DataFrame:
    """gdalbuildvrt -separate (apps/gdalbuildvrt_lib.cpp: each input
    becomes its own band of the VRT instead of mosaicking): input i's
    band-1 tiles are renumbered to band i+1 under one raster id. Pure
    unionByName + literal columns — no shuffle, no pixel rewrite."""
    parts = [
        t.withColumn("band", F.lit(i + 1).cast("int"))
        .withColumn("raster_id", F.lit(dst_raster_id))
        for i, t in enumerate(tile_tables)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p, allowMissingColumns=True)
    return u


def upsample_nearest(tiles: DataFrame, factor: int,
                     dst_raster_id: str | None = None) -> DataFrame:
    """Integer-factor nearest upsample (gdal_translate -outsize N00%
    with the default nearest kernel): dst pixel p maps to src p//factor
    — exactly np.repeat on both axes. Map-only per tile."""

    def run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = _decode(r.data, r.dtype, r.height, r.width)
                big = np.repeat(np.repeat(arr, factor, axis=0), factor, axis=1)
                gt = list(r.geotransform)
                gt[1] = gt[1] / factor
                gt[5] = gt[5] / factor
                rows.append(tile_row(
                    dst_raster_id or r.raster_id, r.band, r.zoom, r.tile_x,
                    r.tile_y, big, gt, nodata=r.nodata, crs=r.crs,
                    dtype=r.dtype))
            yield pd.DataFrame(rows, columns=TILE_COLUMNS)

    return tiles.mapInPandas(run, schema=TILE_SCHEMA)


def retile(tiles: DataFrame, new_px: int,
           dst_raster_id: str | None = None) -> DataFrame:
    """Re-chunk the tile grid to `new_px` tiles (gdal_retile.py /
    gdal_merge.py): splitting (new < old) is map-only — each tile emits
    its sub-tiles; coarsening (new > old, must divide evenly) groups
    each output tile's k x k block of tiles (group_blocks, origin k*n)
    and pastes it. The old tile size is the largest tile side;
    partial edge tiles (right and bottom, top-down grids) stay partial
    both ways."""
    old_px = full_tile_px(tiles)
    if new_px == old_px:
        return tiles
    if old_px % new_px == 0:  # split: map-only
        k = old_px // new_px

        def split(batches):
            for pdf in batches:
                rows = []
                for r in pdf.itertuples(index=False):
                    arr = _decode(r.data, r.dtype, r.height, r.width)
                    gt = list(r.geotransform)
                    for sy in range(0, arr.shape[0], new_px):
                        for sx in range(0, arr.shape[1], new_px):
                            rows.append(tile_row(
                                dst_raster_id or r.raster_id, r.band, r.zoom,
                                int(r.tile_x) * k + sx // new_px,
                                int(r.tile_y) * k + sy // new_px,
                                arr[sy:sy + new_px, sx:sx + new_px],
                                [gt[0] + sx * gt[1], gt[1], 0.0,
                                 gt[3] + sy * gt[5], 0.0, gt[5]],
                                nodata=r.nodata, crs=r.crs, dtype=r.dtype))
                yield pd.DataFrame(rows, columns=TILE_COLUMNS)

        return tiles.mapInPandas(split, schema=TILE_SCHEMA)

    if new_px % old_px != 0:
        raise ValueError("new_px must divide or be a multiple of the old size")
    k = new_px // old_px

    def coarsen(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ntx, nty = int(key[3]), int(key[4])
        f0 = pdf.iloc[0]
        big = paste(pdf, float(f0["nodata"]), old_px, (ntx * k, nty * k, k, k))
        gt = list(f0["geotransform"])
        ox0 = (int(f0["tile_x"]) - ntx * k) * old_px
        oy0 = (int(f0["tile_y"]) - nty * k) * old_px
        return pd.DataFrame([tile_row(
            dst_raster_id or str(f0["raster_id"]), int(f0["band"]),
            int(f0["zoom"]), ntx, nty, _gdal_cast(big, str(f0["dtype"])),
            (gt[0], gt[1], 0.0, gt[3], 0.0, gt[5]), x0=-ox0, y0=-oy0,
            nodata=float(f0["nodata"]), crs=str(f0["crs"]))])

    return group_blocks(tiles, k, coarsen)
