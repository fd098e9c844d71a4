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
  warp            — chunked inverse-mapping resample (alg/gdalwarpoperation.cpp:116-157)
                    on affine grids or through a general transformer (-t_srs)
  resample        — its one kernel (alg/gdalwarpkernel.cpp:101-137): near/bilinear/
                    cubic/cubicspline/lanczos and the average..q3 footprints,
                    one validity mask
  retile          — re-chunk the grid (gdal_retile.py)
  checksum_table  — GDAL checksum per tile           (alg/gdalchecksum.cpp:64-180)
  mosaic          — VRT-style priority resolve       (apps/gdalbuildvrt_lib.cpp:1684)

Scale notes: translate/checksum are map-only. Every operator whose
output tile reads a window of source tiles — warp, both overviews,
retile's coarsen, raster.viewshed — builds it with the one paste.
Where a source tile feeds several destinations (warp,
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
          h: int = 0) -> np.ndarray:
    """The float64 window of one gathered group over tiles
    tx0..tx0+nx-1 x ty0..ty0+ny-1 (`window` = (tx0, ty0, nx, ny),
    default the bounding box of the tiles that arrived). Each tile
    lands at (tile index - window origin) * ts, ts the full tile size,
    by its own shape; `fill` stands where no tile arrived. A partial
    tile is the raster's edge, so the window ends there. With h > 0
    the rows carry `raster.halo` blocks and each tile lands with its
    h-px halo (`raster.halo_window`): the window grows by h on every
    side."""
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
        if r.width < ts:
            W = min(W, ox + int(r.width))
        if r.height < ts:
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
    # f is the warp's filter: at distance x its weight is tap ceil(x)
    # at fraction ceil(x) - x
    first, taps = _FILTERS[kernel]
    w_o = np.array([taps(math.ceil(x) - x)[math.ceil(x) - first]
                    for x in (0.5 * (o - 0.5) for o in offs)])
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
# The filters' tap weights at fraction d of a source pixel, for taps
# first .. first + n - 1 about floor(x) (GWKGetFilterFunc and
# anGWKFilterRadius, alg/gdalwarpkernel.cpp). resample convolves with
# them; build_overview_conv samples them at its fixed 2x taps.
def _cubic(d):
    """Catmull-Rom (GWKCubicComputeWeights, :2650-2660)."""
    h = 0.5 * d
    h2 = h * d
    t = 3.0 * d
    return [h * (-1 + d * (2 - d)), 1 + h2 * (-5 + t),
            h * (1 + d * (4 - t)), h2 * (-1 + d)]


def _bspline(d):
    """Cubic B-spline (GWKBSpline, :3239), unnormalized: at x = tap - d,
    xp2^3 - 4*xp1^3 + 6*x^3 - 4*xm1^3, each term gated on positivity."""
    taps = []
    for k in range(-1, 3):
        t = 0.0
        for c, off in ((1.0, 2.0), (-4.0, 1.0), (6.0, 0.0), (-4.0, -1.0)):
            xo = (k - d) + off
            t = t + c * np.where(xo > 0, xo * xo * xo, 0.0)
        taps.append(t)
    return taps


def _lanczos(d):
    """Lanczos-3 windowed sinc (GWKLanczosSinc, :874-905): sinc(x) *
    sinc(x / 3) at x = d - tap, zero from |x| = 3."""
    taps = []
    for k in range(-2, 4):
        x = d - k
        a = np.pi * x
        with np.errstate(divide="ignore", invalid="ignore"):
            w = np.where(np.abs(x) < 1e-12, 1.0,
                         3.0 * np.sin(a) * np.sin(a / 3.0) / (a * a))
        taps.append(np.where(np.abs(x) >= 3.0, 0.0, w))
    return taps


_FILTERS = {"cubic": (-1, _cubic), "cubicspline": (-1, _bspline),
            "lanczos": (-2, _lanczos)}
_FOOTPRINT = ("average", "sum", "rms", "min", "max", "mode", "med", "q1", "q3")
_KERNELS = ("nearest", "bilinear", *_FILTERS, *_FOOTPRINT)


def _convolve(window: np.ndarray, valid: np.ndarray, x0, y0, wx, wy,
              kernel: str, nodata: float) -> np.ndarray:
    """The separable sum over taps x0 + i, y0 + j (clamped to the
    window) weighted wx[i] * wy[j]: the kernel's own formula where
    every tap is valid, elsewhere the valid taps' weighted mean
    (GWKResample), nodata where their weight is under 1e-6 of the
    whole."""
    H, W = window.shape
    xs = [np.clip(x0 + i, 0, W - 1) for i in range(len(wx))]
    ys = [np.clip(y0 + j, 0, H - 1) for j in range(len(wy))]
    V = [[window[y, x] for x in xs] for y in ys]
    M = [[valid[y, x] for x in xs] for y in ys]
    if kernel == "bilinear":  # one term per tap, the oracles' order
        out = sum(v * a * b for row, b in zip(V, wy) for v, a in zip(row, wx))
    else:
        out = sum(sum(v * a for v, a in zip(row, wx)) * b for row, b in zip(V, wy))
        if kernel != "cubic":
            out = out / (sum(wx) * sum(wy))
    clean = np.logical_and.reduce([m for row in M for m in row])
    if clean.all():
        return out
    num = den = 0.0
    for vrow, mrow, b in zip(V, M, wy):
        for v, m, a in zip(vrow, mrow, wx):
            w = np.where(m, a * b, 0.0)
            num = num + np.where(m, v, 0.0) * w
            den = den + w
    with np.errstate(invalid="ignore", divide="ignore"):
        part = np.where(den >= 1e-6 * sum(wx) * sum(wy), num / den, nodata)
    return np.where(clean, out, part)


def _footprint(window: np.ndarray, valid: np.ndarray, lx, ly, kernel: str,
               nodata: float, ratio: float) -> np.ndarray:
    """GWKAverageOrMode (GRA_Average .. GRA_Q3, alg/gdalwarpkernel.cpp
    :5882-6462): reduce the valid pixels of each destination pixel's
    integer source footprint, `ratio` source pixels wide about (lx,
    ly) and clamped to the window. average/sum/rms read summed-area
    tables (O(1) a pixel at any ratio); the others walk the footprint
    in row-major scan order."""
    H, W = window.shape
    fx0 = lx + 0.5 - 0.5 * ratio
    fy0 = ly + 0.5 - 0.5 * ratio
    px0 = np.clip(np.floor(fx0 + 1e-8).astype(np.int64), 0, W - 1)
    px1 = np.clip(np.ceil(fx0 + ratio - 1e-8).astype(np.int64), 1, W)
    py0 = np.clip(np.floor(fy0 + 1e-8).astype(np.int64), 0, H - 1)
    py1 = np.clip(np.ceil(fy0 + ratio - 1e-8).astype(np.int64), 1, H)
    px1 = np.maximum(px1, px0 + 1)
    py1 = np.maximum(py1, py0 + 1)
    if kernel in ("average", "sum", "rms"):
        def box(a):
            sat = np.zeros((H + 1, W + 1))
            sat[1:, 1:] = a.cumsum(axis=0).cumsum(axis=1)
            return sat[py1, px1] - sat[py0, px1] - sat[py1, px0] + sat[py0, px0]

        s = box(np.where(valid, window * window if kernel == "rms" else window, 0.0))
        n = box(valid.astype(np.float64))
        with np.errstate(invalid="ignore", divide="ignore"):
            out = s if kernel == "sum" else s / n
        if kernel == "rms":
            out = np.sqrt(out)
        return np.where(n > 0, out, nodata)

    def scan():
        for dy in range(int((py1 - py0).max())):
            yy = np.minimum(py0 + dy, H - 1)
            for dx in range(int((px1 - px0).max())):
                xx = np.minimum(px0 + dx, W - 1)
                yield window[yy, xx], (py0 + dy < py1) & (px0 + dx < px1) & valid[yy, xx]

    if kernel in ("min", "max"):
        pick = np.minimum if kernel == "min" else np.maximum
        acc = np.full(lx.shape, np.inf if kernel == "min" else -np.inf)
        seen = np.zeros(lx.shape, dtype=bool)
        for v, ok in scan():
            acc = np.where(ok, pick(acc, v), acc)
            seen |= ok
        return np.where(seen, acc, nodata)
    V, OK = (np.stack(a, axis=-1) for a in zip(*scan()))
    if kernel == "mode":
        return _mode_firstmax(V, OK, nodata)
    # sort the valid taps ascending; quantIdx = ceil(q*n - 1)
    # (gdalwarpkernel.cpp:6454)
    q = {"med": 0.5, "q1": 0.25, "q3": 0.75}[kernel]
    n = OK.sum(axis=-1)
    idx = np.maximum(np.ceil(q * n - 1).astype(np.int64), 0)
    out = np.take_along_axis(np.sort(np.where(OK, V, np.inf), axis=-1),
                             idx[..., None], axis=-1)[..., 0]
    return np.where(n > 0, out, nodata)


def resample(window: np.ndarray, valid: np.ndarray, lx: np.ndarray,
             ly: np.ndarray, kernel: str, nodata: float,
             ratio: float) -> np.ndarray:
    """GDAL's warp kernel (alg/gdalwarpkernel.cpp:101-137) over one
    source window: the value at each window-local source point (lx,
    ly), pixel centres at integers, for any of the 14 kernels —
    nearest, bilinear, the filters (cubic, cubicspline, lanczos; each
    falls back to bilinear where its support leaves the window, as
    GWKCubicResampleNoMasks4SampleT:3053 does) and the footprints
    (average .. q3, over a destination pixel `ratio` source pixels
    wide).

    One validity rule, GDAL's: a point outside the window (the
    raster's extent) reads nodata; taps that are not `valid` drop out
    and the remaining weights renormalise, and a footprint counts
    only valid pixels; where every tap is valid the kernel's plain
    formula stands. Taps past the window's edge clamp to it."""
    H, W = window.shape
    inside = (np.isfinite(lx) & np.isfinite(ly) & (lx > -0.5) & (lx < W - 0.5)
              & (ly > -0.5) & (ly < H - 0.5))
    lx = np.where(inside, lx, 0.0)
    ly = np.where(inside, ly, 0.0)
    if kernel in _FOOTPRINT:
        out = _footprint(window, valid, lx, ly, kernel, nodata, ratio)
    elif kernel == "nearest":
        xi = np.clip(np.round(lx).astype(np.int64), 0, W - 1)
        yi = np.clip(np.round(ly).astype(np.int64), 0, H - 1)
        out = np.where(valid[yi, xi], window[yi, xi], nodata)
    else:
        x0 = np.clip(np.floor(lx).astype(np.int64), 0, W - 1)
        y0 = np.clip(np.floor(ly).astype(np.int64), 0, H - 1)
        fx = np.clip(lx - x0, 0.0, 1.0)
        fy = np.clip(ly - y0, 0.0, 1.0)
        out = _convolve(window, valid, x0, y0, [1 - fx, fx], [1 - fy, fy],
                        "bilinear", nodata)
        if kernel in _FILTERS:
            first, taps = _FILTERS[kernel]
            ix = np.floor(lx).astype(np.int64)
            iy = np.floor(ly).astype(np.int64)
            wx, wy = taps(lx - ix), taps(ly - iy)
            last = first + len(wx) - 1
            interior = ((ix + first >= 0) & (ix + last <= W - 1)
                        & (iy + first >= 0) & (iy + last <= H - 1))
            conv = _convolve(window, valid, ix + first, iy + first, wx, wy,
                             kernel, nodata)
            out = np.where(interior, conv, out)
    return np.where(inside, out, nodata)


def warp(
    tiles: DataFrame,
    src_origin: tuple[float, float],
    src_res: float,
    dst_origin: tuple[float, float],
    dst_res: float,
    dst_tiles_x: int,
    dst_tiles_y: int,
    kernel: str = "nearest",
    inv_transform=None,
    cutline_rings: list | None = None,
    dst_raster_id: str = "warped",
    dst_crs: str | None = None,
    tile_px: int | None = None,
    src_tile_px: int | None = None,
    window_samples: int = 11,
) -> DataFrame:
    """gdalwarp (GDALWarpOperation restated,
    alg/gdalwarpoperation.cpp:116-157): any of resample's 14 kernels
    from the source grid onto a destination grid of dst_tiles_x x
    dst_tiles_y tiles of tile_px (default 256) pixels, origin
    dst_origin, pixel size dst_res.

    The source is one global pixel grid: tile (tx, ty) covers pixels
    [tx*sts, (tx+1)*sts) x [ty*sts, (ty+1)*sts), sts = src_tile_px
    (default tile_px); world x = x0 + px*res, y = y0 - py*res
    (north-up). inv_transform=None puts the destination grid in the
    source's CRS. Otherwise it is a picklable vectorized numpy
    function (dst world xs, ys) -> (src world xs, ys) — the -t_srs
    transformer chain (GDALGenImgProjTransformer,
    alg/gdaltransformer.cpp:1000), built from crs.grid_transform_np /
    datum.* backends — and ships to executors in the UDF closures.
    The footprint kernels need no transform. dst_crs defaults to the
    source's.

    cutline_rings: optional list of (xs, ys) polygon rings in source
    world coordinates — gdalwarp -cutline (apps/gdalwarp_lib.cpp
    :181-195). GDAL rasterizes them against the SOURCE grid as a
    validity mask before resampling (alg/gdalcutline.cpp): source
    pixels whose centre is outside drop out, matching the reference's
    golden checksums 19139/14047 (test_gdalwarp.py:441,458).
    BLEND_DIST feathering lives in cutline_blend_density. The rings
    ship in the UDF closure (broadcast-sized, like the zone cover).

    Plan: enumerate the dst tiles (GDAL's chunk list,
    gdalwarpoperation.cpp:808) -> each one's source window from a
    window_samples^2 lattice through the transform (the identity when
    none is given), plus the kernel's margin and, under a transform,
    2 px curvature slack (ComputeSourceWindow, :2118) -> the window
    gather -> per dst tile, paste the window, map the dst pixel
    centres to source pixel coords and resample. Only the source
    tiles a dst tile needs move through the shuffle; a dst tile whose
    window holds no source tile produces no row."""
    if kernel not in _KERNELS:
        raise ValueError(f"unsupported warp kernel: {kernel}")
    if inv_transform is not None and kernel in _FOOTPRINT:
        raise ValueError(f"warp kernel {kernel} needs inv_transform=None")
    sx0, sy0 = src_origin
    dx0, dy0 = dst_origin
    ts = tile_px if tile_px is not None else TILE_SIZE
    sts = src_tile_px if src_tile_px is not None else ts
    margin = {"nearest": 1, "bilinear": 2, "cubic": 3, "cubicspline": 3,
              "lanczos": 4}.get(kernel, max(2, int(math.ceil(dst_res / src_res)) + 1))
    transform = inv_transform
    if transform is None:
        def transform(xs, ys):
            return xs, ys
    else:
        margin += 2

    dst = tiles.sparkSession.range(0, dst_tiles_x * dst_tiles_y, 1).select(
        (F.col("id") % dst_tiles_x).cast("int").alias("d_tx"),
        (F.col("id") / dst_tiles_x).cast("int").alias("d_ty"),
    )
    win_schema = T.StructType(
        [T.StructField(c, T.IntegerType())
         for c in ("d_tx", "d_ty", "tx0", "tx1", "ty0", "ty1")])

    def windows(batches):
        lin = np.linspace(0.0, 1.0, window_samples)
        for pdf in batches:
            rows = []
            for tx, ty in zip(pdf["d_tx"], pdf["d_ty"]):
                wx0 = dx0 + int(tx) * ts * dst_res
                wy1 = dy0 - int(ty) * ts * dst_res
                gx, gy = np.meshgrid(wx0 + lin * ts * dst_res,
                                     wy1 - lin * ts * dst_res)
                sxw, syw = transform(gx.ravel(), gy.ravel())
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
        window = paste(pdf, np.nan, sts)
        valid = ~np.isnan(window) & (window != nodata)
        if cutline_rings is not None:
            H, W = window.shape
            gj, gi = np.mgrid[0:H, 0:W]
            swx = (sx0 + (tx_min * sts + gi + 0.5) * src_res).ravel()
            swy = (sy0 - (ty_min * sts + gj + 0.5) * src_res).ravel()
            inside = np.zeros(H * W, dtype=bool)
            for rxs, rys in cutline_rings:
                inside |= G.pip_one(swx, swy, np.asarray(rxs, dtype=np.float64),
                                    np.asarray(rys, dtype=np.float64))
            valid &= inside.reshape(H, W)
        # dst pixel centres -> world -> global source pixel coords, then
        # window-local by an exact integer shift (bit-equal to the
        # single-node oracles' global coords)
        jj, ii = np.mgrid[0:ts, 0:ts]
        sxw, syw = transform(dx0 + (d_tx * ts + ii.ravel() + 0.5) * dst_res,
                             dy0 - (d_ty * ts + jj.ravel() + 0.5) * dst_res)
        lx = (np.asarray(sxw) - sx0) / src_res - 0.5 - tx_min * sts
        ly = (sy0 - np.asarray(syw)) / src_res - 0.5 - ty_min * sts
        out = resample(window, valid, lx.reshape(ts, ts), ly.reshape(ts, ts),
                       kernel, nodata, dst_res / src_res)
        return pd.DataFrame([tile_row(
            dst_raster_id, int(first["band"]), int(first["zoom"]), d_tx,
            d_ty, _gdal_cast(out, str(first["dtype"])),
            (dx0, dst_res, 0.0, dy0, 0.0, -dst_res), x0=d_tx * ts,
            y0=d_ty * ts, nodata=nodata,
            crs=first["crs"] if dst_crs is None else dst_crs)])

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
