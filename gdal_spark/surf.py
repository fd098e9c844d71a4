"""GDALComputeMatchingPoints: SimpleSURF tie-point detection + matching.

Reference: ``alg/gdalmatching.cpp`` (GatherFeaturePoints /
GDALComputeMatchingPoints), ``alg/gdal_octave.cpp`` (integral image,
fast-Hessian octave layers, 26-neighbor extremum test) and
``alg/gdal_simplesurf.cpp`` (64-d Haar descriptor, ratio-test
matching).  The detector/descriptor here transcribes the reference
filters verbatim — including their quirks (the off-centre ``dyy``
rectangle, the border clamping of ``GetRectangleSum``, integer
divisions) — as vectorized numpy, so per-pixel Hessians and
descriptors are bit-identical to the C++ loops.

Matching semantics: the reference's ``MatchFeaturePoints`` is
sequential and ORDER-DEPENDENT (the ``alreadyMatched`` flags and its
second-nearest bookkeeping both depend on scan order), which cannot
be reproduced meaningfully in parallel.  The engine declares the
order-free version of the same test: for each point of the smaller
collection, the true nearest and second-nearest same-sign points of
the other collection (Lowe ratio < 0.8), conflicts on the larger side
resolved by (distance, point-key), distances normalized by the max
over accepted pairs, then pruned at MATCHING_THRESHOLD — documented
deviation, deterministic under any partitioning.

Spark shape: detection is a one-round halo exchange (the same
``raster.halo`` / ``raster.halo_window`` as the focal/fillnodata ops) + a
map-only window kernel per tile — keypoints are emitted as rows, no
global state.  Matching broadcasts the SMALLER collection (the
reference itself is O(n1*n2) on one core; the broadcast side is the
one the reference would scan per point) and streams the larger one:
each partition emits its two best candidates per broadcast point, a
single groupBy merges partial top-2s — shuffle volume is O(n_small *
partitions), never O(n1*n2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

DESC_SIZE = 64
INTERVALS = 4


# ------------------------------------------------------------ shared kernels
def integral_image(img: np.ndarray) -> np.ndarray:
    """Padded integral image: iip[i+1, j+1] = sum of img[:i+1, :j+1]
    (one zero row/col at top/left so GetValue(-1, *) == 0 falls out of
    plain indexing)."""
    H, W = img.shape
    iip = np.zeros((H + 1, W + 1), dtype=np.float64)
    np.cumsum(np.cumsum(img, axis=0), axis=1, out=iip[1:, 1:])
    return iip


def _rect_sum(iip, H, W, row, col, w, h):
    """GDALIntegralImage::GetRectangleSum (gdal_octave.cpp:95-131)
    verbatim, vectorized: corners clamped to the image, out-of-range
    values read as 0, negative results clamped to 0.  All of row/col/
    w/h broadcast as numpy arrays."""
    lt_row = np.where(row <= H, row - 1, -1)
    lt_col = np.where(col <= W, col - 1, -1)
    rb_row = np.where(row + h - 1 < H, row + h - 1, H - 1)
    rb_col = np.where(col + w - 1 < W, col + w - 1, W - 1)
    lt_row = np.clip(lt_row, -1, H - 1)
    lt_col = np.clip(lt_col, -1, W - 1)
    rb_row = np.clip(rb_row, -1, H - 1)
    rb_col = np.clip(rb_col, -1, W - 1)
    a = iip[lt_row + 1, lt_col + 1]
    b = iip[lt_row + 1, rb_col + 1]
    c = iip[rb_row + 1, rb_col + 1]
    d = iip[rb_row + 1, lt_col + 1]
    res = a + c - b - d
    return np.where(res > 0, res, 0.0)


def hessian_layer(iip, H, W, octave: int, interval: int):
    """GDALOctaveLayer::ComputeLayer (gdal_octave.cpp:186-230): det of
    the approximated Hessian and the Laplacian sign for every pixel
    with the filter fully inside the image; 0 elsewhere (the reference
    leaves those entries uninitialized and never reads them)."""
    filt = 3 * (2 ** octave) * interval + 1
    radius = (filt - 1) // 2
    lobe = filt // 3
    long_part = 2 * lobe - 1
    norm = float(filt * filt)

    det = np.zeros((H, W), dtype=np.float64)
    sgn = np.zeros((H, W), dtype=np.int32)
    if 2 * radius >= H or 2 * radius >= W:
        return det, sgn, radius, filt
    # the reference loop bounds are INCLUSIVE: r in [radius, H-radius]
    r = np.arange(radius, H - radius + 1)[:, None]
    c = np.arange(radius, W - radius + 1)[None, :]
    dxx = (_rect_sum(iip, H, W, r - lobe + 1, c - radius, filt, long_part)
           - 3.0 * _rect_sum(iip, H, W, r - lobe + 1, c - (lobe - 1) // 2,
                             lobe, long_part))
    dyy = (_rect_sum(iip, H, W, r - radius, c - lobe - 1, long_part, filt)
           - 3.0 * _rect_sum(iip, H, W, r - lobe + 1, c - lobe + 1,
                             long_part, lobe))
    dxy = (_rect_sum(iip, H, W, r - lobe, c - lobe, lobe, lobe)
           + _rect_sum(iip, H, W, r + 1, c + 1, lobe, lobe)
           - _rect_sum(iip, H, W, r - lobe, c + 1, lobe, lobe)
           - _rect_sum(iip, H, W, r + 1, c - lobe, lobe, lobe))
    dxx /= norm
    dyy /= norm
    dxy /= norm
    ys = slice(radius, H - radius + 1)
    xs = slice(radius, W - radius + 1)
    det[ys, xs] = dxx * dyy - 0.81 * dxy * dxy
    sgn[ys, xs] = np.where(dxx + dyy >= 0, 1, -1)
    return det, sgn, radius, filt


def _descriptors(iip, H, W, xs, ys, scale: int) -> np.ndarray:
    """GDALSimpleSURF::SetDescriptor (gdal_simplesurf.cpp:281-341)
    vectorized over N keypoints sharing one scale: 4x4 quadrants x
    5x5 sub-quadrants of Haar wavelet responses -> 64 doubles in the
    reference's (dx, dy, |dx|, |dy|) interleave."""
    n = len(xs)
    if n == 0:
        return np.zeros((0, DESC_SIZE), dtype=np.float64)
    s = int(scale)
    haar = 2 * s                        # haarFilterSize
    quad = 5 * s                        # quadStep (descSide/4)
    sub = s                             # subQuadStep
    # sub-quadrant centre offsets relative to the keypoint
    qi = np.arange(4) * quad            # quadrant row starts
    si = np.arange(5) * sub             # sub row starts within quadrant
    rel = (-10 * s) + qi[:, None] + si[None, :]     # (4,5) row offsets
    cntr_off = rel + sub // 2
    cur_off = cntr_off - haar // 2                   # top-left for Haar
    # rows: (N,4,5,1,1) etc. via broadcasting
    ys = np.asarray(ys)[:, None, None, None, None]
    xs = np.asarray(xs)[:, None, None, None, None]
    cur_r = ys + cur_off[None, :, None, :, None]     # (N,4,1,5,1)
    cur_c = xs + cur_off[None, None, :, None, :]     # (N,1,4,1,5)
    # HaarWavelet_X(row, col, size) = RS(row, col+size/2, size/2, size)
    #                               - RS(row, col, size/2, size)
    hx = (_rect_sum(iip, H, W, cur_r, cur_c + haar // 2, haar // 2, haar)
          - _rect_sum(iip, H, W, cur_r, cur_c, haar // 2, haar))
    hy = (_rect_sum(iip, H, W, cur_r + haar // 2, cur_c, haar, haar // 2)
          - _rect_sum(iip, H, W, cur_r, cur_c, haar, haar // 2))
    dx = hx.sum(axis=(3, 4))
    dy = hy.sum(axis=(3, 4))
    adx = np.abs(hx).sum(axis=(3, 4))
    ady = np.abs(hy).sum(axis=(3, 4))
    desc = np.stack([dx, dy, adx, ady], axis=-1)     # (N,4,4,4)
    return desc.reshape(n, DESC_SIZE)


def extract_feature_points_np(img: np.ndarray, octave_start: int = 2,
                              octave_end: int = 2,
                              threshold: float = 0.001) -> pd.DataFrame:
    """Whole-image SimpleSURF extraction (ExtractFeaturePoints,
    gdal_simplesurf.cpp:212-249) — the shared single-node kernel: the
    distributed path runs it per halo'd window, the oracle on the
    global mosaic.  `img` is the luminosity plane in [0, 1].
    Returns a DataFrame (x, y, scale, radius, sign, desc[64])."""
    H, W = img.shape
    iip = integral_image(img)
    layers = {}
    out = []
    for octv in range(octave_start, octave_end + 1):
        for i in range(1, INTERVALS + 1):
            layers[(octv, i)] = hessian_layer(iip, H, W, octv, i)
        for k in range(INTERVALS - 2):
            bot, _, _, _ = layers[(octv, k + 1)]
            mid, msgn, mrad, _ = layers[(octv, k + 2)]
            top, _, trad, _ = layers[(octv, k + 3)]
            lo = trad + 1
            if H - trad <= lo or W - trad <= lo:
                continue
            core = mid[lo:H - trad, lo:W - trad]
            ok = core >= threshold
            # strictly above all 26 neighbors (top/bot including centre)
            for di in (-1, 0, 1):
                for dj in (-1, 0, 1):
                    sl = (slice(lo + di, H - trad + di),
                          slice(lo + dj, W - trad + dj))
                    ok &= core > top[sl]
                    ok &= core > bot[sl]
                    if di or dj:
                        ok &= core > mid[sl]
                    if not ok.any():
                        break
            ii, jj = np.nonzero(ok)
            if len(ii) == 0:
                continue
            yy = ii + lo
            xx = jj + lo
            desc = _descriptors(iip, H, W, xx, yy, 2 ** octv)
            for t in range(len(xx)):
                out.append((int(xx[t]), int(yy[t]), 2 ** octv, int(mrad),
                            int(msgn[yy[t], xx[t]]), desc[t]))
    return pd.DataFrame(out, columns=["x", "y", "scale", "radius",
                                      "sign", "desc"])


def match_np(fp1: pd.DataFrame, fp2: pd.DataFrame,
             matching_threshold: float = 0.015) -> pd.DataFrame:
    """Single-node declared matching semantics (see module docstring):
    order-free ratio test + (distance, key) conflict resolution +
    max-normalized threshold.  Columns: x1,y1,x2,y2,dist."""
    if len(fp1) == 0 or len(fp2) == 0:
        return pd.DataFrame(columns=["x1", "y1", "x2", "y2", "dist"])
    swap = len(fp2) < len(fp1)
    a, b = (fp2, fp1) if swap else (fp1, fp2)
    da = np.stack(a["desc"].to_numpy())
    db = np.stack(b["desc"].to_numpy())
    sa = a["sign"].to_numpy()
    sb = b["sign"].to_numpy()
    cand = []
    for i in range(len(a)):
        mask = sb == sa[i]
        if not mask.any():
            continue
        idx = np.nonzero(mask)[0]
        d = np.sqrt(((db[idx] - da[i][None, :]) ** 2).sum(axis=1))
        keys = [(float(d[t]), int(b["scale"].iat[idx[t]]),
                 int(b["radius"].iat[idx[t]]), int(b["y"].iat[idx[t]]),
                 int(b["x"].iat[idx[t]]), int(idx[t])) for t in range(len(idx))]
        keys.sort()
        best = keys[0]
        second = next((kk for kk in keys[1:] if kk[5] != best[5]), None)
        if second is None or second[0] <= 0:
            continue
        if best[0] / second[0] < 0.8:
            cand.append((best[0], best[5], i))
    if not cand:
        return pd.DataFrame(columns=["x1", "y1", "x2", "y2", "dist"])
    # conflict resolution on the larger side: min (dist, a-key)
    bestby: dict[int, tuple] = {}
    for dist, j, i in cand:
        key = (dist, int(a["scale"].iat[i]), int(a["radius"].iat[i]),
               int(a["y"].iat[i]), int(a["x"].iat[i]), i, j)
        if j not in bestby or key < bestby[j]:
            bestby[j] = key
    rows = []
    dmax = max(k[0] for k in bestby.values())
    for j, key in sorted(bestby.items()):
        dist, _, _, _, _, i, _ = key
        nd = dist / dmax if dmax != 0.0 else 0.0
        if nd <= matching_threshold:
            ax, ay = int(a["x"].iat[i]), int(a["y"].iat[i])
            bx, by = int(b["x"].iat[j]), int(b["y"].iat[j])
            if swap:
                rows.append((bx, by, ax, ay, dist))
            else:
                rows.append((ax, ay, bx, by, dist))
    return pd.DataFrame(rows, columns=["x1", "y1", "x2", "y2", "dist"])


# --------------------------------------------------------- distributed path
FEATURE_SCHEMA = T.StructType([
    T.StructField("x", T.IntegerType()),
    T.StructField("y", T.IntegerType()),
    T.StructField("scale", T.IntegerType()),
    T.StructField("radius", T.IntegerType()),
    T.StructField("sign", T.IntegerType()),
    T.StructField("desc", T.ArrayType(T.DoubleType())),
])


def surf_halo(octave_end: int) -> int:
    """Pixel reach of detection + descriptor for the largest octave:
    descriptor rectangles extend ~13*scale past the keypoint, the
    extremum test needs top-layer radius + 1 around it."""
    s = 2 ** octave_end
    return max(14 * s + 4, 6 * s + 2)


def feature_points(tiles: DataFrame, ntx: int, nty: int,
                   octave_start: int = 2, octave_end: int = 2,
                   threshold: float = 0.001,
                   max_value: float = 255.0) -> DataFrame:
    """Distributed GatherFeaturePoints over a tile table: one halo
    exchange (h = surf_halo), then the shared kernel per window;
    keypoints whose centre falls in the tile core are emitted with
    GLOBAL pixel coordinates.  Luminosity = band value / max_value
    (ConvertRGBToLuminosity with R=G=B, gdal_simplesurf.cpp:137-204).

    Core/halo parity argument: every rectangle a core keypoint's
    Hessian or descriptor touches lies within `h` pixels of the core,
    so the halo'd window reproduces the global sums exactly; at true
    image borders the window edge IS the global edge, so the
    reference's border clamping applies identically.
    """
    from gdal_spark.raster import halo, halo_window

    h = surf_halo(octave_end)

    def run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                Ht, Wt = int(r.height), int(r.width)
                tx, ty = int(r.tile_x), int(r.tile_y)
                pad = halo_window(r, h, 0.0)
                # crop margins that lie outside the global image so the
                # window edge coincides with the true border there
                top = h if ty > 0 else 0
                left = h if tx > 0 else 0
                bot = h if ty < nty - 1 else 0
                right = h if tx < ntx - 1 else 0
                win = pad[h - top:h + Ht + bot, h - left:h + Wt + right]
                fp = extract_feature_points_np(
                    win / max_value, octave_start, octave_end, threshold)
                if len(fp) == 0:
                    continue
                gx = fp["x"].to_numpy() - left + tx * Wt
                gy = fp["y"].to_numpy() - top + ty * Ht
                core = ((gx >= tx * Wt) & (gx < (tx + 1) * Wt)
                        & (gy >= ty * Ht) & (gy < (ty + 1) * Ht))
                for t in np.nonzero(core)[0]:
                    rows.append({
                        "x": int(gx[t]), "y": int(gy[t]),
                        "scale": int(fp["scale"].iat[t]),
                        "radius": int(fp["radius"].iat[t]),
                        "sign": int(fp["sign"].iat[t]),
                        "desc": list(fp["desc"].iat[t]),
                    })
            yield pd.DataFrame(
                rows, columns=[f.name for f in FEATURE_SCHEMA.fields])

    return halo(tiles, h).mapInPandas(run, schema=FEATURE_SCHEMA)


MATCH_SCHEMA = T.StructType([
    T.StructField("x1", T.IntegerType()),
    T.StructField("y1", T.IntegerType()),
    T.StructField("x2", T.IntegerType()),
    T.StructField("y2", T.IntegerType()),
    T.StructField("dist", T.DoubleType()),
])


def match_feature_points(fp1: DataFrame, fp2: DataFrame,
                         matching_threshold: float = 0.015) -> DataFrame:
    """Distributed matching: broadcast the smaller collection, stream
    the larger; each partition emits its two nearest same-sign
    candidates per broadcast point, one groupBy merges the partial
    top-2s into the true nearest/second-nearest, then the ratio test,
    per-larger-point conflict resolution and max-normalized pruning
    run as plain DataFrame ops."""
    n1, n2 = fp1.count(), fp2.count()
    if n1 == 0 or n2 == 0:
        return fp1.sparkSession.createDataFrame([], MATCH_SCHEMA)
    swap = n2 < n1
    small, big = (fp2, fp1) if swap else (fp1, fp2)
    rows = small.collect()
    sm_desc = np.array([r["desc"] for r in rows])
    sm_sign = np.array([r["sign"] for r in rows])
    sm_meta = [(r["x"], r["y"], r["scale"], r["radius"]) for r in rows]
    spark = fp1.sparkSession
    b = spark.sparkContext.broadcast((sm_desc, sm_sign))

    cand_schema = T.StructType([
        T.StructField("i", T.IntegerType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("bx", T.IntegerType()),
        T.StructField("by", T.IntegerType()),
        T.StructField("bscale", T.IntegerType()),
        T.StructField("bradius", T.IntegerType()),
    ])

    def partial(batches):
        da, sa = b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            db = np.stack(pdf["desc"].to_numpy())
            sb = pdf["sign"].to_numpy()
            # (n_small, n_batch) distances, sign-mismatched pairs -> inf
            D = np.sqrt(((da[:, None, :] - db[None, :, :]) ** 2).sum(-1))
            D[sa[:, None] != sb[None, :]] = np.inf
            k = min(2, D.shape[1])
            nearest = np.argpartition(D, k - 1, axis=1)[:, :k]
            out = []
            bx = pdf["x"].to_numpy()
            by = pdf["y"].to_numpy()
            bsc = pdf["scale"].to_numpy()
            brd = pdf["radius"].to_numpy()
            for i in range(D.shape[0]):
                for t in nearest[i]:
                    if np.isfinite(D[i, t]):
                        out.append((i, float(D[i, t]), int(bx[t]),
                                    int(by[t]), int(bsc[t]), int(brd[t])))
            yield pd.DataFrame(
                out, columns=[f.name for f in cand_schema.fields])

    cands = big.mapInPandas(partial, schema=cand_schema)
    merged = cands.groupBy("i").agg(
        F.slice(F.array_sort(F.collect_list(F.struct(
            "d", "bscale", "bradius", "by", "bx"))), 1, 4).alias("top"))
    # true best + true second-nearest DIFFERENT point
    best = F.element_at("top", 1)
    second = F.filter(
        F.slice("top", 2, 3),
        lambda s: (s["bx"] != best["bx"]) | (s["by"] != best["by"])
        | (s["bscale"] != best["bscale"]) | (s["bradius"] != best["bradius"]),
    )
    accepted = merged.select(
        "i", best.alias("b"),
        F.when(F.size(second) > 0, F.element_at(second, 1)).alias("s"),
    ).where(
        F.col("s").isNotNull() & (F.col("s")["d"] > 0)
        & (F.col("b")["d"] / F.col("s")["d"] < 0.8)
    ).select("i", F.col("b")["d"].alias("d"),
             F.col("b")["bx"].alias("bx"), F.col("b")["by"].alias("by"),
             F.col("b")["bscale"].alias("bscale"),
             F.col("b")["bradius"].alias("bradius"))

    meta_df = spark.createDataFrame(
        [(i, m[0], m[1], m[2], m[3]) for i, m in enumerate(sm_meta)],
        "i int, ax int, ay int, ascale int, aradius int")
    acc = accepted.join(F.broadcast(meta_df), "i")
    # conflict resolution on the streamed (larger) side
    from pyspark.sql import Window
    w = Window.partitionBy("bx", "by", "bscale", "bradius").orderBy(
        "d", "ascale", "aradius", "ay", "ax")
    acc = acc.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") == 1).drop("_rn")
    dmax = acc.agg(F.max("d").alias("m"))
    out = acc.crossJoin(F.broadcast(dmax)).where(
        (F.col("m") == 0) | (F.col("d") / F.col("m")
                             <= F.lit(matching_threshold)))
    if swap:
        sel = out.select(F.col("bx").alias("x1"), F.col("by").alias("y1"),
                         F.col("ax").alias("x2"), F.col("ay").alias("y2"),
                         F.col("d").alias("dist"))
    else:
        sel = out.select(F.col("ax").alias("x1"), F.col("ay").alias("y1"),
                         F.col("bx").alias("x2"), F.col("by").alias("y2"),
                         F.col("d").alias("dist"))
    return sel


def compute_matching_points(tiles1: DataFrame, tiles2: DataFrame,
                            ntx: int, nty: int,
                            octave_start: int = 2, octave_end: int = 2,
                            surf_threshold: float = 0.001,
                            matching_threshold: float = 0.015,
                            georef_gt: list | None = None) -> DataFrame:
    """GDALComputeMatchingPoints (gdalmatching.cpp:185-316): GCP rows
    (pixel, line) on image 1 -> (gcp_x, gcp_y) on image 2, each + 0.5
    like the reference; OUTPUT_GEOREF applies image 2's geotransform."""
    fp1 = feature_points(tiles1, ntx, nty, octave_start, octave_end,
                         surf_threshold)
    fp2 = feature_points(tiles2, ntx, nty, octave_start, octave_end,
                         surf_threshold)
    m = match_feature_points(fp1, fp2, matching_threshold)
    px = F.col("x1") + F.lit(0.5)
    ln = F.col("y1") + F.lit(0.5)
    gx = F.col("x2") + F.lit(0.5)
    gy = F.col("y2") + F.lit(0.5)
    if georef_gt is not None:
        g = [float(v) for v in georef_gt]
        gx2 = F.lit(g[0]) + gx * F.lit(g[1]) + gy * F.lit(g[2])
        gy2 = F.lit(g[3]) + gx * F.lit(g[4]) + gy * F.lit(g[5])
        gx, gy = gx2, gy2
    return m.select(px.alias("pixel"), ln.alias("line"),
                    gx.alias("gcp_x"), gy.alias("gcp_y"),
                    F.round("dist", 9).alias("dist"))
