"""Contour: marching-squares iso-line extraction over the tile table
(the reference's GDALContourGenerate, alg/contour.cpp:310 +
alg/marching_squares/). Per 2x2 pixel cell, the standard 16-case table
with linear edge interpolation; saddles disambiguated by the cell
center mean.

Distributed shape: every tile computes the cells whose TOP-LEFT pixel
it owns; the right/bottom 1-px halo comes from the one halo exchange
(`raster.halo` / `raster.halo_window`, NaN past the raster's edge)
the focal DEM ops use, so border cells between
tiles are computed exactly once, by the tile that owns their top-left
corner. Cells that would extend past the global raster edge are
dropped (no pixels beyond the edge — GDAL generates contours only
between real pixel centers).

Output: per (tile, level): segment count and total polyline length (in
pixel units). Stitching segments into connected polylines is a
per-region local pass on top (future work); the segment field is the
distributed core and is what the length/count goldens verify.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .raster import halo, halo_window

CONTOUR_SCHEMA = T.StructType(
    [
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("tile_y", T.IntegerType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("n_segments", T.LongType()),
        T.StructField("length", T.DoubleType()),
    ]
)

# case -> list of (edge_i, edge_j) segments; edges 0=top 1=right 2=bottom 3=left
_CASES = {
    1: [(3, 0)], 2: [(0, 1)], 3: [(3, 1)], 4: [(1, 2)],
    6: [(0, 2)], 7: [(3, 2)], 8: [(2, 3)], 9: [(0, 2)],
    11: [(1, 2)], 12: [(1, 3)], 13: [(0, 1)], 14: [(3, 0)],
}


def cell_segments(A, B, C, D, level):
    """Vectorized marching squares over flat corner arrays (A=TL, B=TR,
    C=BR, D=BL). Returns (count, length) arrays per cell."""
    with np.errstate(divide="ignore", invalid="ignore"):
        t_top = (level - A) / (B - A)
        t_right = (level - B) / (C - B)
        t_bot = (level - D) / (C - D)
        t_left = (level - A) / (D - A)
    # edge crossing coordinates (x, y) in cell-local units
    ex = np.stack([t_top, np.ones_like(A), t_bot, np.zeros_like(A)])
    ey = np.stack([np.zeros_like(A), t_right, np.ones_like(A), t_left])

    bits = (
        (A >= level).astype(np.int64)
        + 2 * (B >= level).astype(np.int64)
        + 4 * (C >= level).astype(np.int64)
        + 8 * (D >= level).astype(np.int64)
    )
    count = np.zeros(A.shape, dtype=np.int64)
    length = np.zeros(A.shape, dtype=np.float64)

    def add(mask, e1, e2):
        if not mask.any():
            return
        dx = ex[e1][mask] - ex[e2][mask]
        dy = ey[e1][mask] - ey[e2][mask]
        count[mask] += 1
        length[mask] += np.sqrt(dx * dx + dy * dy)

    for case, segs in _CASES.items():
        m = bits == case
        for e1, e2 in segs:
            add(m, e1, e2)
    # saddles: center mean decides the pairing
    center = (A + B + C + D) / 4.0
    for case in (5, 10):
        m = bits == case
        if not m.any():
            continue
        hi = m & (center >= level)
        lo = m & ~ (center >= level)
        if case == 5:  # TL+BR above
            add(hi, 0, 1)
            add(hi, 2, 3)
            add(lo, 3, 0)
            add(lo, 1, 2)
        else:  # TR+BL above
            add(hi, 3, 0)
            add(hi, 1, 2)
            add(lo, 0, 1)
            add(lo, 2, 3)
    return count, length


def contour(tiles: DataFrame, levels: list[float]) -> DataFrame:
    """Iso-line segment count + length per (tile, level)."""

    def run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                # extended array: (H+1, W+1) where the extra row/col are
                # the neighbors' first pixels; NaN where no neighbor ->
                # those cells produce no crossings (NaN compares False)
                ext = halo_window(r, 1, np.nan)[1:, 1:]
                A = ext[:-1, :-1].ravel()
                B = ext[:-1, 1:].ravel()
                C = ext[1:, 1:].ravel()
                D = ext[1:, :-1].ravel()
                valid = ~(np.isnan(A) | np.isnan(B) | np.isnan(C) | np.isnan(D))
                for lv in levels:
                    cnt, ln = cell_segments(A[valid], B[valid], C[valid], D[valid], lv)
                    rows.append(
                        {
                            "tile_x": int(r.tile_x), "tile_y": int(r.tile_y),
                            "level": float(lv),
                            "n_segments": int(cnt.sum()),
                            "length": float(ln.sum()),
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in CONTOUR_SCHEMA.fields])

    return halo(tiles, 1).mapInPandas(run, schema=CONTOUR_SCHEMA)


def contour_totals(tiles: DataFrame, levels: list[float]) -> DataFrame:
    """Global per-level totals (the classic partial+final aggregate)."""
    per_tile = contour(tiles, levels)
    return per_tile.groupBy("level").agg(
        F.sum("n_segments").alias("n_segments"),
        F.sum("length").alias("length"),
    )


# ------------------------------------------------------- polyline stitching
def cell_segment_coords(A, B, C, D, level, cx, cy):
    """Marching-squares segments WITH coordinates: (x0, y0, x1, y1)
    arrays in global pixel units for flat corner arrays A..D at cell
    top-left coords (cx, cy). Shared by the distributed op and the
    single-node oracle — endpoints on a shared cell edge interpolate
    from the same two corner values, so they are bit-identical across
    neighboring cells (what makes quantized stitching exact)."""
    with np.errstate(divide="ignore", invalid="ignore"):
        t_top = (level - A) / (B - A)
        t_right = (level - B) / (C - B)
        t_bot = (level - D) / (C - D)
        t_left = (level - A) / (D - A)
    ex = np.stack([cx + t_top, cx + 1.0, cx + t_bot, cx + 0.0])
    ey = np.stack([cy + 0.0, cy + t_right, cy + 1.0, cy + t_left])
    bits = (
        (A >= level).astype(np.int64)
        + 2 * (B >= level).astype(np.int64)
        + 4 * (C >= level).astype(np.int64)
        + 8 * (D >= level).astype(np.int64)
    )
    segs = []

    def add(mask, e1, e2):
        idx = np.where(mask)[0]
        if len(idx):
            segs.append(
                np.stack([ex[e1][idx], ey[e1][idx], ex[e2][idx], ey[e2][idx]], axis=1)
            )

    for case, pairs in _CASES.items():
        m = bits == case
        for e1, e2 in pairs:
            add(m, e1, e2)
    center = (A + B + C + D) / 4.0
    for case in (5, 10):
        m = bits == case
        if not m.any():
            continue
        hi = m & (center >= level)
        lo = m & ~(center >= level)
        if case == 5:
            add(hi, 0, 1); add(hi, 2, 3); add(lo, 3, 0); add(lo, 1, 2)
        else:
            add(hi, 3, 0); add(hi, 1, 2); add(lo, 0, 1); add(lo, 2, 3)
    if not segs:
        return np.empty((0, 4))
    out = np.concatenate(segs)
    keep = (out[:, 0] != out[:, 2]) | (out[:, 1] != out[:, 3])
    return out[keep]


SEG_SCHEMA = T.StructType(
    [
        T.StructField("level", T.DoubleType()),
        T.StructField("x0", T.DoubleType()),
        T.StructField("y0", T.DoubleType()),
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
    ]
)


def contour_segments(tiles: DataFrame, levels: list[float]) -> DataFrame:
    """Per-level iso-segments with GLOBAL pixel coordinates (same cell
    ownership + halo plan as contour())."""

    def run(batches):
        for pdf in batches:
            outs = []
            for r in pdf.itertuples(index=False):
                H, W = int(r.height), int(r.width)
                ext = halo_window(r, 1, np.nan)[1:, 1:]
                A = ext[:-1, :-1].ravel()
                B = ext[:-1, 1:].ravel()
                C = ext[1:, 1:].ravel()
                D = ext[1:, :-1].ravel()
                jj, ii = np.mgrid[0:H, 0:W]
                cx = (ii + int(r.tile_x) * W).ravel().astype(np.float64)
                cy = (jj + int(r.tile_y) * H).ravel().astype(np.float64)
                valid = ~(np.isnan(A) | np.isnan(B) | np.isnan(C) | np.isnan(D))
                for lv in levels:
                    s = cell_segment_coords(
                        A[valid], B[valid], C[valid], D[valid], lv,
                        cx[valid], cy[valid],
                    )
                    if len(s):
                        outs.append(
                            pd.DataFrame(
                                {"level": lv, "x0": s[:, 0], "y0": s[:, 1],
                                 "x1": s[:, 2], "y1": s[:, 3]}
                            )
                        )
            yield (
                pd.concat(outs)
                if outs
                else pd.DataFrame(
                    {"level": [], "x0": [], "y0": [], "x1": [], "y1": []}
                )
            )

    return halo(tiles, 1).mapInPandas(run, schema=SEG_SCHEMA)


_QUANT = float(1 << 20)


def _node_key(level_idx, x, y):
    """Quantized endpoint id: xxhash64 of (level index, qx, qy) at
    2^-20 px resolution. Endpoints are bit-identical across cells, so
    equal nodes always hash equal; a 64-bit hash keeps keys collision-
    free in practice at any raster size (the former bit-packed key
    overflowed its qx slot at x >= 1024 px and silently merged
    cross-level nodes)."""
    qx = F.round(x * _QUANT).cast("long")
    qy = F.round(y * _QUANT).cast("long")
    return F.xxhash64(level_idx.cast("long"), qx, qy)


def contour_polylines(tiles: DataFrame, levels: list[float],
                      block_px: int = 128) -> DataFrame:
    """Stitch iso-segments into connected polylines — the distributed
    restatement of alg/contour.cpp:310's segment merger. Per level:
    (n_polylines, n_closed, n_segments, length). A polyline is closed
    iff #segments == #nodes (paths have one fewer edge).

    Scale shape (two-level, like the polygonize seam stitch): segments
    group by a spatial BLOCK; one union-find per block resolves local
    fragments; only the CONDENSED graph — one node per (block, local
    fragment), linked where a boundary endpoint appears in two blocks —
    goes through the iterative connected-components joins. Its
    diameter is the number of blocks a line crosses, not the number of
    segments, so the join loop converges in a handful of rounds where
    per-node min-label propagation over raw segments would need
    O(polyline length) rounds."""
    from .graph import connected_components

    segs = contour_segments(tiles, levels).persist()
    lvl_idx = None
    for i, lv in enumerate(levels):
        c = F.when(F.col("level") == lv, i)
        lvl_idx = c if lvl_idx is None else lvl_idx.when(F.col("level") == lv, i)
    e = segs.select(
        "level",
        _node_key(lvl_idx, F.col("x0"), F.col("y0")).alias("src"),
        _node_key(lvl_idx, F.col("x1"), F.col("y1")).alias("dst"),
        (lvl_idx * F.lit(1 << 40)
         + F.floor(F.col("x0") / block_px).cast("long")).alias("blk"),
        F.sqrt(
            (F.col("x1") - F.col("x0")) * (F.col("x1") - F.col("x0"))
            + (F.col("y1") - F.col("y0")) * (F.col("y1") - F.col("y0"))
        ).alias("len"),
    )

    PART_SCHEMA = T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("level", T.DoubleType()),
            T.StructField("a", T.LongType()),   # seg: lroot / node: node key
            T.StructField("b", T.LongType()),   # node: lroot
            T.StructField("len", T.DoubleType()),
        ]
    )

    def local_stitch(key, pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        src = pdf["src"].to_numpy()
        dst = pdf["dst"].to_numpy()
        for s, d in zip(src.tolist(), dst.tolist()):
            rs, rd = find(s), find(d)
            if rs != rd:
                parent[max(rs, rd)] = min(rs, rd)
        # 0 placeholders, NEVER None: a None in an int column makes
        # pandas store it as float64, which silently rounds the
        # ~2^60-scale node keys to multiples of 256 and breaks the
        # cross-block equivalence join
        rows = []
        for i in range(len(pdf)):
            rows.append(
                {"kind": "seg", "level": float(pdf["level"].iloc[i]),
                 "a": find(int(src[i])), "b": 0,
                 "len": float(pdf["len"].iloc[i])}
            )
        for n in set(src.tolist()) | set(dst.tolist()):
            rows.append(
                {"kind": "node", "level": -1.0, "a": n, "b": find(n),
                 "len": 0.0}
            )
        return pd.DataFrame(rows, columns=[f.name for f in PART_SCHEMA.fields])

    parts = e.groupBy("blk").applyInPandas(local_stitch, schema=PART_SCHEMA).persist()

    nodes = parts.filter(F.col("kind") == "node").select(
        F.col("a").alias("node"), F.col("b").alias("lroot")
    )
    # condensed equivalence: boundary nodes seen in >1 block link lroots
    canon = nodes.groupBy("node").agg(F.min("lroot").alias("m"))
    eq = (
        nodes.join(canon, "node")
        .filter(F.col("lroot") != F.col("m"))
        .select(F.col("lroot").alias("src"), F.col("m").alias("dst"))
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    # the condensed graph holds one edge per (boundary node, extra
    # block) — typically thousands even for billions of segments. Below
    # `small_graph_edges` resolve it driver-side (the tiny-global-model
    # step, like the broadcast spatial index); beyond it, run the
    # iterative connected-components joins.
    small_graph_edges = 2_000_000
    n_eq = eq.count()
    if n_eq <= small_graph_edges:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for row in eq.collect():
            a, b = find(row["src"]), find(row["dst"])
            if a != b:
                parent[max(a, b)] = min(a, b)
        spark = tiles.sparkSession
        ks = list({k for k in parent} | {find(k) for k in parent})
        lmap = spark.createDataFrame(
            pd.DataFrame(
                {"lroot": pd.Series(ks, dtype="int64"),
                 "comp": pd.Series([find(k) for k in ks], dtype="int64")}
            ),
            schema="lroot long, comp long",
        )
        lmap = F.broadcast(lmap)
    else:
        cc2 = connected_components(eq)
        lmap = cc2.select(
            F.col("node").alias("lroot"), F.col("component").alias("comp")
        )

    segrows = parts.filter(F.col("kind") == "seg").select(
        "level", F.col("a").alias("lroot"), "len"
    )
    seg_comp = segrows.join(lmap, "lroot", "left").withColumn(
        "comp", F.coalesce("comp", "lroot")
    )
    node_comp = nodes.join(lmap, "lroot", "left").withColumn(
        "comp", F.coalesce("comp", "lroot")
    )
    nn = node_comp.groupBy("comp").agg(F.count_distinct("node").alias("nnodes"))
    per_line = (
        seg_comp.groupBy("level", "comp")
        .agg(F.count("*").alias("nseg"), F.sum("len").alias("len"))
        .join(nn, "comp", "left")
    )
    return per_line.groupBy("level").agg(
        F.count("*").alias("n_polylines"),
        F.sum((F.col("nseg") == F.col("nnodes")).cast("long")).alias("n_closed"),
        F.sum("nseg").alias("n_segments"),
        F.sum("len").alias("length"),
    )


# ---------------------------------------------------- polygon (band) mode
def band_classify(tiles: DataFrame, levels: list[float],
                  band: int = 1) -> DataFrame:
    """Reclassify pixels into contour band indexes: band i means
    levels[i-1] <= v < levels[i] (np.digitize), int32 tiles out."""
    lv = [float(x) for x in sorted(levels)]

    def run(batches):
        for pdf in batches:
            out = pdf.copy()
            datas = []
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(r.data, dtype=np.dtype(r.dtype)).reshape(
                    r.height, r.width
                ).astype(np.float64)
                datas.append(np.digitize(arr, lv).astype(np.int32).tobytes())
            out["data"] = datas
            out["dtype"] = "int32"
            yield out

    return tiles.filter(F.col("band") == band).mapInPandas(
        run, schema=tiles.schema
    )


def contour_polygons(tiles: DataFrame, levels: list[float],
                     band: int = 1) -> DataFrame:
    """gdal_contour -p (polygon mode, GDALContourGenerateEx
    POLYGONIZE=YES, alg/contour.cpp ContourGeneratorFromRaster +
    apps/gdal_contour_lib.cpp): one polygon per connected region of
    each inter-level band, with elev_min/elev_max attributes (NULL at
    the open ends like GDAL's first/last band).

    DELIBERATE SEMANTIC DIFFERENCE from the reference: boundaries are
    pixel-lattice quantized (the band raster is polygonized with the
    distributed ring tracer), not sub-cell interpolated marching
    squares — the band PARTITION of the plane is identical, the ring
    geometry is stepped. Documented here so parity readers don't take
    WKT equality vs GDAL for granted; the oracle replicates the same
    definition independently (global flood fill + shared ring tracer).
    """
    from .polygonize import polygonize_wkt

    lv = [float(x) for x in sorted(levels)]
    regs = polygonize_wkt(band_classify(tiles, lv, band=band))
    lo = F.array(*[F.lit(x) for x in lv])
    bidx = F.col("value").cast("int")
    return regs.select(
        bidx.alias("band_idx"),
        F.when(bidx > 0, F.element_at(lo, bidx)).alias("elev_min"),
        F.when(bidx < len(lv), F.element_at(lo, bidx + 1)).alias("elev_max"),
        "npix",
        "wkt",
    )


# ------------------------------------------------------- level generation
def contour_levels(
    tiles: "DataFrame",
    interval: float | None = None,
    offset: float = 0.0,
    exp_base: float | None = None,
) -> list[float]:
    """gdal_contour's -i/-off and -e level generation (marching_squares/
    level_generator.h IntervalLevelRangeIterator:128-183 and
    ExponentialLevelRangeIterator:186-249): one distributed band
    min/max aggregate, then the closed-form level list on the driver
    (levels are O(range/interval) — tiny). Feed the result to
    contour()/contour_polylines(); -fl fixed levels are already the
    native `levels` argument."""
    import math

    from .raster import band_stats

    s = band_stats(tiles).collect()
    if not s:
        return []
    zmin = min(r["min"] for r in s)
    zmax = max(r["max"] for r in s)
    if exp_base is not None:
        if zmax <= 0:
            return []
        lb = math.log(exp_base)
        k1 = math.ceil(math.log(max(zmin, 1e-300)) / lb)
        k2 = math.floor(math.log(zmax) / lb)
        return [float(exp_base ** k) for k in range(int(k1), int(k2) + 1)]
    if interval is None or interval <= 0:
        raise ValueError("contour_levels needs interval > 0 or exp_base")
    k1 = math.ceil((zmin - offset) / interval)
    k2 = math.floor((zmax - offset) / interval)
    return [float(k * interval + offset) for k in range(int(k1), int(k2) + 1)]
