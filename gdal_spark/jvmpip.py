"""Pure-JVM point-in-polygon join path (no Python in the hot leg).

A per-layer scaling profile (today: `perfbench/run.py --trace 1`, which
splits each rep into scan -> parse -> pip_join -> full) isolated the
8->32-core efficiency loss of the headline PIP join to Arrow IPC
memory bandwidth: the fused Arrow UDF ships two doubles + a null
string per document into Python workers and a small struct back, and
at 32 concurrent workers that serialization traffic saturates the
box's memory bus before the cores saturate. This module removes
Python from the hot path entirely for point documents — the common
case (95% of the synthetic corpus, and ~all of a real geocoded text
corpus):

  zones -> the SAME PackedCover cover build as index.py, but emitted
  as a small DataFrame (cell -> array<candidate struct incl. ring
  vertex arrays>) and broadcast-hash-joined to the documents on the
  cell id; the exact even-odd ray cast then runs as a Catalyst
  `aggregate` over the ring arrays — interpreted JVM expression
  evaluation, zero Arrow, zero Python workers, no GIL.

Polygon documents (the minority whose exact test is
polygon x polygon) keep the vectorized Arrow kernel: `pip_join`'s
engine='auto' splits the source on "WKT parses as POINT" (a codegen'd
regexp), runs this JVM leg on the points and the fused-UDF leg on the
rest, and unions the legs. Both legs are map-only over a broadcast:
still zero shuffles on the document side.

Semantics parity: the ray cast here is expression-for-expression the
numpy kernel (geomlite.pip_pairs) — same `(yi>py) != (yj>py)` edge
rule, same `px < (xj-xi)*(py-yi)/(yj-yi)+xi` strict inequality, same
implicit last->first ring closure — and candidates are pre-sorted by
zone_id inside each cell, so first-match picks the identical zone
(OGR SQL one-to-first-match LEFT JOIN, ogr_sql_dialect.rst:483-490).
IEEE-754 double arithmetic with the identical operation order makes
the comparison bit-identical between numpy and the JVM.

Reference behavior: OGRLayer::FilterGeometry's staged test
(generic/ogrlayer.cpp:1357 — bbox reject :1377-1382, exact test
:1449-1462) with the .qix quadtree probe
(ogr/ogrsf_frmts/shape/ogrshapelayer.cpp:541) played by the cell join.

Scale note (100 TB): the cover broadcast is the same megabytes as the
PackedCover pickle; the document side is one map stage (scan ->
broadcast join -> project), fully codegen'd except the interpreted
ray-cast lambda. At 10^6+ zones, shard the cover DataFrame by cell
range and let AQE pick a shuffled join — the expression kernel is
unchanged.

MEASURED OUTCOME (the reason this is NOT the default): at 8M docs on
local[32] with interleaved reps, engine='arrow' best 5.4 s vs
engine='auto' best 10.9 s. Catalyst higher-order functions evaluate
their lambdas by interpreted expression-tree walks per array element
(no whole-stage codegen inside the lambda), and at ~8 vertices x ~2
candidates per point that interpretation costs more than the Arrow
IPC it avoids. The path is kept because it is correctness-verified
(identical rows to the Arrow kernel, including boundary cases — the
ray cast is expression-for-expression the same IEEE-754 arithmetic)
and because it removes the Python-worker dependency entirely, which
matters on clusters where executor Python memory is the binding
constraint rather than CPU.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cells import geo_cell
from .index import PackedCover

_CAND = T.StructType(
    [
        T.StructField("zone_id", T.LongType()),
        T.StructField("eas_id", T.LongType()),
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
        T.StructField("xs", T.ArrayType(T.DoubleType())),
        T.StructField("ys", T.ArrayType(T.DoubleType())),
    ]
)

_COVER_SCHEMA = T.StructType(
    [
        T.StructField("cell", T.LongType()),
        T.StructField("cands", T.ArrayType(_CAND)),
    ]
)


def cover_df(spark: SparkSession, cov: PackedCover) -> DataFrame:
    """The PackedCover re-emitted as (cell, cands) rows — one row per
    non-empty cell, candidates in zone_id order (the first-match
    order). Built once on the driver; broadcast by the join."""
    rows = []
    for ci in range(len(cov.cells)):
        lo, hi = int(cov.off[ci]), int(cov.off[ci + 1])
        cands = []
        for p in range(lo, hi):
            z = int(cov.cand_zone[p])
            r0 = int(cov.ring_off[z])
            rl = int(cov.ring_len[z])
            cands.append(
                (
                    int(cov.zone_id[z]),
                    int(cov.eas_id[z]),
                    float(cov.zxmin[z]),
                    float(cov.zymin[z]),
                    float(cov.zxmax[z]),
                    float(cov.zymax[z]),
                    [float(v) for v in cov.ring_x[r0 : r0 + rl]],
                    [float(v) for v in cov.ring_y[r0 : r0 + rl]],
                )
            )
        rows.append((int(cov.cells[ci]), cands))
    return spark.createDataFrame(rows, _COVER_SCHEMA)


def pip_expr(x: Column, y: Column, xs: Column, ys: Column) -> Column:
    """Even-odd ray cast as a Catalyst aggregate — the JVM twin of
    geomlite.pip_pairs (same edge rule, same strict `<`, same implicit
    ring closure last->first). Division by zero cannot poison the
    accumulator: the divisor (yj - yi) is nonzero whenever the
    opposite-sides condition holds, and the AND short-circuits the
    NULL quotient to false otherwise."""
    n = F.size(xs)

    def step(acc: Column, i: Column) -> Column:
        prev = F.when(i == F.lit(1), n).otherwise(i - F.lit(1))
        xi = F.element_at(xs, i)
        yi = F.element_at(ys, i)
        xj = F.element_at(xs, prev)
        yj = F.element_at(ys, prev)
        cond = (yi > y) != (yj > y)
        xint = (xj - xi) * (y - yi) / (yj - yi) + xi
        hit = F.coalesce(cond & (x < xint), F.lit(False))
        return acc != hit  # boolean XOR

    return F.aggregate(F.sequence(F.lit(1), n), F.lit(False), step)


def point_matches_expr(x: Column, y: Column, cands: Column) -> Column:
    """Ordered array of candidate structs the point lies in — the
    staged FilterGeometry test (bbox reject, then exact ray cast) as a
    single array filter over the joined candidate list. A NULL cands
    (point fell in a cell no zone covers) stays NULL: size(NULL) and
    explode_outer(NULL) both resolve to the no-match row downstream."""
    return F.filter(
        cands,
        lambda c: (x >= c["xmin"])
        & (x <= c["xmax"])
        & (y >= c["ymin"])
        & (y <= c["ymax"])
        & pip_expr(x, y, c["xs"], c["ys"]),
    )


def pip_points_jvm(
    points: DataFrame,
    cover: DataFrame,
    level: int,
    x: str = "lon",
    y: str = "lat",
    mode: str = "first",
) -> DataFrame:
    """JVM-only PIP over a table that already carries point coordinate
    columns. Adds zone_id / eas_id ('first' — NULL when no zone) or
    explodes all matching pairs ('all' — NULL row when none)."""
    j = points.join(
        F.broadcast(cover),
        geo_cell(F.col(x), F.col(y), level) == cover["cell"],
        "left",
    ).drop("cell")
    matched = point_matches_expr(F.col(x), F.col(y), F.col("cands"))
    if mode == "first":
        first = F.when(F.size(matched) >= 1, F.element_at(matched, 1))
        return (
            j.withColumn("zone_id", first["zone_id"])
            .withColumn("eas_id", first["eas_id"])
            .drop("cands")
        )
    ex = j.withColumn("_matches", matched).drop("cands")
    ex = ex.select("*", F.explode_outer("_matches").alias("_e"))
    return (
        ex.withColumn("zone_id", F.col("_e.zone_id"))
        .withColumn("eas_id", F.col("_e.eas_id"))
        .drop("_matches", "_e")
    )
