"""kNN join via cell-ring expansion.

The reference's nearest-neighbor machinery lives inside gridding: a
quadtree-accelerated search (alg/gdalgrid.cpp:1689
GDALGridContextCreateQuadTree over cpl_quad_tree.cpp:149) feeding
GGA_NearestNeighbor / IDW (gdal/alg/gdal_alg.h:438-451). Restated for
Spark:

  1. queries (small side) expand to all index cells within a Chebyshev
     ring radius r of their own cell — broadcast map (cell -> queries)
  2. the big points side joins that map on its cell id (broadcast hash
     join, no shuffle of the points) -> haversine in column math
  3. top-k per query via window row_number over the (tiny) candidate
     set — the only shuffle, carrying candidates only
  4. exactness guard: a query's answer is exact iff its k-th neighbor
     distance <= the minimum great-circle distance to the boundary of
     the covered cell block. Queries failing the guard (or with < k
     candidates) escalate to the next ring radius (driver loop,
     geometrically growing r) — the cell-ring expansion of SURVEY §2.3.

At 10^12 points the expensive side never shuffles; candidate volume is
(#queries x points-per-cell x ring area), controlled by the level.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import geomlite as G
from .cells import geo_cell, pack_geo_cell


def _haversine_col(lon1, lat1, lon2, lat2):
    """Great-circle meters as pure column math (mean Earth radius —
    must match geomlite.haversine exactly)."""
    r1lon, r1lat = F.radians(lon1), F.radians(lat1)
    r2lon, r2lat = F.radians(lon2), F.radians(lat2)
    a = (
        F.pow(F.sin((r2lat - r1lat) / 2), 2)
        + F.cos(r1lat) * F.cos(r2lat) * F.pow(F.sin((r2lon - r1lon) / 2), 2)
    )
    return 2.0 * G.MEAN_EARTH_RADIUS * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


def _query_cells(queries: pd.DataFrame, level: int, radius: int) -> pd.DataFrame:
    """Explode each query to its cells within Chebyshev ring `radius`,
    plus the guard distance (meters to the covered block's boundary)."""
    n = 1 << level
    cell_w = 360.0 / n
    cell_h = 180.0 / n
    rows = []
    for q in queries.itertuples(index=False):
        cx = min(max(int(math.floor((q.lon + 180.0) / 360.0 * n)), 0), n - 1)
        cy = min(max(int(math.floor((q.lat + 90.0) / 180.0 * n)), 0), n - 1)
        # guard: a LOWER bound on the distance from the query point to
        # any uncovered point. Any geodesic leaving the covered block
        # crosses one of its boundary lines, so min over:
        #   - lat boundaries: exact meridian distance R*|dphi|
        #   - lon boundaries: cross-track distance to the boundary
        #     meridian's great circle, R*asin(|sin dlon|*cos lat) —
        #     always <= the true distance to the meridian segment (the
        #     r3 along-parallel haversine OVERestimated it away from
        #     the equator, breaking the exactness contract). sin is
        #     periodic, so antimeridian wrap needs no special-casing:
        #     the ring is lon-complete only when (2r+1) cells >= n.
        lat_lo = max(-90.0, -90.0 + (cy - radius) * cell_h)
        lat_hi = min(90.0, -90.0 + (cy + radius + 1) * cell_h)
        cand = []
        if (2 * radius + 1) < n:
            lon_lo = -180.0 + (cx - radius) * cell_w  # unclamped: wraps
            lon_hi = -180.0 + (cx + radius + 1) * cell_w
            cosphi = math.cos(math.radians(q.lat))
            for lb in (lon_lo, lon_hi):
                s = abs(math.sin(math.radians(q.lon - lb))) * cosphi
                cand.append(G.MEAN_EARTH_RADIUS * math.asin(min(1.0, s)))
        if lat_lo > -90.0:
            cand.append(G.haversine(q.lon, q.lat, q.lon, lat_lo))
        if lat_hi < 90.0:
            cand.append(G.haversine(q.lon, q.lat, q.lon, lat_hi))
        guard = float(min(cand)) if cand else float("inf")
        for dx in range(-radius, radius + 1):
            for dy in range(-radius, radius + 1):
                ccx, ccy = cx + dx, cy + dy
                if 0 <= ccy < n:
                    ccx = ccx % n  # wrap the antimeridian
                    rows.append(
                        {
                            "q_id": int(q.q_id),
                            "q_lon": float(q.lon),
                            "q_lat": float(q.lat),
                            "k": int(q.k),
                            "cell_id": pack_geo_cell(ccx, ccy, level),
                            "guard_m": guard,
                        }
                    )
    return pd.DataFrame(rows)


def knn_join(
    spark: SparkSession,
    points: DataFrame,
    queries: pd.DataFrame,
    level: int = 6,
    initial_radius: int = 1,
    max_rounds: int = 6,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact kNN of each query against `points` (needs lon/lat columns).

    Returns (q_id, doc_id, dist_m, rank) with rank 1..k, ties broken by
    id_col ascending (FIXTURES.md golden #4). Driver loop escalates
    unresolved queries to geometrically larger rings; each round is a
    broadcast join — the points table never shuffles.

    CONTRACT: `queries` is the SMALL side by design (a pandas frame,
    like the broadcast zone cover) — per-round state is O(q * k) rows
    on the driver and each escalation round is one full Spark job, so
    this is a q <= ~10^5 interactive-lookup operator, not a
    point-vs-point self-join. For kNN with a LARGE query side, run the
    queries as a DataFrame through the same cell-ring expansion with a
    shuffle join on cell_id instead (the pip_join candidate pattern);
    the escalation then becomes per-row radius columns re-joined each
    round rather than a driver-filtered pandas frame."""
    pts = points.select(
        F.col(id_col), F.col("lon").alias("p_lon"), F.col("lat").alias("p_lat"),
        geo_cell(F.col("lon"), F.col("lat"), level).alias("cell_id"),
    )
    pending = queries.copy()
    results: list = []
    radius = initial_radius
    for _ in range(max_rounds):
        if len(pending) == 0:
            break
        qc = spark.createDataFrame(_query_cells(pending, level, radius))
        cand = pts.join(F.broadcast(qc), "cell_id", "inner")
        cand = cand.withColumn(
            "dist_m",
            _haversine_col(F.col("q_lon"), F.col("q_lat"), F.col("p_lon"), F.col("p_lat")),
        )
        w = Window.partitionBy("q_id").orderBy(F.asc("dist_m"), F.asc(id_col))
        topk = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= F.col("k"))
            .select("q_id", id_col, "dist_m", "rank", "k", "guard_m")
        )
        got = topk.toPandas()
        counts = got.groupby("q_id").agg(nk=("rank", "max"), kth=("dist_m", "max"))
        merged = pending.merge(counts, left_on="q_id", right_index=True, how="left")
        guards = (
            got.groupby("q_id")["guard_m"].first()
            if len(got)
            else pd.Series(dtype=float)
        )
        merged = merged.merge(
            guards.rename("guard_m"), left_on="q_id", right_index=True, how="left"
        )
        ok = (
            merged["nk"].fillna(0).astype(int) >= merged["k"]
        ) & (merged["kth"] <= merged["guard_m"])
        done_ids = set(merged.loc[ok.fillna(False), "q_id"].tolist())
        if done_ids:
            results.append(got[got["q_id"].isin(done_ids)][["q_id", id_col, "dist_m", "rank"]])
        pending = merged.loc[~ok.fillna(False), ["q_id", "lon", "lat", "k"]]
        radius *= 2
    if len(pending):
        raise RuntimeError(
            f"kNN did not converge for {len(pending)} queries within "
            f"{max_rounds} rounds — raise max_rounds or lower level"
        )
    out = pd.concat(results, ignore_index=True)
    return spark.createDataFrame(out)


def knn_join_distributed(
    spark: SparkSession,
    points: DataFrame,
    queries: DataFrame,
    level: int = 6,
    initial_radius: int = 1,
    max_rounds: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact kNN for a LARGE DataFrame query side — the scale path the
    `knn_join` docstring contract names (q is a distributed table, not
    a broadcast pandas frame; nothing per-query ever reaches the
    driver).

    Same cell-ring expansion, restated as DataFrame state:

      - points shuffle ONCE: keyed by their level-`level` grid cell and
        cached with that partitioning, so every round's join reuses the
        exchange instead of re-shuffling the big side
      - per round, still-pending queries explode to the NEW cell
        annulus (Chebyshev radius in (r/2, r], pure column math with
        antimeridian wrap), shuffle-join points on cell_id, and merge
        into a carried top-k candidate state bounded at q x k rows
      - the exactness guard (k-th distance <= great-circle distance to
        the covered block's boundary) is evaluated as columns; resolved
        queries emit and drop out, the rest double their radius

    Rounds = log2 of the cell-ring distance to the k-th neighbor, the
    same bound as the small-q operator; once the radius covers the
    grid, every query resolves by exhaustion. Reference: quadtree
    nearest search alg/gdalgrid.cpp:1689 over cpl_quad_tree.cpp:149."""
    n = 1 << level
    cell_w = 360.0 / n
    cell_h = 180.0 / n
    inf = F.lit(float("inf"))

    pts = points.select(
        F.col(id_col),
        F.col("lon").alias("p_lon"),
        F.col("lat").alias("p_lat"),
        geo_cell(F.col("lon"), F.col("lat"), level).alias("cell_id"),
    ).repartition("cell_id").persist()

    clamp = lambda c, hi: F.greatest(F.least(c, F.lit(hi)), F.lit(0))  # noqa: E731
    pending = queries.select(
        "q_id",
        F.col("lon").alias("q_lon"),
        F.col("lat").alias("q_lat"),
        "k",
        clamp(F.floor((F.col("lon") + 180.0) / 360.0 * n).cast("long"), n - 1).alias("cx"),
        clamp(F.floor((F.col("lat") + 90.0) / 180.0 * n).cast("long"), n - 1).alias("cy"),
    )

    qcols = ["q_id", "q_lon", "q_lat", "k", "cx", "cy"]
    cand = None
    results = None
    r_prev, radius = -1, initial_radius  # first annulus includes own cell
    try:
        for _ in range(max_rounds):
            cellq = (
                pending.withColumn(
                    "dx", F.explode(F.sequence(F.lit(-radius), F.lit(radius)))
                )
                .withColumn(
                    "dy", F.explode(F.sequence(F.lit(-radius), F.lit(radius)))
                )
                .filter(F.greatest(F.abs("dx"), F.abs("dy")) > r_prev)
                .withColumn("ccy", F.col("cy") + F.col("dy"))
                .filter((F.col("ccy") >= 0) & (F.col("ccy") < n))
                .withColumn("ccx", F.pmod(F.col("cx") + F.col("dx"), F.lit(n)))
                .select(
                    *qcols,
                    (
                        F.lit(int(level)).cast("long") * (1 << 52)
                        + F.col("ccx") * (1 << 26)
                        + F.col("ccy")
                    ).alias("cell_id"),
                )
            )
            new = cellq.join(pts, "cell_id").select(
                *qcols,
                F.col(id_col),
                _haversine_col(
                    F.col("q_lon"), F.col("q_lat"), F.col("p_lon"), F.col("p_lat")
                ).alias("dist_m"),
            )
            cand = new if cand is None else cand.unionByName(new)
            w = Window.partitionBy("q_id").orderBy(F.asc("dist_m"), F.asc(id_col))
            topk = (
                cand.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= F.col("k"))
                .localCheckpoint()
            )

            # column-math guard: LOWER bound on the distance to uncovered
            # territory — lat boundaries by exact meridian distance, lon
            # boundaries by cross-track distance to the boundary meridian
            # (R*asin(|sin dlon|*cos lat), periodic so antimeridian wrap
            # is free; same bound as _query_cells, see the comment there)
            lat_lo = F.greatest(F.lit(-90.0), F.lit(-90.0) + (F.col("cy") - radius) * cell_h)
            lat_hi = F.least(F.lit(90.0), F.lit(-90.0) + (F.col("cy") + radius + 1) * cell_h)

            def xtrack(lon_b):
                s = F.abs(F.sin(F.radians(F.col("q_lon") - lon_b))) * F.cos(
                    F.radians(F.col("q_lat"))
                )
                return G.MEAN_EARTH_RADIUS * F.asin(F.least(s, F.lit(1.0)))

            if (2 * radius + 1) < n:
                lon_lo = F.lit(-180.0) + (F.col("cx") - radius) * cell_w
                lon_hi = F.lit(-180.0) + (F.col("cx") + radius + 1) * cell_w
                guard_w, guard_e = xtrack(lon_lo), xtrack(lon_hi)
            else:
                guard_w = guard_e = inf
            guard = F.least(
                guard_w,
                guard_e,
                F.when(lat_lo > -90.0,
                       _haversine_col(F.col("q_lon"), F.col("q_lat"), F.col("q_lon"), lat_lo)
                       ).otherwise(inf),
                F.when(lat_hi < 90.0,
                       _haversine_col(F.col("q_lon"), F.col("q_lat"), F.col("q_lon"), lat_hi)
                       ).otherwise(inf),
            )
            full_cover = radius >= n
            stats = topk.groupBy(*qcols).agg(
                F.count("*").alias("cnt"), F.max("dist_m").alias("kth")
            ).withColumn(
                "resolved",
                F.lit(full_cover)
                | ((F.col("cnt") >= F.col("k")) & (F.col("kth") <= guard)),
            )
            done_q = stats.filter("resolved").select("q_id")
            got = topk.join(done_q, "q_id", "left_semi").select(
                "q_id", id_col, "dist_m", "rank"
            )
            results = got if results is None else results.unionByName(got)
            pending = pending.join(done_q, "q_id", "left_anti").localCheckpoint()
            cand = topk.join(done_q, "q_id", "left_anti").drop("rank")
            if full_cover or pending.isEmpty():
                break
            r_prev, radius = radius, radius * 2
        else:
            raise RuntimeError(
                f"kNN did not converge for {pending.count()} queries within "
                f"{max_rounds} rounds — raise max_rounds or lower level"
            )
    finally:
        pts.unpersist()
    return results
