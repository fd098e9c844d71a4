"""Deterministic geometry derived from the driver's flat documents
table (doc_id:bigint) — computable identically in Spark AND in plain
ANSI SQL (the DuckDB oracle), so spatial operators get full
value-level correctness gates.

The derivation uses a Knuth multiplicative hash with arithmetic that
never overflows int64 for doc_id < ~3.4e9 and has identical semantics
in both engines (non-negative operands only):

    u1  = (doc_id * 2654435761) % 4294967296
    u2  = ((doc_id + 1) * 2654435761) % 4294967296
    lon = -180 + 360 * u1 / 4294967296      in [-180, 180)
    lat = -85  + 170 * u2 / 4294967296      in [-85, 85)    (mercator-safe)

Oracle zones are a g x g unjittered rect grid over that domain with
~10% deterministic holes — closed-form assignment in SQL, while the
Spark side runs the REAL engine machinery (cell cover + broadcast join
+ Arrow PIP UDF) over the same rectangles expressed as quad polygons.
The oracle checks the engine, not itself.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KNUTH = 2654435761
MOD32 = 4294967296


def derived_lonlat(doc_id: Column) -> tuple[Column, Column]:
    u1 = (doc_id.cast("long") * KNUTH) % MOD32
    u2 = ((doc_id.cast("long") + 1) * KNUTH) % MOD32
    lon = F.lit(-180.0) + u1.cast("double") * 360.0 / MOD32
    lat = F.lit(-85.0) + u2.cast("double") * 170.0 / MOD32
    return lon, lat


def with_derived_points(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    lon, lat = derived_lonlat(F.col(id_col))
    return docs.withColumn("lon", lon).withColumn("lat", lat)


DERIVED_LON_SQL = "(-180.0 + CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE) * 360.0 / 4294967296)"
DERIVED_LAT_SQL = "(-85.0 + CAST(((doc_id + 1) * 2654435761) % 4294967296 AS DOUBLE) * 170.0 / 4294967296)"


# ------------------------------------------------------------- oracle zones
def rect_zone_grid(g: int = 8, margin: float = 0.0) -> pd.DataFrame:
    """g x g rect zones over lon[-180,180) lat[-85,85) with deterministic
    holes (zone dropped when (zone_id*KNUTH % 2^32) % 10 == 0). Returned
    in the engine's zone schema (quads) so the cover/PIP path runs
    unchanged. `margin` expands every rect outward — neighbors then
    OVERLAP, which exercises multi-match semantics (MERGE_ALG=ADD)."""
    pitch_x, pitch_y = 360.0 / g, 170.0 / g
    rows = []
    for zi in range(g):
        for zj in range(g):
            zone_id = zi * g + zj
            if (zone_id * KNUTH % MOD32) % 10 == 0:
                continue
            x0, x1 = -180.0 + zi * pitch_x - margin, -180.0 + (zi + 1) * pitch_x + margin
            y0, y1 = -85.0 + zj * pitch_y - margin, -85.0 + (zj + 1) * pitch_y + margin
            xs = [x0, x1, x1, x0]
            ys = [y0, y0, y1, y1]
            verts = [f"{x} {y}" for x, y in zip(xs, ys)]
            rows.append(
                {
                    "zone_id": zone_id,
                    "eas_id": 158 + zone_id * 7,
                    "prfedea": f"35043{zone_id:04d}",
                    "area": pitch_x * pitch_y,
                    "geom_wkt": "POLYGON((" + ", ".join(verts + [verts[0]]) + "))",
                    "xs": xs,
                    "ys": ys,
                    "xmin": x0,
                    "ymin": y0,
                    "xmax": x1,
                    "ymax": y1,
                }
            )
    return pd.DataFrame(rows)


def rect_zone_oracle_sql(g: int = 8) -> str:
    """SQL expression fragment: closed-form zone id for (lon, lat) with
    NULL for hole zones. Interpolate after defining lon/lat aliases."""
    return f"""
    CASE WHEN ((CAST(FLOOR((lon + 180.0) / {360.0 / g}) AS BIGINT) * {g}
              + CAST(FLOOR((lat + 85.0) / {170.0 / g}) AS BIGINT))
              * {KNUTH} % {MOD32}) % 10 = 0 THEN NULL
         ELSE CAST(FLOOR((lon + 180.0) / {360.0 / g}) AS BIGINT) * {g}
              + CAST(FLOOR((lat + 85.0) / {170.0 / g}) AS BIGINT)
    END
    """


# ------------------------------------------------------------- doc squares
def with_derived_squares(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Axis-aligned square geometry per document (for overlay-algebra
    operators): center = the derived point, half-size 0.2..1.0 deg from
    a third hash lane — identical closed form in Spark and SQL."""
    d = with_derived_points(docs, id_col)
    u3 = ((F.col(id_col).cast("long") + 2) * KNUTH) % MOD32
    half = F.lit(0.2) + F.lit(0.8) * u3.cast("double") / MOD32
    return (
        d.withColumn("x0", F.col("lon") - half)
        .withColumn("x1", F.col("lon") + half)
        .withColumn("y0", F.col("lat") - half)
        .withColumn("y1", F.col("lat") + half)
    )


DERIVED_HALF_SQL = (
    "(0.2 + 0.8 * CAST(((doc_id + 2) * 2654435761) % 4294967296 AS DOUBLE) / 4294967296)"
)


# -------------------------------------------------------- documents as docs
def docs_with_spans_from_flat(docs: DataFrame) -> DataFrame:
    """Wrap the driver's flat documents rows in the interleaved-spans
    shape (BASELINE.json input_hint): a text span from `text`, a media
    span from the doc id, and a geom span carrying the derived point —
    so the engine's nested-document path runs over the real table."""
    lon, lat = derived_lonlat(F.col("doc_id"))
    wkt = F.format_string("POINT(%.7f %.7f)", F.floor(lon * 1e7) / 1e7, F.floor(lat * 1e7) / 1e7)
    spans = F.array(
        F.struct(
            F.lit("text").alias("kind"),
            F.col("text").alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).alias("offset"),
        ),
        F.struct(
            F.lit("media").alias("kind"),
            F.lit("").alias("text"),
            F.format_string("media://%09d", F.col("doc_id")).alias("media_ref"),
            F.lit(1).alias("offset"),
        ),
        F.struct(
            F.lit("geom").alias("kind"),
            wkt.alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(2).alias("offset"),
        ),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans")
    )
