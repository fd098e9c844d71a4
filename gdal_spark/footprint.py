"""gdal_footprint: valid-data footprint polygons of a raster.

Reference semantics (apps/gdal_footprint.cpp):
  - the footprint source mask is the band's mask band (nodata
    comparison, GMF_NODATA — gcore/gdalnodatamaskband.cpp); multiple
    bands combine per-pixel with -combine_bands union (valid in ANY
    band) or intersection (valid in EVERY band) (gdal_footprint.cpp
    GDALFootprintCombinedMaskBand);
  - mask regions polygonize exactly like GDALPolygonize
    (gdal_footprint.cpp calls GDALPolygonize with the mask as both
    source and mask band), keeping only the valid (non-zero) regions;
  - -t_cs pixel emits pixel-lattice coordinates, -t_cs georef applies
    the dataset geotransform to every vertex;
  - -min_ring_area drops rings below the area threshold (outer ring
    below => whole polygon dropped, gdal_footprint.cpp
    GDALFootprintProcess/minRingArea);
  - -dissolve merges everything into one (multi)polygon feature.
    Distinct 4-connected mask regions are disjoint BY CONSTRUCTION,
    so the dissolved geometry is the plain MULTIPOLYGON of the
    per-region rings — no geometric union pass is needed.

Design for 100 TB: the mask is map-only per tile; region discovery is
the polygonize_wkt pipeline (per-tile CCL -> O(perimeter) boundary
half-edges -> distributed component stitch -> one gather per REGION,
not per raster); the vertex transform / ring filtering is a map-only
pass over the per-region WKT rows. The only per-raster gather is the
optional dissolve, whose input is one WKT row per footprint region —
bounded by footprint complexity, not raster size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .polygonize import polygonize_wkt
from .synth import TILE_COLUMNS, TILE_SCHEMA
from .tiling import _decode


def valid_mask(tiles: DataFrame, bands=None, combine: str = "union") -> DataFrame:
    """Per-pixel validity mask (255 valid / 0 nodata) combined across
    bands (-combine_bands union|intersection). Single-band inputs stay
    map-only; multi-band inputs group the band rows of each tile."""
    if combine not in ("union", "intersection"):
        raise ValueError(combine)
    if bands is not None:
        tiles = tiles.filter(F.col("band").isin([int(b) for b in bands]))

    take_all = combine == "intersection"

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        r0 = pdf.iloc[0]
        acc = None
        for r in pdf.itertuples(index=False):
            arr = _decode(r.data, r.dtype, r.height, r.width)
            if r.nodata is None or (isinstance(r.nodata, float)
                                    and np.isnan(r.nodata)):
                v = np.ones(arr.shape, dtype=bool)
            else:
                v = arr.astype(np.float64) != float(r.nodata)
            acc = v if acc is None else (acc & v if take_all else acc | v)
        out = r0.to_dict()
        out.update(band=1, dtype="uint8", nodata=None,
                   data=np.where(acc, 255, 0).astype(np.uint8).tobytes())
        return pd.DataFrame([out], columns=TILE_COLUMNS)

    return tiles.groupBy("raster_id", "tile_x", "tile_y").applyInPandas(
        run, schema=TILE_SCHEMA)


def _ring_area(xs: np.ndarray, ys: np.ndarray) -> float:
    """Unsigned shoelace area of a closed ring."""
    return abs(float(np.dot(xs[:-1], ys[1:]) - np.dot(xs[1:], ys[:-1]))) / 2.0


def _transform_wkt(wkt: str, gt, min_ring_area: float, prec: int):
    """Apply the dataset geotransform to every vertex of a POLYGON /
    MULTIPOLYGON WKT in pixel-lattice coords, dropping rings below
    min_ring_area (outer ring below => polygon dropped)."""
    body = wkt.strip()
    multi = body.startswith("MULTIPOLYGON")
    body = body[len("MULTIPOLYGON" if multi else "POLYGON"):].strip()
    # parse ((r),(r)),((r)) nesting with a flat scanner
    polys, ring, rings, depth, num = [], [], [], 0, ""
    i = 0
    while i < len(body):
        c = body[i]
        if c == "(":
            depth += 1
        elif c == ")" or c == ",":
            if num.strip():
                ring.append(num.strip())
                num = ""
            if c == ")":
                if depth == (3 if multi else 2):
                    rings.append(ring)
                    ring = []
                elif depth == (2 if multi else 1):
                    polys.append(rings)
                    rings = []
                depth -= 1
        else:
            num += c
        i += 1
    g0, g1, g2, g3, g4, g5 = [float(v) for v in gt]
    out_polys = []
    for rings in polys:
        txt_rings = []
        dropped_outer = False
        for k, rr in enumerate(rings):
            pts = [p.split() for p in rr]
            xs = np.array([float(p[0]) for p in pts])
            ys = np.array([float(p[1]) for p in pts])
            gx = g0 + xs * g1 + ys * g2
            gy = g3 + xs * g4 + ys * g5
            if min_ring_area > 0.0 and _ring_area(gx, gy) < min_ring_area:
                if k == 0:
                    dropped_outer = True
                    break
                continue
            txt_rings.append("(" + ", ".join(
                f"{round(a, prec):g} {round(b, prec):g}"
                for a, b in zip(gx.tolist(), gy.tolist())) + ")")
        if not dropped_outer and txt_rings:
            out_polys.append("(" + ", ".join(txt_rings) + ")")
    if not out_polys:
        return None
    if multi:
        return "MULTIPOLYGON (" + ", ".join(out_polys) + ")"
    return "POLYGON " + out_polys[0]


def footprint(tiles: DataFrame, bands=None, combine: str = "union",
              gt=None, min_ring_area: float = 0.0, dissolve: bool = False,
              prec: int = 7) -> DataFrame:
    """gdal_footprint over a tile table. Returns (region_id, npix,
    wkt) — or one (raster_id, npix, wkt) MULTIPOLYGON row with
    -dissolve. gt=None keeps -t_cs pixel coordinates; a 6-tuple
    applies -t_cs georef."""
    mask = valid_mask(tiles, bands=bands, combine=combine)
    regions = polygonize_wkt(mask).filter(F.col("value") == 255.0)

    the_gt = tuple(float(v) for v in (gt or (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)))

    @F.pandas_udf(T.StringType())
    def xf(wkts: pd.Series) -> pd.Series:
        return wkts.map(lambda w: None if w is None else _transform_wkt(
            w, the_gt, min_ring_area, prec))

    out = regions.select(
        "region_id", "npix", xf(F.col("wkt")).alias("wkt")
    ).filter(F.col("wkt").isNotNull())
    if not dissolve:
        return out
    return dissolve_regions(out)


def dissolve_regions(out: DataFrame) -> DataFrame:
    """-dissolve over an already-computed footprint regions table:
    distinct 4-connected mask regions are disjoint BY CONSTRUCTION, so
    the dissolved feature is the plain MULTIPOLYGON concatenation —
    one applyInPandas gather over O(#regions) rows, no geometry union.
    Exposed separately so callers needing BOTH shapes (gdal_footprint
    with and without -dissolve, the bench suite) run the expensive
    mask -> polygonize -> component-stitch pipeline ONCE."""
    # disjoint-by-construction regions: dissolve = concatenate rings
    def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bodies = []
        for w in sorted(pdf["wkt"]):
            b = w.strip()
            if b.startswith("MULTIPOLYGON"):
                bodies.append(b[len("MULTIPOLYGON"):].strip()[1:-1])
            else:
                bodies.append(b[len("POLYGON"):].strip())
        return pd.DataFrame([{
            "raster_id": "footprint",
            "npix": int(pdf["npix"].sum()),
            "wkt": "MULTIPOLYGON (" + ", ".join(bodies) + ")",
        }])

    return out.withColumn("_k", F.lit(1)).groupBy("_k").applyInPandas(
        merge, schema=T.StructType([
            T.StructField("raster_id", T.StringType()),
            T.StructField("npix", T.LongType()),
            T.StructField("wkt", T.StringType()),
        ]))
