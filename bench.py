"""Benchmark harness — prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "docs_per_sec": ...,
   "docs_per_sec_median": ..., "headline_reps": [...],
   "probe_reps": [...]}

The headline is repeated 5x post-warm-up with ALL reps emitted, each
rep preceded by a fixed engine-independent probe (parquet scan +
hash agg) whose per-rep times are emitted alongside — the interleaved
drift control: a headline swing that the probe mirrors is machine
noise, not an engine regression.

Headline = the north-rule benchmark: PIP spatial join + Web-Mercator
tile assignment over N synthetic interleaved documents (default 2M,
$SPARK_GRAFT_BENCH_DOCS) against 10,000 zones, measured as docs/sec.
The document table is staged to parquet once (generation excluded from
timing — the benchmark measures the engine, not the generator).

Also times the driver-table operator queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1): kNN, minhash dedup, ANN, raster
overview+warp, and a relational OGR-SQL representative.

Scaling evidence (north rule N vs 4N executors) is produced by
tools/scaling_bench.py which runs THIS benchmark at local[8] and
local[32] in fresh JVMs and writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from gdal_spark import synth, tiling  # noqa: E402
from gdal_spark.functions import ann as ANN  # noqa: E402
from gdal_spark.functions import text as TX  # noqa: E402
from gdal_spark.index import zone_index  # noqa: E402
from gdal_spark.joins import pip_join  # noqa: E402
from gdal_spark.knn import knn_join  # noqa: E402
from gdal_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "2000000"))
N_ZONES = int(os.environ.get("SPARK_GRAFT_BENCH_ZONES", "10000"))
STAGE_DIR = os.environ.get(
    "SPARK_GRAFT_STAGE_DIR", f"/tmp/gdal_spark_bench/docs_{N_DOCS}"
)


# The timed operator suite: names of __spark_entry__.queries(), run in
# this order (tests/test_registry.py keeps the two in step).
SUITE = (
    "pip_zone_join", "tile_assign", "knn_top5", "ogr_summary",
    "ogr_first_match_join", "dedup_exact", "minhash_pairs",
    "ann_cosine_topk", "overview_checksums", "warp_checksums",
    "overlay_intersection", "rasterize_counts",
    # round-2 additions: distributed block near-dup, the
    # union-overlay rect sweep, and the two-level polyline stitch
    "embed_neardup", "overlay_union", "contour_polylines",
    # round-3 additions: geometry-valued booleans (boundary
    # classification clipper), concave overlay with piece WKT, the
    # TIN grid (broadcast Delaunay), and the compiled dither path
    "geometry_boolean", "overlay_concave_wkt", "grid_linear",
    "dither_checksums",
    # this round: DataFrame-state kNN (500 queries, no driver
    # loop), unbounded ring-doubling proximity, the full VRT
    # pixel-function sweep, and dateline splitting
    "knn_large", "proximity_full_checksums",
    "pixel_functions_checksums", "geometry_wrapdateline",
    # this session: broadcast-Lloyd k-means over embeddings,
    # exact-substring span dedup (full n-gram explode), the
    # no-shuffle split assignment, and band-polygon contouring
    "kmeans_embeddings", "dup_spans", "sample_split",
    "contour_polygons",
    # this session: nearblack closed form, textual gdal_calc,
    # CC dedup groups, eval-set decontamination, linear referencing
    "nearblack_checksums", "gdal_calc_checksums", "dedup_groups",
    "decontaminate", "lineref",
    # and the planner/metadata/composite ops (cheap, breadth)
    "cog_plan", "overview_select", "gdal_edit_gt", "salted_join",
    "gopher_filter", "span_scrub", "warped_layer_conic",
    # last batch: interchange roundtrip, -si smoothing, -scale,
    # combined hillshade, mask bands, lineref -create
    "geojson_roundtrip", "fillnodata_smooth_checksums",
    "translate_scale", "dem_hillshade_comb_checksums",
    "mask_band_checksums", "lineref_create",
    # round 4: curve linearization, MakeValid re-noding, Krovak,
    # capped simhash banding, multidim transpose+unscale, and
    # Yen's K-shortest-paths (driver-orchestrated spur SSSPs — the
    # suite's one intentionally iterative entry)
    "geometry_curves", "geometry_makevalid_bowtie",
    "krovak_transform", "simhash_pairs", "mdarray_transpose",
    "graph_ksp",
    # datum pipelines: ECEF+Helmert, NTv2-style broadcast grid
    # shift, the compound BNG and NAD27->NAD83-UTM pipelines
    "helmert_transform", "gridshift_transform", "bng_transform",
    "nad27_utm_transform",
    # general-transformer raster warps (gdalwarp -t_srs): polar
    # reprojection and the cross-datum BNG chain
    "warp_reproject_checksums", "warp_datum_checksums",
    # enhancement: distributed-histogram equalization + gdal_lut
    "enhance_equalize_checksums", "lut_checksums",
    # equal-area CRS families: LAEA Europe, EASE-Grid 2.0 CEA,
    # Equal Earth
    "laea_transform", "cea_transform", "eqearth_transform",
    # gdal_footprint: mask -> polygonize -> georef transform
    "footprint",
    # Hotine Oblique Mercator variant B (Swiss LV95 + RSO Borneo)
    "hom_swiss_transform", "hom_rso_transform", "nztm_transform",
    # vector-layer append + domain-mix resampling
    "ogrmerge_single", "domain_resample",
    # BPE tokenizer: distributed pair-count train + map-only apply
    "bpe_tokenize", "paragraph_dedup", "url_canonical_dedup",
    "media_manifest",
    # raw-binary drivers: EHdr BIL loop (map-only scan), ENVI BIP
    # 2-band loop (one keyed interleave shuffle in the sink)
    "ehdr_roundtrip", "envi_roundtrip",
    # MBTiles loop: distributed PNG encode/decode + TMS flip
    "mbtiles_roundtrip",
    # PGDump loop: JVM escape chain out, distributed parse back
    "pgdump_roundtrip",
    # XML interchange: file-parallel GPX/KML loops
    "gpx_roundtrip", "kml_roundtrip",
    # MapInfo MIF/MID: ordered pair sink + file-parallel scan
    "mif_roundtrip",
    # session-5 drivers: NetCDF strip IO + mdimtranslate chain,
    # distributed linear referencing, MVT tile pipeline, DXF
    # chunk scan, FlatGeobuf Hilbert-sort + R-tree build, and the
    # registry/index/dissolve utilities
    "netcdf_roundtrip", "mdim_translate",
    "lineref_repers", "lineref_coord", "lineref_pos",
    "lineref_subline", "mvt_roundtrip", "dxf_roundtrip",
    "fgb_roundtrip", "ogr_tindex", "identify", "ogr_dissolve",
    "fgb_bbox_filter", "netcdf_raster", "gml_roundtrip",
    "osm_nodes", "osm_lines", "gdal_create",
    "lineref_pickets", "surf_gcps", "cem_transform",
    "cnsdtf_roundtrip", "mdreader_scenes", "tfat_roundtrip",
    "cog_validate", "transform_geolocs", "dump_overviews",
    "segmentize_lines", "hsv_merge_checksums",
    "val_repl_checksums", "classify_checksums", "attachpct_checksums",
    # distributed transpose-method 2-D FFT (two strip exchanges)
    "fft_magphase", "fft_roundtrip",
    # pure-codegen graticule, junction explode, normal-eq GCP fit
    "graticule_segments", "graticule_lines", "junction_table",
    "gcps2wld",
    # round 5: real NTv2 .gsb consumption, SQLite/Spatialite scan,
    # RAT histogram + PAM loop, OGR_STYLE dialect, the from-scratch
    # HDF5/netCDF-4 chunk-parallel loop, and the baseline-JPEG
    # MBTiles pyramid
    "ntv2_transform", "sqlite_roundtrip", "rat_roundtrip",
    "ogr_style_query", "netcdf4_roundtrip", "mbtiles_jpeg_roundtrip",
    "grib2_roundtrip", "grib2_complex_roundtrip",
    "grib2_lcc_roundtrip", "grib2_ps_roundtrip",
    # elevation cells: DTED column-profile loop (one keyed strip
    # shuffle in the sink), SRTMHGT headerless raw loop (map-only)
    "dted_roundtrip", "srtmhgt_roundtrip",
    # NZMG complex-polynomial projection, staged pure codegen
    "nzmg_transform",
    # GTX geoid vertical shift: broadcast bilinear, no point shuffle
    "geoid_shift",
    # Laborde complex-cubic oblique Mercator, staged inverse
    "laborde_transform",
    # world-map batch: Robinson staged-Newton spline inverse,
    # Goode staged seam CASE, geostationary GOES-East fixed grid
    "robinson_transform", "goode_transform", "geos_goes_transform",
    "eckert4_transform", "winkel_transform",
)

def _stage_docs(spark):
    marker = os.path.join(STAGE_DIR, "_SUCCESS")
    if not os.path.exists(marker):
        synth.documents_df(spark, N_DOCS).write.mode("overwrite").parquet(STAGE_DIR)
    return spark.read.parquet(STAGE_DIR)


def main():
    spark = get_spark("gdal_spark_bench")
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    timings: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        return out

    # ---------------- headline: PIP join + tile assignment ----------------
    docs = _stage_docs(spark)
    zones = synth.zones_np(N_ZONES)
    zidx = zone_index(spark, zones)

    def pip_tile():
        j = pip_join(docs, zidx, mode="first")
        t = tiling.assign_tiles(j, 12)
        # force full evaluation of every output column
        return t.select(
            F.count("*").alias("n"),
            F.sum(F.coalesce(F.col("zone_id"), F.lit(0))).alias("zsum"),
            F.sum("tile_x").alias("xsum"),
            F.sum(F.length("quadkey")).alias("qsum"),
        ).collect()[0]

    # machine-drift probe: a fixed ENGINE-INDEPENDENT workload (scan +
    # hash-aggregate of the staged parquet — its plan never changes
    # across engine rounds). Interleaved 1:1 with the headline reps, it
    # is the built-in A/B: if the probe swings with the headline, the
    # swing is the box, not the code (the r3 "-39%" lesson — see
    # BENCH/BASELINE.md repetition record).
    def probe():
        return docs.select(
            F.sum(F.xxhash64("doc_id")).alias("h"), F.count("*").alias("n")
        ).collect()[0]

    # warm-up: one FULL run spawns python workers, finishes JIT of the
    # codegen'd stages, and distributes the broadcast — one-time costs
    # a long-running cluster job amortizes away
    head = pip_tile()
    probe()
    headline_reps: list[float] = []
    probe_reps: list[float] = []
    for _ in range(5):
        t0 = time.time()
        probe()
        probe_reps.append(round(time.time() - t0, 3))
        t0 = time.time()
        head = pip_tile()
        headline_reps.append(round(time.time() - t0, 3))
    timings["pip_tile_2m"] = min(headline_reps)
    n_docs_done = int(head["n"])
    docs_per_sec = round(n_docs_done / min(headline_reps), 1)
    med = sorted(headline_reps)[len(headline_reps) // 2]
    docs_per_sec_median = round(n_docs_done / med, 1)

    # ---------------- operator suite at SF_DIR ----------------
    import __spark_entry__ as E

    qs = E.queries()
    for name in SUITE:
        df_fn = qs[name]
        # noop sink, NOT count(): count() lets Catalyst prune every
        # computed column, so pure-transform queries would be timed as
        # bare scans (methodology fix this round — see BENCH/BASELINE.md)
        timed(name, lambda f=df_fn: f(spark, SF_DIR)
              .write.format("noop").mode("overwrite").save())

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "pip_join_tile_assign_throughput",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "bench_docs": n_docs_done,
                "docs_per_sec": docs_per_sec,
                "docs_per_sec_median": docs_per_sec_median,
                "headline_reps": headline_reps,
                "probe_reps": probe_reps,
                "suite_eval": "noop-sink",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
