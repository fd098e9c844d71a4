"""gdalinfo / ogrinfo — dataset report surfaces.

Reference: gdal/apps/gdalinfo_lib.cpp (GDALInfo: driver, size,
coordinate system, origin/pixel size, corner coordinates, per-band
min/max/mean/stddev + nodata) and gdal/apps/ogrinfo.cpp (-so summary:
feature count, extent, geometry type, field schema). Both reports are
plain aggregations here: everything reduces map-side and shuffles only
the per-(raster,band) / per-layer partials — the report cost at 100 TB
is one pass over the data with O(1) result rows, or metadata-only when
`approx_ok` samples the coarsest overview level like GDAL's
GDAL_STATS approx path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import blockscan
from . import raster as RST


def gdalinfo(tiles: DataFrame, stats: bool = True) -> DataFrame:
    """One row per (raster_id, band): size, dtype, nodata, crs,
    origin/pixel-size from the min-corner tile's geotransform, and
    (with stats=True) GDAL-style population statistics
    (gdalinfo_lib.cpp "Size is", "Origin =", "Pixel Size =",
    "Minimum=..., Maximum=..., Mean=..., StdDev=...")."""
    meta = tiles.groupBy("raster_id", "band").agg(
        F.first("dtype").alias("dtype"),
        F.first("nodata").alias("nodata"),
        F.first("crs").alias("crs"),
        F.max(F.struct(
            (-F.col("tile_x") - F.col("tile_y")).alias("_k"),
            "geotransform")).alias("_g"),
        F.sum(F.when(F.col("tile_y") == 0, F.col("width"))).alias("size_x"),
        F.sum(F.when(F.col("tile_x") == 0, F.col("height"))).alias("size_y"),
        F.count("*").alias("tiles"),
    ).select(
        "raster_id", "band", "size_x", "size_y", "dtype", "nodata", "crs",
        F.col("_g.geotransform")[0].alias("origin_x"),
        F.col("_g.geotransform")[3].alias("origin_y"),
        F.col("_g.geotransform")[1].alias("pixel_size_x"),
        F.col("_g.geotransform")[5].alias("pixel_size_y"),
        "tiles",
    )
    if not stats:
        return meta
    st = RST.band_stats(tiles)
    return meta.join(st, ["raster_id", "band"], "left")


def ogrinfo(layer: DataFrame, geom_col: str = "geom_wkt") -> DataFrame:
    """ogrinfo -so: one summary row — feature count, extent over the
    geometry column's coordinates, geometry type breakdown
    (ogrinfo.cpp ReportOnLayer: "Feature Count", "Extent",
    "Geometry:"). The extent scans WKT numbers with JVM-side regex
    extraction — no geometry parse, no Python."""
    has_geom = geom_col in layer.columns
    if not has_geom:
        return layer.agg(F.count("*").alias("feature_count")).select(
            "feature_count",
            F.lit(None).cast("double").alias("xmin"),
            F.lit(None).cast("double").alias("ymin"),
            F.lit(None).cast("double").alias("xmax"),
            F.lit(None).cast("double").alias("ymax"),
            F.lit("NONE").alias("geometry_type"),
        )
    g = F.col(geom_col)
    # coordinate stream of the WKT: pairs "x y" split on non-numeric
    nums = F.expr(
        f"transform(filter(split(regexp_replace({geom_col}, "
        f"'[^-0-9.eE]+', ' '), ' '), t -> t rlike '[0-9]'), t -> cast(t as double))"
    )
    xs = F.filter(nums, lambda v, i: i % 2 == 0)
    ys = F.filter(nums, lambda v, i: i % 2 == 1)
    gtype = F.upper(F.trim(F.regexp_extract(g, r"^\s*([A-Za-z ]+)", 1)))
    per = layer.select(
        F.array_min(xs).alias("x0"), F.array_max(xs).alias("x1"),
        F.array_min(ys).alias("y0"), F.array_max(ys).alias("y1"),
        gtype.alias("gt"),
    )
    agg = per.agg(
        F.count("*").alias("feature_count"),
        F.min("x0").alias("xmin"), F.min("y0").alias("ymin"),
        F.max("x1").alias("xmax"), F.max("y1").alias("ymax"),
        F.array_join(
            F.array_sort(F.collect_set("gt")), ",").alias("geometry_type"),
    )
    return agg


def ogrinfo_fields(layer: DataFrame, geom_col: str = "geom_wkt") -> DataFrame:
    """The field-schema block of ogrinfo: (name, type, nullable_seen)
    — OGR type names mapped from the Spark schema, one row per field
    (ReportOnLayer's OGRFieldDefn dump)."""
    import pyspark.sql.types as T
    rows = []
    for i, f in enumerate(layer.schema.fields):
        if f.name in ("fid", geom_col):
            continue
        dt = f.dataType
        if isinstance(dt, T.IntegerType):
            t = "Integer"
        elif isinstance(dt, T.LongType):
            t = "Integer64"
        elif isinstance(dt, (T.DoubleType, T.FloatType)):
            t = "Real"
        elif isinstance(dt, T.BooleanType):
            t = "Integer(Boolean)"
        elif isinstance(dt, T.DateType):
            t = "Date"
        elif isinstance(dt, T.TimestampType):
            t = "DateTime"
        else:
            t = "String"
        rows.append((i, f.name, t))
    spark = layer.sparkSession
    return spark.createDataFrame(rows, "idx int, name string, type string")


def ogr_tindex(features: DataFrame, location_col: str = "location",
               layer_idx_col: str | None = None,
               geom_col: str = "geom_wkt") -> DataFrame:
    """ogrtindex (apps/ogrtindex.cpp:730-740): one feature per source
    layer whose geometry is the layer's extent rectangle and whose
    LOCATION field is "<file>,<layer_index>".

    The reference opens every source serially on one core; here the
    input is the already-loaded feature relation (location + optional
    layer index columns) and the extent reduces in ONE partial+final
    aggregate keyed by source — 10^6 source layers index in a single
    shuffle whose payload is four doubles per layer. The extent uses
    the same JVM-regex WKT coordinate scan as ogrinfo (no Python, no
    geometry parse)."""
    nums = F.expr(
        f"transform(filter(split(regexp_replace({geom_col}, "
        f"'[^-0-9.eE]+', ' '), ' '), t -> t rlike '[0-9]'), t -> cast(t as double))"
    )
    xs = F.filter(nums, lambda v, i: i % 2 == 0)
    ys = F.filter(nums, lambda v, i: i % 2 == 1)
    li = (F.col(layer_idx_col) if layer_idx_col
          else F.lit(0)).cast("int").alias("_li")
    per = features.select(
        F.col(location_col).alias("_loc"), li,
        F.array_min(xs).alias("x0"), F.array_max(xs).alias("x1"),
        F.array_min(ys).alias("y0"), F.array_max(ys).alias("y1"),
    )
    agg = per.groupBy("_loc", "_li").agg(
        F.min("x0").alias("xmin"), F.min("y0").alias("ymin"),
        F.max("x1").alias("xmax"), F.max("y1").alias("ymax"),
        F.count("*").alias("feature_count"),
    )
    wkt = F.concat_ws(
        "", F.lit("POLYGON (("),
        F.col("xmin").cast("string"), F.lit(" "),
        F.col("ymin").cast("string"), F.lit(", "),
        F.col("xmax").cast("string"), F.lit(" "),
        F.col("ymin").cast("string"), F.lit(", "),
        F.col("xmax").cast("string"), F.lit(" "),
        F.col("ymax").cast("string"), F.lit(", "),
        F.col("xmin").cast("string"), F.lit(" "),
        F.col("ymax").cast("string"), F.lit(", "),
        F.col("xmin").cast("string"), F.lit(" "),
        F.col("ymin").cast("string"), F.lit("))"))
    return agg.select(
        F.concat_ws(",", "_loc", F.col("_li").cast("string"))
        .alias("LOCATION"),
        wkt.alias("geom_wkt"),
        "xmin", "ymin", "xmax", "ymax", "feature_count",
    )


_MAGIC_RULES = [
    # (driver, probe) — first match wins, GDALIdentifyDriver order
    ("GTiff", lambda h, p: h[:4] in (b"II*\x00", b"MM\x00*")
        or h[:4] in (b"II+\x00", b"MM\x00+")),
    ("PNG", lambda h, p: h[:8] == b"\x89PNG\r\n\x1a\n"),
    ("FlatGeobuf", lambda h, p: h[:3] == b"fgb" and len(h) > 3
        and h[3] == 3),
    ("netCDF", lambda h, p: h[:3] == b"CDF" and h[3:4] in (b"\x01", b"\x02")),
    ("ESRI Shapefile", lambda h, p: len(h) >= 4
        and int.from_bytes(h[:4], "big") == 9994),
    ("GPKG", lambda h, p: h[:16] == b"SQLite format 3\x00"
        and p.lower().endswith(".gpkg")),
    ("MBTiles", lambda h, p: h[:16] == b"SQLite format 3\x00"
        and p.lower().endswith(".mbtiles")),
    ("SQLite", lambda h, p: h[:16] == b"SQLite format 3\x00"),
    ("DXF", lambda h, p: b"SECTION" in h[:256]
        and p.lower().endswith(".dxf")),
    ("GPX", lambda h, p: b"<gpx" in h[:1024]),
    ("KML", lambda h, p: b"<kml" in h[:1024]),
    # TopoJSON must outrank GeoJSON (both are '{' + "type")
    ("TopoJSON", lambda h, p: h.lstrip()[:1] == b"{"
        and b'"Topology"' in h[:4096]),
    ("GeoJSON", lambda h, p: h.lstrip()[:1] == b"{"
        and (b'"type"' in h[:1024])),
    # fork driver: frmts/cnsdtf/cnsdtfdataset.cpp Identify :489-523
    ("CNSDTF", lambda h, p: h[:8] == b"DataMark"
        and any(m in h[8:64] for m in
                (b"CNSDTF-DEM", b"CNSDTF-RAS", b"CSDTF-DEM", b"CSDTF-RAS"))),
    ("AAIGrid", lambda h, p: h[:5].lower() == b"ncols"),
    # round-5 session-10 driver batch
    ("FITS", lambda h, p: h[:30] == b"SIMPLE  =                    T"),
    ("PCIDSK", lambda h, p: h[:8] == b"PCIDSK  "),
    ("MapInfo File", lambda h, p: p.lower().endswith(".tab")
        and b"!table" in h[:512]),
    ("DGN", lambda h, p: len(h) >= 4 and h[0] in (0x08, 0xC8)
        and h[1] == 0x09),
    ("SIGDEM", lambda h, p: h[:6] == b"SIGDEM"),
    ("NDF", lambda h, p: h[:12] == b"NDF_REVISION"),
    ("NITF", lambda h, p: h[:4] in (b"NITF", b"NSIF")),
    ("RMF", lambda h, p: h[:3] in (b"RSW", b"MTW")),
    ("SNODAS", lambda h, p: h[:15] == b"Format version:"
        and b"NOHRSC" in h[:64]),
    ("AVCE00", lambda h, p: h[:4] == b"EXP "),
    ("TIL", lambda h, p: p.lower().endswith(".til")
        and b"numTiles" in h[:256]),
    # ISO 8211 leader: 5-digit record length + '3LE1' interchange
    # marks an S-57 DDR (s57filemanager / iso8211 DDFModule::Open)
    ("S57", lambda h, p: len(h) >= 24 and h[:5].isdigit()
        and h[5:8] == b"3LE" and p.lower().endswith(
            tuple(f".{i:03d}" for i in range(10)))),
    ("SDTS", lambda h, p: len(h) >= 24 and h[:5].isdigit()
        and h[6:7] == b"L" and p.lower().endswith("catd.ddf")),
    ("FAST", lambda h, p: b"ACQUISITION DATE =" in h[:1024]
        and b"SATELLITE =" in h[:1024]),
    ("DOQ2", lambda h, p: h[:21] == b"BEGIN_USGS_DOQ_HEADER"),
    ("ZMap", lambda h, p: h[:1] in (b"!", b"@")
        and b"@GRID" in h.replace(b" ", b"")[:256].upper()
        or (h[:1] == b"@" and b"GRID" in h[:64].upper())),
    ("LCP", lambda h, p: p.lower().endswith(".lcp") and len(h) >= 8
        and int.from_bytes(h[0:4], "little") in (20, 21)
        and int.from_bytes(h[4:8], "little") in (20, 21)),
    ("ISIS3", lambda h, p: b"IsisCube" in h[:1024]),
    ("ISIS2", lambda h, p: b"^QUBE" in h[:1024]
        and b"PDS_VERSION_ID" not in h[:1024]),
    ("PDS", lambda h, p: b"PDS_VERSION_ID" in h[:512]),
    # TGA has no magic; the reference requires sane header bytes AND
    # (v2 footer or .tga extension) — the footer isn't in the sniff
    # window, so the extension carries it (tgadataset.cpp Identify)
    ("TGA", lambda h, p: p.lower().endswith(".tga") and len(h) >= 18
        and h[1] <= 1 and h[2] in (1, 2, 3, 9, 10, 11)
        and (h[2] in (1, 9)) == (h[1] == 1)),
    # round-5 session-9 driver batch
    ("HFA", lambda h, p: h[:15] == b"EHFA_HEADER_TAG"),
    ("GIF", lambda h, p: h[:6] in (b"GIF87a", b"GIF89a")),
    ("JPEG", lambda h, p: h[:2] == b"\xff\xd8"),
    ("PNM", lambda h, p: h[:2] in (b"P5", b"P6")
        and len(h) > 2 and h[2:3].isspace()),
    ("SGI", lambda h, p: h[:2] == b"\x01\xda"),
    ("Terragen", lambda h, p: h[:16] == b"TERRAGENTERRAIN "),
    ("PCRaster", lambda h, p: h[:27]
        == b"RUU CROSS SYSTEM MAP FORMAT"),
    ("LAN", lambda h, p: h[:6] in (b"HEAD74", b"HEADER")),
    ("ELAS", lambda h, p: len(h) >= 32
        and int.from_bytes(h[28:32], "big") == 4321),
    ("GXF", lambda h, p: h[:5] in (b"#GRID", b"#TITL", b"#POIN",
                                   b"#ROWS", b"#PTSE", b"#RWSE")
        or h.lstrip()[:1] == b"#" and b"#GRID" in h),
    ("SAGA", lambda h, p: p.lower().endswith((".sdat", ".sgrd"))),
    ("RRASTER", lambda h, p: h[:9] == b"[general]"
        and b"[georeference]" in h),
    ("ILWIS", lambda h, p: p.lower().endswith(".mpr")
        and b"[Ilwis]" in h),
    ("ISG", lambda h, p: b"begin_of_head" in h),
    ("USGSDEM", lambda h, p: p.lower().endswith(".dem")
        and len(h) > 864
        and all(c in (9, 10, 13) or 32 <= c <= 126 for c in h[:128])),
    ("GMT", lambda h, p: h[:8] == b"# @VGMT1"),
    ("VICAR", lambda h, p: h[:8] == b"LBLSIZE="),
    ("BSB", lambda h, p: b"BSB/" in h[:1024] and b"RGB/" in h),
    ("BMP", lambda h, p: h[:2] == b"BM"),
    ("EHdr", lambda h, p: p.lower().endswith((".bil", ".bip", ".bsq"))),
    ("PGDump", lambda h, p: h[:2] == b"--" and b"COPY" in h[:4096]),
]


def identify(spark: SparkSession, paths: list[str],
             probe_bytes: int = 4096) -> DataFrame:
    """gdalmanage identify / GDALIdentifyDriver
    (gcore/gdaldriver.cpp GDALDriver::pfnIdentify chain): sniff each
    file's magic against the engine's driver registry. Distributed
    over the path list — each executor preads its files' first KBs
    only, so identifying 10^7 objects is a map over descriptors."""
    import pandas as pd

    seg = blockscan.spread(spark, [(p,) for p in paths], "path string")
    schema = "path string, driver string"

    def run(batches):
        for pdf in batches:
            out = []
            for p in pdf["path"]:
                try:
                    with open(p, "rb") as f:
                        h = f.read(probe_bytes)
                except OSError:
                    out.append({"path": p, "driver": None})
                    continue
                drv = next((d for d, probe in _MAGIC_RULES
                            if probe(h, p)), None)
                out.append({"path": p, "driver": drv})
            yield pd.DataFrame(out, columns=["path", "driver"])

    return seg.mapInPandas(run, schema=schema)
