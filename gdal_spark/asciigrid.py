"""Arc/Info ASCII Grid (AAIGrid) and XYZ raster drivers.

Reference: gdal/frmts/aaigrid/aaigriddataset.cpp —
  - header ParseHeader (:440-576): ncols/nrows, cellsize or dx/dy,
    xllcorner/yllcorner (area) vs xllcenter/yllcenter (point, shifted
    half a cell), NODATA_value; gt[3] = yll + nrows*dy, gt[5] = -dy
  - Int32 vs Float32 chosen from the presence of '.' / exponent in the
    nodata token or the data (:560,:600; the reference samples the
    first 100 KB — here the check is a distributed full-data rlike,
    strictly more faithful on large grids)
and gdal/frmts/xyz/xyzdataset.cpp — whitespace/comma/semicolon
separated x y z triples on an evenly-spaced grid; the reference does a
serial full-file pre-scan to learn the grid step (:531); here the same
facts come from one distributed aggregation (min/max/count-distinct of
x and y).

Spark lowering (both formats): `spark.read.text` splits the file like
any other source; the partition-offset zip-with-index (zipindex.py)
recovers each line's global row number with no global sort; each line
fragments into per-tile chunks in `mapInPandas`; ONE narrow shuffle on
the tile key assembles TILE_SCHEMA tiles. At 100 TB the plan is scan ->
map -> single keyed exchange — the same shape as the parquet tile scan.

Writers are sequential single-writer sinks (one .asc / .xyz file is an
inherently ordered byte stream — same contract as write_shapefile),
buffering one tile-strip at a time via toLocalIterator, never the whole
raster.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .synth import TILE_SCHEMA, tile_row
from .tiling import _decode
from .zipindex import with_global_index

_FRAG_SCHEMA = T.StructType([
    T.StructField("tile_x", T.IntegerType()),
    T.StructField("tile_y", T.IntegerType()),
    T.StructField("row_in_tile", T.IntegerType()),
    T.StructField("chunk", T.BinaryType()),
])


# ------------------------------------------------------------------ AAIGrid
def parse_aaigrid_header(text: str) -> dict:
    """Key/value header lines until the first line that starts with a
    number (aaigriddataset.cpp ParseHeader :440)."""
    hdr: dict = {"header_lines": 0}
    kv: dict[str, float] = {}
    for line in text.splitlines():
        toks = line.split()
        if not toks:
            hdr["header_lines"] += 1
            continue
        key = toks[0].lower()
        if key.lstrip("+-").replace(".", "", 1)[:1].isdigit():
            break
        if len(toks) >= 2:
            kv[key] = float(toks[1])
            if key == "nodata_value":
                hdr["nodata_float"] = ("." in toks[1] or "e" in toks[1].lower())
        hdr["header_lines"] += 1
    if "ncols" not in kv or "nrows" not in kv:
        raise ValueError("AAIGrid header needs ncols and nrows")
    hdr["ncols"], hdr["nrows"] = int(kv["ncols"]), int(kv["nrows"])
    if "cellsize" in kv:
        dx = dy = kv["cellsize"]
    elif "dx" in kv and "dy" in kv:
        dx, dy = kv["dx"], kv["dy"]
    else:
        raise ValueError("AAIGrid header needs cellsize or dx/dy")
    if "xllcorner" in kv and "yllcorner" in kv:
        x0 = kv["xllcorner"]
        y3 = kv["yllcorner"] + hdr["nrows"] * dy
    elif "xllcenter" in kv and "yllcenter" in kv:
        # pixel-is-point: shift half a cell (:525-540)
        x0 = kv["xllcenter"] - 0.5 * dx
        y3 = kv["yllcenter"] - 0.5 * dy + hdr["nrows"] * dy
    else:
        x0, y3 = 0.0, 0.0
    hdr["geotransform"] = [x0, dx, 0.0, y3, 0.0, -dy]
    hdr["nodata"] = kv.get("nodata_value")
    return hdr


def _fragment_lines(lines: DataFrame, header_lines: int, ncols: int,
                    tile_px: int) -> DataFrame:
    """Explode each data line into per-tile float64 chunks (map-only)."""
    ntx = math.ceil(ncols / tile_px)

    def frag(batches):
        for pdf in batches:
            rows = []
            for ln, txt in zip(pdf["_ln"], pdf["value"]):
                r = int(ln) - header_lines
                if r < 0 or not txt.strip():
                    continue
                vals = np.array(txt.split(), dtype=np.float64)
                if len(vals) != ncols:
                    raise ValueError(
                        f"row {r}: {len(vals)} values, expected {ncols}")
                for tx in range(ntx):
                    rows.append((tx, r // tile_px, r % tile_px,
                                 vals[tx * tile_px:(tx + 1) * tile_px].tobytes()))
            yield pd.DataFrame(rows, columns=[f.name for f in _FRAG_SCHEMA])

    return lines.mapInPandas(frag, schema=_FRAG_SCHEMA)


def _assemble_tiles(frags: DataFrame, hdr_gt: list[float], nrows: int,
                    ncols: int, tile_px: int, dtype: str, nodata: float,
                    raster_id: str, zoom: int, crs: str) -> DataFrame:
    x0, dx, _, y3, _, ndy = hdr_gt

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        w = min(tile_px, ncols - tx * tile_px)
        h = min(tile_px, nrows - ty * tile_px)
        arr = np.full((h, w), nodata, dtype=np.float64)
        for r in pdf.itertuples(index=False):
            arr[int(r.row_in_tile), :] = np.frombuffer(r.chunk, dtype=np.float64)
        return pd.DataFrame([tile_row(
            raster_id, 1, zoom, tx, ty, arr.astype(dtype),
            (x0, dx, 0.0, y3, 0.0, ndy), x0=tx * tile_px, y0=ty * tile_px,
            nodata=float(nodata), crs=crs, dtype=dtype)])

    return frags.groupBy("tile_x", "tile_y").applyInPandas(
        build, schema=TILE_SCHEMA)


def read_aaigrid(spark: SparkSession, path: str, *, tile_px: int = 256,
                 raster_id: str | None = None, zoom: int = 0,
                 crs: str = "") -> DataFrame:
    """Distributed AAIGrid scan -> tile table. Driver I/O = the header
    bytes only; the data body splits like any text source. Requires the
    one-row-per-line layout the reference's own writer emits
    (aaigriddataset.cpp:1238 one CPLvsnprintf'd line per row); free
    token wrapping would need the serial reader and raises instead."""
    with open(path) as f:
        hdr = parse_aaigrid_header(f.read(65536))
    ncols, nrows = hdr["ncols"], hdr["nrows"]
    lines = with_global_index(spark.read.text(path), "_ln")
    frags = _fragment_lines(lines.filter(F.col("_ln") >= hdr["header_lines"]),
                            hdr["header_lines"], ncols, tile_px)
    # Int32 unless the nodata token or any data token carries a
    # fractional/exponent part (reference: first-100KB sample, :600)
    is_float = bool(hdr.get("nodata_float"))
    if not is_float:
        is_float = bool(
            lines.filter(F.col("_ln") >= hdr["header_lines"])
            .filter(F.col("value").rlike(r"[.eE]")).limit(1).count())
    dtype = "float32" if is_float else "int32"
    nodata = hdr["nodata"] if hdr["nodata"] is not None else -9999.0
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    return _assemble_tiles(frags, hdr["geotransform"], nrows, ncols, tile_px,
                           dtype, nodata, rid, zoom, crs)


def write_aaigrid(tiles: DataFrame, path: str, *,
                  decimals: int | None = None) -> None:
    """Sequential AAIGrid sink (aaigriddataset.cpp CreateCopy :1180):
    header then one line per raster row. Tiles stream in (tile_y,
    tile_x) order; one strip is buffered at a time."""
    rows = tiles.orderBy("tile_y", "tile_x")
    first = tiles.limit(1).collect()[0]
    gt = list(first.geotransform)
    agg = tiles.agg(
        F.sum(F.when(F.col("tile_y") == 0, F.col("width"))).alias("ncols"),
        F.sum(F.when(F.col("tile_x") == 0, F.col("height"))).alias("nrows"),
    ).collect()[0]
    ncols, nrows = int(agg.ncols), int(agg.nrows)
    nodata = float(first.nodata)
    is_int = first.dtype.startswith("int") or first.dtype.startswith("uint")
    fmt = (lambda v: str(int(v))) if is_int and decimals is None else \
        (lambda v: f"{v:.{decimals if decimals is not None else 6}f}")
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        f.write(f"ncols        {ncols}\n")
        f.write(f"nrows        {nrows}\n")
        f.write(f"xllcorner    {gt[0]:.12f}\n")
        f.write(f"yllcorner    {gt[3] + nrows * gt[5]:.12f}\n")
        f.write(f"cellsize     {gt[1]:.12f}\n")
        f.write(f"NODATA_value {int(nodata) if is_int else nodata}\n")
        strip_y, strip = None, {}

        def flush():
            if strip_y is None or not strip:
                return
            xs = sorted(strip)
            h = strip[xs[0]].shape[0]
            full = np.hstack([strip[x] for x in xs])
            for r in range(h):
                f.write(" ".join(fmt(v) for v in full[r]) + "\n")

        for t in rows.toLocalIterator():
            if t.tile_y != strip_y:
                flush()
                strip_y, strip = t.tile_y, {}
            strip[t.tile_x] = _decode(t.data, t.dtype, t.height, t.width)
        flush()


# ---------------------------------------------------------------------- XYZ
def read_xyz(spark: SparkSession, path: str, *, tile_px: int = 256,
             raster_id: str | None = None, zoom: int = 0,
             crs: str = "", sep: str | None = None) -> DataFrame:
    """XYZ driver (gdal/frmts/xyz/xyzdataset.cpp): evenly-spaced
    x y z samples, one per line, any of space/comma/semicolon/tab
    separated, optional non-numeric header line. The reference
    pre-scans the whole file serially to learn the grid (:531); here
    the grid facts (extent + distinct coordinate counts) come from one
    distributed aggregation, then cells key to tiles and assemble in
    one keyed shuffle. Cells absent from the file become NaN."""
    raw = spark.read.text(path).select(
        F.split(F.regexp_replace(F.trim("value"), "[,;\t ]+", " "), " ")
        .alias("t"))
    pts = raw.filter(F.size("t") >= 3).select(
        F.col("t")[0].cast("double").alias("x"),
        F.col("t")[1].cast("double").alias("y"),
        F.col("t")[2].cast("double").alias("z"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())  # header line drops
    g = pts.agg(
        F.min("x").alias("xmin"), F.max("x").alias("xmax"),
        F.min("y").alias("ymin"), F.max("y").alias("ymax"),
        F.countDistinct("x").alias("ncols"),
        F.countDistinct("y").alias("nrows"),
    ).collect()[0]
    ncols, nrows = int(g.ncols), int(g.nrows)
    dx = (g.xmax - g.xmin) / (ncols - 1) if ncols > 1 else 1.0
    dy = (g.ymax - g.ymin) / (nrows - 1) if nrows > 1 else 1.0
    # pixel-is-point registration like the reference (:1106)
    gt = [g.xmin - dx / 2, dx, 0.0, g.ymax + dy / 2, 0.0, -dy]
    cells = pts.select(
        F.round((F.col("x") - g.xmin) / dx).cast("int").alias("col"),
        F.round((F.lit(g.ymax) - F.col("y")) / dy).cast("int").alias("row"),
        "z",
    )
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        w = min(tile_px, ncols - tx * tile_px)
        h = min(tile_px, nrows - ty * tile_px)
        arr = np.full((h, w), np.nan)
        arr[pdf["row"] % tile_px, pdf["col"] % tile_px] = pdf["z"]
        return pd.DataFrame([tile_row(
            rid, 1, zoom, tx, ty, arr, gt, x0=tx * tile_px,
            y0=ty * tile_px, crs=crs)])

    return cells.withColumn(
        "tile_x", (F.col("col") / tile_px).cast("int")
    ).withColumn(
        "tile_y", (F.col("row") / tile_px).cast("int")
    ).groupBy("tile_x", "tile_y").applyInPandas(build, schema=TILE_SCHEMA)
