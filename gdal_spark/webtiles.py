"""Web-service tile sources — XYZ/TMS URL-template and WMS GetMap
layers as descriptor-parallel scans.

Reference: gdal/frmts/wms/ — minidriver_tms.cpp (the
``${z}/${x}/${y}`` URL-template TMS/XYZ minidriver),
minidriver_wms.cpp (per-block GetMap BBOX requests), and
wmsdriver.cpp's dataset XML (<GDAL_WMS><Service name="TMS">...).
GDAL fetches blocks over HTTP through its cache; the Spark shape is
identical with the network as the IO layer instead of a file.

Spark-first design: the driver does NO network work — it plans one
row per (zoom, tile_x, tile_y, url) with pure column math (the same
closed-form Web-Mercator tiling as gdal2tiles), bounded by an
explicit bbox/tile range exactly like GDAL_WMS's <DataWindow>.
Executors fetch and decode their tiles inside mapInPandas — at
cluster scale every executor pulls its own slice of the pyramid and
the plan is embarrassingly parallel.  The fetcher is INJECTABLE
(fetcher(url) -> bytes): the sandbox has no network, so tests and
contract queries inject deterministic fakes, while the default
urllib fetcher is the real path a cluster with egress uses —
same stance as the multimodal codecs.  Blob decode sniffs PNG/JPEG
magic and reuses the engine's own codecs (png.py / jpeg.py).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .jpeg import decode_jpeg
from .png import decode_png
from .synth import TILE_COLUMNS, TILE_SCHEMA, tile_row

EARTH_RADIUS = 6378137.0
ORIGIN = -math.pi * EARTH_RADIUS
SPAN = 2 * math.pi * EARTH_RADIUS


def default_fetcher(url: str) -> bytes:
    """Real HTTP fetch (used on clusters with egress; the sandbox
    injects fakes instead)."""
    from urllib.request import urlopen

    with urlopen(url, timeout=30) as r:       # noqa: S310 (caller's URL)
        return r.read()


def decode_blob(blob: bytes) -> np.ndarray:
    """Content-sniffing tile decode through the engine's own codecs."""
    if blob[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(blob)
    if blob[:2] == b"\xff\xd8":
        return decode_jpeg(blob)
    raise NotImplementedError("unrecognized tile blob (not PNG/JPEG)")


def xyz_tile_plan(spark: SparkSession, template: str, zoom: int,
                  x_range: tuple[int, int] | None = None,
                  y_range: tuple[int, int] | None = None) -> DataFrame:
    """One row per requested tile with its substituted URL — pure
    whole-stage-codegen column math, no driver loop, no network.
    template uses {z}/{x}/{y} placeholders (minidriver_tms.cpp's
    ${z} syntax normalized)."""
    n = 2 ** zoom
    x0, x1 = x_range or (0, n)
    y0, y1 = y_range or (0, n)
    nx = x1 - x0
    d = spark.range((x1 - x0) * (y1 - y0)).select(
        (F.col("id") % nx + x0).cast("int").alias("tile_x"),
        (F.col("id") / nx).cast("long").cast("int").alias("tile_y"),
    ).select("tile_x", (F.col("tile_y") + y0).alias("tile_y"))
    t = (template.replace("${z}", "{z}").replace("${x}", "{x}")
         .replace("${y}", "{y}"))
    url = F.lit(t)
    for ph, col in (("{z}", F.lit(zoom)), ("{x}", F.col("tile_x")),
                    ("{y}", F.col("tile_y"))):
        url = F.replace(url, F.lit(ph), col.cast("string"))
    return d.select(F.lit(zoom).alias("zoom"), "tile_x", "tile_y",
                    url.alias("url"))


def wms_tile_plan(spark: SparkSession, endpoint: str, layer: str,
                  zoom: int, x_range=None, y_range=None,
                  tile_size: int = 256,
                  fmt: str = "image/png") -> DataFrame:
    """WMS 1.1.1 GetMap per-tile requests (minidriver_wms.cpp): the
    BBOX for each Web-Mercator tile computed as column math."""
    plan = xyz_tile_plan(spark, "{z}/{x}/{y}", zoom, x_range, y_range)
    size = SPAN / (2 ** zoom)
    xmin = F.lit(ORIGIN) + F.col("tile_x").cast("double") * size
    ymax = F.lit(-ORIGIN) - F.col("tile_y").cast("double") * size
    bbox = F.concat_ws(
        ",", xmin.cast("string"), (ymax - size).cast("string"),
        (xmin + size).cast("string"), ymax.cast("string"))
    url = F.concat(
        F.lit(f"{endpoint}?SERVICE=WMS&VERSION=1.1.1&REQUEST=GetMap"
              f"&LAYERS={layer}&SRS=EPSG:3857&WIDTH={tile_size}"
              f"&HEIGHT={tile_size}&FORMAT={fmt}&BBOX="), bbox)
    return plan.select("zoom", "tile_x", "tile_y", url.alias("url"))


def read_web_tiles(plan: DataFrame, *, raster_id: str = "web",
                   fetcher=None, tms_y: bool = False) -> DataFrame:
    """Fetch + decode a tile plan into the standard tile table.
    Executor-side: each task fetches its own URLs (the injectable
    fetcher), sniff-decodes, and emits one row per band with the
    closed-form Web-Mercator geotransform.  tms_y=True flips the row
    axis (TMS origin bottom-left, like mbtiles)."""
    fetch = fetcher or default_fetcher

    def scan(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = decode_blob(fetch(r.url))
                if img.ndim == 2:
                    img = img[:, :, None]
                w = img.shape[1]
                z, tx, ty = int(r.zoom), int(r.tile_x), int(r.tile_y)
                size = SPAN / (2 ** z)
                res = size / w
                top = (ORIGIN + (ty + 1) * size) if tms_y \
                    else (-ORIGIN - ty * size)
                gt = [ORIGIN + tx * size, res, 0.0, top, 0.0, -res]
                rows += [tile_row(raster_id, b + 1, z, tx, ty,
                                  img[:, :, b], gt, nodata=0.0,
                                  crs="EPSG:3857")
                         for b in range(img.shape[2])]
            yield pd.DataFrame(rows, columns=TILE_COLUMNS)

    return plan.mapInPandas(scan, schema=TILE_SCHEMA)
