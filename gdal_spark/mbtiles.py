"""MBTiles tile-pyramid driver (read + write).

Reference: gdal/frmts/mbtiles/mbtilesdataset.cpp —
  - an MBTiles file is SQLite with a `metadata` name/value table
    (format/bounds/minzoom/maxzoom, :1740 GetMetadata) and a `tiles`
    relation (zoom_level, tile_column, tile_row, tile_data) that may be
    a real table or a VIEW over the mapbox map+images pair (:2480);
  - tile_row is TMS (south-up): the reference flips it against the XYZ
    row as `(1 << z) - 1 - y` everywhere it touches tiles (:1262 read,
    :2903 write);
  - the raster coordinate frame is the global EPSG:3857 web-mercator
    grid: resolution 2*pi*R / 256 / 2^z, origin -pi*R (:1397).

Spark lowering: the driver reads ONLY the metadata table and the
per-zoom tile_column extent; executors open read-only SQLite handles
and scan disjoint (zoom, tile_column-range) windows — works for table-
or view-backed `tiles` alike because it rides the standard
(zoom_level, tile_column, tile_row) index rather than rowid. PNG blobs
decode with the engine's pure-zlib codec (png.py) executor-side; the
scan is descriptor -> mapInPandas, no shuffle. The writer PNG-encodes
DISTRIBUTED (one keyed shuffle groups a tile's bands) and the driver
single-writer INSERTs finished blobs — SQLite is single-writer by
construction, same documented small-side-sink contract as GPKG.
"""

from __future__ import annotations

import math
import os
import sqlite3

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import blockscan
from .jpeg import decode_jpeg, encode_jpeg
from .png import decode_png, encode_png
from .synth import TILE_COLUMNS, TILE_SCHEMA, tile_row

ORIGIN = -20037508.342789244  # -pi * 6378137 (web-mercator frame)


def _ro_connect(path: str) -> sqlite3.Connection:
    con = sqlite3.connect(f"file:{path}?mode=ro&immutable=1", uri=True)
    con.text_factory = bytes  # tile_data stays raw
    return con


def _catalog(path: str):
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        meta = {k: v for k, v in
                con.execute("SELECT name, value FROM metadata")}
        zooms = [int(z) for (z,) in con.execute(
            "SELECT DISTINCT zoom_level FROM tiles ORDER BY zoom_level")]
        extents = {}
        for z in zooms:
            lo, hi, n = con.execute(
                "SELECT MIN(tile_column), MAX(tile_column), COUNT(*) "
                "FROM tiles WHERE zoom_level = ?", (z,)).fetchone()
            extents[z] = (int(lo), int(hi), int(n))
        return meta, extents
    finally:
        con.close()


def resolution(z: int, tile_px: int = 256) -> float:
    return 2.0 * math.pi * 6378137.0 / tile_px / (1 << z)


def read_mbtiles(spark: SparkSession, path: str, *, zoom: int | None = None,
                 raster_id: str | None = None,
                 cols_per_batch: int = 64) -> DataFrame:
    """MBTiles scan -> TILE_SCHEMA rows (one per tile x band), tile_y
    in XYZ top-down keying (the TMS flip applied like
    mbtilesdataset.cpp:1262). Driver I/O = metadata + per-zoom column
    extents; tile blobs never touch the driver."""
    meta, extents = _catalog(path)
    if not extents:
        return spark.createDataFrame([], TILE_SCHEMA)
    zs = [zoom] if zoom is not None else sorted(extents)
    rid = raster_id or meta.get("name") or \
        os.path.splitext(os.path.basename(path))[0]
    fmt = meta.get("format", "png")
    if fmt not in ("png", "jpg", "jpeg"):
        raise NotImplementedError(
            f"MBTiles format {fmt!r}: png (pure-zlib codec, png.py) "
            "and jpg (baseline T.81 codec, jpeg.py) decode here; webp "
            "is injectable the same way the multimodal codecs are")
    decode_blob = decode_png if fmt == "png" else decode_jpeg
    ranges = []
    for z in zs:
        lo, hi, _ = extents[z]
        for a in range(lo, hi + 1, cols_per_batch):
            ranges.append((z, a, min(a + cols_per_batch - 1, hi)))
    plan = blockscan.spread(spark, ranges, "zoom int, col_lo int, col_hi int")

    def scan(batches):
        con = _ro_connect(path)
        try:
            for pdf in batches:
                out = []
                for r in pdf.itertuples(index=False):
                    z = int(r.zoom)
                    res = resolution(z)
                    nrow = 1 << z
                    cur = con.execute(
                        "SELECT tile_column, tile_row, tile_data FROM tiles "
                        "WHERE zoom_level = ? AND tile_column BETWEEN ? AND ?",
                        (z, int(r.col_lo), int(r.col_hi)))
                    for tc, tr, blob in cur:
                        ty = nrow - 1 - int(tr)  # TMS -> XYZ
                        img = decode_blob(bytes(blob))
                        if img.ndim == 2:
                            img = img[:, :, None]
                        h, w = img.shape[0], img.shape[1]
                        gt = [ORIGIN + int(tc) * w * res, res, 0.0,
                              -ORIGIN - ty * h * res, 0.0, -res]
                        out += [tile_row(rid, b + 1, z, int(tc), ty,
                                         img[:, :, b], gt, crs="EPSG:3857")
                                for b in range(img.shape[2])]
                yield pd.DataFrame(out, columns=TILE_COLUMNS)
        finally:
            con.close()

    return plan.mapInPandas(scan, schema=TILE_SCHEMA)


def write_mbtiles(tiles: DataFrame, path: str, *, name: str | None = None,
                  description: str = "", tile_format: str = "png",
                  quality: int = 75) -> int:
    """MBTiles sink (mbtilesdataset.cpp CreateCopy, TILE_FORMAT
    creation option): tile encoding runs DISTRIBUTED (one keyed
    shuffle stacks a tile's bands into a grey/RGB/RGBA blob, then the
    pure-zlib PNG codec or the baseline-T.81 JPEG codec); the driver
    INSERTs the finished blobs with the TMS row flip and writes the
    metadata table. Returns tile count."""
    if tile_format not in ("png", "jpg", "jpeg"):
        raise ValueError(f"tile_format {tile_format!r}")
    fmt = "png" if tile_format == "png" else "jpg"
    enc_schema = T.StructType([
        T.StructField("zoom", T.IntegerType()),
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("tile_y", T.IntegerType()),
        T.StructField("blob", T.BinaryType()),
    ])

    def enc(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("band")
        h = int(pdf["height"].iloc[0])
        w = int(pdf["width"].iloc[0])
        dt = np.dtype(pdf["dtype"].iloc[0])
        chans = [np.frombuffer(d, dtype=dt).reshape(h, w)
                 for d in pdf["data"]]
        img = chans[0] if len(chans) == 1 else np.stack(chans, axis=2)
        if fmt == "jpg" or img.dtype not in (np.uint8, np.uint16):
            img = np.clip(img, 0, 255).astype(np.uint8)
        blob = encode_png(img) if fmt == "png" \
            else encode_jpeg(img, quality)
        return pd.DataFrame([{
            "zoom": int(pdf["zoom"].iloc[0]),
            "tile_x": int(pdf["tile_x"].iloc[0]),
            "tile_y": int(pdf["tile_y"].iloc[0]),
            "blob": blob,
        }])

    encoded = tiles.groupBy("zoom", "tile_x", "tile_y") \
        .applyInPandas(enc, schema=enc_schema).toPandas()
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    try:
        con.executescript(
            "CREATE TABLE metadata (name TEXT, value TEXT);\n"
            "CREATE TABLE tiles (zoom_level INTEGER, tile_column INTEGER,"
            " tile_row INTEGER, tile_data BLOB);\n"
            "CREATE UNIQUE INDEX tile_index ON tiles "
            "(zoom_level, tile_column, tile_row);\n")
        zmin = int(encoded["zoom"].min()) if len(encoded) else 0
        zmax = int(encoded["zoom"].max()) if len(encoded) else 0
        for k, v in [("name", name or os.path.basename(path)),
                     ("type", "overlay"), ("version", "1.1"),
                     ("description", description), ("format", fmt),
                     ("minzoom", str(zmin)), ("maxzoom", str(zmax))]:
            con.execute("INSERT INTO metadata VALUES (?, ?)", (k, v))
        for r in encoded.itertuples(index=False):
            tms_row = (1 << int(r.zoom)) - 1 - int(r.tile_y)
            con.execute(
                "INSERT INTO tiles VALUES (?, ?, ?, ?)",
                (int(r.zoom), int(r.tile_x), tms_row,
                 sqlite3.Binary(bytes(r.blob))))
        con.commit()
        return len(encoded)
    finally:
        con.close()
