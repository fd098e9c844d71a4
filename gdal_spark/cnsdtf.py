"""CNSDTF — Chinese Geospatial Data Transfer Grid Format
(GB/T 17798-2007), the fork's own raster driver:
frmts/cnsdtf/cnsdtfdataset.cpp (author liminlu0314).

Format facts (all from the reference):
  - text header of `Key:Value` lines (ParseHeader :703 tokenizes on
    " \\n\\r\\t:" plus the GBK fullwidth colon and matches keys
    case-insensitively): DataMark (CNSDTF-DEM / CNSDTF-RAS, also the
    CSDTF- spellings, Identify :489-523), Version, Alpha, Compress,
    Hzoom, Col (raster X size), Row (Y size), CELLSIZE or DX/DY,
    X0/Y0 = TOP-LEFT origin with gt[5] = -DY (:795-814), ValueType
    Integer -> Int32 with implied nodata -99999 / Char -> Byte
    (:816-834), NODATA_value whose token containing '.'/',' or
    exceeding int range promotes the band to Float32 (:836-853),
    MinV/MaxV, Unit/ZUnit.
  - the writer (CreateCopy :936-1120) emits DataMark:CNSDTF-DEM
    (CNSDTF-RAS under FORCE_RASTER), Version:GB/T 17798-2007,
    Alpha:0.0, Compress:0, X0/Y0/DX/DY at %.12f, Row/Col, a
    hard-coded `ValueType:Integer` line (even for float data — the
    reference's own quirk, reproduced), optional ZUnit /
    NODATA_value / HZoom / MinV / MaxV, then the pixel stream:
    `%d ` per integer token (` %.20g` per float token, or
    DECIMAL_PRECISION digits), a newline after every 10th token of a
    raster row, and a newline at the end of each row — so ONE RASTER
    ROW SPANS MANY TEXT LINES.
  - the CRS rides in an ESRI-WKT `.prj` sidecar (:969-1003).

Spark lowering: because rows wrap every 10 tokens, the line-per-row
fragmenter of asciigrid.py cannot be reused directly; instead the scan
is TOKEN-offset based and still fully parallel with no global sort:
`spark.read.text` splits the body like any text source, a two-pass
zip-with-index over per-line TOKEN COUNTS (the zipindex.py trick with
a weight column: one tiny count job, driver prefix-sums #partitions
longs, broadcast) gives every line its global token offset, a map-only
stage slices each line's tokens into per-tile row chunks, and the one
keyed shuffle of _assemble_tiles builds TILE_SCHEMA tiles. Plan shape
at any size: scan -> map -> single keyed exchange — identical to the
parquet tile scan.

The writer is the standard sequential single-writer text sink (one
.grd is an inherently ordered byte stream — same contract as
write_aaigrid): tiles stream strip-by-strip via toLocalIterator,
formatting is numpy-vectorized per strip.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tiling import _decode

#: DataMark values Identify accepts (cnsdtfdataset.cpp:519-522)
DATA_MARKS = ("CNSDTF-DEM", "CNSDTF-RAS", "CSDTF-DEM", "CSDTF-RAS")

_HEADER_KEYS = {
    "datamark", "version", "alpha", "compress", "hzoom", "col", "row",
    "cellsize", "dx", "dy", "x0", "y0", "valuetype", "nodata_value",
    "minv", "maxv", "unit", "zunit",
}


def parse_cnsdtf_header(text: str) -> dict:
    """ParseHeader (cnsdtfdataset.cpp:703-874): tokenize the header on
    whitespace/colons (incl. the GBK fullwidth colon), look keys up
    case-insensitively, value = the following token."""
    toks: list[str] = []
    header_lines = 0
    for line in text.splitlines():
        parts = [t for t in line.replace("：", ":").replace(":", " ")
                 .replace(",", " ").split() if t]
        if parts and parts[0].lower() not in _HEADER_KEYS:
            break  # first data line
        header_lines += 1
        toks.extend(parts)

    low = [t.lower() for t in toks]

    def find(key, required=False):
        try:
            i = low.index(key)
        except ValueError:
            if required:
                raise ValueError(f"CNSDTF header: missing {key}")
            return None
        if i + 1 >= len(toks):
            raise ValueError(f"CNSDTF header: {key} has no value")
        return toks[i + 1]

    mark = find("datamark", required=True)
    if mark.upper() not in DATA_MARKS:
        raise ValueError(f"CNSDTF header: bad DataMark {mark!r}")
    hdr = {
        "header_lines": header_lines,
        "datamark": mark.upper(),
        "version": find("version", required=True),
        "alpha": float(find("alpha", required=True)),
        "compress": int(find("compress", required=True)),
        "hzoom": int(float(find("hzoom", required=True))),
        "ncols": int(find("col", required=True)),
        "nrows": int(find("row", required=True)),
    }
    cell = find("cellsize")
    if cell is not None:
        dx = dy = float(cell)
    else:
        dx_t, dy_t = find("dx"), find("dy")
        if dx_t is None or dy_t is None:
            raise ValueError("CNSDTF header: need CELLSIZE or DX+DY")
        dx, dy = float(dx_t), float(dy_t)
    x0_t, y0_t = find("x0"), find("y0")
    if x0_t is not None and y0_t is not None:
        hdr["geotransform"] = [float(x0_t), dx, 0.0, float(y0_t), 0.0, -dy]
    else:
        hdr["geotransform"] = [0.0, dx, 0.0, 0.0, 0.0, -dy]

    vt = find("valuetype", required=True)
    if vt.lower() == "integer":
        dtype, nodata = "int32", -99999.0
    elif vt.lower() == "char":
        dtype, nodata = "uint8", None
    else:
        raise ValueError(f"CNSDTF header: bad ValueType {vt!r}")

    nd_tok = find("nodata_value")
    if nd_tok is not None:
        nodata = float(nd_tok)
        if ("." in nd_tok or "," in nd_tok
                or nodata < -2147483648 or nodata > 2147483647):
            dtype = "float32"
            nodata = float(np.float32(nodata))
    hdr["dtype"], hdr["nodata"] = dtype, nodata

    for key, name in (("minv", "min"), ("maxv", "max")):
        tok = find(key)
        if tok is not None:
            hdr[name] = float(tok)
    unit = find("zunit") or find("unit")
    if unit is not None:
        hdr["unit"] = unit
    return hdr


_TOK_FRAG_SCHEMA = T.StructType([
    T.StructField("tile_x", T.IntegerType()),
    T.StructField("tile_y", T.IntegerType()),
    T.StructField("row_in_tile", T.IntegerType()),
    T.StructField("col_in_tile", T.IntegerType()),
    T.StructField("chunk", T.BinaryType()),
])


def _fragment_tokens(lines: DataFrame, ncols: int,
                     nrows: int, tile_px: int) -> DataFrame:
    """Slice wrapped data lines into per-tile row chunks by GLOBAL
    TOKEN OFFSET — the weight-column variant of zipindex: per-partition
    token sums (one tiny job), driver prefix-sum, broadcast, then a
    running in-partition cumsum inside the fragmenting mapInPandas
    (batches of one partition arrive in order, so closure state per
    generator is the partition-local prefix)."""
    data = lines.withColumn(
        "_ntok", F.size(F.split(F.trim("value"), r"\s+"))
    ).withColumn(
        "_ntok",
        F.when(F.trim("value") == "", F.lit(0)).otherwise(F.col("_ntok")),
    ).withColumn("_pid", F.spark_partition_id())

    counts = {
        int(r["_pid"]): int(r["s"])
        for r in data.groupBy("_pid").agg(F.sum("_ntok").alias("s")).collect()
    }
    offsets, acc = {}, 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    if acc != nrows * ncols:
        raise ValueError(
            f"CNSDTF: {acc} data tokens, expected {nrows}x{ncols}")


    def frag(batches):
        pos = None  # partition-local running token offset
        for pdf in batches:
            if pos is None and len(pdf):
                pos = offsets[int(pdf["_pid"].iloc[0])]
            rows = []
            for txt, ntok in zip(pdf["value"], pdf["_ntok"]):
                if ntok == 0:
                    continue
                vals = np.array(txt.split(), dtype=np.float64)
                i = 0
                while i < len(vals):
                    g = pos + i
                    r, c = g // ncols, g % ncols
                    # longest run staying inside one raster row AND one
                    # tile column
                    take = min(len(vals) - i, ncols - c,
                               tile_px - (c % tile_px))
                    rows.append((c // tile_px, r // tile_px,
                                 r % tile_px, int(c % tile_px),
                                 vals[i:i + take].tobytes()))
                    i += take
                pos += int(ntok)
            yield pd.DataFrame(
                rows, columns=[f.name for f in _TOK_FRAG_SCHEMA])

    return data.mapInPandas(frag, schema=_TOK_FRAG_SCHEMA)


def _assemble_tiles_cols(frags: DataFrame, hdr: dict, ncols: int,
                         nrows: int, tile_px: int, raster_id: str,
                         zoom: int, crs: str) -> DataFrame:
    """Like asciigrid._assemble_tiles but chunks carry a column
    offset (wrapped-line scans can split a row mid-tile)."""
    from .synth import TILE_SCHEMA, tile_row

    x0, dx, _, y3, _, ndy = hdr["geotransform"]
    dtype = hdr["dtype"]
    nodata = hdr["nodata"] if hdr["nodata"] is not None else 0.0

    nty = math.ceil(nrows / tile_px)

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # key[1] is the TOP-DOWN scan strip; the emitted tile_y key is
        # TMS (bottom-up), the engine tile-table convention of
        # synth.tiles_src_df — geotransforms are scan-positional either
        # way, so geometry is unaffected
        tx, sy = int(key[0]), int(key[1])
        w = min(tile_px, ncols - tx * tile_px)
        h = min(tile_px, nrows - sy * tile_px)
        arr = np.full((h, w), nodata, dtype=np.float64)
        for r in pdf.itertuples(index=False):
            v = np.frombuffer(r.chunk, dtype=np.float64)
            arr[int(r.row_in_tile),
                int(r.col_in_tile):int(r.col_in_tile) + len(v)] = v
        return pd.DataFrame([tile_row(
            raster_id, 1, zoom, tx, nty - 1 - sy, arr.astype(dtype),
            (x0, dx, 0.0, y3, 0.0, ndy), x0=tx * tile_px, y0=sy * tile_px,
            nodata=float(nodata), crs=crs, dtype=dtype)])

    return frags.groupBy("tile_x", "tile_y").applyInPandas(
        build, schema=TILE_SCHEMA)


def read_cnsdtf(spark: SparkSession, path: str, *, tile_px: int = 256,
                raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    """Distributed CNSDTF grid scan -> tile table. Driver I/O = header
    bytes + the .prj sidecar; the body splits like any text source."""
    with open(path, encoding="utf-8", errors="replace") as f:
        hdr = parse_cnsdtf_header(f.read(65536))
    crs = ""
    prj = os.path.splitext(path)[0] + ".prj"
    if os.path.exists(prj):
        with open(prj) as f:
            crs = f.read().strip()
    from .zipindex import with_global_index

    lines = with_global_index(spark.read.text(path), "_ln")
    data = lines.filter(F.col("_ln") >= hdr["header_lines"]).drop("_ln")
    frags = _fragment_tokens(data, hdr["ncols"], hdr["nrows"], tile_px)
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    return _assemble_tiles_cols(frags, hdr, hdr["ncols"], hdr["nrows"],
                                tile_px, rid, zoom, crs)


def write_cnsdtf(tiles: DataFrame, path: str, *, force_raster: bool = False,
                 decimal_precision: int | None = None,
                 hzoom: float = 1.0, unit: str | None = None,
                 minv: float | None = None, maxv: float | None = None
                 ) -> None:
    """Sequential CNSDTF sink (CreateCopy :936-1120), byte-faithful to
    the reference: header field order, `ValueType:Integer` always,
    `%d ` / ` %.20g` tokens, newline after every 10th token of a row
    plus one per row end. CRS -> ESRI-WKT .prj sidecar."""
    # strip order comes from each tile's OWN geotransform (north
    # first, i.e. gt[3] descending since gt[5] < 0) — key conventions
    # (google top-down vs the synth tables' TMS bottom-up) don't
    # matter, the file is geometrically correct either way
    first = tiles.orderBy(F.col("geotransform")[3].desc(),
                          F.col("geotransform")[0].asc()).limit(1).collect()[0]
    gt = list(first.geotransform)
    agg = tiles.agg(
        F.sum(F.when(F.col("geotransform")[3] == gt[3],
                     F.col("width"))).alias("ncols"),
        F.sum(F.when(F.col("geotransform")[0] == gt[0],
                     F.col("height"))).alias("nrows"),
    ).collect()[0]
    ncols, nrows = int(agg.ncols), int(agg.nrows)
    is_int = first.dtype.startswith(("int", "uint"))
    nodata = float(first.nodata)
    mark = "CNSDTF-RAS" if force_raster else "CNSDTF-DEM"

    hdr = (f"DataMark:{mark}\n"
           "Version:GB/T 17798-2007\n"
           "Alpha:0.0\n"
           "Compress:0\n"
           f"X0:{gt[0]:.12f}\n"
           f"Y0:{gt[3]:.12f}\n"
           f"DX:{abs(gt[1]):.12f}\n"
           f"DY:{abs(gt[5]):.12f}\n"
           f"Row:{nrows}\n"
           f"Col:{ncols}\n"
           "ValueType:Integer\n")
    if unit:
        hdr += f"ZUnit:{unit}\n"
    # NODATA_value: %6.20g like the reference; a float grid's nodata
    # must carry a '.' so the reader promotes it back to Float32
    nd_txt = f"{nodata:6.20g}"
    if not is_int and "." not in nd_txt and "e" not in nd_txt.lower():
        nd_txt += ".0"
    hdr += f"NODATA_value:{nd_txt}\n"
    hdr += f"HZoom:{hzoom:.20g}\n"
    if minv is not None:
        hdr += f"MinV:{minv:.20g}\n"
    if maxv is not None:
        hdr += f"MaxV:{maxv:.20g}\n"

    if decimal_precision is not None and decimal_precision >= 0:
        ffmt = f" %.{decimal_precision}g"
    else:
        ffmt = " %.20g"

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    crs = first.crs or ""
    if crs:
        with open(os.path.splitext(path)[0] + ".prj", "w") as f:
            f.write(crs)

    with open(path, "w") as f:
        f.write(hdr)
        strip_y3, strip = None, {}

        def flush():
            if strip_y3 is None or not strip:
                return
            xs = sorted(strip)
            full = np.hstack([strip[x] for x in xs])
            for r in range(full.shape[0]):
                buf = []
                for i, v in enumerate(full[r]):
                    buf.append(("%d " % int(v)) if is_int else (ffmt % v))
                    if i % 10 == 9:
                        buf.append("\n")
                buf.append("\n")
                f.write("".join(buf))

        for t in tiles.orderBy(
                F.col("geotransform")[3].desc(),
                F.col("geotransform")[0].asc()).toLocalIterator():
            if t.geotransform[3] != strip_y3:
                flush()
                strip_y3, strip = t.geotransform[3], {}
            strip[t.geotransform[0]] = _decode(
                t.data, t.dtype, t.height, t.width)
        flush()
