"""EHdr (ESRI .bil/.bip/.bsq) and ENVI raw-binary raster drivers.

Reference:
  - gdal/frmts/raw/ehdrdataset.cpp — the ESRI "BIL" header driver:
    NROWS/NCOLS/NBANDS/NBITS keywords, PIXELTYPE
    SIGNEDINT/UNSIGNEDINT/FLOAT, BYTEORDER I (little) / M (big),
    LAYOUT BIL/BIP/BSQ, SKIPBYTES, and the pixel-is-point georef:
    ULXMAP/ULYMAP name the CENTER of the upper-left pixel (the
    reference shifts by half a cell when building the geotransform).
  - gdal/frmts/envi/envidataset.cpp — the ENVI .hdr dialect:
    samples/lines/bands, `data type` codes (1=u8 2=i16 3=i32 4=f32
    5=f64 12=u16 13=u32 14=i64 15=u64), `interleave`, `byte order`
    (0=little 1=big), `header offset`, and `map info = {proj, refx,
    refy, mapx, mapy, xdim, ydim, ...}` with 1-based pixel refs
    naming the upper-left CORNER of the reference pixel.
  - both lower onto gdal/frmts/raw/rawdataset.cpp RawRasterBand —
    fixed-stride scanlines, every pixel offset a closed form.

Spark lowering: raw formats are the ideal distributed scan — every
byte's position is arithmetic on (row, col, band), so the driver reads
ONLY the text header and hands the layout to the shared block scan
(blockscan): executors pread their strips, de-interleave with strided
numpy views, and emit TILE_SCHEMA rows. The whole read is MAP-ONLY —
zero shuffles, zero driver pixel bytes — and splits identically at
100 TB (each strip is an independent range read, same shape as a
parquet row-group scan).

The writer plans the same closed-form offsets: the driver writes the
tiny .hdr and truncates the data file; executors os.pwrite each tile
row at its strided offset in parallel (foreachPartition). Row-major
interleaves make a tile's rows non-contiguous in the file — inherent
to the format (the reference writes per-scanline through
RawRasterBand::IWriteBlock too); BSQ with a single tile column is the
contiguous case.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import blockscan
from .blockscan import Layout

# ENVI `data type` code -> numpy dtype (envidataset.cpp:1018 mapping)
ENVI_DTYPES = {1: "uint8", 2: "int16", 3: "int32", 4: "float32",
               5: "float64", 12: "uint16", 13: "uint32", 14: "int64",
               15: "uint64"}
_ENVI_CODES = {v: k for k, v in ENVI_DTYPES.items()}

# ------------------------------------------------------------ header parse
def parse_ehdr_header(text: str) -> dict:
    """EHdr keyword header (ehdrdataset.cpp Open: whitespace-separated
    KEY VALUE lines, case-insensitive)."""
    kv: dict[str, str] = {}
    for line in text.splitlines():
        toks = line.split()
        if len(toks) >= 2:
            kv[toks[0].lower()] = toks[1]
    if "nrows" not in kv or "ncols" not in kv:
        raise ValueError("EHdr header needs NROWS and NCOLS")
    nrows, ncols = int(kv["nrows"]), int(kv["ncols"])
    nbands = int(kv.get("nbands", "1"))
    nbits = int(kv.get("nbits", "8"))
    pixeltype = kv.get("pixeltype", "UNSIGNEDINT").upper()
    if pixeltype == "FLOAT":
        dtype = {32: "float32", 64: "float64"}[nbits]
    elif pixeltype == "SIGNEDINT":
        dtype = {8: "int8", 16: "int16", 32: "int32"}[nbits]
    else:
        dtype = {8: "uint8", 16: "uint16", 32: "uint32"}[nbits]
    # BYTEORDER I = Intel little-endian, M = Motorola big (ehdrdataset)
    byteorder = "<" if kv.get("byteorder", "I").upper().startswith("I") else ">"
    layout = kv.get("layout", "bil").lower()
    if layout not in ("bil", "bip", "bsq"):
        raise ValueError(f"unknown LAYOUT {layout}")
    xdim = float(kv.get("xdim", kv.get("cellsize", "1")))
    ydim = float(kv.get("ydim", kv.get("cellsize", "1")))
    if "ulxmap" in kv:
        # ULXMAP/ULYMAP are the CENTER of pixel (0,0) — shift half a cell
        gt = [float(kv["ulxmap"]) - xdim / 2, xdim, 0.0,
              float(kv["ulymap"]) + ydim / 2, 0.0, -ydim]
    elif "xllcorner" in kv:
        gt = [float(kv["xllcorner"]), xdim, 0.0,
              float(kv["yllcorner"]) + nrows * ydim, 0.0, -ydim]
    else:
        gt = [0.0, xdim, 0.0, 0.0, 0.0, -ydim]
    return {"nrows": nrows, "ncols": ncols, "nbands": nbands,
            "dtype": dtype, "byteorder": byteorder, "interleave": layout,
            "skip": int(kv.get("skipbytes", "0")), "geotransform": gt,
            "nodata": float(kv["nodata"]) if "nodata" in kv else None}


def parse_envi_header(text: str) -> dict:
    """ENVI `key = value` header; brace values span tokens
    (envidataset.cpp ReadHeader)."""
    if not text.lstrip().lower().startswith("envi"):
        raise ValueError("not an ENVI header (missing ENVI magic)")
    kv: dict[str, str] = {}
    key, buf, in_brace = None, [], False
    for line in text.splitlines()[1:]:
        if in_brace:
            buf.append(line)
            if "}" in line:
                kv[key] = " ".join(buf)
                in_brace = False
            continue
        if "=" not in line:
            continue
        key, _, val = line.partition("=")
        key, val = key.strip().lower(), val.strip()
        if val.startswith("{") and "}" not in val:
            buf, in_brace = [val], True
        else:
            kv[key] = val
    nrows, ncols = int(kv["lines"]), int(kv["samples"])
    nbands = int(kv.get("bands", "1"))
    dtype = ENVI_DTYPES[int(kv.get("data type", "1"))]
    byteorder = ">" if kv.get("byte order", "0").strip() == "1" else "<"
    interleave = kv.get("interleave", "bsq").strip().lower()
    gt = [0.0, 1.0, 0.0, 0.0, 0.0, -1.0]
    crs = ""
    if "map info" in kv:
        parts = [p.strip() for p in
                 kv["map info"].strip("{} ").split(",")]
        # {proj, refx, refy, mapx, mapy, xdim, ydim, ...}; refs are
        # 1-based and name the UL corner of the reference pixel
        refx, refy = float(parts[1]), float(parts[2])
        mapx, mapy = float(parts[3]), float(parts[4])
        xdim, ydim = float(parts[5]), float(parts[6])
        gt = [mapx - (refx - 1.0) * xdim, xdim, 0.0,
              mapy + (refy - 1.0) * ydim, 0.0, -ydim]
        crs = parts[0]
    return {"nrows": nrows, "ncols": ncols, "nbands": nbands,
            "dtype": dtype, "byteorder": byteorder,
            "interleave": interleave,
            "skip": int(kv.get("header offset", "0")),
            "geotransform": gt, "crs": crs,
            "nodata": float(kv["data ignore value"])
            if "data ignore value" in kv else None}


# ------------------------------------------------------------------- read
def read_raw(spark: SparkSession, data_path: str, hdr: dict, *,
             tile_px: int = 256, raster_id: str | None = None,
             zoom: int = 0, crs: str | None = None) -> DataFrame:
    """Raw fixed-stride scan -> tile table, map-only (no shuffle): the
    header dict (nrows/ncols/nbands/dtype/byteorder/interleave/skip) as
    a block-scan layout. Reads past EOF zero-fill, as the reference's
    RawRasterBand::AccessBlock does for the truncated fixtures these
    drivers ship."""
    nrows, ncols, nbands = hdr["nrows"], hdr["ncols"], hdr["nbands"]
    isz = np.dtype(hdr["dtype"]).itemsize
    interleave = hdr["interleave"]
    if interleave == "bsq":
        offs, pix = [b * nrows * ncols * isz for b in range(nbands)], isz
    elif interleave == "bil":
        offs, pix = [b * ncols * isz for b in range(nbands)], isz
    else:  # bip
        offs, pix = [b * isz for b in range(nbands)], nbands * isz
    line = ncols * isz * (1 if interleave == "bsq" else nbands)
    gt = hdr["geotransform"]
    nodata = hdr.get("nodata")
    return blockscan.read(
        spark, Layout(data_path, ncols, nrows, hdr["dtype"],
                      tuple(hdr["skip"] + o for o in offs), pixel_offset=pix,
                      line_offset=line, byteorder=hdr["byteorder"],
                      zero_fill=True, out_dtype=hdr["dtype"]),
        raster_id=raster_id or os.path.splitext(
            os.path.basename(data_path))[0],
        geotransform=(gt[0], gt[1], 0.0, gt[3], 0.0, gt[5]),  # no rotation
        tile_px=tile_px, zoom=zoom,
        nodata=float("nan") if nodata is None else float(nodata),
        crs=crs if crs is not None else hdr.get("crs", ""))


def read_ehdr(spark: SparkSession, data_path: str, *,
              hdr_path: str | None = None, tile_px: int = 256,
              raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    """EHdr scan: .hdr beside the data file (ehdrdataset.cpp Open).
    A .prj sidecar, when present, is carried verbatim as the crs."""
    hp = hdr_path or os.path.splitext(data_path)[0] + ".hdr"
    with open(hp) as f:
        hdr = parse_ehdr_header(f.read())
    crs = ""
    prj = os.path.splitext(data_path)[0] + ".prj"
    if os.path.exists(prj):
        with open(prj) as f:
            crs = f.read().strip()
    return read_raw(spark, data_path, hdr, tile_px=tile_px,
                    raster_id=raster_id, zoom=zoom, crs=crs)


def read_envi(spark: SparkSession, data_path: str, *,
              hdr_path: str | None = None, tile_px: int = 256,
              raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    """ENVI scan: <data>.hdr or <base>.hdr (envidataset.cpp Open tries
    both)."""
    cands = [hdr_path] if hdr_path else [
        data_path + ".hdr", os.path.splitext(data_path)[0] + ".hdr"]
    for hp in cands:
        if hp and os.path.exists(hp):
            with open(hp) as f:
                hdr = parse_envi_header(f.read())
            break
    else:
        raise FileNotFoundError(f"no ENVI header for {data_path}")
    return read_raw(spark, data_path, hdr, tile_px=tile_px,
                    raster_id=raster_id, zoom=zoom)


# ------------------------------------------------------------------ write
def _collect_meta(tiles: DataFrame):
    m = tiles.groupBy("raster_id").agg(
        F.max("tile_x").alias("ntx1"), F.max("tile_y").alias("nty1"),
        F.max("width").alias("tw"), F.max("height").alias("th"),
        F.first("dtype").alias("dtype"), F.first("nodata").alias("nodata"),
        F.first("crs").alias("crs"), F.max("band").alias("nbands"),
        F.first(F.when((F.col("tile_x") == 0) & (F.col("tile_y") == 0),
                       F.col("geotransform")), ignorenulls=True).alias("gt"),
        F.sum(F.when((F.col("tile_x") == 0) & (F.col("band") == 1),
                     F.col("height"))).alias("img_h"),
        F.sum(F.when((F.col("tile_y") == 0) & (F.col("band") == 1),
                     F.col("width"))).alias("img_w"),
    ).collect()
    if len(m) != 1:
        raise ValueError("raw writer expects exactly one raster_id")
    return m[0]


def _write_raw_data(tiles: DataFrame, data_path: str, *, interleave: str,
                    nrows: int, ncols: int, nbands: int, dtype: str,
                    tile_px: int, skip: int = 0) -> None:
    """Plan closed-form offsets; executors pwrite tile rows in
    parallel. The driver only truncates the file.

    BSQ/BIL tile rows are contiguous per band, so each (band, tile) row
    writes straight from the source partitioning — no shuffle. BIP
    interleaves bands within every pixel: one narrow keyed shuffle
    brings a tile's bands together (applyInPandas) so each written row
    is one contiguous interleaved buffer instead of w per-sample
    writes."""
    isz = np.dtype(dtype).itemsize
    npd = np.dtype(dtype)
    # skip > 0: a header written by the caller precedes the raster
    # body (PNM); keep it and lay the body after it
    with open(data_path, "r+b" if skip else "wb") as f:
        f.truncate(skip + nrows * ncols * nbands * isz)

    if interleave == "bip" and nbands > 1:
        out_schema = T.StructType([
            T.StructField("tile_x", T.IntegerType()),
            T.StructField("tile_y", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("data", T.BinaryType()),
        ])

        def interleave_tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
            h = int(pdf["height"].iloc[0])
            w = int(pdf["width"].iloc[0])
            cube = np.zeros((h, w, nbands), dtype=npd)
            for r in pdf.itertuples(index=False):
                cube[:, :, int(r.band) - 1] = np.frombuffer(
                    bytes(r.data), dtype=np.dtype(r.dtype)).reshape(h, w)
            return pd.DataFrame([{
                "tile_x": int(key[0]), "tile_y": int(key[1]),
                "height": h, "width": w, "data": cube.tobytes(),
            }])

        packed = tiles.groupBy("tile_x", "tile_y").applyInPandas(
            interleave_tile, schema=out_schema)

        def write_bip(rows):
            with open(data_path, "r+b") as f:
                fd = f.fileno()
                for r in rows:
                    h, w = int(r["height"]), int(r["width"])
                    cube = np.frombuffer(bytes(r["data"]), dtype=npd) \
                        .reshape(h, w * nbands)
                    gy0 = int(r["tile_y"]) * tile_px
                    gx0 = int(r["tile_x"]) * tile_px
                    for i in range(h):
                        off = skip + ((gy0 + i) * ncols + gx0) * nbands * isz
                        os.pwrite(fd, cube[i].tobytes(), off)

        packed.foreachPartition(write_bip)
        return

    def write_part(rows):
        with open(data_path, "r+b") as f:
            fd = f.fileno()
            for r in rows:
                arr = np.frombuffer(bytes(r["data"]),
                                    dtype=np.dtype(r["dtype"]))
                h, w = int(r["height"]), int(r["width"])
                arr = arr.reshape(h, w).astype(npd, copy=False)
                b = int(r["band"]) - 1
                gy0 = int(r["tile_y"]) * tile_px
                gx0 = int(r["tile_x"]) * tile_px
                if interleave == "bsq":
                    base = skip + (b * nrows * ncols) * isz
                    for i in range(h):
                        off = base + ((gy0 + i) * ncols + gx0) * isz
                        os.pwrite(fd, arr[i].tobytes(), off)
                elif interleave == "bil":
                    for i in range(h):
                        off = skip + (((gy0 + i) * nbands + b) * ncols + gx0) * isz
                        os.pwrite(fd, arr[i].tobytes(), off)
                else:  # bip, single band: degenerates to contiguous rows
                    for i in range(h):
                        off = skip + ((gy0 + i) * ncols + gx0) * isz
                        os.pwrite(fd, arr[i].tobytes(), off)

    tiles.foreachPartition(write_part)


def write_ehdr(tiles: DataFrame, data_path: str, *,
               layout: str = "bil", tile_px: int = 256) -> dict:
    """EHdr sink (ehdrdataset.cpp Create/RewriteHDR): driver writes the
    keyword .hdr (+ .prj sidecar when the table carries a crs) and
    truncates the data file; tile pixels pwrite in parallel. tile_y is
    top-down image keying (same contract as write_geotiff)."""
    m = _collect_meta(tiles)
    nrows, ncols = int(m.img_h), int(m.img_w)
    nbands, dtype = int(m.nbands), str(m.dtype)
    kind = np.dtype(dtype).kind
    if kind == "f":
        pixeltype, nbits = "FLOAT", np.dtype(dtype).itemsize * 8
    elif kind == "i":
        pixeltype, nbits = "SIGNEDINT", np.dtype(dtype).itemsize * 8
    else:
        pixeltype, nbits = "UNSIGNEDINT", np.dtype(dtype).itemsize * 8
    gt = list(m.gt) if m.gt is not None else [0, 1, 0, 0, 0, -1]
    base = os.path.splitext(data_path)[0]
    with open(base + ".hdr", "w") as f:
        f.write(f"NROWS {nrows}\nNCOLS {ncols}\nNBANDS {nbands}\n")
        f.write(f"NBITS {nbits}\nPIXELTYPE {pixeltype}\nBYTEORDER I\n")
        f.write(f"LAYOUT {layout.upper()}\n")
        # ULXMAP/ULYMAP: center of pixel (0,0)
        f.write(f"ULXMAP {gt[0] + gt[1] / 2:.12f}\n")
        f.write(f"ULYMAP {gt[3] + gt[5] / 2:.12f}\n")
        f.write(f"XDIM {gt[1]:.12f}\nYDIM {-gt[5]:.12f}\n")
        nod = m.nodata
        if nod is not None and not (isinstance(nod, float)
                                    and math.isnan(nod)):
            f.write(f"NODATA {nod}\n")
    if m.crs:
        with open(base + ".prj", "w") as f:
            f.write(str(m.crs) + "\n")
    _write_raw_data(tiles, data_path, interleave=layout, nrows=nrows,
                    ncols=ncols, nbands=nbands, dtype=dtype,
                    tile_px=tile_px)
    return {"path": data_path, "nrows": nrows, "ncols": ncols,
            "nbands": nbands, "layout": layout, "dtype": dtype}


def write_envi(tiles: DataFrame, data_path: str, *,
               interleave: str = "bsq", tile_px: int = 256) -> dict:
    """ENVI sink (envidataset.cpp Create + WriteHeader): `key = value`
    .hdr with map info carrying the geotransform."""
    m = _collect_meta(tiles)
    nrows, ncols = int(m.img_h), int(m.img_w)
    nbands, dtype = int(m.nbands), str(m.dtype)
    gt = list(m.gt) if m.gt is not None else [0, 1, 0, 0, 0, -1]
    with open(data_path + ".hdr", "w") as f:
        f.write("ENVI\n")
        f.write(f"samples = {ncols}\nlines = {nrows}\nbands = {nbands}\n")
        f.write("header offset = 0\nfile type = ENVI Standard\n")
        f.write(f"data type = {_ENVI_CODES[dtype]}\n")
        f.write(f"interleave = {interleave}\nbyte order = 0\n")
        proj = str(m.crs) if m.crs else "Arbitrary"
        f.write("map info = {%s, 1, 1, %.12f, %.12f, %.12f, %.12f}\n"
                % (proj, gt[0], gt[3], gt[1], -gt[5]))
        nod = m.nodata
        if nod is not None and not (isinstance(nod, float)
                                    and math.isnan(nod)):
            f.write(f"data ignore value = {nod}\n")
    _write_raw_data(tiles, data_path, interleave=interleave, nrows=nrows,
                    ncols=ncols, nbands=nbands, dtype=dtype,
                    tile_px=tile_px)
    return {"path": data_path, "nrows": nrows, "ncols": ncols,
            "nbands": nbands, "interleave": interleave, "dtype": dtype}
