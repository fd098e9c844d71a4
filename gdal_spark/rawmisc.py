"""Small raster drivers: FARSITE LCP, USGS DOQ2, ZMap Plus ASCII
grid, and SIGDEM.

Reference:
  - gdal/frmts/raw/lcpdataset.cpp — fixed 7316-byte LE header:
    crown/ground-fuel flags at +0/+4 select 5/7/8/10 int16 bands,
    latitude i32 at +8, band min/max/classes i32 triples at
    44 + 412*(band-1), unit codes u16 at 4224 + 2*(band-1), band
    file names at 4244 + 256*(band-1), extents doubles at
    4172-4204, cell sizes at 4208/4216, linear-unit code at 4204,
    description at 6804; data is BIP int16 after the header
    (band b at 7316 + 2*(b-1), pixel stride 2*nBands).
  - gdal/frmts/raw/doq2dataset.cpp — "BEGIN_USGS_DOQ_HEADER" text:
    SAMPLES_AND_LINES, BYTE_COUNT (data offset), XY_ORIGIN,
    HORIZONTAL_RESOLUTION, BAND_CONTENT count, BITS_PER_PIXEL;
    BIP bytes (band i at skip+i); all other keywords become
    metadata with '*' comment columns dropped (:311-326).
  - gdal/frmts/zmap/zmapdataset.cpp — '!' comments, '@...,GRID,n'
    then field/nodata/decimals lines, rows/cols/minX/maxX/minY/
    maxY, '@' data marker; values are COLUMN-major (one west-east
    column at a time, north to south), fixed-width text fields;
    the writer emits 20-wide %.7f fields, 4 per line (:~560).
  - gdal/frmts/sigdem/sigdemdataset.cpp — 132-byte big-endian
    header ("SIGDEM" magic, z offset/scale doubles at 44/52, min/
    max xyz, cols/rows at 108/112, cell sizes at 116/124); rows of
    big-endian i32, value = raw/scaleZ + offsetZ (float64), nodata
    raw 0x80000000.

Spark lowering: all scans are strip/column-parallel map-only
preads; the ZMap/SIGDEM sinks write the small header driver-side
and pwrite strips in parallel (ZMap's fixed-width text cells make
column offsets closed-form)."""

from __future__ import annotations

import os
import re
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import blockscan
from .blockscan import Layout
from .synth import TILE_COLUMNS, TILE_SCHEMA, strip_rows

# ------------------------------------------------------------------ LCP

_LCP_BANDS = ["Elevation", "Slope", "Aspect", "Fuel models",
              "Canopy cover", "Canopy height", "Canopy base height",
              "Canopy bulk density", "Duff", "Coarse woody debris"]
_LCP_UNIT_NAMES = {
    1: {0: "Meters", 1: "Feet"},
    2: {0: "Degrees", 1: "Percent"},
    3: {0: "Grass categories", 1: "Grass degrees", 2: "Azimuth degrees"},
}


def parse_lcp(path: str) -> dict:
    with open(path, "rb") as f:
        h = f.read(7316)
    crown = struct.unpack("<i", h[0:4])[0] - 20
    ground = struct.unpack("<i", h[4:8])[0] - 20
    nbands = (8 if not ground else 10) if crown else \
        (5 if not ground else 7)
    W, H = struct.unpack("<2i", h[4164:4172])
    east, west, north, south = struct.unpack("<4d", h[4172:4204])
    unit_code, = struct.unpack("<i", h[4204:4208])
    cx, cy = struct.unpack("<2d", h[4208:4224])
    md = {
        "LATITUDE": str(struct.unpack("<i", h[8:12])[0]),
        "LINEAR_UNIT": {0: "Meters", 1: "Feet"}.get(unit_code, ""),
        "DESCRIPTION": h[6804:7315].split(b"\0")[0]
        .decode("latin-1"),
    }
    bands = []
    prefixes = ["ELEVATION", "SLOPE", "ASPECT", "FUEL_MODEL",
                "CANOPY_COV", "CANOPY_HT", "CBH", "CBD", "DUFF",
                "CWD"]
    for b in range(1, nbands + 1):
        unit, = struct.unpack("<H", h[4224 + 2 * (b - 1):
                                      4226 + 2 * (b - 1)])
        vmin, vmax, ncls = struct.unpack(
            "<3i", h[44 + 412 * (b - 1):56 + 412 * (b - 1)])
        fname = h[4244 + 256 * (b - 1):4244 + 256 * b] \
            .split(b"\0")[0].decode("latin-1")
        p = prefixes[b - 1]
        bmd = {f"{p}_UNIT": str(unit), f"{p}_MIN": str(vmin),
               f"{p}_MAX": str(vmax), f"{p}_NUM_CLASSES": str(ncls),
               f"{p}_FILE": fname}
        un = _LCP_UNIT_NAMES.get(b, {}).get(unit)
        if un:
            bmd[f"{p}_UNIT_NAME"] = un
        bands.append(dict(name=_LCP_BANDS[b - 1], metadata=bmd))
    crs = ""
    prj = os.path.splitext(path)[0] + ".prj"
    for c in (prj, prj.lower(), prj.upper()):
        if os.path.exists(c):
            crs = open(c).read().strip()
            break
    return dict(width=W, height=H, nbands=nbands,
                geotransform=[west, cx, 0.0, north, 0.0, -cy],
                metadata=md, bands=bands, crs=crs)


def read_lcp(spark: SparkSession, path: str, *, tile_px: int = 256,
             raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    from .ehdr import read_raw

    info = parse_lcp(path)
    hdr = dict(nrows=info["height"], ncols=info["width"],
               nbands=info["nbands"], dtype="int16",
               interleave="bip", skip=7316,
               geotransform=info["geotransform"], byteorder="<",
               nodata=-9999.0, crs=info["crs"])
    return read_raw(spark, path, hdr, tile_px=tile_px,
                    raster_id=raster_id, zoom=zoom)


# ----------------------------------------------------------------- DOQ2


def parse_doq2(path: str) -> dict:
    import shlex

    md = {}
    W = H = skip = 0
    ulx = uly = 0.0
    res = 1.0
    nband_content = 0
    bits = 8
    with open(path, "r", encoding="latin-1", errors="replace") as f:
        first = f.readline()
        if "BEGIN_USGS_DOQ_HEADER" not in first:
            raise ValueError(f"DOQ2: missing header in {path}")
        for line in f:
            line = line.rstrip("\n")
            if line.strip().startswith("END_USGS_DOQ_HEADER"):
                break
            try:
                toks = shlex.split(line)
            except ValueError:
                toks = line.split()
            if len(toks) < 2:
                break
            key = toks[0]
            if key == "SAMPLES_AND_LINES" and len(toks) >= 3:
                W, H = int(toks[1]), int(toks[2])
            elif key == "BYTE_COUNT":
                skip = int(toks[1])
            elif key == "XY_ORIGIN" and len(toks) >= 3:
                ulx, uly = float(toks[1]), float(toks[2])
            elif key == "HORIZONTAL_RESOLUTION":
                res = float(toks[1])
            elif key == "BAND_CONTENT":
                nband_content += 1
            elif key == "BITS_PER_PIXEL":
                bits = int(toks[1])
            elif key in ("BAND_ORGANIZATION",
                         "HORIZONTAL_COORDINATE_SYSTEM",
                         "COORDINATE_ZONE", "HORIZONTAL_UNITS",
                         "HORIZONTAL_DATUM"):
                md[key] = " ".join(t for t in toks[1:] if t != "*")
            else:
                md[key] = " ".join(t for t in toks[1:] if t != "*")
    nbands = nband_content if nband_content >= 2 else bits // 8
    return dict(width=W, height=H, nbands=nbands, skip=skip,
                geotransform=[ulx, res, 0.0, uly, 0.0, -res],
                metadata=md)


def read_doq2(spark: SparkSession, path: str, *, tile_px: int = 256,
              raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    from .ehdr import read_raw

    info = parse_doq2(path)
    hdr = dict(nrows=info["height"], ncols=info["width"],
               nbands=info["nbands"], dtype="uint8",
               interleave="bip", skip=info["skip"],
               geotransform=info["geotransform"], byteorder="<",
               nodata=None, crs="")
    return read_raw(spark, path, hdr, tile_px=tile_px,
                    raster_id=raster_id, zoom=zoom)


# ----------------------------------------------------------------- ZMap


def parse_zmap(path: str) -> dict:
    with open(path, "r", encoding="latin-1") as f:
        line = f.readline()
        while line and line.startswith("!"):
            line = f.readline()
        t1 = line.split(",")
        vpl = int(t1[2])
        t2 = f.readline().split(",")
        field = int(t2[0])
        nodata = float(t2[1])
        t3 = f.readline().split(",")
        rows, cols = int(t3[0]), int(t3[1])
        minx, maxx, miny, maxy = (float(v) for v in t3[2:6])
        f.readline()                        # unused transform line
        at = f.readline()
        if not at.startswith("@"):
            raise ValueError(f"ZMap: missing @ data marker in {path}")
        data_off = f.tell()
    sx = (maxx - minx) / cols
    sy = (maxy - miny) / rows
    return dict(width=cols, height=rows, values_per_line=vpl,
                field_size=field, nodata=nodata, data_offset=data_off,
                geotransform=[minx, sx, 0.0, maxy, 0.0, -sy])


def read_zmap(spark: SparkSession, path: str, *, tile_px: int = 256,
              raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    """Column-major text scan. ZMap lines have no fixed byte width
    (trailing short lines), so the file parses in one task and
    re-tiles map-side — the fixture-scale path; a fleet of ZMap
    files is the parallel unit."""
    info = parse_zmap(path)
    W, H = info["width"], info["height"]
    gt = info["geotransform"]
    nodata = info["nodata"]
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    seg = spark.createDataFrame([(0,)], "seg int").coalesce(1)

    def scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            with open(path, "r", encoding="latin-1") as f:
                f.seek(info["data_offset"])
                vals = np.array([float(v) for v in f.read().split()],
                                np.float64)
            a = vals[:W * H].reshape(W, H).T   # column-major
            out = []
            for ty, y0 in enumerate(range(0, H, tile_px)):
                out += strip_rows(rid, 1, int(zoom), ty,
                                  a[y0:y0 + tile_px], gt, tile_px, y0=y0,
                                  nodata=float(nodata))
            yield pd.DataFrame(out, columns=TILE_COLUMNS)

    return seg.mapInPandas(scan, schema=TILE_SCHEMA)


def write_zmap(tiles: DataFrame, path: str, *,
               tile_px: int = 256) -> dict:
    """CreateCopy restated: 20-wide %.7f fields, 4 per line, column
    major west->east / north->south. Each column's text offset is
    closed-form, so columns pwrite in parallel after the driver
    writes the header."""
    from .ehdr import _collect_meta

    m = _collect_meta(tiles)
    H, W = int(m.img_h), int(m.img_w)
    gt = list(m.gt) if m.gt is not None else [0, 1, 0, 0, 0, -1]
    nod = m.nodata
    if nod is None or (isinstance(nod, float) and np.isnan(nod)):
        nod = 1.e30
    field, vpl, dec = 20, 4, 7

    def rj(v, w, d=None):
        s = f"{v:.{d}f}" if d is not None else f"{v:g}"
        if len(s) > w:
            s = f"{v:.{d}g}".replace("e", "E")
        return s.rjust(w)

    hdr = "!\n! Created by gdal_spark.\n!\n"
    hdr += f"@GRID FILE, GRID, {vpl}\n"
    hdr += (rj(field, 10) + "," + rj(float(nod), 10) + "," +
            " " * 10 + "," + rj(dec, 10) + "," + rj(1, 10) + "\n")
    hdr += (rj(H, 10) + "," + rj(W, 10) + "," +
            rj(gt[0], 14, 7) + "," + rj(gt[0] + gt[1] * W, 14, 7) +
            "," + rj(gt[3] + gt[5] * H, 14, 7) + "," +
            rj(gt[3], 14, 7) + "\n")
    hdr += "0.0, 0.0, 0.0\n@\n"
    # one column = H cells, full lines of vpl fields + remainder
    lines_per_col = (H + vpl - 1) // vpl
    col_bytes = H * field + lines_per_col
    base = len(hdr.encode())
    with open(path, "wb") as f:
        f.write(hdr.encode())
        f.truncate(base + W * col_bytes)

    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("gx0", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("data", T.BinaryType()),
    ])

    def pack(key, pdf: pd.DataFrame) -> pd.DataFrame:
        w = int(pdf["width"].iloc[0])
        col = np.full((H, w), float(nod), np.float64)
        for r in pdf.itertuples(index=False):
            a = np.frombuffer(bytes(r.data), np.dtype(r.dtype)) \
                .reshape(r.height, r.width).astype(np.float64)
            gy0 = int(r.tile_y) * tile_px
            col[gy0:gy0 + r.height, :] = a
        return pd.DataFrame([{
            "tile_x": int(key[0]), "gx0": int(key[0]) * tile_px,
            "width": w, "data": col.tobytes()}])

    packed = tiles.groupBy("tile_x").applyInPandas(pack, out_schema)

    def write_cols(rows):
        with open(path, "r+b") as f:
            fd = f.fileno()
            for r in rows:
                col = np.frombuffer(bytes(r["data"]), np.float64) \
                    .reshape(H, int(r["width"]))
                for j in range(int(r["width"])):
                    gx = int(r["gx0"]) + j
                    txt = []
                    for i in range(H):
                        txt.append(rj(col[i, j], field, dec))
                        if (i + 1) % vpl == 0:
                            txt.append("\n")
                    if H % vpl != 0:
                        txt.append("\n")
                    os.pwrite(fd, "".join(txt).encode(),
                              base + gx * col_bytes)

    packed.foreachPartition(write_cols)
    return {"path": path, "width": W, "height": H}


# --------------------------------------------------------------- SIGDEM

SIGDEM_NODATA = -0x80000000


def parse_sigdem(path: str) -> dict:
    with open(path, "rb") as f:
        h = f.read(132)
    if h[:6] != b"SIGDEM":
        raise ValueError(f"SIGDEM: bad magic in {path}")
    (version,) = struct.unpack(">h", h[6:8])
    offz, scalez = struct.unpack(">2d", h[44:60])
    minx, miny, minz, maxx, maxy, maxz = struct.unpack(">6d", h[60:108])
    cols, rows = struct.unpack(">2i", h[108:116])
    xdim, ydim = struct.unpack(">2d", h[116:132])
    return dict(width=cols, height=rows, offz=offz, scalez=scalez,
                geotransform=[minx, xdim, 0.0, maxy, 0.0, -ydim])


def read_sigdem(spark: SparkSession, path: str, *, tile_px: int = 256,
                raster_id: str | None = None, zoom: int = 0
                ) -> DataFrame:
    info = parse_sigdem(path)
    offz, scalez = info["offz"], info["scalez"]

    def decode(planes, strip):
        iv = planes[0][1]
        return [(1, np.where(iv == SIGDEM_NODATA, np.nan,
                             iv / (scalez or 1.0) + offz))]

    return blockscan.read(
        spark, Layout(path, info["width"], info["height"], ">i4", (132,),
                      decode=decode),
        raster_id=raster_id or os.path.splitext(os.path.basename(path))[0],
        geotransform=info["geotransform"], tile_px=tile_px, zoom=zoom)


def write_sigdem(tiles: DataFrame, path: str, *, tile_px: int = 256,
                 scalez: float = 1000.0) -> dict:
    from .ehdr import _collect_meta

    m = _collect_meta(tiles)
    H, W = int(m.img_h), int(m.img_w)
    gt = list(m.gt) if m.gt is not None else [0, 1, 0, 0, 0, -1]
    minx, maxy = gt[0], gt[3]
    maxx = minx + gt[1] * W
    miny = maxy + gt[5] * H
    hdr = b"SIGDEM" + struct.pack(">h", 1) + struct.pack(">i", 0)
    hdr += struct.pack(">2d", minx, 1.0)        # x offset/scale
    hdr += struct.pack(">2d", miny, 1.0)        # y offset/scale
    hdr += struct.pack(">2d", 0.0, scalez)      # z offset/scale
    hdr += struct.pack(">6d", minx, miny, 0.0, maxx, maxy, 0.0)
    hdr += struct.pack(">2i", W, H)
    hdr += struct.pack(">2d", gt[1], -gt[5])
    assert len(hdr) == 132
    with open(path, "wb") as f:
        f.write(hdr)
        f.truncate(132 + W * H * 4)

    def write_part(rows):
        with open(path, "r+b") as f:
            fd = f.fileno()
            for r in rows:
                a = np.frombuffer(bytes(r["data"]),
                                  np.dtype(r["dtype"])) \
                    .reshape(r["height"], r["width"]).astype(np.float64)
                iv = np.where(np.isnan(a), SIGDEM_NODATA,
                              np.round(a * scalez)).astype(">i4")
                gy0 = int(r["tile_y"]) * tile_px
                gx0 = int(r["tile_x"]) * tile_px
                for i in range(int(r["height"])):
                    os.pwrite(fd, iv[i].tobytes(),
                              132 + ((gy0 + i) * W + gx0) * 4)

    tiles.foreachPartition(write_part)
    return {"path": path, "width": W, "height": H}


# ------------------------------------------------------------------ NDF


def parse_ndf(path: str) -> dict:
    """NLAPS Data Format (gdal/frmts/raw/ndfdataset.cpp): ';'-joined
    KEY=VALUE text header; BANDn_FILENAME band files (or .In), gt
    from the corner-coordinate easting/northing columns with the
    half-pixel shift (:388-417)."""
    text = open(path, "r", encoding="latin-1",
                errors="replace").read(1 << 16)
    kv = {}
    for stmt in text.replace("\n", "").split(";"):
        if "=" in stmt:
            k, v = stmt.split("=", 1)
            kv[k.strip()] = v.strip()
    W = int(kv.get("PIXELS_PER_LINE", "0"))
    H = int(kv.get("LINES_PER_DATA_FILE", "0"))
    nbands = int(kv.get("NUMBER_OF_BANDS_IN_VOLUME", "1"))
    dtype = "uint8" if kv.get("PIXEL_FORMAT", "BYTE") == "BYTE" \
        else "uint16"
    dirname = os.path.dirname(os.path.abspath(path))
    bands = []
    for b in range(1, nbands + 1):
        name = kv.get(f"BAND{b}_FILENAME", "")
        if name:
            cand = os.path.join(dirname, name)
            if not os.path.exists(cand):
                for f in os.listdir(dirname):
                    if f.lower() == name.lower():
                        cand = os.path.join(dirname, f)
                        break
        else:
            cand = os.path.splitext(path)[0] + f".I{b}"
        bands.append(cand)
    gt = [0.0, 1.0, 0.0, 0.0, 0.0, 1.0]
    try:
        ul = kv["UPPER_LEFT_CORNER"].split(",")
        ur = kv["UPPER_RIGHT_CORNER"].split(",")
        ll = kv["LOWER_LEFT_CORNER"].split(",")
        ulx, uly = float(ul[2]), float(ul[3])
        gt = [ulx,
              (float(ur[2]) - ulx) / (W - 1),
              (float(ur[3]) - uly) / (W - 1),
              uly,
              (float(ll[2]) - ulx) / (H - 1),
              (float(ll[3]) - uly) / (H - 1)]
        gt[0] -= gt[1] * 0.5 + gt[4] * 0.5
        gt[3] -= gt[2] * 0.5 + gt[5] * 0.5
        gt = [gt[0], gt[1], gt[4], gt[3], gt[2], gt[5]]
    except (KeyError, IndexError, ValueError):
        pass
    return dict(width=W, height=H, nbands=nbands, dtype=dtype,
                bands=bands, geotransform=gt, metadata=kv)


def read_ndf(spark: SparkSession, path: str, *, tile_px: int = 256,
             raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    from pyspark.sql import functions as F

    from .ehdr import read_raw

    info = parse_ndf(path)
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    out = None
    for b, bpath in enumerate(info["bands"], start=1):
        hdr = dict(nrows=info["height"], ncols=info["width"],
                   nbands=1, dtype=info["dtype"], interleave="bsq",
                   skip=0, geotransform=info["geotransform"],
                   byteorder="<", nodata=None, crs="")
        t = read_raw(spark, bpath, hdr, tile_px=tile_px,
                     raster_id=rid, zoom=zoom) \
            .withColumn("band", F.lit(b).cast("int"))
        out = t if out is None else out.unionByName(t)
    return out


# --------------------------------------------------------------- SNODAS


def parse_snodas(path: str) -> dict:
    """NOHRSC SNODAS (gdal/frmts/raw/snodasdataset.cpp): 'Key:
    value' ASCII .hdr beside a big-endian int16 .dat; gt from the
    min-x / max-y corner coordinates over the row/col counts."""
    kv = {}
    for line in open(path, encoding="latin-1", errors="replace"):
        if ":" in line:
            k, v = line.split(":", 1)
            kv[k.strip()] = v.strip()
    W = int(kv.get("Number of columns", "0"))
    H = int(kv.get("Number of rows", "0"))
    minx = float(kv.get("Minimum x-axis coordinate", "0"))
    maxx = float(kv.get("Maximum x-axis coordinate", str(minx + W)))
    miny = float(kv.get("Minimum y-axis coordinate", "0"))
    maxy = float(kv.get("Maximum y-axis coordinate", str(miny + H)))
    nodata = float(kv.get("No data value", "nan") or "nan")
    dat = kv.get("Data file pathname", "")
    dat_path = os.path.join(os.path.dirname(os.path.abspath(path)),
                            os.path.basename(dat)) if dat else ""
    return dict(width=W, height=H, nodata=nodata,
                geotransform=[minx, (maxx - minx) / W, 0.0,
                              maxy, 0.0, -(maxy - miny) / H],
                data_path=dat_path, metadata=kv)


def read_snodas(spark: SparkSession, path: str, *, tile_px: int = 256,
                raster_id: str | None = None, zoom: int = 0
                ) -> DataFrame:
    from .ehdr import read_raw

    info = parse_snodas(path)
    dat = info["data_path"]
    if not dat or not os.path.exists(dat):
        # headers without their .dat read as zeros (the truncated-
        # file zero-fill rule applied to a fully absent body)
        dat = path  # read past EOF of the header -> zero fill
        skip = os.path.getsize(path)
    else:
        skip = 0
    hdr = dict(nrows=info["height"], ncols=info["width"], nbands=1,
               dtype="int16", interleave="bsq", skip=skip,
               geotransform=info["geotransform"], byteorder=">",
               nodata=info["nodata"], crs="EPSG:4326")
    return read_raw(spark, dat, hdr, tile_px=tile_px,
                    raster_id=raster_id, zoom=zoom)


# ------------------------------------------------------------------ TIL


def parse_til(path: str) -> dict:
    """EarthWatch/DigitalGlobe .TIL (gdal/frmts/til/tildataset.cpp):
    'key = value;' tile list referencing TIFF tiles with UL pixel
    offsets; the .IMD sidecar's IMAGERY keys surface as metadata."""
    kv = {}
    tiles = []
    for line in open(path, encoding="latin-1", errors="replace"):
        s = line.strip().rstrip(";")
        if "=" not in s:
            continue
        k, v = (t.strip() for t in s.split("=", 1))
        v = v.strip('"')
        kv[k] = v
        m = re.match(r"TILE_(\d+)\.filename", k)
        if m:
            tiles.append({"n": int(m.group(1)), "filename": v})
        m = re.match(r"TILE_(\d+)\.(ULColOffset|ULRowOffset)", k)
        if m:
            t = next(t for t in tiles if t["n"] == int(m.group(1)))
            t[m.group(2)] = int(v)
    d = os.path.dirname(os.path.abspath(path))
    for t in tiles:
        t["path"] = os.path.join(d, t["filename"])
    md = {}
    # IMAGERY-domain names the DigitalGlobe metadata reader uses
    # (gcore/mdreader/reader_digital_globe.cpp)
    remap = {"SATID": "SATELLITEID", "CLOUDCOVER": "CLOUDCOVER",
             "FIRSTLINETIME": "ACQUISITIONDATETIME"}
    imd = os.path.splitext(path)[0] + ".imd"
    for cand in (imd, imd.upper()):
        if os.path.exists(cand):
            for line in open(cand, encoding="latin-1",
                             errors="replace"):
                st = line.strip().rstrip(";")
                if "=" in st:
                    k, v = (x.strip() for x in st.split("=", 1))
                    key = k.upper()
                    md[remap.get(key, key)] = v.strip('"')
            break
    return dict(tiles=tiles, metadata=md, kv=kv)


def read_til(spark: SparkSession, path: str, *,
             raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    """TIL mosaic: each referenced TIFF scans through the engine's
    distributed GeoTIFF reader; tile offsets shift the per-tile
    geotransforms (tile grids of the parts are kept — a virtual
    mosaic in the VRT sense)."""
    from pyspark.sql import functions as F

    from . import geotiff

    info = parse_til(path)
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    out = None
    for t in info["tiles"]:
        part = geotiff.read_geotiff(spark, t["path"], raster_id=rid)
        colo = t.get("ULColOffset", 0)
        rowo = t.get("ULRowOffset", 0)
        if colo or rowo:
            part = part.withColumn(
                "geotransform",
                F.array(
                    F.element_at("geotransform", 1)
                    - F.lit(float(colo))
                    * F.element_at("geotransform", 2),
                    F.element_at("geotransform", 2), F.lit(0.0),
                    F.element_at("geotransform", 4)
                    - F.lit(float(rowo))
                    * F.element_at("geotransform", 6),
                    F.lit(0.0), F.element_at("geotransform", 6)))
        out = part if out is None else out.unionByName(part)
    return out


# ----------------------------------------------------------- MFF2/HKV


def parse_mff2(dirname: str) -> dict:
    """MFF2/HKV directory dataset (gdal/frmts/raw/hkvdataset.cpp):
    'attrib' key=value file where '{ *chosen other }' marks the
    selected enumeration token; raw body in 'image_data'."""
    kv = {}
    for line in open(os.path.join(dirname, "attrib"),
                     encoding="latin-1"):
        if "=" not in line:
            continue
        k, v = (t.strip() for t in line.split("=", 1))
        if v.startswith("{"):
            m = re.search(r"\*(\S+)", v)
            v = m.group(1) if m else v
        kv[k] = v
    W = int(kv.get("extent.cols", "0"))
    H = int(kv.get("extent.rows", "0"))
    nbands = int(kv.get("channel.enumeration", "1"))
    bits = int(kv.get("pixel.size", "8"))
    enc = kv.get("pixel.encoding", "unsigned")
    field = kv.get("pixel.field", "real")
    order = "<" if kv.get("pixel.order", "lsbf") == "lsbf" else ">"
    if field == "complex":
        dtype = "complex64" if bits == 64 else "complex128"
    elif enc == "ieee-754":
        dtype = "float32" if bits == 32 else "float64"
    elif enc == "twos-complement":
        dtype = {8: "int8", 16: "int16", 32: "int32"}[bits]
    else:
        dtype = {8: "uint8", 16: "uint16", 32: "uint32"}[bits]
    interleave = {"pixel": "bip", "tile": "bsq",
                  "sequential": "bsq"}.get(
        kv.get("channel.interleave", "pixel"), "bip")
    return dict(width=W, height=H, nbands=nbands, dtype=dtype,
                byteorder=order, interleave=interleave, kv=kv)


def read_mff2(spark: SparkSession, dirname: str, *,
              tile_px: int = 256, raster_id: str | None = None,
              zoom: int = 0) -> DataFrame:
    from .ehdr import read_raw

    info = parse_mff2(dirname)
    hdr = dict(nrows=info["height"], ncols=info["width"],
               nbands=info["nbands"], dtype=info["dtype"],
               interleave=info["interleave"], skip=0,
               geotransform=[0.0, 1.0, 0.0, 0.0, 0.0, 1.0],
               byteorder=info["byteorder"], nodata=None, crs="")
    rid = raster_id or os.path.basename(os.path.abspath(dirname))
    return read_raw(spark, os.path.join(dirname, "image_data"), hdr,
                    tile_px=tile_px, raster_id=rid, zoom=zoom)


# ------------------------------------------------------------------ GSC


def parse_gsc(path: str) -> dict:
    """GSC Geogrid (gdal/frmts/raw/gscdataset.cpp): Fortran-style
    records — u32 record length, pixels, lines (marker 0x02 at +12);
    float32 georef words at recordLen+12 (xres, yres, x0, ?, ?, y1);
    band data rows of float32 at recordLen*2+4 with 8-byte record
    markers per line; nodata -1.00000001504746622e+30."""
    with open(path, "rb") as f:
        h = f.read(20)
    if len(h) < 20 or h[12:16] != b"\x02\x00\x00\x00":
        raise ValueError(f"GSC: bad marker in {path}")
    reclen, W, H = struct.unpack("<3i", h[0:12])
    if reclen != W * 4:
        raise ValueError(f"GSC: record length mismatch in {path}")
    reclen += 8
    with open(path, "rb") as f:
        f.seek(reclen + 12)
        geo = struct.unpack("<8f", f.read(32).ljust(32, b"\0"))
    gt = [float(geo[2]), float(geo[0]), 0.0,
          float(geo[5]), 0.0, -float(geo[1])]
    return dict(width=W, height=H, record_len=reclen,
                skip=reclen * 2 + 4, geotransform=gt,
                nodata=-1.0000000150474662199e+30)


def read_gsc(spark: SparkSession, path: str, *, tile_px: int = 256,
             raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    """Each row record carries 8 marker bytes after its W float32s: a
    line stride larger than the row. One tile column, as wide as the
    raster."""
    info = parse_gsc(path)
    W, H = info["width"], info["height"]
    gt = info["geotransform"]
    return blockscan.read(
        spark, Layout(path, W, H, "float32", (info["skip"],),
                      line_offset=(W + 2) * 4, byteorder="<",
                      zero_fill=True, out_dtype="float32"),
        raster_id=raster_id or os.path.splitext(os.path.basename(path))[0],
        geotransform=(gt[0], gt[1], 0.0, gt[3], 0.0, gt[5]),
        tile_px=max(tile_px, W + 2), zoom=zoom,
        nodata=float(info["nodata"]))
