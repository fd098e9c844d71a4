"""Planetary raster drivers: PDS3, ISIS2, ISIS3.

Reference: gdal/frmts/pds/ —
  - pdsdataset.cpp ParseImage (:736-1160): ^IMAGE/^QUBE/^SPECTRAL_
    QUBE pointer (record number, "file", ("file", n [<BYTES>])),
    RECORD_BYTES skip math, AXIS_NAME / BAND_STORAGE_TYPE layouts
    (BSQ/BIL/BIP strides incl. LINE_PREFIX_BYTES and QUBE suffix
    planes), SAMPLE_TYPE byte order, SAMPLE_BITS -> dtype with the
    NULL1/NULL2/NULL3 defaults, MISSING(_CONSTANT) incl. the
    16#...# hex-float form, SCALING_FACTOR/OFFSET.
  - pdsdataset.cpp ParseSRS (:299-700): MAP_SCALE unit handling,
    the (offset + shift) * dim * mult geotransform with the
    documented PDS_SampleProjOffset_Shift/_Mult knobs (default
    shift 0.5, mult -1 / +1), projection dispatch + the
    sphere-vs-ellipse per-projection rules, GCS_/D_ target naming.
  - isis2dataset.cpp (:234-460): ^QUBE + QUBE.* keyword set;
    CORE_ITEM_BYTES/TYPE dtype map; the float32-truncated
    MAP_SCALE*1000 cellsize and `center - dim/2` corner math it
    really performs (floats, not doubles — mirrored here).
  - isis3dataset.cpp (:1735-1980 + ISISTiledBand :~600): PVL
    Object/Group tree (IsisCube.Core...), StartByte, Format =
    BandSequential | Tile (TileSamples/TileLines, tile (tx,ty) of
    band b at first + ((b-1)*bpc + ty)*rowStride + tx*tileBytes)
    | GeoTIFF (external ^Core dataset), Pixels Type/ByteOrder/
    Base/Multiplier, Mapping UpperLeftCornerX/Y + PixelResolution.

Truncated data files zero-fill past EOF, the RawRasterBand
AccessBlock behavior the reference's own truncated fixtures rely
on.

Spark lowering: the driver parses the KB label; executors pread
strip/tile byte ranges in mapInPandas — map-only, zero shuffles,
arbitrary strides resolved by one numpy strided view per strip (the
shared block scan, blockscan).
The ISIS3 GeoTIFF-backed form delegates to the engine's
distributed GeoTIFF scan."""

from __future__ import annotations

import os
import re
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import blockscan
from .blockscan import Layout
from .synth import TILE_COLUMNS, TILE_SCHEMA, tile_row

NULL1 = 0.0
NULL2 = -32768.0
NULL3 = -3.4028226550889044521e+38
ISIS3_NULL4 = float(np.float32(-3.4028226550889045e+38))

# --------------------------------------------------------------- ODL


def parse_label(path: str, max_bytes: int = 1 << 20) -> dict:
    """ODL/PVL label → flat {dotted.path: raw value string}
    (pl/nasakeywordhandler.cpp restated: OBJECT/Group nesting,
    multi-line values balanced on quotes/parens, END terminator)."""
    with open(path, "rb") as f:
        text = f.read(max_bytes).decode("latin-1", errors="replace")
    text = re.sub(r"/\*.*?\*/", "", text, flags=re.S)
    kv: dict[str, str] = {}
    stack: list[str] = []
    pending_key = None
    pending_val: list[str] = []

    def balanced(s: str) -> bool:
        return s.count('"') % 2 == 0 and s.count("(") <= s.count(")") \
            and s.count("'") % 2 == 0

    def flush(key: str, val: str):
        val = val.strip()
        ku = key.upper()
        if ku in ("OBJECT", "GROUP"):
            stack.append(val.strip('"').strip())
            return
        if ku in ("END_OBJECT", "END_GROUP"):
            if stack:
                stack.pop()
            return
        path_key = ".".join(stack + [key])
        kv.setdefault(path_key, val)

    for line in text.splitlines():
        if pending_key is not None:
            pending_val.append(line.strip())
            joined = " ".join(pending_val)
            if balanced(joined):
                flush(pending_key, joined)
                pending_key, pending_val = None, []
            continue
        s = line.strip()
        if not s or s.startswith("#") or s.startswith("--"):
            continue
        if s.upper() in ("END", "END;"):
            break
        if s.upper() in ("END_OBJECT", "END_GROUP"):
            if stack:
                stack.pop()
            continue
        if "=" not in s:
            continue
        key, val = s.split("=", 1)
        key, val = key.strip(), val.strip()
        if not balanced(val):
            pending_key, pending_val = key, [val]
            continue
        flush(key, val)
    return kv


def clean(v: str) -> str:
    """CleanString: strip quotes, spaces -> underscores."""
    v = v.strip().strip('"').strip("'").strip()
    return v.replace(" ", "_")


def unquote(v: str) -> str:
    return v.strip().strip('"').strip("'")


def _num(v: str | None, default: float = 0.0) -> float:
    if not v:
        return default
    m = re.match(r"\s*[-+0-9.eEdD]+", v)
    if not m:
        return default
    return float(m.group(0).replace("D", "E").replace("d", "e"))


def _sub(v: str, n: int, default: str = "") -> str:
    """GetKeywordSub: n-th (1-based) element of '(a, b, c)'."""
    v = v.strip()
    if not v.startswith("("):
        return default
    parts = v.strip("()").split(",")
    return parts[n - 1].strip() if n <= len(parts) else default


_SRS_SPHERE_PROJS = {"SIMPLE_CYLINDRICAL", "EQUIDISTANT", "ORTHOGRAPHIC",
                     "STEREOGRAPHIC", "SINUSOIDAL"}


def _pds_srs(kv: dict, prefix: str, target: str) -> str:
    """ParseSRS projection + GCS naming condensed to a WKT string
    (values only — the gt is the exact anchor, asserted in tests)."""
    proj = clean(kv.get(prefix + "MAP_PROJECTION_TYPE", ""))
    if not proj:
        return ""
    a = _num(kv.get(prefix + "A_AXIS_RADIUS")) * 1000.0
    c = _num(kv.get(prefix + "C_AXIS_RADIUS")) * 1000.0
    lat0 = _num(kv.get(prefix + "CENTER_LATITUDE"))
    lon0 = _num(kv.get(prefix + "CENTER_LONGITUDE"))
    sp1 = _num(kv.get(prefix + "FIRST_STANDARD_PARALLEL"))
    sp2 = _num(kv.get(prefix + "SECOND_STANDARD_PARALLEL"))
    iflat = 0.0 if (a - c) < 1e-7 else a / (a - c)
    sphere = target
    radius = a
    if proj in ("EQUIRECTANGULAR",):
        sphere += "_localRadius"
        iflat = 0.0
    elif proj in _SRS_SPHERE_PROJS:
        iflat = 0.0
    body = {
        "EQUIRECTANGULAR": (
            'PROJECTION["Equirectangular"],'
            f'PARAMETER["latitude_of_origin",0],'
            f'PARAMETER["central_meridian",{lon0:.15g}],'
            f'PARAMETER["standard_parallel_1",{lat0:.15g}]'),
        "SIMPLE_CYLINDRICAL": (
            'PROJECTION["Equirectangular"],'
            f'PARAMETER["latitude_of_origin",0],'
            f'PARAMETER["central_meridian",{lon0:.15g}],'
            f'PARAMETER["standard_parallel_1",{lat0:.15g}]'),
        "EQUIDISTANT": (
            'PROJECTION["Equirectangular"],'
            f'PARAMETER["latitude_of_origin",0],'
            f'PARAMETER["central_meridian",{lon0:.15g}],'
            f'PARAMETER["standard_parallel_1",{lat0:.15g}]'),
        "SINUSOIDAL": (
            'PROJECTION["Sinusoidal"],'
            f'PARAMETER["longitude_of_center",{lon0:.15g}]'),
        "MERCATOR": (
            'PROJECTION["Mercator_1SP"],'
            f'PARAMETER["central_meridian",{lon0:.15g}],'
            f'PARAMETER["scale_factor",1]'),
        "ORTHOGRAPHIC": (
            'PROJECTION["Orthographic"],'
            f'PARAMETER["latitude_of_origin",{lat0:.15g}],'
            f'PARAMETER["central_meridian",{lon0:.15g}]'),
        "STEREOGRAPHIC": (
            'PROJECTION["Stereographic"],'
            f'PARAMETER["latitude_of_origin",{lat0:.15g}],'
            f'PARAMETER["central_meridian",{lon0:.15g}],'
            f'PARAMETER["scale_factor",1]'),
        "POLAR_STEREOGRAPHIC": (
            'PROJECTION["Polar_Stereographic"],'
            f'PARAMETER["latitude_of_origin",{lat0:.15g}],'
            f'PARAMETER["central_meridian",{lon0:.15g}],'
            f'PARAMETER["scale_factor",1]'),
        "TRANSVERSE_MERCATOR": (
            'PROJECTION["Transverse_Mercator"],'
            f'PARAMETER["latitude_of_origin",{lat0:.15g}],'
            f'PARAMETER["central_meridian",{lon0:.15g}],'
            f'PARAMETER["scale_factor",1]'),
        "LAMBERT_CONFORMAL_CONIC": (
            'PROJECTION["Lambert_Conformal_Conic_2SP"],'
            f'PARAMETER["standard_parallel_1",{sp1:.15g}],'
            f'PARAMETER["standard_parallel_2",{sp2:.15g}],'
            f'PARAMETER["latitude_of_origin",{lat0:.15g}],'
            f'PARAMETER["central_meridian",{lon0:.15g}]'),
        "LAMBERT_AZIMUTHAL_EQUAL_AREA": (
            'PROJECTION["Lambert_Azimuthal_Equal_Area"],'
            f'PARAMETER["latitude_of_center",{lat0:.15g}],'
            f'PARAMETER["longitude_of_center",{lon0:.15g}]'),
        "CYLINDRICAL_EQUAL_AREA": (
            'PROJECTION["Cylindrical_Equal_Area"],'
            f'PARAMETER["standard_parallel_1",{sp1:.15g}],'
            f'PARAMETER["central_meridian",{lon0:.15g}]'),
    }.get(proj)
    if body is None:
        return ""
    iflat_s = f"{iflat:.15g}" if iflat else "0"
    return (f'PROJCS["{proj} {target}",GEOGCS["GCS_{target}",'
            f'DATUM["D_{target}",SPHEROID["{sphere}",{radius:.15g},'
            f'{iflat_s}]],PRIMEM["Reference_Meridian",0],'
            f'UNIT["degree",0.0174532925199433]],{body},'
            f'PARAMETER["false_easting",0],'
            f'PARAMETER["false_northing",0],UNIT["metre",1]]')


_LSB_TYPES = ("LSB_INTEGER", "LSB", "LSB_UNSIGNED_INTEGER",
              "LSB_SIGNED_INTEGER", "UNSIGNED_INTEGER", "VAX_REAL",
              "VAX_INTEGER", "PC_INTEGER", "PC_REAL")


def parse_pds(path: str, *, sample_shift: float = 0.5,
              line_shift: float = 0.5, sample_mult: float = -1.0,
              line_mult: float = 1.0) -> dict:
    """PDS3 label → layout dict (ParseImage + ParseSRS)."""
    kv = parse_label(path)
    prefix = ""
    if "IMAGE_MAP_PROJECTION.MAP_PROJECTION_TYPE" not in kv and \
            "UNCOMPRESSED_FILE.IMAGE_MAP_PROJECTION.MAP_PROJECTION_TYPE" \
            in kv:
        prefix = "UNCOMPRESSED_FILE."

    img_kw = None
    img_prefix = prefix
    for pfx in (prefix, "UNCOMPRESSED_FILE."):
        for cand in ("IMAGE", "SPECTRAL_QUBE", "QUBE"):
            if pfx + "^" + cand in kv:
                img_kw, img_prefix = cand, pfx
                break
        if img_kw:
            break
    if img_kw is not None and img_prefix == "UNCOMPRESSED_FILE.":
        # COMPRESSED_FILE/UNCOMPRESSED_FILE pair (Open :1350): use
        # the uncompressed raw only if it exists on disk, else open
        # the compressed file as a whole dataset
        # (ParseCompressedImage :1237)
        un = _ci_sibling(path, unquote(
            kv.get("UNCOMPRESSED_FILE.FILE_NAME", "")))
        if not os.path.exists(un):
            img_kw = None
    if img_kw is None:
        comp = unquote(kv.get("COMPRESSED_FILE.FILE_NAME", ""))
        if comp:
            ptr = f'"{comp}"'
            img_prefix, img_kw = "UNCOMPRESSED_FILE.", "IMAGE"
        else:
            raise ValueError(f"PDS: no ^IMAGE pointer in {path}")
    else:
        ptr = kv[img_prefix + "^" + img_kw].strip()

    data_path = path
    record_bytes = int(_num(kv.get(img_prefix + img_kw + ".RECORD_BYTES"))) \
        or int(_num(kv.get(img_prefix + "RECORD_BYTES"))) \
        or int(_num(kv.get("RECORD_BYTES"))) or 1
    skip = 0
    if ptr.startswith("("):
        fname = unquote(_sub(ptr, 1))
        off_s = _sub(ptr, 2, "1")
        off = int(_num(off_s, 1.0))
        data_path = _ci_sibling(path, fname)
        skip = (off - 1) if "<BYTES>" in off_s else (off - 1) * record_bytes
        if "<BYTES>" in off_s:
            skip = off - 1
    elif ptr.startswith('"') or ptr.startswith("'"):
        data_path = _ci_sibling(path, unquote(ptr))
    else:
        rec = int(_num(ptr, 0.0))
        if "<BYTES>" in ptr:
            skip = rec - 1
        elif rec > 0:
            skip = (rec - 1) * record_bytes

    obj = img_prefix + img_kw
    axis = kv.get(obj + ".AXIS_NAME", "").replace(" ", "")
    if axis == "(SAMPLE,LINE,BAND)":
        layout = "bsq"
        w = int(_num(_sub(kv[obj + ".CORE_ITEMS"], 1)))
        h = int(_num(_sub(kv[obj + ".CORE_ITEMS"], 2)))
        nb = int(_num(_sub(kv[obj + ".CORE_ITEMS"], 3)))
    elif axis == "(BAND,LINE,SAMPLE)":
        layout = "bip"
        nb = int(_num(_sub(kv[obj + ".CORE_ITEMS"], 1)))
        h = int(_num(_sub(kv[obj + ".CORE_ITEMS"], 2)))
        w = int(_num(_sub(kv[obj + ".CORE_ITEMS"], 3)))
    elif axis == "(SAMPLE,BAND,LINE)":
        layout = "bil"
        w = int(_num(_sub(kv[obj + ".CORE_ITEMS"], 1)))
        nb = int(_num(_sub(kv[obj + ".CORE_ITEMS"], 2)))
        h = int(_num(_sub(kv[obj + ".CORE_ITEMS"], 3)))
    else:
        layout = "bsq"
        w = int(_num(kv.get(obj + ".LINE_SAMPLES")))
        h = int(_num(kv.get(obj + ".LINES")))
        nb = int(_num(kv.get(obj + ".BANDS"), 1.0)) or 1
    bst = unquote(kv.get(obj + ".BAND_STORAGE_TYPE", "")).upper()
    if bst == "BAND_SEQUENTIAL":
        layout = "bsq"
    elif bst == "PIXEL_INTERLEAVED":
        layout = "bip"
    elif bst == "LINE_INTERLEAVED":
        layout = "bil"

    prefix_bytes = int(_num(kv.get(obj + ".LINE_PREFIX_BYTES"), 0.0))
    skip += prefix_bytes

    st = unquote(kv.get(obj + ".SAMPLE_TYPE", "MSB_INTEGER")).upper()
    order = "<" if st in _LSB_TYPES else ">"
    bits = int(_num(kv.get(obj + ".SAMPLE_BITS"),
                    _num(kv.get(obj + ".CORE_ITEM_BYTES")) * 8))
    if bits == 8:
        dtype, nodata = "uint8", NULL1
    elif bits == 16:
        dtype, nodata = (("uint16", NULL1) if "UNSIGNED" in st
                         else ("int16", NULL2))
    elif bits == 32:
        dtype, nodata = "float32", NULL3
    elif bits == 64:
        dtype, nodata = "float64", NULL3
    else:
        raise ValueError(f"PDS: SAMPLE_BITS {bits} unsupported")

    missing = kv.get(obj + ".MISSING", kv.get(obj + ".MISSING_CONSTANT"))
    if missing:
        m = unquote(missing)
        if m.upper().startswith("16#") and m.endswith("#") and \
                dtype in ("float32", "float64"):
            nodata = float(np.frombuffer(
                struct.pack(">I", int(m[3:-1], 16)), ">f4")[0])
        else:
            nodata = _num(m, nodata)

    offset = _num(kv.get(obj + ".OFFSET"), 0.0)
    scale = _num(kv.get(obj + ".SCALING_FACTOR"), 1.0)

    # georef (ParseSRS)
    p = prefix + "IMAGE_MAP_PROJECTION."
    xdim = ydim = 1.0
    ms = kv.get(p + "MAP_SCALE")
    if ms:
        v = _num(ms)
        unit = ""
        mm = re.search(r"<([^>]+)>", ms)
        if mm:
            unit = mm.group(1).split("/")[0].strip().upper()
        if unit in ("M", "METER", "METERS"):
            factor = 1.0
        elif unit == "CM":
            factor = 0.01
        else:
            factor = 1000.0
        xdim, ydim = v * factor, -v * factor
    ulx = uly = 0.5
    lpo = kv.get(p + "LINE_PROJECTION_OFFSET")
    if lpo:
        uly = (_num(lpo) + line_shift) * -ydim * line_mult
    spo = kv.get(p + "SAMPLE_PROJECTION_OFFSET")
    if spo:
        ulx = (_num(spo) + sample_shift) * xdim * sample_mult
    if (ulx, uly, xdim, ydim) != (0.5, 0.5, 1.0, 1.0):
        gt = [ulx, xdim, 0.0, uly, 0.0, ydim]
    else:
        gt = [0.0, 1.0, 0.0, 0.0, 0.0, 1.0]

    target = clean(kv.get("TARGET_NAME", kv.get(
        prefix + "TARGET_NAME", "")))
    crs = _pds_srs(kv, p, target)

    return dict(data_path=data_path, skip=skip, layout=layout,
                width=w, height=h, nbands=nb, dtype=dtype,
                byteorder=order, nodata=nodata, offset=offset,
                scale=scale, geotransform=gt, crs=crs,
                prefix_bytes=prefix_bytes, kv=kv)


def _ci_sibling(label_path: str, fname: str) -> str:
    d = os.path.dirname(os.path.abspath(label_path))
    for cand in (fname, fname.lower(), fname.upper()):
        p = os.path.join(d, cand)
        if os.path.exists(p):
            return p
    low = fname.lower()
    for f in os.listdir(d):
        if f.lower() == low:
            return os.path.join(d, f)
    return os.path.join(d, fname)


def parse_isis2(path: str) -> dict:
    """ISIS2 .cub label (isis2dataset.cpp) — like PDS's QUBE but with
    the driver's own float32-truncated cellsize/corner math."""
    kv = parse_label(path)
    ptr = kv.get("^QUBE", "").strip()
    record_bytes = int(_num(kv.get("RECORD_BYTES"), 1.0)) or 1
    data_path, skip = path, 0
    if ptr.startswith("("):
        data_path = _ci_sibling(path, unquote(_sub(ptr, 1)))
        off_s = _sub(ptr, 2, "1")
        off = int(_num(off_s, 1.0))
        skip = (off - 1) if "<BYTES>" in off_s else (off - 1) * record_bytes
    else:
        rec = int(_num(ptr, 0.0))
        skip = (rec - 1) if "<BYTES>" in ptr else max(rec - 1, 0) \
            * record_bytes

    axis = kv.get("QUBE.AXIS_NAME", "").replace(" ", "")
    items = kv.get("QUBE.CORE_ITEMS", "(0,0,1)")
    if axis == "(BAND,LINE,SAMPLE)":
        layout = "bip"
        nb, h, w = (int(_num(_sub(items, i))) for i in (1, 2, 3))
    elif axis == "(SAMPLE,BAND,LINE)":
        layout = "bil"
        w, nb, h = (int(_num(_sub(items, i))) for i in (1, 2, 3))
    else:
        layout = "bsq"
        w, h, nb = (int(_num(_sub(items, i))) for i in (1, 2, 3))
        nb = nb or 1

    ctype = unquote(kv.get("QUBE.CORE_ITEM_TYPE", "")).upper()
    order = "<" if ctype in ("PC_INTEGER", "PC_UNSIGNED_INTEGER",
                             "PC_REAL") else ">"
    nbytes = int(_num(kv.get("QUBE.CORE_ITEM_BYTES"), 1.0))
    if nbytes == 1:
        dtype, nodata = "uint8", NULL1
    elif nbytes == 2:
        dtype, nodata = (("uint16", 0.0) if "UNSIGNED" in ctype
                         else ("int16", NULL2))
    elif nbytes == 4:
        dtype, nodata = "float32", NULL3
    else:
        dtype, nodata = "float64", NULL3

    p = "QUBE.IMAGE_MAP_PROJECTION."
    xdim = ydim = 1.0
    ms = kv.get(p + "MAP_SCALE")
    if ms:
        xdim = float(np.float32(_num(ms) * 1000.0))
        ydim = float(np.float32(_num(ms) * 1000.0 * -1))
    ulx = uly = 0.5
    v = kv.get(p + "LINE_PROJECTION_OFFSET")
    if v:
        uly = float(np.float32(_num(v))) * ydim - ydim / 2
    v = kv.get(p + "SAMPLE_PROJECTION_OFFSET")
    if v:
        ulx = float(np.float32(_num(v))) * xdim - xdim / 2
    gt = [ulx, xdim, 0.0, uly, 0.0, ydim] \
        if (ulx, uly, xdim, ydim) != (0.5, 0.5, 1.0, 1.0) \
        else [0.0, 1.0, 0.0, 0.0, 0.0, 1.0]

    target = clean(kv.get("QUBE.TARGET_NAME", ""))
    crs = _pds_srs(kv, p, target)
    offset = _num(kv.get("QUBE.CORE_BASE"), 0.0)
    scale = _num(kv.get("QUBE.CORE_MULTIPLIER"), 1.0)
    return dict(data_path=data_path, skip=skip, layout=layout,
                width=w, height=h, nbands=nb, dtype=dtype,
                byteorder=order, nodata=nodata, offset=offset,
                scale=scale, geotransform=gt, crs=crs,
                prefix_bytes=0, kv=kv)


_ISIS3_TYPES = {"UNSIGNEDBYTE": ("uint8", NULL1),
                "UNSIGNEDWORD": ("uint16", 0.0),
                "SIGNEDWORD": ("int16", NULL2),
                "REAL": ("float32", ISIS3_NULL4),
                "": ("float32", ISIS3_NULL4)}


def parse_isis3(path: str) -> dict:
    kv = parse_label(path)
    core = kv.get("IsisCube.Core.^Core", "")
    data_path = _ci_sibling(path, unquote(core)) if core else path
    skip = max(int(_num(kv.get("IsisCube.Core.StartByte"), 1.0)) - 1, 0)
    fmt = unquote(kv.get("IsisCube.Core.Format", "BandSequential"))
    w = int(_num(kv.get("IsisCube.Core.Dimensions.Samples")))
    h = int(_num(kv.get("IsisCube.Core.Dimensions.Lines")))
    nb = int(_num(kv.get("IsisCube.Core.Dimensions.Bands"), 1.0)) or 1
    t = unquote(kv.get("IsisCube.Core.Pixels.Type", "")).upper()
    if t not in _ISIS3_TYPES:
        raise ValueError(f"ISIS3: pixel type {t} unsupported")
    dtype, nodata = _ISIS3_TYPES[t]
    order = "<" if unquote(
        kv.get("IsisCube.Core.Pixels.ByteOrder", "")).upper() == "LSB" \
        else ">"
    offset = _num(kv.get("IsisCube.Core.Pixels.Base"), 0.0)
    scale = _num(kv.get("IsisCube.Core.Pixels.Multiplier"), 1.0)

    res = _num(kv.get("IsisCube.Mapping.PixelResolution"), 0.0)
    ulx = _num(kv.get("IsisCube.Mapping.UpperLeftCornerX"), 0.5)
    uly = _num(kv.get("IsisCube.Mapping.UpperLeftCornerY"), 0.5)
    gt = [ulx, res or 1.0, 0.0, uly, 0.0, -(res or 1.0)] \
        if res else [0.0, 1.0, 0.0, 0.0, 0.0, 1.0]
    target = clean(kv.get("IsisCube.Mapping.TargetName", ""))
    crs = ""
    proj = clean(kv.get("IsisCube.Mapping.ProjectionName", ""))
    if proj:
        # reuse the PDS dispatch through synthetic keys (radii
        # already in meters here)
        synth_kv = {
            "P.MAP_PROJECTION_TYPE": proj,
            "P.A_AXIS_RADIUS": str(
                _num(kv.get("IsisCube.Mapping.EquatorialRadius")) / 1000.0),
            "P.C_AXIS_RADIUS": str(
                _num(kv.get("IsisCube.Mapping.PolarRadius")) / 1000.0),
            "P.CENTER_LATITUDE":
                kv.get("IsisCube.Mapping.CenterLatitude", "0"),
            "P.CENTER_LONGITUDE":
                kv.get("IsisCube.Mapping.CenterLongitude", "0"),
            "P.FIRST_STANDARD_PARALLEL":
                kv.get("IsisCube.Mapping.FirstStandardParallel", "0"),
            "P.SECOND_STANDARD_PARALLEL":
                kv.get("IsisCube.Mapping.SecondStandardParallel", "0"),
        }
        # ISIS3 names: SimpleCylindrical -> SIMPLE_CYLINDRICAL etc.
        proj_u = re.sub(r"(?<!^)(?=[A-Z])", "_", proj).upper()
        synth_kv["P.MAP_PROJECTION_TYPE"] = proj_u
        crs = _pds_srs(synth_kv, "P.", target)

    d = dict(data_path=data_path, skip=skip, layout="bsq",
             width=w, height=h, nbands=nb, dtype=dtype,
             byteorder=order, nodata=nodata, offset=offset,
             scale=scale, geotransform=gt, crs=crs, prefix_bytes=0,
             kv=kv, format=fmt)
    if fmt.lower() == "tile":
        d["tile_w"] = int(_num(kv.get("IsisCube.Core.TileSamples")))
        d["tile_h"] = int(_num(kv.get("IsisCube.Core.TileLines")))
    return d


# ----------------------------------------------------------- scans


def _strided_scan(spark, info, *, tile_px, raster_id, zoom):
    """Strip scan for bsq/bil/bip layouts with line-prefix bytes; short
    reads zero-fill (truncated fixtures)."""
    W, H, nb = info["width"], info["height"], info["nbands"]
    isz = np.dtype(info["dtype"]).itemsize
    layout = info["layout"]
    # the line prefix is folded into `skip` (the reference's ParseImage
    # adds nLinePrefixBytes there), so each stored line is
    # [data][prefix-of-next-line]
    prefix = info["prefix_bytes"]
    if layout == "bip":
        pixel_off, line_off, band_off = isz * nb, prefix + isz * nb * W, isz
    elif layout == "bsq":
        pixel_off, line_off = isz, prefix + isz * W
        band_off = line_off * H
    else:  # bil
        pixel_off, line_off, band_off = isz, prefix + isz * W * nb, isz * W
    data_path = info["data_path"]
    return blockscan.read(
        spark, Layout(data_path, W, H, info["dtype"],
                      tuple(info["skip"] + b * band_off for b in range(nb)),
                      pixel_offset=pixel_off, line_offset=line_off,
                      byteorder=info["byteorder"], zero_fill=True,
                      out_dtype=info["dtype"]),
        raster_id=raster_id or os.path.splitext(
            os.path.basename(data_path))[0],
        geotransform=info["geotransform"], tile_px=tile_px, zoom=zoom,
        nodata=float(info["nodata"]), crs=info["crs"])


def read_pds(spark: SparkSession, path: str, *, tile_px: int = 256,
             raster_id: str | None = None, zoom: int = 0,
             sample_shift: float = 0.5, line_shift: float = 0.5,
             sample_mult: float = -1.0, line_mult: float = 1.0
             ) -> DataFrame:
    info = parse_pds(path, sample_shift=sample_shift,
                     line_shift=line_shift, sample_mult=sample_mult,
                     line_mult=line_mult)
    if info["data_path"] != path and os.path.exists(info["data_path"]):
        with open(info["data_path"], "rb") as f:
            magic = f.read(4)
        if magic[:4] in (b"II*\0", b"MM\0*"):
            # detached GeoTIFF image referenced by a PDS label
            # (pdsdataset.cpp ParseCompressedImage delegation) —
            # pixels from the TIFF, georef from the label
            from . import geotiff
            from pyspark.sql import functions as F
            rid = raster_id or os.path.splitext(os.path.basename(path))[0]
            t = geotiff.read_geotiff(spark, info["data_path"],
                                     raster_id=rid)
            gt = info["geotransform"]
            # label georef overrides the TIFF's; the per-tile origin
            # uses the TIFF's own full segment size from the driver-
            # side IFD metadata (KB read, no extra Spark stage)
            tags = geotiff._parse_ifds(info["data_path"])[1][0]

            def tag1(name, default):
                v = tags.get(name, default)
                return int(v[0] if isinstance(v, (list, tuple)) else v)

            if "tile_offsets" in tags:
                tpw, tph = tag1("tile_w", 256), tag1("tile_h", 256)
            else:
                tpw = tag1("width", 256)
                tph = tag1("rows_per_strip", tag1("height", 256))
            return t.withColumn(
                "geotransform",
                F.array(
                    F.lit(gt[0]) + F.col("tile_x") * float(tpw * gt[1]),
                    F.lit(gt[1]), F.lit(0.0),
                    F.lit(gt[3]) + F.col("tile_y") * float(tph * gt[5]),
                    F.lit(0.0), F.lit(gt[5]))
            ).withColumn("crs", F.lit(info["crs"]))
    return _strided_scan(spark, info, tile_px=tile_px,
                         raster_id=raster_id, zoom=zoom)


def read_isis2(spark: SparkSession, path: str, *, tile_px: int = 256,
               raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    info = parse_isis2(path)
    return _strided_scan(spark, info, tile_px=tile_px,
                         raster_id=raster_id, zoom=zoom)


def read_isis3(spark: SparkSession, path: str, *, tile_px: int = 256,
               raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    info = parse_isis3(path)
    fmt = info["format"].lower()
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    if fmt == "geotiff":
        from . import geotiff
        return geotiff.read_geotiff(spark, info["data_path"],
                                    raster_id=rid)
    if fmt != "tile":
        return _strided_scan(spark, info, tile_px=tile_px,
                             raster_id=raster_id, zoom=zoom)

    # Tile format: the ISIS tile IS the output tile (map-only)
    W, H, nb = info["width"], info["height"], info["nbands"]
    tw, th = info["tile_w"], info["tile_h"]
    dtype = info["dtype"]
    isz = np.dtype(dtype).itemsize
    np_dt = np.dtype(dtype).newbyteorder(info["byteorder"])
    skip = info["skip"]
    gt = info["geotransform"]
    nodata, crs = info["nodata"], info["crs"]
    data_path = info["data_path"]
    bpr = (W + tw - 1) // tw
    bpc = (H + th - 1) // th
    tile_bytes = tw * th * isz
    row_stride = tile_bytes * bpr

    rows = []
    for b in range(nb):
        for ty in range(bpc):
            for tx in range(bpr):
                off = skip + (b * bpc + ty) * row_stride + tx * tile_bytes
                rows.append((b, tx, ty, off))
    seg = blockscan.spread(
        spark, rows, "band int, tile_x int, tile_y int, offset long")

    def scan(batches):
        for pdf in batches:
            out = []
            fd = os.open(data_path, os.O_RDONLY)
            for r in pdf.itertuples(index=False):
                raw = os.pread(fd, tile_bytes, int(r.offset))
                if len(raw) < tile_bytes:
                    raw = raw + b"\0" * (tile_bytes - len(raw))
                a = np.frombuffer(raw, np_dt).reshape(th, tw)
                w = min(tw, W - int(r.tile_x) * tw)
                h = min(th, H - int(r.tile_y) * th)
                out.append(tile_row(
                    rid, int(r.band) + 1, int(zoom), int(r.tile_x),
                    int(r.tile_y), a[:h, :w].astype(np.dtype(dtype),
                                                    copy=False),
                    gt, x0=int(r.tile_x) * tw, y0=int(r.tile_y) * th,
                    nodata=float(nodata), crs=crs, dtype=dtype))
            os.close(fd)
            yield pd.DataFrame(out, columns=TILE_COLUMNS)

    return seg.mapInPandas(scan, schema=TILE_SCHEMA)
