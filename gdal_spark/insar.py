"""InSAR stack drivers: ROI_PAC (.rsc sidecars) and ISCE (.xml).

Reference:
  - gdal/frmts/raw/roipacdataset.cpp — `KEY  VALUE` .rsc beside the
    data file; the EXTENSION picks the layout (:278-344): .raw CInt8,
    .int/.slc CFloat32, .unw/.cor/.hgt two-band Float32 "RMG" BIL
    (band 2 line follows band 1 line), .dem Int16, .flg Byte;
    X_FIRST/X_STEP/Y_FIRST/Y_STEP map STRAIGHT into the
    geotransform (:415-432, no half-pixel shift); Z_SCALE/Z_OFFSET
    are band scale metadata, not applied to pixels.
  - gdal/frmts/raw/iscedataset.cpp — flattened `<property name=X>
    <value>` pairs: WIDTH/LENGTH/NUMBER_BANDS/DATA_TYPE (ISCE name
    map BYTE/SHORT/INT/FLOAT/DOUBLE/CFLOAT... :35-47)/SCHEME
    (BIL/BIP/BSQ)/BYTE_ORDER ('l'/'b'); the pixel file is the .xml
    path minus its extension.

Spark lowering: both are fixed-stride raw layouts read by the shared
block scan (blockscan) with per-band line origins.  Map-only.
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from . import blockscan
from .blockscan import Layout

_ROIPAC_EXT = {
    # ext -> (numpy dtype, bands, rmg_bil)
    "int": ("c8", 1, False), "slc": ("c8", 1, False),
    "unw": ("f4", 2, True), "cor": ("f4", 2, True),
    "hgt": ("f4", 2, True), "msk": ("f4", 2, True),
    "dem": ("i2", 1, False), "flg": ("u1", 1, False),
}


def parse_roipac(path: str) -> dict:
    rsc = path + ".rsc"
    kv = {}
    with open(rsc, "r", encoding="utf-8", errors="replace") as f:
        for ln in f:
            toks = ln.split(None, 1)
            if len(toks) == 2:
                kv[toks[0].upper()] = toks[1].strip()
    ext = os.path.splitext(path)[1].lstrip(".").lower()
    if ext not in _ROIPAC_EXT:
        raise ValueError(f"ROI_PAC extension .{ext} not supported")
    dtype, nbands, rmg = _ROIPAC_EXT[ext]
    W = int(kv["WIDTH"])
    H = int(kv["FILE_LENGTH"])
    gt = [0.0, 1.0, 0.0, 0.0, 0.0, 1.0]
    if "X_FIRST" in kv and "Y_FIRST" in kv:
        gt = [float(kv["X_FIRST"]), float(kv["X_STEP"]), 0.0,
              float(kv["Y_FIRST"]), 0.0, float(kv["Y_STEP"])]
    return dict(width=W, height=H, dtype=dtype, nbands=nbands,
                rmg=rmg, geotransform=gt,
                z_scale=float(kv.get("Z_SCALE", "1")),
                z_offset=float(kv.get("Z_OFFSET", "0")))


def read_roipac(spark: SparkSession, path: str, *, tile_px: int = 256,
                raster_id: str | None = None,
                zoom: int = 0) -> DataFrame:
    h = parse_roipac(path)
    W = h["width"]
    isz = np.dtype(h["dtype"]).itemsize
    # RMG: a line holds band 1's samples, then band 2's
    return blockscan.read(
        spark, Layout(path, W, h["height"], h["dtype"],
                      tuple(b * W * isz for b in range(h["nbands"])),
                      line_offset=(2 * W * isz) if h["rmg"] else (W * isz)),
        raster_id=raster_id or os.path.basename(path),
        geotransform=h["geotransform"], tile_px=tile_px, zoom=zoom)


_ISCE_TYPES = {"BYTE": "u1", "CHAR": "u1", "SHORT": "i2",
               "INT": "i4", "LONG": "i8", "FLOAT": "f4",
               "DOUBLE": "f8", "CSHORT": None, "CINT": None,
               "CFLOAT": "c8", "CDOUBLE": "c16"}


def parse_isce(path: str) -> dict:
    xml_path = path if path.endswith(".xml") else path + ".xml"
    kv = {}
    root = ET.parse(xml_path).getroot()
    for prop in root.iter("property"):
        name = prop.get("name", "")
        val = prop.find("value")
        if val is not None and val.text is not None:
            kv.setdefault(name.upper(), val.text.strip())
    dt = _ISCE_TYPES.get(kv.get("DATA_TYPE", "").upper())
    if dt is None:
        raise ValueError(f"ISCE DATA_TYPE {kv.get('DATA_TYPE')!r}")
    bo = ">" if kv.get("BYTE_ORDER", "l").lower().startswith("b") \
        else "<"
    return dict(width=int(kv["WIDTH"]), height=int(kv["LENGTH"]),
                nbands=int(kv.get("NUMBER_BANDS", "1")), dtype=dt,
                scheme=kv.get("SCHEME", "BIL").upper(),
                byteorder=bo,
                data=os.path.splitext(xml_path)[0])


def read_isce(spark: SparkSession, path: str, *, tile_px: int = 256,
              raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    h = parse_isce(path)
    W, H, NB = h["width"], h["height"], h["nbands"]
    dt = np.dtype(h["dtype"]).newbyteorder(h["byteorder"])
    isz = dt.itemsize
    scheme = h["scheme"]
    if scheme == "BSQ":
        offs, pix, line = [b * W * H * isz for b in range(NB)], isz, W * isz
    elif scheme == "BIL":
        offs, pix, line = [b * W * isz for b in range(NB)], isz, W * NB * isz
    else:  # BIP
        offs, pix, line = [b * isz for b in range(NB)], NB * isz, W * NB * isz
    # multi-band BIP keeps the stored byte order in its tiles and
    # zero-fills past EOF (the ehdr raw contract)
    bip = scheme not in ("BSQ", "BIL") and NB > 1
    return blockscan.read(
        spark, Layout(h["data"], W, H, str(dt), tuple(offs),
                      pixel_offset=pix, line_offset=line, zero_fill=bip,
                      out_dtype=str(dt.base) if bip else None),
        raster_id=raster_id or os.path.basename(h["data"]),
        geotransform=[0, 1, 0, 0, 0, 1], tile_px=tile_px, zoom=zoom)
