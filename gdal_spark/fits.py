"""FITS (Flexible Image Transport System) raster driver.

Reference: gdal/frmts/fits/fitsdataset.cpp —
  - header = 2880-byte blocks of 80-char ASCII cards, `END` card
    terminates; image data starts at the next 2880 boundary,
    big-endian BSQ, FITS row 1 at the BOTTOM (IReadBlock :~200
    reads file row `nRasterYSize-1-nBlockYOff`).
  - dtype from BITPIX (Init :2030-2110): 8→uint8, 16→int16 (uint16
    when BZERO==32768 — cfitsio's TUSHORT promotion: physical =
    raw + 32768), 32→int32 (uint32 when BZERO==2^31), -32→float32,
    -64→float64.  NAXIS 2 → 1 band, NAXIS 3 → NAXIS3 bands.
  - BLANK → nodata (:2091); BSCALE/BZERO (non-promotion case) →
    band offset/scale metadata (LoadFITSInfo :3529-3555), data
    returned raw.
  - multi-HDU files: exactly one image HDU → open it directly and
    merge primary-HDU keywords under the image HDU's
    (LoadMetadata :2166, ignore-list :1843); several image HDUs →
    a metadata-only dataset listing `FITS:"path":n` subdatasets
    (autotest/gdrivers/fits.py::test_fits_read_image_in_first_and_
    second_hdu).
  - georef (LoadGeoreferencing :3318): OBJECT + A_RADIUS/C_RADIUS
    spheroid, CTYPE1 ~ '..LN-PPP' WCS with CRPIX/CRVAL + CDELT*PC
    or CD matrix; gt = cd * DEG2RAD * A_RADIUS with the 0.5-pixel
    center->corner shift; projection families SFL/MER/CAR/ZEA/COO/
    SIN/STG map to their GDAL names.

Spark lowering: the KB header parses driver-side into strip
descriptors; executors pread row strips (map-only, zero shuffles)
— the bottom-up order is a per-strip `flipud` on a contiguous
range.  The sink writes the header driver-side and pwrites
big-endian bottom-up strips in parallel.
"""

from __future__ import annotations

import math
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from . import blockscan
from .blockscan import Layout

_BLOCK = 2880
_CARD = 80

# keywords never surfaced as dataset metadata (fitsdataset.cpp :1843)
_IGNORE = {
    "SIMPLE", "BITPIX", "NAXIS", "NAXIS1", "NAXIS2", "NAXIS3", "END",
    "XTENSION", "PCOUNT", "GCOUNT", "EXTEND", "CONTINUE",
    "COMMENT", "", "LONGSTRN", "BZERO", "BSCALE", "BLANK",
    "CHECKSUM", "DATASUM",
}

_BITPIX_DTYPE = {8: "uint8", 16: "int16", 32: "int32",
                 -32: "float32", -64: "float64"}
_DTYPE_BITPIX = {"uint8": 8, "int16": 16, "uint16": 16,
                 "int32": 32, "uint32": 32,
                 "float32": -32, "float64": -64}


def _parse_value(raw: str):
    """One card's value field: quoted string ('' escapes a quote,
    trailing pad inside the quotes preserved — cfitsio returns
    'BAZ     ' verbatim), logical T/F, else numeric."""
    s = raw.strip()
    if s.startswith("'"):
        out, i = [], 1
        while i < len(s):
            if s[i] == "'":
                if i + 1 < len(s) and s[i + 1] == "'":
                    out.append("'")
                    i += 2
                    continue
                break
            out.append(s[i])
            i += 1
        return "".join(out)
    if s in ("T", "F"):
        return s == "T"
    try:
        return int(s)
    except ValueError:
        pass
    try:
        return float(s)
    except ValueError:
        return s


def _read_header(f) -> dict | None:
    """Parse one HDU header starting at the current file offset;
    returns {'cards': {k: v}, 'data_offset', 'data_bytes',
    'next_offset'} or None at EOF."""
    start = f.tell()
    cards = {}
    ended = False
    while not ended:
        block = f.read(_BLOCK)
        if len(block) < _BLOCK:
            if start == f.tell() - len(block) and not block:
                return None
            if not cards:
                return None
            break
        for i in range(0, _BLOCK, _CARD):
            card = block[i:i + _CARD].decode("ascii", errors="replace")
            key = card[:8].strip()
            if key == "END":
                ended = True
                break
            if card[8:10] != "= ":
                continue
            body = card[10:]
            # strip inline comment (outside quotes)
            if body.lstrip().startswith("'"):
                j = body.find("'")
                k = j + 1
                while k < len(body):
                    if body[k] == "'":
                        if k + 1 < len(body) and body[k + 1] == "'":
                            k += 2
                            continue
                        break
                    k += 1
                val = body[:k + 1]
            else:
                val = body.split("/", 1)[0]
            cards[key] = _parse_value(val)
    data_offset = f.tell()
    bitpix = int(cards.get("BITPIX", 8))
    naxis = int(cards.get("NAXIS", 0))
    nelem = 1
    for ax in range(1, naxis + 1):
        nelem *= int(cards.get(f"NAXIS{ax}", 0))
    data_bytes = 0 if naxis == 0 else abs(bitpix) // 8 * nelem
    # PCOUNT extends the data area for random-groups/bintable HDUs
    data_bytes += abs(bitpix) // 8 * int(cards.get("PCOUNT", 0)) \
        * int(cards.get("GCOUNT", 1) if naxis else 1)
    padded = math.ceil(data_bytes / _BLOCK) * _BLOCK
    return {"cards": cards, "data_offset": data_offset,
            "data_bytes": data_bytes, "next_offset": data_offset + padded}


def scan_hdus(path: str) -> list[dict]:
    """Walk every HDU in the file (driver-side, KB of header I/O)."""
    hdus = []
    with open(path, "rb") as f:
        while True:
            h = _read_header(f)
            if h is None:
                break
            hdus.append(h)
            f.seek(h["next_offset"])
    return hdus


def identify(path: str) -> bool:
    with open(path, "rb") as f:
        return f.read(30) == b"SIMPLE  =                    T"


def _is_image(h: dict) -> bool:
    c = h["cards"]
    if "XTENSION" in c and str(c["XTENSION"]).strip() != "IMAGE":
        return False
    return int(c.get("NAXIS", 0)) >= 2 and h["data_bytes"] > 0


def fits_subdatasets(path: str) -> list[tuple[str, str]]:
    """`FITS:"path":n` subdataset listing for multi-image files
    (fitsdataset.cpp Open; names mirror the reference's)."""
    out = []
    for n, h in enumerate(scan_hdus(path), start=1):
        if not _is_image(h):
            continue
        c = h["cards"]
        w, hgt = int(c["NAXIS1"]), int(c["NAXIS2"])
        nb = int(c.get("NAXIS3", 1)) if int(c["NAXIS"]) >= 3 else 1
        desc = f"HDU {n} ({w}x{hgt}, {nb} band{'s' if nb > 1 else ''})"
        ext = c.get("EXTNAME")
        if ext:
            desc += f", {str(ext).strip()}"
        out.append((f'FITS:"{path}":{n}', desc))
    return out


def fits_metadata(path: str, hdu: int | None = None) -> dict:
    """Dataset metadata: primary-HDU cards merged under the selected
    image HDU's (LoadMetadata :2166 runs on both, image last)."""
    hdus = scan_hdus(path)

    def take(cards):
        out = {}
        for k, v in cards.items():
            if k in _IGNORE or k.startswith("NAXIS"):
                continue
            out[k] = v if isinstance(v, str) else (
                "T" if v is True else "F" if v is False else repr(v))
        return out

    if hdu is not None:
        # explicit `FITS:"path":n` open: that HDU's cards only
        return take(hdus[hdu - 1]["cards"])
    images = [i for i, h in enumerate(hdus) if _is_image(h)]
    sel = images[0] + 1 if len(images) == 1 else 1
    md = take(hdus[0]["cards"])
    if sel > 1:
        md.update(take(hdus[sel - 1]["cards"]))
    return md


class FitsInfo:
    """Parsed driver-side view of one image HDU."""

    def __init__(self, path: str, hdu: int):
        hdus = scan_hdus(path)
        if hdu < 1 or hdu > len(hdus):
            raise ValueError(f"FITS: no HDU {hdu} in {path}")
        h = hdus[hdu - 1]
        if not _is_image(h):
            raise ValueError(f"FITS: HDU {hdu} is not an image")
        c = h["cards"]
        self.path, self.hdu = path, hdu
        self.width = int(c["NAXIS1"])
        self.height = int(c["NAXIS2"])
        self.nbands = int(c.get("NAXIS3", 1)) if int(c["NAXIS"]) >= 3 else 1
        bitpix = int(c["BITPIX"])
        bzero = float(c.get("BZERO", 0.0))
        dtype = _BITPIX_DTYPE.get(bitpix)
        if dtype is None:
            raise ValueError(f"FITS: unknown BITPIX {bitpix}")
        self.promote = 0
        if bitpix == 16 and bzero == 32768.0:
            dtype, self.promote = "uint16", 32768
        elif bitpix == 32 and bzero == 2147483648.0:
            dtype, self.promote = "uint32", 2147483648
        self.dtype = dtype
        self.raw_dtype = _BITPIX_DTYPE[bitpix]
        self.data_offset = h["data_offset"]
        self.nodata = float(c["BLANK"]) if "BLANK" in c else None
        self.scale = float(c.get("BSCALE", 1.0)) if not self.promote else 1.0
        self.offset = float(c.get("BZERO", 0.0)) if not self.promote else 0.0
        self.cards = c
        self.geotransform, self.crs = _load_georef(c)


_FITS_PROJ = {
    "SFL": "Sinusoidal", "MER": "Mercator", "CAR": "Equirectangular",
    "ZEA": "Lambert_Azimuthal_Equal_Area",
    "COO": "Lambert_Conformal_Conic_1SP", "SIN": "Orthographic",
    "STG": "Polar_Stereographic",
}

_PROJ_WKT = {
    "MER": ('PROJECTION["Mercator_1SP"],PARAMETER["central_meridian",'
            '{lon:.15g}],PARAMETER["scale_factor",1],'
            'PARAMETER["false_easting",0],PARAMETER["false_northing",0]'),
    "SFL": ('PROJECTION["Sinusoidal"],PARAMETER["longitude_of_center",'
            '{lon:.15g}],PARAMETER["false_easting",0],'
            'PARAMETER["false_northing",0]'),
    "CAR": ('PROJECTION["Equirectangular"],PARAMETER["standard_parallel_1",'
            '{lat:.15g}],PARAMETER["central_meridian",{lon:.15g}],'
            'PARAMETER["false_easting",0],PARAMETER["false_northing",0]'),
    "ZEA": ('PROJECTION["Lambert_Azimuthal_Equal_Area"],'
            'PARAMETER["latitude_of_center",{lat:.15g}],'
            'PARAMETER["longitude_of_center",{lon:.15g}],'
            'PARAMETER["false_easting",0],PARAMETER["false_northing",0]'),
    "COO": ('PROJECTION["Lambert_Conformal_Conic_1SP"],'
            'PARAMETER["latitude_of_origin",{lat:.15g}],'
            'PARAMETER["central_meridian",{lon:.15g}],'
            'PARAMETER["scale_factor",1],PARAMETER["false_easting",0],'
            'PARAMETER["false_northing",0]'),
    "SIN": ('PROJECTION["Orthographic"],'
            'PARAMETER["latitude_of_origin",{lat:.15g}],'
            'PARAMETER["central_meridian",{lon:.15g}],'
            'PARAMETER["false_easting",0],PARAMETER["false_northing",0]'),
    "STG": ('PROJECTION["Polar_Stereographic"],'
            'PARAMETER["latitude_of_origin",{lat:.15g}],'
            'PARAMETER["central_meridian",{lon:.15g}],'
            'PARAMETER["scale_factor",1],PARAMETER["false_easting",0],'
            'PARAMETER["false_northing",0]'),
}


def _load_georef(c: dict):
    """LoadGeoreferencing (:3318) restated: WKT assembled the way
    OSR exports the SetGeogCS/Set<proj> calls the reference makes."""
    gt = None
    crs = ""
    target = str(c.get("OBJECT", "Undefined")).strip() or "Undefined"
    if "A_RADIUS" not in c:
        return gt, crs
    a = float(c["A_RADIUS"])
    cr = float(c.get("C_RADIUS", a))
    inv_f = a / (a - cr) if a != cr else 0.0
    ctype1 = str(c.get("CTYPE1", ""))
    if "LN" not in ctype1:
        return gt, crs
    try:
        crpix1, crpix2 = float(c["CRPIX1"]), float(c["CRPIX2"])
        crval1, crval2 = float(c["CRVAL1"]), float(c["CRVAL2"])
    except KeyError:
        return gt, crs
    if "CDELT1" in c and "PC1_1" in c:
        cd = [float(c["CDELT1"]) * float(c["PC1_1"]),
              float(c["CDELT1"]) * float(c["PC1_2"]),
              float(c["CDELT2"]) * float(c["PC2_1"]),
              float(c["CDELT2"]) * float(c["PC2_2"])]
    elif "CD1_1" in c:
        cd = [float(c["CD1_1"]), float(c["CD1_2"]),
              float(c["CD2_1"]), float(c["CD2_2"])]
    else:
        return gt, crs
    radfac = math.radians(1.0) * a
    g1 = cd[0] * radfac
    g2 = cd[1] * radfac
    g4 = cd[2] * radfac
    g5 = -cd[3] * radfac
    if crval1 > 180.0:
        crval1 -= 180.0
    gt = [crval1 * radfac - g1 * (crpix1 - 0.5), g1, g2,
          -g5 * (crpix2 - 0.5), g4, g5]
    code = ctype1.rsplit("-", 1)[-1]
    proj = _FITS_PROJ.get(code)
    if proj:
        inv_s = f"{inv_f:.15g}" if inv_f else "0"
        geog = (f'GEOGCS["GCS_{target}",DATUM["D_{target}",'
                f'SPHEROID["{target}",{a:.15g},{inv_s}]],'
                f'PRIMEM["Reference_Meridian",0],'
                f'UNIT["degree",0.0174532925199433,'
                f'AUTHORITY["EPSG","9122"]]]')
        body = _PROJ_WKT[code].format(lon=crval1, lat=crval2)
        crs = (f'PROJCS["{proj}_{target}",{geog},{body},'
               f'UNIT["metre",1,AUTHORITY["EPSG","9001"]],'
               f'AXIS["Easting",EAST],AXIS["Northing",NORTH]]')
    return gt, crs


def read_fits(spark: SparkSession, path: str, *, hdu: int | None = None,
              tile_px: int = 256, raster_id: str | None = None,
              zoom: int = 0) -> DataFrame:
    """Map-only tiled scan of one image HDU (the single-image default
    mirrors the reference's Open). Bottom-up rows: the strip for gdal
    rows [y0, y0+h) is the contiguous file range of FITS rows
    [H-y0-h, H-y0), flipped per strip."""
    if hdu is None:
        hdus = scan_hdus(path)
        images = [i + 1 for i, h in enumerate(hdus) if _is_image(h)]
        if len(images) != 1:
            raise ValueError(
                f"FITS: {len(images)} image HDUs in {path}; pass hdu= "
                f"(subdatasets: {fits_subdatasets(path)})")
        hdu = images[0]
    info = FitsInfo(path, hdu)
    W, H = info.width, info.height
    isz = np.dtype(info.raw_dtype).itemsize
    gt = info.geotransform or [0.0, 1.0, 0.0, 0.0, 0.0, 1.0]
    promote = info.promote
    decode = None
    if promote:
        def decode(planes, strip):
            return [(b, v.astype(np.int64) + promote) for b, v in planes]

    return blockscan.read(
        spark, Layout(path, W, H, info.raw_dtype,
                      tuple(info.data_offset + b * H * W * isz
                            for b in range(info.nbands)),
                      byteorder=">", bottom_up=True, out_dtype=info.dtype,
                      decode=decode),
        raster_id=raster_id or os.path.splitext(os.path.basename(path))[0],
        geotransform=(gt[0], gt[1], 0.0, gt[3], 0.0, gt[5]),  # no rotation
        tile_px=tile_px, zoom=zoom,
        nodata=float("nan") if info.nodata is None else float(info.nodata),
        crs=info.crs)


def _card(key: str, value, comment: str = "") -> bytes:
    if isinstance(value, bool):
        v = f"{'T' if value else 'F':>20}"
    elif isinstance(value, str):
        v = f"'{value:<8}'"
        v = f"{v:<20}"
    elif isinstance(value, int):
        v = f"{value:>20}"
    else:
        v = f"{value!r:>20}"
    s = f"{key:<8}= {v}"
    if comment:
        s += f" / {comment}"
    return s[:_CARD].ljust(_CARD).encode("ascii")


def write_fits(tiles: DataFrame, path: str, *, tile_px: int = 256) -> dict:
    """FITS sink: header cards driver-side, then parallel pwrite of
    big-endian bottom-up strips (Create + IWriteBlock restated; the
    unsigned types take the cfitsio BZERO promotion in reverse)."""
    from .ehdr import _collect_meta

    m = _collect_meta(tiles)
    H, W = int(m.img_h), int(m.img_w)
    nb, dtype = int(m.nbands), str(m.dtype)
    bitpix = _DTYPE_BITPIX.get(dtype)
    if bitpix is None:
        raise ValueError(f"FITS: dtype {dtype} unsupported")
    promote = {"uint16": 32768, "uint32": 2147483648}.get(dtype, 0)
    raw_dtype = np.dtype(_BITPIX_DTYPE[bitpix]).newbyteorder(">")
    isz = raw_dtype.itemsize

    cards = [_card("SIMPLE", True, "file does conform to FITS standard"),
             _card("BITPIX", bitpix, "number of bits per data pixel"),
             _card("NAXIS", 2 if nb == 1 else 3, "number of data axes"),
             _card("NAXIS1", W), _card("NAXIS2", H)]
    if nb > 1:
        cards.append(_card("NAXIS3", nb))
    if promote:
        cards.append(_card("BZERO", float(promote)))
        cards.append(_card("BSCALE", 1.0))
    nod = m.nodata
    if nod is not None and not (isinstance(nod, float) and np.isnan(nod)):
        cards.append(_card("BLANK", float(nod)))
    cards.append(b"END".ljust(_CARD))
    header = b"".join(cards)
    header += b" " * (-len(header) % _BLOCK)
    data_bytes = H * W * nb * isz
    total = len(header) + data_bytes + (-data_bytes % _BLOCK)
    with open(path, "wb") as f:
        f.write(header)
        f.truncate(total)
    base = len(header)

    def write_part(rows):
        with open(path, "r+b") as f:
            fd = f.fileno()
            for r in rows:
                arr = np.frombuffer(bytes(r["data"]),
                                    dtype=np.dtype(r["dtype"]))
                h, w = int(r["height"]), int(r["width"])
                arr = arr.reshape(h, w)
                if promote:
                    arr = (arr.astype(np.int64) - promote)
                arr = arr.astype(raw_dtype)
                b = int(r["band"]) - 1
                gy0 = int(r["tile_y"]) * tile_px
                gx0 = int(r["tile_x"]) * tile_px
                for i in range(h):
                    frow = H - 1 - (gy0 + i)
                    off = base + ((b * H + frow) * W + gx0) * isz
                    os.pwrite(fd, arr[i].tobytes(), off)

    tiles.foreachPartition(write_part)
    return {"path": path, "width": W, "height": H, "bands": nb,
            "bitpix": bitpix}
