"""NITF 2.0 / 2.1 / NSIF 1.0 raster reader (uncompressed).

Reference: gdal/frmts/nitf/ —
  - nitffile.c NITFOpen (:99-360): version from FHDR; header
    length at 354 (394 for NITF 1.x / FSDWNG 999998); segment
    lists walked from HL+6 — IM (6+10 digit sizes), GR, LA, TX,
    DE, RE — each segment's subheader/data laid sequentially after
    the file header; file-header metadata fields at the 2.1 / 2.0
    offsets (:206-271); TREs in the UDHD/XHD areas.
  - nitfimage.c (:139-660): image subheader (version-split
    security block, NROWS/NCOLS at the FSDWNG-adjusted offset 333,
    PVTYPE/IREP/ICAT/ABPP, ICORDS + 60-char IGEOLO in G/C dms,
    D decimal, N/S UTM zone forms at pixel centers, NICOM
    comments, IC + COMRAT, band list w/ optional LUTs, IMODE +
    block grid, per-IMODE pixel/line/band/block strides (:727-760)
    and the tight panBlockStart layout (:~805): block (x,y) of
    band b at segStart + (x + y*bpr)*blockOffset + b*bandOffset).
  - nitfimage.c NITFReadBLOCKA (:2870): the BLOCKA TRE's
    fixed-width fields exposed as NITF_BLOCKA_*_nn metadata.
  - geotransform = least-squares fit of the four IGEOLO corner
    GCPs at pixel centers (nitfdataset.cpp :1179).

Scope: IC='NC' tightly-packed blocks (the masked 'NM'/compressed
'C*' forms are not decoded); 1-bit images unpack per block.

Spark lowering: the driver parses the KB header/subheader;
executors pread whole blocks in mapInPandas (the NITF block IS the
output tile) — map-only, zero shuffles."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import blockscan
from .synth import TILE_COLUMNS, TILE_SCHEMA, tile_row


def identify(path: str) -> bool:
    with open(path, "rb") as f:
        h = f.read(9)
    return h[:4] in (b"NITF", b"NSIF")


def _f(buf: bytes, off: int, n: int) -> str:
    return buf[off:off + n].decode("latin-1", errors="replace")


def _geoloc(pair: str, icords: str):
    if icords in ("G", "C"):
        lat = float(pair[0:2]) + float(pair[2:4]) / 60 \
            + float(pair[4:6]) / 3600
        if pair[6] in "sS":
            lat = -lat
        lon = float(pair[7:10]) + float(pair[10:12]) / 60 \
            + float(pair[12:14]) / 3600
        if pair[14] in "wW":
            lon = -lon
        return lon, lat
    if icords == "D":
        return float(pair[7:15]), float(pair[0:7])
    if icords in ("N", "S"):
        return float(pair[2:8]), float(pair[8:15])
    return 0.0, 0.0


_TRE_BLOCKA = [("BLOCK_INSTANCE", 2), ("N_GRAY", 5), ("L_LINES", 5),
               ("LAYOVER_ANGLE", 3), ("SHADOW_ANGLE", 3),
               ("_RESERVED1", 16), ("FRLC_LOC", 21), ("LRLC_LOC", 21),
               ("LRFC_LOC", 21), ("FRFC_LOC", 21), ("_RESERVED2", 5)]


def _parse_tres(data: bytes, md: dict):
    p = 0
    inst = 0
    while p + 11 <= len(data):
        tag = data[p:p + 6].decode("latin-1", errors="replace").strip()
        try:
            ln = int(data[p + 6:p + 11])
        except ValueError:
            return
        body = data[p + 11:p + 11 + ln]
        if tag == "BLOCKA":
            inst += 1
            q = 0
            md["NITF_BLOCKA_BLOCK_COUNT"] = f"{inst:02d}"
            for name, w in _TRE_BLOCKA:
                val = body[q:q + w].decode("latin-1",
                                           errors="replace")
                q += w
                if not name.startswith("_"):
                    md[f"NITF_BLOCKA_{name}_{inst:02d}"] = \
                        val.rstrip() if name.endswith("LOC") \
                        else val.strip() or val
        elif tag:
            md[f"TRE_{tag}"] = body.decode("latin-1", errors="replace")
        p += 11 + ln


def parse_nitf(path: str) -> dict:
    with open(path, "rb") as f:
        head = f.read(1 << 20)
    version = _f(head, 0, 9)
    if version[:4] not in ("NITF", "NSIF"):
        raise ValueError(f"NITF: bad FHDR in {path}")
    fsdwng = _f(head, 280, 6)
    hlo = 394 if version.startswith("NITF01.") or \
        fsdwng.startswith("999998") else 354
    header_len = int(_f(head, hlo, 6))

    md = {"NITF_FHDR": version.rstrip()}
    if version in ("NITF02.10", "NSIF01.00"):
        for name, off, n in (("CLEVEL", 9, 2), ("STYPE", 11, 4),
                             ("OSTAID", 15, 10), ("FDT", 25, 14),
                             ("FTITLE", 39, 80), ("FSCLAS", 119, 1),
                             ("ONAME", 300, 24)):
            md[f"NITF_{name}"] = _f(head, off, n).rstrip()
    else:
        for name, off, n in (("CLEVEL", 9, 2), ("STYPE", 11, 4),
                             ("OSTAID", 15, 10), ("FDT", 25, 14),
                             ("FTITLE", 39, 80), ("FSCLAS", 119, 1)):
            md[f"NITF_{name}"] = _f(head, off, n).rstrip()

    # segment lists
    segments = []
    pos = hlo + 6
    next_data = header_len
    for typ, hsz, dsz in (("IM", 6, 10), ("GR", 4, 6), ("LA", 4, 3),
                          ("TX", 4, 5), ("DE", 4, 9), ("RE", 4, 7)):
        count = int(_f(head, pos, 3) or 0)
        pos += 3
        for i in range(count):
            sh = int(_f(head, pos, hsz))
            sd = int(_f(head, pos + hsz, dsz))
            pos += hsz + dsz
            segments.append(dict(type=typ, hstart=next_data, hsize=sh,
                                 dstart=next_data + sh, dsize=sd))
            next_data += sh + sd
    # file-header TREs (UDHD + XHD)
    try:
        udhdl = int(_f(head, pos, 5) or 0)
        if udhdl > 0:
            _parse_tres(head[pos + 5 + 3:pos + 5 + udhdl], md)
            pos += 5 + udhdl
        else:
            pos += 5
        xhdl = int(_f(head, pos, 5) or 0)
        if xhdl > 0:
            _parse_tres(head[pos + 5 + 3:pos + 5 + xhdl], md)
    except ValueError:
        pass

    images = []
    with open(path, "rb") as f:
        for seg in segments:
            if seg["type"] != "IM":
                continue
            f.seek(seg["hstart"])
            h = f.read(seg["hsize"])
            img = dict(md={}, seg=seg)
            img["md"]["NITF_IID1"] = _f(h, 2, 10).rstrip()
            img["md"]["NITF_IDATIM"] = _f(h, 12, 14).rstrip()
            off = 333
            if version.startswith("NITF01.") or \
                    _f(h, 284, 6).startswith("999998"):
                off += 40
            img["rows"] = int(_f(h, off, 8))
            img["cols"] = int(_f(h, off + 8, 8))
            img["pvtype"] = _f(h, off + 16, 3).strip()
            img["irep"] = _f(h, off + 19, 8).strip()
            img["abpp"] = int(_f(h, off + 35, 2) or 0)
            off += 38
            icords = h[off:off + 1].decode("latin-1")
            off += 1
            if version.startswith(("NITF02.0", "NITF01.")) and \
                    icords == "N":
                icords = " "
            img["icords"] = icords
            corners = None
            if icords != " ":
                igeolo = _f(h, off, 60)
                corners = [_geoloc(igeolo[i * 15:(i + 1) * 15], icords)
                           for i in range(4)]
                off += 60
            img["corners"] = corners
            nicom = int(h[off:off + 1] or b"0")
            off += 1 + 80 * nicom
            img["ic"] = _f(h, off, 2)
            off += 2
            if img["ic"][0] != "N":
                off += 4                       # COMRAT
            nbands = int(h[off:off + 1])
            off += 1
            if nbands == 0:
                nbands = int(_f(h, off, 5))
                off += 5
            img["nbands"] = nbands
            ireps = []
            for b in range(nbands):
                ireps.append(_f(h, off, 2).strip())
                off += 2 + 6 + 4
                nluts = int(h[off:off + 1] or b"0")
                off += 1
                if nluts:
                    nent = int(_f(h, off, 5))
                    off += 5 + nluts * nent
            img["irepband"] = ireps
            if off + 40 > len(h):
                img.update(imode="B", bpr=1, bpc=1,
                           bw=img["cols"], bh=img["rows"],
                           nbps=img["abpp"])
            else:
                img["imode"] = h[off + 1:off + 2].decode("latin-1")
                img["bpr"] = int(_f(h, off + 2, 4))
                img["bpc"] = int(_f(h, off + 6, 4))
                img["bw"] = int(_f(h, off + 10, 4)) or img["cols"]
                img["bh"] = int(_f(h, off + 14, 4)) or img["rows"]
                img["nbps"] = int(_f(h, off + 18, 2))
                off += 20 + 3 + 3 + 10 + 4
            # image TREs: UDIDL then IXSHDL
            try:
                udidl = int(_f(h, off, 5) or 0)
                if udidl > 0:
                    _parse_tres(h[off + 5 + 3:off + 5 + udidl],
                                img["md"])
                    off += 5 + udidl
                else:
                    off += 5
                ixshdl = int(_f(h, off, 5) or 0)
                if ixshdl > 0:
                    _parse_tres(h[off + 5 + 3:off + 5 + ixshdl],
                                img["md"])
            except (ValueError, IndexError):
                pass
            images.append(img)
    md.update(images[0]["md"] if images else {})
    return dict(version=version, header_len=header_len,
                metadata=md, images=images, segments=segments)


def _dtype_of(img: dict) -> str:
    bits = img["nbps"]
    pv = img["pvtype"]
    if pv == "R":
        return "float32" if bits <= 32 else "float64"
    if bits <= 8:
        return "int8" if pv == "SI" else "uint8"
    if bits <= 16:
        return "int16" if pv == "SI" else "uint16"
    return "int32" if pv == "SI" else "uint32"


def image_geotransform(img: dict) -> list[float] | None:
    if not img["corners"]:
        return None
    W, H = img["cols"], img["rows"]
    px = [(0.5, 0.5), (W - 0.5, 0.5), (W - 0.5, H - 0.5),
          (0.5, H - 0.5)]
    A = np.array([[1.0, x, y] for x, y in px])
    bx = np.array([c[0] for c in img["corners"]])
    by = np.array([c[1] for c in img["corners"]])
    sx, *_ = np.linalg.lstsq(A, bx, rcond=None)
    sy, *_ = np.linalg.lstsq(A, by, rcond=None)
    return [sx[0], sx[1], sx[2], sy[0], sy[1], sy[2]]


def read_nitf(spark: SparkSession, path: str, *, image: int = 0,
              raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    info = parse_nitf(path)
    img = info["images"][image]
    if img["ic"].strip() not in ("NC", ""):
        raise ValueError(f"NITF: IC={img['ic']!r} not supported "
                         "(uncompressed NC only)")
    W, H, nb = img["cols"], img["rows"], img["nbands"]
    bw, bh = img["bw"], img["bh"]
    bpr, bpc = img["bpr"], img["bpc"]
    imode = img["imode"]
    bits = img["nbps"]
    dtype = _dtype_of(img)
    word = 1 if bits <= 8 else (2 if bits <= 16 else 4)
    seg_start = img["seg"]["dstart"]
    gt = image_geotransform(img) or [0.0, 1.0, 0.0, 0.0, 0.0, 1.0]
    crs = "EPSG:4326" if img["icords"] in ("G", "C", "D") else ""
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]

    row_bits = bw * bits
    if imode == "S":
        line_off = row_bits // 8
        block_off = line_off * bh
        band_off = block_off * bpr * bpc
        pix_step = word
    elif imode == "P":
        line_off = (bw * bits * nb) // 8
        block_off = line_off * bh
        band_off = word
        pix_step = word * nb
    elif imode == "R":
        band_line = row_bits // 8
        line_off = band_line * nb
        block_off = line_off * bh
        band_off = band_line
        pix_step = word
    else:  # B
        line_off = row_bits // 8
        band_off = bh * line_off
        block_off = band_off * nb
        pix_step = word

    rows = []
    for by_ in range(bpc):
        for bx_ in range(bpr):
            for b in range(nb):
                start = seg_start + (bx_ + by_ * bpr) * block_off \
                    + b * band_off
                rows.append((b, bx_, by_, start))
    seg = blockscan.spread(
        spark, rows, "band int, bx int, by int, offset long")
    np_dt = np.dtype(dtype).newbyteorder(">")

    def scan(batches):
        for pdf in batches:
            out = []
            fd = os.open(path, os.O_RDONLY)
            for r in pdf.itertuples(index=False):
                if bits == 1:
                    nbytes = (bw * bh + 7) // 8
                    raw = os.pread(fd, nbytes, int(r.offset))
                    raw = raw.ljust(nbytes, b"\0")
                    a = np.unpackbits(np.frombuffer(raw, np.uint8))[
                        :bw * bh].reshape(bh, bw).astype(np.uint8)
                else:
                    want = bh * line_off if imode != "S" else \
                        bh * line_off
                    # read the block rows honoring the line stride
                    raw = os.pread(fd, (bh - 1) * line_off
                                   + bw * pix_step, int(r.offset))
                    need = (bh - 1) * line_off + bw * pix_step
                    raw = raw.ljust(need, b"\0")
                    buf = np.frombuffer(raw[:need], np.uint8)
                    view = np.lib.stride_tricks.as_strided(
                        buf, shape=(bh, bw, word),
                        strides=(line_off, pix_step, 1))
                    a = np.ascontiguousarray(view).reshape(
                        bh, bw * word).view(np_dt).reshape(bh, bw)
                w = min(bw, W - int(r.bx) * bw)
                h = min(bh, H - int(r.by) * bh)
                t = a[:h, :w].astype(
                    np.dtype(dtype) if bits > 1 else np.uint8, copy=False)
                out.append(tile_row(
                    rid, int(r.band) + 1, int(zoom), int(r.bx), int(r.by),
                    t, gt, x0=int(r.bx) * bw, y0=int(r.by) * bh, crs=crs))
            os.close(fd)
            yield pd.DataFrame(out, columns=TILE_COLUMNS)

    return seg.mapInPandas(scan, schema=TILE_SCHEMA)
