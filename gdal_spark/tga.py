"""TGA/TARGA raster driver.

Reference: gdal/frmts/tga/tgadataset.cpp —
  - 18-byte little-endian header: id-length, colormap-type,
    image-type (1/2/3 uncompressed colormap/truecolor/grayscale,
    +8 = RLE), colormap spec (first idx u16, length u16, entry
    bits u8), origin/size u16s, pixel depth u8, image descriptor
    u8 (bit 5 set = top-left origin, else rows are bottom-up:
    IReadBlock :274 `nLine = H-1-y`).
  - bands (Open :618-655): grayscale/colormap → 1 band (uint16
    when depth 16); truecolor 16 → 3 bands of `((v>>(5*(3-b)))&31)
    <<3`; 24 → BGR bytes → R,G,B; 32 → BGRA → 4 bands, the 4th
    alpha unless the footer extension's attribute-type byte says
    undefined (1 → dropped, 2 → kept non-alpha; :589-600).
  - colormap entries 15/16-bit 5-5-5, 24-bit BGR, 32-bit BGRA
    (nodata = the single alpha-0 index, :243-249); palette is NOT
    applied to pixels — band 1 carries the indices.
  - TGA v2 footer ("TRUEVISION-XFILE.\\0" in the last 26 bytes) →
    extension area: AUTHOR_NAME (41 B at +2), COMMENTS (4×81 B at
    +43, '\\n'-joined, space-trimmed), attribute type (+494);
    IMAGE_ID = the post-header ID field (:603-609).
  - RLE (IReadBlock :277-): packets of u8 count | 0x80 (run of one
    pixel) or raw pixel block; packets never span scan lines.

Spark lowering: uncompressed scans are strip-parallel preads of the
shared block scan (blockscan; map-only, zero shuffles); an RLE TGA
is one sequential packet stream with no index, so — exactly like
the GIF LZW stream — the FILE is the parallel unit and a fleet of
files decodes embarrassingly parallel."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import blockscan
from .blockscan import Layout
from .synth import TILE_COLUMNS, TILE_SCHEMA, strip_rows

_FOOTER_SIG = b"TRUEVISION-XFILE.\x00"


def identify(path: str) -> bool:
    """GDALTGADataset::Identify: header sanity + footer signature or
    a .tga extension."""
    with open(path, "rb") as f:
        h = f.read(18)
        if len(h) < 18:
            return False
        cmap_type, img_type = h[1], h[2]
        if cmap_type > 1 or img_type not in (1, 2, 3, 9, 10, 11):
            return False
        if (img_type in (1, 9)) != (cmap_type == 1):
            return False
        f.seek(0, 2)
        size = f.tell()
        if size >= 26:
            f.seek(size - 26)
            if f.read(26)[8:] == _FOOTER_SIG:
                return True
    return path.lower().endswith(".tga")


def parse_tga(path: str) -> dict:
    with open(path, "rb") as f:
        h = f.read(18)
        id_len = h[0]
        has_cmap = h[1] == 1
        img_type = h[2]
        cmap_first = int.from_bytes(h[3:5], "little")
        cmap_len = int.from_bytes(h[5:7], "little")
        cmap_bits = h[7]
        width = int.from_bytes(h[12:14], "little")
        height = int.from_bytes(h[14:16], "little")
        depth = h[16]
        descriptor = h[17]
        image_id = f.read(id_len).decode("latin-1") if id_len else None

        color_table, nodata = None, None
        if has_cmap:
            nb = (cmap_bits + 7) // 8
            raw = f.read(cmap_len * nb)
            color_table = {}
            alpha0 = []
            for i in range(cmap_len):
                if cmap_bits == 24:
                    b, g, r = raw[3 * i:3 * i + 3]
                    e = (r, g, b, 255)
                elif cmap_bits == 32:
                    b, g, r, a = raw[4 * i:4 * i + 4]
                    e = (r, g, b, a)
                    if a == 0:
                        alpha0.append(cmap_first + i)
                else:  # 15/16-bit 5-5-5
                    v = raw[2 * i] | (raw[2 * i + 1] << 8)
                    e = (((v >> 10) & 31) << 3, ((v >> 5) & 31) << 3,
                         ((v >> 0) & 31) << 3, 255)
                color_table[cmap_first + i] = e
            if len(alpha0) == 1:
                nodata = float(alpha0[0])

        data_offset = 18 + id_len + (
            cmap_len * ((cmap_bits + 7) // 8) if has_cmap else 0)

        # footer extension area
        author = comments = None
        attribute_type = None
        f.seek(0, 2)
        size = f.tell()
        if size >= 26:
            f.seek(size - 26)
            tail = f.read(26)
            if tail[8:] == _FOOTER_SIG:
                ext_off = int.from_bytes(tail[:4], "little")
                if ext_off > 0:
                    f.seek(ext_off)
                    ext = f.read(495)
                    if len(ext) == 495 and \
                            int.from_bytes(ext[:2], "little") >= 495:
                        if ext[2] not in (0x20, 0):
                            author = ext[2:42].split(b"\0")[0] \
                                .decode("latin-1").rstrip(" ")
                        if ext[43] not in (0x20, 0):
                            lines = []
                            for i in range(4):
                                seg = ext[43 + 81 * i:43 + 81 * i + 80]
                                if seg[:1] == b"\0":
                                    break
                                lines.append(seg.split(b"\0")[0]
                                             .decode("latin-1").rstrip(" "))
                            comments = "\n".join(lines)
                        attribute_type = ext[494]

        rle = img_type >= 9
        top_origin = bool(descriptor & (1 << 5))
        has_fourth = (descriptor & 15) == 8
        fourth_is_alpha = has_fourth
        if attribute_type == 1:
            has_fourth = False
        elif attribute_type == 2:
            fourth_is_alpha = False

        if img_type in (1, 3, 9, 11):       # colormap / grayscale
            if depth not in (8, 16):
                raise ValueError(f"TGA pixel depth {depth} unsupported")
            nbands, dtype = 1, ("uint16" if depth == 16 else "uint8")
        else:                               # truecolor
            if depth not in (16, 24, 32):
                raise ValueError(f"TGA pixel depth {depth} unsupported")
            nbands = 3 if depth == 16 else 3 + (1 if has_fourth else 0)
            dtype = "uint8"

        md = {}
        if author:
            md["AUTHOR_NAME"] = author
        if comments:
            md["COMMENTS"] = comments
        if image_id:
            md["IMAGE_ID"] = image_id
        return dict(width=width, height=height, depth=depth,
                    nbands=nbands, dtype=dtype, rle=rle,
                    top_origin=top_origin, data_offset=data_offset,
                    color_table=color_table, nodata=nodata,
                    fourth_is_alpha=fourth_is_alpha, metadata=md,
                    img_type=img_type)


def _expand_pixels(buf: np.ndarray, depth: int, nbands: int) -> np.ndarray:
    """(n, bytes-per-pixel) uint8 → (nbands, n) uint8 planes, the
    reference's per-band byte picks / 5-5-5 expansion."""
    if depth == 16:
        v = buf[:, 0].astype(np.uint16) | (buf[:, 1].astype(np.uint16) << 8)
        return np.stack([(((v >> (5 * (3 - b))) & 31) << 3).astype(np.uint8)
                         for b in (1, 2, 3)])
    planes = [buf[:, 2], buf[:, 1], buf[:, 0]]   # BGR -> R,G,B
    if nbands == 4:
        planes.append(buf[:, 3])
    return np.stack(planes[:nbands])


def _decode_rle(data: bytes, npix: int, bpp: int) -> np.ndarray:
    """RLE packet stream → (npix, bpp) uint8 (IReadBlock RLE leg)."""
    out = np.empty((npix, bpp), np.uint8)
    pos = 0
    x = 0
    mv = memoryview(data)
    while x < npix:
        rc = data[pos]
        pos += 1
        n = min(npix - x, (rc & 0x7F) + 1)
        if rc & 0x80:
            px = np.frombuffer(mv[pos:pos + bpp], np.uint8)
            pos += bpp
            out[x:x + n] = px
        else:
            out[x:x + n] = np.frombuffer(
                mv[pos:pos + n * bpp], np.uint8).reshape(n, bpp)
            pos += n * bpp
        x += n
    return out


def read_tga(spark: SparkSession, path: str, *, tile_px: int = 256,
             raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    info = parse_tga(path)
    W, H = info["width"], info["height"]
    nb, depth = info["nbands"], info["depth"]
    dtype = info["dtype"]
    bpp = 2 if (nb == 1 and depth == 16) else depth // 8
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    nodata = info["nodata"]
    nodata = float("nan") if nodata is None else float(nodata)
    top = info["top_origin"]
    rle = info["rle"]
    base = info["data_offset"]
    gt = [0.0, 1.0, 0.0, 0.0, 0.0, 1.0]

    if rle:
        # no scanline index exists: the file is the parallel unit
        seg = spark.createDataFrame([(0,)], "seg int").coalesce(1)

        def scan_rle(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                with open(path, "rb") as f:
                    f.seek(base)
                    data = f.read()
                buf = _decode_rle(data, W * H, bpp)
                if nb == 1:
                    if depth == 16:
                        plane = (buf[:, 0].astype(np.uint16)
                                 | (buf[:, 1].astype(np.uint16) << 8))
                        planes = plane.reshape(1, H, W)
                    else:
                        planes = buf.reshape(1, H, W)
                else:
                    planes = _expand_pixels(buf, depth, nb) \
                        .reshape(nb, H, W)
                if not top:
                    planes = planes[:, ::-1, :]
                out = [row for b in range(nb)
                       for ty, y0 in enumerate(range(0, H, tile_px))
                       for row in strip_rows(
                           rid, b + 1, int(zoom), ty,
                           planes[b, y0:y0 + tile_px], gt, tile_px, y0=y0,
                           nodata=nodata, dtype=dtype)]
                yield pd.DataFrame(out, columns=TILE_COLUMNS)

        return seg.mapInPandas(scan_rle, schema=TILE_SCHEMA)

    decode = None
    if nb == 1:                   # gray/indexed: one 8/16-bit sample
        offs, dt = (0,), ("<u2" if bpp == 2 else "u1")
    elif depth == 16:             # 5-5-5 truecolor
        offs, dt = (0,), "<u2"

        def decode(planes, strip):
            v = planes[0][1]
            return [(b, (((v >> (5 * (3 - b))) & 31) << 3).astype(np.uint8))
                    for b in (1, 2, 3)]
    else:                         # stored B,G,R(,A) bytes
        offs, dt = (2, 1, 0, 3)[:nb], "u1"
    return blockscan.read(
        spark, Layout(path, W, H, dt, tuple(base + o for o in offs),
                      pixel_offset=bpp, bottom_up=not top, out_dtype=dtype,
                      decode=decode),
        raster_id=rid, geotransform=gt, tile_px=tile_px, zoom=zoom,
        nodata=nodata)


def write_tga(tiles: DataFrame, path: str, *, tile_px: int = 256) -> dict:
    """Uncompressed TGA sink (engine-side convenience; the reference
    driver is read-only). 1 band -> type-3 grayscale, 3 bands ->
    type-2 truecolor BGR; rows stored bottom-up (descriptor bit 5
    clear, the common TARGA layout), strips pwrite in parallel."""
    from .ehdr import _collect_meta

    m = _collect_meta(tiles)
    H, W = int(m.img_h), int(m.img_w)
    nb = int(m.nbands)
    if str(m.dtype) != "uint8" or nb not in (1, 3):
        raise ValueError("TGA sink: uint8, 1 or 3 bands")
    depth = 8 if nb == 1 else 24
    img_type = 3 if nb == 1 else 2
    hdr = bytes([0, 0, img_type]) + b"\0" * 5 + \
        (0).to_bytes(2, "little") * 2 + \
        W.to_bytes(2, "little") + H.to_bytes(2, "little") + \
        bytes([depth, 0])
    bpp = depth // 8
    with open(path, "wb") as f:
        f.write(hdr)
        f.truncate(18 + H * W * bpp)

    if nb == 1:
        def write_part(rows):
            with open(path, "r+b") as f:
                fd = f.fileno()
                for r in rows:
                    arr = np.frombuffer(bytes(r["data"]), np.uint8) \
                        .reshape(int(r["height"]), int(r["width"]))
                    gy0 = int(r["tile_y"]) * tile_px
                    gx0 = int(r["tile_x"]) * tile_px
                    for i in range(arr.shape[0]):
                        frow = H - 1 - (gy0 + i)
                        os.pwrite(fd, arr[i].tobytes(),
                                  18 + (frow * W + gx0) * bpp)

        tiles.foreachPartition(write_part)
    else:
        from pyspark.sql import types as T

        out_schema = T.StructType([
            T.StructField("tile_x", T.IntegerType()),
            T.StructField("tile_y", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("data", T.BinaryType()),
        ])

        def pack_bgr(key, pdf):
            h = int(pdf["height"].iloc[0])
            w = int(pdf["width"].iloc[0])
            cube = np.zeros((h, w, 3), np.uint8)
            for r in pdf.itertuples(index=False):
                # band 1=R -> byte 2, 2=G -> 1, 3=B -> 0
                cube[:, :, 3 - int(r.band)] = np.frombuffer(
                    bytes(r.data), np.uint8).reshape(h, w)
            return pd.DataFrame([{
                "tile_x": int(key[0]), "tile_y": int(key[1]),
                "height": h, "width": w, "data": cube.tobytes()}])

        packed = tiles.groupBy("tile_x", "tile_y").applyInPandas(
            pack_bgr, schema=out_schema)

        def write_part(rows):
            with open(path, "r+b") as f:
                fd = f.fileno()
                for r in rows:
                    h, w = int(r["height"]), int(r["width"])
                    cube = np.frombuffer(bytes(r["data"]), np.uint8) \
                        .reshape(h, w * 3)
                    gy0 = int(r["tile_y"]) * tile_px
                    gx0 = int(r["tile_x"]) * tile_px
                    for i in range(h):
                        frow = H - 1 - (gy0 + i)
                        os.pwrite(fd, cube[i].tobytes(),
                                  18 + (frow * W + gx0) * bpp)

        packed.foreachPartition(write_part)
    return {"path": path, "width": W, "height": H, "bands": nb}
