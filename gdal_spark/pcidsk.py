"""PCIDSK (.pix) raster driver.

Reference: gdal/frmts/pcidsk/sdk/ —
  - core/cpcidskfile.cpp InitializeFromHeader: 512-byte ASCII file
    header ("PCIDSK  " magic), channel count at 376:384, width
    384:392, height 392:400, image start block (1-based, 512-byte
    blocks) at 304:320, image-header start block at 336:352,
    interleaving at 360:368, per-type channel counts at 464:512
    (blank count field = all 8U).
  - channel/cbandinterleavedchannel.cpp: BAND interleave lays the
    channels out sequentially from the image offset, each
    width*height*itemsize; FILE interleave takes start byte /
    pixel / line offsets from image-header fields 168:184 /
    184:192 / 192:200 (optionally in a detached file named at
    64:128).
  - channel/cpixelinterleavedchannel.cpp: PIXEL interleave pads
    each scanline of pixel groups to a 512-byte boundary.
  - per-channel image headers are 1024 bytes at ih_start; pixel
    type name at 160:168 ("8U","16S","16U","32R",...), falling
    back to the header type counts when blank.

The tiled-channel form (/SIS= system blocks) is not implemented.

Spark lowering: driver reads the KB headers; executors pread row
strips through the shared block scan (map-only, zero shuffles). The
sink writes the file/channel headers driver-side and pwrites
BAND-interleaved strips in parallel."""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from . import blockscan
from .blockscan import Layout

_TYPES = {"8U": "uint8", "16S": "int16", "16U": "uint16",
          "32R": "float32", "32S": "int32", "32U": "uint32",
          "64R": "float64"}
_BACK = {v: k for k, v in _TYPES.items()}


def identify(path: str) -> bool:
    with open(path, "rb") as f:
        return f.read(8) == b"PCIDSK  "


def parse_pcidsk(path: str) -> dict:
    with open(path, "rb") as f:
        fh = f.read(512)
        if fh[:8] != b"PCIDSK  ":
            raise ValueError(f"PCIDSK: bad magic in {path}")

        def gets(a, b):
            return fh[a:b].decode("ascii", errors="replace").strip()

        nchan = int(gets(376, 384))
        width = int(gets(384, 392))
        height = int(gets(392, 400))
        interleave = gets(360, 368)
        img_blk = int(gets(304, 320) or "1")
        ih_blk = int(gets(336, 352) or "2")
        counts_raw = fh[464:512]
        if counts_raw[:4] == b"    ":
            type_seq = ["uint8"] * nchan
        else:
            c8u = int(gets(464, 468) or 0)
            c16s = int(gets(468, 472) or 0)
            c16u = int(gets(472, 476) or 0)
            c32r = int(gets(476, 480) or 0)
            type_seq = (["uint8"] * c8u + ["int16"] * c16s +
                        ["uint16"] * c16u + ["float32"] * c32r)
            type_seq += ["uint8"] * (nchan - len(type_seq))

        channels = []
        image_offset = (img_blk - 1) * 512
        for ch in range(nchan):
            f.seek((ih_blk - 1) * 512 + ch * 1024)
            ih = f.read(1024)
            tname = ih[160:168].decode("ascii", errors="replace").strip()
            dtype = _TYPES.get(tname, type_seq[ch])
            isz = np.dtype(dtype).itemsize
            fname = ih[64:128].decode("ascii",
                                      errors="replace").strip()
            if interleave == "FILE":
                def ihnum(a, b, default):
                    s = ih[a:b].decode("ascii", errors="replace").strip()
                    return int(s) if s else default

                start = ihnum(168, 184, 0)
                pix_off = ihnum(184, 192, isz)
                line_off = ihnum(192, 200, isz * width)
                chan_path = path
                if fname and fname != "<uninitialized>":
                    if fname.startswith("/SIS="):
                        raise ValueError(
                            "PCIDSK: tiled (/SIS=) channels unsupported")
                    chan_path = os.path.join(os.path.dirname(path), fname)
                channels.append(dict(dtype=dtype, start=start,
                                     pixel_offset=pix_off,
                                     line_offset=line_off,
                                     path=chan_path))
            elif interleave == "PIXEL":
                group = sum(np.dtype(t).itemsize for t in type_seq)
                line = group * width
                line += (-line) % 512
                prior = sum(np.dtype(type_seq[i]).itemsize
                            for i in range(ch))
                channels.append(dict(dtype=dtype,
                                     start=(img_blk - 1) * 512 + prior,
                                     pixel_offset=group,
                                     line_offset=line, path=path))
            else:  # BAND
                channels.append(dict(dtype=dtype, start=image_offset,
                                     pixel_offset=isz,
                                     line_offset=isz * width,
                                     path=path))
                image_offset += isz * width * height
        return dict(width=width, height=height, nbands=nchan,
                    interleave=interleave, channels=channels)


def read_pcidsk(spark: SparkSession, path: str, *, tile_px: int = 256,
                raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    """One layout per channel (channels may differ in type and file);
    short reads zero-fill."""
    info = parse_pcidsk(path)
    W, H = info["width"], info["height"]
    return blockscan.read(
        spark, [Layout(ch["path"], W, H, ch["dtype"], (ch["start"],),
                       pixel_offset=ch["pixel_offset"],
                       line_offset=ch["line_offset"], byteorder="<",
                       zero_fill=True, out_dtype=ch["dtype"])
                for ch in info["channels"]],
        raster_id=raster_id or os.path.splitext(os.path.basename(path))[0],
        geotransform=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0), tile_px=tile_px,
        zoom=zoom)


def write_pcidsk(tiles: DataFrame, path: str, *,
                 tile_px: int = 256) -> dict:
    """BAND-interleaved sink: 512-byte file header + 1024-byte
    channel headers driver-side, sequential band planes pwritten in
    parallel (pcidskcreate.cpp defaults)."""
    from .ehdr import _collect_meta

    m = _collect_meta(tiles)
    H, W = int(m.img_h), int(m.img_w)
    nb, dtype = int(m.nbands), str(m.dtype)
    if dtype not in _BACK:
        raise ValueError(f"PCIDSK sink: dtype {dtype} unsupported")
    isz = np.dtype(dtype).itemsize
    ih_blk = 2
    ih_blocks = (nb * 1024 + 511) // 512
    img_blk = ih_blk + ih_blocks
    data_bytes = W * H * nb * isz
    total = (img_blk - 1) * 512 + data_bytes
    total += (-total) % 512

    counts = {"uint8": 0, "int16": 0, "uint16": 0, "float32": 0}
    if dtype in counts:
        counts[dtype] = nb

    fh = bytearray(b" " * 512)
    fh[0:8] = b"PCIDSK  "
    fh[8:16] = b"GDALSPRK"
    fh[16:32] = f"{total // 512:16d}".encode()
    fh[304:320] = f"{img_blk:16d}".encode()
    fh[336:352] = f"{ih_blk:16d}".encode()
    fh[360:368] = b"BAND    "
    fh[376:384] = f"{nb:8d}".encode()
    fh[384:392] = f"{W:8d}".encode()
    fh[392:400] = f"{H:8d}".encode()
    fh[464:468] = f"{counts['uint8']:4d}".encode()
    fh[468:472] = f"{counts['int16']:4d}".encode()
    fh[472:476] = f"{counts['uint16']:4d}".encode()
    fh[476:480] = f"{counts['float32']:4d}".encode()

    with open(path, "wb") as f:
        f.write(bytes(fh))
        for ch in range(nb):
            ih = bytearray(b" " * 1024)
            ih[160:168] = f"{_BACK[dtype]:<8}".encode()
            f.write(bytes(ih))
        f.write(b" " * ((-nb * 1024) % 512))
        f.truncate(total)

    base = (img_blk - 1) * 512

    def write_part(rows):
        with open(path, "r+b") as f:
            fd = f.fileno()
            for r in rows:
                arr = np.frombuffer(bytes(r["data"]),
                                    np.dtype(r["dtype"]))
                h, w = int(r["height"]), int(r["width"])
                arr = arr.reshape(h, w).astype(
                    np.dtype(dtype).newbyteorder("<"), copy=False)
                b = int(r["band"]) - 1
                gy0 = int(r["tile_y"]) * tile_px
                gx0 = int(r["tile_x"]) * tile_px
                for i in range(h):
                    off = base + (b * H + gy0 + i) * W * isz + gx0 * isz
                    os.pwrite(fd, arr[i].tobytes(), off)

    tiles.foreachPartition(write_part)
    return {"path": path, "width": W, "height": H, "bands": nb}
