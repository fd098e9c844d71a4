"""Erdas Imagine HFA (.img) raster driver — read, from scratch.

Reference (studied, re-expressed; no code copied):
  - gdal/frmts/hfa/hfaopen.cpp — EHFA_HEADER_TAG + Ehfa_File record
    (version/freeList/rootEntryPtr/entryHeaderLength/dictionaryPtr),
    dictionary text at EOF, HFAGetIGEFilename for spill files.
  - gdal/frmts/hfa/hfadictionary.cpp + hfafield.cpp — the MIF data
    dictionary grammar `{count:[p|*]<type>[...]name,}TypeName,`;
    item sizes 1/2/4/c/C=1, e/s/S=2, t/l/L/f=4, d/m=8, M=16;
    pointer fields prefix their inline data with (count u32,
    offset u32) = 8 bytes; BASEDATA = rows i32, cols i32,
    datatype i16, objecttype i16, then packed data.
  - gdal/frmts/hfa/hfaentry.cpp — 128-byte entry records
    (next/prev/parent/child/data/dataSize u32 ×6, name[64],
    type[32], modTime).
  - gdal/frmts/hfa/hfaband.cpp — Eimg_Layer bands, RasterDMS
    (Edms_State) block tables, ExternalRasterDMS spill layout
    (block i of layer k at dataOffset + size*(i*stackCount + k),
    validity bitmap at validFlagsOffset with a 20-byte header),
    sub-byte pixel packing LSB-first, and UncompressBlock — the
    "ESRI GRID compression" RLC: header min u32 / numRuns i32 /
    dataOffset i32 / numBits u8 at 12; numRuns==-1 = reduced
    precision (numBits per pixel, 1/2/4 LSB-first in-byte, 16/32
    BIG-endian), else variable-length repeat counters (top 2 bits =
    extra bytes) + a value stream at dataOffset; values offset by
    min; f32 handled as s32 bit patterns (gdal bug #1000 semantics).
  - autotest/gcore/hfa_read.py — byte/int16/.../float64.img all
    checksum 4672, utmsmall.img 50054, 2bit_compressed.img 11918.

Spark lowering: the HFA block IS the tile — the driver walks KB
metadata (entry tree + block tables, seek-based; never a pixel
byte) and emits one descriptor per (band, block); executors pread
exactly their block's byte range (from the .img or the .ige spill)
and run the RLC/bit-unpack kernel locally.  Map-only, zero
shuffles; a 10^5-block mosaic scans at cluster width like the
GeoTIFF segment scan.
"""

from __future__ import annotations

import math
import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import blockscan
from .synth import TILE_COLUMNS, TILE_SCHEMA, tile_row

_EPT = ["u1", "u2", "u4", "u8", "s8", "u16", "s16", "u32", "s32",
        "f32", "f64", "c64", "c128"]
_EPT_BITS = {"u1": 1, "u2": 2, "u4": 4, "u8": 8, "s8": 8, "u16": 16,
             "s16": 16, "u32": 32, "s32": 32, "f32": 32, "f64": 64,
             "c64": 64, "c128": 128}
_EPT_NP = {"u1": "uint8", "u2": "uint8", "u4": "uint8", "u8": "uint8",
           "s8": "int8", "u16": "uint16", "s16": "int16",
           "u32": "uint32", "s32": "int32", "f32": "float32",
           "f64": "float64"}

_ITEM_FMT = {"c": "B", "C": "b", "e": "H", "s": "H", "S": "h",
             "t": "I", "l": "I", "L": "I", "f": "f", "d": "d",
             "1": "B", "2": "B", "4": "B", "m": "d"}
_ITEM_SIZE = {"c": 1, "C": 1, "1": 1, "2": 1, "4": 1, "e": 2, "s": 2,
              "S": 2, "t": 4, "l": 4, "L": 4, "f": 4, "d": 8, "m": 8,
              "M": 16}


class _Field:
    __slots__ = ("count", "pointer", "kind", "enums", "objtype",
                 "inline", "name")

    def __init__(self, count, pointer, kind, enums, objtype, inline,
                 name):
        self.count, self.pointer, self.kind = count, pointer, kind
        self.enums, self.objtype, self.inline = enums, objtype, inline
        self.name = name


def _parse_fields(s: str, pos: int) -> tuple[list[_Field], int]:
    """Parse `{...}` starting at the '{'."""
    assert s[pos] == "{"
    pos += 1
    fields = []
    while s[pos] != "}":
        colon = s.index(":", pos)
        count = int(s[pos:colon])
        pos = colon + 1
        pointer = None
        if s[pos] in "p*":
            pointer = s[pos]
            pos += 1
        kind = s[pos]
        pos += 1
        enums = objtype = inline = None
        if kind == "e":
            colon = s.index(":", pos)
            n = int(s[pos:colon])
            pos = colon + 1
            enums = []
            for _ in range(n):
                comma = s.index(",", pos)
                enums.append(s[pos:comma])
                pos = comma + 1
            comma = s.index(",", pos)
            name = s[pos:comma]
            pos = comma + 1
        elif kind == "o":
            comma = s.index(",", pos)
            objtype = s[pos:comma]
            pos = comma + 1
            comma = s.index(",", pos)
            name = s[pos:comma]
            pos = comma + 1
        elif kind == "x":
            # count:x{...}InlineTypeName,fieldName,
            inline, pos = _parse_fields(s, pos)
            comma = s.index(",", pos)
            objtype = s[pos:comma]          # inline type's own name
            pos = comma + 1
            comma = s.index(",", pos)
            name = s[pos:comma]
            pos = comma + 1
        else:
            comma = s.index(",", pos)
            name = s[pos:comma]
            pos = comma + 1
        fields.append(_Field(count, pointer, kind, enums, objtype,
                             inline, name))
    return fields, pos + 1


def parse_dictionary(text: str) -> dict[str, list[_Field]]:
    types: dict[str, list[_Field]] = {}
    pos = 0
    while pos < len(text) and text[pos] == "{":
        fields, pos = _parse_fields(text, pos)
        comma = text.index(",", pos)
        types[text[pos:comma]] = fields
        pos = comma + 1
    return types


def _decode(types, fields, buf: bytes, pos: int):
    """Decode one object instance -> (dict, next_pos).  Tolerant of
    truncated records (nodes only persist leading fields)."""
    out: dict = {}
    for f in fields:
        if pos >= len(buf):
            break
        n = f.count
        if f.pointer is not None:
            if pos + 8 > len(buf):
                break
            n = struct.unpack_from("<I", buf, pos)[0]
            pos += 8
        if f.kind in ("c", "C"):
            raw = buf[pos:pos + n]
            pos += n
            out[f.name] = raw.split(b"\x00", 1)[0].decode(
                "latin-1", "replace")
        elif f.kind == "b":
            if n == 0:
                out[f.name] = None
                continue
            rows, cols, dt = struct.unpack_from("<iih", buf, pos)
            pos += 12
            ept = _EPT[dt]
            nbytes = (_EPT_BITS[ept] + 7) // 8 * rows * cols
            arr = np.frombuffer(buf, np.dtype(_EPT_NP.get(ept, "uint8")
                                              ).newbyteorder("<"),
                                count=rows * cols, offset=pos) \
                if ept in _EPT_NP else None
            out[f.name] = None if arr is None else \
                arr.reshape(rows, cols)
            pos += nbytes
        elif f.kind == "o" or f.kind == "x":
            sub = f.inline if f.kind == "x" else types[f.objtype]
            vals = []
            for _ in range(n):
                v, pos = _decode(types, sub, buf, pos)
                vals.append(v)
            out[f.name] = vals[0] if n == 1 else vals
        else:
            sz = _ITEM_SIZE[f.kind]
            fmt = _ITEM_FMT.get(f.kind)
            if pos + sz * n > len(buf):
                break
            vals = list(struct.unpack_from("<" + fmt * n, buf, pos))
            pos += sz * n
            if f.kind == "e":
                vals = [f.enums[v] if v < len(f.enums) else v
                        for v in vals]
            out[f.name] = vals[0] if n == 1 else vals
    return out, pos


class Node:
    __slots__ = ("name", "type", "data_off", "data_size", "children",
                 "_next")

    def find(self, name=None, type=None):
        for c in self.walk():
            if (name is None or c.name == name) and \
                    (type is None or c.type == type):
                return c
        return None

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


def parse_hfa(path: str) -> dict:
    """Driver-side metadata walk: header, dictionary, entry tree,
    per-band block tables, map info.  Seek-based — no pixel bytes."""
    with open(path, "rb") as f:
        def rd(off, size):
            f.seek(off)
            return f.read(size)

        hdr = rd(0, 20)
        if hdr[:16] != b"EHFA_HEADER_TAG\x00":
            raise ValueError(f"not an HFA file: {path}")
        hoff = struct.unpack("<I", hdr[16:20])[0]
        _ver, _fl, root_off, _ehl, dict_off = struct.unpack(
            "<IIIhI", rd(hoff, 18))
        fsize = os.path.getsize(path)
        types = parse_dictionary(
            rd(dict_off, fsize - dict_off).split(b"\x00", 1)[0]
            .decode("latin-1", "replace"))

        def read_entry(off: int) -> Node:
            raw = rd(off, 128)
            nxt, _prev, _par, child, data, dsize = struct.unpack(
                "<6I", raw[:24])
            node = Node()
            node.name = raw[24:88].split(b"\x00", 1)[0].decode(
                "latin-1", "replace")
            node.type = raw[88:120].split(b"\x00", 1)[0].decode(
                "latin-1", "replace")
            node.data_off, node.data_size = data, dsize
            node.children = []
            c = child
            while c:
                cn = read_entry(c)
                node.children.append(cn)
                c = cn._next
            node._next = nxt
            return node

        root = read_entry(root_off)

        def node_data(n: Node) -> dict:
            if n.data_size == 0 or n.type not in types:
                return {}
            return _decode(types, types[n.type],
                           rd(n.data_off, n.data_size), 0)[0]

        bands = []
        for layer in root.children:
            if layer.type not in ("Eimg_Layer", "Eimg_Layer_SubSample"):
                continue
            ld = node_data(layer)
            band = dict(name=layer.name, width=ld["width"],
                        height=ld["height"], pixel=ld["pixelType"],
                        bw=ld["blockWidth"], bh=ld["blockHeight"],
                        blocks=None, external=None)
            dms = layer.find(name="RasterDMS")
            if dms is not None and dms.type == "Edms_State":
                dd = node_data(dms)
                bi = dd.get("blockinfo") or []
                if isinstance(bi, dict):
                    bi = [bi]
                band["blocks"] = [
                    (b["offset"], b["size"],
                     b.get("logvalid") == "true",
                     b.get("compressionType")
                     == "ESRI GRID compression") for b in bi]
            ext = layer.find(name="ExternalRasterDMS")
            if ext is not None:
                ed = node_data(ext)
                def _big(v):  # 2:L = (low, high) 32-bit words
                    if isinstance(v, list):
                        return int(v[0]) + (int(v[1]) << 32)
                    return int(v)

                band["external"] = dict(
                    filename=ed["fileName"]["string"],
                    valid_off=_big(ed["layerStackValidFlagsOffset"]),
                    data_off=_big(ed["layerStackDataOffset"]),
                    stack_count=ed["layerStackCount"],
                    stack_index=ed["layerStackIndex"])
            bands.append(band)

        gt = [0.0, 1.0, 0.0, 0.0, 0.0, -1.0]
        crs = ""
        mi = root.find(type="Eprj_MapInfo")
        if mi is not None:
            md = node_data(mi)
            ul = md["upperLeftCenter"]
            ps = md["pixelSize"]
            gt = [ul["x"] - ps["width"] / 2.0, ps["width"], 0.0,
                  ul["y"] + ps["height"] / 2.0, 0.0, -ps["height"]]
            crs = md.get("proName", "")
    return dict(bands=bands, geotransform=gt, crs=crs, root=root,
                types=types)


def _unpack_bits(vals: np.ndarray, nbits: int, n: int) -> np.ndarray:
    """LSB-first sub-byte unpack (hfaband.cpp block layout)."""
    if nbits == 8:
        return vals[:n]
    idx = np.arange(n)
    shift = (idx * nbits) % 8
    return (vals[(idx * nbits) // 8] >> shift) & ((1 << nbits) - 1)


def _bit_values(buf: np.ndarray, nbits: int, n: int) -> np.ndarray:
    """RLC value stream: 1/2/4 LSB-first in-byte, 8 bytes,
    16/32 BIG-endian (UncompressBlock)."""
    if nbits == 0:
        return np.zeros(n, np.int64)
    if nbits in (1, 2, 4):
        return _unpack_bits(buf, nbits, n).astype(np.int64)
    if nbits == 8:
        return buf[:n].astype(np.int64)
    if nbits == 16:
        return (buf[0:2 * n:2].astype(np.int64) * 256
                + buf[1:2 * n:2])
    if nbits == 32:
        b = buf[:4 * n].reshape(n, 4).astype(np.int64)
        return (b[:, 0] << 24) | (b[:, 1] << 16) | (b[:, 2] << 8) \
            | b[:, 3]
    raise ValueError(f"RLC numBits {nbits}")


def _rlc_decompress(raw: bytes, npix: int, ept: str) -> np.ndarray:
    """ESRI GRID compression -> flat pixel array (native dtype)."""
    dmin, nruns, doff = struct.unpack_from("<Iii", raw, 0)
    nbits = raw[12]
    b = np.frombuffer(raw, np.uint8)
    if nruns == -1:
        vals = _bit_values(b[13:], nbits, npix)
        expanded = vals
    else:
        counts = np.empty(nruns, np.int64)
        p = 13
        for i in range(nruns):
            c0 = raw[p]
            extra = c0 >> 6
            v = c0 & 0x3F
            for k in range(extra):
                v = v * 256 + raw[p + 1 + k]
            counts[i] = v
            p += 1 + extra
        vals = _bit_values(b[doff:], nbits, nruns)
        expanded = np.repeat(vals, counts)[:npix]
        if expanded.size < npix:
            expanded = np.pad(expanded, (0, npix - expanded.size))
    data = (expanded + int(dmin)) & 0xFFFFFFFF
    if ept == "f32":
        return data.astype(np.uint32).view(np.float32).copy()
    out = data.astype(np.uint32).astype(
        np.dtype(_EPT_NP[ept]) if ept in _EPT_NP else np.uint8,
        copy=False)
    return out


_DESC = T.StructType([
    T.StructField("band", T.IntegerType()),
    T.StructField("bx", T.IntegerType()),
    T.StructField("by", T.IntegerType()),
    T.StructField("offset", T.LongType()),
    T.StructField("nbytes", T.LongType()),
    T.StructField("compressed", T.BooleanType()),
    T.StructField("valid", T.BooleanType()),
    T.StructField("spill", T.BooleanType()),
])


def read_hfa(spark: SparkSession, path: str, *,
             raster_id: str | None = None, zoom: int = 0) -> DataFrame:
    """Distributed HFA scan -> TILE_SCHEMA (one row per band-block;
    the HFA block is the tile).  Map-only."""
    meta = parse_hfa(path)
    gt = meta["geotransform"]
    crs = meta["crs"]
    rid = raster_id or os.path.splitext(os.path.basename(path))[0]
    rows = []
    band_meta = {}
    ige_path = None
    for bi, band in enumerate(meta["bands"]):
        W, H = band["width"], band["height"]
        bw, bh = band["bw"], band["bh"]
        ept = band["pixel"]
        if ept not in _EPT_BITS or ept in ("c64", "c128"):
            raise ValueError(f"HFA pixel type {ept} not supported")
        bpr = math.ceil(W / bw)
        bpc = math.ceil(H / bh)
        band_meta[bi] = (W, H, bw, bh, ept)
        if band["external"] is not None:
            e = band["external"]
            ige_path = os.path.join(os.path.dirname(path) or ".",
                                    os.path.basename(e["filename"]))
            bsize = (bw * bh * _EPT_BITS[ept] + 7) // 8
            with open(ige_path, "rb") as fi:
                fi.seek(e["valid_off"])
                bm = fi.read((bpr + 7) // 8 * bpc + 20)
            for k in range(bpr * bpc):
                col, row = k % bpr, k // bpr
                bit = row * ((bpr + 7) // 8) * 8 + col + 160
                valid = bool((bm[bit >> 3] >> (bit & 7)) & 1)
                off = e["data_off"] + bsize * (
                    k * e["stack_count"] + e["stack_index"])
                rows.append((bi, col, row, off, bsize, False, valid,
                             True))
        else:
            blocks = band["blocks"] or []
            if len(blocks) != bpr * bpc:
                raise ValueError("HFA block table size mismatch")
            for k, (off, size, valid, comp) in enumerate(blocks):
                rows.append((bi, k % bpr, k // bpr, off, size, comp,
                             valid, False))

    desc = blockscan.spread(spark, rows, _DESC)
    bm = band_meta
    ige = ige_path

    def scan(batches):
        handles = {}

        def fh(spill):
            key = bool(spill)
            if key not in handles:
                handles[key] = open(ige if spill else path, "rb")
            return handles[key]

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                W, H, bw, bh, ept = bm[int(r.band)]
                npx = bw * bh
                npdt = np.dtype(_EPT_NP[ept])
                if not r.valid:
                    arr = np.zeros(npx, npdt)
                elif r.compressed:
                    raw = os.pread(fh(r.spill).fileno(),
                                   int(r.nbytes), int(r.offset))
                    arr = _rlc_decompress(raw, npx, ept)
                else:
                    raw = os.pread(fh(r.spill).fileno(),
                                   int(r.nbytes), int(r.offset))
                    if ept in ("u1", "u2", "u4"):
                        arr = _unpack_bits(
                            np.frombuffer(raw, np.uint8),
                            _EPT_BITS[ept], npx).astype(np.uint8)
                    else:
                        arr = np.frombuffer(
                            raw, npdt.newbyteorder("<"), count=npx
                        ).astype(npdt, copy=False)
                x0, y0 = int(r.bx) * bw, int(r.by) * bh
                w = min(bw, W - x0)
                h = min(bh, H - y0)
                out.append(tile_row(
                    rid, int(r.band) + 1, int(zoom), int(r.bx), int(r.by),
                    arr.reshape(bh, bw)[:h, :w], gt, x0=x0, y0=y0,
                    crs=crs, dtype=str(npdt)))
            yield pd.DataFrame(out, columns=TILE_COLUMNS)

    return desc.mapInPandas(scan, schema=TILE_SCHEMA)


# ---------------------------------------------------------------- writer
# The minimal standard-dictionary subset the writer emits, in the MIF
# grammar of hfadictionary.cpp (format-spec boilerplate, same strings
# any conforming writer produces).
_WRITE_DICT = (
    "{1:lversion,1:LfreeList,1:LrootEntryPtr,1:sentryHeaderLength,"
    "1:LdictionaryPtr,}Ehfa_File,"
    "{1:Lnext,1:Lprev,1:Lparent,1:Lchild,1:Ldata,1:ldataSize,"
    "64:cname,32:ctype,1:tmodTime,}Ehfa_Entry,"
    "{16:clabel,1:LheaderPtr,}Ehfa_HeaderTag,"
    "{1:lwidth,1:lheight,1:e3:thematic,athematic,fft of real-valued "
    "data,layerType,1:e13:u1,u2,u4,u8,s8,u16,s16,u32,s32,f32,f64,c64,"
    "c128,pixelType,1:lblockWidth,1:lblockHeight,}Eimg_Layer,"
    "{1:sfileCode,1:Loffset,1:lsize,1:e2:false,true,logvalid,"
    "1:e2:no compression,ESRI GRID compression,compressionType,}"
    "Edms_VirtualBlockInfo,"
    "{1:lnumvirtualblocks,1:lnumobjectsperblock,1:lnextobjectnum,"
    "1:e2:no compression,RLC compression,compressionType,"
    "0:poEdms_VirtualBlockInfo,blockinfo,0:poEdms_FreeIDList,freelist,"
    "1:tmodTime,}Edms_State,"
    "{1:lmin,1:lmax,}Edms_FreeIDList,"
    "{1:dx,1:dy,}Eprj_Coordinate,"
    "{1:dwidth,1:dheight,}Eprj_Size,"
    "{0:pcproName,1:*oEprj_Coordinate,upperLeftCenter,"
    "1:*oEprj_Coordinate,lowerRightCenter,1:*oEprj_Size,pixelSize,"
    "0:pcunits,}Eprj_MapInfo,.")

_NP_EPT = {"uint8": ("u8", 3), "int8": ("s8", 4), "uint16": ("u16", 5),
           "int16": ("s16", 6), "uint32": ("u32", 7),
           "int32": ("s32", 8), "float32": ("f32", 9),
           "float64": ("f64", 10)}


def write_hfa(tiles: DataFrame, path: str) -> dict:
    """Uncompressed HFA sink: the driver writes header + entry tree +
    dictionary (KBs) and truncates; pixel blocks pwrite in parallel
    at closed-form offsets — the write_geotiff contract.  Block size
    = the tile grid's tile size, so the source partitioning maps
    1:1 onto HFA blocks (no shuffle).  Reference structure:
    hfaopen.cpp HFACreateLL + hfaband.cpp HFACreateLayer (RasterDMS
    sibling tree), re-expressed."""
    from .ehdr import _collect_meta

    m = _collect_meta(tiles)
    W, H = int(m.img_w), int(m.img_h)
    nbands, dtype = int(m.nbands), str(m.dtype)
    if dtype not in _NP_EPT:
        raise ValueError(f"HFA writer: dtype {dtype} unsupported")
    ept, ept_idx = _NP_EPT[dtype]
    bw = int(m.tw)
    bh = int(m.th)
    bpr, bpc = math.ceil(W / bw), math.ceil(H / bh)
    nblocks = bpr * bpc
    bsize = bw * bh * np.dtype(dtype).itemsize
    gt = list(m.gt) if m.gt is not None else [0, 1, 0, 0, 0, -1]

    entries: list[bytearray] = []
    blobs: list[tuple[int, bytes]] = []   # (entry idx, data blob)

    def entry(name: str, typ: str) -> int:
        e = bytearray(128)
        e[24:24 + len(name)] = name.encode("ascii")
        e[88:88 + len(typ)] = typ.encode("ascii")
        entries.append(e)
        return len(entries) - 1

    root = entry("root", "root")
    layer_ids, dms_ids = [], []
    for b in range(nbands):
        layer_ids.append(entry(f"Layer_{b + 1}", "Eimg_Layer"))
        dms_ids.append(entry("RasterDMS", "Edms_State"))
    mi_id = entry("Map_Info", "Eprj_MapInfo")

    # ---- layout: tag(20) + Ehfa_File(18 padded 22) + entries +
    #      node blobs + dictionary + block data
    HDR = 20
    FILE_REC = 24
    ent_off = [HDR + FILE_REC + 128 * i for i in range(len(entries))]
    pos = HDR + FILE_REC + 128 * len(entries)

    def put(idx: int, blob: bytes) -> int:
        nonlocal pos
        off = pos
        blobs.append((idx, blob))
        pos += len(blob)
        return off

    layer_blob = struct.pack("<llHHll", W, H, 1, ept_idx, bw, bh)
    data_off_placeholder = []
    for b in range(nbands):
        put(layer_ids[b], layer_blob)
        # Edms_State: counts + enum + blockinfo pointer & inline array
        head = struct.pack("<lllH", nblocks, bw * bh, nblocks, 0)
        ptr = struct.pack("<II", nblocks, 0)  # offset patched later
        binfo = bytearray()
        for k in range(nblocks):
            binfo += struct.pack("<HIlHH", 0, 0, bsize, 1, 0)
        free_ptr = struct.pack("<II", 0, 0)
        tm = struct.pack("<I", 0)
        blob = head + ptr + bytes(binfo) + free_ptr + tm
        off = put(dms_ids[b], blob)
        data_off_placeholder.append(off + len(head))

    def pstr(s: str) -> bytes:
        raw = s.encode("ascii") + b"\x00"
        return struct.pack("<II", len(raw), 0) + raw

    def pcoord(x: float, y: float) -> bytes:
        return struct.pack("<II", 1, 0) + struct.pack("<dd", x, y)

    mi_blob = (pstr(str(m.crs) or "Unknown")
               + pcoord(gt[0] + gt[1] / 2.0, gt[3] + gt[5] / 2.0)
               + pcoord(gt[0] + gt[1] * W - gt[1] / 2.0,
                        gt[3] + gt[5] * H - gt[5] / 2.0)
               + struct.pack("<II", 1, 0)
               + struct.pack("<dd", gt[1], -gt[5])
               + pstr("meters"))
    put(mi_id, mi_blob)

    dict_off = pos
    dict_bytes = _WRITE_DICT.encode("ascii") + b"\x00"
    pos += len(dict_bytes)
    data_start = pos

    # block offsets per band, row-major — patch the VirtualBlockInfo
    block_off = {}
    for b in range(nbands):
        for k in range(nblocks):
            block_off[(b, k)] = pos
            pos += bsize

    # ---- assemble driver-side metadata image
    buf = bytearray(data_start)
    buf[0:16] = b"EHFA_HEADER_TAG\x00"
    struct.pack_into("<I", buf, 16, HDR)
    struct.pack_into("<IIIhI", buf, HDR, 1, 0, ent_off[root], 128,
                     dict_off)

    # entry linkage: root child = first layer; layers chain via next;
    # each layer's child is its RasterDMS; Map_Info chains after
    # the last layer.
    def link(idx, nxt=0, prev=0, parent=0, child=0, data=0, dsize=0):
        e = entries[idx]
        struct.pack_into("<6I", e, 0, nxt, prev, parent, child,
                         data, dsize)

    blob_by_idx = {}
    off_by_idx = {}
    o = HDR + FILE_REC + 128 * len(entries)
    for idx, blob in blobs:
        blob_by_idx[idx] = blob
        off_by_idx[idx] = o
        o += len(blob)

    for b in range(nbands):
        nxt = ent_off[layer_ids[b + 1]] if b + 1 < nbands \
            else ent_off[mi_id]
        link(layer_ids[b], nxt=nxt, parent=ent_off[root],
             child=ent_off[dms_ids[b]],
             data=off_by_idx[layer_ids[b]],
             dsize=len(blob_by_idx[layer_ids[b]]))
        link(dms_ids[b], parent=ent_off[layer_ids[b]],
             data=off_by_idx[dms_ids[b]],
             dsize=len(blob_by_idx[dms_ids[b]]))
    link(mi_id, parent=ent_off[root], data=off_by_idx[mi_id],
         dsize=len(blob_by_idx[mi_id]))
    link(root, child=ent_off[layer_ids[0]])

    for i, e in enumerate(entries):
        buf[ent_off[i]:ent_off[i] + 128] = e
    o = HDR + FILE_REC + 128 * len(entries)
    for idx, blob in blobs:
        buf[o:o + len(blob)] = blob
        o += len(blob)
    # patch blockinfo pointers + offsets, and the pointer fields'
    # self-offsets (pointer value = file offset of its inline data)
    for b in range(nbands):
        base = off_by_idx[dms_ids[b]]
        head_len = 14
        struct.pack_into("<I", buf, base + head_len + 4,
                         base + head_len + 8)
        for k in range(nblocks):
            rec = base + head_len + 8 + 14 * k
            struct.pack_into("<I", buf, rec + 2, block_off[(b, k)])
    buf[dict_off:dict_off + len(dict_bytes)] = dict_bytes

    with open(path, "wb") as f:
        f.write(bytes(buf))
        f.truncate(data_start + nblocks * bsize * nbands)

    bo = block_off
    npd = np.dtype(dtype)

    def write_part(rows):
        with open(path, "r+b") as f:
            fd = f.fileno()
            for r in rows:
                k = int(r["tile_y"]) * bpr + int(r["tile_x"])
                arr = np.frombuffer(bytes(r["data"]),
                                    dtype=np.dtype(r["dtype"]))
                arr = arr.reshape(int(r["height"]), int(r["width"]))
                if arr.shape != (bh, bw):
                    p = np.zeros((bh, bw), dtype=arr.dtype)
                    p[:arr.shape[0], :arr.shape[1]] = arr
                    arr = p
                os.pwrite(fd, arr.astype(npd, copy=False).tobytes(),
                          bo[(int(r["band"]) - 1, k)])

    tiles.foreachPartition(write_part)
    return {"path": path, "width": W, "height": H, "bands": nbands,
            "blocks": nblocks, "dtype": dtype}
