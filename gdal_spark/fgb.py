"""FlatGeobuf vector driver — distributed read and write, packed
Hilbert R-tree index included.

Reference: gdal/ogr/ogrsf_frmts/flatgeobuf —
  - ogr_flatgeobuf.h:44 — magic bytes 66 67 62 03 66 67 62 00
    (fgb, spec version 3);
  - header_generated.h / feature_generated.h — the flatbuffer table
    layouts (Header: name/envelope/geometry_type/columns/
    features_count/index_node_size; Column: name/type; Feature:
    geometry/properties; Geometry: ends/xy/type/parts) and the
    ColumnType / GeometryType enums;
  - packedrtree.cpp:81 — the public-domain 16-bit Hilbert curve the
    leaf order is sorted by (hilbertMax = 2^16-1 over the dataset
    extent, :143), generateLevelBounds (:199) — nodes stored
    top-down, 40 bytes each (4 doubles + uint64): leaf offsets are
    feature byte offsets, parent offsets the absolute node index of
    the first child;
  - the wire format itself is the public FlatGeobuf specification
    (flatgeobuf.org); the minimal flatbuffers codec below is written
    from the public FlatBuffers internals document (vtables, uoffsets,
    size-prefix-free root), not from any generated code.

File layout: magic(8) | u32 header_len | Header fb | packed R-tree
(optional) | features, each u32 len | Feature fb.

Spark lowering —
  WRITE is the interesting one. The reference buffers every feature in
  memory, Hilbert-sorts on one core, and streams the file serially
  (ogrflatgeobuflayer.cpp CreateFinalFile). Here:
    1. one bounded aggregate computes the dataset extent (4 doubles);
    2. features Hilbert-sort DISTRIBUTED (orderBy = range exchange on
       the 32-bit Hilbert value — the only global operation, inherent
       to the format's leaf order);
    3. each sorted partition encodes its features to flatbuffer bytes
       and reports (count, bytes); the classic partition-offset
       cumsum (KB-sized, broadcast) turns those into exact byte
       positions — executors then pwrite their feature slabs AND
       their leaf index nodes in parallel, no driver bytes;
    4. upper R-tree levels reduce 16x per round (groupBy idx/16 →
       min/max bbox), each level pwritten in parallel; only the KB
       header is driver-written.
  READ: the driver reads magic+header only; feature byte offsets live
  in the LEAF index nodes, so strip descriptors say "leaf nodes
  [a, b)" and each executor preads its own offset slice then its
  feature byte range — map-only, splittable like parquet row groups.
  Files without an index have no random-access handle (the reference
  scans them serially too) — documented single-task fallback.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import blockscan
from . import geometry as GM

MAGIC = bytes([0x66, 0x67, 0x62, 0x03, 0x66, 0x67, 0x62, 0x00])
NODE_BYTES = 40
DEFAULT_NODE_SIZE = 16

GT = {"point": 1, "linestring": 2, "polygon": 3, "multipoint": 4,
      "multilinestring": 5, "multipolygon": 6}
GT_INV = {v: k for k, v in GT.items()}
# ColumnType enum (header_generated.h:98)
CT_BOOL, CT_LONG, CT_DOUBLE, CT_STRING = 2, 7, 10, 11


# ----------------------------------------------- minimal flatbuffers
class _FBB:
    """Write-side: build back-to-front; offsets measured from the
    buffer END (stable under prepend), resolved at finish()."""

    def __init__(self):
        self.chunks: list[bytes] = []  # reversed order
        self.size = 0
        self.minalign = 4

    def _prepend(self, b: bytes):
        self.chunks.append(b)
        self.size += len(b)

    def _align(self, a: int):
        self.minalign = max(self.minalign, a)
        pad = (-self.size) % a
        if pad:
            self._prepend(b"\x00" * pad)

    def string(self, s: str) -> int:
        b = s.encode("utf-8")
        # tail padding only — nothing may sit between the length word
        # and the content
        tail = (-(self.size + len(b) + 1)) % 4
        if tail:
            self._prepend(b"\x00" * tail)
        self._prepend(b + b"\x00")
        self._prepend(struct.pack("<I", len(b)))
        return self.size

    def vector_f64(self, arr) -> int:
        a = np.asarray(arr, dtype="<f8")
        # elements sit 4 bytes past the length word: pad so the length
        # word's offset-from-end ends up ≡ 4 (mod 8)
        pad = (-self.size) % 8
        if pad:
            self._prepend(b"\x00" * pad)
        self._prepend(a.tobytes())
        self._prepend(struct.pack("<I", len(a)))
        self.minalign = max(self.minalign, 8)
        return self.size

    def vector_u32(self, vals) -> int:
        a = np.asarray(vals, dtype="<u4")
        tail = (-self.size) % 4
        if tail:
            self._prepend(b"\x00" * tail)
        self._prepend(a.tobytes())
        self._prepend(struct.pack("<I", len(a)))
        return self.size

    def vector_u8(self, data: bytes) -> int:
        tail = (-(self.size + len(data))) % 4
        if tail:
            self._prepend(b"\x00" * tail)
        self._prepend(bytes(data))
        self._prepend(struct.pack("<I", len(data)))
        return self.size

    def vector_offsets(self, offs: list[int]) -> int:
        tail = (-self.size) % 4
        if tail:
            self._prepend(b"\x00" * tail)
        # each slot holds uoffset = target_abs - slot_abs; with
        # end-offsets: value = slot_off_from_end - target_off_from_end
        n = len(offs)
        body = bytearray()
        # slot i (0-based) off_from_end after prepend = size + 4*(n-i)
        base = self.size
        for i, o in enumerate(offs):
            slot = base + 4 * (n - i)
            body += struct.pack("<I", slot - o)
        self._prepend(bytes(body))
        self._prepend(struct.pack("<I", n))
        return self.size

    def table(self, slots: dict[int, tuple[str, object]]) -> int:
        """slots: field_index -> (kind, value); kind in u8,u16,u32,
        u64,f64,off. Fields laid out descending size after the
        4-byte soffset."""
        order = sorted(slots, key=lambda i: -{"u8": 1, "u16": 2,
                                              "u32": 4, "off": 4,
                                              "u64": 8, "f64": 8}[
                                                  slots[i][0]])
        sizes = {"u8": 1, "u16": 2, "u32": 4, "off": 4, "u64": 8,
                 "f64": 8}
        pos = 4
        fpos: dict[int, int] = {}
        for i in order:
            sz = sizes[slots[i][0]]
            pos += (-pos) % sz
            fpos[i] = pos
            pos += sz
        tlen = pos + ((-pos) % 4)
        maxf = max(slots) + 1 if slots else 0
        vt = struct.pack("<HH", 4 + 2 * maxf, tlen) + b"".join(
            struct.pack("<H", fpos.get(i, 0)) for i in range(maxf))
        # write vtable first (ends up at higher address than table)
        self._align(2)
        self._prepend(vt)
        svt = self.size
        # pad so the table START (off = size + tlen) is aligned for
        # its widest inline field
        al = 8 if any(s[0] in ("u64", "f64")
                      for s in slots.values()) else 4
        self.minalign = max(self.minalign, al)
        pad = (-(self.size + tlen)) % al
        if pad:
            self._prepend(b"\x00" * pad)
        stab = self.size + tlen
        body = bytearray(tlen)
        body[0:4] = struct.pack("<i", svt - stab)  # soffset
        for i, (kind, v) in slots.items():
            p = fpos[i]
            if kind == "off":
                body[p:p + 4] = struct.pack("<I", (stab - p) - v)
            else:
                fmt = {"u8": "B", "u16": "H", "u32": "I", "u64": "Q",
                       "f64": "d"}[kind]
                struct.pack_into("<" + fmt, body, p, v)
        self._prepend(bytes(body))
        return self.size

    def finish(self, root: int) -> bytes:
        pad = (-(self.size + 4)) % self.minalign
        total = self.size + 4 + pad
        out = bytearray()
        out += struct.pack("<I", total - root)
        out += b"\x00" * pad
        for c in reversed(self.chunks):
            out += c
        return bytes(out)


def _u16(b, p):
    return struct.unpack_from("<H", b, p)[0]


def _u32(b, p):
    return struct.unpack_from("<I", b, p)[0]


def _tfield(buf, tpos, field):
    """Field position in table (or None) — vtable walk."""
    soff = struct.unpack_from("<i", buf, tpos)[0]
    vt = tpos - soff
    vlen = _u16(buf, vt)
    vidx = 4 + 2 * field
    if vidx >= vlen:
        return None
    fo = _u16(buf, vt + vidx)
    return tpos + fo if fo else None


def _tscalar(buf, tpos, field, fmt, default):
    p = _tfield(buf, tpos, field)
    return struct.unpack_from("<" + fmt, buf, p)[0] if p is not None \
        else default


def _tindirect(buf, tpos, field):
    p = _tfield(buf, tpos, field)
    return p + _u32(buf, p) if p is not None else None


def _tvector(buf, tpos, field):
    p = _tindirect(buf, tpos, field)
    if p is None:
        return None, 0
    return p + 4, _u32(buf, p)


def _tstring(buf, tpos, field):
    p = _tindirect(buf, tpos, field)
    if p is None:
        return None
    n = _u32(buf, p)
    return buf[p + 4:p + 4 + n].decode("utf-8")


# ------------------------------------------------------------ hilbert
def hilbert_u32(x, y):
    """packedrtree.cpp:81 (public-domain hilbert_curves) vectorized on
    uint32 numpy arrays; inputs are 16-bit grid coordinates."""
    x = np.asarray(x, dtype=np.uint32)
    y = np.asarray(y, dtype=np.uint32)
    a = x ^ y
    b = 0xFFFF ^ a
    c = 0xFFFF ^ (x | y)
    d = x & (y ^ 0xFFFF)
    A = a | (b >> 1)
    B = (a >> 1) ^ a
    C = ((c >> 1) ^ (b & (d >> 1))) ^ c
    D = ((a & (c >> 1)) ^ (d >> 1)) ^ d
    a, b, c, d = A, B, C, D
    A = (a & (a >> 2)) ^ (b & (b >> 2))
    B = (a & (b >> 2)) ^ (b & ((a ^ b) >> 2))
    C = C ^ ((a & (c >> 2)) ^ (b & (d >> 2)))
    D = D ^ ((b & (c >> 2)) ^ ((a ^ b) & (d >> 2)))
    a, b, c, d = A, B, C, D
    A = (a & (a >> 4)) ^ (b & (b >> 4))
    B = (a & (b >> 4)) ^ (b & ((a ^ b) >> 4))
    C = C ^ ((a & (c >> 4)) ^ (b & (d >> 4)))
    D = D ^ ((b & (c >> 4)) ^ ((a ^ b) & (d >> 4)))
    a, b, c, d = A, B, C, D
    C = C ^ ((a & (c >> 8)) ^ (b & (d >> 8)))
    D = D ^ ((b & (c >> 8)) ^ ((a ^ b) & (d >> 8)))
    a = C ^ (C >> 1)
    b = D ^ (D >> 1)
    i0 = x ^ y
    i1 = b | (0xFFFF ^ (i0 | a))
    for sh, m in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333),
                  (1, 0x55555555)):
        i0 = (i0 | (i0 << sh)) & np.uint32(m)
        i1 = (i1 | (i1 << sh)) & np.uint32(m)
    return (i1 << 1) | i0


def _level_bounds(num_items: int, node_size: int):
    """generateLevelBounds (packedrtree.cpp:199): [(start, end)] node
    index ranges per level, leaf level LAST entry; total node count =
    bounds[0][1] with root at index 0? — storage is top-down, so the
    first range holds the top level."""
    if num_items == 0:
        return [], 0
    level_num = [num_items]
    n = num_items
    while n != 1:
        n = (n + node_size - 1) // node_size
        level_num.append(n)
    total = sum(level_num)
    # top-down storage: offsets so the LAST (smallest) level is first
    bounds = []
    acc = total
    for cnt in level_num:          # leaf first in this loop
        acc -= cnt
        bounds.append((acc, acc + cnt))
    # bounds[0] = leaf range, bounds[-1] = root (0, 1)
    return bounds, total


# ----------------------------------------------------- geometry codec
def _geom_slots(fbb: _FBB, g: GM.Geom) -> int:
    """Geometry table for one feature (feature_generated.h VT ids:
    ends=0, xy=1, type=6, parts=7 as field indices)."""
    if g.kind in ("polygon", "multipolygon"):
        polys = g.parts
        if g.kind == "polygon":
            xy = []
            ends = []
            n = 0
            for ring in polys[0]:
                xs, ys = ring
                for x, y in zip(xs, ys):
                    xy += [x, y]
                n += len(xs)
                ends.append(n)
            slots = {6: ("u8", GT["polygon"])}
            if len(ends) > 1:
                slots[0] = ("off", fbb.vector_u32(ends))
            slots[1] = ("off", fbb.vector_f64(xy))
            return fbb.table(slots)
        part_offs = []
        for poly in polys:
            xy = []
            ends = []
            n = 0
            for ring in poly:
                xs, ys = ring
                for x, y in zip(xs, ys):
                    xy += [x, y]
                n += len(xs)
                ends.append(n)
            slots = {6: ("u8", GT["polygon"])}
            if len(ends) > 1:
                slots[0] = ("off", fbb.vector_u32(ends))
            slots[1] = ("off", fbb.vector_f64(xy))
            part_offs.append(fbb.table(slots))
        return fbb.table({
            6: ("u8", GT["multipolygon"]),
            7: ("off", fbb.vector_offsets(part_offs)),
        })
    xy = []
    ends = []
    n = 0
    for xs, ys in g.parts:
        for x, y in zip(xs, ys):
            xy += [x, y]
        n += len(xs)
        ends.append(n)
    slots = {6: ("u8", GT[g.kind]), 1: ("off", fbb.vector_f64(xy))}
    if g.kind == "multilinestring" and len(ends) >= 1:
        slots[0] = ("off", fbb.vector_u32(ends))
    return fbb.table(slots)


def _decode_geom_table(buf, gpos) -> GM.Geom | None:
    gtype = _tscalar(buf, gpos, 6, "B", 0)
    kind = GT_INV.get(gtype)
    if kind is None:
        return None
    if kind == "multipolygon":
        vp, n = _tvector(buf, gpos, 7)
        polys = []
        for i in range(n):
            slot = vp + 4 * i
            child = slot + _u32(buf, slot)
            sub = _decode_geom_table(buf, child)
            if sub is not None:
                polys.append(sub.parts[0])
        return GM.Geom("multipolygon", polys)
    vx, nxy = _tvector(buf, gpos, 1)
    xy = np.frombuffer(buf, dtype="<f8", count=nxy, offset=vx)
    xs, ys = xy[0::2], xy[1::2]
    ve, ne = _tvector(buf, gpos, 0)
    if ne:
        ends = np.frombuffer(buf, dtype="<u4", count=ne, offset=ve)
    else:
        ends = np.array([len(xs)], dtype=np.uint32)
    rings = []
    prev = 0
    for e in ends:
        rings.append((xs[prev:int(e)].copy(), ys[prev:int(e)].copy()))
        prev = int(e)
    if kind == "polygon":
        return GM.Geom("polygon", [rings])
    if kind in ("point", "multipoint", "linestring"):
        if kind == "point":
            return GM.Geom("point", [(xs[:1], ys[:1])])
        return GM.Geom(kind, [(xs, ys)])
    return GM.Geom(kind, rings)  # multilinestring


# -------------------------------------------------------- properties
def _encode_props(row, cols: list[tuple[str, int]]) -> bytes:
    out = bytearray()
    for i, (name, ct) in enumerate(cols):
        v = row[name]
        if v is None or (isinstance(v, float) and np.isnan(v)):
            continue
        out += struct.pack("<H", i)
        if ct == CT_LONG:
            out += struct.pack("<q", int(v))
        elif ct == CT_DOUBLE:
            out += struct.pack("<d", float(v))
        elif ct == CT_BOOL:
            out += struct.pack("<B", 1 if v else 0)
        else:
            b = str(v).encode("utf-8")
            out += struct.pack("<I", len(b)) + b
    return bytes(out)


def _decode_props(data: bytes, cols: list[tuple[str, int]]) -> dict:
    out = {}
    p = 0
    while p + 2 <= len(data):
        i = struct.unpack_from("<H", data, p)[0]
        p += 2
        name, ct = cols[i]
        if ct == CT_LONG:
            out[name] = struct.unpack_from("<q", data, p)[0]
            p += 8
        elif ct == CT_DOUBLE:
            out[name] = struct.unpack_from("<d", data, p)[0]
            p += 8
        elif ct == CT_BOOL:
            out[name] = bool(data[p])
            p += 1
        else:
            n = struct.unpack_from("<I", data, p)[0]
            p += 4
            out[name] = data[p:p + n].decode("utf-8")
            p += n
    return out


def encode_feature(wkt: str, row, cols: list[tuple[str, int]]) -> bytes:
    fbb = _FBB()
    g = GM.parse_wkt(wkt)
    goff = _geom_slots(fbb, g)
    slots = {0: ("off", goff)}
    props = _encode_props(row, cols)
    if props:
        slots[1] = ("off", fbb.vector_u8(props))
    root = fbb.table(slots)
    body = fbb.finish(root)
    return struct.pack("<I", len(body)) + body


def decode_feature(buf: bytes, cols: list[tuple[str, int]]):
    tpos = _u32(buf, 0)
    gpos = _tindirect(buf, tpos, 0)
    g = _decode_geom_table(buf, gpos) if gpos is not None else None
    vp, n = _tvector(buf, tpos, 1)
    props = _decode_props(bytes(buf[vp:vp + n]), cols) if n else {}
    return g, props


# ------------------------------------------------------------ header
def _build_header(name: str, envelope, cols: list[tuple[str, int]],
                  count: int, node_size: int) -> bytes:
    fbb = _FBB()
    col_offs = []
    for cname, ct in cols:
        noff = fbb.string(cname)
        col_offs.append(fbb.table({0: ("off", noff),
                                   1: ("u8", ct)}))
    cvec = fbb.vector_offsets(col_offs) if col_offs else None
    env = fbb.vector_f64(envelope)
    noff = fbb.string(name)
    slots = {
        0: ("off", noff), 1: ("off", env),
        2: ("u8", 0),  # GeometryType Unknown (mixed layer)
        8: ("u64", count), 9: ("u16", node_size),
    }
    if cvec:
        slots[7] = ("off", cvec)
    root = fbb.table(slots)
    body = fbb.finish(root)
    return struct.pack("<I", len(body)) + body


def read_header(path: str):
    with open(path, "rb") as f:
        head = f.read(1 << 20)
    if head[:7] != MAGIC[:7]:  # byte 7 = patch version, any
        raise ValueError("not a FlatGeobuf file")
    hlen = _u32(head, 8)
    buf = head[12:12 + hlen]
    tpos = _u32(buf, 0)
    name = _tstring(buf, tpos, 0) or ""
    vp, n = _tvector(buf, tpos, 1)
    env = list(np.frombuffer(buf, dtype="<f8", count=n,
                             offset=vp)) if n else []
    count = _tscalar(buf, tpos, 8, "Q", 0)
    node_size = _tscalar(buf, tpos, 9, "H", DEFAULT_NODE_SIZE)
    cols = []
    cp, cn = _tvector(buf, tpos, 7)
    for i in range(cn):
        slot = cp + 4 * i
        cpos = slot + _u32(buf, slot)
        cols.append((_tstring(buf, cpos, 0),
                     _tscalar(buf, cpos, 1, "B", 0)))
    bounds, total_nodes = (_level_bounds(count, node_size)
                           if node_size >= 2 and count else ([], 0))
    return {
        "name": name, "envelope": env, "count": count,
        "node_size": node_size, "cols": cols,
        "index_offset": 12 + hlen,
        "index_bytes": total_nodes * NODE_BYTES,
        "features_offset": 12 + hlen + total_nodes * NODE_BYTES,
        "level_bounds": bounds,
    }


# ------------------------------------------------------------- write
def _spark_cols(df: DataFrame, wkt_col: str) -> list[tuple[str, int]]:
    cols = []
    for f in df.schema.fields:
        if f.name == wkt_col:
            continue
        if isinstance(f.dataType, (T.LongType, T.IntegerType)):
            cols.append((f.name, CT_LONG))
        elif isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            cols.append((f.name, CT_DOUBLE))
        elif isinstance(f.dataType, T.BooleanType):
            cols.append((f.name, CT_BOOL))
        else:
            cols.append((f.name, CT_STRING))
    return cols


def write_fgb(df: DataFrame, path: str, *, wkt_col: str = "wkt",
              name: str = "layer",
              node_size: int = DEFAULT_NODE_SIZE) -> int:
    """Distributed FlatGeobuf sink. Returns the feature count."""
    spark = df.sparkSession
    cols = _spark_cols(df, wkt_col)

    nums = F.expr(
        f"transform(filter(split(regexp_replace({wkt_col}, "
        f"'[^-0-9.eE]+', ' '), ' '), t -> t rlike '[0-9]'), t -> cast(t as double))"
    )
    xs = F.filter(nums, lambda v, i: i % 2 == 0)
    ys = F.filter(nums, lambda v, i: i % 2 == 1)
    boxed = df.withColumn("_x0", F.array_min(xs)) \
        .withColumn("_x1", F.array_max(xs)) \
        .withColumn("_y0", F.array_min(ys)) \
        .withColumn("_y1", F.array_max(ys))
    boxed.cache()
    ext = boxed.agg(
        F.min("_x0"), F.min("_y0"), F.max("_x1"), F.max("_y1"),
        F.count("*")).collect()[0]
    ex0, ey0, ex1, ey1, count = [v for v in ext]
    count = int(count)
    if count == 0:
        boxed.unpersist()
        with open(path, "wb") as f:
            f.write(MAGIC)
            f.write(_build_header(name, [0, 0, 0, 0], cols, 0,
                                  node_size))
        return 0
    w = max(ex1 - ex0, 1e-30)
    h = max(ey1 - ey0, 1e-30)

    @F.pandas_udf("long")
    def hv(x0: pd.Series, x1: pd.Series, y0: pd.Series,
           y1: pd.Series) -> pd.Series:
        hx = np.floor(65535.0 * ((x0 + x1) / 2 - ex0) / w) \
            .clip(0, 65535).astype(np.uint32)
        hy = np.floor(65535.0 * ((y0 + y1) / 2 - ey0) / h) \
            .clip(0, 65535).astype(np.uint32)
        return pd.Series(hilbert_u32(hx, hy).astype(np.int64))

    ordered = boxed.withColumn(
        "_hv", hv("_x0", "_x1", "_y0", "_y1")) \
        .orderBy("_hv", wkt_col)  # secondary key: deterministic fids

    enc_schema = T.StructType([
        T.StructField("pid", T.IntegerType()),
        T.StructField("n", T.LongType()),
        T.StructField("nbytes", T.LongType()),
    ])
    tmp = path + ".parts"
    os.makedirs(tmp, exist_ok=True)
    colnames = [c for c, _ in cols]

    def enc_part(batches):
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        blobs, boxes = [], []
        for pdf in batches:
            for r in pdf.to_dict("records"):
                blobs.append(encode_feature(r[wkt_col], r, cols))
                boxes.append((r["_x0"], r["_y0"], r["_x1"], r["_y1"]))
        data = b"".join(blobs)
        sizes = np.array([len(b) for b in blobs], dtype=np.int64)
        with open(os.path.join(tmp, f"p{pid:05d}.bin"), "wb") as f:
            f.write(data)
        np.savez(os.path.join(tmp, f"p{pid:05d}.npz"),
                 sizes=sizes, boxes=np.array(boxes, dtype=np.float64)
                 if boxes else np.zeros((0, 4)))
        yield pd.DataFrame([{"pid": pid, "n": len(blobs),
                             "nbytes": int(sizes.sum())}])

    parts = ordered.select(wkt_col, *colnames, "_x0", "_x1", "_y0",
                           "_y1").mapInPandas(
        enc_part, schema=enc_schema).toPandas().sort_values("pid")
    boxed.unpersist()

    bounds, total_nodes = _level_bounds(count, node_size)
    leaf_start, _ = bounds[0]
    header = _build_header(name, [ex0, ey0, ex1, ey1], cols, count,
                           node_size)
    index_off = 8 + len(header)
    feat_off = index_off + total_nodes * NODE_BYTES

    # partition cumsum -> each part's first feature index + byte pos
    parts["i0"] = parts["n"].cumsum() - parts["n"]
    parts["b0"] = parts["nbytes"].cumsum() - parts["nbytes"]

    with open(path, "wb") as f:
        f.write(MAGIC)
        f.write(header)
        f.truncate(feat_off + int(parts["nbytes"].sum()))

    # feature slabs + leaf nodes, parallel by part
    pl = blockscan.spread(
        spark, parts[["pid", "i0", "b0"]].values.tolist(),
        "pid int, i0 long, b0 long")

    def wr_part(batches):
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                fn = os.path.join(tmp, f"p{int(r.pid):05d}")
                with open(fn + ".bin", "rb") as f:
                    data = f.read()
                z = np.load(fn + ".npz")
                sizes, boxes = z["sizes"], z["boxes"]
                offs = np.cumsum(sizes) - sizes + int(r.b0)
                fd = os.open(path, os.O_WRONLY)
                try:
                    os.pwrite(fd, data, feat_off + int(r.b0))
                    if total_nodes:
                        nodes = np.zeros(
                            len(sizes),
                            dtype=[("x0", "<f8"), ("y0", "<f8"),
                                   ("x1", "<f8"), ("y1", "<f8"),
                                   ("off", "<u8")])
                        if len(sizes):
                            nodes["x0"], nodes["y0"] = (boxes[:, 0],
                                                        boxes[:, 1])
                            nodes["x1"], nodes["y1"] = (boxes[:, 2],
                                                        boxes[:, 3])
                            nodes["off"] = offs.astype(np.uint64)
                        os.pwrite(
                            fd, nodes.tobytes(),
                            index_off
                            + (leaf_start + int(r.i0)) * NODE_BYTES)
                finally:
                    os.close(fd)
            yield pd.DataFrame({"done": [1]})

    pl.mapInPandas(wr_part, schema="done int").count()

    # upper levels: reduce 16x per round from the just-written level
    if total_nodes:
        child_lo, child_hi = bounds[0]
        for lvl in range(1, len(bounds)):
            par_lo, par_hi = bounds[lvl]
            n_child = child_hi - child_lo

            def build(batches, _clo=child_lo, _plo=par_lo,
                      _n=n_child):
                for pdf in batches:
                    out = []
                    for r in pdf.itertuples(index=False):
                        k0 = int(r.k0)
                        k1 = min(k0 + 4096, _n)
                        with open(path, "rb") as f:
                            f.seek(index_off + (_clo + k0) * NODE_BYTES)
                            raw = f.read((k1 - k0) * NODE_BYTES)
                        ch = np.frombuffer(
                            raw, dtype=[("x0", "<f8"), ("y0", "<f8"),
                                        ("x1", "<f8"), ("y1", "<f8"),
                                        ("off", "<u8")])
                        for p0 in range(0, k1 - k0, node_size):
                            grp = ch[p0:p0 + node_size]
                            out.append({
                                "idx": (k0 + p0) // node_size,
                                "x0": float(grp["x0"].min()),
                                "y0": float(grp["y0"].min()),
                                "x1": float(grp["x1"].max()),
                                "y1": float(grp["y1"].max()),
                                "off": _clo + k0 + p0,
                            })
                    yield pd.DataFrame(
                        out, columns=["idx", "x0", "y0", "x1", "y1",
                                      "off"])

            # chunk 4096 children per task, aligned to node_size
            ks = list(range(0, n_child, 4096))
            kdf = blockscan.spread(spark, [(k,) for k in ks], "k0 long")
            pnodes = kdf.mapInPandas(
                build, schema="idx long, x0 double, y0 double,"
                " x1 double, y1 double, off long").toPandas()

            fd = os.open(path, os.O_WRONLY)
            try:
                for r in pnodes.itertuples(index=False):
                    os.pwrite(
                        fd,
                        struct.pack("<4dQ", r.x0, r.y0, r.x1, r.y1,
                                    int(r.off)),
                        index_off + (par_lo + int(r.idx)) * NODE_BYTES)
            finally:
                os.close(fd)
            child_lo, child_hi = par_lo, par_hi

    for fn in os.listdir(tmp):
        os.remove(os.path.join(tmp, fn))
    os.rmdir(tmp)
    return count


# -------------------------------------------------------------- read
def _search_index(path: str, hdr: dict, bbox) -> np.ndarray:
    """PackedRTree::streamSearch (packedrtree.cpp): descend the
    top-down node array from the root, keeping children whose boxes
    intersect `bbox` — touches O(log n) small node ranges, never the
    leaves of pruned subtrees. Returns the sorted leaf ITEM indices
    (feature ordinals) that intersect."""
    x0, y0, x1, y1 = bbox
    bounds = hdr["level_bounds"]
    node_size = hdr["node_size"]
    dt = [("x0", "<f8"), ("y0", "<f8"), ("x1", "<f8"), ("y1", "<f8"),
          ("off", "<u8")]
    leaf_lo, leaf_hi = bounds[0]
    with open(path, "rb") as f:
        def read_nodes(a, b):
            f.seek(hdr["index_offset"] + a * NODE_BYTES)
            return np.frombuffer(f.read((b - a) * NODE_BYTES), dtype=dt)

        # walk top-down; `front` holds absolute node indices to expand
        front = [0]
        hits = []
        for lvl in range(len(bounds) - 1, -1, -1):
            lo, hi = bounds[lvl]
            cur = sorted(i for i in front if lo <= i < hi)
            front = []
            # coalesce contiguous runs into single reads
            runs = []
            for i in cur:
                if runs and i == runs[-1][1]:
                    runs[-1][1] = i + 1
                else:
                    runs.append([i, i + 1])
            for a, b in runs:
                nodes = read_nodes(a, b)
                keep = ~((nodes["x0"] > x1) | (nodes["x1"] < x0)
                         | (nodes["y0"] > y1) | (nodes["y1"] < y0))
                for k in np.nonzero(keep)[0]:
                    ni = a + int(k)
                    if lvl == 0:
                        hits.append(ni - leaf_lo)
                    else:
                        first = int(nodes["off"][k])
                        front.extend(range(
                            first, min(first + node_size,
                                       bounds[lvl - 1][1])))
    return np.asarray(sorted(hits), dtype=np.int64)


def read_fgb(spark: SparkSession, path: str, *,
             features_per_strip: int = 4096,
             bbox: tuple | None = None) -> DataFrame:
    """Distributed FlatGeobuf scan. With an index, strips of leaf
    nodes give each executor its own feature offsets; without one the
    documented fallback is a single sequential task. `bbox`
    (x0, y0, x1, y1) prunes via the packed R-tree BEFORE planning —
    the driver reads O(log n) node ranges, and only strips containing
    intersecting features are scheduled (an exact per-feature bbox
    re-check runs executor-side)."""
    hdr = read_header(path)
    cols = hdr["cols"]
    fields = [T.StructField("fid", T.LongType()),
              T.StructField("wkt", T.StringType())]
    for cname, ct in cols:
        t = {CT_LONG: T.LongType(), CT_DOUBLE: T.DoubleType(),
             CT_BOOL: T.BooleanType()}.get(ct, T.StringType())
        fields.append(T.StructField(cname, t))
    schema = T.StructType(fields)
    count = hdr["count"]
    size = os.path.getsize(path)

    if hdr["index_bytes"] and count:
        leaf_lo, leaf_hi = hdr["level_bounds"][0]
        if bbox is not None:
            # Hilbert order clusters hits: merge consecutive ordinals
            # into runs (capped at features_per_strip). Leaf boxes ARE
            # exact feature boxes, so the driver prune is exact.
            hit = _search_index(path, hdr, bbox)
            strips = []
            for i in hit:
                i = int(i)
                if strips and i == strips[-1][1] \
                        and strips[-1][1] - strips[-1][0] \
                        < features_per_strip:
                    strips[-1] = (strips[-1][0], i + 1)
                else:
                    strips.append((i, i + 1))
        else:
            strips = [(i, min(i + features_per_strip, count))
                      for i in range(0, count, features_per_strip)]
    else:
        strips = [(0, count)]

    index_off = hdr["index_offset"]
    feat_base = hdr["features_offset"]
    has_index = bool(hdr["index_bytes"])
    leaf_start = hdr["level_bounds"][0][0] if has_index else 0

    seg = blockscan.spread(spark, strips or [(0, 0)], "i0 long, i1 long")

    def scan(batches):
        for pdf in batches:
            rows = []
            with open(path, "rb") as f:
                for r in pdf.itertuples(index=False):
                    i0, i1 = int(r.i0), int(r.i1)
                    if i1 <= i0:
                        continue
                    if has_index:
                        f.seek(index_off
                               + (leaf_start + i0) * NODE_BYTES)
                        raw = f.read((i1 - i0) * NODE_BYTES)
                        nodes = np.frombuffer(
                            raw, dtype=[("x0", "<f8"), ("y0", "<f8"),
                                        ("x1", "<f8"), ("y1", "<f8"),
                                        ("off", "<u8")])
                        start = feat_base + int(nodes["off"][0])
                        if i1 < count:
                            f.seek(index_off
                                   + (leaf_start + i1) * NODE_BYTES
                                   + 32)
                            nxt = struct.unpack(
                                "<Q", f.read(8))[0]
                            end = feat_base + int(nxt)
                        else:
                            end = size
                        f.seek(start)
                        blob = f.read(end - start)
                        offs = (nodes["off"]
                                - nodes["off"][0]).astype(np.int64)
                    else:
                        f.seek(feat_base)
                        blob = f.read()
                        offs = None
                    p = 0
                    k = i0
                    j = 0
                    while p + 4 <= len(blob) and k < i1:
                        if offs is not None:
                            p = int(offs[j])
                        ln = _u32(blob, p)
                        fb = blob[p + 4:p + 4 + ln]
                        g, props = decode_feature(fb, cols)
                        row = {"fid": k,
                               "wkt": GM.to_wkt(g, prec=12)
                               if g else None}
                        for cname, _ in cols:
                            row[cname] = props.get(cname)
                        rows.append(row)
                        p += 4 + ln
                        k += 1
                        j += 1
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return seg.mapInPandas(scan, schema=schema)
