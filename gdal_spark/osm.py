"""OSM PBF reader — block-parallel scan of .osm.pbf files.

Reference: gdal/ogr/ogrsf_frmts/osm —
  - osm_parser.cpp — the PBF decode the reader mirrors: the file is a
    sequence of [int32-BE BlobHeader length | BlobHeader | Blob]
    records; BlobHeader.type is "OSMHeader" or "OSMData";
    Blob carries raw (field 1) or raw_size + zlib_data (fields 2/3);
    a PrimitiveBlock holds a string table, granularity (default 100),
    lat/lon offsets, and PrimitiveGroups of DenseNodes / Ways /
    Relations; DenseNodes pack id/lat/lon as DELTA-coded signed
    varints with tags as interleaved key/val string indices
    terminated by 0; Way refs are delta-coded sint64.
    lat = 1e-9 * (lat_offset + granularity * cum(lat_delta)).
  - ogrosmdatasource.cpp — the five-layer surface (points, lines,
    multipolygons, ...); here the decode surface is the raw three:
    nodes / ways / relations, each a DataFrame.
  The wire format is the public OSM PBF specification
  (wiki.openstreetmap.org/wiki/PBF_Format).

Spark lowering: every Blob is INDEPENDENTLY decodable (own zlib
stream, own string table) — the format is parquet-row-group-shaped by
design. The driver does ONE metadata pass reading just the 4-byte
lengths + BlobHeaders (seeking over blob payloads), emits a block
descriptor table, and executors inflate + decode their blocks. The
reference parses the same stream sequentially on one thread
(osm_parser.cpp); here a planet file scans at cluster width. The
writer exists for synthesis/testing only (the reference driver is
read-only too) and is a documented driver-side small sink.
"""

from __future__ import annotations

import os
import struct
import zlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import blockscan
from .mvt import _read_varint, _unzz, _varint, _zz


def _field_iter(buf: bytes):
    """(field_no, wire, value_or_bytes) for one protobuf message."""
    pos = 0
    n = len(buf)
    while pos < n:
        tag, pos = _read_varint(buf, pos)
        fn, wire = tag >> 3, tag & 7
        if wire == 0:
            v, pos = _read_varint(buf, pos)
            yield fn, 0, v
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            yield fn, 2, buf[pos:pos + ln]
            pos += ln
        elif wire == 5:
            yield fn, 5, buf[pos:pos + 4]
            pos += 4
        elif wire == 1:
            yield fn, 1, buf[pos:pos + 8]
            pos += 8
        else:
            raise ValueError(f"bad wire type {wire}")


def _packed_varints(buf: bytes) -> list[int]:
    out, pos = [], 0
    while pos < len(buf):
        v, pos = _read_varint(buf, pos)
        out.append(v)
    return out


def _delta_sint(vals: list[int]) -> list[int]:
    out, acc = [], 0
    for v in vals:
        acc += _unzz(v)
        out.append(acc)
    return out


# ------------------------------------------------------------ planner
def scan_blocks(path: str) -> list[tuple[int, int, str]]:
    """Metadata pass: [(blob_offset, blob_size, type)] — reads only
    the 4-byte lengths and BlobHeaders, seeks over payloads."""
    out = []
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        while f.tell() < size:
            raw = f.read(4)
            if len(raw) < 4:
                break
            hlen = struct.unpack(">i", raw)[0]
            hdr = f.read(hlen)
            btype, bsize = "", 0
            for fn, wire, v in _field_iter(hdr):
                if fn == 1 and wire == 2:
                    btype = v.decode("utf-8")
                elif fn == 3 and wire == 0:
                    bsize = v
            off = f.tell()
            out.append((off, bsize, btype))
            f.seek(off + bsize)
    return out


def _inflate_blob(blob: bytes) -> bytes:
    raw, zdata = None, None
    for fn, wire, v in _field_iter(blob):
        if fn == 1 and wire == 2:
            raw = v
        elif fn == 3 and wire == 2:
            zdata = v
    if raw is not None:
        return bytes(raw)
    return zlib.decompress(zdata)


# ------------------------------------------------------------- decode
def _decode_block(data: bytes):
    """PrimitiveBlock -> (nodes, ways, relations) row dicts."""
    strings: list[str] = []
    groups = []
    gran, lat_off, lon_off = 100, 0, 0
    for fn, wire, v in _field_iter(data):
        if fn == 1 and wire == 2:  # stringtable
            for sf, sw, sv in _field_iter(v):
                if sf == 1 and sw == 2:
                    strings.append(sv.decode("utf-8", "replace"))
        elif fn == 2 and wire == 2:
            groups.append(v)
        elif fn == 17:
            gran = v
        elif fn == 19:
            lat_off = v
        elif fn == 20:
            lon_off = v
    nodes, ways, rels = [], [], []
    for g in groups:
        for fn, wire, v in _field_iter(g):
            if fn == 2 and wire == 2:  # DenseNodes
                ids = lats = lons = kv = None
                for df, dw, dv in _field_iter(v):
                    if df == 1:
                        ids = _delta_sint(_packed_varints(dv))
                    elif df == 8:
                        lats = _delta_sint(_packed_varints(dv))
                    elif df == 9:
                        lons = _delta_sint(_packed_varints(dv))
                    elif df == 10:
                        kv = _packed_varints(dv)
                tagsets: list[dict] = []
                if kv:
                    cur: dict = {}
                    i = 0
                    while i < len(kv):
                        if kv[i] == 0:
                            tagsets.append(cur)
                            cur = {}
                            i += 1
                        else:
                            cur[strings[kv[i]]] = strings[kv[i + 1]]
                            i += 2
                for j, nid in enumerate(ids or []):
                    nodes.append({
                        "id": nid,
                        "lat": 1e-9 * (lat_off + gran * lats[j]),
                        "lon": 1e-9 * (lon_off + gran * lons[j]),
                        "tags": tagsets[j] if j < len(tagsets) else {},
                    })
            elif fn == 3 and wire == 2:  # Way
                wid, keys, vals, refs = 0, [], [], []
                for wf, ww, wv in _field_iter(v):
                    if wf == 1:
                        wid = wv
                    elif wf == 2:
                        keys = _packed_varints(wv)
                    elif wf == 3:
                        vals = _packed_varints(wv)
                    elif wf == 8:
                        refs = _delta_sint(_packed_varints(wv))
                ways.append({
                    "id": wid, "refs": refs,
                    "tags": {strings[k]: strings[x]
                             for k, x in zip(keys, vals)},
                })
            elif fn == 4 and wire == 2:  # Relation
                rid, keys, vals = 0, [], []
                roles, memids, types = [], [], []
                for rf, rw, rv in _field_iter(v):
                    if rf == 1:
                        rid = rv
                    elif rf == 2:
                        keys = _packed_varints(rv)
                    elif rf == 3:
                        vals = _packed_varints(rv)
                    elif rf == 8:
                        roles = _packed_varints(rv)
                    elif rf == 9:
                        memids = _delta_sint(_packed_varints(rv))
                    elif rf == 10:
                        types = _packed_varints(rv)
                rels.append({
                    "id": rid,
                    "member_ids": memids,
                    "member_types": [int(t) for t in types],
                    "member_roles": [strings[r] for r in roles],
                    "tags": {strings[k]: strings[x]
                             for k, x in zip(keys, vals)},
                })
    return nodes, ways, rels


_NODE_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("lat", T.DoubleType()),
    T.StructField("lon", T.DoubleType()),
    T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
])
_WAY_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("refs", T.ArrayType(T.LongType())),
    T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
])
_REL_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("member_ids", T.ArrayType(T.LongType())),
    T.StructField("member_types", T.ArrayType(T.IntegerType())),
    T.StructField("member_roles", T.ArrayType(T.StringType())),
    T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
])


def read_osm_pbf(spark: SparkSession, path: str,
                 layer: str = "nodes") -> DataFrame:
    """Distributed .osm.pbf scan: driver block index (metadata-only
    pass) -> executor inflate+decode. layer in nodes | ways |
    relations."""
    schema, pick = {
        "nodes": (_NODE_SCHEMA, 0), "ways": (_WAY_SCHEMA, 1),
        "relations": (_REL_SCHEMA, 2),
    }[layer]
    blocks = [(o, s) for o, s, t in scan_blocks(path) if t == "OSMData"]

    seg = blockscan.spread(spark, blocks or [(0, 0)], "off long, size long")

    def scan(batches):
        with open(path, "rb") as f:
            for pdf in batches:
                rows = []
                for r in pdf.itertuples(index=False):
                    if r.size <= 0:
                        continue
                    f.seek(int(r.off))
                    data = _inflate_blob(f.read(int(r.size)))
                    rows.extend(_decode_block(data)[pick])
                yield pd.DataFrame(
                    rows, columns=[fl.name for fl in schema])

    return seg.mapInPandas(scan, schema=schema)


# --------------------------------------------------- synthesis writer
def write_osm_pbf(path: str, nodes: list[dict],
                  ways: list[dict] | None = None, *,
                  granularity: int = 1,
                  nodes_per_block: int = 8000) -> None:
    """Synthesis sink for the reader (the reference's OSM driver is
    read-only, ogrosmdatasource.cpp — this exists to build test and
    benchmark inputs). Driver-side, documented small sink; nodes
    quantize at `granularity` nanodegrees like the spec."""
    def stringtable(strs: list[str]) -> bytes:
        body = b"".join(
            b"\x0a" + _varint(len(s.encode())) + s.encode()
            for s in strs)
        return b"\x0a" + _varint(len(body)) + body

    def packed(field: int, vals) -> bytes:
        body = b"".join(_varint(v) for v in vals)
        return bytes([(field << 3) | 2]) + _varint(len(body)) + body

    def block_bytes(chunk: list[dict], wchunk: list[dict]) -> bytes:
        strs = [""]
        sidx = {}

        def s_id(s: str) -> int:
            if s not in sidx:
                sidx[s] = len(strs)
                strs.append(s)
            return sidx[s]

        groups = []
        if chunk:
            ids, lats, lons, kv = [], [], [], []
            pid = plat = plon = 0
            for nd in chunk:
                # round-half-up via floor(x + 0.5): correct for both
                # signs (floor(x - 0.5) would shift negatives a unit)
                nano_lat = int((nd["lat"] * 1e9 + 0.5) // 1)
                nano_lon = int((nd["lon"] * 1e9 + 0.5) // 1)
                glat, glon = nano_lat // granularity, \
                    nano_lon // granularity
                ids.append(_zz(nd["id"] - pid))
                lats.append(_zz(glat - plat))
                lons.append(_zz(glon - plon))
                pid, plat, plon = nd["id"], glat, glon
                for k, v in (nd.get("tags") or {}).items():
                    kv += [s_id(k), s_id(v)]
                kv.append(0)
            dense = packed(1, ids) + packed(8, lats) + packed(9, lons) \
                + packed(10, kv)
            groups.append(b"\x12" + _varint(len(dense)) + dense)
        for w in wchunk or []:
            keys = [s_id(k) for k in (w.get("tags") or {})]
            vals = [s_id(v) for v in (w.get("tags") or {}).values()]
            refs, prev = [], 0
            for rf in w["refs"]:
                refs.append(_zz(rf - prev))
                prev = rf
            wb = b"\x08" + _varint(w["id"])
            if keys:
                wb += packed(2, keys) + packed(3, vals)
            wb += packed(8, refs)
            groups.append(b"\x1a" + _varint(len(wb)) + wb)
        # each `groups` entry is a PrimitiveGroup BODY (one dense/way
        # field); wrap each as a primitivegroup (block field 2)
        pg = b"".join(b"\x12" + _varint(len(g)) + g for g in groups)
        body = stringtable(strs) + pg
        body += b"\x88\x01" + _varint(granularity)  # field 17
        return body

    def blob_record(btype: str, payload: bytes) -> bytes:
        z = zlib.compress(payload)
        blob = (b"\x10" + _varint(len(payload))
                + b"\x1a" + _varint(len(z)) + z)
        hdr = (b"\x0a" + _varint(len(btype.encode())) + btype.encode()
               + b"\x18" + _varint(len(blob)))
        return struct.pack(">i", len(hdr)) + hdr + blob

    with open(path, "wb") as f:
        f.write(blob_record("OSMHeader", b""))
        i = 0
        ways = list(ways or [])
        first = True
        while i < len(nodes) or first:
            chunk = nodes[i:i + nodes_per_block]
            wchunk = ways if i + nodes_per_block >= len(nodes) else []
            f.write(blob_record("OSMData",
                                block_bytes(chunk, wchunk)))
            i += nodes_per_block
            first = False
            if i >= len(nodes):
                break


def osm_lines(nodes: DataFrame, ways: DataFrame) -> DataFrame:
    """The reference OSM driver's `lines` layer
    (ogrosmdatasource.cpp: ways resolved against the node cache into
    linestrings). The reference resolves refs through an on-disk
    node DB on one machine; here it is the natural big-big equi-join:
    explode way refs (keeping order), shuffle once on node id to
    attach coordinates, shuffle once on way id to reassemble in ref
    order (sort_array over a collected struct — per-way state only).
    Ways with missing nodes drop those vertices, like the reference's
    partial-way handling."""
    from pyspark.sql import functions as F

    refs = ways.select(
        F.col("id").alias("way_id"), "tags",
        F.posexplode("refs").alias("seq", "node_id"))
    joined = refs.join(
        nodes.select(F.col("id").alias("node_id"), "lon", "lat"),
        on="node_id")
    asm = joined.groupBy("way_id").agg(
        F.sort_array(F.collect_list(F.struct("seq", "lon", "lat")))
        .alias("pts"),
        F.first("tags").alias("tags"),
    )
    body = F.concat_ws(", ", F.transform(
        F.col("pts"),
        lambda p: F.concat_ws(" ", p["lon"].cast("string"),
                              p["lat"].cast("string"))))
    return asm.filter(F.size("pts") >= 2).select(
        F.col("way_id").alias("id"),
        F.concat(F.lit("LINESTRING ("), body, F.lit(")")).alias("wkt"),
        F.size("pts").alias("n_points"), "tags",
    )
