"""Mapbox Vector Tiles (MVT) — distributed encode into MBTiles and
distributed decode.

Reference: gdal/ogr/ogrsf_frmts/mvt —
  - mvt_tile.h:65-69 — geometry command ids (MoveTo=1, LineTo=2,
    ClosePath=7), CommandInteger = (id & 0x7) | (count << 3), zigzag
    parameter deltas, default extent 4096;
  - mvt_tile.cpp — the Tile/Layer/Feature/Value protobuf layout
    (layer field 3; layer: version=15, name=1, features=2, keys=3,
    values=4, extent=5; feature: id=1, tags=2, type=3, geometry=4);
  - ogrmvtdataset.cpp:6102 — writer defaults (BUFFER=80 for extent
    4096, gzip-compressed tiles in MBTiles), per-tile clipping of each
    feature against the buffered tile square, exterior rings CW in
    screen space (y down);
  - mvtutils.cpp — the reading side's layer/feature materialization.

The wire format is the public Mapbox Vector Tile Specification 2.1;
the codec here is written from that spec (plain varint/zigzag
arithmetic over numpy arrays), not from the reference C++.

Spark lowering: encode is a two-stage pipeline —
  1. map-only cover+clip: every feature row parses its WKT once,
     computes its covered tile range at the target zoom (closed-form
     web-mercator arithmetic, cells.py), and emits one row per
     (tile, feature) with the geometry already clipped to that tile's
     buffered square and quantized to tile-integer space. Skewless:
     a huge feature fans out to many tiles, each row independent.
  2. one groupBy (zoom, x, y): assemble the tile — per-layer
     key/value dictionaries, feature records, protobuf layer+tile
     bytes, gzip. This is the ONLY shuffle; its key is the tile, so
     1e9 features over 1e6 tiles spread evenly.
The finished blobs INSERT into MBTiles through the same single-writer
SQLite contract as the raster MBTiles sink (mbtiles.py).

Decode is the exact inverse and map-only: the MBTiles scan plan from
mbtiles.py hands each executor a disjoint tile window; each blob
unzips + parses to feature rows without touching any other tile.
"""

from __future__ import annotations

import gzip
import math
import os
import sqlite3
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import blockscan
from . import geometry as GM

CMD_MOVETO, CMD_LINETO, CMD_CLOSEPATH = 1, 2, 7  # mvt_tile.h:65-67
DEFAULT_EXTENT = 4096                             # mvt_tile.h:69
DEFAULT_BUFFER = 80                               # ogrmvtdataset.cpp:6102
_R = 6378137.0
_ORIGIN = math.pi * _R


# ----------------------------------------------------------- protobuf
def _varint(n: int) -> bytes:
    out = bytearray()
    n &= (1 << 64) - 1
    while True:
        b = n & 0x7F
        n >>= 7
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def _zz(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _field(num: int, wire: int) -> bytes:
    return _varint((num << 3) | wire)


def _len_delim(num: int, payload: bytes) -> bytes:
    return _field(num, 2) + _varint(len(payload)) + payload


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    res, shift = 0, 0
    while True:
        b = buf[pos]
        pos += 1
        res |= (b & 0x7F) << shift
        if not b & 0x80:
            return res, pos
        shift += 7


def _unzz(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


# ----------------------------------------------------- geometry codec
def _encode_geom(kind: str, parts: list[tuple[np.ndarray, np.ndarray]]
                 ) -> tuple[int, bytes]:
    """Tile-integer parts -> (mvt type, packed command varints).
    Points: one MoveTo(count); lines: MoveTo(1)+LineTo(n-1) per part;
    polygons: ring commands + ClosePath, last vertex (== first)
    dropped per spec."""
    cx = cy = 0
    out = bytearray()

    def params(xs, ys):
        nonlocal cx, cy
        for x, y in zip(xs.tolist(), ys.tolist()):
            out.extend(_varint(_zz(x - cx)))
            out.extend(_varint(_zz(y - cy)))
            cx, cy = x, y

    if kind == "point":
        xs, ys = parts[0]
        out.extend(_varint((CMD_MOVETO & 7) | (len(xs) << 3)))
        params(xs, ys)
        return 1, bytes(out)
    if kind == "line":
        for xs, ys in parts:
            out.extend(_varint((CMD_MOVETO & 7) | (1 << 3)))
            params(xs[:1], ys[:1])
            out.extend(_varint((CMD_LINETO & 7) | ((len(xs) - 1) << 3)))
            params(xs[1:], ys[1:])
        return 2, bytes(out)
    # polygon: rings arrive closed; emit without the closing vertex
    for xs, ys in parts:
        if xs[0] == xs[-1] and ys[0] == ys[-1]:
            xs, ys = xs[:-1], ys[:-1]
        out.extend(_varint((CMD_MOVETO & 7) | (1 << 3)))
        params(xs[:1], ys[:1])
        out.extend(_varint((CMD_LINETO & 7) | ((len(xs) - 1) << 3)))
        params(xs[1:], ys[1:])
        out.extend(_varint(CMD_CLOSEPATH & 7 | (1 << 3)))
    return 3, bytes(out)


def _decode_geom(gtype: int, data: list[int]
                 ) -> list[tuple[list[int], list[int]]]:
    parts, cur_x, cur_y = [], 0, 0
    xs: list[int] = []
    ys: list[int] = []
    i = 0
    while i < len(data):
        cmd = data[i]
        i += 1
        cid, cnt = cmd & 7, cmd >> 3
        if cid == CMD_MOVETO:
            for _ in range(cnt):
                cur_x += _unzz(data[i])
                cur_y += _unzz(data[i + 1])
                i += 2
                if gtype == 1:
                    parts.append(([cur_x], [cur_y]))
                else:
                    if xs:
                        parts.append((xs, ys))
                    xs, ys = [cur_x], [cur_y]
        elif cid == CMD_LINETO:
            for _ in range(cnt):
                cur_x += _unzz(data[i])
                cur_y += _unzz(data[i + 1])
                i += 2
                xs.append(cur_x)
                ys.append(cur_y)
        elif cid == CMD_CLOSEPATH:
            xs.append(xs[0])
            ys.append(ys[0])
    if xs and gtype != 1:
        parts.append((xs, ys))
    return parts


# -------------------------------------------------------------- clip
def _clip_line(xs, ys, lo, hi):
    """Liang–Barsky per segment against the square [lo,hi]^2; returns
    the list of surviving polyline pieces."""
    pieces, cur_x, cur_y = [], [], []
    for i in range(len(xs) - 1):
        x0, y0, x1, y1 = xs[i], ys[i], xs[i + 1], ys[i + 1]
        dx, dy = x1 - x0, y1 - y0
        t0, t1 = 0.0, 1.0
        ok = True
        for p, q in ((-dx, x0 - lo), (dx, hi - x0),
                     (-dy, y0 - lo), (dy, hi - y0)):
            if p == 0:
                if q < 0:
                    ok = False
                    break
            else:
                r = q / p
                if p < 0:
                    t0 = max(t0, r)
                else:
                    t1 = min(t1, r)
        if not ok or t0 > t1:
            if cur_x:
                pieces.append((np.asarray(cur_x), np.asarray(cur_y)))
                cur_x, cur_y = [], []
            continue
        ax, ay = x0 + t0 * dx, y0 + t0 * dy
        bx, by = x0 + t1 * dx, y0 + t1 * dy
        if not cur_x or cur_x[-1] != ax or cur_y[-1] != ay:
            if cur_x:
                pieces.append((np.asarray(cur_x), np.asarray(cur_y)))
            cur_x, cur_y = [ax], [ay]
        cur_x.append(bx)
        cur_y.append(by)
    if cur_x:
        pieces.append((np.asarray(cur_x), np.asarray(cur_y)))
    return [(px, py) for px, py in pieces if len(px) >= 2]


def _clip_ring(xs, ys, lo, hi):
    """Sutherland–Hodgman against the square (convex clip)."""
    pts = list(zip(xs, ys))
    if pts and pts[0] == pts[-1]:
        pts = pts[:-1]
    for edge in range(4):
        if not pts:
            return None
        out = []
        for i, (x, y) in enumerate(pts):
            px, py = pts[i - 1]
            if edge == 0:
                cin, pin = x >= lo, px >= lo
            elif edge == 1:
                cin, pin = x <= hi, px <= hi
            elif edge == 2:
                cin, pin = y >= lo, py >= lo
            else:
                cin, pin = y <= hi, py <= hi
            if cin != pin:
                if edge < 2:
                    bx = lo if edge == 0 else hi
                    t = (bx - px) / (x - px)
                    out.append((bx, py + t * (y - py)))
                else:
                    by = lo if edge == 2 else hi
                    t = (by - py) / (y - py)
                    out.append((px + t * (x - px), by))
            if cin:
                out.append((x, y))
        pts = out
    if len(pts) < 3:
        return None
    xs = np.asarray([p[0] for p in pts] + [pts[0][0]])
    ys = np.asarray([p[1] for p in pts] + [pts[0][1]])
    return xs, ys


# ------------------------------------------------------------ encode
_CLIP_SCHEMA = T.StructType([
    T.StructField("zoom", T.IntegerType()),
    T.StructField("x", T.IntegerType()),
    T.StructField("y", T.IntegerType()),
    T.StructField("layer", T.StringType()),
    T.StructField("fid", T.LongType()),
    T.StructField("gtype", T.IntegerType()),
    T.StructField("geom", T.BinaryType()),
    T.StructField("props", T.MapType(T.StringType(), T.StringType())),
])


def _cover_clip_factory(zoom: int, extent: int, buf: int):
    n_tiles = 1 << zoom
    tile_size = 2.0 * _ORIGIN / n_tiles
    buf_m = buf / extent * tile_size

    def run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    g = GM.parse_wkt(r.wkt)
                except Exception:
                    continue
                if g.kind in ("polygon", "multipolygon"):
                    flat = [ring for poly in g.parts for ring in poly]
                else:
                    flat = g.parts
                merc = []
                for xs, ys in flat:
                    xs = np.asarray(xs, dtype=np.float64)
                    ys = np.asarray(ys, dtype=np.float64)
                    mx = xs * _ORIGIN / 180.0
                    my = np.log(np.tan((90.0 + ys) * math.pi / 360.0)) \
                        * _R
                    merc.append((mx, my))
                gx0 = min(m[0].min() for m in merc) - buf_m
                gx1 = max(m[0].max() for m in merc) + buf_m
                gy0 = min(m[1].min() for m in merc) - buf_m
                gy1 = max(m[1].max() for m in merc) + buf_m
                tx0 = max(0, int((gx0 + _ORIGIN) // tile_size))
                tx1 = min(n_tiles - 1, int((gx1 + _ORIGIN) // tile_size))
                ty0 = max(0, int((_ORIGIN - gy1) // tile_size))
                ty1 = min(n_tiles - 1, int((_ORIGIN - gy0) // tile_size))
                kind = ("point" if g.kind in ("point", "multipoint")
                        else "line" if g.kind in ("linestring",
                                                  "multilinestring")
                        else "poly")
                for tx in range(tx0, tx1 + 1):
                    for ty in range(ty0, ty1 + 1):
                        x0 = -_ORIGIN + tx * tile_size
                        ytop = _ORIGIN - ty * tile_size
                        lo, hi = -float(buf), extent + float(buf)
                        parts = []
                        for mx, my in merc:
                            # tile-unit float coords (y down)
                            ux = (mx - x0) / tile_size * extent
                            uy = (ytop - my) / tile_size * extent
                            if kind == "point":
                                keep = ((ux >= lo) & (ux <= hi)
                                        & (uy >= lo) & (uy <= hi))
                                if keep.any():
                                    parts.append((ux[keep], uy[keep]))
                            elif kind == "line":
                                parts.extend(
                                    _clip_line(ux, uy, lo, hi))
                            else:
                                c = _clip_ring(ux, uy, lo, hi)
                                if c is not None:
                                    parts.append(c)
                        iparts = []
                        for ux, uy in parts:
                            qx = np.rint(ux).astype(np.int64)
                            qy = np.rint(uy).astype(np.int64)
                            if len(qx) > 1:
                                keep = np.ones(len(qx), dtype=bool)
                                keep[1:] = ((np.diff(qx) != 0)
                                            | (np.diff(qy) != 0))
                                qx, qy = qx[keep], qy[keep]
                            if kind == "point" and len(qx):
                                iparts.append((qx, qy))
                            elif kind == "line" and len(qx) >= 2:
                                iparts.append((qx, qy))
                            elif kind == "poly":
                                if (len(qx) >= 2 and qx[0] == qx[-1]
                                        and qy[0] == qy[-1]):
                                    qx, qy = qx[:-1], qy[:-1]
                                if len(qx) >= 3:
                                    iparts.append(
                                        (np.append(qx, qx[0]),
                                         np.append(qy, qy[0])))
                        if not iparts:
                            continue
                        gt, geom = _encode_geom(kind, iparts)
                        rows.append({
                            "zoom": zoom, "x": tx, "y": ty,
                            "layer": r.layer, "fid": int(r.fid),
                            "gtype": gt, "geom": geom,
                            "props": dict(r.props or {}),
                        })
            yield pd.DataFrame(
                rows, columns=[f.name for f in _CLIP_SCHEMA])

    return run


def _encode_value(v: str) -> bytes:
    return _len_delim(1, v.encode("utf-8"))  # string_value


def _encode_layer(name: str, feats: list[dict], extent: int) -> bytes:
    keys: list[str] = []
    vals: list[str] = []
    kidx: dict[str, int] = {}
    vidx: dict[str, int] = {}
    body = bytearray()
    for ft in feats:
        tags = bytearray()
        for k, v in sorted((ft["props"] or {}).items()):
            if v is None:
                continue
            if k not in kidx:
                kidx[k] = len(keys)
                keys.append(k)
            if v not in vidx:
                vidx[v] = len(vals)
                vals.append(v)
            tags.extend(_varint(kidx[k]))
            tags.extend(_varint(vidx[v]))
        f = bytearray()
        f.extend(_field(1, 0))
        f.extend(_varint(ft["fid"]))
        if tags:
            f.extend(_len_delim(2, bytes(tags)))
        f.extend(_field(3, 0))
        f.extend(_varint(ft["gtype"]))
        f.extend(_len_delim(4, bytes(ft["geom"])))
        body.extend(_len_delim(2, bytes(f)))
    out = bytearray()
    out.extend(_field(15, 0))
    out.extend(_varint(2))  # version
    out.extend(_len_delim(1, name.encode("utf-8")))
    out.extend(bytes(body))
    for k in keys:
        out.extend(_len_delim(3, k.encode("utf-8")))
    for v in vals:
        out.extend(_len_delim(4, _encode_value(v)))
    out.extend(_field(5, 0))
    out.extend(_varint(extent))
    return bytes(out)


def write_mvt_mbtiles(features: DataFrame, path: str, zoom: int, *,
                      extent: int = DEFAULT_EXTENT,
                      buffer: int = DEFAULT_BUFFER,
                      name: str | None = None,
                      compress: bool = True,
                      max_zoom: int | None = None) -> int:
    """Distributed MVT encoder -> MBTiles (ogrmvtdataset.cpp writer,
    MVT spec 2.1). `features`: (layer string, fid long, wkt string,
    props map<string,string>) in EPSG:4326. Geometry clips to each
    covered tile's buffered square (BUFFER in extent units, default
    80/4096 like the reference), quantizes to tile integers, and one
    tile-keyed shuffle assembles gzip'd protobuf blobs. Returns the
    tile count.

    `max_zoom` turns the sink into a PYRAMID (the reference's
    MINZOOM/MAXZOOM options): each level is an independent cover+clip
    map over the same source — coarser zooms simplify for free through
    integer quantization (consecutive duplicate vertices collapse),
    the same effect the reference gets from its per-zoom tolerance.
    The source is read once per level; levels union into one clipped
    relation, so the tile shuffle stays a single exchange for the
    whole pyramid."""
    zooms = list(range(zoom, (max_zoom if max_zoom is not None
                              else zoom) + 1))
    src = features.select("layer", "fid", "wkt", "props")
    if len(zooms) > 1:
        src = src.cache()
    clipped = None
    for z in zooms:
        part = src.mapInPandas(
            _cover_clip_factory(z, extent, buffer), schema=_CLIP_SCHEMA)
        clipped = part if clipped is None else clipped.unionByName(part)

    out_schema = T.StructType([
        T.StructField("zoom", T.IntegerType()),
        T.StructField("x", T.IntegerType()),
        T.StructField("y", T.IntegerType()),
        T.StructField("blob", T.BinaryType()),
    ])

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tile = bytearray()
        for layer, sub in sorted(pdf.groupby("layer")):
            feats = [
                {"fid": int(r.fid), "gtype": int(r.gtype),
                 "geom": bytes(r.geom), "props": r.props}
                for r in sub.sort_values("fid").itertuples(index=False)
            ]
            tile.extend(_len_delim(3, _encode_layer(layer, feats,
                                                    extent)))
        blob = bytes(tile)
        if compress:
            blob = gzip.compress(blob, mtime=0)
        return pd.DataFrame([{"zoom": int(key[0]), "x": int(key[1]),
                              "y": int(key[2]), "blob": blob}])

    encoded = clipped.groupBy("zoom", "x", "y") \
        .applyInPandas(assemble, schema=out_schema).toPandas()

    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    try:
        con.executescript(
            "CREATE TABLE metadata (name TEXT, value TEXT);\n"
            "CREATE TABLE tiles (zoom_level INTEGER, tile_column INTEGER,"
            " tile_row INTEGER, tile_data BLOB);\n"
            "CREATE UNIQUE INDEX tile_index ON tiles "
            "(zoom_level, tile_column, tile_row);\n")
        for k, v in [("name", name or os.path.basename(path)),
                     ("format", "pbf"), ("version", "1.1"),
                     ("type", "overlay"),
                     ("minzoom", str(zooms[0])),
                     ("maxzoom", str(zooms[-1]))]:
            con.execute("INSERT INTO metadata VALUES (?, ?)", (k, v))
        for r in encoded.itertuples(index=False):
            tms = (1 << int(r.zoom)) - 1 - int(r.y)
            con.execute("INSERT INTO tiles VALUES (?, ?, ?, ?)",
                        (int(r.zoom), int(r.x), tms,
                         sqlite3.Binary(bytes(r.blob))))
        con.commit()
        return len(encoded)
    finally:
        con.close()


# ------------------------------------------------------------ decode
_FEAT_SCHEMA = T.StructType([
    T.StructField("zoom", T.IntegerType()),
    T.StructField("x", T.IntegerType()),
    T.StructField("y", T.IntegerType()),
    T.StructField("layer", T.StringType()),
    T.StructField("fid", T.LongType()),
    T.StructField("gtype", T.IntegerType()),
    T.StructField("part", T.IntegerType()),
    T.StructField("xs", T.ArrayType(T.LongType())),
    T.StructField("ys", T.ArrayType(T.LongType())),
    T.StructField("props", T.MapType(T.StringType(), T.StringType())),
])


def _parse_value(buf: bytes) -> str:
    pos = 0
    while pos < len(buf):
        tag, pos = _read_varint(buf, pos)
        fnum, wire = tag >> 3, tag & 7
        if fnum == 1 and wire == 2:
            ln, pos = _read_varint(buf, pos)
            return buf[pos:pos + ln].decode("utf-8")
        if wire == 0:
            v, pos = _read_varint(buf, pos)
            if fnum == 6:
                v = _unzz(v)
            if fnum == 7:
                return "true" if v else "false"
            return str(v)
        if wire == 5:
            return str(struct.unpack_from("<f", buf, pos)[0])
        if wire == 1:
            return str(struct.unpack_from("<d", buf, pos)[0])
    return ""


def parse_mvt_blob(blob: bytes):
    """One tile blob -> [(layer, fid, gtype, [(xs, ys), ...], props)]."""
    if blob[:2] == b"\x1f\x8b":
        blob = gzip.decompress(blob)
    out = []
    pos = 0
    while pos < len(blob):
        tag, pos = _read_varint(blob, pos)
        if tag >> 3 == 3 and (tag & 7) == 2:
            ln, pos = _read_varint(blob, pos)
            lbuf = blob[pos:pos + ln]
            pos += ln
            name, keys, vals, feats = "", [], [], []
            p = 0
            while p < len(lbuf):
                t, p = _read_varint(lbuf, p)
                fn, wire = t >> 3, t & 7
                if wire == 2:
                    sz, p = _read_varint(lbuf, p)
                    payload = lbuf[p:p + sz]
                    p += sz
                    if fn == 1:
                        name = payload.decode("utf-8")
                    elif fn == 3:
                        keys.append(payload.decode("utf-8"))
                    elif fn == 4:
                        vals.append(_parse_value(payload))
                    elif fn == 2:
                        feats.append(payload)
                else:
                    _, p = _read_varint(lbuf, p)
            for fbuf in feats:
                fid, gtype, tags, geom = 0, 0, [], []
                q = 0
                while q < len(fbuf):
                    t, q = _read_varint(fbuf, q)
                    fn, wire = t >> 3, t & 7
                    if fn == 1 and wire == 0:
                        fid, q = _read_varint(fbuf, q)
                    elif fn == 3 and wire == 0:
                        gtype, q = _read_varint(fbuf, q)
                    elif wire == 2:
                        sz, q = _read_varint(fbuf, q)
                        sub = fbuf[q:q + sz]
                        q += sz
                        vv, sp = [], 0
                        while sp < len(sub):
                            v, sp = _read_varint(sub, sp)
                            vv.append(v)
                        if fn == 2:
                            tags = vv
                        elif fn == 4:
                            geom = vv
                    else:
                        _, q = _read_varint(fbuf, q)
                props = {keys[tags[i]]: vals[tags[i + 1]]
                         for i in range(0, len(tags), 2)}
                parts = _decode_geom(gtype, geom)
                out.append((name, fid, gtype, parts, props))
        else:
            if (tag & 7) == 2:
                ln, pos = _read_varint(blob, pos)
                pos += ln
            else:
                _, pos = _read_varint(blob, pos)
    return out


def read_mvt_mbtiles(spark: SparkSession, path: str,
                     zoom: int | None = None) -> DataFrame:
    """Distributed MVT decode: the same index-ranged MBTiles scan as
    the raster reader (mbtiles.py), pbf-decoding instead of PNG — one
    row per feature part with tile-integer coordinates. Map-only."""
    from .mbtiles import _catalog

    meta, extents = _catalog(path)
    zooms = sorted(extents)
    if zoom is not None:
        zooms = [z for z in zooms if z == zoom]
    windows = []
    for z in zooms:
        lo, hi, n = extents[z]
        step = max(1, (hi - lo + 1) // 64)
        c = lo
        while c <= hi:
            windows.append((z, c, min(c + step - 1, hi)))
            c += step
    seg = blockscan.spread(spark, windows or [(0, 0, -1)],
                           "z int, c0 int, c1 int")

    def scan(batches):
        con = sqlite3.connect(f"file:{path}?mode=ro&immutable=1",
                              uri=True)
        try:
            for pdf in batches:
                rows = []
                for r in pdf.itertuples(index=False):
                    for zz, col, trow, blob in con.execute(
                        "SELECT zoom_level, tile_column, tile_row,"
                        " tile_data FROM tiles WHERE zoom_level = ?"
                        " AND tile_column BETWEEN ? AND ?",
                            (int(r.z), int(r.c0), int(r.c1))):
                        y = (1 << int(zz)) - 1 - int(trow)
                        for (layer, fid, gtype, parts,
                             props) in parse_mvt_blob(bytes(blob)):
                            for pi, (xs, ys) in enumerate(parts):
                                rows.append({
                                    "zoom": int(zz), "x": int(col),
                                    "y": y, "layer": layer,
                                    "fid": int(fid),
                                    "gtype": int(gtype), "part": pi,
                                    "xs": [int(v) for v in xs],
                                    "ys": [int(v) for v in ys],
                                    "props": props,
                                })
                yield pd.DataFrame(
                    rows, columns=[f.name for f in _FEAT_SCHEMA])
        finally:
            con.close()

    return seg.mapInPandas(scan, schema=_FEAT_SCHEMA)
