"""Vector drivers: TopoJSON, Arc/Info Generate (ARCGEN), GMT ASCII.

Reference:
  - ogr/ogrsf_frmts/geojson/ogrtopojsonreader.cpp — Topology object:
    optional `transform` (quantized arcs delta-decode as cumulative
    sums x=(Σdx)*scale+translate; POINT coordinates quantize without
    deltas; no transform = absolute positions), `objects` as dict or
    list, GeometryCollection objects with a `geometries` array
    become their own layer (named by key or `id`), every other
    geometry falls into the "TopoJSON" layer; arc index ~i (negative)
    reverses the arc; subsequent arcs in a line/ring drop their
    first (junction) point; a `coordinates`/`arcs` member must be a
    JSON array for a feature to be emitted at all, and any
    malformed arc reference yields the EMPTY geometry (behavior
    pinned by autotest/ogr/ogr_topojson.py's 35-case table, which
    this module reproduces verbatim in tests).  libjson-c tolerates
    trailing commas; a fallback strip mirrors that.
  - ogr/ogrsf_frmts/arcgen/ — coordinate-only text: 3/4 tokens on
    the first line = Point/Point25D file of `id,x,y[,z]` rows; else
    records `id / x,y[,z]... / END` closed first==last = Polygon,
    else LineString (type sniff ograrcgendatasource.cpp :127-205).
  - ogr/ogrsf_frmts/gmt/ — `# @` header (VGMT version, @G geometry
    type, @N/@T field names/types), features begin `>` with an @D
    attribute row; a `>` WITHOUT @D continues the previous feature
    as another part of its multi-geometry.

Spark lowering: all three are whole-file text formats (records span
lines) — the FILE is the distributed unit (the xmlvec/MIF
contract): directories of files scan in parallel, each file parses
in one vectorized kernel.  Zero shuffles.
"""

from __future__ import annotations

import json
import os
import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import blockscan
from .fmt import fmt_coord, fmt_xy


def _files_of(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(os.path.join(path, f) for f in os.listdir(path))
    return [path]


def _file_parallel(spark, paths, parse_one, schema):
    desc = blockscan.spread(spark, [(p,) for p in paths], "path string")

    def scan(batches):
        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                rows.extend(parse_one(p))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return desc.mapInPandas(scan, schema=schema)


# -------------------------------------------------------------- TopoJSON
_TOPO_SCHEMA = T.StructType([
    T.StructField("layer", T.StringType()),
    T.StructField("fid", T.LongType()),
    T.StructField("id", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("geom_wkt", T.StringType()),
])


def _lenient_json(text: str):
    try:
        return json.loads(text)
    except json.JSONDecodeError:
        # libjson-c accepts trailing commas
        return json.loads(re.sub(r",\s*([\]}])", r"\1", text))


def _topo_decode_arc(arc, tf):
    """One raw arc -> [(x, y)] or [] when malformed."""
    if not isinstance(arc, list):
        return []
    pts = []
    cx = cy = 0.0
    for p in arc:
        if not isinstance(p, list) or len(p) < 2 or \
                not all(isinstance(v, (int, float)) for v in p[:2]):
            return []
        if tf is not None:
            cx += p[0]
            cy += p[1]
            pts.append((cx * tf[0][0] + tf[1][0],
                        cy * tf[0][1] + tf[1][1]))
        else:
            pts.append((float(p[0]), float(p[1])))
    return pts


def _topo_point(coords, tf):
    if not isinstance(coords, list):
        return None
    if len(coords) < 2 or not all(
            isinstance(v, (int, float)) for v in coords[:2]):
        return []
    x, y = float(coords[0]), float(coords[1])
    if tf is not None:
        x = x * tf[0][0] + tf[1][0]
        y = y * tf[0][1] + tf[1][1]
    return [(x, y)]


def _topo_line(arc_ids, arcs, tf):
    """Stitch arc indices -> [(x,y)] or [] on any malformed ref."""
    if not isinstance(arc_ids, list):
        return None
    out = []
    for k, ai in enumerate(arc_ids):
        if not isinstance(ai, int) or isinstance(ai, bool):
            return []
        idx = ai if ai >= 0 else ~ai
        if idx < 0 or idx >= len(arcs):
            return []
        pts = _topo_decode_arc(arcs[idx], tf)
        if not pts:
            return []
        if ai < 0:
            pts = pts[::-1]
        out.extend(pts if k == 0 else pts[1:])
    return out


def _ring_wkt(pts):
    if pts and pts[0] != pts[-1]:
        pts = pts + [pts[0]]
    return "(" + ",".join(fmt_xy(x, y) for x, y in pts) + ")"


def _topo_geom_wkt(obj, arcs, tf):
    """None = no feature; else the WKT (possibly EMPTY)."""
    t = obj.get("type")
    if t == "Point":
        pts = _topo_point(obj.get("coordinates"), tf)
        if pts is None:
            return None
        return "POINT (%s)" % fmt_xy(*pts[0]) if pts else "POINT EMPTY"
    if t == "MultiPoint":
        c = obj.get("coordinates")
        if not isinstance(c, list):
            return None
        pts = []
        for p in c:
            sub = _topo_point(p, tf) if isinstance(p, list) else []
            if not sub:
                return "MULTIPOINT EMPTY"
            pts.extend(sub)
        if not pts:
            return "MULTIPOINT EMPTY"
        return "MULTIPOINT (%s)" % ",".join(
            fmt_xy(x, y) for x, y in pts)
    if t == "LineString":
        pts = _topo_line(obj.get("arcs"), arcs, tf)
        if pts is None:
            return None
        if not pts:
            return "LINESTRING EMPTY"
        return "LINESTRING (%s)" % ",".join(
            fmt_xy(x, y) for x, y in pts)
    if t == "MultiLineString":
        a = obj.get("arcs")
        if not isinstance(a, list):
            return None
        parts = []
        for sub in a:
            pts = _topo_line(sub, arcs, tf)
            if not pts:
                return "MULTILINESTRING EMPTY"
            parts.append("(" + ",".join(
                fmt_xy(x, y) for x, y in pts) + ")")
        if not parts:
            return "MULTILINESTRING EMPTY"
        return "MULTILINESTRING (%s)" % ",".join(parts)
    if t == "Polygon":
        a = obj.get("arcs")
        if not isinstance(a, list):
            return None
        rings = []
        for sub in a:
            pts = _topo_line(sub, arcs, tf)
            if not pts:
                return "POLYGON EMPTY"
            rings.append(_ring_wkt(pts))
        if not rings:
            return "POLYGON EMPTY"
        return "POLYGON (%s)" % ",".join(rings)
    if t == "MultiPolygon":
        a = obj.get("arcs")
        if not isinstance(a, list):
            return None
        polys = []
        for poly in a:
            if not isinstance(poly, list) or not poly:
                return "MULTIPOLYGON EMPTY"
            rings = []
            for sub in poly:
                pts = _topo_line(sub, arcs, tf)
                if not pts:
                    return "MULTIPOLYGON EMPTY"
                rings.append(_ring_wkt(pts))
            polys.append("(" + ",".join(rings) + ")")
        if not polys:
            return "MULTIPOLYGON EMPTY"
        return "MULTIPOLYGON (%s)" % ",".join(polys)
    return None


def _parse_topojson_file(path: str) -> list[dict]:
    with open(path, "r", encoding="utf-8", errors="replace") as f:
        top = _lenient_json(f.read())
    arcs = top.get("arcs") or []
    tf = None
    if isinstance(top.get("transform"), dict):
        t = top["transform"]
        tf = (t.get("scale", [1, 1]), t.get("translate", [0, 0]))
    objects = top.get("objects")
    items = []
    if isinstance(objects, dict):
        items = list(objects.items())
    elif isinstance(objects, list):
        items = [(None, o) for o in objects]
    rows = []
    fids = {}

    def emit(layer, obj):
        if not isinstance(obj, dict):
            return
        wkt = _topo_geom_wkt(obj, arcs, tf)
        if wkt is None:
            return
        props = obj.get("properties")
        props = props if isinstance(props, dict) else {}
        oid = obj.get("id")
        name = props.get("name")
        fids[layer] = fids.get(layer, -1) + 1
        rows.append({
            "layer": layer, "fid": fids[layer],
            "id": None if oid is None else str(oid),
            "name": None if name is None else str(name),
            "geom_wkt": wkt,
        })

    for key, obj in items:
        if isinstance(obj, dict) and \
                obj.get("type") == "GeometryCollection":
            geoms = obj.get("geometries")
            if not isinstance(geoms, list):
                continue
            layer = key or (str(obj["id"]) if "id" in obj
                            else "TopoJSON")
            for g in geoms:
                emit(layer, g)
        else:
            emit("TopoJSON", obj)
    return rows


def read_topojson(spark: SparkSession, path: str) -> DataFrame:
    """Distributed TopoJSON scan -> (layer, fid, id, name, geom_wkt)
    (file-parallel)."""
    return _file_parallel(spark, _files_of(path),
                          _parse_topojson_file, _TOPO_SCHEMA)


# --------------------------------------------------------------- ARCGEN
_ARCGEN_SCHEMA = T.StructType([
    T.StructField("fid", T.LongType()),
    T.StructField("id", T.LongType()),
    T.StructField("geom_wkt", T.StringType()),
])


def _parse_arcgen_file(path: str) -> list[dict]:
    with open(path, "r", encoding="utf-8", errors="replace") as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if not lines:
        return []
    first = re.split(r"[ ,]+", lines[0])
    rows = []
    if len(first) in (3, 4):                      # point file
        for fid, ln in enumerate(lines):
            if ln.upper() == "END":
                break
            toks = re.split(r"[ ,]+", ln)
            xyz = [float(v) for v in toks[1:]]
            rows.append({
                "fid": fid, "id": int(float(toks[0])),
                "geom_wkt": "POINT (%s)" % " ".join(
                    fmt_coord(v) for v in xyz)})
        return rows
    # line / polygon records
    fid = 0
    i = 0
    while i < len(lines):
        if lines[i].upper() == "END":
            break
        rec_id = int(float(re.split(r"[ ,]+", lines[i])[0]))
        i += 1
        pts = []
        while i < len(lines) and lines[i].upper() != "END":
            toks = re.split(r"[ ,]+", lines[i])
            pts.append([float(v) for v in toks])
            i += 1
        i += 1          # consume END
        closed = len(pts) >= 2 and pts[0] == pts[-1]
        coords = ",".join(" ".join(fmt_coord(v) for v in p)
                          for p in pts)
        wkt = ("POLYGON ((%s))" if closed else "LINESTRING (%s)") \
            % coords
        rows.append({"fid": fid, "id": rec_id, "geom_wkt": wkt})
        fid += 1
    return rows


def read_arcgen(spark: SparkSession, path: str) -> DataFrame:
    """Arc/Info Generate scan -> (fid, id, geom_wkt)
    (file-parallel)."""
    return _file_parallel(spark, _files_of(path),
                          _parse_arcgen_file, _ARCGEN_SCHEMA)


# ------------------------------------------------------------------ GMT
_GMT_TYPES = {"integer": "bigint", "double": "double",
              "string": "string", "datetime": "string"}


def parse_gmt_header(path: str) -> dict:
    gtype = "LINESTRING"
    fields, ftypes = [], []
    with open(path, "r", encoding="utf-8", errors="replace") as f:
        for ln in f:
            if not ln.startswith("#"):
                break
            m = re.search(r"@G(\w+)", ln)
            if m:
                gtype = m.group(1).upper()
            m = re.search(r"@N([^\s@]+)", ln)
            if m:
                fields = m.group(1).split("|")
            m = re.search(r"@T([^\s@]+)", ln)
            if m:
                ftypes = m.group(1).split("|")
    return dict(gtype=gtype, fields=fields, ftypes=ftypes)


def read_gmt(spark: SparkSession, path: str) -> DataFrame:
    """GMT ASCII vector scan -> (fid, geom_wkt, <fields...>)
    (file-parallel); a `>` without @D continues the previous
    feature's multi-geometry."""
    hdr = parse_gmt_header(path)
    fields = hdr["fields"]
    gtype = hdr["gtype"]
    schema = T.StructType(
        [T.StructField("fid", T.LongType()),
         T.StructField("geom_wkt", T.StringType())]
        + [T.StructField(n, T.StringType()) for n in fields])

    base = gtype[1:] if gtype.startswith("G") else gtype
    if base.startswith("MULTI"):
        single = base[5:]
    else:
        single = base

    def parse_one(p: str) -> list[dict]:
        feats = []      # [(attrs, [part, ...])]
        cur_attrs = None
        with open(p, "r", encoding="utf-8", errors="replace") as f:
            lines = f.read().splitlines()
        i = 0
        while i < len(lines):
            ln = lines[i]
            if ln.startswith(">"):
                # lookahead: @D row right after = new feature
                attrs = None
                j = i + 1
                while j < len(lines) and \
                        lines[j].startswith("# @D"):
                    raw = lines[j][4:].strip()
                    attrs = [v.strip('"') for v in raw.split("|")]
                    j = j + 1
                if attrs is not None or not feats:
                    feats.append((attrs or [], []))
                feats[-1][1].append([])
                i = j
                continue
            if ln.startswith("#") or not ln.strip():
                i += 1
                continue
            toks = ln.split()
            feats[-1][1][-1].append(
                (float(toks[0]), float(toks[1])))
            i += 1
        rows = []
        for fid, (attrs, parts) in enumerate(feats):
            parts = [pp for pp in parts if pp]
            if not parts:
                continue
            if base.startswith("MULTI") and single == "LINESTRING":
                wkt = "MULTILINESTRING (%s)" % ",".join(
                    "(" + ",".join(fmt_xy(x, y) for x, y in pp) + ")"
                    for pp in parts)
            elif base.startswith("MULTI") and single == "POLYGON":
                wkt = "MULTIPOLYGON ((%s))" % "),(".join(
                    _ring_wkt(pp) for pp in parts)
            elif single == "POLYGON":
                wkt = "POLYGON (%s)" % ",".join(
                    _ring_wkt(pp) for pp in parts)
            elif single == "POINT":
                wkt = "POINT (%s)" % fmt_xy(*parts[0][0])
            else:
                wkt = "LINESTRING (%s)" % ",".join(
                    fmt_xy(x, y) for x, y in parts[0])
            row = {"fid": fid, "geom_wkt": wkt}
            for k, nm in enumerate(fields):
                row[nm] = attrs[k] if k < len(attrs) else None
            rows.append(row)
        return rows

    return _file_parallel(spark, _files_of(path), parse_one, schema)
