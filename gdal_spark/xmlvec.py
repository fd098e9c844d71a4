"""GPX and KML vector drivers (read + write), file-parallel.

Reference:
  - gdal/ogr/ogrsf_frmts/gpx/ogrgpxlayer.cpp — GPX layers: waypoints
    (<wpt lat lon> + ele/time/name/cmt/desc/sym/type), routes (<rte>
    -> LineString + the route_points sublayer), tracks (<trk> ->
    MultiLineString of <trkseg>s + the track_points sublayer with
    track_fid/track_seg_id/track_seg_point_id).
  - gdal/ogr/ogrsf_frmts/kml/kmllayer.cpp (+ ogr2kmlgeometry.cpp) —
    KML Placemarks: name/description + Point/LineString/Polygon
    <coordinates> (lon,lat tuples).

Spark lowering: XML does not line-split, and the reference reads it as
a serial expat stream. The distributed unit is therefore the FILE: a
descriptor DataFrame of paths fans out to executors, each parsing its
files with stdlib ElementTree (mapInPandas). GPS interchange corpora
are many modest files — at 100 TB the scan parallelizes across files
exactly like a parquet directory; a single multi-GB GPX would need the
serial reader and is documented out of scope (matches the reference's
own serial parse).

The writers are the same contract in reverse: `foreachPartition` emits
ONE valid GPX/KML document per partition into a directory (parallel,
no driver bytes) — or a single streamed file for the small-side
export. ElementTree does the XML escaping both ways, so free-text
fields (newlines, &, <) are transport-lossless.
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import blockscan
from .fmt import fmt_coord as _F

GPX_NS = "http://www.topografix.com/GPX/1/1"
KML_NS = "http://www.opengis.net/kml/2.2"

WPT_SCHEMA = T.StructType([
    T.StructField("file", T.StringType()),
    T.StructField("fid", T.LongType()),
    T.StructField("lat", T.DoubleType()),
    T.StructField("lon", T.DoubleType()),
    T.StructField("ele", T.DoubleType()),
    T.StructField("time", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("cmt", T.StringType()),
    T.StructField("desc", T.StringType()),
    T.StructField("sym", T.StringType()),
    T.StructField("type", T.StringType()),
])

TRACK_SCHEMA = T.StructType([
    T.StructField("file", T.StringType()),
    T.StructField("track_fid", T.LongType()),
    T.StructField("name", T.StringType()),
    T.StructField("desc", T.StringType()),
    T.StructField("wkt", T.StringType()),  # MULTILINESTRING
])

TRACK_PT_SCHEMA = T.StructType([
    T.StructField("file", T.StringType()),
    T.StructField("track_fid", T.LongType()),
    T.StructField("track_seg_id", T.LongType()),
    T.StructField("track_seg_point_id", T.LongType()),
    T.StructField("lat", T.DoubleType()),
    T.StructField("lon", T.DoubleType()),
    T.StructField("ele", T.DoubleType()),
    T.StructField("time", T.StringType()),
])

KML_SCHEMA = T.StructType([
    T.StructField("file", T.StringType()),
    T.StructField("fid", T.LongType()),
    T.StructField("name", T.StringType()),
    T.StructField("description", T.StringType()),
    T.StructField("wkt", T.StringType()),
])


def _strip(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _texts(el) -> dict:
    return {_strip(c.tag): (c.text or "") for c in el}


def _file_plan(spark: SparkSession, path: str, suffix: str) -> DataFrame:
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path)
            if f.endswith(suffix))
    else:
        files = [path]
    if not files:
        raise FileNotFoundError(f"no {suffix} files under {path}")
    return blockscan.spread(spark, [(f,) for f in files], "path string")


# -------------------------------------------------------------------- GPX
def read_gpx(spark: SparkSession, path: str,
             layer: str = "waypoints") -> DataFrame:
    """GPX scan, one file per task. `layer` in waypoints | tracks |
    track_points (the reference's layer split, ogrgpxlayer.cpp)."""
    if layer not in ("waypoints", "tracks", "track_points"):
        raise ValueError(f"unknown GPX layer {layer}")
    schema = {"waypoints": WPT_SCHEMA, "tracks": TRACK_SCHEMA,
              "track_points": TRACK_PT_SCHEMA}[layer]
    plan = _file_plan(spark, path, ".gpx")

    def scan(batches):
        for pdf in batches:
            out = []
            for p in pdf["path"]:
                root = ET.parse(p).getroot()
                base = os.path.basename(p)
                if layer == "waypoints":
                    for i, w in enumerate(
                            root.iter(f"{{{GPX_NS}}}wpt")):
                        t = _texts(w)
                        out.append({
                            "file": base, "fid": i,
                            "lat": float(w.get("lat")),
                            "lon": float(w.get("lon")),
                            "ele": float(t["ele"]) if "ele" in t else None,
                            "time": t.get("time"), "name": t.get("name"),
                            "cmt": t.get("cmt"), "desc": t.get("desc"),
                            "sym": t.get("sym"), "type": t.get("type"),
                        })
                else:
                    for ti, trk in enumerate(
                            root.iter(f"{{{GPX_NS}}}trk")):
                        t = _texts(trk)
                        segs = []
                        for si, seg in enumerate(
                                trk.iter(f"{{{GPX_NS}}}trkseg")):
                            pts = []
                            for pi, tp in enumerate(
                                    seg.iter(f"{{{GPX_NS}}}trkpt")):
                                la, lo = float(tp.get("lat")), \
                                    float(tp.get("lon"))
                                pts.append((lo, la))
                                if layer == "track_points":
                                    tt = _texts(tp)
                                    out.append({
                                        "file": base, "track_fid": ti,
                                        "track_seg_id": si,
                                        "track_seg_point_id": pi,
                                        "lat": la, "lon": lo,
                                        "ele": float(tt["ele"])
                                        if "ele" in tt else None,
                                        "time": tt.get("time"),
                                    })
                            segs.append(pts)
                        if layer == "tracks":
                            wkt = "MULTILINESTRING (" + ", ".join(
                                "(" + ", ".join(
                                    f"{_F(x)} {_F(y)}" for x, y in s)
                                + ")" for s in segs if s) + ")"
                            out.append({
                                "file": base, "track_fid": ti,
                                "name": t.get("name"),
                                "desc": t.get("desc"), "wkt": wkt,
                            })
            yield pd.DataFrame(out, columns=[f.name for f in schema])

    return plan.mapInPandas(scan, schema=schema)


def write_gpx(df: DataFrame, path: str, *, layer: str = "waypoints",
              single_file: bool = False) -> None:
    """GPX sink. Directory mode (default): each partition emits one
    valid GPX document — parallel, no driver bytes. single_file
    streams through the driver (small-side export)."""
    cols = set(df.columns)

    def build(rows) -> bytes:
        ET.register_namespace("", GPX_NS)
        root = ET.Element(f"{{{GPX_NS}}}gpx",
                          {"version": "1.1", "creator": "gdal_spark"})
        for r in rows:
            w = ET.SubElement(root, f"{{{GPX_NS}}}wpt",
                              {"lat": _F(r["lat"]),
                               "lon": _F(r["lon"])})
            for k in ("ele", "time", "name", "cmt", "desc", "sym",
                      "type"):
                if k in cols and r[k] is not None:
                    e = ET.SubElement(w, f"{{{GPX_NS}}}{k}")
                    e.text = _F(r[k]) if k == "ele" else str(r[k])
        return ET.tostring(root, encoding="utf-8",
                           xml_declaration=True)

    if layer != "waypoints":
        raise NotImplementedError(
            "write_gpx emits the waypoints layer; tracks are read-side "
            "(ogrgpxwriter supports them — extension point)")
    if single_file:
        rows = (r.asDict() for r in df.toLocalIterator())
        with open(path, "wb") as f:
            f.write(build(rows))
        return
    os.makedirs(path, exist_ok=True)

    def part(it):
        rows = [r.asDict() for r in it]
        if not rows:
            return
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        with open(os.path.join(path, f"part-{pid:05d}.gpx"), "wb") as f:
            f.write(build(rows))

    df.foreachPartition(part)


# -------------------------------------------------------------------- KML
def _coords_to_wkt(geom_el) -> str | None:
    tag = _strip(geom_el.tag)

    def pairs(el):
        txt = el.findtext(f"{{{KML_NS}}}coordinates") or ""
        out = []
        for tok in txt.split():
            c = tok.split(",")
            out.append((float(c[0]), float(c[1])))
        return out

    if tag == "Point":
        (x, y), = pairs(geom_el)
        return f"POINT ({_F(x)} {_F(y)})"
    if tag == "LineString":
        ps = pairs(geom_el)
        return "LINESTRING (" + ", ".join(
            f"{_F(x)} {_F(y)}" for x, y in ps) + ")"
    if tag == "Polygon":
        rings = []
        for b in geom_el.iter():
            if _strip(b.tag) in ("outerBoundaryIs", "innerBoundaryIs"):
                lr = b.find(f"{{{KML_NS}}}LinearRing")
                if lr is not None:
                    rings.append(pairs(lr))
        return "POLYGON (" + ", ".join(
            "(" + ", ".join(f"{_F(x)} {_F(y)}" for x, y in r) + ")"
            for r in rings) + ")"
    return None


def read_kml(spark: SparkSession, path: str) -> DataFrame:
    """KML Placemark scan, one file per task (kmllayer.cpp fields:
    Name, Description + the geometry)."""
    plan = _file_plan(spark, path, ".kml")

    def scan(batches):
        for pdf in batches:
            out = []
            for p in pdf["path"]:
                root = ET.parse(p).getroot()
                for i, pm in enumerate(
                        root.iter(f"{{{KML_NS}}}Placemark")):
                    wkt = None
                    for g in pm:
                        if _strip(g.tag) in ("Point", "LineString",
                                             "Polygon"):
                            wkt = _coords_to_wkt(g)
                    out.append({
                        "file": os.path.basename(p), "fid": i,
                        "name": pm.findtext(f"{{{KML_NS}}}name"),
                        "description":
                            pm.findtext(f"{{{KML_NS}}}description"),
                        "wkt": wkt,
                    })
            yield pd.DataFrame(out, columns=[f.name for f in KML_SCHEMA])

    return plan.mapInPandas(scan, schema=KML_SCHEMA)


def _wkt_to_kml(parent, wkt: str) -> None:
    from . import geometry as GG
    g = GG.parse_wkt(wkt)

    def coords(el, xs, ys, close=False):
        c = ET.SubElement(el, f"{{{KML_NS}}}coordinates")
        pts = list(zip(xs, ys))
        if close and pts and pts[0] != pts[-1]:
            pts.append(pts[0])
        c.text = " ".join(f"{_F(x)},{_F(y)}" for x, y in pts)

    if g.kind == "point":
        el = ET.SubElement(parent, f"{{{KML_NS}}}Point")
        coords(el, g.parts[0][0], g.parts[0][1])
    elif g.kind == "linestring":
        el = ET.SubElement(parent, f"{{{KML_NS}}}LineString")
        coords(el, g.parts[0][0], g.parts[0][1])
    elif g.kind == "polygon":
        el = ET.SubElement(parent, f"{{{KML_NS}}}Polygon")
        for j, (xs, ys) in enumerate(g.parts[0]):
            b = ET.SubElement(
                el, f"{{{KML_NS}}}outerBoundaryIs" if j == 0
                else f"{{{KML_NS}}}innerBoundaryIs")
            lr = ET.SubElement(b, f"{{{KML_NS}}}LinearRing")
            coords(lr, xs, ys, close=True)
    else:
        raise ValueError(f"KML writer: unsupported kind {g.kind}")


def write_kml(df: DataFrame, path: str, *, name_col: str = "name",
              desc_col: str | None = "description",
              wkt_col: str = "wkt", single_file: bool = False) -> None:
    """KML sink: one Document of Placemarks per partition (directory
    mode) or one streamed file."""
    def build(rows) -> bytes:
        ET.register_namespace("", KML_NS)
        root = ET.Element(f"{{{KML_NS}}}kml")
        doc = ET.SubElement(root, f"{{{KML_NS}}}Document")
        for r in rows:
            pm = ET.SubElement(doc, f"{{{KML_NS}}}Placemark")
            if r.get(name_col) is not None:
                ET.SubElement(pm, f"{{{KML_NS}}}name").text = \
                    str(r[name_col])
            if desc_col and r.get(desc_col) is not None:
                ET.SubElement(pm, f"{{{KML_NS}}}description").text = \
                    str(r[desc_col])
            if r.get(wkt_col) is not None:
                _wkt_to_kml(pm, r[wkt_col])
        return ET.tostring(root, encoding="utf-8",
                           xml_declaration=True)

    if single_file:
        rows = (r.asDict() for r in df.toLocalIterator())
        with open(path, "wb") as f:
            f.write(build(rows))
        return
    os.makedirs(path, exist_ok=True)

    def part(it):
        rows = [r.asDict() for r in it]
        if not rows:
            return
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        with open(os.path.join(path, f"part-{pid:05d}.kml"), "wb") as f:
            f.write(build(rows))

    df.foreachPartition(part)


# -------------------------------------------------------------------- GML
GML_NS = "http://www.opengis.net/gml/3.2"
GML2_NS = "http://www.opengis.net/gml"
OGR_NS = "http://ogr.maptools.org/"

GML_SCHEMA = T.StructType([
    T.StructField("file", T.StringType()),
    T.StructField("fid", T.IntegerType()),
    T.StructField("layer", T.StringType()),
    T.StructField("gml_id", T.StringType()),
    T.StructField("geom_wkt", T.StringType()),
    T.StructField("props", T.MapType(T.StringType(), T.StringType())),
])

_GML_GEOM_TAGS = {
    "Point", "LineString", "Polygon", "MultiPoint", "MultiCurve",
    "MultiLineString", "MultiSurface", "MultiPolygon", "MultiGeometry",
}


def _gml_pts(el):
    """gml:pos / gml:posList (space-separated x y ...) or GML2
    gml:coordinates ("x,y x,y")  -> [(x, y), ...].
    Axis order is taken as (x, y) like the reference's default
    non-urn srsName handling (gml2ogrgeometry.cpp axis-order notes)."""
    for c in el:
        t = _strip(c.tag)
        if t in ("pos", "posList"):
            v = [float(x) for x in (c.text or "").split()]
            return list(zip(v[0::2], v[1::2]))
        if t == "coordinates":
            out = []
            for tok in (c.text or "").split():
                xy = tok.split(",")
                out.append((float(xy[0]), float(xy[1])))
            return out
    return []


def _gml_to_wkt(g) -> str | None:
    """One gml geometry element -> WKT (gml2ogrgeometry.cpp
    GML2OGRGeometry_XMLNode, the simple-feature subset)."""
    t = _strip(g.tag)

    def ring_of(poly_el, which):
        rings = []
        for b in poly_el:
            bt = _strip(b.tag)
            if bt in which:
                for lr in b:
                    if _strip(lr.tag) == "LinearRing":
                        rings.append(_gml_pts(lr))
        return rings

    def poly_body(poly_el):
        ext = ring_of(poly_el, ("exterior", "outerBoundaryIs"))
        ints = ring_of(poly_el, ("interior", "innerBoundaryIs"))
        rings = ext + ints
        return "(" + ", ".join(
            "(" + ", ".join(f"{_F(x)} {_F(y)}" for x, y in r) + ")"
            for r in rings) + ")"

    if t == "Point":
        p = _gml_pts(g)
        if not p:
            return None
        return f"POINT ({_F(p[0][0])} {_F(p[0][1])})"
    if t == "LineString":
        p = _gml_pts(g)
        return "LINESTRING (" + ", ".join(
            f"{_F(x)} {_F(y)}" for x, y in p) + ")"
    if t == "Polygon":
        return "POLYGON " + poly_body(g)
    if t in ("MultiPolygon", "MultiSurface"):
        bodies = []
        for m in g.iter():
            if _strip(m.tag) == "Polygon":
                bodies.append(poly_body(m))
        return "MULTIPOLYGON (" + ", ".join(bodies) + ")"
    if t in ("MultiLineString", "MultiCurve"):
        bodies = []
        for m in g.iter():
            if _strip(m.tag) == "LineString":
                bodies.append("(" + ", ".join(
                    f"{_F(x)} {_F(y)}" for x, y in _gml_pts(m)) + ")")
        return "MULTILINESTRING (" + ", ".join(bodies) + ")"
    if t == "MultiPoint":
        pts = []
        for m in g.iter():
            if _strip(m.tag) == "Point":
                p = _gml_pts(m)
                if p:
                    pts.append(f"{_F(p[0][0])} {_F(p[0][1])}")
        return "MULTIPOINT (" + ", ".join(pts) + ")"
    return None


def read_gml(spark: SparkSession, path: str) -> DataFrame:
    """GML FeatureCollection scan (ogr/ogrsf_frmts/gml;
    gml2ogrgeometry.cpp for the geometry subset), one FILE per task —
    the same distributed unit as GPX/KML (XML does not line-split;
    the reference parses it serially through expat). Features are the
    children of gml:featureMember / wfs:member elements; the feature
    element's local name is the layer, simple text children become
    properties, the first gml geometry found becomes geom_wkt."""
    plan = _file_plan(spark, path, ".gml")

    def scan(batches):
        for pdf in batches:
            out = []
            for p in pdf["path"]:
                root = ET.parse(p).getroot()
                base = os.path.basename(p)
                fid = 0
                for fm in root.iter():
                    if _strip(fm.tag) not in ("featureMember", "member",
                                              "featureMembers"):
                        continue
                    for feat in fm:
                        layer = _strip(feat.tag)
                        gml_id = None
                        for k, v in feat.attrib.items():
                            if _strip(k) == "id":
                                gml_id = v
                        props = {}
                        wkt = None
                        for c in feat:
                            ct = _strip(c.tag)
                            geoms = [g for g in c.iter()
                                     if _strip(g.tag) in _GML_GEOM_TAGS]
                            if geoms:
                                if wkt is None:
                                    wkt = _gml_to_wkt(geoms[0])
                            elif len(c) == 0:
                                props[ct] = c.text or ""
                        out.append({"file": base, "fid": fid,
                                    "layer": layer, "gml_id": gml_id,
                                    "geom_wkt": wkt, "props": props})
                        fid += 1
            yield pd.DataFrame(
                out, columns=[f.name for f in GML_SCHEMA])

    return plan.mapInPandas(scan, schema=GML_SCHEMA)


def _wkt_to_gml(parent, wkt: str) -> None:
    from . import geometry as GMM

    g = GMM.parse_wkt(wkt)

    def pos_list(el_parent, pts, tag="posList"):
        e = ET.SubElement(el_parent, f"{{{GML_NS}}}{tag}")
        e.text = " ".join(f"{_F(x)} {_F(y)}" for x, y in pts)

    def emit_poly(par, rings):
        poly = ET.SubElement(par, f"{{{GML_NS}}}Polygon")
        for i, (xs, ys) in enumerate(rings):
            pts = list(zip(xs, ys))
            if pts[0] != pts[-1]:
                pts.append(pts[0])
            b = ET.SubElement(
                poly, f"{{{GML_NS}}}" + ("exterior" if i == 0
                                         else "interior"))
            lr = ET.SubElement(b, f"{{{GML_NS}}}LinearRing")
            pos_list(lr, pts)

    if g.kind == "point":
        pt = ET.SubElement(parent, f"{{{GML_NS}}}Point")
        xs, ys = g.parts[0]
        pos_list(pt, [(xs[0], ys[0])], tag="pos")
    elif g.kind == "linestring":
        ls = ET.SubElement(parent, f"{{{GML_NS}}}LineString")
        xs, ys = g.parts[0]
        pos_list(ls, list(zip(xs, ys)))
    elif g.kind == "multilinestring":
        ml = ET.SubElement(parent, f"{{{GML_NS}}}MultiCurve")
        for xs, ys in g.parts:
            cm = ET.SubElement(ml, f"{{{GML_NS}}}curveMember")
            ls = ET.SubElement(cm, f"{{{GML_NS}}}LineString")
            pos_list(ls, list(zip(xs, ys)))
    elif g.kind == "polygon":
        emit_poly(parent, g.parts[0])
    elif g.kind == "multipolygon":
        ms = ET.SubElement(parent, f"{{{GML_NS}}}MultiSurface")
        for rings in g.parts:
            sm = ET.SubElement(ms, f"{{{GML_NS}}}surfaceMember")
            emit_poly(sm, rings)
    elif g.kind == "multipoint":
        mp = ET.SubElement(parent, f"{{{GML_NS}}}MultiPoint")
        for xs, ys in g.parts:
            pm = ET.SubElement(mp, f"{{{GML_NS}}}pointMember")
            pt = ET.SubElement(pm, f"{{{GML_NS}}}Point")
            pos_list(pt, [(xs[0], ys[0])], tag="pos")


def write_gml(df: DataFrame, path: str, *, layer: str = "features",
              wkt_col: str = "geom_wkt",
              single_file: bool = False) -> None:
    """GML 3.2 FeatureCollection sink (the reference's ogr2gmlgeometry
    / GML writer shape): every non-geometry column becomes a simple
    element; directory mode writes one valid document per partition in
    parallel."""
    cols = [c for c in df.columns if c != wkt_col]

    def build(rows) -> bytes:
        ET.register_namespace("gml", GML_NS)
        ET.register_namespace("ogr", OGR_NS)
        root = ET.Element(f"{{{GML_NS}}}FeatureCollection")
        for i, r in enumerate(rows):
            fm = ET.SubElement(root, f"{{{GML_NS}}}featureMember")
            feat = ET.SubElement(fm, f"{{{OGR_NS}}}{layer}")
            feat.set(f"{{{GML_NS}}}id", f"{layer}.{i}")
            for c in cols:
                v = r[c]
                if v is None:
                    continue
                e = ET.SubElement(feat, f"{{{OGR_NS}}}{c}")
                e.text = str(v)
            w = r[wkt_col]
            if w:
                gp = ET.SubElement(feat,
                                   f"{{{OGR_NS}}}geometryProperty")
                _wkt_to_gml(gp, w)
        return ET.tostring(root, encoding="utf-8",
                           xml_declaration=True)

    if single_file:
        rows = (r.asDict() for r in df.toLocalIterator())
        with open(path, "wb") as f:
            f.write(build(rows))
        return
    os.makedirs(path, exist_ok=True)

    def part(it):
        rows = [r.asDict() for r in it]
        if not rows:
            return
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        with open(os.path.join(path, f"part-{pid:05d}.gml"), "wb") as f:
            f.write(build(rows))

    df.foreachPartition(part)
