"""GeoRSS vector driver — read (RSS 2.0 + Atom 1.0 feeds).

Reference: ogr/ogrsf_frmts/georss/ogrgeorsslayer.cpp —
- RSS items / Atom entries become features of layer "georss"; child
  elements flatten into fields, repeated names numbered (category,
  category2, ...), attributes suffix with `_` (category_domain,
  link_rel, link2_href...), nested Atom structures flatten the same
  way (author_name, contributor2_name, content_xml_lang); an Atom
  `content` with XML children serializes its inner markup into the
  field value.
- Geometries: simple encoding `georss:point/line/polygon` hold
  LAT LON pairs (axis-SWAPPED into x=lon y=lat on read, the [2,1]
  data-axis mapping the autotest pins), `georss:box` (lat0 lon0
  lat1 lon1) becomes its outline POLYGON, and `georss:where` wraps
  W3C GML (gml:Point/gml:LineString/gml:Polygon with pos/posList,
  also lat-lon order).
- pubDate/updated/published parse as OGR datetimes and print in the
  `YYYY/MM/DD HH:MM:SS+TZ` field form the autotest compares.

Spark lowering: feeds are whole-XML documents — the FILE is the
distributed unit (the xmlvec contract); a directory of feeds scans
file-parallel; schema is the union of the fields the driver's
single KB header pass discovers.
"""

from __future__ import annotations

import email.utils
import os
import re
import xml.etree.ElementTree as ET

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import blockscan
from .fmt import fmt_xy

_GEORSS_NS = "http://www.georss.org/georss"
_GML_NS = "http://www.opengis.net/gml"
_ATOM_NS = "http://www.w3.org/2005/Atom"


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _fmt_ogr_datetime(s: str) -> str:
    """RFC822/ISO dates -> OGR's field string form
    (`2008/12/07 20:13:00+02`)."""
    s = s.strip()
    dt = None
    try:
        dt = email.utils.parsedate_to_datetime(s)
    except (TypeError, ValueError):
        pass
    if dt is None:
        try:
            from datetime import datetime

            dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
        except ValueError:
            return s
    off = dt.utcoffset()
    if off is None:
        tz = ""
    else:
        tot = int(off.total_seconds())
        sign = "+" if tot >= 0 else "-"
        tot = abs(tot)
        hh, mm = tot // 3600, (tot % 3600) // 60
        tz = f"{sign}{hh:02d}" + (f":{mm:02d}" if mm else "")
    return dt.strftime("%Y/%m/%d %H:%M:%S") + tz


def _swap_pairs(text: str) -> list[tuple[float, float]]:
    toks = [float(t) for t in text.split()]
    return [(toks[i + 1], toks[i]) for i in range(0, len(toks) - 1, 2)]


def _geom_wkt(item) -> str | None:
    for child in item:
        name = _local(child.tag)
        ns = child.tag[1:].split("}")[0] if child.tag.startswith("{") \
            else ""
        if ns != _GEORSS_NS:
            continue
        if name == "point":
            pts = _swap_pairs(child.text or "")
            return "POINT (%s)" % fmt_xy(*pts[0]) if pts else None
        if name == "line":
            pts = _swap_pairs(child.text or "")
            return "LINESTRING (%s)" % ",".join(
                fmt_xy(x, y) for x, y in pts)
        if name == "polygon":
            pts = _swap_pairs(child.text or "")
            if pts and pts[0] != pts[-1]:
                pts.append(pts[0])
            return "POLYGON ((%s))" % ",".join(
                fmt_xy(x, y) for x, y in pts)
        if name == "box":
            toks = [float(t) for t in (child.text or "").split()]
            if len(toks) < 4:
                return None
            y0, x0, y1, x1 = toks[:4]
            ring = [(x0, y0), (x0, y1), (x1, y1), (x1, y0), (x0, y0)]
            return "POLYGON ((%s))" % ",".join(
                fmt_xy(x, y) for x, y in ring)
        if name == "where":
            for g in child.iter():
                gname = _local(g.tag)
                if gname == "Point":
                    pos = g.find(f"{{{_GML_NS}}}pos")
                    pts = _swap_pairs(pos.text or "")
                    return "POINT (%s)" % fmt_xy(*pts[0])
                if gname == "LineString":
                    pl = g.find(f"{{{_GML_NS}}}posList")
                    pts = _swap_pairs(pl.text or "")
                    return "LINESTRING (%s)" % ",".join(
                        fmt_xy(x, y) for x, y in pts)
                if gname == "Polygon":
                    pl = next(g.iter(f"{{{_GML_NS}}}posList"), None)
                    if pl is None:
                        return None
                    pts = _swap_pairs(pl.text or "")
                    if pts and pts[0] != pts[-1]:
                        pts.append(pts[0])
                    return "POLYGON ((%s))" % ",".join(
                        fmt_xy(x, y) for x, y in pts)
                if gname == "Envelope":
                    lo = g.find(f"{{{_GML_NS}}}lowerCorner")
                    up = g.find(f"{{{_GML_NS}}}upperCorner")
                    y0, x0 = (float(t) for t in lo.text.split()[:2])
                    y1, x1 = (float(t) for t in up.text.split()[:2])
                    ring = [(x0, y0), (x0, y1), (x1, y1), (x1, y0),
                            (x0, y0)]
                    return "POLYGON ((%s))" % ",".join(
                        fmt_xy(x, y) for x, y in ring)
    return None


_DATE_FIELDS = {"pubDate", "updated", "published", "lastBuildDate",
                "dcdate"}


def _flatten(item, fields: dict, prefix: str = "",
             counters: dict | None = None):
    """OGR's field flattening: repeated names numbered, attributes
    `_`-suffixed, nested elements underscore-joined."""
    if counters is None:
        counters = {}
    for child in item:
        name = _local(child.tag)
        ns = child.tag[1:].split("}")[0] if child.tag.startswith("{") \
            else ""
        if ns == _GEORSS_NS or name in ("where",):
            continue
        base = (prefix + name) if not prefix else (prefix + name)
        counters[base] = counters.get(base, 0) + 1
        key = base if counters[base] == 1 else \
            f"{base}{counters[base]}"
        has_elem_children = any(True for _ in child)
        if name == "content" and has_elem_children:
            fields[key] = "".join(
                _serialize_default_ns(c) for c in child)
        elif has_elem_children:
            _flatten(child, fields, prefix=key + "_",
                     counters=counters)
        else:
            txt = (child.text or "").strip()
            if name in _DATE_FIELDS or base.split("_")[-1] in \
                    _DATE_FIELDS:
                txt = _fmt_ogr_datetime(txt)
            if txt:
                fields[key] = txt
        for ak, av in child.attrib.items():
            if ak.startswith(
                    "{http://www.w3.org/XML/1998/namespace}"):
                # xml:lang / xml:base flatten as _xml_lang/_xml_base
                sub = f"{key}_xml_{_local(ak)}"
            else:
                sub = f"{key}_{_local(ak)}"
            fields.setdefault(sub, av)
    return fields


def _serialize_default_ns(elem) -> str:
    """Inner-XML serialization with the element's own namespace as
    the DEFAULT (the `<div xmlns="...">` form OGR's content field
    carries) — hand-rolled so prefixes never leak in."""
    ns = elem.tag[1:].split("}")[0] if elem.tag.startswith("{")         else None

    def ser(e, emit_ns):
        tag = _local(e.tag)
        attrs = "".join(f' {_local(k)}="{v}"'
                        for k, v in e.attrib.items())
        head = "<" + tag + (f' xmlns="{ns}"' if emit_ns else "")             + attrs + ">"
        inner = e.text or ""
        for c in e:
            inner += ser(c, False) + (c.tail or "")
        return head + inner + "</" + tag + ">"

    return ser(elem, ns is not None)


def _atom_attr_fix(fields: dict):
    # xml:lang / xml:base attributes flatten with the xml_ prefix
    out = {}
    for k, v in fields.items():
        k = re.sub(r"_\{http://www\.w3\.org/XML/1998/namespace\}",
                   "_xml_", k)
        out[k] = v
    return out


def parse_georss_file(path: str) -> list[dict]:
    root = ET.parse(path).getroot()
    rname = _local(root.tag)
    items = []
    if rname == "rss":
        ch = root.find("channel")
        items = list(ch.findall("item")) if ch is not None else []
    elif rname == "feed":
        items = list(root.findall(f"{{{_ATOM_NS}}}entry")) \
            or list(root.findall("entry"))
    rows = []
    for fid, item in enumerate(items):
        fields = _atom_attr_fix(_flatten(item, {}))
        for k in _DATE_FIELDS & set(fields):
            fields[k] = _fmt_ogr_datetime(fields[k])
        rows.append({"fid": fid, "geom_wkt": _geom_wkt(item),
                     **fields})
    return rows


def read_georss(spark: SparkSession, path: str) -> DataFrame:
    """Distributed GeoRSS scan -> (fid, geom_wkt, <flattened
    fields...>) — file-parallel (the xmlvec contract); the schema is
    the union of fields discovered in one driver-side parse."""
    paths = [path] if not os.path.isdir(path) else sorted(
        os.path.join(path, f) for f in os.listdir(path))
    all_fields: list[str] = []
    for p in paths:
        for row in parse_georss_file(p):
            for k in row:
                if k not in ("fid", "geom_wkt") and \
                        k not in all_fields:
                    all_fields.append(k)
    schema = T.StructType(
        [T.StructField("fid", T.LongType()),
         T.StructField("geom_wkt", T.StringType())]
        + [T.StructField(n, T.StringType()) for n in all_fields])
    desc = blockscan.spread(spark, [(p,) for p in paths], "path string")
    cols = [f.name for f in schema.fields]

    def scan(batches):
        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                for row in parse_georss_file(p):
                    rows.append({c: row.get(c) for c in cols})
            yield pd.DataFrame(rows, columns=cols)

    return desc.mapInPandas(scan, schema=schema)
