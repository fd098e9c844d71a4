"""S-57 ENC (Electronic Navigational Chart) vector reader.

Reference: gdal/ogr/ogrsf_frmts/s57/s57reader.cpp +
gdal/data/s57objectclasses.csv, s57attributes.csv —
  - the cell is an ISO 8211 module (gdal_spark.iso8211): DSID/DSSI
    dataset records, DSPM (COMF coordinate and SOMF sounding
    divisors), vector records (VRID RCNM 110 isolated node / 120
    connected node / 130 edge) carrying SG2D/SG3D coordinate
    groups (YCOO,XCOO order!) and VRPT edge-end pointers, and
    feature records (FRID + FOID + ATTF + FSPT).
  - LNAM = AGEN:04X FIDN:08X FIDS:04X (s57.h LNAM macro).
  - geometry assembly (:~1350 AssemblePointGeometry,
    AssembleLineGeometry, AssembleAreaGeometry): point features
    take their node's coordinate (SG3D nodes → MultiPoint25D with
    VE3D/SOMF depths); line features chain each FSPT edge as
    begin-node + SG2D + end-node, reversed when ORNT=2; area
    features stitch the edge lines into closed rings by endpoint
    matching (OGRBuildPolygonFromEdges).
  - layers = one per OBJL object class present, ordered by class
    code, named by the class acronym from s57objectclasses.csv;
    ATTF attribute codes resolve through s57attributes.csv
    (list-type 'L' attributes split to string lists).

Spark lowering: an ENC cell is a few MB and internally
pointer-linked, so the CELL is the parallel unit — a catalog of
cells decodes embarrassingly parallel, one task per cell, and the
result is a uniform (cell, layer, feature) table."""

from __future__ import annotations

import csv
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import blockscan
from .fmt import fmt_coord as fnum
from .iso8211 import ISO8211Reader

_DEF_CSV_DIRS = [
    os.environ.get("S57_CSV", ""),
    "/root/reference/gdal/data",
]

# minimal built-in fallback (class code -> acronym) covering the
# commonest ENC classes, used when no s57objectclasses.csv is found
_BUILTIN_CLASSES = {
    30: "COALNE", 42: "DEPARE", 43: "DEPCNT", 71: "LNDARE",
    72: "LNDELV", 121: "SBDARE", 122: "SLCONS", 126: "SLOTOP",
    129: "SOUNDG", 302: "M_COVR", 306: "M_NSYS", 308: "M_QUAL",
}
_BUILTIN_ATTRS = {113: ("QUASOU", "L"), 179: ("VALDCO", "F"),
                  178: ("VALSOU", "F"), 75: ("DRVAL1", "F"),
                  76: ("DRVAL2", "F"), 133: ("SORDAT", "A"),
                  134: ("SORIND", "A"), 87: ("ELEVAT", "F"),
                  4: ("CATCOV", "E"), 185: ("WATLEV", "E"),
                  57: ("CATSLC", "E"), 107: ("NATSUR", "L"),
                  2: ("BCNSHP", "E")}


def _load_tables(csv_dir: str | None):
    classes = dict(_BUILTIN_CLASSES)
    attrs = dict(_BUILTIN_ATTRS)
    dirs = [csv_dir] if csv_dir else _DEF_CSV_DIRS
    for d in dirs:
        if not d:
            continue
        oc = os.path.join(d, "s57objectclasses.csv")
        at = os.path.join(d, "s57attributes.csv")
        if os.path.exists(oc):
            with open(oc, newline="") as f:
                for row in csv.DictReader(f):
                    try:
                        classes[int(row["Code"])] = row["Acronym"]
                    except (KeyError, ValueError):
                        pass
        if os.path.exists(at):
            with open(at, newline="") as f:
                for row in csv.DictReader(f):
                    try:
                        attrs[int(row["Code"])] = (
                            row["Acronym"], row["Attributetype"])
                    except (KeyError, ValueError):
                        pass
        if os.path.exists(oc):
            break
    return classes, attrs


def _name_ptr(b: bytes) -> tuple[int, int]:
    """FSPT/VRPT NAME: RCNM u8 + RCID u32 LE."""
    return b[0], int.from_bytes(b[1:5], "little")


def parse_s57(path: str, *, csv_dir: str | None = None,
              apply_updates: bool = True) -> dict:
    classes, attrs = _load_tables(csv_dir)
    rdr = ISO8211Reader(path)
    comf, somf = 1.0, 1.0
    dsid = {}
    nodes: dict[tuple[int, int], dict] = {}
    edges: dict[int, dict] = {}
    features = []
    for rec in rdr.records():
        if "DSID" in rec:
            dsid = rec["DSID"][0]
        if "DSPM" in rec:
            g = rec["DSPM"][0]
            comf = float(g.get("COMF", 1) or 1)
            somf = float(g.get("SOMF", 1) or 1)
        if "VRID" in rec:
            v = rec["VRID"][0]
            rcnm, rcid = v["RCNM"], v["RCID"]
            pts2 = [(g["XCOO"] / comf, g["YCOO"] / comf)
                    for g in rec.get("SG2D", [])]
            pts3 = [(g["XCOO"] / comf, g["YCOO"] / comf,
                     g["VE3D"] / somf) for g in rec.get("SG3D", [])]
            if rcnm == 130:                      # edge
                ends = {}
                for g in rec.get("VRPT", []):
                    rn, ri = _name_ptr(g["NAME"])
                    ends[g.get("TOPI", 1)] = (rn, ri)
                edges[rcid] = dict(points=pts2, ends=ends)
            else:                                # node
                nodes[(rcnm, rcid)] = dict(p2=pts2, p3=pts3)
        if "FRID" in rec:
            fr = rec["FRID"][0]
            fo = rec.get("FOID", [{}])[0]
            att = {}
            for g in rec.get("ATTF", []) + rec.get("NATF", []):
                name, typ = attrs.get(
                    int(g.get("ATTL", 0)),
                    (f"ATT_{g.get('ATTL', 0)}", "A"))
                val = str(g.get("ATVL", "")).rstrip("\x1f")
                att[name] = val.split(",") if typ == "L" else val
            fspt = [dict(ptr=_name_ptr(g["NAME"]),
                         ornt=g.get("ORNT", 1),
                         usag=g.get("USAG", 1),
                         mask=g.get("MASK", 2))
                    for g in rec.get("FSPT", [])]
            agen = int(fo.get("AGEN", 0) or 0)
            fidn = int(fo.get("FIDN", 0) or 0)
            fids = int(fo.get("FIDS", 0) or 0)
            features.append(dict(
                rcid=fr["RCID"], prim=fr.get("PRIM", 0),
                grup=fr.get("GRUP", 0), objl=fr.get("OBJL", 0),
                agen=agen,
                lnam=f"{agen:04X}{fidn:08X}{fids:04X}",
                attributes=att, fspt=fspt))
    # ENC update cells (.001, .002, ...): merge their DSID fields
    # (EDTN/UPDN/UADT/ISDT track the applied-update state —
    # s57reader.cpp FindAndApplyUpdates; feature-level RUIN
    # insert/delete/modify application is a documented gap)
    if apply_updates and path.endswith(".000"):
        n = 1
        while True:
            up = f"{path[:-4]}.{n:03d}"
            if not os.path.exists(up):
                break
            for rec in ISO8211Reader(up).records():
                if "DSID" in rec:
                    for k in ("EDTN", "UPDN", "UADT", "ISDT"):
                        v = rec["DSID"][0].get(k)
                        if v not in (None, ""):
                            dsid[k] = v
            n += 1
    return dict(dsid=dsid, comf=comf, somf=somf, nodes=nodes,
                edges=edges, features=features, classes=classes)


def _edge_line(info: dict, rcid: int, ornt: int) -> list:
    e = info["edges"].get(rcid)
    if e is None:
        return []
    pts = []
    start = e["ends"].get(1)
    end = e["ends"].get(2)

    def node_pt(key):
        n = info["nodes"].get(key)
        if n:
            src = n["p2"] or [(x, y) for x, y, _ in n["p3"]]
            if src:
                return src[0]
        return None

    sp = node_pt(start) if start else None
    ep = node_pt(end) if end else None
    if sp:
        pts.append(sp)
    pts.extend(e["points"])
    if ep:
        pts.append(ep)
    if ornt == 2:
        pts = pts[::-1]
    return pts


def _rings_from_lines(lines: list[list]) -> list[list]:
    """OGRBuildPolygonFromEdges restated: stitch segments into
    closed rings by endpoint matching."""
    segs = [list(li) for li in lines if li]
    rings = []
    while segs:
        ring = segs.pop(0)
        changed = True
        while changed and ring[0] != ring[-1]:
            changed = False
            for i, s in enumerate(segs):
                if s[0] == ring[-1]:
                    ring.extend(s[1:])
                elif s[-1] == ring[-1]:
                    ring.extend(list(reversed(s))[1:])
                elif s[-1] == ring[0]:
                    ring[0:0] = s[:-1]
                elif s[0] == ring[0]:
                    ring[0:0] = list(reversed(s))[:-1]
                else:
                    continue
                segs.pop(i)
                changed = True
                break
        if ring[0] != ring[-1]:
            ring.append(ring[0])
        rings.append(ring)
    return rings


def feature_geometry(info: dict, feat: dict) -> str | None:
    prim = feat["prim"]
    if prim == 1:                                # point
        pts3 = []
        pts2 = []
        for sp in feat["fspt"]:
            n = info["nodes"].get(sp["ptr"])
            if not n:
                continue
            pts3.extend(n["p3"])
            pts2.extend(n["p2"])
        if pts3:
            if len(pts3) > 1 or not pts2:
                return "MULTIPOINT (" + ", ".join(
                    f"{fnum(x)} {fnum(y)} {fnum(z)}"
                    for x, y, z in pts3) + ")"
        if pts2:
            x, y = pts2[0]
            return f"POINT ({fnum(x)} {fnum(y)})"
        if pts3:
            x, y, z = pts3[0]
            return f"POINT ({fnum(x)} {fnum(y)} {fnum(z)})"
        return None
    if prim == 2:                                # line
        parts: list[list] = []
        for sp in feat["fspt"]:
            if sp["mask"] == 1:                  # masked edge
                continue
            seg = _edge_line(info, sp["ptr"][1], sp["ornt"])
            if not seg:
                continue
            if parts and parts[-1][-1] == seg[0]:
                parts[-1].extend(seg[1:])        # contiguous chain
            else:
                parts.append(list(seg))          # disjoint: new part
        if not parts:
            return None
        if len(parts) == 1:
            return "LINESTRING (" + ", ".join(
                f"{fnum(x)} {fnum(y)}" for x, y in parts[0]) + ")"
        return "MULTILINESTRING (" + ", ".join(
            "(" + ", ".join(f"{fnum(x)} {fnum(y)}" for x, y in p)
            + ")" for p in parts) + ")"
    if prim == 3:                                # area
        ext_lines = [
            _edge_line(info, sp["ptr"][1], sp["ornt"])
            for sp in feat["fspt"] if sp["usag"] != 2]
        int_lines = [
            _edge_line(info, sp["ptr"][1], sp["ornt"])
            for sp in feat["fspt"] if sp["usag"] == 2]
        rings = _rings_from_lines(ext_lines) + \
            _rings_from_lines(int_lines)
        if not rings:
            return None
        return "POLYGON (" + ", ".join(
            "(" + ", ".join(f"{fnum(x)} {fnum(y)}" for x, y in r)
            + ")" for r in rings) + ")"
    return None


_SCHEMA = T.StructType([
    T.StructField("cell", T.StringType()),
    T.StructField("layer", T.StringType()),
    T.StructField("RCID", T.LongType()),
    T.StructField("LNAM", T.StringType()),
    T.StructField("OBJL", T.IntegerType()),
    T.StructField("AGEN", T.IntegerType()),
    T.StructField("PRIM", T.IntegerType()),
    T.StructField("GRUP", T.IntegerType()),
    T.StructField("attributes", T.MapType(T.StringType(),
                                          T.StringType())),
    T.StructField("geom_wkt", T.StringType()),
])


def read_s57(spark: SparkSession, paths: str | list[str], *,
             csv_dir: str | None = None) -> DataFrame:
    """Distributed ENC read: one task per cell file."""
    if isinstance(paths, str):
        paths = [paths]
    seg = blockscan.spread(spark, [(p,) for p in paths], "path string")

    def scan(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                info = parse_s57(r.path, csv_dir=csv_dir)
                cell = os.path.basename(r.path)
                classes = info["classes"]
                for ft in info["features"]:
                    att = {k: (",".join(v) if isinstance(v, list)
                               else v)
                           for k, v in ft["attributes"].items()}
                    out.append({
                        "cell": cell,
                        "layer": classes.get(
                            ft["objl"], f"OBJL_{ft['objl']}"),
                        "RCID": ft["rcid"], "LNAM": ft["lnam"],
                        "OBJL": ft["objl"], "AGEN": ft["agen"],
                        "PRIM": ft["prim"], "GRUP": ft["grup"],
                        "attributes": att,
                        "geom_wkt": feature_geometry(info, ft),
                    })
            yield pd.DataFrame(out, columns=[f.name for f in _SCHEMA])

    return seg.mapInPandas(scan, schema=_SCHEMA)
