"""Arc/Info AVCE00 (.e00 interchange) vector reader.

Reference: gdal/ogr/ogrsf_frmts/avc/ (avce00 lib: avc_e00parse.c,
ogravce00layer.cpp) —
  - EXP header ("EXP 1" marks the unsupported compressed form —
    rejected like the reference); sections named by a 3-4 char
    keyword + precision digit (2 = single, 3 = double).
  - ARC: 7-int record header (ArcId, UserId, FNode, TNode, LPoly,
    RPoly, nVertices) + nVertices coordinate pairs; -1 terminates.
    Single-precision values round-trip through float32 — the
    reference reads %E fields into floats, which is why its own
    test expects 340099.875 for '3.4009988E+05'.
  - LAB: (LabelId, PolyId, x, y) + a bounding pair line; CNT, PAL,
    TOL, PRJ, IFO sections are skipped structurally (token-count
    driven, so unknown sections don't derail the parse); PRJ text
    is carried as the layer SRS description.

Spark lowering: an E00 is one sequential text stream (records wrap
lines freely), so the FILE is the parallel unit — coverages ship
as fleets of .e00 files (the MIF/DGN contract)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import blockscan
from .fmt import fmt_coord as fnum


def identify(path: str) -> bool:
    with open(path, "rb") as f:
        h = f.read(8)
    return h[:3] == b"EXP"


def parse_e00(path: str) -> dict:
    with open(path, "r", encoding="latin-1", errors="replace") as f:
        first = f.readline()
        if not first.startswith("EXP"):
            raise ValueError(f"AVCE00: missing EXP header in {path}")
        if first.split()[1] == "1":
            raise ValueError(
                f"AVCE00: compressed E00 not supported ({path})")
        text = f.read()
    lines = text.splitlines()
    arcs = []
    labs = []
    prj = []
    i = 0
    n = len(lines)

    def floats_from(j, count, single):
        """Collect `count` floats starting at line j (values wrap
        lines freely)."""
        vals = []
        while len(vals) < count and j < n:
            for tok in lines[j].split():
                vals.append(float(tok))
            j += 1
        if single:
            vals = [float(np.float32(v)) for v in vals]
        return vals[:count], j

    while i < n:
        parts = lines[i].split()
        key = parts[0] if parts else ""
        if key == "ARC" and len(parts) == 2:
            single = parts[1] == "2"
            i += 1
            while i < n:
                hdr = lines[i].split()
                if len(hdr) < 7:
                    break
                rec = [int(v) for v in hdr[:7]]
                i += 1
                if rec[0] == -1:
                    break
                nv = rec[6]
                vals, i = floats_from(i, nv * 2, single)
                pts = list(zip(vals[0::2], vals[1::2]))
                arcs.append(dict(
                    arcid=rec[0], userid=rec[1], fnode=rec[2],
                    tnode=rec[3], lpoly=rec[4], rpoly=rec[5],
                    points=pts))
        elif key == "LAB" and len(parts) == 2:
            single = parts[1] == "2"
            i += 1
            while i < n:
                hdr = lines[i].split()
                if len(hdr) < 4:
                    break
                lid, pid = int(hdr[0]), int(hdr[1])
                if lid == -1:
                    i += 1
                    break
                x, y = float(hdr[2]), float(hdr[3])
                if single:
                    x, y = float(np.float32(x)), float(np.float32(y))
                i += 1
                # skip the bounding pair line(s): 4 more values
                _, i = floats_from(i, 4, single)
                labs.append(dict(labelid=lid, polyid=pid, x=x, y=y))
        elif key == "PRJ" and len(parts) == 2:
            i += 1
            while i < n and lines[i].split() and \
                    lines[i].split()[0] != "EOP":
                prj.append(lines[i].rstrip())
                i += 1
        else:
            i += 1
    return dict(arcs=arcs, labels=labs, prj="\n".join(prj))


_SCHEMA = T.StructType([
    T.StructField("source", T.StringType()),
    T.StructField("layer", T.StringType()),
    T.StructField("fid", T.LongType()),
    T.StructField("UserID", T.StringType()),
    T.StructField("FNode", T.IntegerType()),
    T.StructField("TNode", T.IntegerType()),
    T.StructField("LPoly", T.IntegerType()),
    T.StructField("RPoly", T.IntegerType()),
    T.StructField("geom_wkt", T.StringType()),
])


def read_avce00(spark: SparkSession,
                paths: str | list[str]) -> DataFrame:
    if isinstance(paths, str):
        paths = [paths]
    seg = blockscan.spread(spark, [(p,) for p in paths], "path string")

    def scan(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                info = parse_e00(r.path)
                src = os.path.basename(r.path)
                for a in info["arcs"]:
                    wkt = "LINESTRING (" + ", ".join(
                        f"{fnum(x)} {fnum(y)}"
                        for x, y in a["points"]) + ")"
                    out.append({
                        "source": src, "layer": "ARC",
                        "fid": a["arcid"],
                        "UserID": str(a["userid"]),
                        "FNode": a["fnode"], "TNode": a["tnode"],
                        "LPoly": a["lpoly"], "RPoly": a["rpoly"],
                        "geom_wkt": wkt})
                for la in info["labels"]:
                    out.append({
                        "source": src, "layer": "LAB",
                        "fid": la["labelid"],
                        "UserID": str(la["polyid"]),
                        "FNode": None, "TNode": None,
                        "LPoly": None, "RPoly": None,
                        "geom_wkt": f"POINT ({fnum(la['x'])} "
                                    f"{fnum(la['y'])})"})
            yield pd.DataFrame(out, columns=[f.name for f in _SCHEMA])

    return seg.mapInPandas(scan, schema=_SCHEMA)
