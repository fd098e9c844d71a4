"""DXF (AutoCAD ASCII interchange) vector driver — chunk-parallel
read, part-file-parallel write.

Reference: gdal/ogr/ogrsf_frmts/dxf —
  - ogrdxfreader.cpp — the group-code/value pair stream (a code line
    followed by a value line; an entity starts at code 0);
  - ogrdxflayer.cpp — entity translation: POINT (10/20), LINE
    (10/20 -> 11/21), LWPOLYLINE (90 count, 70 bit 1 = closed,
    repeated 10/20), POLYLINE/VERTEX/SEQEND, CIRCLE and ARC to
    circular arcs (TranslateCIRCLE/TranslateARC emit
    OGRCircularString; full circle = the 5-point form), TEXT/MTEXT to
    a point plus the string (code 1), layer from code 8, handle from
    code 5;
  - ogrdxfwriterds.cpp — the writer emits a header template then
    streams ENTITIES.

Spark lowering — the reference reader is a sequential pair scanner;
here the ENTITIES section is split into BYTE-RANGE chunks planned by
the driver (file size / target chunk), and every executor aligns to
the first entity boundary (a ``0`` code line followed by a known
entity keyword) after its range start, then parses pairs until it
passes its range end — the text-format analog of a parquet row-group
scan: map-only, no shuffle, any file size. FIDs are the entity's byte
offset — deterministic and globally unique without any global
ordering pass (the reference's sequential FID needs a serial read;
the offset is the distributed equivalent, documented).

Alignment contract (documented): a TEXT value line that is itself a
bare integer followed by a line spelling an entity keyword would
false-trigger the boundary probe; the probe therefore requires the
code line to strip-equal "0" AND the next line to be one of the known
ENTITIES keywords — the residual ambiguity needs a text attribute
whose consecutive lines are exactly that pair, which the writer never
produces and real CAD exports do not contain.

The writer mirrors pgdump.py's sink contract: directory mode writes
``00_header.dxf`` + body part files + ``zz_trailer.dxf`` whose sorted
concatenation is the DXF (parallel, the scale path); single_file mode
streams partitions through the driver.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import blockscan
from . import geometry as GM
from .fmt import fmt_coord as _F

ENTITY_KEYWORDS = {
    "POINT", "LINE", "LWPOLYLINE", "POLYLINE", "VERTEX", "SEQEND",
    "CIRCLE", "ARC", "TEXT", "MTEXT", "INSERT", "3DFACE", "SOLID",
    "SPLINE", "ELLIPSE", "HATCH", "ENDSEC",
}

_SCHEMA = T.StructType([
    T.StructField("fid", T.LongType()),        # byte offset of entity
    T.StructField("layer", T.StringType()),
    T.StructField("etype", T.StringType()),
    T.StructField("handle", T.StringType()),
    T.StructField("wkt", T.StringType()),
    T.StructField("text", T.StringType()),
])


# ------------------------------------------------------------- parse
def _fmt(v: float) -> str:
    # Shortest round-trip decimal (the reference DXF writer emits
    # %.15g, ogrdxfwriterlayer.cpp:169; repr is exact and loss-free).
    return _F(v)


def _entity_to_row(etype: str, codes: list[tuple[str, str]],
                   offset: int) -> dict | None:
    d: dict[str, list[str]] = {}
    for c, v in codes:
        d.setdefault(c, []).append(v)

    def f1(code, default=None):
        return float(d[code][0]) if code in d else default

    layer = d.get("8", ["0"])[0]
    handle = d.get("5", [""])[0]
    wkt, text = None, None
    if etype == "POINT":
        wkt = f"POINT ({_fmt(f1('10'))} {_fmt(f1('20'))})"
    elif etype == "LINE":
        wkt = (f"LINESTRING ({_fmt(f1('10'))} {_fmt(f1('20'))}, "
               f"{_fmt(f1('11'))} {_fmt(f1('21'))})")
    elif etype in ("LWPOLYLINE", "POLYLINE"):
        xs = [float(v) for v in d.get("10", [])]
        ys = [float(v) for v in d.get("20", [])]
        if len(xs) < 2:
            return None
        closed = int(float(d.get("70", ["0"])[0])) & 1
        pts = list(zip(xs, ys))
        if closed:
            if pts[0] != pts[-1]:
                pts.append(pts[0])
            body = ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in pts)
            wkt = f"POLYGON (({body}))"
        else:
            body = ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in pts)
            wkt = f"LINESTRING ({body})"
    elif etype == "CIRCLE":
        cx, cy, r = f1("10"), f1("20"), f1("40")
        wkt = ("CIRCULARSTRING ("
               f"{_fmt(cx + r)} {_fmt(cy)}, {_fmt(cx)} {_fmt(cy + r)}, "
               f"{_fmt(cx - r)} {_fmt(cy)}, {_fmt(cx)} {_fmt(cy - r)}, "
               f"{_fmt(cx + r)} {_fmt(cy)})")
    elif etype == "ARC":
        import math
        cx, cy, r = f1("10"), f1("20"), f1("40")
        a0, a1 = f1("50", 0.0), f1("51", 360.0)
        if a1 < a0:
            a1 += 360.0
        am = (a0 + a1) / 2.0
        pts = [(cx + r * math.cos(math.radians(a)),
                cy + r * math.sin(math.radians(a)))
               for a in (a0, am, a1)]
        body = ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in pts)
        wkt = f"CIRCULARSTRING ({body})"
    elif etype in ("TEXT", "MTEXT"):
        wkt = f"POINT ({_fmt(f1('10'))} {_fmt(f1('20'))})"
        text = d.get("1", [""])[0]
    else:
        return None
    return {"fid": offset, "layer": layer, "etype": etype,
            "handle": handle, "wkt": wkt, "text": text}


def _parse_range(path: str, start: int, end: int, ent0: int,
                 first: bool) -> list[dict]:
    """Parse entities whose boundary offset lies in [start, end);
    reads past `end` to finish the last entity. `ent0` = offset of the
    ENTITIES section's first entity (chunk 0 starts there)."""
    size = os.path.getsize(path)
    rd_from = max(ent0, start)
    with open(path, "rb") as f:
        f.seek(rd_from)
        raw = f.read(min(size, end + (1 << 20)) - rd_from)
    txt = raw.decode("utf-8", errors="replace")
    lines = txt.splitlines(keepends=True)
    # byte offset of each line start
    offs, pos = [], rd_from
    for ln in lines:
        offs.append(pos)
        pos += len(ln.encode("utf-8"))
    stripped = [ln.strip() for ln in lines]

    # entity boundaries: code line "0" + next line a known keyword
    bounds = []
    for i in range(len(lines) - 1):
        if stripped[i] == "0" and stripped[i + 1] in ENTITY_KEYWORDS:
            bounds.append(i)
    rows: list[dict] = []
    for bi, i in enumerate(bounds):
        off = offs[i]
        if not first and off < start:
            continue
        if off >= end:
            break
        name = stripped[i + 1]
        if name == "ENDSEC":
            break
        j_end = (bounds[bi + 1] if bi + 1 < len(bounds)
                 else len(lines) - 1)
        codes = [(stripped[k], lines[k + 1].rstrip("\r\n"))
                 for k in range(i + 2, j_end - 1, 2)]
        if name == "POLYLINE":
            # swallow VERTEX/SEQEND sub-entities
            k = bi + 1
            while k < len(bounds) and stripped[bounds[k] + 1] in (
                    "VERTEX", "SEQEND"):
                j2 = (bounds[k + 1] if k + 1 < len(bounds)
                      else len(lines) - 1)
                codes += [(stripped[m], lines[m + 1].rstrip("\r\n"))
                          for m in range(bounds[k] + 2, j2 - 1, 2)]
                k += 1
        if name in ("VERTEX", "SEQEND"):
            continue  # consumed by their POLYLINE
        row = _entity_to_row(name, codes, off)
        if row is not None:
            rows.append(row)
    return rows


def read_dxf(spark: SparkSession, path: str, *,
             chunk_bytes: int = 8 << 20) -> DataFrame:
    """Distributed DXF scan: the driver locates the ENTITIES section
    (one buffered pass over the header pairs, a few KB), plans byte
    ranges, and executors parse their aligned range — map-only."""
    # locate "SECTION/2/ENTITIES"
    ent0 = None
    with open(path, "rb") as f:
        prev, pos, seen_sec = "", 0, False
        for bline in f:
            s = bline.decode("utf-8", errors="replace").strip()
            if prev == "2" and s == "ENTITIES" and seen_sec:
                ent0 = pos + len(bline)
                break
            if s == "SECTION":
                seen_sec = True
            prev = s
            pos += len(bline)
    if ent0 is None:
        raise ValueError("no ENTITIES section")
    size = os.path.getsize(path)
    ranges = [(s, min(s + chunk_bytes, size), ent0, s <= ent0)
              for s in range(ent0, size, chunk_bytes)]
    seg = blockscan.spread(
        spark, ranges, "start long, end long, ent0 long, first boolean")

    def scan(batches):
        for pdf in batches:
            frames = []
            for r in pdf.itertuples(index=False):
                rows = _parse_range(path, int(r.start), int(r.end),
                                    int(r.ent0), bool(r.first))
                if rows:
                    frames.append(pd.DataFrame(rows))
            yield (pd.concat(frames) if frames else
                   pd.DataFrame({f.name: [] for f in _SCHEMA}))

    return seg.mapInPandas(scan, schema=_SCHEMA)


# ------------------------------------------------------------- write
_HEADER = (
    "  0\nSECTION\n  2\nHEADER\n  9\n$ACADVER\n  1\nAC1009\n"
    "  0\nENDSEC\n  0\nSECTION\n  2\nENTITIES\n"
)
_TRAILER = "  0\nENDSEC\n  0\nEOF\n"


def _entity_text(layer, wkt, text) -> str | None:
    try:
        g = GM.parse_wkt(wkt)
    except Exception:
        return None
    lay = layer or "0"
    if g.kind == "point":
        x, y = g.parts[0][0][0], g.parts[0][1][0]
        if text:
            return ("  0\nTEXT\n  8\n%s\n 10\n%s\n 20\n%s\n 40\n1\n"
                    "  1\n%s\n" % (lay, _fmt(x), _fmt(y), text))
        return "  0\nPOINT\n  8\n%s\n 10\n%s\n 20\n%s\n" % (
            lay, _fmt(x), _fmt(y))
    if g.kind == "linestring":
        xs, ys = g.parts[0]
        if len(xs) == 2:
            return ("  0\nLINE\n  8\n%s\n 10\n%s\n 20\n%s\n"
                    " 11\n%s\n 21\n%s\n" % (lay, _fmt(xs[0]),
                                            _fmt(ys[0]), _fmt(xs[1]),
                                            _fmt(ys[1])))
        body = "".join(" 10\n%s\n 20\n%s\n" % (_fmt(x), _fmt(y))
                       for x, y in zip(xs, ys))
        return ("  0\nLWPOLYLINE\n  8\n%s\n 90\n%d\n 70\n0\n%s"
                % (lay, len(xs), body))
    if g.kind in ("polygon", "multipolygon"):
        out = []
        for poly in g.parts:  # parts = [poly], poly = [ring = (xs, ys)]
            for ring in poly:
                xs, ys = ring
                n = len(xs)
                if n > 1 and xs[0] == xs[-1] and ys[0] == ys[-1]:
                    xs, ys = xs[:-1], ys[:-1]
                body = "".join(" 10\n%s\n 20\n%s\n" % (_fmt(x), _fmt(y))
                               for x, y in zip(xs, ys))
                out.append("  0\nLWPOLYLINE\n  8\n%s\n 90\n%d\n"
                           " 70\n1\n%s" % (lay, len(xs), body))
        return "".join(out)
    return None


def write_dxf(df: DataFrame, path: str, *, layer_col: str = "layer",
              wkt_col: str = "wkt", text_col: str | None = None,
              single_file: bool = False) -> None:
    """DXF sink (ogrdxfwriterds.cpp): minimal AC1009 header +
    ENTITIES. Directory mode writes body part files in parallel whose
    sorted concatenation with 00_header/zz_trailer is the DXF."""
    cols = [F.col(layer_col).alias("layer"), F.col(wkt_col).alias("wkt")]
    cols.append(F.col(text_col).alias("text") if text_col
                else F.lit(None).cast("string").alias("text"))
    rows = df.select(*cols)

    @F.pandas_udf("string")
    def ent(layer: pd.Series, wkt: pd.Series, text: pd.Series) -> pd.Series:
        return pd.Series([
            (_entity_text(la, w, tx) or "").rstrip("\n")
            for la, w, tx in zip(layer, wkt, text)])

    body = rows.select(ent("layer", "wkt", "text").alias("value")) \
        .filter(F.col("value") != "")
    if single_file:
        with open(path, "w") as f:
            f.write(_HEADER)
            for r in body.toLocalIterator():
                f.write(r.value + "\n")
            f.write(_TRAILER)
        return
    body.write.mode("overwrite").text(path)
    with open(os.path.join(path, "00_header.dxf"), "w") as f:
        f.write(_HEADER)
    with open(os.path.join(path, "zz_trailer.dxf"), "w") as f:
        f.write(_TRAILER)


def concat_dxf_dir(dirpath: str, out_path: str) -> None:
    """Driver-side finalize of directory mode (same contract as the
    PGDump sink): sorted concat of header + parts + trailer."""
    parts = sorted(
        p for p in os.listdir(dirpath)
        if p.startswith("part-") or p.endswith(".dxf"))
    with open(out_path, "w") as out:
        for p in parts:
            if p.endswith(".crc") or p == "_SUCCESS":
                continue
            with open(os.path.join(dirpath, p)) as f:
                out.write(f.read())
