"""MapInfo Interchange Format (MIF/MID) vector driver, file-parallel.

Reference: gdal/ogr/ogrsf_frmts/mitab/mitab_miffile.cpp
(MIFFile::ParseMIFHeader / PreParseFile — header, COLUMNS block,
DELIMITER), mitab_feature_mif.cpp (POINT/LINE/PLINE/REGION record
grammar, trailing SYMBOL/PEN/BRUSH/SMOOTH/CENTER clauses);
autotest/ogr/ogr_mitab.py (.mif cases).

Data model: a dataset is a PAIR of text files — `.mif` holds the
header (schema) plus one geometry record per feature, `.mid` holds
one delimited attribute row per feature, paired by position. Records
are variable-length multi-line blocks (a PLINE's vertex count is
inside the record), so the format does not line-split; like the
reference's serial MIF parser the distributed unit is the FILE PAIR
(the xmlvec.py contract): a descriptor DataFrame of paths fans out,
each task parsing its pair. Interchange corpora are many modest
files — at fleet scale the scan parallelizes across files exactly
like a parquet directory.

The schema comes from the first file's COLUMNS block (driver-side KB
metadata — all files of one layer share it, the OGR layer model).
Geometry returns as WKT with shortest-round-trip coordinate
formatting (fmt.py — the round-4 precision lesson), styles as the
raw trailing clause text in `mif_style` (full symbology->OGR_STYLE
translation lives in style.py and is out of scope here).

Simplifications (documented): a multi-ring REGION reads as one
POLYGON whose later rings are holes (the reference runs a containment
analysis to split disjoint shells into MULTIPOLYGON); LINE reads as
its 2-point LINESTRING; Logical/Date columns surface as strings.

The writer is the single-stream ordered pair (the write_aaigrid
contract — .mif record i MUST pair with .mid line i, an ordered byte
stream); WKT kinds point/linestring/multilinestring/polygon/
multipolygon map to POINT/PLINE/PLINE MULTIPLE/REGION.
"""

from __future__ import annotations

import csv
import io
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import blockscan
from .fmt import fmt_coord as _F
from .geometry import parse_wkt

_STYLE_KEYS = ("SYMBOL", "PEN", "BRUSH", "SMOOTH", "CENTER", "FONT")
_GEOM_KEYS = ("POINT", "LINE", "PLINE", "REGION", "NONE")


# ------------------------------------------------------------- header

def _parse_header(lines: list[str]):
    """(columns [(name, mif_type)], delimiter, index of DATA line)."""
    delim = "\t"
    cols: list[tuple[str, str]] = []
    i = 0
    while i < len(lines):
        up = lines[i].strip().upper()
        if up.startswith("DELIMITER"):
            q = lines[i].split('"')
            if len(q) >= 2:
                delim = q[1]
        elif up.startswith("COLUMNS"):
            n = int(up.split()[1])
            for j in range(1, n + 1):
                parts = lines[i + j].strip().split(None, 1)
                cols.append((parts[0], parts[1] if len(parts) > 1
                             else "Char(254)"))
            i += n
        elif up == "DATA":
            return cols, delim, i
        i += 1
    raise ValueError("MIF file has no DATA section")


def _spark_type(mif_type: str):
    t = mif_type.split("(")[0].strip().lower()
    if t in ("integer", "smallint"):
        return T.LongType()
    if t in ("float", "decimal"):
        return T.DoubleType()
    return T.StringType()  # Char, Date, Logical, Time, ...


def mif_schema(path: str) -> tuple[T.StructType, list[tuple[str, str]], str]:
    """Driver-side schema from one .mif header (KB metadata)."""
    with open(path, "r", encoding="latin-1") as f:
        head = []
        for ln in f:
            head.append(ln.rstrip("\n"))
            if ln.strip().upper() == "DATA":
                break
    cols, delim, _ = _parse_header(head)
    fields = [T.StructField("file", T.StringType()),
              T.StructField("fid", T.LongType()),
              T.StructField("wkt", T.StringType()),
              T.StructField("mif_style", T.StringType())]
    fields += [T.StructField(n, _spark_type(t)) for n, t in cols]
    return T.StructType(fields), cols, delim


# ------------------------------------------------------------- reader

def _pts_wkt(pts: list[tuple[float, float]]) -> str:
    return ", ".join(f"{_F(x)} {_F(y)}" for x, y in pts)


def _parse_records(lines: list[str], start: int):
    """Yield (wkt, style) per geometry record from the DATA section."""
    i = start
    n = len(lines)

    def coords(k, j):
        pts = []
        for _ in range(k):
            a = lines[j].split()
            pts.append((float(a[0]), float(a[1])))
            j += 1
        return pts, j

    while i < n:
        raw = lines[i].strip()
        i += 1
        if not raw:
            continue
        toks = raw.split()
        key = toks[0].upper()
        if key not in _GEOM_KEYS:
            raise ValueError(f"unsupported MIF record {toks[0]!r}")
        wkt = None
        if key == "NONE":
            wkt = None
        elif key == "POINT":
            wkt = f"POINT ({_F(float(toks[1]))} {_F(float(toks[2]))})"
        elif key == "LINE":
            x1, y1, x2, y2 = (float(v) for v in toks[1:5])
            wkt = (f"LINESTRING ({_F(x1)} {_F(y1)}, {_F(x2)} {_F(y2)})")
        elif key == "PLINE":
            if len(toks) > 1 and toks[1].upper() == "MULTIPLE":
                secs = []
                for _ in range(int(toks[2])):
                    k = int(lines[i].strip())
                    i += 1
                    pts, i = coords(k, i)
                    secs.append(pts)
                wkt = "MULTILINESTRING (" + ", ".join(
                    "(" + _pts_wkt(s) + ")" for s in secs) + ")"
            else:
                pts, i = coords(int(toks[1]), i)
                wkt = f"LINESTRING ({_pts_wkt(pts)})"
        elif key == "REGION":
            rings = []
            for _ in range(int(toks[1])):
                k = int(lines[i].strip())
                i += 1
                pts, i = coords(k, i)
                if pts[0] != pts[-1]:
                    pts.append(pts[0])  # MIF rings are implicitly closed
                rings.append(pts)
            wkt = "POLYGON (" + ", ".join(
                "(" + _pts_wkt(r) + ")" for r in rings) + ")"
        style = []
        while i < n and lines[i].strip().split(" ", 1)[0].upper() \
                in _STYLE_KEYS:
            style.append(lines[i].strip())
            i += 1
        yield wkt, ("; ".join(style) or None)


def read_mif(spark: SparkSession, path: str) -> DataFrame:
    """MIF/MID scan, one file pair per task (map-only)."""
    if os.path.isdir(path):
        files = sorted(os.path.join(path, f) for f in os.listdir(path)
                       if f.lower().endswith(".mif"))
    else:
        files = [path]
    if not files:
        raise FileNotFoundError(f"no .mif files under {path}")
    schema, cols, delim = mif_schema(files[0])
    plan = blockscan.spread(spark, [(f,) for f in files], "path string")

    def scan(batches):
        for pdf in batches:
            out = []
            for p in pdf["path"]:
                with open(p, "r", encoding="latin-1") as f:
                    lines = [ln.rstrip("\n") for ln in f]
                _, d, data_at = _parse_header(lines)
                midp = os.path.splitext(p)[0] + ".mid"
                if not os.path.exists(midp):
                    midp = os.path.splitext(p)[0] + ".MID"
                with open(midp, "r", encoding="latin-1") as f:
                    rows = list(csv.reader(f, delimiter=d, quotechar='"'))
                base = os.path.basename(p)
                for fid, ((wkt, style), attrs) in enumerate(
                        zip(_parse_records(lines, data_at + 1), rows)):
                    rec = {"file": base, "fid": fid, "wkt": wkt,
                           "mif_style": style}
                    for (name, mt), v in zip(cols, attrs):
                        t = mt.split("(")[0].strip().lower()
                        if t in ("integer", "smallint"):
                            rec[name] = int(v) if v != "" else None
                        elif t in ("float", "decimal"):
                            rec[name] = float(v) if v != "" else None
                        else:
                            rec[name] = v
                    out.append(rec)
            yield pd.DataFrame(out, columns=[f.name for f in schema])

    return plan.mapInPandas(scan, schema=schema)


# ------------------------------------------------------------- writer

def _mif_geom(wkt: str | None) -> str:
    if wkt is None:
        return "NONE"
    g = parse_wkt(wkt)
    if g.kind == "point":
        xs, ys = g.parts[0]
        return f"POINT {_F(float(xs[0]))} {_F(float(ys[0]))}"
    if g.kind == "linestring":
        xs, ys = g.parts[0]
        body = "\n".join(f"{_F(float(x))} {_F(float(y))}"
                         for x, y in zip(xs, ys))
        return f"PLINE {len(xs)}\n{body}"
    if g.kind == "multilinestring":
        secs = []
        for xs, ys in g.parts:
            secs.append(f"  {len(xs)}\n" + "\n".join(
                f"{_F(float(x))} {_F(float(y))}"
                for x, y in zip(xs, ys)))
        return (f"PLINE MULTIPLE {len(g.parts)}\n" + "\n".join(secs))
    if g.kind in ("polygon", "multipolygon"):
        polys = g.parts if g.kind == "multipolygon" else [g.parts[0]]
        rings = [r for rs in polys for r in rs]
        out = [f"REGION {len(rings)}"]
        for xs, ys in rings:
            # MIF rings close implicitly: drop an explicit closing pt
            k = len(xs)
            if k > 1 and xs[0] == xs[-1] and ys[0] == ys[-1]:
                k -= 1
            out.append(f"  {k}")
            out += [f"{_F(float(xs[i]))} {_F(float(ys[i]))}"
                    for i in range(k)]
        return "\n".join(out)
    raise NotImplementedError(f"MIF geometry for {g.kind}")


def _column_spec(df: DataFrame, wkt_col: str, style_col):
    skip = {wkt_col} | ({style_col} if style_col else set())
    attr = [f for f in df.schema.fields if f.name not in skip]
    cols = []
    for f in attr:
        if isinstance(f.dataType, (T.LongType, T.IntegerType,
                                   T.ShortType)):
            cols.append((f.name, "Integer"))
        elif isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            cols.append((f.name, "Float"))
        else:
            cols.append((f.name, "Char(254)"))
    return attr, cols


def _header_text(cols, delimiter: str) -> str:
    out = ["VERSION 300", 'CHARSET "Neutral"',
           f'DELIMITER "{delimiter}"', f"COLUMNS {len(cols)}"]
    out += [f"  {n} {t}" for n, t in cols]
    out += ["DATA", ""]
    return "\n".join(out) + "\n"


def _render_pair(rows, attr, has_style: bool, delimiter: str):
    """(mif record text, mid text) for an iterable of selected rows
    ordered (wkt[, style], *attrs) — shared by the single-stream and
    the partition-parallel directory sinks."""
    mif = io.StringIO()
    mid = io.StringIO()
    w = csv.writer(mid, delimiter=delimiter, quotechar='"',
                   quoting=csv.QUOTE_NONNUMERIC, lineterminator="\n")
    numeric = (T.LongType, T.IntegerType, T.ShortType,
               T.DoubleType, T.FloatType)
    for row in rows:
        mif.write(_mif_geom(row[0]) + "\n")
        if has_style and row[1]:
            mif.write(f"    {row[1]}\n")
        vals = []
        for f, v in zip(attr, row[1 + has_style:]):
            if isinstance(f.dataType, numeric):
                vals.append(v if v is not None else "")
            else:
                s = "" if v is None else str(v)
                if '"' in s:
                    raise ValueError(
                        "MID has no quote escape; value contains '\"'")
                vals.append(s)
        w.writerow(vals)
    return mif.getvalue(), mid.getvalue()


def write_mif(df: DataFrame, path: str, *, wkt_col: str = "wkt",
              style_col: str | None = None,
              delimiter: str = ",") -> None:
    """Ordered single-stream MIF+MID pair (record i of .mif pairs with
    line i of .mid — the same sequential-sink contract as
    write_aaigrid). `path` without extension; attribute columns =
    everything except the wkt/style columns. For corpus-scale exports
    use write_mif_dir (one pair per partition, no driver bytes)."""
    attr, cols = _column_spec(df, wkt_col, style_col)
    sel = [wkt_col] + ([style_col] if style_col else []) \
        + [f.name for f in attr]
    body, mid = _render_pair(df.select(*sel).toLocalIterator(),
                             attr, bool(style_col), delimiter)
    with open(path + ".mif", "w", encoding="latin-1") as f:
        f.write(_header_text(cols, delimiter) + body)
    with open(path + ".mid", "w", encoding="latin-1") as f:
        f.write(mid)


def write_mif_dir(df: DataFrame, path: str, *, wkt_col: str = "wkt",
                  style_col: str | None = None,
                  delimiter: str = ",") -> None:
    """Partition-parallel MIF sink: each partition emits one complete
    .mif/.mid pair into `path` (the xmlvec directory contract — no
    driver bytes, read_mif consumes the directory as one layer).
    Record/line pairing is per-file, so the format's ordering
    invariant holds inside each pair while the fleet writes in
    parallel."""
    attr, cols = _column_spec(df, wkt_col, style_col)
    head = _header_text(cols, delimiter)
    sel = [wkt_col] + ([style_col] if style_col else []) \
        + [f.name for f in attr]
    has_style = bool(style_col)
    os.makedirs(path, exist_ok=True)

    def part(it):
        rows = list(it)
        if not rows:
            return
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        body, mid = _render_pair(rows, attr, has_style, delimiter)
        with open(os.path.join(path, f"part-{pid:05d}.mif"), "w",
                  encoding="latin-1") as f:
            f.write(head + body)
        with open(os.path.join(path, f"part-{pid:05d}.mid"), "w",
                  encoding="latin-1") as f:
            f.write(mid)

    df.select(*sel).foreachPartition(part)
