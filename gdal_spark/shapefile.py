"""ESRI Shapefile source + sink — the reference's flagship vector
format (gdal/ogr/ogrsf_frmts/shape/, shapelib + ogrshapelayer.cpp),
re-expressed for Spark's execution model.

READ (read_shapefile): a .shp file is record-sequential with variable
record sizes — by itself unsplittable. But its sidecar .shx is a flat
fixed-width index (one big-endian (offset, length) pair per record,
shapelib shpopen.c) — exactly a parquet-style row-group index. The
driver reads ONLY the .shx (8 bytes/record) and the .dbf header,
slices the record space into contiguous batches, and emits a small
descriptor DataFrame; executors then range-read their .shp byte span
and their fixed-width .dbf slice in parallel inside mapInPandas.
Attribute decode is numpy fixed-width (no per-row Python string
slicing in the hot loop beyond the final cast). This mirrors how the
reference's own .qix/.sbn machinery turns the format into a seekable
table (ogrshapelayer.cpp:541 ScanIndices).

Geometry decode covers shape types Null(0), Point(1), PolyLine(3),
Polygon(5), MultiPoint(8) and their Z (11,13,15,18) and M (21,23,25,
28) variants (XY carried; Z/M parsed and exposed on Point as WKT Z).
Polygon ring role follows the spec: clockwise = outer, counter-
clockwise = hole; holes are assigned to the containing outer ring
(the reference's organizePolygons default METHOD=ONLY_CCW for
shapefiles, ogrgeometryfactory.cpp:1622) and multiple outers emit a
MULTIPOLYGON.

WRITE (write_shapefile): shapefiles are inherently single-writer
sequential (variable-length records, running offsets) — the sink
collects to the driver and writes .shp/.shx/.dbf in one pass. This is
the SMALL-side utility (zone fixtures, join outputs bounded by LIMIT);
bulk data belongs in parquet — same stance as the editable-layer sinks
(layers.py). A scale path would mirror write_geotiff's planned
offsets via a two-level scan over record lengths (layout.py), but the
format's 2 GB file-size ceiling (32-bit offsets in 16-bit words) makes
that pointless in practice.

Parity oracle: the reference's canonical poly.shp fixture
(autotest/ogr/data/poly.*, 10 features, fields AREA/EAS_ID/PRFEDEA —
the substrate of all of autotest/ogr/ogr_sql_test.py) and its
documented extent (478315.53125, 4762880.5, 481645.3125, 4765610.5).
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import blockscan

# ------------------------------------------------------------- driver side
def _read_shx(path: str) -> tuple[np.ndarray, np.ndarray]:
    with open(path, "rb") as f:
        data = f.read()
    arr = np.frombuffer(data[100:], dtype=">i4").reshape(-1, 2)
    return arr[:, 0].astype(np.int64) * 2, arr[:, 1].astype(np.int64) * 2


def _dbf_header(path: str):
    with open(path, "rb") as f:
        hdr = f.read(32)
        n_rec, hdr_len, rec_len = struct.unpack("<IHH", hdr[4:12])
        fields = []
        while True:
            fd = f.read(32)
            if not fd or fd[0] == 0x0D:
                break
            name = fd[:11].split(b"\x00")[0].decode("ascii", "replace")
            ftype = chr(fd[11])
            flen = fd[16]
            fdec = fd[17]
            fields.append((name, ftype, flen, fdec))
    return n_rec, hdr_len, rec_len, fields


def _dbf_spark_type(ftype: str, fdec: int):
    if ftype in ("N", "F"):
        return T.DoubleType() if (fdec > 0 or ftype == "F") else T.LongType()
    if ftype == "L":
        return T.BooleanType()
    return T.StringType()  # C, D and anything exotic stay strings


# -------------------------------------------------------- geometry decode
def _ring_signed_area2(xs: np.ndarray, ys: np.ndarray) -> float:
    return float(np.dot(xs, np.roll(ys, -1)) - np.dot(np.roll(xs, -1), ys))


def _pt_in_ring(px: float, py: float, xs: np.ndarray, ys: np.ndarray) -> bool:
    xi, yi = xs, ys
    xj, yj = np.roll(xs, 1), np.roll(ys, 1)
    with np.errstate(divide="ignore", invalid="ignore"):
        cond = (yi > py) != (yj > py)
        xint = (xj - xi) * (py - yi) / (yj - yi) + xi
        return bool(np.logical_and(cond, px < np.where(np.isnan(xint), np.inf, xint)).sum() % 2)


def _fmt(v: float) -> str:
    s = repr(float(v))
    return s[:-2] if s.endswith(".0") else s


def _ring_wkt(xs: np.ndarray, ys: np.ndarray) -> str:
    pts = ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in zip(xs, ys))
    return f"({pts})"


def _polygon_wkt(rings: list[tuple[np.ndarray, np.ndarray]]) -> str:
    """Shapefile winding rule: CW (negative shoelace) = outer,
    CCW = hole; each hole joins the outer ring containing its first
    vertex (organizePolygons ONLY_CCW semantics)."""
    outers: list[list[tuple[np.ndarray, np.ndarray]]] = []
    holes: list[tuple[np.ndarray, np.ndarray]] = []
    for xs, ys in rings:
        if _ring_signed_area2(xs[:-1], ys[:-1]) < 0:
            outers.append([(xs, ys)])
        else:
            holes.append((xs, ys))
    if not outers:  # degenerate: promote holes
        outers = [[h] for h in holes]
        holes = []
    for hx, hy in holes:
        placed = False
        for grp in outers:
            ox, oy = grp[0]
            if _pt_in_ring(float(hx[0]), float(hy[0]), ox[:-1], oy[:-1]):
                grp.append((hx, hy))
                placed = True
                break
        if not placed:
            outers[0].append((hx, hy))
    polys = [
        "(" + ", ".join(_ring_wkt(xs, ys) for xs, ys in grp) + ")"
        for grp in outers
    ]
    if len(polys) == 1:
        return "POLYGON" + polys[0]
    return "MULTIPOLYGON(" + ", ".join(polys) + ")"


def _decode_shape(rec: bytes) -> str | None:
    (stype,) = struct.unpack_from("<i", rec, 0)
    base = stype % 10 if stype else 0
    has_z = stype in (11, 13, 15, 18)
    if stype == 0:
        return None
    if base == 1:  # Point / PointZ / PointM
        x, y = struct.unpack_from("<2d", rec, 4)
        if has_z:
            (z,) = struct.unpack_from("<d", rec, 20)
            return f"POINT Z({_fmt(x)} {_fmt(y)} {_fmt(z)})"
        return f"POINT({_fmt(x)} {_fmt(y)})"
    if base == 8:  # MultiPoint*
        (npts,) = struct.unpack_from("<i", rec, 36)
        pts = np.frombuffer(rec, dtype="<f8", count=2 * npts, offset=40).reshape(-1, 2)
        inner = ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in pts)
        return f"MULTIPOINT({inner})"
    if base in (3, 5):  # PolyLine* / Polygon*
        nparts, npts = struct.unpack_from("<2i", rec, 36)
        parts = np.frombuffer(rec, dtype="<i4", count=nparts, offset=44)
        pts = np.frombuffer(
            rec, dtype="<f8", count=2 * npts, offset=44 + 4 * nparts
        ).reshape(-1, 2)
        bounds = list(parts) + [npts]
        rings = [
            (pts[bounds[k] : bounds[k + 1], 0], pts[bounds[k] : bounds[k + 1], 1])
            for k in range(nparts)
        ]
        if base == 3:
            lines = [_ring_wkt(xs, ys) for xs, ys in rings]
            if len(lines) == 1:
                return "LINESTRING" + lines[0]
            return "MULTILINESTRING(" + ", ".join(lines) + ")"
        return _polygon_wkt(rings)
    raise NotImplementedError(f"shape type {stype}")


# --------------------------------------------------------------- reader
_DESC_SCHEMA = T.StructType(
    [
        T.StructField("rec_lo", T.LongType()),
        T.StructField("rec_hi", T.LongType()),
        T.StructField("shp_lo", T.LongType()),
        T.StructField("shp_hi", T.LongType()),
    ]
)


def read_prj(base: str) -> int | None:
    """Register the ``.prj`` sidecar's WKT1 CRS (the way OGR's
    shapefile driver feeds GetSpatialRef, ogrshape/ogrshapelayer.cpp)
    and return a code usable with every crs.* surface — the engine's
    own EPSG code when the AUTHORITY resolves, else a synthetic
    registration.  None when no sidecar exists."""
    import os

    path = base + ".prj"
    if not os.path.exists(path):
        return None
    from .wktsrs import register_wkt

    with open(path, "r", encoding="utf-8") as f:
        return register_wkt(f.read())


def read_shapefile(
    spark: SparkSession,
    base: str,
    records_per_batch: int = 4096,
) -> DataFrame:
    """Distributed shapefile scan -> (fid, geom_wkt, <dbf fields...>).

    base: path without extension (base + '.shp'/'.shx'/'.dbf').
    Driver I/O = .shx + .dbf header only; executors range-read."""
    shp, shx, dbf = base + ".shp", base + ".shx", base + ".dbf"
    offs, lens = _read_shx(shx)
    n = len(offs)
    n_rec, hdr_len, rec_len, fields = _dbf_header(dbf)
    if n_rec != n:
        raise ValueError(f".shx has {n} records but .dbf has {n_rec}")

    batches = []
    for lo in range(0, n, records_per_batch):
        hi = min(lo + records_per_batch, n)
        batches.append(
            (lo, hi, int(offs[lo]), int(offs[hi - 1] + lens[hi - 1] + 8))
        )
    out_fields = [
        T.StructField("fid", T.LongType()),
        T.StructField("geom_wkt", T.StringType()),
    ] + [T.StructField(nm, _dbf_spark_type(t, d)) for nm, t, fl, d in fields]
    out_schema = T.StructType(out_fields)

    desc = blockscan.spread(spark, batches, _DESC_SCHEMA)
    offs_l, lens_l = offs, lens  # closure ships the (8 bytes/record) index

    def scan(pdfs):
        for pdf in pdfs:
            rows = []
            with open(shp, "rb") as fs, open(dbf, "rb") as fd:
                for b in pdf.itertuples(index=False):
                    fs.seek(b.shp_lo)
                    span = fs.read(b.shp_hi - b.shp_lo)
                    fd.seek(hdr_len + b.rec_lo * rec_len)
                    araw = fd.read((b.rec_hi - b.rec_lo) * rec_len)
                    for k in range(b.rec_lo, b.rec_hi):
                        start = int(offs_l[k] - b.shp_lo) + 8
                        rec = span[start : start + int(lens_l[k])]
                        wkt = _decode_shape(rec)
                        arec = araw[
                            (k - b.rec_lo) * rec_len : (k - b.rec_lo + 1) * rec_len
                        ]
                        row: dict = {"fid": k, "geom_wkt": wkt}
                        pos = 1  # skip deletion flag
                        for nm, t, fl, dec in fields:
                            cell = arec[pos : pos + fl].decode("latin-1").strip()
                            pos += fl
                            if t in ("N", "F"):
                                if not cell:
                                    row[nm] = None
                                elif dec > 0 or t == "F":
                                    row[nm] = float(cell)
                                else:
                                    row[nm] = int(cell)
                            elif t == "L":
                                row[nm] = cell in ("Y", "y", "T", "t") if cell else None
                            else:
                                row[nm] = cell or None
                        rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in out_fields])

    return desc.mapInPandas(scan, schema=out_schema)


# --------------------------------------------------------------- writer
def write_shapefile(df: DataFrame, base: str, geom_col: str = "geom_wkt",
                    srs: int | str | None = None) -> dict:
    """Sequential single-writer sink (see module docstring). Field
    schema is derived from the DataFrame schema; geometry type from
    the first feature.  ``srs`` (an EPSG code from the registry or a
    literal WKT string) emits the ``.prj`` sidecar the way OGR's
    shapefile driver does (ogrshape/ogrshapedatasource.cpp)."""
    from . import geometry as GM

    rows = df.collect()
    attrs = [f for f in df.schema.fields if f.name not in (geom_col, "fid")]

    # ---- dbf
    fields = []
    for f in attrs:
        if isinstance(f.dataType, (T.LongType, T.IntegerType)):
            fields.append((f.name[:10], "N", 18, 0))
        elif isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            fields.append((f.name[:10], "N", 24, 15))
        elif isinstance(f.dataType, T.BooleanType):
            fields.append((f.name[:10], "L", 1, 0))
        else:
            fields.append((f.name[:10], "C", 80, 0))
    rec_len = 1 + sum(fl for _, _, fl, _ in fields)
    hdr_len = 32 + 32 * len(fields) + 1
    with open(base + ".dbf", "wb") as f:
        f.write(struct.pack("<B3BIHH20x", 3, 26, 8, 18, len(rows), hdr_len, rec_len))
        for nm, t, fl, dec in fields:
            f.write(nm.encode("ascii").ljust(11, b"\x00"))
            f.write(t.encode("ascii"))
            f.write(b"\x00" * 4 + bytes([fl, dec]) + b"\x00" * 14)
        f.write(b"\x0d")
        for r in rows:
            f.write(b" ")
            for (nm, t, fl, dec), fobj in zip(fields, attrs):
                v = r[fobj.name]
                if v is None:
                    cell = b" " * fl
                elif t == "N" and dec:
                    cell = f"{float(v):>{fl}.{dec}f}".encode()[:fl]
                elif t == "N":
                    cell = f"{int(v):>{fl}d}".encode()[:fl]
                elif t == "L":
                    cell = b"T" if v else b"F"
                else:
                    cell = str(v).encode("latin-1", "replace")[:fl].ljust(fl, b" ")
                f.write(cell)
        f.write(b"\x1a")

    # ---- shp + shx
    recs = []
    gxmin = gymin = np.inf
    gxmax = gymax = -np.inf
    for r in rows:
        wkt = r[geom_col]
        if wkt is None:
            recs.append(struct.pack("<i", 0))
            continue
        g = GM.parse_wkt(wkt)
        xs, ys = g.all_points()
        if len(xs):
            gxmin, gymin = min(gxmin, xs.min()), min(gymin, ys.min())
            gxmax, gymax = max(gxmax, xs.max()), max(gymax, ys.max())
        kind = g.kind
        if kind == "point":
            recs.append(struct.pack("<i2d", 1, float(xs[0]), float(ys[0])))
        elif kind in ("polygon", "multipolygon"):
            polys = g.parts if kind == "multipolygon" else [g.parts[0]]
            rings = []
            for part in polys:
                for i, (rx, ry) in enumerate(part):
                    rx = np.asarray(rx, np.float64)
                    ry = np.asarray(ry, np.float64)
                    if rx[0] != rx[-1] or ry[0] != ry[-1]:
                        rx = np.append(rx, rx[0])
                        ry = np.append(ry, ry[0])
                    # spec winding: outer ring CW (negative shoelace),
                    # holes CCW — flip when the source disagrees
                    a2 = _ring_signed_area2(rx[:-1], ry[:-1])
                    if (i == 0 and a2 > 0) or (i > 0 and a2 < 0):
                        rx, ry = rx[::-1], ry[::-1]
                    rings.append((rx, ry))
            body = struct.pack(
                "<i4d2i", 5, float(xs.min()), float(ys.min()),
                float(xs.max()), float(ys.max()), len(rings),
                sum(len(rx) for rx, _ in rings),
            )
            part_off = 0
            for rx, _ in rings:
                body += struct.pack("<i", part_off)
                part_off += len(rx)
            for rx, ry in rings:
                body += np.column_stack([rx, ry]).astype("<f8").tobytes()
            recs.append(body)
        elif kind in ("linestring", "multilinestring"):
            lines = (
                g.parts if kind == "multilinestring" else [g.parts[0]]
            )
            lines = [
                (np.asarray(lx, np.float64), np.asarray(ly, np.float64))
                for lx, ly in lines
            ]
            npts = sum(len(lx) for lx, _ in lines)
            body = struct.pack(
                "<i4d2i", 3, float(xs.min()), float(ys.min()),
                float(xs.max()), float(ys.max()), len(lines), npts,
            )
            off = 0
            for lx, _ in lines:
                body += struct.pack("<i", off)
                off += len(lx)
            for lx, ly in lines:
                body += np.column_stack([lx, ly]).astype("<f8").tobytes()
            recs.append(body)
        else:
            raise NotImplementedError(f"write_shapefile: {kind}")

    shape_type = 0
    for rec in recs:
        (st,) = struct.unpack_from("<i", rec, 0)
        if st:
            shape_type = st
            break
    if not np.isfinite(gxmin):
        gxmin = gymin = gxmax = gymax = 0.0

    def header(total_words: int) -> bytes:
        h = struct.pack(">i5i i", 9994, 0, 0, 0, 0, 0, total_words)
        h += struct.pack("<ii4d4d", 1000, shape_type, gxmin, gymin, gxmax,
                         gymax, 0.0, 0.0, 0.0, 0.0)
        return h

    shp_words = 50 + sum((8 + len(r)) // 2 for r in recs)
    shx_words = 50 + 4 * len(recs)
    with open(base + ".shp", "wb") as fs, open(base + ".shx", "wb") as fx:
        fs.write(header(shp_words))
        fx.write(header(shx_words))
        off_words = 50
        for i, rec in enumerate(recs):
            fs.write(struct.pack(">2i", i + 1, len(rec) // 2))
            fs.write(rec)
            fx.write(struct.pack(">2i", off_words, len(rec) // 2))
            off_words += (8 + len(rec)) // 2
    if srs is not None:
        if isinstance(srs, int):
            from .srsinfo import wkt_strings

            srs = wkt_strings()[srs]
        with open(base + ".prj", "w", encoding="utf-8") as fp:
            fp.write(srs)
    return {
        "records": len(recs), "shape_type": shape_type,
        "extent": (gxmin, gymin, gxmax, gymax),
    }
