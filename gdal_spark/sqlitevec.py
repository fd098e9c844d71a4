"""Plain SQLite / Spatialite vector driver — the general-database
sibling of the GeoPackage driver.

Reference semantics: gdal/ogr/ogrsf_frmts/sqlite/ —
``ogrsqlitedatasource.cpp`` (open path: sqlite_master walk, detection
of a Spatialite ``geometry_columns`` catalog, both the legacy TEXT
``type`` and the 4.x INTEGER ``geometry_type`` layouts) and
``ogrsqlitelayer.cpp`` (feature read, Spatialite geometry BLOBs).
Blob layout per the public Spatialite BLOB-geometry spec, the same
one ``ogrsqlitelayer.cpp ImportSpatiaLiteGeometry`` implements:

    00 | endian(01=LE,00=BE) | srid int32 | MBR 4 doubles | 7C |
    class uint32 | payload ... | FE

with NO per-entity endian bytes — collection members are introduced
by a 0x69 marker instead, and the header's endianness applies to the
whole blob.  Classes: XY 1..7, XYZ 1001..1007 (compressed 1000000+
variants are a Spatialite storage optimization, not implemented).

Spark-first design — identical to gpkg.py: SQLite files are B-trees,
so the scan is splittable by rowid range; the driver reads only the
catalog + MIN/MAX(rowid), executors open immutable read-only
connections and window their slice in mapInPandas.  Geometry blobs
re-emit as standard ISO WKB (structural walk, no byte guessing) and
decode through the engine's WKB codec.  The sink is driver-side
sequential (SQLite is single-writer) with distributed-encode kept for
the bounded-layer sizes this path serves, same stance as the
shapefile and GPKG sinks.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import blockscan
from . import geometry
from .gpkg import _SQLITE_TYPES, _ro_connect

_DIMS = {0: 2, 1000: 3}            # class // 1000 -> ordinates per point


def _class_info(cls: int) -> tuple[int, int]:
    """-> (base 1..7, ndim 2|3) or raises."""
    base = cls % 1000
    fam = cls - base
    if base < 1 or base > 7 or fam not in _DIMS:
        raise NotImplementedError(f"Spatialite geometry class {cls}")
    return base, _DIMS[fam]


def spatialite_to_wkb(blob: bytes) -> tuple[int, bytes]:
    """Decode a Spatialite BLOB -> (srid, standard little-endian ISO
    WKB).  Structural walk: counts drive the cursor, 0x69 markers are
    verified, never searched for."""
    if len(blob) < 45 or blob[0] != 0x00 or blob[-1] != 0xFE:
        raise ValueError("not a Spatialite geometry blob")
    e = "<" if blob[1] == 0x01 else ">"
    srid = struct.unpack_from(e + "i", blob, 2)[0]
    if blob[38] != 0x7C:
        raise ValueError("missing Spatialite MBR end marker")
    pos = [39]

    def u32() -> int:
        v = struct.unpack_from(e + "I", blob, pos[0])[0]
        pos[0] += 4
        return v

    def dbl(n: int) -> bytes:
        raw = struct.unpack_from(e + f"{n}d", blob, pos[0])
        pos[0] += 8 * n
        return struct.pack(f"<{n}d", *raw)

    def entity(cls: int) -> bytes:
        base, nd = _class_info(cls)
        out = struct.pack("<BI", 1, cls)
        if base == 1:                                   # point
            return out + dbl(nd)
        if base == 2:                                   # linestring
            n = u32()
            return out + struct.pack("<I", n) + dbl(n * nd)
        if base == 3:                                   # polygon
            nr = u32()
            out += struct.pack("<I", nr)
            for _ in range(nr):
                n = u32()
                out += struct.pack("<I", n) + dbl(n * nd)
            return out
        n = u32()                                       # multi/collection
        out += struct.pack("<I", n)
        for _ in range(n):
            if blob[pos[0]] != 0x69:
                raise ValueError("missing Spatialite entity marker")
            pos[0] += 1
            out += entity(u32())
        return out

    return srid, entity(u32())


def wkb_to_spatialite(wkb: bytes, srid: int) -> bytes:
    """Standard WKB -> Spatialite blob (little-endian): strip per-
    entity endian bytes, add 0x69 markers, prepend header with MBR."""
    pos = [0]

    def u8() -> int:
        v = wkb[pos[0]]
        pos[0] += 1
        return v

    def u32(e: str) -> int:
        v = struct.unpack_from(e + "I", wkb, pos[0])[0]
        pos[0] += 4
        return v

    def dbl(e: str, n: int) -> bytes:
        raw = struct.unpack_from(e + f"{n}d", wkb, pos[0])
        pos[0] += 8 * n
        return struct.pack(f"<{n}d", *raw)

    def entity(top: bool) -> bytes:
        e = "<" if u8() == 1 else ">"
        cls = u32(e)
        if cls & 0x80000000:                            # 2.5D flag -> ISO Z
            cls = (cls & 0x7FFFFFFF) + 1000
        base, nd = _class_info(cls)
        out = b"" if top else b"\x69"
        out += struct.pack("<I", cls)
        if base == 1:
            return out + dbl(e, nd)
        if base == 2:
            n = u32(e)
            return out + struct.pack("<I", n) + dbl(e, n * nd)
        if base == 3:
            nr = u32(e)
            out += struct.pack("<I", nr)
            for _ in range(nr):
                n = u32(e)
                out += struct.pack("<I", n) + dbl(e, n * nd)
            return out
        n = u32(e)
        out += struct.pack("<I", n)
        for _ in range(n):
            out += entity(False)
        return out

    body = entity(True)
    g = geometry.parse_wkb(wkb)
    xs, ys = g.all_points()
    mbr = (float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max()))
    return (b"\x00\x01" + struct.pack("<i", srid)
            + struct.pack("<4d", *mbr) + b"\x7c" + body + b"\xfe")


# ---------------------------------------------------------------- catalog
def _geom_catalog(con) -> dict[str, tuple[str, int]]:
    """table -> (geometry column, srid), tolerant of both Spatialite
    geometry_columns layouts; empty when the db has no catalog."""
    try:
        cols = {r[1].lower() for r in con.execute(
            "PRAGMA table_info(geometry_columns)")}
    except Exception:
        return {}
    if not cols:
        return {}
    out = {}
    for tn, gc, srid in con.execute(
            "SELECT f_table_name, f_geometry_column, srid "
            "FROM geometry_columns"):
        out[tn] = (gc, int(srid) if srid is not None else -1)
    return out


def list_layers(path: str) -> list[str]:
    con = _ro_connect(path)
    try:
        gcat = _geom_catalog(con)
        names = [r[0] for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type = 'table' "
            "AND name NOT LIKE 'sqlite_%'")]
        skip = {"geometry_columns", "spatial_ref_sys",
                "spatialite_history", "geometry_columns_auth",
                "geometry_columns_statistics",
                "geometry_columns_field_infos",
                "geometry_columns_time", "views_geometry_columns",
                "virts_geometry_columns", "sql_statements_log"}
        return [n for n in names
                if n.lower() not in skip
                and not n.lower().startswith("idx_")] or list(gcat)
    finally:
        con.close()


def read_sqlite(
    spark: SparkSession,
    path: str,
    table: str | None = None,
    rows_per_batch: int = 65536,
) -> DataFrame:
    """Distributed scan of one SQLite table: rowid-range windows in
    mapInPandas, Spatialite blobs decoded to `wkt` when the table is
    registered in geometry_columns (plain attribute tables come back
    geometry-less, like OGR's SQLite driver)."""
    con = _ro_connect(path)
    try:
        gcat = _geom_catalog(con)
        if table is None:
            layers = list_layers(path)
            if len(layers) != 1:
                raise ValueError(f"need explicit table among {layers}")
            table = layers[0]
        geom_col = gcat.get(table, (None, -1))[0]
        cols = []
        for _cid, name, decl, _nn, _dflt, _pk in con.execute(
                f'PRAGMA table_info("{table}")'):
            base = (decl or "").split("(")[0].strip().upper()
            if geom_col is not None and name == geom_col:
                cols.append((name, T.StringType(), True))
            else:
                cols.append((name, _SQLITE_TYPES.get(base, T.StringType()),
                             False))
        lo, hi, n = con.execute(
            f'SELECT MIN(rowid), MAX(rowid), COUNT(*) FROM "{table}"'
        ).fetchone()
    finally:
        con.close()

    out_fields = [T.StructField("fid", T.LongType())]
    for name, styp, is_g in cols:
        if name.lower() == "fid":
            continue
        out_fields.append(T.StructField("wkt" if is_g else name, styp))
    out_schema = T.StructType(out_fields)
    if n == 0 or lo is None:
        return spark.createDataFrame([], out_schema)

    ranges = [(int(a), int(min(a + rows_per_batch - 1, hi)))
              for a in range(int(lo), int(hi) + 1, rows_per_batch)]
    plan = blockscan.spread(spark, ranges, "lo long, hi long")
    sel_cols = [c for c, _, _ in cols if c.lower() != "fid"]
    sel_sql = ", ".join(f'"{c}"' for c in sel_cols)
    geom_i = sel_cols.index(geom_col) if geom_col in sel_cols else None

    def scan(batches):
        con = _ro_connect(path)
        try:
            for pdf in batches:
                rows = []
                for r in pdf.itertuples(index=False):
                    cur = con.execute(
                        f'SELECT rowid, {sel_sql} FROM "{table}" '
                        f"WHERE rowid BETWEEN ? AND ?",
                        (int(r.lo), int(r.hi)))
                    for rec in cur:
                        vals = list(rec[1:])
                        if geom_i is not None and vals[geom_i] is not None:
                            _, wkb = spatialite_to_wkb(bytes(vals[geom_i]))
                            vals[geom_i] = geometry.to_wkt(
                                geometry.parse_wkb(wkb), prec=12)
                        rows.append((int(rec[0]), *vals))
                yield pd.DataFrame(rows,
                                   columns=[f.name for f in out_fields])
        finally:
            con.close()

    return plan.mapInPandas(scan, schema=out_schema)


_SPARK_TO_SQLITE = {
    "bigint": "INTEGER", "int": "INTEGER", "smallint": "INTEGER",
    "tinyint": "INTEGER", "boolean": "INTEGER",
    "double": "DOUBLE", "float": "DOUBLE",
    "string": "TEXT", "binary": "BLOB",
}


def write_sqlite(
    df: DataFrame,
    path: str,
    table: str = "layer",
    wkt_col: str = "wkt",
    srid: int = 4326,
    geometry_type: str = "GEOMETRY",
) -> int:
    """Spatialite-catalog sink for bounded layers: creates
    spatial_ref_sys + geometry_columns (4.x INTEGER layout with the
    legacy-compatible names) and the feature table with Spatialite
    geometry BLOBs; WKT->blob encoding runs distributed, the INSERT
    pass is driver-side single-writer."""
    import sqlite3

    has_geom = wkt_col in df.columns
    pdf = df.toPandas()
    blobs = None
    if has_geom:
        blobs = [None if w is None else
                 wkb_to_spatialite(geometry.to_wkb(geometry.parse_wkt(w)),
                                   srid)
                 for w in pdf[wkt_col]]

    attr_cols = [(c, _SPARK_TO_SQLITE.get(t, "TEXT"))
                 for c, t in df.dtypes if c != wkt_col]
    con = sqlite3.connect(path)
    try:
        con.execute(
            "CREATE TABLE IF NOT EXISTS spatial_ref_sys ("
            "srid INTEGER PRIMARY KEY, auth_name TEXT, auth_srid INTEGER,"
            " ref_sys_name TEXT, proj4text TEXT, srtext TEXT)")
        con.execute(
            "INSERT OR IGNORE INTO spatial_ref_sys VALUES "
            "(?, 'EPSG', ?, ?, '', '')",
            (srid, srid, f"EPSG:{srid}"))
        con.execute(
            "CREATE TABLE IF NOT EXISTS geometry_columns ("
            "f_table_name TEXT, f_geometry_column TEXT, "
            "geometry_type INTEGER, coord_dimension INTEGER, "
            "srid INTEGER, spatial_index_enabled INTEGER)")
        decls = ", ".join(f'"{c}" {t}' for c, t in attr_cols)
        gdecl = f', "{wkt_col.replace("wkt", "geom")}" BLOB' if has_geom \
            else ""
        gcol = wkt_col.replace("wkt", "geom")
        con.execute(f'CREATE TABLE "{table}" '
                    f"(fid INTEGER PRIMARY KEY{', ' if decls else ''}"
                    f"{decls}{gdecl})")
        if has_geom:
            gtype = {"POINT": 1, "LINESTRING": 2, "POLYGON": 3,
                     "MULTIPOINT": 4, "MULTILINESTRING": 5,
                     "MULTIPOLYGON": 6, "GEOMETRY": 0}.get(
                         geometry_type.upper(), 0)
            con.execute("INSERT INTO geometry_columns VALUES "
                        "(?, ?, ?, 2, ?, 0)", (table, gcol, gtype, srid))
        names = [c for c, _ in attr_cols] + ([gcol] if has_geom else [])
        ph = ", ".join("?" * len(names))
        cols_sql = ", ".join(f'"{c}"' for c in names)
        for k in range(len(pdf)):
            vals = [pdf[c].iloc[k] for c, _ in attr_cols]
            vals = [v.item() if isinstance(v, np.generic) else v
                    for v in vals]
            if has_geom:
                vals.append(blobs[k])
            con.execute(f'INSERT INTO "{table}" ({cols_sql}) '
                        f"VALUES ({ph})", vals)
        con.commit()
        return len(pdf)
    finally:
        con.close()
