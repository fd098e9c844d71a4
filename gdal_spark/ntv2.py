"""NTv2 ``.gsb`` horizontal datum-shift grids — the real file format
behind the synthetic grid in datum.py.

The reference consumes .gsb files through PROJ (+hgridshift; reached
from ogr/ogrct.cpp:1822) and also exposes them as a raster driver
(frmts/raw/ntv2dataset.cpp — the header layout, record names, node
order and the positive-WEST longitude convention implemented here are
all from that public driver plus the published NTv2 Developer's Guide;
autotest/osr/osr_ct.py and autotest/gdrivers/ntv2.py exercise them).

Layout (every record is 16 bytes: 8-char ASCII name + 8-byte value):

* overview header, 11 records: NUM_OREC/NUM_SREC/NUM_FILE (int32 +
  4 pad bytes), GS_TYPE/VERSION/SYSTEM_F/SYSTEM_T (8-char strings),
  MAJOR_F/MINOR_F/MAJOR_T/MINOR_T (doubles);
* per subgrid, 11 records: SUB_NAME/PARENT/CREATED/UPDATED (strings),
  S_LAT/N_LAT/E_LONG/W_LONG/LAT_INC/LONG_INC (doubles, arc-seconds,
  longitude positive WEST), GS_COUNT (int32 + pad);
* GS_COUNT node records of 4 float32: (dlat_sec, dlon_sec, acc, acc),
  rows south->north, columns EAST->WEST within a row.

Both byte orders exist in the wild (Canadian NTv2_0.gsb is big-endian,
most European agency grids little-endian); the reader sniffs NUM_OREC.

Scale shape: a country .gsb is a few MB -> the parsed node table is
ALWAYS broadcastable.  ``apply_gsb`` is a single pass over the corpus:
one whole-stage-codegen subgrid-selection projection (finest containing
subgrid wins, as PROJ picks the densest grid), then four broadcast
joins against the combined (gid, i, j) node table — the input never
reshuffles at any corpus size.
"""

from __future__ import annotations

import io
import struct

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _srec(name: str, s: str) -> bytes:
    return name.encode("ascii").ljust(8) + s.encode("ascii").ljust(8)[:8]


def _irec(name: str, v: int, e: str) -> bytes:
    return name.encode("ascii").ljust(8) + struct.pack(e + "i4x", v)


def _drec(name: str, v: float, e: str) -> bytes:
    return name.encode("ascii").ljust(8) + struct.pack(e + "d", v)


def write_gsb(path_or_buf, subgrids: list[dict], *,
              system_f: str = "NAD27", system_t: str = "NAD83",
              big_endian: bool = False) -> None:
    """Serialize subgrids to NTv2. Each subgrid dict uses CONVENTIONAL
    units (degrees, longitude positive east, j increasing east):
    ``name, parent, lat0, lon0, dlat, dlon`` plus ``shifts`` of shape
    (ni, nj, 2) = (dlat_sec, dlon_sec-positive-west); the writer does
    the positive-west/east->west reordering the format wants."""
    e = ">" if big_endian else "<"
    out = io.BytesIO()
    out.write(_irec("NUM_OREC", 11, e))
    out.write(_irec("NUM_SREC", 11, e))
    out.write(_irec("NUM_FILE", len(subgrids), e))
    out.write(_srec("GS_TYPE ", "SECONDS"))
    out.write(_srec("VERSION ", "NTv2.0"))
    out.write(_srec("SYSTEM_F", system_f))
    out.write(_srec("SYSTEM_T", system_t))
    out.write(_drec("MAJOR_F ", 6378206.4, e))       # Clarke 1866
    out.write(_drec("MINOR_F ", 6356583.8, e))
    out.write(_drec("MAJOR_T ", 6378137.0, e))       # GRS80
    out.write(_drec("MINOR_T ", 6356752.314, e))
    for sg in subgrids:
        shifts = np.asarray(sg["shifts"], dtype=np.float32)
        ni, nj = shifts.shape[0], shifts.shape[1]
        s_lat = sg["lat0"] * 3600.0
        n_lat = (sg["lat0"] + (ni - 1) * sg["dlat"]) * 3600.0
        # positive-west seconds: east boundary is the SMALLER value
        e_long = -(sg["lon0"] + (nj - 1) * sg["dlon"]) * 3600.0
        w_long = -sg["lon0"] * 3600.0
        out.write(_srec("SUB_NAME", sg["name"]))
        out.write(_srec("PARENT  ", sg.get("parent") or "NONE"))
        out.write(_srec("CREATED ", "19700101"))
        out.write(_srec("UPDATED ", "19700101"))
        out.write(_drec("S_LAT   ", s_lat, e))
        out.write(_drec("N_LAT   ", n_lat, e))
        out.write(_drec("E_LONG  ", e_long, e))
        out.write(_drec("W_LONG  ", w_long, e))
        out.write(_drec("LAT_INC ", sg["dlat"] * 3600.0, e))
        out.write(_drec("LONG_INC", sg["dlon"] * 3600.0, e))
        out.write(_irec("GS_COUNT", ni * nj, e))
        # file order: south->north rows, EAST->WEST columns
        rec = np.zeros((ni, nj, 4), dtype=e + "f4")
        rec[:, :, 0] = shifts[:, ::-1, 0]
        rec[:, :, 1] = shifts[:, ::-1, 1]
        out.write(rec.tobytes())
    out.write(_srec("END     ", ""))
    data = out.getvalue()
    if isinstance(path_or_buf, (str, bytes)):
        with open(path_or_buf, "wb") as f:
            f.write(data)
    else:
        path_or_buf.write(data)


def read_gsb(path_or_bytes) -> list[dict]:
    """Parse an NTv2 file into subgrid dicts in the conventional
    orientation ``apply_gsb`` consumes: ``grid`` = {lat0, lon0, dlat,
    dlon, ni, nj} (degrees, lon positive east) and ``shifts`` (ni, nj,
    2) float64 from the file's float32, j increasing EAST, dlon still
    positive west (the hgridshift apply convention)."""
    if isinstance(path_or_bytes, bytes):
        buf = path_or_bytes
    else:
        with open(path_or_bytes, "rb") as f:
            buf = f.read()
    if buf[:8] != b"NUM_OREC":
        raise ValueError("not an NTv2 .gsb file (no NUM_OREC)")
    e = "<" if struct.unpack("<i", buf[8:12])[0] == 11 else ">"
    if struct.unpack(e + "i", buf[8:12])[0] != 11:
        raise ValueError("unsupported NTv2 overview record count")

    def sval(off):
        return buf[off + 8:off + 16].decode("ascii", "replace").rstrip()

    def ival(off):
        return struct.unpack(e + "i", buf[off + 8:off + 12])[0]

    def dval(off):
        return struct.unpack(e + "d", buf[off + 8:off + 16])[0]

    num_file = ival(32)
    pos = 11 * 16
    subs = []
    for _ in range(num_file):
        names = {buf[pos + k * 16:pos + k * 16 + 8].decode("ascii"): pos + k * 16
                 for k in range(11)}
        name = sval(names["SUB_NAME"])
        parent = sval(names["PARENT  "])
        s_lat = dval(names["S_LAT   "])
        n_lat = dval(names["N_LAT   "])
        e_long = dval(names["E_LONG  "])
        w_long = dval(names["W_LONG  "])
        lat_inc = dval(names["LAT_INC "])
        lon_inc = dval(names["LONG_INC"])
        cnt = ival(names["GS_COUNT"])
        pos += 11 * 16
        ni = int(round((n_lat - s_lat) / lat_inc)) + 1
        nj = int(round((w_long - e_long) / lon_inc)) + 1
        if ni * nj != cnt:
            raise ValueError(f"subgrid {name}: GS_COUNT {cnt} != {ni}x{nj}")
        rec = np.frombuffer(buf, dtype=e + "f4", count=cnt * 4,
                            offset=pos).reshape(ni, nj, 4)
        pos += cnt * 16
        shifts = np.empty((ni, nj, 2), dtype=np.float64)
        shifts[:, :, 0] = rec[:, ::-1, 0]    # east->west file order -> east+
        shifts[:, :, 1] = rec[:, ::-1, 1]
        subs.append({
            "name": name,
            "parent": None if parent in ("NONE", "") else parent,
            "grid": {
                "lat0": s_lat / 3600.0,
                "lon0": -w_long / 3600.0,
                "dlat": lat_inc / 3600.0,
                "dlon": lon_inc / 3600.0,
                "ni": ni,
                "nj": nj,
            },
            "shifts": shifts,
        })
    return subs


# --------------------------------------------------------------- apply
def _order_finest_first(subs: list[dict]) -> list[int]:
    """PROJ picks the densest subgrid containing the point; children
    are by construction denser than their parent."""
    return sorted(range(len(subs)), key=lambda k: subs[k]["grid"]["dlat"])


def _bounds(g: dict) -> tuple[float, float, float, float]:
    return (g["lat0"], g["lat0"] + (g["ni"] - 1) * g["dlat"],
            g["lon0"], g["lon0"] + (g["nj"] - 1) * g["dlon"])


def subgrid_select_col(subs: list[dict], lon: Column, lat: Column) -> Column:
    chain = None
    for k in _order_finest_first(subs):
        lat_lo, lat_hi, lon_lo, lon_hi = _bounds(subs[k]["grid"])
        cond = ((lat >= lat_lo) & (lat <= lat_hi) &
                (lon >= lon_lo) & (lon <= lon_hi))
        chain = F.when(cond, k) if chain is None else chain.when(cond, k)
    return chain.otherwise(-1)


def subgrid_select_sql(subs: list[dict], lon: str, lat: str) -> str:
    parts = []
    for k in _order_finest_first(subs):
        lat_lo, lat_hi, lon_lo, lon_hi = _bounds(subs[k]["grid"])
        parts.append(
            f"WHEN ({lat} >= {lat_lo!r} AND {lat} <= {lat_hi!r} AND "
            f"{lon} >= {lon_lo!r} AND {lon} <= {lon_hi!r}) THEN {k}")
    return "CASE " + " ".join(parts) + " ELSE -1 END"


def gsb_grid_df(spark: SparkSession, subs: list[dict]) -> DataFrame:
    """All subgrids as one (gid, i, j, dlat_sec, dlon_sec) table —
    the broadcast side of the hgridshift joins."""
    frames = []
    for gid, sg in enumerate(subs):
        ni, nj = sg["grid"]["ni"], sg["grid"]["nj"]
        ii, jj = np.meshgrid(np.arange(ni), np.arange(nj), indexing="ij")
        frames.append(pd.DataFrame({
            "gid": gid, "i": ii.ravel(), "j": jj.ravel(),
            "dlat_sec": sg["shifts"][:, :, 0].ravel(),
            "dlon_sec": sg["shifts"][:, :, 1].ravel(),
        }))
    pdf = pd.concat(frames, ignore_index=True)
    pdf["gid"] = pdf["gid"].astype("int32")
    pdf["i"] = pdf["i"].astype("int64")
    pdf["j"] = pdf["j"].astype("int64")
    return spark.createDataFrame(pdf)


def _per_gid_const(subs: list[dict], key, gid: Column,
                   default: float = 0.0) -> Column:
    chain = None
    for k, sg in enumerate(subs):
        v = float(key(sg["grid"]))
        chain = (F.when(gid == k, v) if chain is None
                 else chain.when(gid == k, v))
    return chain.otherwise(default)


def per_gid_const_sql(subs: list[dict], key, gid: str,
                      default: float = 0.0) -> str:
    """SQL mirror of _per_gid_const: same enumerate order, same
    literals (repr of the identical doubles)."""
    parts = [f"WHEN {gid} = {k} THEN {float(key(sg['grid']))!r}"
             for k, sg in enumerate(subs)]
    return "CASE " + " ".join(parts) + f" ELSE {default!r} END"


def apply_gsb(df: DataFrame, spark: SparkSession, subs: list[dict],
              lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """hgridshift forward over a multi-subgrid .gsb: finest containing
    subgrid per point, clamped-floor cell lookup (points on the north/
    east boundary interpolate from the last cell with weight 1), four
    broadcast corner joins, bilinear in double.  Points outside every
    subgrid pass through unshifted, like GDAL/PROJ when the grid does
    not cover (with +proj=hgridshift's default error mode off).
    Single pass, no input shuffle, grid never exceeds a few MB."""
    lon, lat = F.col(lon_col), F.col(lat_col)
    d = df.withColumn("_gid", subgrid_select_col(subs, lon, lat))
    gid = F.col("_gid")
    lat0 = _per_gid_const(subs, lambda g: g["lat0"], gid)
    lon0 = _per_gid_const(subs, lambda g: g["lon0"], gid)
    dla = _per_gid_const(subs, lambda g: g["dlat"], gid, default=1.0)
    dlo = _per_gid_const(subs, lambda g: g["dlon"], gid, default=1.0)
    nim2 = _per_gid_const(subs, lambda g: g["ni"] - 2, gid)
    njm2 = _per_gid_const(subs, lambda g: g["nj"] - 2, gid)
    d = (d
         .withColumn("_gi", F.least(F.floor((lat - lat0) / dla),
                                    nim2.cast("long")))
         .withColumn("_gj", F.least(F.floor((lon - lon0) / dlo),
                                    njm2.cast("long"))))
    d = (d
         .withColumn("_fi", (lat - lat0) / dla - F.col("_gi"))
         .withColumn("_fj", (lon - lon0) / dlo - F.col("_gj")))
    bg = F.broadcast(gsb_grid_df(spark, subs))
    for di, dj in ((0, 0), (0, 1), (1, 0), (1, 1)):
        corner = bg.select(
            F.col("gid").alias("_cg"),
            F.col("i").alias("_ci"), F.col("j").alias("_cj"),
            F.col("dlat_sec").alias(f"_a{di}{dj}"),
            F.col("dlon_sec").alias(f"_o{di}{dj}"))
        d = d.join(corner, (gid == F.col("_cg")) &
                   (F.col("_gi") + di == F.col("_ci")) &
                   (F.col("_gj") + dj == F.col("_cj")),
                   "left").drop("_cg", "_ci", "_cj")
    fi, fj = F.col("_fi"), F.col("_fj")
    w00 = (1.0 - fi) * (1.0 - fj)
    w01 = (1.0 - fi) * fj
    w10 = fi * (1.0 - fj)
    w11 = fi * fj
    dlat = (w00 * F.col("_a00") + w01 * F.col("_a01") +
            w10 * F.col("_a10") + w11 * F.col("_a11"))
    dlon = (w00 * F.col("_o00") + w01 * F.col("_o01") +
            w10 * F.col("_o10") + w11 * F.col("_o11"))
    return (d
            .withColumn("lat_shifted",
                        F.when(gid >= 0, lat + dlat / 3600.0).otherwise(lat))
            .withColumn("lon_shifted",
                        F.when(gid >= 0, lon - dlon / 3600.0).otherwise(lon))
            .drop("_gi", "_gj", "_fi", "_fj",
                  "_a00", "_a01", "_a10", "_a11",
                  "_o00", "_o01", "_o10", "_o11"))


def gsb_shift_np(lons, lats, subs: list[dict]):
    """Sequential numpy mirror (term order identical to apply_gsb) for
    tests and the localref oracle path."""
    lons = np.asarray(lons, dtype=np.float64)
    lats = np.asarray(lats, dtype=np.float64)
    out_lon = lons.copy()
    out_lat = lats.copy()
    gid = np.full(lons.shape, -1, dtype=np.int64)
    for k in _order_finest_first(subs):
        lat_lo, lat_hi, lon_lo, lon_hi = _bounds(subs[k]["grid"])
        m = ((gid == -1) & (lats >= lat_lo) & (lats <= lat_hi) &
             (lons >= lon_lo) & (lons <= lon_hi))
        gid[m] = k
    for k, sg in enumerate(subs):
        m = gid == k
        if not m.any():
            continue
        g = sg["grid"]
        sh = sg["shifts"]
        gi = np.minimum(np.floor((lats[m] - g["lat0"]) / g["dlat"]),
                        g["ni"] - 2).astype(np.int64)
        gj = np.minimum(np.floor((lons[m] - g["lon0"]) / g["dlon"]),
                        g["nj"] - 2).astype(np.int64)
        fi = (lats[m] - g["lat0"]) / g["dlat"] - gi
        fj = (lons[m] - g["lon0"]) / g["dlon"] - gj
        w00 = (1.0 - fi) * (1.0 - fj)
        w01 = (1.0 - fi) * fj
        w10 = fi * (1.0 - fj)
        w11 = fi * fj
        dlat = (w00 * sh[gi, gj, 0] + w01 * sh[gi, gj + 1, 0] +
                w10 * sh[gi + 1, gj, 0] + w11 * sh[gi + 1, gj + 1, 0])
        dlon = (w00 * sh[gi, gj, 1] + w01 * sh[gi, gj + 1, 1] +
                w10 * sh[gi + 1, gj, 1] + w11 * sh[gi + 1, gj + 1, 1])
        out_lat[m] = lats[m] + dlat / 3600.0
        out_lon[m] = lons[m] - dlon / 3600.0
    return out_lon, out_lat, gid


# --------------------------------------------------------------- toy file
def toy_subgrids() -> list[dict]:
    """Deterministic two-level NAD27->NAD83-like toy: a 1-degree parent
    over the south-central US window and a 0.25-degree child over an
    inner box, node values from a smooth closed form (|shift| < 2"),
    quantized to float32 exactly as a .gsb roundtrip would."""
    def nodes(ni, nj, phase):
        i, j = np.meshgrid(np.arange(ni, dtype=np.float64),
                           np.arange(nj, dtype=np.float64), indexing="ij")
        dlat = 0.9 * np.sin(0.37 * i + 0.11 * j + phase) \
            + 0.2 * np.cos(0.05 * i)
        dlon = 1.1 * np.cos(0.23 * i - 0.07 * j - phase) \
            + 0.15 * np.sin(0.04 * j)
        return np.stack([dlat, dlon], axis=2).astype(np.float32)

    return [
        {"name": "TOYPAR", "parent": None,
         "lat0": 30.0, "lon0": -110.0, "dlat": 1.0, "dlon": 1.0,
         "shifts": nodes(21, 26, 0.0)},
        {"name": "TOYCHILD", "parent": "TOYPAR",
         "lat0": 35.0, "lon0": -100.0, "dlat": 0.25, "dlon": 0.25,
         "shifts": nodes(17, 21, 1.5)},
    ]


def toy_gsb_bytes(big_endian: bool = False) -> bytes:
    buf = io.BytesIO()
    write_gsb(buf, toy_subgrids(), big_endian=big_endian)
    return buf.getvalue()
