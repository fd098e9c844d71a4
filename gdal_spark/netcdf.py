"""NetCDF-3 classic / 64-bit-offset driver (read + write), bridged
into the multidim COO model.

Reference:
  - gdal/frmts/netcdf/netcdfdataset.cpp — GDAL's netCDF driver (the
    classic-model open path, scale_factor/add_offset unpacking at
    :447-520, _FillValue handling).
  - gdal/frmts/netcdf/netcdfmultidim.cpp — the multidim bridge this
    module's MDArray return type mirrors.
  - The on-disk layout is the public NetCDF classic format spec
    (CDF-1 magic ``CDF\\x01``, CDF-2 ``CDF\\x02`` with 64-bit data
    offsets): big-endian header of dim/attr/var lists, fixed vars
    stored contiguously row-major at ``begin``, record vars
    interleaved per record with stride ``recsize``.

Spark lowering: like the raw rasters (ehdr.py), every element's byte
position is closed-form arithmetic on its indices — a fixed var is one
contiguous row-major slab, a record var is ``begin + rec*recsize`` per
record. The driver parses ONLY the header (a few KB) and emits a
strip-descriptor DataFrame (leading-dimension ranges); executors pread
their strips and emit COO rows with one numpy unravel — the scan is
MAP-ONLY, no shuffle at any array size, the multidim analog of a
parquet row-group scan. GetView slices over the returned MDArray fold
into the scan filter via Catalyst, so ``arr.get_view(...)`` prunes
rows before they ever reach a shuffle.

The writer plans the same offsets in reverse: the driver writes the
small header, executors assemble dense leading-dimension strips from
the COO rows (one narrow keyed shuffle on strip id — the inverse of
the scan's split) and os.pwrite them in parallel. CDF-2 is chosen
automatically when any begin offset exceeds 2^31-1.

Unsupported (documented): CDF-5, HDF5-backed netCDF-4 (needs libhdf5,
absent in this sandbox — gated exactly like the reference gates
netCDF-4 behind its library), and the streaming numrecs sentinel on
write.
"""

from __future__ import annotations

import math
import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import blockscan
from .multidim import MDArray

NC_BYTE, NC_CHAR, NC_SHORT, NC_INT, NC_FLOAT, NC_DOUBLE = 1, 2, 3, 4, 5, 6
NC_DIMENSION, NC_VARIABLE, NC_ATTRIBUTE = 0x0A, 0x0B, 0x0C

# nc_type -> (big-endian numpy dtype, itemsize)
NC_DTYPES = {
    NC_BYTE: ">i1", NC_CHAR: "S1", NC_SHORT: ">i2",
    NC_INT: ">i4", NC_FLOAT: ">f4", NC_DOUBLE: ">f8",
}
# canonical little-endian numpy name -> nc_type
NP_TO_NC = {"int8": NC_BYTE, "int16": NC_SHORT, "int32": NC_INT,
            "float32": NC_FLOAT, "float64": NC_DOUBLE}
STREAMING = 0xFFFFFFFF


def _pad4(n: int) -> int:
    return (n + 3) & ~3


class _Cursor:
    def __init__(self, raw: bytes):
        self.raw, self.pos = raw, 0

    def u4(self) -> int:
        v = struct.unpack_from(">I", self.raw, self.pos)[0]
        self.pos += 4
        return v

    def u8(self) -> int:
        v = struct.unpack_from(">Q", self.raw, self.pos)[0]
        self.pos += 8
        return v

    def name(self) -> str:
        n = self.u4()
        s = self.raw[self.pos:self.pos + n].decode("utf-8")
        self.pos += _pad4(n)
        return s

    def values(self, nc_type: int, nelems: int):
        dt = np.dtype(NC_DTYPES[nc_type])
        nbytes = dt.itemsize * nelems
        buf = self.raw[self.pos:self.pos + nbytes]
        self.pos += _pad4(nbytes)
        if nc_type == NC_CHAR:
            return buf.decode("utf-8", errors="replace")
        return np.frombuffer(buf, dtype=dt).tolist()


def _read_att_list(c: _Cursor) -> dict:
    tag, n = c.u4(), c.u4()
    atts = {}
    if tag == 0:  # ABSENT
        return atts
    if tag != NC_ATTRIBUTE:
        raise ValueError(f"bad att_list tag {tag}")
    for _ in range(n):
        name = c.name()
        nc_type = c.u4()
        nelems = c.u4()
        v = c.values(nc_type, nelems)
        if isinstance(v, list) and len(v) == 1:
            v = v[0]
        atts[name] = v
    return atts


def parse_header(raw: bytes) -> dict:
    """Parse a classic-format header (pass the first few KB of the
    file; the header is self-delimiting). Returns dims, global atts,
    and per-variable metadata incl. byte offsets — everything the
    distributed scan plan needs."""
    if raw[:3] != b"CDF" or raw[3] not in (1, 2):
        raise ValueError("not a NetCDF classic/64-bit-offset file")
    version = raw[3]
    c = _Cursor(raw)
    c.pos = 4
    numrecs = c.u4()
    # dim_list
    tag, n = c.u4(), c.u4()
    dims: list[tuple[str, int]] = []
    if tag == NC_DIMENSION:
        for _ in range(n):
            dims.append((c.name(), c.u4()))
    elif tag != 0:
        raise ValueError(f"bad dim_list tag {tag}")
    gatts = _read_att_list(c)
    # var_list
    tag, n = c.u4(), c.u4()
    varlist = []
    if tag == NC_VARIABLE:
        for _ in range(n):
            name = c.name()
            ndims = c.u4()
            dimids = [c.u4() for _ in range(ndims)]
            atts = _read_att_list(c)
            nc_type = c.u4()
            vsize = c.u4()
            begin = c.u8() if version == 2 else c.u4()
            is_record = bool(dimids) and dims[dimids[0]][1] == 0
            shape = [dims[d][1] for d in dimids]
            varlist.append({
                "name": name, "dimids": dimids,
                "dims": [dims[d][0] for d in dimids], "shape": shape,
                "nc_type": nc_type, "vsize": vsize, "begin": begin,
                "atts": atts, "is_record": is_record,
            })
    elif tag != 0:
        raise ValueError(f"bad var_list tag {tag}")
    # recsize: sum of record-var vsizes; the spec's special case — a
    # SINGLE record var of byte/char/short uses its UNPADDED slab size
    # (no inter-record padding).
    rec_vars = [v for v in varlist if v["is_record"]]
    if len(rec_vars) == 1:
        v = rec_vars[0]
        isz = np.dtype(NC_DTYPES[v["nc_type"]]).itemsize
        recsize = isz * int(np.prod(v["shape"][1:], dtype=np.int64))
    else:
        recsize = sum(v["vsize"] for v in rec_vars)
    return {"version": version, "numrecs": numrecs, "dims": dims,
            "gatts": gatts, "vars": {v["name"]: v for v in varlist},
            "recsize": recsize}


def open_netcdf(path: str) -> dict:
    with open(path, "rb") as f:
        raw = f.read(1 << 20)  # header is self-delimiting; 1 MB ample
    hdr = parse_header(raw)
    hdr["path"] = path
    return hdr


_STRIP_SCHEMA = T.StructType([
    T.StructField("i0", T.LongType()),       # leading-dim start
    T.StructField("n0", T.LongType()),       # leading-dim count
])


def read_netcdf(spark: SparkSession, path: str, var: str, *,
                strip_elems: int = 1 << 20, unpack: bool = True,
                hdr: dict | None = None) -> MDArray:
    """Distributed COO scan of one variable -> MDArray.

    Strips split the LEADING dimension (the record dim for record
    vars) so every strip is a closed-form byte range; executors pread
    and unravel. `unpack` applies CF scale_factor/add_offset and maps
    _FillValue to NULL, like GDALNetCDFRasterBand's offset/scale path
    (netcdfdataset.cpp:447)."""
    hdr = hdr or open_netcdf(path)
    v = hdr["vars"][var]
    shape = list(v["shape"])
    if v["is_record"]:
        shape[0] = hdr["numrecs"]
    if not shape:  # scalar
        shape = [1]
    inner = int(np.prod(shape[1:], dtype=np.int64)) if len(shape) > 1 else 1
    np_dt = np.dtype(NC_DTYPES[v["nc_type"]])
    isz = np_dt.itemsize
    begin, recsize = v["begin"], hdr["recsize"]
    is_rec = v["is_record"]
    slab = inner * isz  # one leading-index slab, unpadded

    rows_per_strip = max(1, strip_elems // max(inner, 1))
    n0_total = shape[0]
    strips = [(i, min(rows_per_strip, n0_total - i))
              for i in range(0, n0_total, rows_per_strip)]
    seg = blockscan.spread(spark, strips or [(0, 0)], _STRIP_SCHEMA)

    dim_names = v["dims"] if v["dims"] else ["i"]
    scale = float(v["atts"].get("scale_factor", 1.0)) if unpack else 1.0
    offset = float(v["atts"].get("add_offset", 0.0)) if unpack else 0.0
    fill = v["atts"].get("_FillValue") if unpack else None
    out_schema = T.StructType(
        [T.StructField(d, T.LongType()) for d in dim_names]
        + [T.StructField("value", T.DoubleType())])
    tail = shape[1:]

    def scan(batches):
        for pdf in batches:
            frames = []
            with open(path, "rb") as f:
                fd = f.fileno()
                for r in pdf.itertuples(index=False):
                    i0, n0 = int(r.i0), int(r.n0)
                    if n0 <= 0:
                        continue
                    if is_rec:
                        parts = [os.pread(fd, slab, begin + (i0 + k) * recsize)
                                 for k in range(n0)]
                        raw = b"".join(parts)
                    else:
                        raw = os.pread(fd, n0 * slab, begin + i0 * slab)
                    a = np.frombuffer(raw, dtype=np_dt)
                    vals = a.astype("float64")
                    cols = {}
                    flat = np.arange(a.size, dtype=np.int64)
                    rem = flat
                    sizes = [n0] + list(tail)
                    for k, d in enumerate(dim_names):
                        step = int(np.prod(sizes[k + 1:], dtype=np.int64))
                        idx = rem // step
                        rem = rem - idx * step
                        cols[d] = idx + (i0 if k == 0 else 0)
                    out = pd.DataFrame(cols)
                    if fill is not None:
                        vals = np.where(a == fill, np.nan, vals)
                    out["value"] = vals * scale + offset
                    if fill is not None:
                        out["value"] = out["value"].where(
                            ~np.isnan(vals), None)
                    frames.append(out)
            yield (pd.concat(frames) if frames
                   else pd.DataFrame({f.name: [] for f in out_schema}))

    df = seg.mapInPandas(scan, schema=out_schema)
    return MDArray(df, list(zip(dim_names, shape)))


# ------------------------------------------------------------------ write
def _name_bytes(s: str) -> bytes:
    b = s.encode("utf-8")
    return struct.pack(">I", len(b)) + b + b"\x00" * (_pad4(len(b)) - len(b))


def _att_bytes(atts: dict) -> bytes:
    if not atts:
        return struct.pack(">II", 0, 0)
    out = [struct.pack(">II", NC_ATTRIBUTE, len(atts))]
    for k, v in atts.items():
        out.append(_name_bytes(k))
        if isinstance(v, str):
            b = v.encode("utf-8")
            out.append(struct.pack(">II", NC_CHAR, len(b)) + b
                       + b"\x00" * (_pad4(len(b)) - len(b)))
        else:
            vals = v if isinstance(v, (list, tuple)) else [v]
            if all(isinstance(x, (int, np.integer)) for x in vals):
                nct, dt = NC_INT, ">i4"
            else:
                nct, dt = NC_DOUBLE, ">f8"
            body = np.asarray(vals, dtype=dt).tobytes()
            out.append(struct.pack(">II", nct, len(vals)) + body
                       + b"\x00" * (_pad4(len(body)) - len(body)))
    return b"".join(out)


def plan_netcdf(path: str, arrays: list[dict], *, numrecs: int = 0,
                gatts: dict | None = None) -> dict:
    """Plan the header + begin offsets for write_netcdf.

    arrays: [{name, dims: [(dimname, size)], dtype: np name, atts}];
    a leading dim of size 0 (or named in any array with size None)
    is the record dimension shared across record vars, extent
    `numrecs`. Fixed vars are laid out in order after the header,
    record vars after them, interleaved with stride recsize."""
    gatts = gatts or {}
    # unified dim table, record dim (size 0) first if present
    dim_order: list[tuple[str, int]] = []
    for a in arrays:
        for dn, ds in a["dims"]:
            ent = (dn, int(ds))
            if ent not in dim_order:
                if any(d[0] == dn and d[1] != int(ds) for d in dim_order):
                    raise ValueError(f"dim {dn} size conflict")
                dim_order.append(ent)
    dim_ids = {d[0]: k for k, d in enumerate(dim_order)}

    metas = []
    for a in arrays:
        nct = NP_TO_NC[str(np.dtype(a["dtype"]).name)]
        isz = np.dtype(NC_DTYPES[nct]).itemsize
        shape = [int(s) for _, s in a["dims"]]
        is_rec = bool(shape) and shape[0] == 0
        inner_shape = shape[1:] if is_rec else shape
        nelems = int(np.prod(inner_shape, dtype=np.int64)) if inner_shape \
            else 1
        vsize = _pad4(nelems * isz)
        metas.append({"name": a["name"], "dims": a["dims"],
                      "dimids": [dim_ids[dn] for dn, _ in a["dims"]],
                      "nc_type": nct, "isz": isz, "is_rec": is_rec,
                      "slab": nelems * isz, "vsize": vsize,
                      "atts": a.get("atts", {})})
    rec_vars = [m for m in metas if m["is_rec"]]
    recsize = (rec_vars[0]["slab"] if len(rec_vars) == 1
               else sum(m["vsize"] for m in rec_vars))

    def header_bytes(version: int, begins: dict[str, int]) -> bytes:
        out = [b"CDF", bytes([version]), struct.pack(">I", numrecs),
               struct.pack(">II", NC_DIMENSION, len(dim_order))
               if dim_order else struct.pack(">II", 0, 0)]
        for dn, ds in dim_order:
            out.append(_name_bytes(dn) + struct.pack(">I", ds))
        out.append(_att_bytes(gatts))
        out.append(struct.pack(">II", NC_VARIABLE, len(metas))
                   if metas else struct.pack(">II", 0, 0))
        for m in metas:
            out.append(_name_bytes(m["name"]))
            out.append(struct.pack(">I", len(m["dimids"])))
            out.extend(struct.pack(">I", d) for d in m["dimids"])
            out.append(_att_bytes(m["atts"]))
            out.append(struct.pack(">II", m["nc_type"], m["vsize"]))
            out.append(struct.pack(">Q" if version == 2 else ">I",
                                   begins.get(m["name"], 0)))
        return b"".join(out)

    for version in (1, 2):
        hsize = len(header_bytes(version, {}))
        begins, pos = {}, _pad4(hsize)
        for m in metas:
            if not m["is_rec"]:
                begins[m["name"]] = pos
                pos += m["vsize"]
        rec_start = pos
        for m in metas:
            if m["is_rec"]:
                begins[m["name"]] = pos
                pos += m["vsize"] if len(rec_vars) > 1 else m["slab"]
        end = rec_start + numrecs * recsize if rec_vars else pos
        if version == 2 or (max(list(begins.values()) + [0]) <= 0x7FFFFFFF
                            and end <= 0x7FFFFFFF):
            return {"version": version, "header": header_bytes(
                        version, begins), "begins": begins, "metas": metas,
                    "recsize": recsize, "numrecs": numrecs, "end": end}
    raise AssertionError("unreachable")


def write_netcdf(path: str, arrays: list[dict], *, numrecs: int = 0,
                 gatts: dict | None = None,
                 strip_elems: int = 1 << 20) -> None:
    """Distributed COO -> NetCDF classic sink.

    arrays entries additionally carry `df`: a COO DataFrame whose
    columns are the dim names + `value` (dense — every index present,
    as the classic format has no sparse representation; absent cells
    would keep the file's zero-fill). The driver writes the header
    and truncates; each array's strips shuffle ONCE on strip id
    (the inverse of the scan split) and pwrite in parallel."""
    plan = plan_netcdf(path, arrays, numrecs=numrecs, gatts=gatts)
    with open(path, "wb") as f:
        f.write(plan["header"])
        f.truncate(plan["end"])

    recsize, nrec_vars = plan["recsize"], sum(
        1 for m in plan["metas"] if m["is_rec"])
    for a, m in zip(arrays, plan["metas"]):
        df = a.get("df")
        if df is None:
            continue
        dim_names = [dn for dn, _ in m["dims"]]
        shape = [int(s) for _, s in m["dims"]]
        n0 = numrecs if m["is_rec"] else (shape[0] if shape else 1)
        tail = shape[1:] if shape else []
        inner = int(np.prod(tail, dtype=np.int64)) if tail else 1
        rows_per_strip = max(1, strip_elems // max(inner, 1))
        # per-LEADING-row byte stride (m["slab"] is the whole fixed
        # var / one whole record — not the strip stride)
        begin, slab = plan["begins"][m["name"]], inner * m["isz"]
        np_dt = np.dtype(NC_DTYPES[m["nc_type"]])
        is_rec, isz = m["is_rec"], m["isz"]
        lead = F.col(dim_names[0]) if dim_names else F.lit(0)
        keyed = df.withColumn("_strip",
                              (lead / F.lit(rows_per_strip)).cast("long"))

        out_schema = T.StructType([T.StructField("written", T.LongType())])

        def write_strip(key, pdf: pd.DataFrame, *, _m=m, _begin=begin,
                        _shape=shape, _tail=tail, _np_dt=np_dt,
                        _is_rec=is_rec, _slab=slab, _isz=isz,
                        _rps=rows_per_strip, _n0=n0,
                        _dims=dim_names) -> pd.DataFrame:
            i0 = int(key[0]) * _rps
            rows = min(_rps, _n0 - i0)
            inner_n = int(np.prod(_tail, dtype=np.int64)) if _tail else 1
            buf = np.zeros(rows * inner_n, dtype=_np_dt)
            sizes = [rows] + list(_tail)
            flat = np.zeros(len(pdf), dtype=np.int64)
            for k, d in enumerate(_dims):
                step = int(np.prod(sizes[k + 1:], dtype=np.int64))
                idx = pdf[d].to_numpy(dtype=np.int64)
                flat += (idx - (i0 if k == 0 else 0)) * step
            buf[flat] = pdf["value"].to_numpy()
            with open(path, "r+b") as f:
                fd = f.fileno()
                if _is_rec:
                    b2 = buf.reshape(rows, inner_n)
                    for k in range(rows):
                        os.pwrite(fd, b2[k].tobytes(),
                                  _begin + (i0 + k) * recsize)
                else:
                    os.pwrite(fd, buf.tobytes(), _begin + i0 * _slab)
            return pd.DataFrame({"written": [len(pdf)]})

        keyed.groupBy("_strip").applyInPandas(
            write_strip, schema=out_schema).agg(F.sum("written")).collect()


def _read_coord_var(hdr: dict, name: str) -> np.ndarray | None:
    """Driver-side read of a 1-D coordinate variable (tiny: dim_len
    elements) — the CF convention the reference resolves in
    netcdfdataset.cpp SetProjectionFromVar / the lat/lon coordinate
    scan (:2800 region)."""
    v = hdr["vars"].get(name)
    if v is None or len(v["shape"]) != 1 or v["is_record"]:
        return None
    dt = np.dtype(NC_DTYPES[v["nc_type"]])
    n = v["shape"][0]
    with open(hdr["path"], "rb") as f:
        f.seek(v["begin"])
        raw = f.read(n * dt.itemsize)
    arr = np.frombuffer(raw, dtype=dt).astype("float64")
    sc = float(v["atts"].get("scale_factor", 1.0))
    of = float(v["atts"].get("add_offset", 0.0))
    return arr * sc + of


def netcdf_as_raster(spark: SparkSession, path: str, var: str, *,
                     tile_px: int = 256, dtype: str | None = None,
                     nodata: float = float("nan"),
                     raster_id: str | None = None,
                     rtol: float = 1e-3):
    """The reference netCDF driver's CLASSIC-RASTER view of a 2-D
    variable (frmts/netcdf/netcdfdataset.cpp: geotransform derived
    from the 1-D lat/lon coordinate variables, regular-spacing check,
    bBottomUp row flip when latitude ascends): returns the engine's
    raster tile table with a real geotransform, ready for warp /
    overview / DEM / pixel-function operators.

    The coordinate vars are KBs and read driver-side; the pixel scan
    stays the distributed strip scan; the only shuffle is
    as_classic_dataset's tile assembly."""
    hdr = open_netcdf(path)
    v = hdr["vars"][var]
    if len(v["dims"]) != 2:
        raise ValueError("netcdf_as_raster needs a 2-D variable")
    yname, xname = v["dims"]
    xs = _read_coord_var(hdr, xname)
    ys = _read_coord_var(hdr, yname)
    if xs is None or ys is None:
        raise ValueError("missing 1-D coordinate variables "
                         f"{xname!r}/{yname!r}")
    dx = np.diff(xs)
    dy = np.diff(ys)
    if not (np.allclose(dx, dx[0], rtol=rtol)
            and np.allclose(dy, dy[0], rtol=rtol)):
        raise ValueError("irregular coordinate spacing (the reference "
                         "falls back to geolocation arrays here)")
    sx, sy = float(dx[0]), float(dy[0])
    bottom_up = sy > 0  # CF latitude ascending = south-up storage
    # the reference band serves RAW (packed) values and reports
    # scale/offset as band metadata (netcdfdataset.cpp:447) — mirror
    # that: unpack=False, nodata = the raw _FillValue
    arr = read_netcdf(spark, path, var, hdr=hdr, unpack=False)
    (yn, H), (xn, W) = arr.dims
    if bottom_up:
        # flip rows so row 0 = northernmost, like the reference's
        # bBottomUp read path — pure column math, no shuffle
        flipped = arr.df.withColumn(yn, F.lit(H - 1) - F.col(yn))
        arr = MDArray(flipped, arr.dims)
        gt_y0 = float(ys[-1]) + sy / 2.0
        gt_sy = -sy
    else:
        gt_y0 = float(ys[0]) - sy / 2.0
        gt_sy = sy
    gt_x0 = float(xs[0]) - sx / 2.0
    if dtype is None:  # serve the variable's own storage type
        dtype = {NC_BYTE: "int8", NC_SHORT: "int16", NC_INT: "int32",
                 NC_FLOAT: "float32", NC_DOUBLE: "float64"}[
                     v["nc_type"]]
    fill = v["atts"].get("_FillValue")
    nd = (float(fill) if fill is not None
          else (0.0 if math.isnan(nodata) else float(nodata)))
    tiles = arr.as_classic_dataset(
        tile_px=tile_px, raster_id=raster_id or var, dtype=dtype,
        nodata=nd)
    ts = tile_px
    gt = F.array(
        F.lit(gt_x0) + F.col("tile_x") * F.lit(float(ts) * sx),
        F.lit(sx), F.lit(0.0),
        F.lit(gt_y0) + F.col("tile_y") * F.lit(float(ts) * gt_sy),
        F.lit(0.0), F.lit(gt_sy),
    )
    return tiles.withColumn("geotransform", gt) \
        .withColumn("crs", F.lit("EPSG:4326"))
