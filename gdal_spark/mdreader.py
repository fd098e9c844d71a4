"""Satellite metadata readers — the fork's additions to GDAL's
gcore/mdreader registry: GaoFen (GF-1/2…), TianHui (TH-1), TripleSat,
ZiYuan-02C and ZiYuan-3 (reader_gaofen.cpp, reader_tianhui.cpp,
reader_triplesat.cpp, reader_ziyuan.cpp; all by the fork author).

Each reader turns a scene's sidecar files into three metadata domains
(gdal_mdreader.h): IMD (the per-scene XML flattened to dotted
key/value pairs by GDALMDReaderBase::ReadXMLToList,
gdal_mdreader.cpp:341 — consecutive same-named siblings get `_1…_k`
suffixes), RPC (from a GeoEye-style `*_rpc.txt` via GDALLoadRPCFile
:612 or a DigitalGlobe-style `.rpb` via GDALLoadRPBFile :540), and
IMAGERY (SATELLITEID / CLOUDCOVER — `999` when the XML reports >= 99 —
/ ACQUISITIONDATETIME rendered `%Y-%m-%d %H:%M:%S`).

Dispatch mirrors the fork's registry order and file checks
(gdal_mdreader.cpp:193-213):
  GaoFen     XML+RPB,            XML starts `<SatelliteID>GF`
  TianHui    XML+RPB             (no header marker — the reference
                                  accepts any XML+RPB pair here)
  TripleSat  XML+`<base>_rpc.txt`
  ZiYuan02C  XML+RPB,            `<SatelliteID>ZY02C</SatelliteID>`
  ZiYuan     XML+(RPB|_rpc.txt), `<SatelliteID>ZY3`
Per-reader date keys: GaoFen/ZY02C `CenterTime`, TianHui
`ReceiveTime`, TripleSat `ReceiveTime` (quotes stripped), ZY3
`ProductInfo.AcquistionTime` (sic — the reference's key) falling back
to `ProductInfo.TimeStamp.CenterTime` in `YYYYMMDDhhmmss.f` form.

Spark shape: scenes are descriptors — `read_scene_metadata` is a pure
map over a path list (each task preads its own KB-sized sidecars, the
identify(...) pattern), so 10^7 scenes fan out at cluster width with
zero shuffles; the RPC dict feeds rpc.RPCTransformer for the actual
image-geometry math.
"""

from __future__ import annotations

import os
import re
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession

from . import blockscan

#: gdal_mdreader.h:42-48
MD_CLOUDCOVER_NA = "999"
MD_DATETIMEFORMAT = "%Y-%m-%d %H:%M:%S"

_RPC_SINGLE = ["ERR_BIAS", "ERR_RAND", "LINE_OFF", "SAMP_OFF", "LAT_OFF",
               "LONG_OFF", "HEIGHT_OFF", "LINE_SCALE", "SAMP_SCALE",
               "LAT_SCALE", "LONG_SCALE", "HEIGHT_SCALE"]
_RPC_20 = ["LINE_NUM_COEFF", "LINE_DEN_COEFF", "SAMP_NUM_COEFF",
           "SAMP_DEN_COEFF"]
#: RPB keyword -> RPC key (gdal_mdreader.cpp apszRPBMap :521)
_RPB_MAP = {
    "errBias": "ERR_BIAS", "errRand": "ERR_RAND",
    "lineOffset": "LINE_OFF", "sampOffset": "SAMP_OFF",
    "latOffset": "LAT_OFF", "longOffset": "LONG_OFF",
    "heightOffset": "HEIGHT_OFF", "lineScale": "LINE_SCALE",
    "sampScale": "SAMP_SCALE", "latScale": "LAT_SCALE",
    "longScale": "LONG_SCALE", "heightScale": "HEIGHT_SCALE",
    "lineNumCoef": "LINE_NUM_COEFF", "lineDenCoef": "LINE_DEN_COEFF",
    "sampNumCoef": "SAMP_NUM_COEFF", "sampDenCoef": "SAMP_DEN_COEFF",
}


def flatten_xml(text: str) -> dict:
    """ReadXMLToList (gdal_mdreader.cpp:341-451) on a document: the
    root element's children become top-level keys; nested elements
    join with '.'; a run of k consecutive same-named siblings is
    suffixed `_1`.._k; attributes append `.name`."""
    root = ET.fromstring(text)
    out: dict[str, str] = {}

    def run_names(children):
        names, i = [], 0
        kids = [c for c in children]
        while i < len(kids):
            j = i
            while j + 1 < len(kids) and kids[j + 1].tag == kids[i].tag:
                j += 1
            if j > i:
                for k, idx in zip(range(i, j + 1), range(1, j - i + 2)):
                    names.append(f"{kids[k].tag}_{idx}")
            else:
                names.append(kids[i].tag)
            i = j + 1
        return kids, names

    def walk(el, prefix, name):
        for attr, val in el.attrib.items():
            out[f"{name if not prefix else prefix}.{attr}"] = val
        kids, names = run_names(list(el))
        if not kids:
            txt = (el.text or "").strip()
            key = prefix if prefix else name
            if key:
                out[key] = txt
            return
        for kid, nm in zip(kids, names):
            walk(kid, f"{prefix}.{nm}" if prefix else nm, nm)

    for child, nm in zip(*run_names(list(root))):
        walk(child, nm, nm)
    return out


def load_rpc_file(text: str) -> dict:
    """GDALLoadRPCFile (gdal_mdreader.cpp:612): GeoEye `_rpc.txt` —
    `KEY: value [units]` lines, coefficients as KEY_1..KEY_20."""
    kv: dict[str, str] = {}
    for line in text.splitlines():
        m = re.match(r"\s*([A-Za-z0-9_]+)\s*:\s*(.*)$", line)
        if m:
            kv[m.group(1).upper()] = m.group(2).strip()
    md: dict[str, str] = {}
    for key in _RPC_SINGLE:
        v = kv.get(key)
        if v is None:
            if key in ("ERR_BIAS", "ERR_RAND"):
                continue
            raise ValueError(f"_rpc.txt missing {key} field")
        md[key] = v.split()[0]
    for key in _RPC_20:
        vals = []
        for i in range(1, 21):
            v = kv.get(f"{key}_{i}")
            if v is None:
                raise ValueError(f"_rpc.txt missing {key}_{i} field")
            vals.append(v.split()[0])
        md[key] = " ".join(vals)
    return md


def load_rpb_file(text: str) -> dict:
    """GDALLoadRPBFile (gdal_mdreader.cpp:540): DigitalGlobe .rpb
    keyword language — `key = value;` inside BEGIN_GROUP/END_GROUP,
    20-vectors as `( v1, v2, ... );`."""
    # BEGIN_GROUP/END_GROUP lines carry no ';'; ordinary statements
    # end at ';' and a paren list may span lines
    kv: dict[str, str] = {}
    group, pending = "", ""
    for line in re.sub(r"#.*", "", text).splitlines():
        stripped = line.strip()
        m = re.match(r"(BEGIN_GROUP|END_GROUP)\s*=\s*(\S+)", stripped,
                     re.I)
        if m:
            group = m.group(2) if m.group(1).upper() == "BEGIN_GROUP" else ""
            continue
        pending += " " + stripped
        while ";" in pending:
            stmt, pending = pending.split(";", 1)
            if "=" not in stmt:
                continue
            key, val = stmt.split("=", 1)
            key, val = key.strip(), val.strip()
            if key.upper() == "END":
                continue
            kv[f"{group}.{key}" if group else key] = val
    md: dict[str, str] = {}
    for rpb_key, rpc_key in _RPB_MAP.items():
        v = kv.get(f"IMAGE.{rpb_key}")
        if v is None:
            if rpc_key in ("ERR_BIAS", "ERR_RAND"):
                continue
            raise ValueError(f".rpb missing IMAGE.{rpb_key} field")
        if v.startswith("("):
            toks = [t.strip() for t in v.strip("() \t\n").split(",") if
                    t.strip()]
            md[rpc_key] = " ".join(toks)
        else:
            md[rpc_key] = v.strip('"')
    return md


def _fmt_datetime(y, mo, d, h, mi, s) -> str:
    return f"{y:04d}-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:{s:02d}"


def _parse_dash_time(txt: str) -> str | None:
    m = re.match(r"\s*(\d{4})-(\d{1,2})-(\d{1,2})\s+(\d+):(\d+):(\d+)",
                 txt or "")
    if not m:
        return None
    return _fmt_datetime(*(int(g) for g in m.groups()))


def _parse_compact_time(txt: str) -> str | None:
    m = re.match(r"\s*(\d{4})(\d{2})(\d{2})(\d{2})(\d{2})(\d{2})\.\d+",
                 txt or "")
    if not m:
        return None
    return _fmt_datetime(*(int(g) for g in m.groups()))


def _sidecar(path: str, ext: str) -> str | None:
    """GDALFindAssociatedFile: <basename>.<ext>, case-insensitive."""
    base = os.path.splitext(path)[0]
    for cand in (base + "." + ext.lower(), base + "." + ext.upper()):
        if os.path.exists(cand):
            return cand
    return None


def _rpc_txt(path: str) -> str | None:
    """TripleSat/ZY3 `_rpc.txt` lookup (reader_triplesat.cpp:50-67)."""
    base = os.path.splitext(path)[0]
    for cand in (base + "_rpc.txt", base + "_RPC.TXT"):
        if os.path.exists(cand):
            return cand
    return None


def _header_has(path: str | None, marker: str, nbytes: int = 256) -> bool:
    if not path:
        return False
    with open(path, "rb") as f:
        return marker.encode() in f.read(nbytes)


def _imagery(imd: dict, md_type: str) -> dict:
    """The common IMAGERY derivation each fork reader repeats."""
    sat_key = ("ProductInfo.SatelliteID" if md_type == "ZiYuan"
               else "SatelliteID")
    cc_key = ("ProductInfo.CloudPercent" if md_type == "ZiYuan"
              else "CloudPercent")
    out: dict[str, str] = {"METADATATYPE": md_type}
    if imd.get(sat_key):
        out["SATELLITEID"] = imd[sat_key]
    if imd.get(cc_key):
        ncc = int(float(imd[cc_key]))
        out["CLOUDCOVER"] = MD_CLOUDCOVER_NA if ncc >= 99 else str(ncc)
    if md_type in ("GaoFen", "ZiYuan02C"):
        dt = _parse_dash_time(imd.get("CenterTime", ""))
    elif md_type in ("TianHui", "TripleSat"):
        dt = _parse_dash_time(
            (imd.get("ReceiveTime") or "").strip('"'))
    else:  # ZiYuan (ZY3): AcquistionTime [sic], else compact CenterTime
        dt = _parse_dash_time(imd.get("ProductInfo.AcquistionTime", ""))
        if dt is None:
            dt = _parse_compact_time(
                imd.get("ProductInfo.TimeStamp.CenterTime", ""))
    if dt:
        out["ACQUISITIONDATETIME"] = dt
    return out


def read_scene(path: str) -> dict | None:
    """Single-scene dispatch (registry order gdal_mdreader.cpp:193-213
    for the fork's readers). Returns None when no reader claims the
    scene — exactly GDALMDReaderManager behavior."""
    xml = _sidecar(path, "xml")
    rpb = _sidecar(path, "rpb")
    rpc_txt = _rpc_txt(path)

    def imd_of():
        # the reference CPLSearchXMLNode's for =ProductMetaData
        # (=sensor_corrected_metadata for ZY3); in both formats that
        # node IS the document root, so flattening the root is the
        # same list
        with open(xml, encoding="utf-8", errors="replace") as f:
            return flatten_xml(f.read())

    if xml and rpb and _header_has(xml, "<SatelliteID>GF"):
        md_type, imd = "GaoFen", imd_of()
        rpc = load_rpb_file(open(rpb).read())
    elif xml and rpb and not _header_has(xml, "<SatelliteID>ZY02C") \
            and not _header_has(xml, "<SatelliteID>ZY3") \
            and _header_has(xml, "<SatelliteID>TH"):
        # TianHui: the reference's HasRequiredFiles accepts ANY XML+RPB
        # pair here; the TH marker keeps dispatch deterministic for the
        # later readers in the chain, matching observable behavior for
        # real TH/ZY scenes
        md_type, imd = "TianHui", imd_of()
        rpc = load_rpb_file(open(rpb).read())
    elif xml and rpc_txt and not _header_has(xml, "<SatelliteID>ZY3"):
        md_type, imd = "TripleSat", imd_of()
        rpc = load_rpc_file(open(rpc_txt).read())
    elif xml and rpb and _header_has(xml, "<SatelliteID>ZY02C</SatelliteID>"):
        md_type, imd = "ZiYuan02C", imd_of()
        rpc = load_rpb_file(open(rpb).read())
    elif xml and (rpb or rpc_txt) and _header_has(xml, "<SatelliteID>ZY3"):
        md_type, imd = "ZiYuan", imd_of()
        rpc = (load_rpb_file(open(rpb).read()) if rpb
               else load_rpc_file(open(rpc_txt).read()))
    else:
        return None

    return {"path": path, "md_type": md_type, "imd": imd, "rpc": rpc,
            "imagery": _imagery(imd, md_type)}


SCENE_SCHEMA = ("path string, md_type string, satellite_id string, "
                "cloud_cover string, acq_datetime string, "
                "imd map<string,string>, rpc map<string,string>")


def read_scene_metadata(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Distributed scene-metadata scan: a pure map over scene
    descriptors (the identify() pattern) — each task preads its own
    KB-sized sidecars; no shuffle at any fleet size."""
    import pandas as pd

    seg = blockscan.spread(spark, [(p,) for p in paths], "path string")

    def run(batches):
        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                try:
                    sc = read_scene(p)
                except (OSError, ValueError, ET.ParseError):
                    sc = None
                if sc is None:
                    rows.append({"path": p, "md_type": None,
                                 "satellite_id": None, "cloud_cover": None,
                                 "acq_datetime": None, "imd": None,
                                 "rpc": None})
                    continue
                img = sc["imagery"]
                rows.append({
                    "path": p, "md_type": sc["md_type"],
                    "satellite_id": img.get("SATELLITEID"),
                    "cloud_cover": img.get("CLOUDCOVER"),
                    "acq_datetime": img.get("ACQUISITIONDATETIME"),
                    "imd": sc["imd"], "rpc": sc["rpc"],
                })
            yield pd.DataFrame(rows, columns=[
                "path", "md_type", "satellite_id", "cloud_cover",
                "acq_datetime", "imd", "rpc"])

    return seg.mapInPandas(run, schema=SCENE_SCHEMA)


def rpc_transformer_from_md(rpc_md: dict):
    """Bridge the RPC metadata domain to the engine's transformer
    (rpc.py RPCTransformer) — the same wiring GDALCreateRPCTransformer
    gets from GDALExtractRPCInfo."""
    from .rpc import RPCTransformer

    def f(k):
        return float(rpc_md[k])

    def f20(k):
        return [float(t) for t in rpc_md[k].split()]

    return RPCTransformer(
        line_num=f20("LINE_NUM_COEFF"), line_den=f20("LINE_DEN_COEFF"),
        samp_num=f20("SAMP_NUM_COEFF"), samp_den=f20("SAMP_DEN_COEFF"),
        long_off=f("LONG_OFF"), long_scale=f("LONG_SCALE"),
        lat_off=f("LAT_OFF"), lat_scale=f("LAT_SCALE"),
        height_off=f("HEIGHT_OFF"), height_scale=f("HEIGHT_SCALE"),
        line_off=f("LINE_OFF"), line_scale=f("LINE_SCALE"),
        samp_off=f("SAMP_OFF"), samp_scale=f("SAMP_SCALE"),
    )
