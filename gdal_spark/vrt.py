"""GDAL VRT dataset XML — parse + open as a distributed tile table.

The VRT format (documented at gdal.org/drivers/raster/vrt.html; parsed
by the reference in frmts/vrt/vrtdataset.cpp XMLInit and composed per
block by frmts/vrt/vrtsourcedrasterband.cpp IRasterIO /
frmts/vrt/vrtderivedrasterband.cpp:1205) describes a virtual raster as
bands of *sources*:

  <VRTDataset rasterXSize=.. rasterYSize..>
    <SRS>..</SRS><GeoTransform>x0, dx, 0, y0, 0, dy</GeoTransform>
    <VRTRasterBand dataType="Byte" band="1">
      <NoDataValue>0</NoDataValue>
      <SimpleSource>
        <SourceFilename>a</SourceFilename><SourceBand>1</SourceBand>
        <SrcRect xOff=.. yOff=.. xSize=.. ySize=../>
        <DstRect xOff=.. yOff=.. xSize=.. ySize=../>
      </SimpleSource>
      <ComplexSource> ..same.. <ScaleRatio/><ScaleOffset/><NODATA/>
        <LUT>src:dst,src:dst,..</LUT><Exponent/> </ComplexSource>
    </VRTRasterBand>
    <VRTRasterBand subClass="VRTDerivedRasterBand">
      <PixelFunctionType>sum</PixelFunctionType> ..sources..
    </VRTRasterBand>
  </VRTDataset>

Spark lowering — the whole dataset stays a lazy DataFrame plan:

  SimpleSource   -> filter the source tile table to SrcRect, shift tile
                    keys by (DstOff-SrcOff)/tile_px (pure map, no pixel
                    rewrite, no shuffle)
  ComplexSource  -> + per-tile mapInPandas applying ScaleRatio/Offset,
                    Exponent scaling, NODATA masking, LUT interpolation
                    (vrtsources.cpp VRTComplexSource::RasterIOInternal)
  source overlap -> tiling.mosaic priority resolve: later sources in
                    document order win, matching the reference's
                    draw-in-order compositing (vrtsourcedrasterband.cpp
                    IRasterIO loops sources first-to-last onto the same
                    buffer)
  derived band   -> stack sources as bands 1..n, then
                    raster.pixel_calc / pixel_calc_multi
                    (PixelFunctionType, vrtderivedrasterband.cpp:678)
  multiple bands -> unionByName with the VRT band number

Contract (documented subset, validated at parse time): rects must be
tile-aligned (offsets and sizes multiples of tile_px) and unscaled
(SrcRect size == DstRect size) — the separate warp/translate operators
own resampling. Misaligned VRTs raise ValueError with the offending
rect. Scale-factor rects can be pre-materialized with
tiling.upsample_nearest by the caller.

Source *filenames* resolve through a caller-supplied dict of tile
tables (this engine's datasets are DataFrames, not paths), mirroring
how the reference resolves SourceFilename through its open-dataset
pool (vrtsources.cpp VRTSimpleSource::GetSrcDSOrLayer).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import raster, tiling
from .synth import TILE_SCHEMA
from .tiling import _decode, _gdal_cast

_DTYPE_MAP = {
    "Byte": "uint8", "UInt16": "uint16", "Int16": "int16",
    "UInt32": "uint32", "Int32": "int32",
    "Float32": "float32", "Float64": "float64",
}


@dataclass
class VRTSource:
    filename: str
    band: int = 1
    kind: str = "simple"  # simple | complex
    src_rect: tuple[int, int, int, int] | None = None  # xoff yoff xsize ysize
    dst_rect: tuple[int, int, int, int] | None = None
    scale_ratio: float = 1.0
    scale_offset: float = 0.0
    exponent: float | None = None  # with src/dst min-max exponential scaling
    src_min: float = 0.0
    src_max: float = 0.0
    dst_min: float = 0.0
    dst_max: float = 0.0
    nodata: float | None = None
    lut: list[tuple[float, float]] | None = None


@dataclass
class VRTBand:
    band: int
    dtype: str = "uint8"
    nodata: float | None = None
    subclass: str | None = None
    pixel_func: str | None = None
    sources: list[VRTSource] = field(default_factory=list)


@dataclass
class VRTSpec:
    xsize: int
    ysize: int
    srs: str | None = None
    geotransform: list[float] | None = None
    bands: list[VRTBand] = field(default_factory=list)


def _rect(el) -> tuple[int, int, int, int]:
    return (int(float(el.get("xOff", 0))), int(float(el.get("yOff", 0))),
            int(float(el.get("xSize", 0))), int(float(el.get("ySize", 0))))


def _parse_source(el) -> VRTSource:
    fn_el = el.find("SourceFilename")
    s = VRTSource(filename=(fn_el.text or "").strip() if fn_el is not None else "")
    b = el.find("SourceBand")
    if b is not None and b.text:
        s.band = int(b.text)
    sr, dr = el.find("SrcRect"), el.find("DstRect")
    if sr is not None:
        s.src_rect = _rect(sr)
    if dr is not None:
        s.dst_rect = _rect(dr)
    if el.tag == "ComplexSource":
        s.kind = "complex"
        for tag, attr in (("ScaleRatio", "scale_ratio"),
                          ("ScaleOffset", "scale_offset"),
                          ("SrcMin", "src_min"), ("SrcMax", "src_max"),
                          ("DstMin", "dst_min"), ("DstMax", "dst_max")):
            t = el.find(tag)
            if t is not None and t.text:
                setattr(s, attr, float(t.text))
        t = el.find("Exponent")
        if t is not None and t.text:
            s.exponent = float(t.text)
        t = el.find("NODATA")
        if t is not None and t.text:
            s.nodata = float(t.text)
        t = el.find("LUT")
        if t is not None and t.text:
            pairs = []
            for item in t.text.replace("\n", ",").split(","):
                item = item.strip()
                if item:
                    a, b2 = item.split(":")
                    pairs.append((float(a), float(b2)))
            s.lut = sorted(pairs)
    return s


def parse_vrt(xml: str) -> VRTSpec:
    """Parse VRT dataset XML into a VRTSpec (vrtdataset.cpp XMLInit)."""
    root = ET.fromstring(xml)
    if root.tag != "VRTDataset":
        raise ValueError(f"not a VRTDataset: root tag {root.tag!r}")
    spec = VRTSpec(
        xsize=int(root.get("rasterXSize", 0)),
        ysize=int(root.get("rasterYSize", 0)),
    )
    srs = root.find("SRS")
    if srs is not None and srs.text:
        spec.srs = srs.text.strip()
    gt = root.find("GeoTransform")
    if gt is not None and gt.text:
        spec.geotransform = [float(v) for v in gt.text.split(",")]
        if len(spec.geotransform) != 6:
            raise ValueError("GeoTransform needs 6 values")
    for bel in root.findall("VRTRasterBand"):
        band = VRTBand(
            band=int(bel.get("band", len(spec.bands) + 1)),
            dtype=_DTYPE_MAP.get(bel.get("dataType", "Byte"), "uint8"),
            subclass=bel.get("subClass"),
        )
        nd = bel.find("NoDataValue")
        if nd is not None and nd.text:
            band.nodata = float(nd.text)
        pf = bel.find("PixelFunctionType")
        if pf is not None and pf.text:
            band.pixel_func = pf.text.strip()
        for sel in bel:
            if sel.tag in ("SimpleSource", "ComplexSource", "AveragedSource"):
                band.sources.append(_parse_source(sel))
        spec.bands.append(band)
    return spec


def _check_aligned(s: VRTSource, tile_px: int) -> tuple[int, int]:
    """Validate the documented subset; return (dtx, dty) tile shift."""
    sr = s.src_rect or (0, 0, 0, 0)
    dr = s.dst_rect or sr
    if s.src_rect is not None and s.dst_rect is not None:
        if (sr[2], sr[3]) != (dr[2], dr[3]):
            raise ValueError(
                f"scaled source rect not supported (SrcRect {sr} vs DstRect "
                f"{dr}); pre-resample with tiling.upsample_nearest/warp")
    for name, r in (("SrcRect", s.src_rect), ("DstRect", s.dst_rect)):
        if r is not None and any(v % tile_px for v in r):
            raise ValueError(
                f"{name} {r} not aligned to tile_px={tile_px}")
    return ((dr[0] - sr[0]) // tile_px, (dr[1] - sr[1]) // tile_px)


def _apply_complex(tiles: DataFrame, s: VRTSource, out_dtype: str,
                   band_nodata: float | None) -> DataFrame:
    """ComplexSource pixel mapping (vrtsources.cpp
    VRTComplexSource::RasterIOInternal): NODATA masking, then linear
    scale / exponential scale / LUT, cast to the band dtype."""
    ratio, off = s.scale_ratio, s.scale_offset
    exp = s.exponent
    smin, smax = s.src_min, s.src_max
    dmin, dmax = s.dst_min, s.dst_max
    nod = s.nodata
    lut = s.lut
    fill = band_nodata if band_nodata is not None else 0.0

    def run(batches):
        for pdf in batches:
            pdf = pdf.copy()
            new = []
            for r in pdf.itertuples(index=False):
                a = _decode(r.data, r.dtype, r.height, r.width).astype(np.float64)
                bad = (a == nod) if nod is not None else None
                if lut:
                    xs = np.array([p[0] for p in lut])
                    ys = np.array([p[1] for p in lut])
                    a = np.interp(a, xs, ys)  # clamps at both ends like GDAL
                elif exp is not None:
                    # VRT_SCALING_EXPONENTIAL (vrtsources.cpp):
                    # dst = dmin + (dmax-dmin) * ((v-smin)/(smax-smin))^exp
                    t = np.clip((a - smin) / max(smax - smin, 1e-30), 0.0, 1.0)
                    a = dmin + (dmax - dmin) * np.power(t, exp)
                else:
                    a = a * ratio + off
                if bad is not None:
                    a = np.where(bad, fill, a)
                new.append(_gdal_cast(a, out_dtype).tobytes())
            pdf["data"] = new
            pdf["dtype"] = out_dtype
            yield pdf

    return tiles.mapInPandas(run, schema=TILE_SCHEMA)


def _retile_geotransform(tiles: DataFrame, spec: VRTSpec,
                         tile_px: int) -> DataFrame:
    """Stamp per-tile geotransforms derived from the VRT dataset's
    GeoTransform so shifted tiles carry dst-frame georeferencing."""
    if spec.geotransform is None:
        return tiles
    x0, dx, _, y0, _, dy = spec.geotransform
    return tiles.withColumn(
        "geotransform",
        F.array(
            F.lit(x0) + F.col("tile_x").cast("double") * (tile_px * dx),
            F.lit(dx), F.lit(0.0),
            F.lit(y0) + F.col("tile_y").cast("double") * (tile_px * dy),
            F.lit(0.0), F.lit(dy),
        ),
    ).withColumn("crs", F.coalesce(F.lit(spec.srs), F.col("crs")))


def open_vrt(spec_or_xml, tables: dict[str, DataFrame],
             raster_id: str = "vrt", tile_px: int = 256) -> DataFrame:
    """Open a VRT as one lazy tile-table DataFrame.

    tables maps SourceFilename -> tile table (TILE_SCHEMA). Sources
    compose in document order with later-wins priority; derived bands
    run their PixelFunctionType over the stacked sources. Everything
    stays a plan — no pixels move until an action.
    """
    spec = parse_vrt(spec_or_xml) if isinstance(spec_or_xml, str) else spec_or_xml
    band_tables: list[DataFrame] = []
    for band in spec.bands:
        if not band.sources:
            raise ValueError(f"band {band.band} has no sources")
        placed = []
        for s in band.sources:
            if s.filename not in tables:
                raise KeyError(
                    f"SourceFilename {s.filename!r} not in tables "
                    f"(have {sorted(tables)})")
            t = tables[s.filename].filter(F.col("band") == s.band)
            dtx, dty = _check_aligned(s, tile_px)
            if s.src_rect is not None:
                sx, sy, sw, sh = (v // tile_px for v in s.src_rect)
                t = t.filter(
                    (F.col("tile_x") >= sx) & (F.col("tile_x") < sx + sw)
                    & (F.col("tile_y") >= sy) & (F.col("tile_y") < sy + sh))
            if dtx or dty:
                t = t.withColumn("tile_x", (F.col("tile_x") + dtx).cast("int")) \
                     .withColumn("tile_y", (F.col("tile_y") + dty).cast("int"))
            if s.kind == "complex" and (
                s.lut or s.exponent is not None or s.nodata is not None
                or s.scale_ratio != 1.0 or s.scale_offset != 0.0
            ):
                t = _apply_complex(t, s, band.dtype, band.nodata)
            placed.append(t)
        if band.subclass == "VRTDerivedRasterBand":
            if band.pixel_func is None:
                raise ValueError("VRTDerivedRasterBand needs PixelFunctionType")
            stacked = tiling.stack_separate(placed, dst_raster_id=raster_id)
            if band.pixel_func in raster._MULTI_FUNCS:
                bt = raster.pixel_calc_multi(
                    stacked, band.pixel_func, out_dtype=band.dtype,
                    raster_id=raster_id)
            elif band.pixel_func in raster._PIXEL_FUNCS:
                if len(placed) != 1:
                    raise ValueError(
                        f"pixel function {band.pixel_func!r} takes 1 source, "
                        f"got {len(placed)}")
                bt = raster.pixel_calc(
                    placed[0], band.pixel_func, out_dtype=band.dtype,
                    raster_id=raster_id)
            else:
                raise KeyError(f"unknown PixelFunctionType {band.pixel_func!r}")
        else:
            # cast plain SimpleSources when the band dtype differs
            cast_placed = []
            for t, s in zip(placed, band.sources):
                if s.kind == "simple":
                    t = _maybe_cast(t, band.dtype)
                cast_placed.append(t)
            bt = tiling.mosaic(cast_placed) if len(cast_placed) > 1 else cast_placed[0]
        bt = bt.withColumn("band", F.lit(band.band).cast("int")) \
               .withColumn("raster_id", F.lit(raster_id))
        if band.nodata is not None:
            bt = bt.withColumn("nodata", F.lit(float(band.nodata)))
        band_tables.append(bt)
    out = band_tables[0]
    for b in band_tables[1:]:
        out = out.unionByName(b)
    return _retile_geotransform(out, spec, tile_px)


def _maybe_cast(tiles: DataFrame, out_dtype: str) -> DataFrame:
    def run(batches):
        for pdf in batches:
            if (pdf["dtype"] == out_dtype).all():
                yield pdf
                continue
            pdf = pdf.copy()
            new = []
            for r in pdf.itertuples(index=False):
                if r.dtype == out_dtype:
                    new.append(r.data)
                else:
                    a = _decode(r.data, r.dtype, r.height, r.width)
                    new.append(_gdal_cast(a, out_dtype).tobytes())
            pdf["data"] = new
            pdf["dtype"] = out_dtype
            yield pdf

    return tiles.mapInPandas(run, schema=TILE_SCHEMA)


def build_vrt_xml(spec: VRTSpec) -> str:
    """Serialize a VRTSpec back to XML (gdalbuildvrt writer side,
    frmts/vrt/vrtdataset.cpp SerializeToXML). Round-trips parse_vrt."""
    inv = {v: k for k, v in _DTYPE_MAP.items()}
    root = ET.Element("VRTDataset", rasterXSize=str(spec.xsize),
                      rasterYSize=str(spec.ysize))
    if spec.srs:
        ET.SubElement(root, "SRS").text = spec.srs
    if spec.geotransform:
        ET.SubElement(root, "GeoTransform").text = ", ".join(
            repr(v) for v in spec.geotransform)
    for band in spec.bands:
        attrs = {"dataType": inv.get(band.dtype, "Byte"),
                 "band": str(band.band)}
        if band.subclass:
            attrs["subClass"] = band.subclass
        bel = ET.SubElement(root, "VRTRasterBand", **attrs)
        if band.nodata is not None:
            ET.SubElement(bel, "NoDataValue").text = repr(band.nodata)
        if band.pixel_func:
            ET.SubElement(bel, "PixelFunctionType").text = band.pixel_func
        for s in band.sources:
            sel = ET.SubElement(
                bel, "ComplexSource" if s.kind == "complex" else "SimpleSource")
            ET.SubElement(sel, "SourceFilename", relativeToVRT="0").text = s.filename
            ET.SubElement(sel, "SourceBand").text = str(s.band)
            for tag, r in (("SrcRect", s.src_rect), ("DstRect", s.dst_rect)):
                if r is not None:
                    ET.SubElement(sel, tag, xOff=str(r[0]), yOff=str(r[1]),
                                  xSize=str(r[2]), ySize=str(r[3]))
            if s.kind == "complex":
                if s.scale_ratio != 1.0:
                    ET.SubElement(sel, "ScaleRatio").text = repr(s.scale_ratio)
                if s.scale_offset != 0.0:
                    ET.SubElement(sel, "ScaleOffset").text = repr(s.scale_offset)
                if s.nodata is not None:
                    ET.SubElement(sel, "NODATA").text = repr(s.nodata)
                if s.lut:
                    ET.SubElement(sel, "LUT").text = ",".join(
                        f"{a!r}:{b!r}" for a, b in s.lut)
                if s.exponent is not None:
                    ET.SubElement(sel, "Exponent").text = repr(s.exponent)
                    for tag, v in (("SrcMin", s.src_min), ("SrcMax", s.src_max),
                                   ("DstMin", s.dst_min), ("DstMax", s.dst_max)):
                        ET.SubElement(sel, tag).text = repr(v)
    return ET.tostring(root, encoding="unicode")
