"""GeoTIFF driver tests — direct parity with the reference's OWN
canonical fixtures and checksums:

  byte.tif        20x20 Byte, EPSG:26711, gt (440720,60,0,3751320,0,-60),
                  checksum 4672 (asserted throughout autotest, e.g.
                  utilities/test_gdalwarp.py:56)
  rgbsmall.tif    native band checksums [21212, 21053, 21349]
                  (gcore/tiff_write.py:6673, vrt_read.py:1284)
  int16/uint16/float32.tif  same raster as byte.tif in other dtypes ->
                  checksum 4672 (gcore conventions)

plus a write->read roundtrip through the parallel-pwrite writer.
"""

import numpy as np
import pytest

from gdal_spark import geomlite as G
from gdal_spark import geotiff, synth
from gdal_spark.tiling import checksum_table

from .conftest import reference_fixture


def _gcore(name):
    return reference_fixture("autotest/gcore/data/" + name)


def _full_checksums(spark, path, **kw):
    rows = geotiff.read_geotiff(spark, path, **kw).collect()
    out = {}
    for b in sorted({r.band for r in rows}):
        br = [r for r in rows if r.band == b]
        ph = max(r.height for r in br)
        pw = max(r.width for r in br)
        H = sum(r.height for r in br if r.tile_x == 0)
        W = sum(r.width for r in br if r.tile_y == 0)
        img = np.zeros((H, W), dtype=np.dtype(br[0].dtype))
        for r in br:
            a = np.frombuffer(r.data, dtype=np.dtype(r.dtype)).reshape(
                r.height, r.width
            )
            img[
                r.tile_y * ph : r.tile_y * ph + r.height,
                r.tile_x * pw : r.tile_x * pw + r.width,
            ] = a
        cast = np.float64 if img.dtype.kind == "f" else np.int64
        out[b] = G.gdal_checksum(img.astype(cast))
    return out, rows


def test_byte_tif_reference_parity(spark):
    cs, rows = _full_checksums(spark, _gcore("byte.tif"))
    assert cs == {1: 4672}
    r = rows[0]
    assert list(r.geotransform) == [440720.0, 60.0, 0.0, 3751320.0, 0.0, -60.0]
    assert r.crs == "EPSG:26711"
    assert r.dtype == "uint8"


def test_rgbsmall_band_checksums(spark):
    cs, _ = _full_checksums(spark, _gcore("rgbsmall.tif"))
    assert cs == {1: 21212, 2: 21053, 3: 21349}


@pytest.mark.parametrize(
    "fname,dtype",
    [("int16.tif", "int16"), ("uint16.tif", "uint16"),
     ("float32.tif", "float32")],
)
def test_other_dtypes_checksum_4672(spark, fname, dtype):
    cs, rows = _full_checksums(spark, _gcore(fname))
    assert cs == {1: 4672}
    assert rows[0].dtype == dtype


def test_bigtiff_strips(spark):
    cs, _ = _full_checksums(spark, _gcore("byte_bigtiff_strip5lines.tif"))
    assert cs == {1: 4672}


def test_planar_separate_tiled(spark):
    cs, _ = _full_checksums(spark, _gcore("separate_tiled.tif"))
    assert len(cs) == 3 and len(set(cs.values())) == 1


def test_ifd_meta(spark):
    meta = geotiff.ifd_meta(_gcore("byte.tif"))
    assert meta[0]["width"] == 20 and meta[0]["height"] == 20
    assert meta[0]["crs"] == "EPSG:26711"


def test_write_read_roundtrip(spark, tmp_path):
    src = synth.tiles_src_df(spark, 4, 3, zoom=0, raster_id="rt")
    info = geotiff.write_geotiff(src, str(tmp_path / "rt.tif"))
    assert info["tiles"] == 12 and info["width"] == 1024
    back = geotiff.read_geotiff(
        spark, str(tmp_path / "rt.tif"), raster_id="rt", zoom=0
    )
    a = {
        (r.band, r.tile_x, r.tile_y): r.checksum
        for r in checksum_table(src).collect()
    }
    b = {
        (r.band, r.tile_x, r.tile_y): r.checksum
        for r in checksum_table(back).collect()
    }
    assert a == b and len(a) == 12
    # georeferencing survives the roundtrip
    r = back.limit(1).collect()[0]
    s = src.limit(1).collect()[0]
    assert list(r.geotransform) == list(s.geotransform)


def test_read_plan_is_distributed(spark):
    """Driver reads only the IFD; the segment scan is a mapInPandas
    over a many-partition descriptor table (each task range-reads its
    own segments — the COG-over-object-store access pattern)."""
    t = geotiff.read_geotiff(spark, _gcore("rgbsmall.tif"))
    plan = t._jdf.queryExecution().executedPlan().toString()
    assert "mapInPandas" in plan or "MapInPandas" in plan
