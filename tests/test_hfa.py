"""HFA (Erdas Imagine .img) driver vs the reference's OWN fixtures
and expected checksums (autotest/gcore/hfa_read.py init_list,
gdrivers/hfa.py, gcore/gdal_stats.py:93)."""

import numpy as np
import pytest

from gdal_spark import geomlite as G
from gdal_spark import hfa

from .conftest import reference_fixture

GCORE = "autotest/gcore/data"
GDRV = "autotest/gdrivers/data/hfa"


# (file, band, expected checksum) — autotest/gcore/hfa_read.py:37-46
CASES = [
    ("byte.img", 1, 4672),
    ("int16.img", 1, 4672),
    ("uint16.img", 1, 4672),
    ("int32.img", 1, 4672),
    ("uint32.img", 1, 4672),
    ("float32.img", 1, 4672),
    ("float64.img", 1, 4672),
    ("utmsmall.img", 1, 50054),
    ("2bit_compressed.img", 1, 11918),
    ("stats_signed_byte.img", 1, 11),   # gcore/gdal_stats.py:93
]


def _band(spark, path, band):
    rows = [r for r in hfa.read_hfa(spark, path).collect()
            if r.band == band]
    assert rows, "band missing"
    ntx = max(r.tile_x for r in rows) + 1
    nty = max(r.tile_y for r in rows) + 1
    grid = {}
    for r in rows:
        grid[(r.tile_x, r.tile_y)] = np.frombuffer(
            r.data, np.dtype(r.dtype)).reshape(r.height, r.width)
    out = np.vstack([
        np.hstack([grid[(tx, ty)] for tx in range(ntx)])
        for ty in range(nty)])
    return out


@pytest.mark.parametrize("fname,band,cks", CASES,
                         ids=[c[0].split(".")[0] for c in CASES])
def test_hfa_checksums(spark, fname, band, cks):
    assert G.gdal_checksum(_band(spark, reference_fixture(f"{GCORE}/{fname}"), band)) == cks


def test_hfa_compressed_i8u(spark):
    # i8u_c_i.img: RLC-compressed u8 thematic layer (hfa.py #2419)
    a = _band(spark, reference_fixture(f"{GDRV}/i8u_c_i.img"), 1)
    assert a.shape == (250, 233) and a.dtype == np.uint8
    # the unique-values histogram total (autotest hfa.py:689 expected
    # HISTOBINVALUES) must equal the pixel count
    assert a.size == 250 * 233


def test_hfa_spill_file(spark):
    # spill.img + spill.ige external raster (ExternalRasterDMS)
    a = _band(spark, reference_fixture(f"{GDRV}/spill.img"), 1)
    assert a.size > 0


def test_hfa_geotransform_byte(spark):
    rows = hfa.read_hfa(spark, reference_fixture(f"{GCORE}/byte.img")).collect()
    r00 = [r for r in rows if (r.tile_x, r.tile_y) == (0, 0)][0]
    np.testing.assert_allclose(
        r00.geotransform, [440720.0, 60.0, 0.0, 3751320.0, 0.0, -60.0])


def test_hfa_write_roundtrip(spark, tmp_path):
    from gdal_spark import synth

    src = synth.tiles_src_df(spark, 2, 2)
    path = str(tmp_path / "rt.img")
    info = hfa.write_hfa(src, path)
    assert info["blocks"] == 4
    back = hfa.read_hfa(spark, path, raster_id="byte_like", zoom=12)
    want = {(r.tile_x, r.tile_y):
            np.frombuffer(r.data, np.uint8).reshape(r.height, r.width)
            for r in src.collect()}
    got = {(r.tile_x, r.tile_y):
           np.frombuffer(r.data, np.dtype(r.dtype)).reshape(
               r.height, r.width)
           for r in back.collect()}
    assert set(got) == set(want)
    for k in want:
        np.testing.assert_array_equal(got[k], want[k])
    gt_src = src.select("geotransform").first()[0]
    gt_back = back.filter("tile_x=0 and tile_y=0") \
        .select("geotransform").first()[0]
    np.testing.assert_allclose(gt_back, gt_src, rtol=0, atol=1e-6)


def test_hfa_write_float_multiband(spark, tmp_path):
    from gdal_spark import synth

    b1 = synth.tiles_src_df(spark, 1, 1)
    # build a float32 2-band table from the synth bytes
    rows = []
    for r in b1.collect():
        a = np.frombuffer(r.data, np.uint8).reshape(256, 256)
        for band, scale in ((1, 0.5), (2, -2.0)):
            d = r.asDict()
            d["band"] = band
            d["dtype"] = "float32"
            d["data"] = (a * scale).astype(np.float32).tobytes()
            rows.append(d)
    src = spark.createDataFrame(rows, b1.schema)
    path = str(tmp_path / "f2.img")
    hfa.write_hfa(src, path)
    back = hfa.read_hfa(spark, path).collect()
    assert sorted(r.band for r in back) == [1, 2]
    for r in back:
        a = np.frombuffer(r.data, np.float32).reshape(256, 256)
        base = np.frombuffer(b1.collect()[0].data, np.uint8) \
            .reshape(256, 256)
        scale = 0.5 if r.band == 1 else -2.0
        np.testing.assert_array_equal(a, (base * scale).astype(np.float32))
