"""Arc/Info Binary Grid vs the reference's own fixtures and
expectations (autotest/gdrivers/aigrid.py tests 1-6;
frmts/aigrid/gridlib.c, aigopen.c, aigdataset.cpp)."""

import numpy as np

from gdal_spark import aig
from gdal_spark import geomlite as G

from .conftest import reference_fixture

DATA = "autotest/gdrivers/data/aigrid"


def _mosaic(rows, band=1):
    rows = [r for r in rows if r.band == band]
    ntx = max(r.tile_x for r in rows) + 1
    nty = max(r.tile_y for r in rows) + 1
    grid = {(r.tile_x, r.tile_y): np.frombuffer(
        r.data, np.dtype(r.dtype)).reshape(r.height, r.width)
        for r in rows}
    return np.vstack([np.hstack([grid[(tx, ty)] for tx in range(ntx)])
                      for ty in range(nty)])


def test_aig_abc3x1(spark):
    # autotest aigrid.py::test_aigrid_1/2/3
    rows = aig.read_aig(spark, reference_fixture(f"{DATA}/abc3x1")).collect()
    a = _mosaic(rows)
    assert a.shape == (1, 3)
    assert a.dtype == np.uint8                 # sta range 0..2 -> Byte
    assert G.gdal_checksum(a) == 3
    r = rows[0]
    assert r.nodata == 255.0
    np.testing.assert_allclose(
        r.geotransform, [-0.5, 1.0, 0.0, 0.5, 0.0, -1.0])
    assert r.crs.startswith(
        'PROJCS["unnamed",GEOGCS["GDA94",'
        'DATUM["Geocentric_Datum_of_Australia_1994"')


def test_aig_abc3x1_colormap():
    # autotest aigrid.py::test_aigrid_3
    ct = aig.read_clr(reference_fixture(f"{DATA}/abc3x1"))
    assert len(ct) == 256
    assert ct[0] == (95, 113, 150, 255)
    assert ct[1] == (95, 57, 29, 255)


def test_aig_uppercase_coverage(spark):
    # autotest aigrid.py::test_aigrid_4/5 (ABC3X1UC is the same grid
    # with uppercase file names)
    rows = aig.read_aig(spark, reference_fixture(f"{DATA}/ABC3X1UC")).collect()
    a = _mosaic(rows)
    assert G.gdal_checksum(a) == 3
    assert rows[0].nodata == 255.0
    ct = aig.read_clr(reference_fixture(f"{DATA}/ABC3X1UC"))
    assert ct[0] == (95, 113, 150, 255)
    assert ct[1] == (95, 57, 29, 255)


def test_aig_sta_24bytes():
    # autotest aigrid.py::test_aigrid_6 — the 24-byte little-endian
    # sta.adf variant (gdal #6633)
    info = aig.read_cover_info(reference_fixture(f"{DATA}/aigrid_sta_24bytes/teststa"))
    assert info["vmin"] == 0.0
    assert info["vmax"] == 2.0


def test_aig_prj_parse():
    kv = aig.parse_prj(open(reference_fixture(f"{DATA}/abc3x1/prj.adf")).read())
    assert kv["projection"] == "UTM"
    assert kv["zone"] == "55"
    assert kv["datum"] == "GDA94"
    wkt = aig.prj_to_wkt(kv)
    assert 'PARAMETER["central_meridian",147]' in wkt
    assert 'PARAMETER["false_northing",10000000]' in wkt
