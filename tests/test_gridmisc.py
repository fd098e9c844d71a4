"""ELAS / BYN / JDEM / ISG / PCRaster drivers vs the reference's own
fixtures and expected checksums (autotest/gdrivers/elas.py:41,
byn.py:43, jdem.py:41, isg.py:39, pcraster.py:45)."""

import numpy as np
import pytest

from gdal_spark import geomlite as G
from gdal_spark import gridmisc as GM

from .conftest import reference_fixture

DATA = "autotest/gdrivers/data"


def _band(rows, band=1):
    rows = [r for r in rows if r.band == band]
    ntx = max(r.tile_x for r in rows) + 1
    nty = max(r.tile_y for r in rows) + 1
    grid = {(r.tile_x, r.tile_y): np.frombuffer(
        r.data, np.dtype(r.dtype)).reshape(r.height, r.width)
        for r in rows}
    return np.vstack([np.hstack([grid[(tx, ty)] for tx in range(ntx)])
                      for ty in range(nty)])


def test_elas_byte_4672(spark):
    rows = GM.read_elas(spark, reference_fixture(f"{DATA}/elas/byte_elas.bin")).collect()
    assert G.gdal_checksum(_band(rows)) == 4672  # autotest elas.py:41


def test_byn_geoid_64764(spark):
    rows = GM.read_byn(
        spark, reference_fixture(f"{DATA}/byn/cgg2013ai08_reduced.byn")).collect()
    a = _band(rows)
    assert G.gdal_checksum(a) == 64764           # autotest byn.py:43
    h = GM.parse_byn(reference_fixture(f"{DATA}/byn/cgg2013ai08_reduced.byn"))
    assert h["factor"] != 0


def test_jdem_fake_15(spark):
    rows = GM.read_jdem(spark, reference_fixture(f"{DATA}/jdem/fakejdem.mem")).collect()
    a = _band(rows)
    assert a.dtype == np.float32
    assert G.gdal_checksum(a) == 15              # autotest jdem.py:41


def test_isg_test_159(spark):
    rows = GM.read_isg(spark, reference_fixture(f"{DATA}/isg/test.isg")).collect()
    a = _band(rows)
    assert a.shape == (4, 6)
    assert G.gdal_checksum(a) == 159             # autotest isg.py:39
    # the reference's own expected gt (autotest isg.py:40)
    np.testing.assert_allclose(
        rows[0].geotransform, [120.0, 0.25, 0, 41.0, 0, -0.25])


def test_pcraster_ldd_4528(spark):
    rows = GM.read_pcraster(spark, reference_fixture(f"{DATA}/pcraster/ldd.map")).collect()
    a = _band(rows)
    assert G.gdal_checksum(a) == 4528        # autotest pcraster.py:45
    h = GM.parse_csf(reference_fixture(f"{DATA}/pcraster/ldd.map"))
    assert (h["width"], h["height"]) == (80, 100)


def test_gxf_small_ascii_90(spark):
    from gdal_spark import gxf as GX

    rows = GX.read_gxf(spark, reference_fixture(f"{DATA}/gxf/small.gxf")).collect()
    a = _band(rows)
    assert a.shape == (3, 4) and a.dtype == np.float32
    assert G.gdal_checksum(a) == 90           # autotest gxf.py:46
    # default SENSE=1: first data row is the BOTTOM row
    np.testing.assert_allclose(a[2], [-9999999.0, 10, 20, 25])


def test_gxf_small2_base90_65042(spark):
    from gdal_spark import gxf as GX

    rows = GX.read_gxf(spark, reference_fixture(f"{DATA}/gxf/small2.gxf")).collect()
    a = _band(rows)
    assert a.shape == (8, 10)
    assert G.gdal_checksum(a) == 65042        # autotest gxf.py:56


@pytest.mark.parametrize("fname,cks", [
    ("022gdeme_truncated", 1583),
    ("114p01_0100_deme_truncated.dem", 53864),
    ("39079G6_truncated.dem", 61424),
])
def test_usgsdem_checksums(spark, fname, cks):
    # autotest/gdrivers/usgsdem.py:45-69
    from gdal_spark import usgsdem as UD

    rows = UD.read_usgsdem(spark, reference_fixture(f"{DATA}/usgsdem/{fname}")).collect()
    a = _band(rows)
    assert G.gdal_checksum(a) == cks


def test_leveller_ter6_33441(spark):
    rows = GM.read_leveller(
        spark, reference_fixture(f"{DATA}/leveller/ter6test.ter")).collect()
    a = _band(rows)
    assert a.dtype == np.float32
    assert G.gdal_checksum(a) == 33441   # autotest leveller.py:41


def test_dipex_fake_1(spark):
    rows = GM.read_dipex(spark, reference_fixture(f"{DATA}/dipex/fakedipex.dat")).collect()
    a = _band(rows)
    assert a.shape == (1, 1)
    assert G.gdal_checksum(a) == 1       # autotest dipex.py:41


def test_ctg_fake_21(spark):
    rows = GM.read_ctg(spark, reference_fixture(f"{DATA}/ctg/fake_grid_cell")).collect()
    assert sorted({r.band for r in rows}) == [1, 2, 3, 4, 5, 6]
    a = _band(rows, band=1)
    assert G.gdal_checksum(a) == 21      # autotest ctg.py:42


def test_nwt_grd_four_bands(spark):
    # autotest/gdrivers/nwt_grd.py:43-49 — shaded RGB + Z checksums
    from gdal_spark import northwood as NW

    rows = NW.read_grd(
        spark, reference_fixture(f"{DATA}/nwt_grd/nwt_grd.grd")).collect()
    expected = {1: 28093, 2: 33690, 3: 20365, 4: 25856}
    for band, cks in expected.items():
        a = _band(rows, band=band)
        assert G.gdal_checksum(a) == cks, band
    z = _band(rows, band=4)
    assert z.dtype == np.float32 and z.shape == (47, 63)


def test_nwt_grc_46760(spark):
    # autotest/gdrivers/nwt_grc.py:41
    from gdal_spark import northwood as NW

    rows = NW.read_grc(
        spark, reference_fixture(f"{DATA}/nwt_grc/nwt_grc.grc")).collect()
    a = _band(rows)
    assert G.gdal_checksum(a) == 46760
