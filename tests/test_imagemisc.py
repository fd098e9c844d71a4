"""SGI / Terragen / ILWIS drivers vs the reference's own fixtures
(autotest/gdrivers/sgi.py:41, terragen.py:40, ilwis.py:41)."""

import numpy as np

from gdal_spark import geomlite as G
from gdal_spark import imagemisc as IM

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


def test_sgi_byte_4672(spark):
    rows = IM.read_sgi(spark, reference_fixture(f"{DATA}/sgi/byte.sgi")).collect()
    assert G.gdal_checksum(_band(rows)) == 4672   # autotest sgi.py:41


def test_terragen_float32_1128(spark):
    rows = IM.read_terragen(
        spark, reference_fixture(f"{DATA}/terragen/float32.ter")).collect()
    a = _band(rows)
    assert a.dtype == np.int16
    assert G.gdal_checksum(a) == 1128        # autotest terragen.py:40


def test_ilwis_landuse_2351(spark):
    rows = IM.read_ilwis(
        spark, reference_fixture(f"{DATA}/ilwis/LanduseSmall.mpr")).collect()
    a = _band(rows)
    assert a.shape == (75, 75)
    assert G.gdal_checksum(a) == 2351         # autotest ilwis.py:41
    np.testing.assert_allclose(
        [r for r in rows if (r.tile_x, r.tile_y) == (0, 0)][0]
        .geotransform,
        [795480.0, 20.0, 0.0, 8090520.0, 0.0, -20.0])
