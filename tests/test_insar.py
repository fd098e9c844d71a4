"""ROI_PAC / ISCE InSAR drivers vs the reference's own fixtures
(autotest/gdrivers/roipac.py:43 -> 64074, isce.py:43 -> 350)."""

import numpy as np

from gdal_spark import geomlite as G
from gdal_spark import insar as I

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


def test_roipac_srtm_dem_64074(spark):
    rows = I.read_roipac(spark, reference_fixture(f"{DATA}/roipac/srtm.dem")).collect()
    a = _band(rows)
    assert a.dtype == np.int16 and a.shape == (10, 12)
    assert G.gdal_checksum(a) == 64074      # autotest roipac.py:43
    np.testing.assert_allclose(
        rows[0].geotransform,
        [-180.0083333, 8.3333333e-03, 0, -59.9916667, 0,
         -8.3333333e-03], rtol=1e-6)
    h = I.parse_roipac(reference_fixture(f"{DATA}/roipac/srtm.dem"))
    assert h["z_scale"] == 2.0              # scale exposed as metadata


def test_isce_slc_350(spark):
    rows = I.read_isce(spark, reference_fixture(f"{DATA}/isce/isce.slc")).collect()
    a = _band(rows)
    assert a.dtype == np.complex64 and a.shape == (10, 12)
    # GDAL's checksum walks interleaved (re, im) components
    assert G.gdal_checksum(a.view(np.float32)) == 350
