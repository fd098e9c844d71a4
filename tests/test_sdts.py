"""SDTS DEM reader vs the reference's own truncated Alanson cell
(autotest/gdrivers/sdts.py::test_sdts_1: checksum 61672, gt
(666015, 30, 0, 5040735, 0, -30), TITLE metadata)."""

import numpy as np

from gdal_spark import geomlite as G
from gdal_spark import sdts

from .conftest import reference_fixture

CATD = ("autotest/gdrivers/data/"
        "STDS_1107834_truncated/1107CATD.DDF")


def _mosaic(rows):
    ntx = max(r.tile_x for r in rows) + 1
    nty = max(r.tile_y for r in rows) + 1
    grid = {(r.tile_x, r.tile_y): np.frombuffer(
        r.data, np.dtype(r.dtype)).reshape(r.height, r.width)
        for r in rows}
    return np.vstack([np.hstack([grid[(tx, ty)] for tx in range(ntx)])
                      for ty in range(nty)])


def test_sdts_alanson(spark):
    info = sdts.parse_sdts(reference_fixture(CATD))
    assert info["metadata"]["TITLE"] == "ALANSON, MI-24000"
    np.testing.assert_allclose(
        info["geotransform"], [666015, 30, 0, 5040735, 0, -30])
    assert (info["width"], info["height"]) == (339, 25)
    assert info["dtype"] == "int16"
    rows = sdts.read_sdts(spark, reference_fixture(CATD)).collect()
    a = _mosaic(rows)
    assert a.shape == (25, 339)
    assert G.gdal_checksum(a) == 61672   # autotest sdts.py:10
