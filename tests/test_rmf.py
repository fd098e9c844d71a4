"""RMF (.rsw/.mtw) reader vs the reference's own fixtures and
documented checksums (autotest/gdrivers/rmf.py tests 1/3/4/12/13)."""

import numpy as np
import pytest

from gdal_spark import geomlite as G
from gdal_spark import rmf

from .conftest import reference_fixture

DATA = "autotest/gdrivers/data/rmf"


def _band(rows, band=1):
    rows = [r for r in rows if r.band == band]
    ntx = max(r.tile_x for r in rows) + 1
    nty = max(r.tile_y for r in rows) + 1
    grid = {(r.tile_x, r.tile_y): np.frombuffer(
        r.data, np.dtype(r.dtype)).reshape(r.height, r.width)
        for r in rows}
    return np.vstack([np.hstack([grid[(tx, ty)] for tx in range(ntx)])
                      for ty in range(nty)])


def test_rmf_byte(spark):
    p = reference_fixture(f"{DATA}/byte.rsw")
    assert rmf.identify(p)
    info = rmf.parse_rmf(p)
    np.testing.assert_allclose(info["geotransform"],
                               [440720, 60, 0, 3751320, 0, -60])
    rows = rmf.read_rmf(spark, p).collect()
    assert G.gdal_checksum(_band(rows)) == 4672


def test_rmf_mtw_float64(spark):
    rows = rmf.read_rmf(spark, reference_fixture(f"{DATA}/float64.mtw")).collect()
    assert rows[0].dtype == "float64"
    assert G.gdal_checksum(_band(rows)) == 4672


def test_rmf_rgbsmall(spark):
    rows = rmf.read_rmf(spark, reference_fixture(f"{DATA}/rgbsmall.rsw")).collect()
    for b, want in ((1, 21212), (2, 21053), (3, 21349)):
        assert G.gdal_checksum(_band(rows, b)) == want, b


def test_rmf_1bit(spark):
    rows = rmf.read_rmf(spark, reference_fixture(f"{DATA}/1bit.rsw")).collect()
    assert G.gdal_checksum(_band(rows)) == 34325


def test_rmf_4bit(spark):
    rows = rmf.read_rmf(spark, reference_fixture(f"{DATA}/4bit.rsw")).collect()
    assert G.gdal_checksum(_band(rows)) == 55221


def test_rmf_lzw_rejected(spark):
    # compressed tiles are a documented gap: read_rmf refuses
    info = rmf.parse_rmf(reference_fixture(f"{DATA}/byte-lzw.rsw"))
    assert info["compression"] != 0
    with pytest.raises(ValueError, match="compression"):
        rmf.read_rmf(spark, reference_fixture(f"{DATA}/byte-lzw.rsw"))
