"""NITF reader vs the reference's own fixtures and expectations
(autotest/gdrivers/nitf.py: rgb.ntf checksum/gt, fake_nsif BLOCKA
metadata + checksum, i_3034c 1-bit checksum)."""

import numpy as np

from gdal_spark import geomlite as G
from gdal_spark import nitf

from .conftest import reference_fixture

DATA = "autotest/gdrivers/data/nitf"


def _band(rows, band=1):
    rows = [r for r in rows if r.band == band]
    ntx = max(r.tile_x for r in rows) + 1
    nty = max(r.tile_y for r in rows) + 1
    grid = {(r.tile_x, r.tile_y): np.frombuffer(
        r.data, np.dtype(r.dtype)).reshape(r.height, r.width)
        for r in rows}
    return np.vstack([np.hstack([grid[(tx, ty)] for tx in range(ntx)])
                      for ty in range(nty)])


def test_nitf_rgb(spark):
    # autotest nitf.py::test_nitf_6
    p = reference_fixture(f"{DATA}/rgb.ntf")
    assert nitf.identify(p)
    info = nitf.parse_nitf(p)
    gt = nitf.image_geotransform(info["images"][0])
    np.testing.assert_allclose(
        [gt[0], gt[1], gt[3], gt[5]],
        [-44.842029478458, 0.003503401360,
         -22.930748299319, -0.003503401360], atol=1e-10)
    rows = nitf.read_nitf(spark, p).collect()
    assert G.gdal_checksum(_band(rows, 3)) == 21349


def test_nitf_nsif_blocka(spark):
    # autotest nitf.py::test_nitf_8
    p = reference_fixture(f"{DATA}/fake_nsif.ntf")
    info = nitf.parse_nitf(p)
    md = info["metadata"]
    assert md["NITF_FHDR"] == "NSIF01.00"
    assert md["NITF_BLOCKA_BLOCK_INSTANCE_01"] == "01"
    assert md["NITF_BLOCKA_BLOCK_COUNT"] == "01"
    assert md["NITF_BLOCKA_N_GRAY_01"] == "00000"
    assert md["NITF_BLOCKA_L_LINES_01"] == "01000"
    assert md["NITF_BLOCKA_FRLC_LOC_01"] == "+41.319331+020.078400"
    assert md["NITF_BLOCKA_FRFC_LOC_01"] == "+41.283881+020.074924"
    rows = nitf.read_nitf(spark, p).collect()
    assert G.gdal_checksum(_band(rows, 1)) == 12033


def test_nitf_1bit(spark):
    # autotest nitf.py::test_nitf_11 (i_3034c.ntf)
    rows = nitf.read_nitf(spark, reference_fixture(f"{DATA}/i_3034c.ntf")).collect()
    a = _band(rows, 1)
    assert a.shape == (18, 35)
    assert G.gdal_checksum(a) == 170
