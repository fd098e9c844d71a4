"""Parity with the reference's OWN driver fixtures and expected
checksums: the literal files under autotest/gdrivers/data/ read
through this engine must reproduce the checksums the reference's
test suite asserts (autotest/gdrivers/pnm.py:41-71, gif.py:64)."""

import numpy as np

from gdal_spark import geomlite as G
from gdal_spark import gif as GIF
from gdal_spark import pnm

from .conftest import reference_fixture

DATA = "autotest/gdrivers/data"


def _cks(rows, band=1):
    r = [x for x in rows if x.band == band]
    assert len(r) == 1
    a = np.frombuffer(r[0].data, np.dtype(r[0].dtype)).reshape(
        r[0].height, r[0].width)
    return G.gdal_checksum(a)


def test_pnm_byte_pgm_4672(spark):
    rows = pnm.read_pnm(spark, reference_fixture(f"{DATA}/pnm/byte.pgm")).collect()
    assert _cks(rows) == 4672          # autotest pnm.py:41


def test_pnm_rgbsmall_ppm_band2_21053(spark):
    rows = pnm.read_pnm(spark, reference_fixture(f"{DATA}/pnm/rgbsmall.ppm")).collect()
    assert _cks(rows, band=2) == 21053  # autotest pnm.py:61


def test_gif_bug407_57921(spark):
    rows = GIF.read_gif(spark, reference_fixture(f"{DATA}/gif/bug407.gif")).collect()
    assert _cks(rows) == 57921          # autotest gif.py test_gif_2


def test_gif_byte_with_xmp_extension_blocks(spark):
    # application-extension (XMP) blocks must be skipped cleanly
    rows = GIF.read_gif(spark,
                        reference_fixture(f"{DATA}/gif/byte_with_xmp.gif")).collect()
    assert len(rows) == 1 and _cks(rows) == 4672
