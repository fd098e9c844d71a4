"""BSB/KAP nautical chart driver vs the reference's own fixtures
(autotest/gdrivers/bsb.py:56-101 — all three rgbsmall variants must
checksum 30321)."""

import numpy as np
import pytest

from gdal_spark import bsb as B
from gdal_spark import geomlite as G

from .conftest import reference_fixture

DATA = "autotest/gdrivers/data/bsb"


def _band(rows, band=1):
    rows = [r for r in rows if r.band == band]
    ntx = max(r.tile_x for r in rows) + 1
    nty = max(r.tile_y for r in rows) + 1
    grid = {(r.tile_x, r.tile_y): np.frombuffer(
        r.data, np.dtype(r.dtype)).reshape(r.height, r.width)
        for r in rows}
    return np.vstack([np.hstack([grid[(tx, ty)] for tx in range(ntx)])
                      for ty in range(nty)])


@pytest.mark.parametrize("fname", [
    "rgbsmall.kap", "rgbsmall_index.kap",
    "rgbsmall_with_line_break.kap"])
def test_bsb_rgbsmall_30321(spark, fname):
    rows = B.read_bsb(spark, reference_fixture(f"{DATA}/{fname}")).collect()
    a = _band(rows)
    assert a.shape == (50, 50)
    assert G.gdal_checksum(a) == 30321

def test_bsb_palette_and_expand(spark):
    pal = B.bsb_palette(reference_fixture(f"{DATA}/rgbsmall.kap"))
    assert len(pal) >= 100 and pal["idx"].iloc[0] == 1
    rows = B.read_bsb(spark, reference_fixture(f"{DATA}/rgbsmall.kap"),
                      expand="rgb").collect()
    assert sorted({r.band for r in rows}) == [1, 2, 3]


def test_bsb_australia4c(spark):
    rows = B.read_bsb(spark, reference_fixture(f"{DATA}/australia4c.kap")).collect()
    assert len(rows) >= 1
