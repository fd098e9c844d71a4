"""VICAR driver vs the reference's own fixtures — the uncompressed
layout/type matrix of autotest/gdrivers/vicar.py:88-101 verbatim."""

import numpy as np
import pytest

from gdal_spark import geomlite as G
from gdal_spark import vicar as VIC

from .conftest import reference_fixture

DATA = "autotest/gdrivers/data/vicar"


CASES = [
    ("vicar_byte", "uint8", 129),
    ("vicar_int16", "int16", 129),
    ("vicar_bigendian_int16", "int16", 129),
    ("vicar_int32", "int32", 129),
    ("vicar_float32_bsq", "float32", 123),
    ("vicar_float32_bil", "float32", 123),
    ("vicar_float32_bip", "float32", 123),
    ("vicar_bigendian_float32", "float32", 129),
    ("vicar_float64", "float64", 129),
    ("vicar_cfloat32", "complex64", 148),
    ("vicar_vax_float32", "float32", 129),
    ("vicar_vax_float64", "float64", 129),
    ("vicar_vax_cfloat32", "complex64", 226),
]


def _band(rows, band=1):
    rows = [r for r in rows if r.band == band]
    ntx = max(r.tile_x for r in rows) + 1
    nty = max(r.tile_y for r in rows) + 1
    grid = {(r.tile_x, r.tile_y): np.frombuffer(
        r.data, np.dtype(r.dtype)).reshape(r.height, r.width)
        for r in rows}
    return np.vstack([np.hstack([grid[(tx, ty)] for tx in range(ntx)])
                      for ty in range(nty)])


@pytest.mark.parametrize("fname,dt,cks", CASES,
                         ids=[c[0] for c in CASES])
def test_vicar_read_datatypes(spark, fname, dt, cks):
    rows = VIC.read_vicar(spark, reference_fixture(f"{DATA}/{fname}.vic")).collect()
    a = _band(rows)
    assert str(a.dtype) == dt
    if np.iscomplexobj(a):
        # GDAL's checksum walks interleaved (re, im) doubles
        a = a.view(np.float32 if a.dtype == np.complex64
                   else np.float64)
    assert G.gdal_checksum(a) == cks


def test_vicar_binary_prefix(spark):
    # NBB prefix bytes strip cleanly (autotest test_vicar_read_binary_prefix)
    rows = VIC.read_vicar(
        spark, reference_fixture(f"{DATA}/vicar_binary_prefix.vic")).collect()
    assert len(rows) >= 1


def test_vicar_basic_compressed_refused():
    with pytest.raises(ValueError, match="COMPRESS"):
        VIC.parse_vicar(reference_fixture(f"{DATA}/vicar_byte_basic.vic"))
