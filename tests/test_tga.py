"""TGA driver vs the reference's own Truevision reference-suite
fixtures and expected checksums (autotest/gdrivers/tga.py;
frmts/tga/tgadataset.cpp)."""

import numpy as np
import pytest

from gdal_spark import geomlite as G
from gdal_spark import tga

from .conftest import reference_fixture

DATA = "autotest/gdrivers/data/tga"


def _band(rows, band=1):
    rows = [r for r in rows if r.band == band]
    ntx = max(r.tile_x for r in rows) + 1
    nty = max(r.tile_y for r in rows) + 1
    grid = {(r.tile_x, r.tile_y): np.frombuffer(
        r.data, np.dtype(r.dtype)).reshape(r.height, r.width)
        for r in rows}
    return np.vstack([np.hstack([grid[(tx, ty)] for tx in range(ntx)])
                      for ty in range(nty)])


def test_tga_rle_grey(spark):
    # autotest tga.py::test_tga_read_rle_grey_level
    p = reference_fixture(f"{DATA}/ref_test_suite/cbw8.tga")
    assert tga.identify(p)
    info = tga.parse_tga(p)
    assert info["nbands"] == 1 and info["color_table"] is None
    assert info["metadata"]["AUTHOR_NAME"] == "Ricky True"
    assert info["metadata"]["COMMENTS"] == \
        "Sample 8 bit run length compressed black and white image"
    assert info["metadata"]["IMAGE_ID"] == "Truevision(R) Sample Image"
    rows = tga.read_tga(spark, p).collect()
    a = _band(rows)
    assert a.shape == (128, 128)
    assert G.gdal_checksum(a) == 43089


def test_tga_rle_color_table(spark):
    # autotest tga.py::test_tga_read_rle_color_table
    p = reference_fixture(f"{DATA}/ref_test_suite/ccm8.tga")
    info = tga.parse_tga(p)
    ct = info["color_table"]
    assert len(ct) == 256
    assert ct[0] == (0, 0, 0, 255)
    assert ct[1] == (8, 8, 8, 255)
    assert ct[64] == (248, 0, 0, 255)
    a = _band(tga.read_tga(spark, p).collect())
    assert G.gdal_checksum(a) == 38151


@pytest.mark.parametrize("name,sums", [
    ("ctc24", (9797, 9952, 9848)),          # RLE 24-bit
    ("utc24", (9797, 9952, 9848)),          # uncompressed 24-bit
    ("utc16", (64747, 64839, 64796)),       # uncompressed 5-5-5
])
def test_tga_truecolor(spark, name, sums):
    rows = tga.read_tga(
        spark, reference_fixture(f"{DATA}/ref_test_suite/{name}.tga")).collect()
    for b, want in enumerate(sums, start=1):
        assert G.gdal_checksum(_band(rows, b)) == want, (name, b)


def test_tga_uncompressed_grey_and_cmap(spark):
    a = _band(tga.read_tga(
        spark, reference_fixture(f"{DATA}/ref_test_suite/ubw8.tga")).collect())
    assert G.gdal_checksum(a) == 43089
    a = _band(tga.read_tga(
        spark, reference_fixture(f"{DATA}/ref_test_suite/ucm8.tga")).collect())
    assert G.gdal_checksum(a) == 38151


def test_tga_32bit_attribute_type_2(spark):
    # autotest tga.py::test_tga_read_uncompressed_32bit: footer
    # attribute-type 2 keeps the 4th channel but it is NOT alpha
    p = reference_fixture(f"{DATA}/ref_test_suite/utc32.tga")
    info = tga.parse_tga(p)
    assert info["nbands"] == 4 and not info["fourth_is_alpha"]
    rows = tga.read_tga(spark, p).collect()
    for b, want in ((1, 9797), (2, 9952), (3, 9848), (4, 0)):
        assert G.gdal_checksum(_band(rows, b)) == want


def test_tga_32bit_alpha(spark):
    # autotest tga.py::test_tga_read_uncompressed_32bit_alpha
    p = reference_fixture(f"{DATA}/stefan_full_rgba.tga")
    info = tga.parse_tga(p)
    assert (info["width"], info["height"]) == (162, 150)
    assert info["nbands"] == 4 and info["fourth_is_alpha"]
    rows = tga.read_tga(spark, p).collect()
    for b, want in ((1, 12603), (2, 58561), (3, 36064), (4, 10807)):
        assert G.gdal_checksum(_band(rows, b)) == want
