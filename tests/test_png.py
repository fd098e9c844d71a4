"""PNG codec tests — the from-scratch RFC 2083 implementation that
backs the GeoPackage tile reader and the native multimodal image
decode path. Parity anchor: the PNG-encoded byte.tif tile inside
autotest/gdrivers/data/gpkg/byte.gpkg must decode to the canonical
checksum-4672 window."""

import numpy as np
import pytest

from gdal_spark.geomlite import gdal_checksum
from gdal_spark.png import decode_png, encode_png

from .conftest import reference_fixture

BYTE_GPKG = "autotest/gdrivers/data/gpkg/byte.gpkg"


@pytest.mark.parametrize(
    "shape,dtype",
    [
        ((13, 17), np.uint8),
        ((8, 9, 2), np.uint8),
        ((8, 9, 3), np.uint8),
        ((6, 5, 4), np.uint8),
        ((7, 11), np.uint16),
        ((5, 4, 3), np.uint16),
        ((1, 1), np.uint8),
        ((1, 300), np.uint8),
    ],
)
def test_roundtrip(shape, dtype):
    rng = np.random.default_rng(sum(shape))
    a = rng.integers(0, np.iinfo(dtype).max + 1, size=shape).astype(dtype)
    b = decode_png(encode_png(a))
    if a.ndim == 2 and b.ndim == 3:
        b = b[:, :, 0]
    assert b.shape == a.shape and b.dtype == a.dtype
    assert (b == a).all()


def test_roundtrip_constant_and_gradient():
    a = np.full((32, 32), 200, dtype=np.uint8)
    assert (decode_png(encode_png(a)) == a).all()
    g = np.arange(64, dtype=np.uint8).reshape(8, 8)
    assert (decode_png(encode_png(g)) == g).all()


def test_byte_gpkg_tile_checksum_4672():
    """The reference's byte.tif, PNG-encoded inside byte.gpkg by GDAL
    itself (all five scanline filters in play): the 20x20 data window
    checksums to the canonical 4672 (autotest/gcore/tiff_read.py)."""
    import sqlite3

    con = sqlite3.connect(reference_fixture(BYTE_GPKG))
    blob = con.execute("SELECT tile_data FROM byte").fetchone()[0]
    con.close()
    img = decode_png(blob)
    assert img.shape == (256, 256, 2)  # grey + alpha
    assert gdal_checksum(img[:20, :20, 0]) == 4672
    # alpha: opaque over the data window
    assert (img[:20, :20, 1] == 255).all()


def test_decoder_rejects_garbage():
    with pytest.raises(ValueError):
        decode_png(b"not a png at all" * 4)


def test_multimodal_default_decoder_png():
    from gdal_spark.functions.multimodal import default_decoder

    a = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    out = default_decoder(encode_png(a))
    assert out.shape == (4, 4, 3)
    assert (out == a).all()


def test_multimodal_default_decoder_non_png_still_raises():
    from gdal_spark.functions.multimodal import default_decoder

    with pytest.raises(NotImplementedError):
        default_decoder(b"\xff\xd8\xff\xe0 fake jpeg header")
