"""FITS driver vs the reference's own fixtures and expectations
(autotest/gdrivers/fits.py: test_fits_read_georef_merc gt + WKT,
multi-HDU subdataset listing and metadata merge semantics,
offset/scale keywords; frmts/fits/fitsdataset.cpp Init dtype map)."""

import numpy as np
import pytest

from gdal_spark import fits
from gdal_spark import geomlite as G
from gdal_spark import synth

from .conftest import reference_fixture

DATA = "autotest/gdrivers/data/fits"


_MERC_WKT = (
    'PROJCS["Mercator_Earth",GEOGCS["GCS_Earth",DATUM["D_Earth",'
    'SPHEROID["Earth",6378206.4,294.978698213898]],'
    'PRIMEM["Reference_Meridian",0],UNIT["degree",0.0174532925199433,'
    'AUTHORITY["EPSG","9122"]]],PROJECTION["Mercator_1SP"],'
    'PARAMETER["central_meridian",0],PARAMETER["scale_factor",1],'
    'PARAMETER["false_easting",0],PARAMETER["false_northing",0],'
    'UNIT["metre",1,AUTHORITY["EPSG","9001"]],'
    'AXIS["Easting",EAST],AXIS["Northing",NORTH]]')


def _mosaic(rows, band=1):
    rows = [r for r in rows if r.band == band]
    ntx = max(r.tile_x for r in rows) + 1
    nty = max(r.tile_y for r in rows) + 1
    grid = {(r.tile_x, r.tile_y): np.frombuffer(
        r.data, np.dtype(r.dtype)).reshape(r.height, r.width)
        for r in rows}
    return np.vstack([np.hstack([grid[(tx, ty)] for tx in range(ntx)])
                      for ty in range(nty)])


def test_fits_identify():
    assert fits.identify(reference_fixture(f"{DATA}/byte_merc.fits"))
    assert not fits.identify(
        reference_fixture("autotest/gdrivers/data/byte.tif"))


def test_fits_georef_merc(spark):
    # autotest fits.py::test_fits_read_georef_merc, exact expectations
    info = fits.FitsInfo(reference_fixture(f"{DATA}/byte_merc.fits"), 1)
    assert info.crs == _MERC_WKT
    np.testing.assert_allclose(
        info.geotransform,
        [-13095897.481058259, 72.23522015778646, 0.0,
         3991653.2130816197, 0.0, -72.23522015778646], atol=1e-3)
    rows = fits.read_fits(spark, reference_fixture(f"{DATA}/byte_merc.fits")).collect()
    a = _mosaic(rows)
    assert a.shape == (20, 20)
    # The fixture stores the byte.tif scene in file order (checksum
    # 4672 read naively); the reference reads FITS rows bottom-up
    # (fitsdataset.cpp IReadBlock: file row = nRasterYSize-1-y), so
    # the driver-faithful result is the flipped image.
    assert G.gdal_checksum(np.flipud(a)) == 4672
    assert G.gdal_checksum(a) == 4855
    assert rows[0].nodata == -9999.0           # BLANK keyword


def test_fits_offset_scale_no_georef():
    # autotest fits.py::test_fits_read_offset_scale_no_georef
    info = fits.FitsInfo(reference_fixture(f"{DATA}/offset_scale_no_georef.fits"), 1)
    assert info.offset != 0
    assert info.scale != 1
    assert info.geotransform is None


def test_fits_multi_hdu_subdatasets():
    # autotest fits.py::test_fits_read_image_in_first_and_second_hdu
    p = reference_fixture(f"{DATA}/image_in_first_and_second_hdu.fits")
    subs = fits.fits_subdatasets(p)
    assert [s[1] for s in subs] == [
        "HDU 1 (1x2, 1 band), FIRST_IMAGE", "HDU 2 (1x3, 1 band)"]
    assert fits.fits_metadata(p) == {"EXTNAME": "FIRST_IMAGE"}
    assert fits.fits_metadata(p, hdu=2) == {}
    with pytest.raises(ValueError):
        fits.FitsInfo(p, 3)


def test_fits_image_in_second_hdu_metadata_merge(spark):
    # autotest fits.py::test_fits_read_image_in_second_hdu
    p = reference_fixture(f"{DATA}/image_in_second_hdu.fits")
    assert fits.fits_metadata(p) == {
        "BAR": "BAZ     ", "FOO": "BAR_override", "FOO2": "BAR2    "}
    rows = fits.read_fits(spark, p).collect()
    assert rows[0].width == 1 and sum(r.height for r in rows) == 2


def test_fits_empty_primary_hdu_rejected():
    # autotest fits.py::test_fits_read_empty_primary_hdu
    with pytest.raises(ValueError):
        fits.FitsInfo(reference_fixture(f"{DATA}/empty_primary_hdu.fits"), 1)


def _cast_tiles(tiles, dtype):
    import pandas as pd

    def cast(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["data"] = [
                np.frombuffer(d, np.dtype(t)).astype(dtype).tobytes()
                for d, t in zip(pdf["data"], pdf["dtype"])]
            pdf["dtype"] = dtype
            yield pdf

    return tiles.mapInPandas(cast, schema=tiles.schema)


@pytest.mark.parametrize("dtype", ["uint8", "int16", "uint16", "int32",
                                   "uint32", "float32", "float64"])
def test_fits_roundtrip_types(spark, tmp_path, dtype):
    # autotest fits.py::test_fits type matrix: values preserved
    # (uint16/uint32 exercise the BZERO promotion both ways)
    src = _cast_tiles(synth.tiles_src_df(spark, 2, 2), dtype)
    path = str(tmp_path / f"rt_{dtype}.fits")
    fits.write_fits(src, path)
    assert fits.identify(path)
    back = fits.read_fits(spark, path, raster_id="byte_like",
                          zoom=12).collect()
    want = {(r.tile_x, r.tile_y, r.band): np.frombuffer(
        r.data, np.dtype(r.dtype)).reshape(r.height, r.width)
        for r in src.collect()}
    assert len(back) == len(want)
    for r in back:
        assert r.dtype == dtype
        got = np.frombuffer(r.data, np.dtype(r.dtype)).reshape(
            r.height, r.width)
        np.testing.assert_array_equal(
            got, want[(r.tile_x, r.tile_y, r.band)])
