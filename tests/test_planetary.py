"""PDS3 / ISIS2 / ISIS3 drivers vs the reference's own fixtures and
expected checksums/geotransforms (autotest/gdrivers/pds.py, isis2.py,
isis.py; frmts/pds/*.cpp). gdaltest's gt tolerance is
(|gt1|+|gt2|)/100 — mirrored here."""

import numpy as np

from gdal_spark import geomlite as G
from gdal_spark import planetary as P

from .conftest import reference_fixture

DATA = "autotest/gdrivers/data"


def _mosaic(rows, band=1):
    rows = [r for r in rows if r.band == band]
    ntx = max(r.tile_x for r in rows) + 1
    nty = max(r.tile_y for r in rows) + 1
    grid = {(r.tile_x, r.tile_y): np.frombuffer(
        r.data, np.dtype(r.dtype)).reshape(r.height, r.width)
        for r in rows}
    return np.vstack([np.hstack([grid[(tx, ty)] for tx in range(ntx)])
                      for ty in range(nty)])


def _gt_close(got, want):
    eps = (abs(want[1]) + abs(want[2])) / 100.0
    for g, w in zip(got, want):
        assert abs(g - w) <= eps, (got, want)


def test_pds_mc02(spark):
    # autotest pds.py::test_pds_1
    p = reference_fixture(f"{DATA}/pds/mc02_truncated.img")
    rows = P.read_pds(spark, p, sample_shift=-0.5,
                      line_shift=-0.5).collect()
    a = _mosaic(rows)
    assert G.gdal_checksum(a) == 47151
    _gt_close(rows[0].geotransform[:2] + [0.0] +
              [rows[0].geotransform[3], 0.0, rows[0].geotransform[5]],
              (-10668384.903788566589355, 926.115274429321289, 0,
               3852176.483988761901855, 0, -926.115274429321289))
    assert rows[0].crs.startswith(
        'PROJCS["SIMPLE_CYLINDRICAL MARS",GEOGCS["GCS_MARS",'
        'DATUM["D_MARS",SPHEROID[')


def test_pds_fl73n003(spark):
    # autotest pds.py::test_pds_2
    p = reference_fixture(f"{DATA}/pds/fl73n003_truncated.img")
    info = P.parse_pds(p, sample_shift=-0.5, line_shift=-0.5)
    assert info["nodata"] == 7
    assert info["scale"] == 0.2
    assert info["offset"] == -20.2
    _gt_close(info["geotransform"],
              (587861.55900404998, 75.000002980232239, 0.0,
               -7815243.4746123618, 0.0, -75.000002980232239))
    assert info["crs"].startswith(
        'PROJCS["SINUSOIDAL VENUS",GEOGCS["GCS_VENUS"')
    rows = P.read_pds(spark, p).collect()
    assert G.gdal_checksum(_mosaic(rows)) == 34962
    # MISSING_CONSTANT variant (gdal #3939)
    alt = P.parse_pds(reference_fixture(f"{DATA}/pds/fl73n003_alt_truncated.img"))
    assert alt["nodata"] == 7


def test_pds_16bit(spark):
    # autotest pds.py::test_pds_3
    p = reference_fixture(f"{DATA}/pds/EN0001426030M_truncated.IMG")
    info = P.parse_pds(p)
    assert info["dtype"] == "uint16" and info["nodata"] == 0
    rows = P.read_pds(spark, p).collect()
    assert G.gdal_checksum(_mosaic(rows)) == 1367


def test_pds_detached_offset(spark):
    # autotest pds.py::test_pds_4 (#3177) and test_pds_5 (#3355)
    p = reference_fixture(f"{DATA}/pds/pds_3177.lbl")
    info = P.parse_pds(p, sample_shift=-0.5, line_shift=-0.5)
    np.testing.assert_allclose(
        info["geotransform"],
        [6119184.3590369327, 1.0113804322107001, 0.0,
         -549696.39009125973, 0.0, -1.0113804322107001], rtol=1e-12)
    rows = P.read_pds(spark, p).collect()
    assert G.gdal_checksum(_mosaic(rows)) == 3418
    rows = P.read_pds(spark, reference_fixture(f"{DATA}/pds/pds_3355.lbl")).collect()
    assert G.gdal_checksum(_mosaic(rows)) == 2748


def test_pds_geotiff_backed(spark):
    # autotest pds.py::test_pds_6 — PDS label over a detached TIFF
    p = reference_fixture(f"{DATA}/pds/ESP_013951_1955_RED.LBL")
    rows = P.read_pds(spark, p, sample_shift=-0.5,
                      line_shift=-0.5).collect()
    assert G.gdal_checksum(_mosaic(rows)) == 4672
    _gt_close(rows[0].geotransform,
              (-6139197.5, 0.5, 0.0, 936003.0, 0.0, -0.5))
    info = P.parse_pds(p)
    assert info["crs"].startswith(
        'PROJCS["EQUIRECTANGULAR MARS",GEOGCS["GCS_MARS",'
        'DATUM["D_MARS",SPHEROID["MARS_localRadius",3394839.8133163,0]]')


def test_isis2_arvidson(spark):
    # autotest isis2.py::test_isis2_1
    p = reference_fixture(f"{DATA}/isis2/arvidson_original_truncated.cub")
    rows = P.read_isis2(spark, p).collect()
    assert G.gdal_checksum(_mosaic(rows)) == 382
    _gt_close(rows[0].geotransform,
              (10157400.403618813, 1200.0000476837158, 0.0,
               -585000.02324581146, 0.0, -1200.0000476837158))
    assert rows[0].crs.startswith(
        'PROJCS["SIMPLE_CYLINDRICAL VENUS",GEOGCS["GCS_VENUS",'
        'DATUM["D_VENUS",SPHEROID["VENUS",6051000,0]]')


def test_isis3_detached(spark):
    # autotest isis.py::test_isis_2
    rows = P.read_isis3(
        spark, reference_fixture(f"{DATA}/isis3/isis3_detached.lbl")).collect()
    assert G.gdal_checksum(_mosaic(rows)) == 9978


def test_isis3_tiled(spark):
    # autotest isis.py::test_isis_3 (isis3_unit_test.cub, Tile format)
    rows = P.read_isis3(
        spark, reference_fixture(f"{DATA}/isis3/isis3_unit_test.cub")).collect()
    assert G.gdal_checksum(_mosaic(rows)) == 42403


def test_isis3_geotiff_backed(spark):
    # autotest isis.py::test_isis_4 (Format = GeoTIFF)
    rows = P.read_isis3(
        spark, reference_fixture(f"{DATA}/isis3/isis3_geotiff.lbl")).collect()
    assert G.gdal_checksum(_mosaic(rows)) == 9978
