"""FAST driver vs the reference's own fixtures and expectations
(autotest/gdrivers/fast.py tests 2-8: window checksums,
geotransforms incl. the rotated IRS least-squares fits, Euromap
channel-name conventions, GAIN/BIAS metadata)."""

import numpy as np

from gdal_spark import fast
from gdal_spark import geomlite as G

from .conftest import reference_fixture

DATA = "autotest/gdrivers/data/fast"


def _row0(rows, band, n):
    rows = [r for r in rows if r.band == band and r.tile_y == 0]
    rows.sort(key=lambda r: r.tile_x)
    full = np.hstack([np.frombuffer(r.data, np.dtype(r.dtype))
                      .reshape(r.height, r.width)[:1, :] for r in rows])
    return full[:, :n]


def _gt_close(got, want):
    eps = (abs(want[1]) + abs(want[2])) / 100.0
    for g, w in zip(got, want):
        assert abs(g - w) <= eps, (got, want)


def test_fast_l7_pan(spark):
    # autotest fast.py::test_fast_2/3/4
    p = reference_fixture(f"{DATA}/L71118038_03820020111_HPN.FST")
    info = fast.parse_fast(p)
    md = info["metadata"]
    assert md["ACQUISITION_DATE"] == "20020111"
    assert md["SATELLITE"] == "LANDSAT7"
    assert md["SENSOR"] == "ETM+"
    assert abs(float(md["GAIN1"]) - -6.199999809265137) < 1e-4
    assert abs(float(md["BIAS1"]) - 0.775686297697179) < 1e-4
    np.testing.assert_allclose(
        info["geotransform"],
        [280342.5, 15.0, 0.0, 3621457.5, 0.0, -15.0], atol=0.01)
    rows = fast.read_fast(spark, p, tile_px=8192).collect()
    assert G.gdal_checksum(_row0(rows, 1, 5000)) == 60323


def test_fast_l7_thermal(spark):
    # autotest fast.py::test_fast_5 — band 2 (B62), zone-stripped gt
    p = reference_fixture(f"{DATA}/L71230079_07920021111_HTM.FST")
    info = fast.parse_fast(p)
    assert len(info["bands"]) == 2
    _gt_close(info["geotransform"],
              (528417.25, 30.0, 0.0, 7071187.0, 0.0, -30.0))
    rows = fast.read_fast(spark, p, tile_px=8192).collect()
    assert G.gdal_checksum(_row0(rows, 2, 7000)) == 19110


def test_fast_euromap_liss3():
    # autotest fast.py::test_fast_6 — rotated least-squares gt
    info = fast.parse_fast(reference_fixture(f"{DATA}/n0o0y867.0fl"))
    assert info["width"] == 2741
    assert [b[-1] for b in info["bands"]] == ["m", "n", "o", "p"]
    _gt_close(info["geotransform"],
              (14640936.89174916, 1.008817518246492, 24.9876841746236,
               664274.3912497687, 24.98828832116786,
               -0.9907878581173808))


def test_fast_euromap_pan():
    # autotest fast.py::test_fast_7
    info = fast.parse_fast(reference_fixture(f"{DATA}/h0o0y867.1ah"))
    assert info["width"] == 5815
    assert info["bands"][0].endswith("1a7")
    _gt_close(info["geotransform"],
              (676565.09, 5, 0, 5348341.5, 0, -5))


def test_fast_euromap_wifs():
    # autotest fast.py::test_fast_8
    info = fast.parse_fast(reference_fixture(f"{DATA}/w0y13a4t.010"))
    assert info["width"] == 4748
    assert len(info["bands"]) == 2
    _gt_close(info["geotransform"],
              (-336965.0150603952, 176.0817495260164,
               -37.35662873563219, 484122.7765089957,
               -37.35622603749736, -176.081791954023))
