"""DGN v7 reader vs the reference's own smalltest.dgn expectations
(autotest/ogr/ogr_dgn.py tests 2-4; ogr/ogrsf_frmts/dgn/)."""

import re

import numpy as np

from gdal_spark import dgn

from .conftest import reference_fixture

DATA = "autotest/ogr/data/dgn"


def _nums(wkt):
    return np.array([float(v) for v in
                     re.findall(r"-?\d+\.?\d*(?:[eE][-+]?\d+)?", wkt)])


def test_dgn_text_feature(spark):
    # autotest ogr_dgn.py::test_ogr_dgn_2
    rows = dgn.read_dgn(
        spark, reference_fixture(f"{DATA}/smalltest.dgn")).orderBy("fid").collect()
    f = rows[0]
    assert f.Type == 17 and f.Level == 1
    assert f.Text == "Demo Text"
    np.testing.assert_allclose(_nums(f.geom_wkt), [0.7365, 4.2198],
                               atol=1e-8)


def test_dgn_circle(spark):
    # autotest ogr_dgn.py::test_ogr_dgn_3 — ellipse strokes to a
    # LINESTRING with >= 15 points and the documented envelope
    rows = dgn.read_dgn(
        spark, reference_fixture(f"{DATA}/smalltest.dgn")).orderBy("fid").collect()
    f = rows[1]
    assert f.Type == 15 and f.Level == 2
    assert f.geom_wkt.startswith("LINESTRING")
    pts = _nums(f.geom_wkt).reshape(-1, 2)
    assert len(pts) >= 15
    xs, ys = pts[:, 0], pts[:, 1]
    assert 0.328593 <= xs.min() <= 0.328594
    assert 9.68780 <= xs.max() <= 9.68781
    assert -0.09611 <= ys.min() <= -0.09610
    assert 9.26310 <= ys.max() <= 9.26311


def test_dgn_shape(spark):
    # autotest ogr_dgn.py::test_ogr_dgn_4
    rows = dgn.read_dgn(
        spark, reference_fixture(f"{DATA}/smalltest.dgn")).orderBy("fid").collect()
    f = rows[2]
    assert f.Type == 6 and f.Level == 2 and f.ColorIndex == 83
    want = _nums(
        "4.53550000 3.31700000,4.38320000 2.65170000,"
        "4.94410000 2.52350000,4.83200000 3.33310000,"
        "4.53550000 3.31700000")
    np.testing.assert_allclose(_nums(f.geom_wkt), want, atol=1e-8)


def test_dgn_identify():
    assert dgn.identify(reference_fixture(f"{DATA}/smalltest.dgn"))
    assert not dgn.identify(
        reference_fixture("autotest/gcore/data/byte.tif"))
