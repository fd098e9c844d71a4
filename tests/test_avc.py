"""AVCE00 reader vs the reference's own fixtures
(autotest/ogr/ogr_avc.py: ARC UserIDs, the float32 first-arc
geometry, compressed rejection, LAB points)."""

import re

import numpy as np
import pytest

from gdal_spark import avc

from .conftest import reference_fixture

DATA = "autotest/ogr/data/avc"


def _nums(wkt):
    return np.array([float(v) for v in
                     re.findall(r"-?\d+\.?\d*(?:[eE][-+]?\d+)?", wkt)])


def test_avc_arcs(spark):
    # autotest ogr_avc.py::check_content
    df = avc.read_avce00(spark, reference_fixture(f"{DATA}/test.e00"))
    arcs = df.filter(df.layer == "ARC").orderBy("fid").collect()
    assert [a.UserID for a in arcs] == ["1", "2", "3", "4", "5",
                                        "6", "7"]
    np.testing.assert_allclose(
        _nums(arcs[0].geom_wkt),
        [340099.875, 4100200.0, 340400.0625, 4100399.5,
         340900.125, 4100200.0, 340700.03125, 4100199.5], atol=0.01)
    labs = df.filter(df.layer == "LAB").collect()
    assert len(labs) == 2


def test_avc_points(spark):
    # autotest ogr_avc.py::test_ogr_avc_4 (testpoint.e00)
    df = avc.read_avce00(spark, reference_fixture(f"{DATA}/testpoint.e00"))
    labs = df.filter(df.layer == "LAB").orderBy("fid").collect()
    assert len(labs) >= 5
    np.testing.assert_allclose(
        _nums(labs[0].geom_wkt)[:2],
        [float(np.float32(5.0494070e6)), float(np.float32(4.4200809e5))],
        atol=0.01)


def test_avc_compressed_rejected():
    # autotest ogr_avc.py::test_ogr_avc_3
    with pytest.raises(ValueError, match="compressed"):
        avc.parse_e00(reference_fixture(f"{DATA}/compressed.e00"))
