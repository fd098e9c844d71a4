"""MapInfo TAB binary reader vs the reference's own fixtures:
all_geoms.tab against all_geoms.mif.golden.csv (the oracle of
autotest/ogr/ogr_mitab.py::test_ogr_mitab_41, geometry compared the
way ogrtest.check_feature_geometry does — numerically), plus
poly_indexed.tab attribute filtering (::test_ogr_mitab_47)."""

import csv
import re

import numpy as np

from gdal_spark import tab

from .conftest import reference_fixture

DATA = "autotest/ogr/data/mitab"


def _nums(wkt: str) -> np.ndarray:
    return np.array([float(v) for v in
                     re.findall(r"-?\d+\.?\d*(?:[eE][-+]?\d+)?", wkt)])


def _kind(wkt: str) -> str:
    return re.match(r"[A-Z]+", wkt.strip()).group(0)


def _golden():
    with open(reference_fixture(f"{DATA}/all_geoms.mif.golden.csv")) as f:
        return [row["WKT"] for row in csv.DictReader(f)]


def test_tab_all_geoms_vs_golden(spark):
    rows = tab.read_tab(
        spark, reference_fixture(f"{DATA}/all_geoms.tab")).orderBy("fid").collect()
    golden = _golden()
    assert len(rows) == len(golden) == 16
    for r, want in zip(rows, golden):
        assert r.geom_wkt is not None, r.fid
        assert _kind(r.geom_wkt) == _kind(want), r.fid
        got_n, want_n = _nums(r.geom_wkt), _nums(want)
        assert len(got_n) == len(want_n), r.fid
        np.testing.assert_allclose(got_n, want_n, atol=1e-9,
                                   err_msg=f"fid {r.fid}")


def test_tab_identify():
    assert tab.identify(reference_fixture(f"{DATA}/all_geoms.tab"))
    assert not tab.identify(reference_fixture(f"{DATA}/all_geoms.map"))


def test_tab_poly_indexed_attributes(spark):
    # autotest ogr_mitab.py::test_ogr_mitab_47 (sans the .ind file:
    # the filter is evaluated by Spark, not the B-tree index)
    df = tab.read_tab(spark, reference_fixture(f"{DATA}/poly_indexed.tab"))
    assert df.filter(df.PRFEDEA == "35043413").count() == 1
    rows = df.orderBy("fid").collect()
    assert len(rows) == 10
    assert all(r.geom_wkt.startswith("POLYGON") for r in rows)


def test_tab_first_table_types(spark):
    df = tab.read_tab(spark, reference_fixture(f"{DATA}/first_table.tab"))
    assert dict(df.dtypes)["joint_field"] == "int"
    assert dict(df.dtypes)["foo"] == "string"
    rows = df.collect()
    assert len(rows) == 1
    assert isinstance(rows[0].joint_field, int)


def test_tab_lambert93_empty_table(spark):
    # 0-record table with uppercase sidecar names: the scan yields an
    # empty frame with the declared schema and the .map header parses
    df = tab.read_tab(spark, reference_fixture(f"{DATA}/lambert93_francais.TAB"))
    assert df.count() == 0
    assert "foo" in df.columns
    mf = tab.MapFile(reference_fixture(f"{DATA}/lambert93_francais.MAP"))
    assert mf.block_size == 512
