"""OGR CSV driver tests — autodetect promotion lattice, .csvt types,
geometry discovery (WKT header / possible names / X-Y points), 1-based
FIDs, writer roundtrip. Reference: ogr/ogrsf_frmts/csv/ogrcsvlayer.cpp
(AutodetectFieldTypes :1050, Matches :281, geometry discovery :608);
autotest/ogr/ogr_csv.py exercises the same surfaces."""

import os

import pytest

from gdal_spark import csvdrv


def _write(tmp, name, text):
    p = os.path.join(tmp, name)
    with open(p, "w") as f:
        f.write(text)
    return p


@pytest.fixture(scope="module")
def tmp(tmp_path_factory):
    yield str(tmp_path_factory.mktemp("csv"))


def test_autodetect_lattice(spark, tmp):
    p = _write(tmp, "t1.csv",
               "a,b,c,d,e,f,g\n"
               "1,1,1.5,2021-01-02,2021-01-02 03:04:05,yes,x\n"
               "2147483648,2,2,2021/03/04,2021-03-04T05:06:07,no,1\n")
    df = csvdrv.read_csv_layer(spark, p, autodetect_type=True, with_fid=False)
    t = dict(df.dtypes)
    assert t["a"] == "bigint"     # Integer + Integer64 -> Integer64
    assert t["b"] == "int"        # all int32
    assert t["c"] == "double"     # Real + Integer -> Real
    assert t["d"] == "date"
    assert t["e"] == "timestamp"  # DateTime (both separators/T forms)
    assert t["f"] == "boolean"    # all boolean-strings
    assert t["g"] == "string"     # bool mixed with int -> String
    rows = {r.b: r for r in df.collect()}
    assert rows[1].a == 1 and rows[2].a == 2147483648
    assert rows[1].f is True and rows[2].f is False
    assert str(rows[2].d) == "2021-03-04"


def test_mixed_date_time_to_string(spark, tmp):
    p = _write(tmp, "t2.csv", "a,b\n03:04:05,2020-01-01\n2020-01-01,03:04:05\n")
    types = csvdrv.autodetect_field_types(
        spark.read.option("header", True).csv(p))
    assert types == {"a": "String", "b": "String"}


def test_default_all_strings(spark, tmp):
    p = _write(tmp, "t3.csv", "a,b\n1,2.5\n")
    df = csvdrv.read_csv_layer(spark, p, with_fid=False)
    assert dict(df.dtypes) == {"a": "string", "b": "string"}


def test_csvt_overrides(spark, tmp):
    p = _write(tmp, "t4.csv", "a,b,wkb_geom\n1,x,POINT (1 2)\n")
    df = csvdrv.read_csv_layer(
        spark, p, field_types='Integer,"String(20)",WKT', with_fid=False)
    t = dict(df.dtypes)
    assert t["a"] == "int" and t["b"] == "string"
    [r] = df.collect()
    assert r.geom_wkt == "POINT (1 2)"


def test_wkt_header_and_fid(spark, tmp):
    p = _write(tmp, "t5.csv",
               "WKT,name\n\"POINT (0 0)\",a\n\"POINT (1 1)\",b\n\"POINT (2 2)\",c\n")
    df = csvdrv.read_csv_layer(spark, p)
    rows = sorted(df.collect(), key=lambda r: r.fid)
    assert [r.fid for r in rows] == [1, 2, 3]  # 1-based (ogr_csv.h nNextFID=1)
    assert rows[0].geom_wkt == "POINT (0 0)" and rows[2].name == "c"
    assert df.columns[0] == "fid" and df.columns[1] == "geom_wkt"


def test_xy_possible_names(spark, tmp):
    p = _write(tmp, "t6.csv", "id,my_lon,my_lat\n1,10.5,20.25\n2,,3\n")
    df = csvdrv.read_csv_layer(
        spark, p, x_possible_names=["*lon*"], y_possible_names=["*lat*"],
        with_fid=False)
    rows = {r.id: r for r in df.collect()}
    assert rows["1"].geom_wkt == "POINT (10.5 20.25)"
    assert rows["2"].geom_wkt is None  # missing X -> no geometry
    assert dict(df.dtypes)["my_lon"] == "double"


def test_matches_patterns():
    m = csvdrv._matches
    assert m("Longitude", ["lon*"]) and m("x", ["x"]) and m("POINT_X", ["*_x"])
    assert m("the_lon_col", ["*lon*"])
    assert not m("latitude", ["lon*"])


def test_geom_possible_names(spark, tmp):
    p = _write(tmp, "t7.csv", 'id,the_geom\n1,"LINESTRING (0 0, 1 1)"\n')
    df = csvdrv.read_csv_layer(
        spark, p, geom_possible_names=["the_geom"], with_fid=False)
    [r] = df.collect()
    assert r.geom_wkt == "LINESTRING (0 0, 1 1)"
    assert "the_geom" in df.columns  # KEEP_GEOM_COLUMNS default YES
    df2 = csvdrv.read_csv_layer(
        spark, p, geom_possible_names=["the_geom"], keep_geom_columns=False,
        with_fid=False)
    assert "the_geom" not in df2.columns and "geom_wkt" in df2.columns


def test_writer_roundtrip_single_file(spark, tmp):
    p = _write(tmp, "t8.csv",
               "WKT,name,v\n\"POINT (0 0)\",a,1\n\"POINT (1 1)\",b,2\n")
    df = csvdrv.read_csv_layer(spark, p, autodetect_type=True)
    out = os.path.join(tmp, "out", "rt.csv")
    csvdrv.write_csv_layer(df.drop("WKT"), out, single_file=True,
                           create_csvt=True)
    back = csvdrv.read_csv_layer(spark, out, autodetect_type=True)
    rows = sorted(back.collect(), key=lambda r: r.fid)
    assert [(r.geom_wkt, r.name, r.v) for r in rows] == [
        ("POINT (0 0)", "a", 1), ("POINT (1 1)", "b", 2)]
    with open(os.path.join(tmp, "out", "rt.csvt")) as f:
        assert f.read().strip() == "String,Integer"


def test_writer_directory_mode(spark, tmp):
    p = _write(tmp, "t9.csv", "a,b\n1,x\n2,y\n3,z\n")
    df = csvdrv.read_csv_layer(spark, p, autodetect_type=True, with_fid=False)
    out = os.path.join(tmp, "dirout")
    csvdrv.write_csv_layer(df, out)
    back = csvdrv.read_csv_layer(spark, out, autodetect_type=True,
                                 with_fid=False)
    assert sorted((r.a, r.b) for r in back.collect()) == [
        (1, "x"), (2, "y"), (3, "z")]


def test_csvt_mismatch_raises(spark, tmp):
    p = _write(tmp, "t10.csv", "a,b\n1,2\n")
    with pytest.raises(ValueError, match="2 columns"):
        csvdrv.read_csv_layer(spark, p, field_types="Integer")


def test_header_whitespace_trim(spark, tmp):
    p = _write(tmp, "t11.csv", "a , b\n1,2\n")
    df = csvdrv.read_csv_layer(spark, p, with_fid=False)
    assert df.columns == ["a", "b"]


def test_semicolon_delimiter(spark, tmp):
    p = _write(tmp, "t12.csv", "a;b\n1;x\n")
    df = csvdrv.read_csv_layer(spark, p, delimiter=";", autodetect_type=True,
                               with_fid=False)
    [r] = df.collect()
    assert r.a == 1 and r.b == "x"
