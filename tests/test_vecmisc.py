"""TopoJSON / ARCGEN / GMT vector drivers vs the reference's own
fixtures — the TopoJSON test reproduces the 35-case expected table
of autotest/ogr/ogr_topojson.py verbatim."""

import numpy as np

from gdal_spark import vecmisc as V

from .conftest import reference_fixture

DATA = "autotest/ogr/data"


EXPECTED_TOPO1 = [
    (None, None, "POINT EMPTY"),
    (None, None, "POINT EMPTY"),
    (None, None, "POINT EMPTY"),
    (None, None, "POINT (100 1010)"),
    (None, None, "LINESTRING EMPTY"),
    (None, None, "LINESTRING EMPTY"),
    (None, None, "LINESTRING EMPTY"),
    (None, None, "LINESTRING EMPTY"),
    (None, None, "LINESTRING EMPTY"),
    (None, None, "LINESTRING EMPTY"),
    (None, None, "LINESTRING EMPTY"),
    (None, None, "LINESTRING EMPTY"),
    (None, "0", "LINESTRING EMPTY"),
    (None, "foo", "LINESTRING EMPTY"),
    ("1", None, "LINESTRING (100 1000,110 1000,110 1100)"),
    ("2", None, "LINESTRING (110 1100,110 1000,100 1000)"),
    (None, None, "POLYGON EMPTY"),
    (None, None, "POLYGON EMPTY"),
    (None, None, "POLYGON EMPTY"),
    (None, None, "POLYGON ((100 1000,110 1000,110 1100,100 1100,"
     "100 1000),(101 1010,101 1090,109 1090,109 1010,101 1010))"),
    (None, None, "POLYGON ((110 1100,110 1000,100 1000,100 1100,"
     "110 1100),(101 1010,109 1010,109 1090,101 1090,101 1010))"),
    (None, None, "MULTIPOINT EMPTY"),
    (None, None, "MULTIPOINT EMPTY"),
    (None, None, "MULTIPOINT EMPTY"),
    (None, None, "MULTIPOINT EMPTY"),
    (None, None, "MULTIPOINT (100 1010,101 1020)"),
    (None, None, "MULTIPOLYGON EMPTY"),
    (None, None, "MULTIPOLYGON EMPTY"),
    (None, None, "MULTIPOLYGON EMPTY"),
    (None, None, "MULTIPOLYGON (((110 1100,110 1000,100 1000,"
     "100 1100,110 1100)),((101 1010,109 1010,109 1090,101 1090,"
     "101 1010)))"),
    (None, None, "MULTILINESTRING EMPTY"),
    (None, None, "MULTILINESTRING EMPTY"),
    (None, None, "MULTILINESTRING ((100 1000,110 1000,110 1100))"),
    (None, None, "MULTILINESTRING ((100 1000,110 1000,110 1100,"
     "100 1100,100 1000))"),
    (None, None, "MULTILINESTRING ((100 1000,110 1000,110 1100,"
     "100 1100,100 1000),(101 1010,101 1090,109 1090,109 1010,"
     "101 1010))"),
]


def test_topojson1_full_table(spark):
    df = V.read_topojson(spark, reference_fixture(f"{DATA}/topojson/topojson1.topojson"))
    rows = df.collect()
    a = sorted((r for r in rows if r.layer == "a_layer"),
               key=lambda r: r.fid)
    assert len(a) == 1
    assert a[0].geom_wkt == "LINESTRING (100 1000,110 1000,110 1100)"
    t = sorted((r for r in rows if r.layer == "TopoJSON"),
               key=lambda r: r.fid)
    assert len(t) == len(EXPECTED_TOPO1)
    for i, (eid, ename, ewkt) in enumerate(EXPECTED_TOPO1):
        assert (t[i].id, t[i].name, t[i].geom_wkt) == \
            (eid, ename, ewkt), f"feature {i}"


def test_topojson2_and_3(spark):
    r2 = V.read_topojson(
        spark, reference_fixture(f"{DATA}/topojson/topojson2.topojson")).collect()
    a2 = [r for r in r2 if r.layer == "a_layer"]
    assert a2[0].geom_wkt == \
        "LINESTRING (100 1000,110 1000,110 1100)"
    r3 = V.read_topojson(
        spark, reference_fixture(f"{DATA}/topojson/topojson3.topojson")).collect()
    a3 = [r for r in r3 if r.layer == "a_layer"]
    assert a3[0].geom_wkt == "LINESTRING (0 0,10 0,0 10,10 0,0 0)"


def test_arcgen_all_variants(spark):
    # autotest/ogr/ogr_arcgen.py expected geometries
    got = {f: V.read_arcgen(spark, reference_fixture(f"{DATA}/arcgen/{f}.gen")).collect()
           for f in ("points", "points25d", "lines", "lines25d",
                     "polygons", "polygons25d")}
    assert got["points"][0].geom_wkt == "POINT (2 49)"
    assert got["points25d"][0].geom_wkt == "POINT (2 49 10)"
    # autotest ogr_arcgen.py:108,131 expectations
    assert got["lines"][0].geom_wkt == "LINESTRING (2 49,3 50)"
    assert len(got["lines"]) == 2
    assert got["lines25d"][0].geom_wkt == \
        "LINESTRING (2 49 10,3 50 10)"
    assert got["polygons"][0].geom_wkt == \
        "POLYGON ((2 49,2 50,3 50,3 49,2 49))"
    assert len(got["polygons"]) == 2
    assert got["polygons25d"][0].geom_wkt.startswith("POLYGON ((2 49 10")


def test_gmt_multi(spark):
    df = V.read_gmt(spark, reference_fixture(f"{DATA}/gmt/test_multi.gmt"))
    rows = sorted(df.collect(), key=lambda r: r.fid)
    assert len(rows) == 2
    assert rows[0].id == "1" and rows[0].name == "feature 1"
    assert rows[0].geom_wkt == \
        "MULTILINESTRING ((175 -45,176 -45)," \
        "(180 -45.3,179 -45.4))"
    assert rows[1].name == "feature 2"
    # autotest ogr_gmt.py:134 expectation
    assert rows[1].geom_wkt == \
        "MULTILINESTRING ((175.1 -45,175.2 -45.1)," \
        "(180.1 -45.3,180 -45.2))"


def test_identify_new_formats(spark):
    from gdal_spark.info import identify

    G2 = reference_fixture("autotest/gdrivers/data")
    cases = {
        f"{G2}/hfa/int.img": "HFA",
        f"{G2}/gif/bug407.gif": "GIF",
        f"{G2}/pnm/byte.pgm": "PNM",
        f"{G2}/sgi/byte.sgi": "SGI",
        f"{G2}/terragen/float32.ter": "Terragen",
        f"{G2}/pcraster/ldd.map": "PCRaster",
        f"{G2}/lan/fakelan.lan": "LAN",
        f"{G2}/elas/byte_elas.bin": "ELAS",
        f"{G2}/gxf/small.gxf": "GXF",
        f"{G2}/saga/4byteFloat.sdat": "SAGA",
        f"{G2}/rraster/byte_rraster.grd": "RRASTER",
        f"{G2}/ilwis/LanduseSmall.mpr": "ILWIS",
        f"{G2}/isg/test.isg": "ISG",
        f"{G2}/usgsdem/39079G6_truncated.dem": "USGSDEM",
        reference_fixture(f"{DATA}/topojson/topojson1.topojson"): "TopoJSON",
        reference_fixture(f"{DATA}/gmt/test_multi.gmt"): "GMT",
    }
    got = {r.path: r.driver
           for r in identify(spark, list(cases)).collect()}
    for p, drv in cases.items():
        assert got[p] == drv, (p, got[p])
