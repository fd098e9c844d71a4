"""S-57 ENC reader vs the reference's own 1B5X02NE.000 cell and the
documented autotest expectations (autotest/ogr/ogr_s57.py:
layer/feature counts, COALNE/M_QUAL/SOUNDG attributes + geometry)."""

import re

import numpy as np

from gdal_spark import s57

from .conftest import reference_fixture

DATA = "autotest/ogr/data/s57"
CELL = f"{DATA}/1B5X02NE.000"


_COUNTS = {"COALNE": 1, "DEPARE": 4, "DEPCNT": 4, "LNDARE": 1,
           "LNDELV": 2, "SBDARE": 2, "SLCONS": 1, "SLOTOP": 1,
           "SOUNDG": 2, "M_COVR": 1, "M_NSYS": 1, "M_QUAL": 1}


def _nums(wkt):
    return np.array([float(v) for v in
                     re.findall(r"-?\d+\.?\d*(?:[eE][-+]?\d+)?", wkt)])


def test_s57_layer_counts(spark):
    # autotest ogr_s57.py::test_ogr_s57_check_layers
    df = s57.read_s57(spark, reference_fixture(CELL))
    got = {r["layer"]: r["count"]
           for r in df.groupBy("layer").count().collect()}
    assert got == _COUNTS


def test_s57_coalne(spark):
    # autotest ogr_s57.py::test_ogr_s57_COALNE
    rows = s57.read_s57(spark, reference_fixture(CELL))
    f = rows.filter(rows.layer == "COALNE").collect()[0]
    assert f.RCID == 1
    assert f.LNAM == "FFFF7F4F0FB002D3"
    assert f.OBJL == 30 and f.AGEN == 65535
    want = _nums(
        "60.97683400 -32.49442600,60.97718200 -32.49453800,"
        "60.97742400 -32.49477400,60.97774800 -32.49504000,"
        "60.97791600 -32.49547200,60.97793000 -32.49581800,"
        "60.97794400 -32.49617800,60.97804400 -32.49647600,"
        "60.97800200 -32.49703800,60.97800200 -32.49726600,"
        "60.97805800 -32.49749400,60.97812800 -32.49773200,"
        "60.97827000 -32.49794800,60.97910200 -32.49848600,"
        "60.97942600 -32.49866600")
    np.testing.assert_allclose(_nums(f.geom_wkt), want, atol=1e-8)


def test_s57_soundg(spark):
    # autotest ogr_s57.py::test_ogr_s57_SOUNDG
    rows = s57.read_s57(spark, reference_fixture(CELL))
    f = sorted(rows.filter(rows.layer == "SOUNDG").collect(),
               key=lambda r: r.RCID)[0]
    assert f.RCID == 20 and f.OBJL == 129 and f.AGEN == 65535
    assert f.attributes["QUASOU"] == "1"
    want = _nums(
        "60.98164400 -32.49449000 3.400,"
        "60.98134400 -32.49642400 1.400,"
        "60.97814200 -32.49487400 -3.200,"
        "60.98071200 -32.49519600 1.200")
    np.testing.assert_allclose(_nums(f.geom_wkt), want, atol=1e-8)


def test_s57_m_qual_ring(spark):
    # autotest ogr_s57.py::test_ogr_s57_M_QUAL — same closed ring
    # (compared as a cyclic coordinate multiset; GDAL's edge
    # stitching can start the ring at any shared endpoint)
    rows = s57.read_s57(spark, reference_fixture(CELL))
    f = rows.filter(rows.layer == "M_QUAL").collect()[0]
    assert f.RCID == 15 and f.OBJL == 308 and f.AGEN == 65535
    assert f.geom_wkt.startswith("POLYGON")
    want = _nums(
        "60.97683400 -32.49534000,60.97683400 -32.49762000,"
        "60.97683400 -32.49866600,60.97869000 -32.49866600,"
        "60.97942600 -32.49866600,60.98215200 -32.49866600,"
        "60.98316600 -32.49866600,60.98316600 -32.49755800,"
        "60.98316600 -32.49477000,60.98316600 -32.49350000,"
        "60.98146800 -32.49350000,60.98029800 -32.49350000,"
        "60.97947400 -32.49350000,60.97901600 -32.49350000,"
        "60.97683400 -32.49350000,60.97683400 -32.49442600,"
        "60.97683400 -32.49469800,60.97683400 -32.49534000")
    got = _nums(f.geom_wkt).reshape(-1, 2)
    wantp = want.reshape(-1, 2)
    assert len(got) == len(wantp)
    # closed ring: first == last
    np.testing.assert_allclose(got[0], got[-1])
    got_set = sorted(map(tuple, np.round(got[:-1], 8)))
    want_set = sorted(map(tuple, np.round(wantp[:-1], 8)))
    assert got_set == want_set


def test_s57_dsid():
    info = s57.parse_s57(reference_fixture(CELL))
    assert info["dsid"]["DSNM"] == "1B5X02NE.000"
    assert info["comf"] == 500000.0 and info["somf"] == 10.0


def test_s57_multilinestring(spark):
    # autotest ogr_s57.py::test_ogr_s57_multilinestring (#2147) —
    # disjoint ROADWY edges become MULTILINESTRING parts
    rows = s57.read_s57(spark, reference_fixture(f"{DATA}/bug2147_3R7D0889.000"))
    f = rows.filter(rows.layer == "ROADWY").orderBy("RCID").collect()[0]
    assert f.geom_wkt.startswith("MULTILINESTRING")
    got = f.geom_wkt[len("MULTILINESTRING ("):-1].split("), (")
    assert [p.count(",") + 1 for p in got] == \
        [21, 3, 12, 6, 11, 5, 3, 4]       # the documented part sizes
    np.testing.assert_allclose(
        _nums(got[0])[:6],
        [22.5659615, 44.5541942, 22.5652045, 44.5531651,
         22.5654315, 44.5517774], atol=1e-7)
    np.testing.assert_allclose(
        _nums(got[-1]),
        [22.5093748, 44.5311182, 22.5107969, 44.5285258,
         22.5108905, 44.5267978, 22.5076679, 44.5223309], atol=1e-7)


def test_s57_double_byte_attrs(spark):
    # autotest ogr_s57.py::test_ogr_s57_double_byte_attrs (#1526)
    rows = s57.read_s57(spark, reference_fixture(f"{DATA}/bug1526.000"))
    f = rows.filter(rows.layer == "FOGSIG").collect()[0]
    assert f.attributes["INFORM"] == (
        "During South winds nautophone is not always heard in S "
        "direction from lighthouse")


def test_s57_update_dsid():
    # autotest ogr_s57.py::test_ogr_s57_update_dsid — DSID fields
    info = s57.parse_s57(reference_fixture(f"{DATA}/fake_s57_update_dsid.000"))
    d = info["dsid"]
    assert d["EDTN"] == "0"
    assert d["UPDN"] == "1"
    assert d["UADT"] == "20190211"
    assert d["ISDT"] == "20190212"
