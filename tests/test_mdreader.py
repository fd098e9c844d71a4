"""Fork satellite metadata readers (gcore/mdreader/reader_gaofen.cpp,
reader_tianhui.cpp, reader_triplesat.cpp, reader_ziyuan.cpp) plus the
shared RPB/_rpc.txt loaders (gdal_mdreader.cpp:540,612) and
ReadXMLToList flattening (:341)."""

import os

import numpy as np
import pytest

from gdal_spark import mdreader, synth


@pytest.fixture(scope="module")
def tmp(tmp_path_factory):
    yield str(tmp_path_factory.mktemp("md"))


def test_flatten_xml_dotted_and_duplicate_runs():
    md = mdreader.flatten_xml(
        "<Root><A><B>1</B><B>2</B><B>3</B><C>x</C></A>"
        "<D attr=\"v\"><E>y</E></D></Root>")
    # a run of k same-named siblings gets _1.._k (gdal_mdreader.cpp
    # :362-415); singletons keep their bare name
    assert md["A.B_1"] == "1" and md["A.B_2"] == "2" and md["A.B_3"] == "3"
    assert md["A.C"] == "x"
    assert md["D.E"] == "y"
    assert md["D.attr"] == "v"


def test_load_rpb_and_rpc_txt_agree(tmp):
    p = synth.write_scene_fixture(tmp, 0)      # GaoFen -> .rpb
    q = synth.write_scene_fixture(tmp, 2)      # TripleSat -> _rpc.txt
    a = mdreader.read_scene(p)["rpc"]
    b = mdreader.read_scene(q)["rpc"]
    # both loaders normalize to the same RPC domain keys
    assert set(a) == set(b)
    assert [float(t) for t in a["LINE_NUM_COEFF"].split()] == \
        [float(t) for t in b["LINE_NUM_COEFF"].split()]
    assert float(a["LONG_SCALE"]) == 10.0


def test_rpb_missing_field_raises():
    with pytest.raises(ValueError, match="lineOffset"):
        mdreader.load_rpb_file(
            "BEGIN_GROUP = IMAGE\n\tsampOffset = 1.0;\nEND_GROUP = IMAGE\n")


def test_cloudcover_na_clamp(tmp):
    # scene 8 has cloud 104 -> '999' (MD_CLOUDCOVER_NA, the >= 99 rule)
    sc = mdreader.read_scene(synth.write_scene_fixture(tmp, 8))
    assert sc["imagery"]["CLOUDCOVER"] == "999"
    sc2 = mdreader.read_scene(synth.write_scene_fixture(tmp, 1))
    assert sc2["imagery"]["CLOUDCOVER"] == "13"


def test_dispatch_all_families(tmp):
    kinds = [mdreader.read_scene(synth.write_scene_fixture(tmp, i))
             ["md_type"] for i in range(5)]
    assert kinds == ["GaoFen", "TianHui", "TripleSat", "ZiYuan02C",
                     "ZiYuan"]


def test_unclaimed_scene_returns_none(tmp):
    p = os.path.join(tmp, "plain.tiff")
    with open(p + ".xml", "w") as f:   # XML but no sidecar RPC source
        f.write("<ProductMetaData><SatelliteID>GF2</SatelliteID>"
                "</ProductMetaData>")
    assert mdreader.read_scene(p) is None


def test_triplesat_quoted_receivetime(tmp):
    sc = mdreader.read_scene(synth.write_scene_fixture(tmp, 2))
    # CPLStripQuotes path (reader_triplesat.cpp:164)
    assert sc["imagery"]["ACQUISITIONDATETIME"] == "2017-03-07 02:14:22"


def test_rpc_transformer_bridge(tmp):
    sc = mdreader.read_scene(synth.write_scene_fixture(tmp, 2))
    t = mdreader.rpc_transformer_from_md(sc["rpc"])
    px, ln = t.forward_np(np.array([110.0]), np.array([30.0]), 500.0)
    # at the offsets, all normalized terms are 0 -> ratio = c0/c0
    c_line = [float(v) for v in sc["rpc"]["LINE_NUM_COEFF"].split()]
    d_line = [float(v) for v in sc["rpc"]["LINE_DEN_COEFF"].split()]
    exp_ln = float(sc["rpc"]["LINE_OFF"]) + 6000.0 * c_line[0] / d_line[0]
    assert ln[0] == pytest.approx(exp_ln)


def test_distributed_scan_matches_single_node(spark, tmp):
    paths = [synth.write_scene_fixture(tmp, i) for i in range(12)]
    got = {os.path.basename(r.path): r
           for r in mdreader.read_scene_metadata(spark, paths).collect()}
    for p in paths:
        sc = mdreader.read_scene(p)
        row = got[os.path.basename(p)]
        assert row.md_type == sc["md_type"]
        assert row.satellite_id == sc["imagery"]["SATELLITEID"]
        assert row.acq_datetime == sc["imagery"]["ACQUISITIONDATETIME"]
        assert row.rpc["LINE_OFF"] == sc["rpc"]["LINE_OFF"]
    # plan is a pure map over descriptors — no exchanges beyond the
    # initial repartition of the tiny path list
    plan = mdreader.read_scene_metadata(spark, paths) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan
