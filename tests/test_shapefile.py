"""Shapefile driver tests — parity with the reference's canonical
poly.shp fixture (autotest/ogr/data/poly.*, the substrate of all of
autotest/ogr/ogr_sql_test.py) plus writer roundtrips.

Expected attribute values are the transcription already used by
tests/test_reference_parity.py (read independently from the dbf by
the reference's own test expectations); the documented extent is
(478315.53125, 4762880.5, 481645.3125, 4765610.5).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark import geometry as GM
from gdal_spark import shapefile as SHP

from .conftest import reference_fixture


def _poly_base():
    return reference_fixture("autotest/ogr/data/poly.shp")[: -len(".shp")]


EAS = [168, 179, 171, 173, 172, 169, 166, 158, 165, 170]
AREA = [215229.266, 247328.172, 261752.781, 547597.188, 15775.758,
        101429.977, 268597.625, 1634833.375, -596610.313, 5268.813]
PRF = ["35043411", "35043423", "35043414", "35043416", "35043415",
       "35043412", "35043409", "35043369", "35043408", "35043413"]


@pytest.fixture(scope="module")
def poly(spark):
    return SHP.read_shapefile(spark, _poly_base()).orderBy("fid").collect()


def test_poly_attributes(poly):
    assert [r.EAS_ID for r in poly] == EAS
    assert [r.AREA for r in poly] == AREA
    assert [r.PRFEDEA for r in poly] == PRF


def test_poly_extent(poly):
    xs = np.concatenate([GM.parse_wkt(r.geom_wkt).all_points()[0] for r in poly])
    ys = np.concatenate([GM.parse_wkt(r.geom_wkt).all_points()[1] for r in poly])
    assert (xs.min(), ys.min(), xs.max(), ys.max()) == (
        478315.53125, 4762880.5, 481645.3125, 4765610.5
    )


def test_poly_geometry_kinds(poly):
    for r in poly:
        g = GM.parse_wkt(r.geom_wkt)
        assert g.kind == "polygon"
        assert g.area() > 0


def test_roundtrip(spark, poly, tmp_path):
    df = SHP.read_shapefile(spark, _poly_base()).select(
        "geom_wkt", "AREA", "EAS_ID", "PRFEDEA"
    )
    info = SHP.write_shapefile(df, str(tmp_path / "rt"))
    assert info["records"] == 10 and info["shape_type"] == 5
    back = SHP.read_shapefile(spark, str(tmp_path / "rt")).orderBy("fid").collect()
    assert [r.EAS_ID for r in back] == EAS
    assert [r.PRFEDEA for r in back] == PRF
    for a, b in zip(poly, back):
        assert abs(a.AREA - b.AREA) < 1e-9
        ga = GM.parse_wkt(a.geom_wkt).area()
        gb = GM.parse_wkt(b.geom_wkt).area()
        assert abs(ga - gb) < 1e-6


def test_point_and_line_roundtrip(spark, tmp_path):
    pdf = spark.createDataFrame(
        [("POINT(1.5 -2.25)", 1), ("POINT(3 4)", 2)], ["geom_wkt", "k"]
    )
    SHP.write_shapefile(pdf, str(tmp_path / "pts"))
    back = SHP.read_shapefile(spark, str(tmp_path / "pts")).orderBy("fid").collect()
    assert back[0].geom_wkt == "POINT(1.5 -2.25)"
    assert back[1].geom_wkt == "POINT(3 4)"

    ldf = spark.createDataFrame(
        [("LINESTRING(0 0, 1 1, 2 0.5)", 1)], ["geom_wkt", "k"]
    )
    SHP.write_shapefile(ldf, str(tmp_path / "lines"))
    back = SHP.read_shapefile(spark, str(tmp_path / "lines")).collect()
    g = GM.parse_wkt(back[0].geom_wkt)
    assert g.kind == "linestring" and len(g.parts[0][0]) == 3


def test_hole_winding_roundtrip(spark, tmp_path):
    wkt = ("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), "
           "(2 2, 4 2, 4 4, 2 4, 2 2))")
    df = spark.createDataFrame([(wkt, 1)], ["geom_wkt", "k"])
    SHP.write_shapefile(df, str(tmp_path / "hole"))
    back = SHP.read_shapefile(spark, str(tmp_path / "hole")).collect()
    g = GM.parse_wkt(back[0].geom_wkt)
    assert g.kind == "polygon" and len(g.parts[0]) == 2
    assert abs(g.area() - (100 - 4)) < 1e-9


def test_distributed_scan_many_batches(spark, tmp_path):
    """A layer larger than one batch splits across tasks; fids stay
    global and exact (the .shx-driven range-read plan)."""
    rows = [(f"POINT({i} {i % 7})", i) for i in range(500)]
    df = spark.createDataFrame(rows, ["geom_wkt", "v"])
    SHP.write_shapefile(df, str(tmp_path / "many"))
    back = SHP.read_shapefile(
        spark, str(tmp_path / "many"), records_per_batch=64
    )
    assert back.rdd.getNumPartitions() >= 4
    got = back.orderBy("fid").collect()
    assert len(got) == 500
    assert [r.fid for r in got] == list(range(500))
    assert [r.v for r in got] == list(range(500))


def test_ogr2ogr_over_real_shapefile(spark, tmp_path):
    """The classic test_ogr2ogr flow end-to-end on the real fixture:
    ogr2ogr -where 'eas_id < 170' -select prfedea poly.shp out.shp
    (autotest/utilities/test_ogr2ogr.py idiom) — filter + pruning +
    shapefile sink + re-scan."""
    from gdal_spark.ogr2ogr import ogr2ogr_layer

    src = SHP.read_shapefile(spark, _poly_base()).withColumnRenamed(
        "EAS_ID", "eas_id"
    ).withColumnRenamed("PRFEDEA", "prfedea")
    out = ogr2ogr_layer(src, where="eas_id < 170", select=["prfedea", "eas_id"])
    SHP.write_shapefile(out, str(tmp_path / "out"))
    back = SHP.read_shapefile(spark, str(tmp_path / "out"))
    got = sorted(r.eas_id for r in back.collect())
    assert got == [158, 165, 166, 168, 169]


def test_ogr_sql_over_real_shapefile(spark):
    """autotest/ogr/ogr_sql_test.py expectations straight off the real
    file through the textual OGR SQL engine: select distinct eas_id
    ... in first-encounter order (swq DISTINCT_LIST semantics)."""
    from gdal_spark.ogr_sql_exec import execute_ogr_sql

    poly = SHP.read_shapefile(spark, _poly_base()).select(
        "fid",
        F.col("AREA").alias("area"),
        F.col("EAS_ID").alias("eas_id"),
        F.col("PRFEDEA").alias("prfedea"),
    )
    out = execute_ogr_sql(
        spark,
        "SELECT DISTINCT eas_id FROM poly WHERE eas_id < 170",
        {"poly": poly},
    )
    assert [r.eas_id for r in out.collect()] == [168, 169, 166, 158, 165]
    cnt = execute_ogr_sql(
        spark, "SELECT COUNT(*) AS cnt FROM poly WHERE eas_id < 167",
        {"poly": poly},
    ).collect()[0].cnt
    assert cnt == 3
