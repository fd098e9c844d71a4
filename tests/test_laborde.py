"""Laborde Oblique Mercator tests (EPSG method 9813; gdal_spark/crs.py
laborde_forward/inverse; reference ogr/ogrspatialreference.cpp:6390
SetLOM -> PROJ +proj=labrd)."""

import numpy as np
from pyspark.sql import functions as F

from gdal_spark import crs

A, FLAT = crs.ELLIPSOIDS["intl"]
_, _, P29701 = crs.CONIC_PRESETS[29701]


def test_epsg_worked_example():
    """EPSG Guidance Note 7-2, Laborde worked example: 16d11'23.28\"S,
    44d27'27.26\"E (Greenwich) -> E 188333.848, N 1098841.091."""
    lat = -(16 + 11 / 60 + 23.28 / 3600)
    lon = 44 + 27 / 60 + 27.26 / 3600
    x, y = crs.laborde_forward(crs._NpBackend, np.array([lon]),
                               np.array([lat]), a=A, f=FLAT, **P29701)
    assert abs(x[0] - 188333.848) < 1e-3
    assert abs(y[0] - 1098841.091) < 1e-3
    lon2, lat2 = crs.laborde_inverse(crs._NpBackend, x, y,
                                     a=A, f=FLAT, **P29701)
    assert abs(lon2[0] - lon) < 1e-9 and abs(lat2[0] - lat) < 1e-8


def test_np_roundtrip_domain():
    rng = np.random.default_rng(1)
    lons = rng.uniform(42, 52, 3000)
    lats = rng.uniform(-27, -11, 3000)
    X, Y = crs.laborde_forward(crs._NpBackend, lons, lats,
                               a=A, f=FLAT, **P29701)
    L2, P2 = crs.laborde_inverse(crs._NpBackend, X, Y,
                                 a=A, f=FLAT, **P29701)
    assert np.abs(L2 - lons).max() < 1e-9
    assert np.abs(P2 - lats).max() < 1e-8


def test_column_path_matches_numpy(spark):
    rng = np.random.default_rng(7)
    lons = rng.uniform(43, 51, 300)
    lats = rng.uniform(-26, -12, 300)
    df = spark.createDataFrame(
        [(i, float(lons[i]), float(lats[i])) for i in range(300)],
        "id long, lon double, lat double")
    x, y = crs.conic_forward(29701, F.col("lon"), F.col("lat"))
    d = df.select("id", "lon", "lat", x.alias("x"), y.alias("y"))
    out = crs.transform_df(d, 29701, "x", "y", ("lon2", "lat2"),
                           inverse=True).select(
        "id", "x", "y", "lon2", "lat2").orderBy("id").collect()
    X, Y = crs.laborde_forward(crs._NpBackend, lons, lats,
                               a=A, f=FLAT, **P29701)
    np.testing.assert_allclose([r.x for r in out], X, rtol=0, atol=1e-6)
    np.testing.assert_allclose([r.y for r in out], Y, rtol=0, atol=1e-6)
    np.testing.assert_allclose([r.lon2 for r in out], lons,
                               rtol=0, atol=1e-9)
    np.testing.assert_allclose([r.lat2 for r in out], lats,
                               rtol=0, atol=1e-8)


def test_plan_pure_codegen(spark):
    df = spark.range(50).selectExpr(
        "CAST(44.0 + id * 0.1 AS DOUBLE) AS lon",
        "CAST(-25.0 + id * 0.2 AS DOUBLE) AS lat")
    x, y = crs.conic_forward(29701, F.col("lon"), F.col("lat"))
    d = df.select(x.alias("x"), y.alias("y"))
    plan = crs.transform_df(d, 29701, "x", "y", ("lon2", "lat2"),
                            inverse=True)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_sql_stages_match_numpy():
    """The staged inverse's CTE chain evaluated by DuckDB."""
    import duckdb

    rng = np.random.default_rng(9)
    lons = rng.uniform(43, 51, 200)
    lats = rng.uniform(-26, -12, 200)
    X, Y = crs.laborde_forward(crs._NpBackend, lons, lats,
                               a=A, f=FLAT, **P29701)
    con = duckdb.connect()
    con.execute("CREATE TABLE p AS SELECT * FROM (VALUES " + ",".join(
        f"({i}, CAST({float(X[i])!r} AS DOUBLE),"
        f" CAST({float(Y[i])!r} AS DOUBLE))" for i in range(200)) +
        ") t(doc_id, x, y)")
    rel, lon, lat = crs.transform_sql(29701, "p", "x", "y", inverse=True)
    res = con.execute(f"SELECT doc_id, {lon} AS lab_lon, {lat} AS lab_lat"
                      f" FROM {rel} ORDER BY doc_id").fetchnumpy()
    np.testing.assert_allclose(res["lab_lon"], lons, rtol=0, atol=1e-9)
    np.testing.assert_allclose(res["lab_lat"], lats, rtol=0, atol=1e-8)


def test_fused_inverse_refuses():
    import pytest

    with pytest.raises(ValueError, match="staged"):
        crs.conic_inverse(29701, F.lit(400000.0), F.lit(800000.0))
