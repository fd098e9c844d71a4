"""Round-5 projection families (gdal_spark/crs.py): Cassini-Soldner
(EPSG method 9806), American Polyconic (9818, staged Newton inverse),
Bonne (9827), Polar Stereographic variant A north / UPS (9810), and
Transverse Mercator South Orientated (9808). Reference reaches all of
these through PROJ (ogr/ogrct.cpp:1822); method names appear in
frmts/gtiff/libgeotiff/geotiff_proj4.c."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark import crs


def _preset(epsg):
    kind, ell, p = crs.CONIC_PRESETS[epsg]
    a, f = crs.ELLIPSOIDS[ell]
    return kind, a, f, p


def test_cassini_epsg_worked_example():
    """EPSG Guidance Note 7-2, Cassini-Soldner worked example
    (Trinidad 1903 / Trinidad Grid, Clarke's links): 10N 62W ->
    E 66644.94, N 82536.22."""
    _, a, f, p = _preset(30200)
    x, y = crs.cassini_forward(crs._NpBackend, np.array([-62.0]),
                               np.array([10.0]), a=a, f=f, **p)
    assert abs(x[0] - 66644.94) < 0.01
    assert abs(y[0] - 82536.22) < 0.01
    lon2, lat2 = crs.cassini_inverse(crs._NpBackend, x, y, a=a, f=f, **p)
    assert abs(lon2[0] + 62.0) < 1e-9 and abs(lat2[0] - 10.0) < 1e-8


def test_ups_north_epsg_worked_example():
    """EPSG Guidance Note 7-2, Polar Stereographic variant A worked
    example (WGS 84 / UPS North): 73N 44E -> E 3320416.75,
    N 632668.43."""
    _, a, f, p = _preset(5041)
    x, y = crs.ups_north_forward(crs._NpBackend, np.array([44.0]),
                                 np.array([73.0]), a=a, f=f, **p)
    assert abs(x[0] - 3320416.75) < 0.01
    assert abs(y[0] - 632668.43) < 0.01
    lon2, lat2 = crs.ups_north_inverse(crs._NpBackend, x, y,
                                       a=a, f=f, **p)
    assert abs(lon2[0] - 44.0) < 1e-9 and abs(lat2[0] - 73.0) < 1e-8


def test_tmso_matches_mirrored_tm():
    """Method 9808 is 9807 with westing = FE - E', southing = FN - N'
    (EPSG GN 7-2): check the sign convention against the plain TM
    series and that Pretoria lands west-positive, south-positive."""
    _, a, f, p = _preset(2054)
    lons = np.array([28.282633333333333])
    lats = np.array([-25.732028333333333])
    w, s = crs.tmso_forward(crs._NpBackend, lons, lats, a=a, f=f, **p)
    e, n = crs._tm_forward(crs._NpBackend, lons, lats, 29.0, a, f,
                           k0=1.0, false_e=0.0, false_n=0.0)
    assert abs(w[0] + e[0]) < 1e-9 and abs(s[0] + n[0]) < 1e-9
    assert w[0] > 0 and s[0] > 0  # west of 29E, south of the equator
    lon2, lat2 = crs.tmso_inverse(crs._NpBackend, w, s, a=a, f=f, **p)
    assert abs(lon2[0] - lons[0]) < 1e-9 and abs(lat2[0] - lats[0]) < 1e-9


def test_bonne_equal_area_property():
    """Bonne is equal-area: the forward Jacobian determinant must
    equal the ellipsoidal area element cos(phi)(1-e2)/(1-e2 sin2)^2
    times a^2 (checked by finite differences at scattered points)."""
    _, a, f, p = _preset(54024)
    e2 = f * (2.0 - f)
    rng = np.random.default_rng(3)
    lons = rng.uniform(-150, 150, 50)
    lats = rng.uniform(-75, 75, 50)
    h = 1e-5
    args = dict(a=a, f=f, **p)
    x0, y0 = crs.bonne_forward(crs._NpBackend, lons, lats, **args)
    xl, yl = crs.bonne_forward(crs._NpBackend, lons + h, lats, **args)
    xp, yp = crs.bonne_forward(crs._NpBackend, lons, lats + h, **args)
    dh = math.radians(h)
    jac = ((xl - x0) * (yp - y0) - (xp - x0) * (yl - y0)) / (dh * dh)
    s = np.sin(np.radians(lats))
    truth = (a * a * (1.0 - e2) * np.cos(np.radians(lats))
             / (1.0 - e2 * s * s) ** 2)
    np.testing.assert_allclose(np.abs(jac), truth, rtol=5e-4)


@pytest.mark.parametrize("epsg,lo,hi,la0,la1", [
    (30200, -62.2, -60.2, 9.9, 11.2),
    (29101, -73.0, -35.0, -33.0, -2.0),
    (54024, -179.0, 179.0, -84.0, 84.0),
    (5041, -179.0, 179.0, 55.0, 89.5),
    (2054, 26.2, 31.8, -34.5, -22.5),
])
def test_np_roundtrip_domain(epsg, lo, hi, la0, la1):
    rng = np.random.default_rng(epsg)
    lons = rng.uniform(lo, hi, 2000)
    lats = rng.uniform(la0, la1, 2000)
    X, Y = crs.transform_points_np(epsg, lons, lats)
    L2, P2 = crs.transform_points_np(epsg, X, Y, inverse=True)
    assert np.abs(L2 - lons).max() < 2e-7
    assert np.abs(P2 - lats).max() < 1e-8


def test_polyconic_column_and_sql_stages_match_numpy(spark):
    """The staged Column inverse and its DuckDB CTE chain both
    reproduce the eager numpy Newton iteration."""
    import duckdb

    _, a, f, p = _preset(29101)
    rng = np.random.default_rng(11)
    lons = rng.uniform(-72, -36, 250)
    lats = rng.uniform(-32, -3, 250)
    X, Y = crs.poly_forward(crs._NpBackend, lons, lats, a=a, f=f, **p)

    df = spark.createDataFrame(
        [(i, float(X[i]), float(Y[i])) for i in range(250)],
        "id long, x double, y double")
    out = crs.transform_df(df, 29101, "x", "y", ("poly_lon", "poly_lat"),
                           inverse=True).orderBy("id").collect()
    np.testing.assert_allclose([r.poly_lon for r in out], lons,
                               rtol=0, atol=1e-9)
    np.testing.assert_allclose([r.poly_lat for r in out], lats,
                               rtol=0, atol=1e-8)

    con = duckdb.connect()
    con.execute("CREATE TABLE p AS SELECT * FROM (VALUES " + ",".join(
        f"({i}, CAST({float(X[i])!r} AS DOUBLE),"
        f" CAST({float(Y[i])!r} AS DOUBLE))" for i in range(250)) +
        ") t(doc_id, x, y)")
    rel, lon, lat = crs.transform_sql(29101, "p", "x", "y", inverse=True)
    res = con.execute(f"SELECT doc_id, {lon} AS poly_lon, {lat} AS poly_lat"
                      f" FROM {rel} ORDER BY doc_id").fetchnumpy()
    np.testing.assert_allclose(res["poly_lon"], lons, rtol=0, atol=1e-9)
    np.testing.assert_allclose(res["poly_lat"], lats, rtol=0, atol=1e-8)


def test_polyconic_fused_inverse_refuses():
    with pytest.raises(ValueError, match="staged"):
        crs.conic_inverse(29101, F.col("x"), F.col("y"))
    with pytest.raises(ValueError, match="staged"):
        crs.conic_inverse_sql(29101, "x", "y")


@pytest.mark.parametrize("epsg", [30200, 54024, 5041, 2054])
def test_column_roundtrip_and_plan(spark, epsg):
    """Forward+inverse through the Column backend round-trips, and the
    whole transform stays pure codegen — no Exchange, no Python."""
    dom = {30200: (-62.2, 0.04, 10.0, 0.02), 54024: (-170.0, 6.0, -80.0, 3.0),
           5041: (-170.0, 6.0, 60.0, 0.5), 2054: (26.5, 0.1, -34.0, 0.2)}
    lo0, dlo, la0, dla = dom[epsg]
    df = spark.range(50).selectExpr(
        f"CAST({lo0} + id * {dlo} AS DOUBLE) AS lon",
        f"CAST({la0} + id * {dla} AS DOUBLE) AS lat")
    x, y = crs.conic_forward(epsg, F.col("lon"), F.col("lat"))
    d = df.select("lon", "lat", x.alias("x"), y.alias("y"))
    lon2, lat2 = crs.conic_inverse(epsg, F.col("x"), F.col("y"))
    out = d.select("lon", "lat", lon2.alias("lon2"), lat2.alias("lat2"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan
    rows = out.collect()
    for r in rows:
        assert abs(r.lon2 - r.lon) < 2e-7
        assert abs(r.lat2 - r.lat) < 1e-8


def test_crs_to_crs_matches_numpy_and_plan(spark):
    """The generic projected->projected Column composition equals the
    numpy grid_transform_np chain and stays exchange-free."""
    rng = np.random.default_rng(21)
    lons = rng.uniform(-4, 7, 200)
    lats = rng.uniform(43, 50, 200)
    x93, y93 = crs.transform_points_np(2154, lons, lats)
    fwd, _ = crs.grid_transform_np(2154, 3035)
    xt, yt = fwd(x93, y93)

    df = spark.createDataFrame(
        [(i, float(x93[i]), float(y93[i])) for i in range(200)],
        "id long, x double, y double")
    x2, y2 = crs.crs_to_crs_cols(2154, 3035, F.col("x"), F.col("y"))
    out = df.select("id", x2.alias("x2"), y2.alias("y2"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan
    rows = out.orderBy("id").collect()
    np.testing.assert_allclose([r.x2 for r in rows], xt, rtol=0, atol=1e-6)
    np.testing.assert_allclose([r.y2 for r in rows], yt, rtol=0, atol=1e-6)


def test_crs_to_crs_utm_and_webmerc_legs(spark):
    """UTM and web-mercator legs of the hub dispatch round-trip."""
    rng = np.random.default_rng(5)
    lons = rng.uniform(12, 18, 100)     # UTM zone 33N band
    lats = rng.uniform(40, 60, 100)
    xu, yu = crs.grid_transform_np(3857, 32633)[1](
        *crs.grid_transform_np(3857, 32633)[0](
            *crs.webmerc_forward_np(lons, lats)))
    # numpy round trip sanity first
    x0, y0 = crs.webmerc_forward_np(lons, lats)
    np.testing.assert_allclose(xu, x0, rtol=0, atol=5e-3)
    np.testing.assert_allclose(yu, y0, rtol=0, atol=5e-3)

    df = spark.createDataFrame(
        [(i, float(x0[i]), float(y0[i])) for i in range(100)],
        "id long, x double, y double")
    xc, yc = crs.crs_to_crs_cols(3857, 32633, F.col("x"), F.col("y"))
    d = df.select("id", xc.alias("xu"), yc.alias("yu"))
    xb, yb = crs.crs_to_crs_cols(32633, 3857, F.col("xu"), F.col("yu"))
    rows = d.select("id", "xu", "yu", xb.alias("x2"), yb.alias("y2")) \
        .orderBy("id").collect()
    tx, ty = crs.grid_transform_np(3857, 32633)[0](x0, y0)
    np.testing.assert_allclose([r.xu for r in rows], tx, rtol=0, atol=1e-6)
    np.testing.assert_allclose([r.yu for r in rows], ty, rtol=0, atol=1e-6)
    np.testing.assert_allclose([r.x2 for r in rows], x0, rtol=0, atol=5e-3)
    np.testing.assert_allclose([r.y2 for r in rows], y0, rtol=0, atol=5e-3)


def test_crs_to_crs_staged_kinds_refuse():
    with pytest.raises(ValueError, match="staged"):
        crs.crs_to_crs_cols(29101, 4326, F.col("x"), F.col("y"))
    with pytest.raises(ValueError, match="staged"):
        crs.crs_to_crs_sql(29701, 3035, "x", "y")
    # forward INTO a staged family is fine (only the inverse stages)
    crs.crs_to_crs_cols(4326, 29101, F.col("lon"), F.col("lat"))


@pytest.mark.parametrize("kind, inverse", sorted(crs._STAGED_ONLY))
def test_crs_to_crs_refuses_every_staged_only_direction(spark, kind, inverse):
    epsg = next(c for c, p in crs.CONIC_PRESETS.items() if p[0] == kind)
    src, dst = (epsg, 4326) if inverse else (4326, epsg)
    with pytest.raises(ValueError, match="staged"):
        crs.crs_to_crs_cols(src, dst, F.col("x"), F.col("y"))
    with pytest.raises(ValueError, match="staged"):
        crs.crs_to_crs_sql(src, dst, "x", "y")


def test_ups_south_mirrors_north_anchor():
    """Variant A south is the exact mirror of the GN 7-2 north worked
    example: E_south(lam, -phi) = E_north(lam, phi) and
    N_south = 2*FN - N_north."""
    _, a, f, ps = _preset(5042)
    x, y = crs.ups_south_forward(crs._NpBackend, np.array([44.0]),
                                 np.array([-73.0]), a=a, f=f, **ps)
    assert abs(x[0] - 3320416.75) < 0.01
    assert abs(y[0] - (4000000.0 - 632668.43)) < 0.01
    lon2, lat2 = crs.ups_south_inverse(crs._NpBackend, x, y,
                                       a=a, f=f, **ps)
    assert abs(lon2[0] - 44.0) < 1e-9 and abs(lat2[0] + 73.0) < 1e-8


def test_ps_north_3413_properties():
    """NSIDC PS North: the pole maps to the origin, the projection is
    true-scale at 70N (distance along a meridian ~ arc length), and
    (70N, 45W) sits on the negative-y axis at rho = a*m(70)."""
    _, a, f, p = _preset(3413)
    e2 = f * (2.0 - f)
    x, y = crs.ps_north_forward(crs._NpBackend, np.array([-45.0, 0.0]),
                                np.array([90.0, 70.0]), a=a, f=f, **p)
    assert abs(x[0]) < 1e-6 and abs(y[0]) < 1e-6
    s70 = math.sin(math.radians(70.0))
    rho70 = a * math.cos(math.radians(70.0)) / math.sqrt(1 - e2 * s70 * s70)
    assert abs(math.hypot(x[1], y[1]) - rho70) < 1e-6


@pytest.mark.parametrize("epsg,lo,hi,la0,la1", [
    (3413, -178.0, 132.0, 35.0, 89.0),
    (5042, -179.0, 179.0, -89.5, -55.0),
])
def test_polar_np_roundtrip(epsg, lo, hi, la0, la1):
    rng = np.random.default_rng(epsg)
    lons = rng.uniform(lo, hi, 1500)
    lats = rng.uniform(la0, la1, 1500)
    X, Y = crs.transform_points_np(epsg, lons, lats)
    L2, P2 = crs.transform_points_np(epsg, X, Y, inverse=True)
    assert np.abs(L2 - lons).max() < 1e-9
    assert np.abs(P2 - lats).max() < 1e-8


def test_laea_north_polar_properties():
    """EPSG:3575 Arctic LAEA: the pole maps to the origin, the map is
    equal-area (rho^2*pi at beta == authalic cap area), and the
    inverse round-trips across the Arctic domain."""
    _, a, f, p = _preset(3575)
    e2 = f * (2.0 - f)
    x, y = crs.laea_north_forward(crs._NpBackend, np.array([10.0]),
                                  np.array([90.0]), a=a, f=f, **p)
    assert abs(x[0]) < 1e-6 and abs(y[0]) < 1e-6
    # cap area: pi*rho^2 = 2*pi*a^2*(qp - q)/2 exactly by construction;
    # verify against the spherical-excess integral numerically at 60N
    x, y = crs.laea_north_forward(crs._NpBackend, np.array([10.0]),
                                  np.array([60.0]), a=a, f=f, **p)
    rho = math.hypot(x[0], y[0])
    qp = crs._qsc(e2, math.pi / 2.0)
    q60 = crs._qsc(e2, math.radians(60.0))
    assert abs(rho - a * math.sqrt(qp - q60)) < 1e-6
    lons = np.linspace(-169.0, 178.0, 500)
    lats = np.linspace(46.0, 89.5, 500)
    X, Y = crs.transform_points_np(3575, lons, lats)
    L2, P2 = crs.transform_points_np(3575, X, Y, inverse=True)
    assert np.abs(L2 - lons).max() < 1e-9
    assert np.abs(P2 - lats).max() < 1e-8


def test_laea_polar_proj4_import():
    from gdal_spark import proj4

    c = proj4.register_proj4(
        "+proj=laea +lat_0=90 +lon_0=10 +x_0=0 +y_0=0"
        " +datum=WGS84 +units=m +no_defs")
    lons = np.array([30.0, -60.0])
    lats = np.array([55.0, 80.0])
    x0, y0 = crs.transform_points_np(3575, lons, lats)
    x1, y1 = crs.transform_points_np(c, lons, lats)
    np.testing.assert_array_equal(x1, x0)
    np.testing.assert_array_equal(y1, y0)
    cs = proj4.register_proj4("+proj=laea +lat_0=-90 +lon_0=0"
                              " +datum=WGS84")
    x2, y2 = crs.transform_points_np(cs, lons, -lats)
    x6, y6 = crs.transform_points_np(6932, lons, -lats)
    np.testing.assert_array_equal(x2, x6)
    np.testing.assert_array_equal(y2, y6)


@pytest.mark.parametrize("epsg,la0,la1", [(6931, 35.0, 89.5),
                                          (6932, -89.5, -35.0)])
def test_ease2_roundtrip_and_mirror(epsg, la0, la1):
    """NSIDC EASE-Grid 2.0: both polar aspects round-trip, and the
    south grid is the exact y-mirror of the north at mirrored
    latitude (both lon0 = 0)."""
    rng = np.random.default_rng(epsg)
    lons = rng.uniform(-179, 179, 1500)
    lats = rng.uniform(la0, la1, 1500)
    X, Y = crs.transform_points_np(epsg, lons, lats)
    L2, P2 = crs.transform_points_np(epsg, X, Y, inverse=True)
    assert np.abs(L2 - lons).max() < 1e-9
    assert np.abs(P2 - lats).max() < 1e-8
    other = 6932 if epsg == 6931 else 6931
    Xo, Yo = crs.transform_points_np(other, lons, -lats)
    # q(-phi) = -q(phi) analytically; float evaluation of the log
    # term differs at the 1e-7 m level
    np.testing.assert_allclose(Xo, X, rtol=0, atol=1e-6)
    np.testing.assert_allclose(Yo, -Y, rtol=0, atol=1e-6)
