"""World-map projections (Miller / Gall / Robinson / Goode) and the
geostationary satellite view — the round-5b family batch.

Anchors are independent of the implementation: Snyder's Working
Manual numerical example for Miller, the published Robinson node
table (the spline must reproduce it exactly at the nodes), the
classic 40d44' Goode seam latitude, and the GOES-R PUG L1b fixed-grid
worked example for geos sweep=x. The reference reaches all of these
through PROJ (ogr/ogrct.cpp:1822; names in
frmts/gtiff/libgeotiff/geotiff_proj4.c)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark import crs, proj4

B = crs._NpBackend
A_WGS84 = 6378137.0


def test_miller_snyder_anchor():
    # Snyder, Map Projections — A Working Manual, Miller example:
    # sphere R=1, lam=-75, phi=50 -> x=-1.3089969, y=0.9536371
    x, y = crs.mill_forward(B, np.array([-75.0]), np.array([50.0]),
                            lon0=0.0, a=1.0, f=0.0)
    assert abs(x[0] - -1.3089969) < 1e-7
    assert abs(y[0] - 0.9536371) < 1e-7


def test_gall_secant_parallels():
    # Gall's cylinder is secant at 45 deg: scale along the 45th
    # parallel is true -> x spacing there equals arc length on the
    # parallel.  dx/dlam = a/sqrt(2) == a*cos(45).
    assert abs(crs._GALL_XF - math.cos(math.radians(45.0))) < 1e-15
    x, y = crs.gall_forward(B, np.array([10.0]), np.array([0.0]),
                            lon0=0.0, a=1.0, f=0.0)
    assert abs(y[0]) < 1e-15


@pytest.mark.parametrize("fam", ["mill", "gall", "robin", "goode"])
def test_world_roundtrip_numpy(fam):
    fw, iv = crs._CONIC_FNS[fam]
    lons = np.linspace(-179.0, 179.0, 201)
    lats = np.linspace(-84.9, 84.9, 201)
    x, y = fw(B, lons, lats, lon0=0.0, a=A_WGS84, f=0.0)
    lo, la = iv(B, x, y, lon0=0.0, a=A_WGS84, f=0.0)
    assert np.abs(lo - lons).max() < 1e-8
    assert np.abs(la - lats).max() < 1e-8


def test_robinson_node_table_parity():
    # at the 5-degree node latitudes every legitimate interpolation of
    # the Robinson table agrees with the table itself
    for i, latd in enumerate(range(0, 95, 5)):
        x, y = crs.robin_forward(B, np.array([10.0]),
                                 np.array([float(latd)]),
                                 lon0=0.0, a=1.0, f=0.0)
        assert abs(x[0] - 0.8487 * crs._ROBIN_X[i]
                   * math.radians(10.0)) < 1e-12
        assert abs(y[0] - 1.3523 * crs._ROBIN_Y[i]) < 1e-12


def test_robinson_spline_is_c1():
    # the natural cubic spline must be C1 across interval boundaries
    for table in (crs._ROBIN_CX, crs._ROBIN_CY):
        for i in range(17):
            c0, c1, c2, c3 = table[i]
            d_end = c1 + 5.0 * (2.0 * c2 + 3.0 * c3 * 5.0)
            d_next = table[i + 1][1]
            assert abs(d_end - d_next) < 1e-12


def test_goode_constants_published_values():
    # the classic seam latitude 40d44'11.98" and y offset 0.0528
    assert abs(math.degrees(crs._GOODE_PHI_LIM) - 40.73666) < 2e-5
    assert abs(crs._GOODE_Y_COR - 0.0528035) < 1e-6


def test_goode_seam_continuity():
    eps = 1e-9
    lim = math.degrees(crs._GOODE_PHI_LIM)
    for lam in (-170.0, -60.0, 30.0, 179.0):
        x1, y1 = crs.goode_forward(B, np.array([lam]),
                                   np.array([lim - eps]),
                                   lon0=0.0, a=A_WGS84, f=0.0)
        x2, y2 = crs.goode_forward(B, np.array([lam]),
                                   np.array([lim + eps]),
                                   lon0=0.0, a=A_WGS84, f=0.0)
        assert abs(x1[0] - x2[0]) < 1e-3
        assert abs(y1[0] - y2[0]) < 1e-3


def test_goode_equal_area_jacobian():
    # both lobes are equal-area: |dx/dlam * dy/dphi - dx/dphi *
    # dy/dlam| == R^2 cos(phi) everywhere (finite differences)
    h = 1e-5
    for latd in (10.0, 30.0, 50.0, 70.0):  # spans both lobes
        lon = np.array([40.0])
        la = np.array([latd])
        xp, yp = crs.goode_forward(B, lon + h, la, lon0=0.0, a=1.0, f=0.0)
        xm, ym = crs.goode_forward(B, lon - h, la, lon0=0.0, a=1.0, f=0.0)
        xq, yq = crs.goode_forward(B, lon, la + h, lon0=0.0, a=1.0, f=0.0)
        xr, yr = crs.goode_forward(B, lon, la - h, lon0=0.0, a=1.0, f=0.0)
        rad = math.pi / 180.0
        jac = ((xp - xm) * (yq - yr) - (xq - xr) * (yp - ym))[0] \
            / (2.0 * h * rad) ** 2
        assert abs(jac - math.cos(math.radians(latd))) < 1e-4


def test_geos_goes_pug_anchor():
    # GOES-R Product User's Guide L1b fixed-grid worked example:
    # GOES-East (lon0 -75, h 35786023, GRS80, sweep=x), geodetic
    # (33.846162 N, 84.690932 W) <-> scan angles y=0.095340,
    # x=-0.024052 rad
    f = 1.0 / 298.257222101
    h = 35786023.0
    x, y = crs.geos_forward(B, np.array([-84.690932]),
                            np.array([33.846162]),
                            h=h, lon0=-75.0, sweep_x=1.0,
                            a=A_WGS84, f=f)
    assert abs(x[0] / h - -0.024052) < 2e-6
    assert abs(y[0] / h - 0.095340) < 2e-6
    lo, la = crs.geos_inverse(B, x, y, h=h, lon0=-75.0, sweep_x=1.0,
                              a=A_WGS84, f=f)
    assert abs(lo[0] - -84.690932) < 1e-9
    assert abs(la[0] - 33.846162) < 1e-9


@pytest.mark.parametrize("sweep_x", [0.0, 1.0])
def test_geos_subsatellite_and_roundtrip(sweep_x):
    h = 35785831.0
    x, y = crs.geos_forward(B, np.array([12.0]), np.array([0.0]),
                            h=h, lon0=12.0, sweep_x=sweep_x,
                            a=A_WGS84, f=1.0 / 298.257223563)
    assert abs(x[0]) < 1e-6 and abs(y[0]) < 1e-6
    lons = 12.0 + np.linspace(-55.0, 55.0, 101)
    lats = np.linspace(-54.9, 54.9, 101)
    x, y = crs.geos_forward(B, lons, lats, h=h, lon0=12.0,
                            sweep_x=sweep_x, a=A_WGS84,
                            f=1.0 / 298.257223563)
    lo, la = crs.geos_inverse(B, x, y, h=h, lon0=12.0, sweep_x=sweep_x,
                              a=A_WGS84, f=1.0 / 298.257223563)
    assert np.abs(lo - lons).max() < 1e-9
    assert np.abs(la - lats).max() < 1e-9


def test_geos_sweep_convention_differs():
    # off-axis points must project differently under the two sweeps
    f = 1.0 / 298.257223563
    xy_y = crs.geos_forward(B, np.array([30.0]), np.array([40.0]),
                            h=35785831.0, lon0=0.0, sweep_x=0.0,
                            a=A_WGS84, f=f)
    xy_x = crs.geos_forward(B, np.array([30.0]), np.array([40.0]),
                            h=35785831.0, lon0=0.0, sweep_x=1.0,
                            a=A_WGS84, f=f)
    assert abs(xy_y[0][0] - xy_x[0][0]) > 1000.0


def test_robinson_staged_inverse_spark(spark):
    lons = np.linspace(-179.0, 179.0, 101)
    lats = np.linspace(-84.9, 84.9, 101)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lons, lats)],
        "lon double, lat double")
    x, y = crs.conic_forward(54030, F.col("lon"), F.col("lat"))
    d = df.select("lon", "lat", x.alias("x"), y.alias("y"))
    r = crs.transform_df(d, 54030, "x", "y", ("robin_lon", "robin_lat"),
                         inverse=True).toPandas()
    assert np.abs(r.robin_lon - r.lon).max() < 1e-9
    assert np.abs(r.robin_lat - r.lat).max() < 1e-9
    # map-only: staged Projects add no exchange
    plan = d.select("lon")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_goode_staged_spark_matches_numpy(spark):
    lons = np.linspace(-179.0, 179.0, 101)
    lats = np.linspace(-84.9, 84.9, 101)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lons, lats)],
        "lon double, lat double")
    g = crs.transform_df(df, crs.CODE_GOODE, "lon", "lat", ("x", "y"))
    r = crs.transform_df(g, crs.CODE_GOODE, "x", "y",
                         ("goode_lon", "goode_lat"), inverse=True).toPandas()
    xn, yn = crs.goode_forward(B, lons, lats, lon0=0.0, a=A_WGS84, f=0.0)
    r = r.sort_values("lon")
    assert np.abs(r.x.values - xn).max() < 1e-6
    assert np.abs(r.y.values - yn).max() < 1e-6
    assert np.abs(r.goode_lon.values - lons).max() < 1e-9
    assert np.abs(r.goode_lat.values - lats).max() < 1e-9


def test_fused_column_guards():
    with pytest.raises(ValueError, match="staged"):
        crs.conic_inverse(54030, F.col("x"), F.col("y"))
    with pytest.raises(ValueError, match="staged"):
        crs.conic_forward(crs.CODE_GOODE, F.col("lon"), F.col("lat"))
    with pytest.raises(ValueError, match="staged"):
        crs.conic_inverse_sql(crs.CODE_GOODE, "x", "y")


def test_proj4_import_new_families(spark):
    # any user +proj string of the new families resolves through the
    # same dispatch; geos carries the string +sweep token
    code = proj4.register_proj4(
        "+proj=geos +h=42164000 +lon_0=140.7 +sweep=y +ellps=WGS84")
    kind, ell, p = crs.CONIC_PRESETS[code]
    assert kind == "geos" and p["sweep_x"] == 0.0 and p["h"] == 42164000.0
    code2 = proj4.register_proj4("+proj=robin +lon_0=10 +ellps=WGS84")
    x, y = crs.conic_forward(code2, F.lit(10.0), F.lit(0.0))
    df = spark.range(1).select(x.alias("x"), y.alias("y")).collect()[0]
    assert abs(df.x) < 1e-9  # lon == lon0 -> x = 0


def test_robinson_oracle_cte_matches_spark(spark):
    import duckdb

    lons = np.linspace(-170.0, 170.0, 69)
    lats = np.linspace(-80.0, 80.0, 69)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lons, lats)],
        "lon double, lat double")
    x, y = crs.conic_forward(54030, F.col("lon"), F.col("lat"))
    d = df.select("lon", "lat", x.alias("x"), y.alias("y"))
    r = crs.transform_df(d, 54030, "x", "y", ("robin_lon", "robin_lat"),
                         inverse=True).toPandas().sort_values("lon")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pts AS SELECT * FROM (VALUES "
        + ",".join(f"({a!r},{b!r})" for a, b in zip(lons, lats))
        + ") t(lon,lat)")
    fx, fy = crs.conic_forward_sql(54030, "lon", "lat")
    con.execute(f"CREATE TABLE xy AS SELECT lon, lat, {fx} AS x, {fy} AS y"
                " FROM pts")
    rel, lon, lat = crs.transform_sql(54030, "xy", "x", "y", inverse=True)
    o = con.execute(f"SELECT lon, x, y, {lon} AS robin_lon,"
                    f" {lat} AS robin_lat FROM {rel} ORDER BY lon").fetchnumpy()
    assert np.abs(o["x"] - r.x.values).max() < 1e-6
    assert np.abs(o["robin_lon"] - r.robin_lon.values).max() < 1e-8


# --------------------------------------------------- Eckert IV / VI

@pytest.mark.parametrize("fam", ["eck4", "eck6"])
def test_eckert_roundtrip_numpy(fam):
    fw, iv = crs._CONIC_FNS[fam]
    lons = np.linspace(-179.0, 179.0, 401)
    lats = np.linspace(-84.9, 84.9, 401)
    x, y = fw(B, lons, lats, lon0=0.0, a=A_WGS84, f=0.0)
    lo, la = iv(B, x, y, lon0=0.0, a=A_WGS84, f=0.0)
    assert np.abs(lo - lons).max() < 1e-9
    assert np.abs(la - lats).max() < 1e-9


@pytest.mark.parametrize("fam", ["eck4", "eck6"])
def test_eckert_equal_area(fam):
    fw, _ = crs._CONIC_FNS[fam]
    h = 1e-5
    for latd in (0.0, 30.0, 60.0, 80.0):
        lon = np.array([20.0])
        la = np.array([latd])
        xp, yp = fw(B, lon + h, la, lon0=0.0, a=1.0, f=0.0)
        xm, ym = fw(B, lon - h, la, lon0=0.0, a=1.0, f=0.0)
        xq, yq = fw(B, lon, la + h, lon0=0.0, a=1.0, f=0.0)
        xr, yr = fw(B, lon, la - h, lon0=0.0, a=1.0, f=0.0)
        rad = math.pi / 180.0
        jac = ((xp - xm) * (yq - yr) - (xq - xr) * (yp - ym))[0] \
            / (2.0 * h * rad) ** 2
        assert abs(jac - math.cos(math.radians(latd))) < 1e-4


def test_eckert4_shape_constants():
    # Eckert IV's defining shape: the map is exactly twice as wide as
    # tall. Half-width = CX*pi*(1+cos 0) = 2*CX*pi at the equator,
    # half-height = CY at the pole -> 2*CX*pi == 2*CY.
    x180, _ = crs.eck4_forward(B, np.array([180.0]), np.array([0.0]),
                               lon0=0.0, a=1.0, f=0.0)
    assert abs(x180[0] - 2.0 * crs._ECK4_CX * math.pi) < 1e-12
    assert abs(crs._ECK4_CX * math.pi - crs._ECK4_CY) < 1e-12
    # the pole line is half the equator: (1 + cos th) halves as th
    # goes 0 -> pi/2 (evaluated inside the |phi| <= 85 seed domain,
    # like moll: theta(85) from the exact defining equation)
    import math as _m
    t85 = crs._ECK4_T * _m.sin(_m.radians(85.0))
    th = 1.5
    for _ in range(60):
        th -= (th + _m.sin(th) * _m.cos(th) + 2 * _m.sin(th) - t85) \
            / (2 * _m.cos(th) * (1 + _m.cos(th)))
    xp, _ = crs.eck4_forward(B, np.array([180.0]), np.array([85.0]),
                             lon0=0.0, a=1.0, f=0.0)
    assert abs(xp[0] - crs._ECK4_CX * math.pi * (1 + _m.cos(th))) < 1e-9


def test_eckert_spark_fused_roundtrip(spark):
    lons = np.linspace(-179.0, 179.0, 101)
    lats = np.linspace(-84.9, 84.9, 101)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lons, lats)],
        "lon double, lat double")
    for code in (54012, 54010):
        x, y = crs.conic_forward(code, F.col("lon"), F.col("lat"))
        d = df.select("lon", "lat", x.alias("x"), y.alias("y"))
        lo, la = crs.conic_inverse(code, F.col("x"), F.col("y"))
        r = d.select("lon", "lat", lo.alias("lo"), la.alias("la")) \
            .toPandas()
        assert np.abs(r.lo - r.lon).max() < 1e-9
        assert np.abs(r.la - r.lat).max() < 1e-9


# --------------------------------------------------- Winkel Tripel

def test_wintri_roundtrip_numpy_incl_origin():
    kind, ell, p = crs.CONIC_PRESETS[54042]
    a, f = crs.ELLIPSOIDS[ell]
    lons = np.append(np.linspace(-179.0, 179.0, 401), 0.0)
    lats = np.append(np.linspace(-84.9, 84.9, 401), 0.0)
    x, y = crs.wintri_forward(B, lons, lats, a=a, f=f, **p)
    lo, la = crs.wintri_inverse(B, x, y, a=a, f=f, **p)
    assert np.abs(lo - lons).max() < 1e-9
    assert np.abs(la - lats).max() < 1e-9


def test_wintri_central_meridian_identity():
    # on the central meridian alpha == |phi|, so y = phi exactly and
    # x = 0 — the projection's defining mean degenerates to identity
    kind, ell, p = crs.CONIC_PRESETS[54042]
    x, y = crs.wintri_forward(B, np.array([0.0]), np.array([37.0]),
                              a=1.0, f=0.0, phi1=p["phi1"], lon0=0.0)
    assert abs(float(y[0]) - math.radians(37.0)) < 1e-12
    assert abs(float(x[0])) < 1e-12


def test_wintri_standard_parallel_default():
    # Winkel's choice: phi1 = acos(2/pi)
    _, _, p = crs.CONIC_PRESETS[54042]
    assert abs(math.cos(math.radians(p["phi1"])) - 2.0 / math.pi) < 1e-14


def test_wintri_staged_spark_matches_numpy(spark):
    kind, ell, p = crs.CONIC_PRESETS[54042]
    a, f = crs.ELLIPSOIDS[ell]
    lons = np.linspace(-179.0, 179.0, 101)
    lats = np.linspace(-84.9, 84.9, 101)
    df = spark.createDataFrame(
        [(float(u), float(v)) for u, v in zip(lons, lats)],
        "lon double, lat double")
    x, y = crs.conic_forward(54042, F.col("lon"), F.col("lat"))
    d = df.select("lon", "lat", x.alias("x"), y.alias("y"))
    r = crs.transform_df(d, 54042, "x", "y", ("winkel_lon", "winkel_lat"),
                         inverse=True).toPandas().sort_values("lon")
    xn, yn = crs.wintri_forward(B, lons, lats, a=a, f=f, **p)
    assert np.abs(r.x.values - xn).max() < 1e-6
    assert np.abs(r.winkel_lon.values - lons).max() < 1e-8
    assert np.abs(r.winkel_lat.values - lats).max() < 1e-8
    with pytest.raises(ValueError, match="staged"):
        crs.conic_inverse(54042, F.col("x"), F.col("y"))


# --------------------------------------------------------- Hammer

def test_hammer_roundtrip_and_equal_area():
    lons = np.linspace(-179.0, 179.0, 401)
    lats = np.linspace(-84.9, 84.9, 401)
    x, y = crs.hammer_forward(B, lons, lats, lon0=0.0, a=A_WGS84, f=0.0)
    lo, la = crs.hammer_inverse(B, x, y, lon0=0.0, a=A_WGS84, f=0.0)
    assert np.abs(lo - lons).max() < 1e-9
    assert np.abs(la - lats).max() < 1e-9
    h = 1e-5
    for latd in (0.0, 40.0, 75.0):
        lon = np.array([60.0])
        la2 = np.array([latd])
        xp, yp = crs.hammer_forward(B, lon + h, la2, lon0=0.0, a=1.0, f=0.0)
        xm, ym = crs.hammer_forward(B, lon - h, la2, lon0=0.0, a=1.0, f=0.0)
        xq, yq = crs.hammer_forward(B, lon, la2 + h, lon0=0.0, a=1.0, f=0.0)
        xr, yr = crs.hammer_forward(B, lon, la2 - h, lon0=0.0, a=1.0, f=0.0)
        rad = math.pi / 180.0
        jac = ((xp - xm) * (yq - yr) - (xq - xr) * (yp - ym))[0] \
            / (2.0 * h * rad) ** 2
        assert abs(jac - math.cos(math.radians(latd))) < 1e-4


def test_hammer_2to1_ellipse_boundary():
    # the Hammer graticule boundary is the 2:1 ellipse
    # (x / (2 sqrt(2) R))^2 + (y / (sqrt(2) R))^2 = 1 at lam = +-180
    for latd in (0.0, 30.0, 60.0, 89.0):
        x, y = crs.hammer_forward(B, np.array([180.0]),
                                  np.array([latd]), lon0=0.0,
                                  a=1.0, f=0.0)
        e = (x[0] / (2.0 * math.sqrt(2.0))) ** 2 \
            + (y[0] / math.sqrt(2.0)) ** 2
        assert abs(e - 1.0) < 1e-12
