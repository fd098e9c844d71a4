"""Coordinate transforms beyond Web-Mercator: Transverse Mercator /
UTM, closed form (the reference delegates to PROJ via OGRCoordinate-
Transformation, ogr/ogrct.cpp:1822; the projection math itself is the
public Snyder series — Snyder 1987, "Map Projections: A Working
Manual", USGS PP 1395, eqs. 8-9..8-15 — accurate to ~1 mm).

The formula is written ONCE against an abstract expression backend
and instantiated twice: as pyspark Column expressions (pure JVM
whole-stage codegen — no UDF) and as an ANSI-SQL string with the
IDENTICAL association order, so the DuckDB oracle evaluates the same
floating-point expression tree (sin/cos ulp differences are absorbed
by mm-level rounding). A third instantiation, numpy, serves vertex
arrays (_NpBackend).

Stage cuts: a formula whose fused tree is too large for whole-stage
codegen (a Newton loop) marks its cuts once, inline, with
`B.stage(*exprs)`, which hands back values that stand for the
expressions. On the Column, SQL and numpy backends `stage` is the
identity. `_StageRecorder`, the SQL backend that records, turns each
call into one named stage and hands back its column names. The staged
executor lives here: `_apply_stages` runs the stages one Project each
(`transform_df`), `sql_cte_chain` one CTE each (`transform_sql`, the
DuckDB oracle), and both run a direction without cuts as one fused
expression. conic_forward / conic_inverse and their _sql forms refuse
the directions in `_STAGED_ONLY`.

Datum note: this is the PROJECTION step only — no datum shift, i.e.
exact for same-datum transforms (EPSG:4326->326xx WGS84, 4269->269xx
NAD83) and the projection component of 267xx NAD27 (Clarke 1866
ellipsoid). PROJ's NAD27 grid-shift files are out of scope.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (semi-major a, flattening f)
ELLIPSOIDS = {
    "WGS84": (6378137.0, 1.0 / 298.257223563),
    "GRS80": (6378137.0, 1.0 / 298.257222101),
    "clrk66": (6378206.4, 1.0 - 6356583.8 / 6378206.4),
    "bessel": (6377397.155, 1.0 / 299.1528128),
    "evrst67": (6377298.556, 1.0 / 300.8017),  # Everest 1830 (1967 defn)
    "intl": (6378388.0, 1.0 / 297.0),          # International 1924
    # Clarke 1858 in Clarke's links (EPSG 7007; 1 chain = 100 links =
    # 66 ft -> a = 20926348 ft / 0.66) — the Trinidad 1903 grid works
    # natively in links, per the EPSG GN 7-2 Cassini worked example
    "clrk58links": (31706587.88, 1.0 / 294.2606764),
    "GRS67mod": (6378160.0, 1.0 / 298.25),     # GRS 1967 Modified (SAD69)
}


def _fuse(*exprs):
    """`stage` on the fused backends: the identity (one value back for
    one argument, a tuple for several)."""
    return exprs[0] if len(exprs) == 1 else exprs


class _ColBackend:
    lit = staticmethod(F.lit)
    sin = staticmethod(F.sin)
    cos = staticmethod(F.cos)
    tan = staticmethod(F.tan)
    sqrt = staticmethod(F.sqrt)
    radians = staticmethod(F.radians)
    log = staticmethod(F.log)
    exp = staticmethod(F.exp)
    atan = staticmethod(F.atan)
    atan2 = staticmethod(F.atan2)
    asin = staticmethod(F.asin)
    # piecewise primitives (Robinson spline / Goode seam / geos aspect
    # selection) — each has an identical-semantics twin in the SQL and
    # numpy backends so the dual-emitted formulas stay engine-vs-engine
    abs = staticmethod(F.abs)
    sign = staticmethod(F.signum)
    stage = staticmethod(_fuse)

    @staticmethod
    def lt(a, b):
        a = F.lit(a) if isinstance(a, (int, float)) else a
        return a < b

    @staticmethod
    def when(cond, t, f):
        return F.when(cond, t).otherwise(f)


class _Sql(str):
    def _b(self, op, other):
        return _Sql(f"({self} {op} {_sqlify(other)})")

    def _rb(self, op, other):
        return _Sql(f"({_sqlify(other)} {op} {self})")

    def __add__(self, o):
        return self._b("+", o)

    def __radd__(self, o):
        return self._rb("+", o)

    def __sub__(self, o):
        return self._b("-", o)

    def __rsub__(self, o):
        return self._rb("-", o)

    def __mul__(self, o):
        return self._b("*", o)

    def __rmul__(self, o):
        return self._rb("*", o)

    def __truediv__(self, o):
        return self._b("/", o)

    def __rtruediv__(self, o):
        return self._rb("/", o)


def _sqlify(v):
    return v if isinstance(v, _Sql) else _Sql(repr(float(v)))


class _SqlBackend:
    lit = staticmethod(_sqlify)
    stage = staticmethod(_fuse)

    @staticmethod
    def sin(x):
        return _Sql(f"SIN({x})")

    @staticmethod
    def cos(x):
        return _Sql(f"COS({x})")

    @staticmethod
    def tan(x):
        return _Sql(f"TAN({x})")

    @staticmethod
    def sqrt(x):
        return _Sql(f"SQRT({x})")

    @staticmethod
    def radians(x):
        return _Sql(f"RADIANS({x})")

    @staticmethod
    def log(x):
        return _Sql(f"LN({x})")

    @staticmethod
    def exp(x):
        return _Sql(f"EXP({x})")

    @staticmethod
    def atan(x):
        return _Sql(f"ATAN({x})")

    @staticmethod
    def atan2(y, x):
        return _Sql(f"ATAN2({y}, {x})")

    @staticmethod
    def asin(x):
        return _Sql(f"ASIN({x})")

    @staticmethod
    def abs(x):
        return _Sql(f"ABS({x})")

    @staticmethod
    def sign(x):
        # SIGN returns numeric in both Spark SQL and DuckDB; force
        # double so downstream arithmetic stays in one type
        return _Sql(f"(1.0 * SIGN({x}))")

    @staticmethod
    def lt(a, b):
        return _Sql(f"({_sqlify(a)} < {_sqlify(b)})")

    @staticmethod
    def when(cond, t, f):
        return _Sql(
            f"(CASE WHEN {cond} THEN {_sqlify(t)} ELSE {_sqlify(f)} END)")


class _StageRecorder(_SqlBackend):
    """The SQL backend with its stage cuts recorded: each
    `B.stage(*exprs)` call in a formula becomes one named stage
    ({column: SQL}) and hands back the stage's column names, so the
    rest of the formula reads the staged values by name. Run through
    `_apply_stages` (one Project per stage) or `sql_cte_chain` (one CTE
    per stage), the chain keeps every generated method small where the
    fused tree would not compile."""

    def __init__(self, prefix: str):
        self.prefix = prefix
        self.stages: list[dict[str, str]] = []

    def stage(self, *exprs):
        k = len(self.stages)
        names = [f"{self.prefix}{k}_{j}" for j in range(len(exprs))]
        self.stages.append({n: str(_sqlify(e)) for n, e in zip(names, exprs)})
        return _fuse(*map(_Sql, names))


def _tm_forward(B, lon, lat, lon0, a: float, f: float,
                k0: float = 0.9996, false_e: float = 500000.0,
                false_n: float = 0.0):
    """Snyder 8-9..8-15 forward Transverse Mercator on backend B.
    lon/lat in degrees (backend values); lon0 the central meridian
    (float, or a backend value for per-row zones)."""
    e2 = f * (2.0 - f)
    e4 = e2 * e2
    e6 = e4 * e2
    ep2 = e2 / (1.0 - e2)

    if isinstance(lon0, (int, float)):
        lon0 = B.lit(float(lon0))
    phi = B.radians(lat)
    lam = B.radians(lon - lon0)
    sphi = B.sin(phi)
    cphi = B.cos(phi)
    tphi = B.tan(phi)

    N = B.lit(a) / B.sqrt(1.0 - B.lit(e2) * sphi * sphi)
    T = tphi * tphi
    C = B.lit(ep2) * cphi * cphi
    A = lam * cphi

    m0 = 1.0 - e2 / 4.0 - 3.0 * e4 / 64.0 - 5.0 * e6 / 256.0
    m2 = 3.0 * e2 / 8.0 + 3.0 * e4 / 32.0 + 45.0 * e6 / 1024.0
    m4 = 15.0 * e4 / 256.0 + 45.0 * e6 / 1024.0
    m6 = 35.0 * e6 / 3072.0
    M = B.lit(a) * (
        B.lit(m0) * phi
        - B.lit(m2) * B.sin(phi * 2.0)
        + B.lit(m4) * B.sin(phi * 4.0)
        - B.lit(m6) * B.sin(phi * 6.0)
    )

    A2 = A * A
    A3 = A2 * A
    A4 = A2 * A2
    A5 = A4 * A
    A6 = A4 * A2
    easting = B.lit(false_e) + B.lit(k0) * N * (
        A
        + (1.0 - T + C) * A3 / 6.0
        + (5.0 - 18.0 * T + T * T + 72.0 * C - B.lit(58.0 * ep2)) * A5 / 120.0
    )
    northing = B.lit(false_n) + B.lit(k0) * (
        M
        + N * tphi * (
            A2 / 2.0
            + (5.0 - T + 9.0 * C + 4.0 * C * C) * A4 / 24.0
            + (61.0 - 58.0 * T + T * T + 600.0 * C - B.lit(330.0 * ep2)) * A6 / 720.0
        )
    )
    return easting, northing


def utm_params(epsg: int) -> tuple[str, int, bool]:
    """EPSG UTM code -> (ellipsoid, zone, south). 326xx/327xx WGS84,
    269xx NAD83 (GRS80), 267xx NAD27 (Clarke 1866)."""
    if 32601 <= epsg <= 32660:
        return "WGS84", epsg - 32600, False
    if 32701 <= epsg <= 32760:
        return "WGS84", epsg - 32700, True
    if 26901 <= epsg <= 26923:
        return "GRS80", epsg - 26900, False
    if 26701 <= epsg <= 26722:
        return "clrk66", epsg - 26700, False
    raise ValueError(f"not a supported UTM EPSG code: {epsg}")


def utm_forward(lon: Column, lat: Column, zone: int, ellipsoid: str = "WGS84",
                south: bool = False) -> tuple[Column, Column]:
    """(easting, northing) Column expressions — pure JVM math."""
    a, f = ELLIPSOIDS[ellipsoid]
    lon0 = -183.0 + 6.0 * zone
    return _tm_forward(
        _ColBackend, lon, lat, lon0, a, f,
        false_n=10000000.0 if south else 0.0,
    )


def to_utm(df: DataFrame, epsg: int, lon_col: str = "lon",
           lat_col: str = "lat") -> DataFrame:
    """Project lon/lat columns to the given UTM EPSG — the warped-layer
    coordinate step (generic/ogrwarpedlayer.cpp:166) for UTM targets."""
    ellps, zone, south = utm_params(epsg)
    e, n = utm_forward(F.col(lon_col), F.col(lat_col), zone, ellps, south)
    return df.withColumn("easting", e).withColumn("northing", n)


def utm_zone_of(lon: Column) -> Column:
    """Native UTM zone of a longitude (1..60)."""
    return F.least(F.lit(60), F.greatest(F.lit(1), (F.floor((lon + 180.0) / 6.0) + 1).cast("int")))


def utm_forward_native(lon: Column, lat: Column,
                       ellipsoid: str = "WGS84") -> tuple[Column, Column, Column]:
    """(zone, easting, northing) with each row projected into its own
    native UTM zone — column-only central meridian."""
    a, f = ELLIPSOIDS[ellipsoid]
    zone = utm_zone_of(lon)
    lon0 = zone.cast("double") * 6.0 - 183.0
    e, n = _tm_forward(_ColBackend, lon, lat, lon0, a, f)
    return zone, e, n


def _tm_inverse(B, easting, northing, lon0, a: float, f: float,
                k0: float = 0.9996, false_e: float = 500000.0,
                false_n: float = 0.0):
    """Snyder 8-16..8-25 inverse Transverse Mercator on backend B
    (footpoint-latitude series), returning (lon_deg, lat_deg)."""
    e2 = f * (2.0 - f)
    e4 = e2 * e2
    e6 = e4 * e2
    ep2 = e2 / (1.0 - e2)
    if isinstance(lon0, (int, float)):
        lon0 = B.lit(float(lon0))

    x = easting - B.lit(false_e)
    y = northing - B.lit(false_n)
    m0 = 1.0 - e2 / 4.0 - 3.0 * e4 / 64.0 - 5.0 * e6 / 256.0
    M = y / B.lit(k0)
    mu = M / B.lit(a * m0)
    sq = math.sqrt(1.0 - e2)
    e1 = (1.0 - sq) / (1.0 + sq)
    j1 = 3.0 * e1 / 2.0 - 27.0 * e1 ** 3 / 32.0
    j2 = 21.0 * e1 ** 2 / 16.0 - 55.0 * e1 ** 4 / 32.0
    j3 = 151.0 * e1 ** 3 / 96.0
    j4 = 1097.0 * e1 ** 4 / 512.0
    fp = (
        mu
        + B.lit(j1) * B.sin(mu * 2.0)
        + B.lit(j2) * B.sin(mu * 4.0)
        + B.lit(j3) * B.sin(mu * 6.0)
        + B.lit(j4) * B.sin(mu * 8.0)
    )
    sfp = B.sin(fp)
    cfp = B.cos(fp)
    tfp = B.tan(fp)
    C1 = B.lit(ep2) * cfp * cfp
    T1 = tfp * tfp
    # no pow in the backend: R1 = a(1-e2)/W^3, N1 = a/W, W = sqrt(1-e2 sin^2)
    W = B.sqrt(1.0 - B.lit(e2) * sfp * sfp)
    N1 = B.lit(a) / W
    R1 = B.lit(a * (1.0 - e2)) / (W * W * W)
    D = x / (N1 * B.lit(k0))
    D2 = D * D
    D3 = D2 * D
    D4 = D2 * D2
    D5 = D4 * D
    D6 = D4 * D2
    lat = fp - (N1 * tfp / R1) * (
        D2 / 2.0
        - (5.0 + 3.0 * T1 + 10.0 * C1 - 4.0 * C1 * C1 - B.lit(9.0 * ep2)) * D4 / 24.0
        + (61.0 + 90.0 * T1 + 298.0 * C1 + 45.0 * T1 * T1
           - B.lit(252.0 * ep2) - 3.0 * C1 * C1) * D6 / 720.0
    )
    lam = (
        D
        - (1.0 + 2.0 * T1 + C1) * D3 / 6.0
        + (5.0 - 2.0 * C1 + 28.0 * T1 - 3.0 * C1 * C1
           + B.lit(8.0 * ep2) + 24.0 * T1 * T1) * D5 / 120.0
    ) / cfp
    deg = 180.0 / math.pi
    return lon0 + lam * B.lit(deg), lat * B.lit(deg)


def utm_inverse(easting: Column, northing: Column, zone: int,
                ellipsoid: str = "WGS84", south: bool = False) -> tuple[Column, Column]:
    """(lon, lat) Column expressions from UTM easting/northing."""
    a, f = ELLIPSOIDS[ellipsoid]
    lon0 = -183.0 + 6.0 * zone
    return _tm_inverse(
        _ColBackend, easting, northing, lon0, a, f,
        false_n=10000000.0 if south else 0.0,
    )


def from_utm(df: DataFrame, epsg: int, e_col: str = "easting",
             n_col: str = "northing") -> DataFrame:
    ellps, zone, south = utm_params(epsg)
    lon, lat = utm_inverse(F.col(e_col), F.col(n_col), zone, ellps, south)
    return df.withColumn("lon", lon).withColumn("lat", lat)


# =====================================================================
# Conic + polar families: Lambert Conformal Conic (2SP), Albers Equal
# Area, Polar Stereographic (variant B, south aspect). Together with
# TM/UTM and Web-Mercator these cover the bulk of real-world EPSG
# traffic; the reference reaches them through PROJ
# (ogr/ogrct.cpp:1822, proj_trans_generic), here they are the Snyder
# closed forms (PP 1395: LCC eqs 15-1..15-11, Albers 14-1..14-11 +
# 3-18, Polar Stereographic 21-30..21-37 + 3-5) on the same
# dual-backend builder: constants in driver-side Python floats,
# per-point math emitted once as Columns AND as mirrored SQL.
# =====================================================================
def _msc(e2: float, phi: float) -> float:
    return math.cos(phi) / math.sqrt(1.0 - e2 * math.sin(phi) ** 2)


def _tsc(e: float, phi: float) -> float:
    s = e * math.sin(phi)
    return math.tan(math.pi / 4.0 - phi / 2.0) / ((1.0 - s) / (1.0 + s)) ** (e / 2.0)


def _qsc(e2: float, phi: float) -> float:
    e = math.sqrt(e2)
    s = math.sin(phi)
    return (1.0 - e2) * (
        s / (1.0 - e2 * s * s)
        - (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s))
    )


def _chi_series(e2: float):
    """Conformal -> geodetic latitude series (Snyder 3-5)."""
    e4 = e2 * e2
    e6 = e4 * e2
    e8 = e4 * e4
    return (
        e2 / 2.0 + 5.0 * e4 / 24.0 + e6 / 12.0 + 13.0 * e8 / 360.0,
        7.0 * e4 / 48.0 + 29.0 * e6 / 240.0 + 811.0 * e8 / 11520.0,
        7.0 * e6 / 120.0 + 81.0 * e8 / 1120.0,
        4279.0 * e8 / 161280.0,
    )


def _beta_series(e2: float):
    """Authalic -> geodetic latitude series (Snyder 3-18)."""
    e4 = e2 * e2
    e6 = e4 * e2
    return (
        e2 / 3.0 + 31.0 * e4 / 180.0 + 517.0 * e6 / 5040.0,
        23.0 * e4 / 360.0 + 251.0 * e6 / 3780.0,
        761.0 * e6 / 45360.0,
    )


def _t_expr(B, e: float, phi, sphi):
    """t(phi) per Snyder 15-9 as a backend expression."""
    return B.tan(B.lit(math.pi / 4.0) - phi * 0.5) / B.exp(
        B.lit(e / 2.0) * B.log((1.0 - sphi * B.lit(e)) / (1.0 + sphi * B.lit(e)))
    )


def lcc_forward(B, lon, lat, phi1: float, phi2: float, phi0: float,
                lon0: float, a: float, f: float,
                fe: float = 0.0, fn: float = 0.0):
    """Lambert Conformal Conic 2SP forward (Snyder 15-1..15-10)."""
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    p1, p2, p0 = map(math.radians, (phi1, phi2, phi0))
    m1, m2 = _msc(e2, p1), _msc(e2, p2)
    t1, t2, t0 = _tsc(e, p1), _tsc(e, p2), _tsc(e, p0)
    # tangent-cone limit (phi1 == phi2, the LCC-1SP method 9801 —
    # e.g. NCEP NAM grids with Latin1 == Latin2): n -> sin(phi1)
    n = (math.sin(p1) if abs(t1 - t2) < 1e-14
         else (math.log(m1) - math.log(m2))
         / (math.log(t1) - math.log(t2)))
    F_ = m1 / (n * t1 ** n)
    rho0 = a * F_ * t0 ** n

    phi = B.radians(lat)
    lam = B.radians(lon - B.lit(lon0))
    sphi = B.sin(phi)
    t = _t_expr(B, e, phi, sphi)
    rho = B.lit(a * F_) * B.exp(B.lit(n) * B.log(t))
    th = lam * B.lit(n)
    x = B.lit(fe) + rho * B.sin(th)
    y = B.lit(fn) + B.lit(rho0) - rho * B.cos(th)
    return x, y


def lcc_inverse(B, x, y, phi1: float, phi2: float, phi0: float,
                lon0: float, a: float, f: float,
                fe: float = 0.0, fn: float = 0.0):
    """LCC 2SP inverse (Snyder 15-1..15-11 reversed + 3-5 series)."""
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    p1, p2, p0 = map(math.radians, (phi1, phi2, phi0))
    m1, m2 = _msc(e2, p1), _msc(e2, p2)
    t1, t2, t0 = _tsc(e, p1), _tsc(e, p2), _tsc(e, p0)
    # tangent-cone limit (phi1 == phi2, the LCC-1SP method 9801 —
    # e.g. NCEP NAM grids with Latin1 == Latin2): n -> sin(phi1)
    n = (math.sin(p1) if abs(t1 - t2) < 1e-14
         else (math.log(m1) - math.log(m2))
         / (math.log(t1) - math.log(t2)))
    F_ = m1 / (n * t1 ** n)
    rho0 = a * F_ * t0 ** n
    sg = 1.0 if n >= 0 else -1.0
    c2, c4, c6, c8 = _chi_series(e2)

    xe = (x - B.lit(fe)) * B.lit(sg)
    yn = (B.lit(rho0) - (y - B.lit(fn))) * B.lit(sg)
    rho = B.sqrt(xe * xe + yn * yn)
    t = B.exp(B.lit(1.0 / n) * B.log(rho / B.lit(abs(a * F_))))
    chi = B.lit(math.pi / 2.0) - B.atan(t) * 2.0
    phi = (
        chi
        + B.lit(c2) * B.sin(chi * 2.0)
        + B.lit(c4) * B.sin(chi * 4.0)
        + B.lit(c6) * B.sin(chi * 6.0)
        + B.lit(c8) * B.sin(chi * 8.0)
    )
    lam = B.atan2(xe, yn) / B.lit(n) * B.lit(sg)
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


def albers_forward(B, lon, lat, phi1: float, phi2: float, phi0: float,
                   lon0: float, a: float, f: float,
                   fe: float = 0.0, fn: float = 0.0):
    """Albers Equal Area forward (Snyder 14-1..14-6)."""
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    p1, p2, p0 = map(math.radians, (phi1, phi2, phi0))
    m1, m2 = _msc(e2, p1), _msc(e2, p2)
    q1, q2, q0 = _qsc(e2, p1), _qsc(e2, p2), _qsc(e2, p0)
    n = (m1 * m1 - m2 * m2) / (q2 - q1)
    C = m1 * m1 + n * q1
    rho0 = a * math.sqrt(C - n * q0) / n

    phi = B.radians(lat)
    lam = B.radians(lon - B.lit(lon0))
    s = B.sin(phi)
    q = B.lit(1.0 - e2) * (
        s / (1.0 - B.lit(e2) * s * s)
        - B.lit(1.0 / (2.0 * e)) * B.log((1.0 - s * B.lit(e)) / (1.0 + s * B.lit(e)))
    )
    rho = B.lit(a / n) * B.sqrt(B.lit(C) - B.lit(n) * q)
    th = lam * B.lit(n)
    x = B.lit(fe) + rho * B.sin(th)
    y = B.lit(fn) + B.lit(rho0) - rho * B.cos(th)
    return x, y


def albers_inverse(B, x, y, phi1: float, phi2: float, phi0: float,
                   lon0: float, a: float, f: float,
                   fe: float = 0.0, fn: float = 0.0):
    """Albers inverse (Snyder 14-8..14-11 + 3-18 series)."""
    e2 = f * (2.0 - f)
    p1, p2, p0 = map(math.radians, (phi1, phi2, phi0))
    m1, m2 = _msc(e2, p1), _msc(e2, p2)
    q1, q2, q0 = _qsc(e2, p1), _qsc(e2, p2), _qsc(e2, p0)
    n = (m1 * m1 - m2 * m2) / (q2 - q1)
    C = m1 * m1 + n * q1
    rho0 = a * math.sqrt(C - n * q0) / n
    qp = _qsc(e2, math.pi / 2.0)
    b2, b4, b6 = _beta_series(e2)

    xe = x - B.lit(fe)
    yn = B.lit(rho0) - (y - B.lit(fn))
    rho = B.sqrt(xe * xe + yn * yn)
    q = (B.lit(C) - (rho * rho) * B.lit(n * n / (a * a))) / B.lit(n)
    beta = B.asin(q / B.lit(qp))
    phi = (
        beta
        + B.lit(b2) * B.sin(beta * 2.0)
        + B.lit(b4) * B.sin(beta * 4.0)
        + B.lit(b6) * B.sin(beta * 6.0)
    )
    lam = B.atan2(xe, yn) / B.lit(n)
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


def ps_south_forward(B, lon, lat, phi_f: float, lon0: float,
                     a: float, f: float, fe: float = 0.0, fn: float = 0.0):
    """Polar Stereographic variant B, SOUTH aspect (EPSG 9829; e.g.
    EPSG:3031/3976): Snyder 21-33..21-34 with the south-aspect signs."""
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    pf = math.radians(phi_f)
    # south aspect: evaluate the north-aspect formulas at -phi
    t_f = _tsc(e, -pf)
    m_f = _msc(e2, pf)

    phi = B.radians(lat)
    lam = B.radians(lon - B.lit(lon0))
    sphi = B.sin(phi * -1.0)
    t = _t_expr(B, e, phi * -1.0, sphi)
    rho = B.lit(a * m_f / t_f) * t
    x = B.lit(fe) + rho * B.sin(lam)
    y = B.lit(fn) + rho * B.cos(lam)
    return x, y


def ps_south_inverse(B, x, y, phi_f: float, lon0: float,
                     a: float, f: float, fe: float = 0.0, fn: float = 0.0):
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    pf = math.radians(phi_f)
    t_f = _tsc(e, -pf)
    m_f = _msc(e2, pf)
    c2, c4, c6, c8 = _chi_series(e2)

    xe = x - B.lit(fe)
    yn = y - B.lit(fn)
    rho = B.sqrt(xe * xe + yn * yn)
    t = rho * B.lit(t_f / (a * m_f))
    chi = B.lit(math.pi / 2.0) - B.atan(t) * 2.0
    phi_n = (
        chi
        + B.lit(c2) * B.sin(chi * 2.0)
        + B.lit(c4) * B.sin(chi * 4.0)
        + B.lit(c6) * B.sin(chi * 6.0)
        + B.lit(c8) * B.sin(chi * 8.0)
    )
    lam = B.atan2(xe, yn)
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), phi_n * B.lit(-deg)


def merc_forward(B, lon, lat, lon0: float, a: float, f: float,
                 fe: float = 0.0, fn: float = 0.0, k0: float = 1.0):
    """Ellipsoidal Mercator variant A forward (EPSG method 9804,
    Snyder 7-6..7-8): x = a k0 lam, y = -a k0 ln t(phi)."""
    e = math.sqrt(f * (2.0 - f))
    phi = B.radians(lat)
    lam = B.radians(lon - B.lit(lon0))
    sphi = B.sin(phi)
    t = _t_expr(B, e, phi, sphi)
    x = B.lit(fe) + B.lit(a * k0) * lam
    y = B.lit(fn) - B.lit(a * k0) * B.log(t)
    return x, y


def merc_inverse(B, x, y, lon0: float, a: float, f: float,
                 fe: float = 0.0, fn: float = 0.0, k0: float = 1.0):
    """Ellipsoidal Mercator variant A inverse (Snyder 7-9/7-10 + the
    3-5 conformal-latitude series)."""
    e2 = f * (2.0 - f)
    c2, c4, c6, c8 = _chi_series(e2)
    t = B.exp((B.lit(fn) - y) / B.lit(a * k0))
    chi = B.lit(math.pi / 2.0) - B.atan(t) * 2.0
    phi = (
        chi
        + B.lit(c2) * B.sin(chi * 2.0)
        + B.lit(c4) * B.sin(chi * 4.0)
        + B.lit(c6) * B.sin(chi * 6.0)
        + B.lit(c8) * B.sin(chi * 8.0)
    )
    deg = 180.0 / math.pi
    lam = (x - B.lit(fe)) / B.lit(a * k0)
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


def _sterea_consts(phi0: float, lon0: float, a: float, f: float, k0: float):
    """Conformal-sphere constants for Oblique Stereographic (EPSG
    method 9809, Guidance Note 7-2): R, n, c, chi0."""
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    p0 = math.radians(phi0)
    s0 = math.sin(p0)
    w_ = 1.0 - e2 * s0 * s0
    rho0 = a * (1.0 - e2) / w_ ** 1.5
    nu0 = a / math.sqrt(w_)
    R = math.sqrt(rho0 * nu0)
    n = math.sqrt(1.0 + e2 * math.cos(p0) ** 4 / (1.0 - e2))
    S1 = (1.0 + s0) / (1.0 - s0)
    S2 = (1.0 - e * s0) / (1.0 + e * s0)
    w1 = (S1 * S2 ** e) ** n
    sin_chi00 = (w1 - 1.0) / (w1 + 1.0)
    c = (n + s0) * (1.0 - sin_chi00) / ((n - s0) * (1.0 + sin_chi00))
    w2 = c * w1
    chi0 = math.asin((w2 - 1.0) / (w2 + 1.0))
    return e, e2, R, n, c, chi0


def sterea_forward(B, lon, lat, phi0: float, lon0: float, a: float, f: float,
                   k0: float = 1.0, fe: float = 0.0, fn: float = 0.0):
    """Oblique ("double") Stereographic forward (EPSG method 9809 —
    e.g. RD New / EPSG:28992): ellipsoid -> conformal sphere ->
    sphere stereographic."""
    e, e2, R, n, c, chi0 = _sterea_consts(phi0, lon0, a, f, k0)
    phi = B.radians(lat)
    lam = B.radians(lon - B.lit(lon0)) * B.lit(n)
    sphi = B.sin(phi)
    Sa = (1.0 + sphi) / (1.0 - sphi)
    Sb = (1.0 - sphi * B.lit(e)) / (1.0 + sphi * B.lit(e))
    w = B.lit(c) * B.exp(
        B.lit(n) * B.log(Sa * B.exp(B.lit(e) * B.log(Sb)))
    )
    chi = B.asin((w - 1.0) / (w + 1.0))
    schi, cchi = B.sin(chi), B.cos(chi)
    s0, c0 = math.sin(chi0), math.cos(chi0)
    Bden = 1.0 + schi * B.lit(s0) + cchi * B.lit(c0) * B.cos(lam)
    x = B.lit(fe) + B.lit(2.0 * R * k0) * cchi * B.sin(lam) / Bden
    y = B.lit(fn) + B.lit(2.0 * R * k0) * (
        schi * B.lit(c0) - cchi * B.lit(s0) * B.cos(lam)
    ) / Bden
    return x, y


def sterea_inverse(B, x, y, phi0: float, lon0: float, a: float, f: float,
                   k0: float = 1.0, fe: float = 0.0, fn: float = 0.0):
    """Oblique Stereographic inverse (EPSG 9809): sphere -> conformal
    latitude, then 2 unrolled isometric-latitude Newton steps back to
    the ellipsoid (the EPSG iteration at fixed depth — measured
    residual < 3e-9 deg over the full latitude range, and each
    additional unroll multiplies the emitted expression ~7x)."""
    e, e2, R, n, c, chi0 = _sterea_consts(phi0, lon0, a, f, k0)
    g = 2.0 * R * k0 * math.tan(math.pi / 4.0 - chi0 / 2.0)
    h = 4.0 * R * k0 * math.tan(chi0) + g
    xe = x - B.lit(fe)
    yn = y - B.lit(fn)
    i_ = B.atan2(xe, B.lit(h) + yn)
    j_ = B.atan2(xe, B.lit(g) - yn) - i_
    chi = B.lit(chi0) + B.atan(
        (yn - xe * B.tan(j_ * 0.5)) / B.lit(2.0 * R * k0)
    ) * 2.0
    lam = (j_ + i_ * 2.0) / B.lit(n)
    schi = B.sin(chi)
    psi = B.log((1.0 + schi) / ((1.0 - schi) * B.lit(c))) / B.lit(2.0 * n)
    # phi_1 = 2 atan(e^psi) - pi/2, then Newton on the isometric latitude
    phi = B.atan(B.exp(psi)) * 2.0 - B.lit(math.pi / 2.0)
    for _ in range(2):
        sphi = B.sin(phi)
        psi_i = B.log(
            B.tan(phi * 0.5 + B.lit(math.pi / 4.0))
            * B.exp(B.lit(e / 2.0) * B.log(
                (1.0 - sphi * B.lit(e)) / (1.0 + sphi * B.lit(e))
            ))
        )
        phi = phi - (psi_i - psi) * B.cos(phi) * (
            1.0 - sphi * sphi * B.lit(e2)
        ) / B.lit(1.0 - e2)
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


# ------------------------------------------------- meridional arc helpers
def _m_coeffs(e2: float):
    """Meridional-arc series coefficients (Snyder 3-21), per unit a."""
    e4, e6 = e2 * e2, e2 * e2 * e2
    return (
        1.0 - e2 / 4.0 - 3.0 * e4 / 64.0 - 5.0 * e6 / 256.0,
        3.0 * e2 / 8.0 + 3.0 * e4 / 32.0 + 45.0 * e6 / 1024.0,
        15.0 * e4 / 256.0 + 45.0 * e6 / 1024.0,
        35.0 * e6 / 3072.0,
    )


def _m_of(e2: float, phi: float) -> float:
    c0, c2, c4, c6 = _m_coeffs(e2)
    return (c0 * phi - c2 * math.sin(2 * phi)
            + c4 * math.sin(4 * phi) - c6 * math.sin(6 * phi))


def _m_expr(B, e2: float, phi):
    c0, c2, c4, c6 = _m_coeffs(e2)
    return (B.lit(c0) * phi - B.lit(c2) * B.sin(phi * 2.0)
            + B.lit(c4) * B.sin(phi * 4.0) - B.lit(c6) * B.sin(phi * 6.0))


def _mu_series(e2: float):
    """Rectifying -> geodetic latitude series (Snyder 3-26)."""
    e1 = (1.0 - math.sqrt(1.0 - e2)) / (1.0 + math.sqrt(1.0 - e2))
    return (
        3.0 * e1 / 2.0 - 27.0 * e1 ** 3 / 32.0,
        21.0 * e1 ** 2 / 16.0 - 55.0 * e1 ** 4 / 32.0,
        151.0 * e1 ** 3 / 96.0,
        1097.0 * e1 ** 4 / 512.0,
    )


def _phi_from_mu(B, e2: float, mu):
    s2, s4, s6, s8 = _mu_series(e2)
    return (mu + B.lit(s2) * B.sin(mu * 2.0) + B.lit(s4) * B.sin(mu * 4.0)
            + B.lit(s6) * B.sin(mu * 6.0) + B.lit(s8) * B.sin(mu * 8.0))


def eqdc_forward(B, lon, lat, phi1: float, phi2: float, phi0: float,
                 lon0: float, a: float, f: float,
                 fe: float = 0.0, fn: float = 0.0):
    """Equidistant Conic 2SP forward (Snyder 16-1..16-6, ellipsoidal;
    PROJ +proj=eqdc)."""
    e2 = f * (2.0 - f)
    p1, p2, p0 = map(math.radians, (phi1, phi2, phi0))
    m1, m2 = _msc(e2, p1), _msc(e2, p2)
    M1, M2, M0 = _m_of(e2, p1), _m_of(e2, p2), _m_of(e2, p0)
    n = (m1 - m2) / (M2 - M1)
    G = m1 / n + M1
    rho0 = a * (G - M0)

    phi = B.radians(lat)
    lam = B.radians(lon - B.lit(lon0))
    rho = B.lit(a) * (B.lit(G) - _m_expr(B, e2, phi))
    th = lam * B.lit(n)
    x = B.lit(fe) + rho * B.sin(th)
    y = B.lit(fn) + B.lit(rho0) - rho * B.cos(th)
    return x, y


def eqdc_inverse(B, x, y, phi1: float, phi2: float, phi0: float,
                 lon0: float, a: float, f: float,
                 fe: float = 0.0, fn: float = 0.0):
    """Equidistant Conic inverse (Snyder 16-7..16-10 + 3-26 series).
    Presets here use n > 0 (northern standard parallels)."""
    e2 = f * (2.0 - f)
    p1, p2, p0 = map(math.radians, (phi1, phi2, phi0))
    m1, m2 = _msc(e2, p1), _msc(e2, p2)
    M1, M2, M0 = _m_of(e2, p1), _m_of(e2, p2), _m_of(e2, p0)
    n = (m1 - m2) / (M2 - M1)
    G = m1 / n + M1
    rho0 = a * (G - M0)
    c0 = _m_coeffs(e2)[0]

    xe = x - B.lit(fe)
    yn = B.lit(rho0) - (y - B.lit(fn))
    rho = B.sqrt(xe * xe + yn * yn)
    mu = (B.lit(G) - rho / B.lit(a)) / B.lit(c0)
    phi = _phi_from_mu(B, e2, mu)
    lam = B.atan2(xe, yn) / B.lit(n)
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


def aeqd_north_forward(B, lon, lat, lon0: float, a: float, f: float,
                       fe: float = 0.0, fn: float = 0.0):
    """Azimuthal Equidistant, north polar aspect, ellipsoidal (Snyder
    25-1..25-2 with rho = Mp - M; PROJ +proj=aeqd +lat_0=90)."""
    e2 = f * (2.0 - f)
    Mp = a * _m_of(e2, math.pi / 2.0)
    phi = B.radians(lat)
    lam = B.radians(lon - B.lit(lon0))
    rho = B.lit(Mp) - B.lit(a) * _m_expr(B, e2, phi)
    x = B.lit(fe) + rho * B.sin(lam)
    y = B.lit(fn) - rho * B.cos(lam)
    return x, y


def aeqd_north_inverse(B, x, y, lon0: float, a: float, f: float,
                       fe: float = 0.0, fn: float = 0.0):
    """Polar AEQD inverse (Snyder 25-15..25-17 + 3-26 series)."""
    e2 = f * (2.0 - f)
    Mp = a * _m_of(e2, math.pi / 2.0)
    c0 = _m_coeffs(e2)[0]
    xe = x - B.lit(fe)
    yn = y - B.lit(fn)
    rho = B.sqrt(xe * xe + yn * yn)
    mu = (B.lit(Mp) - rho) / B.lit(a * c0)
    phi = _phi_from_mu(B, e2, mu)
    lam = B.atan2(xe, B.lit(0.0) - yn)
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


def sinu_forward(B, lon, lat, lon0: float, a: float, f: float,
                 fe: float = 0.0, fn: float = 0.0):
    """Sinusoidal (Sanson-Flamsteed) forward, ellipsoidal (Snyder
    30-1..30-2; PROJ +proj=sinu — the MODIS grid projection)."""
    e2 = f * (2.0 - f)
    phi = B.radians(lat)
    lam = B.radians(lon - B.lit(lon0))
    sphi = B.sin(phi)
    x = B.lit(fe) + B.lit(a) * lam * B.cos(phi) / B.sqrt(
        1.0 - B.lit(e2) * sphi * sphi)
    y = B.lit(fn) + B.lit(a) * _m_expr(B, e2, phi)
    return x, y


def sinu_inverse(B, x, y, lon0: float, a: float, f: float,
                 fe: float = 0.0, fn: float = 0.0):
    """Sinusoidal inverse (Snyder 30-6..30-8 + 3-26 series)."""
    e2 = f * (2.0 - f)
    c0 = _m_coeffs(e2)[0]
    mu = (y - B.lit(fn)) / B.lit(a * c0)
    phi = _phi_from_mu(B, e2, mu)
    sphi = B.sin(phi)
    lam = (x - B.lit(fe)) * B.sqrt(1.0 - B.lit(e2) * sphi * sphi) / (
        B.lit(a) * B.cos(phi))
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


def eqc_forward(B, lon, lat, phi1: float, lon0: float, a: float, f: float,
                fe: float = 0.0, fn: float = 0.0):
    """Equidistant Cylindrical / Plate Carree forward (EPSG method
    1028, ellipsoidal: E = nu1*cos(phi1)*lam, N = a*M(phi))."""
    e2 = f * (2.0 - f)
    p1 = math.radians(phi1)
    nu1 = a / math.sqrt(1.0 - e2 * math.sin(p1) ** 2)
    phi = B.radians(lat)
    lam = B.radians(lon - B.lit(lon0))
    x = B.lit(fe) + B.lit(nu1 * math.cos(p1)) * lam
    y = B.lit(fn) + B.lit(a) * _m_expr(B, e2, phi)
    return x, y


def eqc_inverse(B, x, y, phi1: float, lon0: float, a: float, f: float,
                fe: float = 0.0, fn: float = 0.0):
    e2 = f * (2.0 - f)
    p1 = math.radians(phi1)
    nu1 = a / math.sqrt(1.0 - e2 * math.sin(p1) ** 2)
    c0 = _m_coeffs(e2)[0]
    mu = (y - B.lit(fn)) / B.lit(a * c0)
    phi = _phi_from_mu(B, e2, mu)
    lam = (x - B.lit(fe)) / B.lit(nu1 * math.cos(p1))
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


def _moll_theta_seed(B, sp):
    """Least-squares odd polynomial theta(sin phi), fitted on the
    exact Newton solution over s in [-1, 1] (max error 0.026 rad for
    |phi| <= 85 deg) — shared by the Mollweide family and the Goode
    homolosine's Mollweide lobe."""
    s2 = sp * sp
    return sp * (
        B.lit(0.7542040984537863)
        + s2 * (B.lit(0.9686179578818089)
                + s2 * (B.lit(-5.619628137456549)
                        + s2 * (B.lit(16.185255610640205)
                                + s2 * (B.lit(-19.724335873942756)
                                        + s2 * B.lit(8.802375257557445)))))
    )


def _moll_theta(B, sp, stage):
    """theta solving 2*theta + sin(2*theta) = pi*sin(phi), from
    sp = sin(phi): the _moll_theta_seed guess plus 4 Newton steps,
    each step passed through `stage` (the identity for plain
    Mollweide; B.stage where Goode embeds it, one cut per step)."""
    target, th = stage(B.lit(math.pi) * sp, _moll_theta_seed(B, sp))
    for _ in range(4):
        th = stage(th - (th * 2.0 + B.sin(th * 2.0) - target) / (
            2.0 + B.cos(th * 2.0) * 2.0))
    return th


def _moll_xy(B, lam, th, a: float, fe: float = 0.0, fn: float = 0.0):
    """Mollweide x/y from lam (radians) and theta."""
    k = 2.0 * math.sqrt(2.0) / math.pi
    x = B.lit(fe) + B.lit(k * a) * lam * B.cos(th)
    y = B.lit(fn) + B.lit(math.sqrt(2.0) * a) * B.sin(th)
    return x, y


def moll_forward(B, lon, lat, lon0: float, a: float, f: float,
                 fe: float = 0.0, fn: float = 0.0):
    """Mollweide forward (Snyder 31-1..31-5; spherical formulation on
    the semi-major axis like PROJ +proj=moll +ellps=WGS84 +R_A-less
    usage in ESRI:54009). theta solves 2*theta + sin(2*theta) =
    pi*sin(phi): an odd-polynomial seed in sin(phi) (max error 0.026
    rad for |phi| <= 85 deg, the engine's derived-lat domain) + 4
    Newton steps (-> float precision). The seed matters because each
    Newton step QUADRUPLES the emitted expression size — seeding keeps
    the dual-emitted SQL tree at ~10^2 KB instead of the 4^8 blow-up
    a from-phi loop would need."""
    th = _moll_theta(B, B.sin(B.radians(lat)), _fuse)
    return _moll_xy(B, B.radians(lon - B.lit(lon0)), th, a, fe, fn)


def moll_inverse(B, x, y, lon0: float, a: float, f: float,
                 fe: float = 0.0, fn: float = 0.0):
    """Mollweide inverse (Snyder 31-6..31-8)."""
    th = B.asin((y - B.lit(fn)) / B.lit(math.sqrt(2.0) * a))
    phi = B.asin((th * 2.0 + B.sin(th * 2.0)) / B.lit(math.pi))
    k = 2.0 * math.sqrt(2.0) / math.pi
    lam = (x - B.lit(fe)) / (B.lit(k * a) * B.cos(th))
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


def _q_expr(B, e: float, e2: float, sphi):
    """Authalic q(phi) per Snyder 3-12 as a backend expression (the
    Column/SQL twin of the scalar _qsc)."""
    return B.lit(1.0 - e2) * (
        sphi / (1.0 - sphi * sphi * B.lit(e2))
        - B.lit(1.0 / (2.0 * e)) * B.log(
            (1.0 - sphi * B.lit(e)) / (1.0 + sphi * B.lit(e)))
    )


def _phi_from_beta(B, e2: float, beta):
    """Authalic -> geodetic latitude via the Snyder 3-18 closed series
    (no iteration: keeps the dual-emitted SQL tree small)."""
    c1, c2, c3 = _beta_series(e2)
    return (beta + B.lit(c1) * B.sin(beta * 2.0)
            + B.lit(c2) * B.sin(beta * 4.0)
            + B.lit(c3) * B.sin(beta * 6.0))


def laea_forward(B, lon, lat, phi0: float, lon0: float, a: float, f: float,
                 fe: float = 0.0, fn: float = 0.0):
    """Lambert Azimuthal Equal Area, ellipsoidal oblique aspect (EPSG
    method 9820, e.g. EPSG:3035 ETRS89 / LAEA Europe; Snyder
    24-3..24-19; reference reaches it via PROJ +proj=laea,
    ogr/ogrct.cpp:1822)."""
    e2 = 2.0 * f - f * f
    e = math.sqrt(e2)
    qp = _qsc(e2, math.pi / 2.0)
    p0 = math.radians(phi0)
    beta0 = math.asin(_qsc(e2, p0) / qp)
    rq = a * math.sqrt(qp / 2.0)
    d = a * _msc(e2, p0) / (rq * math.cos(beta0))
    phi = B.radians(lat)
    beta = B.asin(_q_expr(B, e, e2, B.sin(phi)) / B.lit(qp))
    lam = B.radians(lon - B.lit(lon0))
    bb = B.lit(rq) * B.sqrt(
        2.0 / (1.0 + B.lit(math.sin(beta0)) * B.sin(beta)
               + B.lit(math.cos(beta0)) * B.cos(beta) * B.cos(lam)))
    x = B.lit(fe) + bb * B.lit(d) * B.cos(beta) * B.sin(lam)
    y = B.lit(fn) + (bb / B.lit(d)) * (
        B.lit(math.cos(beta0)) * B.sin(beta)
        - B.lit(math.sin(beta0)) * B.cos(beta) * B.cos(lam))
    return x, y


def laea_inverse(B, x, y, phi0: float, lon0: float, a: float, f: float,
                 fe: float = 0.0, fn: float = 0.0):
    """LAEA ellipsoidal inverse (Snyder 24-26..24-31): rho -> angular
    distance ce -> authalic beta -> geodetic phi by the 3-18 series."""
    e2 = 2.0 * f - f * f
    qp = _qsc(e2, math.pi / 2.0)
    p0 = math.radians(phi0)
    beta0 = math.asin(_qsc(e2, p0) / qp)
    rq = a * math.sqrt(qp / 2.0)
    d = a * _msc(e2, p0) / (rq * math.cos(beta0))
    xp = (x - B.lit(fe)) / B.lit(d)
    yp = (y - B.lit(fn)) * B.lit(d)
    # with m = sin^2(ce/2) = (rho/(2Rq))^2: cos ce = 1-2m and
    # sin(ce)/rho = sqrt(1-m)/Rq — the 0/0 at the projection centre
    # (rho = 0) is removable, so emit the trig-free form directly
    m = (xp * xp + yp * yp) / B.lit(4.0 * rq * rq)
    cce = 1.0 - m * 2.0
    k = B.sqrt(1.0 - m) / B.lit(rq)
    sbeta = cce * B.lit(math.sin(beta0)) + yp * k * B.lit(math.cos(beta0))
    beta = B.asin(sbeta)
    lam = B.atan2(
        xp * k,
        cce * B.lit(math.cos(beta0)) - yp * B.lit(math.sin(beta0)) * k)
    deg = 180.0 / math.pi
    return (B.lit(lon0) + lam * B.lit(deg),
            _phi_from_beta(B, e2, beta) * B.lit(deg))


def cea_forward(B, lon, lat, phi1: float, lon0: float, a: float, f: float,
                fe: float = 0.0, fn: float = 0.0):
    """Lambert Cylindrical Equal Area, ellipsoidal (EPSG method 9835,
    e.g. EPSG:6933 WGS 84 / NSIDC EASE-Grid 2.0 Global; Snyder
    10-13..10-14): x = a k0 lam, y = a q / (2 k0)."""
    e2 = 2.0 * f - f * f
    e = math.sqrt(e2)
    k0 = _msc(e2, math.radians(phi1))
    lam = B.radians(lon - B.lit(lon0))
    q = _q_expr(B, e, e2, B.sin(B.radians(lat)))
    return (B.lit(fe) + B.lit(a * k0) * lam,
            B.lit(fn) + B.lit(a / (2.0 * k0)) * q)


def cea_inverse(B, x, y, phi1: float, lon0: float, a: float, f: float,
                fe: float = 0.0, fn: float = 0.0):
    """CEA ellipsoidal inverse (Snyder 10-17, 10-26 + 3-18 series)."""
    e2 = 2.0 * f - f * f
    qp = _qsc(e2, math.pi / 2.0)
    k0 = _msc(e2, math.radians(phi1))
    beta = B.asin((y - B.lit(fn)) * B.lit(2.0 * k0 / (a * qp)))
    deg = 180.0 / math.pi
    lam = (x - B.lit(fe)) / B.lit(a * k0)
    return (B.lit(lon0) + lam * B.lit(deg),
            _phi_from_beta(B, e2, beta) * B.lit(deg))


# --------------------------------------------------------------- Equal Earth
_EE_A1, _EE_A2, _EE_A3, _EE_A4 = 1.340264, -0.081106, 0.000893, 0.003796
_EE_M = math.sqrt(3.0) / 2.0
# odd least-squares seed for the Newton inverse theta(y/R), fitted on
# the converged solution over the full |theta| <= pi/3 range (max seed
# error 6.5e-7 rad; 2 Newton steps -> float precision). Same
# seed-then-fixed-steps design as moll_forward: it bounds the
# dual-emitted SQL tree instead of nesting a from-zero iteration.
_EE_SEED = (0.7461226043135681, 0.025115625692564106,
            0.0026604294346023764, -4.5734646288456894e-05,
            0.000182830667591629, -0.0002773684111987005,
            5.274562353392273e-06)


def _ee_y(B, th):
    t2 = th * th
    return th * (B.lit(_EE_A1) + t2 * B.lit(_EE_A2)
                 + t2 * t2 * t2 * (B.lit(_EE_A3) + t2 * B.lit(_EE_A4)))


def _ee_dy(B, th):
    t2 = th * th
    return (B.lit(_EE_A1) + t2 * B.lit(3.0 * _EE_A2)
            + t2 * t2 * t2 * (B.lit(7.0 * _EE_A3) + t2 * B.lit(9.0 * _EE_A4)))


def eqearth_forward(B, lon, lat, lon0: float, a: float, f: float,
                    fe: float = 0.0, fn: float = 0.0):
    """Equal Earth, ellipsoidal (EPSG method 1078, e.g. EPSG:8857
    WGS 84 / Equal Earth Greenwich; Savric/Patterson/Jenny 2018).
    Like PROJ +proj=eqearth the ellipsoid enters through the authalic
    latitude and the authalic radius R = a*sqrt(qp/2)."""
    e2 = 2.0 * f - f * f
    e = math.sqrt(e2)
    qp = _qsc(e2, math.pi / 2.0)
    r = a * math.sqrt(qp / 2.0)
    sbeta = _q_expr(B, e, e2, B.sin(B.radians(lat))) / B.lit(qp)
    th = B.asin(sbeta * B.lit(_EE_M))
    lam = B.radians(lon - B.lit(lon0))
    x = B.lit(fe) + B.lit(r / _EE_M) * lam * B.cos(th) / _ee_dy(B, th)
    y = B.lit(fn) + B.lit(r) * _ee_y(B, th)
    return x, y


def eqearth_inverse(B, x, y, lon0: float, a: float, f: float,
                    fe: float = 0.0, fn: float = 0.0):
    """Equal Earth inverse: Newton for the parametric latitude theta
    (seed polynomial + 2 steps), then beta = asin(sin theta / M) and
    the 3-18 authalic series."""
    e2 = 2.0 * f - f * f
    qp = _qsc(e2, math.pi / 2.0)
    r = a * math.sqrt(qp / 2.0)
    yh = (y - B.lit(fn)) / B.lit(r)
    y2 = yh * yh
    th = yh * (B.lit(_EE_SEED[0]) + y2 * (
        B.lit(_EE_SEED[1]) + y2 * (B.lit(_EE_SEED[2]) + y2 * (
            B.lit(_EE_SEED[3]) + y2 * (B.lit(_EE_SEED[4]) + y2 * (
                B.lit(_EE_SEED[5]) + y2 * B.lit(_EE_SEED[6])))))))
    # ONE Newton step: the seed is already 6.4e-7 rad, one quadratic
    # step lands at 1.6e-14 rad — below the 3-18 authalic-series floor
    # (1.4e-8 deg) that bounds the round-trip anyway. A second step
    # multiplied the emitted expression tree ~22x (each step
    # references th ~22 times through _ee_y/_ee_dy) and cost ~20 s of
    # Catalyst analysis per query at ANY data size.
    for _ in range(1):
        th = th - (_ee_y(B, th) - yh) / _ee_dy(B, th)
    beta = B.asin(B.sin(th) / B.lit(_EE_M))
    lam = (x - B.lit(fe)) * B.lit(_EE_M / r) * _ee_dy(B, th) / B.cos(th)
    deg = 180.0 / math.pi
    return (B.lit(lon0) + lam * B.lit(deg),
            _phi_from_beta(B, e2, beta) * B.lit(deg))


# ------------------------------------------------- world-map cylindricals
def mill_forward(B, lon, lat, lon0: float, a: float, f: float,
                 fe: float = 0.0, fn: float = 0.0):
    """Miller Cylindrical (Snyder 11-1..11-3; ESRI:54003
    World_Miller_Cylindrical — spherical on the semi-major axis, the
    ESRI Miller_Cylindrical method; reference reaches it via PROJ
    +proj=mill, named in frmts/gtiff/libgeotiff/geotiff_proj4.c)."""
    phi = B.radians(lat)
    lam = B.radians(lon - B.lit(lon0))
    x = B.lit(fe) + B.lit(a) * lam
    y = B.lit(fn) + B.lit(1.25 * a) * B.log(
        B.tan(B.lit(math.pi / 4.0) + phi * 0.4))
    return x, y


def mill_inverse(B, x, y, lon0: float, a: float, f: float,
                 fe: float = 0.0, fn: float = 0.0):
    """Miller inverse (Snyder 11-6..11-7)."""
    deg = 180.0 / math.pi
    phi = B.atan(B.exp((y - B.lit(fn)) * B.lit(0.8 / a))) * 2.5 \
        - B.lit(0.625 * math.pi)
    lam = (x - B.lit(fe)) / B.lit(a)
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


_GALL_XF = 1.0 / math.sqrt(2.0)
_GALL_YF = 1.0 + math.sqrt(2.0) / 2.0


def gall_forward(B, lon, lat, lon0: float, a: float, f: float,
                 fe: float = 0.0, fn: float = 0.0):
    """Gall Stereographic (Snyder p.108; ESRI:54016
    World_Gall_Stereographic — spherical on the semi-major axis):
    cylindrical stereographic from the equatorial antipode onto the
    secant cylinder at 45 deg."""
    phi = B.radians(lat)
    lam = B.radians(lon - B.lit(lon0))
    x = B.lit(fe) + B.lit(a * _GALL_XF) * lam
    y = B.lit(fn) + B.lit(a * _GALL_YF) * B.tan(phi * 0.5)
    return x, y


def gall_inverse(B, x, y, lon0: float, a: float, f: float,
                 fe: float = 0.0, fn: float = 0.0):
    deg = 180.0 / math.pi
    phi = B.atan((y - B.lit(fn)) / B.lit(a * _GALL_YF)) * 2.0
    lam = (x - B.lit(fe)) / B.lit(a * _GALL_XF)
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


# --------------------------------------------------------------- Hammer
def hammer_forward(B, lon, lat, lon0: float, a: float, f: float,
                   fe: float = 0.0, fn: float = 0.0):
    """Hammer (Hammer-Aitoff) equal-area forward (Snyder 24-4..24-5
    spherical azimuthal LAEA re-spaced 2:1; PROJ +proj=hammer, named
    in frmts/gtiff/libgeotiff/geotiff_proj4.c)."""
    l = B.radians(lon - B.lit(lon0))
    p = B.radians(lat)
    d = B.sqrt(1.0 + B.cos(p) * B.cos(l * 0.5))
    x = B.lit(fe) + B.lit(a * 2.0 * math.sqrt(2.0)) \
        * B.cos(p) * B.sin(l * 0.5) / d
    y = B.lit(fn) + B.lit(a * math.sqrt(2.0)) * B.sin(p) / d
    return x, y


def hammer_inverse(B, x, y, lon0: float, a: float, f: float,
                   fe: float = 0.0, fn: float = 0.0):
    """Hammer closed inverse. With unit-sphere coords (xu, yu) and
    u = cos(phi) cos(lam/2): z = sqrt(1 - xu^2/16 - yu^2/4) equals
    sqrt((1+u)/2), whence sin(phi) = z*yu and
    tan(lam/2) = (xu z / 2) / (2 z^2 - 1) exactly — the algebra is
    verified by the round-trip and equal-area tests."""
    xu = (x - B.lit(fe)) / B.lit(a)
    yu = (y - B.lit(fn)) / B.lit(a)
    z = B.sqrt(1.0 - xu * xu * B.lit(1.0 / 16.0)
               - yu * yu * B.lit(0.25))
    phi = B.asin(z * yu)
    lam = B.atan2(xu * z * 0.5, z * z * 2.0 - 1.0) * 2.0
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


# --------------------------------------------------------- Winkel Tripel
def _wintri_xy(B, l, p, cphi1: float):
    """Unit-sphere Winkel Tripel core: the arithmetic mean of the
    equirectangular (standard parallel phi1) and Aitoff projections,
    on backend values l/p in RADIANS. Shared by the fused forward and
    by every F-evaluation inside the staged Newton inverse."""
    v = B.cos(p) * B.cos(l * 0.5)
    al = B.atan2(B.sqrt(1.0 - v * v), v)  # acos via atan2: no domain
    #                                       clip needed at v -> 1
    # guard the removable 0/0 at the projection centre by dividing
    # through a safe denominator (keeps the numpy backend warning-free
    # and any eager SQL evaluation finite)
    safe = B.when(B.lt(al, 1e-8), B.lit(1.0), al)
    sc = B.when(B.lt(al, 1e-8), B.lit(1.0), B.sin(al) / safe)
    fx = (l * B.lit(cphi1) + B.cos(p) * B.sin(l * 0.5) * 2.0 / sc) * 0.5
    fy = (p + B.sin(p) / sc) * 0.5
    return fx, fy


def wintri_forward(B, lon, lat, phi1: float, lon0: float,
                   a: float, f: float, fe: float = 0.0, fn: float = 0.0):
    """Winkel Tripel (ESRI:54042 World_Winkel_Tripel — the National
    Geographic world map; reference via PROJ +proj=wintri, named in
    frmts/gtiff/libgeotiff/geotiff_proj4.c). Spherical on the
    semi-major axis; phi1 defaults to Winkel's acos(2/pi)."""
    l = B.radians(lon - B.lit(lon0))
    p = B.radians(lat)
    fx, fy = _wintri_xy(B, l, p, math.cos(math.radians(phi1)))
    return B.lit(fe) + B.lit(a) * fx, B.lit(fn) + B.lit(a) * fy


_WT_H = 1e-7  # central-difference step for the numeric Jacobian


def wintri_inverse(B, x, y, phi1: float, lon0: float,
                   a: float, f: float, fe: float = 0.0, fn: float = 0.0):
    """Winkel Tripel inverse: bivariate Newton with a numeric
    central-difference Jacobian (PROJ's wintri inverse is the same
    generic bivariate scheme), seeded at phi = y/R (exact on the
    central meridian) and the eqc/Aitoff-averaged lambda. Each step is
    five F-evaluations, so a fused tree quintuples per step: the
    declarative engines run it staged, three cuts per step."""
    cphi1 = math.cos(math.radians(phi1))
    xx, yy = B.stage((x - B.lit(fe)) / B.lit(a), (y - B.lit(fn)) / B.lit(a))
    p = yy
    lam = B.stage(xx * 2.0 / (B.lit(cphi1) + B.cos(p)))
    for _ in range(6):
        fx0, fy0 = _wintri_xy(B, lam, p, cphi1)
        fxl1, fyl1 = _wintri_xy(B, lam + B.lit(_WT_H), p, cphi1)
        fxl2, fyl2 = _wintri_xy(B, lam - B.lit(_WT_H), p, cphi1)
        fxp1, fyp1 = _wintri_xy(B, lam, p + B.lit(_WT_H), cphi1)
        fxp2, fyp2 = _wintri_xy(B, lam, p - B.lit(_WT_H), cphi1)
        rx, ry, a11, a12, a21, a22 = B.stage(
            fx0 - xx, fy0 - yy,
            (fxl1 - fxl2) / B.lit(2.0 * _WT_H),
            (fxp1 - fxp2) / B.lit(2.0 * _WT_H),
            (fyl1 - fyl2) / B.lit(2.0 * _WT_H),
            (fyp1 - fyp2) / B.lit(2.0 * _WT_H))
        det = B.stage(a11 * a22 - a12 * a21)
        lam, p = B.stage(lam - (a22 * rx - a12 * ry) / det,
                         p - (a11 * ry - a21 * rx) / det)
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), p * B.lit(deg)


# ---------------------------------------------------- Eckert IV and VI
# theta solves: IV: th + sin th cos th + 2 sin th = (2 + pi/2) sin phi
#               VI: th + sin th = (1 + pi/2) sin phi
# Seed-then-fixed-steps like moll_forward: least-squares odd
# polynomials theta(sin phi) fitted on the exact bisection solution
# over |phi| <= 85 deg (the derived-lat domain; Eckert IV's theta has
# a square-root pole singularity exactly like Mollweide's).
_ECK4_SEED = (0.8604771570998087, 0.9718199990292564,
              -5.301290093886336, 14.807648716891789,
              -17.55717508975529, 7.678986097172511)  # max err 0.026 rad
_ECK6_SEED = (1.2852661191517047, 0.18049283039717723,
              0.03242597849270673, 0.10455851454198765,
              -0.09865066132832583, 0.06666141587123196)  # 2.7e-5 rad
_ECK4_T = 2.0 + math.pi / 2.0
_ECK6_T = 1.0 + math.pi / 2.0
_ECK4_CX = 2.0 / math.sqrt(math.pi * (4.0 + math.pi))
_ECK4_CY = 2.0 * math.sqrt(math.pi / (4.0 + math.pi))
_ECK6_C = math.sqrt(2.0 + math.pi)


def _odd_poly(B, coefs, sp):
    s2 = sp * sp
    acc = B.lit(coefs[-1])
    for c in coefs[-2::-1]:
        acc = B.lit(c) + s2 * acc
    return sp * acc


def eck4_forward(B, lon, lat, lon0: float, a: float, f: float,
                 fe: float = 0.0, fn: float = 0.0):
    """Eckert IV (Snyder p.253; ESRI:54012 World_Eckert_IV, spherical
    on the semi-major axis; reference via PROJ +proj=eck4): seed + 4
    Newton steps on g(th) = th + sin th cos th + 2 sin th,
    g' = 2 cos th (1 + cos th). Four steps like moll_forward — the
    seed error profile is the same 0.026 rad and the pole-adjacent
    convergence needs the fourth step for float precision. Fused, the
    4-step tree costs ~15 s of Catalyst/janino compile per query at
    any data size; staged (one cut per step) it takes milliseconds."""
    sp, lam = B.stage(B.sin(B.radians(lat)), B.radians(lon - B.lit(lon0)))
    t, th = B.stage(B.lit(_ECK4_T) * sp, _odd_poly(B, _ECK4_SEED, sp))
    for _ in range(4):
        c = B.cos(th)
        s = B.sin(th)
        th = B.stage(th - (th + s * c + s * 2.0 - t) / (c * (c + 1.0) * 2.0))
    x = B.lit(fe) + B.lit(_ECK4_CX * a) * lam * (1.0 + B.cos(th))
    y = B.lit(fn) + B.lit(_ECK4_CY * a) * B.sin(th)
    return x, y


def eck4_inverse(B, x, y, lon0: float, a: float, f: float,
                 fe: float = 0.0, fn: float = 0.0):
    """Eckert IV inverse — closed (Snyder 32-15..32-17 analogues)."""
    th = B.asin((y - B.lit(fn)) / B.lit(_ECK4_CY * a))
    phi = B.asin((th + B.sin(th) * B.cos(th) + B.sin(th) * 2.0)
                 / B.lit(_ECK4_T))
    lam = (x - B.lit(fe)) / (B.lit(_ECK4_CX * a) * (1.0 + B.cos(th)))
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


def eck6_forward(B, lon, lat, lon0: float, a: float, f: float,
                 fe: float = 0.0, fn: float = 0.0):
    """Eckert VI (ESRI:54010 World_Eckert_VI, spherical on the
    semi-major axis; reference via PROJ +proj=eck6): seed + 2 Newton
    steps on g(th) = th + sin th (no pole singularity: g' = 1 +
    cos th >= 1 at the equator and stays positive)."""
    sp = B.sin(B.radians(lat))
    t = B.lit(_ECK6_T) * sp
    th = _odd_poly(B, _ECK6_SEED, sp)
    for _ in range(2):
        th = th - (th + B.sin(th) - t) / (1.0 + B.cos(th))
    lam = B.radians(lon - B.lit(lon0))
    x = B.lit(fe) + B.lit(a / _ECK6_C) * lam * (1.0 + B.cos(th))
    y = B.lit(fn) + B.lit(2.0 * a / _ECK6_C) * th
    return x, y


def eck6_inverse(B, x, y, lon0: float, a: float, f: float,
                 fe: float = 0.0, fn: float = 0.0):
    th = (y - B.lit(fn)) * B.lit(_ECK6_C / (2.0 * a))
    phi = B.asin((th + B.sin(th)) / B.lit(_ECK6_T))
    lam = (x - B.lit(fe)) * B.lit(_ECK6_C / a) / (1.0 + B.cos(th))
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


# ------------------------------------------------------------- Robinson
# The published Robinson (1974) node table: parallel length (X) and
# parallel distance from equator (Y), one node per 5 degrees. The
# projection is DEFINED only at the nodes; between them any smooth
# interpolant is a legitimate realization (PROJ's own coefficient
# table changed in 2017). This engine uses the natural cubic spline
# through the nodes, solved once at import in pure Python — at the
# nodes themselves every realization agrees with the table exactly.
_ROBIN_X = (1.0000, 0.9986, 0.9954, 0.9900, 0.9822, 0.9730, 0.9600,
            0.9427, 0.9216, 0.8962, 0.8679, 0.8350, 0.7986, 0.7597,
            0.7186, 0.6732, 0.6213, 0.5722, 0.5322)
_ROBIN_Y = (0.0000, 0.0620, 0.1240, 0.1860, 0.2480, 0.3100, 0.3720,
            0.4340, 0.4958, 0.5571, 0.6176, 0.6769, 0.7346, 0.7903,
            0.8435, 0.8936, 0.9394, 0.9761, 1.0000)
_ROBIN_FXC = 0.8487
_ROBIN_FYC = 1.3523


def _nat_spline(ys, h: float):
    """Natural cubic spline coefficients per interval: returns a list
    of (c0, c1, c2, c3) with P(z) = c0 + z(c1 + z(c2 + z c3)),
    z in [0, h]. Thomas-algorithm tridiagonal solve, pure Python
    floats (deterministic; runs once at import)."""
    n = len(ys) - 1
    # second derivatives M_i, natural BC M0 = Mn = 0
    sub = [h] * (n - 1)
    diag = [4.0 * h] * (n - 1)
    rhs = [6.0 * ((ys[i + 1] - ys[i]) / h - (ys[i] - ys[i - 1]) / h)
           for i in range(1, n)]
    for i in range(1, n - 1):
        w = sub[i] / diag[i - 1]
        diag[i] -= w * h
        rhs[i] -= w * rhs[i - 1]
    m = [0.0] * (n + 1)
    for i in range(n - 2, -1, -1):
        m[i + 1] = (rhs[i] - (h * m[i + 2] if i < n - 2 else 0.0)) / diag[i]
    out = []
    for i in range(n):
        c1 = (ys[i + 1] - ys[i]) / h - h * (2.0 * m[i] + m[i + 1]) / 6.0
        out.append((ys[i], c1, m[i] / 2.0, (m[i + 1] - m[i]) / (6.0 * h)))
    return out


_ROBIN_CX = _nat_spline(_ROBIN_X, 5.0)
_ROBIN_CY = _nat_spline(_ROBIN_Y, 5.0)


def _robin_spline_eval(B, coefs, phi_d):
    """Flat 18-branch CASE over the 5-degree intervals; each branch a
    literal-coefficient cubic in z = phi_d - 5i. Flat (not nested
    per-coefficient) so the emitted tree stays ~2 KB."""
    def cubic(i):
        c0, c1, c2, c3 = coefs[i]
        z = phi_d - B.lit(5.0 * i)
        return B.lit(c0) + z * (B.lit(c1) + z * (B.lit(c2)
                                                 + z * B.lit(c3)))

    expr = cubic(17)
    for i in range(16, -1, -1):
        expr = B.when(B.lt(phi_d, 5.0 * (i + 1)), cubic(i), expr)
    return expr


def robin_forward(B, lon, lat, lon0: float, a: float, f: float,
                  fe: float = 0.0, fn: float = 0.0):
    """Robinson (ESRI:54030 World_Robinson; reference reaches it via
    PROJ +proj=robin, named in frmts/gtiff/libgeotiff/geotiff_proj4.c):
    x = 0.8487 R X(|phi|) lam, y = 1.3523 R Y(|phi|) sign(phi), with
    X/Y the node-table splines."""
    phi_d = B.abs(lat)
    lam = B.radians(lon - B.lit(lon0))
    xf = _robin_spline_eval(B, _ROBIN_CX, phi_d)
    yf = _robin_spline_eval(B, _ROBIN_CY, phi_d)
    x = B.lit(fe) + B.lit(_ROBIN_FXC * a) * xf * lam
    y = B.lit(fn) + B.lit(_ROBIN_FYC * a) * yf * B.sign(B.radians(lat))
    return x, y


def robin_inverse(B, x, y, lon0: float, a: float, f: float,
                  fe: float = 0.0, fn: float = 0.0):
    """Robinson inverse: the Y-spline is strictly monotone, so the
    interval is selected EXACTLY by comparing the target against the
    node values (one flat CASE per coefficient, chosen once), then a
    linear seed plus three generic Newton steps on that interval's
    cubic recover z (the spline is near-linear per interval: the seed
    is already < 0.05 deg off); lam divides out the X-spline at the
    recovered latitude. Each step reads the chosen coefficients and z
    several times, so the fused tree trips the JVM 64 KB codegen
    limit: one cut per step."""
    t, sgn, xx = B.stage(B.abs(y - B.lit(fn)) / B.lit(_ROBIN_FYC * a),
                         B.sign(y - B.lit(fn)), x - B.lit(fe))

    def sel(vals):
        expr = B.lit(vals[17])
        for i in range(16, -1, -1):
            expr = B.when(B.lt(t, _ROBIN_Y[i + 1]), B.lit(vals[i]), expr)
        return expr

    c0, c1, c2, c3, x0, x1, x2, x3, base, y0, slope = B.stage(
        *(sel([c[k] for c in _ROBIN_CY]) for k in range(4)),
        *(sel([c[k] for c in _ROBIN_CX]) for k in range(4)),
        sel([5.0 * i for i in range(18)]), sel(_ROBIN_Y[:18]),
        sel([(_ROBIN_Y[i + 1] - _ROBIN_Y[i]) / 5.0 for i in range(18)]))
    z = B.stage((t - y0) / slope)
    for _ in range(3):
        z = B.stage(z - (((c3 * z + c2) * z + c1) * z + c0 - t)
                    / ((3.0 * c3 * z + 2.0 * c2) * z + c1))
    deg = 180.0 / math.pi
    xf = ((x3 * z + x2) * z + x1) * z + x0
    return (B.lit(lon0) + xx / (B.lit(_ROBIN_FXC * a) * xf) * B.lit(deg),
            (base + z) * sgn)


# ------------------------------------------------- Goode homolosine
def _goode_consts():
    """phi_lim: the latitude where the sinusoidal and Mollweide
    parallels have equal length (pi cos phi = 2 sqrt(2) cos theta with
    the Mollweide theta(phi) relation) — the classic 40d44'; y_corr:
    the Mollweide-frame y offset that makes the seam meet. Solved by
    bisection in pure Python at import (deterministic)."""
    def h(phi):
        th = math.acos(min(1.0, math.pi * math.cos(phi)
                           / (2.0 * math.sqrt(2.0))))
        return 2.0 * th + math.sin(2.0 * th) - math.pi * math.sin(phi)

    lo, hi = math.radians(30.0), math.radians(60.0)
    for _ in range(200):
        mid = 0.5 * (lo + hi)
        if h(lo) * h(mid) <= 0.0:
            hi = mid
        else:
            lo = mid
    phi_lim = 0.5 * (lo + hi)
    th = math.acos(math.pi * math.cos(phi_lim) / (2.0 * math.sqrt(2.0)))
    return phi_lim, math.sqrt(2.0) * math.sin(th) - phi_lim


_GOODE_PHI_LIM, _GOODE_Y_COR = _goode_consts()


def goode_forward(B, lon, lat, lon0: float, a: float, f: float,
                  fe: float = 0.0, fn: float = 0.0):
    """Goode homolosine, uninterrupted (+proj=goode; spherical on the
    semi-major axis like the engine's Mollweide): sinusoidal inside
    |phi| <= 40d44', Mollweide shifted by y_corr outside. x is
    continuous at the seam by the phi_lim definition. The seam CASE
    in each output column defeats Catalyst's subexpression
    elimination on the embedded Mollweide Newton, so that Newton is
    cut once per step."""
    phi, lam = B.stage(B.radians(lat), B.radians(lon - B.lit(lon0)))
    th = _moll_theta(B, B.stage(B.sin(phi)), B.stage)
    xm, ym = _moll_xy(B, lam, th, a)
    cond = B.lt(B.abs(phi), _GOODE_PHI_LIM)
    x = B.lit(fe) + B.when(cond, B.lit(a) * lam * B.cos(phi), xm)
    y = B.lit(fn) + B.when(
        cond, B.lit(a) * phi, ym - B.sign(phi) * B.lit(a * _GOODE_Y_COR))
    return x, y


def goode_inverse(B, x, y, lon0: float, a: float, f: float,
                  fe: float = 0.0, fn: float = 0.0):
    """Goode inverse: branch on |y| against the seam ordinate; the
    Mollweide branch un-shifts y first. Both branches stay inside
    their functions' domains for all on-sphere inputs, so the
    untaken branch never produces an error (just a discarded
    value)."""
    yy, xx = B.stage((y - B.lit(fn)) / B.lit(a), x - B.lit(fe))
    deg = 180.0 / math.pi
    lat_s = yy * B.lit(deg)
    lon_s = B.lit(lon0) + xx / (B.lit(a) * B.cos(yy)) * B.lit(deg)
    ym = (y - B.lit(fn)) + B.sign(yy) * B.lit(a * _GOODE_Y_COR)
    lon_m, lat_m = moll_inverse(B, xx, ym, lon0, a, f)
    cond = B.lt(B.abs(yy), _GOODE_PHI_LIM)
    return B.when(cond, lon_s, lon_m), B.when(cond, lat_s, lat_m)


# --------------------------------------------- geostationary satellite
def geos_forward(B, lon, lat, h: float, lon0: float, sweep_x: float,
                 a: float, f: float, fe: float = 0.0, fn: float = 0.0):
    """Geostationary satellite view (+proj=geos; the CGMS LRIT/HRIT
    normalized geostationary projection used by Meteosat sweep=y and
    GOES-R ABI sweep=x; the reference's MSG driver frmts/msg and
    netCDF GOES products carry this CRS). View-vector construction on
    the ellipsoid, then scan angles about the sweep axis; x/y are
    h * angle (PROJ convention: radius_g_1 * angle on the unit sphere
    scaled by a). sweep_x is a per-preset Python scalar, so the
    branch resolves at expression-build time — no runtime CASE."""
    one_es = 1.0 - (2.0 * f - f * f)
    radius_p = math.sqrt(one_es)
    radius_g_1 = h / a
    radius_g = 1.0 + radius_g_1
    phi_c = B.atan(B.lit(one_es) * B.tan(B.radians(lat)))
    lam = B.radians(lon - B.lit(lon0))
    sc, cc = B.sin(phi_c), B.cos(phi_c)
    re = B.lit(radius_p) / B.sqrt(
        B.lit(one_es) * cc * cc + sc * sc)
    vx = re * cc * B.cos(lam)
    vy = re * cc * B.sin(lam)
    vz = re * sc
    tmp = B.lit(radius_g) - vx
    if sweep_x:
        # GOES-R ABI fixed grid: x = asin(Vy/|s|) = atan(Vy/hypot),
        # y = atan(Vz/sx) — matches the GOES-R PUG L1b grid equations
        xa = B.atan(vy / B.sqrt(vz * vz + tmp * tmp))
        ya = B.atan(vz / tmp)
    else:
        xa = B.atan(vy / tmp)
        ya = B.atan(vz / B.sqrt(vy * vy + tmp * tmp))
    k = a * radius_g_1
    return B.lit(fe) + B.lit(k) * xa, B.lit(fn) + B.lit(k) * ya


def geos_inverse(B, x, y, h: float, lon0: float, sweep_x: float,
                 a: float, f: float, fe: float = 0.0, fn: float = 0.0):
    """Geostationary inverse: intersect the view ray with the
    ellipsoid (quadratic in the ray parameter; the near root is the
    visible surface)."""
    e2 = 2.0 * f - f * f
    one_es = 1.0 - e2
    radius_p = math.sqrt(one_es)
    radius_g_1 = h / a
    radius_g = 1.0 + radius_g_1
    big_c = radius_g * radius_g - 1.0
    xa = (x - B.lit(fe)) / B.lit(a * radius_g_1)
    ya = (y - B.lit(fn)) / B.lit(a * radius_g_1)
    if sweep_x:
        vz = B.tan(ya)
        vy = B.tan(xa) * B.sqrt(vz * vz + 1.0)
    else:
        vy = B.tan(xa)
        vz = B.tan(ya) * B.sqrt(vy * vy + 1.0)
    az = vz / B.lit(radius_p)
    a_q = vy * vy + az * az + 1.0
    det = B.sqrt(B.lit(4.0 * radius_g * radius_g) - a_q * B.lit(4.0 * big_c))
    k = (B.lit(2.0 * radius_g) - det) / (a_q * 2.0)
    wx = B.lit(radius_g) - k
    lam = B.atan2(vy * k, wx)
    phi = B.atan(vz * k * B.cos(lam) / wx / B.lit(one_es))
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


def tmerc_forward(B, lon, lat, lon0: float, k0: float, a: float, f: float,
                  fe: float = 500000.0, fn: float = 0.0):
    """Non-UTM Transverse Mercator preset wrapper (EPSG method 9807
    with latitude-of-origin 0, e.g. EPSG:2193 NZGD2000 / NZTM2000) —
    same Snyder series as the UTM fast path."""
    return _tm_forward(B, lon, lat, lon0, a, f, k0=k0, false_e=fe,
                       false_n=fn)


def tmerc_inverse(B, x, y, lon0: float, k0: float, a: float, f: float,
                  fe: float = 500000.0, fn: float = 0.0):
    return _tm_inverse(B, x, y, lon0, a, f, k0=k0, false_e=fe, false_n=fn)


def tmso_forward(B, lon, lat, lon0: float, a: float, f: float,
                 k0: float = 1.0, fe: float = 0.0, fn: float = 0.0):
    """Transverse Mercator South Orientated (EPSG method 9808, the
    South African Lo grids, e.g. EPSG:2054 Hartebeesthoek94 / Lo29;
    reference via PROJ +proj=tmerc +axis=wsu, ogr/ogrct.cpp): same
    Snyder series as 9807 with westing = FE - E', southing = FN - N'."""
    x, y = _tm_forward(B, lon, lat, lon0, a, f, k0=k0,
                       false_e=0.0, false_n=0.0)
    return B.lit(fe) - x, B.lit(fn) - y


def tmso_inverse(B, w, s, lon0: float, a: float, f: float,
                 k0: float = 1.0, fe: float = 0.0, fn: float = 0.0):
    return _tm_inverse(B, B.lit(fe) - w, B.lit(fn) - s, lon0, a, f,
                       k0=k0, false_e=0.0, false_n=0.0)


# -------------------------------------------- Cassini-Soldner (EPSG 9806)
def cassini_forward(B, lon, lat, phi0: float, lon0: float,
                    a: float, f: float, fe: float = 0.0, fn: float = 0.0):
    """Cassini-Soldner forward (EPSG method 9806; Snyder 13-7..13-8
    ellipsoidal; reference via PROJ +proj=cass, named in
    frmts/gtiff/libgeotiff/geotiff_proj4.c). Anchored to the EPSG GN
    7-2 Trinidad 1903 worked example (10N 62W -> 66644.94 / 82536.22
    Clarke's links) in tests/test_crs_round5.py."""
    e2 = f * (2.0 - f)
    ep2 = e2 / (1.0 - e2)
    M0 = a * _m_of(e2, math.radians(phi0))

    phi = B.radians(lat)
    lam = B.radians(lon - B.lit(lon0))
    sphi = B.sin(phi)
    cphi = B.cos(phi)
    tphi = B.tan(phi)
    N = B.lit(a) / B.sqrt(1.0 - sphi * sphi * B.lit(e2))
    T = tphi * tphi
    A = lam * cphi
    C = cphi * cphi * B.lit(ep2)
    A2 = A * A
    x = B.lit(fe) + N * (
        A - T * A2 * A / 6.0
        - (B.lit(8.0) - T + C * 8.0) * T * A2 * A2 * A / 120.0
    )
    y = (B.lit(fn) + B.lit(a) * _m_expr(B, e2, phi) - B.lit(M0)
         + N * tphi * (A2 / 2.0 + (B.lit(5.0) - T + C * 6.0)
                       * A2 * A2 / 24.0))
    return x, y


def cassini_inverse(B, x, y, phi0: float, lon0: float,
                    a: float, f: float, fe: float = 0.0, fn: float = 0.0):
    """Cassini-Soldner inverse (Snyder 13-9..13-12 via the footpoint
    latitude of the 3-26 rectifying series)."""
    e2 = f * (2.0 - f)
    M0 = a * _m_of(e2, math.radians(phi0))
    c0 = _m_coeffs(e2)[0]

    mu1 = (B.lit(M0) + (y - B.lit(fn))) / B.lit(a * c0)
    phi1 = _phi_from_mu(B, e2, mu1)
    s1 = B.sin(phi1)
    t1 = B.tan(phi1)
    T1 = t1 * t1
    w1 = 1.0 - s1 * s1 * B.lit(e2)
    N1 = B.lit(a) / B.sqrt(w1)
    R1 = B.lit(a * (1.0 - e2)) / (w1 * B.sqrt(w1))
    D = (x - B.lit(fe)) / N1
    D2 = D * D
    phi = phi1 - (N1 * t1 / R1) * (D2 / 2.0 - (T1 * 3.0 + 1.0)
                                   * D2 * D2 / 24.0)
    lam = (D - T1 * D2 * D / 3.0
           + (T1 * 3.0 + 1.0) * T1 * D2 * D2 * D / 15.0) / B.cos(phi1)
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


# ---------------------------------------- American Polyconic (EPSG 9818)
def poly_forward(B, lon, lat, phi0: float, lon0: float,
                 a: float, f: float, fe: float = 0.0, fn: float = 0.0):
    """American Polyconic forward (EPSG method 9818; Snyder
    18-12..18-15 ellipsoidal, e.g. EPSG:29101 SAD69 / Brasil
    Polyconic; reference via PROJ +proj=poly). Exact closed form for
    phi != 0; the phi == 0 limit (x = a*lam) is the 0/0 of
    cot(phi)*sin(lam*sin(phi)) — presets keep the domain off the
    exact equator."""
    e2 = f * (2.0 - f)
    M0 = a * _m_of(e2, math.radians(phi0))

    phi = B.radians(lat)
    lam = B.radians(lon - B.lit(lon0))
    sphi = B.sin(phi)
    N = B.lit(a) / B.sqrt(1.0 - sphi * sphi * B.lit(e2))
    E = lam * sphi
    cot = B.cos(phi) / sphi
    x = B.lit(fe) + N * cot * B.sin(E)
    y = (B.lit(fn) + B.lit(a) * _m_expr(B, e2, phi) - B.lit(M0)
         + N * cot * (1.0 - B.cos(E)))
    return x, y


def poly_inverse(B, x, y, phi0: float, lon0: float,
                 a: float, f: float, fe: float = 0.0, fn: float = 0.0,
                 iters: int = 4):
    """American Polyconic inverse (Snyder 18-18..18-21 Newton). The
    fused tree grows ~48x per Newton step, so the declarative engines
    run it staged: two cuts per step."""
    e2 = f * (2.0 - f)
    c0, c2, c4, c6 = _m_coeffs(e2)
    M0 = a * _m_of(e2, math.radians(phi0))

    xp, A = B.stage((x - B.lit(fe)) / B.lit(a),
                    B.lit(M0 / a) + (y - B.lit(fn)) / B.lit(a))
    Bv = B.stage(xp * xp + A * A)
    phi = A
    for _ in range(iters):
        sphi = B.sin(phi)
        s2, C, Ma, Mna = B.stage(
            B.sin(phi * 2.0),
            B.sqrt(1.0 - sphi * sphi * B.lit(e2)) * B.tan(phi),
            _m_expr(B, e2, phi),
            B.lit(c0) - B.lit(2.0 * c2) * B.cos(phi * 2.0)
            + B.lit(4.0 * c4) * B.cos(phi * 4.0)
            - B.lit(6.0 * c6) * B.cos(phi * 6.0))
        num = A * (C * Ma + 1.0) - Ma - (Ma * Ma + Bv) * C * 0.5
        den = (B.lit(e2) * s2 * (Ma * Ma + Bv - A * Ma * 2.0)
               / (C * 4.0)
               + (A - Ma) * (C * Mna - B.lit(2.0) / s2) - Mna)
        phi = B.stage(phi - num / den)
    sphi = B.sin(phi)
    Cf = B.stage(B.sqrt(1.0 - sphi * sphi * B.lit(e2)) * B.tan(phi))
    lam = B.asin(xp * Cf) / sphi
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


# ------------------------------------------------------ Bonne (EPSG 9827)
def bonne_forward(B, lon, lat, phi1: float, lon0: float,
                  a: float, f: float, fe: float = 0.0, fn: float = 0.0):
    """Bonne pseudoconic equal-area forward (EPSG method 9827; Snyder
    14-3..14-5 ellipsoidal, e.g. ESRI:54024 World Bonne; reference via
    PROJ +proj=bonne +lat_1)."""
    e2 = f * (2.0 - f)
    p1 = math.radians(phi1)
    m1 = _msc(e2, p1)
    rho0 = a * m1 / math.sin(p1) + a * _m_of(e2, p1)

    phi = B.radians(lat)
    lam = B.radians(lon - B.lit(lon0))
    sphi = B.sin(phi)
    m = B.cos(phi) / B.sqrt(1.0 - sphi * sphi * B.lit(e2))
    rho = B.lit(rho0) - B.lit(a) * _m_expr(B, e2, phi)
    E = m * lam * B.lit(a) / rho
    x = B.lit(fe) + rho * B.sin(E)
    y = B.lit(fn) + B.lit(a * m1 / math.sin(p1)) - rho * B.cos(E)
    return x, y


def bonne_inverse(B, x, y, phi1: float, lon0: float,
                  a: float, f: float, fe: float = 0.0, fn: float = 0.0):
    """Bonne inverse (Snyder 14-9..14-11 + the 3-26 rectifying
    series; atan2 keeps the full |E| < 180 deg branch so the whole
    lon domain round-trips). Presets use phi1 > 0 (rho > 0)."""
    e2 = f * (2.0 - f)
    p1 = math.radians(phi1)
    m1 = _msc(e2, p1)
    rho0 = a * m1 / math.sin(p1) + a * _m_of(e2, p1)
    c0 = _m_coeffs(e2)[0]

    xp = x - B.lit(fe)
    top = B.lit(a * m1 / math.sin(p1)) - (y - B.lit(fn))
    rho = B.sqrt(xp * xp + top * top)
    mu = (B.lit(rho0) - rho) / B.lit(a * c0)
    phi = _phi_from_mu(B, e2, mu)
    sphi = B.sin(phi)
    m = B.cos(phi) / B.sqrt(1.0 - sphi * sphi * B.lit(e2))
    lam = rho * B.atan2(xp, top) / (m * B.lit(a))
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


# ---------------------------------- LAEA north polar aspect (EPSG 9820)
def laea_north_forward(B, lon, lat, lon0: float, a: float, f: float,
                       fe: float = 0.0, fn: float = 0.0):
    """Lambert Azimuthal Equal Area, NORTH POLAR aspect (Snyder
    24-23..24-25, e.g. EPSG:3575 WGS 84 / North Pole LAEA Europe —
    the standard Arctic analysis grid): the oblique formulas
    degenerate at beta0 = 90 (D divides by cos beta0), so the polar
    closed form rho = a*sqrt(qp - q) is its own family."""
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    qp = _qsc(e2, math.pi / 2.0)

    phi = B.radians(lat)
    lam = B.radians(lon - B.lit(lon0))
    rho = B.lit(a) * B.sqrt(B.lit(qp) - _q_expr(B, e, e2, B.sin(phi)))
    x = B.lit(fe) + rho * B.sin(lam)
    y = B.lit(fn) - rho * B.cos(lam)
    return x, y


def laea_north_inverse(B, x, y, lon0: float, a: float, f: float,
                       fe: float = 0.0, fn: float = 0.0):
    """Inverse via the authalic latitude series (Snyder 24-31, 3-18).
    atan2 longitude is principal-branch around lon0 (same contract as
    ps_north — preset queries bound the domain)."""
    e2 = f * (2.0 - f)
    qp = _qsc(e2, math.pi / 2.0)
    b2, b4, b6 = _beta_series(e2)

    xe = x - B.lit(fe)
    yn = y - B.lit(fn)
    rho2 = (xe * xe + yn * yn) / B.lit(a * a)
    beta = B.asin((B.lit(qp) - rho2) / B.lit(qp))
    phi = (beta
           + B.lit(b2) * B.sin(beta * 2.0)
           + B.lit(b4) * B.sin(beta * 4.0)
           + B.lit(b6) * B.sin(beta * 6.0))
    lam = B.atan2(xe, yn * -1.0)
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


def laea_south_forward(B, lon, lat, lon0: float, a: float, f: float,
                       fe: float = 0.0, fn: float = 0.0):
    """LAEA SOUTH polar aspect (Snyder 24-23 south forms, e.g.
    EPSG:6932 WGS 84 / NSIDC EASE-Grid 2.0 South): rho =
    a*sqrt(qp + q), y = FN + rho*cos(lam)."""
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    qp = _qsc(e2, math.pi / 2.0)

    phi = B.radians(lat)
    lam = B.radians(lon - B.lit(lon0))
    rho = B.lit(a) * B.sqrt(B.lit(qp) + _q_expr(B, e, e2, B.sin(phi)))
    x = B.lit(fe) + rho * B.sin(lam)
    y = B.lit(fn) + rho * B.cos(lam)
    return x, y


def laea_south_inverse(B, x, y, lon0: float, a: float, f: float,
                       fe: float = 0.0, fn: float = 0.0):
    e2 = f * (2.0 - f)
    qp = _qsc(e2, math.pi / 2.0)
    b2, b4, b6 = _beta_series(e2)

    xe = x - B.lit(fe)
    yn = y - B.lit(fn)
    rho2 = (xe * xe + yn * yn) / B.lit(a * a)
    beta = B.asin((rho2 - B.lit(qp)) / B.lit(qp))
    phi = (beta
           + B.lit(b2) * B.sin(beta * 2.0)
           + B.lit(b4) * B.sin(beta * 4.0)
           + B.lit(b6) * B.sin(beta * 6.0))
    lam = B.atan2(xe, yn)
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


# ------------------- Polar Stereographic variant A, north (EPSG 9810)
def ups_north_forward(B, lon, lat, lon0: float, k0: float,
                      a: float, f: float, fe: float = 0.0,
                      fn: float = 0.0):
    """Polar Stereographic variant A, NORTH aspect (EPSG method 9810;
    Snyder 21-33..21-34 with the 21-39 scaled rho — e.g. EPSG:5041
    WGS 84 / UPS North). Anchored to the EPSG GN 7-2 worked example
    (73N 44E -> 3320416.75 E, 632668.43 N) in tests."""
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    den = math.sqrt((1.0 + e) ** (1.0 + e) * (1.0 - e) ** (1.0 - e))

    phi = B.radians(lat)
    lam = B.radians(lon - B.lit(lon0))
    sphi = B.sin(phi)
    t = _t_expr(B, e, phi, sphi)
    rho = B.lit(2.0 * a * k0 / den) * t
    x = B.lit(fe) + rho * B.sin(lam)
    y = B.lit(fn) - rho * B.cos(lam)
    return x, y


def ups_south_forward(B, lon, lat, lon0: float, k0: float,
                      a: float, f: float, fe: float = 0.0,
                      fn: float = 0.0):
    """Polar Stereographic variant A, SOUTH aspect (EPSG:5042 WGS 84 /
    UPS South): the north formulas at -phi with N = FN + rho cos(lam).
    Tested as the exact mirror of the GN 7-2 north worked example."""
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    den = math.sqrt((1.0 + e) ** (1.0 + e) * (1.0 - e) ** (1.0 - e))

    phi = B.radians(lat)
    lam = B.radians(lon - B.lit(lon0))
    nphi = phi * -1.0
    t = _t_expr(B, e, nphi, B.sin(nphi))
    rho = B.lit(2.0 * a * k0 / den) * t
    x = B.lit(fe) + rho * B.sin(lam)
    y = B.lit(fn) + rho * B.cos(lam)
    return x, y


def ups_south_inverse(B, x, y, lon0: float, k0: float,
                      a: float, f: float, fe: float = 0.0,
                      fn: float = 0.0):
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    den = math.sqrt((1.0 + e) ** (1.0 + e) * (1.0 - e) ** (1.0 - e))
    c2, c4, c6, c8 = _chi_series(e2)

    xe = x - B.lit(fe)
    yn = y - B.lit(fn)
    rho = B.sqrt(xe * xe + yn * yn)
    t = rho * B.lit(den / (2.0 * a * k0))
    chi = B.lit(math.pi / 2.0) - B.atan(t) * 2.0
    phi = (chi
           + B.lit(c2) * B.sin(chi * 2.0)
           + B.lit(c4) * B.sin(chi * 4.0)
           + B.lit(c6) * B.sin(chi * 6.0)
           + B.lit(c8) * B.sin(chi * 8.0))
    lam = B.atan2(xe, yn)
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(-deg)


def ps_north_forward(B, lon, lat, phi_f: float, lon0: float,
                     a: float, f: float, fe: float = 0.0,
                     fn: float = 0.0):
    """Polar Stereographic variant B, NORTH aspect (EPSG method 9829
    mirrored from ps_south; e.g. EPSG:3413 NSIDC Sea Ice Polar
    Stereographic North, the standard Arctic climate-data grid):
    Snyder 21-33..21-34."""
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    pf = math.radians(phi_f)
    t_f = _tsc(e, pf)
    m_f = _msc(e2, pf)

    phi = B.radians(lat)
    lam = B.radians(lon - B.lit(lon0))
    t = _t_expr(B, e, phi, B.sin(phi))
    rho = B.lit(a * m_f / t_f) * t
    x = B.lit(fe) + rho * B.sin(lam)
    y = B.lit(fn) - rho * B.cos(lam)
    return x, y


def ps_north_inverse(B, x, y, phi_f: float, lon0: float,
                     a: float, f: float, fe: float = 0.0,
                     fn: float = 0.0):
    """Inverse of ps_north_forward. NOTE: the atan2 longitude is
    principal-branch around lon0 — for EPSG:3413 (lon0 = -45) points
    east of 135 E resolve to lon - 360; preset queries bound the
    domain accordingly."""
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    pf = math.radians(phi_f)
    t_f = _tsc(e, pf)
    m_f = _msc(e2, pf)
    c2, c4, c6, c8 = _chi_series(e2)

    xe = x - B.lit(fe)
    yn = y - B.lit(fn)
    rho = B.sqrt(xe * xe + yn * yn)
    t = rho * B.lit(t_f / (a * m_f))
    chi = B.lit(math.pi / 2.0) - B.atan(t) * 2.0
    phi = (chi
           + B.lit(c2) * B.sin(chi * 2.0)
           + B.lit(c4) * B.sin(chi * 4.0)
           + B.lit(c6) * B.sin(chi * 6.0)
           + B.lit(c8) * B.sin(chi * 8.0))
    lam = B.atan2(xe, yn * -1.0)
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


def ups_north_inverse(B, x, y, lon0: float, k0: float,
                      a: float, f: float, fe: float = 0.0,
                      fn: float = 0.0):
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    den = math.sqrt((1.0 + e) ** (1.0 + e) * (1.0 - e) ** (1.0 - e))
    c2, c4, c6, c8 = _chi_series(e2)

    xe = x - B.lit(fe)
    yn = y - B.lit(fn)
    rho = B.sqrt(xe * xe + yn * yn)
    t = rho * B.lit(den / (2.0 * a * k0))
    chi = B.lit(math.pi / 2.0) - B.atan(t) * 2.0
    phi = (chi
           + B.lit(c2) * B.sin(chi * 2.0)
           + B.lit(c4) * B.sin(chi * 4.0)
           + B.lit(c6) * B.sin(chi * 6.0)
           + B.lit(c8) * B.sin(chi * 8.0))
    lam = B.atan2(xe, yn * -1.0)
    deg = 180.0 / math.pi
    return B.lit(lon0) + lam * B.lit(deg), phi * B.lit(deg)


def _hom_consts(phic: float, lonc: float, alphac: float, kc: float,
                a: float, f: float):
    """Hotine Oblique Mercator variant B constants (EPSG method 9815,
    guidance note 7-2; Snyder ch. 9). Validated against the GN 7-2
    Timbalai 1948 / RSO Borneo worked example (1 cm) and the LV95
    centre anchor."""
    e2 = 2.0 * f - f * f
    e = math.sqrt(e2)
    pc = math.radians(phic)
    lc = math.radians(lonc)
    ac = math.radians(alphac)
    sp = math.sin(pc)
    b_ = math.sqrt(1.0 + e2 * math.cos(pc) ** 4 / (1.0 - e2))
    a_ = a * b_ * kc * math.sqrt(1.0 - e2) / (1.0 - e2 * sp * sp)
    t0 = math.tan(math.pi / 4.0 - pc / 2.0) / (
        ((1.0 - e * sp) / (1.0 + e * sp)) ** (e / 2.0))
    d = b_ * math.sqrt(1.0 - e2) / (
        math.cos(pc) * math.sqrt(1.0 - e2 * sp * sp))
    d2 = max(d * d, 1.0)
    f_ = d + math.sqrt(d2 - 1.0) * (1.0 if pc >= 0 else -1.0)
    h_ = f_ * t0 ** b_
    g_ = (f_ - 1.0 / f_) / 2.0
    g0 = math.asin(math.sin(ac) / d)
    l0 = lc - math.asin(g_ * math.tan(g0)) / b_
    if abs(alphac - 90.0) < 1e-12:
        uc = a_ * (lc - l0)
    else:
        uc = (a_ / b_) * math.atan2(math.sqrt(d2 - 1.0), math.cos(ac)) * (
            1.0 if pc >= 0 else -1.0)
    return e, e2, b_, a_, h_, g0, l0, abs(uc) * (1.0 if pc >= 0 else -1.0)


def hom_forward(B, lon, lat, phic: float, lonc: float, alphac: float,
                gammac: float, kc: float, a: float, f: float,
                fe: float = 0.0, fn: float = 0.0):
    """Hotine Oblique Mercator variant B forward (EPSG 9815, e.g.
    EPSG:2056 CH1903+/LV95 with the alpha=90 Swiss special case, and
    the RSO Borneo/Malaysia grids). fe/fn are the Easting/Northing at
    the projection centre (Ec, Nc)."""
    e, _, b_, a_, h_, g0, l0, uc = _hom_consts(phic, lonc, alphac, kc, a, f)
    gc = math.radians(gammac)
    phi = B.radians(lat)
    sp = B.sin(phi)
    t = _t_expr(B, e, phi, sp)
    q = B.lit(h_) / B.exp(B.lit(b_) * B.log(t))
    s = (q - 1.0 / q) * 0.5
    tt = (q + 1.0 / q) * 0.5
    dl = B.radians(lon) - B.lit(l0)
    v_ = B.sin(dl * B.lit(b_))
    u_ = (s * B.lit(math.sin(g0)) - v_ * B.lit(math.cos(g0))) / tt
    v = B.lit(a_ / (2.0 * b_)) * B.log((1.0 - u_) / (1.0 + u_))
    u = (B.lit(a_ / b_) * B.atan2(
        s * B.lit(math.cos(g0)) + v_ * B.lit(math.sin(g0)),
        B.cos(dl * B.lit(b_))) - B.lit(uc))
    x = B.lit(fe) + v * B.lit(math.cos(gc)) + u * B.lit(math.sin(gc))
    y = B.lit(fn) + u * B.lit(math.cos(gc)) - v * B.lit(math.sin(gc))
    return x, y


def hom_inverse(B, x, y, phic: float, lonc: float, alphac: float,
                gammac: float, kc: float, a: float, f: float,
                fe: float = 0.0, fn: float = 0.0):
    """HOM variant B inverse (EPSG 9815 reversed; conformal latitude
    recovered by the Snyder 3-5 series)."""
    e, e2, b_, a_, h_, g0, l0, uc = _hom_consts(phic, lonc, alphac, kc, a, f)
    gc = math.radians(gammac)
    xp = x - B.lit(fe)
    yp = y - B.lit(fn)
    u = xp * B.lit(math.sin(gc)) + yp * B.lit(math.cos(gc)) + B.lit(uc)
    v = xp * B.lit(math.cos(gc)) - yp * B.lit(math.sin(gc))
    q = B.exp(v * B.lit(-b_ / a_))
    s = (q - 1.0 / q) * 0.5
    tt = (q + 1.0 / q) * 0.5
    bu = u * B.lit(b_ / a_)
    v_ = B.sin(bu)
    u_ = (v_ * B.lit(math.cos(g0)) + s * B.lit(math.sin(g0))) / tt
    t = B.exp(B.lit(1.0 / b_) * B.log(
        B.lit(h_) / B.sqrt((1.0 + u_) / (1.0 - u_))))
    chi = B.lit(math.pi / 2.0) - B.atan(t) * 2.0
    c1, c2, c3, c4 = _chi_series(e2)
    phi = (chi + B.lit(c1) * B.sin(chi * 2.0) + B.lit(c2) * B.sin(chi * 4.0)
           + B.lit(c3) * B.sin(chi * 6.0) + B.lit(c4) * B.sin(chi * 8.0))
    lam = B.lit(l0) - B.atan2(
        s * B.lit(math.cos(g0)) - v_ * B.lit(math.sin(g0)), B.cos(bu)
    ) / b_
    deg = 180.0 / math.pi
    return lam * B.lit(deg), phi * B.lit(deg)


# ---------------------------------------------------------------- Laborde
def _laborde_consts(phic: float, lonc: float, alphac: float, kc: float,
                    a: float, f: float):
    """EPSG method 9813 constants (Guidance Note 7-2 §Laborde Oblique
    Mercator): Bc, phi_s, R, C and the complex cubic coefficient G."""
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    pc = math.radians(phic)
    sp, cp = math.sin(pc), math.cos(pc)
    Bc = math.sqrt(1.0 + e2 * cp ** 4 / (1.0 - e2))
    phis = math.asin(sp / Bc)
    R = a * kc * math.sqrt(1.0 - e2) / (1.0 - e2 * sp * sp)
    C = (math.log(math.tan(math.pi / 4.0 + phis / 2.0))
         - Bc * math.log(math.tan(math.pi / 4.0 + pc / 2.0)
                         * ((1.0 - e * sp) / (1.0 + e * sp)) ** (e / 2.0)))
    ac = math.radians(alphac)
    G = complex(1.0 - math.cos(2.0 * ac), math.sin(2.0 * ac)) / 12.0
    return e, e2, Bc, phis, R, C, G, math.radians(lonc)


def laborde_forward(B, lon, lat, phic: float, lonc: float, alphac: float,
                    kc: float, a: float, f: float,
                    fe: float = 0.0, fn: float = 0.0):
    """Laborde Oblique Mercator forward (EPSG method 9813, the
    Madagascar grid; reference names it in ogr/ogrspatialreference.cpp
    :6390 SetLOM and resolves it through PROJ +proj=labrd). Sphere
    rotation + complex cubic correction H + G*H^3, all B-backend
    column math."""
    e, _, Bc, phis, R, C, G, l0 = _laborde_consts(phic, lonc, alphac,
                                                  kc, a, f)
    ss, cs = math.sin(phis), math.cos(phis)
    phi = B.radians(lat)
    sphi = B.sin(phi)
    q = B.lit(C) + B.lit(Bc) * B.log(
        B.tan(phi * 0.5 + B.lit(math.pi / 4.0))
        * B.exp(B.lit(e / 2.0) * B.log((1.0 - sphi * B.lit(e))
                                       / (1.0 + sphi * B.lit(e)))))
    P = B.atan(B.exp(q)) * 2.0 - B.lit(math.pi / 2.0)
    L = (B.radians(lon) - B.lit(l0)) * B.lit(Bc)
    cP = B.cos(P)
    sP = B.sin(P)
    U = cP * B.cos(L) * B.lit(cs) + sP * B.lit(ss)
    V = cP * B.cos(L) * B.lit(ss) - sP * B.lit(cs)
    W = cP * B.sin(L)
    d = B.sqrt(U * U + V * V)
    Lp = B.atan2(V, U + d) * 2.0           # stable half-angle atan2
    Pp = B.atan2(W, d)
    # H = -L' + i*ln(tan(pi/4 + P'/2))
    hr = Lp * B.lit(-1.0)
    hi = B.log(B.tan(Pp * 0.5 + B.lit(math.pi / 4.0)))
    h3r = hr * hr * hr - hr * hi * hi * 3.0
    h3i = hr * hr * hi * 3.0 - hi * hi * hi
    zr = hr + B.lit(G.real) * h3r - B.lit(G.imag) * h3i
    zi = hi + B.lit(G.real) * h3i + B.lit(G.imag) * h3r
    return B.lit(fe) + zi * B.lit(R), B.lit(fn) + zr * B.lit(R)


def laborde_inverse(B, x, y, phic: float, lonc: float, alphac: float,
                    kc: float, a: float, f: float,
                    fe: float = 0.0, fn: float = 0.0):
    """Laborde inverse: two Newton steps on the complex cubic
    G*H^3 + H = zeta (the GN 7-2 iteration), inverse sphere rotation,
    conformal-latitude series (Snyder 3-5) instead of the iterative
    isometric solve. Fused, the two complex-cubic steps blow up to a
    multi-MB tree, so the declarative engines run it staged."""
    e, e2, Bc, phis, R, C, G, l0 = _laborde_consts(phic, lonc, alphac,
                                                   kc, a, f)
    ss, cs = math.sin(phis), math.cos(phis)
    zr, zi = B.stage((y - B.lit(fn)) / B.lit(R), (x - B.lit(fe)) / B.lit(R))
    hr, hi = zr, zi
    for _ in range(2):
        # H <- (zeta + 2 G H^3) / (3 G H^2 + 1)
        h2r, h2i = B.stage(hr * hr - hi * hi, hr * hi * 2.0)
        h3r, h3i = B.stage(h2r * hr - h2i * hi, h2r * hi + h2i * hr)
        nr, ni, dr, di = B.stage(
            zr + (B.lit(G.real) * h3r - B.lit(G.imag) * h3i) * 2.0,
            zi + (B.lit(G.real) * h3i + B.lit(G.imag) * h3r) * 2.0,
            (B.lit(G.real) * h2r - B.lit(G.imag) * h2i) * 3.0 + 1.0,
            (B.lit(G.real) * h2i + B.lit(G.imag) * h2r) * 3.0)
        dd = dr * dr + di * di
        hr, hi = B.stage((nr * dr + ni * di) / dd, (ni * dr - nr * di) / dd)
    Lp, Pp = B.stage(hr * B.lit(-1.0),
                     B.atan(B.exp(hi)) * 2.0 - B.lit(math.pi / 2.0))
    cPp = B.cos(Pp)
    sPp = B.sin(Pp)
    # inverse rotation (transpose of the forward's orthogonal matrix):
    # x = cosP'cosL'*cs + cosP'sinL'*ss, y = sinP',
    # z = cosP'cosL'*ss - cosP'sinL'*cs
    U, V, W = B.stage(
        cPp * B.cos(Lp) * B.lit(cs) + cPp * B.sin(Lp) * B.lit(ss),
        sPp,
        cPp * B.cos(Lp) * B.lit(ss) - cPp * B.sin(Lp) * B.lit(cs))
    d = B.stage(B.sqrt(U * U + V * V))
    L, P = B.stage(B.atan2(V, U + d) * 2.0, B.atan2(W, d))
    qp = B.stage((B.log(B.tan(P * 0.5 + B.lit(math.pi / 4.0))) - B.lit(C))
                 / B.lit(Bc))
    chi = B.stage(B.atan(B.exp(qp)) * 2.0 - B.lit(math.pi / 2.0))
    c1, c2, c3, c4 = _chi_series(e2)
    phi = (chi + B.lit(c1) * B.sin(chi * 2.0) + B.lit(c2) * B.sin(chi * 4.0)
           + B.lit(c3) * B.sin(chi * 6.0) + B.lit(c4) * B.sin(chi * 8.0))
    deg = 180.0 / math.pi
    lam = B.lit(l0) + L / B.lit(Bc)
    return lam * B.lit(deg), phi * B.lit(deg)


# ------------------------------------------------------------------ Krovak
_KROVAK = dict(
    phiC=49.5,                      # latitude of projection centre
    lon0=24.833333333333332,        # 24d50' E of Greenwich (42d30' Ferro)
    alphaC=30.288139752777778,      # azimuth of centre line 30d17'17.30311"
    phiP=78.5,                      # pseudo standard parallel
    kP=0.9999,
)


def _krovak_consts(a: float, f: float):
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    pC = math.radians(_KROVAK["phiC"])
    pP = math.radians(_KROVAK["phiP"])
    A_ = a * math.sqrt(1.0 - e2) / (1.0 - e2 * math.sin(pC) ** 2)
    B_ = math.sqrt(1.0 + e2 * math.cos(pC) ** 4 / (1.0 - e2))
    g0 = math.asin(math.sin(pC) / B_)
    t0 = (math.tan(math.pi / 4.0 + g0 / 2.0)
          * ((1.0 + e * math.sin(pC)) / (1.0 - e * math.sin(pC)))
          ** (e * B_ / 2.0)
          / math.tan(math.pi / 4.0 + pC / 2.0) ** B_)
    n = math.sin(pP)
    r0 = _KROVAK["kP"] * A_ / math.tan(pP)
    return e, e2, B_, g0, t0, n, r0, pP


def krovak_forward(B, lon, lat, a: float, f: float,
                   fe: float = 0.0, fn: float = 0.0):
    """Krovak oblique conformal conic (EPSG method 9819 / guidance
    note 7-2; PROJ +proj=krovak). Emits EPSG:5514 'Krovak East North'
    axes: East = -westing, North = -southing."""
    e, e2, B_, g0, t0, n, r0, pP = _krovak_consts(a, f)
    aC = math.radians(_KROVAK["alphaC"])
    lam0 = math.radians(_KROVAK["lon0"])
    pi4 = math.pi / 4.0

    phi = B.radians(lat)
    sphi = B.sin(phi)
    U = (B.atan(
        B.lit(t0)
        * B.exp(B.lit(B_) * B.log(B.tan(phi * 0.5 + B.lit(pi4))))
        * B.exp(B.lit(e * B_ / 2.0)
                * B.log((1.0 - sphi * B.lit(e)) / (1.0 + sphi * B.lit(e))))
    ) - B.lit(pi4)) * 2.0
    V = (B.lit(lam0) - B.radians(lon)) * B.lit(B_)
    T = B.asin(B.lit(math.cos(aC)) * B.sin(U)
               + B.lit(math.sin(aC)) * B.cos(U) * B.cos(V))
    D = B.asin(B.cos(U) * B.sin(V) / B.cos(T))
    th = D * B.lit(n)
    r = (B.lit(r0 * math.tan(pi4 + pP / 2.0) ** n)
         * B.exp(B.lit(-n) * B.log(B.tan(T * 0.5 + B.lit(pi4)))))
    southing = r * B.cos(th)
    westing = r * B.sin(th)
    return B.lit(fe) - westing, B.lit(fn) - southing


def krovak_inverse(B, x, y, a: float, f: float,
                   fe: float = 0.0, fn: float = 0.0):
    """Krovak inverse (EPSG 9819 reversed; phi by the standard
    4-iteration fixed point on the conformal latitude)."""
    e, e2, B_, g0, t0, n, r0, pP = _krovak_consts(a, f)
    aC = math.radians(_KROVAK["alphaC"])
    lam0 = math.radians(_KROVAK["lon0"])
    pi4 = math.pi / 4.0

    westing = B.lit(fe) - x
    southing = B.lit(fn) - y
    r = B.sqrt(westing * westing + southing * southing)
    th = B.atan2(westing, southing)
    D = th / B.lit(n)
    T = (B.atan(
        B.lit(math.tan(pi4 + pP / 2.0))
        * B.exp(B.lit(1.0 / n) * B.log(B.lit(r0) / r))
    ) - B.lit(pi4)) * 2.0
    U = B.asin(B.lit(math.cos(aC)) * B.sin(T)
               - B.lit(math.sin(aC)) * B.cos(T) * B.cos(D))
    V = B.asin(B.cos(T) * B.sin(D) / B.cos(U))
    lam = B.lit(lam0) - V / B.lit(B_)
    base = (B.lit(t0 ** (-1.0 / B_))
            * B.exp(B.lit(1.0 / B_) * B.log(B.tan(U * 0.5 + B.lit(pi4)))))
    phi = U
    for _ in range(4):
        sphi = B.sin(phi)
        phi = (B.atan(
            base * B.exp(B.lit(e / 2.0) * B.log(
                (1.0 + sphi * B.lit(e)) / (1.0 - sphi * B.lit(e))))
        ) - B.lit(pi4)) * 2.0
    deg = 180.0 / math.pi
    return lam * B.lit(deg), phi * B.lit(deg)


# EPSG presets for the conic/polar families
CONIC_PRESETS = {
    3395: ("merc", "WGS84",  # WGS 84 / World Mercator (ellipsoidal)
           dict(lon0=0.0, fe=0.0, fn=0.0)),
    28992: ("sterea", "bessel",  # Amersfoort / RD New (Netherlands)
            dict(phi0=52.15616055555556, lon0=5.38763888888889,
                 k0=0.9999079, fe=155000.0, fn=463000.0)),
    2154: ("lcc", "GRS80",  # RGF93 / Lambert-93 (France)
           dict(phi1=49.0, phi2=44.0, phi0=46.5, lon0=3.0,
                fe=700000.0, fn=6600000.0)),
    3347: ("lcc", "GRS80",  # NAD83 / Statistics Canada Lambert
           dict(phi1=49.0, phi2=77.0, phi0=63.390675,
                lon0=-91.86666666666666, fe=6200000.0, fn=3000000.0)),
    5070: ("albers", "GRS80",  # NAD83 / Conus Albers
           dict(phi1=29.5, phi2=45.5, phi0=23.0, lon0=-96.0,
                fe=0.0, fn=0.0)),
    3031: ("ps_south", "WGS84",  # Antarctic Polar Stereographic
           dict(phi_f=-71.0, lon0=0.0, fe=0.0, fn=0.0)),
    102031: ("eqdc", "GRS80",  # ESRI Europe Equidistant Conic (ETRS89)
             dict(phi1=43.0, phi2=62.0, phi0=30.0, lon0=10.0,
                  fe=0.0, fn=0.0)),
    102016: ("aeqd_north", "WGS84",  # ESRI North Pole Azimuthal Equidist.
             dict(lon0=0.0, fe=0.0, fn=0.0)),
    5514: ("krovak", "bessel",  # S-JTSK / Krovak East North (CZ/SK)
           dict(fe=0.0, fn=0.0)),
    54008: ("sinu", "WGS84",  # ESRI World Sinusoidal (MODIS-style)
            dict(lon0=0.0, fe=0.0, fn=0.0)),
    4087: ("eqc", "WGS84",  # WGS 84 / World Equidistant Cylindrical
           dict(phi1=0.0, lon0=0.0, fe=0.0, fn=0.0)),
    54009: ("moll", "WGS84",  # ESRI World Mollweide
            dict(lon0=0.0, fe=0.0, fn=0.0)),
    3035: ("laea", "GRS80",  # ETRS89-extended / LAEA Europe
           dict(phi0=52.0, lon0=10.0, fe=4321000.0, fn=3210000.0)),
    6933: ("cea", "WGS84",  # WGS 84 / NSIDC EASE-Grid 2.0 Global
           dict(phi1=30.0, lon0=0.0, fe=0.0, fn=0.0)),
    8857: ("eqearth", "WGS84",  # WGS 84 / Equal Earth Greenwich
           dict(lon0=0.0, fe=0.0, fn=0.0)),
    2056: ("hom", "bessel",  # CH1903+ / LV95 (Swiss Oblique Mercator)
           dict(phic=46.952405555555554, lonc=7.439583333333333,
                alphac=90.0, gammac=90.0, kc=1.0,
                fe=2600000.0, fn=1200000.0)),
    29873: ("hom", "evrst67",  # Timbalai 1948 / RSO Borneo (m) — the
            # EPSG GN 7-2 method-9815 worked example
            dict(phic=4.0, lonc=115.0, alphac=53.31582047908333,
                 gammac=53.13010236111111, kc=0.99984,
                 fe=590476.87, fn=442857.65)),
    2193: ("tmerc", "GRS80",  # NZGD2000 / New Zealand Transverse Merc.
           dict(lon0=173.0, k0=0.9996, fe=1600000.0, fn=10000000.0)),
    29701: ("laborde", "intl",  # Tananarive (Paris) / Laborde Grid —
            # EPSG method 9813; params in grads converted to degrees
            # (phi_c = 21g S, lon_c = 49g E of Paris, alpha_c = 21g)
            dict(phic=-18.9, lonc=46.43722916666667, alphac=18.9,
                 kc=0.9995, fe=400000.0, fn=800000.0)),
    30200: ("cassini", "clrk58links",  # Trinidad 1903 / Trinidad Grid
            # (Cassini-Soldner, method 9806) — Clarke's links, the
            # EPSG GN 7-2 worked example CRS
            dict(phi0=10.441666666666666, lon0=-61.333333333333336,
                 fe=430000.0, fn=325000.0)),
    29101: ("poly", "GRS67mod",  # SAD69 / Brasil Polyconic (9818)
            dict(phi0=0.0, lon0=-54.0, fe=5000000.0, fn=10000000.0)),
    54024: ("bonne", "WGS84",  # ESRI World Bonne (method 9827)
            dict(phi1=60.0, lon0=0.0, fe=0.0, fn=0.0)),
    5041: ("ups_north", "WGS84",  # WGS 84 / UPS North (E,N) — Polar
           # Stereographic variant A, north aspect (method 9810)
           dict(lon0=0.0, k0=0.994, fe=2000000.0, fn=2000000.0)),
    2054: ("tmso", "WGS84",  # Hartebeesthoek94 / Lo29 (method 9808,
           # TM South Orientated: westing/southing axes)
           dict(lon0=29.0, k0=1.0, fe=0.0, fn=0.0)),
    3413: ("ps_north", "WGS84",  # WGS 84 / NSIDC Sea Ice Polar
           # Stereographic North (variant B, lat_ts 70N, lon0 45W)
           dict(phi_f=70.0, lon0=-45.0, fe=0.0, fn=0.0)),
    5042: ("ups_south", "WGS84",  # WGS 84 / UPS South (E,N) —
           # Polar Stereographic variant A, south aspect
           dict(lon0=0.0, k0=0.994, fe=2000000.0, fn=2000000.0)),
    3575: ("laea_north", "WGS84",  # WGS 84 / North Pole LAEA Europe
           dict(lon0=10.0, fe=0.0, fn=0.0)),
    6931: ("laea_north", "WGS84",  # WGS 84 / NSIDC EASE-Grid 2.0 North
           dict(lon0=0.0, fe=0.0, fn=0.0)),
    6932: ("laea_south", "WGS84",  # WGS 84 / NSIDC EASE-Grid 2.0 South
           dict(lon0=0.0, fe=0.0, fn=0.0)),
    54003: ("mill", "WGS84",  # ESRI World_Miller_Cylindrical
            dict(lon0=0.0, fe=0.0, fn=0.0)),
    54016: ("gall", "WGS84",  # ESRI World_Gall_Stereographic
            dict(lon0=0.0, fe=0.0, fn=0.0)),
    54030: ("robin", "WGS84",  # ESRI World_Robinson
            dict(lon0=0.0, fe=0.0, fn=0.0)),
    54012: ("eck4", "WGS84",  # ESRI World_Eckert_IV
            dict(lon0=0.0, fe=0.0, fn=0.0)),
    54010: ("eck6", "WGS84",  # ESRI World_Eckert_VI
            dict(lon0=0.0, fe=0.0, fn=0.0)),
    54044: ("hammer", "WGS84",  # ESRI World_Hammer_Aitoff
            dict(lon0=0.0, fe=0.0, fn=0.0)),
    54042: ("wintri", "WGS84",  # ESRI World_Winkel_Tripel —
            # Winkel's standard parallel acos(2/pi)
            dict(phi1=math.degrees(math.acos(2.0 / math.pi)),
                 lon0=0.0, fe=0.0, fn=0.0)),
}

# Projections with no EPSG/ESRI code (geostationary full-disc CRSs
# ship as WKT in the products; uninterrupted Goode is a PROJ-only
# name): registered under fixed negative codes in the same synthetic
# namespace proj4.register_proj4 uses, so every dispatch surface
# (Columns where permitted, SQL, numpy, crs_to_crs hub) resolves them.
CODE_GOODE = -54052          # +proj=goode +lon_0=0 (sphere on WGS84 a)
CODE_GEOS_MSG = -90360       # Meteosat 0 deg full disc: +proj=geos
#                              +h=35785831 +sweep=y (EUMETSAT MSG/SEVIRI)
CODE_GEOS_GOES_EAST = -90750  # GOES-East ABI fixed grid: +proj=geos
#                              +h=35786023 +lon_0=-75 +sweep=x (GRS80)
CONIC_PRESETS[CODE_GOODE] = ("goode", "WGS84",
                             dict(lon0=0.0, fe=0.0, fn=0.0))
CONIC_PRESETS[CODE_GEOS_MSG] = (
    "geos", "WGS84",
    dict(h=35785831.0, lon0=0.0, sweep_x=0.0, fe=0.0, fn=0.0))
CONIC_PRESETS[CODE_GEOS_GOES_EAST] = (
    "geos", "GRS80",
    dict(h=35786023.0, lon0=-75.0, sweep_x=1.0, fe=0.0, fn=0.0))

_CONIC_FNS = {
    "lcc": (lcc_forward, lcc_inverse),
    "albers": (albers_forward, albers_inverse),
    "ps_south": (ps_south_forward, ps_south_inverse),
    "merc": (merc_forward, merc_inverse),
    "sterea": (sterea_forward, sterea_inverse),
    "eqdc": (eqdc_forward, eqdc_inverse),
    "aeqd_north": (aeqd_north_forward, aeqd_north_inverse),
    "krovak": (krovak_forward, krovak_inverse),
    "sinu": (sinu_forward, sinu_inverse),
    "eqc": (eqc_forward, eqc_inverse),
    "moll": (moll_forward, moll_inverse),
    "laea": (laea_forward, laea_inverse),
    "cea": (cea_forward, cea_inverse),
    "eqearth": (eqearth_forward, eqearth_inverse),
    "hom": (hom_forward, hom_inverse),
    "tmerc": (tmerc_forward, tmerc_inverse),
    "laborde": (laborde_forward, laborde_inverse),
    "cassini": (cassini_forward, cassini_inverse),
    "poly": (poly_forward, poly_inverse),
    "bonne": (bonne_forward, bonne_inverse),
    "ups_north": (ups_north_forward, ups_north_inverse),
    "ups_south": (ups_south_forward, ups_south_inverse),
    "ps_north": (ps_north_forward, ps_north_inverse),
    "laea_north": (laea_north_forward, laea_north_inverse),
    "laea_south": (laea_south_forward, laea_south_inverse),
    "tmso": (tmso_forward, tmso_inverse),
    "mill": (mill_forward, mill_inverse),
    "gall": (gall_forward, gall_inverse),
    "eck4": (eck4_forward, eck4_inverse),
    "eck6": (eck6_forward, eck6_inverse),
    "wintri": (wintri_forward, wintri_inverse),
    "hammer": (hammer_forward, hammer_inverse),
    "robin": (robin_forward, robin_inverse),
    "goode": (goode_forward, goode_inverse),
    "geos": (geos_forward, geos_inverse),
}

# EPSG/ESRI code -> projection family dispatch (the engine's answer to
# "which codes resolve"): every key of CONIC_PRESETS plus the UTM /
# web-mercator fast paths handled elsewhere.
#   326xx/327xx  -> Transverse Mercator (utm_forward/utm_inverse)
#   269xx        -> Transverse Mercator on GRS80 (NAD83 UTM)
#   3857         -> spherical web mercator (cells.py)
#   3395         -> ellipsoidal Mercator        | 2154, 3347 -> LCC 2SP
#   5070         -> Albers Equal Area           | 3031 -> Polar Stereo S
#   28992        -> Oblique Stereographic       | 5514 -> Krovak (9819)
#   102031(ESRI) -> Equidistant Conic           | 102016(ESRI) -> polar AEQD
#   54008(ESRI)  -> Sinusoidal (MODIS-style)    | 4087 -> Equidist. Cylindrical
#   54009(ESRI)  -> Mollweide                   | 3035 -> LAEA Europe (9820)
#   6933         -> Cylindrical Equal Area      | 8857 -> Equal Earth (1078)
#   2056         -> HOM variant B, Swiss LV95   | 29873 -> HOM-B RSO Borneo
#   30200        -> Cassini-Soldner (9806)      | 29101 -> Polyconic (9818)
#   54024(ESRI)  -> Bonne (9827)                | 5041 -> UPS North (9810)
#   2054         -> TM South Orientated (9808)  | 5042 -> UPS South (9810)
#   3413         -> NSIDC Polar Stereo North (9829)
#   3575         -> North Pole LAEA Europe (9820, polar aspect)
#   6931/6932    -> NSIDC EASE-Grid 2.0 North/South (9820 polar)
# Anything else raises KeyError: no silent fallback, no general PROJ.


class _NpBackend:
    """numpy instantiation of the same formulas — the vertex-array
    path for whole-geometry reprojection (st_transform / the ogr2ogr
    -t_srs composition), where coordinates arrive as numpy arrays
    inside an Arrow batch rather than as Columns."""

    import numpy as _np

    lit = staticmethod(float)
    sin = staticmethod(_np.sin)
    cos = staticmethod(_np.cos)
    tan = staticmethod(_np.tan)
    sqrt = staticmethod(_np.sqrt)
    radians = staticmethod(_np.radians)
    log = staticmethod(_np.log)
    exp = staticmethod(_np.exp)
    atan = staticmethod(_np.arctan)
    atan2 = staticmethod(_np.arctan2)
    asin = staticmethod(_np.arcsin)
    abs = staticmethod(_np.abs)
    sign = staticmethod(_np.sign)
    lt = staticmethod(_np.less)
    when = staticmethod(_np.where)
    stage = staticmethod(_fuse)


def _formula(epsg: int, inverse: bool):
    """(family, fn): one direction's formula with the preset's
    parameters bound, fn(B, x, y)."""
    kind, ellps, p = CONIC_PRESETS[epsg]
    a, f = ELLIPSOIDS[ellps]
    fn = _CONIC_FNS[kind][int(inverse)]
    return kind, lambda B, x, y: fn(B, x, y, a=a, f=f, **p)


def np_transform_fn(epsg: int, inverse: bool = False):
    """Resolve a preset EAGERLY into a picklable numpy transform
    closure. UDF paths must use this (not a deferred
    transform_points_np(epsg, ...) call): synthetic proj4-import
    registrations (gdal_spark/proj4.py, negative codes) live only in
    the DRIVER's CONIC_PRESETS — an executor-side dict lookup would
    KeyError, while the resolved (kind, a, f, params) pickle cleanly
    into the closure."""
    fn = _formula(epsg, inverse)[1]
    return lambda xs, ys: fn(_NpBackend, xs, ys)


def transform_points_np(epsg: int, xs, ys, inverse: bool = False):
    """Project numpy lon/lat arrays (or inverse) with the same closed
    forms as the Column backend."""
    return np_transform_fn(epsg, inverse)(xs, ys)


# (family, inverse) directions whose fused Column/SQL tree is too
# large to compile: conic_forward / conic_inverse and their _sql forms
# refuse them. Eckert IV's forward compiles fused, only slowly.
_STAGED_ONLY = {("goode", False), ("goode", True), ("laborde", True),
                ("poly", True), ("robin", True), ("wintri", True)}


def _refuse_fused(kind: str, inverse: bool):
    raise ValueError(
        f"{kind} {'inverse' if inverse else 'forward'} must run staged: "
        f"use crs.transform_df / crs.transform_sql")


def _fused(B, epsg: int, inverse: bool, x, y):
    kind, fn = _formula(epsg, inverse)
    if (kind, inverse) in _STAGED_ONLY:
        _refuse_fused(kind, inverse)
    return fn(B, x, y)


def conic_forward(epsg: int, lon: Column, lat: Column) -> tuple[Column, Column]:
    return _fused(_ColBackend, epsg, False, lon, lat)


def conic_inverse(epsg: int, x: Column, y: Column) -> tuple[Column, Column]:
    return _fused(_ColBackend, epsg, True, x, y)


def conic_forward_sql(epsg: int, lon_expr: str, lat_expr: str) -> tuple[str, str]:
    x, y = _fused(_SqlBackend, epsg, False, _Sql(lon_expr), _Sql(lat_expr))
    return str(x), str(y)


def conic_inverse_sql(epsg: int, x_expr: str, y_expr: str) -> tuple[str, str]:
    lon, lat = _fused(_SqlBackend, epsg, True, _Sql(x_expr), _Sql(y_expr))
    return str(lon), str(lat)


# ----------------------------------------------- staged executor
def _record(epsg: int, inverse: bool, x_expr: str, y_expr: str):
    """Run one direction's formula on a _StageRecorder: the recorder
    (its stages are empty when the formula has no cut) and the two
    output expressions over those stages."""
    kind, fn = _formula(epsg, inverse)
    rec = _StageRecorder(f"{kind}_{'i' if inverse else 'f'}")
    ex, ey = fn(rec, _Sql(x_expr), _Sql(y_expr))
    return rec, str(ex), str(ey)


def _apply_stages(df: DataFrame, stages, out) -> DataFrame:
    """Run named-expression stages ({column: SQL} dicts) as one
    `select("*", ...)` Project each, then drop every stage column not
    named in `out`. Catalyst keeps a multiply-referenced step as its
    own Project, so every generated method stays small, and the whole
    chain is still one map stage: no shuffle, no UDF."""
    tmp: list[str] = []
    for stage in stages:
        df = df.select("*", *[F.expr(sql).alias(name)
                              for name, sql in stage.items()])
        tmp += [n for n in stage if n not in out]
    return df.drop(*tmp)


def sql_cte_chain(src_sql: str, stages, final_select: str,
                  prefix: str) -> str:
    """The same stages as a DuckDB WITH chain, one CTE per stage."""
    ctes = [f"{prefix}0 AS ({src_sql})"]
    for k, stage in enumerate(stages, start=1):
        cols = ", ".join(f"{sql} AS {name}" for name, sql in stage.items())
        ctes.append(f"{prefix}{k} AS (SELECT *, {cols} FROM {prefix}{k-1})")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT {final_select} FROM {prefix}{len(stages)}")


def transform_df(df: DataFrame, epsg: int, x_col: str, y_col: str,
                 out: tuple[str, str], inverse: bool = False) -> DataFrame:
    """Append the projection of columns x_col/y_col (lon/lat degrees,
    or projected x/y when inverse) as the two columns named in `out`.
    A formula with stage cuts runs one Project per stage; any other
    runs as one fused Column expression, as conic_forward /
    conic_inverse would."""
    rec, ex, ey = _record(epsg, inverse, x_col, y_col)
    if not rec.stages:
        ex, ey = _formula(epsg, inverse)[1](_ColBackend, F.col(x_col),
                                            F.col(y_col))
        return df.select("*", ex.alias(out[0]), ey.alias(out[1]))
    return _apply_stages(df, rec.stages + [dict(zip(out, (ex, ey)))], out)


def transform_sql(epsg: int, rel: str, x_expr: str, y_expr: str,
                  inverse: bool = False) -> tuple[str, str, str]:
    """The SQL twin of transform_df: (relation, x, y) such that
    `SELECT x, y FROM relation` projects x_expr/y_expr of relation
    `rel`. Without stage cuts the relation is `rel` itself and x/y are
    the fused conic_*_sql expressions; with cuts it is a subquery that
    runs one CTE per stage (sql_cte_chain)."""
    rec, ex, ey = _record(epsg, inverse, x_expr, y_expr)
    if rec.stages:
        rel = "(" + sql_cte_chain(f"SELECT * FROM {rel}", rec.stages, "*",
                                  rec.prefix) + ")"
    return rel, ex, ey


# ------------------------------------------------- raster reprojection
_R_SPH = 6378137.0  # spherical web-mercator radius (EPSG:3857)


def webmerc_forward(B, lon, lat):
    """EPSG:4326 -> EPSG:3857 (spherical) on backend B — same formula
    the tile grid in cells.py uses as Columns."""
    x = lon * B.lit(math.pi * _R_SPH / 180.0)
    y = B.log(B.tan((lat + 90.0) * B.lit(math.pi / 360.0))) * B.lit(_R_SPH)
    return x, y


def webmerc_inverse(B, x, y):
    lon = x * B.lit(180.0 / (math.pi * _R_SPH))
    lat = (B.atan(B.exp(y / B.lit(_R_SPH))) * 2.0
           - B.lit(math.pi / 2.0)) * B.lit(180.0 / math.pi)
    return lon, lat


def webmerc_forward_np(lon, lat):
    """EPSG:4326 -> EPSG:3857 (spherical), numpy — same formula the
    tile grid in cells.py uses as Columns."""
    import numpy as np
    x = np.asarray(lon, dtype=np.float64) * (math.pi * _R_SPH / 180.0)
    y = _R_SPH * np.log(np.tan((90.0 + np.asarray(lat, dtype=np.float64))
                               * (math.pi / 360.0)))
    return x, y


def webmerc_inverse_np(x, y):
    import numpy as np
    lon = np.asarray(x, dtype=np.float64) / (math.pi * _R_SPH) * 180.0
    lat = (2.0 * np.arctan(np.exp(np.asarray(y, dtype=np.float64) / _R_SPH))
           - math.pi / 2.0) * (180.0 / math.pi)
    return lon, lat


def grid_transform_np(src_epsg: int, dst_epsg: int):
    """(fwd, inv) vectorized world->world numpy transforms between two
    projected CRS through geodetic — the GDALGenImgProjTransformer
    chain (alg/gdaltransformer.cpp:1000) for tiling.warp.
    Supports EPSG:3857 (spherical), every CONIC_PRESETS family, UTM
    codes (326xx/327xx/269xx), and EPSG:27700 — the British National
    Grid INCLUDING its OSGB36 Helmert datum step (projpipe), so the
    raster warp crosses datums the way gdalwarp does through PROJ.
    Geodetic interchange is WGS84 lon/lat (27700 is the one code here
    with a non-WGS84 datum and carries its own shift). Both returned
    functions are picklable and ship inside UDF closures."""
    def _leg(epsg, inverse):
        # resolve EAGERLY so synthetic proj4-import codes (driver-only
        # dict entries) ship as parameters inside UDF closures
        if epsg == 3857:
            return webmerc_inverse_np if inverse else webmerc_forward_np
        if epsg == 27700:
            from .projpipe import bng_forward, bng_inverse
            fn = bng_inverse if inverse else bng_forward
            return lambda x, y: fn(_NpBackend, x, y)
        try:
            ellps, zone, south = utm_params(epsg)
        except ValueError:
            return np_transform_fn(epsg, inverse)
        a, f = ELLIPSOIDS[ellps]
        tm = _tm_inverse if inverse else _tm_forward
        lon0 = float(zone * 6 - 183)
        fn0 = 10000000.0 if south else 0.0
        return lambda x, y: tm(_NpBackend, x, y, lon0, a, f, false_n=fn0)

    src_inv = _leg(src_epsg, True)
    src_fwd = _leg(src_epsg, False)
    dst_inv = _leg(dst_epsg, True)
    dst_fwd = _leg(dst_epsg, False)

    def fwd(x, y):
        return dst_fwd(*src_inv(x, y))

    def inv(x, y):
        return src_fwd(*dst_inv(x, y))

    return fwd, inv


# ----------------------------------- generic CRS -> CRS point transform
def _geo_hub(B, epsg: int, x, y, inverse: bool):
    """One leg of the geodetic-hub composition on backend B:
    projected (x, y) -> WGS84-frame lon/lat when inverse, else
    lon/lat -> projected. Same dispatch as grid_transform_np minus
    the legs that can't run fused declaratively: 27700 (the BNG
    Helmert pipeline is staged in projpipe) and every `_STAGED_ONLY`
    direction, which `_fused` refuses."""
    if epsg == 4326:
        return x, y
    if epsg == 3857:
        return (webmerc_inverse if inverse else webmerc_forward)(B, x, y)
    if epsg == 27700:
        raise ValueError("27700 runs staged: use projpipe.to_bng/from_bng")
    try:
        ellps, zone, south = utm_params(epsg)
    except ValueError:
        return _fused(B, epsg, inverse, x, y)
    a, f = ELLIPSOIDS[ellps]
    fn = _tm_inverse if inverse else _tm_forward
    return fn(B, x, y, float(zone * 6 - 183), a, f,
              false_n=10000000.0 if south else 0.0)


def crs_to_crs_cols(src_epsg: int, dst_epsg: int,
                    x: Column, y: Column) -> tuple[Column, Column]:
    """Projected -> projected point transform as pure Column math —
    the OGRCreateCoordinateTransformation(src, dst) point path
    (ogr/ogrct.cpp:1822 composed through geographic, like PROJ's
    +proj=pipeline +inv +step): inverse(src) to the WGS84 hub, then
    forward(dst). Supports 4326, 3857, UTM codes, and every fused
    CONIC_PRESETS family — zero shuffles, whole-stage codegen."""
    lon, lat = _geo_hub(_ColBackend, src_epsg, x, y, inverse=True)
    return _geo_hub(_ColBackend, dst_epsg, lon, lat, inverse=False)


def crs_to_crs_sql(src_epsg: int, dst_epsg: int,
                   x_expr: str, y_expr: str) -> tuple[str, str]:
    """The identical composition as ANSI-SQL strings (the oracle)."""
    lon, lat = _geo_hub(_SqlBackend, src_epsg, _Sql(x_expr),
                        _Sql(y_expr), inverse=True)
    x2, y2 = _geo_hub(_SqlBackend, dst_epsg, _Sql(str(lon)),
                      _Sql(str(lat)), inverse=False)
    return str(x2), str(y2)


