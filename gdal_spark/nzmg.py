"""New Zealand Map Grid (EPSG:27200) — the complex-polynomial
projection (EPSG method 9811).

Reference: the reference resolves NZMG through PROJ (+proj=nzmg,
ogr/ogrct.cpp; SRS importers name it in frmts/gtiff/libgeotiff/
geotiff_proj4.c, frmts/hfa/hfa.h). The algorithm and coefficients are
the published LINZ series (DOSLI Technical Circular 1973/32; LINZ
"NZMG transformation formulae"):

  forward:  dphi = (lat - lat0) in units of 1e5 arcsec
            psi  = sum_{i=1..10} A_i dphi^i        (real series)
            z    = psi + i*(lon - lon0)_radians
            zeta = sum_{k=1..6} B_k z^k            (complex series)
            E    = E0 + a*Im(zeta),  N = N0 + a*Re(zeta)
  inverse:  zeta = (N - N0)/a + i*(E - E0)/a
            z0   = sum_{k=1..6} C_k zeta^k         (first approx)
            two Newton steps:
            z <- (zeta + sum_{k=2..6}(k-1) B_k z^k)
                 / sum_{k=1..6} k B_k z^{k-1}
            dphi = sum_{j=1..9} D_j Re(z)^j ;  lon from Im(z)

with lat0 = -41, lon0 = 173, E0 = 2 510 000, N0 = 6 023 150 on the
International 1924 ellipsoid (a = 6 378 388).  Built-in cross-checks
on the published constants: C1 = 1/B1, D1 = 1/A1, and A1 equals the
isometric-latitude derivative at -41 deg in these units.

Spark lowering: NZMG is TRIG-FREE — both directions are pure
polynomial arithmetic — so every stage is defined ONCE as a SQL
expression template and executed two ways by the staged executor in
crs.py: `crs._apply_stages` runs one `.select` Project per complex
power / Newton step (the projpipe.py anti-codegen-blowup pattern; the
whole transform stays a single map stage, no shuffle, no UDF), and
`crs.sql_cte_chain` runs the identical templates as a DuckDB CTE
chain for the oracle.  A third, independent numpy implementation
(complex dtype) serves vertex arrays and tests.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame

from .crs import _apply_stages, sql_cte_chain

A_INTL = 6378388.0
LAT0, LON0 = -41.0, 173.0
E0, N0 = 2510000.0, 6023150.0
SEC5_PER_DEG = 0.036           # degrees -> 1e5 arcsec units
RAD_PER_DEG = math.pi / 180.0

# psi series (dphi in 1e5-arcsec units)
A = [0.6399175073, -0.1358797613, 0.063294409, -0.02526853, 0.0117879,
     -0.0055161, 0.0026906, -0.001333, 0.00067, -0.00034]
# complex B series: z -> zeta
B = [complex(0.7557853228, 0.0),
     complex(0.249204646, 0.003371507),
     complex(-0.001541739, 0.041058560),
     complex(-0.10162907, 0.01727609),
     complex(-0.26623489, -0.36249218),
     complex(-0.6870983, -1.1651967)]
# complex C series: zeta -> first-approximation z
C = [complex(1.3231270439, 0.0),
     complex(-0.577245789, -0.007809598),
     complex(0.508307513, -0.112208952),
     complex(-0.15094762, 0.18200602),
     complex(1.01418179, 1.64497696),
     complex(1.9660549, 2.5127645)]
# real D series: psi -> dphi (1e5-arcsec units)
D = [1.5627014243, 0.5185406398, -0.03333098, -0.1052906, -0.0368594,
     0.007317, 0.01220, 0.00394, -0.0013]


def _horner(coeffs, var: str) -> str:
    """sum_{i>=1} c_i var^i as a Horner SQL expression."""
    expr = repr(coeffs[-1])
    for c in reversed(coeffs[:-1]):
        expr = f"({c!r} + {var} * {expr})"
    return f"({var} * {expr})"


def _cmul(ar, ai, br, bi) -> tuple[str, str]:
    return (f"({ar} * {br} - {ai} * {bi})",
            f"({ar} * {bi} + {ai} * {br})")


def _clin(coeffs, names) -> tuple[str, str]:
    """sum_k coeffs[k] * (names[k]r, names[k]i) as (re, im) SQL."""
    re = " + ".join(f"({c.real!r} * {n}r - {c.imag!r} * {n}i)"
                    for c, n in zip(coeffs, names))
    im = " + ".join(f"({c.real!r} * {n}i + {c.imag!r} * {n}r)"
                    for c, n in zip(coeffs, names))
    return f"({re})", f"({im})"


def _power_stages(base: str) -> list[dict[str, str]]:
    """Stages computing {base}2..{base}6 from {base} (re/im pairs)."""
    out = []
    for k in range(2, 7):
        prev = base if k == 2 else f"{base}{k - 1}"
        r, i = _cmul(f"{prev}r", f"{prev}i", f"{base}r", f"{base}i")
        out.append({f"{base}{k}r": r, f"{base}{k}i": i})
    return out


def forward_stages(lon: str, lat: str) -> list[dict[str, str]]:
    """lon/lat degrees -> nzmg_e / nzmg_n, as named-expression stages
    (each stage only references columns of earlier stages)."""
    st = [{
        "zr": _horner(A, f"(({lat} - {LAT0!r}) * {SEC5_PER_DEG!r})"),
        "zi": f"(({lon} - {LON0!r}) * {RAD_PER_DEG!r})",
    }]
    st += _power_stages("z")
    zr, zi = _clin(B, ["z", "z2", "z3", "z4", "z5", "z6"])
    st.append({
        "nzmg_e": f"({E0!r} + {A_INTL!r} * {zi})",
        "nzmg_n": f"({N0!r} + {A_INTL!r} * {zr})",
    })
    return st


def _newton_stages(tag: str, zin: str) -> list[dict[str, str]]:
    """One Newton step z -> tag from current iterate zin (needs ur/ui
    = zeta in scope): powers of zin, then the complex quotient."""
    st = _power_stages(zin)
    names = [zin] + [f"{zin}{k}" for k in range(2, 7)]
    # num = zeta + sum_{k=2..6} (k-1) B_k z^k
    numr, numi = _clin([(k - 1) * B[k - 1] for k in range(2, 7)],
                       names[1:])
    # den = B_1 + sum_{k=2..6} k B_k z^{k-1}
    denr, deni = _clin([k * B[k - 1] for k in range(2, 7)], names[:-1])
    nr, ni, dr, di = (f"{tag}_nr", f"{tag}_ni", f"{tag}_dr", f"{tag}_di")
    st.append({nr: f"(ur + {numr})", ni: f"(ui + {numi})",
               dr: f"({B[0].real!r} + {denr})",
               di: f"({B[0].imag!r} + {deni})"})
    st.append({
        f"{tag}r": f"(({nr} * {dr} + {ni} * {di})"
                   f" / ({dr} * {dr} + {di} * {di}))",
        f"{tag}i": f"(({ni} * {dr} - {nr} * {di})"
                   f" / ({dr} * {dr} + {di} * {di}))",
    })
    return st


def inverse_stages(e: str, n: str) -> list[dict[str, str]]:
    """easting/northing -> nzmg_lon / nzmg_lat, staged."""
    st = [{"ur": f"(({n} - {N0!r}) / {A_INTL!r})",
           "ui": f"(({e} - {E0!r}) / {A_INTL!r})"}]
    st += _power_stages("u")
    zr, zi = _clin(C, ["u", "u2", "u3", "u4", "u5", "u6"])
    st.append({"wr": zr, "wi": zi})          # first approximation
    st += _newton_stages("v", "w")           # Newton 1
    st += _newton_stages("t", "v")           # Newton 2
    st.append({
        "nzmg_lat": f"({LAT0!r} + {_horner(D, 'tr')} / {SEC5_PER_DEG!r})",
        "nzmg_lon": f"({LON0!r} + ti / {RAD_PER_DEG!r})",
    })
    return st


# --------------------------------------------------------- Column path
def to_nzmg(df: DataFrame, lon_col: str = "lon",
            lat_col: str = "lat") -> DataFrame:
    """Append nzmg_e / nzmg_n — staged Projects, single map stage."""
    return _apply_stages(df, forward_stages(lon_col, lat_col),
                         ("nzmg_e", "nzmg_n"))


def from_nzmg(df: DataFrame, e_col: str = "nzmg_e",
              n_col: str = "nzmg_n") -> DataFrame:
    """Append nzmg_lon / nzmg_lat — staged Projects incl. the two
    Newton steps, still one map stage."""
    return _apply_stages(df, inverse_stages(e_col, n_col),
                         ("nzmg_lon", "nzmg_lat"))


# ------------------------------------------------------------ SQL path
def roundtrip_sql(src_sql: str, lon: str = "lon", lat: str = "lat",
                  id_col: str = "doc_id") -> str:
    """Oracle query: forward + inverse round trip from src_sql rows."""
    stages = forward_stages(lon, lat) + inverse_stages("nzmg_e", "nzmg_n")
    final = (f"{id_col}, ROUND(nzmg_e, 3) AS x, ROUND(nzmg_n, 3) AS y, "
             f"ROUND(nzmg_lon, 6) AS lon_rt, ROUND(nzmg_lat, 6) AS lat_rt")
    return sql_cte_chain(src_sql, stages, final, "nz")


# ---------------------------------------------------------- numpy path
def nzmg_forward_np(lons, lats):
    """Independent numpy implementation (complex dtype) — vertex
    arrays and the tests' second opinion."""
    dphi = (np.asarray(lats, dtype=np.float64) - LAT0) * SEC5_PER_DEG
    # Horner for sum_{i>=1} A_i dphi^i
    psi = np.full_like(dphi, A[-1])
    for a in reversed(A[:-1]):
        psi = a + dphi * psi
    psi = dphi * psi
    z = psi + 1j * (np.asarray(lons, dtype=np.float64) - LON0) * RAD_PER_DEG
    zeta = np.zeros_like(z)
    for b in reversed(B):
        zeta = (zeta + b) * z
    return E0 + A_INTL * zeta.imag, N0 + A_INTL * zeta.real


def nzmg_inverse_np(es, ns, newton_iters: int = 2):
    zeta = ((np.asarray(ns, dtype=np.float64) - N0)
            + 1j * (np.asarray(es, dtype=np.float64) - E0)) / A_INTL
    z = np.zeros_like(zeta)
    for c in reversed(C):
        z = (z + c) * zeta
    for _ in range(newton_iters):
        num = zeta.copy()
        den = np.zeros_like(z)
        for k in range(6, 1, -1):
            num += (k - 1) * B[k - 1] * z ** k
        for k in range(6, 0, -1):
            den += k * B[k - 1] * z ** (k - 1)
        z = num / den
    psi = z.real
    dphi = np.full_like(psi, D[-1])
    for d in reversed(D[:-1]):
        dphi = d + psi * dphi
    dphi = psi * dphi
    return LON0 + z.imag / RAD_PER_DEG, LAT0 + dphi / SEC5_PER_DEG
