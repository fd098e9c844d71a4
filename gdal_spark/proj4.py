"""PROJ.4 string import — the OGRSpatialReference::importFromProj4
counterpart (reference: ogr/ogr_srs_proj4.cpp; exportToProj4 is the
srsinfo.py renderer).  A parsed string registers a synthetic preset in
`crs.CONIC_PRESETS`, after which EVERY engine surface works on it —
`conic_forward/inverse` Columns, the `_SqlBackend` oracle strings,
`transform_points_np` vertex arrays, and the `crs_to_crs_*` hub
composition — because they all dispatch through the same table.

This is the 'general registry' entry point: any CRS of a supported
projection family resolves from its parameter string, not just the
enumerated EPSG codes.  Closure property (tested): re-importing the
engine's own exportToProj4 output reproduces the original projection
bit-for-bit at sample points for every fused family.

Supported +proj values: lcc aea merc sterea eqdc aeqd sinu eqc moll
laea cea eqearth omerc labrd cass poly bonne krovak stere (polar
aspects: variant A via +k, variant B via +lat_ts, north/south via
+lat_0), tmerc (incl. +axis=wsu south-orientated), utm (+zone/+south).
Ellipsoids: +ellps aliases, +datum=WGS84/NAD83, or custom +a/+rf
(+b accepted).  +to_meter/+units are recorded but don't change the
math (presets are native-unit, e.g. the Trinidad links grid).
"""

from __future__ import annotations

import itertools

from . import crs

_ELLPS_ALIASES = {
    "WGS84": "WGS84", "GRS80": "GRS80", "bessel": "bessel",
    "clrk66": "clrk66", "intl": "intl", "aust_SA": "GRS67mod",
}

_DATUM_ALIASES = {"WGS84": "WGS84", "NAD83": "GRS80"}

# +proj -> (family kind, {proj4 key: preset key}, {required defaults})
_P4_FAMILIES = {
    "lcc": ("lcc", {"lat_1": "phi1", "lat_2": "phi2", "lat_0": "phi0",
                    "lon_0": "lon0", "x_0": "fe", "y_0": "fn"}, {}),
    "aea": ("albers", {"lat_1": "phi1", "lat_2": "phi2", "lat_0": "phi0",
                       "lon_0": "lon0", "x_0": "fe", "y_0": "fn"}, {}),
    "merc": ("merc", {"lon_0": "lon0", "x_0": "fe", "y_0": "fn",
                      "k": "k0"}, {}),
    "sterea": ("sterea", {"lat_0": "phi0", "lon_0": "lon0", "k": "k0",
                          "x_0": "fe", "y_0": "fn"}, {}),
    "eqdc": ("eqdc", {"lat_1": "phi1", "lat_2": "phi2", "lat_0": "phi0",
                      "lon_0": "lon0", "x_0": "fe", "y_0": "fn"}, {}),
    "sinu": ("sinu", {"lon_0": "lon0", "x_0": "fe", "y_0": "fn"}, {}),
    "eqc": ("eqc", {"lat_ts": "phi1", "lon_0": "lon0",
                    "x_0": "fe", "y_0": "fn"}, {}),
    "moll": ("moll", {"lon_0": "lon0", "x_0": "fe", "y_0": "fn"}, {}),
    "laea": ("laea", {"lat_0": "phi0", "lon_0": "lon0",
                      "x_0": "fe", "y_0": "fn"}, {}),
    "cea": ("cea", {"lat_ts": "phi1", "lon_0": "lon0",
                    "x_0": "fe", "y_0": "fn"}, {}),
    "eqearth": ("eqearth", {"lon_0": "lon0", "x_0": "fe",
                            "y_0": "fn"}, {}),
    "omerc": ("hom", {"lat_0": "phic", "lonc": "lonc", "alpha": "alphac",
                      "gamma": "gammac", "k": "kc",
                      "x_0": "fe", "y_0": "fn"}, {}),
    "labrd": ("laborde", {"lat_0": "phic", "lon_0": "lonc",
                          "azi": "alphac", "k": "kc",
                          "x_0": "fe", "y_0": "fn"}, {}),
    "cass": ("cassini", {"lat_0": "phi0", "lon_0": "lon0",
                         "x_0": "fe", "y_0": "fn"}, {}),
    "poly": ("poly", {"lat_0": "phi0", "lon_0": "lon0",
                      "x_0": "fe", "y_0": "fn"}, {}),
    "bonne": ("bonne", {"lat_1": "phi1", "lon_0": "lon0",
                        "x_0": "fe", "y_0": "fn"}, {}),
    # Krovak's centre/azimuth/parallel are fixed constants of the
    # S-JTSK definition in crs._KROVAK; only the falsings vary
    "krovak": ("krovak", {"x_0": "fe", "y_0": "fn"}, {}),
    "mill": ("mill", {"lon_0": "lon0", "x_0": "fe", "y_0": "fn"}, {}),
    "eck4": ("eck4", {"lon_0": "lon0", "x_0": "fe", "y_0": "fn"}, {}),
    "eck6": ("eck6", {"lon_0": "lon0", "x_0": "fe", "y_0": "fn"}, {}),
    "wintri": ("wintri", {"lat_1": "phi1", "lon_0": "lon0",
                          "x_0": "fe", "y_0": "fn"},
               {"phi1": 50.459776252189805}),  # acos(2/pi), Winkel's
    #                                             default (PROJ wintri)
    "gall": ("gall", {"lon_0": "lon0", "x_0": "fe", "y_0": "fn"}, {}),
    "robin": ("robin", {"lon_0": "lon0", "x_0": "fe", "y_0": "fn"}, {}),
    "goode": ("goode", {"lon_0": "lon0", "x_0": "fe", "y_0": "fn"}, {}),
    "hammer": ("hammer", {"lon_0": "lon0", "x_0": "fe",
                          "y_0": "fn"}, {}),
}

_synth_codes = itertools.count(-1, -1)


def parse_proj4(s: str) -> dict:
    """Tokenize a proj4 string into {key: float|str|True}."""
    out: dict = {}
    for tok in s.split():
        if not tok.startswith("+"):
            raise ValueError(f"bad proj4 token: {tok!r}")
        body = tok[1:]
        if "=" in body:
            k, v = body.split("=", 1)
            try:
                out[k] = float(v)
            except ValueError:
                out[k] = v
        else:
            out[body] = True
    if "proj" not in out:
        raise ValueError("proj4 string has no +proj")
    return out


def _ellipsoid_key(p: dict) -> str:
    if "datum" in p:
        return _DATUM_ALIASES[p["datum"]]
    if "ellps" in p:
        return _ELLPS_ALIASES[p["ellps"]]
    if "a" in p:
        a = float(p["a"])
        if "rf" in p:
            f = 1.0 / float(p["rf"])
        elif "b" in p:
            f = 1.0 - float(p["b"]) / a
        else:
            f = 0.0  # sphere
        for key, (ka, kf) in crs.ELLIPSOIDS.items():
            if abs(ka - a) < 1e-6 and abs(kf - f) < 1e-15:
                return key
        key = f"custom_{a:.6f}_{f:.12e}"
        crs.ELLIPSOIDS[key] = (a, f)
        return key
    raise ValueError("proj4 string has no ellipsoid (+ellps/+datum/+a)")


def _classify(p: dict) -> tuple[str, dict]:
    """(family kind, preset params) from parsed tokens."""
    name = p["proj"]
    if name == "utm":
        zone = int(p["zone"])
        return "tmerc", dict(lon0=float(zone * 6 - 183), k0=0.9996,
                             fe=500000.0,
                             fn=10000000.0 if p.get("south") else 0.0)
    if name == "tmerc":
        kind = "tmso" if p.get("axis") == "wsu" else "tmerc"
        return kind, dict(lon0=float(p.get("lon_0", 0.0)),
                          k0=float(p.get("k", 1.0)),
                          fe=float(p.get("x_0", 0.0)),
                          fn=float(p.get("y_0", 0.0)))
    if name == "laea" and abs(float(p.get("lat_0", 0.0))) > 89.999999:
        kind = "laea_north" if float(p["lat_0"]) > 0 else "laea_south"
        return kind, dict(lon0=float(p.get("lon_0", 0.0)),
                          fe=float(p.get("x_0", 0.0)),
                          fn=float(p.get("y_0", 0.0)))
    if name == "aeqd":
        if abs(float(p.get("lat_0", 0.0)) - 90.0) > 1e-9:
            raise ValueError("only the polar +proj=aeqd aspect supported")
        return "aeqd_north", dict(lon0=float(p.get("lon_0", 0.0)),
                                  fe=float(p.get("x_0", 0.0)),
                                  fn=float(p.get("y_0", 0.0)))
    if name == "geos":
        # +sweep is a STRING token (x for GOES ABI, y default for
        # Meteosat/Himawari) — carried as the sweep_x 0/1 scalar the
        # crs.geos_* builders branch on at expression-build time
        return "geos", dict(h=float(p["h"]),
                            lon0=float(p.get("lon_0", 0.0)),
                            sweep_x=1.0 if p.get("sweep") == "x" else 0.0,
                            fe=float(p.get("x_0", 0.0)),
                            fn=float(p.get("y_0", 0.0)))
    if name == "stere":
        lat0 = float(p.get("lat_0", 0.0))
        if abs(abs(lat0) - 90.0) > 1e-9:
            raise ValueError("only polar +proj=stere aspects supported")
        fe, fn = float(p.get("x_0", 0.0)), float(p.get("y_0", 0.0))
        lon0 = float(p.get("lon_0", 0.0))
        if "lat_ts" in p:       # variant B
            kind = "ps_north" if lat0 > 0 else "ps_south"
            return kind, dict(phi_f=float(p["lat_ts"]), lon0=lon0,
                              fe=fe, fn=fn)
        kind = "ups_north" if lat0 > 0 else "ups_south"  # variant A
        return kind, dict(lon0=lon0, k0=float(p.get("k", 1.0)),
                          fe=fe, fn=fn)
    if name not in _P4_FAMILIES:
        raise ValueError(f"unsupported +proj={name}")
    kind, keymap, defaults = _P4_FAMILIES[name]
    params = dict(defaults)
    for p4k, pk in keymap.items():
        if p4k in p:
            params[pk] = float(p[p4k])
        elif pk in ("fe", "fn"):
            params[pk] = 0.0
        elif pk in ("lon0", "phi0"):
            params[pk] = 0.0
        elif pk == "k0" and kind in ("merc",):
            params[pk] = 1.0
        elif pk == "gammac" and "alphac" in params:
            params[pk] = params["alphac"]  # PROJ default gamma = alpha
        elif kind == "krovak":
            continue
        else:
            raise ValueError(f"+proj={name} missing +{p4k}")
    return kind, params


def sample_lonlat(kind: str, params: dict):
    """Two in-domain sample points for a preset — shared by the
    closure test and the proj4_import_parity contract query."""
    lon0 = params.get("lon0", params.get("lonc", 0.0))
    if "phi_f" in params:
        lat = params["phi_f"]
    elif "phic" in params:
        lat = params["phic"]
    elif kind in ("aeqd_north", "ups_north"):
        lat = 75.0
    elif kind == "ups_south":
        lat = -75.0
    elif kind == "tmso":
        lat = -30.0
    elif kind == "krovak":
        return [17.0, 18.0], [49.2, 49.8]
    elif kind == "geos":
        # two points well inside the visible disc
        return [lon0 - 20.0, lon0 + 35.0], [-30.0, 42.0]
    else:
        lat = params.get("phi0", params.get("phi1", 20.0))
    if abs(lat) < 1.0:          # poly's cot(phi) pole at the equator
        lat = 8.0
    if abs(lat) > 85.0:
        lat = 80.0 * (1 if lat > 0 else -1)
    return [lon0 + 0.5, lon0 + 1.5], [lat - 0.5, lat + 0.5]


def register_proj4(s: str, code: int | None = None) -> int:
    """Parse a PROJ.4 string and install it as a preset; returns the
    (synthetic, negative) code usable with every crs.* dispatch
    surface. Passing `code` overwrites/creates that exact entry."""
    p = parse_proj4(s)
    ellps = _ellipsoid_key(p)
    kind, params = _classify(p)
    if code is None:
        code = next(_synth_codes)
    crs.CONIC_PRESETS[code] = (kind, ellps, params)
    return code
