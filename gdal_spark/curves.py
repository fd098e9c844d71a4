"""Curve and Z/M geometry types: the non-linear half of the ISO
SQL/MM WKB hierarchy (gdal/ogr/ogr_core.h:349-398 — CircularString,
CompoundCurve, CurvePolygon, MultiCurve, MultiSurface,
PolyhedralSurface, TIN, Triangle, each with Z/M/ZM variants).

The reference handles curves two ways: native curve classes
(ogr/ogrcircularstring.cpp, ogrcompoundcurve.cpp, ogrcurvepolygon.cpp)
plus linearization to the classic types via CurveToLine /
OGRGeometryFactory::curveToLineString (ogr/ogrgeometryfactory.cpp,
approximateArcAngles), sampling arcs at OGR_ARC_STEPSIZE — 4 degrees
by default. This engine's compute kernel (ear-clip triangulation +
convex clips, geometry.py) is linear-geometry-only, so curves enter
the same way most GDAL pipelines consume them: parsed faithfully,
then linearized with the reference's default 4-degree max angle step.
Z (and M) ordinates are parsed and carried (Geom.zs) but not computed
on — matching the reference's 2.5D behavior where area/predicates
ignore Z (ogrgeometry.cpp get_Area operates on x/y).

WKB type codes are ISO (base + 1000*Z + 2000*M + 3000*ZM) plus the
legacy wkb25DBit 0x80000000 form the reference also accepts
(ogr_core.h wkb25DBit, ogrgeometry.cpp OGR_GT_HasZ)."""

from __future__ import annotations

import math

import numpy as np

# OGR_ARC_STEPSIZE default (ogrgeometryfactory.cpp approximateArcAngles
# callers; documented in cpl config OGR_ARC_STEPSIZE)
ARC_STEP_DEG = 4.0

_EPS = 1e-12

# ISO base codes (ogr_core.h wkbCircularString..wkbTriangle)
WKB_CIRCULARSTRING = 8
WKB_COMPOUNDCURVE = 9
WKB_CURVEPOLYGON = 10
WKB_MULTICURVE = 11
WKB_MULTISURFACE = 12
WKB_POLYHEDRALSURFACE = 15
WKB_TIN = 16
WKB_TRIANGLE = 17

CURVE_WKT_PREFIXES = (
    "CIRCULARSTRING", "COMPOUNDCURVE", "CURVEPOLYGON",
    "MULTICURVE", "MULTISURFACE", "POLYHEDRALSURFACE", "TIN", "TRIANGLE",
)


# ----------------------------------------------------------- arc sampling
def arc_points(x0, y0, x1, y1, x2, y2, step_deg: float = ARC_STEP_DEG):
    """Linearize one circular arc through (p0, p1, p2): points from p0
    to p2 (inclusive) with angular steps <= step_deg, endpoints exact.
    Collinear triples degrade to the straight segments p0-p1-p2, like
    the reference's curveToLineString."""
    d = 2.0 * (x0 * (y1 - y2) + x1 * (y2 - y0) + x2 * (y0 - y1))
    if abs(d) < _EPS:
        return (np.array([x0, x1, x2]), np.array([y0, y1, y2]))
    s0 = x0 * x0 + y0 * y0
    s1 = x1 * x1 + y1 * y1
    s2 = x2 * x2 + y2 * y2
    ux = (s0 * (y1 - y2) + s1 * (y2 - y0) + s2 * (y0 - y1)) / d
    uy = (s0 * (x2 - x1) + s1 * (x0 - x2) + s2 * (x1 - x0)) / d
    r = math.hypot(x0 - ux, y0 - uy)
    a0 = math.atan2(y0 - uy, x0 - ux)
    a1 = math.atan2(y1 - uy, x1 - ux)
    a2 = math.atan2(y2 - uy, x2 - ux)
    two_pi = 2.0 * math.pi
    d1 = (a1 - a0) % two_pi
    d2 = (a2 - a0) % two_pi
    if x0 == x2 and y0 == y2:
        # closed arc = full circle, swept in the direction of p1
        sweep = two_pi if d1 > 0 else -two_pi
    elif d1 <= d2:
        sweep = d2                      # CCW: p1 lies before p2
    else:
        sweep = d2 - two_pi             # CW: go the other way round
    n = max(1, int(math.ceil(abs(sweep) / math.radians(step_deg))))
    t = a0 + sweep * np.arange(n + 1) / n
    xs = ux + r * np.cos(t)
    ys = uy + r * np.sin(t)
    xs[0], ys[0] = x0, y0
    xs[-1], ys[-1] = x2, y2
    return xs, ys


def linearize_circularstring(xs, ys, step_deg: float = ARC_STEP_DEG):
    """CircularString = chained arcs over point triples (0,1,2),
    (2,3,4), ... (ogrcircularstring.cpp). Returns the stitched
    LineString coordinates."""
    xs = np.asarray(xs, np.float64)
    ys = np.asarray(ys, np.float64)
    if len(xs) < 3 or len(xs) % 2 == 0:
        raise ValueError(
            f"CIRCULARSTRING needs an odd point count >= 3, got {len(xs)}")
    ox = [np.array([xs[0]])]
    oy = [np.array([ys[0]])]
    for i in range(0, len(xs) - 2, 2):
        ax, ay = arc_points(xs[i], ys[i], xs[i + 1], ys[i + 1],
                            xs[i + 2], ys[i + 2], step_deg)
        ox.append(ax[1:])
        oy.append(ay[1:])
    return np.concatenate(ox), np.concatenate(oy)


# --------------------------------------------------------------- WKT side
def _split_top(body: str) -> list[str]:
    """Split on top-level commas (outside parentheses)."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(body[start:i].strip())
            start = i + 1
    tail = body[start:].strip()
    if tail:
        out.append(tail)
    return out


def _coords(chunk: str, dims: str):
    """Parse 'x y [z] [m], ...' with the declared dim token ('', 'Z',
    'M', 'ZM'); undeclared 3-number tuples read as XYZ like OGR's WKT
    importer."""
    pts = [p.split() for p in chunk.split(",") if p.strip()]
    xs = np.array([float(p[0]) for p in pts])
    ys = np.array([float(p[1]) for p in pts])
    zs = None
    width = len(pts[0]) if pts else 2
    if dims in ("Z", "ZM") or (dims == "" and width >= 3):
        if width >= 3:
            zs = np.array([float(p[2]) for p in pts])
    return xs, ys, zs


def _body_of(s: str) -> str:
    return s[s.index("(") + 1 : s.rindex(")")]


def _dims_of(up: str, name: str) -> str:
    rest = up[len(name):].lstrip()
    for tok in ("ZM", "Z", "M"):
        if rest.startswith(tok) and rest[len(tok):].lstrip().startswith("("):
            return tok
    return ""


def _ring_close(xs, ys):
    """Linearized rings keep the ear-clip kernel's open convention."""
    if len(xs) > 1 and xs[0] == xs[-1] and ys[0] == ys[-1]:
        return xs[:-1], ys[:-1]
    return xs, ys


def _curve_item_to_line(item: str, dims: str, step_deg: float):
    """One COMPOUNDCURVE / CURVEPOLYGON component: CIRCULARSTRING(...)
    or a bare (x y, ...) linestring."""
    up = item.upper()
    if up.startswith("CIRCULARSTRING"):
        d = _dims_of(up, "CIRCULARSTRING") or dims
        xs, ys, _ = _coords(_body_of(item), d)
        return linearize_circularstring(xs, ys, step_deg)
    if up.startswith("COMPOUNDCURVE"):
        d = _dims_of(up, "COMPOUNDCURVE") or dims
        return _compound_to_line(_body_of(item), d, step_deg)
    xs, ys, _ = _coords(item.strip().lstrip("(").rstrip(")"), dims)
    return xs, ys


def _compound_to_line(body: str, dims: str, step_deg: float):
    """CompoundCurve: contiguous curve sections stitched end-to-end
    (ogrcompoundcurve.cpp addCurveDirectly contiguity contract)."""
    ox, oy = [], []
    for i, item in enumerate(_split_top(body)):
        xs, ys = _curve_item_to_line(item, dims, step_deg)
        if i and len(ox[-1]) and len(xs) \
                and xs[0] == ox[-1][-1] and ys[0] == oy[-1][-1]:
            xs, ys = xs[1:], ys[1:]
        ox.append(xs)
        oy.append(ys)
    return np.concatenate(ox), np.concatenate(oy)


def parse_curve_wkt(s: str, step_deg: float = ARC_STEP_DEG):
    """Parse a curve/surface WKT and linearize to a classic Geom
    (imported lazily to avoid a cycle). Returns None when `s` is not a
    curve type (caller falls through to the linear parser)."""
    from .geometry import Geom, dedupe_ring

    t = s.strip()
    up = t.upper()
    name = next((p for p in CURVE_WKT_PREFIXES if up.startswith(p)), None)
    if name is None:
        return None
    dims = _dims_of(up, name)
    if up.endswith("EMPTY"):
        kind = {
            "CIRCULARSTRING": "linestring", "COMPOUNDCURVE": "linestring",
            "CURVEPOLYGON": "polygon", "MULTICURVE": "multilinestring",
            "MULTISURFACE": "multipolygon",
            "POLYHEDRALSURFACE": "multipolygon", "TIN": "multipolygon",
            "TRIANGLE": "polygon",
        }[name]
        return Geom(kind, [])
    body = _body_of(t)

    if name == "CIRCULARSTRING":
        xs, ys, _ = _coords(body, dims)
        return Geom("linestring", [linearize_circularstring(xs, ys, step_deg)])
    if name == "COMPOUNDCURVE":
        return Geom("linestring", [_compound_to_line(body, dims, step_deg)])
    if name == "CURVEPOLYGON":
        rings = []
        for item in _split_top(body):
            xs, ys = _curve_item_to_line(item, dims, step_deg)
            rings.append(dedupe_ring(*_ring_close(xs, ys)))
        return Geom("polygon", [rings])
    if name == "MULTICURVE":
        lines = [_curve_item_to_line(item, dims, step_deg)
                 for item in _split_top(body)]
        return Geom("multilinestring", lines)
    if name == "MULTISURFACE":
        polys = []
        for item in _split_top(body):
            iu = item.upper()
            if iu.startswith("CURVEPOLYGON"):
                sub = parse_curve_wkt(item, step_deg)
            else:  # bare ((ring), (ring)) polygon
                from .geometry import parse_wkt
                sub = parse_wkt("POLYGON " + item)
            polys.append(sub.parts[0])
        return Geom("multipolygon", polys)
    if name == "TRIANGLE":
        rings = [dedupe_ring(*_ring_close(*_coords(
            item.strip().lstrip("(").rstrip(")"), dims)[:2]))
            for item in _split_top(body)]
        return Geom("polygon", [rings])
    # POLYHEDRALSURFACE / TIN: a collection of polygon patches ->
    # multipolygon (the reference's forceTo(..., wkbMultiPolygon) path,
    # ogrgeometryfactory.cpp:721)
    polys = []
    for item in _split_top(body):
        from .geometry import parse_wkt
        sub = parse_wkt("POLYGON " + item)
        polys.append(sub.parts[0])
    return Geom("multipolygon", polys)


# --------------------------------------------------------------- WKB side
def decode_wkb_type(gtype: int) -> tuple[int, bool, bool]:
    """(base_type, has_z, has_m) from an ISO or wkb25DBit-flagged
    code (ogr_core.h OGR_GT_HasZ / OGR_GT_HasM semantics)."""
    has_z = bool(gtype & 0x80000000)
    gtype &= 0x7FFFFFFF
    base = gtype % 1000
    dim_block = gtype // 1000
    if dim_block == 1:
        has_z = True
    elif dim_block == 2:
        return base, has_z, True
    elif dim_block == 3:
        return base, True, True
    return base, has_z, False


def parse_curve_wkb(buf: bytes, pos: list, bo: str, base: int,
                    has_z: bool, has_m: bool, take,
                    step_deg: float = ARC_STEP_DEG):
    """Continuation of geometry.parse_wkb_at for curve base codes —
    called with the shared cursor helpers AFTER the header was
    consumed."""
    from .geometry import Geom, dedupe_ring, parse_wkb_at

    ncoord = 2 + int(has_z) + int(has_m)

    def pts(n):
        a = np.asarray(take(f"{ncoord * n}d", bo)).reshape(n, ncoord)
        return a[:, 0].copy(), a[:, 1].copy(), (
            a[:, 2].copy() if has_z else None)

    if base == WKB_CIRCULARSTRING:
        (n,) = take("I", bo)
        xs, ys, zs = pts(n)
        g = Geom("linestring", [linearize_circularstring(xs, ys, step_deg)])
        g.zs = zs
        return g
    if base == WKB_COMPOUNDCURVE:
        (n,) = take("I", bo)
        ox, oy = [], []
        for i in range(n):
            sub = parse_wkb_at(buf, pos, step_deg)
            xs, ys = sub.parts[0]
            if i and len(ox) and len(xs) and xs[0] == ox[-1][-1] \
                    and ys[0] == oy[-1][-1]:
                xs, ys = xs[1:], ys[1:]
            ox.append(xs)
            oy.append(ys)
        return Geom("linestring", [(np.concatenate(ox), np.concatenate(oy))])
    if base == WKB_CURVEPOLYGON:
        (n,) = take("I", bo)
        rings = []
        for _ in range(n):
            sub = parse_wkb_at(buf, pos, step_deg)
            xs, ys = sub.parts[0]
            rings.append(dedupe_ring(*_ring_close(xs, ys)))
        return Geom("polygon", [rings])
    if base == WKB_MULTICURVE:
        (n,) = take("I", bo)
        lines = []
        for _ in range(n):
            sub = parse_wkb_at(buf, pos, step_deg)
            lines.append(sub.parts[0])
        return Geom("multilinestring", lines)
    if base in (WKB_MULTISURFACE, WKB_POLYHEDRALSURFACE, WKB_TIN):
        (n,) = take("I", bo)
        polys = []
        for _ in range(n):
            sub = parse_wkb_at(buf, pos, step_deg)
            polys.append(sub.parts[0])
        return Geom("multipolygon", polys)
    if base == WKB_TRIANGLE:
        (nr,) = take("I", bo)
        rings = []
        for _ in range(nr):
            (n,) = take("I", bo)
            xs, ys, _ = pts(n)
            rings.append(dedupe_ring(*_ring_close(xs, ys)))
        return Geom("polygon", [rings])
    raise ValueError(f"unsupported curve WKB base type {base}")
