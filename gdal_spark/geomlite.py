"""geomlite — pure-numpy geometry kernel.

shapely/GEOS is not available in this environment, so the engine carries
its own small vectorized geometry library. It is used BOTH inside the
distributed Arrow/pandas UDFs and by the single-process test oracle —
shared code guarantees bit-identical parity between the Spark output and
the golden fixtures, while the algorithms mirror the reference's
semantics:

 - point-in-polygon / intersects 3-stage test =
   OGRLayer::FilterGeometry (gdal/ogr/ogrsf_frmts/generic/ogrlayer.cpp:1357):
   bbox reject :1377-1382, then exact predicate (GEOS Intersects :1449-1462)
 - GDAL checksum = alg/gdalchecksum.cpp:64-180 (truncated % over the
   prime cycle 7,11,...,43, running &0xffff)
 - splitmix64 is the deterministic fixture hash (FIXTURES.md)

All batch functions take numpy arrays and never loop per row in Python
(the only Python loops are over polygon *vertices*, bounded and tiny).
"""

from __future__ import annotations

import numpy as np

GOLDEN = 0.6180339887498949  # frac(phi)

# ------------------------------------------------------------------ hashing
def splitmix64(x) -> np.ndarray:
    """SplitMix64 of int64/uint64 array — the fixture hash h(i)."""
    with np.errstate(over="ignore"):
        z = np.asarray(x, dtype=np.uint64) + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


# ---------------------------------------------------------------------- WKT
def parse_wkt_batch(wkt: "np.ndarray") -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Parse POINT/POLYGON WKT batch -> per-row (xs, ys) vertex arrays.

    POINT -> length-1 arrays; POLYGON -> exterior ring, closing vertex
    dropped; NULL or any EMPTY geometry -> length-0 arrays. Mirrors
    OGRGeometryFactory::createFromWkt for the two types the fixtures use
    (gdal/ogr/ogrgeometryfactory.cpp:374).

    The dominant POINT case is vectorized through pandas' C regex
    engine; only polygons (and malformed rows) take the Python path.
    """
    import pandas as pd

    ser = pd.Series(wkt, dtype=object)
    m = ser.str.extract(r"^POINT\(([-0-9.eE+]+) ([-0-9.eE+]+)\)$", expand=True)
    px = pd.to_numeric(m[0], errors="coerce").to_numpy()
    py_ = pd.to_numeric(m[1], errors="coerce").to_numpy()
    is_pt = ~np.isnan(px)

    xs_out: list[np.ndarray] = [None] * len(ser)  # type: ignore[list-item]
    ys_out: list[np.ndarray] = [None] * len(ser)  # type: ignore[list-item]
    for i in np.where(is_pt)[0]:
        xs_out[i] = np.array([px[i]])
        ys_out[i] = np.array([py_[i]])
    for i in np.where(~is_pt)[0]:
        s = ser.iloc[i]
        if s is None:
            xs_out[i] = np.empty(0)
            ys_out[i] = np.empty(0)
            continue
        s = s.strip()
        if s.endswith("EMPTY"):
            xs_out[i] = np.empty(0)
            ys_out[i] = np.empty(0)
        elif s.startswith("POINT"):
            body = s[s.index("(") + 1 : s.rindex(")")]
            x, y = body.split()
            xs_out[i] = np.array([float(x)])
            ys_out[i] = np.array([float(y)])
        elif s.startswith("POLYGON"):
            body = s[s.index("((") + 2 : s.index("))")]
            pts = [p.split() for p in body.split(",")]
            xs = np.array([float(p[0]) for p in pts])
            ys = np.array([float(p[1]) for p in pts])
            if len(xs) > 1 and xs[0] == xs[-1] and ys[0] == ys[-1]:
                xs, ys = xs[:-1], ys[:-1]
            xs_out[i] = xs
            ys_out[i] = ys
        else:
            raise ValueError(f"unsupported WKT: {s[:40]}")
    return xs_out, ys_out


def parse_wkt_objs(objs) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Parse a (small) batch of WKT strings known to be mostly
    non-points — plain Python loop over the raw objects, no pandas
    indexing overhead (parse_wkt_batch's per-row .iloc costs more than
    the parse itself on minority-row paths)."""
    xs_out: list[np.ndarray] = []
    ys_out: list[np.ndarray] = []
    for s in objs:
        if s is None:
            xs_out.append(np.empty(0))
            ys_out.append(np.empty(0))
            continue
        s = s.strip()
        if s.endswith("EMPTY"):
            xs_out.append(np.empty(0))
            ys_out.append(np.empty(0))
        elif s.startswith("POINT"):
            body = s[s.index("(") + 1 : s.rindex(")")]
            x, y = body.split()
            xs_out.append(np.array([float(x)]))
            ys_out.append(np.array([float(y)]))
        elif s.startswith("POLYGON"):
            body = s[s.index("((") + 2 : s.index("))")]
            flat = np.array(body.replace(",", " ").split(), dtype=np.float64)
            xs = flat[0::2].copy()
            ys = flat[1::2].copy()
            if len(xs) > 1 and xs[0] == xs[-1] and ys[0] == ys[-1]:
                xs, ys = xs[:-1], ys[:-1]
            xs_out.append(xs)
            ys_out.append(ys)
        else:
            raise ValueError(f"unsupported WKT: {s[:40]}")
    return xs_out, ys_out


# ------------------------------------------------------- point in polygon
def pip_one(px: np.ndarray, py: np.ndarray, poly_x: np.ndarray, poly_y: np.ndarray) -> np.ndarray:
    """Batch of points vs ONE polygon ring (open). Even-odd ray casting,
    vectorized over points; loop only over the ring's vertices."""
    n = len(poly_x)
    inside = np.zeros(len(px), dtype=bool)
    j = n - 1
    for i in range(n):
        xi, yi, xj, yj = poly_x[i], poly_y[i], poly_x[j], poly_y[j]
        cond = (yi > py) != (yj > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (xj - xi) * (py - yi) / (yj - yi) + xi
        inside ^= cond & (px < xint)
        j = i
    return inside


def pip_pairs(
    px: np.ndarray,
    py: np.ndarray,
    ring_x: np.ndarray,
    ring_y: np.ndarray,
    ring_len: np.ndarray,
) -> np.ndarray:
    """Row-wise: point_k in polygon_k. Rings padded to (N, L) with
    per-row true length ring_len. Vectorized over rows; loop over L."""
    N, L = ring_x.shape
    inside = np.zeros(N, dtype=bool)
    idx_j = (ring_len - 1).astype(np.int64)  # previous vertex, start at last
    rows = np.arange(N)
    with np.errstate(divide="ignore", invalid="ignore"):
        for i in range(L):
            act = i < ring_len
            xi = ring_x[rows, np.minimum(i, ring_len - 1)]
            yi = ring_y[rows, np.minimum(i, ring_len - 1)]
            xj = ring_x[rows, idx_j]
            yj = ring_y[rows, idx_j]
            cond = act & ((yi > py) != (yj > py))
            xint = (xj - xi) * (py - yi) / (yj - yi) + xi
            inside ^= cond & (px < xint)
            idx_j = np.where(act, np.minimum(i, ring_len - 1), idx_j)
    return inside


def _segs_cross(ax, ay, bx, by, cx, cy, dx, dy):
    """Proper/improper segment intersection test, vectorized (all args
    broadcastable arrays). Standard orientation method."""

    def orient(px, py, qx, qy, rx, ry):
        return (qx - px) * (ry - py) - (qy - py) * (rx - px)

    d1 = orient(cx, cy, dx, dy, ax, ay)
    d2 = orient(cx, cy, dx, dy, bx, by)
    d3 = orient(ax, ay, bx, by, cx, cy)
    d4 = orient(ax, ay, bx, by, dx, dy)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))

    def on_seg(px, py, qx, qy, rx, ry):
        return (
            (orient(px, py, qx, qy, rx, ry) == 0)
            & (np.minimum(px, qx) <= rx)
            & (rx <= np.maximum(px, qx))
            & (np.minimum(py, qy) <= ry)
            & (ry <= np.maximum(py, qy))
        )

    touch = (
        on_seg(cx, cy, dx, dy, ax, ay)
        | on_seg(cx, cy, dx, dy, bx, by)
        | on_seg(ax, ay, bx, by, cx, cy)
        | on_seg(ax, ay, bx, by, dx, dy)
    )
    return proper | touch


def intersects_pairs(
    gx: list[np.ndarray],
    gy: list[np.ndarray],
    ring_x: np.ndarray,
    ring_y: np.ndarray,
    ring_len: np.ndarray,
) -> np.ndarray:
    """Row-wise Intersects(doc_geom_k, zone_ring_k) — the exact stage of
    FilterGeometry (ogrlayer.cpp:1449-1462). doc geom = point (len 1) or
    small polygon ring; zone = padded ring arrays.

    Points (the overwhelming majority) go through the fully vectorized
    pip_pairs path; the few polygon docs (5%) use vertex-in / vertex-in /
    edge-cross tests per row (bounded 8x8 edge pairs)."""
    N = len(gx)
    out = np.zeros(N, dtype=bool)
    glen = np.array([len(a) for a in gx], dtype=np.int64)

    is_pt = glen == 1
    if is_pt.any():
        px = np.array([a[0] if len(a) else np.nan for a in gx])
        py = np.array([a[0] if len(a) else np.nan for a in gy])
        sel = np.where(is_pt)[0]
        out[sel] = pip_pairs(
            px[sel], py[sel], ring_x[sel], ring_y[sel], ring_len[sel]
        )

    for k in np.where(glen > 1)[0]:
        axs, ays = gx[k], gy[k]
        L = int(ring_len[k])
        bxs, bys = ring_x[k, :L], ring_y[k, :L]
        # any doc vertex in zone
        if pip_one(axs, ays, bxs, bys).any():
            out[k] = True
            continue
        # any zone vertex in doc
        if pip_one(bxs, bys, axs, ays).any():
            out[k] = True
            continue
        # edge crossings
        a2x, a2y = np.roll(axs, -1), np.roll(ays, -1)
        b2x, b2y = np.roll(bxs, -1), np.roll(bys, -1)
        cross = _segs_cross(
            axs[:, None], ays[:, None], a2x[:, None], a2y[:, None],
            bxs[None, :], bys[None, :], b2x[None, :], b2y[None, :],
        )
        out[k] = bool(cross.any())
    return out


def intersects_pairs_padded(
    dx: np.ndarray,
    dy: np.ndarray,
    dlen: np.ndarray,
    ring_x: np.ndarray,
    ring_y: np.ndarray,
    ring_len: np.ndarray,
) -> np.ndarray:
    """Row-wise Intersects(doc_poly_k, zone_ring_k), fully vectorized
    over pairs — the padded-array form of intersects_pairs. Both sides
    are (N, L) padded rings with true lengths. Loops run only over
    vertex/edge SLOTS (<= Ld, Lz, Ld*Lz), each step a vector op over all
    N pairs — no per-pair Python.

    Same staged test as the reference's exact stage (ogrlayer.cpp:
    1389-1462): any doc vertex in zone, any zone vertex in doc, else any
    edge crossing."""
    N, Ld = dx.shape
    Lz = ring_x.shape[1]
    rows = np.arange(N)
    hit = np.zeros(N, dtype=bool)

    # a) any doc vertex inside the zone ring
    for v in range(Ld):
        act = (v < dlen) & ~hit
        if not act.any():
            break
        hit |= act & pip_pairs(dx[:, v], dy[:, v], ring_x, ring_y, ring_len)
    # b) any zone vertex inside the doc ring
    for u in range(Lz):
        act = (u < ring_len) & ~hit
        if not act.any():
            break
        hit |= act & pip_pairs(ring_x[:, u], ring_y[:, u], dx, dy, dlen)
    # c) any edge pair crossing
    rem = ~hit
    if rem.any():
        dnx = lambda i: (i + 1) % np.maximum(dlen, 1)  # noqa: E731
        znx = lambda j: (j + 1) % np.maximum(ring_len, 1)  # noqa: E731
        for i in range(Ld):
            ai = np.minimum(i, Ld - 1)
            act_i = (i < dlen) & rem
            if not act_i.any():
                continue
            ax = dx[rows, ai]
            ay = dy[rows, ai]
            bx = dx[rows, dnx(i)]
            by = dy[rows, dnx(i)]
            for j in range(Lz):
                act = act_i & (j < ring_len) & ~hit
                if not act.any():
                    continue
                cx = ring_x[rows, np.minimum(j, Lz - 1)]
                cy = ring_y[rows, np.minimum(j, Lz - 1)]
                ddx = ring_x[rows, znx(j)]
                ddy = ring_y[rows, znx(j)]
                hit |= act & _segs_cross(ax, ay, bx, by, cx, cy, ddx, ddy)
            rem = ~hit
            if not rem.any():
                break
    return hit


# ------------------------------------------------------------------ metrics
MEAN_EARTH_RADIUS = 6371008.8


def haversine(lon1, lat1, lon2, lat2, radius: float = MEAN_EARTH_RADIUS):
    """Great-circle distance in meters (mean-Earth radius)."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lon1, lat1, lon2, lat2))
    dlon = lon2 - lon1
    dlat = lat2 - lat1
    a = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * radius * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def shoelace_area(xs: np.ndarray, ys: np.ndarray) -> float:
    """Planar polygon area (analog of OGR_GEOM_AREA special field,
    gdal/ogr/ogr_p.h:128-135)."""
    x2, y2 = np.roll(xs, -1), np.roll(ys, -1)
    return float(abs(np.sum(xs * y2 - x2 * ys)) / 2.0)


# ------------------------------------------------------------ GDAL checksum
_CHECKSUM_PRIMES = np.array([7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43], dtype=np.int64)


def gdal_checksum(arr: np.ndarray) -> int:
    """GDALChecksumImage over a 2-D window (alg/gdalchecksum.cpp:64-180).

    Integer path: sum(v % primes[i mod 11]) & 0xffff with C truncated
    modulo, row-major flattening. Float path: +0.5, clamp to
    +-2147483647, floor to int32; NaN/Inf -> 0x80000000 (as int32:
    -2147483648)."""
    a = np.asarray(arr)
    if a.dtype.kind == "f":
        v = a.astype(np.float64).ravel()
        bad = ~np.isfinite(v)
        v = v + 0.5
        v = np.clip(v, -2147483647.0, 2147483647.0)
        iv = np.floor(v).astype(np.int64)
        iv[bad] = np.int64(np.int32(-2147483648))
    else:
        iv = a.astype(np.int64).ravel()
    primes = _CHECKSUM_PRIMES[np.arange(iv.size) % 11]
    mods = np.fmod(iv, primes)  # C-style truncated modulo
    return int(np.sum(mods) & 0xFFFF)
