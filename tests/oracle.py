"""Single-process golden oracle.

Brute-force numpy implementations that deliberately DO NOT use the
engine's cell index or cover packing — only the shared low-level
predicates (geomlite) — so the tests exercise the distributed index /
join logic against an independent search path. This mirrors the
reference's test idiom of hand-curated expected lists
(autotest/ogr/ogr_sql_test.py:62-66 check_features_against_list) and
checksum goldens (autotest/utilities/test_gdalwarp.py:56).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from gdal_spark import geomlite as G


def pip_oracle(docs_pdf: pd.DataFrame, zones_pdf: pd.DataFrame, mode: str = "first") -> pd.DataFrame:
    """Expected (doc_id, zone_id, eas_id) rows. Brute force over all
    zones with bbox prefilter, matches ordered by zone_id."""
    gxs, gys = G.parse_wkt_batch(docs_pdf["geom_wkt"].to_numpy())
    zxs = [np.asarray(a) for a in zones_pdf["xs"]]
    zys = [np.asarray(a) for a in zones_pdf["ys"]]
    zid = zones_pdf["zone_id"].to_numpy()
    eas = zones_pdf["eas_id"].to_numpy()
    zxmin = zones_pdf["xmin"].to_numpy()
    zymin = zones_pdf["ymin"].to_numpy()
    zxmax = zones_pdf["xmax"].to_numpy()
    zymax = zones_pdf["ymax"].to_numpy()

    rows = []
    for k, doc_id in enumerate(docs_pdf["doc_id"]):
        dx, dy = gxs[k], gys[k]
        if len(dx):
            bx0, bx1, by0, by1 = dx.min(), dx.max(), dy.min(), dy.max()
            cand = np.where(
                (bx1 >= zxmin) & (bx0 <= zxmax) & (by1 >= zymin) & (by0 <= zymax)
            )[0]
        else:  # no geometry, or an empty one: intersects nothing
            cand = []
        matches = []
        for z in sorted(cand, key=lambda c: int(zid[c])):
            if len(dx) == 1:
                hit = bool(G.pip_one(dx, dy, zxs[z], zys[z])[0])
            else:
                L = len(zxs[z])
                rx = zxs[z][None, :]
                ry = zys[z][None, :]
                hit = bool(
                    G.intersects_pairs(
                        [dx], [dy], rx, ry, np.array([L], dtype=np.int64)
                    )[0]
                )
            if hit:
                matches.append((int(zid[z]), int(eas[z])))
        if not matches:
            rows.append({"doc_id": doc_id, "zone_id": None, "eas_id": None})
        elif mode == "first":
            rows.append({"doc_id": doc_id, "zone_id": matches[0][0], "eas_id": matches[0][1]})
        else:
            for z, e in matches:
                rows.append({"doc_id": doc_id, "zone_id": z, "eas_id": e})
    return pd.DataFrame(rows)


def span_tuples(spans) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
