"""nearblack — edge-collar removal (apps/nearblack_lib.cpp).

The reference walks the raster twice serially (top-down then
bottom-up over the intermediate output, apps/nearblack_lib.cpp:356,
447), calling ProcessLine (:549) per scanline in both directions.
With its default nMaxNonBlack=0 those four coupled scans collapse to
a closed form over three facts that are each trivially distributed:

* the vertical check (:562-625) blackens a column's near-collar
  prefix — its termination count (:568) only ever increments, so a
  column terminates permanently at its FIRST non-near pixel; the
  bottom-up pass contributes the symmetric suffix. Let t[x]/b[x] be
  the first/last non-near row of column x.
* the horizontal check (:630-719) blackens each row's near prefix
  from both ends, BUT re-enables mid-row whenever it crosses a column
  whose vertical count is still zero (:714 `bDoTest = true`) — i.e. a
  column with y < t[x] (top-down) or y > b[x] (bottom-up) — and then
  keeps blackening until the next non-near pixel.
* every replacement writes the collar colour itself, so "near" is
  invariant across all passes and both directions.

Therefore a pixel is collar iff it is near AND its maximal horizontal
near-RUN either touches a row edge or contains a column x' with
y < t[x'] or y > b[x'].

Distributed shape: one map-only scan emits per-(column, tile) first/
last non-near rows (O(W) rows per raster after a tiny aggregation —
this is the only global state); the aggregate is broadcast-joined
back by tile_x (no shuffle of pixel data); the run rule is evaluated
in full-width row strips, one applyInPandas group per (raster, band,
tile row) — H/tile_h independent tasks, memory W x tile_h bytes per
task, mirroring the reference's own scanline working set. Runs can
cross tile borders, which is why the strip (not the tile) is the
compute unit.

Scope vs the reference: nMaxNonBlack=0 (its default), single band,
single default collar colour (black, or white via `white=True`).
The -color list path is excluded deliberately: replacing a matched
pixel with black can move it OUT of the colour list, which breaks
the nearness invariance the closed form rests on.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tiling import TILE_SCHEMA, _decode, full_tile_px, paste

_COLB_SCHEMA = T.StructType(
    [
        T.StructField("raster_id", T.StringType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("x", T.LongType()),
        T.StructField("t", T.LongType()),
        T.StructField("b", T.LongType()),
    ]
)


def _near_mask(arr: np.ndarray, near_dist: int, white: bool) -> np.ndarray:
    """The reference's per-pixel test (nearblack_lib.cpp:590-591):
    non-near iff c - v > dist or v > dist + c."""
    c = 255 if white else 0
    v = arr.astype(np.int64)
    return ~((c - v > near_dist) | (v > near_dist + c))


def column_bounds(tiles: DataFrame, ts: int, near_dist: int = 15,
                  white: bool = False) -> DataFrame:
    """Per global column: first (t) and last (b) non-near row — the
    whole cross-tile state of the reference's vertical check. A tile
    starts at its index times the full tile size `ts`."""

    def scan(batches):
        for pdf in batches:
            rows = {"raster_id": [], "band": [], "tile_x": [],
                    "x": [], "t": [], "b": []}
            for r in pdf.itertuples(index=False):
                arr = _decode(r.data, r.dtype, r.height, r.width)
                near = _near_mask(arr, near_dist, white)
                has = ~near.all(axis=0)
                if not has.any():
                    continue
                xs = np.nonzero(has)[0]
                nn = ~near[:, xs]
                first = nn.argmax(axis=0)
                last = arr.shape[0] - 1 - nn[::-1, :].argmax(axis=0)
                y0 = int(r.tile_y) * ts
                rows["raster_id"].extend([r.raster_id] * len(xs))
                rows["band"].extend([int(r.band)] * len(xs))
                rows["tile_x"].extend([int(r.tile_x)] * len(xs))
                rows["x"].extend((int(r.tile_x) * ts + xs).tolist())
                rows["t"].extend((y0 + first).tolist())
                rows["b"].extend((y0 + last).tolist())
            yield pd.DataFrame(rows)

    per_tile = tiles.mapInPandas(scan, schema=_COLB_SCHEMA)
    return per_tile.groupBy("raster_id", "band", "tile_x", "x").agg(
        F.min("t").alias("t"), F.max("b").alias("b")
    )


def nearblack(tiles: DataFrame, near_dist: int = 15, white: bool = False,
              set_mask: bool = True) -> DataFrame:
    """Blacken (or whiten) the edge collar; returns processed band
    rows plus, when set_mask, a mask band (band = input band + 100;
    255 valid / 0 collar, like the reference's -setmask band)."""
    ts = full_tile_px(tiles)
    colb = column_bounds(tiles, ts, near_dist, white)
    # per-tile_x struct arrays keep broadcast rows small (tile_px
    # structs each) while still avoiding any shuffle of pixel data
    colg = colb.groupBy("raster_id", "band", "tile_x").agg(
        F.collect_list(F.struct("x", "t", "b")).alias("colb")
    )
    replace = 255 if white else 0

    joined = tiles.join(
        F.broadcast(colg), on=["raster_id", "band", "tile_x"], how="left"
    )

    def run_strip(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tx_min = int(pdf["tile_x"].min())
        # placement by tile index (robust to a sparse strip; absent
        # tiles read as all-collar, matching an all-nodata region)
        strip = paste(pdf, 0.0, ts)
        W = strip.shape[1]
        x0 = tx_min * ts
        y0 = int(pdf["tile_y"].iloc[0]) * ts
        t = np.full(W, np.iinfo(np.int64).max, np.int64)
        b = np.full(W, np.iinfo(np.int64).min, np.int64)
        for r in pdf.itertuples(index=False):
            if r.colb is not None:
                for e in r.colb:
                    xi = int(e["x"]) - x0
                    if 0 <= xi < W:
                        t[xi] = int(e["t"])
                        b[xi] = int(e["b"])
        near = _near_mask(strip, near_dist, white)
        yy = y0 + np.arange(strip.shape[0])[:, None]
        flag = near & ((yy < t[None, :]) | (yy > b[None, :]))
        # run ids per row: non-near pixels break runs
        rid = np.cumsum(~near, axis=1)
        key_arr = np.arange(strip.shape[0])[:, None] * (W + 1) + rid
        nkeys = strip.shape[0] * (W + 1) + W + 1
        flagged = np.zeros(nkeys, bool)
        np.logical_or.at(flagged, key_arr[flag], True)
        # runs touching the row edges
        edge_rows = np.arange(strip.shape[0])
        left = near[:, 0]
        np.logical_or.at(flagged, key_arr[edge_rows[left], 0], True)
        right = near[:, -1]
        np.logical_or.at(flagged, key_arr[edge_rows[right], -1], True)
        blacken = near & flagged[key_arr]
        out = np.where(blacken, replace, strip).astype(pdf["dtype"].iloc[0])
        mask = np.where(blacken, 0, 255).astype(np.uint8)

        res = []
        for r in pdf.itertuples(index=False):
            j0 = (int(r.tile_x) - tx_min) * ts
            sl = slice(j0, j0 + int(r.width))
            base = {
                "raster_id": r.raster_id,
                "band": int(r.band),
                "zoom": int(r.zoom),
                "tile_x": int(r.tile_x),
                "tile_y": int(r.tile_y),
                "width": int(r.width),
                "height": int(r.height),
                "dtype": r.dtype,
                "nodata": r.nodata,
                "crs": r.crs,
                "geotransform": r.geotransform,
            }
            res.append({**base, "data": out[:, sl].tobytes()})
            if set_mask:
                res.append(
                    {
                        **base,
                        "band": int(r.band) + 100,
                        "dtype": "uint8",
                        "data": mask[:, sl].tobytes(),
                    }
                )
        return pd.DataFrame(res)

    return joined.groupBy("raster_id", "band", "tile_y").applyInPandas(
        run_strip, schema=TILE_SCHEMA
    )
