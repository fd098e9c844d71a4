"""Viewshed golden tests: flat terrain sees everything in range, a
wall blocks its shadow, and the distributed per-observer gather equals
the shared single-node kernel over the assembled window."""

import numpy as np
import pandas as pd
from pyspark.sql import Row

from gdal_spark import raster as R
from gdal_spark import synth
from gdal_spark.raster import los_visibility
from gdal_spark.synth import TILE_SCHEMA


def _tiles_df(spark, mosaic, tile):
    H, W = mosaic.shape
    rows = []
    for ty in range(H // tile):
        for tx in range(W // tile):
            sub = mosaic[ty * tile : (ty + 1) * tile, tx * tile : (tx + 1) * tile]
            rows.append(
                Row(
                    raster_id="r", band=1, zoom=0, tile_x=tx, tile_y=ty,
                    width=tile, height=tile, dtype="float64", nodata=-1.0,
                    crs="", geotransform=[0.0, 1.0, 0.0, 0.0, 0.0, -1.0],
                    data=bytearray(sub.astype(np.float64).tobytes()),
                )
            )
    return spark.createDataFrame(rows, schema=TILE_SCHEMA)


def test_flat_terrain_full_visibility():
    dem = np.zeros((40, 40))
    vis = los_visibility(dem, 20, 20, 2.0, 15)
    yy, xx = np.mgrid[0:40, 0:40]
    in_rng = ((xx - 20) ** 2 + (yy - 20) ** 2) <= 15**2
    assert (vis[in_rng]).all()


def test_wall_blocks_shadow():
    dem = np.zeros((40, 40))
    dem[:, 25] = 50.0  # tall north-south wall east of the observer
    vis = los_visibility(dem, 20, 20, 2.0, 18)
    assert not vis[20, 30]  # directly behind the wall
    assert vis[20, 10]      # open west side
    assert vis[20, 24]      # in front of the wall


def test_distributed_matches_kernel(spark):
    rng = np.random.RandomState(11)
    m = rng.rand(64, 64) * 5.0
    m[30:34, 40:44] = 60.0  # a hill
    obs = pd.DataFrame({"obs_id": [1], "gx": [20], "gy": [32]})
    out = R.viewshed(_tiles_df(spark, m, 32), obs, radius_px=25).collect()
    assert len(out) == 1
    r = out[0]
    x0, y0, w, h = int(r["x0"]), int(r["y0"]), int(r["w"]), int(r["h"])
    vis_exp = los_visibility(m[y0 : y0 + h, x0 : x0 + w], 20 - x0, 32 - y0, 2.0, 25)
    yy, xx = np.mgrid[0:h, 0:w]
    in_rng = ((xx - (20 - x0)) ** 2 + (yy - (32 - y0)) ** 2) <= 25**2
    assert r["in_range_px"] == int(in_rng.sum())
    assert r["visible_px"] == int((vis_exp & in_rng).sum())
    got_mask = np.unpackbits(
        np.frombuffer(r["mask"], dtype=np.uint8), count=h * w
    ).reshape(h, w).astype(bool)
    assert np.array_equal(got_mask, vis_exp & in_rng)


def test_partial_edge_tiles_land_by_tile_index(spark):
    """A 300x300 DEM tiled at 256 (44-px edge tiles) and as one 300-px
    tile give the same viewshed: each tile lands at its index times
    the full tile size, and the window ends at the raster's edge."""
    obs = pd.DataFrame({"obs_id": [1], "gx": [250], "gy": [250]})
    got = [R.viewshed(synth.dem_tiles_df(spark, 300, tile_px=px), obs, radius_px=40)
           .select("visible_px", "in_range_px", "x0", "y0", "w", "h").collect()
           for px in (256, 512)]
    assert got[0] == got[1]
    assert (got[0][0]["w"], got[0][0]["h"]) == (300, 300)


def test_curvature_hides_beyond_horizon(spark):
    """Flat DEM + earth curvature (-cc, alg/viewshed.cpp:64-75):
    targets beyond the horizon distance sqrt(2*h*R/cc) drop below the
    sight line and become invisible; with cc=0 the whole flat plane
    stays visible. Observer height 100 m, pixel 1000 m, R_e sphere."""
    import numpy as np

    from gdal_spark.raster import los_visibility

    dem = np.zeros((41, 41))
    D = 2 * 6378137.0
    vis_curv = los_visibility(dem, 20, 20, 100.0, 28, curv_coeff=1.0,
                              sphere_diameter=D, pixel_size=1000.0)
    vis_flat = los_visibility(dem, 20, 20, 100.0, 28)
    # horizon ~ sqrt(2*100*R) ~ 35.7 km = ~35.7 px: inside visible
    assert vis_curv[20, 20 + 20]
    # a curved-earth viewshed loses pixels a flat one keeps
    assert vis_curv.sum() <= vis_flat.sum()
    yy, xx = np.mgrid[0:41, 0:41]
    d = np.sqrt((xx - 20.0) ** 2 + (yy - 20.0) ** 2)
    inr = d <= 28
    assert vis_flat[inr].all()
