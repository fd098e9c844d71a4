"""Two-band parity of the tile exchanges: an operator run on a tile
table that holds two bands of one raster gives exactly the union of
its outputs on each band alone. Every exchange (the focal halo, the
proximity target lists, the window gather behind the warp, the
convolution overview and viewshed, and the aligned-block grouping
behind the 2x overviews and retile's coarsen) is keyed by the whole
tile address, so a band never reads its neighbour band's pixels."""

from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark import contour as C
from gdal_spark import derived as DRV
from gdal_spark import polygonize as P
from gdal_spark import raster as R
from gdal_spark import surf as S
from gdal_spark import synth
from gdal_spark import tiling as TL
from gdal_spark.index import zone_index


def _src(spark, k):
    return synth.tiles_src_df(spark, 2, 2, seed=(synth.SEED, 99)[k])


def _surf(spark, k):
    return synth.surf_tiles_df(spark, 2, 2, seed=(synth.SEED, 99)[k])


def _zones(spark, k):
    # coarse regions: ring tracing over per-pixel noise would be slow
    return R.rasterize_zones(spark, zone_index(spark, DRV.rect_zone_grid(8 - 3 * k)),
                             2, 2, tile_px=64)


CASES = {
    "hillshade": (_src, lambda t: R.hillshade(t, res=1.0)),
    "slope": (_src, lambda t: R.slope(t, res=1.0)),
    # the source has no 0 (its nodata) but ~260 px of each value per tile
    "fill_nodata": (_src, lambda t: R.fill_nodata(
        t.withColumn("nodata", F.lit(7.0)), search=4)),
    "contour": (_src, lambda t: C.contour(t, [64.5, 128.5])),
    "polygonize_wkt": (_zones, lambda t: P.polygonize_wkt(t, band=1)),
    "proximity": (_src, lambda t: R.proximity(t, [7.0], maxdist=20)),
    "proximity_full": (_src, lambda t: R.proximity_full(t, [7.0], maxdist=20.0)),
    "retile_coarsen": (_src, lambda t: TL.retile(t, 512)),
    "overview_gauss": (_src, lambda t: TL.build_overview(t, "gauss")),
    "overview_average": (_src, lambda t: TL.build_overview(t, "average")),
    "overview_cubic": (_src, lambda t: TL.build_overview_conv(t, "cubic")),
    # identity grids, with no transform and through an identity one:
    # each band warps onto itself
    "warp_affine": (_src, lambda t: TL.warp(
        t, (0.0, 0.0), 1.0, (0.0, 0.0), 1.0, 2, 2, "nearest")),
    "warp_transform": (_src, lambda t: TL.warp(
        t, (0.0, 0.0), 1.0, (0.0, 0.0), 1.0, 2, 2,
        inv_transform=lambda xs, ys: (xs, ys))),
    "viewshed": (_src, lambda t: R.viewshed(
        t, pd.DataFrame({"obs_id": [1, 2], "gx": [100, 300], "gy": [100, 260]}), 60)),
    "surf_feature_points": (_surf, lambda t: S.feature_points(t, 2, 2)),
}


def _bag(df):
    """The rows as a multiset of hashable tuples."""
    return Counter(
        tuple(tuple(v) if isinstance(v, list) else
              bytes(v) if isinstance(v, bytearray) else v for v in r)
        for r in df.collect())


@pytest.mark.parametrize("name", sorted(CASES))
def test_two_band_output_is_the_union_of_each_band_alone(spark, name):
    make, op = CASES[name]
    b1 = make(spark, 0)
    b2 = make(spark, 1).withColumn("band", F.lit(2))
    got = _bag(op(b1.unionByName(b2)))
    alone = _bag(op(b1))
    assert alone
    if name != "polygonize_wkt":  # it reads one band, the first here
        alone += _bag(op(b2))
    assert got == alone


def _mosaic_and_rows(spark, h):
    rows = {(r.tile_x, r.tile_y): r
            for r in R.halo(synth.tiles_src_df(spark, 3, 3), h).collect()}
    mosaic = np.zeros((3 * 256, 3 * 256))
    for (tx, ty), r in rows.items():
        mosaic[ty * 256:(ty + 1) * 256, tx * 256:(tx + 1) * 256] = (
            np.frombuffer(r.data, np.uint8).reshape(256, 256))
    return mosaic, rows


@pytest.mark.parametrize("h, fill", [(3, np.nan), (3, 0.0), (1, "edge"), (3, "edge")])
def test_halo_window_is_the_padded_mosaic_around_the_tile(spark, h, fill):
    """NaN/0 fill: the mosaic padded with `fill`; "edge": the mosaic
    edge-padded as a whole (gdaldem's edge rule)."""
    mosaic, rows = _mosaic_and_rows(spark, h)
    if fill == "edge":
        padded = np.pad(mosaic, h, mode="edge")
    else:
        padded = np.pad(mosaic, h, constant_values=fill)
    for (tx, ty), r in rows.items():
        want = padded[ty * 256:(ty + 1) * 256 + 2 * h,
                      tx * 256:(tx + 1) * 256 + 2 * h]
        np.testing.assert_array_equal(R.halo_window(r, h, fill), want)
