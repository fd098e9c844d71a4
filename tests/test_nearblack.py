"""nearblack: distributed closed form vs the faithful sequential port
of apps/nearblack_lib.cpp (localref.nearblack_ref)."""

import numpy as np
import pytest

import localref
from gdal_spark import synth


def test_ref_port_blackens_collar_keeps_interior():
    g = synth.collar_np(256)
    out, mask = localref.nearblack_ref(g)
    # interior near-black block (120:140, 120:160) survives: it is
    # near-black but never edge-prefix-connected at 256px
    assert (out[120:140, 120:160] == g[120:140, 120:160]).all()
    # corners are collar -> blackened
    assert out[0, 0] == 0 and out[-1, -1] == 0
    assert mask[0, 0] == 0 and mask[128, 64] == 255


def test_ref_port_near_white():
    g = 255 - synth.collar_np(128)
    out, _ = localref.nearblack_ref(g, white=True)
    assert out[0, 0] == 255 and out[-1, -1] == 255


def test_distributed_matches_sequential(spark):
    from gdal_spark.nearblack import nearblack
    from gdal_spark.tiling import _decode

    g = synth.collar_np(256)
    ref_out, ref_mask = localref.nearblack_ref(g)
    tiles = synth.collar_tiles_df(spark, 4, 4, 64)
    rows = nearblack(tiles).collect()
    got = {1: np.zeros((256, 256), np.uint8),
           101: np.zeros((256, 256), np.uint8)}
    for r in rows:
        a = _decode(r.data, r.dtype, r.height, r.width)
        got[r.band][r.tile_y * 64:(r.tile_y + 1) * 64,
                    r.tile_x * 64:(r.tile_x + 1) * 64] = a
    assert (got[1] == ref_out).all()
    assert (got[101] == ref_mask).all()


def test_distributed_matches_sequential_white(spark):
    """near-white variant on an inverted collar, uneven tiling."""
    from pyspark.sql import functions as F

    from gdal_spark.nearblack import nearblack
    from gdal_spark.tiling import _decode

    g = 255 - synth.collar_np(128)
    ref_out, _ = localref.nearblack_ref(g, white=True)
    tiles = synth.collar_tiles_df(spark, 2, 2, 64)

    # invert the synth tiles in a map stage to reuse the generator
    import pandas as pd

    def inv(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["data"] = [
                (255 - np.frombuffer(d, np.uint8)).astype(np.uint8).tobytes()
                for d in pdf["data"]
            ]
            yield pdf

    tiles = tiles.mapInPandas(inv, schema=tiles.schema)
    rows = nearblack(tiles, white=True, set_mask=False).collect()
    got = np.zeros((128, 128), np.uint8)
    for r in rows:
        a = _decode(r.data, r.dtype, r.height, r.width)
        got[r.tile_y * 64:(r.tile_y + 1) * 64,
            r.tile_x * 64:(r.tile_x + 1) * 64] = a
    assert (got == ref_out).all()


def test_partial_edge_tiles_match_one_tile(spark):
    """A 300x300 DEM tiled at 256 (44-px edge tiles) and as one 300-px
    tile give the same output and mask: every tile starts at its index
    times the full tile size."""
    from gdal_spark.nearblack import nearblack
    from gdal_spark.tiling import _decode

    got = []
    for px in (256, 512):
        img = {1: np.zeros((300, 300), np.int16), 101: np.zeros((300, 300), np.uint8)}
        for r in nearblack(synth.dem_tiles_df(spark, 300, tile_px=px)).collect():
            img[r.band][r.tile_y * px:r.tile_y * px + r.height,
                        r.tile_x * px:r.tile_x * px + r.width] = (
                _decode(r.data, r.dtype, r.height, r.width))
        got.append(img)
    assert (got[1][101] == 0).any() and (got[1][101] == 255).any()
    for band in (1, 101):
        np.testing.assert_array_equal(got[0][band], got[1][band])
