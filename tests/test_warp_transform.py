"""General-transformer warp (gdalwarp -t_srs analog): identity
transform reproduces the source exactly and equals the warp with no
transform, the reprojection fixture matches the sequential localref
warp, and suggested_warp_output covers the transformed extent."""

import numpy as np
import pytest

from gdal_spark import synth, tiling
from gdal_spark.crs import grid_transform_np


def _identity(xs, ys):
    return np.asarray(xs, dtype=np.float64), np.asarray(ys, dtype=np.float64)


def test_identity_transform_reproduces_source(spark):
    import localref
    tiles = synth.tiles_src_df(spark, 2, 2)
    res = localref._zoom_res(12)
    x0 = -np.pi * 6378137.0
    origin = (x0, x0 + 2 * 256 * res)
    out = tiling.warp(
        tiles, origin, res, origin, res, 2, 2, "nearest",
        inv_transform=_identity, dst_raster_id="idwarp")
    got = {(r["tile_x"], r["tile_y"]): r["checksum"]
           for r in tiling.checksum_table(out).collect()}
    g = localref.global_mosaic(2, 2)
    want = {(tx, ty): ck for _, _, _, tx, ty, ck in
            localref.tile_checksums(g, 256, "idwarp", 1, 12)}
    assert got == want


@pytest.mark.parametrize("kernel", ["nearest", "bilinear", "cubic", "cubicspline",
                                    "lanczos"])
def test_identity_transform_equals_no_transform(spark, kernel):
    """The transformer path and the affine path are one warp: through
    an identity inv_transform every point kernel gives the same tiles
    as with inv_transform=None (a 0.75x grid offset by a fraction of a
    pixel, so every tap weight is in play)."""
    import localref
    tiles = synth.tiles_src_df(spark, 2, 2)
    res = localref._zoom_res(12)
    x0 = -np.pi * 6378137.0
    origin = (x0, x0 + 2 * 256 * res)
    dst = (x0 + 0.3 * res, origin[1] - 0.2 * res)

    def tiles_of(**kw):
        out = tiling.warp(tiles, origin, res, dst, 0.75 * res, 2, 2, kernel, **kw)
        return {(r.tile_x, r.tile_y): r.data for r in out.collect()}

    affine = tiles_of()
    assert len(affine) == 4
    assert tiles_of(inv_transform=_identity) == affine


def test_reproject_matches_localref(spark):
    import localref
    tiles = synth.tiles_src_df(spark, 2, 2)
    (sx0, sy0), res, (dx0, dy0), dres = localref.reproject_fixture_grid()
    _, inv = grid_transform_np(3857, 3031)
    out = tiling.warp(
        tiles, (sx0, sy0), res, (dx0, dy0), dres, 2, 2, "bilinear",
        inv_transform=inv, dst_raster_id="reprojected",
        dst_crs="EPSG:3031")
    got = {(r["tile_x"], r["tile_y"]): r["checksum"]
           for r in tiling.checksum_table(out).collect()}
    g = localref.global_mosaic(2, 2)
    ref = localref._warp_transform_global(
        g, sx0, sy0, res, dx0, dy0, dres, 512, 512, inv, "bilinear")
    ref = localref._gdal_cast_local(ref, "uint8")
    want = {(tx, ty): ck for _, _, _, tx, ty, ck in
            localref.tile_checksums(ref, 256, "reprojected", 1, 12)}
    assert got == want
    # the reprojection must actually move content (not an identity)
    idcks = {(tx, ty): ck for _, _, _, tx, ty, ck in
             localref.tile_checksums(g, 256, "x", 1, 12)}
    assert got != idcks


def test_suggested_output_covers_extent():
    import localref
    res = localref._zoom_res(12)
    x0 = -np.pi * 6378137.0
    origin = (x0, x0 + 2 * 256 * res)
    fwd, _ = grid_transform_np(3857, 3031)
    (ox, oy), r, w, h = tiling.suggested_warp_output(origin, res, 512, 512, fwd)
    # corners of the source must land inside the suggested grid
    cx = np.array([x0, x0 + 512 * res, x0, x0 + 512 * res])
    cy = np.array([origin[1], origin[1], origin[1] - 512 * res,
                   origin[1] - 512 * res])
    dx, dy = fwd(cx, cy)
    eps = 1e-6
    assert (dx >= ox - eps).all() and (dx <= ox + w * r + eps).all()
    assert (dy <= oy + eps).all() and (dy >= oy - h * r - eps).all()
    assert max(w, h) == 512


def test_datum_warp_matches_localref_and_shifts(spark):
    import localref
    tiles = synth.tiles_src_df(spark, 2, 2)
    (sx0, sy0), res, (dx0, dy0), dres = localref.datum_warp_fixture_grid()
    _, inv = grid_transform_np(3857, 27700)
    out = tiling.warp(
        tiles, (sx0, sy0), res, (dx0, dy0), dres, 2, 2, "bilinear",
        inv_transform=inv, dst_raster_id="bng_warp", dst_crs="EPSG:27700")
    got = {(r["tile_x"], r["tile_y"]): r["checksum"]
           for r in tiling.checksum_table(out).collect()}
    g = localref.global_mosaic(2, 2)
    ref = localref._gdal_cast_local(localref._warp_transform_global(
        g, sx0, sy0, res, dx0, dy0, dres, 512, 512, inv, "bilinear"),
        "uint8")
    want = {(tx, ty): ck for _, _, _, tx, ty, ck in
            localref.tile_checksums(ref, 256, "bng_warp", 1, 12)}
    assert got == want
    # the Helmert step must move the grid: the same warp with the
    # datum step REMOVED (pure Airy TM would differ ~100 m) -> compare
    # preimages of the dst grid center directly
    import numpy as np
    cx = np.array([dx0 + 256 * dres])
    cy = np.array([dy0 - 256 * dres])
    sx_full, sy_full = inv(cx, cy)
    from gdal_spark.crs import _tm_inverse, webmerc_forward_np
    from gdal_spark.projpipe import (_BNG_A, _BNG_F, _BNG_FE, _BNG_FN_EFF,
                                     _BNG_K0, _BNG_LON0)
    from gdal_spark.datum import _NpBackend
    lon_nod, lat_nod = _tm_inverse(_NpBackend, cx, cy, _BNG_LON0, _BNG_A,
                                   _BNG_F, k0=_BNG_K0, false_e=_BNG_FE,
                                   false_n=_BNG_FN_EFF)
    sx_nod, sy_nod = webmerc_forward_np(lon_nod, lat_nod)
    d = float(np.hypot(sx_full - sx_nod, sy_full - sy_nod))
    assert 50.0 < d < 500.0  # datum shift visible in source space
