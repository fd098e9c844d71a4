"""Golden tests for tile assignment (FIXTURES.md golden #2) and the
raster tile pipeline (golden #5, GDAL-checksum digests).

The tile-math oracle below is an independent scalar reimplementation of
the reference formulas (osgeo_utils/gdal2tiles.py:355-466) — math.log/
tan per point — so the Spark column expressions are tested against the
reference's own arithmetic, not against shared code.
"""

import math

import numpy as np
import pandas as pd
import pytest

from gdal_spark import geomlite as G
from gdal_spark import synth, tiling
from gdal_spark.joins import extract_geom

ZOOM = 12
N_DOCS = 3000


# ------------------------------------------------- reference-formula oracle
def _oracle_tile(lon: float, lat: float, zoom: int):
    origin_shift = 2 * math.pi * 6378137 / 2.0
    res = 2 * math.pi * 6378137 / 256 / (2**zoom)
    mx = lon * origin_shift / 180.0
    my = math.log(math.tan((90 + lat) * math.pi / 360.0)) / (math.pi / 180.0)
    my = my * origin_shift / 180.0
    px = (mx + origin_shift) / res
    py = (my + origin_shift) / res
    tx = int(math.ceil(px / 256.0) - 1)
    ty = int(math.ceil(py / 256.0) - 1)  # TMS
    ty_google = (2**zoom - 1) - ty
    return tx, ty_google, _oracle_quadkey(tx, ty_google, zoom)


def _oracle_quadkey(tx: int, ty_google: int, zoom: int) -> str:
    quadkey = ""
    for i in range(zoom, 0, -1):
        digit = 0
        mask = 1 << (i - 1)
        if (tx & mask) != 0:
            digit += 1
        if (ty_google & mask) != 0:
            digit += 2
        quadkey += str(digit)
    return quadkey


def test_tile_assignment_golden(spark):
    docs = extract_geom(synth.documents_df(spark, N_DOCS))
    got = (
        tiling.assign_tiles(docs, ZOOM)
        .select("doc_id", "lon", "lat", "zoom", "tile_x", "tile_y", "quadkey")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(got) == N_DOCS
    for r in got.itertuples(index=False):
        tx, ty, qk = _oracle_tile(r.lon, r.lat, ZOOM)
        assert (r.tile_x, r.tile_y, r.quadkey) == (tx, ty, qk), r.doc_id
    # numpy mirror agrees too
    from gdal_spark.cells import np_lonlat_to_tile

    ntx, nty = np_lonlat_to_tile(got["lon"].to_numpy(), got["lat"].to_numpy(), ZOOM)
    assert (ntx == got["tile_x"].to_numpy()).all()
    assert (nty == got["tile_y"].to_numpy()).all()


def test_tile_assignment_is_pure_codegen(spark):
    docs = extract_geom(synth.documents_df(spark, 10))
    out = tiling.assign_tiles(docs.select("doc_id", "lon", "lat"), ZOOM)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # no shuffle: pure map arithmetic


def _tile_centre(tx: int, ty_google: int, zoom: int) -> tuple[float, float]:
    n = 2**zoom
    lat = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * (ty_google + 0.5) / n))))
    return (tx + 0.5) / n * 360.0 - 180.0, lat


@pytest.mark.parametrize("zoom", [1, 12, 23])
def test_quadkey_across_zooms(spark, zoom):
    """The Morton quadkey equals the reference's per-bit digits at low,
    mid and high zoom: on the four corner tiles (tx/ty at 0 and 2^z-1),
    on the domain edges (lon +-180, lat +-85.05, where assign_tiles
    clamps the tile) and on a random sample."""
    hi = 2**zoom - 1
    corners = [(x, y) for x in (0, hi) for y in (0, hi)]
    pts = [_tile_centre(x, y, zoom) for x, y in corners]
    pts += [(lon, lat) for lon in (-180.0, 180.0) for lat in (-85.05, 0.0, 85.05)]
    rng = np.random.default_rng(zoom)
    pts += list(zip(rng.uniform(-180, 180, 200), rng.uniform(-85.05, 85.05, 200)))
    df = spark.createDataFrame(
        [(i, float(lon), float(lat)) for i, (lon, lat) in enumerate(pts)],
        "i int, lon double, lat double",
    )
    got = tiling.assign_tiles(df, zoom).orderBy("i").collect()
    assert [(r.tile_x, r.tile_y) for r in got[:4]] == corners
    for r in got:
        tx, ty, _ = _oracle_tile(r.lon, r.lat, zoom)
        tx, ty = min(max(tx, 0), hi), min(max(ty, 0), hi)
        assert (r.tile_x, r.tile_y, r.quadkey) == (tx, ty, _oracle_quadkey(tx, ty, zoom)), r.i


def test_quadkey_zoom0_is_empty(spark):
    df = spark.createDataFrame([(-180.0, -85.05), (0.0, 0.0), (180.0, 85.05)], "lon double, lat double")
    got = tiling.assign_tiles(df, 0).collect()
    assert [(r.tile_x, r.tile_y, r.quadkey) for r in got] == [(0, 0, "")] * 3


def test_quadkey_expression_size_is_flat_in_zoom(spark):
    """The quadkey is one Morton code, not one expression per digit:
    its expression text at zoom 24 is within a few literal digits of
    its text at zoom 4."""
    from pyspark.sql import functions as F

    from gdal_spark.cells import quadkey

    def size(z):
        return len(str(quadkey(F.col("tx"), F.col("ty"), z)))

    assert size(24) - size(4) <= 16


# --------------------------------------------------------------- checksums
def test_checksum_golden(spark):
    tiles = synth.tiles_src_df(spark, 3, 2)
    got = tiling.checksum_table(tiles).toPandas().sort_values(["tile_x", "tile_y"])
    for r in got.itertuples(index=False):
        exp = G.gdal_checksum(synth.tile_pixels_np(r.tile_x, r.tile_y))
        assert r.checksum == exp
    assert got["checksum"].nunique() > 1


def test_checksum_float_nan_semantics():
    """Float path of alg/gdalchecksum.cpp:108-131: +0.5 floor, clamp,
    NaN -> cast of 0x80000000."""
    arr = np.array([[1.4, 1.6], [-2.5, np.nan]], dtype=np.float64)
    # 1.9->1, 2.1->2, -2.0->-2, NaN->-2147483648
    v = [1, 2, -2, -2147483648]
    primes = [7, 11, 13, 17]
    exp = sum(int(math.fmod(x, p)) for x, p in zip(v, primes)) & 0xFFFF
    assert G.gdal_checksum(arr) == exp


# --------------------------------------------------------------- translate
def test_translate_window_scale_cast(spark):
    tiles = synth.tiles_src_df(spark, 4, 4)
    out = tiling.translate(
        tiles, window=(1, 1, 2, 2), cast_to="uint16", scale=(2.0, 10.0)
    )
    got = out.toPandas()
    assert len(got) == 4
    assert set(got["dtype"]) == {"uint16"}
    for r in got.itertuples(index=False):
        src = synth.tile_pixels_np(r.tile_x, r.tile_y).astype(np.float64)
        exp = np.clip(np.floor(src * 2.0 + 10.0 + 0.5), 0, 65535).astype(np.uint16)
        assert np.array_equal(
            np.frombuffer(r.data, dtype=np.uint16).reshape(256, 256), exp
        )


def test_translate_pushes_window_filter(spark):
    tiles = synth.tiles_src_df(spark, 4, 4)
    out = tiling.translate(tiles, window=(0, 0, 1, 1))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Filter" in plan and "Exchange" not in plan


# ---------------------------------------------------------------- overview
def test_overview_average_golden(spark):
    tiles = synth.tiles_src_df(spark, 2, 2)
    ov = tiling.build_overview(tiles, kernel="average").toPandas()
    assert len(ov) == 1 and ov.iloc[0]["zoom"] == 11
    mosaic = np.zeros((512, 512), dtype=np.float64)
    for tx in range(2):
        for ty in range(2):
            mosaic[ty * 256 : (ty + 1) * 256, tx * 256 : (tx + 1) * 256] = (
                synth.tile_pixels_np(tx, ty)
            )
    q = mosaic.reshape(256, 2, 256, 2).transpose(0, 2, 1, 3).reshape(256, 256, 4)
    exp = np.clip(np.floor(q.mean(axis=2) + 0.5), 0, 255).astype(np.uint8)
    got = np.frombuffer(ov.iloc[0]["data"], dtype=np.uint8).reshape(256, 256)
    assert np.array_equal(got, exp)


def test_overview_partial_edge_tiles(spark, tmp_path):
    """A 300x300 raster tiled at 256 has 44-px edge tiles: each child
    lands by its own shape, so the average overview is one 150x150
    tile, the 2x2 mean of the whole raster, and every other kernel
    ends at the same edge. A COG of it keeps the full-res 256-px tile
    size on the overview IFD (TIFF wants a multiple of 16)."""
    tiles = synth.dem_tiles_df(spark, 300, tile_px=256)
    ov = tiling.build_overview(tiles, "average").collect()
    assert [(r["width"], r["height"]) for r in ov] == [(150, 150)]
    src = synth.dem_pixels_np(0, 0, 300, 300).astype(np.float64)
    exp = np.floor(src.reshape(150, 2, 150, 2).mean(axis=(1, 3)) + 0.5)
    got = np.frombuffer(ov[0]["data"], dtype=np.int16).reshape(150, 150)
    assert np.array_equal(got, exp.astype(np.int16))
    others = [tiling.build_overview(tiles, k) for k in ("nearest", "mode", "gauss", "rms")]
    others += [tiling.build_overview_conv(tiles, k) for k in ("cubic", "lanczos")]
    for out in others:
        assert [(r["width"], r["height"]) for r in out.collect()] == [(150, 150)]
    from gdal_spark import geotiff

    p = str(tmp_path / "edge.tif")
    geotiff.write_cog(tiles, p, levels=1)
    _, ifds = geotiff._parse_ifds(p)
    assert [(d["tile_w"], d["tile_h"]) for d in ifds] == [([256], [256])] * 2
    assert [(d["width"], d["height"]) for d in ifds] == [([300], [300]), ([150], [150])]


# -------------------------------------------------------------------- warp
def test_warp_identity_nearest_preserves_checksums(spark):
    tiles = synth.tiles_src_df(spark, 2, 2)
    gt0 = tiles.select("geotransform").first()[0]
    # recover the global grid origin: tile (0,0) starts at grid origin
    src0 = tiles.filter((tiles.tile_x == 0) & (tiles.tile_y == 0)).select("geotransform").first()[0]
    origin = (src0[0], src0[3])
    res = src0[1]
    warped = tiling.warp(
        tiles, src_origin=origin, src_res=res,
        dst_origin=origin, dst_res=res, dst_tiles_x=2, dst_tiles_y=2,
        kernel="nearest",
    )
    got = tiling.checksum_table(warped).toPandas().set_index(["tile_x", "tile_y"])["checksum"]
    src_cks = tiling.checksum_table(tiles).toPandas().set_index(["tile_x", "tile_y"])["checksum"]
    for k in src_cks.index:
        assert got[k] == src_cks[k]


def _warped_mosaic(warped, n):
    got = np.zeros((n, n))
    for r in warped.collect():
        got[r.tile_y * r.height:(r.tile_y + 1) * r.height,
            r.tile_x * r.width:(r.tile_x + 1) * r.width] = (
            np.frombuffer(r.data, dtype=r.dtype).reshape(r.height, r.width))
    return got


@pytest.mark.parametrize("npx, dst_tiles", [
    pytest.param(300, 2, id="partial-tile-edge"),
    pytest.param(512, 3, id="whole-tile-edge")])
def test_warp_past_a_partial_source_edge_is_nodata(spark, npx, dst_tiles):
    """An identity warp of an npx x npx raster tiled at 256 onto a
    larger grid: destination pixels past the source's right and bottom
    edge read nodata, not the last source column or row, whether the
    edge tile is partial (300) or whole (512)."""
    tiles = synth.dem_tiles_df(spark, npx, tile_px=256)
    warped = tiling.warp(tiles, (0.0, 0.0), 1.0, (0.0, 0.0), 1.0, dst_tiles,
                         dst_tiles, "nearest", tile_px=256)
    got = _warped_mosaic(warped, dst_tiles * 256)
    exp = np.full(got.shape, -32767.0)
    exp[:npx, :npx] = synth.dem_pixels_np(0, 0, npx, npx)
    np.testing.assert_array_equal(got, exp)


def test_warp_half_pixel_shift_never_blends_the_fill(spark):
    """A bilinear warp of the 300x300 table shifted half a pixel in x:
    each destination pixel is the mean of two source columns, and
    column 299, whose source point is the raster's right edge, reads
    nodata, never the mean of the last column and the nodata fill."""
    tiles = synth.dem_tiles_df(spark, 300, tile_px=256)
    warped = tiling.warp(tiles, (0.0, 0.0), 1.0, (0.5, 0.0), 1.0, 2, 2,
                         "bilinear", tile_px=256)
    got = _warped_mosaic(warped, 512)
    src = synth.dem_pixels_np(0, 0, 300, 300).astype(np.float64)
    exp = np.full(got.shape, -32767.0)
    exp[:300, :299] = np.floor((src[:, :-1] + src[:, 1:]) / 2 + 0.5)
    assert got[10, 299] == -32767.0
    assert not (got == -16690.0).any()
    np.testing.assert_array_equal(got, exp)


_HOLE = (20, 20)  # (row, col) of the one interior nodata pixel


def _holed_tiles(spark):
    """One 64x64 float64 tile of the DEM ramp with one nodata pixel."""
    src = synth.dem_pixels_np(0, 0, 64, 64).astype(np.float64)
    src[_HOLE] = -32767.0
    row = synth.tile_row("holed", 1, 0, 0, 0, src, (0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
                         nodata=-32767.0)
    return spark.createDataFrame(pd.DataFrame([row]), synth.TILE_SCHEMA), src


def _filter_weight(kernel, t):
    """The filters as their textbook formulas of the distance t."""
    a = np.abs(t)
    if kernel == "cubic":  # Catmull-Rom
        return np.where(a <= 1, 1.5 * a**3 - 2.5 * a**2 + 1,
                        np.where(a <= 2, -0.5 * a**3 + 2.5 * a**2 - 4 * a + 2, 0.0))
    if kernel == "cubicspline":
        return np.where(a < 1, (2 - a)**3 - 4 * (1 - a)**3, np.where(a < 2, (2 - a)**3, 0.0))
    return np.where(a < 3, np.sinc(t) * np.sinc(t / 3), 0.0)  # lanczos-3


@pytest.mark.parametrize("kernel", [
    "nearest", "bilinear", "cubic", "cubicspline", "lanczos", "average", "sum",
    "rms", "min", "max", "mode", "med", "q1", "q3"])
def test_warp_drops_nodata_taps(spark, kernel):
    """Every kernel drops the nodata pixel from its taps instead of
    blending the fill into data (GDAL's masked warp kernel). The point
    kernels sample at (+0.3, +0.2) px, the footprints at 2x."""
    tiles, src = _holed_tiles(spark)
    footprint = kernel in ("average", "sum", "rms", "min", "max", "mode", "med",
                           "q1", "q3")
    res, origin, ts = (2.0, (0.0, 0.0), 32) if footprint else (1.0, (0.3, -0.2), 48)
    out = tiling.warp(tiles, (0.0, 0.0), 1.0, origin, res, 1, 1, kernel,
                      tile_px=ts, src_tile_px=64).collect()[0]
    got = np.frombuffer(out.data, dtype=np.float64).reshape(ts, ts)
    valid = src != -32767.0
    if kernel in ("cubic", "cubicspline", "lanczos"):
        first, n = (-2, 6) if kernel == "lanczos" else (-1, 4)
        for r in range(19, 22):
            for c in range(19, 22):
                lx = (origin[0] + (c + 0.5) * res) - 0.5
                ly = (-(origin[1] - (r + 0.5) * res)) - 0.5
                ix, iy = int(np.floor(lx)), int(np.floor(ly))
                k = np.arange(first, first + n)
                w = np.outer(_filter_weight(kernel, k - (ly - iy)),
                             _filter_weight(kernel, k - (lx - ix)))
                v = src[iy + first:iy + first + n, ix + first:ix + first + n]
                m = valid[iy + first:iy + first + n, ix + first:ix + first + n]
                assert not m.all()
                want = (w * v)[m].sum() / w[m].sum()
                assert got[r, c] == pytest.approx(want, rel=1e-9), (r, c)
    elif kernel in ("sum", "rms"):
        r, c = _HOLE[0] // 2, _HOLE[1] // 2
        block = src[2 * r:2 * r + 2, 2 * c:2 * c + 2][valid[2 * r:2 * r + 2, 2 * c:2 * c + 2]]
        assert block.size == 3
        want = block.sum() if kernel == "sum" else np.sqrt((block**2).mean())
        assert got[r, c] == pytest.approx(want, rel=1e-12)
    else:
        lo, hi = src[valid].min(), src[valid].max()
        assert (got == -32767.0).sum() <= 1
        assert ((got == -32767.0) | ((got >= lo) & (got <= hi))).all()


def test_warp_shift_halfres_bilinear_golden(spark):
    """Downscale 2x with a half-pixel-aligned grid; oracle = same
    inverse-mapping math in plain numpy over the full mosaic."""
    tiles = synth.tiles_src_df(spark, 2, 2)
    src0 = tiles.filter((tiles.tile_x == 0) & (tiles.tile_y == 0)).select("geotransform").first()[0]
    origin = (src0[0], src0[3])
    res = src0[1]
    warped = tiling.warp(
        tiles, src_origin=origin, src_res=res,
        dst_origin=origin, dst_res=res * 2, dst_tiles_x=1, dst_tiles_y=1,
        kernel="bilinear",
    ).toPandas()
    assert len(warped) == 1
    got = np.frombuffer(warped.iloc[0]["data"], dtype=np.uint8).reshape(256, 256)

    mosaic = np.zeros((512, 512), dtype=np.float64)
    for tx in range(2):
        for ty in range(2):
            mosaic[ty * 256 : (ty + 1) * 256, tx * 256 : (tx + 1) * 256] = (
                synth.tile_pixels_np(tx, ty)
            )
    # Same world-coordinate formulation as the engine (and as GDAL's
    # transformer chain, alg/gdaltransformer.cpp:2327): dst px -> world
    # -> src px. Going through world coords matters for bit-parity at
    # exact .5 interpolation boundaries.
    jj, ii = np.mgrid[0:256, 0:256]
    wx = origin[0] + (ii + 0.5) * (2 * res)
    wy = origin[1] - (jj + 0.5) * (2 * res)
    lx = (wx - origin[0]) / res - 0.5
    ly = (origin[1] - wy) / res - 0.5
    x0 = np.clip(np.floor(lx).astype(int), 0, 511)
    y0 = np.clip(np.floor(ly).astype(int), 0, 511)
    x1 = np.clip(x0 + 1, 0, 511)
    y1 = np.clip(y0 + 1, 0, 511)
    fx, fy = lx - x0, ly - y0
    exp = (
        mosaic[y0, x0] * (1 - fx) * (1 - fy) + mosaic[y0, x1] * fx * (1 - fy)
        + mosaic[y1, x0] * (1 - fx) * fy + mosaic[y1, x1] * fx * fy
    )
    exp = np.clip(np.floor(exp + 0.5), 0, 255).astype(np.uint8)
    assert np.array_equal(got, exp)


# ------------------------------------------------------------------ mosaic
def test_mosaic_priority(spark):
    a = synth.tiles_src_df(spark, 2, 1, seed=42)
    b = synth.tiles_src_df(spark, 1, 1, seed=99)  # overlaps tile (0,0)
    m = tiling.mosaic([a, b]).toPandas().sort_values(["tile_x", "tile_y"])
    assert len(m) == 2
    t00 = m[m.tile_x == 0].iloc[0]
    exp = synth.tile_pixels_np(0, 0, seed=99)
    assert np.array_equal(np.frombuffer(t00["data"], dtype=np.uint8).reshape(256, 256), exp)


def test_warp_cutline_masks_outside(spark):
    """gdalwarp -cutline: identity warp restricted to a rectangle —
    pixels with centers outside get nodata (oracle = closed-form box
    test, independent of the engine's PIP)."""
    import numpy as np

    tiles = synth.tiles_src_df(spark, 1, 1, zoom=12)
    gt = tiles.first()["geotransform"]
    x0, res, ytop = gt[0], gt[1], gt[3]
    # rect cutline covering pixel cols 50..199, rows 30..149
    cx0, cx1 = x0 + 50 * res, x0 + 200 * res
    cy1, cy0 = ytop - 30 * res, ytop - 150 * res
    ring = (
        np.array([cx0, cx1, cx1, cx0]),
        np.array([cy0, cy0, cy1, cy1]),
    )
    out = tiling.warp(
        tiles, src_origin=(x0, ytop), src_res=res,
        dst_origin=(x0, ytop), dst_res=res, dst_tiles_x=1, dst_tiles_y=1,
        kernel="nearest", cutline_rings=[ring],
    ).collect()[0]
    arr = np.frombuffer(out["data"], dtype=np.uint8).reshape(256, 256)
    src = synth.tile_pixels_np(0, 0)
    nodata = int(out["nodata"])
    jj, ii = np.mgrid[0:256, 0:256]
    wx = x0 + (ii + 0.5) * res
    wy = ytop - (jj + 0.5) * res
    inside = (wx > cx0) & (wx < cx1) & (wy > cy0) & (wy < cy1)
    assert np.array_equal(arr[inside], src[inside])
    assert (arr[~inside] == nodata).all()


def test_retile_roundtrip(spark):
    """Split 256 -> 64 then paste back 64 -> 256: checksums unchanged
    and tile ids/geotransforms consistent (gdal_retile semantics)."""
    tiles = synth.tiles_src_df(spark, 2, 1)
    small = tiling.retile(tiles, 64)
    assert small.count() == 2 * 16
    back = tiling.retile(small, 256)
    orig = {(r["tile_x"], r["tile_y"]): r["checksum"]
            for r in tiling.checksum_table(tiles).collect()}
    got = {(r["tile_x"], r["tile_y"]): r["checksum"]
           for r in tiling.checksum_table(back).collect()}
    assert got == orig
    gt0 = tiles.filter("tile_x = 1").first()["geotransform"]
    gtb = back.filter("tile_x = 1").first()["geotransform"]
    assert list(gt0) == list(gtb)


def test_retile_partial_edge_tiles(spark):
    """A 300x300 raster tiled at 256 has 44-px edge tiles: split to 64
    emits no zero-area piece, and coarsening back pastes each tile by
    its own shape, rebuilding the source's tiles."""
    tiles = synth.dem_tiles_df(spark, 300, tile_px=256)
    small = tiling.retile(tiles, 64)
    sizes = {(r["width"], r["height"]) for r in small.collect()}
    assert sizes == {(64, 64), (44, 64), (64, 44), (44, 44)}
    assert small.count() == 5 * 5
    back = tiling.retile(small, 256)

    def cks(t):
        return {(r["tile_x"], r["tile_y"]): r["checksum"]
                for r in tiling.checksum_table(t).collect()}

    assert cks(back) == cks(tiles)

    def shapes(t):
        return {(r["tile_x"], r["tile_y"]): (r["width"], r["height"],
                                             list(r["geotransform"]))
                for r in t.collect()}

    assert shapes(back) == shapes(tiles)


def test_mode_tiebreak_first_to_max():
    """GDAL's mode picks the value whose count FIRST reaches the max in
    row-major scan (overview.cpp histogram path) — pin the vectorized
    tie-break against hand-computed cases."""
    import numpy as np

    from gdal_spark.tiling import _mode_2x2

    # blocks in scan order [r0c0, r0c1, r1c0, r1c1]
    cases = [
        ([7.0, 8.0, 9.0, 1.0], 7.0),   # all distinct -> first
        ([5.0, 5.0, 9.0, 9.0], 5.0),   # 5 reaches 2 at slot 1
        ([9.0, 5.0, 5.0, 9.0], 5.0),   # 5 reaches 2 at slot 2, 9 at 3
        ([9.0, 5.0, 9.0, 5.0], 9.0),   # 9 reaches 2 at slot 2
        ([3.0, 3.0, 3.0, 1.0], 3.0),
    ]
    q = np.array([[c for c, _ in cases]])
    qv = np.ones_like(q, dtype=bool)
    out = _mode_2x2(q, qv, -1.0)
    assert out[0].tolist() == [e for _, e in cases]
    # all-invalid block -> nodata
    out2 = _mode_2x2(q[:, :1], np.zeros_like(q[:, :1], dtype=bool), -1.0)
    assert out2[0, 0] == -1.0


def test_stack_separate(spark):
    from pyspark.sql import functions as F

    from gdal_spark import synth, tiling

    a = synth.tiles_src_df(spark, 2, 2)
    b = synth.dome_tiles_df(spark, 2, 2, 256)
    out = tiling.stack_separate([a, b])
    assert out.count() == 8
    bands = {r["band"] for r in out.select("band").distinct().collect()}
    assert bands == {1, 2}
    assert out.filter(F.col("raster_id") != "stack").count() == 0


def test_best_overview_level():
    from gdal_spark.tiling import best_overview_level

    sizes = [(512, 512), (256, 256)]
    # exact 2x decimation -> first overview, window halved
    lvl, win = best_overview_level(1024, 1024, sizes, 100, 50, 500, 300,
                                   250, 150)
    assert lvl == 0 and win == (50, 25, 250, 150)
    # full-res request -> no overview helps
    lvl, win = best_overview_level(1024, 1024, sizes, 0, 0, 1024, 1024,
                                   1024, 1024)
    assert lvl == -1 and win == (0, 0, 1024, 1024)
    # heavy decimation -> coarsest level, window clamped inside
    lvl, (xo, yo, xs, ys) = best_overview_level(
        1024, 1024, sizes, 10, 20, 1000, 1000, 10, 10)
    assert lvl == 1
    assert xo + xs <= 256 and yo + ys <= 256
    # the 1.2 slack both ways: decimation 1.7 still uses the 2x level
    # (2 < 1.7*1.2); decimation 1.6 does not (2 >= 1.6*1.2)
    lvl, _ = best_overview_level(1024, 1024, sizes, 0, 0, 850, 850,
                                 500, 500)
    assert lvl == 0
    lvl, _ = best_overview_level(1024, 1024, sizes, 0, 0, 800, 800,
                                 500, 500)
    assert lvl == -1
