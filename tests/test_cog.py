"""COG writer tests — multi-IFD chain, overview-data-first layout,
checksum parity of every level against build_overview, GDAL-style
structure flags. Reference: gdal/frmts/gtiff/cogdriver.cpp (overviews
written before full res) and the published COG layout
(gdal.org/drivers/raster/cog.html); autotest/gdrivers/cog.py checks
the same ordering via a validate script."""

import os

import pytest

from gdal_spark import geotiff, synth, tiling
from gdal_spark.geomlite import gdal_checksum
from gdal_spark.synth import tile_pixels_np


@pytest.fixture(scope="module")
def cog_path(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cog"))
    p = os.path.join(d, "t.cog.tif")
    tiles = synth.tiles_src_df(spark, 2, 2)
    meta = geotiff.write_cog(tiles, p, levels=2)
    return p, meta


def test_ifd_chain_structure(cog_path):
    p, meta = cog_path
    ifds = geotiff.ifd_meta(p)
    assert len(ifds) == 3
    assert (ifds[0]["width"], ifds[0]["height"]) == (512, 512)
    assert (ifds[1]["width"], ifds[1]["height"]) == (256, 256)
    assert (ifds[2]["width"], ifds[2]["height"]) == (128, 128)
    assert all(i["tiled"] for i in ifds)
    # geo tags only on IFD0 (like the reference's COG output)
    assert ifds[0]["geotransform"][1] != 1.0
    assert meta["zooms"] == [12, 11, 10]


def test_overview_data_precedes_fullres(cog_path):
    p, _ = cog_path
    _, ifds = geotiff._parse_ifds(p)
    full = min(ifds[0]["tile_offsets"])
    ov1 = min(ifds[1]["tile_offsets"])
    ov2 = min(ifds[2]["tile_offsets"])
    assert ov2 < ov1 < full  # coarsest level's bytes lead the data region


def test_fullres_checksums(spark, cog_path):
    p, _ = cog_path
    back = geotiff.read_geotiff(spark, p, raster_id="byte_like", zoom=12)
    got = {(r.tile_x, r.tile_y): r.checksum
           for r in tiling.checksum_table(back).collect()}
    for ty in range(2):
        for tx in range(2):
            assert got[(tx, ty)] == gdal_checksum(tile_pixels_np(tx, ty))


def _avg2x2_u8(a):
    import numpy as np
    h, w = a.shape
    q = a.astype(np.float64).reshape(h // 2, 2, w // 2, 2)
    m = q.mean(axis=(1, 3))
    return np.clip(np.floor(m + 0.5), 0, 255).astype(np.uint8)


def test_overview_levels_match_numpy_average(spark, cog_path):
    import numpy as np

    p, _ = cog_path
    full = np.vstack([
        np.hstack([tile_pixels_np(tx, ty) for tx in range(2)])
        for ty in range(2)])
    l1, l2 = _avg2x2_u8(full), _avg2x2_u8(_avg2x2_u8(full))
    back1 = geotiff.read_geotiff(spark, p, ifd=1, raster_id="r", zoom=11)
    [r1] = tiling.checksum_table(back1).collect()
    assert r1.checksum == gdal_checksum(l1)
    back2 = geotiff.read_geotiff(spark, p, ifd=2, raster_id="r", zoom=10)
    [r2] = tiling.checksum_table(back2).collect()
    assert r2.checksum == gdal_checksum(l2)


def test_header_before_data(cog_path):
    p, meta = cog_path
    # all IFD metadata fits before the first data byte — the
    # range-reader property COG exists for
    _, ifds = geotiff._parse_ifds(p)
    first_data = min(min(i["tile_offsets"]) for i in ifds)
    assert meta["data_start"] <= first_data
    assert os.path.getsize(p) == meta["data_start"] + sum(
        sum(i["tile_counts"]) for i in ifds)
