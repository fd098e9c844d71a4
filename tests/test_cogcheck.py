"""COG validator (osgeo_utils/samples/
validate_cloud_optimized_geotiff.py) over the engine's own GeoTIFF
structures."""

import os

import pytest

from gdal_spark import cogcheck, geotiff, synth


@pytest.fixture(scope="module")
def tmp(tmp_path_factory):
    yield str(tmp_path_factory.mktemp("cog"))


@pytest.fixture(scope="module")
def cog_path(spark, tmp):
    src = synth.tiles_src_df(spark, 4, 4)  # 1024x1024 -> rules engage
    p = os.path.join(tmp, "good.tif")
    geotiff.write_cog(src, p, levels=2)
    yield p


def test_write_cog_output_is_valid(spark, cog_path):
    rows = cogcheck.validate_cog(spark, cog_path, full_check=True).collect()
    assert rows == []


def test_external_ovr_flagged(spark, tmp, cog_path):
    import shutil

    p = os.path.join(tmp, "ext.tif")
    shutil.copy(cog_path, p)
    with open(p + ".ovr", "w") as f:
        f.write("x")
    errs = [r.message for r in
            cogcheck.validate_cog(spark, p).collect()]
    assert ("Overviews found in external .ovr file. They should be "
            "internal") in errs


def test_plain_geotiff_warns_no_overviews(spark, tmp):
    src = synth.tiles_src_df(spark, 4, 4)
    p = os.path.join(tmp, "plain.tif")
    geotiff.write_geotiff(src, p)
    rows = cogcheck.validate_cog(spark, p).collect()
    sev = {(r.severity, r.message) for r in rows}
    assert ("WARNING", "The file is greater than 512xH or Wx512, it is "
            "recommended to include internal overviews") in sev
    assert not [r for r in rows if r.severity == "ERROR"]


def test_small_image_passes(spark, tmp):
    src = synth.tiles_src_df(spark, 2, 2)  # 512x512: at the limit
    p = os.path.join(tmp, "small.tif")
    geotiff.write_geotiff(src, p)
    assert cogcheck.validate_cog(spark, p).collect() == []


def test_truncated_file_fails_full_check(spark, tmp, cog_path):
    import shutil

    p = os.path.join(tmp, "trunc.tif")
    shutil.copy(cog_path, p)
    with open(p, "r+b") as f:
        f.truncate(os.path.getsize(p) - 1000)
    errs = [r.message for r in
            cogcheck.validate_cog(spark, p, full_check=True).collect()]
    assert any("extends past end of file" in m for m in errs)


def test_dump_overviews(spark, tmp, cog_path):
    import numpy as np

    from gdal_spark.tiling import _decode

    files = geotiff.dump_overviews(spark, cog_path, outdir=tmp)
    assert sorted(os.path.basename(f) for f in files) == \
        ["good_1_0.tif", "good_1_1.tif"]
    lvl0 = geotiff.read_geotiff(spark, files[0]).collect()
    # first overview of the 1024px fixture is 512px
    assert sum(r.width for r in lvl0 if r.tile_y == min(
        t.tile_y for t in lvl0)) == 512
