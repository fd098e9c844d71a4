"""CNSDTF (GB/T 17798-2007) grid driver — the fork's own raster
format. Reference: frmts/cnsdtf/cnsdtfdataset.cpp (Identify :489,
ParseHeader :703, CreateCopy :936)."""

import os

import numpy as np
import pytest

from gdal_spark import cnsdtf, synth, tiling
from gdal_spark.tiling import _decode


@pytest.fixture(scope="module")
def tmp(tmp_path_factory):
    yield str(tmp_path_factory.mktemp("cnsdtf"))


HDR = ("DataMark:CNSDTF-DEM\n"
       "Version:GB/T 17798-2007\n"
       "Alpha:0.0\n"
       "Compress:0\n"
       "X0:100.000000000000\n"
       "Y0:200.000000000000\n"
       "DX:10.000000000000\n"
       "DY:10.000000000000\n"
       "Row:3\n"
       "Col:4\n"
       "ValueType:Integer\n"
       "NODATA_value:-99999\n"
       "HZoom:1\n")


def test_header_parse():
    h = cnsdtf.parse_cnsdtf_header(HDR + "1 2 3 4\n5 6 7 8\n9 10 11 12\n")
    assert h["datamark"] == "CNSDTF-DEM"
    assert h["ncols"] == 4 and h["nrows"] == 3
    # Y0 is the TOP-LEFT origin, gt[5] = -DY (cnsdtfdataset.cpp:795)
    assert h["geotransform"] == [100.0, 10.0, 0.0, 200.0, 0.0, -10.0]
    assert h["dtype"] == "int32" and h["nodata"] == -99999.0
    assert h["header_lines"] == 13


def test_header_float_promotion_and_cellsize():
    # fractional NODATA_value promotes Integer -> Float32 (:836-853)
    h = cnsdtf.parse_cnsdtf_header(
        "DataMark:CNSDTF-RAS\nVersion:1\nAlpha:0\nCompress:0\n"
        "CELLSIZE:2.5\nRow:2\nCol:2\nValueType:Integer\n"
        "NODATA_value:-1.5\nHZoom:1\n")
    assert h["dtype"] == "float32" and h["nodata"] == -1.5
    assert h["geotransform"][1] == 2.5 and h["geotransform"][5] == -2.5


def test_header_requires_datamark():
    with pytest.raises(ValueError, match="datamark"):
        cnsdtf.parse_cnsdtf_header("ncols 4\nnrows 3\n")


def test_read_wrapped_lines(spark, tmp):
    # 25 columns forces the writer's 10-token wrapping: a raster row
    # spans 3 text lines — the token-offset scan must reassemble it
    arr = np.arange(25 * 7, dtype=np.int32).reshape(7, 25) % 200
    path = os.path.join(tmp, "wrapped.grd")
    body = []
    for r in range(7):
        buf = []
        for i, v in enumerate(arr[r]):
            buf.append("%d " % v)
            if i % 10 == 9:
                buf.append("\n")
        buf.append("\n")
        body.append("".join(buf))
    with open(path, "w") as f:
        f.write(HDR.replace("Row:3", "Row:7").replace("Col:4", "Col:25"))
        f.write("".join(body))
    tiles = cnsdtf.read_cnsdtf(spark, path, tile_px=16)
    got = {(t.tile_x, t.tile_y): _decode(t.data, t.dtype, t.height, t.width)
           for t in tiles.collect()}
    assert set(got) == {(0, 0), (1, 0)}
    assert np.array_equal(np.hstack([got[(0, 0)], got[(1, 0)]]), arr)
    assert got[(0, 0)].dtype == np.int32


def test_roundtrip_int(spark, tmp):
    src = synth.tiles_src_df(spark, 2, 2)
    path = os.path.join(tmp, "rt.grd")
    cnsdtf.write_cnsdtf(src, path)
    with open(path) as f:
        head = f.read(400)
    assert head.startswith("DataMark:CNSDTF-DEM\nVersion:GB/T 17798-2007")
    assert "ValueType:Integer" in head
    back = cnsdtf.read_cnsdtf(spark, path, raster_id="byte_like", zoom=12)
    a = {(r.tile_x, r.tile_y): r.checksum
         for r in tiling.checksum_table(src).collect()}
    b = {(r.tile_x, r.tile_y): r.checksum
         for r in tiling.checksum_table(back).collect()}
    assert a == b
    # geotransform survives
    t = back.filter("tile_x = 1 AND tile_y = 1").collect()[0]
    s = src.filter("tile_x = 1 AND tile_y = 1").collect()[0]
    assert list(t.geotransform) == pytest.approx(list(s.geotransform))


def test_roundtrip_float_and_prj(spark, tmp):
    import pandas as pd

    rng = np.random.default_rng(3)
    arr = rng.uniform(-50, 50, (20, 30)).astype(np.float32)
    src = spark.createDataFrame(pd.DataFrame([{
        "raster_id": "f32", "band": 1, "zoom": 0, "tile_x": 0,
        "tile_y": 0, "width": 30, "height": 20, "dtype": "float32",
        "nodata": -1.5, "crs": "PROJCS[\"test\"]",
        "geotransform": [5.0, 2.0, 0.0, 90.0, 0.0, -2.0],
        "data": arr.tobytes(),
    }]), schema=synth.TILE_SCHEMA)
    path = os.path.join(tmp, "f32.grd")
    cnsdtf.write_cnsdtf(src, path, force_raster=True)
    with open(path) as f:
        head = f.read(300)
    assert head.startswith("DataMark:CNSDTF-RAS")
    assert os.path.exists(os.path.join(tmp, "f32.prj"))
    back = cnsdtf.read_cnsdtf(spark, path, tile_px=32)
    t = back.collect()[0]
    assert t.dtype == "float32" and t.nodata == -1.5
    assert t.crs == "PROJCS[\"test\"]"
    assert np.array_equal(_decode(t.data, t.dtype, t.height, t.width), arr)


def test_identify_magic(spark, tmp):
    from gdal_spark.info import identify

    p = os.path.join(tmp, "id.grd")
    with open(p, "w") as f:
        f.write(HDR + "1 2 3 4\n5 6 7 8\n9 10 11 12\n")
    got = identify(spark, [p]).collect()[0]
    assert got.driver == "CNSDTF"


def test_token_count_mismatch_raises(spark, tmp):
    p = os.path.join(tmp, "short.grd")
    with open(p, "w") as f:
        f.write(HDR + "1 2 3 4\n5 6 7\n")  # 7 tokens, expected 12
    with pytest.raises(Exception, match="expected"):
        cnsdtf.read_cnsdtf(spark, p).collect()
