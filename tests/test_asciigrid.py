"""AAIGrid / XYZ ASCII raster driver tests. Reference:
frmts/aaigrid/aaigriddataset.cpp (header :440, dtype pick :600,
CreateCopy :1180); frmts/xyz/xyzdataset.cpp (grid inference :531,
point registration :1106); autotest/gdrivers/aaigrid.py + xyz.py."""

import os

import numpy as np
import pytest

from gdal_spark import asciigrid, synth, tiling
from gdal_spark.geomlite import gdal_checksum
from gdal_spark.synth import tile_pixels_np
from gdal_spark.tiling import _decode


@pytest.fixture(scope="module")
def tmp(tmp_path_factory):
    yield str(tmp_path_factory.mktemp("asc"))


def _grid_text(arr, nodata=-9999, cellsize=10.0, xll=100.0, yll=200.0):
    h, w = arr.shape
    lines = [f"ncols {w}", f"nrows {h}", f"xllcorner {xll}",
             f"yllcorner {yll}", f"cellsize {cellsize}",
             f"NODATA_value {nodata}"]
    for r in range(h):
        lines.append(" ".join(str(int(v)) for v in arr[r]))
    return "\n".join(lines) + "\n"


def test_header_parse_corner_vs_center():
    h = asciigrid.parse_aaigrid_header(
        "ncols 4\nnrows 3\nxllcorner 10\nyllcorner 20\ncellsize 2\n"
        "NODATA_value -1\n0 0 0 0\n")
    assert h["ncols"] == 4 and h["nrows"] == 3
    assert h["geotransform"] == [10.0, 2.0, 0.0, 26.0, 0.0, -2.0]
    assert h["nodata"] == -1.0 and h["header_lines"] == 6
    hc = asciigrid.parse_aaigrid_header(
        "ncols 4\nnrows 3\nxllcenter 11\nyllcenter 21\ncellsize 2\n0 0 0 0\n")
    assert hc["geotransform"] == [10.0, 2.0, 0.0, 26.0, 0.0, -2.0]
    hd = asciigrid.parse_aaigrid_header(
        "ncols 4\nnrows 3\ndx 2\ndy 3\n0 0 0 0\n")
    assert hd["geotransform"][1] == 2.0 and hd["geotransform"][5] == -3.0


def test_read_small_grid_int(spark, tmp):
    arr = np.arange(12, dtype=np.int64).reshape(3, 4)
    p = os.path.join(tmp, "small.asc")
    open(p, "w").write(_grid_text(arr))
    tiles = asciigrid.read_aaigrid(spark, p).collect()
    assert len(tiles) == 1
    [t] = tiles
    assert t.dtype == "int32" and (t.width, t.height) == (4, 3)
    np.testing.assert_array_equal(
        _decode(t.data, t.dtype, t.height, t.width), arr.astype(np.int32))
    assert list(t.geotransform) == [100.0, 10.0, 0.0, 230.0, 0.0, -10.0]
    assert t.nodata == -9999.0 and t.raster_id == "small"


def test_read_float_detection(spark, tmp):
    p = os.path.join(tmp, "f.asc")
    open(p, "w").write(
        "ncols 2\nnrows 1\nxllcorner 0\nyllcorner 0\ncellsize 1\n1.5 2\n")
    [t] = asciigrid.read_aaigrid(spark, p).collect()
    assert t.dtype == "float32"
    np.testing.assert_allclose(
        _decode(t.data, t.dtype, t.height, t.width), [[1.5, 2.0]])


def test_read_multi_tile_and_edges(spark, tmp):
    # 300x520 grid -> 2x3 tile grid with ragged edges at tile_px=256
    big = np.vstack([np.hstack([tile_pixels_np(tx, ty) for tx in range(3)])
                     for ty in range(2)])[:300, :520]
    p = os.path.join(tmp, "big.asc")
    open(p, "w").write(_grid_text(big))
    tiles = {(t.tile_x, t.tile_y): t
             for t in asciigrid.read_aaigrid(spark, p).collect()}
    assert len(tiles) == 6
    assert (tiles[(0, 0)].width, tiles[(0, 0)].height) == (256, 256)
    assert (tiles[(2, 1)].width, tiles[(2, 1)].height) == (8, 44)
    got = tiles[(1, 1)]
    np.testing.assert_array_equal(
        _decode(got.data, got.dtype, got.height, got.width),
        big[256:300, 256:512].astype(np.int32))
    # per-tile geotransform advances by tile offset
    assert got.geotransform[0] == 100.0 + 256 * 10.0
    assert got.geotransform[3] == (200.0 + 300 * 10.0) - 256 * 10.0


def test_aaigrid_roundtrip(spark, tmp):
    arr = np.arange(12, dtype=np.int64).reshape(3, 4) * 7 % 100
    p = os.path.join(tmp, "rt.asc")
    open(p, "w").write(_grid_text(arr))
    tiles = asciigrid.read_aaigrid(spark, p)
    p2 = os.path.join(tmp, "rt2.asc")
    asciigrid.write_aaigrid(tiles, p2)
    [t] = asciigrid.read_aaigrid(spark, p2).collect()
    np.testing.assert_array_equal(
        _decode(t.data, t.dtype, t.height, t.width), arr.astype(np.int32))
    assert list(t.geotransform) == [100.0, 10.0, 0.0, 230.0, 0.0, -10.0]


def test_aaigrid_roundtrip_synth_tiles(spark, tmp):
    src = synth.tiles_src_df(spark, 2, 2)
    p = os.path.join(tmp, "synth.asc")
    asciigrid.write_aaigrid(src, p)
    back = asciigrid.read_aaigrid(spark, p, raster_id="byte_like", zoom=12)
    got = {(r.tile_x, r.tile_y): r.checksum
           for r in tiling.checksum_table(back).collect()}
    for ty in range(2):
        for tx in range(2):
            assert got[(tx, ty)] == gdal_checksum(tile_pixels_np(tx, ty))


def test_bad_row_length_raises(spark, tmp):
    p = os.path.join(tmp, "bad.asc")
    open(p, "w").write(
        "ncols 3\nnrows 1\nxllcorner 0\nyllcorner 0\ncellsize 1\n1 2\n")
    with pytest.raises(Exception, match="expected 3"):
        asciigrid.read_aaigrid(spark, p).collect()


def test_xyz_read(spark, tmp):
    # 4x3 grid, one sample per cell, comma separated, header line
    lines = ["X,Y,Z"]
    vals = np.arange(12, dtype=float).reshape(3, 4)
    for r in range(3):
        for c in range(4):
            lines.append(f"{10 + c * 2},{30 - r * 5},{vals[r, c]}")
    p = os.path.join(tmp, "g.xyz")
    open(p, "w").write("\n".join(lines) + "\n")
    [t] = asciigrid.read_xyz(spark, p).collect()
    assert (t.width, t.height) == (4, 3) and t.dtype == "float64"
    np.testing.assert_allclose(
        _decode(t.data, t.dtype, t.height, t.width), vals)
    # pixel-is-point: origin shifted half a cell out
    assert list(t.geotransform) == [9.0, 2.0, 0.0, 32.5, 0.0, -5.0]


def test_xyz_missing_cells_nan(spark, tmp):
    p = os.path.join(tmp, "sparse.xyz")
    open(p, "w").write("0 0 1\n1 0 2\n0 1 3\n")  # (1,1) absent
    [t] = asciigrid.read_xyz(spark, p).collect()
    a = _decode(t.data, t.dtype, t.height, t.width)
    assert a[1, 0] == 1.0 and a[1, 1] == 2.0 and a[0, 0] == 3.0
    assert np.isnan(a[0, 1])
