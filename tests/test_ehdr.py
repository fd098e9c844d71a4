"""EHdr / ENVI raw-binary driver tests (frmts/raw/ehdrdataset.cpp,
frmts/envi/envidataset.cpp)."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark import ehdr, synth, tiling


def _tiles_from_np(spark, arrs_by_band, gt, dtype, tile_px=4,
                   raster_id="raw", crs=""):
    """Small in-memory tile table from full-image numpy arrays."""
    rows = []
    h, w = next(iter(arrs_by_band.values())).shape
    for band, a in arrs_by_band.items():
        for ty in range(0, (h + tile_px - 1) // tile_px):
            for tx in range(0, (w + tile_px - 1) // tile_px):
                sub = a[ty * tile_px:(ty + 1) * tile_px,
                        tx * tile_px:(tx + 1) * tile_px]
                rows.append({
                    "raster_id": raster_id, "band": band, "zoom": 0,
                    "tile_x": tx, "tile_y": ty,
                    "width": sub.shape[1], "height": sub.shape[0],
                    "dtype": dtype, "nodata": float("nan"), "crs": crs,
                    "geotransform": [gt[0] + tx * tile_px * gt[1], gt[1],
                                     0.0, gt[3] + ty * tile_px * gt[5],
                                     0.0, gt[5]],
                    "data": sub.astype(dtype).tobytes(),
                })
    return spark.createDataFrame(pd.DataFrame(rows), schema=synth.TILE_SCHEMA)


def _assemble(df, nbands, h, w, dtype, tile_px=4):
    out = {b: np.zeros((h, w), dtype=dtype) for b in range(1, nbands + 1)}
    for r in df.collect():
        a = np.frombuffer(r.data, dtype=np.dtype(r.dtype)).reshape(
            r.height, r.width)
        out[r.band][r.tile_y * tile_px:r.tile_y * tile_px + r.height,
                    r.tile_x * tile_px:r.tile_x * tile_px + r.width] = a
    return out


def test_parse_ehdr_header_center_registration():
    hdr = ehdr.parse_ehdr_header(
        "NROWS 10\nNCOLS 20\nNBANDS 2\nNBITS 16\nPIXELTYPE SIGNEDINT\n"
        "BYTEORDER I\nLAYOUT BIL\nULXMAP 100.5\nULYMAP 49.5\n"
        "XDIM 1\nYDIM 1\nNODATA -32768\n")
    assert hdr["dtype"] == "int16" and hdr["interleave"] == "bil"
    # ULXMAP is the pixel CENTER: corner = 100.5 - 0.5
    assert hdr["geotransform"] == [100.0, 1.0, 0.0, 50.0, 0.0, -1.0]
    assert hdr["nodata"] == -32768.0


def test_parse_envi_header_map_info():
    hdr = ehdr.parse_envi_header(
        "ENVI\nsamples = 6\nlines = 4\nbands = 3\nheader offset = 0\n"
        "data type = 4\ninterleave = bip\nbyte order = 0\n"
        "map info = {UTM, 1, 1, 500000, 4000000, 30, 30}\n")
    assert hdr["dtype"] == "float32" and hdr["nbands"] == 3
    assert hdr["geotransform"] == [500000.0, 30.0, 0.0, 4000000.0, 0.0, -30.0]
    assert hdr["crs"] == "UTM"


@pytest.mark.parametrize("layout", ["bil", "bip", "bsq"])
def test_ehdr_roundtrip_multiband(spark, layout, tmp_path):
    rng = np.random.RandomState(7)
    h, w = 6, 10  # edge tiles: 6 = 4 + 2, 10 = 2*4 + 2
    bands = {1: rng.randint(-999, 999, (h, w)).astype(np.int16),
             2: rng.randint(-999, 999, (h, w)).astype(np.int16)}
    gt = [10.0, 2.0, 0.0, 80.0, 0.0, -2.0]
    src = _tiles_from_np(spark, bands, gt, "int16", crs="EPSG:32633")
    path = str(tmp_path / f"img_{layout}.bil")
    meta = ehdr.write_ehdr(src, path, layout=layout, tile_px=4)
    assert meta["nrows"] == h and meta["ncols"] == w
    back = ehdr.read_ehdr(spark, path, tile_px=4, raster_id="raw")
    got = _assemble(back, 2, h, w, np.int16)
    np.testing.assert_array_equal(got[1], bands[1])
    np.testing.assert_array_equal(got[2], bands[2])
    # .prj sidecar carries the crs verbatim
    assert back.select("crs").first().crs == "EPSG:32633"
    r00 = back.filter((F.col("tile_x") == 0) & (F.col("tile_y") == 0)
                      & (F.col("band") == 1)).first()
    assert list(r00.geotransform) == gt


@pytest.mark.parametrize("interleave", ["bsq", "bil", "bip"])
def test_envi_roundtrip_float(spark, interleave, tmp_path):
    rng = np.random.RandomState(3)
    h, w = 5, 7
    bands = {1: rng.rand(h, w).astype(np.float32),
             2: rng.rand(h, w).astype(np.float32),
             3: rng.rand(h, w).astype(np.float32)}
    gt = [500000.0, 30.0, 0.0, 4000000.0, 0.0, -30.0]
    src = _tiles_from_np(spark, bands, gt, "float32", crs="UTM")
    path = str(tmp_path / "cube.dat")
    ehdr.write_envi(src, path, interleave=interleave, tile_px=4)
    back = ehdr.read_envi(spark, path, tile_px=4, raster_id="raw")
    got = _assemble(back, 3, h, w, np.float32)
    for b in (1, 2, 3):
        np.testing.assert_array_equal(got[b], bands[b])


def test_ehdr_big_endian_read(spark, tmp_path):
    a = np.arange(12, dtype=">u2").reshape(3, 4)
    data = str(tmp_path / "be.bil")
    with open(data, "wb") as f:
        f.write(a.tobytes())
    with open(str(tmp_path / "be.hdr"), "w") as f:
        f.write("NROWS 3\nNCOLS 4\nNBANDS 1\nNBITS 16\n"
                "PIXELTYPE UNSIGNEDINT\nBYTEORDER M\nLAYOUT BIL\n")
    back = ehdr.read_ehdr(spark, data, tile_px=4)
    got = _assemble(back, 1, 3, 4, np.uint16)
    np.testing.assert_array_equal(got[1], a.astype(np.uint16))


def test_ehdr_synth_2x2_checksums(spark, tmp_path):
    """The contract query path: synth 2x2 -> EHdr BIL -> checksums
    equal the source table's."""
    src = synth.tiles_src_df(spark, 2, 2)
    want = {(r.tile_x, r.tile_y): r.checksum
            for r in tiling.checksum_table(src).collect()}
    path = str(tmp_path / "rt.bil")
    ehdr.write_ehdr(src, path)
    back = ehdr.read_ehdr(spark, path, raster_id="byte_like", zoom=12)
    got = {(r.tile_x, r.tile_y): r.checksum
           for r in tiling.checksum_table(back).collect()}
    assert got == want
    os.remove(path)


def test_read_plan_is_map_only(spark, tmp_path):
    """The raw scan must stay a map-only plan — no Exchange."""
    a = np.arange(64, dtype=np.uint8).reshape(8, 8)
    data = str(tmp_path / "m.bil")
    with open(data, "wb") as f:
        f.write(a.tobytes())
    with open(str(tmp_path / "m.hdr"), "w") as f:
        f.write("NROWS 8\nNCOLS 8\nNBANDS 1\nNBITS 8\nLAYOUT BIL\n")
    df = ehdr.read_ehdr(spark, data, tile_px=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the only exchange allowed is the descriptor repartition
    # (RoundRobin on a KB-sized table), never a key shuffle
    assert "hashpartitioning" not in plan
