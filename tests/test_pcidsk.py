"""PCIDSK driver vs the reference's own utm.pix fixture
(autotest/gdrivers/pcidsk.py::test_pcidsk_1 checksum 39576;
frmts/pcidsk/sdk header layouts)."""

import numpy as np
import pytest

from gdal_spark import geomlite as G
from gdal_spark import pcidsk
from gdal_spark import synth

from .conftest import reference_fixture

DATA = "autotest/gdrivers/data/pcidsk"


def _mosaic(rows, band=1):
    rows = [r for r in rows if r.band == band]
    ntx = max(r.tile_x for r in rows) + 1
    nty = max(r.tile_y for r in rows) + 1
    grid = {(r.tile_x, r.tile_y): np.frombuffer(
        r.data, np.dtype(r.dtype)).reshape(r.height, r.width)
        for r in rows}
    return np.vstack([np.hstack([grid[(tx, ty)] for tx in range(ntx)])
                      for ty in range(nty)])


def test_pcidsk_utm(spark):
    p = reference_fixture(f"{DATA}/utm.pix")
    assert pcidsk.identify(p)
    rows = pcidsk.read_pcidsk(spark, p).collect()
    a = _mosaic(rows)
    assert a.shape == (7, 500)
    assert G.gdal_checksum(a) == 39576   # autotest pcidsk.py:46


def test_pcidsk_tiled_rejected():
    # /SIS= system-block tiled channels are a documented gap
    with pytest.raises(ValueError, match="SIS"):
        pcidsk.parse_pcidsk(reference_fixture(f"{DATA}/tile_v2.pix"))


def test_pcidsk_roundtrip(spark, tmp_path):
    src = synth.tiles_src_df(spark, 2, 2)
    p = str(tmp_path / "rt.pix")
    pcidsk.write_pcidsk(src, p)
    assert pcidsk.identify(p)
    back = pcidsk.read_pcidsk(spark, p, raster_id="byte_like",
                              zoom=12).collect()
    want = {(r.tile_x, r.tile_y): np.frombuffer(
        r.data, np.uint8).reshape(r.height, r.width)
        for r in src.collect()}
    assert len(back) == len(want)
    for r in back:
        np.testing.assert_array_equal(
            np.frombuffer(r.data, np.dtype(r.dtype)).reshape(
                r.height, r.width), want[(r.tile_x, r.tile_y)])


def test_pcidsk_roundtrip_int16(spark, tmp_path):
    import pandas as pd

    src = synth.tiles_src_df(spark, 1, 1)

    def cast(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["data"] = [
                (np.frombuffer(d, np.uint8).astype(np.int16) - 100)
                .tobytes() for d in pdf["data"]]
            pdf["dtype"] = "int16"
            yield pdf

    src = src.mapInPandas(cast, schema=src.schema)
    p = str(tmp_path / "rt16.pix")
    pcidsk.write_pcidsk(src, p)
    back = pcidsk.read_pcidsk(spark, p).collect()
    assert back[0].dtype == "int16"
    want = np.frombuffer(src.collect()[0].data, np.int16)
    np.testing.assert_array_equal(
        np.frombuffer(back[0].data, np.int16), want)
