"""RRASTER / GenBin / PAux / MFF drivers vs the reference's own
fixtures and expected checksums (autotest/gdrivers/rraster.py:45,
genbin.py:43 gt, paux.py:42, mff.py:41-59)."""

import numpy as np

from gdal_spark import geomlite as G
from gdal_spark import rawlabels as RL
from gdal_spark import synth

from .conftest import reference_fixture

DATA = "autotest/gdrivers/data"


def _band(rows, band=1):
    rows = [r for r in rows if r.band == band]
    ntx = max(r.tile_x for r in rows) + 1
    nty = max(r.tile_y for r in rows) + 1
    grid = {(r.tile_x, r.tile_y): np.frombuffer(
        r.data, np.dtype(r.dtype)).reshape(r.height, r.width)
        for r in rows}
    return np.vstack([np.hstack([grid[(tx, ty)] for tx in range(ntx)])
                      for ty in range(nty)])


def test_rraster_byte_4672(spark):
    rows = RL.read_rraster(
        spark, reference_fixture(f"{DATA}/rraster/byte_rraster.grd")).collect()
    a = _band(rows)
    assert G.gdal_checksum(a) == 4672      # autotest rraster.py:45
    np.testing.assert_allclose(
        rows[0].geotransform, [440720, 60, 0, 3751320, 0, -60])


def test_rraster_rgba_multiband(spark):
    rows = RL.read_rraster(
        spark, reference_fixture(f"{DATA}/rraster/rgba_rraster.grd")).collect()
    assert sorted({r.band for r in rows}) == [1, 2, 3, 4]


def test_rraster_roundtrip(spark, tmp_path):
    src = synth.tiles_src_df(spark, 2, 2)
    base = str(tmp_path / "rt.grd")
    RL.write_rraster(src, base)
    back = RL.read_rraster(spark, base, raster_id="byte_like",
                           zoom=12).collect()
    want = {(r.tile_x, r.tile_y): np.frombuffer(
        r.data, np.uint8).reshape(r.height, r.width)
        for r in src.collect()}
    for r in back:
        np.testing.assert_array_equal(
            np.frombuffer(r.data, np.dtype(r.dtype)).reshape(
                r.height, r.width), want[(r.tile_x, r.tile_y)])


def test_genbin_header_gt(spark):
    # pixel file is truncated upstream; the label parse must still
    # reproduce the reference's expected geotransform
    # (autotest genbin.py:50-52, incl. the half-pixel CENTER shift)
    hdr = RL.parse_genbin(reference_fixture(f"{DATA}/genbin/tm4628_96.bil"))
    np.testing.assert_allclose(
        hdr["geotransform"],
        [1181700.9894981384, 82.021003723042099, 0.0,
         596254.01050186157, 0.0, -82.021003723045894], rtol=1e-12)
    assert hdr["nbands"] == 7 and hdr["dtype"] == "uint8"
    assert hdr["interleave"] == "bsq"


def test_genbin_roundtrip_via_synthetic(spark, tmp_path):
    # write a conforming .hdr/.bil pair and read it back
    a = (np.arange(20 * 15, dtype=np.uint8) % 251).reshape(15, 20)
    bil = str(tmp_path / "g.bil")
    with open(bil, "wb") as f:
        f.write(a.tobytes())
    with open(str(tmp_path / "g.hdr"), "w") as f:
        f.write("BANDS:      1\nROWS:   15\nCOLS:   20\n"
                "INTERLEAVING:   BIL\nDATATYPE: U8\n"
                "BYTE_ORDER: NA\nUL_X_COORDINATE: 10.5\n"
                "UL_Y_COORDINATE: 99.5\nLR_X_COORDINATE: 29.5\n"
                "LR_Y_COORDINATE: 85.5\n")
    rows = RL.read_genbin(spark, bil).collect()
    np.testing.assert_array_equal(_band(rows), a)
    np.testing.assert_allclose(rows[0].geotransform,
                               [10.0, 1, 0, 100.0, 0, -1])


def test_paux_small16_band2_12816(spark):
    rows = RL.read_paux(spark, reference_fixture(f"{DATA}/paux/small16.raw")).collect()
    a2 = _band(rows, band=2)
    assert a2.shape == (35, 31) and a2.dtype == np.uint16
    assert G.gdal_checksum(a2) == 12816    # autotest paux.py:42
    a1 = _band(rows, band=1)
    assert a1.shape == (35, 31)


def test_mff_byte_4672(spark):
    rows = RL.read_mff(spark, reference_fixture(f"{DATA}/mff/bytemff.hdr")).collect()
    assert G.gdal_checksum(_band(rows)) == 4672  # autotest mff.py:59


def test_mff_fake_and_tiled(spark):
    r1 = RL.read_mff(spark, reference_fixture(f"{DATA}/mff/fakemff.hdr")).collect()
    assert G.gdal_checksum(_band(r1)) == 1       # autotest mff.py:41
    r2 = RL.read_mff(spark, reference_fixture(f"{DATA}/mff/fakemfftiled.hdr")).collect()
    assert G.gdal_checksum(_band(r2)) == 1       # autotest mff.py:50
