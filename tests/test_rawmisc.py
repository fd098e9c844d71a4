"""LCP / DOQ2 / ZMap / SIGDEM vs the reference's own fixtures and
expectations (autotest/gdrivers/lcp.py test 1, doq2.py test 1,
zmap.py + sigdem.py byte.tif roundtrips at checksum 4672)."""

import numpy as np

from gdal_spark import geomlite as G
from gdal_spark import rawmisc as R
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


def test_lcp_farsite(spark):
    # autotest lcp.py::test_lcp_1 — 8 bands, full checksum set
    p = reference_fixture(f"{DATA}/lcp/test_FARSITE_UTM12.LCP")
    info = R.parse_lcp(p)
    assert info["nbands"] == 8
    assert info["metadata"]["LATITUDE"] == "49"
    assert info["metadata"]["LINEAR_UNIT"] == "Meters"
    np.testing.assert_allclose(
        info["geotransform"],
        [285807.932887174887583, 30, 0, 5379230.386217921040952, 0,
         -30], atol=1e-5)
    b1 = info["bands"][0]["metadata"]
    assert b1["ELEVATION_MIN"] == "1064"
    assert b1["ELEVATION_MAX"] == "1492"
    assert info["bands"][1]["metadata"]["SLOPE_NUM_CLASSES"] == "36"
    assert info["bands"][2]["metadata"]["ASPECT_UNIT_NAME"] == \
        "Azimuth degrees"
    rows = R.read_lcp(spark, p).collect()
    want = [18645, 16431, 18851, 26182, 30038, 22077, 30388, 23249]
    for b, cks in enumerate(want, start=1):
        assert G.gdal_checksum(_band(rows, b)) == cks, b


def test_doq2(spark):
    # autotest doq2.py::test_doq2_1 — first-row checksums per band
    p = reference_fixture(f"{DATA}/doq2/C3607614_truncated.NWS")
    info = R.parse_doq2(p)
    assert info["metadata"]["QUADRANGLE_NAME"] == \
        "NORFOLK SOUTH 3.45 or 7.5-min. name*"
    np.testing.assert_allclose(
        info["geotransform"], [377054, 1, 0, 4082205, 0, -1])
    rows = R.read_doq2(spark, p, tile_px=8192).collect()
    for b, cks in ((1, 4201), (2, 4010), (3, 5820)):
        a = _band(rows, b)[:1, :500]
        assert G.gdal_checksum(a) == cks, b


def _cast(tiles, dtype):
    def cast(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["data"] = [
                np.frombuffer(d, np.dtype(t)).astype(dtype).tobytes()
                for d, t in zip(pdf["data"], pdf["dtype"])]
            pdf["dtype"] = dtype
            yield pdf

    return tiles.mapInPandas(cast, schema=tiles.schema)


def test_zmap_roundtrip(spark, tmp_path):
    # autotest zmap.py::test_zmap_1 — byte imagery survives the loop
    src = _cast(synth.tiles_src_df(spark, 2, 2), "float64")
    p = str(tmp_path / "rt.zmap")
    R.write_zmap(src, p)
    back = R.read_zmap(spark, p, raster_id="byte_like",
                       zoom=12).collect()
    want = {(r.tile_x, r.tile_y): np.frombuffer(
        r.data, np.float64).reshape(r.height, r.width)
        for r in src.collect()}
    assert len(back) == len(want)
    for r in back:
        got = np.frombuffer(r.data, np.float64).reshape(
            r.height, r.width)
        np.testing.assert_allclose(got, want[(r.tile_x, r.tile_y)])


def test_sigdem_roundtrip(spark, tmp_path):
    # autotest sigdem.py — byte.tif values survive (scale 1000)
    src = _cast(synth.tiles_src_df(spark, 2, 2), "float64")
    p = str(tmp_path / "rt.sigdem")
    R.write_sigdem(src, p)
    back = R.read_sigdem(spark, p, raster_id="byte_like",
                         zoom=12).collect()
    for r in back:
        got = np.frombuffer(r.data, np.float64).reshape(
            r.height, r.width)
        want = np.frombuffer(
            [s for s in src.collect()
             if (s.tile_x, s.tile_y) == (r.tile_x, r.tile_y)][0].data,
            np.float64).reshape(r.height, r.width)
        np.testing.assert_allclose(got, want)


def test_ndf(spark):
    # autotest ndf.py::test_ndf_1 — row-0 window checksum + gt
    p = reference_fixture(f"{DATA}/ndf/LE7134052000500350.H3")
    from gdal_spark.rawmisc import parse_ndf, read_ndf
    info = parse_ndf(p)
    np.testing.assert_allclose(
        info["geotransform"],
        [320325.75, 14.25, 0, 1383062.25, 0, -14.25], atol=1e-4)
    rows = [r for r in read_ndf(spark, p, tile_px=16384).collect()
            if r.tile_y == 0]
    rows.sort(key=lambda r: r.tile_x)
    full = np.hstack([np.frombuffer(r.data, np.uint8)
                      .reshape(r.height, r.width)[:1, :] for r in rows])
    assert G.gdal_checksum(full[:, :15620]) == 6510


def test_snodas_header(spark):
    # autotest snodas.py::test_snodas_1 — documented gt (the fake
    # fixture ships no .dat: reads zero-fill, checksum 0)
    p = reference_fixture(f"{DATA}/snodas/fake_snodas.hdr")
    info = R.parse_snodas(p)
    np.testing.assert_allclose(
        info["geotransform"],
        [-124.733749999995, 0.0083333333333330643, 0.0,
         52.874583333331302, 0.0, -0.0083333333333330054],
        atol=1e-12)
    rows = R.read_snodas(spark, p, tile_px=8192).collect()
    a = _band(rows)
    assert a.shape == (3351, 6935)
    assert G.gdal_checksum(a[:64, :64]) == 0


def test_til(spark):
    # autotest til.py::test_til_1/2 — single-tile TIL over byte.tif
    p = reference_fixture("autotest/gdrivers/data/til/testtil.til")
    info = R.parse_til(p)
    assert [t["filename"] for t in info["tiles"]] == ["byte.tif"]
    md = info["metadata"]
    assert "SATELLITEID" in md and "CLOUDCOVER" in md
    rows = R.read_til(spark, p).collect()
    assert G.gdal_checksum(_band(rows)) == 4672


def test_mff2(spark):
    # autotest mff2.py::test_mff2_1 — bytemff2 checksum 4672
    d = reference_fixture(f"{DATA}/mff2/bytemff2")
    from gdal_spark.rawmisc import parse_mff2, read_mff2
    info = parse_mff2(d)
    assert (info["width"], info["height"], info["dtype"]) == \
        (20, 20, "uint8")
    rows = read_mff2(spark, d).collect()
    assert G.gdal_checksum(_band(rows)) == 4672


def test_gsc(spark):
    # autotest gsc.py::test_gsc_1 — 1x1 fake grid, checksum 0
    p = reference_fixture(f"{DATA}/gsc/fakegsc.gsc")
    from gdal_spark.rawmisc import parse_gsc, read_gsc
    info = parse_gsc(p)
    assert (info["width"], info["height"]) == (1, 1)
    rows = read_gsc(spark, p).collect()
    a = _band(rows)
    assert a.shape == (1, 1)
    assert G.gdal_checksum(a.astype(np.float64)) == 0
