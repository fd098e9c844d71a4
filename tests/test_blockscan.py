"""The shared raw block scan, table-driven and fixture-free: each case
writes a small raster with numpy at the layout's offsets and strides,
reads it back through `blockscan.read` and compares with the array."""

import dataclasses
import struct

import numpy as np
import pytest

from gdal_spark import blockscan
from gdal_spark import bsb as BSB
from gdal_spark import imagemisc as IM
from gdal_spark import vicar as VIC
from gdal_spark.blockscan import Layout, TruncatedRaster

W, H, TILE = 150, 100, 64          # H is not a multiple of TILE


def _cube(nb, dtype, seed):
    rng = np.random.default_rng(seed)
    return (rng.random((nb, H, W)) * 250).astype(dtype)


def _write(path, cube, L):
    """Store `cube` (bands, rows, cols) at L's offsets and strides."""
    size = L.extent(range(len(L.band_offsets)), 0, H)
    buf = np.zeros(size[0] + size[1], np.uint8)
    for b, off in enumerate(L.band_offsets):
        v = np.ndarray((H, W), L.sample, buffer=buf, offset=off,
                       strides=(L.line, L.pixel))
        v[...] = cube[b][::-1] if L.bottom_up else cube[b]
    buf.tofile(path)
    return buf.nbytes


def _mosaic(rows, band):
    out = np.zeros((H, W), np.dtype(rows[0].dtype))
    for r in rows:
        if r.band == band:
            y, x = r.tile_y * TILE, r.tile_x * TILE
            out[y:y + r.height, x:x + r.width] = np.frombuffer(
                r.data, np.dtype(r.dtype)).reshape(r.height, r.width)
    return out


def _layout(kind, path, nb, dtype, bo, skip=16, prefix=0, pix=0, pad=0,
            **extra):
    isz = np.dtype(dtype).itemsize
    if kind == "bsq":
        offs, pix, line = ([b * (W * isz + prefix) * H for b in range(nb)],
                           pix or isz, W * isz + prefix + pad)
    elif kind == "bil":
        offs, pix, line = ([b * W * isz for b in range(nb)], isz,
                           W * isz * nb + prefix + pad)
    else:  # bip, or a pixel offset wider than the sample
        pix = pix or nb * isz
        offs, line = [b * isz for b in range(nb)], W * pix + prefix + pad
    return Layout(path, W, H, dtype, tuple(skip + o for o in offs),
                  pixel_offset=pix, line_offset=line, byteorder=bo, **extra)


CASES = {
    # name: (layout kind, bands, dtype, byte order, extra layout args)
    "bsq_le": ("bsq", 2, "uint16", "<", {}),
    "bil_be": ("bil", 3, "int32", ">", {}),
    "bip_le": ("bip", 3, "float32", "<", {}),
    "bsq_be_bottom_up": ("bsq", 2, "float64", ">", {"bottom_up": True}),
    "bil_line_prefix": ("bil", 2, "int16", ">", {"prefix": 12}),
    "pixel_offset_wide": ("bip", 1, "uint16", "<", {"pix": 5}),
    "line_stride_wide": ("bil", 2, "uint8", None, {"pad": 37}),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_layout_round_trip(spark, tmp_path, name):
    kind, nb, dtype, bo, kw = CASES[name]
    path = str(tmp_path / f"{name}.raw")
    L = _layout(kind, path, nb, dtype, bo, **kw)
    cube = _cube(nb, dtype, seed=len(name))
    _write(path, cube, L)
    gt = [100.0, 2.0, 0.0, 50.0, 0.0, -2.0]
    rows = blockscan.read(spark, L, raster_id=name, geotransform=gt,
                          tile_px=TILE).collect()
    assert len(rows) == nb * 2 * 3
    for b in range(nb):
        got = _mosaic(rows, b + 1)
        assert got.dtype == np.dtype(dtype)
        np.testing.assert_array_equal(got, cube[b])
    t11 = next(r for r in rows if (r.tile_x, r.tile_y) == (1, 1))
    assert list(t11.geotransform) == [228.0, 2.0, 0.0, -78.0, 0.0, -2.0]


def test_truncated_zero_fill_and_typed_error(spark, tmp_path):
    path = str(tmp_path / "cut.raw")
    L = _layout("bsq", path, 1, "uint16", "<")
    cube = _cube(1, "uint16", seed=3)
    n = _write(path, cube, L)
    cut = n - 40 * W * 2 - 8          # 40 rows and 4 samples past EOF
    with open(path, "r+b") as f:
        f.truncate(cut)
    want = cube[0].copy().reshape(-1)
    want[(cut - L.band_offsets[0]) // 2:] = 0

    filled = dataclasses.replace(L, zero_fill=True)
    rows = blockscan.read(spark, filled, raster_id="cut",
                          geotransform=[0, 1, 0, 0, 0, -1],
                          tile_px=TILE).collect()
    np.testing.assert_array_equal(_mosaic(rows, 1).reshape(-1), want)

    with open(path, "rb") as f:
        with pytest.raises(TruncatedRaster) as e:
            blockscan._read_strip(f.fileno(), cut, L, (0,), TILE, H - TILE)
    assert path in str(e.value)
    with pytest.raises(Exception, match="TruncatedRaster"):
        blockscan.read(spark, L, raster_id="cut",
                       geotransform=[0, 1, 0, 0, 0, -1],
                       tile_px=TILE).collect()


def test_spread_plans_no_exchange(spark):
    df = blockscan.spread(spark, [(i,) for i in range(40)], "k int")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert sorted(r.k for r in df.collect()) == list(range(40))


# --------------------------------------------- tiles carry their origin
def _vicar(path):
    label = f"LBLSIZE=200 FORMAT='BYTE' ORG='BSQ' NL={H} NS={W} NB=1 " \
        f"RECSIZE={W} NBB=0 NLB=0"
    with open(path, "wb") as f:
        f.write(label.ljust(200).encode())
        f.write(bytes(W * H))


def _sgi(path):
    with open(path, "wb") as f:
        f.write(struct.pack(">hBBHHHH", 474, 0, 1, 2, W, H, 1).ljust(512,
                                                                    b"\0"))
        f.write(bytes(W * H))


def _bsb(path):
    body = bytearray(b"VER/3.0\r\nBSB/NA=t,RA=%d,%d\r\nRGB/1,1,2,3\r\n"
                     % (W, H) + b"\x1a\x00\x07")
    offsets = []
    for y in range(H):
        offsets.append(len(body))
        body += bytes([y + 1]) + bytes([1 + (x + y) % 100
                                        for x in range(W)]) + b"\0"
    idx = len(body)
    body += struct.pack(f">{H}i", *offsets) + struct.pack(">i", idx)
    with open(path, "wb") as f:
        f.write(body)


@pytest.mark.parametrize("make,read", [
    (_vicar, VIC.read_vicar), (_sgi, IM.read_sgi), (_bsb, BSB.read_bsb)],
    ids=["vicar", "sgi", "bsb"])
def test_tile_origins_shift_by_pixel_offset(spark, tmp_path, make, read):
    path = str(tmp_path / "img")
    make(path)
    rows = read(spark, path, tile_px=TILE).collect()
    gt = {(r.tile_x, r.tile_y): list(r.geotransform) for r in rows}
    assert len(gt) == 6
    assert gt[(0, 0)] == [0.0, 1.0, 0.0, 0.0, 0.0, -1.0]
    assert gt[(1, 1)][0] == 64 * gt[(1, 1)][1]
    assert gt[(1, 1)][3] == 64 * gt[(1, 1)][5]
