"""GeoPackage driver tests: distributed rowid-range vector scan,
GPB geometry blobs, tile-pyramid read through the from-scratch PNG
codec, and both sinks. Parity anchors: byte.gpkg (checksum 4672 +
byte.tif geotransform) and poly.gpkg.sql (the poly fixture feature
as a GPB blob)."""

import sqlite3

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark import geometry, gpkg, synth, tiling

from .conftest import reference_fixture

BYTE_GPKG = "autotest/gdrivers/data/gpkg/byte.gpkg"
POLY_SQL = "autotest/ogr/data/gpkg/poly.gpkg.sql"


@pytest.fixture(scope="module")
def poly_gpkg(tmp_path_factory):
    """Materialise the reference's poly.gpkg.sql dump (rtree lines
    need GPKG ST_* SQL functions sqlite3 lacks — stripped; the rtree
    is a write-only extension, not part of the data model)."""
    sql = open(reference_fixture(POLY_SQL)).read()
    lines = [l for l in sql.splitlines() if "rtree" not in l.lower()]
    path = str(tmp_path_factory.mktemp("gpkg") / "poly.gpkg")
    con = sqlite3.connect(path)
    con.executescript("\n".join(lines))
    con.commit()
    con.close()
    return path


def test_gpb_header_roundtrip():
    g = geometry.parse_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    blob = gpkg.make_gpb(geometry.to_wkb(g), 4326, (0.0, 4.0, 0.0, 4.0))
    srs, wkb = gpkg.parse_gpb(blob)
    assert srs == 4326
    out = geometry.to_wkt(geometry.parse_wkb(wkb))
    assert out.startswith("POLYGON((0.0000000 0.0000000")


def test_gpb_no_envelope():
    g = geometry.parse_wkt("POINT (3 7)")
    blob = gpkg.make_gpb(geometry.to_wkb(g), 0)
    srs, wkb = gpkg.parse_gpb(blob)
    assert srs == 0
    assert geometry.parse_wkb(wkb).parts[0][0][0] == 3.0


def test_read_poly_fixture(spark, poly_gpkg):
    df = gpkg.read_gpkg(spark, poly_gpkg)
    rows = df.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.fid == 1
    g = geometry.parse_wkt(r.wkt)
    xs, ys = g.parts[0][0]
    # gpkg_contents declares extent 478316..481645 / 4762880..4765610
    assert 478315 <= xs.min() and xs.max() <= 481646
    assert 4762879 <= ys.min() and ys.max() <= 4765611


def test_read_byte_gpkg_tiles(spark):
    t = gpkg.read_gpkg_tiles(spark, reference_fixture(BYTE_GPKG), raster_id="byte")
    rows = t.filter("band = 1").collect()
    assert len(rows) == 1
    r = rows[0]
    a = np.frombuffer(r.data, dtype=np.uint8).reshape(256, 256)
    from gdal_spark.geomlite import gdal_checksum

    assert gdal_checksum(a[:20, :20]) == 4672
    # byte.tif geotransform (440720, 60, 0, 3751320, 0, -60)
    assert r.geotransform[0] == 440720.0
    assert r.geotransform[1] == 60.0
    assert r.geotransform[3] == 3751320.0
    assert r.geotransform[5] == -60.0
    assert r.crs == "EPSG:26711"


def test_vector_roundtrip(spark, tmp_path):
    src = spark.createDataFrame(
        [
            ("a", 1, 2.5, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
            ("b", 2, 3.5, "POINT (1.5 2.5)"),
            ("c", 3, None, None),
        ],
        "name string, v long, x double, wkt string",
    )
    path = str(tmp_path / "rt.gpkg")
    n = gpkg.write_gpkg(src, path, table="zones", srs_id=4326)
    assert n == 3
    back = gpkg.read_gpkg(spark, path).orderBy("fid").collect()
    assert [r.name for r in back] == ["a", "b", "c"]
    assert [r.v for r in back] == [1, 2, 3]
    assert back[0].x == 2.5 and back[2].x is None
    assert back[1].wkt.startswith("POINT(1.5")
    assert back[2].wkt is None
    # catalog rows present and extent covers both geometries
    con = sqlite3.connect(path)
    (mnx, mny, mxx, mxy) = con.execute(
        "SELECT min_x, min_y, max_x, max_y FROM gpkg_contents"
    ).fetchone()
    con.close()
    assert (mnx, mny, mxx, mxy) == (0.0, 0.0, 4.0, 4.0)


def test_vector_scan_is_split(spark, tmp_path):
    """rows_per_batch slices the rowid space -> a multi-task scan."""
    src = spark.createDataFrame(
        [(i, f"POINT ({i} {i})") for i in range(100)], "k long, wkt string"
    )
    path = str(tmp_path / "s.gpkg")
    gpkg.write_gpkg(src, path, table="pts")
    back = gpkg.read_gpkg(spark, path, rows_per_batch=16)
    assert back.count() == 100
    ks = sorted(r.k for r in back.collect())
    assert ks == list(range(100))


def test_tiles_roundtrip_content_and_georef(spark, tmp_path):
    tiles = synth.tiles_src_df(spark, 2, 2)
    path = str(tmp_path / "t.gpkg")
    gpkg.write_gpkg_tiles(tiles, path, srs_id=3857)
    back = gpkg.read_gpkg_tiles(spark, path, raster_id="byte_like")

    def keyed(df):
        cks = {
            (r.tile_x, r.tile_y): r.checksum
            for r in tiling.checksum_table(df).collect()
        }
        return {
            (round(r.geotransform[0], 3), round(r.geotransform[3], 3)):
                cks[(r.tile_x, r.tile_y)]
            for r in df.collect()
        }

    a, b = keyed(tiles), keyed(back)
    assert a == b and len(a) == 4


def test_tiles_row0_is_top(spark, tmp_path):
    """GPKG spec: tile_row 0 at the matrix-set TOP even though the
    synth table is TMS-style (row 0 at bottom)."""
    tiles = synth.tiles_src_df(spark, 1, 2)
    path = str(tmp_path / "t.gpkg")
    gpkg.write_gpkg_tiles(tiles, path, srs_id=3857)
    con = sqlite3.connect(path)
    rows = dict(
        con.execute("SELECT tile_row, tile_data IS NOT NULL FROM tiles")
    )
    (ts_max_y,) = con.execute(
        "SELECT max_y FROM gpkg_tile_matrix_set"
    ).fetchone()
    con.close()
    assert set(rows) == {0, 1}
    # the source tile with the greater gt3 (higher y) must be row 0
    top_gt3 = max(r.geotransform[3] for r in tiles.collect())
    assert ts_max_y == pytest.approx(top_gt3)
