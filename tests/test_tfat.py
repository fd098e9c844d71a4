"""TFAT sharded MBTiles (the fork's
frmts/mbtiles/tfatmbtilesdataset.cpp)."""

import os

import numpy as np
import pytest

from gdal_spark import synth, tfat, tiling


@pytest.fixture(scope="module")
def tmp(tmp_path_factory):
    yield str(tmp_path_factory.mktemp("tfat"))


LEVELS = [
    {"level": 3, "min_row": 1, "max_row": 3, "min_col": 2, "max_col": 4,
     "count": 9},
    {"level": 4, "min_row": 2, "max_row": 6, "min_col": 4, "max_col": 8,
     "count": 25},
]


def test_tile_ordinal_column_major_one_based():
    # first tile of the first level
    assert tfat.tile_ordinal(LEVELS, 3, 2, 1) == 1
    # column-major: next row in same column
    assert tfat.tile_ordinal(LEVELS, 3, 2, 2) == 2
    # next column restarts rows (rows-per-col = 3)
    assert tfat.tile_ordinal(LEVELS, 3, 3, 1) == 4
    # second level starts after the first level's 9 tiles
    assert tfat.tile_ordinal(LEVELS, 4, 4, 2) == 10
    with pytest.raises(ValueError, match="outside"):
        tfat.tile_ordinal(LEVELS, 3, 9, 1)


def test_shard_of_quotient_remainder():
    # ceil(ordinal / maxcount) - 1 via the reference's formulation
    assert tfat.shard_of(1, 4) == 0
    assert tfat.shard_of(4, 4) == 0
    assert tfat.shard_of(5, 4) == 1
    assert tfat.shard_of(8, 4) == 1
    assert tfat.shard_of(9, 4) == 2


def test_roundtrip_sharded(spark, tmp):
    src = synth.tiles_src_df(spark, 2, 2)
    xml = os.path.join(tmp, "layer.xml")
    info = tfat.write_tfat(src, xml, tile_max_count=2)
    # 4 tiles / 2 per shard -> 2 shards on disk
    assert info == {"shards": 2, "tiles": 4}
    assert os.path.exists(os.path.join(tmp, "layer_0.mbtiles"))
    assert os.path.exists(os.path.join(tmp, "layer_1.mbtiles"))
    back = tfat.read_tfat(spark, xml)
    a = {(r.tile_x, r.tile_y): r.checksum
         for r in tiling.checksum_table(src).collect()}
    b = {(r.tile_x, r.tile_y): r.checksum
         for r in tiling.checksum_table(back).collect()}
    assert a == b


def test_shard_placement_matches_reference_formula(spark, tmp):
    import sqlite3

    meta = tfat.parse_tfat_xml(os.path.join(tmp, "layer.xml"))
    found = {}
    for i in range(meta["count"]):
        con = sqlite3.connect(os.path.join(tmp, f"layer_{i}.mbtiles"))
        for z, c, r in con.execute(
                "SELECT zoom_level, tile_column, tile_row FROM tiles"):
            found[(z, c, r)] = i
        con.close()
    assert len(found) == 4
    for (z, c, r), i in found.items():
        ordn = tfat.tile_ordinal(meta["levels"], z, c, r)
        assert tfat.shard_of(ordn, meta["tile_max_count"]) == i


def test_missing_shard_hard_fails(spark, tmp):
    xml = os.path.join(tmp, "gone.xml")
    with open(xml, "w") as f:
        f.write('<?xml version="1.0" encoding="utf-8"?>'
                "<TileMetadata><LayerName>gone</LayerName>"
                "<TileFileCount>1</TileFileCount><MinZoom>0</MinZoom>"
                "<MaxZoom>0</MaxZoom></TileMetadata>")
    with pytest.raises(FileNotFoundError, match="Cannot open file"):
        tfat.read_tfat(spark, xml)


def test_xml_required_fields(tmp_path):
    p = str(tmp_path / "bad.xml")
    with open(p, "w") as f:
        f.write("<TileMetadata><TileFileCount>1</TileFileCount>"
                "</TileMetadata>")
    with pytest.raises(ValueError, match="MinZoom"):
        tfat.parse_tfat_xml(p)
