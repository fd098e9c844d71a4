"""Direct parity with the reference's OWN test suite: the queries of
autotest/ogr/ogr_sql_test.py run through this engine over the actual
poly.shp / idlink.dbf fixture ROWS (attribute values transcribed below
from the dbf files), asserting the reference's literal expected
values.

  poly fixture:   autotest/ogr/data/poly.dbf (10 records, fields
                  AREA, EAS_ID, PRFEDEA; FID = 0-based record index)
  idlink fixture: autotest/ogr/data/idlink.dbf (7 records)
  expectations:   autotest/ogr/ogr_sql_test.py:40-185 (test_ogr_sql_1
                  .. test_ogr_sql_8)
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from .conftest import reference_fixture

POLY = pd.DataFrame(
    {
        "fid": range(10),
        "area": [215229.266, 247328.172, 261752.781, 547597.188, 15775.758,
                 101429.977, 268597.625, 1634833.375, -596610.313, 5268.813],
        "eas_id": [168, 179, 171, 173, 172, 169, 166, 158, 165, 170],
        "prfedea": ["35043411", "35043423", "35043414", "35043416",
                    "35043415", "35043412", "35043409", "35043369",
                    "35043408", "35043413"],
    }
)

IDLINK = pd.DataFrame(
    {
        "fid": range(7),
        "eas_id": [168, 179, 171, 170, 165, 158, 166],
        "name": ["_168_", "_179_", "_171_", "_170_", "_165_", "_158_", "_166_"],
    }
)


@pytest.fixture(scope="module")
def poly(spark):
    return spark.createDataFrame(POLY)


@pytest.fixture(scope="module")
def idlink(spark):
    return spark.createDataFrame(IDLINK)


def test_ogr_sql_1_where_count(poly):
    """SetAttributeFilter('eas_id < 167') -> 3; unfiltered -> 10
    (ogr_sql_test.py:40-53)."""
    assert poly.filter("eas_id < 167").count() == 3
    assert poly.count() == 10


def test_ogr_sql_2_distinct_first_encounter_order(poly):
    """select distinct eas_id from poly where eas_id < 170 ->
    [168, 169, 166, 158, 165] in FIRST-ENCOUNTER order (OGR's
    DISTINCT_LIST mode returns values in scan order; ogr/swq.cpp:
    342-351) (ogr_sql_test.py:59-66)."""
    got = (
        poly.filter("eas_id < 170")
        .groupBy("eas_id")
        .agg(F.min("fid").alias("_first"))
        .orderBy("_first")
        .select("eas_id")
        .toPandas()["eas_id"]
        .tolist()
    )
    assert got == [168, 169, 166, 158, 165]


def test_ogr_sql_3_distinct_order_by(poly):
    """... order by eas_id [desc] (ogr_sql_test.py:75-101)."""
    base = poly.filter("eas_id < 170").select("eas_id").distinct()
    assert base.orderBy(F.asc("eas_id")).toPandas()["eas_id"].tolist() == [
        158, 165, 166, 168, 169
    ]
    assert base.orderBy(F.desc("eas_id")).toPandas()["eas_id"].tolist() == [
        169, 168, 166, 165, 158
    ]


def test_ogr_sql_4_distinct_strings(idlink):
    """select distinct name from idlink order by name asc
    (ogr_sql_test.py:107-113) — note the reference expectation includes
    '_173_'-less set of exactly these 7 names."""
    got = (
        idlink.select("name").distinct().orderBy("name").toPandas()["name"].tolist()
    )
    assert got == ["_158_", "_165_", "_166_", "_168_", "_170_", "_171_", "_179_"]


def test_ogr_sql_5_column_functions(idlink):
    """select max/min/avg/sum/count(eas_id) from idlink
    (ogr_sql_test.py:123-142)."""
    r = idlink.agg(
        F.max("eas_id").alias("mx"),
        F.min("eas_id").alias("mn"),
        F.avg("eas_id").alias("av"),
        F.sum("eas_id").alias("sm"),
        F.count("eas_id").alias("ct"),
    ).first()
    assert r["mx"] == 179
    assert r["mn"] == 158
    assert abs(r["av"] - 168.142857142857) < 1e-12
    assert r["sm"] == 1177
    assert r["ct"] == 7


def test_ogr_sql_6_count_star(poly):
    """select count(*) from poly -> 10 (ogr_sql_test.py:148-156)."""
    assert poly.agg(F.count("*")).first()[0] == 10


def test_ogr_sql_7_fid_in(poly):
    """select eas_id, fid from poly where eas_id in (158,165) ->
    fids [7, 8] (ogr_sql_test.py:164-172)."""
    got = (
        poly.filter(F.col("eas_id").isin(158, 165))
        .orderBy("fid")
        .select("fid")
        .toPandas()["fid"]
        .tolist()
    )
    assert got == [7, 8]


def test_ogr_sql_8_wildcard(poly):
    """select * from poly where eas_id in (158,165) -> PRFEDEA
    ['35043369', '35043408'] (ogr_sql_test.py:178-186)."""
    got = (
        poly.filter(F.col("eas_id").isin(158, 165))
        .orderBy("fid")
        .toPandas()["prfedea"]
        .tolist()
    )
    assert got == ["35043369", "35043408"]


# ======================================================= raster parity
def _read_byte_tif():
    """Minimal TIFF reader for the reference's canonical uncompressed
    fixture autotest/gcore/data/byte.tif (20x20 GDT_Byte, EPSG:26711,
    origin (440720, 3751320), 60 m pixels; band checksum 4672 —
    SURVEY.md §5)."""
    import struct

    import numpy as np

    data = open(reference_fixture("autotest/gcore/data/byte.tif"), "rb").read()
    bo = "<" if data[:2] == b"II" else ">"
    off = struct.unpack(bo + "I", data[4:8])[0]
    n = struct.unpack(bo + "H", data[off : off + 2])[0]
    tags = {}
    for i in range(n):
        e = data[off + 2 + i * 12 : off + 2 + (i + 1) * 12]
        tag, typ, cnt = struct.unpack(bo + "HHI", e[:8])
        if typ == 3 and cnt == 1:
            val = struct.unpack(bo + "H", e[8:10])[0]
        else:
            val = struct.unpack(bo + "I", e[8:12])[0]
        tags[tag] = (typ, cnt, val)
    w, h = tags[256][2], tags[257][2]
    assert tags[259][2] == 1  # uncompressed
    strip = tags[273][2]
    arr = np.frombuffer(data[strip : strip + w * h], dtype=np.uint8).reshape(h, w)
    # ModelPixelScale (33550) / ModelTiepoint (33922) doubles
    scale = struct.unpack(bo + "3d", data[tags[33550][2] : tags[33550][2] + 24])
    tie = struct.unpack(bo + "6d", data[tags[33922][2] : tags[33922][2] + 48])
    return arr, scale, tie


def _byte_tile_df(spark):
    import numpy as np
    from pyspark.sql import Row

    from gdal_spark.synth import TILE_SCHEMA

    arr, scale, tie = _read_byte_tif()
    gt = [tie[3], scale[0], 0.0, tie[4], 0.0, -scale[1]]
    return spark.createDataFrame(
        [
            Row(
                raster_id="byte", band=1, zoom=0, tile_x=0, tile_y=0,
                width=arr.shape[1], height=arr.shape[0], dtype="uint8",
                nodata=-1.0, crs="EPSG:26711", geotransform=gt,
                data=bytearray(arr.tobytes()),
            )
        ],
        schema=TILE_SCHEMA,
    ), gt


def test_byte_tif_geotransform():
    """origin (440720, 3751320), 60 m pixels — the values the reference
    asserts throughout its utility tests (test_gdal_translate.py)."""
    _, scale, tie = _read_byte_tif()
    assert (tie[3], tie[4]) == (440720.0, 3751320.0)
    assert (scale[0], scale[1]) == (60.0, 60.0)


def test_byte_tif_checksum_4672(spark):
    """Checksum(byte.tif band 1) == 4672 — the most-cited golden value
    in the reference suite (e.g. test_gdalwarp.py:56)."""
    from gdal_spark import tiling

    tiles, _ = _byte_tile_df(spark)
    got = tiling.checksum_table(tiles).first()
    assert got["checksum"] == 4672


def test_byte_tif_srcwin_1x1_checksum_2(spark):
    """gdal_translate -srcwin 0 0 1 1 byte.tif -> checksum 2
    (test_gdal_translate.py:226-231)."""
    from gdal_spark import tiling

    tiles, _ = _byte_tile_df(spark)
    piece = tiling.translate(tiles, pixel_window=(0, 0, 1, 1))
    got = tiling.checksum_table(piece).first()
    assert got["checksum"] == 2


def test_byte_tif_outsize_200pct_checksum_18784(spark):
    """gdal_translate -outsize 40 40 (200%, nearest) byte.tif ->
    checksum 18784 (test_gdal_translate.py:153-175)."""
    from gdal_spark import tiling

    tiles, _ = _byte_tile_df(spark)
    up = tiling.upsample_nearest(tiles, 2)
    got = tiling.checksum_table(up).first()
    assert got["checksum"] == 18784


def _read_utmsmall():
    """autotest/gcore/data/utmsmall.tif: 100x100 GDT_Byte, multi-strip
    uncompressed; band checksum 50054."""
    import struct

    import numpy as np

    data = open(reference_fixture("autotest/gcore/data/utmsmall.tif"), "rb").read()
    bo = "<" if data[:2] == b"II" else ">"
    off = struct.unpack(bo + "I", data[4:8])[0]
    n = struct.unpack(bo + "H", data[off : off + 2])[0]
    tags = {}
    for i in range(n):
        e = data[off + 2 + i * 12 : off + 2 + (i + 1) * 12]
        tag, typ, cnt = struct.unpack(bo + "HHI", e[:8])
        if typ == 3 and cnt == 1:
            val = struct.unpack(bo + "H", e[8:10])[0]
        else:
            val = struct.unpack(bo + "I", e[8:12])[0]
        tags[tag] = (typ, cnt, val)
    w, h = tags[256][2], tags[257][2]
    t, c, v = tags[273]
    offs = struct.unpack(bo + f"{c}I", data[v : v + 4 * c])
    rps = tags[278][2]
    chunks = [
        np.frombuffer(
            data[o : o + w * min(rps, h - k * rps)], dtype=np.uint8
        ).reshape(min(rps, h - k * rps), w)
        for k, o in enumerate(offs)
    ]
    return np.vstack(chunks)


def _utm_tile_df(spark):
    import numpy as np
    from pyspark.sql import Row

    from gdal_spark.synth import TILE_SCHEMA

    arr = _read_utmsmall()
    gt = [440720.0, 60.0, 0.0, 3751320.0, 0.0, -60.0]
    return spark.createDataFrame(
        [
            Row(
                raster_id="utm", band=1, zoom=0, tile_x=0, tile_y=0,
                width=100, height=100, dtype="uint8", nodata=0.0,
                crs="EPSG:26711", geotransform=gt,
                data=bytearray(arr.tobytes()),
            )
        ],
        schema=TILE_SCHEMA,
    )


# cutline.csv: POLYGON ((445125 3748212, 442222 3748212, 442222 3750366,
# 445125 3750366, 445125 3748212)) — autotest/utilities/data/cutline.csv
def _cutline_ring():
    import numpy as np

    return (
        np.array([445125.0, 442222.0, 442222.0, 445125.0]),
        np.array([3748212.0, 3748212.0, 3750366.0, 3750366.0]),
    )


def test_utmsmall_checksum_50054(spark):
    from gdal_spark import tiling

    got = tiling.checksum_table(_utm_tile_df(spark)).first()
    assert got["checksum"] == 50054


def test_gdalwarp_21_cutline_checksum_19139(spark):
    """gdalwarp utmsmall.tif -cutline cutline.vrt -> checksum 19139
    (test_gdalwarp.py:430-441)."""
    import numpy as np

    from gdal_spark import tiling
    from gdal_spark.geomlite import gdal_checksum

    out = tiling.warp(
        _utm_tile_df(spark), (440720.0, 3751320.0), 60.0,
        (440720.0, 3751320.0), 60.0, 1, 1, "nearest",
        cutline_rings=[_cutline_ring()], tile_px=100,
    ).collect()[0]
    arr = np.frombuffer(out["data"], dtype=np.uint8).reshape(100, 100)
    assert gdal_checksum(arr) == 19139


def test_gdalwarp_22_cutline_tr30_checksum_14047(spark):
    """gdalwarp ... -cutline ... -tr 30 30 -> checksum 14047
    (test_gdalwarp.py:448-458) — exercises the SOURCE-side cutline
    mask semantics at a different output resolution."""
    import numpy as np

    from gdal_spark import tiling
    from gdal_spark.geomlite import gdal_checksum

    out = tiling.warp(
        _utm_tile_df(spark), (440720.0, 3751320.0), 60.0,
        (440720.0, 3751320.0), 30.0, 1, 1, "nearest",
        cutline_rings=[_cutline_ring()], tile_px=200, src_tile_px=100,
    ).collect()[0]
    arr = np.frombuffer(out["data"], dtype=np.uint8).reshape(200, 200)
    assert gdal_checksum(arr) == 14047


def _read_ref_tif(path):
    """Generic minimal reader for the reference's uncompressed fixtures
    (single- or multi-strip)."""
    import struct

    import numpy as np

    data = open(path, "rb").read()
    bo = "<" if data[:2] == b"II" else ">"
    off = struct.unpack(bo + "I", data[4:8])[0]
    n = struct.unpack(bo + "H", data[off : off + 2])[0]
    tags = {}
    for i in range(n):
        e = data[off + 2 + i * 12 : off + 2 + (i + 1) * 12]
        tag, typ, cnt = struct.unpack(bo + "HHI", e[:8])
        if typ == 3 and cnt == 1:
            val = struct.unpack(bo + "H", e[8:10])[0]
        else:
            val = struct.unpack(bo + "I", e[8:12])[0]
        tags[tag] = (typ, cnt, val)
    w, h = tags[256][2], tags[257][2]
    t, c, v = tags[273]
    if c == 1:
        return np.frombuffer(data[v : v + w * h], dtype=np.uint8).reshape(h, w)
    offs = struct.unpack(bo + f"{c}I", data[v : v + 4 * c])
    rps = tags[278][2]
    return np.vstack(
        [
            np.frombuffer(
                data[o : o + w * min(rps, h - k * rps)], dtype=np.uint8
            ).reshape(min(rps, h - k * rps), w)
            for k, o in enumerate(offs)
        ]
    )


def test_gdalwarp_11_bilinear_vs_golden_raster(spark):
    """gdalwarp -ts 40 40 -rb byte.tif vs the committed golden raster
    ref_data/testgdalwarp11.tif, judged by the reference's OWN
    criterion: max per-pixel diff <= 1 (test_gdalwarp.py's
    gdaltest.compare_ds acceptance)."""
    import numpy as np

    from gdal_spark import tiling

    tiles, _ = _byte_tile_df(spark)
    out = tiling.warp(
        tiles, (440720.0, 3751320.0), 60.0, (440720.0, 3751320.0), 30.0,
        1, 1, "bilinear", tile_px=40, src_tile_px=20,
    ).collect()[0]
    got = np.frombuffer(out["data"], dtype=np.uint8).reshape(40, 40).astype(np.int64)
    ref = _read_ref_tif(
        reference_fixture("autotest/utilities/ref_data/testgdalwarp11.tif")
    ).astype(np.int64)
    assert np.abs(got - ref).max() <= 1


def test_ogr_sql_like_ilike_on_reference_csv(spark):
    """LIKE is case-SENSITIVE (since GDAL 3.1), ILIKE case-insensitive
    — the reference's own expectations on its prime_meridian.csv
    (ogr_sql_test.py test_ogr_sql_ilike/test_ogr_sql_like: counts
    1 / 1 / 0)."""
    from gdal_spark import ogrsql as Q

    df = spark.read.option("header", True).csv(
        reference_fixture("autotest/ogr/data/prime_meridian.csv")
    )
    col = "PRIME_MERIDIAN_NAME"
    assert df.filter(Q.ogr_ilike(col, "GREEN%")).count() == 1
    assert df.filter(Q.ogr_ilike(col, "%WICH")).count() == 1
    assert df.filter(Q.ogr_ilike(col, "FOO%")).count() == 0
    assert df.filter(Q.ogr_like(col, "Green%")).count() == 1
    assert df.filter(Q.ogr_like(col, "%wich")).count() == 1
    assert df.filter(Q.ogr_like(col, "GREEN%")).count() == 0


def test_gdalwarp_12_cubic_vs_golden_raster(spark):
    """gdalwarp -ts 40 40 -rc byte.tif vs ref_data/testgdalwarp12.tif,
    reference acceptance bound maxdiff <= 1 (test_gdalwarp.py's
    compare_ds criterion). Exercises the Catmull-Rom 4x4 kernel with
    GDAL's bilinear border fallback."""
    import numpy as np

    from gdal_spark import tiling

    tiles, _ = _byte_tile_df(spark)
    out = tiling.warp(
        tiles, (440720.0, 3751320.0), 60.0, (440720.0, 3751320.0), 30.0,
        1, 1, "cubic", tile_px=40, src_tile_px=20,
    ).collect()[0]
    got = np.frombuffer(out["data"], dtype=np.uint8).reshape(40, 40).astype(np.int64)
    ref = _read_ref_tif(
        reference_fixture("autotest/utilities/ref_data/testgdalwarp12.tif")
    ).astype(np.int64)
    assert np.abs(got - ref).max() <= 1
