"""GeoJSON / GeoJSONSeq source."""

import json

from gdal_spark.geojson import (geojson_geometry_to_geom, read_geojson,
                                read_geojson_seq)


def test_geometry_conversion():
    from gdal_spark import geometry as GM

    g = geojson_geometry_to_geom(
        {"type": "Polygon",
         "coordinates": [[[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]]}
    )
    assert GM.to_wkt(g, 0) == "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))"
    g2 = geojson_geometry_to_geom(
        {"type": "MultiLineString",
         "coordinates": [[[0, 0], [1, 1]], [[2, 2], [3, 3]]]}
    )
    assert g2.kind == "multilinestring" and len(g2.parts) == 2


def test_read_seq_and_collection(spark, tmp_path):
    feats = [
        {"type": "Feature", "id": 7,
         "geometry": {"type": "Point", "coordinates": [1.5, 2.5]},
         "properties": {"name": "a", "n": 3}},
        {"type": "Feature",
         "geometry": {"type": "LineString",
                      "coordinates": [[0, 0], [1, 0]]},
         "properties": {"name": "b", "nested": {"x": 1}}},
    ]
    seq = tmp_path / "f.geojsonl"
    seq.write_text("\n".join(json.dumps(f) for f in feats) + "\n")
    out = {r["fid"]: r for r in read_geojson_seq(spark, str(seq)).collect()}
    assert out[7]["geom_wkt"] == "POINT(1.5000000 2.5000000)"
    assert out[7]["properties"]["n"] == "3"
    # feature without id gets its line number
    assert out[1]["geom_wkt"].startswith("LINESTRING(")
    assert out[1]["properties"]["nested"] == '{"x": 1}'

    coll = tmp_path / "f.geojson"
    coll.write_text(json.dumps(
        {"type": "FeatureCollection", "features": feats}))
    got = read_geojson(spark, str(coll)).collect()
    assert len(got) == 2


def test_write_read_roundtrip(spark, tmp_path):
    import pandas as pd

    from gdal_spark.geojson import geojson_feature_lines

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "fid": [1, 2],
                "wkt": ["POINT(1.5 2.5)",
                        "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))"],
                "name": ["a", "b"],
            }
        )
    )
    lines = geojson_feature_lines(df, "wkt", "fid", ["name"])
    path = str(tmp_path / "out")
    lines.write.mode("overwrite").text(path)
    back = {r["fid"]: r for r in read_geojson_seq(spark, path).collect()}
    assert back[1]["geom_wkt"] == "POINT(1.5000000 2.5000000)"
    assert back[2]["geom_wkt"].startswith("POLYGON((")
    assert back[1]["properties"]["name"] == "a"


def test_geojson_seq_line_number_fallback_is_global(spark, tmp_path):
    """Features WITHOUT ids must get their global line number as fid —
    partition offsets, not per-partition restarts."""
    path = str(tmp_path / "feats")
    feats = [
        json.dumps({"type": "Feature",
                    "geometry": {"type": "Point", "coordinates": [i, 0]},
                    "properties": {}}, separators=(",", ":"))
        for i in range(97)
    ]
    spark.createDataFrame([(f,) for f in feats], ["value"]) \
        .repartition(5).write.mode("overwrite").text(path)
    out = read_geojson_seq(spark, path)
    fids = sorted(r["fid"] for r in out.select("fid").collect())
    assert fids == list(range(97))  # a restart would duplicate low fids


def test_geojson_string_id_kept_as_attribute(spark, tmp_path):
    """RFC 7946 string ids must not crash the task; non-integral ids
    fall back to the sequential fid and survive in properties (the
    reference driver's integral-id-only FID promotion)."""
    path = str(tmp_path / "feats")
    feats = [
        json.dumps({"type": "Feature", "id": "abc",
                    "geometry": {"type": "Point", "coordinates": [1, 2]},
                    "properties": {"v": "x"}}),
        json.dumps({"type": "Feature", "id": "42",
                    "geometry": {"type": "Point", "coordinates": [3, 4]},
                    "properties": {}}),
    ]
    spark.createDataFrame([(f,) for f in feats], ["value"]) \
        .coalesce(1).write.mode("overwrite").text(path)
    rows = {tuple(sorted(r["properties"].items())): r["fid"]
            for r in read_geojson_seq(spark, path).collect()}
    assert rows[(("id", "abc"), ("v", "x"))] == 0  # fallback line number
    assert 42 in rows.values()  # integral string id promotes to fid
