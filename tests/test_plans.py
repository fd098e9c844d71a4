"""Physical-plan shape assertions — the 100-TB design contract: map-only
where no shuffle is needed, broadcast-only joins, partial aggregation
before the one shuffle that is, and no single-partition exchange or
global-window sort (WindowExec 'No Partition Defined').

Contract queries whose plan is checked as built by
`__spark_entry__.queries()` are rows of one table; operators that need
their own input are plain tests below it. The NTv2 apply is asserted
broadcast-only in tests/test_ntv2.py.
"""

import json
import operator

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark import hdf5, sqlitevec, webtiles


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _named(name, fn):
    fn.__name__ = name
    return fn


def _has(s):
    return _named(f"has {s}", lambda p: s in p)


def _hash_exchanges(op, n):
    return _named(f"hash exchanges {op.__name__} {n}",
                  lambda p: op(p.count("Exchange hashpartitioning"), n))


_NO_SHUFFLE = _named("no shuffle exchange",
                     lambda p: "ShuffleExchange" not in p.replace("BroadcastExchange", ""))
_NO_PYTHON = _named("no python runner",
                    lambda p: "ArrowEvalPython" not in p and "BatchEvalPython" not in p)
# executedPlan().toString() marks whole-stage-codegen spans "*(n)"
_CODEGEN = _has("*(1)")
_MAP_ONLY = _hash_exchanges(operator.eq, 0)

_QUERY_PLANS = [
    # geometry booleans and the concave piece overlay broadcast the
    # zone model: no exchange of any kind
    ("geometry_boolean", [_NO_SHUFFLE, _MAP_ONLY]),
    ("overlay_concave_wkt", [_NO_SHUFFLE, _MAP_ONLY]),
    # the Z-burn merge combines map-side, partial_sum before the single
    # pixel-key exchange
    ("rasterize_z", [_has("partial_sum"), _hash_exchanges(operator.eq, 1)]),
    # TIN interpolation: one groupBy(tile) shuffle over the tiny tile
    # list; the broadcast triangulation adds no exchange
    ("grid_linear", [_hash_exchanges(operator.le, 1)]),
    # CRS forwards are pure column math
    ("lcc_transform", [_NO_PYTHON, _CODEGEN]),
    # split assignment and blocklist filtering: one codegen'd map stage
    ("sample_split", [_MAP_ONLY, _NO_PYTHON, _CODEGEN]),
    ("url_blocklist", [_MAP_ONLY, _NO_PYTHON, _CODEGEN]),
    # packing exchanges once, on the shard key, for the running-total
    # window; token counting itself is codegen'd
    ("pack_sequences", [_hash_exchanges(operator.eq, 1), _NO_PYTHON]),
    # exact-substring dedup combines window-hash counts map-side before
    # its shuffle, and the adjacency merge adds exactly one more hash
    # exchange (id) beyond the hash/count pair
    ("dup_spans", [_has("partial_count"), _hash_exchanges(operator.le, 3)]),
    ("chunk_documents", [_MAP_ONLY, _NO_PYTHON]),
]


@pytest.mark.parametrize("name,checks", _QUERY_PLANS, ids=[n for n, _ in _QUERY_PLANS])
def test_query_plan_shape(spark, sf_dir, name, checks):
    import __spark_entry__ as E

    p = _plan(E.queries()[name](spark, sf_dir))
    failed = [c.__name__ for c in checks if not c(p)]
    assert not failed, (failed, p)


def test_kmeans_assignment_no_embedding_shuffle(spark, sf_dir):
    """The final k-means assignment is a map stage over the embedding
    scan: centroids are literals, so no join and no exchange."""
    from gdal_spark.functions import cluster as CL

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = _plan(CL.kmeans_assign(emb, k=4, iters=1))
    assert "Exchange" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_geojson_seq_reader_no_single_partition_exchange(spark, tmp_path):
    """read_geojson_seq assigns global fids via partition-offset
    zip-with-index: the consuming plan must contain no WindowExec and
    no SinglePartition exchange."""
    from gdal_spark.geojson import read_geojson_seq

    path = str(tmp_path / "feats")
    feats = [
        json.dumps({"type": "Feature", "id": i,
                    "geometry": {"type": "Point", "coordinates": [i, i / 2]},
                    "properties": {"v": i}}, separators=(",", ":"))
        for i in range(200)
    ]
    spark.createDataFrame([(f,) for f in feats], ["value"]) \
        .repartition(4).write.mode("overwrite").text(path)
    out = read_geojson_seq(spark, path)
    p = _plan(out)
    assert "Window" not in p, p
    assert "SinglePartition" not in p, p
    assert out.count() == 200
    fids = sorted(r["fid"] for r in out.select("fid").collect())
    assert fids == list(range(200))


def test_textual_fid_no_global_window(spark):
    """The OGR-SQL FID special field ranks with a parallel range sort +
    partition offsets — no WindowExec, no SinglePartition exchange."""
    from gdal_spark.ogr_sql_exec import execute_ogr_sql

    lay = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).alias("grp"),
    )
    out = execute_ogr_sql(
        spark,
        "SELECT FID AS fid, doc_id FROM docs WHERE FID < 20 ORDER BY FID",
        {"docs": lay},
    )
    p = _plan(out)
    assert "Window" not in p, p
    got = [(r["fid"], r["doc_id"]) for r in out.collect()]
    assert got == [(i, i) for i in range(20)]


def test_datum_pipelines_plan_shapes(spark):
    """The Helmert/BNG pipelines must be pure map stages (no Exchange
    at all), and the NTv2-style grid shift must join its grid
    broadcast-only — at 10^12 rows the corpus never reshuffles for a
    coordinate transform."""
    from gdal_spark import datum, projpipe

    df = spark.range(200).select(
        (F.col("id") / 40.0 - 4.0).alias("lon"),
        (F.col("id") / 100.0 + 50.0).alias("lat"))
    bng = projpipe.from_bng(projpipe.to_bng(df))
    p = _plan(bng)
    assert "Exchange" not in p, p

    lon2, lat2, _ = datum.datum_shift_cols(
        F.col("lon"), F.col("lat"), F.lit(0.0), "WGS84", "OSGB36")
    hp = _plan(df.select(lon2.alias("a"), lat2.alias("b")))
    assert "Exchange" not in hp, hp

    us = spark.range(200).select(
        (F.col("id") / 10.0 - 110.0).alias("lon"),
        (F.col("id") / 20.0 + 30.0).alias("lat"))
    gs = datum.apply_grid_shift(us, datum.shift_grid(spark))
    gp = _plan(gs)
    assert "BroadcastHashJoin" in gp, gp
    assert "SortMergeJoin" not in gp and "ShuffledHashJoin" not in gp, gp


def test_hdf5_scan_map_only(spark, tmp_path):
    """HDF5 chunk scan: no shuffle exchange of any kind."""
    p = str(tmp_path / "p.h5")
    a = (np.arange(600, dtype=np.float32) % 7).reshape(20, 30)
    hdf5.write_hdf5(p, [{"name": "v", "data": a, "chunks": (8, 8)}])
    md = hdf5.read_hdf5_array(spark, p, "v")
    plan = _plan(md.df)
    assert "ShuffleExchange" not in plan.replace("BroadcastExchange", "")
    assert "Sort" not in plan and "Window" not in plan


def test_sqlite_scan_exchanges_descriptors_only(spark, tmp_path):
    p = str(tmp_path / "p.sqlite")
    pdf = pd.DataFrame({"a": range(100),
                        "wkt": [f"POINT ({k} 1)" for k in range(100)]})
    sqlitevec.write_sqlite(spark.createDataFrame(pdf), p, table="t")
    out = sqlitevec.read_sqlite(spark, p, "t", rows_per_batch=16)
    plan = _plan(out)
    # one round-robin repartition of the (lo, hi) window rows is the
    # plan's only exchange; the feature rows themselves never shuffle
    assert plan.count("Exchange") <= 1
    assert "SortExec" not in plan and "Window" not in plan


def test_webtiles_plan_pure_codegen(spark):
    plan_df = webtiles.wms_tile_plan(
        spark, "https://w.example/ows", "l", 4, (0, 4), (0, 4))
    plan = _plan(plan_df)
    assert "Exchange" not in plan
    assert "*(1)" in plan
