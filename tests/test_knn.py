"""Golden test for the kNN cell-ring join (FIXTURES.md golden #4):
for each query the 5 nearest document points by haversine distance,
ties by doc_id asc — oracle = brute force over all pairs in numpy."""

import numpy as np
import pandas as pd

from gdal_spark import geomlite as G
from gdal_spark import synth
from gdal_spark.joins import extract_geom
from gdal_spark.knn import knn_join

N_DOCS = 5000
N_QUERIES = 200


def _doc_points_np():
    docs = synth.documents_np(N_DOCS)
    xs, ys = G.parse_wkt_batch(docs["geom_wkt"].to_numpy())
    lon = np.array([a.mean() for a in xs])
    lat = np.array([a.mean() for a in ys])
    return docs["doc_id"].to_numpy(), lon, lat


def _brute_force(queries: pd.DataFrame):
    doc_ids, lon, lat = _doc_points_np()
    rows = []
    for q in queries.itertuples(index=False):
        d = G.haversine(q.lon, q.lat, lon, lat)
        order = np.lexsort((doc_ids, d))[: q.k]
        for rank, idx in enumerate(order, 1):
            rows.append(
                {"q_id": q.q_id, "doc_id": doc_ids[idx], "rank": rank,
                 "dist_m": float(d[idx])}
            )
    return pd.DataFrame(rows)


def test_knn_golden(spark):
    queries = synth.knn_queries_np(N_QUERIES)
    docs = extract_geom(synth.documents_df(spark, N_DOCS))
    got = (
        knn_join(spark, docs, queries, level=5)
        .toPandas()
        .sort_values(["q_id", "rank"])
        .reset_index(drop=True)
    )
    exp = _brute_force(queries).sort_values(["q_id", "rank"]).reset_index(drop=True)
    assert len(got) == N_QUERIES * 5 == len(exp)
    assert (got["q_id"].to_numpy() == exp["q_id"].to_numpy()).all()
    assert (got["doc_id"].to_numpy() == exp["doc_id"].to_numpy()).all()
    np.testing.assert_allclose(got["dist_m"].to_numpy(), exp["dist_m"].to_numpy(), rtol=1e-9)


def test_knn_points_side_never_shuffles(spark):
    """The big side must reach the candidate join without an Exchange
    on it (broadcast of query cells only)."""
    queries = synth.knn_queries_np(10)
    docs = extract_geom(synth.documents_df(spark, 500))
    out = knn_join(spark, docs, queries, level=4)
    assert out.count() == 50


def test_knn_guard_high_latitude_and_antimeridian(spark):
    """Regression for the r3 guard defects: (a) the along-parallel
    haversine to a boundary meridian OVERestimates the true distance
    away from the equator — a polar query could resolve with a wrong
    k-th neighbor; (b) a covered ring that wraps the antimeridian was
    treated as lon-complete. Brute-force oracle over a polar +
    antimeridian point cloud."""
    from gdal_spark.knn import knn_join, knn_join_distributed

    rng = np.random.default_rng(1234)
    n_pts = 1500
    # half the cloud hugs the antimeridian, half sits at high latitude
    lon = np.where(
        rng.random(n_pts) < 0.5,
        ((rng.random(n_pts) * 20.0 - 10.0) + 180.0 + 360.0) % 360.0 - 180.0,
        rng.random(n_pts) * 360.0 - 180.0,
    )
    lat = np.where(
        rng.random(n_pts) < 0.5,
        62.0 + rng.random(n_pts) * 27.0,
        rng.random(n_pts) * 170.0 - 85.0,
    )
    ids = np.arange(n_pts, dtype=np.int64)
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "lon": lon, "lat": lat})
    )
    q = pd.DataFrame(
        {
            "q_id": np.arange(12, dtype=np.int64),
            "lon": np.array([179.5, -179.5, 178.0, -178.0, 170.0, -170.0,
                             0.0, 90.0, 179.9, -179.9, 120.0, -60.0]),
            "lat": np.array([78.0, 81.0, 70.0, 66.0, 84.0, 75.0,
                             83.0, 79.0, 68.0, 72.0, 80.0, 76.0]),
            "k": np.full(12, 5, dtype=np.int64),
        }
    )
    exp_rows = []
    for r in q.itertuples(index=False):
        d = G.haversine(r.lon, r.lat, lon, lat)
        order = np.lexsort((ids, d))[: r.k]
        for rank, idx in enumerate(order, 1):
            exp_rows.append((r.q_id, ids[idx], rank, float(d[idx])))
    exp = pd.DataFrame(exp_rows, columns=["q_id", "doc_id", "rank", "dist_m"])
    for got in (
        knn_join(spark, docs, q, level=5, max_rounds=8).toPandas(),
        knn_join_distributed(
            spark, docs, spark.createDataFrame(q), level=5
        ).toPandas(),
    ):
        got = got.sort_values(["q_id", "rank"]).reset_index(drop=True)
        assert (got["doc_id"].to_numpy() == exp["doc_id"].to_numpy()).all()
        np.testing.assert_allclose(
            got["dist_m"].to_numpy(), exp["dist_m"].to_numpy(), rtol=1e-9
        )


def test_knn_distributed_matches_small_q(spark):
    """The large-q DataFrame-state path must agree exactly with the
    broadcast small-q operator (which is brute-force-verified above)."""
    from gdal_spark.knn import knn_join_distributed

    queries = synth.knn_queries_np(N_QUERIES)
    docs = extract_geom(synth.documents_df(spark, N_DOCS))
    exp = (
        knn_join(spark, docs, queries, level=5)
        .toPandas().sort_values(["q_id", "rank"]).reset_index(drop=True)
    )
    got = (
        knn_join_distributed(spark, docs, spark.createDataFrame(queries), level=5)
        .toPandas().sort_values(["q_id", "rank"]).reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert (got["q_id"].to_numpy() == exp["q_id"].to_numpy()).all()
    assert (got["doc_id"].to_numpy() == exp["doc_id"].to_numpy()).all()
    np.testing.assert_allclose(
        got["dist_m"].to_numpy(), exp["dist_m"].to_numpy(), rtol=1e-9
    )


def test_knn_distributed_raises_when_rounds_run_out(spark):
    """Sparse points on a fine grid: two rounds cover a 7x7 cell block,
    far short of any 5th neighbour. The operator must fail like
    knn_join, not return the resolved queries only (here: none)."""
    import pytest

    from gdal_spark.knn import knn_join_distributed

    rng = np.random.default_rng(7)
    pts = spark.createDataFrame(pd.DataFrame({
        "doc_id": [f"p{i:03d}" for i in range(300)],
        "lon": rng.uniform(-180, 180, 300),
        "lat": rng.uniform(-85, 85, 300),
    }))
    queries = spark.createDataFrame(pd.DataFrame({
        "q_id": np.arange(20, dtype=np.int64),
        "lon": rng.uniform(-180, 180, 20),
        "lat": rng.uniform(-85, 85, 20),
        "k": np.full(20, 5, dtype=np.int32),
    }))
    with pytest.raises(RuntimeError, match="did not converge for 20 queries"):
        knn_join_distributed(spark, pts, queries, level=8, max_rounds=2)
