"""The projection directions with stage cuts (gdal_spark/crs.py: each
`B.stage(...)` call in a formula). Spark (`crs.transform_df`, one
Project per stage) and DuckDB (`crs.transform_sql`, one CTE per stage)
run the same recorded chain and agree, and both stay within the
round-trip tolerances of the numpy instantiation of the same
formula."""

import numpy as np
import pytest

from gdal_spark import crs

# (epsg, inverse, lon range, lat range, atol on the first / second output)
CUT_DIRECTIONS = {
    "eck4_forward": (54012, False, (-179, 179), (-85, 85), 1e-6, 1e-6),
    "wintri_inverse": (54042, True, (-179, 179), (-84.9, 84.9), 1e-8, 1e-8),
    "robin_inverse": (54030, True, (-179, 179), (-84.9, 84.9), 1e-9, 1e-9),
    "goode_forward": (crs.CODE_GOODE, False, (-179, 179), (-84.9, 84.9),
                      1e-6, 1e-6),
    "goode_inverse": (crs.CODE_GOODE, True, (-179, 179), (-84.9, 84.9),
                      1e-9, 1e-9),
    "poly_inverse": (29101, True, (-72, -36), (-32, -3), 1e-9, 1e-8),
    "laborde_inverse": (29701, True, (43, 51), (-26, -12), 1e-9, 1e-8),
}


@pytest.mark.parametrize("name", sorted(CUT_DIRECTIONS))
def test_recorded_chain_spark_duckdb_numpy(spark, name):
    import duckdb
    import pandas as pd

    epsg, inverse, lo, la, tol_a, tol_b = CUT_DIRECTIONS[name]
    rng = np.random.default_rng(sum(map(ord, name)))
    u = rng.uniform(*lo, 200)
    v = rng.uniform(*la, 200)
    if inverse:
        u, v = crs.transform_points_np(epsg, u, v)
    want_a, want_b = crs.transform_points_np(epsg, u, v, inverse=inverse)
    assert crs._record(epsg, inverse, "u", "v")[0].stages

    df = spark.createDataFrame(
        [(i, float(u[i]), float(v[i])) for i in range(200)],
        "id long, u double, v double")
    out = crs.transform_df(df, epsg, "u", "v", ("a", "b"), inverse=inverse)
    assert out.columns == ["id", "u", "v", "a", "b"]
    rows = out.orderBy("id").collect()
    sa = np.array([r.a for r in rows])
    sb = np.array([r.b for r in rows])

    con = duckdb.connect()
    con.register("pts_df", pd.DataFrame({"id": np.arange(200), "u": u,
                                         "v": v}))
    rel, ea, eb = crs.transform_sql(epsg, "pts_df", "u", "v", inverse)
    res = con.execute(f"SELECT id, {ea} AS a, {eb} AS b FROM {rel}"
                      f" ORDER BY id").fetchnumpy()

    # same chain on two engines: only libm ulps apart
    np.testing.assert_allclose(sa, res["a"], rtol=1e-12, atol=1e-9)
    np.testing.assert_allclose(sb, res["b"], rtol=1e-12, atol=1e-9)
    for got_a, got_b in ((sa, sb), (res["a"], res["b"])):
        np.testing.assert_allclose(got_a, want_a, rtol=0, atol=tol_a)
        np.testing.assert_allclose(got_b, want_b, rtol=0, atol=tol_b)


def test_only_the_cut_directions_stage():
    """Every other direction records no stage and runs fused; plain
    Mollweide too, although Goode cuts the Newton it shares."""
    cut = {(crs.CONIC_PRESETS[e][0], i) for e, i, *_ in
           CUT_DIRECTIONS.values()}
    # a preset registered by another test (proj4/WKT import) is keyed
    # by its family like every other
    for epsg, (kind, _, _) in list(crs.CONIC_PRESETS.items()):
        for inverse in (False, True):
            rec = crs._record(epsg, inverse, "u", "v")[0]
            assert bool(rec.stages) == ((kind, inverse) in cut), (epsg,
                                                                  inverse)
