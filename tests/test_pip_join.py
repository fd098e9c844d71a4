"""E2E golden test for the PIP spatial join (FIXTURES.md golden #1, #3).

Semantics under test = OGRLayer::FilterGeometry staged predicate
(gdal/ogr/ogrsf_frmts/generic/ogrlayer.cpp:1357) with OGR SQL LEFT JOIN
row shape (ogr_sql_dialect.rst:483-490): exactly one output row per doc,
NULL zone columns when nothing intersects.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark import synth
from gdal_spark.index import zone_index
from gdal_spark.joins import pip_join

from .oracle import pip_oracle, span_tuples

N_DOCS = 2000
N_ZONES = 16


def _result(spark, mode):
    docs = synth.documents_df(spark, N_DOCS)
    zones = synth.zones_np(N_ZONES)
    out = pip_join(docs, zone_index(spark, zones), mode=mode)
    return out.select("doc_id", "zone_id", "eas_id", "spans").toPandas()


def test_pip_join_first_match_golden(spark):
    got = _result(spark, "first").sort_values("doc_id").reset_index(drop=True)
    exp = (
        pip_oracle(synth.documents_np(N_DOCS), synth.zones_np(N_ZONES), "first")
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(got) == N_DOCS == len(exp)
    pd.testing.assert_frame_equal(
        got[["doc_id", "zone_id", "eas_id"]].astype({"zone_id": "float64", "eas_id": "float64"}),
        exp[["doc_id", "zone_id", "eas_id"]].astype({"zone_id": "float64", "eas_id": "float64"}),
    )
    # some docs match and some don't (NULL leg is exercised)
    assert got["zone_id"].notna().sum() > 0.5 * N_DOCS
    assert got["zone_id"].isna().sum() > 0


def test_pip_join_all_mode_golden(spark):
    got = (
        _result(spark, "all")[["doc_id", "zone_id", "eas_id"]]
        .sort_values(["doc_id", "zone_id"])
        .reset_index(drop=True)
    )
    exp = (
        pip_oracle(synth.documents_np(N_DOCS), synth.zones_np(N_ZONES), "all")
        .sort_values(["doc_id", "zone_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"zone_id": "float64", "eas_id": "float64"}),
        exp.astype({"zone_id": "float64", "eas_id": "float64"}),
    )


def test_span_order_invariance_through_join(spark):
    """Per-doc ordered (kind, text, media_ref, offset) must equal the
    generation sequence after the join (SURVEY.md §1.1 invariant)."""
    got = _result(spark, "first")
    exp = synth.documents_np(N_DOCS).set_index("doc_id")
    for _, row in got.iterrows():
        assert span_tuples(row["spans"]) == span_tuples(exp.loc[row["doc_id"], "spans"])


def test_pip_join_plan_has_no_shuffle(spark):
    """The join must compile to a single map stage: the spatial index
    rides a broadcast VARIABLE (not even a join node), so the physical
    plan has no Exchange of any kind and exactly one Arrow Python eval
    (the fused parse+locate+match UDF)."""
    docs = synth.documents_df(spark, 100)
    zones = synth.zones_np(N_ZONES)
    out = pip_join(docs, zone_index(spark, zones), mode="first")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1


_SPANS = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"


def test_geom_wkt_col_matches_filter_expression(spark):
    """geom_wkt_col (array_position + get) gives what the first-match
    filter lambda gave: the first 'geom' span's text, NULL when there
    is none, when `spans` is NULL or empty, or for NULL elements."""
    from gdal_spark.joins import geom_wkt_col

    def s(kind, text):
        return (kind, text, "", 0)

    cases = [
        ("no_geom", [s("text", "a"), s("media", "b")], None),
        ("two_geoms", [s("text", "a"), s("geom", "G1"), s("geom", "G2")], "G1"),
        ("geom_first", [s("geom", "G0"), s("text", "a")], "G0"),
        ("geom_last", [s("text", "a"), s("media", "b"), s("geom", "GL")], "GL"),
        ("null_spans", None, None),
        ("empty", [], None),
        ("null_elems", [None, (None, "x", "", 0), s("geom", "GN")], "GN"),
    ]
    df = spark.createDataFrame([(c, sp) for c, sp, _ in cases], f"case string, spans {_SPANS}")
    old = F.element_at(F.filter(F.col("spans"), lambda x: x["kind"] == F.lit("geom")), 1)["text"]
    got = {r.case: (r.new, r.old) for r in df.select("case", geom_wkt_col().alias("new"),
                                                      old.alias("old")).collect()}
    assert got == {c: (exp, exp) for c, _, exp in cases}


def test_pip_join_fused_plan_is_codegen(spark, tmp_path):
    """No lambda is left in the fused join, and the Project that feeds
    the Arrow UDF (the span lookup) runs inside the scan's
    whole-stage-codegen stage."""
    synth.documents_df(spark, 200).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    out = pip_join(docs, zone_index(spark, synth.zones_np(N_ZONES)), mode="first")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "lambdafunction" not in plan.lower()
    lines = plan.splitlines()
    i = next(k for k, ln in enumerate(lines) if "ArrowEvalPython" in ln)
    feed = lines[i + 1].strip()
    assert feed.startswith("+- *(") and "Project" in feed, plan


@pytest.mark.parametrize("mode", ["first", "all"])
def test_pip_join_output_columns(spark, mode):
    """The output keeps the input's columns in order, then geom_wkt,
    lon, lat, zone_id, eas_id; an input lon/lat is replaced in place by
    the representative point, not duplicated."""
    docs = synth.documents_df(spark, 200)
    zidx = zone_index(spark, synth.zones_np(N_ZONES))
    plain = pip_join(docs, zidx, mode=mode)
    assert plain.columns == ["doc_id", "spans", "geom_wkt", "lon", "lat", "zone_id", "eas_id"]
    stale = docs.withColumns({"lon": F.lit(999.0), "lat": F.lit(-999.0)})
    out = pip_join(stale, zidx, mode=mode)
    assert out.columns == ["doc_id", "spans", "lon", "lat", "geom_wkt", "zone_id", "eas_id"]
    cols = ["doc_id", "lon", "lat", "zone_id", "eas_id"]

    def rows(df):
        return sorted(map(tuple, df.select(*cols).collect()), key=repr)

    assert rows(out) == rows(plain)


def test_pip_join_rejects_unknown_mode(spark):
    zidx = zone_index(spark, synth.zones_np(N_ZONES))
    with pytest.raises(ValueError, match="mode must be 'first' or 'all'"):
        pip_join(synth.documents_df(spark, 10), zidx, mode="any")


# zone 5 and zone 2 overlap on x in [5, 10]: listed out of zone_id order
_ZONES = [(5, 500, [0, 10, 10, 0], [0, 0, 10, 10]),
          (2, 200, [5, 15, 15, 5], [0, 0, 10, 10]),
          (9, 900, [50, 60, 60, 50], [50, 50, 60, 60])]

_DOCS = [
    ("d0_nogeom", None),
    ("d1_empty", "POLYGON EMPTY"),
    ("d2_odd_point", "POINT (1 2)"),       # misses the JVM regexp
    ("d3_polygon", "POLYGON((12 4, 14 4, 14 6, 12 6, 12 4))"),
    ("d4_two_zones", "POINT(7 5)"),
    ("d5_poly_two_zones", "POLYGON((9 4, 11 4, 11 6, 9 6, 9 4))"),
    ("d6_no_match", "POINT(30 30)"),
]


def _adapter_inputs(spark):
    import struct

    from gdal_spark import geometry as GM
    from gdal_spark.joins import extract_geom, extract_geom_wkb

    zones = pd.DataFrame([
        {"zone_id": z, "eas_id": e, "xs": xs, "ys": ys, "xmin": min(xs),
         "ymin": min(ys), "xmax": max(xs), "ymax": max(ys)}
        for z, e, xs, ys in _ZONES
    ])

    def spans(w):
        s = [("text", "w0001", "", 0)]
        return s + [("geom", w, "", 1)] if w is not None else s

    def wkb(w):
        if w is None:
            return None
        if w.endswith("EMPTY"):
            return struct.pack("<BII", 1, 3, 0)  # polygon with no rings
        return GM.to_wkb(GM.parse_wkt(w))

    docs = spark.createDataFrame(
        [(d, spans(w), wkb(w)) for d, w in _DOCS],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>, geom_wkb binary",
    ).coalesce(1)
    return zones, {
        "fused": docs.drop("geom_wkb"),
        "prepared_wkt": extract_geom(docs.drop("geom_wkb")),
        "prepared_wkb": extract_geom_wkb(docs),
    }


@pytest.mark.parametrize("mode", ["first", "all"])
def test_pip_adapter_paths_match_oracle(spark, mode):
    """Fused and prepared (WKT and WKB geometry) inputs, in both modes,
    give the oracle's rows in the oracle's order: per doc, matches in
    zone_id order, and one NULL row for a doc that matches nothing,
    has no geometry, or has an empty one."""
    zones, inputs = _adapter_inputs(spark)
    exp = pip_oracle(pd.DataFrame(_DOCS, columns=["doc_id", "geom_wkt"]), zones, mode)
    exp = [(d, None if pd.isna(z) else int(z), None if pd.isna(e) else int(e))
           for d, z, e in exp[["doc_id", "zone_id", "eas_id"]].itertuples(index=False)]
    assert ("d4_two_zones", 2, 200) in exp
    assert (("d4_two_zones", 5, 500) in exp) == (mode == "all")
    assert ("d6_no_match", None, None) in exp
    zidx = zone_index(spark, zones)
    for path, docs in inputs.items():
        got = pip_join(docs, zidx, mode=mode).select("doc_id", "zone_id", "eas_id")
        assert [tuple(r) for r in got.collect()] == exp, path
