"""Checkpoint/resume + lineage/metrics contract."""

import os
import time
import uuid

import pytest
from pyspark.sql import functions as F

from gdal_spark import synth
from gdal_spark.checkpoint import Checkpointer


def test_stage_runs_once_and_resumes(spark, tmp_path):
    cp = Checkpointer(spark, str(tmp_path), run_id="t1")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return synth.documents_df(spark, 200)

    a = cp.stage("docs", build)
    assert a.count() == 200 and calls["n"] == 1
    b = cp.stage("docs", build)  # resume: build not invoked again
    assert b.count() == 200 and calls["n"] == 1

    m = cp.metrics().collect()
    assert len(m) == 1
    assert m[0]["stage"] == "docs" and m[0]["rows"] == 200
    assert m[0]["rows_per_sec"] > 0

    lin = cp.lineage().collect()
    assert sum(r["rows"] for r in lin) == 200
    assert all(r["run_id"] == "t1" for r in lin)


def test_downstream_stage_reads_checkpoint(spark, tmp_path):
    cp = Checkpointer(spark, str(tmp_path))
    docs = cp.stage("docs", lambda: synth.documents_df(spark, 100))
    filtered = cp.stage("filtered", lambda: docs.limit(10))
    assert filtered.count() == 10
    assert cp.exists("docs") and cp.exists("filtered")


def test_uri_root_resumes(spark, tmp_path):
    """A file:// URI root and the plain path name the same checkpoint."""
    cp = Checkpointer(spark, tmp_path.as_uri())
    cp.stage("docs", lambda: synth.documents_df(spark, 50))
    assert cp.exists("docs")
    again = Checkpointer(spark, str(tmp_path)).stage("docs", lambda: 1 / 0)
    assert again.count() == 50
    assert sum(r["rows"] for r in cp.lineage().collect()) == 50


def _jobs(spark, fn) -> int:
    """Spark jobs that `fn` starts, counted by job group once the
    listener bus has delivered every job-start event."""
    sc = spark.sparkContext
    group = f"ck-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_stage_runs_only_its_write_jobs(spark, tmp_path):
    df = synth.documents_df(spark, 300)
    write = _jobs(spark, lambda: df.write.parquet(str(tmp_path / "plain")))
    cp = Checkpointer(spark, str(tmp_path / "ck"))
    staged = _jobs(spark, lambda: cp.stage("docs", lambda: df))
    assert staged == write >= 1
    assert cp.lineage().count() >= 1 and cp.metrics().count() == 1


@pytest.mark.parametrize("partition_by", [None, ["lang"]])
def test_lineage_partition_file_is_input_file_name(spark, tmp_path, partition_by):
    """partition_file is byte-equal to input_file_name() of the read-back
    stage, under a root whose path needs percent-encoding (space, '%',
    non-ASCII) and through escaped partition directory names."""
    root = tmp_path / "ck root é%+&'=,;@"
    cp = Checkpointer(spark, str(root), run_id="u")
    df = spark.range(0, 40, 1, 3).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.lit("a b")).otherwise(F.lit("é#=%")).alias("lang"),
    )
    out = cp.stage("s", lambda: df, partition_by=partition_by)
    got = {r["partition_file"]: r["rows"] for r in cp.lineage().collect()}
    exp = {
        r["f"]: r["n"]
        for r in out.groupBy(F.input_file_name().alias("f")).count()
        .withColumnRenamed("count", "n").collect()
    }
    assert got == exp and sum(got.values()) == 40
    plain = spark.read.parquet(str(root / "s"))
    assert out.schema == plain.schema
    assert sorted(out.collect()) == sorted(plain.collect())


def _legacy_record(spark, root, name, rows):
    """Lineage and metrics rows appended the way earlier releases did:
    Spark createDataFrame(...).write.mode('append') jobs."""
    spark.createDataFrame(
        [{"partition_file": "file:///old/part-0.parquet", "rows": rows,
          "run_id": "old", "stage": name}],
        schema="partition_file string, rows long, run_id string, stage string",
    ).write.mode("append").parquet(os.path.join(root, "_lineage"))
    spark.createDataFrame(
        [{"run_id": "old", "stage": name, "rows": rows, "seconds": 1.0,
          "rows_per_sec": float(rows), "finished_unix": time.time()}]
    ).write.mode("append").parquet(os.path.join(root, "_metrics"))


def test_new_rows_append_to_legacy_tables(spark, tmp_path):
    root = str(tmp_path)
    _legacy_record(spark, root, "old_stage", 7)
    cp = Checkpointer(spark, root, run_id="new")
    lin_schema, met_schema = cp.lineage().schema, cp.metrics().schema
    cp.stage("docs", lambda: synth.documents_df(spark, 50))
    assert cp.lineage().schema == lin_schema
    assert cp.metrics().schema == met_schema
    m = {r["run_id"]: r for r in cp.metrics().collect()}
    assert m["old"]["rows"] == 7 and m["new"]["rows"] == 50
    assert m["new"]["stage"] == "docs" and m["new"]["rows_per_sec"] > 0
    lin = cp.lineage().groupBy("run_id").agg(F.sum("rows").alias("n")).collect()
    assert {r["run_id"]: r["n"] for r in lin} == {"old": 7, "new": 50}
    # no temporary file is left behind for a reader to list
    for d in ("_lineage", "_metrics"):
        assert not [f for f in os.listdir(os.path.join(root, d)) if f.endswith(".tmp")]
