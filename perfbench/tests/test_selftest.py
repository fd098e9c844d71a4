"""Self-test of the benchmark at tiny sizes.

    python -m pytest perfbench/tests -q -p no:cacheprovider

Runs the benchmark command on every workload in both modes and checks
that every metric named in BENCHMARK.json prints with its unit, that the
output check rejects a corrupted result, and that the command fails
without a result where the program is missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]] + ["knn_rings"]


def _bench(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "1", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_prints_with_its_unit(workload, trace):
    r = _bench("--workload", workload, "--trace", str(trace), "--tiny")
    assert r.returncode == 0, r.stderr[-3000:]
    res = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    named = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in named
    }
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_stage", "_work", "_out", "__pycache__"))
    r = _bench("--workload", "pip_tile", "--trace", "0", "--tiny", cwd=tmp_path)
    assert r.returncode != 0
    assert '"correct"' not in r.stdout


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, ROOT)
    from gdal_spark.session import get_spark

    s = get_spark("perfbench_selftest", cpus=2)
    yield s
    s.stop()


def test_output_check_rejects_a_changed_zone_id(spark, monkeypatch, tmp_path):
    from pyspark.sql import functions as F

    from perfbench import stage, workloads
    from perfbench.presets import PRESETS
    from perfbench.run import judge

    p = PRESETS["tiny"]
    wl = workloads.PipTile(spark, stage.ensure("tiny", "pip_tile", 1), p, str(tmp_path))
    wl.build()
    clean = wl.action("clean")
    expected = wl.expected_sample()
    assert judge([clean, clean], expected, wl.expected_n(), None) == [True, True]

    sampled = expected[0][0]
    unsampled = "doc%09d" % (int(sampled[3:]) + 1)
    assign = workloads.tiling.assign_tiles

    def corrupt(doc_id):
        def assign_tiles(df, zoom):
            out = assign(df, zoom)
            bad = F.when(F.col("doc_id") == doc_id, F.coalesce("zone_id", F.lit(0)) + 1)
            return out.withColumn("zone_id", bad.otherwise(F.col("zone_id")))
        return assign_tiles

    # a sampled row: the oracle comparison fails
    monkeypatch.setattr(workloads.tiling, "assign_tiles", corrupt(sampled))
    bad = wl.action("bad_sampled")
    assert bad.sample != expected
    assert judge([clean, clean, bad], expected, wl.expected_n(), None) == [True, True, False]

    # a row outside the sample: only the digest catches it
    monkeypatch.setattr(workloads.tiling, "assign_tiles", corrupt(unsampled))
    bad = wl.action("bad_unsampled")
    assert bad.sample == expected and bad.n == clean.n and bad.h != clean.h
    assert judge([clean, clean, bad], expected, wl.expected_n(), None) == [True, True, False]
    assert judge([bad], expected, wl.expected_n(), (clean.n, clean.h)) == [False]
