"""Input staging, done outside the timed runs.

Staged inputs live under perfbench/_stage/ (ignored by git), named by
their sizes, and are written once per checkout:

  docs_<per file>x<files>/     document parquet pool (synth.documents_df),
                               one file per contiguous id range
  points_<per file>x<files>/   kNN point parquet pool: (doc_id, lon, lat)
  zones_<m>.pkl                synth.zones_np(m) as a pickled pandas frame
  queries_<q>_k<k>_seed<s>.parquet   synth.knn_queries_np for one seed

A seed picks which pool files a run reads and which kNN queries it asks,
so the same (workload, seed, size) always reads the same bytes. The pools
need Spark; they are written by `python -m perfbench.stage <preset> <pool>`
in a child process, so the measured process never runs the generator.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STAGE_ROOT = os.path.join(HERE, "_stage")


def _pool_dir(p: dict[str, int], pool: str) -> str:
    if pool == "docs":
        return os.path.join(STAGE_ROOT, f"docs_{p['docs_per_file']}x{p['pool_files']}")
    return os.path.join(STAGE_ROOT, f"points_{p['points_per_file']}x{p['point_pool_files']}")


def _pool_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "part-*.parquet")))


def _pick(files: list[str], k: int, seed: int, stream: int) -> list[str]:
    rng = np.random.default_rng([seed, stream])
    return [files[i] for i in sorted(rng.choice(len(files), size=k, replace=False))]


def _write_pool(p: dict[str, int], pool: str) -> None:
    """Child-process body: write the document or the point pool with Spark."""
    from pyspark.sql import functions as F

    from gdal_spark import synth
    from gdal_spark.session import get_spark

    spark = get_spark("perfbench_stage", cpus=len(os.sched_getaffinity(0)))
    try:
        if pool == "docs":
            n = p["docs_per_file"] * p["pool_files"]
            synth.documents_df(spark, n, partitions=p["pool_files"]).write.mode(
                "overwrite"
            ).parquet(_pool_dir(p, pool))
        else:
            n = p["points_per_file"] * p["point_pool_files"]
            i = F.col("id")

            def coord(stream: int, lo: float, span: float):
                u = synth.rnd_u01_col(synth.h_col(i, stream))
                return F.floor((F.lit(lo) + u * span) * 1e7).cast("double") / 1e7

            spark.range(0, n, 1, p["point_pool_files"]).select(
                F.format_string("doc%09d", i).alias("doc_id"),
                coord(1, -180.0, 360.0).alias("lon"),
                coord(2, -85.0, 170.0).alias("lat"),
            ).write.mode("overwrite").parquet(_pool_dir(p, pool))
    finally:
        spark.stop()


def _write_zones(path: str, m: int) -> None:
    from gdal_spark import synth

    tmp = f"{path}.{os.getpid()}.tmp"
    synth.zones_np(m).to_pickle(tmp)
    os.replace(tmp, path)


def ensure(preset: str, workload: str, seed: int) -> dict:
    """Stage what `workload` needs (if missing) and return its inputs for
    `seed`: file lists, byte counts, row counts and table paths."""
    from perfbench.presets import PRESETS

    p = PRESETS[preset]
    os.makedirs(STAGE_ROOT, exist_ok=True)
    pool = "docs" if workload.startswith("pip_") else "points"
    if not os.path.exists(os.path.join(_pool_dir(p, pool), "_SUCCESS")):
        subprocess.run(
            [sys.executable, "-m", "perfbench.stage", preset, pool],
            cwd=ROOT, check=True, stdout=sys.stderr,
        )

    inputs: dict = {}
    if workload.startswith("pip_"):
        files = _pick(_pool_files(_pool_dir(p, "docs")), p["files"], seed, 0)
        inputs["docs"] = files
        inputs["rows"] = p["docs_per_file"] * p["files"]
        m = p["tile_zones"] if workload == "pip_tile" else p["all_zones"]
        zpath = os.path.join(STAGE_ROOT, f"zones_{m}.pkl")
        if not os.path.exists(zpath):
            _write_zones(zpath, m)
        inputs["zones"] = zpath
    else:
        from gdal_spark import synth

        files = _pick(_pool_files(_pool_dir(p, "points")), p["point_files"], seed, 1)
        inputs["points"] = files
        qpath = os.path.join(STAGE_ROOT, f"queries_{p['queries']}_k{p['knn_k']}_seed{seed}.parquet")
        if not os.path.exists(qpath):
            q = synth.knn_queries_np(p["queries"], seed=synth.KNN_SEED + seed)
            q["k"] = p["knn_k"]
            tmp = f"{qpath}.{os.getpid()}.tmp"
            q.to_parquet(tmp, index=False)
            os.replace(tmp, qpath)
        inputs["queries"] = qpath
        inputs["rows"] = p["queries"]
    inputs["in_bytes"] = sum(os.path.getsize(f) for f in files)
    return inputs


if __name__ == "__main__":
    from perfbench.presets import PRESETS

    _write_pool(PRESETS[sys.argv[1]], sys.argv[2])
