"""Workload sizes.

`full` is the benchmark. `tiny` runs every code path in seconds and is
used only by the self-test. Zone counts and index levels of `full` define
the workloads; the document and query counts set the run length.
"""

from __future__ import annotations

PRESETS: dict[str, dict[str, int]] = {
    "full": {
        # documents: a pool of pool_files parquet files, a seed picks files
        "docs_per_file": 25_000,
        "pool_files": 20,
        "files": 10,
        "tile_zones": 10_000,
        "tile_level": 8,
        "all_zones": 250_000,
        "all_level": 10,
        # kNN: points come from their own pool, queries from the seed
        "points_per_file": 25_000,
        "point_pool_files": 40,
        "point_files": 20,
        "queries": 20_000,
        "knn_level": 8,
        "knn_k": 5,
        # rows in the single-threaded kernel batch of the traced run
        "kernel_rows": 40_000,
        # output rows checked against the oracles: doc ids and query ids
        # divisible by these
        "doc_sample_every": 1024,
        "query_sample_every": 500,
    },
    "tiny": {
        "docs_per_file": 1_000,
        "pool_files": 8,
        "files": 4,
        "tile_zones": 400,
        "tile_level": 6,
        "all_zones": 2_500,
        "all_level": 7,
        "points_per_file": 1_000,
        "point_pool_files": 8,
        "point_files": 4,
        "queries": 60,
        "knn_level": 5,
        "knn_k": 5,
        "kernel_rows": 2_000,
        "doc_sample_every": 64,
        "query_sample_every": 10,
    },
}
