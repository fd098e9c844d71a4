"""End-to-end and per-layer benchmark of the gdal_spark headline paths.

Run it from the repository root:

    python3 perfbench/run.py --workload pip_tile --seed 1 --seconds 10 --trace 0

See perfbench/README.md for the workloads, the metrics and the layout.
"""
