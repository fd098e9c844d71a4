"""SparkSession builder tuned for the engine.

Defaults follow the scale design (SURVEY.md §4): AQE with skew-join
handling on (the reference handles skew not at all — its executor is a
single-threaded pull pipeline, gdal/generic/ogr_gensql.cpp:1552), Arrow
for all pandas-UDF exchange, shuffle partitions sized to cores locally
(on a real cluster this is set per-job to ~2-3x total cores).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def package_zip() -> str:
    """Zip the gdal_spark package for spark-submit --py-files / addPyFile.

    On a real cluster:  spark-submit --py-files gdal_spark.zip job.py
    Locally get_spark() calls addPyFile with this zip so executor Python
    workers can unpickle UDF closures that reference the package,
    regardless of the driver's cwd. The archive name is keyed on the
    checkout's path, so sessions started from two checkouts at once
    never rebuild (or import) each other's archive.
    """
    return shutil.make_archive(_zip_base(_REPO_ROOT), "zip",
                               root_dir=_REPO_ROOT, base_dir="gdal_spark")


def _zip_base(root: str) -> str:
    """Archive path (without .zip) for the checkout at `root`."""
    key = hashlib.sha1(root.encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"gdal_spark_pkg_{key}")


def _driver_memory() -> str:
    """spark.driver.memory default: half the physical memory, rounded
    to whole gigabytes, between 1g and 8g, so a small machine keeps
    room for the Python workers beside the JVM (a flat 8g asked an
    8 GB box for all of it). SPARK_GRAFT_DRIVER_MEM overrides it."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "8g"
    return f"{max(1, min(8, round(phys / 2 ** 31)))}g"


def get_spark(
    app_name: str = "gdal_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    cpus: local parallelism; defaults to $SPARK_GRAFT_CPUS or '*'.
    On a real cluster the master/main resource args come from
    spark-submit; every conf below still applies.
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        ncores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cpus}]"
        ncores = cpus

    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * ncores)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 40k rows/batch measured ~15% faster than the 10k default for
        # the fused PIP UDF at 32 cores (fewer batch setups, same numpy
        # work); candidate expansion stays < a few hundred k pairs/batch
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "40000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", _driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # OGR SQL is permissive (no overflow/cast errors; swq evaluators
        # saturate/wrap, gdal/ogr/swq_op_general.cpp:552-621) and the
        # splitmix64 fixture hash requires wrapping 64-bit multiply.
        .config("spark.sql.ansi.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)

    # Make the package importable in executor Python workers (local mode
    # forks workers with the JVM's env; real clusters use the zip).
    pypath = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = _REPO_ROOT + (os.pathsep + pypath if pypath else "")

    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        pass  # already added in a reused session
    return spark
