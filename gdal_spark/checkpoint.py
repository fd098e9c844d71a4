"""Stage checkpointing with per-partition lineage + throughput metrics.

The north rule requires jobs resumable from snapshot checkpoints with
per-partition lineage and metrics emitted to a metrics table. GDAL has
no streaming/checkpoint model (batch with progress callbacks,
generic/ogrlayer.cpp:2051) — this is the Spark-native replacement:

  - every stage materializes to a directory; the _SUCCESS marker (or an
    Iceberg snapshot in production — writeTo(table).append() gives the
    same atomicity) makes the stage a checkpoint
  - resume = skip stages whose checkpoint exists and read them back
  - per-stage metrics rows (run, stage, rows, seconds, rows/sec) append
    to a metrics table; per-partition lineage = one row per output file
    (its input_file_name() URI) with its row count. Both come from the
    parquet footers of the stage's own output and are written from the
    driver with pyarrow — one file per table per stage, renamed into
    place — so a stage runs its write's Spark jobs and nothing else

On a real deployment swap `_write`/`_read` for Iceberg
`df.writeTo(tbl)` / `spark.read.table(tbl)` and record
`snapshot_id()` instead of the directory marker — the stage/skip/
metrics logic is storage-agnostic.
"""

from __future__ import annotations

import json
import os
import time
import unicodedata
import uuid
from collections.abc import Callable

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# ASCII that java.net.URI leaves unescaped in a path (RFC 2396 unreserved
# + punct + '@' + '/'); everything else ASCII is percent-encoded
_URI_SAFE = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    "_-!.~'()*,;:$&+=@/"
)


def _escape(path: str) -> str:
    """`path` escaped the way java.net.URI (so Spark's input_file_name())
    escapes a path: non-ASCII stays literal unless it is a space or a
    control character."""
    return "".join(
        c
        if c in _URI_SAFE
        or (ord(c) > 127 and unicodedata.category(c) not in ("Zs", "Zl", "Zp", "Cc"))
        else "".join(f"%{b:02X}" for b in c.encode())
        for c in path
    )


def _hidden(name: str) -> bool:
    """Spark's file-listing filter: '.x' and '_x' (but not '_k=v'
    partition directories) are not data."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


class Checkpointer:
    def __init__(self, spark: SparkSession, root: str, run_id: str = "run0"):
        self.spark = spark
        self.root = root.rstrip("/") if "://" in root else os.path.abspath(root)
        self.run_id = run_id
        # the driver's own file access goes through pyarrow.fs: `_base` is
        # the root as that filesystem names it, `_scheme` the URI prefix
        # Spark puts in front of it ('file://' for a local path)
        self.fs, self._base = pafs.FileSystem.from_uri(self.root)
        self._scheme = self.root[: len(self.root) - len(self._base)] or "file://"

    def _dir(self, name: str) -> str:
        return f"{self.root}/{name}"

    def exists(self, name: str) -> bool:
        info = self.fs.get_file_info(f"{self._base}/{name}/_SUCCESS")
        return info.type == pafs.FileType.File

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Run (or resume) a checkpointed stage.

        If the checkpoint exists the build function is never invoked —
        downstream stages read the materialized snapshot (lineage cut,
        like OGR's ORDER BY index materialization, ogr_gensql.cpp:1916,
        but durable). A run starts the write's Spark jobs and no other:
        bookkeeping and the read-back schema come from the footers."""
        path = self._dir(name)
        if self.exists(name):
            return self.spark.read.parquet(path)
        t0 = time.monotonic()
        df = build()
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        dt = time.monotonic() - t0
        footers = self._footers(f"{self._base}/{name}")
        self._record_metrics(name, footers, dt)
        if not footers:
            return self.spark.read.parquet(path)
        # the schema Spark itself stored in the footer: passing it skips
        # the schema-inference job of a plain read.parquet
        meta = footers[0][1].metadata[b"org.apache.spark.sql.parquet.row.metadata"]
        return self.spark.read.schema(T.StructType.fromJson(json.loads(meta))).parquet(path)

    def _footers(self, path: str) -> list[tuple[str, pq.FileMetaData]]:
        """(file, parquet footer) per data file under `path`."""
        out = []
        for info in self.fs.get_file_info(pafs.FileSelector(path, recursive=True)):
            rel = info.path[len(path) + 1 :].split("/")
            if info.type == pafs.FileType.File and not any(map(_hidden, rel)):
                out.append((info.path, pq.read_metadata(info.path, filesystem=self.fs)))
        return out

    def _append(self, table: str, data: pa.Table) -> None:
        """Append `data` to the parquet table `table` as one file, written
        under a hidden name and renamed into place so that a reader never
        lists a partial file."""
        d = f"{self._base}/{table}"
        self.fs.create_dir(d, recursive=True)
        part = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
        tmp = f"{d}/.{part}.tmp"
        pq.write_table(data, tmp, filesystem=self.fs, compression="snappy")
        self.fs.move(tmp, f"{d}/{part}")

    def _record_metrics(self, name: str, footers: list, seconds: float) -> None:
        # per-partition lineage: rows per output file straight from its
        # footer; like the input_file_name() grouping it replaces, a
        # file without rows has no lineage row. Its sum IS the stage
        # row count (no count() scan).
        lin = [(self._scheme + _escape(f), m.num_rows) for f, m in footers if m.num_rows]
        self._append("_lineage", pa.table({
            "partition_file": pa.array([f for f, _ in lin], pa.string()),
            "rows": pa.array([n for _, n in lin], pa.int64()),
            "run_id": pa.array([self.run_id] * len(lin), pa.string()),
            "stage": pa.array([name] * len(lin), pa.string()),
        }))
        rows = sum(n for _, n in lin)
        self._append("_metrics", pa.table({
            "finished_unix": pa.array([time.time()], pa.float64()),
            "rows": pa.array([rows], pa.int64()),
            "rows_per_sec": pa.array([rows / seconds if seconds > 0 else None], pa.float64()),
            "run_id": pa.array([self.run_id], pa.string()),
            "seconds": pa.array([float(seconds)], pa.float64()),
            "stage": pa.array([name], pa.string()),
        }))

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(self._dir("_metrics"))

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(self._dir("_lineage"))
