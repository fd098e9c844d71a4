"""The three workloads. Each is a closed loop with one client: `action`
runs one Spark action to completion and returns its output digest and the
sampled output rows that the oracles check.

  pip_tile       docs x 10k zones (level 8): pip_join(mode="first") ->
                 tiling.assign_tiles(zoom=12), every output column forced
                 by an aggregate, no write
  pip_all_write  the same docs x 250k zones (level 10): pip_join(mode="all")
                 with spans carried, written by checkpoint.Checkpointer.stage
  knn_rings      knn.knn_join_distributed(level=8, k=5) of the seed's
                 queries against staged (doc_id, lon, lat) points; it uses
                 no parse, no Arrow UDF and no cover index
"""

from __future__ import annotations

import glob
import math
import os
import pickle
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from gdal_spark import geomlite as G
from gdal_spark import index as IX
from gdal_spark import tiling
from gdal_spark.cells import np_geo_cell
from gdal_spark.checkpoint import Checkpointer
from gdal_spark.joins import _POINT_RE, geom_wkt_col, pip_join
from gdal_spark.knn import knn_join_distributed

ZOOM = 12


@dataclass
class Output:
    """What one action produced: row count, order-independent digest (sum
    of xxhash64 over the digest columns, wrapping) and the sampled rows."""

    n: int
    h: int
    sample: list[tuple]

    @classmethod
    def from_row(cls, r) -> "Output":
        return cls(int(r["n"]), int(r["h"] or 0), _sorted_rows(r["s"]))


def _sorted_rows(rows) -> list[tuple]:
    return sorted((tuple(x) for x in rows), key=repr)


def _digest_aggs(cols: list[str], sample):
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols)).alias("h"),
        F.collect_list(F.when(sample, F.struct(*cols))).alias("s"),
    ]


def _median(xs):
    return float(np.median(xs))


# ------------------------------------------------------------------ PIP
class _Pip:
    """Shared parts of the two PIP workloads: the docs, the zone index,
    the probe, the layer-prefix actions and the PIP oracle."""

    mode = "first"
    cols = ["doc_id", "zone_id", "eas_id"]

    def __init__(self, spark, inputs: dict, p: dict, workdir: str):
        self.spark = spark
        self.p = p
        self.inputs = inputs
        self.workdir = workdir
        self.level = p["tile_level"] if self.mode == "first" else p["all_level"]
        self.zones = pd.read_pickle(inputs["zones"])
        self.docs = spark.read.parquet(*inputs["docs"])
        self.every = p["doc_sample_every"]
        self.sample = F.expr(f"cast(substr(doc_id, 4) as long) % {self.every} = 0")
        self.zidx = None

    def build(self):
        self.zidx = IX.zone_index(self.spark, self.zones, level=self.level)

    def probe(self):
        self.docs.select(F.sum(F.xxhash64("doc_id")), F.count("*")).collect()

    # layer prefixes: each adds one layer to the one before
    def _scan(self):
        return self.docs.agg(F.count("*"), F.sum(F.size("spans")), F.sum(F.xxhash64("doc_id")))

    def _parse(self):
        d = self.docs.withColumn("geom_wkt", geom_wkt_col())
        d = d.withColumn("_plon", F.regexp_extract("geom_wkt", _POINT_RE, 1).cast("double"))
        d = d.withColumn("_plat", F.regexp_extract("geom_wkt", _POINT_RE, 2).cast("double"))
        return d.agg(
            F.count("*").alias("n"), F.sum(F.xxhash64("doc_id")), F.sum("_plon"), F.sum("_plat"),
            F.sum(F.when(F.col("_plon").isNull(), 1).otherwise(0)).alias("poly"),
        )

    def _pip(self):
        j = pip_join(self.docs, self.zidx, mode=self.mode)
        return j.agg(F.count("*"), F.sum(F.xxhash64("doc_id", "zone_id", "eas_id")))

    def prefixes(self):
        return [("spark.scan", self._scan), ("joins.parse", self._parse), ("joins.pip", self._pip)]

    def warmup(self):
        """First action: the pip_join prefix, which starts the Python
        workers and unpickles the broadcast cover. Its plan holds the
        ArrowEvalPython boot and init times."""
        df = self._pip()
        df.collect()
        return df

    # ---- the single-threaded kernel batch and cover statistics
    def _geoms(self, docs: pd.DataFrame):
        """Representative point per doc and the polygon vertex dict, the
        same inputs the fused UDF hands to the index kernel."""
        xs, ys = G.parse_wkt_batch(docs["geom_wkt"].to_numpy())
        n = len(xs)
        lon, lat = np.empty(n), np.empty(n)
        polys = {}
        for i in range(n):
            lon[i] = np.add.reduce(xs[i]) / len(xs[i])
            lat[i] = np.add.reduce(ys[i]) / len(ys[i])
            if len(xs[i]) > 1:
                polys[i] = (xs[i], ys[i])
        return lon, lat, polys

    def _read_docs(self, files, keep=None, limit=None) -> pd.DataFrame:
        t = pq.read_table(files, columns=["doc_id", "spans"])
        if limit is not None:
            t = t.slice(0, limit)
        if keep is not None:
            ids = np.array([int(s[3:]) for s in t.column("doc_id").to_pylist()])
            t = t.filter(ids % keep == 0)
        wkt = [next(s["text"] for s in spans if s["kind"] == "geom")
               for spans in t.column("spans").to_pylist()]
        return pd.DataFrame({"doc_id": t.column("doc_id").to_pylist(), "geom_wkt": wkt})

    def layer_stats(self) -> dict[str, float]:
        cov = self.zidx.bc.value
        batch = self._read_docs(self.inputs["docs"][:2], limit=self.p["kernel_rows"])
        lon, lat, polys = self._geoms(batch)
        cell = np_geo_cell(lon, lat, self.level)
        kernel = IX.first_match_packed if self.mode == "first" else IX.all_matches_packed
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            kernel(cov, cell, lon, lat, polys)
            times.append(time.perf_counter() - t0)
        pos = np.minimum(np.searchsorted(cov.cells, cell), len(cov.cells) - 1)
        found = cov.cells[pos] == cell
        cand = int(np.where(found, cov.off[pos + 1] - cov.off[pos], 0).sum())
        hits = len(IX.eval_pairs_packed(cov, cell, lon, lat, polys)[0])
        return {
            "index.cover_cells": float(len(cov.cells)),
            "index.cover_slots": float(len(cov.cand_zone)),
            "index.cover_mb": len(pickle.dumps(cov, protocol=pickle.HIGHEST_PROTOCOL)) / 1e6,
            "index.kernel_rows_per_s": len(batch) / _median(times),
            "index.cand_per_doc": cand / len(batch),
            "index.hit_ratio": hits / cand if cand else 0.0,
        }

    # ---- oracle
    def expected_sample(self) -> list[tuple]:
        from tests.oracle import pip_oracle

        docs = self._read_docs(self.inputs["docs"], keep=self.every)
        exp = pip_oracle(docs, self.zones, self.mode)
        rows = [(d, None if pd.isna(z) else int(z), None if pd.isna(e) else int(e))
                for d, z, e in exp[["doc_id", "zone_id", "eas_id"]].itertuples(index=False)]
        if self.mode == "first":
            lon, lat, _ = self._geoms(docs)
            tx, ty, qk = _oracle_tiles(lon, lat, ZOOM)
            # pip_oracle keeps the docs' order in mode "first"
            rows = [r + (int(a), int(b), c) for r, a, b, c in zip(rows, tx, ty, qk)]
        return _sorted_rows(rows)

    def expected_n(self):
        return self.inputs["rows"] if self.mode == "first" else None


def _oracle_tiles(lon, lat, zoom):
    """Google tile x/y and Bing quadkey from the gdal2tiles formulas
    (GlobalMercator.LonLatToMeters / MetersToTile / QuadTree), written out
    here independently of gdal_spark.cells."""
    shift = math.pi * 6378137.0
    res = 2.0 * math.pi * 6378137.0 / 256.0 / 2**zoom
    mx = lon * shift / 180.0
    my = np.log(np.tan((90.0 + lat) * math.pi / 360.0)) / (math.pi / 180.0) * shift / 180.0
    hi = 2**zoom - 1
    tx = np.clip(np.ceil((mx + shift) / res / 256.0).astype(np.int64) - 1, 0, hi)
    ty_tms = np.clip(np.ceil((my + shift) / res / 256.0).astype(np.int64) - 1, 0, hi)
    ty = hi - ty_tms
    quads = []
    for x, y in zip(tx.tolist(), ty.tolist()):
        quads.append("".join(
            str(((x >> (i - 1)) & 1) + 2 * ((y >> (i - 1)) & 1)) for i in range(zoom, 0, -1)
        ))
    return tx, ty, quads


class PipTile(_Pip):
    name = "pip_tile"
    mode = "first"
    # rep times fall by about a third over the first five full actions
    warm_reps = 5
    cols = ["doc_id", "zone_id", "eas_id", "tile_x", "tile_y", "quadkey"]

    def action(self, rep: str):
        j = tiling.assign_tiles(pip_join(self.docs, self.zidx, mode="first"), ZOOM)
        self.last_df = j.agg(*_digest_aggs(self.cols, self.sample))
        return Output.from_row(self.last_df.collect()[0])

    def cleanup(self):
        pass


class PipAllWrite(_Pip):
    name = "pip_all_write"
    mode = "all"
    # the first two full actions are slower, by up to a fifth
    warm_reps = 2

    def action(self, rep: str):
        # a fresh root each rep, so stage() writes instead of resuming
        self.root = os.path.join(self.workdir, f"ck{rep}")
        obs = Observation(f"digest{rep}")
        ck = Checkpointer(self.spark, self.root, run_id=f"rep{rep}")
        t0 = time.monotonic()
        ck.stage(
            "pip_all",
            lambda: pip_join(self.docs, self.zidx, mode="all").observe(
                obs, *_digest_aggs(self.cols, self.sample)
            ),
        )
        self.stage_s = time.monotonic() - t0
        self.last_df = None
        self.checkpointer = ck
        return Output.from_row(obs.get)

    def write_stats(self) -> dict[str, float]:
        """Size and file count of the last rep's stage output, and the
        seconds the checkpointer recorded for the stage itself."""
        files = glob.glob(os.path.join(self.root, "**", "*.parquet"), recursive=True)
        out = [f for f in files if f"{os.sep}pip_all{os.sep}" in f]
        rec = self.checkpointer.metrics().collect()[0]["seconds"]
        return {
            "checkpoint.write_s": float(rec),
            "checkpoint.record_s": self.stage_s - float(rec),
            "checkpoint.out_mb": sum(os.path.getsize(f) for f in out) / 1e6,
            "checkpoint.files": float(len(out)),
            "out_bytes_per_in_byte": sum(os.path.getsize(f) for f in files) / self.inputs["in_bytes"],
        }

    def cleanup(self):
        shutil.rmtree(self.root, ignore_errors=True)


# ------------------------------------------------------------------ kNN
class KnnRings:
    name = "knn_rings"
    cols = ["q_id", "doc_id", "rank"]
    warm_reps = 1

    def __init__(self, spark, inputs: dict, p: dict, workdir: str):
        self.spark = spark
        self.p = p
        self.inputs = inputs
        self.points = spark.read.parquet(*inputs["points"])
        self.queries = spark.read.parquet(inputs["queries"])
        self.every = p["query_sample_every"]
        self.sample = (F.col("q_id") % self.every) == 0
        self.last_df = None

    def build(self):
        pass

    def warmup(self):
        self.action("warmup")
        return None

    def probe(self):
        self.points.select(F.sum(F.xxhash64("doc_id")), F.count("*")).collect()

    def action(self, rep: str):
        res = knn_join_distributed(self.spark, self.points, self.queries, level=self.p["knn_level"])
        self.last_df = res.agg(*_digest_aggs(self.cols, self.sample))
        return Output.from_row(self.last_df.collect()[0])

    def cleanup(self):
        pass

    def prefixes(self):
        scan = lambda: self.points.agg(  # noqa: E731
            F.count("*"), F.sum("lon"), F.sum("lat"), F.sum(F.xxhash64("doc_id"))
        )
        return [("spark.scan", scan)]

    def layer_stats(self) -> dict[str, float]:
        return {}

    def expected_sample(self) -> list[tuple]:
        """Brute-force haversine top-k in numpy, ties by doc_id."""
        t = pq.read_table(self.inputs["points"], columns=["doc_id", "lon", "lat"])
        ids = np.asarray(t.column("doc_id").to_pylist(), dtype=object)
        lon = t.column("lon").to_numpy()
        lat = t.column("lat").to_numpy()
        q = pd.read_parquet(self.inputs["queries"])
        rows = []
        for r in q[q["q_id"] % self.every == 0].itertuples(index=False):
            d = G.haversine(r.lon, r.lat, lon, lat)
            kth = np.partition(d, r.k - 1)[r.k - 1]
            cand = np.where(d <= kth)[0]
            best = cand[np.lexsort((ids[cand], d[cand]))][: r.k]
            rows += [(int(r.q_id), ids[i], rank) for rank, i in enumerate(best, 1)]
        return _sorted_rows(rows)

    def expected_n(self):
        return self.p["queries"] * self.p["knn_k"]


WORKLOADS = {w.name: w for w in (PipTile, PipAllWrite, KnnRings)}
