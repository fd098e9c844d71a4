"""Benchmark command.

    python3 perfbench/run.py --workload pip_tile --seed 1 --seconds 10 --trace 0

Run from the repository root. It stages its inputs (once per checkout,
under perfbench/_stage), starts one Spark session with
session.get_spark(cpus=nproc), builds the workload's index, runs a first
action and the workload's untimed warm-up reps and then, for --seconds,
alternates the drift probe with the workload's timed action. Every timed
output is checked; the last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics (rows_per_s, setup_s,
python_peak_rss_mb). --trace 1 is a separate run that times each layer from
outside, by layer-prefix actions and the layers' public functions, and
reports the per-layer metrics; its spans go to perfbench/_out/.
--tiny selects the small sizes the self-test uses.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
UNITS = {"rows_per_s": "rows/s", "setup_s": "s", "python_peak_rss_mb": "MB"}


def _process_age_s() -> float:
    """Seconds since this process started (from /proc), so that set-up
    time includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _isolate_temp(workdir: str) -> None:
    """Keep every temporary file of Python, the JVM and Spark in the run's
    work directory. Must run before the session starts."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _timed(fn):
    t0 = time.monotonic()
    out = fn()
    return time.monotonic() - t0, out


def judge(outputs, expected_sample, expected_n, golden) -> list[bool]:
    """One verdict per rep. A rep passes when it raised nothing, its
    (rows, digest) equals the golden value for this seed (or, without
    one, the most common value over the reps), its row count is the
    expected one, and its sampled rows equal the oracle's."""
    seen = Counter((o.n, o.h) for o in outputs if o is not None)
    ref = tuple(golden) if golden else (seen.most_common(1)[0][0] if seen else None)
    return [
        o is not None
        and (o.n, o.h) == ref
        and (expected_n is None or o.n == expected_n)
        and o.sample == expected_sample
        for o in outputs
    ]


def _golden(preset: str, workload: str, seed: int):
    with open(os.path.join(HERE, "golden.json")) as f:
        g = json.load(f).get(preset, {}).get(workload)
    return (g["n"], g["h"]) if g and g["seed"] == seed else None


def _warm(wl) -> None:
    """Run `wl.warm_reps` full actions, untimed and unchecked: rep times
    keep falling over the first few while the JIT compiles and the heap
    grows."""
    for i in range(wl.warm_reps):
        wl.action(f"w{i}")
        wl.cleanup()


def _loop(wl, seconds: float):
    """Alternate probe and timed action until `seconds` have passed.
    Returns (probe times, rep times, outputs) with None for a failed rep."""
    probes, times, outputs = [], [], []
    t_end = time.monotonic() + seconds
    rep = 0
    while True:
        rep += 1
        probes.append(_timed(wl.probe)[0])
        t0 = time.monotonic()
        try:
            out = wl.action(f"t{rep}")
        except Exception as e:  # a failed rep is counted, not fatal
            print(f"rep {rep} failed: {e!r}", file=sys.stderr)
            out = None
        times.append(time.monotonic() - t0)
        outputs.append(out)
        wl.cleanup()
        if time.monotonic() >= t_end:
            return probes, times, outputs


def _traced_loop(wl, sc, seconds: float, tracer):
    """Per round: probe, the layer-prefix actions, the full action traced
    (job group, plan and stage metrics) and the full action untraced. The
    traced and untraced full actions give the tracing overhead."""
    from perfbench import probes as P

    rounds = []
    t_end = time.monotonic() + seconds
    rep = 0
    while True:
        rep += 1
        rec = {}
        with tracer.span("round", rep=rep):
            with tracer.span("probe"):
                wl.probe()
            for name, fn in wl.prefixes():
                df = fn()
                with P.job_group(sc, f"{name}-{rep}"), tracer.span(name):
                    row = df.collect()[0]
                rec[name] = P.plan_metrics(df)
                if name == "joins.parse":
                    rec["poly_share"] = row["poly"] / row["n"]
            group = f"full-{rep}"
            with P.job_group(sc, group), tracer.span("full"):
                out = wl.action(f"t{rep}")
            rec["out"] = out
            rec["stages"] = P.stage_totals(sc, group)
            rec["full_plan"] = P.plan_metrics(wl.last_df) if wl.last_df is not None else []
            if hasattr(wl, "write_stats"):
                rec.update(wl.write_stats())
            wl.cleanup()
            with tracer.span("untraced_full"):
                wl.action(f"u{rep}")
            wl.cleanup()
        rounds.append(rec)
        if time.monotonic() >= t_end:
            return rounds


def _median(xs):
    import numpy as np

    return float(np.median(xs)) if len(xs) else 0.0


def layer_metrics(wl, tracer, rounds, warm_plan, cores: int) -> dict[str, float]:
    """Per-layer metrics from a traced run. Self time of a layer is the
    difference between consecutive prefix medians, so the self times sum
    to the traced full-action median. Python worker boot and init times
    come from the plan of the first (warm-up) action, where they are paid.
    A layer the workload does not run reports 0."""
    from perfbench import probes as P

    med = {n: _median(tracer.durations(n)) for n in
           ("session.start", "index.build", "setup.warmup", "probe", "spark.scan",
            "joins.parse", "joins.pip", "full", "untraced_full")}
    is_pip = wl.name.startswith("pip_")
    m = dict.fromkeys(LAYER_UNITS, 0.0)
    m["session.start_s"] = med["session.start"]
    m["setup.warmup_s"] = med["setup.warmup"]
    m["index.build_s"] = med["index.build"] if is_pip else 0.0
    m["spark.scan_s"] = med["spark.scan"]
    m["probe_s"] = med["probe"]
    m["trace.rep_s"] = med["full"]
    m["trace.overhead_s"] = med["full"] - med["untraced_full"]
    if is_pip:
        m["joins.parse_s"] = med["joins.parse"] - med["spark.scan"]
        m["joins.pip_s"] = med["joins.pip"] - med["joins.parse"]
        m["joins.poly_share"] = _median([r["poly_share"] for r in rounds])
        udf = [r["joins.pip"] for r in rounds]
        for key, metric in (("udf_python_s", "pythonTotalTime"), ("udf_bytes_sent", "pythonDataSent"),
                            ("udf_bytes_received", "pythonDataReceived")):
            m[f"joins.{key}"] = _median([P.sum_plan_metric(n, "ArrowEvalPython", metric) for n in udf])
        m["joins.udf_boot_s"] = P.sum_plan_metric(warm_plan, "ArrowEvalPython", "pythonBootTime")
        m["joins.udf_init_s"] = P.sum_plan_metric(warm_plan, "ArrowEvalPython", "pythonInitTime")
        m.update(wl.layer_stats())
    if wl.name == "pip_tile":
        m["tiling.assign_s"] = med["full"] - med["joins.pip"]
    if wl.name == "pip_all_write":
        m["checkpoint.stage_s"] = med["full"]
        for k in ("checkpoint.write_s", "checkpoint.record_s", "checkpoint.out_mb",
                  "checkpoint.files", "out_bytes_per_in_byte"):
            m[k] = _median([r[k] for r in rounds])
    st = {k: _median([r["stages"][k] for r in rounds]) for k in rounds[0]["stages"]}
    if wl.name == "knn_rings":
        m["knn.jobs"] = st["jobs"]
    m["spark.jobs"] = st["jobs"]
    m["spark.tasks"] = st["tasks"]
    m["spark.task_run_s"] = st["run_s"]
    m["spark.task_cpu_s"] = st["cpu_s"]
    m["spark.gc_s"] = st["gc_s"]
    m["spark.shuffle_write_mb"] = st["shuffle_write_b"] / 1e6
    m["spark.shuffle_read_mb"] = st["shuffle_read_b"] / 1e6
    m["spark.spill_mb"] = st["spill_b"] / 1e6
    m["spark.core_busy_frac"] = st["run_s"] / (cores * med["full"])
    m["spark.plan_scan_s"] = _median(
        [P.sum_plan_metric(r["spark.scan"], "Scan", "scanTime") for r in rounds])
    m["spark.plan_exchange_mb"] = _median(
        [P.sum_plan_metric(r["full_plan"] or r.get("joins.pip", []), "Exchange",
                           "shuffleBytesWritten") for r in rounds]) / 1e6
    return m


LAYER_UNITS = {
    "session.start_s": "s", "setup.warmup_s": "s",
    "index.build_s": "s", "index.cover_cells": "count", "index.cover_slots": "count",
    "index.cover_mb": "MB", "index.kernel_rows_per_s": "rows/s",
    "index.cand_per_doc": "count", "index.hit_ratio": "ratio",
    "spark.scan_s": "s", "joins.parse_s": "s", "joins.pip_s": "s",
    "joins.udf_python_s": "s", "joins.udf_bytes_sent": "bytes",
    "joins.udf_bytes_received": "bytes", "joins.udf_boot_s": "s", "joins.udf_init_s": "s",
    "joins.poly_share": "ratio", "tiling.assign_s": "s",
    "checkpoint.stage_s": "s", "checkpoint.write_s": "s", "checkpoint.record_s": "s",
    "checkpoint.out_mb": "MB", "checkpoint.files": "count", "out_bytes_per_in_byte": "ratio",
    "knn.jobs": "count",
    "spark.jobs": "count", "spark.tasks": "count", "spark.task_run_s": "s",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB", "spark.core_busy_frac": "ratio",
    "spark.plan_scan_s": "s", "spark.plan_exchange_mb": "MB",
    "probe_s": "s", "trace.rep_s": "s", "trace.overhead_s": "s", "peak_rss_mb": "MB",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        from perfbench import probes as P
        from perfbench import stage
        from perfbench.presets import PRESETS
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"cannot import the program under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    preset = "tiny" if args.tiny else "full"
    p = PRESETS[preset]
    workdir = os.path.join(HERE, "_work", str(os.getpid()))
    _isolate_temp(workdir)
    cores = len(os.sched_getaffinity(0))
    excluded = 0.0  # staging and loading inputs are not set-up

    from gdal_spark.session import get_spark

    dt, inputs = _timed(lambda: stage.ensure(preset, args.workload, args.seed))
    excluded += dt
    tracer = P.Tracer()
    try:
        with tracer.span("session.start"):
            spark = get_spark("perfbench", cpus=cores)
        try:
            with P.RssSampler() as rss:
                dt, wl = _timed(lambda: WORKLOADS[args.workload](
                    spark, inputs, p, os.path.join(workdir, "out")))
                excluded += dt
                with tracer.span("index.build"):
                    wl.build()
                # the first action pays worker start, broadcast unpickling
                # and code generation; the full actions after it let the
                # JIT and the heap settle, so timed reps start warm
                with tracer.span("setup.warmup"):
                    warm_df = wl.warmup()
                _warm(wl)
                setup_s = _process_age_s() - excluded
                if args.trace:
                    warm_plan = P.plan_metrics(warm_df) if warm_df is not None else []
                    rounds = _traced_loop(wl, spark.sparkContext, args.seconds, tracer)
                else:
                    probes, times, outputs = _loop(wl, args.seconds)
            # the oracles run after the sampler stops: their memory is the
            # benchmark's, not the program's
            expected = wl.expected_sample()
            if args.trace:
                outputs = [r["out"] for r in rounds]
                times = tracer.durations("full")
                metrics = layer_metrics(wl, tracer, rounds, warm_plan, cores)
                metrics["peak_rss_mb"] = rss.peak / 1e6
                units = LAYER_UNITS
            else:
                metrics, units = {"setup_s": setup_s}, UNITS
            ok = judge(outputs, expected, wl.expected_n(),
                       _golden(preset, args.workload, args.seed))
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    good = [t for t, k in zip(times, ok) if k]
    if not args.trace:
        metrics["rows_per_s"] = inputs["rows"] / _median(good) if good else 0.0
        metrics["python_peak_rss_mb"] = rss.python_peak / 1e6
        print(json.dumps({"detail": {
            "workload": args.workload, "seed": args.seed, "rows": inputs["rows"],
            "in_bytes": inputs["in_bytes"], "rep_s": times, "probe_s": probes,
            "ok": ok, "sample_rows": len(expected),
            "peak_rss_mb": rss.peak / 1e6,
            "peak_rss_split_mb": {k: v / 1e6 for k, v in rss.peak_split.items()},
            "digest": [None if o is None else [o.n, o.h] for o in outputs],
        }}))
    else:
        tracer.dump(os.path.join(HERE, "_out", f"trace-{args.workload}-seed{args.seed}.json"))
    result = {
        "correct": bool(ok) and all(ok),
        "attempted": len(ok),
        "failed": ok.count(False),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
