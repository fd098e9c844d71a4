"""Measurement helpers that read the program from outside: spans, the
process-tree resident memory, executed-plan SQL metrics and the stage
metrics Spark's status store keeps for a job group."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """Spans (name, start, end, parent) kept in memory; `dump` writes them
    when the run ends. Times are seconds on the monotonic clock."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[tuple[int, int | None, str]]:
    """(pid, parent pid, command name) for `root` and its descendants."""
    kids = _children()
    out, todo = [], [(root, None)]
    while todo:
        pid, parent = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:  # the process has exited
            continue
        out.append((pid, parent, comm))
        todo.extend((k, pid) for k in kids.get(pid, ()))
    return out


def rss_by_command(tree) -> dict[str, int]:
    """Resident bytes per command name over `tree`. A process whose virtual
    size equals its parent's is taken to share the parent's address space
    -- the JVM starts helpers such as chmod by vfork-style spawn -- and is
    skipped, so the JVM is not counted twice while a helper starts."""
    statm = {}
    for pid, _, _ in tree:
        try:
            with open(f"/proc/{pid}/statm") as f:
                size, resident = f.read().split()[:2]
        except OSError:  # the process has exited
            continue
        statm[pid] = (int(size), int(resident) * _PAGE)
    out: dict[str, int] = {}
    for pid, parent, comm in tree:
        if pid in statm and (parent not in statm or statm[parent][0] != statm[pid][0]):
            name = "driver" if parent is None else comm
            out[name] = out.get(name, 0) + statm[pid][1]
    return out


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (the JVM, the Python worker daemon and workers). Keeps the peak of the
    whole tree with its split by command name, and the peak of the Python
    processes alone. The process tree is re-read once a second, the memory
    every `period_s`."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak = 0
        self.peak_split: dict[str, int] = {}
        self.python_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self):
        pid = os.getpid()
        pids, listed = [], 0.0
        while not self._stop.is_set():
            if time.monotonic() - listed >= 1.0:
                pids, listed = tree_pids(pid), time.monotonic()
            split = rss_by_command(pids)
            if sum(split.values()) > self.peak:
                self.peak, self.peak_split = sum(split.values()), split
            py = sum(v for k, v in split.items() if k == "driver" or k.startswith("python"))
            self.python_peak = max(self.python_peak, py)
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ------------------------------------------------------------ Spark metrics
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def plan_metrics(df) -> list[tuple[str, dict[str, float]]]:
    """(node name, {metric: value}) for every node of the executed plan of
    `df`, descending through adaptive plans and query stages. Timings are
    converted to seconds; sizes stay in bytes."""
    out = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            metrics[kv._1()] = m.value() * _TIME_SCALE.get(m.metricType(), 1.0)
        out.append((node.nodeName(), metrics))
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def sum_plan_metric(nodes, prefix: str, metric: str) -> float:
    return sum(m.get(metric, 0.0) for name, m in nodes if name.startswith(prefix))


@contextmanager
def job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def stage_totals(sc, group: str) -> dict[str, float]:
    """Totals over every stage attempt of the jobs in `group`, read from the
    status store once the listener bus has delivered their events."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tot = {"jobs": float(len(jobs)), "tasks": 0.0, "run_s": 0.0, "cpu_s": 0.0,
           "gc_s": 0.0, "shuffle_write_b": 0.0, "shuffle_read_b": 0.0, "spill_b": 0.0}
    seen = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: no attempt was recorded
                continue
            tot["tasks"] += st.numCompleteTasks()
            tot["run_s"] += st.executorRunTime() / 1e3
            tot["cpu_s"] += st.executorCpuTime() / 1e9
            tot["gc_s"] += st.jvmGcTime() / 1e3
            tot["shuffle_write_b"] += st.shuffleWriteBytes()
            tot["shuffle_read_b"] += st.shuffleReadBytes()
            tot["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return tot
