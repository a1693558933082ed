"""Measurement logic for the pipeline benchmark.

Pure functions over recorded data (percentiles, interval unions, span
self time and parenting, per-layer metrics from Spark's REST JSON) plus
the readers that collect that data from outside the program: Spark's
UI REST API (``/jobs``, ``/stages``, ``/sql?details=true``,
``/executors``) and ``/proc``. Nothing here imports Spark, so the
logic is unit-tested against recorded REST fixtures.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime

MB = 1024 * 1024
_CLK_TCK = os.sysconf("SC_CLK_TCK")

# plan nodes that run Python workers (Arrow/pandas and row-at-a-time UDFs)
PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
# task-level SQL metrics name the stage of their slowest task
STAGE_REF = re.compile(r"\(stage (\d+)\.\d+:")
SHUFFLED_JOINS = ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct")
BROADCAST_JOINS = ("BroadcastHashJoin", "BroadcastNestedLoopJoin")


# -- statistics --------------------------------------------------------------


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie beyond the ``q`` quantile."""
    return int(n * (1 - q) + 1e-9)


def reportable_percentile(values: list[float], q: float, min_beyond: int = 10) -> float | None:
    """The ``q`` quantile, or None when fewer than ``min_beyond``
    samples lie beyond it (a tail estimate from fewer is noise)."""
    if samples_beyond(len(values), q) < min_beyond:
        return None
    return quantile(values, q)


def median(values: list[float]) -> float:
    return statistics.median(values)


def mean_of_medians(samples: list[tuple[str, float]]) -> float:
    """Mean over keys of each key's median. Over (pipeline, value)
    pairs this is a workload's typical run that does not depend on how
    many runs of each pipeline the measured window happened to hold."""
    by: dict[str, list[float]] = {}
    for key, v in samples:
        by.setdefault(key, []).append(v)
    return statistics.fmean(median(v) for v in by.values())


# -- intervals and spans -----------------------------------------------------


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of closed intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def driver_gap(run: tuple[float, float], jobs: list[tuple[float, float]]) -> float:
    """Run wall time not covered by any Spark job: the driver-side work
    (parsing, planning, scheduling gaps, commits) between jobs."""
    lo, hi = run
    return (hi - lo) - union_length(clip(jobs, lo, hi))


@dataclass
class Span:
    id: int
    kind: str
    name: str
    start: float  # epoch ms
    end: float    # epoch ms
    parent: int | None = None
    trace: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    def to_dict(self) -> dict:
        return {
            "trace": self.trace, "id": self.id, "parent": self.parent, "kind": self.kind,
            "name": self.name, "start_ms": self.start, "end_ms": self.end, **self.attrs,
        }


def parent_by_time(candidates: list[Span], at: float) -> Span | None:
    """The innermost candidate span whose interval contains ``at``:
    the shortest one, since candidates nest."""
    inside = [c for c in candidates if c.start <= at <= c.end]
    return min(inside, key=lambda c: c.duration) if inside else None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: its duration minus the part of its interval that its
    child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - union_length(clip(children.get(s.id, []), s.start, s.end))
        for s in spans
    }


# -- Spark REST ----------------------------------------------------------------


def rest_time(value: str | None) -> float | None:
    """Spark REST timestamp ('2026-10-17T03:50:12.345GMT') to epoch ms."""
    if not value:
        return None
    dt = datetime.strptime(value.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
    return dt.timestamp() * 1000.0


_UNITS = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB, "TiB": 1024 * 1024 * MB,
          "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}


def metric_value(text: str) -> float:
    """A SQL UI metric string as a number: '13.4 MiB' -> bytes,
    '1,000' -> 1000, and for task-level metrics
    'total (min, med, max ...)\\n66 ms (15 ms, ...)' -> the total."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-z]+)?", text)
    if not m:
        raise ValueError(f"unparsed metric {text!r}")
    number = float(m.group(1).replace(",", ""))
    return number * _UNITS.get(m.group(2) or "", 1)


def node_metric(node: dict, name: str) -> float:
    return sum(metric_value(m["value"]) for m in node.get("metrics", []) if m["name"] == name)


def in_window(ts: float | None, lo: float, hi: float) -> bool:
    return ts is not None and lo <= ts <= hi


def window_jobs(jobs: list[dict], lo: float, hi: float) -> list[dict]:
    return [j for j in jobs if in_window(rest_time(j.get("submissionTime")), lo, hi)]


def job_interval(job: dict) -> tuple[float, float]:
    s = rest_time(job["submissionTime"])
    return s, rest_time(job.get("completionTime")) or s


def layer_metrics(
    run: tuple[float, float], jobs: list[dict], stages: list[dict], sqls: list[dict]
) -> dict[str, float]:
    """Engine-layer metrics of one pipeline run (epoch-ms window
    ``run``) from Spark's REST lists. Stages are those of the run's
    jobs that executed (skipped stages are reused shuffle output)."""
    lo, hi = run
    js = window_jobs(jobs, lo, hi)
    stage_ids = {sid for j in js for sid in j.get("stageIds", [])}
    ran = [s for s in stages if s["stageId"] in stage_ids and s.get("status") != "SKIPPED"]
    execs = [e for e in sqls if in_window(rest_time(e.get("submissionTime")), lo, hi)]
    nodes = [n for e in execs for n in e.get("nodes", [])]
    py_ids = python_stage_ids(execs, {j["jobId"]: j for j in js})
    py_stages = [s for s in ran if s["stageId"] in py_ids]
    py_nodes = [n for n in nodes if PYTHON_NODE.search(n["nodeName"])]
    intervals = [job_interval(j) for j in js]

    def total(key: str, rows=ran) -> float:
        return float(sum(s.get(key, 0) for s in rows))

    return {
        "spark.sql_executions": len(execs),
        "scheduler.jobs": len(js),
        "scheduler.stages": len(ran),
        "scheduler.tasks": total("numTasks"),
        "scheduler.job_busy_ms": union_length(clip(intervals, lo, hi)),
        "driver.gap_ms": driver_gap(run, intervals),
        "executor.run_ms": total("executorRunTime"),
        "executor.cpu_ms": total("executorCpuTime") / 1e6,
        "executor.gc_ms": total("jvmGcTime"),
        "executor.tasks_failed": total("numFailedTasks"),
        "shuffle.read_mb": (total("shuffleLocalBytesRead") + total("shuffleRemoteBytesRead")) / MB,
        "shuffle.write_mb": total("shuffleWriteBytes") / MB,
        "spill.mb": total("diskBytesSpilled") / MB,
        "io.scan_mb": sum(node_metric(n, "size of files read") for n in nodes) / MB,
        "io.output_mb": sum(node_metric(n, "written output") for n in nodes) / MB,
        "io.files_written": sum(node_metric(n, "number of written files") for n in nodes),
        "join.broadcast": sum(n["nodeName"] in BROADCAST_JOINS for n in nodes),
        "join.shuffled": sum(n["nodeName"] in SHUFFLED_JOINS for n in nodes),
        # an estimate: time tasks of Python-eval stages spent off the
        # JVM's CPU, which is mostly waiting on their Python workers
        "pyworker.est_ms": max(
            0.0, total("executorRunTime", py_stages) - total("executorCpuTime", py_stages) / 1e6
        ),
        # what the Python-eval nodes themselves report (Spark 4.1+)
        "pyworker.run_ms": sum(node_metric(n, "time to run Python workers") for n in py_nodes),
        "pyworker.init_ms": sum(
            node_metric(n, "time to initialize Python workers") for n in py_nodes
        ),
    }


def python_stage_ids(execs: list[dict], jobs: dict[int, dict]) -> set[int]:
    """Stages that run a Python-eval node: the stages its task-level
    metrics name or, when they name none, every stage of its execution's
    jobs."""
    ids: set[int] = set()
    for e in execs:
        py = [n for n in e.get("nodes", []) if PYTHON_NODE.search(n["nodeName"])]
        named = {int(m) for n in py for mt in n.get("metrics", [])
                 for m in STAGE_REF.findall(mt["value"])}
        if named:
            ids |= named
        elif py:
            ids |= {sid for jid in e.get("successJobIds", []) + e.get("failedJobIds", [])
                    for sid in jobs.get(jid, {}).get("stageIds", [])}
    return ids


class SparkRest:
    """Reader for one application's UI REST API."""

    def __init__(self, ui_url: str, app_id: str):
        self.base = f"{ui_url}/api/v1/applications/{app_id}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        return self.get("/jobs")

    def stages(self) -> list[dict]:
        return self.get("/stages")

    def sqls(self) -> list[dict]:
        return self.get("/sql?details=true&planDescription=true&length=1000000")

    def storage_mb(self) -> float:
        return sum(e.get("memoryUsed", 0) for e in self.get("/executors")) / MB

    def wait_terminal(self, marker: str, timeout_s: float = 60.0) -> list[dict]:
        """Poll until the job described ``marker`` has finished and no
        job or SQL execution is still running. The marker job is
        submitted after the run, and the status listener handles events
        in order, so by then every job of the run is recorded."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = self.jobs()
            done = any(j.get("description") == marker and j["status"] == "SUCCEEDED" for j in jobs)
            if done and not any(j["status"] == "RUNNING" for j in jobs):
                if not any(e.get("status") == "RUNNING" for e in self.get("/sql?length=1000000")):
                    return jobs
            if time.monotonic() > deadline:
                raise TimeoutError("Spark REST did not settle")
            time.sleep(0.05)


# -- /proc ---------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def cpu_seconds(pid: int) -> float:
    """utime+stime of ``pid`` plus that of its reaped children."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    return sum(int(x) for x in f[11:15]) / _CLK_TCK


def own_cpu_seconds(pid: int) -> float:
    f = _stat_fields(pid)
    return 0.0 if f is None else (int(f[11]) + int(f[12])) / _CLK_TCK


def running(pid: int) -> bool:
    """The process exists and has not exited (zombies have)."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                parent[int(d)] = int(f[1])
    out, frontier = [], {root}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        out.extend(frontier)
    return out


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def cpu_snapshot(jvm_pid: int, driver_pid: int) -> dict[str, float]:
    """CPU seconds so far of the driver JVM (with the helper commands it
    runs and reaps), the driver Python, and the Python workers: the
    Python processes below the JVM, with the workers they reaped."""
    below = descendants(jvm_pid)
    py = [p for p in below if _is_python(p)]
    return {
        "jvm": cpu_seconds(jvm_pid) + sum(cpu_seconds(p) for p in below if p not in py),
        "driver": own_cpu_seconds(driver_pid),
        "pyworker": sum(cpu_seconds(p) for p in py),
    }


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def steal_seconds() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


class PeakRss:
    """Samples the summed resident memory of some processes on a thread
    (every ``period_s``) and keeps the peak."""

    def __init__(self, pids: list[int], period_s: float = 0.05):
        self.pids = pids
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(rss_kb(p) for p in self.pids))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
