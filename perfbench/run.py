"""Pipeline benchmark: config-driven workloads through the CLI's path.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload etl-star --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload, one table

Each run drives real HOCON/JSON pipelines in one long-lived process the
way the CLI does: ``PipelineConfig.from_file`` ->
``build_session(config.spark_session_config())`` ->
``PipelineRunner.run`` with the hooks the CLI builds. The load is a
closed loop with one client: one pipeline at a time on
``local[<cores / 2>]``. Inputs are generated from ``--seed``; every sink's
output is checked (see checks.py).

With ``--trace 0`` the last stdout line carries the end-to-end metrics
of untraced runs. With ``--trace 1`` untraced and traced runs alternate;
traced runs record spans (pipeline run -> parse / session / validate /
component -> Spark job -> stage), which are written to
``.perfbench/traces/`` when the benchmark ends, and the last line
carries the per-layer metrics, including the tracing overhead. The line
before the last is a report with sample counts, the failure fraction,
the tail percentile where enough samples exist, and a host record.

The process exits 1 when an output check or a pipeline run fails and 2
when it cannot run at all (for example, without the package beside it).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import measure  # noqa: E402
from measure import Span  # noqa: E402

CONFIGS = os.path.join(HERE, "configs")
DIGESTS = os.path.join(HERE, "digests.json")
GEN_REPEATS = 3
# warm-up rounds (a round is one run of every config, in a seeded
# order): first runs pay class loading and compilation, and second runs
# were still 10-25% slower than later ones
WARMUP = 2
# measured rounds at least, however short ``--seconds`` is
MIN_ROUNDS = 2
MIN_ROUNDS_ONE_CONFIG = 4

# the repository's example pipelines, vendored. Left out to keep a run
# within the benchmark's time budget: neardup_pipeline and
# retrieval_and_decontamination, whose llm operators cost seconds even on
# tiny data; price_bands, whose range_frame etl-star runs at scale; and
# pq_index, since llm_curation's packing already starts Python workers.
# streaming_etl keeps its stateless stream and batch chain only (see
# its header).
SMALL_CONFIGS = [
    "events_daily.conf", "batch_etl.json", "event_analytics.conf",
    "llm_curation.conf", "streaming_etl.conf",
]

END_TO_END = {"setup_s": "s", "pipeline_s_p50": "s", "cpu_s_per_run": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "plans.parse_ms": "ms", "plans.validate_ms": "ms", "plans.build_ms": "ms",
    "io.read_ms": "ms", "catalyst.plan_ms": "ms", "sink_ms": "ms",
    "quality.check_ms": "ms", "streaming.drain_ms": "ms",
    "spark.sql_executions": "count", "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.job_busy_ms": "ms", "driver.gap_ms": "ms",
    "executor.run_ms": "ms", "executor.cpu_ms": "ms", "executor.gc_ms": "ms",
    "executor.tasks_failed": "count", "resilience.retries": "count",
    "shuffle.read_mb": "MB", "shuffle.write_mb": "MB", "spill.mb": "MB",
    "io.scan_mb": "MB", "io.output_mb": "MB", "io.files_written": "count",
    "join.broadcast": "count", "join.shuffled": "count",
    "pyworker.cpu_ms": "ms", "pyworker.est_ms": "ms", "pyworker.run_ms": "ms",
    "pyworker.init_ms": "ms", "storage.mb": "MB",
    "trace.overhead_ms": "ms",
}


# -- workloads -----------------------------------------------------------------


def _etl_inputs(d: str, seed: int) -> None:
    gen.star_schema(d, seed, sf=0.0005, replicas=10)


def _llm_inputs(d: str, seed: int) -> None:
    gen.documents(os.path.join(d, "documents.parquet"), seed, n_base=250, replicas=4)
    gen.embeddings(os.path.join(d, "embeddings.parquet"), seed, n_base=250, replicas=4)


def _small_inputs(d: str, seed: int) -> None:
    gen.star_schema(d, seed, sf=0.001)
    gen.documents(os.path.join(d, "documents.parquet"), seed, n_base=500)
    gen.events(os.path.join(d, "events.parquet"), seed, n=1000)


def _etl_gate(gate_cls):
    """Source validation through the Python quality API, bound to the
    components that load each checked table."""
    from pyspark_pipeline_framework_spark.quality import checks as q

    return gate_cls(checks=[
        q.unique_check("orders", ["o_orderkey"]),
        q.null_check("lineitem", "l_orderkey"),
        q.range_check("lineitem", "l_discount", min_value=0.0, max_value=0.1),
        q.row_count_check("customer", 1),
    ])


@dataclass
class Workload:
    name: str
    why: str
    configs: list[str]
    make_inputs: Callable[[str, int], None]
    gate: Callable | None = None
    oracle: bool = False


WORKLOADS = {
    w.name: w for w in [
        Workload(
            "etl-star",
            "relational ETL: Catalyst, JVM executor, shuffle and writes; "
            "no Python workers",
            ["etl_star.conf"], _etl_inputs, gate=_etl_gate, oracle=True,
        ),
        Workload(
            "llm-curate",
            "llm operators and their Arrow/pandas Python-worker stages; "
            "no large relational joins",
            ["llm_curate.conf"], _llm_inputs,
        ),
        Workload(
            "small-configs",
            "five example pipelines on tiny data, so fixed per-pipeline costs "
            "dominate: schema resolution, planning, scheduling, worker start, commits",
            SMALL_CONFIGS, _small_inputs,
        ),
    ]
}


# -- tracing hooks ---------------------------------------------------------------


class Recorder:
    """PipelineHooks observer for traced runs: turns hook calls into
    epoch-time spans, and forces each sink input's physical plan to read
    Catalyst's phase times (that planning is tracing work, so it is
    subtracted from the sink's time)."""

    KIND = {"read": "io.read", "write": "sink", "stream": "streaming"}

    def __init__(self, config, new_id: Callable[[], int], trace: str):
        self.config = config
        self.new_id = new_id
        self.trace = trace
        self.runner = None
        self.spans: list[Span] = []
        self.open: dict[str, tuple[float, int]] = {}
        self.pipeline_start = 0.0
        self.retries = 0
        self.catalyst_ms = 0.0

    def span(self, kind: str, name: str, start: float, end: float, **attrs) -> Span:
        s = Span(self.new_id(), kind, name, start, end, trace=self.trace, attrs=attrs)
        self.spans.append(s)
        return s

    def on_pipeline_start(self, pipeline):
        self.pipeline_start = time.time() * 1000

    def on_validation_complete(self, pipeline, ok, messages):
        self.span("validate", pipeline, self.pipeline_start, time.time() * 1000)

    def on_component_start(self, pipeline, component):
        start = time.time() * 1000
        comp = self.config.get(component)
        self.open[component] = (start, self.new_id())
        if comp.op == "write" and self.runner is not None:
            self._plan(comp)

    def _plan(self, comp) -> None:
        t0 = time.time() * 1000
        qe = self.runner.catalog.get(comp.params["input"])._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        ms = sum(phases.apply(p).durationMs() for p in ("analysis", "optimization", "planning")
                 if phases.contains(p))
        self.catalyst_ms += ms
        self.span("catalyst", comp.name, t0, time.time() * 1000, phases_ms=ms)

    def on_component_end(self, pipeline, component, status, duration_s):
        start, sid = self.open.pop(component)
        op = self.config.get(component).op
        self.spans.append(Span(
            sid, self.KIND.get(op, "build"), component, start, time.time() * 1000,
            trace=self.trace, attrs={"op": op, "status": status},
        ))

    def on_component_retry(self, pipeline, component, attempt, error):
        self.retries += 1

    def on_component_skipped(self, pipeline, component, reason):
        pass

    def on_pipeline_end(self, pipeline, status, duration_s):
        pass


def timed_gate_class(QualityGate):
    class TimedQualityGate(QualityGate):
        """QualityGate that records a span per gate evaluation."""

        recorder: Recorder | None = None

        def run(self, timing, datasets, component_name=None, component_output=None):
            t0 = time.time() * 1000
            try:
                return super().run(timing, datasets, component_name, component_output)
            finally:
                if self.recorder is not None:
                    self.recorder.span("quality", component_name or timing.value,
                                       t0, time.time() * 1000)

    return TimedQualityGate


# -- the benchmark ---------------------------------------------------------------


@dataclass
class RunRecord:
    pipeline: str
    wall_s: float
    cpu_s: float
    ok: bool
    traced: bool
    out_dir: str
    config: object
    layers: dict = field(default_factory=dict)


class Bench:
    def __init__(self, workload: Workload, seed: int, seconds: float, trace: bool, root: str):
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.root = root
        self.work = os.path.join(root, ".perfbench", f"work-{workload.name}-{seed}-{os.getpid()}")
        self.data = os.path.join(self.work, "data")
        self.spark = None
        self.jvm_pid = None
        self.iteration = 0
        self.span_ids = iter(range(1, 1 << 62))
        self.spans: list[Span] = []
        self.setup: dict[str, float] = {}
        self.records: list[RunRecord] = []
        self.plans: dict[str, str] = {}

    # -- setup --------------------------------------------------------------
    def start(self) -> None:
        """Set up: session and JVM, inputs, expected outputs, warm-up.
        ``setup_s`` counts all of it except computing the expectations."""
        self.start_session()
        self.make_inputs()
        if self.w.oracle:
            self.book = checks.DigestBook(checks.etl_oracle(self.data), "oracle")
        else:
            self.book = checks.DigestBook.pinned(DIGESTS, self.w.name, self.seed)
        self.warmup: list[tuple[str, float]] = []
        for cfg in self.schedule(WARMUP):
            rec = self.run_once(cfg, traced=False)
            self.warmup.append((rec.pipeline, rec.wall_s))
            self.check(rec)
        self.setup["warmup_s"] = sum(w for _, w in self.warmup)
        self.setup["setup_s"] = sum(self.setup[k] for k in ("session_s", "gen_s", "warmup_s"))

    def start_session(self) -> None:
        from pyspark_pipeline_framework_spark.plans.config import PipelineConfig
        from pyspark_pipeline_framework_spark.session import build_session

        for d in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        import tempfile

        tempfile.tempdir = None
        # Python workers import the package from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        # half the cores run tasks, leaving the rest to the driver JVM's
        # own threads (JIT, GC, listeners) and the driver Python: with a
        # task thread per core, runs on a shared 4-core host were slower
        # and spread twice as much (pipeline time 0.19 vs 0.10 of the
        # median over five seeds of small-configs)
        os.environ["SPARK_GRAFT_CPUS"] = str(task_cores())
        os.environ.pop("SPARK_MASTER", None)
        session_conf = self.render("session.conf", os.path.join(self.work, "session"))

        t0 = time.perf_counter()
        self.spark = build_session(PipelineConfig.from_file(session_conf).spark_session_config())
        self.setup["session_s"] = time.perf_counter() - t0
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        sc = self.spark.sparkContext
        self.rest = measure.SparkRest(sc.uiWebUrl, sc.applicationId)

    def make_inputs(self) -> None:
        """Generate the seed's inputs several times (the median time is
        the set-up share) and require identical files each time."""
        shutil.rmtree(self.data, ignore_errors=True)
        gen_s, hashes = [], []
        for k in range(GEN_REPEATS):
            d = os.path.join(self.work, f"gen{k}")
            os.makedirs(d)
            t0 = time.perf_counter()
            self.w.make_inputs(d, self.seed)
            gen_s.append(time.perf_counter() - t0)
            hashes.append(_dir_hash(d))
        if len(set(hashes)) != 1:
            raise RuntimeError("input generation is not deterministic for this seed")
        os.rename(os.path.join(self.work, "gen0"), self.data)
        for k in range(1, GEN_REPEATS):
            shutil.rmtree(os.path.join(self.work, f"gen{k}"))
        self.setup["gen_s"] = measure.median(gen_s)

    def schedule(self, n: int) -> list[str]:
        """``n`` iterations' configs: for small-configs, ``n`` rounds of
        every config in a seeded order."""
        if len(self.w.configs) == 1:
            return self.w.configs * n
        rng = random.Random(f"{self.seed}-{self.iteration}")
        out = []
        for _ in range(n):
            order = list(self.w.configs)
            rng.shuffle(order)
            out += order
        return out

    def render(self, name: str, dest: str) -> str:
        """Copy the vendored configs to ``dest`` with this run's paths."""
        os.makedirs(dest, exist_ok=True)
        src_dir = os.path.join(CONFIGS, "small") if name in SMALL_CONFIGS else CONFIGS
        for f in os.listdir(src_dir):
            p = os.path.join(src_dir, f)
            if os.path.isfile(p):
                with open(p) as fh:
                    text = fh.read()
                text = (text.replace("@WORK@", self.work).replace("@DATA@", self.data)
                        .replace("@OUT@", os.path.join(dest, "out")))
                with open(os.path.join(dest, f), "w") as fh:
                    fh.write(text)
        return os.path.join(dest, name)

    # -- one pipeline run ---------------------------------------------------
    def run_once(self, name: str, traced: bool) -> RunRecord:
        from pyspark_pipeline_framework_spark.observability.config import build_hooks_from_config
        from pyspark_pipeline_framework_spark.observability.hooks import (
            CompositeHooks,
            LoggingHooks,
        )
        from pyspark_pipeline_framework_spark.plans.config import PipelineConfig
        from pyspark_pipeline_framework_spark.plans.result import ComponentStatus
        from pyspark_pipeline_framework_spark.plans.runner import PipelineRunner
        from pyspark_pipeline_framework_spark.quality.gate import QualityGate
        from pyspark_pipeline_framework_spark.session import build_session

        self.iteration += 1
        dest = os.path.join(self.work, f"it{self.iteration:04d}")
        path = self.render(name, dest)
        trace_id = f"{self.w.name}-{self.seed}-{self.iteration}"
        gate_cls = timed_gate_class(QualityGate) if traced else QualityGate

        cpu0 = measure.cpu_snapshot(self.jvm_pid, os.getpid())
        t0 = time.time()
        p0 = time.perf_counter()
        config = PipelineConfig.from_file(path)
        t_parse = time.time()
        # the hooks the CLI builds, plus the recorder on traced runs
        parts = [build_hooks_from_config(config.hooks)] if config.hooks else [LoggingHooks()]
        rec = Recorder(config, lambda: next(self.span_ids), trace_id) if traced else None
        if rec:
            parts.append(rec)
        hooks = parts[0] if len(parts) == 1 else CompositeHooks(*parts)
        spark = build_session(config.spark_session_config())
        t_session = time.time()
        gate = self.w.gate(gate_cls) if self.w.gate else None
        if rec and gate is not None:
            gate.recorder = rec
        runner = PipelineRunner(config, spark, hooks=hooks, quality_gate=gate)
        if rec:
            rec.runner = runner
        result = runner.run()
        wall = time.perf_counter() - p0
        t1 = time.time()
        cpu1 = measure.cpu_snapshot(self.jvm_pid, os.getpid())

        ok = all(c.status == ComponentStatus.SUCCESS for c in result.components)
        for c in result.components:
            if c.status != ComponentStatus.SUCCESS:
                print(f"[perfbench] {config.name}/{c.name}: {c.status.value} {c.error}",
                      file=sys.stderr)
        record = RunRecord(
            config.name, wall, sum(cpu1.values()) - sum(cpu0.values()), ok, traced, dest, config
        )
        if rec:
            rec.span("parse", config.name, t0 * 1000, t_parse * 1000)
            rec.span("session", config.name, t_parse * 1000, t_session * 1000)
            record.layers = self.collect(rec, (t0 * 1000, t1 * 1000), cpu1["pyworker"] - cpu0["pyworker"])
        return record

    def collect(self, rec: Recorder, window: tuple[float, float], pyworker_s: float) -> dict:
        """Per-layer metrics of one traced run, from its hook spans and
        Spark's REST API once every job of the run is terminal."""
        sc = self.spark.sparkContext
        marker = f"perfbench-marker-{rec.trace}"
        sc.setJobDescription(marker)
        try:
            self.spark.range(1).count()  # a JVM-only job: starts no Python worker
        finally:
            sc.setJobDescription(None)
        jobs = self.rest.wait_terminal(marker)
        stages = self.rest.stages()
        sqls = self.rest.sqls()
        layers = measure.layer_metrics(window, jobs, stages, sqls)
        layers["storage.mb"] = self.rest.storage_mb()
        layers["pyworker.cpu_ms"] = pyworker_s * 1000

        run = Span(next(self.span_ids), "run", rec.config.name, *window, trace=rec.trace)
        spans = [run] + rec.spans
        comps = [s for s in rec.spans if s.kind in ("build", "io.read", "sink", "streaming")]
        for s in rec.spans:
            if s.kind in ("catalyst", "quality"):
                s.parent = (measure.parent_by_time(comps, s.start) or run).id
            else:
                s.parent = run.id
        lo, hi = window
        inner = comps + [s for s in rec.spans if s.kind in ("catalyst", "quality")]
        by_job = {}
        for j in measure.window_jobs(jobs, lo, hi):
            start, end = measure.job_interval(j)
            parent = measure.parent_by_time(inner, start) or run
            js = Span(next(self.span_ids), "job", str(j["jobId"]), start, end,
                      parent=parent.id, trace=rec.trace, attrs={"status": j["status"]})
            spans.append(js)
            for sid in j.get("stageIds", []):
                by_job[sid] = js
        for st in stages:
            js = by_job.get(st["stageId"])
            if js is None or st.get("status") == "SKIPPED" or not st.get("submissionTime"):
                continue
            spans.append(Span(
                next(self.span_ids), "stage", f"{st['stageId']}.{st['attemptId']}",
                measure.rest_time(st["submissionTime"]),
                measure.rest_time(st.get("completionTime")) or js.end,
                parent=js.id, trace=rec.trace,
                attrs={"tasks": st.get("numTasks"), "run_ms": st.get("executorRunTime")},
            ))
        self_ms = measure.self_times(spans)
        for s in spans:
            s.attrs["self_ms"] = self_ms[s.id]
        self.spans.extend(spans)
        for e in sqls:  # keep the final physical plan of every sink write
            if measure.in_window(measure.rest_time(e.get("submissionTime")), lo, hi) and any(
                n["nodeName"].startswith("Execute InsertInto") for n in e.get("nodes", [])
            ):
                self.plans[f"{rec.config.name}/{e['id']}"] = e.get("planDescription", "")

        def total(kind: str) -> float:
            return sum(s.duration for s in rec.spans if s.kind == kind)

        layers.update({
            "plans.parse_ms": total("parse"),
            "plans.validate_ms": total("validate"),
            "plans.build_ms": total("build"),
            "io.read_ms": total("io.read"),
            "sink_ms": total("sink") - total("catalyst"),
            "streaming.drain_ms": total("streaming"),
            "quality.check_ms": total("quality"),
            "catalyst.plan_ms": rec.catalyst_ms,
            "resilience.retries": rec.retries,
        })
        return layers

    def check(self, record: RunRecord) -> None:
        """Digest every sink of a finished run against the expectation;
        a mismatch fails the run. The run's outputs are then removed."""
        got = {
            n: checks.sink_digest(p, fmt)
            for n, (p, fmt) in checks.sinks(record.config).items()
        }
        if not self.book.check(record.pipeline, got):
            record.ok = False
        shutil.rmtree(record.out_dir, ignore_errors=True)

    # -- measured phase -------------------------------------------------------
    def measure(self) -> None:
        """Closed loop for ``seconds``: rounds of every config in a seeded
        order, stopping at the first run that ends after ``seconds`` once
        the minimum rounds are done. With tracing, each run is an
        untraced and traced pair."""
        modes = (False, True) if self.trace else (False,)
        min_rounds = MIN_ROUNDS_ONE_CONFIG if len(self.w.configs) == 1 else MIN_ROUNDS
        steal0 = measure.steal_seconds()
        t_end = time.monotonic() + self.seconds
        rounds = n = 0
        with measure.PeakRss([self.jvm_pid, os.getpid()]) as rss:
            while rounds < min_rounds or time.monotonic() < t_end:
                for name in self.schedule(1):
                    if rounds >= min_rounds and time.monotonic() >= t_end:
                        break
                    # alternate which of a pair runs first, so that the
                    # second run's warmer caches do not bias the overhead
                    for traced in modes if n % 2 == 0 else modes[::-1]:
                        try:
                            rec = self.run_once(name, traced)
                        except Exception:  # noqa: BLE001 - a broken run is counted, not fatal
                            traceback.print_exc()
                            rec = RunRecord(name, 0.0, 0.0, False, traced, "", None)
                        self.records.append(rec)
                    n += 1
                rounds += 1
        self.peak_rss_mb = rss.peak_kb / 1024
        self.steal_s = measure.steal_seconds() - steal0
        for r in self.records:
            if r.config is not None:
                self.check(r)

    # -- results --------------------------------------------------------------
    def results(self) -> tuple[dict, dict]:
        # a run that raised has no wall time; it counts only as failed
        untraced = [r for r in self.records if not r.traced and r.config is not None]
        traced = [r for r in self.records if r.traced and r.config is not None]
        walls = [r.wall_s for r in untraced]
        failed = sum(not r.ok for r in self.records)

        # per pipeline the median run, then the mean over the workload's
        # pipelines: for small-configs a single median would be whichever
        # pipeline happens to sit in the middle, and the last round may
        # be cut short
        def typical(records: list[RunRecord], value: Callable[[RunRecord], float]) -> float:
            return measure.mean_of_medians([(r.pipeline, value(r)) for r in records])

        e2e = {
            "setup_s": self.setup["setup_s"],
            "pipeline_s_p50": typical(untraced, lambda r: r.wall_s),
            "cpu_s_per_run": typical(untraced, lambda r: r.cpu_s),
            "peak_rss_mb": self.peak_rss_mb,
        }
        p90 = measure.reportable_percentile(walls, 0.9)
        report = {
            "workload": self.w.name, "seed": self.seed, "trace": int(self.trace),
            "why": self.w.why,
            "end_to_end": {
                k: {"value": v, "unit": END_TO_END[k],
                    "samples": {"setup_s": 1}.get(k, len(untraced))}
                for k, v in e2e.items()
            },
            "pipeline_s_p90": (
                {"value": p90, "unit": "s", "samples": len(walls)} if p90 is not None else
                f"not reported: {len(walls)} samples leave "
                f"{measure.samples_beyond(len(walls), 0.9)} beyond p90, 10 needed"
            ),
            "failed_frac": {"value": failed / len(self.records), "unit": "ratio",
                            "samples": len(self.records)},
            "setup": self.setup,
            "warmup_runs_s": self.warmup,
            "pipeline_runs_s": [(r.pipeline, r.wall_s, r.traced) for r in self.records],
            "check": {"source": self.book.source, "mismatches": self.book.mismatches},
            "host": self.host(),
        }
        if not self.trace:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        else:
            done = [r for r in traced if r.layers]
            layers = {
                k: typical(done, lambda r, k=k: r.layers[k])
                for k in PER_LAYER if k != "trace.overhead_ms"
            }
            layers["trace.overhead_ms"] = 1000 * (
                typical(traced, lambda r: r.wall_s) - typical(untraced, lambda r: r.wall_s)
            )
            metrics = {k: {"value": layers[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
            report["per_layer_runs"] = len(done)
            report["traced_pipeline_s_p50"] = typical(traced, lambda r: r.wall_s)
            report["trace_file"] = self.write_trace(report, layers)
        result = {
            "correct": failed == 0,
            "attempted": len(self.records),
            "failed": failed,
            "metrics": metrics,
        }
        return report, result

    def host(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "master": sc.master,
            "steal_s": self.steal_s,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": sc.getConf().get("spark.driver.memory", "1g"),
            "python": sys.version.split()[0],
            "spark": self.spark.version,
        }

    def write_trace(self, report: dict, layers: dict) -> str:
        out = os.path.join(self.root, ".perfbench", "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.w.name}-seed{self.seed}.json")
        by_kind: dict[str, list[float]] = {}
        for trace_id in {s.trace for s in self.spans}:
            per: dict[str, float] = {}
            for s in self.spans:
                if s.trace == trace_id:
                    per[s.kind] = per.get(s.kind, 0.0) + s.attrs["self_ms"]
            for kind, v in per.items():
                by_kind.setdefault(kind, []).append(v)
        with open(path, "w") as f:
            json.dump({
                "workload": self.w.name, "seed": self.seed,
                "per_layer": layers,
                "self_ms_median": {k: measure.median(v) for k, v in sorted(by_kind.items())},
                "host": report["host"],
                "plans": self.plans,
                "spans": [s.to_dict() for s in self.spans],
            }, f, indent=1)
        return os.path.relpath(path, self.root)

    # -- teardown -------------------------------------------------------------
    def close(self) -> None:
        """Stop Spark, its JVM and its Python workers, wait for each to
        end, and remove the work directory."""
        if self.spark is not None:
            from pyspark import SparkContext

            children = measure.descendants(self.jvm_pid)
            try:
                self.spark.stop()
            finally:
                gw = SparkContext._gateway
                if gw is not None:
                    gw.shutdown()
                    gw.proc.stdin.close()
                    try:
                        gw.proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        gw.proc.kill()
                        gw.proc.wait()
                _wait_gone(children)
        shutil.rmtree(self.work, ignore_errors=True)


def task_cores() -> int:
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _dir_hash(d: str) -> str:
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        h.update(f.encode())
        with open(os.path.join(d, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _wait_gone(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait until each process has exited (a zombie has), killing the
    ones still running after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if measure.running(p)]
        time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


# -- entry point -------------------------------------------------------------------


def _import_package(root: str) -> None:
    """Import the package from the checkout at ``root``, never from
    anywhere else on the path."""
    sys.path.insert(0, root)
    import pyspark_pipeline_framework_spark as pkg

    if not os.path.abspath(pkg.__file__).startswith(os.path.join(root, "")):
        raise ImportError(f"package found outside the checkout: {pkg.__file__}")


def run_all(args) -> int:
    """Every workload in its own process; one table of end-to-end metrics."""
    rows, code = [], 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        code = code or p.returncode
        if len(lines) < 2:
            print(f"{name}: no result (exit {p.returncode})")
            continue
        report, result = json.loads(lines[-2]), json.loads(lines[-1])
        rows.append((name, report, result))
    for name, report, result in rows:
        print(f"== {name}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']} failed_frac={report['failed_frac']['value']:.3f}")
        for k, m in report["end_to_end"].items():
            print(f"   {k:<16} {m['value']:>12.4f} {m['unit']:<6} samples={m['samples']}")
        p90 = report["pipeline_s_p90"]
        print(f"   pipeline_s_p90   {p90 if isinstance(p90, str) else round(p90['value'], 4)}")
        if args.trace:
            for k, m in result["metrics"].items():
                print(f"   {k:<22} {m['value']:>12.4f} {m['unit']}")
    return code


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    try:
        _import_package(root)
        import duckdb  # noqa: F401  - the output checks need it
    except ImportError as exc:
        print(f"perfbench: cannot run here: {exc}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), root)
    try:
        bench.start()
        bench.measure()
        report, result = bench.results()
    finally:
        bench.close()
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
