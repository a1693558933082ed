"""Unit tests of the benchmark's own metric logic and output checks.

The REST fixtures were recorded on Spark 4.1.2 from traced runs of the
repository's ``pq_index`` example pipeline (a Python-UDF stage) and of
the ``etl-star`` pipeline, trimmed to the fields the metric logic reads.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import measure  # noqa: E402
from measure import Span  # noqa: E402


def fixture(name: str) -> dict:
    with open(os.path.join(HERE, "fixtures", name)) as f:
        return json.load(f)


# -- percentile rule -----------------------------------------------------------


def test_percentile_needs_ten_samples_beyond_it():
    assert measure.samples_beyond(99, 0.9) == 9
    assert measure.samples_beyond(100, 0.9) == 10
    assert measure.reportable_percentile([float(i) for i in range(99)], 0.9) is None
    assert measure.reportable_percentile([float(i) for i in range(100)], 0.9) == pytest.approx(89.1)
    # the median needs only 10 samples beyond it
    assert measure.reportable_percentile([1.0] * 19, 0.5) is None
    assert measure.reportable_percentile([1.0] * 20, 0.5) == 1.0


def test_quantile_interpolates():
    assert measure.quantile([4.0, 1.0, 3.0, 2.0], 0.5) == 2.5
    assert measure.quantile([1.0], 0.9) == 1.0
    with pytest.raises(ValueError):
        measure.quantile([], 0.5)


def test_mean_of_medians_ignores_how_often_each_pipeline_ran():
    runs = [("a", 1.0), ("b", 3.0), ("a", 1.2), ("b", 9.0), ("b", 3.2)]
    assert measure.mean_of_medians(runs) == pytest.approx((1.1 + 3.2) / 2)
    # a cut-short last round (one more "a") leaves it unchanged
    assert measure.mean_of_medians(runs + [("a", 1.1)]) == pytest.approx((1.1 + 3.2) / 2)


# -- job intervals and driver gap ------------------------------------------------


def test_union_of_intervals():
    assert measure.union_length([]) == 0
    assert measure.union_length([(0, 10), (5, 15), (20, 30)]) == 25
    assert measure.union_length([(0, 10), (2, 3), (10, 12)]) == 12
    assert measure.union_length([(5, 5), (7, 6)]) == 0  # empty or inverted


def test_driver_gap_is_run_time_outside_jobs():
    run = (100.0, 200.0)
    jobs = [(90.0, 120.0), (110.0, 130.0), (150.0, 160.0), (195.0, 230.0)]
    # covered inside the run: 100-130, 150-160, 195-200 = 45
    assert measure.driver_gap(run, jobs) == 55.0
    assert measure.driver_gap(run, []) == 100.0


def test_driver_gap_from_recorded_rest():
    rec = fixture("pq_index.json")
    lo, hi = rec["window"]
    m = measure.layer_metrics((lo, hi), rec["jobs"], rec["stages"], rec["sqls"])
    intervals = [measure.job_interval(j) for j in rec["jobs"]]
    busy = measure.union_length(measure.clip(intervals, lo, hi))
    assert m["scheduler.job_busy_ms"] == busy
    assert m["driver.gap_ms"] == pytest.approx((hi - lo) - busy)
    assert 0 < m["driver.gap_ms"] < hi - lo


# -- self time and span parenting ------------------------------------------------


def _spans():
    run = Span(1, "run", "p", 0, 100)
    comp = Span(2, "sink", "save", 10, 90, parent=1)
    job1 = Span(3, "job", "1", 20, 50, parent=2)
    job2 = Span(4, "job", "2", 40, 70, parent=2)
    stage = Span(5, "stage", "7.0", 25, 45, parent=3)
    return [run, comp, job1, job2, stage]


def test_self_time_subtracts_union_of_children():
    st = measure.self_times(_spans())
    assert st[1] == 20   # run 100 - component 80
    assert st[2] == 30   # component 80 - jobs' union 20..70
    assert st[3] == 10   # job 30 - stage 20
    assert st[4] == 30   # no children
    assert st[5] == 20


def test_self_time_clips_children_to_parent():
    spans = [Span(1, "sink", "s", 10, 20), Span(2, "job", "j", 5, 15, parent=1)]
    assert measure.self_times(spans)[1] == 5


def test_job_is_parented_to_innermost_containing_component():
    run = Span(1, "run", "p", 0, 100)
    read = Span(2, "io.read", "load", 5, 20)
    sink = Span(3, "sink", "save", 30, 90)
    gate = Span(4, "quality", "save", 60, 80)
    comps = [read, sink, gate]
    assert measure.parent_by_time(comps, 10) is read
    assert measure.parent_by_time(comps, 70) is gate
    assert measure.parent_by_time(comps, 40) is sink
    assert measure.parent_by_time(comps, 25) is None  # falls to the run
    assert measure.parent_by_time([run, *comps], 25) is run


# -- per-layer metrics from recorded REST ------------------------------------------


def test_metric_strings():
    assert measure.metric_value("13.4 MiB") == pytest.approx(13.4 * 1024 * 1024)
    assert measure.metric_value("1,000") == 1000
    assert measure.metric_value("939.0 B") == 939
    assert measure.metric_value(
        "total (min, med, max (stageId: taskId))\n66 ms (15 ms, 24 ms, 27 ms (stage 141.0: task 157))"
    ) == 66
    assert measure.metric_value("20.4 s") == 20400
    with pytest.raises(ValueError):
        measure.metric_value("n/a")


def test_rest_time_is_epoch_ms():
    assert measure.rest_time("1970-01-01T00:00:01.500GMT") == 1500.0
    assert measure.rest_time(None) is None


def test_layer_metrics_pq_index():
    rec = fixture("pq_index.json")
    m = measure.layer_metrics(rec["window"], rec["jobs"], rec["stages"], rec["sqls"])
    assert rec["expected"] == {k: m[k] for k in rec["expected"]}
    # the Python-eval stages are found, so the estimate is positive
    assert m["pyworker.est_ms"] > 0
    assert m["pyworker.init_ms"] > 0 and m["pyworker.run_ms"] > 0


def test_layer_metrics_etl_star_joins():
    rec = fixture("etl_star.json")
    m = measure.layer_metrics(rec["window"], rec["jobs"], rec["stages"], rec["sqls"])
    assert rec["expected"] == {k: m[k] for k in rec["expected"]}
    assert m["join.shuffled"] >= 1 and m["join.broadcast"] >= 1
    assert m["pyworker.est_ms"] == 0 and m["pyworker.init_ms"] == 0


def test_python_stages_named_by_metrics_or_by_jobs():
    jobs = {1: {"stageIds": [4, 5]}, 2: {"stageIds": [6]}}
    named = {"successJobIds": [1], "nodes": [{"nodeName": "MapInPandas", "metrics": [
        {"name": "time to run Python workers",
         "value": "total (min, med, max (stageId: taskId))\n9 ms (1 ms, 2 ms, 5 ms (stage 5.0: task 9))"},
    ]}]}
    unnamed = {"successJobIds": [2], "nodes": [
        {"nodeName": "ArrowEvalPython", "metrics": [{"name": "x", "value": "3 ms"}]}]}
    jvm_only = {"successJobIds": [1], "nodes": [{"nodeName": "Project", "metrics": []}]}
    assert measure.python_stage_ids([named], jobs) == {5}
    assert measure.python_stage_ids([unnamed], jobs) == {6}
    assert measure.python_stage_ids([jvm_only], jobs) == set()


def test_layer_metrics_ignore_work_outside_the_window():
    rec = fixture("pq_index.json")
    lo, hi = rec["window"]
    m = measure.layer_metrics((hi + 1, hi + 2), rec["jobs"], rec["stages"], rec["sqls"])
    assert m["scheduler.jobs"] == 0 and m["spark.sql_executions"] == 0
    assert m["scheduler.tasks"] == 0 and m["driver.gap_ms"] == 1


def test_skipped_stages_are_not_counted():
    jobs = [{"jobId": 0, "submissionTime": "1970-01-01T00:00:01.000GMT",
             "completionTime": "1970-01-01T00:00:02.000GMT", "stageIds": [0, 1]}]
    stages = [
        {"stageId": 0, "status": "SKIPPED", "numTasks": 8},
        {"stageId": 1, "status": "COMPLETE", "numTasks": 2, "executorRunTime": 5},
    ]
    m = measure.layer_metrics((0.0, 5000.0), jobs, stages, [])
    assert m["scheduler.stages"] == 1 and m["scheduler.tasks"] == 2
    assert m["executor.run_ms"] == 5


# -- output checks -------------------------------------------------------------


def _write(path: str, rows: list[tuple[int, str, float]]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "id": [r[0] for r in rows], "name": [r[1] for r in rows], "x": [r[2] for r in rows],
    }), path)


def test_sink_digest_ignores_row_order_file_split_and_metadata(tmp_path):
    rows = [(1, "a", 0.5), (2, "b", 1.25), (3, "c", -2.0)]
    _write(str(tmp_path / "one" / "part-0.parquet"), rows)
    _write(str(tmp_path / "two" / "part-0.parquet"), rows[2:])
    _write(str(tmp_path / "two" / "part-1.parquet"), rows[1::-1])
    (tmp_path / "two" / "_SUCCESS").write_text("")
    a = checks.sink_digest(str(tmp_path / "one"))
    assert a == checks.sink_digest(str(tmp_path / "two"))
    assert a.startswith("3:")
    _write(str(tmp_path / "three" / "part-0.parquet"), [(1, "a", 0.5), (2, "b", 1.25), (3, "c", -2.5)])
    assert checks.sink_digest(str(tmp_path / "three")) != a


def test_planted_wrong_digest_fails_the_check(tmp_path):
    _write(str(tmp_path / "out" / "part-0.parquet"), [(1, "a", 0.5)])
    got = {"out": checks.sink_digest(str(tmp_path / "out"))}
    good = checks.DigestBook({"p/out": got["out"]}, "pinned")
    assert good.check("p", got) and not good.mismatches
    planted = checks.DigestBook({"p/out": "1:0000000000000000"}, "pinned")
    assert not planted.check("p", got)
    assert planted.mismatches == [f"p/out: got {got['out']}, want 1:0000000000000000"]
    # a sink with no pinned digest is a failure too, not a pass
    assert not checks.DigestBook({}, "pinned").check("p", got)


def test_first_run_mode_pins_the_first_digest():
    book = checks.DigestBook(None, "first-run")
    assert book.check("p", {"out": "1:aa"})
    assert book.check("p", {"out": "1:aa"})
    assert not book.check("p", {"out": "1:bb"})


def test_canonical_values_match_across_engines():
    from decimal import Decimal

    assert checks.canonical(Decimal("12.3400")) == checks.canonical(Decimal("12.34"))
    assert checks.canonical(Decimal("0.0000")) == "0"
    assert checks.canonical(-0.0) == checks.canonical(0.0)
    assert checks.canonical(0.1 + 0.2) == checks.canonical(0.3)
    assert checks.canonical(None) == "NULL"


# -- the whole benchmark ----------------------------------------------------------


def test_benchmark_fails_and_exits_nonzero_on_a_planted_wrong_digest(monkeypatch, capsys):
    """End to end (about a minute): etl-star with one oracle digest
    replaced by a wrong one must report every run failed and exit 1."""
    import run

    for key in ("TMPDIR", "PYTHONPATH", "SPARK_GRAFT_CPUS", "SPARK_MASTER"):
        monkeypatch.setenv(key, os.environ.get(key, ""))  # restored after the test
        if not os.environ[key]:
            monkeypatch.delenv(key)
    monkeypatch.chdir(os.path.dirname(os.path.dirname(HERE)))
    real = checks.etl_oracle

    def planted(data_dir):
        return {**real(data_dir), "etl-star/revenue": "1:0000000000000000"}

    monkeypatch.setattr(checks, "etl_oracle", planted)
    code = run.main(["--workload", "etl-star", "--seed", "3", "--seconds", "1"])
    lines = capsys.readouterr().out.strip().splitlines()
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert code == 1
    assert result["correct"] is False
    assert result["failed"] == result["attempted"] >= 3
    assert report["failed_frac"]["value"] == 1.0
    assert any(m.startswith("etl-star/revenue: got ") for m in report["check"]["mismatches"])
