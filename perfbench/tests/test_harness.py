"""The benchmark harness's own logic: event-log parsing, span
attribution, span self time and the metric-name rule. No Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

from tracing import (  # noqa: E402
    SPARK_METRICS,
    Span,
    Tracer,
    check_metric_names,
    mean_spark_metrics,
    parse_event_log,
    self_times,
    spark_metrics,
)


def _job(job_id, submit_ms, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Submission Time": submit_ms, "Stage IDs": stages}


def _task(stage, run_ms=100, cpu_ns=50_000_000, gc_ms=5, failed=False,
          remote=0, local=0, written=0, spill=0, heap=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
        "Task Info": {"Failed": failed},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": remote, "Local Bytes Read": local},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
        "Task Executor Metrics": {"JVMHeapMemory": heap},
    }


def _log(events):
    return parse_event_log(json.dumps(e) + "\n" for e in events)


def test_parse_event_log_reads_jobs_and_task_metrics():
    log = _log([
        {"Event": "SparkListenerApplicationStart"},
        _job(0, 1_000, [0, 1]),
        _task(0, remote=10, local=5),
        _task(1, written=7, spill=3, failed=True),
    ])
    assert log.jobs == {0: (1_000, [0, 1])}
    assert [t.stage for t in log.tasks] == [0, 1]
    assert log.tasks[0].shuffle_read == 15 and not log.tasks[0].failed
    assert log.tasks[1].shuffle_write == 7 and log.tasks[1].spill == 3
    assert log.tasks[1].failed


def test_parse_event_log_tolerates_blank_lines_and_missing_metrics():
    log = parse_event_log(["\n", json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": 2,
        "Task End Reason": {"Reason": "Success"}, "Task Info": {}}) + "\n"])
    assert log.tasks[0].run_ms == 0 and not log.tasks[0].failed
    assert log.tasks[0].heap_peak == 0


def test_spark_metrics_attributes_jobs_by_submission_time():
    # job 1 is submitted inside the span from another thread, with no
    # job group: time alone attributes it; job 2 falls after the span
    log = _log([
        _job(0, 10_000, [0]), _task(0), _task(0),
        _job(1, 10_500, [1, 2]), _task(1, written=100), _task(2, remote=100, heap=3 << 20),
        _job(2, 12_500, [3]), _task(3, heap=9 << 20),
    ])
    m = spark_metrics(log, 10.0, 11.0, cores=4)
    assert m["jobs"] == 2
    assert m["stages"] == 3
    assert m["tasks"] == 4
    assert m["shuffle_write_bytes"] == 100 and m["shuffle_read_bytes"] == 100
    assert m["executor_run_s"] == pytest.approx(0.4)
    assert m["executor_cpu_s"] == pytest.approx(0.2)
    assert m["jvm_gc_s"] == pytest.approx(0.02)
    # 4 cores over 1 s, of which 0.4 core-seconds ran tasks
    assert m["idle_core_s"] == pytest.approx(3.6)
    # the largest per-task heap peak inside the span, not job 2's
    assert m["peak_jvm_heap_mb"] == pytest.approx(3.0)
    assert set(m) == set(SPARK_METRICS)


def test_spark_metrics_skipped_stages_count_no_stage():
    # job 1 lists stage 0 again but reuses its shuffle output: no tasks
    log = _log([_job(0, 1_000, [0]), _task(0), _job(1, 1_100, [0, 1]), _task(1)])
    m = spark_metrics(log, 1.05, 1.2, cores=1)
    assert (m["jobs"], m["stages"], m["tasks"]) == (1, 1, 1)


def test_spark_metrics_counts_failed_tasks():
    log = _log([_job(0, 1_000, [0]), _task(0), _task(0, failed=True)])
    assert spark_metrics(log, 0.0, 2.0, cores=2)["failed_tasks"] == 1


def test_mean_spark_metrics_averages_spans_and_handles_none():
    log = _log([_job(0, 1_000, [0]), _task(0), _job(1, 3_000, [1]), _task(1), _task(1)])
    spans = [Span(0, "r", 0.5, 1.5, None), Span(1, "r", 2.5, 3.5, None)]
    m = mean_spark_metrics(log, spans, cores=1)
    assert m["jobs"] == 1 and m["tasks"] == 1.5
    assert mean_spark_metrics(log, [], cores=1) == {k: 0 for k in SPARK_METRICS}


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "root", 0.0, 10.0, None),
        Span(1, "a", 1.0, 4.0, 0),
        Span(2, "b", 3.0, 6.0, 0),     # overlaps a: 1..6 covered once
        Span(3, "leaf", 1.5, 2.0, 1),  # grandchild: not subtracted from root
        Span(4, "late", 9.0, 12.0, 0),  # clipped to the parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)


def test_tracer_records_parents_and_dumps(tmp_path):
    tr = Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    with tr.span("second"):
        pass
    assert [(s.name, s.parent) for s in tr.spans] == [
        ("outer", None), ("inner", 0), ("second", None)]
    assert all(s.end >= s.start for s in tr.spans)
    assert tr.named("inner") == [tr.spans[1]]
    path = tmp_path / "t.json"
    tr.dump(str(path), {"workload": "x"})
    doc = json.loads(path.read_text())
    assert doc["workload"] == "x" and len(doc["spans"]) == 3
    assert all("self_s" in s for s in doc["spans"])


@pytest.mark.parametrize("name", ["setup_s", "spark.round.jobs",
                                  "plans.scheduler.seen_chain_files.r2", "a-b_c.9"])
def test_metric_name_rule_accepts(name):
    assert check_metric_names([name]) == []


@pytest.mark.parametrize("name", ["", "docs/s", "a b", "x:y", "é"])
def test_metric_name_rule_rejects(name):
    assert check_metric_names([name]) == [name]


def test_benchmark_json_names_follow_the_rule():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for kind in ("end_to_end", "per_layer") for m in spec[kind]]
    names += [w["name"] for w in spec["workloads"]]
    assert check_metric_names(names) == []
    assert len(names) == len(set(names))
    assert "setup_s" in {m["name"] for m in spec["end_to_end"]}
