"""Tests of the benchmark's own code.

    python3 -m pytest perfbench -q

The unit tests need no Spark. The two smoke tests run each workload end
to end, traced, at a reduced size (a 600-page crawl of 3 rounds, a
500-document index) and take about a minute each on a 4-core box.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import index_neardup, metrics, run  # noqa: E402
from perfbench.tracing import (  # noqa: E402
    Span,
    Tracer,
    parse_event_log,
    read_event_logs,
    self_time,
    union_length,
)


# -- span arithmetic ------------------------------------------------------

def test_union_length_merges_overlaps_and_clips():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10)], 2, 5) == 3.0
    assert union_length([(0, 1), (4, 6)], 2, 5) == 1.0
    assert union_length([(3, 2)]) == 0.0


def test_self_time_subtracts_covered_part_once():
    parent = Span("round", 10.0, 20.0)
    kids = [Span("job", 11.0, 14.0), Span("job", 13.0, 15.0), Span("job", 19.0, 25.0)]
    # jobs cover 11-15 and 19-20 inside the round: 5 s of 10
    assert self_time(parent, kids) == pytest.approx(5.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_tracer_disabled_records_nothing():
    tr = Tracer(False)
    out, span = tr.timed("x", lambda: 42)
    assert out == 42 and span is None and tr.spans == []
    tr = Tracer(True)
    _, span = tr.timed("c", lambda: None, "t")
    assert tr.spans == [span] and span.trace == "t" and span.dur >= 0


# -- event log ------------------------------------------------------------

def _events(group="c0.r0"):
    props = {"spark.jobGroup.id": group}
    task = {
        "Event": "SparkListenerTaskEnd", "Stage ID": 7,
        "Task End Reason": {"Reason": "Success"},
        "Task Info": {"Accumulables": [
            {"Name": "time to run Python workers", "Update": "250"},
            {"Name": "data sent to Python workers", "Update": "1000"},
            {"Name": "data returned from Python workers", "Update": "500"},
        ]},
        "Task Metrics": {
            "Executor Run Time": 400, "Executor CPU Time": 3e8, "JVM GC Time": 20,
            "Shuffle Read Metrics": {"Remote Bytes Read": 10, "Local Bytes Read": 90},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2000},
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 7,
        },
    }
    failed = dict(task, **{"Task End Reason": {"Reason": "ExceptionFailure"}})
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000,
         "Stage IDs": [7, 8], "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 7},
         "Properties": props},
        task, failed,
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 7}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3500},
        # a job outside any group is ignored
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 4000,
         "Stage IDs": [9], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 9, "Task Metrics": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 5000},
    ]


def test_parse_event_log_aggregates_by_job_group():
    groups = parse_event_log(json.dumps(e) for e in _events())
    assert list(groups) == ["c0.r0"]
    g = groups["c0.r0"]
    assert g.jobs == [(1.0, 3.5)]
    assert (g.stages, g.tasks, g.failed_tasks) == (1, 2, 1)
    assert g.run_ms == 800 and g.gc_ms == 40 and g.cpu_ns == 6e8
    assert g.shuffle_read_b == 200 and g.shuffle_write_b == 4000
    assert g.spill_b == 24
    assert g.python_ms == 500 and g.python_io_b == 3000
    totals = metrics.spark_totals([g])
    assert totals["spark.executor_run_s"] == pytest.approx(0.8)
    assert totals["spark.python_udf_s"] == pytest.approx(0.5)
    assert totals["spark.failed_tasks"] == 1


def test_read_event_logs_reads_rolling_dirs_in_order(tmp_path):
    evs = [json.dumps(e) + "\n" for e in _events("q")]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    # parts split mid-job; part 10 sorts after part 2 numerically
    (d / "events_2_local-1").write_text("".join(evs[:3]))
    (d / "events_10_local-1").write_text("".join(evs[3:]))
    (d / "appstatus_local-1").write_text("")
    (tmp_path / "local-2.inprogress").write_text("not json")
    groups = read_event_logs(str(tmp_path))
    assert groups["q"].tasks == 2 and groups["q"].jobs == [(1.0, 3.5)]


# -- metric names and BENCHMARK.json ---------------------------------------

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_metric_names_and_units_are_valid():
    names = [*metrics.END_TO_END, *metrics.PER_LAYER]
    assert len(set(names)) == len(names)
    for spec in (metrics.END_TO_END, metrics.PER_LAYER):
        for name, (unit, better) in spec.items():
            assert NAME_RE.fullmatch(name), name
            assert UNIT_RE.fullmatch(unit), unit
            assert better in ("higher", "lower")


def test_benchmark_json_matches_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    assert e2e == metrics.END_TO_END
    layers = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert layers == metrics.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_result_line_reports_every_metric():
    line = metrics.result_line(True, 3, 0, {"work_s": 2}, metrics.END_TO_END)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert set(line["metrics"]) == set(metrics.END_TO_END)
    assert line["metrics"]["work_s"] == {"value": 2.0, "unit": "s"}


# -- index oracle comparison ----------------------------------------------

def test_compare_is_order_insensitive_and_rounds_floats():
    want = {"cols": ["a", "b"], "rows": [["1", "0.500000"], ["2", "NaN"]]}
    got = pd.DataFrame({"b": [None, 0.5000001], "a": [2, 1]})
    assert index_neardup.compare(got, want) is None
    assert "rows" in index_neardup.compare(got.iloc[:1], want)
    assert "differ" in index_neardup.compare(got.assign(a=[2, 3]), want)
    assert "columns" in index_neardup.compare(got.rename(columns={"a": "c"}), want)


# -- smoke ----------------------------------------------------------------

SMOKE = """
import sys
sys.path.insert(0, {root!r})
from perfbench import crawl_deep, index_neardup, run
crawl_deep.N_PAGES, crawl_deep.N_HOSTS, crawl_deep.ROUNDS = 600, 10, 3
index_neardup.N_DOCS, index_neardup.N_EMB = 500, 200
sys.exit(run.main(["--workload", {workload!r}, "--seed", "3", "--seconds", "0", "--trace", "1"]))
"""


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke(workload):
    out = subprocess.run(
        [sys.executable, "-c", SMOKE.format(root=ROOT, workload=workload)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    m = res["metrics"]
    assert set(m) == set(metrics.PER_LAYER)
    assert m["trace.work_s"]["value"] > 0 and m["spark.executor_run_s"]["value"] > 0
    if workload == "crawl_deep":
        assert m["crawl.rounds"]["value"] == 3
        assert m["crawl.jobs_per_round"]["value"] >= 1
        assert m["urls.links"]["value"] > 0
    else:
        assert m["q.ngram_jaccard_s"]["value"] > 0
        assert m["dedup.ngram_pairs"]["value"] > 0
