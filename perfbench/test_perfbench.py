"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import csv
import filecmp
import json
import os
import time

import pytest

import gen
import metrics
from spans import (
    NAME_RE,
    Span,
    SparkCounters,
    Tracer,
    percentile_rank,
    python_stage_ids,
    quantile,
    self_times,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    base = tmp_path_factory.mktemp("gen")
    out = {}
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        out[name] = str(base / name)
        gen.generate(out[name], seed)
    return out


def _files(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def test_same_seed_gives_identical_inputs(inputs):
    files = _files(inputs["a"])
    assert files == _files(inputs["b"])
    _, mismatch, errors = filecmp.cmpfiles(inputs["a"], inputs["b"], files, shallow=False)
    assert not mismatch and not errors


def test_new_seed_gives_different_drops(inputs):
    for drop in json.load(open(os.path.join(inputs["a"], "manifest.json")))["drops"]:
        assert not filecmp.cmp(os.path.join(inputs["a"], drop["file"]),
                               os.path.join(inputs["c"], drop["file"]), shallow=False)


def test_drops_carry_every_row_kind(inputs):
    manifest = json.load(open(os.path.join(inputs["a"], "manifest.json")))
    later = manifest["drops"][1:]
    assert all(d["resubmitted"] > 0 and d["negative"] > 0 for d in later)
    with open(os.path.join(inputs["a"], later[0]["file"]), newline="") as f:
        rows = list(csv.reader(f))
    products = [r[2] for r in rows[1:-1]]
    assert any(gen.UNMAPPED[0] in p for p in products)
    assert any(gen.UNKNOWN_FLAVOUR[0] in p for p in products)
    assert any(p.endswith(",") for p in products)  # an empty trailing token
    assert rows[-1][0] == "" and rows[-1][3]  # the totals footer


def test_percentile_rule():
    # the highest percentile with at least ten samples above it
    assert percentile_rank(100) == 90
    assert percentile_rank(200) == 95
    assert percentile_rank(40) == 75
    assert percentile_rank(19) is None  # p47 would be below the median
    samples = [float(i) for i in range(1, 101)]
    assert quantile(samples, 90) == 90.0
    assert sum(v > quantile(samples, 90) for v in samples) == 10


def _span(sid, start, end, parent=None):
    s = Span(sid, f"s{sid}", start, parent, "r")
    s.end = end
    return s


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps span 1 by 1 s
        _span(3, 8.0, 12.0, parent=0),  # runs past its parent's end
        _span(4, 1.5, 2.0, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


_SUMMARY = "total (min, med, max (stageId: taskId))\n{} s (0.2 s, 1.7 s, 1.8 s (stage {}.0: task 3))"


def _python_node(value: str) -> dict:
    return {"nodeName": "MapInPandas", "metrics": [
        {"name": "time to run Python workers", "value": value},
        {"name": "number of output rows", "value": "10"}]}


def _wall(ts: float) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(ts)) + f".{int(ts % 1 * 1000):03d}GMT"


def test_python_stages_come_from_python_operators_only():
    t = 1_700_000_000.0
    stages = {s: {"numCompleteTasks": n, "submissionTime": _wall(t + 1)}
              for s, n in ((4, 4), (6, 1), (7, 1), (8, 4), (9, 1))}
    jobs = {0: {"stageIds": [6, 8]}, 1: {"stageIds": [7]}, 2: {"stageIds": [9]}}
    execs = [
        {"submissionTime": _wall(t), "successJobIds": [],
         "nodes": [_python_node(_SUMMARY.format(3.8, 4)),
                   {"nodeName": "ArrowFileScan", "metrics": [
                       {"name": "scan time", "value": _SUMMARY.format(1.0, 8)}]}]},
        # one Python task: the execution's single-task stage (6, not 8)
        {"submissionTime": _wall(t), "successJobIds": [0], "nodes": [_python_node("1.7 s")]},
        # reads a persisted result back: the cached Python node is
        # listed again but ran no task, so stage 7 did not run Python
        {"submissionTime": _wall(t), "successJobIds": [1],
         "nodes": [{"nodeName": "InMemoryTableScan", "metrics": []}, _python_node("0 ms")]},
        # stage 9 was submitted before this execution began: reused
        {"submissionTime": _wall(t + 2), "successJobIds": [2], "nodes": [_python_node("2 s")]},
    ]
    assert python_stage_ids(execs, jobs, stages) == {4, 6}


def test_python_stage_time_is_a_share_of_executor_time():
    tracer = Tracer(enabled=True)
    with tracer.span("op.pass") as op:
        time.sleep(0.01)
    t = tracer.wall((op.start + op.end) / 2)
    stage = {"submissionTime": _wall(t), "numCompleteTasks": 4, "shuffleWriteBytes": 0,
             "memoryBytesSpilled": 0, "diskBytesSpilled": 0, "attemptId": 0}
    counters = SparkCounters()
    counters.ingest(
        jobs=[{"jobId": 0, "submissionTime": _wall(t), "completionTime": _wall(t),
               "stageIds": [4]},
              # reads the persisted result back; lists stage 4 as skipped
              {"jobId": 1, "submissionTime": _wall(t), "completionTime": _wall(t),
               "stageIds": [4, 5]}],
        stages=[dict(stage, stageId=4, executorRunTime=4000),
                dict(stage, stageId=5, executorRunTime=1000)],
        executions=[{"submissionTime": _wall(t), "successJobIds": [0],
                     "nodes": [_python_node(_SUMMARY.format(3.8, 4))]},
                    {"submissionTime": _wall(t), "successJobIds": [1],
                     "nodes": [_python_node("0 ms")]}])
    counters.attribute(tracer)
    assert op.attrs["jobs"] == 2
    assert op.attrs["executor_run_s"] == pytest.approx(5.0)
    assert op.attrs["python_stages"] == 1
    assert op.attrs["python_stage_run_s"] == pytest.approx(4.0)
    assert op.attrs["python_stage_run_s"] <= op.attrs["executor_run_s"]


def test_metric_names_are_valid():
    for name in [*metrics.END_TO_END, *metrics.LAYER_MAP]:
        assert NAME_RE.fullmatch(name) and len(name) <= 64, name


def test_benchmark_json_matches_the_definitions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert set(e2e) == set(metrics.END_TO_END)
    for name, (unit, better, bound, _) in metrics.END_TO_END.items():
        assert (e2e[name]["unit"], e2e[name]["better"], e2e[name]["bound"]) == (
            unit, better, bound)
    layer = {m["name"]: m for m in bench["per_layer"]}
    assert {k: v["unit"] for k, v in layer.items()} == metrics.PER_LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} == {"pos_daily_etl", "corpus_curation"}


def test_oracle_check_flags_a_read_that_differs(tmp_path):
    import duckdb
    from pyspark.sql import Row

    from workloads import REGISTERED_KPIS, Run, kpi_oracle_check

    duckdb.sql(f"COPY (SELECT 1 AS k, 2.5 AS v) TO '{tmp_path / 't.parquet'}' (FORMAT parquet)")

    class Registry:
        ORACLES = {name: "SELECT k, v FROM t" for name in REGISTERED_KPIS}

    good = [Row(v=2.5, k=1)]
    reads = {name: [good, good] for name in REGISTERED_KPIS}
    run = Run()
    kpi_oracle_check(run, Registry, str(tmp_path), reads)
    assert [ok for _, ok in run.checks] == [True] * len(REGISTERED_KPIS)

    reads[REGISTERED_KPIS[0]] = [good, [Row(v=2.6, k=1)]]  # a later read differs
    del reads[REGISTERED_KPIS[1]]  # never read
    run = Run()
    kpi_oracle_check(run, Registry, str(tmp_path), reads)
    assert [ok for _, ok in run.checks] == [False, False] + [True] * (len(REGISTERED_KPIS) - 2)
