"""Smoke test of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q

Parses a recorded event-log fragment, checks that a checkout without
the package fails fast, and runs both workloads at tiny sizes (about
two minutes: each run starts its own Spark JVM).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import eventlog, run, workloads  # noqa: E402

FRAGMENT = os.path.join(HERE, "fixtures", "eventlog_fragment.jsonl")


def test_eventlog_fragment_attribution():
    # Recorded from Spark 4.1 on local[2]: job 0 is a two-stage global
    # aggregate, job 1 a two-stage group-by, job 2 a one-stage count.
    with open(FRAGMENT, encoding="utf-8") as fh:
        log = eventlog.parse_lines(fh)
    assert sorted(log.jobs) == [0, 1, 2]
    assert [len(log.jobs[j].stage_ids) for j in (0, 1, 2)] == [2, 2, 1]
    j0, j1, j2 = (log.jobs[j] for j in (0, 1, 2))
    windows = [
        ("a", j0.start_ms - 5, j0.end_ms + 1),
        ("b", j0.end_ms + 1, j2.end_ms + 10),
        ("idle", j2.end_ms + 10, j2.end_ms + 510),
    ]
    per = eventlog.attribute(log, windows)
    assert (per["a"]["jobs"], per["b"]["jobs"], per["idle"]["jobs"]) == (1, 2, 0)
    assert (per["a"]["stages"], per["b"]["stages"]) == (2, 3)
    assert (per["a"]["tasks"], per["b"]["tasks"]) == (3, 5)
    assert per["a"]["shuffle_mb"] > 0 and per["b"]["shuffle_mb"] > 0
    assert per["a"]["task_s"] == pytest.approx(
        sum(log.stages[s].task_ms for s in j0.stage_ids) / 1000
    )
    # driver-only time: the window minus the time a job was running
    assert per["idle"]["driver_only_s"] == pytest.approx(0.5)
    gaps = (j1.start_ms - j0.end_ms - 1) + (j2.start_ms - j1.end_ms) + 10
    assert per["b"]["driver_only_s"] == pytest.approx(gaps / 1000)


def test_checkout_without_package_fails_fast(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "key_queries",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_benchmark_json_lists_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == {"hourly_dag", "key_queries"}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()


def _tiny_run(capsys, workload: str, trace: int) -> dict:
    assert run.main(["--workload", workload, "--seed", "5", "--seconds", "0",
                     "--trace", str(trace)]) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_tiny_workloads(capsys, monkeypatch):
    monkeypatch.setattr(workloads.KeyQueries, "SCALE", 0.1)
    monkeypatch.setattr(workloads.HourlyDag, "EVENTS_PER_HOUR", 60)
    monkeypatch.setattr(workloads.HourlyDag, "REDELIVERED", 6)
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)

    out = _tiny_run(capsys, "key_queries", 1)
    assert out["correct"] and out["failed"] == 0
    assert set(out["metrics"]) == set(run.per_layer_units())
    assert out["metrics"]["spark.jobs"]["value"] > 0

    out = _tiny_run(capsys, "hourly_dag", 0)
    assert out["correct"] and out["failed"] == 0
    assert set(out["metrics"]) == set(run.E2E_UNITS)
    assert all(m["value"] > 0 for m in out["metrics"].values())
