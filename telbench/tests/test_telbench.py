"""Self-tests of the benchmark. From the root of a checkout:

    python3 -m pytest telbench/tests -q -p no:cacheprovider

The workload tests run a tiny pass of each workload at sf 0.001, traced and
untraced (about five minutes on 4 cores); the others take seconds.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from telbench import eventlog, oracle  # noqa: E402
from telbench.run import (  # noqa: E402
    END_TO_END, SETUP_LAYERS, WORKLOAD_LAYERS, WORKLOADS, Run, _per_layer,
)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _bench(workload: str, trace: int, cwd: str = ROOT, **popen) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "telbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, **popen,
    )


def _leftovers() -> set[str]:
    """Run directories and fixture entries that a finished run must not
    leave behind."""
    out = set()
    bench = os.path.join(ROOT, ".telbench")
    if os.path.isdir(bench):
        out |= {f".telbench/{n}" for n in os.listdir(bench) if n.startswith("run-")}
    fixtures = os.path.join(ROOT, "spark-warehouse")
    if os.path.isdir(fixtures):
        out |= {f"spark-warehouse/{n}" for n in os.listdir(fixtures)}
    return out


_RESULTS: dict[tuple[str, int], tuple[dict, dict]] = {}


def _result(workload: str, trace: int) -> tuple[dict, dict]:
    """(result line, detail line) of one tiny run, run once per session."""
    key = (workload, trace)
    if key not in _RESULTS:
        before = _leftovers()
        p = _bench(workload, trace)
        out, err = p.communicate(timeout=900)
        assert p.returncode == 0, err[-3000:]
        lines = out.strip().splitlines()
        assert lines[-2].startswith("detail: ")
        assert _leftovers() <= before, "the run left files behind"
        _RESULTS[key] = json.loads(lines[-1]), json.loads(lines[-2][len("detail: "):])
    return _RESULTS[key]


def test_benchmark_json_names_what_the_runs_emit():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == _per_layer()
    assert set(WORKLOAD_LAYERS) == set(SETUP_LAYERS) == set(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_emits_every_end_to_end_metric(workload):
    res, detail = _result(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0, detail["failures"]
    assert res["attempted"] >= 1
    for m in BENCH["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0, m["name"]
    assert set(res["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    assert detail["calibration"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reaches_every_layer_of_its_workload(workload):
    res, detail = _result(workload, 1)
    assert res["correct"] is True and res["failed"] == 0, detail["failures"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in BENCH["per_layer"]
    }
    calls = detail["layer_calls"]
    missing = [layer for layer in WORKLOAD_LAYERS[workload] if calls.get(layer, 0) <= 0]
    assert not missing, calls
    setup = detail["setup_layer_calls"]
    missing = [layer for layer in SETUP_LAYERS[workload] if setup.get(layer, 0) <= 0]
    assert not missing, setup
    assert "trace.overhead_frac" in res["metrics"]


def test_schedule_and_summaries():
    run = Run(ROOT, "registry_queries", 1, 12, trace=False)
    assert run.schedule(2) == [False, False]
    run.tracer = object()
    assert run.schedule(1) == [None, False, True, True, False]
    assert run.schedule(3) == [None, False, True, True, False, False, True]
    assert Run.overhead_frac([1.1, 1.1], [1.0, 1.0]) == pytest.approx(0.1)
    assert Run.overhead_frac([], [1.0]) == 0.0
    # a run in which every operation failed still reports its figures
    assert Run.gmean([]) == 0.0 and Run.median([]) == 0.0
    assert Run.gmean([1.0, 4.0]) == pytest.approx(2.0)


def test_plans_are_identical_with_tracing_on_and_off():
    _, plain = _result("registry_queries", 0)
    _, traced = _result("registry_queries", 1)
    assert plain["plan_digest"] == traced["plan_digest"]


def _frame() -> pd.DataFrame:
    return pd.DataFrame({
        "meter_id": ["m1", "m1", "m2"],
        "n": pd.array([3, 4, 5], dtype="int64"),
        "avg_value": [56.400937, 12.5, 0.25],
    })


def test_correctness_gate_fails_on_one_row_and_on_one_quantum():
    ok = _frame()
    assert oracle.matches("q", ok, ok.copy())
    assert not oracle.matches("q", ok.iloc[:-1], ok)
    quantum = ok.copy()
    quantum.loc[0, "avg_value"] = 56.400938  # one 1e-6 quantize step
    assert not oracle.matches("q", quantum, ok)


def test_event_log_parser_on_a_tiny_log(tmp_path):
    def task(stage, run_ms, cpu_ns, failed=False, python=0):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
            "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + run_ms + 5,
                          "Failed": failed, "Getting Result Time": 0,
                          "Accumulables": [{"Name": "data sent to Python workers",
                                            "Update": python}]},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                             "JVM GC Time": 1, "Executor Deserialize Time": 2,
                             "Result Serialization Time": 0,
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                      "Local Bytes Read": 2**20},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20},
                             "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0},
        }

    events = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 5000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "q:execute"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 9000,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "q:build"}},
        task(0, 100, 50_000_000, python=2**20),
        task(1, 300, 150_000_000, failed=True),
        task(2, 10, 1_000_000),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    ]
    part = tmp_path / "eventlog_v2_local-1" / "events_1_local-1"
    part.parent.mkdir()
    part.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (part.parent / "appstatus_local-1").write_text("")
    jobs = eventlog.parse(str(tmp_path))
    assert [(j.group, j.submit_s) for j in jobs] == [("q:execute", 5.0), ("q:build", 9.0)]
    ex = eventlog.total(jobs, lambda j: j.group.endswith(":execute"))
    assert ex["jobs"] == 1 and ex["stages"] == 2 and ex["tasks"] == 2
    assert ex["failed_tasks"] == 1
    assert ex["executor_run_s"] == pytest.approx(0.4)
    assert ex["executor_cpu_s"] == pytest.approx(0.2)
    assert ex["scheduler_delay_s"] == pytest.approx(0.006)  # 5 ms - 2 ms deserialize, twice
    assert ex["shuffle_read_mb"] == pytest.approx(2.0)
    assert ex["python_mb"] == pytest.approx(1.0)


def test_exits_without_a_result_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "telbench"), tmp_path / "telbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench("registry_queries", 0, cwd=str(tmp_path))
    out, err = p.communicate(timeout=180)
    assert p.returncode != 0
    assert out == ""


def test_sigterm_stops_the_run_and_removes_its_files():
    before = _leftovers()
    p = _bench("ingest_stream", 0)
    run_dir = os.path.join(ROOT, ".telbench", f"run-{p.pid}")
    deadline = time.monotonic() + 120
    # wait until the run has started its session and stream
    while time.monotonic() < deadline and not os.path.isdir(
        os.path.join(run_dir, "stream", "checkpoint")
    ):
        time.sleep(0.5)
    p.send_signal(signal.SIGTERM)
    out, _ = p.communicate(timeout=120)
    assert p.returncode != 0
    assert not out.strip().splitlines() or not out.strip().splitlines()[-1].startswith("{")
    assert _leftovers() <= before
