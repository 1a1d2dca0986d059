"""Tests of the benchmark itself: the event-log parser and the arithmetic
on fixed inputs, the generated lake, BENCHMARK.json against the harness,
and one smoke run end to end.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import lake  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _job(job_id, stages, group, execution=None):
    props = {"spark.jobGroup.id": group}
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": props}


def _task(stage, launch, finish, *, failed=False, shuffle_w=0, shuffle_r=0,
          spill=0, read=0, written=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Failed": failed, "Killed": False},
        "Task Metrics": {
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": shuffle_r},
            "Input Metrics": {"Bytes Read": read},
            "Output Metrics": {"Bytes Written": written},
        },
    }


EVENT_LOG = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    _job(0, [0, 1], "ingest/a03/build/0", execution=7),
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 7,
     "sparkPlanInfo": {"nodeName": "Execute", "metrics": [
         {"name": "number of written files", "accumulatorId": 75,
          "metricType": "sum"},
         {"name": "written output", "accumulatorId": 76, "metricType": "size"}],
         "children": []}},
    _task(0, 1000, 1010, read=500, shuffle_w=64),
    _task(0, 1000, 1040, read=700, shuffle_w=36),
    _task(1, 1050, 1060, shuffle_r=100, written=2048),
    _task(1, 1050, 1055, failed=True),
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
     "executionId": 7, "accumUpdates": [[75, 3], [76, 2048]]},
    # a stream's micro-batch: its job group is the stream's run id
    _job(1, [2], "run-1", execution=8),
    _task(2, 2000, 2004, spill=10),
    # a stage listed by two jobs belongs to the first
    _job(2, [1, 3], "ingest/a03/execute/0"),
    _task(3, 3000, 3001),
]


def test_parse_event_log_counts_per_group():
    lines = [json.dumps(e) for e in EVENT_LOG] + [""]
    groups = tracing.parse_event_log(lines)
    b = groups["ingest/a03/build/0"]
    assert (b.input_bytes, b.shuffle_write_bytes, b.shuffle_read_bytes) == (1200, 100, 100)
    assert (b.output_bytes, b.written_files, b.failed_tasks) == (2048, 3, 1)
    assert dict(b.task_ms_by_stage) == {0: [10.0, 40.0], 1: [10.0]}
    assert groups["run-1"].spill_bytes == 10
    assert dict(groups["ingest/a03/execute/0"].task_ms_by_stage) == {3: [1.0]}


def test_task_skew_is_worst_stage_max_over_median():
    assert stats.task_skew({0: [10.0, 40.0], 1: [10.0]}) == pytest.approx(40 / 25)
    assert stats.task_skew({0: [5.0, 5.0, 20.0]}) == 4.0
    assert stats.task_skew({1: [10.0], 2: [0.0, 0.0]}) == 1.0


def test_median_tail_transfer_shares():
    samples = [0.5, 0.1, 0.4, 0.2, 0.3]
    assert stats.median(samples) == 0.3
    assert stats.tail(samples, beyond=2) == (0.3, 60.0)
    fourteen = [float(i) for i in range(14, 0, -1)]
    # two ingest passes: ten samples beyond the tail out of fourteen
    value, pct = stats.tail(fourteen)
    assert value == 4.0 and pct == pytest.approx(100 * 4 / 14)
    with pytest.raises(ValueError):
        stats.tail(fourteen[:10])
    assert stats.transfer(0.75, 0.25) == 0.5
    assert stats.transfer(0.2, 0.25) == pytest.approx(-0.05)
    assert stats.shares(1.0, 2.0, 1.0, 4.0) == {
        "build": 0.25, "execute": 0.5, "transfer": 0.25}
    with pytest.raises(ValueError):
        stats.median([])


def test_cpu_seconds_counts_the_process_tree():
    import run
    # a child that spins in a grandchild: both sit under the given pid
    spin = "import time; t = time.process_time() + 1.0\nwhile time.process_time() < t: pass"
    code = ("import subprocess, sys, time; "
            f"subprocess.run([sys.executable, '-c', {spin!r}]); time.sleep(30)")
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        before = run.cpu_seconds(child.pid)
        deadline = time.monotonic() + 20
        while run.cpu_seconds(child.pid) - before < 0.5 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert run.cpu_seconds(child.pid) - before >= 0.5
    finally:
        child.kill()
        child.wait()


def test_cpu_seconds_leaves_out_jit_compiler_threads():
    import run
    # a thread named as HotSpot names its C2 compiler threads spins for 1 s
    code = (
        "import ctypes, threading, time\n"
        "def spin():\n"
        "    ctypes.CDLL(None).prctl(15, b'C2 CompilerThread0', 0, 0, 0)\n"
        "    t = time.thread_time() + 1.0\n"
        "    while time.thread_time() < t: pass\n"
        "th = threading.Thread(target=spin); th.start(); th.join(); time.sleep(30)\n")
    child = subprocess.Popen([sys.executable, "-c", code])
    tick = os.sysconf("SC_CLK_TCK")
    try:
        deadline = time.monotonic() + 20
        while run.jit_ticks(child.pid) < 0.9 * tick and time.monotonic() < deadline:
            time.sleep(0.05)
        assert run.jit_ticks(child.pid) >= 0.9 * tick
        own = os.times()
        assert run.cpu_seconds(child.pid) - own.user - own.system < 0.5
    finally:
        child.kill()
        child.wait()


def test_lake_is_deterministic_in_the_seed():
    a, b = lake.make_tables(0.001, 5), lake.make_tables(0.001, 5)
    c = lake.make_tables(0.001, 6)
    assert all(a[t].equals(b[t]) for t in lake.TABLES)
    assert not a["lineitem"].equals(c["lineitem"])
    counts = lake.row_counts(0.001)
    assert {t: a[t].num_rows for t in lake.TABLES} == counts
    docs = a["documents"].to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_benchmark_json_matches_the_harness():
    import run
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        w.name: w.why for w in WORKLOADS.values()}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    units = run.per_layer_units()
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == units


def _run(args, cwd):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def test_without_the_engine_it_fails_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(["--workload", "ingest", "--seed", "1", "--seconds", "1",
                "--trace", "0"], tmp_path)
    assert out.returncode != 0
    assert out.stdout == ""


def test_smoke_traced_run_reports_every_layer_metric():
    import run
    out = _run(["--workload", "ingest", "--seed", "3", "--seconds", "1",
                "--trace", "1", "--smoke"], ROOT)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    units = run.per_layer_units()
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["write.files"] > 0 and m["write.output_bytes"] > 0
    assert m["streaming.batches"] >= 1 and m["transfer.rows"] > 0
    assert m["build.share"] > m["transfer.share"]
