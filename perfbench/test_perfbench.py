"""Tests of the benchmark itself: the trace arithmetic on a tiny fixture,
and clean exit (no surviving process, no run directory) on SIGTERM, on
an injected op failure and in a directory without the engine.

    python -m pytest perfbench/test_perfbench.py -q -m "slow or not slow"
"""

import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procfs  # noqa: E402
import tracing  # noqa: E402

RUN = [sys.executable, os.path.join(HERE, "run.py")]


def _events(path, events):
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def _task(stage, cpu_ns, run_ms, shuffle_w=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor CPU Time": cpu_ns, "Executor Run Time": run_ms, "JVM GC Time": 1,
        "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 10},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w}}}


def test_self_time_and_driver_gap(tmp_path):
    # op 0 runs 100.0-110.0 with jobs 100.0-103.0, 102.0-104.0 (tagged)
    # and 106.0-107.0 (untagged, from a helper thread): 5 s of job time,
    # 5 s of driver gap.  Op 1 (110-112) has one job of 1.5 s.
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    _events(d / "events_1_local-1", [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 100_000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g0"}},
        _task(0, 2_000_000_000, 2500, shuffle_w=64),
        _task(1, 500_000_000, 600),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 103_000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 102_000,
         "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "g0"}},
        _task(2, 1_000_000_000, 1000),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 104_000},
    ])
    _events(d / "events_2_local-1", [
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 106_000,
         "Stage IDs": [3], "Properties": {}},
        _task(3, 0, 100),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 107_000},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 110_250,
         "Stage IDs": [4], "Properties": {"spark.jobGroup.id": "g1"}},
        _task(4, 0, 100),
        _task(4, 0, 100),
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 111_750},
    ])
    (d / "appstatus_local-1").write_text("")
    log = tracing.parse_event_log(str(tmp_path))
    ops = [{"group": "g0", "start": 100.0, "end": 110.0},
           {"group": "g1", "start": 110.0, "end": 112.0}]
    recs = tracing.attribute_jobs(log, ops)
    assert [r["jobs"] for r in recs] == [3, 1]
    # stage 1 is shared by jobs 0 and 1 but ran once
    assert [r["stages"] for r in recs] == [4, 1]
    assert [r["tasks"] for r in recs] == [4, 2]
    assert recs[0]["driver_gap_s"] == pytest.approx(5.0)
    assert recs[1]["driver_gap_s"] == pytest.approx(0.5)
    assert recs[0]["executor_cpu_s"] == pytest.approx(3.5)
    assert recs[0]["executor_run_s"] == pytest.approx(4.2)
    assert recs[0]["shuffle_write_bytes"] == 64
    assert recs[0]["shuffle_read_bytes"] == 40

    # spans: q (0-10) > op.a (1-4) > op.b (2-3); q > op.c (5-6); a
    # span on another thread (parent None) is its own root
    spans = [
        (2, 1, "operators.b.f", 2.0, 3.0),
        (1, 0, "operators.a.f", 1.0, 4.0),
        (3, 0, "operators.a.g", 5.0, 6.0),
        (0, None, "queries.q", 0.0, 10.0),
        (4, None, "operators.a.f", 3.0, 7.0),
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(6.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(1.0)
    assert st[4] == pytest.approx(4.0)
    # outermost: module a's spans not nested in another module-a span
    assert tracing.outermost_total(spans, lambda n: n.startswith("operators.a.")) == pytest.approx(8.0)
    assert tracing.interval_union([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)


def _leftovers(pid):
    runs = os.path.join(ROOT, ".perfbench_runs")
    return [d for d in (os.listdir(runs) if os.path.isdir(runs) else []) if f"-{pid}-" in d]


@pytest.mark.slow
def test_sigterm_mid_op_leaves_nothing():
    p = subprocess.Popen(RUN + ["--workload", "curation_heavy", "--seed", "1", "--seconds", "1"],
                         stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    seen: set = set()
    deadline = time.time() + 120
    jvm_since = None
    while time.time() < deadline and p.poll() is None:
        tree = procfs.tree(p.pid)
        seen.update(tree)
        if jvm_since is None and any(procfs.kind(x) == "jvm" for x in tree):
            jvm_since = time.time()
        if jvm_since is not None and time.time() - jvm_since > 20:
            break  # session is up and ops are running
        time.sleep(0.2)
    assert jvm_since is not None, "the run never started a JVM"
    seen.update(procfs.tree(p.pid))
    p.send_signal(signal.SIGTERM)
    out, _err = p.communicate(timeout=60)
    assert p.returncode != 0
    assert '"correct"' not in out
    alive = [x for x in seen if x != p.pid and procfs.alive(x)]
    assert not alive, f"processes survived: {alive}"
    assert not _leftovers(p.pid)


@pytest.mark.slow
def test_injected_failure_is_counted():
    p = subprocess.run(RUN + ["--workload", "curation_heavy", "--seed", "2", "--seconds", "1",
                              "--fail-op", "percentiles"],
                       capture_output=True, text=True, timeout=200)
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] is False
    assert res["failed"] >= 1 and res["attempted"] >= res["failed"]


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "etl_cycle",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
    assert not (tmp_path / ".perfbench_runs").exists()
