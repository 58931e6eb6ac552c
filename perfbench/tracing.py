"""Layer tracing for ``--trace 1`` runs.

Two sources, both read from outside the program:

* **Spans.**  ``instrument`` wraps the public functions of the engine's
  layer modules (session, sources, operators, plans, sinks, streaming)
  with an in-memory span recorder before ``queries`` is imported; the
  benchmark adds one span per ``q_*`` call and one per action.  A span's
  *self time* is its duration minus its direct children's.
* **Spark's event log**, enabled through the run's ``SPARK_CONF_DIR``
  and written uncompressed.  ``parse_event_log`` turns it into jobs,
  stages and task metrics; ``attribute_jobs`` assigns every job to the
  timed op whose job group (or, for jobs started from helper threads
  without the group, whose wall-clock window) it belongs to.  The
  *driver gap* of an op is its wall time minus the union of its job
  intervals.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import sys
import threading
import time

PKG = "azure_databricks_sharepoint_on_premise_to_cloud_etl_spark"
LAYERS = ("session", "sources", "operators", "plans", "sinks", "streaming")
OPERATOR_MODULES = (
    "dedup", "graph", "similarity", "text", "windows", "snapshots",
    "intervals", "hierarchy", "stats", "maintenance",
)


class SpanRecorder:
    """Thread-aware, in-memory span list: ``(id, parent, name, t0, t1)``."""

    def __init__(self) -> None:
        self.spans: list[tuple[int, int | None, str, float, float]] = []
        self._local = threading.local()
        self._next = 0
        self._lock = threading.Lock()

    def span(self, name: str):
        return _Span(self, name)

    def _enter(self, name: str) -> tuple[int, int | None]:
        with self._lock:
            sid = self._next
            self._next += 1
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        stack.append(sid)
        return sid, parent

    def _exit(self, sid: int, parent, name: str, t0: float) -> None:
        self._local.stack.pop()
        self.spans.append((sid, parent, name, t0, time.time()))

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


class _Span:
    __slots__ = ("rec", "name", "sid", "parent", "t0")

    def __init__(self, rec: SpanRecorder, name: str) -> None:
        self.rec, self.name = rec, name

    def __enter__(self):
        self.sid, self.parent = self.rec._enter(self.name)
        self.t0 = time.time()
        return self

    def __exit__(self, *exc):
        self.rec._exit(self.sid, self.parent, self.name, self.t0)
        return False


def _layer_modules():
    pkg = importlib.import_module(PKG)
    for info in pkgutil.walk_packages(pkg.__path__, PKG + "."):
        rel = info.name[len(PKG) + 1:]
        if rel.split(".")[0] in LAYERS:
            yield rel, importlib.import_module(info.name)


def _is_udf(fn) -> bool:
    return hasattr(fn, "evalType") or hasattr(fn, "returnType")


def instrument(rec: SpanRecorder) -> None:
    """Wrap every public function of the layer modules (span name
    ``<module path>.<function>``) before ``queries`` is imported, then
    import it and point every by-name import of a wrapped function
    (``from ..operators.x import f``) in any package module at the
    wrapper."""
    wrappers: dict[int, tuple] = {}
    for rel, mod in _layer_modules():
        for attr, fn in list(vars(mod).items()):
            if (attr.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__ or _is_udf(fn)):
                continue
            w = rec.wrap(f"{rel}.{attr}", fn)
            wrappers[id(fn)] = (fn, w)
            setattr(mod, attr, w)
    importlib.import_module(PKG + ".queries")
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith(PKG + "."):
            continue
        for attr, val in list(vars(mod).items()):
            hit = wrappers.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])


# --- span arithmetic ---------------------------------------------------------

def self_times(spans) -> dict[int, float]:
    """Span id -> duration minus the summed durations of its direct
    children (children are spans on the same thread opened inside it)."""
    child_sum: dict[int, float] = {}
    for _sid, parent, _name, t0, t1 in spans:
        if parent is not None:
            child_sum[parent] = child_sum.get(parent, 0.0) + (t1 - t0)
    return {sid: (t1 - t0) - child_sum.get(sid, 0.0) for sid, _p, _n, t0, t1 in spans}


def outermost_total(spans, pred) -> float:
    """Summed duration of spans matching ``pred`` that have no ancestor
    matching ``pred`` (so nested calls are not counted twice)."""
    by_id = {s[0]: s for s in spans}
    total = 0.0
    for sid, parent, name, t0, t1 in spans:
        if not pred(name):
            continue
        p, nested = parent, False
        while p is not None:
            if pred(by_id[p][2]):
                nested = True
                break
            p = by_id[p][1]
        if not nested:
            total += t1 - t0
    return total


def interval_union(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(op_start: float, op_end: float, job_intervals) -> float:
    """Op wall time minus the union of its job intervals (clipped to
    the op's window)."""
    clipped = [(max(s, op_start), min(e, op_end)) for s, e in job_intervals]
    clipped = [(s, e) for s, e in clipped if e > s]
    return (op_end - op_start) - interval_union(clipped)


# --- event log ---------------------------------------------------------------

def _event_files(log_dir: str) -> list[str]:
    """Event files in write order: a rolling ``eventlog_v2_*`` directory
    holds ``events_<n>_*`` parts; a non-rolling log is one file."""
    out = [
        os.path.join(dp, fn)
        for dp, _dn, fns in os.walk(log_dir)
        for fn in fns
        if not fn.startswith("appstatus") and not fn.endswith(".crc")
    ]

    def order(p):
        parts = os.path.basename(p).split("_")
        return int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 0

    return sorted(out, key=order)


def parse_event_log(log_dir: str) -> dict:
    """Jobs (submit/end seconds, group, stage ids) and per-stage task
    totals from an uncompressed Spark event log directory."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                if '"Event"' not in line:
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], _zero_stage())
                    st["tasks"] += 1
                    st["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
    return {"jobs": jobs, "stage_job": stage_job, "stages": stages}


def _zero_stage() -> dict:
    return {"tasks": 0, "executor_cpu_s": 0.0, "executor_run_s": 0.0, "gc_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}


def attribute_jobs(log: dict, ops: list[dict]) -> list[dict]:
    """Per timed op (``{"group", "start", "end"}``): job, stage and task
    counts, executor totals and the driver gap."""
    by_group = {op["group"]: i for i, op in enumerate(ops)}
    op_jobs: list[list[int]] = [[] for _ in ops]
    for jid, job in log["jobs"].items():
        i = by_group.get(job["group"])
        if i is None:
            for k, op in enumerate(ops):
                if op["start"] <= job["start"] <= op["end"]:
                    i = k
                    break
        if i is not None:
            op_jobs[i].append(jid)
    out = []
    for op, jids in zip(ops, op_jobs):
        rec = _zero_stage()
        rec["jobs"] = len(jids)
        ran = [sid for sid, j in log["stage_job"].items() if j in set(jids) and sid in log["stages"]]
        rec["stages"] = len(ran)
        for sid in ran:
            for k, v in log["stages"][sid].items():
                rec[k] += v
        intervals = [(log["jobs"][j]["start"], log["jobs"][j]["end"] or op["end"]) for j in jids]
        rec["driver_gap_s"] = driver_gap(op["start"], op["end"], intervals)
        out.append(rec)
    return out
