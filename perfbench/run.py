"""Benchmark entry point.

    python3 perfbench/run.py --workload {etl_cycle,curation_heavy}
                             --seed N --seconds S --trace {0,1}

Generates the workload's inputs from ``--seed`` into a per-run
directory, runs the engine in a separate process (``worker.py``) in its
own session, checks every output, and prints one JSON object as the
last line of stdout.  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` runs the workload untraced and then traced with the same
seed and reports the per-layer metrics and the tracing overhead.  See
README.md.

Everything the run writes (inputs, tables, Spark local dirs, temp
files, warehouse, event log) lives under one directory in the checkout
that is removed at exit, and every process the run started is stopped
and reaped before it returns — also on SIGTERM/SIGINT and on timeout.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import procfs  # noqa: E402
import tracing  # noqa: E402
from workloads import QUERY_SF, QUERY_WORKLOADS, WORKLOADS  # noqa: E402

RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
NPROC = len(os.sched_getaffinity(0))  # what `nproc` prints
DEADLINE_S = 170.0  # the whole command must end within 180 s
VERIFY_RESERVE_S = 15.0
UNTRACED_SHARE_S = 85.0  # of DEADLINE_S: the untraced reference of a traced run
ETL_MAX_CYCLES = 6  # staged cycles; a run uses one per timed pass


class Terminated(Exception):
    pass


def _on_signal(signum, _frame):
    raise Terminated(signum)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _write_conf(conf_dir: str, run_dir: str, trace: bool) -> None:
    """Per-run SPARK_CONF_DIR: keep warehouse, derby and JVM temp files
    inside the run directory; enable the uncompressed event log for
    traced runs; quiet console logging."""
    os.makedirs(conf_dir)
    lines = [
        "spark.ui.enabled false",
        "spark.ui.showConsoleProgress false",
        f"spark.sql.warehouse.dir file://{run_dir}/warehouse",
        f"spark.driver.extraJavaOptions -Dderby.system.home={run_dir}/derby "
        f"-Djava.io.tmpdir={run_dir}/tmp",
    ]
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{run_dir}/eventlog",
            "spark.eventLog.compress false",
        ]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(os.path.join(conf_dir, "log4j2.properties"), "w") as f:
        f.write(
            "rootLogger.level = error\nrootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\nappender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )


class Run:
    """One worker execution in its own directory, process session and
    environment.  ``stop`` kills and reaps whatever is left of it."""

    def __init__(self, args, run_dir: str, trace: bool) -> None:
        self.args, self.dir, self.trace = args, run_dir, trace
        self.token = f"PERFBENCH_RUN={uuid.uuid4().hex}"
        self.proc: subprocess.Popen | None = None

    def prepare(self) -> dict:
        import datagen

        os.makedirs(os.path.join(self.dir, "tmp"))
        os.makedirs(os.path.join(self.dir, "local"))
        t0 = time.time()
        cfg = {"workload": self.args.workload, "seed": self.args.seed,
               "seconds": self.args.seconds, "trace": int(self.trace),
               "run_dir": self.dir, "fail_op": self.args.fail_op}
        inputs = os.path.join(self.dir, "inputs")
        os.makedirs(inputs)
        if self.args.workload == "etl_cycle":
            cfg["manifest"] = datagen.write_etl_inputs(inputs, self.args.seed, ETL_MAX_CYCLES)
        else:
            cfg["tables"] = datagen.write_tables(inputs, QUERY_SF, self.args.seed)
            cfg["data_dir"] = inputs
        self.gen_s = time.time() - t0
        _write_conf(os.path.join(self.dir, "conf"), self.dir, self.trace)
        return cfg

    def execute(self, cfg: dict, deadline: float) -> dict:
        env = dict(os.environ)
        key, val = self.token.split("=")
        env.update({
            key: val,
            "TMPDIR": os.path.join(self.dir, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(self.dir, "local"),
            "SPARK_CONF_DIR": os.path.join(self.dir, "conf"),
            "SPARK_GRAFT_CPUS": str(NPROC),
            # small data; a fixed small heap keeps peak RSS steady
            "SPARK_GRAFT_DRIVER_MEM": "1g",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYTHONHASHSEED": "0",  # same set/dict order in every run
            # every JVM, the spark-submit launcher's too: no hsperfdata
            # file in the system temp directory
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        })
        env.pop("OMP_NUM_THREADS", None)
        cfg_path = os.path.join(self.dir, "config.json")
        cfg["t_spawn"] = time.time()
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        log_path = os.path.join(self.dir, "worker.log")
        with open(log_path, "w") as log:
            self.proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
                cwd=self.dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                code = self.proc.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                code = None
        self.stop()
        result_path = os.path.join(self.dir, "result.json")
        if code != 0 or not os.path.exists(result_path):
            with open(log_path, errors="replace") as f:
                tail = f.read()[-3000:]
            why = "timed out" if code is None else f"exited with {code}"
            raise RuntimeError(f"{os.path.basename(self.dir)} worker {why}; log tail:\n{tail}")
        with open(result_path) as f:
            return json.load(f)

    def stop(self) -> None:
        """SIGTERM, and from 3 s on SIGKILL, the worker's process group
        and every process carrying the run token; reap them.  Bounded at
        20 s: a process stuck in the kernel cannot be killed."""
        pgid = self.proc.pid if self.proc is not None else None
        t0 = time.time()
        term_sent = False
        while time.time() - t0 < 20.0:
            _reap()
            left = [p for p in procfs.pids_with_env(self.token) if procfs.alive(p)]
            if self.proc is not None and self.proc.poll() is None:
                left.append(self.proc.pid)
            if not left:
                break
            if not term_sent:
                procfs.kill_all(pgid, self.token, signal.SIGTERM)
                term_sent = True
            elif time.time() - t0 > 3.0:
                procfs.kill_all(pgid, self.token, signal.SIGKILL)
            time.sleep(0.1)
        _reap()


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _become_subreaper() -> None:
    """Orphaned descendants (a JVM whose Python parent died) re-parent
    to this process, so they can be waited for."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


# --- verification ------------------------------------------------------------

def verify_queries(cfg: dict, res: dict) -> tuple[int, list[str]]:
    """Each op's first execution against the DuckDB oracle; every later
    execution against that verified digest.  Returns (failed ops,
    messages)."""
    import verify

    ops = res["ops"]
    names = sorted({op["name"] for op in ops})
    oracle = verify.oracle_results(cfg["data_dir"], names)
    failed, msgs, first = 0, [], {}
    for op in ops:
        name = op["name"]
        if not op["ok"]:
            failed += 1
            msgs.append(f"{name}: {op['error']}")
            continue
        ref = first.setdefault(name, op)
        want = oracle[name]
        if "error" in want:
            bad = want["error"]
        elif (op["cols"], op["rows"], op["digest"]) != (want["cols"], want["rows"], want["digest"]):
            bad = (f"spark rows={op['rows']} digest={op['digest']} vs oracle "
                   f"rows={want['rows']} digest={want['digest']}")
        elif op["digest"] != ref["digest"]:
            bad = "digest differs from the verified first execution"
        else:
            continue
        failed += 1
        msgs.append(f"{name}: {bad}")
    return failed, msgs


def verify_etl(run_dir: str, cfg: dict, res: dict) -> tuple[int, list[str]]:
    import verify

    problems, bad_cycles = verify.etl_violations(run_dir, cfg["manifest"], res["etl"])
    if problems:
        return len(res["ops"]), problems
    failed = 0
    msgs = []
    for op in res["ops"]:
        if not op["ok"]:
            failed += 1
            msgs.append(f"cycle {op.get('cycle')}: {op['error']}")
        elif op["cycle"] in bad_cycles:
            failed += 1
            msgs.append(f"cycle {op['cycle']}: census counts / fetch / compaction check failed")
    return failed, msgs


# --- metrics -----------------------------------------------------------------

def _per_pass(res: dict) -> float:
    """Number of op-list passes the timed phase is worth."""
    return max(1e-9, len(res["ops"]) / res["ops_per_pass"])


def _op_medians(ops: list) -> dict:
    lat: dict[str, list[float]] = {}
    for op in ops:
        if op["ok"]:
            lat.setdefault(op["name"], []).append(op["end"] - op["start"])
    return {k: _median(v) for k, v in lat.items()}


def _run_s(ops: list, ops_per_pass: int) -> float:
    """One pass's wall time: the sum of each of its ops' median latency."""
    med = _op_medians(ops)
    return sum(med.get(op["name"], 0.0) for op in ops[:ops_per_pass])


def end_to_end(cfg: dict, res: dict) -> dict:
    run_s = _run_s(res["ops"], res["ops_per_pass"])
    lats = [op["end"] - op["start"] for op in res["ops"] if op["ok"]]
    passes = _per_pass(res)
    p0, p1 = res["proc0"], res["proc1"]
    cpu = sum(p1["cpu"].values()) - sum(p0["cpu"].values())
    if cfg["workload"] == "etl_cycle":
        man = cfg["manifest"]
        timed = [c for c in res["etl"] if not c.get("setup") and "error" not in c]
        rows_in = sum(man["file_rows"][n] for c in timed for n in man["cycles"][c["cycle"]]["new"])
        bytes_in = sum(man["cycles"][c["cycle"]]["bytes"] + c["fetch_bytes"] for c in timed)
        busy = sum(lats)
        rows_per_s = rows_in / busy if busy else 0.0
        # file bytes the sinks and compaction wrote; the kernel's
        # write_bytes count depends on writeback timing across the
        # many rewrites and moved this ratio by 30% between runs
        write_amp = sum(c["written"][1] for c in timed) / bytes_in if bytes_in else 0.0
    else:
        tables = cfg["tables"]
        rows_per_s = sum(tables["rows"].values()) / run_s if run_s else 0.0
        write_amp = (p1["write_bytes"] - p0["write_bytes"]) / passes / tables["bytes"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "run_s": (run_s, "s"),
        "cpu_s": (cpu / passes, "s"),
        "peak_rss_mb": (p1["hwm_mb"], "MB"),
        "rows_per_s": (rows_per_s, "rows/s"),
        "write_amp": (write_amp, "ratio"),
    }


PER_LAYER_OPS = (
    [f"op.{n}.s" for ops in QUERY_WORKLOADS.values() for n in ops]
    + ["op.etl_cycle.s"]
)


def per_layer(cfg: dict, res: dict, untraced_run_s: float) -> dict:
    spans = [tuple(s) for s in res["spans"]]
    ops = res["ops"]
    t_begin = min(op["start"] for op in ops)
    t_end = max(op["end"] for op in ops)
    timed = [s for s in spans if s[3] >= t_begin and s[4] <= t_end]
    passes = _per_pass(res)
    selft = tracing.self_times(spans)

    def self_sum(prefix):
        return sum(selft[s[0]] for s in timed if s[2].startswith(prefix)) / passes

    def outer(prefix):
        return tracing.outermost_total(timed, lambda n: n.startswith(prefix)) / passes

    out = {
        "session.start_s": (res["session_start_s"], "s"),
        "queries.build_s": (self_sum("queries."), "s"),
        "queries.action_s": (outer("action."), "s"),
    }
    log = tracing.parse_event_log(os.path.join(cfg["run_dir"], "eventlog"))
    recs = tracing.attribute_jobs(log, ops)
    n_ops = max(1, len(ops))
    for k in ("jobs", "stages", "tasks"):
        out[f"spark.{k}"] = (sum(r[k] for r in recs) / n_ops, "count")
    for k in ("driver_gap_s", "executor_cpu_s", "executor_run_s", "gc_s"):
        out[f"spark.{k}"] = (sum(r[k] for r in recs) / passes, "s")
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{k}"] = (sum(r[k] for r in recs) / passes, "B")
    p0, p1 = res["proc0"]["cpu"], res["proc1"]["cpu"]
    for k in ("jvm", "pyworker", "driver_py"):
        out[f"proc.{k}_cpu_s"] = ((p1[k] - p0[k]) / passes, "s")
    for m in tracing.OPERATOR_MODULES:
        out[f"operators.{m}.build_s"] = (self_sum(f"operators.{m}."), "s")
    etl = [c for c in (res["etl"] or []) if not c.get("setup") and "error" not in c]
    man = cfg.get("manifest")

    def etl_sum(key):
        return sum(c[key] for c in etl) / passes

    offered = skipped = 0
    for c in etl:
        spec = man["cycles"][c["cycle"]]
        n_offered = sum(len(man["cycles"][k]["new"]) for k in range(c["cycle"] + 1))
        offered += n_offered
        skipped += n_offered - len(spec["new"])
    compact = [c["compact"] for c in etl]
    stream_rows = [c["written"][2] for c in (res["etl"] or []) if "written" in c]
    drains = max(1, len(stream_rows) - 1)
    out.update({
        "sources.fetch_s": (outer("sources.rest_source.fetch_documents"), "s"),
        "sources.fetch_retries": (etl_sum("fetch_retries") if etl else 0.0, "count"),
        "sources.fetch_failed_batches": (etl_sum("fetch_failed") if etl else 0.0, "count"),
        "sources.ledger_skip_ratio": (skipped / offered if offered else 0.0, "ratio"),
        "sinks.append_s": (outer("sinks.writers.append_versioned"), "s"),
        "sinks.post_s": (outer("sinks.rest_sink.post_rows"), "s"),
        "sinks.bytes_written": (sum(c["written"][1] for c in etl) / passes, "B"),
        "sinks.files_written": (sum(c["written"][0] for c in etl) / passes, "count"),
        "sinks.rows_posted": (sum(len(c["posted"]) for c in etl) / passes, "count"),
        "maintenance.compact_s": (outer("operators.maintenance.compact"), "s"),
        "maintenance.files_before_after": (
            sum(a[0] for _b, a in compact) / sum(b[0] for b, _a in compact) if compact else 0.0,
            "ratio"),
        "streaming.drain_s": (outer("streaming.incremental.drain_available_now"), "s"),
        "streaming.rows_per_trigger": (
            (stream_rows[-1] - stream_rows[0]) / drains if stream_rows else 0.0, "rows"),
        "plans.census_s": (outer("plans.census."), "s"),
        "plans.workload_s": (outer("plans.workload."), "s"),
        "trace.overhead_s": (_run_s(ops, res["ops_per_pass"]) - untraced_run_s, "s"),
    })
    med = _op_medians(ops)
    for key in PER_LAYER_OPS:
        out[key] = (med.get(key[3:-2], 0.0), "s")
    return out


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _env_line(res: dict | None, ticks0: list[int]) -> str:
    d = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    # share of CPU time the hypervisor gave to others during this run
    env = {"nproc": NPROC, "loadavg": os.getloadavg(),
           "steal_pct": round(100.0 * d[7] / max(1, sum(d)), 2)}
    if res:
        env.update(res.get("env", {}))
    return "env " + json.dumps(env)


def _result(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fail-op", default=None,
                    help="inject a failure into every execution of this op (tests)")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, tracing.PKG, "__init__.py")) or not os.path.isfile(
            os.path.join(ROOT, "tools", "verify_local.py")):
        print(f"perfbench: the engine package is missing under {ROOT}", file=sys.stderr)
        return 2
    start = time.time()
    ticks0 = _cpu_ticks()
    deadline = start + DEADLINE_S
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    _become_subreaper()
    runs: list[Run] = []

    def execute(trace: bool, until: float) -> tuple[dict, dict, int]:
        tag = "traced" if trace else "run"
        run = Run(args, os.path.join(RUNS_DIR, f"{args.workload}-{args.seed}-{os.getpid()}-{tag}"),
                  trace)
        runs.append(run)
        cfg = run.prepare()
        res = run.execute(cfg, until - VERIFY_RESERVE_S)
        t0 = time.time()
        if args.workload == "etl_cycle":
            failed, msgs = verify_etl(run.dir, cfg, res)
        else:
            failed, msgs = verify_queries(cfg, res)
        print(f"{tag}: gen_s={run.gen_s:.2f} verify_s={time.time() - t0:.2f} "
              f"ops={len(res['ops'])} passes={res['passes']} failed={failed}", flush=True)
        for m in msgs[:20]:
            print(f"  FAIL {m}", flush=True)
        print("  ops " + " ".join(f"{op['name']}={op['end'] - op['start']:.2f}"
                                  for op in res["ops"]), flush=True)
        run.stop()
        shutil.rmtree(run.dir, ignore_errors=True)
        return cfg, res, failed

    try:
        cfg, res, failed = execute(False, start + (UNTRACED_SHARE_S if args.trace else DEADLINE_S))
        metrics = end_to_end(cfg, res)
        if args.trace:
            # the untraced run above is the reference for the overhead
            untraced_run_s = metrics["run_s"][0]
            cfg, res, failed_t = execute(True, deadline)
            failed += failed_t
            metrics = per_layer(cfg, res, untraced_run_s)
        attempted = len(res["ops"])
        failed = min(failed, attempted)
        print(_env_line(res, ticks0), flush=True)
        print(f"fail_ratio {failed / attempted:.4f} ({failed}/{attempted})", flush=True)
        print(_result(failed == 0, attempted, failed, metrics), flush=True)
        return 0
    except Terminated as t:
        print(f"perfbench: stopped by signal {t.args[0]}", file=sys.stderr)
        return 128 + t.args[0]
    except Exception as e:  # noqa: BLE001
        print(f"perfbench: {type(e).__name__}: {e}", file=sys.stderr)
        return 1
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGINT, signal.SIG_IGN)
        for run in runs:
            run.stop()
            shutil.rmtree(run.dir, ignore_errors=True)
        _reap()
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
