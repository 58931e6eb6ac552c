"""The measured process: runs the engine for one workload and writes
``result.json`` into the run directory.  Started by ``run.py`` in its
own session with a contained environment; not meant to be run by hand.

Phases: imports + session start + warm-up (= set-up), then the timed
phase — a fixed number of whole passes over the seeded op order, about
``seconds`` long on a 4-core host (``workloads.NOMINAL_PASS_S``) — then
a ``/proc`` snapshot of the process tree, ``spark.stop()`` and the
result file.
"""

import contextlib
import json
import os
import random
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import procfs  # noqa: E402
import tracing  # noqa: E402
from workloads import NOMINAL_PASS_S, QUERY_WORKLOADS, EtlJob  # noqa: E402

PKG = tracing.PKG


def _warm_up(spark) -> None:
    """Generic warm-up before the first timed query: a shuffle
    aggregate, a join, a window, an Arrow pandas UDF and an eager
    checkpoint, so the first op does not pay JVM and Python-worker
    start-up alone."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(0, 200_000).selectExpr("id % 97 AS k", "id AS v")
    agg = df.groupBy("k").agg(F.sum("v").alias("s"))
    df.join(agg, "k").agg(F.max("s")).collect()
    w = Window.partitionBy("k").orderBy(F.col("v").desc())
    df.withColumn("r", F.row_number().over(w)).filter("r = 1").count()

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    df.select(plus_one("v").alias("p")).agg(F.sum("p")).collect()
    df.localCheckpoint(eager=True).count()


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    t_spawn = cfg["t_spawn"]
    trace = bool(cfg["trace"])
    rec = tracing.SpanRecorder() if trace else None
    if trace:
        tracing.instrument(rec)
    import importlib

    queries = importlib.import_module(PKG + ".queries")
    session = importlib.import_module(PKG + ".session")
    from verify import table_digest

    span = rec.span if trace else (lambda name: contextlib.nullcontext())
    t0 = time.time()
    spark = session.get_spark("perfbench")
    session_start_s = time.time() - t0
    sc = spark.sparkContext
    workload = cfg["workload"]
    rng = random.Random(cfg["seed"])
    ops: list[dict] = []
    etl = None
    try:
        if workload == "etl_cycle":
            mods = {k: importlib.import_module(f"{PKG}.{p}") for k, p in {
                "census": "plans.census", "workload": "plans.workload",
                "writers": "sinks.writers", "json_source": "sources.json_source",
                "incremental": "streaming.incremental",
                "maintenance": "operators.maintenance"}.items()}
            etl = EtlJob(spark, mods, cfg["manifest"], cfg["run_dir"])
            etl.land(0)
            etl.log.append(etl.bootstrap())
            next_cycle = [1]
            n_cycles = len(cfg["manifest"]["cycles"]) - 1

            def order_for_pass(_p):
                return ["etl_cycle"] if next_cycle[0] <= n_cycles else []
        else:
            names = list(QUERY_WORKLOADS[workload])
            registry = {**queries.QUERIES, **queries.AUX_QUERIES}
            _warm_up(spark)

            def order_for_pass(_p):
                order = names[:]
                rng.shuffle(order)
                return order

        def run_op(name: str) -> dict:
            idx = len(ops)
            group = f"perfbench-op-{idx}"
            if trace:
                sc.setJobGroup(group, name)
            op = {"name": name, "group": group}
            if etl is not None:
                c = next_cycle[0]
                next_cycle[0] += 1
                etl.land(c)
            op["start"] = time.time()
            try:
                if name == cfg.get("fail_op"):
                    raise RuntimeError("injected op failure")
                if etl is not None:
                    with span("plans.etl_cycle"):
                        crec = etl.cycle(c)
                    op["end"] = time.time()
                    crec["written"] = etl.written()
                    etl.log.append(crec)
                    op["cycle"] = c
                else:
                    with span(f"queries.{name}"):
                        df = registry[name](spark, cfg["data_dir"])
                    with span(f"action.{name}"):
                        cols = df.columns
                        rows = [tuple(r) for r in df.collect()]
                    op["end"] = time.time()
                    op["rows"] = len(rows)
                    op["cols"] = sorted(cols)
                    op["digest"] = table_digest(cols, rows)
                op["ok"] = True
            except Exception as e:  # noqa: BLE001 - counted as a failed op
                op["end"] = time.time()
                op["ok"] = False
                op["error"] = f"{type(e).__name__}: {str(e)[:300]}"
                if etl is not None:
                    etl.log.append({"cycle": c, "error": op["error"]})
            if trace:
                sc.setJobGroup(None, None)
            ops.append(op)
            return op

        def timed(n_passes: int) -> tuple[list, dict, dict]:
            first = len(ops)
            before = procfs.snapshot(os.getpid())
            for p in range(n_passes):
                order = order_for_pass(p)
                if not order:
                    break
                for name in order:
                    run_op(name)
            return ops[first:], before, procfs.snapshot(os.getpid())

        setup_s = time.time() - t_spawn
        passes = max(1, round(cfg["seconds"] / NOMINAL_PASS_S[workload]))
        timed_ops, proc0, proc1 = timed(passes)
        import pyspark

        env = {"pyspark": pyspark.__version__,
               "java": sc._jvm.System.getProperty("java.version")}
    finally:
        spark.stop()
    result = {
        "setup_s": setup_s,
        "session_start_s": session_start_s,
        "passes": passes,
        "ops_per_pass": 1 if etl is not None else len(names),
        "ops": timed_ops,
        "proc0": proc0,
        "proc1": proc1,
        "env": env,
        "etl": etl.log if etl is not None else None,
        "spans": rec.spans if trace else None,
    }
    with open(os.path.join(cfg["run_dir"], "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
