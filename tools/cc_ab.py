"""A/B harness for the connected_components fast-round bypass.

Runs q_dedup_components warm (same materialization as bench.py) with
the fast_round_threshold bypass ON (default 100k) vs OFF (0), several
reps each, interleaved to cancel host-load drift, and prints per-rep
times and job counts.

Usage: python tools/cc_ab.py [reps]
"""
import os
import sys
import time

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.session import get_spark
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import graph
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import dedup
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources.registry import load_table
from pyspark.sql import functions as F


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("cc-ab")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    d = q.rebalance(load_table(spark, sf_dir, "documents"))
    sigs = dedup.minhash_signatures(d, k=q._MINHASH_K, num_hashes=q._MINHASH_N)
    pairs = dedup.lsh_candidate_pairs(
        sigs, num_hashes=q._MINHASH_N, bands=q._MINHASH_BANDS
    ).persist()
    nodes = d.select("doc_id")
    pairs.count()  # materialize LSH once so the A/B times CC alone

    def jobs() -> int:
        t = sc._jsc.sc().statusTracker()
        ids = t.getJobIdsForGroup(None)
        return len(ids)

    def run(threshold: int, driver_edges: int = 0) -> float:
        t0 = time.time()
        comps = graph.connected_components(
            pairs,
            nodes,
            fast_round_threshold=threshold,
            driver_finish_edges=driver_edges,
        )
        comps.agg(
            F.count(F.lit(1)),
            F.bit_xor(F.xxhash64("doc_id", "component")),
        ).collect()
        graph.release_components(comps)
        return time.time() - t0

    # warm all paths once
    run(100_000)
    run(0)
    run(0, driver_edges=10**9)
    results: dict[str, list[float]] = {"driver": [], "fast": [], "aqe": []}
    variants = (
        ("driver", 0, 10**9),
        ("fast", 100_000, 0),
        ("aqe", 0, 0),
    )
    for i in range(reps):
        for name, thr, de in variants:
            j0 = jobs()
            dt = run(thr, driver_edges=de)
            results[name].append(dt)
            print(f"rep {i} {name}: {dt:.3f}s jobs={jobs() - j0}", flush=True)
    for name, runs in results.items():
        runs = sorted(runs)
        print(
            f"{name}: median {runs[len(runs) // 2]:.3f}s "
            f"min {runs[0]:.3f}s max {runs[-1]:.3f}s"
        )
    print(f"loadavg {os.getloadavg()}")


if __name__ == "__main__":
    main()
