"""Driver-parity correctness artifact for the AUX registry.

The driver captures at most 50 queries; everything folded out of that
cap lives in ``queries.AUX_QUERIES`` and was, until round 5, verified
only inside pytest — which is how the streaming_tumbling decode bug
shipped without a per-round artifact recording it.  This script runs
every AUX entry against its DuckDB oracle with the driver's own digest
discipline and writes ``AUX_CORRECTNESS.json`` at the repo root, one
record per query in the same shape as the driver's CORRECTNESS files:

    {"rows_match": bool, "schema_match": bool, "hash_match": bool,
     "spark_rows": int, "oracle_rows": int, "err": str | None}

Oracle-less entries (e.g. minhash_lsh_pairs_fast, xxhash64 has no
DuckDB twin) get a rows-only record with ``"oracle": false``.

Usage: python tools/aux_correctness.py [sf_dir]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

from verify_local import table_digest  # noqa: E402  (same dir)


def main() -> int:
    import duckdb

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.materialize import (
        release_components,
    )
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # optional name args: run a subset for fast local iteration; the
    # committed artifact is only (re)written on FULL runs so a subset
    # can never masquerade as the whole registry
    only = set(sys.argv[2:])
    spark = get_spark("aux-correctness")

    # raise the FD soft limit to its hard cap: a long full-registry
    # run co-hosting the Spark driver once exhausted the default soft
    # limit and failed a DuckDB parquet open mid-suite
    try:
        import resource

        _soft, _hard = resource.getrlimit(resource.RLIMIT_NOFILE)
        resource.setrlimit(resource.RLIMIT_NOFILE, (_hard, _hard))
    except Exception:  # noqa: BLE001 — best-effort
        pass

    # Spark-compatible xxhash64 for the fast-MinHash oracle (DuckDB
    # has no native xxhash64; see tools/xxh64_oracle.py)
    from xxh64_oracle import register as register_xxh64

    def fresh_con():
        c = duckdb.connect()
        register_xxh64(c)
        for t in (
            "region nation customer supplier part orders lineitem "
            "events documents embeddings"
        ).split():
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        return c

    con = fresh_con()

    out: dict[str, dict] = {}
    failures = []
    for name, fn in sorted(q.AUX_QUERIES.items()):
        if only and name not in only:
            continue
        rec: dict = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        t0 = time.time()
        sdf = None
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            rec["spark_rows"] = len(srows)
        except Exception as e:  # noqa: BLE001 — artifact records the error
            rec["err"] = f"spark: {e}"
            out[name] = rec
            failures.append(name)
            print(f"FAIL {name}: {e}")
            continue
        finally:
            if sdf is not None:
                release_components(sdf)
        if name not in q.AUX_ORACLES:
            rec["oracle"] = False
            ok = len(srows) > 0
            rec["rows_match"] = ok  # rows-only check: non-vacuous
            rec["schema_match"] = True
            rec["hash_match"] = None
            if not ok:
                failures.append(name)
            print(
                f"{'OK' if ok else 'FAIL'} {name}: rows={len(srows)} "
                f"(no oracle; rows-only) ({time.time() - t0:.1f}s)"
            )
            out[name] = rec
            continue
        try:
            try:
                res = con.execute(q.AUX_ORACLES[name])
            except Exception as e:  # noqa: BLE001
                if "Too many open files" not in str(e):
                    raise
                # transient FD pressure: drop every cached handle and
                # retry once on a fresh connection
                con.close()
                con = fresh_con()
                res = con.execute(q.AUX_ORACLES[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            rec["oracle_rows"] = len(drows)
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"duckdb: {e}"
            out[name] = rec
            failures.append(name)
            print(f"FAIL {name}: oracle error: {e}")
            continue
        rec["rows_match"] = len(srows) == len(drows) and len(srows) > 0
        rec["schema_match"] = sorted(scols) == sorted(dcols)
        sh = table_digest(scols, srows)
        dh = table_digest(dcols, drows)
        rec["hash_match"] = sh == dh
        ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
        if not ok:
            failures.append(name)
        print(
            f"{'OK' if ok else 'FAIL'} {name}: rows {len(srows)}/{len(drows)} "
            f"cols_ok={rec['schema_match']} hash {sh}/{dh} "
            f"({time.time() - t0:.1f}s)"
        )
        out[name] = rec

    if not only:
        with open("/root/repo/AUX_CORRECTNESS.json", "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    print(
        f"\n{len(failures)} failures: {failures}"
        if failures
        else f"\nALL GREEN ({len(out)} aux rows) -> AUX_CORRECTNESS.json"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
