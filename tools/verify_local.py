"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
the given scale factor; compare row count, column names, and an
order-insensitive value hash.

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
import time

sys.path.insert(0, "/root/repo")


def normalize_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # cheap float canonicalization: 12 significant digits
        return f"{v:.12g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(normalize_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    import duckdb

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.materialize import (
        release_components,
    )
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.session import get_spark
    import __spark_entry__ as entrymod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("verify-local")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = None
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        finally:
            if sdf is not None:
                release_components(sdf)
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"SKIP-ORACLE {name}: rows={len(srows)} ({spark_s:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok_count = len(srows) == len(drows)
        ok_cols = sorted(scols) == sorted(dcols)
        # Driver-parity guard: the driver's pandas canonicalizer renders
        # int64 and float differently (150 vs 150.0) and crashes on list
        # cells.  Flag any column whose Python type class differs between
        # engines, or any unhashable cell, even when the 12-sig-digit
        # hash below happens to agree.
        type_drift = []
        if srows and drows and ok_cols:
            sidx = {c: i for i, c in enumerate(scols)}
            didx = {c: i for i, c in enumerate(dcols)}
            for c in scols:
                sv = next((r[sidx[c]] for r in srows if r[sidx[c]] is not None), None)
                dv = next((r[didx[c]] for r in drows if r[didx[c]] is not None), None)
                if sv is None or dv is None:
                    continue
                if isinstance(sv, (list, dict)) or isinstance(dv, (list, dict)):
                    type_drift.append(f"{c}: unhashable cell type")
                elif isinstance(sv, bool) != isinstance(dv, bool) or (
                    isinstance(sv, int) != isinstance(dv, int)
                    and {type(sv), type(dv)} <= {int, float}
                ):
                    type_drift.append(
                        f"{c}: spark {type(sv).__name__} vs duck {type(dv).__name__}"
                    )
        sh = table_digest(scols, srows)
        dh = table_digest(dcols, drows)
        ok_hash = sh == dh
        status = "OK" if (ok_count and ok_cols and ok_hash and not type_drift) else "FAIL"
        if type_drift:
            print(f"TYPE-DRIFT {name}: {type_drift}")
        vacuous = " [WARN: 0 rows — vacuous check]" if not srows else ""
        print(
            f"{status} {name}: rows {len(srows)}/{len(drows)} cols_ok={ok_cols} "
            f"hash {sh}/{dh} ({spark_s:.1f}s){vacuous}"
        )
        if status == "FAIL":
            failures.append(name)
            if not ok_cols:
                print(f"    spark cols: {sorted(scols)}")
                print(f"    duck  cols: {sorted(dcols)}")
            if ok_count and ok_cols and not ok_hash and srows:
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                sset = {tuple(normalize_cell(r[i]) for i in order) for r in srows}
                dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
                dset = {tuple(normalize_cell(r[i]) for i in dorder) for r in drows}
                only_s = list(sset - dset)[:3]
                only_d = list(dset - sset)[:3]
                print(f"    only-spark: {only_s}")
                print(f"    only-duck:  {only_d}")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL GREEN")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
