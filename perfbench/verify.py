"""Correctness gate: DuckDB oracles for the query ops, invariants for
``etl_cycle``.

Query ops are compared the way ``tools/verify_local.py`` compares them
(row count, column names, order-insensitive value digest), against the
repo's ``oracle_sql()`` / ``AUX_ORACLES`` twins run on the same
generated files.  The etl invariants are checked with DuckDB over the
tables the run wrote.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from verify_local import table_digest  # noqa: E402  (the repo's comparison)

__all__ = ["table_digest", "oracle_results", "etl_violations"]


def _connect(data_dir: str | None = None):
    import duckdb

    con = duckdb.connect()
    try:
        from xxh64_oracle import register

        register(con)
    except ImportError:
        pass
    if data_dir:
        from datagen import TABLES

        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet/*.parquet')"
            )
    return con


def oracle_results(data_dir: str, names) -> dict:
    """``name -> {"cols", "rows", "digest"}`` (or ``{"error"}``) from
    the DuckDB twin of each query."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q

    sql = {**q.oracles(), **q.AUX_ORACLES}
    con = _connect(data_dir)
    out = {}
    for name in names:
        if name not in sql:
            out[name] = {"error": "no oracle"}
            continue
        try:
            res = con.execute(sql[name])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[name] = {"cols": sorted(cols), "rows": len(rows),
                         "digest": table_digest(cols, rows)}
        except Exception as e:  # noqa: BLE001 - recorded as a failed check
            out[name] = {"error": f"duckdb: {e}"}
    con.close()
    return out


def _count(con, path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return con.execute(
        f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet')"
    ).fetchone()[0]


def expected_census_counts(con, manifest: dict, csv_path: str) -> set:
    """The census-count aggregate recomputed by DuckDB over one landed
    CSV: latest mapping snapshot, forecast flag, cast-key join, count of
    castable encounter ids per department path."""
    return {
        (r[0], r[1]) for r in con.execute(f"""
            WITH m AS (SELECT * FROM read_parquet('{manifest["mapping"]}/*.parquet')),
            dep AS (
                SELECT DISTINCT epic_dept_id, dept_bus_strctr FROM m
                WHERE run_id = (SELECT max(run_id) FROM m)
                  AND upper(frcst_yn) = 'YES'),
            c AS (SELECT * FROM read_csv('{csv_path}', header=true, all_varchar=true))
            SELECT dept_bus_strctr, count(TRY_CAST(pat_enc_csn_id AS DECIMAL(18,0)))
            FROM c JOIN dep
              ON TRY_CAST(c.encntr_dept_id AS INTEGER) = TRY_CAST(dep.epic_dept_id AS INTEGER)
            GROUP BY dept_bus_strctr""").fetchall()
    }


def etl_violations(root: str, manifest: dict, cycles: list[dict]) -> tuple[list[str], set]:
    """Check the etl invariants.  Returns (global violations, ids of
    cycles whose own checks failed)."""
    con = _connect()
    tables = os.path.join(root, "tables")
    bad_cycles: set = set()
    problems: list[str] = []
    done = [c for c in cycles if "error" not in c]
    landed = {}
    for rec in done:
        for name in manifest["cycles"][rec["cycle"]]["new"]:
            landed[name] = manifest["file_rows"][name]
    # landed rows == bronze rows, file by file (a re-offered file adds 0)
    got = dict(con.execute(
        f"SELECT file_nm, count(*) FROM read_parquet('{tables}/bronze/**/*.parquet') "
        "GROUP BY 1").fetchall()) if done else {}
    if got != landed:
        diff = sorted(set(got.items()) ^ set(landed.items()))[:4]
        problems.append(f"bronze rows per file differ from landed rows: {diff}")
    n_landed = sum(landed.values())
    n_stream = _count(con, os.path.join(tables, "stream_out"))
    if n_stream != n_landed:
        problems.append(f"streaming twin drained {n_stream} rows, landed {n_landed}")
    timed = [c for c in done if not c.get("setup")]
    n_posted = sum(len(c["posted"]) for c in timed)
    n_audit = _count(con, os.path.join(tables, "audit"))
    if n_audit != n_posted:
        problems.append(f"audit rows {n_audit} != posted rows {n_posted}")
    n_children = sum(c["wl_children"] for c in timed)
    for t in ("wl_master", "wl_child"):
        n = _count(con, os.path.join(tables, t))
        if n != n_children:
            problems.append(f"{t} rows {n} != fetched children {n_children}")
    staging = manifest["staging"]
    for rec in timed:
        c = rec["cycle"]
        newest = manifest["cycles"][c]["new"][-1]
        csv = os.path.join(staging, f"cycle_{c:03d}", newest)
        want = expected_census_counts(con, manifest, csv)
        if {tuple(p) for p in rec["posted"]} != want or not rec["post_ok"]:
            bad_cycles.add(c)
        if rec["fetch_failed"]:
            bad_cycles.add(c)
        before, after = rec["compact"]
        if before[1] != after[1] or after[0] > before[0]:
            bad_cycles.add(c)
    con.close()
    return problems, bad_cycles
