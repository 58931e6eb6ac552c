"""Seeded input generation for the benchmark.

Two kinds of input:

* ``write_tables`` — the ten star-schema/corpus tables the query
  registry reads (region ... embeddings), synthesized with the same
  column types and value distributions as the sf fixtures described in
  TESTDATA.md.
  The logical content is fixed (generator seed ``BASE_SEED``); the
  run's ``--seed`` only re-lays it out: rows are permuted and split
  into parquet files.  Query results must not depend on
  layout, so the DuckDB oracle holds for every seed.

* ``write_etl_inputs`` — everything one ``etl_cycle`` run consumes:
  the department mapping table, the schedule-zone document, census CSV
  landings per cycle (seeded dirty ids/timestamps, one re-offered file
  per cycle) and the nested-JSON workload documents the canned REST
  transport serves (with seeded transient failures).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_VOCAB = (
    "a the key agg scan slow table part merge window order column join vector value "
    "hash batch sort data big filter fast spark line small customer group row query "
    "stream"
).split()
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_ADJ = ["hot", "large", "cold", "small", "new", "blue", "old", "red"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def build_tables(sf: float) -> dict[str, pa.Table]:
    """The logical tables at scale factor ``sf`` (fixed content)."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, _ADJ, n_part), _pick(rng, _NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, _PTYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": pa.array(_days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1))),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord).tolist(),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li).tolist(),
        "l_linestatus": _pick(rng, ["O", "F"], n_li).tolist(),
        "l_shipdate": pa.array(_days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4))),
    })
    # events: a 30-day stream with sorted microsecond timestamps
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev).tolist(),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: bags of words; ~5% are an earlier document + " dup"
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_pick(rng, _VOCAB, k)))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_doc, p=_LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    emb = rng.normal(size=(n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> dict:
    """Write every table as ``<out_dir>/<name>.parquet/part-*.parquet``
    with a seed-chosen row permutation and file split.  Returns
    ``{"rows": {table: n}, "bytes": total_parquet_bytes}``."""
    rng = np.random.default_rng(seed)
    rows, total = {}, 0
    for name, tbl in build_tables(sf).items():
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d)
        n = tbl.num_rows
        perm = rng.permutation(n)
        n_files = 1 if n < 100 else 2
        for i, chunk in enumerate(np.array_split(perm, n_files)):
            path = os.path.join(d, f"part-{i:05d}.parquet")
            pq.write_table(tbl.take(pa.array(chunk)), path)
            total += os.path.getsize(path)
        rows[name] = n
    return {"rows": rows, "bytes": total}


# --- etl_cycle inputs --------------------------------------------------------

ETL_T0 = dt.datetime(2023, 4, 12, 6, 0, tzinfo=dt.timezone.utc)
ETL_CYCLE_HOURS = 1
ETL_ROWS_PER_FILE = 400
ETL_NEW_FILES = 2  # fresh census files landed per cycle
ETL_BOOT_FILES = 3  # files ingested during set-up, before the first timed op
_CENSUS_HEADER = (
    "pat_enc_csn_id,pat_mrn_id,encntr_dept_id,arrival_dttm,admsn_dttm,"
    "dschrg_dttm,bed_reqst_to_bed_asgnd"
)


def cycle_now(cycle: int) -> dt.datetime:
    """The injected clock of ETL cycle ``cycle`` (0 = set-up)."""
    return ETL_T0 + dt.timedelta(hours=ETL_CYCLE_HOURS * cycle)


def _dept_paths(n: int) -> list[str]:
    out = []
    for i in range(n):
        out.append(f"org/r{i % 3}/fac{i % 4}/cc{i % 7}/u{i}/d{i}")
    return out


def _census_file(rng, now: dt.datetime, minute: int, dept_ids: list[int]) -> tuple[str, str, int]:
    stamp = now + dt.timedelta(minutes=minute)
    name = f"RWBFILE_{stamp.strftime('%y%m%d%H%M%S')}.csv"
    lines = [_CENSUS_HEADER]
    for r in range(ETL_ROWS_PER_FILE):
        csn = str(int(rng.integers(10**9, 10**10)))
        if rng.random() < 0.03:
            csn = f"X{csn[:6]}"  # dirty id: try_cast -> NULL
        dept = str(dept_ids[int(rng.integers(0, len(dept_ids)))])
        if rng.random() < 0.02:
            dept = "D" + dept  # malformed join key
        arr = stamp - dt.timedelta(hours=float(rng.uniform(1, 48)))
        arr_s = arr.strftime("%Y-%m-%d %H:%M:%S")
        if rng.random() < 0.03:
            arr_s = "2023-13-45 99:61:00"  # dirty timestamp
        adm = (arr + dt.timedelta(hours=float(rng.uniform(0, 6)))).strftime("%Y-%m-%d %H:%M:%S")
        dis = "" if rng.random() < 0.5 else (arr + dt.timedelta(days=2)).strftime("%Y-%m-%d %H:%M:%S")
        wait = str(int(rng.integers(0, 600)))
        lines.append(f"{csn},MRN{r:06d},{dept},{arr_s},{adm},{dis},{wait}")
    return name, "\n".join(lines) + "\n", ETL_ROWS_PER_FILE


def _workload_doc(rng, qualifier: str, org_id: int, day: str) -> tuple[str, int]:
    n = int(rng.integers(3, 7))
    m, d, y = int(day[5:7]), int(day[8:10]), day[:4]
    children = []
    for z in range(n):
        children.append({
            "key": {
                "SCHEDULE_COVERAGE_SCHEDULED_COUNT": str(int(rng.integers(0, 30))),
                "SCHEDULE_WORKLOAD_PLANNED_COUNT": str(int(rng.integers(0, 30))),
            },
            "coreEntityKey": {
                "ORG": {"id": str(org_id), "qualifier": qualifier},
                "DAY": {"id": day},
                "SCH_ZONE": {"id": str(z), "qualifier": ["Days", "Evenings", "Nights"][z % 3]},
            },
            "attributes": [
                {"key": "SCH_WORKLOAD_PLANNED_COUNT_JOB", "value": "RN"},
                {"key": "SCH_WORKLOAD_PLANNED_COUNT_DATE", "value": f"{m}/{d:02d}/{y}"},
                {"key": "SCH_WORKLOAD_PLANNED_COUNT_SPAN", "value": "12"},
                {"key": "SCH_COVERAGE_SCHEDULED_COUNT_JOB", "value": "LPN"},
                {"key": "SCH_COVERAGE_SCHEDULED_COUNT_DATE", "value": f"{m}/{d:02d}/{y}"},
                {"key": "SCH_COVERAGE_SCHEDULED_COUNT_SPAN", "value": "8"},
            ],
        })
    return json.dumps({"data": {"children": children}}), n


def write_etl_inputs(out_dir: str, seed: int, max_cycles: int) -> dict:
    """Write the etl_cycle inputs under ``out_dir`` and return the
    manifest the worker and the invariant checks read."""
    rng = np.random.default_rng(seed)
    n_dept = 40
    paths = _dept_paths(n_dept)
    dept_ids = [1000 + i for i in range(n_dept)]
    # mapping: two RUN_ID snapshots; the latest one is what readers see
    mapping = {"run_id": [], "epic_dept_id": [], "dept_bus_strctr": [],
               "frcst_yn": [], "mwod_yes_no": [], "stf_matrx_yes_no": []}
    for run_id in (1, 2):
        for i in range(n_dept):
            null_key = run_id == 2 and i % 13 == 12
            mapping["run_id"].append(run_id)
            mapping["epic_dept_id"].append(None if null_key else dept_ids[i])
            mapping["dept_bus_strctr"].append(None if null_key else paths[i])
            mapping["frcst_yn"].append(["Yes", "YES", "yes", "no"][int(rng.integers(0, 4))])
            mapping["mwod_yes_no"].append("no" if null_key or i % 5 == 4 else "yes")
            mapping["stf_matrx_yes_no"].append("YES" if i % 2 else "NO")
    mapping_dir = os.path.join(out_dir, "mapping")
    os.makedirs(mapping_dir)
    pq.write_table(pa.table({
        "run_id": pa.array(mapping["run_id"], pa.int64()),
        "epic_dept_id": pa.array(mapping["epic_dept_id"], pa.int64()),
        "dept_bus_strctr": mapping["dept_bus_strctr"],
        "frcst_yn": mapping["frcst_yn"],
        "mwod_yes_no": mapping["mwod_yes_no"],
        "stf_matrx_yes_no": mapping["stf_matrx_yes_no"],
    }), os.path.join(mapping_dir, "part-00000.parquet"))
    # zones: every cost center (prefix-4) gets day/night zones; a few
    # exact-level units get their own
    cc = sorted({"/".join(p.split("/")[:4]) for p in paths})
    zone_docs = [{
        "effectiveDate": "2023-04-01", "expirationDate": "2024-04-01",
        "location": {"qualifier": loc},
        "scheduleZoneSet": {"scheduleZones": [
            {"name": "Days", "description": "d", "startTime": "07:00:00", "endTime": "19:00:00"},
            {"name": "Nights", "description": "n", "startTime": "19:00:00", "endTime": "07:00:00"},
        ]},
    } for loc in cc + paths[::9]]
    # census landings: set-up files, then per cycle new files + one
    # re-offered (already ingested) file
    staging = os.path.join(out_dir, "census_staging")
    files: dict[str, int] = {}
    cycles = []
    for c in range(max_cycles + 1):
        now = cycle_now(c)
        n_new = ETL_BOOT_FILES if c == 0 else ETL_NEW_FILES
        cdir = os.path.join(staging, f"cycle_{c:03d}")
        os.makedirs(cdir)
        new = []
        for k in range(n_new):
            name, body, n = _census_file(rng, now, 5 * k, dept_ids)
            with open(os.path.join(cdir, name), "w") as f:
                f.write(body)
            files[name] = n
            new.append(name)
        reoffer = None
        if c > 0:
            old = sorted(set(files) - set(new))
            reoffer = old[int(rng.integers(0, len(old)))]
        cycles.append({
            "cycle": c, "new": new, "reoffer": reoffer,
            "bytes": sum(os.path.getsize(os.path.join(cdir, x)) for x in new),
        })
    # workload documents per (cycle, qualifier), with transient failures
    docs = {}
    for c in range(max_cycles + 1):
        day = cycle_now(c).strftime("%Y-%m-%d")
        for i, p in enumerate(paths):
            body, n = _workload_doc(rng, p, dept_ids[i], day)
            docs[f"{c}|{p}"] = {"body": body, "children": n,
                                "fail_first": bool(rng.random() < 0.15)}
    with open(os.path.join(out_dir, "workload_docs.json"), "w") as f:
        json.dump(docs, f)
    return {
        "mapping": mapping_dir,
        "zones": json.dumps(zone_docs),
        "staging": staging,
        "docs": os.path.join(out_dir, "workload_docs.json"),
        "file_rows": files,
        "cycles": cycles,
    }
