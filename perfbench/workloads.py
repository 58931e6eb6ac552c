"""The two workloads: the fixed query op list and the ETL job.

``curation_heavy`` — the long, shuffle/iteration/Arrow-heavy rows that
the dedup and graph work targets, plus one similarity, stats and
windows row so every operator layer is measured somewhere.

``etl_cycle`` — the engine's own scheduled job (``EtlJob.cycle``):
land census CSVs, ingest them through the processed-file ledger, fetch
nested-JSON workload documents over a canned transport with transient
failures, run the census pipeline with post-then-audit, drain the
streaming twin, then run retention, compaction and vacuum on bronze.
It touches none of the dedup/graph code and is curation's bypass.
"""

from __future__ import annotations

import json
import os

CURATION_HEAVY = (
    "simhash_near_pairs", "curation_pipeline", "kcore", "cosine_topk",
    # one row each for the stats and windows operator layers
    "percentiles", "top1_latest_order",
)
QUERY_WORKLOADS = {"curation_heavy": CURATION_HEAVY}
WORKLOADS = ("etl_cycle", "curation_heavy")
QUERY_SF = 0.01  # scale factor of the generated query tables

# a pass's nominal length on a 4-core host: a run times
# max(1, round(seconds / NOMINAL_PASS_S)) passes, a count that does not
# depend on how fast the engine is, so every run times the same work
NOMINAL_PASS_S = {"etl_cycle": 15.0, "curation_heavy": 20.0}
FETCH_URL = "http://workload.invalid/api/v1/commons/data/multi_read"
POST_URL = "http://census.invalid/api/v1/census"


class CannedTransport:
    """In-process REST endpoint serving pre-generated workload
    documents; requests flagged ``fail_first`` get one 503 first."""

    def __init__(self, docs: dict):
        self.docs = docs
        self.cycle = 0
        self.failed_once: set[str] = set()
        self.retries = 0
        self.bytes = 0
        self.children = 0

    def __call__(self, url: str, body: str) -> tuple[int, str]:
        quals = json.loads(body)["from"]["locations"]["qualifiers"]
        out = []
        for q in quals:
            key = f"{self.cycle}|{q}"
            doc = self.docs.get(key)
            if doc is None:
                return 404, f"unknown qualifier {q}"
            if doc["fail_first"] and key not in self.failed_once:
                self.failed_once.add(key)
                self.retries += 1
                return 503, "service unavailable"
            out.append(doc)
        # one qualifier per request (ingest_workload's batch_size=1)
        self.bytes += sum(len(d["body"]) for d in out)
        self.children += sum(d["children"] for d in out)
        return 200, out[0]["body"]


class CaptureTransport:
    """POST sink that records every row it accepts."""

    def __init__(self) -> None:
        self.rows: list[dict] = []

    def __call__(self, url: str, body: str) -> tuple[int, str]:
        self.rows.extend(json.loads(body))
        return 201, "created"


class EtlJob:
    """One scheduled ETL run per ``cycle`` call, over a per-run
    directory.  ``pkg`` is the engine package's modules, passed in so
    that traced runs call the wrapped layer functions."""

    def __init__(self, spark, mods: dict, manifest: dict, root: str) -> None:
        from pyspark.sql import functions as F

        self.spark, self.m, self.man, self.F = spark, mods, manifest, F
        self.landing = os.path.join(root, "landing")
        os.makedirs(self.landing)
        self.paths = {k: os.path.join(root, "tables", k) for k in
                      ("bronze", "audit", "wl_master", "wl_child", "stream_out")}
        self.ckpt = os.path.join(root, "stream_ckpt")
        with open(manifest["docs"]) as f:
            self.transport = CannedTransport(json.load(f))
        self.mapping = spark.read.parquet(manifest["mapping"])
        js = mods["json_source"]
        zone_docs = js.json_documents_df(spark, [manifest["zones"]], js.ZONES_SCHEMA)
        self.zones = js.normalize_zones(zone_docs)
        self.log: list[dict] = []
        self.staged: dict[str, str] = {}
        self.seen: dict[str, int] = {}

    def land(self, c: int) -> None:
        """The upstream drop for cycle ``c`` (not part of the op)."""
        spec = self.man["cycles"][c]
        src = os.path.join(self.man["staging"], f"cycle_{c:03d}")
        # hard links: landing writes no data bytes of its own, so the
        # run's disk writes are the engine's
        for name in spec["new"]:
            os.link(os.path.join(src, name), os.path.join(self.landing, name))
        if spec["reoffer"]:
            # the upstream re-delivers an already-ingested file
            path = os.path.join(self.landing, spec["reoffer"])
            os.unlink(path)
            os.link(self.staged[spec["reoffer"]], path)
        for name in spec["new"]:
            self.staged[name] = os.path.join(src, name)

    def bootstrap(self) -> dict:
        """Set-up: ingest the already-landed files (cycle 0) and drain
        them through the streaming twin, so bronze, the ledger and the
        stream checkpoint exist before the first timed cycle."""
        m, spark = self.m, self.spark
        from datagen import cycle_now

        now = cycle_now(0)
        m["census"].ingest_census(spark, self.landing, self.paths["bronze"],
                                  m["writers"].make_run_id(now), now=now)
        self._drain(now)
        return {"cycle": 0, "setup": True, "written": self.written()}

    def _drain(self, now) -> None:
        m = self.m
        inc = m["incremental"]
        raw = inc.stream_from_files(self.spark, self.landing, m["census"].CENSUS_SCHEMA, "csv")
        body = raw.filter(~self.F.col("pat_enc_csn_id").eqNullSafe("pat_enc_csn_id"))
        inc.drain_available_now(m["census"].cast_census(body, now), self.ckpt,
                                self.paths["stream_out"])

    def cycle(self, c: int) -> dict:
        m, spark = self.m, self.spark
        from datagen import cycle_now

        now = cycle_now(c)
        run_id = m["writers"].make_run_id(now)
        rec = {"cycle": c}
        ledger = spark.read.parquet(self.paths["bronze"]).select("file_nm")
        m["census"].ingest_census(spark, self.landing, self.paths["bronze"], run_id,
                                  now=now, ledger=ledger)
        t = self.transport
        t.cycle = c
        retries0, bytes0, children0 = t.retries, t.bytes, t.children
        quals = m["workload"].valid_qualifiers(self.mapping)
        day = now.strftime("%Y-%m-%d")
        _master, _child, report = m["workload"].ingest_workload(
            spark, FETCH_URL, t, quals, day, day, self.paths["wl_master"],
            self.paths["wl_child"], run_id, now=now)
        rec.update(fetch_retries=t.retries - retries0, fetch_failed=len(report.failed),
                   fetch_bytes=t.bytes - bytes0, wl_children=t.children - children0)
        sink = CaptureTransport()
        run = m["census"].run_census_pipeline(
            spark, spark.read.parquet(self.paths["bronze"]), self.mapping, self.zones,
            None, POST_URL, sink, self.paths["audit"], run_id, now=now)
        rec["posted"] = [[r["dept_bus_strctr"], r["census_cnt"]] for r in sink.rows]
        rec["post_ok"] = bool(run.post_result and run.post_result.ok)
        self._drain(now)
        path = self.paths["bronze"]
        m["maintenance"].retention_delete(spark, path, now=now)
        before = table_files(path)
        m["maintenance"].compact(spark, path)
        m["maintenance"].vacuum(path)
        rec["compact"] = [before, table_files(path)]
        return rec

    def written(self) -> tuple[int, int, int]:
        """Files and bytes the sinks added since the last call (new
        data files in the run's tables), and the streaming twin's rows."""
        files = nbytes = 0
        for dp, _, fs in os.walk(os.path.join(os.path.dirname(self.landing), "tables")):
            for f in fs:
                p = os.path.join(dp, f)
                if f.endswith(".parquet") and p not in self.seen:
                    self.seen[p] = os.path.getsize(p)
                    files += 1
                    nbytes += self.seen[p]
        return files, nbytes, table_files(self.paths["stream_out"])[1]


def table_files(path: str) -> list[int]:
    """``[data files, rows]`` of a parquet table directory, from footers."""
    import pyarrow.parquet as pq

    files = [os.path.join(dp, f) for dp, _, fs in os.walk(path)
             for f in fs if f.endswith(".parquet")]
    return [len(files), sum(pq.ParquetFile(f).metadata.num_rows for f in files)]
