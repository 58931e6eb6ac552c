"""Batched, status-gated REST POST sink (SURVEY.md 2.2 K5, 2.12 R6).

The reference collects rows, POSTs JSON bodies per batch, and appends
the audit row ONLY on a 2xx response (code/ukg_open_census.py:739-763)
— persistence is gated on sink success.  We keep that transactional
ordering with a pluggable ``transport`` (tests inject a fake; real
deployments pass ``requests.post``), and the same shrink-to-1 retry.

Control-plane-sized posts run on the driver (as the reference does);
volume posts go through ``operators.batching.foreach_partition_batched``
so executors fan out the HTTP calls.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import materialize
from ..operators.batching import BatchReport, run_batched_with_retry

# transport(url, json_body) -> (status_code, response_text)
Transport = Callable[[str, str], tuple[int, str]]


@dataclass
class PostResult:
    report: BatchReport
    responses: list[tuple[int, str]]  # includes pre-retry failures

    @property
    def ok(self) -> bool:
        """Every row ultimately succeeded (retries count as success).
        NB: ``responses`` keeps pre-retry failure bodies for logging —
        don't derive success from it."""
        return self.report.ok


def post_rows(
    df: DataFrame,
    url: str,
    transport: Transport,
    batch_size: int = 20,
    error_batch_size: int = 1,
) -> PostResult:
    """POST the DataFrame's rows as JSON arrays in batches (K5).

    Raises inside a batch when the transport returns non-2xx so the
    retry policy (R2) engages; persistent failures land in the report
    (R3) instead of aborting the pipeline.
    """
    rows = [r.asDict(recursive=True) for r in df.collect()]
    responses: list[tuple[int, str]] = []

    def action(batch: list[dict]) -> None:
        status, body = transport(url, json.dumps(batch, default=str))
        responses.append((status, body))
        if not 200 <= status < 300:
            raise RuntimeError(f"POST {url} -> {status}: {body[:200]}")

    report = run_batched_with_retry(rows, action, batch_size, error_batch_size)
    return PostResult(report=report, responses=responses)


def post_then_audit(
    df: DataFrame,
    url: str,
    transport: Transport,
    write_audit: Callable[[DataFrame], None],
    batch_size: int = 20,
) -> PostResult:
    """R6 ordering (code/ukg_open_census.py:754-763): POST first; the
    audit write runs only if every batch ultimately succeeded.

    One materialization: ``df`` is computed once, into a checkpoint
    that both the POST and the audit read, so the audited rows are
    exactly the rows that were POSTed — a nondeterministic frame (a
    ``rand()`` column, a shuffle whose partitioning a concurrent conf
    change moves) cannot audit rows that differ from the posted ones,
    and the plan does not run twice.  The checkpoint is freed when
    this call returns or raises, so ``write_audit`` must consume the
    frame (write it, collect it) before it returns; a lazy frame it
    keeps for later would read freed blocks."""
    with materialize.scope() as ms:
        frozen = ms.checkpoint(df)
        result = post_rows(frozen, url, transport, batch_size)
        if result.report.ok:
            write_audit(frozen)
    return result


def post_rows_distributed(
    df: DataFrame,
    url: str,
    transport: Transport,
    batch_size: int = 100,
    error_batch_size: int = 1,
) -> DataFrame:
    """Volume path for K5: every partition serializes its own rows to
    JSON batches and POSTs executor-side (mapInPandas fan-out — the
    driver never holds the data), with the same R2 shrink-to-1 retry
    and R3 skip-and-log ledger as the driver-side sink.

    Returns a LEDGER DataFrame, one row per partition summary
    (``n_posted``, NULL failure fields) plus one row per persistently
    failed source row (``failed_row`` = its JSON, ``error`` = last
    transport error) — the same successes-plus-failure-ledger shape as
    ``sources.rest_source.fetch_distributed``.

    The ledger is eagerly localCheckpointed before returning: POSTing
    is a side effect, so the action must run exactly once — callers may
    filter/count the returned ledger freely without re-POSTing.
    ``transport`` must survive cloudpickle (a module-level function or
    closure) and be idempotent, since Spark may retry a failed task.
    """
    import pandas as pd

    def run(batches):
        for pdf in batches:
            rows = pdf.to_dict("records")
            if not rows:
                continue

            def action(batch: list[dict]) -> None:
                status, body = transport(url, json.dumps(batch, default=str))
                if not 200 <= status < 300:
                    raise RuntimeError(f"POST {url} -> {status}: {body[:200]}")

            report = run_batched_with_retry(
                rows, action, batch_size, error_batch_size
            )
            yield pd.DataFrame(
                {
                    "n_posted": [len(report.succeeded)],
                    "failed_row": [None],
                    "error": [None],
                }
            )
            if report.failed:
                yield pd.DataFrame(
                    {
                        "n_posted": [0] * len(report.failed),
                        "failed_row": [
                            json.dumps(r, default=str) for r, _ in report.failed
                        ],
                        "error": [e for _, e in report.failed],
                    }
                )

    ledger = df.mapInPandas(
        run, schema="n_posted LONG, failed_row STRING, error STRING"
    )
    with materialize.scope() as ms:
        return ms.attach(ms.checkpoint(ledger))


def post_then_audit_distributed(
    df: DataFrame,
    url: str,
    transport: Transport,
    write_audit: Callable[[DataFrame], None],
    batch_size: int = 100,
) -> DataFrame:
    """R6 success-gated persistence at volume: distributed POST first;
    the audit write runs only when the ledger shows zero persistent
    failures.  Returns the ledger so callers can alert on failures."""
    ledger = post_rows_distributed(df, url, transport, batch_size)
    if ledger.filter(F.col("failed_row").isNotNull()).isEmpty():
        write_audit(df)
    return ledger
