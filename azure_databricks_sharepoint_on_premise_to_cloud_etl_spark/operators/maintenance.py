"""Table maintenance (SURVEY.md 2.11 M1-M5) on parquet tables.

The reference runs Delta OPTIMIZE / retention DELETE / VACUUM over its
five tables (code/ukg_tbl_optmztn.py:14-85).  On plain parquet (the
fixture environment) the equivalents are compact-rewrite, filtered
overwrite, and orphan-file cleanup.  On Delta-enabled deployments the
one-line SQL versions apply unchanged (``spark.sql("OPTIMIZE t")``).
"""

from __future__ import annotations

import datetime as _dt
import math
import os
import shutil

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F


def compact(
    spark: SparkSession,
    table_path: str,
    target_file_mb: int = 128,
) -> int:
    """M1 compaction: rewrite the table into ~target-sized files.

    File count is derived from on-disk size, so repeated appends of
    tiny run batches (the reference's small-file problem that OPTIMIZE
    addressed) collapse back to large scan-friendly files.  Returns the
    new file count.
    """
    size_b = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(table_path)
        for f in fs
    )
    n_files = max(1, math.ceil(size_b / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(table_path)
    tmp = table_path.rstrip("/") + ".__compact_tmp"
    # coalesce not repartition: compaction should avoid a full shuffle
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(table_path)
    os.rename(tmp, table_path)
    return n_files


def retention_delete(
    spark: SparkSession,
    table_path: str,
    ts_col: str = "row_insert_tsp",
    retention_days: int = 30,
    now: _dt.datetime | None = None,
) -> int:
    """M2 retention (code/ukg_tbl_optmztn.py:39-60): drop rows older
    than the retention window.  Parquet has no row-level DELETE, so
    this is a filtered rewrite; on Delta it becomes
    ``DELETE FROM t WHERE ts < cutoff``.  Returns rows kept, counted
    by an ``Observation`` on the rewrite itself (no re-read)."""
    now = now or _dt.datetime.now(_dt.timezone.utc)
    cutoff = (now - _dt.timedelta(days=retention_days)).replace(tzinfo=None)
    df = spark.read.parquet(table_path)
    kept_rows = Observation("retention_kept")
    kept = df.filter(F.col(ts_col) >= F.lit(cutoff)).observe(
        kept_rows, F.count(F.lit(1)).alias("n")
    )
    tmp = table_path.rstrip("/") + ".__retention_tmp"
    kept.write.mode("overwrite").parquet(tmp)
    n = kept_rows.get["n"]
    shutil.rmtree(table_path)
    os.rename(tmp, table_path)
    return n


def vacuum(table_path: str) -> int:
    """M3 vacuum: remove non-data temp/orphan artifacts (crc files,
    leftover _temporary dirs).  Delta's VACUUM removes unreferenced
    versions; parquet tables have no version manifest, so only
    write-job debris is collectable.  Returns files removed."""
    removed = 0
    for dp, dns, fns in os.walk(table_path, topdown=False):
        for f in fns:
            if f.startswith(".") and f.endswith(".crc"):
                os.remove(os.path.join(dp, f))
                removed += 1
        for d in dns:
            if d == "_temporary":
                shutil.rmtree(os.path.join(dp, d))
                removed += 1
    return removed


def create_table_ddl(
    spark: SparkSession, name: str, schema_sql: str, location: str
) -> None:
    """M4 (ddl/*.py pattern): drop-and-create an external parquet
    table at a location."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} ({schema_sql}) USING parquet LOCATION '{location}'"
    )


# ---------------------------------------------------------------------------
# Optional Delta Lake mode (M1-M3/M5 native forms)
# ---------------------------------------------------------------------------

#: The one-line Delta SQL each parquet-rewrite above replaces on a
#: Delta-enabled deployment (reference: code/ukg_tbl_optmztn.py:14-85).
DELTA_FORMS = {
    "compact": "OPTIMIZE {table}",
    "retention_delete": (
        "DELETE FROM {table} WHERE {ts_col} < TIMESTAMP '{cutoff}'"
    ),
    "vacuum": "VACUUM {table} RETAIN {retain_hours} HOURS",
    "time_travel": "SELECT * FROM {table} VERSION AS OF {version}",
}


def delta_enabled(spark: SparkSession) -> bool:
    """True when Delta Lake is actually usable in this session: the
    ``delta`` package imports AND the session was built with the Delta
    SQL extension + catalog.  The test container ships neither (no
    network, no delta-spark wheel), so parquet-rewrite maintenance is
    the default; on Databricks/OSS-Delta both conditions hold and
    ``run_delta_maintenance`` switches to the native forms."""
    try:
        import delta  # noqa: F401
    except ImportError:
        return False
    try:
        ext = spark.conf.get("spark.sql.extensions", "") or ""
    except Exception:
        return False
    return "io.delta.sql.DeltaSparkSessionExtension" in ext


def run_delta_maintenance(spark: SparkSession, op: str, **params):
    """Execute the native Delta form of a maintenance op (see
    ``DELTA_FORMS``).  Raises RuntimeError with a clear message when
    Delta is unavailable rather than failing deep inside the parser —
    callers fall back to the parquet-rewrite implementations above."""
    if op not in DELTA_FORMS:
        raise KeyError(f"unknown delta maintenance op: {op}")
    if not delta_enabled(spark):
        raise RuntimeError(
            "Delta Lake is not available in this session; use the "
            "parquet-rewrite maintenance operators (compact/"
            "retention_delete/vacuum) instead"
        )
    return spark.sql(DELTA_FORMS[op].format(**params))
