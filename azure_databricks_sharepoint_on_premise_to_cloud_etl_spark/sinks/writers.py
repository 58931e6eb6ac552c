"""Table writers with audit columns and versioned-snapshot semantics
(SURVEY.md 2.2 K1-K4, 1.4).

The reference stamps every ingest row with the audit quintet
RUN_ID / ROW_INSERT_TSP / ROW_UPDT_TSP / INSERT_USER_ID / UPDT_USER_ID
(code/ukg_wrkload_dtl.py:194-199) and relies on versioned append +
``max(RUN_ID)`` reads for snapshot isolation.  We keep that model on
parquet (the fixture env has no Delta), with two determinism fixes the
oracle tests need (SURVEY 7.5 risk 5): the clock and user are
*injectable* instead of ``current_timestamp()`` / ``current_user``.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def make_run_id(now: _dt.datetime | None = None, suffix: int = 1) -> int:
    """``yyyyMMddHHmmss##`` run id from datetime parts — the
    reference's scheme (code/ukg_wrkload_dtl.py:257-263,
    code/ukg_dept_bus_strctr.py:93-99), injectable clock."""
    now = now or _dt.datetime.now(_dt.timezone.utc)
    return int(now.strftime("%Y%m%d%H%M%S")) * 100 + suffix


def with_audit_columns(
    df: DataFrame,
    run_id: int,
    user: str = "engine",
    now: _dt.datetime | None = None,
) -> DataFrame:
    """Append the audit quintet (K3, code/ukg_wrkload_dtl.py:194-199).

    ``lit(now)`` instead of ``current_timestamp()`` keeps output
    hash-stable under test; production callers pass ``now=None`` at
    pipeline start and share one timestamp per run.
    """
    now = now or _dt.datetime.now(_dt.timezone.utc)
    ts = F.lit(now.replace(tzinfo=None))
    return (
        df.withColumn("run_id", F.abs(F.lit(run_id).cast("long")))
        .withColumn("row_insert_tsp", ts.cast("timestamp"))
        .withColumn("row_updt_tsp", ts.cast("timestamp"))
        .withColumn("insert_user_id", F.lit(user))
        .withColumn("updt_user_id", F.lit(user))
    )


def append_versioned(
    df: DataFrame,
    path: str,
    run_id: int,
    user: str = "engine",
    now: _dt.datetime | None = None,
    partition_by: list[str] | None = None,
    merge_schema: bool = False,
) -> None:
    """Versioned append (K1/K2/K3): audit columns + parquet append.

    ``partition_by`` should include a coarse time/run key at scale so
    latest-snapshot readers prune partitions instead of scanning
    history (SURVEY section 4 'manual partition pruning').
    """
    out = with_audit_columns(df, run_id, user, now)
    writer = out.write.mode("append")
    if merge_schema:
        # On Delta this write option performs the schema merge
        # (code/ukg_open_census.py:763).  Plain parquet has no table
        # schema to merge INTO — evolution happens at READ time instead
        # (read_table(..., merge_schema=True)); the option is set for
        # Delta-compatible deployments and harmless otherwise.
        writer = writer.option("mergeSchema", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def export_latest_snapshot(
    spark: SparkSession, table_path: str, out_path: str, version_col: str = "run_id"
) -> None:
    """K4 (code/ukg_delta_to_parquet.py:9-13): overwrite-export rows of
    the max run_id.  The max is a scalar subquery — no driver value."""
    df = spark.read.parquet(table_path)
    df.createOrReplaceTempView("__export_src")
    spark.sql(
        f"SELECT * FROM __export_src WHERE {version_col} = "
        f"(SELECT max({version_col}) FROM __export_src)"
    ).write.mode("overwrite").parquet(out_path)


def read_table(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """Read a table; ``merge_schema=True`` is REQUIRED for tables whose
    appends evolved the schema (K2) — a plain parquet read samples one
    footer and may miss late-added columns depending on file order."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(path)
