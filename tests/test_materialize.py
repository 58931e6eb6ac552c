"""The materialization scope: layout checkpoints keep their layout, the
AQE planning window is the only place the flag changes, failures free
everything, and no other module materializes on its own."""

from __future__ import annotations

import re
import threading
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import materialize

AQE = "spark.sql.adaptive.enabled"
PKG = Path(__file__).resolve().parents[1] / (
    "azure_databricks_sharepoint_on_premise_to_cloud_etl_spark"
)


def _storage(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_layout_checkpoint_preserves_partitioning_and_ordering(spark):
    """A layout checkpoint of a frame hash-partitioned and sorted by a
    key must yield a LogicalRDD that RETAINS hashpartitioning(key) +
    ordering, so a downstream equi-join on the key needs no Exchange
    and no Sort on that side (under AQE a plain checkpoint decays to
    UnknownPartitioning).  Values must be unchanged."""
    base = spark.range(10_000).select(
        (F.col("id") % 97).alias("u"), (F.col("id") % 7).alias("v")
    )
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with materialize.scope() as ms:
        ck = ms.checkpoint(
            base.repartition(n, "u").sortWithinPartitions("u"), layout=True
        )
        # plan shape: in a forced sort-merge join on u, ONLY the other
        # side needs an Exchange — the checkpointed side's retained
        # partitioning and ordering are consumed as-is (a plain
        # checkpoint would put Exchange+Sort above both sides)
        other = spark.range(97).select(
            F.col("id").alias("u"), F.lit(1.0).alias("w")
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = ck.join(
                other, "u"
            )._jdf.queryExecution().executedPlan().toString()
            plain = ms.checkpoint(base)
            plan_plain = plain.join(
                other, "u"
            )._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        assert plan.count("Exchange") == 1, plan
        assert plan_plain.count("Exchange") == 2, plan_plain
        ms.release(plain)
        # values unchanged
        assert ck.count() == 10_000
        assert ck.agg(F.sum("u")).collect()[0][0] == base.agg(
            F.sum("u")
        ).collect()[0][0]


def test_background_checkpoint_plans_adaptively_under_another_threads_window(spark):
    """Thread A holds the AQE-off planning window; a background
    checkpoint started meanwhile must wait for it and then plan WITH
    AQE, and the flag must read its prior value afterwards."""
    before = spark.conf.get(AQE)
    src = spark.range(1_000).groupBy((F.col("id") % 7).alias("k")).count()
    # analyze and optimize up front, so an unlocked planner would
    # finish inside the window below
    src._jdf.queryExecution().optimizedPlan()
    entered, done = threading.Event(), threading.Event()

    def hold_window():
        with materialize._planning(spark, adaptive=False):
            entered.set()
            done.wait(30)

    a = threading.Thread(target=hold_window)
    a.start()
    assert entered.wait(30)
    try:
        with materialize.scope() as ms:
            fut = ms.background(src)
            time.sleep(2)
            assert not fut.done()  # blocked on the planning lock
            done.set()
            a.join(30)
            assert not a.is_alive()
            assert fut.result().count() == 7
            plan = src._jdf.queryExecution().executedPlan().toString()
    finally:
        done.set()
        a.join(30)
    assert plan.startswith("AdaptiveSparkPlan"), plan
    assert spark.conf.get(AQE) == before


def test_concurrent_scopes_never_lose_the_aqe_restore(spark):
    """More threads than cores, each a scope mixing AQE-off (layout)
    and adaptive background checkpoints under a tiny switch interval:
    an unlocked toggle would lose an update and leave AQE off.  Every
    frame is freed and the flag reads its prior value afterwards."""
    import os
    import sys

    before_aqe = spark.conf.get(AQE)
    before = _storage(spark)
    base = spark.range(200).select((F.col("id") % 11).alias("u"))
    errors = []

    def worker(i):
        try:
            with materialize.scope() as ms:
                fut = ms.background(base.filter(F.col("u") != i))
                ms.checkpoint(base.filter(F.col("u") == i), layout=True)
                fut.result()
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=worker, args=(i,))
            for i in range((os.cpu_count() or 2) + 2)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert spark.conf.get(AQE) == before_aqe
    assert _storage(spark) == before


def test_failed_scope_releases_everything_and_restores_aqe(spark):
    """A scope that raises after two checkpoints and a background
    checkpoint whose job fails leaves no executor blocks behind and
    the AQE flag as it found it."""
    before_aqe = spark.conf.get(AQE)
    before = _storage(spark)
    base = spark.range(2_000).select(
        (F.col("id") % 13).alias("u"), F.col("id").alias("v")
    )
    bad = base.select(
        F.when(F.col("v") >= 0, F.raise_error(F.lit("boom"))).alias("x")
    )
    with pytest.raises(Exception, match="boom"):
        with materialize.scope() as ms:
            ms.checkpoint(base.repartition(4, "u"), layout=True)
            ms.checkpoint(base.filter(F.col("v") % 2 == 0))
            fut = ms.background(bad)
            assert _storage(spark) == before + 2
            fut.result()
    assert _storage(spark) == before
    assert spark.conf.get(AQE) == before_aqe


def test_release_components_frees_by_kind(spark, tmp_path):
    """One list, freed by kind: a cached frame is unpersisted, a local
    checkpoint's RDD unpersisted, a reliable checkpoint's files
    deleted — and a second call is a no-op."""
    before = _storage(spark)
    df = spark.range(500).select((F.col("id") % 5).alias("k"))
    cpdir = tmp_path / "ckpt"
    with materialize.scope(checkpoint_dir=str(cpdir)) as reliable:
        rel = reliable.checkpoint(df)
        out = reliable.attach(rel.groupBy("k").count())
    with materialize.scope() as ms:
        cached = ms.hold(df.filter("k > 1").cache())
        ms.hold(out)
        res = ms.attach(cached.join(ms.checkpoint(df), "k"))
    assert res.count() == 300 * 100
    assert out.count() == 5
    assert any(p.is_file() for p in cpdir.rglob("*"))
    assert materialize.release_components(res) is True
    assert materialize.release_components(res) is False
    assert materialize.release_components(out) is False  # moved into res
    assert _storage(spark) == before
    assert not any(p.is_file() for p in cpdir.rglob("*"))


def test_hierarchical_fallback_frees_its_facts_cache(spark):
    """The query's cached facts ride on its result and are freed by
    ``release_components`` once the result is consumed."""
    from conftest import SF_DIR

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries.core import (
        q_hierarchical_fallback,
    )

    before = _storage(spark)
    out = q_hierarchical_fallback(spark, SF_DIR)
    assert out.count() > 0
    assert _storage(spark) > before
    assert materialize.release_components(out)
    assert _storage(spark) == before


def test_materialization_has_one_owner():
    """Outside materialize.py no module checkpoints, builds a thread
    pool or forwards release attributes by hand, and the AQE flag is
    only named by the session builder's default."""
    banned = re.compile(
        r"localCheckpoint\(|(?<!\bms)\.checkpoint\(|ThreadPoolExecutor"
        r"|_cc_final_generation|_cc_checkpoint_dir|_extra_ckpts"
        r"|_persisted_intermediates|_ckpt_handle"
    )
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "materialize.py":
            continue
        src = path.read_text()
        offenders += [
            f"{path.relative_to(PKG)}: {m.group(0)}" for m in banned.finditer(src)
        ]
        if path != PKG / "session.py" and "adaptive.enabled" in src:
            offenders.append(f"{path.relative_to(PKG)}: adaptive.enabled")
    assert not offenders, offenders
    session = (PKG / "session.py").read_text()
    assert session.count("adaptive.enabled") == 1
    assert '.config("spark.sql.adaptive.enabled", "true")' in session
