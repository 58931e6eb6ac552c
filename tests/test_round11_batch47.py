"""Round-11 widening batch 47: Kupiec POF backtest, Brier
decomposition."""

from __future__ import annotations

import math

import pytest

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import (
    brier_decomposition,
    kupiec_pof,
)

# --------------------------------------------------------------- kupiec


def _breaches(spark, x, n):
    rows = [(1,)] * x + [(0,)] * (n - x)
    return spark.createDataFrame(rows, "v INT")


def test_kupiec_calibrated_model_small_lr(spark):
    # exactly 5 breaches in 100 at p=0.05: LR = 0 (MLE == null)
    r = kupiec_pof(_breaches(spark, 5, 100), "v", 0.05).collect()[0]
    assert r["rate"] == pytest.approx(0.05)
    assert r["lr_pof"] == pytest.approx(0.0, abs=1e-9)


def test_kupiec_hand_computed_excess_breaches(spark):
    # 10 breaches in 100 at p=0.05
    r = kupiec_pof(_breaches(spark, 10, 100), "v", 0.05).collect()[0]
    ll0 = 90 * math.log(0.95) + 10 * math.log(0.05)
    ll1 = 90 * math.log(0.90) + 10 * math.log(0.10)
    assert r["lr_pof"] == pytest.approx(-2 * (ll0 - ll1), abs=1e-5)
    assert r["lr_pof"] > 3.84  # rejected at 5% chi2(1)


def test_kupiec_boundary_zero_breaches(spark):
    r = kupiec_pof(_breaches(spark, 0, 50), "v", 0.05).collect()[0]
    # x=0: LR = -2 * 50 ln(0.95), the exact limit
    assert r["lr_pof"] == pytest.approx(-2 * 50 * math.log(0.95), abs=1e-5)
    with pytest.raises(ValueError, match="p_expected"):
        kupiec_pof(_breaches(spark, 0, 5), "v", 1.0)


# ---------------------------------------------------- brier decomposition


def test_brier_identity_holds(spark):
    rows = [
        (0.05, 0), (0.05, 0), (0.15, 0), (0.15, 1),
        (0.65, 1), (0.65, 0), (0.95, 1), (0.95, 1),
    ]
    df = spark.createDataFrame(rows, "p DOUBLE, y INT")
    r = brier_decomposition(df, "p", "y", n_bins=10).collect()[0]
    # Murphy identity with the within-bin term:
    # brier = rel - res + unc + within_bin_var
    assert r["brier"] == pytest.approx(
        r["reliability"] - r["resolution"] + r["uncertainty"]
        + r["within_bin_var"],
        abs=1e-5,
    )
    assert r["base_rate"] == pytest.approx(0.5)
    assert r["uncertainty"] == pytest.approx(0.25)


def test_brier_perfect_forecaster(spark):
    rows = [(0.999, 1)] * 5 + [(0.001, 0)] * 5
    df = spark.createDataFrame(rows, "p DOUBLE, y INT")
    r = brier_decomposition(df, "p", "y", n_bins=10).collect()[0]
    assert r["brier"] < 1e-5
    assert r["reliability"] < 1e-5
    # resolution equals uncertainty: forecasts fully separate outcomes
    assert r["resolution"] == pytest.approx(r["uncertainty"], abs=1e-6)


def test_brier_constant_base_rate_forecaster(spark):
    # always predict the base rate: zero resolution, zero reliability
    rows = [(0.5, 1)] * 5 + [(0.5, 0)] * 5
    df = spark.createDataFrame(rows, "p DOUBLE, y INT")
    r = brier_decomposition(df, "p", "y", n_bins=10).collect()[0]
    assert r["resolution"] == pytest.approx(0.0, abs=1e-9)
    assert r["reliability"] == pytest.approx(0.0, abs=1e-9)
    assert r["brier"] == pytest.approx(0.25, abs=1e-6)
    with pytest.raises(ValueError, match="n_bins"):
        brier_decomposition(df, "p", "y", n_bins=1)


def test_brier_exact_on_any_partitioning(spark):
    # sum (p - y)^2 = 4.55 over 32 rows: the Brier score is exactly
    # 0.1421875, on the 6-dp rounding boundary, so it must round
    # half-up to 0.142188 however the rows are split
    rows = (
        [(0.3, 1)] * 5 + [(0.7, 0)] * 3 + [(0.1, 0)] * 11
        + [(0.9, 1)] * 7 + [(0.2, 0)] * 5 + [(0.5, 1)]
    )
    df = spark.createDataFrame(rows, "p DOUBLE, y INT")
    got = {
        tuple(brier_decomposition(df.repartition(n), "p", "y").collect()[0])
        for n in (1, 3, 7, 13)
    }
    assert len(got) == 1
    r = brier_decomposition(df, "p", "y").collect()[0]
    assert r["brier"] == 0.142188
