from __future__ import annotations

import pytest

from mlops_pipelines_featurestore_gcp_spark.operators.drift import psi


def _df(spark, vals):
    return spark.createDataFrame([(float(v),) for v in vals], "x double")


def test_identical_distributions_are_stable(spark):
    vals = [i % 100 for i in range(1000)]
    r = psi(_df(spark, vals), _df(spark, vals), "x").collect()[0]
    assert r["psi"] < 0.01
    assert r["verdict"] == "stable"
    assert r["n_ref"] == r["n_cur"] == 1000


def test_shifted_distribution_detected(spark):
    ref = [i % 100 for i in range(1000)]
    cur = [900 + (i % 100) for i in range(1000)]  # mass far above ref range → edge bin
    r = psi(_df(spark, ref), _df(spark, cur), "x").collect()[0]
    assert r["psi"] > 0.25
    assert r["verdict"] == "shifted"


def test_moderate_drift_in_between(spark):
    ref = [i % 100 for i in range(1000)]
    # skew some mass upward
    cur = [min(99, (i % 100) * 1.35) for i in range(1000)]
    r = psi(_df(spark, ref), _df(spark, cur), "x").collect()[0]
    assert 0.0 < r["psi"], r
    assert r["verdict"] in ("drifting", "shifted")


def test_out_of_range_values_clamp_to_edge_bins(spark):
    ref = [i for i in range(100)]
    cur = [-1000.0] * 50 + [5000.0] * 50
    r = psi(_df(spark, ref), _df(spark, cur), "x").collect()[0]
    assert r["n_cur"] == 100  # nothing dropped
    assert r["verdict"] == "shifted"


def test_empty_reference_raises(spark):
    with pytest.raises(ValueError):
        psi(_df(spark, []), _df(spark, [1.0]), "x")


def test_drift_report_multiple_columns(spark):
    df = spark.createDataFrame(
        [(float(i % 10), float(i % 3)) for i in range(100)], "a double, b double"
    )
    # one report row per feature, unioned as f06_feature_drift does
    out = psi(df, df, "a").unionByName(psi(df, df, "b")).collect()
    assert [r["feature"] for r in out] == ["a", "b"]
    assert all(r["verdict"] == "stable" for r in out)
