"""Deterministic sampling: reproducibility, rate accuracy, independence."""

from __future__ import annotations

from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.operators import sampling
from mlops_pipelines_featurestore_gcp_spark.sources.catalog import load_table


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


def test_stratified_allowlist(spark, sf_medium):
    docs = load_table(spark, "documents", sf_medium)
    out = sampling.stratified_sample(docs, "doc_id", "lang", {"en": 1.0, "es": 0.0})
    langs = {r.lang for r in out.select("lang").distinct().collect()}
    assert langs == {"en"}  # es sampled at 0, others dropped entirely


def test_token_budget(spark, sf_medium):
    from mlops_pipelines_featurestore_gcp_spark.operators.text_analysis import text_profile

    docs = load_table(spark, "documents", sf_medium)
    profiled = docs.join(text_profile(docs, "doc_id", "text"), "doc_id")
    total = profiled.agg(F.sum("n_tokens")).first()[0]
    budget = int(total * 0.4)
    out = sampling.token_budget_sample(profiled, budget)
    got = out.agg(F.sum("n_tokens")).first()[0]
    assert abs(got - budget) / budget < 0.15
    # under-budget corpus passes through untouched
    assert sampling.token_budget_sample(profiled, int(total * 10)).count() == profiled.count()


def test_leakage_safe_split_duplicates_same_side(spark):
    df = spark.createDataFrame(
        [(i, f"unique doc {i}") for i in range(40)]
        + [(100 + i, "Shared   Boilerplate Text") for i in range(6)],
        "doc_id long, text string",
    )
    out = sampling.leakage_safe_split(df, "doc_id", "text", val_fraction=0.5)
    rows = {r.doc_id: (r.group_id, r.split) for r in out.collect()}
    assert len(rows) == 46
    dup_assignments = {rows[100 + i] for i in range(6)}
    # all six duplicates share one group and one side
    assert len(dup_assignments) == 1
    assert dup_assignments.pop()[0] == 100
    # both sides are populated at 50% on the unique docs
    splits = {s for _, s in rows.values()}
    assert splits == {"train", "val"}


def test_leakage_safe_split_near_dup_components(spark):
    df = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(10)], "doc_id long, text string"
    )
    # near-dup graph: 0-1-2 chained, 5-6 paired
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"
    )
    out = sampling.leakage_safe_split(df, "doc_id", "text", val_fraction=0.5, pairs=pairs)
    rows = {r.doc_id: (r.group_id, r.split) for r in out.collect()}
    assert rows[0] == rows[1] == rows[2]
    assert rows[5] == rows[6]
    # singletons group to themselves
    assert rows[3][0] == 3 and rows[9][0] == 9


def test_leakage_safe_split_deterministic(spark, sf_small):
    docs = load_table(spark, "documents", sf_small)
    a = {r.doc_id: r.split for r in sampling.leakage_safe_split(docs, "doc_id", "text").collect()}
    b = {r.doc_id: r.split for r in sampling.leakage_safe_split(docs, "doc_id", "text").collect()}
    assert a == b
    frac = sum(1 for s in a.values() if s == "val") / len(a)
    assert 0.03 < frac < 0.25


def test_importance_sample_weight_extremes_and_determinism(spark):
    from mlops_pipelines_featurestore_gcp_spark.operators.sampling import importance_sample

    rows = [(i, 0.0) for i in range(50)] + [(i + 100, 10.0) for i in range(50)] + [
        (i + 1000, 0.5) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    kept = importance_sample(df, "doc_id", "w", scale=1.0)
    ids = sorted(r.doc_id for r in kept.collect())
    assert all(i >= 100 for i in ids)                    # zero weights always drop
    assert all(100 <= i < 200 for i in ids if i < 1000)  # w*scale >= 1 always keeps
    assert sum(1 for i in ids if i < 1000) == 50
    mid = sum(1 for i in ids if i >= 1000)
    assert 60 <= mid <= 140  # ~p=0.5 of 200, generous band
    again = sorted(r.doc_id for r in importance_sample(df, "doc_id", "w", scale=1.0).collect())
    assert ids == again  # reshuffle-proof determinism


def test_per_group_cap_exact_and_deterministic(spark):
    from mlops_pipelines_featurestore_gcp_spark.operators.sampling import per_group_cap

    rows = [(i, f"g{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    capped = per_group_cap(df, "doc_id", "source", 4)
    out = capped.collect()
    from collections import Counter
    sizes = Counter(r.source for r in out)
    assert all(v == 4 for v in sizes.values()) and len(sizes) == 3
    # deterministic: same survivors under a different partitioning
    again = per_group_cap(df.repartition(7), "doc_id", "source", 4).collect()
    assert {r.doc_id for r in again} == {r.doc_id for r in out}
    # groups under the cap pass through whole
    small = per_group_cap(df.where(F.col("doc_id") < 2), "doc_id", "source", 4)
    assert small.count() == 2
