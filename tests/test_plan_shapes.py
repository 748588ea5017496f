"""Physical-plan shape assertions — the 100 TB posture checks.

Correctness tests prove the small-scale answer; these prove the PLAN that
produces it survives scale-up: no cartesian products on blocked paths, no
gratuitous Exchange for already-split inputs, O(1) shuffles where the
operator promises them.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.feature_store.store import point_in_time_values
from mlops_pipelines_featurestore_gcp_spark.operators import dedup, similarity


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_d05_blocked_plan_has_no_cartesian(spark):
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 5 - 2) for d in range(64)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    out = similarity.coord_sign_blocked_pairs(emb, threshold=0.45)
    plan = _plan(out)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_spread_is_noop_for_presplit_input(spark):
    target = spark.sparkContext.defaultParallelism
    df = spark.range(0, 10_000, numPartitions=target + 2).withColumn("text", F.concat(F.lit("doc "), F.col("id")))
    spread = dedup._spread(df)
    assert spread is df  # guard returns the input untouched — no Exchange
    small = spark.range(0, 10, numPartitions=1)
    assert dedup._spread(small).rdd.getNumPartitions() == target


def test_point_in_time_is_single_asof_pass(spark):
    values = spark.createDataFrame(
        [(str(e), f, f"v{e}{f}{t}", f"2024-01-0{t} 00:00:00") for e in range(3) for f in ("a", "b", "c", "d") for t in (1, 2)],
        "entity_id string, feature_name string, value string, feature_time string",
    ).withColumn("feature_time", F.col("feature_time").cast("timestamp"))
    spine = spark.createDataFrame(
        [(str(e), "2024-01-03 00:00:00") for e in range(3)], "entity_id string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = point_in_time_values(values, spine, spine_key="entity_id", spine_time="ts")
    # 4 features → the r1 shape was one window (one sort+exchange) PER
    # feature; the single-pass shape has exactly one window regardless of N
    plan = _plan(out)
    assert plan.count("RunningWindowFunction") + plan.count("Window") <= 2, plan
    # and the values are still the as-of-correct ones
    row = {r.entity_id: r for r in out.collect()}
    assert row["0"].a == "v0a2" and row["2"].d == "v2d2"


def test_read_latest_prunes_partitions(spark, tmp_path):
    from mlops_pipelines_featurestore_gcp_spark.feature_store.store import FeatureStore

    fs = FeatureStore(spark, str(tmp_path / "store"))
    src = spark.createDataFrame(
        [(1, 10.0, "2024-01-01 12:00:00"), (1, 20.0, "2024-02-01 12:00:00"), (2, 30.0, "2024-03-01 12:00:00")],
        "uid long, bal double, t string",
    ).withColumn("t", F.col("t").cast("timestamp"))
    fs.import_feature_values("s", "user", src, entity_id_field="uid", feature_time="t")

    wide = fs.read_latest("s", "user", at="2024-01-15 00:00:00")
    plan = _plan(wide)
    # the feature_date partition filter must reach the scan: only the
    # 2024-01-01 partition survives (1 of 3)
    assert "PartitionFilters" in plan and "feature_date" in plan.split("PartitionFilters", 1)[1][:200], plan
    rows = {r.entity_id: r.bal for r in wide.collect()}
    assert rows == {"1": "10.0"}


def test_sql_api_matches_dataframe_path(spark, sf_small):
    """spark.sql over the registered views is a first-class way in — same
    answer as the DataFrame plan for a representative query."""
    from mlops_pipelines_featurestore_gcp_spark import plans
    from mlops_pipelines_featurestore_gcp_spark.sources.catalog import register_temp_views

    register_temp_views(spark, sf_small)
    sql_out = spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 1000.0
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
        """
    ).collect()
    df_out = plans.QUERIES["q02_filter_project_topk"].fn(spark, sf_small).collect()
    assert [tuple(r) for r in sql_out] == [tuple(r) for r in df_out]


def test_bm25_plan_broadcasts_df_table_no_cartesian(spark):
    from mlops_pipelines_featurestore_gcp_spark.operators.relevance import bm25_scores

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i} gamma") for i in range(50)], "doc_id long, text string"
    )
    plan = _plan(bm25_scores(docs, "doc_id", "text", ["alpha", "gamma"]))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    # the |query|-row df table must come in as a broadcast, not a shuffle join
    assert "BroadcastHashJoin" in plan, plan


def test_bloom_contamination_plan_broadcasts_filter(spark):
    from mlops_pipelines_featurestore_gcp_spark.operators.contamination import (
        bloom_contamination,
        build_gram_bloom,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(12))) for i in range(30)],
        "doc_id long, text string",
    )
    bloom = build_gram_bloom(docs.limit(5), "doc_id", "text", n=5)
    plan = _plan(bloom_contamination(docs, bloom, "doc_id", "text", n=5))
    assert "BroadcastHashJoin" in plan, plan  # fixed-size filter broadcasts
    assert "CartesianProduct" not in plan, plan


def test_token_vocab_has_no_unpartitioned_window_on_vocab_path(spark):
    # r9: the global rank/coverage must come from per-partition windows +
    # config-sized offsets, never a whole-vocabulary single-task sort
    # (10⁸–10⁹ distinct tokens at web scale). The only windows with an
    # EMPTY partition spec allowed are the offset prefix sums over the
    # per-__pid aggregate (≤ shuffle-partitions rows, config-bounded).
    import re

    from mlops_pipelines_featurestore_gcp_spark.operators.text_analysis import token_vocab

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j) % 40}" for j in range(30))) for i in range(200)],
        "doc_id long, text string",
    )
    out = token_vocab(docs, "doc_id", "text")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        args = [a.strip() for a in spec.split(",")]
        partition_or_order = [a for a in args if not a.startswith("specifiedwindowframe")]
        if any("token" in a or a.startswith("tf#") for a in partition_or_order):
            # a window touching vocab rows must be partitioned by __pid
            assert any(a.startswith("__pid") for a in partition_or_order), plan


def test_importance_sample_is_map_only(spark):
    from mlops_pipelines_featurestore_gcp_spark.operators.sampling import importance_sample

    df = spark.createDataFrame([(i, 0.5) for i in range(100)], "doc_id long, w double")
    plan = _plan(importance_sample(df, "doc_id", "w"))
    assert "Exchange" not in plan, plan  # pure filter: zero shuffles


def test_semantic_pairs_join_spread_survives_aqe(spark, sf_small):
    """r10: AQE coalesces exchanges by INPUT bytes and cannot see the
    Σ cell² row explosion inside d07's within-cell self-join — at the
    100× gate the 146M-pair scoring stage ran 10-wide (244s) until an
    explicit cell-keyed repartition restored full width. User
    repartitions are exempt from AQE coalescing; pin that the optimized
    plan still carries REPARTITION_BY_NUM on the cell key so a refactor
    can't silently drop it."""
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    pairs = similarity.semantic_dedup_pairs(emb, n_clusters=4, threshold=0.4)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan or "repartitionbyexpression" in plan.lower(), plan[:2000]
