"""Bucketed co-located joins: same-key bucketed tables must sort-merge join
with no Exchange in the physical plan (write-time shuffle, read-time none)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.sources import bucketing
from mlops_pipelines_featurestore_gcp_spark.sources.catalog import load_table


def join_is_shuffle_free(joined) -> bool:
    """True when the physical plan contains a SortMergeJoin with no
    Exchange above either input — the bucketing payoff."""
    plan = joined._jdf.queryExecution().executedPlan().toString()
    return "SortMergeJoin" in plan and "Exchange" not in plan


@pytest.fixture
def bucketed_pair(spark, sf_small, tmp_path_factory):
    orders = load_table(spark, "orders", sf_small).select("o_orderkey", "o_totalprice")
    lineitem = load_table(spark, "lineitem", sf_small).select("l_orderkey", "l_quantity")
    bucketing.save_bucketed(orders, "b_orders", bucket_cols="o_orderkey", buckets=8, sort_cols="o_orderkey")
    bucketing.save_bucketed(lineitem, "b_lineitem", bucket_cols="l_orderkey", buckets=8, sort_cols="l_orderkey")
    yield "b_orders", "b_lineitem"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_is_shuffle_free(spark, sf_small, bucketed_pair):
    t_orders, t_lineitem = bucketed_pair
    o = bucketing.read_bucketed(spark, t_orders)
    li = bucketing.read_bucketed(spark, t_lineitem)
    # disable broadcast so the join strategy decision is about bucketing
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = o.join(li, o.o_orderkey == li.l_orderkey)
        assert join_is_shuffle_free(joined), (
            "bucketed same-key join should have no Exchange:\n"
            + joined._jdf.queryExecution().executedPlan().toString()[:2000]
        )
        # and it returns the same result as the plain join
        plain = (
            load_table(spark, "orders", sf_small)
            .join(
                load_table(spark, "lineitem", sf_small),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .count()
        )
        assert joined.count() == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_unbucketed_join_shuffles(spark, sf_small):
    o = load_table(spark, "orders", sf_small)
    li = load_table(spark, "lineitem", sf_small)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = o.join(li, o.o_orderkey == li.l_orderkey)
        assert not join_is_shuffle_free(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_orphan_dir_protected_unless_overwrite(spark, sf_small):
    # a warehouse dir the catalog doesn't know about may be live data from
    # another session — only mode='overwrite' may delete it
    from pathlib import Path
    from urllib.parse import urlparse

    wh = Path(urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).path)
    orphan = wh / "b_orphan_test"
    orphan.mkdir(parents=True, exist_ok=True)
    sentinel = orphan / "sentinel.txt"
    sentinel.write_text("live data")
    df = load_table(spark, "region", sf_small)
    try:
        for mode in ("error", "append"):
            with pytest.raises(FileExistsError, match="refusing to delete"):
                bucketing.save_bucketed(df, "b_orphan_test", bucket_cols="r_regionkey", buckets=2, mode=mode)
            assert sentinel.exists(), "non-overwrite mode must not touch the orphan"
        bucketing.save_bucketed(df, "b_orphan_test", bucket_cols="r_regionkey", buckets=2, mode="overwrite")
        assert spark.table("b_orphan_test").count() == df.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orphan_test")
