"""HLL-sketch distinct-count rollup (streaming/distinct_rollup.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.streaming.distinct_rollup import DistinctCountRollup


def _dr(tmp_path, **kw):
    kw.setdefault("bucket_width", 100)
    kw.setdefault("buckets_per_partition", 4)
    return DistinctCountRollup(
        str(tmp_path / "dr"), time_col="t", item_col="u", keys=["k"], **kw
    )


def _batch(spark, rows):
    return spark.createDataFrame(rows, "t long, k string, u long")


def test_incremental_equals_full_rebuild_exactly(spark, tmp_path):
    # same sketch algorithm + lgK → identical sketch state → identical
    # estimates, however the data was batched
    rows = [(i % 1000, "a", i % 57) for i in range(3000)]
    inc = _dr(tmp_path)
    for b in range(3):
        inc.refresh(_batch(spark, [r for i, r in enumerate(rows) if i % 3 == b]), batch_id=b)
    full = DistinctCountRollup(
        str(tmp_path / "full"), time_col="t", item_col="u", keys=["k"],
        bucket_width=100, buckets_per_partition=4,
    )
    full.refresh(_batch(spark, rows), batch_id=0)
    got = {(r.bucket, r.k): (r.n_rows, r.approx_distinct) for r in inc.read(spark).collect()}
    want = {(r.bucket, r.k): (r.n_rows, r.approx_distinct) for r in full.read(spark).collect()}
    assert got == want


def test_estimates_near_true_distinct(spark, tmp_path):
    dr = _dr(tmp_path)
    # bucket 0: 57 distinct users; bucket 1: 200 distinct users
    rows = [(5, "a", i % 57) for i in range(500)] + [(105, "a", i) for i in range(200)]
    dr.refresh(_batch(spark, rows), batch_id=0)
    got = {r.bucket: r.approx_distinct for r in dr.read(spark).collect()}
    assert abs(got[0] - 57) / 57 < 0.05
    assert abs(got[1] - 200) / 200 < 0.05


def test_cross_bucket_union_deduplicates(spark, tmp_path):
    dr = _dr(tmp_path)
    # the SAME 50 users active in every bucket: per-bucket ≈50 each, but the
    # range union must also be ≈50 (a SUM of per-bucket counts would say 200)
    rows = [(b * 100 + 5, "a", u) for b in range(4) for u in range(50)]
    dr.refresh(_batch(spark, rows), batch_id=0)
    row = dr.read_range(spark).collect()[0]
    assert abs(row.approx_distinct - 50) / 50 < 0.05
    assert row.n_rows == 200


def test_replay_skipped_and_range_pruning(spark, tmp_path):
    dr = _dr(tmp_path)
    b0 = [(5, "a", 1), (5, "a", 2)]
    dr.refresh(_batch(spark, b0), batch_id=0)
    dr.refresh(_batch(spark, b0), batch_id=0)  # replay: no double union
    row = dr.read(spark).collect()[0]
    assert row.n_rows == 2
    rows = [(i * 100 + 5, "a", i) for i in range(12)]
    dr2 = DistinctCountRollup(
        str(tmp_path / "dr2"), time_col="t", item_col="u", keys=["k"],
        bucket_width=100, buckets_per_partition=4,
    )
    dr2.refresh(_batch(spark, rows), batch_id=0)
    out = dr2.read_range(spark, bucket_min=4, bucket_max=7).collect()[0]
    assert out.n_rows == 4  # only buckets 4..7 contribute
    plan = dr2.read_range(spark, bucket_min=4, bucket_max=7)._jdf.queryExecution().executedPlan().toString()
    assert "pgroup" in plan  # dir-level pruning reached the plan


def test_null_time_rows_dropped(spark, tmp_path):
    dr = _dr(tmp_path)
    dr.refresh(_batch(spark, [(5, "a", 1), (None, "a", 2)]), batch_id=0)
    rows = dr.read(spark).collect()
    assert len(rows) == 1 and rows[0].n_rows == 1


