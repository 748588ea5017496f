"""FeatureStore API tests (FS1-FS7 semantics from SURVEY.md §2.9 + §5.2
property checks: import-twice → latest returns second, as-of between imports
returns first, one row per entity)."""

from __future__ import annotations

import json
import os
import random
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.feature_store import FeatureStore
from mlops_pipelines_featurestore_gcp_spark.feature_store import store as store_mod
from mlops_pipelines_featurestore_gcp_spark.feature_store.store import point_in_time_values
from mlops_pipelines_featurestore_gcp_spark.operators.asof import asof_join


@pytest.fixture
def store(spark, tmp_path):
    return FeatureStore(spark, str(tmp_path / "fs"))


def test_registry_lifecycle(store):
    store.create_featurestore("movie_fs", online_node_count=1)
    store.create_featurestore("other_fs")
    assert store.list_featurestores() == ["movie_fs", "other_fs"]
    with pytest.raises(ValueError, match="already exists"):
        store.create_featurestore("movie_fs")
    store.create_entity_type("movie_fs", "users", description="per-user features")
    for feat in ("user_id", "item_id", "rating", "timestamp"):
        store.create_feature("movie_fs", "users", feat, value_type="STRING")

    # duplicates are AlreadyExists, unknown parents NotFound (as in Vertex)
    with pytest.raises(ValueError, match="entity type 'users' already exists"):
        store.create_entity_type("movie_fs", "users")
    with pytest.raises(ValueError, match="feature 'rating' already exists"):
        store.create_feature("movie_fs", "users", "rating")
    with pytest.raises(ValueError, match="featurestore 'no_fs' does not exist"):
        store.create_entity_type("no_fs", "users")
    with pytest.raises(ValueError, match="featurestore 'no_fs' does not exist"):
        store.create_feature("no_fs", "users", "rating")
    with pytest.raises(ValueError, match="entity type 'items' does not exist"):
        store.create_feature("movie_fs", "items", "rating")
    # the same ids under another store are not duplicates
    store.create_entity_type("other_fs", "users")
    store.create_feature("other_fs", "users", "rating")

    with pytest.raises(ValueError, match="not empty"):
        store.cleanup_featurestore("movie_fs", force=False)
    assert store.list_featurestores() == ["movie_fs", "other_fs"]
    store.cleanup_featurestore("movie_fs", force=True)
    assert store.list_featurestores() == ["other_fs"]
    # a cleaned-up id can be registered again, with no children left over
    store.create_featurestore("movie_fs")
    store.create_entity_type("movie_fs", "users")


def test_registry_write_is_atomic_and_shared(store, spark, monkeypatch):
    store.create_featurestore("a")
    store.create_entity_type("a", "users")
    registry = Path(store.base_path) / "registry.json"
    before = registry.read_bytes()

    def failing_replace(src, dst):
        raise OSError("simulated crash")

    def partial_dump(doc, f, **kwargs):
        f.write('{"featurestores": {"b"')
        raise OSError("simulated crash")

    for owner, name, fake in ((store_mod.os, "replace", failing_replace), (store_mod.json, "dump", partial_dump)):
        monkeypatch.setattr(owner, name, fake)
        for create in (
            lambda: store.create_featurestore("b"),
            lambda: store.create_entity_type("a", "items"),
            lambda: store.create_feature("a", "users", "f"),
        ):
            with pytest.raises(OSError, match="simulated crash"):
                create()
            # the old document is untouched and still loads; no temp file is left
            assert registry.read_bytes() == before
            json.loads(before)
            assert os.listdir(store.base_path) == ["registry.json"]
            assert store.list_featurestores() == ["a"]
        monkeypatch.undo()

    # a second instance on the same base sees each write at once, both ways
    other = FeatureStore(spark, store.base_path)
    assert other.list_featurestores() == ["a"]
    store.create_featurestore("b")
    assert other.list_featurestores() == ["a", "b"]
    other.create_entity_type("b", "users")
    store.create_feature("b", "users", "f")
    with pytest.raises(ValueError, match="already exists"):
        other.create_feature("b", "users", "f")


def test_import_and_latest_read(store, spark):
    store.create_featurestore("fs")
    store.create_entity_type("fs", "users")
    src1 = spark.createDataFrame([(1, 10.0, "A"), (2, 20.0, "B")], "uid long, bal double, seg string")
    src2 = spark.createDataFrame([(1, 11.0, "A2")], "uid long, bal double, seg string")
    n1 = store.import_feature_values("fs", "users", src1, entity_id_field="uid", feature_time="2024-01-01")
    n2 = store.import_feature_values("fs", "users", src2, entity_id_field="uid", feature_time="2024-02-01")
    assert (n1, n2) == (4, 2)

    latest = {r.entity_id: (r.bal, r.seg) for r in store.read_latest("fs", "users").collect()}
    assert latest == {"1": ("11.0", "A2"), "2": ("20.0", "B")}

    # as-of between the two imports → first import wins
    asof = {r.entity_id: r.bal for r in store.read_latest("fs", "users", at="2024-01-15").collect()}
    assert asof == {"1": "10.0", "2": "20.0"}

    # IdMatcher-style restriction
    only2 = store.read_latest("fs", "users", entity_ids=[2]).collect()
    assert [r.entity_id for r in only2] == ["2"]


def test_import_is_append_one_row_per_entity(store, spark):
    store.create_featurestore("fs")
    store.create_entity_type("fs", "users")
    src = spark.range(50).select(F.col("id").alias("uid"), (F.col("id") * 2.0).alias("x"))
    store.import_feature_values("fs", "users", src, entity_id_field="uid", feature_time="2024-01-01")
    store.import_feature_values("fs", "users", src, entity_id_field="uid", feature_time="2024-01-02")
    vals = store.values("fs", "users")
    assert vals.count() == 100  # append, not overwrite
    wide = store.read_latest("fs", "users")
    assert wide.count() == 50  # one row per entity
    assert wide.groupBy("entity_id").count().where(F.col("count") > 1).count() == 0


def test_point_in_time_join_spine(store, spark):
    store.create_featurestore("fs")
    store.create_entity_type("fs", "u")
    imports = [("2024-01-01", 1.0), ("2024-01-10", 2.0), ("2024-01-20", 3.0)]
    for when, val in imports:
        src = spark.createDataFrame([(7, val)], "uid long, score double")
        store.import_feature_values("fs", "u", src, entity_id_field="uid", feature_time=when)
    spine = spark.createDataFrame(
        [("7", "2023-12-31"), ("7", "2024-01-05"), ("7", "2024-01-15"), ("7", "2024-02-01")],
        "uid string, t string",
    ).select("uid", F.col("t").cast("timestamp").alias("t"))
    out = store.point_in_time_join("fs", "u", spine, spine_key="uid", spine_time="t")
    got = {str(r.t.date()): r.score for r in out.collect()}
    assert got == {"2023-12-31": None, "2024-01-05": "1.0", "2024-01-15": "2.0", "2024-02-01": "3.0"}


def test_asof_join_inclusive_and_ties(spark):
    left = spark.createDataFrame([(1, 10), (1, 20), (2, 15)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 10, "at10"), (1, 10, "at10b"), (1, 15, "at15"), (2, 99, "late")],
        "k long, t long, v string",
    )
    out = asof_join(
        left,
        right.select("k", F.col("t").alias("rt"), "v"),
        "k",
        left_time="t",
        right_time="rt",
        tie_break="v",
    )
    got = {(r.k, r.t): r.v for r in out.collect()}
    # inclusive boundary; tie at rt=10 resolved to the larger tie_break value
    assert got == {(1, 10): "at10b", (1, 20): "at15", (2, 15): None}


def test_point_in_time_empty_values_returns_spine(spark):
    # no registered feature values -> the spine comes back unchanged (the
    # explode-over-feature-names path would otherwise drop every row)
    values = spark.createDataFrame(
        [], "entity_id long, feature_name string, feature_time timestamp, value double"
    )
    spine = spark.createDataFrame([(7, "2024-01-01 00:00:00")], "entity_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = point_in_time_values(values, spine, spine_key="entity_id", spine_time="ts")
    assert out.columns == spine.columns
    assert out.count() == 1


def test_online_materialize_and_pruned_read(store, spark):
    store.create_featurestore("fs")
    store.create_entity_type("fs", "users")
    src = spark.createDataFrame(
        [(i, float(i) * 1.5, f"seg{i % 3}") for i in range(40)],
        "uid long, bal double, seg string",
    )
    store.import_feature_values("fs", "users", src, entity_id_field="uid", feature_time="2024-01-01")
    path = store.materialize_online("fs", "users", buckets=8)

    # lookup agrees with the batch latest-read
    got = {r.entity_id: (r.bal, r.seg) for r in store.online_read("fs", "users", [3, 17]).collect()}
    assert got == {"3": ("4.5", "seg0"), "17": ("25.5", "seg2")}

    # the scan opened ONLY the buckets the keys hash to — partition pruning
    import zlib

    want = {zlib.crc32(e.encode()) % 8 for e in ("3", "17")}
    read_files = {
        r[0]
        for r in store.online_read("fs", "users", [3, 17])
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert read_files, "lookup read no files"
    assert all(any(f"bucket={b}/" in f for b in want) for f in read_files)

    # spark-side crc32 bucket == zlib.crc32 driver-side for every entity
    all_rows = spark.read.parquet(path).select("entity_id", "bucket").collect()
    assert all(r.bucket == zlib.crc32(r.entity_id.encode()) % 8 for r in all_rows)


def test_online_rematerialize_overwrites(store, spark):
    store.create_featurestore("fs")
    store.create_entity_type("fs", "users")
    src1 = spark.createDataFrame([(1, 10.0)], "uid long, bal double")
    store.import_feature_values("fs", "users", src1, entity_id_field="uid", feature_time="2024-01-01")
    store.materialize_online("fs", "users", buckets=4)
    src2 = spark.createDataFrame([(1, 99.0)], "uid long, bal double")
    store.import_feature_values("fs", "users", src2, entity_id_field="uid", feature_time="2024-02-01")
    store.materialize_online("fs", "users", buckets=4)
    assert [r.bal for r in store.online_read("fs", "users", [1]).collect()] == ["99.0"]


def test_cleanup_leaves_no_servable_online_store(store, spark):
    store.create_featurestore("fs")
    store.create_entity_type("fs", "users")
    src = spark.createDataFrame([(1, 10.0), (2, 20.0)], "uid long, bal double")
    store.import_feature_values("fs", "users", src, entity_id_field="uid", feature_time="2024-01-01")
    store.materialize_online("fs", "users", buckets=4)
    assert len(store.online_read("fs", "users", [1]).collect()) == 1

    store.cleanup_featurestore("fs")
    assert not os.path.exists(os.path.join(store.base_path, "online", "fs"))
    assert not os.path.exists(os.path.join(store.base_path, "values", "fs"))
    store.create_featurestore("fs")
    store.create_entity_type("fs", "users")
    with pytest.raises(ValueError, match="no online store materialized"):
        store.online_read("fs", "users", [1])


def _jobs_run(spark, fn):
    """``fn()`` and the number of Spark jobs it started, counted through a
    job group of its own."""
    sc = spark.sparkContext
    group = f"test-jobs-{random.getrandbits(64):x}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_online_read_matches_fresh_read_and_runs_no_planning_jobs(store, spark):
    """``online_read`` (recorded layout and schema, no job to build the
    frame) equals a fresh ``spark.read.parquet`` with the same bucket and
    entity filters, across a re-materialize that adds a feature column."""
    import zlib

    def oracle(keys, buckets):
        ids = [str(k) for k in keys]
        want = sorted({zlib.crc32(e.encode()) % buckets for e in ids})
        fresh = spark.read.parquet(os.path.join(store.base_path, "online", "fs", "users"))
        return fresh.where(F.col("bucket").isin(want)).where(F.col("entity_id").isin(ids))

    def check(rng, buckets, n_entities):
        for _ in range(6):
            keys = rng.sample(range(300), rng.randint(1, 20)) + rng.sample(["absent", "-1"], rng.randint(0, 2))
            got_df, build_jobs = _jobs_run(spark, lambda: store.online_read("fs", "users", keys))
            got, collect_jobs = _jobs_run(spark, got_df.collect)
            want_df = oracle(keys, buckets)
            assert (build_jobs, collect_jobs) == (0, 1)
            assert got_df.schema == want_df.schema
            assert sorted(map(tuple, got)) == sorted(map(tuple, want_df.collect()))
            assert {r.entity_id for r in got} == {str(k) for k in keys if k in range(n_entities)}

    rng = random.Random(7)
    _, meta_jobs = _jobs_run(
        spark,
        lambda: (
            store.create_featurestore("fs"),
            store.create_entity_type("fs", "users"),
            store.create_feature("fs", "users", "bal", value_type="DOUBLE"),
            store.list_featurestores(),
        ),
    )
    assert meta_jobs == 0
    src = spark.range(250).select(F.col("id").alias("uid"), (F.col("id") * 0.5).alias("bal"))
    store.import_feature_values("fs", "users", src, entity_id_field="uid", feature_time="2024-01-01")
    store.materialize_online("fs", "users", buckets=8)
    check(rng, 8, 250)

    # a new feature column and a new modulus: a stale recorded layout fails
    src2 = spark.range(100, 300).select(
        F.col("id").alias("uid"), (F.col("id") * 2.0).alias("bal"), (F.col("id") % 7).alias("tier")
    )
    store.import_feature_values("fs", "users", src2, entity_id_field="uid", feature_time="2024-02-01")
    store.materialize_online("fs", "users", buckets=5)
    assert store.online_read("fs", "users", [1]).columns == ["entity_id", "bal", "tier", "bucket"]
    check(rng, 5, 300)

    _, cleanup_jobs = _jobs_run(spark, lambda: store.cleanup_featurestore("fs"))
    assert cleanup_jobs == 0


def test_asof_forward_direction_and_tolerance(spark):
    left = spark.createDataFrame(
        [("e1", 10), ("e1", 25), ("e2", 5)], "entity string, t long"
    )
    right = spark.createDataFrame(
        [("e1", 12, "a"), ("e1", 30, "b"), ("e2", 100, "c")], "entity string, rt long, v string"
    )
    fwd = {
        (r.entity, r.t): r.v
        for r in asof_join(
            left, right, "entity", left_time="t", right_time="rt", direction="forward"
        ).collect()
    }
    # earliest right row at-or-after each left time
    assert fwd == {("e1", 10): "a", ("e1", 25): "b", ("e2", 5): "c"}

    tol = {
        (r.entity, r.t): r.v
        for r in asof_join(
            left, right, "entity", left_time="t", right_time="rt",
            direction="forward", tolerance=F.lit(10),
        ).collect()
    }
    # e2's only candidate is 95 ticks away → nulled by tolerance
    assert tol == {("e1", 10): "a", ("e1", 25): "b", ("e2", 5): None}

    back_tol = {
        (r.entity, r.t): r.v
        for r in asof_join(
            left, right, "entity", left_time="t", right_time="rt", tolerance=F.lit(5),
        ).collect()
    }
    # backward: t=25 matches rt=12 but 13 > 5 ticks stale → null
    assert back_tol == {("e1", 10): None, ("e1", 25): None, ("e2", 5): None}


def test_asof_timestamp_tolerance_interval(spark):
    left = spark.createDataFrame(
        [("e1", "2024-01-10"), ("e1", "2024-03-01")], "entity string, t string"
    ).select("entity", F.col("t").cast("timestamp").alias("t"))
    right = spark.createDataFrame(
        [("e1", "2024-01-01", 1.0)], "entity string, rt string, v double"
    ).select("entity", F.col("rt").cast("timestamp").alias("rt"), "v")
    got = {
        r.t.month: r.v
        for r in asof_join(
            left, right, "entity", left_time="t", right_time="rt",
            tolerance=F.expr("INTERVAL 30 DAYS"),
        ).collect()
    }
    assert got == {1: 1.0, 3: None}  # March read is 60 days stale → dropped
