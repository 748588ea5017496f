"""FeatureStore API tests (FS1-FS7 semantics from SURVEY.md §2.9 + §5.2
property checks: import-twice → latest returns second, as-of between imports
returns first, one row per entity)."""

from __future__ import annotations

import json
import os
import random
import threading
from collections import Counter
from pathlib import Path

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.feature_store import FeatureStore
from mlops_pipelines_featurestore_gcp_spark.feature_store import store as store_mod
from mlops_pipelines_featurestore_gcp_spark.feature_store.store import latest_values, point_in_time_values
from mlops_pipelines_featurestore_gcp_spark.operators.asof import asof_join
from mlops_pipelines_featurestore_gcp_spark.streaming.upsert import bucket_of


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


def _online_root(store) -> Path:
    return Path(store.base_path) / "online" / "fs" / "users"


def _pointer(store) -> dict:
    return json.loads((_online_root(store) / "_current.json").read_text())


def test_online_materialize_and_pruned_read(store, spark, monkeypatch):
    store.create_featurestore("fs")
    store.create_entity_type("fs", "users")
    src = spark.createDataFrame(
        [(i, float(i) * 1.5, f"seg{i % 3}") for i in range(40)],
        "uid long, bal double, seg string",
    )
    store.import_feature_values("fs", "users", src, entity_id_field="uid", feature_time="2024-01-01")
    path = store.materialize_online("fs", "users", buckets=8)

    # the Arrow read opens ONLY files under the buckets the keys hash to
    opened = []
    real_dataset = store_mod.ds.dataset

    def recording_dataset(*args, **kwargs):
        dataset = real_dataset(*args, **kwargs)
        opened.extend(frag.path for frag in dataset.get_fragments())
        return dataset

    monkeypatch.setattr(store_mod.ds, "dataset", recording_dataset)

    # lookup agrees with the batch latest-read
    got = {r.entity_id: (r.bal, r.seg) for r in store.online_read("fs", "users", [3, 17]).collect()}
    assert got == {"3": ("4.5", "seg0"), "17": ("25.5", "seg2")}

    import zlib

    want = {zlib.crc32(e.encode()) % 8 for e in ("3", "17")}
    assert opened, "lookup read no files"
    assert all(f.startswith(path + "/") for f in opened)
    assert {int(f.split("/__kbucket=")[1].split("/")[0]) for f in opened} == want

    # spark-side crc32 bucket == zlib.crc32 driver-side for every entity,
    # and the store holds one long row per (entity, feature)
    all_rows = spark.read.parquet(path).select("entity_id", "feature_name", "__kbucket").collect()
    assert all(r["__kbucket"] == zlib.crc32(r.entity_id.encode()) % 8 for r in all_rows)
    assert sorted((r.entity_id, r.feature_name) for r in all_rows) == sorted(
        (str(i), f) for i in range(40) for f in ("bal", "seg")
    )


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
    # the online store is committed by its own pointer, not the registry
    doc = json.loads((Path(store.base_path) / "registry.json").read_text())
    assert "online" not in doc["featurestores"]["fs"]["entity_types"]["users"]

    store.cleanup_featurestore("fs")
    assert not os.path.exists(os.path.join(store.base_path, "online", "fs"))
    assert not os.path.exists(os.path.join(store.base_path, "values", "fs"))
    store.create_featurestore("fs")
    store.create_entity_type("fs", "users")
    with pytest.raises(ValueError, match="no online store materialized"):
        store.online_read("fs", "users", [1])


def test_online_read_matches_fresh_read_and_runs_no_planning_jobs(store, spark, spark_jobs):
    """``online_read`` (driver-side read of the current version; no job to
    build or collect the frame) equals ``read_latest`` for its keys, rows,
    columns and types, and its rows are those of a fresh
    ``spark.read.parquet`` of that version with the same bucket and entity
    filters, across a re-materialize that adds a feature and changes the
    modulus."""
    import zlib

    def fresh(keys, buckets):
        ids = [str(k) for k in keys]
        want = sorted({zlib.crc32(e.encode()) % buckets for e in ids})
        version = _online_root(store) / f"v{_pointer(store)['version']}"
        rows = spark.read.parquet(str(version)).where(F.col("__kbucket").isin(want)).where(F.col("entity_id").isin(ids))
        return sorted((r.entity_id, r.feature_name, r.value) for r in rows.collect())

    def check(rng, buckets, n_entities):
        for _ in range(6):
            keys = rng.sample(range(300), rng.randint(1, 20)) + rng.sample(["absent", "-1"], rng.randint(0, 2))
            got_df, build_jobs = spark_jobs(lambda: store.online_read("fs", "users", keys))
            got, collect_jobs = spark_jobs(got_df.collect)
            want_df = store.read_latest("fs", "users", entity_ids=keys)
            assert build_jobs == collect_jobs == []
            assert got_df.dtypes == want_df.dtypes
            assert sorted(map(tuple, got)) == sorted(map(tuple, want_df.collect()))
            long = [(r.entity_id, f, r[f]) for r in got for f in got_df.columns[1:] if r[f] is not None]
            assert sorted(long) == fresh(keys, buckets)
            assert {r.entity_id for r in got} == {str(k) for k in keys if k in range(n_entities)}

    rng = random.Random(7)
    _, meta_jobs = spark_jobs(
        lambda: (
            store.create_featurestore("fs"),
            store.create_entity_type("fs", "users"),
            store.create_feature("fs", "users", "bal", value_type="DOUBLE"),
            store.list_featurestores(),
        ),
    )
    assert meta_jobs == []
    src = spark.range(250).select(F.col("id").alias("uid"), (F.col("id") * 0.5).alias("bal"))
    store.import_feature_values("fs", "users", src, entity_id_field="uid", feature_time="2024-01-01")
    store.materialize_online("fs", "users", buckets=8)
    check(rng, 8, 250)

    # a new feature and a new modulus: a stale recorded layout fails
    src2 = spark.range(100, 300).select(
        F.col("id").alias("uid"), (F.col("id") * 2.0).alias("bal"), (F.col("id") % 7).alias("tier")
    )
    store.import_feature_values("fs", "users", src2, entity_id_field="uid", feature_time="2024-02-01")
    store.materialize_online("fs", "users", buckets=5)
    assert store.online_read("fs", "users", [1]).columns == ["entity_id", "bal", "tier"]
    assert _pointer(store) == {"version": 2, "buckets": 5, "features": ["bal", "tier"]}
    check(rng, 5, 300)

    _, cleanup_jobs = spark_jobs(lambda: store.cleanup_featurestore("fs"))
    assert cleanup_jobs == []


def test_online_read_during_refresh_serves_one_whole_snapshot(store, spark):
    """Reads racing a thread that re-materializes, alternating between two
    value sets: every read returns every requested present key, all with
    the values of one version, and raises nothing."""
    n, refreshes = 60, 12
    store.create_featurestore("fs")
    store.create_entity_type("fs", "users")
    for tag, when in (("a", "2024-01-01"), ("b", "2024-02-01")):
        src = spark.range(n).select(
            F.col("id").alias("uid"),
            F.concat(F.lit(tag), F.col("id").cast("string")).alias("f1"),
            F.concat(F.lit(tag + "-"), F.col("id").cast("string")).alias("f2"),
        )
        store.import_feature_values("fs", "users", src, entity_id_field="uid", feature_time=when)
    store.materialize_online("fs", "users", buckets=8)

    errors = []

    def refresh():
        try:
            for i in range(refreshes):
                # as of mid-January: value set "a"; latest: value set "b"
                store.materialize_online("fs", "users", buckets=8, at="2024-01-15" if i % 2 == 0 else None)
        except BaseException as e:  # surfaced by the main thread
            errors.append(e)

    worker = threading.Thread(target=refresh)
    worker.start()
    rng, reads, served = random.Random(11), 0, set()
    try:
        while worker.is_alive():
            keys = rng.sample(range(n + 10), rng.randint(1, 16))
            rows = store.online_read("fs", "users", keys).collect()
            reads += 1
            assert sorted(r.entity_id for r in rows) == sorted(str(k) for k in keys if k < n)
            tags = {r.f1[0] for r in rows}
            assert len(tags) <= 1, tags
            assert all((r.f1, r.f2) == (t + r.entity_id, f"{t}-{r.entity_id}") for t in tags for r in rows)
            served |= tags
    finally:
        worker.join(timeout=600)
    assert not worker.is_alive()
    assert not errors, errors
    assert reads > refreshes and served == {"a", "b"}
    # only the pointer, the current version and the one before it are left
    assert sorted(os.listdir(_online_root(store))) == ["_current.json", f"v{refreshes}", f"v{refreshes + 1}"]


def test_online_read_reloads_registry_once_when_its_snapshot_is_gone(store, spark, monkeypatch):
    """A lookup reads the online pointer once; one whose pointer read
    predates two refreshes finds its version removed, reloads once and
    serves the current version."""
    store.create_featurestore("fs")
    store.create_entity_type("fs", "users")
    for bal, when in ((10.0, "2024-01-01"), (99.0, "2024-02-01")):
        src = spark.createDataFrame([(1, bal)], "uid long, bal double")
        store.import_feature_values("fs", "users", src, entity_id_field="uid", feature_time=when)
    store.materialize_online("fs", "users", buckets=4, at="2024-01-15")
    stale = store._online_pointer("fs", "users")
    store.materialize_online("fs", "users", buckets=4)
    store.materialize_online("fs", "users", buckets=4)
    assert not (_online_root(store) / "v1").exists()

    real_pointer, loads, stale_docs = store._online_pointer, [], [stale]

    def counting_pointer(*args):
        loads.append(1)
        return stale_docs.pop() if stale_docs else real_pointer(*args)

    monkeypatch.setattr(store, "_online_pointer", counting_pointer)
    assert [r.bal for r in store.online_read("fs", "users", [1]).collect()] == ["99.0"]
    assert len(loads) == 2
    loads.clear()
    assert [r.bal for r in store.online_read("fs", "users", [1]).collect()] == ["99.0"]
    assert len(loads) == 1


def test_online_crash_before_flip_keeps_old_snapshot(store, spark, monkeypatch):
    """``os.replace`` fails after the new version is written: the pointer
    still names the old version, reads serve the old rows, and the next
    refresh removes the orphan directory."""
    store.create_featurestore("fs")
    store.create_entity_type("fs", "users")
    src1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "uid long, bal double")
    store.import_feature_values("fs", "users", src1, entity_id_field="uid", feature_time="2024-01-01")
    store.materialize_online("fs", "users", buckets=4)
    src2 = spark.createDataFrame([(1, 99.0)], "uid long, bal double")
    store.import_feature_values("fs", "users", src2, entity_id_field="uid", feature_time="2024-02-01")

    def failing_replace(src, dst):
        raise OSError("simulated crash")

    monkeypatch.setattr(store_mod.os, "replace", failing_replace)
    with pytest.raises(OSError, match="simulated crash"):
        store.materialize_online("fs", "users", buckets=4)
    monkeypatch.undo()

    root = _online_root(store)
    assert sorted(os.listdir(root)) == ["_current.json", "v1", "v2"]
    assert _pointer(store)["version"] == 1
    got = {r.entity_id: r.bal for r in store.online_read("fs", "users", [1, 2]).collect()}
    assert got == {"1": "10.0", "2": "20.0"}

    store.materialize_online("fs", "users", buckets=4)
    assert sorted(os.listdir(root)) == ["_current.json", "v1", "v3"]
    got = {r.entity_id: r.bal for r in store.online_read("fs", "users", [1, 2]).collect()}
    assert got == {"1": "99.0", "2": "20.0"}


def test_online_read_empty_and_absent_keys(store, spark, spark_jobs):
    """No keys, and only absent keys, each give an empty frame with the
    store's columns (all strings), and run no Spark job."""
    store.create_featurestore("fs")
    store.create_entity_type("fs", "users")
    src = spark.createDataFrame([(1, 10.0), (2, 20.0)], "uid long, bal double")
    store.import_feature_values("fs", "users", src, entity_id_field="uid", feature_time="2024-01-01")
    store.materialize_online("fs", "users", buckets=4)
    for keys in ([], ["absent", -1, 3]):
        df, build_jobs = spark_jobs(lambda: store.online_read("fs", "users", keys))
        rows, collect_jobs = spark_jobs(df.collect)
        assert rows == []
        assert build_jobs == collect_jobs == []
        assert df.dtypes == [("entity_id", "string"), ("bal", "string")]
        assert df.dtypes == store.read_latest("fs", "users", entity_ids=keys).dtypes


def test_online_materialize_over_an_empty_cut(store, spark, spark_jobs):
    """A refresh as of a time before every row finishes (its names
    observation reports on an empty write), commits an empty version and
    serves an empty frame of ``entity_id`` alone, like ``read_latest``; the
    next refresh serves the rows again."""
    store.create_featurestore("fs")
    store.create_entity_type("fs", "users")
    src = spark.createDataFrame([(1, 10.0), (2, 20.0)], "uid long, bal double")
    store.import_feature_values("fs", "users", src, entity_id_field="uid", feature_time="2024-01-01")
    store.materialize_online("fs", "users", buckets=4, at="2023-06-01")
    assert _pointer(store) == {"version": 1, "buckets": 4, "features": []}
    assert not [d for d in os.listdir(_online_root(store) / "v1") if d.startswith("__kbucket=")]
    df, jobs = spark_jobs(lambda: store.online_read("fs", "users", [1, 2]))
    assert jobs == [] and df.columns == ["entity_id"] and df.collect() == []
    assert store.read_latest("fs", "users", at="2023-06-01", entity_ids=[1, 2]).columns == ["entity_id"]
    store.materialize_online("fs", "users", buckets=4)
    assert {r.entity_id: r.bal for r in store.online_read("fs", "users", [1, 2]).collect()} == {"1": "10.0", "2": "20.0"}


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


def test_import_rejects_a_feature_time_that_is_no_column_or_timestamp(store, spark, spark_jobs):
    """A misspelled ``feature_time`` column raises on the driver, naming
    it, before any job runs, and writes nothing; the column itself and a
    literal date still import."""
    store.create_featurestore("fs")
    store.create_entity_type("fs", "users")
    src = spark.createDataFrame([(1, 10.0, "2024-03-01 00:00:00")], "uid long, bal double, event_time string")
    src = src.withColumn("event_time", F.col("event_time").cast("timestamp"))

    def typo():
        with pytest.raises(ValueError, match="'evnt_time'"):
            store.import_feature_values("fs", "users", src, entity_id_field="uid", feature_time="evnt_time")

    assert spark_jobs(typo)[1] == []
    assert not os.path.exists(store._values_path("fs", "users"))
    for when in ("event_time", "2024-01-01"):
        store.import_feature_values("fs", "users", src, entity_id_field="uid", feature_fields=["bal"], feature_time=when)
    dates = sorted(r.feature_date.isoformat() for r in store.values("fs", "users").collect())
    assert dates == ["2024-01-01", "2024-03-01"]


def test_import_rejects_an_empty_feature_list(store, spark, spark_jobs):
    """``feature_fields=[]`` names no feature: it raises on the driver
    before any job runs and writes nothing, where it used to import every
    column as if no list had been given."""
    store.create_featurestore("fs")
    store.create_entity_type("fs", "users")
    src = spark.createDataFrame([("a", "gold", 1.0), ("b", "tin", 2.0)], "uid string, tier string, bal double")

    def empty_list():
        with pytest.raises(ValueError, match=r"feature_fields \[\]"):
            store.import_feature_values("fs", "users", src, entity_id_field="uid", feature_fields=[])

    assert spark_jobs(empty_list)[1] == []
    assert not os.path.exists(store._values_path("fs", "users"))


def test_empty_import_writes_nothing_and_store_keeps_working(store, spark):
    """An import with no rows (a cycle with no new ratings) returns 0 and
    writes no rows, before and after real imports."""
    store.create_featurestore("fs")
    store.create_entity_type("fs", "users")
    src = spark.createDataFrame([(1, 10.0), (2, 20.0)], "uid long, bal double")
    empty = src.where("uid < 0")
    assert store.import_feature_values("fs", "users", empty, entity_id_field="uid", feature_time="2024-01-01") == 0
    assert store.values("fs", "users").count() == 0
    assert store.read_latest("fs", "users").collect() == []
    assert store.import_feature_values("fs", "users", src, entity_id_field="uid", feature_time="2024-01-01") == 2
    assert store.import_feature_values("fs", "users", empty, entity_id_field="uid", feature_time="2024-02-01") == 0
    assert store.values("fs", "users").count() == 2
    latest = {r.entity_id: r.bal for r in store.read_latest("fs", "users").collect()}
    assert latest == {"1": "10.0", "2": "20.0"}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_latest_reads_are_one_aggregation_and_refresh_runs_two_jobs(store, spark, spark_jobs, monkeypatch):
    """``read_latest`` and the online refresh plan no window; the refresh
    collects no feature names and builds no pivot, its only shuffle is the
    one that writes a file per bucket, and it runs at most 2 jobs."""
    from mlops_pipelines_featurestore_gcp_spark.streaming import upsert as upsert_mod

    store.create_featurestore("fs")
    store.create_entity_type("fs", "users")
    for when, scale in (("2024-01-01", 1.0), ("2024-02-01", 2.0)):
        src = spark.range(200).select(
            F.col("id").alias("uid"), (F.col("id") * scale).alias("bal"), (F.col("id") % 5).alias("tier")
        )
        store.import_feature_values("fs", "users", src, entity_id_field="uid", feature_time=when)
    assert "Window" not in _plan(store.read_latest("fs", "users", at="2024-01-15"))

    built = []
    real_latest = upsert_mod.latest_by

    def recording_latest(*args):
        built.append(real_latest(*args))
        return built[-1]

    def forbidden(*args):
        raise AssertionError("the refresh collects feature names or pivots")

    monkeypatch.setattr(upsert_mod, "latest_by", recording_latest)
    monkeypatch.setattr(store_mod, "feature_names", forbidden)
    monkeypatch.setattr(store_mod, "latest_wide", forbidden)
    store.materialize_online("fs", "users", buckets=8)
    _, jobs = spark_jobs(lambda: store.materialize_online("fs", "users", buckets=8))
    assert len(jobs) <= 2
    plan = _plan(built[-1])
    assert "Window" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    version = _online_root(store) / f"v{_pointer(store)['version']}"
    buckets = [b for b in os.listdir(version) if b.startswith("__kbucket=")]
    assert len(buckets) == 8
    assert all(len([f for f in os.listdir(version / b) if f.endswith(".parquet")]) == 1 for b in buckets)


def test_upsert_and_online_buckets_are_one_function(store, spark, tmp_path):
    """For random keys the ``__kbucket=`` directory ``upsert_batch`` writes,
    the driver-side ``bucket_of`` and the online store's ``__kbucket=`` all
    agree."""
    from mlops_pipelines_featurestore_gcp_spark.streaming.upsert import upsert_batch

    rng = random.Random(5)
    n = 7
    for kind, keys in (
        ("long", rng.sample(range(-(10**12), 10**12), 60)),
        ("string", ["".join(rng.choices("abcxyz019-é", k=rng.randint(1, 9))) for _ in range(60)]),
    ):
        keys = list(dict.fromkeys(keys))
        rows = [(k, 1.0) for k in keys]
        table = str(tmp_path / f"upsert_{kind}")
        upsert_batch(table, spark.createDataFrame(rows, f"k {kind}, v double"), key="k", version_col="v", n_buckets=n)
        current = os.path.join(table, "v1")  # the table's first version
        upserted = {r.k: r["__kbucket"] for r in spark.read.parquet(current).collect()}
        assert upserted == {k: bucket_of(k, n) for k in keys}

        fs = FeatureStore(spark, str(tmp_path / f"fs_{kind}"))
        fs.import_feature_values("fs", "users", spark.createDataFrame(rows, f"uid {kind}, v double"),
                                 entity_id_field="uid", feature_time="2024-01-01")
        snapshot = fs.materialize_online("fs", "users", buckets=n)
        online = {r.entity_id: r["__kbucket"] for r in spark.read.parquet(snapshot).collect()}
        assert online == {str(k): upserted[k] for k in keys}


def _window_latest(values, at=None):
    """The row_number window ``latest_values`` replaced, kept as its oracle:
    later ``feature_time`` first, then the larger value, NULLs last."""
    v = values if at is None else values.where(F.col("feature_time") <= F.lit(at).cast("timestamp"))
    w = Window.partitionBy("entity_id", "feature_name").orderBy(F.col("feature_time").desc(), F.col("value").desc())
    return v.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def _window_read_latest(values, at=None, ids=None):
    """The window-then-``first`` pivot ``read_latest`` replaced, with one
    column per feature name of the log as of ``at``."""
    latest = _window_latest(values, at)
    names = sorted({r.feature_name for r in latest.select("feature_name").collect()})
    if ids is not None:
        latest = latest.where(F.col("entity_id").isin([str(e) for e in ids]))
    return latest.groupBy("entity_id").pivot("feature_name", names).agg(F.first("value"))


_DAYS = [None, "2024-01-01 00:00:00", "2024-01-01 00:00:00", "2024-01-02 06:00:00", "2024-01-03 00:00:00"]
_FEATURES = ["f0", "f1", "f2"]
_wide_rows = st.lists(
    st.tuples(
        st.integers(0, 5),
        st.sampled_from(_DAYS),
        *[st.sampled_from([None, "a", "b", "c"]) for _ in _FEATURES],
    ),
    min_size=1,
    max_size=12,
)
# one import: its rows (some repeated), the features it carries, and how
# often it is imported (twice = a replayed import)
_imports = st.lists(
    st.tuples(_wide_rows, st.lists(st.sampled_from(_FEATURES), min_size=1, max_size=3, unique=True), st.integers(1, 2)),
    min_size=1,
    max_size=3,
)


def _rows(df):
    return Counter(map(tuple, df.collect()))


@given(
    imports=_imports,
    at=st.sampled_from([None, "2023-12-31", "2024-01-01 00:00:00", "2024-01-02 12:00:00", "2024-01-05"]),
    buckets=st.sampled_from([1, 3, 16]),
    ids=st.one_of(st.none(), st.lists(st.integers(0, 7), max_size=4)),
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_latest_reads_equal_the_window_oracle(spark, tmp_path_factory, imports, at, buckets, ids):
    """Over random long logs (feature-time ties, NULL times and values,
    duplicate rows, replayed and late imports, a random cutoff — before
    every row included), ``latest_values`` and ``read_latest`` equal the
    window implementation they replaced, and ``online_read`` after
    ``materialize_online`` equals ``read_latest``, columns included."""
    store = FeatureStore(spark, str(tmp_path_factory.mktemp("eq") / "fs"))
    for rows, feats, times in imports:
        src = spark.createDataFrame(
            rows + rows[: len(rows) // 2], "uid long, t string, f0 string, f1 string, f2 string"
        ).withColumn("t", F.col("t").cast("timestamp"))
        for _ in range(times):
            store.import_feature_values("fs", "users", src, entity_id_field="uid", feature_fields=feats, feature_time="t")
    values = store.values("fs", "users")

    got, want = latest_values(values, at=at), _window_latest(values, at)
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)

    want_wide = _window_read_latest(values, at, ids)
    got_wide = store.read_latest("fs", "users", at=at, entity_ids=ids)
    assert got_wide.columns == want_wide.columns
    assert _rows(got_wide) == _rows(want_wide)

    store.materialize_online("fs", "users", buckets=buckets, at=at)
    served = store.online_read("fs", "users", list(range(8)) if ids is None else ids)
    assert served.dtypes == got_wide.dtypes
    assert _rows(served) == _rows(got_wide)
