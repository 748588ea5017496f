"""Keyed upsert sink: insert/update/late-version semantics, bucket-pruned
rewrites, idempotent batch replay, streaming foreachBatch parity."""

from __future__ import annotations

import json
import os
from pathlib import Path

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.sources import atomic
from mlops_pipelines_featurestore_gcp_spark.streaming.upsert import (
    read_upsert_table,
    upsert_batch,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, ver long")


def _buckets(path) -> dict:
    """``__kbucket=`` dir -> {file name: inode} in the version the table's
    pointer names; an inode is shared across versions only by a hard link."""
    root = Path(path)
    current = root / f"v{json.loads((root / '_current.json').read_text())['version']}"
    return {
        d.name: {f.name: f.stat().st_ino for f in d.iterdir()}
        for d in current.iterdir()
        if d.name.startswith("__kbucket=")
    }


def test_upsert_insert_update_and_late_version(spark, tmp_path):
    path = str(tmp_path / "tbl")
    upsert_batch(path, _df(spark, [(1, "a", 1), (2, "b", 1)]), key="k", version_col="ver")
    upsert_batch(path, _df(spark, [(2, "b2", 2), (3, "c", 1)]), key="k", version_col="ver")
    # late replay of an OLD version must not regress key 2
    upsert_batch(path, _df(spark, [(2, "stale", 1)]), key="k", version_col="ver")
    got = {r.k: (r.v, r.ver) for r in read_upsert_table(spark, path).collect()}
    assert got == {1: ("a", 1), 2: ("b2", 2), 3: ("c", 1)}


def test_late_null_key_row_does_not_regress_the_null_key(spark, tmp_path):
    """A NULL key has a NULL bucket; its stored row is read back like any
    other touched bucket's, so it obeys latest-wins too."""
    path = str(tmp_path / "tbl")

    def batch(rows):
        return spark.createDataFrame(rows, "k string, v string, ver long")

    upsert_batch(path, batch([(None, "new", 5), ("a", "new", 5)]), key="k", version_col="ver", n_buckets=4)
    upsert_batch(path, batch([(None, "late", 1), ("a", "late", 1)]), key="k", version_col="ver", n_buckets=4)
    got = sorted((r.k or "", r.v, r.ver) for r in read_upsert_table(spark, path).collect())
    assert got == [("", "new", 5), ("a", "new", 5)]
    upsert_batch(path, batch([(None, "newer", 6)]), key="k", version_col="ver", n_buckets=4)
    got = sorted((r.k or "", r.v, r.ver) for r in read_upsert_table(spark, path).collect())
    assert got == [("", "newer", 6), ("a", "new", 5)]


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    path = str(tmp_path / "tbl")
    big = spark.range(0, 200).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v"), F.lit(1).cast("long").alias("ver")
    )
    upsert_batch(path, big, key="k", version_col="ver", n_buckets=16)
    before = _buckets(path)
    upsert_batch(path, _df(spark, [(7, "updated", 2)]), key="k", version_col="ver", n_buckets=16)
    after = _buckets(path)
    assert after.keys() == before.keys()
    changed = [d for d in before if before[d] != after[d]]
    assert len(changed) == 1, f"exactly one bucket dir should be rewritten, got {changed}"
    assert not set(after[changed[0]].values()) & set(before[changed[0]].values())
    got = {r.k: r.v for r in read_upsert_table(spark, path).collect()}
    assert got[7] == "updated" and len(got) == 200


def test_upsert_fresh_table_runs_one_pass_over_the_batch(spark, spark_jobs, tmp_path):
    """The batch is pinned before the touched-bucket probe, and a fresh
    table's merge cannot read the path it writes, so it takes no eager
    barrier: 4 jobs (5 with an eager checkpoint before the write). A
    stateful merge after it keeps latest-wins and one file per bucket."""
    path = str(tmp_path / "tbl")
    first = spark.range(0, 500).select(
        (F.col("id") % 30).alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v"), F.col("id").alias("ver")
    )
    _, jobs = spark_jobs(lambda: upsert_batch(path, first, key="k", version_col="ver", n_buckets=16))
    assert len(jobs) <= 4
    upsert_batch(path, _df(spark, [(3, "late", 1), (31, "new", 1), (29, "up", 600)]), key="k", version_col="ver", n_buckets=16)
    got = {r.k: (r.v, r.ver) for r in read_upsert_table(spark, path).collect()}
    newest = {k: k + 30 * ((499 - k) // 30) for k in range(30)}
    want = {k: (f"v{i}", i) for k, i in newest.items()} | {31: ("new", 1), 29: ("up", 600)}
    assert got == want
    for files in _buckets(path).values():
        assert len([f for f in files if f.endswith(".parquet")]) == 1


def test_stateful_upsert_writes_the_next_version_in_one_pass(spark, spark_jobs, tmp_path):
    """A stateful upsert reads the current version and writes the next, so
    it takes no eager barrier: at most 5 jobs (6 with one), for a 3 000-row
    batch and for a 1-key batch alike."""
    path = str(tmp_path / "tbl")
    first = spark.range(0, 3000).select(
        (F.col("id") % 1000).alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v"), F.col("id").alias("ver")
    )
    upsert_batch(path, first, key="k", version_col="ver", n_buckets=16)
    wide = spark.range(0, 3000).select(
        (F.col("id") % 1500).alias("k"), F.concat(F.lit("w"), F.col("id")).alias("v"), (F.col("id") + 5000).alias("ver")
    )
    _, jobs = spark_jobs(lambda: upsert_batch(path, wide, key="k", version_col="ver", n_buckets=16))
    assert len(jobs) <= 5
    _, jobs = spark_jobs(lambda: upsert_batch(path, _df(spark, [(3, "x", 99999)]), key="k", version_col="ver", n_buckets=16))
    assert len(jobs) <= 5
    got = {r.k: (r.v, r.ver) for r in read_upsert_table(spark, path).collect()}
    assert len(got) == 1500 and got[3] == ("x", 99999) and got[1499] == ("w2999", 7999)


def test_crash_before_commit_keeps_the_previous_table(spark, tmp_path, monkeypatch):
    """The pointer replace is the commit: a crash before it leaves the
    previous table reading back unchanged (its bucket files untouched), and
    a rerun of the batch converges to the state an uncrashed run reaches."""
    path, clean = str(tmp_path / "tbl"), str(tmp_path / "clean")
    first = _df(spark, [(k, f"a{k}", 1) for k in range(40)])
    batch = _df(spark, [(k, f"b{k}", 2) for k in range(0, 40, 3)] + [(99, "new", 1)])
    for p in (path, clean):
        upsert_batch(p, first, key="k", version_col="ver", n_buckets=8)
    upsert_batch(clean, batch, key="k", version_col="ver", n_buckets=8)
    before = sorted(map(tuple, read_upsert_table(spark, path).collect()))
    files = _buckets(path)

    def crash(*args, **kwargs):
        raise OSError("simulated crash")

    monkeypatch.setattr(atomic, "write_json", crash)
    with pytest.raises(OSError, match="simulated crash"):
        upsert_batch(path, batch, key="k", version_col="ver", n_buckets=8)
    monkeypatch.undo()
    assert sorted(map(tuple, read_upsert_table(spark, path).collect())) == before
    assert _buckets(path) == files

    upsert_batch(path, batch, key="k", version_col="ver", n_buckets=8)
    want = sorted(map(tuple, read_upsert_table(spark, clean).collect()))
    assert sorted(map(tuple, read_upsert_table(spark, path).collect())) == want
    assert sorted(os.listdir(path)) == ["_current.json", "v1", "v3"]


def test_upsert_batch_replay_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "tbl")
    upsert_batch(path, _df(spark, [(1, "a", 1), (2, "b", 1)]), key="k", version_col="ver")
    batch = _df(spark, [(1, "a2", 2), (9, "i", 1)])
    upsert_batch(path, batch, key="k", version_col="ver")
    state1 = sorted(map(tuple, read_upsert_table(spark, path).collect()))
    upsert_batch(path, batch, key="k", version_col="ver")  # crash-replay
    state2 = sorted(map(tuple, read_upsert_table(spark, path).collect()))
    assert state1 == state2


def test_upsert_schema_evolution_new_column(spark, tmp_path):
    path = str(tmp_path / "tbl")
    b1 = spark.createDataFrame([("k1", 1, 10.0), ("k2", 1, 20.0)], "id string, ver int, v double")
    upsert_batch(path, b1, key="id", version_col="ver", n_buckets=8)
    # batch 2 ADDS a column and updates k2 only
    b2 = spark.createDataFrame([("k2", 2, 21.0, "new")], "id string, ver int, v double, tag string")
    upsert_batch(path, b2, key="id", version_col="ver", n_buckets=8)
    got = {r.id: (r.ver, r.v, r.tag) for r in read_upsert_table(spark, path).collect()}
    assert got["k2"] == (2, 21.0, "new")
    assert got["k1"][0] == 1 and got["k1"][2] is None  # untouched row: NULL for new col


def test_upsert_replay_missing_new_column(spark, tmp_path):
    path = str(tmp_path / "tbl")
    wide = spark.createDataFrame([("k1", 2, 1.0, "x")], "id string, ver int, v double, tag string")
    upsert_batch(path, wide, key="id", version_col="ver", n_buckets=8)
    # a late/replayed narrow batch (older version) must neither fail nor
    # regress the key
    narrow = spark.createDataFrame([("k1", 1, 0.5)], "id string, ver int, v double")
    upsert_batch(path, narrow, key="id", version_col="ver", n_buckets=8)
    (row,) = read_upsert_table(spark, path).collect()
    assert (row.ver, row.v, row.tag) == (2, 1.0, "x")


def test_upsert_buckets_self_compact(spark, tmp_path):
    path = tmp_path / "tbl"
    for v in range(3):  # three merges into the same bucket set
        b = spark.createDataFrame(
            [(f"k{i}", v, float(v)) for i in range(20)], "id string, ver int, v double"
        )
        upsert_batch(str(path), b, key="id", version_col="ver", n_buckets=4)
    buckets = _buckets(path)
    assert len(buckets) == 4
    for d, files in buckets.items():
        parquet = [f for f in files if f.endswith(".parquet")]
        assert len(parquet) == 1, f"{d}: {len(parquet)} files"


def test_unversioned_table_fails_loudly(spark, tmp_path):
    """A table written in the unversioned layout (``__kbucket=`` dirs at
    its root, no pointer) raises instead of reading as empty: the dedup
    index would otherwise re-admit every doc against an empty store."""
    from mlops_pipelines_featurestore_gcp_spark.operators.incremental import IncrementalDedupIndex

    path = tmp_path / "tbl"
    (path / "__kbucket=3").mkdir(parents=True)
    with pytest.raises(ValueError, match="unversioned layout; rebuild"):
        upsert_batch(str(path), _df(spark, [(1, "a", 1)]), key="k", version_col="ver", n_buckets=8)
    with pytest.raises(ValueError, match="unversioned layout; rebuild"):
        read_upsert_table(spark, str(path))
    (tmp_path / "idx" / "exact" / "__kbucket=0").mkdir(parents=True)
    docs = spark.createDataFrame([(1, "the quick brown fox jumps")], "doc_id long, text string")
    with pytest.raises(ValueError, match="unversioned layout; rebuild"):
        IncrementalDedupIndex(spark, str(tmp_path / "idx")).ingest(docs, "doc_id", "text")


def test_upsert_refuses_another_bucket_modulus(spark, spark_jobs, tmp_path):
    """The pointer records the modulus: a batch bucketed by another one
    raises before any job runs and leaves the table as it was (it would
    put a key in a second bucket and read back twice), and a pointer
    written without a modulus asks for a rebuild."""
    path = str(tmp_path / "tbl")
    upsert_batch(path, _df(spark, [(k, f"a{k}", 1) for k in range(20)]), key="k", version_col="ver", n_buckets=4)
    assert json.loads((Path(path) / "_current.json").read_text()) == {"version": 1, "buckets": 4}

    def other_modulus():
        with pytest.raises(ValueError, match="bucketed by 4, not 7"):
            upsert_batch(path, _df(spark, [(k, f"b{k}", 2) for k in range(20)]), key="k", version_col="ver", n_buckets=7)

    assert spark_jobs(other_modulus)[1] == []
    got = read_upsert_table(spark, path).collect()
    assert len(got) == 20 and {r.v for r in got} == {f"a{k}" for k in range(20)}

    atomic.write_json(os.path.join(path, "_current.json"), {"version": 1})
    for call in (
        lambda: upsert_batch(path, _df(spark, [(1, "c", 3)]), key="k", version_col="ver", n_buckets=4),
        lambda: read_upsert_table(spark, path),
    ):
        with pytest.raises(ValueError, match="no bucket modulus; rebuild it"):
            call()


# a batch of (key, version) rows; a row's value is a function of both, so
# rows that tie on version are equal
_batches = st.lists(
    st.lists(st.tuples(st.integers(0, 9), st.integers(0, 4)), min_size=1, max_size=8), min_size=1, max_size=3
)


@given(batches=_batches, replays=st.lists(st.integers(0, 2), max_size=2), n_buckets=st.sampled_from([1, 3, 8]))
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_upsert_equals_pandas_latest_wins(spark, tmp_path_factory, batches, replays, n_buckets):
    """Over random batch sequences with replayed batches and older versions,
    the table holds each key's highest-version row, once."""
    path = str(tmp_path_factory.mktemp("upsert") / "tbl")
    applied = batches + [batches[i % len(batches)] for i in replays]
    for rows in applied:
        batch = _df(spark, [(k, f"{k}@{ver}", ver) for k, ver in rows])
        upsert_batch(path, batch, key="k", version_col="ver", n_buckets=n_buckets)
    log = pd.DataFrame([(k, f"{k}@{ver}", ver) for rows in applied for k, ver in rows], columns=["k", "v", "ver"])
    want = log.sort_values("ver").groupby("k").tail(1)
    got = read_upsert_table(spark, path).toPandas()
    assert list(got.columns) == ["k", "v", "ver"]
    assert sorted(map(tuple, got.values.tolist())) == sorted(map(tuple, want.values.tolist()))
