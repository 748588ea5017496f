from __future__ import annotations

import json
import os
import re

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.sources import atomic
from mlops_pipelines_featurestore_gcp_spark.streaming.distinct_rollup import DistinctCountRollup
from mlops_pipelines_featurestore_gcp_spark.streaming.rollup import ContinuousAggregate


def _ca(tmp_path, width=100):
    return ContinuousAggregate(
        str(tmp_path / "rollup"),
        time_col="t",
        value_col="v",
        keys=["k"],
        bucket_width=width,
    )


def _hll(tmp_path, width=100):
    return DistinctCountRollup(
        str(tmp_path / "rollup"),
        time_col="t",
        item_col="u",
        keys=["k"],
        bucket_width=width,
    )


def _batch(spark, rows):
    return spark.createDataFrame(rows, "t long, k string, v double")


def _both(spark, rows):
    """``_batch`` plus ``u = long(v)``, the distinct store's item column."""
    return _batch(spark, rows).withColumn("u", F.col("v").cast("long"))


# Both stores run the same store code; ``n`` is each one's finalized count.
ROLLUPS = pytest.mark.parametrize("make, n", [(_ca, "n"), (_hll, "n_rows")], ids=["sum", "hll"])


def _current(root) -> Path:
    """The version dir the store's pointer names."""
    root = Path(root)
    return root / f"v{json.loads((root / '_current.json').read_text())['version']}"


def _inodes(group: Path) -> dict:
    """File name -> inode: equal across versions only for a hard link, never
    for a rewrite or a copy."""
    return {f.name: f.stat().st_ino for f in group.iterdir()}


def test_incremental_refresh_equals_full_recompute(spark, tmp_path):
    ca = _ca(tmp_path)
    b1 = [(10, "a", 1.0), (20, "a", 3.0), (150, "b", 5.0)]
    b2 = [(30, "a", 5.0), (160, "b", 1.0), (990, "c", 7.0)]
    ca.refresh(_batch(spark, b1), batch_id=0)
    ca.refresh(_batch(spark, b2), batch_id=1)
    got = {(r.bucket, r.k): (r.n, r.total, r.vmin, r.vmax, r.vavg) for r in ca.read(spark).collect()}
    full = (
        _batch(spark, b1 + b2)
        .groupBy((F.floor(F.col("t") / 100)).cast("long").alias("bucket"), "k")
        .agg(
            F.count("v").alias("n"), F.sum("v").alias("total"),
            F.min("v").alias("vmin"), F.max("v").alias("vmax"), F.avg("v").alias("vavg"),
        )
    )
    expect = {(r.bucket, r.k): (r.n, r.total, r.vmin, r.vmax, r.vavg) for r in full.collect()}
    assert got == expect


@ROLLUPS
def test_replayed_batch_is_skipped(spark, tmp_path, make, n):
    ca = make(tmp_path)
    b = [(10, "a", 2.0)]
    ca.refresh(_both(spark, b), batch_id=0)
    ca.refresh(_both(spark, b), batch_id=0)  # replay under the same id
    rows = ca.read(spark).collect()
    assert len(rows) == 1
    assert rows[0][n] == 1
    if n == "n":
        assert rows[0]["total"] == 2.0
    else:
        assert rows[0]["approx_distinct"] == 1.0


def test_untouched_buckets_preserved(spark, tmp_path):
    ca = _ca(tmp_path)
    ca.refresh(_batch(spark, [(10, "a", 1.0), (550, "b", 9.0)]), batch_id=0)
    ca.refresh(_batch(spark, [(20, "a", 1.0)]), batch_id=1)  # touches bucket 0 only
    got = {(r.bucket, r.k): r.n for r in ca.read(spark).collect()}
    assert got[(0, "a")] == 2
    assert got[(5, "b")] == 1  # bucket 5 untouched by batch 1, still there


def test_cascade_hour_to_day(spark, tmp_path):
    fine = _ca(tmp_path, width=100)
    coarse = ContinuousAggregate(
        str(tmp_path / "coarse"), time_col="t", value_col="v", keys=["k"], bucket_width=300
    )
    fine.refresh(_batch(spark, [(10, "a", 1.0), (150, "a", 3.0), (290, "a", 5.0), (310, "a", 7.0)]), batch_id=0)
    fine.cascade_into(coarse, spark, batch_id=0)
    got = {(r.bucket, r.k): (r.n, r.total) for r in coarse.read(spark).collect()}
    assert got == {(0, "a"): (3, 9.0), (1, "a"): (1, 7.0)}


def test_null_time_rows_dropped(spark, tmp_path):
    # NULL event time has no bucket: keeping it would strand state in a
    # NULL partition that isin() pruning can never re-read (silent loss on
    # the next merge). Contract: dropped, like watermark-expired rows.
    ca = _ca(tmp_path)
    ca.refresh(_batch(spark, [(10, "a", 1.0), (None, "a", 9.0)]), batch_id=0)
    ca.refresh(_batch(spark, [(None, "a", 7.0), (20, "a", 2.0)]), batch_id=1)
    rows = ca.read(spark).collect()
    assert len(rows) == 1
    assert rows[0]["n"] == 2 and rows[0]["total"] == 3.0


def test_partition_dirs_bounded_by_bucket_group(spark, tmp_path):
    # 10 buckets at buckets_per_partition=4 → ceil coverage of 3 pgroup
    # dirs, NOT 10 bucket dirs (the r3 small-files layout).
    ca = ContinuousAggregate(
        str(tmp_path / "rollup"), time_col="t", value_col="v", keys=["k"],
        bucket_width=100, buckets_per_partition=4,
    )
    rows = [(i * 100 + 5, "a", float(i)) for i in range(10)]
    ca.refresh(_batch(spark, rows), batch_id=0)
    store = _current(tmp_path / "rollup")
    dirs = [e for e in store.iterdir() if e.name.startswith("pgroup=")]
    assert {d.name for d in dirs} == {"pgroup=0", "pgroup=1", "pgroup=2"}
    # self-compacting: one data file per pgroup dir per rewrite
    for d in dirs:
        files = [f for f in d.iterdir() if f.name.endswith(".parquet")]
        assert len(files) == 1, f"{d.name} has {len(files)} files"


def test_refresh_rewrites_only_touched_groups(spark, tmp_path):
    ca = ContinuousAggregate(
        str(tmp_path / "rollup"), time_col="t", value_col="v", keys=["k"],
        bucket_width=100, buckets_per_partition=4,
    )
    ca.refresh(_batch(spark, [(5, "a", 1.0), (905, "b", 2.0)]), batch_id=0)  # pgroups 0, 2
    before = _current(tmp_path / "rollup")
    untouched, touched = _inodes(before / "pgroup=2"), _inodes(before / "pgroup=0")
    ca.refresh(_batch(spark, [(105, "a", 3.0)]), batch_id=1)  # pgroup 0 only
    after = _current(tmp_path / "rollup")
    assert after != before
    assert _inodes(after / "pgroup=2") == untouched, "refresh of pgroup 0 must link pgroup 2's files"
    assert not set(_inodes(after / "pgroup=0").values()) & set(touched.values())
    got = {(r.bucket, r.k): r.n for r in ca.read(spark).collect()}
    assert got == {(0, "a"): 1, (1, "a"): 1, (9, "b"): 1}


def test_bucket_range_read_prunes_and_matches(spark, tmp_path):
    ca = ContinuousAggregate(
        str(tmp_path / "rollup"), time_col="t", value_col="v", keys=["k"],
        bucket_width=100, buckets_per_partition=4,
    )
    rows = [(i * 100 + 5, "a", float(i)) for i in range(12)]
    ca.refresh(_batch(spark, rows), batch_id=0)
    got = sorted(r.bucket for r in ca.read(spark, bucket_min=3, bucket_max=9).collect())
    assert got == [3, 4, 5, 6, 7, 8, 9]
    # the derived pgroup bounds must appear in the plan (directory pruning)
    plan = ca.read(spark, bucket_min=3, bucket_max=9)._jdf.queryExecution().executedPlan().toString()
    assert "pgroup" in plan


def _exchanges(plan: str) -> int:
    return len(re.findall(r"\bExchange\b", plan))


@ROLLUPS
def test_stateful_refresh_merges_inside_the_write_shuffle(spark, spark_jobs, tmp_path, monkeypatch, make, n):
    """A stateful refresh runs at most 6 Spark jobs and takes no eager
    checkpoint: its one write reads the current version and writes the
    next. One Exchange sits in that write's plan between the union of
    stored and incoming partials and the write: the pgroup repartition,
    with the merge grouped inside it (a merge shuffle on (bucket, keys)
    ahead of it makes 2 Exchanges). Each rewritten pgroup dir still holds
    one file."""
    ca = make(tmp_path)
    ca.refresh(_both(spark, [(i * 7 % 9000, "abc"[i % 3], float(i % 50)) for i in range(600)]), batch_id=0)
    batch = _both(spark, [(i * 11 % 9000, "abd"[i % 3], float(i % 70)) for i in range(600)])
    frame, writer = type(batch), type(batch.write)
    real_checkpoint, real_parquet = frame.localCheckpoint, writer.parquet
    eagers, writes = [], []

    def recording_checkpoint(self, eager=True, storageLevel=None):
        if eager:
            eagers.append(self)
        return real_checkpoint(self, eager, storageLevel)

    def recording_parquet(self, path, *args, **kwargs):
        writes.append(self._df._jdf.queryExecution().executedPlan().toString())
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(frame, "localCheckpoint", recording_checkpoint)
    monkeypatch.setattr(writer, "parquet", recording_parquet)
    _, jobs = spark_jobs(lambda: ca.refresh(batch, batch_id=1))
    monkeypatch.undo()

    assert len(jobs) <= 6
    assert eagers == []
    (write,) = writes
    assert "Union" in write
    assert _exchanges(write) == 1
    for d in _current(tmp_path / "rollup").iterdir():
        if d.name.startswith("pgroup="):
            assert len([f for f in d.iterdir() if f.name.endswith(".parquet")]) == 1


@ROLLUPS
def test_torn_mark_write_keeps_the_previous_mark(spark, tmp_path, monkeypatch, make, n):
    """The pointer (version and replay mark) is replaced atomically: a
    crash halfway through its ``json.dump`` leaves the previous pointer
    byte-identical and loadable, with no temp file beside it; the version
    written before the crash is an orphan the next commit sweeps."""
    ca = make(tmp_path)
    ca.refresh(_both(spark, [(10, "a", 1.0)]), batch_id=0)
    mark = tmp_path / "rollup" / "_current.json"
    before = mark.read_bytes()

    def partial_dump(doc, f, **kwargs):
        f.write('{"version": ')
        raise OSError("simulated crash")

    monkeypatch.setattr(atomic.json, "dump", partial_dump)
    with pytest.raises(OSError, match="simulated crash"):
        ca.refresh(_both(spark, [(20, "a", 2.0)]), batch_id=1)
    monkeypatch.undo()

    assert mark.read_bytes() == before
    assert json.loads(before) == {"version": 1, "last_batch_id": 0}
    assert sorted(os.listdir(tmp_path / "rollup")) == ["_current.json", "v1", "v2"]
    assert ca._current()["last_batch_id"] == 0
    ca.refresh(_both(spark, [(20, "a", 2.0)]), batch_id=1)
    assert sorted(os.listdir(tmp_path / "rollup")) == ["_current.json", "v1", "v3"]


@ROLLUPS
@pytest.mark.parametrize("via", ["refresh", "cascade"])
def test_crash_before_commit_merges_the_redelivered_batch_once(spark, tmp_path, monkeypatch, make, n, via):
    """State and replay mark commit in one pointer replace. A crash after
    batch 1's state is written but before the replace leaves the previous
    version current and readable, and redelivering batch 1 merges it once:
    (10,'a',1.0) and (20,'a',2.0) read n = 2, total = 3.0 (with the state
    and the mark committed apart, the retry read n = 3, total = 5.0)."""
    if via == "refresh":
        store = make(tmp_path)

        def apply(rows, batch_id):
            store.refresh(_both(spark, rows), batch_id=batch_id)
    else:
        fine, store = make(tmp_path / "fine"), make(tmp_path / "coarse", width=200)

        def apply(rows, batch_id):
            fine.refresh(_both(spark, rows), batch_id=batch_id)
            fine.cascade_into(store, spark, batch_id=batch_id)

    def state():
        (row,) = store.read(spark).collect()
        return row[n], row["total"] if n == "n" else row["approx_distinct"]

    apply([(10, "a", 1.0)], 0)
    if via == "cascade":  # only the cascade crashes
        fine.refresh(_both(spark, [(20, "a", 2.0)]), batch_id=1)

    def crash(*args, **kwargs):
        raise OSError("simulated crash")

    monkeypatch.setattr(atomic.json, "dump", crash)
    with pytest.raises(OSError, match="simulated crash"):
        apply([(20, "a", 2.0)], 1)
    monkeypatch.undo()
    assert state() == (1, 1.0)

    apply([(20, "a", 2.0)], 1)
    assert state() == (2, 3.0 if n == "n" else 2.0)
    apply([(20, "a", 2.0)], 1)  # a later redelivery is skipped by the mark
    assert state() == (2, 3.0 if n == "n" else 2.0)


def test_compact_coalesces_and_preserves_state(spark, tmp_path):
    ca = ContinuousAggregate(
        str(tmp_path / "rollup"), time_col="t", value_col="v", keys=["k"],
        bucket_width=100, buckets_per_partition=4,
    )
    for i in range(3):
        ca.refresh(_batch(spark, [(i * 10, "a", float(i)), (905, "b", 1.0)]), batch_id=i)
    before = {(r.bucket, r.k): (r.n, r.total) for r in ca.read(spark).collect()}
    ca.compact(spark)
    after = {(r.bucket, r.k): (r.n, r.total) for r in ca.read(spark).collect()}
    assert before == after
    for d in _current(tmp_path / "rollup").iterdir():
        if d.name.startswith("pgroup="):
            assert len([f for f in d.iterdir() if f.name.endswith(".parquet")]) == 1


def test_session_overwrite_mode_untouched(spark, tmp_path):
    # ADVICE r3 (medium): refresh must not flip the SESSION conf — sibling
    # static overwrites (IVF index rebuild) depend on truncate semantics.
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    ca = _ca(tmp_path)
    ca.refresh(_batch(spark, [(10, "a", 1.0)]), batch_id=0)
    ca.refresh(_batch(spark, [(20, "a", 2.0)]), batch_id=1)
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"


def test_expire_drops_old_partitions_and_filters_boundary(spark, tmp_path):
    ca = ContinuousAggregate(
        str(tmp_path / "rollup"), time_col="t", value_col="v", keys=["k"],
        bucket_width=100, buckets_per_partition=4,
    )
    rows = [(i * 100 + 5, "a", float(i)) for i in range(12)]  # buckets 0..11
    ca.refresh(_batch(spark, rows), batch_id=0)
    # cutoff mid-group: bucket >= 6 kept → pgroup 0 dropped whole, pgroup 1
    # (buckets 4-7) filtered, pgroup 2 untouched
    untouched = _inodes(_current(tmp_path / "rollup") / "pgroup=2")
    ca.expire(spark, before_bucket=6)
    store = _current(tmp_path / "rollup")
    names = {e.name for e in store.iterdir() if e.name.startswith("pgroup=")}
    assert names == {"pgroup=1", "pgroup=2"}
    assert _inodes(store / "pgroup=2") == untouched  # linked, not rewritten
    got = sorted(r.bucket for r in ca.read(spark).collect())
    assert got == [6, 7, 8, 9, 10, 11]


def test_expire_aligned_cutoff_is_pure_deletion(spark, tmp_path):
    ca = ContinuousAggregate(
        str(tmp_path / "rollup"), time_col="t", value_col="v", keys=["k"],
        bucket_width=100, buckets_per_partition=4,
    )
    ca.refresh(_batch(spark, [(i * 100 + 5, "a", 1.0) for i in range(12)]), batch_id=0)
    store = _current(tmp_path / "rollup")
    survivors = {n: _inodes(store / n) for n in ("pgroup=1", "pgroup=2")}
    ca.expire(spark, before_bucket=4)  # exactly at a group boundary
    store = _current(tmp_path / "rollup")
    assert {e.name for e in store.iterdir() if e.name.startswith("pgroup=")} == {"pgroup=1", "pgroup=2"}
    for n, files in survivors.items():
        assert _inodes(store / n) == files  # zero rewrites
    assert sorted(r.bucket for r in ca.read(spark).collect()) == list(range(4, 12))


def test_cascade_after_expire_reflects_retention(spark, tmp_path):
    fine = ContinuousAggregate(
        str(tmp_path / "fine"), time_col="t", value_col="v", keys=["k"],
        bucket_width=100, buckets_per_partition=4,
    )
    coarse = ContinuousAggregate(
        str(tmp_path / "coarse"), time_col="t", value_col="v", keys=["k"], bucket_width=400
    )
    fine.refresh(_batch(spark, [(i * 100 + 5, "a", 1.0) for i in range(8)]), batch_id=0)
    fine.expire(spark, before_bucket=4)
    fine.cascade_into(coarse, spark, batch_id=0)
    got = {(r.bucket, r.k): r.n for r in coarse.read(spark).collect()}
    # only fine buckets 4..7 survive -> one coarse bucket (4..7)//4 == 1
    assert got == {(1, "a"): 4}


@ROLLUPS
@pytest.mark.parametrize("old", ["state", "_rollup_meta.json"])
def test_unversioned_store_fails_loudly(spark, tmp_path, make, n, old):
    """A store written in the unversioned layout (``state/`` and
    ``_rollup_meta.json``, no pointer) raises instead of reading as empty
    and merging every batch into a new state beside it."""
    ca = make(tmp_path)
    (tmp_path / "rollup").mkdir()
    if old == "state":
        (tmp_path / "rollup" / "state" / "pgroup=0").mkdir(parents=True)
    else:
        (tmp_path / "rollup" / old).write_text('{"last_batch_id": 3}')
    with pytest.raises(ValueError, match="unversioned layout; rebuild"):
        ca.refresh(_both(spark, [(10, "a", 1.0)]), batch_id=4)
    with pytest.raises(ValueError, match="unversioned layout; rebuild"):
        ca.read(spark)
