"""Milestone-5 streaming tests (SURVEY.md §5.2): file-source micro-batches,
duplicate-message injection must NOT duplicate sink rows (exactly-once),
AvailableNow drain semantics (one micro-batch per drain), the
publish → drain round trip, and batch/stream window-agg equivalence."""

from __future__ import annotations

import datetime as dt
import json
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from mlops_pipelines_featurestore_gcp_spark.streaming import (
    MESSAGE_SCHEMA,
    enrich_with_reward,
    factor_map,
    publish_messages,
    run_log_loop,
    tumbling_window_agg,
)

QUERY_CONFS = (
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.streaming.statefulOperator.allowMultiple",
)


def _write_messages(path, messages):
    path.mkdir(parents=True, exist_ok=True)
    fname = path / f"batch_{len(list(path.iterdir()))}.json"
    fname.write_text("\n".join(json.dumps(m) for m in messages) + "\n")


def _msg(mid, t, obs, actions):
    return {
        "message_id": mid,
        "publish_time": t,
        "observations": obs,
        "predicted_actions": actions,
    }


@pytest.fixture
def factors(spark):
    return spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.5, 0.5])],
        "item_id long, features array<double>",
    )


def test_enrich_reward_is_dot_product(spark, factors):
    msgs = spark.createDataFrame(
        [("m1", "2024-01-01 00:00:00", [[3.0, 4.0], [1.0, 2.0]], [0, 2])],
        "message_id string, publish_time string, observations array<array<double>>, predicted_actions array<long>",
    ).withColumn("publish_time", F.col("publish_time").cast("timestamp"))
    row = enrich_with_reward(msgs, factor_map(factors)).first()
    assert row.reward == [3.0, 1.5]  # dot([3,4],[1,0]) and dot([1,2],[.5,.5])
    assert row.action == [0, 2]
    assert row.observation[0].observation_batch == [3.0, 4.0]


def _enrich_with_reward_regroup(messages, item_factors):
    """The shuffle-based enrichment the row-local one replaced, kept only
    as the oracle: explode every slot, broadcast-join its factor, fold the
    dot product, then regroup the slots per message."""
    exploded = messages.select(
        "message_id",
        "publish_time",
        F.posexplode(F.arrays_zip("observations", "predicted_actions")).alias("slot", "z"),
    ).select(
        "message_id",
        "publish_time",
        "slot",
        F.col("z.observations").alias("obs"),
        F.col("z.predicted_actions").alias("action"),
    )
    joined = exploded.join(
        F.broadcast(item_factors.withColumnRenamed("item_id", "action")), on="action", how="left"
    )
    scored = joined.withColumn(
        "reward",
        F.coalesce(
            F.aggregate(F.zip_with("obs", "features", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x),
            F.lit(0.0),
        ),
    )
    batch = F.sort_array(F.collect_list(F.struct("slot", "obs", "action", "reward")))
    return scored.groupBy("message_id", "publish_time").agg(batch.alias("b")).select(
        "message_id",
        "publish_time",
        F.transform("b", lambda s: F.lit(1).cast("long")).alias("step_type"),
        F.transform("b", lambda s: F.struct(s.obs.alias("observation_batch"))).alias("observation"),
        F.col("b.action").alias("action"),
        F.transform("b", lambda s: F.lit(0.0)).alias("policy_info"),
        F.transform("b", lambda s: F.lit(1).cast("long")).alias("next_step_type"),
        F.col("b.reward").alias("reward"),
        F.transform("b", lambda s: F.lit(1.0)).alias("discount"),
    )


def _random_messages(rng, n, k, num_actions):
    """Slot arrays of independent random lengths (so often ragged), with
    null vectors, null vector elements, null actions, actions without a
    factor and whole-null arrays mixed in."""

    def maybe_null(p, value):
        return None if rng.random() < p else value

    def vec():
        return [maybe_null(0.05, float(v)) for v in rng.normal(0.0, 1.0, k)]

    rows = []
    for i in range(n):
        n_obs, n_act = int(rng.integers(0, 5)), int(rng.integers(0, 5))
        obs = maybe_null(0.05, [maybe_null(0.1, vec()) for _ in range(n_obs)])
        acts = maybe_null(0.05, [maybe_null(0.1, int(rng.integers(0, num_actions + 2))) for _ in range(n_act)])
        rows.append((f"m{i}", f"2024-01-01 00:{i % 60:02d}:00", obs, acts))
    return rows


def _messages_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "message_id string, publish_time string, observations array<array<double>>, predicted_actions array<long>",
    ).withColumn("publish_time", F.col("publish_time").cast("timestamp"))


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_enrich_reward_matches_regroup_oracle(spark, seed):
    import numpy as np

    rng = np.random.default_rng(seed)
    k, num_actions = 3, 6
    factor_rows = [(a, [float(v) for v in rng.normal(0.0, 1.0, k)]) for a in range(num_actions - 2)]
    factor_rows[0] = (0, factor_rows[0][1][:2])  # a factor shorter than the observations
    factors = spark.createDataFrame(factor_rows, "item_id long, features array<double>")
    msgs = _messages_df(spark, _random_messages(rng, 200, k, num_actions))

    got = enrich_with_reward(msgs, factor_map(factors))
    want = _enrich_with_reward_regroup(msgs, factors)
    # same column types; only top-level nullability differs, and a parquet
    # sink stores every column as nullable anyway
    assert [(f.name, f.dataType) for f in got.schema] == [(f.name, f.dataType) for f in want.schema]
    got_rows = sorted(got.collect(), key=lambda r: r.message_id)
    want_rows = sorted(want.collect(), key=lambda r: r.message_id)
    assert len(got_rows) > 100
    rewards = [x for r in got_rows for x in r.reward]
    assert 0.0 in rewards and any(rewards)  # unscored and scored slots both occur
    assert got_rows == want_rows  # Row equality: every float bit for bit


def test_enrich_reward_drops_messages_without_slots(spark, factors):
    msgs = _messages_df(
        spark,
        [
            ("empty", "2024-01-01 00:00:00", [], []),
            ("null_obs", "2024-01-01 00:00:00", None, [1]),
            ("null_actions", "2024-01-01 00:00:00", [[1.0, 0.0]], None),
            ("no_factor", "2024-01-01 00:00:00", [[1.0, 0.0]], [7]),
        ],
    )
    rows = enrich_with_reward(msgs, factor_map(factors)).collect()
    assert [(r.message_id, r.reward) for r in rows] == [("no_factor", [0.0])]


def _exchanges_outside_broadcast(plan: str) -> list[str]:
    """Exchange nodes of a printed physical plan that are not inside a
    BroadcastExchange subtree (the broadcast side is built once)."""
    out, broadcast_indent = [], None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :+-"))
        if broadcast_indent is not None and indent > broadcast_indent:
            continue
        broadcast_indent = None
        if "BroadcastExchange" in line:
            broadcast_indent = indent
        elif "Exchange" in line:
            out.append(line.strip())
    return out


def test_enrich_reward_message_side_has_no_exchange(spark, factors):
    msgs = _messages_df(spark, [("m1", "2024-01-01 00:00:00", [[3.0, 4.0]], [0])])
    plan = enrich_with_reward(msgs, factor_map(factors))._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert _exchanges_outside_broadcast(plan) == []
    # the factor map is built once per query: a batch aggregates nothing
    assert "Aggregate" not in plan
    # the oracle's regroup does shuffle and aggregate, so the checks can see them
    old = _enrich_with_reward_regroup(msgs, factors)._jdf.queryExecution().executedPlan().toString()
    assert _exchanges_outside_broadcast(old)
    assert "Aggregate" in old


def test_log_loop_exactly_once(spark, factors, tmp_path):
    msg_dir = tmp_path / "msgs"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    m1 = _msg("m1", "2024-01-01 00:00:00", [[1.0, 0.0]], [1])
    m2 = _msg("m2", "2024-01-01 00:01:00", [[0.0, 1.0]], [1])
    # at-least-once delivery: m1 delivered twice in the same batch
    _write_messages(msg_dir, [m1, m2, m1])

    q = run_log_loop(spark, str(msg_dir), factors, sink, ckpt)
    q.awaitTermination(120)

    out = spark.read.parquet(sink)
    assert out.count() == 2  # duplicate m1 collapsed
    got = {r.message_id: r.reward for r in out.collect()}
    assert got == {"m1": [0.0], "m2": [1.0]}

    # redelivery in a LATER file + restart: checkpoint + stateful dedup
    _write_messages(msg_dir, [m1, _msg("m3", "2024-01-01 00:02:00", [[2.0, 2.0]], [2])])
    q2 = run_log_loop(spark, str(msg_dir), factors, sink, ckpt)
    q2.awaitTermination(120)
    out2 = spark.read.parquet(sink)
    assert out2.count() == 3  # m3 added, duplicate m1 still suppressed
    assert out2.where(F.col("message_id") == "m1").count() == 1


def _lines_in(msg_dir) -> int:
    return sum(
        len(f.read_text().splitlines()) for f in msg_dir.iterdir() if not f.name.startswith((".", "_"))
    )


def test_publish_and_drain_round_trip(spark, spark_jobs, factors, tmp_path):
    """S8 → ST4 through the message directory: a redelivery inside one
    publish and another across two drains each land once, each publish
    runs one Spark job and returns the lines it wrote (0 for an empty
    frame), and every reward is the dot product."""
    msg_dir, sink, ckpt = tmp_path / "msgs", str(tmp_path / "sink"), str(tmp_path / "ckpt")
    item = {0: [1.0, 0.0], 1: [0.0, 1.0], 2: [0.5, 0.5]}  # the factors fixture
    t0 = dt.datetime(2024, 1, 1)

    def msg(i):
        return (f"p{i}", t0 + dt.timedelta(seconds=i), [[float(i), 1.0 - i], [0.25 * i, 2.0]], [i % 3, (i + 1) % 3])

    first, second = [msg(i) for i in range(6)], [msg(i) for i in range(6, 10)]
    written = 0
    # p2 is redelivered inside the first publish, p4 in the second one
    for batch in (first + [first[2]], second + [first[4]]):
        frame = spark.createDataFrame(batch, MESSAGE_SCHEMA).repartition(3).localCheckpoint()
        n, jobs = spark_jobs(lambda: publish_messages(frame, str(msg_dir)))
        written += len(batch)
        assert n == len(batch) and _lines_in(msg_dir) == written
        assert len(jobs) == 1
        run_log_loop(spark, str(msg_dir), factors, sink, ckpt).awaitTermination(120)
    assert publish_messages(spark.createDataFrame([], MESSAGE_SCHEMA), str(msg_dir)) == 0
    assert _lines_in(msg_dir) == written

    rows = spark.read.parquet(sink).collect()
    assert Counter(r.message_id for r in rows) == Counter(m[0] for m in first + second)

    def rewards(obs, actions):
        out = []
        for o, a in zip(obs, actions):
            acc = 0.0
            for x, y in zip(o, item[a]):
                acc += x * y
            out.append(acc)
        return out

    assert {r.message_id: r.reward for r in rows} == {m[0]: rewards(m[2], m[3]) for m in first + second}


def test_log_loop_one_batch_per_drain(spark, factors, tmp_path, monkeypatch):
    """Each drain runs exactly one micro-batch (no trailing no-data batch),
    the dedup still behaves across drains, and the log loop's streaming
    confs are only set around its ``start()``."""
    msg_dir, sink, ckpt = tmp_path / "msgs", str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def confs():
        return [spark.conf.get(key, None) for key in QUERY_CONFS]

    before = confs()

    def drain(messages):
        _write_messages(msg_dir, messages)
        q = run_log_loop(spark, str(msg_dir), factors, sink, ckpt)
        assert confs() == before
        q.awaitTermination(120)
        return [(p.batchId, p.numInputRows) for p in q.recentProgress]

    m3 = _msg("m3", "2024-01-01 00:30:00", [[0.0, 1.0]], [1])
    # drain 1 moves the watermark to 00:30 - 10 minutes = 00:20
    assert drain(
        [_msg("m1", "2024-01-01 00:00:00", [[1.0, 0.0]], [0]), _msg("m2", "2024-01-01 00:01:00", [[1.0, 1.0]], [2]), m3]
    ) == [(0, 3)]
    # m3 redelivered inside the watermark collapses; "late" is behind 00:20
    late = _msg("late", "2024-01-01 00:05:00", [[1.0, 0.0]], [0])
    assert drain([m3, late, _msg("m5", "2024-01-01 00:31:00", [[2.0, 0.0]], [0])]) == [(1, 3)]
    assert Counter(r.message_id for r in spark.read.parquet(sink).collect()) == Counter(["m1", "m2", "m3", "m5"])

    # the confs are restored when start() raises too, also from explicit values
    seen = []

    def failing_start(self, *args, **kwargs):
        seen.append(confs())
        raise RuntimeError("start failed")

    monkeypatch.setattr(DataStreamWriter, "start", failing_start)
    try:
        for explicit in (False, True):
            if explicit:
                for key in QUERY_CONFS:
                    spark.conf.set(key, "true")
            expected = confs()
            with pytest.raises(RuntimeError, match="start failed"):
                run_log_loop(spark, str(msg_dir), factors, sink, str(tmp_path / "ckpt2"))
            assert confs() == expected
    finally:
        for key, value in zip(QUERY_CONFS, before):
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
    assert seen == [["false", "false"]] * 2


def test_stream_window_agg_matches_batch(spark, tmp_path):
    rows = [
        (f"2024-01-01T{h:02d}:{m:02d}:00", "click", float(h * 60 + m))
        for h in range(4)
        for m in (5, 25, 45)
    ]
    batch = spark.createDataFrame(rows, "ts string, event_type string, value double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    src = tmp_path / "events_json"
    src.mkdir()
    # one file per hour: with maxFilesPerTrigger=1 the watermark advances
    # between micro-batches, so append mode emits the completed windows
    for h in range(4):
        (src / f"hour{h}.json").write_text(
            "\n".join(
                json.dumps({"ts": t, "event_type": e, "value": v})
                for t, e, v in rows
                if t.startswith(f"2024-01-01T{h:02d}")
            )
            + "\n"
        )

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withWatermark("ts", "10 minutes")
    )
    agg = tumbling_window_agg(
        stream, "1 hour", F.count("*").alias("n"), F.sum("value").alias("tv"),
        group_cols=("event_type",),
    )
    sink = str(tmp_path / "agg_sink")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "agg_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {(str(r.w_start), r.n, r.tv) for r in spark.read.parquet(sink).collect()}
    expected_all = {
        (str(r.w_start), r.n, r.tv)
        for r in tumbling_window_agg(
            batch, "1 hour", F.count("*").alias("n"), F.sum("value").alias("tv"),
            group_cols=("event_type",),
        ).collect()
    }
    # append mode emits only windows the watermark has passed; whatever was
    # emitted must exactly match the batch result for those windows
    assert got <= expected_all
    assert len(got) >= 2  # first two hourly windows are past the watermark
