"""Milestone-5 streaming tests (SURVEY.md §5.2): file-source micro-batches,
duplicate-message injection must NOT duplicate sink rows (exactly-once),
AvailableNow drain semantics, and batch/stream window-agg equivalence."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.streaming import (
    enrich_with_reward,
    read_prediction_stream,
    run_log_loop,
    tumbling_window_agg,
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
    row = enrich_with_reward(msgs, factors).first()
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

    got = enrich_with_reward(msgs, factors)
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
    rows = enrich_with_reward(msgs, factors).collect()
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
    plan = enrich_with_reward(msgs, factors)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert _exchanges_outside_broadcast(plan) == []
    # the oracle's regroup does shuffle, so the check can see one
    old = _enrich_with_reward_regroup(msgs, factors)._jdf.queryExecution().executedPlan().toString()
    assert _exchanges_outside_broadcast(old)


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


def test_parse_message_json_kafka_shape(spark):
    from mlops_pipelines_featurestore_gcp_spark.streaming import MESSAGE_SCHEMA
    from mlops_pipelines_featurestore_gcp_spark.streaming.log_loop import parse_message_json

    payload = json.dumps(
        {
            "message_id": "m9",
            "publish_time": "2024-01-01T00:00:00Z",
            "observations": [[1.5, 2.5]],
            "predicted_actions": [3],
        }
    )
    raw = spark.createDataFrame([(bytearray(payload.encode()),)], "value binary")
    row = parse_message_json(raw).first()
    assert row.message_id == "m9"
    assert row.observations == [[1.5, 2.5]]
    assert row.predicted_actions == [3]


def test_unknown_source_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="unknown message source"):
        read_prediction_stream(spark, str(tmp_path), source="carrier-pigeon")


def test_log_loop_live_socket_source(spark, factors, tmp_path):
    """VERDICT r3 #7: the streaming leg against a LIVE network source.

    A TCP server pushes JSON messages (with a duplicate) over a real
    socket; run_log_loop consumes via Spark's socket source through the
    same parse → dedup → enrich → idempotent-sink plan as the file/kafka
    flavors. Proves the network-consumer path executes end to end — the
    socket source has no offsets, so durability semantics stay covered by
    the file-source exactly-once test."""
    import socket
    import threading
    import time

    msgs = [
        _msg("s1", "2024-01-01 00:00:00", [[3.0, 4.0]], [0]),
        _msg("s1", "2024-01-01 00:00:00", [[3.0, 4.0]], [0]),  # redelivery
        _msg("s2", "2024-01-01 00:01:00", [[1.0, 2.0]], [2]),
    ]
    payload = ("\n".join(json.dumps(m) for m in msgs) + "\n").encode()

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    stop = threading.Event()

    def _serve():
        conn, _ = srv.accept()
        conn.sendall(payload)
        stop.wait(120)  # keep the connection open until the test is done
        conn.close()

    t = threading.Thread(target=_serve, daemon=True)
    t.start()

    sink = str(tmp_path / "socket_sink")
    q = run_log_loop(
        spark,
        f"127.0.0.1:{port}",
        factors,
        sink,
        str(tmp_path / "socket_ckpt"),
        available_now=False,
        source="socket",
        processing_time="1 seconds",
    )
    try:
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            try:
                rows = spark.read.parquet(sink).collect()
            except Exception:
                rows = []
            if len(rows) >= 2:
                break
            time.sleep(1)
    finally:
        q.stop()
        stop.set()
        srv.close()

    ids = sorted(r.message_id for r in rows)
    assert ids == ["s1", "s2"], rows
    got = {r.message_id: r.reward for r in rows}
    assert got["s1"] == [3.0]  # dot([3,4],[1,0]) — enrichment ran on live rows
    assert got["s2"] == [1.5]  # dot([1,2],[.5,.5])


def test_publish_messages_over_live_socket(spark, tmp_path):
    """S8's network leg: executor partitions publish JSON lines to a real
    TCP endpoint (per-partition connections, no driver collect), and the
    received lines parse back through the consumer's exact schema."""
    import socket
    import threading

    from pyspark.sql import functions as F

    from mlops_pipelines_featurestore_gcp_spark.streaming.log_loop import (
        MESSAGE_SCHEMA,
        publish_messages,
    )

    received = []
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(8)
    port = srv.getsockname()[1]
    done = threading.Event()

    def _serve():
        srv.settimeout(30)
        while not done.is_set():
            try:
                conn, _ = srv.accept()
            except socket.timeout:
                break
            buf = b""
            while chunk := conn.recv(65536):
                buf += chunk
            conn.close()
            received.extend(l for l in buf.decode().splitlines() if l)

    t = threading.Thread(target=_serve, daemon=True)
    t.start()

    msgs = spark.createDataFrame(
        [(f"m{i}", "2024-01-01 00:00:00", [[float(i), 0.0]], [i % 3]) for i in range(10)],
        "message_id string, publish_time string, observations array<array<double>>, predicted_actions array<long>",
    ).withColumn("publish_time", F.col("publish_time").cast("timestamp"))
    n = publish_messages(msgs.repartition(4), f"127.0.0.1:{port}", source="socket")
    assert n == 10

    import time
    deadline = time.time() + 20
    while len(received) < 10 and time.time() < deadline:
        time.sleep(0.2)
    done.set()
    srv.close()
    assert len(received) == 10
    # the wire format round-trips through the consumer's parser
    parsed = spark.read.schema(MESSAGE_SCHEMA).json(spark.sparkContext.parallelize(received))
    ids = sorted(r.message_id for r in parsed.collect())
    assert ids == sorted(f"m{i}" for i in range(10))


def test_full_loop_publish_relay_consume_over_tcp(spark, factors, tmp_path):
    """The complete live circle: executor partitions PUBLISH JSON over TCP
    to a relay; the streaming CONSUMER reads the relay's feed over TCP and
    runs dedup → enrichment → idempotent sink. No files anywhere on the
    wire path — both halves of the message loop execute over real
    sockets in one test."""
    import socket
    import threading
    import time

    from mlops_pipelines_featurestore_gcp_spark.streaming.log_loop import publish_messages

    # relay: one listener for publishers (ingest), one for the consumer
    ingest = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    ingest.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    ingest.bind(("127.0.0.1", 0)); ingest.listen(8)
    serve = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    serve.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    serve.bind(("127.0.0.1", 0)); serve.listen(1)
    ingest_port, serve_port = ingest.getsockname()[1], serve.getsockname()[1]

    buffered: list[str] = []
    stop = threading.Event()

    def _ingest():
        ingest.settimeout(30)
        while not stop.is_set():
            try:
                conn, _ = ingest.accept()
            except socket.timeout:
                return
            buf = b""
            while chunk := conn.recv(65536):
                buf += chunk
            conn.close()
            buffered.extend(l for l in buf.decode().splitlines() if l)

    def _serve():
        conn, _ = serve.accept()
        deadline = time.time() + 60
        sent = 0
        while time.time() < deadline and not stop.is_set():
            while sent < len(buffered):
                conn.sendall((buffered[sent] + "\n").encode())
                sent += 1
            time.sleep(0.2)
        conn.close()

    threading.Thread(target=_ingest, daemon=True).start()
    threading.Thread(target=_serve, daemon=True).start()

    # half 1: distributed publish (with a duplicate message)
    msgs = spark.createDataFrame(
        [
            ("p1", "2024-01-01 00:00:00", [[3.0, 4.0]], [0]),
            ("p1", "2024-01-01 00:00:00", [[3.0, 4.0]], [0]),  # redelivery
            ("p2", "2024-01-01 00:01:00", [[1.0, 2.0]], [2]),
        ],
        "message_id string, publish_time string, observations array<array<double>>, predicted_actions array<long>",
    ).withColumn("publish_time", F.col("publish_time").cast("timestamp"))
    assert publish_messages(msgs.repartition(2), f"127.0.0.1:{ingest_port}", source="socket") == 3

    # half 2: live consume through the full loop
    sink = str(tmp_path / "loop_sink")
    q = run_log_loop(
        spark,
        f"127.0.0.1:{serve_port}",
        factors,
        sink,
        str(tmp_path / "loop_ckpt"),
        available_now=False,
        source="socket",
        processing_time="1 seconds",
    )
    try:
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            try:
                rows = spark.read.parquet(sink).collect()
            except Exception:
                rows = []
            if len(rows) >= 2:
                break
            time.sleep(1)
    finally:
        q.stop()
        stop.set()
        ingest.close(); serve.close()

    got = {r.message_id: r.reward for r in rows}
    assert sorted(got) == ["p1", "p2"]  # deduped across the live wire
    assert got["p1"] == [3.0] and got["p2"] == [1.5]
