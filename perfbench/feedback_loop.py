"""feedback_loop: the reference's serve → log → retrain loop, in
closed-loop batch micro-cycles.

Set-up loads a seeded MovieLens-shaped ``u.data`` (100k ratings, 943
users, 1682 items) into the raw table and imports it into the feature
store. The first policy and the item factors the rewards are computed
from are generated; the policy is saved with ``LinUCBModel.save``.
Each op is one cycle:

1. ``pipeline.predict`` on 4096 observations;
2. ``publish_messages``: 512 messages of 8 predictions, plus 10% redelivered;
3. ``run_log_loop`` drains them with availableNow (dedup, reward, append);
4. 2,000 new ratings go through ``import_feature_values`` and
   ``materialize_online`` (a full rebuild), then one ``online_read`` of
   their users;
5. ``pipeline.retrain`` on the sink; the next cycle predicts with it.

The sink and the values log grow across cycles, as a live loop's do.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import time
from contextlib import contextmanager

import checks
import gen
import numpy as np
import pandas as pd
from core import Ctx, Loop, Outcome
from online_lookup import files_read
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark import pipeline
from mlops_pipelines_featurestore_gcp_spark.feature_store import store as fs_store
from mlops_pipelines_featurestore_gcp_spark.ml import linucb
from mlops_pipelines_featurestore_gcp_spark.sources import ratings as ratings_src
from mlops_pipelines_featurestore_gcp_spark.sources import tfrecord
from mlops_pipelines_featurestore_gcp_spark.streaming import log_loop

FS, ENTITY = "movie_fs", "users"
PUBLISH_T0 = dt.datetime(2024, 1, 1)
REWARD_SAMPLE = 16  # messages per cycle whose rewards are recomputed


class _Stages(dict):
    """Wall time of each named stage of one cycle."""

    @contextmanager
    def __call__(self, name: str):
        t0 = time.perf_counter()
        yield
        self[name] = time.perf_counter() - t0


def _messages(cycle: int, obs: np.ndarray, actions: np.ndarray, mb: gen.MessageBatch) -> list[tuple]:
    msgs = [
        (mid, PUBLISH_T0 + dt.timedelta(minutes=cycle, milliseconds=j), obs[idx].tolist(), actions[idx].tolist())
        for j, (mid, idx) in enumerate(zip(mb.ids, mb.slots))
    ]
    return msgs + [msgs[j] for j in mb.redelivered]


def _progress_ms(query, key: str) -> float:
    return float(sum(p.durationMs.get(key, 0) for p in query.recentProgress))


def _setup(ctx: Ctx, u_data: str, policy: linucb.LinUCBModel, base: str) -> tuple[fs_store.FeatureStore, str]:
    """Raw table, feature store with the ratings imported, first policy."""
    raw = os.path.join(base, "raw")
    ratings_src.save_ratings_table(ratings_src.load_ratings_tsv(ctx.spark, u_data), raw)
    store = fs_store.FeatureStore(ctx.spark, os.path.join(base, "fs"))
    store.create_featurestore(FS)
    store.create_entity_type(FS, ENTITY)
    store.import_feature_values(FS, ENTITY, ctx.spark.read.parquet(raw), entity_id_field="user_id")
    model_path = os.path.join(base, "model", "policy.json")
    policy.save(model_path)
    return store, model_path


def run(ctx: Ctx) -> Outcome:
    spark, tr, work = ctx.spark, ctx.tracer, ctx.work
    u_data = os.path.join(work, "u.data")
    gen.write_u_data(gen.ratings(ctx.seed), u_data)
    factors = {i + 1: v for i, v in enumerate(gen.item_factors(ctx.seed))}
    factors_df = spark.createDataFrame(
        [(k, v.tolist()) for k, v in factors.items()], "item_id long, features array<double>"
    )
    msg_dir, sink, ckpt = (os.path.join(work, d) for d in ("messages", "sink", "checkpoint"))

    theta, a_inv = gen.initial_policy(ctx.seed)
    policy = linucb.LinUCBModel(
        alpha=pipeline.PipelineConfig().agent_alpha, theta=theta, a_inv=a_inv, counts=np.zeros(len(theta))
    )
    t0 = time.perf_counter()
    store, model_path = _setup(ctx, u_data, policy, os.path.join(work, "setup"))
    setup_s = time.perf_counter() - t0

    published: set[str] = set()
    n_sink = 0
    cycles, lookups, traced_cycles = [], [], []
    fails, failed = {"predict": 0, "sink": 0, "reward": 0, "fresh": 0}, 0
    layer = {m: [] for m in ("feature_store.files_per_lookup", "feature_store.rows_per_key",
                             "streaming.trigger_ms", "streaming.addbatch_ms", "streaming.dedup_kept_frac")}

    loop = Loop(ctx)
    for c, traced in loop:
        obs = gen.observations(ctx.seed, c)
        mb = gen.message_batch(ctx.seed, c)
        new = gen.new_ratings(ctx.seed, c)
        users = sorted(set(new["user_id"]))
        obs_df = spark.createDataFrame(
            pd.DataFrame({"row": np.arange(len(obs)), "obs": list(obs)}), "row long, obs array<double>"
        )
        new_df = spark.createDataFrame(new)
        stage = _Stages()
        with tr.span("bench.cycle"):
            with stage("predict"), tr.span("ml.predict"):
                preds = pipeline.predict(spark, model_path, obs_df).select("row", "predicted_action").collect()
            actions = np.empty(len(obs), dtype=np.int64)
            for r in preds:
                actions[r.row] = r.predicted_action
            msg_df = spark.createDataFrame(_messages(c, obs, actions, mb), log_loop.MESSAGE_SCHEMA)
            with stage("publish"):
                n_pub = log_loop.publish_messages(msg_df, msg_dir)
            with stage("drain"), tr.span("streaming.drain"):
                query = log_loop.run_log_loop(spark, msg_dir, factors_df, sink, ckpt)
                query.awaitTermination()
            with stage("refresh"):
                store.import_feature_values(FS, ENTITY, new_df, entity_id_field="user_id")
                store.materialize_online(FS, ENTITY)
                t_read = time.perf_counter()
                with tr.span("bench.lookup"):
                    fresh_df = store.online_read(FS, ENTITY, users)
                    with tr.span("feature_store.online_collect"):
                        fresh = fresh_df.collect()
                lookup_s = time.perf_counter() - t_read
            with stage("retrain"):
                new_model = pipeline.retrain(spark, sink, os.path.join(work, f"retrain-{c}"))
        cycle = {"cycle_s": sum(stage.values()), "log_latency_s": stage["publish"] + stage["drain"],
                 "freshness_s": stage["refresh"], **{f"{k}_s": v for k, v in stage.items()}}
        if traced:
            traced_cycles.append(cycle)
        else:
            cycles.append(cycle)
            lookups.append(lookup_s)

        # correctness, outside the timed stages
        want, gap = checks.predicted_actions(model_path, obs)
        ok_predict = checks.check_predictions(actions, want, gap)
        published.update(mb.ids)
        sink_ids = [r.message_id for r in spark.read.parquet(sink).select("message_id").collect()]
        ok_sink = checks.check_sink(sink_ids, published)
        sample = mb.ids[:: len(mb.ids) // REWARD_SAMPLE]
        reward_rows = (
            spark.read.parquet(sink)
            .where(F.col("message_id").isin(sample))
            .select("message_id", "action", "reward")
            .collect()
        )
        slots = dict(zip(mb.ids, mb.slots))
        ok_reward = len(reward_rows) == len(sample) and checks.check_rewards(
            [r.asDict() for r in reward_rows], obs, slots, actions, factors
        )
        ok_fresh = checks.check_fresh([r.asDict() for r in fresh], checks.expected_fresh(new, "user_id"))
        for name, ok in (("predict", ok_predict), ("sink", ok_sink), ("reward", ok_reward), ("fresh", ok_fresh)):
            fails[name] += not ok
        failed += not (ok_predict and ok_sink and ok_reward and ok_fresh)
        if traced:
            layer["feature_store.files_per_lookup"].append(files_read(fresh_df))
            layer["feature_store.rows_per_key"].append(len(fresh) / len(users))
            layer["streaming.trigger_ms"].append(_progress_ms(query, "triggerExecution"))
            layer["streaming.addbatch_ms"].append(_progress_ms(query, "addBatch"))
            layer["streaming.dedup_kept_frac"].append((len(sink_ids) - n_sink) / n_pub)
        n_sink = len(sink_ids)
        model_path = new_model

    detail = {"checks_failed": fails}
    if cycles:
        for key in ("cycle_s", "log_latency_s", "freshness_s", "predict_s", "publish_s", "drain_s", "refresh_s", "retrain_s"):
            detail[key[:-2] + "_p50_s"] = statistics.median(x[key] for x in cycles)
    return Outcome(
        setup_s=setup_s,
        op_s=[x["cycle_s"] for x in cycles],
        lookup_s=lookups,
        measured_s=loop.elapsed,
        attempted=len(cycles) + len(traced_cycles),
        failed=failed,
        traced_op_s=[x["cycle_s"] for x in traced_cycles],
        layer={k: statistics.fmean(v) for k, v in layer.items() if v},
        detail=detail,
    )


PATCHES = [
    (fs_store.FeatureStore, "online_read", "feature_store.online_read"),
    (fs_store.FeatureStore, "import_feature_values", "feature_store.import"),
    (fs_store.FeatureStore, "materialize_online", "feature_store.materialize"),
    (log_loop, "publish_messages", "streaming.publish"),
    (pipeline, "retrain", "pipeline.retrain"),
    (tfrecord, "write_tfrecords", "sources.write_tfrecords"),
    (linucb.LinUCB, "fit", "ml.linucb_fit"),
]
