"""End-to-end pipeline test: the reference's full startup DAG (§3.1) on a
MovieLens-shaped fixture, then streaming append + retrain (§3.2/ST5)."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.feature_store import FeatureStore
from mlops_pipelines_featurestore_gcp_spark.ml.linucb import LinUCB, LinUCBModel, arm_partials
from mlops_pipelines_featurestore_gcp_spark.pipeline import (
    PipelineConfig,
    predict,
    retrain,
    run_startup_pipeline,
)
from mlops_pipelines_featurestore_gcp_spark.sources.tfrecord import (
    decode_example,
    read_tfrecords,
    unframe_records,
    write_partition,
    write_tfrecords,
)
from mlops_pipelines_featurestore_gcp_spark.sources.trajectories import TRAJECTORY_SCHEMA, flatten_observations


@pytest.fixture
def u_data(tmp_path):
    """300-row MovieLens-shaped TSV: 30 users × 10 items."""
    rng = np.random.default_rng(5)
    lines = [
        f"{u}\t{i}\t{1 + (u * i) % 5}\t{880000000 + u * 1000 + i}"
        for u in range(1, 31)
        for i in range(1, 11)
    ]
    p = tmp_path / "u.data"
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_startup_pipeline_end_to_end(spark, u_data, tmp_path):
    cfg = PipelineConfig(
        rank_k=4, batch_size=4, num_actions=10, driver_steps=5, als_max_iter=5
    )
    store = FeatureStore(spark, str(tmp_path / "fs"))
    art = run_startup_pipeline(
        spark, u_data, str(tmp_path / "work"), config=cfg, feature_store=store
    )

    # load stage: all 300 rows, STRING-typed
    raw = spark.read.parquet(art.raw_table)
    assert raw.count() == 300
    assert all(f.dataType.simpleString() == "string" for f in raw.schema.fields)

    # feature store: one latest row per user entity
    latest = store.read_latest("movie_fs", "users")
    assert latest.count() == 30

    # generate stage: nested trajectory rows
    traj = spark.read.parquet(art.training_table)
    assert traj.count() == cfg.driver_steps
    row = traj.first()
    assert len(row.observation) == cfg.batch_size
    assert len(row.observation[0].observation_batch) == cfg.rank_k

    # ingest stage: TFRecords hold driver_steps × batch_size flat examples
    tfr = spark.read.format("binaryFile").load(f"{art.tfrecord_dir}/*.tfrecord")
    assert tfr.count() >= 1

    # train stage + serving: artifact exists, scores a batch
    obs = spark.createDataFrame(
        [([0.1] * cfg.rank_k,), ([0.9] * cfg.rank_k,)], "obs array<double>"
    )
    preds = predict(spark, art.model_path, obs)
    acts = [r.predicted_action for r in preds.collect()]
    assert all(0 <= a < cfg.num_actions for a in acts)


def test_retrain_after_append(spark, u_data, tmp_path):
    cfg = PipelineConfig(rank_k=3, batch_size=2, num_actions=5, driver_steps=3, als_max_iter=3)
    art = run_startup_pipeline(spark, u_data, str(tmp_path / "work"), config=cfg)

    # simulate the streaming log loop appending more trajectories (S3)
    spark.read.parquet(art.training_table).write.mode("append").parquet(art.training_table)
    assert spark.read.parquet(art.training_table).count() == 2 * cfg.driver_steps

    new_model = retrain(spark, art.training_table, str(tmp_path / "work2"), config=cfg)
    obs = spark.createDataFrame([([0.5] * cfg.rank_k,)], "obs array<double>")
    assert predict(spark, new_model, obs).count() == 1


def _read_back_fit(spark, training_table, work_dir, cfg):
    """The retrain's former path, kept as its oracle: SELECT * LIMIT n →
    ``write_tfrecords`` → ``read_tfrecords`` → ``LinUCB.fit``."""
    nested = spark.read.parquet(training_table).limit(cfg.max_rows)
    flat_rows = (
        flatten_observations(nested)
        .select(F.posexplode(F.arrays_zip("observation", "action", "reward")).alias("slot", "z"))
        .select(
            F.col("z.observation").alias("obs"),
            F.col("z.action").alias("action"),
            F.col("z.reward").alias("reward"),
        )
    )
    write_tfrecords(flat_rows, f"{work_dir}/tfrecords")
    train_df = read_tfrecords(spark, f"{work_dir}/tfrecords", flat_rows.schema)
    return LinUCB(
        context_dim=cfg.rank_k,
        num_actions=cfg.num_actions,
        alpha=cfg.agent_alpha,
        tikhonov=cfg.tikhonov_weight,
    ).fit(train_df)


def _sink_shaped_table(spark, path, seed, n_rows, cfg):
    """A log-loop-sink-shaped training table: message columns, the seven
    trajectory columns, two ``_batch=`` partitions of several files; about
    one reward in ten is NULL."""
    rng = np.random.default_rng(seed)
    t0 = dt.datetime(2024, 1, 1)

    def observation():  # magnitudes from 1e-3 to 1e2, so float32 rounding shows
        return {"observation_batch": (rng.normal(size=cfg.rank_k) * 10.0 ** rng.integers(-3, 3)).tolist()}

    rows = [
        (
            f"m{i}",
            t0 + dt.timedelta(seconds=i),
            [1] * cfg.batch_size,
            [observation() for _ in range(cfg.batch_size)],
            rng.integers(0, cfg.num_actions, cfg.batch_size).tolist(),
            [0.0] * cfg.batch_size,
            [1] * cfg.batch_size,
            [None if rng.random() < 0.1 else float(rng.normal()) for _ in range(cfg.batch_size)],
            [1.0] * cfg.batch_size,
            i % 2,
        )
        for i in range(n_rows)
    ]
    schema = "message_id string, publish_time timestamp, " + ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in TRAJECTORY_SCHEMA.fields
    )
    spark.createDataFrame(rows, schema + ", _batch int").repartition(3).write.partitionBy("_batch").parquet(path)


def _plans_of(spark, job_ids):
    """The physical plans of the last SQL executions that ran any of
    ``job_ids``."""
    runs = spark._jsparkSession.sharedState().statusStore().executionsList().takeRight(20)
    return [
        run.physicalPlanDescription()
        for run in (runs.apply(i) for i in range(runs.size()))
        if any(run.jobs().contains(j) for j in job_ids)
    ]


@pytest.mark.parametrize("seed, n_rows, max_rows", [(0, 60, 10_000), (1, 150, 100), (2, 400, 10_000)])
def test_retrain_is_one_pass_equal_to_the_read_back_oracle(spark, spark_jobs, tmp_path, seed, n_rows, max_rows):
    """``retrain`` writes the TFRecord handoff and fits in one pass: the
    policy equals the write → read-back → fit oracle bit for bit, the files
    are byte-identical to ``write_tfrecords``', and it runs at most 2 Spark
    jobs (the LIMIT's shuffle stage and the slice's collect), none a
    ``binaryFile`` scan and none a Python task: the pass runs on the
    driver."""
    cfg = PipelineConfig(rank_k=4, batch_size=3, num_actions=5, max_rows=max_rows)
    table = str(tmp_path / "sink")
    _sink_shaped_table(spark, table, seed, n_rows, cfg)
    want = _read_back_fit(spark, table, str(tmp_path / "oracle"), cfg)

    model_path, jobs = spark_jobs(lambda: retrain(spark, table, str(tmp_path / "work"), config=cfg))
    got = LinUCBModel.load(model_path)
    assert np.array_equal(got.theta, want.theta)
    assert np.array_equal(got.a_inv, want.a_inv)
    assert got.counts.tolist() == want.counts.tolist()
    assert 0 < got.counts.sum() < cfg.batch_size * min(n_rows, max_rows)  # NULL rewards are skipped

    def files(d):
        return {f: (tmp_path / d / "tfrecords" / f).read_bytes() for f in os.listdir(tmp_path / d / "tfrecords")}

    assert files("work") == files("oracle") and len(files("work")) == 1
    assert 1 <= len(jobs) <= 2
    plans = _plans_of(spark, jobs)
    assert plans and not any("binaryFile" in p for p in plans)
    assert not any("MapInArrow" in p for p in plans)


def test_retrain_with_null_actions_writes_int64_actions(spark, tmp_path):
    """``enrich_with_reward`` keeps a ragged message's extra slots with a
    NULL action. The retrain's handoff still types ``action`` as Int64List
    by its column type, leaves the NULL out, and the policy equals the
    read-back oracle's."""
    from mlops_pipelines_featurestore_gcp_spark.sources.tfrecord import decode_example, unframe_records

    cfg = PipelineConfig(rank_k=4, batch_size=3, num_actions=5)
    clean = str(tmp_path / "clean")
    _sink_shaped_table(spark, clean, 3, 40, cfg)
    table = str(tmp_path / "sink")
    ragged = F.transform("action", lambda a, i: F.when((i == 2) & (F.col("message_id") < "m2"), None).otherwise(a))
    spark.read.parquet(clean).withColumn("action", ragged).write.partitionBy("_batch").parquet(table)
    want = _read_back_fit(spark, table, str(tmp_path / "oracle"), cfg)

    got = LinUCBModel.load(retrain(spark, table, str(tmp_path / "work"), config=cfg))
    assert np.array_equal(got.theta, want.theta) and got.counts.tolist() == want.counts.tolist()
    tfrecords = tmp_path / "work" / "tfrecords"
    examples = [
        decode_example(rec)
        for name in os.listdir(tfrecords)
        for rec in unframe_records((tfrecords / name).read_bytes())
    ]
    actions = [ex["action"] for ex in examples if "action" in ex]
    assert len(actions) < len(examples)  # the NULL actions are left out
    assert all(len(a) == 1 and isinstance(a[0], int) for a in actions)


def test_retrain_skips_an_observation_with_a_null_element(spark, tmp_path):
    """A published message whose observation holds a NULL element is kept
    by ``enrich_with_reward`` (reward 0.0) and lands in the sink. The
    retrain writes that slot to the handoff and leaves it out of the fit:
    the policy equals the one retrained on the sink without that slot."""
    from mlops_pipelines_featurestore_gcp_spark.sources.tfrecord import decode_example, unframe_records
    from mlops_pipelines_featurestore_gcp_spark.streaming.log_loop import enrich_with_reward, factor_map

    cfg = PipelineConfig(rank_k=4, batch_size=2, num_actions=3)
    rng = np.random.default_rng(11)
    factors = spark.createDataFrame(
        [(a, rng.normal(size=cfg.rank_k).tolist()) for a in range(cfg.num_actions)], "item_id long, features array<double>"
    )
    t0 = dt.datetime(2024, 1, 1)
    good = [
        (f"m{i:02d}", t0, rng.normal(size=(cfg.batch_size, cfg.rank_k)).tolist(), rng.integers(0, 3, 2).tolist())
        for i in range(20)
    ]
    bad = ("m99", t0, [[0.1, None, 0.3, 0.4], [0.5, 0.6, 0.7, 0.8]], [1, 2])
    without = ("m99", t0, [[0.5, 0.6, 0.7, 0.8]], [2])  # the same message without the bad slot
    schema = "message_id string, publish_time timestamp, observations array<array<double>>, predicted_actions array<long>"

    def sink(name, messages):
        path = str(tmp_path / name)
        enriched = enrich_with_reward(spark.createDataFrame(messages, schema), factor_map(factors))
        enriched.coalesce(1).write.parquet(path)
        return path

    want = LinUCBModel.load(retrain(spark, sink("clean", good + [without]), str(tmp_path / "want"), config=cfg))
    got = LinUCBModel.load(retrain(spark, sink("sink", good + [bad]), str(tmp_path / "got"), config=cfg))
    assert np.array_equal(got.theta, want.theta) and np.array_equal(got.a_inv, want.a_inv)
    assert got.counts.tolist() == want.counts.tolist()
    assert got.counts.sum() == cfg.batch_size * len(good) + 1

    tfrecords = tmp_path / "got" / "tfrecords"
    obs = [
        decode_example(rec)["obs"]
        for name in os.listdir(tfrecords)
        for rec in unframe_records((tfrecords / name).read_bytes())
    ]
    assert len(obs) == cfg.batch_size * (len(good) + 1)  # the handoff keeps both slots
    assert sorted(map(len, obs))[0] == cfg.rank_k - 1  # the NULL element is left out


def test_an_action_outside_the_arms_is_left_out_of_the_fit(spark, tmp_path):
    """A logged slot whose action is not an arm (``-1`` or ``num_actions``)
    does not break the retrain: it equals the retrain over the same rows
    without those slots (``LinUCB.fit``'s case is in ``test_ml.py``)."""
    cfg = PipelineConfig(rank_k=4, batch_size=3, num_actions=5)
    clean = str(tmp_path / "clean")
    _sink_shaped_table(spark, clean, 4, 40, cfg)
    rows = spark.read.parquet(clean)
    off_arm = F.transform("action", lambda a, i: F.when(i % 2 == 0, F.lit(-1)).otherwise(F.lit(cfg.num_actions)))
    extra = rows.where(F.col("message_id") < "m2").select(
        *[F.concat(F.lit("x"), "message_id").alias(c) if c == "message_id" else F.col(c) for c in rows.columns]
    ).withColumn("action", off_arm.cast("array<long>"))
    table = str(tmp_path / "sink")
    rows.unionByName(extra).write.partitionBy("_batch").parquet(table)
    assert extra.count() > 0

    want = LinUCBModel.load(retrain(spark, clean, str(tmp_path / "want"), config=cfg))
    got = LinUCBModel.load(retrain(spark, table, str(tmp_path / "got"), config=cfg))
    assert np.allclose(got.theta, want.theta) and np.allclose(got.a_inv, want.a_inv)
    assert got.counts.tolist() == want.counts.tolist()


def test_retrain_pass_runs_on_local_batches_without_spark(tmp_path):
    """The retrain's pass is two batch functions that run as-is on local
    pyarrow batches, with no SparkSession: ``write_partition`` writes a file
    that decodes back to the rows and returns their count, and
    ``arm_partials`` sums numpy's
    ``XᵀX``, ``Xᵀr`` and ``n`` per arm over the valid rows. Values are
    quarters, so every sum is exact in any order and float32 holds them."""
    rng = np.random.default_rng(3)
    k, n = 4, 90
    obs = (rng.integers(-8, 8, size=(n, k)) / 4).tolist()
    actions = rng.integers(0, 3, n).tolist()
    rewards = (rng.integers(-4, 4, n) / 2).tolist()
    # rows 0-4 are skipped by the fit: NULL obs, short obs, NULL element, NULL action, NULL reward
    obs[0], obs[1], obs[2][1] = None, obs[1][:-1], None
    actions[3], rewards[4] = None, None
    table = pa.table(
        {
            "obs": pa.array(obs, pa.list_(pa.float64())),
            "action": pa.array(actions, pa.int64()),
            "reward": pa.array(rewards, pa.float64()),
        }
    )
    path = tmp_path / "tfrecords" / "part-00000.tfrecord"
    batches = table.to_batches(max_chunksize=32)
    assert write_partition(batches, str(path)) == n
    partials = [row for p in arm_partials(batches, k) for row in p.to_pylist()]

    assert os.listdir(path.parent) == [path.name]
    examples = [decode_example(rec) for rec in unframe_records(path.read_bytes())]
    assert len(examples) == n
    for ex, o, a, r in zip(examples, obs, actions, rewards):  # a NULL value or element is left out
        assert ex.get("obs") == (None if o is None else [v for v in o if v is not None])
        assert ex.get("action") == (None if a is None else [a])
        assert ex.get("reward") == (None if r is None else [r])

    valid = range(5, n)
    assert sorted(row["action"] for row in partials) == sorted({actions[i] for i in valid})
    for row in partials:
        rows = [i for i in valid if actions[i] == row["action"]]
        X, r = np.array([obs[i] for i in rows]), np.array([rewards[i] for i in rows])
        assert row["n"] == len(rows)
        assert np.array_equal(np.reshape(row["a_flat"], (k, k)), X.T @ X)
        assert np.array_equal(row["b_vec"], X.T @ r)


def _policy(tmp_path, seed, k, arms, alpha=1.0):
    """A saved random LinUCB policy (positive-definite ``A⁻¹``)."""
    rng = np.random.default_rng(seed)
    m = rng.normal(size=(arms, k, k))
    model = LinUCBModel(alpha=alpha, theta=rng.normal(size=(arms, k)), a_inv=m @ m.transpose(0, 2, 1), counts=np.zeros(arms))
    path = str(tmp_path / "policy.json")
    model.save(path)
    return path


def test_predict_serves_null_for_an_invalid_observation(spark, tmp_path):
    """One invalid observation (NULL, too short, too long, a NULL or NaN
    element) gets a NULL ``predicted_action``; the other rows of the batch
    are served as they are without it."""
    path = _policy(tmp_path, 0, 3, 4)
    good = [(i, [0.1 * i, -0.2, 0.3]) for i in range(6)]
    bad = [(10, None), (11, [0.1, 0.2]), (12, [0.1, 0.2, 0.3, 0.4]), (13, [0.1, None, 0.3]), (14, [0.1, float("nan"), 0.3])]
    schema = "id long, obs array<double>"
    got = {r.id: r.predicted_action for r in predict(spark, path, spark.createDataFrame(good + bad, schema)).collect()}
    want = {r.id: r.predicted_action for r in predict(spark, path, spark.createDataFrame(good, schema)).collect()}
    assert got == {**want, **{i: None for i, _ in bad}}


_finite = st.floats(-100, 100, allow_nan=False, allow_infinity=False)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_driver_predict_equals_the_udf_transform(spark, spark_jobs, tmp_path, data):
    """``predict`` on the driver serves the action ``transform``'s UDF does on
    any batch, exact ties included (arms drawn as copies of each other; the
    lowest arm wins in both). Its other columns, a string and a timestamp
    among them, pass through with their types; its plan evaluates no
    Python UDF, and reading it runs no job."""
    k = data.draw(st.integers(1, 4))
    base = data.draw(st.integers(1, 4))
    copies = data.draw(st.lists(st.integers(0, base - 1), min_size=1, max_size=5))  # arm a = base arm copies[a]
    rng = np.random.default_rng(data.draw(st.integers(0, 2**16)))
    m = rng.normal(size=(base, k, k))
    theta, a_inv = rng.normal(size=(base, k)), m @ m.transpose(0, 2, 1)
    alpha = data.draw(st.sampled_from([0.0, 0.5, 10.0]))
    path = str(tmp_path / "policy.json")
    LinUCBModel(alpha=alpha, theta=theta[copies], a_inv=a_inv[copies], counts=np.zeros(len(copies))).save(path)
    rows = data.draw(
        st.lists(
            st.tuples(
                st.none() | st.text(st.characters(blacklist_categories=("Cs",)), max_size=4),
                st.none() | st.datetimes(dt.datetime(1970, 1, 1), dt.datetime(2100, 1, 1)),
                st.none() | st.lists(_finite, min_size=k, max_size=k),
            ),
            max_size=30,
        )
    )
    df = spark.createDataFrame([(i, *row) for i, row in enumerate(rows)], "id long, s string, t timestamp, obs array<double>")

    got = predict(spark, path, df)
    want = LinUCBModel.load(path).transform(df, with_scores=True)
    assert got.schema == want.drop("scores").schema
    served, jobs = spark_jobs(got.collect)
    assert jobs == []
    scored = sorted(want.collect())
    assert sorted(served) == [r[:-1] for r in scored]
    assert [tuple(r[:-1]) for r in sorted(served)] == [(i, *row) for i, row in enumerate(rows)]
    assert all(r.predicted_action == r.scores.index(max(r.scores)) for r in scored if r.scores is not None)
    assert "ArrowEvalPython" in want._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in got._jdf.queryExecution().executedPlan().toString()
