"""Milestone-6 ML-kernel tests (SURVEY.md §5.2 'ML sanity'): LinUCB
converges to the best arm on a synthetic bandit; closed-form parity with a
NumPy reference implementation; ALS reconstruction improves with rank;
trajectory generator emits the canonical nested schema."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.ml import LinUCB, als_factors, generate_trajectories, reward_join
from mlops_pipelines_featurestore_gcp_spark.sources.trajectories import TRAJECTORY_SCHEMA


def _bandit_rows(n=400, k=3, seed=0):
    """Arm a's true reward = obs[a % k] * (a+1); arm 2 dominates."""
    rng = np.random.default_rng(seed)
    rows = []
    for _ in range(n):
        x = rng.uniform(0.1, 1.0, size=k)
        a = int(rng.integers(0, 3))
        r = float(x[a % k] * (a + 1))
        rows.append(([float(v) for v in x], a, r))
    return rows


def test_linucb_matches_numpy_closed_form(spark):
    rows = _bandit_rows()
    df = spark.createDataFrame(rows, "obs array<double>, action long, reward double")
    est = LinUCB(context_dim=3, num_actions=3, alpha=0.5, tikhonov=0.01)
    model = est.fit(df)

    # NumPy reference: identical closed form, accumulated sequentially
    A = [0.01 * np.eye(3) for _ in range(3)]
    b = [np.zeros(3) for _ in range(3)]
    for x, a, r in rows:
        x = np.asarray(x)
        A[a] += np.outer(x, x)
        b[a] += r * x
    for a in range(3):
        np.testing.assert_allclose(model.theta[a], np.linalg.inv(A[a]) @ b[a], rtol=1e-8)
    assert model.counts.sum() == len(rows)


def test_linucb_greedy_picks_best_arm(spark):
    rows = _bandit_rows(n=600)
    df = spark.createDataFrame(rows, "obs array<double>, action long, reward double")
    model = LinUCB(context_dim=3, num_actions=3, alpha=0.0, tikhonov=0.01).fit(df)
    pred = model.transform(df, obs_col="obs", with_scores=True)
    top = pred.groupBy("predicted_action").count().orderBy(F.desc("count")).first()
    assert top.predicted_action == 2  # dominant arm
    assert len(pred.first().scores) == 3


# One row of each kind the fit skips: NULL, too short, too long, a NULL
# element, a NaN element.
_INVALID_OBS = [(10, None), (11, [0.1, 0.2]), (12, [0.1, 0.2, 0.3, 0.4]), (13, [0.1, None, 0.3]), (14, [0.1, float("nan"), 0.3])]


def test_transform_serves_null_for_an_invalid_observation(spark):
    """An invalid observation gets a NULL ``predicted_action`` and NULL
    ``scores``; the other rows of its batch score as they do without it."""
    train = spark.createDataFrame(_bandit_rows(n=100), "obs array<double>, action long, reward double")
    model = LinUCB(context_dim=3, num_actions=3, alpha=0.5, tikhonov=0.01).fit(train)
    good = [(i, [0.1 * i, 0.2, 0.3]) for i in range(6)]
    schema = "id long, obs array<double>"
    got = model.transform(spark.createDataFrame(good + _INVALID_OBS, schema).coalesce(1), with_scores=True).collect()
    want = model.transform(spark.createDataFrame(good, schema), with_scores=True).collect()
    assert {r.id for r in got if r.predicted_action is None and r.scores is None} == {i for i, _ in _INVALID_OBS}
    assert sorted(r for r in got if r.id < 10) == sorted(want)


def test_linucb_epochs_scale_stats(spark):
    rows = _bandit_rows(n=100)
    df = spark.createDataFrame(rows, "obs array<double>, action long, reward double")
    m1 = LinUCB(context_dim=3, num_actions=3, tikhonov=0.01, num_epochs=1).fit(df)
    m5 = LinUCB(context_dim=3, num_actions=3, tikhonov=0.01, num_epochs=5).fit(df)
    # with λ→0 the epoch count cancels in θ; with small λ they are close
    # (absolute tolerance — off-diagonal θ entries are near zero)
    np.testing.assert_allclose(m1.theta, m5.theta, atol=0.01)


def _bandit_df(spark, rows, n_partitions):
    rdd = spark.sparkContext.parallelize(rows, n_partitions)
    return spark.createDataFrame(rdd, "obs array<double>, action long, reward double")


def test_linucb_fit_independent_of_partitioning(spark):
    rows = _bandit_rows(n=500, seed=3)
    one, seven = (
        LinUCB(context_dim=3, num_actions=3, alpha=0.5, tikhonov=0.01).fit(_bandit_df(spark, rows, n))
        for n in (1, 7)
    )
    np.testing.assert_allclose(one.theta, seven.theta, rtol=1e-10)
    np.testing.assert_allclose(one.a_inv, seven.a_inv, rtol=1e-10)
    assert one.counts.tolist() == seven.counts.tolist()


def test_linucb_fit_collects_one_pass_without_exchange(spark, monkeypatch):
    df = _bandit_df(spark, _bandit_rows(n=100), 4)
    plans = []
    collect = type(df).collect

    def spy(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return collect(self)

    monkeypatch.setattr(type(df), "collect", spy)
    LinUCB(context_dim=3, num_actions=3).fit(df)
    assert len(plans) == 1
    assert "MapInArrow" in plans[0] and "Exchange" not in plans[0]


def test_linucb_fit_skips_rows_with_a_null_or_short_observation(spark):
    """A row whose ``obs`` holds a NULL element or is not ``context_dim``
    long is skipped like a row with a NULL field: the policy equals the
    one fitted without it."""
    rows = _bandit_rows(n=200, seed=4)
    bad = [([0.1, None, 0.3], 1, 0.5), ([0.2, 0.3], 2, 1.0), ([0.2, 0.3, 0.4, 0.5], 0, 1.0)]
    want = LinUCB(context_dim=3, num_actions=3, alpha=0.5).fit(_bandit_df(spark, rows, 1))
    got = LinUCB(context_dim=3, num_actions=3, alpha=0.5).fit(_bandit_df(spark, rows[:100] + bad + rows[100:], 1))
    assert np.array_equal(got.theta, want.theta) and np.array_equal(got.a_inv, want.a_inv)
    assert got.counts.tolist() == want.counts.tolist()


@pytest.mark.parametrize("action", [-1, 3])
def test_linucb_fit_rejects_action_out_of_range(spark, action):
    """A row whose action is not an arm is left out of the fit, like a row
    with a NULL action: the policy equals the one fitted without it."""
    rows = _bandit_rows(n=50)
    want = LinUCB(context_dim=3, num_actions=3).fit(_bandit_df(spark, rows, 2))
    got = LinUCB(context_dim=3, num_actions=3).fit(_bandit_df(spark, rows + [([0.5, 0.5, 0.5], action, 1.0)], 2))
    assert np.array_equal(got.theta, want.theta) and np.array_equal(got.a_inv, want.a_inv)
    assert got.counts.tolist() == want.counts.tolist()


@pytest.fixture(scope="module")
def tiny_ratings(spark):
    rng = np.random.default_rng(1)
    u_f = rng.normal(size=(30, 3))
    i_f = rng.normal(size=(20, 3))
    rows = [
        (u, i, float(u_f[u] @ i_f[i]))
        for u in range(30)
        for i in range(20)
        if rng.uniform() < 0.7
    ]
    return spark.createDataFrame(rows, "user_id int, item_id int, rating float")


def test_als_reconstruction_improves_with_rank(spark, tiny_ratings):
    def rmse(rank):
        uf, itf = als_factors(tiny_ratings, rank=rank, max_iter=10, reg_param=0.05, seed=3)
        joined = (
            tiny_ratings.join(uf.withColumnRenamed("id", "user_id"), "user_id")
            .withColumnRenamed("features", "u")
            .join(itf.withColumnRenamed("id", "item_id"), "item_id")
            .withColumnRenamed("features", "i")
        )
        err = joined.select(
            F.pow(
                F.col("rating")
                - F.aggregate(
                    F.zip_with(F.col("u").cast("array<double>"), F.col("i").cast("array<double>"), lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                2,
            ).alias("se")
        )
        return err.agg(F.sqrt(F.avg("se"))).first()[0]

    assert rmse(3) < rmse(1) * 0.9  # true rank is 3


def test_linucb_model_save_load_roundtrip(spark, tmp_path):
    rows = _bandit_rows(n=100)
    df = spark.createDataFrame(rows, "obs array<double>, action long, reward double")
    model = LinUCB(context_dim=3, num_actions=3, alpha=0.5, tikhonov=0.01).fit(df)
    path = str(tmp_path / "artifacts" / "policy.json")
    model.save(path)
    from mlops_pipelines_featurestore_gcp_spark.ml import LinUCBModel

    loaded = LinUCBModel.load(path)
    np.testing.assert_array_equal(loaded.theta, model.theta)
    p1 = model.transform(df).select("predicted_action").collect()
    p2 = loaded.transform(df).select("predicted_action").collect()
    assert p1 == p2


def test_model_save_is_atomic(tmp_path, monkeypatch):
    """``predict`` loads the path a retrain overwrites: a crash halfway
    through the save (in ``json.dump``, or at the rename) leaves the
    previous artifact byte-identical and loadable, with no temp file."""
    import os

    from mlops_pipelines_featurestore_gcp_spark.ml import LinUCBModel
    from mlops_pipelines_featurestore_gcp_spark.sources import atomic

    def model(seed):
        rng = np.random.default_rng(seed)
        return LinUCBModel(alpha=0.5, theta=rng.normal(size=(3, 2)), a_inv=rng.normal(size=(3, 2, 2)), counts=np.arange(3))

    path = tmp_path / "model" / "policy.json"
    model(0).save(str(path))
    before = path.read_bytes()

    def partial_dump(doc, f, **kwargs):
        f.write('{"alpha": 0.5, "theta": [[')
        raise OSError("simulated crash")

    def failing_replace(src, dst):
        raise OSError("simulated crash")

    for owner, name, fake in ((atomic.json, "dump", partial_dump), (atomic.os, "replace", failing_replace)):
        monkeypatch.setattr(owner, name, fake)
        with pytest.raises(OSError, match="simulated crash"):
            model(1).save(str(path))
        monkeypatch.undo()
        assert path.read_bytes() == before
        assert os.listdir(path.parent) == ["policy.json"]
        np.testing.assert_array_equal(LinUCBModel.load(str(path)).theta, model(0).theta)
    model(1).save(str(path))
    np.testing.assert_array_equal(LinUCBModel.load(str(path)).theta, model(1).theta)


def test_reward_join_missing_factor_is_null(spark):
    obs = spark.createDataFrame([([1.0, 2.0], 0), ([1.0, 2.0], 99)], "obs array<double>, action long")
    factors = spark.createDataFrame([(0, [3.0, 4.0])], "id long, features array<double>")
    got = {r.action: r.reward for r in reward_join(obs, factors).collect()}
    assert got[0] == 11.0
    assert got[99] is None


def test_generate_trajectories_schema_and_determinism(spark):
    uf = spark.createDataFrame([(i, [float(i), 1.0]) for i in range(5)], "id int, features array<float>")
    itf = spark.createDataFrame([(i, [0.5, float(i)]) for i in range(4)], "id int, features array<float>")
    t1 = generate_trajectories(uf, itf, driver_steps=6, batch_size=3, num_actions=4, seed=11)
    # same names/types; generated columns may be stricter (non-null) than
    # the canonical schema, which is write-compatible
    assert [(f.name, f.dataType.simpleString()) for f in t1.schema.fields] == [
        (f.name, f.dataType.simpleString()) for f in TRAJECTORY_SCHEMA.fields
    ]
    assert t1.count() == 6
    row = t1.first()
    assert len(row.observation) == 3
    assert all(0 <= a < 4 for a in row.action)
    # reward slot i = dot(obs_i, item_factor[action_i])
    for slot in range(3):
        obs = row.observation[slot].observation_batch
        a = row.action[slot]
        expected = obs[0] * 0.5 + obs[1] * float(a)
        assert abs(row.reward[slot] - expected) < 1e-9
