"""M2/M3: random-policy trajectory generation, DataFrame-native.

The reference generates training data by running a ``RandomTFPolicy`` in the
SVD environment for ``driver_steps × batch_size`` steps into a replay buffer
(``generator_component.py:52-71``), then dumps it as NDJSON rows in the
nested trajectory schema. Spark version: the step×slot grid is
``spark.range``, user sampling and the uniform random policy are seeded
``F.rand`` expressions, observations come from a broadcast join against the
user-factor DataFrame, rewards from the item-factor dot product
(``reward_join``) — a single lazy plan, no replay buffer, no driver loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mlops_pipelines_featurestore_gcp_spark.ml.factorization import reward_join
from mlops_pipelines_featurestore_gcp_spark.sources.trajectories import TRAJECTORY_SCHEMA, trajectory_columns


def random_policy(num_actions: int, *, seed: int = 7) -> Column:
    """M2: uniform random action — ``RandomTFPolicy`` as one expression."""
    return F.floor(F.rand(seed) * num_actions).cast("long")


def generate_trajectories(
    user_factors: DataFrame,
    item_factors: DataFrame,
    *,
    driver_steps: int,
    batch_size: int = 8,
    num_actions: int = 20,
    seed: int = 7,
) -> DataFrame:
    """M3: ``driver_steps`` trajectory rows, each batching ``batch_size``
    (observation, random action, reward) slots — output exactly in
    ``TRAJECTORY_SCHEMA``.

    ``user_factors``/``item_factors``: ``(id, features array)`` as returned
    by :func:`~mlops_pipelines_featurestore_gcp_spark.ml.factorization.als_factors`. Both factor
    sides are broadcast (dimension-sized); the only shuffle is the final
    per-step grouping, keyed on ``driver_steps`` values.
    """
    n_users = user_factors.count()
    grid = (
        F.broadcast(user_factors.sparkSession.range(driver_steps * batch_size))
        .select(
            (F.col("id") / batch_size).cast("long").alias("step"),
            (F.col("id") % batch_size).alias("slot"),
            F.floor(F.rand(seed) * n_users).cast("long").alias("user_idx"),
            random_policy(num_actions, seed=seed + 1).alias("action"),
        )
    )
    # index users densely so user_idx sampling is uniform over present ids
    users = user_factors.select(
        (F.row_number().over(Window.orderBy("id")) - 1)
        .cast("long")
        .alias("user_idx"),
        F.col("features").cast("array<double>").alias("obs"),
    )
    slots = grid.join(F.broadcast(users), on="user_idx", how="inner")
    # actions outside the factorized item set earn 0 reward (the env returns
    # a rating for every valid action; ALS may have dropped cold items)
    rewarded = reward_join(slots, item_factors, action_col="action", obs_col="obs").withColumn(
        "reward", F.coalesce(F.col("reward"), F.lit(0.0))
    )

    batch = F.sort_array(F.collect_list(F.struct("slot", "obs", "action", "reward")))
    rows = rewarded.groupBy("step").agg(batch.alias("b")).select(*trajectory_columns(F.col("b")))
    # conform to the canonical nested schema (transform() tightens
    # nullability; DataFrame.to() relaxes it back and fixes column order)
    return rows.to(TRAJECTORY_SCHEMA)
