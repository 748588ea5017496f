"""M4/M5: LinUCB contextual bandit as a batch closed-form estimator.

The reference trains a TF-Agents ``LinearUCBAgent`` by looping over
trajectories row-at-a-time for ``num_epochs`` epochs
(``trainer_component.py:83-87,123-130``; params ``tikhonov_weight=0.01``,
``agent_alpha=10``). LinUCB's update is order-independent accumulation of
per-arm sufficient statistics, so the loop has an exact distributed
closed form:

    A_a = λI + Σ_{t: action_t=a} x_t x_tᵀ      b_a = Σ x_t r_t
    θ_a = A_a⁻¹ b_a
    score_a(x) = xᵀθ_a + α √(xᵀ A_a⁻¹ x)       action(x) = argmax_a score_a

(one epoch of the reference's loop ≡ this closed form; extra epochs just
multiply A−λI and b by the epoch count, which we expose as ``num_epochs``
for numerical parity).

Scale design: sufficient stats are **per-partition partial aggregates** —
one ``mapInPandas`` pass emits a k×k/k partial per arm present in each
input partition, with no shuffle (no task ever holds an arm's full row set),
and only the tiny ``partitions × arms`` partial set is reduced on the
driver. Inference broadcasts the solved per-arm parameters and scores rows
in vectorized NumPy batches (Arrow ``pandas_udf``), never per-row Python.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass
class LinUCB:
    """Estimator. ``fit`` consumes flat training rows
    ``(obs array<double>, action long, reward double)`` — the exploded
    trajectory shape (one slot per row)."""

    context_dim: int
    num_actions: int
    alpha: float = 10.0
    tikhonov: float = 0.01
    num_epochs: int = 1

    def fit(
        self,
        df: DataFrame,
        *,
        obs_col: str = "obs",
        action_col: str = "action",
        reward_col: str = "reward",
    ) -> "LinUCBModel":
        k = self.context_dim

        stats_schema = T.StructType(
            [
                T.StructField("action", T.LongType()),
                T.StructField("a_flat", T.ArrayType(T.DoubleType())),
                T.StructField("b_vec", T.ArrayType(T.DoubleType())),
                T.StructField("n", T.LongType()),
            ]
        )

        def _partial(batches):
            acc = {}  # action -> (XᵀX, Xᵀr, n) over this partition's batches
            for pdf in batches:  # an empty partition sends no batch
                X = np.stack(pdf["__obs"].to_numpy())
                r = pdf["__reward"].to_numpy()
                actions = pdf["__action"].to_numpy()
                for a in np.unique(actions).tolist():
                    m = actions == a
                    xtx, xtr, n = acc.get(a, (0.0, 0.0, 0))
                    acc[a] = (xtx + X[m].T @ X[m], xtr + X[m].T @ r[m], n + int(m.sum()))
            if acc:
                yield pd.DataFrame(
                    {
                        "action": list(acc),
                        "a_flat": [xtx.ravel().tolist() for xtx, _, _ in acc.values()],
                        "b_vec": [xtr.tolist() for _, xtr, _ in acc.values()],
                        "n": [n for _, _, n in acc.values()],
                    }
                )

        prepped = df.select(
            F.col(obs_col).cast("array<double>").alias("__obs"),
            F.col(action_col).cast("long").alias("__action"),
            F.col(reward_col).cast("double").alias("__reward"),
        ).where(
            F.col("__obs").isNotNull()
            & F.col("__action").isNotNull()
            & F.col("__reward").isNotNull()
        )
        # ≤ partitions × num_actions tiny rows — model state
        partials = prepped.mapInPandas(_partial, stats_schema).collect()

        A = {a: self.tikhonov * np.eye(k) for a in range(self.num_actions)}
        b = {a: np.zeros(k) for a in range(self.num_actions)}
        counts = {a: 0 for a in range(self.num_actions)}
        for row in partials:
            a = row["action"]
            A[a] = A[a] + self.num_epochs * np.asarray(row["a_flat"]).reshape(k, k)
            b[a] = b[a] + self.num_epochs * np.asarray(row["b_vec"])
            counts[a] += row["n"]

        theta = np.zeros((self.num_actions, k))
        a_inv = np.zeros((self.num_actions, k, k))
        for a in range(self.num_actions):
            a_inv[a] = np.linalg.inv(A[a])
            theta[a] = a_inv[a] @ b[a]
        return LinUCBModel(
            alpha=self.alpha,
            theta=theta,
            a_inv=a_inv,
            counts=np.array([counts[a] for a in range(self.num_actions)]),
        )


@dataclass
class LinUCBModel:
    """Fitted policy: ``transform`` adds ``predicted_action`` (+ scores)."""

    alpha: float
    theta: np.ndarray  # (num_actions, k)
    a_inv: np.ndarray  # (num_actions, k, k)
    counts: np.ndarray  # (num_actions,)

    def transform(self, df: DataFrame, *, obs_col: str = "obs", with_scores: bool = False) -> DataFrame:
        theta, a_inv, alpha = self.theta, self.a_inv, self.alpha

        @F.pandas_udf("struct<predicted_action: long, scores: array<double>>")
        def _score(obs: pd.Series) -> pd.DataFrame:
            X = np.stack(obs.to_numpy())  # (n, k)
            n = X.shape[0]
            scores = np.empty((n, theta.shape[0]))
            for a in range(theta.shape[0]):
                mean = X @ theta[a]
                var = np.einsum("ij,jk,ik->i", X, a_inv[a], X)
                scores[:, a] = mean + alpha * np.sqrt(np.maximum(var, 0.0))
            return pd.DataFrame(
                {
                    "predicted_action": scores.argmax(axis=1).astype("int64"),
                    "scores": list(scores),
                }
            )

        out = df.withColumn("__p", _score(F.col(obs_col).cast("array<double>")))
        out = out.withColumn("predicted_action", F.col("__p.predicted_action"))
        if with_scores:
            out = out.withColumn("scores", F.col("__p.scores"))
        return out.drop("__p")

    # --- S11: model artifact sink/source ----------------------------------
    # The reference persists its policy as a TF SavedModel on GCS
    # (``trainer_component.py:141-142``) and reloads it at serving startup
    # (``prediction_container/main.py:20-26``). Our artifact is one JSON
    # file of the closed-form parameters.

    def save(self, path: str) -> None:
        import json
        import os

        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "alpha": self.alpha,
                    "theta": self.theta.tolist(),
                    "a_inv": self.a_inv.tolist(),
                    "counts": self.counts.tolist(),
                },
                f,
            )

    @classmethod
    def load(cls, path: str) -> "LinUCBModel":
        import json

        with open(path) as f:
            d = json.load(f)
        return cls(
            alpha=d["alpha"],
            theta=np.asarray(d["theta"]),
            a_inv=np.asarray(d["a_inv"]),
            counts=np.asarray(d["counts"]),
        )


def sufficient_stats_exact(
    df: DataFrame,
    *,
    context_dim: int,
    obs_col: str = "obs",
    action_col: str = "action",
    reward_col: str = "reward",
    scale: int = 1_000_000,
) -> DataFrame:
    """Order-proof per-arm LinUCB sufficient statistics: the driver-
    verifiable projection of ``fit``'s accumulation.

    ``fit``'s float partials are exact in value but their driver-side
    reduction order can wobble the low mantissa bits, so θ itself is not
    hash-stable across engines. This emits the same per-arm accumulation —
    pull count, the b vector, and the A diagonal — in micro-scaled INTEGER
    arithmetic (the t11 trick: quantize each input to ``scale`` units,
    multiply and sum as longs), which is associative and replayable
    verbatim by a SQL oracle. Bounds: |x|,|r| ≲ 9·10³ at scale 10⁶ keeps a
    per-row term under 2⁶³ with ~10⁶ rows/arm headroom.

    Output: (action, n_pulls, b0_micro2..b{k-1}_micro2,
    a00_micro2..a{k-1}{k-1}_micro2) — ``_micro2`` marks sums of products
    of two micro-scaled factors (divide by ``scale²`` for float stats).
    """
    obs = F.col(obs_col).cast("array<double>")
    xs = [
        F.floor(F.element_at(obs, i + 1) * scale + F.lit(0.5)).cast("long")
        for i in range(context_dim)
    ]
    r = F.floor(F.col(reward_col).cast("double") * scale + F.lit(0.5)).cast("long")
    aggs = [F.count("*").alias("n_pulls")]
    aggs += [F.sum(r * xs[i]).alias(f"b{i}_micro2") for i in range(context_dim)]
    aggs += [F.sum(xs[i] * xs[i]).alias(f"a{i}{i}_micro2") for i in range(context_dim)]
    return df.groupBy(F.col(action_col).cast("long").alias("action")).agg(*aggs)
