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
one ``mapInArrow`` pass emits a k×k/k partial per arm present in each
input partition, with no shuffle (no task ever holds an arm's full row set;
X is the flattened Arrow ``obs`` column reshaped, never a per-row stack),
and only the tiny ``partitions × arms`` partial set is reduced on the
driver (``solve``). ``arm_partials`` is that pass's body; the retrain
(``pipeline.py``) runs it on the driver, over the same Arrow batches its
TFRecord write consumes.

Inference has one kernel, ``LinUCBModel.scores``: NumPy over an ``(n, k)``
matrix, each row's scores a function of that row alone. ``transform`` runs
it in an Arrow ``pandas_udf`` (table-scale scoring, distributed);
``pipeline.predict`` runs it on the driver over a request batch, as the
reference's server scores each request in its one process. Both build the
matrix with ``_obs_matrix``, so fit and scoring share one validity rule:
an observation that is NULL, not ``k`` long, or holds a NULL or NaN
element is not scored (NULL ``predicted_action``) and not fitted.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass
from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.sources.atomic import write_json


PARTIALS_SCHEMA = "action long, a_flat array<double>, b_vec array<double>, n long"


def _obs_matrix(obs: pa.Array | pa.ChunkedArray, k: int) -> np.ndarray:
    """The ``(n, k)`` float64 matrix of the list column ``obs``. A row that
    is NULL or not ``k`` long is all NaN, and a NULL element is NaN, so an
    invalid observation is exactly a row holding NaN."""
    obs = obs.cast(pa.list_(pa.float64()))
    full = pc.fill_null(pc.equal(pc.list_value_length(obs), k), False)
    X = np.full((len(obs), k), np.nan)
    values = pc.list_flatten(obs.filter(full)).to_numpy(zero_copy_only=False)  # NULL → NaN
    X[full.to_numpy(zero_copy_only=False)] = values.reshape(-1, k)
    return X


def arm_partials(batches: Iterator[pa.RecordBatch], context_dim: int) -> Iterator[pa.RecordBatch]:
    """The per-arm ``(XᵀX, Xᵀr, n)`` of ``(obs, action, reward)`` batches as
    ``PARTIALS_SCHEMA`` rows: a ``mapInArrow`` body, or a driver loop over
    local batches. A row is skipped when its action or reward is NULL (or
    NaN) or its observation is invalid (``_obs_matrix``); with no row
    left it yields nothing."""
    acc = {}  # action -> (XᵀX, Xᵀr, n) over the batches
    for batch in batches:
        X = _obs_matrix(batch["obs"], context_dim)
        r = batch["reward"].to_numpy(zero_copy_only=False)  # NULL → NaN
        keep = ~(np.isnan(X).any(axis=1) | np.isnan(r)) & batch["action"].is_valid().to_numpy(zero_copy_only=False)
        if not keep.any():
            continue
        X, r, actions = X[keep], r[keep], batch["action"].filter(pa.array(keep)).to_numpy()
        for a in np.unique(actions).tolist():
            m = actions == a
            xtx, xtr, n = acc.get(a, (0.0, 0.0, 0))
            acc[a] = (xtx + X[m].T @ X[m], xtr + X[m].T @ r[m], n + int(m.sum()))
    if acc:
        yield pa.RecordBatch.from_pydict(
            {
                "action": list(acc),
                "a_flat": [xtx.ravel().tolist() for xtx, _, _ in acc.values()],
                "b_vec": [xtr.tolist() for _, xtr, _ in acc.values()],
                "n": [n for _, _, n in acc.values()],
            }
        )


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
        prepped = df.select(
            F.col(obs_col).cast("array<double>").alias("obs"),
            F.col(action_col).cast("long").alias("action"),
            F.col(reward_col).cast("double").alias("reward"),
        )
        # ≤ partitions × num_actions tiny rows — model state
        partials = prepped.mapInArrow(partial(arm_partials, context_dim=self.context_dim), PARTIALS_SCHEMA)
        return self.solve(partials.collect())

    def solve(self, partials: list) -> "LinUCBModel":
        """The driver-side reduction: ``arm_partials`` rows → fitted policy.
        A partial whose action is not an arm (outside ``[0, num_actions)``)
        is left out, as ``arm_partials`` leaves out a NULL action."""
        k = self.context_dim
        A = {a: self.tikhonov * np.eye(k) for a in range(self.num_actions)}
        b = {a: np.zeros(k) for a in range(self.num_actions)}
        counts = {a: 0 for a in range(self.num_actions)}
        for row in partials:
            a = row["action"]
            if a not in A:
                continue
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
    """Fitted policy: ``scores`` is the scoring kernel; ``transform`` adds
    ``predicted_action`` (+ scores) to a DataFrame with it."""

    alpha: float
    theta: np.ndarray  # (num_actions, k)
    a_inv: np.ndarray  # (num_actions, k, k)
    counts: np.ndarray  # (num_actions,)

    def scores(self, X: np.ndarray) -> np.ndarray:
        """Each arm's UCB score ``xᵀθ_a + α √(xᵀ A_a⁻¹ x)`` of each row of
        ``X``: ``(n, k)`` → ``(n, arms)``. A row holding NaN scores NaN.
        ``einsum`` sums each row on its own, with no BLAS blocking, so a row
        scores the same bits in any batch."""
        mean = np.einsum("ij,aj->ia", X, self.theta)
        var = np.einsum("ij,ajk,ik->ia", X, self.a_inv, X)
        return mean + self.alpha * np.sqrt(np.maximum(var, 0.0))

    def best_arms(self, obs: pa.Array | pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """``(scores, best arm, scored)`` of each observation in ``obs``: the
        arm is the argmax (ties go to the lowest arm), and ``scored`` is
        False for an invalid observation, whose arm means nothing."""
        S = self.scores(_obs_matrix(obs, self.theta.shape[1]))
        return S, S.argmax(axis=1), ~np.isnan(S).any(axis=1)

    def transform(self, df: DataFrame, *, obs_col: str = "obs", with_scores: bool = False) -> DataFrame:
        """Table-scale scoring, distributed: ``scores`` in an Arrow
        ``pandas_udf``. An invalid observation gets a NULL
        ``predicted_action`` (and NULL ``scores``)."""

        @F.pandas_udf("struct<predicted_action: long, scores: array<double>>")
        def _score(obs: pd.Series) -> pd.DataFrame:
            S, best, scored = self.best_arms(pa.array(obs, pa.list_(pa.float64())))
            return pd.DataFrame(
                {
                    "predicted_action": pd.arrays.IntegerArray(best.astype("int64"), ~scored),
                    "scores": [s if ok else None for s, ok in zip(S, scored)],
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
    # file of the closed-form parameters, replaced atomically: serving
    # loads the path a retrain overwrites.

    def save(self, path: str) -> None:
        write_json(
            path,
            {
                "alpha": self.alpha,
                "theta": self.theta.tolist(),
                "a_inv": self.a_inv.tolist(),
                "counts": self.counts.tolist(),
            },
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
