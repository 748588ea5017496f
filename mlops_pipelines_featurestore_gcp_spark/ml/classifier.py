"""Trained quality classifier: logistic regression over hashed text
features — the model-based filtering tier ABOVE the heuristic rules.

Every published LLM data pipeline ends its quality stack with a cheap
trained classifier: GPT-3 (Brown 2020, App. A) scored CommonCrawl with a
linear model trained "WebText vs crawl"; CCNet (Wenzek 2020) and LLaMA use
a fastText linear classifier; FineWeb-Edu DISTILS an expensive teacher
signal into a small student that then scores the whole corpus. This module
is that tier for this engine, and the registered query (``ml07``) runs it
in the distillation shape: teacher = the oracle-verified composite quality
heuristic (operators/text_analysis.composite_quality), student = logistic
regression on hashed bag-of-words + length features, scored corpus-wide.

The reference has no in-engine training at all — its training step runs
a TF-Agents loop inside a Vertex pipeline component and ships the policy
out as a SavedModel (``trainer_component.py:94-135``); this, like ALS
(``ml/factorization.py``) and LinUCB (``ml/linucb.py``), is the
engine-native re-expression of that stage.

Scale shape (what survives 100 TB):

- **featurize** — hashed-BOW from ``operators/embeddings.hashed_embedding``
  (ONE partial-combined aggregate per doc: the t07 plan) plus a capped
  length feature and a bias term, appended map-side. Output is one narrow
  row per doc ((dim+2) doubles), cached once for the training loop.
- **fit** — full-batch gradient descent, ``iters`` passes over the cached
  feature frame. Each iteration is ONE wide aggregate: per-row sigmoid +
  residual in codegen, every gradient term ROUND-HALF-UP-quantized to
  integer micro-units — ``floor(x*1e6 + 0.5)``, NOT a plain floor —
  BEFORE the sum (the lm_score/t10 trick) so the aggregation
  is exact BIGINT addition — associative, commutative, and therefore
  **bit-deterministic under any partitioning, task retry, or AQE
  re-plan**. The (dim+2)-float weight update runs driver-side on the
  micro-integer sums; the model is driver-sized by construction.
  T scans of an O(N·dim) cached frame is the honest distributed cost of
  full-batch GD — the same per-iteration shape as ALS.
- **score** — learned weights as literals, the dot product UNROLLED as a
  Σ x[j]·w[j] codegen expression (never a zip_with/aggregate HOF — those
  are CodegenFallback, interpreted per element): map-only, no shuffle.
- **binned_auc** — AUC from a (score-bin, label) count aggregate at 1e-4
  bin width: ≤10k + 1 rows reach the driver regardless of corpus size.
  NEVER a global rank window (the repo-banned single-task stage); the bin
  quantization error is ≤ ~1e-3 AUC, far inside the contract floors.

Determinism contract: identical inputs → bit-identical weights, losses,
and scores, at any parallelism — asserted empirically by the registered
query's ``grad_partition_invariant`` flag (same gradient from a
``repartition(7)`` copy) and by tests/test_classifier.py's full-refit
parity.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.operators.embeddings import hashed_embedding

MICRO = 1_000_000

# _logit unrolls dim+2 element_at*weight terms into ONE expression and
# gradient_micro builds n_feat parallel sums each embedding that tree; past
# a few hundred terms the generated method would blow Janino's 64 KB limit
# and Catalyst silently falls back to INTERPRETED evaluation — exactly the
# hot-path smell the module docstring bans. Cap so the codegen claim stays
# true by construction (dim=256 → 258 terms, comfortably inside the limit).
MAX_DIM = 256


def _check_dim(dim: int) -> None:
    if dim > MAX_DIM:
        raise ValueError(
            f"quality classifier dim={dim} exceeds MAX_DIM={MAX_DIM}: the "
            "unrolled w·x codegen expression would exceed Janino's method "
            "limit and fall back to interpreted evaluation"
        )


@dataclass(frozen=True)
class QualityClassifierModel:
    """Driver-sized artifact: (dim+2) weights + the training trace."""

    weights: tuple[float, ...]
    losses_micro: tuple[int, ...]  # Σ per-row micro-logloss, one per iteration
    n_train: int
    dim: int
    len_cap: int
    len_scale: float

    @property
    def loss_monotone(self) -> bool:
        """Full-batch GD on a convex loss with a sane lr descends strictly;
        a violation means the lr is too hot for this feature scale."""
        ls = self.losses_micro
        return all(ls[i + 1] < ls[i] for i in range(len(ls) - 1))


def featurize(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    dim: int = 64,
    len_cap: int = 200,
    len_scale: float = 100.0,
    salt: str = "emb",
) -> DataFrame:
    """``(id, x array<double>)`` with ``len(x) == dim + 2``.

    x[0:dim]  — L2-unit hashed bag-of-words (hashed_embedding, one
                partial-combined aggregate);
    x[dim]    — min(n_tokens, len_cap)/len_scale: the length signal the
                unit-normalized BOW deliberately discards;
    x[dim+1]  — 1.0 bias.

    Docs with zero tokens have no feature direction and produce no row
    (hashed_embedding's documented contract).
    """
    _check_dim(dim)
    emb = hashed_embedding(df, id_col, text_col, dim=dim, salt=salt)
    x = F.concat(
        F.col("embedding"),
        F.array(
            (F.least(F.col("n_tokens"), F.lit(len_cap)) / F.lit(float(len_scale))).cast(
                "double"
            ),
            F.lit(1.0),
        ),
    )
    return emb.select(F.col(id_col), x.alias("x"))


def _logit(x_col: Column, w_terms: list[Column]) -> Column:
    """w·x unrolled as Σ_j x[j]·w[j] — plain codegen binary adds, NOT a
    zip_with/aggregate HOF (those are CodegenFallback, interpreted per
    element — the repo's documented hot-path smell; at dim+2 = 66 terms
    the unrolled expression is well inside Catalyst's comfort zone, and
    the left-associated add order is bit-identical to the fold's)."""
    terms = [F.element_at(x_col, j + 1) * w for j, w in enumerate(w_terms)]
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z


def _w_lits(weights) -> list[Column]:
    return [F.lit(float(w)) for w in weights]


def _round_micro(col: Column) -> Column:
    """Round-half-up to integer micro-units — ``floor(x*1e6 + 0.5)``, i.e.
    nearest-integer with ties up, NOT a plain floor — BEFORE summation:
    the sum becomes exact BIGINT addition → partitioning/retry/order-proof.
    A replay or SQL twin MUST reproduce the ``+ 0.5`` or it diverges by
    one micro-unit on exactly-representable halves."""
    return F.floor(col * MICRO + F.lit(0.5)).cast("long")


def gradient_micro(features: DataFrame, weights, *, x_col: str = "x", label_col: str = "label"):
    """One full-batch pass: ``(grad_micro list[int], loss_micro, n)``.

    grad_micro[j] = Σ_rows floor((σ(w·x) − y)·x_j·1e6 + 0.5) — the
    quantized gradient the fit loop consumes. Exposed so callers can
    assert partition-invariance (the ml07 contract flag).

    The weights arrive via a ONE-ROW broadcast params frame, not as
    literals: literal weights would bake a fresh expression tree every
    iteration and defeat the whole-stage-codegen cache — measured 1.6 s of
    janino compilation PER GD STEP at sf0.01 versus a cache hit when the
    tree is iteration-invariant (the s11 broadcast-params pattern).
    """
    n_feat = len(weights)
    _check_dim(n_feat - 2)
    spark = features.sparkSession
    params = spark.createDataFrame(
        [([float(w) for w in weights],)], "__w array<double>"
    )
    z = _logit(F.col(x_col), [F.element_at(F.col("__w"), j + 1) for j in range(n_feat)])
    y = F.col(label_col).cast("double")
    d = (F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - y).alias("__d")
    # numerically stable logloss: log1p(e^-|z|) + max(z,0) - z·y
    loss = (
        F.when(z >= 0, F.log1p(F.exp(-z)) + (F.lit(1.0) - y) * z)
        .otherwise(F.log1p(F.exp(z)) - y * z)
        .alias("__l")
    )
    row = features.crossJoin(F.broadcast(params)).select(F.col(x_col), d, loss)
    agg = row.agg(
        *[F.sum(_round_micro(F.col("__d") * F.element_at(F.col(x_col), j + 1))).alias(f"g{j}") for j in range(n_feat)],
        F.sum(_round_micro(F.col("__l"))).alias("loss"),
        F.count("*").alias("n"),
    ).first()
    if int(agg["n"]) == 0:
        # the F.sum aggregates are NULL on an empty frame — fail with the
        # real cause, not an int(None) TypeError
        raise ValueError("gradient_micro: empty training frame")
    return [int(agg[f"g{j}"]) for j in range(n_feat)], int(agg["loss"]), int(agg["n"])


def fit_quality_classifier(
    features: DataFrame,
    *,
    x_col: str = "x",
    label_col: str = "label",
    dim: int = 64,
    len_cap: int = 200,
    len_scale: float = 100.0,
    iters: int = 16,
    lr: float = 1.0,
) -> QualityClassifierModel:
    """Full-batch GD from w = 0. Caller provides ``(x, label)`` rows and
    should cache/checkpoint them — the loop scans ``iters`` times.

    The worst-case guaranteed-descent bound for these features is
    lr < 1/L ≈ 0.67 (max ‖x‖² ≤ 1 + (len_cap/len_scale)² + 1 = 6;
    L = max‖x‖²/4). The default 1.0 deliberately exceeds that
    conservative bound — the bound assumes every row sits at max norm —
    and descent is therefore RE-ASSERTED per fit by ``loss_monotone``
    (hashed into ml07's contract); drop lr to 0.67 if a caller needs
    the a-priori guarantee instead of the per-fit check.
    """
    _check_dim(dim)
    n_feat = dim + 2
    w = [0.0] * n_feat
    losses: list[int] = []
    n = 0
    for _ in range(iters):
        # gradient_micro raises ValueError on an empty frame
        g, loss, n = gradient_micro(features, w, x_col=x_col, label_col=label_col)
        losses.append(loss)
        w = [wj - lr * (gj / MICRO) / n for wj, gj in zip(w, g)]
    return QualityClassifierModel(
        weights=tuple(w),
        losses_micro=tuple(losses),
        n_train=n,
        dim=dim,
        len_cap=len_cap,
        len_scale=len_scale,
    )


def score(
    df: DataFrame, weights, *, x_col: str = "x", out_col: str = "score"
) -> DataFrame:
    """σ(w·x) per row — literal weights (one-shot call: a single compile),
    map-only codegen."""
    _check_dim(len(weights) - 2)
    z = _logit(F.col(x_col), _w_lits(weights))
    return df.withColumn(out_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))


def binned_auc(
    scored: DataFrame, *, label_col: str = "label", score_col: str = "score", bins: int = 10_000
) -> float:
    """ROC-AUC from a (bin, label) histogram — one aggregate, ≤ bins+1
    rows to the driver at ANY corpus size; within-bin ties take the
    standard mid-rank (trapezoid) credit. With micro-quantized sigmoid
    scores and bins=1e4 the bin error is ≤ ~1e-3 AUC.

    Returns NaN when either class is absent (AUC is undefined on a
    single-class frame). Callers gating on a floor must pair the gate
    with a degenerate-split signal — NaN >= floor is False, which would
    otherwise surface as a bare flag mismatch (ml07 emits
    ``split_nondegenerate`` for exactly this)."""
    hist = (
        scored.groupBy(
            F.floor(F.col(score_col) * bins).cast("long").alias("__b"),
            F.col(label_col).cast("int").alias("__y"),
        )
        .count()
        .groupBy("__b")
        .agg(
            F.sum(F.when(F.col("__y") == 1, F.col("count")).otherwise(0)).alias("p"),
            F.sum(F.when(F.col("__y") == 0, F.col("count")).otherwise(0)).alias("q"),
        )
        .orderBy("__b")
        .collect()
    )
    pos = sum(r["p"] for r in hist)
    neg = sum(r["q"] for r in hist)
    if pos == 0 or neg == 0:
        return float("nan")
    acc_neg = 0
    s = 0.0
    for r in hist:
        s += r["p"] * (acc_neg + r["q"] / 2.0)
        acc_neg += r["q"]
    return s / (pos * neg)


def save_model(spark: SparkSession, model: QualityClassifierModel, path: str) -> None:
    """Persist the driver-sized artifact as one parquet row (the S11
    model-artifact surface, like ml/linucb's ``LinUCBModel.save``)."""
    row = [
        (
            list(model.weights),
            [int(v) for v in model.losses_micro],
            model.n_train,
            model.dim,
            model.len_cap,
            float(model.len_scale),
        )
    ]
    schema = (
        "weights array<double>, losses_micro array<long>, n_train long,"
        " dim int, len_cap int, len_scale double"
    )
    spark.createDataFrame(row, schema).coalesce(1).write.mode("overwrite").parquet(path)


def load_model(spark: SparkSession, path: str) -> QualityClassifierModel:
    r = spark.read.parquet(path).first()
    return QualityClassifierModel(
        weights=tuple(r["weights"]),
        losses_micro=tuple(int(v) for v in r["losses_micro"]),
        n_train=int(r["n_train"]),
        dim=int(r["dim"]),
        len_cap=int(r["len_cap"]),
        len_scale=float(r["len_scale"]),
    )
