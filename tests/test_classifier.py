"""ml/classifier.py: trained quality classifier (logistic regression over
hashed features, integer-micro-quantized full-batch GD).

Parity is asserted against a pure-numpy replay of the SAME quantized
algorithm; determinism is asserted as exact weight equality across
partitionings (the gradient is an integer sum); binned AUC is checked
against the exact rank-statistic AUC.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pytest

from mlops_pipelines_featurestore_gcp_spark.ml import classifier

DIM = 6  # n_feat = DIM + 2 — small so the test plans compile fast
N_FEAT = DIM + 2


def _numpy_fit(x: np.ndarray, y: np.ndarray, iters: int, lr: float):
    """The exact quantized algorithm, replayed single-machine."""
    w = np.zeros(x.shape[1])
    losses = []
    n = len(y)
    for _ in range(iters):
        z = x @ w
        p = 1.0 / (1.0 + np.exp(-z))
        rl = np.where(
            z >= 0,
            np.log1p(np.exp(-np.abs(z))) + (1.0 - y) * z,
            np.log1p(np.exp(-np.abs(z))) - y * z,
        )
        losses.append(int(np.floor(rl * 1e6 + 0.5).sum()))
        g = np.floor(((p - y)[:, None] * x) * 1e6 + 0.5).sum(axis=0)
        w = w - lr * (g / 1e6) / n
    return w, losses


@pytest.fixture(scope="module")
def toy(spark):
    """Separable-ish synthetic: class decided by x[0] + noise dims."""
    rng = np.random.RandomState(11)
    x = rng.randn(300, DIM)
    y = (x[:, 0] + 0.3 * rng.randn(300) > 0).astype(float)
    feats = np.concatenate(
        [x, np.full((300, 1), 0.8), np.ones((300, 1))], axis=1
    )  # + length-ish + bias columns, like featurize()
    df = spark.createDataFrame(
        [(i, [float(v) for v in row], int(yy)) for i, (row, yy) in enumerate(zip(feats, y))],
        "doc_id long, x array<double>, label int",
    ).cache()
    return df, feats, y


def test_fit_matches_numpy_replay(spark, toy):
    df, x, y = toy
    model = classifier.fit_quality_classifier(df, dim=DIM, iters=6, lr=1.0)
    w_np, losses_np = _numpy_fit(x, y, 6, 1.0)
    # same quantized integer losses (exact) — numpy exp vs JVM exp agree
    # to well under the 1e-6 quantum on these magnitudes
    assert list(model.losses_micro) == losses_np
    assert np.abs(np.array(model.weights) - w_np).max() < 1e-9
    assert model.n_train == 300
    assert model.loss_monotone


def test_weights_partition_invariant(spark, toy):
    df, _, _ = toy
    a = classifier.fit_quality_classifier(df, dim=DIM, iters=4, lr=1.0)
    b = classifier.fit_quality_classifier(df.repartition(13), dim=DIM, iters=4, lr=1.0)
    assert a.weights == b.weights  # EXACT: integer-sum gradients
    assert a.losses_micro == b.losses_micro


def test_gradient_micro_partition_invariant(spark, toy):
    df, _, _ = toy
    w = [0.07 * (j + 1) for j in range(N_FEAT)]
    g1, l1, n1 = classifier.gradient_micro(df, w)
    g2, l2, n2 = classifier.gradient_micro(df.repartition(7), w)
    assert (g1, l1, n1) == (g2, l2, n2)


def test_score_is_sigmoid_of_dot(spark, toy):
    df, x, _ = toy
    w = [0.1] * N_FEAT
    got = {r.doc_id: r.s for r in classifier.score(df, w, out_col="s").collect()}
    for i in range(0, 300, 37):
        z = float(np.dot(x[i], w))
        assert abs(got[i] - 1.0 / (1.0 + math.exp(-z))) < 1e-12


def test_binned_auc_matches_exact(spark, toy):
    df, x, y = toy
    model = classifier.fit_quality_classifier(df, dim=DIM, iters=6, lr=1.0)
    scored = classifier.score(df, model.weights)
    got = classifier.binned_auc(scored)
    p = 1.0 / (1.0 + np.exp(-(x @ np.array(model.weights))))
    order = np.argsort(p)
    r = np.empty(len(p))
    r[order] = np.arange(1, len(p) + 1)
    pos = y.sum()
    neg = len(y) - pos
    exact = (r[y == 1].sum() - pos * (pos + 1) / 2) / (pos * neg)
    assert abs(got - exact) < 2e-3  # 1e-4 bin width, mid-rank ties
    assert got > 0.85  # the toy task is learnable


def test_binned_auc_degenerate_labels(spark):
    df = spark.createDataFrame([(i, 1, 0.5) for i in range(5)], "doc_id long, label int, score double")
    assert math.isnan(classifier.binned_auc(df))


def test_featurize_shape_and_length_feature(spark):
    docs = spark.createDataFrame(
        [(1, "aa bb cc"), (2, " ".join(["tok"] * 500)), (3, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.x for r in classifier.featurize(docs, "doc_id", "text", dim=DIM).collect()}
    assert set(out) == {1, 2}  # zero-token doc produces no row
    assert len(out[1]) == N_FEAT
    assert out[1][-1] == 1.0  # bias
    assert abs(out[1][-2] - 3 / 100.0) < 1e-12  # n_tokens / len_scale
    assert out[2][-2] == 2.0  # len capped at 200
    # BOW block is L2-unit (or all-zero)
    assert abs(sum(v * v for v in out[1][:DIM]) - 1.0) < 1e-9


def test_ml07_keeps_zero_token_docs(spark, tmp_path):
    """The registered query's row set must equal `documents` even when a
    doc has no tokens (featurize drops it; the LEFT join + bias-only
    default x puts it back — the oracle emits every documents row)."""
    import shutil

    from mlops_pipelines_featurestore_gcp_spark import plans

    sf = str(tmp_path / "sf")
    shutil.copytree("/root/testdata/sf0.001", sf, symlinks=False)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    extra = spark.createDataFrame(
        [(999_999, "   ", "en", "srcX", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    merged = docs.unionByName(extra).localCheckpoint(eager=True)
    path = f"{sf}/documents.parquet"
    shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    merged.write.parquet(path)
    out = plans.QUERIES["ml07_quality_classifier"].fn(spark, sf)
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == merged.count()
    blank = rows[999_999]
    assert blank.n_tokens == 0
    assert blank.score_in_unit == 1  # σ(w_bias) ∈ (0,1) for the default x


def test_model_save_load_roundtrip(spark, tmp_path, toy):
    df, _, _ = toy
    model = classifier.fit_quality_classifier(df, dim=DIM, iters=3, lr=1.0)
    path = str(tmp_path / "qclf_model")
    classifier.save_model(spark, model, path)
    back = classifier.load_model(spark, path)
    assert back == model
    # the reloaded artifact scores text end to end: featurize with its own
    # dim and length scaling, then score with its weights; a zero-token doc
    # yields no row
    docs = spark.createDataFrame(
        [(1, "the quick fox"), (2, "of and to the"), (3, "")], "doc_id long, text string"
    )
    feats = classifier.featurize(
        docs, "doc_id", "text", dim=back.dim, len_cap=back.len_cap, len_scale=back.len_scale
    )
    scores = {r.doc_id: r.score for r in classifier.score(feats, back.weights).collect()}
    assert set(scores) == {1, 2}
    assert all(0.0 < v < 1.0 for v in scores.values())
