"""operators/whitening.py: PCA rotation / whitening fit + apply.

Parity is asserted against numpy's own covariance + eigh on the same
rows — the operator's distributed DECIMAL-accumulated gram must agree
with the single-machine ground truth, and the projection must be the
exact matrix product.
"""

from __future__ import annotations

import numpy as np
import pytest

from mlops_pipelines_featurestore_gcp_spark.operators.whitening import (
    apply_whitening,
    fit_whitening,
)

DIM = 8


@pytest.fixture(scope="module")
def xdf(spark):
    rng = np.random.RandomState(7)
    x = rng.randn(400, DIM) @ rng.randn(DIM, DIM)  # correlated coordinates
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    ).cache()
    # float32 storage: numpy reference must see the same rounded values
    xf = np.array(df.toPandas().sort_values("vec_id")["embedding"].tolist(), dtype=np.float64)
    return df, xf


def test_fit_matches_numpy_cov_eigh(xdf):
    df, x = xdf
    mean, rot, lam = fit_whitening(df, dim=DIM)
    assert np.abs(np.array(mean) - x.mean(axis=0)).max() < 1e-12
    w_np = np.linalg.eigh(np.cov(x.T, bias=True))[0]
    assert np.abs(np.sort(lam) - np.sort(w_np)).max() < 1e-9
    assert lam == sorted(lam, reverse=True)  # components ordered by variance


def test_apply_is_exact_matrix_product_and_orthonormal(xdf):
    df, x = xdf
    mean, rot, lam = fit_whitening(df, dim=DIM)
    w = np.array(rot).T  # columns = components
    assert np.abs(w.T @ w - np.eye(DIM)).max() < 1e-9  # orthonormal rotation
    out = apply_whitening(df, mean, rot).toPandas().sort_values("vec_id")
    y = np.array(out["whitened"].tolist())
    yref = (x - np.array(mean)) @ w
    # same left-to-right fold order as numpy's small-dim dot → tight bound
    assert np.abs(y - yref).max() < 1e-9
    # realized variances match the fitted spectrum, descending
    assert np.abs(y.var(axis=0) - np.array(lam)).max() < 1e-9
    assert np.all(np.diff(y.var(axis=0)) <= 1e-9)


def test_whiten_scales_to_unit_variance(xdf):
    df, x = xdf
    mean, rot, lam = fit_whitening(df, dim=DIM, whiten=True, eps=0.0)
    y = np.array(
        apply_whitening(df, mean, rot).toPandas().sort_values("vec_id")["whitened"].tolist()
    )
    assert np.abs(y.var(axis=0) - 1.0).max() < 1e-6


def test_fit_deterministic_across_runs(xdf):
    # DECIMAL gram accumulation + canonical eigenvector signs → the fitted
    # rotation is bit-identical run to run (no partitioning sensitivity)
    df, _ = xdf
    a = fit_whitening(df.repartition(3), dim=DIM)
    b = fit_whitening(df.repartition(11), dim=DIM)
    assert a == b


def test_exact_gram_dim_guard(xdf):
    """r10: the exact one-pass gram is O(dim²) rows per vector — the fit
    refuses dim > 256 before it starts a job."""
    df, _ = xdf
    with pytest.raises(ValueError, match="exact-gram guard"):
        fit_whitening(df, dim=300)


def test_whitening_flags_arrow_pass(xdf):
    """r13: the per-row contract flags moved from Catalyst HOF folds to one
    Arrow-batched numpy pass — pin that (a) a correct fit+projection yields
    all-ones flags, and (b) a corrupted projection is actually caught (the
    kernel computes, not constant-folds)."""
    from pyspark.sql import functions as F

    from mlops_pipelines_featurestore_gcp_spark.operators.whitening import whitening_flags

    df, _ = xdf
    mean, rot, _ = fit_whitening(df, dim=DIM)
    out = apply_whitening(df, mean, rot)
    flags = whitening_flags(out, mean, rot).select("vec_id", "norm_ok", "recon_ok").toPandas()
    assert len(flags) == 400
    assert int(flags["norm_ok"].sum()) == 400
    assert int(flags["recon_ok"].sum()) == 400
    # corrupt the projection: scale one coordinate — both invariants break
    bad = out.withColumn(
        "whitened",
        F.concat(
            F.array(F.element_at(F.col("whitened"), 1) * 2.0),
            F.slice(F.col("whitened"), 2, DIM - 1),
        ),
    )
    bflags = whitening_flags(bad, mean, rot).select("norm_ok", "recon_ok").toPandas()
    assert int(bflags["norm_ok"].sum()) < 400
    assert int(bflags["recon_ok"].sum()) < 400
