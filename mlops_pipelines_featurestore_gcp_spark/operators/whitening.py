"""PCA rotation / whitening for embedding columns (s11).

Ge et al. 2013 rotate vectors into the PCA basis before product
quantization, because PQ splits vectors into contiguous sub-blocks and
raw dimensions can be energy-skewed (Jégou 2011 §V.C). On this repo's
fixtures the rotated PQ index recalled less than the plain one
(SCALING.md), so the PQ tiers index raw vectors and the rotation stands
alone: a fit and a map-side projection a caller composes itself. At
100 TB the fit must not cost more than one aggregation pass.

Scale architecture:

- **fit** is ONE pass + hash aggregate: each vector meets a broadcast
  (j, k) index table (64 first-moment + 2080 upper-triangle second-moment
  slots, r13 — the per-row HOF term-array build ran interpreted) and
  emits one codegen-projected term per slot; map-side combine collapses
  every partition to ≤ 2145 partial rows, so the shuffle is
  constant-width no matter the corpus. Sums
  accumulate in DECIMAL(38,18) (the house rule for distributively-summed
  doubles — bit-deterministic across partitionings and runs), and the
  64×64 eigendecomposition runs driver-side on the collected gram
  (report-sized: 2080 rows). Eigenvector signs are canonicalized (the
  largest-|component| entry made positive), so the fitted rotation is a
  pure deterministic function of the corpus.
- **apply** is map-side: one Arrow-batched ``(B, dim) @ (dim, dim)``
  matmul per batch (r10 — the earlier HOF-fold form was CodegenFallback,
  interpreted per element: dim² interpreted ops per row; a matrix
  multiply belongs on the Arrow path like the PQ/ADC kernels), params in
  the udf closure, never an unrolled Catalyst expression.

Reference analogue: none (the reference delegates vector work to Vertex
Matching Engine, SURVEY §0); engine-native feature.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# exact one-pass gram explodes dim(dim+1)/2 moment terms PER VECTOR —
# quadratic in dim; fit_whitening refuses a wider vector (dim 256 ->
# ~33k terms/vector, the workable ceiling)
_EXACT_GRAM_MAX_DIM = 256


def fit_whitening(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int,
    whiten: bool = False,
    eps: float = 1e-6,
) -> tuple[list[float], list[list[float]], list[float]]:
    """Fit a PCA rotation (``whiten=True`` additionally scales each
    component by 1/√(λ+eps)) over ``corpus[vec_col]``.

    Returns ``(mean, rotation, eigenvalues)`` where ``rotation[k]`` is
    the k-th principal COLUMN vector (components sorted by eigenvalue
    descending) — ``y_k = (v - mean) · rotation[k]``.

    The fit is the EXACT one-pass DECIMAL gram: every vector explodes
    dim + dim(dim+1)/2 moment terms, and map-side combine collapses each
    partition to a constant-width shuffle. The term fan-out is O(dim²) per
    vector: fine at dim 64 (2145 terms), but a dim-1024 embedding would
    emit 525k rows per vector, so the fit is GUARDED at dim ≤
    ``_EXACT_GRAM_MAX_DIM`` = 256.
    """
    if dim > _EXACT_GRAM_MAX_DIM:
        raise ValueError(
            f"fit_whitening: dim={dim} exceeds the exact-gram guard "
            f"({_EXACT_GRAM_MAX_DIM}): the one-pass explode emits "
            "dim(dim+1)/2 rows PER VECTOR"
        )
    v = F.col(vec_col).cast("array<double>")
    # dim first-moment + dim(dim+1)/2 second-moment terms per vector,
    # tagged (j, k) with k = -1 for the mean terms; map-side combine makes
    # the shuffle constant-width. r13 optimization (guide §4.1 "prefer
    # codegen over HOFs", measured): the original form BUILT the term
    # array per row with nested ``transform`` lambdas — HOFs are
    # CodegenFallback, so every one of the 2145 struct constructions and
    # 2×2145 element_at calls ran interpreted per row (~25 s single-core
    # at 2000×64 vs ~13 s for this form, identical output bit-for-bit).
    # Here the (j, k) index table is a 2145-row local frame broadcast into
    # a nested-loop join, and the term value is ONE codegen projection;
    # the decimal aggregate below is unchanged, so the fitted rotation is
    # bit-identical (x values are the same float64 products either way).
    pairs = [(j, -1) for j in range(dim)] + [
        (j, k) for j in range(dim) for k in range(j, dim)
    ]
    pairs_df = corpus.sparkSession.createDataFrame(pairs, "j int, k int")
    terms = (
        # NULL vectors emit no terms (ADVICE r13): the pre-r13 explode
        # form skipped them implicitly (explode of NULL = zero rows) so
        # they never counted toward n; the crossJoin would emit 2145
        # x=NULL rows per NULL vector — count(*) would include them while
        # sum() skips them, silently deflating mean/covariance.
        corpus.select(v.alias("__v"))
        .where(F.col("__v").isNotNull())
        .crossJoin(F.broadcast(pairs_df))
        .select(
            "j",
            "k",
            F.when(F.col("k") == -1, F.element_at(F.col("__v"), F.col("j") + 1))
            .otherwise(
                F.element_at(F.col("__v"), F.col("j") + 1)
                * F.element_at(F.col("__v"), F.col("k") + 1)
            )
            .alias("x"),
        )
    )
    agg = (
        terms.groupBy("j", "k")
        .agg(
            F.sum(F.col("x").cast("decimal(38,18)")).cast("double").alias("s"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    if not agg:
        raise ValueError("fit_whitening: empty corpus — nothing to fit")
    n = agg[0]["n"]
    mean = np.zeros(dim)
    m2 = np.zeros((dim, dim))
    for r in agg:
        if r["k"] == -1:
            mean[r["j"]] = r["s"] / n
        else:
            m2[r["j"], r["k"]] = r["s"] / n
            m2[r["k"], r["j"]] = r["s"] / n
    cov = m2 - np.outer(mean, mean)
    # eigh + descending sort + canonical signs (largest-|component| entry
    # made positive — deterministic regardless of LAPACK's per-eigenvector
    # sign freedom) + optional 1/sqrt(lambda+eps) scaling
    w, vecs = np.linalg.eigh(cov)  # ascending eigenvalues
    order = np.argsort(w)[::-1]
    w, vecs = w[order], vecs[:, order]
    for k in range(dim):
        i = int(np.argmax(np.abs(vecs[:, k])))
        if vecs[i, k] < 0:
            vecs[:, k] = -vecs[:, k]
    if whiten:
        vecs = vecs / np.sqrt(np.maximum(w, 0.0) + eps)
    rotation = [[float(x) for x in vecs[:, k]] for k in range(dim)]
    return [float(x) for x in mean], rotation, [float(x) for x in w]


def apply_whitening(
    df: DataFrame,
    mean: list[float],
    rotation: list[list[float]],
    *,
    vec_col: str = "embedding",
    out_col: str = "whitened",
) -> DataFrame:
    """Map-side projection ``out_col[k] = (vec - mean) · rotation[k]`` as
    ONE Arrow-batched matmul: ``(B, dim) @ (dim, dim)`` BLAS per batch.

    r10: the original form was a runtime HOF fold per output dimension —
    HOFs are CodegenFallback, interpreted per ELEMENT, which is dim² =
    4096 interpreted ops per row (a d05-style 64-op dot fold is fine; a
    full matrix multiply is not). The (mean, rotation) params
    ride in the udf closure (~dim² doubles ≈ 32 KB — task-shipped, no
    broadcast join, no codegen at all).

    Bit-parity caveat: BLAS accumulation order differs from the fold's
    left-to-right order in the last ulp — consumers band-compare (the s11
    contract's relative bands; the st07 epsilon rule), never byte-compare
    across kernels. Within ONE build the projection is deterministic.
    """
    from pyspark.sql.functions import pandas_udf

    mu = np.asarray(mean, dtype=np.float64)
    W = np.asarray(rotation, dtype=np.float64)  # rows = rotation[k]

    @pandas_udf("array<double>")
    def _proj(vs: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        if X.size == 0:
            return pd.Series([], dtype=object)
        Y = (X - mu) @ W.T
        return pd.Series(list(Y))

    return df.withColumn(out_col, _proj(F.col(vec_col)))


def whitening_flags(
    df: DataFrame,
    mean: list[float],
    rotation: list[list[float]],
    *,
    vec_col: str = "embedding",
    proj_col: str = "whitened",
    norm_rtol: float = 1e-6,
    recon_rtol: float = 1e-9,
) -> DataFrame:
    """Per-row rotation-invariant flags as ONE Arrow-batched numpy pass:
    appends ``norm_ok`` (rotation preserved the centered norm) and
    ``recon_ok`` (projection inverts back to the input within
    ``recon_rtol``, relative to max(1, ‖centered‖²)).

    r13 optimization (guide §4.2, the same reasoning as ``apply_whitening``'s
    r10 rewrite): the previous form computed these flags with Catalyst HOF
    folds — ``transform``/``zip_with``/``aggregate`` are CodegenFallback,
    interpreted per ELEMENT, and the reconstruction alone is a dim² fold
    (4096 interpreted ops per row at dim 64, plus three dim-sized norm
    folds). One ``(B, dim) @ (dim, dim)`` BLAS matmul per Arrow batch does
    the same work vectorized. Both quantities are band-compared (relative
    tolerances), never byte-compared, so the BLAS-vs-fold last-ulp
    accumulation difference cannot flip a flag (the apply_whitening
    bit-parity caveat applies verbatim).
    """
    from pyspark.sql.functions import pandas_udf

    mu = np.asarray(mean, dtype=np.float64)
    R = np.asarray(rotation, dtype=np.float64)  # R[k] = k-th principal column

    @pandas_udf("struct<norm_ok:int, recon_ok:int>")
    def _flags(vs: pd.Series, ys: pd.Series) -> pd.DataFrame:
        if len(vs) == 0:
            return pd.DataFrame({"norm_ok": [], "recon_ok": []})
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        Y = np.asarray([np.asarray(y, dtype=np.float64) for y in ys])
        C = X - mu
        sq_c = np.einsum("ij,ij->i", C, C)
        sq_y = np.einsum("ij,ij->i", Y, Y)
        band = np.maximum(1.0, sq_c)
        norm_ok = (np.abs(sq_y - sq_c) <= norm_rtol * band).astype("int32")
        # recon[j] = sum_k Y[k] * rotation[k][j]  ==  Y @ R
        E = (Y @ R) + mu - X
        recon_ok = (np.einsum("ij,ij->i", E, E) <= recon_rtol * band).astype("int32")
        return pd.DataFrame({"norm_ok": norm_ok, "recon_ok": recon_ok})

    flagged = df.withColumn("__wf", _flags(F.col(vec_col), F.col(proj_col)))
    return flagged.withColumn("norm_ok", F.col("__wf.norm_ok")).withColumn(
        "recon_ok", F.col("__wf.recon_ok")
    ).drop("__wf")
