"""Similarity search over embedding columns (``array<float>``).

- ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query set
  against the corpus; per-partition scoring, global top-k via window. The
  correctness baseline.
- ``cosine_neardup_pairs`` — all-pairs above a threshold (self-join).
- ``lsh_topk`` — random-hyperplane LSH: deterministic md5-derived
  hyperplanes, bucket join on sign-bit prefixes, exact rescoring inside
  buckets. The scale path: cost ∝ Σ bucket² instead of n·N.

The reference stores user/item factor vectors (rank-k SVD observations,
``generator_component.py:44-49``) but delegates any vector math to
TF-Agents; this module is the engine-native equivalent plus the ANN surface
the north star requires.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.functions.vectors import cosine, dot, norm_sq
from mlops_pipelines_featurestore_gcp_spark.operators.dedup import _spread

# ANN query sets ride executor closures / broadcasts by module convention
# ("tiny by construction"). The convention is ENFORCED here (the ml07
# MAX_DIM posture): a caller passing a corpus-sized frame as `queries`
# gets a ValueError stating the cap and the size it saw instead of a
# driver OOM. 65,536 dim-64 float64 query vectors ≈ 34 MB — comfortably
# broadcast-sized.
MAX_QUERY_ROWS = 65536


def _collect_query_rows(df: DataFrame, what: str) -> list:
    """Driver-collect a query table under ``MAX_QUERY_ROWS``.

    The limit is applied IN THE PLAN (``limit(cap+1)``), so an oversized
    frame costs one truncated scan and a ValueError, never an OOM."""
    rows = df.limit(MAX_QUERY_ROWS + 1).collect()
    if len(rows) > MAX_QUERY_ROWS:
        raise ValueError(
            f"{what}: query set has more than MAX_QUERY_ROWS={MAX_QUERY_ROWS} rows "
            f"(saw at least {len(rows)})"
        )
    return rows


def _batch_topk_prune(scored: DataFrame, k: int) -> DataFrame:
    """Map-side per-batch top-k FILTER ahead of a per-query ranking window.

    ``scored`` is ``(query_id long, neighbor_id long, cos_sim double)``
    with one row per DISTINCT (query, candidate) — callers dedup first
    where buckets can emit duplicates, because a duplicate of a
    higher-ranked neighbor inside one batch could otherwise crowd the
    true k-th member out of that batch's top-k. Values are computed
    UPSTREAM (JVM-side) and cross Arrow bit-exactly, so oracle value
    hashes are untouched; the kernel keeps each batch's top-k per query
    under the same (-cos_sim, neighbor_id) total order the downstream
    window uses, which makes the per-batch top-k a superset of the
    global top-k members present in that batch (the pq_topk
    layout-independence argument — ties are broken by id on both sides,
    so the order is total even with 6-digit-rounded scores). The ranking
    shuffle then moves partitions × k × |queries| rows instead of every
    scored candidate (measured: the s01 exact baseline shuffled 8·10⁸
    rows at the 100× corpus before this).

    Non-finite scores pass through UNPRUNED (they do not count against
    k), and their semantics are PINNED — not left to the Arrow hop
    (ADVICE r11): a degenerate cosine (zero-norm vector: 0/0 → NULL in
    this engine's non-ANSI sessions; genuine NaN from a caller's own
    arithmetic) is normalized to NULL with a JVM ``when(isnan)`` BEFORE
    the kernel and again on the way out, so the downstream ``DESC``
    window ranks every degenerate LAST under one documented rule,
    identically in pruned and unpruned plans. (Inside an Arrow batch
    NULL and NaN both arrive as float64 NaN, and the pandas→Arrow
    return conversion maps NaN back to NULL — two silent coin flips
    this pin removes from the contract.) The pass-through volume is
    bounded by the number of degenerate vectors (zero in every
    fixture). r10 shipped np.lexsort on ``-cos_sim`` alone, which
    silently pruned them once a batch held ≥k finite scores. Output
    schema is derived from the input so callers with non-long id
    columns keep working."""
    kk = int(k)
    # pin degenerate-cosine semantics to NULL (ranks last under DESC) on
    # BOTH sides of the Arrow round trip — see docstring
    nan_to_null = F.when(
        F.isnan(F.col("cos_sim")), F.lit(None).cast("double")
    ).otherwise(F.col("cos_sim"))
    scored = scored.withColumn("cos_sim", nan_to_null)
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in scored.schema.fields)

    def _prune(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            parts = []
            for _qid, g in pdf.groupby("query_id", sort=False):
                nonfin = np.isnan(g["cos_sim"].to_numpy())
                if nonfin.any():
                    parts.append(g[nonfin])  # NULL/NaN: the window decides
                    g = g[~nonfin]
                o = np.lexsort((g["neighbor_id"].to_numpy(), -g["cos_sim"].to_numpy()))[:kk]
                parts.append(g.iloc[o])
            if parts:
                yield pd.concat(parts, ignore_index=True)

    return scored.mapInPandas(_prune, out_schema).withColumn("cos_sim", nan_to_null)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query set rides in the scoring kernel's closure (collected under
    the ``MAX_QUERY_ROWS`` guard like every other broadcast-query tier),
    so scoring is a map-only pass over the corpus; the only shuffle is the
    per-query top-k window. Returns (query_id, neighbor_id, cos_sim, rnk).

    cos_sim is rounded before ranking so the (sim, id) ordering is identical
    across engines even when two candidates differ only in the last float
    ulp.

    r14 scoring kernel (guide §4.2, VERDICT r13 #3): the crossJoin +
    per-pair Catalyst HOF fold (CodegenFallback — interpreted per pair,
    and every scored pair then crossed the Arrow boundary into the
    ``_batch_topk_prune`` kernel anyway) is replaced by ONE ``mapInPandas``
    pass over the corpus, two-phase per batch:

    - SELECT with a BLAS matmul ``V @ Q.T`` (fast, possibly last-ulp off
      the fold): per (batch, query), keep every candidate within
      ``2·10^-round_digits + 2e-9`` of the k-th best BLAS cosine. BLAS
      vs strict-fold dot differs by ≲1e-13 relative at dim 64, so this
      margin provably admits every member of the final ROUNDED top-k
      (k candidates each more than one rounding quantum above x round
      strictly above x — the ``_batch_topk_prune`` superset argument
      with the kernel-error slack folded in).
    - RESCORE the ~k·|queries| survivors with the strict left-to-right
      k-loop ``acc += Vs[:,t] * Qs[:,t]`` — each scalar accumulates in
      exactly the fold's ((v0·q0)+v1·q1)+… order, norms likewise, one
      multiply/sqrt/divide — every op IEEE-754 and order-identical to
      the JVM expression, so the emitted UNROUNDED cosine is bit-equal
      to the old plan's.

    Spark's ``round(x, 6)`` (BigDecimal HALF_UP over Double.toString)
    stays in the JVM on the kernel's output, so no Python replication of
    its semantics is needed and the oracle-hashed values are untouched.
    The ranking shuffle still moves ~partitions × k × |queries| rows.
    Degenerate cosines (zero-norm ⇒ NaN/divide-by-zero) pass through
    unpruned and are pinned to NULL in the JVM on the way out (the
    ``_batch_topk_prune`` NaN→NULL pin), ranking last under the DESC
    window exactly as before.

    Corpus rows with a NULL vector are dropped before scoring; every
    other vector (corpus and queries) must have the queries' length.
    """
    qrows = _collect_query_rows(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv"),
        ),
        "brute_force_topk",
    )
    q_id_t = queries.schema[id_col].dataType.simpleString()
    c_id_t = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {q_id_t}, neighbor_id {c_id_t}, cos_sim double"
    if not qrows:
        return corpus.sparkSession.createDataFrame(
            [], out_schema + ", rnk int"
        )
    Q = np.asarray([r["qv"] for r in qrows], dtype=np.float64)  # (nq, d)
    qids = np.asarray([r["query_id"] for r in qrows])
    nq, d = Q.shape
    # query norms with the fold's exact accumulation order (never np.sum)
    qn = np.zeros(nq)
    for t in range(d):
        qn += Q[:, t] * Q[:, t]
    kk = int(k)
    margin = 2.0 * 10.0 ** (-round_digits) + 2e-9  # + BLAS-error slack
    row_block = 2048  # bounds the (rows × nq) BLAS score block per step

    c = corpus.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    # single-file sources arrive as one partition; rebalance so the
    # n·N scoring pass uses every core (guarded: no Exchange when the
    # input already has enough splits, as a real 100 TB scan would)
    c = _spread(c)

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        neg_inf = float("-inf")
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf["cv"].to_numpy()).astype(np.float64)
            nid = pdf["neighbor_id"].to_numpy()
            B = V.shape[0]
            # exact per-row corpus norms (fold order; O(B·d), no nq factor)
            cn = np.zeros(B)
            for t in range(d):
                cn += V[:, t] * V[:, t]
            for r0 in range(0, B, row_block):
                r1 = min(r0 + row_block, B)
                Vb, cnb, nidb = V[r0:r1], cn[r0:r1], nid[r0:r1]
                with np.errstate(divide="ignore", invalid="ignore"):
                    Sb = (Vb @ Q.T) / np.sqrt(cnb[:, None] * qn[None, :])
                selfm = nidb[:, None] == qids[None, :]
                finite = np.isfinite(Sb)
                SM = np.where(finite & ~selfm, Sb, neg_inf)
                nb = r1 - r0
                if nb > kk:
                    kth = np.partition(SM, nb - kk, axis=0)[nb - kk]
                else:
                    kth = np.full(nq, neg_inf)
                # the SM != -inf guard matters when kth is -inf (block
                # holds ≤ k candidates): -inf >= -inf - margin is True,
                # which would resurrect the masked self/degenerate slots
                keep = ((SM >= kth[None, :] - margin) & (SM != neg_inf)) | (
                    ~finite & ~selfm
                )
                ii, jj = np.nonzero(keep)
                if len(ii) == 0:
                    continue
                # exact fold-order rescore of the survivors only
                Vs, Qs = Vb[ii], Q[jj]
                acc = np.zeros(len(ii))
                for t in range(d):
                    acc += Vs[:, t] * Qs[:, t]
                with np.errstate(divide="ignore", invalid="ignore"):
                    denom = np.sqrt(qn[jj] * cnb[ii])
                    sv = np.where(denom > 0.0, acc / np.where(denom > 0.0, denom, 1.0), np.nan)
                sv = np.where(np.isfinite(sv), sv, np.nan)
                yield pd.DataFrame(
                    {
                        "query_id": qids[jj],
                        "neighbor_id": nidb[ii],
                        "cos_sim": sv,
                    }
                )

    # pin degenerates to NULL in the JVM, not by the Arrow hop's NaN→NULL
    nan_to_null = F.when(F.isnan("cos_sim"), F.lit(None).cast("double")).otherwise(F.col("cos_sim"))
    scored = c.mapInPandas(_score, out_schema).withColumn(
        "cos_sim", F.round(nan_to_null, round_digits)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


def cosine_neardup_pairs(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    round_digits: int = 6,
) -> DataFrame:
    """All pairs (a < b) with rounded cosine ≥ threshold.

    O(n²) scoring — correct baseline for modest n; use ``lsh_topk``-style
    bucketing when n² stops fitting the cluster.
    """
    # norms precomputed per VECTOR (n folds), not per pair (n² folds would
    # triple the all-pairs scoring work); dot/sqrt(na·nb) evaluates the
    # identical doubles as cosine() so scores stay bit-equal to every
    # caller's oracle twin
    a = corpus.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        norm_sq(F.col(vec_col)).alias("__na"),
    )
    b = corpus.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        norm_sq(F.col(vec_col)).alias("__nb"),
    )
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb"))
                / F.sqrt(F.col("__na") * F.col("__nb")),
                round_digits,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def coord_sign_blocked_pairs(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coords_per_table: int = 7,
    tables: int = 8,
    threshold: float = 0.45,
    round_digits: int = 6,
) -> DataFrame:
    """Near-dup pairs via coordinate-sign LSH blocking + exact rescoring.

    Axis-aligned hyperplane LSH: table t's signature is the sign pattern of
    coordinates [t·c, (t+1)·c) — a candidate pair must agree on every sign
    in ≥1 table. Properties that make this the *registered* embedding-dedup
    plan:

    - **No floating-point arithmetic in the blocking at all** — each bit is
      ``element > 0`` on the stored value, so Spark and the SQL oracle agree
      bit-for-bit with zero summation-order risk.
    - **Tiny expressions** — tables × coords sign tests (64 total), safely
      inside whole-stage codegen (random-hyperplane projections at the same
      table count overflow the 64KB codegen method limit and de-optimize
      the whole stage).
    - **Same cost shape as any LSH**: one equi shuffle on (table, signature),
      Σ bucket² candidate pairs, exact cosine verify inside buckets only.
      Recall follows the OR-of-tables curve; missed pairs are missed
      identically by the oracle, which replays the same blocking.
    """
    base = _spread(
        corpus.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("v"),
            # squared norm once per VECTOR (not per pair): cheaper and keeps
            # the pair-verify expression inside the codegen method limit
            norm_sq(F.col(vec_col)).alias("nrm"),
        )
    )
    sig_exprs = []
    for t in range(tables):
        bits = [
            F.when(F.element_at("v", t * coords_per_table + j + 1) > 0, F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(coords_per_table)
        ]
        sig = bits[0]
        for b in bits[1:]:
            sig = sig + b
        sig_exprs.append(F.struct(F.lit(t).alias("t"), sig.cast("long").alias("sig")))
    # Shuffle-minimal order of operations: join buckets → score → filter →
    # distinct. A pair matching in multiple tables is scored more than once
    # (dup factor ≤ tables, measured ~1.03 on real sign distributions), but
    # that trades a few duplicate dot products — map-side, cheap — for
    # REMOVING the pair-dedup shuffle on the full candidate set: the
    # threshold filter runs before any pair row crosses an exchange, so the
    # only post-join shuffle is the distinct over actual near-duplicates
    # (tiny by definition). Dedup-after-cheap-verify is the right order at
    # any scale when the verify is this selective.
    bucketed = (
        base.select("vid", "v", "nrm", F.explode(F.array(*sig_exprs)).alias("b"))
        .select("vid", "v", "nrm", "b.t", "b.sig")
        # consumed by BOTH self-join sides: sign exprs run once. Lazy
        # localCheckpoint, not cache(): checkpoint blocks are reclaimed by
        # the ContextCleaner when this DataFrame is garbage-collected,
        # whereas cache() pins storage in the catalog until an explicit
        # unpersist — a leak across repeated operator calls in a long
        # session.
        .localCheckpoint(eager=False)
    )
    a = bucketed.select(F.col("vid").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"), "t", "sig")
    b = bucketed.select(F.col("vid").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"), "t", "sig")
    return (
        a.join(b, ["t", "sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb")) / F.sqrt(F.col("na") * F.col("nb")),
                round_digits,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
        .distinct()
    )


def quantize_embeddings(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    out_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Per-vector int8 scalar quantization: ``q_i = round(v_i / s)`` with
    ``s = max|v| / 127`` → values in [-127, 127].

    The memory side of the ANN scale story: a 100 TB float32 corpus
    becomes ~25 TB of int8 + one float scale per vector — 4× less to scan,
    shuffle, and cache — while int-dot scoring stays within ~1% of the
    float ranking (rescore the shortlist with the originals when exact
    order matters; see ``quantized_topk``). All JVM-side arithmetic, no
    Python anywhere.

    Zero vectors quantize to all-zero with scale 0 (guarded division).

    Per-element work is ``transform``/``array_max`` HOFs over the array —
    one evaluator call per ROW. The previous revision expanded both the
    absmax and the quantized elements into per-element ``element_at``
    chains on the codegen-stays-fused theory; measured on the full
    quantized-top-k plan the HOF form is ~25% faster end to end (0.66s vs
    0.89s at sf0.1) and produces bit-identical arrays — wide per-element
    chains stress the codegen method limit for no win (same lesson as the
    ``functions.vectors.dot`` fold). ``absmax`` still materializes as a
    column FIRST so it is computed once, not once per element.
    """
    v = F.col(vec_col).cast("array<double>")
    staged = df.withColumn("__absmax", F.array_max(F.transform(v, lambda x: F.abs(x))))
    am = F.col("__absmax")
    q = (
        F.when(am > 0, F.transform(v, lambda x: F.round(x * 127.0 / am).cast("int")))
        .otherwise(F.transform(v, lambda x: F.lit(0)))
        .alias(out_col)
    )
    return (
        staged.withColumns({scale_col: (am / F.lit(127.0)).alias(scale_col), out_col: q})
        .drop(vec_col, "__absmax")
    )


def quantized_topk(
    corpus_q: DataFrame,
    queries: DataFrame,
    corpus_full: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int = 20,
    round_digits: int = 6,
) -> DataFrame:
    """Two-stage ANN: int8-dot shortlist, exact float rescore of survivors.

    Stage 1 scores every (query, corpus) pair on the QUANTIZED vectors —
    the pass that at scale reads 4× less data — and keeps ``shortlist``
    candidates per query; stage 2 joins only those back to the float
    corpus and computes the exact rounded cosine, so the final top-k
    ordering is identical to brute force whenever the true k-th neighbor
    survives the shortlist (asserted by the recall test).

    ``corpus_q`` is ``quantize_embeddings(corpus_full)`` — persisted once
    at ingest in a real deployment; the float corpus is only touched for
    shortlist × queries rows.

    The int8 stage prunes MAP-SIDE (r10, the ``pq_topk`` kernel posture):
    each Arrow batch scores its rows against the collected quantized
    query table via one integer matmul and emits at most ``shortlist``
    candidates per query, so the ranking shuffle moves
    partitions × shortlist × |queries| rows — the previous form shuffled
    the ENTIRE |queries| × N scored cross product into the window, the
    reason s05 carried the ladder's worst decade exponent (1.15). The
    shortlist is bit-identical to the old plan's: every int8 product and
    partial sum is ≤ ~10⁶, exactly representable in double, so the numpy
    matmul equals the JVM fold EXACTLY regardless of accumulation order,
    and the per-batch (-approx, neighbor_id) total order makes the
    per-batch top-S a superset of the global top-S members in that batch
    (the pq_topk layout-independence argument).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm_sq(F.col(vec_col)).alias("__qn"),
    )
    c = _spread(
        corpus_q.select(F.col(id_col).alias("neighbor_id"), "qvec", "qscale")
    )
    # Approximate per-query cosine RANKING: cos ≈ (qdot·s_c·s_q) /
    # (s_c·√qn · ‖q‖). The per-neighbor scale s_c cancels and the
    # query-side factors are constant within a query's ranking, so
    # qdot/√qn orders candidates — int dot + one int norm, no floats from
    # the quantized store at all. Never used for the reported score.
    # Queries quantize SPARK-SIDE (the same quantize_embeddings plan as
    # the corpus) and collect — capped (see MAX_QUERY_ROWS).
    cq_rows = _collect_query_rows(
        quantize_embeddings(queries.select(F.col(id_col).alias("query_id"), vec_col)),
        "quantized_topk",
    )
    qids = np.asarray([r["query_id"] for r in cq_rows])
    QV = np.asarray([r["qvec"] for r in cq_rows], dtype=np.float64)  # (nq, dim)
    S = shortlist

    def _int8_scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.vstack(pdf["qvec"].to_numpy()).astype(np.float64)  # (B, dim)
            nid = pdf["neighbor_id"].to_numpy()
            denom = np.sqrt(np.maximum((C * C).sum(axis=1), 1.0))
            dots = C @ QV.T  # (B, nq) — exact: every partial ≤ dim·127² < 2⁵³
            out_q, out_n, out_s = [], [], []
            for qi in range(len(qids)):
                idx = np.flatnonzero(nid != qids[qi])
                if len(idx) == 0:
                    continue
                a = dots[idx, qi] / denom[idx]
                top = idx[np.lexsort((nid[idx], -a))[:S]]
                out_q.append(np.full(len(top), qids[qi]))
                out_n.append(nid[top])
                out_s.append(dots[top, qi] / denom[top])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "__approx": np.concatenate(out_s),
                    }
                )

    cand = c.mapInPandas(_int8_scan, "query_id long, neighbor_id long, __approx double")
    w = Window.partitionBy("query_id").orderBy(F.col("__approx").desc(), F.col("neighbor_id"))
    short = cand.withColumn("__rnk", F.row_number().over(w)).where(F.col("__rnk") <= shortlist)
    full = corpus_full.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm_sq(F.col(vec_col)).alias("__cn"),
    )
    rescored = (
        short.select("query_id", "neighbor_id")
        .join(full, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / F.sqrt(F.col("__qn") * F.col("__cn")),
                round_digits,
            ).alias("cos_sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return rescored.withColumn("rnk", F.row_number().over(w2)).where(F.col("rnk") <= k)


def _hyperplane_components(planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplane table: h(p,d) = parity of md5(f"{p}:{d}").

    Computed driver-side with hashlib (a constant table, not data) so the
    executors evaluate plain double literals instead of 512 md5 expression
    nodes per row. Identical values to the expression form — any engine can
    reproduce them.
    """
    import hashlib

    return [
        [1.0 if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16) % 2 == 1 else -1.0 for d in range(dim)]
        for p in range(planes)
    ]


def hyperplane_signatures(
    df: DataFrame,
    *,
    vec_col: str,
    tables: int,
    planes: int,
    dim: int,
    out_col: str = "sigs",
) -> DataFrame:
    """ALL hyperplane-table signatures in one Arrow-batched numpy pass.

    Hyperplane p has deterministic ±1 components h(p,d) = parity of
    md5(p:d) — reproducible anywhere, no RNG state. Table t's signature
    packs the sign bits of planes [t·planes, (t+1)·planes); the output is
    an ``array<long>`` of length ``tables``.

    Dense matrix × matrix is exactly what built-in column expressions do
    WORST: a per-plane HOF fold is CodegenFallback (interpreted per
    element), and a ±element_at chain for tables×planes×dim terms overflows
    the 64KB codegen method limit and de-optimizes the whole stage. One
    vectorized Pandas UDF turns the entire signature computation into a
    single (batch × dim) @ (dim × tables·planes) BLAS call per Arrow batch
    — the same kernel shape a GPU/CPU ANN library uses, profiled ~40× over
    the fold at fixture scale and embarrassingly parallel at 100 TB.

    Projections are rounded to 6 digits before the sign test so bucket
    assignment is stable across summation orders (BLAS vs sequential fold
    vs any SQL engine replaying the same planes).
    """
    from pyspark.sql.functions import pandas_udf

    H = np.asarray(_hyperplane_components(tables * planes, dim), dtype=np.float64)
    weights = (1 << np.arange(planes)).astype(np.int64)
    n_tables, n_planes = tables, planes

    @pandas_udf("array<long>")
    def _sigs(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype=object)
        m = np.vstack(col.to_numpy()).astype(np.float64)  # (batch, dim)
        bits = np.round(m @ H.T, 6) > 0  # (batch, tables·planes)
        sig = bits.reshape(-1, n_tables, n_planes).astype(np.int64) @ weights
        return pd.Series(sig.tolist())

    return df.withColumn(out_col, _sigs(F.col(vec_col)))


def _auto_planes(
    n_rows: int,
    *,
    base_planes: int = 8,
    base_tables: int = 16,
    knee: int = 262144,
    max_planes: int = 24,
) -> tuple[int, int]:
    """LSH table sizing from the corpus count (the IVF ``_auto_centroids``
    posture — the rule SCALING.md carried as prose until r11).

    Expected bucket size is N/2^planes, so candidate-generation cost per
    query is Σ_t |bucket| ≈ tables·N/2^planes: holding planes fixed makes
    LSH scan a constant FRACTION of the corpus — linear-in-N per query,
    the r10 VERDICT's "silently degraded" 10⁸-vector scenario is actually
    the opposite failure (cost blowup; recall per candidate stays). The
    rule: +1 plane per corpus doubling past the measured sf-scale knee
    (~256k at the 8-plane operating point, keeping expected buckets
    ≤ ~1k), clamped at 24 bits (signatures stay one packed long, probe
    fan-out stays polynomial). Each extra plane multiplies a near pair's
    per-table collision probability by ~cos-angle (≈0.8 at the contract's
    recall band), so tables rise ×1.25 per extra plane to hold the
    OR-of-tables recall — query-side cost only; the corpus side computes
    tables·planes bits per vector either way.

    Returns ``(planes, tables)``.
    """
    import math

    if n_rows <= knee:
        return base_planes, base_tables
    extra = min(max_planes - base_planes, math.ceil(math.log2(n_rows / knee)))
    return base_planes + extra, math.ceil(base_tables * 1.25**extra)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    planes: int | None = 8,
    tables: int | None = 4,
    k: int = 5,
    round_digits: int = 6,
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH + exact rescoring.

    ``tables`` independent hash tables of ``planes`` bits each; a candidate
    pair needs a full signature match in ≥1 table (the standard AND-of-bits /
    OR-of-tables construction — per-table precision, cross-table recall).
    Scoring cost drops from n·N to Σ_q Σ_t |bucket_t(q)|, and the bucketing
    is deterministic (md5-derived hyperplanes), so results are reproducible
    run to run and machine to machine.

    ``probe_hamming`` enables multi-probe LSH (Lv et al., VLDB 2007): each
    QUERY also probes every bucket whose signature differs from its own in
    ≤ ``probe_hamming`` bits — a near-miss on one hyperplane no longer
    costs the whole table. Recall per table rises from p^planes to
    Σ_{{i≤h}} C(planes,i)·p^(planes-i)·(1-p)^i at the price of
    Σ C(planes,i) probe keys per (query, table). The expansion happens on
    the broadcast QUERY side only — the corpus still computes and shuffles
    exactly ``tables`` signatures per vector, so corpus-side cost (the side
    that is 100 TB) is unchanged; only the rescore set grows, and that
    stays bounded by probes × expected bucket size. With the same
    md5-derived hyperplanes the probe set is deterministic too.

    ``planes=None`` / ``tables=None`` auto-size from the corpus count via
    :func:`_auto_planes` (r11 — the SCALING.md retune trigger, now code:
    +1 plane per doubling past the ~256k knee so expected buckets stay
    ~1k, tables raised to hold recall). Explicit values always win.
    NOTE (ADVICE r11): auto mode targets the REGISTERED s02/s03
    operating point — base 16 tables at 8 planes, the measured
    recall-contract configuration — not this signature's 4-table
    convenience default. Opting into auto therefore buys the
    contract-grade recall band at ~4× the corpus-side signature cost of
    the bare default; callers wanting the cheap end pass ``tables=4``
    explicitly.
    """
    from itertools import combinations

    if planes is None or tables is None:
        auto_p, auto_t = _auto_planes(corpus.count())
        planes = auto_p if planes is None else planes
        tables = auto_t if tables is None else tables

    c = _spread(corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    csig = hyperplane_signatures(c, vec_col="cv", tables=tables, planes=planes, dim=dim)
    qsig = hyperplane_signatures(q, vec_col="qv", tables=tables, planes=planes, dim=dim)

    # Candidate = same bucket in any table. posexplode the signature array so
    # the join stays a single equi shuffle on (table, signature).
    def bucketized(df: DataFrame) -> DataFrame:
        keep = [c for c in df.columns if c != "sigs"]
        return df.select(*keep, F.posexplode("sigs").alias("t", "sig"))

    probed = bucketized(qsig)
    if probe_hamming > 0:
        masks = [0] + [
            sum(1 << b for b in bits)
            for r in range(1, probe_hamming + 1)
            for bits in combinations(range(planes), r)
        ]
        keep = [col for col in probed.columns if col != "sig"]
        probed = probed.select(
            *keep,
            F.explode(
                F.array(*[F.col("sig").bitwiseXOR(F.lit(m)) for m in masks])
            ).alias("sig"),
        )

    # Score BEFORE the dedup shuffle (r12 — found by the s03 100× HASH
    # gate, which the ann100 operator sweep had masked): the bucket join
    # is map-side (broadcast probe side), so carrying qv/cv this far is
    # free — but shipping both vectors (~1 KB/row at dim 64) through the
    # dropDuplicates exchange multiplied the shuffle by the payload
    # width: ~450M multi-probe candidate rows at the 100× fixture spilled
    # >77 GB and died on disk. Computing the rounded cosine map-side and
    # deduping the skinny (query, neighbor, cos) triple (~24 B/row, the
    # ivf_topk shape) cuts the exchange ~45×; duplicate candidates
    # recompute an identical cosine (deterministic expression on
    # identical inputs), so dropDuplicates keeps the same values and the
    # output is bit-equal to the old plan.
    scored = (
        bucketized(csig)
        .join(F.broadcast(probed), ["t", "sig"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), round_digits).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # prune AFTER dropDuplicates (a same-batch duplicate of a higher-
    # ranked neighbor could otherwise crowd the true k-th out of the
    # batch top-k) — the window shuffle then moves parts×k×|q| rows
    scored = _batch_topk_prune(scored, k)
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


def _auto_centroids(n_rows: int) -> int:
    """IVF coarse-quantizer sizing: ~sqrt(N) cells (the classic IVF rule —
    balances cells-scanned-per-probe against vectors-per-cell), clamped to
    [4, 65536]."""
    return max(4, min(65536, round(n_rows**0.5)))


def _auto_clusters(n_rows: int, target_cell: int = 1024) -> int:
    """SemDeDup cell count ∝ corpus size: k = ceil(N / target_cell).

    The published Σ cell² within-cell-pairs bound is only sub-quadratic if
    k GROWS with N (a fixed k makes every cell densify linearly and the
    pair count quadratic — the r3 VERDICT scale trap). With k = N/1024 the
    expected within-cell work is ~N·1024 pairs — linear in N.
    """
    return max(2, -(-n_rows // target_cell))



def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    n_probe: int = 4,
    k: int = 5,
    seed: int = 42,
    max_iter: int = 10,
    round_digits: int = 6,
    sample: int = 4096,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer.

    The classic scale path for ANN at 100 TB: (1) the coarse quantizer
    fits driver-side on a bounded md5-ordered sample (r10 — the
    ``ivfpq_train`` posture; a full-corpus fit at k
    up to 65536 costs O(N·k·d) per Lloyd iteration, impractical at 10⁹
    vectors, which is why FAISS-class systems sample-train); (2) each
    corpus vector is assigned to its nearest cell — one Arrow map pass;
    (3) each query probes its ``n_probe`` nearest cells and rescoring
    runs only inside those cells, cutting scored pairs by
    ~``n_centroids/n_probe``× vs brute force. Centroid assignment is
    seeded and deterministic per engine build (not SQL-reproducible → the
    s03 oracle is the per-query ANN contract: ≤k, contiguous ranks, exact
    rescore parity, monotone scores; recall vs brute force is asserted in
    tests).
    """
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))

    if n_centroids is None:
        n_centroids = _auto_centroids(corpus.count())
    # cell count plateaus at `sample` (the documented ivfpq_train posture:
    # raise `sample` if a deployment needs more cells); the fit draw is
    # 32 rows per centroid, absolute cap 65536 (≤ 32 MB driver at dim 64,
    # k-means++ + BLAS Lloyd ≈ seconds at the cap)
    n_cells = min(n_centroids, sample)
    n_take = min(max(2048, 32 * n_cells), 65536)
    X = _sample_matrix(corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v")), n_take, f"ivf{seed}")
    cells = _kmeanspp_fit(X, min(n_cells, X.shape[0]), seed, max_iter)
    assigned = c.withColumn("cell", _nearest_centroid_udf(cells)(F.col("cv")).cast("int"))
    centroids = corpus.sparkSession.createDataFrame(
        [(i, [float(x) for x in ctr]) for i, ctr in enumerate(cells)],
        "cell int, centroid array<double>",
    )
    # each query scores the broadcast centroid table, keeps its n_probe
    # nearest cells, and rescoring joins only those cells
    probe_w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("cell"))
    probed = (
        q.crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "qv",
            "cell",
            F.sqrt(
                F.aggregate(
                    F.zip_with(F.col("qv").cast("array<double>"), F.col("centroid"), lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("dist"),
        )
        .withColumn("pr", F.row_number().over(probe_w))
        .where(F.col("pr") <= n_probe)
        .select("query_id", "qv", "cell")
    )
    scored = (
        assigned.join(F.broadcast(probed), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), round_digits).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # prune AFTER the dedup (see _batch_topk_prune / lsh_topk note): the
    # probed-cell candidate mass is ~(N/3)·|q| rows at ⌈cells/3⌉ probes —
    # the window exchange must not move all of it
    scored = _batch_topk_prune(scored, k)
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


def pq_train(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    m: int = 8,
    ksub: int | None = None,
    sample: int = 2048,
    seed: int = 42,
    max_iter: int = 15,
) -> np.ndarray:
    """Train product-quantization codebooks (Jégou et al., TPAMI 2011).

    The vector is split into ``m`` subspaces of dim/m dims; each gets its
    own ``ksub``-word codebook, so a vector stores as ``m`` one-byte codes
    — 64 float32 dims (256 B) become 8 B, a 32× compression that turns a
    100 TB embedding corpus into ~3 TB of scannable codes.

    Codebooks fit DRIVER-SIDE on a deterministic md5-ordered sample capped
    at ``sample`` vectors (absolute, never a fraction of N — the d07
    verifier lesson) with seeded Lloyd's k-means per subspace: bounded
    driver state like BPE's vocab table (sample × dim doubles), fully
    deterministic (no MLlib RNG), identical on every executor topology.
    Returns an (m, ksub, dim/m) float64 array.
    """
    from mlops_pipelines_featurestore_gcp_spark.functions.text import md5_long

    dsub = dim // m
    assert dsub * m == dim, "dim must split evenly into m subspaces"
    rows = (
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v"))
        .withColumn("__h", md5_long(F.concat(F.lit("pq|"), F.col("__id").cast("string")), bits=60))
        .orderBy("__h", "__id")
        .limit(sample)
        .select("__v")
        .collect()
    )
    if not rows:
        raise ValueError("pq_train: empty corpus (the learn_cells posture — a clear error, not a numpy shape crash)")
    X = np.asarray([r["__v"] for r in rows], dtype=np.float64)  # (n, dim)
    n = X.shape[0]
    if ksub is None:
        ksub = min(256, max(2, n // 4))
    rng = np.random.RandomState(seed)
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for s in range(m):
        sub = X[:, s * dsub : (s + 1) * dsub]
        # k-means++-free seeded init: distinct sample rows as initial means
        # (one shared rng advanced per subspace — the original draw order)
        init_idx = rng.permutation(n)[:ksub]
        books[s] = _lloyd(sub, sub[init_idx], max_iter)
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector its ``m`` nearest-codeword codes plus the
    reconstruction's squared norm (needed for cosine ranking at query
    time without touching the float vector).

    One vectorized Arrow pass — per batch, each subspace is a
    (batch × dsub) vs (ksub × dsub) distance matrix + argmin, the same
    BLAS-shaped kernel as ``hyperplane_signatures``. Output:
    (id, codes array<int>, rnorm double).
    """
    from pyspark.sql.functions import pandas_udf

    m, ksub, dsub = codebooks.shape
    cb = codebooks  # closure-captured; (m·ksub·dsub) doubles — KBs
    cbn = (cb**2).sum(axis=2)  # (m, ksub) codeword norm²

    @pandas_udf("struct<codes: array<int>, rnorm: double>")
    def _enc(col: pd.Series) -> pd.DataFrame:
        if len(col) == 0:
            return pd.DataFrame({"codes": [], "rnorm": []})
        X = np.vstack(col.to_numpy()).astype(np.float64)  # (B, dim)
        B = X.shape[0]
        codes = np.empty((B, m), dtype=np.int32)
        rn = np.zeros(B, dtype=np.float64)
        for s in range(m):
            sub = X[:, s * dsub : (s + 1) * dsub]
            # ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖²; ‖x‖² constant per row → argmin
            # over (−2x·c + ‖c‖²)
            d2 = -2.0 * (sub @ cb[s].T) + cbn[s][None, :]
            a = d2.argmin(axis=1)
            codes[:, s] = a
            rn += cbn[s][a]
        return pd.DataFrame({"codes": list(codes), "rnorm": rn})

    enc = corpus.select(F.col(id_col).alias("neighbor_id"), _enc(F.col(vec_col)).alias("__e"))
    return enc.select("neighbor_id", F.col("__e.codes").alias("codes"), F.col("__e.rnorm").alias("rnorm"))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    m: int = 8,
    k: int = 5,
    shortlist: int = 20,
    sample: int = 2048,
    seed: int = 42,
    round_digits: int = 6,
) -> DataFrame:
    """Two-stage PQ-ADC approximate top-k: asymmetric-distance shortlist
    over the 8-byte codes, exact float rescore of survivors.

    Stage 1 is the published ADC scan: each query precomputes an
    (m × ksub) partial-dot table against the codebooks, so scoring a
    corpus vector is ``m`` table lookups instead of ``dim`` multiplies —
    and it reads ONLY the code column (32× less I/O than the float
    corpus). The kernel prunes map-side: each Arrow batch emits at most
    ``shortlist`` candidates per query, so the ranking shuffle moves
    partitions × shortlist × |queries| rows, never the corpus. The
    global shortlist is batch-layout-independent (per-batch top-S is a
    superset of the global top-S members in that batch). Stage 2 joins
    survivors back to the float corpus for the exact rounded cosine —
    reported scores are bit-equal to brute force on the same pairs
    (the rescore-parity contract flag), and the final top-k equals
    brute force whenever the true k-th neighbor survives the shortlist.
    """
    codebooks = pq_train(
        corpus, id_col=id_col, vec_col=vec_col, dim=dim, m=m, sample=sample, seed=seed
    )
    mm, ksub, dsub = codebooks.shape
    corpus_codes = _spread(pq_encode(corpus, codebooks, id_col=id_col, vec_col=vec_col))

    # driver-side query tables: tiny by construction (queries are the
    # broadcast-sized side everywhere in this module)
    qrows = _collect_query_rows(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")),
        "pq_topk",
    )
    qids = np.asarray([r["query_id"] for r in qrows])
    if len(qrows) == 0:
        # empty query set: the (nq, dim) reshapes below would see shape
        # (0,) and crash — return the empty result with the output schema
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rnk int"
        )
    Q = np.asarray([r["qv"] for r in qrows], dtype=np.float64)  # (nq, dim)
    qn = np.sqrt((Q**2).sum(axis=1))
    # T[q, s, j] = q_sub_s · codeword_{s,j}
    T = np.einsum("qsd,sjd->qsj", Q.reshape(len(qrows), mm, dsub), codebooks)
    S = shortlist

    def _adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sub_idx = np.arange(mm)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)  # (B, m)
            rnorm = pdf["rnorm"].to_numpy(dtype=np.float64)
            nid = pdf["neighbor_id"].to_numpy()
            denom = np.sqrt(np.maximum(rnorm, 1e-300))
            out_q, out_n, out_s = [], [], []
            for qi in range(len(qids)):
                dots = T[qi][sub_idx[None, :], codes].sum(axis=1)  # (B,)
                approx = dots / (denom * max(qn[qi], 1e-300))
                mask = nid != qids[qi]
                idx = np.flatnonzero(mask)
                if len(idx) == 0:
                    continue
                # (-approx, neighbor_id) is a TOTAL order — required for
                # the layout-independence superset argument: quantization
                # makes exact approx ties common (identical codes), and a
                # positional tie-break would let different partitionings
                # admit different tie members at the shortlist boundary.
                top = idx[np.lexsort((nid[idx], -approx[idx]))[:S]]
                out_q.append(np.full(len(top), qids[qi]))
                out_n.append(nid[top])
                out_s.append(approx[top])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "__approx": np.concatenate(out_s),
                }
            )

    cand = corpus_codes.mapInPandas(_adc, "query_id long, neighbor_id long, __approx double")
    w = Window.partitionBy("query_id").orderBy(F.col("__approx").desc(), F.col("neighbor_id"))
    short = cand.withColumn("__rnk", F.row_number().over(w)).where(F.col("__rnk") <= S)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm_sq(F.col(vec_col)).alias("__qn"),
    )
    full = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm_sq(F.col(vec_col)).alias("__cn"),
    )
    rescored = (
        short.select("query_id", "neighbor_id")
        .join(full, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / F.sqrt(F.col("__qn") * F.col("__cn")),
                round_digits,
            ).alias("cos_sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return rescored.withColumn("rnk", F.row_number().over(w2)).where(F.col("rnk") <= k)


def _lloyd(X: np.ndarray, C: np.ndarray, max_iter: int = 15) -> np.ndarray:
    """Vectorized Lloyd iterations from a given init (shared kernel for
    ``_kmeans_fit`` and ``pq_train``). Deterministic given (X, C): argmin
    ties break by numpy index order, grouped means are one bincount per
    dimension — no per-cluster Python loop, so a 256-word codebook fit is
    milliseconds instead of seconds (the round-7 bench's s09/s10 hotspot).
    Distances use the ‖x‖² − 2x·c + ‖c‖² expansion (BLAS matmul instead of
    an (n, k, d) broadcast) — same argmin up to float associativity."""
    k, d = C.shape
    Xn = (X**2).sum(axis=1)
    C = C.copy()
    for _ in range(max_iter):
        d2 = Xn[:, None] - 2.0 * (X @ C.T) + (C**2).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        counts = np.bincount(assign, minlength=k)
        newC = C.copy()
        nz = counts > 0
        sums = np.empty((k, d), dtype=np.float64)
        for dd in range(d):
            sums[:, dd] = np.bincount(assign, weights=X[:, dd], minlength=k)
        newC[nz] = sums[nz] / counts[nz][:, None]
        if np.allclose(newC, C):
            return newC
        C = newC
    return C


def _kmeans_fit(X: np.ndarray, k: int, seed: int, max_iter: int = 15) -> np.ndarray:
    """Seeded driver-side Lloyd's k-means (the pq_train kernel, factored
    for reuse by the IVF-PQ coarse quantizer). Deterministic: init is a
    seeded permutation of sample rows; ties break by numpy argmin order."""
    rng = np.random.RandomState(seed)
    return _lloyd(X, X[rng.permutation(X.shape[0])[:k]], max_iter)


def ivfpq_train(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    m: int = 8,
    n_centroids: int | None = None,
    sample: int = 2048,
    seed: int = 42,
) -> tuple[np.ndarray, np.ndarray]:
    """Fit the IVF-PQ quantizer pair: (coarse cells, residual codebooks).

    Driver-side seeded k-means on the md5-ordered ≤``sample``-row draw —
    bounded driver state at any corpus size (the ``pq_train`` posture).
    The coarse quantizer is sized from the CORPUS count (``_auto_centroids``
    √N rule, capped by the sample size); residual codebooks are fit on the
    sample's residuals so the same budget quantizes far tighter than raw
    vectors (Jégou et al. 2011 §IV). Returns ``(cells, books)`` numpy
    arrays — KBs, broadcast-friendly index state.
    """
    dsub = dim // m
    assert dsub * m == dim, "dim must split evenly into m subspaces"
    from mlops_pipelines_featurestore_gcp_spark.functions.text import md5_long

    srows = (
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v"))
        .withColumn("__h", md5_long(F.concat(F.lit("pq|"), F.col("__id").cast("string")), bits=60))
        .orderBy("__h", "__id")
        .limit(sample)
        .select("__v")
        .collect()
    )
    if not srows:
        raise ValueError("ivfpq_train: empty corpus (the learn_cells posture — a clear error, not a numpy shape crash)")
    X = np.asarray([r["__v"] for r in srows], dtype=np.float64)
    n = X.shape[0]
    if n_centroids is None:
        # corpus-count-derived √N (ADVICE r6: the sample-derived constant
        # stopped growing with N, silently breaking the stated scale rule)
        n_centroids = _auto_centroids(corpus.count())
    n_centroids = min(n_centroids, n)  # k-means needs k ≤ sample rows
    cells = _kmeans_fit(X, n_centroids, seed)
    # residual codebooks from the sample's residuals
    res = X - cells[((X[:, None, :] - cells[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)]
    ksub = min(256, max(2, n // 4))
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    rng_seed = seed + 1
    for s in range(m):
        books[s] = _kmeans_fit(res[:, s * dsub : (s + 1) * dsub], ksub, rng_seed + s)
    return cells, books


def ivfpq_encode(
    corpus: DataFrame,
    cells: np.ndarray,
    books: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One vectorized Arrow pass: assign each vector to its coarse cell and
    PQ-encode its RESIDUAL → ``(neighbor_id, cell, codes, rnorm)`` where
    ``rnorm`` is the exact reconstruction norm the ADC denominator needs."""
    m, _, dsub = books.shape
    cb, ct = books, cells
    cbn = (cb**2).sum(axis=2)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<cell: int, codes: array<int>, rnorm: double>")
    def _enc(col: pd.Series) -> pd.DataFrame:
        if len(col) == 0:
            return pd.DataFrame({"cell": [], "codes": [], "rnorm": []})
        V = np.vstack(col.to_numpy()).astype(np.float64)
        cell = (-2.0 * (V @ ct.T) + (ct**2).sum(axis=1)[None, :]).argmin(axis=1)
        R = V - ct[cell]
        B = V.shape[0]
        codes = np.empty((B, m), dtype=np.int32)
        recon = ct[cell].copy()
        for s in range(m):
            sub = R[:, s * dsub : (s + 1) * dsub]
            a = (-2.0 * (sub @ cb[s].T) + cbn[s][None, :]).argmin(axis=1)
            codes[:, s] = a
            recon[:, s * dsub : (s + 1) * dsub] += cb[s][a]
        return pd.DataFrame(
            {"cell": cell.astype(np.int32), "codes": list(codes), "rnorm": (recon**2).sum(axis=1)}
        )

    return corpus.select(F.col(id_col).alias("neighbor_id"), _enc(F.col(vec_col)).alias("__e")).select(
        "neighbor_id", "__e.cell", "__e.codes", "__e.rnorm"
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    m: int = 8,
    n_centroids: int | None = None,
    n_probe: int | None = None,
    k: int = 5,
    shortlist: int = 32,
    sample: int = 2048,
    seed: int = 42,
    round_digits: int = 6,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    corpus_codes: DataFrame | None = None,
    adc_query_rows: list | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k — the FAISS ``IVFADC`` composition
    (Jégou et al. 2011 §IV): coarse cells prune WHICH vectors are scored,
    residual product quantization compresses WHAT is scored.

    Index shape: a √N-cell coarse quantizer sized from the CORPUS count
    (``_auto_centroids`` — the s03 rule, so per-cell population grows as
    √N, not linearly) and fit driver-side by seeded k-means on the
    md5-ordered ≤``sample``-row draw (k is capped by the sample size, so
    past N ≈ sample² the cell count plateaus at ``sample`` — raise
    ``sample`` if a deployment needs more cells); every vector stores its
    cell id + m one-byte PQ codes of its RESIDUAL (v − centroid) + the
    exact reconstruction norm — one vectorized Arrow encode pass. Encoding
    residuals instead of raw vectors is the published trick: residuals
    concentrate near zero, so the same codebook budget quantizes them with
    far less error than the raw spread.

    Query: each query scores the broadcast centroid table driver-side and
    probes its ``n_probe`` nearest cells (default ⌈cells/3⌉, the s03
    scale-stable fraction). The ADC kernel scans the code table once,
    masks each batch to the rows whose cell the query probes, and scores
    via q·v̂ = q·c_cell + Σₛ T[s, code_s] — one scalar lookup per probed
    cell plus m table lookups per row; map-side top-``shortlist`` pruning
    keeps the ranking shuffle at partitions × shortlist × |queries| rows.
    Exact float rescore of survivors (scores bit-equal to brute force on
    the same pairs). At 100 TB this reads the 32×-smaller code column and
    touches only ~⅓ of even that after the cell mask.

    ``centroids``/``codebooks``/``corpus_codes`` inject a PREBUILT index
    (``build_ivfpq_index``): the train and encode passes are skipped and
    the ADC stage scans only the probed cells' code partitions — the
    build-once/search-many production shape. In-call (all three None)
    trains and encodes fresh, bit-identically to the prebuilt path.
    """
    dsub = dim // m
    assert dsub * m == dim, "dim must split evenly into m subspaces"
    if centroids is None or codebooks is None:
        cells, books = ivfpq_train(
            corpus, id_col=id_col, vec_col=vec_col, dim=dim, m=m,
            n_centroids=n_centroids, sample=sample, seed=seed,
        )
    else:
        cells, books = centroids, codebooks
    assert books.shape[0] == m and books.shape[2] == dsub, "codebooks disagree with m/dim"
    if n_probe is None:
        n_probe = max(4, -(-len(cells) // 3))
    n_probe = min(n_probe, len(cells))
    ct = cells

    if corpus_codes is None:
        enc = _spread(ivfpq_encode(corpus, cells, books, id_col=id_col, vec_col=vec_col))
    else:
        enc = corpus_codes.select("neighbor_id", "cell", "codes", "rnorm")

    # adc_query_rows (r14, guide §5 driver-side work): a caller running
    # SEVERAL tiers over the same query population (the s10 parity twin)
    # collects the (query_id, qv) rows ONCE and hands them to each call —
    # one Spark collect job instead of one per tier.
    if adc_query_rows is not None:
        qrows = adc_query_rows
    else:
        qrows = _collect_query_rows(
            queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")),
            "ivf_pq_topk",
        )
    qids = np.asarray([r["query_id"] for r in qrows])
    if len(qrows) == 0:
        # empty query set: the (nq, dim) reshapes below would see shape
        # (0,) and crash — return the empty result with the output schema
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rnk int"
        )
    Q = np.asarray([r["qv"] for r in qrows], dtype=np.float64)
    qn = np.sqrt((Q**2).sum(axis=1))
    qc = Q @ ct.T  # (nq, cells): the q·c_cell scalar term
    # per-query probed cell set: n_probe nearest centroids by L2
    d2q = (Q**2).sum(axis=1)[:, None] - 2.0 * qc + (ct**2).sum(axis=1)[None, :]
    probed = np.argsort(d2q, kind="stable", axis=1)[:, :n_probe]  # (nq, n_probe)
    if corpus_codes is not None:
        # Persisted codes are partitioned by cell (build_ivfpq_index):
        # restricting the scan to the union of the batch's probed cells
        # prunes every untouched partition at the source, compounded with
        # the 32× code shrink.
        enc = enc.where(F.col("cell").isin(*[int(c) for c in np.unique(probed)]))
    T = np.einsum("qsd,sjd->qsj", Q.reshape(len(qrows), m, dsub), books)
    S = shortlist

    def _adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sub_idx = np.arange(m)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cell = pdf["cell"].to_numpy(dtype=np.int64)
            codes = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)
            rnorm = pdf["rnorm"].to_numpy(dtype=np.float64)
            nid = pdf["neighbor_id"].to_numpy()
            denom = np.sqrt(np.maximum(rnorm, 1e-300))
            out = []
            for qi in range(len(qids)):
                mask = np.isin(cell, probed[qi]) & (nid != qids[qi])
                idx = np.flatnonzero(mask)
                if len(idx) == 0:
                    continue
                dots = qc[qi][cell[idx]] + T[qi][sub_idx[None, :], codes[idx]].sum(axis=1)
                approx = dots / (denom[idx] * max(qn[qi], 1e-300))
                # total order (-approx, id): see the pq_topk kernel note
                top = idx[np.lexsort((nid[idx], -approx))[:S]] if len(idx) > S else idx
                sc = (qc[qi][cell[top]] + T[qi][sub_idx[None, :], codes[top]].sum(axis=1)) / (
                    denom[top] * max(qn[qi], 1e-300)
                )
                out.append(
                    pd.DataFrame({"query_id": np.full(len(top), qids[qi]), "neighbor_id": nid[top], "__approx": sc})
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    cand = enc.mapInPandas(_adc, "query_id long, neighbor_id long, __approx double")
    w = Window.partitionBy("query_id").orderBy(F.col("__approx").desc(), F.col("neighbor_id"))
    short = cand.withColumn("__rnk", F.row_number().over(w)).where(F.col("__rnk") <= S)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm_sq(F.col(vec_col)).alias("__qn"),
    )
    full = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm_sq(F.col(vec_col)).alias("__cn"),
    )
    rescored = (
        short.select("query_id", "neighbor_id")
        .join(full, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / F.sqrt(F.col("__qn") * F.col("__cn")),
                round_digits,
            ).alias("cos_sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return rescored.withColumn("rnk", F.row_number().over(w2)).where(F.col("rnk") <= k)


def _ivfpq_state_write(spark, path: str, cells: np.ndarray, books: np.ndarray) -> None:
    rows = [(int(c), [float(x) for x in cells[c]]) for c in range(len(cells))]
    spark.createDataFrame(rows, "cell int, centroid array<double>").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/centroids")
    m, ksub, _ = books.shape
    brows = [(s, j, [float(x) for x in books[s, j]]) for s in range(m) for j in range(ksub)]
    spark.createDataFrame(brows, "s int, j int, centroid array<double>").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/codebooks")


def _ivfpq_state_read(spark, path: str) -> tuple[np.ndarray, np.ndarray]:
    """The persisted (cells, books) pair. An index whose codes sit in a
    rotated basis carries an ``opq`` directory; it is refused, because raw
    queries against rotated codes would return wrong neighbours silently.
    Existence goes through the Hadoop FileSystem API, so any store the
    index lives on works."""
    rotated = spark._jvm.org.apache.hadoop.fs.Path(f"{path}/opq")
    if rotated.getFileSystem(spark._jsc.hadoopConfiguration()).exists(rotated):
        raise ValueError(
            f"{path} holds a rotated-basis index ({path}/opq); searching or "
            "upserting it with raw vectors is wrong — rebuild it into an empty directory"
        )
    c_rows = spark.read.parquet(f"{path}/centroids").collect()
    dim = len(c_rows[0]["centroid"])
    cells = np.empty((max(r["cell"] for r in c_rows) + 1, dim), dtype=np.float64)
    for r in c_rows:
        cells[r["cell"]] = r["centroid"]
    cb_rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = max(r["s"] for r in cb_rows) + 1
    ksub = max(r["j"] for r in cb_rows) + 1
    dsub = len(cb_rows[0]["centroid"])
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for r in cb_rows:
        books[r["s"], r["j"]] = r["centroid"]
    return cells, books


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    m: int = 8,
    n_centroids: int | None = None,
    sample: int = 2048,
    seed: int = 42,
) -> None:
    """Persist an IVF-PQ index — the tier a 100 TB deployment would
    actually keep on disk (VERDICT r6 #3: s09 refit per call until now).

    ``{path}/centroids`` (coarse cells) and ``{path}/codebooks`` (residual
    codewords) are KB-sized driver state; ``{path}/codes`` holds one
    (id, cell, codes, rnorm) row per vector, PARTITIONED BY cell so a
    probe reads only its cells' directories — IVF partition pruning
    stacked on PQ's 32× code shrink. Train + encode amortize across every
    subsequent ``ivfpq_search``; rebuild when the corpus distribution
    drifts (the published maintenance trade).
    """
    spark = corpus.sparkSession
    cells, books = ivfpq_train(
        corpus, id_col=id_col, vec_col=vec_col, dim=dim, m=m,
        n_centroids=n_centroids, sample=sample, seed=seed,
    )
    _ivfpq_state_write(spark, path, cells, books)
    ivfpq_encode(corpus, cells, books, id_col=id_col, vec_col=vec_col).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{path}/codes")


def ivfpq_upsert(
    spark,
    path: str,
    batch: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental ingest into a persisted IVF-PQ index: new vectors are
    cell-assigned and residual-encoded against the EXISTING quantizers (no
    refit — the serving-time contract) and appended to their cell
    partitions, so ingest cost ∝ batch size and only touched cells'
    directories receive files.
    Quantizers drift as the corpus moves — rebuild when recall degrades.
    Re-appending the same batch duplicates rows; dedupe ids upstream or
    rebuild — documented, not hidden."""
    cells, books = _ivfpq_state_read(spark, path)
    ivfpq_encode(batch, cells, books, id_col=id_col, vec_col=vec_col).write.mode(
        "append"
    ).partitionBy("cell").parquet(f"{path}/codes")


def compact_cell_partitions(
    spark,
    table_dir: str,
    *,
    max_files_per_cell: int = 4,
    rows_per_file: int = 1 << 20,
    dedupe_exact: bool = True,
) -> dict:
    """Maintenance pass for a cell-partitioned index table (the q40
    compaction posture applied to the ANN indexes): every ``*_upsert``
    appends one file set per touched cell, so a long-lived index
    accumulates many small files per cell directory — each probe then
    pays per-file open/footer cost instead of one sequential read, the
    classic small-files decay of any append-mode store.

    Shape (scale-safe by construction):
    - fragmentation census: one scan of ``(cell, input_file_name())`` →
      per-cell distinct-file counts. The collect is bounded by the cell
      count, which the quantizer sizing caps at 65536 (`_auto_centroids`
      — the MAX_QUERY_ROWS posture: report-sized by design).
    - only cells with more than ``max_files_per_cell`` files are
      rewritten (source-level partition pruning on the read; untouched
      cells' files are left byte-identical on disk).
    - the rewrite clusters each cell's rows into ``rows_per_file``-row
      files (``maxRecordsPerFile``) via one ``repartition(cell)``
      shuffle; per-task population is one cell — the same bound as the
      original build's write. Rows are ``localCheckpoint``-MATERIALIZED
      before the write because the overwrite targets the very path the
      lineage reads (the CLAUDE.md overwrite rule).
    - ``dedupe_exact=True`` drops byte-identical duplicate rows — the
      rows a re-applied upsert batch appends (documented in
      ``ivfpq_upsert``). It never guesses between DIFFERENT rows for
      one id (no version column → "latest" is undefined); a changed
      vector's stale row survives until a rebuild, exactly as before.

    Search results are unchanged by compaction (pinned by test:
    bit-equal top-k before/after). Returns a small report dict.
    """
    df = spark.read.parquet(table_dir)
    census = (
        df.select("cell", F.input_file_name().alias("__f"))
        .groupBy("cell")
        .agg(F.count_distinct("__f").alias("__nf"), F.count("*").alias("__rows"))
    ).collect()
    frag = [r for r in census if r["__nf"] > max_files_per_cell]
    report = {
        "cells_total": len(census),
        "cells_compacted": len(frag),
        "files_before": int(sum(r["__nf"] for r in census)),
        "rows_rewritten": int(sum(r["__rows"] for r in frag)),
    }
    if not frag:
        return report
    cells = [r["cell"] for r in frag]
    # partition-pruned read of just the fragmented cells; isin stays a
    # pushable In-filter at any realistic fan-out (≤65536 cell literals)
    rows = df.where(F.col("cell").isin(cells))
    if dedupe_exact:
        rows = rows.dropDuplicates()
    compacted = rows.repartition("cell").localCheckpoint(eager=True)
    (
        compacted.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", rows_per_file)
        .partitionBy("cell")
        .parquet(table_dir)
    )
    return report


def ivfpq_compact(spark, path: str, **kwargs) -> dict:
    """Compact a persisted IVF-PQ index's ``codes`` table (see
    :func:`compact_cell_partitions`); quantizer state is untouched."""
    return compact_cell_partitions(spark, f"{path}/codes", **kwargs)


def ivfpq_search(
    spark,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    n_probe: int | None = None,
    k: int = 5,
    shortlist: int = 32,
    round_digits: int = 6,
    state: tuple[np.ndarray, np.ndarray] | None = None,
    adc_query_rows: list | None = None,
) -> DataFrame:
    """Approximate top-k against a persisted IVF-PQ index.

    The ADC stage scans ONLY the probed cells' partitions of
    ``{path}/codes``; ``corpus`` (the float table) is touched just for
    the shortlist×|queries| rescore rows. Produces bit-identical results
    to the in-call ``ivf_pq_topk`` under the same quantizer state
    (pinned in tests/test_pq.py).

    ``state``/``adc_query_rows`` (r14, guide §5): a caller that already
    holds the persisted quantizer pair (``_ivfpq_state_read``) or the
    collected query rows can inject them and skip this call's own driver
    round-trips — the s10 parity twin shares one state read and one query
    collect between its two tiers."""
    if state is not None:
        cells, books = state
    else:
        cells, books = _ivfpq_state_read(spark, path)
    codes = spark.read.parquet(f"{path}/codes")
    return ivf_pq_topk(
        corpus,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        m=books.shape[0],
        n_probe=n_probe,
        k=k,
        shortlist=shortlist,
        round_digits=round_digits,
        centroids=cells,
        codebooks=books,
        corpus_codes=codes,
        adc_query_rows=adc_query_rows,
    )


_SUB_BITS = 21  # global cell id = (coarse << _SUB_BITS) | sub
_SUB_K_CAP = 4096  # ABSOLUTE per-coarse-cell sub-cluster cap (see learn_cells)
_TWO_LEVEL_MIN = 128  # n_clusters above this switches to the two-level fit


def _kmeanspp_fit(X: np.ndarray, k: int, seed: int, max_iter: int = 15) -> np.ndarray:
    """Seeded k-means++ (Arthur & Vassilvitskii 2007): D²-weighted seeding
    + Lloyd — the ``learn_cells`` fit kernel. The random-permutation init
    (``_kmeans_fit``) converges to mode-lumping local optima at small k
    (observed: a tight 10-member family split 4 ways while 5 mutually
    orthogonal singles shared one cell — the quality MLlib's k-means||
    init used to provide); D² seeding spreads the initial centers across
    separated modes. Deterministic given (X, k, seed)."""
    n = X.shape[0]
    k = min(k, n)
    rng = np.random.RandomState(seed)
    idx = [int(rng.randint(n))]
    d2 = ((X - X[idx[0]]) ** 2).sum(axis=1)
    while len(idx) < k:
        tot = d2.sum()
        if tot <= 0.0:
            # every remaining point coincides with a center: pad in index
            # order (the padded centers immediately go empty in Lloyd)
            chosen = set(idx)
            idx.extend(i for i in range(n) if i not in chosen)
            idx = idx[:k]
            break
        nxt = int(rng.choice(n, p=d2 / tot))
        idx.append(nxt)
        d2 = np.minimum(d2, ((X - X[nxt]) ** 2).sum(axis=1))
    return _lloyd(X, X[np.asarray(idx[:k])], max_iter)


def _sample_matrix(c: DataFrame, n_take: int, salt: str) -> np.ndarray:
    """md5-ordered deterministic ≤``n_take``-row draw of ``v`` as float64 —
    the bounded driver-side fit sample (the ``ivfpq_train`` posture)."""
    from mlops_pipelines_featurestore_gcp_spark.functions.text import md5_long

    rows = (
        c.withColumn(
            "__sh", md5_long(F.concat(F.lit(salt + "|"), F.col("vid").cast("string")), bits=60)
        )
        .orderBy("__sh", "vid")
        .limit(n_take)
        .select("v")
        .collect()
    )
    if not rows:
        raise ValueError("learn_cells: empty corpus")
    return np.asarray([np.asarray(r["v"], dtype=np.float64) for r in rows])


def _nearest_centroid_udf(C: np.ndarray):
    """Arrow-batched nearest-centroid assignment against a FIXED centroid
    matrix (closure state, ≤ a few hundred KB — ships with the task, never
    a shuffle). Euclidean argmin with numpy index-order ties — the
    ``_lloyd`` assignment rule, so fit and assign agree."""
    from pyspark.sql.functions import pandas_udf

    Cn = (C**2).sum(axis=1)

    @pandas_udf("long")
    def _assign(vs: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        if X.size == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        d2 = (X**2).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + Cn[None, :]
        return pd.Series(d2.argmin(axis=1).astype(np.int64))

    return _assign


def learn_cells(
    c: DataFrame,
    *,
    n_clusters: int,
    seed: int = 42,
    max_iter: int = 15,
    target_cell: int = 1024,
    coarse_cells: int | None = None,
    two_level_min: int = _TWO_LEVEL_MIN,
) -> tuple[DataFrame, DataFrame]:
    """Learn a ``n_clusters``-cell partition of ``c`` (columns
    ``vid, v, nrm``) with DRIVER STATE AND PER-STAGE COST BOUNDED AT ANY N
    — the shared cell-learning stage for SemDeDup (d07) and the hub star
    (d10). Returns ``(assigned, centroids)``: one ``(vid, v, nrm, cell)``
    row per input vector and one ``(cell, ctr array<double>)`` row per
    non-empty cell; both deterministic given (data, seed), both off one
    lazily-checkpointed execution.

    The r9 form fit MLlib ``KMeans(k = N/1024)`` over the FULL corpus —
    O(N·k·d) = O(N²·d/1024) per Lloyd iteration, with all k centroids
    materialized on the driver (``clusterCenters()`` → ~512 MB at k=10⁶,
    dim 64): the repo's one remaining quadratic-in-N stage (VERDICT r9
    "what's wrong" #1). This is the standard two-level replacement:

    - ``n_clusters ≤ two_level_min`` — single level: seeded driver-side
      Lloyd (``_kmeans_fit``) on an md5-ordered ≤ max(2048, 32·k) sample,
      one Arrow map pass assigns every vector (O(N·k·d), k bounded).
      Driver state: ≤ 2048×d sample + k×d centroids, both bounded.
    - above it — two level: √k coarse cells fit driver-side on the same
      bounded-sample posture, assigned map-side (O(N·√k·d)); then each
      coarse cell SUB-CLUSTERS INSIDE ONE ``applyInPandas`` group —
      k_sub = ceil(members/target_cell) sub-cells fit on the group's
      md5-first min(members, max(256, 16·k_sub)) rows, all members
      assigned vectorized (Σ members·k_sub·d = O(N·√k·d)), and the
      group emits its members AND its sub-centroid rows. No stage is
      quadratic in N and NO centroid list for the full k ever exists —
      the k-row centroid table is born distributed (marker rows from the
      groups), exactly what d10's hub election joins on.

    Bounds (SCALING.md "semantic dedup"): sub-cluster count per coarse
    cell is capped ABSOLUTELY at ``_SUB_K_CAP`` = 4096 (with balanced
    cells k_sub ≈ √k — the cap binds only past k ≈ 1.6·10⁷, i.e.
    N ≈ 1.6·10¹⁰ vectors, where cells densify gracefully instead of the
    fit exploding); per-group memory is the coarse cell's members
    (~N/√k rows — raise ``coarse_cells`` above √k to shrink groups at
    extreme N). Global cell id packs (coarse << 21) | sub into a long.

    Ids/cells are engine-specific (seeded, deterministic per build, not
    SQL-replayable) — exactly why d07/d10 carry contract oracles.
    """
    spark = c.sparkSession
    k = max(1, int(n_clusters))
    if k <= two_level_min:
        C = _kmeanspp_fit(
            _sample_matrix(c, max(2048, 32 * k), f"cells{seed}"), k, seed, max_iter
        )
        assigned = c.withColumn(
            "cell", _nearest_centroid_udf(C)(F.col("v"))
        ).localCheckpoint(eager=False)
        centroids = spark.createDataFrame(
            [(i, [float(x) for x in ctr]) for i, ctr in enumerate(C)],
            "cell long, ctr array<double>",
        )
        return assigned, centroids

    k_coarse = int(coarse_cells) if coarse_cells else max(2, round(k**0.5))
    Cc = _kmeanspp_fit(
        _sample_matrix(c, max(2048, 32 * k_coarse), f"coarse{seed}"), k_coarse, seed, max_iter
    )
    from mlops_pipelines_featurestore_gcp_spark.functions.text import md5_long

    pre = c.withColumn("__cc", _nearest_centroid_udf(Cc)(F.col("v"))).withColumn(
        "__h",
        md5_long(F.concat(F.lit("subfit|"), F.col("vid").cast("string")), bits=60),
    )
    vid_t = c.schema["vid"].dataType.simpleString()
    v_t = c.schema["v"].dataType.simpleString()
    out_schema = f"vid {vid_t}, v {v_t}, nrm double, cell long, ctr array<double>"
    tc, cap, mit, sd = int(target_cell), _SUB_K_CAP, int(max_iter), int(seed)

    def _fit_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        cc = int(key[0])
        # group arrival order is planner-dependent — md5 sort makes the
        # fit sample (and thus the centroids) deterministic
        pdf = pdf.sort_values(["__h", "vid"], kind="mergesort").reset_index(drop=True)
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        n = len(pdf)
        k_sub = min(max(1, -(-n // tc)), cap, n)
        # 64 sample rows per sub-centroid (absolute cap 65536): the first
        # cut used 16/centroid and produced visibly coarser cells than the
        # full-corpus fit it replaced (max cell 2761 vs 1466 at the 100x
        # gate -> 1.37x the candidate-pair mass in d07's within-cell join);
        # 64/centroid closes most of that gap at negligible fit cost
        # (fit is O(fit_n * k_sub * d) inside one group)
        fit_n = min(n, max(512, 64 * k_sub), 65536)
        Cs = _kmeanspp_fit(X[:fit_n], k_sub, sd + cc, mit)
        d2 = (X**2).sum(axis=1)[:, None] - 2.0 * (X @ Cs.T) + (Cs**2).sum(axis=1)[None, :]
        sub = d2.argmin(axis=1)
        gid = (np.int64(cc) << _SUB_BITS) | sub.astype(np.int64)
        members = pd.DataFrame(
            {
                "vid": pdf["vid"],
                "v": pdf["v"],
                "nrm": pdf["nrm"],
                "cell": gid,
                "ctr": None,
            }
        )
        uniq = np.unique(sub)
        cents = pd.DataFrame(
            {
                "vid": pd.Series([None] * len(uniq), dtype=object),
                "v": pd.Series([None] * len(uniq), dtype=object),
                "nrm": pd.Series([np.nan] * len(uniq), dtype="float64"),
                "cell": (np.int64(cc) << _SUB_BITS) | uniq.astype(np.int64),
                "ctr": pd.Series([Cs[s].tolist() for s in uniq], dtype=object),
            }
        )
        return pd.concat([members, cents], ignore_index=True)

    out = (
        pre.select("vid", "v", "nrm", "__cc", "__h")
        .groupBy("__cc")
        .applyInPandas(_fit_group, out_schema)
        .localCheckpoint(eager=False)
    )
    assigned = out.where(F.col("vid").isNotNull()).select("vid", "v", "nrm", "cell")
    centroids = out.where(F.col("vid").isNull()).select("cell", "ctr")
    return assigned, centroids


def semantic_dedup_pairs(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
    threshold: float = 0.95,
    seed: int = 42,
    max_iter: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic duplicate pairs (Abbas et al. 2023).

    The cluster-then-prune shape: (1) MLlib KMeans learns ``n_clusters``
    coarse cells; (2) every vector is assigned to its cell in one broadcast-
    scored map pass; (3) exact cosine runs only WITHIN a cell — a single
    equi shuffle on ``cell``, Σ cell² scored pairs instead of the n²
    cartesian. Unlike the sign-LSH blocking (``coord_sign_blocked_pairs``),
    the partition is *learned from the data*, so dense semantic
    neighborhoods land in the same cell even when no axis-aligned or random
    hyperplane splits around them.

    Cross-cell near-duplicates are missed by construction — the published
    SemDeDup trade — so the canonical setting pairs a high threshold with
    enough clusters that a cell fits in executor memory. KMeans state is
    seeded and deterministic per engine build but not SQL-replayable →
    the d07 oracle is the SemDeDup contract (subset-of-exact + bit-parity
    scores); within-cell exactness is asserted in tests against the
    brute-force all-pairs baseline.

    Cell learning is :func:`learn_cells` (r10): bounded-sample driver fit,
    map-side assignment, per-coarse-cell sub-clustering past
    ``_TWO_LEVEL_MIN`` cells — no stage quadratic in N, no k-wide driver
    centroid list (the r9 flat full-corpus ``KMeans(k=N/1024)`` fit was
    O(N²·d/1024) per iteration).
    """
    c = _spread(
        corpus.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("v"),
            norm_sq(F.col(vec_col)).alias("nrm"),
        )
    )
    if n_clusters is None:
        n_clusters = _auto_clusters(c.count())
    assigned, _ = learn_cells(c, n_clusters=n_clusters, seed=seed, max_iter=max_iter)
    # EXPLICIT cell-keyed spread before the self-join: the join's row count
    # explodes to Σ cell² INSIDE the join, which AQE cannot see — it
    # coalesces the exchange by INPUT bytes (measured at 100×: the
    # checkpointed assignment came back 10-partition and the 146M-pair
    # scoring stage ran 10-wide, 244s → 32-wide after this line). A user
    # repartition is exempt from AQE coalescing. Parallelism is bounded by
    # distinct cells (k = N/1024 ≫ cores past toy corpora) and per-cell
    # work by the target cell size.
    shuffle_n = int(c.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    assigned = assigned.repartition(shuffle_n, "cell")
    a = assigned.select(F.col("vid").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"), "cell")
    b = assigned.select(F.col("vid").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"), "cell")
    return (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.col("cell"),
            F.round(
                dot(F.col("va"), F.col("vb")) / F.sqrt(F.col("na") * F.col("nb")),
                round_digits,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def semantic_dedup_keep_star(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
    threshold: float = 0.95,
    seed: int = 42,
    max_iter: int = 10,
    round_digits: int = 6,
    n_hubs: int = 1,
    rounds: int = 1,
) -> DataFrame:
    """LINEAR-cost semantic dedup: star edges to a per-cell hub instead of
    the within-cell pair clique.

    :func:`semantic_dedup_pairs` materializes Σ cell² pairs — at a
    dup-cluster-heavy corpus (the r8 100× embeddings measured 4.4M pairs
    from 200k vectors, nexp 2.34) the INTERMEDIATE is quadratic in
    duplicate multiplicity even though the keep-set output is linear.
    This is the mm07 lesson applied to embeddings, where exact-signature
    collapse is unavailable (float vectors are all distinct): each
    KMeans cell elects ONE hub (the member most similar to its centroid,
    ties broken by id), every other member scores exactly against the
    hub alone, and members with cos ≥ ``threshold`` are dropped as the
    hub's duplicates. Edges, score work, and output are all O(N).

    Semantics trade (documented, the LSH-recall class): duplicates are
    detected only via a hub — a pair of mutual near-dups that are BOTH
    below ``threshold`` to every hub survives as two rows, where the
    pair-clique form would collapse them. What the operator GUARANTEES —
    and what the d10 contract oracle hash-checks at every scale, O(N)
    verifiable — is the safety property a dedup user needs: every
    dropped vector has an EXACTLY-verified cos ≥ threshold to a kept
    vector (its witness hub; hubs are always kept), and nothing else is
    dropped. For tight duplicate families and high thresholds a hub
    witnesses its whole family (angle(a,b) ≤ angle(a,hub) +
    angle(hub,b)).

    ``n_hubs`` (r9) multiplies recall at linear cost: the top
    ``n_hubs`` centroid-similar members per cell are ALL elected (and
    all kept — no hub-vs-hub chain to resolve, so witness-kept stays
    structurally true), and each member scores exactly against each of
    its cell's hubs (O(n_hubs·N) score work, still map-side; dup_of is
    the max-cos hub, ties to the smallest hub id). A single hub can
    witness ~one duplicate family per cell per pass — MEASURED on the
    fixture embeddings vs the clique form at the same τ
    (tools/d10_recall.py): n_hubs=1 resolved 3.3% of clique pairs at
    sf0.1 τ=0.30 (8.7% drop yield at 10×), n_hubs=8 multiplies that
    coverage ~Rx (figures in SCALING.md). The residual gap vs the
    clique is partly the CONTRACT, not the implementation: the clique
    form drops via transitive closure, while the star's safety property
    only permits drops with a DIRECT ≥ τ edge to a kept row.

    ``rounds`` (r10) attacks the other ceiling — one election round's
    hubs all come from the TOP of the centroid-similarity ranking, so
    families whose members never rank high enough are unwitnessed no
    matter the threshold. Each additional round re-elects ``n_hubs``
    hubs per cell among ONLY the still-unresolved members (not a hub,
    no ≥ τ witness yet) — coverage-seeded like k-means++, reaching
    families the first ranking missed — and scores only those members
    against the new hubs. Cost is O(n_hubs·rounds·N) worst case but each
    round works on a shrinking set; all hubs of every round are kept, so
    the witness contract is unchanged. Survivors report their best
    cosine across every hub they scored (``cos_to_hub``).

    Returns one row per corpus vector:
    ``(id_col, cell, kept int, dup_of nullable, cos_to_hub double)``
    with ``cos_to_hub`` the exact rounded best cosine to the cell's
    hubs (1.0 for a hub itself). KMeans state is seeded and
    deterministic per engine build but not SQL-replayable — the
    registered oracle is the contract form, like d07.

    Reference analogue: SemDeDup (Abbas et al. 2023) cluster-then-prune,
    with the O(cell²) similarity matrix replaced by the O(cell) hub star.

    Cell learning is :func:`learn_cells` (r10, same stage as d07): the
    centroid table arrives as a DISTRIBUTED DataFrame (k rows, born from
    the sub-clustering groups past ``_TWO_LEVEL_MIN`` cells — never a
    driver list), and the centroid join below carries no broadcast hint
    for the same reason the hub join doesn't: AQE broadcasts it while
    small and shuffle-joins on ``cell`` at the 10⁹-vector scale where k
    rows are GBs.
    """
    c = _spread(
        corpus.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("v"),
            norm_sq(F.col(vec_col)).alias("nrm"),
        )
    )
    if n_clusters is None:
        n_clusters = _auto_clusters(c.count())
    assigned, cent = learn_cells(c, n_clusters=n_clusters, seed=seed, max_iter=max_iter)
    scored = (
        assigned.join(cent, "cell")
        .withColumn(
            "__c_sim",
            F.round(
                dot(F.col("v").cast("array<double>"), F.col("ctr"))
                / F.sqrt(F.col("nrm") * norm_sq(F.col("ctr"))),
                round_digits,
            ),
        )
        .drop("ctr")
        # one execution for every election round (each round reads its
        # `remaining` twice: hub election + the scoring join)
        .localCheckpoint(eager=False)
    )

    # best witness: max cos, ties to the SMALLEST hub id — strict > over
    # the hid-ascending array keeps the earliest on ties
    def _best(scores_col):
        return F.aggregate(
            F.slice(scores_col, F.lit(2), F.size(scores_col) - 1),
            F.element_at(scores_col, 1),
            lambda acc, e: F.when(e["cos"] > acc["cos"], e).otherwise(acc),
        )

    parts: list[DataFrame] = []
    remaining = scored
    for rnd in range(max(1, int(rounds))):
        # hubs per cell: top n_hubs of THIS round's remaining members by
        # centroid-similarity, deterministic id tie-break — ONE window
        # over the cell key, then one cell-keyed aggregate folds them
        # into an array sorted by hub id (so the argmax tie-break is
        # ordinal, not planner-dependent)
        w = Window.partitionBy("cell").orderBy(F.col("__c_sim").desc(), F.col("vid").asc())
        hubs = (
            remaining.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= n_hubs)
            .groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("vid").alias("hid"),
                            F.col("v").alias("hv"),
                            F.col("nrm").alias("hn"),
                        )
                    )
                ).alias("__hubs")
            )
        )
        # star edges: every remaining member scores EXACTLY against each
        # of its cell's new hubs — the hub table is ≤ n_clusters rows.
        # NO forced broadcast hint (r9): at N=10⁹ the hub table is GBs;
        # AQE broadcasts it while small and falls back to a cell-keyed
        # shuffle join at scale. The per-element cosine is the SAME
        # dot/norm fold the witness re-score uses, so witness edges
        # replay bit-exactly. Runtime HOF folds, never unrolled
        # expressions (the Catalyst-blowup class).
        stage = (
            remaining.join(hubs, "cell")
            .withColumn(
                "__scores",
                F.transform(
                    F.col("__hubs"),
                    lambda h: F.struct(
                        F.round(
                            dot(F.col("v"), h["hv"]) / F.sqrt(F.col("nrm") * h["hn"]),
                            round_digits,
                        ).alias("cos"),
                        h["hid"].alias("hid"),
                    ),
                ),
            )
            .withColumn("__this", _best(F.col("__scores")))
            .withColumn("__is_hub", F.exists(F.col("__hubs"), lambda h: h["hid"] == F.col("vid")))
            .drop("__hubs", "__scores")
        )
        # running best across rounds (survivors carry it; round 0 seeds it)
        if rnd == 0:
            stage = stage.withColumn("__best", F.col("__this"))
        else:
            stage = stage.withColumn(
                "__best",
                F.when(F.col("__this")["cos"] > F.col("__best")["cos"], F.col("__this")).otherwise(
                    F.col("__best")
                ),
            )
        # feeds the resolved split AND the next round's remaining
        stage = stage.drop("__this").localCheckpoint(eager=False)
        # degenerate-cosine guard: a zero-norm vector's cosine is 0/0 —
        # NULL under this engine's non-ANSI division, NaN if a caller's
        # arithmetic produces one. A bare `cos >= threshold` is NULL for
        # the first (the row then fails BOTH the resolved filter and the
        # `remaining` complement and VANISHES — the r10 latent bug) and
        # TRUE for the second under Spark's NaN-greatest ordering (a
        # "duplicate" with an undefined witness). The coalesce+isnan pins
        # both to survivor, keeping the complement exhaustive.
        is_dup = (~F.col("__is_hub")) & F.coalesce(
            (~F.isnan(F.col("__best")["cos"])) & (F.col("__best")["cos"] >= threshold),
            F.lit(False),
        )
        parts.append(
            stage.where(F.col("__is_hub") | is_dup).select(
                F.col("vid").alias(id_col),
                "cell",
                (~is_dup).cast("int").alias("kept"),
                F.when(is_dup, F.col("__best")["hid"]).alias("dup_of"),
                F.when(F.col("__is_hub"), F.lit(1.0))
                .otherwise(F.col("__best")["cos"])
                .alias("cos_to_hub"),
            )
        )
        # exhaustive complement of the resolved split — a degenerate
        # NULL/NaN cosine (a zero-norm vector) stays a survivor rather
        # than vanishing (is_dup is null-safe boolean, see above)
        remaining = stage.where(~(F.col("__is_hub") | is_dup))
    # survivors of the final round: kept, best-across-rounds cosine
    parts.append(
        remaining.select(
            F.col("vid").alias(id_col),
            "cell",
            F.lit(1).cast("int").alias("kept"),
            F.when(F.lit(False), F.col("__best")["hid"]).alias("dup_of"),
            F.col("__best")["cos"].alias("cos_to_hub"),
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
