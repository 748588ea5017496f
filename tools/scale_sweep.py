"""Decade-up scale sweep for the dedup/ANN family (VERDICT r3 #5).

No sf1 fixture ships, so this synthesizes one at TIMING fidelity from
sf0.1: documents/embeddings replicated 10× with per-copy perturbation
(copy-specific token injected into text, hash-derived epsilon added to
vectors) so replicas do NOT form near-duplicate clusters — the candidate-
pair distribution stays realistic instead of exploding quadratically on
artificial duplicates. Other tables are symlinked unchanged.

Usage: python tools/scale_sweep.py [query ...]   (default: the r3 list)
Prints per-query wall times at sf0.1 and synthetic sf1 plus the scaling
exponent  log(t1/t0)/log(10)  — 1.0 = linear, >1.5 flagged.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mlops_pipelines_featurestore_gcp_spark import get_spark, plans
from mlops_pipelines_featurestore_gcp_spark.sources.catalog import TABLE_NAMES

SRC = "/root/testdata/sf0.1"
DST = "/tmp/spark_graft_sf1"
DEFAULT = ["d02_minhash_lsh_neardup", "d03_ngram_jaccard_neardup", "d04_simhash_neardup",
           "d06_exact_substring_spans", "s03_ann_ivf_topk", "d07_semantic_dedup",
           # round 5 additions: keep-best/soft-dedup/cap/contamination +
           # the events-replicated streaming family (its 10x gate run
           # caught the raw-double-sum and HLL-exact-flag scale bugs)
           "d08_keep_best_exact", "t17_soft_dedup_weights", "s07_per_source_cap",
           "t06_contamination_check", "st03_session_window", "st06_continuous_rollup",
           # round 6: the PQ ADC tier (operator-only, like d07 — the
           # registered form carries the 32-query recall verifier)
           "s08_ann_pq_topk",
           # round 7: the linear multimodal keep-best (exponent ~0 —
           # fixed costs dominate; output linear in corpus)
           "mm07_media_keep_best"]
COPIES = 10


def _replicate_keyed(
    spark, table: str, key_offsets: dict[str, str], *, dst: str | None = None, copies_n: int | None = None
) -> None:
    """Write a ``copies_n``× copy of ``table`` with the listed key columns
    offset per copy by (copy × max-of-offset-source): referential integrity
    is preserved when referencing tables offset the SAME source key (e.g.
    l_orderkey and o_orderkey both offset by max o_orderkey + 1)."""
    dst = dst or DST
    copies_n = copies_n or COPIES
    out = os.path.join(dst, f"{table}.parquet")
    if os.path.exists(out):
        return
    df = spark.read.parquet(os.path.join(SRC, f"{table}.parquet"))
    maxes = {
        src: spark.read.parquet(os.path.join(SRC, f"{src.split('.')[0]}.parquet"))
        .agg(F.max(src.split(".")[1]))
        .first()[0]
        + 1
        for src in set(key_offsets.values())
    }
    copies = spark.range(copies_n).select(F.col("id").alias("__copy"))
    cols = [
        (F.col(c) + F.col("__copy") * maxes[key_offsets[c]]).alias(c)
        if c in key_offsets
        else F.col(c)
        for c in df.columns
    ]
    df.crossJoin(F.broadcast(copies)).select(*cols).repartition(32).write.mode(
        "overwrite"
    ).parquet(out)


def _replicate_events_userspace(spark, dst: str, copies_n: int) -> None:
    """Events replicate by USER-SPACE offset: ``copies_n``× users with the
    same per-user temporal pattern, so sessions/windows/funnels/rollups get
    scaled keyed state while event-time density per key stays realistic —
    and per-BUCKET aggregate cardinality grows ``copies_n``×, which is the
    axis that stresses the DECIMAL/order-proof aggregation postures."""
    ev_out = os.path.join(dst, "events.parquet")
    if os.path.exists(ev_out):
        return
    ev = spark.read.parquet(os.path.join(SRC, "events.parquet"))
    n_u = ev.agg(F.max("user_id")).first()[0] + 1
    n_e = ev.agg(F.max("event_id")).first()[0] + 1
    copies = spark.range(copies_n).select(F.col("id").alias("__copy"))
    big = ev.crossJoin(F.broadcast(copies)).select(
        (F.col("event_id") + F.col("__copy") * n_e).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("__copy") * n_u).alias("user_id"),
        *[c for c in ev.columns if c not in ("event_id", "ts", "user_id")],
    )
    big.repartition(32).write.mode("overwrite").parquet(ev_out)


def build_sf1(spark) -> None:
    os.makedirs(DST, exist_ok=True)
    replicated = ("documents", "embeddings", "events", "orders", "lineitem", "customer")
    for t in TABLE_NAMES:
        link = os.path.join(DST, f"{t}.parquet")
        if t in replicated:
            continue
        if not os.path.exists(link):
            os.symlink(os.path.join(SRC, f"{t}.parquet"), link)
    # TPC-H fact side replicates 10× with consistent key offsets (same
    # parts/suppliers/nations — 10× orders is the realistic growth axis);
    # q-family + feature-store queries then gate at 10× like the rest.
    _replicate_keyed(
        spark, "customer", {"c_custkey": "customer.c_custkey"}
    )
    _replicate_keyed(
        spark,
        "orders",
        {"o_orderkey": "orders.o_orderkey", "o_custkey": "customer.c_custkey"},
    )
    _replicate_keyed(
        spark, "lineitem", {"l_orderkey": "orders.o_orderkey"}
    )
    _replicate_events_userspace(spark, DST, COPIES)
    _replicate_documents(spark, DST, COPIES)
    _replicate_embeddings(spark, DST, COPIES)


def _replicate_embeddings(spark, dst: str, copies_n: int) -> None:
    """Write a ``copies_n``x perturbed copy of embeddings into ``dst``:
    deterministic per-(row, copy) epsilon (hash-derived, +-0.2/component).

    MEASURED cross-copy geometry (r8; the bases are unit-norm, component
    std 0.125, so the noise norm is ~0.92): copies of one base land at
    cosine ~0.54 (p5 0.41, p95 0.66). That is the right shape for the
    ANN top-k tiers — each query gains a ~copies_n-member near-neighbor
    family with graded similarity, the realistic duplicate structure a
    production corpus has — but it sits ABOVE the 0.45 pair-dedup
    threshold for ~86% of copy pairs, so the pair-EMITTING embedding
    dedups (d05/d07) have fixture-quadratic output at high copy counts
    (d07 measured 4.4M pairs at 100x, nexp 2.34): the mm04/mm05
    exclusion class, documented where those queries are gated."""
    emb_out = os.path.join(dst, "embeddings.parquet")
    if os.path.exists(emb_out):
        return
    emb = spark.read.parquet(os.path.join(SRC, "embeddings.parquet"))
    n = emb.agg(F.max("vec_id")).first()[0] + 1
    copies = spark.range(copies_n).select(F.col("id").alias("__copy"))
    big = (
        emb.crossJoin(F.broadcast(copies))
        .select(
            (F.col("vec_id") + F.col("__copy") * n).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x, i: (
                    x
                    + (F.pmod(F.hash(F.col("vec_id"), F.col("__copy"), i), F.lit(1000))
                       - 500).cast("float") / 2500.0
                ).cast("float"),
            ).alias("embedding"),
            "label",
        )
    )
    big.repartition(32).write.mode("overwrite").parquet(emb_out)


def _replicate_documents(
    spark, dst: str, copies_n: int, *, mutate: bool = False
) -> None:
    """Write a ``copies_n``× perturbed copy of documents into ``dst``.

    Default perturbation: a copy-specific token at the front and back.
    That is enough for EXACT-dup and fingerprint families, but at high
    copy counts it does NOT break shingle-level similarity — a long
    document's 4-5-token shingle set changes by only ~8 shingles, so all
    ``copies_n`` copies of a base are mutual near-dups under MinHash /
    n-gram Jaccard. Measured at 100×: d02 emitted 26.8M pairs ≈ 5000
    bases × C(100,2) — exactly the Σcopy² bound — and d03's per-pair
    gram intersection OOM'd (r8 ops100 run). Real corpora have bounded
    duplicate multiplicity; 100-copy clusters × every base is fixture
    artifact, not workload.

    ``mutate=True`` (the 100× build) therefore REPLACES 40% of each
    copy's tokens with copy-specific hash tokens. The selection is a
    DETERMINISTIC STRIPE, not an independent draw: 2654435761 ≡ 1
    (mod 5), so the predicate reduces to (i + copy) % 5 < 2 — positions
    mutate in a repeating M M U U U pattern phase-shifted by copy id
    (ADVICE r8 pinned this down). That is fine for the fixture's
    purpose, and in fact STRONGER than an independent 40% draw: every
    word-5-gram window covers ≥2 mutated positions, and the replacement
    token at a mutated position hashes (token, copy, i) — distinct per
    copy — so cross-copy word-5-gram overlap is exactly 0 (an
    independent draw only gets ~0.6¹⁰ ≈ 0.006 survival). Substitution —
    not insertion — is what breaks CHAR-level shingle similarity too:
    an inserted tag only ADDS a few distinct char-5-grams while every
    base gram survives (measured: cross-copy char-shingle Jaccard
    stayed ≈ 0.9 under insertion and d02's candidate join spilled 65 GB
    before dying), whereas replacing a token destroys every char window
    crossing it on both sides; measured cross-copy char-5-gram Jaccard
    ≈ 0.16, below every dedup/LSH band threshold — copies model
    DISTINCT documents; duplicate-cluster workloads are separately
    owned by the dup-family fixtures (d01/d08 exact clusters, mm07's
    %97 buckets). The stripe is kept as-is rather than switched to a
    hash draw because the recorded GATE100/ops100 evidence stands on
    this exact corpus. The 10× build keeps the light perturbation:
    10-copy near-dup families are a REALISTIC pair workload and the
    recorded 10× pair-family evidence (d04 18M pairs etc.) stands on it.
    """
    docs_out = os.path.join(dst, "documents.parquet")
    if os.path.exists(docs_out):
        return
    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    copies = spark.range(copies_n).select(F.col("id").alias("__copy"))
    body = F.col("text")
    if mutate:
        # one-time corpus build: the interpreted transform lambda is fine
        # here (this is fixture construction, not an operator under test)
        body = F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda t, i: F.when(
                    (F.col("__copy") > 0)
                    & (F.pmod(i.cast("long") * 2654435761 + F.col("__copy"), 5) < 2),
                    F.concat(
                        F.lit("w"),
                        F.pmod(F.xxhash64(t, F.col("__copy"), i), F.lit(99991)).cast("string"),
                    ),
                ).otherwise(t),
            ),
            " ",
        )
    big = (
        docs.crossJoin(F.broadcast(copies))
        .select(
            (F.col("doc_id") + F.col("__copy") * n).alias("doc_id"),
            F.when(F.col("__copy") == 0, F.col("text"))
            .otherwise(F.concat(F.format_string("cp%d ", F.col("__copy")),
                                body, F.format_string(" z%dq", F.col("__copy"))))
            .alias("text"),
            *[c for c in docs.columns if c not in ("doc_id", "text")],
        )
    )
    big.repartition(32).write.mode("overwrite").parquet(docs_out)


DST100 = "/tmp/spark_graft_sf10"
COPIES100 = 100

# The 100×-gate query list (VERDICT r5 #7): the cheap documents-only
# families — map-only profiles, one-shuffle dedups/caps, the multimodal
# decode — where another decade of scale is affordable on this box for
# BOTH engines. The three divergence classes the 10× gate caught
# (raw-double reduction order, HLL merge-chain drift, DECIMAL→DOUBLE
# double-rounding past 2⁵³) all had numeric thresholds; a further decade
# probes for the next one. mm04/mm05 are EXCLUDED by design: their
# registered fixtures synthesize %97/%89 duplicate buckets, so the
# near-dup PAIR output is Σ cluster² — ~5.6k copies per bucket at 100×
# ≈ 1.4B pairs, quadratic in duplicate multiplicity no matter how the
# operator is written (the linear-output form of dedup is the keep-set/
# keep-best family, gated at 100× via d01/d08). They gate at 10×
# (~14M pairs) with the rest of the pair-emitting dedups.
GATE100 = [
    "t01_text_profile", "t04_doc_fingerprint",
    "t09_token_vocab", "t10_gopher_quality",
    "t15_importance_resample", "d01_exact_dedup", "d08_keep_best_exact",
    "t17_soft_dedup_weights", "s07_per_source_cap", "t05_chunk_documents",
    "t08_sequence_pack", "mm01_payload_decode",
    # round 7: the LINEAR multimodal dedup form — gateable at 100× because
    # neither its output nor any intermediate is quadratic in duplicate
    # multiplicity (identical signatures collapse before the pair stage)
    "mm07_media_keep_best",
    # mm08 joined the standing list in r9: its fixture's near-dups are
    # DISTINCT bodies (set-signature collapse can't help — tested: 2000
    # videos / 8 distinct → 8-node rep graph), so until r9 the candidate
    # mass was Σ df² over the shared intro frames, quadratic in copies
    # (bucket ~5.6k at 100× ⇒ 89 × C(5.6k,2) ≈ 1.4B rep pairs). The
    # boilerplate cap (max_df=2000, mirrored in the oracle) bounds the
    # candidate stage — inactive at every smaller gate scale (intro df
    # ≤ 562 through 10×), active exactly at 100× where intro frames are
    # boilerplate by any duplicate-multiplicity standard. 500k rows
    # hash-matched in 30.4s.
    "mm08_video_keep_best",
    # round 7 (VERDICT r6 #6): the relational/streaming families at 100×.
    # Every prior decade-up surfaced a numeric-threshold divergence class
    # (HUGEINT widening, raw-double reduction order, DECIMAL→DOUBLE
    # double-rounding past 2⁵³); these six put ~10M-row groups through the
    # DECIMAL accumulation postures, the 6-table join through 60M-row
    # lineitem, RANGE frames / rollup buckets through 100× member counts,
    # and the as-of join through 100× keyed state.
    "q01_pricing_summary", "q05_nation_volume", "q12_rollup_cube",
    "q28_range_frame", "st01_tumbling_window", "f03_asof_spine_join",
    # round 7 additions: both are USER-space linear on events — q37's
    # top-3-per-(user,type) output and st08's per-user attribution pairs
    # grow with users, never quadratically (the interval bound caps pairs
    # per view at the per-user 6-hour purchase density).
    "q37_skew_salted_topk", "st08_interval_join",
    # st09: histogram-sketch quantile rollup — state is 256 ints per
    # (bucket, key) regardless of raw row count; the 100× run puts ~3000-row
    # groups through the integer rank arithmetic and the full bit-exact
    # maintenance-parity compare.
    "st09_quantile_rollup",
    # q38: the one-scan expectations battery — the exact-unique check puts
    # a 15M-key COUNT DISTINCT through both engines; output is always 6 rows.
    "q38_data_expectations",
    # ml06: ranking metrics — per-user output (linear in users), integer
    # micro-gain sums through 100x per-bucket row counts.
    "ml06_ranking_metrics",
    # round 7 session 3: six more relational/behavioral families. q17 puts
    # the DECIMAL conditional/date aggregates through ~6M-row groups; q27
    # grouping-sets over the 60M fact; q32's sketch error bands (HLL/GK)
    # against 100x distinct counts — the approx family's scale probe; the
    # events trio (funnel / sessionize / cohorts) is user-space linear.
    # All six hash-matched on first run (timings in LOCAL_GATE.md);
    # q35 and st03 later moved to GATE100_HEAVY (multi-minute verify
    # side) when the second wave split the list.
    "q17_date_conditional_agg", "q27_grouping_sets", "q32_approx_aggregates",
    "q34_window_funnel", "q36_retention_cohorts",
    # q40: the compaction/clustered-layout maintenance pass — IO-shaped
    # (fragment 48 files -> bin-pack+recluster -> footer-stats disjointness
    # -> monthly rollup off the compacted table), 44.6s at the 60M-row
    # 100x lineitem.
    "q40_clustered_layout",
    # round 7 session 3, second wave: the 100x sweep over every remaining
    # linear-shaped family — relational joins/set-ops/windows/scalar
    # surfaces on the 60M fact, the feature-store family (f02's 748k-row
    # point-in-time read, f04's 4.5M-row melt), the ML family, nested
    # reshapes, BPE/CMS/contamination, c02's 148k-row snapshot diff, the
    # TFRecord round-trip at 500k docs. ALL hash-matched on first run
    # except st07 (a REAL finding — see the derived-band commit) and the
    # documented exclusions below. Cheap ones (<~2 min each) join this
    # standing list; the heavy tail lives in GATE100_HEAVY.
    "q02_filter_project_topk", "q03_shipping_priority",
    "q04_order_priority_semi", "q06_forecast_revenue",
    "q08_outer_join_counts", "q15_set_ops", "q16_scalar_funcs",
    "q20_range_join_latency", "q21_in_and_scalar_subquery",
    "q25_json_and_case", "q29_null_semantics", "q30_ordered_string_agg",
    "q31_bucketed_colocated_join",
    "st02_sliding_window", "st04_stream_dedup", "st06_continuous_rollup",
    "st07_distinct_rollup",
    "f02_point_in_time_read", "f04_feature_import_melt",
    "f05_latest_wide_pivot", "f06_feature_drift",
    "ml01_rating_matrix_pivot", "ml02_reward_lookup_join",
    "ml03_linucb_policy", "ml04_als_trajectories", "ml05_linucb_suffstats",
    "n01_array_build_transform", "n04_explode_roundtrip",
    "n05_depth3_trajectory_shape",
    "t06_contamination_check", "t07_hashed_embeddings", "t12_bpe_subwords",
    "t16_bloom_contamination", "t18_heavy_hitters_cms",
    "s04_training_mix", "s06_leakage_safe_split",
    "c02_corpus_diff", "q39_tfrecord_roundtrip", "mm03_frame_sample",
    # round 8: the LINEAR embedding-dedup form — one hub edge per vector,
    # O(N) output/intermediates where d05/d07's pair forms are
    # fixture-quadratic at the 100x embeddings (200k rows, 23.9s,
    # witness-based contract hashed over the full id set)
    "d10_semantic_keep_star",
    # round 9: PCA rotation/whitening — fit is one constant-width DECIMAL
    # aggregate (2145 partial rows/partition after map-side combine),
    # projection+flags map-side; 200k vectors hash-matched in 125.5s
    # (texp ~0.31 over the 0.1→100x decades)
    "s11_embedding_whitening",
    # round 11: canonical-URL dedup + host downsample — two keyed windows
    # over linear keys (canonical url, host), value-level oracle by
    # independent derivation; 500k rows hash-matched first run.
    "d11_url_host_dedup",
    # round 11 (VERDICT r10 #3): the int8 two-stage tier under a STANDING
    # 100x hash gate — the r10 map-side shortlist rewrite had only
    # timing+contract evidence at 200k vectors. Gateable because the s05
    # contract is the exact_k flag form (no in-query brute-force truth)
    # and its DuckDB side is the constant-flag table over vec_id % 50 —
    # O(|queries|) on the verify side; the Spark side is the one int8
    # matmul per Arrow batch + the shortlist-bounded ranking shuffle.
    "s05_ann_quantized_topk",
    # round 9: trained quality classifier — featurize is the t07
    # aggregate, each GD step one constant-width integer-sum pass over
    # the cached 500k-row feature frame, AUC a 10k-bin histogram; the
    # mutated corpus shifts the label balance to 88% positive and the
    # floors still hold (sampled-training AUC 0.944 measured offline
    # before gating). 500k rows hash-matched in 161.2s.
    "ml07_quality_classifier",
]

# Hash-matched at 100x but too heavy for the per-round standing run —
# re-run on demand; timings + run dates in LOCAL_GATE.md. The cost is
# the VERIFY side (multi-million-row outputs through the pandas
# compare, or a pair-shaped fixture), not the operator.
GATE100_HEAVY = [
    "q09_window_navigation",    # 4.5M-row window output, 229.8s
    "q35_sessionize_stats",     # 9.5M-row session output, 296.7s
    "st03_session_window",      # same 9.5M-row shape, 689.7s
    "d04_simhash_neardup",      # 18M pair rows (pair-emitting form), 324.1s
    "d06_exact_substring_spans",  # 446k span rows, 238.2s
    "t13_bm25_relevance",       # 13.1M (doc,term) tfidf rows, 271.9s
    # d05 at the REAL 100x embeddings (r8; before r8 the 100x corpus
    # symlinked 1x embeddings, so its earlier standing-row ran at 1x):
    # hash-matched, 3.92M pairs in 1660s — the pair mass is the
    # fixture's near-dup families (copies at cosine ~0.54, see
    # _replicate_embeddings), so it is a heavy row, not a standing one.
    "d05_embedding_neardup",    # 3.92M pair rows at 200k vectors, 1660s
    # s03's REGISTERED form (both ANN tiers + the 32-query recall
    # verifiers) joined in r12, after the LSH skinny-dedup fix made it
    # disk-feasible (the wide-dedup plan spilled >77GB and died — the
    # round's scale finding): 8000 contract rows in 1178s. Heavy because
    # the workload shape scales queries x corpus (texp 0.81 documented
    # in SCALING.md); the IVF operator alone stays in ann100.
    "s03_ann_ivf_topk",         # 8000 contract rows at 200k vectors, 1178s
]

# Excluded from 100x BY DESIGN (each documented):
# - c04_hybrid_rerank: the s01 workload-shape class — its recall tier's
#   ORACLE replays every (query, corpus) cosine in unrolled SQL, and the
#   %97 query population is a constant fraction of N, so 100x means
#   ~412M list-transform cosines on the DuckDB side (the q33 class).
#   Gated at 10x (r12: 1035 rows hash-green in 35.6s); the BM25 leg's
#   scale story is t13's (df/tf aggregates, GATE100_HEAVY at 13.1M rows)
#   and the recall tier's is s01's.
# - q33_binned_range_join: the WORKLOAD is quadratic in uniform scale-up —
#   sampled-interval count x100 AND per-interval point density x100 means
#   ~10,000x the joined rows (~300B); both engines would grind identically.
#   The operator's bin plan is the scale story (PLANS.md); gated at 10x.
# - c01_prepare_corpus: its stitched oracle embeds the d02 MinHash-LSH SQL
#   replay — DuckDB's shingle-explode spill exceeded the box's disk at
#   500k docs (the d02/d09 quadratic-verifier-side class). Gated at 10x.
# - d02/d03/d09: quadratic oracle-verifier side (r5/r7 decisions).
# - mm06's mm04 leg: pair-emitting on the %97-bucket fixture (see below).
# - mm05/mm06: pair-emitting multimodal forms (documented since r6; the
#   LINEAR mm07/mm08 keep-best forms are both in the standing list —
#   mm08 since r9 via its boilerplate-frame cap).


def build_sf100(spark) -> None:
    """The 100× corpus at ``DST100``: documents replicated 100× (≈500k
    docs, per-copy perturbed), the TPC-H fact side (customer/orders/
    lineitem) replicated 100× with consistent key offsets (~60M-row
    lineitem), events replicated 100× in user space, embeddings
    replicated 100× with per-copy epsilon (~200k vectors — the ANN decade
    gate, r8); part/supplier/nation/region symlink to sf0.1 (dimensions
    don't grow with the fact side). Gate with
    ``python tools/verify_local.py /tmp/spark_graft_sf10 <GATE100>``.
    """
    os.makedirs(DST100, exist_ok=True)
    replicated = ("documents", "customer", "orders", "lineitem", "events",
                  "embeddings")
    for t in TABLE_NAMES:
        link = os.path.join(DST100, f"{t}.parquet")
        if t in replicated:
            # r6 builds symlinked the fact side — drop the stale link so
            # the replicated write isn't skipped by the exists check
            if os.path.islink(link):
                os.remove(link)
        elif not os.path.exists(link):
            os.symlink(os.path.join(SRC, f"{t}.parquet"), link)
    _replicate_documents(spark, DST100, COPIES100, mutate=True)
    _replicate_keyed(
        spark, "customer", {"c_custkey": "customer.c_custkey"},
        dst=DST100, copies_n=COPIES100,
    )
    _replicate_keyed(
        spark,
        "orders",
        {"o_orderkey": "orders.o_orderkey", "o_custkey": "customer.c_custkey"},
        dst=DST100, copies_n=COPIES100,
    )
    _replicate_keyed(
        spark, "lineitem", {"l_orderkey": "orders.o_orderkey"},
        dst=DST100, copies_n=COPIES100,
    )
    _replicate_events_userspace(spark, DST100, COPIES100)
    _replicate_embeddings(spark, DST100, COPIES100)


def _materialize(df) -> int:
    """Full materialization without driver transfer (bench.py's trick):
    hash-aggregate over every output column — collect() would add
    driver-side row shipping to the timing and can OOM on pair-heavy
    outputs at the synthetic 10× scale. Returns the output row count."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.hash(*df.columns).cast("long"))
    ).collect()[0]
    return row["n"]


def _swept_df(name: str, spark, sf_dir: str):
    """The OPERATOR under sweep. d07's registered query now wraps the
    operator in an O(N²) exact-baseline verification contract — sweeping
    that would measure the verifier, so d07 sweeps the operator directly."""
    if name == "d07_semantic_dedup":
        from mlops_pipelines_featurestore_gcp_spark.operators import similarity

        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        return similarity.semantic_dedup_pairs(emb, threshold=0.45)
    if name == "s08_ann_pq_topk":
        from mlops_pipelines_featurestore_gcp_spark.plans import llm_data

        return llm_data.s08_operator_parts(spark, sf_dir)[2]
    if name == "s03_ann_ivf_topk":
        # the registered query is the MERGED two-tier contract form since
        # r7 s3 (ivf+lsh, two recall verifiers) — sweep the IVF operator
        from mlops_pipelines_featurestore_gcp_spark.plans import llm_data

        return llm_data.s03_operator_parts(spark, sf_dir)[2]
    return plans.QUERIES[name].fn(spark, sf_dir)


def time_query(spark, name: str, sf_dir: str, runs: int = 2) -> float:
    best = math.inf
    for _ in range(runs):
        t0 = time.time()
        _materialize(_swept_df(name, spark, sf_dir))
        best = min(best, time.time() - t0)
    return best


# Operator-only 100× evidence (VERDICT r7 #7): these four are excluded
# from GATE100 because their ORACLES are quadratic (DuckDB shingle-
# explode replays), not the operators — so the decade evidence here is
# the Spark side alone: wall time AND output cardinality at sf0.1 vs the
# 100× corpus, with the growth exponent log(ratio)/log(100) per row
# (1.0 = linear). Output-cardinality exponents near 1.0 demonstrate the
# linear-output property directly (the pair stages stay inside the
# max_df-capped Σdf² bound); results land in LOCAL_GATE.md's appendix.
OPS100 = [
    "d02_minhash_lsh_neardup",
    "d03_ngram_jaccard_neardup",
    "d09_incremental_dedup",
    "c01_prepare_corpus",
]

# The ANN ladder's 100× decade evidence (VERDICT r7 #4), operator-only
# for the same reason as OPS100: every tier's ORACLE-side exact replay
# is quadratic at 100× BY WORKLOAD SHAPE — the registered query
# population is `vec_id % 50 = 0`, a FRACTION of N, so queries ×100 and
# corpus ×100 mean 10,000× the scored pairs on the DuckDB side (s01
# alone is 800M unrolled-SQL cosines; the q33 class). The Spark side
# batches all queries through one BLAS/probe pass and stays tractable —
# which is exactly the measurement: per-tier wall at 2000 vs 200k
# vectors, with contract verifiers (32-query absolute samples) riding
# along where the registered form carries them. The exponent column
# shows which tier breaks first as both axes grow.
ANN100 = [
    "s01_ann_bruteforce_topk",
    "s03_ann_ivf_topk",
    "s05_ann_quantized_topk",
    "s08_ann_pq_topk",
    "s09_ann_ivfpq_topk",
    "s10_ann_ivfpq_persisted",
    "d07_semantic_dedup",
]


def ops100(names: list[str]) -> int:
    spark = get_spark("scale-sweep-ops100")
    spark.sparkContext.setLogLevel("ERROR")
    build_sf100(spark)
    print(f"{'query':30s} {'t@0.1':>8s} {'t@100x':>9s} {'texp':>5s} "
          f"{'rows@0.1':>9s} {'rows@100x':>10s} {'nexp':>5s}")
    worst = 0.0
    for name in names:
        t0 = time.time()
        n0 = _materialize(_swept_df(name, spark, SRC))
        w0 = time.time() - t0
        t1 = time.time()
        n1 = _materialize(_swept_df(name, spark, DST100))
        w1 = time.time() - t1
        texp = math.log(max(w1 / w0, 1e-9)) / math.log(COPIES100)
        nexp = math.log(max(n1 / max(n0, 1), 1e-9)) / math.log(COPIES100)
        worst = max(worst, texp)
        print(f"{name:30s} {w0:8.1f} {w1:9.1f} {texp:5.2f} "
              f"{n0:9d} {n1:10d} {nexp:5.2f}")
    print(f"\nworst time exponent: {worst:.2f} (1.0 = linear over 2 decades)")
    return 0


def main() -> int:
    if sys.argv[1:2] == ["ops100"]:
        return ops100(sys.argv[2:] or OPS100)
    if sys.argv[1:2] == ["ann100"]:
        return ops100(sys.argv[2:] or ANN100)
    if sys.argv[1:2] == ["build100"]:
        spark = get_spark("scale-sweep")
        build_sf100(spark)
        print(f"100x corpus ready at {DST100}; gate queries: {' '.join(GATE100)}")
        return 0
    names = sys.argv[1:] or DEFAULT
    spark = get_spark("scale-sweep")
    build_sf1(spark)
    worst = 0.0
    print(f"{'query':34s} {'sf0.1':>8s} {'sf1*':>8s} {'ratio':>7s} {'exp':>5s}")
    for name in names:
        t0 = time_query(spark, name, SRC)
        t1 = time_query(spark, name, DST)
        ratio = t1 / t0
        exp = math.log(ratio) / math.log(COPIES)
        worst = max(worst, exp)
        flag = "  <-- superlinear" if exp > 1.5 else ""
        print(f"{name:34s} {t0:8.2f} {t1:8.2f} {ratio:6.1f}x {exp:5.2f}{flag}")
    print(f"\nworst exponent: {worst:.2f} (1.0 = linear; sweep target < 1.5)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
