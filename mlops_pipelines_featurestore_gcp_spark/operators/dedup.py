"""Deduplication operators for large text corpora.

Four escalating strategies, all shuffle-conscious and driver-collect-free:

- **exact** — md5 fingerprint of normalized text, one hash-groupBy. The
  100 TB workhorse: one shuffle on a high-entropy key, no skew.
- **MinHash + LSH** — shingle → N seeded min-hashes → band keys → bucket
  self-join → exact-Jaccard verify of candidates only. Near-dup detection
  whose cost scales with Σ bucket² instead of n².
- **SimHash** — 60-bit signature whose chunks serve as LSH blocks; hamming
  distance verify. Cheaper signatures than MinHash, coarser recall.
- **n-gram Jaccard** — inverted-index join on word n-grams with exact
  Jaccard; the no-approximation baseline for small/medium corpora.

Every step is md5-based and deterministic so the DuckDB oracle can replay
the identical pipeline (see plans/llm_data.py for the SQL twins).

The reference repo has no dedup at all — its Pub/Sub→BigQuery append path is
at-least-once and silently duplicates training rows (``logger/main.py:
107-150``); these operators are the engine-level fix plus the LLM-corpus
surface the north star requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.functions.text import (
    md5_long,
    normalize,
    poly_char_hash,
    tokens,
)


# Universal-hash family for MinHash: h_i(x) = (a_i·md5_32(x) + b_i) mod p.
# One md5 per shingle (the expensive part), then num_hashes cheap integer
# mixes — vs num_hashes md5 evaluations per shingle. Constants are fixed,
# md5-derived, and embedded as literals in both the Spark plan and the
# DuckDB oracle SQL.
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne)


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    import hashlib

    out = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"minhash-a-{i}".encode()).hexdigest()[:8], 16) % (MINHASH_PRIME - 1) + 1
        b = int(hashlib.md5(f"minhash-b-{i}".encode()).hexdigest()[:8], 16) % MINHASH_PRIME
        out.append((a, b))
    return out


def _spread(df: DataFrame) -> DataFrame:
    """Rebalance a small-file source across all cores before hash-heavy
    per-row work. Fixture tables arrive as one parquet file → one input
    partition → single-core execution; a round-robin repartition to the
    cluster's default parallelism costs one tiny shuffle and recovers full
    parallelism. Two guards keep it a no-op where it should be:

    - the logical plan already contains a Repartition (e.g. ``load_table``
      rebalanced the scan): skip — a second exchange would be pure waste.
      This is a string check on the LOGICAL plan, costing microseconds.
    - otherwise probe the partition count; inputs with enough splits (any
      real 100 TB scan) pass through untouched. The ``.rdd`` probe is only
      paid on plans with no Repartition, where it is cheap (~10ms on a
      bare scan vs ~170ms on a already-repartitioned plan)."""
    if "Repartition" in df._jdf.queryExecution().logical().toString():
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def gram_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """All word n-grams of normalized text → (id, gram) rows, codegen only.

    The positional-explode pattern: explode start positions, render each
    gram with ``slice`` + ``concat_ws`` — whole-stage codegen end to end,
    unlike a ``transform`` lambda (CodegenFallback, profiled 4-5× slower on
    corpus passes). Positional: within-document duplicate grams survive;
    callers that need set semantics follow with ``.distinct()`` (map-side
    combine collapses the per-doc duplicates before the exchange) or a
    distinct-aggregate. Documents with fewer than ``n`` tokens yield no rows.
    """
    toks = tokens(normalize(F.col(text_col)))
    starts = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return (
        _spread(df)
        .select(F.col(id_col), toks.alias("__toks"), F.explode(starts).alias("__i"))
        .select(
            F.col(id_col),
            F.concat_ws(" ", F.slice(F.col("__toks"), F.col("__i"), n)).alias("gram"),
        )
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Add a ``fp`` column: md5 of the normalized text."""
    return df.select(F.col(id_col), F.md5(normalize(F.col(text_col))).alias("fp"))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical (normalized) texts → (fp, n_docs, canonical_id).

    canonical_id is the smallest id in the group — the row a dedup pass
    would keep. One shuffle on the fingerprint.
    """
    return (
        fingerprint(df, id_col, text_col)
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("canonical_id"))
    )


def exact_dedup_keep_best(
    df: DataFrame, id_col: str, text_col: str, quality: Column | None = None
) -> DataFrame:
    """Quality-aware exact dedup: one surviving row per duplicate cluster,
    the HIGHEST-``quality`` copy (ties to the smallest id).

    Real pipelines keep the best copy of a duplicated document, not an
    arbitrary one — near-identical mirrors differ in truncation, mojibake
    and boilerplate, and ``exact_dedup``'s min-id canonical throws that
    signal away. ``quality`` defaults to the composite heuristic score
    (:func:`..text_analysis.composite_quality`); any row-local Column
    works (e.g. a model-based score column).

    One shuffle on the md5 fingerprint (fp + quality are map-side
    projections; the rank is a window over fp — per-cluster row counts
    are the duplicate multiplicities, so skew is bounded by the most-
    duplicated document, same profile as the groupBy in
    :func:`exact_dedup`).

    Returns (id, fp, n_docs, quality) for kept docs only; unique docs
    pass through with ``n_docs = 1``.
    """
    from mlops_pipelines_featurestore_gcp_spark.operators.text_analysis import composite_quality

    if quality is None:
        quality = composite_quality(F.col(text_col))
    scored = _spread(df).select(
        F.col(id_col),
        F.md5(normalize(F.col(text_col))).alias("fp"),
        quality.alias("quality"),
    )
    wf = Window.partitionBy("fp")
    ranked = scored.select(
        id_col,
        "fp",
        "quality",
        F.count("*").over(wf).cast("long").alias("n_docs"),
        F.row_number()
        .over(wf.orderBy(F.col("quality").desc(), F.col(id_col).asc()))
        .alias("__rn"),
    )
    return ranked.where(F.col("__rn") == 1).select(id_col, "fp", "n_docs", "quality")


def soft_dedup_weights(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """CCNet-style soft dedup: every doc gets weight 1/cluster_size over
    its exact-duplicate cluster instead of being dropped.

    Down-weighting preserves distributional mass for loss re-weighting or
    weighted sampling while still neutralizing duplication (a doc repeated
    1000× contributes one document's worth of expected tokens). One
    shuffle on the fingerprint; the weight is a 1/int double division —
    bit-exact across engines.

    Returns (id, cluster_size, weight).
    """
    fp = fingerprint(_spread(df), id_col, text_col)
    n = F.count("*").over(Window.partitionBy("fp")).cast("long")
    return fp.select(
        F.col(id_col),
        n.alias("cluster_size"),
        (F.lit(1.0) / n).alias("weight"),
    )


def minhash_doc_hashes(
    df: DataFrame, id_col: str, text_col: str, *, k: int = 5, num_hashes: int = 16
) -> DataFrame:
    """Per-doc distinct shingle-hash set + MinHash signature, one shuffle.

    Returns ``(id, __hs array<long>, __m0..__m{num_hashes-1})``.

    Docs shorter than ``k`` produce zero shingles → an all-null signature →
    ONE shared band key for every such doc downstream. Harmless at fixture
    scale, but at corpus scale that single bucket is a quadratic candidate
    blowup — and such docs can never reach a verified output (no shingles →
    no shared shingles), so they are dropped before signing.

    The shingle hashes are computed via explode + ``poly_char_hash`` — plain
    projections that stay inside WHOLE-STAGE CODEGEN (the same fold as a
    higher-order ``transform`` lambda runs ~5× slower because Spark HOFs
    are CodegenFallback). ONE partial-combined aggregation then produces
    BOTH the verify-side distinct hash set and all signature minima (min
    over the multiset == min over the set): codegen min() aggregates, one
    shuffle of one row per doc, no second pass over the hash arrays.

    The result is lazily ``localCheckpoint``-ed (not ``cache()``): blocks
    are GC-reclaimed with the DataFrame instead of pinning storage until an
    explicit unpersist (repeated operator calls in a long session would
    accumulate).
    """
    nt = normalize(F.col(text_col))
    pos = (
        _spread(df)
        .select(F.col(id_col), nt.alias("__nt"))
        .where(F.length("__nt") >= k)
        .select(
            F.col(id_col),
            "__nt",
            F.explode(F.sequence(F.lit(1), F.length("__nt") - (k - 1))).alias("__i"),
        )
    )
    sh = pos.select(
        F.col(id_col),
        poly_char_hash(F.col("__nt"), F.col("__i"), k, MINHASH_PRIME).alias("h"),
    )
    coeffs = minhash_coeffs(num_hashes)
    return (
        sh.groupBy(id_col)
        .agg(
            F.collect_set("h").alias("__hs"),
            *[
                F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_PRIME).alias(f"__m{i}")
                for i, (a, b) in enumerate(coeffs)
            ],
        )
        .localCheckpoint(eager=False)
    )


def band_key_rows(sigs: DataFrame, id_col: str, *, num_hashes: int, bands: int) -> DataFrame:
    """Banded LSH keys from a signature table → ``(id, band, bkey)`` rows.

    band key = md5 of the comma-joined signature slice, identical string
    construction to the DuckDB oracle's ``string_agg(... ORDER BY hi)``.
    Row-local projection — callers join/self-join on (band, bkey).
    """
    rows_per_band = num_hashes // bands
    bkeys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"__m{b * rows_per_band + j}").cast("string")
                            for j in range(rows_per_band)
                        ],
                    )
                ).alias("bkey"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select(F.col(id_col), F.explode(bkeys).alias("x")).select(id_col, "x.band", "x.bkey")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH + exact-Jaccard verify.

    Plan shape (all distributed, signature pass fully inside codegen):
      1. explode shingle positions → polynomial char hash — narrow, codegen
      2. num_hashes min() aggregates (universal-hash mixes) — map-side
         partial combine, so the shuffle is ONE row per doc: the shingle
         explode never crosses an exchange
      3. band keys = md5 of rows-per-band slices   — narrow (docs × bands)
      4. self-join on (band, band_key)             — shuffle on bucket key
      5. exact Jaccard of candidate docs only via the inverted index

    The shingle hash is a polynomial char-code fold (functions/text.py
    ``poly_char_hash``), not md5: the md5-per-shingle pass (HOF transform,
    interpreted) was profiled at ~10s/1.4M shingles at sf0.1; the integer
    fold does the same work inside whole-stage codegen. MinHash needs no
    per-doc distinct (min over a multiset == min over its set), and Jaccard
    is computed over distinct hash values on both engines, so results stay
    bit-equal with the oracle.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard ≥ threshold.
    Jaccard is an int/int division — bit-exact across engines.
    """
    doc_hashes = minhash_doc_hashes(df, id_col, text_col, k=k, num_hashes=num_hashes)
    band_keys = band_key_rows(doc_hashes, id_col, num_hashes=num_hashes, bands=bands)

    a = band_keys.select(F.col(id_col).alias("doc_a"), "band", "bkey")
    b = band_keys.select(F.col(id_col).alias("doc_b"), "band", "bkey")
    cand = (
        a.join(b, ["band", "bkey"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    # Exact-Jaccard verify, row-local per pair: inner-join the pair table to
    # the cached per-doc hash sets on each side (the join itself prunes
    # doc_hashes to candidate docs), then array_intersect. No inverted-index
    # explode, no re-shingling, and the only data moved is the candidate
    # pairs plus their two hash sets.
    ha = doc_hashes.select(F.col(id_col).alias("doc_a"), F.col("__hs").alias("__ha"))
    hb = doc_hashes.select(F.col(id_col).alias("doc_b"), F.col("__hs").alias("__hb"))
    paired = cand.join(ha, "doc_a").join(hb, "doc_b")
    ni = F.size(F.array_intersect("__ha", "__hb"))
    na, nb = F.size("__ha"), F.size("__hb")
    return (
        paired.withColumn("jaccard", ni / (na + nb - ni))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard via inverted-index join.

    Candidates = pairs sharing ≥1 n-gram; cost is Σ df(g)² over grams, which
    is fine when grams are discriminative — but ONE hot gram (a boilerplate
    phrase in a million docs) makes its bucket quadratic. ``max_df`` is the
    standard cap: grams appearing in more than ``max_df`` docs are dropped
    from the CANDIDATE index only, and surviving candidate pairs are then
    re-verified with the full exact Jaccard (60-bit gram-hash sets,
    ``array_intersect``), so every reported score is still exact. The
    documented trade: a pair whose shared grams are ALL hot is missed —
    precisely the boilerplate-only overlap a near-dup pass should ignore.
    ``max_df=None`` (default) keeps the fully exact one-join plan.

    BOTH paths index on ``md5_long(gram, 60)`` rather than the gram string:
    the inverted-index self-join and the distinct shuffle carry 8-byte long
    keys instead of ~40-byte 3-word strings — the same ~5× key-width win as
    t06's contamination grams (round 5). Set semantics apply AFTER hashing
    (two grams colliding into one 60-bit value count once), and the SQL
    oracle replays the identical fold, so both engines see the same sets
    bit-for-bit; at 2⁶⁰ the per-corpus collision odds are ~n²/2⁶¹
    (≈10⁻⁷ even at 10⁸ grams per doc-pair universe).
    """
    hashed = (
        gram_rows(df, id_col, text_col, n)
        .select(F.col(id_col), md5_long(F.col("gram"), bits=60).alias("h"))
        .distinct()
    )
    return key_jaccard_pairs(hashed, id_col, threshold=threshold, max_df=max_df)


def key_jaccard_pairs(
    hashed: DataFrame,
    id_col: str,
    *,
    key_col: str = "h",
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact set-Jaccard pairs over ANY (id, key) element table — the
    inverted-index machinery of :func:`ngram_jaccard_pairs` factored out
    so non-text element sets (video frame fingerprints, any feature-set
    column) reuse it. ``hashed`` must already be DISTINCT on
    (id, key) — set semantics are the caller's hashing contract.
    ``max_df`` is the hot-key candidate cap (see ngram_jaccard_pairs);
    surviving pairs are always rescored exactly.

    The element table feeds THREE consumers (the candidate self-join —
    whose two sides Spark does reuse — plus each side of the size join),
    and without materialization Catalyst replays the caller's
    explode+hash+distinct lineage once per consumer: the round-6 plan
    audit showed d03/mm06 running their corpus explode three times. The
    lazy checkpoint runs it once; at scale that trades executor storage
    the distinct shuffle already paid for against two full corpus
    re-scans (the capped path has always made the same call for its
    ``doc_sets``)."""
    if key_col != "h":
        hashed = hashed.withColumnRenamed(key_col, "h")
    hashed = hashed.localCheckpoint(eager=False)
    if max_df is None:
        a = hashed.select(F.col(id_col).alias("doc_a"), "h")
        b = hashed.select(F.col(id_col).alias("doc_b"), "h")
        cand = (
            a.join(b, "h")
            .where(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("ni"))
        )
        sizes = hashed.groupBy(id_col).agg(F.count("*").alias("n"))
        na = sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("n", "na")
        nb = sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("n", "nb")
        return (
            cand.join(na, "doc_a")
            .join(nb, "doc_b")
            .withColumn("jaccard", F.col("ni") / (F.col("na") + F.col("nb") - F.col("ni")))
            .where(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
        )
    # capped path: per-doc distinct key sets once (one partial-combined
    # shuffle, the minhash_lsh_pairs shape), candidates only from cool keys
    doc_sets = hashed.groupBy(id_col).agg(F.collect_set("h").alias("__hs")).localCheckpoint(eager=False)
    cool = hashed.groupBy("h").agg(F.countDistinct(id_col).alias("__df")).where(F.col("__df") <= max_df)
    index = hashed.join(cool.select("h"), "h")
    a = index.select(F.col(id_col).alias("doc_a"), "h")
    b = index.select(F.col(id_col).alias("doc_b"), "h")
    cand = a.join(b, "h").where(F.col("doc_a") < F.col("doc_b")).select("doc_a", "doc_b").distinct()
    ha = doc_sets.select(F.col(id_col).alias("doc_a"), F.col("__hs").alias("__ha"))
    hb = doc_sets.select(F.col(id_col).alias("doc_b"), F.col("__hs").alias("__hb"))
    ni = F.size(F.array_intersect("__ha", "__hb"))
    na_, nb_ = F.size("__ha"), F.size("__hb")
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .withColumn("jaccard", ni / (na_ + nb_ - ni))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, *, k: int = 5, bits: int = 60
) -> DataFrame:
    """60-bit SimHash over distinct k-char shingles → (id, simhash).

    Bit j of the signature is the sign of Σ_shingles (±1 by bit j of the
    shingle hash): set iff 2·(count of shingles with bit j set) > n.

    Plan shape — codegen end to end (the previous form held a row-local
    hash ARRAY and folded it with 60 ``aggregate`` lambdas + a
    ``transform`` md5 per shingle; Spark HOFs are CodegenFallback, so the
    entire signature ran interpreted):

      1. explode shingle positions → ``md5_long(substr(nt, i, k))`` —
         narrow, codegen (md5/conv are ordinary expressions, unlike a
         lambda-wrapped md5)
      2. groupBy(id, hash) — the distinct-shingle set; map-side combine
         collapses within-doc repeats before the exchange
      3. groupBy(id): count + ``bits`` conditional bit-sums in ONE
         partial-combined aggregate → one row per doc crosses the wire

    Both shuffles move ≈ the distinct (doc, shingle-hash) pairs — the same
    bytes the row-local form kept in its array, now compiled instead of
    interpreted.

    Docs shorter than k shingle to nothing → signature 0 for ALL of them →
    one shared hamming-0 block (quadratic blowup) that the SQL twin never
    even sees (zero shingle rows drops the doc there). Same guard as
    minhash_lsh_pairs: sub-k docs can never share a shingle, so drop them.
    """
    pos = (
        _spread(df)
        .withColumn("__nt", normalize(F.col(text_col)))
        .where(F.length("__nt") >= k)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(1), F.length("__nt") - (k - 1))).alias("__i"),
            "__nt",
        )
    )
    hashed = pos.select(
        F.col(id_col),
        md5_long(F.col("__nt").substr(F.col("__i"), F.lit(k)), bits=bits).alias("__h"),
    ).distinct()  # distinct (doc, shingle-hash) pairs
    bit_sums = hashed.groupBy(id_col).agg(
        F.count("*").alias("__n"),
        *[
            F.sum(F.shiftright(F.col("__h"), j).bitwiseAND(F.lit(1))).alias(f"__c{j}")
            for j in range(bits)
        ],
    )
    sim = sum(
        F.when(F.col(f"__c{j}") * 2 > F.col("__n"), F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for j in range(bits)
    )
    return bit_sums.select(F.col(id_col), sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    bits: int = 60,
    chunks: int = 4,
    max_hamming: int = 8,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on signature chunks, verify hamming.

    Pigeonhole: hamming < chunks guarantees a shared chunk; pairs with
    hamming in [chunks, max_hamming] are found only if they happen to share
    one — the documented LSH recall trade-off, identical in the oracle.
    Returns (doc_a, doc_b, hamming).
    """
    sig = simhash_signatures(df, id_col, text_col, k=k, bits=bits)
    pairs = hamming_blocked_pairs(
        sig, id_col, "simhash", bits=bits, chunks=chunks, max_hamming=max_hamming
    )
    return pairs.withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")


def window_hash_rows(df: DataFrame, id_col: str, text_col: str, *, window: int) -> DataFrame:
    """Positional token-window hashes: (id, pos, whash) for every
    ``window``-token window of the normalized text (stride 1, 1-based pos).

    Same codegen positional-explode pattern as :func:`gram_rows`, keeping
    the position column so span reconstruction is possible. The hash is the
    60-bit md5 prefix of the window text — long keys shuffle 4× lighter
    than the 32-char hex digest, and 60 bits keeps the expected collision
    count ≪ 1 up to ~10⁹ windows per corpus (birthday bound n²/2⁶¹); any
    residual collision is replayed identically by the oracle.
    """
    toks = tokens(normalize(F.col(text_col)))
    starts = F.when(
        F.size(toks) >= window, F.sequence(F.lit(1), F.size(toks) - (window - 1))
    ).otherwise(F.array().cast("array<int>"))
    return (
        _spread(df)
        .select(F.col(id_col), toks.alias("__toks"), F.explode(starts).alias("pos"))
        .select(
            F.col(id_col),
            F.col("pos").cast("long").alias("pos"),
            md5_long(
                F.concat_ws(" ", F.slice(F.col("__toks"), F.col("pos"), window)), bits=60
            ).alias("whash"),
        )
    )


def exact_substring_spans(
    df: DataFrame, id_col: str, text_col: str, *, window: int = 20
) -> DataFrame:
    """Cross-document duplicated SPANS: maximal token ranges whose every
    ``window``-token window also appears in at least one other document.

    The relational formulation of exact-substring training-data dedup
    (suffix-array ExactSubstr from the published "Deduplicating Training
    Data Makes Language Models Better" line of work, re-expressed as a
    distributed plan): exact/MinHash dedup drop whole documents, but the
    common 100 TB contaminant is a shared boilerplate PASSAGE inside
    otherwise-distinct documents — license headers, navigation chrome,
    quoted templates. This finds the passage, not just the pair.

    Plan shape (all keyed shuffles, no all-pairs anything):

    1. window hashes, map-side (:func:`window_hash_rows`) — ONE corpus
       scan/tokenize/md5 pass;
    2. "seen in ≥2 distinct docs" as min(id)/max(id) OVER (PARTITION BY
       whash) on that same pass — one shuffle on the hash, then a filter.
       (Round 4 shape was groupBy(whash) + join back, which scanned and
       hashed the corpus twice and broadcast the dup-hash set; at 100 TB
       the dup set — every boilerplate window — is exactly the side that
       outgrows a broadcast, and WindowExec's spillable per-group buffer
       handles hot hashes that a collect_list row could not.)
    3. adjacent flagged positions merge into maximal spans via the
       pos − row_number() island trick — one window pass partitioned by
       document (per-doc row counts are bounded by document length, so the
       partition-by-doc window has no skew beyond the longest document).

    Within-document repeats (the same window twice in ONE doc) do not flag
    a span — the operator targets cross-document duplication; d03/t01's
    repetition metrics cover self-repetition.

    Returns (id, span_start, span_end, span_tokens, n_windows): 1-based
    inclusive token positions in the normalized token sequence.
    """
    w = window_hash_rows(df, id_col, text_col, window=window)
    # "seen in ≥2 distinct docs" ⇔ min(id) ≠ max(id) over the hash
    # partition: both extrema come out of ONE WindowExec over one shuffle
    # of the single window-hash pass (min/max, not count_distinct, whose
    # planner rewrite adds a second aggregation level for the same answer)
    ww = Window.partitionBy("whash")
    hits = (
        w.select(
            F.col(id_col),
            "pos",
            F.min(F.col(id_col)).over(ww).alias("__lo"),
            F.max(F.col(id_col)).over(ww).alias("__hi"),
        )
        .where(F.col("__lo") != F.col("__hi"))
        .select(id_col, "pos")
    )
    island = F.col("pos") - F.row_number().over(
        Window.partitionBy(id_col).orderBy("pos")
    )
    return (
        hits.withColumn("__grp", island)
        .groupBy(id_col, "__grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(window - 1)).alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_windows",
        )
    )


def hamming_blocked_pairs(
    sig: DataFrame,
    id_col: str,
    hash_col: str,
    *,
    bits: int = 60,
    chunks: int = 4,
    max_hamming: int = 8,
) -> DataFrame:
    """Near-dup pairs over ANY per-row bit signature — the chunk-blocking
    half of :func:`simhash_pairs` factored out so non-text signatures
    (perceptual image hashes, audio fingerprints) reuse it.

    Pigeonhole: hamming < ``chunks`` guarantees a shared chunk; pairs in
    [chunks, max_hamming] surface only when a chunk happens to agree — the
    standard LSH recall trade. One equi shuffle on (chunk, key); candidates
    verified by exact popcount. Returns (id_a, id_b, hamming).
    """
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    chunked = sig.select(
        F.col(id_col),
        F.col(hash_col).alias("__h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("c"),
                        F.shiftright(F.col(hash_col), c * chunk_bits).bitwiseAND(F.lit(mask)).alias("ck"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("x"),
    ).select(id_col, "__h", "x.c", "x.ck")
    a = chunked.select(F.col(id_col).alias("id_a"), F.col("__h").alias("ha"), "c", "ck")
    b = chunked.select(F.col(id_col).alias("id_b"), F.col("__h").alias("hb"), "c", "ck")
    return (
        a.join(b, ["c", "ck"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def keep_best_by_signature(
    sig: DataFrame,
    id_col: str,
    hash_col: str,
    quality_df: DataFrame,
    quality_col: str,
    *,
    bits: int = 60,
    chunks: int = 4,
    max_hamming: int = 0,
) -> DataFrame:
    """LINEAR-OUTPUT near-dup dedup over a bit-signature column: one row
    per input id — ``(id, quality, cluster_size, kept)`` — never a pair
    table (VERDICT r6 #2: the pair form is Σ cluster² in duplicate
    multiplicity; a dup-heavy crawl explodes it no matter how the pair
    operator is written).

    Scale architecture (why this stays O(N) at any duplicate multiplicity):

    1. Identical signatures collapse FIRST (``distinct`` on the hash) —
       the dominant duplicate mass of a crawl (byte-identical re-uploads)
       never reaches any pairwise stage.
    2. :func:`hamming_blocked_pairs` then runs over DISTINCT signatures
       only, so candidate cost is Σ chunk-bucket² of the deduplicated
       signature table, not of the corpus. At ``max_hamming=0`` this
       stage emits zero pairs by construction (distinct values are never
       at hamming 0) and the whole operator is one signature groupBy.
    3. ``connected_components`` (O(log diameter) label propagation) labels
       the signature graph; every doc inherits its signature's component
       via one keyed join — a signature absent from the graph is its own
       component (coalesce), which keeps exact-dup clusters intact.
    4. Keep-best: one rank window per component over ``quality_col``
       (desc, NULLS LAST, ties to smallest id) — the
       ``components.dedup_keep_best_set`` policy, fused with the
       cluster-size count on the same window shuffle.

    ``quality_df`` is any (id, quality) frame — resolution/bitrate
    metadata, a model score, or a deterministic stand-in. Equivalence to
    the pair-graph path (``dedup_keep_best_set`` over the full pair
    table) is asserted in tests/test_multimodal.py.
    """
    from mlops_pipelines_featurestore_gcp_spark.operators.components import connected_components

    sid = sig.select(F.col(id_col), F.col(hash_col).alias("__sig"))
    distinct_sigs = sid.select("__sig").distinct()
    pairs = hamming_blocked_pairs(
        distinct_sigs.select(F.col("__sig").alias("__sid"), "__sig"),
        "__sid",
        "__sig",
        bits=bits,
        chunks=chunks,
        max_hamming=max_hamming,
    )
    if max_hamming > 0:
        comp = connected_components(pairs, src="id_a", dst="id_b")
        labeled = sid.join(
            comp.withColumnRenamed("node", "__sig"), "__sig", "left"
        ).select(
            F.col(id_col), F.coalesce(F.col("component"), F.col("__sig")).alias("__comp")
        )
    else:
        # hamming 0 between DISTINCT signatures is impossible — skip the
        # (empty) graph entirely; the component IS the signature
        labeled = sid.select(F.col(id_col), F.col("__sig").alias("__comp"))
    scored = labeled.join(
        quality_df.select(F.col(id_col), F.col(quality_col)), id_col, "left"
    )
    wc = Window.partitionBy("__comp")
    wr = Window.partitionBy("__comp").orderBy(
        F.col(quality_col).desc_nulls_last(), F.col(id_col).asc()
    )
    return scored.select(
        F.col(id_col),
        F.col(quality_col),
        F.count("*").over(wc).cast("long").alias("cluster_size"),
        (F.row_number().over(wr) == 1).cast("int").alias("kept"),
    )


def keep_best_by_element_sets(
    hashed: DataFrame,
    id_col: str,
    quality_df: DataFrame,
    quality_col: str,
    *,
    key_col: str = "h",
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """LINEAR-OUTPUT set-Jaccard dedup: one ``(id, quality, cluster_size,
    kept)`` row per input id — the :func:`keep_best_by_signature` posture
    for ELEMENT-SET similarity (video frame sets, any feature-set column)
    instead of single bit signatures.

    Scale architecture (O(N) in duplicate multiplicity):

    1. Canonical SET SIGNATURE per id — md5 over the sorted distinct
       element keys, computed in the same aggregate that builds the set.
       Ids with IDENTICAL element sets (byte-identical re-uploads, the
       dominant duplicate mass) collapse to one signature before any
       pairwise stage.
    2. One representative id per distinct signature (min id);
       :func:`key_jaccard_pairs` runs over REPRESENTATIVES only, so
       candidate cost is Σ df² of the deduplicated content, never of the
       corpus. This is connectivity-exact, not an approximation: two ids
       with identical sets share every partner at identical Jaccard, so
       the representative graph has the same components as the full
       graph (pinned in tests/test_video_dedup.py).
    3. ``connected_components`` labels the representative graph; every id
       inherits its signature's component via keyed joins (a signature
       in no pair is its own component).
    4. Keep-best (quality desc NULLS LAST, ties to smallest id) +
       cluster-size share one component-keyed window shuffle.
    """
    from mlops_pipelines_featurestore_gcp_spark.operators.components import connected_components

    if key_col != "h":
        hashed = hashed.withColumnRenamed(key_col, "h")
    hashed = hashed.localCheckpoint(eager=False)  # feeds sig + rep-element consumers once
    sig = hashed.groupBy(id_col).agg(
        F.md5(F.concat_ws(",", F.array_sort(F.collect_set("h")))).alias("__sig")
    )
    rep = sig.groupBy("__sig").agg(F.min(id_col).alias("__rep"))
    rep_elems = hashed.join(
        rep.select(F.col("__rep").alias(id_col)), id_col
    )
    pairs = key_jaccard_pairs(
        rep_elems, id_col, threshold=threshold, max_df=max_df
    ).select(F.col("doc_a"), F.col("doc_b"))
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    rep_comp = rep.join(
        comp.withColumnRenamed("node", "__rep"), "__rep", "left"
    ).select(
        "__sig", F.coalesce(F.col("component"), F.col("__rep")).alias("__comp")
    )
    labeled = sig.join(rep_comp, "__sig").select(F.col(id_col), "__comp")
    scored = labeled.join(
        quality_df.select(F.col(id_col), F.col(quality_col)), id_col, "left"
    )
    wc = Window.partitionBy("__comp")
    wr = Window.partitionBy("__comp").orderBy(
        F.col(quality_col).desc_nulls_last(), F.col(id_col).asc()
    )
    return scored.select(
        F.col(id_col),
        F.col(quality_col),
        F.count("*").over(wc).cast("long").alias("cluster_size"),
        (F.row_number().over(wr) == 1).cast("int").alias("kept"),
    )
