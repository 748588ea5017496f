"""Semantics tests for the dedup / similarity / text-analysis operators
(beyond the oracle diff, which tests/test_relational.py already covers for
every registered query)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.operators import dedup, similarity
from mlops_pipelines_featurestore_gcp_spark.sources.catalog import load_table


def test_exact_dedup_finds_planted_duplicates(spark, sf_small):
    docs = load_table(spark, "documents", sf_small)
    doubled = docs.union(docs.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    out = dedup.exact_dedup(doubled, "doc_id", "text")
    rows = out.collect()
    # every fingerprint now appears exactly twice, canonical id is the original
    assert all(r.n_docs >= 2 for r in rows)
    assert all(r.canonical_id < 1_000_000 for r in rows)


def test_minhash_catches_exact_duplicates(spark, sf_small):
    docs = load_table(spark, "documents", sf_small).limit(50)
    doubled = docs.union(docs.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    pairs = dedup.minhash_lsh_pairs(doubled, "doc_id", "text", threshold=0.99)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    expected = {(r.doc_id, r.doc_id + 1_000_000) for r in docs.collect()}
    # identical docs have jaccard 1.0 and identical minhash → always candidates
    assert expected <= got


def test_simhash_identical_docs_have_zero_hamming(spark, sf_small):
    docs = load_table(spark, "documents", sf_small).limit(30)
    doubled = docs.union(docs.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    pairs = dedup.simhash_pairs(doubled, "doc_id", "text", max_hamming=0)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    expected = {(r.doc_id, r.doc_id + 1_000_000) for r in docs.collect()}
    assert expected <= got


def test_lsh_topk_recall_vs_bruteforce(spark, sf_small):
    emb = load_table(spark, "embeddings", sf_small)
    queries = emb.where(F.col("vec_id") % 50 == 0)
    exact = similarity.brute_force_topk(emb, queries, k=5).collect()
    approx = similarity.lsh_topk(emb, queries, dim=64, planes=4, k=5).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    # LSH with few planes on small data should recover a solid fraction of
    # the true neighbors; it must never return a *wrong* similarity value.
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.2, f"suspiciously low LSH recall {recall}"
    exact_sims = {(r.query_id, r.neighbor_id): r.cos_sim for r in exact}
    for r in approx:
        if (r.query_id, r.neighbor_id) in exact_sims:
            assert abs(exact_sims[(r.query_id, r.neighbor_id)] - r.cos_sim) < 1e-9


def test_bruteforce_topk_is_sorted_and_bounded(spark, sf_small):
    emb = load_table(spark, "embeddings", sf_small)
    queries = emb.where(F.col("vec_id") == 0)
    out = similarity.brute_force_topk(emb, queries, k=3).collect()
    assert len(out) == 3
    sims = [r.cos_sim for r in sorted(out, key=lambda r: r.rnk)]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in sims)


def test_ivf_topk_recall_vs_bruteforce(spark, sf_small):
    emb = load_table(spark, "embeddings", sf_small)
    queries = emb.where(F.col("vec_id") % 50 == 0)
    exact = similarity.brute_force_topk(emb, queries, k=5).collect()
    approx = similarity.ivf_topk(emb, queries, n_centroids=8, n_probe=4, k=5).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    # probing half the cells must recover most true neighbors, and every
    # returned similarity must equal the exact one
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"suspiciously low IVF recall {recall}"
    exact_sims = {(r.query_id, r.neighbor_id): r.cos_sim for r in exact}
    for r in approx:
        if (r.query_id, r.neighbor_id) in exact_sims:
            assert abs(exact_sims[(r.query_id, r.neighbor_id)] - r.cos_sim) < 1e-9


def test_ngram_jaccard_max_df_caps_hot_grams(spark):
    from mlops_pipelines_featurestore_gcp_spark.operators import dedup

    boiler = "copyright acme corp all rights reserved"
    rows = [
        (1, f"{boiler} the quick brown fox jumps over the lazy dog today"),
        (2, f"{boiler} the quick brown fox jumps over the lazy dog tonight"),
        (3, f"{boiler} completely different body about gardening and soil"),
        (4, f"{boiler} another unrelated text discussing spark physical plans"),
        (5, f"{boiler} a fifth document on something else entirely new here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3).collect()}
    # boilerplate grams appear in all 5 docs; cap at 2 so only the
    # discriminative grams generate candidates
    capped = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3, max_df=2).collect()}
    assert (1, 2) in capped
    # reported scores on surviving pairs are EXACT (identical to uncapped)
    for pair, j in capped.items():
        assert abs(exact[pair] - j) < 1e-12
    # capped candidates are a subset of the exact ones
    assert set(capped) <= set(exact)


def test_token_vocab_ranks_and_coverage(spark):
    from mlops_pipelines_featurestore_gcp_spark.operators.text_analysis import token_vocab

    docs = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b d"), (3, None)],
        "doc_id long, text string",
    )
    rows = sorted(token_vocab(docs, "doc_id", "text").collect(), key=lambda r: r.rank)
    assert [(r.token, r.tf, r.df_docs) for r in rows] == [
        ("a", 4, 2),
        ("b", 3, 2),
        ("c", 1, 1),
        ("d", 1, 1),
    ]
    # coverage is monotone and ends at 1.0
    covs = [r.cum_coverage for r in rows]
    assert covs == sorted(covs) and covs[-1] == 1.0
    assert covs[0] == round(4 / 9, 6)
    # min_count truncates the vocab but coverage stays a fraction of the
    # FULL token stream: a+b cover 7 of 9 occurrences
    kept = sorted(token_vocab(docs, "doc_id", "text", min_count=2).collect(), key=lambda r: r.rank)
    assert [(r.token, r.rank) for r in kept] == [("a", 1), ("b", 2)]
    assert kept[-1].cum_coverage == round(7 / 9, 6)


def test_ann_contract_recall_flag_semantics(spark, sf_small):
    """recall_floor_met is 1 when the approx output IS the exact top-k
    (recall 1.0) and 0 when the approx output found none of it — and the
    sampled brute-force verifier never exceeds its 32-query cap."""
    from mlops_pipelines_featurestore_gcp_spark.plans.llm_data import _ann_contract

    emb = load_table(spark, "embeddings", sf_small)
    queries = emb.where(F.col("vec_id") % 50 == 0)
    exact = similarity.brute_force_topk(emb, queries, k=5)

    perfect = _ann_contract(exact, emb, k=5, recall_floor=0.99)
    rows = perfect.collect()
    assert rows and all(r.recall_floor_met == 1 for r in rows)

    # an approximate method that returns a single wrong-ish neighbor set:
    # keep only rank-1 rows for one query — aggregate recall collapses
    starved = exact.where((F.col("rnk") == 1) & (F.col("query_id") == 0))
    bad = _ann_contract(starved, emb, k=5, recall_floor=0.9)
    assert all(r.recall_floor_met == 0 for r in bad.collect())


def test_keep_best_exact_prefers_quality_over_id(spark):
    """In a duplicate cluster the kept row is the best-quality one even
    when it has the LARGER id (min-id would pick the other)."""
    good = ("the quick brown fox jumps over the lazy dog and runs far away. "
            "it is a fine day for running in the sun.")
    bad = "aaa bbb aaa bbb aaa bbb!!!???;;;:::"
    rows = [(1, bad), (2, bad), (10, good), (20, good), (30, "unique text here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r.doc_id: r for r in dedup.exact_dedup_keep_best(df, "doc_id", "text").collect()}
    assert set(kept) == {1, 10, 30}          # ties -> min id; unique passes
    assert kept[10].n_docs == 2 and kept[1].n_docs == 2 and kept[30].n_docs == 1
    assert kept[10].quality > kept[1].quality


def test_soft_dedup_weights_sum_to_cluster_mass(spark):
    rows = [(i, "dup text") for i in range(4)] + [(99, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.soft_dedup_weights(df, "doc_id", "text").collect()
    by_id = {r.doc_id: r for r in out}
    assert len(out) == 5                      # nothing dropped
    assert all(by_id[i].cluster_size == 4 and abs(by_id[i].weight - 0.25) < 1e-12 for i in range(4))
    assert by_id[99].cluster_size == 1 and by_id[99].weight == 1.0
    # total weight == number of distinct documents
    assert abs(sum(r.weight for r in out) - 2.0) < 1e-12


def test_heavy_hitters_cms_contract(spark, sf_small):
    from mlops_pipelines_featurestore_gcp_spark.operators.sketches import heavy_hitters_cms

    docs = load_table(spark, "documents", sf_small)
    from mlops_pipelines_featurestore_gcp_spark.functions.text import normalize, tokens

    toks = docs.select(F.explode(tokens(normalize(F.col("text")))).alias("token"))
    out = heavy_hitters_cms(toks, "token", k=10).collect()
    assert len(out) == 10
    assert all(r.no_undercount == 1 and r.within_eps_band == 1 for r in out)
    # deterministic: same report on re-run
    again = heavy_hitters_cms(toks, "token", k=10).collect()
    assert [(r.item, r.n_exact) for r in out] == [(r.item, r.n_exact) for r in again]


def test_heavy_hitters_cms_numeric_column(spark):
    """Non-string item columns work: the operator string-casts before both
    the sketch build and the probe so hashing is consistent."""
    from mlops_pipelines_featurestore_gcp_spark.operators.sketches import heavy_hitters_cms

    df = spark.createDataFrame([(i % 3,) for i in range(300)], "k long")
    out = heavy_hitters_cms(df, "k", k=3).collect()
    assert {r.item for r in out} == {"0", "1", "2"}
    assert all(r.n_exact == 100 and r.no_undercount == 1 and r.within_eps_band == 1 for r in out)
