"""Product-quantization ANN (operators/similarity.py pq_* — Jégou et al.
2011, the 32× memory tier of the similarity family)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.operators import similarity

DIM, M = 16, 4


def _emb(spark, n=80, seed=3):
    rng = np.random.RandomState(seed)
    base = rng.randn(8, DIM)
    rows = []
    for i in range(n):
        v = base[i % 8] + rng.randn(DIM) * 0.15  # 8 loose clusters
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_train_is_deterministic_and_shaped(spark):
    emb = _emb(spark)
    b1 = similarity.pq_train(emb, dim=DIM, m=M, sample=64, seed=7)
    b2 = similarity.pq_train(emb, dim=DIM, m=M, sample=64, seed=7)
    assert b1.shape[0] == M and b1.shape[2] == DIM // M
    assert np.array_equal(b1, b2)  # seeded driver-side fit, no engine RNG


def test_pq_encode_codes_are_nearest_and_rnorm_consistent(spark):
    emb = _emb(spark, n=40)
    books = similarity.pq_train(emb, dim=DIM, m=M, sample=40, seed=7)
    enc = {r.neighbor_id: (list(r.codes), r.rnorm) for r in similarity.pq_encode(emb, books).collect()}
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb.collect()}
    dsub = DIM // M
    for vid, (codes, rnorm) in enc.items():
        v = vecs[vid]
        expect_rn = 0.0
        for s, c in enumerate(codes):
            sub = v[s * dsub : (s + 1) * dsub]
            d2 = ((books[s] - sub) ** 2).sum(axis=1)
            assert d2[c] <= d2.min() + 1e-9  # assigned code IS the argmin
            expect_rn += (books[s][c] ** 2).sum()
        assert abs(rnorm - expect_rn) < 1e-6


def test_pq_topk_exact_k_and_rescore_parity(spark):
    emb = _emb(spark)
    out = similarity.pq_topk(emb, emb.where(F.col("vec_id") % 10 == 0), dim=DIM, m=M, k=5, shortlist=12, sample=80)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    assert set(per_q) == {0, 10, 20, 30, 40, 50, 60, 70}
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb.collect()}
    for q, rs in per_q.items():
        assert len(rs) == 5  # exact k — ADC scans everything
        assert sorted(r.rnk for r in rs) == [1, 2, 3, 4, 5]
        sims = [r.cos_sim for r in sorted(rs, key=lambda r: r.rnk)]
        assert all(a >= b for a, b in zip(sims, sims[1:]))  # monotone
        for r in rs:  # reported score is the EXACT rounded cosine
            a, b = vecs[q], vecs[r.neighbor_id]
            exact = round(float(a @ b / np.sqrt((a @ a) * (b @ b))), 6)
            assert abs(r.cos_sim - exact) < 1e-9


def test_pq_topk_recall_beats_floor_on_clustered_fixture(spark):
    emb = _emb(spark, n=120)
    queries = emb.where(F.col("vec_id") % 10 == 0)
    truth = similarity.brute_force_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    out = similarity.pq_topk(emb, queries, dim=DIM, m=M, k=5, shortlist=24, sample=120)
    hit = truth.join(out.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]).count()
    assert hit / truth.count() >= 0.7


def test_ivf_pq_topk_contract_and_recall(spark):
    emb = _emb(spark, n=120)
    queries = emb.where(F.col("vec_id") % 10 == 0)
    out = similarity.ivf_pq_topk(emb, queries, dim=DIM, m=M, k=5, shortlist=24, sample=120)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb.collect()}
    for q, rs in per_q.items():
        assert len(rs) <= 5
        assert sorted(r.rnk for r in rs) == list(range(1, len(rs) + 1))
        for r in rs:  # exact rescore parity
            a, b = vecs[q], vecs[r.neighbor_id]
            exact = round(float(a @ b / np.sqrt((a @ a) * (b @ b))), 6)
            assert abs(r.cos_sim - exact) < 1e-9
    truth = similarity.brute_force_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    hit = truth.join(out.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]).count()
    assert hit / truth.count() >= 0.6  # clustered fixture, cells prune


def test_ivf_pq_topk_is_deterministic(spark):
    emb = _emb(spark, n=80)
    queries = emb.where(F.col("vec_id") % 20 == 0)
    a = similarity.ivf_pq_topk(emb, queries, dim=DIM, m=M, k=3, shortlist=12, sample=80)
    b = similarity.ivf_pq_topk(emb, queries, dim=DIM, m=M, k=3, shortlist=12, sample=80)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def _as_pairs(df):
    return sorted((r.query_id, r.neighbor_id, r.cos_sim, r.rnk) for r in df.collect())


def test_pq_with_exhaustive_shortlist_equals_brute_force(spark):
    """The exact-rescore stage makes both PQ tiers EQUAL brute force when
    the shortlist covers the corpus — quantization can then only reorder
    the shortlist, never drop a true neighbor. Pins that approximation
    error lives ONLY in shortlist pruning, never in reported scores."""
    emb = _emb(spark, n=50, seed=11)
    queries = emb.where(F.col("vec_id") % 10 == 0)
    truth = similarity.brute_force_topk(emb, queries, k=4)
    got = similarity.pq_topk(emb, queries, dim=DIM, m=M, k=4, shortlist=50, sample=50)
    assert _as_pairs(got) == _as_pairs(truth)


def test_ivf_pq_probe_all_cells_exhaustive_equals_brute_force(spark):
    emb = _emb(spark, n=50, seed=12)
    queries = emb.where(F.col("vec_id") % 10 == 0)
    truth = similarity.brute_force_topk(emb, queries, k=4)
    got = similarity.ivf_pq_topk(
        emb, queries, dim=DIM, m=M, k=4, shortlist=50, sample=50,
        n_centroids=8, n_probe=8,
    )
    assert _as_pairs(got) == _as_pairs(truth)


def test_pq_shortlist_is_partition_layout_independent(spark):
    """The map-side top-S prune must give the same FINAL result under any
    partitioning (per-batch top-S is a superset of the global top-S
    members in that batch) — pins the docstring's superset argument.
    The layout varies through the corpus frame: an explicit repartition
    suppresses dedup._spread's rebalance, so the requested layout is what
    the ADC kernel sees."""
    emb = _emb(spark, n=100, seed=21)
    queries = emb.where(F.col("vec_id") % 25 == 0)
    outs = []
    for parts in (1, 7, 32):
        out = similarity.pq_topk(
            emb.repartition(parts), queries, dim=DIM, m=M, k=5, shortlist=8,
            sample=100, seed=5,
        )
        outs.append(sorted(map(tuple, out.collect())))
    assert outs[0] == outs[1] == outs[2]


def test_pq_shortlist_tie_break_is_layout_independent(spark):
    """Adversarial tie case: many IDENTICAL vectors → identical codes →
    exact approx-score ties straddling the shortlist boundary. Without a
    total (-approx, id) order in the kernel, different partitionings
    admit different tie members (caught in round-6 self-review)."""
    rng = np.random.RandomState(9)
    protos = rng.randn(3, DIM)
    rows = [(i, [float(x) for x in protos[i % 3]]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.where(F.col("vec_id") == 0)
    outs = []
    for parts in (1, 5, 32):
        out = similarity.pq_topk(
            emb.repartition(parts), queries, dim=DIM, m=M, k=5,
            shortlist=7,  # boundary inside a 20-member tie group
            sample=60, seed=2,
        )
        outs.append(sorted(map(tuple, out.collect())))
    assert outs[0] == outs[1] == outs[2]
    outs2 = []
    for parts in (1, 5, 32):
        out = similarity.ivf_pq_topk(
            emb.repartition(parts), queries, dim=DIM, m=M, k=5, shortlist=7,
            sample=60, n_centroids=4, n_probe=4,
        )
        outs2.append(sorted(map(tuple, out.collect())))
    assert outs2[0] == outs2[1] == outs2[2]


def test_persisted_ivfpq_index_prebuilt_matches_incall(spark, tmp_path):
    """build_ivfpq_index → ivfpq_search must be BIT-IDENTICAL to the
    in-call ivf_pq_topk under the same seed/params (VERDICT r6 #3: the
    production build-once/search-many shape for the s09 tier), and report
    the exact rounded cosine of the raw vectors."""
    emb = _emb(spark)
    queries = emb.where(F.col("vec_id") % 10 == 0)
    path = str(tmp_path / "ivfpq")
    similarity.build_ivfpq_index(emb, path, dim=DIM, m=M, sample=80, seed=7)
    persisted = similarity.ivfpq_search(
        spark, path, emb, queries, dim=DIM, k=5, shortlist=12
    ).collect()
    incall = similarity.ivf_pq_topk(
        emb, queries, dim=DIM, m=M, k=5, shortlist=12, sample=80, seed=7
    ).collect()
    assert persisted
    assert sorted(((r.query_id, r.rnk, r.neighbor_id, r.cos_sim) for r in persisted)) == sorted(
        ((r.query_id, r.rnk, r.neighbor_id, r.cos_sim) for r in incall)
    )
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb.collect()}
    for r in persisted:
        a, b = vecs[r.query_id], vecs[r.neighbor_id]
        expect = round(float(a @ b / np.sqrt((a @ a) * (b @ b))), 6)
        assert abs(r.cos_sim - expect) < 1e-9
    # state files round-trip exactly
    cells, books = similarity._ivfpq_state_read(spark, path)
    cells2, books2 = similarity.ivfpq_train(emb, dim=DIM, m=M, sample=80, seed=7)
    assert np.allclose(cells, cells2) and np.allclose(books, books2)


def test_ivfpq_codes_partitioned_by_cell(spark, tmp_path):
    """The persisted code table must be cell-partitioned so probes prune
    partitions at the source."""
    import os

    emb = _emb(spark, n=60)
    path = str(tmp_path / "ivfpq")
    similarity.build_ivfpq_index(emb, path, dim=DIM, m=M, sample=60, seed=7)
    dirs = [d for d in os.listdir(f"{path}/codes") if d.startswith("cell=")]
    assert len(dirs) >= 2  # one directory per populated coarse cell
    total = spark.read.parquet(f"{path}/codes").count()
    assert total == 60


def test_ivfpq_upsert_appends_batch_and_search_sees_it(spark, tmp_path):
    """ivfpq_upsert encodes against the EXISTING quantizers (no refit) and
    the new ids become reachable neighbors; ingest touches only the new
    rows' cells."""
    emb = _emb(spark, n=60)
    path = str(tmp_path / "ivfpq")
    similarity.build_ivfpq_index(emb, path, dim=DIM, m=M, sample=60, seed=7)
    # the batch: near-clones of existing vectors under fresh ids
    batch = emb.where(F.col("vec_id") < 6).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(1e-4)).alias("embedding"),
    )
    similarity.ivfpq_upsert(spark, path, batch)
    full_corpus = emb.unionByName(batch)
    out = similarity.ivfpq_search(
        spark, path, full_corpus, emb.where(F.col("vec_id") < 6),
        dim=DIM, k=3, shortlist=20,
    ).collect()
    found = {r.neighbor_id for r in out}
    # each near-clone should surface for its source query (cos ≈ 1)
    assert any(n >= 1000 for n in found)
    top1 = {r.query_id: r.neighbor_id for r in out if r.rnk == 1}
    assert all(top1[q] == q + 1000 for q in top1)


def test_ivfpq_upsert_gives_the_build_cell_and_codes(spark, tmp_path):
    # a vector upserted into an IVF-PQ index gets the SAME cell and codes
    # the build-time encode gave it: both encode against the persisted
    # quantizer pair
    emb = _emb(spark, n=60)
    base = emb.where(F.col("vec_id") % 2 == 0)
    extra = emb.where(F.col("vec_id") % 2 == 1)
    p_all = str(tmp_path / "ivfpq_all")
    p_ups = str(tmp_path / "ivfpq_ups")
    # the same fitted state twice; then p_ups keeps only base's codes
    similarity.build_ivfpq_index(emb, p_all, dim=DIM, m=M, sample=60, seed=7)
    similarity.build_ivfpq_index(emb, p_ups, dim=DIM, m=M, sample=60, seed=7)
    cells, books = similarity._ivfpq_state_read(spark, p_ups)
    similarity.ivfpq_encode(base, cells, books).write.mode("overwrite").partitionBy("cell").parquet(
        f"{p_ups}/codes"
    )
    similarity.ivfpq_upsert(spark, p_ups, extra)

    def codes(path):
        return {r.neighbor_id: (r.cell, list(r.codes)) for r in spark.read.parquet(f"{path}/codes").collect()}

    assert codes(p_ups) == codes(p_all)
    assert len(codes(p_all)) == 60


def test_ivfpq_search_injected_state_bit_equal_and_refit_parity(spark, tmp_path):
    """r14 (VERDICT r13 #1): ``ivfpq_search`` with caller-injected
    state/adc_query_rows must be BIT-EQUAL to the default path (the s10
    twin shares one state read + one query collect across both tiers),
    and the invariant the pre-r14 twin re-proved per call — a fresh
    quantizer fit equals the persisted fit bit-for-bit under the same
    seed/sample — is pinned HERE instead."""
    emb = _emb(spark, n=80)
    path = str(tmp_path / "ivfpq_inj")
    similarity.build_ivfpq_index(emb, path, dim=DIM, m=M, sample=80, seed=7)
    q = emb.where(F.col("vec_id") % 10 == 0)
    default = sorted(
        map(tuple, similarity.ivfpq_search(
            spark, path, emb, q, dim=DIM, k=3, shortlist=24).collect())
    )
    cells, books = similarity._ivfpq_state_read(spark, path)
    qrows = similarity._collect_query_rows(
        q.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("qv"),
        ),
        "test_injected_state",
    )
    injected = sorted(
        map(tuple, similarity.ivfpq_search(
            spark, path, emb, q, dim=DIM, k=3, shortlist=24,
            state=(cells, books), adc_query_rows=qrows,
        ).collect())
    )
    assert injected == default and injected
    # fit-equals-refit, exact (not allclose): persisted state is written
    # through float(x) (lossless double round-trip), so a same-seed refit
    # on the same corpus must reproduce it bit-for-bit
    cells2, books2 = similarity.ivfpq_train(emb, dim=DIM, m=M, sample=80, seed=7)
    assert (cells == cells2).all() and (books == books2).all()


def test_rotated_basis_index_is_refused(spark, tmp_path):
    """An index directory holding an ``opq/`` rotation (the layout of a
    rotated-basis build) stores codes raw queries cannot search: search
    and upsert raise, naming the path, instead of returning wrong
    neighbours."""
    import re

    import pytest

    emb = _emb(spark, n=40)
    path = str(tmp_path / "ivfpq_rot")
    similarity.build_ivfpq_index(emb, path, dim=DIM, m=M, sample=40, seed=7)
    identity = [[float(i == j) for j in range(DIM)] for i in range(DIM)]
    spark.createDataFrame([(identity,)], "w array<array<double>>").write.parquet(f"{path}/opq")
    q = emb.where(F.col("vec_id") % 10 == 0)
    with pytest.raises(ValueError, match=re.escape(path)):
        similarity.ivfpq_search(spark, path, emb, q, dim=DIM, k=3, shortlist=12).collect()
    with pytest.raises(ValueError, match=re.escape(path)):
        similarity.ivfpq_upsert(spark, path, q)


def _cell_files(path):
    """{cell_dir_name: [parquet files]} for a cell-partitioned table."""
    import os

    out = {}
    for d in os.listdir(path):
        if d.startswith("cell="):
            out[d] = sorted(
                f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")
            )
    return out


def test_ivfpq_compact_merges_fragmented_cells_search_bit_equal(spark, tmp_path):
    # build + 3 upsert batches → touched cells hold 4 file sets; compact
    # must merge them and leave the search output BIT-EQUAL.
    emb = _emb(spark, n=60)
    path = str(tmp_path / "ivfpq_cmp")
    similarity.build_ivfpq_index(emb, path, dim=DIM, m=M, sample=60, seed=7)
    for lo in (1000, 1100, 1200):
        similarity.ivfpq_upsert(spark, path, _emb(spark, n=20, seed=lo).withColumn(
            "vec_id", F.col("vec_id") + F.lit(lo)))
    q = emb.where(F.col("vec_id") % 10 == 0)

    def search():
        full = emb  # rescore table: originals are enough for parity on their pairs
        return sorted(map(tuple, similarity.ivfpq_search(
            spark, path, full, q, dim=DIM, k=3, shortlist=24).collect()))

    before_rows = search()
    before_files = _cell_files(f"{path}/codes")
    assert any(len(v) > 1 for v in before_files.values())  # fragmentation real
    n_rows_before = spark.read.parquet(f"{path}/codes").count()

    report = similarity.ivfpq_compact(spark, path, max_files_per_cell=1)
    assert report["cells_compacted"] >= 1
    after_files = _cell_files(f"{path}/codes")
    for d, fs in after_files.items():
        if len(before_files.get(d, [])) > 1:
            assert len(fs) == 1, f"{d} not merged"
        else:  # untouched cells keep their very files
            assert fs == before_files[d], f"{d} rewritten though unfragmented"
    assert spark.read.parquet(f"{path}/codes").count() == n_rows_before
    assert search() == before_rows  # bit-equal search across compaction


def test_ivfpq_compact_dedupes_exact_reupsert_rows_only(spark, tmp_path):
    emb = _emb(spark, n=50)
    path = str(tmp_path / "ivfpq_dup")
    similarity.build_ivfpq_index(emb, path, dim=DIM, m=M, sample=50, seed=7)
    batch = _emb(spark, n=10, seed=9).withColumn("vec_id", F.col("vec_id") + F.lit(500))
    similarity.ivfpq_upsert(spark, path, batch)
    similarity.ivfpq_upsert(spark, path, batch)  # the documented re-ingest dup
    assert spark.read.parquet(f"{path}/codes").count() == 70
    similarity.ivfpq_compact(spark, path, max_files_per_cell=0)  # rewrite all
    assert spark.read.parquet(f"{path}/codes").count() == 60  # exact dups gone
    # a second compact is a no-op fixpoint at the merged layout
    report = similarity.ivfpq_compact(spark, path, max_files_per_cell=1)
    assert report["cells_compacted"] == 0


