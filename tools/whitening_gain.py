"""Measure PQ recall with vs without the s11 PCA rotation/whitening.

Ge et al. 2013 claim that product quantizers, which split vectors into
contiguous sub-blocks, recall better after a rotation into the PCA
basis balances variance across coordinates. This tool puts a fixture
number on that claim for this repo's PQ tier: recall@k of `pq_topk`
against exact brute-force ground truth computed IN THE SAME
representation (raw / PCA-rotated / whitened). Mean-centering changes
the cosine task (cosine is origin-dependent), so cross-space recalls are
not comparisons of the same ranking — each row is the quantizer's
fidelity to exact search in that space.

Usage: python tools/whitening_gain.py [sf_dir] [n_queries] [k]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mlops_pipelines_featurestore_gcp_spark import get_spark  # noqa: E402
from mlops_pipelines_featurestore_gcp_spark.operators import similarity  # noqa: E402
from mlops_pipelines_featurestore_gcp_spark.operators.whitening import (  # noqa: E402
    apply_whitening,
    fit_whitening,
)


def recall_at_k(corpus, queries, *, dim, k, label):
    approx = similarity.pq_topk(corpus, queries, dim=dim, k=k, shortlist=4 * k)
    exact = similarity.brute_force_topk(corpus, queries, k=k)
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .count()
    )
    total = exact.count()
    r = hits / total if total else 1.0
    print(f"{label}: recall@{k} = {r:.4f} ({hits}/{total})")
    return r


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_q = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    spark = get_spark("whitening-gain")
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    # md5-deterministic query sample (the s02 contract-verifier pattern)
    # queries keep the corpus schema (vec_id, embedding) — both topk
    # functions rename internally
    queries = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(n_q)
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )
    dim = 64
    recall_at_k(emb, queries, dim=dim, k=k, label="raw")
    for whiten, label in ((False, "pca-rotated"), (True, "whitened")):
        mean, rot, _ = fit_whitening(emb, dim=dim, whiten=whiten)
        emb_w = apply_whitening(emb, mean, rot).select(
            "vec_id", F.col("whitened").alias("embedding")
        )
        q_w = apply_whitening(queries, mean, rot).select(
            "vec_id", F.col("whitened").alias("embedding")
        )
        recall_at_k(emb_w, q_w, dim=dim, k=k, label=label)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
