"""Measured duplicate-recall of d10's hub star vs d07's within-cell clique.

The hub-star form (``semantic_dedup_keep_star``) trades recall for
linearity: a pair of mutual near-dups BOTH below threshold to their cell
hub survives as two rows, where the clique form (``semantic_dedup_pairs``
→ transitive keep-set) would collapse them. This tool puts a NUMBER on
that trade (VERDICT r8 #7) on the real fixture embeddings, at the same
threshold for both forms:

- **pair recall**: fraction of the clique form's duplicate pairs that the
  star RESOLVES (drops at least one endpoint — after which the kept set
  no longer contains that duplicate pair),
- **drop yield**: |star drops| / |clique drops| — how much of the clique
  form's row reduction the star achieves.

Usage: python tools/d10_recall.py [sf_dir ...]   (default sf0.1 + 10×)
Results land in SCALING.md's dedup section and the d10 docstring.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mlops_pipelines_featurestore_gcp_spark import get_spark  # noqa: E402
from mlops_pipelines_featurestore_gcp_spark.operators import similarity  # noqa: E402
from mlops_pipelines_featurestore_gcp_spark.operators.components import (  # noqa: E402
    connected_components,
)


def measure(spark, sf_dir: str, threshold: float, n_hubs: int = 1, rounds: int = 1) -> dict:
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()
    t0 = time.perf_counter()
    pairs = similarity.semantic_dedup_pairs(
        emb, threshold=threshold
    ).localCheckpoint(eager=True)
    n_pairs = pairs.count()
    # clique drops = graph nodes − components (one keeper per component).
    # max_iter raised over the operator default: the 10× τ=0.45 graph has
    # path diameter > 20 (percolation chains), fine for a measurement tool.
    comp = connected_components(
        pairs.select("id_a", "id_b"), src="id_a", dst="id_b", max_iter=60
    )
    clique_dropped = comp.count() - comp.select("component").distinct().count()
    t_clique = time.perf_counter() - t0
    t0 = time.perf_counter()
    star = similarity.semantic_dedup_keep_star(
        emb, threshold=threshold, n_hubs=n_hubs, rounds=rounds
    ).localCheckpoint(eager=True)
    star_dropped = star.where(F.col("kept") == 0).count()
    t_star = time.perf_counter() - t0
    dropped_ids = star.where(F.col("kept") == 0).select(F.col("vec_id").alias("__d"))
    resolved = (
        pairs.join(dropped_ids, pairs.id_a == F.col("__d"), "left_semi")
        .select("id_a", "id_b")
        .union(
            pairs.join(dropped_ids, pairs.id_b == F.col("__d"), "left_semi")
            .select("id_a", "id_b")
        )
        .distinct()
        .count()
    )
    return {
        "sf_dir": sf_dir,
        "threshold": threshold,
        "n_hubs": n_hubs,
        "rounds": rounds,
        "n_vectors": n,
        "clique_pairs": n_pairs,
        "clique_dropped": clique_dropped,
        "star_dropped": star_dropped,
        "pair_recall": round(resolved / n_pairs, 4) if n_pairs else 1.0,
        "drop_yield": round(star_dropped / clique_dropped, 4) if clique_dropped else 1.0,
        "t_clique_s": round(t_clique, 1),
        "t_star_s": round(t_star, 1),
    }


def main() -> int:
    dirs = sys.argv[1:] or ["/root/testdata/sf0.1", "/tmp/spark_graft_sf1"]
    spark = get_spark("d10-recall")
    spark.sparkContext.setLogLevel("ERROR")
    for sf_dir in dirs:
        if not os.path.exists(os.path.join(sf_dir, "embeddings.parquet")):
            print(f"# skip {sf_dir} (no embeddings)")
            continue
        for thr in (0.30, 0.45):
            for nh, rd in ((1, 1), (8, 1), (8, 2), (8, 4)):
                r = measure(spark, sf_dir, thr, n_hubs=nh, rounds=rd)
                print(
                    f"{sf_dir} τ={thr} R={nh}x{rd}: N={r['n_vectors']} pairs={r['clique_pairs']} "
                    f"clique_drop={r['clique_dropped']} star_drop={r['star_dropped']} "
                    f"pair_recall={r['pair_recall']} drop_yield={r['drop_yield']} "
                    f"(clique {r['t_clique_s']}s, star {r['t_star_s']}s)"
                )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
