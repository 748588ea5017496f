"""Measure what `_auto_planes` buys past the 256k knee (VERDICT r10 #5).

Builds a deterministic synthetic corpus ABOVE the knee (default 1M
vectors, dim 64, planted ~20-member families so top-5 neighbors are
meaningful), then runs `lsh_topk` over the SAME 32-query draw at the
former manual sf-scale operating point (planes=8, tables=16) and
auto-sized (`planes=None/tables=None` → `_auto_planes(1M)` = planes=10,
tables=25), reporting recall@5 against the exact brute-force truth and
the median wall of each.

Both configurations share one Spark session, so each gets one untimed
warm-up run first; the timed runs then alternate their order round by
round, so neither side always pays for the other's leftovers.

The claim under test (see `_auto_planes`'s docstring): holding planes
fixed as N grows keeps expected buckets at N/2^planes — a constant
FRACTION of the corpus scanned per query (cost blowup), while the auto
rule re-pins bucket size at ~1k and raises tables to hold recall.

Corpus lives at /tmp/spark_graft_lsh1m (the documented scale-sweep /tmp
fixture exemption — rebuilt on demand, never committed).

Usage: python tools/lsh_autosize_gain.py [n_vectors] [rounds]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark import get_spark
from mlops_pipelines_featurestore_gcp_spark.operators import similarity

DIM = 64
FAMILY = 20  # members per planted family
PATH = "/tmp/spark_graft_lsh1m"


def build_corpus(spark, n: int):
    """id i belongs to family i//FAMILY: member = center(family) + 0.45·noise(i),
    both drawn from seeded RandomStates — deterministic at any partitioning."""

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            fams = ids // FAMILY
            out = np.empty((len(ids), DIM))
            for j, (i, f) in enumerate(zip(ids, fams)):
                c = np.random.RandomState(int(f) % (2**31)).randn(DIM)
                e = np.random.RandomState(int(i) % (2**31) + 7).randn(DIM)
                out[j] = c + 0.45 * e
            yield pd.DataFrame({"vec_id": ids, "embedding": list(out)})

    df = spark.range(n).repartition(64).mapInPandas(gen, "vec_id long, embedding array<double>")
    df.write.mode("overwrite").parquet(PATH)
    return spark.read.parquet(PATH)


def recall_at_5(got, truth) -> float:
    g = {(r.query_id, r.neighbor_id) for r in got.select("query_id", "neighbor_id").collect()}
    t = {(r.query_id, r.neighbor_id) for r in truth.select("query_id", "neighbor_id").collect()}
    return len(g & t) / len(t)


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("lsh-autosize")
    spark.sparkContext.setLogLevel("ERROR")
    corpus = build_corpus(spark, n)
    queries = corpus.where(F.col("vec_id") % (n // 32) == 0)
    nq = queries.count()
    print(f"corpus {n} vectors, {nq} queries, families of {FAMILY}")

    t0 = time.time()
    truth = similarity.brute_force_topk(corpus, queries, k=5).localCheckpoint()
    print(f"exact truth: {time.time() - t0:.1f}s")

    configs = [("manual (8,16) — sf-scale point", 8, 16), ("auto _auto_planes(N)", None, None)]

    def run(planes, tables) -> float:
        got = similarity.lsh_topk(
            corpus, queries, dim=DIM, planes=planes, tables=tables,
            k=5, probe_hamming=1,
        )
        return recall_at_5(got, truth)

    recall = {label: run(planes, tables) for label, planes, tables in configs}  # warm-up
    walls = {label: [] for label, _, _ in configs}
    for r in range(rounds):
        for label, planes, tables in configs if r % 2 == 0 else configs[::-1]:
            t0 = time.time()
            run(planes, tables)
            walls[label].append(time.time() - t0)
    for label, planes, tables in configs:
        p, t = (planes, tables) if planes else similarity._auto_planes(n)
        print(
            f"{label}: planes={p} tables={t} expected-bucket~{n / 2**p:.0f} "
            f"recall@5={recall[label]:.3f} wall median={statistics.median(walls[label]):.1f}s "
            f"runs={' '.join(f'{x:.1f}' for x in walls[label])}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
