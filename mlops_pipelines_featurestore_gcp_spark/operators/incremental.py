"""Incremental corpus dedup: new batches checked against a PERSISTED
fingerprint + MinHash-signature index instead of recomputing corpus-wide
dedup on every ingest.

At 100 TB the batch-vs-corpus asymmetry is everything: re-running
``minhash_lsh_pairs`` over corpus ∪ batch costs a full corpus pass per
ingest; this module makes ingest cost ∝ |batch| (+ the index rows the
batch's keys actually touch):

- **exact layer** — an upsert table keyed by the md5 fingerprint of
  normalized text (``streaming/upsert.py``: hash-bucket-partitioned
  parquet, so the probe reads only the buckets the batch's fingerprints
  land in). A batch doc whose fingerprint is already mapped to a DIFFERENT
  doc is an exact duplicate.
- **near layer** — banded MinHash: the index stores each kept doc's
  band keys and its full signature. A batch doc sharing ≥1 band key with
  an indexed doc becomes a candidate; candidates are scored by signature
  agreement (fraction of equal MinHash components — the standard
  E[agreement] = Jaccard estimator). Signatures, not shingle sets, are
  what's persisted: the index stays O(docs × num_hashes), not O(corpus
  text). In-batch near-dups are resolved with the full EXACT-verify
  pipeline (``minhash_lsh_pairs``) since the batch's shingle sets are in
  hand anyway.

Replay idempotence: every store is a keyed upsert (latest-wins, one
versioned commit per batch), and a doc re-ingested on a retry maps to ITSELF in
the exact layer — reported ``kept``, stores unchanged. This mirrors the
exactly-once construction of ``log_loop``/``upsert`` (the reference's
at-least-once append, ``logger/main.py:107-150``, has no such guard).

No reference analogue — LLM-corpus surface per the driver contract.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.operators import dedup
from mlops_pipelines_featurestore_gcp_spark.streaming.upsert import read_upsert_table, upsert_batch

KEPT = "kept"
EXACT_DUP = "exact_dup"
NEAR_DUP = "near_dup"


@dataclass
class IncrementalDedupIndex:
    """Persistent dedup state under ``path`` (three keyed upsert tables:
    ``exact`` fp→canonical id, ``sigs`` id→signature, ``bands`` band
    rows keyed by (id, band))."""

    spark: SparkSession
    path: str
    k: int = 5
    num_hashes: int = 16
    bands: int = 4
    threshold: float = 0.5
    n_buckets: int = 32

    @property
    def _exact_path(self) -> str:
        return f"{self.path}/exact"

    @property
    def _sigs_path(self) -> str:
        return f"{self.path}/sigs"

    @property
    def _bands_path(self) -> str:
        return f"{self.path}/bands"

    def _read(self, path: str, schema: str) -> DataFrame:
        from pyspark.errors import AnalysisException

        try:
            return read_upsert_table(self.spark, path)
        except AnalysisException:  # first ingest — table doesn't exist yet;
            # any OTHER failure (corrupt files, permissions) must propagate,
            # not silently re-ingest the world against an empty index
            return self.spark.createDataFrame([], schema)

    def ingest(self, docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
        """Dedup ``docs`` against the index AND within the batch, admit the
        survivors, and return a per-doc report:

        ``(id_col, status, dup_of, est_jaccard)`` — status ∈ {kept,
        exact_dup, near_dup}; ``dup_of`` is the retained doc this one
        duplicates (NULL for kept); ``est_jaccard`` is the signature-
        agreement estimate for near-dups (1.0 for exact, NULL for kept).

        Report and stores are deterministic given (index state, batch).
        """
        mcols = [f"__m{i}" for i in range(self.num_hashes)]
        docs = docs.select(F.col(id_col), F.col(text_col)).localCheckpoint(eager=False)
        id_dt = docs.schema[id_col].dataType.simpleString()

        # ---- exact layer -------------------------------------------------
        fps = dedup.fingerprint(docs, id_col, text_col)  # (id, fp)
        # in-batch canonical = min id per fingerprint
        batch_canon = fps.groupBy("fp").agg(F.min(id_col).alias("__batch_canon"))
        stored_exact = self._read(self._exact_path, f"fp string, canonical {id_dt}")
        exact = (
            fps.join(batch_canon, "fp")
            .join(stored_exact.select("fp", F.col("canonical").alias("__stored_canon")), "fp", "left")
            .select(
                F.col(id_col),
                "fp",
                # stored canonical wins over batch canonical; a doc whose
                # canonical is ITSELF is not a duplicate (idempotent replay)
                F.coalesce("__stored_canon", "__batch_canon").alias("__canon"),
            )
            .withColumn("__is_exact_dup", F.col("__canon") != F.col(id_col))
            # EAGER: this lineage reads the exact store, which the admit
            # phase below overwrites — materialize before that job runs
            .localCheckpoint()
        )
        exact_survivors = docs.join(
            exact.where(~F.col("__is_exact_dup")).select(id_col), id_col
        )

        # ---- near layer --------------------------------------------------
        dh = dedup.minhash_doc_hashes(
            exact_survivors, id_col, text_col, k=self.k, num_hashes=self.num_hashes
        )
        # (a) in-batch near-dups: full exact-Jaccard pipeline on the batch
        in_batch_pairs = dedup.minhash_lsh_pairs(
            exact_survivors,
            id_col,
            text_col,
            k=self.k,
            num_hashes=self.num_hashes,
            bands=self.bands,
            threshold=self.threshold,
        )
        # keep the smallest id of each in-batch near-dup cluster; the est
        # for these is the EXACT verified jaccard (best across pairings)
        in_batch_losers = (
            in_batch_pairs.select(
                F.col("doc_b").alias(id_col), F.col("doc_a").alias("dup_of"), F.col("jaccard").alias("est")
            )
            .groupBy(id_col)
            .agg(F.min("dup_of").alias("dup_of"), F.max("est").alias("est"))
        )
        # (b) cross-batch candidates via stored band keys
        batch_bands = dedup.band_key_rows(dh, id_col, num_hashes=self.num_hashes, bands=self.bands)
        stored_bands = self._read(
            self._bands_path, f"bk string, band int, bkey string, doc_id {id_dt}"
        )
        stored_sigs = self._read(
            self._sigs_path,
            f"doc_id {id_dt}, " + ", ".join(f"__m{i} long" for i in range(self.num_hashes)),
        )
        cand = (
            batch_bands.join(
                stored_bands.select("band", "bkey", F.col("doc_id").alias("__old")), ["band", "bkey"]
            )
            .where(F.col("__old") != F.col(id_col))  # replayed doc meets its own bands
            .select(id_col, "__old")
            .distinct()
        )
        agree = sum(
            F.when(F.col(f"__m{i}") == F.col(f"__o{i}"), 1).otherwise(0) for i in range(self.num_hashes)
        )
        cross_matches = (
            cand.join(dh.select(id_col, *mcols), id_col)
            .join(
                stored_sigs.select(F.col("doc_id").alias("__old"), *[F.col(m).alias(f"__o{i}") for i, m in enumerate(mcols)]),
                "__old",
            )
            .withColumn("est", (agree / F.lit(float(self.num_hashes))))
            .where(F.col("est") >= self.threshold)
        )
        cross_losers = (
            cross_matches.groupBy(id_col)
            .agg(F.min("__old").alias("dup_of"), F.max("est").alias("est"))
        )
        # in-batch verdicts are exact — they take precedence over estimates
        near_losers = (
            in_batch_losers.unionByName(cross_losers)
            .groupBy(id_col)
            .agg(F.min("dup_of").alias("__near_of"), F.max("est").alias("__near_est"))
            # EAGER: reads the bands/sigs stores that the admit phase rewrites
            .localCheckpoint()
        )

        # ---- report ------------------------------------------------------
        report = (
            exact.join(near_losers, id_col, "left")
            .select(
                F.col(id_col),
                F.when(F.col("__is_exact_dup"), F.lit(EXACT_DUP))
                .when(F.col("__near_of").isNotNull(), F.lit(NEAR_DUP))
                .otherwise(F.lit(KEPT))
                .alias("status"),
                F.when(F.col("__is_exact_dup"), F.col("__canon"))
                .otherwise(F.col("__near_of"))
                .alias("dup_of"),
                F.when(F.col("__is_exact_dup"), F.lit(1.0))
                .otherwise(F.col("__near_est"))
                .alias("est_jaccard"),
            )
            .localCheckpoint(eager=False)  # pin BEFORE the stores change under it
        )

        # ---- admit survivors ---------------------------------------------
        # index rows are immutable facts (fp→canonical never changes), so a
        # constant version makes replays write byte-identical buckets
        ver = F.lit(0).alias("__v")
        kept_ids = report.where(F.col("status") == KEPT).select(id_col)
        kept_exact = exact.join(kept_ids, id_col).select(
            "fp", F.col(id_col).alias("canonical"), ver
        )
        upsert_batch(self._exact_path, kept_exact, key="fp", version_col="__v", n_buckets=self.n_buckets)
        kept_sigs = dh.join(kept_ids, id_col).select(F.col(id_col).alias("doc_id"), *mcols, ver)
        upsert_batch(self._sigs_path, kept_sigs, key="doc_id", version_col="__v", n_buckets=self.n_buckets)
        kept_bands = (
            batch_bands.join(kept_ids, id_col)
            .select(
                F.concat_ws("|", F.col(id_col).cast("string"), F.col("band").cast("string")).alias("bk"),
                "band",
                "bkey",
                F.col(id_col).alias("doc_id"),
                ver,
            )
        )
        upsert_batch(self._bands_path, kept_bands, key="bk", version_col="__v", n_buckets=self.n_buckets)
        return report

    def dedup_sink(
        self,
        stream: DataFrame,
        checkpoint_dir: str,
        *,
        id_col: str,
        text_col: str,
        report_path: str | None = None,
    ):
        """Attach ``ingest`` as a ``foreachBatch`` streaming sink: every
        micro-batch of documents dedups against the index (and itself),
        survivors are admitted, and the per-doc report optionally appends
        to ``report_path``.

        Replay safety is inherited from ``ingest``: a crashed-and-replayed
        micro-batch re-derives the identical report (its docs now map to
        themselves → ``kept``) and upserts identical bucket contents. The
        report append is keyed by doc id via upsert when ``report_path``
        is set, so replays don't duplicate report rows either.
        """

        def _ingest(batch_df: DataFrame, _batch_id: int) -> None:
            report = self.ingest(batch_df, id_col, text_col)
            if report_path is not None:
                upsert_batch(
                    report_path,
                    report.withColumn("__v", F.lit(0)),
                    key=id_col,
                    version_col="__v",
                    n_buckets=self.n_buckets,
                )

        writer = stream.writeStream.foreachBatch(_ingest).option(
            "checkpointLocation", checkpoint_dir
        )
        return writer.trigger(availableNow=True).start()
