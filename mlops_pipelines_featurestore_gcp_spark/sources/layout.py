"""Clustered data layout: range-partitioned, sorted parquet for stats-based
data skipping.

At 100 TB the fastest scan is the one that never opens most of the table.
Parquet readers prune at two levels using column min/max statistics:
row groups (predicate pushdown against footer stats) and whole files
(when the planner can bound a file's key range). Both only help when the
LAYOUT is clustered — a randomly-distributed key has min≈global-min,
max≈global-max in every file, and nothing is skippable.

``save_clustered`` makes the layout property hold by construction:

  1. ``repartitionByRange(n, keys)`` — one range shuffle; every output
     partition (→ file) covers a narrow, near-disjoint key interval,
  2. ``sortWithinPartitions(keys...)`` — rows inside each file are sorted,
     so row-group stats within a file are narrow too (this is the
     "z-order-lite" for a single clustering dimension; true multi-dim
     z-ordering interleaves key bits, same write-side shuffle cost),
  3. plain parquet write — the stats come free in the footers.

This is the write-time-shuffle-for-read-time-skipping trade, the
same economics as ``bucketing.py`` (shuffle-free joins) and the feature
store's ``feature_date`` partitioning (directory pruning): pay one
Exchange at ingest, skip forever.

``layout_stats`` reads the per-file min/max back from the footers —
the measurable layout property tests assert instead of trusting reader
internals.

Reference analogue: none (BigQuery auto-clusters); engine-native feature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def save_clustered(
    df: DataFrame,
    path: str,
    *,
    cluster_by: str | list[str],
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as range-clustered parquet on ``cluster_by``.

    ``num_files`` bounds the range shuffle's partition count (defaults to
    the session's shuffle partitions). Multi-column ``cluster_by`` ranges
    on the first column and sorts lexicographically within files.
    """
    cols = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
    n = num_files or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    (
        df.repartitionByRange(n, *[df[c] for c in cols[:1]])
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )


def z_value(df: DataFrame, cols: list[str], *, bits: int = 16) -> DataFrame:
    """Append ``__z``: the bit-interleaved (Morton) value of ``cols``.

    True multi-dimensional clustering: range-partitioning on a z-value
    keeps BOTH dimensions locally narrow in every file, so predicates on
    either column (or both) skip files — one sort order serving several
    filter columns, where plain ``cluster_by`` one column scatters the
    other.

    Columns are rank-normalized into ``bits``-bit bucket indexes using
    SAMPLED quantile edges: ONE ``approxQuantile`` pass over all columns
    (distributed Greenwald-Khanna sketch, KB-sized driver result), then
    ONE map-side ``Bucketizer`` pass — a JVM binary search of each value
    against its column's split array. ZERO shuffles, no window. The
    earlier ``percent_rank`` formulation was an UNPARTITIONED window —
    Spark moves the whole table through one task per dimension, a
    single-task bottleneck that OOMs at scale (VERDICT r7 #2); sampled
    edges are what Delta's OPTIMIZE ZORDER BY uses (range_partition_id
    over sampled boundaries) for exactly this reason. Quantile (not
    uniform ``width_bucket``) edges keep skewed domains balanced.

    Resolution caps at 2^10 buckets/dim: edge count drives sketch
    precision, and file/row-group pruning gains nothing past
    ``num_files × row_groups_per_file`` cells — 1024/dim is two orders
    of magnitude above any realistic per-write file count. Duplicate
    quantile edges (heavy values) dedupe, merging their buckets. NULLs
    land in bucket 0 (sorted-first, matching the old window order).
    Columns must be numeric (``approxQuantile``'s domain); date or
    timestamp keys should be pre-cast to epoch form by the caller.
    """
    from pyspark.ml.feature import Bucketizer
    from pyspark.sql import functions as F

    qbits = min(bits, 10)
    m = (1 << qbits) - 1  # number of interior edges
    probs = [(i + 1) / (m + 1) for i in range(m)]
    edges = df.stat.approxQuantile(list(cols), probs, 0.5 / (m + 1))
    ninf = float("-inf")
    out = df
    in_cols, norm_cols, splits_arr = [], [], []
    for c, col_edges in zip(cols, edges):
        distinct = sorted(set(float(e) for e in col_edges))
        splits_arr.append([ninf] + distinct + [float("inf")])
        # NULL/NaN → -inf → bucket 0 (Bucketizer itself rejects both;
        # sorted-first matches the old window's null ordering)
        out = out.withColumn(
            f"__d_{c}",
            F.nanvl(F.coalesce(F.col(c).cast("double"), F.lit(ninf)), F.lit(ninf)),
        )
        in_cols.append(f"__d_{c}")
        norm_cols.append(f"__n_{c}")
    bk = Bucketizer(
        inputCols=in_cols, outputCols=[f"{n}_raw" for n in norm_cols],
        splitsArray=splits_arr,
    )
    out = bk.transform(out).drop(*in_cols)
    for nc, splits in zip(norm_cols, splits_arr):
        # SCALE the bucket index to fill [0, 2^qbits-1]: a low-cardinality
        # column dedupes to few edges, and an unscaled index would leave
        # its high Morton bits always zero — the interleave then degrades
        # to single-key ordering and the other dimension goes wide (the
        # exact property percent_rank's *(2^bits-1) multiply guaranteed).
        # Indexes run 0..n_buckets-1, so divide by n_buckets-1 (not
        # n_buckets): the TOP bucket must land exactly on 2^qbits-1, or a
        # 2-bucket column maps to {0, 2^qbits/2} and its high Morton bit
        # stays permanently zero. Identity at full cardinality.
        n_buckets = len(splits) - 1
        out = out.withColumn(
            nc,
            (F.col(f"{nc}_raw").cast("long") * ((1 << qbits) - 1)
             / F.lit(max(n_buckets - 1, 1)))
            .cast("long"),
        ).drop(f"{nc}_raw")
    z = F.lit(0).cast("long")
    for j in range(qbits):
        for i, nc in enumerate(norm_cols):
            bit = F.shiftright(F.col(nc), j).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, j * len(norm_cols) + i))
    return out.withColumn("__z", z).drop(*norm_cols)


def save_zordered(
    df: DataFrame,
    path: str,
    *,
    zorder_by: list[str],
    num_files: int | None = None,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet: range-partition + sort on the Morton
    value of ``zorder_by``, then drop the helper column at write.

    Whole-table-safe: the normalize step is one sampled-quantile pass +
    a map-side projection (see :func:`z_value`), and the only shuffle is
    the ``repartitionByRange`` every clustered write pays anyway."""
    from pyspark.sql import functions as F

    zdf = z_value(df, zorder_by, bits=bits)
    n = num_files or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    (
        zdf.repartitionByRange(n, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def compact_table(
    spark: SparkSession,
    path: str,
    *,
    target_bytes: int = 128 << 20,
    cluster_by: str | list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> dict:
    """Bin-pack a directory of small parquet files into ~``target_bytes``
    files — the standard fix for the small-file problem streaming appends
    and per-batch sinks accumulate (every file costs a footer read, a
    task, and a namenode/liststatus entry; 10k×1 MB files scan an order
    of magnitude slower than 80×128 MB).

    File sizes come from the Hadoop FileSystem API, so any Hadoop-
    compatible store works (local, HDFS, object stores). The output file
    count is ceil(total_bytes/target_bytes); if the directory already has
    that few files the rewrite is SKIPPED (idempotent, safe in a cron
    loop). ``cluster_by`` re-clusters while compacting
    (:func:`save_clustered` — compaction is the natural time to restore
    layout); ``zorder_by`` (mutually exclusive) restores MULTI-dimensional
    clustering via :func:`save_zordered` — since r8 the z-order normalize
    is sampled+map-side, so the z-ordered rewrite costs the same one range
    shuffle as the single-key form (this is what Delta's OPTIMIZE ZORDER
    BY amounts to). Otherwise a plain ``repartition`` round-robins rows
    evenly.

    The frame is eagerly ``localCheckpoint``-ed before the dynamic
    self-overwrite, because the caller owns ``path`` and it is rewritten in
    place (a task retry after the overwrite starts must not re-read the
    half-deleted input; the rollup/upsert stores avoid the barrier by
    writing a new version instead). At 100 TB run this per PARTITION
    DIRECTORY (date=…/), not on the table root: each invocation's checkpoint must
    fit cluster storage, and partition-scoped runs parallelize trivially.

    Returns {files_before, files_after, bytes, skipped}.
    """
    import math

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(hpath, True)
    n_files, total = 0, 0
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            n_files += 1
            total += st.getLen()
    if cluster_by is not None and zorder_by is not None:
        # raise BEFORE the idempotent-skip return so conflicting args
        # fail loudly even on an already-compact directory
        raise ValueError("compact_table: cluster_by and zorder_by are mutually exclusive")
    n_out = max(1, math.ceil(total / target_bytes))
    if n_files <= n_out:
        return {"files_before": n_files, "files_after": n_files, "bytes": total, "skipped": True}
    df = spark.read.parquet(path).localCheckpoint(eager=True)
    if zorder_by is not None:
        save_zordered(df, path, zorder_by=zorder_by, num_files=n_out)
    elif cluster_by is not None:
        save_clustered(df, path, cluster_by=cluster_by, num_files=n_out)
    else:
        df.repartition(n_out).write.mode("overwrite").parquet(path)
    return {"files_before": n_files, "files_after": n_out, "bytes": total, "skipped": False}


def read_clustered(spark: SparkSession, path: str) -> DataFrame:
    """Plain parquet read; range predicates on the cluster key are pushed
    to the scan (``PushedFilters``) where footer stats prune row groups."""
    return spark.read.parquet(path)


def layout_stats(spark: SparkSession, path: str, column: str) -> DataFrame:
    """Per-file min/max of ``column`` from the parquet footers →
    ``(file, n_rows, c_min, c_max)``.

    Footer-only reads (no data pages). This is exactly the information a
    stats-based planner prunes with; asserting the intervals are narrow
    and near-disjoint PROVES the layout enables skipping, independent of
    any particular reader's pruning implementation.
    """
    import glob as _glob
    import os

    import pyarrow.parquet as pq

    rows = []
    for f in sorted(_glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        lo, hi, n = None, None, 0
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            n += rg.num_rows
            for c in range(rg.num_columns):
                col = rg.column(c)
                if col.path_in_schema == column and col.statistics is not None:
                    s = col.statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        if n:
            rows.append((os.path.basename(f), n, lo, hi))
    if not rows:
        return spark.createDataFrame([], "file string, n_rows long, c_min string, c_max string")
    return spark.createDataFrame(rows, ["file", "n_rows", "c_min", "c_max"])
