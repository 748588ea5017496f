"""Bucketed tables: co-located storage for shuffle-free joins.

The 100 TB lever the fixture queries can't show: a fact-fact join (e.g.
orders ⋈ lineitem on orderkey) normally shuffles both sides every query.
Writing both tables bucketed by the join key moves that shuffle to write
time — reads then sort-merge join partition-to-partition with NO Exchange.
The reference's BigQuery clustering serves the same role
(`load_component.py` loads are unclustered; this is the upgrade path).

Uses the session catalog's managed tables (`saveAsTable` + `bucketBy`);
`spark.sql.sources.bucketing.enabled` is on by default.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


def save_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_cols: list[str] | str,
    buckets: int = 32,
    sort_cols: list[str] | str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a managed table bucketed (and optionally sorted)
    by the join/aggregation key."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(table):
        # A fresh session's catalog does not know tables written by earlier
        # sessions, but their warehouse directories survive on disk — a
        # create would fail with LOCATION_ALREADY_EXISTS. Only an
        # 'overwrite' write is allowed to clear the orphan: for any other
        # mode the on-disk data may be live (external metastore out of sync,
        # concurrent session) and deleting it would silently destroy a table
        # the caller asked us NOT to replace.
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).path
        orphan = Path(wh) / table.lower()
        if orphan.exists():
            if mode == "overwrite":
                shutil.rmtree(orphan)
            else:
                raise FileExistsError(
                    f"warehouse location {orphan} exists but table {table!r} is "
                    f"not in the catalog; refusing to delete it for mode={mode!r} "
                    f"— use mode='overwrite' to replace it, or register/repair "
                    f"the table in the metastore first"
                )
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = df.write.mode(mode).format("parquet").bucketBy(buckets, *cols)
    if sort_cols:
        scols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        writer = writer.sortBy(*scols)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table (bucket metadata comes from the catalog — a
    plain ``spark.read.parquet`` of the files would lose it)."""
    return spark.table(table)

