"""Feature-store read-path queries, oracle-verified on the events table.

The events table plays the role of an imported feature stream: entity =
``user_id``, feature = ``event_type``, value = ``value``, feature_time =
``ts`` — exactly the long format FS6 produces. These queries verify the J2 /
FS7 semantics (latest, point-in-time, as-of spine join) against ANSI-SQL
window twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.feature_store.store import latest_values, latest_wide
from mlops_pipelines_featurestore_gcp_spark.operators.asof import asof_join
from mlops_pipelines_featurestore_gcp_spark.plans.registry import register
from mlops_pipelines_featurestore_gcp_spark.sources.catalog import load_table


def _event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → canonical long feature-values frame."""
    return load_table(spark, "events", sf_dir).select(
        F.col("user_id").cast("string").alias("entity_id"),
        F.col("event_type").alias("feature_name"),
        F.col("value").cast("string").alias("value"),
        F.col("ts").alias("feature_time"),
    )


_EVENT_VALUES_SQL = """
    SELECT CAST(user_id AS VARCHAR) AS entity_id,
           event_type AS feature_name,
           CAST(value AS VARCHAR) AS value,
           ts AS feature_time
    FROM events
"""


# NOTE: the r1 ``f01_latest_per_entity`` query (bare latest-per-(entity,
# feature) long read) was folded into f02 and f05 — registry slots are
# capped at 50 by the driver, and f02 exercises that read's latest-wins
# ``max_by`` (as of a cutoff) and f05 the same ``max_by`` pivoted.


@register(
    "f02_point_in_time_read",
    oracle=f"""
    WITH v AS ({_EVENT_VALUES_SQL})
    SELECT entity_id, feature_name, value, feature_time
    FROM v
    WHERE feature_time <= TIMESTAMP '2024-01-15 00:00:00'
    QUALIFY ROW_NUMBER() OVER (PARTITION BY entity_id, feature_name
                               ORDER BY feature_time DESC, value DESC) = 1
    """,
    tags=("feature_store", "window"),
)
def f02_point_in_time_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: latest value per (entity, feature) as of a fixed timestamp."""
    return latest_values(_event_values(spark, sf_dir), at="2024-01-15 00:00:00")


@register(
    "f03_asof_spine_join",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    views AS (
      SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'view'
    )
    SELECT p.event_id, p.user_id, p.ts,
           v.event_id AS view_event_id, v.value AS view_value
    FROM purchases p
    LEFT JOIN views v ON v.user_id = p.user_id AND v.ts <= p.ts
    QUALIFY ROW_NUMBER() OVER (PARTITION BY p.event_id
                               ORDER BY v.ts DESC, v.event_id DESC) = 1
    """,
    tags=("feature_store", "asof", "join"),
)
def f03_asof_spine_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the user's latest prior view.

    The Spark side uses the union-merge as-of operator (one shuffle+sort on
    user_id); the oracle is the equivalent-but-quadratic range-join + window,
    which is only viable at oracle scale — that asymmetry is the point of
    owning a real as-of operator.
    """
    events = load_table(spark, "events", sf_dir)
    purchases = events.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    views = events.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_event_id"), F.col("value").alias("view_value")
    )
    out = asof_join(
        purchases,
        views,
        "user_id",
        left_time="ts",
        right_time="view_ts",
        tie_break="view_event_id",
    )
    return out.select("event_id", "user_id", "ts", "view_event_id", "view_value")


@register(
    "f04_feature_import_melt",
    oracle="""
    WITH src AS (
      SELECT c_custkey, c_acctbal, c_mktsegment, c_nationkey FROM customer
    )
    SELECT CAST(c_custkey AS VARCHAR) AS entity_id, fv.feature_name, fv.value
    FROM src, LATERAL (VALUES
        ('c_acctbal', CAST(c_acctbal AS VARCHAR)),
        ('c_mktsegment', CAST(c_mktsegment AS VARCHAR)),
        ('c_nationkey', CAST(c_nationkey AS VARCHAR))
    ) AS fv(feature_name, value)
    """,
    tags=("feature_store", "import"),
    defer=True,
)
def f04_feature_import_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FS6's wide→long melt (import_feature_values' core transform), minus
    the wall-clock feature_time so the oracle can replay it."""
    c = load_table(spark, "customer", sf_dir)
    feats = ["c_acctbal", "c_mktsegment", "c_nationkey"]
    return c.select(
        F.col("c_custkey").cast("string").alias("entity_id"),
        F.explode(
            F.array(*[F.struct(F.lit(f).alias("feature_name"), F.col(f).cast("string").alias("value")) for f in feats])
        ).alias("fv"),
    ).select("entity_id", "fv.feature_name", "fv.value")


@register(
    "f05_latest_wide_pivot",
    oracle=f"""
    WITH v AS ({_EVENT_VALUES_SQL}),
    latest AS (
      SELECT entity_id, feature_name, value
      FROM v
      QUALIFY ROW_NUMBER() OVER (PARTITION BY entity_id, feature_name
                                 ORDER BY feature_time DESC, value DESC) = 1
    )
    SELECT entity_id,
           MAX(CASE WHEN feature_name = 'click' THEN value END) AS click,
           MAX(CASE WHEN feature_name = 'error' THEN value END) AS error,
           MAX(CASE WHEN feature_name = 'purchase' THEN value END) AS purchase,
           MAX(CASE WHEN feature_name = 'signup' THEN value END) AS signup,
           MAX(CASE WHEN feature_name = 'view' THEN value END) AS view
    FROM latest GROUP BY entity_id
    """,
    tags=("feature_store", "pivot"),
    defer=True,
)
def f05_latest_wide_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FS7 wide read: latest long values pivoted to one row per entity,
    through read_latest's builder (``latest_wide``). Pivot values are pinned
    so the plan is static."""
    return latest_wide(_event_values(spark, sf_dir), ["entity_id"], ["click", "error", "purchase", "signup", "view"])


def _psi_sql(src: str, xcol: str, ref_pred: str, cur_pred: str, feature: str) -> str:
    """DuckDB twin of operators/drift.psi over a date-split snapshot pair:
    identical fixed-width binning, add-1 smoothing, nano-quantized terms."""
    return f"""
    SELECT '{feature}' AS feature,
           floor((SUM(t) / 1e9) * 1000000.0 + 0.5) / 1000000.0 AS psi,
           ANY_VALUE(tr) AS n_ref, ANY_VALUE(tc) AS n_cur,
           CASE WHEN floor((SUM(t) / 1e9) * 1000000.0 + 0.5) / 1000000.0 < 0.1 THEN 'stable'
                WHEN floor((SUM(t) / 1e9) * 1000000.0 + 0.5) / 1000000.0 < 0.25 THEN 'drifting'
                ELSE 'shifted' END AS verdict
    FROM (
      WITH ref AS (SELECT {xcol} AS x FROM {src} WHERE {ref_pred} AND {xcol} IS NOT NULL),
      cur AS (SELECT {xcol} AS x FROM {src} WHERE {cur_pred} AND {xcol} IS NOT NULL),
      b AS (SELECT MIN(x) AS lo, MAX(x) AS hi, COUNT(x) AS n FROM ref),
      rc AS (SELECT GREATEST(0, LEAST(9, CAST(floor((x - b.lo) / ((b.hi - b.lo) / 10.0)) AS BIGINT))) AS bin,
                    COUNT(*) AS cnt
             FROM ref, b GROUP BY 1),
      cc AS (SELECT GREATEST(0, LEAST(9, CAST(floor((x - b.lo) / ((b.hi - b.lo) / 10.0)) AS BIGINT))) AS bin,
                    COUNT(*) AS cnt
             FROM cur, b GROUP BY 1),
      tot AS (SELECT (SELECT COUNT(*) FROM ref) AS tr, (SELECT COUNT(*) FROM cur) AS tc),
      terms AS (
        SELECT CAST(floor(((COALESCE(cc.cnt, 0) + 1.0) / (tot.tc + 10.0)
                           - (COALESCE(rc.cnt, 0) + 1.0) / (tot.tr + 10.0))
                          * ln(((COALESCE(cc.cnt, 0) + 1.0) / (tot.tc + 10.0))
                               / ((COALESCE(rc.cnt, 0) + 1.0) / (tot.tr + 10.0)))
                          * 1e9 + 0.5) AS BIGINT) AS t,
               tot.tr AS tr, tot.tc AS tc
        FROM range(0, 10) g(bin)
        LEFT JOIN rc ON rc.bin = g.bin
        LEFT JOIN cc ON cc.bin = g.bin
        CROSS JOIN tot
      )
      SELECT * FROM terms
    )
    """


_DRIFT_SPLIT_ORDERS = "TIMESTAMP '1998-05-01 00:00:00'"
_DRIFT_SPLIT_EVENTS = "TIMESTAMP '2024-01-16 00:00:00'"


@register(
    "f06_feature_drift",
    oracle=(
        _psi_sql(
            "orders",
            "o_totalprice",
            f"o_orderdate < {_DRIFT_SPLIT_ORDERS}",
            f"o_orderdate >= {_DRIFT_SPLIT_ORDERS}",
            "o_totalprice",
        )
        + " UNION ALL "
        + _psi_sql(
            "events",
            "value",
            f"ts < {_DRIFT_SPLIT_EVENTS}",
            f"ts >= {_DRIFT_SPLIT_EVENTS}",
            "value",
        )
    ),
    tags=("feature_store", "drift", "monitoring"),
    defer=True,
)
def f06_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-serving drift monitor (operators/drift.py): PSI of the
    order-price and event-value distributions across a time split —
    reference-side fixed-width bins, add-1 smoothing, nano-quantized exact
    integer term sums. The engine-native form of the managed feature-
    monitoring service the reference configures in Vertex."""
    from mlops_pipelines_featurestore_gcp_spark.operators.drift import psi

    orders = load_table(spark, "orders", sf_dir)
    split_o = F.lit("1998-05-01 00:00:00").cast("timestamp")
    a = psi(
        orders.where(F.col("o_orderdate") < split_o),
        orders.where(F.col("o_orderdate") >= split_o),
        "o_totalprice",
    )
    events = load_table(spark, "events", sf_dir)
    split_e = F.lit("2024-01-16 00:00:00").cast("timestamp")
    b = psi(
        events.where(F.col("ts") < split_e),
        events.where(F.col("ts") >= split_e),
        "value",
    )
    return a.unionByName(b)
