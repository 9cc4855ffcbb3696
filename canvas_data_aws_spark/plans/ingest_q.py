"""Part A dataflow queries (SURVEY.md §2): the sync reconciler exercised
through the driver's oracle gate using deterministic manifests derived from
fixture tables (remote = even order keys, local = keys divisible by 3 —
guaranteeing all three verdicts appear)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from canvas_data_aws_spark.ingest.reconciler import RAW_PREFIX
from canvas_data_aws_spark.plans.registry import register
from canvas_data_aws_spark.sources.parquet import load_table


def with_key(manifest: DataFrame, prefix: str = RAW_PREFIX) -> DataFrame:
    """partition_by_table: key = '{prefix}{table}/{filename}'."""
    return manifest.withColumn(
        "key", F.concat(F.lit(prefix), F.col("table"), F.lit("/"), F.col("filename"))
    )


def reconcile(
    remote: DataFrame,
    local: DataFrame,
    prefix: str = RAW_PREFIX,
    additive: bool = False,
) -> DataFrame:
    """The sync engine's verdicts (``ingest.reconciler.plan_verdicts``) as
    ONE join over a remote manifest DataFrame (table, filename, url) and a
    local listing DataFrame (key).

    Mirror mode (default): full-outer join; verdict in ('skip', 'fetch',
    'delete'). The two anti-joins of the reference fall out of one exchange
    instead of two. Additive mode (``additive=True``): left join from the
    remote manifest; verdict in ('skip', 'fetch') only.
    """
    r = with_key(remote, prefix).alias("r")
    l = local.select(F.col("key").alias("lkey")).alias("l")
    how = "left_outer" if additive else "full_outer"
    joined = r.join(l, F.col("r.key") == F.col("l.lkey"), how)
    verdict = F.when(F.col("l.lkey").isNull(), F.lit("fetch"))
    if not additive:
        verdict = verdict.when(F.col("r.key").isNull(), F.lit("delete"))
    return joined.select(
        F.coalesce(F.col("r.key"), F.col("l.lkey")).alias("key"),
        F.col("r.table").alias("table"),
        F.col("r.filename").alias("filename"),
        F.col("r.url").alias("url"),
        verdict.otherwise(F.lit("skip")).alias("verdict"),
    )


def _remote_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic remote listing: one 'file' per even order key."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 2 == 0)
        .select(
            F.lit("orders").alias("table"),
            F.concat(F.col("o_orderkey").cast("string"), F.lit(".gz")).alias("filename"),
            F.lit(None).cast("string").alias("url"),
        )
    )


def _local_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic local listing: keys for order keys divisible by 3."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select(
            F.concat(
                F.lit("raw_files/orders/"), F.col("o_orderkey").cast("string"), F.lit(".gz")
            ).alias("key")
        )
    )


_MANIFEST_CTE = """
    WITH remote AS (
      SELECT 'raw_files/orders/' || CAST(o_orderkey AS VARCHAR) || '.gz' AS key
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    local AS (
      SELECT 'raw_files/orders/' || CAST(o_orderkey AS VARCHAR) || '.gz' AS key
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    plan AS (
      SELECT COALESCE(r.key, l.key) AS key,
             CASE WHEN l.key IS NULL THEN 'fetch'
                  WHEN r.key IS NULL THEN 'delete'
                  ELSE 'skip' END AS verdict
      FROM remote r FULL OUTER JOIN local l ON r.key = l.key
    )
"""


@register(
    "sync_diff_verdicts",
    _MANIFEST_CTE + "SELECT key, verdict FROM plan",
    doc="The sync core (diff_fetch_set + diff_delete_set, "
    "sync-canvas-data-files.py:58-112) as ONE full-outer manifest join with "
    "a three-way skip/fetch/delete verdict — the centerpiece ingest operator.",
)
def sync_diff_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    plan = reconcile(_remote_manifest(spark, sf_dir), _local_manifest(spark, sf_dir))
    return plan.select("key", "verdict")


@register(
    "sync_metrics_summary",
    _MANIFEST_CTE
    + """
    SELECT COUNT(*) AS total_files,
           CAST(SUM(CASE WHEN verdict = 'fetch'  THEN 1 ELSE 0 END) AS BIGINT) AS files_to_fetch,
           CAST(SUM(CASE WHEN verdict = 'skip'   THEN 1 ELSE 0 END) AS BIGINT) AS files_skipped,
           CAST(SUM(CASE WHEN verdict = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS files_removed
    FROM plan
    """,
    doc="metrics_summary parity (sync-canvas-data-files.py:50-54,125-139): "
    "run counts derived from the reconciliation plan itself.",
)
def sync_metrics_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    plan = reconcile(_remote_manifest(spark, sf_dir), _local_manifest(spark, sf_dir))
    return plan.agg(
        F.count(F.lit(1)).alias("total_files"),
        F.sum((F.col("verdict") == "fetch").cast("bigint")).cast("bigint").alias("files_to_fetch"),
        F.sum((F.col("verdict") == "skip").cast("bigint")).cast("bigint").alias("files_skipped"),
        F.sum((F.col("verdict") == "delete").cast("bigint")).cast("bigint").alias("files_removed"),
    )


@register(
    "sync_reconcile_scale",
    """
    WITH remote AS (
      SELECT 'raw_files/t/' || CAST(i AS VARCHAR) || '.gz' AS key
      FROM generate_series(0, 99999) AS g(i) WHERE i % 10 <> 9
    ),
    local AS (
      SELECT 'raw_files/t/' || CAST(i AS VARCHAR) || '.gz' AS key
      FROM generate_series(0, 99999) AS g(i) WHERE i % 10 NOT IN (0, 1)
    )
    SELECT CASE WHEN l.key IS NULL THEN 'fetch'
                WHEN r.key IS NULL THEN 'delete'
                ELSE 'skip' END AS verdict,
           COUNT(*) AS n_files
    FROM remote r FULL OUTER JOIN local l ON r.key = l.key
    GROUP BY 1
    """,
    doc="Sync throughput at realistic manifest scale: reconcile 100k-file "
    "remote/local listings (the reference fans out one Lambda invocation "
    "per file and re-invokes itself on timeout, sync-canvas-data-files.py:"
    "78-98; here the whole diff is one join). Also the bench's ingest "
    "throughput headline.",
)
def sync_reconcile_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = 100_000
    remote = (
        spark.range(n)
        .filter(F.col("id") % 10 != 9)
        .select(
            F.lit("t").alias("table"),
            F.concat(F.col("id").cast("string"), F.lit(".gz")).alias("filename"),
            F.lit(None).cast("string").alias("url"),
        )
    )
    local = (
        spark.range(n)
        .filter(~(F.col("id") % 10).isin(0, 1))
        .select(
            F.concat(F.lit("raw_files/t/"), F.col("id").cast("string"), F.lit(".gz")).alias("key")
        )
    )
    plan = reconcile(remote, local)
    return plan.groupBy("verdict").agg(F.count(F.lit(1)).alias("n_files"))


@register(
    "partition_by_table_layout",
    """
    SELECT 'raw_files/' || t.tbl || '/' || t.fname AS key, t.tbl AS table_name
    FROM (
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'orders' ELSE 'lineitem' END AS tbl,
             CAST(o_orderkey AS VARCHAR) || '.gz' AS fname
      FROM orders
    ) t
    """,
    doc="partition_by_table: physical key layout raw_files/{table}/{filename} "
    "(sync-canvas-data-files.py:60) as a pure projection.",
)
def partition_by_table_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 2 == 0, "orders").otherwise("lineitem").alias("table"),
        F.concat(F.col("o_orderkey").cast("string"), F.lit(".gz")).alias("filename"),
        F.lit(None).cast("string").alias("url"),
    )
    return with_key(o).select("key", F.col("table").alias("table_name"))
