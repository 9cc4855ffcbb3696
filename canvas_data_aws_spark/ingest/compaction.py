"""Raw-zone -> curated-zone compaction.

The reference stores gzip TSV with no partition keys
(sync-canvas-data-files.py:177-202,184): non-splittable files (one task per
file, SURVEY.md §4) that any query must fully scan and parse. This job
re-encodes a raw table into the curated zone as Parquet, optionally
partitioned, with sized output files — after which every downstream scan
gets vectorized reads, predicate pushdown, column pruning, and partition
pruning for free.

Scale levers:
- the scan's partitions set the parallelism and the output files (gzip is
  unsplittable: one task per raw file); no count or shuffle precedes the
  write. ``target_rows_per_file`` (``maxRecordsPerFile``) bounds file size:
  the small-files and the giant-files problems both kill 100 TB scans.
- ``partition_by`` turns full scans into directory-pruned scans for the
  given predicates (fixing the reference's PartitionKeys: []).
- low-cardinality partitioning uses repartition(partition cols) first so
  each output directory is written by few tasks (no small-file explosion).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

from canvas_data_aws_spark.sources.tsv import read_tsv_gzip


def compact_table(
    df: DataFrame,
    out_path: str,
    partition_by: list[str] | None = None,
    target_rows_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    if partition_by:
        # co-locate rows of each partition value; file sizing within a
        # directory is then governed by maxRecordsPerFile
        (
            df.repartition(*partition_by)
            .write.mode(mode)
            .option("maxRecordsPerFile", target_rows_per_file)
            .partitionBy(*partition_by)
            .parquet(out_path)
        )
    else:
        df.write.mode(mode).option("maxRecordsPerFile", target_rows_per_file).parquet(out_path)


def compact_raw_tsv(
    spark: SparkSession,
    raw_table_dir: str,
    schema: StructType,
    out_path: str,
    partition_by: list[str] | None = None,
    target_rows_per_file: int = 1_000_000,
) -> None:
    """gzip TSV table directory -> curated Parquet at ``out_path``, in one
    Spark job. Read it back with the known ``schema``: no inference job."""
    raw = read_tsv_gzip(spark, raw_table_dir, schema)
    compact_table(raw, out_path, partition_by, target_rows_per_file)


def zorder_value(cols: list[Column], bits: int = 16) -> Column:
    """Z-order (Morton) key from normalized column ranks: interleave the top
    ``bits`` bits of each input so a sort on the result clusters rows that
    are close in EVERY dimension — per-file min/max footers then prune on
    any of the columns, not just the leading sort key. Pure shift/or
    expression chain, fully codegen'd."""
    n = len(cols)
    out = F.lit(0).cast("bigint")
    for bit in range(bits - 1, -1, -1):
        for ci, c in enumerate(cols):
            out = F.shiftleft(out, 1).bitwiseOR(
                F.shiftright(c.cast("bigint"), bit).bitwiseAND(F.lit(1))
            )
    return out


def zorder_write(
    df: DataFrame,
    out_path: str,
    zorder_by: list[str],
    bits: int = 16,
    target_rows_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Rewrite a table clustered by the Z-order of ``zorder_by`` columns —
    the multi-dimensional data-skipping layout (Delta/Iceberg OPTIMIZE
    ZORDER, built here from first principles on plain parquet).

    One stats pass (at 100 TB: footer-only min/max/count aggregates)
    min-max normalizes each column to ``bits`` bits and sizes the files;
    rows are range-partitioned, sorted on the Morton key, written size-capped.
    A predicate on ANY z-column then skips most files/row-groups via
    parquet min/max stats — where a plain sort only skips on its leading
    column. Content is untouched (lossless rewrite; the oracle gate checks
    exactly that)."""
    if not zorder_by:
        raise ValueError("zorder_by must name at least one column")
    # The interleaved key lives in a signed bigint: cap total bits at 63 so a
    # wide column list can't overflow into the sign bit and corrupt the sort.
    bits = max(1, min(bits, 63 // len(zorder_by)))
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__min_{c}") for c in zorder_by],
        *[F.max(F.col(c).cast("double")).alias(f"__max_{c}") for c in zorder_by],
        F.count(F.lit(1)).alias("__n"),
    ).first()
    scale = (1 << bits) - 1
    norm_cols = []
    for c in zorder_by:
        lo, hi = stats[f"__min_{c}"], stats[f"__max_{c}"]
        if lo is None or hi is None:  # empty input or all-null column
            lo, hi = 0.0, 0.0
        span = (hi - lo) or 1.0
        norm_cols.append(
            F.round(
                (F.coalesce(F.col(c).cast("double"), F.lit(lo)) - F.lit(lo))
                / F.lit(span)
                * scale
            ).cast("bigint")
        )
    n_files = max(1, (stats["__n"] + target_rows_per_file - 1) // target_rows_per_file)
    (
        df.withColumn("__z", zorder_value(norm_cols, bits))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .option("maxRecordsPerFile", target_rows_per_file)
        .parquet(out_path)
    )
