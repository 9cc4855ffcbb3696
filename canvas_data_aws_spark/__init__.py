"""canvas_data_aws_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference system
(Harvard-University-iCommons/canvas-data-aws, surveyed in SURVEY.md): an
incremental file-sync/ingest pipeline plus the full relational query surface
that the reference delegates to an external SQL engine over its catalog.

Design stance (SURVEY.md §7): a thin, well-tested layer of named operators
over Spark's DataFrame API and Catalyst — declarative plans, built-in
functions, broadcast/AQE-aware joins — not a translation of the reference's
Lambda choreography.

Layout:
    session     SparkSession factory (AQE, Arrow, sane shuffle defaults)
    sources     parquet/TSV readers, Canvas schema -> StructType, catalog
    operators   composite relational ops (as-of join, dedup, similarity, text)
    ingest      manifest reconciler (the reference's sync core) and compaction
    streaming   Structured Streaming slice (file source, windows, dedup)
    plans       the named query registry backing __spark_entry__.py
"""

from canvas_data_aws_spark.session import get_spark, stop_spark

__all__ = ["get_spark", "stop_spark"]

__version__ = "0.1.0"
