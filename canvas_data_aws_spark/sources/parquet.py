"""Curated-zone (columnar) table loaders.

The reference's at-rest model is row-oriented gzip TSV registered table-by-
table in a catalog (see /root/reference/lambda/sync-canvas-data-files.py:177-202);
its columnar benefits are delegated entirely to the downstream engine. Our
curated zone is Parquet so Catalyst gets predicate pushdown, column pruning
and vectorized scans for free — strictly better than the reference's storage
(SURVEY.md §4). The driver's fixture tables are already Parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The driver fixture corpus (TESTDATA.md): TPC-H-ish star schema + extension
# tables for streaming / LLM-data operators.
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables — always broadcast-join candidates at any scale.
SMALL_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier", "part", "customer"})

# path -> (file identity, footer schema); see _read_parquet
_SCHEMAS: dict[str, tuple[list, T.StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read ``path`` with its footer schema, inferred once per file identity:
    inference is a Spark job, a read with an explicit schema launches none.
    The identity is ``(name, st_mtime_ns, st_size)`` of every file under
    ``path``, so a rewritten table is inferred afresh."""
    files = [path] if os.path.isfile(path) else [
        os.path.join(d, f) for d, _, names in os.walk(path) for f in names
    ]
    ident = sorted((f, st.st_mtime_ns, st.st_size) for f in files for st in [os.stat(f)])
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == ident:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (ident, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with the schema its Parquet footer declares —
    schemas are *declared*, never inferred from data (the reference registers
    explicit typed columns in its catalog; footers serve that role here).
    The footer schema is resolved once per file identity, as a catalog
    lookup would be: a repeat read then plans without a footer-scan job,
    and rewritten files are resolved afresh.

    ``events.ts`` has shipped in three physical encodings across fixture
    generations: parquet TIMESTAMP(NANOS) (read as long via the session's
    ``nanosAsLong`` default, then converted), TIMESTAMP(MICROS)
    timezone-naive (TIMESTAMP_NTZ), and plain TIMESTAMP. Normalize all three
    to a session-TZ TIMESTAMP (UTC, a ``get_spark`` default, as DuckDB reads
    naive values) by the resolved ``ts`` type — never assume one encoding."""
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name != "events":
        return df
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # Legacy nanos-as-long fixture: lossless nanos -> micros.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        # Naive micros fixture: with the session TZ pinned to UTC this
        # cast is a pure type relabel (identical wall-clock + epoch).
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df
