"""Catalog registration: the engine-native `ddl_create_or_update`.

The reference upserts every table into AWS Glue so a SQL engine can query it
(create, fall back to update on AlreadyExists —
/root/reference/lambda/sync-canvas-data-files.py:170-235). Here the catalog
is Spark's own (`spark.catalog` / metastore): register each table as an
external datasource table over its directory, upserting on re-registration.

Tables register in the ``default`` database as headerless gzip TSV
(reference serde fidelity, :177-202).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from canvas_data_aws_spark.sources.schema import schema_registry
from canvas_data_aws_spark.sources.tsv import NULL_MARKER


@dataclass
class CatalogResult:
    created: int = 0
    updated: int = 0


def _ddl_columns(struct: StructType) -> str:
    """Column DDL with declared-type fidelity: a field carrying
    ``varchar_length`` metadata (sources/schema.py column_field) registers
    as ``varchar(n)`` — the same declared type the reference writes to Glue
    (get_column_type, sync-canvas-data-files.py:155-159) — and comments
    survive as COMMENT clauses. Spark stores varchar(n) in catalog metadata
    while planning on plain StringType, so query plans are unchanged."""
    cols = []
    for f in struct.fields:
        typ = f.dataType.simpleString()
        if f.metadata.get("varchar_length"):
            typ = f"varchar({int(f.metadata['varchar_length'])})"
        comment = f.metadata.get("comment")
        comment_sql = " COMMENT '{}'".format(str(comment).replace("'", "''")) if comment else ""
        cols.append(f"`{f.name}` {typ}{comment_sql}")
    return ", ".join(cols)


def create_or_update_table(
    spark: SparkSession,
    name: str,
    struct: StructType,
    location: str,
) -> str:
    """Upsert one external table definition; returns 'created' | 'updated'
    (parity with create_or_update_table, sync-canvas-data-files.py:170-235,
    including its try-create-except-update control flow)."""
    qualified = f"default.`{name}`"
    exists = spark.catalog.tableExists(qualified)
    if exists:
        # schema evolution = replace the catalog entry (the reference calls
        # glue.update_table with the same new definition, :231-235)
        spark.sql(f"DROP TABLE IF EXISTS {qualified}")
    # SQL string literals escape-process backslashes: '\N' on disk must be
    # spelled '\\N' in the DDL text.
    null_lit = NULL_MARKER.replace("\\", "\\\\")
    spark.sql(
        f"CREATE TABLE {qualified} ({_ddl_columns(struct)}) USING csv "
        f"OPTIONS (sep '\\t', header 'false', nullValue '{null_lit}', compression 'gzip') "
        f"LOCATION '{location}'"
    )
    return "updated" if exists else "created"


def register_schema(
    spark: SparkSession,
    schema: dict,
    base_location: str,
) -> CatalogResult:
    """Apply create_or_update_table to every table in a Canvas-style schema
    dict (the catalog loop, sync-canvas-data-files.py:114-122)."""
    result = CatalogResult()
    for table_name, struct in schema_registry(schema).items():
        verdict = create_or_update_table(
            spark, table_name, struct, f"{base_location}/{table_name}"
        )
        if verdict == "created":
            result.created += 1
        else:
            result.updated += 1
    return result

