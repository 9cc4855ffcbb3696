"""Catalog upsert tests (ddl_create_or_update / catalog_loop parity,
sync-canvas-data-files.py:114-122,170-235)."""

from __future__ import annotations

import gzip
import os

from canvas_data_aws_spark.sources.catalog import create_or_update_table, register_schema
from canvas_data_aws_spark.sources.schema import table_struct

TABLE = {
    "tableName": "course_dim",
    "description": "courses",
    "columns": [
        {"name": "id", "type": "bigint"},
        {"name": "name", "type": "varchar", "length": 256},
        {"name": "created_at", "type": "datetime"},
    ],
}


def _write_raw(base: str, table: str, rows: list[str]) -> None:
    d = os.path.join(base, table)
    os.makedirs(d, exist_ok=True)
    with gzip.open(os.path.join(d, f"{table}-0.tsv.gz"), "wt") as f:
        f.write("\n".join(rows) + "\n")


def test_create_then_update_then_query(spark, tmp_path):
    base = str(tmp_path / "raw")
    _write_raw(base, "course_dim", ["1\tIntro\t2020-01-01 00:00:00", "2\t\\N\t2020-02-01 00:00:00"])
    struct = table_struct(TABLE)

    assert create_or_update_table(spark, "course_dim", struct, f"{base}/course_dim") == "created"
    assert create_or_update_table(spark, "course_dim", struct, f"{base}/course_dim") == "updated"

    rows = spark.sql(
        "SELECT id, name FROM default.`course_dim` ORDER BY id"
    ).collect()
    assert [(r["id"], r["name"]) for r in rows] == [(1, "Intro"), (2, None)]
    spark.sql("DROP TABLE default.`course_dim`")


def test_varchar_length_and_comment_round_trip(spark, tmp_path):
    """Declared varchar(n) and column descriptions survive catalog
    registration (the Glue-side fidelity of get_column_type,
    sync-canvas-data-files.py:155-159) and the table still queries as
    string semantics."""
    base = str(tmp_path / "raw")
    _write_raw(base, "vc_dim", ["1\tshort\t2020-01-01 00:00:00"])
    table = {
        "tableName": "vc_dim",
        "columns": [
            {"name": "id", "type": "bigint"},
            {"name": "name", "type": "varchar", "length": 256, "description": "it's a name"},
            {"name": "created_at", "type": "datetime"},
        ],
    }
    create_or_update_table(spark, "vc_dim", table_struct(table), f"{base}/vc_dim")
    desc = {r["col_name"]: (r["data_type"], r["comment"]) for r in spark.sql(
        "DESCRIBE TABLE default.`vc_dim`"
    ).collect()}
    assert desc["name"][0] == "varchar(256)"
    assert desc["name"][1] == "it's a name"
    assert desc["id"][0] == "bigint"
    # still queries (varchar plans as string)
    assert spark.sql("SELECT name FROM default.`vc_dim`").first()["name"] == "short"
    # re-registration (schema evolution path) keeps the declared type
    create_or_update_table(spark, "vc_dim", table_struct(table), f"{base}/vc_dim")
    typ = [r["data_type"] for r in spark.sql("DESCRIBE TABLE default.`vc_dim`").collect()
           if r["col_name"] == "name"]
    assert typ == ["varchar(256)"]
    spark.sql("DROP TABLE default.`vc_dim`")


def test_register_schema_counts(spark, tmp_path):
    base = str(tmp_path / "raw")
    schema = {
        "a_dim": {"tableName": "a_dim", "columns": [{"name": "id", "type": "bigint"}]},
        "b_fact": {"tableName": "b_fact", "columns": [{"name": "v", "type": "double precision"}]},
    }
    for t in ("a_dim", "b_fact"):
        os.makedirs(os.path.join(base, t), exist_ok=True)

    r1 = register_schema(spark, schema, base)
    assert (r1.created, r1.updated) == (2, 0)
    r2 = register_schema(spark, schema, base)
    assert (r2.created, r2.updated) == (0, 2)
    for t in ("a_dim", "b_fact"):
        spark.sql(f"DROP TABLE default.`{t}`")

