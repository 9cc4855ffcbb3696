"""End-to-end lifecycle test: the reference's full pipeline (SURVEY.md §3.1)
re-expressed on Spark, one stage at a time against a fake multi-table Canvas
extract:

  remote manifest -> reconcile (skip/fetch/delete) -> streamed fetch ->
  catalog registration (typed external tables) -> analyst SQL (star join)
  -> curated compaction -> pruned columnar query

This is the "a user of the reference could switch" story in one test.
"""

from __future__ import annotations

import gzip
import os

import pyspark.sql.functions as F

from canvas_data_aws_spark.ingest.compaction import compact_raw_tsv
from canvas_data_aws_spark.ingest.fetchers import http_fetcher
from canvas_data_aws_spark.ingest.reconciler import SyncEngine
from canvas_data_aws_spark.sources.catalog import register_schema
from canvas_data_aws_spark.sources.schema import schema_registry

CANVAS_SCHEMA = {
    "user_dim": {
        "tableName": "user_dim",
        "description": "users",
        "columns": [
            {"name": "id", "type": "bigint"},
            {"name": "name", "type": "varchar", "length": 64},
            {"name": "created_at", "type": "datetime"},
        ],
    },
    "submission_fact": {
        "tableName": "submission_fact",
        "description": "submissions",
        "columns": [
            {"name": "user_id", "type": "bigint"},
            {"name": "score", "type": "double precision"},
            {"name": "attempt", "type": "integer"},
        ],
    },
}

USER_ROWS = ["1\tAda\t2020-01-01 00:00:00", "2\tGrace\t2020-02-01 00:00:00", "3\t\\N\t2020-03-01 00:00:00"]
SUB_ROWS = ["1\t90.5\t1", "1\t95.0\t2", "2\t70.25\t1", "3\t\\N\t1"]


def _extract_file(src_dir: str, name: str, rows: list[str]) -> str:
    path = os.path.join(src_dir, name)
    with gzip.open(path, "wt") as f:
        f.write("\n".join(rows) + "\n")
    return path


def test_full_lifecycle(spark, tmp_path):
    # --- upstream: the extract files a Canvas dump would expose -----------
    src = str(tmp_path / "upstream")
    os.makedirs(src)
    _extract_file(src, "user_dim-0.tsv.gz", USER_ROWS)
    _extract_file(src, "submission_fact-0.tsv.gz", SUB_ROWS)
    remote = [
        {"table": "user_dim", "filename": "user_dim-0.tsv.gz", "url": f"file://{src}/user_dim-0.tsv.gz"},
        {"table": "submission_fact", "filename": "submission_fact-0.tsv.gz", "url": f"file://{src}/submission_fact-0.tsv.gz"},
    ]

    # --- 1. sync: reconcile + streamed fetch ------------------------------
    lake = str(tmp_path / "lake")
    engine = SyncEngine(root=lake)
    summary = engine.apply(spark, remote, http_fetcher())
    assert summary.files_fetched == 2 and summary.files_removed == 0

    # --- 2. catalog: typed external tables over the raw zone --------------
    result = register_schema(spark, CANVAS_SCHEMA, f"{lake}/raw_files")
    assert result.created == 2

    # --- 3. analyst SQL: star join over the registered tables -------------
    out = spark.sql(
        """
        SELECT u.name, COUNT(*) AS n_submissions, ROUND(AVG(s.score), 2) AS avg_score
        FROM default.`submission_fact` s
        JOIN default.`user_dim` u ON u.id = s.user_id
        GROUP BY u.name
        ORDER BY u.name NULLS LAST
        """
    ).collect()
    assert [(r["name"], r["n_submissions"], r["avg_score"]) for r in out] == [
        ("Ada", 2, 92.75),
        ("Grace", 1, 70.25),
        (None, 1, None),
    ]

    # --- 4. incremental re-sync: converged => all skips; drop a file ------
    summary2 = SyncEngine(root=lake).apply(spark, remote[:1], http_fetcher())
    assert summary2.files_skipped == 1 and summary2.files_removed == 1  # mirror delete

    # --- 5. curated zone: compact the raw TSV to partition-sized parquet --
    structs = schema_registry(CANVAS_SCHEMA)
    curated = str(tmp_path / "curated" / "user_dim")
    compact_raw_tsv(spark, f"{lake}/raw_files/user_dim", structs["user_dim"], curated)
    cur_df = spark.read.schema(structs["user_dim"]).parquet(curated)
    assert cur_df.count() == 3
    assert cur_df.filter(F.col("name").isNull()).count() == 1  # \N fidelity

    for t in CANVAS_SCHEMA:
        spark.sql(f"DROP TABLE IF EXISTS default.`{t}`")


def test_scan_ignores_corrupt_files_when_asked(spark, sf_dir, tmp_path):
    """Resilient scan path for a landing zone with a half-written file:
    ignoreCorruptFiles skips the junk member and returns every row of the
    healthy files; the default strict mode must instead surface the
    corruption rather than silently under-count."""
    import glob
    import shutil

    import pytest
    from pyspark.errors.exceptions.captured import SparkUpgradeException  # noqa: F401

    src = f"{sf_dir}/nation.parquet"
    d = tmp_path / "landing"
    d.mkdir()
    if glob.os.path.isdir(src):
        for f in glob.glob(f"{src}/*.parquet"):
            shutil.copy(f, d / glob.os.path.basename(f))
    else:
        shutil.copy(src, d / "part-000.parquet")
    good = spark.read.parquet(str(d)).count()
    (d / "part-corrupt.parquet").write_bytes(b"PAR1 this is not really parquet")

    tolerant = (
        spark.read.option("ignoreCorruptFiles", "true").parquet(str(d)).count()
    )
    assert tolerant == good

    with pytest.raises(Exception) as exc:
        spark.read.option("ignoreCorruptFiles", "false").parquet(str(d)).count()
    assert "parquet" in str(exc.value).lower() or "corrupt" in str(exc.value).lower()
