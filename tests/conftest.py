from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("CDA_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from canvas_data_aws_spark.session import get_spark

    s = get_spark(app_name="cda-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(spark, sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    # supplemental tables (generated, not driver-shipped): views over the
    # same parquet the local_only queries read
    from canvas_data_aws_spark.sources.tpch_supplement import SUPPLEMENTS

    for view, ensure in SUPPLEMENTS.items():
        path = ensure(spark, sf_dir)
        con.execute(
            f"CREATE OR REPLACE VIEW {view} AS "
            f"SELECT * FROM read_parquet('{path}/*.parquet')"
        )
    yield con
    con.close()
