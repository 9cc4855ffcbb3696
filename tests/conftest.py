from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("CDA_TEST_SF_DIR", "/root/testdata/sf0.001")

# The engine's default driver heap (48g) is sized for large hosts. On a host
# with less memory, G1 grows the suite's one long-lived JVM past physical
# memory until the kernel kills it mid-run, failing every later test. Cap
# the heap at half the host's memory; the suite's peak stays well below it.
_HALF_MEM_MB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 // (1 << 20)
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(_HALF_MEM_MB, 48 * 1024)}m")


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
