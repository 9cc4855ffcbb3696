"""Supplemental TPC-H ``partsupp`` fixture generator.

The driver-provided fixtures (TESTDATA.md) carry nine TPC-H-ish tables but
no ``partsupp``, which blocks TPC-H Q2/Q9/Q11/Q16/Q20 (reference workload
parity: a user porting the full TPC-H suite needs the part-supplier bridge).
This module generates a deterministic, spec-shaped partsupp FROM the
existing fixtures — 4 supplier rows per part, values derived by hashing the
key pair — so the engine's capability exists and is oracle-checkable
locally (DuckDB reads the same generated parquet), even though the external
driver can never sample these queries (its fixture set is fixed; the
queries register ``local_only``).

Spec fidelity notes (TPC-H 4.2.3 / dbgen):
- 4 rows per part, ps_suppkey spread across the supplier range. dbgen's
  exact stride ``S/4 + (partkey-1)/S`` can collide at the fixtures' tiny
  supplier counts (S=10 at sf0.001: stride 5 repeats mod 10), so the
  stride is fixed at ``max(1, S//4)`` — i*stride for i=0..3 stays < S,
  guaranteeing 4 DISTINCT suppliers per part at every fixture scale.
- ps_availqty in [1, 9999], ps_supplycost in [1.00, 1000.00] like dbgen's
  uniforms, but derived from xxhash64(partkey, suppkey, tag) instead of a
  sequential RNG stream: deterministic under ANY parallelism (dbgen's
  per-row stream order would serialize generation; a keyed hash makes the
  generator a pure row-local function, embarrassingly parallel at any
  scale).

Generation is itself a Spark job (explode part x 4, all JVM expressions)
writing once to a cache dir keyed by the fixture directory; concurrent
callers race benignly on an atomic rename.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from canvas_data_aws_spark.sources.parquet import _read_parquet, load_table

CACHE_ROOT = os.environ.get(
    "CDA_SUPPLEMENT_CACHE", os.path.join(tempfile.gettempdir(), "cda_tpch_supplement")
)


def _source_fingerprint(sf_dir: str, tables: tuple[str, ...]) -> str:
    """Content fingerprint of the fixture dir + its source tables.

    The cache key must change when the SOURCE parquet changes, not just the
    directory's leaf name: two roots sharing a basename (v1/sf0.1 vs
    v2/sf0.1), or a fixture regenerated in place, must not serve a stale
    supplement (both Spark and the DuckDB oracle would read the same stale
    parquet and the contract would stay green while joins against the live
    part/supplier tables silently drop keys). Hash the absolute path plus
    (relpath, size, mtime_ns) of every file under each source table's
    parquet path.
    """
    h = hashlib.sha256(os.path.realpath(sf_dir).encode())
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        entries = []
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                for f in files:
                    fp = os.path.join(root, f)
                    st = os.stat(fp)
                    entries.append((os.path.relpath(fp, p), st.st_size, st.st_mtime_ns))
        elif os.path.exists(p):
            st = os.stat(p)
            entries.append((t, st.st_size, st.st_mtime_ns))
        for e in sorted(entries):
            h.update(repr(e).encode())
    return h.hexdigest()[:16]


def partsupp_path(sf_dir: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)) or "default"
    fp = _source_fingerprint(sf_dir, ("part", "supplier"))
    return os.path.join(CACHE_ROOT, f"{tag}-{fp}", "partsupp.parquet")


def ensure_partsupp(spark: SparkSession, sf_dir: str) -> str:
    """Generate partsupp for ``sf_dir`` if absent; return its path."""
    dest = partsupp_path(sf_dir)
    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        return dest
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    lo, hi, n = sup.agg(
        F.min("s_suppkey"), F.max("s_suppkey"), F.count("*")
    ).collect()[0]
    if hi - lo + 1 != n:
        raise ValueError(
            f"supplier keys not contiguous in {sf_dir} ({lo}..{hi}, n={n}); "
            "the stride formula needs a dense key range"
        )
    if int(n) < 4:
        # stride max(1, n//4) only yields 4 DISTINCT offsets mod n for
        # n >= 4; below that the wrap emits duplicate (partkey, suppkey)
        # primary-key rows, contradicting the distinctness contract
        raise ValueError(
            f"supplier count {n} in {sf_dir} is below 4; partsupp needs "
            "4 distinct suppliers per part"
        )
    stride = max(1, int(n) // 4)
    ps = (
        part.select(
            F.col("p_partkey").alias("ps_partkey"),
            F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("__i"),
        )
        .select(
            "ps_partkey",
            (
                (F.col("ps_partkey") + F.col("__i") * stride) % int(n) + int(lo)
            ).alias("ps_suppkey"),
        )
        .select(
            "ps_partkey",
            "ps_suppkey",
            (
                F.pmod(F.xxhash64(F.lit("availqty"), "ps_partkey", "ps_suppkey"), F.lit(9999))
                + 1
            )
            .cast("int")
            .alias("ps_availqty"),
            F.round(
                1.0
                + F.pmod(
                    F.xxhash64(F.lit("supplycost"), "ps_partkey", "ps_suppkey"),
                    F.lit(99900),
                )
                / 100.0,
                2,
            ).alias("ps_supplycost"),
        )
    )
    tmp = dest + f".tmp-{os.getpid()}"
    # default partitioning — the generator is a row-local map, so it scales
    # with the part table; readers (Spark or DuckDB's glob) take a directory
    ps.write.mode("overwrite").parquet(tmp)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    try:
        os.rename(tmp, dest)
    except OSError:
        # another process won the race; use theirs
        shutil.rmtree(tmp, ignore_errors=True)
    return dest


def load_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read_parquet(spark, ensure_partsupp(spark, sf_dir))


SHIP_MODES = ("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")


def lineitem_ext_path(sf_dir: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)) or "default"
    fp = _source_fingerprint(sf_dir, ("lineitem", "orders"))
    return os.path.join(CACHE_ROOT, f"{tag}-{fp}", "lineitem_ext.parquet")


def ensure_lineitem_ext(spark: SparkSession, sf_dir: str) -> str:
    """Generate ``lineitem_ext`` — the fixture lineitem plus the three
    spec columns it lacks (``l_commitdate``, ``l_receiptdate``,
    ``l_shipmode``), which block TPC-H Q12/Q21.

    The fixture's (l_orderkey, l_linenumber) is NOT unique, so an
    extension-join table is impossible; instead the supplement is the FULL
    lineitem with the new columns derived row-locally (keyed xxhash64 of
    the line's stable attributes — duplicate lines get identical values,
    still deterministic under any parallelism). Spec-shaped ranges per
    dbgen: commitdate = orderdate + [30, 90] days, receiptdate =
    shipdate + [1, 30] days, shipmode uniform over the seven modes.
    Queries over it read this table INSTEAD of lineitem and register
    ``local_only`` (the external driver ships no such columns).
    """
    dest = lineitem_ext_path(sf_dir)
    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        return dest
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    key = [F.col(c) for c in ("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")]

    def _h(tag: str) -> F.Column:
        return F.xxhash64(F.lit(tag), *key)

    ext = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .withColumn(
            "l_commitdate",
            F.date_add(
                F.col("o_orderdate"), (F.pmod(_h("commit"), F.lit(61)) + 30).cast("int")
            ).cast("timestamp"),
        )
        .withColumn(
            "l_receiptdate",
            F.date_add(
                F.col("l_shipdate"), (F.pmod(_h("receipt"), F.lit(30)) + 1).cast("int")
            ).cast("timestamp"),
        )
        .withColumn(
            "l_shipmode",
            F.element_at(
                F.array(*[F.lit(m) for m in SHIP_MODES]),
                (F.pmod(_h("mode"), F.lit(len(SHIP_MODES))) + 1).cast("int"),
            ),
        )
        .drop("o_orderkey", "o_orderdate")
    )
    tmp = dest + f".tmp-{os.getpid()}"
    ext.write.mode("overwrite").parquet(tmp)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    try:
        os.rename(tmp, dest)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return dest


def load_lineitem_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read_parquet(spark, ensure_lineitem_ext(spark, sf_dir))


# view name -> ensure function: everything the local oracle gates register
SUPPLEMENTS = {
    "partsupp": ensure_partsupp,
    "lineitem_ext": ensure_lineitem_ext,
}
