"""Scale-hardening operators: salted joins preserve join semantics under a
hot key; compaction preserves data and produces pruned, sized layouts."""

from __future__ import annotations

import gzip
import os

import pyspark.sql.functions as F

from canvas_data_aws_spark.ingest.compaction import compact_raw_tsv, compact_table
from canvas_data_aws_spark.operators.skew import salted_join
from canvas_data_aws_spark.sources.parquet import load_table
from canvas_data_aws_spark.sources.schema import table_struct
from canvas_data_aws_spark.sources.tsv import NULL_MARKER


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity")
    # fabricate a hot key: map 30% of rows onto supplier 1
    hot = li.withColumn(
        "l_suppkey", F.when(F.col("l_orderkey") % 3 == 0, F.lit(1)).otherwise(F.col("l_suppkey"))
    )
    sup = load_table(spark, sf_dir, "supplier").withColumnRenamed("s_suppkey", "l_suppkey")

    plain = hot.join(sup, ["l_suppkey"]).groupBy("l_suppkey").count()
    salted = salted_join(hot, sup, ["l_suppkey"], num_salts=8).groupBy("l_suppkey").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_keeps_unmatched(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").limit(1000)
    missing = li.withColumn("l_suppkey", F.col("l_suppkey") + 10_000)  # no matches
    sup = load_table(spark, sf_dir, "supplier").withColumnRenamed("s_suppkey", "l_suppkey")
    out = salted_join(missing, sup, ["l_suppkey"], num_salts=4, how="left")
    assert out.count() == 1000
    assert out.filter(F.col("s_name").isNotNull()).count() == 0


def test_salted_join_rejects_unsupported_how(spark, sf_dir):
    """Replicating the dim side breaks right/full/semi/anti semantics —
    salted_join must refuse rather than silently emit num_salts duplicates."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").limit(10)
    sup = load_table(spark, sf_dir, "supplier").withColumnRenamed("s_suppkey", "l_suppkey")
    import pytest

    for how in ("right", "full", "left_semi", "left_anti"):
        with pytest.raises(ValueError):
            salted_join(li, sup, ["l_suppkey"], num_salts=4, how=how)


def test_salted_join_spreads_hot_key_across_tasks(spark, sf_dir):
    """The point of salting: the fabricated hot key must actually land in
    >= num_salts distinct shuffle tasks, not one. Audited mechanically via
    spark_partition_id() captured inside the join stage (AQE coalescing
    disabled so small test data doesn't merge the evidence away)."""
    from canvas_data_aws_spark.operators.skew import SALT_COL, salt_dim, salt_fact

    num_salts = 8
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity")
    hot = li.withColumn(
        "l_suppkey", F.when(F.col("l_orderkey") % 3 == 0, F.lit(1)).otherwise(F.col("l_suppkey"))
    )
    sup = load_table(spark, sf_dir, "supplier").withColumnRenamed("s_suppkey", "l_suppkey")

    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    autob_key = "spark.sql.autoBroadcastJoinThreshold"
    shuffle_key = "spark.sql.shuffle.partitions"
    old_coalesce = spark.conf.get(coalesce_key)
    old_autob = spark.conf.get(autob_key)
    old_shuffle = spark.conf.get(shuffle_key)
    spark.conf.set(coalesce_key, "false")
    spark.conf.set(autob_key, "-1")  # force a shuffle join so tasks == shuffle partitions
    spark.conf.set(shuffle_key, "64")  # enough bins that 8 salts rarely collide
    try:
        f = salt_fact(hot, num_salts, id_cols=["l_orderkey", "l_suppkey"])
        d = salt_dim(sup, num_salts)
        joined = f.join(d, ["l_suppkey", SALT_COL], "inner")
        # salt participates in the exchange
        plan = joined._jdf.queryExecution().toString()
        assert SALT_COL in plan
        spread = (
            joined.filter(F.col("l_suppkey") == 1)
            .select(F.spark_partition_id().alias("pid"), SALT_COL)
            .agg(
                F.countDistinct("pid").alias("n_tasks"),
                F.countDistinct(SALT_COL).alias("n_salts"),
            )
            .first()
        )
    finally:
        spark.conf.set(coalesce_key, old_coalesce)
        spark.conf.set(autob_key, old_autob)
        spark.conf.set(shuffle_key, old_shuffle)
    assert spread["n_salts"] == num_salts, spread
    # hash(key, salt) can collide across 64 bins; require a real spread
    assert spread["n_tasks"] >= num_salts - 2, spread


def _jobs_of(spark, group, call):
    """Run ``call()`` under its own Spark job group; return how many jobs it
    launched (AQE's background jobs inherit the group)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_compact_table_partitioned_layout(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "curated_orders")
    jobs = _jobs_of(
        spark,
        "compact-partitioned",
        lambda: compact_table(
            orders, out, partition_by=["o_orderstatus"], target_rows_per_file=5000
        ),
    )
    # the shuffle that co-locates partition values, then the write; no count
    assert jobs == 2

    dirs = {d for d in os.listdir(out) if d.startswith("o_orderstatus=")}
    statuses = {r[0] for r in orders.select("o_orderstatus").distinct().collect()}
    assert dirs == {f"o_orderstatus={s}" for s in statuses}

    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    # partition pruning: a status predicate must read only one directory
    from canvas_data_aws_spark.plans.audit import explain_str

    plan = explain_str(back.filter(F.col("o_orderstatus") == "F"))
    assert "PartitionFilters" in plan and "o_orderstatus" in plan


def test_compact_raw_tsv_round_trip(spark, tmp_path):
    table = {
        "tableName": "t",
        "columns": [
            {"name": "id", "type": "bigint"},
            {"name": "v", "type": "double precision"},
        ],
    }
    raw_dir = str(tmp_path / "raw" / "t")
    os.makedirs(raw_dir)
    with gzip.open(os.path.join(raw_dir, "t-0.tsv.gz"), "wt") as f:
        f.write("1\t1.5\n2\t\\N\n3\t2.25\n")

    out = str(tmp_path / "curated" / "t")
    compact_raw_tsv(spark, raw_dir, table_struct(table), out)
    curated = spark.read.schema(table_struct(table)).parquet(out)
    rows = sorted(map(tuple, curated.collect()))
    assert rows == [(1, 1.5), (2, None), (3, 2.25)]
    assert any(f.endswith(".parquet") for f in os.listdir(out))


_T = {
    "tableName": "t",
    "columns": [
        {"name": "id", "type": "bigint"},
        {"name": "v", "type": "double precision"},
        {"name": "name", "type": "varchar"},
    ],
}


def test_compact_raw_tsv_is_one_narrow_write(spark, tmp_path):
    """A multi-file raw table compacts in exactly one Spark job (no count,
    no shuffle), the scan's partitions bound the output files, and a hidden
    staged download in the table directory contributes no rows."""
    raw_dir = tmp_path / "raw" / "t"
    raw_dir.mkdir(parents=True)
    good = []
    for p in range(6):
        rows = [(p * 100 + i, p + i / 4, f"n{p}-{i}") for i in range(5)]
        if p == 3:
            rows.append((999, None, "null-v"))
        good += rows
        body = "".join(f"{i}\t{NULL_MARKER if v is None else v}\t{n}\n" for i, v, n in rows)
        with gzip.open(raw_dir / f"t-{p}.tsv.gz", "wt") as f:
            f.write(body)
    (raw_dir / ".t-6.tsv.gz.part").write_bytes(os.urandom(300))

    out = str(tmp_path / "curated" / "t")
    struct = table_struct(_T)
    jobs = _jobs_of(
        spark, "compact-raw-narrow", lambda: compact_raw_tsv(spark, str(raw_dir), struct, out)
    )
    assert jobs == 1
    got = spark.read.schema(struct).parquet(out).collect()
    assert sorted(map(tuple, got)) == sorted(good)
    parts = [f for f in os.listdir(out) if f.startswith("part-") and f.endswith(".parquet")]
    assert 1 <= len(parts) <= 6


def test_compact_raw_tsv_empty_inputs(spark, tmp_path):
    """An empty raw table directory, and one holding only a staged partial
    download, each compact to a readable table with 0 rows whose footer
    carries every schema column."""
    struct = table_struct(_T)
    empty = tmp_path / "raw" / "empty"
    staged = tmp_path / "raw" / "staged"
    empty.mkdir(parents=True)
    staged.mkdir(parents=True)
    (staged / ".t-0.tsv.gz.part").write_bytes(os.urandom(300))
    for raw_dir in (empty, staged):
        out = str(tmp_path / "curated" / raw_dir.name)
        compact_raw_tsv(spark, str(raw_dir), struct, out)
        back = spark.read.parquet(out)
        assert back.columns == [f.name for f in struct.fields]
        assert back.count() == 0


def test_zorder_layout_narrows_file_spans_on_both_dims(spark, sf_dir, tmp_path):
    """The point of Z-order: per-file min/max footers must be narrow on
    EVERY clustered dimension, not just a leading sort key. Measured
    directly from parquet metadata: average per-file span of the SECOND
    dimension must shrink vs a plain sort on the first."""
    import pyarrow.parquet as pq

    from canvas_data_aws_spark.ingest.compaction import zorder_write

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    plain_dir, z_dir = str(tmp_path / "plain"), str(tmp_path / "zorder")
    (
        orders.repartitionByRange(8, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.parquet(plain_dir)
    )
    zorder_write(orders, z_dir, ["o_custkey", "o_totalprice"], target_rows_per_file=orders.count() // 8)

    def avg_span(path, col):
        spans, lo_all, hi_all = [], None, None
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(path, f))
            idx = md.schema.names.index(col)
            lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
            spans.append(hi - lo)
            lo_all = lo if lo_all is None else min(lo_all, lo)
            hi_all = hi if hi_all is None else max(hi_all, hi)
        return (sum(spans) / len(spans)) / (hi_all - lo_all), len(spans)

    plain_span, n_plain = avg_span(plain_dir, "o_totalprice")
    z_span, n_z = avg_span(z_dir, "o_totalprice")
    assert n_z >= 4, f"need multiple files to measure skipping, got {n_z}"
    # plain custkey-sort leaves ~full totalprice span per file; z-order must cut it
    assert z_span < 0.7 * plain_span, f"z {z_span:.2f} vs plain {plain_span:.2f}"
    # and the first dimension stays reasonably clustered too
    z_ck, _ = avg_span(z_dir, "o_custkey")
    assert z_ck < 0.7, f"custkey span degenerated: {z_ck:.2f}"

    # lossless
    assert spark.read.parquet(z_dir).count() == orders.count()


def test_zorder_write_edge_cases(spark, tmp_path):
    """Empty input, all-null z-column, and wide column lists must not crash
    or overflow the 63-bit signed key (advisor r2 findings)."""
    from pyspark.sql import functions as F

    from canvas_data_aws_spark.ingest.compaction import zorder_write

    base = spark.range(100).select(
        F.col("id").alias("a"),
        (F.col("id") * 7 % 13).alias("b"),
        (F.col("id") % 5).alias("c"),
        (F.col("id") % 3).alias("d"),
        F.lit(None).cast("double").alias("nul"),
    )
    # empty input: no rows, no crash
    zorder_write(base.filter(F.lit(False)), str(tmp_path / "empty"), ["a", "b"])
    assert spark.read.parquet(str(tmp_path / "empty")).count() == 0
    # all-null z-column: normalizes to a constant, content lossless
    zorder_write(base, str(tmp_path / "nul"), ["a", "nul"])
    assert spark.read.parquet(str(tmp_path / "nul")).count() == 100
    # 4 columns at default bits=16 would need 64 bits — must clamp, not
    # overflow into the sign bit: key order must still cluster correctly
    zorder_write(base, str(tmp_path / "wide"), ["a", "b", "c", "d"])
    got = spark.read.parquet(str(tmp_path / "wide"))
    assert got.count() == 100
    assert sorted(r.a for r in got.collect()) == list(range(100))


def test_mix_by_source_weights_empty_weights_raises(spark):
    import pytest as _pytest

    from canvas_data_aws_spark.operators.curation import mix_by_source_weights

    df = spark.range(5).selectExpr("id AS doc_id", "'s' AS source")
    with _pytest.raises(ValueError):
        mix_by_source_weights(df, weights={})


def test_aqe_splits_skewed_join_partition(spark):
    """First line of skew defense (before salted_join): AQE must detect a
    hot shuffle partition at runtime and split it across tasks — the final
    adaptive plan carries SortMergeJoin(skew=true) with a skewed
    AQEShuffleRead. 80% of the fact lands on one key; byte thresholds are
    lowered so test-scale data trips the detector (at 100 TB the defaults
    do). Both broadcast paths are disabled because AQE's dynamic broadcast
    is itself the zeroth defense and would otherwise absorb the skew."""
    left = spark.range(0, 400_000).select(
        (F.when(F.col("id") % 10 < 8, 7).otherwise(F.col("id") % 97)).alias("k"),
        F.concat(F.lit("x" * 100), F.col("id").cast("string")).alias("pad"),
    )
    right = spark.range(0, 97).select(
        F.col("id").alias("k"),
        F.concat(F.lit("y" * 2000), F.col("id").cast("string")).alias("pad_r"),
    )
    overrides = {
        "spark.sql.shuffle.partitions": "32",  # pin: detector math depends on it
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    }
    old = {k: spark.conf.get(k) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        joined = left.join(right, "k").select(F.length("pad").alias("lp"))
        n = len(joined.collect())  # execute THIS plan so AQE finalizes it
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert "isFinalPlan=true" in plan, plan[:500]
    assert "skew=true" in plan, plan[:2000]
    assert n == 400_000


def test_ewma_long_key_no_overflow(spark, tmp_path):
    """Regression: the single global EWMA closed form overflowed IEEE double
    past ~1900 rows per key ((1/0.7)^rn -> Inf, then silent NaNs). The
    segmented form (512-row epochs, one-segment carry) must stay finite and
    exact for keys of any length: with a constant input the EWMA is that
    constant at EVERY row."""
    import datetime as dt

    from canvas_data_aws_spark.plans.registry import all_queries

    rows = [
        (1, i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i), 5.0)
        for i in range(1, 5001)
    ]
    d = str(tmp_path / "ewma_long")
    spark.createDataFrame(rows, ["user_id", "event_id", "ts", "value"]).write.parquet(
        os.path.join(d, "events.parquet")
    )
    out = all_queries()["ts_ewma"].fn(spark, d).toPandas()
    assert len(out) == 5000
    assert not out["ewma"].isna().any()
    assert (out["ewma"] - 5.0).abs().max() < 1e-9


def test_ewma_matches_pandas_ewm(spark, tmp_path):
    """ts_ewma == pandas ewm(alpha=0.3, adjust=True) after the shared
    round(4), including across segment boundaries (3000 rows > 5 segments;
    the truncated >1-segment history carries relative weight 0.7^512 ~
    2e-80, far below the rounding)."""
    import datetime as dt

    import numpy as np
    import pandas as pd

    from canvas_data_aws_spark.plans.registry import all_queries

    rng = np.random.RandomState(7)
    vals = rng.uniform(-100, 100, 3000)
    rows = [
        (2, i + 1, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i), float(vals[i]))
        for i in range(3000)
    ]
    d = str(tmp_path / "ewma_pd")
    spark.createDataFrame(rows, ["user_id", "event_id", "ts", "value"]).write.parquet(
        os.path.join(d, "events.parquet")
    )
    out = all_queries()["ts_ewma"].fn(spark, d).toPandas().sort_values("event_id")
    ref = pd.Series(vals).ewm(alpha=0.3, adjust=True).mean().round(4)
    assert np.abs(out["ewma"].to_numpy() - ref.to_numpy()).max() <= 1e-9
