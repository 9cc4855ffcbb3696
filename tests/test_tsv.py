"""Raw-ingest fixture tests (FIXTURES.md 'Raw-ingest fixture'): gzip,
tab-separated, header-less files with \\N nulls, read under a declared
Canvas-style schema covering every type branch."""

from __future__ import annotations

import gzip
import os

import pytest

from canvas_data_aws_spark.sources.schema import table_struct
from canvas_data_aws_spark.sources.tsv import read_tsv_gzip, write_tsv_gzip

CANVAS_TABLE = {
    "tableName": "user_dim",
    "description": "every get_column_type branch",
    "columns": [
        {"name": "id", "type": "bigint"},
        {"name": "guid", "type": "guid"},
        {"name": "name", "type": "varchar", "length": 64},
        {"name": "state", "type": "enum"},
        {"name": "bio", "type": "text"},
        {"name": "score", "type": "double precision"},
        {"name": "attempts", "type": "integer"},
        {"name": "created_at", "type": "datetime"},
        {"name": "active", "type": "boolean"},
        {"name": "birthday", "type": "date"},
    ],
}

ROWS = [
    "1\tg-001\tAda\tactive\thello world\t97.5\t3\t2020-01-02 03:04:05\ttrue\t1990-05-01",
    "2\tg-002\tGrace\tdeleted\t\\N\t\\N\t0\t2021-06-07 08:09:10\tfalse\t1985-12-31",
    "3\t\\N\tEdsger\tactive\tdijkstra\t88.25\t7\t\\N\ttrue\t\\N",
]


def _write_fixture(root: str) -> str:
    table_dir = os.path.join(root, "raw_files", "user_dim")
    os.makedirs(table_dir)
    # two part files, like a real multi-file extract
    for i, chunk in enumerate([ROWS[:2], ROWS[2:]]):
        with gzip.open(os.path.join(table_dir, f"user_dim-{i}.tsv.gz"), "wt") as f:
            f.write("\n".join(chunk) + "\n")
    return table_dir


def test_read_canvas_style_tsv(spark, tmp_path):
    table_dir = _write_fixture(str(tmp_path))
    struct = table_struct(CANVAS_TABLE)
    df = read_tsv_gzip(spark, table_dir, struct)
    rows = {r["id"]: r for r in df.collect()}
    assert set(rows) == {1, 2, 3}
    r1, r2, r3 = rows[1], rows[2], rows[3]
    assert r1["guid"] == "g-001" and r1["score"] == 97.5 and r1["attempts"] == 3
    assert r1["created_at"].isoformat() == "2020-01-02T03:04:05"
    assert r1["active"] is True and r1["birthday"].isoformat() == "1990-05-01"
    # \N nulls
    assert r2["bio"] is None and r2["score"] is None
    assert r3["guid"] is None and r3["created_at"] is None and r3["birthday"] is None


def test_tsv_round_trip(spark, tmp_path):
    table_dir = _write_fixture(str(tmp_path))
    struct = table_struct(CANVAS_TABLE)
    df = read_tsv_gzip(spark, table_dir, struct)

    out = os.path.join(str(tmp_path), "rt")
    write_tsv_gzip(df, out)
    # written files are gzip
    written = [f for f in os.listdir(out) if f.endswith(".gz")]
    assert written
    back = read_tsv_gzip(spark, out, struct)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_events_ts_loads_across_physical_encodings(spark, tmp_path):
    """CORRECTNESS_r04 regression: the events fixture has shipped ts as
    (a) TIMESTAMP_NTZ micros, (b) plain TIMESTAMP, and (c) bigint
    nanoseconds — load_table must normalize ALL THREE to a session-TZ
    TIMESTAMP with identical epoch values, never assuming one encoding."""
    import datetime as dt

    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    from canvas_data_aws_spark.sources.parquet import load_table

    base = dt.datetime(2025, 3, 1, 12, 0, 0)
    rows = [(1, base), (2, base + dt.timedelta(seconds=90))]
    want_micros = [
        int(r[1].replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
        for r in rows
    ]

    def check(dirname):
        df = load_table(spark, dirname, "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType), df.schema
        got = [
            r["us"]
            for r in df.select(F.unix_micros("ts").alias("us"))
            .orderBy("us")
            .collect()
        ]
        assert got == want_micros, (dirname, got, want_micros)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # (a) TIMESTAMP_NTZ
    d_ntz = str(tmp_path / "ntz")
    spark.createDataFrame(
        rows, T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
        ])
    ).write.mode("overwrite").parquet(f"{d_ntz}/events.parquet")
    check(d_ntz)
    # (b) plain TIMESTAMP
    d_ts = str(tmp_path / "ts")
    spark.createDataFrame(
        rows, T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ])
    ).write.mode("overwrite").parquet(f"{d_ts}/events.parquet")
    check(d_ts)
    # (c) bigint nanoseconds (the legacy nanosAsLong fixture shape)
    d_ns = str(tmp_path / "ns")
    spark.createDataFrame(
        [(i, us * 1000) for (i, _), us in zip(rows, want_micros)],
        T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
        ]),
    ).write.mode("overwrite").parquet(f"{d_ns}/events.parquet")
    check(d_ns)


@pytest.mark.parametrize("encoding", ["nanos_long", "ntz_micros", "timestamp"])
def test_events_ts_encodings(spark, tmp_path, encoding):
    """sources/parquet.py footer-dtype dispatch: all three historical
    events.ts encodings load to identical session-TZ TIMESTAMP values."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from canvas_data_aws_spark.sources.parquet import load_table

    base = dt.datetime(2024, 3, 1, 12, 30, 45, 123456)
    times = [base + dt.timedelta(seconds=i) for i in range(5)]
    if encoding == "nanos_long":
        arr = pa.array([int(t.timestamp() * 1e6) * 1000 for t in times], pa.timestamp("ns"))
    elif encoding == "ntz_micros":
        arr = pa.array(times, pa.timestamp("us"))
    else:
        arr = pa.array(times, pa.timestamp("us", tz="UTC"))
    table = pa.table({"event_id": pa.array(range(5), pa.int64()), "ts": arr})
    d = tmp_path / encoding
    d.mkdir()
    pq.write_table(table, str(d / "events.parquet"))
    df = load_table(spark, str(d), "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    got = sorted(r["ts"].replace(tzinfo=None) for r in df.collect())
    assert got == times, (encoding, got[:2], times[:2])


def _jobs_launched(spark, group, fn):
    """Run ``fn`` under its own job group; return (result, jobs launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_resolves_schema_once(spark, tmp_path):
    """The footer schema is inferred on the first read of a table only: a
    second load_table of the same unchanged files plans without a job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from canvas_data_aws_spark.sources.parquet import load_table

    pq.write_table(pa.table({"k": [1, 2, 3]}), str(tmp_path / "region.parquet"))
    _, first = _jobs_launched(
        spark, "schema-once-1", lambda: load_table(spark, str(tmp_path), "region")
    )
    df, second = _jobs_launched(
        spark, "schema-once-2", lambda: load_table(spark, str(tmp_path), "region")
    )
    assert first >= 1 and second == 0, (first, second)
    assert sorted(r["k"] for r in df.collect()) == [1, 2, 3]


@pytest.mark.parametrize("layout", ["file", "dir"])
def test_load_table_sees_rewritten_table(spark, tmp_path, layout):
    """Overwriting a table at the same path with one more column is picked
    up by the next load_table, for a single {name}.parquet file and for a
    {name}.parquet/ directory of part files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from canvas_data_aws_spark.sources.parquet import load_table

    path = tmp_path / "region.parquet"

    def write(table):
        if layout == "file":
            pq.write_table(table, str(path))
        else:
            spark.createDataFrame(table.to_pandas()).write.mode("overwrite").parquet(
                str(path)
            )

    write(pa.table({"k": pa.array([1, 2], pa.int64())}))
    for _ in range(2):
        assert load_table(spark, str(tmp_path), "region").columns == ["k"]
    write(pa.table({"k": pa.array([1, 2], pa.int64()), "v": ["a", "b"]}))
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["k", "v"]
    assert sorted(map(tuple, df.collect())) == [(1, "a"), (2, "b")]
