"""The workloads. Each one has

- ``generate()``: build its inputs from the seed (repeatable, timed as set-up);
- ``warm()``: one checked pass so lazy JVM/Python-worker set-up is paid;
  returns its mismatches;
- ``op(i)``: the timed operation a user waits for;
- ``check(i)``: correctness of op ``i``, untimed; returns mismatch messages;
- ``layers()``: per-op layer measurements, read from the tracer.

They reach the engine only through its public functions.
"""

from __future__ import annotations

import dataclasses
import functools
import hashlib
import os
import re
import shutil


from canvas_data_aws_spark.ingest import reconciler
from canvas_data_aws_spark.ingest.api_client import CanvasDataClient, signed_headers
from canvas_data_aws_spark.ingest.compaction import compact_raw_tsv
from canvas_data_aws_spark.ingest.credentials import ApiCredentials
from canvas_data_aws_spark.ingest.fetchers import http_fetcher
from canvas_data_aws_spark.ingest.reconciler import RAW_PREFIX, SyncEngine
from canvas_data_aws_spark.pipelines.curate import curate
from canvas_data_aws_spark.plans.registry import all_queries
from canvas_data_aws_spark.sources.catalog import register_schema
from canvas_data_aws_spark.sources.parquet import TABLES
from canvas_data_aws_spark.sources.schema import schema_registry

from perfbench import digest, gen
from perfbench.portal import API_KEY, API_SECRET, Portal
from perfbench.tracing import TimedFetcher, covered, drain_spool, median

MB = 1024 * 1024


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Workload:
    #: a run times at least ``min_ops`` ops, so that every run times the same
    #: count, and ends on a whole pass of ``pass_len`` ops
    min_ops = 1
    pass_len = 1

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.work = ctx.work
        self.seed = ctx.seed

    def generate(self) -> None: ...

    def warm(self) -> list[str]:
        return []

    def prepare(self, i: int) -> None:
        """Untimed work before op ``i`` (publishing its input)."""

    def op(self, i: int) -> None: ...

    def check(self, i: int) -> list[str]:
        return []

    def layers(self, i: int) -> dict[str, float]:
        return {}

    def cleanup(self, i: int) -> None:
        """Untimed removal of op ``i``'s outputs once checked."""

    def close(self) -> None: ...


# -- sync workloads -------------------------------------------------------------


class _TracedClient:
    """Times every client call the benchmark or the engine makes."""

    def __init__(self, inner, tracer) -> None:
        self._inner, self._tracer = inner, tracer

    def __getattr__(self, name):
        fn = getattr(self._inner, name)

        def call(*a, **kw):
            with self._tracer.span("api_client.call"):
                return fn(*a, **kw)

        return call


class IncrementalSync(Workload):
    """A converged lake; each cycle the portal publishes one seeded day of
    change, and the cycle runs the additive dump sync, the mirror re-sync,
    the catalog upsert and recompaction of the changed tables."""

    #: extract scale factor and rows per part file: 86 part files, the
    #: publication's file count at sf 0.1, so per-file overhead is paid in full
    sf = 0.01
    rows_per_file = 1100

    def generate(self) -> None:
        self.ex = gen.Extracts.build(self.seed, self.sf, self.rows_per_file)
        self.expected = {
            t: digest.table_digest(self.ex.table_frame(t), self.ex.schema[t]["columns"])
            for t in self.ex.tables()
        }

    def warm(self) -> list[str]:
        self.portal = Portal(self.ex, threads=self.ctx.nproc).__enter__()
        creds = ApiCredentials(API_KEY, API_SECRET)
        self.client = CanvasDataClient(creds, base_url=self.portal.base_url)
        self.fetcher = http_fetcher(headers=functools.partial(signed_headers, creds, "GET"))
        self.lake = os.path.join(self.work, "lake")
        # fetch concurrency = max_fetch_tasks x io_threads = nproc
        self.engine = SyncEngine(root=self.lake, max_fetch_tasks=self.ctx.nproc, io_threads=1)
        self.spool = os.path.join(self.work, "fetch-spool")
        os.makedirs(self.spool, exist_ok=True)
        if self.tracer.enabled:
            self._trace_layers()
        # converge: the first dump carries the whole initial publication
        self.dumps = self.engine.sync_dumps(self.spark, self.client, self.fetcher)
        schema = self.client.get_schema()
        self._register(schema)
        self._compact(self.ex.tables(), schema_registry(schema))
        self.cycle = 0
        bad = self._check_dumps(len(self.ex.snapshot))
        return bad + self._check_lake(self.ex.snapshot, self.ex.tables())

    def _trace_layers(self) -> None:
        """Wrap the client, the fetcher, ``local_listing`` and ``apply`` in
        spans; the fetch spans are spooled from Spark's Python workers."""
        tracer = self.tracer
        self.client = _TracedClient(self.client, tracer)
        self.fetcher = TimedFetcher(self.fetcher, self.spool)
        self._listing, apply = reconciler.local_listing, self.engine.apply

        def local_listing(*a, **kw):
            with tracer.span("reconciler.local_listing"):
                return self._listing(*a, **kw)

        def traced_apply(*a, **kw):
            with tracer.span("reconciler.apply"):
                return apply(*a, **kw)

        reconciler.local_listing = local_listing  # restored by close()
        self.engine.apply = traced_apply

    def close(self) -> None:
        if hasattr(self, "_listing"):
            reconciler.local_listing = self._listing
        if hasattr(self, "portal"):
            self.portal.__exit__(None, None, None)

    def prepare(self, i: int) -> None:
        drain_spool(self.spool)  # fetch spans of earlier, untraced work
        with self.portal.lock:
            self.plan = self.ex.churn(self.cycle)
        for t in self.plan.tables:
            self.expected[t] = digest.table_digest(
                self.ex.table_frame(t), self.ex.schema[t]["columns"]
            )
        self.cycle += 1

    def op(self, i: int) -> None:
        self.portal.stats.reset()
        with self.tracer.span("cycle"):
            self.dumps = self.engine.sync_dumps(self.spark, self.client, self.fetcher)
            rows = self.client.sync_manifest_rows()
            schema = self.client.get_schema()
            self.summary = self.engine.apply(self.spark, rows, self.fetcher)
            self._register(schema)
            self._compact(self.plan.tables, schema_registry(schema))

    def _register(self, schema: dict) -> None:
        with self.tracer.span("catalog.register"), self.ctx.count_sql() as sql:
            register_schema(self.spark, schema, os.path.join(self.lake, RAW_PREFIX.rstrip("/")))
        self.ddl = sql.count

    def _compact(self, tables, structs) -> None:
        for t in sorted(tables):
            with self.tracer.span("compaction.table"):
                compact_raw_tsv(
                    self.spark, f"{self.lake}/{RAW_PREFIX}{t}", structs[t], f"{self.lake}/curated/{t}"
                )

    # -- checks -----------------------------------------------------------------

    def _check_dumps(self, k: int) -> list[str]:
        """One dump of ``k`` new files was applied, and fetched whole."""
        bad = [] if len(self.dumps) == 1 else [f"{len(self.dumps)} dumps applied, planned 1"]
        for _, s in self.dumps:
            bad += _check_summary(
                "dump", s, total_files=k, files_fetched=k, files_skipped=0,
                files_removed=0, files_failed=0,
            )
        return bad

    def check(self, i: int) -> list[str]:
        p, n = self.plan, len(self.ex.snapshot)
        bad = self._check_dumps(len(p.dump_files))
        bad += _check_summary(
            "mirror", self.summary, total_files=n + len(p.removed),
            files_fetched=len(p.fetched), files_skipped=n - len(p.fetched),
            files_removed=len(p.removed), files_failed=0,
        )
        return bad + self._check_lake(p.dump_files + p.fetched, p.tables)

    def _check_lake(self, landed: list[str], tables) -> list[str]:
        """The portal saw only signed requests, the lake holds exactly the
        snapshot, ``landed`` files equal upstream byte for byte, and each
        compacted table in ``tables`` equals the generator's."""
        bad = []
        denied = self.portal.stats.snapshot()["auth_failures"]
        if denied:
            bad.append(f"{denied} portal requests failed HMAC auth")
        raw = os.path.join(self.lake, RAW_PREFIX)
        keys = {
            os.path.relpath(os.path.join(d, f), raw).replace(os.sep, "/")
            for d, _, fs in os.walk(raw)
            for f in fs
        }
        if keys != gen.snapshot_keys(self.ex):
            bad.append(f"lake key set differs from snapshot ({len(keys)} vs {len(self.ex.snapshot)})")
        for name in landed:
            f = self.ex.files[name]
            with open(os.path.join(raw, f.table, name), "rb") as fh:
                if hashlib.md5(fh.read()).hexdigest() != f.md5:
                    bad.append(f"landed file {name} differs from upstream")
        for t in tables:
            got = digest.table_digest(
                digest.parquet_frame(f"{self.lake}/curated/{t}"), self.ex.schema[t]["columns"]
            )
            if got != self.expected[t]:
                bad.append(f"compacted {t}: {got} != expected {self.expected[t]}")
        return bad

    # -- per-layer --------------------------------------------------------------

    def layers(self, i: int) -> dict[str, float]:
        tr = self.tracer
        fetches = drain_spool(self.spool)
        applies = tr.find("reconciler.apply", i)
        for s, e, _ in fetches:
            parent = next((a[0] for a in applies if a[2] <= s and e <= a[3]), None)
            tr.add("fetch.file", s, e, parent)
        fetch_wall = covered([(s, e) for s, e, _ in fetches], 0.0, float("inf"))
        fetch_bytes = sum(n for _, _, n in fetches)
        calls = tr.find("api_client.call", i)
        comps = tr.find("compaction.table", i)
        comp_s = sum(c[3] - c[2] for c in comps)
        rows = sum(self.expected[t][0] for t in self.plan.tables)
        portal = self.portal.stats.snapshot()
        cycle = tr.find("cycle", i)[0]
        summaries = [self.summary] + [s for _, s in self.dumps]
        return {
            "api_client.call_s": sum(c[3] - c[2] for c in calls),
            "api_client.calls": len(calls),
            "reconciler.listing_s": sum(
                s[3] - s[2] for s in tr.find("reconciler.local_listing", i)
            ),
            "reconciler.apply_self_s": sum(tr.self_time(a[0]) for a in applies),
            "reconciler.files_fetched": sum(s.files_fetched for s in summaries),
            "reconciler.files_skipped": sum(s.files_skipped for s in summaries),
            "reconciler.files_removed": sum(s.files_removed for s in summaries),
            "reconciler.files_failed": sum(s.files_failed for s in summaries),
            "fetch.file_s.p50": median([e - s for s, e, _ in fetches]),
            "fetch.file_s.sum": sum(e - s for s, e, _ in fetches),
            "fetch.mb_per_s": fetch_bytes / MB / fetch_wall if fetch_wall else 0.0,
            "portal.requests_per_file": (
                portal["file_requests"] / portal["files_requested"]
                if portal["files_requested"]
                else 0.0
            ),
            "portal.partial_responses": portal["partial_responses"],
            "catalog.register_s": sum(s[3] - s[2] for s in tr.find("catalog.register", i)),
            "catalog.ddl_statements": self.ddl,
            "compaction.table_s": median([c[3] - c[2] for c in comps]),
            "compaction.rows_per_s": rows / comp_s if comp_s else 0.0,
            "compaction.output_files": sum(
                f.startswith("part-")
                for t in self.plan.tables
                for f in os.listdir(f"{self.lake}/curated/{t}")
            ),
            "sync.landed_mb_per_s": portal["bytes_served"] / MB / (cycle[3] - cycle[2]),
        }


def _check_summary(label: str, s, **want) -> list[str]:
    got = {k: getattr(s, k) for k in want}
    return [] if got == want else [f"{label} summary {got} != planned {want}"]


# -- analyst SQL ------------------------------------------------------------------

#: a shuffle in Spark's formatted plan text ("Exchange (21)"); broadcast
#: and reused exchanges carry a prefix and do not match
_EXCHANGE = re.compile(r"(?<![A-Za-z])Exchange \(\d+\)")


def _analyst_mix() -> list[str]:
    """TPC-H Q1-Q22 (the ``_shipped`` form where the plain one needs the
    generated partsupp supplement), the star-schema queries, and a few
    window and warehouse queries."""
    q = all_queries()
    tpch = []
    for k in range(1, 23):
        name = f"tpch_q{k}"
        tpch.append(name if not q[name].local_only else f"{name}_shipped")
    star = sorted(n for n in q if n.startswith("star_"))
    extra = ["win_rank", "orders_pareto_share"]
    mix = tpch + star + extra
    unchecked = [n for n in mix if not q[n].oracle or q[n].local_only]
    if unchecked:
        raise RuntimeError(f"analyst mix queries without a usable oracle: {unchecked}")
    return mix


class AnalystSql(Workload):
    """One pass over a fixed query mix on curated parquet built from the
    seed. The order is fixed too: the first queries after warm-up run on a
    colder JVM, and a seeded order moved that cost between queries and
    spread the median by about 15 % from seed to seed."""

    #: the scale the registry's DuckDB oracles are checked at
    sf = 0.01

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.work, "sf")
        gen.write_parquet_dir(gen.make_tables(self.seed, self.sf), self.sf_dir)
        self.queries = all_queries()
        self.mix = _analyst_mix()
        self.pass_len = len(self.mix)

    def warm(self) -> list[str]:
        """Digest every query's DuckDB oracle once, then run one query."""
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        self.oracle = {}
        for name in self.mix:
            cur = con.execute(self.queries[name].oracle)
            self.oracle[name] = digest.canonical_result(
                [d[0] for d in cur.description], cur.fetchall()
            )
        con.close()
        self.op(-1)
        return [f"warm-up {m}" for m in self.check(-1)]

    def op(self, i: int) -> None:
        name = self.mix[i % len(self.mix)]
        with self.tracer.span("plans.build"):
            df = self.queries[name].fn(self.spark, self.sf_dir)
        with self.tracer.span("plans.execute"):
            rows = df.collect()
        self.result = (name, df.columns, [tuple(r) for r in rows])

    def check(self, i: int) -> list[str]:
        name, cols, rows = self.result
        diff = digest.result_diff(digest.canonical_result(cols, rows), self.oracle[name])
        return [f"{name} differs from its oracle: {diff}"] if diff else []

    def layers(self, i: int) -> dict[str, float]:
        tr = self.tracer
        # the adaptive plan as run: the tree above "== Initial Plan =="
        plan = self.ctx.last_plan().split("== Initial Plan ==", 1)[0]
        return {
            "plans.build_s": tr.find("plans.build", i)[0][3] - tr.find("plans.build", i)[0][2],
            "plans.execute_s": tr.find("plans.execute", i)[0][3] - tr.find("plans.execute", i)[0][2],
            "plans.shuffle_exchanges": len(_EXCHANGE.findall(plan)),
        }


# -- corpus curation ----------------------------------------------------------------


class CorpusCurate(Workload):
    """``curate()`` over the generated documents into a fresh directory."""

    #: one call is about 10 s; timing two halves the weight a slow stretch
    #: of a shared machine has on the median
    min_ops = 2
    sf = 0.004  # 200 documents: the pipeline's cost is per stage, not per row

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.work, "sf")
        tables = gen.make_tables(self.seed, self.sf, only=("documents",))
        gen.write_parquet_dir(tables, self.sf_dir)
        self.n_docs = len(tables["documents"])

    def warm(self) -> list[str]:
        # one untimed call, which also fixes the funnel every later call
        # must equal
        self.op(-1)
        self.expected = dataclasses.replace(self.funnel, out_dir="")
        bad = self.check(-1)
        self.cleanup(-1)
        return bad

    def _out(self, i: int) -> str:
        return os.path.join(self.work, f"shards{i}")

    def op(self, i: int) -> None:
        with self.tracer.span("curate.call"):
            self.funnel = curate(self.spark, self.sf_dir, self._out(i))

    def check(self, i: int) -> list[str]:
        f = self.funnel
        bad = []
        if f.n_raw != self.n_docs:
            bad.append(f"funnel n_raw {f.n_raw} != {self.n_docs} documents")
        if not (f.n_raw >= f.n_quality >= f.n_exact >= f.n_near >= f.n_train >= f.n_clean > 0):
            bad.append(f"funnel not monotone: {f}")
        if dataclasses.replace(f, out_dir="") != self.expected:
            bad.append(f"funnel {f} != expected {self.expected}")
        written = len(digest.parquet_frame(self._out(i)))
        if written != f.n_clean:
            bad.append(f"{written} rows written, funnel says {f.n_clean}")
        self.out_mb = _dir_bytes(self._out(i)) / MB
        return bad

    def layers(self, i: int) -> dict[str, float]:
        s = self.tracer.find("curate.call", i)[0]
        return {"curate.call_s": s[3] - s[2], "curate.output_mb": self.out_mb}

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self._out(i), ignore_errors=True)


WORKLOADS = {
    "incremental_sync": IncrementalSync,
    "analyst_sql": AnalystSql,
    "corpus_curate": CorpusCurate,
}
