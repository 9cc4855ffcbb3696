"""Benchmark driver: one workload, one process, closed loop with one client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Set-up (Spark session, registry import, input
generation from the seed, warm-up) is timed once as ``setup_s``. Operations
then run back to back until their summed time reaches ``--seconds`` and at
least the workload's ``min_ops`` have run (``analyst_sql`` finishes its pass
over the query mix).
Every operation is checked after its timed span; a mismatch counts as a
failed operation.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans
around every layer call, writes them to ``.perfbench_work/traces/`` and
prints the per-layer metrics instead. The last line of stdout is one JSON
object; the exit code is 0 only if every check passed.

The run environment is pinned here, never in the engine: ``local[nproc]``,
``SPARK_GRAFT_CPUS=nproc``, a 1 GiB driver heap, Spark local/temp/warehouse
directories inside the work directory, fetch concurrency
(``max_fetch_tasks`` x ``io_threads``) = nproc, portal threads = nproc.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: driver heap; the engine's 48g default exceeds small boxes
DRIVER_MEMORY = "1g"


def _pin_env(work: str, nproc: int) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        CDA_SUPPLEMENT_CACHE=os.path.join(work, "supplement"),
        PYTHONPATH=os.pathsep.join(paths),  # Spark's Python workers import both packages
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )


class _SqlCount:
    count = 0


class Ctx:
    """What every workload shares: the session, tracer and work directory."""

    def __init__(self, spark, tracer, work: str, seed: int, nproc: int) -> None:
        self.spark, self.tracer, self.work, self.seed, self.nproc = spark, tracer, work, seed, nproc

    @contextmanager
    def count_sql(self):
        """Count ``spark.sql`` statements issued inside the block."""
        cls = type(self.spark)
        orig, counter = cls.sql, _SqlCount()

        def sql(session, query, *a, **kw):
            counter.count += 1
            return orig(session, query, *a, **kw)

        cls.sql = sql
        try:
            yield counter
        finally:
            cls.sql = orig

    def last_plan(self) -> str:
        """Physical plan text of the latest SQL execution, as finally run."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        runs = store.executionsList()
        return runs.last().physicalPlanDescription() if runs.nonEmpty() else ""


def _stop_spark(spark) -> None:
    """Stop Spark, then its JVM, and wait until the JVM and every process it
    forked (the Python worker daemon and workers) have ended."""
    from pyspark import SparkContext

    from perfbench.tracing import alive, descendants

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway exits when its stdin closes
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in started:
        if alive(pid):
            os.kill(pid, signal.SIGKILL)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "canvas_data_aws_spark")):
        print(f"error: engine package canvas_data_aws_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # import perfbench as a package, not its modules

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _pin_env(work, nproc)

    from perfbench.tracing import JobCounter, RssSampler, Tracer, median
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    sampler = RssSampler().__enter__()
    t0 = time.monotonic()
    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    all_queries()
    session_s = time.monotonic() - t0

    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(spark, tracer, work, args.seed, nproc)
    wl = WORKLOADS[args.workload](ctx)
    jobs = JobCounter(spark)
    failed = attempted = 0
    notes: list[str] = []
    try:
        t = time.monotonic()
        wl.generate()
        gen_s = time.monotonic() - t
        t = time.monotonic()
        jobs.start("warm-up")
        notes += wl.warm()
        attempted = failed = int(bool(notes))  # a failed warm-up op counts too
        warm_s = time.monotonic() - t
        setup_s = session_s + gen_s + warm_s
        print(
            f"setup: session {session_s:.2f}s, generate {gen_s:.2f}s, warm-up {warm_s:.2f}s",
            file=sys.stderr,
        )

        lat: list[float] = []
        layer_rows: list[dict] = []
        busy = 0.0
        i = 0
        while busy < args.seconds or i < wl.min_ops or i % wl.pass_len:
            jobs.start(f"check-{i}")
            wl.prepare(i)
            tracer.op = i
            jobs.start(f"op-{i}")
            attempted += 1
            t = time.monotonic()
            try:
                wl.op(i)
                dt = time.monotonic() - t
                jobs.start(f"check-{i}")
                bad = wl.check(i)
            except Exception as e:  # noqa: BLE001 — an op that raises is a failed op
                dt = time.monotonic() - t
                bad = [f"op {i} raised {type(e).__name__}: {e}"]
                traceback.print_exc(file=sys.stderr)
            busy += dt
            lat.append(dt)
            print(f"op {i}: {dt:.3f}s", file=sys.stderr)
            if bad:
                failed += 1
                notes.extend(bad)
            elif tracer.enabled:
                row = wl.layers(i)
                counts = jobs.counts(f"op-{i}")
                row["spark.jobs_per_op"] = counts["jobs"]
                row["spark.tasks_per_op"] = counts["tasks"]
                layer_rows.append(row)
            wl.cleanup(i)
            i += 1
    finally:
        wl.close()
        sampler.__exit__(None, None, None)
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for n in notes:
        print(f"MISMATCH: {n}", file=sys.stderr)
    correct = failed == 0
    if args.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            per_layer = json.load(f)["per_layer"]
        metrics = {}
        for m in per_layer:
            values = [r[m["name"]] for r in layer_rows if m["name"] in r]
            metrics[m["name"]] = {"value": median(values), "unit": m["unit"]}
        metrics["traced.latency_s.p50"]["value"] = median(lat)
        metrics["trace.overhead_ms_per_op"]["value"] = 1000 * tracer.overhead_s / max(1, attempted)
        tracer.write(
            os.path.join(ROOT, ".perfbench_work", "traces", f"{args.workload}-seed{args.seed}.jsonl")
        )
    else:
        metrics = {
            "latency_s.p50": {"value": median(lat), "unit": "s"},
            "throughput_ops_per_s": {"value": len(lat) / busy, "unit": "ops/s"},
            "peak_rss_mb": {"value": sampler.peak_kb / 1024, "unit": "MB"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
