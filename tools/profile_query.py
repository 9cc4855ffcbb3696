"""Per-query profiling harness for the optimization rounds.

Usage: python tools/profile_query.py <query> [<query> ...] [--sf DIR] [--reps N]

For each named registry query this:
- times DataFrame construction (fn(spark, sf_dir) — includes any eager
  localCheckpoints the plan builds) separately from the noop-sink execution
  (guide §1.4), min-of-N reps each;
- counts Spark jobs/stages/tasks the execution launched (status tracker);
- writes .explain("formatted") to /tmp/plans/<query>.txt and prints the
  Exchange / join-node / Python-eval census from it (guide §7.2).

One JVM for all named queries (JIT-warm after the first), so every rep
after the first is a steady-state one.
"""

from __future__ import annotations

import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.1"
    reps = 2
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1

    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.session import get_spark

    spark = get_spark(app_name="cda-profile")
    sc = spark.sparkContext
    registry = all_queries()
    os.makedirs("/tmp/plans", exist_ok=True)

    # warm: parquet footers + JIT
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    for name in names:
        fn = registry[name].fn
        build_times, exec_times, job_counts = [], [], []
        plan_txt = ""
        for _ in range(reps):
            sc.setJobDescription(f"{name}: build")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            if not plan_txt:
                plan_txt = spark._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            n_before = len(sc.statusTracker().getJobIdsForGroup() or [])
            sc.setJobDescription(f"{name}: exec")
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            n_after = len(sc.statusTracker().getJobIdsForGroup() or [])
            build_times.append(t1 - t0)
            exec_times.append(t3 - t2)
            job_counts.append(n_after - n_before)
            spark.catalog.clearCache()
            try:
                for jrdd in sc._jsc.getPersistentRDDs().values():
                    jrdd.unpersist(False)
            except Exception:
                pass
        with open(f"/tmp/plans/{name}.txt", "w") as f:
            f.write(plan_txt)
        n_ex = len(re.findall(r"\bExchange\b", plan_txt))
        n_reuse = len(re.findall(r"ReusedExchange", plan_txt))
        joins = re.findall(
            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)",
            plan_txt,
        )
        pyev = re.findall(r"(BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas)", plan_txt)
        from collections import Counter

        print(
            f"{name}: build={min(build_times):.3f}s exec={min(exec_times):.3f}s "
            f"jobs={job_counts} exch={n_ex}(reused {n_reuse}) "
            f"joins={dict(Counter(joins))} py={dict(Counter(pyev))}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
