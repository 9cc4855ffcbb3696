"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (driver sets SPARK_GRAFT_CPUS), but every
setting here is chosen for the 1000-executor / ~100 TB target:

- AQE on: runtime partition coalescing, skew-join splitting, dynamic
  broadcast — the first line of defense against skew at scale.
- Arrow on: every Pandas UDF / ``applyInPandas`` hop is vectorized.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster AQE coalesces from a deliberately high initial number, so we
  also leave ``spark.sql.adaptive.coalescePartitions.enabled`` on.
- Parquet pushdown/pruning flags are Spark defaults but pinned explicitly so
  a misconfigured environment cannot silently disable them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Half the host's physical memory, capped at 48g: G1 grows the heap toward
#: its maximum, and a heap near the host's size gets the JVM killed.
_HALF_HOST_MB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 // (1 << 20)

_DEFAULTS: dict[str, str] = {
    # --- memory: local[N] hosts every executor thread inside the driver JVM,
    # so the default 1g heap starves 32 threads; size it to the machine
    # (cluster deployments override via spark-submit) -------------------------
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", f"{min(_HALF_HOST_MB, 48 * 1024)}m"
    ),
    "spark.driver.maxResultSize": "4g",
    # --- adaptive execution: the scale story ---------------------------------
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # dynamic runtime broadcast when a post-shuffle side turns out small
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
    # --- joins ---------------------------------------------------------------
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # --- python interop: Arrow everywhere ------------------------------------
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # --- scans: keep pushdown/pruning pinned on ------------------------------
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    # --- correctness/determinism ---------------------------------------------
    "spark.sql.session.timeZone": "UTC",
    # read parquet TIMESTAMP(NANOS) as bigint nanos; load_table converts events.ts
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # quiet the UI in test loops
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "canvas_data_aws_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession with engine defaults applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a real cluster, pass ``master=None`` with an externally-managed
    session; getOrCreate() reuses it and only fills unset conf keys.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env else 32

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
