"""SparkSession factory.

Design notes (scale-first):
- Session timezone pinned to UTC so date/timestamp semantics are stable and
  oracle comparisons (DuckDB) are honest. The reference mixes naive dates and
  UTC timestamps (reference: pyproject.toml:72-76 ruff DTZ exceptions); we pin.
- AQE on: runtime partition coalescing + skew-join handling are the first line
  of defense at 100 TB where static shuffle.partitions is always wrong.
- shuffle.partitions defaults to the local core count for tests; on a real
  cluster this is overridden by AQE's coalescing from a high initial value.
- Partition discovery of a table with more than 32 partition directories
  runs as a Spark job, by default one task per directory (a 2.5k-date
  fact table: 2.5k tasks to list it). Its width is pinned to the shuffle
  width, so a listing costs one wave of tasks on the session's cores.
- Arrow enabled for any toPandas()/pandas_udf boundary (vectorized transfer).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: task slots of a local session (and its shuffle width): the CPUs this
#: process may run on, unless ``$SPARK_GRAFT_CPUS`` says otherwise
DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)


def _apply_driver_memory() -> None:
    """Driver heap for local mode, from $SPARK_GRAFT_DRIVER_MEM.

    ``spark.driver.memory`` set through SparkSession.builder is silently
    ignored in local mode once the JVM gateway is up — the heap is fixed at
    JVM launch. The only reliable local-mode channel is PYSPARK_SUBMIT_ARGS
    before the first getOrCreate; on a real cluster pass --driver-memory to
    spark-submit instead. Defaults to 8g (Spark's 1g default is too small
    for the cached fact table + persisted dedup indexes in one process);
    an already-set PYSPARK_SUBMIT_ARGS always wins.
    """
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    if "PYSPARK_SUBMIT_ARGS" not in os.environ:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-memory {mem} pyspark-shell"
        )


def get_session(
    app_name: str = "bfa-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    Local mode for tests/bench; on a cluster, master comes from spark-submit
    and everything here still applies.
    """
    _apply_driver_memory()
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.parallelism",
            str(shuffle_partitions),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The generated-class cache defaults to 100 entries (static conf);
        # a 100+-query catalog has several codegen stages per query, so at
        # the default every repeated execution re-pays Janino compilation
        # (~0.1-0.8 s/query — measured 37 s -> 27 s warm catalog at sf0.1).
        # Compiled classes are small; 5000 entries is a few hundred MB at
        # the absolute worst and applies per-JVM (driver and executors).
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # File-split floor: Spark sizes scan splits as
        # max(openCostInBytes, bytes/defaultParallelism) capped by
        # maxPartitionBytes. The 4 MB default floor caps a 15 MB corpus
        # at 4 tasks on 32 cores — half-idle for regex/codec-heavy text
        # scans whose cost is per-byte CPU, not IO. 512 KB lets small
        # working sets fan out to the core count while leaving big-file
        # splits governed by bytes/cores exactly as before. (Row-group
        # starts gate actual row production — see tools/gen_sf.py
        # _ROW_GROUP_ROWS.)
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        # local-mode friendliness; harmless on a cluster
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
