"""SparkSession factory with scale-aware defaults.

Behavior parity: the reference bootstraps a SparkSession per run with
connector packages and memory overrides (reference:
yaetos/etl_utils.py:1318-1359). Here the factory is Spark-first: AQE on
(runtime re-plan, skew-join splitting, partition coalescing), UTC
session timezone (oracle comparability), Arrow enabled for the
pandas-UDF slow path, and shuffle parallelism sized from the
environment rather than the 200-partition default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local-mode defaults. Cores are not fixed here: the master is
# local[n] and shuffle partitions are n, with n from SPARK_GRAFT_CPUS or
# the host's CPU count (default_parallelism). Driver memory is the fixed
# 16g below unless SPARK_DRIVER_MEMORY overrides it; it is not derived
# from the host. On a real cluster these are overridden by
# spark-submit/cluster conf; only the adaptive + timezone settings
# matter universally.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # At 100 TB the default 128m maxPartitionBytes yields ~800k scan
    # tasks; 256m halves scheduler pressure while staying in-memory.
    "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
    # Spark has no native nanosecond timestamp; read INT64(TIMESTAMP_NANOS)
    # parquet columns as raw longs (converted to micros by the loaders)
    # instead of failing the scan.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # In local mode the driver JVM hosts every executor thread AND all
    # broadcast builds; Spark's 1g default dies with "Not enough memory
    # to build and broadcast" once inputs grow ~10x past sf0.1 (found
    # by `tools/scale.py smoke`). 8g survived single heavy queries at the
    # 100x replica but an 18-query 100x smoke session died inside it
    # (r11: GCLocker allocation retries -> task failures -> stopped
    # context, after ~2.2 GB of dead iterative-operator checkpoint
    # generations piled on live shuffle state); 16g gives the long
    # multi-query session the headroom the host actually has. Only
    # effective at JVM launch; a cluster submit (or the
    # SPARK_DRIVER_MEMORY env override below) replaces it like the
    # other sizing knobs.
    "spark.driver.memory": "16g",
    # ContextCleaner only reclaims unreferenced RDD/broadcast/shuffle
    # state after a driver GC notices the weak refs, and its fallback
    # periodic System.gc() defaults to every 30 MINUTES — longer than
    # most sessions live. Iterative operators (star-CC, min-label CC,
    # PageRank) retire one localCheckpoint generation per round, so a
    # long session accumulates dead blocks for up to half an hour.
    # 5 minutes bounds that backlog at a cost of one GC per interval.
    "spark.cleaner.periodicGC.interval": "5min",
}


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return max(1, int(cpus))
    return max(1, os.cpu_count() or 4)


def get_spark(
    app_name: str = "yaetos_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    ``shuffle_partitions`` defaults to the local core count — right for
    local mode; on a 1000-executor cluster pass ~2-3x total cores (or
    rely on AQE coalescing from a high initial value).
    """
    n = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{n}]")
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or n)
    mem = os.environ.get("SPARK_DRIVER_MEMORY")
    if mem:
        conf["spark.driver.memory"] = mem
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def materialize_fully(df) -> int:
    """Execute ``df``'s FULL plan and return its row count, one pass.

    ``df.count()`` is NOT that: Catalyst prunes every column under it
    and can eliminate whole join subtrees — a left join whose right
    side is aggregate-unique on the key and contributes no referenced
    columns vanishes entirely (r11 found 12 corpus queries whose joins
    never ran under count(); for one, the count collapsed to a bare
    table scan).  Timing harnesses that bill count() as "full
    execution" therefore under-measure exactly the join-topped plans
    they exist to watch.  Writing to the `noop` sink forces every
    output row through the complete plan; the row count rides an
    Observation on the same pass, so nothing runs twice.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    (
        df.observe(obs, F.count(F.lit(1)).alias("rows"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return int(obs.get["rows"])
