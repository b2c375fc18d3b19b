"""SparkSession construction tuned for the extraction workload.

Local-mode testing stands in for the multi-executor cluster (north_rule):
parallelism scales with ``local[N]``; all scale-sensitive choices
(shuffle partition count, Arrow batch size, AQE) are explicit here so the
same code runs unchanged under ``spark-submit --py-files`` on a real cluster.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# Arrow batch size is the rebuild's analog of the reference's 81,920-byte
# HTTP streaming chunk (/root/reference/src/java-env.cpp:269): it bounds
# per-crossing memory between the executor JVM and the python worker.
# Tuned on the extraction workload (BENCH.md): 512 -> 2048 raised top-level
# throughput ~10% (fewer batch boundaries); 8192 regressed (cache pressure).
# At ~3 KB/doc this is ~6 MB per crossing.
ARROW_MAX_RECORDS = 2048


def get_spark(
    master: str = "local[32]",
    app_name: str = "tika_wrap_spark",
    driver_memory: str = "48g",
) -> SparkSession:
    n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
    shuffle_partitions = 32 if n == "*" else max(int(n), 1)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
