"""Thin table layer: Iceberg when the connector is on the classpath,
parquet directories otherwise (SURVEY §7 degradation path — same semantics:
append-only writes, snapshot-id string, partition pruning by ``part_key``).

The production deployment (north_rule) targets Iceberg tables. A location
with the ``iceberg:`` prefix selects the Iceberg format and any other
location is a parquet directory; everything else is identical DataFrame
code. ``iceberg_available()`` reports whether the connector is on the
classpath, and no format choice reads it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, location: str) -> DataFrame:
    if location.startswith("iceberg:"):
        return spark.read.format("iceberg").load(location[len("iceberg:") :])
    return spark.read.parquet(location)


def append_table(df: DataFrame, location: str) -> None:
    if location.startswith("iceberg:"):
        df.writeTo(location[len("iceberg:") :]).append()
        return
    df.write.mode("append").parquet(location)


def overwrite_partitions(df: DataFrame, location: str, partition_by: list[str]) -> None:
    """Dynamic partition overwrite: replaces ONLY the partitions present in
    ``df``, leaving every other partition untouched (Iceberg
    ``overwritePartitions`` semantics; parquet mode uses Spark's dynamic
    ``partitionOverwriteMode``).

    This makes the extraction write IDEMPOTENT per partition: a partition
    written by a killed run (data landed, lineage never committed) is simply
    rewritten on resume — no duplicate rows can persist, so the consistent
    read path needs no global dedup shuffle."""
    if location.startswith("iceberg:"):
        df.writeTo(location[len("iceberg:") :]).overwritePartitions()
        return
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(location)
    )


def input_snapshot_id(df: DataFrame) -> str:
    """Stable fingerprint of an input corpus (parquet-mode stand-in for the
    Iceberg snapshot id in lineage rows): order-insensitive xxhash64 fold of
    doc ids + count. One cheap JVM-side aggregate."""
    row = df.agg(
        F.sum(F.xxhash64("doc_id").cast("decimal(38,0)")).alias("h"),
        F.count("*").alias("c"),
    ).collect()[0]
    h = int(row["h"] or 0) & 0xFFFFFFFFFFFFFFFF
    return "fp-%x-%d" % (h, row["c"])


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) on a join key.

    Two tables bucketed identically on their join key co-locate: Spark
    reads bucket i of both sides into the same task and the join runs with
    NO Exchange on either side — at 100 TB this converts every recurring
    fact-fact join on that key from a full shuffle into a local merge
    (``tests/test_bucketed.py`` pins the exchange-free plan). Parquet
    ``bucketBy`` matches Iceberg's bucket partition transform semantics."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)
