"""Skew defense — an explicit salt, hash-partitioned (north_rule).

Giant-PDF skew is *UDF-cost* skew: row counts per partition look balanced,
but one 100x-payload document makes its partition the straggler. AQE's
size-based stats cannot see this (SURVEY §4.2), so the salt is explicit:

    salt = pmod(xxhash64(doc_id), max(16 * N, 1024))   # uniform random
    repartition(N, salt)                                # hash on the salt

Because the salt is uniform i.i.d. per doc, partitioning on it SPREADS the
giant docs evenly across all N partitions (each partition gets ~giants/N of
them in expectation), and each partition draws many salt values. Every
caller takes this hash path; ``salt_repartition(method="range")``
range-partitions on ``(salt, doc_id)`` instead, at the price of a sampling
job. At 1000 executors the same expression scales by raising
``num_partitions`` only.

Measured dead end, kept as a warning: an earlier version led the range key
with a ``cost_bin = log2(payload)`` DESC column, intending "heavy docs
first". Range partitioning *clusters* by its leading key, so that packed
every giant PDF into the first partition range — a 4x straggler regression
vs. plain salting (see BENCH.md). Cost-awareness that actually helps is
finer task granularity (2-4 tasks/core) so the scheduler overlaps a giant
with many cheap tasks, not cost-sorted placement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_part_key(df: DataFrame, parts: int) -> DataFrame:
    """Stable checkpoint partition key: independent of runtime parallelism,
    so resume (an isin filter on part_key) survives cluster-size changes."""
    return df.withColumn(
        "part_key", F.pmod(F.xxhash64("doc_id"), F.lit(parts)).cast("int")
    )


def doc_cost(df: DataFrame) -> DataFrame:
    """Per-doc extraction cost proxy: total payload chars across spans.
    Computed JVM-side (no Python) with a codegen'd aggregate expression."""
    return df.withColumn(
        "cost",
        F.aggregate(
            F.coalesce(F.col("spans"), F.array()),
            F.lit(0).cast("long"),
            lambda acc, s: acc + F.coalesce(F.length(s["text"]), F.lit(0)),
        ),
    )


def salt_repartition(
    df: DataFrame,
    num_partitions: int,
    method: str = "hash",
) -> DataFrame:
    """Salted repartition ahead of the extraction UDF: uniform-random
    spread of documents (and therefore of the giant-doc tail) across exactly
    ``num_partitions`` tasks, deterministic in doc_id.

    ``method="hash"`` (default) hash-partitions on the salt — one shuffle,
    no extra work. ``method="range"`` range-partitions on (salt, doc_id);
    because the salt is uniform the *placement* is equivalent, but Spark's
    RangePartitioner runs an extra sampling job over the input to pick
    boundaries, a whole extra stage the hash path doesn't pay (measured
    ~10-20% of job wall at sandbox scale, BENCH.md). Kept for inputs where
    salt-contiguous output partitions are wanted downstream."""
    salt_buckets = max(num_partitions * 16, 1024)
    salted = df.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(salt_buckets))
    )
    if method == "range":
        out = salted.repartitionByRange(num_partitions, F.col("salt"), F.col("doc_id"))
    else:
        out = salted.repartition(num_partitions, F.col("salt"))
    return out.drop("salt")


def skew_topk(df: DataFrame, k: int = 10) -> DataFrame:
    """Diagnostic: the k most expensive documents (sort_limit_topk)."""
    return (
        doc_cost(df)
        .select("doc_id", "cost")
        .orderBy(F.col("cost").desc(), F.col("doc_id"))
        .limit(k)
    )
