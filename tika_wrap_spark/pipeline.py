"""End-to-end extraction pipeline: scan -> salt -> fused extract ->
checkpointed append + per-partition lineage -> resumable, idempotent output.

north_rule semantics:
  * partitioning/shuffle/skew explicit (operators.skew)
  * resumable from checkpoint: lineage rows mark completed ``part_key``s;
    a rerun filters them away (isin on part_key) and only processes the
    remainder. A no-op resume is the same path with an empty write.
  * per-partition lineage: (part_key, input_snapshot_id, doc_count,
    span_count, error_count, wall_ms) — aggregated from a partition-pruned
    scan of ONLY this run's part_key dirs (never the whole store). Every
    run key commits a row, a zero-count row for a part with no documents,
    so lineage alone says when every part is committed. The committed set
    is memoized per process (``committed_parts``).
  * idempotent: the data write is a dynamic partition OVERWRITE, so a
    partition written but not lineage-committed (killed mid-run) is simply
    rewritten on resume — duplicates cannot persist and the consistent
    read needs no dedup shuffle

Layout under ``out_dir`` (parquet degradation path; Iceberg swaps in via
catalog.py with identical semantics):
    extracted/part_key=<k>/*.parquet     extraction output
    _lineage/*.parquet                   lineage/checkpoint table
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tika_wrap_spark import catalog
from tika_wrap_spark.core.procmemo import proc_memo
from tika_wrap_spark.operators.extract_ops import extract_spans
from tika_wrap_spark.operators.skew import salt_repartition, with_part_key
from tika_wrap_spark.schemas import EXTRACTED_PART_SCHEMA, LINEAGE_SCHEMA


def _lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def _extracted_path(out_dir: str) -> str:
    return os.path.join(out_dir, "extracted")


def _read_table(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Read a store table with its declared schema (no inference pass);
    empty-with-schema when nothing was ever written."""
    if not os.path.isdir(path):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path)


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return _read_table(spark, _lineage_path(out_dir), LINEAGE_SCHEMA)


def _read_extracted_raw(spark: SparkSession, out_dir: str) -> DataFrame:
    return _read_table(spark, _extracted_path(out_dir), EXTRACTED_PART_SCHEMA)


def _committed_memo(spark: SparkSession, out_dir: str):
    """(memo, key, listing) of the store's committed-part memo entry;
    ``listing`` is None when no lineage was ever written."""
    path = _lineage_path(out_dir)
    listing = sorted(
        (e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in os.scandir(path)
    ) if os.path.isdir(path) else None
    key = (spark.sparkContext.applicationId, path)
    return proc_memo("committed_parts"), key, listing


def committed_parts(spark: SparkSession, out_dir: str) -> frozenset[int]:
    """The store's lineage-committed part_keys (at most ``parts`` ints),
    memoized per process.

    Lineage is append-only, so every commit changes the listing of its
    files: the memo entry holds the (name, size, mtime_ns) listing it was
    read at, and a hit costs one directory listing and no Spark job."""
    memo, key, listing = _committed_memo(spark, out_dir)
    if listing is None:
        return frozenset()
    hit = memo.get(key)
    if hit is None or hit[0] != listing:
        # each part commits once, so lineage holds at most ``parts`` rows
        rows = read_lineage(spark, out_dir).select("part_key").collect()
        hit = memo[key] = (listing, frozenset(r["part_key"] for r in rows))
    return hit[1]


def run_extraction(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    parts: int = 64,
    num_partitions: int | None = None,
    part_filter: list[int] | None = None,
) -> dict:
    """One (possibly resumed) extraction run. Returns run metrics;
    ``snapshot`` is None when the run had no part left to process.

    ``part_filter`` restricts the run to a subset of part_keys — used by
    tests to simulate a mid-run kill (process some partitions, 'die', rerun).
    """
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism * 2
    t0 = time.monotonic()

    done = committed_parts(spark, out_dir)
    wanted = range(parts) if part_filter is None else set(part_filter)
    run_keys = [k for k in range(parts) if k not in done and k in wanted]
    # the uncommitted keys are a literal list of at most ``parts`` ints: an
    # isin filter drops committed parts ahead of the salt, with no join
    todo = with_part_key(corpus, parts).filter(F.col("part_key").isin(run_keys))
    snapshot = catalog.input_snapshot_id(corpus) if run_keys else None
    extracted = extract_spans(salt_repartition(todo, num_partitions))
    # dynamic partition overwrite: a partition left half-done by a killed run
    # (data landed, lineage never committed) is REPLACED on resume, so the
    # store never holds duplicate rows and the read path needs no dedup.
    # A no-op resume takes this same path with an empty write.
    catalog.overwrite_partitions(
        extracted, _extracted_path(out_dir), partition_by=["part_key"]
    )

    # lineage committed AFTER the data write, computed by re-reading ONLY
    # this run's part_key dirs (partition-pruned scan — lineage I/O scales
    # with THIS run's output, never with total store history)
    wall_ms = int((time.monotonic() - t0) * 1000)
    committed = done | set(run_keys)
    if run_keys:
        lineage = lineage_for_run(spark, out_dir, run_keys, snapshot, wall_ms)
        catalog.append_table(lineage, _lineage_path(out_dir))
        # write-through: a store has one writer at a time, so the listing
        # after this run's own append holds exactly ``committed``
        memo, key, listing = _committed_memo(spark, out_dir)
        memo[key] = (listing, committed)
    return {
        "snapshot": snapshot,
        "wall_ms": wall_ms,
        "parts_done": len(committed),
        "parts_total": parts,
    }


def lineage_for_run(
    spark: SparkSession,
    out_dir: str,
    run_keys: list[int],
    snapshot: str,
    wall_ms: int,
) -> DataFrame:
    """One lineage row per run key, aggregated from a partition-pruned scan
    of only that run's ``part_key`` dirs (the store is partitioned by
    part_key, so the isin filter reaches the scan as a PartitionFilter —
    pinned in ``tests/test_resume.py``). A key that holds no documents gets
    a zero-count row, so "every part committed" is known from lineage
    alone. One output partition: each commit appends one file."""
    counts = ["doc_count", "span_count", "error_count"]
    zero = [F.lit(0).cast("long").alias(c) for c in counts]
    # one zero row per run key, built JVM-side (no Python-side DataFrame)
    zeros = spark.range(1, numPartitions=1).select(
        F.inline(F.array(*[F.struct(F.lit(k).alias("part_key"), *zero) for k in run_keys]))
    )
    scanned = (
        _read_extracted_raw(spark, out_dir)
        .filter(F.col("part_key").isin(run_keys))
        .select(
            "part_key",
            F.lit(1).cast("long").alias("doc_count"),
            F.size("spans").cast("long").alias("span_count"),
            (~F.col("parse_ok")).cast("long").alias("error_count"),
        )
    )
    return (
        scanned.unionByName(zeros)
        .groupBy("part_key")
        .agg(*[F.sum(c).alias(c) for c in counts])
        .coalesce(1)
        .select(
            "part_key",
            F.lit(snapshot).alias("input_snapshot_id"),
            *counts,
            # wall of the run that committed it
            F.lit(wall_ms).cast("long").alias("wall_ms"),
        )
    )


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    """Final consistent view: only lineage-committed partitions.

    No dedup is needed: the data write is a dynamic partition OVERWRITE, so
    a partition can only ever hold one copy of its rows — a kill between
    data write and lineage commit leaves an uncommitted partition that is
    excluded here and fully rewritten on resume.

    The committed-parts set is tiny (≤ ``parts`` ints, memoized by
    ``committed_parts``) and applied as an ``isin`` PARTITION FILTER, so a
    consistent read is a partition-pruned scan with no join and no shuffle
    at all (pinned in ``tests/test_plans.py``)."""
    done_keys = sorted(committed_parts(spark, out_dir))
    return _read_extracted_raw(spark, out_dir).filter(F.col("part_key").isin(done_keys))


def extract_in_memory(spark: SparkSession, corpus: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Checkpoint-free variant (benchmarks, driver entry): salt -> extract."""
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism * 2
    return extract_spans(salt_repartition(corpus, num_partitions))


def write_shards(
    df: DataFrame,
    out_dir: str,
    n_shards: int,
    files_per_shard: int = 1,
    key_col: str = "doc_id",
) -> None:
    """Training-data shard export: assign every row its deterministic md5
    shard (``operators.curation.shard_assign`` — retry-stable, no RNG),
    cluster rows by shard, and write ``shard=<k>/`` partition directories
    with ``files_per_shard`` files each.

    The repartition shuffles on the shard id (uniform by construction —
    md5 buckets have no hot key), so each shard's files are written by
    dedicated tasks and a downstream tokenizer reads exactly one
    directory per worker. Re-running overwrites only the shard partitions
    present in ``df`` (dynamic partition overwrite — idempotent, same as
    the extraction store)."""
    from tika_wrap_spark.operators.curation import shard_assign

    sharded = shard_assign(df, n_shards, key_col=key_col).repartition(
        n_shards * files_per_shard, F.col("shard")
    )
    catalog.overwrite_partitions(sharded, out_dir, partition_by=["shard"])
