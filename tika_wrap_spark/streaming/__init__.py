"""Structured Streaming ingestion path.

The reference is strictly batch (one blocking event loop per document,
/root/reference/src/java-env.cpp:283-285), and the north_rule's primary
mode is batch-with-resume (pipeline.py). This module adds the incremental
arrival path a production corpus needs: new corpus files landing in a
directory are discovered by the file stream source, run through the SAME
fused extraction operator (``extract_spans`` works unchanged on streaming
DataFrames — mapInPandas is streaming-compatible), and appended exactly-once
via the streaming checkpoint.

``stream_extract`` triggers with ``availableNow=True``: it drains the
backlog and stops — the streaming equivalent of a resumable batch run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from tika_wrap_spark.operators.extract_ops import extract_spans
from tika_wrap_spark.portability import enter_worker, make_portable
from tika_wrap_spark.schemas import CORPUS_SCHEMA


def stream_extract(spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str):
    """Stream the corpus parquet files of a growing directory -> fused
    extraction -> parquet sink, drained with ``availableNow``.

    Exactly-once per input file via the streaming checkpoint (the streaming
    analog of pipeline.py's lineage commit). Returns the StreamingQuery;
    call ``.awaitTermination()`` to drain-and-stop.
    """
    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(input_dir)
    return (
        extract_spans(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# event-stream operators: watermarked windows + custom stateful aggregation
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def windowed_event_metrics(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window metrics over an event stream: late rows
    beyond the watermark are dropped, windows age out of state — bounded
    state at unbounded input, the Structured Streaming aggregation idiom.
    Works identically on a batch DataFrame (same code, batch oracle).

    Values are quantized to integers BEFORE the aggregation (the
    rollup_cascade convention): double summation is order-dependent, so a
    rounded double sum can flake between the streaming and batch plans when
    a window's total lands near a rounding boundary — an integer sum is
    associative and re-aggregates exactly."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.withColumn("value_q", F.floor(F.col("value") * 1000).cast("long"))
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value_q").alias("sum_value_q"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n",
            "sum_value_q",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` keys state
    on event_id but ages entries out once they fall behind the watermark —
    bounded state on an unbounded stream, which a plain streaming
    dropDuplicates (state grows forever) cannot give at 10^12 events.
    Duplicates arriving within the watermark horizon (the at-least-once
    redelivery window of any real source) are suppressed exactly; the same
    call on a batch frame degrades to ordinary dropDuplicates, so the
    batch oracle is the distinct count."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])


_STATE_SCHEMA = T.StructType([T.StructField("n", T.LongType())])
_USER_COUNT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _user_count_fn(key, pdf_iter, state):
    """Custom stateful operator body: running per-user event count carried
    across micro-batches in GroupState (applyInPandasWithState)."""
    enter_worker()
    import pandas as pd  # noqa: PLC0415

    n_new = sum(len(pdf) for pdf in pdf_iter)
    (n_old,) = state.get if state.exists else (0,)
    total = n_old + n_new
    state.update((total,))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Running per-user event counts via ``applyInPandasWithState`` — the
    custom-stateful-operator seam (state survives micro-batch boundaries;
    the last emitted row per user equals the batch groupBy count)."""
    make_portable()
    return events.groupBy("user_id").applyInPandasWithState(
        _user_count_fn,
        outputStructType=_USER_COUNT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def stream_shard_export(
    extracted_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n_shards: int,
    key_col: str = "doc_id",
):
    """Streaming training-shard export with exactly-once semantics — the
    foreachBatch idempotence recipe: every micro-batch assigns the same
    deterministic md5 shard as the batch exporter
    (``operators.curation.shard_assign``) plus its epoch id, and writes
    ``shard=<k>/batch=<epoch>/`` partitions under dynamic partition
    OVERWRITE. A redelivered epoch (crash between write and checkpoint
    commit) rewrites exactly its own ``batch=<epoch>`` partitions and
    nothing else, so the store never double-counts and never loses other
    epochs — the same idempotence contract as the batch extraction store.

    Returns the started ``StreamingQuery`` (caller awaits/stops)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from tika_wrap_spark.operators.curation import shard_assign  # noqa: PLC0415

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        out = shard_assign(df, n_shards, key_col=key_col).withColumn(
            "batch", F.lit(int(epoch_id)).cast("long")
        )
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("shard", "batch")
            .parquet(out_dir)
        )

    return (
        extracted_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
