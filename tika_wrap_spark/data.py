"""Bridging helpers between the pure-python corpus rows and Spark DataFrames."""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from tika_wrap_spark.schemas import CORPUS_SCHEMA

# ids per corpus-generation task (see the finding-22 comment in
# _distributed_df): small enough that a task's entire INPUT stream
# (8-byte ids + framing, ~32 KB) fits in the worker socket buffers
GEN_IDS_PER_TASK = 4096


def _span_tuple(s: dict[str, Any]) -> tuple:
    return (s["kind"], s["text"], s["media_ref"], s["offset"])


def corpus_to_df(spark: SparkSession, rows: list[dict[str, Any]]) -> DataFrame:
    data = [(r["doc_id"], [_span_tuple(s) for s in r["spans"]]) for r in rows]
    return spark.createDataFrame(data, CORPUS_SCHEMA)


def _make_row_fn(n_docs: int, seed: int):
    """Closure mapping a global doc index to its corpus row: seeded normal
    doc below ``n_docs``, deterministic adversarial doc above (ids continue
    the doc_%07d space). gen_doc/adversarial_rows are bound DRIVER-side so
    cloudpickle ships their code by value — the worker must never execute
    an ``import tika_wrap_spark...`` statement (the grading driver runs
    from a foreign cwd where the package is not importable). The
    adversarial rows are built once per task, on the first id that needs
    them (each task unpickles its own copy of the closure)."""
    from tika_wrap_spark.corpus import adversarial_rows, gen_doc  # noqa: PLC0415

    adversarial: list[dict[str, Any]] = []

    def row(i: int) -> dict[str, Any]:
        if i < n_docs:
            return gen_doc(i, seed)
        if not adversarial:
            adversarial.extend(adversarial_rows(n_docs))
        return adversarial[i - n_docs]

    return row


def _distributed_df(spark, n_docs, seed, num_partitions, adversarial, spans_of=None):
    """(doc_id, spans) DataFrame synthesized ON THE EXECUTORS: ``spark.range``
    over doc ids -> ``mapInPandas`` over ``_make_row_fn``'s rows, each row's
    spans passed through ``spans_of(spans) -> spans`` when given."""
    from tika_wrap_spark.corpus import N_ADVERSARIAL  # noqa: PLC0415
    from tika_wrap_spark.portability import enter_worker, make_portable

    make_portable()
    total = n_docs + (N_ADVERSARIAL if adversarial else 0)
    if num_partitions is None:
        # Bound ids-per-task (~GEN_IDS_PER_TASK): pyspark 4's single-threaded
        # PythonRunner can wedge when a task's pending INPUT outlives the
        # first output backpressure stall (JVM waits writable, python waits
        # readable — observed live at 15625 ids/task on the r4 corpus,
        # BENCH.md finding 22). Small tasks also bound generator skew at any
        # corpus size — the 10^12-doc-safe default.
        num_partitions = max(
            spark.sparkContext.defaultParallelism * 2,
            -(-total // GEN_IDS_PER_TASK),
        )
    row_fn = _make_row_fn(n_docs, seed)

    def gen(batches):
        enter_worker()
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            rows = [row_fn(int(i)) for i in pdf["id"]]
            spans = [r["spans"] for r in rows]
            yield pd.DataFrame(
                {
                    "doc_id": [r["doc_id"] for r in rows],
                    "spans": spans if spans_of is None else [spans_of(s) for s in spans],
                }
            )

    return spark.range(0, total, numPartitions=num_partitions).mapInPandas(
        gen, schema=CORPUS_SCHEMA
    )


def distributed_corpus_df(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    num_partitions: int | None = None,
    adversarial: bool = False,
) -> DataFrame:
    """Synthesize the corpus ON THE EXECUTORS: ``spark.range`` over doc ids
    -> ``mapInPandas`` calling the per-doc-seeded ``corpus.gen_doc``. Output
    is identical for a given (n_docs, seed) under ANY partitioning, and the
    driver never holds the data — the only corpus path that survives 10^12
    docs. ``generate_corpus`` (driver-side) stays for small golden fixtures.
    ``adversarial=True`` appends the same N_ADVERSARIAL malformed docs
    ``generate_corpus`` does (equality pinned in tests/test_submit.py)."""
    return _distributed_df(spark, n_docs, seed, num_partitions, adversarial)


def distributed_golden_df(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    num_partitions: int | None = None,
    adversarial: bool = False,
) -> DataFrame:
    """Golden EXPECTED output synthesized on the executors: each task
    generates its id range and runs the pure core over it — fixture
    generation that scales with the corpus (no driver-side golden list).
    Returns (doc_id, spans) of expected spans, the shape
    ``verify_against_golden`` consumes."""
    from tika_wrap_spark.core.extract import extract_document  # noqa: PLC0415

    def spans_of(spans: list) -> list:
        return extract_document(spans)["spans"]

    return _distributed_df(spark, n_docs, seed, num_partitions, adversarial, spans_of)


def extracted_to_rows(df: DataFrame) -> list[dict[str, Any]]:
    """Collect an extracted DataFrame back to plain-python rows in the golden
    fixture shape, sorted by doc_id (for comparisons in tests)."""
    out = []
    for row in df.collect():
        out.append(
            {
                "doc_id": row["doc_id"],
                "spans": [
                    {
                        "kind": s["kind"],
                        "text": s["text"],
                        "media_ref": s["media_ref"],
                        "offset": s["offset"],
                    }
                    for s in (row["spans"] or [])
                ],
                "parse_ok": row["parse_ok"],
                "error": row["error"],
                "meta": dict(row["meta"] or {}),
            }
        )
    out.sort(key=lambda r: r["doc_id"])
    return out
