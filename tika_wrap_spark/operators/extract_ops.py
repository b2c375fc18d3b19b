"""Spark-side extraction operators: Arrow-batched mapInPandas over the corpus.

Design (SURVEY.md §4.2 / PAPERS.md CIDR'22 note): the whole
sniff -> route -> extract -> assemble chain is fused into ONE ``mapInPandas``
pass, so each Arrow batch crosses the executor-JVM <-> python-worker boundary
exactly once (that boundary is the rebuild's analog of the reference's
loopback HTTP hop to the Tika server, /root/reference/src/java-env.cpp:266).
Python workers are reused across tasks, the analog of the reference's lazy
warm-server reuse (src/java-env.cpp:199-205), with none of its
one-doc-at-a-time mutex (src/java-env.cpp:58,83). Parser module state is
not: ``make_portable`` ships the package by value, so each task rebuilds
module globals when it unpickles the UDF; what must outlive a task lives in
``core.procmemo.proc_memo``. Both UDFs here open with
``portability.enter_worker()``: it drops the cached zip finders a reused
worker would otherwise re-read before each task, and the first time it runs
in a worker process it freezes the import heap (pyspark, pandas, pyarrow),
so the daemon's per-task ``gc.collect()`` and in-batch gen-2 passes scan
only the task's own young objects.

No per-row Python UDFs anywhere (input_hint mandate): everything is
Arrow-vectorized at the batch level.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tika_wrap_spark.core.extract import extract_document
from tika_wrap_spark.portability import enter_worker, make_portable
from tika_wrap_spark.schemas import EXTRACTED_PART_SCHEMA, EXTRACTED_SCHEMA

# --- per-document wall-clock budget (§2A#14) -------------------------------
# The reference bounds every Tika transfer at 100 minutes
# (/root/reference/src/java-env.cpp:229-231, setConnectTimeout/
# setTransferTimeout); without an analog, one pathological document stalls a
# Spark task forever. Documents whose total payload exceeds
# ``GUARD_MIN_CHARS`` run on a guard thread and are abandoned after
# ``DOC_TIMEOUT_S`` -> ``parse_ok=false, error='timeout: ...'`` rows, never a
# task failure. Small documents skip the thread hop (the parsers are linear
# scans; only giants can take meaningful wall-clock), so the guard costs
# nothing on the hot path.
DOC_TIMEOUT_S = 100.0 * 60.0  # reference parity: 100 min per transfer
GUARD_MIN_CHARS = 1 << 19  # 512k chars: ~50x the corpus median document

def _extract_with_timeout(
    spans: list[dict[str, Any]],
    budget_s: float,
    fn: Callable[[list[dict[str, Any]]], dict[str, Any]] = extract_document,
) -> dict[str, Any]:
    """Run one extraction under a wall-clock budget on a DAEMON guard thread.

    On timeout the thread is abandoned and the document becomes an error
    row (the reference's server-respawn analog, src/java-env.cpp restart
    path). Daemon threads never join at interpreter exit, so a genuinely
    non-terminating document can neither stall a task nor keep the python
    worker from shutting down (a non-daemon ThreadPoolExecutor would be
    re-joined by concurrent.futures' atexit hook). A fresh thread serves
    each guarded document — spawn cost is ~50µs against a >=512k-char
    parse, and only giants take this path at all. No live thread/pool
    object lives at module scope, so ``make_portable``'s by-value module
    pickling has nothing unpicklable to ship."""
    box: dict[str, Any] = {}
    done = threading.Event()

    def _runner() -> None:
        try:
            box["res"] = fn(spans)
        except BaseException as exc:  # propagate to the caller's thread
            box["exc"] = exc
        finally:
            done.set()

    threading.Thread(target=_runner, daemon=True, name="tw-extract-guard").start()
    if not done.wait(budget_s):
        # the stuck daemon thread is abandoned (task-local leak bounded by
        # the error rate; it dies with the worker process, blocking nothing)
        return {
            "spans": [],
            "parse_ok": False,
            "error": "timeout: document exceeded %.0fs extraction budget" % budget_s,
            "meta": {},
        }
    if "exc" in box:
        raise box["exc"]
    return box["res"]


def _as_span_dicts(cell: Any) -> list[dict[str, Any]]:
    """Normalize an Arrow-decoded spans cell (list of dicts or Rows) to the
    plain-dict shape the pure core consumes."""
    if cell is None:
        return []
    out = []
    for el in cell:
        if isinstance(el, dict):
            out.append(el)
        else:  # pyspark.sql.Row or mapping-like
            out.append(
                {
                    "kind": el["kind"],
                    "text": el["text"],
                    "media_ref": el["media_ref"],
                    "offset": el["offset"],
                }
            )
    return out


def _make_extract_batches(
    doc_timeout_s: float, guard_min_chars: int
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enter_worker()
        for pdf in batches:
            has_part = "part_key" in pdf.columns
            doc_ids = pdf["doc_id"].tolist()
            spans_col = pdf["spans"].tolist()
            rows: dict[str, list[Any]] = {
                "doc_id": doc_ids,
                "spans": [],
                "parse_ok": [],
                "error": [],
                "meta": [],
            }
            for cell in spans_col:
                spans = _as_span_dicts(cell)
                payload = sum(len(s.get("text") or "") for s in spans)
                if payload >= guard_min_chars:
                    res = _extract_with_timeout(spans, doc_timeout_s)
                else:
                    res = extract_document(spans)
                rows["spans"].append(res["spans"])
                rows["parse_ok"].append(res["parse_ok"])
                rows["error"].append(res["error"])
                rows["meta"].append(res["meta"])
            if has_part:
                rows["part_key"] = pdf["part_key"].tolist()
            yield pd.DataFrame(rows)

    return _extract_batches


def extract_spans(
    df: DataFrame,
    doc_timeout_s: float = DOC_TIMEOUT_S,
    guard_min_chars: int = GUARD_MIN_CHARS,
) -> DataFrame:
    """corpus (doc_id, spans[, part_key]) -> extracted
    (doc_id, spans, parse_ok, error, meta[, part_key]).

    One fused Arrow pass; bad documents become ``parse_ok=false`` rows,
    never task failures (reference error policy, src/java-env.cpp:316-325);
    documents over ``guard_min_chars`` run under a ``doc_timeout_s``
    wall-clock budget (reference transfer bound, src/java-env.cpp:229-231).
    """
    make_portable()  # UDF closures ship their own code (no worker import)
    schema = EXTRACTED_PART_SCHEMA if "part_key" in df.columns else EXTRACTED_SCHEMA
    cols = ["doc_id", "spans"] + (["part_key"] if "part_key" in df.columns else [])
    fn = _make_extract_batches(doc_timeout_s, guard_min_chars)
    return df.select(*cols).mapInPandas(fn, schema=schema)


def sniffed_spans(df: DataFrame) -> DataFrame:
    """Explode the corpus to per-span rows with a content-sniffed kind column
    (mime_route over real payloads; the provided ``kind`` is only a hint).
    The sniff is the whole-stage-codegen ``when`` chain, no Python crossing."""
    from tika_wrap_spark import functions as tw  # noqa: PLC0415

    exploded = df.select("doc_id", F.posexplode("spans").alias("pos", "span")).select(
        "doc_id",
        "pos",
        F.col("span.kind").alias("kind_hint"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )
    return exploded.withColumn("kind", tw.sniff_kind_col(F.col("text"), F.col("media_ref")))


VERIFY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("n_expected", T.IntegerType(), False),
        T.StructField("n_actual", T.IntegerType(), False),
        T.StructField("seq_match", T.BooleanType(), False),
    ]
)


def _verify_cogroups(key, expected: pd.DataFrame, actual: pd.DataFrame) -> pd.DataFrame:
    enter_worker()

    def seq(pdf: pd.DataFrame) -> list[tuple]:
        if len(pdf) == 0:
            return []
        (spans,) = pdf["spans"].tolist()[:1] or [[]]
        return [
            (s["kind"], s["text"], s["media_ref"]) for s in _as_span_dicts(spans)
        ]

    e, a = seq(expected), seq(actual)
    return pd.DataFrame(
        {
            "doc_id": [key[0]],
            "n_expected": [len(e)],
            "n_actual": [len(a)],
            "seq_match": [e == a and len(expected) == len(actual)],
        }
    )


def verify_against_golden(expected: DataFrame, actual: DataFrame) -> DataFrame:
    """The north_star invariant — per-document span-sequence equality on
    (kind, text, media_ref, order) — as a DISTRIBUTED operator:
    ``cogroup().applyInPandas`` aligns each doc's expected and actual rows
    in one task (one shuffle per side on doc_id, no driver collect), so
    fixture verification scales to the full corpus. Docs present on only
    one side surface as ``seq_match=false`` with a 0 count."""
    make_portable()
    return (
        expected.select("doc_id", "spans")
        .groupby("doc_id")
        .cogroup(actual.select("doc_id", "spans").groupby("doc_id"))
        .applyInPandas(_verify_cogroups, schema=VERIFY_SCHEMA)
    )
