"""tika_wrap_spark — a from-scratch, PySpark-native content-extraction engine.

Re-expresses the capabilities of the reference (dingjingmaster/tika-wrap,
a C++/Qt wrapper that shells a file out to Apache Tika and collects ordered
plain text + a flat string/string metadata map) as a distributed Spark
pipeline over an interleaved-document corpus table
``(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)``.

Architecture (see SURVEY.md):
  - ``core/``      pure-Python extraction core (no Spark imports): magic-byte
                   sniffing, HTML boilerplate stripping (Arc90-style
                   text-density / link-density), PDF parsing (``pdfbin.py``
                   reads real files: xref, object streams, filters, fonts)
                   with x/y layout reordering, metadata maps.
                   The SAME code generates golden fixtures and runs inside the
                   Spark UDFs, so span equality is byte-identical by
                   construction.
  - ``operators/`` Spark-side operators: Arrow-batched mapInPandas extraction,
                   skew salting, lineage/checkpoint/resume, dedup family
                   (exact / MinHash-LSH / SimHash / n-gram Jaccard),
                   similarity search, declarative text analysis, media
                   operators over real pixel codecs (PNG, JPEG, GIF, BMP).
  - ``corpus.py``  deterministic seeded corpus generator (FIXTURES.md §1).
  - ``pipeline.py`` end-to-end extraction pipeline + lineage.
"""

__version__ = "0.1.0"

# Public API, lazily resolved (PEP 562) so importing the package for its
# pure-python core never drags in pyspark.
_API = {
    "extract_document": ("tika_wrap_spark.core.extract", "extract_document"),
    "extract_spans": ("tika_wrap_spark.operators.extract_ops", "extract_spans"),
    "run_extraction": ("tika_wrap_spark.pipeline", "run_extraction"),
    "read_extracted": ("tika_wrap_spark.pipeline", "read_extracted"),
    "extract_in_memory": ("tika_wrap_spark.pipeline", "extract_in_memory"),
    "get_spark": ("tika_wrap_spark.session", "get_spark"),
    "generate_corpus": ("tika_wrap_spark.corpus", "generate_corpus"),
    "corpus_to_df": ("tika_wrap_spark.data", "corpus_to_df"),
    "distributed_corpus_df": ("tika_wrap_spark.data", "distributed_corpus_df"),
    "stream_extract": ("tika_wrap_spark.streaming", "stream_extract"),
    "make_portable": ("tika_wrap_spark.portability", "make_portable"),
    "ship_package": ("tika_wrap_spark.portability", "ship_package"),
}


def __getattr__(name: str):
    try:
        mod_name, attr = _API[name]
    except KeyError:
        raise AttributeError(name) from None
    import importlib

    return getattr(importlib.import_module(mod_name), attr)


def __dir__():
    return sorted(set(globals()) | set(_API))
