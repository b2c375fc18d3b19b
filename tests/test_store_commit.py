"""Store fixed costs: every run commits one lineage row per run key (empty
keys included), a no-op resume is one empty write, and the committed-part
set is memoized per process and invalidated by the lineage listing."""

import glob
import uuid

import pytest
from pyspark import StorageLevel

from tika_wrap_spark import catalog
from tika_wrap_spark.corpus import generate_corpus
from tika_wrap_spark.data import corpus_to_df
from tika_wrap_spark.operators.extract_ops import extract_spans
from tika_wrap_spark.operators.skew import salt_repartition, with_part_key
from tika_wrap_spark.pipeline import (
    lineage_for_run,
    read_extracted,
    read_lineage,
    run_extraction,
)


@pytest.fixture(scope="module")
def corpus(spark):
    return corpus_to_df(spark, generate_corpus(80, seed=7)).cache()


def spark_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted through the status
    tracker under a fresh job group."""
    sc = spark.sparkContext
    group = "store-commit-%s" % uuid.uuid4().hex
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def lineage_files(out):
    return sorted(glob.glob(out + "/_lineage/*.parquet"))


def test_noop_resume_is_one_empty_write(spark, corpus, tmp_path):
    out = str(tmp_path / "store")
    run_extraction(spark, corpus, out, parts=64)
    files = lineage_files(out)

    m, jobs = spark_jobs(spark, lambda: run_extraction(spark, corpus, out, parts=64))
    assert jobs <= 1, jobs
    assert lineage_files(out) == files
    assert m["parts_done"] == 64

    rows = read_lineage(spark, out).collect()
    assert sorted(r["part_key"] for r in rows) == list(range(64))
    assert sum(r["doc_count"] for r in rows) == 120
    used = {r[0] for r in with_part_key(corpus, 64).select("part_key").distinct().collect()}
    empty = {r["part_key"] for r in rows if r["doc_count"] == 0}
    assert empty and empty == set(range(64)) - used
    assert all(r["span_count"] == r["error_count"] == 0 for r in rows if r["doc_count"] == 0)


def test_second_read_runs_no_job(spark, corpus, tmp_path):
    out = str(tmp_path / "store")
    run_extraction(spark, corpus, out, parts=8)
    read_extracted(spark, out)
    df, jobs = spark_jobs(spark, lambda: read_extracted(spark, out))
    assert jobs == 0
    assert df.count() == 120


def test_resume_after_part_filter_is_seen_by_read(spark, corpus, tmp_path):
    out = str(tmp_path / "store")
    run_extraction(spark, corpus, out, parts=8, part_filter=[0, 1, 2])
    first = read_extracted(spark, out).select("part_key").distinct().collect()
    assert {r[0] for r in first} <= {0, 1, 2}
    run_extraction(spark, corpus, out, parts=8)
    assert read_extracted(spark, out).count() == 120


def test_lineage_listing_invalidates_the_memo(spark, corpus, tmp_path):
    """A commit made outside ``run_extraction`` (another writer, a later
    process) changes the lineage listing, so the next read sees it."""
    out = str(tmp_path / "store")
    run_extraction(spark, corpus, out, parts=8, part_filter=[0, 1, 2, 3])
    before = read_extracted(spark, out).count()
    assert 0 < before < 120

    rest = [4, 5, 6, 7]
    keyed = with_part_key(corpus, 8)
    catalog.overwrite_partitions(
        extract_spans(salt_repartition(keyed.filter(keyed["part_key"].isin(rest)), 4)),
        out + "/extracted",
        ["part_key"],
    )
    catalog.append_table(lineage_for_run(spark, out, rest, "fp-test", 0), out + "/_lineage")
    assert read_extracted(spark, out).count() == 120


def test_registry_store_build_generates_its_corpus_once(spark, tmp_path, monkeypatch):
    """The registry store's build reads its corpus twice (snapshot hash and
    extraction), over one persisted synthesis: each doc is generated once."""
    import tempfile

    from tika_wrap_spark import data
    from tika_wrap_spark import queries_training as qt
    from tika_wrap_spark.corpus import N_ADVERSARIAL

    generated = spark.sparkContext.accumulator(0)
    make_row_fn = data._make_row_fn  # noqa: SLF001

    def counting_row_fn(n_docs, seed):
        row = make_row_fn(n_docs, seed)

        def counted(i):
            generated.add(1)
            return row(i)

        return counted

    frames = []
    corpus_df = qt._corpus_df  # noqa: SLF001

    def recorded_corpus_df(spark, d):
        frames.append(corpus_df(spark, d))
        return frames[-1]

    monkeypatch.setattr(data, "_make_row_fn", counting_row_fn)
    monkeypatch.setattr(qt, "_corpus_df", recorded_corpus_df)
    monkeypatch.setattr(qt, "_corpus_docs", lambda spark, d: 64)
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    assert qt._extracted_df(spark, str(tmp_path)).count() == 64 + N_ADVERSARIAL  # noqa: SLF001
    assert generated.value == 64 + N_ADVERSARIAL
    assert [f.storageLevel == StorageLevel.NONE for f in frames] == [True]


def test_registry_store_build_keeps_a_cached_corpus(spark, corpus, tmp_path, monkeypatch):
    """A corpus the caller cached stays cached after the build."""
    import tempfile

    from tika_wrap_spark import queries_training as qt

    monkeypatch.setattr(qt, "_corpus_df", lambda spark, d: corpus)
    monkeypatch.setattr(qt, "_corpus_docs", lambda spark, d: 80)
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    assert qt._extracted_df(spark, str(tmp_path)).count() == 120  # noqa: SLF001
    assert corpus.storageLevel != StorageLevel.NONE


def test_registry_store_completion_is_read_from_lineage(spark, corpus, tmp_path, monkeypatch):
    """A store whose lineage commits every part is complete: the registry
    reads one that ``run_extraction`` built with no further run."""
    import tempfile

    from tika_wrap_spark import pipeline
    from tika_wrap_spark import queries_training as qt

    monkeypatch.setattr(qt, "_corpus_df", lambda spark, d: corpus)
    monkeypatch.setattr(qt, "_corpus_docs", lambda spark, d: 80)
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    # the registry's store dir for 80 docs, which make one ~64-doc part
    out = str(tmp_path / ("tws_extract_store_%s" % qt._extract_store_key(80)))  # noqa: SLF001
    run_extraction(spark, corpus, out, parts=1)
    calls = []
    monkeypatch.setattr(pipeline, "run_extraction", lambda *a, **kw: calls.append(a))
    assert qt._extracted_df(spark, str(tmp_path)).count() == 120  # noqa: SLF001
    assert calls == []
