"""Checkpoint/lineage/resume semantics (north_rule): a killed run resumes
without reprocessing completed partitions, and the final output is identical
to a single uninterrupted run."""

import pytest

from tika_wrap_spark.corpus import generate_corpus, generate_golden
from tika_wrap_spark.data import corpus_to_df, extracted_to_rows
from tika_wrap_spark.pipeline import read_extracted, read_lineage, run_extraction

PARTS = 8


@pytest.fixture(scope="module")
def corpus(spark):
    return corpus_to_df(spark, generate_corpus(80, seed=7)).cache()


def test_kill_resume_equals_single_run(spark, corpus, tmp_path_factory):
    out_interrupted = str(tmp_path_factory.mktemp("run_interrupted"))
    out_single = str(tmp_path_factory.mktemp("run_single"))

    # "killed" run: only half the partitions get processed and committed
    run_extraction(spark, corpus, out_interrupted, parts=PARTS,
                   part_filter=[0, 1, 2, 3])
    done_after_kill = read_lineage(spark, out_interrupted)
    assert done_after_kill.select("part_key").distinct().count() == 4

    # resume: full run over the same corpus; anti-join must skip parts 0-3
    m = run_extraction(spark, corpus, out_interrupted, parts=PARTS)
    assert m["parts_done"] == PARTS

    # uninterrupted single run
    run_extraction(spark, corpus, out_single, parts=PARTS)

    a = extracted_to_rows(read_extracted(spark, out_interrupted).drop("part_key"))
    b = extracted_to_rows(read_extracted(spark, out_single).drop("part_key"))
    assert a == b
    assert len(a) == 120  # 80 + 40 adversarial


def test_resume_skips_completed_partitions(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("run_skip"))
    run_extraction(spark, corpus, out, parts=PARTS)
    lineage1 = read_lineage(spark, out).collect()
    # second run over same corpus: everything committed, nothing to do
    run_extraction(spark, corpus, out, parts=PARTS)
    lineage2 = read_lineage(spark, out).collect()
    assert len(lineage1) == len(lineage2) == PARTS
    result = extracted_to_rows(read_extracted(spark, out).drop("part_key"))
    assert len(result) == 120  # no duplicates from the no-op rerun


def test_lineage_metrics(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("run_metrics"))
    run_extraction(spark, corpus, out, parts=PARTS)
    lin = read_lineage(spark, out)
    rows = lin.collect()
    assert {r["part_key"] for r in rows} == set(range(PARTS))
    assert sum(r["doc_count"] for r in rows) == 120
    assert sum(r["error_count"] for r in rows) == 39  # the adversarial docs
    golden = generate_golden(generate_corpus(80, seed=7))
    assert sum(r["span_count"] for r in rows) == sum(len(g["spans"]) for g in golden)
    assert all(r["input_snapshot_id"].startswith("fp-") for r in rows)


def test_write_is_idempotent_after_uncommitted_partition(spark, corpus, tmp_path_factory):
    """Kill between data write and lineage commit: the partition's data
    landed but is uncommitted. Resume must REWRITE it (dynamic partition
    overwrite) — the final store holds exactly one copy of every row with
    no read-path dedup."""
    from tika_wrap_spark import catalog
    from tika_wrap_spark.operators.extract_ops import extract_spans
    from tika_wrap_spark.operators.skew import salt_repartition, with_part_key

    out = str(tmp_path_factory.mktemp("run_idem"))
    # simulate the kill: write part 0's data directly, commit NO lineage
    keyed = with_part_key(corpus, PARTS)
    part0 = keyed.filter("part_key = 0")
    catalog.overwrite_partitions(
        extract_spans(salt_repartition(part0, 4)),
        out + "/extracted",
        partition_by=["part_key"],
    )
    # resume: full run sees no lineage, processes everything incl. part 0
    run_extraction(spark, corpus, out, parts=PARTS)
    result = extracted_to_rows(read_extracted(spark, out).drop("part_key"))
    assert len(result) == 120  # one copy per doc, no duplicates
    assert len({r["doc_id"] for r in result}) == 120


def test_lineage_scan_partition_prunes(spark, corpus, tmp_path_factory):
    """The lineage aggregation for a resume run must scan ONLY that run's
    part_key dirs (partition-pruned), never the whole store."""
    from tika_wrap_spark import plans
    from tika_wrap_spark.pipeline import lineage_for_run

    out = str(tmp_path_factory.mktemp("run_prune"))
    run_extraction(spark, corpus, out, parts=PARTS)
    lin = lineage_for_run(spark, out, [2, 3], "fp-test", 0)
    plan = plans.formatted_plan(lin)
    assert "PartitionFilters" in plan and "part_key" in plan.split("PartitionFilters", 1)[1][:200], plan
    got = {r["part_key"] for r in lin.collect()}
    assert got <= {2, 3}
