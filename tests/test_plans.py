"""Physical-plan regression pins: the scale properties SURVEY.md §4.2
claims must be visible in `.explain("formatted")`, not just narrated.

Each test asserts a plan property that matters at 100 TB:
  * filters + column pruning reach the parquet scan
  * small join sides broadcast (no shuffle of the fact side)
  * aggregates are partial-then-final (map-side combine)
  * top-k is TakeOrderedAndProject (no global sort)
  * Python appears only as Arrow-vectorized nodes, never BatchEvalPython
  * the extraction pipeline has exactly one Exchange (the explicit salt
    repartition) ahead of the fused MapInPandas
"""

from __future__ import annotations

import pytest

from tika_wrap_spark import plans
from tika_wrap_spark.registry import spark_queries

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def q():
    return spark_queries()


def test_project_filter_pushdown_and_pruning(spark, q):
    plan = plans.formatted_plan(q["project_filter"](spark, SF_DIR))
    pushed = " ".join(plans.pushed_filters(plan))
    assert "l_quantity" in pushed and "l_shipdate" in pushed, plan
    (cols,) = plans.read_schema_columns(plan)
    # scan reads only the projected + filtered columns, not all 11
    assert cols <= {
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"
    }, cols


def test_broadcast_join_for_small_dims(spark, q):
    for name in ("join_fixture", "tpch_join_agg"):
        plan = plans.formatted_plan(q[name](spark, SF_DIR))
        assert plans.has_node(plan, "BroadcastHashJoin"), (name, plan)


def test_partial_final_agg(spark, q):
    plan = plans.formatted_plan(q["tpch_q1"](spark, SF_DIR))
    # partial + final hash aggregate around one exchange = map-side combine
    assert plans.count_node(plan, "HashAggregate") >= 2, plan
    assert plans.count_node(plan, "Exchange") == 1, plan


def test_topk_no_global_sort(spark, q):
    plan = plans.formatted_plan(q["sort_limit_topk"](spark, SF_DIR))
    assert plans.has_node(plan, "TakeOrderedAndProject"), plan


def test_no_per_row_python_anywhere(spark, q):
    """input_hint mandate: vectorized UDFs only — BatchEvalPython (the
    per-row pickle path) must never appear in any registered query plan."""
    for name, fn in q.items():
        plan = plans.formatted_plan(fn(spark, SF_DIR))
        nodes = plans.python_eval_nodes(plan)
        assert "BatchEvalPython" not in nodes, (name, plan)


def test_extraction_single_exchange_before_fused_udf(spark):
    from tika_wrap_spark.corpus import generate_corpus
    from tika_wrap_spark.data import corpus_to_df
    from tika_wrap_spark.pipeline import extract_in_memory

    df = corpus_to_df(spark, generate_corpus(20, seed=3))
    plan = plans.formatted_plan(extract_in_memory(spark, df, num_partitions=8))
    assert "MapInPandas" in plan, plan
    # exactly one Exchange: the explicit salted hash repartition (default
    # method; range is opt-in — see operators/skew.py + BENCH.md f.2); the
    # sniff->route->extract chain is fused into a single python crossing
    assert plans.count_node(plan, "Exchange") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_sniff_route_tally_is_jvm_native(spark, q):
    """The route tally's SNIFF must be pure whole-stage codegen — no
    ArrowEvalPython crossing for logic that is a when/substring chain. The
    only python node allowed in the plan is the ONE MapInPandas that
    synthesizes the corpus (data.distributed_corpus_df); the sniff itself
    adds no second crossing."""
    plan = plans.formatted_plan(q["sniff_route"](spark, SF_DIR))
    nodes = plans.python_eval_nodes(plan)
    assert nodes == ["MapInPandas"], (nodes, plan)


def test_jvm_sniffer_matches_python_sniffer(spark):
    """Full-corpus output equality between the codegen'd sniff column and
    the Python sniffer (containers, media magics, html, pdf, giants,
    adversarial rows included), over the collected span rows."""
    from tika_wrap_spark.core.sniff import sniff_kind
    from tika_wrap_spark.corpus import generate_corpus
    from tika_wrap_spark.data import corpus_to_df
    from tika_wrap_spark.operators.extract_ops import sniffed_spans

    df = corpus_to_df(spark, generate_corpus(150, seed=21))
    rows = sniffed_spans(df).select("doc_id", "pos", "text", "media_ref", "kind").collect()
    assert len(rows) > 150
    mismatches = [
        (r["doc_id"], r["pos"], r["kind"], sniff_kind(r["text"], r["media_ref"]))
        for r in rows
        if r["kind"] != sniff_kind(r["text"], r["media_ref"])
    ]
    assert mismatches == [], mismatches[:5]


def test_resume_todo_is_an_isin_filter(spark, tmp_path, monkeypatch):
    """run_extraction drops committed parts with an isin filter on
    part_key: no join and no Exchange ahead of the salted repartition."""
    from tika_wrap_spark.corpus import generate_corpus
    from tika_wrap_spark.data import corpus_to_df
    from tika_wrap_spark import pipeline as pl

    todos = []
    salt = pl.salt_repartition

    def spy(todo, n):
        todos.append(todo)
        return salt(todo, n)

    monkeypatch.setattr(pl, "salt_repartition", spy)
    df = corpus_to_df(spark, generate_corpus(20, seed=3))
    out = str(tmp_path / "store")
    pl.run_extraction(spark, df, out, parts=4, part_filter=[0, 1])
    pl.run_extraction(spark, df, out, parts=4)
    plan = plans.formatted_plan(todos[-1])
    assert plans.has_node(plan, "Filter") and " IN (2,3)" in plan, plan
    assert "Join" not in plan, plan
    assert not plans.has_node(plan, "Exchange"), plan


def test_consistent_read_is_shuffle_free(spark, tmp_path_factory):
    """read_extracted on a committed store: an isin partition filter on the
    tiny committed-part set, NO Exchange/Window anywhere — a consistent read of a
    100 TB store must not pay a global shuffle."""
    from tika_wrap_spark.corpus import generate_corpus
    from tika_wrap_spark.data import corpus_to_df
    from tika_wrap_spark.pipeline import read_extracted, run_extraction

    out = str(tmp_path_factory.mktemp("plan_read"))
    df = corpus_to_df(spark, generate_corpus(30, seed=4))
    run_extraction(spark, df, out, parts=4)
    read = read_extracted(spark, out)
    plan = plans.formatted_plan(read)
    assert not plans.has_node(plan, "Window"), plan
    assert not plans.has_node(plan, "Exchange"), plan
    assert not plans.has_node(plan, "BroadcastHashJoin"), plan  # isin prunes, no join
    # the committed-parts filter reaches the scan as a partition filter
    assert "PartitionFilters" in plan and "part_key" in plan.split("PartitionFilters", 1)[1][:300], plan
    assert read.count() == 70  # 30 + 40 adversarial


def test_multi_table_lsh_probe_broadcasts_queries(spark, q):
    """ann_lsh_topk_multi: the query side must broadcast (corpus never
    shuffles for the probe); no sort-merge or nested-loop join anywhere."""
    plan = plans.formatted_plan(q["ann_lsh_topk_multi"](spark, SF_DIR))
    assert plans.has_node(plan, "BroadcastHashJoin"), plan
    assert not plans.has_node(plan, "SortMergeJoin"), plan
    assert not plans.has_node(plan, "CartesianProduct"), plan
    assert not plans.has_node(plan, "BroadcastNestedLoopJoin"), plan


def test_jvm_sniffer_unicode_whitespace_parity(spark):
    """Exotic leading whitespace (NBSP, ideographic space): Python lstrip()
    strips unicode ws, so the JVM form must too ((?U) flag) — otherwise
    '\\xa0<!doctype html>' routes html in Python but text in JVM."""
    from tika_wrap_spark.core.sniff import sniff_kind
    from tika_wrap_spark import functions as tw
    from pyspark.sql import functions as F

    payloads = [
        "\xa0<!doctype html><body>x</body>",
        "　<html><p>y</p></html>",
        "\t\n {\"k\": 1}",
        "\xa0<?xml version=\"1.0\"?><d/>",
        "\xa0plain",
    ]
    df = spark.createDataFrame([(p,) for p in payloads], "text string")
    got = [
        r["k"]
        for r in df.select(tw.sniff_kind_col(F.col("text"), F.lit("")).alias("k")).collect()
    ]
    want = [sniff_kind(p, "") for p in payloads]
    assert got == want, (got, want)


def test_jvm_sniffer_fuzz_parity(spark):
    """2000 seeded random payloads stitched from magic fragments and noise:
    the JVM and Python sniffers must agree on EVERY one (single batched
    comparison job)."""
    import random

    from pyspark.sql import functions as F

    from tika_wrap_spark import functions as tw
    from tika_wrap_spark.core.sniff import sniff_kind

    rng = random.Random(4242)
    frags = [
        "%PDF-", "PK\x03\x04", "PK\x03\x04TWC1\n", "\x89PNG\r\n", "\xff\xd8\xff",
        "GIF87a", "GIF89a", "RIFF", "RIFFxxxxWAVE", "GIF needs six chars", "BM",
        "<!doctype html>", "<html>", "<head>", "<body>", "<?xml", "{", "[",
        ",", ",,", "\n", " ", "\t", "\xa0", "plain words", "a,b,c",
        '{"k": 1}', "<p>inline</p>", "x" * 300,
        # control chars Python isspace() strips but Unicode White_Space
        # (Java (?U)\s) does not — the lstrip parity gap's exact trigger
        "\x1c", "\x1d", "\x1e", "\x1f", "\x0b", "\x85",
        # gzip magic + ustar-at-offset-257 trigger material (the tar rule
        # reads past the 256-char head window in BOTH sniffer forms)
        "\x1f\x8b", "\x1f\x8b\x08", "ustar", "y" * 257 + "ustar",
        "z" * 256 + "xustar", "w" * 257 + "usta",
        # xz / bz2 wrapper magics incl. the bare-"BZh" empty-slice edge
        # (Python `"" in "123456789"` is True — the rule needs a len guard)
        "\xfd7zXZ\x00", "\xfd7zXZ", "BZh", "BZh9", "BZh0", "BZhX", "BZh91AY&SY",
        # CFB/OLE2 magic (full 8 bytes, truncated prefix, shifted-off-0)
        "\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1", "\xd0\xcf\x11\xe0", "\xd0\xcf",
        # rtf magic (must beat the json '{' rule) and rfc5322 header
        # material: strong openers, weak openers, corroborator lines
        "{\\rtf", "{\\rtf1\\ansi x}", "{\\rt", "Received: by mx1\n",
        "Return-Path: <a@x>\n", "MIME-Version: 1.0\n", "Message-ID: <i@d>\n",
        "From: a@x\n", "Subject: hi\n", "To: b@y\n", "Date: today\n",
        "from: lower\n", "mime-version: 1.0\n", "From the desk of\n",
        "Fromage: cheese\n", "Subject matter expert,notes,csv\n",
        # iCalendar/vCard openers (before the csv rule — ATTENDEE address
        # lists carry commas) + near-miss prefixes
        "BEGIN:VCALENDAR\n", "begin:vcalendar\r\n", "BEGIN:VCARD\n",
        "BEGIN:VCAL", "BEGIN:V", "BEGIN:VEVENT\n", "begin:vcardigan\n",
        "ATTENDEE:mailto:a@x,b@y,c@z\n",
        # SQLite 16-byte header string (full, truncated, shifted-off-0)
        "SQLite format 3\x00", "SQLite format 3", "SQLite format 3\x00\x04\x00",
        "xSQLite format 3\x00", "SQLite",
        # font magics: sfnt binary version, OTTO/wOFF printable tags with
        # and without plausible 5th bytes ("OTTO was here" prose must NOT
        # route font; "" in a tuple-membership check must stay False)
        "\x00\x01\x00\x00", "\x00\x01\x00", "OTTO\x00\x03", "OTTO was here",
        "OTTO", "wOFF\x00\x01\x00\x00", "wOFFOTTO", "wOFFle prose", "wOFF",
        # TIFF magics (need the NUL/asterisk pair — 'II*'/'MM' prose must
        # NOT trip them) and ISO-BMFF 'ftyp' at its fixed offset 4
        "II*\x00", "MM\x00*", "II* prose", "MM prose", "II*\x00\x08\x00",
        "\x00\x00\x00\x18ftypisom", "\x00\x00\x00\x18ftyp", "ftyp",
        "abcdftypXXXX", "xx\x00\x18ftypmp42",
        # WARC version-line magic (offset-0 exact, case-sensitive; a record
        # head also carries html/eml-shaped material the later rules would
        # otherwise claim)
        "WARC/1.0\r\nWARC-Type: response\r\n", "WARC/", "WARC", "warc/1.0\n",
        " WARC/1.0\n", "WARC/1.0\r\nContent-Type: text/html\r\n\r\n<html>",
        # mbox From_ separator: needs '@' in the line AND an rfc5322
        # corroborator; prose/near-misses must fall through
        "From a@x Thu Jan  1 00:00:00 2026\nSubject: hi\n",
        "From a@x Thu Jan  1\n", "From no-at-sign Thu\nSubject: hi\n",
        "from a@x thu\nsubject: hi\n", "From a@x\n<html>",
        # binary-plist magic (offset-0 exact) + near-misses
        "bplist00", "bplist0", "xbplist00", "bplist00\xd1\x01\x02",
        # ar global magic (offset-0 exact, includes the newline) + near-misses
        "!<arch>\n", "!<arch>", "!<archive>\n", "x!<arch>\n",
        "!<arch>\ndebian-binary   ",
        # cpio magics: need 8 hex chars after — digits-opener prose/csv and
        # short payloads must fall through in BOTH sniffer forms
        "070701", "070702", "07070100000001", "070702deadBEEF",
        "070701 was the year", "0707012,totals\n1,2", "070701abcdefg1",
        "07070", "x070701", "070703" + "0" * 8,
        # compress .Z magic (offset-0 exact, binary 2nd byte) + near-misses
        "\x1f\x9d", "\x1f\x9d\x90", "\x1f", "x\x1f\x9d", "\x1f\x9c",
        # dbf guard set: \x03 + month/day bytes + type letter at offset 43
        # — bad month, bad day, bad type letter, short payloads must all
        # fall through in BOTH forms (ascii('') = 0 on the JVM side)
        "\x03\x7c\x06\x0f" + "\x00" * 39 + "C" + "\x00" * 20,
        "\x03\x7c\x0d\x0f" + "\x00" * 39 + "C" + "\x00" * 20,
        "\x03\x7c\x06\x20" + "\x00" * 39 + "C" + "\x00" * 20,
        "\x03\x7c\x06\x0f" + "\x00" * 39 + "Q" + "\x00" * 20,
        "\x03\x7c\x06\x0f", "\x03", "\x03 prose never starts with this",
        # TNEF signature (offset-0 exact, binary) + near-misses
        "\x78\x9f\x3e\x22", "\x78\x9f\x3e\x22\x01\x00", "\x78\x9f\x3e",
        "x\x78\x9f\x3e\x22", "\x78\x9f",
        # LZ4 frame magic 0x184D2204 LE (offset-0 exact) + near-misses
        "\x04\x22\x4d\x18", "\x04\x22\x4d\x18\x64\x40", "\x04\x22\x4d",
        "x\x04\x22\x4d\x18", "\x04\x22", "\x18\x4d\x22\x04",
        # SMF magic: 'MThd' needs the NUL header-length guard byte —
        # 'MThd'-opener prose must NOT route midi in either form
        "MThd\x00\x00\x00\x06\x00\x01", "MThd is how midi files start",
        "MThd", "MTh", "xMThd\x00", "MThd\x01\x00",
        # 7z signature (offset-0 exact, binary tail) + near-misses — '7z'
        # alone is plausible prose and must fall through
        "7z\xbc\xaf\x27\x1c", "7z\xbc\xaf\x27\x1c\x00\x04", "7z\xbc\xaf",
        "7z is a compressor", "x7z\xbc\xaf\x27\x1c", "7z",
        # RAR marker prefix (v5 '\x01\x00' and v4 '\x00' tails both route)
        # + near-misses — 'Rar!' prose must fall through
        "Rar!\x1a\x07\x01\x00", "Rar!\x1a\x07\x00", "Rar!\x1a\x07",
        "Rar!\x1a", "Rar! said the pirate", "xRar!\x1a\x07\x01\x00",
        # Zstandard frame magic 0xFD2FB528 LE (offset-0 exact) + near-misses
        "\x28\xb5\x2f\xfd", "\x28\xb5\x2f\xfd\x24\x00", "\x28\xb5\x2f",
        "x\x28\xb5\x2f\xfd", "\x28\xb5", "\xfd\x2f\xb5\x28",
        # LZMA alone-format header: 0x5D props + NUL dict low bytes + a
        # plausible size field — ']'-opener prose, short heads and
        # implausible declared sizes must all fall through in BOTH forms
        "\x5d\x00\x00\x04\x00" + "\xff" * 8, "\x5d\x00\x00\x80\x00" + "\xff" * 8,
        "\x5d\x00\x00\x04\x00\x40\x00\x00\x00\x00\x00\x00\x00",
        "\x5d\x00\x00\x04\x00" + "\x01" * 8, "\x5d\x00\x00\x04\x00",
        "\x5d\x00\x00", "\x5d\x00", "] a bracketed prose line",
        "]\x00\x00" + "\xff" * 10, "x\x5d\x00\x00\x04\x00" + "\xff" * 8,
        # ISO 9660 'CD001' at its fixed past-the-system-area offset 32769
        # (the tar-rule shape: full payload, not the head window) + one
        # off-by-one near-miss
        "\x00" * 32769 + "CD001", "\x00" * 32770 + "CD001", "CD001",
        # MS Cabinet 'MSCF' + zero reserved1 — 'MSCF'-opener prose and a
        # nonzero reserved1 must fall through in BOTH forms
        "MSCF\x00\x00\x00\x00", "MSCF\x00\x00\x00\x00\x4a\x01", "MSCF",
        "MSCF stands for", "MSCF\x00\x00\x00\x01", "xMSCF\x00\x00\x00\x00",
        # Avro object-container magic 'Obj\x01' — 'Obj'-opener prose
        # lacks the version control byte and must fall through
        "Obj\x01", "Obj\x01\x04\x16avro.schema", "Obj", "Object lesson",
        "Obj\x02", "xObj\x01",
        # Parquet 'PAR1' needs BOTH ends of the FULL payload + len>=12
        # — 'PAR1'-opener prose and one-sided magics must fall through
        "PAR1" + "\x00" * 8 + "PAR1", "PAR1PAR1", "PAR1 is the magic",
        "PAR1" + "x" * 20, "x" * 20 + "PAR1", "PAR1",
    ]
    payloads = []
    for _ in range(2000):
        n = rng.randint(0, 4)
        payloads.append("".join(rng.choice(frags) for _ in range(n)))
    df = spark.createDataFrame([(p,) for p in payloads], "text string")
    got = [
        r["k"]
        for r in df.select(
            tw.sniff_kind_col(F.col("text"), F.lit("")).alias("k")
        ).collect()
    ]
    want = [sniff_kind(p, "") for p in payloads]
    mismatches = [
        (p[:40], g, w) for p, g, w in zip(payloads, got, want) if g != w
    ]
    assert mismatches == [], mismatches[:5]
