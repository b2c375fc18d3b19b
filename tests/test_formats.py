"""The format table (tika_wrap_spark/formats.py) and everything derived
from it: the route tallies, the error taxonomy and the store key.

The digests pin each query's output on the sf0.001 store (500 seed-42
docs plus the 40 adversarials); every query returns at least one row
there. A digest is the md5 of the newline-joined, sorted
``repr(tuple(row))`` of the result; an intended output change re-pins it.
"""

from __future__ import annotations

import ast
import hashlib
import pathlib
import re
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from tika_wrap_spark import formats as fm
from tika_wrap_spark import queries_training as qt
from tika_wrap_spark.corpus import N_ADVERSARIAL
from tika_wrap_spark.registry import REGISTRY, spark_queries

SF_DIR = "/root/testdata/sf0.001"
PKG = pathlib.Path(qt.__file__).parent

_MEMBERS = "n_members:int,container_depth:int,n_spans:int,span_seq_hash:string"
_ROUTE = "struct<doc_id:string,parse_ok:boolean,%s>"

DIGESTS = {
    "ar_route": (3, "6e2b0246133b10d835a928d085ae608e", _ROUTE % (
        "container_format:string,container_depth:int,n_spans:int,span_seq_hash:string")),
    "avro_route": (2, "3e059c68eed4fb798dcabd23f53f77c2", _ROUTE % (
        "avro_fields:string,n_spans:int,span_seq_hash:string")),
    "cab_route": (2, "b6026a8117614016387f2079515a1e3a", _ROUTE % _MEMBERS),
    "cpio_route": (2, "727c7d3402342388208abe3ba737ac4d", _ROUTE % _MEMBERS),
    "dbf_route": (3, "93c9833e1f82e22c72c96a346f385589", _ROUTE % (
        "dbf_fields:string,n_spans:int,span_seq_hash:string")),
    "error_taxonomy": (20, "7184bce7fea9afbb5b307e0c8d31105f",
                       "struct<error_class:string,n_docs:bigint>"),
    "font_route": (1, "0c984b270bb557e4e8b10bf85a6ab8fc", _ROUTE % (
        "font_family:string,font_name:string,n_spans:int")),
    "ical_route": (13, "5cc75d54a3d2f6de65dd6d93a27dfded", _ROUTE % (
        "kinds:string,has_summary:int,n_spans:int,span_seq_hash:string")),
    "iso_route": (2, "84b2c6170f65b06178ad42d11169943c", _ROUTE % _MEMBERS),
    "lz4_route": (1, "60b04db2fcc80c8f8131fdac12873a9b", _ROUTE % _MEMBERS),
    "lzma_route": (2, "fe0e7c7c3f0b191575084e7fdefacdd7", _ROUTE % _MEMBERS),
    "mbox_route": (3, "8e803bd30ac2004afe741499aba74776", _ROUTE % (
        "first_subject:string,n_containers:int,n_spans:int,span_seq_hash:string")),
    "midi_route": (4, "84c130775c4e0d49e972168a4e20c97c", _ROUTE % (
        "n_tracks:int,track_name:string,n_spans:int,span_seq_hash:string")),
    "mime_route": (2, "67e84427787d4b171d61fcb393d50b09", "struct<route:string,n:bigint>"),
    "odf_route": (9, "254dea92ae105b7279837601af2dda34", _ROUTE % (
        "odf_kind:string,n_spans:int,span_seq_hash:string")),
    "ole_route": (10, "b2d759fe5ace82e8c13696973f5fb429", _ROUTE % (
        "ole_kind:string,n_spans:int,span_seq_hash:string")),
    "parquet_route": (3, "fe9f96e9e49a1979b068c3b584fc1595", _ROUTE % (
        "parquet_columns:string,n_spans:int,span_seq_hash:string")),
    "pdf_attach_route": (7, "f87e43d2445bb548ac9fa8264ba353bd",
                         "struct<doc_id:string,n_attachments:int,n_spans:int,span_seq_hash:string>"),
    "plist_route": (4, "7ac7b9606deec5169cf2a2ddb386febb", _ROUTE % (
        "n_top_keys:int,n_spans:int,span_seq_hash:string")),
    "rar_route": (3, "fe7dcbaad924018105ceba8230362deb", _ROUTE % _MEMBERS),
    "sevenz_route": (2, "c7f741519edf8e7644ab126e814940b1", _ROUTE % _MEMBERS),
    "sniff_route": (37, "fcc50c9b83def6736f97f39c8eb6f9d2",
                    "struct<kind:string,n_spans:bigint,n_docs:bigint>"),
    "sqlite_route": (9, "88e0b7c1fa74cf7ecfe2bb5288922273", _ROUTE % (
        "n_tables:int,n_spans:int,span_seq_hash:string")),
    "tnef_route": (2, "256095dd7a91d62f42d82b710f4b3731", _ROUTE % (
        "subject:string,n_attachments:int,n_spans:int,span_seq_hash:string")),
    "warc_route": (3, "31520163fdc9c9f926e5c3c1b35785d2", _ROUTE % (
        "warc_target:string,n_records:int,n_spans:int,span_seq_hash:string")),
    "xml_route": (5, "d76d2de72e54d2e6883f480012b0c315",
                  "struct<xml_root:string,n_docs:bigint,n_spans:bigint,first_doc:string>"),
    "xps_route": (1, "d92198e19260216f7771afb02c94b9b5", _ROUTE % (
        "n_members:int,n_spans:int,span_seq_hash:string")),
    "z_route": (3, "b27495715217b97bb204c923bdce44c8", _ROUTE % _MEMBERS),
    "zstd_route": (6, "e67ac319442e714471c16d0eccc3b624", _ROUTE % _MEMBERS),
}

# error class of adversarial docs doc_0000500 .. doc_0000539, in order
ADVERSARIAL_CLASSES = (
    "html pdf ok container container archive archive archive archive pdf "
    "bomb bomb bomb rtf eml ole ole pdf ical ole sqlite font warc mbox plist "
    "archive archive archive dbf tnef archive midi archive archive archive "
    "archive archive archive avro parquet"
).split()

# one error string per branch of the chain, including the order-sensitive
# ones (a substring rule against the prefixes on either side of it)
BRANCHES = [
    (True, "", "ok"),
    (False, "timeout: document exceeded 30s extraction budget", "timeout"),
    (False, "gzip: inflated payload exceeds 67108864 bytes", "bomb"),
    (False, "7z: folder exceeds cap", "bomb"),
    (False, "container nesting exceeds depth 8", "container"),
    (False, "zip: container member truncated", "container"),
    (False, "cab: CFDATA checksum mismatch", "archive"),
    (False, "zip: PDF member unreadable", "archive"),
    (False, "truncated PDF stream: missing %%EOF", "pdf"),
    (False, "pdf: trailer has no /Root", "pdf"),
    (False, "rtf: PDF object in group", "pdf"),
    (False, "rtf: 2 unclosed group(s) at end of input", "rtf"),
    (False, "eml: unterminated multipart boundary", "eml"),
    (False, "xls: bad BOF record", "ole"),
    (False, "vcf: unterminated component VCARD", "ical"),
    (False, "sqlite: cell pointer past page", "sqlite"),
    (False, "dbf: record overruns the payload", "dbf"),
    (False, "avro: sync marker mismatch after block", "avro"),
    (False, "parquet: values overrun page", "parquet"),
    (False, "midi: track length 131 overruns file", "midi"),
    (False, "tnef: checksum mismatch", "tnef"),
    (False, "font: table past end of file", "font"),
    (False, "warc: content block overruns payload", "warc"),
    (False, "mbox: empty envelope sender", "mbox"),
    (False, "plist: bad trailer int sizes", "plist"),
    (False, "unterminated tag at offset 37", "html"),
    (False, "internal: unterminated comment", "html"),
    (False, "internal: KeyError('x')", "internal"),
    (False, "mystery failure", "other"),
]


def _digest(rows) -> str:
    return hashlib.md5("\n".join(sorted(repr(tuple(r)) for r in rows)).encode()).hexdigest()


@pytest.fixture(scope="module")
def queries():
    return spark_queries()


@pytest.mark.parametrize("name", sorted(DIGESTS))
def test_route_tally_schema_and_rows_pinned(spark, queries, name):
    n, md5, schema = DIGESTS[name]
    df = queries[name](spark, SF_DIR)
    rows = df.collect()
    assert df.schema.simpleString() == schema
    assert (len(rows), _digest(rows)) == (n, md5)


def test_adversarial_classes_pinned(spark):
    ext = qt._extracted_df(spark, SF_DIR)
    n_docs = qt._corpus_docs(spark, SF_DIR)
    got = [
        r["cls"]
        for r in ext.filter(F.col("doc_id") >= "doc_%07d" % n_docs)
        .select("doc_id", qt._error_class_col().alias("cls"))
        .orderBy("doc_id")
        .collect()
    ]
    assert len(got) == N_ADVERSARIAL
    assert got == ADVERSARIAL_CLASSES


def test_every_taxonomy_branch(spark):
    df = spark.createDataFrame(
        [(ok, err) for ok, err, _ in BRANCHES], "parse_ok boolean, error string"
    )
    got = [r["cls"] for r in df.select(qt._error_class_col().alias("cls")).collect()]
    assert got == [cls for _, _, cls in BRANCHES]
    classes = {c for c, _, _ in fm.error_classes()}
    assert classes | {"ok", "timeout", "bomb", "internal", "other"} == set(got)


def _leading_strings(expr: ast.expr) -> list[str]:
    """The literal text an error message starts with: plain, f-string,
    '%'-formatted, or either arm of a conditional."""
    if isinstance(expr, ast.Constant) and isinstance(expr.value, str):
        return [expr.value]
    if isinstance(expr, ast.JoinedStr) and expr.values:
        return _leading_strings(expr.values[0])
    if isinstance(expr, ast.BinOp):
        return _leading_strings(expr.left)
    if isinstance(expr, ast.IfExp):
        return _leading_strings(expr.body) + _leading_strings(expr.orelse)
    return []


# helpers that raise "<kind>: ..." for the kind given as their first argument:
# the one decompression budget in core/errors.py and gzipbin's member loop
_KIND_HELPERS = {"inflate", "over_budget", "_members"}


def _core_error_prefixes() -> set[str]:
    """Every 'name:' prefix an ExtractError in core/ is raised with
    (multi-line calls included: the source is walked as a tree), or that
    is handed to a ``_KIND_HELPERS`` call as its kind. The one '%s:'
    prefix is ``errors.payload_bytes``, whose prefix is the sniff kind of
    a binary payload."""
    found: set[str] = set()
    for path in sorted((PKG / "core").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            fn = getattr(node.func, "id", getattr(node.func, "attr", ""))
            if fn in _KIND_HELPERS and node.args:
                found.update(_leading_strings(node.args[0]))
            if fn == "ExtractError" and node.args:
                for text in _leading_strings(node.args[0]):
                    m = re.match(r"([A-Za-z0-9_%]+): ", text)
                    if m:
                        found.add(m.group(1))
    assert "%s" in found
    return found - {"%s"}


def test_core_error_prefixes_equal_the_table():
    table = {p for f in fm.FORMATS for p in f.prefixes}
    assert _core_error_prefixes() == table


def test_registry_routes_equal_the_table():
    store_free = {"sniff_route", "mime_route"}  # corpus-side, not the store
    routes = [n for n in REGISTRY if n.endswith("_route")]
    tallies = {f.name + "_route" for f in fm.FORMATS if f.cols}
    assert set(routes) - store_free - {"xml_route"} == tallies
    assert "xml" in fm.BY_NAME  # xml_route is a hand-written groupBy


def _store_key(pkg_root: pathlib.Path) -> str:
    code = (
        "import sys; sys.path.insert(0, %r); "
        "from tika_wrap_spark.queries_training import _extract_store_key; "
        "print(_extract_store_key(500))" % str(pkg_root)
    )
    return subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True,
        cwd=pkg_root,
    ).stdout.strip()


def test_store_key_follows_the_parser_sources(tmp_path):
    """Editing a rare-kind parser moves the store key: no hand-bumped
    version, no stale store rows after a parser fix."""
    ignore = shutil.ignore_patterns("__pycache__")
    for name in ("same", "edited"):
        shutil.copytree(PKG, tmp_path / name / "tika_wrap_spark", ignore=ignore)
    with open(tmp_path / "edited" / "tika_wrap_spark" / "core" / "avrobin.py", "a") as f:
        f.write("\n# an edit no common document would see\n")
    same = _store_key(tmp_path / "same")
    assert same == qt._extract_store_key(500)  # independent of the checkout path
    assert _store_key(tmp_path / "edited") != same
