"""Structure of the sniffer's one rule table (``core.sniff.RULES``): its
kinds are exactly the ``KIND_*`` values, extraction dispatches every
non-text-family kind, and every row is reachable — each has a witness
payload whose first matching row it is, so a row shadowed by an earlier
one fails here."""

from __future__ import annotations

from tika_wrap_spark.core import extract
from tika_wrap_spark.core import sniff as sn

# one witness per RULES row, in row order
WITNESSES = [
    "%PDF-1.4\n",
    "PK\x03\x04\x14\x00",
    "\x1f\x8b\x08\x00",
    "\xfd7zXZ\x00\x00",
    "BZh91AY&SY",
    "\x1f\x9d\x90",
    "\x04\x22\x4d\x18\x64\x40",
    "MThd\x00\x00\x00\x06\x00\x01",
    "7z\xbc\xaf\x27\x1c\x00\x04",
    "Rar!\x1a\x07\x01\x00",
    "\x28\xb5\x2f\xfd\x24\x00",
    "\x5d\x00\x00\x04\x00" + "\xff" * 8,
    "\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1",
    "SQLite format 3\x00\x04\x00",
    "\x00\x01\x00\x00\x00\x03",
    "OTTO\x00\x03",
    "wOFFOTTO",
    "WARC/1.0\r\nContent-Type: text/html\r\n\r\n<html>",
    "bplist00\xd1\x01\x02",
    "!<arch>\ndebian-binary   ",
    "07070100000001",
    "\x03\x7c\x06\x0f" + "\x00" * 39 + "C" + "\x00" * 20,
    "\x78\x9f\x3e\x22\x01\x00",
    "MSCF\x00\x00\x00\x00\x4a\x01",
    "Obj\x01\x04\x16avro.schema",
    "PAR1" + "\x00" * 8 + "PAR1",
    "PK\x05\x06" + "\x00" * 32765 + "CD001" + "x" * 300,
    "\x00" * 257 + "ustar\x0000",
    "\x89PNG\r\n\x1a\n",
    "\x00\x00\x00\x18ftypisom",
    "{\\rtf1\\ansi x}",
    "From a@x Thu Jan  1 00:00:00 2026\nSubject: hi\n\n<html>",
    "\xa0<!DOCTYPE html><p>x</p>",
    '<?xml version="1.0"?><html xmlns="http://www.w3.org/1999/xhtml"/>',
    "<p>before</p><html>,a,b",
    "Received: by mx1, relay, x\n",
    "From: a@x, b@y, c@z\nSubject: hi\n",
    "BEGIN:VCALENDAR\nATTENDEE:mailto:a@x,b@y,c@z\n",
    "BEGIN:VCARD\nEMAIL:a@x,b@y,c@z\n",
    '[{"k": 1}, {"k": 2}, 3]',
    "a,b,c\n1,2,3\n",
]

# the first-line comma rule must not fire on these, nor any other row
NON_MATCHES = ["", "plain words", "a,b\nc,d,e,f", "BZh", "From the desk of a friend\nSubject: hi"]


def _first_row(payload: str) -> int | None:
    views = sn._Views(text=payload, head=payload[: sn.HEAD_WINDOW])
    return next((i for i, (_, test) in enumerate(sn._TESTS) if test(views)), None)


def test_rule_kinds_are_the_kind_constants():
    kinds = {v for k, v in vars(sn).items() if k.startswith("KIND_")}
    assert {row[0] for row in sn.RULES} | {sn.KIND_TEXT} == kinds


def test_dispatch_covers_every_rule_kind():
    rule_kinds = {row[0] for row in sn.RULES} | {sn.KIND_TEXT}
    text_family = {sn.KIND_TEXT, sn.KIND_CSV, sn.KIND_JSON}
    assert set(extract._DISPATCH) | text_family == rule_kinds


def test_every_row_is_first_match_for_its_witness():
    assert len(WITNESSES) == len(sn.RULES)
    got = [_first_row(w) for w in WITNESSES]
    assert got == list(range(len(sn.RULES))), [
        (i, g, sn.RULES[i][0]) for i, g in enumerate(got) if g != i
    ]
    # the gated sniffer agrees with evaluating every row in order
    assert [sn.sniff_kind(w) for w in WITNESSES] == [row[0] for row in sn.RULES]


def test_non_matches_fall_through_to_text():
    assert [_first_row(p) for p in NON_MATCHES] == [None] * len(NON_MATCHES)
    assert {sn.sniff_kind(p) for p in NON_MATCHES} == {sn.KIND_TEXT}


def test_empty_payload_routes_by_media_ref():
    assert sn.sniff_kind("", "img_0001.png") == sn.KIND_MEDIA
    assert sn.sniff_kind(None, "img_0001.png") == sn.KIND_MEDIA
    assert sn.sniff_kind("", "") == sn.KIND_TEXT
    assert sn.sniff_kind(None, None) == sn.KIND_TEXT


def test_jvm_fold_matches_python_on_witnesses(spark):
    """Every row, folded into the JVM ``when`` chain, routes its witness as
    the Python sniffer does; null and empty payloads too."""
    from pyspark.sql import functions as F

    from tika_wrap_spark import functions as tw

    rows = [(w, "") for w in WITNESSES + NON_MATCHES] + [
        (None, "img.png"), ("", "img.png"), (None, None), ("", None),
    ]
    df = spark.createDataFrame(rows, "text string, media_ref string")
    kinds = df.select(tw.sniff_kind_col(F.col("text"), F.col("media_ref")).alias("k"))
    got = [r["k"] for r in kinds.collect()]
    assert got == [sn.sniff_kind(t, m) for t, m in rows]
