"""cpio (SVR4 newc/crc) archive parsing — core/cpiobin.py.

The cpio container path: 110-byte hex-field header walk, 4-byte alignment
of names and data, TRAILER!!! terminator, non-regular-entry skipping,
malformation taxonomy, and the extraction integration (members recurse
like zip/tar/ar entries)."""

import random

import pytest

from tika_wrap_spark.core.cpiobin import build_cpio, build_cpio_text, parse_cpio
from tika_wrap_spark.core.errors import ExtractError
from tika_wrap_spark.core.extract import extract_document
from tika_wrap_spark.core.sniff import KIND_CPIO, sniff_kind


def _doc_for(text: str) -> dict:
    return extract_document(
        [{"kind": "cpio", "text": text, "media_ref": "", "offset": 0}]
    )


def test_sniffs_cpio():
    c = build_cpio_text([("m.txt", "hello")])
    assert c.startswith("070701")
    assert sniff_kind(c) == KIND_CPIO
    # the hex guard: a digits-opener prose line must NOT route cpio
    assert sniff_kind("070701 was the year") != KIND_CPIO
    assert sniff_kind("0707012,totals,csv\n1,2,3") != KIND_CPIO
    assert sniff_kind("07070") != KIND_CPIO
    assert sniff_kind("x070701") != KIND_CPIO
    # crc-variant magic routes too
    assert sniff_kind("070702" + "0" * 104 + "TRAILER!!!\x00") == KIND_CPIO


def test_roundtrip_names_alignment_and_order():
    # name/payload lengths chosen to hit every 4-byte padding residue
    entries = [
        ("a", b"x"),
        ("bb.txt", b"yy"),
        ("ccc/deep/path.csv", b"col1,col2\n1,2"),
        ("dddd.log", b"payload of length seventeen!"),
    ]
    assert parse_cpio(build_cpio(entries)) == entries


def test_non_regular_entries_skipped():
    # hand-tweak: flip one entry's mode to a directory (S_IFDIR 0o040000)
    c = build_cpio_text([("keep.txt", "kept"), ("adir", "")])
    pos = c.index("adir") - 110 - ((4 - (110 + len("keep.txt") + 1) % 4) % 4)
    # simpler: rebuild with an explicit directory-mode entry
    from tika_wrap_spark.core.cpiobin import _S_IFREG  # noqa: PLC0415

    raw = bytearray(build_cpio([("keep.txt", b"kept"), ("adir", b"")]))
    # second entry's mode field: find its header by magic occurrences
    second = raw.index(b"070701", raw.index(b"070701") + 6)
    raw[second + 14 : second + 22] = b"%08x" % 0o040755
    assert parse_cpio(bytes(raw)) == [("keep.txt", b"kept")]


@pytest.mark.parametrize(
    "mutate, msg",
    [
        # entry1 spans [0, 208) (110 hdr + 6 name + 90 data + 2 pad): a cut
        # at the entry boundary ends the walk with no trailer seen
        (lambda c: c[:208], "missing TRAILER!!!"),
        # cut inside entry1's name field (name occupies [110, 116))
        (lambda c: c[:113], "truncated entry name"),
        (lambda c: c[:60], "truncated entry header"),
        (lambda c: "070703" + c[6:], "bad entry magic"),
        (lambda c: c[:54] + "zzzzzzzz" + c[62:], "bad hex filesize"),
    ],
)
def test_malformations_raise(mutate, msg):
    c = build_cpio_text([("m.txt", "x" * 90), ("n.txt", "y" * 41)])
    with pytest.raises(ExtractError) as exc:
        parse_cpio(mutate(c).encode("latin-1"))
    assert str(exc.value).startswith("cpio:")
    assert msg in str(exc.value)


def test_truncated_data_raises():
    c = build_cpio_text([("m.txt", "x" * 400)])
    with pytest.raises(ExtractError) as exc:
        parse_cpio(c[:300].encode("latin-1"))
    assert "truncated entry data" in str(exc.value)


def test_extraction_integration():
    c = build_cpio_text(
        [
            ("etc/notes.txt", "plain cpio notes"),
            ("data/table.csv", "a,b,c\n1,2,3\n4,5,6"),
        ]
    )
    doc = _doc_for(c)
    assert doc["parse_ok"]
    m = doc["meta"]
    assert m["container_format"] == "cpio"
    assert m["n_containers"] == "1"
    assert m["n_container_entries"] == "2"
    texts = [s["text"] for s in doc["spans"]]
    assert texts == ["plain cpio notes", "a,b,c\n1,2,3\n4,5,6"]
    assert "cpio" in m["kinds"] and "csv" in m["kinds"]


def test_nested_archive_recurses():
    from tika_wrap_spark.core.tarbin import build_tar_text  # noqa: PLC0415

    inner = build_tar_text([("inner.txt", "nested payload")])
    c = build_cpio_text([("bundle.tar", inner)])
    doc = _doc_for(c)
    assert doc["parse_ok"]
    assert doc["meta"]["container_depth"] == "2"
    assert [s["text"] for s in doc["spans"]] == ["nested payload"]


def test_truncated_adversarial_row_lands_in_archive_class():
    from tika_wrap_spark.corpus import N_ADVERSARIAL, adversarial_rows, generate_golden

    rows = adversarial_rows(0)
    assert len(rows) == N_ADVERSARIAL == 40
    golden = generate_golden(rows[26:27])  # the truncated-cpio row
    assert not golden[0]["parse_ok"]
    assert golden[0]["error"].startswith("cpio:")


def test_bitflip_fuzz_through_policy():
    """Single-byte corruption sweep routed through the extraction policy:
    every outcome is a row (parse_ok either way), never an exception."""
    c = build_cpio_text(
        [("f/a.txt", "fuzz body " * 20), ("f/b.csv", "q,w,e\n1,2,3")]
    )
    rng = random.Random(17)
    for _ in range(120):
        pos = rng.randrange(len(c))
        mutated = c[:pos] + chr(ord(c[pos]) ^ (1 << rng.randrange(8))) + c[pos + 1 :]
        doc = _doc_for(mutated)
        assert isinstance(doc["parse_ok"], bool)
        if not doc["parse_ok"]:
            assert doc["error"]
