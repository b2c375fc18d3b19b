"""Unix ar archive parsing — core/arbin.py.

The ar/.deb container path: 60-byte header walk, even-offset padding, GNU
long-name table, BSD extended names, malformation taxonomy, and the
extraction integration (a .deb's control.tar.gz / data.tar.xz members
recurse through the existing wrapper+tar paths)."""

import random

import pytest

from tika_wrap_spark.core.arbin import build_ar, build_ar_text, parse_ar
from tika_wrap_spark.core.errors import ExtractError
from tika_wrap_spark.core.extract import extract_document
from tika_wrap_spark.core.gzipbin import gzip_text, xz_text
from tika_wrap_spark.core.sniff import KIND_AR, sniff_kind
from tika_wrap_spark.core.tarbin import build_tar_text


def _doc_for(text: str) -> dict:
    return extract_document(
        [{"kind": "ar", "text": text, "media_ref": "", "offset": 0}]
    )


def _deb() -> str:
    control = "Package: demo\nVersion: 1.0.0\nDescription: a demo package\n"
    data = build_tar_text(
        [
            ("usr/share/doc/demo/readme.txt", "packaged readme body\nline 2"),
            ("usr/share/doc/demo/changes.txt", "initial release notes"),
        ]
    )
    return build_ar_text(
        [
            ("debian-binary", "2.0\n"),
            ("control.tar.gz", gzip_text(build_tar_text([("control", control)]))),
            ("data.tar.xz", xz_text(data)),
        ]
    )


def test_sniffs_ar():
    a = build_ar_text([("m.txt", "hello")])
    assert a.startswith("!<arch>\n")
    assert sniff_kind(a) == KIND_AR
    # near-misses never route ar
    assert sniff_kind("!<arch>") != KIND_AR
    assert sniff_kind(" !<arch>\n") != KIND_AR
    assert sniff_kind("!<archive>\n") != KIND_AR


def test_roundtrip_short_names_and_padding():
    # odd-length payload exercises the "\n" even-offset pad
    entries = [("a.txt", b"odd"), ("b.txt", b"even"), ("c.csv", b"x,y,z\n1,2,3")]
    assert parse_ar(build_ar(entries)) == entries


def test_gnu_long_name_table_roundtrip():
    entries = [
        ("a_very_long_member_name_indeed.log", b"long-name payload"),
        ("short.txt", b"short payload"),
        ("another_extremely_long_name.dat", b"second long"),
    ]
    a = build_ar(entries)
    assert b"//" in a[:80]  # the long-name table member is emitted first
    assert parse_ar(a) == entries


def test_gnu_trailing_slash_and_symbol_table():
    # hand-built: GNU ar emits "name/" terminated names and a "/" symbol
    # index member that must be skipped (plumbing, never an entry)
    hdr = lambda name, size: (  # noqa: E731
        name.ljust(16) + "0".ljust(12) + "0".ljust(6) + "0".ljust(6)
        + "100644".ljust(8) + str(size).ljust(10) + "\x60\n"
    )
    a = (
        "!<arch>\n"
        + hdr("/", 4) + "symb"
        + hdr("hello.txt/", 5) + "world" + "\n"
    )
    assert parse_ar(a.encode()) == [("hello.txt", b"world")]


def test_bsd_extended_name():
    # BSD ar: name "#1/<len>", real name leads the data, size includes it
    name = "bsd_long_name.txt"
    payload = "bsd payload"
    hdr = (
        ("#1/%d" % len(name)).ljust(16) + "0".ljust(12) + "0".ljust(6)
        + "0".ljust(6) + "100644".ljust(8)
        + str(len(name) + len(payload)).ljust(10) + "\x60\n"
    )
    a = "!<arch>\n" + hdr + name + payload  # 28 data bytes: even, no pad
    assert parse_ar(a.encode()) == [(name, payload.encode())]


@pytest.mark.parametrize(
    "mutate, msg",
    [
        (lambda a: "X" + a, "bad global magic"),
        (lambda a: a[:-30], "truncated member data"),
        # 8 + 60 + 101 + 1 pad = 170: cut inside the second member header
        (lambda a: a[:200], "truncated member header"),
        (
            lambda a: a.replace("\x60\n", "\x60X", 1),
            "bad member terminator",
        ),
    ],
)
def test_malformations_raise(mutate, msg):
    a = build_ar_text([("m.txt", "x" * 101), ("n.txt", "y" * 57)])
    with pytest.raises(ExtractError) as exc:
        parse_ar(mutate(a).encode("latin-1"))
    assert str(exc.value).startswith("ar:")
    assert msg in str(exc.value)


def test_bad_size_field_raises():
    a = build_ar_text([("m.txt", "hello")])
    # corrupt the decimal size field with a letter
    pos = a.index("m.txt")
    bad = a[: pos + 48] + "5x".ljust(10) + a[pos + 58 :]
    with pytest.raises(ExtractError) as exc:
        parse_ar(bad.encode("latin-1"))
    assert "bad decimal size" in str(exc.value)


def test_dangling_long_name_reference_raises():
    hdr = (
        "/99".ljust(16) + "0".ljust(12) + "0".ljust(6) + "0".ljust(6)
        + "100644".ljust(8) + "2".ljust(10) + "\x60\n"
    )
    with pytest.raises(ExtractError) as exc:
        parse_ar(("!<arch>\n" + hdr + "xx").encode())
    assert "dangling long-name reference" in str(exc.value)


def test_deb_extraction_integration():
    doc = _doc_for(_deb())
    assert doc["parse_ok"]
    m = doc["meta"]
    assert m["container_format"] == "deb"
    # ar(1) -> wrapper(2) -> tar(3): the deepest corpus container chain
    assert m["container_depth"] == "3"
    # containers: ar + gzip + control-tar + xz + data-tar
    assert m["n_containers"] == "5"
    texts = [s["text"] for s in doc["spans"]]
    assert "2.0\n" in texts  # debian-binary member surfaces verbatim
    assert any("Package: demo" in t for t in texts)
    assert any("packaged readme body" in t for t in texts)
    assert any("initial release notes" in t for t in texts)


def test_plain_ar_extraction_integration():
    a = build_ar_text(
        [("notes_with_a_long_name.log", "plain notes"), ("b.txt", "second")]
    )
    doc = _doc_for(a)
    assert doc["parse_ok"]
    m = doc["meta"]
    assert m["container_format"] == "ar"
    assert m["n_containers"] == "1"
    assert m["n_container_entries"] == "2"
    assert [s["text"] for s in doc["spans"]] == ["plain notes", "second"]


def test_truncated_adversarial_row_lands_in_archive_class():
    from tika_wrap_spark.corpus import N_ADVERSARIAL, adversarial_rows, generate_golden

    rows = adversarial_rows(0)
    assert len(rows) == N_ADVERSARIAL == 40
    golden = generate_golden(rows[25:26])  # the truncated-ar row
    assert not golden[0]["parse_ok"]
    assert golden[0]["error"].startswith("ar:")


def test_bitflip_fuzz_through_policy():
    """Single-byte corruption sweep routed through the extraction policy:
    every outcome is a row (parse_ok either way), never an exception."""
    a = _deb()
    rng = random.Random(13)
    for _ in range(120):
        pos = rng.randrange(len(a))
        mutated = a[:pos] + chr(ord(a[pos]) ^ (1 << rng.randrange(8))) + a[pos + 1 :]
        doc = _doc_for(mutated)
        assert isinstance(doc["parse_ok"], bool)
        if not doc["parse_ok"]:
            assert doc["error"]
