"""Binary property-list parsing — core/plistbin.py.

Hand-rolled bplist00 reader cross-validated against CPython's plistlib
(the reference implementation ships in the stdlib), plus the extraction
integration (flattened keypath lines, plist_keys meta, raise paths)."""

import plistlib
import random

import pytest

from tika_wrap_spark.core.errors import ExtractError
from tika_wrap_spark.core.extract import extract_document
from tika_wrap_spark.core.plistbin import (
    build_bplist,
    parse_bplist,
    plist_extract,
)
from tika_wrap_spark.core.sniff import KIND_PLIST, KIND_TEXT, sniff_kind

SAMPLE = {
    "CFBundleName": "Extractor",
    "CFBundleVersion": 12,
    "Ratio": 1.5,
    "Flags": [True, False, None],
    "Nested": {"keys": ["a", "b"], "blob": b"\x00\x01\x02", "uni": "caf\xe9 中文"},
    "Long": "x" * 300,  # forces the 0xF extended-length path
    "Negative": -42,
    "Big": 2**40,
}


def _doc_for(text: str) -> dict:
    return extract_document(
        [{"kind": "plist", "text": text, "media_ref": "", "offset": 0}]
    )


def test_sniffs_plist():
    t = build_bplist(SAMPLE).decode("latin-1")
    assert t.startswith("bplist00")
    assert sniff_kind(t) == KIND_PLIST
    assert sniff_kind("bplist0") == KIND_TEXT  # short prefix never routes
    assert sniff_kind("xbplist00") == KIND_TEXT


def test_roundtrip_matches_plistlib():
    b = build_bplist(SAMPLE)
    assert parse_bplist(b) == plistlib.loads(b)


def test_random_cross_validation_sweep():
    """200 random object graphs: the hand-rolled reader must agree with
    plistlib.loads byte-for-byte on every one."""
    rng = random.Random(17)

    def rand_obj(depth=0):
        k = rng.random()
        if depth > 2 or k < 0.3:
            return rng.choice(
                [
                    "word",
                    rng.randint(-999, 10**10),
                    rng.random(),
                    True,
                    False,
                    b"bytes" + bytes([rng.randrange(256)]),
                    "\xfcn\xef" * rng.randint(0, 3),
                ]
            )
        if k < 0.6:
            return [rand_obj(depth + 1) for _ in range(rng.randint(0, 4))]
        return {
            "k%d_%s" % (i, "\xe9" if rng.random() < 0.2 else "a"): rand_obj(depth + 1)
            for i in range(rng.randint(0, 4))
        }

    for i in range(200):
        b = build_bplist({"root": rand_obj()})
        assert parse_bplist(b) == plistlib.loads(b), i


def test_flatten_lines_and_keys():
    txt, keys = plist_extract(build_bplist(SAMPLE))
    assert keys.startswith("CFBundleName,CFBundleVersion,Ratio")
    lines = txt.split("\n")
    assert "CFBundleName: Extractor" in lines
    assert "Flags[0]: true" in lines and "Flags[2]: null" in lines
    assert "Nested.blob: <3 bytes>" in lines
    assert "Negative: -42" in lines


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: b[:-5],  # trailer cut
        lambda b: b[:20],  # too short
        lambda b: b[:-32] + b"\x00" * 32,  # zeroed trailer
        lambda b: b[:-9] + b"\xff" + b[-8:],  # top index out of range
    ],
)
def test_malformations_raise(mutate):
    b = build_bplist(SAMPLE)
    with pytest.raises(ExtractError) as exc:
        parse_bplist(mutate(b))
    assert str(exc.value).startswith("plist:")


def test_extraction_integration():
    doc = _doc_for(build_bplist(SAMPLE).decode("latin-1"))
    assert doc["parse_ok"]
    assert doc["meta"]["plist_keys"].startswith("CFBundleName,")
    assert doc["meta"]["kinds"] == "plist"
    assert len(doc["spans"]) == 1
    assert "Ratio: 1.5" in doc["spans"][0]["text"]


def test_adversarial_row_lands_in_plist_class():
    from tika_wrap_spark.corpus import N_ADVERSARIAL, adversarial_rows, generate_golden

    rows = adversarial_rows(0)
    assert len(rows) == N_ADVERSARIAL == 40
    golden = generate_golden(rows[24:25])  # the truncated-plist row
    assert not golden[0]["parse_ok"]
    assert golden[0]["error"].startswith("plist:")


def test_bitflip_fuzz_through_policy():
    t = build_bplist(SAMPLE).decode("latin-1")
    rng = random.Random(19)
    for _ in range(150):
        pos = rng.randrange(len(t))
        mutated = t[:pos] + chr(ord(t[pos]) ^ (1 << rng.randrange(8))) + t[pos + 1 :]
        doc = _doc_for(mutated)
        assert isinstance(doc["parse_ok"], bool)
        if not doc["parse_ok"]:
            assert doc["error"]
