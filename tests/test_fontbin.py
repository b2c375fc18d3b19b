"""Font metadata parsing (core/fontbin.py) — sfnt/WOFF builders round-trip
through the reader, name-record preference order, magic guards against
prose false-positives, malformed raises, extraction integration."""

from __future__ import annotations

import random
import struct

import pytest

from tika_wrap_spark.core.errors import ExtractError
from tika_wrap_spark.core.extract import extract_document
from tika_wrap_spark.core.fontbin import (
    build_sfnt,
    build_woff,
    parse_font_meta,
)
from tika_wrap_spark.core.sniff import sniff_kind


def _doc_for(text: str):
    return extract_document(
        [{"kind": "font", "text": text, "media_ref": "", "offset": 0}]
    )


def test_sfnt_roundtrip_ttf_and_otf():
    ttf = build_sfnt("Demo Sans", "Bold", "Version 2.1", units_per_em=2048, n_glyphs=300)
    meta = parse_font_meta(ttf)
    assert meta == {
        "container": "sfnt",
        "flavor": "ttf",
        "family": "Demo Sans",
        "subfamily": "Bold",
        "full_name": "Demo Sans Bold",
        "version": "Version 2.1",
        "units_per_em": "2048",
        "n_glyphs": "300",
    }
    otf = build_sfnt("Café Serif", flavor="otf")
    m2 = parse_font_meta(otf)
    assert m2["flavor"] == "otf" and m2["family"] == "Café Serif"


def test_woff_roundtrip_compressed_and_stored():
    sfnt = build_sfnt("Wrap Grotesk", "Italic")
    for compress in (True, False):
        meta = parse_font_meta(build_woff(sfnt, compress=compress))
        assert meta["container"] == "woff"
        assert meta["family"] == "Wrap Grotesk"
        assert meta["full_name"] == "Wrap Grotesk Italic"


def test_windows_record_preferred_over_mac():
    # the builder writes a Mac 1/0 copy of the family; corrupting the
    # WINDOWS family string must still be what the parser reports (rank 0)
    data = bytearray(build_sfnt("Rank Test"))
    # windows string is utf-16be "Rank Test"; mac copy is mac-roman
    utf16 = "Rank Test".encode("utf-16-be")
    idx = bytes(data).find(utf16)
    assert idx > 0
    data[idx : idx + 2] = "Z".encode("utf-16-be")
    meta = parse_font_meta(bytes(data))
    assert meta["family"] == "Zank Test"  # windows record won


def test_sniffer_guards():
    ttf = build_sfnt("Sniff Sans").decode("latin-1")
    assert sniff_kind(ttf, "") == "font"
    otf = build_sfnt("Sniff Serif", flavor="otf").decode("latin-1")
    assert sniff_kind(otf, "") == "font"
    woff = build_woff(build_sfnt("Sniff Web")).decode("latin-1")
    assert sniff_kind(woff, "") == "font"
    # printable-tag prose must NOT route font
    assert sniff_kind("OTTO was here, commas, included", "") != "font"
    assert sniff_kind("wOFFle prose never a font", "") != "font"
    assert sniff_kind("OTTO", "") != "font"
    assert sniff_kind("wOFF", "") != "font"


def test_extraction_integration_meta_only_no_spans():
    ttf = build_sfnt("Meta Sans", "Light", "Version 3.2").decode("latin-1")
    doc = _doc_for(ttf)
    assert doc["parse_ok"]
    assert doc["spans"] == []  # metadata-only payload, Tika-style
    assert doc["meta"]["kinds"] == "font"
    assert doc["meta"]["font_family"] == "Meta Sans"
    assert doc["meta"]["font_name"] == "Meta Sans Light"


def test_font_inside_archive_member():
    from tika_wrap_spark.core.zipbin import build_zip_text

    woff = build_woff(build_sfnt("Archive Grotesk")).decode("latin-1")
    z = build_zip_text([("fonts/a.woff", woff), ("readme.log", "plain member")])
    doc = extract_document([{"kind": "zip", "text": z, "media_ref": "", "offset": 0}])
    assert doc["parse_ok"]
    assert doc["meta"]["font_family"] == "Archive Grotesk"
    assert [s["text"] for s in doc["spans"]] == ["plain member"]


@pytest.mark.parametrize(
    "mutate",
    [
        lambda d: d[:40],  # table past EOF
        lambda d: d[:8],  # truncated offset table
        lambda d: d[:4] + b"\xff\xff" + d[6:],  # implausible table count
        lambda d: d.replace(b"name", b"nope", 1),  # missing name table
    ],
)
def test_malformed_raises(mutate):
    data = build_sfnt("Doomed Grotesk")
    with pytest.raises(ExtractError):
        parse_font_meta(mutate(data))


def test_corrupt_head_magic_raises():
    data = bytearray(build_sfnt("Head Case"))
    hm = struct.pack(">I", 0x5F0F3CF5)
    idx = bytes(data).find(hm)
    data[idx] ^= 0xFF
    with pytest.raises(ExtractError):
        parse_font_meta(bytes(data))


def test_bitflip_fuzz_through_policy():
    data = build_woff(build_sfnt("Fuzz Sans", "Bold"))
    rng = random.Random(11)
    for _ in range(150):
        pos = rng.randrange(len(data))
        mutated = (
            data[:pos]
            + bytes([data[pos] ^ (1 << rng.randrange(8))])
            + data[pos + 1 :]
        )
        doc = _doc_for(mutated.decode("latin-1"))
        assert isinstance(doc["parse_ok"], bool)
        if not doc["parse_ok"]:
            assert doc["error"]


def test_adversarial_row_lands_in_font_class():
    from tika_wrap_spark.corpus import N_ADVERSARIAL, adversarial_rows, generate_golden

    rows = adversarial_rows(0)
    assert len(rows) == N_ADVERSARIAL == 40
    golden = generate_golden(rows[21:22])  # the truncated-font row
    assert not golden[0]["parse_ok"]
    assert golden[0]["error"].startswith("font:")


def test_corpus_font_payloads_parse():
    from tika_wrap_spark.corpus import _gen_font_payload

    rng = random.Random(13)
    for _ in range(20):
        meta = parse_font_meta(_gen_font_payload(rng).encode("latin-1"))
        assert meta["family"] and meta["full_name"].startswith(meta["family"])


def _zeros_woff(n_mib: int, orig: int, trim: int = 0) -> bytes:
    """A one-table WOFF whose table is ``n_mib`` MiB of zeros, deflated in
    1 MiB chunks less ``trim`` trailing bytes, declaring ``orig`` as its
    inflated length."""
    import zlib

    c = zlib.compressobj(9)
    comp = b"".join(c.compress(bytes(1 << 20)) for _ in range(n_mib)) + c.flush()
    comp = comp[: len(comp) - trim]
    header = struct.pack(
        ">4s4sIHHIHHIIIII", b"wOFF", b"\x00\x01\x00\x00", 64 + len(comp), 1,
        0, 0, 1, 0, 0, 0, 0, 0, 0,
    )
    return header + struct.pack(">4sIIII", b"name", 64, len(comp), orig, 0) + comp


def test_woff_table_over_cap_is_bomb():
    """A table declaring more than the 64 MiB cap is refused before any
    inflate, in the ``bomb`` class."""
    from tika_wrap_spark.core.errors import MAX_INFLATED

    data = _zeros_woff(1, MAX_INFLATED + 1)
    want = "font: inflated payload exceeds %d bytes" % MAX_INFLATED
    with pytest.raises(ExtractError, match=want):
        parse_font_meta(data)


def test_woff_understated_table_inflates_no_further():
    """A table whose stream inflates far past its declared length stops one
    byte past it instead of inflating the whole stream."""
    import tracemalloc

    data = _zeros_woff(48, 1 << 20)
    tracemalloc.start()
    try:
        with pytest.raises(ExtractError, match="woff table length mismatch"):
            parse_font_meta(data)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 4 << 20, peak


def test_woff_truncated_table_stream_raises():
    with pytest.raises(ExtractError, match="woff table inflate failed: truncated stream"):
        parse_font_meta(_zeros_woff(1, 1 << 20, trim=8))
