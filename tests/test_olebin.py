"""OLE2/CFB + legacy Office binary parsing (core/olebin.py) — the native
analog of Tika's POI parsers the reference reaches through
/root/reference/src/java-env.cpp:313 (auto-detect parser accepts .doc/.xls)."""

from __future__ import annotations

import random
import struct

import pytest

from tika_wrap_spark.core.errors import ExtractError
from tika_wrap_spark.core.extract import extract_document
from tika_wrap_spark.core.olebin import (
    build_msg,
    msg_text,
    ole_extract_full,
    OLE_MAGIC,
    build_cfb,
    build_doc,
    build_ppt,
    build_xls,
    doc_text,
    parse_cfb,
    xls_text,
    _rk_value,
)
from tika_wrap_spark.core.sniff import sniff_kind
from tika_wrap_spark.core.zipbin import build_zip_text


class TestCfb:
    def test_small_streams_ride_mini_stream(self):
        streams = [("Alpha", b"alpha body"), ("Beta", b"B" * 100)]
        got = parse_cfb(build_cfb(streams))
        assert got["Alpha"] == b"alpha body" and got["Beta"] == b"B" * 100

    def test_large_stream_rides_fat(self):
        big = bytes(range(256)) * 64  # 16 KiB > mini cutoff
        got = parse_cfb(build_cfb([("Big", big), ("Tiny", b"t")]))
        assert got["Big"] == big and got["Tiny"] == b"t"

    def test_empty_stream(self):
        assert parse_cfb(build_cfb([("Empty", b"")]))["Empty"] == b""

    def test_not_cfb_raises(self):
        with pytest.raises(ExtractError):
            parse_cfb(b"PK\x03\x04 not ole at all" + b"\x00" * 600)

    def test_truncated_raises_extract_error(self):
        whole = build_cfb([("S", b"x" * 5000)])
        for cut in (8, 100, 511, 513, 700, len(whole) - 512):
            with pytest.raises(ExtractError):
                parse_cfb(whole[:cut])

    def test_cyclic_fat_chain_terminates(self):
        data = bytearray(build_cfb([("S", b"y" * 600)]))
        # FAT sector is the first data sector (id 0); point the directory
        # chain's first entry back at itself -> cycle
        dir_start = struct.unpack_from("<I", data, 48)[0]
        struct.pack_into("<I", data, 512 + 4 * dir_start, dir_start)
        with pytest.raises(ExtractError):
            parse_cfb(bytes(data))

    def test_fuzz_never_uncontrolled(self):
        rng = random.Random(7)
        base = build_cfb([("WordDocument", b"z" * 200), ("0Table", b"t" * 64)])
        for _ in range(150):
            data = bytearray(base)
            for _k in range(rng.randint(1, 6)):
                data[rng.randrange(len(data))] = rng.randrange(256)
            try:
                parse_cfb(bytes(data))
            except ExtractError:
                pass  # controlled failure is the contract


class TestDoc:
    def test_ascii_roundtrip(self):
        text = "Hello legacy Word.\nSecond paragraph.\nThird line."
        kind, out, _meta = ole_extract_full(build_doc(text))
        assert (kind, out) == ("doc", text)

    def test_cp1252_compressed_pieces(self):
        text = "café résumé señor façade"
        kind, out, _meta = ole_extract_full(build_doc(text))
        assert out == text

    def test_utf16_pieces(self):
        text = "Unicode 日本語 документ Ωμέγα.\nSecond para."
        kind, out, _meta = ole_extract_full(build_doc(text))
        assert out == text

    def test_long_doc_uses_fat_stream(self):
        text = "\n".join("paragraph %d with some body text" % i for i in range(400))
        doc = build_doc(text)
        assert len(doc) > 8192
        assert ole_extract_full(doc)[1] == text

    def test_control_char_normalization(self):
        # cell mark 0x07 -> tab, VT/FF -> newline, field chars dropped
        streams = parse_cfb(build_doc("a\x07b"))
        assert doc_text(streams) == "a\tb"

    def test_missing_table_stream(self):
        word = parse_cfb(build_doc("x"))["WordDocument"]
        with pytest.raises(ExtractError):
            doc_text({"WordDocument": word})

    def test_bad_ident(self):
        word = bytearray(parse_cfb(build_doc("x"))["WordDocument"])
        word[0] = 0
        with pytest.raises(ExtractError):
            doc_text({"WordDocument": bytes(word), "0Table": b""})


class TestXls:
    def test_mixed_cells_roundtrip(self):
        xls = build_xls("Metrics", [["name", "count"], ["alpha", 5], ["beta", 2.5]])
        kind, out, _meta = ole_extract_full(xls)
        assert (kind, out) == ("xls", "Metrics\nname\tcount\nalpha\t5\nbeta\t2.5")

    def test_unicode_sst(self):
        out = ole_extract_full(build_xls("S", [["日本語", "текст"]]))[1]
        assert out == "S\n日本語\tтекст"

    def test_rk_values(self):
        # 30-bit int, int/100, and IEEE-high-30-bits forms
        assert _rk_value((42 << 2) | 0x02) == 42.0
        assert _rk_value((4250 << 2) | 0x03) == 42.5
        packed = struct.unpack("<Q", struct.pack("<d", 1.5))[0]
        assert _rk_value((packed >> 32) & 0xFFFFFFFC) == 1.5

    def test_rk_and_mulrk_records(self):
        # hand-spliced RK + MULRK records appended to a built sheet
        def rec(t, b):
            return struct.pack("<HH", t, len(b)) + b

        rk = rec(0x027E, struct.pack("<HHH", 9, 0, 15) + struct.pack("<I", (7 << 2) | 0x02))
        mulrk = rec(
            0x00BD,
            struct.pack("<HH", 10, 1)
            + struct.pack("<HI", 15, (3 << 2) | 0x02)
            + struct.pack("<HI", 15, (4 << 2) | 0x02)
            + struct.pack("<H", 2),
        )
        book = bytearray(parse_cfb(build_xls("S", [["a"]]))["Workbook"])
        eof = rec(0x000A, b"")
        assert bytes(book[-4:]) == eof
        book = bytes(book[:-4]) + rk + mulrk + eof
        out = xls_text({"Workbook": book})
        assert out == "S\na\n7\n3\t4"

    def test_no_workbook_stream(self):
        with pytest.raises(ExtractError):
            xls_text({"Other": b""})


class TestPpt:
    def test_multi_slide_roundtrip(self):
        slides = [["Roadmap 2026", "Ship & iterate"], ["Second slide bullet"]]
        kind, text, _meta = ole_extract_full(build_ppt(slides))
        assert kind == "ppt"
        lines = text.split("\n")
        assert lines == ["Roadmap 2026", "Ship & iterate", "Second slide bullet"]

    def test_textchars_atom_unicode(self):
        kind, text, _meta = ole_extract_full(build_ppt([["日本語スライド", "ascii line"]]))
        assert kind == "ppt" and "日本語スライド" in text and "ascii line" in text

    def test_cr_paragraphs_normalize(self):
        _, text, _meta = ole_extract_full(build_ppt([["para one\npara two"]]))
        assert "para one\npara two" in text

    def test_truncated_record_raises(self):
        data = bytearray(build_ppt([["doomed slide text"]]))
        # inflate the Document container's recLen past the stream end:
        # locate the container header (verInst=0x000F, type=0x03E8)
        needle = struct.pack("<HH", 0x000F, 0x03E8)
        idx = data.find(needle)
        assert idx > 0
        struct.pack_into("<I", data, idx + 4, 0x0FFFFFFF)
        with pytest.raises(ExtractError):
            ole_extract_full(bytes(data))

    def test_deep_nesting_guarded(self):
        body = struct.pack("<HHI", 0, 0x0FA8, 4) + b"deep"
        for _ in range(20):
            body = struct.pack("<HHI", 0x000F, 0x03E8, len(body)) + body
        with pytest.raises(ExtractError):
            ole_extract_full(build_cfb([("PowerPoint Document", body)]))

    def test_missing_stream_unrecognized(self):
        with pytest.raises(ExtractError):
            ole_extract_full(build_cfb([("Current User", b"\x00" * 8)]))

    def test_ppt_through_extraction_policy(self):
        wire = build_ppt([["Quarterly numbers", "All hands"]]).decode("latin-1")
        assert sniff_kind(wire) == "ole"
        res = extract_document(
            [{"kind": "ole", "text": wire, "media_ref": "", "offset": 0}]
        )
        assert res["parse_ok"]
        assert res["meta"]["container_format"] == "ole-ppt"
        assert "Quarterly numbers" in res["spans"][0]["text"]


class TestMsg:
    def test_roundtrip_with_headers(self):
        m = build_msg(
            "Quarterly report",
            "line one\nline two",
            sender_name="Ana",
            sender_email="ana@example.com",
            to="team@example.org",
        )
        kind, text, meta = ole_extract_full(m)
        assert kind == "msg"
        assert text == (
            "Subject: Quarterly report\nFrom: Ana <ana@example.com>\n"
            "To: team@example.org\n\nline one\nline two"
        )
        assert meta == {
            "eml_subject": "Quarterly report",
            "eml_from": "Ana <ana@example.com>",
        }

    def test_byte_variant_001e(self):
        m = build_msg("café subject", "plain body", unicode_props=False)
        # the 001E byte stream carries cp1252
        assert b"__substg1.0_0037001E".decode() in parse_cfb(m)
        kind, text, meta = ole_extract_full(m)
        assert kind == "msg" and meta["eml_subject"] == "café subject"
        assert text == "Subject: café subject\n\nplain body"

    def test_unicode_forced_even_when_bytes_requested(self):
        m = build_msg("件名", "本文です", unicode_props=False)
        # cp1252 can't carry CJK -> builder falls back to the 001F stream
        assert "__substg1.0_0037001F" in parse_cfb(m)
        _, text, meta = ole_extract_full(m)
        assert meta["eml_subject"] == "件名" and "本文です" in text

    def test_sender_email_only(self):
        _, text, meta = ole_extract_full(
            build_msg("s", "b", sender_email="solo@example.com")
        )
        assert meta["eml_from"] == "solo@example.com"
        assert "From: solo@example.com" in text

    def test_crlf_body_normalizes(self):
        m = build_msg("s", "a\nb")  # builder re-wires \n -> \r\n
        _, text, _ = ole_extract_full(m)
        assert text.endswith("a\nb")

    def test_no_subject_no_body_raises(self):
        m = build_cfb(
            [("__substg1.0_0C1A001F", "Orphan".encode("utf-16-le"))]
        )
        with pytest.raises(ExtractError, match="msg:"):
            ole_extract_full(m)

    def test_msg_through_extraction_policy(self):
        wire = build_msg(
            "Pipeline status", "All green.", sender_name="Bot",
            sender_email="bot@example.com",
        ).decode("latin-1")
        assert sniff_kind(wire) == "ole"
        res = extract_document(
            [{"kind": "ole", "text": wire, "media_ref": "", "offset": 0}]
        )
        assert res["parse_ok"]
        assert res["meta"]["container_format"] == "ole-msg"
        assert res["meta"]["eml_subject"] == "Pipeline status"
        assert res["meta"]["eml_from"] == "Bot <bot@example.com>"
        assert "All green." in res["spans"][0]["text"]

    def test_msg_does_not_clobber_earlier_eml_meta(self):
        from tika_wrap_spark.core.eml import build_eml

        eml = build_eml("first subject", "a@example.com", "b@example.com", "eml body")
        msg = build_msg("second subject", "msg body").decode("latin-1")
        res = extract_document(
            [
                {"kind": "eml", "text": eml, "media_ref": "", "offset": 0},
                {"kind": "ole", "text": msg, "media_ref": "", "offset": len(eml)},
            ]
        )
        assert res["parse_ok"] and res["meta"]["eml_subject"] == "first subject"

    def test_fuzz_bitflips_never_crash(self):
        rng = random.Random(7)
        base = bytearray(
            build_msg("fuzz subject", "fuzz body text", sender_name="F")
        )
        for _ in range(60):
            data = bytearray(base)
            for _f in range(rng.randint(1, 6)):
                data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
            wire = bytes(data).decode("latin-1")
            res = extract_document(
                [{"kind": "ole", "text": wire, "media_ref": "", "offset": 0}]
            )
            assert isinstance(res["parse_ok"], bool)  # row, never a crash


class TestExtractIntegration:
    def test_sniffs_ole(self):
        assert sniff_kind(build_doc("x").decode("latin-1")) == "ole"

    def test_top_level_doc(self):
        text = "Legacy word body.\nWith two paragraphs."
        wire = build_doc(text).decode("latin-1")
        res = extract_document([{"kind": "ole", "text": wire, "media_ref": "", "offset": 0}])
        assert res["parse_ok"]
        assert res["spans"][0]["text"] == text
        assert res["meta"]["container_format"] == "ole-doc"
        assert "ole" in res["meta"]["kinds"]

    def test_xls_inside_zip(self):
        xls = build_xls("Q", [["k", "v"], ["a", 1]]).decode("latin-1")
        archive = build_zip_text([("report.xls", xls)])
        res = extract_document([{"kind": "zip", "text": archive, "media_ref": "", "offset": 0}])
        assert res["parse_ok"]
        assert any(s["text"] == "Q\nk\tv\na\t1" for s in res["spans"])

    def test_malformed_is_row_not_crash(self):
        cut = build_doc("body")[:700].decode("latin-1")
        res = extract_document([{"kind": "ole", "text": cut, "media_ref": "", "offset": 0}])
        assert not res["parse_ok"] and res["error"].startswith("ole:")

    def test_unrecognized_cfb_errors(self):
        with pytest.raises(ExtractError):
            ole_extract_full(build_cfb([("Mystery", b"no office here")]))

    def test_magic_constant_matches(self):
        from tika_wrap_spark.core.sniff import OLE_MAGIC_TEXT

        assert OLE_MAGIC_TEXT.encode("latin-1") == OLE_MAGIC
