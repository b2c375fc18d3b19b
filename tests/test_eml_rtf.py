"""Golden/unit coverage for the rfc822/MIME (core/eml.py) and RTF
(core/rtf.py) parsers + their sniffer routing and extraction integration.

Model: the container golden tests (tests/test_container.py) — exact text
equality through the pure core, malformed inputs raise ExtractError and
become parse_ok=false rows, sniffer rules pinned in both directions.
"""

from __future__ import annotations

import pytest

from tika_wrap_spark.core.eml import build_eml, parse_eml
from tika_wrap_spark.core.errors import ExtractError
from tika_wrap_spark.core.extract import extract_document
from tika_wrap_spark.core.rtf import build_rtf, is_rtf_text, rtf_to_text
from tika_wrap_spark.core.sniff import sniff_kind
from tika_wrap_spark.core.zipbin import build_zip_text


def _doc(kind: str, text: str):
    return [{"kind": kind, "text": text, "media_ref": "", "offset": 0}]


LONG_HTML = (
    "<html><head><title>T</title></head><body><p>"
    + "html block with enough characters to clear the boilerplate keep rule. " * 2
    + "</p></body></html>"
)


class TestRtf:
    def test_builder_roundtrip_with_accents(self):
        r = build_rtf(["Hello world", "Café résumé — twice"], title="hidden")
        t = rtf_to_text(r)
        assert t == "Hello world\nCafé résumé — twice\n"
        assert "hidden" not in t  # \info destination skipped

    def test_unicode_escape_and_uc_fallback(self):
        assert rtf_to_text("{\\rtf1\\uc1 a\\u945?b\\par}") == "aαb\n"
        # uc2: two fallback chars swallowed
        assert rtf_to_text("{\\rtf1\\uc2 a\\u8364??b}") == "a€b"

    def test_star_destination_and_escapes(self):
        assert rtf_to_text("{\\rtf1 x{\\*\\weird junk}y}") == "xy"
        assert rtf_to_text("{\\rtf1 a\\{b\\}c\\\\d}") == "a{b}c\\d"
        assert rtf_to_text("{\\rtf1 a\\~b}") == "a b"

    def test_bin_run_skipped(self):
        # \binN consumes exactly N raw bytes (even '}' bytes) untokenized
        assert rtf_to_text("{\\rtf1 a{\\pict\\bin5 \x01}\x02\x03\x04}b}") == "ab"

    def test_fonttbl_colortbl_skipped(self):
        r = build_rtf(["only text"])
        assert "Helvetica" not in rtf_to_text(r)

    @pytest.mark.parametrize(
        "bad",
        ["plain", "{\\rtf1 unclosed", "{\\rtf1 x}}", "{\\rtf1 \\'g", "{\\rtf1 tail\\"],
    )
    def test_malformed_raises(self, bad):
        with pytest.raises(ExtractError):
            rtf_to_text(bad)

    def test_sniff_and_extract(self):
        r = build_rtf(["alpha beta gamma"])
        assert is_rtf_text(r) and sniff_kind(r, "") == "rtf"
        res = extract_document(_doc("rtf", r))
        assert res["parse_ok"]
        assert res["spans"][0]["text"] == "alpha beta gamma\n"
        assert "rtf" in res["meta"]["kinds"]

    def test_malformed_rtf_is_a_row(self):
        res = extract_document(_doc("rtf", "{\\rtf1 never closed"))
        assert not res["parse_ok"] and res["error"].startswith("rtf:")


class TestEml:
    def test_singlepart_roundtrip(self):
        m = build_eml("Report", "a@x.io", "b@y.io", "plain body text")
        meta, parts = parse_eml(m)
        assert meta["eml_subject"] == "Report"
        assert parts == [("body.0.text_plain", "plain body text")]

    def test_multipart_qp_base64_charset(self):
        png = "\x89PNG\r\n\x1a\n" + "\x00" * 20
        m = build_eml(
            "Café =?utf-8?B?csOpc3Vtw6k=?=",
            "a@x.io",
            "b@y.io",
            "Grüße — body",
            LONG_HTML,
            [("pic.png", png)],
        )
        meta, parts = parse_eml(m)
        # RFC 2047 encoded-word decoded in the header
        assert meta["eml_subject"] == "Café résumé"
        assert meta["n_eml_parts"] == "3"
        # quoted-printable body decodes through the declared utf-8 charset
        assert parts[0][1] == "Grüße — body"
        # base64 attachment round-trips byte-exact (bytes-as-text latin-1)
        assert parts[2] == ("pic.png", png)

    def test_nested_rfc822(self):
        inner = build_eml("inner", "c@z.io", "d@z.io", "inner body")
        wire = (
            "From: a@x\nTo: b@y\nSubject: fwd\nMIME-Version: 1.0\n"
            "Content-Type: message/rfc822\n\n" + inner
        )
        _meta, parts = parse_eml(wire)
        assert parts[0][1] == "inner body"

    @pytest.mark.parametrize(
        "bad",
        [
            "From: a@x\nnot a header line\n\nbody",
            "X-Weird: only\n\nbody",
            "From: a\nSubject: s\nContent-Type: multipart/mixed\n\nno boundary",
        ],
    )
    def test_malformed_raises(self, bad):
        with pytest.raises(ExtractError):
            parse_eml(bad)

    def test_unterminated_multipart_raises(self):
        m = build_eml("s", "a@x", "b@y", "t", LONG_HTML)
        cut = m.rsplit("--=_twc_boundary_001--", 1)[0]
        with pytest.raises(ExtractError):
            parse_eml(cut)

    def test_sniffer_rules(self):
        m = build_eml("s", "a@x.io", "b@y.io", "body")
        assert sniff_kind(m, "") == "eml"
        assert sniff_kind("Received: by mx\nnext", "") == "eml"  # strong alone
        # weak opener without corroborator: prose, not mail
        assert sniff_kind("From: the desk of someone\nplain prose", "") == "text"
        # weak + second header = mail even without MIME-Version
        assert sniff_kind("From: a@x\nTo: b@y\n\nhello", "") == "eml"
        # the csv trap: address lists carry commas but must route eml
        assert sniff_kind("From: a@x, b@y, c@z\nSubject: s\n\nx", "") == "eml"

    def test_extract_recurses_into_attachment(self):
        z = build_zip_text([("m.txt", "zip member body text")])
        m = build_eml("subj", "a@x.io", "b@y.io", "top body", LONG_HTML, [("a.zip", z)])
        res = extract_document(_doc("eml", m))
        assert res["parse_ok"], res["error"]
        texts = " ".join(s["text"] for s in res["spans"])
        assert "top body" in texts
        assert "html block with enough" in texts
        assert "zip member body text" in texts
        meta = res["meta"]
        assert meta["container_format"] == "eml"
        assert meta["eml_subject"] == "subj" and meta["eml_from"] == "a@x.io"
        assert meta["html_title"] == "T"
        # message + zip = 2 containers; 3 parts + 1 zip member = 4 entries
        assert meta["n_containers"] == "2" and meta["n_container_entries"] == "4"

    def test_malformed_eml_is_a_row(self):
        m = build_eml("s", "a@x", "b@y", "t", LONG_HTML)
        cut = m.rsplit("--=_twc_boundary_001--", 1)[0]
        res = extract_document(_doc("eml", cut))
        assert not res["parse_ok"] and res["error"].startswith("eml:")

    _MBOX_SEP = "From a@b.c Mon Jan  5 09:00:00 2026\n"
    _UNICODE_MSG = (
        "From: a@b.c\nSubject: hi\nContent-Type: text/plain; charset=utf-8\n"
        "%s\nprice 5€ today\n"
    )

    @pytest.mark.parametrize("sep", ["", _MBOX_SEP], ids=["eml", "mbox"])
    def test_unicode_text_part_stays_as_is(self, sep):
        # a declared charset only decodes bytes-as-text; real unicode (a
        # char above U+00FF) is already decoded, in a message or an mbox
        res = extract_document(_doc("eml", sep + self._UNICODE_MSG % ""))
        assert res["parse_ok"], res["error"]
        assert [s["text"] for s in res["spans"]] == ["price 5€ today\n"]

    @pytest.mark.parametrize("sep", ["", _MBOX_SEP], ids=["eml", "mbox"])
    def test_unicode_quoted_printable_body_is_an_eml_row(self, sep):
        qp = self._UNICODE_MSG % "Content-Transfer-Encoding: quoted-printable\n"
        res = extract_document(_doc("eml", sep + qp))
        assert res["error"] == "eml: payload is not a byte stream (non-latin-1 chars)"
