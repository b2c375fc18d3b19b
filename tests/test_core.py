"""Unit tests for the pure-python extraction core (no Spark)."""

import pytest

from tika_wrap_spark.core.errors import ExtractError
from tika_wrap_spark.core.extract import _stringify, extract_document
from tika_wrap_spark.core.html import extract_html_blocks
from tika_wrap_spark.core.pdf import pages_to_texts, parse_pdf_pages
from tika_wrap_spark.core.sniff import sniff_kind


class TestSniff:
    def test_pdf_magic(self):
        assert sniff_kind("%PDF-1.4\nstuff") == "pdf"

    def test_html_doctype(self):
        assert sniff_kind("<!DOCTYPE html><html></html>") == "html"

    def test_html_fragment(self):
        assert sniff_kind("  \n<HTML><body>x</body>") == "html"

    def test_zip_magic(self):
        assert sniff_kind("PK\x03\x04rest") == "zip"

    def test_media(self):
        assert sniff_kind("", "blob://d/0") == "media"

    def test_text_fallback(self):
        assert sniff_kind("2025-01-01 INFO hello") == "text"
        assert sniff_kind("", "") == "text"

    def test_hint_is_not_trusted(self):
        # content detection is authoritative (reference quirk at
        # src/java-env.cpp:245-248 makes server-side detection win)
        assert sniff_kind("plain text, whatever the hint said") == "text"


class TestHtml:
    def test_boilerplate_stripped_content_kept(self):
        html = (
            "<html><body>"
            '<nav><a href="/">home</a> <a href="/a">about</a> '
            '<a href="/c">contact contact contact</a></nav>'
            "<p>This is a long enough content paragraph with real sentences "
            "that should certainly be kept by the scorer.</p>"
            "<footer><a href='#'>login</a> <a href='#'>signup</a></footer>"
            "</body></html>"
        )
        blocks = extract_html_blocks(html)
        assert len(blocks) == 1
        assert blocks[0].startswith("This is a long enough content paragraph")

    def test_link_dense_block_dropped(self):
        html = (
            "<html><body><div>"
            '<a href="/x">all of this text is only links and more links here</a>'
            "</div></body></html>"
        )
        assert extract_html_blocks(html) == []

    def test_short_block_dropped(self):
        assert extract_html_blocks("<html><body><p>too short</p></body></html>") == []

    def test_script_style_dropped(self):
        html = (
            "<html><head><script>var boilerplate = 'long long long long';</script>"
            "<style>p { margin: 12px 12px 12px 12px; }</style></head><body>"
            "<p>Real content paragraph long enough to pass the threshold.</p>"
            "</body></html>"
        )
        blocks = extract_html_blocks(html)
        assert blocks == ["Real content paragraph long enough to pass the threshold."]

    def test_entities_and_whitespace(self):
        html = (
            "<html><body><p>alpha &amp; beta &lt;tag&gt;    spaced\n\nout "
            "enough characters to pass the minimum.</p></body></html>"
        )
        assert extract_html_blocks(html) == [
            "alpha & beta <tag> spaced out enough characters to pass the minimum."
        ]

    def test_numeric_and_named_entity_breadth(self):
        """Numeric refs (decimal + hex), the HTML5 named set beyond the
        legacy 7, cp1252-remapped C1 refs, invalid refs -> U+FFFD, unknown
        names left literal — Tika decodes all of these."""
        html = (
            "<html><body><p>deg &#176; eq &#x3D; copy &copy; euro &euro; "
            "mdash &mdash; dash &#150; bad &#xD800; unknown &nosuch; "
            "padding so the block passes the keep threshold.</p></body></html>"
        )
        (block,) = extract_html_blocks(html)
        assert "deg °" in block
        assert "eq =" in block
        assert "copy ©" in block
        assert "euro €" in block
        assert "mdash —" in block
        assert "dash –" in block  # &#150; -> cp1252 EN DASH, not U+0096
        assert "bad �" in block  # surrogate ref -> replacement char
        assert "unknown &nosuch;" in block  # unknown name stays literal

    def test_entities_in_title_and_xml(self):
        from tika_wrap_spark.core.html import extract_xml_text, html_title

        assert html_title("<title>A &dagger; B &#8212; C</title>") == "A † B — C"
        assert (
            extract_xml_text('<?xml version="1.0"?><d>x &#x41; &Omega; y</d>')
            == "x A Ω y"
        )

    def test_xml_root_tag(self):
        from tika_wrap_spark.core.extract import extract_document
        from tika_wrap_spark.core.html import xml_root_tag

        assert xml_root_tag('<?xml version="1.0"?><doc>x</doc>') == "doc"
        assert xml_root_tag('<?xml version="1.0"?>\n<rss version="2.0">') == "rss"
        assert (
            xml_root_tag("<?xml?><!-- c --><!DOCTYPE svg><svg viewBox='0'/>")
            == "svg"
        )
        assert xml_root_tag("<?xml?><atom:feed>") == "feed"  # prefix drops
        assert xml_root_tag('<?xml version="1.0"?>') == ""  # no element
        assert xml_root_tag("<?xml") == ""  # unterminated prolog
        # the meta key lands from the first xml payload
        res = extract_document(
            [
                {
                    "kind": "text",
                    "text": '<?xml version="1.0"?><feed><entry>x</entry></feed>',
                    "media_ref": "",
                    "offset": 0,
                }
            ]
        )
        assert res["meta"]["xml_root"] == "feed"

    def test_blocks_in_document_order(self):
        html = (
            "<html><body>"
            "<p>First content paragraph long enough to be kept here.</p>"
            "<p>Second content paragraph long enough to be kept too.</p>"
            "</body></html>"
        )
        blocks = extract_html_blocks(html)
        assert blocks[0].startswith("First") and blocks[1].startswith("Second")

    def test_unterminated_tag_raises(self):
        with pytest.raises(ExtractError):
            extract_html_blocks("<html><body><p>x <a href=" + "y" * 3000)


class TestPdf:
    PDF = (
        "%PDF-1.4\n"
        "%%Page: 1\n"
        "BT 72.0 688.0 Td (second line) Tj ET\n"
        "BT 90.0 700.0 Td (first right) Tj ET\n"
        "BT 72.0 700.0 Td (first left) Tj ET\n"
        "%%Page: 2\n"
        "BT 72.0 700.0 Td (page two \\(escaped\\)) Tj ET\n"
        "%%EOF"
    )

    def test_layout_reorder(self):
        pages = pages_to_texts(parse_pdf_pages(self.PDF))
        assert pages == ["first left\nfirst right\nsecond line", "page two (escaped)"]

    def test_missing_eof_raises(self):
        with pytest.raises(ExtractError):
            parse_pdf_pages("%PDF-1.4\n%%Page: 1\nBT 1 2 Td (x) Tj ET")

    def test_not_pdf_raises(self):
        with pytest.raises(ExtractError):
            parse_pdf_pages("hello")

    def test_garbage_line_raises(self):
        with pytest.raises(ExtractError):
            parse_pdf_pages("%PDF-1.4\n%%Page: 1\nnot a run\n%%EOF")

    def test_run_before_page_raises(self):
        with pytest.raises(ExtractError):
            parse_pdf_pages("%PDF-1.4\nBT 1 2 Td (x) Tj ET\n%%EOF")


class TestExtractDocument:
    def test_offsets_are_running_sum(self):
        doc = [
            {"kind": "text", "text": "hello", "media_ref": "", "offset": 0},
            {"kind": "media", "text": "", "media_ref": "blob://d/0", "offset": 5},
            {"kind": "text", "text": "world!", "media_ref": "", "offset": 6},
        ]
        res = extract_document(doc)
        assert res["parse_ok"]
        offs = [s["offset"] for s in res["spans"]]
        assert offs == [0, 5, 5]  # media contributes 0 length
        assert res["spans"][2]["text"] == "world!"

    def test_bad_doc_is_data_not_exception(self):
        doc = [{"kind": "pdf", "text": "%PDF-1.4\ncut", "media_ref": "", "offset": 0}]
        res = extract_document(doc)
        assert res["parse_ok"] is False
        assert res["spans"] == []
        assert "truncated" in res["error"] or "unrecognized" in res["error"]

    def test_empty_doc_ok(self):
        res = extract_document([])
        assert res["parse_ok"] and res["spans"] == []

    def test_meta_is_flat_strings(self):
        res = extract_document(
            [{"kind": "text", "text": "abc", "media_ref": "", "offset": 0}]
        )
        assert all(isinstance(k, str) and isinstance(v, str) for k, v in res["meta"].items())
        assert res["meta"]["n_spans_out"] == "1"
        assert res["meta"]["n_chars"] == "3"

    def test_stringify_pins_lossy_coercion(self):
        # reference flatten coerces everything via toString(); containers
        # flatten to '' (src/java-env.cpp:300)
        assert _stringify(3) == "3"
        assert _stringify(True) == "true"
        assert _stringify(None) == ""
        assert _stringify([1, 2]) == ""
        assert _stringify({"a": 1}) == ""
