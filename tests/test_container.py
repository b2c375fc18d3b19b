"""Recursive container (zip-analog) extraction — the reference README's own
TODO ("recursively parse embedded content", /root/reference/README.md:25) and
2/5 of its demo smoke inputs (example/demo1.cpp:48-49).

Pure-core golden tests: dialect round-trip, recursion with media
back-pointers, depth guard, and every malformed-container shape becoming a
``parse_ok=false`` row (never an exception out of extract_document).
"""

from __future__ import annotations

import pytest

from tika_wrap_spark.core.container import (
    MAX_CONTAINER_DEPTH,
    build_container,
    parse_container,
)
from tika_wrap_spark.core.errors import ExtractError
from tika_wrap_spark.core.extract import extract_document

PNG = "\x89PNG\r\n\x1a\nabcdef"
HTML = (
    "<!DOCTYPE html><html><head><title>Inner Doc</title></head><body>"
    "<p>This paragraph easily clears the twenty-five character keep bar.</p>"
    "</body></html>"
)
PDF = "%PDF-1.4\n%%Page: 1\nBT 72.0 700.0 Td (pdf member line) Tj ET\n%%EOF"


def _doc(payload):
    return [{"kind": "zip", "text": payload, "media_ref": "", "offset": 0}]


class TestDialect:
    def test_roundtrip(self):
        entries = [("a.txt", "hello"), ("weird name.bin", "PK\x05\x06\n inner"), ("", "")]
        assert parse_container(build_container(entries)) == entries

    def test_empty_container(self):
        assert parse_container(build_container([])) == []

    @pytest.mark.parametrize(
        "payload",
        [
            "PK\x03\x04WRONG\n" + "PK\x05\x06\n",  # bad magic version
            build_container([("a", "b")])[:-1],  # missing terminator tail
            "PK\x03\x04TWC1\nE 3 5\nabc12",  # truncated member body
            "PK\x03\x04TWC1\nX 1 1\nab" + "PK\x05\x06\n",  # bad header tag
            "PK\x03\x04TWC1\nE x 1\nab" + "PK\x05\x06\n",  # non-numeric len
            build_container([("a", "b")]) + "junk",  # trailing garbage
        ],
    )
    def test_malformed_raises(self, payload):
        with pytest.raises(ExtractError):
            parse_container(payload)


class TestRecursiveExtract:
    def test_flat_members_flatten_in_order(self):
        c = build_container(
            [("one.log", "first text member"), ("two.png", PNG), ("three.log", "second text member")]
        )
        res = extract_document(_doc(c))
        assert res["parse_ok"]
        seq = [(s["kind"], s["text"], s["media_ref"]) for s in res["spans"]]
        assert seq == [
            ("text", "first text member", ""),
            ("media", "", "zip://two.png"),
            ("text", "second text member", ""),
        ]
        assert res["meta"]["n_containers"] == "1"
        assert res["meta"]["n_container_entries"] == "3"
        assert res["meta"]["container_depth"] == "1"

    def test_members_route_by_content(self):
        c = build_container([("page.html", HTML), ("doc.pdf", PDF)])
        res = extract_document(_doc(c))
        assert res["parse_ok"]
        texts = [s["text"] for s in res["spans"]]
        assert any("twenty-five character keep bar" in t for t in texts)
        assert "pdf member line" in texts
        assert res["meta"]["html_title"] == "Inner Doc"
        assert res["meta"]["n_pdf_pages"] == "1"

    def test_nested_container_recurses_with_path_refs(self):
        inner = build_container([("deep.png", PNG), ("deep.log", "nested text")])
        outer = build_container([("intro.log", "outer text"), ("inner.twc", inner)])
        res = extract_document(_doc(outer))
        assert res["parse_ok"]
        seq = [(s["kind"], s["text"], s["media_ref"]) for s in res["spans"]]
        assert seq == [
            ("text", "outer text", ""),
            ("media", "", "zip://inner.twc/deep.png"),
            ("text", "nested text", ""),
        ]
        assert res["meta"]["n_containers"] == "2"
        assert res["meta"]["n_container_entries"] == "4"
        assert res["meta"]["container_depth"] == "2"

    def test_offsets_are_running_sum_across_members(self):
        c = build_container([("a.log", "alpha"), ("b.png", PNG), ("c.log", "beta")])
        res = extract_document(_doc(c))
        assert [s["offset"] for s in res["spans"]] == [0, 5, 5]

    def test_depth_guard_is_data_not_crash(self):
        bomb = "x"
        for _ in range(MAX_CONTAINER_DEPTH + 2):
            bomb = build_container([("d.twc", bomb)])
        res = extract_document(_doc(bomb))
        assert not res["parse_ok"]
        assert "depth" in res["error"]
        assert res["spans"] == []

    def test_depth_at_limit_ok(self):
        payload = "leaf text"
        for _ in range(MAX_CONTAINER_DEPTH):
            payload = build_container([("d.twc", payload)])
        res = extract_document(_doc(payload))
        assert res["parse_ok"]
        assert [s["text"] for s in res["spans"]] == ["leaf text"]
        assert res["meta"]["container_depth"] == str(MAX_CONTAINER_DEPTH)

    def test_malformed_member_fails_whole_doc(self):
        # a nested container that is itself truncated: error policy says the
        # document becomes a parse_ok=false row
        res = extract_document(_doc(build_container([("bad.twc", "PK\x03\x04TWC1\nE 1 99\na")])))
        assert not res["parse_ok"]
        assert "container" in res["error"]


class TestRealZip:
    """Real PK-zip binary parsing (core/zipbin.py): the reference's actual
    smoke inputs are literal .zip files (example/demo1.cpp:48-49). Covers
    stored + deflate members, nesting across dialects, OOXML-shaped
    archives, stdlib-zipfile cross-validation both ways, and every
    malformed shape becoming an ExtractError / parse_ok=false row."""

    def test_roundtrip_stored_and_deflate(self):
        from tika_wrap_spark.core.zipbin import build_zip, parse_zip

        ents = [("a.log", b"hello world"), ("b/c.bin", b"\x00\xff" * 300)]
        for deflate in (False, True, [True, False]):
            assert parse_zip(build_zip(ents, deflate=deflate)) == ents

    def test_stdlib_zipfile_cross_validation(self):
        import io
        import zipfile

        from tika_wrap_spark.core.zipbin import build_zip, parse_zip

        ents = [("n1.txt", b"stdlib member one"), ("n2.bin", b"\x00\x01\x02 data")]
        # stdlib reads ours
        zf = zipfile.ZipFile(io.BytesIO(build_zip(ents, deflate=True)))
        assert [(i.filename, zf.read(i)) for i in zf.infolist()] == ents
        # we read stdlib's (both compression methods)
        for method in (zipfile.ZIP_STORED, zipfile.ZIP_DEFLATED):
            buf = io.BytesIO()
            with zipfile.ZipFile(buf, "w", method) as z:
                for name, payload in ents:
                    z.writestr(name, payload)
            assert parse_zip(buf.getvalue()) == ents

    def test_zip64_and_data_descriptor_roundtrip(self):
        """Zip64 EOCD64/locator + per-member zip64 extras, and streamed
        (flag-bit-3 data-descriptor) members — both layouts routine in a
        100 TB corpus; central-directory sizes stay the parse authority."""
        import io
        import zipfile

        from tika_wrap_spark.core.zipbin import build_zip, parse_zip

        ents = [("a.log", b"hello world"), ("b/c.bin", b"\x00\xff" * 300)]
        for z64 in (False, True):
            for dd in (False, True):
                data = build_zip(ents, deflate=True, zip64=z64, data_descriptor=dd)
                assert parse_zip(data) == ents, (z64, dd)
                zf = zipfile.ZipFile(io.BytesIO(data))
                assert [(i.filename, zf.read(i)) for i in zf.infolist()] == ents

    def test_zip64_many_members_past_u16(self):
        """>65535 members forces the EOCD64 path (the classic zip64 trigger);
        counts and spot members must both survive."""
        from tika_wrap_spark.core.zipbin import build_zip, parse_zip

        many = [("m/%05d.txt" % i, b"x%d" % i) for i in range(65600)]
        got = parse_zip(build_zip(many, zip64=True))
        assert len(got) == 65600
        assert got[65599] == many[65599] and got[12345] == many[12345]

    def test_zip64_sentinel_without_locator_is_error(self):
        from tika_wrap_spark.core.errors import ExtractError
        from tika_wrap_spark.core.zipbin import build_zip, parse_zip

        data = build_zip([("a.log", b"x")], zip64=True)
        # clobber the 20-byte locator that precedes the EOCD
        bad = data[: len(data) - 42] + b"x" * 20 + data[len(data) - 22 :]
        with pytest.raises(ExtractError, match="zip64 sentinel"):
            parse_zip(bad)

    @staticmethod
    def _zeros_zip(n_mib: int, usize: int | None = None) -> bytes:
        """A zip of one deflated member of ``n_mib`` MiB of zeros, written in
        1 MiB chunks; ``usize`` overwrites the central record's size."""
        import io
        import struct
        import zipfile

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
            with z.open("zeros.bin", "w") as f:
                for _ in range(n_mib):
                    f.write(bytes(1 << 20))
        data = bytearray(buf.getvalue())
        if usize is not None:
            cen = data.index(b"PK\x01\x02")
            struct.pack_into("<I", data, cen + 24, usize)
        return bytes(data)

    def test_deflate_member_over_cap_is_bomb(self):
        """An honestly declared 65 MiB member stops at the 64 MiB cap and
        lands in the ``bomb`` class, like every other inflating path."""
        from tika_wrap_spark.core.errors import MAX_INFLATED
        from tika_wrap_spark.core.zipbin import parse_zip

        data = self._zeros_zip(65)
        assert len(data) < 100_000
        want = "zip: inflated payload exceeds %d bytes" % MAX_INFLATED
        with pytest.raises(ExtractError, match=want):
            parse_zip(data)

    def test_understated_size_inflates_no_further(self):
        """A member whose declared size understates its stream inflates one
        byte past the declared size, not to the end of the stream."""
        import tracemalloc

        from tika_wrap_spark.core.zipbin import parse_zip

        data = self._zeros_zip(48, usize=16)
        tracemalloc.start()
        try:
            with pytest.raises(ExtractError, match="inflated size mismatch"):
                parse_zip(data)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < 4 << 20, peak

    def test_deflate_stream_without_final_block_is_truncated(self):
        """A member whose stream yields every declared byte but never ends
        (no final block) is truncated, not silently accepted."""
        import struct
        import zlib

        from tika_wrap_spark.core.zipbin import parse_zip

        payload = b"member text " * 20
        c = zlib.compressobj(9, zlib.DEFLATED, -15)
        raw = c.compress(payload) + c.flush(zlib.Z_SYNC_FLUSH)
        fields = (0, 8, 0, 0x21, zlib.crc32(payload), len(raw), len(payload), 5)
        local = b"PK\x03\x04" + struct.pack("<HHHHHIIIHH", 20, *fields, 0) + b"m.txt" + raw
        central = (
            b"PK\x01\x02"
            + struct.pack("<HHHHHHIIIHHHHHII", 20, 20, *fields, 0, 0, 0, 0, 0, 0)
            + b"m.txt"
        )
        eocd = b"PK\x05\x06" + struct.pack("<HHHHIIH", 0, 0, 1, 1, len(central), len(local), 0)
        with pytest.raises(ExtractError, match="zip: truncated deflate stream"):
            parse_zip(local + central + eocd)

    def test_extracts_like_any_container(self):
        from tika_wrap_spark.core.zipbin import build_zip_text

        zt = build_zip_text(
            [("m.log", "zip member text"), ("p.png", PNG), ("page.html", HTML)],
            deflate=[False, True, True],
        )
        res = extract_document(_doc(zt))
        assert res["parse_ok"], res["error"]
        seq = [(s["kind"], s["media_ref"]) for s in res["spans"]]
        assert seq[0] == ("text", "") and seq[1] == ("media", "zip://p.png")
        assert res["spans"][0]["text"] == "zip member text"
        assert res["meta"]["container_format"] == "zip"
        assert res["meta"]["html_title"] == "Inner Doc"

    def test_nested_across_dialects(self):
        from tika_wrap_spark.core.zipbin import build_zip_text

        # real zip containing a TWC1 archive containing a real zip
        inner_zip = build_zip_text([("leaf.log", "deep text")], deflate=True)
        twc = build_container([("mid.zip", inner_zip)])
        outer = build_zip_text([("outer.twc", twc)])
        res = extract_document(_doc(outer))
        assert res["parse_ok"], res["error"]
        assert [s["text"] for s in res["spans"]] == ["deep text"]
        assert res["meta"]["n_containers"] == "3"
        assert res["meta"]["container_depth"] == "3"

    def test_ooxml_real_zip(self):
        from tika_wrap_spark.core.zipbin import build_zip_text

        zt = build_zip_text(
            [("[Content_Types].xml", '<?xml version="1.0"?><Types/>'),
             ("word/document.xml", '<?xml version="1.0"?><w>body words</w>')],
            deflate=True,
        )
        res = extract_document(_doc(zt))
        assert res["parse_ok"]
        assert res["meta"]["container_format"] == "ooxml"
        assert "body words" in [s["text"] for s in res["spans"]]

    def test_ooxml_realistic_docx_run_concatenation(self):
        """A realistic docx-shaped zip: WordprocessingML document.xml with
        namespaced w:p/w:r/w:t runs (entities included). The extracted text
        must equal the whitespace-normalized run concatenation — pins the
        OOXML path beyond the [Content_Types].xml marker (VERDICT r3 #8)."""
        from tika_wrap_spark.core.zipbin import build_zip_text

        document_xml = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            '<w:document xmlns:w="http://schemas.openxmlformats.org/'
            'wordprocessingml/2006/main">'
            "<w:body>"
            "<w:p><w:r><w:rPr><w:b/></w:rPr><w:t>Quarterly report</w:t></w:r></w:p>"
            "<w:p><w:r><w:t>Revenue rose by 12&#37; &amp; costs fell.</w:t></w:r>"
            '<w:r><w:t xml:space="preserve"> Second run, same paragraph.</w:t>'
            "</w:r></w:p>"
            "<w:p><w:r><w:t>Final paragraph.</w:t></w:r></w:p>"
            "</w:body></w:document>"
        )
        content_types = (
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.'
            'org/package/2006/content-types"><Default Extension="xml" '
            'ContentType="application/xml"/></Types>'
        )
        zt = build_zip_text(
            [
                ("[Content_Types].xml", content_types),
                ("_rels/.rels", '<?xml version="1.0"?><Relationships/>'),
                ("word/document.xml", document_xml),
            ],
            deflate=True,
        )
        res = extract_document(_doc(zt))
        assert res["parse_ok"]
        assert res["meta"]["container_format"] == "ooxml"
        texts = [s["text"] for s in res["spans"] if s["kind"] == "text"]
        doc_text = next(t for t in texts if "Quarterly" in t)
        # run concatenation: tag strip + entity decode + ws collapse
        assert doc_text == (
            "Quarterly report Revenue rose by 12% & costs fell. "
            "Second run, same paragraph. Final paragraph."
        )

    def test_ooxml_xlsx_shared_strings(self):
        """An xlsx-shaped zip: SpreadsheetML sharedStrings.xml cell text
        must surface through the generic OOXML xml-member path — pins that
        spreadsheets extract their string table, not just docx bodies."""
        from tika_wrap_spark.core.zipbin import build_zip_text

        shared = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/'
            '2006/main" count="3" uniqueCount="3">'
            "<si><t>Region</t></si><si><t>Revenue &amp; margin</t></si>"
            "<si><t>Total for Q3</t></si></sst>"
        )
        sheet = (
            '<?xml version="1.0"?><worksheet><sheetData>'
            '<row r="1"><c r="A1" t="s"><v>0</v></c>'
            '<c r="B1" t="s"><v>1</v></c></row>'
            '<row r="2"><c r="A2" t="s"><v>2</v></c>'
            '<c r="B2"><v>1234.5</v></c></row>'
            "</sheetData></worksheet>"
        )
        zt = build_zip_text(
            [
                ("[Content_Types].xml", '<?xml version="1.0"?><Types/>'),
                ("xl/sharedStrings.xml", shared),
                ("xl/worksheets/sheet1.xml", sheet),
            ],
            deflate=True,
        )
        res = extract_document(_doc(zt))
        assert res["parse_ok"]
        assert res["meta"]["container_format"] == "ooxml"
        all_text = " ".join(s["text"] for s in res["spans"] if s["kind"] == "text")
        assert "Region" in all_text
        assert "Revenue & margin" in all_text  # entity decode through xml path
        assert "Total for Q3" in all_text
        assert "1234.5" in all_text  # inline numeric cell value

    def test_ooxml_pptx_slide_text(self):
        """A pptx-shaped zip: PresentationML slide XML with namespaced
        p:sp/p:txBody/a:p/a:r/a:t runs. Slide text must surface through the
        generic OOXML xml-member path, run-concatenated with entities
        decoded — pins presentations alongside docx/xlsx (VERDICT r4 #5)."""
        from tika_wrap_spark.core.zipbin import build_zip_text

        slide1 = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            '<p:sld xmlns:a="http://schemas.openxmlformats.org/drawingml/'
            '2006/main" xmlns:p="http://schemas.openxmlformats.org/'
            'presentationml/2006/main"><p:cSld><p:spTree>'
            "<p:sp><p:txBody>"
            '<a:p><a:r><a:rPr lang="en-US" b="1"/><a:t>Roadmap 2026</a:t>'
            "</a:r></a:p>"
            "<a:p><a:r><a:t>Ship &amp; iterate</a:t></a:r>"
            '<a:r><a:t xml:space="preserve"> every quarter.</a:t></a:r></a:p>'
            "</p:txBody></p:sp>"
            "<p:sp><p:txBody><a:p><a:r><a:t>Speaker: R&#38;D team</a:t>"
            "</a:r></a:p></p:txBody></p:sp>"
            "</p:spTree></p:cSld></p:sld>"
        )
        slide2 = (
            '<?xml version="1.0"?><p:sld xmlns:a="urn:a" xmlns:p="urn:p">'
            "<p:cSld><p:spTree><p:sp><p:txBody>"
            "<a:p><a:r><a:t>Second slide bullet</a:t></a:r></a:p>"
            "</p:txBody></p:sp></p:spTree></p:cSld></p:sld>"
        )
        zt = build_zip_text(
            [
                ("[Content_Types].xml", '<?xml version="1.0"?><Types/>'),
                ("_rels/.rels", '<?xml version="1.0"?><Relationships/>'),
                ("ppt/slides/slide1.xml", slide1),
                ("ppt/slides/slide2.xml", slide2),
            ],
            deflate=True,
        )
        res = extract_document(_doc(zt))
        assert res["parse_ok"]
        assert res["meta"]["container_format"] == "ooxml"
        texts = [s["text"] for s in res["spans"] if s["kind"] == "text"]
        s1 = next(t for t in texts if "Roadmap" in t)
        assert s1 == "Roadmap 2026 Ship & iterate every quarter. Speaker: R&D team"
        assert any(t == "Second slide bullet" for t in texts)  # slide order kept
        assert texts.index(s1) < texts.index("Second slide bullet")

    def test_malformed_shapes_raise(self):
        import struct

        from tika_wrap_spark.core.errors import ExtractError as EE
        from tika_wrap_spark.core.zipbin import build_zip_text, parse_zip

        ok = build_zip_text([("m.log", "zip member text")], deflate=False)
        bads = [
            ok[:-12],  # EOCD cut off
            ok.replace("zip member", "zap member", 1),  # stored-member crc mismatch
            "PK\x03\x04garbage with no directory at all",
            ok[: len(ok) // 2] + ok[len(ok) // 2 + 3 :],  # mid-stream bytes dropped
            "PK\x05\x06",  # EOCD magic alone, too short
        ]
        # unsupported compression method (bzip2=12) in both records
        method12 = ok.replace(
            struct.pack("<HH", 0x800, 0).decode("latin-1"),
            struct.pack("<HH", 0x800, 12).decode("latin-1"),
        )
        bads.append(method12)
        for bad in bads:
            with pytest.raises(EE):
                parse_zip(bad.encode("latin-1"))
            if bad.startswith("PK\x03\x04"):  # else sniffs text, not zip
                res = extract_document(_doc(bad))
                assert not res["parse_ok"] and res["spans"] == []

    def test_non_latin1_payload_is_error_row(self):
        res = extract_document(_doc("PK\x03\x04☃ snowman payload"))
        assert not res["parse_ok"]
        assert res["error"] == "zip: payload is not a byte stream (non-latin-1 chars)"


class TestPerFormatMeta:
    def test_html_title_and_pdf_dims_at_top_level(self):
        spans = [
            {"kind": "html", "text": HTML, "media_ref": "", "offset": 0},
            {"kind": "pdf", "text": PDF, "media_ref": "", "offset": 1},
        ]
        res = extract_document(spans)
        assert res["meta"]["html_title"] == "Inner Doc"
        assert res["meta"]["pdf_page1_w"] == "72.0"
        assert res["meta"]["pdf_page1_h"] == "700.0"

    def test_absent_formats_have_empty_keys(self):
        res = extract_document([{"kind": "text", "text": "plain", "media_ref": "", "offset": 0}])
        assert res["meta"]["html_title"] == ""
        assert res["meta"]["pdf_page1_w"] == ""
        assert res["meta"]["container_depth"] == "0"


class TestMimeBreadth:
    def test_new_kind_rules(self):
        from tika_wrap_spark.core.sniff import sniff_kind

        assert sniff_kind('<?xml version="1.0"?><doc>x</doc>') == "xml"
        assert sniff_kind('{"k": "v"}') == "json"
        assert sniff_kind("[1, 2, 3]") == "json"
        assert sniff_kind("a,b,c\n1,2,3") == "csv"
        assert sniff_kind("a,b\n1,2") == "text"  # one comma: not csv enough
        assert sniff_kind("plain words here") == "text"
        # xhtml with xml prolog pins to xml (rule order documented)
        assert sniff_kind('<?xml version="1.0"?><html><body>x</body></html>') == "xml"

    def test_xml_extracts_character_content(self):
        res = extract_document(
            [{"kind": "text", "text": '<?xml version="1.0"?><doc><a>alpha</a><b>beta &amp; gamma</b></doc>', "media_ref": "", "offset": 0}]
        )
        assert res["parse_ok"]
        assert [s["text"] for s in res["spans"]] == ["alpha beta & gamma"]
        assert res["meta"]["kinds"] == "xml"

    def test_json_csv_pass_through(self):
        for payload, kind in (('{"k": "v"}', "json"), ("a,b,c\n1,2,3", "csv")):
            res = extract_document(
                [{"kind": "text", "text": payload, "media_ref": "", "offset": 0}]
            )
            assert res["parse_ok"]
            assert [s["text"] for s in res["spans"]] == [payload]
            assert res["meta"]["kinds"] == kind

    def test_ooxml_container_format(self):
        c = build_container(
            [("[Content_Types].xml", '<?xml version="1.0"?><Types/>'),
             ("word/document.xml", '<?xml version="1.0"?><w>body words</w>')]
        )
        res = extract_document(_doc(c))
        assert res["parse_ok"]
        assert res["meta"]["container_format"] == "ooxml"
        plain = build_container([("a.log", "plain member")])
        assert extract_document(_doc(plain))["meta"]["container_format"] == "zip"
        nothing = extract_document(
            [{"kind": "text", "text": "no archive", "media_ref": "", "offset": 0}]
        )
        assert nothing["meta"]["container_format"] == ""


class TestTarGzip:
    """Real ustar TAR + gzip wrapper parsing (core/tarbin.py, core/gzipbin.py):
    stdlib cross-validation both ways, extraction routing incl. the
    .tar.gz double recursion, and malformed shapes -> parse_ok=false."""

    def test_tar_roundtrip_and_stdlib_cross_validation(self):
        import io
        import tarfile

        from tika_wrap_spark.core.tarbin import build_tar, parse_tar

        ents = [("a.log", b"tar member one"), ("dir/b.bin", b"\x00\xff" * 700)]
        blob = build_tar(ents)
        assert parse_tar(blob) == ents
        # stdlib reads ours
        tf = tarfile.open(fileobj=io.BytesIO(blob))
        got = [(m.name, tf.extractfile(m).read()) for m in tf if m.isfile()]
        assert got == ents
        # we read stdlib's (ustar format)
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as t:
            for name, payload in ents:
                info = tarfile.TarInfo(name)
                info.size = len(payload)
                t.addfile(info, io.BytesIO(payload))
        assert parse_tar(buf.getvalue()) == ents

    def test_gzip_roundtrip_and_stdlib_cross_validation(self):
        import gzip as stdgzip

        from tika_wrap_spark.core.gzipbin import gunzip, gzip_bytes

        data = b"gzip payload \x00\x01" * 100
        assert gunzip(gzip_bytes(data)) == data
        assert stdgzip.decompress(gzip_bytes(data)) == data
        assert gunzip(stdgzip.compress(data)) == data

    def test_tar_extracts_like_any_container(self):
        from tika_wrap_spark.core.tarbin import build_tar_text

        tt = build_tar_text(
            [("m.log", "tar member text"), ("p.png", PNG), ("page.html", HTML)]
        )
        res = extract_document(_doc(tt))
        assert res["parse_ok"], res["error"]
        seq = [(s["kind"], s["media_ref"]) for s in res["spans"]]
        assert seq[0] == ("text", "") and seq[1] == ("media", "zip://p.png")
        assert res["spans"][0]["text"] == "tar member text"
        assert res["meta"]["container_format"] == "tar"
        assert res["meta"]["html_title"] == "Inner Doc"

    def test_tar_gz_double_recursion(self):
        from tika_wrap_spark.core.gzipbin import gzip_text
        from tika_wrap_spark.core.tarbin import build_tar_text

        tgz = gzip_text(build_tar_text([("inner.log", "deep tar.gz text")]))
        res = extract_document(_doc(tgz))
        assert res["parse_ok"], res["error"]
        assert [s["text"] for s in res["spans"]] == ["deep tar.gz text"]
        # gzip level + tar level both count; format records the OUTERMOST
        assert res["meta"]["n_containers"] == "2"
        assert res["meta"]["container_depth"] == "2"
        assert res["meta"]["container_format"] == "gzip"

    def test_gzip_wrapping_zip(self):
        from tika_wrap_spark.core.gzipbin import gzip_text
        from tika_wrap_spark.core.zipbin import build_zip_text

        gz = gzip_text(build_zip_text([("z.log", "zip in gzip")], deflate=True))
        res = extract_document(_doc(gz))
        assert res["parse_ok"], res["error"]
        assert [s["text"] for s in res["spans"]] == ["zip in gzip"]

    @pytest.mark.parametrize(
        "mangle, err_frag",
        [
            (lambda b: b[:-1024], "missing end-of-archive"),
            (lambda b: b[:700], "multiple of 512"),
            # corrupting the name field breaks the checksum, not the magic
            (lambda b: b"X" + b[1:], "checksum mismatch"),
            (lambda b: b[:148] + b"7777777\x00" + b[156:], "checksum mismatch"),
            # second member's magic corrupted: the offset-257 sniff still
            # sees the FIRST header, so the parser reaches block 2's magic
            (lambda b: b[:1024 + 257] + b"WRONG" + b[1024 + 262:], "bad magic"),
        ],
    )
    def test_malformed_tar_is_data_not_crash(self, mangle, err_frag):
        from tika_wrap_spark.core.tarbin import build_tar

        blob = mangle(build_tar([("x.log", b"payload")]))
        res = extract_document(_doc(blob.decode("latin-1")))
        # a mangled header may no longer sniff as tar at all; either way it
        # must come back as a row, never an exception
        assert isinstance(res, dict) and "parse_ok" in res
        if "ustar" in blob[:1024].decode("latin-1", "replace"):
            assert not res["parse_ok"]
            assert err_frag in res["error"], res["error"]

    @pytest.mark.parametrize(
        "mangle, err_frag",
        [
            (lambda b: b[:-6], "truncated"),
            (lambda b: b[:10] + b"\xff\xff" + b[12:], "gzip:"),
            (lambda b: b + b"trailing!", "trailing garbage"),
        ],
    )
    def test_malformed_gzip_is_data_not_crash(self, mangle, err_frag):
        from tika_wrap_spark.core.gzipbin import gzip_bytes

        blob = mangle(gzip_bytes(b"some payload for gzip"))
        res = extract_document(_doc(blob.decode("latin-1")))
        assert not res["parse_ok"]
        assert err_frag in res["error"], res["error"]

    def test_tar_sniffs_at_offset(self):
        from tika_wrap_spark.core.sniff import sniff_kind
        from tika_wrap_spark.core.tarbin import build_tar_text

        tt = build_tar_text([("f.txt", "x")])
        assert sniff_kind(tt, "") == "tar"
        assert sniff_kind("\x1f\x8b\x08rest", "") == "gzip"
        assert sniff_kind("x" * 258 + "ustar", "") != "tar"  # wrong offset


class TestXzBz2:
    """xz / bz2 wrapper decode (core/gzipbin.py): stdlib cross-validation,
    extraction recursion (.tar.xz / .tar.bz2), malformed -> parse_ok=false,
    and the bz2 'BZh'-prefix sniffer edge (bare 'BZh' prose is TEXT)."""

    def test_roundtrip_and_stdlib_cross_validation(self):
        import bz2 as stdbz2
        import lzma as stdlzma

        from tika_wrap_spark.core.gzipbin import bz2_bytes, unbz2, unxz, xz_bytes

        data = b"wrapper payload \x00\x01" * 200
        assert unxz(xz_bytes(data)) == data
        assert stdlzma.decompress(xz_bytes(data)) == data
        assert unxz(stdlzma.compress(data, format=stdlzma.FORMAT_XZ)) == data
        assert unbz2(bz2_bytes(data)) == data
        assert stdbz2.decompress(bz2_bytes(data)) == data
        assert unbz2(stdbz2.compress(data)) == data

    def test_tar_xz_and_tar_bz2_double_recursion(self):
        from tika_wrap_spark.core.gzipbin import bz2_text, xz_text
        from tika_wrap_spark.core.tarbin import build_tar_text

        for wrap, fmt in ((xz_text, "xz"), (bz2_text, "bz2")):
            payload = wrap(build_tar_text([("inner.log", "deep %s text" % fmt)]))
            res = extract_document(_doc(payload))
            assert res["parse_ok"], res["error"]
            assert [s["text"] for s in res["spans"]] == ["deep %s text" % fmt]
            assert res["meta"]["n_containers"] == "2"
            assert res["meta"]["container_format"] == fmt

    def test_malformed_is_data_not_crash(self):
        from tika_wrap_spark.core.gzipbin import bz2_bytes, xz_bytes

        xz = xz_bytes(b"some xz payload")
        res = extract_document(_doc(xz[:-4].decode("latin-1")))
        assert not res["parse_ok"] and "xz" in res["error"]
        bz = bz2_bytes(b"some bz2 payload")
        mangled = bz[:8] + bytes([bz[8] ^ 0xFF]) + bz[9:]
        res = extract_document(_doc(mangled.decode("latin-1")))
        assert not res["parse_ok"] and "bz2" in res["error"]

    def test_sniffer_edges(self):
        from tika_wrap_spark.core.sniff import sniff_kind

        assert sniff_kind("\xfd7zXZ\x00rest", "") == "xz"
        assert sniff_kind("BZh91AY&SY...", "") == "bz2"
        assert sniff_kind("BZh", "") == "text"  # bare prefix, no level digit
        assert sniff_kind("BZhX", "") == "text"  # non-digit level


class TestOdf:
    """OpenDocument packages (ODF 1.3 §3.3): a zip whose ``mimetype``
    member carries the package media type. Tika parses these via
    OpenDocumentParser (the reference inherits them,
    /root/reference/src/java-env.cpp:313); here content.xml rides the
    generic xml-member strip and the mimetype member picks the subkind."""

    def _odf_zip(self, sub: str, content_xml: str) -> str:
        from tika_wrap_spark.core.zipbin import build_zip_text

        mime = "application/vnd.oasis.opendocument." + sub
        return build_zip_text(
            [("mimetype", mime), ("content.xml", content_xml)],
            deflate=[False, True],  # real ODF stores mimetype uncompressed
        )

    def test_odt_text_paragraphs(self):
        content = (
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            '<office:document-content '
            'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
            'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
            "<office:body><office:text>"
            '<text:p text:style-name="P1">First paragraph.</text:p>'
            "<text:p>Costs &amp; revenue, 12&#37; up.</text:p>"
            "</office:text></office:body></office:document-content>"
        )
        res = extract_document(_doc(self._odf_zip("text", content)))
        assert res["parse_ok"], res["error"]
        assert res["meta"]["container_format"] == "odf-odt"
        texts = [s["text"] for s in res["spans"] if s["kind"] == "text"]
        # generic xml strip: tag removal + entity decode + ws collapse
        assert texts == ["First paragraph. Costs & revenue, 12% up."]

    def test_mimetype_member_is_metadata_not_content(self):
        """The mimetype member must never surface as a span nor count as a
        container entry (Tika likewise treats it as package metadata)."""
        content = '<?xml version="1.0"?><office:document-content/>'
        res = extract_document(_doc(self._odf_zip("text", content)))
        assert res["parse_ok"]
        assert res["meta"]["n_container_entries"] == "1"
        assert all("opendocument" not in s["text"] for s in res["spans"])

    def test_ods_and_odp_subkinds(self):
        for sub, kind in (("spreadsheet", "odf-ods"), ("presentation", "odf-odp")):
            content = (
                '<?xml version="1.0"?><office:document-content>'
                "<office:body><text:p>cell or slide words</text:p>"
                "</office:body></office:document-content>"
            )
            res = extract_document(_doc(self._odf_zip(sub, content)))
            assert res["parse_ok"], res["error"]
            assert res["meta"]["container_format"] == kind
            assert "cell or slide words" in [s["text"] for s in res["spans"]]

    def test_unknown_opendocument_subtype(self):
        res = extract_document(
            _doc(self._odf_zip("graphics", "<office:document-content/>"))
        )
        assert res["parse_ok"]
        assert res["meta"]["container_format"] == "odf-other"

    def test_plain_zip_with_nonmarker_mimetype_stays_zip(self):
        """A mimetype member whose payload is not an opendocument type must
        not trigger the ODF route (and still emits as a member)."""
        from tika_wrap_spark.core.zipbin import build_zip_text

        zt = build_zip_text(
            [("mimetype", "text/plain"), ("a.log", "ordinary words")]
        )
        res = extract_document(_doc(zt))
        assert res["parse_ok"]
        assert res["meta"]["container_format"] == "zip"
        assert res["meta"]["n_container_entries"] == "2"
        assert "text/plain" in [s["text"] for s in res["spans"]]

    def test_corpus_odf_slice_roundtrip(self):
        """Every generated ODF shape extracts green with the right subkind."""
        import random

        from tika_wrap_spark.corpus import _ODF_MIMES, _gen_odf_content_xml

        rng = random.Random(7)
        for sub in ("odt", "ods", "odp"):
            res = extract_document(
                _doc(self._odf_zip(_ODF_MIMES[sub].rsplit(".", 1)[1],
                                   _gen_odf_content_xml(rng, sub)))
            )
            assert res["parse_ok"], res["error"]
            assert res["meta"]["container_format"] == "odf-" + sub
            assert any(s["text"] for s in res["spans"])


class TestEpub:
    """EPUB OCF packages: zip + stored-first ``mimetype`` =
    application/epub+zip; chapter xhtml members route through the REAL
    html extractor (Tika's EpubParser analog)."""

    def test_epub_chapters_extract_as_html(self):
        from tika_wrap_spark.core.zipbin import build_zip_text

        chapter = (
            "<html><head><title>Ch 1</title></head><body>"
            "<p>This is a long enough paragraph of real chapter content "
            "that the text-density keep rule retains it in full.</p>"
            "</body></html>"
        )
        zt = build_zip_text(
            [("mimetype", "application/epub+zip"),
             ("OEBPS/chapter1.xhtml", chapter)],
            deflate=[False, True],
        )
        res = extract_document(_doc(zt))
        assert res["parse_ok"], res["error"]
        assert res["meta"]["container_format"] == "epub"
        assert res["meta"]["n_container_entries"] == "1"  # mimetype excluded
        assert int(res["meta"]["n_html_blocks"]) >= 1
        assert any("real chapter content" in s["text"] for s in res["spans"])
        assert res["meta"]["html_title"] == "Ch 1"

    def test_corpus_epub_roundtrip(self):
        import random

        from tika_wrap_spark.corpus import _gen_epub_payload

        rng = random.Random(11)
        for _ in range(5):
            res = extract_document(_doc(_gen_epub_payload(rng)))
            assert res["parse_ok"], res["error"]
            assert res["meta"]["container_format"] == "epub"


class TestXps:
    """XPS/OpenXPS (ECMA-388): an OPC zip whose page text lives in
    Glyphs/@UnicodeString ATTRIBUTES — the generic element-text strip
    yields nothing for .fpage members, so extraction reads the attributes
    (Tika's XPSParser analog). Detection keys on .fdseq/.fpage member
    names and must BEAT the OOXML-marker rule (a real .xps also carries
    [Content_Types].xml)."""

    def _xps_zip(self, fpages: list[str], with_marker: bool = True) -> str:
        from tika_wrap_spark.core.zipbin import build_zip_text

        entries = []
        if with_marker:
            entries.append(("[Content_Types].xml", '<?xml version="1.0"?><Types/>'))
        entries.append(
            (
                "FixedDocumentSequence.fdseq",
                '<FixedDocumentSequence><DocumentReference '
                'Source="/Documents/1/FixedDocument.fdoc" />'
                "</FixedDocumentSequence>",
            )
        )
        entries.append(
            (
                "Documents/1/FixedDocument.fdoc",
                "<FixedDocument>"
                + "".join(
                    '<PageContent Source="/Documents/1/Pages/%d.fpage" />' % (i + 1)
                    for i in range(len(fpages))
                )
                + "</FixedDocument>",
            )
        )
        for i, fp in enumerate(fpages):
            entries.append(("Documents/1/Pages/%d.fpage" % (i + 1), fp))
        return build_zip_text(entries)

    def test_glyphs_attribute_text(self):
        fpage = (
            '<FixedPage xmlns="http://schemas.microsoft.com/xps/2005/06">'
            '<Glyphs OriginX="10" UnicodeString="Hello XPS page" />'
            '<Glyphs UnicodeString="costs &amp; revenue" OriginY="60" />'
            "<Path Data=\"M 0,0\" /></FixedPage>"
        )
        res = extract_document(_doc(self._xps_zip([fpage])))
        assert res["parse_ok"], res["error"]
        assert res["meta"]["container_format"] == "xps"
        texts = [s["text"] for s in res["spans"]]
        assert "Hello XPS page\ncosts & revenue" in texts

    def test_xps_beats_ooxml_marker(self):
        # [Content_Types].xml present AND .fpage members -> xps, not ooxml
        fpage = '<FixedPage><Glyphs UnicodeString="x" /></FixedPage>'
        res = extract_document(_doc(self._xps_zip([fpage], with_marker=True)))
        assert res["meta"]["container_format"] == "xps"

    def test_structure_members_never_surface(self):
        # fdseq/fdoc are package structure: not spans, not counted
        fpage = '<FixedPage><Glyphs UnicodeString="only this" /></FixedPage>'
        res = extract_document(_doc(self._xps_zip([fpage], with_marker=False)))
        assert res["meta"]["n_container_entries"] == "1"
        assert [s["text"] for s in res["spans"]] == ["only this"]

    def test_brace_escape_and_quotes(self):
        # the '{}' literal-brace escape strips; single-quoted attrs parse
        fpage = (
            "<FixedPage><Glyphs UnicodeString='{}literal {braces} text' />"
            "</FixedPage>"
        )
        res = extract_document(_doc(self._xps_zip([fpage], with_marker=False)))
        assert [s["text"] for s in res["spans"]] == ["literal {braces} text"]

    def test_corpus_xps_roundtrip(self):
        import random

        from tika_wrap_spark.corpus import _gen_xps_fpage
        from tika_wrap_spark.core.zipbin import build_zip_text

        rng = random.Random(17)
        for _ in range(5):
            zt = build_zip_text(
                [
                    ("FixedDocumentSequence.fdseq", "<FixedDocumentSequence/>"),
                    ("Documents/1/Pages/1.fpage", _gen_xps_fpage(rng)),
                ]
            )
            res = extract_document(_doc(zt))
            assert res["parse_ok"], res["error"]
            assert res["meta"]["container_format"] == "xps"
            assert res["spans"] and all(
                "<" not in s["text"] for s in res["spans"]
            )
