"""Real binary PDF parsing (core/pdfbin.py) — golden round-trips, xref
variants, font decoding, and the malformed-input taxonomy.

The reference hands real PDFs to Tika over ``PUT /tika``
(/root/reference/src/java-env.cpp:313) and appends the returned text in
reading order (:268-271); these tests pin the rebuild's native parser to
the same observable: reading-order text per page.
"""

from __future__ import annotations

import re
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tika_wrap_spark.core.errors import ExtractError
from tika_wrap_spark.core.extract import extract_document
from tika_wrap_spark.core.pdf import pages_to_texts
from tika_wrap_spark.core.pdfbin import (
    RealPdf,
    build_pdf,
    build_pdf_text,
    is_real_pdf_text,
    parse_real_pdf,
)

PAGES = [
    [
        (72.0, 700.0, "Hello world"),
        (72.0, 688.0, "Second line"),
        (90.0, 676.0, "Unicode — déjà (vu) \\ backslash"),
    ],
    [(72.0, 700.0, "Page two here")],
]


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"flate": False},
        {"tj_arrays": True},
        {"use_tm": True},
        {"xref_stream": True},
        {"xref_stream": True, "tj_arrays": True, "use_tm": True},
    ],
    ids=["flate", "plain", "tj", "tm", "xrefstm", "xrefstm-tj-tm"],
)
def test_builder_roundtrip(kw):
    data = build_pdf(PAGES, **kw)
    assert data.startswith(b"%PDF-")
    got = pages_to_texts(parse_real_pdf(data)[0])
    assert got == pages_to_texts(PAGES)


def test_layout_reorder_shuffled_appearance():
    # runs emitted bottom-up and right-to-left must come back reading-order
    shuffled = [[(200.0, 100.0, "dddd"), (72.0, 100.0, "cccc"),
                 (150.0, 400.0, "bbbb"), (72.0, 400.0, "aaaa")]]
    got = pages_to_texts(parse_real_pdf(build_pdf(shuffled))[0])
    # same y -> one assembled line, x ascending; higher y first
    assert got == ["aaaabbbb\nccccdddd"]


def test_incremental_update_prev_chain():
    base = build_pdf([[(72.0, 700.0, "original text")]])
    prev_xref = int(re.search(rb"startxref\s+(\d+)", base).group(1))
    body = b"BT /F1 12 Tf 72 700 Td (updated text) Tj ET"
    comp = zlib.compress(body, 6)
    upd = bytearray(base)
    off5 = len(upd)
    upd += (
        b"5 0 obj\n<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream\nendobj\n"
        % (len(comp), comp)
    )
    xref2 = len(upd)
    upd += (
        b"xref\n0 1\n0000000000 65535 f \n5 1\n%010d 00000 n \n"
        b"trailer\n<< /Size 6 /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
        % (off5, prev_xref, xref2)
    )
    assert pages_to_texts(parse_real_pdf(bytes(upd))[0]) == ["updated text"]


def _classic_doc(objs: dict[int, bytes]) -> bytes:
    doc = bytearray(b"%PDF-1.4\n")
    offs = {}
    for num in sorted(objs):
        offs[num] = len(doc)
        doc += b"%d 0 obj\n%s\nendobj\n" % (num, objs[num])
    xref_off = len(doc)
    maxn = max(objs)
    doc += b"xref\n0 %d\n0000000000 65535 f \n" % (maxn + 1)
    for num in range(1, maxn + 1):
        doc += b"%010d 00000 n \n" % offs.get(num, 0)
    doc += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (maxn + 1, xref_off)
    )
    return bytes(doc)


def test_differences_encoding():
    content = b"BT /F1 10 Tf 72 700 Td (AB ab \\100) Tj ET"
    doc = _classic_doc(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: b"<< /Type /Page /Parent 2 0 R /Resources << /Font "
               b"<< /F1 4 0 R >> >> /Contents 5 0 R >>",
            4: b"<< /Type /Font /Subtype /Type1 /BaseFont /Custom /Encoding "
               b"<< /BaseEncoding /WinAnsiEncoding /Differences "
               b"[65 /bullet /endash 97 /Euro] >> >>",
            5: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        }
    )
    # A->bullet, B->endash, a->Euro; b and the octal-escaped @ pass through
    assert pages_to_texts(parse_real_pdf(doc)[0]) == ["•– €b @"]


def test_inherited_resources_and_hex_strings():
    content = b"BT /F1 9 Tf 72 700 Td <48656C6C6F> Tj ET"
    doc = _classic_doc(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            # Resources on the Pages NODE, inherited by the kid
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /Resources "
               b"<< /Font << /F1 4 0 R >> >> >>",
            3: b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
            4: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
            5: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        }
    )
    assert pages_to_texts(parse_real_pdf(doc)[0]) == ["Hello"]


def test_objstm_and_xref_stream():
    inner = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>"),
    ]
    header = b""
    body = b""
    for num, payload in inner:
        header += b"%d %d " % (num, len(body))
        body += payload + b" "
    stm = header + body
    comp = zlib.compress(stm, 6)
    doc = bytearray(b"%PDF-1.5\n")
    offs = {}
    offs[4] = len(doc)
    doc += (
        b"4 0 obj\n<< /Type /ObjStm /N 3 /First %d /Length %d /Filter /FlateDecode >>"
        b"\nstream\n%s\nendstream\nendobj\n" % (len(header), len(comp), comp)
    )
    content = b"BT 72 700 Td (from objstm) Tj ET"
    offs[5] = len(doc)
    doc += b"5 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n" % (
        len(content),
        content,
    )
    rows = bytearray()
    rows += bytes([0]) + (0).to_bytes(4, "big") + (0xFFFF).to_bytes(2, "big")
    for n in (1, 2, 3):
        idx = [i for i, (nn, _) in enumerate(inner) if nn == n][0]
        rows += bytes([2]) + (4).to_bytes(4, "big") + idx.to_bytes(2, "big")
    for n in (4, 5):
        rows += bytes([1]) + offs[n].to_bytes(4, "big") + (0).to_bytes(2, "big")
    xref_off = len(doc)
    rows += bytes([1]) + xref_off.to_bytes(4, "big") + (0).to_bytes(2, "big")

    # variant A: plain flate xref stream
    comp2 = zlib.compress(bytes(rows), 6)
    doc_a = bytes(doc) + (
        b"6 0 obj\n<< /Type /XRef /Size 7 /W [1 4 2] /Root 1 0 R /Filter /FlateDecode"
        b" /Length %d >>\nstream\n%s\nendstream\nendobj\nstartxref\n%d\n%%%%EOF\n"
        % (len(comp2), comp2, xref_off)
    )
    assert pages_to_texts(parse_real_pdf(doc_a)[0]) == ["from objstm"]

    # variant B: PNG Up predictor (12) on the xref stream
    rowlen = 7
    pred = bytearray()
    prev = bytes(rowlen)
    raw = bytes(rows)
    for i in range(0, len(raw), rowlen):
        row = raw[i : i + rowlen]
        pred.append(2)
        pred += bytes((row[k] - prev[k]) & 0xFF for k in range(rowlen))
        prev = row
    comp3 = zlib.compress(bytes(pred), 6)
    doc_b = bytes(doc) + (
        b"6 0 obj\n<< /Type /XRef /Size 7 /W [1 4 2] /Root 1 0 R /Filter /FlateDecode"
        b" /DecodeParms << /Predictor 12 /Columns 7 >> /Length %d >>"
        b"\nstream\n%s\nendstream\nendobj\nstartxref\n%d\n%%%%EOF\n"
        % (len(comp3), comp3, xref_off)
    )
    assert pages_to_texts(parse_real_pdf(doc_b)[0]) == ["from objstm"]


def test_asciihex_filter_and_indirect_length():
    content = b"BT 72 700 Td (hex filtered) Tj ET"
    hx = content.hex().encode("ascii") + b">"
    doc = _classic_doc(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
            # /Length indirect (obj 6) — resolved lazily or endstream-scanned
            5: b"<< /Length 6 0 R /Filter /ASCIIHexDecode >>\nstream\n%s\nendstream" % hx,
            6: b"%d" % len(hx),
        }
    )
    assert pages_to_texts(parse_real_pdf(doc)[0]) == ["hex filtered"]


MALFORMED = [
    (b"not a pdf at all", "missing %PDF- header"),
    (b"%PDF-1.4\nno pointer here", "missing startxref"),
    (b"%PDF-1.4\ngarbage\nstartxref\n9\n%%EOF\n", "neither table nor stream"),
    (
        b"%PDF-1.4\nxref\n0 banana\ntrailer\n<< >>\nstartxref\n9\n%%EOF\n",
        "malformed xref",
    ),
]


@pytest.mark.parametrize("data,frag", MALFORMED, ids=[f[:18] for _, f in MALFORMED])
def test_malformed_raises_extract_error(data, frag):
    with pytest.raises(ExtractError) as ei:
        parse_real_pdf(data)
    assert frag in str(ei.value)


def test_dangling_xref_pointer_is_data_row():
    pdf = build_pdf_text([[(72.0, 700.0, "doomed")]])
    bad = pdf[: pdf.rfind("startxref")] + "startxref\n999999999\n%%EOF\n"
    res = extract_document([{"kind": "pdf", "text": bad, "media_ref": "", "offset": 0}])
    assert not res["parse_ok"]
    assert "pdf:" in res["error"]


def test_cyclic_page_tree_raises():
    doc = _classic_doc(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [2 0 R] /Count 1 >>",
        }
    )
    with pytest.raises(ExtractError, match="cyclic page tree"):
        parse_real_pdf(doc)


def test_flate_bomb_capped():
    # content stream inflating to 80 MiB: must raise the cap, not OOM
    comp = zlib.compress(b"\x00" * (80 * 1024 * 1024), 9)
    doc = _classic_doc(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
            5: b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
            % (len(comp), comp),
        }
    )
    with pytest.raises(ExtractError, match="pdf: inflated payload exceeds 67108864 bytes"):
        parse_real_pdf(doc)


def test_routing_discriminator():
    assert is_real_pdf_text(build_pdf_text([[(72.0, 700.0, "x")]]))
    assert not is_real_pdf_text("%PDF-1.4\n%%Page: 1\nBT 72.0 700.0 Td (x) Tj ET\n%%EOF")


def test_extraction_integration_real_vs_dialect():
    # the SAME logical runs through both serializations extract identically
    runs = [[(72.0, 700.0, "alpha beta"), (72.0, 688.0, "gamma")]]
    real = build_pdf_text(runs, xref_stream=True)
    dialect = "%PDF-1.4\n%%Page: 1\n" + "\n".join(
        "BT %.1f %.1f Td (%s) Tj ET" % (x, y, t) for x, y, t in runs[0]
    ) + "\n%%EOF"
    r1 = extract_document([{"kind": "pdf", "text": real, "media_ref": "", "offset": 0}])
    r2 = extract_document([{"kind": "pdf", "text": dialect, "media_ref": "", "offset": 0}])
    assert r1["parse_ok"] and r2["parse_ok"]
    assert [s["text"] for s in r1["spans"]] == [s["text"] for s in r2["spans"]]
    assert r1["meta"]["n_pdf_pages"] == r2["meta"]["n_pdf_pages"] == "1"
    assert r1["meta"]["pdf_page1_w"] == r2["meta"]["pdf_page1_w"]


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_fuzz_never_raises_foreign(junk):
    """%PDF- + arbitrary bytes: ExtractError or a clean parse, never any
    other exception — the parse_ok=false contract depends on it."""
    data = b"%PDF-1.4\n" + junk
    try:
        parse_real_pdf(data)
    except ExtractError:
        pass


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.lists(
            st.tuples(
                st.floats(0, 600, allow_nan=False),
                st.floats(0, 780, allow_nan=False),
                st.text(
                    st.characters(min_codepoint=32, max_codepoint=0xFF),
                    min_size=1,
                    max_size=40,
                ),
            ),
            min_size=0,
            max_size=6,
        ),
        min_size=1,
        max_size=3,
    ),
    st.booleans(),
    st.booleans(),
)
def test_fuzz_builder_roundtrip(pages, flate, xref_stream):
    """Any cp1252-encodable page set survives the build -> parse -> reorder
    round trip exactly (unencodable chars degrade via 'replace' and are
    excluded by construction; y values dedupe per page because the real
    parser assembles same-y shows into one text line — the merge is the
    point of line assembly, not a bug)."""
    clean = []
    for page in pages:
        seen_y: set[float] = set()
        rows = []
        for x, y, t in page:
            # quantize through the builder's own %.4f serialization first,
            # so "distinct" ys that collapse in the file dedupe here too
            x = float("%.4f" % x)
            y = float("%.4f" % y)
            if y in seen_y:
                continue
            seen_y.add(y)
            rows.append((x, y, t.encode("cp1252", "replace").decode("cp1252")))
        clean.append(rows)
    data = build_pdf(clean, flate=flate, xref_stream=xref_stream)
    got = pages_to_texts(parse_real_pdf(data)[0])
    assert got == pages_to_texts(clean)


# ---------------------------------------------------------------------------
# Type0/CID composite fonts + /ToUnicode CMaps (round 5)
# ---------------------------------------------------------------------------

CID_PAGES = [
    [
        (72.0, 700.0, "日本語のテキスト抽出"),
        (72.0, 688.0, "кириллица и Ωμέγα"),
        (90.0, 676.0, "mixed ascii + é ü € — run"),
    ],
    [(72.0, 700.0, "한국어 문서 second page")],
]


@pytest.mark.parametrize(
    "kw",
    [
        {"cid": True},
        {"cid": True, "tj_arrays": True},
        {"cid": True, "xref_stream": True},
        {"cid": True, "flate": False},
        {"cid": True, "cid_tounicode": False},
    ],
    ids=["tounicode", "tj", "xrefstm", "plain", "identity-fallback"],
)
def test_cid_builder_roundtrip(kw):
    """Identity-H Type0 fonts: dense-code + ToUnicode CMap variants must
    reconstruct the exact unicode text; the no-ToUnicode variant rides the
    raw-codepoint (cid==unicode) fallback."""
    data = build_pdf(CID_PAGES, **kw)
    got = pages_to_texts(parse_real_pdf(data)[0])
    assert got == pages_to_texts(CID_PAGES)


def test_cid_tounicode_cmap_has_bfrange_and_bfchar():
    """The generated CMap must genuinely exercise BOTH mapping forms:
    sorted contiguous codepoints (ascii runs) become bfrange rows, isolated
    chars become bfchar rows."""
    from tika_wrap_spark.core.pdfbin import _build_tounicode_cmap

    code_of = {ch: k + 1 for k, ch in enumerate(sorted("abcdefg日本語€"))}
    cmap = _build_tounicode_cmap(code_of)
    assert b"beginbfrange" in cmap and b"beginbfchar" in cmap
    # and the parser reads its own builder's output back exactly
    from tika_wrap_spark.core.pdfbin import parse_cmap

    cm = parse_cmap(cmap)
    for ch, code in code_of.items():
        assert cm.lookup_bf(code) == ch


def test_parse_cmap_bfrange_array_and_multichar_dst():
    """bfrange with an array destination (one dst per code) and bfchar
    with a multi-code-unit destination (ligature expansion) both decode."""
    from tika_wrap_spark.core.pdfbin import parse_cmap

    cmap = b"""
begincmap
1 begincodespacerange
<0000> <ffff>
endcodespacerange
1 beginbfchar
<0010> <00660066006c>
endbfchar
1 beginbfrange
<0020> <0022> [<0041> <0394> <4e2d>]
endbfrange
endcmap
"""
    cm = parse_cmap(cmap)
    assert cm.lookup_bf(0x10) == "ffl"
    assert cm.lookup_bf(0x20) == "A"
    assert cm.lookup_bf(0x21) == "Δ"
    assert cm.lookup_bf(0x22) == "中"
    assert cm.lookup_bf(0x23) is None


def test_embedded_encoding_cmap_variable_code_length():
    """An embedded /Encoding CMap stream with MIXED 1-byte and 2-byte
    codespaces: the decoder must take code length from the codespace
    ranges, and map code->CID->chr via cidrange/cidchar when there is no
    ToUnicode."""
    from tika_wrap_spark.core.pdfbin import FontDecoder, Name

    enc = b"""
begincmap
2 begincodespacerange
<20> <7e>
<8140> <9ffc>
endcodespacerange
1 begincidrange
<41> <5a> 913
endcidrange
2 begincidchar
<21> 8364
<8140> 26085
endcidchar
endcmap
"""
    fd = FontDecoder({"Subtype": Name("Type0"), "Encoding": ({}, enc)}, lambda x: x)
    # 'A''B' -> greek via cidrange; '!' -> euro; 0x8140 (2-byte) -> 日
    assert fd.decode(b"AB!\x81\x40") == "ΑΒ€日"


def test_simple_font_tounicode_overrides_encoding():
    """A simple (single-byte) font whose /ToUnicode remaps codes must use
    the CMap over the base encoding — subset fonts from office exporters
    depend on this."""
    from tika_wrap_spark.core.pdfbin import FontDecoder, Name

    cmap = b"""
begincmap
1 begincodespacerange
<00> <ff>
endcodespacerange
2 beginbfchar
<41> <0394>
<42> <00e9>
endbfchar
1 beginbfrange
<61> <63> <03b1>
endbfrange
endcmap
"""
    fd = FontDecoder(
        {"Subtype": Name("TrueType"), "ToUnicode": ({}, cmap)}, lambda x: x
    )
    assert fd.decode(b"AaBbc!") == "Δαéβγ!"


def test_cid_extraction_integration():
    """A CID PDF through the full extract_document path: parse_ok, text
    carries the non-Latin content, dialect docs unaffected."""
    text = build_pdf_text(CID_PAGES, cid=True)
    row = extract_document(
        [{"kind": "pdf", "text": text, "media_ref": "", "offset": 0}]
    )
    assert row["parse_ok"], row.get("error")
    joined = "\n".join(s["text"] for s in row["spans"])
    assert "日本語のテキスト抽出" in joined
    assert "кириллица и Ωμέγα" in joined
    assert "한국어 문서 second page" in joined


def test_cid_malformed_tounicode_falls_back_not_raises():
    """A corrupt /ToUnicode stream must not fail the document: the decoder
    drops to the identity fallback (here codes==codepoints would be wrong,
    but parse_ok must hold and output stays deterministic)."""
    data = build_pdf(CID_PAGES, cid=True)
    # corrupt the flate body of the ToUnicode stream object
    i = data.rindex(b"/FlateDecode")
    j = data.index(b"stream\n", i) + len(b"stream\n")
    bad = data[:j] + b"\x00\x00\x00\x00" + data[j + 4 :]
    # the ToUnicode is the LAST FlateDecode object; content streams come
    # earlier, so pages still parse
    pages = parse_real_pdf(bad)[0]
    assert len(pages) == len(CID_PAGES)
    assert all(isinstance(t, str) for p in pages for _x, _y, t in p)


# ---------------------------------------------------------------------------
# encryption (standard security handler, RC4)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "enc",
    ["rc4-40", "rc4-128", "aes-128", "aes-256"],
    ids=["v1r2-40", "v2r3-128", "v4r4-aesv2", "v5r6-aes256"],
)
@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"flate": False},
        {"xref_stream": True, "tj_arrays": True},
        {"cid": True},
        {"cid": True, "cid_tounicode": False},
    ],
    ids=["flate", "plain", "xrefstm-tj", "cid", "cid-raw"],
)
def test_encrypted_roundtrip(enc, kw):
    """Empty-user-password RC4 documents open transparently and extract
    the identical runs as their plaintext twins (per-object keys, stream
    + string decryption through every serialization variant)."""
    pages = CID_PAGES if kw.get("cid") else PAGES
    got = parse_real_pdf(build_pdf(pages, encrypt=enc, **kw))[0]
    assert got == parse_real_pdf(build_pdf(pages, **kw))[0]


def test_encrypted_ciphertext_is_opaque():
    """The uncompressed encrypted build must not leak plaintext content."""
    data = build_pdf(PAGES, encrypt="rc4-40", flate=False)
    assert b"Hello world" not in data
    assert b"(Hello" not in data
    # but the plaintext twin does carry it (sanity of the probe itself)
    assert b"Hello world" in build_pdf(PAGES, flate=False)


def test_encrypted_password_required_raises():
    data = build_pdf(PAGES, encrypt="rc4-128", encrypt_user_pw=b"secret")
    with pytest.raises(ExtractError, match=r"pdf: encrypted \(password required\)"):
        parse_real_pdf(data)


def test_encrypted_unknown_v_raises():
    """An unknown /V value is the declared unsupported seam — same-length
    byte patch keeps every xref offset valid. (/V 4 itself is SUPPORTED
    now via crypt filters; a bare /V 4 with R 3 and no /CF is malformed
    and also raises.)"""
    data = build_pdf(PAGES, encrypt="rc4-128")
    with pytest.raises(ExtractError, match="pdf: encrypted .unsupported"):
        parse_real_pdf(data.replace(b"/V 2", b"/V 7"))
    with pytest.raises(ExtractError, match="pdf: encrypted .unsupported"):
        parse_real_pdf(data.replace(b"/V 2", b"/V 4"))  # R3, no /CF


def test_encrypted_through_extraction_policy():
    """Both encrypted outcomes ride the error policy: transparent-open
    docs extract parse_ok=true with text intact; password-required docs
    become parse_ok=false rows, never raises."""
    ok = extract_document(
        [{"kind": "pdf", "text": build_pdf_text(PAGES, encrypt="rc4-128"),
          "media_ref": "", "offset": 0}]
    )
    assert ok["parse_ok"] and any("Hello world" in s["text"] for s in ok["spans"])
    locked = extract_document(
        [{"kind": "pdf",
          "text": build_pdf_text(PAGES, encrypt="rc4-40", encrypt_user_pw=b"pw"),
          "media_ref": "", "offset": 0}]
    )
    assert not locked["parse_ok"]
    assert locked["error"].startswith("pdf: encrypted")


# ---------------------------------------------------------------------------
# stream filters: LZWDecode / RunLengthDecode / ASCII85Decode
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("cf", ["lzw", "rle", "a85"], ids=str)
def test_filter_variants_roundtrip(cf):
    """Content streams through each additional filter (and the
    [/ASCII85Decode /FlateDecode] chain) parse identically to flate."""
    ref = parse_real_pdf(build_pdf(PAGES))[0]
    assert parse_real_pdf(build_pdf(PAGES, content_filter=cf))[0] == ref
    # filters compose with encryption (decrypt first, then unfilter)
    assert (
        parse_real_pdf(build_pdf(PAGES, content_filter=cf, encrypt="rc4-40"))[0]
        == ref
    )


@given(st.binary(max_size=4000))
@settings(max_examples=60, deadline=None)
def test_lzw_rle_codec_roundtrip(data):
    from tika_wrap_spark.core.pdfbin import (
        _lzw_decode,
        _lzw_encode,
        _rle_decode,
        _rle_encode,
    )

    assert _lzw_decode(_lzw_encode(data)) == data
    assert _rle_decode(_rle_encode(data)) == data


def test_lzw_table_full_clear_and_earlychange0():
    from tika_wrap_spark.core.pdfbin import _lzw_decode, _lzw_encode

    # incompressible-ish input long enough to fill the 12-bit table and
    # force a mid-stream CLEAR restart
    big = bytes((i * 7 + (i >> 3)) % 256 for i in range(120000))
    assert _lzw_decode(_lzw_encode(big)) == big
    assert _lzw_decode(_lzw_encode(big, early=0), early=0) == big


def test_rle_truncated_raises():
    from tika_wrap_spark.core.pdfbin import _rle_decode

    with pytest.raises(ExtractError, match="RunLength"):
        _rle_decode(b"\x7f" + b"ab")  # literal run of 128 with 2 bytes

    with pytest.raises(ExtractError, match="RunLength"):
        _rle_decode(b"\x81")  # repeat record missing its byte


def test_pdf_crypt_meta_key():
    """The crypt method that protected a document surfaces as meta
    'pdf_crypt' ('' plain, rc4, aesv2, aesv3) — the pdf_security_stats
    observability surface."""
    for enc, want in (
        (None, ""),
        ("rc4-40", "rc4"),
        ("rc4-128", "rc4"),
        ("aes-128", "aesv2"),
        ("aes-256", "aesv3"),
    ):
        r = extract_document(
            [{"kind": "pdf", "text": build_pdf_text(PAGES, encrypt=enc),
              "media_ref": "", "offset": 0}]
        )
        assert r["parse_ok"] and r["meta"]["pdf_crypt"] == want, (enc, r)


@pytest.mark.parametrize("enc", ["rc4-128", "aes-128", "aes-256"], ids=str)
def test_encrypted_bitflips_ride_the_policy(enc):
    """Corrupt bytes anywhere in an encrypted document produce either a
    (garbled) parse or an ExtractError — never a foreign exception
    escaping the extraction policy."""
    data = bytearray(build_pdf(PAGES, encrypt=enc))
    step = max(1, len(data) // 40)
    for pos in range(0, len(data), step):
        mut = bytes(data[:pos]) + bytes([data[pos] ^ 0x5A]) + bytes(data[pos + 1 :])
        r = extract_document(
            [{"kind": "pdf", "text": mut.decode("latin-1"), "media_ref": "", "offset": 0}]
        )
        assert isinstance(r["parse_ok"], bool)
        if not r["parse_ok"]:
            assert r["error"]


def test_lzw_tail_boundary():
    """A stream whose LAST table add lands exactly one below a width
    boundary (decoder's catch-up add then widens before reading EOD) —
    the 1-in-~1700 case the 1M soak caught: the encoder must pre-widen
    before writing EOD."""
    import random

    from tika_wrap_spark.core.pdfbin import _lzw_decode, _lzw_encode

    rng = random.Random(2)
    for base in (510, 1022, 2046):
        for n in range(base - 4, base + 5):
            for t in range(8):
                d = bytes(rng.randrange(256) for _ in range(n))
                assert _lzw_decode(_lzw_encode(d)) == d, (base, n, t)


def test_r6_kdf_constants():
    """The precomputed fixed-salt KDF literals (finding 26: module DATA is
    the only per-task-free cache under pyspark 4's no-reuse workers) must
    equal a fresh Algorithm 2.B derivation."""
    from tika_wrap_spark.core.pdfbin import (
        _B_KSALT,
        _B_OKSALT,
        _B_OVSALT,
        _B_VSALT,
        _KDF_PRECOMPUTED,
        _hash_2b,
    )

    def derive(pw, salt, udata):
        import hashlib

        from tika_wrap_spark.core.aes import cbc_encrypt

        k = hashlib.sha256(pw + salt + udata).digest()
        rounds = 0
        while True:
            k1 = (pw + k + udata) * 64
            e = cbc_encrypt(k[:16], k[16:32], k1)
            k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[sum(e[:16]) % 3](
                e
            ).digest()
            rounds += 1
            if rounds >= 64 and e[-1] <= rounds - 32:
                break
        return k[:32]

    for (pw, salt, udata), want in _KDF_PRECOMPUTED.items():
        assert derive(pw, salt, udata) == want
        assert _hash_2b(pw, salt, udata) == want
    # the four corpus keys are present
    u = _KDF_PRECOMPUTED[(b"", _B_VSALT, b"")] + _B_VSALT + _B_KSALT
    assert (b"owner-secret", _B_OVSALT, u) in _KDF_PRECOMPUTED
    assert (b"owner-secret", _B_OKSALT, u) in _KDF_PRECOMPUTED


@pytest.mark.parametrize("enc", ["aes-128", "aes-256"], ids=str)
def test_stmf_identity_selector(enc):
    """/StmF /Identity leaves streams plaintext while strings stay
    encrypted through /StrF /StdCF — the per-class crypt-filter selector
    corner of /V 4-5 (spec default for both selectors is Identity)."""
    data = build_pdf(PAGES, encrypt=enc, encrypt_stmf_identity=True)
    assert b"/StmF /Identity" in data
    assert parse_real_pdf(data)[0] == parse_real_pdf(build_pdf(PAGES))[0]


def test_unknown_named_crypt_filter_raises():
    data = build_pdf(PAGES, encrypt="aes-128")
    # same-length patch: /StmF /StdCF -> /StmF /Bogus (5 chars -> pad)
    bad = data.replace(b"/StmF /StdCF", b"/StmF /Bogul")
    with pytest.raises(ExtractError, match="unsupported /StmF"):
        parse_real_pdf(bad)


# ---------------------------------------------------------------------------
# /EmbeddedFiles attachments (late r5): PDF 32000-1 §7.7.4/§7.11.4 —
# Tika recurses these as embedded documents
# ---------------------------------------------------------------------------

_ATTS = [("notes.txt", b"attached note body\nsecond line"), ("table.csv", b"a,b\n1,2")]


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"encrypt": "rc4-128"},
        {"encrypt": "aes-128"},
        {"encrypt": "aes-256"},
        {"xref_stream": True, "cid": True},
    ],
    ids=str,
)
def test_embedded_files_roundtrip(kw):
    wire = build_pdf(PAGES, attachments=_ATTS, **kw)
    pages, _crypt, atts, _an, _ff, _ti, _toc = parse_real_pdf(wire)
    assert pages == parse_real_pdf(build_pdf(PAGES, **kw))[0]
    # name-tree keys are lexically ordered
    assert [n for n, _ in atts] == ["notes.txt", "table.csv"] or [
        n for n, _ in atts
    ] == ["table.csv", "notes.txt"]
    got = dict(atts)
    assert got["notes.txt"] == b"attached note body\nsecond line"
    assert got["table.csv"] == b"a,b\n1,2"


def test_no_attachments_is_empty():
    assert parse_real_pdf(build_pdf(PAGES))[2] == []


def test_extraction_recurses_attachments():
    pdf = build_pdf(PAGES, attachments=_ATTS).decode("latin-1")
    res = extract_document([{"kind": "pdf", "text": pdf, "media_ref": "", "offset": 0}])
    assert res["parse_ok"]
    assert res["meta"]["container_format"] == "pdf-attach"
    assert res["meta"]["n_containers"] == "1"
    assert res["meta"]["n_container_entries"] == "2"
    texts = [s["text"] for s in res["spans"]]
    assert "attached note body\nsecond line" in texts  # text member
    assert any(t.startswith("a,b") for t in texts)  # csv member


def test_malformed_filespec_degrades_not_raises():
    data = build_pdf(PAGES, attachments=_ATTS)
    # corrupt one embedded stream's flate payload: that attachment drops,
    # the other survives, the pages still extract
    idx = data.find(b"/Type /EmbeddedFile")
    start = data.find(b"stream\n", idx) + 7
    bad = bytearray(data)
    bad[start : start + 4] = b"\x00\x00\x00\x00"
    pages, _c, atts, _an, _ff, _ti, _toc = parse_real_pdf(bytes(bad))
    assert pages and len(atts) == 1


# ---------------------------------------------------------------------------
# /Annots, /AcroForm, XMP /Metadata (late r5): the beyond-page-text
# surfaces Tika's PDFParser emits
# ---------------------------------------------------------------------------

_EXTRAS = dict(
    annotations=[(0, "margin note one"), (0, "second note")],
    form_fields=[("author", "Ana"), ("status", "approved")],
    xmp_title="Quarterly <Report> & Summary",
    outlines=[(0, "Intro"), (1, "Scope"), (0, "Body")],
)


@pytest.mark.parametrize(
    "kw", [{}, {"encrypt": "rc4-128"}, {"encrypt": "aes-256"}, {"xref_stream": True}],
    ids=str,
)
def test_annots_fields_xmp_roundtrip(kw):
    wire = build_pdf(PAGES, **_EXTRAS, **kw)
    pages, _c, _atts, annots, fields, title, toc = parse_real_pdf(wire)
    assert pages == parse_real_pdf(build_pdf(PAGES, **kw))[0]
    assert annots == ["margin note one", "second note"]
    assert fields == [("author", "Ana"), ("status", "approved")]
    assert title == "Quarterly <Report> & Summary"  # entity roundtrip
    assert toc == ["Intro", "Scope", "Body"]  # pre-order: child after parent


def test_annotations_are_page_ordered():
    two = [[(72.0, 700.0, "p1")], [(72.0, 700.0, "p2")]]
    wire = build_pdf(two, annotations=[(1, "on page two"), (0, "on page one")])
    assert parse_real_pdf(wire)[3] == ["on page one", "on page two"]


def test_extras_through_extraction_policy():
    pdf = build_pdf(PAGES, **_EXTRAS).decode("latin-1")
    res = extract_document([{"kind": "pdf", "text": pdf, "media_ref": "", "offset": 0}])
    assert res["parse_ok"]
    assert res["meta"]["pdf_title"] == "Quarterly <Report> & Summary"
    # bookmarks are structure metadata (Tika shape), never body spans
    assert res["meta"]["pdf_outline"] == "Intro / Scope / Body"
    texts = [s["text"] for s in res["spans"]]
    assert not any("Intro" in t or "Scope" in t for t in texts)
    # fixed emission order: pages, annotation notes, the form block
    assert texts[-3:] == [
        "margin note one",
        "second note",
        "author: Ana\nstatus: approved",
    ]


def test_extras_absent_changes_nothing():
    pdf = build_pdf(PAGES).decode("latin-1")
    res = extract_document([{"kind": "pdf", "text": pdf, "media_ref": "", "offset": 0}])
    assert res["meta"]["pdf_title"] == ""
    assert res["meta"]["pdf_outline"] == ""
    assert res["meta"]["container_format"] == ""


def test_outline_cycle_guard():
    """A self-referential /Next chain must degrade to the titles walked
    before the revisit, never loop or raise (the page text still
    extracts)."""
    from tika_wrap_spark.core.pdfbin import RealPdf

    raw = build_pdf([[(72.0, 700.0, "body text")]], outlines=[(0, "A"), (0, "B")])
    doc = RealPdf(raw)
    assert doc.outline_titles() == ["A", "B"]
    # item objects are o_root+1, o_root+2; rewrite A's /Next to itself
    # (same byte length -> xref offsets stay valid)
    import re as _re

    m = _re.search(rb"/Title \(A\) /Parent \d+ 0 R /Next (\d+) 0 R", raw)
    assert m
    self_num = _re.search(rb"(\d+) 0 obj\n<< /Title \(A\)", raw).group(1)
    assert len(self_num) == len(m.group(1))
    looped = raw[: m.start(1)] + self_num + raw[m.end(1):]
    assert RealPdf(looped).outline_titles() == ["A"]
    res = extract_document(
        [{"kind": "pdf", "text": looped.decode("latin-1"), "media_ref": "", "offset": 0}]
    )
    assert res["parse_ok"] and res["meta"]["pdf_outline"] == "A"


# ---------------------------------------------------------------------------
# inline images (BI/ID/EI, §8.9.7) — post-restart r5
# ---------------------------------------------------------------------------


def test_inline_image_data_skipped_wholesale():
    """The raw image data carries '(', '<' and 'BT' look-alike bytes; the
    tokenizer must jump past EI, never parse them — text before AND after
    the image survives, and none of the image bytes leak into runs."""
    from tika_wrap_spark.core.pdfbin import build_pdf

    pages = [
        [(72.0, 700.0, "before the image"), (72.0, 680.0, "after the image")],
        [(72.0, 700.0, "second page intact")],
    ]
    for kw in (
        {},
        {"use_tm": True},
        {"content_filter": "lzw"},
        {"encrypt": "rc4-128"},
        {"xref_stream": True, "tj_arrays": True},
    ):
        pdf = build_pdf(pages, inline_image=True, **kw)
        parsed = parse_real_pdf(pdf)[0]
        texts = [[t for _x, _y, t in pg] for pg in parsed]
        assert texts == [
            ["before the image", "after the image"],
            ["second page intact"],
        ], (kw, texts)
        flat = " ".join(t for pg in texts for t in pg)
        assert "\xff" not in flat and "BI" not in flat


def test_inline_image_missing_ei_drops_tail_not_document():
    """Image data with the EI sentinel cut off: the rest of that content
    stream is unreadable by spec (data is unlabeled), so the parser skips
    to stream end — the page's earlier text and OTHER pages survive."""
    import re

    from tika_wrap_spark.core.pdfbin import build_pdf

    pages = [[(72.0, 700.0, "kept text")], [(72.0, 700.0, "other page")]]
    pdf = build_pdf(pages, inline_image=True, flate=False)
    # same-length replacement: xref offsets must stay valid
    cut = re.sub(rb" EI\nQ", b"\x01\x02\x03\x04\x05", pdf)
    assert cut != pdf
    parsed = parse_real_pdf(cut)[0]
    texts = [[t for _x, _y, t in pg] for pg in parsed]
    assert texts[0] == ["kept text"]
    assert texts[1] == ["other page"]


# ---------------------------------------------------------------------------
# Linear-time LZW, the LZW bomb cap, and Type0 glyph decode equivalence
# ---------------------------------------------------------------------------

# An MSB-first bit accumulator that is never masked grows to the whole
# stream as one int, and every shift copies it, so the codec turns
# quadratic: 256 KiB took ~28 s that way on a 4-vCPU host, ~0.2 s masked.
# The tests compare the time of a 4x larger input with a small one, so the
# check holds on any machine: linear code grows ~4x, quadratic ~16x.
GROWTH_BOUND = 8.0


def _growth(run, small, big) -> float:
    """Best-of-3 time of ``run(big)`` over best-of-3 time of ``run(small)``."""
    import time

    def best(arg):
        dts = []
        for _ in range(3):
            t0 = time.perf_counter()
            run(arg)
            dts.append(time.perf_counter() - t0)
        return min(dts)

    return best(big) / best(small)


def _lzw_random_bytes(n: int) -> bytes:
    import random

    return random.Random(20).randbytes(n)


def test_lzw_codec_is_linear_time():
    from tika_wrap_spark.core.pdfbin import _lzw_decode, _lzw_encode

    def roundtrip(data):
        assert _lzw_decode(_lzw_encode(data)) == data

    small, big = _lzw_random_bytes(64 * 1024), _lzw_random_bytes(256 * 1024)
    g = _growth(roundtrip, small, big)
    assert g < GROWTH_BOUND, "4x the input took %.1fx the time" % g


def test_lzw_filter_is_linear_time():
    from tika_wrap_spark.core.pdfbin import Name, _lzw_encode, decode_stream

    inputs = {}
    for n in (64 * 1024, 256 * 1024):
        data = _lzw_random_bytes(n)
        inputs[n] = (data, _lzw_encode(data))

    def decode(n):
        data, enc = inputs[n]
        assert decode_stream({"Filter": Name("LZWDecode")}, enc, lambda v: v) == data

    g = _growth(decode, 64 * 1024, 256 * 1024)
    assert g < GROWTH_BOUND, "4x the input took %.1fx the time" % g


def _lzw_bomb_stream() -> bytes:
    """PDF-variant LZW codes (EarlyChange 1) that define codes 258..4095 as a
    KwKwK chain (entry k is k-256 zero bytes long), then repeat code 4095,
    a 3,839-byte entry, until the output passes 64 MiB."""
    codes = [256, 0, *range(258, 4096), *[4095] * 16000]
    out = bytearray()
    acc = nbits = 0
    width, next_code = 9, 258
    for i, code in enumerate(codes):
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append(acc >> nbits)
            acc &= (1 << nbits) - 1
        # the decoder adds one entry per code after CLEAR + first literal,
        # then widens one code early
        if i >= 2 and next_code < 4096:
            next_code += 1
        if width < 12 and next_code + 1 >= (1 << width) - 1:
            width += 1
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def test_lzw_bomb_hits_the_cap_in_the_bomb_class(spark):
    from tika_wrap_spark.queries_training import _error_class_col

    bomb = _lzw_bomb_stream()
    assert len(bomb) < 32 * 1024
    doc = _classic_doc(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
            5: b"<< /Length %d /Filter /LZWDecode >>\nstream\n%s\nendstream"
            % (len(bomb), bomb),
        }
    )
    with pytest.raises(ExtractError, match="pdf: inflated payload exceeds 67108864 bytes") as exc:
        parse_real_pdf(doc)
    df = spark.createDataFrame([(False, str(exc.value))], "parse_ok boolean, error string")
    assert df.select(_error_class_col().alias("cls")).first()["cls"] == "bomb"


def _reference_cid_decode(fd, raw: bytes) -> str:
    """The plain per-code Type0 decode loop, one CMap walk per glyph: the
    reference for the equivalence test, not a path in the package."""
    out: list[str] = []
    i = 0
    n = len(raw)
    spaces, tou, enc = fd._spaces, fd._tou, fd._enc_cmap
    while i < n:
        code, nb = spaces.next_code(raw, i)
        i += nb
        u = tou.lookup_bf(code) if tou is not None else None
        if u is None:
            cid = enc.lookup_cid(code) if enc is not None else None
            if cid is None:
                cid = code
            u = chr(cid) if 0 < cid < 0x110000 and not (0xD800 <= cid <= 0xDFFF) else "�"
        out.append(u)
    return "".join(out)


def _outcome(fn, *args):
    try:
        return ("ok", fn(*args))
    except Exception as exc:  # noqa: BLE001 - both sides must fail alike
        return ("raises", type(exc).__name__)


# code bytes drawn from a small alphabet so ranges and raw strings collide
_CODE_BYTE = st.sampled_from([0x00, 0x01, 0x20, 0x41, 0x42, 0x43, 0x7F, 0x80, 0xD8, 0xFF])
_WIDTHS = st.sampled_from([(1,), (2,), (3,), (1, 2), (2, 1), (1, 2, 3), (2, 4)])
_CIDS = st.one_of(
    st.integers(0, 0x300),
    st.just(0),
    st.integers(0xD7FF, 0xE000),  # around and inside the surrogates
    st.integers(0x10FFF0, 0x110100),  # past the last scalar value
)


def _hex(b: bytes) -> str:
    return "<%s>" % b.hex()


@st.composite
def _type0_font(draw):
    widths = draw(_WIDTHS)

    def code(nb=None):
        nb = nb or draw(st.sampled_from(widths))
        return bytes(draw(st.lists(_CODE_BYTE, min_size=nb, max_size=nb)))

    def span():
        nb = draw(st.sampled_from(widths))
        a, b = sorted((code(nb), code(nb)))
        return a, b

    def dst():
        return bytes(draw(st.lists(st.integers(0, 255), max_size=6)))

    spaces = ["%s %s" % tuple(map(_hex, span())) for _ in range(draw(st.integers(1, 3)))]
    # full-width spaces so raw strings are not all recovery codes
    spaces += ["%s %s" % (_hex(b"\x00" * nb), _hex(b"\xff" * nb))
               for nb in widths if draw(st.booleans())]
    bfchar = ["%s %s" % (_hex(code()), _hex(dst())) for _ in range(draw(st.integers(0, 4)))]
    bfrange = []
    for _ in range(draw(st.integers(0, 3))):
        lo, hi = span()
        n = int.from_bytes(hi, "big") - int.from_bytes(lo, "big") + 1
        if n <= 8 and draw(st.booleans()):
            arr = " ".join(_hex(dst()) for _ in range(n))
            bfrange.append("%s %s [%s]" % (_hex(lo), _hex(hi), arr))
        else:
            bfrange.append("%s %s %s" % (_hex(lo), _hex(hi), _hex(dst())))
    cidchar = ["%s %d" % (_hex(code()), draw(_CIDS)) for _ in range(draw(st.integers(0, 4)))]
    cidrange = ["%s %s %d" % (*map(_hex, span()), draw(_CIDS))
                for _ in range(draw(st.integers(0, 3)))]

    def section(name, rows):
        return "%d begin%s\n%s\nend%s\n" % (len(rows), name, "\n".join(rows), name) if rows else ""

    # where the codespaces live: the encoding CMap, the ToUnicode CMap
    # (an embedded encoding CMap without codespaces), or nowhere (Identity)
    where = draw(st.sampled_from(["enc", "tou", "none"]))
    enc = section("codespacerange", spaces) if where == "enc" else ""
    enc += section("cidchar", cidchar) + section("cidrange", cidrange)
    tou = section("codespacerange", spaces) if where == "tou" else ""
    tou += section("bfchar", bfchar) + section("bfrange", bfrange)
    fdict = {"Subtype": "Type0", "Encoding": ({}, ("begincmap\n%sendcmap\n" % enc).encode())}
    if where == "tou" or draw(st.booleans()):
        fdict["ToUnicode"] = ({}, ("begincmap\n%sendcmap\n" % tou).encode())
    if where == "none" and draw(st.booleans()):
        fdict["Encoding"] = "Identity-H"
    return fdict


@given(
    _type0_font(),
    st.lists(
        st.one_of(st.binary(max_size=48), st.lists(_CODE_BYTE, max_size=24).map(bytes)),
        min_size=1,
        max_size=4,
    ),
)
@settings(max_examples=400, deadline=None)
def test_cid_decode_matches_per_code_reference(fdict, raws):
    """The memoized, width-sliced Type0 decode equals the per-code loop on
    1-, 2-, 3-byte and mixed codespaces, odd trailing bytes, codes outside
    every range, every bf/cid entry form, out-of-range CIDs, and with or
    without ToUnicode. Several strings per font exercise the warm memo."""
    from tika_wrap_spark.core.pdfbin import FontDecoder, Name

    fdict = dict(fdict, Subtype=Name("Type0"))
    fd = FontDecoder(fdict, lambda x: x)
    ref = FontDecoder(fdict, lambda x: x)
    for raw in raws:
        assert _outcome(fd.decode, raw) == _outcome(_reference_cid_decode, ref, raw), raw


def test_cid_memo_stops_growing_at_64k_codes():
    """A 3-byte codespace decodes more distinct codes than the memo keeps;
    the output still equals the per-code loop."""
    from tika_wrap_spark.core.pdfbin import FontDecoder, Name

    enc = b"begincmap\n1 begincodespacerange\n<000000> <ffffff>\nendcodespacerange\nendcmap\n"
    fd = FontDecoder({"Subtype": Name("Type0"), "Encoding": ({}, enc)}, lambda x: x)
    raw = b"".join((0x10000 + 3 * i).to_bytes(3, "big") for i in range(70000))
    assert fd.decode(raw) == _reference_cid_decode(fd, raw)
    assert len(fd._glyphs) == 0x10000
