"""Deterministic synthetic corpus generator (FIXTURES.md §1) + golden output.

Generates the ``input_hint`` table shape
``(doc_id: string, spans: array<struct<kind,text,media_ref,offset:int32>>)``
fully synthetically, seeded (default seed=42) — identical (seed, n) always
yields identical content on any platform (uses ``random.Random``, whose
sequence is specified by CPython).

Doc mix mirrors the reference demo's 5-file smoke set
(/root/reference/example/demo1.cpp:45-52 — log text, png, 2x zip containers,
csv):
  ~40% single text span (log/csv-like lines)
  ~25% single html span (boilerplate nav/header/footer + content paragraphs)
  ~20% single pdf span  (shuffled-order synthetic content stream, 1-3 pages)
  ~15% interleaved container docs (3-8 spans mixing text/html/media)
plus a 1% skew tail of "giant PDFs" (~100x median payload) to exercise
salting (north_rule), and 3 adversarial docs appended at the end
(malformed html, truncated pdf, empty doc) pinning the error policy.

Golden expected output is produced by the same pure-python core the Spark
UDFs call (``core.extract_document``) — the north_star byte-equality bar.
"""

from __future__ import annotations

import random
from typing import Any

from tika_wrap_spark.core.charset import encode_charset
from tika_wrap_spark.core.container import build_container
from tika_wrap_spark.core.eml import build_eml
from tika_wrap_spark.core.extract import extract_document
from tika_wrap_spark.core.gzipbin import bz2_text, gzip_text, lzma_text, xz_text, z_text
from tika_wrap_spark.core.lz4bin import lz4_text
from tika_wrap_spark.core.ical import build_ics, build_vcf
from tika_wrap_spark.core.media import build_jpeg, build_png
from tika_wrap_spark.core.olebin import (
    build_cfb,
    build_doc,
    build_msg,
    build_ppt,
    build_xls,
)
from tika_wrap_spark.core.arbin import build_ar_text
from tika_wrap_spark.core.dbfbin import build_dbf_text
from tika_wrap_spark.core.midibin import build_midi_text
from tika_wrap_spark.core.rarbin import build_rar_text
from tika_wrap_spark.core.zstdbin import zstd_text
from tika_wrap_spark.core.sevenzip import build_7z_text
from tika_wrap_spark.core.tnefbin import build_tnef_text
from tika_wrap_spark.core.cpiobin import build_cpio_text
from tika_wrap_spark.core.avrobin import build_avro_text
from tika_wrap_spark.core.parquetbin import build_parquet_text
from tika_wrap_spark.core.cabbin import build_cab_text
from tika_wrap_spark.core.isobin import build_iso_text
from tika_wrap_spark.core.pdfbin import build_pdf_text
from tika_wrap_spark.core.plistbin import build_bplist
from tika_wrap_spark.core.procmemo import proc_memo
from tika_wrap_spark.core.rtf import build_rtf
from tika_wrap_spark.core.fontbin import build_sfnt, build_woff
from tika_wrap_spark.core.sqlitebin import build_sqlite
from tika_wrap_spark.core.tarbin import build_tar_text
from tika_wrap_spark.core.mbox import build_mbox
from tika_wrap_spark.core.warcbin import build_warc
from tika_wrap_spark.core.zipbin import build_zip_text

# cp1252-exercising vocabulary for rtf/eml payloads (escape + charset paths)
_ACCENT_WORDS = ("café", "naïve", "Zürich", "résumé", "façade", "señor")

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu data span corpus extract content pipeline shuffle "
    "partition offset document metric lineage anchor render stream batch"
).split()

_STOP_HTML = "home about contact login signup next prev".split()

# non-Latin vocabulary for the CID (Type0/Identity-H) PDF slice: the
# whole point of composite fonts is text WinAnsi can't carry
_CID_WORDS = (
    "日本語 テキスト 抽出 文書 処理 данные документ текст обработка "
    "Ωμέγα αλφάβητο κείμενο 한국어 문서 中文 文本 提取"
).split()


# CJK sentence pools for the charset-detection slice (core/charset.py):
# Japanese carries kana (the Shift-JIS discriminator), Chinese is pure
# CJK-unified (the GBK discriminator) — both stay inside their codec's
# repertoire so encode() is lossless
_JA_SENTENCES = (
    "これは日本語のテスト文書です。",
    "大規模なデータ処理パイプラインを検証する。",
    "文字コードの自動判定はアーカイブ抽出の前提となる。",
    "かな漢字混じりのログ行をそのまま取り込む。",
)
_ZH_SENTENCES = (
    "这是一个中文测试文档。",
    "大规模数据处理管道需要字符集检测。",
    "文本抽取流水线按内容路由每个文档。",
    "压缩包中的成员递归解析后再分类。",
)


def _gen_cjk_text(rng: random.Random, lang: str) -> str:
    pool = _JA_SENTENCES if lang == "ja" else _ZH_SENTENCES
    return "\n".join(rng.choice(pool) for _ in range(rng.randint(2, 6)))


def _charset_wrap(rng: random.Random, body: str) -> str:
    """Re-encode a text-family payload on the wire the way a real mixed
    corpus would carry it: BOM'd UTF-16/32, BOM'd UTF-8, BOM-less UTF-16
    (NUL-pattern heuristic path), or a CJK page in Shift-JIS / GBK. The
    extractor's charset ladder must recover the exact characters."""
    c = rng.random()
    if c < 0.30:
        return encode_charset(body, "utf-16le")
    if c < 0.45:
        return encode_charset(body, "utf-16be")
    if c < 0.55:
        return encode_charset(body, "utf-16le", bom=False)
    if c < 0.65:
        return encode_charset(body, "utf-32le")
    if c < 0.75:
        return encode_charset(body, "utf-8")
    if c < 0.88:
        return encode_charset(_gen_cjk_text(rng, "ja"), "shift_jis", bom=False)
    return encode_charset(_gen_cjk_text(rng, "zh"), "gbk", bom=False)


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _sentence(rng: random.Random) -> str:
    s = _words(rng, rng.randint(6, 14))
    return s[0].upper() + s[1:] + "."


def _gen_text_payload(rng: random.Random) -> str:
    lines = []
    for i in range(rng.randint(3, 12)):
        if rng.random() < 0.3:  # csv-ish line
            lines.append(",".join(rng.choice(_WORDS) for _ in range(4)))
        else:  # log-ish line
            lines.append(
                "2025-0%d-%02d %s [%s] %s"
                % (
                    rng.randint(1, 9),
                    rng.randint(1, 28),
                    "%02d:%02d:%02d" % (rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59)),
                    rng.choice(("INFO", "WARN", "ERROR")),
                    _words(rng, rng.randint(4, 9)),
                )
            )
    return "\n".join(lines)


def _gen_html_payload(rng: random.Random) -> str:
    nav_links = "".join(
        '<a href="/%s">%s</a> ' % (w, w) for w in rng.sample(_STOP_HTML, 4)
    )
    paras = []
    for _ in range(rng.randint(2, 5)):
        sentences = " ".join(_sentence(rng) for _ in range(rng.randint(2, 5)))
        if rng.random() < 0.4:  # inline link inside content (link-sparse)
            sentences += ' See <a href="/ref">%s</a> for details.' % rng.choice(_WORDS)
        paras.append("<p>%s</p>" % sentences)
    footer_links = "".join('<a href="#">%s</a>' % w for w in rng.sample(_STOP_HTML, 3))
    return (
        "<!DOCTYPE html>\n<html><head><title>%s</title>"
        "<script>var x=1;</script><style>p{margin:0}</style></head>\n"
        "<body><header><h1>%s</h1></header>"
        "<nav>%s</nav>\n"
        "<div id=\"main\">%s</div>\n"
        "<footer>%s &copy; 2025</footer></body></html>"
        % (_words(rng, 3), _words(rng, 4), nav_links, "".join(paras), footer_links)
    )


def _gen_html_charset_page(rng: random.Random) -> str:
    """An html page whose body is NOT in the wire default: CJK content in
    its declared <meta charset> (Shift-JIS / GB2312 / EUC-JP) or cp1252
    curly-quote prose declared windows-1252. The extractor honors the
    declaration (core/charset.decode_html_charset — Tika's
    HtmlEncodingDetector analog) before boilerplate stripping."""
    k = rng.random()
    if k < 0.4:
        lang, label, codec = "ja", "shift_jis", "shift_jis"
    elif k < 0.7:
        lang, label, codec = "zh", "gb2312", "gbk"
    elif k < 0.85:
        lang, label, codec = "ja", "euc-jp", "euc_jp"
    else:
        lang, label, codec = "", "windows-1252", "cp1252"
    if lang:
        title = _gen_cjk_text(rng, lang).split("\n", 1)[0]
        paras = [_gen_cjk_text(rng, lang) for _ in range(rng.randint(1, 3))]
    else:
        title = _words(rng, 3)
        paras = ["“%s” %s" % (_sentence(rng), _sentence(rng))
                 for _ in range(rng.randint(1, 3))]
    page = (
        '<!DOCTYPE html>\n<html><head><meta charset="%s"><title>%s</title>'
        '</head>\n<body><div id="main">%s</div></body></html>'
        % (label, title, "".join("<p>%s</p>" % p for p in paras))
    )
    return page.encode(codec).decode("latin-1")


def _escape_pdf(s: str) -> str:
    return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def _gen_pdf_runs(rng: random.Random, giant: bool = False) -> list[list[tuple]]:
    """Shared page-runs generator: shuffled appearance order so the layout
    re-sort has signal, regardless of which serialization carries them."""
    n_pages = rng.randint(1, 3)
    lines_per_page = rng.randint(4, 10) * (100 if giant else 1)
    pages = []
    for _page in range(n_pages):
        runs = []
        y = 720.0
        for _ in range(lines_per_page):
            x = 72.0 + rng.choice((0.0, 18.0, 36.0))
            runs.append((x, y, _sentence(rng)))
            y -= 12.0
        rng.shuffle(runs)
        pages.append(runs)
    return pages


def _gen_pdf_payload(rng: random.Random, giant: bool = False) -> str:
    """A PDF payload drawing a six-way serialization mix: the synthetic
    fixtures dialect (half the draws — it remains the strict-parser
    regression surface) or a REAL binary PDF (core/pdfbin.py builder) in
    one of five variants: flate/Td, uncompressed kerned-TJ arrays, Tm
    positioning, a PDF 1.5 cross-reference stream, or a Type0/Identity-H
    CID font carrying non-Latin text (ToUnicode CMap on most draws; the
    raw-codepoint no-ToUnicode fallback on the rest). A slice of the
    flate/Td and Tm draws is RC4-encrypted (empty user password — the
    owner-password-only protection the parser opens transparently), and
    a slice of the uncompressed-TJ draws carries LZW / RunLength /
    ASCII85+Flate-chain content filters; a slice of the flate/encrypted
    draws carries /EmbeddedFiles attachments (notes.txt + half table.csv,
    content derived from the already-drawn page runs — late r5); every
    such decision reuses sub-ranges/digits of the already-drawn ``form``
    so the rng sequence (and every other doc's bytes) is unchanged."""
    pages = _gen_pdf_runs(rng, giant)
    form = rng.random()

    def _attachments() -> list[tuple[str, bytes]] | None:
        """Deterministic /EmbeddedFiles payloads derived from the
        already-drawn page runs and form digits (NO new rng draws — the
        _gen_pdf_payload invariant): a notes.txt carrying the first
        page's top lines; on half the sub-draws (a form digit) also a
        two-column csv built from the same words."""
        if not (0.505 <= form < 0.51 or 0.56 <= form < 0.63):
            return None
        first = sorted(pages[0], key=lambda r: (-r[1], r[0]))[:4] if pages else []
        note = "\n".join(t for _x, _y, t in first) or "empty note"
        atts = [("notes.txt", note.encode("cp1252", "replace"))]
        if int(form * 1e6) & 1:
            words = (first[0][2].rstrip(".").split() + ["k", "v"])[:4]
            csv = "key,val\n" + "\n".join(
                "%s,%s" % (words[i], words[(i + 1) % len(words)])
                for i in range(len(words))
            )
            atts.append(("table.csv", csv.encode("cp1252", "replace")))
        return atts

    if form < 0.5:  # fixtures dialect
        lines = ["%PDF-1.4"]
        for pno, runs in enumerate(pages, 1):
            lines.append("%%%%Page: %d" % pno)
            for x, y, text in runs:
                lines.append("BT %.1f %.1f Td (%s) Tj ET" % (x, y, _escape_pdf(text)))
        lines.append("%%EOF")
        return "\n".join(lines)
    if form < 0.63:
        enc = (
            "aes-256" if form < 0.51
            else "aes-128" if form < 0.52
            else "rc4-128" if form < 0.54
            else None
        )
        return build_pdf_text(
            pages,
            encrypt=enc,
            attachments=_attachments(),
            # half this slice (a form digit, no new draws) carries a
            # BI/ID/EI inline image whose raw data is full of string/
            # operator look-alikes — the wholesale-skip regression surface
            inline_image=bool(int(form * 1e8) & 1),
        )
    if form < 0.74:
        # sub-ranges of form (again no extra rng draws): LZW / RunLength /
        # ASCII85+Flate-chain content filters, else plain uncompressed
        cf = (
            "lzw" if form < 0.66
            else "rle" if form < 0.68
            else "a85" if form < 0.70
            else None
        )
        return build_pdf_text(pages, flate=False, tj_arrays=True, content_filter=cf)
    if form < 0.84:
        # [0.79, 0.84): annotation + AcroForm + (half) XMP-title + (half)
        # /Outlines-bookmark extras, content derived from the drawn runs /
        # form digits — no new draws
        extras: dict = {}
        if form >= 0.79:
            first = sorted(pages[0], key=lambda r: (-r[1], r[0]))[:2]
            extras = {
                "annotations": [(0, "Reviewed: " + first[0][2])],
                "form_fields": [
                    ("reviewer", first[-1][2].split()[0]),
                    ("status", "approved" if int(form * 1e5) & 1 else "draft"),
                ],
            }
            if int(form * 1e4) & 1:
                extras["xmp_title"] = first[0][2].rstrip(".")
            if int(form * 1e7) & 1:
                # document outline: one top-level bookmark per page (first
                # word of the page's top run) with one nested child under
                # the first — titles derive from the drawn runs only
                tops = [
                    sorted(runs, key=lambda r: (-r[1], r[0]))[0][2].split()[0]
                    for runs in pages
                ]
                toc = [(0, "Section %d: %s" % (i + 1, w)) for i, w in enumerate(tops)]
                toc.insert(1, (1, "Detail: " + tops[0]))
                extras["outlines"] = toc
        return build_pdf_text(
            pages, use_tm=True, encrypt="rc4-40" if form < 0.77 else None, **extras
        )
    if form < 0.92:
        return build_pdf_text(
            pages,
            xref_stream=True,
            tj_arrays=True,
            inline_image=bool(int(form * 1e8) & 1),
        )
    # CID slice: splice non-Latin words into the page text so the Type0
    # path decodes something WinAnsi never could
    cid_pages = [
        [
            (x, y, "%s %s" % (rng.choice(_CID_WORDS), text))
            for x, y, text in runs
        ]
        for runs in pages
    ]
    return build_pdf_text(
        cid_pages,
        cid=True,
        cid_tounicode=rng.random() < 0.75,
        tj_arrays=rng.random() < 0.5,
    )


def _gen_csv_payload(rng: random.Random) -> str:
    cols = rng.sample(_WORDS, rng.randint(3, 6))
    lines = [",".join(cols)]
    for _ in range(rng.randint(3, 10)):
        lines.append(",".join(rng.choice(_WORDS) for _ in cols))
    return "\n".join(lines)


def _gen_json_payload(rng: random.Random) -> str:
    pairs = ", ".join(
        '"%s": "%s"' % (rng.choice(_WORDS), _words(rng, rng.randint(1, 4)))
        for _ in range(rng.randint(3, 8))
    )
    return "{%s}" % pairs


def _gen_xml_payload(rng: random.Random) -> str:
    items = "".join(
        "<item id=\"%d\">%s</item>" % (i, _sentence(rng))
        for i in range(rng.randint(2, 6))
    )
    return '<?xml version="1.0" encoding="UTF-8"?>\n<doc>%s</doc>' % items


def _gen_docx_xml(rng: random.Random) -> str:
    """WordprocessingML body: w:p paragraphs of 1-3 w:t runs (the OOXML
    shape Tika's XWPF path reads; text surfaces via the generic xml-member
    strip, run-concatenated)."""
    paras = []
    for _ in range(rng.randint(2, 5)):
        runs = "".join(
            "<w:r><w:t>%s</w:t></w:r>" % _sentence(rng)
            for _ in range(rng.randint(1, 3))
        )
        paras.append("<w:p>%s</w:p>" % runs)
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main"><w:body>%s</w:body></w:document>'
        % "".join(paras)
    )


def _gen_pptx_slide_xml(rng: random.Random) -> str:
    """PresentationML slide: p:sp text bodies of a:p paragraphs with a:r/a:t
    runs (Tika's XSLF path; same generic xml-member strip as docx/xlsx)."""
    shapes = []
    for _ in range(rng.randint(1, 3)):
        paras = "".join(
            "<a:p><a:r><a:rPr lang=\"en-US\"/><a:t>%s</a:t></a:r></a:p>"
            % _sentence(rng)
            for _ in range(rng.randint(1, 4))
        )
        shapes.append("<p:sp><p:txBody>%s</p:txBody></p:sp>" % paras)
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<p:sld xmlns:a="http://schemas.openxmlformats.org/drawingml/'
        '2006/main" xmlns:p="http://schemas.openxmlformats.org/'
        'presentationml/2006/main"><p:cSld><p:spTree>%s</p:spTree>'
        "</p:cSld></p:sld>" % "".join(shapes)
    )


def _gen_xlsx_xml(rng: random.Random) -> tuple[str, str]:
    """SpreadsheetML pair: sharedStrings.xml si/t entries + a sheet whose
    cells reference them (t="s") mixed with inline numerics."""
    strings = [_sentence(rng) for _ in range(rng.randint(2, 6))]
    shared = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/'
        'main" count="%d" uniqueCount="%d">%s</sst>'
        % (len(strings), len(strings), "".join("<si><t>%s</t></si>" % s for s in strings))
    )
    rows = []
    for r in range(1, rng.randint(2, 5) + 1):
        cells = []
        for c in range(len(strings)):
            if rng.random() < 0.5:
                cells.append(
                    '<c r="%s%d" t="s"><v>%d</v></c>'
                    % (chr(65 + c), r, rng.randrange(len(strings)))
                )
            else:
                cells.append(
                    '<c r="%s%d"><v>%s</v></c>'
                    % (chr(65 + c), r, round(rng.uniform(-1000, 1000), 3))
                )
        rows.append('<row r="%d">%s</row>' % (r, "".join(cells)))
    sheet = (
        '<?xml version="1.0"?><worksheet><sheetData>%s</sheetData></worksheet>'
        % "".join(rows)
    )
    return shared, sheet


_ODF_MIMES = {
    "odt": "application/vnd.oasis.opendocument.text",
    "ods": "application/vnd.oasis.opendocument.spreadsheet",
    "odp": "application/vnd.oasis.opendocument.presentation",
}


def _gen_odf_content_xml(rng: random.Random, sub: str) -> str:
    """OpenDocument content.xml (ODF 1.3): Writer text:p paragraphs, Calc
    table rows whose cells carry text:p, or Impress draw:page text boxes.
    Text surfaces via the same generic xml-member strip as OOXML; the zip's
    ``mimetype`` member (core/extract.py ODF_MARKER) picks the subkind."""
    if sub == "odt":
        body = "<office:text>%s</office:text>" % "".join(
            '<text:p text:style-name="P%d">%s</text:p>' % (i, _sentence(rng))
            for i in range(rng.randint(2, 5))
        )
    elif sub == "ods":
        rows = []
        for r in range(rng.randint(2, 4)):
            cells = "".join(
                '<table:table-cell office:value-type="string"><text:p>%s'
                "</text:p></table:table-cell>" % _words(rng, rng.randint(1, 4))
                for _ in range(rng.randint(2, 4))
            )
            rows.append("<table:table-row>%s</table:table-row>" % cells)
        body = (
            '<office:spreadsheet><table:table table:name="Sheet1">%s'
            "</table:table></office:spreadsheet>" % "".join(rows)
        )
    else:  # odp
        pages = []
        for p in range(rng.randint(1, 3)):
            paras = "".join(
                "<text:p>%s</text:p>" % _sentence(rng)
                for _ in range(rng.randint(1, 3))
            )
            pages.append(
                '<draw:page draw:name="page%d"><draw:frame><draw:text-box>%s'
                "</draw:text-box></draw:frame></draw:page>" % (p + 1, paras)
            )
        body = "<office:presentation>%s</office:presentation>" % "".join(pages)
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<office:document-content '
        'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
        'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
        'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" '
        'xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0">'
        "<office:body>%s</office:body></office:document-content>" % body
    )


def _gen_odf_payload(rng: random.Random) -> str:
    """A whole OpenDocument package (odt ~ half, ods/odp a quarter each):
    a REAL zip whose first member is the stored ``mimetype`` marker (ODF
    1.3 §3.3 requires it uncompressed-first) followed by content.xml."""
    s = rng.random()
    sub = "odt" if s < 0.5 else ("ods" if s < 0.75 else "odp")
    return build_zip_text(
        [("mimetype", _ODF_MIMES[sub]), ("content.xml", _gen_odf_content_xml(rng, sub))],
        deflate=[False, rng.random() < 0.7],
    )


def _gen_ics_payload(rng: random.Random) -> str:
    """iCalendar payload (RFC 5545): 1-4 VEVENTs with folded/escaped text
    properties — commas and semicolons drawn deliberately so the escape
    path and the sniffer's ics-before-csv ordering both carry signal."""
    events = []
    for _ in range(rng.randint(1, 4)):
        ev = {"summary": _sentence(rng)}
        if rng.random() < 0.7:
            ev["description"] = "%s; agenda: %s, %s" % (
                _sentence(rng),
                rng.choice(_WORDS),
                rng.choice(_WORDS),
            )
        if rng.random() < 0.5:
            ev["location"] = "Room %d" % rng.randint(1, 40)
        if rng.random() < 0.5:
            ev["organizer"] = "%s %s" % (
                rng.choice(_WORDS).title(),
                rng.choice(_WORDS).title(),
            )
        if rng.random() < 0.4:
            ev["attendee"] = "%s@example.com" % rng.choice(_WORDS)
        events.append(ev)
    return build_ics(events)


def _gen_vcf_payload(rng: random.Random) -> str:
    """vCard payload (RFC 6350): 1-3 cards with structured-field escapes."""
    cards = []
    for _ in range(rng.randint(1, 3)):
        card = {
            "fn": "%s %s" % (rng.choice(_WORDS).title(), rng.choice(_WORDS).title())
        }
        if rng.random() < 0.6:
            card["org"] = "%s, %s dept" % (
                rng.choice(_WORDS).title(),
                rng.choice(_WORDS),
            )
        if rng.random() < 0.5:
            card["title"] = rng.choice(_WORDS).title()
        if rng.random() < 0.7:
            card["email"] = "%s@example.org" % rng.choice(_WORDS)
        if rng.random() < 0.4:
            card["tel"] = "+1 555 %04d" % rng.randint(0, 9999)
        if rng.random() < 0.3:
            card["note"] = _sentence(rng)
        cards.append(card)
    return build_vcf(cards)


def _gen_epub_payload(rng: random.Random) -> str:
    """An EPUB OCF package: real zip, stored-first ``mimetype`` marker
    (`application/epub+zip`), 1-3 xhtml chapter members that route through
    the REAL html extractor (boilerplate strip and all)."""
    entries = [("mimetype", "application/epub+zip")]
    for c in range(rng.randint(1, 3)):
        entries.append(("OEBPS/chapter%d.xhtml" % (c + 1), _gen_html_payload(rng)))
    return build_zip_text(entries, deflate=[False] + [True] * (len(entries) - 1))


def _gen_warc_payload(rng: random.Random) -> str:
    """A WARC web archive (core/warcbin.py): the Common Crawl ingestion
    shape — 2-4 ``response`` records, each a crawled page inside its HTTP
    envelope. ~70% of bodies are html (they run the REAL boilerplate
    stripper on extraction), the rest plain text."""
    records = []
    for _ in range(rng.randint(2, 4)):
        uri = "https://%s.example.org/%s" % (
            rng.choice(_WORDS),
            _words(rng, 2).replace(" ", "/"),
        )
        if rng.random() < 0.7:
            records.append((uri, "text/html", _gen_html_payload(rng)))
        else:
            records.append((uri, "text/plain", _gen_text_payload(rng)))
    return build_warc(records)


def _gen_ar_payload(rng: random.Random) -> str:
    """A Unix ar archive (core/arbin.py). ~60% are Debian .deb packages —
    ``debian-binary`` version text + ``control.tar.gz`` (a real control
    file) + ``data.tar.xz`` (packaged doc files) so the members recurse
    through the existing gzip/xz wrapper and tar paths; the rest are plain
    archives whose >16-char member names exercise the GNU ``//``
    long-name table."""
    if rng.random() < 0.6:  # Debian package shape
        pkg = rng.choice(_WORDS)
        control = (
            "Package: %s\nVersion: 1.%d.%d\nArchitecture: all\n"
            "Maintainer: %s <%s@example.org>\nDescription: %s\n"
            % (
                pkg,
                rng.randint(0, 9),
                rng.randint(0, 99),
                rng.choice(_WORDS).title(),
                rng.choice(_WORDS),
                _sentence(rng),
            )
        )
        data_entries = []
        for d in range(rng.randint(1, 3)):
            data_entries.append(
                (
                    "usr/share/doc/%s/notes_%d.txt" % (pkg, d),
                    _gen_text_payload(rng),
                )
            )
        return build_ar_text(
            [
                ("debian-binary", "2.0\n"),
                ("control.tar.gz", gzip_text(build_tar_text([("control", control)]))),
                ("data.tar.xz", xz_text(build_tar_text(data_entries))),
            ]
        )
    entries = []
    for m in range(rng.randint(2, 4)):
        name = (
            "a_very_long_member_name_%d.log" % m  # > 16 chars: GNU // table
            if m == 0
            else "member_%d.txt" % m
        )
        payload = (
            _gen_csv_payload(rng) if rng.random() < 0.3 else _gen_text_payload(rng)
        )
        entries.append((name, payload))
    return build_ar_text(entries)


def _gen_cpio_payload(rng: random.Random) -> str:
    """A cpio newc archive (core/cpiobin.py): 2-4 regular-file members with
    nested paths mixing text/csv payloads; ~1/3 carry a nested tar member
    so the cpio path exercises container recursion."""
    entries = []
    for m in range(rng.randint(2, 4)):
        if m == 0 and rng.random() < 0.33:
            inner = build_tar_text(
                [("bundle/inner_%d.txt" % m, _gen_text_payload(rng))]
            )
            entries.append(("payload/bundle.tar", inner))
        elif rng.random() < 0.3:
            entries.append(("data/table_%d.csv" % m, _gen_csv_payload(rng)))
        else:
            entries.append(("etc/notes_%d.txt" % m, _gen_text_payload(rng)))
    return build_cpio_text(entries)


def _gen_parquet_payload(rng: random.Random) -> str:
    """A Parquet file (core/parquetbin.py): 2-5 typed columns
    (long/string/double/bool, ~1/4 of string columns nullable), 3-20
    rows, ~1/3 split into small row groups. Built by pyarrow (the
    reference Arrow writer) in the reader-supported shape."""
    names = ["id_0"]
    types = ["long"]
    for f in range(1, rng.randint(2, 5)):
        t = rng.choice(("string", "long", "double", "bool", "?string"))
        names.append("%s_%d" % (rng.choice(_WORDS), f))
        types.append(t)
    rows = []
    for i in range(rng.randint(3, 20)):
        row: list = []
        for t in types:
            if t == "long":
                row.append(rng.randint(-1000, 100000))
            elif t == "double":
                row.append(round(rng.uniform(-100, 100), 3))
            elif t == "bool":
                row.append(rng.random() < 0.5)
            elif t == "?string" and rng.random() < 0.3:
                row.append(None)
            else:
                row.append(rng.choice(_WORDS))
        rows.append(row)
    rg = 4 if rng.random() < 0.33 else None
    return build_parquet_text(names, rows, types, row_group_size=rg)


def _gen_avro_payload(rng: random.Random) -> str:
    """An Avro object container (core/avrobin.py): 2-5 typed fields
    (long/string/double, ~1/3 of string fields nullable), 3-20 records,
    ~half deflate-coded."""
    fields: list[tuple[str, str]] = [("id_0", "long")]
    for f in range(1, rng.randint(2, 5)):
        t = rng.choice(("string", "long", "double", "?string"))
        fields.append(("%s_%d" % (rng.choice(_WORDS), f), t))
    rows = []
    for i in range(rng.randint(3, 20)):
        row: list = []
        for _n, t in fields:
            if t == "long":
                row.append(rng.randint(-1000, 100000))
            elif t == "double":
                row.append(round(rng.uniform(-100, 100), 3))
            elif t == "?string" and rng.random() < 0.3:
                row.append(None)
            else:
                row.append(rng.choice(_WORDS))
        rows.append(row)
    return build_avro_text(fields, rows, codec="deflate" if rng.random() < 0.5 else "null")


def _gen_xps_fpage(rng: random.Random) -> str:
    """One XPS FixedPage: 2-6 positioned Glyphs runs whose visible text
    rides the UnicodeString attribute; ~1/4 of runs carry an XML entity
    and ~1/8 the literal-brace '{}' escape the reader must strip."""
    runs = []
    for i in range(rng.randint(2, 6)):
        words = _sentence(rng)
        if rng.random() < 0.25:
            words = words.replace(" ", " &amp; ", 1)
        if rng.random() < 0.125:
            words = "{}" + words
        runs.append(
            '<Glyphs Fill="#000000" FontUri="/Resources/f1.odttf" '
            'FontRenderingEmSize="%d" OriginX="%d" OriginY="%d" '
            'UnicodeString="%s" />'
            % (8 + i, 10 + 3 * i, 40 + 20 * i, words)
        )
    return (
        '<FixedPage xmlns="http://schemas.microsoft.com/xps/2005/06" '
        'Width="816" Height="1056">' + "".join(runs) + "</FixedPage>"
    )


def _gen_xps_payload(rng: random.Random) -> str:
    """A direct XPS package (real zip, like _gen_odf_payload): OPC marker
    + fdseq/fdoc structure members + 1-3 FixedPages whose text rides
    Glyphs/@UnicodeString attributes."""
    n_pages = rng.randint(1, 3)
    entries = [
        ("[Content_Types].xml", _gen_xml_payload(rng)),
        (
            "FixedDocumentSequence.fdseq",
            '<FixedDocumentSequence xmlns="http://schemas.microsoft.com/'
            'xps/2005/06"><DocumentReference Source="/Documents/1/'
            'FixedDocument.fdoc" /></FixedDocumentSequence>',
        ),
        (
            "Documents/1/FixedDocument.fdoc",
            "<FixedDocument>"
            + "".join(
                '<PageContent Source="/Documents/1/Pages/%d.fpage" />' % p
                for p in range(1, n_pages + 1)
            )
            + "</FixedDocument>",
        ),
    ]
    for p in range(1, n_pages + 1):
        entries.append(("Documents/1/Pages/%d.fpage" % p, _gen_xps_fpage(rng)))
    return build_zip_text(entries)


def _gen_cab_payload(rng: random.Random) -> str:
    """An MS Cabinet (core/cabbin.py): 2-4 members mixing text/csv/html in
    a single folder, ~60% MSZIP- and ~40% Copy-coded, ~1/4 carrying one
    nested tar member exercising container recursion."""
    entries: list[tuple[str, str]] = []
    for m in range(rng.randint(2, 4)):
        if m == 0 and rng.random() < 0.25:
            inner = build_tar_text(
                [("bundle/inner_%d.txt" % m, _gen_text_payload(rng))]
            )
            entries.append(("setup/bundle.tar", inner))
            continue
        if rng.random() < 0.3:
            entries.append(("data/table_%d.csv" % m, _gen_csv_payload(rng)))
        elif rng.random() < 0.4:
            entries.append(("help/page_%d.html" % m, _gen_html_payload(rng)))
        else:
            entries.append(("readme_%d.txt" % m, _gen_text_payload(rng)))
    return build_cab_text(entries, mszip=rng.random() < 0.6)


def _gen_iso_payload(rng: random.Random) -> str:
    """An ISO 9660 disc image (core/isobin.py): 2-4 file members mixing
    text/csv/html, ~half nested under subdirectories (the Rock Ridge NM
    path — lowercase names survive the 8.3 identifier translation), and
    ~1/4 carrying one nested tar member exercising container recursion."""
    entries: list[tuple[str, str]] = []
    for m in range(rng.randint(2, 4)):
        if m == 0 and rng.random() < 0.25:
            inner = build_tar_text(
                [("bundle/inner_%d.txt" % m, _gen_text_payload(rng))]
            )
            entries.append(("images/bundle.tar", inner))
            continue
        prefix = rng.choice(("", "docs/", "web/pages/"))
        if rng.random() < 0.3:
            entries.append((prefix + "table_%d.csv" % m, _gen_csv_payload(rng)))
        elif rng.random() < 0.4:
            entries.append((prefix + "page_%d.html" % m, _gen_html_payload(rng)))
        else:
            entries.append((prefix + "readme_%d.txt" % m, _gen_text_payload(rng)))
    return build_iso_text(entries)


def _gen_7z_payload(rng: random.Random) -> str:
    """A solid 7z archive (core/sevenzip.py): 2-4 members mixing text/csv
    (~1/4 with one nested tar member exercising recursion), drawn half
    Copy- and half LZMA2-coded, ~1/3 with the kEncodedHeader layout the
    7z CLI writes by default."""
    entries: list[tuple[str, str]] = []
    for m in range(rng.randint(2, 4)):
        if m == 0 and rng.random() < 0.25:
            inner = build_tar_text(
                [("nested/deep_%d.txt" % m, _gen_text_payload(rng))]
            )
            entries.append(("payload/inner.tar", inner))
        elif rng.random() < 0.3:
            entries.append(("sheets/table_%d.csv" % m, _gen_csv_payload(rng)))
        else:
            entries.append(("docs/note_%d.txt" % m, _gen_text_payload(rng)))
    codec = "copy" if rng.random() < 0.5 else "lzma2"
    return build_7z_text(
        entries, codec=codec, encoded_header=rng.random() < 0.33
    )


def _gen_rar_payload(rng: random.Random) -> str:
    """A stored-member RAR5 archive (core/rarbin.py): 2-4 non-empty
    text/csv members, ~1/4 with one nested tar member exercising
    container recursion."""
    entries: list[tuple[str, str]] = []
    for m in range(rng.randint(2, 4)):
        if m == 0 and rng.random() < 0.25:
            inner = build_tar_text(
                [("wrapped/part_%d.txt" % m, _gen_text_payload(rng))]
            )
            entries.append(("archive/part.tar", inner))
        elif rng.random() < 0.3:
            entries.append(("data/grid_%d.csv" % m, _gen_csv_payload(rng)))
        else:
            entries.append(("notes/memo_%d.txt" % m, _gen_text_payload(rng)))
    return build_rar_text(entries)


def _gen_tnef_payload(rng: random.Random) -> str:
    """A TNEF winmail.dat stream (core/tnefbin.py): subject + plain body
    + 1-2 attachments mixing text/csv/pdf so the attachment recursion
    exercises real member routing."""
    subject = _sentence(rng).rstrip(".")[:60]
    body = "\n".join(_sentence(rng) for _ in range(rng.randint(2, 5)))
    atts = []
    for a in range(rng.randint(1, 2)):
        k = rng.random()
        if k < 0.4:
            atts.append(("table_%d.csv" % a, _gen_csv_payload(rng)))
        elif k < 0.7:
            atts.append(("notes_%d.txt" % a, _gen_text_payload(rng)))
        else:
            atts.append(("doc_%d.pdf" % a, _gen_pdf_payload(rng)))
    return build_tnef_text(subject, body, atts)


def _gen_dbf_payload(rng: random.Random) -> str:
    """A dBase III+ table (core/dbfbin.py): 3-5 named fields, 3-10 word
    records, ~1/4 of tables carrying one deleted ('*'-flagged) record the
    extractor must skip."""
    n_fields = rng.randint(3, 5)
    names = ["F%d_%s" % (i, _WORDS[rng.randrange(len(_WORDS))].upper()[:6])
             for i in range(n_fields)]
    rows = [
        [_WORDS[rng.randrange(len(_WORDS))] for _ in range(n_fields)]
        for _ in range(rng.randint(3, 10))
    ]
    deleted = {rng.randrange(len(rows))} if rng.random() < 0.25 else set()
    return build_dbf_text(names, rows, deleted)


def _gen_midi_payload(rng: random.Random) -> str:
    """A Standard MIDI file (core/midibin.py): 1-3 tracks, each with a
    track name and 1-4 lyric/text/marker events, real note and
    program-change events (running status) between them."""
    n_tracks = rng.randint(1, 3)
    tracks = []
    for t in range(n_tracks):
        evs: list[tuple[str, str]] = [("track_name", _words(rng, 2).title())]
        if t == 0 and rng.random() < 0.5:
            evs.append(("copyright", "(c) %d %s" % (1990 + rng.randrange(40),
                                                    _words(rng, 1))))
        for _ in range(rng.randint(1, 4)):
            kind = rng.choice(("lyric", "text", "marker"))
            evs.append((kind, _words(rng, rng.randint(2, 6))))
        tracks.append(evs)
    return build_midi_text(tracks, division=rng.choice((96, 192, 480)),
                           notes_per_track=rng.randint(2, 6))


def _gen_rtf_payload(rng: random.Random) -> str:
    """RTF payload: 2-6 paragraphs, ~half carrying cp1252 accents (the
    ``\\'hh`` escape path), an \\info title destination the extractor must
    skip (core/rtf.py)."""
    paras = []
    for _ in range(rng.randint(2, 6)):
        p = " ".join(_sentence(rng) for _ in range(rng.randint(1, 3)))
        if rng.random() < 0.5:
            p += " " + rng.choice(_ACCENT_WORDS) + "."
        paras.append(p)
    return build_rtf(paras, title=_words(rng, 3))


def _gen_eml_payload(rng: random.Random, depth: int = 0) -> str:
    """rfc822/MIME message payload: ~40% simple singlepart text; otherwise
    multipart/mixed with a quoted-printable text body (accents exercise the
    qp + charset decode), ~60% an html alternative, and ~40% a base64
    attachment (png head or a real zip — the message-as-container path)."""
    subject = _words(rng, rng.randint(2, 5))
    if rng.random() < 0.3:
        subject += " " + rng.choice(_ACCENT_WORDS)
    from_addr = "%s@%s.example" % (rng.choice(_WORDS), rng.choice(_WORDS))
    to_addr = "%s@%s.example" % (rng.choice(_WORDS), rng.choice(_WORDS))
    body = "\n".join(_sentence(rng) for _ in range(rng.randint(2, 6)))
    if rng.random() < 0.4:
        body += "\nMit freundlichen Grüßen — " + rng.choice(_ACCENT_WORDS)
    if rng.random() < 0.4:
        return build_eml(subject, from_addr, to_addr, body)
    html = _gen_html_payload(rng) if rng.random() < 0.6 else ""
    attachments: list[tuple[str, str]] = []
    if rng.random() < 0.4:
        if rng.random() < 0.5 or depth > 0:
            attachments.append(("image_1.png", _gen_png_payload(rng)))
        else:
            attachments.append(
                (
                    "archive_1.zip",
                    build_zip_text([("inner.log", _gen_text_payload(rng))]),
                )
            )
    return build_eml(subject, from_addr, to_addr, body, html, attachments)


def _gen_mbox_payload(rng: random.Random) -> str:
    """An mbox mailbox of 2-3 messages (core/mbox.py), each drawn from the
    SAME rfc822 generator the eml slice uses (depth=1 keeps attachments
    one level shallower — the mailbox itself costs a container level);
    the From_ separator line carries the envelope sender."""
    msgs = []
    for _ in range(rng.randint(2, 3)):
        sender = "%s@%s.example" % (rng.choice(_WORDS), rng.choice(_WORDS))
        msgs.append((sender, _gen_eml_payload(rng, depth=1)))
    return build_mbox(msgs)


def _gen_plist_payload(rng: random.Random) -> str:
    """An Apple binary property list (core/plistbin.py; builder twin =
    stdlib plistlib, so the corpus cross-validates the hand-rolled
    reader): a bundle-info-shaped dict — strings, ints, reals, bools, a
    word array, and half the time a nested dict with a data blob."""
    obj = {
        "CFBundleName": _words(rng, 2),
        "CFBundleVersion": "%d.%d.%d"
        % (rng.randint(0, 9), rng.randint(0, 20), rng.randint(0, 99)),
        "BuildNumber": rng.randint(1, 10**6),
        "Ratio": round(rng.uniform(0, 4), 4),
        "Enabled": rng.random() < 0.5,
        "Keywords": [rng.choice(_WORDS) for _ in range(rng.randint(2, 6))],
    }
    if rng.random() < 0.5:
        obj["Payload"] = {
            "notes": _sentence(rng),
            "blob": bytes(rng.randrange(256) for _ in range(rng.randint(4, 24))),
        }
    return build_bplist(obj).decode("latin-1")


def _gen_font_payload(rng: random.Random) -> str:
    """A REAL font file (bytes-as-text): minimal sfnt (name/head/maxp with
    proper checksums) as TrueType or OTTO-flavored, half wrapped in a WOFF
    container (core/fontbin.py builders). Metadata-only payload — naming
    lands in the font_family/font_name meta keys, no body spans."""
    family = " ".join(
        w.capitalize() for w in (rng.choice(_WORDS), rng.choice(_WORDS))
    )
    sub = rng.choice(("Regular", "Bold", "Italic", "Light"))
    version = "Version %d.%d" % (rng.randint(1, 4), rng.randint(0, 9))
    flavor = "otf" if rng.random() < 0.35 else "ttf"
    sfnt = build_sfnt(
        family,
        sub,
        version,
        flavor=flavor,
        units_per_em=rng.choice((1000, 2048)),
        n_glyphs=rng.randint(50, 900),
    )
    if rng.random() < 0.5:
        return build_woff(sfnt, compress=rng.random() < 0.8).decode("latin-1")
    return sfnt.decode("latin-1")


def _gen_sqlite_payload(rng: random.Random) -> str:
    """A REAL SQLite database file (bytes-as-text): 1-3 user tables of
    word/NULL/integer cells built via the stdlib C library
    (core/sqlitebin.py ``build_sqlite``); extraction parses the bytes back
    with the hand-rolled b-tree reader, never the C parser."""
    tables = []
    for t in range(rng.randint(1, 3)):
        tname = "%s_%d" % (rng.choice(_WORDS), t)
        cols = ["id_n"] + [
            "%s_%d" % (rng.choice(_WORDS), c) for c in range(rng.randint(1, 3))
        ]
        rows = []
        for r_i in range(rng.randint(3, 25)):
            vals: list = [r_i]
            for _c in cols[1:]:
                k = rng.random()
                if k < 0.1:
                    vals.append(None)
                else:
                    vals.append(_words(rng, rng.randint(1, 6)))
            rows.append(tuple(vals))
        tables.append((tname, cols, rows))
    return build_sqlite(tables).decode("latin-1")


def _gen_png_payload(rng: random.Random) -> str:
    """Embedded-media member bytes-as-text: a REAL image head — PNG magic +
    IHDR with seeded dims and correct chunk CRC (or, ~1 in 4, a JPEG
    SOI+SOF0 head) + seeded filler. Header-parseable without image
    libraries, so extraction records true media dimensions."""
    w, h = rng.randint(16, 1920), rng.randint(16, 1080)
    if rng.random() < 0.25:
        exif = None
        if rng.random() < 0.5:  # half the JPEG members carry real APP1/Exif
            exif = {
                "make": "TwcCam",
                "model": "M%d" % rng.randint(0, 9),
                "orientation": rng.randint(1, 8),
                "datetime": "2025:%02d:%02d %02d:%02d:%02d"
                % (
                    rng.randint(1, 12),
                    rng.randint(1, 28),
                    rng.randint(0, 23),
                    rng.randint(0, 59),
                    rng.randint(0, 59),
                ),
                "gps": (
                    round(rng.uniform(-90, 90), 2),
                    round(rng.uniform(-180, 180), 2),
                ),
            }
        return build_jpeg(w, h, exif=exif).decode("latin-1")
    texts = None
    if rng.random() < 0.4:
        # ~40% of PNG members carry tEXt/iTXt metadata (Title, half an
        # Author too; 1-in-4 titles draw non-latin-1 text so the iTXt
        # utf-8 path — half of those zlib-compressed — stays exercised)
        title = _words(rng, 3).title()
        if rng.random() < 0.25:
            title = "Déjà — " + title
        texts = [("Title", title)]
        if rng.random() < 0.5:
            texts.append(("Author", "Cam " + rng.choice(_WORDS).title()))
    filler = "".join(rng.choice("0123456789abcdef") for _ in range(rng.randint(32, 96)))
    return build_png(
        w,
        h,
        filler.encode("ascii"),
        texts=texts,
        itxt_compressed=texts is not None and rng.random() < 0.5,
    ).decode("latin-1")


def _encode_archive(rng: random.Random, entries: list[tuple[str, str]]) -> str:
    """Serialize members as one of the archive shapes the extraction core
    parses — REAL PK-zip bytes (~40%; seeded per-member stored/deflate
    mix, 1-in-5 of those a zip64 layout and 1-in-5 a streamed
    data-descriptor layout), REAL ustar tar (~15%), tar wrapped in a REAL
    gzip / xz / bz2 / compress-LZW / LZ4-frame / zstd / lzma-alone stream
    (~6/3/3/1/1/1/1% — the .tar.gz/.tar.xz/.tar.bz2/.tar.Z/.tar.lz4/
    .tar.zst/.tar.lzma paths: decompress ->
    re-sniff -> tar recursion), or the TWC1 analog dialect (rest). All
    route through the same recursive member walk (zipbin / tarbin /
    gzipbin / lz4bin / container)."""
    r = rng.random()
    if r < 0.4:
        return build_zip_text(
            entries,
            deflate=[rng.random() < 0.5 for _ in entries],
            zip64=rng.random() < 0.2,
            data_descriptor=rng.random() < 0.2,
        )
    if r < 0.55:
        return build_tar_text(entries)
    if r < 0.61:
        tar = build_tar_text(entries)
        if len(tar) % 3 == 0 and len(tar) >= 2:
            # ~1/3 multi-member gzip (the pigz / rotated-log /
            # `cat a.gz b.gz` shape — RFC 1952 §2.2): the tar stream
            # splits mid-byte across two members; the decoder
            # concatenates. The split decision derives from the PAYLOAD
            # LENGTH, never an rng draw — _encode_archive runs mid-doc
            # for nested containers, so an extra draw here would shift
            # every downstream byte (the xml-root shared-generator rule)
            cut = len(tar) // 2
            return gzip_text(tar[:cut]) + gzip_text(tar[cut:])
        return gzip_text(tar)
    if r < 0.64:
        return xz_text(build_tar_text(entries))
    if r < 0.67:
        return bz2_text(build_tar_text(entries))
    if r < 0.68:  # tar.Z (UNIX compress LZW wrapper) — carved off the
        # TWC1 range; archives outside [0.67, 0.69) keep their
        # serialization bit-exactly (z_text makes no rng draws)
        return z_text(build_tar_text(entries))
    if r < 0.69:  # tar.lz4 (LZ4 frame wrapper, continuation r5) — carved
        # off the tar.Z sub-range [0.67, 0.69): the SAME r draw decides,
        # so archives outside [0.68, 0.69) keep their serialization
        # bit-exactly (lz4_text makes no rng draws)
        return lz4_text(build_tar_text(entries))
    if r < 0.70:  # tar.zst (Zstandard store frame, continuation r5) —
        # carved off the TWC1 range; archives with r >= 0.70 keep their
        # serialization bit-exactly (zstd_text makes no rng draws)
        return zstd_text(build_tar_text(entries))
    if r < 0.71:  # tar.lzma (legacy alone-format wrapper, continuation
        # r5) — carved off the TWC1 range; archives with r >= 0.71 keep
        # their serialization bit-exactly (lzma_text makes no rng draws)
        return lzma_text(build_tar_text(entries))
    return build_container(entries)


def _gen_container_payload(rng: random.Random, depth: int = 0) -> str:
    """Raw container payload (FIXTURES.md §1b): 2-6 members mixing
    text/html/pdf/media, ~1-in-4 docs carrying one nested container;
    ~1-in-5 top-level archives are document-shaped — OOXML
    ([Content_Types].xml marker + xml members) or, r5, OpenDocument
    (mimetype marker + content.xml; odt/ods/odp ~ 2:1:1) — the
    zip-that-is-a-document case. Every archive (any
    nesting level, any shape) draws its serialization from _encode_archive's
    real-zip / real-tar / wrapped-tar (gz/xz/bz2/Z/lz4/zst/lzma) / TWC1
    mix."""
    entries: list[tuple[str, str]] = []
    if depth == 0 and rng.random() < 0.2:  # document-shaped archive
        shape = rng.random()
        if shape >= 0.72:  # ODF (r5): mimetype marker + content.xml
            sub = "odt" if shape < 0.86 else ("ods" if shape < 0.93 else "odp")
            entries.append(("mimetype", _ODF_MIMES[sub]))
            entries.append(("content.xml", _gen_odf_content_xml(rng, sub)))
            return _encode_archive(rng, entries)
        if shape >= 0.68:  # XPS/OpenXPS (continuation r5; carved off the
            # xlsx sub-range tail — docs with shape < 0.68 keep their
            # payloads bit-exactly): an OPC package whose page text lives
            # in Glyphs/@UnicodeString ATTRIBUTES (core/html.py
            # xps_fpage_text); carries [Content_Types].xml like a real
            # .xps, so detection-order (.fdseq/.fpage before the OOXML
            # marker) stays exercised
            entries.append(("[Content_Types].xml", _gen_xml_payload(rng)))
            entries.append(
                (
                    "FixedDocumentSequence.fdseq",
                    '<FixedDocumentSequence xmlns="http://schemas.microsoft.com/'
                    'xps/2005/06"><DocumentReference Source="/Documents/1/'
                    'FixedDocument.fdoc" /></FixedDocumentSequence>',
                )
            )
            n_pages = rng.randint(1, 3)
            entries.append(
                (
                    "Documents/1/FixedDocument.fdoc",
                    "<FixedDocument>"
                    + "".join(
                        '<PageContent Source="/Documents/1/Pages/%d.fpage" />' % p
                        for p in range(1, n_pages + 1)
                    )
                    + "</FixedDocument>",
                )
            )
            for p in range(1, n_pages + 1):
                entries.append(
                    (
                        "Documents/1/Pages/%d.fpage" % p,
                        _gen_xps_fpage(rng),
                    )
                )
            return _encode_archive(rng, entries)
        entries.append(("[Content_Types].xml", _gen_xml_payload(rng)))
        if shape < 0.40:  # docx: WordprocessingML w:t runs
            entries.append(("word/document.xml", _gen_docx_xml(rng)))
            if rng.random() < 0.5:
                entries.append(("word/media/image1.png", _gen_png_payload(rng)))
        elif shape < 0.58:  # pptx: DrawingML a:t runs across 1-3 slides
            for s in range(rng.randint(1, 3)):
                entries.append(
                    ("ppt/slides/slide%d.xml" % (s + 1), _gen_pptx_slide_xml(rng))
                )
        else:  # xlsx: sharedStrings + one sheet
            shared, sheet = _gen_xlsx_xml(rng)
            entries.append(("xl/sharedStrings.xml", shared))
            entries.append(("xl/worksheets/sheet1.xml", sheet))
        return _encode_archive(rng, entries)
    nested_budget = 1 if (depth == 0 and rng.random() < 0.45) else 0
    for i in range(rng.randint(2, 6)):
        k = rng.random()
        if nested_budget and k < 0.2:
            nested_budget -= 1
            entries.append(("nested_%d.twc" % i, _gen_container_payload(rng, depth + 1)))
        elif k < 0.45:
            entries.append(("member_%d.log" % i, _gen_text_payload(rng)))
        elif k < 0.65:
            entries.append(("member_%d.html" % i, _gen_html_payload(rng)))
        elif k < 0.8:
            entries.append(("member_%d.pdf" % i, _gen_pdf_payload(rng)))
        elif k < 0.85:
            entries.append(("member_%d.rtf" % i, _gen_rtf_payload(rng)))
        elif k < 0.9:
            entries.append(("member_%d.eml" % i, _gen_eml_payload(rng, depth + 1)))
        elif k < 0.95:
            entries.append(("member_%d.doc" % i, _gen_ole_payload(rng)))
        elif k < 0.975:
            entries.append(("member_%d.png" % i, _gen_png_payload(rng)))
        else:  # font member (final r5, carved off the png draw's tail)
            entries.append(("member_%d.woff" % i, _gen_font_payload(rng)))
    return _encode_archive(rng, entries)


def _gen_ole_payload(rng: random.Random) -> str:
    """Legacy binary Office payload: half Word 97 .doc (piece-table text,
    ~1-in-4 forced utf-16 pieces via CJK words), ~1/6 Outlook .msg
    (__substg property streams, half 001F utf-16 / half 001E byte
    variants), ~1/5 PowerPoint 97 .ppt (1-4 slides of TextBytes/
    TextChars atoms), rest Excel BIFF8 .xls (LABELSST strings + NUMBER
    cells). The msg slice carves the head of the old ppt sub-range of
    the SAME k draw (late r5) — the bounds keep all four subkinds
    present among the seed-42 top-level ole docs."""
    k = rng.random()
    if k < 0.5:
        paras = [_sentence(rng) for _ in range(rng.randint(2, 8))]
        if rng.random() < 0.25:  # utf-16 piece path
            paras.append("Unicode para: " + " ".join(rng.sample(_CID_WORDS, 3)))
        return build_doc("\n".join(paras)).decode("latin-1")
    if k < 0.66:
        subject = _sentence(rng)
        paras = [_sentence(rng) for _ in range(rng.randint(1, 5))]
        if rng.random() < 0.25:  # force the 001F unicode-property path
            paras.append("返信 " + " ".join(rng.sample(_CID_WORDS, 2)))
        user = rng.choice(_WORDS)
        return build_msg(
            subject,
            "\n".join(paras),
            sender_name=user.capitalize(),
            sender_email="%s@example.com" % user,
            to="%s@example.org" % rng.choice(_WORDS),
            unicode_props=rng.random() < 0.5,
        ).decode("latin-1")
    if k < 0.875:
        slides = []
        for _s in range(rng.randint(1, 4)):
            paras = [_sentence(rng) for _ in range(rng.randint(1, 4))]
            if rng.random() < 0.2:  # TextCharsAtom (utf-16) path
                paras.append("スライド " + " ".join(rng.sample(_CID_WORDS, 2)))
            slides.append(paras)
        return build_ppt(slides).decode("latin-1")
    header = [rng.choice(_WORDS) for _ in range(rng.randint(2, 5))]
    rows: list[list] = [header]
    for r in range(rng.randint(2, 10)):
        row: list = []
        for _c in range(len(header)):
            if rng.random() < 0.5:
                row.append(rng.choice(_WORDS))
            elif rng.random() < 0.5:
                row.append(rng.randint(0, 100000))
            else:
                row.append(round(rng.uniform(-1000, 1000), 3))
        rows.append(row)
    return build_xls("Sheet_%d" % rng.randint(1, 9), rows).decode("latin-1")


def _make_spans(payloads: list[tuple[str, str, str]]) -> list[dict[str, Any]]:
    """payloads: (kind_hint, text, media_ref) -> spans with raw byte offsets."""
    spans = []
    off = 0
    for kind, text, media_ref in payloads:
        spans.append({"kind": kind, "text": text, "media_ref": media_ref, "offset": off})
        off += max(len(text), 1)
    return spans


def gen_doc(i: int, seed: int = 42) -> dict[str, Any]:
    """One corpus row, seeded per-doc: ``gen_doc(i, seed)`` depends only on
    (i, seed), never on generation order — so the corpus can be synthesized
    DISTRIBUTED (each executor generates its own id range) and is identical
    under any partitioning. This is the 100 TB design: the corpus is never
    materialized on the driver."""
    rng = random.Random("%d:%09d" % (seed, i))
    doc_id = "doc_%07d" % i
    r = rng.random()
    if r < 0.01:  # skew tail: giant pdf
        payloads = [("pdf", _gen_pdf_payload(rng, giant=True), "")]
    elif r < 0.41:
        sub = rng.random()
        if sub < 0.70:
            payloads = [("text", _gen_text_payload(rng), "")]
        elif sub < 0.76:
            payloads = [("text", _gen_csv_payload(rng), "")]
        elif sub < 0.78:  # Parquet file (continuation r5; carved off the
            # csv slice tail — docs outside [0.76, 0.78) keep their
            # payloads bit-exactly, the sub draw precedes generation).
            # parquet docs skip the charset/wrap draws below (binary
            # tables, the avro/dbf rule).
            payloads = [("parquet", _gen_parquet_payload(rng), "")]
        elif sub < 0.80:  # Avro object container (continuation r5; carved
            # off the csv slice tail — docs outside [0.78, 0.80) keep
            # their payloads bit-exactly, the sub draw precedes
            # generation). avro docs skip the charset/wrap draws below
            # (binary tables are neither transcoded nor
            # wrapper-compressed in the mix).
            payloads = [("avro", _gen_avro_payload(rng), "")]
        elif sub < 0.82:  # dBase table (continuation r5; carved off the
            # csv slice tail — docs outside [0.80, 0.82) keep their
            # payloads bit-exactly, the sub draw precedes generation).
            # dbf docs skip the charset/z wrap draws below (binary tables
            # are neither transcoded nor wrapper-compressed in the mix).
            payloads = [("dbf", _gen_dbf_payload(rng), "")]
        elif sub < 0.90:
            payloads = [("text", _gen_json_payload(rng), "")]
        elif sub < 0.92:  # Standard MIDI file (continuation r5; carved off
            # the json slice tail — docs outside [0.90, 0.92) keep their
            # payloads bit-exactly, the sub draw precedes generation).
            # midi docs skip the charset/wrapper draws below (binary
            # streams are neither transcoded nor wrapper-compressed).
            payloads = [("midi", _gen_midi_payload(rng), "")]
        else:
            xmlp = _gen_xml_payload(rng)
            # xml subkind variety (continuation r5): rewrite the root
            # element on ~3/4 of top-level xml docs — rss / atom feed /
            # svg, the Tika-detected syndication/image subkinds. The pick
            # derives from the payload LENGTH, not an rng draw, so no
            # downstream draw shifts anywhere (shared-generator rule).
            root = ("doc", "rss", "feed", "svg")[len(xmlp) % 4]
            if root != "doc":
                xmlp = xmlp.replace("<doc>", "<%s>" % root, 1).replace(
                    "</doc>", "</%s>" % root, 1
                )
            payloads = [("text", xmlp, "")]
        # charset slice: ~18% of text-family docs arrive re-encoded (BOM'd
        # UTF-16/32/8, heuristic BOM-less UTF-16, Shift-JIS/GBK CJK pages);
        # the wrap draw comes AFTER payload generation so unwrapped docs
        # keep their pre-r5 content byte-identically
        if payloads[0][0] == "text" and rng.random() < 0.18:
            payloads = [("text", _charset_wrap(rng, payloads[0][1]), "")]
        # compress slice (continuation r5): ~2% of text-family docs arrive
        # wrapper-compressed (the single-document wrapper path — decode,
        # re-sniff, recurse): half as a .log.Z / .csv.Z LZW stream, half
        # as an .lz4 frame (the LZ4 half is carved out of the SAME wrap
        # draw's [0.01, 0.02) sub-range, so .Z docs and unwrapped docs
        # keep their content byte-identically). The wrap draw is the LAST
        # draw of this branch and comes AFTER payload generation.
        if payloads[0][0] == "text":
            w = rng.random()
            if w < 0.01:
                payloads = [("z", z_text(payloads[0][1]), "")]
            elif w < 0.02:
                # ~half the .lz4 docs arrive as TWO concatenated frames
                # (`cat a.lz4 b.lz4` / lz4-CLI append semantics) — the
                # extra draw comes AFTER every other use of this doc's
                # rng, so nothing downstream shifts
                body = payloads[0][1]
                if rng.random() < 0.5 and len(body) >= 2:
                    cut = len(body) // 2
                    wrapped = lz4_text(body[:cut]) + lz4_text(body[cut:])
                else:
                    wrapped = lz4_text(body)
                payloads = [("lz4", wrapped, "")]
            elif w < 0.03:
                # .zst store frames (continuation r5) — the [0.02, 0.03)
                # sub-range of the SAME wrap draw, so .Z/.lz4 docs and
                # unwrapped docs keep their content byte-identically.
                # ~half arrive as TWO concatenated frames (zstd's
                # multi-frame append shape; post-draw, nothing shifts)
                body = payloads[0][1]
                if rng.random() < 0.5 and len(body) >= 2:
                    cut = len(body) // 2
                    wrapped = zstd_text(body[:cut]) + zstd_text(body[cut:])
                else:
                    wrapped = zstd_text(body)
                payloads = [("zstd", wrapped, "")]
            elif w < 0.04:
                # legacy .lzma alone-format streams (continuation r5) —
                # the [0.03, 0.04) sub-range of the SAME wrap draw, so
                # every earlier-wrapped and unwrapped doc keeps its
                # content byte-identically
                payloads = [("lzma", lzma_text(payloads[0][1]), "")]
    elif r < 0.605:
        payloads = [("html", _gen_html_payload(rng), "")]
        # declared-charset slice (final r5): ~6% of html docs arrive as a
        # CJK/cp1252 page in its declared <meta charset>; the replace draw
        # comes AFTER payload generation so undeclared docs keep their
        # content byte-identically
        if rng.random() < 0.06:
            payloads = [("html", _gen_html_charset_page(rng), "")]
    elif r < 0.63:  # calendar/contact slice (late r5): ics ~ 3/5, vcf ~ 2/5
        if rng.random() < 0.6:
            payloads = [("ics", _gen_ics_payload(rng), "")]
        else:
            payloads = [("vcf", _gen_vcf_payload(rng), "")]
    elif r < 0.652:  # rfc822/MIME message (message-as-container path)
        payloads = [("eml", _gen_eml_payload(rng), "")]
    elif r < 0.655:  # TNEF winmail.dat (continuation r5; carved off the
        # eml slice tail — docs outside [0.652, 0.655) keep their
        # payloads bit-exactly, the r draw precedes generation)
        payloads = [("tnef", _gen_tnef_payload(rng), "")]
    elif r < 0.66:  # mbox mailbox (final r5; carved off the eml slice tail
        # — docs outside [0.655, 0.66) keep their payloads bit-exactly)
        payloads = [("mbox", _gen_mbox_payload(rng), "")]
    elif r < 0.82:
        payloads = [("pdf", _gen_pdf_payload(rng), "")]
    elif r < 0.83:  # sqlite database slice (final r5; carved off the pdf
        # tail — docs outside [0.82, 0.83) keep their payloads bit-exactly)
        payloads = [("sqlite", _gen_sqlite_payload(rng), "")]
    elif r < 0.855:  # rtf document
        payloads = [("rtf", _gen_rtf_payload(rng), "")]
    elif r < 0.86:  # binary plist (final r5; carved off the rtf slice tail
        # — docs outside [0.855, 0.86) keep their payloads bit-exactly)
        payloads = [("plist", _gen_plist_payload(rng), "")]
    elif r < 0.93:  # interleaved container doc (pre-flattened zip analog)
        payloads = []
        media_n = 0
        for _ in range(rng.randint(3, 8)):
            k = rng.random()
            if k < 0.35:
                payloads.append(("text", _gen_text_payload(rng), ""))
            elif k < 0.6:
                payloads.append(("html", _gen_html_payload(rng), ""))
            elif k < 0.75:
                payloads.append(("pdf", _gen_pdf_payload(rng), ""))
            else:
                payloads.append(("media", "", "blob://%s/%d" % (doc_id, media_n)))
                media_n += 1
    else:  # RAW container doc (TWC1 archive; recursive extraction path)
        # ~1-in-4 of this slice is a legacy binary Office doc; late r5:
        # the next ~12% an OpenDocument package and ~3% an EPUB (both
        # mimetype-marker zips); final r5: the next ~10% a WARC web archive
        sub = rng.random()
        if sub < 0.25:
            payloads = [("ole", _gen_ole_payload(rng), "")]
        elif sub < 0.37:
            payloads = [("zip", _gen_odf_payload(rng), "")]
        elif sub < 0.40:
            payloads = [("zip", _gen_epub_payload(rng), "")]
        elif sub < 0.50:  # WARC web archive (final r5; carved off the
            # generic-container range — docs with sub >= 0.50 keep their
            # payloads bit-exactly, the sub draw precedes generation)
            payloads = [("warc", _gen_warc_payload(rng), "")]
        elif sub < 0.56:  # Unix ar / Debian .deb (carved off the
            # generic-container range — docs with sub >= 0.56 keep their
            # payloads bit-exactly, the sub draw precedes generation)
            payloads = [("ar", _gen_ar_payload(rng), "")]
        elif sub < 0.60:  # cpio newc archive (carved off the
            # generic-container range — docs with sub >= 0.60 keep their
            # payloads bit-exactly, the sub draw precedes generation)
            payloads = [("cpio", _gen_cpio_payload(rng), "")]
        elif sub < 0.63:  # 7z archive (continuation r5; carved off the
            # generic-container range — docs with sub >= 0.63 keep their
            # payloads bit-exactly, the sub draw precedes generation)
            payloads = [("7z", _gen_7z_payload(rng), "")]
        elif sub < 0.66:  # RAR5 archive (continuation r5; carved off the
            # generic-container range — docs with sub >= 0.66 keep their
            # payloads bit-exactly, the sub draw precedes generation)
            payloads = [("rar", _gen_rar_payload(rng), "")]
        elif sub < 0.69:  # ISO 9660 disc image (continuation r5; carved
            # off the generic-container range — docs with sub >= 0.69
            # keep their payloads bit-exactly, the sub draw precedes
            # generation)
            payloads = [("iso", _gen_iso_payload(rng), "")]
        elif sub < 0.72:  # MS Cabinet (continuation r5; carved off the
            # generic-container range — docs with sub >= 0.72 keep their
            # payloads bit-exactly, the sub draw precedes generation)
            payloads = [("cab", _gen_cab_payload(rng), "")]
        elif sub < 0.75:  # XPS package (continuation r5; carved off the
            # generic-container range — docs with sub >= 0.75 keep their
            # payloads bit-exactly, the sub draw precedes generation)
            payloads = [("zip", _gen_xps_payload(rng), "")]
        else:
            payloads = [("zip", _gen_container_payload(rng), "")]
    return {"doc_id": doc_id, "spans": _make_spans(payloads)}


N_ADVERSARIAL = 40


def _wrapper_bombs() -> tuple[str, str, str]:
    """One decode bomb per compression wrapper: a payload that inflates past
    ``errors.MAX_INFLATED`` (64 MiB), pinning the bomb cap as corpus data —
    the cap must register in the error taxonomy at soak scale, never fail a
    task. Memoized in the PROCESS-global store, for two stacked reasons:
    (1) an ``functools.lru_cache`` wrapper is not a plain function, so
    cloudpickle ships it BY REFERENCE even when its module is registered by
    value — workers without the package importable then raise
    ModuleNotFoundError (the round-2 live-object invariant, rediscovered
    r5); (2) a module-level dict (mutable default included) resets on every
    task's by-value module reconstruction, re-paying the ~1-3 s 65-MiB
    compress per task (finding 26). ``proc_memo`` lives on ``builtins`` and
    survives both."""
    memo = proc_memo("corpus_wrapper_bombs")
    if "v" not in memo:
        big = "\x00" * (65 * 1024 * 1024)
        memo["v"] = (gzip_text(big), xz_text(big), bz2_text(big))
    return memo["v"]


def _flip(text: str, index: int, mask: int) -> str:
    """``text`` with the char at ``index`` (negative counts from the end)
    XORed with ``mask``: a one-byte corruption of a byte-stream payload."""
    i = index % len(text)
    return text[:i] + chr(ord(text[i]) ^ mask) + text[i + 1 :]


def _adversarial_payloads() -> list[tuple[str, str] | None]:
    """The ``N_ADVERSARIAL`` malformed payloads as ``(kind hint, text)``
    pairs in doc order, ``None`` for the empty doc. Each comment names the
    failure path its entry pins; a new pin is one appended entry plus an
    ``N_ADVERSARIAL`` bump."""
    depth_bomb = "x"
    for _ in range(12):
        depth_bomb = build_container([("deep.twc", depth_bomb)])
    gz = gzip_text("gzip wrapped text payload " * 4)
    gz_bomb, xz_bomb, bz2_bomb = _wrapper_bombs()
    # WordDocument stream rides the mini-stream; corrupt fcClx via the raw
    # bytes: find the FIB ident and overwrite fcClx at +0x01A2
    bad_doc = bytearray(build_doc("clx pointer goes nowhere"))
    ident = bad_doc.find(b"\xec\xa5")
    bad_doc[ident + 0x01A2 : ident + 0x01A6] = b"\xff\xff\xff\x0f"
    good_lzma = lzma_text("doomed lzma payload " * 30)
    good_pq = build_parquet_text(
        ["id_0", "name_1"], [[i, "doomed"] for i in range(8)], ["long", "string"]
    )
    return [
        # malformed html: unterminated tag
        ("html", "<!DOCTYPE html><html><body><p>broken <a href=" + "x" * 2000),
        # truncated pdf: no %%EOF
        ("pdf", "%PDF-1.4\n%%Page: 1\nBT 72.0 700.0 Td (cut"),
        None,  # empty doc
        # truncated container body
        ("zip", "PK\x03\x04TWC1\nE 8 5000\nbig.long payload cut short"),
        # container-depth bomb: self-nested past MAX_CONTAINER_DEPTH
        ("zip", depth_bomb),
        # REAL zip, EOCD cut off: binary-parser truncation path
        ("zip", build_zip_text([("a.log", "member body text")])[:-12]),
        # REAL zip with corrupted member bytes: CRC-mismatch path
        ("zip", build_zip_text([("x.log", "hello archive world")]).replace("hello", "jello", 1)),
        # REAL tar, end-of-archive zero blocks cut off
        ("tar", build_tar_text([("t.log", "tar member body")])[:-1024]),
        # REAL gzip with a corrupted byte mid-stream: inflate/CRC failure path
        ("gzip", gz[:15] + chr((ord(gz[15]) + 1) % 256) + gz[16:]),
        # REAL binary pdf with a dangling xref pointer: pdfbin malformed-xref path
        (
            "pdf",
            build_pdf_text([[(72.0, 700.0, "doomed page")]]).rsplit("startxref", 1)[0]
            + "startxref\n999999999\n%%EOF\n",
        ),
        # decompression bombs, one per wrapper: inflate past the 64 MiB cap
        ("gzip", gz_bomb),
        ("gzip", xz_bomb),
        ("gzip", bz2_bomb),
        # malformed rtf: group opened and never closed (core/rtf.py raise path)
        ("rtf", "{\\rtf1\\ansi {\\b bold run never closed"),
        # malformed eml: multipart whose closing --boundary-- is cut off
        (
            "eml",
            build_eml(
                "truncated message",
                "mailer@example.invalid",
                "inbox@example.invalid",
                "body before the cut",
                "<html><body><p>html part body</p></body></html>",
            ).rsplit("--=_twc_boundary_001--", 1)[0],
        ),
        # truncated CFB: header intact, sectors cut (olebin sector-bounds path)
        ("ole", build_doc("doomed legacy document body")[:700].decode("latin-1")),
        # .doc with an out-of-bounds Clx pointer (olebin FIB-validation path)
        ("ole", bytes(bad_doc).decode("latin-1")),
        # RC4-encrypted pdf with a NON-empty user password: the transparent
        # empty-password open fails -> "pdf: encrypted (password required)"
        (
            "pdf",
            build_pdf_text(
                [[(72.0, 700.0, "locked away")]], encrypt="rc4-128", encrypt_user_pw=b"secret"
            ),
        ),
        # unterminated iCalendar: VEVENT opened, END cut off (core/ical.py
        # raise path -> 'ics' taxonomy class)
        ("ics", build_ics([{"summary": "meeting that never ends"}]).rsplit("END:VEVENT", 1)[0]),
        # Outlook .msg with property streams but neither subject nor body
        # (olebin msg-validation path -> 'msg:' prefix, 'ole' taxonomy class)
        (
            "ole",
            build_cfb(
                [
                    ("__substg1.0_0C1A001F", "Orphan Sender".encode("utf-16-le")),
                    ("__properties_version1.0", b"\x00" * 32),
                ]
            ).decode("latin-1"),
        ),
        # truncated SQLite database: header intact, b-tree pages cut
        # (sqlitebin bounds-check path -> 'sqlite' taxonomy class)
        (
            "sqlite",
            build_sqlite([("doomed", ["id_n", "body"], [(1, "row that will never be read")])])[
                :300
            ].decode("latin-1"),
        ),
        # truncated font: offset table intact, name table past EOF
        # (fontbin bounds-check path -> 'font' taxonomy class)
        ("font", build_sfnt("Doomed Grotesk")[:40].decode("latin-1")),
        # truncated WARC: Content-Length overruns the payload (warcbin
        # bounds-check path -> 'warc' taxonomy class)
        (
            "warc",
            build_warc([("https://cut.example.org/page", "text/html", "<html><body>doomed")])[:-40],
        ),
        # mbox with an EMPTY envelope sender in the From_ separator (the '@'
        # sniff corroborator sits after the double space, so the payload still
        # routes mbox; parse_mbox raise path -> 'mbox' taxonomy class)
        (
            "mbox",
            "From  doomed@example.invalid Thu Jan  1 00:00:00 2026\n"
            "From: doomed@example.invalid\n"
            "Subject: empty envelope sender\n\nbody line\n",
        ),
        # truncated binary plist: magic intact, trailer cut (plistbin
        # bounds-check path -> 'plist' taxonomy class)
        ("plist", build_bplist({"doomed": ["never", "read"]})[:-12].decode("latin-1")),
        # truncated ar archive: global magic + member header intact, member
        # data cut (arbin bounds-check path -> 'archive' taxonomy class via
        # the 'ar:' error prefix)
        ("ar", build_ar_text([("debian-binary", "2.0\n"), ("doomed.txt", "x" * 400)])[:-200]),
        # truncated cpio archive: entry header intact, data cut before the
        # TRAILER!!! terminator (cpiobin bounds-check path -> 'archive'
        # taxonomy class via the 'cpio:' error prefix)
        ("cpio", build_cpio_text([("doomed/d.txt", "y" * 400)])[:-200]),
        # corrupt .Z compress stream: valid magic + flags, then a first code
        # outside the literal range (0x1ff at 9 bits) — unz's
        # first-code-must-be-a-literal check -> 'z:' prefix in the 'archive'
        # taxonomy class (a merely-truncated .Z decodes short by design: the
        # format carries no trailer, exactly like the reference decoder)
        ("z", "\x1f\x9d\x90\xff\xff\xff\xff"),
        # truncated dBase table: header promises more records than the payload
        # carries (dbfbin record-overrun check -> 'dbf' taxonomy class)
        ("dbf", build_dbf_text(["ID", "NAME"], [[str(i), "row_%d" % i] for i in range(8)])[:-40]),
        # corrupted TNEF stream: one attachment-data byte flipped so the
        # attribute checksum fails (tnefbin verify path -> 'tnef' taxonomy
        # class) — the checksum is the format's only integrity device
        ("tnef", _flip(build_tnef_text("doomed", "body", [("a.txt", "x" * 200)]), -50, 0x01)),
        # corrupt LZ4 frame: a flipped content-checksum byte (unlz4's xxh32
        # verify path -> 'lz4:' prefix in the 'archive' taxonomy class; the
        # strict decoder also catches truncated blocks and bad header HC)
        ("lz4", _flip(lz4_text("doomed lz4 payload " * 40), -1, 0xFF)),
        # truncated MIDI: the last track's declared MTrk length overruns the
        # cut file (midibin track-bounds check -> 'midi' taxonomy class)
        ("midi", build_midi_text([[("track_name", "Doomed"), ("lyric", "x" * 80)]])[:-60]),
        # CRC-corrupt 7z: one flipped Copy-coded pack-stream byte so the
        # substream CRC verify fails ('7z:' prefix, 'archive' taxonomy class;
        # Copy guarantees the CRC path fires — an LZMA flip would usually
        # trip the entropy decoder first)
        ("7z", _flip(build_7z_text([("doomed.txt", "y" * 300)], codec="copy"), 40, 0xFF)),
        # CRC-corrupt RAR5: one flipped stored-member data byte so the member
        # CRC verify fails ('rar:' prefix in the 'archive' taxonomy class;
        # header CRCs stay intact — the data area sits between them)
        ("rar", _flip(build_rar_text([("doomed.txt", "w" * 250)]), -30, 0x01)),
        # checksum-corrupt zstd frame: one flipped content-checksum byte
        # (unzstd's xxh64 verify path -> 'zstd:' prefix in the 'archive'
        # taxonomy class; the strict decoder also catches truncated blocks,
        # reserved bits and frame-size mismatches)
        ("zstd", _flip(zstd_text("doomed zstd payload " * 30), -1, 0xFF)),
        # truncated .lzma alone stream: the 13-byte header declares an
        # EOS-terminated stream but the cut body never reaches the end
        # marker (liblzma's needs_input path -> 'lzma: truncated stream',
        # 'archive' taxonomy class)
        ("lzma", good_lzma[: len(good_lzma) // 2]),
        # truncated ISO 9660 image: the directory tree survives the cut but a
        # file extent points past end-of-image ('iso: file extent overruns
        # image' -> 'iso:' prefix, 'archive' taxonomy class)
        (
            "iso",
            build_iso_text([("doomed.txt", "iso payload " * 40), ("sub/deep.txt", "x" * 3000)])[
                : 23 * 2048
            ],
        ),
        # checksum-corrupt MSZIP cabinet: one flipped compressed-data byte so
        # the [MS-CAB] CFDATA checksum verify fails ('cab:' prefix, 'archive'
        # taxonomy class; the strict parser also catches bad CK signatures
        # and block/stream overruns)
        ("cab", _flip(build_cab_text([("doomed.txt", "cab payload " * 50)], mszip=True), -2, 0x55)),
        # sync-corrupt Avro container: one flipped byte in the trailing sync
        # marker so the per-block verify fails ('avro:' prefix -> 'avro'
        # taxonomy class)
        (
            "avro",
            _flip(
                build_avro_text(
                    [("id_0", "long"), ("name_1", "string")], [[i, "doomed"] for i in range(8)]
                ),
                -1,
                0xFF,
            ),
        ),
        # footer-corrupt Parquet: the high byte of the LE metadata-length
        # word blows the declared footer past the file ('parquet:' prefix ->
        # 'parquet' taxonomy class; framing magics stay intact — a flip
        # inside created_by would parse clean, the LENGTH field cannot)
        ("parquet", good_pq[:-6] + "\xff" + good_pq[-5:]),
    ]


def adversarial_rows(base: int) -> list[dict[str, Any]]:
    """The ``N_ADVERSARIAL`` deterministic malformed docs appended after doc
    index ``base`` — every parser's failure path pinned as corpus data."""
    return [
        {
            "doc_id": "doc_%07d" % (base + position),
            "spans": _make_spans([(*pair, "")] if pair else []),
        }
        for position, pair in enumerate(_adversarial_payloads())
    ]


def generate_corpus(n_docs: int, seed: int = 42, adversarial: bool = True) -> list[dict[str, Any]]:
    """Return rows ``{doc_id, spans}`` — the raw input corpus."""
    rows: list[dict[str, Any]] = [gen_doc(i, seed) for i in range(n_docs)]
    if adversarial:
        rows.extend(adversarial_rows(n_docs))
    return rows


def generate_golden(corpus_rows: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """Expected extractor output per doc (FIXTURES.md §2), via the shared core."""
    out = []
    for row in corpus_rows:
        res = extract_document(row["spans"])
        out.append(
            {
                "doc_id": row["doc_id"],
                "spans": res["spans"],
                "parse_ok": res["parse_ok"],
                "error": res["error"],
                "meta": res["meta"],
            }
        )
    return out


def smoke_corpus() -> list[dict[str, Any]]:
    """FIXTURES.md §5: five named docs mirroring the reference demo's smoke
    list (/root/reference/example/demo1.cpp:45-52)."""
    rng = random.Random(1042)
    # smoke_zip1 is a REAL PK-zip byte stream (the reference demo feeds
    # literal .zip files — example/demo1.cpp:48-49); smoke_zip2 keeps the
    # pre-flattened interleaved form.
    zip1 = [
        (
            "zip",
            build_zip_text(
                [
                    ("notes.log", _gen_text_payload(rng)),
                    ("cover.png", _gen_png_payload(rng)),
                    ("index.html", _gen_html_payload(rng)),
                ],
                deflate=[False, True, True],
            ),
            "",
        ),
    ]
    zip2 = [
        ("pdf", _gen_pdf_payload(rng), ""),
        ("text", _gen_text_payload(rng), ""),
        ("media", "", "blob://smoke_zip2/0"),
        ("media", "", "blob://smoke_zip2/1"),
    ]
    return [
        {"doc_id": "smoke_log", "spans": _make_spans([("text", _gen_text_payload(rng), "")])},
        {"doc_id": "smoke_png", "spans": _make_spans([("media", "", "blob://smoke_png/0")])},
        {"doc_id": "smoke_zip1", "spans": _make_spans(zip1)},
        {"doc_id": "smoke_zip2", "spans": _make_spans(zip2)},
        {"doc_id": "smoke_csv", "spans": _make_spans([("text", "a,b,c\n1,2,3\n4,5,6", "")])},
    ]
