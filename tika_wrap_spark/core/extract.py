"""Per-document extraction orchestration: sniff -> route -> extract ->
ordered span assembly + flat metadata map.

This is the analog of the reference's whole parse path
(``JavaEnvPrivate::autoParserParserFile``, src/java-env.cpp:192-328):
  * routing by content detection   (src/java-env.cpp:233-248 + server-side)
  * ordered text output            (``ctx.txt`` chunk append, :268-271,310)
  * flat string/string metadata    (``meta.txt`` JSON flatten, :290-305)
  * per-document boolean status    (:316-325; failures are data, not crashes)

Container subkinds land in the ``container_format`` meta key:
  * a CFB document lands 'ole-doc'/'ole-xls'/'ole-ppt'/'ole-msg'
    (core/olebin.py);
  * a zip whose ``mimetype`` marker member (ODF 1.3 §3.3 / EPUB OCF,
    ``ODF_MARKER``) names an OpenDocument type lands 'odf-odt'/'odf-ods'/
    'odf-odp' ('odf-other' for unknown subtypes), ``application/epub+zip``
    lands 'epub'; content.xml strips through the generic xml-member path,
    epub chapters ride the html extractor, and the marker member is never
    emitted as content;
  * an OPC zip with .fdseq/.fpage members lands 'xps', checked BEFORE the
    OOXML marker (a real .xps also carries [Content_Types].xml); page text
    comes from Glyphs/@UnicodeString attributes (html.xps_fpage_text) and
    the fdseq/fdoc structure members are never emitted or counted;
  * a PDF carrying /EmbeddedFiles (PDF 32000-1 §7.7.4 name tree, §7.11.4
    embedded file streams) lands 'pdf-attach': each attachment recurses
    like an archive member, counted in ``n_container_entries``.

Output span contract (the north_star invariant): an ``offset``-ordered
``array<struct<kind,text,media_ref,offset>>`` where ``offset`` is the running
sum of preceding kept-text lengths; per-document equality is exact on
``(kind, text, media_ref, order)``.
"""

from __future__ import annotations

from typing import Any, Callable

from tika_wrap_spark.core.arbin import parse_ar
from tika_wrap_spark.core.avrobin import avro_extract
from tika_wrap_spark.core.cabbin import parse_cab
from tika_wrap_spark.core.charset import decode_charset, decode_html_charset
from tika_wrap_spark.core.container import MAGIC as TWC1_MAGIC
from tika_wrap_spark.core.container import MAX_CONTAINER_DEPTH, parse_container
from tika_wrap_spark.core.cpiobin import parse_cpio
from tika_wrap_spark.core.dbfbin import dbf_to_text
from tika_wrap_spark.core.eml import parse_eml
from tika_wrap_spark.core.errors import ExtractError, payload_bytes
from tika_wrap_spark.core.exifbin import jpeg_exif
from tika_wrap_spark.core.fontbin import parse_font_meta
from tika_wrap_spark.core.gzipbin import gunzip, unbz2, unlzma, unxz, unz
from tika_wrap_spark.core.html import (
    extract_html_blocks,
    extract_xml_text,
    html_title,
    xml_root_tag,
    xps_fpage_text,
)
from tika_wrap_spark.core.ical import parse_ical, parse_vcard
from tika_wrap_spark.core.isobin import parse_iso
from tika_wrap_spark.core.lz4bin import unlz4
from tika_wrap_spark.core.mbox import parse_mbox
from tika_wrap_spark.core.media import image_dims, png_text_meta
from tika_wrap_spark.core.midibin import midi_extract_text
from tika_wrap_spark.core.olebin import ole_extract_full
from tika_wrap_spark.core.parquetbin import parquet_extract
from tika_wrap_spark.core.pdf import page_dims, pages_to_texts, parse_pdf_pages
from tika_wrap_spark.core.pdfbin import is_real_pdf_text, parse_real_pdf
from tika_wrap_spark.core.plistbin import plist_extract
from tika_wrap_spark.core.rarbin import parse_rar
from tika_wrap_spark.core.rtf import rtf_to_text
from tika_wrap_spark.core.sevenzip import parse_7z
from tika_wrap_spark.core.sniff import (
    KIND_AR,
    KIND_AVRO,
    KIND_BZ2,
    KIND_CAB,
    KIND_CPIO,
    KIND_CSV,
    KIND_DBF,
    KIND_EML,
    KIND_FONT,
    KIND_GZIP,
    KIND_HTML,
    KIND_ICS,
    KIND_ISO,
    KIND_JSON,
    KIND_LZ4,
    KIND_LZMA,
    KIND_MBOX,
    KIND_MEDIA,
    KIND_MIDI,
    KIND_OLE,
    KIND_PARQUET,
    KIND_PDF,
    KIND_PLIST,
    KIND_RAR,
    KIND_RTF,
    KIND_SEVENZ,
    KIND_SQLITE,
    KIND_TAR,
    KIND_TEXT,
    KIND_TNEF,
    KIND_VCF,
    KIND_WARC,
    KIND_XML,
    KIND_XZ,
    KIND_Z,
    KIND_ZIP,
    KIND_ZSTD,
    sniff_kind,
)
from tika_wrap_spark.core.sqlitebin import sqlite_extract
from tika_wrap_spark.core.tarbin import parse_tar
from tika_wrap_spark.core.tnefbin import parse_tnef
from tika_wrap_spark.core.warcbin import parse_warc_text
from tika_wrap_spark.core.zipbin import parse_zip
from tika_wrap_spark.core.zstdbin import unzstd

# container member marking an OOXML-analog archive (real OOXML is zip with
# exactly this member; QMimeDatabase-style container-format distinction)
OOXML_MARKER = "[Content_Types].xml"

# OpenDocument marker (ODF 1.3 §3.3): a zip whose ``mimetype`` member holds
# the package media type. Tika routes these via the same container sniff
# (the reference inherits ODF through Tika's OpenDocumentParser,
# src/java-env.cpp:313); the subkind suffix distinguishes
# Writer/Calc/Impress the way the OLE path distinguishes doc/xls/ppt.
ODF_MARKER = "mimetype"
_ODF_MIME_PREFIX = "application/vnd.oasis.opendocument."
_ODF_SUBKINDS = {"text": "odt", "spreadsheet": "ods", "presentation": "odp"}
_EPUB_MIME = "application/epub+zip"

# Debian package marker (deb(5)): an ar archive whose first member is the
# ``debian-binary`` version text; control.tar.gz / data.tar.xz members
# recurse through the existing wrapper/tar paths
DEB_MARKER = "debian-binary"

# sniff kinds eligible for charset detection — text family only; binary
# magics (PNG/zip/pdf bytes-as-text) are high-byte-dense and must never be
# transcoded (Tika's AutoDetectReader likewise guards text/* parses only)
_CHARSET_SNIFF_KINDS = frozenset({KIND_TEXT, KIND_CSV, KIND_JSON})

# the flat meta map in output order: per-kind counters + per-format keys
# mirror the metadata Tika's /meta endpoint exposes (title, page
# counts/dims); values are flat strings only (reference coercion,
# src/java-env.cpp:300). The counters are kept as ints until the end.
_META_KEYS = """
    n_spans_in n_spans_out n_chars n_pdf_pages n_html_blocks n_media
    n_containers n_container_entries container_depth container_format
    html_title pdf_crypt pdf_title pdf_outline pdf_page1_w pdf_page1_h
    media1_w media1_h media1_exif_orientation media1_exif_datetime
    media1_png_title media1_png_author eml_subject eml_from ical_summary
    sqlite_tables dbf_fields avro_fields parquet_columns midi_tracks
    midi_track_name plist_keys warc_target font_family font_name xml_root
    charset n_transcoded kinds parser
""".split()
_COUNTERS = """
    n_spans_in n_pdf_pages n_html_blocks n_media n_containers
    n_container_entries container_depth n_transcoded
""".split()
_META_SEED = {**dict.fromkeys(_META_KEYS, ""), "parser": "tika_wrap_spark-0.1"}

Span = dict[str, Any]  # {kind, text, media_ref, offset}


def _stringify(value: Any) -> str:
    """Metadata values coerce to flat strings — pins the reference's lossy
    ``obj[k].toString()`` flatten (src/java-env.cpp:300): non-string scalars
    stringify; containers flatten to ''."""
    if value is None:
        return ""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, (list, tuple, dict, set, bytes)):
        return ""
    return str(value)


class _Doc:
    """One document's output as it is built: the offset-ordered spans, the
    integer counters and the flat meta map. Per-format meta keys keep the
    FIRST non-empty value across the document's payloads."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.offset = 0
        self.n = dict.fromkeys(_COUNTERS, 0)
        self.meta = dict(_META_SEED)
        self.kinds: set[str] = set()
        self.font_seen = False

    def emit(self, kind: str, text: str, media_ref: str) -> None:
        self.spans.append(
            {"kind": kind, "text": text, "media_ref": media_ref, "offset": self.offset}
        )
        self.offset += len(text)

    def first(self, guard_key: str, **values: str) -> None:
        """Set ``values`` only while ``guard_key`` is still empty."""
        if not self.meta[guard_key]:
            self.meta.update(values)

    def enter(self, depth: int, fmt: str) -> None:
        """Open one container level below ``depth``; the recursion guard
        (zip-bomb analog) rejects the document past MAX_CONTAINER_DEPTH."""
        if depth >= MAX_CONTAINER_DEPTH:
            raise ExtractError(
                "container nesting exceeds depth %d" % MAX_CONTAINER_DEPTH
            )
        self.n["n_containers"] += 1
        self.n["container_depth"] = max(self.n["container_depth"], depth + 1)
        self.first("container_format", container_format=fmt)

    def members(
        self,
        entries: list[tuple[str, str]],
        path: tuple[str, ...],
        depth: int,
        kind: str = "",
    ) -> None:
        """Route each ``(name, payload)`` member one level deeper with its
        archive path (the reference README's own TODO — "recursively parse
        embedded content", README.md:25); members re-sniff
        unless the container declares their ``kind``."""
        for name, payload in entries:
            self.n["n_container_entries"] += 1
            member_kind = kind or sniff_kind(payload, "")
            _route(self, member_kind, payload, "", path + (name,), depth + 1)

    def result(self) -> dict[str, Any]:
        meta = self.meta
        for key, value in self.n.items():
            meta[key] = _stringify(value)
        meta["n_spans_out"] = _stringify(len(self.spans))
        meta["n_chars"] = _stringify(self.offset)
        meta["kinds"] = ",".join(sorted(self.kinds))
        return {"spans": self.spans, "parse_ok": True, "error": "", "meta": meta}


# a handler routes one payload of its kind into the document:
# handler(d, kind, text, media_ref, path, depth). A binary handler turns
# its payload into bytes once, ``payload_bytes(text, kind)``: the sniff
# kind is the error prefix. The members it gets back as bytes are decoded
# once, by ``_as_text``, before they re-sniff.
Handler = Callable[[_Doc, str, str, str, tuple, int], None]


def _as_text(entries: list[tuple[str, bytes]]) -> list[tuple[str, str]]:
    return [(name, body.decode("latin-1")) for name, body in entries]


def extract_document(spans: list[Span] | None) -> dict[str, Any]:
    """Extract one document. Never raises — failures become data.

    Returns ``{"spans": [...], "parse_ok": bool, "error": str,
    "meta": {str: str}}`` with output spans ordered by running offset.
    """
    try:
        return _extract_or_raise(spans)
    except ExtractError as exc:  # bad doc => row, never a task failure
        return {"spans": [], "parse_ok": False, "error": str(exc), "meta": {}}
    except Exception as exc:  # absolute backstop, same policy
        return {
            "spans": [],
            "parse_ok": False,
            "error": "internal: %s" % exc,
            "meta": {},
        }


def _extract_or_raise(spans: list[Span] | None) -> dict[str, Any]:
    d = _Doc()
    for span in spans or []:
        d.n["n_spans_in"] += 1
        text = span.get("text") or ""
        media_ref = span.get("media_ref") or ""
        _route(d, sniff_kind(text, media_ref), text, media_ref, (), 0)
    return d.result()


def _route(
    d: _Doc, kind: str, text: str, media_ref: str, path: tuple[str, ...], depth: int
) -> None:
    """Route one payload by sniffed kind (the analog of Tika's AutoParser
    registry dispatch, src/java-env.cpp:313)."""
    if kind in _CHARSET_SNIFF_KINDS:
        # charset ladder (core/charset.py): a UTF-16/BOM'd/CJK payload
        # sniffs text-family first (its magic bytes match nothing), the
        # transcode recovers real characters, and the RE-sniff routes
        # the decoded form (a BOM'd UTF-16 html file extracts as html)
        decoded, codec = decode_charset(text)
        if codec:
            d.n["n_transcoded"] += 1
            d.first("charset", charset=codec)
            text = decoded
            kind = sniff_kind(text, media_ref)
    d.kinds.add(kind)
    _DISPATCH.get(kind, _text)(d, kind, text, media_ref, path, depth)


def _package_format(entries: list[tuple[str, str]]) -> str:
    """'' unless the member list carries a ``mimetype`` marker member
    (OCF/ODF packaging): 'odf-odt'/'odf-ods'/'odf-odp' ('odf-other' for an
    unrecognized opendocument.* type) or 'epub' (EPUB OCF — chapters are
    xhtml members that route through the REAL html extractor)."""
    for name, payload in entries:
        if name != ODF_MARKER:
            continue
        if payload.startswith(_ODF_MIME_PREFIX):
            return "odf-" + _ODF_SUBKINDS.get(
                payload[len(_ODF_MIME_PREFIX):].strip(), "other"
            )
        if payload.strip() == _EPUB_MIME:
            return "epub"
    return ""


# archive kinds: bytes -> [(member name, member bytes), ...]
_ARCHIVE_PARSERS: dict[str, Callable[[bytes], list[tuple[str, bytes]]]] = {
    KIND_ZIP: parse_zip,
    KIND_TAR: parse_tar,
    KIND_AR: parse_ar,
    KIND_CPIO: parse_cpio,
    KIND_SEVENZ: parse_7z,
    KIND_RAR: parse_rar,
    KIND_ISO: parse_iso,
    KIND_CAB: parse_cab,
}


def _archive(d, kind, text, media_ref, path, depth):
    d.enter(depth, "")  # the member markers below pick the format
    if text.startswith(TWC1_MAGIC):
        # the synthetic zip analog (core/container.py) is a text dialect
        entries = parse_container(text)
    else:
        entries = _as_text(_ARCHIVE_PARSERS[kind](payload_bytes(text, kind)))
    is_xps = any(name.endswith((".fdseq", ".fpage")) for name, _p in entries)
    if is_xps:
        # XPS/OpenXPS (ECMA-388): an OPC package like OOXML — a real .xps
        # ALSO carries [Content_Types].xml, so this check must come FIRST.
        # The fdseq/fdoc members are package STRUCTURE (like the ODF
        # mimetype marker): never emitted as content, never counted
        d.meta["container_format"] = "xps"
        entries = [e for e in entries if not e[0].endswith((".fdseq", ".fdoc"))]
    elif any(name == OOXML_MARKER for name, _p in entries):
        d.meta["container_format"] = "ooxml"
    elif pkg := _package_format(entries):
        d.meta["container_format"] = pkg
        # the mimetype member is package metadata, not content — Tika
        # likewise never emits it as an embedded resource
        entries = [e for e in entries if e[0] != ODF_MARKER]
    else:
        # a Debian package's subkind tag makes deb tallies queryable
        # without re-sniffing its control/data members
        is_deb = kind == KIND_AR and any(name == DEB_MARKER for name, _p in entries)
        d.first("container_format", container_format="deb" if is_deb else kind)
    for name, payload in entries:
        if is_xps and name.endswith(".fpage"):
            # FixedPage text lives in Glyphs/@UnicodeString attributes, not
            # element content — the generic xml strip yields nothing
            # (core/html.py xps_fpage_text, Tika XPSParser analog)
            d.n["n_container_entries"] += 1
            d.emit(KIND_TEXT, xps_fpage_text(payload), "")
        else:
            d.members([(name, payload)], path, depth)


# compressed-stream wrappers: decompress and re-sniff the inner stream
# (each counts as one container level with a single unnamed member)
_WRAPPER_DECODERS = {
    KIND_GZIP: (gunzip, "gz"),
    KIND_XZ: (unxz, "xz"),
    KIND_BZ2: (unbz2, "bz2"),
    KIND_Z: (unz, "z"),
    KIND_LZ4: (unlz4, "lz4"),
    KIND_ZSTD: (unzstd, "zst"),
    KIND_LZMA: (unlzma, "lzma"),
}


def _wrapper(d, kind, text, media_ref, path, depth):
    # the .tar.gz / .tar.xz / .log.bz2 paths recurse into whatever the
    # inner bytes sniff as
    d.enter(depth, kind)
    decoder, tag = _WRAPPER_DECODERS[kind]
    inner = decoder(payload_bytes(text, kind))
    d.members(_as_text([(tag, inner)]), path, depth)


def _text(d, kind, text, media_ref, path, depth):
    # text family: json/csv/plain keep their raw payload (Tika's
    # text-family parsers pass content through); kind is tallied
    d.emit(KIND_TEXT, text, "")


def _media(d, kind, text, media_ref, path, depth):
    d.n["n_media"] += 1
    if not d.meta["media1_w"] and text:
        # embedded member carries real bytes: PNG IHDR / JPEG SOF header
        # parse (core/media.py) — the analog of Tika's
        # tiff:ImageWidth/Length keys; JPEG members add APP1/Exif (the
        # reference's exiftool dep, README.md:19) and PNG
        # members tEXt/iTXt Title/Author (Tika's PNGParser analog). A
        # payload that is not a byte stream keeps its span, without dims
        try:
            data = payload_bytes(text, kind)
        except ExtractError:
            data = b""
        dims = image_dims(data)
        if dims is not None:
            exif = jpeg_exif(data)
            png = png_text_meta(data)
            d.meta.update(
                media1_w=_stringify(dims[0]),
                media1_h=_stringify(dims[1]),
                media1_exif_orientation=exif.get("orientation", ""),
                media1_exif_datetime=exif.get("datetime", ""),
                media1_png_title=png.get("title", ""),
                media1_png_author=png.get("author", ""),
            )
    if not media_ref and path:
        # embedded media member: back-pointer into the archive
        media_ref = "zip://" + "/".join(path)
    d.emit(KIND_MEDIA, "", media_ref)


def _html(d, kind, text, media_ref, path, depth):
    # declared <meta charset=...> (WHATWG prescan / Tika
    # HtmlEncodingDetector analog): the ladder never runs on the html
    # kind (ASCII markup routes before any transcode), so a Shift-JIS/GBK
    # page with a declaration decodes here
    decoded, codec = decode_html_charset(text)
    if codec:
        d.n["n_transcoded"] += 1
        d.first("charset", charset=codec)
        text = decoded
    if not d.meta["html_title"]:
        d.meta["html_title"] = html_title(text)
    for block in extract_html_blocks(text):
        d.n["n_html_blocks"] += 1
        d.emit(KIND_TEXT, block, "")


def _pdf(d, kind, text, media_ref, path, depth):
    # real binary PDFs (xref/startxref present) parse natively
    # (core/pdfbin.py); the synthetic fixtures dialect has no startxref
    # and keeps its strict line parser
    attachments: list[tuple[str, bytes]] = []
    annots: list[str] = []
    fields: list[tuple[str, str]] = []
    if is_real_pdf_text(text):
        pages, crypt, attachments, annots, fields, xmp, toc = parse_real_pdf(
            payload_bytes(text, kind)
        )
        d.first("pdf_crypt", pdf_crypt=crypt)
        d.first("pdf_title", pdf_title=xmp)
        # Tika surfaces bookmarks as document structure metadata, not
        # body text — mirror that shape
        d.first("pdf_outline", pdf_outline=" / ".join(toc))
    else:
        pages = parse_pdf_pages(text)
    if not d.meta["pdf_page1_w"]:  # the first pdf's, even with 0 pages
        w, h = page_dims(pages[0]) if pages else (0.0, 0.0)
        d.meta.update(pdf_page1_w="%.1f" % w, pdf_page1_h="%.1f" % h)
    for page in pages_to_texts(pages):
        d.n["n_pdf_pages"] += 1
        d.emit(KIND_TEXT, page, "")
    # beyond-page-text surfaces, in a fixed order after the pages (Tika's
    # PDFParser shape): annotation notes, then the filled form as one
    # name: value block
    for note in annots:
        d.emit(KIND_TEXT, note, "")
    if fields:
        d.emit(KIND_TEXT, "\n".join("%s: %s" % (k, v) for k, v in fields), "")
    if attachments:
        # /EmbeddedFiles: each payload re-sniffs and recurses like an
        # archive member (Tika's embedded-document walk)
        d.enter(depth, "pdf-attach")
        d.members(_as_text(attachments), path, depth)


def _ole(d, kind, text, media_ref, path, depth):
    # legacy binary Office (CFB compound file, core/olebin.py; Tika's POI
    # analog). Message subject/sender share the eml meta keys (Tika maps
    # MSG and rfc822 to the same message metadata)
    subkind, ole_text, ole_meta = ole_extract_full(payload_bytes(text, kind))
    d.first("container_format", container_format="ole-" + subkind)
    if ole_meta:
        d.first(
            "eml_subject",
            eml_subject=ole_meta.get("eml_subject", ""),
            eml_from=ole_meta.get("eml_from", ""),
        )
    d.emit(KIND_TEXT, ole_text, "")


def _font(d, kind, text, media_ref, path, depth):
    # metadata-only payload (core/fontbin.py; Tika TrueTypeParser analog):
    # Tika likewise emits no text for fonts. The first non-empty naming
    # table wins, even when it lacks a family name
    font_meta = parse_font_meta(payload_bytes(text, kind))
    if font_meta and not d.font_seen:
        d.font_seen = True
        d.meta.update(
            font_family=font_meta.get("family", ""),
            font_name=font_meta.get("full_name", ""),
        )


def _sqlite(d, kind, text, media_ref, path, depth):
    # one text block per user table (core/sqlitebin.py; Tika
    # SQLite3Parser analog)
    tables = sqlite_extract(payload_bytes(text, kind))
    d.first("sqlite_tables", sqlite_tables=",".join(name for name, _b in tables))
    for _name, block in tables:
        d.emit(KIND_TEXT, block, "")


def _midi(d, kind, text, media_ref, path, depth):
    # the six text-class meta events, one block per carrying track
    # (core/midibin.py; Tika MidiParser analog)
    blocks, m_meta = midi_extract_text(payload_bytes(text, kind))
    d.first(
        "midi_tracks",
        midi_tracks=m_meta.get("midi_tracks", ""),
        midi_track_name=m_meta.get("midi_track_name", ""),
    )
    for block in blocks:
        d.emit(KIND_TEXT, block, "")


def _one_block(extract: Callable[[bytes], tuple[str, str]], meta_key: str) -> Handler:
    """Handler for a format that flattens to one csv-shaped text block plus
    one meta value (dbf/avro/parquet: field names; plist: top-level keys)."""

    def handle(d, kind, text, media_ref, path, depth):
        block, value = extract(payload_bytes(text, kind))
        d.first(meta_key, **{meta_key: value})
        d.emit(KIND_TEXT, block, "")

    return handle


def _calendar(d, kind, text, media_ref, path, depth):
    # one block per event/card (core/ical.py; Tika ICalParser/VCardParser
    # analog)
    blocks, cal_meta = (parse_ical if kind == KIND_ICS else parse_vcard)(text)
    d.first("ical_summary", ical_summary=cal_meta["summary"])
    for block in blocks:
        d.emit(KIND_TEXT, block, "")


def _eml(d, kind, text, media_ref, path, depth):
    # each leaf part (decoded body / attachment) re-sniffs and recurses, so
    # an html body extracts as html and a zip attachment as an archive
    d.enter(depth, KIND_EML)
    eml_meta, parts = parse_eml(text)
    d.first(
        "eml_subject",
        eml_subject=eml_meta.get("eml_subject", ""),
        eml_from=eml_meta.get("eml_from", ""),
    )
    d.members(parts, path, depth)


def _tnef(d, kind, text, media_ref, path, depth):
    # winmail.dat (core/tnefbin.py; Tika TNEFParser analog): attachments
    # recurse — the winmail.dat-hides-the-real-attachment case
    d.enter(depth, KIND_TNEF)
    _t_class, subject, body, attachments = parse_tnef(payload_bytes(text, kind))
    d.first("eml_subject", eml_subject=subject)
    if body:
        d.emit(KIND_TEXT, body, "")
    d.members(_as_text(attachments), path, depth)


def _mbox(d, kind, text, media_ref, path, depth):
    # the separator declares the member type, as Tika's MboxParser does
    d.enter(depth, KIND_MBOX)
    d.members(parse_mbox(text), path, depth, KIND_EML)


def _warc(d, kind, text, media_ref, path, depth):
    # payload records (HTTP envelope stripped) recurse, named by target
    # URI, so crawled html runs the REAL boilerplate stripper (Tika
    # WARCParser analog — the Common Crawl ingestion shape)
    d.enter(depth, KIND_WARC)
    records, w_meta = parse_warc_text(text)
    d.first("warc_target", warc_target=w_meta["warc_target"])
    d.members(records, path, depth)


def _xml(d, kind, text, media_ref, path, depth):
    # root element = the subkind Tika's XML detectors read (svg ->
    # image/svg+xml, rss/feed -> syndication) before generic parse
    if not d.meta["xml_root"]:
        d.meta["xml_root"] = xml_root_tag(text)
    d.emit(KIND_TEXT, extract_xml_text(text), "")


def _rtf(d, kind, text, media_ref, path, depth):
    # document text only, destination groups skipped (Tika RTFParser analog)
    d.emit(KIND_TEXT, rtf_to_text(text), "")


_HANDLERS: dict[str, Handler] = {
    KIND_MEDIA: _media,
    KIND_HTML: _html,
    KIND_PDF: _pdf,
    KIND_OLE: _ole,
    KIND_FONT: _font,
    KIND_SQLITE: _sqlite,
    KIND_MIDI: _midi,
    KIND_DBF: _one_block(dbf_to_text, "dbf_fields"),
    KIND_AVRO: _one_block(avro_extract, "avro_fields"),
    KIND_PARQUET: _one_block(parquet_extract, "parquet_columns"),
    KIND_PLIST: _one_block(plist_extract, "plist_keys"),
    KIND_RTF: _rtf,
    KIND_ICS: _calendar,
    KIND_VCF: _calendar,
    KIND_EML: _eml,
    KIND_TNEF: _tnef,
    KIND_MBOX: _mbox,
    KIND_WARC: _warc,
    KIND_XML: _xml,
}

# one lookup per payload; any other kind is the text family
_DISPATCH: dict[str, Handler] = {
    **dict.fromkeys(_ARCHIVE_PARSERS, _archive),
    **dict.fromkeys(_WRAPPER_DECODERS, _wrapper),
    **_HANDLERS,
}
