"""Per-document extraction orchestration: sniff -> route -> extract ->
ordered span assembly + flat metadata map.

This is the analog of the reference's whole parse path
(``JavaEnvPrivate::autoParserParserFile``, /root/reference/src/java-env.cpp:192-328):
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

from typing import Any

from tika_wrap_spark.core.charset import decode_charset, decode_html_charset
from tika_wrap_spark.core.container import MAX_CONTAINER_DEPTH, parse_container
from tika_wrap_spark.core.errors import ExtractError
from tika_wrap_spark.core.exifbin import jpeg_exif_text
from tika_wrap_spark.core.gzipbin import (
    gunzip_text,
    unbz2_text,
    unlzma_text,
    unxz_text,
    unz_text,
)
from tika_wrap_spark.core.html import (
    extract_html_blocks,
    extract_xml_text,
    html_title,
    xml_root_tag,
    xps_fpage_text,
)
from tika_wrap_spark.core.media import image_dims_text, png_text_meta_text
from tika_wrap_spark.core.olebin import ole_extract_text
from tika_wrap_spark.core.pdf import page_dims, pages_to_texts, parse_pdf_pages
from tika_wrap_spark.core.pdfbin import is_real_pdf_text, parse_real_pdf_text_full
from tika_wrap_spark.core.eml import parse_eml
from tika_wrap_spark.core.mbox import parse_mbox
from tika_wrap_spark.core.rtf import rtf_to_text
from tika_wrap_spark.core.ical import parse_ical, parse_vcard
from tika_wrap_spark.core.fontbin import font_meta_text
from tika_wrap_spark.core.sniff import (
    KIND_AR,
    KIND_BZ2,
    KIND_CPIO,
    KIND_CSV,
    KIND_EML,
    KIND_FONT,
    KIND_ICS,
    KIND_JSON,
    KIND_GZIP,
    KIND_HTML,
    KIND_MBOX,
    KIND_MEDIA,
    KIND_OLE,
    KIND_PDF,
    KIND_PLIST,
    KIND_RTF,
    KIND_SQLITE,
    KIND_TAR,
    KIND_TEXT,
    KIND_VCF,
    KIND_WARC,
    KIND_XML,
    KIND_AVRO,
    KIND_CAB,
    KIND_PARQUET,
    KIND_DBF,
    KIND_ISO,
    KIND_TNEF,
    KIND_XZ,
    KIND_Z,
    KIND_LZ4,
    KIND_LZMA,
    KIND_MIDI,
    KIND_SEVENZ,
    KIND_RAR,
    KIND_ZSTD,
    KIND_ZIP,
    sniff_kind,
)
from tika_wrap_spark.core.lz4bin import unlz4_text
from tika_wrap_spark.core.midibin import midi_extract_text_str
from tika_wrap_spark.core.rarbin import parse_rar_text
from tika_wrap_spark.core.zstdbin import unzstd_text
from tika_wrap_spark.core.sevenzip import parse_7z_text
from tika_wrap_spark.core.plistbin import plist_extract_text
from tika_wrap_spark.core.sqlitebin import sqlite_extract_text
from tika_wrap_spark.core.warcbin import parse_warc_text

# compressed-stream wrappers: decompress and re-sniff the inner stream
# (each counts as one container level with a single unnamed member)
_WRAPPER_DECODERS = {
    KIND_GZIP: (gunzip_text, "gz"),
    KIND_XZ: (unxz_text, "xz"),
    KIND_BZ2: (unbz2_text, "bz2"),
    KIND_Z: (unz_text, "z"),
    KIND_LZ4: (unlz4_text, "lz4"),
    KIND_ZSTD: (unzstd_text, "zst"),
    KIND_LZMA: (unlzma_text, "lzma"),
}
from tika_wrap_spark.core.arbin import parse_ar_text
from tika_wrap_spark.core.cpiobin import parse_cpio_text
from tika_wrap_spark.core.avrobin import avro_extract_text
from tika_wrap_spark.core.parquetbin import parquet_extract_text
from tika_wrap_spark.core.cabbin import parse_cab_text
from tika_wrap_spark.core.isobin import parse_iso_text
from tika_wrap_spark.core.dbfbin import dbf_extract_text
from tika_wrap_spark.core.tnefbin import tnef_extract
from tika_wrap_spark.core.tarbin import parse_tar_text

# container member marking an OOXML-analog archive (real OOXML is zip with
# exactly this member; QMimeDatabase-style container-format distinction)
OOXML_MARKER = "[Content_Types].xml"

# OpenDocument marker (ODF 1.3 §3.3): a zip whose ``mimetype`` member holds
# the package media type. Tika routes these via the same container sniff
# (the reference inherits ODF through Tika's OpenDocumentParser,
# /root/reference/src/java-env.cpp:313); the subkind suffix distinguishes
# Writer/Calc/Impress the way the OLE path distinguishes doc/xls/ppt.
ODF_MARKER = "mimetype"
_ODF_MIME_PREFIX = "application/vnd.oasis.opendocument."
_ODF_SUBKINDS = {"text": "odt", "spreadsheet": "ods", "presentation": "odp"}
_EPUB_MIME = "application/epub+zip"

# Debian package marker (deb(5)): an ar archive whose first member is the
# ``debian-binary`` version text; control.tar.gz / data.tar.xz members
# recurse through the existing wrapper/tar paths
DEB_MARKER = "debian-binary"


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

# sniff kinds eligible for charset detection — text family only; binary
# magics (PNG/zip/pdf bytes-as-text) are high-byte-dense and must never be
# transcoded (Tika's AutoDetectReader likewise guards text/* parses only)
_CHARSET_SNIFF_KINDS = frozenset({KIND_TEXT, KIND_CSV, KIND_JSON})

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
    out: list[Span] = []
    offset = 0
    n_in = 0
    kinds_seen: set[str] = set()
    n_pages = 0  # pdf pages emitted (Tika's per-format metadata analog)
    n_blocks = 0  # html content blocks kept
    n_media = 0
    n_containers = 0  # container payloads parsed (nested ones included)
    n_entries = 0  # members across all containers
    depth_max = 0  # deepest container nesting level seen
    title = ""  # first non-empty <title> across html payloads
    pdf1_dims: tuple[float, float] | None = None  # first pdf's first page
    pdf_crypt = ""  # first encrypted pdf's crypt method (rc4/aesv2/aesv3)
    pdf_title = ""  # first XMP /Metadata dc:title (Tika dc:title analog)
    pdf_outline = ""  # first pdf's bookmark titles, pre-order, ' / '-joined
    media1_dims: tuple[int, int] | None = None  # first parseable image's w,h
    media1_exif: dict[str, str] = {}  # first image member's EXIF (JPEG APP1)
    media1_png_text: dict[str, str] = {}  # first PNG member's tEXt/iTXt keys
    container_format = ""  # 'ooxml' if any archive carries the marker member
    eml_subject = ""  # first message's decoded Subject (Tika dc:title analog)
    eml_from = ""
    ical_summary = ""  # first event SUMMARY / first card FN (core/ical.py)
    sqlite_tables = ""  # first database's user-table names, comma-joined
    dbf_fields = ""  # first dBase table's field names, comma-joined
    avro_fields = ""  # first Avro container's field names, comma-joined
    parquet_columns = ""  # first Parquet file's column names, comma-joined
    midi_tracks = ""  # first MIDI file's track count (+ first track name)
    midi_track_name = ""
    plist_keys = ""  # first binary plist's top-level dict keys
    warc_target = ""  # first warc payload record's WARC-Target-URI
    font_meta: dict[str, str] = {}  # first font payload's naming metadata
    xml_root = ""  # first xml payload's root element (Tika subkind signal)
    charset_first = ""  # first detected non-default payload charset
    n_transcoded = 0  # payloads that went through a charset transcode

    def emit(kind: str, text: str, media_ref: str) -> None:
        nonlocal offset
        out.append(
            {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}
        )
        offset += len(text)

    def route(kind: str, text: str, media_ref: str, path: tuple[str, ...], depth: int) -> None:
        """Route one payload by sniffed kind; container members recurse with
        their archive path (the reference README's own TODO — "recursively
        parse embedded content", /root/reference/README.md:25; zip smoke
        inputs at example/demo1.cpp:48-49)."""
        nonlocal n_pages, n_blocks, n_media, n_containers, n_entries
        nonlocal depth_max, title, pdf1_dims, pdf_crypt, pdf_title, pdf_outline
        nonlocal media1_dims, container_format  # media1_png_text/exif mutate
        nonlocal eml_subject, eml_from, ical_summary, charset_first, n_transcoded
        nonlocal sqlite_tables, warc_target, plist_keys, xml_root, dbf_fields
        nonlocal avro_fields, parquet_columns
        nonlocal midi_tracks, midi_track_name
        if kind in _CHARSET_SNIFF_KINDS:
            # charset ladder (core/charset.py): a UTF-16/BOM'd/CJK payload
            # sniffs text-family first (its magic bytes match nothing), the
            # transcode recovers real characters, and the RE-sniff routes
            # the decoded form (a BOM'd UTF-16 html file extracts as html)
            decoded, codec = decode_charset(text)
            if codec:
                n_transcoded += 1
                if not charset_first:
                    charset_first = codec
                text = decoded
                kind = sniff_kind(text, media_ref)
        kinds_seen.add(kind)
        if kind == KIND_MEDIA:
            n_media += 1
            if media1_dims is None and text:
                # embedded member carries real bytes: PNG IHDR / JPEG SOF
                # header parse (pure stdlib, core/media.py) — the analog of
                # Tika's tiff:ImageWidth/Length metadata keys; JPEG members
                # additionally surface APP1/Exif (orientation + timestamp —
                # the reference's exiftool dep, /root/reference/README.md:19)
                media1_dims = image_dims_text(text)
                if media1_dims is not None and not media1_exif:
                    media1_exif.update(jpeg_exif_text(text))
                if media1_dims is not None and not media1_png_text:
                    # PNG tEXt/iTXt Title/Author (W3C §11.3.4, Tika's
                    # PNGParser metadata analog); {} for non-PNG members
                    media1_png_text.update(png_text_meta_text(text))
            if not media_ref and path:
                # embedded media member: back-pointer into the archive
                media_ref = "zip://" + "/".join(path)
            emit(KIND_MEDIA, "", media_ref)
        elif kind == KIND_HTML:
            # declared <meta charset=...> (WHATWG prescan / Tika
            # HtmlEncodingDetector analog): the ladder never runs on the
            # html kind (ASCII markup routes before any transcode), so a
            # Shift-JIS/GBK page with a declaration decodes here
            decoded, h_codec = decode_html_charset(text)
            if h_codec:
                n_transcoded += 1
                if not charset_first:
                    charset_first = h_codec
                text = decoded
            if not title:
                title = html_title(text)
            for block in extract_html_blocks(text):
                n_blocks += 1
                emit(KIND_TEXT, block, "")
        elif kind == KIND_PDF:
            # real binary PDFs (xref/startxref present) parse natively
            # (core/pdfbin.py: FlateDecode, page tree, content-stream text
            # operators); the synthetic fixtures dialect has no startxref
            # and keeps its strict line parser
            attachments: list[tuple[str, str]] = []
            annots: list[str] = []
            fields: list[tuple[str, str]] = []
            if is_real_pdf_text(text):
                pages, crypt, attachments, annots, fields, xmp, toc = (
                    parse_real_pdf_text_full(text)
                )
                if crypt and not pdf_crypt:
                    pdf_crypt = crypt
                if xmp and not pdf_title:
                    pdf_title = xmp
                if toc and not pdf_outline:
                    # Tika surfaces bookmarks as document structure
                    # metadata, not body text — mirror that shape
                    pdf_outline = " / ".join(toc)
            else:
                pages = parse_pdf_pages(text)
            if pdf1_dims is None:
                pdf1_dims = page_dims(pages[0]) if pages else (0.0, 0.0)
            for page in pages_to_texts(pages):
                n_pages += 1
                emit(KIND_TEXT, page, "")
            # beyond-page-text surfaces, in a fixed order after the pages
            # (Tika's PDFParser shape): annotation notes, then the filled
            # form as one name: value block
            for note in annots:
                emit(KIND_TEXT, note, "")
            if fields:
                emit(
                    KIND_TEXT,
                    "\n".join("%s: %s" % (k, v) for k, v in fields),
                    "",
                )
            if attachments:
                # /EmbeddedFiles: a PDF with attachments is one more
                # container kind — each payload re-sniffs and recurses
                # like an archive member (Tika's embedded-document walk)
                if depth >= MAX_CONTAINER_DEPTH:
                    raise ExtractError(
                        "container nesting exceeds depth %d" % MAX_CONTAINER_DEPTH
                    )
                n_containers += 1
                depth_max = max(depth_max, depth + 1)
                if not container_format:
                    container_format = "pdf-attach"
                for name, payload in attachments:
                    n_entries += 1
                    route(
                        sniff_kind(payload, ""), payload, "", path + (name,), depth + 1
                    )
        elif kind in (
            KIND_ZIP,
            KIND_TAR,
            KIND_AR,
            KIND_CPIO,
            KIND_SEVENZ,
            KIND_RAR,
            KIND_ISO,
            KIND_CAB,
        ):
            if depth >= MAX_CONTAINER_DEPTH:
                raise ExtractError(
                    "container nesting exceeds depth %d" % MAX_CONTAINER_DEPTH
                )
            if kind == KIND_ZIP:
                entries = parse_container(text)
            elif kind == KIND_TAR:
                entries = parse_tar_text(text)
            elif kind == KIND_AR:  # ar (.a/.deb): core/arbin.py walk
                entries = parse_ar_text(text)
            elif kind == KIND_CPIO:  # cpio newc/crc: core/cpiobin.py walk
                entries = parse_cpio_text(text)
            elif kind == KIND_SEVENZ:  # 7z: core/sevenzip.py header walk
                entries = parse_7z_text(text)
            elif kind == KIND_ISO:  # ISO 9660: core/isobin.py record walk
                entries = parse_iso_text(text)
            elif kind == KIND_CAB:  # MS Cabinet: core/cabbin.py folder walk
                entries = parse_cab_text(text)
            else:  # rar: core/rarbin.py stored-member walk
                entries = parse_rar_text(text)
            n_containers += 1
            depth_max = max(depth_max, depth + 1)
            pkg = _package_format(entries)
            is_xps = any(
                name.endswith((".fdseq", ".fpage")) for name, _p in entries
            )
            if is_xps:
                # XPS/OpenXPS (ECMA-388): an OPC package like OOXML — a
                # real .xps ALSO carries [Content_Types].xml, so this
                # check must come FIRST; page text is read from
                # Glyphs/@UnicodeString attributes below. The fdseq/fdoc
                # members are package STRUCTURE (like the ODF mimetype
                # marker): never emitted as content, never counted
                container_format = "xps"
                entries = [
                    e
                    for e in entries
                    if not e[0].endswith((".fdseq", ".fdoc"))
                ]
            elif any(name == OOXML_MARKER for name, _p in entries):
                container_format = "ooxml"
            elif pkg:
                container_format = pkg
                # the mimetype member is package metadata, not content —
                # Tika likewise never emits it as an embedded resource
                entries = [e for e in entries if e[0] != ODF_MARKER]
            elif kind == KIND_AR and any(
                name == DEB_MARKER for name, _p in entries
            ):
                # Debian package: the ar members (control.tar.gz /
                # data.tar.xz) recurse through the wrapper+tar paths; the
                # subkind tag makes deb tallies queryable without re-sniffing
                if not container_format:
                    container_format = "deb"
            elif not container_format:
                container_format = kind
            for name, payload in entries:
                n_entries += 1
                if is_xps and name.endswith(".fpage"):
                    # FixedPage text lives in attributes, not element
                    # content — the generic xml strip yields nothing
                    # (core/html.py xps_fpage_text, Tika XPSParser analog)
                    emit(KIND_TEXT, xps_fpage_text(payload), "")
                    continue
                route(sniff_kind(payload, ""), payload, "", path + (name,), depth + 1)
        elif kind in _WRAPPER_DECODERS:
            # wrapper, not an archive: decompress and re-sniff the inner
            # stream (the .tar.gz / .tar.xz / .log.bz2 paths recurse into
            # whatever the inner bytes sniff as)
            if depth >= MAX_CONTAINER_DEPTH:
                raise ExtractError(
                    "container nesting exceeds depth %d" % MAX_CONTAINER_DEPTH
                )
            decoder, tag = _WRAPPER_DECODERS[kind]
            inner = decoder(text)
            n_containers += 1
            n_entries += 1
            depth_max = max(depth_max, depth + 1)
            if not container_format:
                container_format = kind
            route(sniff_kind(inner, ""), inner, "", path + (tag,), depth + 1)
        elif kind == KIND_OLE:
            # legacy binary Office (CFB compound file): .doc piece-table /
            # .xls BIFF8 record walk / .msg property streams
            # (core/olebin.py); Tika's POI analog. The subkind lands in
            # container_format so doc/xls/msg tallies are queryable
            # without re-sniffing; message subject/sender share the
            # eml_subject/eml_from meta keys (Tika maps MSG and rfc822 to
            # the same message metadata)
            subkind, ole_text, ole_meta = ole_extract_text(text)
            if not container_format:
                container_format = "ole-" + subkind
            if ole_meta and not eml_subject:
                eml_subject = ole_meta.get("eml_subject", "")
                eml_from = ole_meta.get("eml_from", "")
            emit(KIND_TEXT, ole_text, "")
        elif kind == KIND_FONT:
            # font file (core/fontbin.py; Tika TrueTypeParser analog):
            # metadata-only payload — naming surfaces in the meta map,
            # no body spans (Tika likewise emits no text for fonts)
            fm = font_meta_text(text)
            if not font_meta:
                font_meta.update(fm)
        elif kind == KIND_SQLITE:
            # SQLite database (core/sqlitebin.py; Tika SQLite3Parser
            # analog): one text block per user table — header line of
            # column names then one comma-joined line per row in rowid
            # order. Table names land in the sqlite_tables meta key.
            sq_tables = sqlite_extract_text(text)
            if not sqlite_tables:
                sqlite_tables = ",".join(name for name, _b in sq_tables)
            for _name, block in sq_tables:
                emit(KIND_TEXT, block, "")
        elif kind == KIND_MIDI:
            # Standard MIDI file (core/midibin.py; Tika MidiParser
            # analog): the six text-class meta events (text, copyright,
            # track/instrument names, lyrics, markers) emit as one text
            # block per carrying track; note/sysex/tempo events are
            # walked (running status honored) but never extracted.
            m_blocks, m_meta = midi_extract_text_str(text)
            if not midi_tracks:
                midi_tracks = m_meta.get("midi_tracks", "")
                midi_track_name = m_meta.get("midi_track_name", "")
            for block in m_blocks:
                emit(KIND_TEXT, block, "")
        elif kind == KIND_DBF:
            # dBase table (core/dbfbin.py; Tika DBFParser analog): one
            # csv-shaped text block — field-name header line then one
            # comma-joined line per active record. Field names land in
            # the dbf_fields meta key.
            d_text, d_fields = dbf_extract_text(text)
            if not dbf_fields:
                dbf_fields = d_fields
            emit(KIND_TEXT, d_text, "")
        elif kind == KIND_AVRO:
            # Avro object container (core/avrobin.py): varint/zigzag
            # record decode, null/deflate codecs, per-block sync-marker
            # verify; rows flatten to one csv-shaped text block (the
            # dbf/sqlite convention), field names -> avro_fields meta
            a_text, a_fields = avro_extract_text(text)
            if not avro_fields:
                avro_fields = a_fields
            emit(KIND_TEXT, a_text, "")
        elif kind == KIND_PARQUET:
            # Parquet file (core/parquetbin.py): hand-rolled thrift-
            # compact footer walk + PLAIN v1 data pages + RLE/bit-packed
            # definition levels; columns flatten to one csv-shaped text
            # block (the avro/dbf/sqlite convention), column names ->
            # parquet_columns meta
            p_text, p_cols = parquet_extract_text(text)
            if not parquet_columns:
                parquet_columns = p_cols
            emit(KIND_TEXT, p_text, "")
        elif kind == KIND_PLIST:
            # Apple binary property list (core/plistbin.py; Tika
            # PListParser analog): the object graph flattens to one
            # keypath-per-line text block; top-level dict keys land in the
            # plist_keys meta key
            p_text, p_keys = plist_extract_text(text)
            if not plist_keys:
                plist_keys = p_keys
            emit(KIND_TEXT, p_text, "")
        elif kind == KIND_RTF:
            # native RTF control-word parse (core/rtf.py); Tika's RTFParser
            # analog — document text only, destination groups skipped
            emit(KIND_TEXT, rtf_to_text(text), "")
        elif kind in (KIND_ICS, KIND_VCF):
            # iCalendar/vCard (core/ical.py; Tika ICalParser/VCardParser
            # analog): one text block per event/card, unfolded + unescaped;
            # unterminated components raise -> parse_ok=false rows
            blocks, cal_meta = (parse_ical if kind == KIND_ICS else parse_vcard)(
                text
            )
            if not ical_summary:
                ical_summary = cal_meta["summary"]
            for block in blocks:
                emit(KIND_TEXT, block, "")
        elif kind == KIND_EML:
            # rfc822/MIME message: one more container kind — each leaf part
            # (decoded body / attachment) re-sniffs and recurses, so an
            # html body extracts as html and a zip attachment as an archive
            if depth >= MAX_CONTAINER_DEPTH:
                raise ExtractError(
                    "container nesting exceeds depth %d" % MAX_CONTAINER_DEPTH
                )
            eml_meta, eml_parts = parse_eml(text)
            n_containers += 1
            depth_max = max(depth_max, depth + 1)
            if not container_format:
                container_format = KIND_EML
            if not eml_subject:
                eml_subject = eml_meta.get("eml_subject", "")
                eml_from = eml_meta.get("eml_from", "")
            for name, payload in eml_parts:
                n_entries += 1
                route(sniff_kind(payload, ""), payload, "", path + (name,), depth + 1)
        elif kind == KIND_TNEF:
            # TNEF winmail.dat (core/tnefbin.py; Tika TNEFParser analog):
            # the message subject shares the eml meta key, the plain body
            # emits as text, and each attachment payload re-sniffs and
            # recurses like an archive member — the
            # winmail.dat-hides-the-real-attachment case
            if depth >= MAX_CONTAINER_DEPTH:
                raise ExtractError(
                    "container nesting exceeds depth %d" % MAX_CONTAINER_DEPTH
                )
            _t_class, t_subject, t_body, t_atts = tnef_extract(text)
            n_containers += 1
            depth_max = max(depth_max, depth + 1)
            if not container_format:
                container_format = KIND_TNEF
            if not eml_subject:
                eml_subject = t_subject
            if t_body:
                emit(KIND_TEXT, t_body, "")
            for name, payload in t_atts:
                n_entries += 1
                route(sniff_kind(payload, ""), payload, "", path + (name,), depth + 1)
        elif kind == KIND_MBOX:
            # mbox mailbox (core/mbox.py; Tika MboxParser analog): a
            # container of rfc822 messages — each chunk routes through the
            # SAME eml path explicitly (the separator declares the member
            # type, as Tika's MboxParser does), so bodies/attachments
            # recurse one level deeper
            if depth >= MAX_CONTAINER_DEPTH:
                raise ExtractError(
                    "container nesting exceeds depth %d" % MAX_CONTAINER_DEPTH
                )
            msgs = parse_mbox(text)
            n_containers += 1
            depth_max = max(depth_max, depth + 1)
            if not container_format:
                container_format = KIND_MBOX
            for name, payload in msgs:
                n_entries += 1
                route(KIND_EML, payload, "", path + (name,), depth + 1)
        elif kind == KIND_WARC:
            # WARC web archive (core/warcbin.py; Tika WARCParser analog —
            # the Common Crawl ingestion shape): one more container kind.
            # Each payload-bearing record (HTTP envelope stripped) re-sniffs
            # and recurses, so crawled html bodies run the REAL boilerplate
            # stripper; members are named by their target URI.
            if depth >= MAX_CONTAINER_DEPTH:
                raise ExtractError(
                    "container nesting exceeds depth %d" % MAX_CONTAINER_DEPTH
                )
            records, w_meta = parse_warc_text(text)
            n_containers += 1
            depth_max = max(depth_max, depth + 1)
            if not container_format:
                container_format = KIND_WARC
            if not warc_target:
                warc_target = w_meta["warc_target"]
            for name, payload in records:
                n_entries += 1
                route(sniff_kind(payload, ""), payload, "", path + (name,), depth + 1)
        elif kind == KIND_XML:
            # root element = the subkind Tika's XML detectors read (svg ->
            # image/svg+xml, rss/feed -> syndication) before generic parse
            if not xml_root:
                xml_root = xml_root_tag(text)
            emit(KIND_TEXT, extract_xml_text(text), "")
        else:
            # text family: json/csv/plain keep their raw payload (Tika's
            # text-family parsers pass content through); kind is tallied
            emit(KIND_TEXT, text, "")

    for span in spans or []:
        n_in += 1
        text = span.get("text") or ""
        media_ref = span.get("media_ref") or ""
        route(sniff_kind(text, media_ref), text, media_ref, (), 0)

    n_chars = sum(len(s["text"]) for s in out)
    # per-kind counters + per-format keys mirror the metadata Tika's /meta
    # endpoint exposes (title, page counts/dims); values flat strings only
    # (reference coercion, src/java-env.cpp:300)
    meta = {
        "n_spans_in": _stringify(n_in),
        "n_spans_out": _stringify(len(out)),
        "n_chars": _stringify(n_chars),
        "n_pdf_pages": _stringify(n_pages),
        "n_html_blocks": _stringify(n_blocks),
        "n_media": _stringify(n_media),
        "n_containers": _stringify(n_containers),
        "n_container_entries": _stringify(n_entries),
        "container_depth": _stringify(depth_max),
        "container_format": container_format,
        "html_title": title,
        "pdf_crypt": pdf_crypt,
        "pdf_title": pdf_title,
        "pdf_outline": pdf_outline,
        "pdf_page1_w": "" if pdf1_dims is None else "%.1f" % pdf1_dims[0],
        "pdf_page1_h": "" if pdf1_dims is None else "%.1f" % pdf1_dims[1],
        "media1_w": "" if media1_dims is None else _stringify(media1_dims[0]),
        "media1_h": "" if media1_dims is None else _stringify(media1_dims[1]),
        "media1_exif_orientation": media1_exif.get("orientation", ""),
        "media1_exif_datetime": media1_exif.get("datetime", ""),
        "media1_png_title": media1_png_text.get("title", ""),
        "media1_png_author": media1_png_text.get("author", ""),
        "eml_subject": eml_subject,
        "eml_from": eml_from,
        "ical_summary": ical_summary,
        "sqlite_tables": sqlite_tables,
        "dbf_fields": dbf_fields,
        "avro_fields": avro_fields,
        "parquet_columns": parquet_columns,
        "midi_tracks": midi_tracks,
        "midi_track_name": midi_track_name,
        "plist_keys": plist_keys,
        "warc_target": warc_target,
        "font_family": font_meta.get("family", ""),
        "font_name": font_meta.get("full_name", ""),
        "xml_root": xml_root,
        "charset": charset_first,
        "n_transcoded": _stringify(n_transcoded),
        "kinds": ",".join(sorted(kinds_seen)),
        "parser": "tika_wrap_spark-0.1",
    }
    return {"spans": out, "parse_ok": True, "error": "", "meta": meta}
