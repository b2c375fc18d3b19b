"""Magic-byte / content sniffing — the ``mime_sniff`` operator.

The reference delegates MIME detection to ``QMimeDatabase::mimeTypeForFile``
(content + extension sniffing, /root/reference/src/java-env.cpp:233-242) and,
due to an inverted-logic quirk at src/java-env.cpp:245-248, effectively lets
the *server* (Tika) detect the type from content. The rebuild makes content
detection first-class: a deterministic magic-byte sniffer over the payload
head. Detection is from CONTENT ONLY — the corpus ``kind`` column is treated
as a hint, never trusted (parity with the reference's server-side authority).

The detector is one ordered table, :data:`RULES`. :func:`sniff_kind`
evaluates it here and ``functions.sniff_kind_col`` folds the same rows into
one JVM ``when`` chain, so the two engines cannot drift. A row is
``(kind, predicate, ...)``: it matches when all its predicates hold, and
the first matching row wins (no match is ``text``). Predicates come from
the closed vocabulary below; each reads one view of the payload.
"""

from __future__ import annotations

# Payload head window examined by the sniffer (bytes/chars).
HEAD_WINDOW = 256

KIND_TEXT = "text"
KIND_HTML = "html"
KIND_PDF = "pdf"
KIND_MEDIA = "media"
KIND_ZIP = "zip"
KIND_GZIP = "gzip"
KIND_XZ = "xz"
KIND_BZ2 = "bz2"
KIND_Z = "z"  # UNIX compress .Z (LZW)
KIND_LZ4 = "lz4"  # LZ4 frame
KIND_MIDI = "midi"  # Standard MIDI file
KIND_SEVENZ = "7z"
KIND_RAR = "rar"  # RAR v4 and v5
KIND_ZSTD = "zstd"  # Zstandard frame
KIND_LZMA = "lzma"  # legacy LZMA alone format
KIND_TAR = "tar"
KIND_XML = "xml"
KIND_JSON = "json"
KIND_CSV = "csv"
KIND_RTF = "rtf"
KIND_EML = "eml"
KIND_OLE = "ole"  # OLE2/CFB compound file (.doc/.xls)
KIND_ICS = "ics"  # iCalendar (RFC 5545)
KIND_VCF = "vcf"  # vCard (RFC 6350)
KIND_SQLITE = "sqlite"
KIND_FONT = "font"  # sfnt (TrueType/OpenType) or WOFF
KIND_WARC = "warc"  # WARC web archive (ISO 28500)
KIND_MBOX = "mbox"  # mbox mailbox (RFC 4155)
KIND_PLIST = "plist"  # Apple binary property list
KIND_AR = "ar"  # Unix ar archive (.a/.deb)
KIND_CPIO = "cpio"  # cpio newc/crc archive
KIND_DBF = "dbf"  # dBase table
KIND_ISO = "iso"  # ISO 9660 image
KIND_CAB = "cab"  # MS Cabinet
KIND_AVRO = "avro"  # Avro object container
KIND_PARQUET = "parquet"
KIND_TNEF = "tnef"  # TNEF winmail.dat

# CFB header magic ([MS-CFB] 2.2) as bytes-as-text
OLE_MAGIC_TEXT = "\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"

# Predicate vocabulary. A predicate is a tuple ``(op, view, *args)`` that
# both engines read. Views: "text" is the full payload, "head" its first
# HEAD_WINDOW chars, "low" the head lstripped and lowercased, "line" the
# head's first line.


def starts(*prefixes: str, view: str = "head") -> tuple:
    return ("starts", view, prefixes)


def at(offset: int, literal: str, view: str = "head") -> tuple:
    return ("at", view, offset, literal)


def char_in(offset: int, chars) -> tuple:
    return ("char_in", "head", offset, frozenset(chars))


def ord_in(offset: int, lo: int, hi: int) -> tuple:
    return char_in(offset, map(chr, range(lo, hi + 1)))


def hex_at(offset: int, n: int) -> tuple:
    return ("hex", "head", offset, n)


def ends(suffix: str, min_len: int) -> tuple:
    return ("ends", "text", suffix, min_len)


def has(*needles: str, view: str = "low") -> tuple:
    return ("has", view, needles)


def commas(n: int) -> tuple:
    return ("commas", "line", n)


def any_of(*predicates: tuple) -> tuple:
    return ("any", None, predicates)


# RFC 5322 openers: a strong one is a header only mail software writes; a
# weak one (prose might imitate it) needs a second header line as well
_EML_STRONG = ("return-path:", "received:", "delivered-to:", "mime-version:", "message-id:")
_EML_WEAK = ("from:", "to:", "subject:", "date:")
_EML_CORROBORATORS = ("\nmime-version:", "\nsubject:", "\nfrom:", "\nto:", "\nmessage-id:")

RULES: tuple[tuple, ...] = (
    (KIND_PDF, starts("%PDF-")),
    # before the html-contains row: a zip whose first member is html is a zip
    (KIND_ZIP, starts("PK\x03\x04")),
    (KIND_GZIP, starts("\x1f\x8b")),
    (KIND_XZ, starts("\xfd7zXZ\x00")),
    (KIND_BZ2, starts("BZh"), char_in(3, "123456789")),  # + block-size digit
    (KIND_Z, starts("\x1f\x9d")),
    (KIND_LZ4, starts("\x04\x22\x4d\x18")),  # 0x184D2204 LE
    # 'MThd' is printable: a real header length (6) has a NUL high byte
    (KIND_MIDI, starts("MThd"), at(4, "\x00")),
    (KIND_SEVENZ, starts("7z\xbc\xaf\x27\x1c")),
    # shared by the v4 and v5 marker blocks; v4 becomes an honest error row
    (KIND_RAR, starts("Rar!\x1a\x07")),
    (KIND_ZSTD, starts("\x28\xb5\x2f\xfd")),  # 0xFD2FB528 LE
    # props 0x5D (']', prose-plausible) + zero low dictionary bytes, and a
    # declared size (bytes 5..13) that is unknown (all 0xFF) or < 2^40
    (KIND_LZMA, starts("\x5d\x00\x00"), any_of(at(5, "\xff" * 8), at(10, "\x00" * 3))),
    (KIND_OLE, starts(OLE_MAGIC_TEXT)),
    (KIND_SQLITE, starts("SQLite format 3\x00")),
    # sfnt 0x00010000 is binary; the printable 'OTTO'/'wOFF' tags need a
    # plausible 5th byte: numTables < 256, or the wrapped flavor's first byte
    (KIND_FONT, starts("\x00\x01\x00\x00")),
    (KIND_FONT, starts("OTTO"), at(4, "\x00")),
    (KIND_FONT, starts("wOFF"), char_in(4, "\x00O")),
    # before the html rows: response blocks carry html in the head
    (KIND_WARC, starts("WARC/")),
    (KIND_PLIST, starts("bplist00")),
    (KIND_AR, starts("!<arch>\n")),
    # the 8-hex ino field keeps digit-led prose and csv out
    (KIND_CPIO, starts("070701", "070702"), hex_at(6, 8)),
    # \x03 version byte (no text opens with it), a plausible YY MM DD stamp,
    # and an xBase field-type letter in the first field descriptor
    (KIND_DBF, starts("\x03"), ord_in(2, 1, 12), ord_in(3, 1, 31), char_in(43, "CNFLDM")),
    (KIND_TNEF, starts("\x78\x9f\x3e\x22")),  # 0x223E9F78 LE
    # 'MSCF' alone is prose-plausible; its zero reserved1 field is not
    (KIND_CAB, starts("MSCF\x00\x00\x00\x00")),
    (KIND_AVRO, starts("Obj\x01")),  # the \x01 version byte keeps prose out
    # 'PAR1' at both ends of the full payload, with room for a footer
    (KIND_PARQUET, starts("PAR1"), ends("PAR1", 12)),
    # fixed-offset signatures in the full payload, after the offset-0
    # magics; ISO's 'CD001' past the 32 KiB system area pins hybrids
    # before tar's in-header 'ustar'
    (KIND_ISO, at(32769, "CD001", view="text")),
    (KIND_TAR, at(257, "ustar", view="text")),
    # media inside containers: PNG, JPEG, GIF, RIFF, TIFF. BMP's 'BM' is
    # too weak for text-carried payloads (prose starting "BM..." would
    # misroute); the multimodal path still decodes BMP by magic.
    (KIND_MEDIA, starts("\x89PNG\r\n", "\xff\xd8\xff", "GIF87a", "GIF89a", "RIFF",
                        "II*\x00", "MM\x00*")),
    (KIND_MEDIA, at(4, "ftyp")),  # ISO-BMFF: the first box's fourcc
    (KIND_RTF, starts("{\\rtf")),  # before json: RTF also opens with '{'
    # From_ separator with '@' in it and a header line after it, so "From
    # the desk of..." stays text; before html, a body part may be in the head
    (KIND_MBOX, starts("From "), has("@", view="line"), has(*_EML_CORROBORATORS)),
    (KIND_HTML, starts("<!doctype html", "<html", "<head", "<body", view="low")),
    # before '<html' anywhere: an xhtml document with an xml prolog is xml
    (KIND_XML, starts("<?xml", view="low")),
    (KIND_HTML, has("<html")),
    # mail and calendar openers precede csv: 'From: a@x, b@y, c@z' and
    # ATTENDEE address lists carry commas
    (KIND_EML, starts(*_EML_STRONG, view="low")),
    (KIND_EML, starts(*_EML_WEAK, view="low"), has(*_EML_CORROBORATORS)),
    (KIND_ICS, starts("begin:vcalendar", view="low")),
    (KIND_VCF, starts("begin:vcard", view="low")),
    (KIND_JSON, starts("{", "[", view="low")),
    (KIND_CSV, commas(2)),
)

_HEX = "0123456789abcdefABCDEF"

_PY_OPS = {
    "starts": lambda view, prefixes: lambda v: v[view].startswith(prefixes),
    "at": lambda view, off, lit: lambda v: v[view][off : off + len(lit)] == lit,
    "char_in": lambda view, off, chars: lambda v: v[view][off : off + 1] in chars,
    "hex": lambda view, off, n: lambda v: (
        len(s := v[view][off : off + n]) == n and not s.strip(_HEX)
    ),
    "ends": lambda view, suffix, n: lambda v: len(v[view]) >= n and v[view].endswith(suffix),
    "has": lambda view, needles: lambda v: any(map(v[view].__contains__, needles)),
    "commas": lambda view, n: lambda v: v[view].count(",") >= n,
}


def _py_test(predicates: tuple):
    """The conjunction of ``predicates`` as one Python test over views."""
    (op, view, *args), *rest = predicates
    if op == "any":
        alts = [_py_test((p,)) for p in args[0]]
        test = lambda v: any(t(v) for t in alts)  # noqa: E731
    else:
        test = _PY_OPS[op](view, *args)
    if not rest:
        return test
    tail = _py_test(rest)
    return lambda v: test(v) and tail(v)


class _Views(dict):
    """The views of one payload; ``low`` and ``line`` are derived once, on
    first use."""

    def __missing__(self, view: str) -> str:
        head = self["head"]
        value = self[view] = head.lstrip().lower() if view == "low" else head.split("\n", 1)[0]
        return value


def _led(row: tuple) -> bool:
    op, view = row[1][:2]
    return op == "starts" and view == "head"


_TESTS = tuple((kind, _py_test(preds)) for kind, *preds in RULES)
# One gate over every leading offset-0 magic: when the head starts with
# none of them, the rows they lead cannot match and are skipped.
_GATE = tuple(p for row in RULES if _led(row) for p in row[1][2])
_UNLED = tuple(t for row, t in zip(RULES, _TESTS) if not _led(row))


def sniff_kind(text: str, media_ref: str = "") -> str:
    """Classify a span payload: the kind of the first :data:`RULES` row
    that matches, else ``text``. An empty payload is ``media`` when it
    carries a media_ref (top-level media spans have no text).

    The QMimeDatabase the reference consults
    (/root/reference/src/java-env.cpp:233-242) knows these families too;
    xml/json/csv extract as text-family but route and tally distinctly.
    """
    if not text:
        return KIND_MEDIA if media_ref else KIND_TEXT
    head = text[:HEAD_WINDOW]
    views = _Views(text=text, head=head)
    for kind, test in _TESTS if head.startswith(_GATE) else _UNLED:
        if test(views):
            return kind
    return KIND_TEXT
