"""The format table: one row per extracted format, the single place the
query layer learns a format's identity.

The reference never names a format itself — it asks one detector
(QMimeDatabase, then Tika's AutoParser; tika-wrap src/java-env.cpp:233-242,
313). The rebuild's parsers live in ``core/`` and the sniffer in
``core/sniff.py``; everything the query layer needs to know about a format
after extraction is one :class:`Format` row here:

- the error prefixes its parser raises (``"zip"`` for ``"zip: ..."``)
  and the ``error_taxonomy`` class they land in;
- how its rows are found in the extract-once store: ``container_format``
  values or prefix, an entry of the comma-joined ``kinds`` meta key, or a
  non-empty meta key;
- the columns of its ``<name>_route`` tally (after ``doc_id``), if it has
  one.

``FORMATS`` is ordered: the taxonomy is a first-match chain and its classes
appear in the order their first row appears here. Substring rules
(``needles``) sit with their class, so the ``container`` class still
matches before the archive prefixes, ``PDF`` after them and html's
``tag``/``comment``/``declaration`` after every prefix.

Tally columns come from a small vocabulary, each written
``alias=kind:meta_key`` or as a bare built-in, space-separated in ``cols``:

- ``parse_ok``, ``n_spans`` (span count), ``span_seq_hash`` (the ordered
  span digest);
- ``str`` — the meta value, ``""`` when absent;
- ``int`` — the meta value cast to int, NULL when absent;
- ``count`` — the number of entries in a comma-joined meta value;
- ``flag`` — 1 when the meta value is non-empty, else 0.

Adding a format is one row here plus its parser in ``core/``. Pure Python:
no Spark import, so tools and tests read the table without a session.
"""

from __future__ import annotations

from typing import NamedTuple


class Format(NamedTuple):
    name: str  # tally name: the registry entry is ``<name>_route``
    cls: str  # error_taxonomy class
    prefixes: tuple[str, ...] = ()  # error prefixes, without the ':'
    needles: tuple[str, ...] = ()  # error substrings of the same class
    formats: tuple[str, ...] = ()  # container_format values
    format_prefix: str = ""  # container_format prefix
    kinds: tuple[str, ...] = ()  # entries of the meta 'kinds' list
    meta_key: str = ""  # a non-empty meta key marks the row
    cols: str = ""  # space-separated route tally columns; "" = no tally


_TAIL = "n_spans span_seq_hash"
_MEMBERS = (
    "parse_ok n_members=int:n_container_entries container_depth=int:container_depth " + _TAIL
)


def _archive(name: str, prefix: str = "") -> Format:
    """A container found by its container_format (= its error prefix),
    tallied by member count and nesting depth."""
    prefix = prefix or name
    return Format(name, "archive", (prefix,), formats=(prefix,), cols=_MEMBERS)


def _table(name: str, key: str) -> Format:
    """A tabular format found and tallied by its column-names meta key."""
    cols = "parse_ok %s=str:%s %s" % (key, key, _TAIL)
    return Format(name, name, (name,), meta_key=key, cols=cols)


FORMATS: tuple[Format, ...] = (
    # TWC1 test container, the zip analog of the reference TODO (README.md:25)
    Format("container", "container", ("container",), needles=("container",)),
    # ZipArchiveInputStream; java-env.cpp:313-314
    Format("zip", "archive", ("zip",)),
    # TarArchiveInputStream; java-env.cpp:313-314
    Format("tar", "archive", ("tar",)),
    # ArArchiveInputStream, .deb via the debian-binary marker; java-env.cpp:313-314
    Format("ar", "archive", ("ar",), formats=("ar", "deb"),
           cols="parse_ok container_format=str:container_format "
           "container_depth=int:container_depth " + _TAIL),
    # CpioArchiveInputStream; java-env.cpp:313-314
    _archive("cpio"),
    # GzipCompressorInputStream; java-env.cpp:313-314
    Format("gzip", "archive", ("gzip",)),
    # XZCompressorInputStream; java-env.cpp:313-314
    Format("xz", "archive", ("xz",)),
    # BZip2CompressorInputStream; java-env.cpp:313-314
    Format("bz2", "archive", ("bz2",)),
    # ZCompressorInputStream; java-env.cpp:313-314
    _archive("z"),
    # FramedLZ4CompressorInputStream; java-env.cpp:313-314
    _archive("lz4"),
    # SevenZFile; java-env.cpp:313-314
    _archive("sevenz", "7z"),
    # junrar; java-env.cpp:313-314
    _archive("rar"),
    # ZstdCompressorInputStream; java-env.cpp:313-314
    _archive("zstd"),
    # LZMACompressorInputStream; java-env.cpp:313-314
    _archive("lzma"),
    # ISO 9660 image via the AutoParser; java-env.cpp:313-314
    _archive("iso"),
    # commons-compress cabinet reader via the AutoParser; java-env.cpp:313-314
    _archive("cab"),
    # XPSParser (an OPC zip with .fdseq/.fpage members); java-env.cpp:313-314
    Format("xps", "archive", formats=("xps",),
           cols="parse_ok n_members=int:n_container_entries " + _TAIL),
    # OpenDocumentParser/EpubParser (zip mimetype marker); java-env.cpp:313
    Format("odf", "archive", formats=("epub",), format_prefix="odf-",
           cols="parse_ok odf_kind=str:container_format " + _TAIL),
    # PDFParser (PDFBox); java-env.cpp:313
    Format("pdf", "pdf", ("pdf",), needles=("PDF",)),
    # PDFBox /EmbeddedFiles walk, attachments recurse; java-env.cpp:313
    Format("pdf_attach", "pdf", formats=("pdf-attach",),
           cols="n_attachments=int:n_container_entries " + _TAIL),
    # RTFParser; java-env.cpp:313
    Format("rtf", "rtf", ("rtf",)),
    # RFC822Parser; java-env.cpp:313
    Format("eml", "eml", ("eml",)),
    # POI OfficeParser/OutlookExtractor over CFB; java-env.cpp:313
    Format("ole", "ole", ("ole", "doc", "xls", "ppt", "msg"), format_prefix="ole-",
           cols="parse_ok ole_kind=str:container_format " + _TAIL),
    # ICalParser/VCardParser; java-env.cpp:313
    Format("ical", "ical", ("ics", "vcf"), kinds=("ics", "vcf"),
           cols="parse_ok kinds=str:kinds has_summary=flag:ical_summary " + _TAIL),
    # SQLite3Parser; java-env.cpp:313
    Format("sqlite", "sqlite", ("sqlite",), kinds=("sqlite",),
           cols="parse_ok n_tables=count:sqlite_tables " + _TAIL),
    # DBFParser; java-env.cpp:313-314
    _table("dbf", "dbf_fields"),
    # Avro containers via the AutoParser; java-env.cpp:313-314
    _table("avro", "avro_fields"),
    # Parquet via the AutoParser (pyarrow is the builder twin); java-env.cpp:313
    _table("parquet", "parquet_columns"),
    # MidiParser; java-env.cpp:313-314
    Format("midi", "midi", ("midi",), meta_key="midi_tracks",
           cols="parse_ok n_tracks=int:midi_tracks track_name=str:midi_track_name " + _TAIL),
    # TNEFParser; java-env.cpp:313-314
    Format("tnef", "tnef", ("tnef",), formats=("tnef",),
           cols="parse_ok subject=str:eml_subject "
           "n_attachments=int:n_container_entries " + _TAIL),
    # TrueTypeParser (fonts ride archives, so meta and kinds both mark them); java-env.cpp:313
    Format("font", "font", ("font",), kinds=("font",), meta_key="font_family",
           cols="parse_ok font_family=str:font_family font_name=str:font_name n_spans"),
    # WARCParser; java-env.cpp:313-314
    Format("warc", "warc", ("warc",), kinds=("warc",),
           cols="parse_ok warc_target=str:warc_target "
           "n_records=int:n_container_entries " + _TAIL),
    # MboxParser (each message through the eml core); java-env.cpp:313-314
    Format("mbox", "mbox", ("mbox",), formats=("mbox",),
           cols="parse_ok first_subject=str:eml_subject "
           "n_containers=int:n_containers " + _TAIL),
    # PListParser (stdlib plistlib is the builder twin); java-env.cpp:313
    Format("plist", "plist", ("plist",), kinds=("plist",),
           cols="parse_ok n_top_keys=count:plist_keys " + _TAIL),
    # HtmlParser (boilerplate strip); java-env.cpp:313
    Format("html", "html", needles=("tag", "comment", "declaration")),
    # XML root-element detectors (svg/rss/atom); java-env.cpp:233-242
    Format("xml", "html", meta_key="xml_root"),
)

BY_NAME = {f.name: f for f in FORMATS}


def error_classes() -> list[tuple[str, list[str], list[str]]]:
    """(class, error prefixes with ':', substrings) in first-match order."""
    out: dict[str, tuple[list[str], list[str]]] = {}
    for f in FORMATS:
        prefixes, needles = out.setdefault(f.cls, ([], []))
        prefixes += [p + ":" for p in f.prefixes]
        needles += f.needles
    return [(cls, p, n) for cls, (p, n) in out.items()]


def columns(f: Format) -> list[tuple[str, str, str]]:
    """(alias, kind, meta key) for each tally column of ``f``."""
    out = []
    for spec in f.cols.split():
        alias, _, rest = spec.partition("=")
        kind, _, key = rest.partition(":")
        out.append((alias, kind or alias, key))
    return out
