"""Font file metadata — sfnt (TrueType/OpenType) and WOFF, pure stdlib.

Tika parses fonts (TrueTypeParser / AdobeFontMetricParser) and surfaces
naming metadata; the reference exposes whatever Tika accepts
(/root/reference/src/java-env.cpp:313). The rebuild walks the public
formats directly:

  * sfnt (OpenType spec §5 "The OpenType Font File"): offset table
    (version 0x00010000 TrueType outlines / 'OTTO' CFF outlines), table
    directory, then the 'name' table (format 0 records: platform/
    encoding/language/nameID; Windows 3/1 strings utf-16be, Macintosh
    1/0 strings mac-roman), the 'head' table (magic 0x5F0F3CF5,
    unitsPerEm) and 'maxp' (numGlyphs).
  * WOFF (W3C WOFF 1.0): 44-byte header, 20-byte table directory
    entries, per-table zlib compression when compLength < origLength.

Fonts are metadata-only payloads (Tika emits no body text for them):
extraction surfaces ``font_family``/``font_name`` meta keys and no spans.
Malformed input raises :class:`ExtractError` (``parse_ok=false`` row,
never a task failure); table reads are bounds-checked against the file.

Builders (:func:`build_sfnt` / :func:`build_woff`) produce real
byte-level fonts (proper table checksums) for corpus and goldens.
"""

from __future__ import annotations

import struct
import zlib

from tika_wrap_spark.core.errors import MAX_INFLATED, ExtractError, inflate, over_budget

SFNT_TTF = b"\x00\x01\x00\x00"
SFNT_OTTO = b"OTTO"
WOFF_MAGIC = b"wOFF"

_HEAD_MAGIC = 0x5F0F3CF5

# name IDs surfaced (OpenType §name): family, subfamily, full name, version
_NAME_IDS = {1: "family", 2: "subfamily", 4: "full_name", 5: "version"}

_MAX_TABLES = 64
_MAX_NAME_RECORDS = 512


def _u16(b: bytes, off: int) -> int:
    if off + 2 > len(b):
        raise ExtractError("font: truncated u16 read")
    return struct.unpack_from(">H", b, off)[0]


def _u32(b: bytes, off: int) -> int:
    if off + 4 > len(b):
        raise ExtractError("font: truncated u32 read")
    return struct.unpack_from(">I", b, off)[0]


def _sfnt_tables(data: bytes) -> dict[str, bytes]:
    n = _u16(data, 4)
    if not 1 <= n <= _MAX_TABLES:
        raise ExtractError("font: implausible table count %d" % n)
    tables: dict[str, bytes] = {}
    for i in range(n):
        rec = 12 + 16 * i
        tag = data[rec : rec + 4]
        if len(tag) < 4:
            raise ExtractError("font: truncated table directory")
        off = _u32(data, rec + 8)
        length = _u32(data, rec + 12)
        if off + length > len(data):
            raise ExtractError("font: table %r past end of file" % tag)
        tables[tag.decode("latin-1")] = data[off : off + length]
    return tables


def _woff_tables(data: bytes) -> dict[str, bytes]:
    n = _u16(data, 12)
    if not 1 <= n <= _MAX_TABLES:
        raise ExtractError("font: implausible table count %d" % n)
    tables: dict[str, bytes] = {}
    inflated = 0  # the tables' share of the one decompression budget
    for i in range(n):
        rec = 44 + 20 * i
        tag = data[rec : rec + 4]
        if len(tag) < 4:
            raise ExtractError("font: truncated woff directory")
        off = _u32(data, rec + 4)
        comp = _u32(data, rec + 8)
        orig = _u32(data, rec + 12)
        if off + comp > len(data):
            raise ExtractError("font: woff table %r past end of file" % tag)
        raw = data[off : off + comp]
        if comp < orig:
            if inflated + orig > MAX_INFLATED:
                raise over_budget("font")
            d = zlib.decompressobj()
            raw = inflate("font", d, raw, inflated, orig)  # origLength + 1 refutes it
            inflated += len(raw)
            if len(raw) <= orig and not d.eof:
                raise ExtractError("font: woff table inflate failed: truncated stream")
        if len(raw) != orig:
            raise ExtractError("font: woff table length mismatch")
        tables[tag.decode("latin-1")] = raw
    return tables


def _parse_name_table(name: bytes) -> dict[str, str]:
    count = _u16(name, 2)
    if count > _MAX_NAME_RECORDS:
        raise ExtractError("font: implausible name record count %d" % count)
    string_off = _u16(name, 4)
    # candidate per surfaced name ID, keyed by preference rank
    best: dict[str, tuple[int, str]] = {}
    for i in range(count):
        rec = 6 + 12 * i
        plat = _u16(name, rec)
        enc = _u16(name, rec + 2)
        lang = _u16(name, rec + 4)
        nid = _u16(name, rec + 6)
        length = _u16(name, rec + 8)
        off = _u16(name, rec + 10)
        key = _NAME_IDS.get(nid)
        if key is None:
            continue
        start = string_off + off
        raw = name[start : start + length]
        if len(raw) != length:
            raise ExtractError("font: name string past table end")
        if plat == 3 or plat == 0:  # Windows / Unicode: utf-16be
            value = raw.decode("utf-16-be", "replace")
            rank = 0 if (plat == 3 and enc == 1 and lang == 0x409) else (
                1 if plat == 3 else 2
            )
        elif plat == 1:  # Macintosh roman: single-byte
            value = raw.decode("mac-roman", "replace")
            rank = 3
        else:
            continue
        cur = best.get(key)
        if cur is None or rank < cur[0]:
            best[key] = (rank, value)
    return {k: v for k, (_r, v) in best.items()}


def parse_font_meta(data: bytes) -> dict[str, str]:
    """Naming + structural metadata for one font file.

    Returns flat strings: family, subfamily, full_name, version, flavor
    ('ttf'/'otf'), container ('sfnt'/'woff'), units_per_em, n_glyphs
    (absent keys omitted)."""
    if len(data) < 12:
        raise ExtractError("font: payload too short")
    if data.startswith(WOFF_MAGIC):
        flavor_tag = data[4:8]
        tables = _woff_tables(data)
        container = "woff"
    elif data.startswith(SFNT_TTF) or data.startswith(SFNT_OTTO):
        flavor_tag = data[0:4]
        tables = _sfnt_tables(data)
        container = "sfnt"
    else:
        raise ExtractError("font: unrecognized magic")
    out: dict[str, str] = {
        "container": container,
        "flavor": "otf" if flavor_tag == SFNT_OTTO else "ttf",
    }
    name = tables.get("name")
    if name is None:
        raise ExtractError("font: missing name table")
    out.update(_parse_name_table(name))
    head = tables.get("head")
    if head is not None and len(head) >= 20:
        if _u32(head, 12) != _HEAD_MAGIC:
            raise ExtractError("font: bad head table magic")
        out["units_per_em"] = str(_u16(head, 18))
    maxp = tables.get("maxp")
    if maxp is not None and len(maxp) >= 6:
        out["n_glyphs"] = str(_u16(maxp, 4))
    return out


# ---------------------------------------------------------------- builders


def _table_checksum(raw: bytes) -> int:
    padded = raw + b"\x00" * (-len(raw) % 4)
    return sum(struct.unpack(">%dI" % (len(padded) // 4), padded)) & 0xFFFFFFFF


def _build_name_table(names: dict[int, str]) -> bytes:
    records = []
    strings = b""
    # Windows 3/1/0x409 utf-16be records for every name, then a Macintosh
    # 1/0/0 roman copy of the family — exercises both decode
    # paths the parser implements
    for nid in sorted(names):
        raw = names[nid].encode("utf-16-be")
        records.append((3, 1, 0x409, nid, len(raw), len(strings)))
        strings += raw
    if 1 in names:
        try:
            raw = names[1].encode("mac-roman")
            records.append((1, 0, 0, 1, len(raw), len(strings)))
            strings += raw
        except UnicodeEncodeError:
            pass
    hdr = struct.pack(">HHH", 0, len(records), 6 + 12 * len(records))
    body = b"".join(struct.pack(">6H", *r) for r in records)
    return hdr + body + strings


def build_sfnt(
    family: str,
    subfamily: str = "Regular",
    version: str = "Version 1.0",
    flavor: str = "ttf",
    units_per_em: int = 1000,
    n_glyphs: int = 128,
) -> bytes:
    """A minimal REAL sfnt font: offset table + name/head/maxp with proper
    per-table checksums (glyph outlines omitted — metadata surface only,
    like a subset font stub)."""
    full = "%s %s" % (family, subfamily)
    name = _build_name_table({1: family, 2: subfamily, 4: full, 5: version})
    head = struct.pack(
        ">IIII HH 8x 8x hhhh HHhhh",
        0x00010000, 0, 0, _HEAD_MAGIC, 0b11, units_per_em,
        0, 0, 1000, 1000, 0, 8, 2, 0, 0,
    )
    maxp = struct.pack(">IH", 0x00010000, n_glyphs) + b"\x00" * 26
    tables = [("head", head), ("maxp", maxp), ("name", name)]
    sfnt_version = SFNT_OTTO if flavor == "otf" else SFNT_TTF
    n = len(tables)
    search = 16 * (1 << (n.bit_length() - 1))
    offset_table = struct.pack(
        ">4sHHHH", sfnt_version, n, search, n.bit_length() - 1, 16 * n - search
    )
    dir_size = 12 + 16 * n
    out_dir = b""
    data = b""
    off = dir_size
    for tag, raw in tables:
        out_dir += struct.pack(
            ">4sIII", tag.encode(), _table_checksum(raw), off, len(raw)
        )
        pad = raw + b"\x00" * (-len(raw) % 4)
        data += pad
        off += len(pad)
    return offset_table + out_dir + data


def build_woff(sfnt: bytes, compress: bool = True) -> bytes:
    """Wrap an sfnt font in a WOFF 1.0 container (per-table zlib when it
    helps and ``compress`` is set)."""
    tables = _sfnt_tables(sfnt)
    n = len(tables)
    entries = []
    data = b""
    off = 44 + 20 * n
    total_sfnt = 12 + 16 * n
    for tag in sorted(tables):
        raw = tables[tag]
        comp = zlib.compress(raw, 9) if compress else raw
        if len(comp) >= len(raw):
            comp = raw
        entries.append((tag, off, len(comp), len(raw), _table_checksum(raw)))
        pad = comp + b"\x00" * (-len(comp) % 4)
        data += pad
        off += len(pad)
        total_sfnt += len(raw) + (-len(raw) % 4)
    header = struct.pack(
        ">4s4sIHHIHHIIIII",
        WOFF_MAGIC, sfnt[0:4], off, n, 0, total_sfnt, 1, 0, 0, 0, 0, 0, 0,
    )
    directory = b"".join(
        struct.pack(">4sIIII", tag.encode(), o, c, orig, chk)
        for tag, o, c, orig, chk in entries
    )
    return header + directory + data
