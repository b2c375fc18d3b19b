"""dBase .dbf table extraction — hand-rolled xBase reader.

The reference reaches DBF through Tika's DBFParser
(/root/reference/src/java-env.cpp:313-314); this is the pure-core analog:
parse the 32-byte file header, the 32-byte field descriptors, and the
fixed-width record array, and emit one csv-shaped text block (header line
of field names, one comma-joined line per active record) — the same
table-to-text shape the sqlite path uses. Field names land in the
``dbf_fields`` meta key.

Layout (dBase III+, the format every xBase tool writes):
  byte 0        version (0x03 plain table; 0x83/0x8B memo variants parse
                the table part the same way — memo fields surface as their
                block-number digits, the honest no-.dbt-sidecar behavior)
  bytes 1-3     last-update YY MM DD (YY since 1900)
  bytes 4-7     record count (LE u32)
  bytes 8-9     header size (LE u16) == 32 + 32*n_fields + 1
  bytes 10-11   record size (LE u16) == 1 + sum(field lengths)
  offset 32     field descriptors, 32 bytes each: name[11] NUL-padded,
                type (C/N/F/L/D/M), 4 reserved, length, decimals, 14 reserved;
                terminated by 0x0D
  records       record_size bytes each; first byte ' ' active / '*' deleted
  optional 0x1A EOF marker

Malformed tables raise :class:`ExtractError` ('dbf:' prefix) ->
``parse_ok=false`` rows, never task failures. The extraction core
hands it bytes (:func:`core.errors.payload_bytes`).
"""

from __future__ import annotations

import struct

from tika_wrap_spark.core.errors import ExtractError

MAGIC_VERSIONS = (0x03, 0x83, 0x8B)
FIELD_TYPES = b"CNFLDM"
_MAX_FIELDS = 255
_MAX_RECORDS = 1_000_000


def parse_dbf(data: bytes) -> tuple[list[str], list[list[str]]]:
    """(field_names, rows) of the active records, values stripped."""
    if len(data) < 33:
        raise ExtractError("dbf: truncated header")
    if data[0] not in MAGIC_VERSIONS:
        raise ExtractError("dbf: unsupported version 0x%02x" % data[0])
    month, day = data[2], data[3]
    if not (1 <= month <= 12 and 1 <= day <= 31):
        raise ExtractError("dbf: implausible last-update date")
    n_records, header_size, record_size = struct.unpack_from("<IHH", data, 4)
    if header_size < 65 or (header_size - 33) % 32 != 0:
        raise ExtractError("dbf: bad header size %d" % header_size)
    n_fields = (header_size - 33) // 32
    if n_fields > _MAX_FIELDS:
        raise ExtractError("dbf: too many fields (%d)" % n_fields)
    if n_records > _MAX_RECORDS:
        raise ExtractError("dbf: implausible record count %d" % n_records)
    if len(data) < header_size:
        raise ExtractError("dbf: field descriptors past EOF")
    if data[header_size - 1] != 0x0D:
        raise ExtractError("dbf: missing field-descriptor terminator")
    names: list[str] = []
    lengths: list[int] = []
    for i in range(n_fields):
        off = 32 + 32 * i
        desc = data[off : off + 32]
        name = desc[:11].split(b"\x00", 1)[0].decode("latin-1")
        if not name or desc[11] not in FIELD_TYPES:
            raise ExtractError(
                "dbf: bad field descriptor %d (type %r)" % (i, desc[11:12])
            )
        names.append(name)
        lengths.append(desc[16])
    if record_size != 1 + sum(lengths):
        raise ExtractError(
            "dbf: record size %d != 1 + field lengths %d"
            % (record_size, 1 + sum(lengths))
        )
    need = header_size + n_records * record_size
    if len(data) < need:
        raise ExtractError(
            "dbf: %d records of %d bytes overrun the payload"
            % (n_records, record_size)
        )
    rows: list[list[str]] = []
    pos = header_size
    for _ in range(n_records):
        rec = data[pos : pos + record_size]
        pos += record_size
        if rec[0:1] == b"*":  # deleted record: skipped, like Tika
            continue
        if rec[0:1] != b" ":
            raise ExtractError("dbf: bad deletion flag %r" % rec[0:1])
        vals = []
        fpos = 1
        for ln in lengths:
            vals.append(rec[fpos : fpos + ln].decode("latin-1").strip())
            fpos += ln
        rows.append(vals)
    return names, rows


def dbf_to_text(data: bytes) -> tuple[str, str]:
    """(csv-shaped text block, comma-joined field names) — the extraction
    surface: header line then one line per active record."""
    names, rows = parse_dbf(data)
    lines = [",".join(names)]
    lines.extend(",".join(r) for r in rows)
    return "\n".join(lines), ",".join(names)


def build_dbf(
    names: list[str],
    rows: list[list[str]],
    deleted: set[int] | None = None,
) -> bytes:
    """Deterministic dBase III+ table — the test/corpus builder twin.
    Field lengths size to the longest value (min 1); all fields type C.
    ``deleted`` marks record indices flagged '*' (present but skipped)."""
    deleted = deleted or set()
    lengths = [
        max([len(n)] + [len(r[i]) for r in rows] + [1])
        for i, n in enumerate(names)
    ]
    header_size = 32 + 32 * len(names) + 1
    record_size = 1 + sum(lengths)
    out = bytearray()
    out.append(0x03)
    out.extend(bytes((124, 6, 15)))  # last update: 2024-06-15
    out.extend(struct.pack("<IHH", len(rows), header_size, record_size))
    out.extend(b"\x00" * 20)
    for name, ln in zip(names, lengths):
        desc = bytearray(32)
        desc[:11] = name.encode("latin-1")[:11].ljust(11, b"\x00")
        desc[11] = ord("C")
        desc[16] = ln
        out.extend(desc)
    out.append(0x0D)
    for i, r in enumerate(rows):
        out.append(0x2A if i in deleted else 0x20)
        for v, ln in zip(r, lengths):
            out.extend(v.encode("latin-1")[:ln].ljust(ln, b" "))
    out.append(0x1A)
    return bytes(out)


def build_dbf_text(
    names: list[str],
    rows: list[list[str]],
    deleted: set[int] | None = None,
) -> str:
    return build_dbf(names, rows, deleted).decode("latin-1")
