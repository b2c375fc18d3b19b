"""Unix ``ar`` archive parsing (.a / .ar / Debian .deb) — pure stdlib
byte-layout walk.

The reference delegates archive parsing to Tika, whose commons-compress
container family covers ``ar`` alongside zip/tar (observable surface: the
AutoParser endpoint, /root/reference/src/java-env.cpp:313-314; zip smoke
inputs at example/demo1.cpp:48-49). The rebuild parses the common archive
layout natively, the same discipline as :mod:`core.tarbin`:

    global magic  "!<arch>\\n"                        (8 bytes, offset 0)
    per member, a 60-byte ASCII header:
      name[16] mtime[12] uid[6] gid[6] mode[8] size[10] end[2]="\\x60\\n"
    ... member data, padded to an EVEN offset with "\\n" ...

Name conventions handled:
  * SysV/Debian plain names, space-padded ("debian-binary   ")
  * GNU trailing-slash names ("control.tar.gz/") — slash stripped
  * GNU long-name table: a "//" member holding "name/\\n"-joined entries,
    referenced as "/<decimal offset>"
  * BSD extended names "#1/<len>": the real name is the first <len> bytes
    of the member data (size field includes it)
  * the GNU symbol index ("/") and the long-name table itself are archive
    plumbing, never surfaced as entries

A Debian ``.deb`` is exactly this container with members ``debian-binary``
(version text), ``control.tar.gz`` and ``data.tar.{gz,xz,bz2}`` — the
members recurse through the engine's existing wrapper/tar paths, so a .deb
extracts its packaged files' text with no deb-specific code beyond the
``container_format`` tag.

Malformed archives (bad global magic, bad member terminator, non-decimal
size, truncated data, dangling long-name reference) raise
:class:`ExtractError` ("ar:" prefix) -> ``parse_ok=false`` rows, never
task failures. The extraction core hands it bytes (:func:`core.errors.payload_bytes`).
"""

from __future__ import annotations

from tika_wrap_spark.core.errors import ExtractError

AR_GLOBAL_MAGIC = b"!<arch>\n"
_HDR = 60
_END = b"\x60\n"


def _decimal(field: bytes, what: str) -> int:
    s = field.rstrip(b" ")
    if not s:
        return 0
    try:
        return int(s)
    except ValueError:
        raise ExtractError("ar: bad decimal %s field %r" % (what, field[:12]))


def _long_names(table: bytes) -> dict[int, str]:
    """GNU ``//`` table: entries are "name/\\n" (or "name\\n") back to back;
    references are byte offsets into the raw table."""
    names: dict[int, str] = {}
    pos = 0
    while pos < len(table):
        end = table.find(b"\n", pos)
        if end == -1:
            end = len(table)
        raw = table[pos:end].rstrip(b"/")
        names[pos] = raw.decode("utf-8", "replace")
        pos = end + 1
    return names


def parse_ar(data: bytes) -> list[tuple[str, bytes]]:
    """Parse one ar archive into ``[(name, payload_bytes), ...]`` in archive
    order. Raises ExtractError on any malformation."""
    if not data.startswith(AR_GLOBAL_MAGIC):
        raise ExtractError("ar: bad global magic %r" % data[:8])
    n = len(data)
    pos = len(AR_GLOBAL_MAGIC)
    entries: list[tuple[str, bytes]] = []
    long_names: dict[int, str] = {}
    while pos < n:
        if pos + _HDR > n:
            raise ExtractError("ar: truncated member header at offset %d" % pos)
        header = data[pos : pos + _HDR]
        if header[58:60] != _END:
            raise ExtractError(
                "ar: bad member terminator %r at offset %d" % (header[58:60], pos)
            )
        name_field = header[0:16].rstrip(b" ")
        size = _decimal(header[48:58], "size")
        data_start = pos + _HDR
        data_end = data_start + size
        if data_end > n:
            raise ExtractError(
                "ar: truncated member data for %r" % name_field[:20]
            )
        payload = data[data_start:data_end]
        if name_field == b"//":  # GNU long-name table (plumbing)
            long_names = _long_names(payload)
        elif name_field == b"/":  # GNU symbol index (plumbing)
            pass
        elif name_field.startswith(b"#1/"):  # BSD extended name
            name_len = _decimal(name_field[3:] + b" ", "bsd name length")
            if name_len > size:
                raise ExtractError("ar: BSD name length exceeds member size")
            name = payload[:name_len].rstrip(b"\x00").decode("utf-8", "replace")
            entries.append((name, payload[name_len:]))
        elif name_field.startswith(b"/"):  # GNU long-name reference
            off = _decimal(name_field[1:] + b" ", "long-name offset")
            if off not in long_names:
                raise ExtractError("ar: dangling long-name reference /%d" % off)
            entries.append((long_names[off], payload))
        else:
            name = name_field.rstrip(b"/").decode("utf-8", "replace")
            entries.append((name, payload))
        pos = data_end + (data_end & 1)  # "\n" pad to even
    return entries


def build_ar(entries: list[tuple[str, bytes]]) -> bytes:
    """Serialize ``(name, payload_bytes)`` members into a deterministic ar
    archive (epoch mtime, uid/gid 0, mode 100644 — the Debian .deb shape:
    plain space-padded names). Long names route through a GNU ``//`` table,
    matching what GNU ar emits for >16-char members."""
    out = bytearray(AR_GLOBAL_MAGIC)
    long_entries = [n for n, _p in entries if len(n.encode("utf-8")) > 16]
    long_offsets: dict[str, int] = {}
    if long_entries:
        table = bytearray()
        for name in long_entries:
            long_offsets[name] = len(table)
            table += name.encode("utf-8") + b"/\n"
        out += _member_header(b"//", len(table))
        out += table
        if len(table) & 1:
            out += b"\n"
    for name, payload in entries:
        name_b = name.encode("utf-8")
        field = (
            b"/" + str(long_offsets[name]).encode()
            if name in long_offsets
            else name_b
        )
        out += _member_header(field, len(payload))
        out += payload
        if len(payload) & 1:
            out += b"\n"
    return bytes(out)


def _member_header(name_field: bytes, size: int) -> bytes:
    if len(name_field) > 16:
        raise ExtractError("ar: member name field too long")
    return (
        name_field.ljust(16)
        + b"0".ljust(12)  # mtime: epoch
        + b"0".ljust(6)  # uid
        + b"0".ljust(6)  # gid
        + b"100644".ljust(8)  # mode
        + str(size).encode().ljust(10)
        + _END
    )


def build_ar_text(entries: list[tuple[str, str]]) -> str:
    return build_ar(
        [(name, payload.encode("latin-1")) for name, payload in entries]
    ).decode("latin-1")
