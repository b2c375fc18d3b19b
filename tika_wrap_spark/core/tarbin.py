"""Real ustar TAR container parsing — pure stdlib byte-layout walk.

The reference delegates archive parsing to Tika, whose container family
covers tar alongside zip (observable surface: the AutoParser endpoint,
/root/reference/src/java-env.cpp:313-314; zip smoke inputs at
example/demo1.cpp:48-49). The rebuild parses the POSIX ustar layout
natively, the same discipline as :mod:`core.zipbin`:

    512-byte header blocks: name[100] mode[8] uid[8] gid[8] size[12,octal]
    mtime[12] chksum[8] typeflag[1] linkname[100] magic[6]='ustar\\0'
    version[2] uname[32] gname[32] devmajor[8] devminor[8] prefix[155]
    ... member data, zero-padded to 512 ...
    two zero blocks terminate the archive

Regular-file members (typeflag '0' or NUL) surface as (name, payload);
directories and other typeflags are skipped (no payload to extract).
Header checksums are verified. Malformed archives (bad magic, bad octal
size, checksum mismatch, truncated data, missing terminator) raise
:class:`ExtractError` -> ``parse_ok=false`` rows, never task failures.

Payloads travel through the engine as bytes-as-text (latin-1, one char per
byte); the extraction core converts each one once
(:func:`core.errors.payload_bytes`) and decodes the members it gets back.
"""

from __future__ import annotations

from tika_wrap_spark.core.errors import ExtractError

BLOCK = 512
MAGIC_OFFSET = 257  # 'ustar' magic position inside the header block

_REGULAR_TYPES = (b"0", b"\x00")


def _octal(field: bytes, what: str) -> int:
    s = field.rstrip(b"\x00 ").lstrip(b" ")
    if not s:
        return 0
    try:
        return int(s, 8)
    except ValueError:
        raise ExtractError("tar: bad octal %s field %r" % (what, field[:12]))


def _checksum(header: bytes) -> int:
    """Header checksum: byte sum with the chksum field (148..156) read as
    spaces — the ustar definition."""
    return sum(header[:148]) + 8 * 0x20 + sum(header[156:])


def parse_tar(data: bytes) -> list[tuple[str, bytes]]:
    """Parse one ustar archive into ``[(name, payload_bytes), ...]`` in
    archive order. Raises ExtractError on any malformation."""
    n = len(data)
    if n < BLOCK or n % BLOCK != 0:
        raise ExtractError("tar: size is not a multiple of 512")
    entries: list[tuple[str, bytes]] = []
    pos = 0
    saw_terminator = False
    while pos + BLOCK <= n:
        header = data[pos : pos + BLOCK]
        if header == b"\x00" * BLOCK:
            saw_terminator = True
            break
        magic = header[MAGIC_OFFSET : MAGIC_OFFSET + 5]
        if magic != b"ustar":
            raise ExtractError("tar: bad magic %r at block %d" % (magic, pos // BLOCK))
        if _octal(header[148:156], "chksum") != _checksum(header):
            raise ExtractError("tar: header checksum mismatch at block %d" % (pos // BLOCK))
        size = _octal(header[124:136], "size")
        name = header[0:100].rstrip(b"\x00").decode("utf-8", "replace")
        prefix = header[345:500].rstrip(b"\x00").decode("utf-8", "replace")
        if prefix:
            name = prefix + "/" + name
        typeflag = header[156:157]
        data_start = pos + BLOCK
        data_end = data_start + size
        if data_end > n:
            raise ExtractError("tar: truncated member data for %r" % name[:60])
        if typeflag in _REGULAR_TYPES:
            entries.append((name, data[data_start:data_end]))
        pos = data_start + ((size + BLOCK - 1) // BLOCK) * BLOCK
    if not saw_terminator:
        raise ExtractError("tar: missing end-of-archive zero block")
    return entries


def build_tar(entries: list[tuple[str, bytes]]) -> bytes:
    """Serialize ``(name, payload_bytes)`` members into a deterministic
    ustar archive (epoch mtime, fixed mode/uid/gid) — the test/corpus
    builder, cross-validated against stdlib tarfile in tests."""
    out = bytearray()
    for name, payload in entries:
        name_b = name.encode("utf-8")
        if len(name_b) > 100:
            raise ExtractError("tar: member name too long for ustar name field")
        header = bytearray(BLOCK)
        header[0 : len(name_b)] = name_b
        header[100:108] = b"0000644\x00"  # mode
        header[108:116] = b"0000000\x00"  # uid
        header[116:124] = b"0000000\x00"  # gid
        header[124:136] = ("%011o" % len(payload)).encode() + b"\x00"
        header[136:148] = b"00000000000\x00"  # mtime: epoch
        header[156:157] = b"0"  # regular file
        header[MAGIC_OFFSET : MAGIC_OFFSET + 6] = b"ustar\x00"
        header[263:265] = b"00"  # version
        header[148:156] = ("%06o" % _checksum(bytes(header))).encode() + b"\x00 "
        out += header
        out += payload
        pad = (-len(payload)) % BLOCK
        out += b"\x00" * pad
    out += b"\x00" * (2 * BLOCK)
    return bytes(out)


def build_tar_text(entries: list[tuple[str, str]]) -> str:
    return build_tar(
        [(name, payload.encode("latin-1")) for name, payload in entries]
    ).decode("latin-1")
