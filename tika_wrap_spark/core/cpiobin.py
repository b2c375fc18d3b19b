"""cpio archive parsing (SVR4 "newc"/"crc" portable format) — pure stdlib
byte-layout walk.

The reference delegates archive parsing to Tika, whose commons-compress
container family covers cpio alongside zip/tar/ar (observable surface: the
AutoParser endpoint, /root/reference/src/java-env.cpp:313-314). The rebuild
parses the POSIX.1 pax-interchange cpio layout natively, the same
discipline as :mod:`core.tarbin` / :mod:`core.arbin`:

    per entry, a 110-byte ASCII header of 8-digit HEX fields:
      magic[6] = "070701" (newc) or "070702" (crc)
      ino mode uid gid nlink mtime filesize devmajor devminor
      rdevmajor rdevminor namesize check            (13 x 8 hex chars)
    ... name (namesize bytes incl. trailing NUL), padded so the DATA
        starts on a 4-byte boundary from the archive start ...
    ... file data, padded to a 4-byte boundary ...
    the trailer is an entry named "TRAILER!!!"

Regular-file entries (S_IFREG in mode) surface as (name, payload);
directories/links/devices are skipped. Malformed archives (bad magic,
non-hex field, truncated name/data, missing trailer) raise
:class:`ExtractError` ("cpio:" prefix) -> ``parse_ok=false`` rows, never
task failures. The extraction core hands it bytes (:func:`core.errors.payload_bytes`).
"""

from __future__ import annotations

from tika_wrap_spark.core.errors import ExtractError

CPIO_MAGICS = (b"070701", b"070702")
_HDR = 110
_TRAILER = "TRAILER!!!"
_S_IFMT = 0o170000
_S_IFREG = 0o100000


def _hex(field: bytes, what: str) -> int:
    try:
        return int(field, 16)
    except ValueError:
        raise ExtractError("cpio: bad hex %s field %r" % (what, field[:8]))


def _pad4(n: int) -> int:
    return (4 - n % 4) % 4


def parse_cpio(data: bytes) -> list[tuple[str, bytes]]:
    """Parse one newc/crc cpio archive into ``[(name, payload_bytes), ...]``
    in archive order. Raises ExtractError on any malformation."""
    n = len(data)
    pos = 0
    entries: list[tuple[str, bytes]] = []
    saw_trailer = False
    while pos < n:
        if pos + _HDR > n:
            raise ExtractError("cpio: truncated entry header at offset %d" % pos)
        header = data[pos : pos + _HDR]
        if header[0:6] not in CPIO_MAGICS:
            raise ExtractError(
                "cpio: bad entry magic %r at offset %d" % (header[0:6], pos)
            )
        mode = _hex(header[14:22], "mode")
        filesize = _hex(header[54:62], "filesize")
        namesize = _hex(header[94:102], "namesize")
        name_start = pos + _HDR
        name_end = name_start + namesize
        if name_end > n:
            raise ExtractError("cpio: truncated entry name at offset %d" % pos)
        name = data[name_start : name_end - 1].decode("utf-8", "replace")
        if namesize == 0 or data[name_end - 1 : name_end] != b"\x00":
            raise ExtractError("cpio: entry name missing NUL terminator")
        data_start = name_end + _pad4(_HDR + namesize)
        data_end = data_start + filesize
        if data_end > n:
            raise ExtractError("cpio: truncated entry data for %r" % name[:60])
        if name == _TRAILER:
            saw_trailer = True
            break
        if (mode & _S_IFMT) == _S_IFREG:
            entries.append((name, data[data_start:data_end]))
        pos = data_end + _pad4(filesize)
    if not saw_trailer:
        raise ExtractError("cpio: missing TRAILER!!! terminator entry")
    return entries


def build_cpio(entries: list[tuple[str, bytes]]) -> bytes:
    """Serialize ``(name, payload_bytes)`` members into a deterministic newc
    cpio archive (epoch mtime, uid/gid 0, mode 100644, sequential inodes) —
    the test/corpus builder."""
    out = bytearray()

    def emit(name: str, payload: bytes, mode: int, ino: int) -> None:
        name_b = name.encode("utf-8") + b"\x00"
        out.extend(
            b"070701"
            + b"%08x" % ino
            + b"%08x" % mode
            + b"%08x" % 0  # uid
            + b"%08x" % 0  # gid
            + b"%08x" % 1  # nlink
            + b"%08x" % 0  # mtime: epoch
            + b"%08x" % len(payload)
            + b"%08x" % 0  # devmajor
            + b"%08x" % 0  # devminor
            + b"%08x" % 0  # rdevmajor
            + b"%08x" % 0  # rdevminor
            + b"%08x" % len(name_b)
            + b"%08x" % 0  # check (0 for newc)
        )
        out.extend(name_b)
        out.extend(b"\x00" * _pad4(_HDR + len(name_b)))
        out.extend(payload)
        out.extend(b"\x00" * _pad4(len(payload)))

    for i, (name, payload) in enumerate(entries):
        emit(name, payload, _S_IFREG | 0o644, i + 1)
    emit(_TRAILER, b"", 0, 0)
    return bytes(out)


def build_cpio_text(entries: list[tuple[str, str]]) -> str:
    return build_cpio(
        [(name, payload.encode("latin-1")) for name, payload in entries]
    ).decode("latin-1")
