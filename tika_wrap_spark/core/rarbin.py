"""RAR5 archive extraction — header walk + stored-member payloads.

Tika parses .rar via junrar (the reference reaches it through Tika,
/root/reference/src/java-env.cpp:313-314). This module implements the
public RAR 5.0 archive layout (rarlab.com/technote.htm — the official
format specification):

  signature 'Rar!\\x1a\\x07\\x01\\x00' | headers...
  header = CRC32(4, over the header data) + HeaderSize(vint) + data:
    Type(vint) Flags(vint) [ExtraSize] [DataSize] type fields
  types: 1 main, 2 file, 3 service, 4 encryption, 5 end-of-archive
  vint  = little-endian base-128, high bit continues

File headers carry FileFlags / UnpackedSize / Attributes / [mtime]
[DataCRC32] / CompressionInfo / HostOS / NameLength / Name(utf-8), then
DataSize bytes of payload. STORED members (compression method 0) extract
with CRC32 verification; the proprietary RAR compression methods 1-5
raise the declared unsupported seam (commons-compress takes the same
position — RAR's codec is not publicly specified), as do encrypted
headers/members and the RAR4 signature. Directories are skipped.

The builder twin :func:`build_rar` writes stored-only RAR5 archives;
tests cross-validate them against the system bsdtar (libarchive's
independent RAR5 reader). Malformed archives raise
:class:`ExtractError` -> ``parse_ok=false`` rows, never task failures.
"""

from __future__ import annotations

import struct
import zlib

from tika_wrap_spark.core.errors import ExtractError

RAR5_MAGIC = b"Rar!\x1a\x07\x01\x00"
RAR4_MAGIC = b"Rar!\x1a\x07\x00"

_T_MAIN = 1
_T_FILE = 2
_T_SERVICE = 3
_T_CRYPT = 4
_T_END = 5

# header flags
_HF_EXTRA = 0x01
_HF_DATA = 0x02

# file flags
_FF_DIRECTORY = 0x01
_FF_MTIME = 0x02
_FF_CRC32 = 0x04
_FF_UNKNOWN_SIZE = 0x08

MAX_MEMBERS = 10_000


def _vint(data: bytes, i: int) -> tuple[int, int]:
    v = 0
    shift = 0
    for _ in range(10):
        if i >= len(data):
            raise ExtractError("rar: truncated vint")
        b = data[i]
        i += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, i
        shift += 7
    raise ExtractError("rar: vint longer than 10 bytes")


def _vint_enc(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def parse_rar(data: bytes) -> list[tuple[str, bytes]]:
    """[(name, payload)] for every stored regular file, archive order.
    Compressed/encrypted members and RAR4 archives raise."""
    if data.startswith(RAR4_MAGIC):
        raise ExtractError("rar: RAR4 archives not supported")
    if not data.startswith(RAR5_MAGIC):
        raise ExtractError("rar: bad magic")
    i = len(RAR5_MAGIC)
    out: list[tuple[str, bytes]] = []
    saw_end = False
    for _ in range(MAX_MEMBERS + 3):
        if i >= len(data):
            break
        if i + 4 > len(data):
            raise ExtractError("rar: truncated header CRC")
        want_crc = struct.unpack("<I", data[i : i + 4])[0]
        hsize, j = _vint(data, i + 4)
        hstart = j
        hend = hstart + hsize
        if hend > len(data):
            raise ExtractError("rar: header size overruns file")
        # the CRC covers the HeaderSize vint AND the header data (technote:
        # "starting from Header size field")
        if zlib.crc32(data[i + 4 : hend]) != want_crc:
            raise ExtractError("rar: header CRC mismatch")
        h = data[hstart:hend]
        k = 0
        htype, k = _vint(h, k)
        hflags, k = _vint(h, k)
        extra_size = 0
        data_size = 0
        if hflags & _HF_EXTRA:
            extra_size, k = _vint(h, k)
        if hflags & _HF_DATA:
            data_size, k = _vint(h, k)
        if htype == _T_CRYPT:
            raise ExtractError("rar: encrypted archive not supported")
        if htype in (_T_FILE, _T_SERVICE):
            fflags, k = _vint(h, k)
            unp_size, k = _vint(h, k)
            _attrs, k = _vint(h, k)
            if fflags & _FF_MTIME:
                if k + 4 > len(h):
                    raise ExtractError("rar: truncated mtime")
                k += 4
            data_crc = None
            if fflags & _FF_CRC32:
                if k + 4 > len(h):
                    raise ExtractError("rar: truncated data CRC")
                data_crc = struct.unpack("<I", h[k : k + 4])[0]
                k += 4
            comp_info, k = _vint(h, k)
            _host_os, k = _vint(h, k)
            nlen, k = _vint(h, k)
            if k + nlen > len(h):
                raise ExtractError("rar: name overruns header")
            name = h[k : k + nlen].decode("utf-8", errors="replace")
            payload_start = hend
            payload_end = payload_start + data_size
            if payload_end > len(data):
                raise ExtractError("rar: member data overruns file")
            if htype == _T_FILE and not fflags & _FF_DIRECTORY:
                method = (comp_info >> 7) & 0x07
                if method != 0:
                    raise ExtractError(
                        "rar: compression method %d not supported "
                        "(proprietary codec; stored members only)" % method
                    )
                if fflags & _FF_UNKNOWN_SIZE:
                    unp_size = data_size
                payload = data[payload_start:payload_end]
                if len(payload) != unp_size:
                    raise ExtractError(
                        "rar: stored member size %d != unpacked size %d"
                        % (len(payload), unp_size)
                    )
                if data_crc is not None and zlib.crc32(payload) != data_crc:
                    raise ExtractError("rar: member CRC mismatch")
                out.append((name, payload))
                if len(out) > MAX_MEMBERS:
                    raise ExtractError("rar: member count exceeds cap")
            i = payload_end
        elif htype == _T_MAIN:
            aflags, k = _vint(h, k)
            if aflags & 0x04:
                raise ExtractError("rar: solid archives not supported")
            i = hend + data_size
        elif htype == _T_END:
            saw_end = True
            i = hend
            break
        else:
            i = hend + data_size  # skip unknown header types by size
    if not saw_end:
        raise ExtractError("rar: missing end-of-archive header")
    if data[i:].strip(b"\x00"):
        raise ExtractError("rar: trailing garbage after end header")
    return out


# ---------------------------------------------------------------------------
# builder twin


def _header(htype: int, fields: bytes, data_size: int | None = None) -> bytes:
    flags = _HF_DATA if data_size is not None else 0
    body = _vint_enc(htype) + _vint_enc(flags)
    if data_size is not None:
        body += _vint_enc(data_size)
    body += fields
    sized = _vint_enc(len(body)) + body  # CRC spans the size field too
    return struct.pack("<I", zlib.crc32(sized)) + sized


def build_rar(files: list[tuple[str, bytes]]) -> bytes:
    """Stored-only RAR5 archive (main header, one CRC32-carrying file
    header per member, end header) — readable by any RAR5 tool; pinned
    against the system bsdtar in tests. Empty members are refused:
    libarchive's rar5 reader spins on a present-but-zero-size data area
    and rejects file blocks without one, so there is no portable empty
    encoding to emit (the READER still accepts both layouts)."""
    if any(not p for _n, p in files):
        raise ValueError("rar builder: empty members unsupported")
    out = bytearray(RAR5_MAGIC)
    out += _header(_T_MAIN, _vint_enc(0))  # archive flags 0
    for name, payload in files:
        nb = name.encode("utf-8")
        fields = (
            _vint_enc(_FF_CRC32)  # file flags: data CRC present
            + _vint_enc(len(payload))  # unpacked size
            + _vint_enc(0)  # attributes
            + struct.pack("<I", zlib.crc32(payload))
            + _vint_enc(0)  # compression info: method 0, version 0
            + _vint_enc(0)  # host os
            + _vint_enc(len(nb))
            + nb
        )
        out += _header(_T_FILE, fields, data_size=len(payload))
        out += payload
    out += _header(_T_END, _vint_enc(0))  # end-of-archive flags 0
    return bytes(out)


def build_rar_text(files: list[tuple[str, str]]) -> str:
    return build_rar([(n, p.encode("latin-1")) for n, p in files]).decode("latin-1")
