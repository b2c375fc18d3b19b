"""7z archive extraction — hand-rolled header walk + stdlib LZMA codecs.

Tika parses .7z via commons-compress SevenZFile (the reference reaches it
through Tika, /root/reference/src/java-env.cpp:313-314). This module
implements the public 7z byte layout (7zFormat.txt in the 7-Zip source
distribution, and the commons-compress reimplementation of it):

  SignatureHeader: '7z\\xbc\\xaf\\x27\\x1c' + version(2) +
    StartHeaderCRC(4) + { NextHeaderOffset(8) NextHeaderSize(8)
    NextHeaderCRC(4) }
  NextHeader: property tree of (id, payload) blocks — kHeader holds
    MainStreamsInfo (PackInfo / UnpackInfo folders+coders /
    SubStreamsInfo) and FilesInfo (names, empty-stream bits);
    kEncodedHeader holds a StreamsInfo whose ONE folder decompresses to
    the real header (the path 7z CLI uses by default) — decoded
    recursively here.

Coders supported: Copy (00), LZMA2 (21) and classic LZMA1 (030101), both
via ``lzma.LZMADecompressor(format=FORMAT_RAW)`` with filter parameters
decoded from the coder property bytes (LZMA2: the dict-size code byte;
LZMA1: the 5-byte lc/lp/pb + dict-size block). Multi-coder folders and
bind pairs (BCJ chains, AES) raise — the honest unsupported seam. All
numbers use the 7z variable-length encoding (leading-bit mask byte).
CRCs (zlib.crc32) are verified wherever the archive carries them:
StartHeader, NextHeader, and per-substream digests.

The builder twin :func:`build_7z` writes solid single-folder archives
(Copy or LZMA2, optional EncodedHeader) the decoder and — by
construction from the same public spec — any 7z tool can read; tests
cross-validate BOTH directions against the system bsdtar (libarchive's
independent 7z reader, incl. its LZMA1 coder and the kEncodedHeader
layout) when available and pin hand-built spec vectors otherwise.
Malformed archives raise :class:`ExtractError`
-> ``parse_ok=false`` rows, never task failures.
"""

from __future__ import annotations

import lzma as _lzma
import struct
import zlib

from tika_wrap_spark.core.errors import MAX_INFLATED, ExtractError, inflate, over_budget

SEVENZ_MAGIC = b"7z\xbc\xaf\x27\x1c"

# property ids (7zFormat.txt)
_K_END = 0x00
_K_HEADER = 0x01
_K_MAIN_STREAMS = 0x04
_K_FILES_INFO = 0x05
_K_PACK_INFO = 0x06
_K_UNPACK_INFO = 0x07
_K_SUBSTREAMS = 0x08
_K_SIZE = 0x09
_K_CRC = 0x0A
_K_FOLDER = 0x0B
_K_UNPACK_SIZES = 0x0C
_K_NUM_UNPACK_STREAM = 0x0D
_K_EMPTY_STREAM = 0x0E
_K_EMPTY_FILE = 0x0F
_K_NAME = 0x11
_K_ENCODED_HEADER = 0x17

_COPY = b"\x00"
_LZMA2 = b"\x21"
_LZMA1 = b"\x03\x01\x01"

MAX_MEMBERS = 10_000


class _Reader:
    __slots__ = ("data", "i")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.i = 0

    def byte(self) -> int:
        if self.i >= len(self.data):
            raise ExtractError("7z: truncated header")
        b = self.data[self.i]
        self.i += 1
        return b

    def bytes(self, n: int) -> bytes:
        if self.i + n > len(self.data):
            raise ExtractError("7z: truncated header")
        out = self.data[self.i : self.i + n]
        self.i += n
        return out

    def number(self) -> int:
        """7z variable-length number: the first byte's leading 1-bits give
        the count of little-endian tail bytes; its remaining low bits are
        the value's high part."""
        first = self.byte()
        mask = 0x80
        value = 0
        for i in range(8):
            if not first & mask:
                value |= (first & (mask - 1)) << (8 * i)
                return value
            value |= self.byte() << (8 * i)
            mask >>= 1
        return value

    def bitfield(self, n: int) -> list[bool]:
        """n bits, MSB-first within each byte."""
        out: list[bool] = []
        b = 0
        mask = 0
        for _ in range(n):
            if not mask:
                b = self.byte()
                mask = 0x80
            out.append(bool(b & mask))
            mask >>= 1
        return out

    def bitfield_or_all(self, n: int) -> list[bool]:
        """AllAreDefined byte, then either all-True or an explicit field."""
        if self.byte():
            return [True] * n
        return self.bitfield(n)


def _decode_folder(
    coder_id: bytes, props: bytes, packed: bytes, out_size: int, used: int
) -> bytes:
    """One folder's output; ``used`` is what the archive's earlier folders
    took of the one decompression budget. A declared output past the budget
    is refused before anything is decoded."""
    if used + out_size > MAX_INFLATED:
        raise over_budget("7z")
    if coder_id == _COPY:
        if len(packed) < out_size:
            raise ExtractError("7z: copy stream shorter than declared")
        return packed[:out_size]
    if coder_id == _LZMA2:
        if len(props) != 1:
            raise ExtractError("7z: bad LZMA2 properties")
        code = props[0] & 0x3F
        if code > 40:
            raise ExtractError("7z: bad LZMA2 dict code %d" % code)
        dict_size = 0xFFFFFFFF if code == 40 else (2 | (code & 1)) << (code // 2 + 11)
        filters = [{"id": _lzma.FILTER_LZMA2, "dict_size": dict_size}]
    elif coder_id == _LZMA1:
        if len(props) != 5:
            raise ExtractError("7z: bad LZMA properties")
        d = props[0]
        if d >= 9 * 5 * 5:
            raise ExtractError("7z: bad LZMA lclppb byte")
        lc, rem = d % 9, d // 9
        lp, pb = rem % 5, rem // 5
        dict_size = struct.unpack("<I", props[1:5])[0]
        filters = [
            {
                "id": _lzma.FILTER_LZMA1,
                "dict_size": max(dict_size, 1 << 12),
                "lc": lc,
                "lp": lp,
                "pb": pb,
            }
        ]
    else:
        raise ExtractError("7z: unsupported coder %s" % coder_id.hex())
    dec = _lzma.LZMADecompressor(format=_lzma.FORMAT_RAW, filters=filters)
    out = inflate("7z", dec, packed, used, out_size)
    if len(out) < out_size:
        raise ExtractError(
            "7z: folder decoded %d bytes, declared %d" % (len(out), out_size)
        )
    return out[:out_size]  # a stream running past its declared size is cut there


def _parse_streams_info(r: _Reader):
    """StreamsInfo -> (pack_pos, pack_sizes, folders, substreams) where
    folders = [(coder_id, props, num_pack, unpack_size, crc|None)] and
    substreams = (counts per folder, sizes, crcs) or None."""
    pack_pos = 0
    pack_sizes: list[int] = []
    folders: list[tuple[bytes, bytes, int, int, int | None]] = []
    substreams = None
    while True:
        pid = r.number()
        if pid == _K_END:
            break
        if pid == _K_PACK_INFO:
            pack_pos = r.number()
            n_pack = r.number()
            if n_pack > MAX_MEMBERS:
                raise ExtractError("7z: %d pack streams exceeds cap" % n_pack)
            while True:
                sid = r.number()
                if sid == _K_END:
                    break
                if sid == _K_SIZE:
                    pack_sizes = [r.number() for _ in range(n_pack)]
                elif sid == _K_CRC:
                    defined = r.bitfield_or_all(n_pack)
                    for dfn in defined:
                        if dfn:
                            r.bytes(4)
                else:
                    raise ExtractError("7z: unknown PackInfo block %d" % sid)
        elif pid == _K_UNPACK_INFO:
            if r.number() != _K_FOLDER:
                raise ExtractError("7z: UnpackInfo missing kFolder")
            n_folders = r.number()
            if n_folders > MAX_MEMBERS:
                raise ExtractError("7z: %d folders exceeds cap" % n_folders)
            if r.byte():
                raise ExtractError("7z: external folder data not supported")
            raw_folders = []
            for _ in range(n_folders):
                n_coders = r.number()
                if n_coders != 1:
                    raise ExtractError(
                        "7z: multi-coder folders not supported (%d coders)" % n_coders
                    )
                flag = r.byte()
                id_size = flag & 0x0F
                coder_id = r.bytes(id_size)
                n_in = n_out = 1
                if flag & 0x10:
                    n_in = r.number()
                    n_out = r.number()
                props = b""
                if flag & 0x20:
                    props = r.bytes(r.number())
                if flag & 0x80:
                    raise ExtractError("7z: alternative coder methods not supported")
                if n_in != 1 or n_out != 1:
                    raise ExtractError("7z: bind pairs not supported")
                raw_folders.append((coder_id, props))
            if r.number() != _K_UNPACK_SIZES:
                raise ExtractError("7z: UnpackInfo missing kCodersUnpackSize")
            sizes = [r.number() for _ in raw_folders]
            crcs: list[int | None] = [None] * len(raw_folders)
            while True:
                uid = r.number()
                if uid == _K_END:
                    break
                if uid == _K_CRC:
                    defined = r.bitfield_or_all(len(raw_folders))
                    for i, dfn in enumerate(defined):
                        if dfn:
                            crcs[i] = struct.unpack("<I", r.bytes(4))[0]
                else:
                    raise ExtractError("7z: unknown UnpackInfo block %d" % uid)
            folders = [
                (cid, props, 1, sizes[i], crcs[i])
                for i, (cid, props) in enumerate(raw_folders)
            ]
        elif pid == _K_SUBSTREAMS:
            counts = [1] * len(folders)
            sizes: list[int] = []
            crcs: list[int | None] = []
            sid = r.number()
            if sid == _K_NUM_UNPACK_STREAM:
                counts = [r.number() for _ in folders]
                sid = r.number()
            if sid == _K_SIZE:
                # all but the last substream of each folder are explicit
                for fi, cnt in enumerate(counts):
                    total = 0
                    for _ in range(cnt - 1):
                        s = r.number()
                        sizes.append(s)
                        total += s
                    if cnt:
                        rem = folders[fi][3] - total
                        if rem < 0:
                            raise ExtractError("7z: substream sizes overrun folder")
                        sizes.append(rem)
                sid = r.number()
            else:
                for fi, cnt in enumerate(counts):
                    if cnt == 1:
                        sizes.append(folders[fi][3])
                    elif cnt:
                        raise ExtractError("7z: missing substream sizes")
            n_digests = sum(
                cnt for fi, cnt in enumerate(counts)
                if not (cnt == 1 and folders[fi][4] is not None)
            )
            if sid == _K_CRC:
                defined = r.bitfield_or_all(n_digests)
                pending = [
                    struct.unpack("<I", r.bytes(4))[0] if dfn else None
                    for dfn in defined
                ]
                it = iter(pending)
                for fi, cnt in enumerate(counts):
                    if cnt == 1 and folders[fi][4] is not None:
                        crcs.append(folders[fi][4])
                    else:
                        for _ in range(cnt):
                            crcs.append(next(it))
                sid = r.number()
            else:
                for fi, cnt in enumerate(counts):
                    crcs.extend(
                        [folders[fi][4]] * cnt if cnt == 1 else [None] * cnt
                    )
            if sid != _K_END:
                raise ExtractError("7z: unknown SubStreamsInfo block %d" % sid)
            substreams = (counts, sizes, crcs)
        else:
            raise ExtractError("7z: unknown StreamsInfo block %d" % pid)
    return pack_pos, pack_sizes, folders, substreams


def _decode_all_folders(
    data: bytes, base: int, pack_pos: int, pack_sizes: list[int], folders
) -> list[bytes]:
    out: list[bytes] = []
    off = base + pack_pos
    pi = 0
    used = 0
    for cid, props, n_pack, out_size, crc in folders:
        packed = b""
        for _ in range(n_pack):
            if pi >= len(pack_sizes):
                raise ExtractError("7z: folder consumes more pack streams than exist")
            size = pack_sizes[pi]
            if off + size > len(data):
                raise ExtractError("7z: pack stream overruns file")
            packed += data[off : off + size]
            off += size
            pi += 1
        blob = _decode_folder(cid, props, packed, out_size, used)
        used += len(blob)
        if crc is not None and zlib.crc32(blob) != crc:
            raise ExtractError("7z: folder CRC mismatch")
        out.append(blob)
    return out


def parse_7z(data: bytes) -> list[tuple[str, bytes]]:
    """[(name, payload)] for every regular file in the archive, in
    archive order. Directories and anti-files are skipped; empty files
    yield empty payloads."""
    if not data.startswith(SEVENZ_MAGIC):
        raise ExtractError("7z: bad magic")
    if len(data) < 32:
        raise ExtractError("7z: truncated signature header")
    start_crc = struct.unpack("<I", data[8:12])[0]
    if zlib.crc32(data[12:32]) != start_crc:
        raise ExtractError("7z: start header CRC mismatch")
    nh_off, nh_size, nh_crc = struct.unpack("<QQI", data[12:32])
    hdr_start = 32 + nh_off
    if nh_size == 0:
        return []
    if hdr_start + nh_size > len(data):
        raise ExtractError("7z: next header overruns file")
    header = data[hdr_start : hdr_start + nh_size]
    if zlib.crc32(header) != nh_crc:
        raise ExtractError("7z: next header CRC mismatch")
    r = _Reader(header)
    pid = r.number()
    if pid == _K_ENCODED_HEADER:
        pack_pos, pack_sizes, folders, _sub = _parse_streams_info(r)
        blobs = _decode_all_folders(data, 32, pack_pos, pack_sizes, folders)
        if len(blobs) != 1:
            raise ExtractError("7z: encoded header must be one folder")
        r = _Reader(blobs[0])
        pid = r.number()
    if pid != _K_HEADER:
        raise ExtractError("7z: expected kHeader, got %d" % pid)

    pack = (0, [], [], None)
    names: list[str] = []
    empty_stream: list[bool] = []
    empty_file: list[bool] = []
    n_files = 0
    while True:
        pid = r.number()
        if pid == _K_END:
            break
        if pid == _K_MAIN_STREAMS:
            pack = _parse_streams_info(r)
        elif pid == _K_FILES_INFO:
            n_files = r.number()
            if n_files > MAX_MEMBERS:
                raise ExtractError("7z: %d files exceeds cap" % n_files)
            empty_stream = [False] * n_files
            empty_file = [False] * n_files
            while True:
                fid = r.number()
                if fid == _K_END:
                    break
                size = r.number()
                end = r.i + size
                if fid == _K_EMPTY_STREAM:
                    empty_stream = r.bitfield(n_files)
                elif fid == _K_EMPTY_FILE:
                    empty_file = r.bitfield(sum(empty_stream))
                elif fid == _K_NAME:
                    if r.byte():
                        raise ExtractError("7z: external names not supported")
                    raw = r.bytes(end - r.i)
                    parts = raw.decode("utf-16-le", errors="replace").split("\x00")
                    if parts and parts[-1] == "":
                        parts.pop()
                    names = parts
                if r.i > end:
                    raise ExtractError("7z: FilesInfo block overruns")
                r.i = end
        else:
            raise ExtractError("7z: unknown header block %d" % pid)
    pack_pos, pack_sizes, folders, substreams = pack
    blobs = _decode_all_folders(data, 32, pack_pos, pack_sizes, folders)
    # flatten folder outputs into substream payloads
    payloads: list[bytes] = []
    if substreams is None:
        payloads = list(blobs)
    else:
        counts, sizes, crcs = substreams
        si = 0
        for fi, cnt in enumerate(counts):
            off = 0
            for _ in range(cnt):
                s = sizes[si]
                chunk = blobs[fi][off : off + s]
                if len(chunk) != s:
                    raise ExtractError("7z: substream overruns folder output")
                if crcs[si] is not None and zlib.crc32(chunk) != crcs[si]:
                    raise ExtractError("7z: substream CRC mismatch")
                payloads.append(chunk)
                off += s
                si += 1
    if names and len(names) != max(n_files, len(names)):
        raise ExtractError("7z: name count mismatch")
    out: list[tuple[str, bytes]] = []
    pi = 0
    efi = 0
    for i in range(n_files or len(payloads)):
        name = names[i] if i < len(names) else "member_%d" % i
        if empty_stream and i < len(empty_stream) and empty_stream[i]:
            is_file = empty_file[efi] if efi < len(empty_file) else False
            efi += 1
            if is_file:
                out.append((name, b""))
            continue  # directory (or anti) — skipped
        if pi >= len(payloads):
            raise ExtractError("7z: more files than substreams")
        out.append((name, payloads[pi]))
        pi += 1
    return out


# ---------------------------------------------------------------------------
# builder twin

_LZMA2_DICT = 1 << 20
_LZMA2_DICT_CODE = 16  # (2|0) << (16//2 + 11) == 1 MiB


def _num(v: int) -> bytes:
    """7z variable-length number encoding (shortest form): k leading
    1-bits announce k little-endian tail bytes; the first byte's
    remaining low bits carry the value's high part."""
    for k in range(8):
        hi_bits = 7 - k
        if v < 1 << (8 * k + hi_bits):
            first = ((0xFF << (8 - k)) & 0xFF) | (v >> (8 * k))
            return bytes([first]) + (v & ((1 << (8 * k)) - 1)).to_bytes(k, "little")
    return b"\xff" + v.to_bytes(8, "little")


def _bits(flags: list[bool]) -> bytes:
    out = bytearray()
    cur = 0
    n = 0
    for f in flags:
        cur = (cur << 1) | int(f)
        n += 1
        if n == 8:
            out.append(cur)
            cur = n = 0
    if n:
        out.append(cur << (8 - n))
    return bytes(out)


def build_7z(
    files: list[tuple[str, bytes]],
    codec: str = "lzma2",
    encoded_header: bool = False,
) -> bytes:
    """Solid single-folder 7z archive: all payloads concatenate into one
    folder stream (Copy or raw LZMA2), per-substream CRCs recorded, names
    utf-16le. ``encoded_header=True`` wraps the header in a Copy-coded
    kEncodedHeader (exercising the decoder's recursion) — real 7z tools
    read both layouts."""
    if codec not in ("copy", "lzma2"):
        raise ValueError("codec must be 'copy' or 'lzma2'")
    body = b"".join(p for _n, p in files)
    if codec == "lzma2" and body:
        packed = _lzma.compress(
            body,
            format=_lzma.FORMAT_RAW,
            filters=[{"id": _lzma.FILTER_LZMA2, "dict_size": _LZMA2_DICT}],
        )
        # flag byte: id size 1 | has-attributes; then id, prop size, prop
        coder = bytes([0x01 | 0x20]) + _LZMA2 + _num(1) + bytes([_LZMA2_DICT_CODE])
    else:
        packed = body
        coder = bytes([0x01]) + _COPY

    header = bytearray()
    header += _num(_K_HEADER)
    if body:
        header += _num(_K_MAIN_STREAMS)
        header += _num(_K_PACK_INFO) + _num(0) + _num(1)
        header += _num(_K_SIZE) + _num(len(packed)) + _num(_K_END)
        header += _num(_K_UNPACK_INFO)
        header += _num(_K_FOLDER) + _num(1) + b"\x00" + _num(1) + coder
        header += _num(_K_UNPACK_SIZES) + _num(len(body))
        header += _num(_K_END)
        header += _num(_K_SUBSTREAMS)
        nonempty = [(n, p) for n, p in files if p]
        header += _num(_K_NUM_UNPACK_STREAM) + _num(len(nonempty))
        header += _num(_K_SIZE)
        for _n, p in nonempty[:-1]:
            header += _num(len(p))
        header += _num(_K_CRC) + b"\x01"  # all defined
        for _n, p in nonempty:
            header += struct.pack("<I", zlib.crc32(p))
        header += _num(_K_END)
        header += _num(_K_END)
    header += _num(_K_FILES_INFO) + _num(len(files))
    has_empty = any(not p for _n, p in files)
    if has_empty:
        flags = [not p for _n, p in files]
        field = _bits(flags)
        header += _num(_K_EMPTY_STREAM) + _num(len(field)) + field
        # every empty-stream entry here is an empty FILE, not a directory
        efield = _bits([True] * sum(flags))
        header += _num(_K_EMPTY_FILE) + _num(len(efield)) + efield
    names_blob = b"\x00" + b"".join(
        n.encode("utf-16-le") + b"\x00\x00" for n, _p in files
    )
    header += _num(_K_NAME) + _num(len(names_blob)) + names_blob
    header += _num(_K_END)
    header += _num(_K_END)
    header = bytes(header)

    if encoded_header:
        # wrap: stream area = packed + header-as-copy-folder
        hdr_stream = header
        enc = bytearray()
        enc += _num(_K_ENCODED_HEADER)
        enc += _num(_K_PACK_INFO) + _num(len(packed)) + _num(1)
        enc += _num(_K_SIZE) + _num(len(hdr_stream)) + _num(_K_END)
        enc += _num(_K_UNPACK_INFO)
        enc += _num(_K_FOLDER) + _num(1) + b"\x00" + _num(1) + bytes([0x01]) + _COPY
        enc += _num(_K_UNPACK_SIZES) + _num(len(hdr_stream))
        enc += _num(_K_CRC) + b"\x01" + struct.pack("<I", zlib.crc32(hdr_stream))
        enc += _num(_K_END)
        enc += _num(_K_END)
        stream_area = packed + hdr_stream
        next_header = bytes(enc)
    else:
        stream_area = packed
        next_header = header

    nh_off = len(stream_area)
    start = struct.pack("<QQI", nh_off, len(next_header), zlib.crc32(next_header))
    out = SEVENZ_MAGIC + b"\x00\x04" + struct.pack("<I", zlib.crc32(start)) + start
    return out + stream_area + next_header


def build_7z_text(files: list[tuple[str, str]], **kw) -> str:
    return build_7z(
        [(n, p.encode("latin-1")) for n, p in files], **kw
    ).decode("latin-1")
