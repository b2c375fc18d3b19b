"""Microsoft Cabinet (.cab) archive parsing — pure stdlib byte-layout
walk with MSZIP (deflate) folder decompression, and a deterministic
builder twin.

The reference reads cabinets through Tika (CabParser via commons-compress
— AutoParser endpoint, /root/reference/src/java-env.cpp:313-314). The
rebuild parses the [MS-CAB] layout natively, the same discipline as
:mod:`core.zipbin`:

* CFHEADER: ``MSCF`` signature, cabinet/file offsets, folder/file counts,
  flags (reserve areas honored, multi-cabinet sets rejected as an honest
  seam);
* CFFOLDER: first CFDATA offset, block count, compression type —
  tcompTYPE_NONE (0) and tcompTYPE_MSZIP (1) supported, LZX/Quantum
  raise;
* CFFILE: uncompressed size, folder-stream offset, folder index,
  NUL-terminated name (UTF-8 when attribs bit 0x80, else latin-1);
* CFDATA: the [MS-CAB] §2.9 checksum (32-bit LE word XOR fold, tail
  bytes big-end-first, seeded with the cbData/cbUncomp field checksum) is
  VERIFIED when present; MSZIP blocks carry a ``CK`` signature and a raw
  deflate stream whose 32 KiB history persists ACROSS blocks within one
  folder (zlib ``zdict`` on a fresh raw inflater per block).

Files are byte ranges of their folder's concatenated uncompressed
stream. The builder is pinned against the system bsdtar (libarchive's
independent cab reader) in tests/test_cabbin.py — Copy and MSZIP folders
both list and byte-extract.

Malformed cabinets (bad signature/counts, block/stream overruns, bad CK
signature, checksum mismatch, over-budget inflation) raise
:class:`ExtractError` ("cab:" prefix) -> ``parse_ok=false`` rows, never
task failures. The extraction core hands it bytes (:func:`core.errors.payload_bytes`).
"""

from __future__ import annotations

import struct
import zlib

from tika_wrap_spark.core.errors import MAX_INFLATED, ExtractError, inflate

CAB_MAGIC = b"MSCF\x00\x00\x00\x00"  # signature + reserved1 (always 0)
MAX_FILES = 4096
_MSZIP_BLOCK = 32768

_COMP_NONE = 0
_COMP_MSZIP = 1


def _csum(data: bytes, seed: int) -> int:
    """[MS-CAB] §2.9 CSUMCompute: XOR-fold little-endian 32-bit words;
    the 1-3 tail bytes accumulate high-to-low."""
    csum = seed
    n4 = len(data) // 4 * 4
    for (word,) in struct.iter_unpack("<I", data[:n4]):
        csum ^= word
    ul = 0
    for b in data[n4:]:  # remaining bytes, first byte lands lowest
        ul = (ul << 8) | b
    return (csum ^ ul) & 0xFFFFFFFF


def parse_cab(data: bytes) -> list[tuple[str, bytes]]:
    """Parse one cabinet into ``[(name, payload_bytes), ...]`` in CFFILE
    order. Raises ExtractError on any malformation."""
    n = len(data)
    if not data.startswith(CAB_MAGIC):
        raise ExtractError("cab: bad signature")
    if n < 36:
        raise ExtractError("cab: truncated header")
    cb_cabinet = struct.unpack_from("<I", data, 8)[0]
    coff_files = struct.unpack_from("<I", data, 16)[0]
    ver_minor, ver_major = data[24], data[25]
    c_folders, c_files, flags = struct.unpack_from("<HHH", data, 26)
    if (ver_major, ver_minor) != (1, 3):
        raise ExtractError("cab: unsupported version %d.%d" % (ver_major, ver_minor))
    if flags & 0x0003:
        raise ExtractError("cab: multi-cabinet sets are not supported")
    if cb_cabinet > n:
        raise ExtractError("cab: declared size %d overruns payload" % cb_cabinet)
    if c_files > MAX_FILES:
        raise ExtractError("cab: more than %d files" % MAX_FILES)
    pos = 36
    cb_cfdata_reserve = 0
    if flags & 0x0004:  # cfhdrRESERVE_PRESENT
        if pos + 4 > n:
            raise ExtractError("cab: truncated reserve header")
        cb_header_res, cb_folder_res, cb_data_res = struct.unpack_from(
            "<HBB", data, pos
        )
        pos += 4 + cb_header_res
        cb_cfdata_reserve = cb_data_res
        folder_reserve = cb_folder_res
    else:
        folder_reserve = 0

    folders: list[tuple[int, int, int]] = []  # (coffCabStart, cCFData, type)
    for _f in range(c_folders):
        if pos + 8 > n:
            raise ExtractError("cab: truncated folder entry")
        coff, c_data, tcomp = struct.unpack_from("<IHH", data, pos)
        folders.append((coff, c_data, tcomp & 0x000F))
        pos += 8 + folder_reserve

    files: list[tuple[str, int, int, int]] = []  # (name, size, off, ifolder)
    pos = coff_files
    for _i in range(c_files):
        if pos + 16 > n:
            raise ExtractError("cab: truncated file entry")
        cb_file, uoff, ifolder, _date, _time, attribs = struct.unpack_from(
            "<IIHHHH", data, pos
        )
        pos += 16
        end = data.find(b"\x00", pos)
        if end == -1:
            raise ExtractError("cab: unterminated file name")
        raw = data[pos:end]
        pos = end + 1
        name = raw.decode("utf-8" if attribs & 0x80 else "latin-1", "replace")
        if ifolder >= 0xFFFD:
            raise ExtractError("cab: continued-cabinet file %r" % name)
        if ifolder >= c_folders:
            raise ExtractError("cab: file %r references folder %d" % (name, ifolder))
        files.append((name, cb_file, uoff, ifolder))

    # decompress each referenced folder once
    needed = {f[3] for f in files}
    streams: dict[int, bytes] = {}
    inflated = 0  # the MSZIP blocks' share of the one decompression budget
    for fi in sorted(needed):
        coff, c_data, comp = folders[fi]
        if comp not in (_COMP_NONE, _COMP_MSZIP):
            raise ExtractError("cab: unsupported compression type %d" % comp)
        out = bytearray()
        pos = coff
        history = b""
        for _b in range(c_data):
            if pos + 8 > n:
                raise ExtractError("cab: CFDATA header overruns cabinet")
            csum, cb_data, cb_uncomp = struct.unpack_from("<IHH", data, pos)
            block_hdr = data[pos + 4 : pos + 8]
            pos += 8 + cb_cfdata_reserve
            if pos + cb_data > n:
                raise ExtractError("cab: CFDATA block overruns cabinet")
            ab = data[pos : pos + cb_data]
            pos += cb_data
            if csum:
                want = _csum(ab, _csum(block_hdr, 0))
                if want != csum:
                    raise ExtractError(
                        "cab: CFDATA checksum mismatch (%08x != %08x)"
                        % (want, csum)
                    )
            if comp == _COMP_NONE:
                block = ab
            else:
                if ab[:2] != b"CK":
                    raise ExtractError("cab: bad MSZIP block signature")
                d = zlib.decompressobj(-15, zdict=history) if history else (
                    zlib.decompressobj(-15)
                )
                block = inflate("cab", d, ab[2:], inflated, _MSZIP_BLOCK)
                inflated += len(block)
                history = block[-32768:]
            if len(block) != cb_uncomp:
                raise ExtractError(
                    "cab: block inflated to %d, declared %d"
                    % (len(block), cb_uncomp)
                )
            out.extend(block)
        streams[fi] = bytes(out)

    entries: list[tuple[str, bytes]] = []
    total = 0
    for name, cb_file, uoff, ifolder in files:
        stream = streams[ifolder]
        if uoff + cb_file > len(stream):
            raise ExtractError("cab: file %r overruns its folder stream" % name)
        total += cb_file
        if total > MAX_INFLATED:
            raise ExtractError("cab: member bytes exceed %d" % MAX_INFLATED)
        entries.append((name, stream[uoff : uoff + cb_file]))
    return entries


# ---------------------------------------------------------------- builder


def build_cab(entries: list[tuple[str, bytes]], mszip: bool = True) -> bytes:
    """Serialize ``[(name, payload_bytes), ...]`` as a single-folder
    cabinet — tcompTYPE_MSZIP (default) or tcompTYPE_NONE — with valid
    CFDATA checksums. Deterministic for fixed input."""
    stream = b"".join(payload for _n, payload in entries)

    blocks: list[tuple[bytes, int]] = []  # (ab, cb_uncomp)
    history = b""
    for off in range(0, max(len(stream), 1), _MSZIP_BLOCK):
        chunk = stream[off : off + _MSZIP_BLOCK]
        if mszip:
            c = (
                zlib.compressobj(9, zlib.DEFLATED, -15, zdict=history)
                if history
                else zlib.compressobj(9, zlib.DEFLATED, -15)
            )
            ab = b"CK" + c.compress(chunk) + c.flush()
            history = chunk[-32768:]
        else:
            ab = chunk
        blocks.append((ab, len(chunk)))

    # offsets: CFHEADER(36) + CFFOLDER(8) + CFFILEs + CFDATAs
    cffiles = bytearray()
    uoff = 0
    for name, payload in entries:
        try:
            raw, attribs = name.encode("ascii"), 0x20
        except UnicodeEncodeError:
            raw, attribs = name.encode("utf-8"), 0x20 | 0x80
        cffiles += struct.pack(
            "<IIHHHH", len(payload), uoff, 0, 0x2921, 0x0000, attribs
        )
        cffiles += raw + b"\x00"
        uoff += len(payload)
    coff_files = 36 + 8
    coff_data = coff_files + len(cffiles)

    cfdata = bytearray()
    for ab, cb_uncomp in blocks:
        hdr = struct.pack("<HH", len(ab), cb_uncomp)
        csum = _csum(ab, _csum(hdr, 0))
        cfdata += struct.pack("<I", csum) + hdr + ab

    cb_cabinet = coff_data + len(cfdata)
    header = struct.pack(
        "<4sIIIIIBBHHHHH",
        b"MSCF",
        0,
        cb_cabinet,
        0,
        coff_files,
        0,
        3,  # versionMinor
        1,  # versionMajor
        1,  # cFolders
        len(entries),
        0,  # flags
        0x1234,  # setID
        0,  # iCabinet
    )
    folder = struct.pack(
        "<IHH", coff_data, len(blocks), _COMP_MSZIP if mszip else _COMP_NONE
    )
    return header + folder + bytes(cffiles) + bytes(cfdata)


def build_cab_text(entries: list[tuple[str, str]], mszip: bool = True) -> str:
    return build_cab(
        [(name, payload.encode("latin-1")) for name, payload in entries], mszip
    ).decode("latin-1")
