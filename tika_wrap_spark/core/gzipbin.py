"""Real compressed-stream wrapper decode: gzip (RFC 1952), xz, bz2 —
pure stdlib (zlib / lzma / bz2) — and UNIX compress ``.Z`` (LZW), a
hand-rolled variable-width decoder/encoder pair — and the legacy LZMA
alone format (``.lzma``, stdlib liblzma FORMAT_ALONE behind strict header
validation).

The ``.Z`` decoder keeps the reference unlzw's 8-code group alignment,
relative to the last width change/CLEAR; both directions are
cross-validated against the system ``gzip -dc`` (tests/test_zcompress.py),
and ``.lzma`` both directions against ``xz --format=lzma``
(tests/test_lzma_alone.py).

These are the wrapper shapes a real corpus carries around tar streams and
single documents (.tar.gz / .tar.xz / .log.bz2 ...). gzip uses ``zlib``
with ``wbits=31`` (full framing incl. the CRC32 + ISIZE trailer check);
xz/bz2 use their stdlib incremental decompressors, all three through one
member loop over :func:`core.errors.inflate`. Any framing/CRC error
raises :class:`ExtractError` -> ``parse_ok=false`` rows, never task
failures.

The extraction core hands it bytes (:func:`core.errors.payload_bytes`).
"""

from __future__ import annotations

import bz2 as _bz2
import lzma as _lzma
import zlib

from tika_wrap_spark.core.errors import MAX_INFLATED, ExtractError, inflate, over_budget

MAGIC = b"\x1f\x8b"
XZ_MAGIC = b"\xfd7zXZ\x00"
BZ2_MAGIC = b"BZh"
Z_MAGIC = b"\x1f\x9d"

# .Z LZW parameters (ncompress): initial code width, CLEAR code, first
# free code in block mode
_Z_INIT_BITS = 9
_Z_CLEAR = 256
_Z_FIRST = 257


def _members(kind: str, data: bytes, decoder, is_member, next_member) -> bytes:
    """Decode one or more CONCATENATED members, each with a fresh
    ``decoder()``, under one budget shared by all of them.
    ``is_member(b)`` is the magic test; ``next_member(unused_data)`` strips
    the padding after a member and returns the next one, or b"" at the end."""
    if not is_member(data):
        raise ExtractError("%s: bad magic" % kind)
    out = bytearray()
    while True:
        d = decoder()
        out += inflate(kind, d, data, len(out))
        if not d.eof:
            raise ExtractError("%s: truncated stream" % kind)
        data = next_member(d.unused_data)
        if not data:
            return bytes(out)
        if not is_member(data):
            raise ExtractError("%s: trailing garbage after stream" % kind)


def _nul_tail(rest: bytes) -> bytes:
    """gzip/bzip2: trailing NUL padding ends the stream."""
    return rest if rest.strip(b"\x00") else b""


def gunzip(data: bytes) -> bytes:
    """Decode one or more CONCATENATED gzip members (RFC 1952 §2.2: "a
    gzip file consists of a series of members" — pigz, rotated logs and
    `cat a.gz b.gz` all produce these; the gzip CLI and commons-compress'
    decompressConcatenated both decode the concatenation)."""
    return _members(
        "gzip", data, lambda: zlib.decompressobj(wbits=31),
        lambda b: b.startswith(MAGIC), _nul_tail,
    )


def gzip_bytes(data: bytes) -> bytes:
    """Deterministic gzip framing (no mtime/name, fixed flags) — the
    test/corpus builder."""
    c = zlib.compressobj(9, zlib.DEFLATED, 31)
    body = c.compress(data) + c.flush()
    # zero the MTIME field (bytes 4-8) for byte-identical builds
    return body[:4] + b"\x00\x00\x00\x00" + body[8:]


def unxz(data: bytes) -> bytes:
    """Decode one or more CONCATENATED xz streams (xz(1): "it is possible
    to concatenate .xz files as is"). NUL stream padding after a stream is
    stripped when its length is a multiple of 4 and rejected otherwise,
    as the xz file format spec (§2.2) and ``xz -dc`` do."""

    def next_member(rest: bytes) -> bytes:
        data = rest.lstrip(b"\x00")
        if (len(rest) - len(data)) % 4:
            raise ExtractError("xz: stream padding is not a multiple of 4 bytes")
        return data

    return _members(
        "xz", data, lambda: _lzma.LZMADecompressor(format=_lzma.FORMAT_XZ),
        lambda b: b.startswith(XZ_MAGIC), next_member,
    )


def xz_bytes(data: bytes) -> bytes:
    """Deterministic single-stream xz framing (fixed CRC64 check).
    preset 0 (256 KiB dictionary): members here are KB-sized, and the
    DECODER allocates the full dictionary recorded in the stream header —
    preset 6's 8 MiB dict per tiny stream is pure allocation churn that
    measurably hurts multi-core scaling (BENCH.md finding 17); the encode
    side also costs ~10x more at preset 6, which dominated corpus
    generation."""
    return _lzma.compress(data, format=_lzma.FORMAT_XZ, preset=0)


def _is_bz2(data: bytes) -> bool:
    return data.startswith(BZ2_MAGIC) and data[3:4].isdigit() and data[3:4] != b"0"


def unbz2(data: bytes) -> bytes:
    """Decode one or more CONCATENATED bzip2 streams (pbzip2 emits
    multi-stream files by default; bzip2(1) and commons-compress both
    decode the concatenation)."""
    return _members("bz2", data, _bz2.BZ2Decompressor, _is_bz2, _nul_tail)


def bz2_bytes(data: bytes) -> bytes:
    """compresslevel=1 (100 KiB blocks): level 9's 900 KiB blocks make the
    DECODER allocate ~3.7 MiB per stream — for KB-sized members that is
    allocation churn, not compression (BENCH.md finding 17)."""
    return _bz2.compress(data, compresslevel=1)


def unz(data: bytes) -> bytes:
    """UNIX compress ``.Z`` decode — variable-width LZW, 9..max_bits code
    widths, LSB-first bit packing, block mode (CLEAR code 256), and the
    historical 8-code group alignment: on every width change (and after a
    CLEAR) the bit cursor rounds up to the next multiple of n_bits*8 bits,
    mirroring the reference compressor's buffer-flush padding. Algorithm
    per the public ncompress/gzip ``unlzw`` shape (Tika reads .Z via
    commons-compress ZCompressorInputStream — the reference reaches it
    through Tika, /root/reference/src/java-env.cpp:313-314).
    """
    if not data.startswith(Z_MAGIC):
        raise ExtractError("z: bad magic")
    if len(data) < 3:
        raise ExtractError("z: truncated header")
    flags = data[2]
    if flags & 0x60:
        raise ExtractError("z: unsupported flag bits 0x%02x" % (flags & 0x60))
    max_bits = flags & 0x1F
    block_mode = bool(flags & 0x80)
    if not _Z_INIT_BITS <= max_bits <= 16:
        raise ExtractError("z: bad max code width %d" % max_bits)
    maxmax = 1 << max_bits
    buf = data[3:]
    total_bits = len(buf) * 8
    n_bits = _Z_INIT_BITS
    # reference-faithful: the initial (and post-CLEAR) maxcode is
    # 2^9-1 even when max_bits == 9 — gzip's unlzw then drifts to 10-bit
    # reads once the table fills, and this decoder matches it bit-for-bit
    maxcode = (1 << n_bits) - 1
    free_ent = _Z_FIRST if block_mode else _Z_CLEAR
    prefix = [0] * maxmax
    suffix = bytearray(maxmax)
    for i in range(256):
        suffix[i] = i
    oldcode = -1
    finchar = 0
    posbits = 0
    # 8-code group alignment is RELATIVE to the last width change / CLEAR
    # (the reference unlzw restarts its read buffer there), not absolute
    origin = 0
    out = bytearray()
    stack = bytearray()
    while True:
        if free_ent > maxcode:
            nb8 = n_bits << 3
            rel = posbits - origin
            posbits = origin + ((rel + nb8 - 1) // nb8) * nb8
            origin = posbits
            n_bits += 1
            maxcode = maxmax if n_bits == max_bits else (1 << n_bits) - 1
        if posbits + n_bits > total_bits:
            break
        bytepos = posbits >> 3
        chunk = int.from_bytes(buf[bytepos : bytepos + 3], "little")
        code = (chunk >> (posbits & 7)) & ((1 << n_bits) - 1)
        posbits += n_bits
        if oldcode == -1:
            if code >= 256:
                raise ExtractError("z: first code %d is not a literal" % code)
            finchar = code
            oldcode = code
            out.append(code)
            continue
        if code == _Z_CLEAR and block_mode:
            free_ent = _Z_FIRST - 1
            nb8 = n_bits << 3
            rel = posbits - origin
            posbits = origin + ((rel + nb8 - 1) // nb8) * nb8
            origin = posbits
            n_bits = _Z_INIT_BITS
            maxcode = (1 << n_bits) - 1
            continue
        incode = code
        del stack[:]
        if code >= free_ent:  # KwKwK: the code being defined right now
            if code > free_ent:
                raise ExtractError("z: corrupt stream (code %d beyond table)" % code)
            stack.append(finchar)
            code = oldcode
        while code >= 256:
            stack.append(suffix[code])
            code = prefix[code]
        finchar = suffix[code]
        stack.append(finchar)
        out.extend(reversed(stack))
        if len(out) > MAX_INFLATED:
            raise over_budget("z")
        if free_ent < maxmax:
            prefix[free_ent] = oldcode
            suffix[free_ent] = finchar
            free_ent += 1
        oldcode = incode
    return bytes(out)


def z_bytes(data: bytes, max_bits: int = 16) -> bytes:
    """Deterministic UNIX compress ``.Z`` framing (block mode) — the
    test/corpus builder twin of :func:`unz`. Emits codes LSB-first,
    widens one step AHEAD of the decoder's table (the historical
    ``free_ent >= MAXCODE(n_bits)+1`` rule), pads to the 8-code group
    boundary on every width change, and emits CLEAR + full reset whenever
    the code table fills. Output is validated against the system
    ``gzip -dc`` (which embeds the reference unlzw) in tests.

    max_bits 9 is refused: once the 512-entry table fills, the reference
    decoder drifts to 10-bit reads (its widen check has no == max_bits
    guard at the initial width), a degenerate shape no real compressor
    emits — the decoder above follows the reference; the builder simply
    never produces it."""
    if not 10 <= max_bits <= 16:
        raise ValueError("max_bits must be in 10..16")
    out = bytearray(Z_MAGIC)
    out.append(0x80 | max_bits)
    if not data:
        return bytes(out)
    maxmax = 1 << max_bits
    n_bits = _Z_INIT_BITS
    free_ent = _Z_FIRST
    table: dict[tuple[int, int], int] = {}
    acc = 0
    nacc = 0
    totbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nacc, totbits
        acc |= code << nacc
        nacc += n_bits
        totbits += n_bits
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    origin = 0

    def pad_group() -> None:
        # flush to the 8-code (n_bits-byte) boundary with zero bits — the
        # decoder's posbits round-up skips them. Alignment is RELATIVE to
        # the last width change / CLEAR (the unlzw buffer-restart rule).
        nonlocal acc, nacc, totbits, origin
        nb8 = n_bits << 3
        pad = (-(totbits - origin)) % nb8
        totbits += pad
        nacc += pad
        origin = totbits
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    ent = data[0]
    for c in data[1:]:
        key = (ent, c)
        nxt = table.get(key)
        if nxt is not None:
            ent = nxt
            continue
        if free_ent > (1 << n_bits) and n_bits < max_bits:
            pad_group()
            n_bits += 1
        emit(ent)
        if free_ent < maxmax:
            table[key] = free_ent
            free_ent += 1
        else:
            emit(_Z_CLEAR)
            pad_group()
            n_bits = _Z_INIT_BITS
            free_ent = _Z_FIRST
            table.clear()
        ent = c
    if free_ent > (1 << n_bits) and n_bits < max_bits:
        pad_group()
        n_bits += 1
    emit(ent)
    if nacc:
        out.append(acc & 0xFF)
    return bytes(out)


def unlzma(data: bytes) -> bytes:
    """Legacy LZMA "alone" format (.lzma) decode — the pre-xz container
    7-Zip and lzma-utils shipped: 13-byte header (1 properties byte
    ``(pb*5+lp)*9+lc``, LE32 dictionary size, LE64 uncompressed size or
    all-0xFF for unknown/EOS-terminated), then one raw LZMA1 stream.
    Decoded via stdlib ``lzma`` FORMAT_ALONE (the same liblzma engine the
    ``xz`` CLI uses — tests/test_lzma_alone.py pins interop BOTH
    directions against ``xz --format=lzma``). Tika reads .lzma via
    commons-compress LZMACompressorInputStream — the reference reaches it
    through Tika (/root/reference/src/java-env.cpp:313-314)."""
    if not (len(data) >= 13 and data[0:1] == b"\x5d" and data[1:3] == b"\x00\x00"):
        raise ExtractError("lzma: bad magic")
    if data[5:13] != b"\xff" * 8 and data[10:13] != b"\x00\x00\x00":
        # declared uncompressed size >= 2^40 — reject before liblzma
        # allocates anything (the sniffer applies the same plausibility
        # rule, so such bytes never route here in the pipeline)
        raise ExtractError("lzma: implausible declared size")
    d = _lzma.LZMADecompressor(format=_lzma.FORMAT_ALONE)
    out = inflate("lzma", d, data)
    if not d.eof:
        raise ExtractError("lzma: truncated stream")
    if d.unused_data.strip(b"\x00"):
        raise ExtractError("lzma: trailing garbage after stream")
    return out


def lzma_bytes(data: bytes) -> bytes:
    """Deterministic .lzma (alone-format) framing — preset 0 for the same
    small-dictionary reason as xz_bytes (256 KiB dict; members here are
    KB-sized and the decoder allocates the full recorded dictionary)."""
    return _lzma.compress(data, format=_lzma.FORMAT_ALONE, preset=0)


def gzip_text(text: str) -> str:
    return gzip_bytes(text.encode("latin-1")).decode("latin-1")


def xz_text(text: str) -> str:
    return xz_bytes(text.encode("latin-1")).decode("latin-1")


def bz2_text(text: str) -> str:
    return bz2_bytes(text.encode("latin-1")).decode("latin-1")


def z_text(text: str) -> str:
    return z_bytes(text.encode("latin-1")).decode("latin-1")


def lzma_text(text: str) -> str:
    return lzma_bytes(text.encode("latin-1")).decode("latin-1")
