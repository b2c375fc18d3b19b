"""LZ4 frame wrapper decode/encode — hand-rolled block codec + xxHash32.

LZ4 frames (magic ``0x184D2204`` LE at offset 0) wrap documents and tar
streams the same way gzip/xz/bz2/.Z do; Tika reads them via
commons-compress ``FramedLZ4CompressorInputStream`` (the reference
reaches it through Tika, /root/reference/src/java-env.cpp:313-314).
This module implements the public LZ4 frame format v1.6.1 and block
format (github.com/lz4/lz4 documentation) plus the xxHash32 checksum the
frame format mandates — pure Python, no third-party libs. The builder
twin :func:`lz4_bytes` is cross-validated against the system ``lz4``
CLI in tests/test_lz4.py, so both directions are pinned to reference
behavior, not just to each other.

Frame layout handled:
  magic | FLG BD [content-size-8] [dict-id-4] HC | blocks... | EndMark
  [content-checksum-4]
Blocks: 4-byte LE size word (high bit = stored/uncompressed), payload,
optional 4-byte block checksum. Both block-independent and block-LINKED
modes decode (the CLI default is linked: matches may reach back across
block boundaries into the previous 64 KB of output).

Any framing / checksum / sequence error raises ExtractError ->
``parse_ok=false`` rows, never task failures.
"""

from __future__ import annotations

import struct

from tika_wrap_spark.core.errors import MAX_INFLATED, ExtractError, over_budget

LZ4_MAGIC = b"\x04\x22\x4d\x18"

# xxHash32 primes (public-domain algorithm, Yann Collet; spec in the
# xxHash repository's doc/xxhash_spec.md)
_P1 = 2654435761
_P2 = 2246822519
_P3 = 3266489917
_P4 = 668265263
_P5 = 374761393
_M32 = 0xFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def xxh32(data: bytes, seed: int = 0) -> int:
    """xxHash32 of ``data`` — the frame-format checksum function."""
    n = len(data)
    i = 0
    if n >= 16:
        v1 = (seed + _P1 + _P2) & _M32
        v2 = (seed + _P2) & _M32
        v3 = seed & _M32
        v4 = (seed - _P1) & _M32
        end = n - 15
        while i < end:
            v1 = (_rotl((v1 + struct.unpack_from("<I", data, i)[0] * _P2) & _M32, 13) * _P1) & _M32
            v2 = (_rotl((v2 + struct.unpack_from("<I", data, i + 4)[0] * _P2) & _M32, 13) * _P1) & _M32
            v3 = (_rotl((v3 + struct.unpack_from("<I", data, i + 8)[0] * _P2) & _M32, 13) * _P1) & _M32
            v4 = (_rotl((v4 + struct.unpack_from("<I", data, i + 12)[0] * _P2) & _M32, 13) * _P1) & _M32
            i += 16
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M32
    else:
        h = (seed + _P5) & _M32
    h = (h + n) & _M32
    while i + 4 <= n:
        h = (h + struct.unpack_from("<I", data, i)[0] * _P3) & _M32
        h = (_rotl(h, 17) * _P4) & _M32
        i += 4
    while i < n:
        h = (h + data[i] * _P5) & _M32
        h = (_rotl(h, 11) * _P1) & _M32
        i += 1
    h ^= h >> 15
    h = (h * _P2) & _M32
    h ^= h >> 13
    h = (h * _P3) & _M32
    h ^= h >> 16
    return h


def _block_decode(src: bytes, out: bytearray, window_base: int, limit: int) -> None:
    """Decode one LZ4 block, appending to ``out``. Match offsets may reach
    back to ``window_base`` (0 for linked frames — the whole prior output
    is fair game within the 64 KB offset ceiling; the block's own start
    for independent frames). ``limit`` caps total output (bomb guard)."""
    i = 0
    n = len(src)
    while True:
        if i >= n:
            raise ExtractError("lz4: truncated sequence (missing token)")
        token = src[i]
        i += 1
        lit = token >> 4
        if lit == 15:
            while True:
                if i >= n:
                    raise ExtractError("lz4: truncated literal length")
                b = src[i]
                i += 1
                lit += b
                if b != 255:
                    break
        if i + lit > n:
            raise ExtractError("lz4: literal run past block end")
        out += src[i : i + lit]
        if len(out) > limit:
            raise over_budget("lz4")
        i += lit
        if i == n:
            return  # last sequence carries literals only
        if i + 2 > n:
            raise ExtractError("lz4: truncated match offset")
        offset = src[i] | (src[i + 1] << 8)
        i += 2
        if offset == 0:
            raise ExtractError("lz4: zero match offset")
        pos = len(out) - offset
        if pos < window_base:
            raise ExtractError("lz4: match offset before window start")
        mlen = (token & 0x0F) + 4
        if (token & 0x0F) == 15:
            while True:
                if i >= n:
                    raise ExtractError("lz4: truncated match length")
                b = src[i]
                i += 1
                mlen += b
                if b != 255:
                    break
        if len(out) + mlen > limit:
            raise over_budget("lz4")
        # overlap-safe copy: the source range may extend into bytes this
        # very match is producing (offset < mlen). Everything from ``pos``
        # on repeats with period ``offset``, so each turn copies all of it
        # from the fixed start and the chunk doubles: log2(mlen/offset)
        # turns, not mlen/offset
        while mlen > 0:
            take = min(mlen, len(out) - pos)
            out += out[pos : pos + take]
            mlen -= take


def unlz4(data: bytes) -> bytes:
    """Decode one or more CONCATENATED LZ4 frames (the frame format spec
    allows appended frames and skippable frames; the lz4 CLI decodes
    `cat a.lz4 b.lz4` as the concatenation). Strict per frame: header
    checksum, block checksums and content checksum verified when
    present; each frame decodes into its OWN window (matches never reach
    a previous frame); trailing NUL padding only."""
    if not data.startswith(LZ4_MAGIC):
        raise ExtractError("lz4: bad magic")
    outs: list[bytes] = []
    pos = 0
    total = 0
    n = len(data)
    while pos < n:
        if not data[pos:].strip(b"\x00"):
            break  # trailing NUL padding
        magic = data[pos : pos + 4]
        word = int.from_bytes(magic, "little") if len(magic) == 4 else 0
        if (word & 0xFFFFFFF0) == 0x184D2A50:  # skippable frame
            if n < pos + 8:
                raise ExtractError("lz4: truncated skippable frame")
            size = struct.unpack_from("<I", data, pos + 4)[0]
            if n < pos + 8 + size:
                raise ExtractError("lz4: truncated skippable frame")
            pos += 8 + size
            continue
        if magic != LZ4_MAGIC:
            raise ExtractError("lz4: trailing garbage after frame")
        frame, pos = _un_frame(data, pos, MAX_INFLATED - total)
        outs.append(frame)
        total += len(frame)
    return b"".join(outs)


def _un_frame(data: bytes, start: int, budget: int) -> tuple[bytes, int]:
    """Decode the single frame at ``start``; -> (payload, next offset)."""
    if len(data) < start + 7:
        raise ExtractError("lz4: truncated frame descriptor")
    flg = data[start + 4]
    bd = data[start + 5]
    if (flg >> 6) != 0b01:
        raise ExtractError("lz4: unsupported frame version %d" % (flg >> 6))
    if flg & 0x02:
        raise ExtractError("lz4: reserved FLG bit set")
    indep = bool(flg & 0x20)
    blk_cksum = bool(flg & 0x10)
    has_csize = bool(flg & 0x08)
    c_cksum = bool(flg & 0x04)
    has_dict = bool(flg & 0x01)
    if bd & 0x8F:
        raise ExtractError("lz4: reserved BD bits set")
    bmax_code = (bd >> 4) & 0x07
    if not 4 <= bmax_code <= 7:
        raise ExtractError("lz4: bad block max-size code %d" % bmax_code)
    bmax = 1 << (8 + 2 * bmax_code)  # 4 -> 64 KB ... 7 -> 4 MB
    i = start + 6
    content_size = None
    if has_csize:
        if len(data) < i + 8:
            raise ExtractError("lz4: truncated content size")
        content_size = struct.unpack_from("<Q", data, i)[0]
        i += 8
    if has_dict:
        raise ExtractError("lz4: dictionaries not supported")
    if len(data) < i + 1:
        raise ExtractError("lz4: truncated header checksum")
    hc = data[i]
    want_hc = (xxh32(data[start + 4 : i]) >> 8) & 0xFF
    if hc != want_hc:
        raise ExtractError("lz4: header checksum mismatch")
    i += 1
    out = bytearray()
    while True:
        if len(data) < i + 4:
            raise ExtractError("lz4: truncated block size word")
        word = struct.unpack_from("<I", data, i)[0]
        i += 4
        if word == 0:
            break  # EndMark
        stored = bool(word & 0x80000000)
        bsize = word & 0x7FFFFFFF
        if bsize > bmax:
            raise ExtractError("lz4: block size %d exceeds frame max %d" % (bsize, bmax))
        if len(data) < i + bsize:
            raise ExtractError("lz4: truncated block payload")
        block = data[i : i + bsize]
        i += bsize
        if blk_cksum:
            if len(data) < i + 4:
                raise ExtractError("lz4: truncated block checksum")
            if struct.unpack_from("<I", data, i)[0] != xxh32(block):
                raise ExtractError("lz4: block checksum mismatch")
            i += 4
        if stored:
            out += block
            if len(out) > budget:
                raise over_budget("lz4")
        else:
            base = len(out) if indep else 0
            _block_decode(block, out, base, budget)
    if c_cksum:
        if len(data) < i + 4:
            raise ExtractError("lz4: truncated content checksum")
        if struct.unpack_from("<I", data, i)[0] != xxh32(bytes(out)):
            raise ExtractError("lz4: content checksum mismatch")
        i += 4
    if content_size is not None and content_size != len(out):
        raise ExtractError(
            "lz4: content size %d != decoded %d" % (content_size, len(out))
        )
    return bytes(out), i


# encoder: greedy hash-chainless match finder (one 4-byte-key slot), the
# classic LZ4 fast-path shape. Spec end-of-block rules enforced: the last
# 5 bytes are always literals and no match starts within the final 12.
_MFLIMIT = 12
_LASTLITERALS = 5


def _block_encode(src: bytes) -> bytes:
    n = len(src)
    out = bytearray()
    anchor = 0
    if n >= _MFLIMIT + 1:
        table: dict[bytes, int] = {}
        limit = n - _MFLIMIT
        i = 0
        while i < limit:
            key = src[i : i + 4]
            cand = table.get(key)
            table[key] = i
            if cand is None or i - cand > 65535 or src[cand : cand + 4] != key:
                i += 1
                continue
            mlen = 4
            maxm = n - _LASTLITERALS - i
            while mlen < maxm and src[cand + mlen] == src[i + mlen]:
                mlen += 1
            lit = src[anchor:i]
            llen = len(lit)
            token_l = 15 if llen >= 15 else llen
            token_m = 15 if mlen - 4 >= 15 else mlen - 4
            out.append((token_l << 4) | token_m)
            rem = llen - 15
            while rem >= 0:
                out.append(255 if rem >= 255 else rem)
                rem -= 255
            out += lit
            out += struct.pack("<H", i - cand)
            rem = mlen - 4 - 15
            while rem >= 0:
                out.append(255 if rem >= 255 else rem)
                rem -= 255
            i += mlen
            anchor = i
    # trailing literals-only sequence
    lit = src[anchor:]
    llen = len(lit)
    token_l = 15 if llen >= 15 else llen
    out.append(token_l << 4)
    rem = llen - 15
    while rem >= 0:
        out.append(255 if rem >= 255 else rem)
        rem -= 255
    out += lit
    return bytes(out)


def lz4_bytes(data: bytes) -> bytes:
    """Deterministic LZ4 frame around ``data`` — the test/corpus builder
    twin of :func:`unlz4`. Block-independent 64 KB blocks, content
    checksum on (the strictest verifiable layout); every output frame
    must decode through the system ``lz4`` CLI (pinned in tests)."""
    flg = 0x40 | 0x20 | 0x04  # version 01 | block-independent | content checksum
    bd = 0x40  # block max size code 4 = 64 KB
    desc = bytes([flg, bd])
    out = bytearray(LZ4_MAGIC)
    out += desc
    out.append((xxh32(desc) >> 8) & 0xFF)
    for off in range(0, len(data), 65536):
        chunk = data[off : off + 65536]
        comp = _block_encode(chunk)
        if len(comp) >= len(chunk):
            out += struct.pack("<I", 0x80000000 | len(chunk))
            out += chunk
        else:
            out += struct.pack("<I", len(comp))
            out += comp
    out += b"\x00\x00\x00\x00"  # EndMark
    out += struct.pack("<I", xxh32(data))
    return bytes(out)


def lz4_text(text: str) -> str:
    return lz4_bytes(text.encode("latin-1")).decode("latin-1")
