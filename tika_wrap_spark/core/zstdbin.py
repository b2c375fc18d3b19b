"""Zstandard frame decode — hand-rolled RFC 8878 decoder + store builder.

Zstd is the dominant wrapper on modern web-scale corpora (Common Crawl
and most public training datasets ship .zst); Tika reads it via
commons-compress ZstdCompressorInputStream (the reference reaches it
through Tika, /root/reference/src/java-env.cpp:313-314). This module
implements the full published format (RFC 8878 + the zstd repository's
format documentation), pure Python:

  * frame header (single-segment / window descriptor, frame content
    size, dictionary-id fields, content checksum = xxHash64 low 32)
  * raw / RLE / compressed blocks
  * literals: raw, RLE, Huffman-compressed (1- and 4-stream layouts),
    treeless repeat; Huffman table from direct 4-bit weights or
    FSE-compressed weights (two interleaved states, backward stream)
  * sequences: predefined / RLE / FSE-compressed / repeat table modes
    for literal-length, match-length and offset codes; backward
    bitstream with LL->OF->ML state init, OF->ML->LL extra-bit reads,
    LL->ML->OF state updates; the three-slot repeat-offset history with
    the literals-length-0 adjustment
  * skippable frames, multi-frame concatenation

Dictionaries raise (the declared unsupported seam — corpora ship
self-contained frames). Every error raises :class:`ExtractError` ->
``parse_ok=false`` rows, never task failures.

The builder twin :func:`zstd_bytes` emits spec-valid STORE frames (raw
and RLE blocks only, content checksum on) — any zstd tool reads them.
Tests cross-validate BOTH directions against the system ``zstd`` CLI:
its compressed frames (Huffman + FSE paths, all literal/sequence modes,
long matches, multi-block) must decode through us byte-exactly, and our
frames must decode through it.
"""

from __future__ import annotations

import struct

from tika_wrap_spark.core.errors import MAX_INFLATED, ExtractError, over_budget

ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"
_SKIPPABLE_LO = 0x184D2A50
_SKIPPABLE_HI = 0x184D2A5F

_BLOCK_RAW, _BLOCK_RLE, _BLOCK_COMPRESSED = 0, 1, 2
_MAX_BLOCK = 128 * 1024

# xxHash64 primes (public-domain algorithm, Yann Collet)
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_M64 = 0xFFFFFFFFFFFFFFFF


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        end = n - 31
        while i < end:
            v1 = (_rotl64((v1 + struct.unpack_from("<Q", data, i)[0] * _P2) & _M64, 31) * _P1) & _M64
            v2 = (_rotl64((v2 + struct.unpack_from("<Q", data, i + 8)[0] * _P2) & _M64, 31) * _P1) & _M64
            v3 = (_rotl64((v3 + struct.unpack_from("<Q", data, i + 16)[0] * _P2) & _M64, 31) * _P1) & _M64
            v4 = (_rotl64((v4 + struct.unpack_from("<Q", data, i + 24)[0] * _P2) & _M64, 31) * _P1) & _M64
            i += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl64((v * _P2) & _M64, 31) * _P1) & _M64
            h = (h * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = (_rotl64((struct.unpack_from("<Q", data, i)[0] * _P2) & _M64, 31) * _P1) & _M64
        h = ((_rotl64(h ^ k, 27) * _P1) + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h = ((_rotl64(h ^ ((struct.unpack_from("<I", data, i)[0] * _P1) & _M64), 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl64(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


# ---------------------------------------------------------------------------
# bitstreams


class _BackBits:
    """Backward bitstream (RFC 8878 §3.1.1.3.2.1.1): the container is the
    little-endian integer of the byte run; the highest set bit of the
    last byte is a sentinel; reads proceed downward from it. Reading past
    the start yields zero bits ('overflow' is tracked, not raised —
    Huffman/FSE termination rules need it)."""

    __slots__ = ("val", "pos", "overflow")

    def __init__(self, data: bytes) -> None:
        if not data or data[-1] == 0:
            raise ExtractError("zstd: corrupt backward bitstream padding")
        self.val = int.from_bytes(data, "little")
        self.pos = self.val.bit_length() - 1  # sentinel index
        self.overflow = 0

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        self.pos -= n
        if self.pos < 0:
            self.overflow -= self.pos  # count of phantom zero bits
            v = (self.val << -self.pos) & ((1 << n) - 1)
            self.pos = 0
            return v
        return (self.val >> self.pos) & ((1 << n) - 1)

    def empty(self) -> bool:
        return self.pos <= 0


class _ForeBits:
    """Forward little-endian bitstream (FSE table descriptions). Reads
    past the end yield zero bits — the count reader speculatively reads
    one bit too many before its small-value rewind; a genuinely-needed
    overrun is caught by the final bounds check."""

    __slots__ = ("data", "bitpos")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.bitpos = 0

    def read(self, n: int) -> int:
        out = 0
        for k in range(n):
            byte = self.bitpos >> 3
            if byte < len(self.data):
                out |= ((self.data[byte] >> (self.bitpos & 7)) & 1) << k
            self.bitpos += 1
        return out

    def bytes_consumed(self) -> int:
        return (self.bitpos + 7) >> 3


# ---------------------------------------------------------------------------
# FSE


def _fse_read_distribution(src: bytes, max_symbol: int) -> tuple[list[int], int, int]:
    """Parse an FSE normalized-count header (forward stream) ->
    (counts, accuracy_log, bytes_consumed). counts may include -1.
    Algorithm mirrors the reference FSE_readNCount: a shrinking threshold
    with a small-value encoding that uses one fewer bit."""
    bits = _ForeBits(src)
    accuracy_log = bits.read(4) + 5
    if accuracy_log > 9:
        raise ExtractError("zstd: FSE accuracy %d too large" % accuracy_log)
    remaining = (1 << accuracy_log) + 1
    threshold = 1 << accuracy_log
    nbits = accuracy_log + 1
    counts: list[int] = []
    while remaining > 1:
        if len(counts) > max_symbol:
            raise ExtractError("zstd: FSE distribution has too many symbols")
        max_small = 2 * threshold - 1 - remaining
        val = bits.read(nbits)
        if (val & (threshold - 1)) < max_small:
            count = val & (threshold - 1)
            bits.bitpos -= 1  # small value: only nbits-1 were needed
        else:
            count = val & (2 * threshold - 1)
            if count >= threshold:
                count -= max_small
        count -= 1  # shift so 0 encodes the -1 "less than 1" probability
        remaining -= -count if count < 0 else count
        counts.append(count)
        if count == 0:
            while True:
                rep = bits.read(2)
                counts.extend([0] * (3 if rep == 3 else rep))
                if rep != 3:
                    break
                if len(counts) > max_symbol + 1:
                    raise ExtractError("zstd: FSE zero-run overruns symbols")
        while remaining > 1 and remaining < threshold:
            nbits -= 1
            threshold >>= 1
    if remaining != 1:
        raise ExtractError("zstd: FSE distribution does not sum to table size")
    if bits.bitpos > 8 * len(src):
        raise ExtractError("zstd: FSE header overruns data")
    return counts, accuracy_log, bits.bytes_consumed()


def _fse_build_table(counts: list[int], accuracy_log: int):
    """[(symbol, nb_bits, baseline)] per state (RFC 8878 §4.1.1)."""
    size = 1 << accuracy_log
    table = [0] * size
    high = size - 1
    for sym, c in enumerate(counts):
        if c == -1:
            table[high] = sym
            high -= 1
    step = (size >> 1) + (size >> 3) + 3
    pos = 0
    for sym, c in enumerate(counts):
        if c <= 0:
            continue
        for _ in range(c):
            table[pos] = sym
            pos = (pos + step) & (size - 1)
            while pos > high:
                pos = (pos + step) & (size - 1)
    if pos != 0:
        raise ExtractError("zstd: FSE table spread did not close")
    nxt = [c if c > 0 else 1 for c in counts]
    out = []
    for state in range(size):
        sym = table[state]
        x = nxt[sym]
        nxt[sym] += 1
        nb = accuracy_log - (x.bit_length() - 1)
        out.append((sym, nb, (x << nb) - size))
    return out


class _FseState:
    __slots__ = ("table", "log", "state")

    def __init__(self, table, log: int, bits: _BackBits) -> None:
        self.table = table
        self.log = log
        self.state = bits.read(log)

    def symbol(self) -> int:
        return self.table[self.state][0]

    def update(self, bits: _BackBits) -> None:
        _sym, nb, base = self.table[self.state]
        self.state = base + bits.read(nb)


# ---------------------------------------------------------------------------
# Huffman


def _huf_read_weights(src: bytes) -> tuple[list[int], int]:
    """Huffman weights from a table description -> (weights incl. the
    implied last one, bytes consumed incl. the header byte)."""
    if not src:
        raise ExtractError("zstd: missing Huffman table header")
    hb = src[0]
    if hb >= 128:
        n = hb - 127
        nbytes = (n + 1) // 2
        if 1 + nbytes > len(src):
            raise ExtractError("zstd: direct Huffman weights overrun")
        weights = []
        for k in range(n):
            b = src[1 + (k >> 1)]
            weights.append((b >> 4) if k % 2 == 0 else (b & 0x0F))
        consumed = 1 + nbytes
    else:
        if 1 + hb > len(src):
            raise ExtractError("zstd: FSE Huffman weights overrun")
        blob = src[1 : 1 + hb]
        counts, acc, used = _fse_read_distribution(blob, 255)
        if acc > 6:
            raise ExtractError("zstd: Huffman weight FSE accuracy > 6")
        table = _fse_build_table(counts + [0] * 0, acc)
        stream = blob[used:]
        bits = _BackBits(stream)
        s1 = _FseState(table, acc, bits)
        s2 = _FseState(table, acc, bits)
        weights = []
        for _ in range(512):  # weight count is bounded by symbols (255)
            weights.append(s1.symbol())
            if bits.overflow:
                break
            s1.update(bits)
            if bits.overflow:
                weights.append(s2.symbol())
                break
            s1, s2 = s2, s1
        else:
            raise ExtractError("zstd: Huffman weight stream too long")
        consumed = 1 + hb
    # implied final weight completes the tree to a power of two
    total = sum((1 << (w - 1)) for w in weights if w > 0)
    if total == 0:
        raise ExtractError("zstd: empty Huffman tree")
    table_size = 1 << total.bit_length()
    left = table_size - total
    if left <= 0 or left & (left - 1):
        raise ExtractError("zstd: corrupt Huffman weights (no implied last)")
    weights.append(left.bit_length())  # log2(left) + 1
    if len(weights) > 256:
        raise ExtractError("zstd: too many Huffman symbols")
    return weights, consumed


def _huf_build_table(weights: list[int]):
    """(lookup, table_log): lookup[state] = (symbol, nb_bits) over
    2^table_log slots — lowest weights (longest codes) fill first, within
    a weight by symbol order (canonical assignment)."""
    total = sum((1 << (w - 1)) for w in weights if w > 0)
    table_log = (total - 1).bit_length()
    if table_log > 11:
        raise ExtractError("zstd: Huffman table log %d > 11" % table_log)
    size = 1 << table_log
    lookup = [(0, 0)] * size
    pos = 0
    for w in range(1, max(weights) + 1):
        span = 1 << (w - 1)
        nb = table_log + 1 - w
        for sym, sw in enumerate(weights):
            if sw != w:
                continue
            for k in range(span):
                lookup[pos + k] = (sym, nb)
            pos += span
    if pos != size:
        raise ExtractError("zstd: Huffman table underfilled")
    return lookup, table_log


def _huf_decode_stream(lookup, table_log: int, data: bytes, out_len: int) -> bytes:
    bits = _BackBits(data)
    out = bytearray()
    state = bits.read(table_log)
    while len(out) < out_len:
        sym, nb = lookup[state]
        out.append(sym)
        if len(out) == out_len:
            break
        state = ((state << nb) | bits.read(nb)) & ((1 << table_log) - 1)
        if bits.overflow > table_log:
            raise ExtractError("zstd: Huffman stream exhausted early")
    return bytes(out)


# ---------------------------------------------------------------------------
# sequences: code tables + predefined distributions (RFC 8878 §3.1.1.3.2.1)

_LL_BASE_BITS = [(i, 0) for i in range(16)] + [
    (16, 1), (18, 1), (20, 1), (22, 1), (24, 2), (28, 2), (32, 3), (40, 3),
    (48, 4), (64, 6), (128, 7), (256, 8), (512, 9), (1024, 10), (2048, 11),
    (4096, 12), (8192, 13), (16384, 14), (32768, 15), (65536, 16),
]
_ML_BASE_BITS = [(i + 3, 0) for i in range(32)] + [
    (35, 1), (37, 1), (39, 1), (41, 1), (43, 2), (47, 2), (51, 3), (59, 3),
    (67, 4), (83, 4), (99, 5), (131, 7), (259, 8), (515, 9), (1027, 10),
    (2051, 11), (4099, 12), (8195, 13), (16387, 14), (32771, 15), (65539, 16),
]

_LL_DEFAULT = [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2, 2,
               2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1]
_ML_DEFAULT = [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
               1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
               1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1, -1, -1]
_OF_DEFAULT = [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
               1, 1, 1, 1, -1, -1, -1, -1, -1]

_LL_ACC, _ML_ACC, _OF_ACC = 6, 6, 5
_LL_MAXSYM, _ML_MAXSYM, _OF_MAXSYM = 35, 52, 31


def _rle_table(sym: int):
    return [(sym, 0, 0)]


class _SeqTables:
    __slots__ = ("ll", "ll_log", "ml", "ml_log", "of", "of_log")

    def __init__(self) -> None:
        self.ll = self.ml = self.of = None
        self.ll_log = self.ml_log = self.of_log = 0


def _read_seq_table(mode: int, src: bytes, i: int, default, default_acc: int,
                    max_sym: int, prev, what: str):
    """-> (table, log, new_i). ``prev`` = (table, log) from the previous
    block for repeat mode."""
    if mode == 0:  # predefined
        return _fse_build_table(default, default_acc), default_acc, i
    if mode == 1:  # RLE: one byte symbol, zero-bit state
        if i >= len(src):
            raise ExtractError("zstd: truncated RLE %s table" % what)
        sym = src[i]
        if sym > max_sym:
            raise ExtractError("zstd: RLE %s symbol %d out of range" % (what, sym))
        return _rle_table(sym), 0, i + 1
    if mode == 2:  # FSE-compressed
        counts, acc, used = _fse_read_distribution(src[i:], max_sym)
        return _fse_build_table(counts, acc), acc, i + used
    if prev[0] is None:
        raise ExtractError("zstd: repeat %s table with no previous" % what)
    return prev[0], prev[1], i


# ---------------------------------------------------------------------------
# block decode


class _FrameCtx:
    """Per-frame decoder state carried across blocks: window, repeat
    offsets, last Huffman table, last sequence tables."""

    __slots__ = ("out", "reps", "huf", "tables", "window")

    def __init__(self, window: int) -> None:
        self.out = bytearray()
        self.reps = [1, 4, 8]
        self.huf = None  # (lookup, table_log)
        self.tables = _SeqTables()
        self.window = window


def _decode_literals(ctx: _FrameCtx, src: bytes) -> tuple[bytes, int]:
    """-> (literals, bytes consumed from src)."""
    if not src:
        raise ExtractError("zstd: empty literals section")
    b0 = src[0]
    ltype = b0 & 3
    sfmt = (b0 >> 2) & 3
    if ltype in (0, 1):  # raw / RLE
        if sfmt in (0, 2):
            rsize = b0 >> 3
            hlen = 1
        elif sfmt == 1:
            if len(src) < 2:
                raise ExtractError("zstd: truncated literals header")
            rsize = (b0 >> 4) | (src[1] << 4)
            hlen = 2
        else:
            if len(src) < 3:
                raise ExtractError("zstd: truncated literals header")
            rsize = (b0 >> 4) | (src[1] << 4) | (src[2] << 12)
            hlen = 3
        if ltype == 0:
            if hlen + rsize > len(src):
                raise ExtractError("zstd: raw literals overrun block")
            return src[hlen : hlen + rsize], hlen + rsize
        if hlen + 1 > len(src):
            raise ExtractError("zstd: RLE literals overrun block")
        return bytes([src[hlen]]) * rsize, hlen + 1
    # compressed (2) / treeless (3)
    if sfmt == 0:
        streams = 1
        if len(src) < 3:
            raise ExtractError("zstd: truncated literals header")
        rsize = (b0 >> 4) | ((src[1] & 0x3F) << 4)
        csize = (src[1] >> 6) | (src[2] << 2)
        hlen = 3
    elif sfmt == 1:
        streams = 4
        if len(src) < 3:
            raise ExtractError("zstd: truncated literals header")
        rsize = (b0 >> 4) | ((src[1] & 0x3F) << 4)
        csize = (src[1] >> 6) | (src[2] << 2)
        hlen = 3
    elif sfmt == 2:
        streams = 4
        if len(src) < 4:
            raise ExtractError("zstd: truncated literals header")
        rsize = (b0 >> 4) | (src[1] << 4) | ((src[2] & 0x03) << 12)
        csize = (src[2] >> 2) | (src[3] << 6)
        hlen = 4
    else:
        streams = 4
        if len(src) < 5:
            raise ExtractError("zstd: truncated literals header")
        rsize = (b0 >> 4) | (src[1] << 4) | ((src[2] & 0x3F) << 12)
        csize = (src[2] >> 6) | (src[3] << 2) | (src[4] << 10)
        hlen = 5
    if hlen + csize > len(src):
        raise ExtractError("zstd: compressed literals overrun block")
    blob = src[hlen : hlen + csize]
    if ltype == 2:
        weights, used = _huf_read_weights(blob)
        ctx.huf = _huf_build_table(weights)
        blob = blob[used:]
    elif ctx.huf is None:
        raise ExtractError("zstd: treeless literals with no previous table")
    lookup, tlog = ctx.huf
    if streams == 1:
        lits = _huf_decode_stream(lookup, tlog, blob, rsize)
    else:
        if len(blob) < 6:
            raise ExtractError("zstd: missing 4-stream jump table")
        s1, s2, s3 = struct.unpack_from("<HHH", blob, 0)
        rest = blob[6:]
        if s1 + s2 + s3 > len(rest):
            raise ExtractError("zstd: 4-stream sizes overrun")
        part = (rsize + 3) >> 2
        last = rsize - 3 * part
        if last < 0:
            raise ExtractError("zstd: bad 4-stream regenerated size")
        segs = [rest[:s1], rest[s1 : s1 + s2], rest[s1 + s2 : s1 + s2 + s3],
                rest[s1 + s2 + s3 :]]
        outs = []
        for k, seg in enumerate(segs):
            outs.append(
                _huf_decode_stream(lookup, tlog, seg, part if k < 3 else last)
            )
        lits = b"".join(outs)
    if len(lits) != rsize:
        raise ExtractError("zstd: literals regenerated size mismatch")
    return lits, hlen + csize


def _decode_sequences(ctx: _FrameCtx, src: bytes, lits: bytes) -> None:
    """Decode the sequences section and execute it against ``lits`` into
    ctx.out (RFC 8878 §3.1.1.3.2 / §3.1.1.4)."""
    if not src:
        raise ExtractError("zstd: empty sequences section")
    b0 = src[0]
    i = 1
    if b0 < 128:
        nseq = b0
    elif b0 < 255:
        if len(src) < 2:
            raise ExtractError("zstd: truncated sequence count")
        nseq = ((b0 - 128) << 8) + src[1]
        i = 2
    else:
        if len(src) < 3:
            raise ExtractError("zstd: truncated sequence count")
        nseq = src[1] + (src[2] << 8) + 0x7F00
        i = 3
    if nseq == 0:
        ctx.out += lits
        return
    if i >= len(src):
        raise ExtractError("zstd: missing compression modes byte")
    modes = src[i]
    i += 1
    if modes & 3:
        raise ExtractError("zstd: reserved compression-mode bits set")
    t = ctx.tables
    t.ll, t.ll_log, i = _read_seq_table(
        (modes >> 6) & 3, src, i, _LL_DEFAULT, _LL_ACC, _LL_MAXSYM,
        (t.ll, t.ll_log), "literal-length")
    t.of, t.of_log, i = _read_seq_table(
        (modes >> 4) & 3, src, i, _OF_DEFAULT, _OF_ACC, _OF_MAXSYM,
        (t.of, t.of_log), "offset")
    t.ml, t.ml_log, i = _read_seq_table(
        (modes >> 2) & 3, src, i, _ML_DEFAULT, _ML_ACC, _ML_MAXSYM,
        (t.ml, t.ml_log), "match-length")
    bits = _BackBits(src[i:])
    ll_s = _FseState(t.ll, t.ll_log, bits)
    of_s = _FseState(t.of, t.of_log, bits)
    ml_s = _FseState(t.ml, t.ml_log, bits)
    lit_pos = 0
    out = ctx.out
    reps = ctx.reps
    for s in range(nseq):
        of_code = of_s.symbol()
        if of_code > 31:
            raise ExtractError("zstd: offset code out of range")
        offset_val = (1 << of_code) + bits.read(of_code)
        ml_code = ml_s.symbol()
        if ml_code > _ML_MAXSYM:
            raise ExtractError("zstd: match-length code out of range")
        ml_base, ml_bits = _ML_BASE_BITS[ml_code]
        match_len = ml_base + bits.read(ml_bits)
        ll_code = ll_s.symbol()
        if ll_code > _LL_MAXSYM:
            raise ExtractError("zstd: literal-length code out of range")
        ll_base, ll_bits = _LL_BASE_BITS[ll_code]
        lit_len = ll_base + bits.read(ll_bits)
        # resolve the offset through the repeat history
        if offset_val > 3:
            offset = offset_val - 3
            reps[2] = reps[1]
            reps[1] = reps[0]
            reps[0] = offset
        else:
            idx = offset_val - 1
            if lit_len == 0:
                idx += 1
            if idx == 0:
                offset = reps[0]
            else:
                offset = reps[idx] if idx < 3 else reps[0] - 1
                if offset == 0:
                    raise ExtractError("zstd: repeat offset resolved to zero")
                if idx > 1:
                    reps[2] = reps[1]
                reps[1] = reps[0]
                reps[0] = offset
        if bits.overflow:
            raise ExtractError("zstd: sequence bitstream exhausted")
        # execute: literals copy then match copy
        if lit_pos + lit_len > len(lits):
            raise ExtractError("zstd: sequence literals overrun")
        out += lits[lit_pos : lit_pos + lit_len]
        lit_pos += lit_len
        if offset > len(out) or offset > ctx.window:
            raise ExtractError("zstd: match offset beyond window")
        pos = len(out) - offset
        remaining = match_len
        while remaining > 0:
            take = min(remaining, len(out) - pos)
            out += out[pos : pos + take]
            pos += take
            remaining -= take
        if len(out) > MAX_INFLATED:
            raise over_budget("zstd")
        if s < nseq - 1:
            ll_s.update(bits)
            ml_s.update(bits)
            of_s.update(bits)
    out += lits[lit_pos:]


def _decode_block(ctx: _FrameCtx, src: bytes) -> None:
    lits, used = _decode_literals(ctx, src)
    _decode_sequences(ctx, src[used:], lits)


# ---------------------------------------------------------------------------
# frames


def unzstd(data: bytes) -> bytes:
    """Decode a concatenation of zstd (and skippable) frames."""
    out = bytearray()
    i = 0
    n = len(data)
    if n == 0:
        raise ExtractError("zstd: empty input")
    while i < n:
        if n - i < 4:
            raise ExtractError("zstd: truncated frame magic")
        magic = struct.unpack_from("<I", data, i)[0]
        if _SKIPPABLE_LO <= magic <= _SKIPPABLE_HI:
            if n - i < 8:
                raise ExtractError("zstd: truncated skippable frame")
            size = struct.unpack_from("<I", data, i + 4)[0]
            i += 8 + size
            if i > n:
                raise ExtractError("zstd: skippable frame overruns input")
            continue
        if data[i : i + 4] != ZSTD_MAGIC:
            raise ExtractError("zstd: bad magic")
        i += 4
        if i >= n:
            raise ExtractError("zstd: truncated frame header")
        fhd = data[i]
        i += 1
        if fhd & 0x08:
            raise ExtractError("zstd: reserved frame-header bit set")
        single = bool(fhd & 0x20)
        has_cksum = bool(fhd & 0x04)
        did_flag = fhd & 0x03
        fcs_flag = fhd >> 6
        window = 0
        if not single:
            if i >= n:
                raise ExtractError("zstd: truncated window descriptor")
            wd = data[i]
            i += 1
            exp = (wd >> 3) + 10
            if exp > 41:
                raise ExtractError("zstd: window size too large")
            base = 1 << exp
            window = base + (base >> 3) * (wd & 7)
        did_len = (0, 1, 2, 4)[did_flag]
        if did_len:
            if did_flag and int.from_bytes(data[i : i + did_len], "little"):
                raise ExtractError("zstd: dictionaries not supported")
            i += did_len
        fcs_len = (0, 2, 4, 8)[fcs_flag]
        if single and fcs_flag == 0:
            fcs_len = 1
        content_size = None
        if fcs_len:
            if i + fcs_len > n:
                raise ExtractError("zstd: truncated frame content size")
            content_size = int.from_bytes(data[i : i + fcs_len], "little")
            if fcs_len == 2:
                content_size += 256
            i += fcs_len
        if single:
            if content_size is None:
                raise ExtractError("zstd: single-segment frame missing size")
            window = content_size
        # the advertised window is only an upper bound on match reach —
        # actual output is capped by MAX_INFLATED below, so a large
        # --long-mode window is fine by itself
        # per-frame buffer: match offsets may never reach into a previous
        # frame's output, so each frame decodes into its own window
        ctx = _FrameCtx(max(window, 1))
        while True:
            if i + 3 > n:
                raise ExtractError("zstd: truncated block header")
            word = data[i] | (data[i + 1] << 8) | (data[i + 2] << 16)
            i += 3
            last = word & 1
            btype = (word >> 1) & 3
            bsize = word >> 3
            if btype == _BLOCK_RAW:
                if i + bsize > n:
                    raise ExtractError("zstd: raw block overruns input")
                ctx.out += data[i : i + bsize]
                i += bsize
            elif btype == _BLOCK_RLE:
                if i >= n:
                    raise ExtractError("zstd: RLE block overruns input")
                ctx.out += bytes([data[i]]) * bsize
                i += 1
            elif btype == _BLOCK_COMPRESSED:
                if bsize > _MAX_BLOCK:
                    raise ExtractError("zstd: block size exceeds maximum")
                if i + bsize > n:
                    raise ExtractError("zstd: compressed block overruns input")
                _decode_block(ctx, data[i : i + bsize])
                i += bsize
            else:
                raise ExtractError("zstd: reserved block type")
            if len(out) + len(ctx.out) > MAX_INFLATED:
                raise over_budget("zstd")
            if last:
                break
        if content_size is not None and len(ctx.out) != content_size:
            raise ExtractError(
                "zstd: frame produced %d bytes, declared %d"
                % (len(ctx.out), content_size)
            )
        if has_cksum:
            if i + 4 > n:
                raise ExtractError("zstd: truncated content checksum")
            want = struct.unpack_from("<I", data, i)[0]
            i += 4
            if xxh64(bytes(ctx.out)) & 0xFFFFFFFF != want:
                raise ExtractError("zstd: content checksum mismatch")
        out += ctx.out
    return bytes(out)


# ---------------------------------------------------------------------------
# builder twin (store frames: raw + RLE blocks, checksum on)


def zstd_bytes(data: bytes) -> bytes:
    """Spec-valid STORE zstd frame: single-segment header with frame
    content size, raw blocks (RLE where a chunk is one repeated byte),
    content checksum. Readable by any zstd decoder; pinned against the
    system zstd CLI in tests."""
    n = len(data)
    if n < 256:
        fcs_flag, fcs = 0, struct.pack("<B", n)
    elif n < 65536 + 256:
        fcs_flag, fcs = 1, struct.pack("<H", n - 256)
    elif n < 1 << 32:
        fcs_flag, fcs = 2, struct.pack("<I", n)
    else:
        fcs_flag, fcs = 3, struct.pack("<Q", n)
    fhd = (fcs_flag << 6) | 0x20 | 0x04  # single-segment | checksum
    out = bytearray(ZSTD_MAGIC)
    out.append(fhd)
    out += fcs
    if n == 0:
        out += b"\x01\x00\x00"  # last, raw, size 0
    else:
        pos = 0
        while pos < n:
            chunk = data[pos : pos + _MAX_BLOCK]
            pos += len(chunk)
            last = 1 if pos >= n else 0
            if len(chunk) > 1 and chunk.count(chunk[0]) == len(chunk):
                word = last | (_BLOCK_RLE << 1) | (len(chunk) << 3)
                out += struct.pack("<I", word)[:3]
                out.append(chunk[0])
            else:
                word = last | (_BLOCK_RAW << 1) | (len(chunk) << 3)
                out += struct.pack("<I", word)[:3]
                out += chunk
    out += struct.pack("<I", xxh64(data) & 0xFFFFFFFF)
    return bytes(out)


def zstd_text(text: str) -> str:
    return zstd_bytes(text.encode("latin-1")).decode("latin-1")
