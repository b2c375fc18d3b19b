"""Zstandard frames — core/zstdbin.py unzstd / zstd_bytes / xxh64.

The full RFC 8878 decoder: FSE normalized-count headers (shrinking
threshold + small-value reads), canonical Huffman literals (direct and
FSE-compressed weights, 1- and 4-stream layouts), the three sequence
code tables in predefined/RLE/FSE/repeat modes, repeat-offset history
with the literals-length-0 rule, skippable frames, xxHash64 checksums.
BOTH directions cross-validate against the system ``zstd`` CLI — its
frames across compression levels and window modes must decode through
us byte-exactly, and our STORE frames must decode through it. Reference
reach: Tika reads .zst via commons-compress
(/root/reference/src/java-env.cpp:313-314); Common Crawl ships
.warc.zst, so this wrapper is the one modern web corpora actually
need."""

import random
import shutil
import struct
import subprocess

import pytest

from tika_wrap_spark.core.errors import ExtractError
from tika_wrap_spark.core.extract import extract_document
from tika_wrap_spark.core.sniff import KIND_ZSTD, sniff_kind
from tika_wrap_spark.core.tarbin import build_tar_text
from tika_wrap_spark.core.zstdbin import (
    unzstd,
    xxh64,
    zstd_bytes,
    zstd_text,
)

_HAS_ZSTD = shutil.which("zstd") is not None


def _cli(args, payload: bytes) -> bytes:
    p = subprocess.run(["zstd", *args, "-c"], input=payload, capture_output=True)
    assert p.returncode == 0, p.stderr[:200]
    return p.stdout


def _fuzz_texts(seed: int):
    rng = random.Random(seed)
    return [
        b"the quick brown fox jumps over the lazy dog " * 400,
        bytes(rng.randrange(4) for _ in range(60000)),  # low entropy
        bytes(rng.randrange(256) for _ in range(40000)),  # incompressible
        b"".join(
            bytes([rng.randrange(26) + 97]) * rng.randrange(1, 40)
            for _ in range(8000)
        ),  # run-heavy: RLE literals + repeat offsets
        b"ab" * 50000,
        bytes(200000),  # zeros: RLE blocks
    ]


def test_xxh64_vectors():
    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert xxh64(b"", seed=1) != xxh64(b"")
    for n in (1, 3, 4, 7, 8, 9, 31, 32, 33, 100):
        assert 0 <= xxh64(bytes(range(n % 256))[:n]) <= (1 << 64) - 1


def test_store_roundtrip():
    rng = random.Random(8)
    cases = [b"", b"a", b"abc" * 100, b"x" * 300000,
             bytes(rng.randrange(256) for _ in range(150000))]
    for c in cases:
        assert unzstd(zstd_bytes(c)) == c, len(c)


def test_bad_frames_raise():
    good = zstd_bytes(b"hello zstd " * 50)
    with pytest.raises(ExtractError):
        unzstd(b"\x28\xb5\x2f\xfe" + good[4:])  # bad magic
    with pytest.raises(ExtractError):
        unzstd(good[:5])  # truncated header
    with pytest.raises(ExtractError):
        unzstd(good[:-2])  # truncated checksum
    bad = good[:-1] + bytes([good[-1] ^ 0xFF])
    with pytest.raises(ExtractError):
        unzstd(bad)  # checksum mismatch


@pytest.mark.skipif(not _HAS_ZSTD, reason="no system zstd")
def test_store_frames_decode_through_cli():
    for c in (b"", b"abc" * 500, bytes(range(256)) * 100, b"q" * 200000):
        assert _cli(["-d"], zstd_bytes(c)) == c, len(c)


@pytest.mark.skipif(not _HAS_ZSTD, reason="no system zstd")
def test_cli_frames_decode_through_ours_all_levels():
    """Levels 1..19 + ultra-22: every literal/sequence coding mode the
    reference encoder emits must decode byte-exactly."""
    texts = _fuzz_texts(9)
    for lvl in ("-1", "-3", "-9", "-19"):
        for t in texts:
            assert unzstd(_cli([lvl], t)) == t, (lvl, len(t))
    big = open("/root/repo/SURVEY.md", "rb").read()
    assert unzstd(_cli(["-22", "--ultra"], big)) == big


@pytest.mark.skipif(not _HAS_ZSTD, reason="no system zstd")
def test_cli_special_modes():
    t = open("/root/repo/BENCH.md", "rb").read()
    assert unzstd(_cli(["--long=27", "-12"], t)) == t  # huge window
    assert unzstd(_cli(["-5", "--no-check"], t)) == t  # no checksum
    assert unzstd(_cli(["-3", "-T4"], t)) == t  # multithreaded frames
    for n in range(0, 33):  # tiny inputs hit the single-segment fast paths
        s = bytes(range(n))
        assert unzstd(_cli(["-7"], s)) == s, n


@pytest.mark.skipif(not _HAS_ZSTD, reason="no system zstd")
def test_multiframe_with_skippable():
    a = _cli(["-3"], b"first part ")
    skip = struct.pack("<II", 0x184D2A53, 5) + b"JUNK!"
    b = _cli(["-9"], b"second part")
    assert unzstd(a + skip + b) == b"first part second part"


@pytest.mark.skipif(not _HAS_ZSTD, reason="no system zstd")
def test_bitflip_fuzz_policy():
    """600 seeded bit flips over a compressed frame: only ExtractError
    (or a silently-wrong decode caught by the checksum) ever surfaces."""
    rng = random.Random(10)
    base = _cli(["-6"], _fuzz_texts(11)[0])
    for _ in range(600):
        i = rng.randrange(len(base))
        bad = bytearray(base)
        bad[i] ^= 1 << rng.randrange(8)
        try:
            unzstd(bytes(bad))
        except ExtractError:
            pass


def test_extraction_routes_and_recurses():
    tz = zstd_text(build_tar_text([("a.txt", "alpha"), ("b.csv", "x,y\n1,2")]))
    assert sniff_kind(tz) == KIND_ZSTD
    r = extract_document([{"kind": "text", "text": tz, "media_ref": "", "offset": 0}])
    assert r["parse_ok"]
    assert r["meta"]["container_format"] == "zstd"
    assert int(r["meta"]["n_container_entries"]) == 3
    assert int(r["meta"]["container_depth"]) == 2


@pytest.mark.skipif(not _HAS_ZSTD, reason="no system zstd")
def test_extraction_of_cli_compressed_doc():
    """A document compressed by the REAL zstd encoder runs the full
    Huffman/FSE decode inside the extraction pipeline."""
    body = "compressed corpus document body\n" * 200
    frame = _cli(["-19"], body.encode("latin-1")).decode("latin-1")
    r = extract_document(
        [{"kind": "text", "text": frame, "media_ref": "", "offset": 0}]
    )
    assert r["parse_ok"] and r["meta"]["container_format"] == "zstd"
    assert r["spans"][0]["text"].startswith("compressed corpus document body")


def test_corrupt_becomes_error_row():
    wrapped = zstd_text("doomed " * 40)
    bad = wrapped[:-1] + chr(ord(wrapped[-1]) ^ 0xFF)
    r = extract_document([{"kind": "text", "text": bad, "media_ref": "", "offset": 0}])
    assert not r["parse_ok"] and r["error"].startswith("zstd:")
    with pytest.raises(ExtractError):
        unzstd(bad.encode("latin-1"))
