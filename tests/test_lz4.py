"""LZ4 frame wrapper — core/lz4bin.py unlz4 / lz4_bytes / xxh32.

LZ4 block format (token-coded literal/match sequences, 16-bit offsets)
inside the v1 frame format (FLG/BD descriptor, xxHash32 header/block/
content checksums, EndMark). BOTH directions are cross-validated against
the system ``lz4`` CLI — our frames must decode through it, and its
frames (default linked-block layout AND the -9/-B4/-BD/--content-size
checksummed variants) must decode through ours — so the pair is pinned
to reference behavior, not just to each other. Reference reach: Tika
reads .lz4 via commons-compress FramedLZ4CompressorInputStream
(/root/reference/src/java-env.cpp:313-314)."""

import random
import shutil
import subprocess

import pytest

from tika_wrap_spark.core.errors import ExtractError
from tika_wrap_spark.core.extract import extract_document
from tika_wrap_spark.core.lz4bin import (
    lz4_bytes,
    lz4_text,
    unlz4,
    xxh32,
)
from tika_wrap_spark.core.sniff import KIND_LZ4, sniff_kind
from tika_wrap_spark.core.tarbin import build_tar_text

_HAS_LZ4 = shutil.which("lz4") is not None


def _lz4_cli(args: list[str], payload: bytes) -> bytes:
    p = subprocess.run(["lz4", *args, "-c"], input=payload, capture_output=True)
    assert p.returncode == 0, p.stderr[:200]
    return p.stdout


_CASES = [
    b"",
    b"a",
    b"ab" * 3,
    b"aaaaaaaaaaaaaaaaaaaaaaaaaaaaa",  # overlap copy (offset < match len)
    b"the quick brown fox jumps over the lazy dog " * 400,
    bytes(range(256)) * 10,
    b"x" * 200_000,  # multi-block, long match extensions (255-run bytes)
]


def _fuzz(seed: int, n: int):
    rng = random.Random(seed)
    return [
        bytes(rng.randrange(256) for _ in range(rng.randrange(0, 5000)))
        for _ in range(n)
    ] + [bytes(rng.randrange(4) for _ in range(70000))]


def test_xxh32_vectors():
    # spec vectors: empty input, and the one-shot sanity prefix from the
    # xxHash repository (xxhsum of b"" seed 0)
    assert xxh32(b"") == 0x02CC5D05
    assert xxh32(b"", seed=1) != xxh32(b"")
    # incremental structure: 16-byte lanes + 4-byte + 1-byte tails all hit
    for n in (1, 3, 4, 5, 15, 16, 17, 31, 32, 100):
        v = xxh32(bytes(range(n % 256))[:n] * 1)
        assert 0 <= v <= 0xFFFFFFFF


def test_roundtrip():
    for payload in _CASES + _fuzz(21, 8):
        assert unlz4(lz4_bytes(payload)) == payload, len(payload)


@pytest.mark.parametrize("period", [1, 2, 3, 7, 13])
def test_periodic_payloads_roundtrip(period):
    """A periodic payload encodes as overlapping matches (offset = period <
    match length), which the decoder copies in doubling chunks from a fixed
    source start; lengths off a multiple of the period end mid-period."""
    unit = bytes(range(65, 65 + period))
    for n in (period * 997 + period // 2, period * 20011 + period - 1):
        payload = (unit * (n // period + 1))[:n]
        assert unlz4(lz4_bytes(payload)) == payload, n


def test_bad_frames_raise():
    good = lz4_bytes(b"hello lz4 world " * 64)
    with pytest.raises(ExtractError):
        unlz4(b"\x04\x22\x4d\x19" + good[4:])  # bad magic
    with pytest.raises(ExtractError):
        unlz4(good[:6])  # truncated descriptor
    with pytest.raises(ExtractError):
        unlz4(good[:-2])  # truncated content checksum
    bad_hc = good[:6] + bytes([good[6] ^ 0xFF]) + good[7:]
    with pytest.raises(ExtractError):
        unlz4(bad_hc)  # header checksum mismatch
    bad_cc = good[:-1] + bytes([good[-1] ^ 0xFF])
    with pytest.raises(ExtractError):
        unlz4(bad_cc)  # content checksum mismatch
    with pytest.raises(ExtractError):
        unlz4(good + b"junk")  # trailing garbage


@pytest.mark.skipif(not _HAS_LZ4, reason="no system lz4")
def test_encoder_matches_reference_cli():
    """Every builder frame must decode through the reference lz4 CLI."""
    for payload in _CASES + _fuzz(22, 6):
        assert _lz4_cli(["-d"], lz4_bytes(payload)) == payload, len(payload)


@pytest.mark.skipif(not _HAS_LZ4, reason="no system lz4")
def test_decoder_matches_reference_cli():
    """Reference CLI frames — default linked-block layout and the
    -9/-B4/-BD/--content-size variants (small blocks, block checksums,
    content size field) — must decode through unlz4."""
    for payload in _CASES + _fuzz(23, 6):
        assert unlz4(_lz4_cli([], payload)) == payload, len(payload)
        assert (
            unlz4(_lz4_cli(["-9", "-B4", "-BD", "--content-size"], payload))
            == payload
        ), len(payload)


def test_sniff_and_extract_route():
    wrapped = lz4_text("log line alpha\nlog line beta\n" * 40)
    assert sniff_kind(wrapped) == KIND_LZ4
    assert sniff_kind("\x04\x22\x4dX") != KIND_LZ4  # 4th magic byte wrong
    r = extract_document(
        [{"kind": "text", "text": wrapped, "media_ref": "", "offset": 0}]
    )
    assert r["parse_ok"] and r["meta"]["container_format"] == "lz4"
    assert r["spans"][0]["text"].startswith("log line alpha")


def test_tar_lz4_recursion():
    tl = lz4_text(build_tar_text([("a.txt", "alpha"), ("b.csv", "x,y\n1,2")]))
    r = extract_document([{"kind": "text", "text": tl, "media_ref": "", "offset": 0}])
    assert r["parse_ok"]
    assert r["meta"]["container_format"] == "lz4"
    assert int(r["meta"]["n_container_entries"]) == 3  # wrapper + 2 members
    assert int(r["meta"]["container_depth"]) == 2


def test_corrupt_frame_becomes_error_row():
    wrapped = lz4_text("doomed " * 50)
    bad = wrapped[:-1] + chr(ord(wrapped[-1]) ^ 0xFF)
    r = extract_document([{"kind": "text", "text": bad, "media_ref": "", "offset": 0}])
    assert not r["parse_ok"] and r["error"].startswith("lz4:")
    with pytest.raises(ExtractError):
        unlz4(bad.encode("latin-1"))
