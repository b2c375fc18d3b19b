"""Legacy LZMA alone-format (.lzma) wrapper: stdlib-liblzma decode behind
strict header validation, cross-validated BOTH directions against the
system ``xz --format=lzma`` CLI (an independent liblzma front-end with its
own framing decisions — different dictionary sizes, same stream grammar).

The reference reads .lzma through Tika's commons-compress
LZMACompressorInputStream (/root/reference/src/java-env.cpp:313-314).
"""

from __future__ import annotations

import lzma
import shutil
import subprocess

import pytest

from tika_wrap_spark.core.errors import MAX_INFLATED, ExtractError, payload_bytes
from tika_wrap_spark.core.gzipbin import lzma_bytes, lzma_text, unlzma
from tika_wrap_spark.core.sniff import sniff_kind

_HAS_XZ = shutil.which("xz") is not None


def test_roundtrip_basic():
    for body in (b"", b"x", b"hello lzma " * 100, bytes(range(256)) * 50):
        assert unlzma(lzma_bytes(body)) == body


def test_text_bridge_roundtrip():
    body = "line one\nline two\n" * 40
    assert unlzma(payload_bytes(lzma_text(body), "lzma")).decode("latin-1") == body


def test_header_shape():
    # props byte 0x5D, 64KiB-aligned dict, unknown-size field — the
    # exact bytes the sniffer guard admits
    head = lzma_bytes(b"payload")[:13]
    assert head[0] == 0x5D
    assert head[1:3] == b"\x00\x00"
    assert head[5:13] == b"\xff" * 8


def test_sniff_routes_lzma():
    wrapped = lzma_text("some body text " * 20)
    assert sniff_kind(wrapped, "") == "lzma"


def test_sniff_guard_rejects_bracket_prose():
    # ']' opener without the NUL dict bytes / plausible size must NOT
    # route lzma
    assert sniff_kind("] a prose line that starts with a bracket", "") == "text"
    # NUL dict bytes but implausible declared size (no 0xFF run, bytes
    # 10..13 nonzero) must fall through too
    bogus = "\x5d\x00\x00\x04\x00" + "\x01" * 20
    assert sniff_kind(bogus, "") != "lzma"


def test_truncated_stream_raises():
    data = lzma_bytes(b"doomed " * 50)
    with pytest.raises(ExtractError, match="lzma: truncated stream"):
        unlzma(data[: len(data) // 2])


def test_bad_magic_raises():
    with pytest.raises(ExtractError, match="lzma: bad magic"):
        unlzma(b"\x5e\x00\x00" + b"\x00" * 20)
    with pytest.raises(ExtractError, match="lzma: bad magic"):
        unlzma(b"\x5d\x00")  # too short


def test_corrupt_body_raises():
    data = bytearray(lzma_bytes(b"abcdefgh" * 64))
    data[20] ^= 0xFF
    with pytest.raises(ExtractError, match="lzma:"):
        unlzma(bytes(data))


def test_trailing_garbage_raises():
    data = lzma_bytes(b"body")
    with pytest.raises(ExtractError, match="trailing garbage"):
        unlzma(data + b"XYZ")
    # NUL padding (tar-style block rounding) is tolerated
    assert unlzma(data + b"\x00" * 16) == b"body"


def test_inflation_cap():
    bomb = lzma.compress(
        b"\x00" * (MAX_INFLATED + 1024 * 1024), format=lzma.FORMAT_ALONE, preset=0
    )
    with pytest.raises(ExtractError, match="lzma: inflated payload exceeds %d bytes" % MAX_INFLATED):
        unlzma(bomb)


@pytest.mark.skipif(not _HAS_XZ, reason="no system xz")
def test_xz_cli_decodes_ours():
    body = b"interop payload going TO the system tool\n" * 64
    p = subprocess.run(
        ["xz", "-dc", "--format=lzma"],
        input=lzma_bytes(body),
        capture_output=True,
        timeout=30,
    )
    assert p.returncode == 0, p.stderr
    assert p.stdout == body


@pytest.mark.skipif(not _HAS_XZ, reason="no system xz")
@pytest.mark.parametrize("level", ["-0", "-6", "-9", "-9e"])
def test_we_decode_xz_cli(level):
    body = (b"interop payload coming FROM the system tool\n" * 64) + bytes(
        range(256)
    ) * 8
    p = subprocess.run(
        ["xz", "-zc", "--format=lzma", level],
        input=body,
        capture_output=True,
        timeout=60,
    )
    assert p.returncode == 0, p.stderr
    assert unlzma(p.stdout) == body
    # every CLI level keeps the sniffer-guard header shape
    assert sniff_kind(p.stdout.decode("latin-1"), "") == "lzma"
