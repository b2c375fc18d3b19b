"""UNIX compress .Z wrapper — core/gzipbin.py unz / z_bytes.

Variable-width LZW (10..16 bits), LSB-first packing, block-mode CLEAR,
and the historical 8-code group alignment RELATIVE to the last width
change. The builder twin is cross-validated against the system
``gzip -dc`` (which embeds the reference unlzw decoder), so both
directions are pinned to public-reference behavior, not just to each
other. Reference reach: Tika reads .Z via commons-compress
(/root/reference/src/java-env.cpp:313-314)."""

import random
import shutil
import subprocess

import pytest

from tika_wrap_spark.core.errors import ExtractError
from tika_wrap_spark.core.extract import extract_document
from tika_wrap_spark.core.gzipbin import unz, z_bytes, z_text
from tika_wrap_spark.core.sniff import KIND_Z, sniff_kind
from tika_wrap_spark.core.tarbin import build_tar_text

_HAS_GZIP = shutil.which("gzip") is not None


def _gzip_dc(z: bytes) -> bytes:
    p = subprocess.run(["gzip", "-dc"], input=z, capture_output=True)
    assert p.returncode == 0, p.stderr[:200]
    return p.stdout


_CASES = [
    b"",
    b"a",
    b"ab",
    b"aaaaaaaaaaaaaaaa",
    b"abcabcabcabcabc",
    bytes(range(256)) * 4,  # crosses the 9->10->11 width changes
    b"the quick brown fox jumps over the lazy dog " * 400,
]


def test_roundtrip_all_widths():
    rng = random.Random(11)
    fuzz = [bytes(rng.randrange(256) for _ in range(rng.randrange(0, 3000)))
            for _ in range(10)]
    for mb in range(10, 17):
        for payload in _CASES + fuzz:
            assert unz(z_bytes(payload, mb)) == payload, (mb, len(payload))


def test_clear_path_roundtrip():
    # low width + incompressible input fills the table repeatedly -> the
    # CLEAR + full-reset path (relative group realignment after reset)
    rng = random.Random(12)
    payload = bytes(rng.randrange(256) for _ in range(30000))
    for mb in (10, 12):
        assert unz(z_bytes(payload, mb)) == payload, mb


@pytest.mark.skipif(not _HAS_GZIP, reason="no system gzip")
def test_encoder_matches_reference_unlzw():
    """Every builder output must decode through the system gzip (the
    reference unlzw), incl. width changes and CLEAR resets."""
    rng = random.Random(13)
    cases = _CASES + [
        bytes(rng.randrange(256) for _ in range(20000)),  # CLEAR at 10/12
        bytes(rng.randrange(4) for _ in range(50000)),  # low entropy, deep widths
    ]
    for mb in (10, 12, 16):
        for payload in cases:
            z = z_bytes(payload, mb)
            assert _gzip_dc(z) == payload, (mb, len(payload))


@pytest.mark.skipif(not _HAS_GZIP, reason="no system gzip")
def test_decoder_matches_reference_unlzw_fuzz():
    """Seeded fuzz: unz and gzip -dc must agree byte-for-byte on every
    builder stream (the two decoders see identical bits)."""
    rng = random.Random(14)
    for _ in range(25):
        n = rng.randrange(0, 4000)
        alpha = rng.choice([2, 16, 256])
        payload = bytes(rng.randrange(alpha) for _ in range(n))
        mb = rng.randrange(10, 17)
        z = z_bytes(payload, mb)
        assert unz(z) == _gzip_dc(z) == payload, (mb, n, alpha)


def test_builder_refuses_degenerate_width():
    # max_bits 9: the reference decoder drifts to 10-bit reads once the
    # 512-entry table fills — no real compressor emits it; builder refuses
    with pytest.raises(ValueError):
        z_bytes(b"x", 9)
    with pytest.raises(ValueError):
        z_bytes(b"x", 17)


def test_error_paths():
    with pytest.raises(ExtractError, match="bad magic"):
        unz(b"\x1f\x8b\x08")
    with pytest.raises(ExtractError, match="truncated header"):
        unz(b"\x1f\x9d")
    with pytest.raises(ExtractError, match="unsupported flag"):
        unz(b"\x1f\x9d\xd0xx")  # 0x40 reserved bit set
    with pytest.raises(ExtractError, match="bad max code width"):
        unz(b"\x1f\x9d\x88xx")  # max_bits 8 < 9
    with pytest.raises(ExtractError, match="not a literal"):
        unz(b"\x1f\x9d\x90\xff\xff")  # first code 511 >= 256
    with pytest.raises(ExtractError, match="beyond table"):
        # literal 'a' then code 300 (> free_ent 258) — corrupt stream
        import struct

        bits = 97 | (300 << 9)
        unz(b"\x1f\x9d\x90" + struct.pack("<I", bits)[:3])


def test_sniff_both_near_misses():
    assert sniff_kind("\x1f\x9d\x90rest") == KIND_Z
    assert sniff_kind("\x1f\x9d") == KIND_Z
    assert sniff_kind("\x1f\x8b\x08") == "gzip"  # gzip stays gzip
    assert sniff_kind("x\x1f\x9d") == "text"  # shifted off 0
    assert sniff_kind("\x1f") == "text"


def test_extraction_tar_z_recurses():
    inner = build_tar_text(
        [("docs/one.txt", "hello from inside tar.Z"), ("t/x.csv", "a,b,c\n1,2,3")]
    )
    payload = z_text(inner)
    assert sniff_kind(payload) == KIND_Z
    res = extract_document(
        [{"kind": "z", "text": payload, "media_ref": "", "offset": 0}]
    )
    assert res["parse_ok"], res["error"]
    meta = res["meta"]
    assert meta["container_format"] == "z"
    assert meta["n_container_entries"] == "3"  # 1 wrapper member + 2 tar
    texts = [s["text"] for s in res["spans"]]
    assert any("hello from inside tar.Z" in t for t in texts)


def test_extraction_corrupt_z_is_row_not_failure():
    res = extract_document(
        [{"kind": "z", "text": "\x1f\x9d\x90\xff\xff\xff", "media_ref": "", "offset": 0}]
    )
    assert not res["parse_ok"]
    assert res["error"].startswith("z:")
    assert res["spans"] == []


def test_unicode_payload_refused():
    res = extract_document(
        [{"kind": "z", "text": "\x1f\x9dሴcompressed?", "media_ref": "", "offset": 0}]
    )
    assert res["error"] == "z: payload is not a byte stream (non-latin-1 chars)"


class TestConcatenatedMembers:
    """RFC 1952 §2.2 / xz(1) / pbzip2 / the lz4 frame spec all allow
    CONCATENATED members in one file, and the reference CLIs decode the
    concatenation — so must the wrapper decoders (Tika's commons-compress
    uses decompressConcatenated for exactly this)."""

    def test_gzip_members_concatenate(self):
        from tika_wrap_spark.core.gzipbin import gunzip, gzip_bytes

        two = gzip_bytes(b"first member\n") + gzip_bytes(b"second member\n")
        assert gunzip(two) == b"first member\nsecond member\n"
        three = two + gzip_bytes(b"third\n") + b"\x00" * 7
        assert gunzip(three).endswith(b"third\n")

    def test_bz2_streams_concatenate(self):
        from tika_wrap_spark.core.gzipbin import bz2_bytes, unbz2

        two = bz2_bytes(b"alpha ") + bz2_bytes(b"beta")
        assert unbz2(two) == b"alpha beta"

    def test_xz_streams_concatenate_with_padding(self):
        from tika_wrap_spark.core.gzipbin import unxz, xz_bytes

        # 4-byte-aligned NUL stream padding between streams is legal
        two = xz_bytes(b"alpha ") + b"\x00" * 8 + xz_bytes(b"beta")
        assert unxz(two) == b"alpha beta"

    def test_lz4_frames_concatenate_and_skippables_skip(self):
        import struct

        from tika_wrap_spark.core.lz4bin import lz4_bytes, unlz4

        skip = struct.pack("<II", 0x184D2A50, 5) + b"SKIPx"
        data = lz4_bytes(b"first ") + skip + lz4_bytes(b"second") + b"\x00\x00"
        assert unlz4(data) == b"first second"

    def test_garbage_after_members_still_raises(self):
        import pytest

        from tika_wrap_spark.core.errors import ExtractError
        from tika_wrap_spark.core.gzipbin import (
            bz2_bytes,
            gunzip,
            gzip_bytes,
            unbz2,
            unxz,
            xz_bytes,
        )
        from tika_wrap_spark.core.lz4bin import lz4_bytes, unlz4

        for enc, dec in (
            (gzip_bytes, gunzip),
            (bz2_bytes, unbz2),
            (xz_bytes, unxz),
            (lz4_bytes, unlz4),
        ):
            with pytest.raises(ExtractError, match="trailing garbage"):
                dec(enc(b"x") + b"NOTASTREAM")

    def test_multi_member_rides_extraction(self):
        # a split tar.gz extracts identically to the unsplit one
        from tika_wrap_spark.core.extract import extract_document
        from tika_wrap_spark.core.gzipbin import gzip_text
        from tika_wrap_spark.core.tarbin import build_tar_text

        tar = build_tar_text([("a.txt", "alpha"), ("b.txt", "beta")])
        cut = len(tar) // 2
        split = gzip_text(tar[:cut]) + gzip_text(tar[cut:])
        one = extract_document([{"kind": "gzip", "text": gzip_text(tar), "media_ref": "", "offset": 0}])
        two = extract_document([{"kind": "gzip", "text": split, "media_ref": "", "offset": 0}])
        assert one["parse_ok"] and two["parse_ok"]
        assert [s["text"] for s in one["spans"]] == [s["text"] for s in two["spans"]]


_HAS_XZ = shutil.which("xz") is not None


@pytest.mark.skipif(not _HAS_XZ, reason="no system xz")
@pytest.mark.parametrize("between", [True, False], ids=["between", "trailing"])
@pytest.mark.parametrize("pad", [1, 3, 4])
def test_xz_stream_padding_matches_cli(pad, between):
    """Stream padding must be a multiple of 4 bytes (xz file format §2.2):
    unxz accepts and rejects exactly what ``xz -dc`` does."""
    from tika_wrap_spark.core.gzipbin import unxz, xz_bytes

    data = xz_bytes(b"alpha ") + b"\x00" * pad + (xz_bytes(b"beta") if between else b"")
    cli = subprocess.run(["xz", "-dc"], input=data, capture_output=True)
    if cli.returncode == 0:
        assert unxz(data) == cli.stdout
    else:
        with pytest.raises(ExtractError, match="xz: stream padding"):
            unxz(data)
    assert (cli.returncode == 0) == (pad % 4 == 0)
