"""MS Cabinet parsing/building (core/cabbin.py), pinned against the system
bsdtar (libarchive's independent cab reader): Copy and MSZIP folders both
list and byte-extract, including multi-block MSZIP whose deflate history
persists across CFDATA blocks."""

from __future__ import annotations

import os
import shutil
import struct
import subprocess
import tempfile

import pytest

from tika_wrap_spark.core.cabbin import (
    _csum,
    build_cab,
    build_cab_text,
    parse_cab,
)
from tika_wrap_spark.core.errors import ExtractError, payload_bytes
from tika_wrap_spark.core.sniff import sniff_kind

_HAS_BSDTAR = shutil.which("bsdtar") is not None

ENTRIES = [
    ("readme.txt", b"hello cab " * 100),
    ("sub\\nested.csv", b"a,b\n1,2\n" * 500),
    # > 32768 bytes forces multiple CFDATA blocks and cross-block history
    ("big.bin", bytes(range(256)) * 600),
]


@pytest.mark.parametrize("mszip", [True, False])
def test_roundtrip(mszip):
    img = build_cab(ENTRIES, mszip=mszip)
    assert parse_cab(img) == ENTRIES


def test_text_bridge_roundtrip():
    wire = build_cab_text([("docs/r.txt", "text payload \xe9\xff")])
    assert parse_cab(payload_bytes(wire, "cab")) == [("docs/r.txt", b"text payload \xe9\xff")]


def test_sniff_routes_cab():
    assert sniff_kind(build_cab_text([("a.txt", "x")]), "") == "cab"
    # 'MSCF' without the zero reserved1 NULs must NOT route cab
    assert sniff_kind("MSCF stands for cabinet", "") == "text"
    assert sniff_kind("MSCF\x00\x00\x00\x01rest", "") == "text"


def test_empty_member():
    img = build_cab([("empty.txt", b""), ("one.txt", b"x")])
    assert parse_cab(img) == [("empty.txt", b""), ("one.txt", b"x")]


def test_checksum_spec_vectors():
    # 4-byte word fold + high-to-low tail accumulation
    assert _csum(b"\x01\x00\x00\x00", 0) == 1
    assert _csum(b"\x01\x00\x00\x00\x02", 0) == 3
    assert _csum(b"\xff", 0x100) == 0x1FF
    assert _csum(b"\x01\x02", 0) == 0x0102


def test_corrupt_data_checksum_raises():
    img = bytearray(build_cab([("doomed.txt", b"cab payload " * 50)], mszip=True))
    img[-2] ^= 0x55
    with pytest.raises(ExtractError, match="checksum mismatch"):
        parse_cab(bytes(img))


def test_bad_mszip_signature_raises():
    img = bytearray(build_cab([("doomed.txt", b"payload " * 20)], mszip=True))
    ck = bytes(img).find(b"CK")
    img[ck] = ord("X")
    with pytest.raises(ExtractError, match="cab:"):
        parse_cab(bytes(img))


def test_truncated_raises():
    img = build_cab(ENTRIES)
    with pytest.raises(ExtractError, match="cab:"):
        parse_cab(img[: len(img) // 2])


def test_multi_cabinet_flag_rejected():
    img = bytearray(build_cab([("a.txt", b"x")]))
    flags_off = 30
    img[flags_off] |= 0x01  # cfhdrPREV_CABINET
    with pytest.raises(ExtractError, match="multi-cabinet"):
        parse_cab(bytes(img))


def test_unsupported_compression_rejected():
    img = bytearray(build_cab([("a.txt", b"x")], mszip=False))
    # CFFOLDER typeCompress at header(36) + coff(4) + cCFData(2)
    struct.pack_into("<H", img, 36 + 6, 0x0003)  # LZX
    with pytest.raises(ExtractError, match="unsupported compression"):
        parse_cab(bytes(img))


@pytest.mark.skipif(not _HAS_BSDTAR, reason="no system bsdtar")
@pytest.mark.parametrize("mszip", [True, False])
def test_bsdtar_reads_our_cab(mszip):
    img = build_cab(ENTRIES, mszip=mszip)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "ours.cab")
        with open(path, "wb") as f:
            f.write(img)
        p = subprocess.run(["bsdtar", "-tf", path], capture_output=True, timeout=30)
        assert p.returncode == 0, p.stderr
        for name, payload in ENTRIES:
            # libarchive normalizes the cab backslash separator to '/'
            member = name.replace("\\", "/")
            q = subprocess.run(
                ["bsdtar", "-xOf", path, member], capture_output=True, timeout=30
            )
            assert q.returncode == 0, (member, q.stderr)
            assert q.stdout == payload, member
