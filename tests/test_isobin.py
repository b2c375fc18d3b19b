"""ISO 9660 parsing/building (core/isobin.py), cross-validated BOTH
directions against the system bsdtar (libarchive's independent ECMA-119 +
Rock Ridge implementation):

* our reader walks bsdtar-WRITTEN images (SP/RR/PX/NM/TF record layout,
  Joliet supplementary descriptor present and ignored);
* bsdtar lists and byte-extracts images OUR builder writes — including
  the RR-entry activation quirk (libarchive only honors NM names when an
  RR or ER entry marks the tree as Rock Ridge).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile

import pytest

from tika_wrap_spark.core.errors import ExtractError, payload_bytes
from tika_wrap_spark.core.isobin import (
    SECTOR,
    build_iso,
    build_iso_text,
    parse_iso,
)
from tika_wrap_spark.core.sniff import sniff_kind

_HAS_BSDTAR = shutil.which("bsdtar") is not None

ENTRIES = [
    ("a.txt", b"hello iso"),
    ("sub/b.log", b"nested payload " * 50),
    ("sub/deep/c.csv", b"x,y\n1,2\n"),
    ("mixed_Case-Name.txt", b"rock ridge preserves this name"),
]


def test_roundtrip():
    img = build_iso(ENTRIES)
    assert sorted(parse_iso(img)) == sorted(ENTRIES)


def test_text_bridge_roundtrip():
    wire = build_iso_text([("docs/r.txt", "text payload \xe9\xff")])
    assert parse_iso(payload_bytes(wire, "iso")) == [("docs/r.txt", b"text payload \xe9\xff")]


def test_sniff_routes_iso():
    img = build_iso_text([("a.txt", "x")])
    assert sniff_kind(img, "") == "iso"
    # signature one byte off must NOT route iso
    assert sniff_kind("\x00" * 32770 + "CD001", "") == "text"


def test_empty_file_member():
    img = build_iso([("empty.txt", b""), ("full.txt", b"x")])
    assert dict(parse_iso(img)) == {"empty.txt": b"", "full.txt": b"x"}


def test_many_members_spill_sectors():
    # enough records to roll the root directory across sector boundaries
    entries = [("file_%03d.txt" % i, b"payload %d" % i) for i in range(120)]
    img = build_iso(entries)
    assert sorted(parse_iso(img)) == sorted(entries)


def test_identifier_collisions_stay_unique():
    # same 8.3 identifier, distinct RR names
    entries = [
        ("averylongbasename_one.txt", b"1"),
        ("averylongbasename_two.txt", b"2"),
    ]
    img = build_iso(entries)
    assert sorted(parse_iso(img)) == sorted(entries)


def test_truncated_image_raises():
    img = build_iso(ENTRIES)
    with pytest.raises(ExtractError, match="iso:"):
        parse_iso(img[: 23 * SECTOR])
    with pytest.raises(ExtractError, match="iso: image shorter"):
        parse_iso(img[: 10 * SECTOR])


def test_bad_signature_raises():
    img = bytearray(build_iso(ENTRIES))
    img[16 * SECTOR + 1 : 16 * SECTOR + 6] = b"XD001"
    with pytest.raises(ExtractError, match="bad volume descriptor signature"):
        parse_iso(bytes(img))


def test_missing_terminator_raises():
    img = bytearray(build_iso(ENTRIES))
    img[17 * SECTOR] = 2  # terminator becomes a supplementary descriptor
    img[17 * SECTOR + 1 : 17 * SECTOR + 6] = b"CD001"
    with pytest.raises(ExtractError, match="iso:"):
        parse_iso(bytes(img))


@pytest.mark.skipif(not _HAS_BSDTAR, reason="no system bsdtar")
def test_bsdtar_reads_our_image():
    img = build_iso(ENTRIES)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "ours.iso")
        with open(path, "wb") as f:
            f.write(img)
        p = subprocess.run(["bsdtar", "-tf", path], capture_output=True, timeout=30)
        assert p.returncode == 0, p.stderr
        listed = set(p.stdout.decode().split())
        for name, _payload in ENTRIES:
            assert name in listed, (name, listed)
        for name, payload in ENTRIES:
            q = subprocess.run(
                ["bsdtar", "-xOf", path, name], capture_output=True, timeout=30
            )
            assert q.returncode == 0, q.stderr
            assert q.stdout == payload, name


@pytest.mark.skipif(not _HAS_BSDTAR, reason="no system bsdtar")
def test_we_read_bsdtar_image():
    with tempfile.TemporaryDirectory() as d:
        tree = os.path.join(d, "tree")
        os.makedirs(os.path.join(tree, "sub", "deep"))
        files = {
            "hello.txt": b"from the other side\n",
            "sub/data.csv": b"a,b\n1,2\n" * 40,
            "sub/deep/Notes-File.log": b"deep member",
        }
        for rel, payload in files.items():
            with open(os.path.join(tree, rel), "wb") as f:
                f.write(payload)
        path = os.path.join(d, "theirs.iso")
        p = subprocess.run(
            ["bsdtar", "-cf", path, "--format", "iso9660", "-C", tree]
            + list(files),
            capture_output=True,
            timeout=60,
        )
        assert p.returncode == 0, p.stderr
        with open(path, "rb") as f:
            img = f.read()
        assert sniff_kind(img.decode("latin-1"), "") == "iso"
        got = dict(parse_iso(img))
        assert got == files, (sorted(got), sorted(files))
