"""EXIF APP1 walk (core/exifbin.py) — the native analog of the reference's
exiftool runtime dependency (/root/reference/README.md:19)."""

from __future__ import annotations

import random
import struct

from tika_wrap_spark.core.exifbin import (
    build_exif_app1,
    jpeg_exif,
    parse_exif_tiff,
)
from tika_wrap_spark.core.extract import extract_document
from tika_wrap_spark.core.media import build_jpeg, jpeg_dims


def _full_exif_jpeg() -> bytes:
    return build_jpeg(
        800,
        600,
        exif={
            "make": "TwcCam",
            "model": "X100",
            "orientation": 6,
            "datetime": "2025:03:01 10:20:30",
            "datetime_original": "2025:03:01 10:20:29",
            "pixel_x": 800,
            "pixel_y": 600,
            "gps": (35.6895, -139.6917),
        },
    )


class TestExif:
    def test_full_roundtrip(self):
        tags = jpeg_exif(_full_exif_jpeg())
        assert tags["make"] == "TwcCam" and tags["model"] == "X100"
        assert tags["orientation"] == "6"
        assert tags["datetime"] == "2025:03:01 10:20:30"
        assert tags["datetime_original"] == "2025:03:01 10:20:29"
        assert tags["pixel_x"] == "800" and tags["pixel_y"] == "600"
        # GPS decimal degrees, signed by hemisphere ref, second-precision
        assert abs(float(tags["gps_lat"]) - 35.6895) < 1e-3
        assert abs(float(tags["gps_lon"]) + 139.6917) < 1e-3

    def test_exif_jpeg_still_header_parseable(self):
        assert jpeg_dims(_full_exif_jpeg()) == (800, 600)

    def test_no_app1_yields_empty(self):
        assert jpeg_exif(build_jpeg(64, 64)) == {}

    def test_non_jpeg_and_corrupt_never_raise(self):
        assert jpeg_exif(b"") == {}
        assert jpeg_exif(b"\x89PNG\r\n\x1a\n") == {}
        assert parse_exif_tiff(b"garbage") == {}
        j = _full_exif_jpeg()
        for cut in (3, 9, 17, 31, len(j) // 2):
            assert isinstance(jpeg_exif(j[:cut]), dict)  # never raises

    def test_fuzz_corrupt_bytes(self):
        rng = random.Random(99)
        j = bytearray(_full_exif_jpeg())
        for _ in range(200):
            k = rng.randrange(len(j))
            old = j[k]
            j[k] = rng.randrange(256)
            out = jpeg_exif(bytes(j))
            assert isinstance(out, dict)
            j[k] = old

    def test_big_endian_tiff(self):
        # hand-built MM body: orientation=3 (inline SHORT)
        tiff = (
            b"MM\x00*" + struct.pack(">I", 8)
            + struct.pack(">H", 1)
            + struct.pack(">HHI", 0x0112, 3, 1) + struct.pack(">H", 3) + b"\x00\x00"
            + b"\x00\x00\x00\x00"
        )
        assert parse_exif_tiff(tiff) == {"orientation": "3"}

    def test_extract_meta_surfaces_first_member_exif(self):
        from tika_wrap_spark.core.zipbin import build_zip_text

        member = _full_exif_jpeg().decode("latin-1")
        archive = build_zip_text([("cam/photo.jpg", member)])
        res = extract_document(
            [{"kind": "zip", "text": archive, "media_ref": "", "offset": 0}]
        )
        assert res["parse_ok"]
        assert res["meta"]["media1_w"] == "800"
        assert res["meta"]["media1_exif_orientation"] == "6"
        assert res["meta"]["media1_exif_datetime"] == "2025:03:01 10:20:30"

    def test_extract_meta_empty_without_exif(self):
        res = extract_document(
            [{"kind": "text", "text": "plain", "media_ref": "", "offset": 0}]
        )
        assert res["meta"]["media1_exif_orientation"] == ""

    def test_text_wrapper(self):
        jpeg = _full_exif_jpeg().decode("latin-1")
        res = extract_document([{"text": jpeg, "media_ref": ""}])
        assert res["meta"]["media1_exif_orientation"] == "6"
        # not a byte stream: the media span stays, without dims or exif
        res = extract_document([{"text": jpeg[:40] + "日本語" + jpeg[40:], "media_ref": ""}])
        assert res["parse_ok"] and res["meta"]["n_media"] == "1"
        assert res["meta"]["media1_w"] == res["meta"]["media1_exif_orientation"] == ""
