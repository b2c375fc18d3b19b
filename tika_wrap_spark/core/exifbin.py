"""EXIF (JPEG APP1 / TIFF IFD) metadata parse + build — pure stdlib.

The reference declares ``exiftool`` as a runtime dependency
(/root/reference/README.md:19): Tika surfaces camera metadata (orientation,
timestamps, GPS) for every JPEG it touches. The rebuild walks the APP1
segment natively: TIFF byte-order header, IFD0, the Exif sub-IFD and the
GPS sub-IFD, decoding ASCII / SHORT / LONG / RATIONAL values. Corrupt or
absent EXIF yields ``{}`` — metadata is best-effort, never a parse failure.

Spec: JEITA CP-3451 (Exif 2.3) + TIFF 6.0. Only the tags a data pipeline
keys on are surfaced (make/model/orientation/timestamps/pixel dims/GPS);
unknown tags are skipped structurally (type-size walk), not errors.
"""

from __future__ import annotations

import struct

_EXIF_HEADER = b"Exif\x00\x00"

# TIFF value type -> byte size
_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8}

_IFD0_TAGS = {0x010F: "make", 0x0110: "model", 0x0112: "orientation", 0x0132: "datetime"}
_EXIF_TAGS = {0x9003: "datetime_original", 0xA002: "pixel_x", 0xA003: "pixel_y"}
_EXIF_IFD_PTR = 0x8769
_GPS_IFD_PTR = 0x8825


def _read_ifd(data: bytes, off: int, le: bool) -> list[tuple[int, int, int, bytes]]:
    """Return raw IFD entries (tag, type, count, value_field). Bounds-checked;
    truncation returns the entries read so far."""
    fmt = "<" if le else ">"
    if off + 2 > len(data):
        return []
    (n,) = struct.unpack_from(fmt + "H", data, off)
    entries = []
    for i in range(n):
        eoff = off + 2 + 12 * i
        if eoff + 12 > len(data):
            break
        tag, typ = struct.unpack_from(fmt + "HH", data, eoff)
        (count,) = struct.unpack_from(fmt + "I", data, eoff + 4)
        entries.append((tag, typ, count, data[eoff + 8 : eoff + 12]))
    return entries


def _value(data: bytes, typ: int, count: int, field: bytes, le: bool):
    """Decode one entry's value (scalar, string, or tuple of rationals)."""
    fmt = "<" if le else ">"
    size = _TYPE_SIZE.get(typ)
    if size is None or count <= 0 or count > 4096:
        return None
    total = size * count
    if total <= 4:
        buf = field[:total]
    else:
        (off,) = struct.unpack(fmt + "I", field)
        if off + total > len(data):
            return None
        buf = data[off : off + total]
    if typ == 2:  # ASCII, NUL-terminated
        return buf.split(b"\x00", 1)[0].decode("latin-1")
    if typ == 3:
        return struct.unpack(fmt + "%dH" % count, buf)[0] if count == 1 else struct.unpack(fmt + "%dH" % count, buf)
    if typ in (4, 9):
        code = "i" if typ == 9 else "I"
        vals = struct.unpack(fmt + "%d%s" % (count, code), buf)
        return vals[0] if count == 1 else vals
    if typ in (5, 10):  # (S)RATIONAL pairs
        code = "i" if typ == 10 else "I"
        flat = struct.unpack(fmt + "%d%s" % (2 * count, code), buf)
        pairs = tuple((flat[2 * i], flat[2 * i + 1]) for i in range(count))
        return pairs[0] if count == 1 else pairs
    if typ in (1, 6, 7):
        return buf[0] if count == 1 else tuple(buf)
    return None


# public aliases: the whole-file TIFF parser (core/media.py tiff_info /
# tiff_pixels) walks the same IFD structure a JPEG APP1 body carries —
# one implementation, per the shared-core invariant
read_ifd = _read_ifd
read_ifd_value = _value


def _gps_degrees(rats, ref: str) -> str:
    """Three rationals (deg, min, sec) + hemisphere ref -> signed decimal
    degrees as a fixed-format string."""
    try:
        if isinstance(rats[0], int):  # single rational came back as (n, d)
            rats = (rats,)
        parts = []
        for num, den in rats[:3]:
            parts.append(num / den if den else 0.0)
        while len(parts) < 3:
            parts.append(0.0)
        deg = parts[0] + parts[1] / 60.0 + parts[2] / 3600.0
        if ref in ("S", "W"):
            deg = -deg
        return "%.6f" % deg
    except (TypeError, IndexError, ZeroDivisionError):
        return ""


def parse_exif_tiff(tiff: bytes) -> dict[str, str]:
    """Parse a TIFF-structured EXIF block (the APP1 body past 'Exif\\0\\0').
    Returns flat string metadata; {} on any structural problem."""
    try:
        if len(tiff) < 8:
            return {}
        if tiff[:4] == b"II*\x00":
            le = True
        elif tiff[:4] == b"MM\x00*":
            le = False
        else:
            return {}
        fmt = "<" if le else ">"
        (ifd0_off,) = struct.unpack_from(fmt + "I", tiff, 4)
        out: dict[str, str] = {}
        exif_off = gps_off = None
        for tag, typ, count, field in _read_ifd(tiff, ifd0_off, le):
            if tag in _IFD0_TAGS:
                v = _value(tiff, typ, count, field, le)
                if v is not None:
                    out[_IFD0_TAGS[tag]] = str(v)
            elif tag == _EXIF_IFD_PTR:
                exif_off = _value(tiff, typ, count, field, le)
            elif tag == _GPS_IFD_PTR:
                gps_off = _value(tiff, typ, count, field, le)
        if isinstance(exif_off, int):
            for tag, typ, count, field in _read_ifd(tiff, exif_off, le):
                if tag in _EXIF_TAGS:
                    v = _value(tiff, typ, count, field, le)
                    if v is not None:
                        out[_EXIF_TAGS[tag]] = str(v)
        if isinstance(gps_off, int):
            gps: dict[int, object] = {}
            for tag, typ, count, field in _read_ifd(tiff, gps_off, le):
                if tag in (1, 2, 3, 4):
                    gps[tag] = _value(tiff, typ, count, field, le)
            if 2 in gps and gps[2] is not None:
                lat = _gps_degrees(gps[2], str(gps.get(1, "N")))
                if lat:
                    out["gps_lat"] = lat
            if 4 in gps and gps[4] is not None:
                lon = _gps_degrees(gps[4], str(gps.get(3, "E")))
                if lon:
                    out["gps_lon"] = lon
        return out
    except (struct.error, ValueError, TypeError):
        return {}


def jpeg_exif(data: bytes) -> dict[str, str]:
    """Walk a JPEG marker stream and parse the first APP1/Exif segment.
    {} for non-JPEG input, no APP1, or corrupt EXIF — never raises."""
    n = len(data)
    if n < 4 or data[:2] != b"\xff\xd8":
        return {}
    i = 2
    while i + 4 <= n:
        if data[i] != 0xFF:
            return {}
        marker = data[i + 1]
        if marker == 0xFF:
            i += 1
            continue
        if 0xD0 <= marker <= 0xD9 or marker == 0x01:  # standalone
            if marker == 0xD9:
                return {}
            i += 2
            continue
        if marker == 0xDA:  # scan data: EXIF must precede it
            return {}
        (seg_len,) = struct.unpack_from(">H", data, i + 2)
        if seg_len < 2:
            return {}
        body = data[i + 4 : i + 2 + seg_len]
        if marker == 0xE1 and body.startswith(_EXIF_HEADER):
            return parse_exif_tiff(body[len(_EXIF_HEADER) :])
        i += 2 + seg_len
    return {}


# ---------------------------------------------------------------------------
# builder (corpus/fixtures side): a real little-endian TIFF with IFD0 +
# Exif IFD + GPS IFD, value area packed after the directories
# ---------------------------------------------------------------------------


def _deg_to_rats(deg: float) -> tuple[tuple[int, int], tuple[int, int], tuple[int, int]]:
    deg = abs(deg)
    d = int(deg)
    m_f = (deg - d) * 60.0
    m = int(m_f)
    s_centi = int(round((m_f - m) * 60.0 * 100))
    return ((d, 1), (m, 1), (s_centi, 100))


def build_exif_app1(
    make: str = "",
    model: str = "",
    orientation: int = 0,
    datetime: str = "",
    datetime_original: str = "",
    pixel_x: int = 0,
    pixel_y: int = 0,
    gps: tuple[float, float] | None = None,
) -> bytes:
    """Build a complete APP1 segment (marker + length + Exif TIFF body)."""

    class _Ifd:
        def __init__(self) -> None:
            self.entries: list[tuple[int, int, int, bytes | None, bytes]] = []

        def add(self, tag: int, typ: int, count: int, packed: bytes) -> None:
            if len(packed) <= 4:
                self.entries.append((tag, typ, count, None, packed.ljust(4, b"\x00")))
            else:
                self.entries.append((tag, typ, count, packed, b""))

        def ascii(self, tag: int, s: str) -> None:
            self.add(tag, 2, len(s) + 1, s.encode("latin-1") + b"\x00")

        def short(self, tag: int, v: int) -> None:
            self.add(tag, 3, 1, struct.pack("<H", v))

        def long(self, tag: int, v: int) -> None:
            self.add(tag, 4, 1, struct.pack("<I", v))

        def rationals(self, tag: int, pairs) -> None:
            packed = b"".join(struct.pack("<II", n, d) for n, d in pairs)
            self.add(tag, 5, len(pairs), packed)

    ifd0, exif, gpsifd = _Ifd(), _Ifd(), _Ifd()
    if make:
        ifd0.ascii(0x010F, make)
    if model:
        ifd0.ascii(0x0110, model)
    if orientation:
        ifd0.short(0x0112, orientation)
    if datetime:
        ifd0.ascii(0x0132, datetime)
    if datetime_original:
        exif.ascii(0x9003, datetime_original)
    if pixel_x:
        exif.long(0xA002, pixel_x)
    if pixel_y:
        exif.long(0xA003, pixel_y)
    if gps is not None:
        lat, lon = gps
        gpsifd.ascii(1, "S" if lat < 0 else "N")
        gpsifd.rationals(2, _deg_to_rats(lat))
        gpsifd.ascii(3, "W" if lon < 0 else "E")
        gpsifd.rationals(4, _deg_to_rats(lon))

    # layout: header(8) | IFD0 | ExifIFD | GPSIFD | value area
    n0 = len(ifd0.entries) + (1 if exif.entries else 0) + (1 if gpsifd.entries else 0)
    ifd0_off = 8
    exif_ifd_off = ifd0_off + 2 + 12 * n0 + 4
    gps_ifd_off = exif_ifd_off + (
        2 + 12 * len(exif.entries) + 4 if exif.entries else 0
    )
    data_off = gps_ifd_off + (2 + 12 * len(gpsifd.entries) + 4 if gpsifd.entries else 0)

    data_area = bytearray()

    def render(ifd: _Ifd, extra: list[tuple[int, int]]) -> bytes:
        rows = []
        for tag, typ, count, big, small in ifd.entries:
            if big is None:
                rows.append((tag, typ, count, small))
            else:
                off = data_off + len(data_area)
                data_area.extend(big)
                if len(big) % 2:
                    data_area.append(0)
                rows.append((tag, typ, count, struct.pack("<I", off)))
        for tag, off in extra:
            rows.append((tag, 4, 1, struct.pack("<I", off)))
        rows.sort(key=lambda r: r[0])
        out = struct.pack("<H", len(rows))
        for tag, typ, count, field in rows:
            out += struct.pack("<HHI", tag, typ, count) + field
        return out + b"\x00\x00\x00\x00"  # next-IFD pointer: none

    extra0: list[tuple[int, int]] = []
    if exif.entries:
        extra0.append((_EXIF_IFD_PTR, exif_ifd_off))
    if gpsifd.entries:
        extra0.append((_GPS_IFD_PTR, gps_ifd_off))
    # render order matters: IFD0 first so sub-IFD value offsets line up
    body0 = render(ifd0, extra0)
    body_exif = render(exif, []) if exif.entries else b""
    body_gps = render(gpsifd, []) if gpsifd.entries else b""
    tiff = b"II*\x00" + struct.pack("<I", ifd0_off) + body0 + body_exif + body_gps + bytes(data_area)
    payload = _EXIF_HEADER + tiff
    return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload
