"""Apple binary property-list (bplist00) parsing — pure stdlib byte walk.

Property lists are the config/metadata sidecar format of every Apple
ecosystem crawl; the reference reaches them through Tika's ``PListParser``
(AutoParser endpoint, /root/reference/src/java-env.cpp:313). The rebuild
parses the documented binary layout natively (the format is specified in
Apple's published CFBinaryPList.c header comment), same discipline as
:mod:`core.sqlitebin` — hand-rolled reader, stdlib builder
(``plistlib.dumps(fmt=FMT_BINARY)``) so tests cross-validate the reader
against the reference implementation itself:

    magic     'bplist00'
    objects   marker-byte-typed values (high nibble = type, low nibble =
              count, 0xF -> a following int object carries the count)
    offsets   table of per-object file offsets (sized ints)
    trailer   32 bytes: offset-int size, object-ref size, object count,
              top-object index, offset-table position

Extraction flattens the object graph depth-first into ``keypath: value``
lines (dict keys sorted as stored, arrays indexed), one text block per
document — the Tika XHTML-table analog in plain-text form. Top-level dict
keys surface in the ``plist_keys`` meta key. Malformed payloads
(truncated trailer, out-of-range refs/offsets, unknown markers, cyclic
refs) raise :class:`ExtractError` -> ``parse_ok=false`` rows.

The extraction core hands it bytes (:func:`core.errors.payload_bytes`).
"""

from __future__ import annotations

import struct

from tika_wrap_spark.core.errors import ExtractError

PLIST_MAGIC = b"bplist00"

MAX_PLIST_OBJECTS = 65536  # runaway backstop far above any real payload


def _read_sized_int(data: bytes, pos: int, size: int) -> int:
    if pos + size > len(data):
        raise ExtractError("plist: sized int past end of payload")
    return int.from_bytes(data[pos : pos + size], "big")


class _Reader:
    def __init__(self, data: bytes):
        if len(data) < 40 or not data.startswith(PLIST_MAGIC):
            raise ExtractError("plist: missing bplist00 magic or too short")
        self.data = data
        trailer = data[-32:]
        (
            self.off_size,
            self.ref_size,
            self.n_objects,
            self.top,
            self.table_off,
        ) = struct.unpack(">6xBBQQQ", trailer)
        if not (1 <= self.off_size <= 8 and 1 <= self.ref_size <= 8):
            raise ExtractError("plist: bad trailer int sizes")
        if self.n_objects == 0 or self.n_objects > MAX_PLIST_OBJECTS:
            raise ExtractError("plist: object count out of range")
        if self.top >= self.n_objects:
            raise ExtractError("plist: top object index out of range")
        end = self.table_off + self.n_objects * self.off_size
        if end > len(data) - 32:
            raise ExtractError("plist: offset table overruns payload")
        self.offsets = [
            _read_sized_int(data, self.table_off + i * self.off_size, self.off_size)
            for i in range(self.n_objects)
        ]

    def _count(self, pos: int, low: int) -> tuple[int, int]:
        """Collection/scalar length from the marker's low nibble; 0xF means
        a following int object carries it. Returns (count, next_pos)."""
        if low != 0xF:
            return low, pos
        marker = self.data[pos]
        if marker >> 4 != 0x1:
            raise ExtractError("plist: length marker is not an int")
        size = 1 << (marker & 0xF)
        return _read_sized_int(self.data, pos + 1, size), pos + 1 + size

    def obj(self, ref: int, active: frozenset[int]) -> object:
        if ref >= self.n_objects:
            raise ExtractError("plist: object ref out of range")
        if ref in active:
            raise ExtractError("plist: cyclic object reference")
        pos = self.offsets[ref]
        if pos >= len(self.data) - 32:
            raise ExtractError("plist: object offset past end")
        marker = self.data[pos]
        kind, low = marker >> 4, marker & 0xF
        if kind == 0x0:  # null / bool / fill
            return {0x0: None, 0x8: False, 0x9: True}.get(low, None)
        if kind == 0x1:  # int, 2^low bytes
            size = 1 << low
            v = _read_sized_int(self.data, pos + 1, size)
            # bplist00: 1/2/4-byte ints are unsigned, 8+-byte ints signed
            if size >= 8 and v >= 1 << (size * 8 - 1):
                v -= 1 << (size * 8)
            return v
        if kind == 0x2:  # real, 2^low bytes
            size = 1 << low
            if pos + 1 + size > len(self.data):
                raise ExtractError("plist: real past end")
            raw = self.data[pos + 1 : pos + 1 + size]
            return struct.unpack(">f" if size == 4 else ">d", raw)[0]
        if kind == 0x3:  # date: 8-byte big-endian double (CF epoch seconds)
            if low != 0x3:
                raise ExtractError("plist: bad date marker")
            raw = self.data[pos + 1 : pos + 9]
            return "cfdate(%s)" % struct.unpack(">d", raw)[0]
        if kind == 0x4:  # data
            n, p = self._count(pos + 1, low)
            if p + n > len(self.data):
                raise ExtractError("plist: data run past end")
            return self.data[p : p + n]
        if kind == 0x5:  # ascii string
            n, p = self._count(pos + 1, low)
            if p + n > len(self.data):
                raise ExtractError("plist: string run past end")
            return self.data[p : p + n].decode("ascii", "replace")
        if kind == 0x6:  # utf-16be string, n CODEPOINTS
            n, p = self._count(pos + 1, low)
            if p + 2 * n > len(self.data):
                raise ExtractError("plist: unicode string run past end")
            return self.data[p : p + 2 * n].decode("utf-16-be", "replace")
        if kind == 0x8:  # uid (keyed-archiver plumbing)
            size = low + 1
            return "uid(%d)" % _read_sized_int(self.data, pos + 1, size)
        if kind in (0xA, 0xC):  # array / set (set order as stored)
            n, p = self._count(pos + 1, low)
            refs = [
                _read_sized_int(self.data, p + i * self.ref_size, self.ref_size)
                for i in range(n)
            ]
            sub = active | {ref}
            return [self.obj(r, sub) for r in refs]
        if kind == 0xD:  # dict: n key refs then n value refs
            n, p = self._count(pos + 1, low)
            kr = [
                _read_sized_int(self.data, p + i * self.ref_size, self.ref_size)
                for i in range(n)
            ]
            vr = [
                _read_sized_int(
                    self.data, p + (n + i) * self.ref_size, self.ref_size
                )
                for i in range(n)
            ]
            sub = active | {ref}
            return {self.obj(k, sub): self.obj(v, sub) for k, v in zip(kr, vr)}
        raise ExtractError("plist: unknown object marker 0x%02x" % marker)


def parse_bplist(data: bytes) -> object:
    """Binary plist bytes -> the python object graph (dict/list/str/int/
    float/bool/bytes/None). Raises ExtractError on any malformation."""
    r = _Reader(data)
    return r.obj(r.top, frozenset())


def _flatten(obj: object, path: str, out: list[str]) -> None:
    if isinstance(obj, dict):
        for k, v in obj.items():
            key = str(k)
            _flatten(v, path + "." + key if path else key, out)
    elif isinstance(obj, list):
        for i, v in enumerate(obj):
            _flatten(v, "%s[%d]" % (path, i), out)
    elif isinstance(obj, bytes):
        out.append("%s: <%d bytes>" % (path or "value", len(obj)))
    elif isinstance(obj, bool):
        out.append("%s: %s" % (path or "value", "true" if obj else "false"))
    elif obj is None:
        out.append("%s: null" % (path or "value"))
    else:
        out.append("%s: %s" % (path or "value", obj))


def plist_extract(data: bytes) -> tuple[str, str]:
    """bplist bytes -> (flattened_text_block, top_keys_csv).
    One ``keypath: value`` line per leaf, document order preserved."""
    obj = parse_bplist(data)
    lines: list[str] = []
    _flatten(obj, "", lines)
    keys = ",".join(str(k) for k in obj) if isinstance(obj, dict) else ""
    return "\n".join(lines), keys


def build_bplist(obj: object) -> bytes:
    """Builder twin: the stdlib reference implementation, so tests
    cross-validate the hand-rolled reader against CPython's plistlib."""
    import plistlib

    return plistlib.dumps(obj, fmt=plistlib.FMT_BINARY, sort_keys=False)
