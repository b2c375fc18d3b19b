"""Real PK-zip binary container parsing: local file headers, central
directory walk, stored + deflate members — pure stdlib (struct + zlib).

The reference's demo feeds two literal ``.zip`` archives among its five
smoke inputs (/root/reference/example/demo1.cpp:48-49) and delegates their
parsing to Tika; the rebuild parses the real binary format natively. Layout
per the public PKWARE APPNOTE:

    [local header PK\\x03\\x04 + member data] ...
    [central directory: PK\\x01\\x02 records]
    [end of central directory: PK\\x05\\x06]

Parsing is central-directory-driven (the authoritative index — sizes and
CRCs there are valid even for streamed writers that used data descriptors):
find the EOCD from the tail, walk the central records, seek each local
header to locate member data, inflate/copy, and verify length + CRC32.
Malformed archives (no EOCD, bad record magic, truncated data, unsupported
compression, CRC mismatch) raise :class:`ExtractError`, which the extraction
core converts to a ``parse_ok=false`` row — never a task failure.

Payloads travel through the engine as bytes-as-text (one char per byte,
latin-1): the extraction core converts the archive once
(:func:`core.errors.payload_bytes`) and decodes each member's bytes back
to latin-1 text so content sniffing routes members exactly like any other
payload.
"""

from __future__ import annotations

import struct
import zlib

from tika_wrap_spark.core.errors import ExtractError, inflate

LOCAL_MAGIC = b"PK\x03\x04"
CENTRAL_MAGIC = b"PK\x01\x02"
EOCD_MAGIC = b"PK\x05\x06"
EOCD64_MAGIC = b"PK\x06\x06"
EOCD64_LOC_MAGIC = b"PK\x06\x07"
DESCRIPTOR_MAGIC = b"PK\x07\x08"

# flag bit 3: sizes/CRC live in a data descriptor AFTER the member data
# (streamed writers); the central directory stays the parse authority
_FLAG_DESCRIPTOR = 0x0008

_U32_MAX = 0xFFFFFFFF
_U16_MAX = 0xFFFF

_EOCD_LEN = 22  # fixed EOCD size without trailing comment
_CENTRAL_LEN = 46  # fixed central-record size without variable fields
_LOCAL_LEN = 30  # fixed local-header size without variable fields

# DOS timestamp 1980-01-01 00:00:00 — the deterministic epoch every build
# stamps (archives must be byte-identical for a given member list).
_DOS_DATE = (0, 0x21)

METHOD_STORED = 0
METHOD_DEFLATE = 8

# flag bit 11: member name is UTF-8 (else cp437 per the spec)
_FLAG_UTF8 = 0x800


def parse_zip(data: bytes) -> list[tuple[str, bytes]]:
    """Parse one zip archive into ``[(name, payload_bytes), ...]`` in
    central-directory order. Raises ExtractError on any malformation."""
    n = len(data)
    if n < _EOCD_LEN:
        raise ExtractError("zip: too short for end-of-central-directory")
    # EOCD sits at the tail, possibly followed by a <=64k comment: scan back
    scan_from = max(0, n - _EOCD_LEN - 0xFFFF)
    eocd = data.rfind(EOCD_MAGIC, scan_from)
    if eocd == -1 or eocd + _EOCD_LEN > n:
        raise ExtractError("zip: no end-of-central-directory record")
    (_disk, _cd_disk, _n_disk, n_total, cd_size, cd_off, _comment_len) = struct.unpack(
        "<HHHHIIH", data[eocd + 4 : eocd + _EOCD_LEN]
    )
    if n_total == _U16_MAX or cd_off == _U32_MAX or cd_size == _U32_MAX:
        # zip64: sentinel fields point through the EOCD64 locator (PK\x06\x07,
        # fixed 20 bytes immediately before the EOCD) to the EOCD64 record
        loc = eocd - 20
        if loc < 0 or data[loc : loc + 4] != EOCD64_LOC_MAGIC:
            raise ExtractError("zip: zip64 sentinel without EOCD64 locator")
        (_l_disk, eocd64_off, _l_ndisks) = struct.unpack("<IQI", data[loc + 4 : loc + 20])
        if eocd64_off + 56 > n or data[eocd64_off : eocd64_off + 4] != EOCD64_MAGIC:
            raise ExtractError("zip: bad EOCD64 record")
        (
            _size64,
            _ver_made64,
            _ver_need64,
            _disk64,
            _cd_disk64,
            _n_disk64,
            n_total,
            cd_size,
            cd_off,
        ) = struct.unpack("<QHHIIQQQQ", data[eocd64_off + 4 : eocd64_off + 56])
        if n_total > 10_000_000:
            raise ExtractError("zip: zip64 member count exceeds cap")
    entries: list[tuple[str, bytes]] = []
    inflated = 0  # the members' share of the one decompression budget
    pos = cd_off
    for _ in range(n_total):
        if pos + _CENTRAL_LEN > n or data[pos : pos + 4] != CENTRAL_MAGIC:
            raise ExtractError("zip: bad central-directory record at %d" % pos)
        (
            _ver_made,
            _ver_need,
            flags,
            method,
            _mtime,
            _mdate,
            crc,
            csize,
            usize,
            name_len,
            extra_len,
            comment_len,
            _disk_start,
            _int_attr,
            _ext_attr,
            local_off,
        ) = struct.unpack("<HHHHHHIIIHHHHHII", data[pos + 4 : pos + _CENTRAL_LEN])
        name_end = pos + _CENTRAL_LEN + name_len
        if name_end > n:
            raise ExtractError("zip: truncated central-directory name")
        name_b = data[pos + _CENTRAL_LEN : name_end]
        try:
            name = name_b.decode("utf-8" if flags & _FLAG_UTF8 else "cp437")
        except UnicodeDecodeError:
            raise ExtractError("zip: undecodable member name")
        if _U32_MAX in (csize, usize, local_off):
            usize, csize, local_off = _zip64_extra(
                data[name_end : name_end + extra_len], usize, csize, local_off, name
            )
        pos = name_end + extra_len + comment_len

        # local header locates the data (its name/extra lengths may differ
        # from the central record's — always re-read them here)
        lh = local_off
        if lh + _LOCAL_LEN > n or data[lh : lh + 4] != LOCAL_MAGIC:
            raise ExtractError("zip: bad local header for %r" % name[:40])
        l_name_len, l_extra_len = struct.unpack("<HH", data[lh + 26 : lh + 30])
        start = lh + _LOCAL_LEN + l_name_len + l_extra_len
        raw = data[start : start + csize]
        if len(raw) != csize:
            raise ExtractError("zip: truncated member data in %r" % name[:40])
        if method == METHOD_STORED:
            if csize != usize:
                raise ExtractError("zip: stored member size mismatch in %r" % name[:40])
            payload = raw
        elif method == METHOD_DEFLATE:
            # one byte past the declared size at most, and the stream must end
            d = zlib.decompressobj(-15)  # raw deflate, no zlib header
            payload = inflate("zip", d, raw, inflated, usize)
            inflated += len(payload)
            if len(payload) == usize and not d.eof:
                raise ExtractError("zip: truncated deflate stream in %r" % name[:40])
        else:
            raise ExtractError("zip: unsupported compression method %d" % method)
        if len(payload) != usize:
            raise ExtractError("zip: inflated size mismatch in %r" % name[:40])
        if zlib.crc32(payload) & 0xFFFFFFFF != crc:
            raise ExtractError("zip: crc mismatch in %r" % name[:40])
        entries.append((name, payload))
    return entries


def _zip64_extra(
    extra: bytes, usize: int, csize: int, local_off: int, name: str
) -> tuple[int, int, int]:
    """Resolve 0xFFFFFFFF sentinel fields from the central record's zip64
    extended-information extra field (header id 0x0001; only sentinel
    fields are present, in usize/csize/offset order per the APPNOTE)."""
    p = 0
    while p + 4 <= len(extra):
        hid, hlen = struct.unpack("<HH", extra[p : p + 4])
        body = extra[p + 4 : p + 4 + hlen]
        if hid == 0x0001:
            q = 0
            try:
                if usize == _U32_MAX:
                    usize = struct.unpack("<Q", body[q : q + 8])[0]
                    q += 8
                if csize == _U32_MAX:
                    csize = struct.unpack("<Q", body[q : q + 8])[0]
                    q += 8
                if local_off == _U32_MAX:
                    local_off = struct.unpack("<Q", body[q : q + 8])[0]
                    q += 8
            except struct.error:
                raise ExtractError("zip: short zip64 extra in %r" % name[:40])
            return usize, csize, local_off
        p += 4 + hlen
    raise ExtractError("zip: zip64 sentinel without extended-info extra in %r" % name[:40])


def build_zip(
    entries: list[tuple[str, bytes]],
    deflate: bool | list[bool] = False,
    zip64: bool = False,
    data_descriptor: bool = False,
) -> bytes:
    """Serialize ``(name, payload_bytes)`` members into a deterministic zip
    archive (fixed 1980 DOS timestamp, UTF-8 names). ``deflate`` is one flag
    for all members or a per-member list. ``zip64=True`` writes sentinel
    EOCD fields + an EOCD64 record/locator AND per-member zip64 extras with
    sentinel local-header offsets — the >65535-member / >4 GiB layout.
    ``data_descriptor=True`` writes streamed-writer members: flag bit 3,
    zeroed local crc/sizes, and a PK\\x07\\x08 descriptor after the data
    (central records keep real values — the parse authority)."""
    flags_per = deflate if isinstance(deflate, list) else [deflate] * len(entries)
    out: list[bytes] = []
    central: list[bytes] = []
    off = 0
    mtime, mdate = _DOS_DATE
    gflags = _FLAG_UTF8 | (_FLAG_DESCRIPTOR if data_descriptor else 0)
    for (name, payload), do_deflate in zip(entries, flags_per):
        name_b = name.encode("utf-8")
        crc = zlib.crc32(payload) & 0xFFFFFFFF
        if do_deflate:
            c = zlib.compressobj(9, zlib.DEFLATED, -15)
            raw = c.compress(payload) + c.flush()
            method = METHOD_DEFLATE
        else:
            raw = payload
            method = METHOD_STORED
        l_crc, l_csize, l_usize = (
            (0, 0, 0) if data_descriptor else (crc, len(raw), len(payload))
        )
        local = (
            LOCAL_MAGIC
            + struct.pack(
                "<HHHHHIIIHH",
                20,
                gflags,
                method,
                mtime,
                mdate,
                l_crc,
                l_csize,
                l_usize,
                len(name_b),
                0,
            )
            + name_b
            + raw
        )
        if data_descriptor:
            local += DESCRIPTOR_MAGIC + struct.pack("<III", crc, len(raw), len(payload))
        if zip64:
            extra = struct.pack("<HHQ", 0x0001, 8, off)
            c_off, c_extra = _U32_MAX, extra
        else:
            c_off, c_extra = off, b""
        central.append(
            CENTRAL_MAGIC
            + struct.pack(
                "<HHHHHHIIIHHHHHII",
                45 if zip64 else 20,
                45 if zip64 else 20,
                gflags,
                method,
                mtime,
                mdate,
                crc,
                len(raw),
                len(payload),
                len(name_b),
                len(c_extra),
                0,
                0,
                0,
                0,
                c_off,
            )
            + name_b
            + c_extra
        )
        out.append(local)
        off += len(local)
    cd = b"".join(central)
    if not zip64:
        eocd = EOCD_MAGIC + struct.pack(
            "<HHHHIIH", 0, 0, len(entries), len(entries), len(cd), off, 0
        )
        return b"".join(out) + cd + eocd
    eocd64_off = off + len(cd)
    eocd64 = EOCD64_MAGIC + struct.pack(
        "<QHHIIQQQQ", 44, 45, 45, 0, 0, len(entries), len(entries), len(cd), off
    )
    locator = EOCD64_LOC_MAGIC + struct.pack("<IQI", 0, eocd64_off, 1)
    eocd = EOCD_MAGIC + struct.pack(
        "<HHHHIIH",
        0,
        0,
        min(len(entries), _U16_MAX),
        _U16_MAX,
        _U32_MAX,
        _U32_MAX,
        0,
    )
    return b"".join(out) + cd + eocd64 + locator + eocd


def build_zip_text(
    entries: list[tuple[str, str]],
    deflate: bool | list[bool] = False,
    zip64: bool = False,
    data_descriptor: bool = False,
) -> str:
    """Build a real zip archive from text members, returned bytes-as-text."""
    return build_zip(
        [(name, payload.encode("latin-1")) for name, payload in entries],
        deflate,
        zip64=zip64,
        data_descriptor=data_descriptor,
    ).decode("latin-1")
