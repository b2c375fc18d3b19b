"""ISO 9660 (ECMA-119) optical-disc image parsing — pure stdlib
byte-layout walk with SUSP/Rock Ridge name support, and a deterministic
builder twin.

The reference reads disc images through Tika's commons-compress/junrar
container family (AutoParser endpoint,
/root/reference/src/java-env.cpp:313-314); Apache Tika itself routes
``application/x-iso9660-image``. The rebuild parses the format natively,
the same discipline as :mod:`core.tarbin`/:mod:`core.arbin`:

* sectors 0-15: system area (zeros);
* sector 16..: volume descriptor set — type byte + ``CD001`` signature;
  the walk uses the PRIMARY descriptor (type 1) and stops at the
  terminator (type 255). A Joliet supplementary descriptor (type 2) may
  precede the terminator; it is deliberately ignored — Rock Ridge names
  from the primary tree carry the full identifier fidelity we need;
* directory records: 33-byte header + identifier (+ pad to even), with
  extent LBA / data length stored both-endian (LE read); flag bit 1
  marks directories; identifiers ``\\x00``/``\\x01`` are self/parent;
* SUSP system-use area after the identifier: an ``SP`` entry in the
  root's self record (with its skip count) activates processing; ``NM``
  entries (RRIP 4.1.4, continue-flag concatenation honored) override the
  8.3 identifier with the real name. ``PX``/``TF``/``RR``/``CE`` and
  unknown entries are skipped structurally.

Both directions are cross-validated against the system bsdtar
(libarchive's independent ISO implementation) in tests/test_isobin.py:
our reader walks bsdtar-written images (SP/RR/PX/NM/TF layout), and
bsdtar lists/extracts images this builder writes. libarchive honors NM
names only once an ``RR`` entry marks the tree, so the builder's root
``.`` record carries one.

Malformed images (missing PVD, record/extent overruns, cycles,
member bytes past ``core.errors.MAX_INFLATED``) raise :class:`ExtractError` ("iso:" prefix)
-> ``parse_ok=false`` rows, never task failures. The extraction core
hands it bytes (:func:`core.errors.payload_bytes`).
"""

from __future__ import annotations

import struct

from tika_wrap_spark.core.errors import MAX_INFLATED, ExtractError

SECTOR = 2048
MAX_MEMBERS = 4096
MAX_DIR_DEPTH = 16


def _le32(buf: bytes, off: int) -> int:
    return struct.unpack_from("<I", buf, off)[0]


def _susp_entries(su: bytes) -> list[tuple[bytes, bytes]]:
    """(signature, body) pairs from one system-use area; stops cleanly at
    padding / malformed tails (SUSP areas are best-effort by spec)."""
    out: list[tuple[bytes, bytes]] = []
    pos = 0
    n = len(su)
    while pos + 4 <= n:
        sig = su[pos : pos + 2]
        ln = su[pos + 2]
        if not (65 <= sig[0] <= 90 and 65 <= sig[1] <= 90) or ln < 4:
            break  # padding or garbage — end of usable area
        if pos + ln > n:
            break
        out.append((sig, su[pos + 4 : pos + ln]))
        pos += ln
    return out


def _rr_name(su: bytes) -> str | None:
    """Rock Ridge NM name, concatenating continue-flagged pieces."""
    pieces: list[str] = []
    more = False
    for sig, body in _susp_entries(su):
        if sig == b"NM" and body:
            flags = body[0]
            if flags & 0x06:  # CURRENT/PARENT dot-entries — not a name
                return None
            pieces.append(body[1:].decode("utf-8", "replace"))
            more = bool(flags & 0x01)
            if not more:
                break
    if not pieces:
        return None
    return "".join(pieces)


def parse_iso(data: bytes) -> list[tuple[str, bytes]]:
    """Parse an ISO 9660 image into ``[(slash-joined path, payload_bytes),
    ...]`` in directory-record order (depth-first). Raises ExtractError on
    any malformation."""
    n = len(data)
    if n < 17 * SECTOR:
        raise ExtractError("iso: image shorter than the volume descriptor set")
    pvd = None
    for s in range(16, min(16 + 32, n // SECTOR)):
        off = s * SECTOR
        vtype = data[off]
        if data[off + 1 : off + 6] != b"CD001":
            raise ExtractError("iso: bad volume descriptor signature at sector %d" % s)
        if vtype == 1 and pvd is None:
            pvd = data[off : off + SECTOR]
        if vtype == 255:
            break
    else:
        raise ExtractError("iso: unterminated volume descriptor set")
    if pvd is None:
        raise ExtractError("iso: no primary volume descriptor")
    block = struct.unpack_from("<H", pvd, 128)[0]
    if block != SECTOR:
        raise ExtractError("iso: unsupported logical block size %d" % block)
    root = pvd[156:190]
    if root[0] < 34:
        raise ExtractError("iso: bad root directory record")

    entries: list[tuple[str, bytes]] = []
    total = 0
    visited: set[int] = set()
    susp_skip = [0]  # discovered from the root SP entry

    def walk(lba: int, size: int, prefix: str, depth: int, is_root: bool) -> None:
        nonlocal total
        if depth > MAX_DIR_DEPTH:
            raise ExtractError("iso: directory nesting exceeds %d" % MAX_DIR_DEPTH)
        if lba in visited:
            raise ExtractError("iso: directory extent cycle at block %d" % lba)
        visited.add(lba)
        start = lba * SECTOR
        if start + size > n:
            raise ExtractError("iso: directory extent overruns image")
        d = data[start : start + size]
        pos = 0
        first = True
        while pos < len(d):
            ln = d[pos]
            if ln == 0:
                # end of records in this sector — resume at the next one
                pos = (pos // SECTOR + 1) * SECTOR
                continue
            if pos + ln > len(d) or ln < 34:
                raise ExtractError("iso: directory record overruns extent")
            rec = d[pos : pos + ln]
            pos += ln
            id_len = rec[32]
            if 33 + id_len > ln:
                raise ExtractError("iso: identifier overruns record")
            ident = rec[33 : 33 + id_len]
            su_off = 33 + id_len + (1 - id_len % 2)
            su = rec[su_off:]
            if is_root and first and ident == b"\x00":
                for sig, body in _susp_entries(su):
                    if sig == b"SP" and len(body) >= 3:
                        susp_skip[0] = body[2]
            first = False
            if ident in (b"\x00", b"\x01"):
                continue
            su = su[susp_skip[0] :]
            name = _rr_name(su)
            if name is None:
                name = ident.decode("latin-1")
                if ";" in name:
                    name = name.split(";", 1)[0]
            flags = rec[25]
            extent = _le32(rec, 2)
            length = _le32(rec, 10)
            child_path = prefix + name
            if flags & 0x02:
                walk(extent, length, child_path + "/", depth + 1, False)
            else:
                if len(entries) >= MAX_MEMBERS:
                    raise ExtractError("iso: more than %d members" % MAX_MEMBERS)
                fstart = extent * SECTOR
                if fstart + length > n:
                    raise ExtractError(
                        "iso: file extent overruns image (%s)" % child_path
                    )
                total += length
                if total > MAX_INFLATED:
                    raise ExtractError("iso: member bytes exceed %d" % MAX_INFLATED)
                entries.append((child_path, data[fstart : fstart + length]))

    walk(_le32(root, 2), _le32(root, 10), "", 0, True)
    return entries


# ---------------------------------------------------------------- builder


def _both16(v: int) -> bytes:
    return struct.pack("<H", v) + struct.pack(">H", v)


def _both32(v: int) -> bytes:
    return struct.pack("<I", v) + struct.pack(">I", v)


# fixed deterministic recording date (7-byte directory-record form)
_REC_DATE = bytes([120, 1, 1, 0, 0, 0, 0])  # 2020-01-01 00:00:00 GMT


def _iso_identifier(name: str, is_dir: bool, taken: set[bytes]) -> bytes:
    """ECMA-119 level-1-ish identifier: d-characters, 8(.3), unique within
    the directory; the real name rides the Rock Ridge NM entry."""

    def dchar(c: str) -> str:
        c = c.upper()
        return c if c.isascii() and (c.isalnum() or c == "_") else "_"

    if is_dir or "." not in name:
        base, ext = name, ""
    else:
        base, ext = name.rsplit(".", 1)
    base8 = "".join(dchar(c) for c in base)[:8] or "_"
    ext3 = "".join(dchar(c) for c in ext)[:3]
    for i in range(100):
        b = base8 if i == 0 else (base8[: 8 - len(str(i))] + str(i))
        ident = b + (("." + ext3) if ext3 else "")
        if not is_dir:
            ident += ";1"
        bid = ident.encode("ascii")
        if bid not in taken:
            taken.add(bid)
            return bid
    raise ExtractError("iso: cannot derive a unique identifier for %r" % name)


def _susp(sig: bytes, body: bytes) -> bytes:
    return sig + bytes([4 + len(body), 1]) + body


def _dir_record(
    ident: bytes, extent: int, size: int, is_dir: bool, su: bytes
) -> bytes:
    base = 33 + len(ident)
    pad = b"" if len(ident) % 2 else b"\x00"
    ln = base + len(pad) + len(su)
    rec = (
        bytes([ln, 0])
        + _both32(extent)
        + _both32(size)
        + _REC_DATE
        + bytes([0x02 if is_dir else 0x00, 0, 0])
        + _both16(1)
        + bytes([len(ident)])
        + ident
        + pad
        + su
    )
    assert len(rec) == ln
    return rec


def build_iso(entries: list[tuple[str, bytes]]) -> bytes:
    """Serialize ``[(path, payload_bytes), ...]`` as a minimal-but-valid
    ISO 9660 image: PVD + terminator, L/M path tables, directory extents
    with SUSP ``SP`` + Rock Ridge ``NM`` names, file extents. Nested paths
    ('a/b.txt') create subdirectories. Deterministic for fixed input."""
    # directory tree: dirpath -> {name: payload | subdir marker}
    dirs: dict[str, list[str]] = {"": []}  # dirpath -> child dir names
    files: dict[str, list[tuple[str, bytes]]] = {"": []}
    for path, payload in entries:
        parts = [p for p in path.split("/") if p]
        if not parts:
            raise ExtractError("iso: empty member path")
        cur = ""
        for d in parts[:-1]:
            nxt = cur + d + "/"
            if nxt not in dirs:
                dirs[nxt] = []
                files[nxt] = []
                dirs[cur].append(d)
            cur = nxt
        files[cur].append((parts[-1], payload))

    # BFS order for path tables; root first
    order: list[str] = [""]
    i = 0
    while i < len(order):
        cur = order[i]
        for d in sorted(dirs[cur]):
            order.append(cur + d + "/")
        i += 1
    parent_idx = {"": 1}
    for idx, dp in enumerate(order, start=1):
        for d in sorted(dirs[dp]):
            parent_idx[dp + d + "/"] = idx

    # sector layout: 0-15 system area, 16 PVD, 17 terminator, 18 L path
    # table, 19 M path table, then one pass assigning directory extents,
    # then file extents
    next_lba = 20
    dir_lba: dict[str, int] = {}
    dir_sectors: dict[str, int] = {}
    # identifiers per directory (deterministic, collision-suffixed)
    idents: dict[str, bytes] = {}  # full path (dirs end with /) -> ident
    for dp in order:
        taken: set[bytes] = set()
        for d in sorted(dirs[dp]):
            idents[dp + d + "/"] = _iso_identifier(d, True, taken)
        for fname, _payload in sorted(files[dp]):
            idents[dp + fname] = _iso_identifier(fname, False, taken)

    def record_len(ident: bytes, su_len: int) -> int:
        base = 33 + len(ident)
        return base + (0 if len(ident) % 2 else 1) + su_len

    def nm(name: str) -> bytes:
        # the deprecated RRIP 'RR' usage-flags entry (0x08 = NM present)
        # precedes every name: libarchive sets its Rockridge-seen flag
        # only from RR/ER entries, and without one it discards NM names
        return _susp(b"RR", b"\x08") + _susp(b"NM", b"\x00" + name.encode("utf-8"))

    # first pass: directory extent sizes (records never span sectors)
    def dir_size(dp: str) -> int:
        lens = [record_len(b"\x00", 7 if dp == "" else 0), record_len(b"\x01", 0)]
        for d in sorted(dirs[dp]):
            lens.append(record_len(idents[dp + d + "/"], len(nm(d))))
        for fname, _ in sorted(files[dp]):
            lens.append(record_len(idents[dp + fname], len(nm(fname))))
        used, sectors = 0, 1
        for ln in lens:
            if used + ln > SECTOR:
                sectors += 1
                used = 0
            used += ln
        return sectors

    for dp in order:
        dir_lba[dp] = next_lba
        dir_sectors[dp] = dir_size(dp)
        next_lba += dir_sectors[dp]
    file_lba: dict[str, int] = {}
    for dp in order:
        for fname, payload in sorted(files[dp]):
            file_lba[dp + fname] = next_lba
            next_lba += max(1, (len(payload) + SECTOR - 1) // SECTOR)
    total_sectors = next_lba

    # directory extents
    dir_bytes: dict[str, bytes] = {}
    for dp in order:
        out = bytearray()
        used = 0

        def put(rec: bytes) -> None:
            nonlocal used
            if used + len(rec) > SECTOR:
                out.extend(b"\x00" * (SECTOR - used))
                used = 0
            out.extend(rec)
            used += len(rec)

        self_su = (
            _susp(b"SP", b"\xbe\xef\x00") + _susp(b"RR", b"\x81") if dp == "" else b""
        )
        size_self = dir_sectors[dp] * SECTOR
        put(_dir_record(b"\x00", dir_lba[dp], size_self, True, self_su))
        parent = "" if dp == "" else dp[: dp[:-1].rfind("/") + 1]
        put(
            _dir_record(
                b"\x01", dir_lba[parent], dir_sectors[parent] * SECTOR, True, b""
            )
        )
        for d in sorted(dirs[dp]):
            child = dp + d + "/"
            put(
                _dir_record(
                    idents[child],
                    dir_lba[child],
                    dir_sectors[child] * SECTOR,
                    True,
                    nm(d),
                )
            )
        for fname, payload in sorted(files[dp]):
            put(
                _dir_record(
                    idents[dp + fname],
                    file_lba[dp + fname],
                    len(payload),
                    False,
                    nm(fname),
                )
            )
        out.extend(b"\x00" * (dir_sectors[dp] * SECTOR - len(out)))
        dir_bytes[dp] = bytes(out)

    # path tables (L little-endian, M big-endian)
    def path_table(be: bool) -> bytes:
        fmt_i = ">I" if be else "<I"
        fmt_h = ">H" if be else "<H"
        out = bytearray()
        for dp in order:
            ident = b"\x00" if dp == "" else idents[dp]
            out += bytes([len(ident), 0])
            out += struct.pack(fmt_i, dir_lba[dp])
            out += struct.pack(fmt_h, parent_idx[dp])
            out += ident
            if len(ident) % 2:
                out += b"\x00"
        return bytes(out)

    lpath, mpath = path_table(False), path_table(True)

    # PVD
    pvd = bytearray(SECTOR)
    pvd[0] = 1
    pvd[1:7] = b"CD001\x01"
    pvd[8:40] = b" " * 32
    pvd[40:72] = b"TWS".ljust(32, b" ")  # volume id
    pvd[80:88] = _both32(total_sectors)
    pvd[120:124] = _both16(1)
    pvd[124:128] = _both16(1)
    pvd[128:132] = _both16(SECTOR)
    pvd[132:140] = _both32(len(lpath))
    pvd[140:144] = struct.pack("<I", 18)
    pvd[148:152] = struct.pack(">I", 19)
    root_rec = _dir_record(b"\x00", dir_lba[""], dir_sectors[""] * SECTOR, True, b"")
    pvd[156 : 156 + len(root_rec)] = root_rec
    for a, b in ((190, 318), (318, 446), (446, 574)):  # volume set/publisher/preparer
        pvd[a:b] = b" " * (b - a)
    pvd[574:702] = b" " * 128  # application id
    for a, b in ((702, 739), (739, 776), (776, 813)):  # file ids
        pvd[a:b] = b" " * (b - a)
    blank_date = b"0" * 16 + b"\x00"
    for a in (813, 830, 847, 864):  # creation/modification/expiration/effective
        pvd[a : a + 17] = blank_date
    pvd[881] = 1

    term = bytearray(SECTOR)
    term[0] = 255
    term[1:7] = b"CD001\x01"

    image = bytearray(b"\x00" * (16 * SECTOR))
    image += pvd + term
    image += lpath.ljust(SECTOR, b"\x00")
    image += mpath.ljust(SECTOR, b"\x00")
    for dp in order:
        image += dir_bytes[dp]
    for dp in order:
        for fname, payload in sorted(files[dp]):
            sectors = max(1, (len(payload) + SECTOR - 1) // SECTOR)
            image += payload.ljust(sectors * SECTOR, b"\x00")
    assert len(image) == total_sectors * SECTOR
    return bytes(image)


def build_iso_text(entries: list[tuple[str, str]]) -> str:
    return build_iso(
        [(name, payload.encode("latin-1")) for name, payload in entries]
    ).decode("latin-1")
