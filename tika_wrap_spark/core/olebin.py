"""OLE2 / CFB (Compound File Binary) parsing + legacy Office text extract.

Tika parses legacy binary Office documents (.doc/.xls) via POI; the
reference exposes whatever Tika accepts (/root/reference/src/java-env.cpp:313
routes any input through the auto-detect parser). The rebuild walks the
real formats natively, pure stdlib:

  * CFB container ([MS-CFB]): 512-byte header, DIFAT -> FAT chains,
    directory entries (utf-16le names), mini-FAT/mini-stream for streams
    under the 4096-byte cutoff.
  * Word 97 binary (.doc, [MS-DOC]): FIB -> Clx in the 0Table/1Table
    stream -> Pcdt/PlcPcd piece table -> text pieces (cp1252 "compressed"
    or utf-16le), field/control chars normalized.
  * Excel 97 BIFF8 (.xls, [MS-XLS]): Workbook stream record walk — SST
    (XLUnicodeRichExtendedString, incl. rich-run/ext skips), LABELSST,
    NUMBER, RK, MULRK, BOUNDSHEET — emitted as tab-joined rows in
    (sheet, row, col) order.
  * PowerPoint 97 (.ppt, [MS-PPT]): "PowerPoint Document" stream record
    walk (8-byte headers, recVer 0xF containers recurse) collecting
    TextCharsAtom (utf-16le) / TextBytesAtom (cp1252) / CString payloads
    in record order.
  * Outlook .msg ([MS-OXMSG]): __substg1.0 property streams -> subject +
    body (subject/sender share the eml_subject/eml_from meta keys).

The subkind ('doc'/'xls'/'ppt'/'msg') lands in ``container_format`` as
'ole-<subkind>'.

Malformed input raises :class:`ExtractError` (the extraction core converts
it to a ``parse_ok=false`` row, never a task failure); structural walks are
cycle-guarded (a corrupt FAT chain terminates, never loops).

Builders (``build_cfb`` / ``build_doc`` / ``build_xls`` / ``build_ppt``)
produce real byte-level CFB/Office documents for the corpus and goldens.
"""

from __future__ import annotations

import struct

from tika_wrap_spark.core.errors import ExtractError

OLE_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"

_SECT = 512
_MINI_SECT = 64
_MINI_CUTOFF = 4096

_ENDOFCHAIN = 0xFFFFFFFE
_FREESECT = 0xFFFFFFFF
_FATSECT = 0xFFFFFFFD
_DIFSECT = 0xFFFFFFFC

_DIR_STREAM = 2
_DIR_ROOT = 5

# hard bound on any chain walk: a 100 MiB file has < 220k sectors; corrupt
# chains (cycles / absurd lengths) must terminate, not spin
_MAX_CHAIN = 1 << 20


def _u16(b: bytes, off: int) -> int:
    return struct.unpack_from("<H", b, off)[0]


def _u32(b: bytes, off: int) -> int:
    return struct.unpack_from("<I", b, off)[0]


def _chain(fat: list[int], start: int, what: str) -> list[int]:
    """Follow a FAT/miniFAT chain from ``start``; cycle/length guarded."""
    out = []
    sect = start
    seen = 0
    while sect != _ENDOFCHAIN:
        if sect >= len(fat) or sect in (_FREESECT, _FATSECT, _DIFSECT):
            raise ExtractError("ole: broken %s chain at sector %d" % (what, sect))
        out.append(sect)
        sect = fat[sect]
        seen += 1
        if seen > _MAX_CHAIN:
            raise ExtractError("ole: cyclic %s chain" % what)
    return out


def parse_cfb(data: bytes) -> dict[str, bytes]:
    """Parse a CFB container into {stream_name: bytes} (root-level walk of
    every type-2 directory entry; storage nesting is flattened — the Office
    streams this engine consumes all live at the root)."""
    if len(data) < _SECT or not data.startswith(OLE_MAGIC):
        raise ExtractError("ole: not a compound file")
    sector_shift = _u16(data, 30)
    if sector_shift not in (9, 12):
        raise ExtractError("ole: unsupported sector shift %d" % sector_shift)
    sect_size = 1 << sector_shift
    n_fat_sects = _u32(data, 44)
    dir_start = _u32(data, 48)
    minifat_start = _u32(data, 60)
    n_minifat = _u32(data, 64)
    difat_start = _u32(data, 68)
    n_difat = _u32(data, 72)

    def sector(i: int) -> bytes:
        off = _SECT + i * sect_size
        if off + sect_size > len(data):
            raise ExtractError("ole: sector %d past EOF" % i)
        return data[off : off + sect_size]

    # DIFAT: 109 header entries + chained DIFAT sectors
    difat: list[int] = [ _u32(data, 76 + 4 * i) for i in range(109) ]
    ds = difat_start
    hops = 0
    while ds not in (_ENDOFCHAIN, _FREESECT) and hops < n_difat + 1:
        block = sector(ds)
        difat.extend(struct.unpack_from("<%dI" % (sect_size // 4 - 1), block))
        ds = _u32(block, sect_size - 4)
        hops += 1
    fat_sects = [s for s in difat[: max(n_fat_sects, 0) or len(difat)] if s != _FREESECT][
        :n_fat_sects
    ]
    if len(fat_sects) < n_fat_sects:
        raise ExtractError("ole: DIFAT lists %d of %d FAT sectors" % (len(fat_sects), n_fat_sects))
    fat: list[int] = []
    for s in fat_sects:
        fat.extend(struct.unpack_from("<%dI" % (sect_size // 4), sector(s)))

    def read_chain(start: int, size: int, what: str) -> bytes:
        buf = b"".join(sector(s) for s in _chain(fat, start, what))
        if len(buf) < size:
            raise ExtractError("ole: %s stream short (%d < %d)" % (what, len(buf), size))
        return buf[:size]

    # directory
    dir_bytes = b"".join(sector(s) for s in _chain(fat, dir_start, "directory"))
    entries = []
    for off in range(0, len(dir_bytes) - 127, 128):
        e = dir_bytes[off : off + 128]
        name_len = _u16(e, 64)
        if name_len < 2 or name_len > 64:
            continue
        name = e[: name_len - 2].decode("utf-16-le", "replace")
        etype = e[66]
        start = _u32(e, 116)
        size = struct.unpack_from("<Q", e, 120)[0]
        entries.append((name, etype, start, size))
    root = next((e for e in entries if e[1] == _DIR_ROOT), None)

    # mini stream (the root entry's chain) + miniFAT
    mini_stream = b""
    minifat: list[int] = []
    if root is not None and root[3] > 0 and root[2] != _ENDOFCHAIN:
        mini_stream = read_chain(root[2], root[3], "mini-stream")
    if n_minifat > 0 and minifat_start not in (_ENDOFCHAIN, _FREESECT):
        for s in _chain(fat, minifat_start, "miniFAT"):
            minifat.extend(struct.unpack_from("<%dI" % (sect_size // 4), sector(s)))

    def read_mini(start: int, size: int, what: str) -> bytes:
        parts = []
        for s in _chain(minifat, start, what + "-mini"):
            off = s * _MINI_SECT
            if off + _MINI_SECT > len(mini_stream):
                raise ExtractError("ole: mini sector %d past mini-stream end" % s)
            parts.append(mini_stream[off : off + _MINI_SECT])
        buf = b"".join(parts)
        if len(buf) < size:
            raise ExtractError("ole: %s short mini stream" % what)
        return buf[:size]

    streams: dict[str, bytes] = {}
    for name, etype, start, size in entries:
        if etype != _DIR_STREAM or not name:
            continue
        if size == 0:
            streams[name] = b""
        elif size < _MINI_CUTOFF:
            streams[name] = read_mini(start, size, name)
        else:
            streams[name] = read_chain(start, size, name)
    return streams


# ---------------------------------------------------------------------------
# Word 97 (.doc): FIB -> piece table -> text
# ---------------------------------------------------------------------------

_DOC_IDENT = 0xA5EC
_FC_COMPRESSED = 0x40000000

# piece-text control chars: CR -> newline, cell mark -> tab, field chars
# (begin/sep/end 0x13/0x14/0x15) dropped
_DOC_CHAR_MAP = {0x0D: "\n", 0x07: "\t", 0x0B: "\n", 0x0C: "\n", 0x1E: "-", 0x1F: ""}


def _doc_clean(s: str) -> str:
    out = []
    for ch in s:
        o = ord(ch)
        if o in _DOC_CHAR_MAP:
            out.append(_DOC_CHAR_MAP[o])
        elif o < 0x20 and ch not in "\t\n":
            continue  # field/markup control chars are not document text
        else:
            out.append(ch)
    return "".join(out)


def doc_text(streams: dict[str, bytes]) -> str:
    """Extract document text from a parsed .doc (WordDocument + xTable)."""
    word = streams.get("WordDocument")
    if word is None or len(word) < 0x01AA:
        raise ExtractError("doc: missing or short WordDocument stream")
    if _u16(word, 0) != _DOC_IDENT:
        raise ExtractError("doc: bad FIB ident 0x%04x" % _u16(word, 0))
    flags = _u16(word, 0x0A)
    table_name = "1Table" if flags & 0x0200 else "0Table"
    table = streams.get(table_name)
    if table is None:
        # some writers emit only the other table stream
        table = streams.get("1Table" if table_name == "0Table" else "0Table")
    if table is None:
        raise ExtractError("doc: missing %s stream" % table_name)
    fc_clx = _u32(word, 0x01A2)
    lcb_clx = _u32(word, 0x01A6)
    if lcb_clx == 0 or fc_clx + lcb_clx > len(table):
        raise ExtractError("doc: Clx out of bounds")
    clx = table[fc_clx : fc_clx + lcb_clx]
    # Clx = RgPrc (0x01-tagged property blocks) then Pcdt (0x02 + PlcPcd)
    i = 0
    while i < len(clx) and clx[i] == 0x01:
        if i + 3 > len(clx):
            raise ExtractError("doc: truncated Prc")
        i += 3 + _u16(clx, i + 1)
    if i >= len(clx) or clx[i] != 0x02:
        raise ExtractError("doc: Pcdt not found in Clx")
    lcb = _u32(clx, i + 1)
    plc = clx[i + 5 : i + 5 + lcb]
    if len(plc) < lcb or lcb < 4 or (lcb - 4) % 12 != 0:
        raise ExtractError("doc: malformed PlcPcd")
    n = (lcb - 4) // 12
    cps = [_u32(plc, 4 * k) for k in range(n + 1)]
    out = []
    for k in range(n):
        pcd_off = 4 * (n + 1) + 8 * k
        fc_raw = _u32(plc, pcd_off + 2)
        n_chars = cps[k + 1] - cps[k]
        if n_chars <= 0:
            continue
        if fc_raw & _FC_COMPRESSED:
            fc = (fc_raw & ~_FC_COMPRESSED & 0x3FFFFFFF) // 2
            piece = word[fc : fc + n_chars]
            if len(piece) < n_chars:
                raise ExtractError("doc: piece %d past WordDocument end" % k)
            out.append(piece.decode("cp1252", "replace"))
        else:
            fc = fc_raw & 0x3FFFFFFF
            piece = word[fc : fc + 2 * n_chars]
            if len(piece) < 2 * n_chars:
                raise ExtractError("doc: piece %d past WordDocument end" % k)
            out.append(piece.decode("utf-16-le", "replace"))
    return _doc_clean("".join(out))


# ---------------------------------------------------------------------------
# Excel 97 BIFF8 (.xls): Workbook record walk
# ---------------------------------------------------------------------------

_R_BOF = 0x0809
_R_EOF = 0x000A
_R_SST = 0x00FC
_R_LABELSST = 0x00FD
_R_NUMBER = 0x0203
_R_RK = 0x027E
_R_MULRK = 0x00BD
_R_BOUNDSHEET = 0x0085
_R_LABEL = 0x0204


def _rk_value(rk: int) -> float:
    v: float
    if rk & 0x02:  # 30-bit signed int
        x = rk >> 2
        if x & 0x20000000:
            x -= 0x40000000
        v = float(x)
    else:  # high 30 bits of an IEEE double
        v = struct.unpack("<d", struct.pack("<Q", (rk & 0xFFFFFFFC) << 32))[0]
    if rk & 0x01:
        v /= 100.0
    return v


def _num_text(v: float) -> str:
    return str(int(v)) if v == int(v) and abs(v) < 1e15 else "%g" % v


def _parse_sst(body: bytes) -> list[str]:
    """XLUnicodeRichExtendedString array. Strings that would continue into
    a Continue record terminate the parse (documented bound: the corpus
    builder never splits; a foreign split SST degrades to fewer strings,
    never an error)."""
    if len(body) < 8:
        return []
    n_unique = _u32(body, 4)
    out: list[str] = []
    i = 8
    while len(out) < n_unique and i + 3 <= len(body):
        cch = _u16(body, i)
        grbit = body[i + 2]
        i += 3
        high = grbit & 0x01
        rich = grbit & 0x08
        ext = grbit & 0x04
        n_runs = 0
        cb_ext = 0
        if rich:
            if i + 2 > len(body):
                break
            n_runs = _u16(body, i)
            i += 2
        if ext:
            if i + 4 > len(body):
                break
            cb_ext = _u32(body, i)
            i += 4
        nbytes = cch * (2 if high else 1)
        if i + nbytes > len(body):
            break
        raw = body[i : i + nbytes]
        out.append(raw.decode("utf-16-le" if high else "latin-1", "replace"))
        i += nbytes + 4 * n_runs + cb_ext
    return out


def xls_text(streams: dict[str, bytes]) -> str:
    """Extract cell text from a BIFF8 Workbook stream: rows in document
    order, cells tab-joined, sheets separated by their BOUNDSHEET names."""
    book = streams.get("Workbook") or streams.get("Book")
    if book is None:
        raise ExtractError("xls: missing Workbook stream")
    sst: list[str] = []
    sheets: list[str] = []
    cells: dict[tuple[int, int], str] = {}
    i = 0
    n = len(book)
    sheet_idx = -1
    rows_by_sheet: list[dict[tuple[int, int], str]] = []
    while i + 4 <= n:
        rtype = _u16(book, i)
        rlen = _u16(book, i + 2)
        body = book[i + 4 : i + 4 + rlen]
        if len(body) < rlen:
            raise ExtractError("xls: truncated record 0x%04x" % rtype)
        if rtype == _R_BOF:
            sheet_idx += 1
            cells = {}
            rows_by_sheet.append(cells)
        elif rtype == _R_SST:
            sst = _parse_sst(body)
        elif rtype == _R_BOUNDSHEET and len(body) >= 8:
            cch = body[6]
            grbit = body[7]
            raw = body[8 : 8 + cch * (2 if grbit & 1 else 1)]
            sheets.append(raw.decode("utf-16-le" if grbit & 1 else "latin-1", "replace"))
        elif rtype == _R_LABELSST and rlen >= 10:
            rw, col = _u16(body, 0), _u16(body, 2)
            isst = _u32(body, 6)
            cells[(rw, col)] = sst[isst] if isst < len(sst) else ""
        elif rtype == _R_LABEL and rlen >= 9:
            rw, col = _u16(body, 0), _u16(body, 2)
            cch = _u16(body, 6)
            grbit = body[8]
            raw = body[9 : 9 + cch * (2 if grbit & 1 else 1)]
            cells[(rw, col)] = raw.decode(
                "utf-16-le" if grbit & 1 else "latin-1", "replace"
            )
        elif rtype == _R_NUMBER and rlen >= 14:
            rw, col = _u16(body, 0), _u16(body, 2)
            cells[(rw, col)] = _num_text(struct.unpack_from("<d", body, 6)[0])
        elif rtype == _R_RK and rlen >= 10:
            rw, col = _u16(body, 0), _u16(body, 2)
            cells[(rw, col)] = _num_text(_rk_value(_u32(body, 6)))
        elif rtype == _R_MULRK and rlen >= 12:
            rw, col_first = _u16(body, 0), _u16(body, 2)
            n_rk = (rlen - 6) // 6
            for k in range(n_rk):
                cells[(rw, col_first + k)] = _num_text(_rk_value(_u32(body, 4 + 6 * k + 2)))
        i += 4 + rlen
    if i != n and i + 4 > n and n - i > 0 and n - i < 4:
        pass  # trailing pad bytes are tolerated
    parts = []
    for idx, sheet_cells in enumerate(rows_by_sheet[1:], start=0):  # skip globals
        if not sheet_cells:
            continue
        name = sheets[idx] if idx < len(sheets) else "Sheet%d" % (idx + 1)
        lines = [name]
        by_row: dict[int, dict[int, str]] = {}
        for (rw, col), v in sheet_cells.items():
            by_row.setdefault(rw, {})[col] = v
        for rw in sorted(by_row):
            cols = by_row[rw]
            lines.append("\t".join(cols[c] for c in sorted(cols)))
        parts.append("\n".join(lines))
    if not parts and not sst and sheet_idx < 0:
        raise ExtractError("xls: no BIFF records")
    return "\n".join(parts)


# ---------------------------------------------------------------------------
# PowerPoint 97 (.ppt): "PowerPoint Document" stream record walk
# ---------------------------------------------------------------------------

# [MS-PPT] record types carrying presentation text
_PPT_TEXT_CHARS = 0x0FA0  # TextCharsAtom: utf-16le
_PPT_TEXT_BYTES = 0x0FA8  # TextBytesAtom: one byte per char (cp1252)
_PPT_CSTRING = 0x0FBA  # CString: utf-16le (named text, e.g. slide titles)
_PPT_DOCUMENT = 0x03E8  # Document container (builder root)


def _ppt_walk(data: bytes, off: int, end: int, out: list[str], depth: int) -> None:
    """Recursive [MS-PPT] record walk: 8-byte headers (verAndInstance u16,
    recType u16, recLen u32, all LE); recVer 0xF marks a container whose
    payload is nested records. Text atoms append in stream order (the
    document's slide/shape order). Depth/cycle-guarded; truncated record
    bodies raise."""
    if depth > 16:
        raise ExtractError("ppt: record nesting too deep")
    while off + 8 <= end:
        ver_inst = _u16(data, off)
        rtype = _u16(data, off + 2)
        rlen = _u32(data, off + 4)
        body_start = off + 8
        body_end = body_start + rlen
        if body_end > end:
            raise ExtractError(
                "ppt: record 0x%04x at %d overruns stream" % (rtype, off)
            )
        if ver_inst & 0x0F == 0x0F:  # container: recurse
            _ppt_walk(data, body_start, body_end, out, depth + 1)
        elif rtype in (_PPT_TEXT_CHARS, _PPT_CSTRING):
            out.append(data[body_start:body_end].decode("utf-16-le", "replace"))
        elif rtype == _PPT_TEXT_BYTES:
            out.append(data[body_start:body_end].decode("cp1252", "replace"))
        off = body_end


def ppt_text(streams: dict[str, bytes]) -> str:
    """Extract presentation text from the PowerPoint Document stream:
    TextCharsAtom/TextBytesAtom/CString payloads in record order. PPT uses
    CR as the paragraph separator — normalized to newline like .doc."""
    doc = streams.get("PowerPoint Document")
    if doc is None:
        raise ExtractError("ppt: missing PowerPoint Document stream")
    out: list[str] = []
    _ppt_walk(doc, 0, len(doc), out, 0)
    return "\n".join(t.replace("\r", "\n").strip("\x00") for t in out if t)


# ---------------------------------------------------------------------------
# Outlook message (.msg, [MS-OXMSG]): property-stream walk
# ---------------------------------------------------------------------------

# property streams are named __substg1.0_PPPPTTTT (PPPP = property id,
# TTTT = type: 001F PtypString utf-16le, 001E PtypString8 cp1252)
_MSG_SUBSTG = "__substg1.0_"
_MSG_SUBJECT = 0x0037
_MSG_BODY = 0x1000
_MSG_SENDER_NAME = 0x0C1A
_MSG_SENDER_EMAIL = 0x0C1F
_MSG_DISPLAY_TO = 0x0E04


def _msg_prop(streams: dict[str, bytes], pid: int) -> str:
    """Read a string property by id: the 001F (utf-16le) variant wins,
    else 001E (cp1252); absent -> ''."""
    uni = streams.get("%s%04X001F" % (_MSG_SUBSTG, pid))
    if uni is not None:
        return uni.decode("utf-16-le", "replace")
    byt = streams.get("%s%04X001E" % (_MSG_SUBSTG, pid))
    if byt is not None:
        return byt.decode("cp1252", "replace")
    return ""


def msg_text(streams: dict[str, bytes]) -> tuple[str, dict[str, str]]:
    """Extract an Outlook message: rendered header block + body text, plus
    the message metadata (lands in the shared eml_subject/eml_from meta
    keys — Tika maps MSG and rfc822 to the same message metadata). A CFB
    that carries __substg property streams but neither subject nor body
    is malformed."""
    subject = _msg_prop(streams, _MSG_SUBJECT)
    body = _msg_prop(streams, _MSG_BODY).replace("\r\n", "\n").replace("\r", "\n")
    sender_name = _msg_prop(streams, _MSG_SENDER_NAME)
    sender_email = _msg_prop(streams, _MSG_SENDER_EMAIL)
    to = _msg_prop(streams, _MSG_DISPLAY_TO)
    if not subject and not body:
        raise ExtractError("msg: no subject or body property stream")
    if sender_name and sender_email:
        sender = "%s <%s>" % (sender_name, sender_email)
    else:
        sender = sender_name or sender_email
    lines = []
    if subject:
        lines.append("Subject: " + subject)
    if sender:
        lines.append("From: " + sender)
    if to:
        lines.append("To: " + to)
    head = "\n".join(lines)
    text = (head + "\n\n" + body).strip("\n") if head else body
    return text, {"eml_subject": subject, "eml_from": sender}


def ole_extract_full(data: bytes) -> tuple[str, str, dict[str, str]]:
    """Route a CFB container to its Office text: returns
    (subkind, text, meta) where subkind is 'doc', 'xls', 'ppt', or 'msg'
    (meta is non-empty only for messages). Raises ExtractError for
    containers carrying none of the recognized content streams."""
    streams = parse_cfb(data)
    if "WordDocument" in streams:
        return "doc", doc_text(streams), {}
    if "Workbook" in streams or "Book" in streams:
        return "xls", xls_text(streams), {}
    if "PowerPoint Document" in streams:
        return "ppt", ppt_text(streams), {}
    if any(n.startswith(_MSG_SUBSTG) for n in streams):
        text, meta = msg_text(streams)
        return "msg", text, meta
    raise ExtractError(
        "ole: no recognized content stream (have: %s)"
        % ",".join(sorted(streams)[:5])
    )


# ---------------------------------------------------------------------------
# builders: real CFB/DOC/XLS bytes for corpus + goldens
# ---------------------------------------------------------------------------


def build_cfb(streams: list[tuple[str, bytes]]) -> bytes:
    """Serialize streams into a minimal valid CFB: all streams >= 4096 bytes
    go to the FAT area; smaller ones ride the mini stream via miniFAT."""
    big = [(n, b) for n, b in streams if len(b) >= _MINI_CUTOFF]
    small = [(n, b) for n, b in streams if len(b) < _MINI_CUTOFF]

    def n_sect(nbytes: int, size: int) -> int:
        return (nbytes + size - 1) // size

    # mini stream layout
    mini_payload = bytearray()
    mini_starts = []
    minifat: list[int] = []
    for _name, b in small:
        if not b:
            mini_starts.append(_ENDOFCHAIN)
            continue
        start = len(minifat)
        k = n_sect(len(b), _MINI_SECT)
        mini_starts.append(start)
        mini_payload.extend(b)
        pad = (-len(b)) % _MINI_SECT
        mini_payload.extend(b"\x00" * pad)
        minifat.extend(list(range(start + 1, start + k)) + [_ENDOFCHAIN])
    mini_bytes = bytes(mini_payload)

    # FAT-area layout (sector ids assigned in order):
    #   [FAT sectors][directory][miniFAT][mini stream][big streams...]
    n_dir = max(1, n_sect(128 * (1 + len(streams)), _SECT))
    n_minifat_sects = n_sect(4 * len(minifat), _SECT) if minifat else 0
    n_mini_sects = n_sect(len(mini_bytes), _SECT)
    big_sects = [n_sect(len(b), _SECT) for _n, b in big]
    total_data = n_dir + n_minifat_sects + n_mini_sects + sum(big_sects)
    # FAT sector count: solve n_fat so all entries fit
    n_fat = 1
    while n_fat * (_SECT // 4) < total_data + n_fat:
        n_fat += 1
    fat: list[int] = [_FATSECT] * n_fat

    def alloc(k: int) -> int:
        start = len(fat)
        fat.extend(list(range(start + 1, start + k)) + [_ENDOFCHAIN])
        return start

    dir_start = alloc(n_dir)
    minifat_start = alloc(n_minifat_sects) if n_minifat_sects else _ENDOFCHAIN
    mini_start = alloc(n_mini_sects) if n_mini_sects else _ENDOFCHAIN
    big_starts = [alloc(k) for k in big_sects]
    assert len(fat) == total_data + n_fat

    # directory entries
    def dir_entry(name: str, etype: int, start: int, size: int, child: int = _FREESECT) -> bytes:
        raw_name = name.encode("utf-16-le") + b"\x00\x00"
        e = bytearray(128)
        e[: len(raw_name)] = raw_name
        struct.pack_into("<H", e, 64, len(raw_name))
        e[66] = etype
        e[67] = 1  # black
        struct.pack_into("<iii", e, 68, -1, -1, child if child != _FREESECT else -1)
        struct.pack_into("<I", e, 116, start)
        struct.pack_into("<Q", e, 120, size)
        return bytes(e)

    entries = [
        dir_entry("Root Entry", _DIR_ROOT, mini_start, len(mini_bytes), child=1)
    ]
    si = 0
    bi = 0
    for name, b in streams:
        if len(b) >= _MINI_CUTOFF:
            entries.append(dir_entry(name, _DIR_STREAM, big_starts[bi], len(b)))
            bi += 1
        else:
            entries.append(dir_entry(name, _DIR_STREAM, mini_starts[si], len(b)))
            si += 1
    dir_bytes = b"".join(entries)
    dir_bytes += b"\x00" * ((-len(dir_bytes)) % _SECT)
    dir_bytes = dir_bytes.ljust(n_dir * _SECT, b"\x00")

    def pad_sect(b: bytes) -> bytes:
        return b + b"\x00" * ((-len(b)) % _SECT)

    minifat_bytes = pad_sect(struct.pack("<%dI" % len(minifat), *minifat)) if minifat else b""
    body = bytearray()
    fat_packed = struct.pack("<%dI" % len(fat), *fat)
    fat_packed += struct.pack("<I", _FREESECT) * ((n_fat * _SECT - len(fat_packed)) // 4)
    body.extend(fat_packed)
    body.extend(dir_bytes)
    body.extend(minifat_bytes)
    body.extend(pad_sect(mini_bytes))
    for _name, b in big:
        body.extend(pad_sect(b))

    header = bytearray(512)
    header[:8] = OLE_MAGIC
    struct.pack_into("<H", header, 24, 0x003E)  # minor
    struct.pack_into("<H", header, 26, 0x0003)  # major (512-byte sectors)
    struct.pack_into("<H", header, 28, 0xFFFE)  # little-endian
    struct.pack_into("<H", header, 30, 9)  # sector shift
    struct.pack_into("<H", header, 32, 6)  # mini shift
    struct.pack_into("<I", header, 44, n_fat)
    struct.pack_into("<I", header, 48, dir_start)
    struct.pack_into("<I", header, 56, _MINI_CUTOFF)
    struct.pack_into("<I", header, 60, minifat_start)
    struct.pack_into("<I", header, 64, n_minifat_sects)
    struct.pack_into("<I", header, 68, _ENDOFCHAIN)  # no DIFAT sectors
    struct.pack_into("<I", header, 72, 0)
    for k in range(109):
        struct.pack_into("<I", header, 76 + 4 * k, fat[k] if False else (k if k < n_fat else _FREESECT))
    # DIFAT header entries point at the FAT sectors (ids 0..n_fat-1 here)
    return bytes(header) + bytes(body)


def build_doc(text: str) -> bytes:
    """Real Word 97 .doc: WordDocument (FIB + text) + 0Table (Clx/PlcPcd).
    Text goes utf-16le when it leaves latin-1, else 'compressed' cp1252."""
    wire = text.replace("\n", "\r")
    try:
        piece = wire.encode("cp1252")
        compressed = True
    except UnicodeEncodeError:
        piece = wire.encode("utf-16-le")
        compressed = False
    fib = bytearray(0x0600)  # generous FIB block; text appended after
    struct.pack_into("<H", fib, 0, _DOC_IDENT)
    struct.pack_into("<H", fib, 2, 0x00C1)  # nFib: Word 97
    struct.pack_into("<H", fib, 0x0A, 0)  # fWhichTblStm=0 -> 0Table
    fc_text = len(fib)
    word_stream = bytes(fib) + piece
    n_chars = len(wire)
    # PlcPcd: [cp0, cpN] + one PCD
    fc_field = (fc_text * 2) | _FC_COMPRESSED if compressed else fc_text
    plc = struct.pack("<II", 0, n_chars) + struct.pack("<HIH", 0, fc_field, 0)
    clx = b"\x02" + struct.pack("<I", len(plc)) + plc
    table = clx
    word = bytearray(word_stream)
    struct.pack_into("<I", word, 0x01A2, 0)  # fcClx: Clx at table offset 0
    struct.pack_into("<I", word, 0x01A6, len(clx))
    return build_cfb([("WordDocument", bytes(word)), ("0Table", table)])


def build_xls(sheet_name: str, rows: list[list]) -> bytes:
    """Real BIFF8 .xls: globals substream (BOF/BOUNDSHEET/SST/EOF) + one
    worksheet substream (BOF/cells/EOF) inside a CFB Workbook stream.
    Row cells: str -> LABELSST, int/float -> NUMBER."""

    def rec(rtype: int, body: bytes) -> bytes:
        return struct.pack("<HH", rtype, len(body)) + body

    strings: list[str] = []
    index: dict[str, int] = {}
    cell_recs = []
    n_label = 0
    for r, row in enumerate(rows):
        for c, v in enumerate(row):
            if isinstance(v, str):
                if v not in index:
                    index[v] = len(strings)
                    strings.append(v)
                cell_recs.append(
                    rec(_R_LABELSST, struct.pack("<HHHI", r, c, 15, index[v]))
                )
                n_label += 1
            else:
                cell_recs.append(
                    rec(_R_NUMBER, struct.pack("<HHH", r, c, 15) + struct.pack("<d", float(v)))
                )
    sst_body = struct.pack("<II", n_label, len(strings))
    for s in strings:
        try:
            raw = s.encode("latin-1")
            grbit = 0
        except UnicodeEncodeError:
            raw = s.encode("utf-16-le")
            grbit = 1
        sst_body += struct.pack("<HB", len(s), grbit) + raw
    name_raw = sheet_name.encode("latin-1")
    bound = struct.pack("<IHBB", 0, 0, len(sheet_name), 0) + name_raw
    bof = struct.pack("<HHHHII", 0x0600, 0x0005, 0x1234, 0x07CD, 1, 0x0600)
    bof_sheet = struct.pack("<HHHHII", 0x0600, 0x0010, 0x1234, 0x07CD, 1, 0x0600)
    book = (
        rec(_R_BOF, bof)
        + rec(_R_BOUNDSHEET, bound)
        + rec(_R_SST, sst_body)
        + rec(_R_EOF, b"")
        + rec(_R_BOF, bof_sheet)
        + b"".join(cell_recs)
        + rec(_R_EOF, b"")
    )
    return build_cfb([("Workbook", book)])


def build_msg(
    subject: str,
    body: str,
    sender_name: str = "",
    sender_email: str = "",
    to: str = "",
    unicode_props: bool = True,
) -> bytes:
    """Real Outlook .msg: __substg1.0 property streams inside a CFB
    ([MS-OXMSG] shapes ``msg_text`` walks) — 001F utf-16le streams when
    ``unicode_props`` (or the value leaves cp1252), 001E byte streams
    otherwise. A token ``__properties_version1.0`` stream rides along for
    container realism (the reader keys off the substg names)."""

    def prop(pid: int, value: str) -> tuple[str, bytes]:
        wire = value.replace("\n", "\r\n")
        if not unicode_props:
            try:
                return "%s%04X001E" % (_MSG_SUBSTG, pid), wire.encode("cp1252")
            except UnicodeEncodeError:
                pass
        return "%s%04X001F" % (_MSG_SUBSTG, pid), wire.encode("utf-16-le")

    streams = [prop(_MSG_SUBJECT, subject), prop(_MSG_BODY, body)]
    if sender_name:
        streams.append(prop(_MSG_SENDER_NAME, sender_name))
    if sender_email:
        streams.append(prop(_MSG_SENDER_EMAIL, sender_email))
    if to:
        streams.append(prop(_MSG_DISPLAY_TO, to))
    streams.append(("__properties_version1.0", b"\x00" * 32))
    return build_cfb(streams)


def build_ppt(slides: list[list[str]]) -> bytes:
    """Real PowerPoint 97 .ppt: a Document container (recVer 0xF) holding
    one SlideListWithText container per slide, each carrying one text atom
    per paragraph (TextBytesAtom when cp1252 suffices, TextCharsAtom for
    real unicode) — the record shapes ``ppt_text`` walks. A token
    "Current User" stream rides along for container realism."""

    def rec(ver_inst: int, rtype: int, body: bytes) -> bytes:
        return struct.pack("<HHI", ver_inst, rtype, len(body)) + body

    slide_recs = []
    for paras in slides:
        atoms = b""
        for p in paras:
            wire = p.replace("\n", "\r")
            try:
                atoms += rec(0, _PPT_TEXT_BYTES, wire.encode("cp1252"))
            except UnicodeEncodeError:
                atoms += rec(0, _PPT_TEXT_CHARS, wire.encode("utf-16-le"))
        slide_recs.append(rec(0x000F, 0x0FF0, atoms))  # SlideListWithText
    doc = rec(0x000F, _PPT_DOCUMENT, b"".join(slide_recs))
    current_user = struct.pack("<I", 20) + b"\x00" * 16
    return build_cfb(
        [("PowerPoint Document", doc), ("Current User", current_user)]
    )
