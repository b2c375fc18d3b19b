"""SQLite database file parsing — table text extraction, pure stdlib.

Tika ships a SQLite parser (org.apache.tika.parser.sqlite3.SQLite3Parser)
that walks every user table and emits its rows as embedded tabular text;
the reference exposes whatever Tika accepts (the auto-detect parse route,
/root/reference/src/java-env.cpp:313). The rebuild reads the documented
on-disk format (sqlite.org/fileformat2.html) directly — no C library on
the untrusted-bytes path:

  * 100-byte header: magic, page size, text encoding (utf-8/16le/16be).
  * B-tree walk: interior table pages (type 5) recurse via child
    pointers + right-most pointer; leaf table pages (type 13) carry
    cells of (payload-length varint, rowid varint, record), with the
    documented overflow-page spill rule for large payloads.
  * Record format: header-length varint, serial-type varints, then the
    body (NULL / 1-8 byte big-endian ints / float64 / const 0,1 /
    blob / text).
  * ``sqlite_master`` (rooted at page 1) lists user tables; each table's
    column names come from its stored CREATE TABLE sql; an INTEGER
    PRIMARY KEY column is a rowid alias (stored as NULL, value = rowid).

One text block per user table; the first database's table names land
comma-joined in the ``sqlite_tables`` meta key.

Malformed input raises :class:`ExtractError` (the extraction core turns
it into a ``parse_ok=false`` row, never a task failure); all page/chain
walks are bounded and cycle-guarded.

The builder (:func:`build_sqlite`) produces REAL database files via the
stdlib ``sqlite3`` C library (``Connection.serialize``), so corpus/golden
inputs are genuine SQLite bytes and tests cross-validate the hand-rolled
reader against the reference implementation's own output.
"""

from __future__ import annotations

import sqlite3
import struct

from tika_wrap_spark.core.errors import MAX_INFLATED, ExtractError

SQLITE_MAGIC = b"SQLite format 3\x00"

_PAGE_LEAF_TABLE = 13
_PAGE_INTERIOR_TABLE = 5

_ENCODINGS = {1: "utf-8", 2: "utf-16-le", 3: "utf-16-be"}

# SQL tokens that start a table CONSTRAINT rather than a column def
_CONSTRAINT_OPENERS = ("primary", "unique", "check", "foreign", "constraint")


def _varint(b: bytes, off: int) -> tuple[int, int]:
    """Decode one SQLite varint (big-endian 7-bit groups, 9 bytes max;
    the 9th byte contributes all 8 bits). Returns (value, next_offset)."""
    result = 0
    for i in range(8):
        if off + i >= len(b):
            raise ExtractError("sqlite: truncated varint")
        byte = b[off + i]
        if byte < 0x80:
            return (result << 7) | byte, off + i + 1
        result = (result << 7) | (byte & 0x7F)
    if off + 8 >= len(b):
        raise ExtractError("sqlite: truncated varint")
    return (result << 8) | b[off + 8], off + 9


class _Db:
    def __init__(self, data: bytes):
        if len(data) < 100 or not data.startswith(SQLITE_MAGIC):
            raise ExtractError("sqlite: bad header magic")
        page_size = struct.unpack_from(">H", data, 16)[0]
        if page_size == 1:
            page_size = 65536
        if page_size < 512 or page_size & (page_size - 1):
            raise ExtractError("sqlite: bad page size %d" % page_size)
        self.data = data
        self.page_size = page_size
        self.reserved = data[20]
        self.usable = page_size - self.reserved
        if self.usable < 480:
            raise ExtractError("sqlite: unusable page layout")
        enc = struct.unpack_from(">I", data, 56)[0]
        # a zero-table db fresh from the library may leave encoding unset
        self.encoding = _ENCODINGS.get(enc or 1)
        if self.encoding is None:
            raise ExtractError("sqlite: unknown text encoding %d" % enc)
        self.n_pages = max(1, len(data) // page_size)

    def page(self, pgno: int) -> bytes:
        if pgno < 1 or pgno > self.n_pages:
            raise ExtractError("sqlite: page %d out of range" % pgno)
        start = (pgno - 1) * self.page_size
        return self.data[start : start + self.page_size]

    def _read_payload(self, page: bytes, off: int, payload_len: int) -> bytes:
        """Assemble a cell payload, following overflow pages when the
        documented leaf-table spill rule says the tail left the page."""
        u = self.usable
        x = u - 35
        if payload_len <= x:
            local = payload_len
        else:
            m = ((u - 12) * 32) // 255 - 23
            k = m + (payload_len - m) % (u - 4)
            local = k if k <= x else m
        if off + local > len(page):
            raise ExtractError("sqlite: cell payload past page end")
        chunks = [page[off : off + local]]
        remaining = payload_len - local
        if remaining:
            if off + local + 4 > len(page):
                raise ExtractError("sqlite: truncated overflow pointer")
            nxt = struct.unpack_from(">I", page, off + local)[0]
            hops = 0
            while remaining > 0:
                if nxt == 0:
                    raise ExtractError("sqlite: broken overflow chain")
                hops += 1
                # a valid chain never exceeds the file's own page count —
                # corrupt/cyclic chains terminate in O(n_pages)
                if hops > self.n_pages:
                    raise ExtractError("sqlite: overflow chain too long")
                opage = self.page(nxt)
                nxt = struct.unpack_from(">I", opage, 0)[0]
                take = min(remaining, self.usable - 4)
                chunks.append(opage[4 : 4 + take])
                remaining -= take
        return b"".join(chunks)

    def _decode_record(self, payload: bytes) -> list:
        """Decode one record (the serial-type header + body)."""
        hdr_len, off = _varint(payload, 0)
        if hdr_len > len(payload):
            raise ExtractError("sqlite: record header past payload")
        serials = []
        while off < hdr_len:
            st, off = _varint(payload, off)
            serials.append(st)
        body = hdr_len
        values: list = []
        for st in serials:
            if st == 0:
                values.append(None)
            elif 1 <= st <= 6:
                width = (1, 2, 3, 4, 6, 8)[st - 1]
                raw = payload[body : body + width]
                if len(raw) != width:
                    raise ExtractError("sqlite: truncated int value")
                values.append(int.from_bytes(raw, "big", signed=True))
                body += width
            elif st == 7:
                raw = payload[body : body + 8]
                if len(raw) != 8:
                    raise ExtractError("sqlite: truncated float value")
                values.append(struct.unpack(">d", raw)[0])
                body += 8
            elif st == 8:
                values.append(0)
            elif st == 9:
                values.append(1)
            elif st >= 12:
                n = (st - 12) // 2
                raw = payload[body : body + n]
                if len(raw) != n:
                    raise ExtractError("sqlite: truncated payload value")
                body += n
                if st & 1:  # odd: text in the header-declared encoding
                    values.append(raw.decode(self.encoding, errors="replace"))
                else:  # even: blob — flat-string policy renders a tag
                    values.append(raw)
            else:
                raise ExtractError("sqlite: reserved serial type %d" % st)
        return values

    def table_rows(self, root: int) -> list[tuple[int, list]]:
        """Walk one table b-tree in rowid order; returns (rowid, values)."""
        rows: list[tuple[int, list]] = []
        visited = 0
        stack = [root]
        # depth-first with explicit child ordering keeps rowid order:
        # interior cells' children precede the right-most pointer
        while stack:
            pgno = stack.pop()
            visited += 1
            # a valid b-tree visits each page at most once — revisits mean
            # a cycle, so the walk is bounded by the file's own page count
            if visited > self.n_pages:
                raise ExtractError("sqlite: b-tree walk exceeded page bound")
            page = self.page(pgno)
            hdr = 100 if pgno == 1 else 0
            ptype = page[hdr]
            n_cells = struct.unpack_from(">H", page, hdr + 3)[0]
            if ptype == _PAGE_INTERIOR_TABLE:
                right = struct.unpack_from(">I", page, hdr + 8)[0]
                children = []
                for i in range(n_cells):
                    cp = struct.unpack_from(">H", page, hdr + 12 + 2 * i)[0]
                    if cp + 4 > len(page):
                        raise ExtractError("sqlite: cell pointer past page")
                    children.append(struct.unpack_from(">I", page, cp)[0])
                children.append(right)
                stack.extend(reversed(children))
            elif ptype == _PAGE_LEAF_TABLE:
                for i in range(n_cells):
                    cp = struct.unpack_from(">H", page, hdr + 8 + 2 * i)[0]
                    if cp >= len(page):
                        raise ExtractError("sqlite: cell pointer past page")
                    plen, off = _varint(page, cp)
                    rowid, off = _varint(page, off)
                    payload = self._read_payload(page, off, plen)
                    rows.append((rowid, self._decode_record(payload)))
            else:
                raise ExtractError("sqlite: unexpected page type %d" % ptype)
        return rows


def _column_names(sql: str) -> tuple[list[str], int]:
    """Column names from a stored CREATE TABLE statement, plus the index
    of the INTEGER PRIMARY KEY rowid-alias column (-1 if none). Top-level
    comma split between the outermost parens; table constraints skipped."""
    lp = sql.find("(")
    rp = sql.rfind(")")
    if lp < 0 or rp <= lp:
        raise ExtractError("sqlite: unparseable CREATE TABLE sql")
    depth = 0
    parts: list[str] = []
    cur: list[str] = []
    for ch in sql[lp + 1 : rp]:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    names: list[str] = []
    ipk = -1
    for part in parts:
        tokens = part.split()
        if not tokens:
            continue
        first = tokens[0].strip('"`[]')
        if first.lower() in _CONSTRAINT_OPENERS:
            continue
        low = " ".join(t.lower() for t in tokens)
        if "integer primary key" in low:
            ipk = len(names)
        names.append(first)
    if not names:
        raise ExtractError("sqlite: CREATE TABLE with no columns")
    return names, ipk


def _render(value) -> str:
    """Flat-string cell rendering (the reference's lossy toString flatten,
    src/java-env.cpp:300): NULL -> '', blob -> length tag, float -> repr,
    int/text verbatim."""
    if value is None:
        return ""
    if isinstance(value, bytes):
        return "<blob %d>" % len(value)
    if isinstance(value, float):
        return repr(value)
    return str(value)


def sqlite_extract(data: bytes) -> list[tuple[str, str]]:
    """Extract every user table as (table_name, text block).

    Block shape (Tika's embedded-table analog, one line per row):
        ``<name>: col1,col2`` then one ``v1,v2`` line per row in rowid
        order. Tables are emitted in sqlite_master (creation) order;
        ``sqlite_*`` internal tables are skipped.
    """
    db = _Db(data)
    master = db.table_rows(1)
    out: list[tuple[str, str]] = []
    total = 0
    for _rowid, rec in master:
        if len(rec) < 5:
            raise ExtractError("sqlite: short sqlite_master record")
        mtype, name, _tbl, root, sql = rec[0], rec[1], rec[2], rec[3], rec[4]
        if mtype != "table" or not isinstance(name, str):
            continue
        if name.startswith("sqlite_"):
            continue
        if not isinstance(root, int) or not isinstance(sql, str):
            raise ExtractError("sqlite: malformed sqlite_master row")
        cols, ipk = _column_names(sql)
        lines = ["%s: %s" % (name, ",".join(cols))]
        for rowid, values in db.table_rows(root):
            if len(values) < len(cols):
                values = values + [None] * (len(cols) - len(values))
            if ipk >= 0 and values[ipk] is None:
                values[ipk] = rowid  # rowid-alias column stores NULL
            lines.append(",".join(_render(v) for v in values[: len(cols)]))
        block = "\n".join(lines)
        total += len(block)
        if total > MAX_INFLATED:  # total extracted chars
            raise ExtractError("sqlite: extracted text exceeds cap")
        out.append((name, block))
    return out


def build_sqlite(tables: list[tuple[str, list[str], list[tuple]]]) -> bytes:
    """REAL SQLite database bytes via the stdlib C library (test/corpus
    builder only — the read path above never touches the C parser).

    ``tables``: [(name, [col names], [row tuples])]; every column is
    declared TEXT except names ending ``_n`` (INTEGER) — enough surface
    for corpus fixtures while keeping declarations deterministic.
    """
    conn = sqlite3.connect(":memory:")
    try:
        for name, cols, rows in tables:
            decls = ", ".join(
                "%s %s" % (c, "INTEGER" if c.endswith("_n") else "TEXT")
                for c in cols
            )
            conn.execute("CREATE TABLE %s (%s)" % (name, decls))
            if rows:
                marks = ",".join("?" * len(cols))
                conn.executemany(
                    "INSERT INTO %s VALUES (%s)" % (name, marks), rows
                )
        conn.commit()
        return bytes(conn.serialize())
    finally:
        conn.close()
