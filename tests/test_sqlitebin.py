"""SQLite database parsing (core/sqlitebin.py) — hand-rolled b-tree reader
cross-validated against the stdlib C library's own output, serial-type
coverage, rowid aliasing, alternate text encodings, malformed-input raises,
and the extraction-policy integration (bad database => parse_ok=false row)."""

from __future__ import annotations

import random
import sqlite3
import struct

import pytest

from tika_wrap_spark.core.errors import ExtractError
from tika_wrap_spark.core.extract import extract_document
from tika_wrap_spark.core.sniff import sniff_kind
from tika_wrap_spark.core.sqlitebin import (
    build_sqlite,
    sqlite_extract,
)


def _doc_for(data: bytes):
    return extract_document(
        [{"kind": "text", "text": data.decode("latin-1"), "media_ref": "", "offset": 0}]
    )


def test_golden_block_shape():
    data = build_sqlite(
        [
            ("users", ["id_n", "name", "email"], [(1, "alice", "a@x.com"), (2, "bob", None)]),
            ("tags", ["tag"], [("x",), ("y",)]),
        ]
    )
    assert sqlite_extract(data) == [
        ("users", "users: id_n,name,email\n1,alice,a@x.com\n2,bob,"),
        ("tags", "tags: tag\nx\ny"),
    ]


def test_cross_validation_against_stdlib():
    """Every cell the hand-rolled reader emits must equal what the C
    library reads back from the same bytes — including multi-page trees
    and overflow payloads."""
    rng = random.Random(99)
    tables = []
    for t in range(3):
        cols = ["id_n"] + ["col_%d_%d" % (t, c) for c in range(rng.randint(1, 3))]
        rows = []
        for i in range(rng.randint(40, 120)):
            vals: list = [i]
            for _ in cols[1:]:
                k = rng.random()
                if k < 0.1:
                    vals.append(None)
                elif k < 0.2:  # overflow-page payloads
                    vals.append("long " * rng.randint(400, 900))
                else:
                    vals.append("word%d" % rng.randint(0, 9999))
            rows.append(tuple(vals))
        tables.append(("t%d" % t, cols, rows))
    data = build_sqlite(tables)
    got = sqlite_extract(data)
    conn = sqlite3.connect(":memory:")
    conn.deserialize(data)
    assert [name for name, _ in got] == ["t0", "t1", "t2"]
    for name, block in got:
        lines = block.splitlines()
        ref = conn.execute("SELECT * FROM %s ORDER BY rowid" % name).fetchall()
        assert len(ref) == len(lines) - 1
        for r, line in zip(ref, lines[1:]):
            assert ",".join("" if v is None else str(v) for v in r) == line


def test_serial_types_float_blob_const_negative():
    """Serial types beyond text: float64 (7), blob (even >=12), the
    schema-format-4 integer constants 0/1 (8/9), negative ints."""
    conn = sqlite3.connect(":memory:")
    conn.execute("CREATE TABLE vals (f REAL, b BLOB, z INTEGER, o INTEGER, n INTEGER)")
    conn.execute(
        "INSERT INTO vals VALUES (?, ?, ?, ?, ?)", (2.5, b"\x00\x01\x02", 0, 1, -70000)
    )
    conn.commit()
    [(name, block)] = sqlite_extract(bytes(conn.serialize()))
    assert name == "vals"
    assert block.splitlines()[1] == "2.5,<blob 3>,0,1,-70000"


def test_integer_primary_key_rowid_alias():
    """An INTEGER PRIMARY KEY column stores NULL in the record; the value
    is the cell's rowid (fileformat2 §2.2)."""
    conn = sqlite3.connect(":memory:")
    conn.execute("CREATE TABLE items (item_id INTEGER PRIMARY KEY, label TEXT)")
    conn.executemany("INSERT INTO items VALUES (?, ?)", [(7, "seven"), (9, "nine")])
    conn.commit()
    [(_n, block)] = sqlite_extract(bytes(conn.serialize()))
    assert block == "items: item_id,label\n7,seven\n9,nine"


@pytest.mark.parametrize("enc", ["UTF-16le", "UTF-16be"])
def test_utf16_text_encodings(enc):
    conn = sqlite3.connect(":memory:")
    conn.execute("PRAGMA encoding = '%s'" % enc)
    conn.execute("CREATE TABLE w (t TEXT)")
    conn.execute("INSERT INTO w VALUES (?)", ("héllo wörld",))
    conn.commit()
    [(_n, block)] = sqlite_extract(bytes(conn.serialize()))
    assert block == "w: t\nhéllo wörld"


def test_table_constraints_skipped_in_column_names():
    conn = sqlite3.connect(":memory:")
    conn.execute(
        "CREATE TABLE c (a TEXT, b TEXT, PRIMARY KEY (a), UNIQUE (b), CHECK (a <> ''))"
    )
    conn.execute("INSERT INTO c VALUES ('x', 'y')")
    conn.commit()
    [(_n, block)] = sqlite_extract(bytes(conn.serialize()))
    assert block.splitlines()[0] == "c: a,b"


def test_internal_tables_skipped():
    """sqlite_* bookkeeping tables (autoindex/sequence) never extract."""
    conn = sqlite3.connect(":memory:")
    conn.execute("CREATE TABLE s (k INTEGER PRIMARY KEY AUTOINCREMENT, v TEXT)")
    conn.execute("INSERT INTO s (v) VALUES ('only')")
    conn.commit()
    out = sqlite_extract(bytes(conn.serialize()))
    assert [name for name, _ in out] == ["s"]


def test_sniffer_routes_sqlite():
    data = build_sqlite([("t", ["a"], [("x",)])])
    assert sniff_kind(data.decode("latin-1"), "") == "sqlite"
    assert sniff_kind("SQLite format 3", "") != "sqlite"  # needs the NUL


def test_extraction_integration_meta_and_spans():
    data = build_sqlite(
        [("users", ["id_n", "name"], [(1, "a")]), ("logs", ["line"], [("l1",), ("l2",)])]
    )
    doc = _doc_for(data)
    assert doc["parse_ok"]
    assert doc["meta"]["kinds"] == "sqlite"
    assert doc["meta"]["sqlite_tables"] == "users,logs"
    assert [s["text"].splitlines()[0] for s in doc["spans"]] == [
        "users: id_n,name",
        "logs: line",
    ]
    offs = [s["offset"] for s in doc["spans"]]
    assert offs == sorted(offs)


@pytest.mark.parametrize(
    "mutate",
    [
        lambda d: d[:50],  # truncated header
        lambda d: d[:300],  # header intact, page body cut
        lambda d: d[:16] + b"\x00\x03" + d[18:],  # non-power-of-two page size
        lambda d: b"Not a database" + d[14:],  # bad magic
    ],
)
def test_malformed_raises_extract_error(mutate):
    data = build_sqlite([("t", ["a", "b"], [("x", "y")] * 30)])
    with pytest.raises(ExtractError):
        sqlite_extract(mutate(data))


def test_cyclic_btree_terminates():
    """Interior page whose child pointer loops back to itself: the walk is
    bounded by the file's own page count and raises, never spins."""
    data = bytearray(build_sqlite([("t", ["a"], [("x" * 60,)] * 600)]))
    page_size = struct.unpack_from(">H", data, 16)[0]
    # find an interior table page (type 5) and point every child at it
    for pgno in range(2, len(data) // page_size + 1):
        off = (pgno - 1) * page_size
        if data[off] == 5:
            n_cells = struct.unpack_from(">H", data, off + 3)[0]
            for i in range(n_cells):
                cp = struct.unpack_from(">H", data, off + 12 + 2 * i)[0]
                struct.pack_into(">I", data, off + cp, pgno)
            struct.pack_into(">I", data, off + 8, pgno)  # right-most too
            break
    else:
        pytest.skip("no interior page in fixture")
    with pytest.raises(ExtractError):
        sqlite_extract(bytes(data))


def test_bitflip_fuzz_through_policy():
    """Single-byte corruption sweep routed through the extraction policy:
    every outcome is a row (parse_ok either way), never an exception."""
    data = build_sqlite([("t", ["a", "b"], [("m%d" % i, "n%d" % i) for i in range(60)])])
    rng = random.Random(7)
    for _ in range(120):
        pos = rng.randrange(len(data))
        flipped = bytes([data[pos] ^ (1 << rng.randrange(8))]) if True else b""
        mutated = data[:pos] + flipped + data[pos + 1 :]
        doc = _doc_for(mutated)
        assert isinstance(doc["parse_ok"], bool)
        if not doc["parse_ok"]:
            assert doc["error"]


def test_adversarial_row_lands_in_sqlite_class():
    from tika_wrap_spark.corpus import N_ADVERSARIAL, adversarial_rows
    from tika_wrap_spark.corpus import generate_golden

    rows = adversarial_rows(0)
    assert len(rows) == N_ADVERSARIAL == 40
    golden = generate_golden(rows[20:21])  # the truncated-sqlite row
    assert not golden[0]["parse_ok"]
    assert golden[0]["error"].startswith("sqlite:")
