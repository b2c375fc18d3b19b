"""Avro object-container parsing/building (core/avrobin.py): spec-pinned
varint/zigzag primitives, header metadata map, sync-marker-framed blocks,
null and deflate codecs, and the tabular schema subset."""

from __future__ import annotations

import pytest

from tika_wrap_spark.core.avrobin import (
    _Reader,
    _w_zigzag,
    avro_extract,
    build_avro,
    build_avro_text,
)
from tika_wrap_spark.core.errors import ExtractError
from tika_wrap_spark.core.extract import extract_document
from tika_wrap_spark.core.sniff import sniff_kind

FIELDS = [
    ("id", "long"),
    ("name", "string"),
    ("score", "double"),
    ("tag", "?string"),
    ("ok", "boolean"),
    ("blob", "bytes"),
]
ROWS = [
    [1, "alpha", 3.25, None, True, b"\x00\xff"],
    [-7, "béta", -0.5, "x", False, b""],
    [2**40, "wide", 1e9, None, True, b"\x01"],
]


def test_zigzag_spec_vectors():
    # Avro spec examples: 0->0, -1->1, 1->2, -2->3, 2->4
    for value, wire in ((0, b"\x00"), (-1, b"\x01"), (1, b"\x02"), (-2, b"\x03"), (2, b"\x04")):
        assert _w_zigzag(value) == wire
        r = _Reader(wire)
        assert r.zigzag() == value
    # multi-byte: 64 -> 0x80 0x01
    assert _w_zigzag(64) == b"\x80\x01"
    assert _Reader(b"\x80\x01").zigzag() == 64


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_roundtrip(codec):
    text, fields = avro_extract(build_avro(FIELDS, ROWS, codec=codec))
    lines = text.split("\n")
    assert fields == "id,name,score,tag,ok,blob"
    assert lines[0] == fields
    assert lines[1] == "1,alpha,3.25,,true,00ff"
    assert lines[2] == "-7,béta,-0.5,x,false,"
    assert lines[3].startswith(str(2**40) + ",wide,1e+09,,true,01")


def test_multi_block_framing():
    rows = [[i, "r%d" % i, 0.5, None, True, b""] for i in range(300)]
    text, _f = avro_extract(build_avro(FIELDS, rows, block_records=64))
    assert len(text.split("\n")) == 301


def test_sniff_routes_avro():
    assert sniff_kind(build_avro_text([("a", "long")], [[1]]), "") == "avro"
    # 'Obj' prose without the version byte must fall through
    assert sniff_kind("Object lesson in sniffing", "") == "text"


def test_sync_corruption_raises():
    data = bytearray(build_avro(FIELDS, ROWS))
    data[-1] ^= 0xFF
    with pytest.raises(ExtractError, match="sync marker mismatch"):
        avro_extract(bytes(data))


def test_truncated_raises():
    data = build_avro(FIELDS, ROWS)
    with pytest.raises(ExtractError, match="avro:"):
        avro_extract(data[: len(data) // 2])


def test_missing_schema_raises():
    # magic + empty metadata map + sync: no avro.schema
    data = b"Obj\x01" + b"\x00" + b"\x00" * 16
    with pytest.raises(ExtractError, match="missing avro.schema"):
        avro_extract(data)


def test_unsupported_schema_raises():
    import json

    schema = json.dumps({"type": "record", "name": "r",
                         "fields": [{"name": "m", "type": {"type": "map", "values": "string"}}]})
    meta = b"\x02" + b"\x16avro.schema" + _w_zigzag(len(schema)) + schema.encode()
    data = b"Obj\x01" + meta + b"\x00" + b"\x00" * 16
    with pytest.raises(ExtractError, match="unsupported field schema"):
        avro_extract(data)


def test_text_bridge():
    t = build_avro_text([("id", "long")], [[5], [6]])
    res = extract_document([{"text": t, "media_ref": ""}])
    assert res["meta"]["avro_fields"] == "id"
    assert [s["text"] for s in res["spans"]] == ["id\n5\n6"]


def test_deflate_bomb_block_hits_the_shared_cap():
    """A deflate block that inflates past the 64 MiB cap must stop at the
    cap and land in the ``bomb`` class, never inflate in full."""
    import zlib

    from tika_wrap_spark.core.errors import MAX_INFLATED

    header = build_avro([("id", "long")], [], codec="deflate")
    sync = header[-16:]
    c = zlib.compressobj(9, zlib.DEFLATED, -15)
    body = c.compress(b"\x00" * (65 * 1024 * 1024)) + c.flush()
    data = header + _w_zigzag(1) + _w_zigzag(len(body)) + body + sync
    with pytest.raises(ExtractError, match="avro: inflated payload exceeds %d" % MAX_INFLATED):
        avro_extract(data)


def test_truncated_deflate_block_raises():
    import zlib

    header = build_avro([("id", "long")], [], codec="deflate")
    c = zlib.compressobj(6, zlib.DEFLATED, -15)
    body = (c.compress(b"\x02" * 64) + c.flush())[:-2]  # no end-of-stream
    data = header + _w_zigzag(64) + _w_zigzag(len(body)) + body + header[-16:]
    with pytest.raises(ExtractError, match="avro: truncated deflate block"):
        avro_extract(data)


@pytest.mark.parametrize("ftype", ["?string", "string?"])
def test_null_union_in_either_order(ftype):
    """The union branch indexes the schema as written: ["null","string"]
    encodes a string as branch 1, ["string","null"] as branch 0."""
    data = build_avro([("tag", ftype)], [["x"], [None], ["yz"]])
    string_branch = b"\x02" if ftype == "?string" else b"\x00"
    assert string_branch + b"\x02x" in data  # branch, zigzag length 1, 'x'
    text, _f = avro_extract(data)
    assert text.split("\n") == ["tag", "x", "", "yz"]


def _schema_file(fields) -> bytes:
    import json

    schema = json.dumps({"type": "record", "name": "r", "fields": fields})
    meta = b"\x02" + b"\x16avro.schema" + _w_zigzag(len(schema)) + schema.encode()
    return b"Obj\x01" + meta + b"\x00" + b"\x00" * 16


@pytest.mark.parametrize(
    "fields",
    [
        ["id"],  # not a dict
        [{"type": "long"}],  # no name
        [{"name": "id"}],  # no type
        [{"name": 7, "type": "long"}],  # name not a string
        "id",  # fields not a list
    ],
)
def test_bad_field_schema_raises(fields):
    with pytest.raises(ExtractError, match="avro: bad field schema"):
        avro_extract(_schema_file(fields))


def test_corpus_bitflip_in_field_schema_is_a_row():
    """Bit 0 of byte 51 of a corpus avro payload turns a field's "name" key
    into "oame": the schema error must be an ``avro:`` row, not escape as an
    ``internal:`` KeyError."""
    from tika_wrap_spark.core.extract import extract_document
    from tika_wrap_spark.corpus import gen_doc

    (span,) = gen_doc(422, 42)["spans"]
    text = span["text"]
    flipped = text[:51] + chr(ord(text[51]) ^ 1) + text[52:]
    res = extract_document([{"text": flipped, "media_ref": ""}])
    assert not res["parse_ok"]
    assert res["error"].startswith("avro: bad field schema")
