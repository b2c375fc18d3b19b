"""Parquet parsing (core/parquetbin.py): hand-rolled Thrift-compact
footer walk + PLAIN v1 pages + RLE/bit-packed definition levels,
cross-validated against pyarrow — the reference Arrow C++ writer builds
every fixture, so reader agreement IS reference agreement (the
sqlite/plist discipline)."""

from __future__ import annotations

import pytest

from tika_wrap_spark.core.errors import ExtractError
from tika_wrap_spark.core.extract import extract_document
from tika_wrap_spark.core.parquetbin import (
    build_parquet,
    build_parquet_text,
    parquet_extract,
)
from tika_wrap_spark.core.sniff import sniff_kind

NAMES = ["id", "name", "score", "ok", "tag"]
TYPES = ["long", "string", "double", "bool", "?string"]
ROWS = [
    [1, "alpha", 1.5, True, None],
    [2, "bb", -2.25, False, "x"],
    [3, "ccc", 1e9, True, None],
]


def test_roundtrip_flat_required_and_nullable():
    text, cols = parquet_extract(build_parquet(NAMES, ROWS * 40, TYPES))
    lines = text.split("\n")
    assert cols == "id,name,score,ok,tag"
    assert lines[0] == cols and len(lines) == 121
    assert lines[1] == "1,alpha,1.5,true,"
    assert lines[2] == "2,bb,-2.25,false,x"
    assert lines[3] == "3,ccc,1e+09,true,"


def test_multiple_row_groups_identical():
    one = parquet_extract(build_parquet(NAMES, ROWS * 40, TYPES))
    many = parquet_extract(
        build_parquet(NAMES, ROWS * 40, TYPES, row_group_size=16)
    )
    assert one == many


def test_all_null_and_all_set_nullable_pages():
    rows = [[i, None] for i in range(20)] + [[99, "set"]]
    text, _c = parquet_extract(build_parquet(["a", "b"], rows, ["long", "?string"]))
    lines = text.split("\n")
    assert lines[1] == "0," and lines[-1] == "99,set"


def test_int32_and_float32():
    rows = [[1, 0.5], [2, -1.5]]
    text, _c = parquet_extract(build_parquet(["a", "b"], rows, ["int", "float"]))
    assert text.split("\n")[1:] == ["1,0.5", "2,-1.5"]


def test_utf8_values():
    text, _c = parquet_extract(
        build_parquet(["s"], [["déjà vu"], ["日本語"]], ["string"])
    )
    assert text.split("\n")[1:] == ["déjà vu", "日本語"]


def test_sniff_routes_parquet():
    assert sniff_kind(build_parquet_text(["a"], [[1]], ["long"]), "") == "parquet"
    # one-sided magic / short payloads must fall through
    assert sniff_kind("PAR1 is the magic word", "") == "text"
    assert sniff_kind("PAR1PAR1", "") == "text"


def test_bad_framing_raises():
    data = build_parquet(["a"], [[1]], ["long"])
    with pytest.raises(ExtractError, match="parquet:"):
        parquet_extract(data[:-4])  # tail magic gone
    with pytest.raises(ExtractError, match="parquet:"):
        parquet_extract(b"XXXX" + data[4:])


def test_corrupt_footer_length_raises():
    data = bytearray(build_parquet(["a"], [[1]], ["long"]))
    data[-6] = 0xFF  # high byte of the LE metadata length
    with pytest.raises(ExtractError, match="implausible footer length"):
        parquet_extract(bytes(data))


def test_dictionary_encoding_rejected():
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({"s": ["a", "a", "b"] * 50})
    buf = io.BytesIO()
    pq.write_table(t, buf, compression="NONE", use_dictionary=True)
    with pytest.raises(ExtractError, match="parquet:"):
        parquet_extract(buf.getvalue())


def test_compressed_codec_rejected():
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({"s": ["abc"] * 50})
    buf = io.BytesIO()
    pq.write_table(t, buf, compression="snappy", use_dictionary=False)
    with pytest.raises(ExtractError, match="parquet:"):
        parquet_extract(buf.getvalue())


def test_nested_schema_rejected():
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({"m": [{"x": 1}, {"x": 2}]})
    buf = io.BytesIO()
    pq.write_table(t, buf, compression="NONE", use_dictionary=False)
    with pytest.raises(ExtractError, match="nested schemas"):
        parquet_extract(buf.getvalue())


def test_text_bridge():
    t = build_parquet_text(["id"], [[5], [6]], ["long"])
    res = extract_document([{"text": t, "media_ref": ""}])
    assert res["meta"]["parquet_columns"] == "id"
    assert [s["text"] for s in res["spans"]] == ["id\n5\n6"]


@pytest.mark.parametrize(
    "ptype,width", [("INT32", 4), ("INT64", 8), ("FLOAT", 4), ("DOUBLE", 8)]
)
def test_truncated_fixed_width_page_raises(ptype, width):
    """INT32/INT64/FLOAT/DOUBLE values past the end of the page are a
    'parquet:' error, not an escaping struct.error (-> 'internal:')."""
    from tika_wrap_spark.core import parquetbin

    ptype = getattr(parquetbin, "_P_" + ptype)
    _plain_values = parquetbin._plain_values
    values, end = _plain_values(b"\x00" * (3 * width), ptype, 3)
    assert len(values) == 3 and end == 3 * width
    with pytest.raises(ExtractError, match="parquet: values overrun page"):
        _plain_values(b"\x00" * (3 * width - 1), ptype, 3)


# single-bit flips of one corpus parquet payload (gen_doc(390, 42)), one
# per place where a mistyped footer or page-header field used to escape as
# a TypeError/AttributeError (-> 'internal:') instead of a 'parquet:' row
_FOOTER_FLIPS = {
    "page offset is a double": (818, 0),
    "physical type is binary": (728, 2),
    "schema list holds binaries": (709, 2),
    "column name is a list": (727, 0),
    "row groups is an i32": (777, 4),
    "row groups is a binary": (778, 2),
    "row count is a list": (792, 5),
    "column chunks is a bool": (792, 3),
    "column chunks hold binaries": (793, 2),
    "page offset is a list": (804, 0),
    "value count is a list": (803, 5),
    "page size is a struct": (12, 0),
    "page size is a double": (8, 1),
    "page type is missing": (4, 5),
}


@pytest.mark.parametrize("pos,bit", _FOOTER_FLIPS.values(), ids=list(_FOOTER_FLIPS))
def test_corpus_bitflip_in_footer_is_a_row(pos, bit):
    from tika_wrap_spark.corpus import gen_doc

    (span,) = gen_doc(390, 42)["spans"]
    text = span["text"]
    flipped = text[:pos] + chr(ord(text[pos]) ^ (1 << bit)) + text[pos + 1 :]
    with pytest.raises(ExtractError, match="parquet: "):
        parquet_extract(flipped.encode("latin-1"))
    assert extract_document([{"text": flipped, "media_ref": ""}])["error"].startswith(
        "parquet: "
    )


def test_struct_map_key_raises():
    """A thrift map keyed by a struct cannot become a dict key."""
    from tika_wrap_spark.core.parquetbin import _T_MAP, _TReader

    # one entry, key type struct (an empty one), value type i32
    with pytest.raises(ExtractError, match="parquet: unhashable thrift map key"):
        _TReader(b"\x01\xc5\x00\x02").value(_T_MAP)
