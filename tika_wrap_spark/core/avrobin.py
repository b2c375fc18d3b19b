"""Apache Avro object-container-file parsing — pure stdlib byte-layout
walk (varint/zigzag primitives, header metadata map, sync-marker-framed
blocks, null and deflate codecs), and a deterministic builder twin.

The reference reaches Avro through Tika (commons-compress /
tika-parser-serialization route the container format via the AutoParser
endpoint, /root/reference/src/java-env.cpp:313-314); data-lake corpora
carry .avro alongside parquet. The rebuild decodes the spec layout
natively (Avro 1.11 specification, "Object Container Files"):

    magic 'Obj\\x01'
    file metadata: an avro map<bytes> — blocks of zigzag count then
      (string key, bytes value) pairs, 0-count terminator; must carry
      ``avro.schema`` (JSON) and optionally ``avro.codec``
    16-byte sync marker
    data blocks: zigzag record count, zigzag byte size, payload
      (deflate-raw when codec=deflate), then the sync marker again —
      VERIFIED per block

Schema support is the practical tabular subset: a top-level ``record``
whose fields are primitives (null/boolean/int/long/float/double/
bytes/string) or a two-branch null union in either order
(``["null", primitive]`` or ``[primitive, "null"]``; the encoded branch
number indexes the union as written) — the shape tabular exports
actually use. Anything else raises an honest seam. Rows flatten
to one csv-shaped text block (field-name header + one comma-joined line
per record), the dbf/sqlite convention; field names land in the
``avro_fields`` meta key.

Malformed files (bad magic, missing schema, sync mismatch, truncated
varint/block, unsupported schema/codec, deflate blocks inflating past the
shared 64 MiB cap in total) raise
:class:`ExtractError` ("avro:" prefix) -> ``parse_ok=false`` rows, never
task failures. The extraction core hands it bytes (:func:`core.errors.payload_bytes`).
"""

from __future__ import annotations

import json
import struct
import zlib

from tika_wrap_spark.core.errors import ExtractError, inflate

AVRO_MAGIC = b"Obj\x01"
MAX_RECORDS = 100_000

_PRIMITIVES = (
    "null",
    "boolean",
    "int",
    "long",
    "float",
    "double",
    "bytes",
    "string",
)


class _Reader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0

    def varint(self) -> int:
        """Unsigned little-endian base-128 varint."""
        shift = 0
        out = 0
        while True:
            if self.pos >= len(self.data):
                raise ExtractError("avro: truncated varint")
            b = self.data[self.pos]
            self.pos += 1
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7
            if shift > 63:
                raise ExtractError("avro: varint overruns 64 bits")

    def zigzag(self) -> int:
        n = self.varint()
        return (n >> 1) ^ -(n & 1)

    def take(self, n: int) -> bytes:
        if n < 0 or self.pos + n > len(self.data):
            raise ExtractError("avro: truncated at byte %d" % self.pos)
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out

    def string(self) -> str:
        return self.take(self.zigzag()).decode("utf-8", "replace")


def _read_meta_map(r: _Reader) -> dict[str, bytes]:
    out: dict[str, bytes] = {}
    while True:
        count = r.zigzag()
        if count == 0:
            return out
        if count < 0:  # negative count: byte size precedes the items
            count = -count
            r.zigzag()
        for _ in range(count):
            key = r.string()
            out[key] = r.take(r.zigzag())


def _field_type(ftype) -> str:
    """Normalize a field schema to its primitive name: '?'-prefixed for a
    ["null", primitive] union, '?'-suffixed for [primitive, "null"].
    Raises on anything deeper."""
    if isinstance(ftype, str) and ftype in _PRIMITIVES:
        return ftype
    if isinstance(ftype, dict) and ftype.get("type") in _PRIMITIVES:
        return ftype["type"]
    if isinstance(ftype, list) and len(ftype) == 2 and "null" in ftype:
        null_first = ftype[0] == "null"
        other = ftype[1] if null_first else ftype[0]
        if isinstance(other, str) and other in _PRIMITIVES:
            return "?" + other if null_first else other + "?"
    raise ExtractError("avro: unsupported field schema %r" % (ftype,))


def _decode_value(r: _Reader, ftype: str):
    if "?" in ftype:
        branch = r.zigzag()
        if branch not in (0, 1):
            raise ExtractError("avro: bad union branch %d" % branch)
        # the branch indexes the union as written: the null branch is 0
        # for ["null", X] ('?X') and 1 for [X, "null"] ('X?')
        if branch == (0 if ftype[0] == "?" else 1):
            return None
        return _decode_value(r, ftype.strip("?"))
    if ftype == "null":
        return None
    if ftype == "boolean":
        b = r.take(1)[0]
        if b > 1:
            raise ExtractError("avro: bad boolean byte 0x%02x" % b)
        return bool(b)
    if ftype in ("int", "long"):
        return r.zigzag()
    if ftype == "float":
        return struct.unpack("<f", r.take(4))[0]
    if ftype == "double":
        return struct.unpack("<d", r.take(8))[0]
    if ftype == "bytes":
        return r.take(r.zigzag())
    return r.string()  # string


def _render(v) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, float):
        return "%.6g" % v
    return str(v)


def avro_extract(data: bytes) -> tuple[str, str]:
    """-> (csv-shaped text block, comma-joined field names)."""
    if not data.startswith(AVRO_MAGIC):
        raise ExtractError("avro: bad magic")
    r = _Reader(data)
    r.pos = 4
    meta = _read_meta_map(r)
    if "avro.schema" not in meta:
        raise ExtractError("avro: missing avro.schema metadata")
    try:
        schema = json.loads(meta["avro.schema"])
    except ValueError as exc:
        raise ExtractError("avro: bad schema json: %s" % exc)
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        raise ExtractError("avro: only record schemas are supported")
    raw_fields = schema.get("fields", [])
    if not isinstance(raw_fields, list):
        raise ExtractError("avro: bad field schema list %r" % (raw_fields,))
    fields = []
    for f in raw_fields:
        if not (isinstance(f, dict) and isinstance(f.get("name"), str) and "type" in f):
            raise ExtractError("avro: bad field schema %r" % (f,))
        fields.append((f["name"], _field_type(f["type"])))
    if not fields:
        raise ExtractError("avro: record schema has no fields")
    codec = meta.get("avro.codec", b"null").decode("latin-1")
    if codec not in ("null", "deflate"):
        raise ExtractError("avro: unsupported codec %r" % codec)
    sync = r.take(16)

    lines = [",".join(name for name, _t in fields)]
    n_records = 0
    inflated = 0
    while r.pos < len(r.data):
        count = r.zigzag()
        size = r.zigzag()
        if count < 0 or size < 0:
            raise ExtractError("avro: negative block framing")
        block = r.take(size)
        if codec == "deflate":
            # a block that stops short of its end marker is truncated
            d = zlib.decompressobj(-15)
            block = inflate("avro", d, block, inflated)
            inflated += len(block)
            if not d.eof:
                raise ExtractError("avro: truncated deflate block")
        if r.take(16) != sync:
            raise ExtractError("avro: sync marker mismatch after block")
        br = _Reader(block)
        for _ in range(count):
            n_records += 1
            if n_records > MAX_RECORDS:
                raise ExtractError("avro: more than %d records" % MAX_RECORDS)
            lines.append(
                ",".join(_render(_decode_value(br, t)) for _n, t in fields)
            )
        if br.pos != len(block):
            raise ExtractError("avro: trailing bytes inside block")
    return "\n".join(lines), ",".join(name for name, _t in fields)


# ---------------------------------------------------------------- builder


def _w_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _w_zigzag(n: int) -> bytes:
    return _w_varint((n << 1) ^ (n >> 63) if n < 0 else n << 1)


def _w_bytes(b: bytes) -> bytes:
    return _w_zigzag(len(b)) + b


def _encode_value(v, ftype: str) -> bytes:
    if "?" in ftype:
        null_branch = 0 if ftype[0] == "?" else 1
        if v is None:
            return _w_zigzag(null_branch)
        return _w_zigzag(1 - null_branch) + _encode_value(v, ftype.strip("?"))
    if ftype == "null":
        return b""
    if ftype == "boolean":
        return b"\x01" if v else b"\x00"
    if ftype in ("int", "long"):
        return _w_zigzag(int(v))
    if ftype == "float":
        return struct.pack("<f", v)
    if ftype == "double":
        return struct.pack("<d", v)
    if ftype == "bytes":
        return _w_bytes(v)
    return _w_bytes(str(v).encode("utf-8"))


def build_avro(
    fields: list[tuple[str, str]],
    rows: list[list],
    codec: str = "null",
    block_records: int = 64,
) -> bytes:
    """Serialize rows as an Avro object container file. ``fields`` uses the
    same type notation the reader emits ('long', 'string', '?string',
    'string?', ...);
    the sync marker derives deterministically from the schema+row count."""
    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {
                "name": n,
                "type": (
                    ["null", t[1:]] if t.startswith("?")
                    else [t[:-1], "null"] if t.endswith("?")
                    else t
                ),
            }
            for n, t in fields
        ],
    }
    schema_json = json.dumps(schema, separators=(",", ":"), sort_keys=True)
    import hashlib

    sync = hashlib.md5(
        (schema_json + "|%d" % len(rows)).encode()
    ).digest()
    out = bytearray(AVRO_MAGIC)
    meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    out += _w_zigzag(len(meta))
    for k, v in sorted(meta.items()):
        out += _w_bytes(k.encode()) + _w_bytes(v)
    out += _w_zigzag(0)
    out += sync
    for start in range(0, len(rows), block_records):
        chunk = rows[start : start + block_records]
        body = b"".join(
            b"".join(_encode_value(v, t) for v, (_n, t) in zip(row, fields))
            for row in chunk
        )
        if codec == "deflate":
            c = zlib.compressobj(6, zlib.DEFLATED, -15)
            body = c.compress(body) + c.flush()
        out += _w_zigzag(len(chunk)) + _w_zigzag(len(body)) + body + sync
    return bytes(out)


def build_avro_text(
    fields: list[tuple[str, str]], rows: list[list], codec: str = "null"
) -> str:
    return build_avro(fields, rows, codec).decode("latin-1")
