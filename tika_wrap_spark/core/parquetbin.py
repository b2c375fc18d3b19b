"""Apache Parquet file parsing — hand-rolled footer walk: Thrift compact
protocol, PLAIN-encoded v1 data pages, RLE/bit-packed definition levels —
with pyarrow (the reference Arrow C++ writer) as the builder twin.

Parquet is the data-lake sibling of Avro; Tika detects
``application/vnd.apache.parquet`` via the same container sniffing the
reference delegates (AutoParser endpoint,
/root/reference/src/java-env.cpp:313-314), and a 100 TB training corpus
ships its tabular slices in exactly this format. The rebuild reads the
public format spec natively (parquet-format: Thrift compact metadata,
PAR1 framing):

* footer: ``PAR1`` magic at both ends; 4-byte LE metadata length ahead
  of the tail magic; FileMetaData as a Thrift COMPACT struct (varint /
  zigzag field headers, short-form lists, nested structs);
* schema: the flat tabular subset — a root group of REQUIRED/OPTIONAL
  primitive columns (INT32/INT64/FLOAT/DOUBLE/BOOLEAN/BYTE_ARRAY);
  nested groups raise an honest seam;
* column chunks: UNCOMPRESSED codec + PLAIN encoding only (dictionary
  pages, Snappy/ZSTD codecs and v2 pages raise — the declared seam;
  the corpus builder writes the supported shape);
* v1 data pages: optional columns carry RLE/bit-packed-hybrid
  definition levels (4-byte length prefix, bit width from the max
  level); values decode per the PLAIN layout (LE fixed-width scalars,
  u32-length-prefixed byte arrays, LSB bit-packed booleans).

Rows flatten to one csv-shaped text block (field-name header + one
comma-joined line per row), the avro/dbf/sqlite convention; column names
land in the ``parquet_columns`` meta key.

Malformed files (bad magic/footer, thrift overruns, page underflow,
unsupported codec/encoding/schema, over-budget sizes) raise
:class:`ExtractError` ("parquet:" prefix) -> ``parse_ok=false`` rows,
never task failures. The extraction core hands it bytes (:func:`core.errors.payload_bytes`).
"""

from __future__ import annotations

import struct

from tika_wrap_spark.core.errors import ExtractError

PARQUET_MAGIC = b"PAR1"
MAX_ROWS = 100_000
MAX_METADATA = 8 * 1024 * 1024

# thrift compact type codes
_T_STOP = 0
_T_TRUE = 1
_T_FALSE = 2
_T_BYTE = 3
_T_I16 = 4
_T_I32 = 5
_T_I64 = 6
_T_DOUBLE = 7
_T_BINARY = 8
_T_LIST = 9
_T_SET = 10
_T_MAP = 11
_T_STRUCT = 12

# parquet physical types
_P_BOOLEAN, _P_INT32, _P_INT64, _P_INT96, _P_FLOAT, _P_DOUBLE, _P_BYTE_ARRAY = (
    0,
    1,
    2,
    3,
    4,
    5,
    6,
)


class _TReader:
    """Thrift compact-protocol reader producing {field_id: value} dicts."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    def _byte(self) -> int:
        if self.pos >= len(self.data):
            raise ExtractError("parquet: thrift overruns buffer")
        b = self.data[self.pos]
        self.pos += 1
        return b

    def varint(self) -> int:
        out = 0
        shift = 0
        while True:
            b = self._byte()
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7
            if shift > 63:
                raise ExtractError("parquet: varint overruns 64 bits")

    def zigzag(self) -> int:
        n = self.varint()
        return (n >> 1) ^ -(n & 1)

    def take(self, n: int) -> bytes:
        if n < 0 or self.pos + n > len(self.data):
            raise ExtractError("parquet: thrift overruns buffer")
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out

    def value(self, ttype: int):
        if ttype in (_T_TRUE, _T_FALSE):
            return ttype == _T_TRUE
        if ttype == _T_BYTE:
            return struct.unpack("b", self.take(1))[0]
        if ttype in (_T_I16, _T_I32, _T_I64):
            return self.zigzag()
        if ttype == _T_DOUBLE:
            return struct.unpack("<d", self.take(8))[0]
        if ttype == _T_BINARY:
            return self.take(self.varint())
        if ttype == _T_LIST or ttype == _T_SET:
            head = self._byte()
            size = head >> 4
            etype = head & 0x0F
            if size == 15:
                size = self.varint()
            if size > 1_000_000:
                raise ExtractError("parquet: implausible thrift list size")
            if etype in (_T_TRUE, _T_FALSE):
                # element booleans are written as full type bytes
                return [self._byte() == _T_TRUE for _ in range(size)]
            return [self.value(etype) for _ in range(size)]
        if ttype == _T_MAP:
            size = self.varint()
            if size == 0:
                return {}
            kv = self._byte()
            ktype, vtype = kv >> 4, kv & 0x0F
            if ktype in (_T_LIST, _T_SET, _T_MAP, _T_STRUCT):
                raise ExtractError("parquet: unhashable thrift map key type")
            return {
                self.value(ktype): self.value(vtype) for _ in range(size)
            }
        if ttype == _T_STRUCT:
            return self.struct()
        raise ExtractError("parquet: unsupported thrift type %d" % ttype)

    def struct(self) -> dict:
        out: dict = {}
        field_id = 0
        while True:
            head = self._byte()
            if head == _T_STOP:
                return out
            delta = head >> 4
            ttype = head & 0x0F
            if delta:
                field_id += delta
            else:
                field_id = self.zigzag()
            out[field_id] = self.value(ttype)


def _get(struct_: dict, field_id: int, ftype: type, default=None):
    """A decoded thrift field, type-checked: a corrupt footer or page
    header can decode any field id as any thrift type."""
    if field_id not in struct_:
        return default
    value = struct_[field_id]
    if type(value) is not ftype:  # exact: a thrift bool is not an i32
        raise ExtractError(
            "parquet: bad footer field %d (%s, want %s)"
            % (field_id, type(value).__name__, ftype.__name__)
        )
    return value


def _structs(struct_: dict, field_id: int) -> list[dict]:
    """A list<struct> field; [] when absent."""
    items = _get(struct_, field_id, list, [])
    for item in items:
        if type(item) is not dict:
            raise ExtractError(
                "parquet: bad footer field %d (list of %s, want dict)"
                % (field_id, type(item).__name__)
            )
    return items


def _rle_hybrid_levels(data: bytes, bit_width: int, count: int) -> list[int]:
    """RLE/bit-packed hybrid decode (parquet-format Encodings.md) for
    definition levels: alternating varint-headed RLE runs and
    bit-packed-groups-of-8 runs."""
    out: list[int] = []
    pos = 0
    mask = (1 << bit_width) - 1
    byte_w = (bit_width + 7) // 8
    while len(out) < count:
        # varint header
        header = 0
        shift = 0
        while True:
            if pos >= len(data):
                raise ExtractError("parquet: level run overruns buffer")
            b = data[pos]
            pos += 1
            header |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        if header & 1:  # bit-packed: (header>>1) groups of 8 values
            n_groups = header >> 1
            n_bytes = n_groups * bit_width
            if pos + n_bytes > len(data):
                raise ExtractError("parquet: bit-packed run overruns buffer")
            bits = int.from_bytes(data[pos : pos + n_bytes], "little")
            pos += n_bytes
            for i in range(n_groups * 8):
                out.append((bits >> (i * bit_width)) & mask)
        else:  # RLE run: (header >> 1) repeats of a byte_w LE value
            if pos + byte_w > len(data):
                raise ExtractError("parquet: rle run overruns buffer")
            v = int.from_bytes(data[pos : pos + byte_w], "little") & mask
            pos += byte_w
            out.extend([v] * (header >> 1))
    return out[:count]


_FIXED_WIDTH = {_P_INT32: "i", _P_INT64: "q", _P_FLOAT: "f", _P_DOUBLE: "d"}


def _plain_values(data: bytes, ptype: int, n: int) -> tuple[list, int]:
    """Decode n PLAIN values of the physical type; -> (values, consumed)."""
    code = _FIXED_WIDTH.get(ptype)
    if code is not None:
        end = n * struct.calcsize(code)
        if n < 0 or end > len(data):
            raise ExtractError("parquet: values overrun page")
        return list(struct.unpack_from("<%d%s" % (n, code), data, 0)), end
    if ptype == _P_BOOLEAN:
        end = (n + 7) // 8
        if n < 0 or end > len(data):
            raise ExtractError("parquet: values overrun page")
        bits = int.from_bytes(data[:end], "little")
        return [bool((bits >> i) & 1) for i in range(n)], end
    if ptype == _P_BYTE_ARRAY:
        out = []
        pos = 0
        for _ in range(n):
            if pos + 4 > len(data):
                raise ExtractError("parquet: byte-array length overruns page")
            ln = struct.unpack_from("<I", data, pos)[0]
            pos += 4
            if pos + ln > len(data):
                raise ExtractError("parquet: byte-array value overruns page")
            out.append(data[pos : pos + ln])
            pos += ln
        return out, pos
    raise ExtractError("parquet: unsupported physical type %d" % ptype)


def _render(v) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, float):
        return "%.6g" % v
    return str(v)


def parquet_extract(data: bytes) -> tuple[str, str]:
    """-> (csv-shaped text block, comma-joined column names)."""
    n = len(data)
    if n < 12 or not data.startswith(PARQUET_MAGIC) or data[-4:] != PARQUET_MAGIC:
        raise ExtractError("parquet: bad magic framing")
    meta_len = struct.unpack_from("<I", data, n - 8)[0]
    if meta_len > MAX_METADATA or 8 + meta_len > n - 4:
        raise ExtractError("parquet: implausible footer length %d" % meta_len)
    fmeta = _TReader(data, n - 8 - meta_len).struct()

    schema = _structs(fmeta, 2)
    row_groups = _structs(fmeta, 4)
    if not schema:
        raise ExtractError("parquet: missing schema")
    root = schema[0]
    n_children = root.get(5, 0)
    cols: list[tuple[str, int, bool]] = []  # (name, ptype, optional)
    for el in schema[1:]:
        if el.get(5):  # num_children on a non-root element
            raise ExtractError("parquet: nested schemas are not supported")
        name = _get(el, 4, bytes, b"").decode("utf-8", "replace")
        ptype = _get(el, 1, int)
        if ptype is None or ptype == _P_INT96:
            raise ExtractError("parquet: unsupported column type for %r" % name)
        optional = el.get(3, 0) == 1
        cols.append((name, ptype, optional))
    if len(cols) != n_children or not cols:
        raise ExtractError("parquet: schema shape mismatch")

    columns: list[list] = [[] for _ in cols]
    total_rows = 0
    for rg in row_groups:
        chunks = _structs(rg, 1)
        rg_rows = _get(rg, 3, int, 0)
        total_rows += rg_rows
        if total_rows > MAX_ROWS:
            raise ExtractError("parquet: more than %d rows" % MAX_ROWS)
        if len(chunks) != len(cols):
            raise ExtractError("parquet: row group chunk count mismatch")
        for ci, chunk in enumerate(chunks):
            md = chunk.get(3)
            if not isinstance(md, dict):
                raise ExtractError("parquet: column chunk missing metadata")
            if md.get(4, 0) != 0:
                raise ExtractError("parquet: unsupported compression codec")
            num_values = _get(md, 5, int, 0)
            off = _get(md, 9, int)
            if off is None or off < 0 or off >= n:
                raise ExtractError("parquet: bad data page offset")
            name, ptype, optional = cols[ci]
            got = 0
            pos = off
            while got < num_values:
                tr = _TReader(data, pos)
                ph = tr.struct()
                pos = tr.pos
                page_type = _get(ph, 1, int)
                comp_size = _get(ph, 3, int, 0)
                if comp_size < 0 or pos + comp_size > n:
                    raise ExtractError("parquet: page overruns file")
                body = data[pos : pos + comp_size]
                pos += comp_size
                if page_type == 2:  # dictionary page
                    raise ExtractError(
                        "parquet: dictionary encoding is not supported"
                    )
                if page_type != 0:
                    raise ExtractError(
                        "parquet: unsupported page type %r" % page_type
                    )
                dph = ph.get(5)
                if not isinstance(dph, dict):
                    raise ExtractError("parquet: missing data page header")
                pv = _get(dph, 1, int, 0)
                if dph.get(2) != 0:
                    raise ExtractError(
                        "parquet: unsupported value encoding (PLAIN only)"
                    )
                present = [True] * pv
                if optional:
                    if len(body) < 4:
                        raise ExtractError("parquet: truncated level block")
                    lv_len = struct.unpack_from("<I", body, 0)[0]
                    if 4 + lv_len > len(body):
                        raise ExtractError("parquet: level block overruns page")
                    levels = _rle_hybrid_levels(body[4 : 4 + lv_len], 1, pv)
                    body = body[4 + lv_len :]
                    present = [lv == 1 for lv in levels]
                n_present = sum(present)
                values, _used = _plain_values(body, ptype, n_present)
                it = iter(values)
                col = columns[ci]
                for p in present:
                    col.append(next(it) if p else None)
                got += pv

    n_rows = max((len(c) for c in columns), default=0)
    if any(len(c) != n_rows for c in columns):
        raise ExtractError("parquet: ragged column lengths")
    header = ",".join(name for name, _t, _o in cols)
    lines = [header]
    for r in range(n_rows):
        lines.append(",".join(_render(columns[c][r]) for c in range(len(cols))))
    return "\n".join(lines), header


def build_parquet(
    names: list[str],
    rows: list[list],
    types: list[str] | None = None,
    row_group_size: int | None = None,
) -> bytes:
    """Builder twin via pyarrow — the reference Arrow C++ writer — pinned
    to the reader-supported shape: uncompressed, no dictionary, v1 data
    pages, no statistics. ``types`` entries: 'long'/'double'/'string'/
    'bool' with a '?' prefix for nullable columns."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    type_map = {
        "long": pa.int64(),
        "int": pa.int32(),
        "double": pa.float64(),
        "float": pa.float32(),
        "string": pa.string(),
        "bool": pa.bool_(),
    }
    if types is None:
        types = ["string"] * len(names)
    fields = []
    for nm, t in zip(names, types):
        nullable = t.startswith("?")
        fields.append(pa.field(nm, type_map[t.lstrip("?")], nullable=nullable))
    schema = pa.schema(fields)
    table = pa.table(
        {nm: [row[i] for row in rows] for i, nm in enumerate(names)},
        schema=schema,
    )
    buf = io.BytesIO()
    pq.write_table(
        table,
        buf,
        compression="NONE",
        use_dictionary=False,
        data_page_version="1.0",
        write_statistics=False,
        store_schema=False,
        row_group_size=row_group_size,
    )
    return buf.getvalue()


def build_parquet_text(
    names: list[str],
    rows: list[list],
    types: list[str] | None = None,
    row_group_size: int | None = None,
) -> str:
    return build_parquet(names, rows, types, row_group_size).decode("latin-1")
