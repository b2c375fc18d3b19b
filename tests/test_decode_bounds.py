"""Every inflating call in ``core/`` is bounded by a max output length and
runs through ``errors.inflate`` (the two media reads aside), no
decompressor is ever ``flush()``ed, 7z and CAB bombs are refused under a
small memory bound, a PNG whose IDAT inflates far past its declared rows
is refused without being inflated, and the JPEG and GIF pixel decoders
stay within a small memory bound whatever their headers and LZW streams
declare."""

import ast
import bz2
import lzma
import random
import struct
import tracemalloc
import zlib
from pathlib import Path

import pytest

import tika_wrap_spark
from tika_wrap_spark.core.cabbin import _MSZIP_BLOCK, build_cab, parse_cab
from tika_wrap_spark.core.errors import MAX_INFLATED, ExtractError, inflate
from tika_wrap_spark.core.jpegbin import build_jpeg_pixels, jpeg_pixels
from tika_wrap_spark.core.media import (
    MAX_PIXELS,
    PNG_MAGIC,
    _png_chunk,
    gif_pixels,
    png_pixels,
)
from tika_wrap_spark.core.sevenzip import build_7z, parse_7z

CORE = Path(tika_wrap_spark.__file__).parent / "core"
# one-shot module functions: they take no output bound at all
ONE_SHOT = {"zlib", "lzma", "bz2", "gzip"}
# stdlib constructors of incremental decompressors
DECOMPRESSORS = {"decompressobj", "LZMADecompressor", "BZ2Decompressor"}
# the two media reads that return None instead of failing a row
MEDIA_READS = {"media.py:png_text_meta", "media.py:png_pixels"}


def _makes_decompressor(node: ast.AST) -> bool:
    return any(
        isinstance(n, ast.Call)
        and getattr(n.func, "attr", getattr(n.func, "id", "")) in DECOMPRESSORS
        for n in ast.walk(node)
    )


def decompressor_flushes() -> list[str]:
    """``flush()`` calls on a decompressor, made directly or through a name
    the same module assigns one to: a flush inflates the rest of the
    stream with no output bound."""
    bad = []
    for path in sorted(CORE.glob("*.py")):
        tree = ast.parse(path.read_text())
        names = {
            t.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Assign) and _makes_decompressor(n.value)
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "flush"
            ):
                continue
            recv = node.func.value
            if (isinstance(recv, ast.Name) and recv.id in names) or _makes_decompressor(recv):
                bad.append("%s:%d" % (path.name, node.lineno))
    return bad


def decompress_call_sites() -> set[str]:
    """``<file>:<function>`` of every stdlib ``.decompress(...)`` call (no
    hand-rolled decoder in ``core/`` has such a method)."""
    found = set()

    def visit(node: ast.AST, path: Path, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "decompress"
            ):
                found.add("%s:%s" % (path.name, fn))
            is_def = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, path, child.name if is_def else fn)

    for path in sorted(CORE.glob("*.py")):
        visit(ast.parse(path.read_text()), path, "<module>")
    return found


def unbounded_decompress_calls() -> list[str]:
    bad = []
    for path in sorted(CORE.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "decompress"
            ):
                continue
            recv = node.func.value
            one_shot = isinstance(recv, ast.Name) and recv.id in ONE_SHOT
            bounded = len(node.args) >= 2 or any(k.arg == "max_length" for k in node.keywords)
            if one_shot or not bounded:
                bad.append("%s:%d" % (path.name, node.lineno))
    return bad


def test_every_core_decompress_has_a_max_length():
    assert unbounded_decompress_calls() == []


def test_no_decompressor_is_flushed():
    assert decompressor_flushes() == []


def test_stdlib_decompress_runs_only_in_inflate():
    assert decompress_call_sites() - MEDIA_READS == {"errors.py:inflate"}


def _raw_deflate(data: bytes) -> bytes:
    c = zlib.compressobj(6, zlib.DEFLATED, -15)
    return c.compress(data) + c.flush()


CODECS = {  # name -> (compress, new decoder)
    "zlib": (zlib.compress, zlib.decompressobj),
    "deflate": (_raw_deflate, lambda: zlib.decompressobj(-15)),
    "xz": (lzma.compress, lzma.LZMADecompressor),
    "bz2": (bz2.compress, bz2.BZ2Decompressor),
}


@pytest.mark.parametrize("codec", sorted(CODECS))
def test_inflate_in_steps_equals_one_bounded_call(codec):
    """Output past one 1 MiB step, with and without a declared size either
    side of the true one: the same bytes, end-of-stream flag and trailing
    data as one ``decompress`` call bounded the same way."""
    compress, decoder = CODECS[codec]
    block = random.Random(3).randbytes(4096)
    for n in (1 << 20, (3 << 20) + 7):
        raw = (block * (n // 4096 + 1))[:n]
        data = compress(raw) + b"TAIL"
        for size in (None, n, n - 1, n + 5):
            ours, ref = decoder(), decoder()
            want = (MAX_INFLATED if size is None else size) + 1
            assert inflate(codec, ours, data, 0, size) == ref.decompress(data, want)
            assert (ours.eof, ours.unused_data) == (ref.eof, ref.unused_data)


def test_a_stream_within_one_step_costs_one_decompress_call():
    """KB-sized PDF Flate streams sit on the extraction hot path."""
    calls = []

    class Counting:
        def __init__(self):
            self.d = zlib.decompressobj()

        def decompress(self, *args):
            calls.append(args[1])
            return self.d.decompress(*args)

        def __getattr__(self, name):
            return getattr(self.d, name)

    assert inflate("pdf", Counting(), zlib.compress(b"x" * 5000)) == b"x" * 5000
    assert len(calls) == 1


def test_7z_folder_declared_past_the_budget_is_refused_before_decoding():
    """A ~30 KB 7z whose one LZMA2 folder declares 200 MiB of output."""
    data = build_7z([("big.txt", bytes(200 << 20))])
    assert len(data) < 64 << 10
    err, peak = _refusal(parse_7z, data)
    assert err == "7z: inflated payload exceeds %d bytes" % MAX_INFLATED
    assert peak < 8 << 20, peak


def test_cab_mszip_block_inflates_one_byte_past_its_bound():
    """A one-block cabinet whose ``CK`` block is the raw deflate of 60 MiB
    of zeros (~61 KB; its CFDATA checksum is 0, so it is not verified)."""
    c = zlib.compressobj(9, zlib.DEFLATED, -15)
    ab = b"CK" + c.compress(bytes(60 << 20)) + c.flush()
    cab = build_cab([("big.txt", bytes(_MSZIP_BLOCK))])
    coff_data = struct.unpack_from("<I", cab, 36)[0]  # the one CFFOLDER
    data = cab[:coff_data] + struct.pack("<IHH", 0, len(ab), _MSZIP_BLOCK) + ab
    assert len(data) < 64 << 10
    err, peak = _refusal(parse_cab, data)
    assert err == "cab: block inflated to %d, declared %d" % (_MSZIP_BLOCK + 1, _MSZIP_BLOCK)
    assert peak < 8 << 20, peak


def test_png_idat_bomb_is_refused_under_a_memory_bound():
    c = zlib.compressobj(9)
    chunk = bytes(1 << 20)
    idat = b"".join(c.compress(chunk) for _ in range(200)) + c.flush()  # 200 MiB
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0)
    png = (
        PNG_MAGIC + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )
    assert len(png) < 1 << 20
    got, peak = _peak(png_pixels, png)
    assert got is None
    assert peak < 8 << 20, peak


def _peak(fn, *args):
    """(fn(*args), peak traced bytes while it ran)."""
    tracemalloc.start()
    try:
        got = fn(*args)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    return got, peak


def _refusal(fn, *args):
    """(message of the ExtractError fn(*args) raises, peak traced bytes
    while it ran)."""
    tracemalloc.start()
    try:
        with pytest.raises(ExtractError) as exc:
            fn(*args)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    return str(exc.value), peak


def test_jpeg_sof_declaring_25m_pixels_is_refused_before_allocating():
    jpg = bytearray(build_jpeg_pixels(8, 8, bytes(range(192))))
    sof = jpg.index(b"\xff\xc0")
    assert struct.unpack_from(">HH", jpg, sof + 5) == (8, 8)  # height, width
    struct.pack_into(">HH", jpg, sof + 5, 5000, 5000)
    assert 5000 * 5000 > MAX_PIXELS and len(jpg) < 1024
    got, peak = _peak(jpeg_pixels, bytes(jpg))
    assert got is None
    assert peak < 8 << 20, peak


def test_jpeg_sof_under_the_cap_is_bounded_by_its_scan_data():
    # 4700x4700 passes MAX_PIXELS; the scans' few hundred bytes cannot code
    # its ~1M blocks, so the decoder must not size a store for them
    assert 4700 * 4700 <= MAX_PIXELS
    for progressive, sof_marker in ((False, b"\xff\xc0"), (True, b"\xff\xc2")):
        jpg = bytearray(build_jpeg_pixels(8, 8, bytes(range(192)), progressive=progressive))
        sof = jpg.index(sof_marker)
        assert struct.unpack_from(">HH", jpg, sof + 5) == (8, 8)  # height, width
        struct.pack_into(">HH", jpg, sof + 5, 4700, 4700)
        assert len(jpg) < 1024
        got, peak = _peak(jpeg_pixels, bytes(jpg))
        assert got is None
        assert peak < 8 << 20, (progressive, peak)


def _gif_1x1(codes: list[int]) -> bytes:
    """A 1x1 GIF (two-colour table, min code size 2) whose image data is
    ``codes``, packed LSB-first at the widths a decoder reads them with:
    every code after the first adds one table entry until 4096."""
    acc = nbits = 0
    width, size = 3, 6
    for i, code in enumerate(codes):
        acc |= code << nbits
        nbits += width
        if i >= 2 and size < 4096:  # codes after CLEAR and the first add one
            size += 1
        if size == 1 << width and width < 12:
            width += 1
    out = acc.to_bytes((nbits + 7) // 8, "little")
    blocks = b"".join(
        bytes([len(out[k : k + 255])]) + out[k : k + 255] for k in range(0, len(out), 255)
    )
    return (
        b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0x80, 0, 0) + b"\x10\x20\x30" * 2
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 1, 1, 0) + b"\x02"
        + blocks + b"\x00;"
    )


def test_gif_lzw_chain_stops_at_the_frames_pixels():
    # CLEAR, 0, then a KwKwK chain 6, 7, ... 4095 (each code one longer
    # than the last: ~8M indices) and 1,000 repeats of code 4095
    gif = _gif_1x1([4, 0] + list(range(6, 4096)) + [4095] * 1000 + [5])
    assert len(gif) < 8 << 10
    got, peak = _peak(gif_pixels, gif)
    assert got == (1, 1, b"\x10\x20\x30")
    assert peak < 8 << 20, peak


def test_gif_stream_malformed_past_its_pixels_decodes():
    # code 7 is past the table (6 entries): malformed, but after the one
    # index a 1x1 frame needs
    assert gif_pixels(_gif_1x1([4, 0, 7, 5])) == (1, 1, b"\x10\x20\x30")
