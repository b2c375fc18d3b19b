"""Every inflating call in ``core/`` is bounded by a max output length, a
PNG whose IDAT inflates far past its declared rows is refused without
being inflated, and the JPEG and GIF pixel decoders stay within a small
memory bound whatever their headers and LZW streams declare."""

import ast
import struct
import tracemalloc
import zlib
from pathlib import Path

import tika_wrap_spark
from tika_wrap_spark.core.jpegbin import build_jpeg_pixels, jpeg_pixels
from tika_wrap_spark.core.media import (
    MAX_PIXELS,
    PNG_MAGIC,
    _png_chunk,
    gif_pixels,
    png_pixels,
)

CORE = Path(tika_wrap_spark.__file__).parent / "core"
# one-shot module functions: they take no output bound at all
ONE_SHOT = {"zlib", "lzma", "bz2", "gzip"}


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
