"""Every inflating call in ``core/`` is bounded by a max output length, and
a PNG whose IDAT inflates far past its declared rows is refused without
being inflated."""

import ast
import struct
import tracemalloc
import zlib
from pathlib import Path

import tika_wrap_spark
from tika_wrap_spark.core.media import PNG_MAGIC, _png_chunk, png_pixels

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
    tracemalloc.start()
    try:
        got = png_pixels(png)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert got is None
    assert peak < 8 << 20, peak
