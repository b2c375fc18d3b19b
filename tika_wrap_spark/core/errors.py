import lzma
import zlib


class ExtractError(Exception):
    """Per-document extraction failure.

    Mirrors the reference's error policy: a failed parse is *data*, not an
    exception that escapes the engine — the reference returns a single bool
    per document (/root/reference/src/java-env.h:17, src/java-env.cpp:316-325)
    and swallows JNI exceptions after logging (src/java-env.cpp:351-353).
    The Spark pipeline catches this per document and emits
    ``parse_ok=false, error=<msg>, spans=[]``; it must never fail a task.
    """


# Import these names at module top level, never lazily: make_portable()
# registers loaded modules for pickle-by-value at plan-build time, so a lazy
# import would re-import this module from disk in the worker with its own
# ExtractError class, the extraction core's `except ExtractError` would miss
# it and a bad payload would become an `internal:` error.
def payload_bytes(text: str, kind: str) -> bytes:
    """The one bytes-as-text bridge: binary payloads travel in span text as
    latin-1 (one char per byte), so the bytes Tika is handed
    (src/java-env.cpp:313-314) come back with one encode. A char above
    U+00FF means the payload is not a byte stream: a ``<kind>:`` row."""
    try:
        return text.encode("latin-1")
    except UnicodeEncodeError:
        raise ExtractError(
            "%s: payload is not a byte stream (non-latin-1 chars)" % kind
        ) from None


# The one decompression budget: a payload may inflate to at most this many
# bytes, summed over its members, blocks and tables (the reference's Tika
# applies analogous zip-bomb limits). Pixel buffers are sized against it too.
MAX_INFLATED = 64 * 1024 * 1024

# what a stdlib zlib / lzma / bz2 decoder raises on a corrupt stream
_DECODE_ERRORS = (zlib.error, lzma.LZMAError, OSError)


def over_budget(kind: str) -> ExtractError:
    """The one cap message. ``error_taxonomy`` files it under ``bomb``."""
    return ExtractError("%s: inflated payload exceeds %d bytes" % (kind, MAX_INFLATED))


# output asked of one decompress call: one call's output is held twice while
# CPython joins its blocks, so a bomb decoded in steps peaks near 1x the cap
_STEP = 1 << 20


def inflate(kind: str, decoder, data: bytes, used: int = 0, size: int | None = None) -> bytes:
    """Bounded ``decoder.decompress(data)`` for any stdlib zlib / lzma / bz2
    decoder object. ``used`` is what the payload has inflated so far and
    ``size`` an optional declared output size: the decoder is never asked
    for more than the remaining budget + 1 bytes, or ``size`` + 1 when that
    is smaller, and is never ``flush()``ed (a flush inflates the rest of
    the stream, unbounded). Output comes in ``_STEP`` calls, so a stream
    that fits one step costs one call, and a bomb stops one step past the
    cap. A corrupt stream raises ``<kind>: <error>``, a payload past the cap
    :func:`over_budget`. End-of-stream and declared-size checks are the
    caller's."""
    limit = MAX_INFLATED - used
    if size is not None and size < limit:
        limit = size
    want = max(limit, 0) + 1  # a max_length of 0 would mean unbounded
    try:
        out = decoder.decompress(data, min(want, _STEP))
        if len(out) == _STEP < want:  # past one step: the rest into one buffer
            out = bytearray(out)
            while len(out) < want and not decoder.eof:
                n = min(want - len(out), _STEP)
                if hasattr(decoder, "unconsumed_tail"):  # zlib hands back unread input
                    chunk = decoder.decompress(decoder.unconsumed_tail, n)
                elif decoder.needs_input:  # lzma and bz2 buffer it themselves
                    break
                else:
                    chunk = decoder.decompress(b"", n)
                if not chunk:
                    break
                out += chunk
    except _DECODE_ERRORS as exc:
        raise ExtractError("%s: %s" % (kind, exc)) from None
    if used + len(out) > MAX_INFLATED:
        raise over_budget(kind)
    return bytes(out)  # no copy when one step held it all
