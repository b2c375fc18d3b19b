class ExtractError(Exception):
    """Per-document extraction failure.

    Mirrors the reference's error policy: a failed parse is *data*, not an
    exception that escapes the engine — the reference returns a single bool
    per document (/root/reference/src/java-env.h:17, src/java-env.cpp:316-325)
    and swallows JNI exceptions after logging (src/java-env.cpp:351-353).
    The Spark pipeline catches this per document and emits
    ``parse_ok=false, error=<msg>, spans=[]``; it must never fail a task.
    """


# Import both names at module top level, never lazily: make_portable()
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
