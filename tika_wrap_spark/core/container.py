"""Synthetic container (zip-analog) dialect: serializer + one-level parser.

The reference's demo feeds two ``.zip`` archives among its five smoke inputs
(/root/reference/example/demo1.cpp:48-49) and its README TODO is exactly
"recursively parse embedded content" (/root/reference/README.md:25). The
rebuild delivers that recursion over a deterministic, fully synthetic
container dialect (FIXTURES.md §1b) so extraction of archive members —
including nested archives and embedded media — is first-class, not a parse
failure.

Dialect ``TWC1`` (all lengths are decimal character counts; the payload is
length-framed, so members may contain anything, including nested containers):

    PK\\x03\\x04TWC1\\n                      -- magic (sniffer keys on PK\\x03\\x04)
    E <name_len> <payload_len>\\n<name><payload>   -- zero or more members
    PK\\x05\\x06\\n                           -- end-of-central-directory analog

Malformed documents (bad magic, bad member header, truncated name/payload,
missing terminator, trailing garbage) raise :class:`ExtractError`, which the
extraction core converts to a ``parse_ok=false`` row — never a task failure.
"""

from __future__ import annotations

from tika_wrap_spark.core.errors import ExtractError

MAGIC = "PK\x03\x04TWC1\n"
EOCD = "PK\x05\x06\n"

# Recursion guard for nested containers (zip-bomb analog): a document nested
# deeper than this is rejected as malformed data, not allowed to stack-crash
# an executor.
MAX_CONTAINER_DEPTH = 8


def build_container(entries: list[tuple[str, str]]) -> str:
    """Serialize ``(name, payload)`` members into a TWC1 container string."""
    parts = [MAGIC]
    for name, payload in entries:
        parts.append("E %d %d\n%s%s" % (len(name), len(payload), name, payload))
    parts.append(EOCD)
    return "".join(parts)


def parse_container(text: str) -> list[tuple[str, str]]:
    """Parse ONE TWC1 container level into ``[(name, payload), ...]``.

    The extraction core routes a zip payload here when it starts with the
    TWC1 ``MAGIC``; a REAL zip byte stream (the reference's actual smoke
    inputs, example/demo1.cpp:48-49) goes to the binary central-directory
    parser in :mod:`core.zipbin`.

    Nested containers come back as opaque payloads; the extraction core
    recurses via content sniffing (mirrors how a real engine walks archive
    members and re-detects each member's type).
    """
    if not text.startswith(MAGIC):
        raise ExtractError("container: bad magic")
    pos = len(MAGIC)
    n = len(text)
    entries: list[tuple[str, str]] = []
    while True:
        if text.startswith(EOCD, pos):
            if pos + len(EOCD) != n:
                raise ExtractError("container: trailing garbage after terminator")
            return entries
        nl = text.find("\n", pos)
        if nl == -1:
            raise ExtractError("container: truncated member header")
        header = text[pos:nl]
        parts = header.split(" ")
        if len(parts) != 3 or parts[0] != "E":
            raise ExtractError("container: malformed member header %r" % header[:40])
        try:
            name_len, payload_len = int(parts[1]), int(parts[2])
        except ValueError:
            raise ExtractError("container: non-numeric member length in %r" % header[:40])
        if name_len < 0 or payload_len < 0:
            raise ExtractError("container: negative member length")
        body_start = nl + 1
        body_end = body_start + name_len + payload_len
        if body_end > n:
            raise ExtractError("container: truncated member body")
        name = text[body_start : body_start + name_len]
        payload = text[body_start + name_len : body_end]
        entries.append((name, payload))
        pos = body_end
