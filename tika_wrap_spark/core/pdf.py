"""PDF content-stream parse + x/y layout reordering — the ``pdf_extract``
operator.

The reference obtains reading-order PDF text from Apache Tika (ordered chunk
append at /root/reference/src/java-env.cpp:268-271 preserves the extractor's
reading order). The rebuild parses a deterministic synthetic content-stream
dialect (FIXTURES.md §1) and *reconstructs* reading order by sorting text
runs by layout position — top-to-bottom (y descending, PDF user space has y
up), then left-to-right (x ascending) — per page.

Dialect (one text run per line, runs may appear in shuffled order):

    %PDF-1.4
    %%Page: 1
    BT 72.0 700.0 Td (Hello world) Tj ET
    BT 72.0 688.0 Td (Second line) Tj ET
    %%Page: 2
    ...
    %%EOF

Escapes inside the parenthesized string: ``\\(`` ``\\)`` ``\\\\``.
A stream missing its ``%%EOF`` terminator, a malformed run line, or an
unterminated string raises ExtractError (truncated-stream detection).
"""

from __future__ import annotations

import re

from tika_wrap_spark.core.errors import ExtractError

_RUN_RE = re.compile(r"^BT\s+(-?\d+(?:\.\d+)?)\s+(-?\d+(?:\.\d+)?)\s+Td\s+\((.*)\)\s+Tj\s+ET$")
_PAGE_RE = re.compile(r"^%%Page:\s*(\d+)$")
_UNESCAPE_RE = re.compile(r"\\([()\\])")


def _unescape(s: str) -> str:
    return _UNESCAPE_RE.sub(lambda m: m.group(1), s)


def parse_pdf_pages(stream: str) -> list[list[tuple[float, float, str]]]:
    """Parse the stream into pages of (x, y, text) runs in *appearance* order.

    Raises ExtractError if the stream is not a valid dialect document.
    """
    if not stream.startswith("%PDF-"):
        raise ExtractError("not a PDF stream")
    lines = stream.split("\n")
    if lines[-1] == "":
        lines.pop()
    if not lines or lines[-1].strip() != "%%EOF":
        raise ExtractError("truncated PDF stream: missing %%EOF")
    pages: list[list[tuple[float, float, str]]] = []
    current: list[tuple[float, float, str]] | None = None
    for line in lines[1:-1]:
        line = line.strip()
        if not line:
            continue
        # runs outnumber page markers ~400:1 on giant docs — test them first
        rm = _RUN_RE.match(line)
        if rm:
            if current is None:
                raise ExtractError("pdf: text run before first %%Page marker")
            x, y, raw = rm.groups()
            if "\\" not in raw and "(" not in raw and ")" not in raw:
                # fast path: no escapes, nothing to validate or unescape
                current.append((float(x), float(y), raw))
                continue
            # reject unescaped-paren / trailing-backslash corruption
            stripped = raw.replace("\\\\", "").replace("\\(", "").replace("\\)", "")
            if "(" in stripped or ")" in stripped or stripped.endswith("\\"):
                raise ExtractError("pdf: malformed string literal in run")
            current.append((float(x), float(y), _unescape(raw)))
            continue
        pm = _PAGE_RE.match(line)
        if pm:
            current = []
            pages.append(current)
            continue
        if line.startswith("%"):  # other comments are ignorable
            continue
        raise ExtractError("pdf: unrecognized content-stream line: %r" % line[:40])
    return pages


def page_dims(runs: list[tuple[float, float, str]]) -> tuple[float, float]:
    """Layout extent of one page's runs: (max x, max y) over run origins —
    the synthetic dialect's analog of Tika's per-format page-dimension
    metadata. (0.0, 0.0) for an empty page."""
    if not runs:
        return (0.0, 0.0)
    return (max(x for x, _y, _t in runs), max(y for _x, y, _t in runs))


def pages_to_texts(pages: list[list[tuple[float, float, str]]]) -> list[str]:
    """Reading-order text per parsed page (shared by the extractor, which
    parses once for both text and dimension metadata)."""
    out: list[str] = []
    for runs in pages:
        # decorate-sort (tuple compare, no key fn); i breaks ties by
        # appearance order before the text field is ever compared
        decorated = sorted((-y, x, i) for i, (x, y, _t) in enumerate(runs))
        page_text = "\n".join(runs[i][2] for _ny, _x, i in decorated)
        if page_text:
            out.append(page_text)
    return out

