"""WARC (Web ARChive, ISO 28500) record parsing — pure stdlib text walk.

WARC is the container format web-scale extraction pipelines actually
ingest (Common Crawl ships its corpus as WARC response records); the
reference reaches the same family through Tika's ``PackageParser``/
``WARCParser`` routing (AutoParser endpoint,
/root/reference/src/java-env.cpp:313-314). The rebuild parses the record
grammar natively, same discipline as :mod:`core.tarbin`:

    version line          WARC/1.0 CRLF
    named fields          Name: value CRLF ...   (folded continuations)
    blank line            CRLF
    content block         exactly Content-Length octets
    record terminator     CRLF CRLF

``response`` records whose Content-Type is ``application/http`` carry an
HTTP response message — status line + headers + blank line + payload; the
HTTP envelope is stripped and the payload surfaces as the member body.
``resource`` and ``conversion`` records carry their payload directly.
``warcinfo`` / ``request`` / ``metadata`` records are archive plumbing and
are skipped (no document content), but still tallied.

Members are named by ``WARC-Target-URI`` (falling back to the record id /
sequence number) so extraction's archive back-pointers stay meaningful;
the first payload record's target URI surfaces as the ``warc_target``
meta key.
Malformed records (bad version line, missing/garbled Content-Length, a
content block that overruns the payload, missing terminator) raise
:class:`ExtractError` -> ``parse_ok=false`` rows, never task failures.

Payloads travel through the engine as bytes-as-text (latin-1, one char per
byte) exactly like the zip/tar paths — the engine re-sniffs each member,
so an HTML response body routes through the real boilerplate stripper.
"""

from __future__ import annotations

from tika_wrap_spark.core.errors import ExtractError

WARC_MAGIC = "WARC/"

# record types whose content block is (or wraps) extractable payload
_HTTP_RESPONSE = "response"
_DIRECT_PAYLOAD_TYPES = ("resource", "conversion")

MAX_WARC_RECORDS = 4096  # runaway-loop backstop; real pages never near it


def _parse_fields(block: str) -> dict[str, str]:
    """Named-field block -> {lowercased-name: value}; RFC 822-style folded
    continuation lines (leading SP/TAB) append to the previous value."""
    fields: dict[str, str] = {}
    last = ""
    for line in block.split("\n"):
        line = line.rstrip("\r")
        if not line:
            continue
        if line[0] in " \t" and last:
            fields[last] += " " + line.strip()
            continue
        name, sep, value = line.partition(":")
        if not sep:
            raise ExtractError("warc: malformed field line %r" % line[:40])
        last = name.strip().lower()
        fields[last] = value.strip()
    return fields


def _strip_http_envelope(block: str) -> str:
    """HTTP response message -> body payload. The status line and headers
    end at the first blank line; a block with no blank line is all
    envelope (headers-only response) and yields an empty payload."""
    if not block.startswith("HTTP/"):
        raise ExtractError("warc: response block is not an HTTP message")
    for sep in ("\r\n\r\n", "\n\n"):
        idx = block.find(sep)
        if idx >= 0:
            return block[idx + len(sep):]
    return ""


def parse_warc_text(text: str) -> tuple[list[tuple[str, str]], dict[str, str]]:
    """Parse one WARC file (bytes-as-text) into
    ``([(member_name, payload_text), ...], meta)`` in record order.

    Only payload-bearing records (response/resource/conversion) become
    members; ``meta`` carries ``warc_target`` (first payload record's
    WARC-Target-URI) and ``n_warc_records`` (ALL records, plumbing
    included). Raises ExtractError on any malformation.
    """
    if not text.startswith(WARC_MAGIC):
        raise ExtractError("warc: missing WARC/ version magic")
    members: list[tuple[str, str]] = []
    target_first = ""
    pos = 0
    n = len(text)
    n_records = 0
    while pos < n:
        if n_records >= MAX_WARC_RECORDS:
            raise ExtractError("warc: more than %d records" % MAX_WARC_RECORDS)
        if not text.startswith(WARC_MAGIC, pos):
            raise ExtractError(
                "warc: expected record at offset %d, found %r"
                % (pos, text[pos : pos + 12])
            )
        # header block ends at the first blank line
        hdr_end = -1
        for sep in ("\r\n\r\n", "\n\n"):
            idx = text.find(sep, pos)
            if idx >= 0 and (hdr_end < 0 or idx < hdr_end):
                hdr_end = idx
                sep_len = len(sep)
        if hdr_end < 0:
            raise ExtractError("warc: record header has no terminating blank line")
        header = text[pos:hdr_end]
        version_line, _, field_block = header.partition("\n")
        version = version_line.rstrip("\r")[len(WARC_MAGIC):]
        if not version or not version[0].isdigit():
            raise ExtractError("warc: bad version line %r" % version_line[:20])
        fields = _parse_fields(field_block)
        length_s = fields.get("content-length", "")
        if not length_s.isdigit():
            raise ExtractError("warc: missing/garbled Content-Length")
        length = int(length_s)
        body_start = hdr_end + sep_len
        body_end = body_start + length
        if body_end > n:
            raise ExtractError(
                "warc: content block overruns payload (%d past end)"
                % (body_end - n)
            )
        block = text[body_start:body_end]
        n_records += 1
        rec_type = fields.get("warc-type", "").lower()
        payload: str | None = None
        if rec_type == _HTTP_RESPONSE and fields.get(
            "content-type", ""
        ).lower().startswith("application/http"):
            payload = _strip_http_envelope(block)
        elif rec_type == _HTTP_RESPONSE or rec_type in _DIRECT_PAYLOAD_TYPES:
            payload = block
        if payload is not None:
            name = (
                fields.get("warc-target-uri", "")
                or fields.get("warc-record-id", "")
                or "record-%d" % n_records
            )
            if not target_first:
                target_first = fields.get("warc-target-uri", "")
            members.append((name, payload))
        # consume the record terminator (two CRLFs); tolerate bare LFs and
        # a final record that ends flush with the payload
        pos = body_end
        for _ in range(2):
            if text.startswith("\r\n", pos):
                pos += 2
            elif text.startswith("\n", pos):
                pos += 1
    meta = {"warc_target": target_first, "n_warc_records": str(n_records)}
    return members, meta


# ---------------------------------------------------------------------------
# builder (fixtures + corpus): spec-correct records with exact lengths
# ---------------------------------------------------------------------------


def _record(
    rec_type: str,
    block: str,
    extra_fields: list[tuple[str, str]],
    seq: int,
) -> str:
    fields = [
        ("WARC-Type", rec_type),
        ("WARC-Record-ID", "<urn:uuid:%08d-0000-4000-8000-000000000000>" % seq),
        ("WARC-Date", "2026-01-01T00:00:00Z"),
        *extra_fields,
        ("Content-Length", str(len(block))),
    ]
    head = "WARC/1.0\r\n" + "".join("%s: %s\r\n" % kv for kv in fields) + "\r\n"
    return head + block + "\r\n\r\n"


def build_warc(records: list[tuple[str, str, str]]) -> str:
    """``[(target_uri, content_type, body_text)]`` -> one WARC file
    (bytes-as-text). Each entry becomes a ``response`` record wrapping an
    HTTP/1.1 200 message (the Common Crawl shape); a leading ``warcinfo``
    record carries file-level plumbing, exactly as real crawlers emit."""
    out = [
        _record(
            "warcinfo",
            "software: tika-wrap-spark-corpus\r\nformat: WARC File Format 1.0\r\n",
            [("Content-Type", "application/warc-fields")],
            0,
        )
    ]
    for i, (uri, ctype, body) in enumerate(records, start=1):
        http = (
            "HTTP/1.1 200 OK\r\n"
            "Content-Type: %s\r\n"
            "Content-Length: %d\r\n"
            "\r\n" % (ctype, len(body))
        ) + body
        out.append(
            _record(
                "response",
                http,
                [
                    ("WARC-Target-URI", uri),
                    ("Content-Type", "application/http; msgtype=response"),
                ],
                i,
            )
        )
    return "".join(out)
