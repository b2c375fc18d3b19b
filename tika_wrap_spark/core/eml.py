"""EML (RFC 5322 / MIME) message parsing — pure python, stdlib codecs only.

The reference's Tika server parses ``message/rfc822`` natively (any document
type via the ``/tika`` endpoint, /root/reference/src/java-env.cpp:313). The
rebuild parses the wire format from the public RFCs: 5322 header folding,
2045/2046 multipart structure and content-transfer encodings (base64 /
quoted-printable via stdlib ``base64``/``quopri``), 2047 encoded-words in
header values. Structure parsing is hand-rolled (same discipline as
core/zipbin.py — the spec's byte layout, not a wrapper), so behavior is
deterministic and malformed input raises ``ExtractError`` -> a
``parse_ok=false`` row.

A parsed message yields its header metadata plus an ordered list of leaf
parts ``(name, payload_text)``; the extraction pipeline re-sniffs each
payload, so an HTML body routes through the HTML extractor and a zip
attachment recurses through the container family — the message is one more
container kind.
"""

from __future__ import annotations

import base64
import quopri
import re

from tika_wrap_spark.core.errors import ExtractError, payload_bytes

# nested message/rfc822 parts recurse through extract's container depth
# accounting; this guards the *intra-message* multipart nesting only
MAX_MIME_DEPTH = 8

_ENC_WORD = re.compile(r"=\?([^?]+)\?([bBqQ])\?([^?]*)\?=")

# header names whose first value is surfaced as metadata
_META_HEADERS = ("subject", "from", "to", "date", "message-id")

# a char above U+00FF: the text is already real unicode, not bytes-as-text
_WIDE = re.compile("[^\x00-\xff]")


def _decode_encoded_words(value: str) -> str:
    """RFC 2047: ``=?charset?B|Q?payload?=`` runs decode in place; anything
    undecodable stays verbatim (lossy-tolerant, like Tika)."""

    def one(m: re.Match) -> str:
        charset, enc, payload = m.group(1), m.group(2).lower(), m.group(3)
        try:
            if enc == "b":
                raw = base64.b64decode(payload + "=" * (-len(payload) % 4))
            else:
                raw = quopri.decodestring(payload.replace("_", " ").encode("latin-1"))
            return raw.decode(charset, errors="replace")
        except Exception:
            return m.group(0)

    return _ENC_WORD.sub(one, value)


def _split_headers(text: str) -> tuple[dict[str, str], str]:
    """Unfold RFC 5322 headers; return ({lower_name: first_value}, body).
    The blank line separating header block from body is required; a message
    that is all headers has an empty body."""
    # normalize line endings once; payloads travel bytes-as-text latin-1
    t = text.replace("\r\n", "\n").replace("\r", "\n")
    head, sep, body = t.partition("\n\n")
    if not sep:
        head, body = t, ""
    headers: dict[str, str] = {}
    current: list[str] | None = None
    lines: list[tuple[str, list[str]]] = []
    for line in head.split("\n"):
        if line[:1] in (" ", "\t") and current is not None:
            current.append(line.strip())
        else:
            m = re.match(r"^([!-9;-~]+):\s?(.*)$", line)
            if not m:
                raise ExtractError("eml: malformed header line %r" % line[:40])
            current = [m.group(2)]
            lines.append((m.group(1).lower(), current))
    for name, parts in lines:
        if name not in headers:
            headers[name] = _decode_encoded_words(" ".join(p for p in parts if p != ""))
    return headers, body


def _content_type(headers: dict[str, str]) -> tuple[str, dict[str, str]]:
    """Parse ``Content-Type`` into (type/subtype, params); RFC 2045 token
    rules trimmed to what real mail uses (quoted or token param values)."""
    raw = headers.get("content-type", "text/plain")
    parts = raw.split(";")
    ctype = parts[0].strip().lower() or "text/plain"
    params: dict[str, str] = {}
    for p in parts[1:]:
        k, eq, v = p.partition("=")
        if not eq:
            continue
        v = v.strip()
        if len(v) >= 2 and v[0] == '"' and v[-1] == '"':
            v = v[1:-1]
        params[k.strip().lower()] = v
    return ctype, params


def _decode_body(body: str, headers: dict[str, str]) -> str:
    """Apply Content-Transfer-Encoding; output stays bytes-as-text latin-1
    so binary attachments flow through the same bridge as archive members."""
    enc = headers.get("content-transfer-encoding", "7bit").strip().lower()
    if enc == "base64":
        compact = re.sub(r"\s+", "", body)
        if re.search(r"[^A-Za-z0-9+/=]", compact):
            raise ExtractError("eml: invalid base64 body")
        try:
            raw = base64.b64decode(compact + "=" * (-len(compact) % 4))
        except Exception as exc:
            raise ExtractError("eml: base64 decode failed: %s" % exc) from exc
        return raw.decode("latin-1")
    if enc == "quoted-printable":
        return quopri.decodestring(payload_bytes(body, "eml")).decode("latin-1")
    return body  # 7bit / 8bit / binary pass through


def parse_eml(text: str) -> tuple[dict[str, str], list[tuple[str, str]]]:
    """Parse one message: returns (meta, leaf_parts).

    ``meta``: surfaced headers (``eml_subject``/``eml_from``/... plus
    ``n_eml_parts``). ``leaf_parts``: ordered ``(name, payload_text)`` —
    body parts named ``body[.<n>]`` (with their declared subtype as a hint
    suffix), attachments by their ``filename=`` param. Multipart bodies
    split on the RFC 2046 boundary; a multipart entity whose closing
    ``--boundary--`` delimiter is missing is malformed and raises.
    """
    headers, body = _split_headers(text)
    if "from" not in headers and "subject" not in headers and "to" not in headers:
        raise ExtractError("eml: no From/To/Subject header — not a message")
    parts: list[tuple[str, str]] = []

    def walk(headers: dict[str, str], body: str, depth: int) -> None:
        if depth > MAX_MIME_DEPTH:
            raise ExtractError("eml: multipart nesting exceeds %d" % MAX_MIME_DEPTH)
        ctype, params = _content_type(headers)
        if ctype.startswith("multipart/"):
            boundary = params.get("boundary", "")
            if not boundary:
                raise ExtractError("eml: multipart without boundary param")
            delim = "--" + boundary
            chunks = body.split(delim)
            # chunks[0] = preamble; last chunk must start with "--" (close)
            if len(chunks) < 2 or not chunks[-1].lstrip("\n").startswith("--"):
                raise ExtractError("eml: unterminated multipart boundary")
            for chunk in chunks[1:-1]:
                # the newline before a delimiter belongs to the delimiter
                # (RFC 2046 §5.1.1), as does the one after it
                if chunk.endswith("\n"):
                    chunk = chunk[:-1]
                sub = chunk[1:] if chunk.startswith("\n") else chunk
                if not sub.strip():
                    continue
                sub_headers, sub_body = _split_headers(sub)
                walk(sub_headers, sub_body, depth + 1)
        elif ctype == "message/rfc822":
            # embedded message: its own header block + body become parts
            sub_headers, sub_body = _split_headers(_decode_body(body, headers))
            walk(sub_headers, sub_body, depth + 1)
        else:
            disp = headers.get("content-disposition", "")
            fname = ""
            m = re.search(r'filename="?([^";]+)"?', disp) or re.search(
                r'name="?([^";]+)"?', headers.get("content-type", "")
            )
            if m:
                fname = m.group(1)
            decoded = _decode_body(body, headers)
            # text/* parts with a declared charset decode to real unicode
            # (Tika's behavior); attachments stay bytes-as-text latin-1, and
            # a part that is already real unicode stays as it is (the rule
            # of charset.decode_charset)
            charset = params.get("charset", "").lower()
            if (
                ctype.startswith("text/")
                and charset
                and charset not in ("latin-1", "iso-8859-1", "us-ascii")
                and not _WIDE.search(decoded)
            ):
                try:
                    decoded = decoded.encode("latin-1").decode(
                        charset, errors="replace"
                    )
                except LookupError:
                    pass  # unknown charset: keep the raw bytes-as-text
            if fname:
                name = fname
            else:
                name = "body.%d.%s" % (len(parts), ctype.replace("/", "_"))
            parts.append((name, decoded))

    walk(headers, body, 0)
    meta = {"n_eml_parts": str(len(parts))}
    for h in _META_HEADERS:
        if h in headers:
            meta["eml_" + h.replace("-", "_")] = headers[h]
    return meta, parts


def build_eml(
    subject: str,
    from_addr: str,
    to_addr: str,
    text_body: str,
    html_body: str = "",
    attachments: list[tuple[str, str]] | None = None,
) -> str:
    """Deterministic message builder for corpus/tests. With only
    ``text_body``: a simple singlepart message. Otherwise multipart/mixed
    with quoted-printable text, 7bit html, and base64 attachments
    (payload_text latin-1 bytes — e.g. a PNG or a zip member)."""
    head = (
        "From: %s\nTo: %s\nSubject: %s\n"
        "Date: Mon, 17 Aug 2026 10:00:00 +0000\n"
        "Message-ID: <twc-0001@example.invalid>\nMIME-Version: 1.0\n"
        % (from_addr, to_addr, subject)
    )
    if not html_body and not attachments:
        return (
            head
            + "Content-Type: text/plain; charset=utf-8\n\n"
            + text_body.encode("utf-8").decode("latin-1")
        )
    boundary = "=_twc_boundary_001"
    out = [head + 'Content-Type: multipart/mixed; boundary="%s"\n' % boundary]
    out.append("\npreamble is ignored\n")
    qp = quopri.encodestring(text_body.encode("utf-8")).decode("latin-1")
    out.append(
        "--%s\nContent-Type: text/plain; charset=utf-8\n"
        "Content-Transfer-Encoding: quoted-printable\n\n%s\n" % (boundary, qp)
    )
    if html_body:
        out.append(
            "--%s\nContent-Type: text/html; charset=utf-8\n\n%s\n"
            % (boundary, html_body.encode("utf-8").decode("latin-1"))
        )
    for fname, payload_text in attachments or []:
        b64 = base64.encodebytes(payload_text.encode("latin-1")).decode("latin-1")
        out.append(
            "--%s\nContent-Type: application/octet-stream\n"
            "Content-Transfer-Encoding: base64\n"
            'Content-Disposition: attachment; filename="%s"\n\n%s\n'
            % (boundary, fname, b64)
        )
    out.append("--%s--\n" % boundary)
    return "".join(out)
