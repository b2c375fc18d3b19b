"""iCalendar (RFC 5545) and vCard (RFC 6350) text extraction.

The reference parses both through Tika's auto-detect endpoint
(ICalParser / VCardParser; any type Tika accepts routes through
/root/reference/src/java-env.cpp:313). The rebuild parses natively:
line unfolding (RFC 5545 §3.1 CRLF+WSP continuations), content-line
split honoring quoted parameter values, text-value unescaping
(``\\n \\, \\; \\\\``), and per-component text blocks in document order.

Extraction contract (deterministic):
  * ICS: one text block per VEVENT/VTODO/VJOURNAL/VFREEBUSY component —
    the values of its text properties (SUMMARY, DESCRIPTION, LOCATION,
    COMMENT; ORGANIZER/ATTENDEE prefer the CN= display-name param, else
    the mailto:-stripped value), joined by newlines, in property order.
  * VCF: one text block per VCARD — FN, N/ORG/ADR (structured fields:
    unescaped ';' parts joined by spaces), TITLE, EMAIL, TEL, NOTE.
  * The first event SUMMARY / first card FN surfaces as the
    ``ical_summary`` meta key.
  * An unterminated component (BEGIN without its END) raises
    ``ExtractError`` — malformed calendars become ``parse_ok=false``
    rows, never task failures (§2A seq_fail_fast policy).
"""

from __future__ import annotations

from tika_wrap_spark.core.errors import ExtractError

_ICS_SIMPLE_PROPS = ("SUMMARY", "DESCRIPTION", "LOCATION", "COMMENT")
_ICS_PERSON_PROPS = ("ORGANIZER", "ATTENDEE")
_ICS_BLOCK_COMPONENTS = ("VEVENT", "VTODO", "VJOURNAL", "VFREEBUSY")
_VCF_SIMPLE_PROPS = ("FN", "TITLE", "EMAIL", "TEL", "NOTE")
_VCF_STRUCTURED_PROPS = ("N", "ORG", "ADR")


def _unfold(text: str) -> list[str]:
    """RFC 5545 §3.1: a line break followed by a space/tab continues the
    previous line. Newlines normalized first (CRLF/CR -> LF)."""
    norm = text.replace("\r\n", "\n").replace("\r", "\n")
    out: list[str] = []
    for raw in norm.split("\n"):
        if raw[:1] in (" ", "\t") and out:
            out[-1] += raw[1:]
        elif raw:
            out.append(raw)
    return out


def _split_content_line(line: str) -> tuple[str, dict[str, str], str]:
    """(NAME, {param: value}, value) — the name/param scan respects quoted
    parameter values (a CN="a:b;c" must not terminate the scan early)."""
    in_quotes = False
    for i, ch in enumerate(line):
        if ch == '"':
            in_quotes = not in_quotes
        elif ch == ":" and not in_quotes:
            head, value = line[:i], line[i + 1 :]
            break
    else:
        return "", {}, ""  # no unquoted ':' — not a content line
    parts: list[str] = []
    buf = ""
    in_quotes = False
    for ch in head:
        if ch == '"':
            in_quotes = not in_quotes
            buf += ch
        elif ch == ";" and not in_quotes:
            parts.append(buf)
            buf = ""
        else:
            buf += ch
    parts.append(buf)
    name = parts[0].strip().upper()
    params: dict[str, str] = {}
    for p in parts[1:]:
        if "=" in p:
            k, _, v = p.partition("=")
            params[k.strip().upper()] = v.strip().strip('"')
    return name, params, value


def _unescape(value: str) -> str:
    """RFC 5545 §3.3.11 TEXT unescaping: \\\\ \\; \\, \\n/\\N."""
    out: list[str] = []
    i, n = 0, len(value)
    while i < n:
        ch = value[i]
        if ch == "\\" and i + 1 < n:
            nxt = value[i + 1]
            if nxt in ("n", "N"):
                out.append("\n")
            elif nxt in ("\\", ";", ",", '"'):
                out.append(nxt)
            else:
                out.append(nxt)
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _split_structured(value: str) -> list[str]:
    """Split a structured value on UNESCAPED semicolons, unescaping each
    part (vCard N/ORG/ADR component lists)."""
    parts: list[str] = []
    buf = ""
    i, n = 0, len(value)
    while i < n:
        ch = value[i]
        if ch == "\\" and i + 1 < n:
            buf += value[i : i + 2]
            i += 2
        elif ch == ";":
            parts.append(buf)
            buf = ""
            i += 1
        else:
            buf += ch
            i += 1
    parts.append(buf)
    return [_unescape(p).strip() for p in parts]


def _person_text(params: dict[str, str], value: str) -> str:
    """ORGANIZER/ATTENDEE display text: CN= param wins, else the value
    with a mailto: scheme stripped."""
    cn = params.get("CN", "")
    if cn:
        return _unescape(cn).strip()
    v = value.strip()
    if v.lower().startswith("mailto:"):
        v = v[7:]
    return v


def parse_ical(text: str) -> tuple[list[str], dict[str, str]]:
    """ICS -> (text blocks, meta). One block per VEVENT/VTODO/VJOURNAL/
    VFREEBUSY; meta carries the first SUMMARY and the component count."""
    lines = _unfold(text)
    stack: list[str] = []
    blocks: list[str] = []
    current: list[str] | None = None
    first_summary = ""
    n_components = 0
    for line in lines:
        name, params, value = _split_content_line(line)
        if not name:
            continue
        if name == "BEGIN":
            comp = value.strip().upper()
            stack.append(comp)
            if comp in _ICS_BLOCK_COMPONENTS and current is None:
                current = []
                n_components += 1
            continue
        if name == "END":
            comp = value.strip().upper()
            if not stack or stack[-1] != comp:
                raise ExtractError("ics: mismatched END:%s" % comp)
            stack.pop()
            if comp in _ICS_BLOCK_COMPONENTS and current is not None and not any(
                c in _ICS_BLOCK_COMPONENTS for c in stack
            ):
                if current:
                    blocks.append("\n".join(current))
                current = None
            continue
        if current is None:
            continue
        if name in _ICS_SIMPLE_PROPS:
            v = _unescape(value).strip()
            if v:
                current.append(v)
                if name == "SUMMARY" and not first_summary:
                    first_summary = v
        elif name in _ICS_PERSON_PROPS:
            v = _person_text(params, value)
            if v:
                current.append(v)
    if stack:
        raise ExtractError("ics: unterminated component %s" % stack[-1])
    return blocks, {"summary": first_summary, "n_components": n_components}


def parse_vcard(text: str) -> tuple[list[str], dict[str, str]]:
    """VCF -> (text blocks, meta). One block per VCARD; meta carries the
    first FN and the card count."""
    lines = _unfold(text)
    blocks: list[str] = []
    current: list[str] | None = None
    first_fn = ""
    n_cards = 0
    depth = 0
    for line in lines:
        name, params, value = _split_content_line(line)
        if not name:
            continue
        if name == "BEGIN":
            comp = value.strip().upper()
            if comp == "VCARD":
                depth += 1
                if depth == 1:
                    current = []
                    n_cards += 1
            continue
        if name == "END":
            comp = value.strip().upper()
            if comp == "VCARD":
                if depth == 0:
                    raise ExtractError("vcf: mismatched END:VCARD")
                depth -= 1
                if depth == 0 and current is not None:
                    if current:
                        blocks.append("\n".join(current))
                    current = None
            continue
        if current is None:
            continue
        if name in _VCF_SIMPLE_PROPS:
            v = _unescape(value).strip()
            if v:
                current.append(v)
                if name == "FN" and not first_fn:
                    first_fn = v
        elif name in _VCF_STRUCTURED_PROPS:
            joined = " ".join(p for p in _split_structured(value) if p)
            if joined:
                current.append(joined)
    if depth:
        raise ExtractError("vcf: unterminated component VCARD")
    return blocks, {"summary": first_fn, "n_components": n_cards}


def _fold_line(line: str) -> str:
    """RFC 5545 §3.1 folding at 75 octets (builder side)."""
    if len(line) <= 75:
        return line
    out = [line[:75]]
    pos = 75
    while pos < len(line):
        out.append(" " + line[pos : pos + 74])
        pos += 74
    return "\r\n".join(out)


def _escape(value: str) -> str:
    return (
        value.replace("\\", "\\\\")
        .replace(";", "\\;")
        .replace(",", "\\,")
        .replace("\n", "\\n")
    )


def build_ics(events: list[dict[str, str]]) -> str:
    """Deterministic RFC 5545 builder for fixtures/corpus: one VEVENT per
    dict (keys: summary, description, location, organizer, attendee)."""
    lines = ["BEGIN:VCALENDAR", "VERSION:2.0", "PRODID:-//twc//spark//EN"]
    for i, ev in enumerate(events):
        lines.append("BEGIN:VEVENT")
        lines.append("UID:ev%04d@twc" % i)
        lines.append("DTSTART:20250%d01T090000Z" % (1 + i % 9))
        for key, prop in (
            ("summary", "SUMMARY"),
            ("description", "DESCRIPTION"),
            ("location", "LOCATION"),
        ):
            if ev.get(key):
                lines.append(_fold_line("%s:%s" % (prop, _escape(ev[key]))))
        if ev.get("organizer"):
            lines.append(
                'ORGANIZER;CN="%s":mailto:org%d@example.com' % (ev["organizer"], i)
            )
        if ev.get("attendee"):
            lines.append("ATTENDEE:mailto:%s" % ev["attendee"])
        lines.append("END:VEVENT")
    lines.append("END:VCALENDAR")
    return "\r\n".join(lines) + "\r\n"


def build_vcf(cards: list[dict[str, str]]) -> str:
    """Deterministic RFC 6350 builder: one VCARD per dict (keys: fn, org,
    title, email, tel, note)."""
    lines: list[str] = []
    for card in cards:
        lines.append("BEGIN:VCARD")
        lines.append("VERSION:4.0")
        if card.get("fn"):
            lines.append(_fold_line("FN:%s" % _escape(card["fn"])))
            parts = card["fn"].split(" ", 1)
            lines.append(
                "N:%s;%s;;;" % (_escape(parts[-1]), _escape(parts[0]))
            )
        for key, prop in (
            ("org", "ORG"),
            ("title", "TITLE"),
            ("email", "EMAIL"),
            ("tel", "TEL"),
            ("note", "NOTE"),
        ):
            if card.get(key):
                lines.append(_fold_line("%s:%s" % (prop, _escape(card[key]))))
        lines.append("END:VCARD")
    return "\r\n".join(lines) + "\r\n"
