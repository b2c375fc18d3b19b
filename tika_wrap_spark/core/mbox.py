"""mbox mailbox parsing (RFC 4155 / the classic mboxrd convention).

A mailbox is the simplest mail container: messages concatenated, each
preceded by a ``From <envelope-sender> <asctime>`` separator line. The
reference reaches the format through Tika's ``MboxParser`` (AutoParser
endpoint, /root/reference/src/java-env.cpp:313-314). The rebuild splits
the mailbox natively and routes each message through the SAME rfc822/MIME
core the eml kind uses (:mod:`core.eml`), so mbox is a container of
message containers — bodies and attachments re-sniff and recurse exactly
like standalone .eml documents. The first message's subject/sender land
in the shared ``eml_subject``/``eml_from`` meta keys.

Split rules (the mboxrd convention every Unix MUA agrees on):
  * a message starts at a line beginning ``From `` at offset 0 of the line;
  * body lines that themselves begin ``From `` are quoted ``>From `` on
    the wire — so an UNQUOTED ``From `` line is always a separator;
  * ``>From `` lines are unquoted (one ``>`` stripped) when the body is
    handed to the message parser.

A mailbox whose first line is not a ``From_`` separator raises (the
sniffer guards this); per-message malformations propagate from the eml
core (same policy as a bad archive member failing its document).
"""

from __future__ import annotations

from tika_wrap_spark.core.errors import ExtractError

MBOX_SEPARATOR = "From "


def parse_mbox(text: str) -> list[tuple[str, str]]:
    """Split one mailbox into ``[(name, message_text), ...]`` in mailbox
    order. ``name`` is ``msg-<n>/<envelope-sender>``; the separator line is
    consumed and ``>From `` body quoting is undone."""
    if not text.startswith(MBOX_SEPARATOR):
        raise ExtractError("mbox: missing From_ separator line")
    messages: list[tuple[str, str]] = []
    # find separator line starts: offset 0 plus every "\nFrom "
    starts = [0]
    pos = 0
    while True:
        pos = text.find("\nFrom ", pos)
        if pos < 0:
            break
        starts.append(pos + 1)
        pos += 6
    starts.append(len(text))
    for i in range(len(starts) - 1):
        chunk = text[starts[i] : starts[i + 1]]
        sep_line, _, body = chunk.partition("\n")
        sender = sep_line[len(MBOX_SEPARATOR):].split(" ", 1)[0]
        if not sender:
            raise ExtractError("mbox: empty envelope sender in From_ line")
        # undo mboxrd body quoting: one leading '>' off every '>+From ' line
        if "\n>From " in body or body.startswith(">From "):
            lines = body.split("\n")
            lines = [
                ln[1:] if ln.lstrip(">").startswith("From ") and ln.startswith(">")
                else ln
                for ln in lines
            ]
            body = "\n".join(lines)
        messages.append(("msg-%d/%s" % (i + 1, sender), body.rstrip("\n") + "\n"))
    return messages


def build_mbox(messages: list[tuple[str, str]]) -> str:
    """``[(envelope_sender, message_text)]`` -> one mailbox. Message body
    lines beginning ``From `` (already-quoted ones included) gain one
    ``>`` (mboxrd); messages are separated by a blank line as every MUA
    writes them."""
    out: list[str] = []
    for sender, msg in messages:
        quoted = "\n".join(
            ">" + ln if ln.lstrip(">").startswith(MBOX_SEPARATOR) else ln
            for ln in msg.split("\n")
        )
        out.append(
            "From %s Thu Jan  1 00:00:00 2026\n%s\n\n" % (sender, quoted.rstrip("\n"))
        )
    return "".join(out)
