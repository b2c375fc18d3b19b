"""TNEF (winmail.dat) extraction — hand-rolled MS-OXTNEF attribute walk.

The reference reaches TNEF through Tika's TNEFParser
(/root/reference/src/java-env.cpp:313-314). Transport-Neutral
Encapsulation Format is the Outlook rich-mail envelope: a 4-byte
signature, a 2-byte legacy key, then a flat sequence of attributes

    level (1B: 0x01 message / 0x02 attachment)
    id    (4B LE: attribute id low word, data type high word)
    length(4B LE)
    data  (length bytes)
    checksum (2B LE: sum of data bytes mod 65536)

per MS-OXTNEF §2.1. This core surfaces the message subject (in the
``eml_subject`` meta key shared with eml) and plain body, and recurses
attachment payloads like archive members (the
winmail.dat-hides-the-real-attachment failure mode Tika exists to fix).
Strings are codepage bytes with a trailing NUL; the extraction core hands
it bytes (:func:`core.errors.payload_bytes`). Malformed streams raise
:class:`ExtractError` ('tnef:' prefix) -> ``parse_ok=false`` rows, never
task failures.
"""

from __future__ import annotations

import struct

from tika_wrap_spark.core.errors import ExtractError

MAGIC = b"\x78\x9f\x3e\x22"  # 0x223E9F78 little-endian

LVL_MESSAGE = 0x01
LVL_ATTACHMENT = 0x02

ATT_TNEF_VERSION = 0x00089006
ATT_MESSAGE_CLASS = 0x00078008
ATT_SUBJECT = 0x00018004
ATT_BODY = 0x0002800C
ATT_ATTACH_REND_DATA = 0x00069002  # starts a new attachment
ATT_ATTACH_TITLE = 0x00018010
ATT_ATTACH_DATA = 0x0006800F

_MAX_ATTRS = 4096


def _cstring(data: bytes) -> str:
    return data.split(b"\x00", 1)[0].decode("latin-1")


def parse_tnef(data: bytes) -> tuple[str, str, str, list[tuple[str, bytes]]]:
    """(message_class, subject, body, [(attachment_name, payload), ...])."""
    if not data.startswith(MAGIC):
        raise ExtractError("tnef: bad signature")
    if len(data) < 6:
        raise ExtractError("tnef: truncated header")
    pos = 6  # signature + legacy key
    msg_class = ""
    subject = ""
    body = ""
    attachments: list[tuple[str, bytes]] = []
    cur_name = ""
    cur_data: bytes | None = None
    n = len(data)
    n_attrs = 0

    def flush_attachment() -> None:
        nonlocal cur_name, cur_data
        if cur_data is not None:
            attachments.append(
                (cur_name or "attachment_%d" % len(attachments), cur_data)
            )
        cur_name = ""
        cur_data = None

    while pos < n:
        if n - pos < 11:
            raise ExtractError("tnef: truncated attribute header")
        level = data[pos]
        if level not in (LVL_MESSAGE, LVL_ATTACHMENT):
            raise ExtractError("tnef: bad attribute level 0x%02x" % level)
        att_id, length = struct.unpack_from("<II", data, pos + 1)
        pos += 9
        if length > n - pos - 2:
            raise ExtractError("tnef: attribute 0x%08x overruns payload" % att_id)
        payload = data[pos : pos + length]
        pos += length
        (want,) = struct.unpack_from("<H", data, pos)
        pos += 2
        if sum(payload) % 65536 != want:
            raise ExtractError("tnef: checksum mismatch on 0x%08x" % att_id)
        n_attrs += 1
        if n_attrs > _MAX_ATTRS:
            raise ExtractError("tnef: too many attributes")
        if att_id == ATT_MESSAGE_CLASS:
            msg_class = _cstring(payload)
        elif att_id == ATT_SUBJECT and not subject:
            subject = _cstring(payload)
        elif att_id == ATT_BODY and not body:
            body = _cstring(payload)
        elif att_id == ATT_ATTACH_REND_DATA:
            flush_attachment()  # rend-data opens the next attachment
        elif att_id == ATT_ATTACH_TITLE:
            cur_name = _cstring(payload)
        elif att_id == ATT_ATTACH_DATA:
            cur_data = payload
        # version/codepage/date/MAPI props: plumbing, tallied by the walk
    flush_attachment()
    return msg_class, subject, body, attachments


def _attr(level: int, att_id: int, payload: bytes) -> bytes:
    return (
        bytes([level])
        + struct.pack("<II", att_id, len(payload))
        + payload
        + struct.pack("<H", sum(payload) % 65536)
    )


def build_tnef(
    subject: str,
    body: str,
    attachments: list[tuple[str, bytes]] | None = None,
) -> bytes:
    """Deterministic TNEF stream — the test/corpus builder twin."""
    out = bytearray(MAGIC)
    out.extend(struct.pack("<H", 1))  # legacy key
    out.extend(_attr(LVL_MESSAGE, ATT_TNEF_VERSION, struct.pack("<I", 0x00010000)))
    out.extend(_attr(LVL_MESSAGE, ATT_MESSAGE_CLASS, b"IPM.Note\x00"))
    out.extend(_attr(LVL_MESSAGE, ATT_SUBJECT, subject.encode("latin-1") + b"\x00"))
    out.extend(_attr(LVL_MESSAGE, ATT_BODY, body.encode("latin-1") + b"\x00"))
    for name, payload in attachments or []:
        out.extend(_attr(LVL_ATTACHMENT, ATT_ATTACH_REND_DATA, b"\x00" * 14))
        out.extend(
            _attr(LVL_ATTACHMENT, ATT_ATTACH_TITLE, name.encode("latin-1") + b"\x00")
        )
        out.extend(_attr(LVL_ATTACHMENT, ATT_ATTACH_DATA, payload))
    return bytes(out)


def build_tnef_text(
    subject: str,
    body: str,
    attachments: list[tuple[str, str]] | None = None,
) -> str:
    atts = [(n, p.encode("latin-1")) for n, p in attachments or []]
    return build_tnef(subject, body, atts).decode("latin-1")
