"""Standard MIDI file (SMF) text extraction — MThd/MTrk chunk walk.

Tika parses .mid files via its MidiParser and emits the file's embedded
TEXT-class meta events (text, copyright, track/instrument names, lyrics,
markers) as the document body (the reference reaches it through Tika,
/root/reference/src/java-env.cpp:313-314). This module implements the
public SMF 1.0 byte layout (MMA/AMEI "Standard MIDI Files 1.0", RP-001):

  MThd <len=6> <format:2> <ntrks:2> <division:2>
  MTrk <len:4> { <delta:varint> <event> }*

Events walked: meta ``FF <type> <len:varint> <data>`` (the six text-class
types 0x01-0x06 are extracted; 0x2F ends the track), SysEx ``F0/F7
<len:varint>`` (skipped by length), and channel messages sized by status
nibble (2 data bytes, or 1 for program-change/channel-pressure) with
RUNNING STATUS honored — a data-range byte reuses the previous status,
the detail naive walkers get wrong. One text block per carrying track;
the track count and first track name surface as the ``midi_tracks`` /
``midi_track_name`` meta keys. Malformed files raise
:class:`ExtractError` -> ``parse_ok=false`` rows, never task failures.

The builder twin :func:`build_midi` emits real note events between the
text events (variable delta times, running-status reuse) so the parser's
skip logic is exercised by every corpus document, not just by tests.
"""

from __future__ import annotations

import struct

from tika_wrap_spark.core.errors import ExtractError

MIDI_MAGIC = b"MThd"

# text-class meta event types (SMF 1.0 §meta events), in spec order
_TEXT_TYPES = {
    0x01: "text",
    0x02: "copyright",
    0x03: "track_name",
    0x04: "instrument",
    0x05: "lyric",
    0x06: "marker",
}
_META = 0xFF
_EOT = 0x2F  # end-of-track meta type

MAX_TRACKS = 256
MAX_EVENTS_PER_TRACK = 200_000


def _varint(data: bytes, i: int) -> tuple[int, int]:
    """SMF variable-length quantity at ``i`` -> (value, next index)."""
    v = 0
    for _ in range(4):  # spec caps VLQs at 4 bytes
        if i >= len(data):
            raise ExtractError("midi: truncated varint")
        b = data[i]
        i += 1
        v = (v << 7) | (b & 0x7F)
        if not b & 0x80:
            return v, i
    raise ExtractError("midi: varint longer than 4 bytes")


def parse_midi(data: bytes) -> dict:
    """Parse one SMF file -> ``{"format", "division", "tracks"}`` where
    ``tracks`` is a list of per-track text-event lists ``[(type_name,
    text), ...]`` in file order."""
    if not data.startswith(MIDI_MAGIC):
        raise ExtractError("midi: bad magic")
    if len(data) < 14:
        raise ExtractError("midi: truncated header")
    hlen, fmt, ntrks, division = struct.unpack(">IHHH", data[4:14])
    if hlen < 6:
        raise ExtractError("midi: header length %d < 6" % hlen)
    if fmt not in (0, 1, 2):
        raise ExtractError("midi: unknown format %d" % fmt)
    if ntrks > MAX_TRACKS:
        raise ExtractError("midi: %d tracks exceeds cap %d" % (ntrks, MAX_TRACKS))
    if fmt == 0 and ntrks != 1:
        raise ExtractError("midi: format 0 requires 1 track, got %d" % ntrks)
    i = 8 + hlen  # skip any header extension bytes per spec
    tracks: list[list[tuple[str, str]]] = []
    for _ in range(ntrks):
        if i + 8 > len(data):
            raise ExtractError("midi: truncated track header")
        if data[i : i + 4] != b"MTrk":
            raise ExtractError("midi: bad track magic %r" % data[i : i + 4])
        tlen = struct.unpack(">I", data[i + 4 : i + 8])[0]
        start = i + 8
        end = start + tlen
        if end > len(data):
            raise ExtractError("midi: track length %d overruns file" % tlen)
        tracks.append(_parse_track(data, start, end))
        i = end
    return {"format": fmt, "division": division, "tracks": tracks}


def _parse_track(data: bytes, i: int, end: int) -> list[tuple[str, str]]:
    events: list[tuple[str, str]] = []
    status = 0  # running status register
    saw_eot = False
    for _ in range(MAX_EVENTS_PER_TRACK):
        if i >= end:
            break
        _delta, i = _varint(data, i)
        if i >= end:
            raise ExtractError("midi: truncated event after delta")
        b = data[i]
        if b & 0x80:
            status = b
            i += 1
            explicit = True
        else:
            if status < 0x80 or status >= 0xF0:
                raise ExtractError("midi: data byte 0x%02x with no running status" % b)
            explicit = False
        if status == _META:
            if not explicit:
                raise ExtractError("midi: meta status cannot run")
            if i >= end:
                raise ExtractError("midi: truncated meta type")
            mtype = data[i]
            mlen, j = _varint(data, i + 1)
            if j + mlen > end:
                raise ExtractError("midi: meta event overruns track")
            if mtype in _TEXT_TYPES:
                # SMF text is historically latin-1; decode permissively
                events.append(
                    (_TEXT_TYPES[mtype], data[j : j + mlen].decode("latin-1"))
                )
            i = j + mlen
            if mtype == _EOT:
                saw_eot = True
                break
            status = 0  # meta/sysex cancel running status
        elif status in (0xF0, 0xF7):
            if not explicit:
                raise ExtractError("midi: sysex status cannot run")
            slen, j = _varint(data, i)
            if j + slen > end:
                raise ExtractError("midi: sysex overruns track")
            i = j + slen
            status = 0
        else:
            # channel message: after an explicit status byte i sits on the
            # first data byte; under running status i ALSO sits on the
            # first data byte (b was never consumed) — one uniform skip
            ndata = 1 if (status & 0xF0) in (0xC0, 0xD0) else 2
            if i + ndata > end:
                raise ExtractError("midi: channel message overruns track")
            i += ndata
    else:
        raise ExtractError("midi: event cap exceeded")
    if not saw_eot:
        raise ExtractError("midi: track missing end-of-track meta")
    return events


def midi_extract_text(data: bytes) -> tuple[list[str], dict[str, str]]:
    """(per-track text blocks, meta) for extraction: one block per track
    that carries any text-class events (lines in file order, prefixed by
    none — Tika likewise concatenates), plus format/track/division meta
    and the first track name under ``midi_track_name``."""
    parsed = parse_midi(data)
    blocks: list[str] = []
    first_name = ""
    for tr in parsed["tracks"]:
        if not tr:
            continue
        blocks.append("\n".join(txt for _t, txt in tr))
        if not first_name:
            for t, txt in tr:
                if t == "track_name" and txt:
                    first_name = txt
                    break
    meta = {
        "midi_format": str(parsed["format"]),
        "midi_tracks": str(len(parsed["tracks"])),
        "midi_division": str(parsed["division"]),
    }
    if first_name:
        meta["midi_track_name"] = first_name
    return blocks, meta


# ---------------------------------------------------------------------------
# builder twin


def _vlq(v: int) -> bytes:
    out = [v & 0x7F]
    v >>= 7
    while v:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    return bytes(reversed(out))


def build_midi(
    tracks: list[list[tuple[str, str]]],
    division: int = 480,
    notes_per_track: int = 4,
) -> bytes:
    """Serialize an SMF file whose per-track text events are ``tracks``
    (type names from the text-class set), interleaved with real
    note-on/note-off pairs exercising running status, plus a tempo meta
    event the parser must skip. Format 0 for one track, else format 1."""
    type_codes = {v: k for k, v in _TEXT_TYPES.items()}
    chunks = bytearray()
    fmt = 0 if len(tracks) == 1 else 1
    chunks += MIDI_MAGIC + struct.pack(">IHHH", 6, fmt, len(tracks), division)
    for ti, evs in enumerate(tracks):
        body = bytearray()
        body += _vlq(0) + bytes([_META, 0x51, 3, 0x07, 0xA1, 0x20])  # tempo
        for ei, (tname, text) in enumerate(evs):
            payload = text.encode("latin-1")
            body += _vlq(ei * 7) + bytes([_META, type_codes[tname]])
            body += _vlq(len(payload)) + payload
            # a note pair after each text event: explicit status note-on,
            # RUNNING-STATUS note-on-velocity-0 as the off (the classic
            # running-status encoding)
            ch = ti % 16
            key = 60 + (ei % 12)
            body += _vlq(3) + bytes([0x90 | ch, key, 100])
            body += _vlq(120) + bytes([key, 0])  # running status
        for n in range(notes_per_track):
            ch = ti % 16
            body += _vlq(1) + bytes([0xC0 | ch, n % 128])  # program change
        body += _vlq(0) + bytes([_META, _EOT, 0])
        chunks += b"MTrk" + struct.pack(">I", len(body)) + body
    return bytes(chunks)


def build_midi_text(tracks: list[list[tuple[str, str]]], **kw) -> str:
    return build_midi(tracks, **kw).decode("latin-1")
