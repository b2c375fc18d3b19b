"""Real media-header parsing: PNG IHDR / JPEG SOF / GIF / BMP dimensions,
WAV (RIFF) audio stream parameters, and AVI (RIFF) video main headers,
pure stdlib.

The reference ships media metadata via external tools (exiftool/sox/
tesseract, /root/reference/README.md:17-21); the sandbox has no media
libraries, but these headers are fixed byte-layout parses (public format
specs: PNG RFC 2083 / W3C, JPEG ISO 10918 marker structure, GIF87a/89a
logical screen descriptor, BMP BITMAPINFOHEADER, RIFF/WAVE fmt chunk,
RIFF/AVI hdrl-list AVIMAINHEADER) needing no decoder. They feed (a)
per-document media metadata in the extraction core and (b) the multimodal
decode operator's image, audio, and video paths — only byte streams with
no recognizable header fall to the declared deterministic stub.

All functions are total: malformed/foreign bytes return ``None``, never
raise (media payloads are untrusted corpus data).
"""

from __future__ import annotations

import struct
import zlib

# top-level import (NOT lazy): build_jpeg runs inside executor-side UDFs
# (corpus generation), where a function-local import would defeat
# make_portable's pickle-by-value shipping and raise ModuleNotFoundError
# on any worker without the package on its path
from tika_wrap_spark.core.exifbin import build_exif_app1, read_ifd, read_ifd_value
from tika_wrap_spark.core.errors import MAX_INFLATED

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
JPEG_MAGIC = b"\xff\xd8"
GIF_MAGICS = (b"GIF87a", b"GIF89a")
BMP_MAGIC = b"BM"
RIFF_MAGIC = b"RIFF"

# shared pixel-count cap: every pixel decoder (bmp/png/gif/jpeg/tiff) checks
# w*h against it before it allocates or inflates, so a decoded RGB buffer
# stays within the 64 MiB inflate cap whatever the header declares
MAX_PIXELS = MAX_INFLATED // 3

# SOF0..SOF15 carry frame dims, except DHT(C4)/JPG(C8)/DAC(CC)
_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}
# standalone markers with no length field
_STANDALONE = frozenset({0x01, 0xD8}) | frozenset(range(0xD0, 0xD8))


def png_dims(data: bytes) -> tuple[int, int] | None:
    """(width, height) from the IHDR chunk, or None if not a valid PNG head.
    IHDR must be the first chunk (spec requirement)."""
    if len(data) < 24 or not data.startswith(PNG_MAGIC):
        return None
    if data[12:16] != b"IHDR":
        return None
    w, h = struct.unpack(">II", data[16:24])
    if w <= 0 or h <= 0:
        return None
    return (w, h)


_PNG_TEXT_KEYS = frozenset({"Title", "Author", "Description"})


def png_text_meta(data: bytes) -> dict[str, str]:
    """Textual metadata from PNG tEXt/iTXt chunks (W3C PNG §11.3.4 —
    Tika's PNGParser surfaces these as document metadata). Returns the
    first Title/Author/Description values, lower-cased keys; tEXt values
    decode latin-1, iTXt utf-8 (zlib-inflated when the compression flag
    is set, bomb-capped). A truncated or malformed chunk ends the walk —
    whatever parsed before it is kept."""
    out: dict[str, str] = {}
    if len(data) < 24 or not data.startswith(PNG_MAGIC) or data[12:16] != b"IHDR":
        return out
    i = 8
    for _ in range(64):  # chunk-count guard
        if i + 8 > len(data):
            break
        (length,) = struct.unpack(">I", data[i : i + 4])
        ctype = data[i + 4 : i + 8]
        if length > len(data) - i - 8 or length > 1 << 20:
            break
        body = data[i + 8 : i + 8 + length]
        if ctype == b"IEND":
            break
        try:
            if ctype == b"tEXt" and b"\x00" in body:
                kw, _, val = body.partition(b"\x00")
                key = kw.decode("latin-1", "replace")
                if key in _PNG_TEXT_KEYS:
                    out.setdefault(key.lower(), val.decode("latin-1", "replace"))
            elif ctype == b"iTXt" and body.count(b"\x00") >= 4:
                kw, _, rest = body.partition(b"\x00")
                key = kw.decode("latin-1", "replace")
                if key in _PNG_TEXT_KEYS and len(rest) >= 2:
                    comp_flag, comp_method = rest[0], rest[1]
                    _lang, _, rest2 = rest[2:].partition(b"\x00")
                    _trans, _, val = rest2.partition(b"\x00")
                    if comp_flag == 1 and comp_method == 0:
                        val = zlib.decompressobj().decompress(val, 1 << 20)
                    if comp_flag in (0, 1):
                        out.setdefault(key.lower(), val.decode("utf-8", "replace"))
        except (zlib.error, ValueError):
            break
        i += 12 + length  # length + type + body + crc
    return out


def jpeg_dims(data: bytes) -> tuple[int, int] | None:
    """(width, height) from the first SOF segment, walking the marker
    stream; None for non-JPEG or truncated-before-SOF bytes."""
    n = len(data)
    if n < 4 or not data.startswith(JPEG_MAGIC):
        return None
    i = 2
    while i + 1 < n:
        if data[i] != 0xFF:
            return None
        marker = data[i + 1]
        while marker == 0xFF and i + 2 < n:  # fill bytes
            i += 1
            marker = data[i + 1]
        if marker in _STANDALONE:
            i += 2
            continue
        if marker in (0xD9, 0xDA):  # EOI / SOS before any SOF
            return None
        if i + 4 > n:
            return None
        seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
        if seg_len < 2:
            return None
        if marker in _SOF_MARKERS:
            if i + 9 > n:
                return None
            h, w = struct.unpack(">HH", data[i + 5 : i + 9])
            if w <= 0 or h <= 0:
                return None
            return (w, h)
        i += 2 + seg_len
    return None


def gif_dims(data: bytes) -> tuple[int, int] | None:
    """(width, height) from the GIF logical screen descriptor (bytes 6..9,
    little-endian uint16 each), or None for non-GIF/truncated bytes."""
    if len(data) < 10 or not data.startswith(GIF_MAGICS):
        return None
    w, h = struct.unpack("<HH", data[6:10])
    if w <= 0 or h <= 0:
        return None
    return (w, h)


def bmp_dims(data: bytes) -> tuple[int, int] | None:
    """(width, height) from the BMP BITMAPINFOHEADER (signed LE int32 at
    offsets 18/22; a negative height encodes top-down row order — the
    magnitude is the pixel height), or None for non-BMP/truncated bytes."""
    if len(data) < 26 or not data.startswith(BMP_MAGIC):
        return None
    hdr_size = struct.unpack("<I", data[14:18])[0]
    if hdr_size < 40:  # BITMAPCOREHEADER (12) uses uint16 dims — not emitted
        return None    # by anything modern; reject rather than misparse
    w, h = struct.unpack("<ii", data[18:26])
    if w <= 0 or h == 0:
        return None
    return (w, abs(h))


def wav_info(data: bytes) -> tuple[int, int, int, int] | None:
    """(channels, sample_rate, bits_per_sample, n_frames) from a RIFF/WAVE
    header: walk the chunk list for ``fmt `` (stream parameters) and
    ``data`` (payload size; frames = size // block_align). Returns None for
    non-WAV bytes or a malformed/short chunk walk."""
    n = len(data)
    if n < 12 or not data.startswith(RIFF_MAGIC) or data[8:12] != b"WAVE":
        return None
    channels = sample_rate = bits = block_align = None
    n_frames = 0
    i = 12
    while i + 8 <= n:
        cid = data[i : i + 4]
        size = struct.unpack("<I", data[i + 4 : i + 8])[0]
        body = data[i + 8 : i + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            channels, sample_rate = struct.unpack("<HI", body[2:8])
            block_align, bits = struct.unpack("<HH", body[12:16])
        elif cid == b"data":
            if block_align:
                n_frames = size // block_align
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if not channels or not sample_rate or not bits:
        return None
    return (channels, sample_rate, bits, n_frames)


def avi_info(data: bytes) -> tuple[int, int, int, int] | None:
    """(width, height, n_frames, n_streams) from a RIFF/AVI main header:
    walk the top-level chunk list for ``LIST/hdrl``, then its sub-chunks
    for ``avih`` (AVIMAINHEADER: dwTotalFrames at body offset 16,
    dwStreams at 24, dwWidth/dwHeight at 32/36, all LE uint32). Returns
    None for non-AVI bytes or a malformed/short chunk walk."""
    n = len(data)
    if n < 12 or not data.startswith(RIFF_MAGIC) or data[8:12] != b"AVI ":
        return None
    i = 12
    while i + 8 <= n:
        cid = data[i : i + 4]
        size = struct.unpack("<I", data[i + 4 : i + 8])[0]
        if cid == b"LIST" and data[i + 8 : i + 12] == b"hdrl":
            j = i + 12
            end = min(i + 8 + size, n)
            while j + 8 <= end:
                sub = data[j : j + 4]
                sub_size = struct.unpack("<I", data[j + 4 : j + 8])[0]
                if sub == b"avih" and sub_size >= 40 and j + 8 + 40 <= n:
                    body = data[j + 8 : j + 48]
                    frames, streams = struct.unpack("<II", body[16:20] + body[24:28])
                    w, h = struct.unpack("<II", body[32:40])
                    if w <= 0 or h <= 0:
                        return None
                    return (w, h, frames, streams)
                j += 8 + sub_size + (sub_size & 1)
            return None  # hdrl list without an avih header
        i += 8 + size + (size & 1)  # chunks are word-aligned
    return None


# MPEG-1 Layer III tables (ISO/IEC 11172-3): bitrate kbps by header index
# (0 = free, 15 = bad) and sample rate by index (3 = reserved)
_MP3_BITRATES = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
_MP3_RATES = (44100, 48000, 32000, 0)


def mp3_info(data: bytes) -> tuple[int, int, int, int] | None:
    """(channels, sample_rate, bitrate_kbps, est_frames) from an MPEG-1
    Layer III stream: skip an optional ID3v2 tag (syncsafe size), validate
    the first frame header's sync/version/layer/bitrate/rate fields, and
    estimate the frame count from the fixed Layer-III frame size
    ``144 * bitrate / sample_rate``. Returns None for non-MP3 bytes."""
    pos = 0
    n = len(data)
    if data[:3] == b"ID3" and n >= 10:
        size = (
            ((data[6] & 0x7F) << 21)
            | ((data[7] & 0x7F) << 14)
            | ((data[8] & 0x7F) << 7)
            | (data[9] & 0x7F)
        )
        pos = 10 + size
    if n < pos + 4:
        return None
    b = data[pos : pos + 4]
    if b[0] != 0xFF or (b[1] & 0xE0) != 0xE0:
        return None
    version = (b[1] >> 3) & 3
    layer = (b[1] >> 1) & 3
    if version != 3 or layer != 1:  # MPEG-1 Layer III only
        return None
    br_idx = (b[2] >> 4) & 0xF
    sr_idx = (b[2] >> 2) & 3
    if br_idx in (0, 15) or sr_idx == 3:
        return None
    bitrate = _MP3_BITRATES[br_idx] * 1000
    sample_rate = _MP3_RATES[sr_idx]
    channels = 1 if ((b[3] >> 6) & 3) == 3 else 2
    frame_size = (144 * bitrate) // sample_rate
    est_frames = max(1, (n - pos) // max(frame_size, 1))
    return (channels, sample_rate, bitrate // 1000, est_frames)


# ID3v2 text-frame ids -> the flat metadata keys the decode surfaces
# (Tika's XMPDM/ID3 tag analog; the reference declares exiftool for the
# same job, /root/reference/README.md:19)
_ID3_TEXT_FRAMES = {
    "TIT2": "title",
    "TPE1": "artist",
    "TALB": "album",
    "TYER": "year",  # v2.3
    "TDRC": "year",  # v2.4 recording time supersedes TYER
}


def _syncsafe(n: int) -> bytes:
    return bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])


def mp3_id3_tags(data: bytes) -> dict[str, str]:
    """ID3v2.3/2.4 text frames (TIT2/TPE1/TALB/TYER/TDRC) -> flat strings.
    Frame sizes are plain big-endian in v2.3 and syncsafe in v2.4; text
    payloads carry a leading encoding byte (0 latin-1, 1 utf-16 w/ BOM,
    3 utf-8 in v2.4). Returns {} for untagged / non-MP3 / malformed bytes
    (truncation never raises — metadata is best-effort, content is not)."""
    if data[:3] != b"ID3" or len(data) < 10:
        return {}
    major = data[3]
    tag_end = 10 + (
        ((data[6] & 0x7F) << 21)
        | ((data[7] & 0x7F) << 14)
        | ((data[8] & 0x7F) << 7)
        | (data[9] & 0x7F)
    )
    tag_end = min(tag_end, len(data))
    pos = 10
    if data[5] & 0x40 and tag_end - pos >= 4:  # extended header: skip
        ext = int.from_bytes(data[pos : pos + 4], "big")
        if major == 4:
            ext = ((ext >> 24) & 0x7F) << 21 | ((ext >> 16) & 0x7F) << 14 | (
                (ext >> 8) & 0x7F
            ) << 7 | (ext & 0x7F)
        else:
            ext += 4  # v2.3 size excludes its own 4 size bytes
        pos += ext
    out: dict[str, str] = {}
    while pos + 10 <= tag_end:
        fid = data[pos : pos + 4]
        if fid == b"\x00\x00\x00\x00":  # zero padding
            break
        raw = data[pos + 4 : pos + 8]
        if major == 4:
            size = (
                ((raw[0] & 0x7F) << 21)
                | ((raw[1] & 0x7F) << 14)
                | ((raw[2] & 0x7F) << 7)
                | (raw[3] & 0x7F)
            )
        else:
            size = int.from_bytes(raw, "big")
        body = data[pos + 10 : pos + 10 + size]
        pos += 10 + size
        if len(body) != size:  # truncated tag: keep what parsed
            break
        key = _ID3_TEXT_FRAMES.get(fid.decode("latin-1", "replace"))
        if key is None or key in out or not body:
            continue
        enc, text = body[0], body[1:]
        try:
            if enc == 1:
                val = text.decode("utf-16")  # BOM-led
            elif enc == 2:
                val = text.decode("utf-16-be")
            elif enc == 3:
                val = text.decode("utf-8")
            else:
                val = text.decode("latin-1")
        except UnicodeDecodeError:
            continue
        val = val.split("\x00", 1)[0].strip()
        if val:
            out[key] = val
    return out


def build_id3v2(tags: dict[str, str]) -> bytes:
    """ID3v2.3 tag bytes for the given flat keys (title/artist/album/year);
    latin-1 where encodable, else BOM'd utf-16."""
    frames = b""
    ids = {v: k for k, v in _ID3_TEXT_FRAMES.items() if k != "TDRC"}
    for key, val in tags.items():
        fid = ids.get(key)
        if fid is None:
            continue
        try:
            body = b"\x00" + val.encode("latin-1")
        except UnicodeEncodeError:
            body = b"\x01\xff\xfe" + val.encode("utf-16-le")
        frames += fid.encode("ascii") + len(body).to_bytes(4, "big") + b"\x00\x00" + body
    return b"ID3\x03\x00\x00" + _syncsafe(len(frames)) + frames


def build_mp3(
    bitrate_kbps: int,
    sample_rate: int,
    mono: bool,
    n_frames: int,
    id3: bool = False,
    id3_tags: dict[str, str] | None = None,
) -> bytes:
    """Minimal structurally-valid MPEG-1 Layer III stream: ``n_frames``
    frames of correct header + zero payload (no padding bit), optionally
    preceded by an ID3v2.3 tag (empty, or carrying ``id3_tags`` text
    frames). Header-parseable; carries no audio."""
    br_idx = _MP3_BITRATES.index(bitrate_kbps)
    sr_idx = _MP3_RATES.index(sample_rate)
    hdr = bytes(
        [
            0xFF,
            0xFB,  # sync + MPEG-1 + Layer III + no CRC
            (br_idx << 4) | (sr_idx << 2),
            0xC0 if mono else 0x00,  # mono vs stereo mode
        ]
    )
    frame_size = (144 * bitrate_kbps * 1000) // sample_rate
    frame = hdr + b"\x00" * (frame_size - 4)
    if id3_tags:
        tag = build_id3v2(id3_tags)
    elif id3:
        tag = b"ID3\x03\x00\x00\x00\x00\x00\x00"
    else:
        tag = b""
    return tag + frame * n_frames


# ---------------------------------------------------------------------------
# FLAC (STREAMINFO + Vorbis comments) and Ogg Vorbis — the exiftool/sox
# analog for the two lossless/free audio containers a web corpus carries
# ---------------------------------------------------------------------------

FLAC_MAGIC = b"fLaC"
OGG_MAGIC = b"OggS"


def flac_info(data: bytes) -> tuple[int, int, int, int] | None:
    """(channels, sample_rate, bits_per_sample, total_samples) from the
    mandatory STREAMINFO metadata block (always the first block after the
    fLaC marker; sample rate is a 20-bit field, channels-1 3 bits,
    bits-1 5 bits, total samples 36 bits)."""
    if len(data) < 42 or not data.startswith(FLAC_MAGIC):
        return None
    if data[4] & 0x7F != 0 or int.from_bytes(data[5:8], "big") < 34:
        return None
    b = data[8:42]
    sr = (b[10] << 12) | (b[11] << 4) | (b[12] >> 4)
    if sr == 0:
        return None
    channels = ((b[12] >> 1) & 0x07) + 1
    bits = (((b[12] & 1) << 4) | (b[13] >> 4)) + 1
    total = ((b[13] & 0x0F) << 32) | int.from_bytes(b[14:18], "big")
    return channels, sr, bits, total


def _vorbis_comments(buf: bytes) -> dict[str, str]:
    """{lowered key: value} from a Vorbis comment payload: u32le vendor
    length + vendor, u32le count, then count x (u32le length + 'KEY=value'
    utf-8). Truncated payloads degrade to fewer comments, never raise."""
    n = len(buf)
    if n < 8:
        return {}
    i = 4 + int.from_bytes(buf[0:4], "little")
    if i + 4 > n:
        return {}
    count = int.from_bytes(buf[i : i + 4], "little")
    i += 4
    out: dict[str, str] = {}
    for _ in range(min(count, 256)):
        if i + 4 > n:
            break
        ln = int.from_bytes(buf[i : i + 4], "little")
        i += 4
        if i + ln > n:
            break
        kv = buf[i : i + ln].decode("utf-8", "replace")
        i += ln
        if "=" in kv:
            k, val = kv.split("=", 1)
            out[k.lower()] = val
    return out


def flac_tags(data: bytes) -> dict[str, str]:
    """Vorbis comments from a FLAC metadata-block walk (block type 4);
    {} for untagged or unparseable streams."""
    if len(data) < 8 or not data.startswith(FLAC_MAGIC):
        return {}
    i = 4
    for _ in range(64):  # block-count bound: corrupt chains terminate
        if i + 4 > len(data):
            break
        hdr = data[i]
        blen = int.from_bytes(data[i + 1 : i + 4], "big")
        if hdr & 0x7F == 4:
            return _vorbis_comments(data[i + 4 : i + 4 + blen])
        i += 4 + blen
        if hdr & 0x80:  # last-metadata-block flag
            break
    return {}


def build_flac(
    channels: int,
    sample_rate: int,
    bits: int,
    total_samples: int,
    tags: dict[str, str] | None = None,
) -> bytes:
    """Minimal structurally-valid FLAC head: STREAMINFO (+ optional
    VORBIS_COMMENT) metadata blocks and a token frame-sync byte pair.
    Header-parseable; carries no audio."""
    si = bytearray(34)
    struct.pack_into(">HH", si, 0, 4096, 4096)  # min/max blocksize
    si[10] = sample_rate >> 12
    si[11] = (sample_rate >> 4) & 0xFF
    si[12] = ((sample_rate & 0xF) << 4) | ((channels - 1) << 1) | ((bits - 1) >> 4)
    si[13] = (((bits - 1) & 0xF) << 4) | ((total_samples >> 32) & 0xF)
    si[14:18] = struct.pack(">I", total_samples & 0xFFFFFFFF)
    blocks = []
    if tags:
        body = struct.pack("<I", 4) + b"twc0"
        body += struct.pack("<I", len(tags))
        for k, v in tags.items():
            kv = ("%s=%s" % (k.upper(), v)).encode("utf-8")
            body += struct.pack("<I", len(kv)) + kv
        blocks.append((4, body))
    out = bytearray(FLAC_MAGIC)
    heads = [(0, bytes(si))] + blocks
    for idx, (btype, body) in enumerate(heads):
        last = 0x80 if idx == len(heads) - 1 else 0
        out += bytes([last | btype]) + len(body).to_bytes(3, "big") + body
    return bytes(out) + b"\xff\xf8"  # frame sync stub


def _ogg_page(header_type: int, granule: int, seq: int, packets: list[bytes]) -> bytes:
    """One Ogg page (CRC left 0 — the reader does not verify): 255-run
    lacing values per packet."""
    lacing = bytearray()
    body = bytearray()
    for p in packets:
        ln = len(p)
        while ln >= 255:
            lacing.append(255)
            ln -= 255
        lacing.append(ln)
        body += p
    return (
        OGG_MAGIC
        + b"\x00"
        + bytes([header_type])
        + struct.pack("<q", granule)
        + struct.pack("<III", 0x7477, seq, 0)
        + bytes([len(lacing)])
        + bytes(lacing)
        + bytes(body)
    )


def build_ogg_vorbis(
    channels: int,
    sample_rate: int,
    total_samples: int,
    tags: dict[str, str] | None = None,
) -> bytes:
    """Minimal structurally-valid Ogg Vorbis stream: BOS page with the
    identification header, a page with the comment header, and an EOS
    page whose granule position carries the total sample count."""
    ident = b"\x01vorbis" + struct.pack(
        "<IBIiii", 0, channels, sample_rate, 0, sample_rate * 4, 0
    ) + b"\xb8\x01"
    vendor = b"twc0"
    comment = b"\x03vorbis" + struct.pack("<I", len(vendor)) + vendor
    kvs = [("%s=%s" % (k.upper(), v)).encode("utf-8") for k, v in (tags or {}).items()]
    comment += struct.pack("<I", len(kvs))
    for kv in kvs:
        comment += struct.pack("<I", len(kv)) + kv
    comment += b"\x01"
    return (
        _ogg_page(0x02, 0, 0, [ident])  # BOS
        + _ogg_page(0x00, 0, 1, [comment])
        + _ogg_page(0x04, total_samples, 2, [b"\x00"])  # EOS: granule = total
    )


def ogg_vorbis_info(data: bytes) -> tuple[int, int, int] | None:
    """(channels, sample_rate, total_samples) from the Vorbis
    identification header on the first (BOS) page plus the final page's
    granule position (total PCM samples by the Ogg mapping)."""
    if len(data) < 58 or not data.startswith(OGG_MAGIC):
        return None
    nsegs = data[26]
    off = 27 + nsegs
    if data[off : off + 7] != b"\x01vorbis" or off + 16 > len(data):
        return None
    channels = data[off + 11]
    rate = int.from_bytes(data[off + 12 : off + 16], "little")
    if not channels or not rate:
        return None
    last = data.rfind(OGG_MAGIC)
    total = 0
    if last + 14 <= len(data):
        total = max(int.from_bytes(data[last + 6 : last + 14], "little", signed=True), 0)
    return channels, rate, total


def ogg_tags(data: bytes) -> dict[str, str]:
    """Vorbis comments from the comment header packet. The builder keeps
    the packet within one page; a foreign stream whose comment header
    spans pages degrades to fewer comments (documented bound)."""
    i = data.find(b"\x03vorbis")
    if i < 0:
        return {}
    return _vorbis_comments(data[i + 7 :])


def image_dims(data: bytes) -> tuple[int, int] | None:
    """Dispatch on magic: PNG IHDR / JPEG SOF / GIF screen descriptor /
    BMP info-header / TIFF IFD0 / WebP frame-header dims, else None."""
    if data.startswith(PNG_MAGIC):
        return png_dims(data)
    if data.startswith(JPEG_MAGIC):
        return jpeg_dims(data)
    if data.startswith(GIF_MAGICS):
        return gif_dims(data)
    if data.startswith(BMP_MAGIC):
        return bmp_dims(data)
    if data.startswith(TIFF_MAGICS):
        return tiff_dims(data)
    if data.startswith(RIFF_MAGIC) and data[8:12] == WEBP_FOURCC:
        return webp_dims(data)
    return None


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
    return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)


def build_png(
    width: int,
    height: int,
    extra: bytes = b"",
    texts: list[tuple[str, str]] | None = None,
    itxt_compressed: bool = False,
) -> bytes:
    """Minimal structurally-valid PNG head: magic + IHDR (correct CRC) +
    optional tEXt/iTXt metadata chunks + ``extra`` filler — enough for
    any header-parsing consumer; the pixel data is not rendered by
    anything in this engine. ``texts`` rows whose value is pure latin-1
    emit tEXt; others emit iTXt (utf-8, zlib-deflated when
    ``itxt_compressed``)."""
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    out = PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
    for key, val in texts or []:
        try:
            out += _png_chunk(
                b"tEXt", key.encode("latin-1") + b"\x00" + val.encode("latin-1")
            )
        except UnicodeEncodeError:
            payload = val.encode("utf-8")
            flag = b"\x01\x00" if itxt_compressed else b"\x00\x00"
            if itxt_compressed:
                payload = zlib.compress(payload, 6)
            out += _png_chunk(
                b"iTXt",
                key.encode("latin-1") + b"\x00" + flag + b"\x00\x00" + payload,
            )
    return out + extra


def build_gif(width: int, height: int, v89: bool = True) -> bytes:
    """Minimal GIF head: magic + logical screen descriptor + trailer."""
    magic = GIF_MAGICS[1] if v89 else GIF_MAGICS[0]
    return magic + struct.pack("<HH", width, height) + b"\x00\x00\x00;"


def build_bmp(width: int, height: int, top_down: bool = False) -> bytes:
    """Minimal BMP head: BITMAPFILEHEADER + BITMAPINFOHEADER (no pixels)."""
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, -height if top_down else height,
        1, 24, 0, 0, 2835, 2835, 0, 0,
    )
    return BMP_MAGIC + struct.pack("<IHHI", 54, 0, 0, 54) + info


def build_avi(
    width: int, height: int, n_frames: int, n_streams: int = 1
) -> bytes:
    """Minimal RIFF/AVI head: LIST/hdrl with a 56-byte avih main header
    (frame count, stream count, dims) — enough for any header-parsing
    consumer; no movi payload."""
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        33333, 0, 0, 0x10, n_frames, 0, n_streams, 0, width, height, 0, 0, 0, 0,
    )
    hdrl = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
    lst = b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
    return RIFF_MAGIC + struct.pack("<I", 4 + len(lst)) + b"AVI " + lst


def build_wav(
    channels: int, sample_rate: int, bits: int, n_frames: int
) -> bytes:
    """Minimal RIFF/WAVE header: fmt + a zero-filled data chunk sized for
    ``n_frames`` frames (capped payload — header parsing never reads it)."""
    block_align = channels * bits // 8
    data_size = n_frames * block_align
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate,
        sample_rate * block_align, block_align, bits,
    )
    payload = bytes(min(data_size, 64))  # declared size drives frame count
    return (
        RIFF_MAGIC + struct.pack("<I", 36 + data_size) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", data_size) + payload
    )


def build_jpeg(
    width: int, height: int, progressive: bool = False, exif: dict | None = None
) -> bytes:
    """Minimal JPEG head: SOI + APP0(JFIF) [+ APP1/Exif] + SOF0 (or SOF2)
    + EOI. ``exif`` kwargs pass through to ``exifbin.build_exif_app1``."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + struct.pack(
        ">HH", 1, 1
    ) + b"\x00\x00"
    app1 = b""
    if exif:
        app1 = build_exif_app1(**exif)
    sof_marker = b"\xff\xc2" if progressive else b"\xff\xc0"
    sof = sof_marker + struct.pack(">HBHHB", 8 + 3 * 1, 8, height, width, 1) + bytes(
        [1, 0x11, 0]
    )
    return JPEG_MAGIC + app0 + app1 + sof + b"\xff\xd9"


# ---------------------------------------------------------------------------
# pixel-level codecs: 24-bit BMP and 8-bit RGB PNG — the two uncompressed /
# stdlib-decodable formats. These graduate the multimodal resize kernel from
# a declared stub to real pixel work (no media libs needed: BMP is a plain
# byte array, PNG is zlib + the five fixed RFC 2083 row filters).
# ---------------------------------------------------------------------------


def bmp_pixels(data: bytes) -> tuple[int, int, bytes] | None:
    """Decode a 24-bit uncompressed BMP into (w, h, rgb) where ``rgb`` is
    top-down row-major R,G,B bytes (w*h*3). None for anything else
    (compressed, paletted, or non-BMP bytes) — the caller's stub path."""
    if len(data) < 54 or not data.startswith(BMP_MAGIC):
        return None
    px_off = struct.unpack("<I", data[10:14])[0]
    hdr_size = struct.unpack("<I", data[14:18])[0]
    if hdr_size < 40:
        return None
    w, h_raw = struct.unpack("<ii", data[18:26])
    planes, bpp = struct.unpack("<HH", data[26:30])
    compression = struct.unpack("<I", data[30:34])[0]
    if w <= 0 or h_raw == 0 or planes != 1 or bpp != 24 or compression != 0:
        return None
    h = abs(h_raw)
    top_down = h_raw < 0
    stride = ((w * 3 + 3) // 4) * 4
    if w * h > MAX_PIXELS or px_off + stride * h > len(data):
        return None
    out = bytearray(w * h * 3)
    for row in range(h):
        src_row = row if top_down else h - 1 - row
        base = px_off + src_row * stride
        line = data[base : base + w * 3]
        # BMP stores BGR; emit RGB
        for x in range(w):
            out[(row * w + x) * 3 + 0] = line[x * 3 + 2]
            out[(row * w + x) * 3 + 1] = line[x * 3 + 1]
            out[(row * w + x) * 3 + 2] = line[x * 3 + 0]
    return (w, h, bytes(out))


def build_bmp_pixels(width: int, height: int, rgb: bytes, top_down: bool = False) -> bytes:
    """Encode top-down row-major RGB bytes as a 24-bit uncompressed BMP
    (rows padded to 4 bytes; bottom-up storage unless ``top_down``)."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != w*h*3")
    stride = ((width * 3 + 3) // 4) * 4
    pad = b"\x00" * (stride - width * 3)
    rows = []
    row_range = range(height) if top_down else range(height - 1, -1, -1)
    for row in row_range:
        line = bytearray()
        for x in range(width):
            p = (row * width + x) * 3
            line += bytes((rgb[p + 2], rgb[p + 1], rgb[p]))  # RGB -> BGR
        rows.append(bytes(line) + pad)
    pixels = b"".join(rows)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, -height if top_down else height,
        1, 24, 0, len(pixels), 2835, 2835, 0, 0,
    )
    return (
        BMP_MAGIC
        + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54)
        + info
        + pixels
    )


def png_unfilter(raw: bytes, rowlen: int, bpp: int) -> bytes | None:
    """Undo the five RFC 2083 row filters (None/Sub/Up/Average/Paeth) over
    whole rows of ``rowlen`` bytes, each prefixed by a filter-type byte,
    with ``bpp`` bytes per pixel. Returns the raw scanlines, or None at an
    unknown filter type. Shared by PNG pixels and PDF predictors."""
    out = bytearray()
    prev = bytearray(rowlen)
    for pos in range(0, len(raw), rowlen + 1):
        ft = raw[pos]
        row = bytearray(raw[pos + 1 : pos + 1 + rowlen])
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for k in range(bpp, rowlen):
                row[k] = (row[k] + row[k - bpp]) & 0xFF
        elif ft == 2:  # Up
            for k in range(rowlen):
                row[k] = (row[k] + prev[k]) & 0xFF
        elif ft == 3:  # Average
            for k in range(rowlen):
                left = row[k - bpp] if k >= bpp else 0
                row[k] = (row[k] + ((left + prev[k]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for k in range(rowlen):
                a = row[k - bpp] if k >= bpp else 0
                b = prev[k]
                c = prev[k - bpp] if k >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[k] = (row[k] + pred) & 0xFF
        else:
            return None
        out.extend(row)
        prev = row
    return bytes(out)


def png_pixels(data: bytes) -> tuple[int, int, bytes] | None:
    """Decode an 8-bit RGB (color type 2, no interlace) PNG into
    (w, h, rgb) top-down row-major bytes. None for palette/alpha/16-bit/
    interlaced or malformed streams — those stay on the stub path."""
    if not data.startswith(PNG_MAGIC):
        return None
    pos = 8
    w = h = None
    idat = bytearray()
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) < length:
            return None
        if ctype == b"IHDR":
            if length != 13:
                return None
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or color != 2 or comp != 0 or filt != 0 or interlace != 0:
                return None
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + crc
    if not w or not h or not idat:
        return None
    if w * h > MAX_PIXELS:
        return None
    try:  # inflate one byte past the declared rows at most: more is a bomb
        raw = zlib.decompressobj().decompress(bytes(idat), h * (1 + 3 * w) + 1)
    except zlib.error:
        return None
    if len(raw) != (1 + 3 * w) * h:
        return None
    rgb = png_unfilter(raw, 3 * w, 3)
    if rgb is None:
        return None
    return (w, h, rgb)


def build_png_pixels(width: int, height: int, rgb: bytes) -> bytes:
    """Encode top-down row-major RGB bytes as a real 8-bit RGB PNG
    (filter 0 per row, one zlib IDAT, IEND)."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != w*h*3")
    raw = bytearray()
    for row in range(height):
        raw.append(0)
        raw += rgb[row * width * 3 : (row + 1) * width * 3]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def resize_nearest(
    width: int, height: int, rgb: bytes, new_w: int, new_h: int
) -> bytes:
    """Deterministic integer nearest-neighbor resample of top-down RGB
    bytes: target (x, y) samples source (x*w div new_w, y*h div new_h)."""
    out = bytearray(new_w * new_h * 3)
    for y in range(new_h):
        sy = y * height // new_h
        src_base = sy * width * 3
        dst_base = y * new_w * 3
        for x in range(new_w):
            sp = src_base + (x * width // new_w) * 3
            dp = dst_base + x * 3
            out[dp : dp + 3] = rgb[sp : sp + 3]
    return bytes(out)


# ---------------------------------------------------------------------------
# GIF pixel codec: real LZW (GIF89a spec appendix F / GIF87a) — graduates the
# compressed-image seam for GIF from the declared stub to real pixel work.
# Palette-indexed: encode quantizes RGB to a fixed 6x7x6 level cube (252
# colors), decode maps indices back through the file's own color table.
# ---------------------------------------------------------------------------


def _lzw_decode(data: bytes, min_code_size: int, limit: int) -> list[int] | None:
    """GIF-variant LZW: variable code width starting at min+1, CLEAR resets
    the table, EOI ends the stream; table caps at 4096 entries (12-bit codes
    reach no further). Returns the index stream, cut short once ``limit``
    indices are out (the frame's w*h; what follows is never read), or None
    on a malformed code sequence before that."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out: list[int] = []
    table: list[list[int]] = [[i] for i in range(clear)] + [[], []]
    width = min_code_size + 1
    prev: list[int] | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = [[i] for i in range(clear)] + [[], []]
                width = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return out
            if prev is None:
                if code >= len(table):
                    return None
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + [entry[0]])
            elif code == len(table):
                entry = prev + [prev[0]]
                table.append(entry)
            else:
                return None
            out.extend(entry)
            if len(out) >= limit:
                return out
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
    return out


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW encoder (dict-growing, CLEAR on table full)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    acc = 0
    nbits = 0
    out = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    run = b""
    for b in indices:
        cand = run + bytes([b])
        if cand in table:
            run = cand
            continue
        emit(table[run])
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code == 4096:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        run = bytes([b])
    if run:
        emit(table[run])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# fixed encode palette: 6x7x6 RGB level cube (252 entries, padded to 256)
_GIF_LEVELS = (6, 7, 6)


def _gif_palette() -> bytes:
    pal = bytearray()
    lr, lg, lb = _GIF_LEVELS
    for r in range(lr):
        for g in range(lg):
            for b in range(lb):
                pal += bytes(
                    (r * 255 // (lr - 1), g * 255 // (lg - 1), b * 255 // (lb - 1))
                )
    pal += b"\x00" * (256 * 3 - len(pal))
    return bytes(pal)


def gif_pixels(data: bytes) -> tuple[int, int, bytes] | None:
    """Decode a non-interlaced GIF whose first image covers the full screen
    into (w, h, top-down rgb). Real LZW + color-table mapping, pure python.
    None for interlaced/partial-frame/malformed streams — the stub path."""
    if len(data) < 13 or data[:6] not in GIF_MAGICS:
        return None
    w, h = struct.unpack_from("<HH", data, 6)
    if w * h > MAX_PIXELS:
        return None
    packed = data[10]
    pos = 13
    gct = b""
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = data[pos : pos + 3 * n]
        pos += 3 * n
    while pos < len(data):
        block = data[pos]
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            if pos + 10 > len(data):
                return None
            left, top, iw, ih = struct.unpack_from("<HHHH", data, pos + 1)
            ipacked = data[pos + 9]
            pos += 10
            pal = gct
            if ipacked & 0x80:  # local color table
                n = 2 << (ipacked & 0x07)
                pal = data[pos : pos + 3 * n]
                pos += 3 * n
            if ipacked & 0x40:  # interlaced: declared out of scope
                return None
            if (left, top, iw, ih) != (0, 0, w, h) or not pal:
                return None
            if pos >= len(data):
                return None
            min_code = data[pos]
            pos += 1
            lzw = bytearray()
            while pos < len(data) and data[pos] != 0:
                n = data[pos]
                lzw += data[pos + 1 : pos + 1 + n]
                pos += 1 + n
            idx = _lzw_decode(bytes(lzw), min_code, w * h)
            if idx is None or len(idx) < w * h:
                return None
            rgb = bytearray(w * h * 3)
            npal = len(pal) // 3
            for i in range(w * h):
                j = idx[i]
                if j >= npal:
                    return None
                rgb[i * 3 : i * 3 + 3] = pal[j * 3 : j * 3 + 3]
            return (w, h, bytes(rgb))
        elif block == 0x3B:
            return None  # trailer before any image
        else:
            return None
    return None


def build_gif_pixels(width: int, height: int, rgb: bytes) -> bytes:
    """Encode top-down RGB as a real GIF89a: global 252-color level-cube
    palette, full-frame image descriptor, real LZW stream in 255-byte
    sub-blocks. Lossy by palette quantization (the decode of an encode
    returns the quantized pixels, deterministic)."""
    lr, lg, lb = _GIF_LEVELS
    idx = bytearray(width * height)
    for i in range(width * height):
        r, g, b = rgb[i * 3], rgb[i * 3 + 1], rgb[i * 3 + 2]
        idx[i] = (
            (r * (lr - 1) + 127) // 255 * (lg * lb)
            + (g * (lg - 1) + 127) // 255 * lb
            + (b * (lb - 1) + 127) // 255
        )
    lzw = _lzw_encode(bytes(idx), 8)
    blocks = bytearray()
    for k in range(0, len(lzw), 255):
        chunk = lzw[k : k + 255]
        blocks += bytes([len(chunk)]) + chunk
    return (
        GIF_MAGICS[1]
        + struct.pack("<HHBBB", width, height, 0x80 | 0x07, 0, 0)
        + _gif_palette()
        + b"\x2c"
        + struct.pack("<HHHHB", 0, 0, width, height, 0)
        + bytes([8])
        + bytes(blocks)
        + b"\x00;"
    )


# ---------------------------------------------------------------------------
# TIFF files (image/tiff) — the same IFD structure a JPEG APP1/EXIF body
# carries (TIFF 6.0), starting at byte 0. The IFD walk is SHARED with
# core/exifbin.py (read_ifd/read_ifd_value) per the one-implementation
# invariant; this module adds the file-level dispatch, the pixel path for
# uncompressed RGB strips, and deterministic builders. Tika parses TIFF
# via its TiffParser (the reference delegates to Tika,
# /root/reference/src/java-env.cpp:313); exiftool (README.md:19) reads the
# same tags.
# ---------------------------------------------------------------------------

TIFF_MAGICS = (b"II*\x00", b"MM\x00*")

_TIFF_W, _TIFF_H = 0x0100, 0x0101
_TIFF_BITS, _TIFF_COMPRESSION, _TIFF_PHOTOMETRIC = 0x0102, 0x0103, 0x0106
_TIFF_STRIP_OFFSETS, _TIFF_SPP, _TIFF_STRIP_COUNTS = 0x0111, 0x0115, 0x0117
_TIFF_ORIENTATION = 0x0112


def _tiff_ifd0(data: bytes) -> tuple[dict[int, object], bool] | None:
    """IFD0 tag->decoded value for a whole-file TIFF, or None for non-TIFF
    bytes. Bounds-checked like every parser here — never raises. The IFD
    walk is exifbin's, imported at module top (a function-local import
    would defeat make_portable's by-value shipping on foreign-cwd
    drivers — the header's invariant, re-caught live on this path)."""
    if len(data) < 8 or not data.startswith(TIFF_MAGICS):
        return None
    le = data[:2] == b"II"
    try:
        (ifd0_off,) = struct.unpack_from("<I" if le else ">I", data, 4)
        out: dict[int, object] = {}
        for tag, typ, count, field in read_ifd(data, ifd0_off, le):
            v = read_ifd_value(data, typ, count, field, le)
            if v is not None:
                out[tag] = v
        return (out, le) if out else None
    except (struct.error, ValueError):
        return None


def tiff_dims(data: bytes) -> tuple[int, int] | None:
    """(width, height) from a TIFF file's IFD0 (tags 256/257), else None."""
    parsed = _tiff_ifd0(data)
    if parsed is None:
        return None
    tags, _le = parsed
    w, h = tags.get(_TIFF_W), tags.get(_TIFF_H)
    if isinstance(w, int) and isinstance(h, int) and w > 0 and h > 0:
        return (w, h)
    return None


def tiff_pixels(data: bytes) -> tuple[int, int, bytes] | None:
    """Decode an UNCOMPRESSED (Compression=1) 8-bit RGB strip TIFF into
    (w, h, rgb) top-down row-major bytes. Anything else (LZW/packbits/
    palette/planar/gray) returns None — dims still parse via tiff_dims,
    pixels fall to the caller's declared stub path."""
    parsed = _tiff_ifd0(data)
    if parsed is None:
        return None
    tags, _le = parsed
    w, h = tags.get(_TIFF_W), tags.get(_TIFF_H)
    if not (isinstance(w, int) and isinstance(h, int) and w > 0 and h > 0):
        return None
    if w * h > MAX_PIXELS:
        return None
    if tags.get(_TIFF_COMPRESSION, 1) != 1 or tags.get(_TIFF_PHOTOMETRIC) != 2:
        return None
    if tags.get(_TIFF_SPP, 1) != 3 or tags.get(_TIFF_BITS) not in ((8, 8, 8), 8):
        return None
    offs = tags.get(_TIFF_STRIP_OFFSETS)
    cnts = tags.get(_TIFF_STRIP_COUNTS)
    if isinstance(offs, int):
        offs = (offs,)
    if isinstance(cnts, int):
        cnts = (cnts,)
    if not offs or not cnts or len(offs) != len(cnts):
        return None
    rgb = bytearray()
    for off, cnt in zip(offs, cnts):
        if not isinstance(off, int) or not isinstance(cnt, int):
            return None
        if off < 0 or cnt < 0 or off + cnt > len(data):
            return None
        rgb += data[off : off + cnt]
    if len(rgb) != w * h * 3:
        return None
    return (w, h, bytes(rgb))


def _tiff_pack(
    entries: list[tuple[int, int, int, bytes]], le: bool, tail: bytes
) -> tuple[bytes, int]:
    """Serialize one-IFD TIFF bytes: header + sorted entries (values > 4
    bytes spill to a heap after the IFD) + ``tail`` appended last. Returns
    (bytes, tail_offset) so callers can point strip-offset tags at the
    tail via a second pass (entry sizes are offset-independent)."""
    fmt = "<" if le else ">"
    n = len(entries)
    heap_off = 8 + 2 + 12 * n + 4
    body = b""
    heap = b""
    for tag, typ, count, blob in sorted(entries):
        if len(blob) <= 4:
            field = blob + b"\x00" * (4 - len(blob))
        else:
            field = struct.pack(fmt + "I", heap_off + len(heap))
            heap += blob
        body += struct.pack(fmt + "HHI", tag, typ, count) + field
    out = (
        (TIFF_MAGICS[0] if le else TIFF_MAGICS[1])
        + struct.pack(fmt + "I", 8)
        + struct.pack(fmt + "H", n)
        + body
        + struct.pack(fmt + "I", 0)
        + heap
        + tail
    )
    return out, heap_off + len(heap)


def build_tiff(
    width: int,
    height: int,
    orientation: int = 0,
    datetime: str = "",
    le: bool = True,
) -> bytes:
    """Header-only TIFF: magic + IFD0 with dims (+ optional orientation /
    DateTime ASCII tag) — dims/metadata parse, no pixel strips."""
    fmt = "<" if le else ">"
    entries = [
        (_TIFF_W, 4, 1, struct.pack(fmt + "I", width)),
        (_TIFF_H, 4, 1, struct.pack(fmt + "I", height)),
    ]
    if orientation:
        entries.append((_TIFF_ORIENTATION, 3, 1, struct.pack(fmt + "H", orientation)))
    if datetime:
        blob = datetime.encode("latin-1") + b"\x00"
        entries.append((0x0132, 2, len(blob), blob))
    out, _ = _tiff_pack(entries, le, b"")
    return out


def build_tiff_pixels(
    width: int, height: int, rgb: bytes, le: bool = True
) -> bytes:
    """Encode top-down RGB as a real single-strip uncompressed TIFF
    (Compression=1, PhotometricInterpretation=2, 8-bit x3). Losslessly
    round-trips through tiff_pixels."""
    fmt = "<" if le else ">"

    def make(strip_off: int) -> tuple[bytes, int]:
        entries = [
            (_TIFF_W, 4, 1, struct.pack(fmt + "I", width)),
            (_TIFF_H, 4, 1, struct.pack(fmt + "I", height)),
            (_TIFF_BITS, 3, 3, struct.pack(fmt + "HHH", 8, 8, 8)),
            (_TIFF_COMPRESSION, 3, 1, struct.pack(fmt + "H", 1)),
            (_TIFF_PHOTOMETRIC, 3, 1, struct.pack(fmt + "H", 2)),
            (_TIFF_STRIP_OFFSETS, 4, 1, struct.pack(fmt + "I", strip_off)),
            (_TIFF_SPP, 3, 1, struct.pack(fmt + "H", 3)),
            (0x0116, 4, 1, struct.pack(fmt + "I", height)),  # RowsPerStrip
            (_TIFF_STRIP_COUNTS, 4, 1, struct.pack(fmt + "I", len(rgb))),
        ]
        return _tiff_pack(entries, le, rgb)

    _, tail_off = make(0)  # layout pass: entry sizes are offset-independent
    out, _ = make(tail_off)
    return out


# ---------------------------------------------------------------------------
# WebP (RIFF container, fourcc WEBP) — lossy VP8 frame-header dims, VP8L
# lossless signature dims, VP8X extended-canvas dims. Header parse only:
# VP8 arithmetic decode is a real codec, out of scope (declared stub for
# pixels, same policy as the other compressed-format seams).
# ---------------------------------------------------------------------------

WEBP_FOURCC = b"WEBP"


def webp_dims(data: bytes) -> tuple[int, int] | None:
    """(width, height) from a WebP header: VP8 key-frame start code + 14-bit
    dims, VP8L 0x2f signature + packed 14-bit dims, or VP8X 24-bit canvas
    minus-one dims. None for non-WebP / truncated bytes."""
    if len(data) < 21 or not data.startswith(RIFF_MAGIC) or data[8:12] != WEBP_FOURCC:
        return None
    cc = data[12:16]
    if cc == b"VP8 ":
        if len(data) < 30 or data[23:26] != b"\x9d\x01\x2a":
            return None
        w = struct.unpack_from("<H", data, 26)[0] & 0x3FFF
        h = struct.unpack_from("<H", data, 28)[0] & 0x3FFF
        return (w, h) if w and h else None
    if cc == b"VP8L":
        if len(data) < 25 or data[20] != 0x2F:
            return None
        bits = struct.unpack_from("<I", data, 21)[0]
        return ((bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1)
    if cc == b"VP8X":
        if len(data) < 30:
            return None
        w = int.from_bytes(data[24:27], "little") + 1
        h = int.from_bytes(data[27:30], "little") + 1
        return (w, h)
    return None


def build_webp(width: int, height: int, variant: str = "VP8 ") -> bytes:
    """Minimal WebP header in the given variant ('VP8 ', 'VP8L', 'VP8X'):
    RIFF/WEBP wrapper + just the bytes webp_dims needs."""
    if variant == "VP8 ":
        payload = (
            b"\x00\x00\x00"  # frame tag (key frame)
            + b"\x9d\x01\x2a"
            + struct.pack("<HH", width & 0x3FFF, height & 0x3FFF)
        )
    elif variant == "VP8L":
        bits = (width - 1) | ((height - 1) << 14)
        payload = b"\x2f" + struct.pack("<I", bits)
    else:
        payload = (
            b"\x00\x00\x00\x00"
            + (width - 1).to_bytes(3, "little")
            + (height - 1).to_bytes(3, "little")
        )
        variant = "VP8X"
    chunk = variant.encode("latin-1") + struct.pack("<I", len(payload)) + payload
    if len(payload) % 2:
        chunk += b"\x00"  # RIFF chunks are even-padded
    return RIFF_MAGIC + struct.pack("<I", 4 + len(chunk)) + WEBP_FOURCC + chunk


# ---------------------------------------------------------------------------
# MP4 / ISO base media file format (ISO/IEC 14496-12) — box walk to the
# movie header (mvhd: timescale + duration), the video track header (tkhd:
# 16.16 fixed-point dims), and the time-to-sample table (stts: true sample
# count = frame count). Header/metadata parse only — no codec payloads.
# ---------------------------------------------------------------------------

MP4_FTYP_OFFSET = 4  # 'ftyp' fourcc position inside the first box


def _mp4_boxes(data: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_end) for the boxes in [start, end).
    Handles 64-bit largesize (size==1) and to-end boxes (size==0);
    malformed sizes terminate the walk (never raise)."""
    i = start
    while i + 8 <= end:
        (size,) = struct.unpack_from(">I", data, i)
        fourcc = data[i + 4 : i + 8]
        body = i + 8
        if size == 1:
            if i + 16 > end:
                return
            (size,) = struct.unpack_from(">Q", data, i + 8)
            body = i + 16
        elif size == 0:
            size = end - i
        if size < body - i or i + size > end:
            return
        yield fourcc, body, i + size
        i += size


def _mp4_find(data: bytes, start: int, end: int, fourcc: bytes) -> tuple[int, int] | None:
    for cc, b, e in _mp4_boxes(data, start, end):
        if cc == fourcc:
            return (b, e)
    return None


def mp4_info(data: bytes) -> tuple[int, int, int, int] | None:
    """(width, height, n_frames, duration_ms) from an ISO-BMFF stream:
    mvhd timescale/duration -> milliseconds, the first trak with nonzero
    tkhd dims -> width/height, its stbl/stts entry sum -> true frame
    count. None for non-BMFF bytes; zero dims for audio-only files."""
    n = len(data)
    if n < 12 or data[MP4_FTYP_OFFSET : MP4_FTYP_OFFSET + 4] != b"ftyp":
        return None
    moov = _mp4_find(data, 0, n, b"moov")
    if moov is None:
        return None
    ms, me = moov
    duration_ms = 0
    mvhd = _mp4_find(data, ms, me, b"mvhd")
    if mvhd is not None:
        b, e = mvhd
        if e - b >= 4:
            ver = data[b]
            try:
                if ver == 1 and e - b >= 28:
                    (tscale,) = struct.unpack_from(">I", data, b + 20)
                    (dur,) = struct.unpack_from(">Q", data, b + 24)
                elif e - b >= 20:
                    (tscale,) = struct.unpack_from(">I", data, b + 12)
                    (dur,) = struct.unpack_from(">I", data, b + 16)
                else:
                    tscale, dur = 0, 0
                if tscale:
                    duration_ms = dur * 1000 // tscale
            except struct.error:
                pass
    width = height = n_frames = 0
    for cc, tb, te in _mp4_boxes(data, ms, me):
        if cc != b"trak":
            continue
        tkhd = _mp4_find(data, tb, te, b"tkhd")
        w = h = 0
        if tkhd is not None:
            b, e = tkhd
            if e - b >= 4:
                ver = data[b]
                dim_off = b + (96 - 8) if ver == 1 else b + (84 - 8)
                if dim_off + 8 <= e:
                    try:
                        (wfx,) = struct.unpack_from(">I", data, dim_off)
                        (hfx,) = struct.unpack_from(">I", data, dim_off + 4)
                        w, h = wfx >> 16, hfx >> 16
                    except struct.error:
                        w = h = 0
        if not (w and h):
            continue
        width, height = w, h
        # trak -> mdia -> minf -> stbl -> stts: sum of sample counts
        box = _mp4_find(data, tb, te, b"mdia")
        for inner in (b"minf", b"stbl", b"stts"):
            if box is None:
                break
            box = _mp4_find(data, box[0], box[1], inner)
        if box is not None:
            b, e = box
            if e - b >= 8:
                try:
                    (cnt,) = struct.unpack_from(">I", data, b + 4)
                    total = 0
                    for k in range(min(cnt, 4096)):
                        off = b + 8 + 8 * k
                        if off + 8 > e:
                            break
                        (sc,) = struct.unpack_from(">I", data, off)
                        total += sc
                    n_frames = total
                except struct.error:
                    pass
        break
    return (width, height, n_frames, duration_ms)


def build_mp4(
    width: int, height: int, n_frames: int, duration_ms: int
) -> bytes:
    """Minimal structurally-valid ISO-BMFF head: ftyp(isom) + moov(mvhd at
    timescale 1000 + one video trak: tkhd 16.16 dims + mdia/minf/stbl/stts
    with a single (n_frames, delta 1) run). No mdat — header parsing never
    reads samples."""

    def box(cc: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + cc + body

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
    mvhd = box(
        b"mvhd",
        struct.pack(">I", 0)  # version/flags
        + struct.pack(">II", 0, 0)  # ctime/mtime
        + struct.pack(">II", 1000, duration_ms)  # timescale/duration
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)  # rate/volume/reserved
        + b"\x00" * 8
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2),  # next track id
    )
    tkhd = box(
        b"tkhd",
        struct.pack(">I", 7)  # version 0, flags: enabled|in-movie|in-preview
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", 1, 0)  # track id / reserved
        + struct.pack(">I", duration_ms)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)  # layer/alt/volume/reserved
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),
    )
    stts = box(b"stts", struct.pack(">II", 0, 1) + struct.pack(">II", n_frames, 1))
    stbl = box(b"stbl", stts)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", minf)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    return ftyp + moov
