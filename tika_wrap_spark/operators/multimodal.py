"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns + typed metadata; decode /
feature-extract runs as Arrow-batched ``mapInPandas``. The IMAGE decode is
REAL: PNG IHDR / JPEG SOF / GIF screen-descriptor / BMP info-header parsing
(pure stdlib, ``core/media.py``) returns true width/height for any such
byte stream. The AUDIO decode is REAL for WAV (RIFF/WAVE fmt+data walk →
true channel count, sample rate, frame count) and MP3 (MPEG-1 Layer III
frame header + optional ID3v2 skip → true rate/channels, estimated frame
count). The VIDEO header decode is REAL for AVI: the RIFF/hdrl walk yields
true dims and total frame count (which drives frame sampling). Only pixel/sample-level kernels
(resample, full frame decode, encoder forward pass) and unrecognized byte
streams remain STUBS — this container has no media libraries — where a
deterministic fake (`_decode_fake`, keyed on the payload digest) stands in
for the PIL/ffmpeg seam so the Spark-side plumbing (schema, partitioning,
UDF signature, Arrow batch shape) is real and tested end-to-end.

At scale: media bytes stay out-of-row (``media_ref`` into object storage,
mirroring the reference keeping media on disk while text goes to ctx.txt);
the decode stage repartitions by ref hash so one giant video can't straggle
a partition, and batches stream through mapInPandas without materializing a
partition in memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tika_wrap_spark.core.jpegbin import build_jpeg_pixels, jpeg_pixels
from tika_wrap_spark.core.media import (
    TIFF_MAGICS,
    avi_info,
    bmp_pixels,
    gif_pixels,
    build_avi,
    build_bmp_pixels,
    build_flac,
    build_gif_pixels,
    build_gif,
    build_jpeg,
    build_mp3,
    build_mp4,
    build_ogg_vorbis,
    build_png_pixels,
    build_tiff,
    build_tiff_pixels,
    build_wav,
    build_webp,
    flac_info,
    flac_tags,
    image_dims,
    mp3_id3_tags,
    mp3_info,
    mp4_info,
    ogg_tags,
    ogg_vorbis_info,
    png_pixels,
    resize_nearest,
    tiff_pixels,
    wav_info,
)
from tika_wrap_spark.core.exifbin import jpeg_exif, parse_exif_tiff
from tika_wrap_spark.portability import enter_worker, make_portable

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("media_kind", T.StringType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("feature", T.StringType(), False),
        # EXIF surface (JPEG APP1 walk, core/exifbin.py — the exiftool
        # runtime dep the reference declares, /root/reference/README.md:19);
        # 0/'' for formats/payloads without EXIF
        T.StructField("exif_orientation", T.IntegerType(), False),
        T.StructField("exif_datetime", T.StringType(), False),
        # ID3v2 text-frame surface (core/media.py mp3_id3_tags — the audio
        # half of the same exiftool/sox analog); '' for untagged audio and
        # every non-MP3 kind
        T.StructField("id3_title", T.StringType(), False),
        T.StructField("id3_artist", T.StringType(), False),
    ]
)

_INT32_MAX = 0x7FFFFFFF  # FLAC/Ogg totals are 36/64-bit; the column is int32


def _meta(
    kind: str, payload: bytes, w: int, h: int, n_frames: int, exif=None, tags=None
) -> dict:
    """One ``MEDIA_META_SCHEMA`` row minus ``media_ref``, keys in schema
    order: EXIF fields from ``exif`` (image payloads), ID3/Vorbis-comment
    fields from ``tags`` (audio payloads), 0/'' without them."""
    exif = exif or {}
    tags = tags or {}
    return {
        "media_kind": kind,
        "width": w,
        "height": h,
        "n_frames": n_frames,
        "feature": hashlib.md5(payload).hexdigest()[:16],
        "exif_orientation": int(exif.get("orientation") or 0),
        "exif_datetime": exif.get("datetime", ""),
        "id3_title": tags.get("title", ""),
        "id3_artist": tags.get("artist", ""),
    }


def _decode_fake(ref: str, payload: bytes) -> dict:
    """Deterministic stand-in for payloads with no parseable header
    (exotic containers need real media libraries): metadata derived from
    the payload digest."""
    v = int(hashlib.md5(payload).hexdigest()[:8], 16)
    w, h, n_frames = 64 + v % 1920, 64 + (v >> 8) % 1080, 1 + (v >> 16) % 300
    return _meta(("audio", "video")[v % 2], payload, w, h, n_frames)


def _decode_payload(ref: str, payload: bytes) -> dict:
    """IMAGE, WAV/MP3/FLAC/Ogg-AUDIO, and AVI/MP4-VIDEO paths are REAL:
    PNG/JPEG/GIF/BMP/TIFF/WebP header parse yields true dimensions; the
    RIFF/WAVE chunk walk and the MPEG-1 Layer III header yield true
    channels (-> width), sample rate (-> height), and frame count; the
    RIFF/AVI hdrl walk and the ISO-BMFF moov walk (tkhd dims, stts sample
    totals) yield true dims and total frames (core/media.py).
    Unrecognized bytes fall to the declared stub."""
    if (dims := image_dims(payload)) is not None:
        # JPEG carries EXIF in its APP1 segment (none for other images); a
        # TIFF file IS the same IFD structure from byte 0
        tiff = payload.startswith(TIFF_MAGICS)
        exif = parse_exif_tiff(payload) if tiff else jpeg_exif(payload)
        return _meta("image", payload, dims[0], dims[1], 1, exif=exif)
    if (wav := wav_info(payload)) is not None:  # channels, rate, bits, frames
        return _meta("audio", payload, wav[0], wav[1], wav[3])
    if (avi := avi_info(payload)) is not None:  # w, h, frames, streams
        return _meta("video", payload, avi[0], avi[1], avi[2])
    if (mp4 := mp4_info(payload)) is not None:  # w, h, frames, duration_ms
        w, h, n_frames, _ = mp4
        return _meta("video" if w and h else "audio", payload, w, h, n_frames)
    if (mp3 := mp3_info(payload)) is not None:  # channels, rate, kbps, frames
        tags = mp3_id3_tags(payload)  # {} for untagged streams
        return _meta("audio", payload, mp3[0], mp3[1], mp3[3], tags=tags)
    if (flac := flac_info(payload)) is not None:  # channels, rate, bits, total
        total = min(flac[3], _INT32_MAX)
        return _meta("audio", payload, flac[0], flac[1], total, tags=flac_tags(payload))
    if (ogg := ogg_vorbis_info(payload)) is not None:  # channels, rate, total
        total = min(ogg[2], _INT32_MAX)
        return _meta("audio", payload, ogg[0], ogg[1], total, tags=ogg_tags(payload))
    return _decode_fake(ref, payload)


def _map_payloads(
    media: DataFrame, schema: T.StructType, rows_of: Callable[[str, bytes], Iterable]
) -> DataFrame:
    """(media_ref, payload) rows -> ``schema`` rows through one Arrow-batched
    mapInPandas: ``rows_of(ref, payload)`` yields each input row's output
    tuples in schema order (one for decode/resize/embed, N for frames)."""
    make_portable()
    names = schema.fieldNames()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enter_worker()
        for pdf in it:
            pairs = zip(pdf["media_ref"].tolist(), pdf["payload"].tolist())
            rows = [row for ref, p in pairs for row in rows_of(ref, bytes(p))]
            yield pd.DataFrame(rows, columns=names)

    return media.mapInPandas(batches, schema=schema)


def _real_or_stub(real: Callable, fake: Callable, *args) -> tuple[str, object]:
    """(kernel, output): the real pixel kernel's output, or the declared
    stub's when the payload is outside the pixel codecs."""
    out = real(*args)
    return ("real", out) if out is not None else ("stub", fake(*args))


def _decode_rows(ref: str, payload: bytes) -> Iterator[tuple]:
    yield (ref, *_decode_payload(ref, payload).values())


PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)


def _gradient_rgb(w: int, h: int, seed: int) -> bytes:
    """Deterministic spatially-varying pixels (seeded gradient) so resize
    goldens have real signal at every sample point."""
    out = bytearray(w * h * 3)
    for y in range(h):
        for x in range(w):
            p = (y * w + x) * 3
            out[p] = (x * 7 + y * 13 + seed) & 0xFF
            out[p + 1] = (x * 3 + seed * 5) & 0xFF
            out[p + 2] = (y * 5 + seed * 11) & 0xFF
    return bytes(out)


def _fetch_fake(ref: str) -> bytes:
    """Deterministic object-store-fetch stand-in, keyed on the ref digest:
    ~32/33 of refs come back as REAL PNG/JPEG/GIF/BMP/TIFF/WebP/WAV/AVI/
    MP4/MP3/FLAC/Ogg-Vorbis byte streams (valid headers, digest-derived
    parameters) so the decode path exercises true header parsing across
    every real kernel; the rest stay opaque bytes (the
    unrecognized-payload stub path).
    PNG/BMP/TIFF payloads (and half the JPEG/GIF draws) carry REAL pixel
    arrays (small digest-derived dims) so the resize kernel's decode ->
    resample -> re-encode path runs on true pixels."""
    h = hashlib.md5(ref.encode("utf-8")).digest()
    v = int.from_bytes(h[:4], "big")
    w, hgt = 16 + v % 1920, 16 + (v >> 8) % 1080
    # pixel-carrying formats keep dims small: the payload is w*h*3 bytes
    pw, ph = 8 + v % 56, 8 + (v >> 8) % 56
    kind = v % 11
    if kind == 0:
        return build_png_pixels(pw, ph, _gradient_rgb(pw, ph, h[4]))
    if kind == 1:
        # half pixel-carrying JPEG (real scan data -> the real DCT
        # kernels; half of THOSE progressive SOF2, decoded for real since
        # r5), half header-only (no SOS -> stub)
        if v & 128:
            return build_jpeg_pixels(
                pw, ph, _gradient_rgb(pw, ph, h[7]), progressive=bool(v & 32)
            )
        # half the header-only JPEGs carry a real APP1/Exif segment
        # (orientation + timestamp + GPS) so the EXIF walk stays pinned
        exif = None
        if v & 64:
            exif = {
                "make": "TwcCam",
                "model": "M%d" % (v % 10),
                # NOT v % 8: this branch is already gated on kind == v % 8,
                # so low-bit-derived values are constant here — draw the
                # orientation from unconstrained high bits
                "orientation": 1 + (v >> 16) % 8,
                "datetime": "2025:0%d:%02d 0%d:%02d:%02d"
                % (1 + v % 9, 1 + (v >> 3) % 28, v % 10, (v >> 5) % 60, (v >> 11) % 60),
                "gps": (
                    -90.0 + (v % 18000) / 100.0,
                    -180.0 + ((v >> 9) % 36000) / 100.0,
                ),
            }
        return build_jpeg(w, hgt, progressive=bool(v & 8), exif=exif)
    if kind == 2:
        # half pixel-carrying (real LZW image data -> the real resize/embed
        # kernels), half header-only (the header-parse-only path)
        if v & 16:
            return build_gif_pixels(pw, ph, _gradient_rgb(pw, ph, h[6]))
        return build_gif(w, hgt, v89=False)
    if kind == 3:
        return build_bmp_pixels(
            pw, ph, _gradient_rgb(pw, ph, h[5]), top_down=bool(v & 32)
        )
    if kind == 4:
        return build_wav(1 + v % 2, (8000, 16000, 44100)[v % 3], 16, 1 + (v >> 8) % 96000)
    if kind == 5:
        return build_avi(w, hgt, 1 + (v >> 4) % 3000, 1 + v % 2)
    if kind == 8:
        # half pixel-carrying TIFF (real uncompressed RGB strips -> the
        # real resize/embed kernels), half header-only with IFD0
        # orientation/datetime tags (the whole-file EXIF walk)
        if v & 16:
            return build_tiff_pixels(
                pw, ph, _gradient_rgb(pw, ph, h[8]), le=bool(v & 32)
            )
        return build_tiff(
            w,
            hgt,
            orientation=1 + (v >> 16) % 8,
            datetime="2025:0%d:%02d 0%d:%02d:%02d"
            % (1 + v % 9, 1 + (v >> 3) % 28, v % 10, (v >> 5) % 60, (v >> 11) % 60),
            le=bool(v & 32),
        )
    if kind == 9:
        # WebP across all three header variants (lossy VP8, lossless VP8L,
        # extended VP8X) — dims real, pixels the declared codec stub
        return build_webp(
            1 + v % 1920, 1 + (v >> 8) % 1080, ("VP8 ", "VP8L", "VP8X")[v % 3]
        )
    if kind == 10:
        # ISO-BMFF video: true tkhd dims + stts frame totals + mvhd duration
        return build_mp4(w, hgt, 1 + (v >> 4) % 3000, 40 + (v >> 6) % 600000)
    if kind == 6:
        # tagged half carries real ID3v2.3 text frames (digest-derived;
        # 1-in-4 of those a non-latin-1 title -> the BOM'd utf-16 frame
        # encoding); untagged half keeps the bare empty-tag/no-tag split
        tags = None
        if v & 64:
            title = "Track %05d" % (v % 100000)
            if v & 128:
                title += " — 曲"  # utf-16 frame path
            tags = {"title": title, "artist": "Artist %03d" % ((v >> 8) % 1000)}
        return build_mp3(
            (64, 128, 192, 320)[v % 4],
            (44100, 48000, 32000)[v % 3],
            mono=bool(v & 4),
            n_frames=1 + (v >> 6) % 400,
            id3=bool(v & 64),
            id3_tags=tags,
        )
    # kind == 7 (late r5): two-thirds carved into FLAC / Ogg Vorbis (the
    # tagged halves carry real Vorbis comments riding the shared
    # id3_title/id3_artist columns); the last third stays opaque bytes so
    # the unrecognized-payload stub path remains pinned
    sub = (v >> 4) % 3
    vtags = None
    if v & 64:
        title = "Piece %05d" % (v % 100000)
        if v & 128:
            title += " — 曲"
        vtags = {"title": title, "artist": "Ensemble %03d" % ((v >> 8) % 1000)}
    if sub == 0:
        return build_flac(
            1 + v % 2,
            (44100, 48000, 96000)[v % 3],
            (16, 24)[(v >> 5) % 2],
            1 + (v >> 6) % 10_000_000,
            tags=vtags,
        )
    if sub == 1:
        return build_ogg_vorbis(
            1 + v % 2, (44100, 48000, 8000)[v % 3], 1 + (v >> 6) % 10_000_000, tags=vtags
        )
    return h + h[::-1]


def media_payloads(extracted: DataFrame) -> DataFrame:
    """Media spans -> (media_ref, payload:binary) via an Arrow-batched fetch
    stage (``_fetch_fake`` stands in for the object-store GET a production
    deployment plugs in here — same mapInPandas shape either way)."""
    make_portable()
    spans = extracted.select(F.explode("spans").alias("s")).filter(
        F.col("s.kind") == "media"
    )
    refs = spans.select(F.col("s.media_ref").alias("media_ref"))

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enter_worker()
        for pdf in batches:
            refs_l = pdf["media_ref"].tolist()
            yield pd.DataFrame(
                {"media_ref": refs_l, "payload": [_fetch_fake(r) for r in refs_l]}
            )

    return refs.mapInPandas(fetch, schema=PAYLOAD_SCHEMA)


def decode_media(media: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """(media_ref, payload) -> typed media metadata via Arrow-batched
    mapInPandas; repartitioned by ref hash against giant-asset skew."""
    if num_partitions:
        media = media.repartition(num_partitions, F.xxhash64("media_ref"))
    return _map_payloads(media, MEDIA_META_SCHEMA, _decode_rows)


# The stdlib pixel codecs, in lookup order: the first decoder that accepts
# a payload gives (w, h, top-down rgb), and its encoder writes a resized
# image back in the same format. A new pixel codec is one row here.
_PIXEL_CODECS = (
    (bmp_pixels, build_bmp_pixels),
    (png_pixels, build_png_pixels),
    (gif_pixels, build_gif_pixels),
    (jpeg_pixels, build_jpeg_pixels),
    (tiff_pixels, build_tiff_pixels),
)


def _pixels(payload: bytes) -> tuple[int, int, bytes, Callable] | None:
    """(w, h, rgb, encode) from the first codec that decodes ``payload``;
    None outside them (WebP/MP4 and the rest are the declared stub seam)."""
    for decode, encode in _PIXEL_CODECS:
        dec = decode(payload)
        if dec is not None:
            return (*dec, encode)
    return None


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("out_width", T.IntegerType(), False),
        T.StructField("out_height", T.IntegerType(), False),
        T.StructField("kernel", T.StringType(), False),
        T.StructField("resized", T.BinaryType(), False),
    ]
)


def _resize_fake(payload: bytes, w: int, h: int) -> bytes:
    """Deterministic stand-in for formats outside the real codecs
    (arithmetic/hierarchical JPEG, unrecognized bytes; baseline JPEG and
    GIF decode for real since late r4, progressive JPEG since r5): digest
    of (payload, target dims) — stable across runs/partitionings."""
    return hashlib.md5(payload + b"|%dx%d" % (w, h)).digest()


def _resize_real(payload: bytes, w: int, h: int) -> bytes | None:
    """REAL pixel kernel for the ``_PIXEL_CODECS`` formats (24-bit BMP,
    8-bit RGB PNG, LZW GIF, baseline/progressive JPEG, uncompressed
    RGB-strip TIFF): decode to raw RGB, integer nearest-neighbor resample,
    re-encode in the same format. None for anything else — the caller
    falls back to the stub."""
    px = _pixels(payload)
    if px is None:
        return None
    sw, sh, rgb, encode = px
    return encode(w, h, resize_nearest(sw, sh, rgb, w, h))


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """(media_ref, payload) -> resized binary at (width, height). BMP and
    pixel-carrying PNG/GIF payloads go through the REAL nearest-neighbor kernel
    (decode -> resample -> re-encode, pure stdlib); compressed formats keep
    the declared `_resize_fake` stub. The ``kernel`` column records which
    path each row took."""

    def resized(ref: str, payload: bytes) -> Iterator[tuple]:
        out = _real_or_stub(_resize_real, _resize_fake, payload, width, height)
        yield (ref, width, height, *out)

    return _map_payloads(media, RESIZED_SCHEMA, resized)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_feature", T.StringType(), False),
    ]
)


def frame_sample(media: DataFrame, every_n: int = 30, max_frames: int = 8) -> DataFrame:
    """Video frame sampling: one output row per sampled frame (1:N flatMap
    shape — the row-count amplification a real decoder produces). Frame
    count comes from the decode metadata; features are digest stubs."""

    def frames(ref: str, payload: bytes) -> Iterator[tuple]:
        n_frames = _decode_payload(ref, payload)["n_frames"]
        n = min(max(n_frames // every_n, 1), max_frames)
        for idx in range(0, n * every_n, every_n):
            yield (ref, idx, hashlib.md5(payload + b"|f%d" % idx).hexdigest()[:16])

    return _map_payloads(media, FRAME_SCHEMA, frames)


EMBED_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("kernel", T.StringType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType(), False), False),
    ]
)


def _embed_fake(payload: bytes, dim: int) -> list[float]:
    """Deterministic stand-in for a LEARNED vision-encoder forward pass on
    compressed formats (the model seam): md5-chained pseudo-floats in
    [-1, 1), stable across runs and partitionings. A real deployment swaps
    in an ONNX/torch encoder here; the Arrow batch shape and output type
    are the production contract."""
    out: list[float] = []
    h = payload
    while len(out) < dim:
        h = hashlib.md5(h).digest()
        out.extend((b - 128.0) / 128.0 for b in h)
    return out[:dim]


def _embed_real(payload: bytes, dim: int) -> list[float] | None:
    """REAL pixel feature for the ``_PIXEL_CODECS`` formats: decode to RGB,
    nearest-neighbor pool to a sqrt(dim) x sqrt(dim) grid, emit the
    per-cell grayscale (ITU-R 601 integer weights) scaled to [0, 1). A
    classic perceptual thumbnail-hash feature: nearby crops/resizes of the
    same image land close in cosine space, so the downstream LSH/IVF
    operators have true visual-similarity signal for decodable payloads.
    None for compressed formats — the caller keeps the encoder-seam stub."""
    px = _pixels(payload)
    if px is None:
        return None
    w, h, rgb, _ = px
    side = max(1, int(dim**0.5))
    small = resize_nearest(w, h, rgb, side, side)
    out = []
    for i in range(side * side):
        r, g, b = small[i * 3], small[i * 3 + 1], small[i * 3 + 2]
        gray = (299 * r + 587 * g + 114 * b) // 1000
        out.append(gray / 256.0)
    while len(out) < dim:  # non-square dims pad with zeros (contract: len==dim)
        out.append(0.0)
    return out[:dim]


def embed_media(media: DataFrame, dim: int = 16) -> DataFrame:
    """(media_ref, payload) -> (media_ref, kernel, embedding: array<float>)
    via Arrow-batched mapInPandas — the bridge from the multimodal decode
    path into the similarity operators (`operators/similarity.py` consumes
    the embedding column directly: quantize -> LSH bucket -> top-k).
    ``_PIXEL_CODECS`` payloads embed through the REAL pixel kernel (`_embed_real`:
    decode -> pool -> grayscale grid); compressed formats keep the declared
    encoder-seam stub; the ``kernel`` column records which."""

    def embedded(ref: str, payload: bytes) -> Iterator[tuple]:
        yield (ref, *_real_or_stub(_embed_real, _embed_fake, payload, dim))

    return _map_payloads(media, EMBED_SCHEMA, embedded)
