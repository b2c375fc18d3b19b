"""Multimodal plumbing: the decode/resize/frame/embed kernels are declared
deterministic stubs (no media libs in this sandbox), but the Spark-side
contracts — schemas, Arrow batch shapes, 1:N flatMap, partitioning
invariance — are production-real and pinned here."""

from __future__ import annotations

from pyspark.sql import functions as F

from tika_wrap_spark.corpus import generate_corpus
from tika_wrap_spark.data import corpus_to_df
from tika_wrap_spark.operators.multimodal import (
    decode_media,
    embed_media,
    frame_sample,
    media_payloads,
    resize_media,
)
from tika_wrap_spark.pipeline import extract_in_memory


def _media(spark, n=60, seed=31):
    ext = extract_in_memory(spark, corpus_to_df(spark, generate_corpus(n, seed=seed)))
    return media_payloads(ext)


def test_decode_partitioning_invariant(spark):
    media = _media(spark).cache()
    a = sorted(map(tuple, decode_media(media, num_partitions=2).collect()))
    b = sorted(map(tuple, decode_media(media, num_partitions=7).collect()))
    assert a == b and len(a) > 0


def test_embed_media_shape_and_determinism(spark):
    media = _media(spark).cache()
    out = embed_media(media, dim=16)
    rows = out.collect()
    assert len(rows) == media.count()
    for r in rows:
        assert len(r["embedding"]) == 16
        assert all(-1.0 <= x < 1.0 for x in r["embedding"])
    again = {r["media_ref"]: r["embedding"] for r in embed_media(media, dim=16).collect()}
    assert {r["media_ref"]: r["embedding"] for r in rows} == again
    # the fetch mix contains both decodable (BMP/PNG -> real) and
    # compressed (JPEG/GIF/... -> stub) payloads
    assert {r["kernel"] for r in rows} == {"real", "stub"}


def test_embed_real_kernel_matches_python_replica():
    """The real pixel embedding is the 4x4 grayscale grid of the
    nearest-neighbor-pooled image — replicated here bit-for-bit."""
    from tika_wrap_spark.core.media import build_bmp_pixels, resize_nearest
    from tika_wrap_spark.operators.multimodal import _embed_real

    w, h = 20, 12
    rgb = bytes(
        b
        for y in range(h)
        for x in range(w)
        for b in ((x * 11) & 0xFF, (y * 7) & 0xFF, ((x + y) * 3) & 0xFF)
    )
    got = _embed_real(build_bmp_pixels(w, h, rgb), 16)
    small = resize_nearest(w, h, rgb, 4, 4)
    want = [
        ((299 * small[i * 3] + 587 * small[i * 3 + 1] + 114 * small[i * 3 + 2]) // 1000)
        / 256.0
        for i in range(16)
    ]
    assert got == want
    # compressed formats return None (the stub seam)
    from tika_wrap_spark.core.media import build_jpeg

    assert _embed_real(build_jpeg(64, 64), 16) is None


def test_embed_feeds_similarity_ops(spark):
    from tika_wrap_spark.operators import similarity as sim

    media = _media(spark)
    b = sim.lsh_bucket(embed_media(media), n_planes=4)
    rows = b.select("media_ref", "bucket").collect()
    assert len(rows) > 0
    assert all(len(r["bucket"]) == 4 and set(r["bucket"]) <= {"0", "1"} for r in rows)


def test_image_header_parse_pure():
    """PNG IHDR / JPEG SOF dims parse for real: crafted headers (incl.
    progressive SOF2), stdlib-independent, total on garbage."""
    from tika_wrap_spark.core.media import (
        build_jpeg,
        build_png,
        image_dims,
        jpeg_dims,
        png_dims,
    )

    assert png_dims(build_png(640, 480)) == (640, 480)
    assert png_dims(build_png(1, 1, b"trailing")) == (1, 1)
    assert jpeg_dims(build_jpeg(800, 600)) == (800, 600)
    assert jpeg_dims(build_jpeg(321, 123, progressive=True)) == (321, 123)
    assert image_dims(build_png(10, 20)) == (10, 20)
    assert image_dims(build_jpeg(30, 40)) == (30, 40)
    # total on malformed/foreign bytes
    assert png_dims(build_png(640, 480)[:20]) is None
    assert png_dims(b"\x89PNG\r\n\x1a\nnot-ihdr-here-at-all....") is None
    assert jpeg_dims(build_jpeg(800, 600)[:6]) is None
    assert jpeg_dims(b"\xff\xd8\xff\xd9") is None  # EOI before SOF
    assert image_dims(b"random bytes") is None
    assert image_dims(b"") is None


def test_png_text_metadata():
    """PNG tEXt/iTXt Title/Author parse (W3C §11.3.4, Tika PNGParser
    metadata analog): latin-1 tEXt, utf-8 iTXt plain + zlib-compressed,
    unknown keywords skipped, truncation degrades to the parsed prefix,
    and the extraction meta keys surface the first PNG member's values."""
    from tika_wrap_spark.core.extract import extract_document
    from tika_wrap_spark.core.media import build_png, png_dims, png_text_meta

    b = build_png(
        64, 32, b"ff00",
        texts=[("Title", "Hello Doc"), ("Author", "Ana B"), ("Comment", "skip")],
    )
    assert png_dims(b) == (64, 32)  # metadata chunks don't break dims
    assert png_text_meta(b) == {"title": "Hello Doc", "author": "Ana B"}
    for comp in (False, True):
        b2 = build_png(8, 8, texts=[("Title", "Déjà — résumé")], itxt_compressed=comp)
        assert png_text_meta(b2) == {"title": "Déjà — résumé"}, comp
    two = build_png(8, 8, texts=[("Title", "keep"), ("Author", "lost")])
    cut = two[: two.rindex(b"tEXt") - 2]  # truncate the Author chunk
    assert png_text_meta(cut) == {"title": "keep"}
    assert png_text_meta(b"\xff\xd8not a png") == {}
    res = extract_document(
        [{"kind": "media", "text": b.decode("latin-1"), "media_ref": "m.png", "offset": 0}]
    )
    assert res["parse_ok"]
    assert res["meta"]["media1_png_title"] == "Hello Doc"
    assert res["meta"]["media1_png_author"] == "Ana B"
    assert res["meta"]["media1_w"] == "64"


def test_gif_bmp_wav_header_parse_pure():
    """GIF / BMP dims and WAV stream parameters parse for real: crafted
    headers, stdlib-independent, total on garbage."""
    from tika_wrap_spark.core.media import (
        bmp_dims,
        build_bmp,
        build_gif,
        build_wav,
        gif_dims,
        image_dims,
        wav_info,
    )

    assert gif_dims(build_gif(320, 200)) == (320, 200)
    assert gif_dims(build_gif(1, 1, v89=False)) == (1, 1)
    assert bmp_dims(build_bmp(640, 480)) == (640, 480)
    # top-down BMPs encode negative height; magnitude is the pixel height
    assert bmp_dims(build_bmp(800, 600, top_down=True)) == (800, 600)
    assert image_dims(build_gif(10, 20)) == (10, 20)
    assert image_dims(build_bmp(30, 40)) == (30, 40)
    assert wav_info(build_wav(2, 44100, 16, 1000)) == (2, 44100, 16, 1000)
    assert wav_info(build_wav(1, 8000, 16, 42)) == (1, 8000, 16, 42)
    # total on malformed/foreign bytes
    assert gif_dims(b"GIF89a\x00") is None  # truncated descriptor
    assert bmp_dims(b"BMshort") is None
    assert bmp_dims(b"Bavaria BMW text") is None
    assert wav_info(b"RIFF\x00\x00\x00\x00AVI LIST") is None  # RIFF, not WAVE
    assert wav_info(build_wav(2, 44100, 16, 10)[:16]) is None
    assert image_dims(b"GIF is a format name, not a magic") is None


def test_avi_header_parse_pure():
    """AVI main-header walk returns true dims / frame count / stream count;
    total on malformed, foreign, and truncated RIFF bytes."""
    from tika_wrap_spark.core.media import avi_info, build_avi, build_wav, wav_info

    assert avi_info(build_avi(1920, 1080, 2400)) == (1920, 1080, 2400, 1)
    assert avi_info(build_avi(320, 240, 1, n_streams=2)) == (320, 240, 1, 2)
    # WAV and AVI dispatch never cross: same RIFF magic, different form type
    assert avi_info(build_wav(2, 44100, 16, 10)) is None
    assert wav_info(build_avi(64, 48, 5)) is None
    assert avi_info(b"RIFF\x10\x00\x00\x00AVI LIST") is None  # truncated list
    assert avi_info(build_avi(100, 100, 7)[:30]) is None  # cut inside avih
    assert avi_info(b"RIFF\x04\x00\x00\x00AVI ") is None  # no hdrl at all
    assert avi_info(b"not riff at all") is None


def test_decode_media_real_avi_video(spark):
    """decode_media returns TRUE dims and frame counts for AVI payloads,
    and frame_sample's 1:N amplification follows the real frame count."""
    from tika_wrap_spark.core.media import build_avi

    rows = [
        ("avi://a", bytearray(build_avi(640, 360, 300))),
        ("avi://b", bytearray(build_avi(1280, 720, 30))),
    ]
    df = spark.createDataFrame(rows, "media_ref string, payload binary")
    got = {r["media_ref"]: r for r in decode_media(df).collect()}
    a, b = got["avi://a"], got["avi://b"]
    assert a["media_kind"] == b["media_kind"] == "video"
    assert (a["width"], a["height"], a["n_frames"]) == (640, 360, 300)
    assert (b["width"], b["height"], b["n_frames"]) == (1280, 720, 30)
    frames = {
        r["media_ref"]: r["k"]
        for r in frame_sample(df, every_n=30, max_frames=8)
        .groupBy("media_ref")
        .agg(F.count("*").alias("k"))
        .collect()
    }
    assert frames["avi://a"] == 8  # 300 frames / 30, capped at max_frames
    assert frames["avi://b"] == 1


def test_decode_media_real_audio_and_gif_bmp(spark):
    """decode_media returns TRUE stream parameters for WAV payloads and
    true dims for GIF/BMP (audio graduates from stub; only video remains)."""
    from tika_wrap_spark.core.media import build_bmp, build_gif, build_wav

    rows = [
        ("wav://a", bytearray(build_wav(2, 44100, 16, 12345))),
        ("gif://b", bytearray(build_gif(99, 44))),
        ("bmp://c", bytearray(build_bmp(123, 45))),
    ]
    df = spark.createDataFrame(rows, "media_ref string, payload binary")
    got = {r["media_ref"]: r for r in decode_media(df).collect()}
    a = got["wav://a"]
    assert a["media_kind"] == "audio"
    assert (a["width"], a["height"], a["n_frames"]) == (2, 44100, 12345)
    assert (got["gif://b"]["width"], got["gif://b"]["height"]) == (99, 44)
    assert (got["bmp://c"]["width"], got["bmp://c"]["height"]) == (123, 45)
    assert got["gif://b"]["media_kind"] == got["bmp://c"]["media_kind"] == "image"


def test_decode_media_returns_true_image_dims(spark):
    """decode_media over crafted REAL PNG/JPEG payloads returns the exact
    header dimensions (multimodal image path graduates from stub)."""
    from tika_wrap_spark.core.media import build_jpeg, build_png

    rows = [
        ("png://a", bytearray(build_png(640, 480))),
        ("jpg://b", bytearray(build_jpeg(1024, 768))),
        ("jpg://c", bytearray(build_jpeg(77, 55, progressive=True))),
        ("blob://d", bytearray(b"\x00opaque-not-an-image\x00\x01")),
    ]
    df = spark.createDataFrame(rows, "media_ref string, payload binary")
    got = {r["media_ref"]: r for r in decode_media(df).collect()}
    assert (got["png://a"]["width"], got["png://a"]["height"]) == (640, 480)
    assert (got["jpg://b"]["width"], got["jpg://b"]["height"]) == (1024, 768)
    assert (got["jpg://c"]["width"], got["jpg://c"]["height"]) == (77, 55)
    assert all(got[k]["media_kind"] == "image" for k in ("png://a", "jpg://b", "jpg://c"))
    assert got["blob://d"]["media_kind"] in ("audio", "video")  # stub path
    # the fake fetch emits parseable image heads for ~2/3 of refs
    fetched = decode_media(_media(spark))
    kinds = {r["media_kind"] for r in fetched.collect()}
    assert "image" in kinds


def test_extract_meta_records_media_dims():
    """A container member with a real PNG/JPEG head surfaces true dims in
    the per-document metadata (media1_w/media1_h)."""
    from tika_wrap_spark.core.extract import extract_document
    from tika_wrap_spark.core.media import build_png
    from tika_wrap_spark.core.zipbin import build_zip_text

    png_text = build_png(512, 256, b"fill").decode("latin-1")
    zt = build_zip_text([("img.png", png_text), ("t.log", "text member")])
    res = extract_document([{"kind": "zip", "text": zt, "media_ref": "", "offset": 0}])
    assert res["parse_ok"]
    assert res["meta"]["media1_w"] == "512" and res["meta"]["media1_h"] == "256"
    # docs with no media keep empty keys
    res2 = extract_document([{"kind": "text", "text": "plain", "media_ref": "", "offset": 0}])
    assert res2["meta"]["media1_w"] == "" and res2["meta"]["media1_h"] == ""


def test_resize_and_frames_shapes(spark):
    media = _media(spark).cache()
    n = media.count()
    r = resize_media(media, 224, 224)
    assert r.count() == n
    assert r.filter((F.col("out_width") != 224) | (F.col("out_height") != 224)).count() == 0
    fr = frame_sample(media)
    # 1:N flatMap: at least one frame per media item, frame_idx dense ints
    per = fr.groupBy("media_ref").agg(F.count("*").alias("k"), F.min("frame_idx").alias("lo"))
    assert per.filter("k < 1 or lo != 0").count() == 0


def test_resize_real_kernel_golden():
    """The REAL resize path (r4): BMP/PNG pixel decode -> nearest-neighbor
    resample -> same-format re-encode, pinned against the pure-python
    replica; BGR/RGB order, bottom-up rows, and row padding all round-trip
    exactly. Compressed formats stay on the declared stub."""
    import hashlib

    from tika_wrap_spark.core.media import (
        bmp_pixels,
        build_bmp_pixels,
        build_jpeg,
        build_png_pixels,
        png_pixels,
        resize_nearest,
    )
    from tika_wrap_spark.operators.multimodal import _resize_fake, _resize_real

    w, h = 31, 17  # odd dims exercise BMP row padding
    rgb = bytes(
        b
        for y in range(h)
        for x in range(w)
        for b in ((x * 7 + y * 13) & 0xFF, (x * 3) & 0xFF, (y * 5) & 0xFF)
    )
    for build, decode, top_down in (
        (lambda: build_bmp_pixels(w, h, rgb), bmp_pixels, False),
        (lambda: build_bmp_pixels(w, h, rgb, top_down=True), bmp_pixels, True),
        (lambda: build_png_pixels(w, h, rgb), png_pixels, None),
    ):
        out = _resize_real(build(), 9, 5)
        assert out is not None
        got = decode(out)
        assert got == (9, 5, resize_nearest(w, h, rgb, 9, 5)), top_down
    # golden checksum: the BMP->12x7 resample is byte-stable forever
    resized = _resize_real(build_bmp_pixels(w, h, rgb), 12, 7)
    assert hashlib.md5(resized).hexdigest() == _RESIZE_GOLDEN_MD5
    # compressed formats fall to the stub
    assert _resize_real(build_jpeg(64, 64), 9, 5) is None
    assert len(_resize_fake(build_jpeg(64, 64), 9, 5)) == 16


_RESIZE_GOLDEN_MD5 = "4e26a3fbbcad07842e03dfa95fef59cb"


def test_resize_kernel_column_mix(spark):
    """Over the fetch mix, BOTH kernels appear and every BMP/PNG ref is
    real-resized (3 of 8 fetch kinds are pixel-carrying... PNG+BMP = 2)."""
    media = _media(spark)
    r = resize_media(media, 16, 16).cache()
    kinds = {row["kernel"] for row in r.select("kernel").distinct().collect()}
    assert kinds == {"real", "stub"}
    # real rows decode back to 16x16 in their own format
    from tika_wrap_spark.core.media import image_dims

    for row in r.filter("kernel = 'real'").limit(5).collect():
        assert image_dims(bytes(row["resized"])) == (16, 16)
    r.unpersist()


def test_mp3_header_parse_pure():
    """MPEG-1 Layer III header: true rate/channels/bitrate + estimated
    frame count, ID3v2 tag skipped, malformed shapes -> None."""
    from tika_wrap_spark.core.media import build_mp3, mp3_info

    assert mp3_info(build_mp3(192, 48000, True, 25)) == (1, 48000, 192, 25)
    assert mp3_info(build_mp3(128, 44100, False, 7, id3=True)) == (2, 44100, 128, 7)
    assert mp3_info(b"\xff\xfb") is None  # truncated header
    assert mp3_info(b"not audio at all") is None
    assert mp3_info(bytes([0xFF, 0xFB, 0x9C, 0x00])) is None  # reserved rate idx
    assert mp3_info(bytes([0xFF, 0xFB, 0xF0, 0x00])) is None  # bad bitrate idx
    # MPEG-2 (version bits 10) is out of scope -> None, not garbage
    assert mp3_info(bytes([0xFF, 0xF3, 0x90, 0x00])) is None


def test_decode_media_real_mp3(spark):
    """An MP3 payload decodes through the Arrow path with its TRUE sample
    rate/channels/frames, not digest-faked values."""
    import pandas as pd

    from tika_wrap_spark.core.media import build_mp3
    from tika_wrap_spark.operators.multimodal import decode_media

    payloads = pd.DataFrame(
        {
            "media_ref": ["m3:a", "m3:b"],
            "payload": [
                build_mp3(320, 32000, False, 11),
                build_mp3(64, 44100, True, 3, id3=True),
            ],
        }
    )
    df = spark.createDataFrame(payloads)
    got = {r["media_ref"]: r for r in decode_media(df).collect()}
    a, b = got["m3:a"], got["m3:b"]
    assert (a["media_kind"], a["width"], a["height"], a["n_frames"]) == ("audio", 2, 32000, 11)
    assert (b["media_kind"], b["width"], b["height"], b["n_frames"]) == ("audio", 1, 44100, 3)


def test_gif_lzw_codec_roundtrip_and_resize():
    """Late r4: GIF graduates from the compressed-format stub — real LZW
    decode/encode (variable code width, CLEAR handling, 4096-entry cap)
    against the fixed 252-color level-cube palette. decode(encode(rgb)) is
    the palette-quantized image; a second roundtrip is lossless; the
    resize kernel flows GIF -> decode -> resample -> re-encode -> GIF."""
    import random

    from tika_wrap_spark.core.media import (
        build_gif,
        build_gif_pixels,
        gif_dims,
        gif_pixels,
        resize_nearest,
    )
    from tika_wrap_spark.operators.multimodal import _embed_real, _resize_real

    rng = random.Random(11)
    w, h = 64, 33  # large enough to force LZW width growth
    rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
    g = build_gif_pixels(w, h, rgb)
    assert gif_dims(g) == (w, h)  # header parse still sees real dims
    dw, dh, quant = gif_pixels(g)
    assert (dw, dh) == (w, h) and len(quant) == w * h * 3
    # second roundtrip lossless: palette colors map to themselves
    assert gif_pixels(build_gif_pixels(w, h, quant))[2] == quant
    # real resize path: decoded output equals the pure-python resample
    out = _resize_real(g, 9, 5)
    assert out is not None and out[:6] == b"GIF89a"
    assert gif_pixels(out) == (9, 5, resize_nearest(w, h, quant, 9, 5))
    # real embedding path accepts pixel-carrying GIFs
    emb = _embed_real(g, 16)
    assert emb is not None and len(emb) == 16
    # header-only GIFs keep the stub path (no image data to decode)
    assert gif_pixels(build_gif(32, 16)) is None
    assert _resize_real(build_gif(32, 16), 9, 5) is None


def test_jpeg_baseline_codec_roundtrip_and_resize():
    """Late r4: baseline JPEG graduates from the stub — a pure-python
    ITU-T T.81 codec (Annex-K tables, 4:4:4 encoder; decoder also takes
    2x-subsampled + restart-marker streams). Lossy-but-deterministic:
    byte-identical re-encode, close roundtrip on smooth images, and the
    resize/embed kernels flow JPEG end to end. Progressive stays stub."""
    from tika_wrap_spark.core.jpegbin import build_jpeg_pixels, jpeg_pixels
    from tika_wrap_spark.core.media import build_jpeg, jpeg_dims
    from tika_wrap_spark.operators.multimodal import _embed_real, _resize_real

    w, h = 24, 17
    rgb = bytes(
        min(255, (x * 9 + y * 4) % 256)
        for y in range(h)
        for x in range(w)
        for _ in range(3)
    )
    j = build_jpeg_pixels(w, h, rgb)
    assert jpeg_dims(j) == (w, h)  # header parse agrees with the encoder
    assert build_jpeg_pixels(w, h, rgb) == j  # deterministic bytes
    dw, dh, out = jpeg_pixels(j)
    assert (dw, dh) == (w, h)
    mean = sum(abs(a - b) for a, b in zip(rgb, out)) / len(rgb)
    assert mean < 12, mean  # smooth-image fidelity bound
    # real resize path: decode -> resample -> re-encode as baseline JPEG
    r = _resize_real(j, 9, 5)
    assert r is not None and r[:2] == b"\xff\xd8"
    assert jpeg_pixels(r)[0:2] == (9, 5)
    # real embedding path
    e = _embed_real(j, 16)
    assert e is not None and len(e) == 16
    # header-only and progressive JPEGs keep the stub path
    assert jpeg_pixels(build_jpeg(64, 32)) is None
    assert _resize_real(build_jpeg(64, 32, progressive=True), 9, 5) is None


class TestFlacOgg:
    """FLAC STREAMINFO + Ogg Vorbis identification header (late r5): the
    lossless/free audio half of the exiftool/sox analog — true channels,
    sample rate, and total samples; Vorbis comments ride the shared
    id3_title/id3_artist columns. Truncation degrades, never raises."""

    def test_flac_streaminfo_roundtrip(self):
        from tika_wrap_spark.core.media import build_flac, flac_info, flac_tags

        f = build_flac(2, 44100, 16, 12345678,
                       tags={"title": "Song — 曲", "artist": "Aé"})
        assert flac_info(f) == (2, 44100, 16, 12345678)
        assert flac_tags(f) == {"title": "Song — 曲", "artist": "Aé"}
        # the 36-bit total-samples field exceeds u32
        assert flac_info(build_flac(1, 96000, 24, 2**35 + 7))[3] == 2**35 + 7
        assert flac_tags(build_flac(1, 8000, 16, 10)) == {}

    def test_ogg_vorbis_roundtrip(self):
        from tika_wrap_spark.core.media import (
            build_ogg_vorbis,
            ogg_tags,
            ogg_vorbis_info,
        )

        o = build_ogg_vorbis(2, 48000, 987654, tags={"title": "T1", "artist": "B"})
        assert ogg_vorbis_info(o) == (2, 48000, 987654)
        assert ogg_tags(o) == {"title": "T1", "artist": "B"}
        assert ogg_vorbis_info(build_ogg_vorbis(1, 8000, 0)) == (1, 8000, 0)

    def test_truncation_never_raises(self):
        from tika_wrap_spark.core.media import (
            build_flac,
            build_ogg_vorbis,
            flac_info,
            flac_tags,
            ogg_tags,
            ogg_vorbis_info,
        )

        f = build_flac(2, 44100, 16, 99, tags={"title": "T"})
        o = build_ogg_vorbis(2, 44100, 99, tags={"title": "T"})
        for cut in range(0, 80):
            assert flac_info(f[:cut]) is None or cut >= 42
            assert isinstance(flac_tags(f[:cut]), dict)
            assert isinstance(ogg_tags(o[:cut]), dict)
            r = ogg_vorbis_info(o[:cut])
            assert r is None or r[:2] == (2, 44100)
        assert flac_info(b"not flac") is None
        assert ogg_vorbis_info(b"OggS but short") is None

    def test_decode_surfaces_flac_ogg(self):
        from tika_wrap_spark.core.media import build_flac, build_ogg_vorbis
        from tika_wrap_spark.operators.multimodal import _decode_payload

        d = _decode_payload(
            "flac://x", build_flac(2, 48000, 24, 4242, tags={"title": "F", "artist": "G"})
        )
        assert d["media_kind"] == "audio" and (d["width"], d["height"]) == (2, 48000)
        assert d["n_frames"] == 4242
        assert (d["id3_title"], d["id3_artist"]) == ("F", "G")
        # 36-bit totals clamp into the int32 n_frames column
        big = _decode_payload("flac://y", build_flac(1, 44100, 16, 2**35))
        assert big["n_frames"] == 0x7FFFFFFF
        d2 = _decode_payload("ogg://x", build_ogg_vorbis(1, 44100, 777))
        assert d2["media_kind"] == "audio" and d2["n_frames"] == 777
        assert d2["id3_title"] == ""

    def test_fetch_mix_draws_flac_and_ogg(self):
        from tika_wrap_spark.core.media import FLAC_MAGIC, OGG_MAGIC
        from tika_wrap_spark.operators.multimodal import _fetch_fake

        seen = {"flac": 0, "ogg": 0, "opaque": 0}
        for i in range(400):
            p = _fetch_fake("blob://mix/%d" % i)
            if p.startswith(FLAC_MAGIC):
                seen["flac"] += 1
            elif p.startswith(OGG_MAGIC):
                seen["ogg"] += 1
            elif not any(
                p.startswith(m)
                for m in (b"\x89PNG", b"\xff\xd8", b"GIF8", b"BM", b"RIFF",
                          b"II*\x00", b"MM\x00*", b"ID3", b"\xff\xfb", b"fLaC")
            ) and b"ftyp" not in p[:16]:
                seen["opaque"] += 1
        # all three sub-branches of the kind==7 carve stay exercised
        assert seen["flac"] > 0 and seen["ogg"] > 0 and seen["opaque"] > 0


class TestId3Tags:
    """ID3v2 text frames (late r5): the audio half of the exiftool/sox
    metadata analog (/root/reference/README.md:19-20) — TIT2/TPE1/TALB/
    TYER(TDRC) surface as flat strings; truncation is best-effort data,
    never an exception."""

    def test_roundtrip_v23_latin1_and_utf16(self):
        from tika_wrap_spark.core.media import build_mp3, mp3_id3_tags, mp3_info

        m = build_mp3(
            128, 44100, False, 3,
            id3_tags={"title": "Hello — 曲", "artist": "Aé", "album": "B",
                      "year": "1999"},
        )
        assert mp3_info(m) == (2, 44100, 128, 3)  # tag skip still exact
        assert mp3_id3_tags(m) == {
            "title": "Hello — 曲", "artist": "Aé", "album": "B", "year": "1999"
        }

    def test_v24_syncsafe_frame_sizes(self):
        from tika_wrap_spark.core.media import build_id3v2, mp3_id3_tags

        tag = build_id3v2({"title": "X", "artist": "Y"})
        as_v24 = b"ID3\x04\x00" + tag[5:]
        assert mp3_id3_tags(as_v24) == {"title": "X", "artist": "Y"}

    def test_truncation_and_garbage_never_raise(self):
        from tika_wrap_spark.core.media import build_mp3, mp3_id3_tags

        m = build_mp3(64, 32000, True, 1, id3_tags={"title": "T", "artist": "A"})
        for cut in range(0, 40):
            assert isinstance(mp3_id3_tags(m[:cut]), dict)
        assert mp3_id3_tags(b"") == {}
        assert mp3_id3_tags(b"not an mp3 at all") == {}
        assert mp3_id3_tags(build_mp3(64, 32000, True, 1, id3=True)) == {}

    def test_decode_surfaces_id3_columns(self):
        from tika_wrap_spark.core.media import build_mp3, build_wav
        from tika_wrap_spark.operators.multimodal import _decode_payload

        m = build_mp3(192, 48000, False, 5, id3_tags={"title": "T1", "artist": "A1"})
        meta = _decode_payload("blob://x/0", m)
        assert meta["media_kind"] == "audio"
        assert (meta["id3_title"], meta["id3_artist"]) == ("T1", "A1")
        w = _decode_payload("blob://x/1", build_wav(2, 44100, 16, 10))
        assert (w["id3_title"], w["id3_artist"]) == ("", "")

    def test_fetch_mix_draws_tagged_mp3s(self):
        """The digest mix must exercise tagged (incl. utf-16-titled) and
        untagged mp3s so the decode columns carry real signal."""
        from tika_wrap_spark.core.media import mp3_id3_tags, mp3_info
        from tika_wrap_spark.operators.multimodal import _fetch_fake

        tagged = untagged = utf16 = 0
        for i in range(4000):
            p = _fetch_fake("blob://doc_%07d/%d" % (i, i % 3))
            if mp3_info(p) is None:
                continue
            tags = mp3_id3_tags(p)
            if tags:
                tagged += 1
                if any(ord(c) > 0xFF for c in tags.get("title", "")):
                    utf16 += 1
            else:
                untagged += 1
        assert tagged > 50 and untagged > 50 and utf16 > 10


class TestTiffWebpMp4:
    """R5 late wave: TIFF whole-file IFD parse (+ uncompressed-RGB pixel
    codec), WebP header dims across all three variants, and ISO-BMFF
    moov/tkhd/stts metadata — real header parsing, shared-IFD invariant
    (the TIFF walk IS exifbin's), sniffer routing, and the fetch mix."""

    def test_tiff_dims_and_exif_tags(self):
        from tika_wrap_spark.core.exifbin import parse_exif_tiff
        from tika_wrap_spark.core.media import build_tiff, image_dims, tiff_dims

        for le in (True, False):
            t = build_tiff(640, 480, orientation=6,
                           datetime="2025:01:02 03:04:05", le=le)
            assert tiff_dims(t) == (640, 480)
            assert image_dims(t) == (640, 480)
            meta = parse_exif_tiff(t)  # whole-file TIFF == APP1 body shape
            assert meta["orientation"] == "6"
            assert meta["datetime"] == "2025:01:02 03:04:05"
        assert tiff_dims(b"II*\x00") is None
        assert tiff_dims(b"II* not a tiff") is None
        assert tiff_dims(b"MM\x00* truncated") is None
        assert image_dims(b"IIshort") is None

    def test_tiff_pixel_roundtrip_lossless(self):
        from tika_wrap_spark.core.media import (
            build_tiff, build_tiff_pixels, tiff_pixels,
        )

        rgb = bytes((i * 11 + 3) % 256 for i in range(9 * 7 * 3))
        for le in (True, False):
            t = build_tiff_pixels(9, 7, rgb, le=le)
            assert tiff_pixels(t) == (9, 7, rgb)
        # header-only TIFF has no strips -> pixel path declines, dims hold
        assert tiff_pixels(build_tiff(9, 7)) is None
        # truncation never raises
        t = build_tiff_pixels(9, 7, rgb)
        for cut in range(0, len(t), 17):
            tiff_pixels(t[:cut])

    def test_tiff_real_resize_and_embed_kernels(self):
        from tika_wrap_spark.core.media import build_tiff_pixels, tiff_pixels
        from tika_wrap_spark.operators.multimodal import _embed_real, _resize_real

        rgb = bytes((i * 5) % 256 for i in range(16 * 12 * 3))
        t = build_tiff_pixels(16, 12, rgb)
        out = _resize_real(t, 8, 6)
        assert out is not None
        w, h, _ = tiff_pixels(out)
        assert (w, h) == (8, 6)
        e = _embed_real(t, 16)
        assert e is not None and len(e) == 16

    def test_webp_dims_all_variants(self):
        from tika_wrap_spark.core.media import build_webp, image_dims, webp_dims

        for variant in ("VP8 ", "VP8L", "VP8X"):
            p = build_webp(321, 123, variant)
            assert webp_dims(p) == (321, 123), variant
            assert image_dims(p) == (321, 123), variant
        # RIFF-but-not-WebP and truncated payloads decline
        from tika_wrap_spark.core.media import build_wav
        assert webp_dims(build_wav(2, 44100, 16, 10)) is None
        assert webp_dims(build_webp(10, 10)[:14]) is None
        assert webp_dims(b"RIFF\x00\x00\x00\x00WEBPJUNK\x00\x00\x00\x00") is None

    def test_mp4_info_and_decode(self):
        from tika_wrap_spark.core.media import build_mp4, mp4_info
        from tika_wrap_spark.operators.multimodal import _decode_payload

        m = build_mp4(1920, 1080, 2400, 80_000)
        assert mp4_info(m) == (1920, 1080, 2400, 80_000)
        meta = _decode_payload("mp4://x", m)
        assert meta["media_kind"] == "video"
        assert (meta["width"], meta["height"], meta["n_frames"]) == (1920, 1080, 2400)
        # truncation/garbage never raise
        for cut in range(0, len(m), 13):
            mp4_info(m[:cut])
        assert mp4_info(b"\x00\x00\x00\x08free") is None
        assert mp4_info(b"not a box") is None

    def test_sniffer_routes_new_magics_both_forms(self, spark):
        from pyspark.sql import functions as F

        from tika_wrap_spark import functions as tw
        from tika_wrap_spark.core.media import build_mp4, build_tiff, build_webp
        from tika_wrap_spark.core.sniff import sniff_kind

        payloads = [
            build_tiff(5, 5).decode("latin-1"),
            build_tiff(5, 5, le=False).decode("latin-1"),
            build_webp(9, 9).decode("latin-1"),
            build_mp4(64, 64, 10, 1000).decode("latin-1"),
            "II* prose about typewriters",
            "MM prose about Hamburg",
            "ftyp is a box fourcc",  # at offset 0, NOT 4 -> text
        ]
        want = ["media", "media", "media", "media", "text", "text", "text"]
        assert [sniff_kind(p) for p in payloads] == want
        df = spark.createDataFrame([(p,) for p in payloads], "text string")
        got = [
            r["k"]
            for r in df.select(
                tw.sniff_kind_col(F.col("text"), F.lit("")).alias("k")
            ).collect()
        ]
        assert got == want

    def test_fetch_mix_draws_all_new_formats(self):
        from tika_wrap_spark.core.media import tiff_pixels
        from tika_wrap_spark.operators.multimodal import _decode_payload, _fetch_fake

        tiffs = tiff_pix = webps = mp4s = 0
        for i in range(3000):
            p = _fetch_fake("blob://doc_%07d/%d" % (i, i % 3))
            if p.startswith((b"II*\x00", b"MM\x00*")):
                tiffs += 1
                if tiff_pixels(p) is not None:
                    tiff_pix += 1
                else:
                    # header-only TIFFs surface IFD0 orientation via the
                    # shared EXIF walk
                    meta = _decode_payload("x", p)
                    assert 1 <= meta["exif_orientation"] <= 8
            elif p[8:12] == b"WEBP":
                webps += 1
            elif p[4:8] == b"ftyp":
                mp4s += 1
        assert tiffs > 80 and webps > 80 and mp4s > 80
        assert tiff_pix > 20 and tiffs - tiff_pix > 20


def test_fetch_mix_kernel_outputs_digest_pin():
    """Byte-identical pin of every media kernel over 3,000 fetch-mix refs:
    decode metadata, resize (real or stub) at 24x24 and embedding (real or
    stub) at dim 16, with which kernel ran. Captured before the operators
    were folded onto one payload map and one pixel-codec table."""
    import hashlib
    import json

    from tika_wrap_spark.operators.multimodal import (
        _decode_payload,
        _embed_fake,
        _embed_real,
        _fetch_fake,
        _resize_fake,
        _resize_real,
    )

    digest = hashlib.md5()
    kinds: dict[str, int] = {}
    for i in range(3000):
        ref = "blob://doc_%07d/%d" % (i // 3, i % 3)
        p = _fetch_fake(ref)
        meta = _decode_payload(ref, p)
        kinds[meta["media_kind"]] = kinds.get(meta["media_kind"], 0) + 1
        r, e = _resize_real(p, 24, 24), _embed_real(p, 16)
        resized = r if r is not None else _resize_fake(p, 24, 24)
        emb = e if e is not None else _embed_fake(p, 16)
        row = [ref, meta, r is not None, hashlib.md5(resized).hexdigest(), e is not None, emb]
        digest.update(json.dumps(row).encode())
    assert kinds == {"image": 1679, "video": 584, "audio": 737}
    assert digest.hexdigest() == "d12c1906f36a3101c31128aa3af4ebbc"
