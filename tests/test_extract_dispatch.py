"""Pins of the extraction dispatch in ``core/extract.py``.

* The whole output of ``extract_document`` over the seed-42 corpus is
  pinned by one digest, so a dispatch change that moves any span, status,
  error or meta item (key order included — meta flows through Arrow into
  the store) fails here. The goldens cannot catch such drift: they are
  generated by the same ``extract_document``. A second digest pins the
  corpus rows themselves, doc ids included.
* Every container and wrapper kind, reached 8 gzip layers deep, must
  report the depth cap (pdf parses first and reports its own error).
* Truncated, bit-flipped and non-byte-stream payloads of every dispatched
  kind must fail in their format's error class, never as ``internal:`` or
  ``other``; a binary payload that is not a byte stream fails with the one
  message of ``errors.payload_bytes``.
* A bomb of each kind with a hand-rolled or block-wise decoder, and a PDF
  attachment bomb, fail with the one cap message of
  ``errors.over_budget`` in the ``bomb`` class.
"""

import hashlib
import json
import random
import tracemalloc
import zlib

import pytest

from tika_wrap_spark.core.cabbin import build_cab
from tika_wrap_spark.core.container import MAGIC as TWC1_MAGIC
from tika_wrap_spark.core.errors import MAX_INFLATED
from tika_wrap_spark.core.extract import (
    _ARCHIVE_PARSERS,
    _HANDLERS,
    _WRAPPER_DECODERS,
    extract_document,
)
from tika_wrap_spark.core.gzipbin import gzip_text, z_bytes
from tika_wrap_spark.core.lz4bin import lz4_bytes
from tika_wrap_spark.core.sevenzip import build_7z
from tika_wrap_spark.core.zstdbin import zstd_bytes
from tika_wrap_spark.core.pdfbin import build_pdf, is_real_pdf_text
from tika_wrap_spark.core.sniff import sniff_kind
from tika_wrap_spark.corpus import adversarial_rows, generate_corpus
from tika_wrap_spark.formats import error_classes

# md5 over json.dumps([spans, parse_ok, error, list(meta.items())]) of
# every document of generate_corpus(2000, seed=42), in corpus order
CORPUS_42_DIGEST = "8270a1cdf715fa48fa750b571b3ff1d8"
# md5 over json.dumps([doc_id, spans]) of every row of
# generate_corpus(2000, seed=42) and then of adversarial_rows(3000)
CORPUS_42_INPUT_DIGEST = "7aae90732587d3cc71677b9cf002bb93"

_DEPTH_ERROR = "container nesting exceeds depth 8"
# error of a truncated sample of each kind under 8 gzip layers; a pdf
# only checks depth once it has parsed (and only for attachments)
DEPTH_CAP_ERRORS = {
    **{
        kind: _DEPTH_ERROR
        for kind in (
            "zip tar ar cpio 7z rar iso cab gzip xz bz2 z lz4 zstd lzma"
            " eml tnef mbox warc"
        ).split()
    },
    "pdf": "truncated PDF stream: missing %%EOF",
}

DISPATCH_KINDS = sorted({*_ARCHIVE_PARSERS, *_WRAPPER_DECODERS, *_HANDLERS})

# kinds whose handler reads bytes: a payload that is not a byte stream
# fails with this message (a TWC1 container and a synthetic pdf are text;
# a media payload keeps its span without dims)
_BYTES_KINDS = {
    *_ARCHIVE_PARSERS,
    *_WRAPPER_DECODERS,
    *"pdf ole font sqlite midi dbf avro parquet plist tnef".split(),
}
_NOT_BYTES = "%s: payload is not a byte stream (non-latin-1 chars)"


def _reads_bytes(kind: str, text: str) -> bool:
    if kind == "zip":
        return not text.startswith(TWC1_MAGIC)
    if kind == "pdf":
        return is_real_pdf_text(text)
    return kind in _BYTES_KINDS


def _error_class(error: str) -> str:
    """``queries_training._error_class_col`` for one failed row."""
    if error.startswith("timeout:"):
        return "timeout"
    if "inflated payload exceeds" in error or "exceeds cap" in error:
        return "bomb"
    for cls, prefixes, needles in error_classes():
        if error.startswith(tuple(prefixes)) or any(n in error for n in needles):
            return cls
    return "internal" if error.startswith("internal:") else "other"


@pytest.fixture(scope="module")
def corpus42():
    return generate_corpus(2000, seed=42)


@pytest.fixture(scope="module")
def samples(corpus42):
    """kind -> (doc_id, text, media_ref) of the first 3 corpus payloads
    sniffing as that kind."""
    out: dict[str, list[tuple[str, str, str]]] = {}
    for row in corpus42:
        for span in row["spans"]:
            text = span.get("text") or ""
            media_ref = span.get("media_ref") or ""
            group = out.setdefault(sniff_kind(text, media_ref), [])
            if len(group) < 3:
                group.append((row["doc_id"], text, media_ref))
    return out


def test_corpus_output_digest(corpus42):
    h = hashlib.md5()
    for row in corpus42:
        res = extract_document(row["spans"])
        h.update(
            json.dumps(
                [res["spans"], res["parse_ok"], res["error"], list(res["meta"].items())]
            ).encode()
        )
    assert len(corpus42) == 2040
    assert h.hexdigest() == CORPUS_42_DIGEST


def test_corpus_input_digest(corpus42):
    """The corpus rows themselves, doc ids included, which the output
    digest never sees."""
    h = hashlib.md5()
    for row in corpus42 + adversarial_rows(3000):
        h.update(json.dumps([row["doc_id"], row["spans"]]).encode())
    assert h.hexdigest() == CORPUS_42_INPUT_DIGEST


@pytest.mark.parametrize("kind", sorted(DEPTH_CAP_ERRORS))
def test_depth_cap_order(samples, kind):
    text = next(t for _d, t, _m in samples[kind] if sniff_kind(t, "") == kind)
    # cut short, but keep the magic: ISO's CD001 sits at offset 32769
    cut = text[: 32769 + 64] if kind == "iso" else text[:300]
    assert sniff_kind(cut, "") == kind
    for _ in range(8):
        cut = gzip_text(cut)
    res = extract_document([{"text": cut, "media_ref": ""}])
    assert not res["parse_ok"]
    assert res["error"] == DEPTH_CAP_ERRORS[kind]


@pytest.mark.parametrize("kind", DISPATCH_KINDS)
def test_structural_robustness(samples, kind):
    """Truncations at 1/4, 1/2, 3/4, 8 seeded single-bit flips and a U+20AC
    at the midpoint of up to 3 corpus payloads per kind: bad input is a row
    in a format's error class, never ``internal`` or ``other``."""
    assert samples.get(kind), "no corpus sample sniffs as %s" % kind
    escaped = []
    for doc_id, text, media_ref in samples[kind]:
        n = len(text)
        variants = [text[: n * q // 4] for q in (1, 2, 3)]
        rng = random.Random("%s/%s" % (kind, doc_id))
        for _ in range(8 if n else 0):
            pos, bit = rng.randrange(n), rng.randrange(8)
            flipped = chr(ord(text[pos]) ^ (1 << bit))
            variants.append(text[:pos] + flipped + text[pos + 1 :])
        variants.append(text[: n // 2] + "\u20ac" + text[n // 2 + 1 :])
        for v, payload in enumerate(variants):
            res = extract_document([{"text": payload, "media_ref": media_ref}])
            err = res["error"]
            if not res["parse_ok"] and _error_class(err) in ("internal", "other"):
                escaped.append((doc_id, v, err))
        if _reads_bytes(kind, text):  # err is the last variant's: U+20AC
            assert err == _NOT_BYTES % kind, (doc_id, err)
    assert escaped == []


def _flate_bomb_pdf(data: bytes) -> bytes:
    """A one-page PDF whose FlateDecode content stream inflates to ``data``."""
    comp = zlib.compress(data, 9)
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream" % (len(comp), comp),
    ]
    doc = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(objs, 1):
        offsets.append(len(doc))
        doc += b"%d 0 obj\n%s\nendobj\n" % (num, body)
    xref = len(doc)
    doc += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    doc += b"".join(b"%010d 00000 n \n" % off for off in offsets)
    doc += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref,
    )
    return bytes(doc)


# case -> builder of a payload that inflates to its argument; a case is
# named by its sniff kind, then "-" and a variant. CAB's one folder
# inflates block by block, the 7z folder is refused on its declared size,
# and a PDF attachment bomb fails the document rather than being dropped
# like an attachment that does not decode. The .Z codec is pure Python:
# its case takes ~10 s to build and decode, and runs untraced
# (tracemalloc slows it ~10x).
BOMBS = {
    "z": z_bytes,
    "lz4": lz4_bytes,
    "zstd": zstd_bytes,
    "cab": lambda data: build_cab([("big.txt", data)]),
    "7z": lambda data: build_7z([("big.txt", data)]),
    "pdf": _flate_bomb_pdf,
    "pdf-attachment": lambda data: build_pdf(
        [[(72.0, 700.0, "x")]], attachments=[("big.bin", data)]
    ),
}
UNTRACED = {"z"}


@pytest.mark.parametrize("case", sorted(BOMBS))
def test_bomb_hits_the_one_cap_in_the_bomb_class(case):
    kind = case.split("-")[0]
    payload = BOMBS[case](bytes(65 << 20)).decode("latin-1")
    assert len(payload) < 1 << 20 and sniff_kind(payload, "") == kind
    if kind not in UNTRACED:
        tracemalloc.start()
    try:
        res = extract_document([{"text": payload, "media_ref": ""}])
        peak = tracemalloc.get_traced_memory()[1]  # 0 when untraced
    finally:
        tracemalloc.stop()
    assert res["error"] == "%s: inflated payload exceeds %d bytes" % (kind, MAX_INFLATED)
    assert _error_class(res["error"]) == "bomb"
    # inflate decodes in 1 MiB steps into one buffer, so a bomb holds its
    # inflated bytes once
    assert peak < MAX_INFLATED + (16 << 20), peak
