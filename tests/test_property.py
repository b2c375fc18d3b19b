"""Property-based tests (hypothesis) over the pure extraction core — no
Spark session needed, so these run in milliseconds and explore far more
input space than the fixture corpus.

Invariants pinned (SURVEY.md §5.2):
  * extract_document NEVER raises, for arbitrary span structures
  * output offsets are the running sum of kept-text lengths (monotonic)
  * plain-text spans pass through verbatim
  * media spans keep their media_ref and contribute zero text
  * html/pdf extraction is deterministic (same input -> same output)
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from tika_wrap_spark.core.charset import decode_charset
from tika_wrap_spark.core.extract import extract_document
from tika_wrap_spark.core.html import extract_html_blocks
from tika_wrap_spark.core.sniff import sniff_kind

# Arbitrary text, biased toward structure-triggering characters.
payload_text = st.text(
    alphabet=st.sampled_from(list("abc <>/!&#;()\\%-.\n\t\"'=xPDFhtml")),
    max_size=400,
)

span = st.fixed_dictionaries(
    {
        "kind": st.sampled_from(["text", "html", "pdf", "media", "zip", ""]),
        "text": st.one_of(st.none(), payload_text),
        "media_ref": st.one_of(st.just(""), st.just("blob://x/0")),
        "offset": st.integers(min_value=0, max_value=1 << 30),
    }
)
spans = st.one_of(st.none(), st.lists(span, max_size=6))


@given(spans)
@settings(max_examples=300, deadline=None)
def test_never_raises_and_offsets_run(spans_in):
    res = extract_document(spans_in)
    assert set(res) == {"spans", "parse_ok", "error", "meta"}
    assert isinstance(res["parse_ok"], bool)
    if not res["parse_ok"]:
        assert res["spans"] == [] and res["error"]
        return
    # offsets = running sum of preceding kept-text lengths
    off = 0
    for s in res["spans"]:
        assert s["offset"] == off
        off += len(s["text"])
    # metadata values are flat strings only (reference coercion pin)
    assert all(isinstance(v, str) for v in res["meta"].values())


@given(st.text(alphabet=st.characters(blacklist_characters="<%P"), max_size=300))
@settings(max_examples=200, deadline=None)
def test_plain_text_roundtrips(text):
    """Text that can't sniff as html/pdf extracts as exactly the charset
    ladder's output (r5: text-family payloads pass through core/charset.py
    first — codec '' means verbatim, which remains the overwhelming case;
    a detected codec means the extracted span is the decode, byte-exact)."""
    if sniff_kind(text) != "text":
        return
    decoded, _codec = decode_charset(text)
    if sniff_kind(decoded) != "text":
        return  # decode may reveal a routable payload (html inside utf-16)
    res = extract_document([{"kind": "text", "text": text, "media_ref": "", "offset": 0}])
    assert res["parse_ok"]
    assert [s["text"] for s in res["spans"]] == [decoded]


@given(st.integers(min_value=0, max_value=5))
@settings(max_examples=20, deadline=None)
def test_media_spans_preserved(n):
    spans_in = [
        {"kind": "media", "text": "", "media_ref": f"blob://d/{i}", "offset": i}
        for i in range(n)
    ]
    res = extract_document(spans_in)
    assert res["parse_ok"]
    assert [s["media_ref"] for s in res["spans"]] == [f"blob://d/{i}" for i in range(n)]
    assert all(s["text"] == "" and s["kind"] == "media" for s in res["spans"])


@given(payload_text)
@settings(max_examples=200, deadline=None)
def test_html_extract_deterministic_or_raises_consistently(text):
    html = "<html><body>" + text
    try:
        a = extract_html_blocks(html)
    except Exception as e:
        try:
            extract_html_blocks(html)
            raise AssertionError("nondeterministic raise")
        except Exception as e2:
            assert type(e) is type(e2)
            return
    b = extract_html_blocks(html)
    assert a == b
    for block in a:
        assert block == " ".join(block.split())  # normalized


# --- container dialect properties ------------------------------------------

from tika_wrap_spark.core.container import build_container, parse_container

_member_name = st.text(
    alphabet=st.characters(blacklist_characters="\x00", max_codepoint=0x2FF),
    max_size=24,
)
_member_payload = st.one_of(
    st.text(max_size=200),
    # adversarial: payloads containing the dialect's own magic/terminator
    st.sampled_from(["PK\x03\x04TWC1\n", "PK\x05\x06\n", "E 1 1\nxy"]),
)


@given(st.lists(st.tuples(_member_name, _member_payload), max_size=8))
@settings(max_examples=200, deadline=None)
def test_container_roundtrip_any_members(entries):
    """Length framing must round-trip ANY member content — including
    payloads that contain the magic or terminator strings themselves."""
    assert parse_container(build_container(entries)) == entries


@given(st.lists(st.tuples(_member_name, st.text(max_size=60)), max_size=4),
       st.integers(min_value=0, max_value=400))
@settings(max_examples=200, deadline=None)
def test_container_truncation_never_crashes_extract(entries, cut):
    """Any prefix of a valid container is either still parseable (cut == 0
    removed) or a clean parse_ok=false row — never an exception."""
    payload = build_container(entries)
    truncated = payload[: max(len(payload) - cut, len("PK\x03\x04"))]
    res = extract_document(
        [{"kind": "zip", "text": truncated, "media_ref": "", "offset": 0}]
    )
    assert isinstance(res["parse_ok"], bool)
    if not res["parse_ok"]:
        assert res["spans"] == [] and res["error"]


# --- pdf parser robustness --------------------------------------------------

from tika_wrap_spark.core.errors import ExtractError
from tika_wrap_spark.core.pdf import pages_to_texts, parse_pdf_pages

_pdf_noise = st.one_of(
    st.text(alphabet="BT ETdjTj()\\ %Page:0123456789.\n-", max_size=30),
    st.sampled_from(["%%EOF", "%%Page: 1", "BT 1 2 Td (x) Tj ET"]),
)


@given(st.lists(_pdf_noise, max_size=8))
@settings(max_examples=300, deadline=None)
def test_pdf_parser_total_on_garbage(parts):
    """The PDF dialect parser is TOTAL on '%PDF-' inputs: any garbage body
    either parses or raises ExtractError — never any other exception, and
    deterministically."""
    stream = "%PDF-1.4\n" + "\n".join(parts)
    try:
        a = pages_to_texts(parse_pdf_pages(stream))
    except ExtractError:
        try:
            pages_to_texts(parse_pdf_pages(stream))
            raise AssertionError("nondeterministic raise")
        except ExtractError:
            return
    assert pages_to_texts(parse_pdf_pages(stream)) == a


_rtf_alphabet = st.sampled_from(list("{}\\rtf1u c0'9ab \n-_~*binpa"))
_eml_alphabet = st.sampled_from(
    list("FromTo:Subjec Dat\nMIE-Vrsin1.0;=?bqQB?utf8&\t\"bounday celt/mixd")
)


@given(st.text(alphabet=_rtf_alphabet, max_size=400))
@settings(max_examples=200, deadline=None)
def test_rtf_fuzz_never_raises_through_extract(body):
    """Arbitrary rtf-flavored payloads (magic prefixed, so they route rtf):
    rtf_to_text raises only ExtractError, and extract_document always
    returns a row — same policy bar as the archive/pdf parsers."""
    from tika_wrap_spark.core.errors import ExtractError
    from tika_wrap_spark.core.rtf import rtf_to_text

    payload = "{\\rtf1" + body
    try:
        out = rtf_to_text(payload)
        assert isinstance(out, str)
        assert rtf_to_text(payload) == out  # deterministic
    except ExtractError:
        pass
    res = extract_document(
        [{"kind": "rtf", "text": payload, "media_ref": "", "offset": 0}]
    )
    assert isinstance(res["parse_ok"], bool)


@given(st.text(alphabet=_eml_alphabet, max_size=400))
@settings(max_examples=200, deadline=None)
def test_eml_fuzz_never_raises_through_extract(body):
    """Arbitrary header-flavored payloads: parse_eml raises only
    ExtractError; extract_document always returns a row whatever the
    sniffer decides the payload is."""
    from tika_wrap_spark.core.errors import ExtractError
    from tika_wrap_spark.core.eml import parse_eml

    payload = "From: a@x\n" + body
    try:
        meta, parts = parse_eml(payload)
        assert isinstance(meta, dict) and isinstance(parts, list)
    except ExtractError:
        pass
    res = extract_document(
        [{"kind": "eml", "text": payload, "media_ref": "", "offset": 0}]
    )
    assert isinstance(res["parse_ok"], bool)
