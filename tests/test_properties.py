"""Property-based tests (hypothesis) for the deterministic core.

These encode the invariants the 100 TB pipeline relies on (SURVEY §7.4.1:
determinism under re-partitioning; §5.2 invariance tests) as properties
over arbitrary inputs rather than fixed fixtures:

- extract_document is a pure function of the *logical* input span array:
  physical ordering of the input list must not matter (Spark gives no
  ordering guarantees inside a partition after a shuffle);
- output offsets are always dense 0-based, kinds always valid;
- text spans obey the chunk-size gates (P4);
- normalization is idempotent (so re-normalizing already-clean data —
  e.g. on a resume path — can never change bytes);
- the HTML / pdf-layout parsers never raise on arbitrary junk (a single
  malformed document must not kill a 10^12-doc job).
"""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from sparkextract import config
from sparkextract.core.boilerplate import extract_html
from sparkextract.core.extract import extract_document
from sparkextract.core.normalize import collapse_ws, normalize_cell, normalize_text
from sparkextract.core.segment import chunk_text
from sparkextract.core.tables import parse_pdf_layout

_KINDS = ["text", "html", "pdf_layout", "media"]

_text_st = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400
)

# the full nullable input schema, not just the generator's shapes: any
# field may be null, '' competes with None, unknown kinds take the text
# fallback, and media spans may carry text (ignored) or no media_ref
_span_st = st.fixed_dictionaries(
    {
        "kind": st.one_of(st.sampled_from(_KINDS), st.none(), st.sampled_from(["", "video"])),
        "text": st.one_of(st.none(), st.just(""), _text_st),
        "media_ref": st.one_of(st.none(), st.just(""), st.text(max_size=30)),
        # tiny offset range so duplicate offsets (malformed input) are
        # common — the order-invariance property must hold even then
        "offset": st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
    }
)

_doc_st = st.lists(_span_st, max_size=8)


@settings(max_examples=80, deadline=None)
@given(_doc_st, st.randoms())
def test_extract_document_input_order_invariant(spans, rnd):
    base = extract_document(spans)
    shuffled = list(spans)
    rnd.shuffle(shuffled)
    assert extract_document(shuffled) == base


@settings(max_examples=80, deadline=None)
@given(_doc_st)
def test_output_spans_well_formed(spans):
    out = extract_document(spans)
    for i, s in enumerate(out):
        assert s["offset"] == i  # dense 0-based (W1)
        assert s["kind"] in config.VALID_OUTPUT_KINDS
        if s["kind"] == config.KIND_IMAGE:
            # media_ref passes through verbatim: null only from a null input ref
            assert s["media_ref"] is not None or any(
                x["kind"] == "media" and x["media_ref"] is None for x in spans
            )
        else:
            assert s["text"] is not None and s["text"] != ""


@settings(max_examples=80, deadline=None)
@given(_text_st)
def test_text_chunks_obey_min_gate(text):
    for chunk in chunk_text(normalize_text(text)):
        assert len(chunk) >= config.MIN_CHUNK_SIZE  # P4


@settings(max_examples=150, deadline=None)
@given(_text_st)
def test_normalize_idempotent(text):
    once = normalize_text(text)
    assert normalize_text(once) == once
    assert collapse_ws(collapse_ws(text)) == collapse_ws(text)


@settings(max_examples=150, deadline=None)
@given(st.one_of(st.none(), st.text(max_size=30), st.integers(), st.floats(allow_nan=True)))
def test_normalize_cell_idempotent_and_null_sentinels(value):
    out = normalize_cell(value)
    assert normalize_cell(out) == out
    if isinstance(value, str) and value.strip() in ("", "None", "nan"):
        assert out is None  # P2


@settings(max_examples=100, deadline=None)
@given(_text_st)
def test_parsers_total_and_deterministic(junk):
    # must not raise on arbitrary junk, and must be pure
    assert extract_html(junk) == extract_html(junk)
    assert parse_pdf_layout(junk) == parse_pdf_layout(junk)


def test_null_and_empty_media_ref_order_invariant():
    # equal offsets and equal OCR text: only None vs '' tells them apart
    a = {"kind": "media", "text": None, "media_ref": None, "offset": 0}
    b = {"kind": "media", "text": None, "media_ref": "", "offset": 0}
    assert extract_document([a, b]) == extract_document([b, a])


def test_duplicate_tables_deduped_first_wins():
    table = "+---+---+\n| a | b |\n+---+---+\n| 1 | 2 |\n+---+---+"
    doc = [
        {"kind": "pdf_layout", "text": table, "media_ref": None, "offset": 0},
        {"kind": "pdf_layout", "text": table, "media_ref": None, "offset": 1},
    ]
    out = extract_document(doc)
    tables = [s for s in out if s["kind"] == config.KIND_TABLE]
    assert len(tables) == 1  # D6: exact near-dup suppressed, first wins


# ------------------------------------------------------- fast HTML tokenizer
def _parser_only(html: str):
    """Reference path: stdlib HTMLParser driving the walker."""
    from sparkextract.core.boilerplate import _Walker

    w = _Walker()
    try:
        w.feed(html)
        w.close()
    except Exception:
        pass
    return w.out


_html_frag = st.one_of(
    st.sampled_from(
        [
            "<p>", "</p>", "<div>", "</div>", "<br/>", "<a href=\"/x\">", "</a>",
            "<nav>", "</nav>", "<table>", "</table>", "<tr>", "<td>", "</td>",
            "<script>var x=1;</script>", "<form>", "</form>",
            "<input name=\"q\" value=\"v\"/>", "<!-- c -->", "&amp;",
            "<div title=\"a>b\">", "<p class='x'>", "< stray", "text ",
            "word. ", "<P>", "</P >", "<a-b>", "<style>.c{}</style>",
            "<div data-x>", "<div data-x=>", "<div =x>", "<div 'q'>",
            "<SCRIPT>Z</SCRIPT>", "<style/>", "<p  class = \"x\" >",
            "<br >", "</ p>", "<p/>", "é中文 ",
            "<select name=s><option>1</option></select>",
        ]
    ),
    st.text(max_size=12),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_html_frag, max_size=20).map("".join))
def test_fast_html_tokenizer_matches_htmlparser(html):
    from sparkextract.core.boilerplate import extract_html

    assert extract_html(html) == _parser_only(html)


@given(st.binary(max_size=500), st.integers(min_value=1, max_value=16))
@settings(deadline=None)
def test_frame_sampler_partitions_payload(raw, n_frames):
    """Frame sampling is a partition of the payload: frames concatenate
    back to the original bytes, and the frame count is min(n, len)."""
    from sparkextract.spark.multimodal import _sample_frames_stub

    frames = _sample_frames_stub(raw, n_frames)
    assert b"".join(frames) == raw
    assert len(frames) == min(n_frames, len(raw))
    if frames:
        assert all(len(f) >= 1 for f in frames)


@given(
    st.lists(
        st.tuples(
            st.text(max_size=40),
            st.one_of(st.none(), st.integers(-10**6, 10**6), st.booleans(),
                      st.text(max_size=40)),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(deadline=None)
def test_excel_sheet_xml_roundtrip(rows):
    """The stdlib xlsx sheet XML is well-formed and value-preserving for
    arbitrary header/cell strings (XML metacharacters, unicode)."""
    import xml.etree.ElementTree as ET

    from sparkextract.spark.excel import _sheet_xml

    header = ["h&<>\"'", "v"]
    xml = _sheet_xml(header, [(k, v) for k, v in rows])
    root = ET.fromstring(xml)  # must parse
    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    got_rows = root.findall(".//m:row", ns)
    assert len(got_rows) == len(rows) + 1
    first_cell = got_rows[1].find("m:c", ns)
    from sparkextract.spark.excel import _XML_INVALID

    t = first_cell.find(".//m:t", ns)
    assert (t.text or "") == _XML_INVALID.sub("", rows[0][0])
