"""Property-based fuzzing with hypothesis that needs no reference tree:
span and sentence invariants, the extraction plan against the driver-side
golden oracle on arbitrary rich payloads, and aux span collection."""

from hypothesis import given, settings, strategies as st

from docling_translate_spark.operators.segment import AUX_SEGMENT_TYPES, aux_span_texts
from docling_translate_spark.segmenters import SEGMENTERS
from docling_translate_spark.sentences import split_sentences

# text alphabet biased toward structure characters that trigger the
# segmenter regexes
_ALPHA = st.sampled_from(
    list("ab .\n#\"'`~/*\\{}^&=!123-_()") + ["```", '"""', "'''", "//", "/*", "*/", "\n\n", "#!"]
)
_TEXT = st.lists(_ALPHA, max_size=60).map("".join)


@settings(max_examples=150, deadline=None)
@given(text=_TEXT)
def test_span_invariants(text):
    """Offsets are ordered and bounded; segment text is non-degenerate."""
    for fam in ("python", "c_style", "shell"):
        for seg_text, start, end, _, seg_type, _ in SEGMENTERS[fam](text):
            assert 0 <= start <= end <= len(text)
            if seg_type == "docstring":
                # reference design (text_parser.py:273-285): docstrings are
                # split per-line but every line carries the WHOLE docstring's
                # span, so the slice contains (not equals) the line text
                assert seg_text in text[start:end]
            else:
                # for other code-family segments the span slice IS the text
                assert text[start:end] == seg_text


@settings(max_examples=150, deadline=None)
@given(text=st.text(max_size=120))
def test_sentences_invariants(text):
    sents = split_sentences(text)
    # sentences are non-blank, verbatim substrings, in input order
    assert all(s.strip() == s and s for s in sents)
    cursor = 0
    for s in sents:
        idx = text.find(s, cursor)
        assert idx >= 0, (s, text)
        cursor = idx + len(s)


# --- rich-transcript span sources: arbitrary captions/cells/headers ---

_CELL = st.one_of(
    st.none(),
    st.text(alphabet="ab \t\nxyz0·é", max_size=8),
)
_CELLS = st.one_of(
    st.none(),
    st.lists(st.one_of(st.none(), st.lists(_CELL, max_size=4)), max_size=4),
)
_HEADERS = st.one_of(st.none(), st.lists(_CELL, max_size=4))


# --- end-to-end extraction vs the golden oracle on adversarial payloads ---

_PAYLOAD = st.lists(_ALPHA, max_size=80).map("".join)
_TOOL = st.sampled_from([None, "python", "cpp", "bash", "json", "markdown"])
_TURN = st.tuples(_PAYLOAD, _TOOL, _CELL, _CELLS, _HEADERS)
_CFG = st.sampled_from([("identity", False), ("marker", False), ("marker", True)])


@settings(max_examples=12, deadline=None)
@given(turns=st.lists(_TURN, min_size=1, max_size=6), cfg=_CFG)
def test_extraction_matches_golden_on_arbitrary_payloads(spark, turns, cfg):
    """For ARBITRARY structured payloads with optional caption/cells/
    headers, under each map engine and sentence mode: the extraction plan
    and the pure-Python golden oracle agree byte-for-byte — the strongest
    end-to-end invariant of the engine."""
    from docling_translate_spark.golden import extract_turn
    from docling_translate_spark.operators.extract import ExtractConfig, extract_turns
    from docling_translate_spark.schema import RICH_TRANSCRIPT_SCHEMA

    engine, sentence_split = cfg
    rows = [
        ("conv-h", i, "user", text, tool, None, cap, cells, headers)
        for i, (text, tool, cap, cells, headers) in enumerate(turns)
    ]
    df = spark.createDataFrame(rows, RICH_TRANSCRIPT_SCHEMA)
    out = {
        r["turn_idx"]: r
        for r in extract_turns(
            df, ExtractConfig(engine=engine, sentence_split=sentence_split)
        ).collect()
    }
    assert len(out) == len(turns)
    for i, (text, tool, cap, cells, headers) in enumerate(turns):
        exp = extract_turn(
            text, tool, engine, sentence_split,
            caption=cap, cells=cells, headers=headers,
        )
        got = out[i]
        assert got["extracted_text"] == exp["extracted_text"], (i, text)
        assert [tuple(s) for s in got["spans"]] == exp["spans"], (i, text)
        assert got["n_spans"] == exp["n_spans"], (i, text)
        assert round(got["boilerplate_ratio"], 12) == round(exp["boilerplate_ratio"], 12)


@settings(max_examples=300, deadline=None)
@given(caption=_CELL, cells=_CELLS, headers=_HEADERS)
def test_aux_span_collection_properties(caption, cells, headers):
    """For ARBITRARY caption/cells/headers (None, blanks, unicode): the
    collection keeps the reference order (caption, cells row-major,
    headers), drops exactly the blank/None entries, and never raises."""
    out = aux_span_texts(caption, cells, headers)
    # every emitted text is non-blank and appears in the inputs
    flat_inputs = [caption] + [
        c for row in (cells or []) if row is not None for c in row
    ] + list(headers or [])
    for kind, text in out:
        assert text.strip()
        assert text in [str(x) for x in flat_inputs if x is not None]
        assert kind in AUX_SEGMENT_TYPES
    # kinds appear in reference collection order
    kinds = [k for k, _ in out]
    assert kinds == sorted(kinds, key=AUX_SEGMENT_TYPES.index)
    # count equals the number of non-blank entries
    expected = (1 if caption is not None and str(caption).strip() else 0)
    expected += sum(
        1
        for row in (cells or [])
        if row is not None
        for c in row
        if c is not None and str(c).strip()
    )
    expected += sum(
        1 for h in (headers or []) if h is not None and str(h).strip()
    )
    assert len(out) == expected
