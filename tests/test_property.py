"""Property-based fuzzing with hypothesis: for ARBITRARY text, every
segmenter family must agree byte-for-byte with the reference's own
parser. Needs the reference tree and errors without it; the properties
that need no reference live in ``test_plan_properties.py``."""

import importlib.util
import sys

import pytest
from hypothesis import given, settings, strategies as st

from docling_translate_spark.segmenters import SEGMENTERS

REF_PATH = "/root/reference/src/text_parser.py"
spec = importlib.util.spec_from_file_location("ref_text_parser_prop", REF_PATH)
_ref = importlib.util.module_from_spec(spec)
sys.modules["ref_text_parser_prop"] = _ref
spec.loader.exec_module(_ref)
_REF_PARSER = _ref.TextFileParser()

_REF_FN = {
    "markdown": _REF_PARSER._parse_markdown,
    "python": _REF_PARSER._parse_python,
    "c_style": _REF_PARSER._parse_c_style,
    "shell": _REF_PARSER._parse_shell,
    "config": _REF_PARSER._parse_config,
    "plaintext": _REF_PARSER._parse_plaintext,
}

# text alphabet biased toward structure characters that trigger the
# segmenter regexes
_ALPHA = st.sampled_from(
    list("ab .\n#\"'`~/*\\{}^&=!123-_()") + ["```", '"""', "'''", "//", "/*", "*/", "\n\n", "#!"]
)
_TEXT = st.lists(_ALPHA, max_size=60).map("".join)


@pytest.mark.parametrize("family", sorted(SEGMENTERS))
@settings(max_examples=150, deadline=None)
@given(text=_TEXT)
def test_segmenter_matches_reference_on_arbitrary_text(family, text):
    mine = SEGMENTERS[family](text)
    ref = [
        (s.text, s.start_pos, s.end_pos, s.translatable, s.segment_type, s.line_number)
        for s in _REF_FN[family](text)
    ]
    assert mine == ref
