"""Span sources beyond the body text.

A turn may carry a figure/table caption and table cells + column headers
next to its body. The reference pools them into the sentence set whole
(``src/core.py:429-448``): never re-segmented, never re-classified. The
extraction kernel (:mod:`docling_translate_spark.operators.extract`)
appends them after the body spans, with ``-1`` positions (they have no
offsets in the body text).
"""

from __future__ import annotations

AUX_SEGMENT_TYPES = ("caption", "table_cell", "table_header")


def aux_span_texts(caption, cells, headers) -> list[tuple[str, str]]:
    """Caption + table-cell + column-header texts in the reference's
    collection order (src/core.py:429-448): the caption first, then data
    cells row-major (``df.values.flatten()``), then column headers;
    blank/None entries dropped."""
    out: list[tuple[str, str]] = []
    if caption is not None and str(caption).strip():
        out.append(("caption", str(caption)))
    if cells is not None:
        for row in cells:
            if row is None:
                continue
            for c in row:
                if c is not None and str(c).strip():
                    out.append(("table_cell", str(c)))
    if headers is not None:
        for h in headers:
            if h is not None and str(h).strip():
                out.append(("table_header", str(h)))
    return out
