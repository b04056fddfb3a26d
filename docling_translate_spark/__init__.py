"""docling_translate_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the document-understanding core of
``gyunggyung/docling-translate`` (reference, read-only at /root/reference)
re-expressed Spark-first over transcript tables:

* segmentation of raw turn text into typed, offset-carrying spans
  (markdown / python / c-style / shell / config / plaintext families —
  semantics per reference ``src/text_parser.py``),
* content-vs-boilerplate classification (page header/footer drop per
  reference ``src/html_generator.py:617-619``; formula exemption per
  ``src/html_generator.py:20-45``),
* sentence tokenization, exact dedup of unique texts
  (reference ``src/core.py:453-455``), a deterministic batched map
  (the "translate" stage, reference ``src/translation/base.py``), and a
  lookup back by exact text (reference ``src/core.py:486``,
  ``src/html_generator.py:565-567``),
* per-turn reassembly in stable ``(conv_id, turn_idx)`` reading order
  (reference ``src/core.py:422``).

The whole per-turn pipeline runs as one Arrow-batched ``mapInPandas``
pass — never a per-row Python UDF, never a shuffle — so Catalyst still
handles pushdown and pruning around it.
"""

__version__ = "0.1.0"

from docling_translate_spark.schema import (  # noqa: F401
    TRANSCRIPT_SCHEMA,
    SPAN_SCHEMA,
    EXTRACTED_SCHEMA,
)
