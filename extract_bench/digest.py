"""Order-independent digest of the extraction output, on both sides.

Every output row is rendered to one canonical string covering every output
column::

    conv_id ␟ turn_idx ␟ extracted_text ␟ to_json(spans) ␟ n_spans ␟
    trunc(boilerplate_ratio * 1e12)

The row hash is the first 60 bits of its SHA-256; the digest of a table is
``(row count, sum of row hashes)``. A sum does not depend on row order or
partitioning, and a change of one character in any row changes it.

The JVM side (:func:`spark_digest`) computes the digest inside the timed
pass; the Python side (:func:`row_hash`) computes the expected digest from
``golden.extract_turn`` outside it.
"""

from __future__ import annotations

import hashlib
import json

SEP = "\x1f"
HASH_HEX = 15  # 60 bits per row; sums stay exact in decimal(38, 0)
RATIO_SCALE = 1e12
_SPAN_KEYS = ("start_pos", "end_pos", "segment_type", "translatable", "line_number")


def canonical_row(
    conv_id: str,
    turn_idx: int,
    extracted_text: str,
    spans: list[tuple],
    n_spans: int,
    boilerplate_ratio: float,
) -> str:
    spans_json = json.dumps(
        [dict(zip(_SPAN_KEYS, s)) for s in spans],
        separators=(",", ":"),
        ensure_ascii=False,
    )
    return SEP.join(
        (
            conv_id,
            str(turn_idx),
            extracted_text,
            spans_json,
            str(n_spans),
            str(int(boilerplate_ratio * RATIO_SCALE)),
        )
    )


def row_hash(canonical: str) -> int:
    return int(hashlib.sha256(canonical.encode("utf-8")).hexdigest()[:HASH_HEX], 16)


def golden_row_hash(conv_id: str, turn_idx: int, expected: dict) -> int:
    """Hash of one ``golden.extract_turn`` result."""
    return row_hash(
        canonical_row(
            conv_id,
            turn_idx,
            expected["extracted_text"],
            expected["spans"],
            expected["n_spans"],
            expected["boilerplate_ratio"],
        )
    )


def row_hash_col():
    """The same row hash as a Spark column over EXTRACTED_SCHEMA rows."""
    from pyspark.sql import functions as F

    def s(c):
        return F.coalesce(c.cast("string"), F.lit("\x00"))

    canonical = F.concat_ws(
        SEP,
        s(F.col("conv_id")),
        s(F.col("turn_idx")),
        s(F.col("extracted_text")),
        s(F.to_json(F.col("spans"))),
        s(F.col("n_spans")),
        s((F.col("boilerplate_ratio") * F.lit(RATIO_SCALE)).cast("bigint")),
    )
    return F.conv(F.substring(F.sha2(canonical, 256), 1, HASH_HEX), 16, 10).cast(
        "decimal(38,0)"
    )


def spark_digest(df, by: str | None = None) -> dict:
    """``{group: (count, hash sum, sum of n_spans)}`` of ``df`` (one group
    ``None`` if ``by`` is not given). Runs one Spark job."""
    from pyspark.sql import functions as F

    keys = [by] if by else []
    rows = (
        df.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(row_hash_col()).alias("h"),
            F.sum("n_spans").alias("s"),
        )
        .collect()
    )
    return {
        (r[by] if by else None): (int(r["n"]), int(r["h"] or 0), int(r["s"] or 0))
        for r in rows
    }
