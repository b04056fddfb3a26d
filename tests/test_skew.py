"""Skew handling: a single hot conversation must not serialize one task.

Range partitioning on (conv_id, turn_idx) — the pair, not bare conv_id —
splits a million-turn conversation across partitions (extract.py scale
notes); the salted rollup then aggregates it without a hot reducer."""

import pytest

from pyspark.sql import functions as F

from docling_translate_spark.operators.extract import ExtractConfig, extract_turns
from docling_translate_spark.operators.metrics import conversation_rollup
from docling_translate_spark.schema import TRANSCRIPT_SCHEMA
from docling_translate_spark.synth import gen_turn


@pytest.fixture(scope="module")
def hot_transcripts(spark):
    rows = [gen_turn("conv-hot", t) for t in range(4000)]
    rows += [gen_turn(f"conv-{i:06d}", t) for i in range(20) for t in range(5)]
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).cache()


def test_range_partitioning_splits_hot_conversation(spark, hot_transcripts):
    parts = (
        hot_transcripts.repartitionByRange(8, "conv_id", "turn_idx")
        .filter(F.col("conv_id") == "conv-hot")
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    assert parts >= 4, f"hot conversation confined to {parts} partitions"


def test_hot_conversation_extraction_and_rollup(spark, hot_transcripts):
    """End-to-end over the skewed table: extraction preserves per-turn
    parity and the salted rollup aggregates the hot key correctly."""
    src = hot_transcripts.repartitionByRange(8, "conv_id", "turn_idx")
    ext = extract_turns(src, ExtractConfig()).cache()
    assert ext.count() == hot_transcripts.count()
    rolled = {r["conv_id"]: r for r in conversation_rollup(ext, salt_buckets=8).collect()}
    assert rolled["conv-hot"]["n_turns"] == 4000
    assert len(rolled) == 21
