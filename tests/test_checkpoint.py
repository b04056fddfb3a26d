"""Checkpoint / lineage / resume semantics (FIXTURES.md §3):
crash mid-run, rerun, assert no duplicate (conv_id, turn_idx) rows and
full parity with the driver-side golden oracle; lineage rows equal what
their unit wrote; an unreadable checkpoint fails loudly."""

import math
import os
import tempfile

import pytest

from pyspark.sql import functions as F

from docling_translate_spark.golden import extract_turn
from docling_translate_spark.operators.extract import extract_turns
from docling_translate_spark.operators.metrics import conversation_rollup, stat_records
from docling_translate_spark.schema import TRANSCRIPT_SCHEMA
from docling_translate_spark.sources.checkpoint import (
    SimulatedFailure,
    committed_units,
    read_lineage,
    read_output,
    run_extraction,
)
from docling_translate_spark.synth import gen_rows


@pytest.fixture(scope="module")
def transcripts(spark):
    return spark.createDataFrame(gen_rows(30, 5), TRANSCRIPT_SCHEMA).cache()


def test_resume_after_crash(spark, transcripts):
    tmp = tempfile.mkdtemp(prefix="dts-ckpt-")
    out_dir, ckpt_dir = f"{tmp}/out", f"{tmp}/ckpt"

    with pytest.raises(SimulatedFailure):
        run_extraction(
            spark, transcripts, out_dir, ckpt_dir, run_id="r1",
            n_units=4, fail_after_units=2,
        )
    assert committed_units(spark, ckpt_dir, "r1") == {0, 1}

    # resume: only the remaining units run
    done = run_extraction(
        spark, transcripts, out_dir, ckpt_dir, run_id="r1", n_units=4
    )
    assert done == {2, 3}
    assert committed_units(spark, ckpt_dir, "r1") == {0, 1, 2, 3}

    out = read_output(spark, out_dir).collect()
    n = len(out)
    # idempotency: no duplicate turns
    assert len({(r["conv_id"], r["turn_idx"]) for r in out}) == n
    # parity with the driver-side golden oracle, turn by turn
    inputs = transcripts.collect()
    assert n == len(inputs)
    got = {(r["conv_id"], r["turn_idx"]): r for r in out}
    for t in inputs:
        exp = extract_turn(t["text"], t["tool"])
        row = got[(t["conv_id"], t["turn_idx"])]
        assert row["extracted_text"] == exp["extracted_text"]
        assert [tuple(s) for s in row["spans"]] == exp["spans"]
        assert row["n_spans"] == exp["n_spans"]
        assert math.isclose(
            row["boilerplate_ratio"], exp["boilerplate_ratio"], abs_tol=1e-12
        )

    # lineage rows: one per unit with sane metrics
    lin = read_lineage(spark, ckpt_dir).collect()
    assert len(lin) == 4
    assert sum(r["turns_processed"] for r in lin) == n
    assert all(r["run_id"] == "r1" for r in lin)


def test_rerun_noop(spark, transcripts):
    tmp = tempfile.mkdtemp(prefix="dts-ckpt2-")
    out_dir, ckpt_dir = f"{tmp}/out", f"{tmp}/ckpt"
    first = run_extraction(spark, transcripts, out_dir, ckpt_dir, "r1", n_units=3)
    assert first == {0, 1, 2}
    again = run_extraction(spark, transcripts, out_dir, ckpt_dir, "r1", n_units=3)
    assert again == set()  # fully committed → nothing to do


def test_lineage_equals_unit_output(spark):
    """Each lineage row holds exactly what its unit wrote: turns_processed
    is the unit's row count and spans_emitted its sum(n_spans). With more
    units than conversations some unit receives nothing and still commits
    a zero row."""
    df = spark.createDataFrame(gen_rows(3, 4), TRANSCRIPT_SCHEMA)
    tmp = tempfile.mkdtemp(prefix="dts-ckpt3-")
    out_dir, ckpt_dir = f"{tmp}/out", f"{tmp}/ckpt"
    n_units = 8
    assert run_extraction(spark, df, out_dir, ckpt_dir, "r1", n_units=n_units) == set(
        range(n_units)
    )
    written = {
        r["unit"]: (r["n"], r["s"])
        for r in read_output(spark, out_dir)
        .groupBy("unit")
        .agg(F.count("*").alias("n"), F.sum("n_spans").alias("s"))
        .collect()
    }
    lin = {r["partition_id"]: r for r in read_lineage(spark, ckpt_dir).collect()}
    assert set(lin) == set(range(n_units))
    assert len(written) < n_units  # at least one empty unit
    for u, r in lin.items():
        n, s = written.get(u, (0, 0))
        assert (r["turns_processed"], r["spans_emitted"]) == (n, s), u
    assert sum(r["turns_processed"] for r in lin.values()) == df.count()


def test_corrupt_checkpoint_raises(spark, transcripts):
    """A checkpoint that exists but cannot be read must fail the job, not
    silently reprocess every unit."""
    tmp = tempfile.mkdtemp(prefix="dts-ckpt4-")
    ckpt_dir = f"{tmp}/ckpt"
    os.makedirs(ckpt_dir)
    with open(f"{ckpt_dir}/part-00000.parquet", "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="parquet|Parquet|footer"):
        run_extraction(spark, transcripts, f"{tmp}/out", ckpt_dir, "r1", n_units=2)
    assert not os.path.exists(f"{tmp}/out")


def test_missing_checkpoint_is_empty(spark):
    tmp = tempfile.mkdtemp(prefix="dts-ckpt5-")
    assert committed_units(spark, f"{tmp}/absent", "r1") == set()
    os.makedirs(f"{tmp}/torn/_temporary")  # crash during the first append
    assert committed_units(spark, f"{tmp}/torn", "r1") == set()


def test_conversation_rollup_salted(spark, transcripts):
    ext = extract_turns(transcripts).cache()
    rolled = {r["conv_id"]: r for r in conversation_rollup(ext).collect()}
    plain = {
        r["conv_id"]: r
        for r in ext.groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("n_spans").alias("n_spans"),
        )
        .collect()
    }
    assert set(rolled) == set(plain)
    for cid, r in rolled.items():
        assert r["n_turns"] == plain[cid]["n_turns"]
        assert r["n_spans"] == plain[cid]["n_spans"]
        assert 0.0 <= r["boilerplate_ratio"] <= 1.0


def test_stat_records(spark, transcripts):
    ext = extract_turns(transcripts)
    stats = {r["metric"]: r["count"] for r in stat_records(ext).collect()}
    assert stats["turns_processed"] == transcripts.count()
    assert stats["spans_emitted"] > 0
    assert stats["chars_extracted"] > 0
