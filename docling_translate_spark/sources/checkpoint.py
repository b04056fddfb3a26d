"""Checkpointed, idempotently-resumable extraction job.

North-rule requirement: each partition writes lineage + extraction-metrics
rows to a checkpoint table so the job resumes from the last committed unit
(the reference's closest analog is its output-directory history scan,
``src/utils.py:126-178``). In production this is an Iceberg table and its
snapshot log; in-sandbox the same semantics are emulated with parquet:

* the conversation space is hash-bucketed (``pmod(xxhash64(conv_id), n)``)
  into **commit units**;
* per unit: extraction output is written with *dynamic partition
  overwrite* (so re-processing a unit replaces, never duplicates), THEN
  the lineage row is appended to the checkpoint table;
* on restart, units present in the checkpoint are skipped. A unit that
  crashed between data-write and checkpoint-append is simply re-overwritten
  — write-then-commit ordering makes the pipeline idempotent, exactly the
  guarantee an Iceberg snapshot commit gives atomically.

Each unit is extracted ONCE: its lineage metrics are observed
(``DataFrame.observe``) on the very DataFrame being written, so the
commit row costs no second pass over the unit.

Skew note: hash-bucketing by conv_id spreads hot conversations' *units*
evenly; within a unit the extraction pipeline itself needs no salting
(see extract.py scale notes).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from docling_translate_spark.operators.extract import ExtractConfig, extract_turns
from docling_translate_spark.schema import LINEAGE_SCHEMA


class SimulatedFailure(RuntimeError):
    """Test hook: raised between unit commits to exercise resume."""


def unit_col(n_units: int):
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_units)).cast("int")


def committed_units(spark: SparkSession, ckpt_dir: str, run_id: str) -> set[int]:
    """Units already committed for this run (empty if no checkpoint yet).

    Only a checkpoint that does not exist yet — no path, or a directory
    holding no committed data file — means "nothing committed". Any other
    read failure (a corrupt file, a permission error) raises: silently
    reprocessing every unit would hide it."""
    try:
        ckpt = spark.read.parquet(ckpt_dir)
    except AnalysisException as e:
        if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return set()
        raise
    rows = (
        ckpt.filter(F.col("run_id") == run_id)
        .select("partition_id")
        .distinct()
        .collect()
    )
    return {r["partition_id"] for r in rows}


def read_lineage(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    return spark.read.parquet(ckpt_dir)


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    ckpt_dir: str,
    run_id: str,
    n_units: int = 16,
    config: ExtractConfig | None = None,
    fail_after_units: int | None = None,
) -> set[int]:
    """Run (or resume) the checkpointed extraction job.

    Returns the set of units processed by THIS invocation. Safe to call
    repeatedly: completed units are skipped via the checkpoint, and a
    torn unit (data written, checkpoint row missing) is overwritten
    in-place thanks to dynamic partition overwrite.
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    done = committed_units(spark, ckpt_dir, run_id)
    todo = [u for u in range(n_units) if u not in done]

    tagged = transcripts.withColumn("unit", unit_col(n_units))
    processed: set[int] = set()
    for i, u in enumerate(todo):
        if fail_after_units is not None and i >= fail_after_units:
            raise SimulatedFailure(f"simulated crash before unit {u}")
        obs = Observation()
        out = (
            extract_turns(tagged.filter(F.col("unit") == u), config)
            .withColumn("unit", F.lit(u))
            .observe(
                obs,
                F.min("conv_id").alias("conv_id_min"),
                F.max("conv_id").alias("conv_id_max"),
                F.count(F.lit(1)).alias("turns_processed"),
                F.sum("n_spans").cast("long").alias("spans_emitted"),
                F.avg("boilerplate_ratio").alias("boilerplate_ratio"),
            )
        )
        # 1) data write (replaces any torn previous attempt of this unit);
        #    the same pass fills the observed metrics
        out.write.partitionBy("unit").mode("overwrite").parquet(out_dir)
        m = obs.get
        # 2) lineage/metrics commit — unit becomes durable only here
        lineage = (
            run_id,
            u,
            m["conv_id_min"],
            m["conv_id_max"],
            m["turns_processed"] or 0,
            m["spans_emitted"] or 0,
            m["boilerplate_ratio"],
            datetime.now(),
        )
        spark.createDataFrame([lineage], LINEAGE_SCHEMA).write.mode("append").parquet(
            ckpt_dir
        )
        processed.add(u)
    return processed


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(out_dir)
