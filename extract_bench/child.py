"""The measured process: one fresh Spark driver per invocation.

Modes:

* ``run``    set-up, an untimed warm-up in the same JVM, then timed
             passes until ``--seconds`` of pass time are measured and at
             least ``MIN_PASSES``. No spans.
* ``trace``  set-up and warm-up, then every layer of the workload once or
             twice, each call inside a span (see ``spans.py``).

The result (timings, digests, counters) goes to ``--out`` as JSON; the
harness (``run.py``) compares digests with the expected ones and turns
everything into metrics. Run it through ``run.py``, not by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import procfs  # noqa: E402
from digest import spark_digest  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS, quarter_files  # noqa: E402

from docling_translate_spark.operators.extract import (  # noqa: E402
    ExtractConfig,
    extract_turns,
    extract_turns_fused,
)
from docling_translate_spark.plans.session import build_session  # noqa: E402
from docling_translate_spark.sources.checkpoint import (  # noqa: E402
    read_output,
    run_extraction,
    unit_col,
)

FUSED_COLS = ["conv_id", "turn_idx", "text", "tool"]
RUN_ID = "bench"


def session(cores: int, work: str):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # bound the JVM's GC threads so one process stays near `cores` task
    # threads plus their Python workers. The JIT keeps its default thread
    # count: with two compiler threads the checkpointed passes ran ~15%
    # slower and were still speeding up by the third timed pass.
    jvm_opts = (
        f"-XX:ParallelGCThreads={cores} -XX:ConcGCThreads=1 "
        f"-Djava.io.tmpdir={tmp}"
    )
    spark = build_session(
        app_name="extract-bench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.extraJavaOptions": jvm_opts,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def first_job(spark) -> None:
    """Spawns the first Python worker."""
    df = spark.range(1, numPartitions=1)
    df.mapInPandas(lambda it: it, df.schema).collect()


def gc_s(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) of every file under ``path``."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return total, files


class Counters:
    """Process-tree CPU, host CPU/steal and JVM GC seconds, summed over
    the steps run inside :meth:`step`."""

    def __init__(self, spark):
        self.spark = spark
        self.tot = {"tree_cpu_s": 0.0, "host_cpu_s": 0.0, "host_steal_s": 0.0, "gc_s": 0.0}

    def _read(self):
        busy, steal = procfs.host_cpu()
        return procfs.tree_cpu_s(os.getpid()), busy, steal, gc_s(self.spark)

    @contextmanager
    def step(self):
        """Yields a dict that holds this step's deltas once it ends."""
        t0, delta = self._read(), {}
        yield delta
        for k, a, b in zip(self.tot, t0, self._read()):
            delta[k] = b - a
            self.tot[k] += b - a


# ------------------------------------------------------------------ passes


def fused_pass(df, cfg) -> list[int]:
    n, h, _ = spark_digest(extract_turns_fused(df, cfg))[None]
    return [n, h]


def checkpoint_pass(spark, df, cfg, n_units: int, d: str) -> dict:
    """One timed ``run_extraction`` into fresh directories; returns the
    start and end times for the unit times."""
    out, ckpt = os.path.join(d, "out"), os.path.join(d, "ckpt")
    t0 = time.time()
    done = run_extraction(spark, df, out, ckpt, RUN_ID, n_units=n_units, config=cfg)
    t1 = time.time()
    return {"wall": t1 - t0, "t0": t0, "t1": t1, "done": sorted(done), "dir": d}


def read_ckpt(ckpt: str) -> tuple[list[list[int]], list[float]]:
    """The lineage rows ``[unit, turns_processed, spans_emitted]`` and, in
    order, when each unit's row was written: the modification time of the
    checkpoint file that holds it (one append per unit)."""
    import pyarrow.parquet as pq

    cols = ["partition_id", "turns_processed", "spans_emitted"]
    rows, ends = [], {}
    for d, _, names in os.walk(ckpt):
        for n in names:
            if n.endswith(".parquet"):
                path = os.path.join(d, n)
                mtime = os.stat(path).st_mtime
                t = pq.read_table(path, columns=cols).to_pydict()
                for row in zip(*(t[c] for c in cols)):
                    rows.append(list(row))
                    ends[row[0]] = max(ends.get(row[0], 0.0), mtime)
    return sorted(rows), sorted(ends.values())


def checkpoint_check(spark, df, cfg, n_units: int, p: dict, resume_span=None) -> dict:
    """Checks of one checkpointed pass: the resume call (timed only inside
    ``resume_span``), per-unit output digests, lineage totals and the unit
    wall times. A unit's time runs from the end of the one before (the
    first from the pass start) to its lineage write; the last unit ends
    with the pass, so the unit times add up to the pass wall time."""
    out, ckpt = os.path.join(p["dir"], "out"), os.path.join(p["dir"], "ckpt")
    with resume_span or nullcontext():
        resume = run_extraction(spark, df, out, ckpt, RUN_ID, n_units=n_units, config=cfg)
    lineage, ends = read_ckpt(ckpt)
    stamps = [p["t0"], *ends[:-1], p["t1"]]
    digests = spark_digest(read_output(spark, out), by="unit")
    out_bytes, out_files = dir_bytes(out)
    ckpt_bytes, _ = dir_bytes(ckpt)
    return {
        "wall": p["wall"],
        "done": p["done"],
        "resume": sorted(resume),
        "unit_s": [b - a for a, b in zip(stamps, stamps[1:])],
        "units": {
            str(u): {"digest": list(v[:2]), "n_spans": v[2]} for u, v in digests.items()
        },
        "lineage": lineage,
        "out_bytes": out_bytes + ckpt_bytes,
        "out_files": out_files,
    }


def unit_map(df, n_units: int) -> dict[str, int]:
    """The commit unit the program assigns to each conversation of ``df``."""
    rows = df.select("conv_id", unit_col(n_units).alias("u")).distinct().collect()
    return {r["conv_id"]: r["u"] for r in rows}


# a median over at least three timed passes ignores one slow pass, e.g.
# the first checkpointed pass, which still pays for JIT compilation
MIN_PASSES = 3


def warm_up(spark, w, cfg, inp: str, work: str, relational: bool) -> dict:
    """Untimed work in this JVM before anything is measured.

    Fused workloads write the fused plan's output for the first quarter of
    the input as parquet, which gives the output size per turn, then run
    the timed pass once over the full input. The checkpointed job runs
    once over the first quarter with the timed job's commit units, so the
    plans it compiles are those the timed passes run (a unit's number is
    a literal in the plan). ``relational`` also warms the relational plan
    on the first quarter, for the traced run."""
    import pyarrow.parquet as pq

    d = os.path.join(work, "warm")
    df = spark.read.parquet(inp)
    quarter = quarter_files(inp)
    if relational:
        noop(extract_turns(spark.read.parquet(*quarter), cfg))
    if w.checkpoint:
        checkpoint_pass(spark, spark.read.parquet(*quarter), cfg, w.n_units, d)
        shutil.rmtree(d, ignore_errors=True)
        return {}
    extract_turns_fused(spark.read.parquet(*quarter), cfg).write.parquet(d)
    out_bytes, _ = dir_bytes(d)
    shutil.rmtree(d, ignore_errors=True)
    fused_pass(df, cfg)
    turns = sum(pq.ParquetFile(f).metadata.num_rows for f in quarter)
    return {"out_bytes_per_turn": out_bytes / turns}


def timed_passes(spark, w, cfg, inp: str, work: str, seconds: float) -> dict:
    df = spark.read.parquet(inp)
    unit_of = unit_map(df, w.n_units) if w.checkpoint else {}
    passes, measured = [], 0.0
    c = Counters(spark)
    while measured < seconds or len(passes) < MIN_PASSES:
        if w.checkpoint:
            d = os.path.join(work, f"pass-{len(passes)}")
            with c.step() as delta:
                p = checkpoint_pass(spark, df, cfg, w.n_units, d)
            rec = checkpoint_check(spark, df, cfg, w.n_units, p)
            shutil.rmtree(d, ignore_errors=True)
        else:
            with c.step() as delta:
                t0 = time.perf_counter()
                digest = fused_pass(df, cfg)
            rec = {"wall": time.perf_counter() - t0, "digest": digest}
        rec["steal_s"] = delta["host_steal_s"]
        passes.append(rec)
        measured += rec["wall"]
    return {"passes": passes, "counters": c.tot, "unit_of": unit_of}


# ------------------------------------------------------------------- trace


def driver_layers(tr: Tracer, inp: str, cfg, batch_rows: int) -> dict:
    """Single-threaded driver-side calls into the kernel modules over the
    same input, one span per module per batch of ``batch_rows`` turns."""
    import pyarrow.parquet as pq

    from docling_translate_spark.classify import (
        has_nul_byte,
        is_boilerplate_segment,
        is_formula,
    )
    from docling_translate_spark.extract_map import create_engine
    from docling_translate_spark.segmenters import segment_text
    from docling_translate_spark.sentences import split_sentences
    import pandas as pd

    fn = create_engine(cfg.engine)
    table = pq.read_table(inp, columns=["text", "tool"])
    texts, tools = table.column("text").to_pylist(), table.column("tool").to_pylist()
    n = dict.fromkeys(
        ("spans", "formula", "boilerplate", "sentences", "unique", "total"), 0
    )
    for lo in range(0, len(texts), batch_rows):
        with tr.span("driver.batch"):
            with tr.span("segmenters"):
                segs = [
                    segment_text(t, tool or None)
                    for t, tool in zip(texts[lo : lo + batch_rows], tools[lo : lo + batch_rows])
                    if t is not None and t.strip() and not has_nul_byte(t)
                ]
            flat = [s for turn in segs for s in turn]
            n["spans"] += len(flat)
            content = []
            with tr.span("classify"):
                for text, _, _, tr_flag, _, _ in flat:
                    if tr_flag and is_formula(text):
                        n["formula"] += 1
                    elif tr_flag and is_boilerplate_segment(text):
                        n["boilerplate"] += 1
                    elif tr_flag and text.strip():
                        content.append(text)
            with tr.span("sentences"):
                sents = [s for text in content for s in split_sentences(text)]
            n["sentences"] += len(sents)
            units = sents if cfg.sentence_split else content
            with tr.span("extract_map"):
                uniq = pd.Series(list(dict.fromkeys(units)), dtype="object")
                if len(uniq):
                    fn(uniq)
            n["unique"] += len(uniq)
            n["total"] += len(units)
    return n


def trace_run(spark, tr: Tracer, w, cfg, inp: str, work: str) -> dict:
    df = spark.read.parquet(inp)
    slim = df.select(*FUSED_COLS)
    result: dict = {"passes": []}
    for _ in range(2):
        with tr.span("scan"):
            noop(slim)
        with tr.span("arrow"):
            noop(slim.mapInPandas(lambda it: it, slim.schema))
        with tr.span("extract.fused"):
            noop(extract_turns_fused(df, cfg))
    # tracing overhead: the same digest pass with and without a span
    plain = []
    for _ in range(2):
        t0 = time.perf_counter()
        result["passes"].append({"digest": fused_pass(df, cfg)})
        plain.append(time.perf_counter() - t0)
        with tr.span("pass.traced"):
            result["passes"].append({"digest": fused_pass(df, cfg)})
    result["plain_pass_s"] = plain
    # the relational and checkpoint layers serve checkpoint_job; elsewhere
    # they run over the first quarter of the input (whole conversations)
    rel = df if w.checkpoint else spark.read.parquet(*quarter_files(inp))
    result["unit_of"] = unit_map(rel, w.n_units)
    with tr.span("extract.relational"):
        noop(extract_turns(rel, cfg))
    with tr.span("extract.relational_parquet"):
        extract_turns(rel, cfg).write.parquet(os.path.join(work, "rel"))
    shutil.rmtree(os.path.join(work, "rel"), ignore_errors=True)
    d = os.path.join(work, "ckpt-pass")
    with tr.span("checkpoint.run"):
        p = checkpoint_pass(spark, rel, cfg, w.n_units, d)
    result["checkpoint"] = checkpoint_check(
        spark, rel, cfg, w.n_units, p, resume_span=tr.span("checkpoint.resume")
    )
    shutil.rmtree(d, ignore_errors=True)
    batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    result["counts"] = driver_layers(tr, inp, cfg, batch_rows)
    return result


# -------------------------------------------------------------------- main


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("run", "trace"), required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--t-spawn", type=float, required=True)
    args = ap.parse_args()

    w = WORKLOADS[args.workload]
    cfg = ExtractConfig(engine=w.engine, sentence_split=w.sentence_split)
    tr = Tracer()
    with tr.span("session.build"):
        spark = session(args.cores, args.work)
    with tr.span("session.first_job"):
        first_job(spark)
    phase = {"setup": time.time()}
    res: dict = {"setup_s": phase["setup"] - args.t_spawn, "phase_t": phase}
    try:
        res["warmup"] = warm_up(
            spark, w, cfg, args.input, args.work, relational=args.mode == "trace"
        )
        phase["warm_up"] = time.time()
        if args.mode == "run":
            res.update(timed_passes(spark, w, cfg, args.input, args.work, args.seconds))
        elif args.mode == "trace":
            c = Counters(spark)
            with c.step(), tr.span("trace"):
                res.update(trace_run(spark, tr, w, cfg, args.input, args.work))
            res["counters"] = c.tot
            res["ladder"] = tr.ladder()
            res["span_s"] = {
                name: statistics.median(
                    s["end"] - s["start"] for s in tr.spans if s["name"] == name
                )
                for name in res["ladder"]
            }
            tr.write(os.path.join(args.work, "spans.json"))
        phase["timed"] = time.time()
    finally:
        spark.stop()
    phase["stopped"] = time.time()
    with open(args.out, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
