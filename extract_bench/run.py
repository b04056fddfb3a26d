"""Extraction benchmark: one seeded workload, one measured run.

    python3 extract_bench/run.py --workload synth_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The harness

1. writes the workload's input parquet from ``--seed`` (``workloads.py``);
2. computes the expected output digests from ``golden.extract_turn`` in a
   process pool (``expected.py``), outside the measured process;
3. starts the measured process (``child.py``), a fresh Spark driver at
   ``local[nproc/2]``, and samples the memory of its process tree;
4. checks every timed pass against the expected digests, stops whatever
   the children left running, and prints one JSON line per section:
   host facts and noise diagnostics first, the result last.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` runs the layer ladder instead and reports the per-layer
metrics, with the spans written to ``extract_bench/_out/``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import procfs  # noqa: E402
from expected import by_unit, expected_digests, pool_size  # noqa: E402
from workloads import WORKLOADS, rows_for, write_parquet  # noqa: E402

MB = 1e6
PR_SET_CHILD_SUBREAPER = 36


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def child_env(root: str, work: str) -> dict:
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_DRIVER_MEM="1g",
        TMPDIR=os.path.join(work, "tmp"),
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
    )
    return env


def stop_tree(seen: dict[int, int]) -> None:
    """Kill every process of ``seen`` that still runs and wait until all
    are gone; orphans were re-parented to this process (sub-reaper)."""
    deadline = time.time() + 30
    while True:
        left = procfs.alive(seen)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while True:  # reap our own re-parented children
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        if not left:
            return
        if time.time() > deadline:
            raise RuntimeError(f"processes outlived the run: {left}")
        time.sleep(0.1)


def run_child(args: list[str], env: dict, timeout: float) -> procfs.TreeSampler:
    cmd = [sys.executable, os.path.join(HERE, "child.py"), *args,
           "--t-spawn", repr(time.time())]
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.DEVNULL)
    sampler = procfs.TreeSampler(proc.pid)
    sampler.start()
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        sampler.stop()
        sampler.seen.update(procfs.tree(proc.pid))
        stop_tree(sampler.seen)
        proc.wait()
    if rc != 0:
        raise RuntimeError(f"measured process failed (exit {rc}): {' '.join(cmd)}")
    return sampler


# ----------------------------------------------------------------- checks


def check_checkpoint_pass(p: dict, exp_units: dict, n_units: int) -> int:
    """Number of commit units of one checkpointed pass that are correct:
    output digest as expected, lineage totals equal to the output's
    counts, every unit processed once and an empty resume."""
    lineage = {str(u): (t, s) for u, t, s in p["lineage"]}
    whole = p["resume"] == [] and p["done"] == list(range(n_units))
    ok = 0
    for u, (n, h, spans) in exp_units.items():
        got = p["units"].get(u, {"digest": [0, 0], "n_spans": 0})
        ok += (
            whole
            and got["digest"] == [n, h]
            and lineage.get(u) == (n, spans)
            and got["n_spans"] == spans
        )
    return ok


def e2e_metrics(w, res: dict, exp: dict, n_turns: int, sampler) -> tuple:
    passes = res["passes"]
    walls = [p["wall"] for p in passes]
    covered = True
    if w.checkpoint:
        exp_units = by_unit(exp["convs"], res["unit_of"])
        covered = set(res["unit_of"]) == set(exp["convs"])
        units = [s for p in passes for s in p["unit_s"]]
        attempted = len(passes) * len(exp_units)
        ok = sum(check_checkpoint_pass(p, exp_units, w.n_units) for p in passes)
        out_per_turn = statistics.median(p["out_bytes"] for p in passes) / n_turns
    else:
        units = walls
        attempted = len(passes)
        ok = sum(p["digest"] == exp["all"][:2] for p in passes)
        out_per_turn = res["warmup"]["out_bytes_per_turn"]
    metrics = {
        "turns_per_s": (n_turns / statistics.median(walls), "1/s"),
        "unit_s_p50": (statistics.median(units), "s"),
        "setup_s": (res["setup_s"], "s"),
        "peak_rss_mb": (sampler.peak_rss / MB, "MB"),
        "cpu_s_per_mturn": (
            res["counters"]["tree_cpu_s"] / (n_turns * len(passes) / 1e6), "s"
        ),
        "success_rate": (ok / attempted, "ratio"),
        "out_bytes_per_turn": (out_per_turn, "B"),
    }
    diag = {"passes": len(passes), "pass_s": walls,
            "pass_steal_s": [p["steal_s"] for p in passes], "unit_samples": len(units),
            "unit_s": units}
    return metrics, attempted, attempted - ok, covered and ok == attempted, diag


def trace_metrics(w, res: dict, exp: dict, n_turns: int) -> tuple:
    lad, med, cnt = res["ladder"], res["span_s"], res["counts"]
    ck = res["checkpoint"]
    scan, arrow, fused = med["scan"], med["arrow"], med["extract.fused"]
    exp_units = by_unit(exp["convs"], res["unit_of"])
    fused_ok = sum(p["digest"] == exp["all"][:2] for p in res["passes"])
    unit_ok = check_checkpoint_pass(ck, exp_units, w.n_units)
    attempted = len(res["passes"]) + len(exp_units)
    c = res["counters"]

    def self_s(name):
        return lad[name]["self_s"]

    metrics = {
        "session.build_s": (med["session.build"], "s"),
        "session.first_job_s": (med["session.first_job"], "s"),
        "scan.s": (scan, "s"),
        "arrow.in_out_s": (arrow - scan, "s"),
        "extract.fused_s": (fused, "s"),
        "extract.body_s": (fused - arrow, "s"),
        "extract.relational_s": (med["extract.relational"], "s"),
        "extract.relational_parquet_s": (med["extract.relational_parquet"], "s"),
        "segmenters.segment_s": (self_s("segmenters"), "s"),
        "segmenters.spans": (cnt["spans"], "count"),
        "classify.classify_s": (self_s("classify"), "s"),
        "classify.formula_hits": (cnt["formula"], "count"),
        "classify.boilerplate_hits": (cnt["boilerplate"], "count"),
        "sentences.split_s": (self_s("sentences"), "s"),
        "sentences.count": (cnt["sentences"], "count"),
        "extract_map.map_s": (self_s("extract_map"), "s"),
        "extract_map.unique_texts": (cnt["unique"], "count"),
        "extract_map.total_texts": (cnt["total"], "count"),
        "extract_map.dedup_ratio": (cnt["unique"] / max(cnt["total"], 1), "ratio"),
        "checkpoint.run_s": (med["checkpoint.run"], "s"),
        "checkpoint.overhead_s": (
            med["checkpoint.run"] - med["extract.relational_parquet"], "s"
        ),
        "checkpoint.resume_s": (med["checkpoint.resume"], "s"),
        "checkpoint.out_bytes": (ck["out_bytes"], "B"),
        "checkpoint.out_files": (ck["out_files"], "count"),
        "checkpoint.lineage_rows": (len(ck["lineage"]), "count"),
        "jvm.gc_s": (c["gc_s"], "s"),
        "host.steal_s": (c["host_steal_s"], "s"),
        "host.cpu_s": (c["host_cpu_s"], "s"),
        "trace.overhead_frac": (
            med["pass.traced"] / statistics.median(res["plain_pass_s"]) - 1, "ratio"
        ),
    }
    ok = fused_ok + unit_ok
    diag = {"ladder": lad, "span_median_s": med, "counts": cnt}
    return metrics, attempted, attempted - ok, ok == attempted, diag


# ------------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import pyspark

    # orphans of the measured process re-parent here, so none escapes
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                      ctypes.c_ulong, ctypes.c_ulong]
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")

    w = WORKLOADS[args.workload]
    work = os.path.join(HERE, "_work", f"{w.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = max(1, nproc() // 2)
    phase = {"start": time.time()}
    try:
        rows = rows_for(w, args.seed)
        inp = os.path.join(work, "input")
        write_parquet(rows, inp)
        phase["input"] = time.time()
        exp = expected_digests(rows, w.engine, w.sentence_split, pool_size())
        phase["expected"] = time.time()
        n_turns = len(rows)
        del rows

        env = child_env(ROOT, work)
        common = ["--workload", w.name, "--input", inp, "--work", work,
                  "--cores", str(cores)]
        out = os.path.join(work, "result.json")
        mode = "trace" if args.trace else "run"
        sampler = run_child(
            ["--mode", mode, "--out", out, "--seconds", str(args.seconds), *common],
            env, 160,
        )
        phase["measured"] = time.time()
        with open(out) as f:
            res = json.load(f)
        if args.trace:
            metrics, attempted, failed, correct, diag = trace_metrics(w, res, exp, n_turns)
            os.makedirs(os.path.join(HERE, "_out"), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(HERE, "_out", f"spans-{w.name}-{args.seed}.json"))
        else:
            metrics, attempted, failed, correct, diag = e2e_metrics(
                w, res, exp, n_turns, sampler
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        # whatever else this run started (e.g. the pool's resource tracker)
        me = os.getpid()
        stop_tree({p: t for p, t in procfs.tree(me).items() if p != me})

    c = res["counters"]
    print(json.dumps({"host": {
        "workload": w.name, "seed": args.seed, "nproc": nproc(),
        "parallelism": f"local[{cores}]", "pyspark": pyspark.__version__,
        "python": sys.version.split()[0], "turns": n_turns,
        "setup_s": res["setup_s"],
        "steal_s": c["host_steal_s"], "host_cpu_s": c["host_cpu_s"],
        "tree_cpu_s": c["tree_cpu_s"], "gc_s": c["gc_s"],
        "phase_s": {k: t - phase["start"] for k, t in {**phase, **res["phase_t"]}.items()},
        **diag,
    }}))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
