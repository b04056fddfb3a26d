"""Run-to-run spread report.

    python3 extract_bench/spread.py --workloads synth_mix checkpoint_job \
        --seeds 1 2 3 4 5 6 7 8 9 10 [--seconds S] [--json out.json]

Runs ``run.py`` once per (workload, seed), one after another, then prints
for each workload one row per run with the host-noise diagnostics (steal,
host CPU, process-tree CPU, GC) beside the end-to-end metrics, and per
metric the median and the spread: the distance between the first and third
quartile (``statistics.quantiles(n=4)``) as a share of the median, next to
the metric's bound from ``BENCHMARK.json``. High steal beside a slow run
points at a co-tenant, not at the program.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def one_run(workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, check=True, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["host"], json.loads(lines[-1])


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", nargs="+", type=int, default=list(range(1, 11)))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--json", help="also write every run's output here")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    record = {}
    for w in args.workloads:
        runs = []
        print(f"== {w}")
        print(f"{'seed':>5} {'steal_s':>8} {'host_cpu':>9} {'tree_cpu':>9} {'gc_s':>6}  metrics")
        for seed in args.seeds:
            host, res = one_run(w, seed, args.seconds)
            runs.append({"host": host, "result": res})
            vals = " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
            )
            print(f"{seed:>5} {host['steal_s']:>8.2f} {host['host_cpu_s']:>9.1f} "
                  f"{host['tree_cpu_s']:>9.1f} {host['gc_s']:>6.2f}  "
                  f"correct={res['correct']} {vals}", flush=True)
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            s = spread(vals) if len(vals) >= 2 else float("nan")
            flag = "" if s <= bound / 3 else ("  > bound/3" if s <= bound else "  > BOUND")
            print(f"   {name:<20} median={statistics.median(vals):<12.6g} "
                  f"spread={s:.4f} bound={bound}{flag}")
        record[w] = runs
    if args.json:
        with open(args.json, "w") as f:
            json.dump(record, f, indent=1)


if __name__ == "__main__":
    main()
