"""The benchmark's own tests.

    python3 -m pytest extract_bench/tests -q -p no:cacheprovider

They check the digest (Spark side equals the golden side, one changed
character fails it), the seeded inputs, that every printed metric is
declared in ``BENCHMARK.json``, and that no Spark or Python-worker process
outlives a run. The Spark tests take about a minute on a 4-core host.
"""

from __future__ import annotations

import dataclasses
import filecmp
import json
import os
import subprocess
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
from digest import golden_row_hash, row_hash, canonical_row  # noqa: E402
from expected import by_unit, expected_digests  # noqa: E402
from workloads import WORKLOADS, rows_for, write_parquet  # noqa: E402

from docling_translate_spark.golden import extract_turn  # noqa: E402
from docling_translate_spark.segmenters import detect_format  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ digest


def test_one_changed_character_changes_the_row_hash():
    text, tool = "Para one.\n\nPage 3 of 12\n\nPara two.", ""
    exp = extract_turn(text, tool)
    h = golden_row_hash("c1", 0, exp)
    assert h == golden_row_hash("c1", 0, dict(exp))
    for field, value in (
        ("extracted_text", exp["extracted_text"][:-1] + "!"),
        ("spans", [exp["spans"][0][:4] + (exp["spans"][0][4] + 1,), *exp["spans"][1:]]),
        ("boilerplate_ratio", exp["boilerplate_ratio"] + 1e-9),
    ):
        assert golden_row_hash("c1", 0, {**exp, field: value}) != h, field
    assert golden_row_hash("c2", 0, exp) != h
    assert golden_row_hash("c1", 1, exp) != h


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from docling_translate_spark.plans.session import build_session

    tmp = tmp_path_factory.mktemp("spark")
    s = build_session(
        app_name="extract-bench-test",
        master="local[1]",
        extra_conf={"spark.sql.warehouse.dir": str(tmp / "wh"),
                    "spark.local.dir": str(tmp / "local")},
    )
    yield s
    s.stop()


def test_spark_digest_equals_golden_and_catches_one_character(spark, tmp_path):
    from pyspark.sql import functions as F

    from child import unit_map
    from digest import spark_digest
    from docling_translate_spark.operators.extract import (
        ExtractConfig,
        extract_turns_fused,
    )
    from docling_translate_spark.sources.checkpoint import unit_col

    rows = rows_for(WORKLOADS["synth_mix"], 3)[:400]
    write_parquet(rows, str(tmp_path / "in"))
    exp = expected_digests(rows, "identity", False, procs=1)
    inp = spark.read.parquet(str(tmp_path / "in"))
    out = extract_turns_fused(inp, ExtractConfig())
    n, h, spans = spark_digest(out)[None]
    assert [n, h, spans] == exp["all"]

    victim = rows[5][0]
    corrupt = out.withColumn(
        "extracted_text",
        F.when(
            (F.col("conv_id") == victim) & (F.col("turn_idx") == 5),
            F.concat(F.col("extracted_text"), F.lit("x")),
        ).otherwise(F.col("extracted_text")),
    )
    assert list(spark_digest(corrupt)[None][:2]) != exp["all"][:2]

    # per-unit expected digests, grouped by the program's own unit column
    got = spark_digest(out.withColumn("unit", unit_col(4)), by="unit")
    want = by_unit(exp["convs"], unit_map(inp, 4))
    assert len(want) > 1
    assert {str(u): list(v) for u, v in got.items()} == want


def test_canonical_row_escapes_like_spark_to_json():
    s = canonical_row("c", 0, "t", [(0, 1, "prose", True, 1)], 1, 0.0)
    assert '[{"start_pos":0,"end_pos":1,"segment_type":"prose","translatable":true,"line_number":1}]' in s
    assert row_hash(s) < 1 << 60


# -------------------------------------------------------------------- seed


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_bytes_other_seed_same_shape(name, tmp_path):
    w = WORKLOADS[name]
    if w.shape == "docs":
        w = dataclasses.replace(w, size=200)
    a, b, c = (tmp_path / "a", tmp_path / "b", tmp_path / "c")
    rows_a = rows_for(w, 11)
    write_parquet(rows_a, str(a))
    write_parquet(rows_for(w, 11), str(b))
    rows_c = rows_for(w, 12)
    write_parquet(rows_c, str(c))
    names = sorted(os.listdir(a))
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    assert any(not filecmp.cmp(a / n, c / n, shallow=False) for n in names)
    # every file holds whole conversations
    import pyarrow.parquet as pq

    per_file = [set(pq.read_table(a / n, columns=["conv_id"]).column(0).to_pylist())
                for n in names]
    assert sum(map(len, per_file)) == len(set().union(*per_file))

    texts_a = {r[3] for r in rows_a}
    assert len(texts_a & {r[3] for r in rows_c}) < 0.1 * len(texts_a)
    if w.shape == "synth":
        assert len(rows_a) == len(rows_c) == w.size
    else:
        assert len(rows_a) == len(rows_c)

    def mix(rows):
        fams = Counter(detect_format(r[3], r[4] or None) for r in rows)
        return {k: v / len(rows) for k, v in fams.items()}

    ma, mc = mix(rows_a), mix(rows_c)
    assert set(ma) == set(mc)
    assert all(abs(ma[k] - mc[k]) < 0.1 for k in ma)
    mean_a = sum(len(r[3]) for r in rows_a) / len(rows_a)
    mean_c = sum(len(r[3]) for r in rows_c) / len(rows_c)
    assert abs(mean_a - mean_c) < 0.1 * mean_a


# ----------------------------------------------------------------- metrics


def _fake_trace_result() -> dict:
    names = ["session.build", "session.first_job", "scan", "arrow", "extract.fused",
             "pass.traced", "extract.relational", "extract.relational_parquet",
             "checkpoint.run", "checkpoint.resume", "segmenters", "classify",
             "sentences", "extract_map"]
    ck = {"resume": [], "done": [0], "lineage": [[0, 1, 2]], "out_bytes": 10,
          "out_files": 1, "units": {"0": {"digest": [1, 7], "n_spans": 2}}}
    return {
        "unit_of": {"c": 0},
        "ladder": {n: {"calls": 1, "total_s": 1.0, "self_s": 1.0} for n in names},
        "span_s": dict.fromkeys(names, 1.0),
        "counts": dict.fromkeys(
            ("spans", "formula", "boilerplate", "sentences", "unique", "total"), 1
        ),
        "checkpoint": ck,
        "passes": [{"digest": [1, 7]}],
        "plain_pass_s": [1.0],
        "counters": dict.fromkeys(("tree_cpu_s", "host_cpu_s", "host_steal_s", "gc_s"), 1.0),
    }


def test_trace_metrics_are_the_declared_per_layer_metrics():
    w = dataclasses.replace(WORKLOADS["checkpoint_job"], n_units=1)
    exp = {"all": [1, 7, 2], "convs": {"c": [1, 7, 2]}}
    metrics, attempted, failed, correct, _ = run.trace_metrics(w, _fake_trace_result(), exp, 1)
    declared = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert {k: u for k, (_, u) in metrics.items()} == declared
    assert (attempted, failed, correct) == (2, 0, True)


def test_benchmark_json_follows_the_contract():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in b["workloads"])
    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in b["end_to_end"])}]
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])


# --------------------------------------------------------------- end to end


def _processes_touching(path: str) -> list[int]:
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        for part in ("cmdline", "environ"):
            try:
                with open(f"/proc/{pid}/{part}", "rb") as f:
                    if path.encode() in f.read():
                        found.append(int(pid))
                        break
            except OSError:
                pass
    return found


def test_one_run_prints_declared_metrics_and_leaves_no_process():
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "synth_mix",
         "--seed", "5", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0
    declared = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == declared
    assert last["metrics"]["success_rate"]["value"] == 1.0
    assert _processes_touching(os.path.join(HERE, "_work")) == []
