"""Seeded workload inputs, written as parquet the program then reads.

Every workload is a pure function of ``(name, seed)``: the same seed gives
byte-identical parquet files, another seed changes the text but keeps the
format mix and the size distribution. The program under test only ever
sees the generated parquet directory.

* ``synth_mix``      short transcript turns in the 12 payload families of
                     ``docling_translate_spark.synth`` with skewed
                     conversation lengths; conversation ids carry the seed,
                     so every per-turn hash (and so every text) changes
                     with it. The turn count is fixed exactly.
* ``long_docs``      document-length turns (tens of KB, a hundred or more
                     spans each): headings, prose whose sentences are
                     partly drawn from a pool shared across documents,
                     running page headers and footers, formulas, tables
                     and, in half the documents, a fenced code block.
* ``checkpoint_job`` the ``synth_mix`` shape at its own size, run through
                     the checkpointed CLI job.
"""

from __future__ import annotations

import datetime as _dt
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from docling_translate_spark import synth

# Eight equal slices keep the bytes deterministic and let the traced run
# read a fixed quarter of the input. The slice count does not set the
# scan task count: Spark packs small files into about defaultParallelism
# splits (two at local[2]).
N_FILES = 8

INPUT_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass(frozen=True)
class Workload:
    name: str
    shape: str                  # 'synth' | 'docs'
    size: int                   # turns ('synth') or documents ('docs')
    engine: str = "identity"
    sentence_split: bool = False
    checkpoint: bool = False    # run through sources.checkpoint.run_extraction
    n_units: int = 2            # commit units per checkpointed pass


# Why each workload exists is recorded in BENCHMARK.json and README.md.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("synth_mix", "synth", 120_000),
        Workload("long_docs", "docs", 480, engine="normalize", sentence_split=True),
        Workload("checkpoint_job", "synth", 40_000, checkpoint=True),
    )
}


# --------------------------------------------------------------- synth_mix


def synth_rows(seed: int, n_turns: int) -> list[tuple]:
    """Exactly ``n_turns`` synth transcript rows for ``seed``."""
    rows: list[tuple] = []
    i = 0
    while len(rows) < n_turns:
        cid = f"s{seed}-{i:06d}"
        n = min(synth.conv_length(cid, 8), n_turns - len(rows))
        rows.extend(synth.gen_turn(cid, t) for t in range(n))
        i += 1
    return rows


# --------------------------------------------------------------- long_docs

_VOCAB = (
    "partition executor shuffle column vector schema planner codegen "
    "broadcast window aggregate stream snapshot ledger index catalog "
    "pipeline segment sentence document payload runtime latency memory "
    "throughput estimate sample measure record result method section "
    "figure table formula model corpus token boundary reader writer"
).split()
_ABBREV_BITS = ("e.g.", "i.e.", "Fig. 3", "Dr. Smith", "approx.", "vs.", "U.S.")
_ENDS = ".", ".", ".", "?", "!"


def _sentence(rng: random.Random) -> str:
    words = [rng.choice(_VOCAB) for _ in range(rng.randint(6, 16))]
    if rng.random() < 0.15:
        words.insert(rng.randint(1, len(words) - 1), rng.choice(_ABBREV_BITS))
    if rng.random() < 0.2:
        words.append(f"{rng.randint(1, 999)}.{rng.randint(0, 9)}")
    return " ".join(words).capitalize() + rng.choice(_ENDS)


def _heading(rng: random.Random, markdown: bool, n: int) -> str:
    title = " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(2, 5))).title()
    return f"{'#' * rng.randint(1, 3)} {title}" if markdown else f"Section {n}: {title}"


def _chrome(rng: random.Random, page: int) -> str:
    k = rng.randrange(4)
    if k == 0:
        return f"Page {page} of 60"
    if k == 1:
        return f"{page}"
    if k == 2:
        return "© 2024 ExampleCorp. All rights reserved."
    return "CONFIDENTIAL - internal draft\n" + "-" * rng.randint(3, 12)


def _formula(rng: random.Random) -> str:
    a, b = rng.randint(1, 9), rng.randint(1, 9)
    return rng.choice(
        (
            f"E_{{{a}}} &= \\frac{{x^{{{b}}}}}{{\\sum_j x_j}}",
            f"\\int_0^{{{a}}} f(t)\\,dt = {b}",
            f"y_{{{a}}} = \\alpha x^{{{b}}} + \\beta",
        )
    )


def _table(rng: random.Random) -> str:
    rows = ["| metric | value | note |", "|---|---|---|"]
    for r in range(rng.randint(2, 6)):
        rows.append(f"| {rng.choice(_VOCAB)} | {rng.randint(0, 99999)} | row {r} |")
    return "\n".join(rows)


def _document(rng: random.Random, pool: list[str]) -> str:
    markdown = rng.random() < 0.5
    paras = [_heading(rng, markdown, 0)]
    page = rng.randint(1, 5)
    for i in range(rng.randint(70, 150)):
        r = rng.random()
        if r < 0.08:
            paras.append(_heading(rng, markdown, i))
        elif r < 0.16:
            paras.append(_chrome(rng, page))
            page += 1
        elif r < 0.21:
            paras.append(_formula(rng))
        elif r < 0.25:
            paras.append(_table(rng))
        else:
            sents = [
                rng.choice(pool) if rng.random() < 0.35 else _sentence(rng)
                for _ in range(rng.randint(2, 6))
            ]
            sep = "\n" if rng.random() < 0.2 else " "
            paras.append(sep.join(sents))
    if markdown:
        at = rng.randint(1, len(paras) - 1)
        paras.insert(at, "```python\nfor i in range(3):\n    print(i)\n```")
    return "\n\n".join(paras)


def doc_rows(seed: int, n_docs: int) -> list[tuple]:
    """``n_docs`` one-turn documents; sentences are shared via a pool."""
    rng = random.Random(f"long_docs:{seed}")
    pool = [_sentence(rng) for _ in range(3000)]
    rows = []
    for d in range(n_docs):
        cid = f"d{seed}-{d:05d}"
        text = _document(rng, pool)
        rows.append((cid, 0, "user", text, "", synth._EPOCH + _dt.timedelta(seconds=d)))
    return rows


# ------------------------------------------------------------------ output


def rows_for(w: Workload, seed: int) -> list[tuple]:
    if w.shape == "synth":
        return synth_rows(seed, w.size)
    return doc_rows(seed, w.size)


def write_parquet(rows: list[tuple], out_dir: str) -> None:
    """Write ``rows`` as ``N_FILES`` near-equal slices (deterministic
    bytes); a slice ends at a conversation boundary, so any set of files
    holds whole conversations."""
    os.makedirs(out_dir, exist_ok=True)
    cols = list(zip(*rows))
    ts = [t.replace(tzinfo=_dt.timezone.utc) for t in cols[5]]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip((*cols[:5], ts), INPUT_SCHEMA)],
        schema=INPUT_SCHEMA,
    )
    cuts = _conv_cuts(cols[0], N_FILES)
    for k in range(N_FILES):
        part = table.slice(cuts[k], cuts[k + 1] - cuts[k])
        pq.write_table(part, os.path.join(out_dir, f"part-{k:02d}.parquet"))


def quarter_files(inp: str) -> list[str]:
    """The first quarter of the input files."""
    return [os.path.join(inp, f"part-{k:02d}.parquet") for k in range(N_FILES // 4)]


def _conv_cuts(conv_ids, n: int) -> list[int]:
    step = -(-len(conv_ids) // n)
    cuts = [0]
    for k in range(1, n):
        i = max(k * step, cuts[-1])
        while 0 < i < len(conv_ids) and conv_ids[i] == conv_ids[i - 1]:
            i += 1
        cuts.append(i)
    return cuts + [len(conv_ids)]
