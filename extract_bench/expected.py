"""Expected output digests, computed from ``golden.extract_turn``.

This runs in the harness, never in the timed process: once per seed, in a
small process pool, before the measured process starts. Digests are kept
per conversation; the digest of a commit unit is the sum over the
conversations the program assigned to it (:func:`by_unit`, with the
assignment the measured process reads from ``checkpoint.unit_col``).
"""

from __future__ import annotations

import multiprocessing as mp
import os

from digest import golden_row_hash

_CFG: dict = {}


def _init(engine: str, sentence_split: bool) -> None:
    _CFG.update(engine=engine, sentence_split=sentence_split)


def _hash_chunk(rows: list[tuple]) -> list[tuple[str, int, int]]:
    from docling_translate_spark.golden import extract_turn

    out = []
    for conv_id, turn_idx, text, tool in rows:
        exp = extract_turn(text, tool, _CFG["engine"], _CFG["sentence_split"])
        out.append((conv_id, golden_row_hash(conv_id, turn_idx, exp), exp["n_spans"]))
    return out


def expected_digests(rows, engine: str, sentence_split: bool, procs: int) -> dict:
    """``{"all": [n, h, spans], "convs": {conv_id: [n, h, spans]}}`` for
    transcript ``rows`` (tuples in ``workloads.INPUT_SCHEMA`` order)."""
    slim = [(r[0], r[1], r[3], r[4]) for r in rows]
    step = max(1, -(-len(slim) // (procs * 8)))
    chunks = [slim[i : i + step] for i in range(0, len(slim), step)]
    ctx = mp.get_context("spawn")
    with ctx.Pool(procs, initializer=_init, initargs=(engine, sentence_split)) as pool:
        results = pool.map(_hash_chunk, chunks)
    convs: dict[str, list[int]] = {}
    for chunk in results:
        for conv_id, h, n_spans in chunk:
            _add(convs.setdefault(conv_id, [0, 0, 0]), [1, h, n_spans])
    total = [0, 0, 0]
    for acc in convs.values():
        _add(total, acc)
    return {"all": total, "convs": convs}


def by_unit(convs: dict, unit_of: dict) -> dict:
    """Per-conversation digests summed per commit unit (keys as strings),
    over the conversations of ``unit_of``."""
    units: dict[str, list[int]] = {}
    for conv_id, u in unit_of.items():
        _add(units.setdefault(str(u), [0, 0, 0]), convs[conv_id])
    return units


def _add(acc: list[int], d: list[int]) -> None:
    for k in range(3):
        acc[k] += d[k]


def pool_size() -> int:
    return max(1, min(4, os.cpu_count() or 1))
