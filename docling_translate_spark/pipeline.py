"""Training-data curation pipeline: the composed flow a 100 TB corpus
job runs — extraction → quality/language gates → exact + near dedup →
token accounting.

Each stage is an operator from this package; the composition is pure
DataFrame-to-DataFrame so Catalyst sees the whole plan (filters from the
quality gate push below later joins where legal).

Shape at scale:
1. per-turn extraction              — fused, shuffle-free
2. quality + language gates         — codegen column filters
3. exact dedup on fingerprint       — one hash-shuffle, map-side combine
4. near-dup removal (MinHash LSH)   — signature build (narrow) +
                                      bucket joins on small keys
5. token accounting                 — codegen, feeds sampling/budgeting
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from docling_translate_spark.operators.dedup import (
    connected_components,
    minhash_lsh_pairs,
)
from docling_translate_spark.operators.extract import ExtractConfig, extract_turns
from docling_translate_spark.operators.text_analysis import (
    fingerprint,
    lang_id,
    quality_features,
    token_counts,
)


@dataclass(frozen=True)
class CurationConfig:
    min_quality: float = 0.6
    keep_langs: tuple = ()          # empty = keep all
    min_chars: int = 20
    near_dup_threshold: float = 0.85
    near_dup: bool = True
    extract: ExtractConfig = ExtractConfig()
    # PII scrubbing of the extracted text (opt-in; quality/token stats
    # then run over the redacted text, which is what actually ships)
    redact: bool = False
    # HTML main-content pre-pass (opt-in): tag-ratio / link-density /
    # text-density block classification (html_boiler) runs on the RAW
    # turn text before segmentation, so nav/footer/link-farm blocks in
    # web-scraped turns never reach the extraction kernel
    html_strip: bool = False
    # benchmark decontamination n-gram size (used when an eval set is
    # passed to curate_turns)
    decontam_n: int = 8
    decontam_min_hits: int = 1


def curate_turns(
    transcripts: DataFrame,
    cfg: CurationConfig | None = None,
    eval_set: DataFrame | None = None,
    blocklist: DataFrame | None = None,
) -> DataFrame:
    """Run the full curation flow; returns kept turns with quality/token
    metadata. Deterministic: near-dup removal keeps the smallest
    md5-keyed member of each near-dup connected component.

    ``eval_set`` (columns ``doc_id``, ``text``) enables benchmark
    decontamination: turns sharing ≥ ``cfg.decontam_min_hits`` distinct
    ``cfg.decontam_n``-grams with any eval document are dropped via a
    left-anti join on the flagged set.

    ``blocklist`` (column ``domain``) enables C4-style URL filtering:
    turns citing any blocklisted domain (subdomains included) are
    dropped right after extraction, before the quality gates.

    Near-dup removal is component-wise: LSH pairs are treated as edges
    and ONE member per connected component survives (the min-id one).
    A chain A~B~C therefore keeps exactly one doc even when A~C was
    never itself a candidate pair (r2 verdict #6).
    """
    cfg = cfg or CurationConfig()

    if cfg.html_strip:
        from docling_translate_spark.operators.html_boiler import (
            BLOCK_SPLIT_REGEX,
            extract_main_content,
        )

        # Zero-shuffle projection. Replacement is GATED on the turn
        # actually containing a block-level tag: the block classifier
        # whitespace-normalizes inside blocks, which would flatten the
        # \n\n paragraph structure the markdown/plaintext segmenters key
        # on — non-HTML turns therefore pass through byte-identical and
        # extraction parity is untouched.
        stripped = extract_main_content(
            transcripts.withColumn(
                "_row", F.struct(*transcripts.columns)
            ).select("_row", F.col("_row.text").alias("text")),
            id_col="_row",
        )
        transcripts = stripped.select(
            *[
                F.col(f"_row.{c}").alias(c)
                for c in transcripts.columns
                if c != "text"
            ],
            F.when(
                F.col("_row.text").rlike(BLOCK_SPLIT_REGEX),
                F.col("main_text"),
            )
            .otherwise(F.col("_row.text"))
            .alias("text"),
        )

    ext = extract_turns(transcripts, cfg.extract)
    docs = ext.filter(F.length("extracted_text") >= cfg.min_chars).withColumn(
        "text", F.col("extracted_text")
    )
    if blocklist is not None:
        from docling_translate_spark.operators.scrub import (
            filter_blocked_domains,
        )

        docs = filter_blocked_domains(docs, blocklist)
    if cfg.redact:
        from docling_translate_spark.operators.scrub import redact_pii

        # downstream stats/dedup run over the redacted text — the text
        # that actually ships
        docs = (
            redact_pii(docs)
            .drop("text", "extracted_text")
            .withColumnRenamed("clean_text", "text")
            .withColumn("extracted_text", F.col("text"))
        )

    docs = quality_features(docs)
    docs = lang_id(docs)
    docs = token_counts(docs)
    docs = fingerprint(docs)

    kept = docs.filter(F.col("quality_score") >= cfg.min_quality)
    if cfg.keep_langs:
        kept = kept.filter(F.col("pred_lang").isin(*cfg.keep_langs))

    # exact dedup: first (conv_id, turn_idx) per fingerprint survives.
    # Global arg-min via groupBy + semi-join, NOT a row_number window: a
    # hot fingerprint (a viral template repeated 10^8 times at 10^12
    # turns) collapses to one row per map task in the partial aggregate
    # BEFORE the exchange, while a window would sort every occurrence in
    # ONE task (the exact shape dedup_segments' docstring warns about).
    # The semi-join keys include (conv_id, turn_idx), so the probe-side
    # shuffle of a hot fingerprint's rows still spreads across tasks.
    #
    # dropDuplicates first: if the input violates the (conv_id,
    # turn_idx)-is-a-key contract (a doubled upstream join), the
    # semi-join alone would keep EVERY copy of the winning key — the
    # one-row-per-fingerprint guarantee must not depend on input
    # hygiene. Its keys equal the semi-join keys (the cached output is
    # already partitioned on them for the probe side), and the
    # well-spread triple key can't hot-key: a viral fingerprint still
    # collapses in the partial aggregate, per map task, before the
    # exchange.
    #
    # persist: fp_winners (build) and the probe are TWO consumers of
    # the whole extraction + gate lineage — without it the fused
    # kernel and every gate run twice (the near-dup/decontam stages
    # persist at their own fan-outs for the same reason).
    kept = kept.dropDuplicates(
        ["fingerprint", "conv_id", "turn_idx"]
    ).persist()
    fp_winners = kept.groupBy("fingerprint").agg(
        F.min(F.struct("conv_id", "turn_idx")).alias("_w")
    ).select(
        "fingerprint",
        F.col("_w.conv_id").alias("conv_id"),
        F.col("_w.turn_idx").alias("turn_idx"),
    )
    kept = kept.join(
        fp_winners, ["fingerprint", "conv_id", "turn_idx"], "left_semi"
    )

    if cfg.near_dup:
        # stable id for pair generation: the FULL 32-hex md5 of
        # "conv_id:turn_idx" — portable (any SQL engine reproduces it),
        # which is what lets the composed pipeline carry a full value
        # oracle. The id also decides WHICH component member survives
        # (the lexicographic min), so it must be engine-reproducible,
        # not Spark-private — and full-width: a 60-bit prefix has ~0.2
        # expected collisions at the 10^9-doc design point (n^2/2^61),
        # and a collision either merges unrelated docs into one
        # component or drops a non-duplicate turn via the losers
        # anti-join.
        keyed = kept.withColumn(
            "_nid",
            F.md5(F.concat_ws(":", F.col("conv_id"), F.col("turn_idx"))),
        )
        # `keyed` feeds TWO consumers (LSH pair generation and the
        # anti-join probe side); without a persist the whole upstream
        # extraction + gate lineage executes twice. At cluster scale this
        # is where you'd materialize the gated set to a staging table;
        # in-memory/disk persist is the single-job equivalent. It stays
        # cached for the session (lazy result — see dedup.py caching
        # note); clearCache() between invocations in long-lived drivers.
        keyed = keyed.persist()
        pairs = minhash_lsh_pairs(
            keyed,
            text_col="text",
            id_col="_nid",
            threshold=cfg.near_dup_threshold,
        )
        # component-wise removal: pair edges → connected components,
        # keep the min-id member of each component. Dropping id_b per
        # pair would keep both ends of a chain A~B~C whenever A~C was
        # never a candidate pair (near-dup is not transitive, but
        # corpus dedup treats the closure as one redundant cluster).
        comp = connected_components(pairs, "id_a", "id_b")
        losers = comp.filter(F.col("comp") != F.col("id")).select(
            F.col("id").alias("_nid")
        )
        kept = keyed.join(losers, on="_nid", how="left_anti").drop("_nid")

    if eval_set is not None:
        from docling_translate_spark.operators.dedup import decontaminate

        # two consumers again (flag generation + anti-join probe):
        # persist, same reasoning as the near-dup stage above. Full md5
        # key for the same collision-width reason as _nid (xxhash64's 64
        # bits give ~0.03 expected collisions at 10^9 docs, each one an
        # innocent row silently dropped by the anti-join).
        keyed2 = kept.withColumn(
            "_did",
            F.md5(F.concat_ws(":", F.col("conv_id"), F.col("turn_idx"))),
        ).persist()
        flagged = decontaminate(
            keyed2,
            eval_set,
            id_col="_did",
            n=cfg.decontam_n,
            min_hits=cfg.decontam_min_hits,
        ).select(F.col("train_id").alias("_did"))
        kept = keyed2.join(flagged, on="_did", how="left_anti").drop("_did")

    return kept.select(
        "conv_id",
        "turn_idx",
        "extracted_text",
        "pred_lang",
        "quality_score",
        "ws_tokens",
        "bpe_tokens",
        "fingerprint",
        "n_spans",
        "boilerplate_ratio",
    )
