"""The indexer pipeline — Spark translation of createIndexerPipeline
(IndexerPipeline.java:127-258), phases in the same cost-ordered sequence
the reference uses (comments at :226-230): cheap exact dedupe BEFORE the
expensive NLP stage, soft dedupe AFTER it (needs tags).

Batch (``build_indexer``) and streaming (``streaming/pipeline.
process_batch``) differ only up to exact dedupe: batch ranks the whole
input, the stream routes each micro-batch through the durable content
index. Everything after it — tag pass, dead-letter split, soft-dedupe
routing, enrichment, fan-outs — is ``index_after_exact_dedupe``, one
function both call.

Plan shape (what .explain should show):
  parquet scan (pruned cols) -> codegen projections/hash derivations
  -> single exchange on conv_id (lag window; reused by dedupe sort)
  -> exchange on content_hash (exact dedupe window) -> checkpointed ranked
  -> FUSED narrow Arrow tag pass (winners + Tags + tag_names, no join)
  -> soft-dedupe verdict: hash aggregates over (soft_title, len_bucket)
     with the per-group side inputs PINNED as broadcasts (the soft key is
     hot — 'No Title' holds most of the corpus — so a shuffled join there
     would serialize into one giant partition); only the DUPE subset joins
     back (small side — broadcastable), so the wide winners frame never
     re-shuffles
  -> FUSED narrow Arrow passage fan-out carrying the doc key fields —
     the sentiment branch has no join at all; per-table selects.
The only exchanges in the whole DAG touch either narrow projections or
happen exactly once on the wide rows (conv_id, content_hash).

With ``persist=True`` the stages are materialized as the "shared" role
of session.materialize, which truncates the deep DAG's lineage.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataflow_opinion_analysis_spark.functions import scorer
from dataflow_opinion_analysis_spark.operators import dedupe, fanout, ingest
from dataflow_opinion_analysis_spark.session import materialize


@dataclass
class IndexerOutputs:
    webresource: DataFrame
    document: DataFrame
    sentiment: DataFrame
    # diagnostics: the tagged exact-dedupe winners the NLP stage kept
    winners: DataFrame
    # K2: docs the NLP stage failed on (strict_scoring=True), shaped like
    # schemas.DEAD_LETTER; None when strict mode is off
    dead_letter: DataFrame | None = None


def build_indexer(
    transcripts: DataFrame,
    processing_time: str = "2024-02-01 00:00:00",
    soft_dedupe_enabled: bool = True,
    persist: bool = False,
    enrich_ratio: float = 0.0,
    strict_scoring: bool = False,
) -> IndexerOutputs:
    ic = ingest.derive_input_content(transcripts, processing_time)
    return build_indexer_from_input_content(
        ic, soft_dedupe_enabled, persist, enrich_ratio, strict_scoring
    )


def build_indexer_from_input_content(
    ic: DataFrame,
    soft_dedupe_enabled: bool = True,
    persist: bool = False,
    enrich_ratio: float = 0.0,
    strict_scoring: bool = False,
) -> IndexerOutputs:
    """The pipeline from the InputContent stage on — shared by the
    transcripts path (build_indexer) and the file/CSV/JSON/JDBC connectors
    (sources/files.py + ingest.input_content_from_parsed), mirroring how
    every reference source funnels into one indexing DAG
    (IndexerPipeline.java:127-258).

    ``enrich_ratio``: fraction of documents routed to the N2 entity-
    enrichment branch (EnrichWithCNLPEntities + SplitAB,
    IndexerPipeline.java:245,264-286) — appended cnlp:: tags reach both
    the document and sentiment fan-outs. Reference defaults are 0.01
    batch / 1.0 streaming (IndexerPipelineUtils.java:395-398); this repo
    defaults to 0.0 so the enrichment-free goldens stay byte-stable —
    pass the reference value explicitly (cli.py exposes --enrich-ratio)."""

    def pin(df: DataFrame) -> DataFrame:
        return materialize(df, "shared") if persist else df

    to_index, skipped = ingest.split_skip_indexing(ic)
    # ONE checkpoint of the ranked frame serves both the winners chain and
    # the exact-dupes webresource branch (no second scan + window). Without
    # it, an A/B on a 2M-turn input at local[8] measured 49.3s vs 37.6s.
    ranked = pin(dedupe.exact_dedupe_ranked(to_index))
    return index_after_exact_dedupe(
        ranked.filter(F.col("_rn") == 1).drop("_rn", "winner_document_hash"),
        ranked.filter(F.col("_rn") > 1).drop("_rn"),
        skipped,
        pin=pin,
        near_dupe_verdicts=vote_rule_verdicts if soft_dedupe_enabled else None,
        enrich_ratio=enrich_ratio,
        strict_scoring=strict_scoring,
    )


def vote_rule_verdicts(winners: DataFrame) -> DataFrame:
    """Whole-frame soft-dedupe verdicts (dedupe.soft_dedupe). The verdict
    chain sees only NARROW columns (hash, keys, title, text_len, tag
    names) — the wide text column never enters the dedupe shuffles."""
    return dedupe.soft_dedupe(
        winners.select(
            "expected_document_hash",
            "conv_id",
            "turn_idx",
            "title",
            F.length("text").alias("text_len"),
            "tag_names",
        )
    )


def index_after_exact_dedupe(
    winners: DataFrame,
    exact_dupes: DataFrame,
    skipped: DataFrame,
    *,
    pin: Callable[[DataFrame], DataFrame],
    near_dupe_verdicts: Callable[[DataFrame], DataFrame] | None,
    enrich_ratio: float,
    strict_scoring: bool,
    dead_letter_batch_id: int | None = None,
) -> IndexerOutputs:
    """Every stage after exact dedupe, for batch and stream alike.

    Inputs: the exact-dedupe ``winners`` (InputContent rows), the
    ``exact_dupes`` (carrying ``winner_document_hash``) and the
    ``skipped`` rows. Where the callers differ, they pass it in:

    - ``pin``: how a stage is held — batch materializes it ("shared"),
      the stream persists it lazily for release at the end of its batch.
      Applied to the tagged winners, the soft-dedupe routed winners and
      the enriched winners.
    - ``near_dupe_verdicts``: winners -> (document_hash, is_dupe,
      winner_document_hash) verdicts; ``vote_rule_verdicts`` or the
      stream's durable fingerprint store. None skips soft dedupe.
    - ``dead_letter_batch_id``: the ``batch_id`` of the dead-letter rows
      (NULL in batch).
    """
    # FUSED tag stage: one narrow Arrow pass appends (Tags, tag_names) to
    # the full winners frame — no token shuffles, no doc-sized join-back.
    # The Arrow pass measured 0.89 scaling efficiency 2->8 cores vs 0.57
    # for the 3-shuffle SQL pipeline it replaced.
    winners = pin(scorer.tags_augment(winners, strict=strict_scoring))

    dead_letter = None
    if strict_scoring:
        # K2/F5: docs the NLP stage raised on leave the pipeline here —
        # they reach NO output table, only the dead-letter relation
        # (reference side-output semantics, IndexerPipeline.java:307-324)
        dead_letter = winners.filter(F.col("_index_error").isNotNull()).select(
            "conv_id",
            "turn_idx",
            F.col("expected_document_hash").alias("document_hash"),
            F.col("_index_error").alias("error"),
            F.lit(dead_letter_batch_id).cast("long").alias("batch_id"),
        )
        winners = winners.filter(F.col("_index_error").isNull()).drop("_index_error")

    soft_winners, soft_dupes = winners, None
    if near_dupe_verdicts is not None:
        # join back ONLY the dupe verdicts: the verdict is trivially
        # is_dupe=false for every other doc, and the dupe subset is a
        # small fraction of the corpus, so Catalyst/AQE can broadcast it
        # instead of shuffling the wide winners frame (at fact scale it
        # degrades gracefully to a shuffle join of a much smaller side).
        # Pinned once: the soft winners and the soft dupes both read it,
        # so the verdicts are evaluated once.
        dupe_verdicts = near_dupe_verdicts(winners).filter(F.col("is_dupe"))
        routed = pin(winners.join(
            dupe_verdicts.select(
                F.col("document_hash").alias("expected_document_hash"),
                "is_dupe",
                "winner_document_hash",
            ),
            "expected_document_hash",
            "left",
        ))
        soft_winners = routed.filter(F.col("is_dupe").isNull()).drop(
            "is_dupe", "winner_document_hash"
        )
        soft_dupes = routed.filter(F.col("is_dupe")).drop("is_dupe")

    if enrich_ratio > 0.0:
        # N2 wiring (reference order: enrichment between dedupe and the
        # fan-outs, IndexerPipeline.java:244-286) — appends cnlp:: entity
        # tags to the Tags array of a hash-chosen enrich_ratio fraction
        from dataflow_opinion_analysis_spark.functions import entities

        soft_winners = pin(
            entities.enrich_with_entities(
                soft_winners,
                b_ratio=enrich_ratio,
                hash_col="expected_document_hash",
            )
        )

    webresource = (
        fanout.webresource_rows(soft_winners)
        .unionByName(fanout.webresource_rows(exact_dupes, "winner_document_hash"))
        .unionByName(fanout.webresource_rows(skipped))
    )
    if soft_dupes is not None:
        webresource = webresource.unionByName(
            fanout.webresource_rows(soft_dupes, "winner_document_hash")
        )
    return IndexerOutputs(
        webresource=webresource,
        document=fanout.document_rows(soft_winners),
        # fused Arrow fan-out carries the doc key fields onto each passage
        # row — the sentiment branch is join-free, and soft-dupe docs are
        # never scored at all
        sentiment=fanout.sentiment_rows_fused(soft_winners),
        winners=winners,
        dead_letter=dead_letter,
    )
