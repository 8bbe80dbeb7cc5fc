"""The indexer pipeline — Spark translation of createIndexerPipeline
(IndexerPipeline.java:127-258), phases in the same cost-ordered sequence
the reference uses (comments at :226-230): cheap exact dedupe BEFORE the
expensive NLP stage, soft dedupe AFTER it (needs tags).

One builder serves batch (``spark.read``) and streaming (``readStream`` +
``foreachBatch`` in streaming/pipeline.py): the transformations are
identical, only source/sink differ.

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
    # diagnostics
    input_content: DataFrame
    winners: DataFrame
    # K2: docs the NLP stage failed on (strict_scoring=True), shaped like
    # schemas.DEAD_LETTER minus batch_id; None when strict mode is off
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
    to_index, skipped = ingest.split_skip_indexing(ic)
    # ONE checkpoint of the ranked frame serves both the winners chain and
    # the exact-dupes webresource branch (no second scan + window). Without
    # it, an A/B on a 2M-turn input at local[8] measured 49.3s vs 37.6s.
    ranked = dedupe.exact_dedupe_ranked(to_index)
    if persist:
        ranked = materialize(ranked, "shared")
    winners = ranked.filter(F.col("_rn") == 1).drop("_rn", "winner_document_hash")
    exact_dupes = ranked.filter(F.col("_rn") > 1).drop("_rn")

    # FUSED tag stage: one narrow Arrow pass appends (Tags, tag_names) to
    # the full winners frame — no token shuffles, no doc-sized join-back.
    # The Arrow pass measured 0.89 scaling efficiency 2->8 cores vs 0.57
    # for the 3-shuffle SQL pipeline it replaced.
    winners = scorer.tags_augment(winners, strict=strict_scoring)
    if persist:
        winners = materialize(winners, "shared")

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
            F.lit(None).cast("long").alias("batch_id"),
        )
        winners = winners.filter(F.col("_index_error").isNull()).drop("_index_error")

    if soft_dedupe_enabled:
        # verdict chain sees only NARROW columns (hash, keys, title,
        # text_len, tag names) — the wide text column never enters the
        # dedupe shuffles
        verdict_input = winners.select(
            "expected_document_hash",
            "conv_id",
            "turn_idx",
            "title",
            F.length("text").alias("text_len"),
            "tag_names",
        )
        # join back ONLY the dupe verdicts: the verdict is trivially
        # is_dupe=false for every other doc, and the dupe subset is a
        # small fraction of the corpus, so Catalyst/AQE can broadcast it
        # instead of shuffling the wide winners frame (at fact scale it
        # degrades gracefully to a shuffle join of a much smaller side)
        dupe_verdicts = dedupe.soft_dedupe(verdict_input).filter(F.col("is_dupe"))
        routed = winners.join(
            dupe_verdicts.select(
                F.col("document_hash").alias("expected_document_hash"),
                "is_dupe",
                "winner_document_hash",
            ),
            "expected_document_hash",
            "left",
        )
        soft_winners = routed.filter(F.col("is_dupe").isNull()).drop(
            "is_dupe", "winner_document_hash"
        )
        soft_dupes = routed.filter(F.col("is_dupe")).drop("is_dupe")
        if persist:
            soft_winners = materialize(soft_winners, "shared")
    else:
        soft_winners = winners
        soft_dupes = None

    if enrich_ratio > 0.0:
        # N2 wiring (reference order: enrichment between dedupe and the
        # fan-outs, IndexerPipeline.java:244-286) — appends cnlp:: entity
        # tags to the Tags array of a hash-chosen enrich_ratio fraction
        from dataflow_opinion_analysis_spark.functions import entities

        soft_winners = entities.enrich_with_entities(
            soft_winners,
            b_ratio=enrich_ratio,
            hash_col="expected_document_hash",
        )
        if persist:
            soft_winners = materialize(soft_winners, "shared")

    document = fanout.document_rows(soft_winners)
    # fused Arrow fan-out carries the doc key fields onto each passage row
    # — the sentiment branch is join-free, and soft-dupe docs are never
    # scored at all (the round-2 plan scored them then dropped the rows)
    sentiment = fanout.sentiment_rows_fused(soft_winners)

    wr_parts = [
        fanout.webresource_rows(soft_winners),
        fanout.webresource_rows(exact_dupes, "winner_document_hash"),
        fanout.webresource_rows(skipped),
    ]
    if soft_dupes is not None:
        wr_parts.append(fanout.webresource_rows(soft_dupes, "winner_document_hash"))
    webresource = wr_parts[0]
    for p in wr_parts[1:]:
        webresource = webresource.unionByName(p)

    return IndexerOutputs(
        webresource=webresource,
        document=document,
        sentiment=sentiment,
        input_content=ic,
        winners=winners,
        dead_letter=dead_letter,
    )
