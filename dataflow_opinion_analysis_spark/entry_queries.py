"""The queries()/oracle_sql() registry behind __spark_entry__.py.

Each entry is (spark_fn, duckdb_sql | None). Column names are aliased
identically on both sides — the driver sorts columns by name before
value-hashing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataflow_opinion_analysis_spark import oracles, oracles_stats
from dataflow_opinion_analysis_spark.functions import lexicon
from dataflow_opinion_analysis_spark.plans import stats
from dataflow_opinion_analysis_spark.plans.indexer import build_indexer
from dataflow_opinion_analysis_spark.session import materialize
from dataflow_opinion_analysis_spark.sources.transcripts import derive_transcripts


_OUTPUTS_CACHE: dict[tuple, object] = {}
# persistent-RDD ids each memoized build pinned (persisted frames AND
# eager-localCheckpoint blocks), recorded as a before/after diff of the
# SparkContext's persistent-RDD map at build time
_CACHE_RDD_IDS: dict[tuple, set[int]] = {}


def _persistent_rdd_ids(spark: SparkSession) -> set[int]:
    try:
        return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}
    except Exception:
        return set()


def _memoize_build(spark: SparkSession, key: tuple, build):
    """Run `build()` under persistent-RDD-id accounting so clear_cache can
    later release exactly the blocks this build pinned — nothing else."""
    before = _persistent_rdd_ids(spark)
    _OUTPUTS_CACHE[key] = build()
    _CACHE_RDD_IDS[key] = _persistent_rdd_ids(spark) - before
    return _OUTPUTS_CACHE[key]


def clear_cache(spark: SparkSession | None = None) -> None:
    """Release cached/checkpointed pipeline outputs (long-lived sessions:
    call between sf_dirs; the driver's one-shot runs never need to).

    The memoized outputs are eager localCheckpoints, whose blocks live in
    persistent RDDs OUTSIDE the SQL cache manager — DataFrame.unpersist()
    is a no-op on them. Only the RDD ids recorded at memoization time are
    unpersisted: checkpointed frames have truncated lineage, so blindly
    unpersisting EVERY persistent RDD in the context would make any
    unrelated checkpointed DataFrame the caller still holds
    unrecomputable (missing-block errors rather than recompute).

    NOTE: DataFrames previously returned by this registry ARE invalidated
    by this call — that is its purpose."""
    if spark is None:
        for v in _OUTPUTS_CACHE.values():
            if hasattr(v, "winners"):
                spark = v.winners.sparkSession
                break
            if isinstance(v, dict) and v:
                spark = next(iter(v.values())).sparkSession
                break
    ours: set[int] = set()
    for ids in _CACHE_RDD_IDS.values():
        ours |= ids
    _OUTPUTS_CACHE.clear()
    _CACHE_RDD_IDS.clear()
    if spark is None:
        return
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for k, jrdd in list(jmap.items()):
            if int(k) in ours:
                jrdd.unpersist()
    except Exception:
        # releasing is best-effort; blocks fall back to ContextCleaner GC
        pass


def _outputs(spark: SparkSession, sf_dir: str):
    """Memoized per (session, sf_dir): ten registry queries share one
    pipeline build (with persisted intermediates) instead of re-deriving
    the whole DAG each."""
    key = (id(spark), sf_dir)
    if key not in _OUTPUTS_CACHE:
        return _memoize_build(
            spark,
            key,
            lambda: build_indexer(derive_transcripts(spark, sf_dir), persist=True),
        )
    return _OUTPUTS_CACHE[key]


def _stats_tables(spark: SparkSession, sf_dir: str):
    """Memoized: materialize the whole chained stats DAG once per
    (session, sf_dir) — wrsocialcount/vwlast7days inputs, then
    stattopic -> statstoryimpact -> statstoryrank -> stattoptopic7d ->
    stattopstory7d -> stattoptopic7dsentiment in the reference's order
    (StatsCalcPipeline.java:73-83)."""
    key = (id(spark), sf_dir, "stats")
    if key not in _OUTPUTS_CACHE:
        out = _outputs(spark, sf_dir)
        stats.register_views(spark, out.document, out.sentiment, out.webresource)
        return _memoize_build(
            spark,
            key,
            # checkpoint_facts=False: the fact frames registered above ARE
            # the indexer's eager localCheckpoints (_outputs builds with
            # persist=True), so build_stats's own fact barrier would
            # re-materialize already-truncated frames (~3s at sf1.0)
            lambda: stats.build_stats(
                spark,
                persist=True,
                domainopinions_min_docs=stats.GATE_MIN_DOMAIN_DOCS,
                domainopinions_min_basic8=stats.GATE_MIN_BASIC8,
                checkpoint_facts=False,
            ),
        )
    return _OUTPUTS_CACHE[key]


def _stats_query(name: str):
    """Gate projection over a chained stats table (StatsCalcPipelineUtils
    ports — plans/stats.py; DuckDB mirror in oracles_stats.py)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _stats_tables(spark, sf_dir)
        return spark.sql(stats.GATE_SELECTS_SPARK[name])

    run.__doc__ = f"stats layer: {name} (see plans/stats.py)"
    return run


def q_stats_stattopic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-driven nightly refresh == full-range rebuild: indexer output
    is committed to exactly-once MergeTables in two waves (split at the
    median publication day), the cursor-tracked IncrementalStatsConsumer
    refreshes after each wave (MergeTable.incremental_read append scan ->
    affected-day DELETE+INSERT recompute), and the stored stattopic
    partitions are checked against the SAME full-range DuckDB oracle as
    the stats_stattopic gate. End-to-end evidence for
    plans/stats_incremental.py + tables/mergetable.py."""
    key = (id(spark), sf_dir, "stats_incr")
    if key not in _OUTPUTS_CACHE:

        def build():
            import tempfile

            from dataflow_opinion_analysis_spark.plans.stats_incremental import (
                IncrementalStatsConsumer,
            )
            from dataflow_opinion_analysis_spark.tables.mergetable import MergeTable

            out = _outputs(spark, sf_dir)
            tmp = tempfile.mkdtemp(prefix="gate_stats_incr_")
            t_doc = MergeTable(
                spark, f"{tmp}/doc", ["DocumentHash"],
                partition_col="PublicationDateId",
            )
            t_sent = MergeTable(
                spark, f"{tmp}/sent", ["SentimentHash"],
                partition_col="DocumentDateId",
            )
            t_wr = MergeTable(
                spark, f"{tmp}/wr", ["WebResourceHash"],
                partition_col="PublicationDateId",
            )
            days = sorted(
                r[0]
                for r in out.document.select("PublicationDateId").distinct().collect()
            )
            thr = days[len(days) // 2]
            # gate checks stattopic only — skip the statstoryimpact
            # recompute (both tables share the mechanism; the full pair
            # is covered by test_delta_driven_refresh_matches_full)
            consumer = IncrementalStatsConsumer(
                spark, f"{tmp}/stats", t_doc, t_sent, t_wr,
                tables=("stattopic",),
            )
            for b, pred in enumerate([f"<= {thr}", f"> {thr}"]):
                # assume_unique: each frame is a day-range split of a
                # hash-keyed fact table that is key-unique by
                # construction (exact+soft dedupe winners / per-passage
                # hashes / per-turn WR hashes), so the in-batch
                # dropDuplicates wide shuffle is pure overhead; the
                # merge's HLL tripwire still guards gross violations
                t_doc.merge(
                    out.document.where(f"PublicationDateId {pred}"), b,
                    assume_unique=True,
                )
                t_sent.merge(
                    out.sentiment.where(f"DocumentDateId {pred}"), b,
                    assume_unique=True,
                )
                t_wr.merge(
                    out.webresource.where(f"PublicationDateId {pred}"), b,
                    assume_unique=True,
                )
                consumer.refresh()
            return materialize(
                spark.read.parquet(f"{tmp}/stats/stattopic"), "shared"
            )

        _memoize_build(spark, key, build)
    _OUTPUTS_CACHE[key].createOrReplaceTempView("stattopic_incremental")
    return spark.sql(
        stats.GATE_SELECTS_SPARK["stattopic"].replace(
            "FROM stattopic", "FROM stattopic_incremental"
        )
    )


def q_indexer_document(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `document` fact table (IndexerPipeline.java:709-736) produced by
    the full pipeline: ingest -> exact dedupe -> NLP tags -> soft dedupe."""
    out = _outputs(spark, sf_dir)
    return out.document.select(
        "DocumentHash",
        "PublicationTime",
        "PublicationDateId",
        "DocumentCollectionId",
        "CollectionItemId",
        "Title",
        "Type",
        "Language",
        "ContentLength",
        "Author",
        "Text",
        "MainWebResourceHash",
        "ParentWebResourceHash",
    )


def q_indexer_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `sentiment` fact table (IndexerPipeline.java:743-784): one row
    per opinion passage with all 17 St* dims from the vectorized scorer."""
    out = _outputs(spark, sf_dir)
    st = [lexicon.DIM_TO_COLUMN[d] for d in sorted(lexicon.LEXICON)]
    return out.sentiment.select(
        "SentimentHash",
        "DocumentHash",
        "DocumentTime",
        "DocumentDateId",
        "Text",
        "LabelledPositions",
        "SentimentTotalScore",
        "DominantValence",
        *st,
        "StSentiment",
        "MainWebResourceHash",
        "ParentWebResourceHash",
        F.array_join("Signals", ";").alias("SignalsStr"),
        # per-passage tag regression guard: the Tags array value-checked
        # as an ordered name list (round-4 verdict item 5)
        F.array_join(F.transform("Tags", lambda t: t["Tag"]), ",").alias("TagsStr"),
    )


def q_indexer_webresource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `webresource` fact table (IndexerPipeline.java:684-703): union of
    indexed winners + exact dupes + skipped + soft dupes, with DocumentHash
    re-pointed to the dedupe winner for dupe rows."""
    out = _outputs(spark, sf_dir)
    return out.webresource.select(
        "WebResourceHash",
        "Url",
        "PublicationTime",
        "PublicationDateId",
        "ProcessingTime",
        "ProcessingDateId",
        "DocumentHash",
        "DocumentCollectionId",
        "CollectionItemId",
        "Title",
        "Domain",
        "Author",
        "ParentWebResourceHash",
        F.coalesce(F.array_join("MetaFields", ","), F.lit("")).alias("MetaFieldsStr"),
    )


ENRICH_GATE_RATIO = 0.3


def q_indexer_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2 wired into the pipeline (build_indexer(enrich_ratio=0.3)): per
    soft-winner document, the base tag count, the appended cnlp:: tag
    count and the top entity+salience. Transcript text is
    deterministically capitalized (same transform both engines) because
    the fixture corpus is lowercase and the capitalized-phrase model
    would otherwise never fire."""
    from dataflow_opinion_analysis_spark.functions import entities

    t = derive_transcripts(spark, sf_dir).withColumn(
        "text", F.expr(entities._CAP_SPARK)
    )
    out = build_indexer(t, persist=True, enrich_ratio=ENRICH_GATE_RATIO)
    is_cnlp = lambda tag: F.startswith(tag["Tag"], F.lit(entities.CNLP_TAG_PREFIX))  # noqa: E731
    cnlp = F.filter("Tags", is_cnlp)
    return out.document.select(
        "DocumentHash",
        F.size(F.filter("Tags", lambda t_: ~is_cnlp(t_))).alias("n_base_tags"),
        F.size(cnlp).alias("n_cnlp_tags"),
        F.try_element_at(cnlp, F.lit(1))["Tag"].alias("top_cnlp_tag"),
        F.try_element_at(cnlp, F.lit(1))["Weight"].alias("top_cnlp_weight"),
    )


def q_story_impact_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impact propagation over the reply graph: every webresource is a
    node, every turn's ParentWebResourceHash is an edge child -> parent,
    and rank flows up the thread (PAGERANK_ITERS fixed rounds, damping
    0.85, integer-micro arithmetic — operators/components.pagerank_impact;
    deviations documented there). A root post's rank is its accumulated
    downstream engagement — the reference's StatStoryImpact idea
    (StatsCalcPipelineUtils story-impact SQL) expressed as an iterative
    graph computation instead of a windowed aggregate."""
    from dataflow_opinion_analysis_spark.operators import components

    out = _outputs(spark, sf_dir)
    wr = out.webresource
    nodes = wr.select(F.col("WebResourceHash").alias("node")).distinct()
    edges = wr.filter(
        F.col("ParentWebResourceHash").isNotNull()
        & (F.col("ParentWebResourceHash") != "")
    ).select(
        F.col("WebResourceHash").alias("src"),
        F.col("ParentWebResourceHash").alias("dst"),
    )
    r = components.pagerank_impact(nodes, edges)
    return r.select(F.col("node").alias("web_resource_hash"), "rank_micro")


def registry() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    reg: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
        "indexer_document": (q_indexer_document, oracles.document_sql()),
        "indexer_sentiment": (q_indexer_sentiment, oracles.sentiment_sql()),
        "indexer_webresource": (q_indexer_webresource, oracles.webresource_sql()),
        "indexer_enriched_tags": (
            q_indexer_enriched,
            oracles.enriched_tags_sql(ENRICH_GATE_RATIO),
        ),
    }
    reg["story_impact_pagerank"] = (
        q_story_impact_pagerank, oracles.pagerank_sql()
    )
    for name in stats.GATE_SELECTS_SPARK:
        reg[f"stats_{name}"] = (
            _stats_query(name),
            oracles_stats.oracle_sql(
                name, stats.GATE_MIN_DOMAIN_DOCS, stats.GATE_MIN_BASIC8
            ),
        )
    # the delta-driven refresh path must reproduce the full rebuild —
    # same oracle as stats_stattopic, different (incremental) producer
    reg["stats_stattopic_incremental"] = (
        q_stats_stattopic_incremental,
        oracles_stats.oracle_sql(
            "stattopic", stats.GATE_MIN_DOMAIN_DOCS, stats.GATE_MIN_BASIC8
        ),
    )

    from dataflow_opinion_analysis_spark import oracles_dataprep
    from dataflow_opinion_analysis_spark.functions import entities
    from dataflow_opinion_analysis_spark.operators import (
        components,
        dataprep,
        dataprep_pipeline,
        llmprep,
        multimodal,
        similarity,
    )

    dataprep_fns = {
        "text_entities": entities.text_entities,
        "split_ab": entities.split_ab_assignment,
        "dedup_exact": dataprep.dedup_exact,
        "dedup_ngram_jaccard": dataprep.dedup_ngram_jaccard,
        "dedup_minhash_lsh": dataprep.dedup_minhash_lsh,
        "dedup_cluster_cc": components.dedup_cluster_cc,
        "dedup_simhash": dataprep.dedup_simhash,
        "text_langid": dataprep.text_langid,
        "text_quality": dataprep.text_quality,
        "text_token_count": dataprep.text_token_count,
        "text_fingerprint": dataprep.text_fingerprint,
        "text_tfidf_keywords": dataprep.text_tfidf_keywords,
        "text_bm25_topk": dataprep.text_bm25_topk,
        "text_bpe_merges": dataprep.text_bpe_merges,
        "text_hashed_classifier": dataprep.text_hashed_classifier,
        "similarity_topk_bruteforce": similarity.similarity_topk_bruteforce,
        "similarity_ann_lsh": similarity.similarity_ann_lsh,
        "dedup_embedding_cosine": similarity.dedup_embedding_cosine,
        "similarity_ann_ivf": similarity.similarity_ann_ivf,
        "embedding_quantize_int8": similarity.embedding_quantize_int8,
        "embedding_quantize_pq": similarity.embedding_quantize_pq,
        "similarity_ann_pq_adc": similarity.similarity_ann_pq_adc,
        "similarity_ann_ivf_pq": similarity.similarity_ann_ivf_pq,
        "multimodal_metadata": multimodal.multimodal_metadata,
        "multimodal_features": multimodal.multimodal_features,
        "multimodal_decode": multimodal.multimodal_decode,
        "pack_sequences": llmprep.pack_sequences,
        "sample_stratified": llmprep.sample_stratified,
        "pii_scrub": llmprep.pii_scrub,
        "dataprep_pipeline": dataprep_pipeline.dataprep_pipeline,
    }
    for name, fn in dataprep_fns.items():
        reg[name] = (fn, oracles_dataprep.DATAPREP_ORACLES.get(name))

    from dataflow_opinion_analysis_spark import oracles_curation
    from dataflow_opinion_analysis_spark.operators import curation

    curation_fns = {
        "decontaminate": curation.decontaminate,
        "quality_repetition": curation.quality_repetition,
        "shard_for_training": curation.shard_for_training,
        "cap_per_source": curation.cap_per_source,
        "sample_mixture": curation.sample_mixture,
    }
    # incremental dataprep: two-wave ingest+refresh loop, compared against
    # the SAME full-corpus oracle chain as the one-shot pipeline — the
    # gate IS the incremental == full equivalence proof
    from dataflow_opinion_analysis_spark.operators import dataprep_incremental

    reg["dataprep_incremental"] = (
        dataprep_incremental.dataprep_incremental,
        oracles_dataprep.DATAPREP_ORACLES["dataprep_pipeline"],
    )
    # streaming dataprep: the SAME prep chain as a Structured Streaming
    # job (one micro-batch per file, durable dedup stores), against the
    # same full-corpus oracle — stream == incremental == batch
    from dataflow_opinion_analysis_spark.streaming import dataprep_stream

    reg["dataprep_stream"] = (
        dataprep_stream.dataprep_stream,
        oracles_dataprep.DATAPREP_ORACLES["dataprep_pipeline"],
    )
    # streaming vector-index writer: IVF list + PQ codes assigned per
    # micro-batch against a frozen on-disk model, merged into a durable
    # codes table — must equal the full-corpus DuckDB fit+assign oracle
    from dataflow_opinion_analysis_spark.streaming import vector_index

    reg["vector_index_stream"] = (
        vector_index.vector_index_stream,
        oracles_dataprep.DATAPREP_ORACLES["vector_index_stream"],
    )
    for name, fn in curation_fns.items():
        reg[name] = (fn, oracles_curation.CURATION_ORACLES.get(name))

    from dataflow_opinion_analysis_spark import oracles_sftprep
    from dataflow_opinion_analysis_spark.operators import sftprep

    sftprep_fns = {
        "sft_pairs": sftprep.sft_pairs,
        "chat_render": sftprep.chat_render,
        "dedup_paragraph": sftprep.dedup_paragraph,
        "text_bigram_stats": sftprep.text_bigram_stats,
    }
    for name, fn in sftprep_fns.items():
        reg[name] = (fn, oracles_sftprep.SFTPREP_ORACLES.get(name))

    from dataflow_opinion_analysis_spark import oracles_events
    from dataflow_opinion_analysis_spark.operators import events_ops

    events_fns = {
        "statngram": events_ops.statngram,
        "wrsocialcount": events_ops.wrsocialcount,
        "wrsocialcount_jdbc": events_ops.wrsocialcount_jdbc,
        "events_sessionization": events_ops.events_sessionization,
        "events_tumbling_agg": events_ops.events_tumbling_agg,
        "events_sliding_agg": events_ops.events_sliding_agg,
        "events_interval_join": events_ops.events_interval_join,
        "events_cep_pattern": events_ops.events_cep_pattern,
        "events_topk_salted": events_ops.events_topk_salted,
        "events_percentiles": events_ops.events_percentiles,
        "events_percentiles_approx": events_ops.events_percentiles_approx,
        "events_asof_join": events_ops.events_asof_join,
        "events_rolling_1h": events_ops.events_rolling_1h,
        "tpch_q1_like": events_ops.tpch_q1_like,
        "tpch_region_rollup": events_ops.tpch_region_rollup,
        "tpch_top_customers": events_ops.tpch_top_customers,
    }
    for name, fn in events_fns.items():
        reg[name] = (fn, oracles_events.EVENTS_ORACLES.get(name))

    # continuous materialized aggregate: a real streaming run (append-mode
    # sliding agg -> exactly-once MergeTable) gated against the batch
    # sliding-window oracle on the finalized windows
    from dataflow_opinion_analysis_spark.streaming import windows as _sw

    reg["events_cagg_stream"] = (
        _sw.events_cagg_stream,
        oracles_events.EVENTS_ORACLES.get("events_cagg_stream"),
    )
    return reg
