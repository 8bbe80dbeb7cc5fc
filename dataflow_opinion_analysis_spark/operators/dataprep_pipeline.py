"""The COMPOSED training-data preparation pipeline: one command chaining
quality/language filtering -> exact dedup -> MinHash near-dedup ->
PII scrubbing -> sequence packing over the documents table, the way
plans/indexer.build_indexer chains the reference's indexing stages.

Stage semantics (each stage consumes the previous stage's survivors):

1. quality_lang — keep docs that pass the quality gate (same predicate
   as operators/dataprep.text_quality: >=10 tokens, >=50 chars,
   stopword ratio >= 0.01) AND whose predicted language (same argmax as
   text_langid) is PIPELINE_LANG.
2. exact_dedup — keep the canonical (min doc_id) per normalized-text
   hash, computed WITHIN the filtered set.
3. near_dedup — MinHash+LSH pairs (operators/dataprep.dedup_minhash_lsh
   semantics) over the exact-dedup survivors; every doc that appears as
   the GREATER id (doc_b) of a >=threshold pair is dropped, keeping the
   smallest id of each near-dup cluster edge. Deterministic and
   SQL-expressible in both engines. ``cluster_dedup=True`` upgrades the
   rule to true keep-one-per-CLUSTER via iterative connected components
   (operators/components.py, large-star/small-star — its own gate is
   ``dedup_cluster_cc``); the default stays pair-local so the gated
   pipeline remains one SQL oracle chain.
4. pii_scrub — text rewritten through the llmprep.PII_PATTERNS
   replacement chain (with the deterministic PII injection, so the
   stage provably rewrites something). 1:1 — no rows dropped.
5. pack — llmprep.pack_sequences over the SCRUBBED text: global token
   offsets + context-window chunk ranges via the two-phase distributed
   prefix sum.

Optional curation stages between 1 and 2 (OFF in the gated query;
operators/curation.py): Gopher repetition filtering and n-gram
benchmark decontamination against a caller-supplied eval suite.

Scale shape: every stage's plan is the already-audited per-operator
plan (equi-join banding, hash aggregates, two-phase prefix sum), and
stages are separated by eager checkpoint barriers so Catalyst
cannot re-expand an upstream stage once per downstream reference (the
round-4 sigs-CTE lesson). At 100 TB the barriers become durable
parquet/MergeTable hand-offs; the composition and per-stage plans are
unchanged.
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataflow_opinion_analysis_spark import session
from dataflow_opinion_analysis_spark.operators import dataprep, llmprep

PIPELINE_LANG = "en"

STAGES = ("input", "quality_lang", "exact_dedup", "near_dedup", "pii_scrub", "pack")


def _filter_sql_spark(rel: str) -> str:
    """Quality + language filter over ``rel`` -> surviving (doc_id, lang,
    text). Predicates are byte-identical to text_quality/text_langid."""
    stop_list = ", ".join(f"'{w}'" for w in dataprep.EN_STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id, lang, coalesce(text, '') AS text, {dataprep.SPARK_TOKENS} AS toks
  FROM {rel}
),
q AS (
  SELECT doc_id,
    CASE WHEN size(toks) >= 10 AND length(text) >= 50
          AND size(filter(toks, t -> t IN ({stop_list})))
              / cast(greatest(size(toks), 1) AS double) >= 0.01
         THEN 1 ELSE 0 END AS passes_quality
  FROM base
),
votes AS (
  SELECT b.doc_id, l.lang, count(*) AS hits
  FROM (SELECT doc_id, explode(toks) AS token FROM base) b
  JOIN (SELECT * FROM VALUES {dataprep._lang_values()} AS t(word, lang)) l
    ON l.word = b.token
  GROUP BY b.doc_id, l.lang
),
best AS (
  SELECT doc_id, lang AS pred_lang,
         row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rk
  FROM votes
)
SELECT b.doc_id, b.lang, b.text
FROM base b
JOIN q ON q.doc_id = b.doc_id AND q.passes_quality = 1
JOIN best p ON p.doc_id = b.doc_id AND p.rk = 1 AND p.pred_lang = '{PIPELINE_LANG}'
"""


def _exact_keep_sql_spark(rel: str) -> str:
    return f"""
WITH norm AS (
  SELECT doc_id, lang, text,
         sha2(trim(regexp_replace(lower(coalesce(text,'')), '[^a-z0-9]+', ' ')), 256) AS norm_hash
  FROM {rel}
)
SELECT doc_id, lang, text
FROM (SELECT *, min(doc_id) OVER (PARTITION BY norm_hash) AS canon FROM norm)
WHERE doc_id = canon
"""


def build_dataprep(
    spark: SparkSession,
    docs: DataFrame,
    materialize: bool = True,
    repetition_filter: bool = False,
    eval_docs: DataFrame | None = None,
    cluster_dedup: bool = False,
) -> SimpleNamespace:
    """Run the composed pipeline over ``docs`` (doc_id, lang, text, ...).
    Returns the stage DataFrames: .filtered .exact .kept .scrubbed .packed
    — each checkpointed (when ``materialize``) so no stage re-executes.

    Optional curation stages (operators/curation.py), both applied to the
    quality/lang survivors BEFORE dedup so contaminated/repetitive docs
    never enter the expensive pair joins:

    - ``repetition_filter``: drop docs failing the Gopher repetition
      rules (production form — no injection);
    - ``eval_docs``: a (doc_id, text) benchmark suite; docs sharing
      >= DECON_MIN_SHARED word-{DECON_N}-grams with any eval doc are
      dropped (n-gram decontamination; eval index broadcast).
    The gate (`dataprep_pipeline`) runs with both OFF — its DuckDB
    oracle chain is unchanged; tests/test_curation.py exercises the
    extended composition."""

    def _ckpt(df: DataFrame) -> DataFrame:
        return session.materialize(df, "shared") if materialize else df

    docs.createOrReplaceTempView("dp_input")
    quality = filtered = _ckpt(spark.sql(_filter_sql_spark("dp_input")))
    filtered.createOrReplaceTempView("dp_filtered")

    post_repetition = post_decontam = None
    if repetition_filter:
        from dataflow_opinion_analysis_spark.operators import curation

        rep = spark.sql(
            curation.quality_repetition_sql_spark("dp_filtered", inject=False)
        )
        keep = rep.filter("passes_repetition").select("doc_id")
        filtered = post_repetition = _ckpt(filtered.join(keep, "doc_id", "left_semi"))
        filtered.createOrReplaceTempView("dp_filtered")
    if eval_docs is not None:
        from dataflow_opinion_analysis_spark.operators import curation

        eval_docs.createOrReplaceTempView("dp_eval")
        bad = spark.sql(
            curation.decontam_filter_ids_sql_spark("dp_filtered", "dp_eval")
        )
        filtered = post_decontam = _ckpt(filtered.join(bad, "doc_id", "left_anti"))
        filtered.createOrReplaceTempView("dp_filtered")

    exact = _ckpt(spark.sql(_exact_keep_sql_spark("dp_filtered")))
    exact.createOrReplaceTempView("dp_exact")

    # staged builder (shingles/sizes/bands materialized once) — the
    # all-in-one SQL re-expanded the shingle chain per CTE reference
    pairs = dataprep.minhash_pairs(spark, "dp_exact", "dp_mh")
    if cluster_dedup:
        # cluster-level keep: connected components over the pair graph,
        # drop every non-canonical member. Strictly stronger than the
        # pair-local rule below — e.g. pairs (1,3),(2,3) leave doc 2
        # alive under drop-every-doc_b but CC folds {1,2,3} into one
        # cluster keeping only 1. Costs O(log n) extra edge-list rounds
        # (operators/components.py); the default stays pair-local so the
        # gated query remains one SQL-expressible oracle chain.
        from dataflow_opinion_analysis_spark.operators import components

        comp = components.connected_components(pairs, a="doc_a", b="doc_b")
        losers = (
            comp.filter(F.col("node") != F.col("rep"))
            .select(F.col("node").alias("doc_id"))
        )
    else:
        losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    kept = _ckpt(exact.join(losers, "doc_id", "left_anti"))
    kept.createOrReplaceTempView("dp_kept")

    scrub = llmprep.scrub_chain_expr("spark", llmprep._pii_text_expr("spark"))
    scrubbed = _ckpt(
        spark.sql(
            f"SELECT doc_id, lang, {scrub} AS text, "
            f"sha2({scrub}, 256) AS scrubbed_hash FROM dp_kept"
        )
    )
    scrubbed.createOrReplaceTempView("dp_scrubbed")

    packed = spark.sql(
        llmprep.pack_sql_spark("dp_scrubbed", carry_cols=("lang", "scrubbed_hash"))
    )
    return SimpleNamespace(
        filtered=filtered, exact=exact, kept=kept, scrubbed=scrubbed, packed=packed,
        quality=quality,
        post_repetition=post_repetition, post_decontam=post_decontam,
    )


def dataprep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gated query: the composed pipeline's packed output
    (doc_id, lang, n_tokens, start_offset, first_chunk, last_chunk,
    n_chunks, scrubbed_hash), mirrored by ONE DuckDB oracle chain
    (oracles_dataprep.DATAPREP_PIPELINE_SQL)."""
    docs = dataprep._docs(spark, sf_dir)
    return build_dataprep(spark, docs).packed.select(
        "doc_id", "lang", "n_tokens", "start_offset",
        "first_chunk", "last_chunk", "n_chunks", "scrubbed_hash",
    )


def dataprep_stage_counts(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """Row accounting per stage (n_in -> n_after_each_stage) — the CLI
    prints this and tests/test_llmprep asserts monotone composition."""
    docs = dataprep._docs(spark, sf_dir)
    st = build_dataprep(spark, docs)
    return {
        "input": docs.count(),
        "quality_lang": st.filtered.count(),
        "exact_dedup": st.exact.count(),
        "near_dedup": st.kept.count(),
        "pii_scrub": st.scrubbed.count(),
        "pack": st.packed.count(),
    }
