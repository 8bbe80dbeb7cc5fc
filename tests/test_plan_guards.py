"""Plan-regression guards: the round-2/3 scale wins (no theta joins, no
cartesian products, no unbounded broadcasts of growing relations) are
locked in by string-matching the physical plans. A refactor that turns
the 8-day range join back into a BETWEEN join (BroadcastNestedLoop), or
any dedup query back into an all-pairs comparison, turns these red."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

FORBIDDEN = ("BroadcastNestedLoopJoin", "CartesianProduct")


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def assert_clean(df, label: str):
    plan = plan_of(df)
    for bad in FORBIDDEN:
        assert bad not in plan, f"{label}: {bad} in physical plan\n{plan[:4000]}"


@pytest.fixture(scope="module")
def indexer_outputs(spark):
    from dataflow_opinion_analysis_spark.plans.indexer import build_indexer
    from dataflow_opinion_analysis_spark.sources.transcripts import derive_transcripts

    # persist=False: the full logical DAG stays inline, so the explain
    # covers every stage (checkpointing would hide upstream plans)
    return build_indexer(derive_transcripts(spark, SF_DIR), persist=False)


def test_indexer_plans_clean(indexer_outputs):
    assert_clean(indexer_outputs.webresource, "webresource")
    assert_clean(indexer_outputs.document, "document")
    assert_clean(indexer_outputs.sentiment, "sentiment")


def test_indexer_single_wide_exchanges(indexer_outputs):
    """The wide (text-carrying) rows shuffle exactly twice end to end:
    the conv_id lag window and the content_hash dedupe window. More
    exchanges on doc-sized relations means a join-back crept back in."""
    plan = plan_of(indexer_outputs.document)
    # soft-dedupe side inputs are explicit broadcasts; the verdict
    # join-back may broadcast too — but no sort-merge join of two
    # doc-sized wide relations should exist in the document branch
    assert plan.count("Exchange hashpartitioning") <= 6, plan[:4000]


def test_stats_plans_clean(spark, monkeypatch):
    from dataflow_opinion_analysis_spark.plans import stats
    from dataflow_opinion_analysis_spark.plans.indexer import build_indexer
    from dataflow_opinion_analysis_spark.sources.transcripts import derive_transcripts

    out = build_indexer(derive_transcripts(spark, SF_DIR), persist=True)
    stats.register_views(spark, out.document, out.sentiment, out.webresource)
    # each table is planned by stats_df, as build_stats plans it, but with
    # the staged heads left UNMATERIALIZED: a head's view then inlines
    # into its tail's plan, so the full join tree, head included (not a
    # checkpoint leaf), is inspected. Chain views must exist for later
    # tables' SQL to resolve.
    monkeypatch.setattr(stats, "materialize", lambda df, role: df)
    for name in stats.STATS_ORDER:
        df = stats.stats_df(spark, name, stats.GATE_MIN_DOMAIN_DOCS, stats.GATE_MIN_BASIC8)
        assert_clean(df, f"stats:{name}")
        df.localCheckpoint(eager=True).createOrReplaceTempView(name)


def test_dedup_and_text_plans_clean(spark):
    from dataflow_opinion_analysis_spark.operators import dataprep

    for name, fn in (
        ("dedup_exact", dataprep.dedup_exact),
        ("dedup_ngram_jaccard", dataprep.dedup_ngram_jaccard),
        ("dedup_minhash_lsh", dataprep.dedup_minhash_lsh),
        ("dedup_simhash", dataprep.dedup_simhash),
        ("text_bm25_topk", dataprep.text_bm25_topk),
    ):
        assert_clean(fn(spark, SF_DIR), name)


def test_ann_lsh_plan_clean(spark):
    """The ANN path must stay a bucket equi-join (brute-force top-k is the
    deliberate exception: a bounded 10-row cross join). One BNL is
    allowed: the single-literal-row `planes` constant relation every
    vector joins against — a broadcast of one row, scale-free."""
    from dataflow_opinion_analysis_spark.operators import similarity

    plan = plan_of(similarity.similarity_ann_lsh(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # tree lines only (the formatted details section repeats each node);
    # both allowed BNLs are the 1-row planes constant, one per branch
    bnl_nodes = [
        ln for ln in plan.splitlines()
        if "BroadcastNestedLoopJoin" in ln and ("+-" in ln or ln.startswith("*"))
    ]
    assert len(bnl_nodes) <= 2, plan[:4000]
    # the candidate join itself is a hash equi-join (on the bucket key)
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_ivf_and_cosine_dedup_plans_clean(spark):
    """IVF: candidate/assignment joins are hash equi-joins on the list id;
    the only BNL is the 8-row centroid relation (broadcast of a constant-
    sized side — at scale the centroid table stays broadcastable by
    construction). Cosine near-dup: candidates join on the bucket key;
    only the 1-row planes constant is a BNL."""
    from dataflow_opinion_analysis_spark.operators import similarity

    # scored (vectors x 8-row centroids) is referenced by both `assigned`
    # and `probes`, so the tiny-side BNL appears up to 3 times in the tree.
    # The multi-band cosine dedup's serving plan has NO BNL at all since
    # round 5: the 1-row `planes` constant is consumed while building the
    # checkpointed signature relation, before the self-join.
    # PQ serve: the 32-row codebook is an equi-join on the subspace id
    # (BroadcastHashJoin, zero BNL); exchanges are the (vec_id, m)
    # assignment window + the final per-vector rollup only.
    for fn, max_bnl in (
        (similarity.similarity_ann_ivf, 3),
        (similarity.dedup_embedding_cosine, 0),
        (similarity.embedding_quantize_pq, 0),
        (similarity.similarity_ann_pq_adc, 0),
        # ivf_pq shares similarity_ann_ivf's coarse stage, so the same
        # 8-row centroid constant appears as a BNL per `scored` reference
        (similarity.similarity_ann_ivf_pq, 3),
    ):
        plan = plan_of(fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, fn.__name__
        bnl_nodes = [
            ln for ln in plan.splitlines()
            if "BroadcastNestedLoopJoin" in ln and ("+-" in ln or ln.startswith("*"))
        ]
        assert len(bnl_nodes) <= max_bnl, (fn.__name__, plan[:3000])
        assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, fn.__name__


def test_emb_dedup_single_scan(spark):
    """Round-4 verdict item: the embedding near-dup must scan the
    embeddings table ONCE. The serving plan must contain no parquet scan
    at all (every input is a pre-materialized checkpoint), and the builder
    source must reference the table exactly once — the textual guard stops
    a future edit from quietly re-introducing the CTE re-expansion."""
    import inspect

    from dataflow_opinion_analysis_spark.operators import similarity

    df = similarity.dedup_embedding_cosine(spark, SF_DIR)
    plan = plan_of(df)
    assert "Scan parquet" not in plan and "FileScan" not in plan, plan[:3000]
    assert "ExistingRDD" in plan, plan[:3000]
    src = inspect.getsource(similarity._emb_dup_build)
    assert src.count("FROM embeddings") == 1


def test_dataprep_pipeline_plan_clean(spark):
    """The composed prep pipeline's serving plan: no cartesian/BNL, and
    every stage input is a pre-materialized checkpoint (stage barriers —
    Catalyst must not re-expand an upstream stage per reference)."""
    from dataflow_opinion_analysis_spark.operators.dataprep_pipeline import (
        dataprep_pipeline,
    )

    df = dataprep_pipeline(spark, SF_DIR)
    assert_clean(df, "dataprep_pipeline")
    plan = plan_of(df)
    assert "Scan parquet" not in plan and "FileScan" not in plan, plan[:3000]


def test_sftprep_and_event_feature_plans_clean(spark):
    """Round-5 additions keep the same posture: equi-key shuffles only —
    no cartesian products, no BroadcastNestedLoopJoin anywhere (none of
    these queries joins a constant relation, so zero BNLs are allowed)."""
    from dataflow_opinion_analysis_spark.operators import events_ops, sftprep

    for name, fn in (
        ("sft_pairs", sftprep.sft_pairs),
        ("chat_render", sftprep.chat_render),
        ("dedup_paragraph", sftprep.dedup_paragraph),
        ("text_bigram_stats", sftprep.text_bigram_stats),
        ("events_asof_join", events_ops.events_asof_join),
        ("events_rolling_1h", events_ops.events_rolling_1h),
        ("events_percentiles", events_ops.events_percentiles),
    ):
        plan = plan_of(fn(spark, SF_DIR))
        for bad in FORBIDDEN + ("BroadcastNestedLoopJoin",):
            assert bad not in plan, f"{name}: {bad}\n{plan[:3000]}"


def test_top_customers_limit_below_rank_window(spark):
    """tpch_top_customers must take its top-100 with ORDER BY/LIMIT
    (TakeOrderedAndProject — distributed partial top-k) BEFORE the
    partitionless rank() window, which then runs over 100 rows. The
    regression shape — rank the full per-customer aggregate, then
    LIMIT — has no TakeOrderedAndProject (Catalyst cannot push a limit
    below a window) and funnels the SF-scaling customer dimension
    through one WindowExec partition."""
    from dataflow_opinion_analysis_spark.operators import events_ops

    plan = plan_of(events_ops.tpch_top_customers(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    assert_clean(events_ops.tpch_top_customers(spark, SF_DIR), "tpch_top_customers")


def test_asof_join_is_single_user_shuffle(spark):
    """The as-of join must stay the union + running-window composition:
    exactly one hashpartitioning exchange (by user_id) in the final plan
    and no join operator at all — a regression to interval-join + argmax
    would show a Join node and a second exchange."""
    from dataflow_opinion_analysis_spark.operators import events_ops

    plan = plan_of(events_ops.events_asof_join(spark, SF_DIR))
    assert "Join" not in plan, plan[:3000]
    tree = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and ("+-" in ln or ln.startswith("*"))
    ]
    assert len(tree) <= 1, plan[:3000]


def test_indexer_soft_dedupe_verdicts_evaluated_once(spark):
    """The soft-dedupe verdicts are computed once: the routed winners are
    held, and the soft winners and the soft dupes both read them. The
    webresource frame, whose soft-dupe branch reads those verdicts, then
    plans none of the soft-dedupe aggregates again."""
    from dataflow_opinion_analysis_spark.plans.indexer import build_indexer
    from dataflow_opinion_analysis_spark.sources.transcripts import derive_transcripts

    out = build_indexer(derive_transcripts(spark, SF_DIR), persist=True)
    plan = plan_of(out.webresource)
    assert "HashAggregate" not in plan, plan[:4000]
