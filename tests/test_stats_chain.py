"""Stats-layer chain tests: table dependency order, reference shapes,
and the incremental per-day DELETE+INSERT equivalence
(StatsCalcPipelineUtils.java:759-833)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, spark_jobs


@pytest.fixture(scope="module")
def stats_tables(spark):
    from dataflow_opinion_analysis_spark.plans import stats
    from dataflow_opinion_analysis_spark.plans.indexer import build_indexer
    from dataflow_opinion_analysis_spark.sources.transcripts import derive_transcripts

    t = derive_transcripts(spark, SF_DIR)
    out = build_indexer(t, persist=True)
    stats.register_views(spark, out.document, out.sentiment, out.webresource)
    return stats.build_stats(
        spark,
        domainopinions_min_docs=stats.GATE_MIN_DOMAIN_DOCS,
        domainopinions_min_basic8=stats.GATE_MIN_BASIC8,
    )


def test_vwlast7days_shape(stats_tables):
    rows = stats_tables["vwlast7days"].collect()
    assert len(rows) == 7
    markers = sorted(r.TimeMarker for r in rows)
    assert markers == [f"T-{k}" for k in range(1, 8)]
    by_marker = {r.TimeMarker: r.DateId for r in rows}
    assert by_marker["T-1"] > by_marker["T-7"]


def test_stattopic_has_single_and_combi_topics(stats_tables):
    st = stats_tables["stattopic"]
    tagcounts = {r.TagCount for r in st.select("TagCount").distinct().collect()}
    assert tagcounts == {1, 2}, "needs both single topics and 'a & b' combi topics"
    combi = st.filter(F.col("TagCount") == 2).first()
    assert " & " in combi.Topic and len(combi.Tags) == 2
    # reference filter: only topics reposted by >1 web resource survive
    assert st.filter(F.col("cntRepostWRs") <= 1).count() == 0


def test_statstoryimpact_window_and_social(stats_tables):
    imp = stats_tables["statstoryimpact"]
    # every doc appears in at most IMPACT_WINDOW_DAYS+1 snapshots
    from dataflow_opinion_analysis_spark.plans.stats import IMPACT_WINDOW_DAYS

    per_doc = imp.groupBy("DocumentHash").count().agg(F.max("count")).first()[0]
    assert per_doc <= IMPACT_WINDOW_DAYS + 1
    # cntFb is NULL on a doc's first snapshot day (counts start at +1 day)
    # and grows monotonically with the snapshot day afterwards
    w = imp.filter(F.col("cntFb").isNotNull()).groupBy("DocumentHash").agg(
        F.min("cntFb").alias("lo"), F.max("cntFb").alias("hi")
    )
    assert w.filter(F.col("hi") < F.col("lo")).count() == 0
    assert imp.filter(F.col("cntFb").isNotNull()).count() > 0


def test_chain_consumes_predecessors(stats_tables):
    """stattopstory7d's WRs must come from stattoptopic7d's top-20 topics'
    OrigWebResourceHashes, and its cntFb from statstoryrank."""
    top = stats_tables["stattoptopic7d"]
    story = stats_tables["stattopstory7d"]
    assert story.count() > 0
    orig = top.filter(F.col("IsTop20Topic") == 1).select(
        F.explode("OrigWebResourceHashes").alias("WebResourceHash")
    ).distinct()
    stray = story.join(orig, "WebResourceHash", "left_anti")
    assert stray.count() == 0
    # rankSocial orders by cntFb desc within a snapshot day
    day = story.groupBy("SnapshotDateId").count().orderBy(F.desc("count")).first()[0]
    rows = story.filter(F.col("SnapshotDateId") == day).orderBy("rankSocial").collect()
    fbs = [r.cntFb for r in rows if r.cntFb is not None]
    assert fbs == sorted(fbs, reverse=True)


def test_statdomainopinions_shape(stats_tables):
    dom = stats_tables["statdomainopinions"]
    cols = set(dom.columns)
    for c in ["Topic", "Domain", "IsTop50Domain", "DomainTopicRank",
              "IsTop20DomainTopic", "cntTotalMentions", "Basic8Score",
              "MeanBasic8Ratio", "StdevBasic8Ratio", "MeanStJoy", "StdevStJoy",
              "MeanStAnger", "StdevStAnger", "MeanSentimentRatio"]:
        assert c in cols, f"missing reference column {c}"
    assert dom.count() > 0
    # DomainTopicRank is per-Domain: every domain has a rank-1 topic
    n_domains = dom.select("Domain").distinct().count()
    n_rank1 = dom.filter(F.col("DomainTopicRank") == 1).select("Domain").distinct().count()
    assert n_rank1 == n_domains


def test_incremental_daily_equals_full(spark, stats_tables, tmp_path):
    """Per-day DELETE+INSERT runs reproduce the full-range table exactly
    (the reference's TimeMarker mode vs fromDate/toDate backfill)."""
    from dataflow_opinion_analysis_spark.plans.stats_incremental import DailyStatsStore

    for name in ("stattopic", "statstoryimpact"):
        full = stats_tables[name]
        days = [r.SnapshotDateId for r in full.select("SnapshotDateId").distinct().collect()]
        store = DailyStatsStore(spark, str(tmp_path), name)
        # two waves + an overlapping repeat: the repeat must overwrite,
        # not duplicate (DELETE+INSERT idempotence)
        mid = len(days) // 2
        store.run_for_days(days[:mid])
        store.run_for_days(days[mid:])
        store.run_for_days(days[:2])
        inc = store.read()
        assert inc.count() == full.count()

        # compare full contents (arrays stringified), order-insensitive
        def flat(df):
            cols = []
            for fname in sorted(df.columns):  # parquet read-back reorders
                if df.schema[fname].dataType.typeName() == "array":
                    cols.append(F.array_join(F.col(fname), ",").alias(fname))
                else:
                    cols.append(F.col(fname))
            return df.select(cols)

        a = {tuple(r) for r in flat(full).collect()}
        b = {tuple(r) for r in flat(inc).collect()}
        assert a == b, f"{name}: incremental != full ({len(a ^ b)} differing rows)"


def test_incremental_timemarker_mode(spark, stats_tables, tmp_path):
    """markers=['T-1'] recomputes exactly the latest day's partition."""
    from dataflow_opinion_analysis_spark.plans.stats_incremental import DailyStatsStore

    vw = {r.TimeMarker: r.DateId for r in stats_tables["vwlast7days"].collect()}
    full = stats_tables["stattopic"]
    store = DailyStatsStore(spark, str(tmp_path), "stattopic")
    store.run_for_markers(["T-1"])
    inc = store.read()
    assert {r.SnapshotDateId for r in inc.select("SnapshotDateId").distinct().collect()} <= {vw["T-1"]}
    assert inc.count() == full.filter(F.col("SnapshotDateId") == vw["T-1"]).count()


def test_durable_store_chain_equals_in_memory(spark, stats_tables, tmp_path_factory):
    """Production materialization: build_stats(store_root=...) writes every
    chained table to partitioned parquet, chains downstream tables off the
    READ-BACK (the per-table BigQuery-write analogue), and reproduces the
    in-memory chain exactly."""
    from dataflow_opinion_analysis_spark.plans import stats

    root = str(tmp_path_factory.mktemp("stats_store"))
    stored = stats.build_stats(
        spark,
        domainopinions_min_docs=stats.GATE_MIN_DOMAIN_DOCS,
        domainopinions_min_basic8=stats.GATE_MIN_BASIC8,
        checkpoint_facts=False,  # facts already checkpointed by the fixture
        store_root=root,
    )
    import os

    for name in stats.STATS_ORDER:
        assert os.path.isdir(os.path.join(root, name)), name
        a = stored[name]
        b = stats_tables[name]
        cols = sorted(a.columns)
        assert cols == sorted(b.columns), name
        # order-insensitive frame equality on stringified rows
        sa = sorted(a.select(*cols).toPandas().astype(str).apply("|".join, axis=1))
        sb = sorted(b.select(*cols).toPandas().astype(str).apply("|".join, axis=1))
        assert sa == sb, f"{name}: stored chain != in-memory chain"
    # daily tables use the SnapshotDateId partition layout shared with
    # stats_incremental.DailyStatsStore
    assert any(
        d.startswith("SnapshotDateId=")
        for d in os.listdir(os.path.join(root, "stattopic"))
    )
    # rebuild the in-memory views so later tests in this module see the
    # fixture's tables, not the store read-backs
    for name, df in stats_tables.items():
        df.createOrReplaceTempView(name)


def test_social_counts_seam(spark, stats_tables, tmp_path_factory):
    """wrsocialcount is injectable (the SocialStatsPipeline seam): feeding
    the chain a parquet table of counts reproduces the derived-mode chain
    when the table holds the same rows, and the injected relation is what
    downstream tables actually read."""
    from dataflow_opinion_analysis_spark.plans import stats

    root = str(tmp_path_factory.mktemp("social"))
    path = f"{root}/wrsocialcount.parquet"
    stats_tables["wrsocialcount"].write.mode("overwrite").parquet(path)

    injected = stats.build_stats(
        spark,
        domainopinions_min_docs=stats.GATE_MIN_DOMAIN_DOCS,
        domainopinions_min_basic8=stats.GATE_MIN_BASIC8,
        checkpoint_facts=False,
        social_counts=spark.read.parquet(path),
    )
    for name in ("wrsocialcount", "statstoryimpact", "statstoryrank"):
        cols = sorted(injected[name].columns)
        a = sorted(injected[name].select(*cols).toPandas().astype(str).apply("|".join, axis=1))
        b = sorted(stats_tables[name].select(*cols).toPandas().astype(str).apply("|".join, axis=1))
        assert a == b, name

    # a DIFFERENT injected table visibly changes the chain (proves the
    # seam is real, not a re-derivation)
    doubled = spark.read.parquet(path).withColumn(
        "FbCount", (F.col("FbCount") * 2).cast("int")
    )
    injected2 = stats.build_stats(
        spark,
        domainopinions_min_docs=stats.GATE_MIN_DOMAIN_DOCS,
        domainopinions_min_basic8=stats.GATE_MIN_BASIC8,
        checkpoint_facts=False,
        social_counts=doubled,
    )
    a2 = injected2["statstoryrank"].agg(F.sum("cntFb")).collect()[0][0]
    b2 = stats_tables["statstoryrank"].agg(F.sum("cntFb")).collect()[0][0]
    assert a2 == 2 * b2
    for name, df in stats_tables.items():
        df.createOrReplaceTempView(name)


def test_delta_driven_refresh_matches_full(spark, stats_tables, tmp_path):
    """The closed loop: indexer output lands in exactly-once MergeTables,
    IncrementalStatsConsumer reads only the append deltas since its
    cursor (Iceberg-style incremental scan), recomputes exactly the
    affected SnapshotDateId partitions — and after two ingest waves the
    daily tables equal the full-range rebuild row for row."""
    from dataflow_opinion_analysis_spark.plans import stats
    from dataflow_opinion_analysis_spark.plans.stats_incremental import (
        IncrementalStatsConsumer,
    )
    from dataflow_opinion_analysis_spark.tables.mergetable import MergeTable

    doc = spark.table("document")
    sent = spark.table("sentiment")
    wr = spark.table("webresource")
    days = sorted(
        r.PublicationDateId
        for r in doc.select("PublicationDateId").distinct().collect()
    )
    thr = days[len(days) // 2]

    t_doc = MergeTable(
        spark, str(tmp_path / "doc"), ["DocumentHash"],
        partition_col="PublicationDateId",
    )
    t_sent = MergeTable(
        spark, str(tmp_path / "sent"), ["SentimentHash"],
        partition_col="DocumentDateId",
    )
    t_wr = MergeTable(
        spark, str(tmp_path / "wr"), ["WebResourceHash"],
        partition_col="PublicationDateId",
    )
    consumer = IncrementalStatsConsumer(
        spark, str(tmp_path / "stats"), t_doc, t_sent, t_wr
    )

    waves = [f"PublicationDateId <= {thr}", f"PublicationDateId > {thr}"]
    recomputed_days: dict[str, set] = {"stattopic": set(), "statstoryimpact": set()}
    for b, pred in enumerate(waves):
        t_doc.merge(doc.where(pred), b)
        t_sent.merge(sent.where(pred.replace("PublicationDateId", "DocumentDateId")), b)
        t_wr.merge(wr.where(pred), b)
        r = consumer.refresh()
        assert r["days"]["stattopic"], "wave must affect at least one day"
        for name in recomputed_days:
            recomputed_days[name].update(r["days"][name])

    # refresh with no new commits is a cursor-only no-op
    r = consumer.refresh()
    assert not any(r["days"].values()) and not r["rows"]

    for name in ("stattopic", "statstoryimpact"):
        full = stats_tables[name]
        inc = consumer.spark.read.parquet(str(tmp_path / "stats" / name))
        # every day present in the full table was recomputed at least once
        full_days = {r.SnapshotDateId for r in full.select("SnapshotDateId").distinct().collect()}
        assert full_days <= recomputed_days[name], name

        def flat(df):
            cols = []
            for fname in sorted(df.columns):
                if df.schema[fname].dataType.typeName() == "array":
                    cols.append(F.array_join(F.col(fname), ",").alias(fname))
                else:
                    cols.append(F.col(fname))
            return df.select(cols)

        a = {tuple(r) for r in flat(full).collect()}
        b = {tuple(r) for r in flat(inc).collect()}
        assert a == b, f"{name}: delta-driven store != full rebuild ({len(a ^ b)} rows differ)"

    # restore the module fixture's views (refresh re-registered fact views
    # over the MergeTable read-backs; later tests expect the originals)
    stats.register_views(spark, doc, sent, wr)
    for name, df in stats_tables.items():
        df.createOrReplaceTempView(name)


def test_subset_consumer_does_not_starve_other_tables(spark, stats_tables, tmp_path):
    """Per-table cursor regression: a consumer constructed with
    tables=('stattopic',) advances ONLY stattopic's cursor — a later
    full-table consumer on the same store_root still sees the delta for
    statstoryimpact (with one shared cursor it silently missed those days
    forever). Also: returned days lists only the refreshed tables."""
    from dataflow_opinion_analysis_spark.plans import stats
    from dataflow_opinion_analysis_spark.plans.stats_incremental import (
        IncrementalStatsConsumer,
    )
    from dataflow_opinion_analysis_spark.tables.mergetable import MergeTable

    doc = spark.table("document")
    sent = spark.table("sentiment")
    wr = spark.table("webresource")
    # a small slice keeps the per-day recompute cheap
    days = sorted(
        r.PublicationDateId
        for r in doc.select("PublicationDateId").distinct().collect()
    )[:2]
    pred = f"PublicationDateId IN ({days[0]}, {days[1]})"

    t_doc = MergeTable(spark, str(tmp_path / "doc"), ["DocumentHash"],
                       partition_col="PublicationDateId")
    t_sent = MergeTable(spark, str(tmp_path / "sent"), ["SentimentHash"],
                        partition_col="DocumentDateId")
    t_wr = MergeTable(spark, str(tmp_path / "wr"), ["WebResourceHash"],
                      partition_col="PublicationDateId")
    t_doc.merge(doc.where(pred), 0)
    t_sent.merge(sent.where(pred.replace("PublicationDateId", "DocumentDateId")), 0)
    t_wr.merge(wr.where(pred), 0)

    store = str(tmp_path / "stats")
    sub = IncrementalStatsConsumer(
        spark, store, t_doc, t_sent, t_wr, tables=("stattopic",)
    )
    r1 = sub.refresh()
    assert set(r1["days"]) == {"stattopic"}  # only refreshed tables listed
    assert r1["days"]["stattopic"]
    cur = sub.cursor()
    assert "statstoryimpact" not in cur["tables"]  # untouched, not advanced

    full = IncrementalStatsConsumer(spark, store, t_doc, t_sent, t_wr)
    r2 = full.refresh()
    # stattopic is caught up (no new commits); statstoryimpact sees the delta
    assert not r2["days"]["stattopic"]
    assert r2["days"]["statstoryimpact"]
    assert r2["rows"].get("statstoryimpact", 0) > 0
    got_days = {
        r.SnapshotDateId
        for r in spark.read.parquet(str(tmp_path / "stats" / "statstoryimpact"))
        .select("SnapshotDateId").distinct().collect()
    }
    assert set(days) <= got_days

    # third refresh: everything caught up
    r3 = full.refresh()
    assert not any(r3["days"].values()) and not r3["rows"]

    # restore the module fixture's views for later tests
    stats.register_views(spark, doc, sent, wr)
    for name, df in stats_tables.items():
        df.createOrReplaceTempView(name)


def test_topic_view_runs_no_job(spark, stats_tables):
    """register_views builds the default topic table on the driver: the
    registration and a read of the view schedule no Spark task."""
    from dataflow_opinion_analysis_spark.functions import lexicon
    from dataflow_opinion_analysis_spark.plans import stats

    got = {}

    def register():
        # re-register the module fixture's views; only topic is rebuilt
        stats.register_views(
            spark, spark.table("document"), spark.table("sentiment"),
            spark.table("webresource"),
        )
        got["topic"] = spark.table("topic").collect()

    assert spark_jobs(spark, register) == 0
    assert sorted(r.Topic for r in got["topic"]) == sorted(lexicon.TOPIC_BLOCKLIST)
    assert {r.IsBlocked for r in got["topic"]} == {1}
