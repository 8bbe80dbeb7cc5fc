"""The streaming indexer — north-rule production path.

    readStream(transcripts) -> withWatermark(ts)
      -> assemble_threads (keyed state: sessionized, turn_idx-ordered,
         parent links, late-data routing)
      -> foreachBatch (process_batch):
           derive InputContent (stateless columns)
           exact dedupe      (in-batch window + cross-batch anti-join
                              against the durable content index on
                              content_hash — the table IS the dedupe
                              state store, so it survives restarts free)
         then plans/indexer.index_after_exact_dedupe, the stages the
         batch indexer runs after its exact dedupe:
           fused Arrow NLP   (tags appended in one narrow pass; strict
                              mode raises on poison docs and routes them
                              to the dead-letter MergeTable, K2/F5)
           soft dedupe       (in-batch vote rule, OR cross-batch MinHash
                              fingerprints in a durable MergeTable via
                              cross_batch_near_dedupe=True)
           entity enrichment (enrich_ratio fraction gets cnlp:: tags)
           fused passage fan-out (doc keys ride the Arrow stage — the
                              sentiment branch needs no join)
         and back in process_batch, one write group:
           one narrow MERGE into each store the batch writes: the content
           index, webresource/document/sentiment, the dead letter in
           strict mode and the fingerprint store in cross-batch mode
           (exactly-once: committed batch-ids + keys new by construction)
           one per-batch row of counts in a metrics directory

Checkpoint + resume: the file-stream source records per-file offsets in
``checkpointLocation`` and the state store snapshots the keyed thread
state — killing and restarting the query resumes without loss or
duplication (tests/test_streaming.py), giving the per-partition lineage
the north rule asks for (plus MergeTable's own per-batch file lineage).

Equivalence contract vs batch (FIXTURES.md §4): for on-time input the
sink tables match ``plans/indexer.build_indexer`` row-for-row; late
turns (behind the watermark) are counted in ``metrics`` instead of sunk.
"""

from __future__ import annotations

import concurrent.futures as _futures
import os
from dataclasses import dataclass, fields, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataflow_opinion_analysis_spark import schemas
from dataflow_opinion_analysis_spark.operators import dedupe, ingest
from dataflow_opinion_analysis_spark.plans.indexer import (
    index_after_exact_dedupe,
    vote_rule_verdicts,
)
from dataflow_opinion_analysis_spark.session import start_stream
from dataflow_opinion_analysis_spark.streaming import dedupe_state, metrics
from dataflow_opinion_analysis_spark.sources.transcripts import read_transcripts_stream
from dataflow_opinion_analysis_spark.tables.mergetable import MergeTable

# per-batch routing-map broadcast ceiling (rows ~ 200B each in the build
# hashmap => ~400MB)
_BROADCAST_MAPPING_MAX_ROWS = 2_000_000

# durable keyed dedupe state: first winner per content hash. Lives as a
# MergeTable (not the document sink) because a winner eliminated later by
# soft dedupe must STILL claim its content hash — otherwise a later
# micro-batch would re-elect a different winner and webresource DocumentHash
# pointers would diverge from the batch oracle. A claim names its winner
# row by ``winner_web_resource_hash`` (one turn version); claims written
# before that column existed read it as NULL.
CONTENT_INDEX_SCHEMA = (
    "content_hash string, winner_document_hash string, pub_date_id int, "
    "winner_web_resource_hash string"
)


@dataclass
class IndexerSinks:
    webresource: MergeTable
    document: MergeTable
    sentiment: MergeTable
    content_index: MergeTable
    dead_letter: MergeTable
    fingerprints: MergeTable
    metrics_dir: str
    # the query listener run_indexer_stream attaches
    query_metrics: object | None = None

    @classmethod
    def create(cls, spark: SparkSession, root: str) -> "IndexerSinks":
        return cls(
            webresource=MergeTable(
                spark, os.path.join(root, "webresource"),
                key_cols=["WebResourceHash"], schema=schemas.WEBRESOURCE,
                partition_col="PublicationDateId",
            ),
            document=MergeTable(
                spark, os.path.join(root, "document"),
                key_cols=["DocumentHash"], schema=schemas.DOCUMENT,
                partition_col="PublicationDateId",
            ),
            sentiment=MergeTable(
                spark, os.path.join(root, "sentiment"),
                key_cols=["SentimentHash"], schema=schemas.SENTIMENT,
                partition_col="DocumentDateId",
            ),
            content_index=MergeTable(
                spark, os.path.join(root, "content_index"),
                key_cols=["content_hash"], schema=CONTENT_INDEX_SCHEMA,
            ),
            # K2: docs the NLP stage failed on (IndexerPipeline.java:307-324,
            # 820-841) — exactly-once like every other sink
            dead_letter=MergeTable(
                spark, os.path.join(root, "dead_letter"),
                key_cols=["document_hash"], schema=schemas.DEAD_LETTER,
            ),
            # durable MinHash fingerprint store for cross-batch near-dup
            # detection (streaming/dedupe_state.fingerprint_dedupe_batch)
            fingerprints=MergeTable(
                spark, os.path.join(root, "fingerprints"),
                key_cols=["document_hash"],
                schema=dedupe_state.FINGERPRINT_SCHEMA,
            ),
            metrics_dir=os.path.join(root, "metrics"),
        )

    def on(self, spark: SparkSession) -> "IndexerSinks":
        """The same sinks, their reads planned on ``spark``."""
        return replace(self, **{
            f.name: getattr(self, f.name).on(spark) for f in fields(self)
            if isinstance(getattr(self, f.name), MergeTable)
        })


def process_batch(
    assembled: DataFrame,
    batch_id: int,
    sinks: IndexerSinks,
    processing_time: str = "2024-02-01 00:00:00",
    soft_dedupe_enabled: bool = True,
    enrich_ratio: float = 0.0,
    strict_scoring: bool = False,
    cross_batch_near_dedupe: bool = False,
) -> None:
    """One micro-batch of assembled turns -> MERGE commits. Pure function
    of (batch content, sink state); replay-safe via MergeTable.

    ``enrich_ratio``: N2 entity-enrichment fraction (reference streaming
    default is 1.0, IndexerPipelineUtils.java:395-398; kept 0.0 here so
    the stream==batch equivalence tests stay enrichment-free unless both
    sides opt in).

    Every sink read plans on ``assembled.sparkSession``, the micro-batch's
    own session at the stream width (``session.start_stream``): a table
    built on the caller's session would plan the claim and fingerprint
    reads, and every join that starts from them, at the caller's width."""
    sinks = sinks.on(assembled.sparkSession)
    # the batch's durable writes, one list; the empty batch fences the
    # same tables
    written = ["content_index", "document", "sentiment", "webresource"]
    if strict_scoring:
        # K2/F5 failure routing: docs the NLP stage raised on reach ONLY
        # the dead-letter sink (reference side-output semantics)
        written.append("dead_letter")
    cross_batch = soft_dedupe_enabled and cross_batch_near_dedupe
    if cross_batch:
        written.append("fingerprints")

    # every persist is recorded here and released at the end of the batch
    # regardless of which flag branches were taken — rebinding a name to a
    # derived frame must never orphan a persisted parent across
    # micro-batches (executor storage would grow until ContextCleaner GC)
    persisted: list[DataFrame] = []

    def pin(df: DataFrame) -> DataFrame:
        # a lazy columnar persist (see session.materialize for why not a
        # checkpoint)
        df = df.persist()
        persisted.append(df)
        return df

    # materialized by the stats agg below
    assembled = pin(assembled)
    stats = assembled.agg(
        F.count("*").alias("n_input"),
        F.sum(F.when(F.col("status") == "late", 1).otherwise(0)).alias("n_late"),
        F.sum(F.when(F.col("status") == "overflow", 1).otherwise(0)).alias("n_overflow"),
        F.max("ts").alias("max_ts"),
    ).collect()[0]
    n_input = stats.n_input or 0
    n_late = stats.n_late or 0
    n_overflow = stats.n_overflow or 0

    if n_input == 0:
        # nothing assembled this trigger (typical for the first batch of a
        # replay, which only feeds state): skip the whole downstream job
        # chain instead of running ~10 Spark jobs over a provably empty
        # frame — measured ~5s of pure fixed cost per empty batch.
        # Exactly-once is preserved by still RECORDING the batch id in
        # every sink this batch would have merged into (driver-side
        # manifest write, no Spark jobs): a fresh-checkpoint replay can
        # re-batch the same files under shifted ids, and the fence only
        # holds if the live run left no id gaps
        # (tests/test_streaming.py::test_exactly_once_replay).
        for name in written:
            getattr(sinks, name).record_empty(batch_id)
        metrics.write_batch_row(
            sinks.metrics_dir, "batch", batch_id=int(batch_id), n_input=0,
            n_ok=0, n_late=0, n_overflow=0, n_documents=0, n_sentiments=0,
            max_event_ts=stats.max_ts,
        )
        for df in persisted:
            df.unpersist()
        return

    ontime = assembled.filter(F.col("status") != "late")

    ic = ingest.derive_input_content(ontime, processing_time, parent_mode="provided")
    to_index, _ = ingest.split_skip_indexing(ic)

    # NARROW key cache: every small consumer of the derived batch — claim
    # derivation (window + semi/anti joins), the dupe re-pointing, and the
    # skipped/dupe webresource branches — reads this ~15-column projection
    # (everything but `text`) instead of re-running the sha256 derivation
    # over the wide text-bearing frame. Before this cache the webresource
    # merge alone re-derived the batch twice (dupes + skipped branches) and
    # the claim chain a third time: per-micro-batch serial residue that
    # capped 2->8 scaling.
    # The wide text-bearing derivation now materializes exactly ONCE, into
    # the tagged-winners cache below. O(batch × ~200B) executor memory.
    _key_cols = [
        "content_hash", "expected_document_hash", "web_resource_hash",
        "parent_web_resource_hash", "url", "pub_time", "pub_date_id",
        "processing_time", "processing_date_id", "document_collection_id",
        "collection_item_id", "title", "conv_id", "turn_idx", "author",
        "meta_fields", "skip_indexing",
    ]
    # pre-partitioned by content_hash: the exact-dedupe window, the claim
    # anti-join and the dupe re-pointing join all key on content_hash, and
    # InMemoryTableScan preserves the cached outputPartitioning — so the
    # one exchange paid while building the cache replaces one per consumer
    ic_keys = pin(ic.select(*_key_cols).repartition(F.col("content_hash")))
    index_keys = ic_keys.filter(F.col("skip_indexing") == 0)
    skipped_keys = ic_keys.filter(F.col("skip_indexing") != 0)

    # exact dedupe (D1), cross-batch-consistent:
    # 1. in-batch winners (same operator as batch mode);
    # 2. claim unclaimed content hashes in the durable content index
    #    (MERGE is insert-if-absent, so earlier batches always keep their
    #    claim — exactly first-winner-by-event-time, since micro-batches
    #    arrive in watermark order);
    # 3. route EVERY row through the post-merge mapping: a row is a winner
    #    iff the claim on its content hash names this row (its
    #    web_resource_hash: a resent turn version shares the winner's
    #    document hash, not its row). This repoints in-batch dupes of
    #    already-claimed content to the original winner, matching the
    #    batch-global oracle.
    inbatch_winners, _ = dedupe.exact_dedupe(index_keys)
    # The content index grows monotonically (one row per distinct content
    # hash ever ingested) — broadcasting it per micro-batch would grow
    # driver memory without bound, and scanning it more than once per
    # batch taxes every commit with O(history) reads. So: ONE scan,
    # semi-joined down to THIS batch's hashes (per-batch memory stays
    # O(batch); no pre-distinct — left_semi deduplicates by itself);
    # first-claim is then an O(batch) anti-join against that slice — a
    # hash already claimed by an earlier batch must lose — and the
    # surviving claims are genuinely new rows, so the merge takes the
    # assume_new fast path (one narrow write job, no table re-scan; the
    # claims are also unique per hash because exact_dedupe winners are
    # row_number()==1 per content_hash). Routing reads the cached claim
    # frames, not the store, so the store write joins the write group.
    batch_hashes = index_keys.select("content_hash")
    claims = sinks.content_index.read()
    if "winner_web_resource_hash" not in claims.columns:  # an older index
        claims = claims.withColumn("winner_web_resource_hash", F.lit(None).cast("string"))
    prior_claims = pin(
        claims.join(batch_hashes, "content_hash", "left_semi")
        .select("content_hash", "winner_document_hash", "winner_web_resource_hash")
    )
    new_claims = pin(
        inbatch_winners.select(
            "content_hash",
            F.col("expected_document_hash").alias("winner_document_hash"),
            "pub_date_id",
            F.col("web_resource_hash").alias("winner_web_resource_hash"),
        )
        .join(prior_claims, "content_hash", "left_anti")
    )
    # Routing map = prior claims ∪ this batch's claims — identical to
    # re-reading the post-merge index (every batch hash has a winner:
    # previously claimed hashes are in prior_claims, the rest have an
    # in-batch winner), including under replay of a committed index
    # (new_claims recomputes empty, prior_claims holds this batch's own
    # claims, which name the same rows).
    mapping = prior_claims.unionByName(new_claims.drop("pub_date_id"))
    # a claim written before claims named their row routes by document
    # hash, as it did then, so a replay of its batch keeps its winners
    won = F.coalesce(
        F.col("web_resource_hash") == F.col("winner_web_resource_hash"),
        F.col("expected_document_hash") == F.col("winner_document_hash"),
    )
    # the mapping is O(batch distinct hashes) <= n_input — bounded by the
    # trigger, NOT by table history — so for ordinary trigger sizes it is
    # broadcastable and the routing join needs no shuffle of the wide
    # text-bearing side at all. AQE cannot see this (both inputs are
    # cached unions, sized after its threshold check), so the hint is
    # explicit, guarded by the known batch row count: beyond the
    # threshold (huge triggers) it falls back to the shuffle join.
    mapping_wide = (
        F.broadcast(mapping)
        if n_input <= _BROADCAST_MAPPING_MAX_ROWS
        else mapping
    )
    routed = to_index.join(mapping_wide, "content_hash", "left")
    winners = routed.filter(won).drop(
        "winner_document_hash", "winner_web_resource_hash"
    )
    # dupe re-pointing runs over the NARROW key cache — the webresource
    # branch needs no text, so it must not re-derive the wide frame. This
    # join stays a shuffle join on purpose: ic_keys is already cached
    # pre-partitioned on the key, and a second broadcast would cost a
    # second per-batch driver collect for no avoided wide shuffle.
    exact_dupes = index_keys.join(mapping, "content_hash", "left").filter(~won)

    frames = {"content_index": new_claims}
    if not soft_dedupe_enabled:
        near_dupe_verdicts = None
    elif cross_batch:
        # MinHash fingerprint semantics (in-batch sequential admit +
        # durable cross-batch store) instead of the whole-batch vote
        # rule — catches a near-dup arriving micro-batches later, which
        # the per-batch vote rule cannot
        def near_dupe_verdicts(w: DataFrame) -> DataFrame:
            verdicts = pin(
                dedupe_state.fingerprint_dedupe_batch(w, sinks.fingerprints, batch_id)
            )
            frames["fingerprints"] = dedupe_state.admitted_fingerprints(verdicts)
            return verdicts
    else:
        near_dupe_verdicts = vote_rule_verdicts
    out = index_after_exact_dedupe(
        winners, exact_dupes, skipped_keys,
        pin=pin, near_dupe_verdicts=near_dupe_verdicts,
        enrich_ratio=enrich_ratio, strict_scoring=strict_scoring,
        dead_letter_batch_id=int(batch_id),
    )
    frames.update(
        document=out.document, sentiment=out.sentiment,
        webresource=out.webresource, dead_letter=out.dead_letter,
    )

    # materialize the pinned stages ONCE before the sink merges: the last
    # pin is the most downstream (the soft-dedupe routed or enriched
    # winners), every sink frame reads it or the claim caches it was
    # routed through, and concurrent merge jobs racing an unmaterialized
    # cache each recompute the NLP chain for partitions not yet stored.
    persisted[-1].count()

    # the sink merges are independent (different tables, different
    # manifest chains) — run them as concurrent Spark jobs so a micro-batch
    # pays max(merge walls), not their sum. Threads are the idiomatic way
    # to submit concurrent jobs from one driver; each merge's commit is
    # still atomic per table. Leaving the block joins every thread, so a
    # failed merge fails the batch with no write still running.
    #
    # assume_new: every merge is ONE narrow write job (no dedupe shuffle,
    # no anti-join scan of the growing table; O(batch), not O(table)).
    # Soundness chain, for all six stores:
    #   keys — each is a per-batch winner's document_hash or derives from
    #     one (document, sentiment, dead letter, fingerprints), a content
    #     hash this batch claims (anti-joined against prior claims), or a
    #     turn version (webresource);
    #   in-batch uniqueness — one winner row per content_hash, routed by
    #     row identity; the thread assembler's redelivery fence makes
    #     emitted turn versions unique (streaming/threads.py);
    #   cross-batch newness — a content hash is claimed in one batch and
    #     later rows with it route to the dupe branches, so winner
    #     document hashes are new in every batch; a turn version is
    #     emitted in exactly one micro-batch;
    #   replay — the batch-id fence skips committed tables, and an
    #     uncommitted table's replayed batch recomputes the same rows
    #     (state-store replay, the batch's own claims naming the same
    #     winners, the store_batch_id < batch_id fingerprint read).
    # test_streaming.py pins this (test_assume_new_matches_full_merge,
    # test_write_group_crash_replay); merge() still raises pre-commit on
    # a gross uniqueness violation.
    with _futures.ThreadPoolExecutor(max_workers=len(written)) as pool:
        futures = {
            name: pool.submit(getattr(sinks, name).merge, frames[name], batch_id,
                              assume_new=True)
            for name in written
        }
        rows = {name: f.result() for name, f in futures.items()}

    metrics.write_batch_row(
        sinks.metrics_dir, "batch", batch_id=int(batch_id),
        n_input=int(n_input), n_ok=int(n_input - n_late - n_overflow),
        n_late=int(n_late), n_overflow=int(n_overflow),
        n_documents=int(rows["document"]), n_sentiments=int(rows["sentiment"]),
        max_event_ts=stats.max_ts,
    )

    for df in persisted:
        df.unpersist()


def run_indexer_stream(
    spark: SparkSession,
    input_path: str,
    out_root: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = 1,
    processing_time: str = "2024-02-01 00:00:00",
    soft_dedupe_enabled: bool = True,
    enrich_ratio: float = 0.0,
    strict_scoring: bool = False,
    cross_batch_near_dedupe: bool = False,
    state_store: str = "hdfs",
    auto_compact_files: int = 64,
):
    """Start the streaming indexer; returns (query, sinks).

    The query starts at one shuffle partition per core
    (``session.start_stream``), whatever the session's batch width. That
    is also the thread-state width, and Spark fixes it at the first start
    of ``checkpoint_dir``: a restart from an existing checkpoint keeps the
    width the query first started with, even on a different core count.

    ``auto_compact_files``: when a store the micro-batch RE-READS — the
    content index (claim derivation) and, under
    ``cross_batch_near_dedupe``, the fingerprint store — exceeds this
    many data files, fold its small files with
    MergeTable.compact_small_files() before the next trigger. A
    micro-batch sink accretes one directory per trigger, so an
    uncompacted 10^12-turn stream would pay one scan task per historical
    batch on every read; with compaction the read stays O(table bytes /
    128MB) files. Runs on the foreachBatch thread between batches (never
    concurrent with a writer); cost is O(small bytes), amortized O(1) per
    batch. 0 disables.

    ``state_store``: ``"hdfs"`` (default) keeps keyed thread state in
    executor heap with per-batch delta files — fine up to millions of
    live conversations. ``"rocksdb"`` switches the session to Spark's
    bundled RocksDB state-store provider: state lives off-heap/on-disk
    per partition, which is the configuration a real deployment needs
    when live-session state exceeds executor memory (10^12-turn scale).
    The setting is session-wide and read at query start, so it applies
    to queries started after this call.

    The throughput / watermark-lag listener (streaming/metrics.py) is
    always attached: every micro-batch's processedRowsPerSecond,
    duration, watermark and lag is appended to
    ``<out_root>/query_metrics.jsonl``; the listener object is exposed as
    ``sinks.query_metrics`` for ``summary()``. Turns Spark's watermark
    filter drops before the thread assembler sees them are counted as
    ``n_late`` in ``sinks.metrics_dir``."""
    if state_store == "rocksdb":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        # changelog checkpointing: upload per-batch change files instead of
        # full SST snapshots — the restart-latency configuration for large
        # stores
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    elif state_store != "hdfs":
        raise ValueError(f"unknown state_store {state_store!r} (hdfs|rocksdb)")
    sinks = IndexerSinks.create(spark, out_root)
    sinks.query_metrics = metrics.attach(
        spark, os.path.join(out_root, "query_metrics.jsonl"), sinks.metrics_dir
    )
    stream = read_transcripts_stream(spark, input_path, max_files_per_trigger)
    from dataflow_opinion_analysis_spark.streaming.threads import assemble_threads

    assembled = assemble_threads(stream.withWatermark("ts", watermark))

    def _fb(df: DataFrame, bid: int):
        process_batch(df, bid, sinks, processing_time, soft_dedupe_enabled,
                      enrich_ratio, strict_scoring, cross_batch_near_dedupe)
        if auto_compact_files:
            for store in (sinks.content_index, sinks.fingerprints):
                if len(store.current_snapshot()["files"]) >= auto_compact_files:
                    store.compact_small_files(min_files=2)

    return start_stream(assembled, _fb, checkpoint_dir), sinks
