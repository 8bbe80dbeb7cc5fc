"""spark-submit entry point with subcommands — the replacement for the
reference's ControlPipeline (ControlPipeline.java:66-148), which launched
Dataflow jobs from inside a streaming worker. The repo itself deprecates
that pattern in favor of external orchestration (reference README.md:21-22);
a CLI driven by spark-submit / Airflow is the idiomatic Spark shape.

Usage (local or cluster):

  python scripts/make_pyfiles_zip.py   # -> dist/dataflow_opinion_analysis_spark.zip
  spark-submit --py-files dist/dataflow_opinion_analysis_spark.zip \
      scripts/submit_cli.py index \
      --input /path/transcripts --output /path/warehouse

Subcommands:
  index      batch indexer: transcripts parquet -> webresource/document/
             sentiment parquet
  stream     streaming indexer with checkpointed exactly-once MERGE sinks
  statscalc  full rebuild of the stat* tables from the fact tables
  statsrefresh delta-driven nightly refresh: recompute only the daily
             partitions affected by rows committed since the last run
  table-maintenance snapshot expiry + orphan-file vacuum on the sinks
  socialstats JDBC social counts -> durable wrsocialcount
  compact-fingerprints bound the near-dup fingerprint store
  dataprep   composed training-data prep: quality/lang filter -> exact +
             MinHash dedup -> PII scrub -> sequence packing
             (--shards-out adds a final deterministic shard write)
  dataprep-refresh  incremental dataprep: ingest a wave, prep ONLY the
             delta against durable dedup stores, append to the packed
             table (cursor-tracked; incremental == full, gated)
  dataprep-stream   the same prep chain as a Structured Streaming job:
             every micro-batch of the documents file stream is one
             ingest wave + refresh (stream == incremental == batch,
             tests/test_dataprep_stream.py)
  vector-index  streaming IVF+PQ index writer: micro-batches of an
             embeddings file stream are code-assigned against a frozen
             on-disk model and merged into a durable codes table
  datagen    deterministic synthetic transcripts generator
"""

from __future__ import annotations

import argparse
import sys


def _spark(args):
    from dataflow_opinion_analysis_spark.session import get_spark

    return get_spark(app_name=f"opinion-{args.cmd}", master=args.master)


def cmd_index(args) -> int:
    from dataflow_opinion_analysis_spark.plans.indexer import build_indexer

    spark = _spark(args)
    t = spark.read.parquet(args.input)
    out = build_indexer(
        t, persist=True, soft_dedupe_enabled=not args.no_soft_dedupe,
        enrich_ratio=args.enrich_ratio, strict_scoring=args.strict_scoring,
    )
    if args.strict_scoring and out.dead_letter is not None:
        out.dead_letter.write.mode(args.mode).parquet(f"{args.output}/dead_letter")
        print("wrote dead_letter")
    for name, df in [
        ("webresource", out.webresource),
        ("document", out.document),
        ("sentiment", out.sentiment),
    ]:
        (
            df.repartition("PublicationDateId" if name != "sentiment" else "DocumentDateId")
            .write.mode(args.mode)
            .partitionBy("PublicationDateId" if name != "sentiment" else "DocumentDateId")
            .parquet(f"{args.output}/{name}")
        )
        print(f"wrote {name}")
    spark.stop()
    return 0


def cmd_stream(args) -> int:
    from dataflow_opinion_analysis_spark.streaming.pipeline import run_indexer_stream

    spark = _spark(args)
    q, sinks = run_indexer_stream(
        spark,
        args.input,
        args.output,
        args.checkpoint,
        watermark=args.watermark,
        max_files_per_trigger=args.max_files_per_trigger,
        soft_dedupe_enabled=not args.no_soft_dedupe,
        enrich_ratio=args.enrich_ratio,
        strict_scoring=args.strict_scoring,
        cross_batch_near_dedupe=args.cross_batch_near_dedupe,
        state_store=args.state_store,
    )
    if args.drain:
        q.processAllAvailable()
        q.stop()
        if sinks.query_metrics is not None:
            import json

            print("query_metrics:", json.dumps(sinks.query_metrics.summary()))
    else:
        q.awaitTermination()
    spark.stop()
    return 0


def cmd_dataprep_stream(args) -> int:
    """Streaming training-data prep: every micro-batch of the documents
    file stream is one ingest wave + cursor-tracked refresh of the
    incremental dataprep stores (streaming/dataprep_stream.py)."""
    from dataflow_opinion_analysis_spark.streaming.dataprep_stream import (
        run_dataprep_stream,
    )

    spark = _spark(args)
    q, prep = run_dataprep_stream(
        spark, args.input, args.store, args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    if args.drain:
        q.processAllAvailable()
        q.stop()
        import json

        print(json.dumps({
            "packed_rows": prep.packed.read().count(),
            "cursor": prep.cursor(),
        }))
    else:
        q.awaitTermination()
    spark.stop()
    return 0


def cmd_vector_index(args) -> int:
    """Streaming vector-index writer: each micro-batch of the embeddings
    file stream is assigned its IVF list + PQ codes against the frozen
    <store>/model.json (fit from --fit-dir on first run) and MERGEd into
    the durable codes table (streaming/vector_index.py)."""
    from dataflow_opinion_analysis_spark.streaming.vector_index import (
        run_vector_index_stream,
    )

    spark = _spark(args)
    q, table = run_vector_index_stream(
        spark, args.input, args.store, args.checkpoint, fit_dir=args.fit_dir,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    if args.drain:
        q.processAllAvailable()
        q.stop()
        import json

        print(json.dumps({"codes_rows": table.read().count()}))
    else:
        q.awaitTermination()
    spark.stop()
    return 0


def cmd_statscalc(args) -> int:
    from dataflow_opinion_analysis_spark.plans import stats
    from dataflow_opinion_analysis_spark.session import materialize

    spark = _spark(args)
    document = spark.read.parquet(f"{args.warehouse}/document")
    sentiment = spark.read.parquet(f"{args.warehouse}/sentiment")
    webresource = spark.read.parquet(f"{args.warehouse}/webresource")
    stats.register_views(spark, document, sentiment, webresource)
    social = None
    if args.social_counts:
        # pin the rows before the chain writes: build_stats(store_root=...)
        # rewrites <warehouse>/wrsocialcount, which may BE this input path
        # (the socialstats -> statscalc composition) — overwriting a path
        # Spark is lazily reading from corrupts the read
        social = materialize(spark.read.parquet(args.social_counts), "shared")
    # durable chaining: each table is written to the warehouse and the
    # read-back feeds the next table (reference per-table BigQuery writes)
    for name in stats.build_stats(
        spark, store_root=args.warehouse, social_counts=social
    ):
        print(f"wrote {name}")
    spark.stop()
    return 0


def cmd_socialstats(args) -> int:
    """SocialStatsPipeline.java:54-157 composed end-to-end: generated
    JDBC social-stats query -> WebResourceHash derivation -> max-time
    filter against the stored table -> durable wrsocialcount parquet,
    consumable by `statscalc --social-counts`."""
    import os

    from dataflow_opinion_analysis_spark.operators.events_ops import (
        social_counts_from_jdbc,
    )
    from dataflow_opinion_analysis_spark.session import materialize
    from dataflow_opinion_analysis_spark.sources.files import (
        build_jdbc_social_stats_query,
        read_jdbc,
    )

    spark = _spark(args)
    q = build_jdbc_social_stats_query(args.from_date, args.to_date)
    raw = read_jdbc(spark, args.jdbc_url, q, driver=args.driver)
    out_path = f"{args.output}/wrsocialcount"
    existing = None
    if not args.truncate and os.path.exists(out_path):
        existing = spark.read.parquet(out_path)
        # the max-time filter reads the CURRENT table while we rewrite it:
        # pin the rows first (reference reads the cache via a separate
        # BigQuery query before writing, SocialStatsPipeline.java:112-122)
        existing = materialize(existing, "shared")
    counts = social_counts_from_jdbc(raw, existing)
    mode = "overwrite" if args.truncate or existing is None else "append"
    counts.write.mode(mode).parquet(out_path)
    print(f"wrote wrsocialcount ({mode})")
    spark.stop()
    return 0


def cmd_statsrefresh(args) -> int:
    """Nightly delta-driven stats refresh over the streaming sinks: read
    only the document/webresource rows committed since the last refresh
    (MergeTable incremental scan), recompute exactly the affected
    SnapshotDateId partitions of the daily stat tables, advance the
    durable cursor. The closed-loop production shape: `stream` ->
    exactly-once sinks -> `statsrefresh` (vs `statscalc`'s full rebuild)."""
    from dataflow_opinion_analysis_spark.plans.stats_incremental import (
        IncrementalStatsConsumer,
    )
    from dataflow_opinion_analysis_spark.streaming.pipeline import IndexerSinks
    from dataflow_opinion_analysis_spark.session import materialize

    spark = _spark(args)
    sinks = IndexerSinks.create(spark, args.output)
    social = None
    if args.social_counts:
        social = materialize(spark.read.parquet(args.social_counts), "shared")
    consumer = IncrementalStatsConsumer(
        spark, args.store_root, sinks.document, sinks.sentiment,
        sinks.webresource, social_counts=social,
    )
    r = consumer.refresh()
    for name, days in r["days"].items():
        print(f"{name}: recomputed {len(days)} day(s), "
              f"{r['rows'].get(name, 0)} rows total")
    print(f"cursor: {r['cursor']}")
    spark.stop()
    return 0


def cmd_table_maintenance(args) -> int:
    """Retention over the streaming MergeTable sinks: expire old snapshot
    manifests and vacuum data files no retained snapshot references
    (Iceberg expire_snapshots + remove_orphan_files). Keep enough
    snapshots to cover any statsrefresh consumer's cursor — expired
    versions can no longer be incrementally read."""
    from dataflow_opinion_analysis_spark.streaming.pipeline import IndexerSinks

    spark = _spark(args)
    sinks = IndexerSinks.create(spark, args.output)
    for name in ("webresource", "document", "sentiment", "content_index",
                 "dead_letter", "fingerprints"):
        t = getattr(sinks, name)
        folded = (
            t.compact_small_files(min_files=args.compact_min_files)
            if args.compact_min_files
            else 0
        )
        expired = t.expire_snapshots(keep_last=args.keep_snapshots)
        deleted = t.vacuum(min_age_sec=args.vacuum_min_age_hours * 3600.0)
        print(f"{name}: compacted {folded} small file(s), "
              f"expired {len(expired)} snapshot(s), "
              f"deleted {len(deleted)} orphan file(s)")
    spark.stop()
    return 0


def cmd_compact_fingerprints(args) -> int:
    """Maintenance: rewrite the streaming fingerprint store keeping the
    newest N fingerprints per soft key (the bound the read path already
    assumes — verdicts are unchanged, the table just stops growing)."""
    from dataflow_opinion_analysis_spark.streaming import dedupe_state
    from dataflow_opinion_analysis_spark.streaming.pipeline import IndexerSinks

    spark = _spark(args)
    sinks = IndexerSinks.create(spark, args.output)
    before, after = dedupe_state.compact_fingerprints(
        sinks.fingerprints, keep=args.keep
    )
    print(f"compacted fingerprints: {before} -> {after} rows")
    spark.stop()
    return 0


def cmd_dataprep_refresh(args) -> int:
    """Incremental training-data prep: optionally ingest a new wave of
    documents into the store, then run the prep chain over exactly the
    docs committed since the last refresh (operators/
    dataprep_incremental.IncrementalDataPrep). Prints one JSON line with
    the wave's row accounting and the advanced cursor."""
    import json

    from dataflow_opinion_analysis_spark.operators.dataprep_incremental import (
        IncrementalDataPrep,
    )

    spark = _spark(args)
    prep = IncrementalDataPrep(spark, args.store)
    if args.ingest:
        prep.ingest(spark.read.parquet(args.ingest), wave_id=args.wave)
    out = prep.refresh(wave_id=args.wave)
    print(json.dumps({"store": args.store, **out}))
    spark.stop()
    return 0


def cmd_dataprep(args) -> int:
    """The composed training-data prep pipeline: quality/lang filter ->
    exact dedup -> MinHash near-dedup -> PII scrub -> sequence packing
    over a documents-shaped parquet. Writes the packed table and prints
    per-stage row accounting as one JSON line."""
    import json

    from dataflow_opinion_analysis_spark.operators.dataprep_pipeline import (
        build_dataprep,
    )

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    eval_docs = (
        spark.read.parquet(args.decontaminate_against)
        if getattr(args, "decontaminate_against", None) else None
    )
    st = build_dataprep(
        spark, docs,
        repetition_filter=getattr(args, "repetition_filter", False),
        eval_docs=eval_docs,
        cluster_dedup=getattr(args, "cluster_dedup", False),
    )
    packed = st.packed
    packed.write.mode(args.mode).parquet(args.output)
    counts = {
        "input": docs.count(),
        "quality_lang": st.quality.count(),
        **({"repetition_filter": st.post_repetition.count()}
           if st.post_repetition is not None else {}),
        **({"decontaminate": st.post_decontam.count()}
           if st.post_decontam is not None else {}),
        "exact_dedup": st.exact.count(),
        "near_dedup": st.kept.count(),
        "pii_scrub": st.scrubbed.count(),
        "pack": spark.read.parquet(args.output).count(),
    }
    out = {"stages": counts, "output": args.output}
    if getattr(args, "shards_out", None):
        from dataflow_opinion_analysis_spark.operators.curation import (
            N_SHARDS,
            write_training_shards,
        )

        write_training_shards(spark.read.parquet(args.output), args.shards_out)
        counts["shards"] = N_SHARDS
        out["shards_out"] = args.shards_out
    print(json.dumps(out))
    spark.stop()
    return 0


def cmd_datagen(args) -> int:
    from dataflow_opinion_analysis_spark import datagen

    path = datagen.write_transcripts_parquet(
        args.output,
        n_convs=args.convs,
        avg_turns=args.avg_turns,
        seed=args.seed,
        n_files=args.files,
    )
    print(f"wrote {path}")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="opinion-analysis-spark")
    ap.add_argument("--master", default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("index")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--mode", default="overwrite")
    p.add_argument("--no-soft-dedupe", action="store_true")
    # reference batch default is 0.01 (IndexerPipelineUtils.java:395-398);
    # 0.0 keeps enrichment-free runs reproducible vs the goldens
    p.add_argument("--enrich-ratio", type=float, default=0.0)
    # K2/F5: raise on poison docs and route them to <output>/dead_letter
    p.add_argument("--strict-scoring", action="store_true")
    p.set_defaults(fn=cmd_index)

    p = sub.add_parser("stream")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--watermark", default="10 minutes")
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument("--no-soft-dedupe", action="store_true")
    # reference streaming default is 1.0 (IndexerPipelineUtils.java:395-398)
    p.add_argument("--enrich-ratio", type=float, default=0.0)
    # K2/F5: dead-letter routing for poison docs (exactly-once MergeTable)
    p.add_argument("--strict-scoring", action="store_true")
    # durable MinHash fingerprint store: catch near-dups arriving
    # micro-batches after the original
    p.add_argument("--cross-batch-near-dedupe", action="store_true")
    # rocksdb = off-heap/on-disk keyed state for live-session state larger
    # than executor memory (Spark's bundled provider; changelog
    # checkpointing enabled)
    p.add_argument("--state-store", choices=["hdfs", "rocksdb"], default="hdfs")
    p.add_argument("--drain", action="store_true", help="process available input then exit")
    p.set_defaults(fn=cmd_stream)

    p = sub.add_parser("statscalc")
    p.add_argument("--warehouse", required=True)
    # SocialStatsPipeline seam: parquet of real social counts; default
    # derives deterministic counts from WebResourceHash
    p.add_argument("--social-counts", default=None)
    p.set_defaults(fn=cmd_statscalc)

    p = sub.add_parser("socialstats")
    p.add_argument("--jdbc-url", required=True)
    p.add_argument("--driver", default=None)
    p.add_argument("--from-date", default=None)
    p.add_argument("--to-date", default=None)
    p.add_argument("--output", required=True, help="warehouse root (writes <output>/wrsocialcount)")
    p.add_argument("--truncate", action="store_true",
                   help="WRITE_TRUNCATE semantics (skip the max-time filter)")
    p.set_defaults(fn=cmd_socialstats)

    p = sub.add_parser("statsrefresh")
    p.add_argument("--output", required=True, help="stream out_root holding the MergeTable sinks")
    p.add_argument("--store-root", required=True, help="daily stats store (cursor lives here)")
    p.add_argument("--social-counts", default=None)
    p.set_defaults(fn=cmd_statsrefresh)

    p = sub.add_parser("table-maintenance")
    p.add_argument("--output", required=True, help="stream out_root holding the MergeTable sinks")
    p.add_argument("--keep-snapshots", type=int, default=100)
    p.add_argument(
        "--vacuum-min-age-hours", type=float, default=4.0,
        help="orphan-age grace: never delete a data dir younger than this "
             "(a mid-merge writer's uncommitted dir looks like an orphan)",
    )
    p.add_argument(
        "--compact-min-files", type=int, default=4,
        help="fold small data files (rewrite_data_files BINPACK) when at "
             "least this many exist; 0 disables compaction",
    )
    p.set_defaults(fn=cmd_table_maintenance)

    p = sub.add_parser("compact-fingerprints")
    p.add_argument("--output", required=True, help="stream out_root holding the fingerprint store")
    from dataflow_opinion_analysis_spark.streaming.dedupe_state import MAX_FPRINTS
    p.add_argument("--keep", type=int, default=MAX_FPRINTS)
    p.set_defaults(fn=cmd_compact_fingerprints)

    p = sub.add_parser("dataprep")
    p.add_argument("--input", required=True, help="documents-shaped parquet (doc_id, lang, text)")
    p.add_argument("--output", required=True, help="packed-table output dir")
    p.add_argument("--mode", default="overwrite")
    p.add_argument(
        "--shards-out", default=None,
        help="also write the packed table as N_SHARDS deterministic "
             "training shards (one exchange + local sort; "
             "operators/curation.write_training_shards)",
    )
    p.add_argument(
        "--repetition-filter", action="store_true",
        help="drop docs failing the Gopher repetition rules before dedup",
    )
    p.add_argument(
        "--cluster-dedup", action="store_true",
        help="near-dedup keeps one doc per connected COMPONENT of the "
             "pair graph (large-star/small-star CC) instead of the "
             "pair-local drop-doc_b rule",
    )
    p.add_argument(
        "--decontaminate-against", default=None,
        help="(doc_id, text) parquet benchmark suite: drop docs sharing "
             ">= DECON_MIN_SHARED word-n-grams with any eval doc",
    )
    p.set_defaults(fn=cmd_dataprep)

    p = sub.add_parser("dataprep-refresh")
    p.add_argument("--store", required=True,
                   help="incremental dataprep store root (docs/norm_hashes/"
                        "bands/packed MergeTables + cursor)")
    p.add_argument("--ingest", default=None,
                   help="optional documents-shaped parquet to ingest as a "
                        "new wave before refreshing")
    p.add_argument("--wave", type=int, required=True,
                   help="wave id (MergeTable batch id — replays are fenced)")
    p.set_defaults(fn=cmd_dataprep_refresh)

    p = sub.add_parser("dataprep-stream")
    p.add_argument("--input", required=True,
                   help="documents directory watched by the file stream")
    p.add_argument("--store", required=True,
                   help="incremental dataprep store root (shared with "
                        "`dataprep-refresh` — a deployment can alternate "
                        "nightly waves and a live stream)")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument("--drain", action="store_true",
                   help="processAllAvailable then exit (tests/batch "
                        "drains); default runs until terminated")
    p.set_defaults(fn=cmd_dataprep_stream)

    p = sub.add_parser("vector-index")
    p.add_argument("--input", required=True,
                   help="embeddings directory watched by the file stream")
    p.add_argument("--store", required=True,
                   help="index store root (model.json + codes MergeTable)")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--fit-dir", required=True,
                   help="sf dir whose embeddings table fits the quantizers "
                        "when <store>/model.json does not exist yet")
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument("--drain", action="store_true",
                   help="processAllAvailable then exit; default runs "
                        "until terminated")
    p.set_defaults(fn=cmd_vector_index)

    p = sub.add_parser("datagen")
    p.add_argument("--output", required=True)
    p.add_argument("--convs", type=int, default=2000)
    p.add_argument("--avg-turns", type=int, default=10)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--files", type=int, default=8)
    p.set_defaults(fn=cmd_datagen)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
