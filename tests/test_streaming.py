"""Streaming = batch equivalence, exactly-once under replay, and
checkpoint resume (FIXTURES.md §5.5-5.6, SURVEY.md §5.3)."""

from __future__ import annotations

import datetime

import pandas as pd
import pyspark.sql.functions as F
import pytest

from dataflow_opinion_analysis_spark import datagen
from dataflow_opinion_analysis_spark.plans.indexer import build_indexer
from dataflow_opinion_analysis_spark.streaming.pipeline import IndexerSinks, run_indexer_stream
from tests.conftest import normalize


def _gen(tmp_path, n_convs=60, avg_turns=8, late_frac=0.0, out_of_order_frac=0.0, n_files=5):
    path = str(tmp_path / "transcripts")
    datagen.write_transcripts_parquet(
        path, n_convs=n_convs, avg_turns=avg_turns, seed=7,
        late_frac=late_frac, out_of_order_frac=out_of_order_frac, n_files=n_files,
    )
    return path


def _append_flush(spark, path, ts="2030-01-01 00:00:00", turn_idx=0):
    """A far-future sentinel turn that pushes the watermark past all real
    data so pending state drains (excluded from comparisons)."""
    spark.createDataFrame(
        [("conv-flush", turn_idx, "user", "flush sentinel", None, datetime.datetime.fromisoformat(ts))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(path)


def _run_stream(spark, path, out, ckpt, soft=True):
    q, sinks = run_indexer_stream(
        spark, path, str(out), str(ckpt), watermark="5 minutes",
        max_files_per_trigger=2, soft_dedupe_enabled=soft,
    )
    q.processAllAvailable()
    # the watermark advances one trigger behind the data: a second sentinel
    # file forces one more micro-batch so every EventTimeTimeout fires and
    # pending state drains completely
    _append_flush(spark, path, "2030-01-01 01:00:00", turn_idx=1)
    q.processAllAvailable()
    q.stop()
    return sinks


def _no_flush(df, col="CollectionItemId"):
    return df.filter(~F.col(col).startswith("conv-flush"))


def _assert_sinks_match_batch(sinks, batch):
    """The stream's three sinks (flush sentinel rows removed) equal the
    batch indexer's frames row for row."""
    for name, stream_df, batch_df, cmp_cols in [
        (
            "webresource",
            _no_flush(sinks.webresource.read()),
            _no_flush(batch.webresource),
            ["WebResourceHash", "Url", "DocumentHash", "CollectionItemId",
             "Title", "Author", "ParentWebResourceHash", "PublicationDateId"],
        ),
        (
            "document",
            _no_flush(sinks.document.read().drop("content_hash")),
            _no_flush(batch.document),
            ["DocumentHash", "CollectionItemId", "Text", "ContentLength", "Title"],
        ),
        (
            # the flush sentinel has no lexicon hits, so no sentiment row
            "sentiment",
            sinks.sentiment.read(),
            batch.sentiment,
            ["SentimentHash", "DocumentHash", "Text", "SentimentTotalScore",
             "DominantValence", "StPositive", "StNegative"],
        ),
    ]:
        a = normalize(stream_df.select(cmp_cols).toPandas())
        b = normalize(batch_df.select(cmp_cols).toPandas())
        assert len(a) == len(b), f"{name}: {len(a)} vs {len(b)}"
        pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_stream_matches_batch(spark, tmp_path):
    """Strict 3-table equality, soft dedupe OFF in both modes (the soft
    vote rule is whole-dataset-scoped by definition, so per-micro-batch
    streaming can only approximate it — covered by the next test)."""
    path = _gen(tmp_path)
    _append_flush(spark, path)
    sinks = _run_stream(spark, path, tmp_path / "out", tmp_path / "ckpt", soft=False)

    tdf = spark.read.parquet(path)
    batch = build_indexer(tdf, persist=True, soft_dedupe_enabled=False)
    _assert_sinks_match_batch(sinks, batch)


def test_late_turns_counted_not_sunk(spark, tmp_path):
    # one conversation, then a turn that arrives after the watermark passed
    path = str(tmp_path / "t")
    rows1 = [("c1", i, "user", f"turn {i} is great", None, (pd.Timestamp("2024-01-01 00:00:00") + pd.Timedelta(minutes=i)).to_pydatetime()) for i in range(3)]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(path)
    # watermark pusher: far future
    _append_flush(spark, path, "2024-06-01 00:00:00")
    # late turn: event time way behind the watermark
    spark.createDataFrame(
        [("c1", 3, "user", "late turn is great", None, datetime.datetime(2024, 1, 1, 0, 1, 30))], schema
    ).coalesce(1).write.mode("append").parquet(path)
    _append_flush(spark, path, "2030-01-01 00:00:00")

    sinks = _run_stream(spark, path, tmp_path / "out", tmp_path / "ckpt")
    wr = sinks.webresource.read()
    assert wr.filter(F.col("CollectionItemId") == "c1:3").count() == 0, "late turn must not be sunk"
    m = spark.read.parquet(sinks.metrics_dir)
    assert m.agg(F.sum("n_late")).collect()[0][0] >= 1


def test_exactly_once_replay(spark, tmp_path):
    """Re-processing the same batches (fresh checkpoint, same sink) leaves
    the sink unchanged — MERGE idempotence under replay."""
    path = _gen(tmp_path, n_convs=20)
    _append_flush(spark, path)
    sinks = _run_stream(spark, path, tmp_path / "out", tmp_path / "ckpt1")
    counts1 = {
        "wr": sinks.webresource.read().count(),
        "doc": sinks.document.read().count(),
        "sent": sinks.sentiment.read().count(),
    }
    # same input replayed into the SAME sink with a new checkpoint: every
    # row re-delivered -> key anti-join must discard all of it
    sinks2 = _run_stream(spark, path, tmp_path / "out", tmp_path / "ckpt2")
    counts2 = {
        "wr": sinks2.webresource.read().count(),
        "doc": sinks2.document.read().count(),
        "sent": sinks2.sentiment.read().count(),
    }
    assert counts1 == counts2


def test_checkpoint_resume(spark, tmp_path):
    """Kill after the first trigger, restart, end state matches a
    single uninterrupted run."""
    path = _gen(tmp_path, n_convs=30, n_files=6)
    _append_flush(spark, path)

    # run 1: process only the first trigger then stop (simulated kill)
    q, sinks = run_indexer_stream(
        spark, path, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        watermark="5 minutes", max_files_per_trigger=2,
    )
    import time

    while not q.recentProgress:
        time.sleep(0.3)
    q.stop()

    # run 2: resume from the same checkpoint, drain
    q2, sinks = run_indexer_stream(
        spark, path, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        watermark="5 minutes", max_files_per_trigger=2,
    )
    q2.processAllAvailable()
    q2.stop()

    # reference: uninterrupted run into a fresh sink
    sinks_ref = _run_stream(spark, path, tmp_path / "out_ref", tmp_path / "ckpt_ref")

    got = normalize(_no_flush(sinks.webresource.read()).select("WebResourceHash").toPandas())
    want = normalize(_no_flush(sinks_ref.webresource.read()).select("WebResourceHash").toPandas())
    pd.testing.assert_frame_equal(got, want)


def test_stream_matches_batch_with_soft_dedupe_per_turn_texts(spark, tmp_path):
    """With soft dedupe ON, the BASELINE invariant still holds: per-turn
    text/key equality at the webresource level (every turn is sunk exactly
    once with the same keys; only the DocumentHash re-pointing may differ
    when a near-dup group spans micro-batches)."""
    path = _gen(tmp_path, n_convs=40)
    _append_flush(spark, path)
    sinks = _run_stream(spark, path, tmp_path / "out", tmp_path / "ckpt", soft=True)
    batch = build_indexer(spark.read.parquet(path), persist=True, soft_dedupe_enabled=True)

    cols = ["WebResourceHash", "Url", "CollectionItemId", "Title", "Author",
            "ParentWebResourceHash", "PublicationDateId"]
    a = normalize(_no_flush(sinks.webresource.read()).select(cols).toPandas())
    b = normalize(_no_flush(batch.webresource).select(cols).toPandas())
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_stream_matches_batch_enriched(spark, tmp_path):
    """N2 wiring parity: with enrich_ratio=1.0 both modes append the same
    cnlp:: entity tags to document Tags (reference streaming default runs
    enrichment on every doc, IndexerPipelineUtils.java:395-398)."""
    import datetime as _dt

    path = str(tmp_path / "t")
    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = []
    texts = [
        "Apache Spark and Apache Spark power the Lakehouse pipeline greatly",
        "the Query Planner from Catalyst Optimizer is great and shows Catalyst Optimizer wins",
        "we saw Tungsten Engine behave badly while Tungsten Engine and Arrow Batches ran",
        "plain lowercase text with no entities at all step four",
    ]
    for i, txt in enumerate(texts):
        rows.append(
            ("c1", i, ["user", "assistant"][i % 2], txt, None,
             (base + pd.Timedelta(minutes=i)).to_pydatetime())
        )
    spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(path)
    _append_flush(spark, path)

    q, sinks = run_indexer_stream(
        spark, path, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        watermark="5 minutes", max_files_per_trigger=2,
        soft_dedupe_enabled=False, enrich_ratio=1.0,
    )
    q.processAllAvailable()
    _append_flush(spark, path, "2030-01-01 01:00:00", turn_idx=1)
    q.processAllAvailable()
    q.stop()

    batch = build_indexer(
        spark.read.parquet(path), persist=True,
        soft_dedupe_enabled=False, enrich_ratio=1.0,
    )

    def tags_str(df):
        return normalize(
            _no_flush(df, "CollectionItemId")
            .select(
                "DocumentHash",
                F.expr(
                    "array_join(transform(Tags, t -> concat(t.Tag, '@', "
                    "coalesce(cast(t.Weight as string), 'null'))), ';')"
                ).alias("tags_str"),
            )
            .toPandas()
        )

    a = tags_str(sinks.document.read().drop("content_hash"))
    b = tags_str(batch.document)
    assert len(a) == len(b) == 4
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    # enrichment actually fired: cnlp:: tags present for the entity-bearing docs
    joined = ";".join(b["tags_str"])
    assert "cnlp::Apache Spark" in joined
    assert "cnlp::" in joined


def test_dead_letter_routing(spark, tmp_path):
    """K2/F5: strict mode raises inside the NLP stage on poison documents
    (NUL byte) and routes exactly those to the dead-letter sink; every
    other table excludes them, and equals batch strict mode; replaying
    the batch is a no-op."""
    from dataflow_opinion_analysis_spark.functions.scorer import POISON_PATTERN

    path = str(tmp_path / "t")
    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = []
    for i in range(6):
        txt = f"turn {i} is great and shows delight step{i}"
        if i in (2, 4):
            txt = f"corrupt {POISON_PATTERN} payload step{i}"
        rows.append(("c1", i, ["user", "assistant"][i % 2], txt, None,
                     (base + pd.Timedelta(minutes=i)).to_pydatetime()))
    spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(path)

    # batch mode
    out = build_indexer(spark.read.parquet(path), persist=True,
                        soft_dedupe_enabled=False, strict_scoring=True)
    dl = out.dead_letter.toPandas().sort_values("turn_idx")
    assert list(dl["turn_idx"]) == [2, 4]
    assert all("NUL byte" in e for e in dl["error"])
    docs = out.document.toPandas()
    assert len(docs) == 4
    assert not docs["Text"].str.contains(POISON_PATTERN, regex=False).any()
    assert out.sentiment.filter(
        F.col("Text").contains(POISON_PATTERN)).count() == 0
    # failed docs reach no webresource row either (dead letter only)
    assert out.webresource.count() == 4

    # streaming mode: same routing through the MergeTable sink
    _append_flush(spark, path)
    q, sinks = run_indexer_stream(
        spark, path, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        watermark="5 minutes", max_files_per_trigger=10,
        soft_dedupe_enabled=False, strict_scoring=True,
    )
    q.processAllAvailable()
    _append_flush(spark, path, "2030-01-01 01:00:00", turn_idx=1)
    q.processAllAvailable()
    q.stop()
    sdl = sinks.dead_letter.read().toPandas().sort_values("turn_idx")
    assert list(sdl["turn_idx"]) == [2, 4]
    assert sinks.document.read().filter(
        F.col("Text").contains(POISON_PATTERN)).count() == 0
    _assert_sinks_match_batch(sinks, out)
    # replay idempotence: merging the same batch again writes nothing
    first = sinks.dead_letter.read().count()
    import dataflow_opinion_analysis_spark.streaming.pipeline as sp
    dummy = sinks.dead_letter.read().limit(1)
    committed = min(sinks.dead_letter.committed_batch_ids())
    assert sinks.dead_letter.merge(dummy, committed) == 0
    assert sinks.dead_letter.read().count() == first


def test_cross_batch_near_dup_caught(spark, tmp_path):
    """A near-duplicate arriving two micro-batches after the original is
    caught by the durable fingerprint store (cross_batch_near_dedupe=True)
    and re-pointed to the original winner; the in-batch vote rule alone
    cannot see it. Replaying the store's batch is a no-op."""
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    base_txt = ("the quick brown fox jumps over the lazy dog while the band "
                "plays a merry tune in the town square tonight")
    near_txt = ("the quick brown fox jumps over the lazy dog while the band "
                "plays a merry tune in the city square tonight")
    path = str(tmp_path / "t")
    t0 = pd.Timestamp("2024-01-01 00:00:00")

    # micro-batch 1: original doc; batch 2: unrelated; batch 3: near-dup
    for i, (cid, txt) in enumerate([
        ("c1", base_txt),
        ("c2", "completely different words about gardens and rivers flowing calmly"),
        ("c3", near_txt),
    ]):
        spark.createDataFrame(
            [(cid, 1, "assistant", txt, None, (t0 + pd.Timedelta(minutes=i)).to_pydatetime())],
            schema,
        ).coalesce(1).write.mode("append").parquet(path)
    _append_flush(spark, path)

    q, sinks = run_indexer_stream(
        spark, path, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        watermark="5 minutes", max_files_per_trigger=1,
        soft_dedupe_enabled=True, cross_batch_near_dedupe=True,
    )
    q.processAllAvailable()
    _append_flush(spark, path, "2030-01-01 01:00:00", turn_idx=1)
    q.processAllAvailable()
    q.stop()

    docs = _no_flush(sinks.document.read()).toPandas()
    wr = _no_flush(sinks.webresource.read(), "CollectionItemId").toPandas()
    # the near-dup produced NO document row...
    assert not docs["Text"].str.contains("city square").any()
    assert docs["Text"].str.contains("town square").any()
    # ...but its webresource row exists, re-pointed to the original winner
    orig_hash = docs.loc[docs["Text"].str.contains("town square"), "DocumentHash"].iloc[0]
    near_wr = wr[wr["CollectionItemId"] == "c3:1"]
    assert len(near_wr) == 1
    assert near_wr["DocumentHash"].iloc[0] == orig_hash
    # fingerprint store holds the admitted (non-dupe) docs only
    fp = sinks.fingerprints.read().toPandas()
    assert orig_hash in set(fp["document_hash"])
    # the near-dup itself was NOT admitted (dupes never store fingerprints)
    all_doc_hashes = set(sinks.document.read().toPandas()["DocumentHash"])
    assert set(fp["document_hash"]) <= all_doc_hashes
    # replay idempotence on the fingerprint store
    committed = min(sinks.fingerprints.committed_batch_ids())
    assert sinks.fingerprints.merge(sinks.fingerprints.read().limit(1), committed) == 0


def test_metrics_summary_feed_flush_shape():
    """summary() must stay honest for single-fat-trigger runs: the
    zero-input flush batch does (almost) all the emission work, so it
    belongs in the throughput denominator and carries the only post-init
    watermark/lag; idle ticks (no input, no state change, no watermark
    move) stay out."""
    from dataflow_opinion_analysis_spark.streaming.metrics import (
        ThroughputListener,
    )

    def row(bid, n, dur, wm, lag, state, raw_wm=None):
        return {
            "batch_id": bid, "num_input_rows": n,
            "processed_rows_per_second": 0, "batch_duration_ms": dur,
            "watermark": raw_wm if wm is None else wm,
            "watermark_effective": wm, "max_event_ts": None,
            "watermark_lag_sec": lag, "wall_watermark_lag_sec": None,
            "state_rows": state,
        }

    lst = ThroughputListener()
    lst.rows = [
        # startup idle tick: zero input, no state, and the RAW watermark
        # string is the pre-init epoch — must not count as an advance
        row(-1, 0, 40, None, None, 0, raw_wm="1970-01-01T00:00:00.000Z"),
        row(0, 509000, 16000, None, None, 509000,
            raw_wm="1970-01-01T00:00:00.000Z"),           # fat feed
        row(1, 0, 35000, "2024-01-08T00:00:00Z", 600.0, 0),   # flush
        row(2, 120, 1500, "2024-01-08T00:10:00Z", 660.0, 120),  # trailing
        row(3, 0, 50, "2024-01-08T00:10:00Z", 660.0, 120),      # idle tick
    ]
    s = lst.summary()
    assert s["batches"] == 2          # input-bearing batches
    # denominator = feed + flush + trailing (52.5s), NOT just input batches
    assert abs(s["rows_per_sec"] - 509120 / 52.5) < 1
    assert s["steady_rows_per_sec"] == s["rows_per_sec"]
    assert s["median_watermark_lag_sec"] == 660.0
    assert s["final_watermark_lag_sec"] == 660.0
    assert s["final_watermark"] == "2024-01-08T00:10:00Z"


def test_query_metrics_listener(spark, tmp_path):
    """The throughput/watermark-lag listener is attached by default:
    per-micro-batch records land in out_root/query_metrics.jsonl and
    summary() reports throughput + watermark lag."""
    import json as _json
    import os as _os

    path = _gen(tmp_path, n_convs=10)
    _append_flush(spark, path)
    q, sinks = run_indexer_stream(
        spark, path, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        watermark="5 minutes", max_files_per_trigger=3, soft_dedupe_enabled=False,
    )
    q.processAllAvailable()
    q.stop()
    # listener events are delivered asynchronously — allow a beat
    import time as _time

    for _ in range(50):
        if sinks.query_metrics.rows:
            break
        _time.sleep(0.2)
    s = sinks.query_metrics.summary()
    assert s["batches"] >= 1
    assert s["total_rows"] > 0
    assert s["rows_per_sec"] is None or s["rows_per_sec"] > 0
    # caught-up lag: last-trigger lag only, never the 1970 pre-init sentinel
    fl = s["final_watermark_lag_sec"]
    assert fl is None or 0 <= fl < 10 * 365 * 86400
    mfile = _os.path.join(str(tmp_path / "out"), "query_metrics.jsonl")
    assert _os.path.exists(mfile)
    recs = [_json.loads(l) for l in open(mfile)]
    assert any(r["num_input_rows"] for r in recs)
    assert any(r.get("watermark_lag_sec") is not None for r in recs)
    spark.streams.removeListener(sinks.query_metrics)


def test_conversation_state_removed_after_session_gap(spark, tmp_path):
    """Regression: conversation state must be REMOVED once the event-time
    session gap elapses. The cleanup branch used to re-arm the seen-map
    timeout on every fire, retaining every conversation ever seen —
    O(history) state-store growth, which the north rule forbids
    (session-window state must stay bounded at 10^12-turn scale)."""
    import time as _time

    path = _gen(tmp_path, n_convs=40, avg_turns=6)
    _append_flush(spark, path)
    sinks = _run_stream(spark, path, tmp_path / "out", tmp_path / "ckpt", soft=False)
    for _ in range(50):
        if sinks.query_metrics.rows:
            break
        _time.sleep(0.2)
    rows = [r for r in sinks.query_metrics.rows if r["num_input_rows"]]
    assert rows, "listener recorded no batches"
    peak = max(r["state_rows"] for r in rows)
    final = rows[-1]["state_rows"]
    # state grows while conversations are live...
    assert peak >= 10, f"expected live conversation state, peak={peak}"
    # ...but the final flush batch pushes the watermark 30+ minutes past
    # every real conversation's last turn: their states must all be gone
    # (only the flush sentinel's own state may remain pending)
    assert final <= 2, f"state not cleaned up: {final} rows remain (peak {peak})"
    spark.streams.removeListener(sinks.query_metrics)


def test_rocksdb_state_store(spark, tmp_path):
    """The streaming indexer runs unchanged on Spark's RocksDB state-store
    provider (the off-heap/on-disk configuration for live-session state
    larger than executor memory) and produces the same documents as the
    default provider/batch plan."""
    path = _gen(tmp_path, n_convs=15)
    _append_flush(spark, path)
    try:
        q, sinks = run_indexer_stream(
            spark, path, str(tmp_path / "out"), str(tmp_path / "ckpt"),
            watermark="5 minutes", max_files_per_trigger=2,
            soft_dedupe_enabled=False, state_store="rocksdb",
        )
        q.processAllAvailable()
        _append_flush(spark, path, "2030-01-01 01:00:00", turn_idx=1)
        q.processAllAvailable()
        q.stop()
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            .endswith("RocksDBStateStoreProvider")
        )
        stream_docs = _no_flush(sinks.document.read(), "CollectionItemId")
        batch = build_indexer(
            spark.read.parquet(path), persist=False, soft_dedupe_enabled=False
        )
        batch_docs = _no_flush(batch.document, "CollectionItemId")
        assert sorted(r.DocumentHash for r in stream_docs.select("DocumentHash").collect()) == \
            sorted(r.DocumentHash for r in batch_docs.select("DocumentHash").collect())
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        spark.conf.unset(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        )


def test_stream_starts_at_one_partition_per_core(spark, tmp_path):
    """A stream starts at one shuffle partition per core whatever the
    session's batch width, records that width in its checkpoint's first
    offset entry (where Spark takes the state width from on restart), and
    leaves the caller's session width as it found it."""
    import json

    key = "spark.sql.shuffle.partitions"
    cores = spark.sparkContext.defaultParallelism
    prev = spark.conf.get(key)
    batch_width = str(cores + 3)
    path = _gen(tmp_path, n_convs=6, avg_turns=4, n_files=1)
    ckpt = tmp_path / "ckpt"
    spark.conf.set(key, batch_width)
    try:
        q, _ = run_indexer_stream(
            spark, path, str(tmp_path / "out"), str(ckpt),
            watermark="5 minutes", soft_dedupe_enabled=False,
        )
        assert spark.conf.get(key) == batch_width
        q.processAllAvailable()
        q.stop()
        assert spark.conf.get(key) == batch_width
    finally:
        spark.conf.set(key, prev)
    # offsets/<n>: a version line, then the batch metadata JSON
    meta = json.loads((ckpt / "offsets" / "0").read_text().splitlines()[1])
    assert meta["conf"][key] == str(cores)


def test_redelivered_turns_emitted_once(spark, tmp_path):
    """At-least-once sources redeliver: the SAME turn versions arriving
    again in later files must not re-enter the sinks. This is the
    assembler-level redelivery fence (streaming/threads.py) that the
    assume_new sink merges rely on — with it, the sink tables equal the
    single-delivery run exactly (including WebResourceHash uniqueness,
    the one key a duplicated turn version would collide)."""
    path = _gen(tmp_path, n_convs=12, n_files=2)
    # full redelivery: copy both data files back into the stream dir
    import shutil as _sh
    data_files = sorted(
        f for f in __import__("os").listdir(path) if f.endswith(".parquet")
    )
    for i, f in enumerate(data_files):
        _sh.copyfile(f"{path}/{f}", f"{path}/redelivered-{i}.parquet")
    _append_flush(spark, path)
    sinks = _run_stream(spark, path, tmp_path / "out", tmp_path / "ckpt",
                        soft=False)

    # reference: the same corpus delivered once
    path1 = _gen(tmp_path / "single", n_convs=12, n_files=2)
    _append_flush(spark, path1)
    sinks1 = _run_stream(spark, path1, tmp_path / "out1", tmp_path / "ckpt1",
                         soft=False)

    for name in ("webresource", "document", "sentiment"):
        a = getattr(sinks, name).read()
        b = getattr(sinks1, name).read()
        assert a.count() == b.count(), name
    wr = sinks.webresource.read()
    assert wr.count() == wr.select("WebResourceHash").distinct().count()


def test_stream_auto_compacts_content_index(spark, tmp_path):
    """A long-running stream must not accrete one content-index file per
    micro-batch (the claim read pays a scan task per file): with
    auto_compact_files the foreachBatch loop folds the small files and
    the stream's output is unchanged, replay fencing included."""
    path = _gen(tmp_path, n_convs=12, n_files=8)
    _append_flush(spark, path)
    q, sinks = run_indexer_stream(
        spark, path, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        watermark="5 minutes", max_files_per_trigger=1,
        soft_dedupe_enabled=False, auto_compact_files=3,
    )
    q.processAllAvailable()
    _append_flush(spark, path, "2030-01-01 01:00:00", turn_idx=1)
    q.processAllAvailable()
    q.stop()

    ci = sinks.content_index
    snap = ci.current_snapshot()
    # ~9 non-empty triggers ran; without compaction that is ~9 files
    assert len(snap["files"]) < 4
    assert any(
        (s.get("operation") == "compact_small_files") for s in ci.snapshots()
    )
    # content intact: one claim per distinct document content, winner==self
    claims = ci.read()
    assert claims.count() == claims.select("content_hash").distinct().count()
    docs = _no_flush(sinks.document.read().drop("content_hash"))
    assert docs.count() > 0
    winners = claims.join(
        sinks.document.read().select(
            F.col("DocumentHash").alias("winner_document_hash")),
        "winner_document_hash", "left_anti")
    assert winners.count() == 0  # every claim points at a real document


def test_assume_new_matches_full_merge(spark, tmp_path):
    """The assume_new fast path (no in-batch dropDuplicates, no anti-join
    against the table) must land the same table as the full merge path,
    given the preconditions the streaming sinks guarantee upstream
    (per-batch key-unique frames, disjoint across batches — pinned by
    tests/test_threads_fence.py and test_redelivered_turns_emitted_once).
    Includes a replayed batch id: fenced identically on both paths."""
    from dataflow_opinion_analysis_spark.tables.mergetable import MergeTable

    schema = "k string, v string, date_id int"
    fast = MergeTable(spark, str(tmp_path / "fast"), key_cols=["k"],
                      partition_col="date_id")
    full = MergeTable(spark, str(tmp_path / "full"), key_cols=["k"],
                      partition_col="date_id")
    batches = [
        (0, [("a", "x", 20240101), ("b", "y", 20240101)]),
        (1, [("c", "z", 20240102)]),
        (1, [("c", "REPLAY", 20240102)]),  # replayed id -> fenced
        (2, [("d", "w", 20240103), ("e", "v", 20240103)]),
    ]
    for bid, rows in batches:
        df = spark.createDataFrame(rows, schema)
        n_fast = fast.merge(df, bid, assume_new=True)
        n_full = full.merge(df, bid)
        assert n_fast == n_full
    a = sorted(tuple(r) for r in fast.read().collect())
    b = sorted(tuple(r) for r in full.read().collect())
    assert a == b and len(a) == 5
    # fencing state identical too
    assert (fast.current_snapshot()["batch_ranges"]
            == full.current_snapshot()["batch_ranges"])
