"""Cross-micro-batch near-dup detection via the MinHash keyed state
operator (streaming/dedupe_state.py)."""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F

from dataflow_opinion_analysis_spark.streaming.dedupe_state import (
    JACCARD_THRESHOLD,
    minhash_signature,
    stateful_near_dedupe,
)

BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep green forest to find some tasty food for the winter"
)


def test_minhash_signature_properties():
    s1 = minhash_signature(BASE)
    s2 = minhash_signature(BASE)
    assert (s1 == s2).all(), "deterministic"
    near = minhash_signature(BASE + " via feed")
    est = (s1 == near).mean()
    assert est >= JACCARD_THRESHOLD, f"near-dup est {est}"
    other = minhash_signature("completely different content about spark sql engines and shuffles here")
    assert (s1 == other).mean() < JACCARD_THRESHOLD


def test_stateful_near_dedupe_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    schema = "document_hash string, title string, text string, ts timestamp"

    def write(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    t0 = datetime.datetime(2024, 1, 1)
    # batch 1: original doc
    write([("d1", None, BASE, t0)], "f1")

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    verdicts = stateful_near_dedupe(stream)
    out = str(tmp_path / "out")
    q = (
        verdicts.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    # batch 2 (separate micro-batch): a near-dup and an unrelated doc
    write(
        [
            ("d2", None, BASE + " via feed", t0),
            ("d3", None, "unrelated text about catalyst optimizer rules and codegen stages in spark", t0),
        ],
        "f2",
    )
    q.processAllAvailable()
    q.stop()

    res = {r.document_hash: r for r in spark.read.parquet(out).collect()}
    assert not res["d1"].is_dupe
    assert res["d2"].is_dupe and res["d2"].winner_document_hash == "d1", (
        "near-dup in a LATER micro-batch must match the stored fingerprint"
    )
    assert not res["d3"].is_dupe


# ---------------------------------------------------------------------------
# durable fingerprint store (fingerprint_dedupe_batch) — replay fence +
# tie-break contract
# ---------------------------------------------------------------------------

_WINNERS_SCHEMA = (
    "expected_document_hash string, conv_id string, turn_idx int, "
    "title string, text string"
)


def _fp_store(spark, tmp_path, name="fp"):
    from dataflow_opinion_analysis_spark.streaming.dedupe_state import (
        FINGERPRINT_SCHEMA,
    )
    from dataflow_opinion_analysis_spark.tables.mergetable import MergeTable

    return MergeTable(
        spark, str(tmp_path / name), key_cols=["document_hash"],
        schema=FINGERPRINT_SCHEMA,
    )


def test_fingerprint_replay_does_not_self_dupe(spark, tmp_path):
    """Crash-replay scenario: a micro-batch fails AFTER the fingerprint
    merge committed but BEFORE the document merge. The replayed batch must
    not read its own just-stored fingerprints — without the
    store_batch_id < batch_id fence every admitted doc self-matches at
    similarity 1.0 and its document row is lost forever.
    fingerprint_dedupe_batch writes nothing, so each attempt merges the
    admitted rows itself, as the micro-batch's write group does."""
    from dataflow_opinion_analysis_spark.streaming.dedupe_state import (
        admitted_fingerprints,
        fingerprint_dedupe_batch,
    )

    store = _fp_store(spark, tmp_path)
    winners = spark.createDataFrame(
        [("h1", "c1", 1, None, BASE),
         ("h2", "c2", 1, None, "entirely unrelated musings on shuffle partitions and codegen")],
        _WINNERS_SCHEMA,
    )

    def attempt():
        verdicts = fingerprint_dedupe_batch(winners, store, batch_id=7)
        pdf = verdicts.toPandas()
        store.merge(admitted_fingerprints(verdicts), 7, assume_new=True)
        return pdf

    v1 = attempt()
    assert not v1["is_dupe"].any()
    assert store.read().count() == 2
    # the replay: same batch id, store already holds this batch's state
    v2 = attempt()
    assert not v2["is_dupe"].any(), "replayed batch self-matched its own fingerprints"
    assert (v2["winner_document_hash"] == v2["document_hash"]).all()
    # and the store merge stayed idempotent (batch id already committed)
    assert store.read().count() == 2


def test_fingerprint_tiebreak_oldest_stored_wins(spark, tmp_path):
    """Two stored fingerprints with EQUAL similarity to the probe: the
    winner must be the one from the OLDEST store batch ('older wins',
    matching the keyed-state operator's append-ordered state array) —
    not the newest, whatever the hash sort order suggests."""
    import pandas as pd

    from dataflow_opinion_analysis_spark.streaming.dedupe_state import (
        SIG_VERSION,
        batch_signatures,
        fingerprint_dedupe_batch,
    )

    store = _fp_store(spark, tmp_path)
    sig = [int(x) for x in batch_signatures(pd.Series([BASE]))[0]]
    # oldest entry has hash 'z1' (sorts LAST by hash), newest has 'a2'
    # (sorts FIRST) — so a hash-ordered or newest-first scheme would both
    # pick the wrong winner
    fp_schema = (
        "soft_title string, len_bucket int, document_hash string, "
        "sig array<bigint>, sig_version int, store_batch_id long"
    )
    store.merge(spark.createDataFrame(
        [("No Title", 0, "z1", sig, SIG_VERSION, 1)], fp_schema), batch_id=1)
    store.merge(spark.createDataFrame(
        [("No Title", 0, "a2", sig, SIG_VERSION, 2)], fp_schema), batch_id=2)

    probe = spark.createDataFrame([("h9", "c9", 1, None, BASE)], _WINNERS_SCHEMA)
    v = fingerprint_dedupe_batch(probe, store, batch_id=3).toPandas()
    assert bool(v.loc[0, "is_dupe"])
    assert v.loc[0, "winner_document_hash"] == "z1", (
        f"expected oldest stored fingerprint to win, got {v.loc[0, 'winner_document_hash']}"
    )
