"""Stateful streaming near-duplicate detection — MinHash fingerprints in
a keyed state store (north_star: "simhash/MinHash fingerprints held in a
keyed state store (flatMapGroupsWithState-style applyInPandasWithState)").

Key   : (soft_title, len_bucket) — the reference's soft-dedupe composite
        key (IndexerPipeline.java:1599-1610).
State : up to MAX_FPRINTS (signature, winner_hash, text_len) fingerprints
        per key, LRU by last-seen micro-batch (bounded state at
        10^12-turn scale; eviction is deliberate recall decay, the same
        trade-off every streaming dedupe makes).
Emit  : (document_hash, is_dupe, winner_document_hash) — a doc is a dupe
        when its MinHash signature matches a stored fingerprint with
        estimated Jaccard >= threshold; otherwise its own fingerprint is
        stored and it becomes a potential winner for later turns.

This catches near-dupes ACROSS micro-batches — the within-batch vote rule
(operators/dedupe.py) cannot. The two are complementary: the batch vote
rule reproduces the reference's semantics; this operator adds the
streaming-native fingerprint memory the reference lacks.

MinHash math is numpy-vectorized over the whole group batch: shingling is
pandas groupby-shift string concat, hashing is one pd.util.hash_array call
over all distinct (row, shingle) pairs of the batch, signatures come from
one np.minimum.at grouped min, and batch-vs-state / batch-vs-batch
similarity are two broadcast equality means. The only remaining loop is
the per-row DECISION (admit vs dupe), which is sequential by nature
(earlier batch rows become candidate winners for later ones) and does no
hashing or string work — O(batch + state) numpy indexing per row.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from dataflow_opinion_analysis_spark.session import materialize

K = 32  # minhash permutations
SHINGLE_N = 3
JACCARD_THRESHOLD = 0.5
MAX_FPRINTS = 256
P = 2147483647

# STATE FORMAT VERSION — bump whenever the signature function changes
# (shingle hash, K, SHINGLE_N, P). Signatures persisted in streaming
# checkpoints or the fingerprint store are only comparable to new ones if
# produced by the same version; on mismatch, DROP the old state (a stale
# signature silently never matches, which degrades recall without
# erroring). v2 = pd.util.hash_array shingle hashing (v1 was sha256) —
# note pandas does not contractually pin hash_array across major
# versions, so long-lived deployments should also record the pandas
# version beside the state.
SIG_VERSION = 2

_A = (2 * np.arange(K, dtype=np.int64) + 1).reshape(1, K)
_B = (np.arange(K, dtype=np.int64) ** 2 + 7).reshape(1, K)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("document_hash", T.StringType()),
        T.StructField("soft_title", T.StringType()),
        T.StructField("len_bucket", T.IntegerType()),
        T.StructField("is_dupe", T.BooleanType()),
        T.StructField("winner_document_hash", T.StringType()),
        T.StructField("est_jaccard", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("sigs", T.ArrayType(T.ArrayType(T.LongType()))),
        T.StructField("hashes", T.ArrayType(T.StringType())),
        T.StructField("last_seen", T.ArrayType(T.IntegerType())),
        T.StructField("clock", T.IntegerType()),
    ]
)


def batch_signatures(texts: pd.Series) -> np.ndarray:
    """MinHash signatures for a WHOLE batch, no per-row Python:

    tokenize (vectorized str.findall) -> explode -> 3-gram shingles via
    groupby-shift string concat -> one pd.util.hash_array over all
    distinct (row, shingle) pairs (deterministic, C-level) -> grouped
    column-min via np.minimum.at. Rows with no shingles keep the all-P
    sentinel signature."""
    n = len(texts)
    sigs = np.full((n, K), P, dtype=np.int64)
    toks = texts.fillna("").str.lower().str.findall(r"[a-z0-9']+")
    e = toks.explode().dropna()
    if e.empty:
        return sigs
    df = pd.DataFrame({"row": e.index.to_numpy(), "tok": e.to_numpy(dtype=object)})
    g = df.groupby("row")["tok"]
    t1, t2 = g.shift(-1), g.shift(-2)
    full_mask = t2.notna().to_numpy()
    sh_rows = df["row"].to_numpy()[full_mask]
    sh_vals = (
        df["tok"].to_numpy(dtype=object)[full_mask]
        + " " + t1.to_numpy(dtype=object)[full_mask]
        + " " + t2.to_numpy(dtype=object)[full_mask]
    )
    # rows with < SHINGLE_N tokens fall back to one whole-text shingle
    counts = df.groupby("row").size()
    short = counts[counts < SHINGLE_N]
    if len(short):
        short_sh = df[df["row"].isin(short.index)].groupby("row")["tok"].agg(" ".join)
        sh_rows = np.concatenate([sh_rows, short_sh.index.to_numpy()])
        sh_vals = np.concatenate([sh_vals, short_sh.to_numpy(dtype=object)])
    pairs = pd.DataFrame({"row": sh_rows, "sh": sh_vals}).drop_duplicates()
    h = (
        pd.util.hash_array(pairs["sh"].to_numpy(dtype=object)).astype(np.int64)
        & 0xFFFFFFFF
    ).reshape(-1, 1)
    perms = (h * _A + _B) % P  # (n_shingles, K)
    np.minimum.at(sigs, pairs["row"].to_numpy(), perms)
    return sigs


def minhash_signature(text: str) -> np.ndarray:
    """Single-text convenience wrapper (tests); batches use batch_signatures."""
    return batch_signatures(pd.Series([text]))[0]


# decision-pass row block: peak comparison memory is
# O(DECISION_BLOCK * (state + admitted) * K) bools instead of the
# b^2 * K a whole-batch broadcast would allocate (a 10k-row Arrow chunk
# against itself is ~3.2 GB transient; blocked it stays < ~200 MB even on
# the hot 'No Title' key)
DECISION_BLOCK = 512


def decide_group(
    batch_sigs: np.ndarray,
    doc_hashes: np.ndarray,
    state_sigs: np.ndarray,
    state_hashes: list,
    last_seen: list,
    clock: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, list[int]]:
    """The admit-vs-dupe decision for one soft-key group, shared by the
    applyInPandasWithState operator and the durable fingerprint-store
    path. Sequential by construction (an admitted row becomes a candidate
    winner for later rows) but all similarity math is block-vectorized:
    each DECISION_BLOCK rows compare against (stored state + previously
    admitted batch rows) in one broadcast and against each other in one
    (block x block) broadcast.

    Returns (is_dupe, winner, est_jaccard, new_idx); mutates last_seen
    in place for LRU. Ties between a stored-state match and an
    earlier-batch match resolve to stored state (older wins)."""
    b = len(doc_hashes)
    is_dupe = np.zeros(b, dtype=bool)
    winner = np.empty(b, dtype=object)
    est = np.zeros(b, dtype=np.float64)
    new_idx: list[int] = []
    n_state = state_sigs.shape[0]

    for s0 in range(0, b, DECISION_BLOCK):
        s1 = min(s0 + DECISION_BLOCK, b)
        bs = batch_sigs[s0:s1]
        nb = s1 - s0
        if n_state:
            sim_state = (bs[:, None, :] == state_sigs[None, :, :]).mean(axis=2)
        else:
            sim_state = np.zeros((nb, 0))
        # earlier-batch admits from previous blocks (ascending row order)
        prev_adm = [i for i in new_idx if i < s0]
        if prev_adm:
            adm_sigs = batch_sigs[prev_adm]
            sim_prev = (bs[:, None, :] == adm_sigs[None, :, :]).mean(axis=2)
        else:
            sim_prev = np.zeros((nb, 0))
        sim_intra = (bs[:, None, :] == bs[None, :, :]).mean(axis=2)
        adm_blk = np.zeros(nb, dtype=bool)
        for r in range(nb):
            i = s0 + r
            best_s = float(sim_state[r].max()) if n_state else 0.0
            # batch-prior sims in ORIGINAL row order: earlier blocks'
            # admits first, then intra-block admitted rows before r
            intra = sim_intra[r, :r] * adm_blk[:r]
            if sim_prev.shape[1] or r:
                row_prior = np.concatenate([sim_prev[r], intra])
                best_b = float(row_prior.max()) if row_prior.size else 0.0
            else:
                row_prior = np.zeros(0)
                best_b = 0.0
            best = max(best_s, best_b)
            est[i] = best
            if best >= JACCARD_THRESHOLD:
                is_dupe[i] = True
                if best_s >= best_b:  # ties resolve to stored state (older)
                    j = int(sim_state[r].argmax())
                    winner[i] = state_hashes[j]
                    last_seen[j] = clock
                else:
                    k = int(row_prior.argmax())
                    src = prev_adm[k] if k < len(prev_adm) else s0 + (k - len(prev_adm))
                    winner[i] = doc_hashes[src]
            else:
                adm_blk[r] = True
                winner[i] = doc_hashes[i]
                new_idx.append(i)
    return is_dupe, winner, est, new_idx


def dedupe_state_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    soft_title, len_bucket = key
    if state.exists:
        sigs_l, hashes, last_seen, clock = state.get
        sigs = np.array([list(s) for s in sigs_l], dtype=np.int64) if sigs_l else np.zeros((0, K), np.int64)
        hashes = list(hashes)
        last_seen = list(last_seen)
        clock = int(clock)
    else:
        sigs = np.zeros((0, K), dtype=np.int64)
        hashes, last_seen, clock = [], [], 0
    clock += 1

    out_frames = []
    if not state.hasTimedOut:
        for pdf in pdfs:
            if not len(pdf):
                continue
            batch_sigs = batch_signatures(pdf["text"].reset_index(drop=True))
            doc_hashes = pdf["document_hash"].to_numpy(dtype=object)
            is_dupe, winner, est, new_idx = decide_group(
                batch_sigs, doc_hashes, sigs, hashes, last_seen, clock
            )
            if new_idx:
                sigs = np.vstack([sigs, batch_sigs[new_idx]])
                hashes.extend(doc_hashes[new_idx].tolist())
                last_seen.extend([clock] * len(new_idx))
            out = pdf[["document_hash"]].copy()
            out["soft_title"] = soft_title
            out["len_bucket"] = np.int32(len_bucket)
            out["is_dupe"] = is_dupe
            out["winner_document_hash"] = winner
            out["est_jaccard"] = est
            out_frames.append(out)

    # LRU eviction to bound state
    if len(hashes) > MAX_FPRINTS:
        order = np.argsort(last_seen)[::-1][:MAX_FPRINTS]
        keep = sorted(order.tolist())
        sigs = sigs[keep]
        hashes = [hashes[i] for i in keep]
        last_seen = [last_seen[i] for i in keep]

    if hashes:
        state.update(
            ([s.tolist() for s in sigs], hashes, [int(x) for x in last_seen], clock)
        )
    else:
        state.remove()

    for f in out_frames:
        yield f


def stateful_near_dedupe(stream: DataFrame) -> DataFrame:
    """Streaming near-dup verdicts: input needs (document_hash, title,
    text) columns; keys by the reference soft key."""
    from dataflow_opinion_analysis_spark.operators.dedupe import with_soft_key

    keyed = with_soft_key(stream).select(
        F.col("document_hash"), "soft_title", "len_bucket", "text"
    )
    # NoTimeout: with ProcessingTimeTimeout the engine runs continuous
    # no-data micro-batches to evaluate timeouts (processAllAvailable never
    # settles). State growth is bounded by the LRU cap per key instead; a
    # watermarked production stream can use EventTimeTimeout like the
    # thread assembler.
    return keyed.groupBy("soft_title", "len_bucket").applyInPandasWithState(
        dedupe_state_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# durable fingerprint store — the foreachBatch-composable twin of the
# applyInPandasWithState operator above. Structured Streaming does not
# allow two flatMapGroupsWithState-style operators in one query (the
# thread assembler already is one), so the production pipeline keeps the
# fingerprint state in an exactly-once MergeTable instead — the same
# pattern the exact-dedupe content index uses. Restart safety comes from
# the table, not the state store.
# ---------------------------------------------------------------------------

FINGERPRINT_SCHEMA = (
    "soft_title string, len_bucket int, document_hash string, "
    "sig array<bigint>, sig_version int, store_batch_id long"
)

VERDICT_OUT_SCHEMA = (
    "document_hash string, soft_title string, len_bucket int, "
    "is_dupe boolean, winner_document_hash string, est_jaccard double, "
    "sig array<bigint>"
)


def fingerprint_dedupe_batch(winners, store, batch_id: int):
    """Cross-batch near-dedupe for one micro-batch: compare the batch's
    winners against the durable fingerprint store per soft key, admit new
    fingerprints (insert-if-absent MERGE, replay-safe), and return the
    verdict frame (document_hash, is_dupe, winner_document_hash,
    est_jaccard).

    Shapes: the store is semi-joined down to THIS batch's soft keys and
    recency-capped to MAX_FPRINTS rows per key (LRU analogue) before the
    cogrouped pandas decision — per-batch memory is O(batch + caps), not
    O(history). Rows inside a group decide in (conv_id, turn_idx) order,
    identical to the keyed-state operator (decide_group is shared).

    Replay safety: if a prior attempt of THIS batch_id crashed after the
    fingerprint merge committed but before the document merge did, the
    store already holds this batch's own fingerprints — without a fence
    every previously admitted doc would self-match at similarity 1.0 and
    be dropped as a dupe of itself. Two guards close this: (1) the store
    read is fenced to ``store_batch_id < batch_id`` (batch ids are
    monotonic, so a batch never sees its own or later state); (2) a
    verdict whose winner is the row's own document_hash is coerced to
    not-a-dupe, mirroring the exact-dedupe routing in pipeline.py.

    Scale note: the recency-cap window partitions the STORED relation by
    the soft key; a years-old store on a hot key should be compacted
    (keep newest MAX_FPRINTS per key) by a maintenance job so this read
    stays bounded — eviction is deliberate recall decay, the same trade
    the in-memory LRU makes."""
    from pyspark.sql import Window

    from dataflow_opinion_analysis_spark.operators.dedupe import with_soft_key

    keys = ["soft_title", "len_bucket"]
    keyed = with_soft_key(winners).select(
        F.col("expected_document_hash").alias("document_hash"),
        "soft_title",
        "len_bucket",
        "conv_id",
        "turn_idx",
        "text",
    )
    batch_keys = keyed.select(*keys).distinct()
    stored = (
        store.read()
        .filter(F.col("sig_version") == SIG_VERSION)
        # replay fence: never read state this batch (or a later one) wrote
        .filter(F.col("store_batch_id") < int(batch_id))
        .join(batch_keys, keys, "left_semi")
    )
    w = Window.partitionBy(*keys).orderBy(
        F.desc("store_batch_id"), F.desc("document_hash")
    )
    stored = (
        stored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= MAX_FPRINTS)
        .drop("_rk")
    )

    def fn(key: tuple, batch_pdf: pd.DataFrame, state_pdf: pd.DataFrame) -> pd.DataFrame:
        soft_title, len_bucket = key
        batch_pdf = batch_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        batch_sigs = batch_signatures(batch_pdf["text"])
        doc_hashes = batch_pdf["document_hash"].to_numpy(dtype=object)
        if len(state_pdf):
            # ascending: decide_group's argmax picks the FIRST max, and its
            # contract is 'older wins' on equal similarity — index order
            # must mean oldest-first, matching the keyed-state operator's
            # append-ordered state array (batch id, then hash for a
            # deterministic within-batch order)
            st = state_pdf.sort_values(
                ["store_batch_id", "document_hash"], ascending=[True, True]
            ).reset_index(drop=True)
            state_sigs = np.array([list(s) for s in st["sig"]], dtype=np.int64)
            state_hashes = st["document_hash"].tolist()
        else:
            state_sigs = np.zeros((0, K), dtype=np.int64)
            state_hashes = []
        last_seen = [0] * len(state_hashes)
        is_dupe, winner, est, new_idx = decide_group(
            batch_sigs, doc_hashes, state_sigs, state_hashes, last_seen, 1
        )
        new_set = set(new_idx)
        return pd.DataFrame(
            {
                "document_hash": doc_hashes,
                "soft_title": soft_title,
                "len_bucket": np.int32(len_bucket),
                "is_dupe": is_dupe,
                "winner_document_hash": winner,
                "est_jaccard": est,
                "sig": [
                    batch_sigs[i].tolist() if i in new_set else None
                    for i in range(len(doc_hashes))
                ],
            }
        )

    verdicts = materialize(
        keyed.groupBy(*keys)
        .cogroup(stored.groupBy(*keys))
        .applyInPandas(fn, VERDICT_OUT_SCHEMA),
        "shared",
    )
    store.merge(
        verdicts.filter(F.col("sig").isNotNull()).select(
            "soft_title",
            "len_bucket",
            "document_hash",
            "sig",
            F.lit(SIG_VERSION).alias("sig_version"),
            F.lit(int(batch_id)).cast("long").alias("store_batch_id"),
        ),
        batch_id,
    )
    # belt-and-braces self-winner guard (see docstring): with the batch-id
    # fence this cannot fire, but a dupe-of-itself verdict must never drop
    # a document row
    self_match = F.col("winner_document_hash") == F.col("document_hash")
    return verdicts.select(
        "document_hash",
        (F.col("is_dupe") & ~self_match).alias("is_dupe"),
        F.when(F.col("is_dupe") & ~self_match, F.col("winner_document_hash"))
        .otherwise(F.col("document_hash"))
        .alias("winner_document_hash"),
        "est_jaccard",
    )


def compact_fingerprints(store, keep: int = MAX_FPRINTS) -> tuple[int, int]:
    """The maintenance job the fingerprint store's read path assumes
    (see fingerprint_dedupe_batch's scale note): rewrite the MergeTable
    keeping only the newest `keep` fingerprints per soft key — exactly
    the recency cap the read path applies, so verdicts for any replayed
    or future batch are unchanged by compaction. Stale-SIG_VERSION rows
    are dropped too (they can never match). Returns (rows_before,
    rows_after)."""
    from pyspark.sql import Window

    before = store.read()
    n_before = before.count()
    w = Window.partitionBy("soft_title", "len_bucket").orderBy(
        F.desc("store_batch_id"), F.desc("document_hash")
    )
    kept = (
        before.filter(F.col("sig_version") == SIG_VERSION)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= keep)
        .drop("_rk")
    )
    n_after = store.replace(kept, note=f"compact keep={keep}")
    return n_before, n_after
