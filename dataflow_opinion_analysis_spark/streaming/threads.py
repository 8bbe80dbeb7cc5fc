"""Stateful thread reconstruction — the streaming twin of the batch
``lag()`` parent-link derivation (operators/ingest.py), and the Spark
re-expression of the reference's Reddit post⋈comments thread assembly
(CoGroupByKey + per-thread loop, IndexerPipeline.java:489-613).

Keyed ``applyInPandasWithState`` on ``conv_id`` with event-time timeouts:

- incoming turns are buffered in keyed state until the event-time
  watermark passes their ``ts`` (so out-of-order turns inside the
  allowed lateness are emitted in stable ``turn_idx`` order — the
  BASELINE.json invariant);
- each emitted turn carries ``parent_ts`` resolved from the
  conversation's seen-versions set (parent = newest observed version of
  turn_idx - 1), exactly what the batch ``lag`` computes;
- turns arriving *behind* the watermark are emitted with
  ``status='late'`` (the sink filters and counts them — the reference
  has no late-data story at all, SURVEY.md §2.12 R3);
- per-conversation state is bounded: the seen-versions set keeps the
  most recent ``SEEN_CAP`` (turn_idx, ts) pairs — a SET of versions,
  not a per-turn map, because it is the at-most-once fence the
  assume_new sink merges rely on; emitted pairs at or above the
  watermark are kept past it, up to a hard cap of 10 × ``SEEN_CAP``
  where the query fails — and the pending buffer at most
  ``PENDING_CAP`` turns (hot-conversation protection at 10^12-turn
  scale; overflow turns are emitted immediately with
  ``status='overflow'`` rather than growing state).

Performance note: ``applyInPandasWithState`` invokes the function once
per GROUP. Conversation groups are tiny (~10 turns), so at scale the
stage cost is (number of active conversations) × (per-call constant),
not row volume. The group logic is therefore plain Python over lists
and dicts — for a 10-row group that is ~10× cheaper than the same
logic as pandas ops (each pandas call carries ~50-100µs of dispatch
overhead; 15 of them per group once measured 0.8ms/group ≈ 70% of
total stream time). Row data still crosses the JVM/Python boundary as
Arrow record batches, and groups that emit nothing this batch build no
DataFrame at all. At small scale the fixed launch cost of each state
task dominates instead: with 140 conversations and warm Python workers
at local[4], one micro-batch of this operator took 2.6-2.8 s at state
width 8 (two task waves) and 1.2-1.9 s at width 4 (one wave), which is
why every stream starts at one state partition per core
(session.start_stream).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SEEN_CAP = 4096
PENDING_CAP = 65536

# int64 pattern of numpy NaT — viewing it as datetime64[us] yields NaT
# (missing parent_ts without a float round-trip)
_NAT_US = np.int64(np.iinfo(np.int64).min)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("parent_ts", T.TimestampType()),
        T.StructField("status", T.StringType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("p_turn_idx", T.ArrayType(T.IntegerType())),
        T.StructField("p_role", T.ArrayType(T.StringType())),
        T.StructField("p_text", T.ArrayType(T.StringType())),
        T.StructField("p_tool", T.ArrayType(T.StringType())),
        T.StructField("p_ts", T.ArrayType(T.LongType())),  # micros
        T.StructField("s_turn_idx", T.ArrayType(T.IntegerType())),
        T.StructField("s_ts", T.ArrayType(T.LongType())),  # micros
    ]
)

_PCOLS = ["turn_idx", "role", "text", "tool", "ts_us"]


def assemble_threads_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (conv_id,) = key
    # rows are (turn_idx, role, text, tool, ts_us) tuples
    if state.exists:
        (p_idx, p_role, p_text, p_tool, p_ts, s_idx, s_ts) = state.get
        pending = list(zip(p_idx, p_role, p_text, p_tool, p_ts))
        # seen VERSIONS: (turn_idx, ts) pairs — the s arrays may carry
        # several entries per turn_idx (one per observed version)
        seen_pairs = list(zip(s_idx, s_ts))
    else:
        pending = []
        seen_pairs = []
    pair_set = set(seen_pairs)

    wm_us = state.getCurrentWatermarkMs() * 1000
    late_rows: list[tuple] = []

    if not state.hasTimedOut:
        # redelivery fence: a turn VERSION is identified by (turn_idx, ts).
        # An at-least-once source may deliver the same version twice — in
        # one batch, across batches while the original is still pending,
        # or after the original was emitted. In-flight duplicates are
        # caught by the pending-key set; everything else by the seen-pairs
        # SET, which records every version ever admitted. (A per-turn
        # newest-ts MAP is not a fence: once a second version of the turn
        # replaces the entry, a redelivery of the first version no longer
        # matches — and on the ts == watermark edge, or for an
        # 'overflow'-emitted version still above the watermark, it would
        # be re-admitted and emitted 'ok' TWICE.) Deduping HERE — per
        # conversation, in the already-grouped state stage, zero extra
        # shuffle — is what lets the sink merges run with
        # assume_unique/assume_new (tables/mergetable.py) instead of
        # re-deduplicating three wide fan-out frames per micro-batch; a
        # double 'ok' emission would commit a duplicate WebResourceHash
        # key permanently.
        pkeys = {(r[0], r[4]) for r in pending}
        for pdf in pdfs:
            if not len(pdf):
                continue
            idx = pdf["turn_idx"].tolist()
            role = pdf["role"].tolist()
            text = pdf["text"].tolist()
            tool = pdf["tool"].tolist()
            ts_us = (pdf["ts"].to_numpy("datetime64[us]").astype("int64")).tolist()
            for i in range(len(idx)):
                ti, t = int(idx[i]), ts_us[i]
                if (ti, t) in pkeys or (ti, t) in pair_set:
                    continue  # duplicate delivery of a known version
                pkeys.add((ti, t))
                pair_set.add((ti, t))
                seen_pairs.append((ti, t))
                row = (ti, role[i], text[i], tool[i], t)
                if wm_us > 0 and t < wm_us:
                    late_rows.append(row)
                else:
                    pending.append(row)

    # emit everything the watermark has passed, in stable turn_idx order
    # (list.sort is stable: arrival order breaks (turn_idx, ts) ties,
    # exactly like the former sort_values(kind="stable"))
    pending.sort(key=lambda r: (r[0], r[4]))
    ripe = [r for r in pending if r[4] <= wm_us]
    still = [r for r in pending if r[4] > wm_us]
    n_overflow = len(still) - PENDING_CAP
    overflow: list[tuple] = []
    if n_overflow > 0:
        # hot-conversation overflow: force-emit the oldest overflow turns
        overflow, still = still[:n_overflow], still[n_overflow:]

    # an emitted pair may have been evicted from the seen set in an
    # EARLIER call while it sat pending (pkeys covered it then; nothing
    # does after emission) — re-add before eviction so every version
    # emitted 'ok'/'overflow' leaves this call fenced
    for r in ripe:
        p = (r[0], r[4])
        if p not in pair_set:
            pair_set.add(p)
            seen_pairs.append(p)
    for r in overflow:
        p = (r[0], r[4])
        if p not in pair_set:
            pair_set.add(p)
            seen_pairs.append(p)

    # bound the seen-pairs set. Eviction is fence-aware, in priority
    # order:
    # 1. EMITTED at/above-watermark pairs are ALL kept — they are the
    #    sole fence against re-admission as 'ok'/'overflow' (a just-
    #    overflowed batch holds > PENDING_CAP above-wm pairs, far over
    #    SEEN_CAP, and the overflow-EMITTED ones are precisely the pairs
    #    that must survive). They are deliberately NOT clamped to
    #    SEEN_CAP: evicting an emitted above-wm pair would re-admit its
    #    redelivery as 'ok'/'overflow' and commit duplicate keys through
    #    the assume_new sinks. The set is bounded only while the
    #    watermark advances: emitted pairs age below it and free the
    #    budget. One call adds at most its own batch's emissions, but if
    #    the watermark stalls while a hot conversation keeps overflowing,
    #    the excess grows by each batch's emissions. Past the hard cap,
    #    10 x SEEN_CAP, the call raises and fails the query rather than
    #    grow one conversation's state without bound or drop a fence
    #    pair;
    # 2. still-PENDING above-wm pairs next — pkeys double-covers them
    #    while pending, and the emission re-add above restores their
    #    fence entry if evicted here;
    # 3. below-watermark pairs are fence-irrelevant (redelivery routes
    #    'late', which the sink drops) and compact to one newest-version
    #    entry per turn — all the parent link needs.
    if len(seen_pairs) > SEEN_CAP:
        still_keys = {(r[0], r[4]) for r in still}
        emitted_crit: list[tuple] = []
        pending_crit: list[tuple] = []
        old_latest: dict[int, int] = {}
        for ti, t in seen_pairs:
            if t >= wm_us:
                if (ti, t) in still_keys:
                    pending_crit.append((ti, t))
                else:
                    emitted_crit.append((ti, t))
            elif old_latest.get(ti, -1) < t:
                old_latest[ti] = t
        if len(emitted_crit) > 10 * SEEN_CAP:
            raise RuntimeError(
                f"thread fence of conversation {conv_id!r} holds "
                f"{len(emitted_crit)} emitted pairs at or above the "
                f"watermark ({wm_us} us), over the hard cap of "
                f"{10 * SEEN_CAP} (10 x SEEN_CAP): the watermark is "
                f"stalled while the conversation keeps overflowing"
            )
        keep = emitted_crit
        room = SEEN_CAP - len(keep)
        if room > 0 and pending_crit:
            keep = keep + sorted(
                pending_crit, key=lambda p: (p[1], p[0])
            )[-room:]
            room = SEEN_CAP - len(keep)
        extra = (
            [(ti, old_latest[ti]) for ti in sorted(old_latest)[-room:]]
            if room > 0
            else []
        )
        seen_pairs = extra + keep

    if len(still) or (len(seen_pairs) and not state.hasTimedOut):
        state.update(
            (
                [int(r[0]) for r in still],
                [r[1] for r in still],
                [r[2] for r in still],
                [r[3] for r in still],
                [int(r[4]) for r in still],
                [int(p[0]) for p in seen_pairs],
                [int(p[1]) for p in seen_pairs],
            )
        )
        if len(still):
            # wake when the watermark passes the earliest pending turn
            state.setTimeoutTimestamp(min(r[4] for r in still) // 1000 + 1)
        else:
            # keep the seen-map for a session gap, then drop it
            state.setTimeoutTimestamp(max(wm_us // 1000, 1) + 30 * 60 * 1000)
    else:
        # either nothing tracked at all, or the session-gap timeout fired
        # with no pending turns. Removal is safe only when every seen
        # pair is BEHIND the watermark — then any post-removal arrival is
        # late by construction and the sink drops it. An overflow-emitted
        # version can carry ts far ABOVE the watermark (skewed/future
        # event time); removing its fence pair would let a redelivery
        # re-enter as 'ok'. Retain exactly those pairs and re-arm the
        # timeout for when the watermark passes the last of them — state
        # is still bounded (pairs age below the watermark and the next
        # timeout removes everything), never O(history).
        fence_live = [p for p in seen_pairs if p[1] >= wm_us]
        if fence_live:
            state.update(([], [], [], [], [],
                          [int(p[0]) for p in fence_live],
                          [int(p[1]) for p in fence_live]))
            state.setTimeoutTimestamp(
                max(p[1] for p in fence_live) // 1000 + 1
            )
        else:
            state.remove()

    n_late, n_ripe = len(late_rows), len(ripe) + len(overflow)
    if n_late or n_ripe:
        # overflow and ripe rows interleave back into (turn_idx, ts) order
        # (both sublists are already sorted and cannot tie across lists:
        # ripe ts <= wm < overflow ts — so this reproduces the single
        # stable sort of the pending frame exactly); late rows lead, in
        # arrival order
        tagged = sorted(
            [(r, "overflow") for r in overflow] + [(r, "ok") for r in ripe],
            key=lambda p: (p[0][0], p[0][4]),
        )
        rows = late_rows + [p[0] for p in tagged]
        status = ["late"] * n_late + [p[1] for p in tagged]
        ts_col = np.fromiter((r[4] for r in rows), dtype="int64", count=len(rows))
        # parent link = newest observed version of turn_idx - 1
        latest: dict[int, int] = {}
        for ti, t in seen_pairs:
            if latest.get(ti, _NAT_US) < t:
                latest[ti] = t
        parent_col = np.fromiter(
            (latest.get(r[0] - 1, _NAT_US) for r in rows),
            dtype="int64", count=len(rows),
        )
        yield pd.DataFrame(
            {
                "conv_id": [conv_id] * len(rows),
                "turn_idx": np.fromiter(
                    (r[0] for r in rows), dtype="int64", count=len(rows)
                ),
                "role": [r[1] for r in rows],
                "text": [r[2] for r in rows],
                "tool": [r[3] for r in rows],
                "ts": ts_col.view("datetime64[us]"),
                "parent_ts": parent_col.view("datetime64[us]"),
                "status": status,
            }
        )


def assemble_threads(stream: DataFrame) -> DataFrame:
    """Streaming transcripts (with watermark already applied) ->
    watermark-ordered turns with parent_ts + status."""
    return stream.groupBy("conv_id").applyInPandasWithState(
        assemble_threads_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
