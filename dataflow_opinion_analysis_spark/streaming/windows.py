"""Streaming forms of the events operators: sliding event-time windows,
the stream-stream interval join, and watermark-correct CEP sequence
detection — the north rule's "tumbling/sliding/session windows,
watermarks, stateful join" made concrete on a live stream. Each builder
takes an (already unbounded) events-shaped DataFrame
(event_id:long, ts:timestamp, user_id:long, event_type:string,
value:double) and returns the streaming DataFrame; the batch twins in
operators/events_ops.py define the exact semantics, and
tests/test_streaming_windows.py proves stream == batch on the same
input (out-of-order within the watermark included).

Scale notes:
- sliding_agg_stream keeps one aggregation state row per
  (window, event_type) — windows expire as the watermark passes, so
  state is O(active windows), never O(events).
- interval_join_stream is Spark's native stream-stream inner join; the
  explicit time-range predicate is what lets the join state expire (a
  view can only match purchases <= 6h ahead, so a view row is dropped
  from state once the purchase-side watermark passes view.ts + 6h).
- cep_pattern_stream holds, per user, ONLY the last two
  watermark-final filtered events plus the not-yet-final tail — state
  is O(watermark lag), not O(history); everything older is provably
  unable to start, extend, or break a future match (any breaker of a
  triple lies between its endpoints, so a triple whose last event is
  final cannot be broken by future arrivals).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from dataflow_opinion_analysis_spark.operators.events_ops import (
    ATTRIBUTION_WINDOW_HOURS,
    CEP_PATTERN,
    CEP_WINDOW_HOURS,
    SLIDE_STEP_MIN,
    SLIDE_WINDOW,
)
from dataflow_opinion_analysis_spark.session import materialize, start_stream

# stream == batch equivalence depends on every window constant coming
# from the batch operator module — a locally re-declared copy could
# silently diverge the twins
ATTRIBUTION_HOURS = ATTRIBUTION_WINDOW_HOURS


def sliding_agg_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of events_sliding_agg: 1-hour windows sliding every
    15 minutes, grouped by event type. Run in "complete" or "update"
    output mode while windows are open; in append mode a window emits
    once the watermark passes its end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", SLIDE_WINDOW, f"{SLIDE_STEP_MIN} minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("total_value_c"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value_c",
            "n_users_approx",
        )
    )


def interval_join_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of events_interval_join: a stream-stream self inner
    join attributing each purchase to the same user's views in the
    preceding ATTRIBUTION_HOURS. Both sides carry the watermark and the
    join condition bounds purchase.ts to (view.ts, view.ts + 6h] — the
    two together are what let Spark expire per-key join state."""
    wmk = events.withWatermark("ts", watermark)
    v = wmk.filter(F.col("event_type") == "view").alias("v")
    p = wmk.filter(F.col("event_type") == "purchase").alias("p")
    return v.join(
        p,
        F.expr(
            f"""
            p.user_id = v.user_id
            AND p.ts > v.ts
            AND p.ts <= v.ts + INTERVAL {ATTRIBUTION_HOURS} HOUR
            """
        ),
        "inner",
    ).select(
        F.col("v.user_id").alias("user_id"),
        F.col("v.event_id").alias("view_event_id"),
        F.col("p.event_id").alias("purchase_event_id"),
        F.col("v.ts").alias("view_ts"),
        F.col("p.ts").alias("purchase_ts"),
        F.round(F.col("p.value") * 100).cast("bigint").alias("purchase_value_c"),
    )


# -- CEP ---------------------------------------------------------------------

CEP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("view_event_id", T.LongType()),
        T.StructField("click_event_id", T.LongType()),
        T.StructField("purchase_event_id", T.LongType()),
        T.StructField("pattern_start", T.TimestampType()),
        T.StructField("pattern_end", T.TimestampType()),
    ]
)

CEP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("e_id", T.ArrayType(T.LongType())),
        T.StructField("e_ts", T.ArrayType(T.LongType())),  # micros
        T.StructField("e_type", T.ArrayType(T.StringType())),
    ]
)

_CEP_WINDOW_US = CEP_WINDOW_HOURS * 3600 * 1_000_000
_TYPES = list(CEP_PATTERN)


def _cep_matches(buf: list[tuple], upto: int) -> list[tuple]:
    """Consecutive-triple scan over the sorted buffer; triples whose last
    index is < upto are final. Returns (view_id, click_id, purchase_id,
    start_us, end_us) tuples."""
    out = []
    for i in range(max(0, upto - 2)):
        a, b, c = buf[i], buf[i + 1], buf[i + 2]
        if (
            a[2] == _TYPES[0]
            and b[2] == _TYPES[1]
            and c[2] == _TYPES[2]
            and c[1] <= a[1] + _CEP_WINDOW_US
        ):
            out.append((a[0], b[0], c[0], a[1], c[1]))
    return out


def cep_pattern_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    buf: list[tuple] = []  # (event_id, ts_us, event_type), sorted
    if state.exists:
        (ids, tss, types) = state.get
        buf = list(zip(ids, tss, types))

    wm_us = state.getCurrentWatermarkMs() * 1000
    matches: list[tuple] = []

    if state.hasTimedOut:
        # the watermark passed every buffered event: everything is final.
        matches = _cep_matches(buf, len(buf))
        state.remove()
    else:
        known = {r[0] for r in buf}
        for pdf in pdfs:
            if not len(pdf):
                continue
            ids = pdf["event_id"].tolist()
            tss = (pdf["ts"].to_numpy("datetime64[us]").astype("int64")).tolist()
            types = pdf["event_type"].tolist()
            for i in range(len(ids)):
                # drop redeliveries and sub-watermark stragglers: a
                # triple whose endpoints are final was already emitted,
                # and a late row between final events could otherwise
                # rewrite history
                if ids[i] in known or tss[i] < wm_us:
                    continue
                known.add(ids[i])
                buf.append((int(ids[i]), int(tss[i]), types[i]))
        buf.sort(key=lambda r: (r[1], r[0]))

        # finals: events strictly below the watermark. A triple ending at
        # a final event is immutable (any breaker sits between its
        # endpoints, hence also below the watermark and already here).
        n_final = 0
        while n_final < len(buf) and buf[n_final][1] < wm_us:
            n_final += 1
        matches = _cep_matches(buf, n_final)

        # evict finals that can no longer START a new triple: keep the
        # last two (their triples still await a non-final end), drop the
        # rest. This is the O(watermark-lag) state bound.
        keep_from = max(0, n_final - 2)
        buf = buf[keep_from:]

        if buf:
            max_ts_ms = max(r[1] for r in buf) // 1000
            state.update((
                [r[0] for r in buf],
                [r[1] for r in buf],
                [r[2] for r in buf],
            ))
            # fire once the watermark passes the newest buffered event, so
            # the tail drains even if the user's stream goes quiet (Spark
            # requires the timeout to sit strictly above the watermark —
            # the kept finals are below it by construction)
            state.setTimeoutTimestamp(max(max_ts_ms + 1, wm_us // 1000 + 1))
        else:
            state.remove()

    if matches:
        yield pd.DataFrame(
            {
                "user_id": [int(user_id)] * len(matches),
                "view_event_id": [m[0] for m in matches],
                "click_event_id": [m[1] for m in matches],
                "purchase_event_id": [m[2] for m in matches],
                "pattern_start": np.array([m[3] for m in matches], dtype="int64").view(
                    "datetime64[us]"
                ),
                "pattern_end": np.array([m[4] for m in matches], dtype="int64").view(
                    "datetime64[us]"
                ),
            }
        )


def cep_pattern_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of events_cep_pattern: per-user keyed state scans
    for consecutive view -> click -> purchase runs (within
    CEP_WINDOW_HOURS) over the (view|click|purchase)-filtered stream,
    emitting each match exactly once when its last event falls below the
    watermark."""
    flt = events.filter(F.col("event_type").isin(*_TYPES)).select(
        "user_id", "event_id", "ts", "event_type"
    )
    return (
        flt.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            cep_pattern_fn,
            outputStructType=CEP_OUTPUT_SCHEMA,
            stateStructType=CEP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_windowed_agg_table(
    spark,
    src_dir: str,
    schema,
    store_path: str,
    checkpoint: str,
    watermark: str = "10 minutes",
    max_files_per_trigger: int = 1,
):
    """Continuously maintain the sliding-window aggregate as a DURABLE
    exactly-once table — the continuous-materialized-aggregate shape
    (TimescaleDB continuous aggregates / Flink windowed upsert sinks),
    composed from this repo's two primitives:

    - ``sliding_agg_stream`` in APPEND output mode: a (window,
      event_type) row is emitted exactly once, when the watermark passes
      the window end — late events inside the watermark are folded in
      BEFORE emission, so the emitted row is final;
    - a ``MergeTable`` keyed by (window_start, event_type): because
      every emitted row is final and emitted once, the merge runs with
      ``assume_new``, which skips the key anti-join — so the batch-id
      fence is the only guard against a replayed micro-batch (the HLL
      duplicate tripwire still catches gross key repeats).

    Returns ``(query, table)``; the caller drains/stops the query. The
    table equals the batch aggregate over the closed input for every
    finalized window (tests/test_streaming_windows.py).

    Scale: aggregation state is O(open windows x event types), bounded
    by the watermark; the sink commit is O(batch). At 10^12 events the
    table itself is tiny (one row per window x type), so merges never
    become the bottleneck; partition the table by a window-date column
    (MergeTable(partition_col=...)) if readers prune by day.
    """
    from dataflow_opinion_analysis_spark.tables.mergetable import MergeTable

    # explicit schema: an input that produced no finalized window must
    # still leave a readable (empty) table — without it read() raises
    # "empty table and no schema given"
    table = MergeTable(
        spark, store_path, key_cols=["window_start", "event_type"],
        schema=("window_start timestamp, event_type string, n bigint, "
                "total_value_c bigint, n_users_approx bigint"),
    )
    sdf = sliding_agg_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir),
        watermark,
    )
    def _fb(df: DataFrame, bid: int):
        # materialize the micro-batch ONCE (the eager checkpoint runs
        # every partition of the stateful plan, which Spark's state-store
        # commit validation requires, and merge's several consumers then
        # read the checkpoint instead of re-running the aggregate).
        # assume_new: in APPEND output mode a (window_start, event_type)
        # key is emitted exactly once — when the watermark passes the
        # window end — and never again (its state row is dropped), so
        # cross-batch key disjointness is guaranteed upstream; replays
        # are fenced by batch id. The merge is then one narrow write
        # instead of bounds-agg + history anti-join per trigger, with
        # the HLL duplicate tripwire still armed.
        frame = materialize(df, "shared")
        table.merge(frame, bid, assume_new=True)

    return start_stream(sdf, _fb, checkpoint), table


def events_cagg_stream(spark, sf_dir: str) -> DataFrame:
    """Driver gate for ``run_windowed_agg_table``: replay the events
    table through the continuous-aggregate stream (one real file + two
    far-future watermark sentinels), then return the DURABLE table's
    finalized real windows. Only the cross-engine-exact columns are
    projected (the HLL user sketch is engine-specific; the exact
    distinct count is gated on the batch twin `events_sliding_agg`).
    The DuckDB oracle is the same 4-windows-per-event expansion the
    batch gate uses, minus that column — so the gate proves the
    streamed, exactly-once, watermark-finalized TABLE equals the batch
    aggregate."""
    import datetime as _dt
    import os as _os
    import shutil as _sh
    import tempfile as _tf

    root = _tf.mkdtemp(prefix="cagg_gate_")
    src = _os.path.join(root, "in")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")  # NTZ -> LTZ for the watermark
    )
    ev.coalesce(1).write.mode("append").parquet(src)
    q, table = run_windowed_agg_table(
        spark, src, ev.schema,
        _os.path.join(root, "store"), _os.path.join(root, "ckpt"),
    )
    q.processAllAvailable()
    schema_str = ("event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
    for i, ts in enumerate(("2030-01-01 00:00:00", "2030-01-01 01:00:00")):
        spark.createDataFrame(
            [(-101 - i, _dt.datetime.fromisoformat(ts), -1, "view", 0.0,
              None)],
            schema_str,
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    q.stop()
    out = (
        table.read()
        .filter(F.col("window_start") < "2029-01-01")
        .select(
            F.col("window_start").cast("timestamp_ntz").alias("window_start"),
            "event_type", "n", "total_value_c",
        )
    )
    # materialize, then remove the per-invocation temp root (input copy,
    # store, checkpoint) — the gate used to leak it every call
    out = materialize(out, "scratch")
    _sh.rmtree(root, ignore_errors=True)
    return out
