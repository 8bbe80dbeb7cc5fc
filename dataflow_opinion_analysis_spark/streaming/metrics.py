"""Throughput / watermark-lag metrics for streaming queries
(BASELINE.md target metrics; the reference has no metrics story at all).

Attach a listener to the session and every micro-batch's progress is
appended to a JSONL file + kept in memory: processedRowsPerSecond,
input rows, batch duration, event-time watermark, and watermark lag.

Watermark lag is measured in EVENT time (BASELINE.md: "eventTime.watermark
vs max input ts per micro-batch"): running max of the per-batch
``eventTime.max`` minus the current watermark. Wall-clock lag
(now - watermark) is recorded beside it but is meaningless on synthetic
corpora whose event timestamps are historical. ``summary()`` aggregates
the run.

The listener records only the query run it was attached for, the first
one started after ``attach``. Turns that Spark's watermark filter drops
before they reach the thread assembler (``numRowsDroppedByWatermark``)
are appended to the per-batch metrics directory as ``n_late``.

The metrics directory holds one row per writer and batch id, so a
replayed batch id leaves its first row standing and counts nothing twice.
"""

from __future__ import annotations

import datetime as _dt
import json
import os

from pyspark.sql.streaming import StreamingQueryListener

METRICS_SCHEMA = (
    "batch_id long, n_input long, n_ok long, n_late long, n_overflow long, "
    "n_documents long, n_sentiments long, max_event_ts timestamp"
)


def write_batch_row(metrics_dir: str, writer: str, *, max_event_ts, **counts) -> None:
    """Write ``writer``'s metrics row for ``batch_id`` as one parquet file,
    unless one exists: the first row for a (writer, batch id) stands, so a
    replayed batch counts nothing twice. Written driver-side with
    pyarrow: the row is driver-local lineage data and a distributed write
    job for a single row is pure scheduler overhead. Readable by
    ``spark.read.parquet(metrics_dir)`` (tests do exactly that) — column
    set mirrors METRICS_SCHEMA."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(metrics_dir, f"{writer}-{counts['batch_id']:010d}.parquet")
    if os.path.exists(path):
        return
    os.makedirs(metrics_dir, exist_ok=True)
    cols = {k: pa.array([v], type=pa.int64()) for k, v in counts.items()}
    # tz-aware (isAdjustedToUTC=true) to match rows a Spark TimestampType
    # writer would produce — a resumed out_root must not mix LTZ and NTZ
    # files in one directory (read fails or shifts depending on
    # spark.sql.parquet.inferTimestampNTZ)
    cols["max_event_ts"] = pa.array(
        [max_event_ts], type=pa.timestamp("us", tz="UTC")
    )
    table = pa.table(cols)
    tmp = os.path.join(metrics_dir, f".tmp-{os.path.basename(path)}")
    pq.write_table(table, tmp)
    os.rename(tmp, path)


def _parse_ts(s: str | None) -> _dt.datetime | None:
    if not s:
        return None
    try:
        return _dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError:
        return None


class ThroughputListener(StreamingQueryListener):
    def __init__(self, out_path: str | None = None, metrics_dir: str | None = None):
        self.out_path = out_path
        self.metrics_dir = metrics_dir
        # a run, not the query id: a restart from the same checkpoint keeps
        # the id, and two listeners must not both count its late turns
        self.run_id: str | None = None
        self.rows: list[dict] = []
        self._max_event_ts: _dt.datetime | None = None
        if out_path:
            os.makedirs(os.path.dirname(out_path), exist_ok=True)

    def onQueryStarted(self, event):  # noqa: N802
        # Spark posts a query's start event to listeners before any of its
        # progress events
        if self.run_id is None:
            self.run_id = str(event.runId)

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        if str(p.runId) != self.run_id:
            return
        dropped = sum(s.numRowsDroppedByWatermark for s in p.stateOperators or [])
        if dropped and self.metrics_dir:
            write_batch_row(
                self.metrics_dir, "dropped", batch_id=p.batchId, n_input=0,
                n_ok=0, n_late=dropped, n_overflow=0, n_documents=0,
                n_sentiments=0, max_event_ts=None,
            )
        et = p.eventTime or {}
        wm = _parse_ts(et.get("watermark"))
        if wm is not None and wm.timestamp() == 0:
            # pre-initialization watermark (epoch): no lag yet, not a
            # multi-decade one
            wm = None
        batch_max = _parse_ts(et.get("max"))
        if batch_max is not None and (
            self._max_event_ts is None or batch_max > self._max_event_ts
        ):
            self._max_event_ts = batch_max
        now = _dt.datetime.now(_dt.timezone.utc)
        rec = {
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "processed_rows_per_second": p.processedRowsPerSecond,
            "batch_duration_ms": (p.durationMs or {}).get("triggerExecution"),
            "watermark": et.get("watermark"),
            # epoch-filtered: None until the watermark actually initializes
            # (the raw field keeps the epoch string for fidelity; summary()
            # must not count the pre-init epoch value as an advance)
            "watermark_effective": et.get("watermark") if wm is not None else None,
            "max_event_ts": et.get("max"),
            # the north-rule lag: how far the watermark trails the newest
            # event seen so far (== watermark delay + trigger latency once
            # the stream is steady)
            "watermark_lag_sec": (
                (self._max_event_ts - wm).total_seconds()
                if wm and self._max_event_ts
                else None
            ),
            "wall_watermark_lag_sec": (now - wm).total_seconds() if wm else None,
            "state_rows": sum(
                s.numRowsTotal for s in (p.stateOperators or [])
            )
            if p.stateOperators
            else 0,
        }
        self.rows.append(rec)
        if self.out_path:
            with open(self.out_path, "a") as f:
                f.write(json.dumps(rec) + "\n")

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def summary(self) -> dict:
        data = [r for r in self.rows if r["num_input_rows"]]
        if not data:
            return {"batches": 0}
        total_rows = sum(r["num_input_rows"] for r in data)
        # WORKING batches, not input-bearing batches: under a watermark, a
        # trigger's rows are buffered in state and EMITTED by a later
        # trigger — the final flush batch has numInputRows == 0 but does
        # the sink work for everything still pending (with one fat feed
        # trigger it does almost ALL the work). Excluding it from the
        # denominator overstates throughput, so every batch that moved
        # the computation counts: input arrived, state changed, or the
        # watermark advanced. Idle ticks (none of the three) stay out.
        working, prev_state, prev_wm = [], None, None
        for r in self.rows:
            wm_eff = r.get("watermark_effective")
            moved = (
                bool(r["num_input_rows"])
                or (prev_state is not None and r["state_rows"] != prev_state)
                or (wm_eff is not None and wm_eff != prev_wm)
            )
            if moved:
                working.append(r)
            prev_state, prev_wm = r["state_rows"], wm_eff
        total_ms = sum(r["batch_duration_ms"] or 0 for r in working)
        # lags over WORKING batches: with one fat feed trigger the only
        # batch carrying a post-init watermark is the zero-input flush
        lags = [
            r["watermark_lag_sec"] for r in working
            if r["watermark_lag_sec"] is not None
        ]
        # No per-batch "steady" decomposition exists under a watermark: a
        # batch's rows are fed into state in one trigger and emitted by a
        # LATER one, so no batch window has a consistent rows numerator
        # (the old data[1:] slice both dropped the flush batch's work time
        # and skipped its emissions — overstating some shapes, 2x
        # understating others). steady_rows_per_sec is therefore the
        # whole-working-window throughput (a slight understatement: the
        # one-time startup ramp stays in the denominator); run-level
        # steady numbers — repeat the run, take the post-warm-up minimum —
        # come from scripts/bench_scaling.py.
        steady_rows, steady_ms = total_rows, total_ms
        return {
            "batches": len(data),
            "total_rows": total_rows,
            "wall_sec_in_batches": round(total_ms / 1000.0, 2),
            "rows_per_sec": round(total_rows / (total_ms / 1000.0), 1) if total_ms else None,
            "steady_rows_per_sec": (
                round(steady_rows / (steady_ms / 1000.0), 1) if steady_ms else None
            ),
            "max_state_rows": max(r["state_rows"] for r in data),
            "final_watermark": working[-1]["watermark"] if working else None,
            "median_watermark_lag_sec": sorted(lags)[len(lags) // 2] if lags else None,
            # lag once the stream has drained its backlog: watermark delay
            # + the event-time span of the last trigger — the number a
            # caught-up continuous deployment would sit at (the median
            # above is dominated by archive-replay backlog, i.e. trigger
            # size x event-time density of the historical input)
            "final_watermark_lag_sec": (
                working[-1]["watermark_lag_sec"] if working else None
            ),
        }


def attach(
    spark, out_path: str | None = None, metrics_dir: str | None = None
) -> ThroughputListener:
    """Listen for the next query started on ``spark``."""
    lst = ThroughputListener(out_path, metrics_dir)
    spark.streams.addListener(lst)
    return lst
