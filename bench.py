#!/usr/bin/env python
"""Benchmark runner. Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Two parts:
1. every registry query at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
   on local[$SPARK_GRAFT_CPUS], materialized with count();
2. the headline north-rule metric: the full indexer pipeline over a
   deterministic generated transcripts table (~500k turns), reported as
   `indexer_turns_per_sec` (also folded into `queries` as seconds).

Scaling-efficiency evidence (paired local[N] vs local[4N]) is produced by
`scripts/bench_scaling.py` -> BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

BENCH_TURNS = int(os.environ.get("SPARK_GRAFT_BENCH_TURNS", "500000"))


def _drain_listener(lst, cap_sec: float = 20.0) -> None:
    """Listener events are delivered asynchronously on the listener bus —
    processAllAvailable() does NOT flush it. Summarizing after only the
    first row describes a partial run (with one fat feed trigger, the
    feed batch alone: throughput ~4x overstated, watermark fields null).
    Wait until the row count has been stable for a full second."""
    t0 = time.perf_counter()
    last_n, last_change = -1, time.perf_counter()
    while time.perf_counter() - t0 < cap_sec:
        n = len(lst.rows)
        if n != last_n:
            last_n, last_change = n, time.perf_counter()
        elif n > 0 and time.perf_counter() - last_change > 1.0:
            return
        time.sleep(0.1)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from dataflow_opinion_analysis_spark import datagen, entry_queries
    from dataflow_opinion_analysis_spark.plans.indexer import build_indexer
    from dataflow_opinion_analysis_spark.session import get_spark

    spark = get_spark(app_name="bench", master=f"local[{cpus}]")

    timings: dict[str, float] = {}
    for name, (fn, _) in entry_queries.registry().items():
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).count()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # noqa: BLE001
            print(f"bench: {name} failed: {e}", file=sys.stderr)
            timings[name] = -1.0

    # release the registry's checkpointed pipeline outputs before the
    # headline run so the two phases don't compete for storage memory
    entry_queries.clear_cache(spark)

    # headline: end-to-end indexer throughput on generated transcripts
    data = os.path.join(tempfile.gettempdir(), f"bench_transcripts_{BENCH_TURNS}")
    if not os.path.exists(os.path.join(data, "part-0000.parquet")):
        datagen.write_transcripts_parquet(
            data, n_convs=max(1000, BENCH_TURNS // 10), avg_turns=10, seed=42, n_files=64
        )
    t0 = time.perf_counter()
    t = spark.read.parquet(data)
    out = build_indexer(t, persist=True)
    n_turns = out.webresource.count()
    out.document.count()
    out.sentiment.count()
    wall = time.perf_counter() - t0
    timings["indexer_pipeline_generated"] = round(wall, 3)
    turns_per_sec = round(n_turns / wall, 1)

    # streaming headline — the BASELINE.json metric verbatim: end-to-end
    # turns/sec and watermark lag to the exactly-once sentiment sink on
    # the transcripts stream (same generated input, 16-file triggers, soft
    # dedupe off to match the batch headline's configuration)
    stream_tps = stream_steady_tps = stream_lag = stream_final_lag = None
    caughtup_lag = None
    try:
        import shutil as _sh

        from dataflow_opinion_analysis_spark.streaming.pipeline import (
            run_indexer_stream,
        )

        sroot = tempfile.mkdtemp(prefix="bench_stream_")
        # stream from a symlink mirror of the batch input so the
        # caught-up-lag trailing file never pollutes the shared cached dir
        sdata = os.path.join(sroot, "input")
        os.makedirs(sdata)
        for fn in os.listdir(data):
            os.symlink(os.path.join(data, fn), os.path.join(sdata, fn))
        # throughput configuration, A/B-measured at local[32] on this
        # input (round 5): trigger 64 (ONE feed batch over the 64 input files +
        # one flush batch) beats trigger 32 by ~19% warm (24.2s vs 30.0s)
        # and trigger 32 beats 16 by ~1.4x — at 32 cores the per-batch
        # fixed cost (state-store harness, claim joins, sink merges)
        # dominates, so fewer, fatter triggers win. The stream runs at one
        # state partition per core (session.start_stream).
        # The local[2]->local[8] scaling protocol keeps trigger 32: the
        # work trigger 64 removes is perfectly-scaling work, so it helps
        # wall but trims the measured efficiency margin (0.887 -> 0.851
        # informal warm steady, BENCH/BASELINE.md round-5 notes).
        t0 = time.perf_counter()
        q, sinks = run_indexer_stream(
            spark, sdata, os.path.join(sroot, "out"), os.path.join(sroot, "ckpt"),
            watermark="10 minutes", max_files_per_trigger=64,
            soft_dedupe_enabled=False,
        )
        q.processAllAvailable()
        swall = time.perf_counter() - t0
        n_stream = sinks.sentiment.read().count()
        timings["indexer_stream_generated"] = round(swall, 3)
        stream_tps = round(n_turns / swall, 1)

        # summarize the archive replay BEFORE the trailing probe so the
        # steady-tps / final-lag numbers keep describing the replay itself
        _drain_listener(sinks.query_metrics)
        s = sinks.query_metrics.summary()
        stream_lag = s.get("median_watermark_lag_sec")
        stream_final_lag = s.get("final_watermark_lag_sec")
        stream_steady_tps = s.get("steady_rows_per_sec")

        # caught-up deployment lag: the archive replay's final lag is
        # dominated by the event-time span of a fat 16-file trigger on
        # historical data; a LIVE deployment sits at watermark delay + one
        # thin trigger. Measure it: append a single small file of fresh
        # events (event time just past the archive's max) and report that
        # trigger's watermark lag.
        # Two thin triggers, because the watermark trails by one batch:
        # the first thin trigger still sees a watermark derived from the
        # last FAT archive batch (lag includes that batch's span); the
        # second one measures the steady caught-up state — watermark
        # delay + one thin trigger's event span.
        try:
            from pyspark.sql import functions as F

            max_ts = spark.read.parquet(data).agg(F.max("ts")).collect()[0][0]
            # 60s trigger cadence between the two thin batches (trail0
            # spans ~140s of event time, trail1 starts right after it)
            for k, (seed, off) in enumerate(((7, 60), (8, 200))):
                trail = os.path.join(sroot, f"trail{k}")
                datagen.write_transcripts_parquet(
                    trail, n_convs=10, avg_turns=10, seed=seed, n_files=1,
                    start_epoch=int(max_ts.timestamp()) + off, gap_seconds=1,
                    late_frac=0.0, out_of_order_frac=0.0,
                    dup_frac=0.0, near_dup_frac=0.0,
                )
                os.symlink(
                    os.path.join(trail, "part-0000.parquet"),
                    os.path.join(sdata, f"part-trail{k}.parquet"),
                )
                q.processAllAvailable()
            _drain_listener(sinks.query_metrics)
            fed = [r for r in sinks.query_metrics.rows if r["num_input_rows"]]
            if fed and fed[-1]["watermark_lag_sec"] is not None:
                caughtup_lag = round(fed[-1]["watermark_lag_sec"], 1)
        except Exception as e:  # noqa: BLE001
            print(f"bench: caught-up lag probe failed: {e}", file=sys.stderr)
        q.stop()
        spark.streams.removeListener(sinks.query_metrics)
        _sh.rmtree(sroot, ignore_errors=True)
        assert n_stream > 0
    except Exception as e:  # noqa: BLE001
        print(f"bench: streaming headline failed: {e}", file=sys.stderr)

    total = round(sum(v for v in timings.values() if v >= 0), 3)
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "indexer_turns_per_sec": turns_per_sec,
                "indexer_bench_turns": n_turns,
                "streaming_turns_per_sec": stream_tps,
                "streaming_steady_turns_per_sec": stream_steady_tps,
                "streaming_watermark_lag_sec": stream_lag,
                "streaming_final_watermark_lag_sec": stream_final_lag,
                "caughtup_watermark_lag_sec": caughtup_lag,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
