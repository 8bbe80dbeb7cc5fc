#!/usr/bin/env python3
"""Indexer benchmark: run one workload, check its outputs, print one JSON
result line.

    python3 perfbench/run.py --workload replay --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics named in BENCHMARK.json; ``--trace 1`` runs the same workload
with spans around each layer's calls and Spark's event log on, prints
the per-layer metrics and writes every layer figure to
``.perfbench_work/results/trace_<workload>_seed<seed>_local<cores>.json``.
The exit code is 0 only when every output check passed. README.md in
this directory explains the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
import traceback

# set-up time runs from here (the interpreter's start and these imports,
# some 40 ms, are not counted) to the start of measurement
T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# program-tuning knobs: a result measured under any of them is not the
# program's default behaviour, so the benchmark refuses to run
TUNING_ENV = (
    "SPARK_GRAFT_BATCH_PROFILE", "SPARK_GRAFT_CKPT_LEVEL", "SPARK_GRAFT_SCRATCH_LEVEL",
    "SPARK_GRAFT_NO_RANKED_CKPT", "SPARK_GRAFT_ADVISORY_PARTITION",
    "SPARK_GRAFT_BROADCAST_MAPPING_MAX_ROWS",
)
CORES = 4
# session.get_spark defaults to a 48g heap, more than a 15 GB host has
# (a probe at that default drew page reclaim); 4g holds every workload
DRIVER_MEMORY = "4g"


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


class MemoryPeak(threading.Thread):
    """Peak summed proportional set size (PSS) of this process and all its
    descendants (driver JVM, Python workers), polled from /proc. PSS counts
    a page shared by forked Python workers once, not once per worker."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._done = threading.Event()

    @staticmethod
    def sample() -> int:
        total = 0
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                pass
        return total

    def run(self) -> None:
        while not self._done.wait(self.interval):
            self.peak = max(self.peak, self.sample())

    def stop(self) -> int:
        self._done.set()
        self.join()
        return self.peak


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time a hypervisor took between two
    ``cpu_ticks`` readings: on a shared VM this, not the program, is what
    makes the same run slower from one hour to the next."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def pin_environment(work: str, cores: int) -> dict:
    """Fix every setting the measurement depends on; returns them for the
    result record. Must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # Python workers import the package from the checkout; without this
    # every pandas UDF fails with ModuleNotFoundError
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's too: temp files under the
    # checkout, no hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "master": f"local[{cores}]",
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYTHONPATH": os.environ["PYTHONPATH"],
        # a fresh local dir inside the checkout per run: no stale shuffle
        # or checkpoint blocks from an earlier run, nothing written outside
        "spark.local.dir": os.path.join(work, "spark-local"),
        "java.io.tmpdir": tmp,
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it to exit
    (the JVM's Python workers exit with it)."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args) -> int:
    import tracing
    import workloads
    from dataflow_opinion_analysis_spark.session import get_spark

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workload = workloads.WORKLOADS[args.workload]()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    settings = pin_environment(run_dir, args.cores)
    conf = {"spark.local.dir": settings["spark.local.dir"]}
    tracer = memory = None
    if args.trace:
        tracer = tracing.Tracer()
        conf.update(tracing.eventlog_conf(os.path.join(run_dir, "eventlog")))
        workload.install(tracer)
        memory = MemoryPeak()
        memory.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", master=settings["master"], extra_conf=conf)
        t1 = time.perf_counter()
        inp = workload.make_inputs(args.seed, os.path.join(run_dir, "inputs"))
        t2 = time.perf_counter()
        workload.warm(spark, inp, tracer)
        t3 = time.perf_counter()
        setup_s = t3 - T_START
        log(f"set-up {setup_s:.1f}s: session {t1 - t0:.1f}s, inputs {t2 - t1:.1f}s, warm-up {t3 - t2:.1f}s; measuring")
        if tracer is not None:
            tracer.reset()
        ticks = cpu_ticks()
        workload.measure(spark, inp, args.seconds, tracer)
        settings["steal_share"] = steal_share(ticks, cpu_ticks())
        log(f"measured; hypervisor steal {100 * settings['steal_share']:.1f}% of CPU time")
        e2e, attempted = workload.results(inp)
        e2e["setup_s"] = setup_s

        layer, extra = {}, {}
        if tracer is not None:
            tracer.restore()
            layer, extra = workload.layers(inp, tracer)
            layer.update(
                {
                    "peak_rss_mb": memory.stop() / 2**20,
                    "session.start_s": t1 - t0,
                    "session.datagen_s": t2 - t1,
                    "session.warmup_s": t3 - t2,
                }
            )
            batches = tracer.windows("pipeline.process_batch") or None
        stop_spark(spark)
        spark = None
        if tracer is not None:
            layer.update(
                tracing.spark_metrics(
                    os.path.join(run_dir, "eventlog"), workload.window, args.cores, batches, workload.udf_window
                )
            )
            layer["scorer.rows_per_s"] = layer["scorer.rows"] / max(1e-9, layer["scorer.stage_s"])

        log("spark stopped; checking outputs")
        n_checks, failed_checks = workload.check(inp)
        log("checked")
    finally:
        if memory is not None and memory.is_alive():
            memory.stop()
        if spark is not None:
            stop_spark(spark)
    for msg in failed_checks:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = {**e2e, **layer} if args.trace else e2e
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name not in values:
            if not (args.trace and name.startswith(workload.idle_layers)):
                raise RuntimeError(f"workload {args.workload} did not measure {name}")
            values[name] = 0  # a layer this workload does not run
        metrics[name] = {"value": values[name], "unit": m["unit"]}

    if args.trace:
        out = os.path.join(WORK, "results", f"trace_{args.workload}_seed{args.seed}_local{args.cores}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump(
                {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                 "settings": settings, "end_to_end_traced": e2e, "per_layer": values,
                 "layer_timings": extra, "spans": len(tracer.spans)},
                f, indent=1, sort_keys=True, default=float,
            )
        print(f"trace written to {out}", file=sys.stderr)
    print(json.dumps({"settings": settings, "failed_checks": failed_checks}), file=sys.stderr)
    print(json.dumps({
        "correct": not failed_checks,
        # operations (micro-batches or backfill steps) and output checks
        "attempted": attempted + n_checks,
        "failed": len(failed_checks),
        "metrics": metrics,
    }))
    return 0 if not failed_checks else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["replay", "backfill"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # the N->4N efficiency diagnostic runs replay traced at --cores 1
    ap.add_argument("--cores", type=int, default=CORES)
    args = ap.parse_args()
    tuned = [k for k in TUNING_ENV if k in os.environ]
    if tuned:
        print(f"refusing to run: program-tuning variables set: {', '.join(tuned)}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
