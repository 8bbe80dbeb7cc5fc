"""The two benchmark workloads and their output checks.

``replay``: the streaming indexer (``run_indexer_stream``) drains rounds
of pre-generated transcripts, closed loop. ``backfill``: the batch indexer
(``build_indexer``) written as ``cli index`` writes it, the stats chain
over that warehouse as ``cli statscalc`` runs it, then two near-dup gates
of ``entry_queries.registry()``. README.md says why.

run.py drives every workload through the same steps:
``make_inputs`` (seeded; set-up), ``warm`` (set-up), ``measure`` (timed),
``results`` (end-to-end metrics), ``layers`` (traced run only) and
``check`` (untimed; returns the number of checks and the failed ones).
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import inputs
from tracing import union_length
from dataflow_opinion_analysis_spark import datagen, oracles, oracles_stats
from dataflow_opinion_analysis_spark.plans import stats

FACTS = {"webresource": "PublicationDateId", "document": "PublicationDateId", "sentiment": "DocumentDateId"}
FACT_KEYS = {"webresource": "WebResourceHash", "document": "DocumentHash", "sentiment": "SentimentHash"}
FACT_ORACLES = {
    "webresource": oracles.webresource_sql, "document": oracles.document_sql, "sentiment": oracles.sentiment_sql,
}
SINK_KEYS = {**FACT_KEYS, "content_index": "content_hash", "fingerprints": "document_hash"}
# per-turn columns that do not depend on which near-dup rule elected the
# winner, so the stream and the batch oracle must agree on them exactly
TURN_KEY_COLS = [
    "WebResourceHash", "Url", "CollectionItemId", "Title", "Author",
    "ParentWebResourceHash", "PublicationDateId",
]
# the gates that between them run every near-dup operator module:
# embedding cosine (operators.similarity), and MinHash-LSH pairs
# (operators.dataprep) folded into connected components
# (operators.components). README.md says which gates were left out and why.
GATES = ["dedup_embedding_cosine", "dedup_cluster_cc"]


def _parquet_files(dirs) -> list[str]:
    return [f for d in dirs for f in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)]


def _tree_bytes(dirs) -> int:
    return sum(os.path.getsize(f) for f in _parquet_files(dirs))


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    return con


def _transcripts_cte(files: list[str]) -> str:
    listed = ", ".join(f"'{f}'" for f in files)
    return (
        "SELECT conv_id, turn_idx, role, text, tool, CAST(ts AS TIMESTAMP) AS ts "
        f"FROM read_parquet([{listed}])"
    )


def _oracle(fact_sql: str, files: list[str] | None = None, cte: str | None = None) -> str:
    """A registry oracle (fact or stats table) re-pointed from the sf
    tables at the transcripts in ``files`` (or any transcripts ``cte``)."""
    default = oracles.indexer_prefix()
    if not fact_sql.startswith(default):
        raise RuntimeError("oracle SQL no longer starts with indexer_prefix()")
    return oracles.indexer_prefix(cte or _transcripts_cte(files)) + fact_sql[len(default):]


def _materialized(sql: str) -> str:
    """``sql`` with every CTE marked MATERIALIZED. The stats and gate
    oracles chain CTEs that read each other more than once; DuckDB
    otherwise inlines each reference, and the stats chain takes up to 30 s
    instead of about one. The rows are the same."""
    return re.sub(r"(?m)^(\s*,?\s*(?:WITH\s+)?\w+\s+AS)\s*\(", r"\1 MATERIALIZED (", sql)


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    """Order-insensitive equality, floats to 1e-9 relative. Returns None
    when equal, else the first difference."""
    cols = sorted(a.columns)
    if cols != sorted(b.columns):
        return f"columns {cols} vs {sorted(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    a = a[cols].sort_values(cols, na_position="first").reset_index(drop=True)
    b = b[cols].sort_values(cols, na_position="first").reset_index(drop=True)
    for c in cols:
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
            if not np.allclose(a[c].astype(float).fillna(-9e18), b[c].astype(float).fillna(-9e18), rtol=1e-9):
                return f"float column {c} differs"
        else:
            av = a[c].astype(str).where(~a[c].isna(), "<NA>")
            bv = b[c].astype(str).where(~b[c].isna(), "<NA>")
            if not (av == bv).all():
                i = int((av != bv).idxmax())
                return f"column {c} differs at row {i}: {av[i]!r} vs {bv[i]!r}"
    return None


def install_stats(tracer) -> None:
    """Spans for ``plans.stats``: one around ``build_stats`` and one
    starting at each table's ``stats_df`` call (the span itself covers
    planning only; ``stats_table_times`` turns the starts into per-table
    times)."""
    tracer.wrap(stats, "build_stats", "stats.build_stats")
    tracer.wrap(stats, "stats_df", lambda spark, name, *a, **k: f"stats.table.{name}")


def stats_table_times(tracer) -> dict:
    """``stats.<table>_s``: from one table's ``stats_df`` call to the
    next (plan, durable write and read-back), the last table to the end
    of ``build_stats``; ``stats.facts_checkpoint_s``: ``build_stats``'s
    fact checkpoints before the first table. Of the first ``build_stats``
    call, as the other backfill layers report the first pass."""
    b0, b1 = tracer.windows("stats.build_stats")[0]
    starts = sorted(
        (t0, n[len("stats.table."):]) for n, t0, _ in tracer.spans if n.startswith("stats.table.") and b0 <= t0 <= b1
    )
    ends = [t0 for t0, _ in starts[1:]] + [b1]
    out = {"stats.facts_checkpoint_s": starts[0][0] - b0}
    out.update({f"stats.{name}_s": end - t0 for (t0, name), end in zip(starts, ends)})
    return out


def run_stats(spark, document, sentiment, webresource, store_root: str) -> None:
    """The stats chain as ``cli statscalc`` runs it: every table of
    ``STATS_ORDER`` written to durable parquet under ``store_root``."""
    stats.register_views(spark, document, sentiment, webresource)
    stats.build_stats(spark, store_root=store_root)


def _stats_missing(store_root: str) -> list[str]:
    return [n for n in stats.STATS_ORDER if not _parquet_files([os.path.join(store_root, n)])]


class Replay:
    """Closed loop over rounds. A round renames one parquet file of fresh
    turns into the watched directory, with a sentinel turn that pushes the
    watermark past all of them; the round ends when ``processAllAvailable``
    returns, i.e. after the data micro-batch and the no-data micro-batch in
    which the thread assembler emits the round and every sink commits it.
    Rounds run back to back until ``--seconds`` have elapsed (at least
    one); then the query stops. The program's defaults hold except two:
    all pending files go into one trigger, and cross-batch near-dedupe is
    on."""

    name = "replay"
    idle_layers = ("indexer.", "stats.", "gates.")
    ROUND_TURNS = 960
    MAX_ROUNDS = 8
    ROUND_SPAN = 3 * inputs.DAY
    SENTINEL_AT = 2 * inputs.DAY
    BASE = datagen.EPOCH_2024
    WATERMARK_S = 600  # run_indexer_stream's default "10 minutes"
    # no day-late turns: the program loses them (Spark's late-event filter
    # drops them before the thread assembler can count them), so every
    # round would fail the late-turn check below. README.md, "Output checks".
    LATE_FRAC = 0.0

    def make_inputs(self, seed: int, d: str) -> dict:
        staged = os.path.join(d, "staged")
        os.makedirs(staged)
        # a query starts with its watermark at the epoch; every later
        # round reads behind the previous round's sentinel
        rounds, watermark = [], 0
        for r in range(self.MAX_ROUNDS):
            start = self.BASE + r * self.ROUND_SPAN
            data = inputs.transcripts_table(
                self.ROUND_TURNS, seed * 1000 + r, start, conv_prefix=f"r{r}-", late_frac=self.LATE_FRAC
            )
            # half a second off the whole-second turn stamps, so no turn
            # sits exactly on a watermark
            flush_ts = start + self.SENTINEL_AT + 0.5
            path = os.path.join(staged, f"round-{r:02d}.parquet")
            pq.write_table(pa.concat_tables([data, inputs.sentinel_table(f"conv-flush-r{r}", flush_ts)]), path)
            rounds.append({"path": path, "watermark": watermark})
            watermark = flush_ts - self.WATERMARK_S
        return {"dir": d, "rounds": rounds}

    def _drop(self, src: str) -> None:
        os.rename(src, os.path.join(self.watched, os.path.basename(src)))

    def install(self, tracer) -> None:
        from dataflow_opinion_analysis_spark.streaming import dedupe_state, pipeline
        from dataflow_opinion_analysis_spark.tables.mergetable import MergeTable

        def sink(t) -> str:
            return os.path.basename(t.path.rstrip("/"))

        def on_read(t, *a, **k):
            if sink(t) == "content_index":
                tracer.claims_t0 = time.time()

        def on_merge(t, *a, **k):
            # the claims phase runs from the content-index read to the
            # content-index merge that commits the new claims
            if sink(t) == "content_index" and getattr(tracer, "claims_t0", None):
                tracer.record("dedupe.claims", tracer.claims_t0, time.time())
                tracer.claims_t0 = None

        tracer.wrap(pipeline, "process_batch", "pipeline.process_batch")
        tracer.wrap(dedupe_state, "fingerprint_dedupe_batch", "dedupe_state.fingerprint_dedupe_batch")
        tracer.wrap(MergeTable, "read", lambda t, *a, **k: f"mergetable.{sink(t)}.read", before=on_read)
        tracer.wrap(MergeTable, "merge", lambda t, *a, **k: f"mergetable.{sink(t)}.merge", before=on_merge)
        tracer.wrap(MergeTable, "compact_small_files", "mergetable.compaction")

    def warm(self, spark, inp: dict, tracer) -> None:
        """Start the query over the empty watched directory. The first
        round pays the first micro-batches' start-up (state store, Python
        workers), as a freshly started stream does."""
        from dataflow_opinion_analysis_spark.streaming.pipeline import run_indexer_stream

        d = inp["dir"]
        self.watched = os.path.join(d, "watched")
        os.makedirs(self.watched)
        self.query, self.sinks = run_indexer_stream(
            spark, self.watched, os.path.join(d, "out"), os.path.join(d, "ckpt"),
            max_files_per_trigger=None, cross_batch_near_dedupe=True,
        )
        self.rounds: list[tuple[int, float, float]] = []

    def measure(self, spark, inp: dict, seconds: float, tracer) -> None:
        t_begin = time.time()
        for r, rd in enumerate(inp["rounds"]):
            if self.rounds and time.time() - t_begin >= seconds:
                break
            t0 = time.time()
            self._drop(rd["path"])
            self.query.processAllAvailable()
            self.rounds.append((r, t0, time.time()))
        else:
            raise RuntimeError("replay used every pre-generated round; raise MAX_ROUNDS")
        self.progress = list(self.query.recentProgress)
        self.query.stop()
        self.window = self.udf_window = (self.rounds[0][1], self.rounds[-1][2])

    def _measured(self, table) -> list[dict]:
        return [e for e in table.lineage() if e.get("batch_id") is not None]

    def _turn_rows(self) -> pd.DataFrame:
        """Webresource rows committed in the measured rounds, with the
        batch that committed each."""
        parts = []
        for e in self._measured(self.sinks.webresource):
            files = _parquet_files(e.get("files") or [])
            if files:
                t = pq.read_table(files, columns=["CollectionItemId", "Author"]).to_pandas()
                parts.append(t.assign(batch_id=int(e["batch_id"])))
        rows = pd.concat(parts, ignore_index=True)
        rows["round"] = rows["CollectionItemId"].str.extract(r"^r(\d+)-", expand=False)
        return rows.dropna(subset=["round"]).astype({"round": int})

    def results(self, inp: dict) -> tuple[dict, int]:
        walls = [t1 - t0 for _, t0, t1 in self.rounds]
        e2e = {
            # webresource rows the measured rounds committed ÷ round wall
            "turns_per_s": len(self._turn_rows()) / sum(walls),
            "wall_s": sum(walls),
        }
        # operations: the micro-batches
        return e2e, len(self.progress)

    def _late_counted(self) -> int:
        """Turns the measured micro-batches counted late in the metrics dir."""
        m = pq.read_table(_parquet_files([self.sinks.metrics_dir])).to_pandas()
        return int(m["n_late"].sum())

    def layers(self, inp: dict, tracer) -> tuple[dict, dict]:
        rows = self._turn_rows()
        state = [p.stateOperators[0] for p in self.progress if p.stateOperators]
        m = pq.read_table(_parquet_files([self.sinks.metrics_dir])).to_pandas()
        docs = sum(int(e.get("rows") or 0) for e in self._measured(self.sinks.document))
        written, commits = [], 0
        for name in SINK_KEYS:
            for e in self._measured(getattr(self.sinks, name)):
                commits += 1
                written += e.get("files") or []
        fact_dirs = [d for name in FACTS for e in self._measured(getattr(self.sinks, name)) for d in e.get("files") or []]
        dropped = self._dropped(inp)
        batch_w = tracer.windows("pipeline.process_batch")
        batch_wall = sum(b - a for a, b in batch_w)
        merges = [n for n, _, _ in tracer.spans if n.startswith("mergetable.") and n.endswith(".merge")]
        layer = {
            "pipeline.batches": len(self.progress),
            "pipeline.empty_batches": sum(1 for p in self.progress if p.batchId not in set(rows["batch_id"])),
            "threads.state_rows_max": max((s.numRowsTotal for s in state), default=0),
            "threads.state_mem_mb_max": max((s.memoryUsedBytes for s in state), default=0) / 2**20,
            "threads.late_turns": int(m["n_late"].sum()),
            "sources.rows": sum(p.sources[0].numInputRows for p in self.progress),
            "sources.offset_s": sum(_source_ms(p) for p in self.progress) / 1000,
            "threads.overflow_turns": int(m["n_overflow"].sum()),
            "threads.state_pct": 100 * sum(s.allUpdatesTimeMs + s.commitTimeMs for s in state) / 1000 / batch_wall,
            "dedupe_state.store_rows": sum(int(f.get("rows") or 0) for f in self.sinks.fingerprints.current_snapshot()["files"]),
            "dedupe_state.fingerprint_pct": 100 * tracer.total("dedupe_state.fingerprint_dedupe_batch") / batch_wall,
            "dedupe.claims_pct": 100 * sum(b - a for a, b in tracer.windows("dedupe.claims")) / batch_wall,
            "dedupe.routed_dupes": int((rows["Author"] != "tool").sum()) - docs,
            "scorer.rows": docs,
            "mergetable.commits": commits,
            "mergetable.commit_conflicts": sum(v for k, v in tracer.counts.items() if "ConcurrentCommitError" in k),
            "mergetable.files_written": len(_parquet_files(written)),
            "mergetable.merge_pct": 100 * union_length([w for n in set(merges) for w in tracer.windows(n)]) / batch_wall,
            "sinks.bytes_per_input_byte": _tree_bytes(fact_dirs) / sum(os.path.getsize(f) for f in dropped),
        }
        batch_s = [p.batchDuration / 1000 for p in self.progress]
        extra = {
            "pipeline.batch_s_p50": statistics.median(batch_s),
            "pipeline.batch_s_max": max(batch_s),
            "pipeline.process_batch_s": tracer.durations("pipeline.process_batch"),
            "threads.state_update_ms": sum(s.allUpdatesTimeMs for s in state),
            "threads.state_commit_ms": sum(s.commitTimeMs for s in state),
            "dedupe.claims_s": sum(b - a for a, b in tracer.windows("dedupe.claims")),
            "dedupe_state.fingerprint_s": tracer.total("dedupe_state.fingerprint_dedupe_batch"),
            "mergetable.compaction_s": tracer.total("mergetable.compaction"),
            **{f"{n}_s": tracer.total(n) for n in sorted(set(merges))},
        }
        return layer, extra

    def _dropped(self, inp: dict) -> list[str]:
        return [os.path.join(self.watched, os.path.basename(rd["path"])) for rd in inp["rounds"][: len(self.rounds)]]

    def _input_turns(self, inp: dict) -> pd.DataFrame:
        """The measured rounds' turns; ``late`` when the turn's ts is at or
        behind the watermark in force when its round's file was read."""
        parts = []
        for path, rd in zip(self._dropped(inp), inp["rounds"]):
            t = pq.read_table(path, columns=["conv_id", "turn_idx", "ts"]).to_pandas()
            t = t[t["conv_id"].str.match(r"^r\d+-")]
            parts.append(t.assign(late=t["ts"] <= pd.Timestamp(rd["watermark"], unit="s", tz="UTC")))
        data = pd.concat(parts, ignore_index=True)
        data["id"] = data["conv_id"] + ":" + data["turn_idx"].astype(str)
        return data

    def check(self, inp: dict) -> tuple[int, list[str]]:
        failed = []
        for name, key in SINK_KEYS.items():
            keys = pd.Series(dtype=object)
            files = _parquet_files(getattr(self.sinks, name).files())
            if files:
                keys = pq.read_table(files, columns=[key]).column(key).to_pandas()
            if keys.duplicated().any():
                failed.append(f"replay: {int(keys.duplicated().sum())} duplicate {key} in {name}")
        # every on-time input turn has exactly one webresource row and no
        # late one has any
        data = self._input_turns(inp)
        wr = pq.read_table(_parquet_files(self.sinks.webresource.files()), columns=TURN_KEY_COLS).to_pandas()
        wr = wr[wr["CollectionItemId"].str.match(r"^r\d+-")]
        got = wr["CollectionItemId"]
        ontime = set(data.loc[~data["late"], "id"])
        if got.duplicated().any():
            failed.append(f"replay: {int(got.duplicated().sum())} turns with more than one webresource row")
        if set(got) != ontime:
            failed.append(f"replay: {len(ontime - set(got))} on-time turns without a webresource row, "
                          f"{len(set(got) - ontime)} rows for late or unknown turns")
        # every late input turn is counted late in the metrics dir
        late, counted = int(data["late"].sum()), self._late_counted()
        if late != counted:
            failed.append(f"replay: {late} late input turns, {counted} counted late in the metrics dir "
                          f"({late - counted} neither sunk nor counted)")
        # per-turn key columns equal the batch indexer's (its DuckDB
        # oracle) on the same on-time input
        con = _duck()
        con.register("ontime_ids", pd.DataFrame({"id": sorted(ontime)}))
        cte = _transcripts_cte(self._dropped(inp)) + " WHERE conv_id || ':' || turn_idx IN (SELECT id FROM ontime_ids)"
        ref = con.execute(_oracle(oracles.webresource_sql(), cte=cte)).df()[TURN_KEY_COLS]
        diff = frames_equal(wr.reset_index(drop=True), ref.reset_index(drop=True))
        if diff:
            failed.append(f"replay: webresource per-turn keys differ from the batch oracle: {diff}")
        return len(SINK_KEYS) + 4, failed


class Backfill:
    """One pass = the batch indexer over a generated corpus, its three
    fact tables written as ``cli index`` writes them (turns are durable
    when the writes end); the stats chain over that warehouse as ``cli
    statscalc`` runs it; then two near-dup gates, each written to parquet
    (a real write materializes every column, and the check reads the
    written rows instead of running the gate again). Passes repeat until
    ``--seconds`` have elapsed (at least one); the first is cold, as
    every ``cli index`` process is."""

    name = "backfill"
    idle_layers = ("pipeline.", "threads.", "dedupe_state.", "dedupe.claims", "mergetable.", "sources.")
    CORPUS_TURNS = 1200
    CORPUS_FILES = 8
    GATE_DOCS = 300
    GATE_VECS = 300

    def make_inputs(self, seed: int, d: str) -> dict:
        corpus = os.path.join(d, "corpus")
        inputs.write_split(
            inputs.transcripts_table(self.CORPUS_TURNS, seed, datagen.EPOCH_2024), corpus, self.CORPUS_FILES
        )
        gate_dir = os.path.join(d, "gate_tables")
        os.makedirs(gate_dir)
        inputs.write_documents(os.path.join(gate_dir, "documents.parquet"), self.GATE_DOCS, seed)
        inputs.write_embeddings(os.path.join(gate_dir, "embeddings.parquet"), self.GATE_VECS, seed)
        files = sorted(glob.glob(os.path.join(corpus, "*.parquet")))
        return {"dir": d, "corpus": corpus, "files": files, "gate_dir": gate_dir,
                "turns": sum(pq.read_metadata(f).num_rows for f in files)}

    def install(self, tracer) -> None:
        """Spans for the stats chain; the other steps are recorded in
        ``measure``."""
        install_stats(tracer)

    def warm(self, spark, inp: dict, tracer) -> None:
        """One read of the corpus: the JVM's first jobs, which every
        process pays once."""
        spark.read.parquet(inp["corpus"]).write.mode("overwrite").format("noop").save()
        self.passes: list[dict] = []

    def measure(self, spark, inp: dict, seconds: float, tracer) -> None:
        from dataflow_opinion_analysis_spark import entry_queries
        from dataflow_opinion_analysis_spark.plans.indexer import build_indexer

        registry = entry_queries.registry()
        t_begin = time.time()
        while not self.passes or time.time() - t_begin < seconds:
            out_dir = os.path.join(inp["dir"], f"pass-{len(self.passes)}")
            wh = os.path.join(out_dir, "warehouse")
            t0 = time.time()
            out = build_indexer(spark.read.parquet(inp["corpus"]), persist=True)
            t_build = time.time()
            for name, part in FACTS.items():
                df = getattr(out, name)
                df.repartition(part).write.mode("overwrite").partitionBy(part).parquet(f"{wh}/{name}")
            t_index = time.time()
            if tracer is not None:
                tracer.record("indexer.build_indexer", t0, t_build)
                tracer.record("indexer.write", t_build, t_index)
                tracer.checkpoint_mb = _storage_mb(spark)
            run_stats(spark, *(spark.read.parquet(f"{wh}/{n}") for n in ("document", "sentiment", "webresource")), wh)
            t_stats = time.time()
            for g in GATES:
                tg = time.time()
                registry[g][0](spark, inp["gate_dir"]).write.mode("overwrite").parquet(f"{out_dir}/gates/{g}")
                if tracer is not None:
                    tracer.record(f"gates.{g}", tg, time.time())
            t_end = time.time()
            self.passes.append({"dir": out_dir, "t0": t0, "t_index": t_index, "t_stats": t_stats, "t_end": t_end})
        self.window = (self.passes[0]["t0"], self.passes[-1]["t_end"])
        # the scorer's Arrow stages run inside the indexer phase
        self.udf_window = (self.passes[0]["t0"], self.passes[0]["t_index"])

    def results(self, inp: dict) -> tuple[dict, int]:
        index_s = [p["t_index"] - p["t0"] for p in self.passes]
        e2e = {
            # every turn of a pass becomes durable when the fact writes end
            "turns_per_s": inp["turns"] * len(index_s) / sum(index_s),
            "wall_s": statistics.median([p["t_end"] - p["t0"] for p in self.passes]),
        }
        # operations: the indexer, the stats chain and each gate
        return e2e, len(self.passes) * (2 + len(GATES))

    def layers(self, inp: dict, tracer) -> tuple[dict, dict]:
        p = self.passes[0]
        wall = p["t_end"] - p["t0"]
        wh = os.path.join(p["dir"], "warehouse")
        wr = pq.read_table(_parquet_files([f"{wh}/webresource"]), columns=["Author"]).to_pandas()
        docs = sum(pq.read_metadata(f).num_rows for f in _parquet_files([f"{wh}/document"]))
        layer = {
            "dedupe.routed_dupes": int((wr["Author"] != "tool").sum()) - docs,
            "scorer.rows": docs,
            "sinks.bytes_per_input_byte": _tree_bytes([f"{wh}/{n}" for n in FACTS]) / _tree_bytes([inp["corpus"]]),
            "indexer.checkpoint_mb": tracer.checkpoint_mb,
            "indexer.pct": 100 * (p["t_index"] - p["t0"]) / wall,
            "gates.pct": 100 * (p["t_end"] - p["t_stats"]) / wall,
            "stats.build_s": p["t_stats"] - p["t_index"],
            **stats_table_times(tracer),
        }
        extra = {
            "indexer.build_s": tracer.durations("indexer.build_indexer")[0],
            "indexer.write_s": tracer.durations("indexer.write")[0],
            **{f"gates.{g}_s": tracer.durations(f"gates.{g}")[0] for g in GATES},
        }
        return layer, extra

    def check(self, inp: dict) -> tuple[int, list[str]]:
        failed = []
        con = _duck()
        p = self.passes[-1]
        wh = os.path.join(p["dir"], "warehouse")
        for name, key in FACT_KEYS.items():
            want = con.execute(f"SELECT {key} FROM ({_oracle(FACT_ORACLES[name](), inp['files'])})").df()[key]
            got = pq.read_table(_parquet_files([f"{wh}/{name}"]), columns=[key]).column(key).to_pandas()
            if got.duplicated().any() or set(got) != set(want) or len(got) != len(want):
                failed.append(f"backfill: {name} keys differ from the DuckDB oracle "
                              f"({len(got)} written, {len(want)} expected)")
        from dataflow_opinion_analysis_spark import entry_queries

        registry = entry_queries.registry()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inp['gate_dir']}/{t}.parquet')")
        for g in GATES:
            got = pq.read_table(_parquet_files([f"{p['dir']}/gates/{g}"])).to_pandas()
            diff = frames_equal(got, con.execute(_materialized(registry[g][1])).df())
            if diff:
                failed.append(f"backfill: gate {g} differs from its oracle: {diff}")
        # every stats table equals its DuckDB mirror over the same corpus
        missing = _stats_missing(wh)
        if missing:
            failed.append(f"backfill: stats tables not written: {missing}")
        else:
            for name in stats.STATS_ORDER:
                hive = str(bool(glob.glob(f"{wh}/{name}/*=*"))).lower()
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                            f"read_parquet('{wh}/{name}/**/*.parquet', hive_partitioning={hive})")
            chain = oracles_stats.full_chain(stats.MIN_DOMAIN_DOCS, stats.MIN_BASIC8)
            want = _stats_projections(con, _materialized(_oracle(chain, inp["files"])))
            for name, got in _stats_projections(con, "").items():
                diff = frames_equal(got, want[name])
                if diff:
                    failed.append(f"backfill: stats {name} differs from its DuckDB oracle: {diff}")
        return len(FACT_KEYS) + len(GATES) + 1 + len(oracles_stats.GATE_SELECTS), failed


def _stats_projections(con, with_sql: str) -> dict[str, pd.DataFrame]:
    """Every stats gate projection (``oracles_stats.GATE_SELECTS``) over
    the tables ``with_sql`` defines, or over the views of those names when
    it is empty. One query for all of them, each row as JSON, so the
    oracle's chain is computed once, not once per table."""
    union = " UNION ALL ".join(
        f"SELECT '{name}' AS t, to_json(q) AS j FROM ({select}) q"
        for name, select in oracles_stats.GATE_SELECTS.items()
    )
    out: dict[str, list] = {name: [] for name in oracles_stats.GATE_SELECTS}
    for t, j in con.execute(with_sql + union).fetchall():
        out[t].append(json.loads(j))
    return {name: pd.DataFrame(rows) for name, rows in out.items()}


def _source_ms(progress) -> int:
    """File-source time of one micro-batch: listing new files and
    planning their read."""
    d = progress.durationMs
    return d.get("latestOffset", 0) + d.get("getBatch", 0)


def _storage_mb(spark) -> float:
    """Bytes held by cached/checkpointed RDD blocks (memory + disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


WORKLOADS = {w.name: w for w in (Replay, Backfill)}
