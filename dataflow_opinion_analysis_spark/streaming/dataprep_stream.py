"""STREAMING training-data preparation — the composed dataprep chain
(quality/lang filter -> exact dedup -> MinHash near-dedup -> PII scrub ->
sequence packing) as a Structured Streaming job over a growing documents
directory: the continuous-ingest shape of the same pipeline the batch
command (`cli dataprep`) and the wave-at-a-time consumer
(`cli dataprep-refresh`) run.

Design: readStream(file source) -> foreachBatch, where every micro-batch
is one ingest WAVE of ``operators/dataprep_incremental.IncrementalDataPrep``
(batch_id == wave_id) followed by a cursor-tracked refresh. All dedup
state is durable:

- exact dedup      first-claim ``norm_hashes`` MergeTable (insert-if-
                   absent MERGE — the earliest micro-batch keeps the
                   claim, surviving restarts for free);
- MinHash near-dup long-form ``bands`` LSH-bucket MergeTable probed by
                   each new batch's band keys (candidate pull-back is
                   bounded by LSH collision count, not corpus size);
- packing          running token offset in the refresh cursor (prior
                   batches' offsets never change — id-ordered append).

EQUIVALENCE CONTRACT (tests/test_dataprep_stream.py): when files arrive
in doc_id order — the same ordering assumption the incremental consumer
makes about waves and the streaming indexer makes about event time — the
streamed ``packed`` table is row-for-row identical to one full
``build_dataprep`` run over the union, after any number of micro-batches,
restarts, and replays.

Exactly-once: the file source checkpoints per-file offsets; a replayed
micro-batch hits (1) the docs MergeTable's batch-id fence (ingest no-op),
then (2) an empty incremental delta (refresh no-op). A crash BETWEEN the
state-store merges and the cursor write replays into idempotent MERGEs
(tests/test_dataprep_incremental.py::test_replayed_wave_is_idempotent).

At 100 TB the per-batch work is O(delta) with two key-pruned store
probes, the same scale argument as the incremental consumer's docstring;
the file source would be a bucketed object-store listing or a log
(Kafka) source, with the rest of the chain unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dataflow_opinion_analysis_spark.operators.dataprep_incremental import (
    DOCS_SCHEMA,
    IncrementalDataPrep,
)
from dataflow_opinion_analysis_spark.session import start_stream


def process_dataprep_batch(
    df: DataFrame, batch_id: int, prep: IncrementalDataPrep
) -> dict:
    """One micro-batch == one ingest wave + one refresh. Pure function of
    (batch content, store state); replay-safe via the MergeTable batch-id
    fence + the refresh cursor."""
    # one columnar pass feeds the docs merge; without the persist the
    # foreachBatch frame could recompute per consumer inside refresh()
    df = df.persist()
    try:
        prep.ingest(df, batch_id)
        return prep.refresh(batch_id)
    finally:
        df.unpersist()


def run_dataprep_stream(
    spark: SparkSession,
    input_path: str,
    store_root: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Start the streaming dataprep; returns (query, IncrementalDataPrep).

    The store tables (docs / norm_hashes / bands / packed) live under
    ``store_root`` and are shared with the batch-driven incremental
    consumer — a deployment can alternate between nightly waves and a
    live stream against the same stores."""
    prep = IncrementalDataPrep(spark, store_root)
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    stream = reader.parquet(input_path)

    def _fb(df: DataFrame, bid: int) -> None:
        process_dataprep_batch(df, bid, prep)

    return start_stream(stream, _fb, checkpoint_dir), prep


def dataprep_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gated query: write the documents table as two id-ordered files,
    STREAM them (one micro-batch each) through the durable-store prep
    chain, and return the packed table — which must equal the FULL-corpus
    DuckDB oracle chain (the same oracle the one-shot ``dataprep_pipeline``
    and two-wave ``dataprep_incremental`` gates use): the gate proves
    stream == incremental == batch, end to end, value-hashed."""
    import os
    import tempfile
    import time

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F  # noqa: F401 (parity imports)

    root = tempfile.mkdtemp(prefix="dataprep_stream_")
    input_dir = os.path.join(root, "in")
    os.makedirs(input_dir)
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet")).sort_by("doc_id")
    split = len(t) // 2
    base = time.time() - 1000
    for k, part in enumerate((t.slice(0, split), t.slice(split))):
        p = os.path.join(input_dir, f"wave-{k:04d}.parquet")
        pq.write_table(part, p)
        os.utime(p, (base + k, base + k))  # file source picks oldest first

    q, prep = run_dataprep_stream(
        spark, input_dir, os.path.join(root, "store"),
        os.path.join(root, "ckpt"), max_files_per_trigger=1,
    )
    q.processAllAvailable()
    q.stop()
    return prep.packed.read().select(
        "doc_id", "lang", "n_tokens", "start_offset",
        "first_chunk", "last_chunk", "n_chunks", "scrubbed_hash",
    )
