"""STREAMING vector-index maintenance — continuous IVF+PQ ingest.

The batch vector stack (similarity.py: trained IVF coarse quantizer,
trained PQ codebooks, ADC serving) assumes a codes table exists. This
module is the job that MAINTAINS it: new embedding rows stream in and
each micro-batch is assigned its IVF list and PQ codes against a FROZEN
model, then MERGEd into a durable ``codes`` MergeTable — the
train-once/serve-forever split every production ANN system makes
(index writers never refit; refitting is a separate offline job that
rebuilds the table).

Model durability: the first run fits the deterministic quantizers
(similarity.ivf_fit_centroids / pq_fit_codebooks — memoized, bounded
collects) from ``fit_dir`` and writes them atomically to
``<store_root>/model.json``; every later run (and every restart) loads
that artifact, so codes stay consistent across the table's whole
lifetime even if the underlying corpus drifts from the fit sample.

Per-batch work is O(batch): the model enters the plan as two literal
broadcast relations (8 centroid rows, PQ_M*PQ_K codeword rows), the
assignment is one narrow projection + subspace explode over the batch,
and the MERGE is keyed on vec_id. Exactly-once: file-source offsets in
the checkpoint + MergeTable's batch-id fence; a replayed batch
recomputes identical codes (the model is frozen on disk) and the merge
is idempotent.

Equivalence contract (the ``vector_index_stream`` gate +
tests/test_vector_index.py): after streaming the embeddings table in
any number of micro-batches, the codes table equals the one-shot batch
assignment (similarity_ivf_assignments ⋈ embedding_quantize_pq) — and
therefore the same DuckDB full-corpus oracle.
"""

from __future__ import annotations

import json
import os
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession

from dataflow_opinion_analysis_spark.operators import similarity
from dataflow_opinion_analysis_spark.session import start_stream
from dataflow_opinion_analysis_spark.tables.mergetable import MergeTable

CODES_SCHEMA = "vec_id bigint, cent_id bigint, codes_str string"
MODEL_FILE = "model.json"

EMBEDDINGS_SCHEMA = "vec_id bigint, embedding array<float>"


def fit_or_load_model(spark: SparkSession, store_root: str, fit_dir: str) -> dict:
    """Load ``<store_root>/model.json`` if present, else fit the
    deterministic quantizers from ``fit_dir`` and persist them (atomic
    tmp+rename — a crash mid-write never leaves a torn model)."""
    path = os.path.join(store_root, MODEL_FILE)
    if os.path.exists(path):
        with open(path) as f:
            m = json.load(f)
        return {
            "cents": [(int(c), list(map(float, v))) for c, v in m["cents"]],
            "books": [(int(a), int(b), list(map(float, v)))
                      for a, b, v in m["books"]],
        }
    model = {
        "cents": similarity.ivf_fit_centroids(spark, fit_dir),
        "books": similarity.pq_fit_codebooks(spark, fit_dir),
    }
    os.makedirs(store_root, exist_ok=True)
    tmp = f"{path}.tmp-{_uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(model, f)
    os.rename(tmp, path)
    return model


def serve_codes_sql(rel: str, model: dict) -> str:
    """Assignment SQL over relation ``rel``: (vec_id, cent_id, codes_str)
    against the frozen model. Same expression sequence as the batch
    operators (rounded-cosine argmax for the list, rounded squared-L2
    argmin per subspace) so streamed codes are bit-identical to batch."""
    norm_a = ("sqrt(aggregate(transform(a.v, x -> x * x), "
              "cast(0.0 AS double), (acc, x) -> acc + x))")
    return f"""
WITH v AS (
  SELECT vec_id, transform(embedding, x -> cast(x AS double)) AS v FROM {rel}
),
cent AS ({similarity._cent_literal_sql(model["cents"])}),
scored AS (
  SELECT a.vec_id, a.v, s.cent_id,
    round(aggregate(zip_with(a.v, s.c, (x, y) -> x * y), cast(0.0 AS double), (acc, x) -> acc + x)
      / ({norm_a} * sqrt(aggregate(transform(s.c, x -> x * x), cast(0.0 AS double), (acc, x) -> acc + x))), 6) AS ccos
  FROM v a CROSS JOIN cent s
),
assigned AS (
  SELECT vec_id, cent_id FROM (
    SELECT vec_id, cent_id,
      row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
    FROM scored
  ) WHERE crk = 1
),
sub AS (
  SELECT vec_id, m, slice(v, m * {similarity.PQ_SUB_DIM} + 1, {similarity.PQ_SUB_DIM}) AS s
  FROM v LATERAL VIEW explode(sequence(0, {similarity.PQ_M - 1})) t AS m
),
book AS ({similarity._pq_book_literal_sql(model["books"])}),
codes AS (
  SELECT vec_id, m, code_id FROM (
    SELECT a.vec_id, a.m, c.code_id,
      row_number() OVER (PARTITION BY a.vec_id, a.m
                         ORDER BY {similarity._pq_dist('a.s', 'c.c')}, c.code_id) AS crk
    FROM sub a JOIN book c ON c.m = a.m
  ) WHERE crk = 1
),
percode AS (
  SELECT vec_id,
    array_join(transform(array_sort(collect_list(named_struct('m', m, 'cid', code_id))),
                         s -> cast(s.cid AS string)), ',') AS codes_str
  FROM codes GROUP BY vec_id
)
SELECT a.vec_id, a.cent_id, p.codes_str
FROM assigned a JOIN percode p ON p.vec_id = a.vec_id
"""


def process_vector_batch(
    df: DataFrame, batch_id: int, table: MergeTable, model: dict
) -> int:
    """One micro-batch of embedding rows -> codes MERGE. Insert-if-absent
    (the default merge): a re-posted vec_id keeps its original codes —
    with a frozen model they are identical anyway, but the anti-join
    keeps the table key-unique even under a misbehaving upstream that
    re-sends rows across batches."""
    spark = df.sparkSession
    view = f"vec_index_batch_{_uuid.uuid4().hex[:8]}"
    df.createOrReplaceTempView(view)
    try:
        out = spark.sql(serve_codes_sql(view, model))
        return table.merge(out, batch_id)
    finally:
        spark.catalog.dropTempView(view)


def run_vector_index_stream(
    spark: SparkSession,
    input_path: str,
    store_root: str,
    checkpoint_dir: str,
    fit_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Start the streaming index writer; returns (query, codes MergeTable).

    ``fit_dir`` is only consulted when ``<store_root>/model.json`` does
    not exist yet (first deployment); afterwards the frozen artifact
    wins, restart-safe."""
    model = fit_or_load_model(spark, store_root, fit_dir)
    table = MergeTable(
        spark, os.path.join(store_root, "codes"),
        key_cols=["vec_id"], schema=CODES_SCHEMA,
    )
    reader = spark.readStream.schema(EMBEDDINGS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    stream = reader.parquet(input_path)

    def _fb(df: DataFrame, bid: int) -> None:
        process_vector_batch(df, bid, table, model)

    return start_stream(stream, _fb, checkpoint_dir), table


def vector_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gated query: split the embeddings table into two id-ordered
    files, STREAM them (one micro-batch each) through the index writer,
    and return the codes table — which must equal the full-corpus DuckDB
    fit+assign oracle (stream == batch for a frozen model, value-hashed)."""
    import tempfile
    import time

    import pyarrow.parquet as pq

    root = tempfile.mkdtemp(prefix="vector_index_stream_")
    input_dir = os.path.join(root, "in")
    os.makedirs(input_dir)
    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).sort_by("vec_id")
    split = len(t) // 2
    base = time.time() - 1000
    for k, part in enumerate((t.slice(0, split), t.slice(split))):
        p = os.path.join(input_dir, f"wave-{k:04d}.parquet")
        pq.write_table(part, p)
        os.utime(p, (base + k, base + k))  # file source picks oldest first

    q, table = run_vector_index_stream(
        spark, input_dir, os.path.join(root, "store"),
        os.path.join(root, "ckpt"), fit_dir=sf_dir, max_files_per_trigger=1,
    )
    q.processAllAvailable()
    q.stop()
    return table.read().select("vec_id", "cent_id", "codes_str")
