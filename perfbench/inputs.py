"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same bytes. Transcripts come from the program's own generator
(``datagen.generate_transcripts``: Zipf-skewed conversations, ~2% exact
and ~2% near duplicates, 1% out-of-order and 0.5% day-late turns).
Documents and embeddings for the near-dup gates have the shape of the
registry's ``documents.parquet`` / ``embeddings.parquet`` tables and are
generated here, so the benchmark reads nothing outside its checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dataflow_opinion_analysis_spark import datagen

TRANSCRIPT_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
    ]
)

DAY = 86_400


def transcripts_table(n_turns: int, seed: int, start_epoch: int, conv_prefix: str = "", **gen) -> pa.Table:
    """Exactly ``n_turns`` generated turns (conversations of 8 turns on
    average, the earliest ``n_turns`` by event time, so every seed does
    the same amount of work) in arrival order. ``conv_prefix`` keeps the
    conversation ids of separately generated chunks disjoint; ``gen``
    overrides the generator's other defaults."""
    pdf = datagen.generate_transcripts(
        n_convs=n_turns // 7, avg_turns=8, seed=seed, start_epoch=start_epoch, **gen
    )
    if len(pdf) < n_turns:
        raise RuntimeError(f"seed {seed} generated {len(pdf)} turns, fewer than {n_turns}")
    if conv_prefix:
        pdf["conv_id"] = conv_prefix + pdf["conv_id"].astype(str)
    pdf = pdf.sort_values("ts", kind="stable").head(n_turns).reset_index(drop=True)
    return pa.Table.from_pandas(pdf, preserve_index=False).cast(TRANSCRIPT_SCHEMA)


def write_split(table: pa.Table, out_dir: str, n_files: int) -> list[str]:
    """Write ``table`` as ``n_files`` consecutive slices; returns the paths."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    paths = []
    for i in range(n_files):
        chunk = table.slice(i * step, step)
        if chunk.num_rows:
            p = os.path.join(out_dir, f"part-{i:04d}.parquet")
            pq.write_table(chunk, p)
            paths.append(p)
    return paths


def sentinel_table(conv_id: str, epoch: float, turn_idx: int = 0) -> pa.Table:
    """A one-turn table. Stamped far ahead, the turn pushes the event-time
    watermark past every earlier turn, so the thread assembler emits what
    it holds."""
    return pa.table(
        {
            "conv_id": [conv_id],
            "turn_idx": [turn_idx],
            "role": ["user"],
            "text": ["flush sentinel"],
            "tool": [None],
            "ts": pd.to_datetime([epoch], unit="s", utc=True),
        }
    ).cast(TRANSCRIPT_SCHEMA)


# the registry's documents.parquet draws its texts from this vocabulary
_VOCAB = np.array(
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the".split()
)
_LANGS = np.array(["en", "zh", "es", "de", "fr"])


def write_documents(path: str, n_docs: int, seed: int, near_dup_every: int = 8) -> None:
    """documents(doc_id, text, lang, source, n_chars). Every
    ``near_dup_every``-th document re-posts an earlier one with a few
    tokens changed, so every near-dup gate has true pairs to find."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and i % near_dup_every == 0:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), size=max(1, len(words) // 20)):
                words[j] = str(rng.choice(_VOCAB))
            if rng.random() < 0.5:
                words.append("dup")
        else:
            words = list(rng.choice(_VOCAB, size=int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), pa.int64()),
                "text": texts,
                "lang": rng.choice(_LANGS, size=n_docs, p=[0.44, 0.15, 0.14, 0.14, 0.13]),
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        path,
    )


def write_embeddings(path: str, n_vecs: int, seed: int, dim: int = 64, n_labels: int = 10) -> None:
    """embeddings(vec_id, embedding: list<float>, label): unit vectors
    scattered around ``n_labels`` cluster centres."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(n_labels, dim))
    label = rng.integers(0, n_labels, size=n_vecs)
    v = centres[label] + 0.8 * rng.normal(size=(n_vecs, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
                "embedding": pa.array(list(v), pa.list_(pa.float32())),
                "label": pa.array(label, pa.int32()),
            }
        ),
        path,
    )
