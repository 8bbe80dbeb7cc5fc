"""INCREMENTAL training-data preparation: the composed dataprep chain
(quality/lang filter -> exact dedup -> MinHash near-dedup -> PII scrub ->
sequence packing) maintained over a GROWING corpus, one ingest wave at a
time — the production shape for daily crawl dumps, where re-running the
full pipeline over 100 TB for a 100 GB delta is not an option.

Dedup state lives in durable MergeTables, mirroring how the streaming
indexer keeps its content index and fingerprint store:

- ``norm_hashes``: first-claim store of normalized-text hashes — the
  cross-wave extension of the exact-dedup rule (MergeTable MERGE is
  insert-if-absent, so the earliest wave keeps the claim);
- ``bands``: long-form (band, band_key, doc_id) LSH buckets of every
  exact-dedup survivor ever seen — the cross-wave candidate index for
  MinHash near-dedup. A new doc's buckets probe this store; matching old
  docs are pulled back (with text, from the docs store) and verified by
  exact Jaccard, the same two-step the batch operator performs.

EQUIVALENCE CONTRACT (tested + oracle-gated): when waves arrive in
doc_id order (ingest order == id order, the same ordering assumption the
stream==batch equivalence makes about event time), the incrementally
maintained packed table is row-for-row identical to one full
``build_dataprep`` run over the union — because every batch rule is
"smallest doc_id wins" and a doc can therefore only lose to an EARLIER
wave (exact canon = min id; near-dup loser = greater id of a pair; the
band store holds ALL exact survivors, so a doc dropped by near-dedup
still eliminates its own later near-dups exactly as the batch rule
does). Packing appends: offsets are a prefix sum in id order, so prior
waves' offsets never change; the cursor carries the running token total.

Scale notes (100 TB): per-wave work is O(delta) except two probes —
the norm-hash anti-join and the band-store join — which are key-pruned
equi-joins against stores that a real deployment would bucket by their
join key (the same O(batch)-not-O(table) argument as
``tables/mergetable.merge(assume_new)``; the candidate pull-back from
the docs store is bounded by LSH collision count, not corpus size).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataflow_opinion_analysis_spark.operators import dataprep, llmprep
from dataflow_opinion_analysis_spark.operators.dataprep_pipeline import (
    _exact_keep_sql_spark,
    _filter_sql_spark,
)
from dataflow_opinion_analysis_spark.session import materialize
from dataflow_opinion_analysis_spark.tables.mergetable import MergeTable

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
PACKED_SCHEMA = (
    "doc_id long, lang string, n_tokens bigint, start_offset bigint, "
    "first_chunk bigint, last_chunk bigint, n_chunks bigint, scrubbed_hash string"
)


class IncrementalDataPrep:
    """Cursor-tracked incremental dataprep over a docs MergeTable.

    ``ingest(df, wave_id)`` appends new documents; ``refresh()`` runs the
    prep chain over exactly the docs committed since the last refresh and
    MERGEs the packed rows in. Crash-safe ordering like
    ``plans/stats_incremental``: state stores commit before the cursor,
    and every store write is an idempotent MergeTable MERGE keyed by its
    natural key, so a replayed refresh re-derives the same rows.
    """

    CURSOR = "_dataprep_cursor.json"

    def __init__(self, spark: SparkSession, store_root: str):
        self.spark = spark
        self.root = store_root
        self.docs = MergeTable(
            spark, os.path.join(store_root, "docs"),
            key_cols=["doc_id"], schema=DOCS_SCHEMA,
        )
        self.norm_hashes = MergeTable(
            spark, os.path.join(store_root, "norm_hashes"),
            key_cols=["norm_hash"],
            schema="norm_hash string, doc_id long",
        )
        self.bands = MergeTable(
            spark, os.path.join(store_root, "bands"),
            key_cols=["band", "band_key", "doc_id"],
            schema="band int, band_key string, doc_id long",
        )
        self.packed = MergeTable(
            spark, os.path.join(store_root, "packed"),
            key_cols=["doc_id"], schema=PACKED_SCHEMA,
        )

    # -- cursor ---------------------------------------------------------
    def _cursor_path(self) -> str:
        return os.path.join(self.root, self.CURSOR)

    def cursor(self) -> dict:
        p = self._cursor_path()
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"docs_version": 0, "total_tokens": 0}

    def _save_cursor(self, cur: dict) -> None:
        tmp = self._cursor_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cur, f)
        os.replace(tmp, self._cursor_path())

    # -- ingest ----------------------------------------------------------
    def ingest(self, df: DataFrame, wave_id: int) -> int:
        return self.docs.merge(df.select(
            "doc_id", "text", "lang", "source", "n_chars"), wave_id)

    # -- refresh ---------------------------------------------------------
    def refresh(self, wave_id: int) -> dict:
        cur = self.cursor()
        since = cur["docs_version"]
        current_version = self.docs.current_snapshot()["version"]
        delta = self.docs.incremental_read(since, to_version=current_version)
        if delta is None or not delta.head(1):
            return {"new_docs": 0, "packed": 0, "cursor": cur}
        delta = materialize(delta, "shared")
        n_new = delta.count()

        # 1. quality/language filter (stateless)
        delta.createOrReplaceTempView("dpi_delta")
        filtered = materialize(
            self.spark.sql(_filter_sql_spark("dpi_delta")), "shared")

        # 2. exact dedup: in-wave canonical, then the first-claim store
        filtered.createOrReplaceTempView("dpi_filtered")
        exact_w = self.spark.sql(_exact_keep_sql_spark("dpi_filtered"))
        norm = F.sha2(
            F.trim(F.regexp_replace(
                F.lower(F.coalesce(F.col("text"), F.lit(""))),
                "[^a-z0-9]+", " ")), 256,
        )
        exact_w = exact_w.withColumn("norm_hash", norm)
        # First-claim via the store, REPLAY-SAFE: merge is insert-if-absent
        # (an earlier wave's claim always wins; a replayed wave's own merge
        # is a batch-id-fenced no-op), and the wave's surviving set is then
        # read BACK from the store as "claims whose winner is me". An
        # anti-join against the pre-merge store would NOT survive replay: a
        # crash after the claims commit leaves the store containing this
        # wave's own claims, so the replayed anti-join returns EMPTY and
        # the wave's rows would be fenced out of the packed table forever
        # (and the token cursor would advance by 0). Same pattern as the
        # streaming indexer's prior-claims routing (streaming/pipeline.py).
        self.norm_hashes.merge(
            exact_w.select("norm_hash", "doc_id"), wave_id)
        own_claims = self.norm_hashes.read().select("norm_hash", "doc_id")
        exact = materialize(
            exact_w.join(own_claims, ["norm_hash", "doc_id"], "left_semi"),
            "shared")

        # 3. near-dedup: in-wave pairs + cross-wave via the band store.
        #    Read prior bands BEFORE inserting this wave's (a doc must not
        #    collide with itself through the store).
        exact.createOrReplaceTempView("dpi_exact")
        new_bands = materialize(
            dataprep.minhash_bands(self.spark, "dpi_exact", "dpi_bands"),
            "shared")
        prior_bands = self.bands.read()
        old_candidates = (
            prior_bands.join(
                new_bands.select("band", "band_key").distinct(),
                ["band", "band_key"], "left_semi",
            ).select("doc_id").distinct()
        )
        # pull matching old docs back (text for the exact-Jaccard verify);
        # bounded by LSH collision count, not corpus size
        old_docs = self.docs.read().join(old_candidates, "doc_id", "left_semi")
        # dropDuplicates: on a replay whose bands already committed, the
        # store pulls this wave's own docs back as "old" — one row per
        # doc keeps the pair derivation identical to the first run
        union_rel = exact.select("doc_id", "text").unionByName(
            old_docs.select("doc_id", "text")).dropDuplicates(["doc_id"])
        union_rel.createOrReplaceTempView("dpi_union")
        # staged builder (shingles/sizes/bands materialized once) — the
        # all-in-one SQL re-expanded the shingle chain per CTE reference
        pairs = dataprep.minhash_pairs(self.spark, "dpi_union", "dpi_mh")
        # loser = greater id of a >=threshold pair; old docs have smaller
        # ids (ingest order == id order), so only NEW docs can lose here
        losers = pairs.join(
            exact.select(F.col("doc_id").alias("doc_b")), "doc_b", "left_semi"
        ).select(F.col("doc_b").alias("doc_id")).distinct()
        kept = materialize(exact.join(losers, "doc_id", "left_anti"), "shared")
        self.bands.merge(new_bands, wave_id)

        # 4. PII scrub (stateless, 1:1)
        kept.createOrReplaceTempView("dpi_kept")
        scrub = llmprep.scrub_chain_expr("spark", llmprep._pii_text_expr("spark"))
        scrubbed = self.spark.sql(
            f"SELECT doc_id, lang, {scrub} AS text, "
            f"sha2({scrub}, 256) AS scrubbed_hash FROM dpi_kept"
        )

        # 5. pack: in-wave two-phase prefix sum, shifted by the running
        #    token total (prior offsets never change — id-ordered append)
        scrubbed.createOrReplaceTempView("dpi_scrubbed")
        base = int(cur["total_tokens"])
        c = llmprep.PACK_CONTEXT_TOKENS
        wave_pack = self.spark.sql(
            llmprep.pack_sql_spark("dpi_scrubbed",
                                   carry_cols=("lang", "scrubbed_hash"))
        )
        # integer `div` (not FP division) — chunk ids must stay exact past
        # 2^53 total tokens
        shifted = materialize(wave_pack.selectExpr(
            "doc_id",
            "lang",
            "n_tokens",
            f"start_offset + {base} AS start_offset",
            f"(start_offset + {base}) div {c} AS first_chunk",
            f"(start_offset + {base} + n_tokens - 1) div {c} AS last_chunk",
            f"(start_offset + {base} + n_tokens - 1) div {c} - "
            f"(start_offset + {base}) div {c} + 1 AS n_chunks",
            "scrubbed_hash",
        ).select(
            "doc_id", "lang", "n_tokens", "start_offset",
            "first_chunk", "last_chunk", "n_chunks", "scrubbed_hash",
        ), "shared")

        n_packed = self.packed.merge(shifted, wave_id, assume_new=True)
        wave_tokens = shifted.agg(F.sum("n_tokens")).collect()[0][0] or 0
        self._save_cursor({
            "docs_version": current_version,
            "total_tokens": base + int(wave_tokens),
        })
        return {"new_docs": n_new, "packed": n_packed, "cursor": self.cursor()}


def dataprep_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gated query: ingest the documents table in TWO id-ordered
    waves, refresh after each, and return the incrementally maintained
    packed table — which must equal the FULL-corpus DuckDB oracle chain
    (the same oracle the one-shot ``dataprep_pipeline`` gate uses):
    the gate proves incremental == full, end to end."""
    import tempfile

    docs = dataprep._docs(spark, sf_dir)
    split = 250  # sf fixtures carry doc_id 0..499
    root = tempfile.mkdtemp(prefix="dataprep_incr_")
    prep = IncrementalDataPrep(spark, root)
    prep.ingest(docs.filter(F.col("doc_id") < split), wave_id=0)
    prep.refresh(wave_id=0)
    prep.ingest(docs.filter(F.col("doc_id") >= split), wave_id=1)
    prep.refresh(wave_id=1)
    return prep.packed.read().select(
        "doc_id", "lang", "n_tokens", "start_offset",
        "first_chunk", "last_chunk", "n_chunks", "scrubbed_hash",
    )
