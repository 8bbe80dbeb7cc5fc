"""transcripts -> InputContent derivation (all pure Catalyst columns).

The analogue of the reference's parse/enrich ParDos (P1-P13 in SURVEY.md
§2.2) plus the thread reconstruction (J1, ``IndexerPipeline.java:540-607``)
— in batch mode the parent link is a partitioned ``lag`` window over
(conv_id, turn_idx); the streaming twin lives in ``streaming/threads.py``.

Everything here stays inside whole-stage codegen: string concat, hashes,
date math, one window. The only exchange is the hash-partition on conv_id
for the lag window — which is the same partitioning the downstream
session/dedupe stages want, so it is reused, not repeated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataflow_opinion_analysis_spark import hashes, schemas

TITLE_LEN = 80


def derive_input_content(
    transcripts: DataFrame,
    processing_time: str = "2024-02-01 00:00:00",
    parent_mode: str = "lag",
) -> DataFrame:
    """Derive the InputContent columns (SURVEY.md §1.5 mapping table).

    ``processing_time`` is injected (never wall-clock) so goldens are
    stable — FIXTURES.md §4.

    ``parent_mode``:
      - "lag": batch — resolve the parent turn with a partitioned window
        (parent is strictly turn_idx-1; a gap yields NULL, matching the
        streaming seen-map semantics);
      - "provided": streaming — the stateful thread assembler
        (streaming/threads.py) already attached ``parent_ts``.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")

    df = (
        transcripts
        # drop empty/whitespace texts (null guard F6, IndexerPipeline.java:1078-1082)
        .filter(F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) > 0)
        .withColumn("url", F.concat(F.lit("conv://"), F.col("conv_id"), F.lit("/"), F.col("turn_idx").cast("string")))
        .withColumn("pub_time", F.col("ts"))
        .withColumn("pub_date_id", hashes.date_id(F.col("ts")))
        .withColumn(
            "title",
            F.when(F.col("turn_idx") == 0, F.substring(F.col("text"), 1, TITLE_LEN)),
        )
        .withColumn("author", F.col("role"))
        .withColumn("language", F.lit("EN"))
        .withColumn("document_collection_id", F.lit(schemas.TRANSCRIPTS_COLLECTION_ID))
        .withColumn(
            "collection_item_id",
            F.concat(F.col("conv_id"), F.lit(":"), F.col("turn_idx").cast("string")),
        )
        # role='tool' turns are not indexed (skipIndexing policy flag,
        # reference FilterItemsToIndex IndexerPipeline.java:1634-1643)
        .withColumn("skip_indexing", F.when(F.col("role") == "tool", F.lit(1)).otherwise(F.lit(0)))
    )

    # thread reconstruction: parent = strictly turn_idx-1 (J1). Batch uses a
    # partitioned lag guarded by index adjacency; streaming provides
    # parent_ts from the keyed state op.
    if parent_mode == "lag":
        adj = F.lag("turn_idx", 1).over(w) == F.col("turn_idx") - 1
        df = df.withColumn(
            "parent_pub_time", F.when(adj, F.lag("ts", 1).over(w))
        )
    elif parent_mode == "provided":
        df = df.withColumn("parent_pub_time", F.col("parent_ts"))
    else:
        raise ValueError(parent_mode)

    df = (
        df.withColumn(
            "parent_url",
            F.when(
                F.col("parent_pub_time").isNotNull(),
                F.concat(
                    F.lit("conv://"),
                    F.col("conv_id"),
                    F.lit("/"),
                    (F.col("turn_idx") - 1).cast("string"),
                ),
            ),
        )
        .withColumn(
            "meta_fields",
            F.when(F.col("tool").isNotNull(), F.array(F.col("tool"))).otherwise(
                F.array().cast("array<string>")
            ),
        )
    )

    df = (
        df.withColumn(
            "content_hash",
            # exact-dedupe grouping key: text+collection (not item id), so
            # identical texts across turns collapse — FIXTURES.md §5.1
            hashes._h(F.col("text"), F.col("document_collection_id")),
        )
        .withColumn(
            "expected_document_hash",
            hashes.document_hash(
                F.col("text"), F.col("document_collection_id"), F.col("collection_item_id")
            ),
        )
        .withColumn("web_resource_hash", hashes.web_resource_hash(F.col("pub_time"), F.col("url")))
        .withColumn(
            "parent_web_resource_hash",
            F.when(
                F.col("parent_url").isNotNull(),
                hashes.web_resource_hash(F.col("parent_pub_time"), F.col("parent_url")),
            ),
        )
        .withColumn("processing_time", F.lit(processing_time).cast("timestamp"))
        .withColumn("processing_date_id", hashes.date_id(F.col("processing_time")))
    )
    return df


def input_content_from_parsed(
    parsed: DataFrame, processing_time: str = "2024-02-01 00:00:00"
) -> DataFrame:
    """Adapter for the non-transcript connectors (P1 article files, P2 CSV,
    S6 GDELT JSON, S2 JDBC — sources/files.py): their rows already carry
    the InputContent business columns (url/pub_time/title/author/language/
    text/collection ids/skip_indexing[/parent_*]); this adds the surrogate
    thread keys (each document is its own 1-turn conversation), the hash
    fields (InputContent.calculateHashFields, model/InputContent.java:163-169)
    and processing time, yielding the exact shape build_indexer_from_
    input_content consumes."""
    df = parsed
    for col, default in (
        ("parent_url", F.lit(None).cast("string")),
        ("parent_pub_time", F.lit(None).cast("timestamp")),
        ("author", F.lit(None).cast("string")),
        ("title", F.lit(None).cast("string")),
        ("language", F.lit(None).cast("string")),
    ):
        if col not in df.columns:
            df = df.withColumn(col, default)
    return (
        df.filter(F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) > 0)
        .withColumn(
            "conv_id",
            F.coalesce(F.col("collection_item_id"), F.col("url"), hashes._h(F.col("text"))),
        )
        .withColumn("turn_idx", F.lit(0))
        # sources without a publication time (e.g. the CSV corpus) fall
        # back to processing time, like the reference's null-pubTime rows
        .withColumn(
            "pub_time",
            F.coalesce(F.col("pub_time"), F.lit(processing_time).cast("timestamp")),
        )
        .withColumn("pub_date_id", hashes.date_id(F.col("pub_time")))
        .withColumn("meta_fields", F.array().cast("array<string>"))
        .withColumn("content_hash", hashes._h(F.col("text"), F.col("document_collection_id")))
        .withColumn(
            "expected_document_hash",
            hashes.document_hash(
                F.col("text"), F.col("document_collection_id"), F.col("collection_item_id")
            ),
        )
        .withColumn(
            "web_resource_hash",
            F.when(
                F.col("pub_time").isNotNull() & F.col("url").isNotNull(),
                hashes.web_resource_hash(F.col("pub_time"), F.col("url")),
            ).otherwise(hashes._h(F.col("expected_document_hash"))),
        )
        .withColumn(
            "parent_web_resource_hash",
            F.when(
                F.col("parent_url").isNotNull() & F.col("parent_pub_time").isNotNull(),
                hashes.web_resource_hash(F.col("parent_pub_time"), F.col("parent_url")),
            ),
        )
        .withColumn("processing_time", F.lit(processing_time).cast("timestamp"))
        .withColumn("processing_date_id", hashes.date_id(F.col("processing_time")))
    )


def split_skip_indexing(input_content: DataFrame) -> tuple[DataFrame, DataFrame]:
    """F2: route on skip_indexing (IndexerPipeline.java:1634-1643)."""
    to_index = input_content.filter(F.col("skip_indexing") == 0)
    skipped = input_content.filter(F.col("skip_indexing") != 0)
    return to_index, skipped
