"""Fan-out of the indexed stream into the star-schema tables.

The reference does this with one multi-output ParDo
(``CreateTableRowsFromIndexSummaryFn``, IndexerPipeline.java:1335-1452) plus
two webresource-only variants for skipped items (:1491-1530) and soft-dupes
(:1455-1489, DocumentHash re-pointed to the winner). In Spark each output
table is a ``select`` off the shared upstream plan — Catalyst prunes the
columns each branch needs, and the upstream is persisted once when all
three sinks are materialized in the same job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataflow_opinion_analysis_spark import hashes, schemas


def webresource_rows(input_content: DataFrame, document_hash_col: str = "expected_document_hash") -> DataFrame:
    """One webresource row per turn (posting). For dupes pass
    ``document_hash_col='winner_document_hash'`` — the re-pointing of
    CreateWebresourceTableRowFromDupeIndexSummaryFn (IndexerPipeline.java:1455-1489)."""
    return input_content.select(
        F.col("web_resource_hash").alias("WebResourceHash"),
        F.col("url").alias("Url"),
        F.col("pub_time").alias("PublicationTime"),
        F.col("pub_date_id").alias("PublicationDateId"),
        F.col("processing_time").alias("ProcessingTime"),
        F.col("processing_date_id").alias("ProcessingDateId"),
        F.col(document_hash_col).alias("DocumentHash"),
        F.col("document_collection_id").alias("DocumentCollectionId"),
        F.col("collection_item_id").alias("CollectionItemId"),
        F.col("title").alias("Title"),
        # Domain of a conv:// url is the conversation id
        F.col("conv_id").alias("Domain"),
        F.col("author").alias("Author"),
        F.col("parent_web_resource_hash").alias("ParentWebResourceHash"),
        F.col("meta_fields").alias("MetaFields"),
    )


def document_rows(winners_with_tags: DataFrame) -> DataFrame:
    """One document row per unique indexed text (IndexerPipeline.java:709-736).

    Type: SHORTTEXT when < 400 chars else ARTICLE (the reference takes this
    from the content-type option; we derive it deterministically). Batch
    and stream write the same rows; the stream's cross-batch exact dedupe
    reads its own content index, not this table."""
    return winners_with_tags.select(
        F.col("expected_document_hash").alias("DocumentHash"),
        F.col("pub_time").alias("PublicationTime"),
        F.col("pub_date_id").alias("PublicationDateId"),
        F.col("processing_time").alias("ProcessingTime"),
        F.col("processing_date_id").alias("ProcessingDateId"),
        F.col("document_collection_id").alias("DocumentCollectionId"),
        F.col("collection_item_id").alias("CollectionItemId"),
        F.col("title").alias("Title"),
        F.when(F.length("text") < 400, F.lit(schemas.DOC_TYPE_SHORTTEXT))
        .otherwise(F.lit(schemas.DOC_TYPE_ARTICLE))
        .alias("Type"),
        F.col("language").alias("Language"),
        F.lit(1).alias("ParseDepth"),
        F.length("text").alias("ContentLength"),
        F.col("author").alias("Author"),
        F.col("text").alias("Text"),
        F.col("web_resource_hash").alias("MainWebResourceHash"),
        F.col("parent_web_resource_hash").alias("ParentWebResourceHash"),
        F.col("Tags"),
    )


def sentiment_rows_fused(soft_winners: DataFrame) -> DataFrame:
    """Sentiment rows via the fused Arrow fan-out — NO join: the scorer
    stage replicates the document key fields (and Tags) onto each passage
    row (functions/scorer.score_passages_carry), so the whole sentiment
    branch is a single narrow map off the checkpointed winners. This is
    the scale path: the round-2 passages-x-winners shuffle join moved the
    full text + Tags payload through the exchange twice."""
    from dataflow_opinion_analysis_spark.functions import scorer

    carry = (
        "pub_time",
        "pub_date_id",
        "web_resource_hash",
        "parent_web_resource_hash",
        "Tags",
        # doc text rides along so the projection can derive
        # LabelledPositions (passage [start,end) within the document).
        # Map-local widening only: instr() consumes it in the same stage
        # and the column is dropped before any exchange.
        "text",
    )
    inp = soft_winners.select(
        F.col("expected_document_hash").alias("document_hash"),
        "conv_id",
        "turn_idx",
        *carry,
    )
    return _sentiment_projection(scorer.score_passages_carry(inp, carry))


def _sentiment_projection(df: DataFrame) -> DataFrame:
    # LabelledPositions: "start:end" character offsets ([start, end),
    # 0-based) of the passage within its document text, resolved by
    # deterministic FIRST OCCURRENCE — the same instr/strpos expression
    # both engines (reference carries passage positions in its sentiment
    # schema: bigquery/sentimentSchema.json, IndexerPipeline.java:743-784).
    # A passage is always a contiguous substring of its document (the
    # splitter only trims), so instr() > 0 by construction; the guard
    # keeps a malformed row NULL instead of "-1:...".
    pos = F.instr(F.col("text"), F.col("passage_text"))
    labelled = F.when(
        pos > 0,
        F.concat(
            (pos - F.lit(1)).cast("string"),
            F.lit(":"),
            (pos - F.lit(1) + F.length("passage_text")).cast("string"),
        ),
    )
    return df.select(
        hashes.sentiment_hash(
            F.col("document_hash"),
            F.concat(F.col("passage_idx").cast("string"), F.lit(hashes.SEP), F.col("passage_text")),
        ).alias("SentimentHash"),
        F.col("document_hash").alias("DocumentHash"),
        F.col("pub_time").alias("DocumentTime"),
        F.col("pub_date_id").alias("DocumentDateId"),
        F.col("passage_text").alias("Text"),
        labelled.alias("LabelledPositions"),
        F.col("passage_text").alias("AnnotatedText"),
        F.concat(F.lit("<p>"), F.col("passage_text"), F.lit("</p>")).alias("AnnotatedHtml"),
        F.col("SentimentTotalScore"),
        F.col("DominantValence"),
        *[F.col(c) for c in schemas.ST_COLUMNS],
        F.col("web_resource_hash").alias("MainWebResourceHash"),
        F.col("parent_web_resource_hash").alias("ParentWebResourceHash"),
        F.transform(
            F.coalesce(F.col("Tags"), F.array().cast(schemas.SENTIMENT["Tags"].dataType)),
            lambda t: F.struct(
                t["Tag"].alias("Tag"),
                F.lit(None).cast("double").alias("Weight"),
                t["GoodAsTopic"].alias("GoodAsTopic"),
            ),
        ).alias("Tags"),
        F.col("Signals"),
    )
