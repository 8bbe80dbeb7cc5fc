"""Deterministic hash / date-id column expressions (pure Catalyst, no UDFs).

Reference semantics (model/InputContent.java:164-169):
  expectedDocumentHash     = H(text, documentCollectionId, collectionItemId)
  expectedWebResourceHash  = H(pubTimeMillis + url)
  expectedParentWebResourceHash = H(parentPubTimeMillis + parentUrl)

The reference uses base64(sha1(...)) via the external Sirocco jar; we use
lowercase-hex sha256 over a '\\x1f'-joined field list — same uniqueness and
determinism contract, expressible as built-in columns in both Spark and
DuckDB (which the correctness oracle requires). Documented deviation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SEP = "\x1f"  # unit separator — cannot appear in normal text


def _h(*cols: Column) -> Column:
    # NOT concat_ws: Spark's concat_ws silently drops nulls AND their
    # separator, which would diverge from the DuckDB oracle rendering.
    # Explicit coalesce('') + fixed separators keeps both engines identical.
    parts: list[Column] = []
    for i, c in enumerate(cols):
        if i:
            parts.append(F.lit(SEP))
        parts.append(F.coalesce(c.cast("string"), F.lit("")))
    return F.sha2(F.concat(*parts), 256)


def document_hash(text: Column, collection_id: Column, item_id: Column) -> Column:
    """PK of the document table (model/InputContent.java:166)."""
    return _h(text, collection_id, item_id)


def web_resource_hash(pub_time: Column, url: Column) -> Column:
    """PK of the webresource table (model/InputContent.java:167) —
    H(epoch-millis of pub_time, url)."""
    return _h((pub_time.cast("double") * 1000).cast("long").cast("string"), url)


def sentiment_hash(document_hash_col: Column, passage_text: Column) -> Column:
    """PK of the sentiment table: hash of (document hash, passage text)."""
    return _h(document_hash_col, passage_text)


def date_id(ts: Column) -> Column:
    """epoch ts -> YYYYMMDD int (IndexerPipelineUtils.java:134-142)."""
    return F.date_format(ts, "yyyyMMdd").cast("int")


# DuckDB-SQL renderings of the same expressions, used to build oracle SQL.
def duckdb_hash_sql(*exprs: str) -> str:
    joined = f" || chr(31) || ".join(f"coalesce({e}, '')" for e in exprs)
    return f"sha256({joined})"
