"""Vectorized opinion scorer — the Sirocco-equivalent indexing stage.

Replaces the reference's per-document Java NLP call
(``IndexerPipeline.java:998-1060``, Sirocco ``Indexer.index`` at ``:1033``)
with Arrow-batched pandas transforms: sentence segmentation, token
explosion, lexicon merge, pivoted per-dim counts. No per-row Python —
everything is pandas C-level string/merge/groupby ops over whole record
batches (north_star: "never per-row Python").

Two entry points, both ``mapInPandas`` stages:

- ``score_passages_carry(df, carry)``  1 document -> N sentiment-passage rows
  (the reference's ``GetSentiments`` fan-out, ``IndexerPipeline.java:1398-1450``)
- ``tags_augment(df)``                 1 document -> the same row plus a Tags
  array (top-K frequent non-stopword tokens; reference tags come from Sirocco)

Determinism contract: scores are pure functions of the text (see
``functions/lexicon.py``), so goldens and the DuckDB oracle reproduce them
exactly.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from dataflow_opinion_analysis_spark import schemas
from dataflow_opinion_analysis_spark.functions import lexicon

# lexicon as a pandas frame, built once per python worker (module import),
# mirroring the reference's @StartBundle client pooling
# (IndexerPipeline.java:1679-1699)
_LEX_DF = pd.DataFrame(lexicon.LEXICON_PAIRS, columns=["token", "dim"])

SENTENCE_SPLIT_RE = r"[.!?]+"

# output schema (DDL) of score_passages: keys + passage + 17 dims + extras
PASSAGE_SCHEMA = (
    "document_hash string, conv_id string, turn_idx int, "
    "passage_idx int, passage_text string, "
    + ", ".join(f"{lexicon.DIM_TO_COLUMN[d]} int" for d in sorted(lexicon.LEXICON))
    + ", StSentiment int, SentimentTotalScore int, DominantValence int, "
    "Signals array<string>"
)

TAGS_SCHEMA = "document_hash string, Tags array<struct<Tag:string,Weight:double,GoodAsTopic:boolean>>"


def _tokenize(texts: pd.Series) -> pd.DataFrame:
    """Explode a text Series into (orig_pos, token) rows — all C-level."""
    toks = texts.str.lower().str.findall(lexicon.TOKEN_RE)
    e = toks.explode().dropna()
    return pd.DataFrame({"pos": e.index, "token": e.values})


def _split_sentences(pdf: pd.DataFrame, carry: tuple[str, ...] = ()) -> pd.DataFrame:
    """1 doc row -> N sentence rows with passage_idx (1-based).

    passage_idx is the RAW split-array position (numbered BEFORE dropping
    empty/whitespace segments), matching the DuckDB oracle's
    generate_series(1, len(parts)) convention — so SentimentHash agrees
    across engines even for texts with empty segments ('a.. b').

    ``carry`` columns are replicated onto every passage row — the fused
    scorer fan-out uses this to carry document key fields through the
    Arrow stage so no join-back is ever needed."""
    s = pdf["text"].fillna("").str.split(SENTENCE_SPLIT_RE)
    e = s.explode()
    raw_idx = e.groupby(level=0).cumcount().astype("int32") + 1
    e = e.str.strip()
    keep = e.str.len() > 0
    e, raw_idx = e[keep], raw_idx[keep]
    out = pdf.loc[e.index, ["document_hash", "conv_id", "turn_idx", *carry]].copy()
    out["passage_text"] = e.values
    out["passage_idx"] = raw_idx.values
    return out.reset_index(drop=True)


def _score_batch(pdf: pd.DataFrame, carry: tuple[str, ...] = ()) -> pd.DataFrame:
    """Score one Arrow batch of documents -> passage rows with hits."""
    sent = _split_sentences(pdf, carry)
    if sent.empty:
        return pd.DataFrame(columns=_passage_columns() + list(carry))

    tok = _tokenize(sent["passage_text"])
    hits = tok.merge(_LEX_DF, on="token", how="inner")
    if hits.empty:
        return pd.DataFrame(columns=_passage_columns() + list(carry))

    counts = (
        hits.groupby(["pos", "dim"]).size().unstack(fill_value=0)
    )
    for d in lexicon.LEXICON:
        if d not in counts.columns:
            counts[d] = 0
    # signals: sorted distinct 'dim:token' fired per passage
    hits["sig"] = hits["dim"] + ":" + hits["token"]
    signals = hits.groupby("pos")["sig"].apply(lambda s: sorted(set(s)))

    out = sent.loc[counts.index].copy()
    for d in sorted(lexicon.LEXICON):
        out[lexicon.DIM_TO_COLUMN[d]] = counts[d].astype("int32")
    out["StSentiment"] = (out["StPositive"] + out["StNegative"]).astype("int32")
    st_cols = [lexicon.DIM_TO_COLUMN[d] for d in sorted(lexicon.LEXICON)] + ["StSentiment"]
    out["SentimentTotalScore"] = out[st_cols].sum(axis=1).astype("int32")
    pos_gt = out["StPositive"] > out["StNegative"]
    neg_gt = out["StNegative"] > out["StPositive"]
    eq_pos = (out["StPositive"] == out["StNegative"]) & (out["StPositive"] > 0)
    out["DominantValence"] = (
        pos_gt * schemas.VALENCE_POSITIVE
        + neg_gt * schemas.VALENCE_NEGATIVE
        + eq_pos * schemas.VALENCE_AMBIGUOUS
    ).astype("int32")
    out.loc[out["DominantValence"] == 0, "DominantValence"] = schemas.VALENCE_GENERAL
    out["Signals"] = signals
    # only passages with at least one hit are opinions
    out = out[out["SentimentTotalScore"] > 0]
    return out[_passage_columns() + list(carry)]


def _passage_columns() -> list[str]:
    return (
        ["document_hash", "conv_id", "turn_idx", "passage_idx", "passage_text"]
        + [lexicon.DIM_TO_COLUMN[d] for d in sorted(lexicon.LEXICON)]
        + ["StSentiment", "SentimentTotalScore", "DominantValence", "Signals"]
    )


def _tag_lists(texts: pd.Series) -> pd.Series:
    """Per-row top-K tag tuples (Tag, Weight, GoodAsTopic) for a text
    Series — all C-level groupby/sort ops, aligned with ``texts.index``."""
    tok = _tokenize(texts.fillna(""))
    tok = tok[
        (tok["token"].str.len() >= lexicon.TAG_MIN_LEN)
        & ~tok["token"].isin(lexicon.TAG_STOPWORDS)
    ]
    if tok.empty:
        return pd.Series([[] for _ in range(len(texts))], index=texts.index)
    cnt = tok.groupby(["pos", "token"]).size().reset_index(name="n")
    # top-K by (count desc, token asc) — fully deterministic
    cnt = cnt.sort_values(["pos", "n", "token"], ascending=[True, False, True])
    cnt["rk"] = cnt.groupby("pos").cumcount()
    cnt = cnt[cnt["rk"] < lexicon.TAG_TOP_K]
    blocked = set(lexicon.TOPIC_BLOCKLIST)
    cnt["tag"] = list(
        zip(cnt["token"], cnt["n"].astype("float64"), ~cnt["token"].isin(blocked))
    )
    tags = cnt.groupby("pos")["tag"].apply(list)
    mapped = texts.index.map(tags)
    return pd.Series(
        [v if isinstance(v, list) else [] for v in mapped], index=texts.index
    )


# ---------------------------------------------------------------------------
# Fused DataFrame-level stages — the scaling-critical hot path.
#
# Both stages are NARROW (no shuffle, no join-back): tags are appended to
# the full winners frame in one Arrow pass, and the passage fan-out
# replicates the document key fields onto its output rows so the sentiment
# table needs no passages-x-winners join. These two joins were the
# worst-scaling parts of the round-2 plan (a 3-shuffle token pipeline for
# tags; a wide shuffle join for sentiment).
# ---------------------------------------------------------------------------

TAGS_FIELD_DDL = "array<struct<Tag:string,Weight:double,GoodAsTopic:boolean>>"

# strict-mode failure trigger: a NUL byte in document text kills real NLP
# parsers (the reference catches exactly such per-document Sirocco
# exceptions and side-outputs the doc to a dead-letter table,
# IndexerPipeline.java:307-324). Our scorer is a pure function that cannot
# organically fail, so strict mode re-creates the reference's error path:
# it RAISES on poison documents and the catch routes them to dead letter.
POISON_PATTERN = "\x00"


class IndexingError(ValueError):
    pass


def _index_or_raise(texts: pd.Series) -> pd.Series:
    """The throwing core of strict mode: refuses documents whose text a
    real parser would die on. Raises IndexingError (the analogue of the
    Sirocco exception the reference catches per element)."""
    bad = texts.str.contains(POISON_PATTERN, regex=False)
    if bad.any():
        raise IndexingError(
            f"unparseable document text (NUL byte) in {int(bad.sum())} document(s)"
        )
    return _tag_lists(texts)


def tags_augment(df, strict: bool = False):
    """winners frame (must carry ``text``) -> same frame + ``Tags`` +
    ``tag_names`` columns, computed in one narrow Arrow pass (no
    join-back).

    ``strict=True`` adds an ``_index_error`` column: the NLP stage raises
    IndexingError on unparseable (poison) documents; the per-sub-batch
    catch records the exception message on those rows instead of failing
    the job — the vectorized equivalent of the reference's per-element
    try/catch with a dead-letter side output
    (IndexerPipeline.java:307-324). Rows with ``_index_error`` set carry
    empty tags and are routed out of every fan-out by the caller."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType
    from pyspark.sql.types import _parse_datatype_string

    extra = [
        StructField("Tags", _parse_datatype_string(TAGS_FIELD_DDL)),
        StructField("tag_names", ArrayType(StringType())),
    ]
    if strict:
        extra.append(StructField("_index_error", StringType()))
    out_schema = StructType(list(df.schema.fields) + extra)
    cols = [f.name for f in df.schema.fields]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[cols].copy()
            if not strict:
                tags = _tag_lists(pdf["text"])
                out["Tags"] = tags
                out["tag_names"] = tags.apply(lambda v: [t[0] for t in v])
                yield out
                continue
            texts = pdf["text"].fillna("")
            errors = pd.Series([None] * len(pdf), index=pdf.index, dtype=object)
            try:
                tags = _index_or_raise(texts)
            except IndexingError:
                # split and retry the clean subset; record the exception
                # message (re-raised per poison sub-batch so the error
                # path truly executes) on the failed rows
                bad_mask = texts.str.contains(POISON_PATTERN, regex=False)
                tags = pd.Series([[] for _ in range(len(pdf))], index=pdf.index)
                ok_idx = pdf.index[~bad_mask]
                if len(ok_idx):
                    tags.loc[ok_idx] = _index_or_raise(texts.loc[ok_idx])
                for i in pdf.index[bad_mask]:
                    try:
                        _index_or_raise(texts.loc[[i]])
                    except IndexingError as e:
                        errors.loc[i] = str(e)
            out["Tags"] = tags
            out["tag_names"] = tags.apply(lambda v: [t[0] for t in v])
            out["_index_error"] = errors
            yield out

    return df.mapInPandas(fn, out_schema)


def score_passages_carry(df, carry: tuple[str, ...]):
    """(document_hash, conv_id, turn_idx, text, *carry) -> passage rows
    with the carry columns replicated — the fused scorer fan-out. No
    downstream join is needed: every document field the sentiment table
    wants rides through the Arrow stage with its passages."""
    from pyspark.sql.types import StructField, StructType
    from pyspark.sql.types import _parse_datatype_string

    base = _parse_datatype_string(PASSAGE_SCHEMA)
    by_name = {f.name: f for f in df.schema.fields}
    out_schema = StructType(list(base.fields) + [by_name[c] for c in carry])
    carry_t = tuple(carry)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _score_batch(pdf, carry_t)

    return df.mapInPandas(fn, out_schema)
