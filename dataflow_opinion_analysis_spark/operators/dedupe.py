"""Deduplication operators — the reference's signature stateful logic.

D1 exact dedupe   <- EliminateInputContentDupes, IndexerPipeline.java:868-901
D2 soft dedupe    <- EliminateTextDupes,        IndexerPipeline.java:910-989

The reference's "first element of the group" is Java-iteration-order
nondeterministic (a reproducibility bug, IndexerPipeline.java:893-898); we
replace it with the smallest (conv_id, turn_idx) — a documented deviation
required for row-for-row goldens (FIXTURES.md §4).

Both operators shuffle exactly once, on their group key. At 100 TB the
exact-dedupe key (content hash) is near-unique so the shuffle is balanced
by construction; the soft-dedupe key (title, length-bucket) can be hot, so
every join on it pins the small side to broadcast (no skewed shuffle at
all — see the comment at the freq_q join below) and the aggregates are
hash aggregates with map-side combine rather than windows (a rank window
would funnel the hot key through one task; the generic salted-window
escape hatch for shapes that DO need a per-key rank is
operators/hints.salted_top_k). Residual skewed joins fall to AQE
skew-split (session.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_dedupe_ranked(input_content: DataFrame) -> DataFrame:
    """D1 core: rank rows within each content_hash group. One shuffle;
    callers derive winners (``_rn == 1``) and dupes (``_rn > 1``) as
    filters — build_indexer checkpoints THIS frame once so both branches
    read one materialization instead of re-running the scan + window."""
    # winner = earliest event time (ties: smallest conv_id, turn_idx).
    # Event-time-first keeps the batch rule consistent with streaming
    # first-seen order (micro-batches arrive in ~event-time order), so the
    # two modes elect the same winner — the batch/stream equivalence test
    # depends on this.
    w = Window.partitionBy("content_hash").orderBy("pub_time", "conv_id", "turn_idx")
    return input_content.withColumn("_rn", F.row_number().over(w)).withColumn(
        "winner_document_hash", F.first("expected_document_hash").over(w)
    )


def exact_dedupe(input_content: DataFrame) -> tuple[DataFrame, DataFrame]:
    """D1: one winner per content_hash; losers keep a pointer to the
    winner's document hash (so their webresource rows re-point).

    Returns (winners, dupes); ``dupes`` carries ``winner_document_hash``.
    """
    ranked = exact_dedupe_ranked(input_content)
    winners = ranked.filter(F.col("_rn") == 1).drop("_rn", "winner_document_hash")
    dupes = ranked.filter(F.col("_rn") > 1).drop("_rn")
    return winners, dupes


# ---------------------------------------------------------------------------
# D2 soft (near-duplicate) dedupe — the reference's tag-vote rule
# ---------------------------------------------------------------------------

# composite soft key (GetContentIndexSummaryKeyFn, IndexerPipeline.java:1587-1610):
#   (title or 'No Title', round(contentLength / 1000))
def with_soft_key(indexed: DataFrame) -> DataFrame:
    # accepts either a full `text` column or a precomputed `text_len`
    # (the verdict chain passes text_len so the wide text column never
    # enters the dedupe shuffles)
    text_len = (
        F.col("text_len") if "text_len" in indexed.columns else F.length("text")
    )
    return (
        indexed.withColumn("soft_title", F.coalesce(F.col("title"), F.lit("No Title")))
        .withColumn("len_bucket", F.round(text_len / 1000.0).cast("int"))
        .withColumn("text_len", text_len)
    )


def _soft_dedupe_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """The vote rule (IndexerPipeline.java:910-989), vectorized per group:

    1. per-tag occurrence counts across the group;
    2. minTagOccurences = max(round(groupSize/2), 2)            (:942)
    3. a doc "matches" if >=50% of its tags are group-frequent AND
       at least 2 tags matched                                   (:957)
    4. among matching docs the SHORTEST text wins (tie: smallest
       (conv_id, turn_idx)); the others are emitted as dupes re-keyed to
       the winner's hash                                         (:961-984)
    5. non-matching docs pass through.

    Input rows carry document_hash, conv_id, turn_idx, text_len, tags
    (list of tag strings). Output adds is_dupe + winner_document_hash.
    """
    n = len(pdf)
    out = pdf[["document_hash", "conv_id", "turn_idx"]].copy()
    out["is_dupe"] = False
    out["winner_document_hash"] = pdf["document_hash"]
    if n < 2:
        return out

    tag_lists = pdf["tag_names"].apply(lambda v: list(v) if v is not None else [])
    exploded = tag_lists.explode().dropna()
    if exploded.empty:
        return out
    tag_counts = exploded.value_counts()
    # round-half-up like Java Math.round (the reference, :942) and SQL
    # round() in Spark/DuckDB — NOT Python's banker's rounding
    min_occ = max(int(n / 2 + 0.5), 2)
    frequent = set(tag_counts[tag_counts >= min_occ].index)

    def matched(tags: list) -> bool:
        if not tags:
            return False
        m = sum(1 for t in tags if t in frequent)
        return m >= 2 and m >= 0.5 * len(tags)

    is_match = tag_lists.apply(matched).to_numpy()
    if is_match.sum() < 2:
        return out

    grp = pdf[is_match].sort_values(["text_len", "conv_id", "turn_idx"])
    winner_hash = grp.iloc[0]["document_hash"]
    losers = grp.index[grp["document_hash"] != winner_hash]
    out.loc[losers, "is_dupe"] = True
    out.loc[losers, "winner_document_hash"] = winner_hash
    return out


SOFT_DEDUPE_SCHEMA = (
    "document_hash string, conv_id string, turn_idx int, "
    "is_dupe boolean, winner_document_hash string"
)


def soft_dedupe(indexed_with_tags: DataFrame) -> DataFrame:
    """Apply the vote rule per (soft_title, len_bucket) group — pure
    Catalyst (no Python): distributed tag-frequency aggregation, a join
    back for per-doc match counts, and rank windows for winner election.

    This is deliberately NOT an ``applyInPandas`` over the group: the
    'No Title' group is the entire untitled corpus, so collecting a group
    into one Python worker cannot scale. Every step below is a hash
    aggregate or window over the group key — AQE splits the hot key's
    shuffle partitions, and nothing ever materializes a whole group in
    one process. (``_soft_dedupe_group`` above is the executable spec;
    a property test asserts equivalence.)

    Input needs: expected_document_hash, conv_id, turn_idx, title, text,
    ``tag_names`` array<string>. Returns the verdict frame keyed by
    document_hash.
    """
    keyed = with_soft_key(indexed_with_tags).select(
        F.col("expected_document_hash").alias("document_hash"),
        "conv_id",
        "turn_idx",
        "soft_title",
        "len_bucket",
        "text_len",
        "tag_names",
    )
    key = ["soft_title", "len_bucket"]

    tags = keyed.select(
        "document_hash", *key, F.explode("tag_names").alias("tag")
    )
    # tag occurrence counts per group — a hash aggregate with map-side
    # partial combine, so the hot soft key never concentrates in one task
    freq = tags.groupBy(*key, "tag").agg(F.count("*").alias("occ"))
    grp_n = keyed.groupBy(*key).agg(F.count("*").alias("grp_n"))
    # singleton groups can never produce dupes (is_match needs grp_n>=2)
    # — dropping them here shrinks every broadcast below from
    # #groups-sized to #multi-doc-groups-sized
    grp_n2 = grp_n.filter(F.col("grp_n") >= 2)

    # QUALIFY the frequent-tag table before it ever meets the big exploded
    # side: group-frequent means occ >= max(round-half-up(grp_n/2), 2)
    # (IndexerPipeline.java:942) — occ must reach HALF the group size, so
    # the qualified set is tiny (a handful of ultra-common tags per big
    # group). The round-2 plan applied this filter after joining freq AND
    # grp_n onto the exploded tags — two broadcast probes over |corpus|*K
    # rows; now one tiny broadcast does it and the grp_n probe on the big
    # side disappears entirely.
    freq_q = (
        freq.join(grp_n2, key)
        .filter(F.col("occ") >= F.greatest(F.round(F.col("grp_n") / 2.0), F.lit(2)))
        .select(*key, "tag")
    )

    # per-doc count of group-frequent tags. Broadcast EXPLICITLY: these
    # joins key on the skewed soft key ('No Title' holds most of the
    # corpus), and when AQE happens to pick a sort-merge strategy instead,
    # the hot key collapses into one giant serial partition — observed as
    # bimodal 75s-vs-200s runs. Pinning the broadcast removes the skewed
    # shuffle entirely (the reference passes these as Beam side inputs for
    # the same reason).
    hits = (
        tags.join(F.broadcast(freq_q), [*key, "tag"])
        .groupBy("document_hash")
        .agg(F.count("*").alias("n_freq"))
    )

    base = keyed.join(F.broadcast(grp_n2), key, "left").select(
        "document_hash",
        *key,
        "conv_id",
        "turn_idx",
        "text_len",
        F.coalesce("grp_n", F.lit(1)).alias("grp_n"),
        F.size(F.coalesce("tag_names", F.array())).alias("n_tags"),
    )
    # hits is document-count-sized in tag-overlapping corpora; AQE picks
    # its join strategy (a forced shuffle_hash measured 259s vs 82s for the
    # full pipeline on 2M turns at local[32]). freq/grp_n/winners_per_group
    # above are per-group / repeated-tag sized, genuinely small
    dm = base.join(hits, "document_hash", "left").withColumn(
        "n_freq", F.coalesce("n_freq", F.lit(0))
    ).withColumn(
        "is_match",
        (F.col("grp_n") >= 2)
        & (F.col("n_tags") > 0)
        & (F.col("n_freq") >= 2)
        & (F.col("n_freq") >= 0.5 * F.col("n_tags")),
    )

    # winner election WITHOUT windows: a window over the hot group key
    # ('No Title' holds the whole untitled corpus) is a single serial
    # task. A hash aggregate gets map-side partial combine instead:
    # winner = min (text_len, conv_id, turn_idx, hash) struct per group —
    # unique because (conv_id, turn_idx) is unique per doc.
    winners_per_group = (
        dm.filter(F.col("is_match"))
        .groupBy(*key)
        .agg(
            F.min(
                F.struct("text_len", "conv_id", "turn_idx", "document_hash")
            ).alias("w"),
            F.count("*").alias("n_match"),
        )
        .select(*key, F.col("w.document_hash").alias("grp_winner_hash"), "n_match")
    )

    # one row per group: far smaller than dm, Catalyst auto-broadcasts
    ranked = dm.join(F.broadcast(winners_per_group), key, "left")
    is_dupe = (
        F.col("is_match")
        & (F.coalesce(F.col("n_match"), F.lit(0)) >= 2)
        & (F.col("document_hash") != F.col("grp_winner_hash"))
    )
    return ranked.select(
        "document_hash",
        "conv_id",
        "turn_idx",
        is_dupe.alias("is_dupe"),
        F.when(is_dupe, F.col("grp_winner_hash"))
        .otherwise(F.col("document_hash"))
        .alias("winner_document_hash"),
    )
