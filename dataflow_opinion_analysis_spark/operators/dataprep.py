"""Training-data pipeline operators over the `documents` table:
deduplication (exact, n-gram Jaccard, MinHash+LSH, SimHash), text
analysis (language-ID, quality scoring, token counting, fingerprinting).

Everything here is pure Catalyst SQL — token/shingle explosion via
higher-order functions (transform/sequence/slice), hashing via sha2 with
a portable hex->bigint bridge (`conv(substr(sha2(s),1,8),16,10)`), joins
and windows for the pairwise stages. No Python in the hot path at all.

Scale notes (100 TB):
- shingle inverted-index joins shuffle on the shingle key; hot shingles
  (stopword-ish n-grams appearing in a large share of docs) are
  frequency-capped (document frequency <= MAX_SHINGLE_DF) before the
  pair join to bound skew — mirrored identically in the DuckDB oracle;
- MinHash+LSH is the scale path: all K permutation-mins are computed in
  ONE hash aggregate over the shingle table (no seed-explosion), then
  candidate pairs come from equi-joins on band keys (16 bands x 2 rows),
  verified by exact Jaccard — the classic banding scheme, all
  shuffle-friendly equi-joins;
- SimHash pairs are blocked on 8 x 4-bit bands: Hamming distance <= 6
  can corrupt at most 6 of the 8 bands, so >= 2 bands stay equal and
  banding has EXACT recall at the threshold — the equi-join on
  (band, band_val) replaces the O(N^2) all-pairs theta join while
  provably returning the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dataflow_opinion_analysis_spark.session import materialize

TOKEN_RE = "[a-z0-9']+"
SHINGLE_N = 3
JACCARD_THRESHOLD = 0.2
MINHASH_K = 32
LSH_BANDS = 16  # 16 bands x 2 rows = 32 hashes
MINHASH_P = 2147483647
SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 6
SIMHASH_BANDS = 8  # 8 bands x 4 bits; exact recall for hamming <= 6 (pigeonhole)
# simhash band buckets are skew-prone (bit signs follow corpus token stats);
# the banded self-join is decomposed into blocks of this many docs so no
# single join task owns a quadratic bucket (see dedup_simhash docstring)
_SIMHASH_BLOCK = 1024
FINGERPRINT_N = 5
# skew guard: drop shingles present in more than this many documents from
# the inverted-index pair join (both engines apply the same cap)
MAX_SHINGLE_DF = 1000


def spark_shingles(n: int, toks: str = "toks") -> str:
    """Guarded word-n-gram builder. Spark `sequence(1, 0)` yields the
    DESCENDING [1, 0] (default step -1), so the unguarded transform calls
    slice(toks, 0, n) and throws INVALID_PARAMETER_VALUE.START on any doc
    with fewer than n tokens; the CASE guard returns an empty array
    instead, matching DuckDB's empty generate_series(1, 0)."""
    return (
        f"CASE WHEN size({toks}) >= {n} THEN "
        f"transform(sequence(1, size({toks}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({toks}, i, {n}))) "
        f"ELSE cast(array() AS array<string>) END"
    )


# shared Spark-dialect snippets
SPARK_TOKENS = f"""regexp_extract_all(lower(coalesce(text, '')), "{TOKEN_RE}", 0)"""
SPARK_SHINGLES = spark_shingles(SHINGLE_N)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df.createOrReplaceTempView("documents")
    return df


def dedup_exact_sql_spark(rel: str = "documents") -> str:
    """Exact-dedup SQL over relation ``rel`` (parameterized so the
    composed dataprep pipeline can run the same stage on its survivors)."""
    return f"""
WITH norm AS (
  SELECT doc_id,
         sha2(trim(regexp_replace(lower(coalesce(text,'')), '[^a-z0-9]+', ' ')), 256) AS norm_hash
  FROM {rel}
)
SELECT doc_id, norm_hash,
  min(doc_id) OVER (PARTITION BY norm_hash)   AS canonical_doc_id,
  count(*)    OVER (PARTITION BY norm_hash)   AS group_size,
  doc_id = min(doc_id) OVER (PARTITION BY norm_hash) AS is_canonical
FROM norm
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text: hash-groupBy, canonical = min doc_id."""
    _docs(spark, sf_dir)
    return spark.sql(dedup_exact_sql_spark())


def _shingle_views(spark: SparkSession, prefix: str, rel: str = "documents") -> None:
    """Stage the DF-capped shingle relation over ``rel`` ONCE, in
    ARRAY-PER-DOC form, and register ``{prefix}_arrs`` (doc_id, sh array,
    n_sh, h_arr hashed array) plus the long-form ``{prefix}_shingles`` /
    ``{prefix}_sizes`` views (lazy projections of the arrays — identical
    rows to the round-5 long-form checkpoints).

    Catalyst inlines multi-referenced CTEs once PER reference, so the
    all-in-one-SQL shapes re-ran the tokenize/shingle/DISTINCT/cap chain
    (and the documents scan under it) for every reference — 16 corpus
    scans in the ngram pair query, 24 in minhash at round 5. Staging is
    the repo's _emb_dup_build fit-then-serve pattern.

    The array form additionally removes three full shuffles the round-5
    long form paid (probed at 12.8s of the 25s gate at the 10x scale):
    per-doc shingle dedup is in-row ``array_distinct`` (the 2.6M-row
    DISTINCT exchange disappears); the DF cap subtracts the HOT shingle
    set — tiny by definition: shingles with df > {MAX_SHINGLE_DF} — as a
    broadcast scalar subquery via ``array_except`` (the 2.6M-row
    cap join disappears; the df aggregate itself stays but map-side
    partial aggregation collapses it to the distinct-shingle count per
    partition); and n_sh is ``size(sh)`` in-row (the sizes aggregate
    disappears). Every value (shingle set per doc, n_sh) is identical;
    sort_array pins a canonical in-array order."""
    width = spark.sparkContext.defaultParallelism * 2
    arrs = spark.sql(
        f"""
SELECT doc_id, array_remove(array_distinct({SPARK_SHINGLES}), '') AS arr
FROM (SELECT /*+ REPARTITION({width}) */ doc_id, {SPARK_TOKENS} AS toks
      FROM {rel})
"""
    )
    arrs = materialize(arrs, "scratch")
    arrs.createOrReplaceTempView(f"{prefix}_doc_arrs")
    capped = spark.sql(
        f"""
SELECT doc_id,
       sort_array(array_except(arr,
         (SELECT coalesce(collect_set(shingle), array())
          FROM (SELECT shingle
                FROM (SELECT explode(arr) AS shingle FROM {prefix}_doc_arrs)
                GROUP BY shingle HAVING count(*) > {MAX_SHINGLE_DF})))) AS sh
FROM {prefix}_doc_arrs
"""
    ).selectExpr(
        "doc_id",
        "sh",
        "size(sh) AS n_sh",
        "transform(sh, s -> cast(conv(substr(sha2(s, 256), 1, 8), 16, 10) AS bigint)) AS h_arr",
    )
    capped = materialize(capped, "scratch")
    capped.createOrReplaceTempView(f"{prefix}_arrs")
    spark.sql(
        f"SELECT doc_id, explode(sh) AS shingle FROM {prefix}_arrs"
    ).createOrReplaceTempView(f"{prefix}_shingles")
    spark.sql(
        f"SELECT doc_id, n_sh FROM {prefix}_arrs"
    ).createOrReplaceTempView(f"{prefix}_sizes")


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs via a shingle inverted index
    (shingle relation staged once — see _shingle_views)."""
    _docs(spark, sf_dir)
    _shingle_views(spark, "ng")
    width = spark.sparkContext.defaultParallelism * 2
    return spark.sql(
        f"""
WITH common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM (SELECT /*+ REPARTITION({width}, shingle) */ * FROM ng_shingles) a
  JOIN (SELECT /*+ REPARTITION({width}, shingle) */ * FROM ng_shingles) b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.doc_a, c.doc_b, c.n_common,
  round(c.n_common / cast(sa.n_sh + sb.n_sh - c.n_common AS double), 6) AS jaccard
FROM common c
JOIN ng_sizes sa ON sa.doc_id = c.doc_a
JOIN ng_sizes sb ON sb.doc_id = c.doc_b
WHERE c.n_common / cast(sa.n_sh + sb.n_sh - c.n_common AS double) >= {JACCARD_THRESHOLD}
"""
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash({MINHASH_K}) + LSH banding ({LSH_BANDS} bands x 2 rows):
    shingle -> portable 32-bit hash -> K permutation mins in ONE hash
    aggregate (K min() expressions over the shingle table — no seed cross
    join, no row explosion) -> band keys -> bucket equi-join for
    candidates -> exact-Jaccard verification.

    At cluster scale every stage is an equi-shuffle (shingle, doc_id,
    band key) — no all-pairs anywhere, and the signature aggregate gets
    map-side partial combine for free.

    Shingles/sizes/bands are materialized once (see _shingle_views: the
    all-in-one SQL re-expanded the shingle chain per CTE reference — 24
    corpus scans in the round-5 plan)."""
    _docs(spark, sf_dir)
    return minhash_pairs(spark, "documents", "mh")


def _minhash_sig_sql(prefix: str) -> str:
    """Per-ROW signature over the staged hashed-shingle arrays: each
    permutation min is ``array_min(transform(h_arr, ...))`` — the same
    integers as the round-5 ``min() ... GROUP BY doc_id`` aggregate over
    the long form (min over an identical value multiset), but computed as
    a narrow projection with NO aggregation exchange. ``n_sh > 0``
    reproduces the aggregate's behavior of emitting no row for docs with
    zero capped shingles (array_min of an empty array would be NULL and
    empty docs must not collide in the band join)."""
    mins_row = ",\n         ".join(
        f"array_min(transform(h_arr, h -> (h * {2 * i + 1} + {i * i + 7}) % {MINHASH_P})) AS mh{i}"
        for i in range(MINHASH_K)
    )
    return f"""
  SELECT doc_id,
         {mins_row}
  FROM {prefix}_arrs WHERE n_sh > 0
"""


def minhash_bands(spark: SparkSession, rel: str = "documents", prefix: str = "mhb") -> DataFrame:
    """Long-form (doc_id, band, band_key) LSH bucket relation over
    ``rel`` — the durable-store projection the incremental dataprep
    pipeline persists per wave (operators/dataprep_incremental.py). The
    shingle chain is materialized once (see _shingle_views) and the
    signature is a per-row array fold (see _minhash_sig_sql). Band key
    format matches the DuckDB mirror exactly: sorted "{i}:{mh}" pairs
    joined by '_'."""
    _shingle_views(spark, prefix, rel)
    band_structs = ", ".join(
        "named_struct('band', {b}, 'band_key', concat_ws('_', sort_array(array("
        "concat('{i0}:', cast(mh{i0} AS string)), "
        "concat('{i1}:', cast(mh{i1} AS string))))))".format(b=b, i0=2 * b, i1=2 * b + 1)
        for b in range(LSH_BANDS)
    )
    return spark.sql(
        f"""
WITH sig AS (
{_minhash_sig_sql(prefix)}
)
SELECT doc_id, bb.band AS band, bb.band_key AS band_key
FROM sig
LATERAL VIEW explode(array({band_structs})) t AS bb
"""
    )


def minhash_pairs(spark: SparkSession, rel: str = "documents", prefix: str = "mh") -> DataFrame:
    """MinHash+LSH near-dup pairs (doc_a, doc_b, jaccard) over ``rel``:
    band-key equi-join for candidates, exact-Jaccard verification.
    Shingles/sizes/bands are materialized once instead of re-expanding
    per CTE reference. Shared by the gate, the composed/incremental
    dataprep pipelines and cluster dedup."""
    bands = materialize(minhash_bands(spark, rel, prefix), "scratch")
    bands.createOrReplaceTempView(f"{prefix}_bands")
    # verification: candidate pairs attach the per-doc shingle ARRAYS and
    # intersect in-row — size(array_intersect(sh_a, sh_b)) over the
    # duplicate-free arrays is exactly the round-5 join-count n_common,
    # without shuffling |cand| x |shingles-per-doc| long-form rows through
    # a second aggregate (probed 5.5s of the 25s gate at the 10x scale;
    # a zero-overlap candidate yields jaccard 0 and is dropped by the
    # same threshold filter that dropped its absent join-count row)
    return spark.sql(
        f"""
WITH cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM {prefix}_bands a JOIN {prefix}_bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
j AS (
  SELECT c.doc_a, c.doc_b,
         size(array_intersect(a.sh, b.sh)) AS n_common,
         a.n_sh AS na, b.n_sh AS nb
  FROM cand c
  JOIN {prefix}_arrs a ON a.doc_id = c.doc_a
  JOIN {prefix}_arrs b ON b.doc_id = c.doc_b
)
SELECT doc_a, doc_b,
  round(n_common / cast(na + nb - n_common AS double), 6) AS jaccard
FROM j
WHERE n_common / cast(na + nb - n_common AS double) >= {JACCARD_THRESHOLD}
"""
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{SIMHASH_BITS}-bit SimHash per document + near-dup pairs with
    Hamming distance <= {SIMHASH_MAX_HAMMING} (bit_count of xor).

    Pair generation is blocked on {SIMHASH_BANDS} x 4-bit prefix bands
    (pigeonhole: <= {SIMHASH_MAX_HAMMING} differing bits corrupt at most
    {SIMHASH_MAX_HAMMING} bands, so >= 2 bands stay equal in every
    qualifying pair — exact recall), with two scale fixes over the naive
    banded self-join + DISTINCT:

    1. FIRST-EQUAL-BAND emission instead of DISTINCT: a collision at
       band b is emitted only when no band b' < b also matches (both
       simhashes ride the join row, so "earlier band equal" is a cheap
       codegen predicate). Every qualifying pair has >= 1 equal band, so
       it is emitted exactly once — the DISTINCT (measured shuffling
       ~2e9 candidate rows at sf1.0) disappears from the plan.
    2. BLOCK-DECOMPOSED self-join: 4-bit band values are heavily skewed
       (one (band, value) bucket holds 20k of 50k docs at sf1.0 —
       2.1e8 candidates in ONE sort-merge-join task). Each bucket is
       split into {_SIMHASH_BLOCK}-doc blocks by doc_id rank; the pair
       space becomes the triangular grid of (block_i, block_j) i <= j
       sub-joins keyed by (band, v, i, j), so no join task emits more
       than {_SIMHASH_BLOCK}^2 candidates regardless of bucket skew.
       Because blocks are doc_id-ordered, i < j implies doc_a < doc_b
       and only the i == j diagonal needs the doc_id predicate.

    Per-bit weights are {SIMHASH_BITS} conditional sums in ONE
    groupBy(doc_id) hash aggregate (map-side combined) rather than a
    {SIMHASH_BITS}x LATERAL-VIEW explode of the token relation — same
    integer sums, same simhash, but the aggregate shuffles one narrow
    row per document instead of tokens x {SIMHASH_BITS} rows."""
    _docs(spark, sf_dir)
    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_bits) - 1
    wsums = ",\n         ".join(
        f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END) AS w{b}"
        for b in range(SIMHASH_BITS)
    )
    simhash_expr = " + ".join(
        f"(CASE WHEN w{b} > 0 THEN cast({1 << b} AS bigint) ELSE cast(0 AS bigint) END)"
        for b in range(SIMHASH_BITS)
    )
    band_structs = ", ".join(
        f"named_struct('band', {b}, "
        f"'v', shiftright(simhash, {b * band_bits}) & {mask})"
        for b in range(SIMHASH_BANDS)
    )
    first_match = "\n  AND ".join(
        f"(a.band <= {k} OR (shiftright(a.simhash, {k * band_bits}) & {mask}) != "
        f"(shiftright(b.simhash, {k * band_bits}) & {mask}))"
        for k in range(SIMHASH_BANDS - 1)
    )
    blk = _SIMHASH_BLOCK
    # the join emits ~2e9 candidate rows from a few-MB banded relation:
    # AQE sizes post-shuffle partitions by INPUT bytes and would coalesce
    # the join down to a handful of tasks, so the exchanges are pinned at
    # shuffle width explicitly (scale-adaptive: derived from the session's
    # core count, not a constant). Same for the one-file corpus scan
    # feeding the CPU-bound token-hash aggregate.
    width = spark.sparkContext.defaultParallelism * 2
    return spark.sql(
        f"""
WITH th AS (
  SELECT doc_id,
         cast(conv(substr(sha2(token, 256), 1, 8), 16, 10) AS bigint) AS h
  FROM (SELECT /*+ REPARTITION({width}) */ doc_id, explode({SPARK_TOKENS}) AS token
        FROM documents)
),
ws AS (
  SELECT doc_id,
         {wsums}
  FROM th GROUP BY doc_id
),
sh AS (
  SELECT doc_id, {simhash_expr} AS simhash FROM ws
),
banded AS (
  SELECT doc_id, simhash, t.band AS band, t.v AS v,
         cast(floor((row_number() OVER (PARTITION BY t.band, t.v ORDER BY doc_id) - 1) / {blk}) AS int) AS blk,
         cast(ceil(count(*) OVER (PARTITION BY t.band, t.v) / {blk}.0) AS int) AS nblk
  FROM sh LATERAL VIEW explode(array({band_structs})) s AS t
),
lhs AS (
  SELECT /*+ REPARTITION({width}, band, v, blk, j) */
         doc_id, simhash, band, v, blk, j
  FROM banded LATERAL VIEW explode(sequence(blk, nblk - 1)) s AS j
),
rhs AS (
  SELECT /*+ REPARTITION({width}, band, v, i, blk) */
         doc_id, simhash, band, v, i, blk
  FROM banded LATERAL VIEW explode(sequence(0, blk)) s AS i
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       a.simhash AS simhash_a, b.simhash AS simhash_b,
       bit_count(a.simhash ^ b.simhash) AS hamming
FROM lhs a JOIN rhs b
  ON a.band = b.band AND a.v = b.v AND a.blk = b.i AND a.j = b.blk
WHERE (a.blk < b.blk OR a.doc_id < b.doc_id)
  AND bit_count(a.simhash ^ b.simhash) <= {SIMHASH_MAX_HAMMING}
  AND {first_match}
"""
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

LANG_STOPWORDS = {
    "en": ["the", "is", "and", "was", "this", "with", "a", "of"],
    "es": ["el", "la", "es", "y", "con", "por", "los", "una"],
    "fr": ["le", "la", "est", "et", "avec", "pour", "les", "une"],
    "de": ["der", "die", "das", "und", "ist", "mit", "ein", "von"],
}

EN_STOPWORDS = LANG_STOPWORDS["en"]


def _lang_values() -> str:
    return ", ".join(
        f"('{w}', '{lang}')" for lang, ws in sorted(LANG_STOPWORDS.items()) for w in ws
    )


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: per-language stopword votes, argmax with
    deterministic (hits desc, lang asc) tie-break."""
    _docs(spark, sf_dir)
    return spark.sql(
        f"""
WITH langwords AS (SELECT * FROM VALUES {_lang_values()} AS t(word, lang)),
toks AS (
  SELECT doc_id, explode({SPARK_TOKENS}) AS token FROM documents
),
votes AS (
  SELECT t.doc_id, l.lang, count(*) AS hits
  FROM toks t JOIN langwords l ON l.word = t.token
  GROUP BY t.doc_id, l.lang
),
best AS (
  SELECT doc_id, lang AS pred_lang, hits,
         row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rk
  FROM votes
)
SELECT d.doc_id, d.lang, coalesce(b.pred_lang, 'unknown') AS pred_lang,
       coalesce(b.hits, 0) AS hits
FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rk = 1
"""
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / token stats / stopword + alnum ratios and
    a deterministic composite score."""
    _docs(spark, sf_dir)
    stop_list = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return spark.sql(
        f"""
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS text, {SPARK_TOKENS} AS toks FROM documents
),
stats AS (
  SELECT doc_id,
    length(text)                                    AS n_chars,
    size(toks)                                      AS n_tokens,
    size(array_distinct(toks))                      AS n_distinct_tokens,
    size(filter(toks, t -> t IN ({stop_list})))     AS n_stopwords,
    length(regexp_replace(text, '[^a-zA-Z0-9]', '')) AS n_alnum
  FROM base
)
SELECT doc_id, n_chars, n_tokens, n_distinct_tokens,
  round(n_stopwords / cast(greatest(n_tokens, 1) AS double), 6)        AS stopword_ratio,
  round(n_alnum / cast(greatest(n_chars, 1) AS double), 6)             AS alnum_ratio,
  round(n_distinct_tokens / cast(greatest(n_tokens, 1) AS double), 6)  AS distinct_ratio,
  CASE WHEN n_tokens >= 10 AND n_chars >= 50
        AND n_stopwords / cast(greatest(n_tokens, 1) AS double) >= 0.01
       THEN 1 ELSE 0 END                                               AS passes_quality
FROM stats
"""
    )


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per source: whitespace tokens, regex tokens, and a
    BPE-ish subword estimate (ceil(chars/4))."""
    _docs(spark, sf_dir)
    return spark.sql(
        f"""
SELECT source,
  count(*)                                                   AS n_docs,
  sum(size(split(trim(coalesce(text, '')), '\\\\s+')))       AS n_ws_tokens,
  sum(size({SPARK_TOKENS}))                                  AS n_re_tokens,
  sum(cast(ceil(length(coalesce(text, '')) / 4.0) AS bigint)) AS n_subwords_est
FROM documents
GROUP BY source
"""
    )


TFIDF_TOP_K = 5


def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-{TFIDF_TOP_K} keywords by TF-IDF
    (keyword extraction over the documents table).

    idf is the smoothed RATIO (N+1)/(df+1) rather than its logarithm,
    and the score is emitted UNROUNDED: add/divide/multiply are
    IEEE-754 correctly-rounded, so the doubles are bit-identical
    across engines, whereas both ln() (libm last-ulp divergence — the
    reason round 4 dropped sin() from the twin injection) and
    round(x, 6) itself (Spark rounds the exact BigDecimal expansion,
    DuckDB multiplies by 1e6 first — they disagree on razor-edge
    doubles, observed at sf0.1) are not portable. Spark parses a
    bare `1.0` literal as DECIMAL(2,1) and would run the whole
    expression in rounded decimal arithmetic, hence the explicit
    CAST AS DOUBLE. Ranking: tfidf
    desc, token asc over those bit-identical scores.

    Scale: tf is one (doc_id, token) hash agg (map-side combined);
    df reuses tf — no second pass over text; the tf⋈df equi-join on
    token is a plain shuffle join (a corpus-scale vocabulary can
    exceed broadcast size); N is a scalar subquery, not a 1-row
    cross join (no BroadcastNestedLoopJoin); top-k is a window
    partitioned by doc_id — parallel over documents.
    """
    _docs(spark, sf_dir)
    return spark.sql(
        f"""
WITH toks AS (
  SELECT doc_id, explode({SPARK_TOKENS}) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token
),
df AS (
  SELECT token, count(*) AS df FROM tf GROUP BY token
),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         tf.tf * (((SELECT count(*) FROM documents) + CAST(1.0 AS DOUBLE))
                  / (df.df + CAST(1.0 AS DOUBLE))) AS tfidf
  FROM tf JOIN df ON tf.token = df.token
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rk
  FROM scored
)
SELECT doc_id, token, tf, df, tfidf, rk FROM ranked WHERE rk <= {TFIDF_TOP_K}
"""
    )


BM25_TOP_K = 10
BM25_N_QUERIES = 8
# prune query terms appearing in more than this % of the corpus (the
# WAND-family stopword cut that keeps the posting join from exploding on
# hot terms at scale). The synthetic corpus has a 31-token vocabulary
# with df up to ~80% of docs, so the test-scale default is high enough
# to be inert there while the mechanism stays real.
BM25_DF_CAP_PCT = 90


def _bm25_contribution(tf: str, df: str, dl: str, n: str, avgdl: str) -> str:
    """One query-term's BM25 contribution, micro-scaled to BIGINT.

    Written so every floating-point step is an IEEE correctly-rounded
    op on identical inputs in both engines (int +/- and 0.5/0.75/1.2
    literals are exact; each divide/multiply is correctly rounded), and
    the per-term double is then floored to integer micros — so the
    per-(query,doc) SUM is an exact integer sum, immune to the
    addend-order divergence that makes cross-engine SUM(double)
    comparisons flaky. idf uses the classic Robertson ratio
    (n - df + 0.5)/(df + 0.5) WITHOUT the log wrapper: libm ln() is
    not correctly rounded and diverges between engines at the last ulp
    (the same documented deviation as text_tfidf_keywords); k1=1.2,
    b=0.75."""
    D = "CAST({} AS DOUBLE)".format
    idf = (
        f"(({D(n)} - {D(df)} + {D('0.5')}) / ({D(df)} + {D('0.5')}))"
    )
    tfpart = (
        f"(({D(tf)} * {D('2.2')}) / "
        f"({D(tf)} + {D('1.2')} * ({D('0.25')} + {D('0.75')} * ({D(dl)} / {avgdl}))))"
    )
    return f"CAST(floor({idf} * {tfpart} * {D('1000000')}) AS BIGINT)"


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval: the first {BM25_N_QUERIES} documents are
    more-like-this queries (their distinct tokens are the query terms);
    every other document is scored by BM25 (k1=1.2, b=0.75, ratio idf —
    see _bm25_contribution) and the top-{BM25_TOP_K} matches per query
    are returned, score tie-broken by doc_id. Search is the reference's
    serving surface (vwSentiment4Search7d feeds a search UI); this is
    the retrieval primitive itself.

    Scale: tf is ONE hash agg over the token explode (map-side
    combined); df/dl both derive from tf — no second pass over text; the
    query-term relation is tiny (queries x vocab) and broadcasts into
    the posting join on token; hot terms are pruned by the
    {BM25_DF_CAP_PCT}% df cap before the join (the blowup guard — a
    term in every document would otherwise join queries x corpus); the
    per-(query, doc) sum is a hash agg on the join output, partial
    map-side; corpus size and avgdl are scalar subqueries (no 1-row
    cross join, no BroadcastNestedLoopJoin).

    tf is MATERIALIZED once (session.materialize): df/dl/qterms/hits
    all read it, and Catalyst's per-reference CTE inlining re-ran the
    tokenize+explode+agg chain (with the corpus scan under it) four
    times in the round-5 plan. Same stage SQL, same rows; the one-file
    corpus scan is spread to shuffle width before the tokenize."""
    _docs(spark, sf_dir)
    width = spark.sparkContext.defaultParallelism * 2
    tf = spark.sql(
        f"""
SELECT doc_id, token, count(*) AS tf
FROM (SELECT doc_id, explode({SPARK_TOKENS}) AS token
      FROM (SELECT /*+ REPARTITION({width}) */ doc_id, text FROM documents))
GROUP BY doc_id, token
"""
    )
    tf = materialize(tf, "scratch")
    tf.createOrReplaceTempView("bm25_tf")
    n_sq = "(SELECT CAST(count(*) AS BIGINT) FROM documents)"
    avgdl_sq = "(SELECT CAST(sum(dl) AS DOUBLE) / count(*) FROM dl)"
    return spark.sql(
        f"""
WITH tf AS (
  SELECT doc_id, token, tf FROM bm25_tf
),
df AS (
  SELECT token, count(*) AS df FROM tf GROUP BY token
),
dl AS (
  SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id
),
qterms AS (
  SELECT doc_id AS query_id, token FROM tf WHERE doc_id < {BM25_N_QUERIES}
),
hits AS (
  SELECT q.query_id, t.doc_id,
    {_bm25_contribution('t.tf', 'df.df', 'dl.dl', n_sq, avgdl_sq)} AS c
  FROM qterms q
  JOIN df ON df.token = q.token
  JOIN tf t ON t.token = q.token AND t.doc_id <> q.query_id
  JOIN dl ON dl.doc_id = t.doc_id
  WHERE df.df * 100 <= {n_sq} * {BM25_DF_CAP_PCT}
),
scored AS (
  SELECT query_id, doc_id, sum(c) AS score_micro, count(*) AS n_terms
  FROM hits GROUP BY query_id, doc_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY score_micro DESC, doc_id ASC) AS rk
  FROM scored
)
SELECT query_id, doc_id AS match_doc_id, score_micro, n_terms, rk
FROM ranked WHERE rk <= {BM25_TOP_K}
"""
    )


CLASSIFIER_BUCKETS = 1024
# fixed multiplicative-hash weights (Knuth constant): a deterministic
# stand-in for trained weights — the served artifact of a hashed linear
# (fastText-style) quality classifier. The serving plumbing (hash ->
# bucket -> weight lookup -> per-doc sum -> threshold), not the training,
# is what this operator demonstrates; swapping in real weights is a
# literal VALUES relation join, the repo's IVF fit-then-serve pattern.
CLASSIFIER_WEIGHT = "(pmod(bucket * 2654435761, 1000) - 500)"


def text_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear classifier serving (model-based quality filter):
    each token hashes into one of {CLASSIFIER_BUCKETS} weight buckets
    (sha256-prefix hash — the same engine-portable dice as
    functions/entities._CAP_SPARK), the document score is the integer
    sum of its tokens' bucket weights, keep = score >= 0. All-integer
    arithmetic: bit-identical across engines, no float sums.

    Scale: one explode + one hash agg per doc (map-side combined); the
    weight is computed inline from the bucket id, so serving is a single
    codegen pass — with trained weights it becomes a broadcast join
    against a {CLASSIFIER_BUCKETS}-row literal relation, still scale-free."""
    _docs(spark, sf_dir)
    return spark.sql(
        f"""
WITH toks AS (
  SELECT doc_id, explode({SPARK_TOKENS}) AS token FROM documents
),
bucketed AS (
  SELECT doc_id,
         pmod(cast(conv(substr(sha2(token, 256), 1, 8), 16, 10) AS bigint),
              {CLASSIFIER_BUCKETS}) AS bucket
  FROM toks
)
SELECT doc_id,
       count(*) AS n_tokens,
       sum({CLASSIFIER_WEIGHT}) AS score,
       CASE WHEN sum({CLASSIFIER_WEIGHT}) >= 0 THEN 1 ELSE 0 END AS keep
FROM bucketed
GROUP BY doc_id
"""
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: lexicographic min of sha256 over word
    {FINGERPRINT_N}-gram shingles (winnowing-style stable selection)."""
    _docs(spark, sf_dir)
    return spark.sql(
        f"""
WITH toks AS (
  SELECT doc_id, {SPARK_TOKENS} AS toks FROM documents
),
sh AS (
  SELECT doc_id, explode({spark_shingles(FINGERPRINT_N)}) AS shingle
  FROM toks
)
SELECT doc_id, min(sha2(shingle, 256)) AS fingerprint
FROM sh
WHERE shingle <> ''
GROUP BY doc_id
"""
    )


BPE_ROUNDS = 3


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge induction over the corpus — {BPE_ROUNDS} rounds of the
    classic tokenizer-vocabulary loop: count all adjacent token pairs,
    merge the most frequent pair everywhere (greedy left-to-right, the
    standard BPE application order), repeat on the re-tokenized corpus.
    Returns one row per round: the merged pair, its count, and the
    corpus token / distinct-token totals after the merge.

    Engine-portable mechanics: the corpus state is a padded
    double-space-separated token string (`' a  b  c '`), so one
    regexp_replace of the literal `' a  b '` -> `' a_b '` applies the
    merge with exact greedy non-overlap semantics in BOTH engines (the
    pattern consumes one boundary space on each side and the double
    separator leaves the next candidate's boundary intact — verified:
    `' a  a  a  a '` -> `' a_a  a_a '`). Pair selection is (count DESC,
    pair ASC) — all-integer, no FP anywhere.

    Scale: each round is ONE scan + hash agg for pair counts (map-side
    combined; the pair relation is vocab², not corpus-sized), a 1-row
    argmax collected fit-then-serve (the repo's IVF pattern), and one
    narrow regexp projection to re-tokenize — O(rounds) passes total.
    Real trainers run hundreds of rounds on a bounded SAMPLE; the
    per-round dataflow is unchanged.

    Round-6 optimizations (identical per-round output, gate-checked):
    - the token ARRAY rides the checkpointed state next to the string, so
      per-round expressions index `t` directly instead of re-running
      `split(trim(s))` inside every element_at of the pair lambda — the
      old form re-split the whole document string per array ACCESS,
      O(len_tokens * len_string) per row per scan;
    - the corpus is spread to shuffle width ONCE at state build (the
      one-file parquet scan otherwise pins every round's regexp rewrite
      and pair aggregate to two tasks);
    - the two per-round stat scalar subqueries (token total + distinct
      count, separate scans) are ONE aggregate over a single explode of
      `t` (count(tok) == sum(size(t)) over non-empty docs, same rows)."""
    _docs(spark, sf_dir)
    width = spark.sparkContext.defaultParallelism * 2
    state = spark.sql(
        f"""SELECT doc_id, s, split(trim(s), '  ') AS t
FROM (SELECT /*+ REPARTITION({width}) */ doc_id,
             concat(' ', array_join({SPARK_TOKENS}, '  '), ' ') AS s
      FROM documents)"""
    )
    state = materialize(state, "scratch")

    pairs_expr = (
        "CASE WHEN size(t) >= 2 THEN "
        "transform(sequence(1, size(t) - 1), "
        "i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) "
        "ELSE cast(array() AS array<string>) END"
    )
    rows = []
    for rnd in range(1, BPE_ROUNDS + 1):
        state.createOrReplaceTempView("bpe_state")
        top = spark.sql(
            f"""SELECT pair, cast(count(*) AS bigint) AS c
FROM (SELECT explode({pairs_expr}) AS pair FROM bpe_state)
GROUP BY pair ORDER BY c DESC, pair ASC LIMIT 1"""
        ).collect()
        if not top:
            # no adjacent pair left (e.g. an empty corpus): merging a NULL
            # pair nulls every document string, so this round and every
            # later one has no pair, NULL tokens and 0 distinct tokens
            rows += [(r, None, None, None, 0) for r in range(rnd, BPE_ROUNDS + 1)]
            break
        pair, cnt = str(top[0].pair), int(top[0].c)
        lit = pair.replace("'", "''")
        pat = " " + lit.replace(" ", "  ") + " "
        rep = " " + lit.replace(" ", "_") + " "
        state = materialize(spark.sql(
            f"""SELECT doc_id, s, split(trim(s), '  ') AS t
FROM (SELECT doc_id, regexp_replace(s, '{pat}', '{rep}') AS s FROM bpe_state)"""
        ), "scratch")
        state.createOrReplaceTempView("bpe_state")
        # two-level: count + count(DISTINCT) in one aggregate planned an
        # Expand doubling the exploded token rows; the per-token partial
        # collapses map-side to the (tiny) vocabulary and sum(c)/count(*)
        # are the identical bigints
        st = spark.sql(
            """SELECT cast(sum(c) AS bigint) AS nt,
       cast(count(*) AS bigint) AS nd
FROM (SELECT tok, count(*) AS c
      FROM bpe_state LATERAL VIEW explode(t) x AS tok
      WHERE trim(s) <> '' GROUP BY tok)"""
        ).collect()[0]
        rows.append((rnd, pair, cnt, int(st.nt), int(st.nd)))
    return spark.createDataFrame(
        rows,
        "round int, merged_pair string, pair_count bigint, "
        "corpus_tokens_after bigint, distinct_tokens_after bigint",
    )
