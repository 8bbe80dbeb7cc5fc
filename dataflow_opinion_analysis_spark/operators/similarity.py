"""Similarity search over the `embeddings` table (array<float> column).

Two paths:
- brute-force cosine top-k (the correctness baseline): JVM-side
  higher-order functions (zip_with + ordered aggregate fold, so the
  floating-point sum order is pinned and reproducible in the oracle);
- LSH-bucketed ANN (the scale path): deterministic random-hyperplane
  signs -> bucket key -> candidates only within bucket. At 100 TB the
  bucket key is the shuffle/join key; brute force only runs inside a
  bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dataflow_opinion_analysis_spark.session import materialize

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors
LSH_PLANES = 8
ANN_TOP_K = 3
# embedding-cosine near-dup: the synthetic embeddings have no natural
# near-pairs (max pairwise cosine ~0.51 at sf0.01), so the gate
# deterministically augments every 20th vector with a perturbed twin and
# the detector must recover those pairs through the LSH buckets. The
# perturbation is pure integer arithmetic (same scheme as PLANE_EXPR, a
# DIFFERENT multiplier so it is not correlated with the hyperplanes) —
# a transcendental like sin() would make cross-engine parity depend on
# JVM vs DuckDB libm producing bit-identical doubles near sign/threshold
# boundaries. EPS=0.08 on unit-norm vectors lands twins at cosine
# 0.982-0.987: above the 0.98 threshold but adversarial for a single
# 8-plane band (measured: 3-4 of 25 twins missed by one band at sf0.01,
# 0 missed by the 8-band OR-amplified detector).
COSINE_DUP_THRESHOLD = 0.98
COSINE_DUP_EVERY = 20
COSINE_DUP_OFFSET = 1_000_000
EMB_DUP_EPS = 0.08
EMB_DUP_MULT = 1103515245
EMB_DUP_BANDS = 8  # L independent 8-plane bands (OR-amplification)

# deterministic pseudo-random hyperplane component, portable across
# engines: plane i, dim d -> ((i*64+d) * 2654435761) % 1000003 / 1000003 - 0.5
PLANE_EXPR = "((({i} * 64 + d) * 2654435761) % 1000003) / 1000003.0 - 0.5"


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df.createOrReplaceTempView("embeddings")
    return df


# one materialized double-cast projection of the embeddings table per
# (session, sf_dir): every PQ/IVF/LSH/brute-force query builds on the same
# narrow (vec_id, v) relation, and without it each query's `v` CTE
# re-scanned the one-file parquet (2 input partitions), pinning the
# interpreted higher-order-function stages (plane dots, k-means assigns,
# PQ distances) to two tasks regardless of core count.
_V_CACHE: dict[tuple, object] = {}


def _emb_v(spark: SparkSession, sf_dir: str) -> None:
    """Register `emb_v` = checkpointed, core-spread
    (vec_id, v: array<double>) over THIS sf_dir's embeddings. The view is
    re-bound on every call (same contract as ivf_fit_centroids: a cache
    hit must not leave the view pointing at another corpus)."""
    key = (id(spark), sf_dir, "emb_v")
    _emb(spark, sf_dir)
    if key not in _V_CACHE:
        base = spark.sql(
            "SELECT vec_id, transform(embedding, x -> cast(x AS double)) AS v "
            "FROM embeddings"
        )
        width = spark.sparkContext.defaultParallelism
        if base.rdd.getNumPartitions() < width:
            base = base.repartition(width)
        _V_CACHE[key] = materialize(base, "shared")
    _V_CACHE[key].createOrReplaceTempView("emb_v")


# ordered fold: dot(a,b) with left-to-right summation (reproducible FP)
DOT = (
    "aggregate(zip_with(a.v, b.v, (x, y) -> x * y), cast(0.0 AS double), (acc, x) -> acc + x)"
)
NORM = "sqrt(aggregate(transform({c}.v, x -> x * x), cast(0.0 AS double), (acc, x) -> acc + x))"

EMB_DIM = 64


def _norm_unrolled(c: str) -> str:
    """NORM's fold as a flat left-associative chain starting at the 0.0
    literal: `sqrt(0.0 + c[0]*c[0] + c[1]*c[1] + ...)` parses as
    ((0.0 + x0) + x1) + ... — the EXACT summation tree of the
    aggregate() fold in NORM, so the double result is bit-identical.
    Used only for the once-per-vector norm materialization. (An unrolled
    DOT was measured for the per-pair verify and REJECTED: the flat
    128-node expression evaluates ~6x slower than the fold's tight
    internal loop — 21.8s vs 3.3s over 11.9M pairs at sf1.0.)"""
    terms = " + ".join(f"{c}[{d}] * {c}[{d}]" for d in range(EMB_DIM))
    return f"sqrt(cast(0.0 AS double) + {terms})"


def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-{TOP_K} for the first {N_QUERIES} vectors against the
    whole table (excluding self). Ranks use the 6-dp-rounded similarity
    with vec_id tie-break so ordering is FP-noise-proof."""
    _emb_v(spark, sf_dir)
    return spark.sql(
        f"""
WITH v AS (
  SELECT vec_id, v FROM emb_v
),
q AS (SELECT * FROM v WHERE vec_id < {N_QUERIES}),
sims AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
    round({DOT} / ({NORM.format(c='a')} * {NORM.format(c='b')}), 6) AS cosine
  FROM q a CROSS JOIN v b
  WHERE a.vec_id <> b.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rk
  FROM sims
)
SELECT query_id, neighbor_id, cosine, rk FROM ranked WHERE rk <= {TOP_K}
"""
    )


def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH: {LSH_PLANES}-bit bucket per vector,
    candidates restricted to the query's bucket, top-{ANN_TOP_K} by cosine
    within it. The bucket key is an equi-join key — the scale path."""
    _emb_v(spark, sf_dir)
    plane_sign = " + ".join(
        f"(CASE WHEN aggregate(zip_with(v, planes.p{i}, (x, y) -> x * y), "
        f"cast(0.0 AS double), (acc, x) -> acc + x) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(LSH_PLANES)
    )
    plane_arrays = ", ".join(
        f"transform(sequence(0, 63), d -> {PLANE_EXPR.format(i=i)}) AS p{i}"
        for i in range(LSH_PLANES)
    )
    return spark.sql(
        f"""
WITH planes AS (SELECT {plane_arrays}),
v AS (
  SELECT vec_id, v FROM emb_v
),
bucketed AS (
  SELECT vec_id, v, ({plane_sign}) AS bucket
  FROM v CROSS JOIN planes
),
q AS (SELECT * FROM bucketed WHERE vec_id < {N_QUERIES}),
sims AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, a.bucket,
    round({DOT} / ({NORM.format(c='a')} * {NORM.format(c='b')}), 6) AS cosine
  FROM q a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rk
  FROM sims
)
SELECT query_id, neighbor_id, bucket, cosine, rk
FROM ranked WHERE rk <= {ANN_TOP_K}
"""
    )


# the perturbed-twin expression, Spark dialect: component d of vec_id's
# twin is x + EPS * uniform_hash(vec_id, d) with uniform_hash in
# [-0.5, 0.5) — transform's (element, index) lambda gives d, vec_id is an
# outer column reference
_PERTURB_SPARK = (
    f"transform(v, (x, d) -> x + {EMB_DUP_EPS} * "
    f"((((vec_id * 131 + d) * {EMB_DUP_MULT}) % 1000003) / 1000003.0 - 0.5))"
)


def _emb_dup_build(spark: SparkSession, sf_dir: str, n_bands: int) -> DataFrame:
    """Multi-band (OR-amplified) embedding near-dup, fit-then-serve shape.
    Band b uses planes b*8 .. b*8+7 of the shared PLANE_EXPR family; a
    pair is a candidate if it collides in ANY band; exact rounded cosine
    >= threshold is the verification.

    Catalyst inlines multi-referenced CTEs once PER reference, so the
    round-4 all-in-one-SQL shape re-ran the 64-plane signature projection
    (and the embeddings scan under it) once per band arm per self-join
    side — ~16 redundant table scans at 100 TB. Instead the two shared
    relations are MATERIALIZED eagerly (session.materialize — the repo's
    fit-then-serve pattern from IVF) before the self-join:

    1. ``aug``: embeddings + perturbed twins — the ONE scan of the table;
    2. ``bands``: (vec_id, band, bucket) emitted long-form in a single
       projection (array of per-band buckets + posexplode), so all
       n_bands signatures are computed in one pass over ``aug``.

    The serving query then only joins materialized relations: (band,
    bucket) is the single equi-join/shuffle key, and the verify joins
    ``aug`` back by vec_id. test_emb_dedup_single_scan guards the
    one-scan property mechanically.

    The signature expression is a NESTED LAMBDA over an array-of-arrays
    plane relation (pp[b*8+i]) instead of n_bands*8 named plane columns
    with one CASE each: the flat form's expression tree grows with the
    band count and its analysis/codegen alone cost more wall than the
    whole query (measured ~4s driver-side at 64 planes). Arithmetic is
    bit-identical — same left-to-right zip_with/aggregate fold per plane
    (verified: both forms produce identical buckets)."""
    _emb(spark, sf_dir)
    nb = n_bands * LSH_PLANES
    # THE one parquet scan — everything downstream reads its checkpoint.
    # Tiny inputs get spread across cores first: the interpreted
    # higher-order-function signature pass is the expensive stage and a
    # one-file read would otherwise run it single-threaded. Inputs already
    # wider than the core count (the 100 TB case) skip the extra shuffle.
    base = spark.sql(
        "SELECT vec_id, transform(embedding, x -> cast(x AS double)) AS v "
        "FROM embeddings"
    )
    width = spark.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < width:
        base = base.repartition(width)
    base = materialize(base, "shared")
    base_view = f"emb_base_{n_bands}"
    aug_view = f"emb_aug_{n_bands}"
    bands_view = f"emb_bands_{n_bands}"
    base.createOrReplaceTempView(base_view)
    # aug is MATERIALIZED (reads only the base checkpoint, so the table is
    # still scanned once) with the per-vector norm precomputed: the verify
    # join used to re-run the 64-dim norm fold twice per CANDIDATE PAIR —
    # 2/3 of that stage's interpreted-HOF work at sf1.0 — where one norm
    # per vector is enough. Same double value, same fold order.
    aug = materialize(spark.sql(
        f"""
SELECT vec_id, v, {_norm_unrolled('v')} AS nrm FROM (
  SELECT vec_id, v FROM {base_view}
  UNION ALL
  SELECT vec_id + {COSINE_DUP_OFFSET} AS vec_id, {_PERTURB_SPARK} AS v
  FROM {base_view} WHERE vec_id % {COSINE_DUP_EVERY} = 3
)
"""
    ), "shared")
    aug.createOrReplaceTempView(aug_view)
    # the expensive dot-products-per-row signature pass runs ONCE and is
    # checkpointed before the self-join references it twice
    bands = materialize(spark.sql(
        f"""
WITH planes AS (
  SELECT transform(sequence(0, {nb - 1}),
                   i -> transform(sequence(0, 63), d -> {PLANE_EXPR.format(i="i")})) AS pp
),
sigs AS (
  SELECT vec_id,
    transform(sequence(0, {n_bands - 1}), b ->
      aggregate(sequence(0, {LSH_PLANES - 1}), 0, (acc, i) ->
        acc + (CASE WHEN aggregate(
                      zip_with(v, planes.pp[b * {LSH_PLANES} + i], (x, y) -> x * y),
                      cast(0.0 AS double), (a2, x) -> a2 + x) > 0
               THEN shiftleft(1, i) ELSE 0 END))) AS buckets
  FROM {aug_view} CROSS JOIN planes
)
SELECT vec_id, band, bucket
FROM sigs LATERAL VIEW posexplode(buckets) t AS band, bucket
"""
    ), "shared")
    bands.createOrReplaceTempView(bands_view)
    # The bucket self-join emits candidates from a few-MB banded relation:
    # pin its exchanges at shuffle width (scale-adaptive, from the session
    # core count) or AQE coalesces the CPU-bound candidate stage down to a
    # handful of tasks (bytes-based sizing cannot see the join fan-out).
    # The verify step BROADCASTS the vector table into both attach joins:
    # the sort-merge alternative shuffles every candidate pair a second
    # time CARRYING the first side's 64-double vector (measured 6.5 GB /
    # 26s for 11.9M pairs at sf1.0 vs 3.3s broadcast). At corpus sizes
    # past broadcastability drop the hints and the attach degrades
    # gracefully to the shuffled join — candidates x vectors is the
    # inherent verify cost of LSH dedup at scale (guide §8: this is the
    # ONE shuffle that must carry payloads; everything before it moves
    # only ids and buckets).
    width = spark.sparkContext.defaultParallelism * 2
    return spark.sql(
        f"""
WITH cand AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, count(*) AS n_bands
  FROM (SELECT /*+ REPARTITION({width}, band, bucket) */ * FROM {bands_view}) a
  JOIN (SELECT /*+ REPARTITION({width}, band, bucket) */ * FROM {bands_view}) b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
pairs AS (
  SELECT /*+ BROADCAST(a), BROADCAST(b) */ c.doc_a, c.doc_b, c.n_bands,
    round({DOT} / (a.nrm * b.nrm), 6) AS cosine
  FROM cand c JOIN {aug_view} a ON a.vec_id = c.doc_a
              JOIN {aug_view} b ON b.vec_id = c.doc_b
)
SELECT doc_a, doc_b, n_bands, cosine
FROM pairs WHERE cosine >= {COSINE_DUP_THRESHOLD}
"""
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS via multi-band LSH — the
    dedup twin of similarity_ann_lsh with OR-amplification: a DEDUP
    operator needs recall at its own threshold, so candidates are the
    union of bucket collisions across {EMB_DUP_BANDS} independent 8-plane
    bands (single-band collision probability at cosine 0.983 is only
    ~0.6-0.9, i.e. a lone band silently drops a large fraction of true
    pairs — see test_single_band_misses_pairs_multiband_finds). The
    (band, bucket) pair is the equi-join/shuffle key and the final exact
    rounded cosine >= {COSINE_DUP_THRESHOLD} verifies every candidate —
    no all-pairs product anywhere. Input augmented with deterministic
    integer-arithmetic perturbed twins (COSINE_DUP_* / EMB_DUP_*)."""
    return _emb_dup_build(spark, sf_dir, EMB_DUP_BANDS)


def dedup_embedding_cosine_single_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deliberately-weak single-band variant, kept as the contrast
    case for the recall test: one 8-plane band misses a measurable
    fraction of true near-dup pairs that the multi-band detector finds."""
    return _emb_dup_build(spark, sf_dir, 1)


# IVF parameters: k centroids TRAINED by a deterministic k-means fit
# (hash-ordered sampled init + IVF_ITERS Lloyd iterations, centroid means
# rounded to 6 dp so JVM and DuckDB arithmetic agree bit-for-bit after
# rounding); nprobe lists searched per query. The fit runs as its OWN
# tiny query whose result ({IVF_CENTROIDS} rows) is collected and
# injected as a literal centroid relation into the serving query — the
# idiomatic fit-then-serve shape: the serving plan sees a constant
# broadcastable centroid table instead of an inlined training DAG
# (letting the CTE chain inline 3x through scored/assigned/probes blew
# the plan up), and collecting 8 rows is scale-free. Untrained centroids
# (the round-3 stub: first 8 vectors) gave wildly unbalanced inverted
# lists, turning the list-id shuffle key into the skew key at 100 TB.
IVF_CENTROIDS = 8
IVF_NPROBE = 2
IVF_ITERS = 2
IVF_SEED_MULT = 2654435761  # hash-ordered sample for the seed centroids


def _ivf_fit_sql_spark() -> str:
    """The k-means fit query (run once; returns (cent_id, c) rows).
    Seed = first {IVF_CENTROIDS} vectors in hash order via ORDER BY +
    LIMIT (planned as TakeOrderedAndProject — a distributed top-k, NOT a
    single-partition global window); then IVF_ITERS Lloyd steps: assign
    every vector to its nearest centroid (rounded-cosine argmax,
    cent_id tie-break), recompute centroids as 6-dp-rounded element-wise
    means via a 64-row dims relation. Mirrored CTE-for-CTE in DuckDB
    (oracles_dataprep._ivf_kmeans_ctes_duck)."""
    dot_vc = (
        "aggregate(zip_with(a.v, s.c, (x, y) -> x * y), cast(0.0 AS double), (acc, x) -> acc + x)"
    )
    norm_a = "sqrt(aggregate(transform(a.v, x -> x * x), cast(0.0 AS double), (acc, x) -> acc + x))"
    norm_c = "sqrt(aggregate(transform(s.c, x -> x * x), cast(0.0 AS double), (acc, x) -> acc + x))"
    parts = [
        f"""seed AS (
  SELECT cast(row_number() OVER (ORDER BY (vec_id * {IVF_SEED_MULT}) % 1000003, vec_id) - 1 AS bigint) AS cent_id,
         v AS c
  FROM (SELECT vec_id, v FROM v ORDER BY (vec_id * {IVF_SEED_MULT}) % 1000003, vec_id LIMIT {IVF_CENTROIDS})
)""",
        "dims AS (SELECT explode(sequence(0, 63)) AS d)",
    ]
    prev = "seed"
    for it in range(IVF_ITERS):
        parts.append(f"""assign{it} AS (
  SELECT vec_id, v, cent_id FROM (
    SELECT a.vec_id, a.v, s.cent_id,
      row_number() OVER (PARTITION BY a.vec_id
                         ORDER BY round({dot_vc} / ({norm_a} * {norm_c}), 6) DESC, s.cent_id) AS crk
    FROM v a CROSS JOIN {prev} s
  ) WHERE crk = 1
)""")
        parts.append(f"""cent{it + 1} AS (
  SELECT cent_id,
    transform(array_sort(collect_list(named_struct('d', d, 'mx', mx))), s -> s.mx) AS c
  FROM (
    SELECT cent_id, d, round(avg(element_at(v, d + 1)), 6) AS mx
    FROM assign{it} CROSS JOIN dims
    GROUP BY cent_id, d
  )
  GROUP BY cent_id
)""")
        prev = f"cent{it + 1}"
    ctes = ",\n".join(parts)
    return f"""
WITH v AS (
  SELECT vec_id, v FROM emb_v
),
{ctes}
SELECT cent_id, c FROM cent{IVF_ITERS}
"""


# fit-once-serve-many: the trained quantizers are deterministic functions
# of (session, sf_dir), and three serving queries each (IVF: ann_ivf /
# ivf_assignments / ivf_pq; PQ: quantize_pq / pq_adc / ivf_pq) need them —
# re-running the k-means chain per query would triple the fit cost, which
# is exactly what a real deployment's model registry avoids. Keyed by
# session id so a new session (or test fixture) refits.
_FIT_CACHE: dict[tuple, object] = {}


def ivf_fit_centroids(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[float]]]:
    """Run the deterministic k-means fit; returns the trained centroids
    sorted by cent_id. The collect is {IVF_CENTROIDS} rows — bounded at
    any input scale. Memoized per (session, sf_dir)."""
    key = (id(spark), sf_dir, "ivf")
    # ALWAYS (re)bind the `embeddings` view to THIS sf_dir — a cache hit
    # must not leave the serving query bound to whatever corpus another
    # call registered last (the model would silently quantize foreign
    # vectors). Registration is a view-pointer swap, no scan.
    _emb_v(spark, sf_dir)
    if key not in _FIT_CACHE:
        rows = spark.sql(_ivf_fit_sql_spark()).collect()
        _FIT_CACHE[key] = sorted(
            (int(r.cent_id), [float(x) for x in r.c]) for r in rows
        )
    return _FIT_CACHE[key]


def _cent_literal_sql(cents: list[tuple[int, list[float]]]) -> str:
    """The trained centroids as a VALUES literal relation (repr round-trips
    doubles exactly, so the serving query sees the fit's exact values)."""
    vals = ", ".join(
        f"(cast({cid} AS bigint), array({', '.join(repr(x) for x in vec)}))"
        for cid, vec in cents
    )
    return f"SELECT cent_id, c FROM (VALUES {vals}) AS t(cent_id, c)"


def _ivf_serve_prefix(cents) -> str:
    """Shared serving CTEs: literal centroid relation -> scored -> assigned."""
    return f"""
WITH v AS (
  SELECT vec_id, v FROM emb_v
),
cent AS ({_cent_literal_sql(cents)}),
scored AS (
  SELECT a.vec_id, a.v, s.cent_id,
    round(aggregate(zip_with(a.v, s.c, (x, y) -> x * y), cast(0.0 AS double), (acc, x) -> acc + x)
      / ({NORM.format(c='a')} * sqrt(aggregate(transform(s.c, x -> x * x), cast(0.0 AS double), (acc, x) -> acc + x))), 6) AS ccos
  FROM v a CROSS JOIN cent s
),
assigned AS (
  SELECT vec_id, v, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
    FROM scored
  ) WHERE crk = 1
)"""


def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF (inverted-file) lists — the second scale path next to
    LSH buckets: the trained quantizer (ivf_fit_centroids) assigns every
    vector to its nearest coarse centroid (rounded-cosine argmax, cent_id
    tie-break); a query probes its {IVF_NPROBE} nearest lists and
    brute-forces only inside them. The list id is the shuffle/join key;
    the centroid relation is a {IVF_CENTROIDS}-row literal and broadcasts
    — at 100 TB the lists ARE the partitioning, and the trained quantizer
    is what keeps them balanced (test_ivf_lists_balanced)."""
    cents = ivf_fit_centroids(spark, sf_dir)
    return spark.sql(
        f"""{_ivf_serve_prefix(cents)},
probes AS (
  SELECT vec_id AS query_id, cent_id AS probe_cent FROM (
    SELECT vec_id, cent_id,
      row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
    FROM scored WHERE vec_id < {N_QUERIES}
  ) WHERE crk <= {IVF_NPROBE}
),
cand AS (
  SELECT p.query_id, x.vec_id AS neighbor_id, x.cent_id, qa.v AS qv, x.v AS nv
  FROM probes p
  JOIN assigned x ON x.cent_id = p.probe_cent
  JOIN assigned qa ON qa.vec_id = p.query_id
  WHERE x.vec_id <> p.query_id
),
sims AS (
  SELECT query_id, neighbor_id, cent_id,
    round(aggregate(zip_with(qv, nv, (x, y) -> x * y), cast(0.0 AS double), (acc, x) -> acc + x)
      / (sqrt(aggregate(transform(qv, x -> x * x), cast(0.0 AS double), (acc, x) -> acc + x))
         * sqrt(aggregate(transform(nv, x -> x * x), cast(0.0 AS double), (acc, x) -> acc + x))), 6) AS cosine
  FROM cand
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
  FROM sims
)
SELECT query_id, neighbor_id, cent_id, cosine, rk
FROM ranked WHERE rk <= {ANN_TOP_K}
"""
    )


def similarity_ivf_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cent_id) after the trained assignment — exposed for the
    list-balance test and for inspecting the index layout."""
    cents = ivf_fit_centroids(spark, sf_dir)
    return spark.sql(
        f"{_ivf_serve_prefix(cents)}\nSELECT vec_id, cent_id FROM assigned"
    )


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    the standard storage/serving transform for a 100 TB embedding table
    (4x smaller than float32, 8x smaller than the float64 compute form).

    scale = max(|x|) / 127 per vector; q_i = clamp(round(x_i / scale),
    -127, 127). The quantization uses the RAW double scale so the
    arithmetic (max/abs/divide: exact IEEE ops) is bit-identical between
    Spark and the DuckDB oracle; only the REPORTED scale is rounded for
    display. Zero vectors quantize to zeros via a scale=1 guard. Pure
    Catalyst (one narrow projection, no shuffle, no UDF): at scale this
    runs at parquet-scan speed and the int8 output column is what an ANN
    serving tier ships to disk. Beyond-reference training-data op (same
    family as dedup_embedding_cosine / similarity_ann_*)."""
    _emb_v(spark, sf_dir)
    return spark.sql(
        """
WITH v AS (
  SELECT vec_id, v FROM emb_v
),
s AS (
  SELECT vec_id, v, array_max(transform(v, x -> abs(x))) / 127.0 AS scale0 FROM v
),
s2 AS (
  SELECT vec_id, v, CASE WHEN scale0 = 0.0 THEN 1.0 ELSE scale0 END AS scale FROM s
)
SELECT vec_id,
  round(scale, 6) AS scale_r6,
  array_join(
    transform(v, x -> cast(cast(greatest(cast(-127 AS double),
                                         least(cast(127 AS double),
                                               round(x / scale, 0))) AS int) AS string)),
    ',') AS q_str
FROM s2
"""
    )


# Product quantization: PQ_M subspaces x PQ_SUB_DIM dims, PQ_K codewords
# per subspace — the standard 100-TB compression BETWEEN int8 (4x) and
# IVF coarse lists: 64 doubles -> PQ_M code bytes (64x vs float64) while
# keeping an ADC-searchable representation. Same fit-then-serve shape as
# IVF: a deterministic per-subspace k-means (hash-ordered seed VECTORS
# shared across subspaces, PQ_ITERS Lloyd steps, 6-dp-rounded means) runs
# as its own tiny query, the PQ_M*PQ_K codeword rows are collected and
# injected as a literal relation, and the serving plan is one narrow
# projection + a broadcastable codebook join. Distances use the
# dot-product decomposition |s-c|^2 = s.s - 2 s.c + c.c so Spark and the
# DuckDB oracle execute the identical IEEE operation sequence before the
# 6-dp rounding (the same trick the IVF fit relies on).
PQ_M = 4
PQ_SUB_DIM = 16
PQ_K = 8
PQ_ITERS = 2

_PQ_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
    "cast(0.0 AS double), (acc, x) -> acc + x)"
)


def _pq_dist(a: str, b: str) -> str:
    """round(|a-b|^2, 6) via the dot decomposition (cross-engine IEEE)."""
    return (
        f"round({_PQ_DOT.format(a=a, b=a)} - 2 * {_PQ_DOT.format(a=a, b=b)}"
        f" + {_PQ_DOT.format(a=b, b=b)}, 6)"
    )


def _pq_fit_sql_spark() -> str:
    """Per-subspace k-means fit -> (m, code_id, c) rows. Seed codewords =
    the subvectors of the first PQ_K vectors in hash order (one
    TakeOrderedAndProject top-k, shared by all subspaces — no per-group
    global sort); Lloyd steps assign by rounded squared-L2 (code_id
    tie-break) and recompute 6-dp-rounded elementwise means. A real
    deployment fits on a bounded sample; the serving path is unchanged."""
    parts = [
        f"""sub AS (
  SELECT vec_id, m, slice(v, m * {PQ_SUB_DIM} + 1, {PQ_SUB_DIM}) AS s
  FROM v LATERAL VIEW explode(sequence(0, {PQ_M - 1})) t AS m
)""",
        f"""seedvec AS (
  SELECT vec_id, cast(row_number() OVER (ORDER BY (vec_id * {IVF_SEED_MULT}) % 1000003, vec_id) - 1 AS bigint) AS code_id
  FROM (SELECT vec_id FROM v ORDER BY (vec_id * {IVF_SEED_MULT}) % 1000003, vec_id LIMIT {PQ_K})
)""",
        """seed AS (
  SELECT b.m, sv.code_id, b.s AS c
  FROM seedvec sv JOIN sub b ON b.vec_id = sv.vec_id
)""",
        f"subdims AS (SELECT explode(sequence(0, {PQ_SUB_DIM - 1})) AS d)",
    ]
    prev = "seed"
    for it in range(PQ_ITERS):
        parts.append(f"""passign{it} AS (
  SELECT vec_id, m, s, code_id FROM (
    SELECT a.vec_id, a.m, a.s, c.code_id,
      row_number() OVER (PARTITION BY a.vec_id, a.m
                         ORDER BY {_pq_dist('a.s', 'c.c')}, c.code_id) AS crk
    FROM sub a JOIN {prev} c ON c.m = a.m
  ) WHERE crk = 1
)""")
        parts.append(f"""pcent{it + 1} AS (
  SELECT m, code_id,
    transform(array_sort(collect_list(named_struct('d', d, 'mx', mx))), s -> s.mx) AS c
  FROM (
    SELECT m, code_id, d, round(avg(element_at(s, d + 1)), 6) AS mx
    FROM passign{it} CROSS JOIN subdims
    GROUP BY m, code_id, d
  )
  GROUP BY m, code_id
)""")
        prev = f"pcent{it + 1}"
    ctes = ",\n".join(parts)
    return f"""
WITH v AS (
  SELECT vec_id, v FROM emb_v
),
{ctes}
SELECT m, code_id, c FROM pcent{PQ_ITERS}
"""


def pq_fit_codebooks(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, int, list[float]]]:
    """Run the deterministic per-subspace fit; returns (m, code_id, c)
    sorted — PQ_M * PQ_K rows, bounded at any input scale. Memoized per
    (session, sf_dir) — see _FIT_CACHE."""
    key = (id(spark), sf_dir, "pq")
    _emb_v(spark, sf_dir)  # always rebind the view — see ivf_fit_centroids
    if key not in _FIT_CACHE:
        rows = spark.sql(_pq_fit_sql_spark()).collect()
        _FIT_CACHE[key] = sorted(
            (int(r.m), int(r.code_id), [float(x) for x in r.c]) for r in rows
        )
    return _FIT_CACHE[key]


def _pq_book_literal_sql(books) -> str:
    vals = ", ".join(
        f"(cast({m} AS int), cast({cid} AS bigint), "
        f"array({', '.join(repr(x) for x in vec)}))"
        for m, cid, vec in books
    )
    return f"SELECT m, code_id, c FROM (VALUES {vals}) AS t(m, code_id, c)"


def embedding_quantize_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve the trained product quantizer: every vector's {PQ_M}
    subvectors are assigned their nearest codeword (rounded squared-L2
    argmin, code_id tie-break); returns the code string plus the rounded
    total reconstruction error. The codebook is a {PQ_M}x{PQ_K}-row
    literal relation (broadcasts); the scan-side work is one narrow
    projection + the subspace explode — no wide shuffle anywhere."""
    books = pq_fit_codebooks(spark, sf_dir)
    return spark.sql(
        f"""
WITH v AS (
  SELECT vec_id, v FROM emb_v
),
sub AS (
  SELECT vec_id, m, slice(v, m * {PQ_SUB_DIM} + 1, {PQ_SUB_DIM}) AS s
  FROM v LATERAL VIEW explode(sequence(0, {PQ_M - 1})) t AS m
),
book AS ({_pq_book_literal_sql(books)}),
assigned AS (
  SELECT vec_id, m, code_id, dist FROM (
    SELECT a.vec_id, a.m, c.code_id, {_pq_dist('a.s', 'c.c')} AS dist,
      row_number() OVER (PARTITION BY a.vec_id, a.m
                         ORDER BY {_pq_dist('a.s', 'c.c')}, c.code_id) AS crk
    FROM sub a JOIN book c ON c.m = a.m
  ) WHERE crk = 1
)
SELECT vec_id,
  array_join(transform(array_sort(collect_list(named_struct('m', m, 'cid', code_id))),
                       s -> cast(s.cid AS string)), ',') AS codes_str,
  round(sum(dist), 6) AS recon_err_r6
FROM assigned
GROUP BY vec_id
"""
    )


def similarity_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via PQ + asymmetric distance computation — the serving path
    product quantization exists for: queries stay float, the database
    side is only its {PQ_M} codes. Per query the distance table (query
    subvector x codeword: {PQ_M}*{PQ_K} rows) is computed once; database
    distances are then a LUT join on (m, code_id) + a per-(query, vec)
    sum — every join an equi-join, the LUT side {N_QUERIES}*{PQ_M}*{PQ_K}
    rows and broadcastable by construction. At 100 TB the codes relation
    is the only full-table scan (1/64th the bytes of the float64 table)
    and the shuffle key is (query_id, vec_id) partial sums — no all-pairs
    float math anywhere. Top-{ANN_TOP_K} per query by rounded ADC
    distance, vec_id tie-break."""
    books = pq_fit_codebooks(spark, sf_dir)
    return spark.sql(
        f"""
WITH v AS (
  SELECT vec_id, v FROM emb_v
),
sub AS (
  SELECT vec_id, m, slice(v, m * {PQ_SUB_DIM} + 1, {PQ_SUB_DIM}) AS s
  FROM v LATERAL VIEW explode(sequence(0, {PQ_M - 1})) t AS m
),
book AS ({_pq_book_literal_sql(books)}),
codes AS (
  SELECT vec_id, m, code_id FROM (
    SELECT a.vec_id, a.m, c.code_id,
      row_number() OVER (PARTITION BY a.vec_id, a.m
                         ORDER BY {_pq_dist('a.s', 'c.c')}, c.code_id) AS crk
    FROM sub a JOIN book c ON c.m = a.m
  ) WHERE crk = 1
),
lut AS (
  SELECT q.vec_id AS query_id, c.m, c.code_id, {_pq_dist('q.s', 'c.c')} AS d
  FROM sub q JOIN book c ON c.m = q.m
  WHERE q.vec_id < {N_QUERIES}
),
adc AS (
  SELECT l.query_id, x.vec_id AS neighbor_id, round(sum(l.d), 6) AS adc_dist
  FROM codes x
  JOIN lut l ON l.m = x.m AND l.code_id = x.code_id
  WHERE x.vec_id <> l.query_id
  GROUP BY l.query_id, x.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_dist, neighbor_id) AS rk
  FROM adc
)
SELECT query_id, neighbor_id, adc_dist, rk
FROM ranked WHERE rk <= {ANN_TOP_K}
"""
    )


def similarity_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed — the textbook billion-scale ANN serving
    architecture (FAISS ``IVF,PQ`` with by_residual=False: codes are PQ
    over the raw vectors, not list residuals — the residual variant only
    changes the codebook fit, not this serving plan). The coarse
    quantizer prunes the corpus to the query's {IVF_NPROBE} probed lists;
    the fine ranking is asymmetric PQ distance over ONLY those
    candidates. At 100 TB this is the plan that works: the codes
    relation (1/64th the float bytes) is partitioned BY cent_id so a
    probe reads just its lists (partition pruning on the equi-join key),
    the LUT is {N_QUERIES}*{PQ_M}*{PQ_K} rows (broadcast), and no float
    vector math touches the corpus at query time. Both fits are
    fit-then-serve literal relations (the repo's IVF pattern), so the
    serving query is pure equi-joins."""
    cents = ivf_fit_centroids(spark, sf_dir)
    books = pq_fit_codebooks(spark, sf_dir)
    return spark.sql(
        f"""{_ivf_serve_prefix(cents)},
probes AS (
  SELECT vec_id AS query_id, cent_id AS probe_cent FROM (
    SELECT vec_id, cent_id,
      row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
    FROM scored WHERE vec_id < {N_QUERIES}
  ) WHERE crk <= {IVF_NPROBE}
),
sub AS (
  SELECT vec_id, m, slice(v, m * {PQ_SUB_DIM} + 1, {PQ_SUB_DIM}) AS s
  FROM v LATERAL VIEW explode(sequence(0, {PQ_M - 1})) t AS m
),
book AS ({_pq_book_literal_sql(books)}),
codes AS (
  SELECT vec_id, m, code_id FROM (
    SELECT a.vec_id, a.m, c.code_id,
      row_number() OVER (PARTITION BY a.vec_id, a.m
                         ORDER BY {_pq_dist('a.s', 'c.c')}, c.code_id) AS crk
    FROM sub a JOIN book c ON c.m = a.m
  ) WHERE crk = 1
),
lut AS (
  SELECT q.vec_id AS query_id, c.m, c.code_id, {_pq_dist('q.s', 'c.c')} AS d
  FROM sub q JOIN book c ON c.m = q.m
  WHERE q.vec_id < {N_QUERIES}
),
cand AS (
  SELECT p.query_id, x.vec_id AS neighbor_id, x.cent_id
  FROM probes p
  JOIN assigned x ON x.cent_id = p.probe_cent
  WHERE x.vec_id <> p.query_id
),
adc AS (
  SELECT c.query_id, c.neighbor_id, c.cent_id, round(sum(l.d), 6) AS adc_dist
  FROM cand c
  JOIN codes x ON x.vec_id = c.neighbor_id
  JOIN lut l ON l.query_id = c.query_id AND l.m = x.m AND l.code_id = x.code_id
  GROUP BY c.query_id, c.neighbor_id, c.cent_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_dist, neighbor_id) AS rk
  FROM adc
)
SELECT query_id, neighbor_id, cent_id, adc_dist, rk
FROM ranked WHERE rk <= {ANN_TOP_K}
"""
    )
