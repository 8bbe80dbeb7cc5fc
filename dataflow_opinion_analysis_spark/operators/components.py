"""Connected components over a near-duplicate pair graph — the standard
web-scale dedup step that turns pairwise LSH verdicts into keep-one-per-
CLUSTER decisions (pair-local winner rules under-delete whenever dups
chain: A~B, B~C but not A~C).

Algorithm: the alternating large-star / small-star method of Kiveris et
al., "Connected Components in MapReduce and Beyond" (ACM SoCC'14) —
each round is two hash-aggregate + equi-join passes over the edge list,
and the edge set provably converges to stars (every node pointing at
its component minimum) in O(log^2 n) rounds, O(log n) in practice. This
is the shape that survives 100 TB: per round the only wide operations
are a groupBy(min) and an equi-join on node id, both plain hash
shuffles; nothing is ever collected to the driver, and long chains —
the worst case for naive min-label propagation, which needs
O(diameter) rounds — collapse exponentially fast because large-star
rewires every node above the local minimum directly to it.

Each round's output is checkpointed (narrow 2-column longs):
iterative DataFrame algorithms must truncate lineage or the plan
doubles per round (same fit-then-serve barrier the IVF trainer uses —
operators/similarity.py). On a cluster the checkpoint becomes a
durable shuffle/parquet hand-off; the round structure is unchanged.

Reference scope note: the reference engine has no clustering dedup
(its soft dedupe is a per-group vote, StatsCalcPipeline has none);
this operator extends the training-data-prep surface the brief asks
for beyond reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataflow_opinion_analysis_spark.operators import dataprep
from dataflow_opinion_analysis_spark.session import materialize


def _edge_checksum(edges: DataFrame) -> tuple[int, int]:
    """(n_edges, xor-fold hash) — an order-independent snapshot of the
    edge set, used for the convergence test. One tiny 2-long aggregate
    job per round; bit_xor cannot overflow under ANSI mode, and the
    edge set is distinct so xor-cancellation of duplicates is moot."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(a, b))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row.n), int(row.h)


def large_star(edges: DataFrame) -> DataFrame:
    """For every node u: connect each strictly-larger neighbor to
    min(neighborhood ∪ {u}). One symmetric explode, one groupBy(min),
    one equi-join — all hash-partitioned on node id."""
    sym = edges.select("a", "b").union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    nbr_min = sym.groupBy("a").agg(F.min("b").alias("mn"))
    m = F.least(F.col("a"), F.col("mn"))
    out = (
        sym.join(nbr_min, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), m.alias("b"))
    )
    return out.where(F.col("a") != F.col("b")).distinct()


def small_star(edges: DataFrame) -> DataFrame:
    """Orient each edge (max, min); for every node u: connect u and all
    its smaller neighbors to the smallest of them."""
    oriented = edges.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    ).where(F.col("a") != F.col("b")).distinct()
    nbr_min = oriented.groupBy("a").agg(F.min("b").alias("mn"))
    relink = oriented.join(nbr_min, "a").select(F.col("b").alias("a"), F.col("mn").alias("b"))
    center = nbr_min.select(F.col("a"), F.col("mn").alias("b"))
    out = relink.union(center)
    return out.where(F.col("a") != F.col("b")).distinct()


def connected_components(
    edges: DataFrame, a: str = "a", b: str = "b", max_rounds: int = 30
) -> DataFrame:
    """(node, rep) for every node that appears in ``edges`` — rep is the
    minimum node id of its connected component. Alternates
    large-star/small-star until the edge set is stable (checksum
    unchanged), then reads the representatives straight off the
    converged star edges.

    ``max_rounds`` is a safety bound only: convergence needs
    O(log^2 n) rounds in theory, 2-5 in practice; the loop raises if
    the bound is hit so a silent wrong answer is impossible."""
    cur = edges.select(F.col(a).cast("long").alias("a"), F.col(b).cast("long").alias("b"))
    cur = materialize(cur.where(F.col("a") != F.col("b")), "shared")
    prev = _edge_checksum(cur)
    for _ in range(max_rounds):
        nxt = materialize(small_star(large_star(cur)), "shared")
        chk = _edge_checksum(nxt)
        cur = nxt
        if chk == prev:
            break
        prev = chk
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    # converged small-star output is (member, component_min) for every
    # non-minimum member; add the centers back as their own rep
    reps = cur.select(F.col("a").alias("node"), F.col("b").alias("rep"))
    centers = cur.select(F.col("b").alias("node"), F.col("b").alias("rep")).distinct()
    return reps.union(centers).groupBy("node").agg(F.min("rep").alias("rep"))


def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated query: MinHash+LSH verified pairs (the dedup_minhash_lsh
    semantics, unchanged) -> connected components -> one row per
    clustered doc with its canonical representative (component min
    doc_id) and cluster size. ``is_canonical`` is the keep decision a
    cluster-level dedup makes; compare the pair-local rule in
    operators/dataprep_pipeline (drops every doc_b), which under-keeps
    on chained dups. DuckDB oracle: recursive-CTE reachability
    (oracles_dataprep.DEDUP_CLUSTER_CC_SQL)."""
    dataprep._docs(spark, sf_dir)
    # staged builder (shingles/sizes/bands materialized once) — the
    # all-in-one SQL re-expanded the shingle chain per CTE reference
    pairs = dataprep.minhash_pairs(spark, "documents", "cc_mh")
    comp = connected_components(pairs, a="doc_a", b="doc_b")
    sizes = comp.groupBy("rep").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "rep")
        .select(
            F.col("node").alias("doc_id"),
            F.col("rep").alias("rep_id"),
            "cluster_size",
            (F.col("node") == F.col("rep")).alias("is_canonical"),
        )
    )


# ---------------------------------------------------------------------------
# Impact propagation (PageRank-style) over the webresource reply graph
# ---------------------------------------------------------------------------

PAGERANK_ITERS = 4
# integer-micro arithmetic: r0 = 1e6 per node; each iteration
#   r(n) = 150000 + Σ_{src→n} (85 · r(src)) DIV (100 · outdeg(src))
# i.e. classic damping 0.85 with two deliberate, documented deviations
# that buy cross-engine bit-exactness: per-edge contributions are FLOOR
# divisions of integers (both engines' integer division is exact, so
# the per-node SUM is an exact bigint immune to FP addend order), and
# dangling-node mass is dropped rather than redistributed (the
# redistribution term is a global scalar that adds nothing to the
# distributed-iteration shape this operator demonstrates).


def pagerank_impact(
    nodes: DataFrame, edges: DataFrame, iters: int = PAGERANK_ITERS
) -> DataFrame:
    """Fixed-iteration PageRank over (src -> dst) edges; returns
    (node, rank_micro). Per iteration: one groupBy(outdeg) reused across
    rounds, one equi-join of edges with the current ranks, one hash agg
    of integer contributions, one left join back onto the node set —
    every wide op keyed on node id, nothing collected. Each round is
    checkpointed (narrow 2-column frame) so the plan does not
    double per iteration — the same barrier discipline as
    connected_components above. At 100 TB: edges and ranks co-partition
    on the node key; an iteration is two shuffles of the (node, long)
    pair relation, independent of text/document width."""
    # pin the two loop-invariant relations once: nodes is referenced in
    # every iteration's left join (and its upstream is typically a
    # DISTINCT over a wide frame — re-planned and re-shuffled per round
    # without the barrier), edges in every contribution join
    nodes = materialize(nodes, "shared")
    edges = materialize(edges, "shared")
    # edges x outdeg is loop-invariant: join it ONCE and checkpoint, so
    # each iteration pays a single join (ranks) instead of two
    edges_deg = materialize(edges.join(
        edges.groupBy("src").agg(F.count("*").alias("outdeg")), "src"
    ), "shared")
    r = nodes.select("node", F.lit(1_000_000).cast("long").alias("rank_micro"))
    for _ in range(iters):
        contrib = (
            edges_deg
            .join(r.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("(85 * rank_micro) DIV (100 * outdeg)").alias("c"),
            )
        )
        inflow = contrib.groupBy("node").agg(F.sum("c").alias("inflow"))
        r = nodes.join(inflow, "node", "left").select(
            "node",
            (F.lit(150_000) + F.coalesce(F.col("inflow"), F.lit(0)))
            .cast("long")
            .alias("rank_micro"),
        )
        r = materialize(r, "shared")
    return r
