"""Connected components (operators/components.py): correctness vs a
union-find reference, chain-graph worst case (the case that breaks
pair-local dedup rules AND naive min-label propagation), and the
cluster-level keep decision."""

from __future__ import annotations

import pytest

from dataflow_opinion_analysis_spark.operators import components


def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # rep = component min: with min-root union the root IS the min
    return {n: find(n) for n in parent}


def _run_cc(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(edges, "a long, b long")
    out = components.connected_components(df)
    return {r.node: r.rep for r in out.collect()}


def test_cc_matches_union_find_random(spark):
    # deterministic pseudo-random graph: several components, dup edges,
    # self loops, both orientations
    edges = []
    for i in range(120):
        a = (i * 7919) % 60
        b = (i * 104729 + 13) % 60
        edges.append((a, b))
    got = _run_cc(spark, edges)
    want = _uf_components([(a, b) for a, b in edges if a != b])
    assert got == want


def test_cc_long_chain_converges_fast(spark):
    # a 64-node chain: diameter 63 — naive min-label propagation needs
    # 63 rounds; large-star/small-star must collapse it within the
    # max_rounds bound (O(log n)) and map every node to 0
    edges = [(i, i + 1) for i in range(63)]
    got = _run_cc(spark, edges)
    assert got == {i: 0 for i in range(64)}


def test_cc_transitive_cluster_keep_decision(spark):
    # A~B, B~C without A~C: the pair-local rule (drop every doc_b)
    # keeps only A; cluster-level CC also keeps exactly one canonical,
    # but reports the full cluster with one rep
    got = _run_cc(spark, [(1, 2), (2, 3)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_cc_empty_and_singleton_edgecases(spark):
    assert _run_cc(spark, []) == {}
    # self-loop only: the node never appears in a real edge -> no row
    df = spark.createDataFrame([(5, 5)], "a long, b long")
    assert components.connected_components(df).count() == 0


def test_pipeline_cluster_dedup_option(spark):
    # sf0.01: the corpus has ~25 verified near-dup pairs, so the CC drop
    # set is provably non-empty
    sf_dir = "/root/testdata/sf0.01"
    # cluster_dedup=True must (a) keep exactly the canonical member of
    # every CC cluster among the exact-dedup survivors, (b) never keep
    # MORE than the pair-local rule
    from pyspark.sql import functions as F

    from dataflow_opinion_analysis_spark.operators import dataprep, dataprep_pipeline

    docs = dataprep._docs(spark, sf_dir)
    pair_rule = dataprep_pipeline.build_dataprep(spark, docs, materialize=False)
    pair_kept = {r.doc_id for r in pair_rule.kept.select("doc_id").collect()}
    cc = dataprep_pipeline.build_dataprep(
        spark, docs, materialize=False, cluster_dedup=True
    )
    cc_kept = {r.doc_id for r in cc.kept.select("doc_id").collect()}
    assert cc_kept <= pair_kept

    exact_ids = {r.doc_id for r in cc.exact.select("doc_id").collect()}
    cc.exact.createOrReplaceTempView("tc_exact")
    pairs = dataprep.minhash_pairs(spark, "tc_exact", "tc_mh")
    comp = components.connected_components(pairs, a="doc_a", b="doc_b")
    non_canonical = {
        r.node for r in comp.filter(F.col("node") != F.col("rep")).collect()
    }
    assert cc_kept == exact_ids - non_canonical
    assert non_canonical  # the fixture corpus genuinely exercises the drop


def test_cc_nonconvergence_bound_raises(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(63)], "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        components.connected_components(df, max_rounds=0)


def test_pagerank_impact_matches_python(spark):
    """pagerank_impact == the dict-based reference on randomized graphs
    (branching, chains, cycles, dangling nodes, multi-edges)."""
    import random

    from dataflow_opinion_analysis_spark.operators.components import (
        PAGERANK_ITERS,
        pagerank_impact,
    )

    rng = random.Random(7)
    for trial in range(3):
        n = rng.randint(8, 40)
        nodes = [f"n{i}" for i in range(n)]
        edges = []
        for _ in range(rng.randint(n, 3 * n)):
            a, b = rng.sample(range(n), 2)
            edges.append((f"n{a}", f"n{b}"))

        ndf = spark.createDataFrame([(x,) for x in nodes], "node string")
        edf = spark.createDataFrame(edges, "src string, dst string")
        got = {
            r["node"]: int(r["rank_micro"])
            for r in pagerank_impact(ndf, edf).collect()
        }

        outdeg = {}
        for s, _ in edges:
            outdeg[s] = outdeg.get(s, 0) + 1
        r = {x: 1_000_000 for x in nodes}
        for _ in range(PAGERANK_ITERS):
            nxt = {x: 150_000 for x in nodes}
            for s, d in edges:
                nxt[d] += (85 * r[s]) // (100 * outdeg[s])
            r = nxt
        assert got == r, trial
