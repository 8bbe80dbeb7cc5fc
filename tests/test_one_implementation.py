"""One Spark implementation per indexer and stats query: the streaming
micro-batch runs the batch indexer's post-dedupe stages
(plans/indexer.index_after_exact_dedupe) rather than a copy of them, and
the staged stats tables keep no one-shot SQL twin."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "dataflow_opinion_analysis_spark"

DELETED_STATS_TWINS = {
    "stats_sql",
    "stattopic_sql",
    "statstoryimpact_sql",
    "statdomainopinions_sql",
    "statstoryrank_sql",
    "daily_sql",
}


def _tree(rel: str) -> ast.Module:
    return ast.parse((PACKAGE / rel).read_text())


def test_stream_reuses_batch_indexer_stages():
    offenders = set()
    for node in ast.walk(_tree("streaming/pipeline.py")):
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            owner, attr = node.value.id, node.attr
            if owner == "fanout" or (owner, attr) in {
                ("scorer", "tags_augment"),
                ("dedupe", "soft_dedupe"),
            }:
                offenders.add(f"{owner}.{attr}")
        elif isinstance(node, ast.ImportFrom):
            offenders |= {
                a.name for a in node.names
                if a.name in ("fanout", "tags_augment", "soft_dedupe")
            }
    assert offenders == set()


def test_stats_keep_no_one_shot_twins():
    for rel in ("plans/stats.py", "plans/stats_incremental.py"):
        body = _tree(rel).body
        defined = {
            node.name for node in body if isinstance(node, ast.FunctionDef)
        } | {
            t.id for node in body if isinstance(node, ast.Assign)
            for t in node.targets if isinstance(t, ast.Name)
        }
        assert defined & DELETED_STATS_TWINS == set(), rel
