"""One Spark implementation per indexer and stats query: the streaming
micro-batch runs the batch indexer's post-dedupe stages
(plans/indexer.index_after_exact_dedupe) rather than a copy of them, the
staged stats tables keep no one-shot SQL twin, every streaming query
starts through session.start_stream, and the micro-batch writes its
stores from one list with one merge mode."""

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


def test_streams_start_only_through_the_helper():
    offenders = [
        str(path.relative_to(PACKAGE))
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != PACKAGE / "session.py"
        and any(
            isinstance(node, ast.Attribute) and node.attr == "writeStream"
            for node in ast.walk(ast.parse(path.read_text()))
        )
    ]
    assert offenders == []


def _function(rel: str, name: str) -> ast.FunctionDef:
    return next(
        node for node in ast.walk(_tree(rel))
        if isinstance(node, ast.FunctionDef) and node.name == name
    )


def _loops_over(fn: ast.FunctionDef, attr: str) -> list[str]:
    """The iterables of the loops in ``fn`` whose body references
    ``.attr``."""
    out = []
    for node in ast.walk(fn):
        if isinstance(node, ast.For):
            it, body = node.iter, node.body
        elif isinstance(node, (ast.DictComp, ast.ListComp, ast.GeneratorExp)):
            it, body = node.generators[0].iter, [node]
        else:
            continue
        if any(
            isinstance(n, ast.Attribute) and n.attr == attr
            for b in body for n in ast.walk(b)
        ):
            out.append(ast.unparse(it))
    return out


def test_fingerprint_verdicts_write_nothing():
    fn = _function("streaming/dedupe_state.py", "fingerprint_dedupe_batch")
    called = {
        node.func.attr if isinstance(node.func, ast.Attribute) else node.func.id
        for node in ast.walk(fn)
        if isinstance(node, ast.Call) and isinstance(node.func, (ast.Attribute, ast.Name))
    }
    assert called & {"merge", "materialize"} == set()


def test_micro_batch_writes_from_one_list_with_assume_new():
    fn = _function("streaming/pipeline.py", "process_batch")
    sites = [
        node for node in ast.walk(fn)
        if isinstance(node, ast.Attribute) and node.attr == "merge"
    ]
    assert len(sites) == 1
    (call,) = [
        node for node in ast.walk(fn)
        if isinstance(node, ast.Call) and (node.func is sites[0] or sites[0] in node.args)
    ]
    kw = {k.arg: k.value for k in call.keywords}
    assert isinstance(kw.get("assume_new"), ast.Constant) and kw["assume_new"].value is True
    # the writes and the empty-batch fence iterate the same list
    assert _loops_over(fn, "merge") == ["written"]
    assert _loops_over(fn, "record_empty") == ["written"]


def test_no_module_passes_assume_unique():
    offenders = [
        str(path.relative_to(PACKAGE))
        for path in sorted(PACKAGE.rglob("*.py"))
        if any(
            isinstance(node, (ast.keyword, ast.arg)) and node.arg == "assume_unique"
            for node in ast.walk(ast.parse(path.read_text()))
        )
    ]
    assert offenders == []
