"""The one materialization policy (session.materialize): each role
leaves its blocks at its storage level, and no other module checkpoints
around it."""

from __future__ import annotations

import pathlib

import pytest

from dataflow_opinion_analysis_spark.session import materialize

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "dataflow_opinion_analysis_spark"


@pytest.mark.parametrize(
    "role, level", [("shared", "MEMORY_AND_DISK"), ("scratch", "DISK_ONLY")]
)
def test_materialize_role_storage_level(spark, role, level):
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    df = materialize(spark.range(1000).selectExpr("id", "id * 2 AS v"), role)
    assert df.count() == 1000
    rdds = jsc.getPersistentRDDs()
    new = [rdds.get(k) for k in rdds.keySet() if k not in before]
    assert new, "materialize left no persistent RDD"
    want = spark._jvm.org.apache.spark.storage.StorageLevel.fromString(level)
    for rdd in new:
        got = rdd.getStorageLevel()
        assert got.equals(want), (role, got.description(), level)
        rdd.unpersist(True)


def test_only_session_checkpoints():
    offenders = [
        str(p.relative_to(PACKAGE))
        for p in sorted(PACKAGE.rglob("*.py"))
        if p != PACKAGE / "session.py" and "localCheckpoint(" in p.read_text()
    ]
    assert offenders == []
