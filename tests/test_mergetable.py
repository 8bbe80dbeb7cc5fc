"""Exactly-once MERGE sink semantics (FIXTURES.md §5.6)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dataflow_opinion_analysis_spark.tables.mergetable import MergeTable
from tests.conftest import spark_jobs


def _mk(spark, tmp_path):
    return MergeTable(
        spark,
        str(tmp_path / "t"),
        key_cols=["conv_id", "turn_idx"],
        schema="conv_id string, turn_idx int, v string, date_id int",
        partition_col="date_id",
    )


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, v string, date_id int"
    )


def test_merge_insert_and_replay_idempotent(spark, tmp_path):
    t = _mk(spark, tmp_path)
    b1 = _df(spark, [("c1", 0, "a", 20240101), ("c1", 1, "b", 20240101)])
    assert t.merge(b1, batch_id=0) == 2
    # replay same batch id -> no-op
    assert t.merge(b1, batch_id=0) == 0
    assert t.read().count() == 2

    # new batch with one duplicate key and one new key -> only new inserted
    b2 = _df(spark, [("c1", 1, "DUP", 20240101), ("c2", 0, "c", 20240102)])
    assert t.merge(b2, batch_id=1) == 1
    out = t.read()
    assert out.count() == 3
    # duplicate key kept the FIRST write's value (insert-if-absent)
    assert out.filter((F.col("conv_id") == "c1") & (F.col("turn_idx") == 1)).collect()[0].v == "b"


def test_merge_partial_retry_with_new_batch_id_still_no_dupes(spark, tmp_path):
    """Even if a retry arrives under a different batch id (worst case),
    the key anti-join prevents duplicates."""
    t = _mk(spark, tmp_path)
    b = _df(spark, [("c1", 0, "a", 20240101)])
    t.merge(b, batch_id=0)
    assert t.merge(b, batch_id=99) == 0
    assert t.read().count() == 1


def test_partition_pruning_stats(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_df(spark, [("c1", 0, "a", 20240101)]), 0)
    t.merge(_df(spark, [("c2", 0, "b", 20240301)]), 1)
    # file-skipping: only the January file overlaps
    assert len(t.files(20240101, 20240131)) == 1
    assert len(t.files()) == 2
    assert t.read(20240101, 20240131).count() == 1


def test_lineage_recorded(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_df(spark, [("c1", 0, "a", 20240101)]), 7)
    lin = t.lineage()
    assert lin[-1]["batch_id"] == 7 and lin[-1]["rows"] == 1


def test_manifest_cost_is_constant_per_commit(spark, tmp_path):
    """The 10^12-turn scale property: a commit's manifest carries range-
    encoded batch ids (ONE range for a monotonic stream) and only its own
    lineage entry — NOT the full history rewritten every commit."""
    t = _mk(spark, tmp_path)
    for b in range(5):
        t.merge(_df(spark, [(f"c{b}", 0, "x", 20240101 + b)]), b)
    snap = t.current_snapshot()
    assert snap["batch_ranges"] == [[0, 4]]
    assert snap["lineage_entry"]["batch_id"] == 4
    # out-of-order / gap ids stay correct (restart from an older checkpoint)
    t.merge(_df(spark, [("g", 0, "x", 20240201)]), 9)
    assert t.current_snapshot()["batch_ranges"] == [[0, 4], [9, 9]]
    assert t.contains_batch(3) and t.contains_batch(9) and not t.contains_batch(7)
    assert len(t.lineage()) == 6


def test_time_travel_and_snapshots(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_df(spark, [("c1", 0, "a", 20240101)]), 0)
    v1 = t.current_snapshot()["version"]
    t.merge(_df(spark, [("c2", 0, "b", 20240102)]), 1)
    assert t.read().count() == 2
    assert t.read(at_version=v1).count() == 1
    hist = t.snapshots()
    assert [s["version"] for s in hist] == [1, 2]
    assert hist[0]["rows"] == 1 and hist[1]["n_files"] == 2


def test_incremental_read_is_exactly_the_delta(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_df(spark, [("c1", 0, "a", 20240101)]), 0)
    v1 = t.current_snapshot()["version"]
    t.merge(_df(spark, [("c2", 0, "b", 20240102), ("c1", 0, "DUP", 20240101)]), 1)
    t.merge(_df(spark, [("c3", 0, "c", 20240103)]), 2)
    delta = t.incremental_read(since_version=v1)
    got = sorted(r.conv_id for r in delta.collect())
    assert got == ["c2", "c3"]  # the MERGE-suppressed dup is not in the delta
    # empty delta and bounds checks
    assert t.incremental_read(t.current_snapshot()["version"]).count() == 0
    # a rewrite inside the range is not an append scan
    t.replace(t.read())
    import pytest as _pytest

    with _pytest.raises(ValueError, match="rewrite"):
        t.incremental_read(since_version=v1)


def test_expire_and_vacuum_preserve_current_reads_and_replay(spark, tmp_path):
    t = _mk(spark, tmp_path)
    for b in range(3):
        t.merge(_df(spark, [(f"c{b}", 0, "x", 20240101 + b)]), b)
    t.replace(t.read(), note="compact")  # 3 small files -> 1
    expired = t.expire_snapshots(keep_last=1)
    assert expired == [1, 2, 3]
    # age grace: freshly-written orphans (a mid-merge writer's
    # not-yet-committed dir looks exactly like one) are never deleted
    assert t.vacuum() == []
    deleted = t.vacuum(min_age_sec=0)
    assert len(deleted) == 3  # the three pre-compaction batch files
    assert t.read().count() == 3
    # replay fencing survives retention (ids live in the latest manifest)
    assert t.merge(_df(spark, [("c0", 0, "REPLAY", 20240101)]), 0) == 0
    # expired versions are gone for time travel
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        t.read(at_version=1)


def test_old_manifest_format_still_reads(spark, tmp_path):
    """Back-compat: a table committed by the pre-range manifest format
    (flat batch_ids list + all-history lineage) normalizes on read and
    keeps replay fencing."""
    import json
    import os

    t = _mk(spark, tmp_path)
    t.merge(_df(spark, [("c1", 0, "a", 20240101)]), 5)
    # rewrite the manifest in the OLD format
    snap = t.current_snapshot()
    old = {
        "version": snap["version"],
        "files": snap["files"],
        "batch_ids": [5],
        "lineage": [{"batch_id": 5, "files": [snap["files"][0]["path"]], "rows": 1}],
    }
    mp = os.path.join(t.manifest_dir, f"v{snap['version']:010d}.json")
    with open(mp, "w") as f:
        json.dump(old, f)
    assert t.contains_batch(5)
    assert t.merge(_df(spark, [("c1", 0, "REPLAY", 20240101)]), 5) == 0
    t.merge(_df(spark, [("c2", 0, "b", 20240102)]), 6)
    assert t.current_snapshot()["batch_ranges"] == [[5, 6]]
    assert t.read().count() == 2


def test_ranges_add_property():
    """Range encoding == set semantics for any insertion order (the replay
    fence is only as correct as this structure)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dataflow_opinion_analysis_spark.tables.mergetable import (
        _ranges_add,
        _ranges_contains,
    )

    @given(st.lists(st.integers(min_value=0, max_value=60), max_size=40))
    @settings(max_examples=300, deadline=None)
    def check(xs):
        ranges = []
        for x in xs:
            ranges = _ranges_add(ranges, x)
        want = set(xs)
        got = {v for lo, hi in ranges for v in range(lo, hi + 1)}
        assert got == want
        # canonical form: sorted, non-overlapping, non-adjacent
        for (l1, h1), (l2, h2) in zip(ranges, ranges[1:]):
            assert h1 + 1 < l2
        for probe in range(62):
            assert _ranges_contains(ranges, probe) == (probe in want)

    check()


def test_schema_evolution_add_column(spark, tmp_path):
    """Iceberg add-column parity: a later batch carrying a new column
    evolves the table — old rows read null for it, column order is
    pinned to first-seen + appended, a narrower late batch still works,
    and compaction re-homogenizes the files (evolved flag resets so
    steady-state reads skip footer-merging)."""
    t = MergeTable(spark, str(tmp_path / "t"), key_cols=["conv_id"],
                   partition_col="date_id")
    t.merge(spark.createDataFrame([("c1", "a", 20240101)],
                                  "conv_id string, v string, date_id int"), 0)
    assert t.current_snapshot()["evolved"] is False
    # batch 1 adds a 'model' column
    t.merge(spark.createDataFrame([("c2", "b", 20240102, "m-1")],
                                  "conv_id string, v string, date_id int, model string"), 1)
    snap = t.current_snapshot()
    assert snap["evolved"] is True
    assert snap["columns"] == ["conv_id", "v", "date_id", "model"]
    out = t.read().orderBy("conv_id")
    assert out.columns == ["conv_id", "v", "date_id", "model"]
    rows = out.collect()
    assert rows[0].model is None and rows[1].model == "m-1"
    # a narrower batch (old producer still running) is accepted
    t.merge(spark.createDataFrame([("c3", "c", 20240103)],
                                  "conv_id string, v string, date_id int"), 2)
    assert t.read().count() == 3
    # time travel sees the pre-evolution schema
    assert t.read(at_version=1).columns == ["conv_id", "v", "date_id"]
    # compaction homogenizes: evolved resets, data intact
    t.replace(t.read())
    snap = t.current_snapshot()
    assert snap["evolved"] is False
    assert snap["columns"] == ["conv_id", "v", "date_id", "model"]
    assert t.read().where("model IS NULL").count() == 2


def test_suppressed_batch_with_new_column_does_not_pin_phantom_schema(spark, tmp_path):
    """An all-suppressed merge (every row loses the key anti-join) whose
    batch carried a NEW column must not evolve the manifest: the column
    exists in no data file, so pinning it would make every subsequent
    read()'s select(*columns) throw unresolved-column until some batch
    actually lands a file with it. Schema evolution tracks files written,
    not batches attempted."""
    t = MergeTable(spark, str(tmp_path / "t"), key_cols=["conv_id"],
                   partition_col="date_id")
    t.merge(spark.createDataFrame([("c1", "a", 20240101)],
                                  "conv_id string, v string, date_id int"), 0)
    # replayed keys + a new 'model' column -> n == 0, nothing written
    wide_dup = spark.createDataFrame(
        [("c1", "DUP", 20240101, "m-1")],
        "conv_id string, v string, date_id int, model string")
    assert t.merge(wide_dup, 1) == 0
    snap = t.current_snapshot()
    assert snap["columns"] == ["conv_id", "v", "date_id"]
    assert snap["evolved"] is False
    assert t.read().columns == ["conv_id", "v", "date_id"]  # must not raise
    # the column arrives for real later -> normal evolution
    t.merge(spark.createDataFrame([("c2", "b", 20240102, "m-1")],
                                  "conv_id string, v string, date_id int, model string"), 2)
    assert t.read().columns == ["conv_id", "v", "date_id", "model"]


def test_first_commit_noop_then_narrow_data(spark, tmp_path):
    """First-ever commit being a no-op with wide columns followed by a
    narrower data batch: the table must read with the narrow (actually
    written) schema, not an unreadable wide pin."""
    t = MergeTable(spark, str(tmp_path / "t"), key_cols=["conv_id"],
                   schema="conv_id string, v string, date_id int, model string",
                   partition_col="date_id")
    empty_wide = spark.createDataFrame(
        [], "conv_id string, v string, date_id int, model string")
    assert t.merge(empty_wide, 0) == 0
    t.merge(spark.createDataFrame([("c1", "a", 20240101)],
                                  "conv_id string, v string, date_id int"), 1)
    assert t.read().columns == ["conv_id", "v", "date_id"]
    assert t.read().count() == 1


def test_assume_new_single_job_contract(spark, tmp_path):
    """assume_new skips the existing-key anti-join (caller asserts
    cross-batch key disjointness): batch-id replay is still fenced, a
    key-unique new batch lands, and — the contract being the CALLER's —
    a violating batch WOULD insert its rows (no silent second dedupe
    layer to hide a broken upstream guarantee)."""
    t = _mk(spark, tmp_path)
    assert t.merge(_df(spark, [("c1", 0, "a", 20240101)]), 0, assume_new=True) == 1
    # replay fence still applies
    assert t.merge(_df(spark, [("c1", 0, "DUP", 20240101)]), 0, assume_new=True) == 0
    # disjoint new batch: one write job, no table scan
    assert t.merge(_df(spark, [("c2", 0, "b", 20240102)]), 1, assume_new=True) == 1
    assert t.read().count() == 2
    # a caller violating the contract is NOT silently repaired
    assert t.merge(_df(spark, [("c1", 0, "VIOLATION", 20240101)]), 2,
                   assume_new=True) == 1
    assert t.read().count() == 3


def test_assume_unique_guard_raises_before_commit(spark, tmp_path):
    """A grossly key-duplicated batch under assume_unique must raise
    BEFORE the manifest commit: the table keeps its prior state and the
    batch id stays uncommitted (retryable after the caller fixes it)."""
    import pytest

    t = _mk(spark, tmp_path)
    t.merge(_df(spark, [("c1", 0, "a", 20240101)]), 0)
    dup_rows = [("cX", 0, f"v{i}", 20240102) for i in range(200)]
    with pytest.raises(ValueError, match="assume_unique violated"):
        t.merge(_df(spark, dup_rows), 1, assume_new=True)
    assert t.read().count() == 1
    assert not t.contains_batch(1)
    # the same batch, properly deduped upstream, then commits fine
    assert t.merge(_df(spark, dup_rows).dropDuplicates(["conv_id", "turn_idx"]),
                   1, assume_new=True) == 1


def test_compact_small_files_binpacks_without_changing_content(spark, tmp_path):
    """rewrite_data_files(BINPACK) parity: small files fold into one,
    content / replay fencing / partition stats survive, and the commit is
    transparent to the incremental append scan (zero delta rows)."""
    t = _mk(spark, tmp_path)
    for b in range(6):
        t.merge(_df(spark, [(f"c{b}", 0, "x", 20240101 + b)]), b)
    v_before = t.current_snapshot()["version"]
    before = sorted((r.conv_id, r.date_id) for r in t.read().collect())

    assert t.compact_small_files(min_files=2) == 6
    snap = t.current_snapshot()
    assert len(snap["files"]) == 1
    # widened-but-correct partition stats on the packed file
    assert snap["files"][0]["min_part"] == 20240101
    assert snap["files"][0]["max_part"] == 20240106
    assert sorted((r.conv_id, r.date_id) for r in t.read().collect()) == before
    # replay fencing: all six batch ids still committed
    assert t.merge(_df(spark, [("c0", 0, "REPLAY", 20240101)]), 0) == 0
    # below min_files -> no-op, no new snapshot
    v = snap["version"]
    assert t.compact_small_files(min_files=2) == 0
    assert t.current_snapshot()["version"] == v

    # incremental scan ACROSS the compaction: appends on both sides are
    # the delta; the compaction itself contributes nothing
    t.merge(_df(spark, [("c9", 0, "y", 20240109)]), 9)
    delta = t.incremental_read(since_version=v_before)
    assert sorted(r.conv_id for r in delta.collect()) == ["c9"]
    # a consumer whose cursor predates the folded appends still sees them
    # (retained lineage references the original small files until expiry)
    assert t.incremental_read(since_version=0).count() == 7


def test_compact_small_files_preserves_schema_evolution(spark, tmp_path):
    t = MergeTable(spark, str(tmp_path / "t2"), key_cols=["k"])
    t.merge(spark.createDataFrame([("a", 1)], "k string, v int"), 0)
    t.merge(spark.createDataFrame([("b", 2, "X")], "k string, v int, extra string"), 1)
    assert t.current_snapshot()["evolved"]
    assert t.compact_small_files(min_files=2) == 2
    snap = t.current_snapshot()
    assert snap["columns"] == ["k", "v", "extra"]
    out = {r.k: (r.v, r.extra) for r in t.read().collect()}
    assert out == {"a": (1, None), "b": (2, "X")}


def test_compact_then_expire_vacuum_removes_folded_files(spark, tmp_path):
    t = _mk(spark, tmp_path)
    for b in range(3):
        t.merge(_df(spark, [(f"c{b}", 0, "x", 20240101 + b)]), b)
    assert t.compact_small_files(min_files=2) == 3
    # while history is retained, the folded originals are lineage-referenced
    assert t.vacuum(min_age_sec=0) == []
    t.expire_snapshots(keep_last=1)
    deleted = t.vacuum(min_age_sec=0)
    assert len(deleted) == 3
    assert t.read().count() == 3


def test_stale_commit_rejected(spark, tmp_path):
    """Optimistic concurrency: a writer that read snapshot v and tries to
    commit after the table advanced past v must raise, never rename the
    pointer backward over later commits (the stale-overlapped-thread
    hazard in the streaming sink)."""
    from dataflow_opinion_analysis_spark.tables.mergetable import (
        ConcurrentCommitError,
    )

    t = _mk(spark, tmp_path)
    t.merge(_df(spark, [("a", 0, "x", 20240101)]), 0)
    stale_snap = t.current_snapshot()  # v1
    t.merge(_df(spark, [("b", 0, "y", 20240102)]), 1)  # advances to v2

    entry = {"batch_id": 99, "note": "stale", "files": [], "rows": 0,
             "ts": 0.0}
    with pytest.raises(ConcurrentCommitError):
        t._commit(t._next_snap(stale_snap, stale_snap["files"], entry))
    # the table is untouched: still v2, both rows, batch 1 still fenced
    snap = t.current_snapshot()
    assert snap["version"] == 2
    assert t.read().count() == 2
    assert t.merge(_df(spark, [("b", 0, "REPLAY", 20240102)]), 1) == 0


def test_lost_same_batch_commit_race_is_idempotent(spark, tmp_path):
    """Losing a commit race to a twin of the SAME batch id (an orphaned
    overlapped merge thread replaying identical content) is idempotent
    success — the replayed micro-batch must not fail when the table
    already holds exactly its rows. A stale commit for an UNcommitted
    batch still raises."""
    from dataflow_opinion_analysis_spark.tables.mergetable import (
        ConcurrentCommitError,
    )

    t = _mk(spark, tmp_path)
    t.merge(_df(spark, [("a", 0, "x", 20240101)]), 0)
    stale = t.current_snapshot()  # v1 — read before the twin lands
    t.merge(_df(spark, [("b", 0, "y", 20240102)]), 1)  # the twin: v2

    entry = {"batch_id": 1, "files": [], "rows": 0, "ts": 0.0}
    assert t._commit_batch(
        t._next_snap(stale, stale["files"], entry), 1) is False
    assert t.current_snapshot()["version"] == 2  # untouched

    entry2 = {"batch_id": 7, "files": [], "rows": 0, "ts": 0.0}
    with pytest.raises(ConcurrentCommitError):
        t._commit_batch(t._next_snap(stale, stale["files"], entry2), 7)


def test_empty_table_read_runs_no_job(spark, tmp_path):
    """A table with no files reads as a driver-side local relation: the
    read, and collecting it, schedule no Spark task."""
    t = _mk(spark, tmp_path)
    got = {}

    def read_empty():
        df = t.read()
        got["rows"] = df.collect()
        got["cols"] = df.columns
        got["delta"] = t.incremental_read(0).collect()

    assert spark_jobs(spark, read_empty) == 0
    assert got["rows"] == [] and got["delta"] == []
    assert got["cols"] == ["conv_id", "turn_idx", "v", "date_id"]
