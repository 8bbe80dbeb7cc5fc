"""MergeTable — an Iceberg-style parquet table with atomic snapshot commits
and an idempotent MERGE (insert-if-absent-by-key) operation.

No Iceberg/Delta jars exist in this image (SURVEY.md §7), so the table
format is implemented directly: a data directory of immutable parquet
files plus a chain of JSON snapshot manifests committed by atomic
``os.rename``. The pipeline code is identical to what it would be over a
real Iceberg catalog — ``merge(batch, batch_id)`` has the semantics of

    MERGE INTO t USING s ON t.<keys> = s.<keys>
    WHEN NOT MATCHED THEN INSERT *

and is the exactly-once sink used from ``foreachBatch``
(the reference's append-only BigQuery writes + URL-cache anti-join,
IndexerPipeline.java:622-676 + :400-416, replaced by a genuinely
idempotent keyed sink per the north rule).

Exactly-once under micro-batch replay: committed ``batch_id``s are
recorded in the manifest, so a replayed batch id is a no-op before any
data is read. Beyond that fence ``merge`` has two modes: the full MERGE
also anti-joins on the key columns, so even a *partially* committed
retry inserts no duplicate keys; ``assume_new`` is one narrow write whose
caller guarantees new keys (argued for the streaming sinks in
``streaming/pipeline.process_batch``).

Scale design:

- the manifest records per-file min/max of the partition column (default
  ``PublicationDateId``-style date ids), and ``merge`` prunes the
  anti-join build side to files overlapping the incoming batch's range —
  the same file-skipping a real Iceberg MERGE does. State growth is
  bounded by partition pruning, not table size.
- per-commit manifest cost is O(files), NOT O(batches): committed batch
  ids are range-encoded (Structured Streaming batch ids are monotonic,
  so the steady state is ONE [0, n] range) and each manifest carries
  only ITS OWN lineage entry — full history is reconstructed by walking
  the retained manifest chain (``lineage()``), never rewritten per
  commit. A naive all-history manifest is O(n²) total write volume over
  the millions of micro-batches a 10^12-turn stream commits.
- Iceberg read parity: ``snapshots()`` (history), ``read(at_version=v)``
  (time travel), ``incremental_read(since_version)`` (append-only CDC
  scan — exactly the rows committed after a consumer's last-seen
  snapshot, the primitive the incremental stats refresh consumes), and
  ``expire_snapshots()`` + ``vacuum()`` for retention.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import threading
import time
import uuid

try:
    import fcntl
except ImportError:  # non-POSIX: in-process locking only
    fcntl = None

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataflow_opinion_analysis_spark.session import local_frame


def _ranges_add(ranges: list[list[int]], x: int) -> list[list[int]]:
    """Insert x into a sorted list of inclusive [lo, hi] ranges, merging
    neighbours. O(len(ranges)); steady state for a monotonic stream is a
    single range so this is O(1) in practice."""
    out: list[list[int]] = []
    new = [x, x]
    placed = False
    for lo, hi in ranges:
        if hi < new[0] - 1:  # strictly before new, non-adjacent
            out.append([lo, hi])
        elif lo > new[1] + 1:  # strictly after new, non-adjacent
            if not placed:
                out.append(new)
                placed = True
            out.append([lo, hi])
        else:  # overlaps or adjoins new — absorb (may bridge neighbours)
            new = [min(lo, new[0]), max(hi, new[1])]
    if not placed:
        out.append(new)
    return out


def _ranges_contains(ranges: list[list[int]], x: int) -> bool:
    return any(lo <= x <= hi for lo, hi in ranges)


class ConcurrentCommitError(RuntimeError):
    """A commit whose parent snapshot is no longer LATEST — the table
    advanced under the writer (a stalled writer, concurrent
    maintenance). The attempted manifest is discarded; any data files it
    wrote are unreferenced orphans for vacuum()."""


# The commit critical section must be shared by EVERY writer of a table
# path, not one MergeTable instance: a query restart builds new instances
# over the same path, and ``on`` copies an instance per micro-batch.
# In-process that means a path-keyed lock registry; across processes
# (driver restart racing a writer of the old driver) an advisory flock
# on a lockfile in the manifest dir covers the check+rename window.
_COMMIT_LOCKS: dict[str, threading.Lock] = {}
_COMMIT_LOCKS_GUARD = threading.Lock()


def _commit_lock_for(path: str) -> threading.Lock:
    key = os.path.realpath(path)
    with _COMMIT_LOCKS_GUARD:
        return _COMMIT_LOCKS.setdefault(key, threading.Lock())


class MergeTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        schema: T.StructType | str | None = None,
        partition_col: str | None = None,
    ):
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.schema = schema
        self.partition_col = partition_col
        self.data_dir = os.path.join(path, "data")
        self.manifest_dir = os.path.join(path, "manifest")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)
        # serializes the commit parent-check + pointer rename (_commit)
        # across ALL instances on this path (see _commit_lock_for)
        self._commit_lock = _commit_lock_for(path)

    def on(self, spark: SparkSession) -> "MergeTable":
        """This table with its reads planned on ``spark`` (same path, same
        commit lock). A streaming micro-batch plans on its own session,
        whose width the query fixed at start, not on the caller's."""
        t = copy.copy(self)
        t.spark = spark
        return t

    # -- manifest chain ----------------------------------------------------
    def _latest_path(self) -> str:
        return os.path.join(self.manifest_dir, "LATEST")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.manifest_dir, f"v{version:010d}.json")

    @staticmethod
    def _normalize(snap: dict) -> dict:
        """Accept the pre-range manifest format (flat batch_ids list,
        all-history lineage list) and normalize in memory."""
        if "batch_ranges" not in snap:
            ranges: list[list[int]] = []
            for b in sorted(snap.get("batch_ids", [])):
                ranges = _ranges_add(ranges, int(b))
            snap["batch_ranges"] = ranges
            lin = snap.pop("lineage", [])
            snap["lineage_entry"] = lin[-1] if lin else None
        snap.setdefault("columns", None)
        snap.setdefault("evolved", False)
        return snap

    def _load_version(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return self._normalize(json.load(f))

    def current_snapshot(self) -> dict:
        p = self._latest_path()
        if not os.path.exists(p):
            return {
                "version": 0,
                "files": [],
                "batch_ranges": [],
                "lineage_entry": None,
                "ts": None,
                "columns": None,
                "evolved": False,
            }
        with open(p) as f:
            name = f.read().strip()
        with open(os.path.join(self.manifest_dir, name)) as f:
            return self._normalize(json.load(f))

    def _current_version(self) -> int:
        p = self._latest_path()
        if not os.path.exists(p):
            return 0
        with open(p) as f:
            return int(f.read().strip()[1:-5])  # "v%010d.json"

    def _commit(self, snap: dict) -> None:
        """Atomic commit with optimistic concurrency (Iceberg's commit
        rule): write manifest, then — under the path-keyed lock plus a
        cross-process flock, after
        re-checking that LATEST is still this commit's PARENT — rename a
        pointer file over LATEST. rename() is atomic on POSIX, so readers
        see either the old or the new snapshot, never a torn state.

        The parent check is what makes a STALE writer safe: a thread that
        read snapshot v, stalled (GC pause, slow job), and tries to
        commit v+1 after other commits advanced LATEST past v would
        otherwise rename the pointer BACKWARD, erasing every later
        commit's rows and replay fences from the table. Such a commit raises
        ConcurrentCommitError; its manifest/data files are unreferenced
        orphans for vacuum(). The lock serializes check+rename within the
        process — the only supported writer topology (see vacuum)."""
        name = f"v{snap['version']:010d}.json"
        mpath = os.path.join(self.manifest_dir, name)
        tmp = mpath + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(snap, f)
            f.flush()
            os.fsync(f.fileno())
        with self._commit_lock:
            lockf = open(os.path.join(self.manifest_dir, "COMMIT.lock"), "a")
            try:
                if fcntl is not None:  # cross-process writers (flock)
                    fcntl.flock(lockf.fileno(), fcntl.LOCK_EX)
                cur = self._current_version()
                if cur != snap["version"] - 1:
                    os.remove(tmp)
                    raise ConcurrentCommitError(
                        f"stale commit: attempted v{snap['version']} but "
                        f"LATEST is v{cur} (expected parent "
                        f"v{snap['version'] - 1}); the table advanced under "
                        f"this writer"
                    )
                os.rename(tmp, mpath)
                ptr_tmp = self._latest_path() + f".tmp-{uuid.uuid4().hex}"
                with open(ptr_tmp, "w") as f:
                    f.write(name)
                    f.flush()
                    os.fsync(f.fileno())
                os.rename(ptr_tmp, self._latest_path())
            finally:
                lockf.close()  # releases the flock

    def _next_snap(
        self,
        snap: dict,
        files: list[dict],
        entry: dict,
        batch_columns: list[str] | None = None,
    ) -> dict:
        """``batch_columns``: the committing DataFrame's columns — schema
        evolution (Iceberg add-column) is tracked in the manifest: the
        table's column list is the first-seen order plus any new columns
        appended, and ``evolved`` flags that data files have heterogeneous
        schemas so reads must footer-merge. Absent/narrower batches do NOT
        shrink the column list (missing columns read as null)."""
        cols = snap["columns"]
        evolved = snap["evolved"]
        if batch_columns is not None:
            if cols is None:
                cols = list(batch_columns)
            else:
                new = [c for c in batch_columns if c not in cols]
                if new or set(batch_columns) != set(cols):
                    evolved = True
                cols = cols + new
        return {
            "version": snap["version"] + 1,
            "files": files,
            "batch_ranges": (
                _ranges_add(snap["batch_ranges"], int(entry["batch_id"]))
                if entry.get("batch_id") is not None
                else snap["batch_ranges"]
            ),
            "lineage_entry": entry,
            "ts": time.time(),
            "columns": cols,
            "evolved": evolved,
        }

    # -- history / retention ------------------------------------------------
    def retained_versions(self) -> list[int]:
        """Versions whose manifest files still exist, ascending."""
        out = []
        for name in os.listdir(self.manifest_dir):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def snapshots(self) -> list[dict]:
        """Snapshot history (retained manifests only), ascending by
        version: [{version, ts, operation, rows, n_files}]. The walk is
        over retained manifests — after expire_snapshots() old history is
        gone by design (Iceberg expire_snapshots semantics)."""
        out = []
        for v in self.retained_versions():
            s = self._load_version(v)
            e = s.get("lineage_entry") or {}
            out.append(
                {
                    "version": v,
                    "ts": s.get("ts", e.get("ts")),
                    "operation": e.get("note", "merge"),
                    "batch_id": e.get("batch_id"),
                    "rows": e.get("rows"),
                    "n_files": len(s["files"]),
                }
            )
        return out

    def lineage(self) -> list[dict]:
        """Per-commit lineage entries across retained snapshots,
        ascending. Each entry: {batch_id, files, rows, ts[, note]}."""
        out = []
        for v in self.retained_versions():
            e = self._load_version(v).get("lineage_entry")
            if e is not None:
                out.append(e)
        return out

    # -- reads ---------------------------------------------------------------
    def files(
        self,
        min_part: int | None = None,
        max_part: int | None = None,
        at_version: int | None = None,
    ) -> list[str]:
        snap = (
            self.current_snapshot()
            if at_version is None
            else self._load_version(at_version)
        )
        out = []
        for fe in snap["files"]:
            if (
                min_part is not None
                and max_part is not None
                and fe.get("min_part") is not None
                and fe.get("max_part") is not None
                and (fe["max_part"] < min_part or fe["min_part"] > max_part)
            ):
                continue  # file skipped by partition stats
            out.append(fe["path"])
        return out

    def _empty(self) -> DataFrame:
        if self.schema is not None:
            return local_frame(self.spark, [], self.schema)
        raise ValueError(f"empty table {self.path} and no schema given")

    def read(
        self,
        min_part: int | None = None,
        max_part: int | None = None,
        at_version: int | None = None,
    ) -> DataFrame:
        """Read the table; ``at_version`` time-travels to that snapshot
        (must still be retained — see expire_snapshots).

        Schema evolution: footer-merging (mergeSchema) is paid ONLY when
        the manifest says data files are heterogeneous — the steady-state
        read of a 100 TB table with a stable schema stays a plain
        parquet scan. Column order is pinned to the manifest's list, so
        evolution never reorders existing consumers' columns."""
        snap = (
            self.current_snapshot()
            if at_version is None
            else self._load_version(at_version)
        )
        fs = self.files(min_part, max_part, at_version=at_version)
        if not fs:
            return self._empty()
        r = self.spark.read
        if snap["evolved"]:
            r = r.option("mergeSchema", "true")
        df = r.parquet(*fs)
        if snap["columns"]:
            df = df.select(*snap["columns"])
        return df

    def incremental_read(
        self, since_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Append-only incremental scan: exactly the rows committed by
        snapshots (since_version, to_version]. This is Iceberg's
        incremental append scan — the primitive a downstream consumer
        (e.g. the nightly stats refresh) uses to process only new data.

        MERGE inserts only, so appended files ARE the delta. A
        ``replace()`` (compaction) snapshot inside the range is NOT an
        append and raises ValueError, mirroring Iceberg's behavior on
        non-append snapshots.
        """
        cur = self.current_snapshot()["version"]
        to_version = cur if to_version is None else to_version
        if to_version > cur:
            raise ValueError(f"to_version {to_version} > current {cur}")
        retained = set(self.retained_versions())
        fs: list[str] = []
        for v in range(since_version + 1, to_version + 1):
            if v not in retained:
                raise ValueError(
                    f"snapshot v{v} expired; incremental read needs the full "
                    f"(since, to] chain retained"
                )
            e = self._load_version(v).get("lineage_entry") or {}
            if e.get("batch_id") is None:
                if e.get("compaction"):
                    # compact_small_files: physical rewrite, zero logical
                    # change — contributes no delta rows (Iceberg's
                    # incremental append scan skips replace snapshots)
                    continue
                raise ValueError(
                    f"snapshot v{v} is a rewrite ({e.get('note')}), not an "
                    f"append; incremental scan across it is undefined"
                )
            fs.extend(e.get("files", []))
        if not fs:
            return self._empty()
        # delta files can straddle a schema-evolution commit; the delta is
        # small by construction so unconditional footer-merging is cheap
        return self.spark.read.option("mergeSchema", "true").parquet(*fs)

    def committed_batch_ids(self) -> set[int]:
        """Expanded committed-batch-id set. For tests/inspection only —
        production replay checks use contains_batch (O(#ranges))."""
        out: set[int] = set()
        for lo, hi in self.current_snapshot()["batch_ranges"]:
            out.update(range(lo, hi + 1))
        return out

    def contains_batch(self, batch_id: int) -> bool:
        return _ranges_contains(
            self.current_snapshot()["batch_ranges"], int(batch_id)
        )

    # -- MERGE ----------------------------------------------------------------
    def record_empty(self, batch_id: int) -> None:
        """Record ``batch_id`` as committed without writing any data —
        the driver-side-only twin of merging an empty frame (same
        manifest entry the n==0 merge path writes, zero Spark jobs).
        Keeps the batch-id space contiguous so a replay under different
        micro-batch boundaries (fresh checkpoint) fences the same ids a
        live run committed; a gap here is how a replayed non-empty batch
        could slip past the fence."""
        snap = self.current_snapshot()
        if _ranges_contains(snap["batch_ranges"], int(batch_id)):
            return
        entry = {"batch_id": batch_id, "files": [], "rows": 0, "ts": time.time()}
        self._commit_batch(self._next_snap(snap, snap["files"], entry), batch_id)

    def _commit_batch(self, snap: dict, batch_id: int) -> bool:
        """Commit a batch-carrying snapshot; returns True if THIS commit
        landed, False if the batch is already committed. A lost commit
        race against a twin of the SAME batch id — a stalled writer of an
        earlier attempt replaying identical deterministic content — is
        idempotent success, not an error: the table already holds exactly
        the intended rows (this writer's data dir, if any, is an orphan
        for vacuum()). Any other advancing writer re-raises."""
        try:
            self._commit(snap)
            return True
        except ConcurrentCommitError:
            if _ranges_contains(
                self.current_snapshot()["batch_ranges"], int(batch_id)
            ):
                return False
            raise

    def merge(
        self,
        batch: DataFrame,
        batch_id: int,
        assume_new: bool = False,
    ) -> int:
        """Insert rows of `batch` whose key is absent. Returns rows written.
        Idempotent: replaying a committed batch_id is a no-op.

        Two modes:

        - full (default): the batch is deduplicated by key (a wide
          shuffle), its partition bounds prune the table's files, and an
          anti-join against those files keeps only absent keys. This is
          the insert-if-absent MERGE; a partially committed retry still
          inserts no duplicate key.
        - ``assume_new``: the caller asserts that the batch is key-unique
          and that no key is already in the table. The merge is then ONE
          narrow write job: no dropDuplicates, no bounds job, no
          anti-join scan of existing files. Replay safety rests on the
          batch-id fence alone, so a retry of an uncommitted batch must
          recompute the same rows. At 100-TB scale this is the difference
          between O(batch) and O(table) work per micro-batch: a sink that
          re-scans its whole history every commit cannot stream. A cheap
          runtime guard remains: the write job observes
          approx_count_distinct of the full key tuple (a struct of every
          key column) beside the row count, and a gross violation (>~10%
          duplicate keys, beyond the HLL sketch's error band) raises
          BEFORE the manifest commit — the batch directory is left
          orphaned for vacuum(), the table state is untouched.
        """
        snap = self.current_snapshot()
        if _ranges_contains(snap["batch_ranges"], int(batch_id)):
            return 0

        # in-batch key dedupe (deterministic smallest-first keeps goldens
        # stable). Persisted: the incoming frame is typically a lazy Arrow
        # fan-out chain, and without the persist both the bounds agg below
        # and the anti-join+write would re-run that whole chain. Under
        # assume_new neither extra consumer exists, so the frame flows
        # straight into the single write job un-persisted.
        deduped = batch if assume_new else batch.dropDuplicates(self.key_cols).persist()
        try:
            w = deduped
            if not assume_new:
                # partition-stat bounds of the incoming batch (for file
                # pruning); pointless when the table has no files yet
                min_part = max_part = None
                if self.partition_col is not None and snap["files"]:
                    b = deduped.agg(
                        F.min(self.partition_col).alias("lo"),
                        F.max(self.partition_col).alias("hi"),
                    ).collect()[0]
                    min_part, max_part = b["lo"], b["hi"]
                existing_files = self.files(min_part, max_part)
                if existing_files:
                    existing_keys = self.spark.read.parquet(*existing_files).select(
                        self.key_cols
                    )
                    w = w.join(existing_keys, self.key_cols, "left_anti")

            # row count + partition stats of what actually lands are
            # observed DURING the write job (pyspark Observation) — no
            # read-the-file-back verification pass, which matters when
            # merge() runs once per sink per micro-batch
            obs_aggs = [F.count(F.lit(1)).alias("n")]
            if self.partition_col is not None:
                obs_aggs += [
                    F.min(self.partition_col).alias("lo"),
                    F.max(self.partition_col).alias("hi"),
                ]
            if assume_new:
                # sketch the FULL key tuple: a composite-keyed table
                # (e.g. (window_start, event_type)) is key-unique while
                # any single column repeats, so a first-column-only
                # sketch false-positives on perfectly valid batches
                obs_aggs.append(
                    F.approx_count_distinct(
                        F.struct(*[F.col(c) for c in self.key_cols])
                    ).alias("n_keys")
                )
            obs = Observation()
            w = w.observe(obs, *obs_aggs)

            out_file = os.path.join(
                self.data_dir, f"batch-{batch_id:08d}-{uuid.uuid4().hex}"
            )
            w.write.mode("overwrite").parquet(out_file)
            wrow = obs.get
            # gross-violation guard only: approx_count_distinct is an HLL
            # sketch (default rsd 5%, and small-n estimates can be off by
            # a count or two) — the threshold must sit well below the
            # sketch's error band. Real violations (systematic duplication)
            # halve n_keys; exact guarantees come from the caller contract
            # and the pipeline's equivalence tests, not this tripwire.
            if assume_new and wrow["n"]:
                if wrow["n_keys"] < 0.9 * wrow["n"] - 4:
                    raise ValueError(
                        f"assume_unique violated on {self.path}: wrote "
                        f"{wrow['n']} rows but only ~{wrow['n_keys']} distinct "
                        f"{tuple(self.key_cols)} tuples; batch NOT committed"
                    )
        finally:
            if not assume_new:
                deduped.unpersist()

        n = wrow["n"]
        if n == 0:
            # nothing new — still record the batch id so replays skip work.
            # Deliberately do NOT fold batch.columns into the manifest:
            # schema evolution must track columns present in data files
            # actually written, else an all-suppressed batch carrying a
            # new column would pin a column no file has and every
            # subsequent read()'s select(*columns) would fail unresolved.
            entry = {"batch_id": batch_id, "files": [], "rows": 0, "ts": time.time()}
            self._commit_batch(self._next_snap(snap, snap["files"], entry), batch_id)
            return 0

        stats = {}
        if self.partition_col is not None:
            stats = {"min_part": wrow["lo"], "max_part": wrow["hi"]}

        fe = {"path": out_file, "rows": n, **stats}
        entry = {
            "batch_id": batch_id,
            "files": [out_file],
            "rows": n,
            "ts": time.time(),
        }
        landed = self._commit_batch(
            self._next_snap(snap, snap["files"] + [fe], entry,
                            batch_columns=batch.columns),
            batch_id,
        )
        # a lost same-batch twin race means THIS writer's commit never
        # landed (its data dir is an orphan for vacuum) — report 0 so the
        # caller's row accounting matches what the table actually gained
        # from this call
        return n if landed else 0

    # -- REPLACE (compaction) --------------------------------------------------
    def replace(self, df: DataFrame, note: str = "compaction") -> int:
        """Atomically replace the table's contents with `df` (the rewrite
        primitive behind maintenance jobs like fingerprint-store
        compaction — Iceberg's rewrite_data_files). Committed batch_ids
        are PRESERVED, so exactly-once replay semantics survive the
        rewrite; old data files are left on disk for time-travel until
        expire_snapshots() + vacuum(). Returns rows written."""
        snap = self.current_snapshot()
        out_file = os.path.join(self.data_dir, f"rewrite-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(out_file)
        written = self.spark.read.parquet(out_file)
        n = written.count()
        stats = {}
        if self.partition_col is not None and n:
            r = written.agg(
                F.min(self.partition_col).alias("lo"), F.max(self.partition_col).alias("hi")
            ).collect()[0]
            stats = {"min_part": r["lo"], "max_part": r["hi"]}
        entry = {
            "batch_id": None,
            "note": note,
            "files": [out_file],
            "rows": n,
            "ts": time.time(),
        }
        # a rewrite homogenizes the data files: schema evolution resets
        # (Iceberg compaction materializes the current schema everywhere)
        fresh = {**snap, "columns": None, "evolved": False}
        self._commit(
            self._next_snap(
                fresh, [{"path": out_file, "rows": n, **stats}] if n else [], entry,
                # columns pin only when a data file exists to back them
                batch_columns=df.columns if n else None,
            )
        )
        return n

    def compact_small_files(
        self,
        *,
        small_bytes: int = 32 * 2**20,
        min_files: int = 4,
        target_bytes: int = 128 * 2**20,
    ) -> int:
        """Bin-pack data files smaller than ``small_bytes`` into
        ~``target_bytes`` files (Iceberg's rewrite_data_files BINPACK
        strategy). Unlike ``replace()`` this rewrites ONLY the small
        files — cost is O(small bytes), not O(table) — so a streaming
        sink can run it amortized: a micro-batch sink accretes one
        directory per trigger, and without compaction a reader pays one
        scan task per historical batch (fatal over the millions of
        triggers a 10^12-turn stream commits; the content index is read
        every batch).

        Preserved exactly: logical row content, committed batch ranges
        (replay fencing), the manifest column list, and the
        schema-evolution flag. The commit is marked ``compaction`` so
        ``incremental_read`` SKIPS it (zero new rows — Iceberg's
        incremental append scan likewise ignores replace snapshots)
        rather than raising as it does for a full ``replace()``. The
        folded source files stay on disk for time travel / retained
        lineage until expire_snapshots() + vacuum().

        Returns the number of source files folded (0 = nothing to do).
        Must not run concurrently with a writer on the SAME table (the
        manifest pointer is last-writer-wins); the streaming loop calls
        it between micro-batches on the foreachBatch thread.
        """

        def _tree_bytes(p: str) -> int:
            total = 0
            for dirpath, _dirs, names in os.walk(p):
                for nm in names:
                    try:
                        total += os.path.getsize(os.path.join(dirpath, nm))
                    except OSError:
                        pass
            return total

        snap = self.current_snapshot()
        sized = [(fe, _tree_bytes(fe["path"])) for fe in snap["files"]]
        smalls = [(fe, b) for fe, b in sized if b < small_bytes]
        if len(smalls) < max(2, min_files):
            return 0
        small_paths = {fe["path"] for fe, _ in smalls}
        keep = [fe for fe in snap["files"] if fe["path"] not in small_paths]

        r = self.spark.read
        if snap["evolved"]:
            r = r.option("mergeSchema", "true")
        df = r.parquet(*sorted(small_paths))
        if snap["columns"]:
            # only columns the small set actually carries — a column whose
            # sole backing file is in `keep` must not be select()ed here
            present = [c for c in snap["columns"] if c in df.columns]
            df = df.select(*present)
        total_bytes = sum(b for _, b in smalls)
        nparts = max(1, -(-total_bytes // target_bytes))  # ceil
        out_file = os.path.join(self.data_dir, f"compact-{uuid.uuid4().hex}")
        # coalesce, not repartition: binpacking needs no shuffle
        df.coalesce(nparts).write.mode("overwrite").parquet(out_file)

        if all(fe.get("rows") is not None for fe, _ in smalls):
            rows = sum(int(fe["rows"]) for fe, _ in smalls)
        else:
            # legacy/stat-less manifest entries: counting the packed file
            # is the only honest number (a silent `or 0` fold undercounts
            # snapshots() row reporting after compacting old history)
            rows = self.spark.read.parquet(out_file).count()
        stats = {}
        if self.partition_col is not None:
            los = [fe.get("min_part") for fe, _ in smalls]
            his = [fe.get("max_part") for fe, _ in smalls]
            if all(v is not None for v in los + his):
                # widened bounds: pruning degrades gracefully, never wrongly
                stats = {"min_part": min(los), "max_part": max(his)}
        fe_new = {"path": out_file, "rows": rows, **stats}
        entry = {
            "batch_id": None,
            "note": "compact_small_files",
            "compaction": True,  # incremental_read skips (0 new rows)
            "files": [out_file],
            "rows": rows,
            "ts": time.time(),
        }
        self._commit(self._next_snap(snap, keep + [fe_new], entry))
        return len(smalls)

    # -- retention ---------------------------------------------------------
    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Drop manifest files for all but the newest ``keep_last``
        retained snapshots (Iceberg expire_snapshots). Time travel and
        incremental reads into the expired range stop working; the
        CURRENT snapshot, replay fencing, and normal reads are
        unaffected. Returns the expired version numbers."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        versions = self.retained_versions()
        expired = versions[:-keep_last]
        for v in expired:
            os.remove(self._manifest_path(v))
        return expired

    def vacuum(self, min_age_sec: float = 4 * 3600.0) -> list[str]:
        """Delete data files referenced by NO retained snapshot (neither
        as live table files nor as a retained snapshot's lineage files,
        which incremental_read still needs). Run after
        expire_snapshots(); returns deleted paths.

        ``min_age_sec`` is the orphan-age grace (Iceberg's
        remove_orphan_files ``older_than``, default 3 days; we default 4h):
        merge() writes its parquet directory BEFORE committing the
        manifest, so a concurrent or about-to-be-replayed writer may own
        an unreferenced-but-fresh directory. Only directories whose mtime
        is older than the cutoff are eligible; pass 0 only when no writer
        can be active (tests do)."""
        referenced: set[str] = set()
        for v in self.retained_versions():
            s = self._load_version(v)
            referenced.update(fe["path"] for fe in s["files"])
            e = s.get("lineage_entry") or {}
            referenced.update(e.get("files", []))
        cutoff = time.time() - min_age_sec
        deleted = []
        for name in sorted(os.listdir(self.data_dir)):
            p = os.path.join(self.data_dir, name)
            if p in referenced:
                continue
            try:
                if os.path.getmtime(p) > cutoff:
                    continue  # young orphan: possibly a mid-merge writer's
            except OSError:
                continue
            shutil.rmtree(p, ignore_errors=True)
            deleted.append(p)
        return deleted
