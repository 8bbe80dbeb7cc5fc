"""SparkSession factory tuned for this engine.

Single place to pin the configs every pipeline and test needs:
UTC session timezone (oracle comparison against DuckDB), AQE on
(skew-join + partition coalescing at scale), Arrow enabled (all our
UDFs are pandas/Arrow-vectorized), shuffle partitions sized to cores
for local mode (on a real cluster you'd leave 200+ and let AQE
coalesce).

Two shuffle widths:

- batch width, ``max(8, 2 x cores)`` (``get_spark``): a batch stage has
  rows enough to fill two task waves, and the spare wave absorbs skew.
  One partition per core lost on the ``backfill`` benchmark at
  local[4] (median 86.2 -> 79.1 turns/s, 3 of 4 pairs worse).
- stream width, one partition per core (``start_stream``): a
  micro-batch stage is a few rows per task, so its cost is the fixed
  launch cost of each task, and a second wave doubles it for nothing.
  Spark fixes a query's state width in its checkpoint at first start;
  a restarted query keeps the width it started with.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming import StreamingQuery
from pyspark.storagelevel import StorageLevel


def get_spark(
    app_name: str = "opinion-analysis-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # derive a sane local shuffle width from the master string
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 2 * cpus if n == "*" else max(8, 2 * int(n))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's default 64m advisory size coalesces this engine's CPU-bound
        # shuffles (sha256 derivations, Arrow NLP stages read their ckpt
        # partitioning) down to a handful of partitions long before the
        # cores are fed — measured 11 partitions on a 32-core box, capping
        # 2->8-core scaling at 0.58, and 46 partitions starving local[32]
        # (15.4s vs 12.1s steady indexer on the 500k-turn bench). 2m keeps
        # partitions at the shuffle-width cap for local data sizes while
        # still merging tiny fragments; cluster deployments with IO-bound
        # TB-scale shuffles should override via
        # SPARK_GRAFT_ADVISORY_PARTITION (bytes suffix ok).
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "2m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    # local mode funnels every shuffle through one disk — a sandbox
    # artifact (a real cluster spreads shuffle over per-node disks).
    # Spill to tmpfs when it exists so measurements reflect compute.
    if os.path.isdir("/dev/shm"):
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        b = b.config("spark.local.dir", shm)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# storage level per materialize() role; None keeps localCheckpoint's own
# default, the JVM's deserialized MEMORY_AND_DISK (pyspark's
# StorageLevel.MEMORY_AND_DISK is the serialized form)
_ROLE_LEVELS = {"shared": None, "scratch": StorageLevel.DISK_ONLY}


def materialize(df: DataFrame, role: str) -> DataFrame:
    """Compute ``df`` now and return a frame that reads the stored blocks.

    Every eager materialization in the engine goes through here. Both
    roles are an eager localCheckpoint: it holds the data like persist()
    and also truncates the logical plan, so a downstream plan starts at a
    leaf instead of re-planning (and re-optimizing at every AQE stage
    boundary) a deep DAG. On the indexer DAG that re-planning was 37% of
    job wall as driver-idle gaps. The two roles differ only in storage:

    - ``"shared"``: localCheckpoint's default level, MEMORY_AND_DISK
      (deserialized). For barriers in a pipeline that later stages read
      many times: the indexer stages, stats facts and tables, component
      rounds, the similarity bases. MEMORY_AND_DISK_SER measured no
      better on a 2M-turn input.
    - ``"scratch"``: DISK_ONLY. For staged one-shot intermediates
      (shingle tables, LSH bands, tf tables, BPE state) that a gate reads
      1-3 times and whose blocks then linger for the session through
      their temp views. A session that runs every gate back to back keeps
      each gate's deserialized blocks on the JVM heap; that slowed
      late-session queries 2-3x from GC and storage pressure (stattopic
      44 s mid-session vs 15 s fresh at sf1.0). DISK_ONLY blocks are
      serialized bytes in spark.local.dir with no heap residency, and the
      extra deserialization was noise for relations read 1-3 times.

    Per-micro-batch frames are NOT materialized here: the streaming
    indexer, the dataprep stream and MergeTable.merge use lazy
    ``persist()``/``unpersist()`` pairs released by their own batch. A
    checkpoint turns the wide frame into a row-based LogicalRDD and its
    consumers lose the columnar cache scan (+55% batch wall measured).
    """
    return df.localCheckpoint(eager=True, storageLevel=_ROLE_LEVELS[role])


def start_stream(
    stream: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start ``fn`` as ``stream``'s foreachBatch sink (append mode).

    Every streaming query in the engine starts here, at the stream width:
    ``spark.sql.shuffle.partitions`` is ``defaultParallelism`` for the
    ``start()`` call only, so each micro-batch stage runs one task wave.
    Spark clones the session's config at ``start()``, so the caller's
    session keeps its own width, and the query's micro-batches (the frame
    ``fn`` receives and its ``sparkSession``) see the stream width. The
    first micro-batch records the width in ``offsets/0``; a restart
    from an existing checkpoint takes the width from there. A batch query
    that another thread plans on the same session during ``start()``
    would see the stream width too; no caller does."""
    spark = stream.sparkSession
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    try:
        return (
            stream.writeStream.foreachBatch(fn)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .start()
        )
    finally:
        spark.conf.set(key, prev)


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType | str
) -> DataFrame:
    """A small frame of ``rows`` built on the driver, running no Spark job.

    ``spark.createDataFrame(<list>, schema)`` goes through a Python RDD:
    even an empty list runs Spark jobs (measured 2.67 s cold, 0.76 s
    warm at local[4]). An Arrow table becomes a local relation and
    schedules no task."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_pylist(
        [dict(zip(arrow.names, r)) for r in rows], schema=arrow
    )
    return spark.createDataFrame(table, schema)
