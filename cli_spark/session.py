"""SparkSession factory, and the one way a result comes back to the driver.

Centralizes every config the engine depends on so that tests, the
driver entry point, and bench.py all run identical sessions.

A small result comes back to the driver one way: `materialize_local`
collects it as Arrow and rebuilds it as one JVM local relation
(`local_relation`, also the sketch-stream partials' way back).

Scale notes (the design target is a 1000-executor cluster over ~100 TB,
even though tests run on local[N]):

* ``spark.sql.adaptive.enabled`` — AQE re-plans at shuffle boundaries
  (skew-join splitting, partition coalescing, runtime broadcast demotion).
* ``spark.sql.shuffle.partitions`` — sized for the local test harness;
  on a real cluster this is overridden (or left to AQE's coalescing
  with a high initial value).
* ``spark.sql.legacy.parquet.nanosAsLong`` — the driver's ``events``
  table stores TIMESTAMP(NANOS) which Spark 4 rejects by default
  (PARQUET_TYPE_ILLEGAL, reproduced in SURVEY.md §1.3); with this flag
  the column arrives as int64 nanos and tables.py rebuilds it.
* ``spark.sql.session.timeZone=UTC`` — the DuckDB correctness oracle
  runs in UTC; timestamp semantics must match exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "8")


def configure(builder: SparkSession.Builder, shuffle_partitions: int = 32) -> SparkSession.Builder:
    """Apply the engine's required configs to any builder.

    Used both by :func:`get_spark` and by the driver, which constructs
    its own session: ``__spark_entry__.entry`` re-applies the runtime
    (non-static) configs defensively.
    """
    return (
        builder.config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.ui.explainMode", "formatted")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )


def get_spark(app_name: str = "cli_spark", master: str | None = None,
              shuffle_partitions: int = 32) -> SparkSession:
    """Build (or fetch) the engine session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so the same code
    path serves pytest (small N) and bench (32 vCPUs). On a cluster the
    master comes from spark-submit and this argument is ignored.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{DEFAULT_CPUS}]"
    builder = builder.master(master)
    builder = configure(builder, shuffle_partitions=shuffle_partitions)
    return builder.getOrCreate()


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Re-apply runtime-settable confs on an externally built session.

    The driver owns its SparkSession; static confs (memory, master)
    cannot change post-start, but the semantics-critical ones below are
    runtime-settable and MUST hold for correctness:
    timezone (oracle parity) and nanos handling (events table reads).
    """
    for k, v in [
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        # Python DataSource pushFilters (hgt bbox partition pruning)
        ("spark.sql.python.filterPushdown.enabled", "true"),
        # the driver's own session defaults to 200 shuffle partitions —
        # far too many for sf0.01 work (observed: 200-task stages)
        ("spark.sql.shuffle.partitions", "32"),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — session factory already set it
    return spark


# Shuffle-partition count for stateful streaming micro-batches.
# A stateful operator creates one state-store instance per shuffle
# partition, and EVERY micro-batch pays per-partition fixed cost: a
# task, a state-store load + commit (delta file + CRC + rename under
# the HDFS-backed provider), and scheduler overhead. The right number
# tracks per-batch volume, not the box's core count: the replay
# fixtures deliver ~5k-row micro-batches, where 32 partitions is ~40×
# more per-batch fixed cost than data (round-15 measurement: q453
# spent most of its ~1 s/batch on fixed per-partition work). Results
# are partitioning-invariant — state is keyed, the watermark is global.
STREAM_PARTITIONS = 8


class scoped_shuffle_partitions:
    """Set spark.sql.shuffle.partitions for a streaming run and restore
    it on exit (the stateful operator pins its state partition count at
    checkpoint creation, so the conf only needs to hold across
    .start()..stop())."""

    def __init__(self, spark: SparkSession, n: int) -> None:
        self.spark, self.n = spark, n

    def __enter__(self) -> None:
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc) -> None:
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)


# FileSystem-API checkpoint file manager for the bounded replay
# streams (round-16 optimization): measured q476 10.7 -> 8.2 s warm,
# walCommit+commitOffsets 1.9 -> 0.41 s/run in StreamingQueryProgress.
# Mechanism: in Spark 4.1.2 BOTH managers are rename-based —
# FileSystemBasedCheckpointFileManager.createAtomic also returns a
# RenameBasedFSDataOutputStream. An inotify trace of one 10-batch
# replay run (sf0.001, 4 vCPUs) saw the same file operations under
# either manager: 206 creates and 206 renames, i.e. every log entry is
# a temp file plus its .crc companion, both renamed into place. The
# saving is therefore per-call overhead of the default FileContext
# API path (metadata lookups an inotify trace cannot see), not fewer
# writes or renames. Crash-atomicity is the same under both; a store
# that needs its own manager (object stores without atomic rename)
# sets it through Spark's key, which this scope leaves alone.
_CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_DIRECT_CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


class scoped_replay_ckpt_manager:
    """Apply the FileSystem-API checkpoint file manager for the
    duration of one replay-stream run (the manager class is read at
    query start) when the session sets no manager of its own, and
    unset it on exit. A session's own manager stays in force."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark

    def __enter__(self) -> None:
        self.own = self.spark.conf.get(_CKPT_MANAGER_KEY, None)
        if self.own is None:
            self.spark.conf.set(_CKPT_MANAGER_KEY, _DIRECT_CKPT_MANAGER)

    def __exit__(self, *exc) -> None:
        if self.own is None:
            self.spark.conf.unset(_CKPT_MANAGER_KEY)


def local_relation(spark: SparkSession, tables: list, schema: StructType) -> DataFrame:
    """The Arrow ``tables`` (e.g. ``DataFrame.toArrow()`` results) as ONE
    DataFrame of ``schema`` held by the JVM (a local relation below
    ``spark.sql.execution.arrow.localRelationThreshold``), so a plan
    over it runs no Python worker (``createDataFrame`` of a list of
    Rows scans a parallelized Python RDD: one Python task per
    partition on every scan). The tables are combined into one chunk
    first: ``createDataFrame`` sends a table chunk by chunk, and the
    rows after a zero-row chunk were lost (an empty partial's table
    dropped every later batch's rows)."""
    import pyarrow as pa

    return spark.createDataFrame(pa.concat_tables(tables).combine_chunks(), schema)


def materialize_local(df: DataFrame) -> DataFrame:
    """Collect a SMALL (few-row) result as Arrow and rebuild it as a
    local relation of the identical schema, whose collect runs no
    Spark job. The collect drives the full computation with AQE intact
    (a `localCheckpoint(eager=True)` materialization would run the
    plan through the non-adaptive RDD path — measured 3× on q290's
    fused sweep), after which the caller can unpersist its caches
    before returning (the ADVICE r10 persist-leak rule)."""
    return local_relation(df.sparkSession, [df.toArrow()], df.schema)
