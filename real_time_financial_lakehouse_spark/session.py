"""SparkSession construction, tuned for both local testing and cluster scale.

The reference builds plain ``local[*]`` sessions with Delta+S3A extensions
(consumer_lake.py:9-25, process_silver.py:10-23) and leaves every knob at
its default (200 shuffle partitions, no AQE tuning).  We instead centralize
a scale-aware configuration:

* AQE on (runtime coalescing + skew-join splitting) -- at 100 TB the static
  shuffle-partition guess is always wrong somewhere; AQE re-plans per stage.
* ``spark.sql.shuffle.partitions`` sized to the core count locally; on a
  real cluster this should be ~2-3x total executor cores (AQE coalesces
  down, it never splits a too-small number).
* Arrow enabled so any Pandas-UDF path is batch-vectorized, never per-row.
* Session timezone pinned to UTC so event-time semantics are deterministic
  and match the naive UTC timestamps in parquet fixtures.
* ``spark.sql.legacy.parquet.nanosAsLong`` -- the ``events`` fixture stores
  TIMESTAMP(NANOS) which Spark's parquet reader otherwise rejects
  (PARQUET_TYPE_ILLEGAL); we read nanos as long and convert in the catalog.
* Streaming checkpoints (offsets, commits, source logs, state files) go
  through Spark's ``FileSystemBasedCheckpointFileManager``.  The default
  ``FileContext`` manager stats every atomic rename with
  ``getFileLinkStatus``, which Hadoop's local filesystem answers by
  forking ``readlink`` when libhadoop is absent -- hundreds of forks per
  drain.  The ``FileSystem`` manager's no-overwrite rename is the same
  check-then-rename on a local disk, and ``FileSystem.rename`` fails
  atomically on an existing destination on HDFS.  Set when the session
  starts, it reaches every ``newSession()`` child (the streaming drains
  run there).
* ``spark.sql.codegen.cache.maxEntries`` sized to the engine's working set
  of generated classes (``CODEGEN_CACHE_ENTRIES``).  The engine serves the
  same plans over and over, and every cache miss is a Janino compile on
  the driver plus a fresh class whose methods start back in the
  interpreter on every executor thread.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)

# Spark's default of 100 entries is smaller than one pass of perfbench's
# four-query LLM mix (99 classes), so every steady-state pass recompiled
# about 45 of them.  scripts/codegen_census.py measures the working set:
# the 337 non-streaming, non-table_io queries at sf0.001 compile 4181
# distinct classes on a first pass.  The cache is LRU, so a cap below
# that thrashes a repeated sweep: its second pass recompiles 7536 classes
# at 100 and 3150 at 4096, but 182 at 4608 and 218 at 16384 (those are
# queries whose plans differ per build).  4608 leaves ~10% headroom.
# Retained classes cost about 8.6 KB of metaspace each (222.8 -> 258.0
# MB used after a GC, cap 100 -> 4608), so a full cache is at most
# ~40 MB.  A static conf: it is read when the session starts.
CODEGEN_CACHE_ENTRIES = 4608


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 8

def session_parallelism(spark: SparkSession) -> int:
    """The running session's ``spark.default.parallelism``: the partition
    count the operators pin their CPU-bound repartitions to.  The only
    ``defaultParallelism`` read, which Spark Connect does not support."""
    return spark.sparkContext.defaultParallelism

def get_spark(
    app_name: str = "rtfl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- scale posture -------------------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- python boundary ----------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- determinism ----------------------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # fixture events.parquet uses TIMESTAMP(NANOS); read as long
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def delta_configs(version: str = "4.0.0") -> dict[str, str]:
    """The exact session config Delta Lake needs on Spark 4 (Scala 2.13)
    -- the reference's consumer_lake.py:9-25 posture, reproduced for the
    day ``delta-spark`` is installable here.  Usage:

        get_spark(extra_conf=delta_configs())

    then every ``fmt="delta"`` writer/reader in this engine (the
    ``fmt`` parameter on streaming.bronze.write_bronze and friends)
    becomes a real Delta table; nothing else changes, which
    tests/test_streaming.py::test_delta_format_string_reaches_the_writer
    proves by asserting the format string arrives at Spark's DataSource
    resolution untouched.  ``delta-spark`` is NOT bundled in this
    sandbox (SCALE.md records the probe), so the versioned-table layer
    (operators/versioned.py) supplies the log semantics in the
    meantime."""
    return {
        "spark.jars.packages": f"io.delta:delta-spark_2.13:{version}",
        "spark.sql.extensions": "io.delta.sql.DeltaSparkSessionExtension",
        "spark.sql.catalog.spark_catalog": (
            "org.apache.spark.sql.delta.catalog.DeltaCatalog"
        ),
    }
