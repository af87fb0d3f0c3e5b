"""Structured Streaming medallion: bronze ingest -> silver windowed aggs.

One aggregation code path (operators/silver.py) runs in both batch and
streaming mode; this package adds the streaming wrappers: sources,
watermarks, foreachBatch sinks, checkpoints, triggers.

Every streaming twin splits into a declarative query and ONE execution
policy.  The query is a ``build(session)`` function; ``drain`` is the
single place where the trigger (availableNow), the checkpoint (a fresh
scratch directory per drain), the state partitions (one rule,
``state_partitions``, which ``silver.run_silver_stream`` shares) and the
empty-output rule (read back with the stream's own schema, so a drain
that emits nothing is an empty frame, not a read error) are decided.
``drain_merge`` and ``drain_latest`` are the two sink shapes the twins
share on top of it.  Progress capture per twin would attach here too.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..scratch import scratch_dir
from ..session import session_parallelism

def state_partitions(stream: DataFrame, available_now: bool) -> int:
    """The state partition count a stream starts with: the one rule.

    Every stateful operator runs one state store per shuffle partition
    (stream-stream joins: four), and Spark fixes that count at the
    checkpoint's first batch.  For an availableNow start whose every
    source leaf is a path-backed file source the whole input is known at
    start, so the count is ``ceil(source bytes / advisory partition
    size)``, clamped to ``[1, session_parallelism]`` -- the target AQE
    (on in ``session.get_spark``) coalesces every batch shuffle to, and
    cannot apply to a stateful stream because the count is fixed per
    checkpoint.  Any other start (a live trigger; a Kafka, rate or Python
    source with no path) keeps the session's
    ``spark.sql.shuffle.partitions``.  A restart on an existing checkpoint
    keeps the count recorded in its offsets metadata whatever this
    returns: Spark restores it."""
    ss = stream.sparkSession
    current = int(ss.conf.get("spark.sql.shuffle.partitions"))
    source_bytes = _file_source_bytes(stream) if available_now else None
    if source_bytes is None:
        return current
    target = ss.sparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        ss.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    return max(1, min(session_parallelism(ss), -(-source_bytes // target)))

def _file_source_bytes(stream: DataFrame) -> int | None:
    """Bytes under the paths of ``stream``'s source leaves (the analyzed
    plan's ``StreamingRelation`` nodes), each sized with Hadoop's
    ``getContentSummary``; None when a source leaf is not a path-backed
    file source, or there is none."""
    ss = stream.sparkSession
    jvm = ss.sparkContext._jvm
    file_format = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.execution.datasources.FileFormat"
    )
    hadoop_conf = ss.sparkContext._jsc.hadoopConfiguration()
    leaves = stream._jdf.queryExecution().analyzed().collectLeaves().iterator()
    total, sources = 0, 0
    while leaves.hasNext():
        leaf = leaves.next()
        if not leaf.isStreaming():
            continue
        if leaf.nodeName() != "StreamingRelation":
            return None
        source = leaf.dataSource()
        path = source.options().get("path")
        if path.isEmpty() or not file_format.isAssignableFrom(source.providingClass()):
            return None
        pattern = jvm.org.apache.hadoop.fs.Path(path.get())
        fs = pattern.getFileSystem(hadoop_conf)
        for status in fs.globStatus(pattern) or []:
            total += fs.getContentSummary(status.getPath()).getLength()
        sources += 1
    return total if sources else None

def pinned_state_partitions(
    spark: SparkSession,
    build: Callable[[SparkSession], DataFrame],
    available_now: bool,
) -> DataFrame:
    """``build(child)``: a stream built on a CHILD session of ``spark``
    (shared SparkContext, own SQLConf) whose state partition count is set
    by ``state_partitions`` -- the only place under ``streaming/`` that
    sets it.  The partitioning is carried in the checkpoint from then on:
    a restart keeps the recorded count, and repartitioning state needs
    an offline rewrite (e.g. the state-store repartition tool).

    A child session instead of a set/restore on the caller's conf:
    mutating the shared session is not concurrency-safe (a batch query
    planned during the window would silently pick up the streaming
    partition count).  The child copies every runtime SQL conf the
    caller has set, so a stream runs under the caller's semantics; conf
    is resolved from the DataFrame's own session at query start, so the
    stream must be started from the returned frame."""
    child = spark.newSession()
    for key, value in spark.conf.getAll.items():
        if spark.conf.isModifiable(key):
            child.conf.set(key, value)
    # correctness confs the stream sources depend on, restated because a
    # vanilla (driver-built) caller may have set neither
    child.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    child.conf.set("spark.sql.session.timeZone", "UTC")
    stream = build(child)
    child.conf.set("spark.sql.shuffle.partitions", str(state_partitions(stream, available_now)))
    return stream

def drain(
    spark: SparkSession,
    build: Callable[[SparkSession], DataFrame],
    sink: Callable[[DataFrame, int], None] | None = None,
    output_mode: str = "append",
) -> DataFrame:
    """Run ``build(ss)`` on a child session and drain the stream it
    returns under availableNow into a fresh scratch checkpoint, with its
    state partitions sized to its input by ``state_partitions`` (one for
    any file source under the advisory partition size).

    With no ``sink`` the stream lands in a scratch parquet table (file
    sink, exactly-once) and the result is that table read back with the
    stream's own schema.  With a ``sink`` it runs as foreachBatch and owns
    the output; the result is then an empty frame of the stream's schema,
    the typed starting point of the caller's own empty-output rule."""
    out_dir = scratch_dir("rtfl_drain_out_")
    stream = pinned_state_partitions(spark, build, available_now=True)
    writer = (
        stream.writeStream.outputMode(output_mode)
        .option("checkpointLocation", scratch_dir("rtfl_drain_ckpt_"))
        .trigger(availableNow=True)
    )
    if sink is None:
        writer = writer.format("parquet").option("path", out_dir)
    else:
        writer = writer.foreachBatch(sink)
    writer.start().awaitTermination()
    return spark.read.schema(stream.schema).parquet(out_dir)

def shard_stream(ss: SparkSession, schema: StructType, src_dir: str) -> DataFrame:
    """File stream over the parquet shards under ``src_dir``, one file per
    micro-batch, so an n-shard fixture drains as n batches."""
    return (
        ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
    )

def drain_merge(
    spark: SparkSession,
    src_dir: str,
    schema: StructType,
    partial: Callable[[DataFrame], DataFrame],
    fold: Callable[[DataFrame], DataFrame],
    app_id: str,
) -> DataFrame:
    """Drain the parquet shards under ``src_dir`` one file per micro-batch
    and MERGE each batch into a manifest-logged state table: the batch's
    ``partial`` aggregate, folded with the previous version as
    ``fold(prev UNION part)``, committed under the (app_id, batch_id)
    idempotent-commit contract (operators/versioned.py), so a retried
    batch is a no-op.  Returns the final state; when nothing was committed
    (empty source) that is ``partial`` over an empty frame of ``schema``,
    which has the committed state's columns by construction."""
    from ..operators import versioned

    table_dir = os.path.join(scratch_dir(f"{app_id}_"), "state")

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        merged = partial(batch_df)
        if versioned.table_versions(table_dir):
            prev = versioned.read_version(batch_df.sparkSession, table_dir)
            merged = fold(prev.unionByName(merged))
        versioned.idempotent_commit(merged, table_dir, app_id=app_id, batch_id=batch_id)

    empty = drain(spark, lambda ss: shard_stream(ss, schema, src_dir), commit)
    if not versioned.table_versions(table_dir):
        return partial(empty)
    return versioned.read_version(spark, table_dir)

def drain_latest(
    spark: SparkSession, build: Callable[[SparkSession], DataFrame]
) -> DataFrame:
    """Drain an update-mode stateful stream and return the LATEST emission
    per ``symbol``.  File sinks are append-only, so the update rows land via
    foreachBatch append (the reference's silver sink shape,
    process_silver.py:82-93), each stamped with its micro-batch id.

    The rule is ``row_number`` over ``batch_id desc``: a stateful fold
    emits at most one row per symbol per micro-batch, so the newest batch's
    row is the current state.  Ordering by a state counter instead is not
    enough: a batch that only refreshes a Kalman still-open day, or only
    a VPIN sign carry / open-bucket split, re-emits a row that ties on
    ``n_days`` / ``total_qty_raw`` with a different provisional value."""
    out_dir = scratch_dir("rtfl_latest_")

    def stamp(df: DataFrame, batch_id: int) -> DataFrame:
        return df.withColumn("batch_id", F.lit(batch_id).cast("long"))

    def append(batch_df: DataFrame, batch_id: int) -> None:
        stamp(batch_df, batch_id).write.mode("append").parquet(out_dir)

    empty = drain(spark, build, append, output_mode="update")
    raw = spark.read.schema(stamp(empty, 0).schema).parquet(out_dir)
    w = Window.partitionBy("symbol").orderBy(F.col("batch_id").desc())
    return (
        raw.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "batch_id")
    )
