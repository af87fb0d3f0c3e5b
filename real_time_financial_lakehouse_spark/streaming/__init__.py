"""Structured Streaming medallion: bronze ingest -> silver windowed aggs.

One aggregation code path (operators/silver.py) runs in both batch and
streaming mode; this package adds the streaming wrappers: sources,
watermarks, foreachBatch sinks, checkpoints, triggers.

Every streaming twin splits into a declarative query and ONE execution
policy.  The query is a ``build(session)`` function; ``drain`` is the
single place where the trigger (availableNow), the checkpoint (a fresh
scratch directory per drain), the pinned state partitions and the
empty-output rule (read back with the stream's own schema, so a drain
that emits nothing is an empty frame, not a read error) are decided.
``drain_merge`` and ``drain_latest`` are the two sink shapes the twins
share on top of it.  Progress capture per twin would attach here too.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..scratch import scratch_dir

@contextmanager
def pinned_state_partitions(spark: SparkSession, n: int = 8):
    """Yield a CHILD session (shared SparkContext, independent SQLConf)
    with ``spark.sql.shuffle.partitions`` pinned: every stateful operator
    materializes one state store PER shuffle partition (stream-stream
    joins: four), so at local test scale 32 partitions means
    checkpoint/file churn dominates the micro-batch.  The partitioning is
    fixed at stream start and carried in the checkpoint -- a real
    deployment sizes it to the cluster once per checkpoint lifetime
    (repartitioning state needs an offline rewrite, e.g. the state-store
    repartition tool).

    A child session instead of a set/restore on the caller's conf:
    mutating the shared session is not concurrency-safe (a batch query
    planned during the window would silently pick up the streaming
    partition count).  The streaming DataFrame must be BUILT from the
    yielded session for the pin to apply -- conf is resolved from the
    DataFrame's own session at query start."""
    child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", str(n))
    # correctness confs the stream source depends on, restated because a
    # child of a vanilla (driver-built) session inherits neither
    child.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    child.conf.set("spark.sql.session.timeZone", "UTC")
    yield child

def drain(
    spark: SparkSession,
    build: Callable[[SparkSession], DataFrame],
    sink: Callable[[DataFrame, int], None] | None = None,
    output_mode: str = "append",
) -> DataFrame:
    """Run ``build(ss)`` on a pinned child session and drain the stream it
    returns under availableNow into a fresh scratch checkpoint.

    With no ``sink`` the stream lands in a scratch parquet table (file
    sink, exactly-once) and the result is that table read back with the
    stream's own schema.  With a ``sink`` it runs as foreachBatch and owns
    the output; the result is then an empty frame of the stream's schema,
    the typed starting point of the caller's own empty-output rule."""
    out_dir = scratch_dir("rtfl_drain_out_")
    with pinned_state_partitions(spark) as ss:
        stream = build(ss)
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
