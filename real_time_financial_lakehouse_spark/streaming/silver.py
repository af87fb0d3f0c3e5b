"""Silver stream: watermarked sliding-window aggregation + per-batch
inference, the reference's core stateful query (process_silver.py:43-93).

Plan shape (identical to the reference):
    readStream(bronze) -> cast projection -> withWatermark(1 minute)
    -> groupBy(window(ts, 1 min, 30 s), symbol)
       .agg(stddev_pop -> volatility, avg -> average_price)
    -> foreachBatch: na.fill(0, volatility) -> ML transform (or lit(0.0)
       fallback) -> batch append to silver table
    -> outputMode("update"), 10 s trigger, checkpointed

The aggregation expression is the SAME builder the batch path uses
(operators/silver.sliding_window_agg) -- one code path, two execution
modes, so streaming results and batch backfills agree by construction.

Update-mode semantics (SURVEY T3): every refinement of a window re-emits
its row, and the foreachBatch APPEND means the silver table accumulates
multiple rows per (window, symbol) -- a log of aggregate versions stamped
with processed_time.  The reference's gold AVG-of-averages intentionally
averages over those refinements; deterministic tests use
trigger(availableNow) so each window refines exactly once.

Scale notes: watermark bounds state (windows older than
max(event_time) - 1 min are evicted); state store per (window, symbol)
group; sliding windows multiply state by window/slide = 2.  For 100 TB/day
streams, shuffle partitions should match executor cores and the state
store should be RocksDB
(spark.sql.streaming.stateStore.providerClass) -- config, not code.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.silver import sliding_window_agg
from ..scratch import scratch_dir
from . import drain, drain_merge, shard_stream

def silver_query(
    bronze: DataFrame,
    watermark: str = "1 minute",
    window: str = "1 minute",
    slide: str = "30 seconds",
    time_col: str = "ts",
    symbol_col: str = "event_type",
    price_col: str = "value",
) -> DataFrame:
    """Watermarked sliding-window aggregation (process_silver.py:50-57).
    Adds ``processed_time`` (current_timestamp) the way the reference does;
    deterministic tests drop it before comparing."""
    agg = sliding_window_agg(
        bronze.withWatermark(time_col, watermark),
        window=window,
        slide=slide,
        time_col=time_col,
        symbol_col=symbol_col,
        price_col=price_col,
    )
    return agg.withColumn("processed_time", F.current_timestamp())

def make_batch_processor(
    out_dir: str,
    infer: Callable[[DataFrame], DataFrame] | None = None,
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch callback (process_silver.py:60-85): count guard,
    na.fill on volatility, model inference with lit(0.0) fallback, batch
    append to the silver table."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        filled = batch_df.na.fill(0.0, subset=["volatility"])
        if infer is not None:
            try:
                scored = infer(filled)
            except Exception:
                scored = filled.withColumn("predicted_price", F.lit(0.0))
        else:
            scored = filled.withColumn("predicted_price", F.lit(0.0))
        scored.write.mode("append").parquet(out_dir)

    return process_batch

def run_silver_stream(
    bronze: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    infer: Callable[[DataFrame], DataFrame] | None = None,
    trigger_seconds: int | None = None,
    available_now: bool = False,
):
    """S6/T1-T5: update-mode foreachBatch stream over the silver query."""
    query = silver_query(bronze)
    writer = (
        query.writeStream.foreachBatch(make_batch_processor(out_dir, infer))
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()

def _events_ts_is_nanos(sf_dir: str) -> bool:
    """True when the events fixture stores TIMESTAMP(NANOS) (rounds 1-2
    vintage), which Spark's parquet reader only surfaces as a long."""
    try:
        import os

        import pyarrow.parquet as pq

        t = pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type
        return str(t) == "timestamp[ns]"
    except Exception:
        return False

def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming view of the events fixture (the bronze stand-in): file
    source over the parquet, tolerant of either fixture vintage
    (TIMESTAMP(NANOS) long-surfaced, or plain microsecond timestamps)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from pyspark.sql import types as T

    nanos = _events_ts_is_nanos(sf_dir)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType() if nanos else T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    # the streaming file source requires a directory; select the single
    # fixture file with a glob filter
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw

def silver_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the real streaming pipeline (availableNow) over the events
    fixture and return the silver table it wrote -- a genuinely
    stream-executed query whose result is batch-comparable against the
    same SQL oracle as the batch sliding-window query."""

    out_dir = scratch_dir("rtfl_silver_out_")
    empty = drain(
        spark,
        lambda ss: silver_query(events_stream(ss, sf_dir)),
        make_batch_processor(out_dir),
        output_mode="update",
    )
    return spark.read.schema(empty.schema).parquet(out_dir).select(
        "window_start", "window_end", "symbol", "volatility", "average_price", "n_events"
    )

def streaming_dedup_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication (T-extension): the events stream unioned
    with itself (every row duplicated across two source relations) pushed
    through ``dropDuplicates("event_id")`` -- Spark keeps seen-key state
    and emits each key once, exactly-once across micro-batches.  At scale
    the state is bounded with ``withWatermark`` +
    ``dropDuplicatesWithinWatermark`` (same plan, time-bounded state);
    unbounded here because the fixture drain is finite (availableNow).
    Result must equal the plain events table -- the SQL oracle."""

    return drain(
        spark, lambda ss: _doubled_events(ss, sf_dir).dropDuplicates(["event_id"])
    ).select("event_id", "ts", "user_id", "event_type", "value")

def _doubled_events(ss: SparkSession, sf_dir: str) -> DataFrame:
    """The events stream unioned with itself: every row arrives twice."""
    return events_stream(ss, sf_dir).union(events_stream(ss, sf_dir))

def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows in streaming mode (the reference uses
    only sliding, process_silver.py:52; tumbling completes the
    tumbling / sliding / session family).  Append mode + watermark:
    only windows the final watermark has sealed (end <= max event time -
    delay) are emitted, which is what makes the output deterministic and
    oracle-checkable.

    Scale: tumbling state is the cheapest of the three -- one window per
    event, evicted the moment the watermark passes its end."""

    from ..functions.numeric import qround

    def build(ss: SparkSession) -> DataFrame:
        ev = events_stream(ss, sf_dir).withWatermark("ts", "1 minute")
        return (
            ev.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                qround(F.sum("value"), 2).alias("total_value"),
            )
            .select(
                F.col("window.start").alias("window_start"),
                F.col("event_type").alias("symbol"),
                "n_events",
                "total_value",
            )
        )

    return drain(spark, build).orderBy("window_start", "symbol")

def streaming_dedup_watermarked_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark``: the bounded-state form of the
    streaming dedup -- seen-key state is evicted once the watermark
    passes the key's event time plus the delay, so state size tracks the
    dup-arrival horizon instead of the stream's lifetime key count.
    This is THE dedup the 100 TB pipeline runs (the unbounded
    ``dropDuplicates`` twin, streaming_dedup, exists to prove equality).

    With the fixture drained in one availableNow pass every duplicate
    arrives inside the watermark, so the result still equals the plain
    events table -- same oracle as streaming_dedup."""

    return drain(
        spark,
        lambda ss: _doubled_events(ss, sf_dir)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"]),
    ).select("event_id", "ts", "user_id", "event_type", "value")

def streaming_windowed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained event-time window aggregation in ONE streaming query:
    per-minute bars re-aggregated into 5-minute bars by windowing over the
    first aggregation's window column (supported since Spark 3.4).  This
    is the streaming form of the medallion minute->bar rollup that would
    otherwise take two jobs and an intermediate table.

    Scale: both levels keep watermark-bounded state; the second level's
    input is already minute-granular (5 orders of magnitude smaller than
    the raw stream), so the rollup state is negligible.  Emission is
    append-mode: a 5-minute bar is written exactly once, when the
    watermark passes its end -- deterministic and oracle-checkable.

    Sum-of-sums re-association: total_value is rounded only at the final
    level, same tolerance class as AQE partial aggregation."""

    from ..functions.numeric import qround

    def build(ss: SparkSession) -> DataFrame:
        ev = events_stream(ss, sf_dir).withWatermark("ts", "1 minute")
        minute = ev.groupBy(F.window("ts", "1 minute"), "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        return (
            minute.groupBy(F.window("window", "5 minutes"), "event_type")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.count(F.lit(1)).alias("n_minutes"),
                qround(F.sum("sum_value"), 2).alias("total_value"),
            )
            .select(
                F.col("window.start").alias("window_start"),
                F.col("event_type").alias("symbol"),
                F.col("n_events").cast("long").alias("n_events"),
                F.col("n_minutes").cast("long").alias("n_minutes"),
                "total_value",
            )
        )

    return drain(spark, build).orderBy("window_start", "symbol")

def streaming_incremental_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end incremental lakehouse loop: the events stream drains in
    MULTIPLE micro-batches (the fixture is re-sharded by md5 bucket
    and read with maxFilesPerTrigger=1), and each batch MERGES
    its partial per-symbol aggregate into a manifest-logged gold table --
    one committed table version per micro-batch, retry-safe via the
    (app_id, batch_id) idempotent-commit contract (the Delta
    txnAppId/txnVersion recipe, operators/versioned.py).

    This is the reference's bronze->silver->gold cadence
    (process_silver.py:43-93) with the gold refresh made transactional:
    a reader of the gold table sees a complete snapshot at every point,
    never a half-merged batch, and can time-travel to any batch boundary.

    Scale: the merge joins the incoming batch's partial agg (symbol
    cardinality, tiny) against the current gold (same cardinality) --
    both sides fit in memory at any corpus size because the MERGE runs
    at aggregate granularity, not event granularity.  Gold is rewritten
    per commit; at billions of keys you shard the gold table by key
    range so each batch rewrites only touched shards."""

    gold = _merge_events(
        spark,
        sf_dir,
        lambda df: df.groupBy(F.col("event_type").alias("symbol")).agg(
            F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value")
        ),
        lambda u: u.groupBy("symbol").agg(
            F.sum("n_events").alias("n_events"), F.sum("sum_value").alias("sum_value")
        ),
        "rtfl_incremental_gold",
    )
    return gold.select(
        "symbol",
        F.col("n_events").cast("long").alias("n_events"),
        (F.floor(F.col("sum_value") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "total_value"
        ),
    ).orderBy("symbol")

def _catalog_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    return load_table(spark, sf_dir, "events")

def _merge_events(
    spark: SparkSession,
    sf_dir: str,
    partial: Callable[[DataFrame], DataFrame],
    fold: Callable[[DataFrame], DataFrame],
    app_id: str,
) -> DataFrame:
    """``drain_merge`` over the shared md5 shards of the events table."""
    return drain_merge(
        spark,
        _shared_event_shards(spark, sf_dir),
        _catalog_load(spark, sf_dir).schema,
        partial,
        fold,
        app_id,
    )


_SHARD_CACHE: dict[tuple[str, int], str] = {}


def _shared_event_shards(spark: SparkSession, sf_dir: str, n: int = 4) -> str:
    """Process-memoized md5-sharded copy of the plain events fixture,
    shared READ-ONLY by every streaming query that drains the unmodified
    events table as ``n`` micro-batches (round-11 verdict ask #4: at 26
    streaming queries the per-query fixture re-shard had grown to a
    visible slice of the bench's fixed machinery cost -- the shard
    layout is a pure function of (sf_dir, n), so writing it once per
    process changes nothing a query can observe).  Checkpoints and
    output tables stay strictly per-query; only the immutable SOURCE
    directory is shared -- the same sharing discipline the dedup_funnel
    ladder already uses for its candidate fixture.  Queries that shard
    a DERIVED frame (doubled streams, documents) keep their own
    ``_shard_fixture`` call."""
    key = (os.path.abspath(sf_dir), n)
    path = _SHARD_CACHE.get(key)
    if path and os.path.isdir(path):
        return path
    src_dir = scratch_dir("rtfl_shared_shards_")
    _shard_fixture(_catalog_load(spark, sf_dir), src_dir, n)
    _SHARD_CACHE[key] = src_dir
    return src_dir


def _shard_fixture(events: DataFrame, src_dir: str, n: int = 4) -> None:
    """Re-shard the batch fixture into ``n`` deterministic parquet parts
    so ``maxFilesPerTrigger=1`` drains it as n micro-batches.

    The shard key is the repo's md5 split discipline (``md5(event_id) %
    n`` -- row-local, shuffle-free, reproducible), NOT a global-window
    ``ntile``: every consumer of these shards folds a COMMUTATIVE
    per-key aggregate (CMS cell sums, gold merge sums, dollar-volume
    partials), so batch composition cannot affect the drained result,
    and an empty-partition-spec WindowExec here would single-partition
    the fixture write for no semantic gain (the exact anti-pattern
    scripts/plan_audit.py flags in query plans)."""
    from ..functions.hashing import md5_long

    events.withColumn(
        "part", md5_long(F.col("event_id").cast("string")) % n
    ).write.partitionBy("part").mode("overwrite").parquet(src_dir)

def streaming_user_cms(
    spark: SparkSession,
    sf_dir: str,
    depth: int = 4,
    width: int = 256,
    topn: int = 20,
) -> DataFrame:
    """Streaming heavy hitters via a count-min sketch folded across
    micro-batches: the events stream drains in multiple batches (fixture
    re-sharded into md5 buckets, maxFilesPerTrigger=1), each batch
    computes its LOCAL depth x width sketch and writes it to a
    deterministic per-batch path (overwrite => a retried batch rewrites,
    never double-counts), and the final sketch is the CELL-WISE SUM of
    the batch sketches -- the mergeability that makes CMS the streaming
    answer to "top users over an unbounded stream": state is
    depth x width integers per batch, never per-key.

    Because sketch addition commutes with batching, the merged sketch is
    bit-identical to a single batch sketch over the whole fixture -- so
    this STREAMING query has an exact batch SQL oracle (same md5 cells),
    not a rows-only check.  Estimates are min-over-rows as in
    operators/text.heavy_hitters_cms; exact counts ride along to expose
    the overcount.

    Scale: per batch, one partial-aggregated groupBy on (row, bucket)
    whose output is <= depth x width rows regardless of batch size; the
    candidate scoring joins the tiny merged sketch (broadcast) onto the
    distinct-key set.  At 100 TB/day the sketch parquet is KBs per
    batch; compaction is a no-op."""
    from ..functions.hashing import md5_long

    sketch_dir = scratch_dir("rtfl_cms_sketch_")
    events = _catalog_load(spark, sf_dir)

    def _bucketed(df: DataFrame, *cols: str) -> DataFrame:
        return df.select(
            *cols, F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("j")
        ).withColumn(
            "bucket",
            md5_long(
                F.concat_ws(":", F.col("j").cast("string"), F.col("user_id").cast("string")),
                hexdigits=7,
            )
            % width,
        )

    def _cells(df: DataFrame) -> DataFrame:
        return (
            _bucketed(df, "user_id")
            .groupBy("j", "bucket")
            .agg(F.count(F.lit(1)).alias("cell_total"))
        )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _cells(batch_df).write.mode("overwrite").parquet(
            os.path.join(sketch_dir, f"batch={batch_id}")
        )

    src_dir = _shared_event_shards(spark, sf_dir)
    empty = drain(spark, lambda ss: shard_stream(ss, events.schema, src_dir), _fold)
    sketch = (
        spark.read.schema(_cells(empty).schema)
        .parquet(sketch_dir)
        .groupBy("j", "bucket")
        .agg(F.sum("cell_total").alias("cell_total"))
    )
    exact = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    pairs = _bucketed(exact, "user_id", "exact_count")
    return (
        pairs.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("user_id")
        .agg(
            F.min("cell_total").alias("est_count"),
            F.first("exact_count").alias("exact_count"),
        )
        .select(
            "user_id",
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).alias("overcount"),
        )
        .orderBy(F.col("est_count").desc(), F.col("user_id"))
        .limit(topn)
    )


def streaming_turnover_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the daily turnover-concentration report
    (operators/finance.turnover_hhi): the events stream drains in
    multiple micro-batches (md5-bucket shards,
    maxFilesPerTrigger=1) and each batch MERGES its (day, symbol)
    dollar-volume partials into a manifest-logged state table via the
    idempotent-commit contract -- the ``streaming_incremental_gold``
    cadence with a second-level derived metric (HHI / effective names)
    computed from the final state at read time.

    Determinism: the per-key dollar volume is ADDITIVE, so micro-batch
    boundaries only reorder the float summation (absorbed by the same
    1e-6 quantization the batch twin applies to shares); NULL-qty ticks
    contribute no partial on either engine (SQL NULL-sum semantics).

    Scale: every merge joins symbol-x-day-cardinality partials against
    same-cardinality state -- aggregate granularity, never ticks; the
    HHI pass runs once, after the drain, at state cardinality."""
    from pyspark.sql import Window

    from ..functions.numeric import qround

    qty = F.get_json_object(F.col("props"), "$.k").cast("double")
    state = _merge_events(
        spark,
        sf_dir,
        lambda df: df.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("event_type").alias("symbol"),
        ).agg(F.sum(F.col("value") * qty).alias("dv")),
        lambda u: u.groupBy("day", "symbol").agg(F.sum("dv").alias("dv")),
        "rtfl_streaming_hhi",
    )
    wd = Window.partitionBy("day")
    total_day = F.sum("dv").over(wd)
    shares = state.select(
        "day", F.when(total_day != 0, F.col("dv") / total_day).alias("s")
    )
    agg = shares.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_symbols"),
        qround(F.sum(F.col("s") * F.col("s")), 6).alias("hhi"),
        qround(F.max("s"), 6).alias("top_share"),
    )
    return agg.select(
        "day",
        "n_symbols",
        "hhi",
        F.when(F.col("hhi") > 0, qround(F.lit(1.0) / F.col("hhi"), 4)).alias(
            "effective_names"
        ),
        "top_share",
    ).orderBy("day")


def streaming_minute_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the batch ``minute_ohlc`` bars: the events
    stream drains in multiple micro-batches (md5-bucket shards,
    maxFilesPerTrigger=1) and each batch MERGES its per-(minute, symbol)
    partial bars into a manifest-logged state table via the
    idempotent-commit contract -- the candle-builder every market-data
    pipeline runs as its first stateful stage.

    Mergeability: every OHLC component is a commutative per-key fold --
    open/close carry their (ts, event_id) key through the merge and are
    re-picked with min_by/max_by over the struct (exact selections, so
    batch composition cannot change them); high/low are min/max; count
    is additive; the value total is accumulated as exact BIGINT
    micro-units (value sits on a fixed decimal grid), so the merged sum
    is order-independent and the final 1e-6 quantization sees the same
    double as the batch twin regardless of shard composition.  The
    drained table is therefore row-identical to the batch query and
    shares its exact SQL oracle.

    Scale: each merge joins bar-cardinality partials against
    same-cardinality state -- aggregate granularity, never ticks; state
    is (minutes x symbols), the table a real deployment would shard by
    minute range."""
    from ..functions.numeric import qround

    okey = F.struct(F.col("open_ts"), F.col("open_eid"))
    ckey = F.struct(F.col("close_ts"), F.col("close_eid"))

    def _partial(df: DataFrame) -> DataFrame:
        key = F.struct(F.col("ts"), F.col("event_id"))
        return df.groupBy(
            F.col("event_type").alias("symbol"),
            F.date_trunc("minute", F.col("ts")).alias("minute_window"),
        ).agg(
            F.min_by(key, key).getField("ts").alias("open_ts"),
            F.min_by(F.col("event_id"), key).alias("open_eid"),
            F.min_by(F.col("value"), key).alias("open_v"),
            F.max("value").alias("high_v"),
            F.min("value").alias("low_v"),
            F.max_by(key, key).getField("ts").alias("close_ts"),
            F.max_by(F.col("event_id"), key).alias("close_eid"),
            F.max_by(F.col("value"), key).alias("close_v"),
            # Value total in exact integer micro-units (the
            # drawdown_episodes depth_u pattern): float partial sums
            # would merge in batch-composition-dependent order, and a
            # .5-grid-boundary total then splits the final qround vs
            # the batch oracle.  BIGINT sums are order-independent, so
            # the double reaching qround is bit-identical however the
            # stream is sharded.
            F.sum(
                F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")
            ).alias("sum_v_u"),
            F.count(F.lit(1)).alias("n_trades"),
        )

    def _fold(merged: DataFrame) -> DataFrame:
        return merged.groupBy("symbol", "minute_window").agg(
            F.min_by(F.col("open_ts"), okey).alias("open_ts"),
            F.min_by(F.col("open_eid"), okey).alias("open_eid"),
            F.min_by(F.col("open_v"), okey).alias("open_v"),
            F.max("high_v").alias("high_v"),
            F.min("low_v").alias("low_v"),
            F.max_by(F.col("close_ts"), ckey).alias("close_ts"),
            F.max_by(F.col("close_eid"), ckey).alias("close_eid"),
            F.max_by(F.col("close_v"), ckey).alias("close_v"),
            F.sum("sum_v_u").alias("sum_v_u"),
            F.sum("n_trades").alias("n_trades"),
        )

    state = _merge_events(spark, sf_dir, _partial, _fold, "rtfl_streaming_ohlc")
    return state.select(
        "symbol",
        "minute_window",
        F.col("open_v").alias("open_price"),
        qround(F.col("high_v"), 6).alias("high_price"),
        qround(F.col("low_v"), 6).alias("low_price"),
        F.col("close_v").alias("close_price"),
        qround(F.col("sum_v_u").cast("double") / F.lit(1e6), 6).alias(
            "total_value"
        ),
        "n_trades",
    ).orderBy("minute_window", "symbol")


def streaming_kmv_distinct(
    spark: SparkSession, sf_dir: str, k: int = 32
) -> DataFrame:
    """Streaming distinct-user KMV (bottom-k) sketch per event type: the
    events stream drains in micro-batches (md5-bucket shards,
    maxFilesPerTrigger=1), each batch computes its LOCAL bottom-k
    distinct user-hash set per group and MERGES it into a
    manifest-logged state table via the idempotent-commit contract --
    the mergeable-sketch pattern that answers "distinct users per
    stream, forever" with O(groups x k) state instead of a
    per-user-cardinality state store.

    Exactness: bottom-k commutes with batching -- the k smallest
    distinct hashes of a union are the k smallest of the merged
    bottom-k partials -- so the drained sketch (and therefore the KMV
    estimate) is bit-identical to a single batch pass and shares an
    exact batch SQL oracle (the ``streaming_user_cms`` precedent, with
    rank-truncation instead of cell sums).  md5 is engine-stable, so
    the estimate (k-1) * 2^60 / h_k is exactly checkable too.

    Scale: per batch, the bottom-k is a WindowGroupLimit-pushed rank --
    each task keeps <= k rows per group before the exchange; the merge
    joins O(groups x k) state against O(groups x k) partials.  At
    100 TB/day the state table is KBs."""
    from ..functions.hashing import md5_long
    from ..functions.numeric import qround
    from pyspark.sql import Window

    def _bottom_k(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("grp").orderBy("h")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("grp", "h")
        )

    state = _merge_events(
        spark,
        sf_dir,
        lambda df: _bottom_k(
            df.select(
                F.col("event_type").alias("grp"),
                md5_long(F.col("user_id").cast("string")).alias("h"),
            ).distinct()
        ),
        lambda u: _bottom_k(u.distinct()),
        "rtfl_streaming_kmv",
    )
    sketch = state.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("h_k")
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(1152921504606846976.0) / F.col("h_k")
    )
    return sketch.select(
        F.col("grp").alias("event_type"),
        "n_kept",
        qround(est, 4).alias("kmv_estimate"),
    ).orderBy("event_type")


def streaming_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT percentiles (p50/p90/p99 per event type) via a
    mergeable value-grid histogram: the events stream drains in
    micro-batches (md5-bucket shards, maxFilesPerTrigger=1), each batch
    counts its values per (event_type, value) grid cell, and the counts
    MERGE additively into a manifest-logged state table via the
    idempotent-commit contract.  The fixture's ``value`` column sits on
    a fixed decimal grid (every real-world fixed-precision metric --
    prices in ticks, latencies in ms, sizes in bytes -- does), so the
    histogram is lossless: the drained state reconstructs the exact
    interpolated quantile, bit-identical to the batch
    ``value_percentiles`` query, whose SQL oracle it shares verbatim.
    The streaming counterpoint to ``value_percentiles_approx`` (KLL
    sketch, approximate): when the domain is gridded you don't have to
    pay the approximation.

    Exactness: cell counts are BIGINTs, so the merge commutes with any
    batch composition; the final reconstruction computes the same
    pos = (n-1)*q / linear-interpolation formula both engines' exact
    quantile functions use, on the same doubles.

    Scale: per batch the partial is one partial-aggregable groupBy at
    cell cardinality; state is |event_types| x |distinct grid values|
    rows (bounded by the value domain, NOT by row count -- the whole
    point); the final cumulative window runs per-symbol over that
    bounded cell frame, never over ticks."""
    from pyspark.sql import Window

    from ..functions.numeric import qround

    state = _merge_events(
        spark,
        sf_dir,
        lambda df: df.groupBy(F.col("event_type").alias("symbol"), F.col("value")).agg(
            F.count(F.lit(1)).alias("cnt")
        ),
        lambda u: u.groupBy("symbol", "value").agg(F.sum("cnt").alias("cnt")),
        "rtfl_streaming_svq",
    )
    wq = Window.partitionBy("symbol").orderBy("value")
    hist = state.withColumn("cum", F.sum("cnt").over(wq)).withColumn(
        "prev_cum", F.col("cum") - F.col("cnt")
    )
    totals = state.groupBy("symbol").agg(F.sum("cnt").alias("n"))
    q_structs = [
        F.struct(F.lit(nm).alias("qn"), F.lit(qq).alias("q"))
        for nm, qq in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))
    ]
    qdf = (
        totals.select("symbol", "n", F.explode(F.array(*q_structs)).alias("s"))
        .select("symbol", "n", F.col("s.qn").alias("qn"), F.col("s.q").alias("q"))
        .withColumn("pos", (F.col("n").cast("double") - F.lit(1.0)) * F.col("q"))
        .withColumn("rlo", F.floor(F.col("pos")).cast("long"))
        .withColumn("frac", F.col("pos") - F.col("rlo").cast("double"))
    )
    picked = (
        qdf.join(hist, "symbol")
        .groupBy("symbol", "qn")
        .agg(
            F.max(
                F.when(
                    (F.col("prev_cum") <= F.col("rlo"))
                    & (F.col("rlo") < F.col("cum")),
                    F.col("value"),
                )
            ).alias("vlo"),
            F.max(
                F.when(
                    (F.col("prev_cum") <= F.col("rlo") + 1)
                    & (F.col("rlo") + 1 < F.col("cum")),
                    F.col("value"),
                )
            ).alias("vhi"),
            F.max("frac").alias("frac"),
        )
    )
    res = picked.select(
        "symbol",
        "qn",
        (
            F.col("vlo")
            + F.col("frac") * (F.coalesce(F.col("vhi"), F.col("vlo")) - F.col("vlo"))
        ).alias("res"),
    )
    return (
        res.groupBy("symbol")
        .agg(
            qround(F.max(F.when(F.col("qn") == "p50", F.col("res"))), 6).alias("p50"),
            qround(F.max(F.when(F.col("qn") == "p90", F.col("res"))), 6).alias("p90"),
            qround(F.max(F.when(F.col("qn") == "p99", F.col("res"))), 6).alias("p99"),
        )
        .orderBy("symbol")
    )


def streaming_session_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the batch ``sessionize_users`` session windows:
    the events stream drains in md5-bucket shards (so one user's events
    scatter ACROSS micro-batches in arbitrary order) and each batch
    merges its batch-local sessions into a state table of open session
    intervals -- the cross-batch session-stitching problem
    ``session_window`` + watermark solves inside Structured Streaming,
    re-expressed on the foreachBatch/state-table path where the final
    table must equal the batch answer exactly.

    Mergeability proof sketch: a stored session is a chain of events
    with consecutive gaps < 30 min, so two sessions belong together iff
    one's interval starts within 30 min of the other's running maximum
    end -- the classic interval-union islands.  Re-running
    gaps-and-islands over the (start, end) summaries is therefore
    EXACTLY equivalent to re-sessionizing the raw events: an event
    inside an interval is always within 30 min of one of its chain
    neighbours, so interval adjacency is event adjacency.  Counts are
    additive; the value total is accumulated as exact 1e-8-grid BIGINTs
    (order-independent; the 1e-2 output quantization dwarfs the grid
    error), so the drained table is row-identical to the batch query
    and shares its exact SQL oracle.

    Scale: each merge runs at SESSION cardinality, never event
    cardinality -- state is one row per open session, and a production
    deployment would evict sessions older than the watermark before the
    union (bounded state), exactly as session_window's state store
    does."""
    from pyspark.sql import Window

    from ..functions.numeric import qround

    gap = "INTERVAL 30 MINUTES"

    def _sessionize_intervals(df: DataFrame) -> DataFrame:
        """Gaps-and-islands over (s_start, s_end) interval rows; used
        for the batch-local partial (degenerate per-event intervals)
        and for the state merge alike."""
        w = Window.partitionBy("user_id").orderBy("s_start", "s_end")
        prev_max_end = F.max("s_end").over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        )
        # STRICT >: session_window merges the exactly-touching case
        # (an event at prev_end + 30:00.000000 extends the session), so
        # the islands rule here mirrors the BATCH twin's semantics.
        # Since round 12 the shared oracle pins the SAME strict-> split
        # (registry.py sessionize_users), so engine and oracle agree at
        # the exact boundary by construction -- no fixture latitude
        # (boundary-hitting parity test in tests/test_round12_ops.py).
        flagged = df.withColumn(
            "new_s",
            F.when(
                prev_max_end.isNull()
                | (F.col("s_start") > prev_max_end + F.expr(gap)),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        chained = flagged.withColumn(
            "sid",
            F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        return chained.groupBy("user_id", "sid").agg(
            F.min("s_start").alias("s_start"),
            F.max("s_end").alias("s_end"),
            F.sum("n_events").alias("n_events"),
            F.sum("sum_u").alias("sum_u"),
        ).drop("sid")

    def _partial(df: DataFrame) -> DataFrame:
        rows = df.select(
            "user_id",
            F.col("ts").alias("s_start"),
            F.col("ts").alias("s_end"),
            F.lit(1).cast("long").alias("n_events"),
            F.floor(F.col("value") * F.lit(1e8) + F.lit(0.5))
            .cast("long")
            .alias("sum_u"),
        )
        return _sessionize_intervals(rows)

    state = _merge_events(
        spark, sf_dir, _partial, _sessionize_intervals, "rtfl_streaming_sess"
    )
    return state.select(
        "user_id",
        F.col("s_start").alias("session_start"),
        (F.col("s_end") + F.expr(gap)).alias("session_end"),
        "n_events",
        qround(F.col("sum_u").cast("double") / F.lit(1e8), 2).alias(
            "total_value"
        ),
    ).orderBy("user_id", "session_start")


def streaming_mode_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the exact per-user mode
    (operators/rollup.mode_per_user): each micro-batch folds its
    (user_id, event_type) COUNT partials into a manifest-logged state
    table (the ``streaming_turnover_hhi`` merge cadence); the mode --
    rank by count desc then type asc -- is computed ONCE from the final
    state at read time.

    Why this is the right streaming shape for an order statistic: the
    mode itself is not mergeable (batch modes can disagree with the
    global mode), but the COUNT TABLE underneath it is -- integer
    addition commutes with any batching -- so the state carries the
    counts and the non-mergeable rank runs only on drained state.  That
    state is (users x |event types|) cardinality, never ticks, and
    every quantity is an exact BIGINT, so the drained result is
    row-identical to the batch twin and shares its DuckDB oracle
    verbatim.

    Scale: per batch one partial-aggregated groupBy at state
    cardinality; the final rank sorts <= |types| rows per user."""
    from ..operators.rollup import mode_from_counts

    return mode_from_counts(
        _merge_events(
            spark,
            sf_dir,
            lambda df: df.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n")),
            lambda u: u.groupBy("user_id", "event_type").agg(F.sum("n").alias("n")),
            "rtfl_streaming_mode",
        )
    )


def streaming_range_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the range-based volatility report
    (operators/finance.range_vol_estimators): each micro-batch merges
    its per-(symbol, day) OHLC partials into a manifest-logged state
    table -- the ``streaming_minute_ohlc`` candle-merge cadence at day
    granularity -- and the Parkinson / Garman-Klass / Rogers-Satchell
    estimators are computed ONCE from the drained bars by the SAME
    shared stage as the batch twin (_range_vol_from_ohlc), so the
    result is row-identical and shares its exact SQL oracle.

    Mergeability: open/close carry their (ts, event_id) keys through
    the merge (min_by/max_by re-picks are exact selections, immune to
    shard composition); high/low are min/max.  No value accumulates in
    float, so there is nothing for batch boundaries to reorder.

    Scale: state is (symbols x days) -- calendar cardinality, never
    ticks; each merge joins bar-cardinality partials against
    same-cardinality state."""
    from ..operators.finance import _range_vol_from_ohlc

    okey = F.struct(F.col("open_ts"), F.col("open_eid"))
    ckey = F.struct(F.col("close_ts"), F.col("close_eid"))

    def _partial(df: DataFrame) -> DataFrame:
        key = F.struct(F.col("ts"), F.col("event_id"))
        return (
            df.filter(F.col("value") > 0)
            .groupBy(
                F.col("event_type").alias("symbol"),
                F.date_trunc("day", F.col("ts")).alias("day"),
            )
            .agg(
                F.min_by(key, key).getField("ts").alias("open_ts"),
                F.min_by(F.col("event_id"), key).alias("open_eid"),
                F.min_by(F.col("value"), key).alias("o"),
                F.max("value").alias("h"),
                F.min("value").alias("l"),
                F.max_by(key, key).getField("ts").alias("close_ts"),
                F.max_by(F.col("event_id"), key).alias("close_eid"),
                F.max_by(F.col("value"), key).alias("c"),
            )
        )

    def _fold(merged: DataFrame) -> DataFrame:
        return merged.groupBy("symbol", "day").agg(
            F.min_by(F.col("open_ts"), okey).alias("open_ts"),
            F.min_by(F.col("open_eid"), okey).alias("open_eid"),
            F.min_by(F.col("o"), okey).alias("o"),
            F.max("h").alias("h"),
            F.min("l").alias("l"),
            F.max_by(F.col("close_ts"), ckey).alias("close_ts"),
            F.max_by(F.col("close_eid"), ckey).alias("close_eid"),
            F.max_by(F.col("c"), ckey).alias("c"),
        )

    state = _merge_events(spark, sf_dir, _partial, _fold, "rtfl_streaming_rv")
    return _range_vol_from_ohlc(state.select("symbol", "day", "o", "h", "l", "c"))


def streaming_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the per-label centroid profile
    (operators/similarity.label_centroids): each micro-batch of vectors
    folds its per-(label, dim) component sums into a manifest-logged
    state table; the centroid norm and leading components are computed
    ONCE from the drained sums at read time.

    Mergeability is bought with the repo's grid discipline: a float mean
    is NOT mergeable (per-batch partial sums re-associate the IEEE adds,
    so drained state would depend on shard composition), but component
    sums snapped to the 1e-8 grid are exact BIGINTs -- integer addition
    commutes with any batching -- so the state carries (label, pos,
    gsum, n) and the only doubles appear in the final read-time
    projection gsum / (n * 1e8), identical arithmetic to the oracle.
    Headroom: |gsum| <= n * |x|_max * 1e8, exact in int64 to ~9e10
    unit-scale vectors per label and exact in the double cast to 2^53
    (~9e15) -- the intra_label_cosine_dispersion analysis, one power
    lower because nothing here squares a sum.

    Scale: state is (labels x dims) cardinality, never vectors; each
    micro-batch contributes ONE partial-aggregated groupBy at state
    cardinality (the same distributed shape as the batch twin's
    centroid stage, which is itself fit_codebook's KMeans M-step)."""
    from ..functions.hashing import md5_long
    from ..functions.numeric import qround
    from ..operators.similarity import _as_double

    src_dir = scratch_dir("rtfl_scent_src_")

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    # Own shard fixture (derived frame, not the shared events copy):
    # md5(vec_id) % 4 -- row-local, shuffle-free, reproducible.
    emb.withColumn(
        "part", md5_long(F.col("vec_id").cast("string")) % 4
    ).write.partitionBy("part").mode("overwrite").parquet(src_dir)

    def _partial(df: DataFrame) -> DataFrame:
        dims = df.select(
            "label", F.posexplode(_as_double("embedding")).alias("pos", "x")
        )
        gx = F.floor(F.col("x") * F.lit(1e8) + F.lit(0.5)).cast("long")
        return dims.groupBy("label", "pos").agg(
            F.sum(gx).alias("gsum"), F.count(F.lit(1)).alias("n")
        )

    state = drain_merge(
        spark,
        src_dir,
        emb.schema,
        _partial,
        lambda u: u.groupBy("label", "pos").agg(
            F.sum("gsum").alias("gsum"), F.sum("n").alias("n")
        ),
        "rtfl_streaming_cent",
    )
    m = F.col("gsum").cast("double") / (F.col("n").cast("double") * F.lit(1e8))
    return (
        state.groupBy("label")
        .agg(
            F.max("n").alias("n_vectors"),
            qround(F.sqrt(F.sum(m * m)), 6).alias("centroid_norm"),
            *[
                qround(F.max(F.when(F.col("pos") == i, m)), 6).alias(f"c{i}")
                for i in range(4)
            ],
        )
        .select("label", "n_vectors", "centroid_norm", "c0", "c1", "c2", "c3")
        .orderBy("label")
    )
