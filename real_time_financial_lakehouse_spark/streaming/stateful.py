"""Custom stateful streaming operator: per-symbol exponential moving
average (EMA) via ``applyInPandasWithState``.

The reference's only streaming state is Spark's built-in windowed
aggregation (process_silver.py:50-57).  A real indicator pipeline also
needs *recursive* per-key state that no built-in aggregate expresses:
``EMA_t = alpha * x_t + (1 - alpha) * EMA_{t-1}``.  This is the canonical
applyInPandasWithState shape:

* state per symbol = (ema, n) -- O(1), unbounded stream friendly (compare
  the batch twin, which must materialize each symbol's full series);
* each micro-batch's rows arrive as Arrow-backed pandas frames, get
  sorted by event time, and fold into the carried state;
* update-mode emission: one refreshed (symbol, n_events, ema) row per
  batch.

The fold is plain float64 arithmetic in every engine (CPython, JVM,
DuckDB all fold the same IEEE doubles in the same order), so the
streaming result, the batch twin (operators-level ``ema_per_symbol``),
and the DuckDB ``list_reduce`` oracle agree bit-for-bit.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import qround
from ..scratch import scratch_dir
from . import drain, drain_latest
from .silver import events_stream

EMA_ALPHA = 0.1

OUTPUT_SCHEMA = "symbol string, n_events bigint, ema_raw double"
STATE_SCHEMA = "ema double, n bigint"

def _ema_update(
    key: tuple[str],
    pdf_iter: Iterator[pd.DataFrame],
    state: Any,
    alpha: float = EMA_ALPHA,
) -> Iterator[pd.DataFrame]:
    """GroupState fold: carry (ema, n) across micro-batches."""
    ema, n = state.get if state.exists else (None, 0)
    # The EMA fold is order-sensitive and applyInPandasWithState gives no
    # (ts, event_id) ordering ACROSS Arrow chunks of one group: gather the
    # group's whole micro-batch (state spans it anyway) and sort once.
    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        for x in pdf["value"]:
            ema = float(x) if ema is None else alpha * float(x) + (1.0 - alpha) * ema
            n += 1
    state.update((ema, n))
    yield pd.DataFrame([{"symbol": key[0], "n_events": n, "ema_raw": ema}])

def ema_stream(events: DataFrame) -> DataFrame:
    """The stateful streaming plan: groupBy(symbol) -> custom GroupState
    fold.  Works on any streaming DataFrame with (ts, event_id,
    event_type, value)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.groupBy(F.col("event_type"))
        .applyInPandasWithState(
            _ema_update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

def streaming_ema_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful EMA over the events fixture as a genuine stream
    (availableNow), append each batch's update rows to parquet, and return
    the LATEST row per symbol -- comparable to the batch twin / SQL
    oracle."""
    latest = drain_latest(spark, lambda ss: ema_stream(events_stream(ss, sf_dir)))
    return latest.select(
        "symbol", "n_events", qround(F.col("ema_raw"), 6).alias("ema")
    ).orderBy("symbol")

def streaming_sessionize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows in STREAMING mode: the same ``session_window``
    expression as the batch operator (operators/windows.sessionize), run
    with a watermark over the events stream -- dynamic-gap session state
    merged across micro-batches and closed by the watermark.  One
    expression, two execution modes; both check against the same
    gaps-and-islands SQL oracle."""

    def build(ss: SparkSession) -> DataFrame:
        ev = events_stream(ss, sf_dir).withWatermark("ts", "1 minute")
        return (
            ev.groupBy(F.col("user_id"), F.session_window(F.col("ts"), "30 minutes"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                qround(F.sum("value"), 2).alias("total_value"),
            )
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "n_events",
                "total_value",
            )
        )

    return drain(spark, build).orderBy("user_id", "session_start")

def streaming_enrich_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched row-by-row against
    the static customer dimension, then rolled up per market segment.

    This is the canonical lakehouse enrichment shape (a trade stream
    joined to an instrument/customer dim).  The static side is read once
    per micro-batch and BROADCAST into the stream -- a stateless join, so
    no watermark or join-state store is needed (contrast stream-stream
    joins, which buffer both sides).  At 100 TB/day of stream, the dim
    broadcast is the only strategy that avoids shuffling the stream.

    The join itself runs in streaming mode (append to parquet via
    availableNow); the rollup runs in batch over the sink, keeping the
    streamed output an auditable bronze-style log.
    """

    from ..catalog import load_table

    def build(ss: SparkSession) -> DataFrame:
        ev = events_stream(ss, sf_dir)
        customer = load_table(ss, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        return ev.join(
            F.broadcast(customer), ev["user_id"] == customer["c_custkey"]
        ).select("event_id", "user_id", "c_mktsegment", "value")

    return (
        drain(spark, build)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            qround(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )

def _click_purchase_stream(ss: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Watermarked clicks joined to the same user's purchases within the
    following 2 hours; ``how`` is the join type."""
    ev = events_stream(ss, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 minute")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 minute")
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 2 HOURS")),
        how,
    )

def streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: clicks joined to the same user's
    purchases within the following 2 hours -- the attribution shape
    (impression joined to conversion).

    Both sides carry watermarks and the join condition bounds event time
    from BOTH directions, so Spark can evict buffered rows once the
    watermark passes ``click.ts + 2 h`` -- bounded state on unbounded
    streams, the thing that separates a stream-stream join from a batch
    self-join.  availableNow processes the whole fixture in one pass, so
    the emitted matches equal the batch join exactly and the SQL oracle
    can hash-match.

    Scale: state is partitioned by user_id (the equi-key); per-key state
    holds only a 2-hour sliver of each side.
    """
    return (
        drain(spark, lambda ss: _click_purchase_stream(ss, sf_dir, "inner"))
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_attributed"),
            qround(F.sum("purchase_value"), 2).alias("attributed_value"),
        )
        .orderBy("user_id")
    )

def streaming_click_purchase_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: like the inner attribution join,
    plus null-completed rows for clicks whose 2-hour window the global
    watermark has fully sealed with no purchase -- the "unconverted
    impression" feed.

    The outer semantics are what make this a genuinely stateful shape:
    a click cannot be emitted as unmatched until the watermark proves no
    future purchase can join it (click_ts + 2h < watermark).  Clicks
    whose window is still open when the availableNow drain ends stay in
    state and are NOT emitted -- the SQL oracle encodes exactly that
    cutoff, using the GLOBAL watermark (min over both inputs of
    max-event-time - delay, Spark's multi-input watermark rule).

    Scale: identical state layout to the inner join (partitioned by the
    user equi-key, 2-hour sliver per side); the outer rows add no state,
    only an emission rule on eviction.
    """
    return (
        drain(spark, lambda ss: _click_purchase_stream(ss, sf_dir, "left_outer"))
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count("purchase_id").alias("n_attributed"),
            qround(F.coalesce(F.sum("purchase_value"), F.lit(0.0)), 2).alias(
                "attributed_value"
            ),
            F.sum(
                F.when(F.col("purchase_id").isNull(), 1).otherwise(0)
            ).alias("n_expired_unmatched"),
        )
        .orderBy("user_id")
    )

# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 arbitrary-state API)
# ---------------------------------------------------------------------------

TWS_OUTPUT_SCHEMA = (
    "symbol string, n_events bigint, total_value double, min_value double, max_value double"
)
TWS_STATE_SCHEMA = "n bigint, s double, mn double, mx double"

def has_transform_with_state_support() -> bool:
    """The transformWithState state protocol speaks protobuf between the
    JVM and the Python driver worker; without ``google.protobuf`` the
    driver worker crashes at schema negotiation.  The sandbox image lacks
    protobuf (and pip installs are off), so the operator degrades to the
    legacy applyInPandasWithState fold with identical semantics."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False

def _make_symbol_stats_processor():
    """Factory so the StatefulProcessor subclass is only constructed when
    the operator runs (keeps module import side-effect free for UDF
    workers that re-import this module)."""
    import pandas as pd  # local: the worker deserializes the class

    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class _SymbolStats(StatefulProcessor):
        """Per-symbol running (count, sum, min, max) in a ValueState --
        the canonical shape of the NEW arbitrary-state API
        (transformWithStateInPandas), which supersedes
        applyInPandasWithState with typed state handles (value/list/map),
        timers, and TTL.  The EMA operator keeps the legacy API covered;
        this one pins the forward path."""

        def init(self, handle):
            self._state = handle.getValueState("stats", TWS_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            got = self._state.get()
            n, s, mn, mx = got if got is not None else (0, 0.0, None, None)
            for pdf in rows:
                if len(pdf) == 0:
                    continue
                n += len(pdf)
                s += float(pdf["value"].sum())
                bmn = float(pdf["value"].min())
                bmx = float(pdf["value"].max())
                mn = bmn if mn is None else min(mn, bmn)
                mx = bmx if mx is None else max(mx, bmx)
            self._state.update((n, s, mn, mx))
            yield pd.DataFrame(
                [
                    {
                        "symbol": key[0],
                        "n_events": n,
                        "total_value": s,
                        "min_value": mn,
                        "max_value": mx,
                    }
                ]
            )

        def close(self):
            pass

    return _SymbolStats()

def _stats_fold_legacy(key, pdf_iter, state):
    """applyInPandasWithState twin of _SymbolStats -- same fold, same
    emissions, used when the environment can't run the new API (see
    has_transform_with_state_support)."""
    n, s, mn, mx = state.get if state.exists else (0, 0.0, None, None)
    for pdf in pdf_iter:
        if len(pdf) == 0:
            continue
        n += len(pdf)
        s += float(pdf["value"].sum())
        bmn = float(pdf["value"].min())
        bmx = float(pdf["value"].max())
        mn = bmn if mn is None else min(mn, bmn)
        mx = bmx if mx is None else max(mx, bmx)
    state.update((n, s, mn, mx))
    yield pd.DataFrame(
        [{"symbol": key[0], "n_events": n, "total_value": s, "min_value": mn, "max_value": mx}]
    )

def streaming_symbol_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-symbol stats via ``transformWithStateInPandas`` -- the
    Spark 4 arbitrary-state operator -- driven as a real stream
    (availableNow) with update emissions appended per batch via
    foreachBatch; returns the latest row per symbol, oracle-comparable to
    the batch groupBy.

    Scale: state is O(1) per key (four scalars in a ValueState), keyed
    shuffle on symbol, RocksDB-spillable on a real cluster; emission per
    (batch, key) only.  The typed-state API also gives timers + TTL,
    which is what a production feature pipeline needs for inactivity
    flushes (handleExpiredTimer) -- not exercised here because the
    fixture drain is a single batch."""

    def build(ss: SparkSession) -> DataFrame:
        ev = events_stream(ss, sf_dir).select(F.col("event_type"), F.col("value"))
        if has_transform_with_state_support():
            # the new-state-API operator requires the RocksDB state store
            # (the HDFS-backed default doesn't implement the typed-state
            # column families it uses); scoped to the child session
            ss.conf.set(
                "spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
            )
            return ev.groupBy("event_type").transformWithStateInPandas(
                _make_symbol_stats_processor(),
                outputStructType=TWS_OUTPUT_SCHEMA,
                outputMode="Update",
                timeMode="None",
            )
        else:
            # identical fold through the legacy arbitrary-state API
            from pyspark.sql.streaming.state import GroupStateTimeout

        return ev.groupBy("event_type").applyInPandasWithState(
            _stats_fold_legacy,
            outputStructType=TWS_OUTPUT_SCHEMA,
            stateStructType=TWS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    return (
        drain_latest(spark, build)
        .select(
            "symbol",
            "n_events",
            qround(F.col("total_value"), 6).alias("total_value"),
            "min_value",
            "max_value",
        )
        .orderBy("symbol")
    )


def streaming_seasonal_anomaly_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly detection against a learned seasonal baseline:
    the per-(symbol, hour-of-day) mean/stddev profile is computed in
    BATCH over the historical table, broadcast, and the event stream is
    scored row-by-row against it -- |z| > 3 rows are flagged and
    appended to the anomaly log (availableNow), which is then rolled up
    per (symbol, hour) for the report.

    This is the canonical monitoring split: the EXPENSIVE statistical
    pass runs batch on history (refreshed on whatever cadence), and the
    stream pays only a broadcast-join lookup + one arithmetic expression
    per row -- stateless, no watermark, no state store; at 100 TB/day
    the stream never shuffles.  The z-guard lives inside the row
    expression (ANSI DIVIDE_BY_ZERO applies to doubles); a zero-variance
    baseline cell can never flag.
    """
    from ..catalog import load_table
    from ..operators.rollup import hourly_symbol_stats

    def build(ss: SparkSession) -> DataFrame:
        hist = load_table(ss, sf_dir, "events")
        base = hourly_symbol_stats(hist).select(
            F.col("symbol").alias("b_symbol"),
            F.col("hour_of_day").alias("b_hod"),
            "mean_v",
            "std_v",
        )
        ev = events_stream(ss, sf_dir)
        scored = ev.join(
            F.broadcast(base),
            (ev["event_type"] == F.col("b_symbol")) & (F.hour(ev["ts"]) == F.col("b_hod")),
        )
        az = F.when(
            F.col("std_v") != 0,
            F.abs((F.col("value") - F.col("mean_v")) / F.col("std_v")),
        )
        return scored.select(
            F.col("event_type").alias("symbol"),
            F.hour("ts").alias("hour_of_day"),
            az.alias("az"),
        ).filter(F.col("az") > 3.0)

    return (
        drain(spark, build)
        .groupBy("symbol", "hour_of_day")
        .agg(
            F.count(F.lit(1)).alias("n_anomalies"),
            qround(F.max("az"), 6).alias("max_abs_z"),
        )
        .orderBy("symbol", "hour_of_day")
    )


def streaming_psi_drift_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the batch PSI drift monitor: the binning grid
    (global value min/max) and the reference/current time split are
    fixed from the historical table; the event stream then bins each
    CURRENT-half row with a pure projection and ``foreachBatch`` appends
    per-micro-batch PARTIAL (symbol, bin) counts -- the mergeable-sketch
    discipline: each batch ships bin-cardinality rows, never raw events,
    and the final report sums partials.  Reference cells come from the
    batch half; the PSI rollup is the SAME ``psi_from_cells`` code as the
    batch monitor, so the streamed result is bit-identical to
    ``psi_drift`` and shares its DuckDB oracle.

    Scale: per micro-batch the stream does one projection + one
    partial-agg groupBy at (symbol x bin) cardinality; no state store,
    no watermark -- the "state" IS the append-only partial-count log,
    which also makes the monitor replayable/auditable (each batch's
    contribution is a visible row set)."""
    from ..catalog import load_table
    from ..operators.profiling import psi_from_cells

    n_bins = 10
    out_dir = scratch_dir("rtfl_psi_out_")
    hist = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = hist.agg(
        F.floor((F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts"))) / 2)
        .cast("long")
        .alias("mid_us"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    ).collect()[0]
    mid_us, vmin, vmax = b["mid_us"], b["vmin"], b["vmax"]

    def bin_expr():
        if vmax is None or vmin is None or vmax == vmin:
            return F.lit(0).cast("int")
        return (
            F.least(
                F.floor(
                    (F.col("value") - F.lit(vmin))
                    / (F.lit(vmax) - F.lit(vmin))
                    * n_bins
                ),
                F.lit(n_bins - 1),
            )
            .cast("int")
        )

    def counts(df: DataFrame) -> DataFrame:
        return df.groupBy("symbol", "bin").agg(F.count(F.lit(1)).alias("cnt"))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        counts(batch_df).write.mode("append").parquet(out_dir)

    empty = drain(
        spark,
        lambda ss: events_stream(ss, sf_dir)
        .filter(F.col("value").isNotNull() & (F.unix_micros("ts") > F.lit(mid_us)))
        .select(F.col("event_type").alias("symbol"), bin_expr().alias("bin")),
        sink,
    )
    ref_cells = (
        hist.filter(F.unix_micros("ts") <= F.lit(mid_us))
        .select(F.col("event_type").alias("symbol"), bin_expr().alias("bin"))
        .groupBy("symbol", "bin")
        .agg(F.count(F.lit(1)).alias("n_ref"))
    )
    partials = spark.read.schema(counts(empty).schema).parquet(out_dir)
    cur_cells = partials.groupBy("symbol", "bin").agg(F.sum("cnt").alias("n_cur"))
    cells = (
        ref_cells.join(cur_cells, ["symbol", "bin"], "full_outer")
        .select(
            "symbol",
            "bin",
            F.coalesce(F.col("n_ref"), F.lit(0)).alias("n_ref"),
            F.coalesce(F.col("n_cur"), F.lit(0)).alias("n_cur"),
        )
    )
    return psi_from_cells(cells, n_bins=n_bins)


def streaming_expectation_gate_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming data-contract gate: every micro-batch splits into rows
    that PASS the declared expectations (value present and non-negative,
    user present, event_type in the enum) and rows that FAIL -- passing
    rows append to the bronze table, failing rows to a QUARANTINE table
    with a per-row reason column, and the report rolls up both sides.
    This is the quarantine pattern a medallion pipeline runs between
    ingest and silver: a bad feed never poisons downstream tables, and
    the quarantine is itself queryable for triage.

    Scale: the gate is a pure row predicate (no shuffle, no state); the
    split writes are two append sinks fed by ONE foreachBatch pass
    (batch_df cached per micro-batch so the pass is not recomputed per
    sink).  The report aggregates at (status x reason) cardinality."""
    from ..operators.rollup import EVENT_TYPES  # the one contract enum

    ok_dir = scratch_dir("rtfl_gate_ok_")
    bad_dir = scratch_dir("rtfl_gate_bad_")
    reason = (
        F.when(F.col("value").isNull(), F.lit("value_null"))
        .when(F.col("value") < 0, F.lit("value_negative"))
        .when(F.col("user_id").isNull(), F.lit("user_null"))
        .when(~F.col("event_type").isin(*EVENT_TYPES), F.lit("bad_event_type"))
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        tagged = batch_df.withColumn("fail_reason", reason)
        tagged.persist()
        try:
            (
                tagged.filter(F.col("fail_reason").isNull())
                .drop("fail_reason")
                .write.mode("append")
                .parquet(ok_dir)
            )
            (
                tagged.filter(F.col("fail_reason").isNotNull())
                .write.mode("append")
                .parquet(bad_dir)
            )
        finally:
            tagged.unpersist()

    empty = drain(spark, lambda ss: events_stream(ss, sf_dir), sink)
    ok = spark.read.schema(empty.schema).parquet(ok_dir)
    bad = spark.read.schema(empty.withColumn("fail_reason", reason).schema).parquet(bad_dir)
    passed = ok.agg(
        F.lit("passed").alias("status"),
        F.lit("").alias("reason"),
        F.count(F.lit(1)).alias("n_rows"),
        qround(F.coalesce(F.sum("value"), F.lit(0.0)), 6).alias("total_value"),
    ).select("status", "reason", "n_rows", "total_value")
    failed = (
        bad.groupBy(F.lit("quarantined").alias("status"),
                    F.col("fail_reason").alias("reason"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            qround(F.coalesce(F.sum("value"), F.lit(0.0)), 6).alias("total_value"),
        )
    )
    return passed.unionByName(failed).orderBy("status", "reason")


# Streaming CUSUM monitor constants (fixed reference configuration: the
# monitor watches drift against a DEPLOYED target, it does not re-estimate
# it -- re-estimation is the batch cusum_changepoints query's job).
CUSUM_MU = 50.0
CUSUM_SLACK = 5.0
CUSUM_H = 500.0

CUSUM_OUTPUT_SCHEMA = (
    "symbol string, n_events bigint, sp_raw double, sn_raw double,"
    " n_alarms_pos bigint, n_alarms_neg bigint"
)
CUSUM_STATE_SCHEMA = (
    "sp_sum double, sp_min double, sn_sum double, sn_min double,"
    " n bigint, ap bigint, an bigint"
)


def _cusum_update(
    key: tuple[str],
    pdf_iter: Iterator[pd.DataFrame],
    state: Any,
) -> Iterator[pd.DataFrame]:
    """GroupState fold for the two-sided CUSUM.  The recursive statistic
    s_t = max(0, s_{t-1} + y_t) is carried through the PREFIX-SUM
    identity s_t = S_t - min(0, min_j S_j): state is (S, minS) per side
    -- O(1), and the identical IEEE sequence as the oracle's window
    formulation (a recursive max(0, .) fold would round differently)."""
    if state.exists:
        sp_sum, sp_min, sn_sum, sn_min, n, ap, an = state.get
    else:
        sp_sum = sp_min = sn_sum = sn_min = 0.0
        n, ap, an = 0, 0, 0
    # The prefix-sum fold is order-sensitive and applyInPandasWithState
    # gives no (ts, event_id) ordering ACROSS Arrow chunks of one group:
    # gather the group's whole micro-batch (state spans it anyway) and
    # sort once on the full sequence.
    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        for x in pdf["value"]:
            x = float(x)
            sp_sum += x - CUSUM_MU - CUSUM_SLACK
            sp_min = min(sp_min, sp_sum)
            sn_sum += CUSUM_MU - x - CUSUM_SLACK
            sn_min = min(sn_min, sn_sum)
            n += 1
            sp = sp_sum - min(0.0, sp_min)
            sn = sn_sum - min(0.0, sn_min)
            import math

            if math.floor(sp * 1e6 + 0.5) / 1e6 > CUSUM_H:
                ap += 1
            if math.floor(sn * 1e6 + 0.5) / 1e6 > CUSUM_H:
                an += 1
    state.update((sp_sum, sp_min, sn_sum, sn_min, n, ap, an))
    yield pd.DataFrame(
        [
            {
                "symbol": key[0],
                "n_events": n,
                "sp_raw": sp_sum - min(0.0, sp_min),
                "sn_raw": sn_sum - min(0.0, sn_min),
                "n_alarms_pos": ap,
                "n_alarms_neg": an,
            }
        ]
    )


def cusum_stream(events: DataFrame) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy(F.col("event_type")).applyInPandasWithState(
        _cusum_update,
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_cusum_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided streaming CUSUM against a fixed deployed target: run the
    stateful monitor over the events fixture as a genuine stream, append
    update rows per micro-batch, return the latest row per symbol --
    comparable bit-for-bit to the window-identity SQL oracle."""
    return (
        drain_latest(spark, lambda ss: cusum_stream(events_stream(ss, sf_dir)))
        .select(
            "symbol",
            "n_events",
            qround(F.col("sp_raw"), 6).alias("cusum_pos"),
            qround(F.col("sn_raw"), 6).alias("cusum_neg"),
            "n_alarms_pos",
            "n_alarms_neg",
        )
        .orderBy("symbol")
    )


# ---------------------------------------------------------------------------
# Round 8: streaming Kalman over daily closes with event-time bar
# finalization + provisional emission.
# ---------------------------------------------------------------------------

KALMAN_Q = 0.001
KALMAN_R = 0.01

KALMAN_OUTPUT_SCHEMA = (
    "symbol string, n_days bigint, last_close double, x_raw double,"
    " p_raw double, k_raw double"
)
# committed filter state (excludes the still-open day) + the pending bar
KALMAN_STATE_SCHEMA = (
    "x double, p double, k double, n bigint, pend_day bigint, pend_close double"
)


def _kalman_fold(x, p, k, z):
    """One local-level Kalman step -- the EXACT op order of the batch
    operator's aggregate() lambda and the oracle's recursive CTE
    (operators/finance.kalman_price_smooth), so CPython / JVM / DuckDB
    produce bit-identical doubles."""
    if x is None:
        return float(z), 1.0, 0.0
    pp = p + KALMAN_Q
    k = pp / (pp + KALMAN_R)
    x = x + k * (z - x)
    p = (1.0 - k) * pp
    return x, p, k


def _kalman_update(
    key: tuple[str],
    pdf_iter: "Iterator[pd.DataFrame]",
    state: Any,
) -> "Iterator[pd.DataFrame]":
    """GroupState fold over DAILY CLOSES with correct event-time bar
    semantics under ANY micro-batch split: a day is folded into the
    committed state only once a LATER day appears (its close is then
    final); the newest day rides the state as a PENDING (day, close)
    pair and is folded PROVISIONALLY at emission time only.  If the next
    batch extends the same day, the provisional fold is simply
    recomputed from the committed state -- nothing to retract."""
    if state.exists:
        x, p, k, n, pend_day, pend_close = state.get
    else:
        x, p, k, n, pend_day, pend_close = None, 1.0, 0.0, 0, None, None
    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        days = pdf["ts"].dt.floor("D")
        for day_val, grp in pdf.groupby(days, sort=True):
            day_key = int(day_val.value)  # epoch ns of the day bucket
            close = float(grp["value"].iloc[-1])
            if pend_day is None:
                pend_day, pend_close = day_key, close
            elif day_key == pend_day:
                pend_close = close  # same bar, fresher close
            else:
                # a later day arrived: the pending bar is final -- commit
                x, p, k = _kalman_fold(x, p, k, pend_close)
                n += 1
                pend_day, pend_close = day_key, close
    state.update((x, p, k, n, pend_day, pend_close))
    if pend_day is None:
        return iter(())
    # Suppress single-day emissions: the batch twin and the shared
    # recursive-CTE oracle both filter to count(*) >= 2 days, so a
    # symbol whose stream has produced only one trading day so far must
    # not surface a seeded provisional row (it would hash-fail parity).
    if n + 1 < 2:
        return iter(())
    # provisional fold of the still-open day (NOT stored)
    xe, pe, ke = _kalman_fold(x, p, k, pend_close)
    yield pd.DataFrame(
        [
            {
                "symbol": key[0],
                "n_days": n + 1,
                "last_close": pend_close,
                "x_raw": xe,
                "p_raw": pe,
                "k_raw": ke,
            }
        ]
    )


def kalman_stream(events: DataFrame) -> DataFrame:
    """Per-symbol streaming Kalman plan: groupBy(symbol) -> GroupState
    fold over finalized daily closes.  State is O(1) per symbol
    regardless of stream length -- the unbounded-scale path the batch
    twin (full-array fold) is not."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy(F.col("event_type")).applyInPandasWithState(
        _kalman_update,
        outputStructType=KALMAN_OUTPUT_SCHEMA,
        stateStructType=KALMAN_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_kalman_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the streaming Kalman over the events fixture (availableNow),
    append update rows per batch, return the LATEST row per symbol --
    column-compatible with the batch twin's recursive-CTE oracle
    (kalman_price_smooth)."""
    return (
        drain_latest(spark, lambda ss: kalman_stream(events_stream(ss, sf_dir)))
        .select(
            "symbol",
            "n_days",
            qround("last_close").alias("last_close"),
            qround("x_raw").alias("kalman_level"),
            qround("p_raw").alias("error_cov"),
            qround("k_raw").alias("kalman_gain"),
        )
        .orderBy("symbol")
    )


# ---------------------------------------------------------------------------
# Round 8: streaming VPIN -- O(1) bucket-carry state per symbol.
# ---------------------------------------------------------------------------

VPIN_BUCKET_QTY = 2000.0

VPIN_OUTPUT_SCHEMA = (
    "symbol string, n_buckets bigint, vpin_raw double,"
    " max_imb_raw double, total_qty_raw double"
)
# closed-bucket accumulators + the OPEN bucket's partials + tick carry
VPIN_STATE_SCHEMA = (
    "n_closed bigint, sum_imb double, max_imb double, closed_qty double,"
    " open_b double, open_s double, open_v double,"
    " last_px double, last_sgn double, cum_qty double"
)


def _vpin_update(
    key: tuple[str],
    pdf_iter: "Iterator[pd.DataFrame]",
    state: Any,
) -> "Iterator[pd.DataFrame]":
    """GroupState VPIN: ticks sign by the carried tick rule, volume
    accumulates into floor(cum/V) buckets; a bucket's |b-s|/v folds into
    the summary the moment the running quantity crosses its boundary.
    State is O(1) per symbol no matter how long the stream runs -- the
    batch twin's groupBy over all buckets is the bounded-backfill path.
    The trailing OPEN bucket is folded provisionally at emission and
    recomputed if the next batch extends it (the kalman pending-bar
    discipline)."""
    if state.exists:
        (n_closed, sum_imb, max_imb, closed_qty,
         open_b, open_s, open_v, last_px, last_sgn, cum_qty) = state.get
    else:
        n_closed, sum_imb, max_imb, closed_qty = 0, 0.0, 0.0, 0.0
        open_b, open_s, open_v = 0.0, 0.0, 0.0
        last_px, last_sgn, cum_qty = None, None, 0.0
    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        open_id = int(cum_qty // VPIN_BUCKET_QTY) if cum_qty > 0 else 0
        for px, q in zip(pdf["value"], pdf["qty"]):
            px, q = float(px), float(q)
            # A tick missing props.$.k arrives as NaN; the batch twin
            # and the DuckDB oracle both SKIP NULL qty in their sums, so
            # treat it as zero quantity (the price still advances the
            # tick-rule sign carry, exactly as in the batch lag).
            if not math.isfinite(q):
                q = 0.0
            if last_px is not None:
                if px > last_px:
                    last_sgn = 1.0
                elif px < last_px:
                    last_sgn = -1.0
            last_px = px
            cum_qty += q
            bucket_id = int(cum_qty // VPIN_BUCKET_QTY)
            if bucket_id != open_id:
                # the tick that crosses the boundary belongs to the NEW
                # bucket (batch twin: bucket = floor(cum including self))
                if open_v > 0:
                    imb = abs(open_b - open_s) / open_v
                    n_closed += 1
                    sum_imb += imb
                    max_imb = max(max_imb, imb)
                closed_qty += open_v
                open_b, open_s, open_v = 0.0, 0.0, 0.0
                open_id = bucket_id
            open_v += q
            if last_sgn == 1.0:
                open_b += q
            elif last_sgn == -1.0:
                open_s += q
    state.update((n_closed, sum_imb, max_imb, closed_qty,
                  open_b, open_s, open_v, last_px, last_sgn, cum_qty))
    if cum_qty == 0.0 and last_px is None:
        return iter(())
    # provisional close of the open bucket (NOT stored)
    n, s_i, m_i = n_closed, sum_imb, max_imb
    if open_v > 0:
        imb = abs(open_b - open_s) / open_v
        n += 1
        s_i += imb
        m_i = max(m_i, imb)
    yield pd.DataFrame(
        [
            {
                "symbol": key[0],
                "n_buckets": n,
                "vpin_raw": (s_i / n) if n else None,
                "max_imb_raw": m_i if n else None,
                "total_qty_raw": closed_qty + open_v,
            }
        ]
    )


def vpin_stream(events: DataFrame) -> DataFrame:
    """Per-symbol streaming VPIN plan: groupBy(symbol) -> GroupState
    bucket fold over tick-rule-signed volume."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    prepped = events.select(
        "ts",
        "event_id",
        F.col("event_type"),
        "value",
        F.get_json_object(F.col("props"), "$.k").cast("double").alias("qty"),
    )
    return prepped.groupBy(F.col("event_type")).applyInPandasWithState(
        _vpin_update,
        outputStructType=VPIN_OUTPUT_SCHEMA,
        stateStructType=VPIN_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_vpin_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the streaming VPIN over the events fixture (availableNow) and
    return the LATEST row per symbol, column-compatible with the batch
    twin's oracle (vpin_toxicity)."""
    return (
        drain_latest(spark, lambda ss: vpin_stream(events_stream(ss, sf_dir)))
        .select(
            "symbol",
            "n_buckets",
            qround("vpin_raw").alias("vpin"),
            qround("max_imb_raw").alias("max_imbalance"),
            qround("total_qty_raw").alias("total_qty"),
        )
        .orderBy("symbol")
    )
