"""Financial indicator operators (engine extension).

The reference's dashboard computes SMA/RSI/price-delta
(dashboard.py:60-104, covered in operators/windows.py); this module adds
the other indicators a market-data gold layer serves -- VWAP, Bollinger
bands, max drawdown, inter-bar gaps -- all as built-in window/aggregate
expressions (JVM codegen, no UDF), each with an exact DuckDB twin.

One rule, one helper: a bar's open/close is its first/last tick by
(ts, event_id) -- ``_tick_order``, used only through ``_open`` /
``_close``.  ``_daily_closes`` is the single place the (symbol, day)
close frame is built (optionally over positive ticks only), and
``_daily_log_returns`` the single daily log-return stage on top of it.

Scale notes per operator in the docstrings; the common shape is one
shuffle on the symbol (tiny cardinality here, salted/AQE-handled when a
symbol is hot) and window frames bounded by row counts, so state per
task is O(frame), not O(partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.numeric import qround
from ..session import session_parallelism

def _safe_corr(x: str, y: str):
    """Pearson correlation that returns NULL (not DIVIDE_BY_ZERO) for a
    constant series under ANSI mode: covar_pop / (stddev_pop * stddev_pop)
    with the division guarded as a scalar CASE -- mathematically F.corr,
    differing only in float op order (absorbed by the 1e-6 quantization;
    oracle parity stays hash-identical on the fixtures)."""
    denom = F.stddev_pop(x) * F.stddev_pop(y)
    return F.when(denom != 0, qround(F.covar_pop(x, y) / denom, 6))


def _tick_order():
    """The module's one tick order: (ts, event_id).  event_id is the
    fixture's unique, engine-stable tiebreak for same-ts ticks."""
    return F.struct(F.col("ts"), F.col("event_id"))


def _open():
    """First value of the group in tick order (windowless min_by)."""
    return F.min_by(F.col("value"), _tick_order())


def _close():
    """Last value of the group in tick order (windowless max_by)."""
    return F.max_by(F.col("value"), _tick_order())


def _daily_closes(
    events: DataFrame, *extra, positive_only: bool = False
) -> DataFrame:
    """(symbol, day, c, *extra): a day's close is its last tick in
    ``_tick_order``; ``positive_only`` counts only ticks with value > 0.
    The single place for the daily-close rule -- the oracle twins'
    shared daily-close CTEs mirror it.  ``extra`` aggregates ride in the
    same partial-aggregable groupBy (one shuffle at day granularity)."""
    src = events.filter(F.col("value") > 0) if positive_only else events
    return src.groupBy(
        F.col("event_type").alias("symbol"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    ).agg(_close().alias("c"), *extra)


def vwap_daily(events: DataFrame) -> DataFrame:
    """Volume-weighted average price per (symbol, day); volume is the
    ``k`` field of the props JSON (the fixture's stand-in for trade
    quantity).

    Scale: JSON field extraction is scan-side and codegen'd; one
    partial-aggregable groupBy shuffle.  Zero-volume days keep NULL
    VWAP explicitly (ANSI division guard)."""
    qty = F.get_json_object(F.col("props"), "$.k").cast("double")
    vsum = F.sum(qty)
    return (
        events.groupBy(
            F.col("event_type").alias("symbol"),
            F.date_trunc("day", F.col("ts")).alias("day"),
        )
        .agg(
            F.when(vsum != 0, qround(F.sum(F.col("value") * qty) / vsum, 6))
            .alias("vwap"),
            qround(vsum, 6).alias("total_volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .orderBy("symbol", "day")
    )

def bollinger_bands(events: DataFrame, n: int = 20, width: float = 2.0) -> DataFrame:
    """Bollinger bands: n-row moving average +/- width * sample stddev
    per symbol, emitted only where the window is full (the standard
    null-prefix convention, same as SMA).

    Scale: the frame is ROWS-bounded so each task holds n rows of state
    per in-flight window; the window runs per (symbol, row-block) via
    ``_chunked_trailing`` -- identical frames/values, parallelism that
    scales with data volume instead of symbol count."""
    rows, wc = _chunked_trailing(
        events.select("event_id", "event_type", "ts", "value"),
        ["event_type"],
        ["ts", "event_id"],
        n,
    )
    w = wc.rowsBetween(-(n - 1), 0)
    mid = F.avg("value").over(w)
    sd = F.stddev_samp(F.col("value")).over(w)
    cnt = F.count(F.lit(1)).over(w)
    return (
        rows.select(
            "event_id",
            F.col("event_type").alias("symbol"),
            "ts",
            F.col("value").alias("price"),
            F.when(cnt == n, qround(mid, 6)).alias("bb_mid"),
            F.when(cnt == n, qround(mid + F.lit(width) * sd, 6)).alias("bb_upper"),
            F.when(cnt == n, qround(mid - F.lit(width) * sd, 6)).alias("bb_lower"),
            "__carry",
        )
        .filter(~F.col("__carry"))
        .drop("__carry")
        .orderBy("symbol", "ts", "event_id")
    )

def max_drawdown(events: DataFrame) -> DataFrame:
    """Maximum drawdown per symbol: largest peak-to-trough decline of
    the price series, as a fraction of the running peak.

    Scale: the running peak is an expanding-frame window max -- Spark
    evaluates it incrementally (one value of state per task), then one
    tiny groupBy.  Single shuffle on the symbol."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    peak = F.max("value").over(w)
    dd = F.when(peak > 0, (peak - F.col("value")) / peak).otherwise(F.lit(0.0))
    return (
        events.select(F.col("event_type").alias("symbol"), dd.alias("dd"))
        .groupBy("symbol")
        .agg(qround(F.max("dd"), 6).alias("max_drawdown"))
        .orderBy("symbol")
    )

def bar_gaps(events: DataFrame) -> DataFrame:
    """Opening gaps between consecutive minute bars per symbol: this
    bar's open minus the previous bar's close (the gap a candlestick
    chart annotates).

    Scale: composes the no-window OHLC aggregate (min_by/max_by, one
    shuffle) with a lag over the ALREADY-AGGREGATED bars -- the window
    runs on bar cardinality, not trade cardinality, so the expensive
    pass stays windowless."""
    from .rollup import minute_bars_unsorted

    bars = minute_bars_unsorted(events).select(
        "symbol", "minute_window", "open_price", "close_price"
    )
    w = Window.partitionBy("symbol").orderBy("minute_window")
    prev_close = F.lag("close_price").over(w)
    return (
        bars.select(
            "symbol",
            "minute_window",
            qround(F.col("open_price") - prev_close, 6).alias("gap"),
            F.when(
                prev_close > 0,
                qround((F.col("open_price") - prev_close) / prev_close, 6),
            ).alias("gap_pct"),
        )
        .filter(F.col("gap").isNotNull())
        .orderBy("symbol", "minute_window")
    )

def symbol_correlations(events: DataFrame) -> DataFrame:
    """Pairwise Pearson correlation of per-minute closing prices between
    symbols -- the cross-asset correlation matrix a risk dashboard keeps.

    Scale: the expensive pass is the minute-bar aggregate (min_by, one
    shuffle over trades); the correlation then runs on BAR cardinality:
    a self-equi-join of the bars on the minute key (both sides already
    small) and one partial-aggregable corr() per unordered pair.  The
    symbol < symbol guard halves the pair space and fixes output
    order."""
    from .rollup import minute_bars_unsorted

    bars = minute_bars_unsorted(events).select("symbol", "minute_window", "close_price")
    a = bars.select(
        F.col("symbol").alias("sym_a"),
        F.col("minute_window").alias("mw"),
        F.col("close_price").alias("close_a"),
    )
    b = bars.select(
        F.col("symbol").alias("sym_b"),
        F.col("minute_window").alias("mw_b"),
        F.col("close_price").alias("close_b"),
    )
    return (
        a.join(b, (F.col("mw") == F.col("mw_b")) & (F.col("sym_a") < F.col("sym_b")))
        .groupBy("sym_a", "sym_b")
        .agg(
            # ANSI-safe Pearson: F.corr's own final division throws on a
            # zero-variance series even under CASE (Catalyst extracts
            # aggregate functions out of the guard and evaluates them
            # unconditionally), so the ratio is built from covar/stddev
            # partials where the division is a guarded SCALAR expression
            _safe_corr("close_a", "close_b").alias("corr"),
            F.count(F.lit(1)).alias("n_minutes"),
        )
        .orderBy("sym_a", "sym_b")
    )

def _minute_bars(events: DataFrame) -> DataFrame:
    """Internal bar frame for the indicator layer: high/low/close/volume
    per (symbol, minute).  Values stay UNROUNDED here -- indicators do
    arithmetic on them and quantize only at the output boundary, so both
    engines run the identical IEEE sequence.  min_by/max_by keep the
    open/close semantics windowless (one partial-aggregable shuffle)."""
    qty = F.get_json_object(F.col("props"), "$.k").cast("double")
    return events.groupBy(
        F.col("event_type").alias("symbol"),
        F.date_trunc("minute", F.col("ts")).alias("minute_window"),
    ).agg(
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        _close().alias("close"),
        F.sum(qty).alias("vol"),
    )

def _chunked_trailing(
    df: DataFrame,
    part_cols: list,
    order_cols: list,
    max_h: int,
    chunk_rows: int = 4096,
    pre=None,
):
    """Chunked execution harness for bounded TRAILING window frames
    (guide s2.5/s2.6): ``partitionBy(key)`` caps a window stage at
    |keys| tasks, and Spark recomputes a moving frame from scratch per
    row, so one billion-row key history is one straggler task doing
    max_h x |rows| buffer visits.  This splits each key's rows into
    fixed ``chunk_rows`` blocks by per-key row number (one cheap
    O(1)-per-row window pass) and prepends each block with the previous
    block's last ``max_h - 1`` rows as context-only carries.

    Carries are generated IN the same pass via
    ``explode(array(own_chunk, next_chunk))`` on block-tail rows (the
    min_label_components one-pass mirroring discipline, r14): the r13
    union-of-two-branches shape needed an eager localCheckpoint of the
    full bar-cardinality input just to stop the row-number pass running
    twice -- the repo's largest materialization (round-13 verdict
    finding #4) AND a measured net cost at sf0.1 (the materialization
    job outweighed the duplicate pass it saved).  A single Generate
    duplicates only the max_h - 1 tail rows per block, nothing is
    materialized, and an executor loss replays lineage normally.

    Returns ``(rows, wspec)``: ``rows`` carries the input columns plus
    ``__rn``/``__chunk``/``__carry``; ``wspec`` is the per-(key, chunk)
    window.  The caller computes its frames over ``wspec``, emits a
    value only where COUNT over the frame equals the horizon (exactly
    the global full-window rule: carries supply every true predecessor,
    so the frame holds the same rows in the same order and every
    aggregate fold is IEEE-identical), and filters ``~__carry``."""
    if chunk_rows <= max_h:
        # Correctness precondition, not a debug check (a bare assert is
        # stripped under python -O and the seams would silently emit
        # wrong nulls): one carry block must be able to supply every
        # predecessor a frame can need.
        raise ValueError(
            f"_chunked_trailing: chunk_rows ({chunk_rows}) must exceed the"
            f" max horizon ({max_h}) so one carry block covers every frame"
        )
    w = Window.partitionBy(*part_cols).orderBy(*order_cols)
    # ``pre``: optional callable (wspec -> [Column, ...]) evaluated in
    # the SAME window stage as the row number (one sort, several frame
    # processors) -- the place for O(1)-per-row whole-key passes like
    # lag, which then arrive exact on every carry row and let the caller
    # drop their source columns from the chunked shuffle.
    numbered = df.select(
        "*",
        F.row_number().over(w).alias("__rn"),
        *(pre(w) if pre is not None else []),
    )
    blk = (F.col("__rn") - 1) - ((F.col("__rn") - 1) % chunk_rows)
    tail = (F.col("__rn") - 1) % chunk_rows >= chunk_rows - (max_h - 1)
    rows = (
        numbered.select(
            "*",
            F.explode(
                F.when(tail, F.array(blk, blk + chunk_rows)).otherwise(
                    F.array(blk)
                )
            ).alias("__chunk"),
        )
        .withColumn("__carry", F.col("__chunk") != blk)
        # EXPLICIT repartition on (key, chunk): hashpartitioning(key)
        # from the row-number pass already SATISFIES the chunk window's
        # ClusteredDistribution(key, chunk) (a prefix subset clusters
        # it), so without this Spark runs the chunk window in the SAME
        # one-partition-per-key layout -- zero parallelism gained, plus
        # a re-sort; the r13 localCheckpoint was unknowingly load-
        # bearing for exactly this (the fresh RDD had no known
        # partitioning, forcing the exchange).  The partition COUNT is
        # pinned (the _spread discipline, conf-driven: cluster deploys
        # size spark.default.parallelism to the cluster): a bare
        # repartition-by-column is AQE-coalescible, and AQE sizes
        # partitions by BYTES (64 MB advisory) while a window stage is
        # CPU-bound per row -- measured: AQE folded this exchange to ~1
        # partition at bench scale, serializing the window it exists to
        # parallelize.
        .repartition(
            session_parallelism(df.sparkSession),
            *part_cols,
            "__chunk",
        )
    )
    wspec = Window.partitionBy(*part_cols, "__chunk").orderBy("__rn")
    return rows, wspec


def atr(events: DataFrame, n: int = 14) -> DataFrame:
    """Average True Range (simple-MA variant) over minute bars: true range
    is the bar's span stretched to the previous close
    (``greatest(high-low, |high-prev_close|, |low-prev_close|)``); the
    first bar of a symbol falls back to ``high-low`` (standard seeding).
    ATR is the n-bar moving average, emitted only where the window is
    full (the same null-prefix convention as SMA/Bollinger).

    Scale: indicator passes run at BAR cardinality, not trade
    cardinality -- the expensive aggregate is the windowless bar rollup;
    the O(1)-per-row lag runs in the same window stage as the chunker's
    row number (``pre`` hook -- one sort, exact prev_close on every
    row, carries included), and only the n-bar frame-avg runs per
    (symbol, row-block), shuffling a single true-range double per
    bar."""
    bars = _minute_bars(events)
    rows, wc = _chunked_trailing(
        bars.select("symbol", "minute_window", "high", "low", "close"),
        ["symbol"],
        ["minute_window"],
        n,
        pre=lambda w: [F.lag("close").over(w).alias("__prev_close")],
    )
    prev_close = F.col("__prev_close")
    tr_raw = F.greatest(
        F.col("high") - F.col("low"),
        F.abs(F.col("high") - prev_close),
        F.abs(F.col("low") - prev_close),
    )
    staged = rows.select(
        "symbol",
        "minute_window",
        F.when(prev_close.isNull(), F.col("high") - F.col("low"))
        .otherwise(tr_raw)
        .alias("tr"),
        "__rn",
        "__chunk",
        "__carry",
    )
    frame = wc.rowsBetween(-(n - 1), 0)
    cnt = F.count(F.lit(1)).over(frame)
    return (
        staged.select(
            "symbol",
            "minute_window",
            qround(F.col("tr"), 6).alias("true_range"),
            F.when(cnt == n, qround(F.avg("tr").over(frame), 6)).alias("atr"),
            "__carry",
        )
        .filter(~F.col("__carry"))
        .drop("__carry")
        .orderBy("symbol", "minute_window")
    )

def stochastic_oscillator(events: DataFrame, n: int = 14, d: int = 3) -> DataFrame:
    """Stochastic oscillator over minute bars: ``%K = 100 * (close -
    min(low, n)) / (max(high, n) - min(low, n))`` where the n-bar window
    is full and has price range; ``%D`` is the d-bar average of %K,
    emitted once d non-null %K values exist.  Quantization happens only
    at the output so %D averages the raw %K sequence on both engines.

    Scale: same bar-cardinality posture as ATR, run per
    (symbol, row-block) via ``_chunked_trailing`` with carries sized
    n + d - 2 (max_h = n + d - 1): the %D frame needs d - 1 correct
    trailing %K values and each of those needs n - 1 predecessors of
    its own, so every base row's two stacked frames hold exactly the
    global rows.  Carries earlier in a block than n - 1 rows compute a
    locally-null %K, but those feed only other carries' %D frames --
    every emitted row's %K and %D fold over the identical values in the
    identical order."""
    bars = _minute_bars(events)
    rows, wc = _chunked_trailing(
        bars.select("symbol", "minute_window", "high", "low", "close"),
        ["symbol"],
        ["minute_window"],
        n + d - 1,
    )
    frame = wc.rowsBetween(-(n - 1), 0)
    low_n = F.min("low").over(frame)
    high_n = F.max("high").over(frame)
    cnt = F.count(F.lit(1)).over(frame)
    k_raw = F.when(
        (cnt == n) & (high_n != low_n),
        F.lit(100.0) * (F.col("close") - low_n) / (high_n - low_n),
    )
    staged = rows.select(
        "symbol",
        "minute_window",
        k_raw.alias("k_raw"),
        "__rn",
        "__chunk",
        "__carry",
    )
    dframe = wc.rowsBetween(-(d - 1), 0)
    d_cnt = F.count("k_raw").over(dframe)
    return (
        staged.select(
            "symbol",
            "minute_window",
            qround(F.col("k_raw"), 6).alias("pct_k"),
            F.when(d_cnt == d, qround(F.avg("k_raw").over(dframe), 6)).alias(
                "pct_d"
            ),
            "__carry",
        )
        .filter(~F.col("__carry"))
        .drop("__carry")
        .orderBy("symbol", "minute_window")
    )

def on_balance_volume(events: DataFrame) -> DataFrame:
    """On-balance volume over minute bars: running sum of bar volume
    signed by the close-to-close direction (up-bar adds, down-bar
    subtracts, flat contributes zero; a symbol's first bar contributes
    zero by the lag-NULL guard).

    Scale: lag + expanding cumulative sum share one exchange on the
    symbol; the expanding frame is evaluated incrementally (one
    accumulator per task), so state is O(1) per row."""
    bars = _minute_bars(events)
    w = Window.partitionBy("symbol").orderBy("minute_window")
    delta = F.col("close") - F.lag("close").over(w)
    signed = (
        F.when(delta > 0, F.col("vol"))
        .when(delta < 0, -F.col("vol"))
        .otherwise(F.lit(0.0))
    )
    staged = bars.select("symbol", "minute_window", signed.alias("signed_vol"))
    cum = Window.partitionBy("symbol").orderBy("minute_window").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return staged.select(
        "symbol",
        "minute_window",
        qround(F.sum("signed_vol").over(cum), 6).alias("obv"),
    ).orderBy("symbol", "minute_window")

def beta_vs_market(events: DataFrame) -> DataFrame:
    """Per-symbol beta against an equal-weight market index built from
    the corpus itself: minute close-to-close returns per symbol, the
    market return as the cross-symbol mean within each minute, then
    ``beta = covar_pop(r, m) / var_pop(m)`` (plus the correlation) per
    symbol -- the CAPM regression slope without leaving SQL semantics.

    Scale: returns run at bar cardinality; the market frame is a
    minute-keyed aggregate of the SAME frame (partial-aggregable); the
    re-join is minute-keyed equi-join (broadcastable: one row per
    minute); the final covariance is one tiny groupBy.  No pass ever
    touches trade cardinality after the bar rollup."""
    bars = _minute_bars(events)
    w = Window.partitionBy("symbol").orderBy("minute_window")
    prev = F.lag("close").over(w)
    rets = (
        bars.select(
            "symbol",
            "minute_window",
            F.when(prev != 0, F.col("close") / prev - F.lit(1.0)).alias("r"),
        )
        .filter(F.col("r").isNotNull())
    )
    market = rets.groupBy("minute_window").agg(
        F.avg("r").alias("m"), F.count(F.lit(1)).alias("n_syms")
    )
    joined = rets.join(F.broadcast(market), "minute_window")
    var_m = F.var_pop("m")
    return (
        joined.groupBy("symbol")
        .agg(
            F.when(var_m != 0, qround(F.covar_pop("r", "m") / var_m, 6)).alias("beta"),
            # same ANSI zero-variance-safe Pearson as symbol_correlations
            _safe_corr("r", "m").alias("corr_mkt"),
            F.count(F.lit(1)).alias("n_minutes"),
        )
        .orderBy("symbol")
    )

# MACD smoothing factors as division EXPRESSIONS (not decimal literals):
# both engines IEEE-divide the same integers, so the alphas are
# bit-identical without writing out 17 decimal digits.
MACD_FAST = "(2.0D / 13.0D)"   # EMA-12
MACD_SLOW = "(2.0D / 27.0D)"   # EMA-26
MACD_SIGNAL = "(2.0D / 10.0D)"  # EMA-9

def macd_summary(events: DataFrame) -> DataFrame:
    """MACD state per symbol over the minute-close series: final EMA-12,
    EMA-26, MACD line, signal line (EMA-9 of the MACD series), and the
    histogram.

    All three recurrences advance in ONE linear ``aggregate`` fold with
    a struct accumulator ``(e12, e26, sig)`` -- per step ``e12' = a12*x
    + (1-a12)*e12`` (same for e26), then ``sig' = a9*(e12'-e26') +
    (1-a9)*sig``.  Seeds follow the standard convention: the EMAs seed
    with the first close, so ``macd_1 = 0`` and the signal seeds at 0.
    The naive form (signal = EMA-9 over the materialized MACD series,
    each element a prefix fold) is O(n^2) in bars-per-symbol -- measured
    609 s at sf0.1 -- and is algebraically identical to this fold, which
    the cross-check in tests/test_properties.py pins.

    Scale, stated plainly (same caveat as windows.ema_per_symbol): the
    bounded-series batch/backfill form -- each symbol's bar series sits
    in one aggregation buffer, fine for per-symbol bar counts up to
    ~10^7; the streaming applyInPandasWithState EMA
    (streaming/stateful.py) is the O(1)-state unbounded path.  Bars,
    not trades: the only trade-cardinality pass is the windowless bar
    rollup."""
    bars = _minute_bars(events)
    seq = F.array_sort(F.collect_list(F.struct("minute_window", "close")))
    g = bars.groupBy("symbol").agg(seq.alias("seq"))
    vals = g.select(
        "symbol", F.expr("transform(seq, s -> s.close)").alias("vals")
    )
    a12, a26, a9 = MACD_FAST, MACD_SLOW, MACD_SIGNAL
    e12 = f"{a12} * x + (1.0D - {a12}) * acc.e12"
    e26 = f"{a26} * x + (1.0D - {a26}) * acc.e26"
    fold = (
        "aggregate(slice(vals, 2, size(vals)), "
        "named_struct('e12', cast(element_at(vals, 1) as double), "
        "             'e26', cast(element_at(vals, 1) as double), "
        "             'sig', 0.0D), "
        f"(acc, x) -> named_struct('e12', {e12}, 'e26', {e26}, "
        f"'sig', {a9} * (({e12}) - ({e26})) + (1.0D - {a9}) * acc.sig))"
    )
    staged = vals.select(
        "symbol",
        F.size("vals").cast("bigint").alias("n_bars"),
        F.expr(fold).alias("st"),
    )
    macd = F.col("st.e12") - F.col("st.e26")
    return staged.select(
        "symbol",
        "n_bars",
        qround(F.col("st.e12"), 6).alias("ema_fast"),
        qround(F.col("st.e26"), 6).alias("ema_slow"),
        qround(macd, 6).alias("macd"),
        qround(F.col("st.sig"), 6).alias("signal"),
        qround(macd - F.col("st.sig"), 6).alias("histogram"),
    ).orderBy("symbol")

def daily_return_volatility(events: DataFrame) -> DataFrame:
    """Daily realized volatility per symbol: population stddev of
    log-returns between consecutive trades -- the annualization input
    every options desk derives first.

    Scale: one window (lag over symbol order) at trade cardinality, then
    one partial-aggregable groupBy; ln() guards non-positive prices
    explicitly (ANSI mode raises on ln(<=0))."""
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    log_ret = F.when(
        (F.col("value") > 0) & (prev > 0), F.log(F.col("value") / prev)
    )
    return (
        events.select(
            F.col("event_type").alias("symbol"),
            F.date_trunc("day", F.col("ts")).alias("day"),
            log_ret.alias("r"),
        )
        .filter(F.col("r").isNotNull())
        .groupBy("symbol", "day")
        .agg(
            qround(F.stddev_pop("r"), 6).alias("realized_vol"),
            F.count(F.lit(1)).alias("n_returns"),
        )
        .orderBy("symbol", "day")
    )

def donchian_channels(events: DataFrame, n: int = 20) -> DataFrame:
    """Donchian channels over minute bars: the n-bar rolling extreme band
    (upper = max high, lower = min low), its midline, and the close's
    position within the band (0 = at the low, 1 = at the high) --
    emitted only where the window is full, position additionally guarded
    against a zero-range band.

    Scale: same bar-cardinality posture as ATR/stochastic -- a single
    ROWS-bounded frame feeding all four outputs, O(n) state per task,
    run per (symbol, row-block) via ``_chunked_trailing`` so one long
    symbol history is not one straggler task."""
    bars = _minute_bars(events).select("symbol", "minute_window", "high", "low", "close")
    rows, wc = _chunked_trailing(bars, ["symbol"], ["minute_window"], n)
    frame = wc.rowsBetween(-(n - 1), 0)
    upper = F.max("high").over(frame)
    lower = F.min("low").over(frame)
    cnt = F.count(F.lit(1)).over(frame)
    full = cnt == n
    pos = F.when(
        full & (upper != lower), (F.col("close") - lower) / (upper - lower)
    )
    return (
        rows.select(
            "symbol",
            "minute_window",
            F.when(full, qround(upper, 6)).alias("upper_band"),
            F.when(full, qround(lower, 6)).alias("lower_band"),
            F.when(full, qround((upper + lower) / F.lit(2.0), 6)).alias("mid_band"),
            qround(pos, 6).alias("channel_pos"),
            "__carry",
        )
        .filter(~F.col("__carry"))
        .drop("__carry")
        .orderBy("symbol", "minute_window")
    )


def resample_ffill(events: DataFrame) -> DataFrame:
    """Regular-grid resampling with forward fill: one close per
    (symbol, minute) on a gap-free 1-minute grid spanning each symbol's
    observed range; minutes with no trades carry the last known close
    (``gap_filled`` marks them).  The op every downstream indicator
    assumes when it wants aligned, continuous bars (the reference's
    dashboard resamples implicitly by only plotting observed minutes --
    dashboard.py:60-104; a gold layer has to materialize the grid).

    Close is the value of the max-event_id trade in the minute
    (event_id is the fixture's unique, engine-stable tiebreak).

    Scale: the grid is generated per symbol with ``sequence`` -- no
    driver-side loop, no cross join against a calendar table; grid rows
    scale with symbol-span, not data volume.  One equi-join on
    (symbol, minute) where both sides hash-partition identically, then
    one window shuffle on the symbol for the running ``last(ignorenulls)``
    fill (incremental state: one value per in-flight partition).  A
    symbol spanning years at minute grain is ~526k grid rows -- small;
    if the grid itself ever dominates, chunk the sequence by day and
    explode per chunk so no single row materializes a giant array."""
    minute_close = (
        events.groupBy(
            F.col("event_type").alias("symbol"),
            F.date_trunc("minute", F.col("ts")).alias("minute"),
        )
        .agg(F.max_by("value", F.col("event_id")).alias("close"))
    )
    grid = (
        minute_close.groupBy("symbol")
        .agg(F.min("minute").alias("t0"), F.max("minute").alias("t1"))
        .select(
            "symbol",
            F.explode(
                F.sequence("t0", "t1", F.expr("interval 1 minute"))
            ).alias("minute"),
        )
    )
    w = (
        Window.partitionBy("symbol")
        .orderBy("minute")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(minute_close, ["symbol", "minute"], "left")
        .select(
            "symbol",
            "minute",
            qround(F.last("close", ignorenulls=True).over(w), 6).alias("price"),
            F.col("close").isNull().alias("gap_filled"),
        )
        .orderBy("symbol", "minute")
    )


def rolling_median(events: DataFrame, n: int = 30) -> DataFrame:
    """Rolling n-trade median price per symbol -- the robust centerline
    an outlier-heavy tick stream needs where a moving average chases
    spikes (emitted only where the window is full, same null-prefix
    convention as SMA/Bollinger).

    Spark disallows ``median``/``percentile`` with a window frame
    (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so the frame is gathered
    with ``collect_list``, sorted row-locally, and the median read off
    the order statistics -- exactly DuckDB's ``median`` interpolation for
    the even-n frame (mean of the two middle values).

    Scale: one shuffle on the symbol; each output row materializes an
    n-element array (n = 30 here) -- O(n log n) per row, fine for
    indicator-sized frames; for a median over an unbounded/huge frame
    use the KLL sketch path (``percentile_approx``) instead, which
    merges instead of sorting.  The O(n log n)-per-row frame is the
    heaviest sliding window in the indicator family, so it runs per
    (symbol, row-block) via ``_chunked_trailing`` -- identical frames,
    data-scaled parallelism."""
    rows, wc = _chunked_trailing(
        events.select("event_id", "event_type", "ts", "value"),
        ["event_type"],
        ["ts", "event_id"],
        n,
    )
    w = wc.rowsBetween(-(n - 1), 0)
    arr = F.array_sort(F.collect_list("value").over(w))
    if n % 2 == 0:
        med = (F.element_at(arr, n // 2) + F.element_at(arr, n // 2 + 1)) / F.lit(2.0)
    else:
        med = F.element_at(arr, n // 2 + 1)
    cnt = F.count(F.lit(1)).over(w)
    return (
        rows.select(
            "event_id",
            F.col("event_type").alias("symbol"),
            "ts",
            F.col("value").alias("price"),
            F.when(cnt == n, qround(med, 6)).alias("rolling_median"),
            "__carry",
        )
        .filter(~F.col("__carry"))
        .drop("__carry")
        .orderBy("symbol", "ts", "event_id")
    )


def twap_daily(events: DataFrame) -> DataFrame:
    """Time-weighted average price per (symbol, day): each tick's price
    is weighted by how long it prevailed -- the seconds until the next
    tick of the same symbol that day; the day's last tick carries zero
    holding time and is excluded from the weighting (its price never
    prevailed within the day).  TWAP is the execution-quality benchmark
    VWAP cannot replace when volume is bursty: a thin market's single
    large trade dominates VWAP but not TWAP.

    Scale: one lead() window over (symbol, day) ordered by time -- a
    single exchange on a high-cardinality composite key with O(1) frame
    state -- then a partial-aggregable groupBy at (symbol, day)
    cardinality.  Single-tick days have no prevailing interval: NULL
    TWAP by the ANSI division guard, never an error."""
    from pyspark.sql import Window

    day = F.date_trunc("day", F.col("ts"))
    w = Window.partitionBy("event_type", day).orderBy("ts", "event_id")
    hold = (
        F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    ).cast("double") / F.lit(1e6)
    ticked = events.select(
        F.col("event_type").alias("symbol"),
        day.alias("day"),
        F.col("value"),
        hold.alias("hold_s"),
    )
    wsum = F.sum("hold_s")
    return (
        ticked.groupBy("symbol", "day")
        .agg(
            F.when(wsum > 0, qround(F.sum(F.col("value") * F.col("hold_s")) / wsum, 6))
            .alias("twap"),
            qround(wsum, 3).alias("span_s"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .orderBy("symbol", "day")
    )


def engulfing_patterns(events: DataFrame) -> DataFrame:
    """Candlestick engulfing detection on minute OHLC bars: a bullish
    engulfing is a down bar followed by an up bar whose body covers the
    previous body (open <= prev close AND close >= prev open); bearish
    is the mirror.  The classic two-bar reversal signal, expressed as
    pure lag comparisons -- no pattern-matching DSL needed.

    Scale: bars are one partial-aggregable min_by/max_by rollup (one
    shuffle, windowless open/close); the pattern test is a lag window
    over (symbol) ordered by minute -- one more exchange at bar (not
    tick) cardinality, O(1) state."""
    from pyspark.sql import Window

    bars = events.groupBy(
        F.col("event_type").alias("symbol"),
        F.date_trunc("minute", F.col("ts")).alias("minute"),
    ).agg(_open().alias("open"), _close().alias("close"))
    w = Window.partitionBy("symbol").orderBy("minute")
    po, pc = F.lag("open").over(w), F.lag("close").over(w)
    bullish = (
        (pc < po)                               # previous bar down
        & (F.col("close") > F.col("open"))      # current bar up
        & (F.col("open") <= pc)                 # body engulfs...
        & (F.col("close") >= po)
    )
    bearish = (
        (pc > po)
        & (F.col("close") < F.col("open"))
        & (F.col("open") >= pc)
        & (F.col("close") <= po)
    )
    return (
        bars.select(
            "symbol",
            "minute",
            qround(F.col("open"), 6).alias("open"),
            qround(F.col("close"), 6).alias("close"),
            F.coalesce(bullish, F.lit(False)).alias("bullish_engulfing"),
            F.coalesce(bearish, F.lit(False)).alias("bearish_engulfing"),
        )
        .filter(F.col("bullish_engulfing") | F.col("bearish_engulfing"))
        .orderBy("symbol", "minute")
    )

def _daily_bars(events: DataFrame, positive_only: bool = False) -> DataFrame:
    """Internal daily OHLC frame: open/high/low/close per (symbol, day),
    open/close resolved windowlessly via ``_open`` / ``_close``
    -- one partial-aggregable shuffle at day granularity, same shape as
    ``_minute_bars``.  ``positive_only`` drops non-positive ticks first
    (required by log-range volatility estimators; mirrored in oracles)."""
    src = events.filter(F.col("value") > 0) if positive_only else events
    return src.groupBy(
        F.col("event_type").alias("symbol"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    ).agg(
        _open().alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        _close().alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
    )

def range_volatility(events: DataFrame) -> DataFrame:
    """Daily range-based volatility estimators per (symbol, day):
    Parkinson (high/low range) and Garman-Klass (range + open/close
    drift) -- the standard OHLC estimators that extract ~5-7x more
    efficiency from a day's bar than close-to-close variance, straight
    from the published formulas (Parkinson 1980, Garman-Klass 1980):

        parkinson    = sqrt( ln(H/L)^2 / (4 ln 2) )
        garman_klass = sqrt( 0.5 ln(H/L)^2 - (2 ln 2 - 1) ln(C/O)^2 )

    Non-positive ticks are excluded (a log-range over value <= 0 is
    undefined); since L <= O,C <= H the GK radicand is non-negative
    analytically, and it is clamped at 0 against float round-off.

    Scale: one windowless OHLC rollup at day granularity (partial agg
    before the shuffle), then per-row arithmetic -- no window pass at
    all; the whole query is one exchange at |symbol x day| cardinality."""
    bars = _daily_bars(events, positive_only=True)
    hl = F.log(F.col("high") / F.col("low"))
    co = F.log(F.col("close") / F.col("open"))
    ln2 = 0.6931471805599453
    gk_rad = F.greatest(
        F.lit(0.5) * hl * hl - F.lit(2.0 * ln2 - 1.0) * co * co, F.lit(0.0)
    )
    return bars.select(
        "symbol",
        "day",
        "n_ticks",
        qround(F.sqrt(hl * hl / F.lit(4.0 * ln2)), 6).alias("parkinson_vol"),
        qround(F.sqrt(gk_rad), 6).alias("garman_klass_vol"),
    ).orderBy("symbol", "day")

def pivot_points(events: DataFrame) -> DataFrame:
    """Classic floor-trader pivot levels for each (symbol, day), computed
    from the PREVIOUS day's high/low/close -- the levels a trading desk
    publishes before the open:

        P = (H + L + C) / 3;  R1 = 2P - L;  S1 = 2P - H
        R2 = P + (H - L);     S2 = P - (H - L)

    Days with no prior bar (each symbol's first day) are omitted, the
    same null-prefix convention as the moving-average indicators.

    Scale: a day-granularity OHLC rollup plus ONE lag window over
    (symbol) ordered by day -- both passes share an exchange at bar
    cardinality; state per task is a single previous row."""
    bars = _daily_bars(events)
    w = Window.partitionBy("symbol").orderBy("day")
    ph, pl, pc = (F.lag(c).over(w) for c in ("high", "low", "close"))
    p = (ph + pl + pc) / 3.0
    return (
        bars.select(
            "symbol",
            "day",
            qround(p, 6).alias("pivot"),
            qround(2.0 * p - pl, 6).alias("r1"),
            qround(2.0 * p - ph, 6).alias("s1"),
            qround(p + (ph - pl), 6).alias("r2"),
            qround(p - (ph - pl), 6).alias("s2"),
        )
        .filter(F.col("pivot").isNotNull())
        .orderBy("symbol", "day")
    )

def williams_r(events: DataFrame, n: int = 14) -> DataFrame:
    """Williams %R momentum oscillator over minute bars: position of the
    close inside the n-bar high-low channel, scaled to [-100, 0]
    (``-100 * (HH - close) / (HH - LL)``).  Emitted only where the
    window is full; a flat channel (HH = LL) yields NULL rather than a
    division error -- the overbought/oversold reading is undefined when
    the price never moved.

    Scale: bar rollup (one shuffle) + one frame-bounded window pass run
    per (symbol, row-block) via ``_chunked_trailing`` -- O(n) rows of
    state per task, identical frames, parallelism that scales with data
    volume instead of symbol count."""
    bars = _minute_bars(events)
    rows, wc = _chunked_trailing(
        bars.select("symbol", "minute_window", "high", "low", "close"),
        ["symbol"],
        ["minute_window"],
        n,
    )
    w = wc.rowsBetween(-(n - 1), 0)
    hh = F.max("high").over(w)
    ll = F.min("low").over(w)
    full = F.count(F.lit(1)).over(w) == n
    wr = F.when(hh != ll, -100.0 * (hh - F.col("close")) / (hh - ll))
    return (
        rows.select(
            "symbol",
            "minute_window",
            qround(F.col("close"), 6).alias("close"),
            F.when(full, qround(hh, 6)).alias("channel_high"),
            F.when(full, qround(ll, 6)).alias("channel_low"),
            F.when(full, qround(wr, 6)).alias("williams_r"),
            "__carry",
        )
        .filter(~F.col("__carry") & F.col("channel_high").isNotNull())
        .drop("__carry")
        .orderBy("symbol", "minute_window")
    )

def cci(events: DataFrame, n: int = 20) -> DataFrame:
    """Commodity Channel Index over minute bars: deviation of the
    typical price ``tp = (H + L + C) / 3`` from its n-bar mean, scaled
    by 0.015x the MEAN ABSOLUTE deviation (Lambert's original scaling).
    MAD is deviation-from-the-window-mean, so it cannot be expressed as
    a window aggregate of any precomputed per-row column: the window's
    tp values are collected into a bounded array (n rows max) and both
    the mean and the MAD fold over that array JVM-side.  A zero-MAD
    window (n identical bars) yields NULL.  Emitted only where the
    window is full.

    Scale: bar-cardinality window with O(n) array state per row -- the
    collect_list frame is bounded by the constant n, never by data
    volume; both folds are codegen'd array aggregates, no UDF.  Runs
    per (symbol, row-block) via ``_chunked_trailing`` (identical
    frames, data-scaled parallelism)."""
    bars = _minute_bars(events)
    tp = ((F.col("high") + F.col("low") + F.col("close")) / 3.0).alias("tp")
    with_tp, wc = _chunked_trailing(
        bars.select("symbol", "minute_window", tp),
        ["symbol"],
        ["minute_window"],
        n,
    )
    w = wc.rowsBetween(-(n - 1), 0)
    ws = F.collect_list("tp").over(w)
    frame = (
        with_tp.select("symbol", "minute_window", "tp", ws.alias("ws"), "__carry")
        .filter((F.size("ws") == n) & ~F.col("__carry"))
        .drop("__carry")
        # hoist the window mean into its own column: referencing it from
        # the MAD lambda via a nested aggregate() would re-fold the sum
        # once PER ELEMENT (O(n^2) per row -- measured 4x slower)
        .withColumn(
            "m", F.expr(f"aggregate(ws, cast(0.0 as double), (a, x) -> a + x) / {n}")
        )
    )
    mean = F.col("m")
    mad = F.expr(f"aggregate(ws, cast(0.0 as double), (a, x) -> a + abs(x - m)) / {n}")
    cci_val = F.when(mad != 0, (F.col("tp") - mean) / (F.lit(0.015) * mad))
    return frame.select(
        "symbol",
        "minute_window",
        qround(F.col("tp"), 6).alias("typical_price"),
        qround(mean, 6).alias("tp_sma"),
        qround(cci_val, 6).alias("cci"),
    ).orderBy("symbol", "minute_window")

def return_autocorr(events: DataFrame) -> DataFrame:
    """Lag-1 autocorrelation of daily close-to-close returns per symbol
    -- the classic mean-reversion / momentum diagnostic (negative =
    reverting, positive = trending).  Population Pearson correlation of
    (r_t, r_{t-1}), guarded to NULL for constant series, over daily
    bars.

    Scale: day-granularity rollup + one lag window + one final groupBy
    at |symbols| cardinality -- every pass partial-aggregates;
    correlation is the one-pass covar_pop/stddev_pop form, no re-scan."""
    bars = _daily_bars(events)
    w = Window.partitionBy("symbol").orderBy("day")
    prev_close = F.lag("close").over(w)
    # zero/NULL prior close cannot anchor a return (ANSI doubles raise
    # DIVIDE_BY_ZERO); such days yield NULL r and drop out of the pairs
    rets = bars.select(
        "symbol",
        "day",
        F.when(prev_close != 0, F.col("close") / prev_close - 1.0).alias("r"),
    ).withColumn("r_prev", F.lag("r").over(w))
    pair = rets.filter(F.col("r").isNotNull() & F.col("r_prev").isNotNull())
    return (
        pair.groupBy("symbol")
        .agg(
            # the correlation SAMPLE: consecutive (r_t, r_{t-1}) pairs --
            # a D-day series contributes D-2 pairs; the mean is over the
            # same sample so every reported number shares one population
            F.count(F.lit(1)).alias("n_pairs"),
            _safe_corr("r", "r_prev").alias("autocorr_lag1"),
            qround(F.avg("r"), 6).alias("mean_paired_return"),
        )
        .orderBy("symbol")
    )

def skyline_days(events: DataFrame) -> DataFrame:
    """Pareto-frontier (skyline) of trading days per symbol on the
    (total volume, average price) plane: a day survives iff no other day
    of the same symbol is >= on BOTH axes and strictly better on one --
    the classic maximal-vector query ("days that were both busy and
    expensive", with nothing strictly better available).

    Scale: dominance is evaluated with an O(n log n) window sweep, not
    the O(n^2) all-pairs NOT EXISTS the semantics naively suggest (the
    oracle runs exactly that quadratic form, which is the point of the
    pair): collapse to one row per distinct volume (keeping the max
    price there), take the prefix-max price over STRICTLY greater
    volumes (distinct-row frame makes ROWS 1 PRECEDING mean exactly
    "strictly greater"), and a day survives iff it carries its volume's
    max price and beats that prefix max.  Ties on both axes are mutual
    non-domination -- duplicates both survive.  Everything after the bar
    rollup runs at day cardinality; dominance is decided on the ROUNDED
    plane so both engines compare identical doubles."""
    qty = F.get_json_object(F.col("props"), "$.k").cast("double")
    pts = (
        events.groupBy(
            F.col("event_type").alias("symbol"),
            F.date_trunc("day", F.col("ts")).alias("day"),
        )
        .agg(
            qround(F.sum(qty), 6).alias("total_volume"),
            qround(F.avg("value"), 6).alias("avg_price"),
        )
        # NULL on either axis cannot be ordered against: such days are
        # excluded on BOTH engines (a NULL comparison would silently keep
        # the row under the oracle's NOT EXISTS but drop it here)
        .filter(F.col("total_volume").isNotNull() & F.col("avg_price").isNotNull())
    )
    per_x = Window.partitionBy("symbol", "total_volume")
    with_mx = pts.withColumn("max_y_at_x", F.max("avg_price").over(per_x))
    xs = with_mx.select("symbol", "total_volume", "max_y_at_x").distinct()
    w_prefix = (
        Window.partitionBy("symbol")
        .orderBy(F.col("total_volume").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = xs.withColumn("best_above", F.max("max_y_at_x").over(w_prefix)).select(
        "symbol", "total_volume", "best_above"
    )
    return (
        with_mx.join(prefix, ["symbol", "total_volume"])
        .filter(
            (F.col("avg_price") == F.col("max_y_at_x"))
            & (F.col("best_above").isNull() | (F.col("avg_price") > F.col("best_above")))
        )
        .select("symbol", "day", "total_volume", "avg_price")
        .orderBy("symbol", F.col("total_volume").desc(), "day")
    )

def dollar_bars(events: DataFrame, bucket_dollars: float = 250_000.0) -> DataFrame:
    """Dollar bars: OHLC bars cut every ``bucket_dollars`` of traded
    dollar volume instead of every N minutes -- the volume-clock
    sampling quant desks prefer because information arrives per dollar
    traded, not per wall-clock minute (Lopez de Prado, "Advances in
    Financial Machine Learning", ch. 2: time bars oversample quiet
    periods and undersample bursts; dollar bars equalize information
    per bar).  Bar id = floor(cumulative value*qty / bucket); each bar
    reports OHLC, dollar volume, tick count and its time span.

    Scale: the cumulative sum is one window pass per symbol (sequential
    within the time-sorted partition, O(1) state), then one windowless
    partial-agg rollup at bar cardinality -- the same two-exchange
    budget as the minute-bar family.  Both engines fold the cumsum over
    the identical (ts, event_id) order, so bar boundaries -- a floor of
    a float sum -- are bit-identical."""
    qty = F.get_json_object(F.col("props"), "$.k").cast("double")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum(F.col("value") * qty).over(w)
    ticks = events.select(
        F.col("event_type").alias("symbol"),
        "ts",
        "event_id",
        "value",
        (F.col("value") * qty).alias("dollars"),
        F.floor(cum / F.lit(bucket_dollars)).alias("bar_id"),
    )
    return (
        ticks.groupBy("symbol", "bar_id")
        .agg(
            _open().alias("open_raw"),
            F.max("value").alias("high_raw"),
            F.min("value").alias("low_raw"),
            _close().alias("close_raw"),
            F.sum("dollars").alias("dv"),
            F.count(F.lit(1)).alias("n_ticks"),
            F.min("ts").alias("bar_start"),
            F.max("ts").alias("bar_end"),
        )
        .select(
            "symbol",
            "bar_id",
            qround(F.col("open_raw"), 6).alias("open"),
            qround(F.col("high_raw"), 6).alias("high"),
            qround(F.col("low_raw"), 6).alias("low"),
            qround(F.col("close_raw"), 6).alias("close"),
            qround(F.col("dv"), 6).alias("dollar_volume"),
            "n_ticks",
            "bar_start",
            "bar_end",
        )
        .orderBy("symbol", "bar_id")
    )

def _tick_signs(events: DataFrame):
    """Internal: the tick rule (Lee-Ready without quotes) -- an uptick is
    a buy (+1), a downtick a sell (-1), and a zero tick inherits the
    previous non-zero sign (carried with an IGNORE NULLS last_value
    window, O(1) state).  Returns (symbol, ts, event_id, value, qty, dp,
    sign); each symbol's first tick (no prior sign) has NULL sign, and
    ``dp`` (the price change driving the sign) rides along so consumers
    never rebuild the lag window themselves."""
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    dp = F.col("value") - F.lag("value").over(w)
    raw = F.when(dp > 0, F.lit(1)).when(dp < 0, F.lit(-1))
    qty = F.get_json_object(F.col("props"), "$.k").cast("double")
    carry = Window.partitionBy("symbol").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return events.select(
        F.col("event_type").alias("symbol"),
        "ts",
        "event_id",
        "value",
        qty.alias("qty"),
        dp.alias("dp"),
        raw.alias("raw_sign"),
    ).select(
        "symbol",
        "ts",
        "event_id",
        "value",
        "qty",
        "dp",
        F.last("raw_sign", ignorenulls=True).over(carry).alias("sign"),
    )

def order_flow_imbalance(events: DataFrame) -> DataFrame:
    """Order-flow imbalance per (symbol, day) via the tick rule: classify
    every trade as buyer- or seller-initiated from its price change
    (zero ticks inherit the prior sign), then report buy/sell counts,
    signed volume, and the imbalance ratio (buys - sells)/(buys + sells)
    -- the microstructure pressure gauge that leads short-horizon
    returns.  Unclassifiable ticks (each symbol's leading run before any
    price change) are counted but excluded from the ratio.

    Scale: one lag window + one sign-carry window sharing the same
    (symbol, time) sort -- a single exchange -- then a partial-agg
    groupBy at day granularity."""
    signed = _tick_signs(events)
    buys = F.sum((F.col("sign") == 1).cast("long"))
    sells = F.sum((F.col("sign") == -1).cast("long"))
    return (
        signed.groupBy(
            "symbol", F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_ticks"),
            buys.alias("n_buys"),
            sells.alias("n_sells"),
            qround(F.sum(F.col("sign") * F.coalesce("qty", F.lit(0.0))), 6).alias(
                "signed_volume"
            ),
        )
        .select(
            "symbol",
            "day",
            "n_ticks",
            "n_buys",
            "n_sells",
            "signed_volume",
            F.when(
                (F.col("n_buys") + F.col("n_sells")) > 0,
                qround(
                    (F.col("n_buys") - F.col("n_sells"))
                    / (F.col("n_buys") + F.col("n_sells")).cast("double"),
                    6,
                ),
            ).alias("imbalance"),
        )
        .orderBy("symbol", "day")
    )

def kyle_lambda(events: DataFrame) -> DataFrame:
    """Kyle's lambda per symbol: the price-impact coefficient from the
    closed-form OLS of price change on signed volume (tick-rule signs),
    ``lambda = cov(dp, sv) / var(sv)`` -- how many price units one unit
    of net order flow moves the market; the standard illiquidity
    measure.  Constant signed volume yields NULL (guarded), and ticks
    without a classified sign or prior price are excluded.

    Scale: the tick windows share one (symbol, time) exchange; the OLS
    is the one-pass covar_pop/var_pop closed form (same discipline as
    ``ols_volatility_price``) at symbol cardinality."""
    signed = _tick_signs(events)
    obs = signed.filter(
        F.col("sign").isNotNull() & F.col("dp").isNotNull() & F.col("qty").isNotNull()
    ).select("symbol", "dp", (F.col("sign") * F.col("qty")).alias("sv"))
    var_sv = F.var_pop("sv")
    return (
        obs.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.when(var_sv != 0, qround(F.covar_pop("dp", "sv") / var_sv, 9)).alias(
                "kyle_lambda"
            ),
            _safe_corr("dp", "sv").alias("flow_corr"),
        )
        .orderBy("symbol")
    )

def _rolling_vol_stack(
    events: DataFrame, horizons: tuple, chunk_rows: int = 2048
) -> DataFrame:
    """Shared rolling-realized-vol frame for the cone family: minute
    bars -> log returns -> per-horizon rolling stddev (full windows
    only), stacked to (symbol, horizon, rv) rows.

    The stddev frames run per (symbol, row-block) via
    ``_chunked_trailing``; the log-return lag rides its ``pre`` hook,
    so it sees the true predecessor across every block seam.  Each
    symbol's first bar has a NULL return, which ``count`` skips, so no
    frame holding it reaches ``count == h``: the emitted frames and
    every stddev_samp fold match the one-partition-per-symbol form."""
    bars = _minute_bars(events).filter(F.col("close") > 0)
    rows, wc = _chunked_trailing(
        bars.select("symbol", "minute_window", "close"),
        ["symbol"],
        ["minute_window"],
        max(horizons),
        chunk_rows,
        pre=lambda w: [F.log(F.col("close") / F.lag("close").over(w)).alias("r")],
    )
    cols = []
    for h in horizons:
        wf = wc.rowsBetween(-(h - 1), 0)
        cols.append(
            F.when(
                F.count("r").over(wf) == h, F.stddev_samp("r").over(wf)
            ).alias(f"rv_{h}")
        )
    rolled = rows.select("symbol", "__carry", *cols).filter(~F.col("__carry"))
    return rolled.select(
        "symbol",
        F.expr(
            "stack({n}, {args}) AS (horizon, rv)".format(
                n=len(horizons),
                args=", ".join(f"{h}, rv_{h}" for h in horizons),
            )
        ),
    ).filter(F.col("rv").isNotNull())


def volatility_cones(events: DataFrame, horizons: tuple = (5, 20, 60)) -> DataFrame:
    """Volatility cones: the distribution (min / p25 / median / p75 /
    max) of rolling realized volatility at several horizons per symbol
    -- the chart a vol desk uses to judge whether CURRENT realized vol
    is cheap or rich relative to its own history at that horizon.
    Realized vol = sample stddev of minute-bar log returns over the
    horizon's bar count, full windows only.

    Scale: minute bars first (one partial-agg shuffle at bar
    cardinality); ONE window sort serves every horizon's ROWS-bounded
    stddev frame (same-spec windows share the exchange); the cone
    percentiles aggregate at (symbol x horizon) cardinality.  Exact
    percentile is the oracle twin; KLL at 100 TB as usual."""
    stacked = _rolling_vol_stack(events, horizons)
    return (
        stacked.groupBy("symbol", "horizon")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            qround(F.min("rv"), 6).alias("rv_min"),
            # ONE percentile aggregate for all three quantiles: each
            # separate percentile() call buffers and sorts the group's
            # values independently (measured ~2s of the query's wall);
            # the array form shares one buffer and one sort
            F.expr("percentile(rv, array(0.25D, 0.5D, 0.75D))").alias("ps"),
            qround(F.max("rv"), 6).alias("rv_max"),
        )
        .select(
            "symbol",
            "horizon",
            "n_windows",
            "rv_min",
            qround(F.col("ps")[0], 6).alias("rv_p25"),
            qround(F.col("ps")[1], 6).alias("rv_median"),
            qround(F.col("ps")[2], 6).alias("rv_p75"),
            "rv_max",
        )
        .orderBy("symbol", "horizon")
    )


def volatility_cones_approx(
    events: DataFrame, horizons: tuple = (5, 20, 60)
) -> DataFrame:
    """The documented 100 TB swap for ``volatility_cones``: cone
    quantiles from ``percentile_approx`` (GK mergeable sketch, accuracy
    10000) instead of the exact sort-based ``percentile`` -- one pass,
    no per-group value buffer, mergeable across executors.

    Oracle-checkable audit form (the KMV template): the sketch values
    are engine-internal, so the emitted quantile columns are the EXACT
    ones (recomputable by DuckDB ``quantile_cont``) and the sketch folds
    into an ``approx_within_band`` certificate -- every approx quantile
    must land between the exact quantiles at p +/- 0.01, a real
    rank-error assertion with 100x headroom over the sketch's 1e-4
    guarantee.  Same shared single window sort as the exact cone."""
    stacked = _rolling_vol_stack(events, horizons)
    approx = F.percentile_approx("rv", [0.25, 0.5, 0.75], 10000)
    # ONE exact percentile aggregate for all nine quantiles (3 bands x
    # lo/exact/hi): each separate percentile() call buffers and sorts
    # the group independently -- fusing them cut the warm wall ~1.5x
    exact9 = F.expr(
        "percentile(rv, array(0.24D, 0.25D, 0.26D,"
        " 0.49D, 0.5D, 0.51D, 0.74D, 0.75D, 0.76D))"
    )
    in_band = F.expr(
        "forall(sequence(0, 2), i ->"
        " ap[i] >= pe[i * 3] AND ap[i] <= pe[i * 3 + 2])"
    )
    return (
        stacked.groupBy("symbol", "horizon")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            qround(F.min("rv"), 6).alias("rv_min"),
            approx.alias("ap"),
            exact9.alias("pe"),
            qround(F.max("rv"), 6).alias("rv_max"),
        )
        .select(
            "symbol",
            "horizon",
            "n_windows",
            "rv_min",
            qround(F.element_at("pe", 2), 6).alias("rv_p25"),
            qround(F.element_at("pe", 5), 6).alias("rv_median"),
            qround(F.element_at("pe", 8), 6).alias("rv_p75"),
            "rv_max",
            in_band.alias("approx_within_band"),
        )
        .orderBy("symbol", "horizon")
    )


def bipower_jump_stats(events: DataFrame) -> DataFrame:
    """Jump detection via realized variance vs bipower variation
    (Barndorff-Nielsen & Shephard 2004): per (symbol, day), RV = sum of
    squared minute-bar log returns captures TOTAL quadratic variation
    (continuous + jumps) while BV = (pi/2) * sum(|r_i| * |r_{i-1}|) is
    robust to jumps and estimates only the continuous part -- so
    max(RV - BV, 0) isolates the day's jump contribution, and
    jump_share = jump / RV is the fraction of that day's variance that
    arrived in discontinuous moves (the quantity a risk desk monitors to
    separate "volatile day" from "gapped day").

    Scale: minute bars first (one partial-agg shuffle at bar
    cardinality); returns and the adjacent-|r| product come from ONE
    (symbol, day) window sort shared by both lags; the report aggregates
    at (symbol x day) cardinality."""
    bars = _minute_bars(events).filter(F.col("close") > 0)
    b = bars.select(
        "symbol",
        "minute_window",
        "close",
        F.date_trunc("day", F.col("minute_window")).alias("day"),
    )
    w = Window.partitionBy("symbol", "day").orderBy("minute_window")
    r = F.log(F.col("close") / F.lag("close").over(w))
    rets = b.select("symbol", "day", "minute_window", r.alias("r")).filter(
        F.col("r").isNotNull()
    )
    prev_r = F.lag("r").over(w)
    rr = rets.select("symbol", "day", "r", prev_r.alias("pr"))
    half_pi = 1.5707963267948966
    rv = F.sum(F.col("r") * F.col("r"))
    bv = F.lit(half_pi) * F.coalesce(
        F.sum(F.when(F.col("pr").isNotNull(), F.abs("r") * F.abs("pr"))),
        F.lit(0.0),
    )
    jump = F.greatest(rv - bv, F.lit(0.0))
    return (
        rr.groupBy("symbol", "day")
        .agg(
            F.count(F.lit(1)).alias("n_rets"),
            qround(rv, 6).alias("realized_var"),
            qround(bv, 6).alias("bipower_var"),
            qround(jump, 6).alias("jump_var"),
            F.when(rv != 0, qround(jump / rv, 6)).alias("jump_share"),
        )
        .orderBy("symbol", "day")
    )


def pairs_spread_zscore(events: DataFrame, z_alert: float = 2.0) -> DataFrame:
    """Pairs-trading spread monitor for every unordered symbol pair:
    hedge ratio from the OLS closed form (covar_pop / var_pop of
    minute closes), spread = close_a - h * close_b, and the spread's
    z-score history reduced to alert counts -- the stat-arb screen that
    finds when a historically-cointegrated pair has diverged
    (|z| > ``z_alert``).  Two passes by construction: pair-level stats
    (one partial-agg groupBy), then the z pass with stats broadcast
    back -- the same split a 100 TB backtest uses, since per-pair state
    is O(1).

    Scale: the expensive input is the minute-bar aggregate (one shuffle
    at bar cardinality, shared machinery with symbol_correlations); the
    pair join runs at bar cardinality with the symbol < symbol guard
    halving the space; everything downstream is pair-cardinality."""
    from .rollup import minute_bars_unsorted

    # bar-cardinality lineage cut: `bars` feeds both sides of the pair
    # join, which itself is re-evaluated by the two-pass z protocol --
    # without the cut the corpus-sized minute rollup re-embeds ~8x in
    # the final plan (measured 54 KB of physical plan)
    bars = (
        minute_bars_unsorted(events)
        .select("symbol", "minute_window", "close_price")
        .localCheckpoint(eager=True)
    )
    a = bars.select(
        F.col("symbol").alias("sym_a"),
        F.col("minute_window").alias("mw"),
        F.col("close_price").alias("pa"),
    )
    b = bars.select(
        F.col("symbol").alias("sym_b"),
        F.col("minute_window").alias("mw_b"),
        F.col("close_price").alias("pb"),
    )
    paired = a.join(
        b, (F.col("mw") == F.col("mw_b")) & (F.col("sym_a") < F.col("sym_b"))
    ).select("sym_a", "sym_b", "mw", "pa", "pb")
    var_b = F.var_pop("pb")
    h = F.when(var_b != 0, F.covar_pop("pa", "pb") / var_b)
    # pair-cardinality cuts (tiny frames): stats joins back onto the
    # pair stream, and spread_stats is consumed by both the alert pass
    # and the final report
    stats = paired.groupBy("sym_a", "sym_b").agg(
        F.count(F.lit(1)).alias("n_minutes"), h.alias("h")
    ).localCheckpoint(eager=True)
    with_spread = paired.join(stats, ["sym_a", "sym_b"]).select(
        "sym_a",
        "sym_b",
        "n_minutes",
        (F.col("pa") - F.col("h") * F.col("pb")).alias("spread"),
        "h",
    )
    # z needs the GROUP stats per row: pair-cardinality stats broadcast
    # back for the alert pass.  Stats are quantized BEFORE the z pass so
    # both engines score identical doubles.
    spread_stats = with_spread.groupBy("sym_a", "sym_b").agg(
        F.max("n_minutes").alias("n_minutes"),
        qround(F.max("h"), 6).alias("hedge_ratio"),
        qround(F.avg("spread"), 6).alias("spread_mean"),
        qround(F.stddev_pop("spread"), 6).alias("spread_std"),
    ).localCheckpoint(eager=True)
    alerts = (
        with_spread.join(F.broadcast(spread_stats), ["sym_a", "sym_b"])
        .select(
            "sym_a",
            "sym_b",
            F.when(
                (F.col("spread_std") != 0)
                & (
                    F.abs(
                        (F.col("spread") - F.col("spread_mean"))
                        / F.col("spread_std")
                    )
                    > z_alert
                ),
                1,
            )
            .otherwise(0)
            .alias("is_alert"),
            F.when(
                F.col("spread_std") != 0,
                F.abs(
                    (F.col("spread") - F.col("spread_mean")) / F.col("spread_std")
                ),
            ).alias("az"),
        )
        .groupBy("sym_a", "sym_b")
        .agg(
            F.sum("is_alert").alias("n_z_alerts"),
            qround(F.coalesce(F.max("az"), F.lit(0.0)), 6).alias("max_abs_z"),
        )
    )
    return (
        spread_stats.join(alerts, ["sym_a", "sym_b"])
        .select(
            "sym_a", "sym_b", "n_minutes", "hedge_ratio",
            "spread_mean", "spread_std", "n_z_alerts", "max_abs_z",
        )
        .orderBy("sym_a", "sym_b")
    )


def ses_forecast(events: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Simple-exponential-smoothing forecast per symbol over the daily
    value totals, WITH its own one-step-ahead backtest: the SES level
    after all days is the flat forecast for tomorrow, and MAE over the
    historical one-step errors (|x_t - s_{t-1}|) reports how well that
    smoothing constant actually fit this series -- the minimal
    forecasting loop a capacity-planning dashboard runs.

    Determinism: the level is the LITERAL sequential fold
    (s_t = a*x_t + (1-a)*s_{t-1}, seeded with x_1) -- the same op order
    as DuckDB's list_reduce, so both engines produce bit-identical
    doubles (the ema_per_symbol discipline).  The backtest re-folds each
    prefix (O(days^2) inside one row's array ops) -- intentional at DAY
    cardinality (~31 folds of <=31 elements); a year-scale series would
    hoist the running level into a second array first (the cci_20
    lesson).

    Scale: one partial-agg groupBy to day cardinality, one groupBy to
    symbol cardinality holding a days-length array -- bounded state, no
    window, nothing data-sized after the first shuffle."""
    a = alpha
    daily = events.groupBy(
        F.col("event_type").alias("symbol"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    ).agg(F.sum("value").alias("x"))
    series = daily.groupBy("symbol").agg(
        F.expr("transform(array_sort(collect_list(struct(day, x))), s -> s.x)")
        .alias("xs")
    )
    fold = f"(acc, x) -> {a}D * x + {1.0 - a}D * acc"
    level = f"aggregate(slice(xs, 2, size(xs) - 1), cast(xs[0] as double), {fold})"
    errors = (
        f"transform(sequence(2, size(xs)), t -> abs(element_at(xs, t)"
        f" - aggregate(slice(xs, 2, t - 2), cast(xs[0] as double), {fold})))"
    )
    mae = (
        f"CASE WHEN size(xs) >= 2 THEN"
        f" aggregate({errors}, 0D, (acc, e) -> acc + e) / (size(xs) - 1) END"
    )
    return series.select(
        "symbol",
        F.size("xs").alias("n_days"),
        qround(F.expr("element_at(xs, size(xs))"), 6).alias("last_actual"),
        qround(F.expr(level), 6).alias("forecast_next"),
        qround(F.expr(mae), 6).alias("backtest_mae"),
    ).orderBy("symbol")


def amihud_illiquidity(events: DataFrame) -> DataFrame:
    """Amihud (2002) price-impact illiquidity per symbol: the average of
    daily |return| / dollar volume, scaled by 1e6 -- the standard
    cross-sectional liquidity screen a risk desk ranks names by.
    Dollar volume is sum(price * qty) with qty from the props JSON ``k``
    field (the vwap_daily convention); zero-volume and first-of-series
    days are excluded on both engines.

    Scale: one windowless day-granularity rollup (close via max_by, a
    partial-aggregable shuffle), one lag window per symbol at day
    cardinality, one final groupBy to symbol cardinality -- nothing
    data-sized after the first exchange."""
    qty = F.get_json_object(F.col("props"), "$.k").cast("double")
    daily = _daily_closes(events, F.sum(F.col("value") * qty).alias("dv"))
    w = Window.partitionBy("symbol").orderBy("day")
    ret = F.col("c") / F.lag("c").over(w) - F.lit(1.0)
    valid = daily.select("symbol", "dv", ret.alias("r")).filter(
        F.col("r").isNotNull() & (F.col("dv") > 0)
    )
    return (
        valid.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            qround(F.avg(F.abs(F.col("r")) / F.col("dv")) * 1e6, 6).alias(
                "amihud_x1e6"
            ),
            qround(F.avg("dv"), 2).alias("avg_dollar_volume"),
        )
        .orderBy("symbol")
    )


def roll_spread(events: DataFrame) -> DataFrame:
    """Roll (1984) implied effective spread per symbol: 2 * sqrt(-cov)
    over the serial covariance of successive minute-bar price changes.
    A positive serial covariance leaves the estimator undefined -- the
    spread column is NULL there (the standard convention), with the raw
    covariance always reported so the caller can see why.

    Scale: the minute-bar rollup (partial-agg shuffle), two stacked lag
    windows sharing one (symbol, minute) sort, then a symbol-cardinality
    aggregate; covar_pop is partial-aggregable, so the last exchange
    carries only per-symbol moment triples."""
    bars = _minute_bars(events)
    w = Window.partitionBy("symbol").orderBy("minute_window")
    dp = (F.col("close") - F.lag("close").over(w)).alias("dp")
    priced = bars.select("symbol", "minute_window", dp)
    lagged = priced.select(
        "symbol",
        F.col("dp"),
        F.lag("dp").over(Window.partitionBy("symbol").orderBy("minute_window"))
        .alias("dp_prev"),
    ).filter(F.col("dp").isNotNull() & F.col("dp_prev").isNotNull())
    cov = F.covar_pop("dp", "dp_prev")
    return (
        lagged.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            qround(cov, 6).alias("serial_cov"),
            # Sign decision on the QUANTIZED covariance so a near-zero cov
            # cannot flip NULL/non-NULL across engines' partial-agg order.
            qround(
                F.when(qround(cov, 6) < 0, F.lit(2.0) * F.sqrt(-cov)), 6
            ).alias("roll_spread"),
        )
        .orderBy("symbol")
    )


def var_cvar_report(events: DataFrame) -> DataFrame:
    """Historical-simulation VaR/CVaR per symbol over daily close-to-close
    returns: the k-th worst return (k = ceil(5% * n), the order-statistic
    definition -- deterministic on both engines, no interpolation to
    drift across float op order) and the average of the k worst returns
    (expected shortfall).

    Scale: day-granularity rollup, one lag window, then a rank window at
    (symbol x day) cardinality bounded by WindowGroupLimit-style early
    cutoff on the k smallest -- all state is per-symbol day counts."""
    daily = _daily_closes(events)
    w = Window.partitionBy("symbol").orderBy("day")
    rets = daily.select(
        "symbol",
        "day",
        (F.col("c") / F.lag("c").over(w) - F.lit(1.0)).alias("r"),
    ).filter(F.col("r").isNotNull())
    ranked = rets.select(
        "symbol",
        "r",
        F.row_number()
        .over(Window.partitionBy("symbol").orderBy("r", "day"))
        .alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("symbol")).alias("n"),
    )
    k = F.greatest(F.lit(1), F.ceil(F.lit(0.05) * F.col("n")))
    return (
        ranked.groupBy("symbol")
        .agg(
            F.max("n").alias("n_days"),
            qround(F.max(F.when(F.col("rk") == k, F.col("r"))), 6).alias("var95"),
            qround(
                F.sum(F.when(F.col("rk") <= k, F.col("r")))
                / F.max(F.when(F.col("rk") <= k, F.col("rk"))),
                6,
            ).alias("cvar95"),
            qround(F.min("r"), 6).alias("worst_return"),
        )
        .orderBy("symbol")
    )


# Abramowitz-Stegun 26.2.17 polynomial CDF of the standard normal --
# emitted as SQL TEXT consumed verbatim by BOTH engines (Spark F.expr and
# the DuckDB oracle), so every step is the identical IEEE sequence.
_INV_SQRT_2PI = 0.3989422804014327


def _norm_cdf_sql(x: str) -> str:
    t = f"(1.0 / (1.0 + 0.2316419 * abs({x})))"
    poly = (
        f"({t} * (0.31938153 + {t} * (-0.356563782 + {t} * (1.781477937 "
        f"+ {t} * (-1.821255978 + {t} * 1.330274429)))))"
    )
    cdf_abs = f"(1.0 - {_INV_SQRT_2PI!r} * exp(-(({x}) * ({x})) / 2.0) * {poly})"
    return f"(CASE WHEN ({x}) >= 0.0 THEN {cdf_abs} ELSE 1.0 - {cdf_abs} END)"


def _bs_priced(
    events: DataFrame, rate: float = 0.02, t_years: float = 30.0 / 365.0
) -> DataFrame:
    """Shared Black-Scholes frame (pricer + greeks): per-symbol spot /
    strike / annualized sigma from daily closes, then d1/d2/N(d1)/N(d2)
    as projection columns -- the identical expression text the oracle
    runs, so both consumers stay hash-exact."""
    daily = _daily_closes(events, positive_only=True)
    w = Window.partitionBy("symbol").orderBy("day")
    lr = daily.select(
        "symbol",
        "day",
        "c",
        F.log(F.col("c") / F.lag("c").over(w)).alias("lr"),
    )
    per_sym = lr.groupBy("symbol").agg(
        F.max_by(F.col("c"), F.col("day")).alias("spot"),
        F.stddev_pop("lr").alias("sd_daily"),
        F.count(F.col("lr")).alias("n_rets"),
    )
    base = per_sym.select(
        "symbol",
        "n_rets",
        "spot",
        F.floor(F.col("spot") + F.lit(0.5)).cast("double").alias("strike"),
        (F.col("sd_daily") * F.lit(float(252.0**0.5))).alias("sigma"),
    ).filter((F.col("n_rets") >= 2) & (F.col("spot") > 0))
    return (
        base.withColumn("sqt", F.expr(f"sigma * sqrt({t_years!r})"))
        .withColumn(
            "d1",
            F.expr(
                f"CASE WHEN sigma > 0 THEN (ln(spot / strike) "
                f"+ ({rate!r} + sigma * sigma / 2.0) * {t_years!r}) / sqt END"
            ),
        )
        .withColumn("d2", F.expr("d1 - sqt"))
        .withColumn("nd1", F.expr(_norm_cdf_sql("d1")))
        .withColumn("nd2", F.expr(_norm_cdf_sql("d2")))
    )


def black_scholes_pricer(
    events: DataFrame, rate: float = 0.02, t_years: float = 30.0 / 365.0
) -> DataFrame:
    """European call/put fair values per symbol under Black-Scholes:
    spot = last daily close, strike = spot rounded to the nearest whole
    dollar, sigma = annualized stddev of daily log returns (sqrt(252)),
    N(.) = the Abramowitz-Stegun 26.2.17 polynomial (shared SQL text with
    the oracle, see ``_norm_cdf_sql``).  Symbols with a degenerate series
    (zero vol, a single day, or a non-positive close) price as NULL.

    Scale: two symbol-cardinality aggregates (close series and return
    moments) -- the whole query collapses to |symbols| rows after the
    first partial-agg shuffle; the pricing itself is per-row projection
    arithmetic in whole-stage codegen."""
    rt = rate * t_years
    priced = _bs_priced(events, rate, t_years)
    return priced.select(
        "symbol",
        qround(F.col("spot"), 6).alias("spot"),
        F.col("strike"),
        qround(F.col("sigma"), 6).alias("sigma_annual"),
        qround(F.col("d1"), 6).alias("d1"),
        qround(F.col("d2"), 6).alias("d2"),
        qround(
            F.expr(f"spot * nd1 - strike * exp(-{rt!r}) * nd2"), 6
        ).alias("call_price"),
        qround(
            F.expr(f"strike * exp(-{rt!r}) * (1.0 - nd2) - spot * (1.0 - nd1)"),
            6,
        ).alias("put_price"),
    ).orderBy("symbol")


def holt_forecast(
    events: DataFrame, alpha: float = 0.3, beta: float = 0.1
) -> DataFrame:
    """Holt linear-trend (double exponential smoothing) forecast per
    symbol over daily value totals -- the ses_forecast upgrade that also
    tracks a trend component:

        l_t = a*x_t + (1-a)(l_{t-1} + b_{t-1})
        b_t = B*(l_t - l_{t-1}) + (1-B)*b_{t-1}

    seeded the standard way (l_2 = x_2, b_2 = x_2 - x_1) and folded
    STRICTLY left-to-right with a struct accumulator, the same op order
    as the DuckDB oracle's list_reduce over a prepended-init struct list
    -- both engines produce bit-identical doubles (the ema_per_symbol
    discipline, extended to two coupled states).

    Scale: one partial-agg groupBy to day cardinality, one groupBy to
    symbol cardinality holding a days-length array -- bounded state, no
    window pass."""
    a, b = alpha, beta
    daily = events.groupBy(
        F.col("event_type").alias("symbol"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    ).agg(F.sum("value").alias("x"))
    series = daily.groupBy("symbol").agg(
        F.expr("transform(array_sort(collect_list(struct(day, x))), s -> s.x)")
        .alias("xs")
    ).filter(F.size("xs") >= 2)
    lnew = f"{a}D * x + {1.0 - a}D * (acc.l + acc.b)"
    st = (
        f"aggregate(slice(xs, 3, size(xs) - 2), "
        f"named_struct('l', cast(xs[1] as double), "
        f"'b', cast(xs[1] - xs[0] as double)), "
        f"(acc, x) -> named_struct('l', {lnew}, "
        f"'b', {b}D * (({lnew}) - acc.l) + {1.0 - b}D * acc.b))"
    )
    return series.select(
        "symbol",
        F.size("xs").alias("n_days"),
        qround(F.expr("element_at(xs, size(xs))"), 6).alias("last_actual"),
        qround(F.expr(f"({st}).l"), 6).alias("level"),
        qround(F.expr(f"({st}).b"), 6).alias("trend"),
        qround(F.expr(f"({st}).l + ({st}).b"), 6).alias("forecast_next"),
    ).orderBy("symbol")


def heikin_ashi(events: DataFrame) -> DataFrame:
    """Heikin-Ashi smoothed daily candles per symbol:

        ha_close_t = (o + h + l + c) / 4
        ha_open_t  = (ha_open_{t-1} + ha_close_{t-1}) / 2,
                     seeded (o_1 + c_1) / 2
        ha_high/low = extremes of {h, ha_open, ha_close} / {l, ...}

    ha_open is the classic prefix recurrence; at day cardinality it is
    evaluated as a per-day left fold over the ha_close prefix (O(days^2)
    inside one row's array ops -- the ses_forecast backtest pattern),
    keeping the op order identical to the oracle's list_reduce.

    Scale: the day-granularity OHLC rollup is the only data-sized pass;
    everything after runs on |symbol| rows holding month-length arrays."""
    bars = _daily_bars(events)
    series = bars.groupBy("symbol").agg(
        F.expr(
            "array_sort(collect_list(struct(day, open as o, high as h,"
            " low as l, close as c)))"
        ).alias("bs")
    )
    hc = "transform(bs, b -> (b.o + b.h + b.l + b.c) / 4.0)"
    ho1 = "(bs[0].o + bs[0].c) / 2.0"
    per_day = (
        f"transform(sequence(1, size(bs)), t -> named_struct("
        f"'day', element_at(bs, t).day, "
        f"'h', element_at(bs, t).h, "
        f"'l', element_at(bs, t).l, "
        f"'hc', element_at({hc}, t), "
        f"'ho', aggregate(slice({hc}, 1, t - 1), {ho1},"
        f" (acc, x) -> (acc + x) / 2.0)))"
    )
    ex = series.select("symbol", F.explode(F.expr(per_day)).alias("e"))
    return ex.select(
        "symbol",
        F.col("e.day").alias("day"),
        qround(F.col("e.ho"), 6).alias("ha_open"),
        qround(F.greatest("e.h", "e.ho", "e.hc"), 6).alias("ha_high"),
        qround(F.least("e.l", "e.ho", "e.hc"), 6).alias("ha_low"),
        qround(F.col("e.hc"), 6).alias("ha_close"),
        (qround(F.col("e.hc"), 6) > qround(F.col("e.ho"), 6)).alias("bullish"),
    ).orderBy("symbol", "day")


def cusum_changepoints(events: DataFrame) -> DataFrame:
    """Two-sided CUSUM change detection per symbol over daily mean value:
    with series mean mu and population sd (both computed by SEQUENTIAL
    fold over the sorted day array so either engine sums in the same
    order), slack k = 0.5*sd and decision threshold h = 4*sd,

        s+_t = max(0, s+_{t-1} + x_t - mu - k)
        s-_t = max(0, s-_{t-1} + mu - x_t - k)

    and a day alarms when its (quantized) statistic exceeds the
    (quantized) threshold -- the standard mean-shift monitor a data
    pipeline runs over per-partition health metrics.

    Scale: day-granularity rollup then |symbol| rows of month-length
    arrays; the per-day prefix folds are O(days^2) inside array ops."""
    daily = events.groupBy(
        F.col("event_type").alias("symbol"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    ).agg(F.avg("value").alias("x"))
    series = daily.groupBy("symbol").agg(
        F.expr("array_sort(collect_list(struct(day, x)))").alias("ds")
    )
    xs = "transform(ds, s -> s.x)"
    staged = (
        series.withColumn("n", F.expr("size(ds)"))
        .withColumn("mu", F.expr(f"aggregate({xs}, 0D, (acc, x) -> acc + x) / n"))
        .withColumn(
            "sd",
            F.expr(
                f"sqrt(aggregate({xs}, 0D,"
                f" (acc, x) -> acc + (x - mu) * (x - mu)) / n)"
            ),
        )
    )
    spos = (
        f"aggregate(slice({xs}, 1, t), 0D,"
        f" (acc, x) -> greatest(0D, acc + x - mu - 0.5D * sd))"
    )
    sneg = (
        f"aggregate(slice({xs}, 1, t), 0D,"
        f" (acc, x) -> greatest(0D, acc + mu - x - 0.5D * sd))"
    )
    per_day = (
        f"transform(sequence(1, n), t -> named_struct("
        f"'day', element_at(ds, t).day, 'x', element_at(ds, t).x, "
        f"'sp', {spos}, 'sn', {sneg}))"
    )
    ex = staged.select(
        "symbol", "mu", "sd", F.explode(F.expr(per_day)).alias("e")
    )
    h_q = qround(F.lit(4.0) * F.col("sd"), 6)
    return ex.select(
        "symbol",
        F.col("e.day").alias("day"),
        qround(F.col("e.x"), 6).alias("x"),
        qround(F.col("e.sp"), 6).alias("cusum_pos"),
        qround(F.col("e.sn"), 6).alias("cusum_neg"),
        (qround(F.col("e.sp"), 6) > h_q).alias("alarm_pos"),
        (qround(F.col("e.sn"), 6) > h_q).alias("alarm_neg"),
    ).orderBy("symbol", "day")


def hurst_exponent(
    events: DataFrame, scales: tuple = (16, 64, 256)
) -> DataFrame:
    """Hurst exponent per symbol by rescaled-range (R/S) analysis over
    minute-bar log returns: for each block size n in ``scales``, split
    the return series into full blocks of n, compute each block's
    rescaled range (max cumulative deviation - min) / population sd,
    average per scale, and fit ln(R/S) ~ H * ln(n) by closed-form OLS.
    H ~ 0.5 is a random walk; persistent series trend above it.

    Scale: the return series shuffles once on symbol for the lag window;
    block statistics are partial-aggregable group-bys at block
    cardinality; cumulative deviations use a window whose partition is a
    single block (bounded frames).  The final fit runs on
    |symbol x scales| rows."""
    bars = _minute_bars(events).filter(F.col("close") > 0)
    w = Window.partitionBy("symbol").orderBy("minute_window")
    rets = (
        bars.select(
            "symbol",
            "minute_window",
            F.log(F.col("close") / F.lag("close").over(w)).alias("r"),
        )
        .filter(F.col("r").isNotNull())
        .select(
            "symbol",
            "r",
            (F.row_number().over(w.orderBy("minute_window")) - 1).alias("idx"),
        )
    )
    scale_df = rets.sparkSession.createDataFrame(
        [(int(s),) for s in scales], "scale int"
    )
    blocks = rets.crossJoin(F.broadcast(scale_df)).select(
        "symbol",
        "scale",
        "r",
        "idx",
        F.floor(F.col("idx") / F.col("scale")).alias("blk"),
    )
    bstats = blocks.groupBy("symbol", "scale", "blk").agg(
        F.count(F.lit(1)).alias("bn"),
        F.avg("r").alias("bmean"),
        F.stddev_pop("r").alias("bsd"),
    )
    wb = Window.partitionBy("symbol", "scale", "blk").orderBy("idx")
    cums = (
        blocks.join(bstats, ["symbol", "scale", "blk"])
        .filter((F.col("bn") == F.col("scale")) & (F.col("bsd") > 0))
        .select(
            "symbol",
            "scale",
            "blk",
            "bsd",
            F.sum(F.col("r") - F.col("bmean")).over(wb).alias("cum"),
        )
    )
    # (symbol x scale)-cardinality result of the whole R/S pipeline,
    # consumed TWICE below (closed-form fit + per-scale pivot): the
    # eager localCheckpoint guarantees the corpus-sized chain executes
    # once and keeps the two consumers' plans at output cardinality
    rs = (
        cums.groupBy("symbol", "scale", "blk")
        .agg(
            ((F.max("cum") - F.min("cum")) / F.max("bsd")).alias("rs")
        )
        .groupBy("symbol", "scale")
        .agg(F.avg("rs").alias("avg_rs"), F.count(F.lit(1)).alias("n_blocks"))
        .localCheckpoint(eager=True)
    )
    fit_src = rs.select(
        "symbol",
        "scale",
        "avg_rs",
        F.log(F.col("scale").cast("double")).alias("u"),
        F.log("avg_rs").alias("v"),
    )
    fitted = fit_src.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_scales"),
        F.when(
            (F.count(F.lit(1)) >= 2) & (F.var_pop("u") > 0),
            F.covar_pop("u", "v") / F.var_pop("u"),
        ).alias("hurst_raw"),
    )
    wide = rs.groupBy("symbol").pivot("scale", [int(s) for s in scales]).agg(
        F.first("avg_rs")
    )
    out = fitted.join(wide, "symbol")
    cols = [
        "symbol",
        F.col("n_scales"),
        qround(F.col("hurst_raw"), 6).alias("hurst"),
    ]
    for s in scales:
        cols.append(qround(F.col(str(int(s))), 6).alias(f"rs_{int(s)}"))
    return out.select(*cols).orderBy("symbol")


def kama_adaptive_ma(events: DataFrame, n: int = 10) -> DataFrame:
    """Kaufman adaptive moving average per symbol over minute-bar
    closes, reported as the FINAL adapted level (the ema_per_symbol
    shape): per bar, the efficiency ratio ER = |c_t - c_{t-n}| /
    sum(|dc|) over the last n changes sets the smoothing constant
    sc = (ER*(2/3 - 2/31) + 2/31)^2, and the level folds sequentially as
    kama += sc * (c - kama), seeded with the first full-window close.

    Determinism: the per-bar sc is plain window arithmetic; the level is
    a LITERAL left fold over (close, sc) struct elements with a SCALAR
    accumulator -- the same op order as DuckDB's list_reduce (struct
    elements are safe; only struct ACCUMULATORS hit the DuckDB lateral-
    shadowing quirk documented at holt_forecast's registration).

    Scale: one (symbol, minute) sort shared by the lag/sum windows, then
    one groupBy to |symbol| rows holding the bar-length array -- O(bars)
    fold work, no quadratic step."""
    bars = _minute_bars(events)
    w = Window.partitionBy("symbol").orderBy("minute_window")
    wn = w.rowsBetween(-(n - 1), 0)
    dc = F.col("close") - F.lag("close").over(w)
    staged = bars.select(
        "symbol", "minute_window", "close", dc.alias("dc"),
        F.lag("close", n).over(w).alias("c_back"),
    )
    vol = F.sum(F.abs(F.col("dc"))).over(wn)
    er = F.when(vol != 0, F.abs(F.col("close") - F.col("c_back")) / vol).otherwise(
        F.lit(0.0)
    )
    fast, slow = 2.0 / 3.0, 2.0 / 31.0
    sc = (er * F.lit(fast - slow) + F.lit(slow)) ** 2
    # sc must be evaluated over the UNFILTERED bar sequence (the warm-up
    # rows participate in the 10-bar volatility frames even though they
    # are dropped from the fold) -- filtering first would shift every
    # early frame and the divergence survives short series.
    scored = staged.select(
        "symbol", "minute_window", "close", "c_back", sc.alias("sc")
    )
    ready = scored.filter(F.col("c_back").isNotNull()).select(
        "symbol", "minute_window", "close", "sc"
    )
    series = ready.groupBy("symbol").agg(
        F.expr(
            "array_sort(collect_list(struct(minute_window as mw,"
            " close as c, sc)))"
        ).alias("ps")
    )
    fold = (
        "aggregate(slice(ps, 2, size(ps) - 1), cast(ps[0].c as double),"
        " (acc, e) -> acc + e.sc * (e.c - acc))"
    )
    return series.select(
        "symbol",
        F.size("ps").alias("n_bars"),
        qround(F.expr("element_at(ps, size(ps)).c"), 6).alias("last_close"),
        qround(F.expr(fold), 6).alias("kama"),
    ).orderBy("symbol")


def ulcer_index(events: DataFrame) -> DataFrame:
    """Ulcer index per symbol over daily closes: the RMS of percentage
    drawdowns from the running peak (Martin 1987) -- the pain-weighted
    volatility measure that penalizes depth AND duration of declines,
    alongside the worst drawdown percentage.

    Scale: one day-granularity rollup, one running-max window over the
    symbol partition (O(1) state), one symbol-cardinality aggregate."""
    daily = _daily_closes(events)
    w = Window.partitionBy("symbol").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    runmax = F.max("c").over(w)
    dd = daily.select(
        "symbol",
        "day",
        F.when(runmax != 0, F.lit(100.0) * (F.col("c") - runmax) / runmax)
        .otherwise(F.lit(0.0))
        .alias("dd_pct"),
    )
    return (
        dd.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            qround(F.sqrt(F.avg(F.col("dd_pct") * F.col("dd_pct"))), 6).alias(
                "ulcer_index"
            ),
            qround(F.min("dd_pct"), 6).alias("max_drawdown_pct"),
        )
        .orderBy("symbol")
    )


def rolling_beta(events: DataFrame, n: int = 10) -> DataFrame:
    """Rolling n-day beta of each symbol against the equal-weighted
    market return: over the trailing n daily returns, beta =
    cov(r_sym, r_mkt) / var(r_mkt) in moment form, emitted only where
    the window is full (null-prefix convention).  The time-varying
    refinement of beta_vs_market -- the number a risk desk actually
    hedges with.  Numerator and denominator are quantized (12 dp) before
    the ratio so the near-zero-variance decision cannot flip across
    engines' accumulation order.

    Scale: daily returns per symbol (one rollup + one lag window), a
    broadcast join of the |days|-row market series, then one shared
    (symbol, day) sort serving all four trailing-moment frames."""
    daily = _daily_closes(events)
    w = Window.partitionBy("symbol").orderBy("day")
    rets = daily.select(
        "symbol",
        "day",
        (F.col("c") / F.lag("c").over(w) - F.lit(1.0)).alias("rs"),
    ).filter(F.col("rs").isNotNull())
    mkt = rets.groupBy("day").agg(qround(F.avg("rs"), 9).alias("rm"))
    joined = rets.join(F.broadcast(mkt), "day")
    wn = Window.partitionBy("symbol").orderBy("day").rowsBetween(-(n - 1), 0)
    cnt = F.count(F.lit(1)).over(wn)
    num = F.avg(F.col("rs") * F.col("rm")).over(wn) - F.avg("rs").over(wn) * F.avg(
        "rm"
    ).over(wn)
    den = F.avg(F.col("rm") * F.col("rm")).over(wn) - F.avg("rm").over(wn) * F.avg(
        "rm"
    ).over(wn)
    num_q, den_q = qround(num, 12), qround(den, 12)
    return (
        joined.select(
            "symbol",
            "day",
            cnt.alias("n_obs"),
            F.when((cnt == n) & (den_q != 0), qround(num_q / den_q, 6)).alias(
                "beta"
            ),
        )
        .filter(F.col("n_obs") == n)
        .orderBy("symbol", "day")
    )


def drawdown_duration(events: DataFrame) -> DataFrame:
    """Drawdown SPELL accounting per symbol (the duration complement of
    ulcer_index/max_drawdown): a spell is a maximal run of days strictly
    below the running peak close (gaps-and-islands over the underwater
    flag).  Reports how many spells occurred, the longest one in trading
    days, and whether the series ended underwater -- the
    time-under-water numbers drawdown reports quote next to depth.

    Scale: one day rollup, one shared (symbol, day) sort serving the
    running-max, lag, and cumulative-spell windows (O(1) state each),
    one symbol-cardinality aggregate."""
    daily = _daily_closes(events)
    w = Window.partitionBy("symbol").orderBy("day")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    flagged = daily.select(
        "symbol", "day", (F.col("c") < F.max("c").over(cum)).alias("uw")
    )
    new_spell = F.when(
        F.col("uw") & ~F.coalesce(F.lag("uw").over(w), F.lit(False)), 1
    ).otherwise(0)
    spells = flagged.select(
        "symbol",
        "day",
        "uw",
        F.sum(new_spell).over(cum).alias("spell_id"),
        F.row_number().over(Window.partitionBy("symbol").orderBy(F.col("day").desc()))
        .alias("rn_d"),
    )
    lengths = (
        spells.filter("uw")
        .groupBy("symbol", "spell_id")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    per_sym = lengths.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_spells"),
        F.max("len").alias("longest_drawdown_days"),
    )
    last = spells.filter(F.col("rn_d") == 1).select(
        "symbol", F.col("uw").alias("currently_underwater")
    )
    base = daily.select("symbol").distinct()
    return (
        base.join(per_sym, "symbol", "left")
        .join(last, "symbol")
        .select(
            "symbol",
            F.coalesce(F.col("n_spells"), F.lit(0)).alias("n_spells"),
            F.coalesce(F.col("longest_drawdown_days"), F.lit(0)).alias(
                "longest_drawdown_days"
            ),
            "currently_underwater",
        )
        .orderBy("symbol")
    )


def cross_correlation_lags(events: DataFrame, max_lag: int = 3) -> DataFrame:
    """Lead-lag cross-correlation between every symbol pair: for each
    lag L in [-max_lag, +max_lag], the Pearson correlation of symbol A's
    daily return on day d with symbol B's return on day d + L.  A peak
    away from L = 0 is the classic lead-lag signature pairs-trading
    screens hunt for.

    Scale: daily returns once (rollup + lag window); the pair-lag frame
    is |symbols|^2 x |lags| x |days| built by TWO broadcast joins (the
    return table re-keyed by shifted day), aggregated in moment form at
    pair-lag cardinality -- no per-pair passes, one shuffle."""
    daily = _daily_closes(events)
    w = Window.partitionBy("symbol").orderBy("day")
    rets = daily.select(
        "symbol",
        "day",
        (F.col("c") / F.lag("c").over(w) - F.lit(1.0)).alias("r"),
    ).filter(F.col("r").isNotNull())
    lags = rets.sparkSession.createDataFrame(
        [(int(l),) for l in range(-max_lag, max_lag + 1)], "lag int"
    )
    a = rets.select(
        F.col("symbol").alias("symbol_a"), F.col("day").alias("day_a"),
        F.col("r").alias("ra"),
    ).crossJoin(F.broadcast(lags))
    b = rets.select(
        F.col("symbol").alias("symbol_b"), F.col("day").alias("day_b"),
        F.col("r").alias("rb"),
    )
    paired = a.join(
        F.broadcast(b),
        (F.col("symbol_a") < F.col("symbol_b"))
        & (
            F.col("day_b")
            == F.expr("day_a + make_interval(0, 0, 0, lag)")
        ),
    )
    denom = F.stddev_pop("ra") * F.stddev_pop("rb")
    return (
        paired.groupBy("symbol_a", "symbol_b", "lag")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.when(denom != 0, qround(F.covar_pop("ra", "rb") / denom, 6)).alias(
                "xcorr"
            ),
        )
        .orderBy("symbol_a", "symbol_b", "lag")
    )


def stl_weekly_decompose(events: DataFrame) -> DataFrame:
    """STL-lite weekly decomposition of the daily value total per
    symbol: trend = centered 7-day moving average (full windows only),
    seasonal = day-of-week mean of the detrended series, residual = the
    rest.  The additive decomposition an anomaly detector subtracts
    before alerting on daily volumes.  Every component is quantized
    before feeding the next step, so both engines derive the identical
    decomposition.

    Scale: one day rollup, one centered window over the (symbol, day)
    sort, one |symbol x 7| seasonal aggregate broadcast back -- nothing
    data-sized after the first shuffle."""
    daily = events.groupBy(
        F.col("event_type").alias("symbol"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    ).agg(F.sum("value").alias("x"))
    wc = Window.partitionBy("symbol").orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "symbol",
        "day",
        "x",
        (F.dayofweek("day") - 1).alias("dow"),
        F.when(
            F.count(F.lit(1)).over(wc) == 7, qround(F.avg("x").over(wc), 6)
        ).alias("trend"),
    )
    seasonal = (
        trended.filter(F.col("trend").isNotNull())
        .groupBy("symbol", "dow")
        .agg(qround(F.avg(F.col("x") - F.col("trend")), 6).alias("seasonal"))
    )
    return (
        trended.filter(F.col("trend").isNotNull())
        .join(F.broadcast(seasonal), ["symbol", "dow"])
        .select(
            "symbol",
            "day",
            F.col("dow").cast("int").alias("dow"),
            qround(F.col("x"), 6).alias("x"),
            "trend",
            "seasonal",
            qround(
                F.col("x") - F.col("trend") - F.col("seasonal"), 6
            ).alias("residual"),
        )
        .orderBy("symbol", "day")
    )


def bootstrap_mean_ci(events: DataFrame, n_boot: int = 200) -> DataFrame:
    """Bootstrap confidence interval for each symbol's mean daily
    return, with the resampling made DETERMINISTIC: resample b draws
    its i-th observation by md5(symbol:b:i) mod n -- a frozen random
    source both engines reproduce bit-for-bit, so even the Monte-Carlo
    distribution is oracle-exact.  The CI bounds are rank-based order
    statistics of the bootstrap means (2.5% / 97.5%), not interpolated.

    Scale: the series collapses to one array row per symbol; the B
    resample means are per-row array folds (B x n index hashes inside
    codegen), and the rank selection runs at |symbol x B| cardinality."""
    daily = _daily_closes(events)
    w = Window.partitionBy("symbol").orderBy("day")
    rets = daily.select(
        "symbol",
        "day",
        (F.col("c") / F.lag("c").over(w) - F.lit(1.0)).alias("r"),
    ).filter(F.col("r").isNotNull())
    series = rets.groupBy("symbol").agg(
        F.expr("transform(array_sort(collect_list(struct(day, r))), s -> s.r)")
        .alias("xs")
    ).filter(F.size("xs") >= 2)
    # conv() returns STRING -- cast to bigint BEFORE the mod, or Spark
    # coerces through double and 60-bit hashes lose low bits (> 2^53)
    idx = (
        "cast(1 + pmod(cast(conv(substring(md5(concat_ws(':', symbol,"
        " cast(b as string), cast(i as string))), 1, 15), 16, 10) as bigint),"
        " cast(size(xs) as bigint)) as int)"
    )
    booted = series.select(
        "symbol",
        F.size("xs").alias("n_days"),
        qround(
            F.expr("aggregate(xs, 0D, (acc, x) -> acc + x) / size(xs)"), 6
        ).alias("mean_return"),
        "xs",
        F.explode(F.expr(f"sequence(1, {n_boot})")).alias("b"),
    )
    bmean = (
        "aggregate(transform(sequence(1, size(xs)),"
        f" i -> element_at(xs, {idx})), 0D, (acc, x) -> acc + x) / size(xs)"
    )
    means = booted.select(
        "symbol", "n_days", "mean_return", "b", F.expr(bmean).alias("bm")
    )
    lo_k = max(1, int(0.025 * n_boot))
    hi_k = int(0.975 * n_boot)
    ranked = means.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("symbol").orderBy(qround(F.col("bm"), 9), "b")
        ),
    )
    return (
        ranked.groupBy("symbol", "n_days", "mean_return")
        .agg(
            qround(F.max(F.when(F.col("rk") == lo_k, F.col("bm"))), 6).alias(
                "ci_low"
            ),
            qround(F.max(F.when(F.col("rk") == hi_k, F.col("bm"))), 6).alias(
                "ci_high"
            ),
        )
        .orderBy("symbol")
    )


def ichimoku_cloud(events: DataFrame) -> DataFrame:
    """Ichimoku Kinko Hyo lines over minute bars: tenkan (9-bar
    midpoint of high/low range), kijun (26-bar), senkou A (their mean)
    and senkou B (52-bar midpoint) -- emitted only where each window is
    full (null-prefix convention), which also makes the cloud columns
    NULL-honest on short series.

    Scale: all four range windows share ONE (symbol, row-block) sort via
    ``_chunked_trailing`` (identical frames/values, data-scaled
    parallelism); each frame is a bounded ROWS window (max/min, O(1)
    state)."""
    bars = _minute_bars(events).select(
        "symbol", "minute_window", "high", "low", "close"
    )
    rows, wc = _chunked_trailing(bars, ["symbol"], ["minute_window"], 52)

    def midpoint(n: int):
        fr = wc.rowsBetween(-(n - 1), 0)
        full = F.count(F.lit(1)).over(fr) == n
        return F.when(
            full, (F.max("high").over(fr) + F.min("low").over(fr)) / 2.0
        )

    tenkan, kijun, senkou_b = midpoint(9), midpoint(26), midpoint(52)
    return (
        rows.select(
            "symbol",
            "minute_window",
            qround(F.col("close"), 6).alias("close"),
            qround(tenkan, 6).alias("tenkan"),
            qround(kijun, 6).alias("kijun"),
            qround((tenkan + kijun) / 2.0, 6).alias("senkou_a"),
            qround(senkou_b, 6).alias("senkou_b"),
            "__carry",
        )
        .filter(~F.col("__carry"))
        .drop("__carry")
        .orderBy("symbol", "minute_window")
    )


# ---------------------------------------------------------------------------
# Round 8: money flow / trend-strength indicators, portfolio math,
# Black-Scholes greeks, and the EWMA/Kalman recursive-state family.
# ---------------------------------------------------------------------------


def mfi(events: DataFrame, n: int = 14) -> DataFrame:
    """Money Flow Index over minute bars: typical price
    ``tp = (high + low + close) / 3`` weighted by bar volume, split into
    positive/negative flow by the direction of tp vs the previous bar,
    and ratioed over an n-bar window:

        MFI = 100 * pos_flow / (pos_flow + neg_flow)

    A symbol's first bar (no previous tp) contributes to neither flow
    (the CASE's NULL comparison falls through to 0 in both engines), and
    MFI is emitted only where the window is full and the window moved at
    all (pos + neg != 0) -- volume-weighted RSI semantics, the classic
    overbought/oversold gauge the plain RSI misses when volume diverges.

    Scale: indicator passes run at BAR cardinality -- the windowless bar
    rollup is the only trade-sized pass; the O(1)-per-row tp lag runs in
    the same window stage as the chunker's row number (``pre`` hook --
    one sort, exact prev_tp everywhere, carries included), and only the
    two n-bar flow sums run per (symbol, row-block), shuffling the
    (tp, pos_f, neg_f) triple per bar."""
    bars = _minute_bars(events)
    rows, wc = _chunked_trailing(
        bars.select(
            "symbol",
            "minute_window",
            ((F.col("high") + F.col("low") + F.col("close")) / 3.0).alias(
                "tp"
            ),
            "vol",
        ),
        ["symbol"],
        ["minute_window"],
        n,
        pre=lambda w: [F.lag("tp").over(w).alias("__prev_tp")],
    )
    prev_tp = F.col("__prev_tp")
    raw = F.col("tp") * F.col("vol")
    flows = rows.select(
        "symbol",
        "minute_window",
        "tp",
        F.when(F.col("tp") > prev_tp, raw).otherwise(F.lit(0.0)).alias("pos_f"),
        F.when(F.col("tp") < prev_tp, raw).otherwise(F.lit(0.0)).alias("neg_f"),
        "__rn",
        "__chunk",
        "__carry",
    )
    fr = wc.rowsBetween(-(n - 1), 0)
    pos_n = F.sum("pos_f").over(fr)
    neg_n = F.sum("neg_f").over(fr)
    cnt = F.count(F.lit(1)).over(fr)
    mfi_val = F.when(
        (cnt == n) & ((pos_n + neg_n) != 0),
        F.lit(100.0) * pos_n / (pos_n + neg_n),
    )
    return (
        flows.select(
            "symbol",
            "minute_window",
            qround(F.col("tp"), 6).alias("typical_price"),
            qround(mfi_val, 6).alias("mfi"),
            "__carry",
        )
        .filter(~F.col("__carry"))
        .drop("__carry")
        .orderBy("symbol", "minute_window")
    )


def aroon(events: DataFrame, n: int = 10) -> DataFrame:
    """Aroon trend indicator over daily bars: with ``k`` = bars since the
    (n+1)-bar window's highest high (most recent extreme on ties),

        aroon_up   = 100 * (n - k) / n
        aroon_down = 100 * (n - k_low) / n    (lowest low)

    and the oscillator is their difference.  Emitted only where the
    window is full.  The "bars since" lookup is a windowed
    ``max(struct(extreme, rn))`` -- lexicographic struct ordering breaks
    ties toward the most recent bar identically in Spark and DuckDB, and
    the low side rides the exact negation ``-low``.

    Scale: one day-granularity rollup (the only data-sized pass), one
    (symbol, day) sort shared by row_number and the three frames; each
    frame is ROWS-bounded, O(n) state per task."""
    bars = _daily_bars(events)
    w = Window.partitionBy("symbol").orderBy("day")
    staged = bars.select(
        "symbol", "day", "high", "low", F.row_number().over(w).alias("rn")
    )
    fr = (
        Window.partitionBy("symbol").orderBy("day").rowsBetween(-n, 0)
    )
    hi_rn = F.max(F.struct(F.col("high").alias("v"), F.col("rn"))).over(fr)["rn"]
    lo_rn = F.max(F.struct((-F.col("low")).alias("v"), F.col("rn"))).over(fr)["rn"]
    cnt = F.count(F.lit(1)).over(fr)
    scored = staged.select(
        "symbol",
        "day",
        "rn",
        F.when(cnt == n + 1, hi_rn).alias("hi_rn"),
        F.when(cnt == n + 1, lo_rn).alias("lo_rn"),
    )
    up = F.expr(f"100.0 * ({n} - (rn - hi_rn)) / {n}")
    down = F.expr(f"100.0 * ({n} - (rn - lo_rn)) / {n}")
    return (
        scored.select(
            "symbol",
            "day",
            qround(up, 6).alias("aroon_up"),
            qround(down, 6).alias("aroon_down"),
            qround(up - down, 6).alias("aroon_osc"),
        )
        .filter(F.col("aroon_up").isNotNull())
        .orderBy("symbol", "day")
    )


def min_variance_portfolio(events: DataFrame) -> DataFrame:
    """Two-asset minimum-variance portfolio weights for every symbol
    pair, from minute-bar log returns aligned on the shared minutes:

        w1 = (var2 - cov) / (var1 + var2 - 2 cov),   w2 = 1 - w1

    with the portfolio's annualized volatility
    ``sqrt((w1^2 v1 + w2^2 v2 + 2 w1 w2 c) * 525600)`` and the pair
    correlation.  Degenerate pairs (zero denominator) keep NULL weights.

    Scale: returns are computed once at bar cardinality, then the
    pair alignment is a self-equi-join on the minute key -- bar-sized,
    never trade-sized, and co-partitioned by the join key; the final
    aggregate collapses to |symbol pairs| rows with partial aggregation
    before the shuffle."""
    bars = _minute_bars(events).filter(F.col("close") > 0)
    w = Window.partitionBy("symbol").orderBy("minute_window")
    rets = bars.select(
        "symbol",
        "minute_window",
        F.log(F.col("close") / F.lag("close").over(w)).alias("lr"),
    ).filter(F.col("lr").isNotNull())
    a = rets.select(
        F.col("symbol").alias("sym1"),
        F.col("minute_window").alias("m"),
        F.col("lr").alias("lr1"),
    )
    b = rets.select(
        F.col("symbol").alias("sym2"),
        F.col("minute_window").alias("m"),
        F.col("lr").alias("lr2"),
    )
    joined = a.join(b, "m").filter(F.col("sym1") < F.col("sym2"))
    # Quantize the aggregated moments at the aggregate boundary (12 dp,
    # mirrored verbatim in the oracle): Spark's partial-aggregation float
    # summation order varies with task scheduling, so downstream
    # expressions that are analytically zero (port_var on corr = +/-1
    # pairs) would otherwise flip sign run-to-run and the x525600 + sqrt
    # amplifier turns the ~1e-15 residue into a hash-visible 1e-5.
    agg = joined.groupBy("sym1", "sym2").agg(
        F.count(F.lit(1)).alias("n_minutes"),
        qround(F.var_pop("lr1"), 12).alias("v1"),
        qround(F.var_pop("lr2"), 12).alias("v2"),
        qround(F.covar_pop("lr1", "lr2"), 12).alias("c12"),
    )
    denom = F.col("v1") + F.col("v2") - 2.0 * F.col("c12")
    w1 = F.when(denom != 0, (F.col("v2") - F.col("c12")) / denom)
    w2 = F.lit(1.0) - w1
    port_var = (
        w1 * w1 * F.col("v1")
        + w2 * w2 * F.col("v2")
        + 2.0 * w1 * w2 * F.col("c12")
    )
    sd = F.sqrt(F.col("v1")) * F.sqrt(F.col("v2"))
    corr = F.when(sd != 0, F.col("c12") / sd)
    ann = 525600.0
    return agg.select(
        "sym1",
        "sym2",
        "n_minutes",
        qround(F.sqrt(F.col("v1") * F.lit(ann)), 6).alias("vol1_annual"),
        qround(F.sqrt(F.col("v2") * F.lit(ann)), 6).alias("vol2_annual"),
        qround(corr, 6).alias("corr"),
        qround(w1, 6).alias("w1"),
        qround(w2, 6).alias("w2"),
        # port_var is non-negative analytically; clamp float round-off
        # on near-singular pairs (|corr| ~ 1) -- the range_volatility
        # precedent, mirrored in the oracle.  Gate on w1 being defined:
        # Spark's greatest() SKIPS nulls, so a degenerate pair (denom=0,
        # NULL weights) would otherwise clamp NULL to 0.0 while DuckDB's
        # greatest NULL handling is version-dependent.
        F.when(
            w1.isNotNull(),
            qround(F.sqrt(F.greatest(port_var, F.lit(0.0)) * F.lit(ann)), 6),
        ).alias("port_vol_annual"),
    ).orderBy("sym1", "sym2")


def bs_greeks(
    events: DataFrame, rate: float = 0.02, t_years: float = 30.0 / 365.0
) -> DataFrame:
    """Black-Scholes sensitivities per symbol on the same spot / strike /
    sigma frame as ``black_scholes_pricer`` (shared ``_bs_priced``):

        delta_call = N(d1)            delta_put = N(d1) - 1
        gamma      = phi(d1) / (S sigma sqrt(T))
        vega       = S phi(d1) sqrt(T)
        theta_call = -S phi(d1) sigma / (2 sqrt(T)) - r K e^{-rT} N(d2)
        rho_call   = K T e^{-rT} N(d2)

    with ``phi`` the standard normal pdf.  A degenerate series
    (sigma = 0) leaves d1 NULL and every greek NULL with it.

    Scale: identical to the pricer -- two symbol-cardinality aggregates,
    then pure projection arithmetic in whole-stage codegen."""
    rt = rate * t_years
    priced = _bs_priced(events, rate, t_years).withColumn(
        "pdf1", F.expr(f"{_INV_SQRT_2PI!r} * exp(-(d1 * d1) / 2.0)")
    )
    sq_t = f"sqrt({t_years!r})"
    return priced.select(
        "symbol",
        qround(F.col("spot"), 6).alias("spot"),
        F.col("strike"),
        qround(F.col("sigma"), 6).alias("sigma_annual"),
        qround(F.col("nd1"), 6).alias("delta_call"),
        qround(F.expr("nd1 - 1.0"), 6).alias("delta_put"),
        qround(F.expr("pdf1 / (spot * sqt)"), 6).alias("gamma"),
        qround(F.expr(f"spot * pdf1 * {sq_t}"), 6).alias("vega"),
        qround(
            F.expr(
                f"-(spot * pdf1 * sigma) / (2.0 * {sq_t}) "
                f"- {rate!r} * strike * exp(-{rt!r}) * nd2"
            ),
            6,
        ).alias("theta_call"),
        qround(
            F.expr(f"strike * {t_years!r} * exp(-{rt!r}) * nd2"), 6
        ).alias("rho_call"),
    ).orderBy("symbol")


def keltner_channels(events: DataFrame) -> DataFrame:
    """Keltner channels over daily bars: an EMA (alpha = 0.2) of the
    typical price ``(h + l + c) / 3`` banded at +/- 2 ATR(10), where the
    true range stretches to the previous close and the first bar falls
    back to ``h - l`` (the ``atr`` convention).  Channel rows are
    emitted once the ATR window is full (day >= 10).

    Both the per-bar EMA (a prefix fold seeded with the first typical
    price) and the windowed ATR sum run as SEQUENTIAL left folds over
    the sorted day array, the same op order as the oracle's list_reduce
    -- the heikin_ashi discipline.

    Scale: the day-granularity OHLC rollup is the only data-sized pass;
    the folds run on |symbol| rows holding month-length arrays
    (O(days^2) scalar work inside one row -- metadata-scale)."""
    bars = _daily_bars(events)
    series = bars.groupBy("symbol").agg(
        F.expr(
            "array_sort(collect_list(struct(day, open as o, high as h,"
            " low as l, close as c)))"
        ).alias("bs")
    )
    tps = "transform(bs, b -> (b.h + b.l + b.c) / 3.0)"
    trs = (
        "transform(sequence(1, size(bs)), i -> CASE WHEN i = 1 "
        "THEN element_at(bs, 1).h - element_at(bs, 1).l "
        "ELSE greatest(element_at(bs, i).h - element_at(bs, i).l, "
        "abs(element_at(bs, i).h - element_at(bs, i - 1).c), "
        "abs(element_at(bs, i).l - element_at(bs, i - 1).c)) END)"
    )
    per_day = (
        f"transform(sequence(1, size(bs)), t -> named_struct("
        f"'day', element_at(bs, t).day, "
        f"'close', element_at(bs, t).c, "
        f"'ema', aggregate(slice({tps}, 2, t - 1), "
        f"cast(element_at({tps}, 1) as double), "
        f"(acc, x) -> 0.2 * x + 0.8 * acc), "
        f"'atr', CASE WHEN t >= 10 THEN aggregate(slice({trs}, t - 9, 10), "
        f"cast(0.0 as double), (acc, x) -> acc + x) / 10.0 END))"
    )
    ex = series.select("symbol", F.explode(F.expr(per_day)).alias("e"))
    return (
        ex.select(
            "symbol",
            F.col("e.day").alias("day"),
            qround(F.col("e.close"), 6).alias("close"),
            qround(F.col("e.ema"), 6).alias("kc_mid"),
            qround(F.expr("e.ema + 2.0 * e.atr"), 6).alias("kc_upper"),
            qround(F.expr("e.ema - 2.0 * e.atr"), 6).alias("kc_lower"),
        )
        .filter(F.col("kc_upper").isNotNull())
        .orderBy("symbol", "day")
    )


def ewma_riskmetrics_vol(events: DataFrame) -> DataFrame:
    """RiskMetrics EWMA volatility per symbol (lambda = 0.94) over daily
    log close returns:

        var_t = 0.94 * var_{t-1} + 0.06 * r_t^2,   seeded var_1 = r_1^2

    folded STRICTLY left-to-right over the sorted return series (the
    ema_per_symbol discipline), emitting the final daily and annualized
    (sqrt 252) volatility -- the J.P. Morgan RiskMetrics (1996) decay
    standard.  Non-positive closes are excluded before the log.

    Scale: one day-cardinality close rollup, one symbol-cardinality
    groupBy holding the day array; the fold is scalar work inside a
    |symbol|-row frame."""
    daily = _daily_closes(events, positive_only=True)
    series = daily.groupBy("symbol").agg(
        F.expr("transform(array_sort(collect_list(struct(day, c))), s -> s.c)")
        .alias("xs")
    ).filter(F.size("xs") >= 3)
    rs = "transform(sequence(2, size(xs)), t -> ln(element_at(xs, t) / element_at(xs, t - 1)))"
    var = (
        f"aggregate(slice({rs}, 2, size({rs}) - 1), "
        f"element_at({rs}, 1) * element_at({rs}, 1), "
        f"(acc, r) -> 0.94 * acc + 0.06 * (r * r))"
    )
    return series.select(
        "symbol",
        (F.size("xs") - 1).cast("bigint").alias("n_rets"),
        qround(F.expr(f"sqrt({var})"), 6).alias("ewma_vol_daily"),
        qround(F.expr(f"sqrt({var} * 252.0)"), 6).alias("ewma_vol_annual"),
    ).orderBy("symbol")


def kalman_price_smooth(events: DataFrame) -> DataFrame:
    """1-d Kalman filter (local-level / random-walk-plus-noise model)
    over daily closes per symbol, with fixed process noise q = 0.001 and
    observation noise r = 0.01:

        p_pred = p + q
        k      = p_pred / (p_pred + r)
        x      = x + k * (z - x)
        p      = (1 - k) * p_pred

    seeded x_1 = close_1, p_1 = 1.0 and folded left-to-right with a
    struct accumulator; emits the final filtered level, error
    covariance, and steady-state gain.  Oracle twin: a recursive CTE
    carrying (x, p, k) as plain columns (the holt_forecast discipline
    -- DuckDB's struct-literal list_reduce shadows accumulator fields).

    Scale: day-cardinality rollup then a |symbol|-row fold -- the
    sequential recursion never touches trade cardinality."""
    daily = _daily_closes(events)
    series = daily.groupBy("symbol").agg(
        F.expr("transform(array_sort(collect_list(struct(day, c))), s -> s.c)")
        .alias("xs")
    ).filter(F.size("xs") >= 2)
    st = (
        "aggregate(slice(xs, 2, size(xs) - 1), "
        "named_struct('x', cast(element_at(xs, 1) as double), "
        "'p', cast(1.0 as double), 'k', cast(0.0 as double)), "
        "(acc, z) -> named_struct("
        "'x', acc.x + ((acc.p + 0.001) / (acc.p + 0.001 + 0.01)) * (z - acc.x), "
        "'p', (1.0 - ((acc.p + 0.001) / (acc.p + 0.001 + 0.01))) * (acc.p + 0.001), "
        "'k', (acc.p + 0.001) / (acc.p + 0.001 + 0.01)))"
    )
    return series.select(
        "symbol",
        F.size("xs").cast("bigint").alias("n_days"),
        qround(F.expr("element_at(xs, size(xs))"), 6).alias("last_close"),
        qround(F.expr(f"({st}).x"), 6).alias("kalman_level"),
        qround(F.expr(f"({st}).p"), 6).alias("error_cov"),
        qround(F.expr(f"({st}).k"), 6).alias("kalman_gain"),
    ).orderBy("symbol")


def adx(events: DataFrame) -> DataFrame:
    """Average Directional Index (Wilder 1978) over daily bars, the full
    three-stage recursion:

        +DM/-DM  directional moves (larger side wins, floored at 0)
        TR       true range
        Wilder smoothing s_t = s_{t-1} - s_{t-1}/14 + x_t, seeded with
                 the first-14 sum
        DI+/-    = 100 * smoothed DM / smoothed TR
        DX       = 100 * |DI+ - DI-| / (DI+ + DI-)
        ADX      = Wilder-averaged DX (seed = mean of first 14 DX)

    All three recursions run as SEQUENTIAL prefix folds over the sorted
    day array (the keltner/heikin discipline), staged as intermediate
    ARRAY columns so each fold's text appears once -- the oracle mirrors
    every stage with the identical op order.  DI rows emit from the
    14th move, ADX from the 27th (needs 14 DX values).

    Scale: the day-granularity OHLC rollup is the only data-sized pass;
    the staged folds are O(days^2) scalar work inside |symbol| rows --
    metadata-scale."""
    bars = _daily_bars(events)
    series = bars.groupBy("symbol").agg(
        F.expr(
            "array_sort(collect_list(struct(day, open as o, high as h,"
            " low as l, close as c)))"
        ).alias("bs")
    ).filter(F.size("bs") >= 15)
    el = "element_at(bs, {0})"
    up = f"({el.format('i')}.h - {el.format('i - 1')}.h)"
    dn = f"({el.format('i - 1')}.l - {el.format('i')}.l)"
    stage1 = series.select(
        "symbol",
        "bs",
        F.expr(
            f"transform(sequence(2, size(bs)), i -> "
            f"greatest({el.format('i')}.h - {el.format('i')}.l, "
            f"abs({el.format('i')}.h - {el.format('i - 1')}.c), "
            f"abs({el.format('i')}.l - {el.format('i - 1')}.c)))"
        ).alias("trs"),
        F.expr(
            f"transform(sequence(2, size(bs)), i -> "
            f"CASE WHEN {up} > {dn} AND {up} > 0 THEN {up} ELSE 0.0 END)"
        ).alias("dps"),
        F.expr(
            f"transform(sequence(2, size(bs)), i -> "
            f"CASE WHEN {dn} > {up} AND {dn} > 0 THEN {dn} ELSE 0.0 END)"
        ).alias("dms"),
    )
    # Wilder smoothing of array column {0} at position t (t >= 14):
    # seed = sum of elements 1..14, then fold s -> s - s/14 + x over 15..t
    wil = (
        "aggregate(slice({0}, 15, t - 14), "
        "aggregate(slice({0}, 1, 14), cast(0.0 as double), (acc, x) -> acc + x), "
        "(acc, x) -> acc - acc / 14.0 + x)"
    )
    m = "size(trs)"
    stage2 = stage1.select(
        "symbol",
        "bs",
        F.expr(
            f"transform(sequence(14, {m}), t -> {wil.format('trs')})"
        ).alias("str_"),
        F.expr(
            f"transform(sequence(14, {m}), t -> {wil.format('dps')})"
        ).alias("sdp"),
        F.expr(
            f"transform(sequence(14, {m}), t -> {wil.format('dms')})"
        ).alias("sdm"),
    )
    stage3 = stage2.select(
        "symbol",
        "bs",
        F.expr(
            "zip_with(sdp, str_, (p, tr) -> "
            "CASE WHEN tr != 0 THEN 100.0 * p / tr END)"
        ).alias("dips"),
        F.expr(
            "zip_with(sdm, str_, (p, tr) -> "
            "CASE WHEN tr != 0 THEN 100.0 * p / tr END)"
        ).alias("dims_"),
    )
    stage4 = stage3.select(
        "symbol",
        "bs",
        "dips",
        "dims_",
        F.expr(
            "zip_with(dips, dims_, (p, q) -> "
            "CASE WHEN (p + q) != 0 THEN 100.0 * abs(p - q) / (p + q) END)"
        ).alias("dxs"),
    )
    adx_fold = (
        "aggregate(slice(dxs, 15, t - 27), "
        "aggregate(slice(dxs, 1, 14), cast(0.0 as double), (acc, x) -> acc + x)"
        " / 14.0, "
        "(acc, x) -> (acc * 13.0 + x) / 14.0)"
    )
    per_day = (
        f"transform(sequence(14, size(dxs) + 13), t -> named_struct("
        f"'day', element_at(bs, t + 1).day, "
        f"'di_plus', element_at(dips, t - 13), "
        f"'di_minus', element_at(dims_, t - 13), "
        f"'dx', element_at(dxs, t - 13), "
        f"'adx', CASE WHEN t >= 27 THEN {adx_fold} END))"
    )
    ex = stage4.select("symbol", F.explode(F.expr(per_day)).alias("e"))
    return ex.select(
        "symbol",
        F.col("e.day").alias("day"),
        qround(F.col("e.di_plus"), 6).alias("di_plus"),
        qround(F.col("e.di_minus"), 6).alias("di_minus"),
        qround(F.col("e.dx"), 6).alias("dx"),
        qround(F.col("e.adx"), 6).alias("adx"),
    ).orderBy("symbol", "day")


def vpin_toxicity(events: DataFrame, bucket_qty: float = 2000.0) -> DataFrame:
    """VPIN order-flow toxicity (Easley, Lopez de Prado, O'Hara 2012)
    per symbol: ticks are signed by the TICK RULE (sign of the price
    change, carried forward through zero-change ticks), volume is
    grouped into equal-quantity buckets, and toxicity is the mean
    absolute buy/sell imbalance per bucket:

        VPIN = avg_buckets( |buy_vol - sell_vol| / bucket_vol )

    Leading ticks with no sign yet contribute volume to the bucket but
    to neither side; the trailing partial bucket is included (stated
    convention, mirrored in the oracle).

    Scale: one (symbol) sort shared by the lag, the ignore-nulls
    sign carry, and the running quantity sum (all O(1)-state frames),
    then two partial-aggregable groupBys collapsing to bucket and
    symbol cardinality."""
    w = Window.partitionBy("symbol").orderBy("ts", "event_id")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    qty = F.get_json_object(F.col("props"), "$.k").cast("double")
    ticks = events.select(
        F.col("event_type").alias("symbol"),
        "ts",
        "event_id",
        "value",
        qty.alias("qty"),
    )
    d = F.col("value") - F.lag("value").over(w)
    sign_raw = F.when(d > 0, F.lit(1.0)).when(d < 0, F.lit(-1.0))
    signed = ticks.select(
        "symbol",
        "qty",
        F.last(sign_raw, ignorenulls=True).over(wc).alias("sgn"),
        F.sum("qty").over(wc).alias("cum_qty"),
    )
    staged = signed.select(
        "symbol",
        F.floor(F.col("cum_qty") / F.lit(bucket_qty)).cast("bigint").alias("bucket_id"),
        "qty",
        F.when(F.col("sgn") == 1.0, F.col("qty")).otherwise(F.lit(0.0)).alias("buy_v"),
        F.when(F.col("sgn") == -1.0, F.col("qty")).otherwise(F.lit(0.0)).alias("sell_v"),
    )
    buckets = staged.groupBy("symbol", "bucket_id").agg(
        F.sum("buy_v").alias("b"),
        F.sum("sell_v").alias("s"),
        F.sum("qty").alias("v"),
    )
    imb = F.when(F.col("v") > 0, F.abs(F.col("b") - F.col("s")) / F.col("v"))
    return (
        buckets.select("symbol", imb.alias("imb"), "v")
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            qround(F.avg("imb"), 6).alias("vpin"),
            qround(F.max("imb"), 6).alias("max_imbalance"),
            qround(F.sum("v"), 6).alias("total_qty"),
        )
        .orderBy("symbol")
    )


def supertrend(events: DataFrame) -> DataFrame:
    """SuperTrend(10, 3) over daily bars: ATR(10) bands around the bar
    midpoint, ratcheted by the classic conditional recursion --

        final_ub_t = bub_t if (bub_t < final_ub_{t-1}
                               or close_{t-1} > final_ub_{t-1}) else carry
        final_lb_t = blb_t if (blb_t > final_lb_{t-1}
                               or close_{t-1} < final_lb_{t-1}) else carry
        trend flips when the close crosses the ACTIVE band

    seeded at the first full-ATR bar (t = 10) with direction = sign of
    close vs midpoint.  The supertrend line is the active band.  The
    fold recomputes per emission bar from the seed (the heikin/keltner
    O(days^2) prefix discipline); the oracle is a recursive CTE carrying
    (fub, flb, dirn) as plain columns -- struct-literal list_reduce
    would shadow accumulator fields in DuckDB.

    Scale: one day-granularity rollup, then |symbol|-row array work."""
    bars = _daily_bars(events)
    series = bars.groupBy("symbol").agg(
        F.expr(
            "array_sort(collect_list(struct(day, open as o, high as h,"
            " low as l, close as c)))"
        ).alias("bs")
    ).filter(F.size("bs") >= 15)
    trs = (
        "transform(sequence(1, size(bs)), i -> CASE WHEN i = 1 "
        "THEN element_at(bs, 1).h - element_at(bs, 1).l "
        "ELSE greatest(element_at(bs, i).h - element_at(bs, i).l, "
        "abs(element_at(bs, i).h - element_at(bs, i - 1).c), "
        "abs(element_at(bs, i).l - element_at(bs, i - 1).c)) END)"
    )
    atr_t = "(aggregate(slice(trs, t - 9, 10), cast(0.0 as double), (acc, x) -> acc + x) / 10.0)"
    stage = series.select(
        "symbol",
        "bs",
        F.expr("transform(bs, b -> (b.h + b.l) / 2.0)").alias("mids"),
        F.expr("transform(bs, b -> b.c)").alias("cs"),
        F.expr(trs).alias("trs"),
    ).select(
        "symbol",
        "bs",
        "mids",
        "cs",
        F.expr(
            f"transform(sequence(10, size(bs)), t -> element_at(mids, t) + 3.0 * {atr_t})"
        ).alias("bubs"),
        F.expr(
            f"transform(sequence(10, size(bs)), t -> element_at(mids, t) - 3.0 * {atr_t})"
        ).alias("blbs"),
    )
    fub_u = (
        "CASE WHEN element_at(bubs, u - 9) < acc.fub "
        "OR element_at(cs, u - 1) > acc.fub "
        "THEN element_at(bubs, u - 9) ELSE acc.fub END"
    )
    flb_u = (
        "CASE WHEN element_at(blbs, u - 9) > acc.flb "
        "OR element_at(cs, u - 1) < acc.flb "
        "THEN element_at(blbs, u - 9) ELSE acc.flb END"
    )
    seed = (
        "named_struct('fub', element_at(bubs, 1), 'flb', element_at(blbs, 1), "
        "'dirn', CASE WHEN element_at(cs, 10) >= element_at(mids, 10) "
        "THEN 1.0D ELSE -1.0D END)"
    )
    fold_t = (
        f"aggregate(slice(sequence(11, size(bs)), 1, t - 10), {seed}, "
        f"(acc, u) -> named_struct("
        f"'fub', {fub_u}, "
        f"'flb', {flb_u}, "
        f"'dirn', CASE WHEN acc.dirn = -1.0D "
        f"THEN (CASE WHEN element_at(cs, u) > ({fub_u}) THEN 1.0D ELSE -1.0D END) "
        f"ELSE (CASE WHEN element_at(cs, u) < ({flb_u}) THEN -1.0D ELSE 1.0D END) END))"
    )
    per_day = (
        f"transform(sequence(10, size(bs)), t -> named_struct("
        f"'day', element_at(bs, t).day, "
        f"'close', element_at(cs, t), "
        f"'st', {fold_t}))"
    )
    ex = stage.select("symbol", F.explode(F.expr(per_day)).alias("e"))
    return ex.select(
        "symbol",
        F.col("e.day").alias("day"),
        qround(F.col("e.close"), 6).alias("close"),
        qround(F.col("e.st.fub"), 6).alias("final_upper"),
        qround(F.col("e.st.flb"), 6).alias("final_lower"),
        qround(
            F.expr("CASE WHEN e.st.dirn = -1.0D THEN e.st.fub ELSE e.st.flb END"),
            6,
        ).alias("supertrend"),
        F.col("e.st.dirn").alias("direction"),
    ).orderBy("symbol", "day")


def almgren_chriss_schedule(
    events: DataFrame, total_shares: float = 1_000_000.0, n_slices: int = 10
) -> DataFrame:
    """Almgren-Chriss (2000) optimal-execution trajectory per symbol:
    liquidate ``total_shares`` over one day in ``n_slices`` intervals,
    with urgency kappa = sigma * sqrt(lambda / eta) (risk aversion
    lambda = 0.01, temporary impact eta = 0.1) calibrated from the
    symbol's daily log-return volatility.  The closed-form remaining
    inventory is the sinh schedule

        x_j = X * sinh(kappa * (T - t_j)) / sinh(kappa * T)

    emitted with the per-slice trade size; a zero-vol symbol degrades
    to the linear (TWAP) schedule explicitly.  sinh is spelled
    ``(exp(z) - exp(-z)) / 2`` as shared SQL text, since the two
    engines' builtin sinh availability differs.

    Scale: volatility is one day-cardinality rollup + one
    symbol-cardinality aggregate; the schedule explodes |symbol| rows
    by a constant n_slices -- metadata-sized end to end."""
    daily = _daily_closes(events, positive_only=True)
    w = Window.partitionBy("symbol").orderBy("day")
    lr = daily.select(
        "symbol", F.log(F.col("c") / F.lag("c").over(w)).alias("lr")
    )
    per_sym = lr.groupBy("symbol").agg(
        F.stddev_pop("lr").alias("sigma"), F.count("lr").alias("n_rets")
    ).filter(F.col("n_rets") >= 2)
    kappa = f"sigma * sqrt({0.01!r} / {0.1!r})"
    sinh = "((exp({0}) - exp(-({0}))) / 2.0)"
    tj = f"cast(j as double) / {float(n_slices)!r}"
    x_j = (
        f"CASE WHEN {kappa} > 0 THEN {total_shares!r} * "
        f"{sinh.format(f'({kappa}) * (1.0 - {tj})')} / {sinh.format(f'({kappa}) * 1.0')} "
        f"ELSE {total_shares!r} * (1.0 - {tj}) END"
    )
    sched = per_sym.select(
        "symbol",
        qround(F.expr(kappa), 6).alias("kappa"),
        F.explode(F.expr(f"transform(sequence(0, {n_slices}), j -> "
                         f"named_struct('slice_id', j, 'x', {x_j}))")).alias("e"),
    )
    ws = Window.partitionBy("symbol").orderBy(F.col("e.slice_id"))
    return sched.select(
        "symbol",
        "kappa",
        F.col("e.slice_id").cast("int").alias("slice_id"),
        qround(F.col("e.x"), 6).alias("remaining_shares"),
        qround(F.lag(F.col("e.x")).over(ws) - F.col("e.x"), 6).alias("slice_trade"),
    ).orderBy("symbol", "slice_id")


def spearman_ic_daily(events: DataFrame) -> DataFrame:
    """Daily cross-sectional information coefficient: each day, rank
    symbols by yesterday's return (the momentum signal) and by today's
    return (the outcome), and report the Spearman correlation of the
    two rank vectors -- the standard health metric for a cross-
    sectional alpha.  Ranks tie-break on the symbol for engine
    determinism; days missing either leg for any symbol drop that
    symbol's pair (standard listwise handling).

    Scale: returns are one day-cardinality rollup + a lag; ranking
    shuffles at (day) granularity over |symbols| rows per group --
    bar-sized, never tick-sized; the correlation is the covar/var
    closed form at day cardinality."""
    daily = _daily_closes(events, positive_only=True)
    w = Window.partitionBy("symbol").orderBy("day")
    staged = daily.select(
        "symbol", "day", F.log(F.col("c") / F.lag("c").over(w)).alias("fwd")
    )
    rets = staged.select(
        "symbol", "day", "fwd", F.lag("fwd").over(w).alias("sig")
    ).filter(F.col("fwd").isNotNull() & F.col("sig").isNotNull())
    wd_sig = Window.partitionBy("day").orderBy("sig", "symbol")
    wd_fwd = Window.partitionBy("day").orderBy("fwd", "symbol")
    ranked = rets.select(
        "day",
        F.row_number().over(wd_sig).cast("double").alias("r_sig"),
        F.row_number().over(wd_fwd).cast("double").alias("r_fwd"),
    )
    denom = F.stddev_pop("r_sig") * F.stddev_pop("r_fwd")
    ic = F.when(denom != 0, qround(F.covar_pop("r_sig", "r_fwd") / denom, 6))
    return (
        ranked.groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_assets"), ic.alias("ic"))
        .filter(F.col("n_assets") >= 3)
        .orderBy("day")
    )


def corwin_schultz_spread(events: DataFrame) -> DataFrame:
    """Corwin-Schultz (2012) high-low bid-ask spread estimator per
    symbol: for each consecutive-day pair, beta is the sum of the two
    squared daily log high/low ranges, gamma the squared log range of
    the two-day high over the two-day low, and

        alpha  = (sqrt(2 beta) - sqrt(beta)) / (3 - 2 sqrt(2))
                 - sqrt(gamma / (3 - 2 sqrt(2)))
        spread = 2 (e^alpha - 1) / (1 + e^alpha)

    Negative pair estimates are set to 0 (the paper's own convention),
    and the per-symbol report averages the pair spreads -- the standard
    liquidity screen when only OHLC bars (no quotes) exist.  Extends the
    reference's indicator set (dashboard.py:60-104) on the daily bars
    the gold layer already builds.

    Scale: one day-granularity OHLC rollup (partial-agg shuffle), ONE
    lead window per symbol at day cardinality, then a symbol-cardinality
    aggregate -- nothing tick-sized after the first exchange.
    Determinism: every input is an exact min/max selection; the per-pair
    arithmetic is identical IEEE ops on both engines."""
    bars = _daily_bars(events, positive_only=True)
    w = Window.partitionBy("symbol").orderBy("day")
    hl2 = F.pow(F.log(F.col("high") / F.col("low")), 2)
    beta = hl2 + F.lead(hl2).over(w)
    gamma = F.pow(
        F.log(
            F.greatest(F.col("high"), F.lead("high").over(w))
            / F.least(F.col("low"), F.lead("low").over(w))
        ),
        2,
    )
    k = 3.0 - 2.0 * 2.0**0.5
    alpha = (F.sqrt(2.0 * beta) - F.sqrt(beta)) / F.lit(k) - F.sqrt(gamma / F.lit(k))
    s = 2.0 * (F.exp(alpha) - 1.0) / (1.0 + F.exp(alpha))
    pairs = bars.select(
        "symbol", F.greatest(s, F.lit(0.0)).alias("s"), s.alias("s_raw")
    ).filter(F.col("s_raw").isNotNull())
    return (
        pairs.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            qround(F.avg("s"), 6).alias("cs_spread"),
            qround(F.avg(F.when(F.col("s_raw") > 0, 1.0).otherwise(0.0)), 4).alias(
                "pct_positive"
            ),
        )
        .orderBy("symbol")
    )


def triple_barrier_labels(
    events: DataFrame, horizon: int = 5, barrier: float = 0.01
) -> DataFrame:
    """Triple-barrier labeling (Lopez de Prado 2018) over daily closes:
    each day is labeled +1 if the forward return first touches the
    +``barrier`` profit-take within ``horizon`` days, -1 if it first
    touches the -``barrier`` stop, 0 if the vertical (time) barrier wins
    -- the supervised-learning target construction for financial ML.
    Only days with the full forward horizon available are labeled, and
    the report aggregates per symbol (label mix, hit rate, mean
    days-to-touch) -- the class-balance audit run before training.

    Scale: the forward path is ``horizon`` lead() columns over ONE
    (symbol, day) window sort at day cardinality -- no self-join, no
    range explosion; the label cascade is a per-row CASE.  Determinism:
    forward returns divide exact close selections -- identical IEEE ops
    on both engines, no aggregate in the compare path."""
    bars = _daily_bars(events).select("symbol", "day", "close")
    w = Window.partitionBy("symbol").orderBy("day")
    rets = [
        F.when(
            F.col("close") != 0,
            F.lead("close", i).over(w) / F.col("close") - 1.0,
        ).alias(f"r{i}")
        for i in range(1, horizon + 1)
    ]
    forward = bars.select("symbol", "day", *rets).filter(
        F.col(f"r{horizon}").isNotNull()
    )
    label: F.Column = F.lit(0)
    days_to_hit: F.Column = F.lit(None).cast("int")
    # build the cascade innermost-last so day 1 wins over day 2, etc.
    for i in range(horizon, 0, -1):
        r = F.col(f"r{i}")
        label = (
            F.when(r >= barrier, F.lit(1))
            .when(r <= -barrier, F.lit(-1))
            .otherwise(label)
        )
        days_to_hit = F.when(
            (r >= barrier) | (r <= -barrier), F.lit(i)
        ).otherwise(days_to_hit)
    labeled = forward.select("symbol", label.alias("label"), days_to_hit.alias("d"))
    n = F.count(F.lit(1))
    return (
        labeled.groupBy("symbol")
        .agg(
            n.alias("n_events"),
            F.sum(F.when(F.col("label") == 1, 1).otherwise(0)).alias("n_up"),
            F.sum(F.when(F.col("label") == -1, 1).otherwise(0)).alias("n_down"),
            F.sum(F.when(F.col("label") == 0, 1).otherwise(0)).alias("n_timeout"),
            qround(
                (n - F.sum(F.when(F.col("label") == 0, 1).otherwise(0)))
                / n.cast("double"),
                4,
            ).alias("hit_rate"),
            qround(F.avg(F.col("d").cast("double")), 4).alias("avg_days_to_hit"),
        )
        .orderBy("symbol")
    )


def sortino_ratio(events: DataFrame, periods: int = 252) -> DataFrame:
    """Annualized Sortino ratio per symbol over daily close-to-close
    returns: mean return over the downside deviation (root mean square
    of the NEGATIVE returns only, zeros included -- the 'full' downside
    convention), scaled by sqrt(``periods``).  The risk-adjusted ranking
    a desk prefers over Sharpe when the return distribution is skewed.

    Scale: day-granularity close rollup, one lag window, one
    symbol-cardinality aggregate.  Determinism: the downside variance is
    quantized at 12 dp at the aggregate boundary before the sqrt (the
    repo's quantize-before-sqrt convention), so both engines compose the
    ratio from identical doubles."""
    daily = _daily_closes(events)
    w = Window.partitionBy("symbol").orderBy("day")
    prev = F.lag("c").over(w)
    r = F.when(prev != 0, F.col("c") / prev - 1.0).alias("r")
    rets = daily.select("symbol", r).filter(F.col("r").isNotNull())
    dvar_q = qround(F.avg(F.pow(F.least(F.col("r"), F.lit(0.0)), 2)), 12)
    mean_q = qround(F.avg("r"), 12)
    stats = rets.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        mean_q.alias("mean_r_q"),
        dvar_q.alias("dvar_q"),
    )
    dd = F.sqrt(F.col("dvar_q"))
    ann = float(periods) ** 0.5
    return (
        stats.filter(F.col("n_days") >= 2)
        .select(
            "symbol",
            "n_days",
            qround(F.col("mean_r_q"), 6).alias("mean_daily_ret"),
            qround(dd * ann, 6).alias("downside_dev_annual"),
            F.when(
                dd > 0, qround(F.col("mean_r_q") / dd * ann, 6)
            ).alias("sortino_annual"),
        )
        .orderBy("symbol")
    )


def spread_half_life(events: DataFrame) -> DataFrame:
    """Mean-reversion half-life of every pair's hedge spread: fit the
    AR(1) step  ds_t = a + phi * s_{t-1} + e  by the OLS closed form on
    the minute-bar spread (hedge ratio from ``pairs_spread_zscore``'s
    covar/var construction), then  half_life = -ln 2 / ln(1 + phi)  when
    the pair actually mean-reverts (0 < 1 + phi < 1) -- the holding-
    period estimate that decides whether a stat-arb pair is tradeable.

    Scale: shares the minute-bar aggregate + pair equi-join shape with
    ``pairs_spread_zscore`` (bar cardinality, symbol<symbol halving);
    both OLS passes are partial-aggregable groupBys at pair cardinality.
    Determinism: the AR coefficient is a bounded covar/var ratio,
    quantized at 6 dp BEFORE the log on both engines, so the log always
    evaluates an identical grid point."""
    from .rollup import minute_bars_unsorted

    bars = minute_bars_unsorted(events).select("symbol", "minute_window", "close_price")
    a = bars.select(
        F.col("symbol").alias("sym_a"),
        F.col("minute_window").alias("mw"),
        F.col("close_price").alias("pa"),
    )
    b = bars.select(
        F.col("symbol").alias("sym_b"),
        F.col("minute_window").alias("mw_b"),
        F.col("close_price").alias("pb"),
    )
    paired = a.join(
        b, (F.col("mw") == F.col("mw_b")) & (F.col("sym_a") < F.col("sym_b"))
    ).select("sym_a", "sym_b", "mw", "pa", "pb")
    var_b = F.var_pop("pb")
    stats = paired.groupBy("sym_a", "sym_b").agg(
        qround(
            F.when(var_b != 0, F.covar_pop("pa", "pb") / var_b), 6
        ).alias("hedge_ratio")
    )
    spread = paired.join(F.broadcast(stats), ["sym_a", "sym_b"]).select(
        "sym_a",
        "sym_b",
        "mw",
        (F.col("pa") - F.col("hedge_ratio") * F.col("pb")).alias("s"),
    )
    w = Window.partitionBy("sym_a", "sym_b").orderBy("mw")
    lagged = spread.select(
        "sym_a",
        "sym_b",
        F.col("s"),
        F.lag("s").over(w).alias("s_lag"),
    ).filter(F.col("s_lag").isNotNull())
    var_lag = F.var_pop("s_lag")
    phi = F.when(var_lag != 0, F.covar_pop(F.col("s") - F.col("s_lag"), F.col("s_lag")) / var_lag)
    fitted = lagged.groupBy("sym_a", "sym_b").agg(
        F.count(F.lit(1)).alias("n_obs"),
        qround(F.lit(1.0) + phi, 6).alias("ar_coef"),
    )
    ln2 = 0.6931471805599453
    return (
        fitted.join(stats, ["sym_a", "sym_b"])
        .select(
            "sym_a",
            "sym_b",
            "n_obs",
            "hedge_ratio",
            "ar_coef",
            F.when(
                (F.col("ar_coef") > 0) & (F.col("ar_coef") < 1),
                qround(F.lit(-ln2) / F.log(F.col("ar_coef")), 4),
            ).alias("half_life_minutes"),
        )
        .orderBy("sym_a", "sym_b")
    )


def har_rv_regression(events: DataFrame) -> DataFrame:
    """Pooled HAR-RV regression (Corsi 2009, two-component form):
    tomorrow's daily realized variance on today's daily RV and the
    trailing 5-day mean RV,

        rv_{t+1} = b0 + b_d rv_t + b_w avg(rv_{t-4..t}) + e

    fit by the centered OLS closed form (2x2 Cramer on the pooled
    moment matrix) across all symbols, in natural log-return^2 units
    (the fixture's minute moves are O(1), so a bps scaling would push
    the pooled moments past the 2^53 quantization range).  Reports
    the betas and in-sample R^2 -- the standard volatility-forecasting
    benchmark every RV paper starts from.  RV is the sum of squared
    intraday minute log-returns per (symbol, day).

    Scale: minute-bar rollup -> day-cardinality RV aggregate -> one
    5-row window + lead per symbol -> ONE global moment aggregate
    (partial-aggregable, final exchange carries a single moment row).
    Determinism: per-day RV and every pooled moment are quantized at
    the aggregate boundary, so the Cramer solve composes identical
    doubles on both engines."""
    from .rollup import minute_bars_unsorted

    bars = minute_bars_unsorted(events).select(
        "symbol",
        "minute_window",
        F.date_trunc("day", F.col("minute_window")).alias("day"),
        "close_price",
    )
    wm = Window.partitionBy("symbol", "day").orderBy("minute_window")
    prev = F.lag("close_price").over(wm)
    # sf0.1 carries exact-0.0 ticks: guard the ratio (ANSI division) and
    # the log domain on BOTH engines (beta_vs_market convention)
    lr = F.when(
        (prev > 0) & (F.col("close_price") > 0),
        F.log(F.col("close_price") / prev),
    )
    intraday = bars.select("symbol", "day", lr.alias("lr")).filter(
        F.col("lr").isNotNull()
    )
    rv = intraday.groupBy("symbol", "day").agg(
        qround(F.sum(F.col("lr") * F.col("lr")), 6).alias("rv")
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    w5 = wd.rowsBetween(-4, 0)
    feats = rv.select(
        "symbol",
        "day",
        F.col("rv").alias("x_d"),
        F.avg("rv").over(w5).alias("x_w"),
        F.count(F.lit(1)).over(w5).alias("n_win"),
        F.lead("rv").over(wd).alias("y"),
    ).filter((F.col("n_win") == 5) & F.col("y").isNotNull())
    m = feats.agg(
        F.count(F.lit(1)).alias("n_obs"),
        qround(F.avg("x_d"), 6).alias("mx_d"),
        qround(F.avg("x_w"), 6).alias("mx_w"),
        qround(F.avg("y"), 6).alias("my"),
        qround(F.var_pop("x_d"), 6).alias("v_d"),
        qround(F.var_pop("x_w"), 6).alias("v_w"),
        qround(F.var_pop("y"), 6).alias("v_y"),
        qround(F.covar_pop("x_d", "x_w"), 6).alias("c_dw"),
        qround(F.covar_pop("x_d", "y"), 6).alias("c_dy"),
        qround(F.covar_pop("x_w", "y"), 6).alias("c_wy"),
    )
    det = F.col("v_d") * F.col("v_w") - F.col("c_dw") * F.col("c_dw")
    b_d = (F.col("c_dy") * F.col("v_w") - F.col("c_wy") * F.col("c_dw")) / det
    b_w = (F.col("c_wy") * F.col("v_d") - F.col("c_dy") * F.col("c_dw")) / det
    ok = F.abs(det) > 1e-9
    r2 = F.when(
        ok & (F.col("v_y") > 0),
        qround((b_d * F.col("c_dy") + b_w * F.col("c_wy")) / F.col("v_y"), 6),
    )
    return m.select(
        "n_obs",
        F.when(ok, qround(b_d, 6)).alias("beta_daily"),
        F.when(ok, qround(b_w, 6)).alias("beta_weekly"),
        F.when(
            ok, qround(F.col("my") - b_d * F.col("mx_d") - b_w * F.col("mx_w"), 6)
        ).alias("intercept"),
        r2.alias("r2"),
    )


def volume_profile(events: DataFrame, n_bins: int = 10) -> DataFrame:
    """Volume profile per symbol: traded quantity binned into
    ``n_bins`` equal price slices of the symbol's [min, max] value
    range, with each bin's volume share and the point-of-control flag
    (the bin holding the most volume, lowest bin on ties) -- the
    support/resistance map an execution desk reads before slicing a
    large order.  Quantity is the props ``k`` field (vwap convention);
    ticks without it count toward n_ticks but add no volume, matching
    SQL NULL-sum semantics.

    Scale: one symbol-cardinality min/max aggregate broadcast back over
    the scan (bounded dim), one (symbol, bin) groupBy (partial-agg
    shuffle), one window at |symbol x n_bins| cardinality.  Determinism:
    bin edges derive from exact min/max; bin volume is quantized BEFORE
    the point-of-control ranking so ties resolve identically on both
    engines."""
    qty = F.get_json_object(F.col("props"), "$.k").cast("double")
    bounds = events.groupBy(F.col("event_type").alias("symbol")).agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    src = events.select(
        F.col("event_type").alias("symbol"), "value", qty.alias("qty")
    ).join(F.broadcast(bounds), "symbol")
    bin_col = F.when(
        F.col("hi") > F.col("lo"),
        F.least(
            F.floor((F.col("value") - F.col("lo")) / (F.col("hi") - F.col("lo")) * n_bins),
            F.lit(n_bins - 1),
        ),
    ).otherwise(F.lit(0))
    binned = src.select("symbol", "lo", "hi", bin_col.alias("bin"), "qty")
    per_bin = binned.groupBy("symbol", "bin").agg(
        F.max("lo").alias("lo"),
        F.max("hi").alias("hi"),
        F.count(F.lit(1)).alias("n_ticks"),
        qround(F.coalesce(F.sum("qty"), F.lit(0.0)), 6).alias("volume"),
    )
    ws = Window.partitionBy("symbol")
    rank = F.row_number().over(
        Window.partitionBy("symbol").orderBy(F.col("volume").desc(), F.col("bin"))
    )
    total = F.sum("volume").over(ws)
    width = (F.col("hi") - F.col("lo")) / n_bins
    return (
        per_bin.select(
            "symbol",
            F.col("bin").cast("int").alias("bin"),
            qround(F.col("lo") + F.col("bin") * width, 6).alias("bin_low"),
            qround(F.col("lo") + (F.col("bin") + 1) * width, 6).alias("bin_high"),
            "n_ticks",
            "volume",
            F.when(total > 0, qround(F.col("volume") / total, 6)).alias("vol_share"),
            (rank == 1).alias("is_poc"),
        )
        .orderBy("symbol", "bin")
    )


def turnover_hhi(events: DataFrame) -> DataFrame:
    """Daily turnover concentration: the Herfindahl-Hirschman index of
    dollar-volume shares across symbols each day, its reciprocal (the
    'effective number of names' trading), and the single largest share
    -- the market-breadth gauge that distinguishes a broad session from
    one name dominating the tape.  Dollar volume is value * props.k.

    Scale: two stacked partial-aggregable groupBys ((day, symbol) then
    day) -- the share pass re-joins day totals at day-symbol
    cardinality, never tick cardinality.  Determinism: shares are
    bounded ratios; the HHI is quantized before its reciprocal so both
    engines invert the same grid point."""
    qty = F.get_json_object(F.col("props"), "$.k").cast("double")
    dv = events.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.col("event_type").alias("symbol"),
    ).agg(F.sum(F.col("value") * qty).alias("dv"))
    wd = Window.partitionBy("day")
    total_day = F.sum("dv").over(wd)
    shares = dv.select(
        "day",
        F.when(total_day != 0, F.col("dv") / total_day).alias("s"),
    )
    hhi_q = qround(F.sum(F.col("s") * F.col("s")), 6)
    return (
        shares.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_symbols"),
            hhi_q.alias("hhi"),
            qround(F.max("s"), 6).alias("top_share"),
        )
        .select(
            "day",
            "n_symbols",
            "hhi",
            F.when(F.col("hhi") > 0, qround(F.lit(1.0) / F.col("hhi"), 4)).alias(
                "effective_names"
            ),
            "top_share",
        )
        .orderBy("day")
    )


def omega_ratio(events: DataFrame) -> DataFrame:
    """Omega ratio per symbol at a zero threshold: expected gain over
    expected loss (both as means over ALL daily returns, the standard
    partial-moment form Omega(0) = E[r+] / E[r-]) -- the gain/loss
    asymmetry ranking that, unlike Sharpe/Sortino, uses the whole
    return distribution rather than two moments.

    Scale: day-granularity close rollup + one lag window + one
    symbol-cardinality aggregate (same ladder as ``sortino_ratio``).
    Determinism: both partial moments are quantized at the aggregate
    boundary before the ratio."""
    daily = _daily_closes(events)
    w = Window.partitionBy("symbol").orderBy("day")
    prev = F.lag("c").over(w)
    r = F.when(prev != 0, F.col("c") / prev - 1.0).alias("r")
    rets = daily.select("symbol", r).filter(F.col("r").isNotNull())
    gain_q = qround(F.avg(F.greatest(F.col("r"), F.lit(0.0))), 12)
    loss_q = qround(F.avg(F.greatest(-F.col("r"), F.lit(0.0))), 12)
    stats = rets.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        gain_q.alias("gain_q"),
        loss_q.alias("loss_q"),
    )
    return (
        stats.select(
            "symbol",
            "n_days",
            qround(F.col("gain_q"), 6).alias("avg_gain"),
            qround(F.col("loss_q"), 6).alias("avg_loss"),
            F.when(
                F.col("loss_q") > 0, qround(F.col("gain_q") / F.col("loss_q"), 6)
            ).alias("omega"),
        )
        .orderBy("symbol")
    )


def calmar_ratio(events: DataFrame) -> DataFrame:
    """Calmar ratio per symbol in the log-return domain: annualized log
    return (252/n * ln(last/first)) over the maximum close-to-close
    drawdown -- the recovery-speed metric CTA factsheets lead with.
    Log (not compounded-percentage) annualization on purpose: the
    fixture's daily "closes" are not a smooth price path, and a
    compounded (x^(252/n)) return explodes past the quantizer's 2^53
    range, while the log form is bounded and order-preserving (the
    ranking a Calmar screen actually uses).  Non-positive ticks are
    excluded (log domain), as in ``range_volatility``.

    Scale: day-granularity close rollup, ONE running-max window, one
    symbol-cardinality aggregate carrying (first, last, maxdd) -- the
    ``max_drawdown`` ladder with the ratio fused in.  Determinism: the
    drawdown is exact selections; the annualized log return is
    quantized at 12 dp before the ratio on both engines."""
    daily = _daily_closes(events, positive_only=True)
    w = Window.partitionBy("symbol").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dd = 1.0 - F.col("c") / F.max("c").over(w)
    framed = daily.select("symbol", "day", "c", dd.alias("dd"))
    stats = framed.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.min_by(F.col("c"), F.col("day")).alias("first_c"),
        F.max_by(F.col("c"), F.col("day")).alias("last_c"),
        qround(F.max("dd"), 6).alias("max_drawdown"),
    )
    ann_q = qround(
        (F.lit(252.0) / F.col("n_days"))
        * F.log(F.col("last_c") / F.col("first_c")),
        12,
    )
    return (
        stats.select(
            "symbol",
            "n_days",
            "max_drawdown",
            qround(ann_q, 6).alias("annual_log_return"),
            F.when(
                F.col("max_drawdown") > 0, qround(ann_q / F.col("max_drawdown"), 6)
            ).alias("calmar_log"),
        )
        .orderBy("symbol")
    )


def updown_capture(events: DataFrame) -> DataFrame:
    """Up/down capture ratios per symbol against the corpus's own
    equal-weight daily market index: the symbol's mean return on
    up-market days over the market's mean on those days, and the same
    on down-market days -- the asymmetry screen manager due-diligence
    reports lead with (capture > 1 up and < 1 down is the ideal).

    Scale: the ``beta_vs_market`` shape at day granularity -- returns at
    day cardinality, the market frame a day-keyed aggregate of the same
    frame broadcast back, one symbol-cardinality conditional aggregate.
    Determinism: each conditional mean is quantized at the aggregate
    boundary before the capture ratios."""
    daily = _daily_closes(events)
    w = Window.partitionBy("symbol").orderBy("day")
    prev = F.lag("c").over(w)
    rets = daily.select(
        "symbol",
        "day",
        F.when(prev != 0, F.col("c") / prev - 1.0).alias("r"),
    ).filter(F.col("r").isNotNull())
    market = rets.groupBy("day").agg(F.avg("r").alias("m"))
    joined = rets.join(F.broadcast(market), "day")
    up_r = qround(F.avg(F.when(F.col("m") > 0, F.col("r"))), 12)
    up_m = qround(F.avg(F.when(F.col("m") > 0, F.col("m"))), 12)
    dn_r = qround(F.avg(F.when(F.col("m") < 0, F.col("r"))), 12)
    dn_m = qround(F.avg(F.when(F.col("m") < 0, F.col("m"))), 12)
    stats = joined.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.when(F.col("m") > 0, 1).otherwise(0)).alias("n_up_days"),
        F.sum(F.when(F.col("m") < 0, 1).otherwise(0)).alias("n_down_days"),
        up_r.alias("up_r"),
        up_m.alias("up_m"),
        dn_r.alias("dn_r"),
        dn_m.alias("dn_m"),
    )
    return (
        stats.select(
            "symbol",
            "n_days",
            "n_up_days",
            "n_down_days",
            F.when(
                F.col("up_m") != 0, qround(F.col("up_r") / F.col("up_m"), 6)
            ).alias("up_capture"),
            F.when(
                F.col("dn_m") != 0, qround(F.col("dn_r") / F.col("dn_m"), 6)
            ).alias("down_capture"),
        )
        .orderBy("symbol")
    )


def gap_fill_probability(events: DataFrame) -> DataFrame:
    """Overnight-gap fill statistics per symbol: a day gaps up when it
    opens above the previous close (down symmetrically), and the gap
    'fills' if the same day's range re-touches that previous close
    (low <= prev close for gap-ups, high >= for gap-downs) -- the
    empirical base rate behind every gap-fade strategy note.

    Scale: one day-granularity OHLC rollup, ONE lag window, one
    symbol-cardinality conditional aggregate.  Determinism: every
    comparison is between exact open/high/low/close selections -- no
    float composition enters the compare path before the final
    quantized shares."""
    bars = _daily_bars(events)
    w = Window.partitionBy("symbol").orderBy("day")
    prev_c = F.lag("close").over(w)
    framed = bars.select(
        "symbol",
        "open",
        "high",
        "low",
        prev_c.alias("prev_c"),
    ).filter(F.col("prev_c").isNotNull() & (F.col("prev_c") != 0))
    gap = F.col("open") / F.col("prev_c") - 1.0
    is_up = F.col("open") > F.col("prev_c")
    is_dn = F.col("open") < F.col("prev_c")
    up_fill = is_up & (F.col("low") <= F.col("prev_c"))
    dn_fill = is_dn & (F.col("high") >= F.col("prev_c"))
    n_up = F.sum(is_up.cast("int"))
    n_dn = F.sum(is_dn.cast("int"))
    stats = framed.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        n_up.alias("n_gap_up"),
        n_dn.alias("n_gap_down"),
        F.sum(up_fill.cast("int")).alias("n_up_filled"),
        F.sum(dn_fill.cast("int")).alias("n_down_filled"),
        qround(F.avg(F.abs(gap)), 6).alias("avg_abs_gap"),
    )
    return (
        stats.select(
            "symbol",
            "n_days",
            "n_gap_up",
            F.when(
                F.col("n_gap_up") > 0,
                qround(F.col("n_up_filled") / F.col("n_gap_up"), 4),
            ).alias("pct_up_filled"),
            "n_gap_down",
            F.when(
                F.col("n_gap_down") > 0,
                qround(F.col("n_down_filled") / F.col("n_gap_down"), 4),
            ).alias("pct_down_filled"),
            "avg_abs_gap",
        )
        .orderBy("symbol")
    )


# ---------------------------------------------------------------------------
# round 10: liquidity, jump decomposition, random-walk diagnostics,
# intraday seasonality, drawdown episodes, tail risk
# ---------------------------------------------------------------------------

_HALF_PI = 1.5707963267948966  # pi/2 as a shared literal (both engines
# compose the bipower scaling from this exact double, no engine pi())


def bipower_variation_jumps(events: DataFrame) -> DataFrame:
    """Jump decomposition of realized variance per symbol
    (Barndorff-Nielsen & Shephard 2004): per (symbol, day) over
    intraday tick log returns, realized variance RV = sum(r_t^2) and
    bipower variation BV = (pi/2) * sum(|r_t| |r_{t-1}|); BV is robust
    to jumps, so the positive part of RV - BV is the jump contribution.
    Reports the per-symbol totals, the jump share, and how many days
    had a jump share above 25% -- the diagnostic that decides whether a
    vol model needs a jump term.

    Scale: two intra-day lag windows partitioned by (symbol, day), one
    day-granularity partial agg, one symbol-cardinality rollup.
    Determinism: RV and BV are snapped to exact integer pico-units
    (1e-12 grid as BIGINT) at the (symbol, day) aggregate boundary;
    symbol totals are order-independent integer sums, so every double
    reaching a division or requantization is bit-identical on both
    engines -- including the cancellation-prone RV - BV difference."""
    src = events.filter(F.col("value") > 0)
    wd = Window.partitionBy("symbol", "day").orderBy("ts", "event_id")
    ticks = src.select(
        F.col("event_type").alias("symbol"),
        F.date_trunc("day", F.col("ts")).alias("day"),
        "ts",
        "event_id",
        "value",
    )
    prev_v = F.lag("value").over(wd)
    lr = ticks.select(
        "symbol",
        "day",
        "ts",
        "event_id",
        F.when(prev_v.isNotNull(), F.log(F.col("value") / prev_v)).alias("lr"),
    ).filter(F.col("lr").isNotNull())
    prev_lr = F.lag("lr").over(wd)
    terms = lr.select(
        "symbol",
        "day",
        F.col("lr"),
        (F.abs(F.col("lr")) * F.abs(prev_lr)).alias("bp_term"),
    )
    # Day-level RV/BV in exact integer pico-units (1e-12 grid as BIGINT):
    # symbol totals are then order-independent integer sums, so the
    # jump-share divisions and the 1e-8 requantization see bit-identical
    # doubles on both engines (the drawdown_episodes lesson applied
    # preemptively to sums of grid values).
    rv_u = F.floor(
        F.sum(F.col("lr") * F.col("lr")) * F.lit(1e12) + F.lit(0.5)
    ).cast("long")
    bv_u = F.floor(
        F.sum("bp_term") * F.lit(_HALF_PI) * F.lit(1e12) + F.lit(0.5)
    ).cast("long")
    per_day = terms.groupBy("symbol", "day").agg(
        rv_u.alias("rv_u"),
        bv_u.alias("bv_u"),
        F.count(F.lit(1)).alias("n_rets"),
    ).filter(F.col("n_rets") >= 3)
    jump_day = F.when(
        F.col("rv_u") > 0,
        (
            F.greatest(F.col("rv_u") - F.col("bv_u"), F.lit(0).cast("long"))
            .cast("double")
            / F.col("rv_u").cast("double")
            > 0.25
        ).cast("long"),
    )
    framed = per_day.select("symbol", "rv_u", "bv_u", jump_day.alias("is_jump"))
    return (
        framed.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("rv_u").alias("rv_su"),
            F.sum("bv_u").alias("bv_su"),
            F.coalesce(F.sum("is_jump"), F.lit(0).cast("long")).alias(
                "n_jump_days"
            ),
        )
        .select(
            "symbol",
            "n_days",
            qround(F.col("rv_su").cast("double") / F.lit(1e12), 8).alias(
                "rv_total"
            ),
            qround(F.col("bv_su").cast("double") / F.lit(1e12), 8).alias(
                "bv_total"
            ),
            F.when(
                F.col("rv_su") > 0,
                qround(
                    F.greatest(
                        F.col("rv_su") - F.col("bv_su"), F.lit(0).cast("long")
                    ).cast("double")
                    / F.col("rv_su").cast("double"),
                    6,
                ),
            ).alias("jump_share"),
            "n_jump_days",
        )
        .orderBy("symbol")
    )


def variance_ratio(events: DataFrame) -> DataFrame:
    """Lo-MacKinlay variance-ratio diagnostic per symbol on daily log
    returns: VR(q) = var_pop(q-day overlapping return) / (q *
    var_pop(1-day return)) for q in {2, 5}.  VR near 1 is a random
    walk; below 1 mean reversion; above 1 momentum -- the first test a
    quant runs before fitting anything autoregressive.

    Scale: day-granularity rollup, two bounded window sums (ROWS q-1
    PRECEDING) at |symbol x day| cardinality, one symbol-cardinality
    aggregate.  Determinism: all four var_pop moments are quantized at
    12 dp at the aggregate boundary; each VR is a bounded-derivative
    ratio of quantized moments (the safe class in the VERIFICATION.md
    float audit)."""
    dclose = _daily_closes(events, positive_only=True)
    w = Window.partitionBy("symbol").orderBy("day")
    prev = F.lag("c").over(w)
    lr = dclose.select(
        "symbol",
        "day",
        F.when(prev.isNotNull(), F.log(F.col("c") / prev)).alias("lr"),
    ).filter(F.col("lr").isNotNull())

    def qret(q: int):
        wq = (
            Window.partitionBy("symbol")
            .orderBy("day")
            .rowsBetween(-(q - 1), 0)
        )
        return (
            F.when(F.count("lr").over(wq) == q, F.sum("lr").over(wq)),
            f"r{q}",
        )

    r2, n2 = qret(2)
    r5, n5 = qret(5)
    framed = lr.select("symbol", "lr", r2.alias(n2), r5.alias(n5))
    stats = framed.groupBy("symbol").agg(
        F.count("lr").alias("n_days"),
        qround(F.var_pop("lr"), 12).alias("v1"),
        qround(F.var_pop("r2"), 12).alias("v2"),
        qround(F.var_pop("r5"), 12).alias("v5"),
    )
    return (
        stats.filter(F.col("n_days") >= 10)
        .select(
            "symbol",
            "n_days",
            F.when(
                F.col("v1") > 0, qround(F.col("v2") / (F.lit(2.0) * F.col("v1")), 6)
            ).alias("vr_2"),
            F.when(
                F.col("v1") > 0, qround(F.col("v5") / (F.lit(5.0) * F.col("v1")), 6)
            ).alias("vr_5"),
        )
        .orderBy("symbol")
    )


def intraday_seasonality(events: DataFrame) -> DataFrame:
    """Intraday activity profile per (symbol, hour-of-day): tick count,
    mean absolute intraday log return, dollar volume, and each hour's
    share of the symbol's total dollar volume -- the U-shape curve that
    calibrates execution schedules (VWAP slippage is an hour-of-day
    function before it is anything else).

    Scale: one intra-day lag window, one partial-aggregable groupBy at
    |symbol x 24| cardinality, and a symbol-partitioned share window
    over that aggregated frame (bounded fan-in, never per-row).
    Determinism: dollar volume quantized at the aggregate boundary;
    the share is a bounded ratio of quantized sums."""
    src = events.filter(F.col("value") > 0)
    wd = Window.partitionBy("symbol", "day").orderBy("ts", "event_id")
    qty = F.get_json_object(F.col("props"), "$.k").cast("double")
    ticks = src.select(
        F.col("event_type").alias("symbol"),
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.hour("ts").alias("hour"),
        "ts",
        "event_id",
        "value",
        (F.col("value") * qty).alias("dollar"),
    )
    prev_v = F.lag("value").over(wd)
    framed = ticks.select(
        "symbol",
        "hour",
        F.when(prev_v.isNotNull(), F.abs(F.log(F.col("value") / prev_v))).alias(
            "abs_lr"
        ),
        "dollar",
    )
    per_hour = framed.groupBy("symbol", "hour").agg(
        F.count(F.lit(1)).alias("n_ticks"),
        qround(F.avg("abs_lr"), 8).alias("avg_abs_ret"),
        qround(F.sum("dollar"), 6).alias("dv_q"),
    )
    ws = Window.partitionBy("symbol")
    total = F.sum("dv_q").over(ws)
    return (
        per_hour.select(
            "symbol",
            "hour",
            "n_ticks",
            "avg_abs_ret",
            qround(F.col("dv_q"), 2).alias("dollar_volume"),
            F.when(total > 0, qround(F.col("dv_q") / total, 6)).alias("dv_share"),
        )
        .orderBy("symbol", "hour")
    )


def drawdown_episodes(events: DataFrame) -> DataFrame:
    """Drawdown episode statistics per symbol on the daily close path:
    episodes are delimited by new running highs; for each symbol report
    how many distinct drawdowns occurred, the deepest trough (1 -
    close/peak), the longest spell of days below the prior peak, and
    the mean episode depth -- the recovery-profile summary
    ``max_drawdown`` alone hides.

    Scale: day-granularity rollup, two cumulative windows partitioned
    by symbol (running max + episode counter), then two bounded
    aggregates (episode-, then symbol-cardinality).  Determinism: the
    running max is an exact selection over exact close doubles; the
    depth ratio divides identical doubles on both engines before the
    output quantization."""
    dclose = _daily_closes(events, positive_only=True)
    wcum = (
        Window.partitionBy("symbol")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    framed = dclose.select(
        "symbol",
        "day",
        "c",
        F.max("c").over(wcum).alias("peak"),
    ).withColumn(
        "epi",
        F.sum((F.col("c") >= F.col("peak")).cast("long")).over(wcum),
    )
    below = framed.filter(F.col("c") < F.col("peak"))
    # Episode depth in exact integer micro-units: the per-symbol mean of
    # several 1e-6-grid doubles lands EXACTLY on the next qround's .5
    # boundary with non-trivial probability, and Spark's partial-sum
    # order vs DuckDB's sequential sum then splits the floor (observed
    # at sf0.001).  BIGINT sums are order-independent, so every double
    # that reaches a qround is bit-identical on both engines.
    depth_u = F.floor(
        F.max(F.lit(1.0) - F.col("c") / F.col("peak")) * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    per_epi = below.groupBy("symbol", "epi").agg(
        F.count(F.lit(1)).alias("dur_days"),
        depth_u.alias("depth_u"),
    )
    return (
        per_epi.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_drawdowns"),
            qround(F.max("depth_u") / F.lit(1e6), 6).alias("max_depth"),
            F.max("dur_days").alias("max_duration_days"),
            qround(
                F.sum("depth_u").cast("double")
                / F.count(F.lit(1))
                / F.lit(1e6),
                6,
            ).alias("avg_depth"),
        )
        .orderBy("symbol")
    )


def historical_var_cvar(events: DataFrame) -> DataFrame:
    """Historical 95% VaR and CVaR (expected shortfall) per symbol on
    daily LOG returns under the INTERPOLATED-quantile estimator: VaR is
    the exact linear-interpolation 5th percentile, CVaR the mean of the
    returns at or below it.  Sibling of ``var_cvar_report`` (simple
    returns, k-th-worst ORDER-STATISTIC definition): the two estimators
    bracket the methodology choices real risk systems argue about, and
    only this one has a sketch migration path -- at 100 TB swap
    ``percentile_approx`` (mergeable KLL, same query shape, the
    ``value_percentiles_approx`` precedent), which approximates the
    interpolated quantile, not the order statistic.

    Scale: day-granularity rollup, one symbol-cardinality percentile
    aggregate broadcast back onto the |symbol x day| return frame for
    the tail mean -- no corpus-sized sort.  Determinism: the log
    returns are quantized at 12 dp BEFORE the percentile (collapsing
    any cross-engine libm ulp in ln onto a shared grid) and the
    interpolated quantile is quantized again before it becomes the
    tail threshold, so both engines cut the identical tail set."""
    rets = _daily_log_returns(events)
    stats = rets.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        qround(F.expr("percentile(lr, 0.05D)"), 12).alias("q05"),
    ).filter(F.col("n_days") >= 10)
    tail = (
        rets.join(F.broadcast(stats), "symbol")
        .filter(F.col("lr") <= F.col("q05"))
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_tail"),
            qround(F.avg("lr"), 6).alias("cvar_95"),
        )
    )
    return (
        stats.join(tail, "symbol")
        .select(
            "symbol",
            "n_days",
            qround(F.col("q05"), 6).alias("var_95"),
            "cvar_95",
            "n_tail",
        )
        .orderBy("symbol")
    )


def return_moments_profile(events: DataFrame) -> DataFrame:
    """Higher-moment profile of daily log returns per symbol: skewness,
    excess kurtosis, and the Jarque-Bera normality statistic
    n * (S^2/6 + K^2/24) -- the distribution-shape card a risk model
    reads before assuming Gaussian anything (fat tails inflate VaR,
    negative skew breaks vol targeting).

    Central moments are computed in two explicit phases -- a quantized
    per-symbol mean broadcast back onto the return frame, then quantized
    averages of (r - mean)^k -- NOT from raw-moment expansions (E[x^4] -
    4E[x^3]E[x] + ... is the catastrophic-cancellation shape the
    VERIFICATION.md float audit bans).

    Scale: day-granularity rollup, one symbol-cardinality broadcast
    join, one partial-aggregable moment pass.  Determinism: returns and
    the mean are quantized at 12 dp, so every central-moment input is
    an identical double on both engines; skew/kurtosis are bounded
    ratios of quantized moments; JB composes from the already-quantized
    outputs."""
    rets = _daily_log_returns(events)
    means = rets.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        qround(F.avg("lr"), 12).alias("mean_q"),
    ).filter(F.col("n_days") >= 10)
    d = F.col("lr") - F.col("mean_q")
    moments = (
        rets.join(F.broadcast(means), "symbol")
        .groupBy("symbol")
        .agg(
            F.max("n_days").alias("n_days"),
            F.max("mean_q").alias("mean_q"),
            qround(F.avg(d * d), 12).alias("m2"),
            qround(F.avg(d * d * d), 12).alias("m3"),
            qround(F.avg(d * d * d * d), 12).alias("m4"),
        )
    )
    skew = F.when(
        F.col("m2") > 0,
        qround(F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2"))), 6),
    )
    exk = F.when(
        F.col("m2") > 0,
        qround(F.col("m4") / (F.col("m2") * F.col("m2")) - F.lit(3.0), 6),
    )
    out = moments.select(
        "symbol",
        "n_days",
        qround(F.col("mean_q"), 6).alias("mean_daily_ret"),
        skew.alias("skewness"),
        exk.alias("excess_kurtosis"),
    )
    jb = F.when(
        F.col("skewness").isNotNull() & F.col("excess_kurtosis").isNotNull(),
        qround(
            F.col("n_days")
            * (
                F.col("skewness") * F.col("skewness") / F.lit(6.0)
                + F.col("excess_kurtosis")
                * F.col("excess_kurtosis")
                / F.lit(24.0)
            ),
            4,
        ),
    )
    return out.withColumn("jarque_bera", jb).orderBy("symbol")


def cross_sectional_momentum(events: DataFrame, lookback: int = 5) -> DataFrame:
    """Cross-sectional momentum backtest card: each day, rank symbols by
    their trailing ``lookback``-day return and sort them into terciles;
    report each tercile's mean NEXT-day return and hit rate -- the
    winner-minus-loser readout that decides whether momentum or
    reversal dominates this universe at the daily horizon.

    Scale: day-granularity rollup; the trailing and forward returns are
    per-symbol lag/lead windows, the tercile is an ntile over the DAY
    partition (cross-sectional fan-in = symbol universe cardinality,
    never row counts), and the final aggregate is 3 rows.  Determinism:
    returns divide exact close selections; ntile ordering tie-breaks on
    symbol; tercile means quantize last."""
    dclose = _daily_closes(events, positive_only=True)
    w = Window.partitionBy("symbol").orderBy("day")
    lagn = F.lag("c", lookback).over(w)
    nxt = F.lead("c").over(w)
    framed = dclose.select(
        "symbol",
        "day",
        F.when(lagn != 0, F.col("c") / lagn - 1.0).alias("mom"),
        F.when(F.col("c") != 0, nxt / F.col("c") - 1.0).alias("fwd"),
    ).filter(F.col("mom").isNotNull() & F.col("fwd").isNotNull())
    wd = Window.partitionBy("day").orderBy(F.col("mom").desc(), "symbol")
    terciled = framed.withColumn("tercile", F.ntile(3).over(wd))
    return (
        terciled.groupBy("tercile")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            qround(F.avg("fwd"), 6).alias("avg_fwd_ret"),
            qround(
                F.sum((F.col("fwd") > 0).cast("long")) / F.count(F.lit(1)), 4
            ).alias("hit_rate"),
        )
        .orderBy("tercile")
    )


def _iv_step_sql(s: str, tgt: str, rate: float, t_years: float) -> str:
    """One quantized Newton step for Black-Scholes implied vol, as SQL
    text shared VERBATIM by the Spark plan and the DuckDB oracle (the
    ``_norm_cdf_sql`` discipline).  ``s`` and ``tgt`` are COLUMN names,
    never nested expressions -- each iterate is materialized as its own
    column, so expression size stays linear in the iteration count."""
    sqrt_t = float(t_years) ** 0.5
    disc = float(__import__("math").exp(-rate * t_years))
    sq = f"({s} * {sqrt_t!r})"
    d1 = (
        f"((ln(spot / strike) + ({rate!r} + {s} * {s} / 2.0) * {t_years!r})"
        f" / {sq})"
    )
    d2 = f"({d1} - {sq})"
    price = (
        f"(spot * {_norm_cdf_sql(d1)} - strike * {disc!r} * {_norm_cdf_sql(d2)})"
    )
    vega = (
        f"(spot * {_INV_SQRT_2PI!r} * exp(-({d1} * {d1}) / 2.0) * {sqrt_t!r})"
    )
    step = (
        f"greatest(least({s} - ({price} - {tgt}) / greatest({vega}, 1e-8),"
        f" 10.0), 0.0001)"
    )
    return f"floor(({step}) * 1000000000000.0 + 0.5) / 1000000000000.0"


def _iv_price_sql(s: str, rate: float, t_years: float) -> str:
    """Black-Scholes call price at vol column ``s`` (shared SQL text)."""
    sqrt_t = float(t_years) ** 0.5
    disc = float(__import__("math").exp(-rate * t_years))
    sq = f"({s} * {sqrt_t!r})"
    d1 = (
        f"((ln(spot / strike) + ({rate!r} + {s} * {s} / 2.0) * {t_years!r})"
        f" / {sq})"
    )
    d2 = f"({d1} - {sq})"
    return (
        f"(spot * {_norm_cdf_sql(d1)} - strike * {disc!r} * {_norm_cdf_sql(d2)})"
    )


def _iv_d1_binding(s: str, rate: float, t_years: float, body: str) -> str:
    """Wrap ``body`` so that ``__d1`` and ``__d2`` are bound ONCE as
    lambda variables (r14, Spark side only): the inlined form recomputes
    the d1 text inside every N(x) polynomial reference, which blew the
    analyzed tree to ~45 KB for the 8-step solve -- measured ~1.2 s of
    per-rep driver analysis plus ~2 s of per-action planning/CSE on
    5 result rows.  Binding is pure common-subexpression elimination:
    the SAME deterministic double flows into the SAME downstream ops, so
    every IEEE result (and the DuckDB oracle, which keeps the inlined
    text) is bit-identical."""
    sqrt_t = float(t_years) ** 0.5
    sq = f"({s} * {sqrt_t!r})"
    d1 = (
        f"((ln(spot / strike) + ({rate!r} + {s} * {s} / 2.0) * {t_years!r})"
        f" / {sq})"
    )
    inner = f"transform(array((__d1 - {sq})), __d2 -> {body})[0]"
    return f"transform(array({d1}), __d1 -> {inner})[0]"


def _iv_price_spark_sql(s: str, rate: float, t_years: float) -> str:
    """``_iv_price_sql`` with the d1/d2 let-bindings (Spark side)."""
    disc = float(__import__("math").exp(-rate * t_years))
    body = (
        f"(spot * {_norm_cdf_sql('__d1')}"
        f" - strike * {disc!r} * {_norm_cdf_sql('__d2')})"
    )
    return _iv_d1_binding(s, rate, t_years, body)


def _iv_step_spark_sql(s: str, tgt: str, rate: float, t_years: float) -> str:
    """``_iv_step_sql`` with d1/d2 and the (price, vega) pair bound as
    lambda variables (Spark side; the oracle keeps the inlined twin --
    same arithmetic, same doubles, bit-identical results)."""
    sqrt_t = float(t_years) ** 0.5
    disc = float(__import__("math").exp(-rate * t_years))
    pv = (
        f"named_struct('p', (spot * {_norm_cdf_sql('__d1')}"
        f" - strike * {disc!r} * {_norm_cdf_sql('__d2')}),"
        f" 'v', (spot * {_INV_SQRT_2PI!r} * exp(-(__d1 * __d1) / 2.0)"
        f" * {sqrt_t!r}))"
    )
    step = (
        f"greatest(least({s} - (__pv.p - {tgt}) / greatest(__pv.v, 1e-8),"
        f" 10.0), 0.0001)"
    )
    quant = f"floor(({step}) * 1000000000000.0 + 0.5) / 1000000000000.0"
    body = f"transform(array({pv}), __pv -> {quant})[0]"
    return _iv_d1_binding(s, rate, t_years, body)


def implied_vol_newton(
    events: DataFrame,
    rate: float = 0.02,
    t_years: float = 30.0 / 365.0,
    n_iter: int = 8,
) -> DataFrame:
    """Black-Scholes implied volatility by an exactly-unrolled Newton
    solve: for each symbol, price an at-the-money call at a PLANTED
    per-symbol vol (0.15 + md5(symbol) % 8 * 0.05 -- deterministic,
    engine-shared, in the identifiable 15-50% range), quantize that
    price to a 1e-6 'market quote', then iterate sigma <- sigma -
    (price(sigma) - quote) / vega(sigma) from sigma = 0.5 for
    ``n_iter`` fixed steps, each iterate quantized at 12 dp and clamped
    to [1e-4, 10] -- the desk calculation that inverts quotes back to a
    vol surface.  The recovered vol is reported against the planted
    sigma with the residual repricing error and a convergence flag, so
    the query is its own referee (the ``pca_power_iteration``
    unrolled-solver precedent).  The vol is planted rather than
    estimated from this fixture's returns because the synthetic tape's
    ~2000% annualized vol prices every call at saturation (N(d1) = 1,
    vega = 0), where no solver -- and no market -- can identify vol
    from a quote; spot and strike stay data-driven.

    Scale: the solve runs on the |symbols|-cardinality frame -- pure
    projection arithmetic in whole-stage codegen after one partial-agg
    shuffle; iteration count is fixed and each iterate is bound ONCE as
    a SQL lambda variable via the transform(array(x), v -> ...)[0]
    let-binding idiom (the ``pairs_spread_backtest`` discipline), so
    the whole solve is a single projection -- the former one-withColumn-
    per-step chain re-ran eager Dataset analysis on the growing plan
    8 times per construction (measured ~1.1 s of pure driver time per
    rep at sf0.1).  Determinism: every iterate is quantized before the
    next step and every transcendental evaluates on those shared grid
    doubles; the per-step SQL text is byte-identical on both engines,
    evaluated on the same doubles through the binding."""
    from ..functions.hashing import md5_long

    per_sym = (
        events.filter(F.col("value") > 0)
        .groupBy(F.col("event_type").alias("symbol"))
        .agg(_close().alias("spot"))
        .filter(F.col("spot") > 0)
    )
    sigma_true = (
        F.lit(0.15)
        + (md5_long(F.col("symbol")) % 8).cast("double") * F.lit(0.05)
    )
    quoted = per_sym.select(
        "symbol",
        "spot",
        # Clamp the rounded ATM strike away from 0: a sub-0.5 spot would
        # otherwise floor to strike=0, making ln(spot/strike) infinite --
        # the price collapses to spot for EVERY sigma, vega pins at the
        # 1e-8 guard, and the Newton step becomes a converged-looking
        # no-op at the 0.5 seed (round-10 advisor finding).
        F.greatest(
            F.floor(F.col("spot") + F.lit(0.5)).cast("double"), F.lit(1.0)
        ).alias("strike"),
        qround(sigma_true, 6).alias("sigma_true"),
    )
    base = quoted.select(
        "symbol",
        "spot",
        "strike",
        "sigma_true",
        qround(F.expr(_iv_price_spark_sql("sigma_true", rate, t_years)), 6).alias(
            "target_px"
        ),
        F.lit(0.5).alias("s0"),
    ).filter(F.col("target_px") > 0)
    # innermost body: everything the outer SELECT needs from the solve,
    # computed where s{n_iter} is in scope so the struct is built once.
    # The *_spark_sql step/price twins bind d1/d2/(price, vega) as
    # lambda variables -- pure CSE of the oracle-shared inlined text
    # (bit-identical doubles), ~4x smaller analyzed tree (see
    # _iv_d1_binding).
    final = f"s{n_iter}"
    solved = (
        f"named_struct('iv', {final},"
        f" 'repriced', {_iv_price_spark_sql(final, rate, t_years)})"
    )
    for i in range(n_iter, 0, -1):
        solved = (
            f"transform(array({_iv_step_spark_sql(f's{i - 1}', 'target_px', rate, t_years)}),"
            f" s{i} -> {solved})[0]"
        )
    cur = base.withColumn("st", F.expr(solved))
    return cur.select(
        "symbol",
        "target_px",
        "sigma_true",
        qround(F.col("st.iv"), 6).alias("implied_vol"),
        qround(F.abs(F.col("st.iv") - F.col("sigma_true")), 6).alias("abs_vol_err"),
        qround(F.abs(F.col("st.repriced") - F.col("target_px")), 6).alias(
            "reprice_err"
        ),
        (
            F.abs(F.col("st.repriced") - F.col("target_px")) < F.lit(1e-4)
        ).alias("converged"),
    ).orderBy("symbol")


def ljung_box_autocorr(events: DataFrame, max_lag: int = 5) -> DataFrame:
    """Multi-lag autocorrelation function (lags 1..``max_lag``) of daily
    log returns per symbol plus the Ljung-Box portmanteau statistic
    Q = n(n+2) * sum_k rho_k^2 / (n-k) -- the serial-dependence test a
    risk desk runs before treating returns as i.i.d. (a significant Q
    invalidates sqrt-time vol scaling and plain historical VaR).
    Extends ``return_autocorr`` (lag-1 Pearson) to the full ACF with a
    joint test; rejection is against the chi-square(5) 5% critical
    value 11.0705.

    Reference scope: the engine-side indicator ladder the reference
    computes in pandas (dashboard.py:42-48) stops at SMA/RSI; this is
    the same daily-bar ladder carried to the diagnostics a real desk
    layers on top.

    Scale: day-granularity rollup, one symbol-cardinality mean
    broadcast back, then ONE window pass producing all ``max_lag``
    lagged-product columns (a single sort per symbol serves every lag)
    and one partial-aggregable groupBy.  Determinism: returns and the
    mean are quantized at 12 dp; every lagged product and the squared
    deviation snap to exact integer pico-units (BIGINT), so the
    groupBy sums are order-independent and the ACF ratios reaching the
    final qround are bit-identical on both engines (the
    drawdown_episodes integer-grid discipline, applied at creation)."""
    rets = _daily_log_returns(events)
    means = (
        rets.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            qround(F.avg("lr"), 12).alias("mean_q"),
        )
        .filter(F.col("n_days") >= 4 * max_lag)
    )
    dev_src = (
        rets.join(F.broadcast(means), "symbol")
        .withColumn("dev", F.col("lr") - F.col("mean_q"))
    )
    grid = F.lit(1e12)
    prod_cols = [
        F.floor(F.col("dev") * F.col("dev") * grid + F.lit(0.5))
        .cast("long")
        .alias("d0_u")
    ]
    w = Window.partitionBy("symbol").orderBy("day")
    for k in range(1, max_lag + 1):
        lagdev = F.lag("dev", k).over(w)
        prod_cols.append(
            F.when(
                lagdev.isNotNull(),
                F.floor(F.col("dev") * lagdev * grid + F.lit(0.5)).cast(
                    "long"
                ),
            ).alias(f"d{k}_u")
        )
    framed = dev_src.select("symbol", "n_days", "day", *prod_cols)
    agg = (
        framed.groupBy("symbol")
        .agg(
            F.max("n_days").alias("n_days"),
            F.sum("d0_u").alias("den_u"),
            *[
                F.sum(f"d{k}_u").alias(f"num{k}_u")
                for k in range(1, max_lag + 1)
            ],
        )
        .filter(F.col("den_u") > 0)
    )
    shaped = agg.select(
        "symbol",
        "n_days",
        *[
            qround(
                F.col(f"num{k}_u").cast("double") / F.col("den_u").cast("double"), 6
            ).alias(f"acf_{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    nd = F.col("n_days").cast("double")
    qsum = None
    for k in range(1, max_lag + 1):
        term = (
            F.col(f"acf_{k}") * F.col(f"acf_{k}")
            / (nd - F.lit(float(k)))
        )
        qsum = term if qsum is None else qsum + term
    final = shaped.withColumn(
        "ljung_box_q", qround(nd * (nd + F.lit(2.0)) * qsum, 4)
    )
    return final.select(
        "symbol",
        "n_days",
        *[f"acf_{k}" for k in range(1, max_lag + 1)],
        "ljung_box_q",
        (F.col("ljung_box_q") > F.lit(11.0705)).alias("reject_5pct"),
    ).orderBy("symbol")


def kupiec_var_backtest(events: DataFrame, p: float = 0.05) -> DataFrame:
    """Kupiec proportion-of-failures (POF) backtest of the historical
    95% VaR: per symbol, count days whose log return breaches the
    interpolated 5th-percentile threshold, then test whether the
    observed breach frequency is consistent with the model's coverage
    via the likelihood ratio LR_pof = 2 * [ln L(pi_hat) - ln L(p)],
    chi-square(1) under the null; rejection at the 5% critical value
    3.8415.  The regulatory-style answer to "is the VaR number from
    ``historical_var_cvar`` actually calibrated?" -- the governance
    layer ON TOP of the risk metric (the quality_filter_funnel
    nested-discipline precedent: this query re-derives the exact same
    threshold the VaR query reports, so the two stay consistent by
    construction).

    Scale: day-granularity rollup, one symbol-cardinality percentile
    aggregate broadcast back onto the |symbol x day| return frame for
    the breach count -- no corpus sort, one extra partial-aggregable
    pass over daily bars.  Determinism: returns and the threshold are
    quantized at 12 dp so both engines cut the identical breach set;
    every ln() the LR consumes is quantized at 12 dp before the
    products (libm-ulp isolation); breach counts are exact BIGINTs so
    pi_hat is the identical double on both engines."""
    rets = _daily_log_returns(events)
    stats = (
        rets.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            qround(F.expr(f"percentile(lr, {p}D)"), 12).alias("q05"),
        )
        .filter(F.col("n_days") >= 10)
    )
    breaches = (
        rets.join(F.broadcast(stats), "symbol")
        .groupBy("symbol")
        .agg(
            F.max("n_days").alias("n_days"),
            F.max("q05").alias("q05"),
            F.sum((F.col("lr") <= F.col("q05")).cast("long")).alias(
                "n_breach"
            ),
        )
    )
    nd = F.col("n_days").cast("double")
    n1 = F.col("n_breach").cast("double")
    pi_hat = n1 / nd
    ln_p = qround(F.log(F.lit(float(p))), 12)
    ln_1p = qround(F.log(F.lit(1.0 - float(p))), 12)
    # log-likelihood under the model's coverage p and under the
    # observed rate pi_hat; the 0*ln(0) = 0 convention handles the
    # all-breach / no-breach corners exactly on both engines
    ll_null = (nd - n1) * ln_1p + n1 * ln_p
    ll_alt = (
        F.when(
            (F.col("n_breach") > 0) & (F.col("n_breach") < F.col("n_days")),
            (nd - n1) * qround(F.log(F.lit(1.0) - pi_hat), 12)
            + n1 * qround(F.log(pi_hat), 12),
        )
        .otherwise(F.lit(0.0))
    )
    final = breaches.withColumn(
        "lr_pof", qround(F.lit(2.0) * (ll_alt - ll_null), 4)
    )
    return final.select(
        "symbol",
        "n_days",
        qround(F.col("q05"), 6).alias("var_95"),
        "n_breach",
        qround(pi_hat, 6).alias("breach_rate"),
        "lr_pof",
        (F.col("lr_pof") > F.lit(3.8415)).alias("reject_5pct"),
    ).orderBy("symbol")


def tail_dependence_matrix(events: DataFrame, q: float = 0.2) -> DataFrame:
    """Empirical lower-tail co-exceedance matrix: for every symbol pair,
    how often BOTH daily log returns land in their own worst-``q`` tail
    on the same day -- the copula-style systemic-risk readout that
    ordinary correlation misses (two symbols can be mildly correlated
    overall yet crash together; it is the joint tail that kills a
    portfolio).  Reports the conditional exceedance lambda_L =
    P(a in tail | b in tail) and the lift over independence
    n_both * n_days / (n_a_tail * n_b_tail); lift >> 1 = contagion.
    Complements ``symbol_correlations`` (full-sample Pearson): same
    pair grid, opposite end of the distribution.

    Scale: day-granularity rollup, one symbol-cardinality quantile
    broadcast back to flag tail days, then a self equi-join ON day --
    |days| x |symbols|^2 fan-out with symbols bounded, never an
    all-pairs row join -- and a partial-aggregable pair groupBy.
    Determinism: returns and thresholds quantized at 12 dp so both
    engines flag identical tail sets; every reported ratio is a ratio
    of exact BIGINT counts."""
    rets = _daily_log_returns(events)
    th = (
        rets.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days_sym"),
            qround(F.expr(f"percentile(lr, {q}D)"), 12).alias("qtail"),
        )
        .filter(F.col("n_days_sym") >= 10)
    )
    # (symbol x day)-cardinality lineage cut: `flags` feeds both sides
    # of the pair join, and itself embeds the day rollup + lag window +
    # the percentile threshold pass -- without the cut that corpus
    # subtree evaluates four times
    flags = rets.join(F.broadcast(th), "symbol").select(
        "symbol", "day", (F.col("lr") <= F.col("qtail")).alias("in_tail")
    ).localCheckpoint(eager=True)
    a = flags.select(
        F.col("symbol").alias("sym_a"),
        "day",
        F.col("in_tail").alias("tail_a"),
    )
    b = flags.select(
        F.col("symbol").alias("sym_b"),
        "day",
        F.col("in_tail").alias("tail_b"),
    )
    pairs = a.join(b, "day").filter(F.col("sym_a") < F.col("sym_b"))
    agg = pairs.groupBy("sym_a", "sym_b").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("tail_a").cast("long")).alias("n_a_tail"),
        F.sum(F.col("tail_b").cast("long")).alias("n_b_tail"),
        F.sum((F.col("tail_a") & F.col("tail_b")).cast("long")).alias(
            "n_both"
        ),
    )
    return agg.select(
        "sym_a",
        "sym_b",
        "n_days",
        "n_a_tail",
        "n_b_tail",
        "n_both",
        F.when(
            F.col("n_b_tail") > 0,
            qround(
                F.col("n_both").cast("double")
                / F.col("n_b_tail").cast("double"),
                6,
            ),
        ).alias("lambda_lower"),
        F.when(
            (F.col("n_a_tail") > 0) & (F.col("n_b_tail") > 0),
            qround(
                F.col("n_both").cast("double")
                * F.col("n_days").cast("double")
                / (
                    F.col("n_a_tail").cast("double")
                    * F.col("n_b_tail").cast("double")
                ),
                4,
            ),
        ).alias("tail_lift"),
    ).orderBy("sym_a", "sym_b")


# ---------------------------------------------------------------------------
# round 11 (continued): randomness diagnostics, noise-robust volatility,
# tail-averaged drawdown risk
# ---------------------------------------------------------------------------


def _daily_log_returns(events: DataFrame) -> DataFrame:
    """Internal (symbol, day, lr) frame: positive-tick ``_daily_closes``,
    then the 12-dp-quantized log return -- the shared first stage of every
    daily-bar risk diagnostic in this module.  One day-granularity
    partial agg + one symbol-partitioned window pass."""
    dclose = _daily_closes(events, positive_only=True)
    w = Window.partitionBy("symbol").orderBy("day")
    prev = F.lag("c").over(w)
    return dclose.select(
        "symbol",
        "day",
        F.when(prev.isNotNull(), qround(F.log(F.col("c") / prev), 12)).alias(
            "lr"
        ),
    ).filter(F.col("lr").isNotNull())


def runs_test_randomness(events: DataFrame) -> DataFrame:
    """Wald-Wolfowitz runs test on the SIGNS of daily log returns per
    symbol: count maximal runs of consecutive same-sign returns, compare
    to the count expected under exchangeability (E[R] = 2*n1*n2/n + 1),
    and report the normal-approximation z statistic.  Too FEW runs =
    trend persistence, too MANY = mean reversion -- the
    distribution-free cousin of ``ljung_box_autocorr`` (which tests
    linear autocorrelation; the runs test also catches sign dependence
    with no moment assumptions).  Zero returns (possible after 12-dp
    quantization of a flat day) carry no sign information and are
    dropped, per the classical construction.

    Scale: day-granularity rollup, one symbol-partitioned window pass
    for the sign-change indicator, one partial-aggregable groupBy.
    Determinism: n1/n2/runs are exact BIGINTs; E[R] and Var[R] are
    rational functions of those integers evaluated identically in
    double on both engines; sqrt is IEEE-correctly-rounded, so the z
    reaching the final qround is bit-identical."""
    rets = _daily_log_returns(events).filter(F.col("lr") != 0)
    sign = F.when(F.col("lr") > 0, F.lit(1)).otherwise(F.lit(-1))
    w = Window.partitionBy("symbol").orderBy("day")
    signed = rets.select("symbol", "day", sign.alias("s"))
    prev_s = F.lag("s").over(w)
    flagged = signed.select(
        "symbol",
        "s",
        F.when(prev_s.isNull() | (prev_s != F.col("s")), F.lit(1))
        .otherwise(F.lit(0))
        .alias("new_run"),
    )
    agg = (
        flagged.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum((F.col("s") == 1).cast("long")).alias("n_pos"),
            F.sum((F.col("s") == -1).cast("long")).alias("n_neg"),
            F.sum("new_run").alias("n_runs"),
        )
        .filter(
            (F.col("n_days") >= 20) & (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
        )
    )
    n = F.col("n_days").cast("double")
    n1 = F.col("n_pos").cast("double")
    n2 = F.col("n_neg").cast("double")
    two_n1n2 = F.lit(2.0) * n1 * n2
    mu = two_n1n2 / n + F.lit(1.0)
    var = two_n1n2 * (two_n1n2 - n) / (n * n * (n - F.lit(1.0)))
    z = F.when(
        var > 0,
        qround((F.col("n_runs").cast("double") - mu) / F.sqrt(var), 6),
    )
    return agg.select(
        "symbol",
        "n_days",
        "n_pos",
        "n_neg",
        "n_runs",
        qround(mu, 6).alias("expected_runs"),
        z.alias("z_stat"),
        (F.abs(z) > F.lit(1.96)).alias("reject_5pct"),
    ).orderBy("symbol")


def _parzen_weights(bandwidth: int) -> list[float]:
    """Parzen kernel weights k(h/(H+1)), h = 1..H -- computed once in
    Python and embedded as identical double literals in BOTH the Spark
    plan and the DuckDB oracle, so neither engine evaluates the cubic."""
    out = []
    for h in range(1, bandwidth + 1):
        x = h / (bandwidth + 1)
        if x <= 0.5:
            out.append(1.0 - 6.0 * x * x + 6.0 * x * x * x)
        else:
            out.append(2.0 * (1.0 - x) ** 3)
    return out


def realized_kernel_vol(events: DataFrame, bandwidth: int = 5) -> DataFrame:
    """Parzen realized-kernel variance per symbol (Barndorff-Nielsen,
    Hansen, Lunde & Shephard 2008): RK = gamma_0 + sum_{h=1..H}
    2*k(h/(H+1))*gamma_h over daily log returns, where gamma_h is the
    h-lag autocovariance sum.  The kernel folds serial dependence back
    into the variance estimate, making it robust to the bid-ask-bounce
    noise that biases plain realized variance upward; kernel_ratio
    RK/RV below 1 quantifies exactly that microstructure inflation.
    Completes the vol ladder: ``daily_return_volatility`` (naive),
    ``bipower_variation_jumps`` (jump-robust), this (noise-robust).

    Scale: day-granularity rollup, ONE symbol-partitioned window pass
    emitting all H lagged-product columns (a single sort serves every
    lag), one partial-aggregable groupBy to symbol cardinality.
    Determinism: the ljung_box integer-grid discipline -- every lagged
    product snaps to exact pico-unit BIGINTs, the kernel weights are
    shared Python double literals, and the weighted combination is
    written in fixed h order on both engines."""
    rets = _daily_log_returns(events)
    w = Window.partitionBy("symbol").orderBy("day")
    grid = F.lit(1e12)
    cols = [
        F.floor(F.col("lr") * F.col("lr") * grid + F.lit(0.5))
        .cast("long")
        .alias("g0_u")
    ]
    for h in range(1, bandwidth + 1):
        lagr = F.lag("lr", h).over(w)
        cols.append(
            F.when(
                lagr.isNotNull(),
                F.floor(F.col("lr") * lagr * grid + F.lit(0.5)).cast("long"),
            ).alias(f"g{h}_u")
        )
    framed = rets.select("symbol", "day", *cols)
    agg = (
        framed.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            *[
                F.sum(f"g{h}_u").alias(f"g{h}_u")
                for h in range(0, bandwidth + 1)
            ],
        )
        .filter(F.col("n_days") >= 4 * bandwidth)
    )
    weights = _parzen_weights(bandwidth)
    rv = F.col("g0_u").cast("double") / F.lit(1e12)
    rk = F.col("g0_u").cast("double")
    for h in range(1, bandwidth + 1):
        rk = rk + F.lit(2.0 * weights[h - 1]) * F.col(f"g{h}_u").cast(
            "double"
        )
    rk = qround(rk / F.lit(1e12), 12)
    nd = F.col("n_days").cast("double")
    ann = F.sqrt(qround(F.greatest(rk, F.lit(0.0)) * F.lit(252.0) / nd, 12))
    return agg.select(
        "symbol",
        "n_days",
        qround(rv, 10).alias("rv"),
        qround(rk, 10).alias("rk_variance"),
        F.when(rv > 0, qround(rk / rv, 6)).alias("kernel_ratio"),
        qround(ann, 6).alias("rk_vol_annualized"),
    ).orderBy("symbol")


def cdar_conditional_drawdown(events: DataFrame, tail: float = 0.05) -> DataFrame:
    """Conditional drawdown at risk (CDaR, Chekhlov-Uryasev-Zabarankin):
    per symbol, the running-peak drawdown series over daily closes, then
    the average of the worst ceil(n * tail) drawdown depths -- the
    tail-averaged cousin of ``max_drawdown`` (a single worst point) and
    the drawdown analogue of CVaR (``historical_var_cvar``).  A
    portfolio mandate written against CDaR penalizes REPEATED deep
    underwater spells that a lone max-drawdown number hides.

    Scale: day-granularity rollup, one symbol-partitioned window pass
    (running max + depth), a row_number cut to the k worst rows, one
    partial-aggregable groupBy.  Determinism: depths snap to pico-unit
    BIGINTs BEFORE ranking, the desc sort tie-breaks on day, and the
    tail mean is a ratio of an exact integer sum over an exact integer
    count; k = ceil(n/ (1/tail)) is evaluated as ceil(n * tail) on the
    same doubles by both engines."""
    dclose = _daily_closes(events, positive_only=True)
    w = Window.partitionBy("symbol").orderBy("day")
    runmax = F.max("c").over(w.rowsBetween(Window.unboundedPreceding, 0))
    dd = qround(F.lit(1.0) - F.col("c") / runmax, 12)
    depth = dclose.select(
        "symbol",
        "day",
        F.floor(dd * F.lit(1e12) + F.lit(0.5)).cast("long").alias("dd_u"),
    )
    n_per = Window.partitionBy("symbol")
    ranked = depth.select(
        "symbol",
        "dd_u",
        F.count(F.lit(1)).over(n_per).alias("n_days"),
        F.row_number()
        .over(Window.partitionBy("symbol").orderBy(F.desc("dd_u"), "day"))
        .alias("rk"),
    ).filter(F.col("n_days") >= 20)
    k = F.ceil(F.col("n_days").cast("double") * F.lit(float(tail))).cast(
        "long"
    )
    tail_rows = ranked.filter(F.col("rk") <= k)
    agg = tail_rows.groupBy("symbol").agg(
        F.max("n_days").alias("n_days"),
        F.count(F.lit(1)).alias("k_tail"),
        F.max("dd_u").alias("max_u"),
        F.sum("dd_u").alias("sum_u"),
    )
    return agg.select(
        "symbol",
        "n_days",
        "k_tail",
        qround(F.col("max_u").cast("double") / F.lit(1e12), 6).alias(
            "max_drawdown"
        ),
        qround(
            F.col("sum_u").cast("double")
            / F.col("k_tail").cast("double")
            / F.lit(1e12),
            6,
        ).alias("cdar"),
    ).orderBy("symbol")


_SQRT_252 = 15.874507866387544  # sqrt(252) as a shared double literal


def treynor_information_ratios(events: DataFrame) -> DataFrame:
    """Treynor ratio and information ratio per symbol against the
    equal-weight DAILY market index: beta = covar_pop(r, m)/var_pop(m),
    Treynor = annualized mean return over that beta (excess return per
    unit of SYSTEMATIC risk -- the Sharpe denominator swapped for beta),
    and IR = annualized mean active return over tracking error (the
    skill-vs-benchmark readout).  Completes the ratio ladder next to
    ``sortino_ratio``/``calmar_ratio``/``omega_ratio`` and the
    minute-bar ``beta_vs_market`` (this one runs on the daily ladder,
    where betas are what a portfolio mandate quotes).

    Scale: day-granularity rollup; the market frame is a day-keyed
    aggregate of the same returns (one row per day, broadcast back);
    final stats are one partial-aggregable symbol groupBy.
    Determinism: returns and the market mean quantized at 12 dp;
    mean/TE quantized at 12 dp before the ratio products; sqrt(252) is
    a shared Python double literal."""
    rets = _daily_log_returns(events)
    market = rets.groupBy("day").agg(
        qround(F.avg("lr"), 12).alias("m")
    )
    joined = (
        rets.join(F.broadcast(market), "day")
        .withColumn("active", F.col("lr") - F.col("m"))
    )
    var_m = F.var_pop("m")
    agg = (
        joined.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            qround(F.avg("lr"), 12).alias("mean_r"),
            F.when(
                var_m != 0, qround(F.covar_pop("lr", "m") / var_m, 6)
            ).alias("beta"),
            qround(F.avg("active"), 12).alias("mean_active"),
            qround(F.stddev_pop("active"), 12).alias("te"),
        )
        .filter(F.col("n_days") >= 20)
    )
    return agg.select(
        "symbol",
        "n_days",
        "beta",
        F.when(
            F.col("beta").isNotNull() & (F.col("beta") != 0),
            qround(F.col("mean_r") * F.lit(252.0) / F.col("beta"), 6),
        ).alias("treynor_ann"),
        qround(F.col("te"), 6).alias("tracking_error"),
        F.when(
            F.col("te") != 0,
            qround(
                F.col("mean_active") / F.col("te") * F.lit(_SQRT_252), 6
            ),
        ).alias("info_ratio_ann"),
    ).orderBy("symbol")


def lee_ready_tick_classification(events: DataFrame) -> DataFrame:
    """Tick-rule trade signing (the quote-free arm of Lee-Ready 1991):
    each trade is buyer-initiated when it prints above the previous
    price, seller-initiated below, and inherits the LAST NON-ZERO tick
    direction on an unchanged print -- a last(ignorenulls) gap-fill
    window, the classic carry-forward idiom.  Reports per (symbol, day)
    the signed counts, the buy ratio, and the signed dollar-flow
    imbalance that ``order_flow_imbalance``-style toxicity metrics
    consume upstream.

    Scale: ONE (symbol)-partitioned arrival-order window pass (lag +
    running last-non-null are both O(1) state), then a partial-
    aggregable (symbol, day) groupBy.  Determinism: tick signs are
    exact integer comparisons on raw doubles; dollar flow snaps to
    per-row micro-unit BIGINTs (sign applied to the already-floored
    magnitude), so group sums are order-independent."""
    src = events.filter(F.col("value") > 0)
    w = Window.partitionBy("symbol").orderBy("ts", "event_id")
    base = src.select(
        F.col("event_type").alias("symbol"),
        "ts",
        "event_id",
        "value",
        F.get_json_object(F.col("props"), "$.k").cast("double").alias("qty"),
    )
    prev = F.lag("value").over(w)
    d_sign = (
        F.when(prev.isNull(), F.lit(None).cast("int"))
        .when(F.col("value") > prev, F.lit(1))
        .when(F.col("value") < prev, F.lit(-1))
        .otherwise(F.lit(0))
    )
    signed = base.withColumn("tick", d_sign)
    carry = F.last(
        F.when(F.col("tick") != 0, F.col("tick")), ignorenulls=True
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    flagged = signed.select(
        "symbol",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "value",
        "qty",
        carry.alias("side"),
    )
    flow_u = F.when(
        F.col("side").isNotNull() & F.col("qty").isNotNull(),
        F.col("side").cast("long")
        * F.floor(F.col("value") * F.col("qty") * F.lit(1e6) + F.lit(0.5))
        .cast("long"),
    )
    agg = flagged.groupBy("symbol", "day").agg(
        F.count(F.lit(1)).alias("n_trades"),
        F.sum((F.col("side") == 1).cast("long")).alias("n_buys"),
        F.sum((F.col("side") == -1).cast("long")).alias("n_sells"),
        F.sum(F.col("side").isNull().cast("long")).alias("n_unclassified"),
        F.sum(flow_u).alias("flow_u"),
    )
    classified = F.col("n_buys") + F.col("n_sells")
    return agg.select(
        "symbol",
        "day",
        "n_trades",
        "n_buys",
        "n_sells",
        "n_unclassified",
        F.when(
            classified > 0,
            qround(
                F.col("n_buys").cast("double") / classified.cast("double"), 6
            ),
        ).alias("buy_ratio"),
        qround(
            F.coalesce(F.col("flow_u"), F.lit(0)).cast("double") / F.lit(1e6),
            6,
        ).alias("dollar_flow_imbalance"),
    ).orderBy("symbol", "day")


# GARCH(1,1) filter parameters as shared literal TEXT (the MACD
# precedent): omega is expressed as a fixed share of the unconditional
# variance so the filter is mean-reverting to the sample level by
# construction; both engines compose the identical IEEE sequence.
GARCH_ALPHA = "0.08"
GARCH_BETA = "0.9"
GARCH_OMEGA_SHARE = "0.02"  # 1 - alpha - beta, as its own literal


def garch_filter_vol(events: DataFrame) -> DataFrame:
    """GARCH(1,1) conditional-variance FILTER per symbol over daily log
    returns: sigma2_t = omega + alpha*r^2_{t-1} + beta*sigma2_{t-1}
    with fixed textbook parameters (alpha 0.08, beta 0.90) and omega
    anchored to the sample unconditional variance -- the vol-clustering
    state every risk engine carries between days (estimation of the
    parameters is an offline MLE; the FILTER is the per-day production
    pass, same split as ses/holt forecasting).  Reports the terminal
    conditional vol vs the unconditional level and how many days the
    filter spent above 2x the unconditional variance -- the
    high-vol-regime occupancy.

    Scale: the recurrence is ONE linear ``aggregate`` fold per symbol
    over the ordered daily-return array (the macd_summary idiom) -- a
    day-cardinality buffer per symbol, zero extra shuffles past the
    daily rollup.  Determinism: the seed variance is an exact
    pico-grid rational (BIGINT sum of squared-return units / n), the
    fold expression text is shared verbatim with the oracle so both
    engines execute the identical IEEE sequence, and the regime counter
    increments by exact 1.0 steps."""
    rets = _daily_log_returns(events)
    grid = F.lit(1e12)
    per = rets.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(
            F.floor(F.col("lr") * F.col("lr") * grid + F.lit(0.5)).cast(
                "long"
            )
        ).alias("sum_u"),
        F.expr("transform(array_sort(collect_list(struct(day, lr))), s -> s.lr)").alias(
            "vals"
        ),
    ).filter(F.col("n_days") >= 20)
    nd = F.col("n_days").cast("double")
    staged = per.select(
        "symbol",
        "n_days",
        (F.col("sum_u").cast("double") / nd / F.lit(1e12)).alias("vhat"),
        "vals",
    )
    a, b, w = GARCH_ALPHA, GARCH_BETA, GARCH_OMEGA_SHARE
    s2_next = f"{w}D * acc.vh + {a}D * x * x + {b}D * acc.s2"
    fold = (
        "aggregate(vals, "
        "named_struct('s2', vhat, 'hi', 0.0D, 'vh', vhat), "
        f"(acc, x) -> named_struct('s2', {s2_next}, "
        f"'hi', acc.hi + (CASE WHEN ({s2_next}) > 2.0D * acc.vh "
        "THEN 1.0D ELSE 0.0D END), "
        "'vh', acc.vh))"
    )
    folded = staged.select(
        "symbol",
        "n_days",
        "vhat",
        F.expr(fold).alias("st"),
    )
    s2 = F.col("st.s2")
    vhat = F.col("vhat")
    return folded.select(
        "symbol",
        "n_days",
        qround(F.sqrt(qround(vhat * F.lit(252.0), 12)), 6).alias(
            "uncond_vol_ann"
        ),
        qround(
            F.sqrt(qround(F.greatest(s2, F.lit(0.0)) * F.lit(252.0), 12)), 6
        ).alias("garch_vol_ann"),
        F.when(
            vhat > 0, qround(F.sqrt(qround(s2 / vhat, 12)), 6)
        ).alias("terminal_vol_ratio"),
        F.col("st.hi").cast("long").alias("n_high_vol_days"),
        qround(F.col("st.hi") / nd, 6).alias("high_vol_share"),
    ).orderBy("symbol")


def hayashi_yoshida_covariance(events: DataFrame) -> DataFrame:
    """Hayashi-Yoshida (2005) covariance/correlation between
    ASYNCHRONOUSLY traded symbols: sum r_a * r_b over every pair of
    tick returns whose time intervals OVERLAP -- the estimator that
    needs no common sampling grid, unlike ``symbol_correlations``
    (daily grid) or ``beta_vs_market`` (minute grid), both of which
    suffer the Epps-effect bias when ticks don't align.  Reports the HY
    covariance and the HY correlation (normalized by each symbol's full
    realized variance) per symbol pair.

    Scale -- the banded interval join: each return interval
    (prev_ts, ts] is exploded to the MINUTE buckets it touches (total
    explode size is ticks + minutes-spanned, linear), pairs equi-join
    ON bucket with the overlap predicate as a residual filter, and each
    overlapping pair is counted EXACTLY ONCE by the claim rule
    bucket == greatest(start_bucket_a, start_bucket_b) -- the first
    bucket both intervals inhabit, which the overlap guarantees is
    within both ranges.  No distinct, no pair dedup shuffle, no
    cartesian: the join is bucket-keyed with per-bucket fan-out bounded
    by per-minute tick counts.  Determinism: returns quantized at
    12 dp; every cross product and squared return snaps to pico-unit
    BIGINTs, so all sums are order-independent."""
    src = events.filter(F.col("value") > 0)
    w = Window.partitionBy("symbol").orderBy("ts", "event_id")
    base = src.select(
        F.col("event_type").alias("symbol"), "ts", "event_id", "value"
    )
    prev_v = F.lag("value").over(w)
    prev_ts = F.lag("ts").over(w)
    ticks = base.select(
        "symbol",
        "event_id",
        F.unix_micros(prev_ts).alias("p_us"),
        F.unix_micros(F.col("ts")).alias("t_us"),
        F.when(prev_v.isNotNull(), qround(F.log(F.col("value") / prev_v), 12)).alias(
            "r"
        ),
    ).filter(F.col("r").isNotNull())
    minute = F.lit(60_000_000)
    grid = F.lit(1e12)
    spans = ticks.select(
        "symbol",
        "event_id",
        "p_us",
        "t_us",
        "r",
        F.floor(F.col("p_us") / minute).cast("long").alias("b0"),
        F.floor(F.col("t_us") / minute).cast("long").alias("b1"),
    )
    exploded = spans.select(
        "symbol",
        "event_id",
        "p_us",
        "t_us",
        "r",
        "b0",
        F.explode(F.sequence(F.col("b0"), F.col("b1"))).alias("bucket"),
    )
    rv = spans.groupBy("symbol").agg(
        F.sum(
            F.floor(F.col("r") * F.col("r") * grid + F.lit(0.5)).cast("long")
        ).alias("rv_u"),
        F.count(F.lit(1)).alias("n_returns"),
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    cond = (
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.symbol") < F.col("b.symbol"))
        & (F.col("a.p_us") < F.col("b.t_us"))
        & (F.col("b.p_us") < F.col("a.t_us"))
        & (
            F.col("a.bucket")
            == F.greatest(F.col("a.b0"), F.col("b.b0"))
        )
    )
    prods = (
        a.join(b, cond)
        .groupBy(
            F.col("a.symbol").alias("sym_a"), F.col("b.symbol").alias("sym_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_overlap_pairs"),
            F.sum(
                F.floor(F.col("a.r") * F.col("b.r") * grid + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("cov_u"),
        )
    )
    rva = rv.select(
        F.col("symbol").alias("sym_a"),
        F.col("rv_u").alias("rva_u"),
        F.col("n_returns").alias("n_a"),
    )
    rvb = rv.select(
        F.col("symbol").alias("sym_b"),
        F.col("rv_u").alias("rvb_u"),
        F.col("n_returns").alias("n_b"),
    )
    joined = prods.join(F.broadcast(rva), "sym_a").join(
        F.broadcast(rvb), "sym_b"
    )
    denom = F.sqrt(F.col("rva_u").cast("double") * F.col("rvb_u").cast("double"))
    return joined.select(
        "sym_a",
        "sym_b",
        "n_a",
        "n_b",
        "n_overlap_pairs",
        qround(F.col("cov_u").cast("double") / grid, 10).alias("hy_cov"),
        F.when(
            denom > 0,
            qround(F.col("cov_u").cast("double") / denom, 6),
        ).alias("hy_corr"),
    ).orderBy("sym_a", "sym_b")


def kendall_tau_matrix(events: DataFrame) -> DataFrame:
    """Exact Kendall tau-b rank correlation between every symbol pair's
    daily log returns -- the outlier-robust companion to the Pearson
    ``symbol_correlations`` (one fat-finger day can dominate a Pearson
    estimate; tau counts concordant day pairs, so it cannot): tau_b =
    (C - D) / sqrt((n0 - t_a)(n0 - t_b)) with full tie accounting.

    Scale: the day-pair expansion is |days|^2 per symbol pair -- and
    days are TIME-bounded, not data-bounded (more rows per day never
    widen it), so the quadratic term is a constant of the calendar
    window, exactly like ``tail_dependence_matrix``'s |symbols|^2.  The
    pair frame equi-joins on the symbol pair with day < day as the
    residual.  For LONG calendars (a multi-year backfill at ~2,500
    trading days is ~3M day pairs per symbol pair) use the
    ``kendall_tau_windowed`` twin, whose pair expansion is bounded per
    calendar month -- linear in calendar length (the
    volatility_cones exact/approx discipline).  Determinism:
    concordance is sign arithmetic on 12 dp quantized returns; every
    count is an exact BIGINT."""
    rets = _daily_log_returns(events)
    a, b = rets.alias("a"), rets.alias("b")
    paired = a.join(
        b,
        (F.col("a.day") == F.col("b.day"))
        & (F.col("a.symbol") < F.col("b.symbol")),
    ).select(
        F.col("a.symbol").alias("sym_a"),
        F.col("b.symbol").alias("sym_b"),
        F.col("a.day").alias("day"),
        F.col("a.lr").alias("ra"),
        F.col("b.lr").alias("rb"),
    )
    p1, p2 = paired.alias("p1"), paired.alias("p2")
    dp = p1.join(
        p2,
        (F.col("p1.sym_a") == F.col("p2.sym_a"))
        & (F.col("p1.sym_b") == F.col("p2.sym_b"))
        & (F.col("p1.day") < F.col("p2.day")),
    ).select(
        F.col("p1.sym_a").alias("sym_a"),
        F.col("p1.sym_b").alias("sym_b"),
        (F.col("p1.ra") - F.col("p2.ra")).alias("da"),
        (F.col("p1.rb") - F.col("p2.rb")).alias("db"),
    )
    prod = F.col("da") * F.col("db")
    agg = dp.groupBy("sym_a", "sym_b").agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum((prod > 0).cast("long")).alias("concordant"),
        F.sum((prod < 0).cast("long")).alias("discordant"),
        F.sum((F.col("da") == 0).cast("long")).alias("ties_a"),
        F.sum((F.col("db") == 0).cast("long")).alias("ties_b"),
    )
    denom = F.sqrt(
        (F.col("n0") - F.col("ties_a")).cast("double")
        * (F.col("n0") - F.col("ties_b")).cast("double")
    )
    return agg.select(
        "sym_a",
        "sym_b",
        "n0",
        "concordant",
        "discordant",
        "ties_a",
        "ties_b",
        F.when(
            denom > 0,
            qround(
                (F.col("concordant") - F.col("discordant")).cast("double")
                / denom,
                6,
            ),
        ).alias("kendall_tau_b"),
    ).orderBy("sym_a", "sym_b")


def kendall_tau_windowed(events: DataFrame) -> DataFrame:
    """Calendar-windowed Kendall tau-b: the LONG-CALENDAR scale path for
    ``kendall_tau_matrix`` (round-11 verdict ask #3).  Day pairs form
    only WITHIN a calendar month, so the expansion is
    |days_in_month|^2 per (pair, month) -- at ~21 trading days that is
    ~210 pairs/month, and a 10-year backfill costs ~25k day pairs per
    symbol pair instead of the full matrix's ~3M: LINEAR in calendar
    length, quadratic only in the fixed window width.  Reported per
    symbol pair as the n0-weighted average of the per-month tau-b's --
    the standard rolling-tau stability diagnostic (a regime change shows
    up as window dispersion the full-history tau averages away).

    Exactness: each month's tau-b is full tie-accounted on exact BIGINT
    counts, snapped to the 1e-12 grid; the weighted rollup sums
    tau_u * n0 as exact BIGINTs (max |sum| ~ 1e12 * total day pairs,
    well inside int64), so the cross-window aggregation is
    order-independent and the only float ops are the final two IEEE
    divisions, identical in both engines.

    Plan shape: same two equi-joins as the full matrix with the month
    added to the pair join's equi-key (no inequality residual widens
    across months); two partial-aggregable groupBys after."""
    rets = _daily_log_returns(events)
    rw = rets.select(
        "symbol", "day", "lr", F.date_trunc("month", F.col("day")).alias("w")
    )
    a, b = rw.alias("a"), rw.alias("b")
    paired = a.join(
        b,
        (F.col("a.day") == F.col("b.day"))
        & (F.col("a.symbol") < F.col("b.symbol")),
    ).select(
        F.col("a.symbol").alias("sym_a"),
        F.col("b.symbol").alias("sym_b"),
        F.col("a.w").alias("w"),
        F.col("a.day").alias("day"),
        F.col("a.lr").alias("ra"),
        F.col("b.lr").alias("rb"),
    )
    p1, p2 = paired.alias("p1"), paired.alias("p2")
    dp = p1.join(
        p2,
        (F.col("p1.sym_a") == F.col("p2.sym_a"))
        & (F.col("p1.sym_b") == F.col("p2.sym_b"))
        & (F.col("p1.w") == F.col("p2.w"))
        & (F.col("p1.day") < F.col("p2.day")),
    ).select(
        F.col("p1.sym_a").alias("sym_a"),
        F.col("p1.sym_b").alias("sym_b"),
        F.col("p1.w").alias("w"),
        (F.col("p1.ra") - F.col("p2.ra")).alias("da"),
        (F.col("p1.rb") - F.col("p2.rb")).alias("db"),
    )
    prod = F.col("da") * F.col("db")
    per_win = dp.groupBy("sym_a", "sym_b", "w").agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum((prod > 0).cast("long")).alias("c"),
        F.sum((prod < 0).cast("long")).alias("d"),
        F.sum((F.col("da") == 0).cast("long")).alias("ta"),
        F.sum((F.col("db") == 0).cast("long")).alias("tb"),
    )
    denom = F.sqrt(
        (F.col("n0") - F.col("ta")).cast("double")
        * (F.col("n0") - F.col("tb")).cast("double")
    )
    tau_u = F.when(
        denom > 0,
        F.floor(
            (F.col("c") - F.col("d")).cast("double") / denom * F.lit(1e12)
            + F.lit(0.5)
        ).cast("long"),
    )
    wtau = per_win.select("sym_a", "sym_b", "n0", tau_u.alias("tau_u")).filter(
        F.col("tau_u").isNotNull()
    )
    roll = wtau.groupBy("sym_a", "sym_b").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("n0").alias("n0_total"),
        F.sum(F.col("tau_u") * F.col("n0")).alias("wsum_u"),
    )
    return roll.select(
        "sym_a",
        "sym_b",
        "n_windows",
        "n0_total",
        qround(
            (F.col("wsum_u").cast("double") / F.lit(1e12))
            / F.col("n0_total").cast("double"),
            6,
        ).alias("kendall_tau_b_wavg"),
    ).orderBy("sym_a", "sym_b")


def calendar_anomaly_report(events: DataFrame) -> DataFrame:
    """Day-of-week calendar-anomaly screen per symbol: mean daily log
    return and its t statistic for each ISO weekday -- the Monday-
    effect / turn-of-week seasonality test a systematic desk runs
    before believing any dow-conditioned signal.  |t| > 2 flags a
    candidate anomaly (to be re-tested out of sample; with 5 symbols x
    7 slots some flags are expected by chance, which is the point of
    reporting the t rather than a verdict).

    Scale: the daily-ladder rollup then ONE partial-aggregable
    (symbol, dow) groupBy.  Determinism: mean and stddev quantized at
    12 dp before the ratio; sqrt is IEEE-exact."""
    rets = _daily_log_returns(events)
    dow = (F.weekday(F.col("day")) + F.lit(1)).alias("iso_dow")
    agg = (
        rets.groupBy("symbol", dow)
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            qround(F.avg("lr"), 12).alias("mean_q"),
            qround(F.stddev_samp("lr"), 12).alias("sd_q"),
        )
        .filter(F.col("n_days") >= 2)
    )
    t = F.when(
        F.col("sd_q") > 0,
        qround(
            F.col("mean_q")
            / (F.col("sd_q") / F.sqrt(F.col("n_days").cast("double"))),
            6,
        ),
    )
    return agg.select(
        "symbol",
        "iso_dow",
        "n_days",
        qround(F.col("mean_q"), 6).alias("mean_lr"),
        t.alias("t_stat"),
        (F.abs(t) > F.lit(2.0)).alias("candidate_anomaly"),
    ).orderBy("symbol", "iso_dow")


def newey_west_tstat(events: DataFrame, max_lag: int = 5) -> DataFrame:
    """Newey-West (HAC) t statistic of the mean daily log return per
    symbol: the long-run variance S = gamma_0 + 2*sum w_h*gamma_h with
    Bartlett weights w_h = 1 - h/(L+1) replaces the naive variance in
    the t ratio, so serial correlation (which ``ljung_box_autocorr``
    detects) no longer fakes significance -- the standard drift test a
    desk trusts.  Reports both the naive and the HAC t side by side;
    their gap IS the autocorrelation correction.

    Scale: the ljung_box/realized_kernel shape -- one symbol-partitioned
    window pass emits all L lagged demeaned products, one partial
    groupBy.  Determinism: the integer pico-grid discipline on every
    product; Bartlett weights are shared Python double literals; the
    weighted combination is written in fixed h order on both engines."""
    rets = _daily_log_returns(events)
    means = (
        rets.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            qround(F.avg("lr"), 12).alias("mean_q"),
        )
        .filter(F.col("n_days") >= 4 * max_lag)
    )
    dev_src = rets.join(F.broadcast(means), "symbol").withColumn(
        "dev", F.col("lr") - F.col("mean_q")
    )
    w = Window.partitionBy("symbol").orderBy("day")
    grid = F.lit(1e12)
    cols = [
        F.floor(F.col("dev") * F.col("dev") * grid + F.lit(0.5))
        .cast("long")
        .alias("g0_u")
    ]
    for h in range(1, max_lag + 1):
        lagdev = F.lag("dev", h).over(w)
        cols.append(
            F.when(
                lagdev.isNotNull(),
                F.floor(F.col("dev") * lagdev * grid + F.lit(0.5)).cast(
                    "long"
                ),
            ).alias(f"g{h}_u")
        )
    framed = dev_src.select("symbol", "n_days", "mean_q", "day", *cols)
    agg = framed.groupBy("symbol").agg(
        F.max("n_days").alias("n_days"),
        F.max("mean_q").alias("mean_q"),
        *[F.sum(f"g{h}_u").alias(f"g{h}_u") for h in range(0, max_lag + 1)],
    )
    nd = F.col("n_days").cast("double")
    s_expr = F.col("g0_u").cast("double")
    for h in range(1, max_lag + 1):
        s_expr = s_expr + F.lit(2.0 * (1.0 - h / (max_lag + 1))) * F.col(
            f"g{h}_u"
        ).cast("double")
    s_hac = qround(s_expr / F.lit(1e12) / nd, 12)
    s_naive = qround(F.col("g0_u").cast("double") / F.lit(1e12) / nd, 12)
    se_hac = F.sqrt(qround(s_hac / nd, 12))
    se_naive = F.sqrt(qround(s_naive / nd, 12))
    t_hac = F.when(se_hac > 0, qround(F.col("mean_q") / se_hac, 6))
    t_naive = F.when(se_naive > 0, qround(F.col("mean_q") / se_naive, 6))
    return agg.select(
        "symbol",
        "n_days",
        qround(F.col("mean_q"), 6).alias("mean_lr"),
        t_naive.alias("t_naive"),
        t_hac.alias("t_newey_west"),
        (F.abs(t_hac) > F.lit(1.96)).alias("reject_5pct"),
    ).orderBy("symbol")


# ---------------------------------------------------------------------------
# Round-12 additions: range-based volatility, Cornish-Fisher VaR, sign
# Markov chain, downside beta, trade-duration microstructure, and price
# clustering -- each a daily/tick rollup with the module's exactness
# discipline (12-dp ln quantization, integer counts, one final 6-dp cut).
# ---------------------------------------------------------------------------


def range_vol_estimators(events: DataFrame) -> DataFrame:
    """Range-based daily volatility per symbol: Parkinson (1980),
    Garman-Klass (1980), and Rogers-Satchell (1991) estimators from the
    daily OHLC bars -- the high/low range carries ~5x more information
    per day than close-to-close, so these converge with far fewer days
    than ``daily_return_volatility`` (and Rogers-Satchell stays unbiased
    under drift, which Parkinson/GK are not):

        park = sqrt(avg(ln(h/l)^2) / (4 ln 2))
        gk   = sqrt(avg(0.5 ln(h/l)^2 - (2 ln 2 - 1) ln(c/o)^2))
        rs   = sqrt(avg(ln(h/o) ln(h/c) + ln(l/o) ln(l/c)))

    GK can go negative on adversarial bars (huge close-to-open against
    a narrow range); a negative mean term reports NULL rather than a
    NaN sqrt.

    Scale: ONE day-granularity partial agg (the OHLC bars) then one
    symbol-cardinality rollup -- no window, no join, never tick-wide
    after the first groupBy.  Determinism: every ln is quantized at
    12 dp (libm-ulp isolation) before the pure-arithmetic terms; the
    ln-2 constants are fixed 17-digit literals shared with the oracle;
    per-day terms re-quantize at 12 dp before the avg."""
    bars = _daily_bars(events, positive_only=True).withColumnsRenamed(
        {"open": "o", "high": "h", "low": "l", "close": "c"}
    )
    return _range_vol_from_ohlc(bars)


def _range_vol_from_ohlc(bars: DataFrame) -> DataFrame:
    """Range-estimator rollup from a (symbol, day, o, h, l, c) bar
    frame -- shared by the batch operator and the streaming twin (whose
    bars come from merged micro-batch partials; every OHLC component is
    a commutative per-key fold, so both paths feed bit-identical bars
    here and share one oracle)."""
    lhl = qround(F.log(F.col("h") / F.col("l")), 12)
    lco = qround(F.log(F.col("c") / F.col("o")), 12)
    lho = qround(F.log(F.col("h") / F.col("o")), 12)
    lhc = qround(F.log(F.col("h") / F.col("c")), 12)
    llo = qround(F.log(F.col("l") / F.col("o")), 12)
    llc = qround(F.log(F.col("l") / F.col("c")), 12)
    terms = bars.select(
        "symbol",
        qround(lhl * lhl, 12).alias("park_t"),
        qround(
            F.lit(0.5) * lhl * lhl - F.lit(0.3862943611198906) * lco * lco, 12
        ).alias("gk_t"),
        qround(lho * lhc + llo * llc, 12).alias("rs_t"),
    )
    agg = terms.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        qround(F.avg("park_t"), 12).alias("m_park"),
        qround(F.avg("gk_t"), 12).alias("m_gk"),
        qround(F.avg("rs_t"), 12).alias("m_rs"),
    )
    return agg.select(
        "symbol",
        "n_days",
        qround(F.sqrt(F.col("m_park") / F.lit(2.772588722239781)), 6).alias(
            "parkinson_vol"
        ),
        F.when(F.col("m_gk") >= 0, qround(F.sqrt(F.col("m_gk")), 6)).alias(
            "garman_klass_vol"
        ),
        F.when(F.col("m_rs") >= 0, qround(F.sqrt(F.col("m_rs")), 6)).alias(
            "rogers_satchell_vol"
        ),
    ).orderBy("symbol")


def cornish_fisher_var(events: DataFrame) -> DataFrame:
    """Cornish-Fisher (1938) modified VaR per symbol: adjust the normal
    95% quantile for the OBSERVED skewness and excess kurtosis of daily
    log returns --

        z_cf = z + (z^2-1) g1/6 + (z^3-3z) g2/24 - (2z^3-5z) g1^2/36

    with z = Phi^-1(0.05) -- then VaR = -(mean + sd * z_cf).  The
    side-by-side normal VaR shows exactly how much the fat tails and
    asymmetry move the risk number: the first correction every
    parametric-VaR desk applies before trusting ``historical_var_cvar``
    at small samples.

    Central moments use the two-phase broadcast-mean shape of
    ``return_moments_profile`` (no raw-moment cancellation); sd is the
    population sqrt(m2), documented and mirrored in the oracle.  z is a
    fixed 17-digit literal.  Scale: day rollup + one symbol-cardinality
    broadcast + one moment pass."""
    rets = _daily_log_returns(events)
    means = (
        rets.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            qround(F.avg("lr"), 12).alias("mean_q"),
        )
        .filter(F.col("n_days") >= 10)
    )
    d = F.col("lr") - F.col("mean_q")
    moments = (
        rets.join(F.broadcast(means), "symbol")
        .groupBy("symbol")
        .agg(
            F.max("n_days").alias("n_days"),
            F.max("mean_q").alias("mean_q"),
            qround(F.avg(d * d), 12).alias("m2"),
            qround(F.avg(d * d * d), 12).alias("m3"),
            qround(F.avg(d * d * d * d), 12).alias("m4"),
        )
        .filter(F.col("m2") > 0)
    )
    sd = qround(F.sqrt(F.col("m2")), 12)
    g1 = qround(F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2"))), 12)
    g2 = qround(F.col("m4") / (F.col("m2") * F.col("m2")) - F.lit(3.0), 12)
    z = F.lit(-1.6448536269514722)
    z_cf = qround(
        z
        + (z * z - F.lit(1.0)) * g1 / F.lit(6.0)
        + (z * z * z - F.lit(3.0) * z) * g2 / F.lit(24.0)
        - (F.lit(2.0) * z * z * z - F.lit(5.0) * z) * g1 * g1 / F.lit(36.0),
        12,
    )
    shaped = moments.select(
        "symbol",
        "n_days",
        F.col("mean_q"),
        sd.alias("sd_q"),
        g1.alias("g1"),
        g2.alias("g2"),
        z_cf.alias("z_cf"),
    )
    return shaped.select(
        "symbol",
        "n_days",
        qround(F.col("mean_q"), 6).alias("mean_lr"),
        qround(F.col("sd_q"), 6).alias("sd_lr"),
        qround(F.col("g1"), 6).alias("skew"),
        qround(F.col("g2"), 6).alias("excess_kurtosis"),
        qround(
            -(F.col("mean_q") + F.col("sd_q") * F.lit(-1.6448536269514722)), 6
        ).alias("var95_normal"),
        qround(-(F.col("mean_q") + F.col("sd_q") * F.col("z_cf")), 6).alias(
            "var95_cornish_fisher"
        ),
    ).orderBy("symbol")


def return_sign_markov(events: DataFrame) -> DataFrame:
    """Two-state Markov chain on the SIGNS of daily log returns per
    symbol: transition counts (up->up, up->down, down->up, down->down),
    the conditional continuation probabilities, and the persistence
    score p_uu + p_dd - 1 (Christoffersen's independence diagnostic:
    0 under an i.i.d. sign sequence, positive = momentum, negative =
    mean reversion) -- the conditional companion to the unconditional
    ``runs_test_randomness``.  Zero returns (flat quantized days) carry
    no sign and are dropped, as in the runs test.

    Scale: day rollup, one symbol-partitioned lag, one exact integer
    groupBy at symbol cardinality.  The only floats are three final
    6-dp ratios of exact BIGINTs."""
    rets = _daily_log_returns(events).filter(F.col("lr") != 0)
    w = Window.partitionBy("symbol").orderBy("day")
    s = (F.col("lr") > 0).cast("int")
    trans = rets.select(
        "symbol", s.alias("s"), F.lag(s).over(w).alias("prev_s")
    ).filter(F.col("prev_s").isNotNull())
    agg = trans.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_trans"),
        F.sum(((F.col("prev_s") == 1) & (F.col("s") == 1)).cast("long")).alias("n_uu"),
        F.sum(((F.col("prev_s") == 1) & (F.col("s") == 0)).cast("long")).alias("n_ud"),
        F.sum(((F.col("prev_s") == 0) & (F.col("s") == 1)).cast("long")).alias("n_du"),
        F.sum(((F.col("prev_s") == 0) & (F.col("s") == 0)).cast("long")).alias("n_dd"),
    )
    p_uu = F.when(
        F.col("n_uu") + F.col("n_ud") > 0,
        qround(
            F.col("n_uu").cast("double")
            / (F.col("n_uu") + F.col("n_ud")).cast("double"),
            6,
        ),
    )
    p_dd = F.when(
        F.col("n_du") + F.col("n_dd") > 0,
        qround(
            F.col("n_dd").cast("double")
            / (F.col("n_du") + F.col("n_dd")).cast("double"),
            6,
        ),
    )
    return agg.select(
        "symbol",
        "n_trans",
        "n_uu",
        "n_ud",
        "n_du",
        "n_dd",
        p_uu.alias("p_up_given_up"),
        p_dd.alias("p_down_given_down"),
        F.when(
            ((F.col("n_uu") + F.col("n_ud")) > 0)
            & ((F.col("n_du") + F.col("n_dd")) > 0),
            qround(
                F.col("n_uu").cast("double")
                / (F.col("n_uu") + F.col("n_ud")).cast("double")
                + F.col("n_dd").cast("double")
                / (F.col("n_du") + F.col("n_dd")).cast("double")
                - F.lit(1.0),
                6,
            ),
        ).alias("persistence"),
    ).orderBy("symbol")


def downside_beta(events: DataFrame) -> DataFrame:
    """Downside beta (Bawa-Lindenberg / Ang-Chen-Xing): the CAPM slope
    estimated ONLY over days when the equal-weight market return is
    negative -- cov(r, m | m < 0) / var(m | m < 0).  Assets whose
    downside beta exceeds their full-sample ``beta_vs_market`` lose
    more in crashes than the unconditional slope promises; the spread
    (downside - full) is the semibeta premium every risk-parity
    allocator prices.

    Scale: day rollup; the market frame is a day-keyed aggregate of
    the SAME returns (one row per day, broadcast back); the conditional
    covariance is one symbol-cardinality groupBy over the down-day
    subset.  Determinism: returns and the market mean are 12-dp
    quantized; covar_pop/var_pop on identical doubles, one 6-dp cut."""
    rets = _daily_log_returns(events)
    market = rets.groupBy("day").agg(
        qround(F.avg("lr"), 12).alias("m"),
        F.count(F.lit(1)).alias("n_syms"),
    )
    joined = rets.join(F.broadcast(market), "day")
    # full and conditional moments in ONE pass: covar_pop/var_pop skip
    # NULL rows, so when(m < 0, x) restricts both to down days without a
    # second scan of the daily ladder (the re-expansion would cost two
    # extra tick-wide scans; plan pinned at 2 in tests/test_scale_plans)
    lr_dn = F.when(F.col("m") < 0, F.col("lr"))
    m_dn = F.when(F.col("m") < 0, F.col("m"))
    agg = joined.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.when(
            F.var_pop("m") != 0, qround(F.covar_pop("lr", "m") / F.var_pop("m"), 6)
        ).alias("beta_full"),
        F.sum((F.col("m") < 0).cast("long")).alias("n_down_days"),
        F.when(
            F.var_pop(m_dn) != 0,
            qround(F.covar_pop(lr_dn, m_dn) / F.var_pop(m_dn), 6),
        ).alias("beta_down"),
    )
    return (
        agg.filter(F.col("n_down_days") >= 5)
        .select(
            "symbol",
            "n_days",
            "n_down_days",
            "beta_full",
            "beta_down",
            F.when(
                F.col("beta_full").isNotNull() & F.col("beta_down").isNotNull(),
                qround(F.col("beta_down") - F.col("beta_full"), 6),
            ).alias("semibeta_spread"),
        )
        .orderBy("symbol")
    )


def trade_duration_profile(events: DataFrame) -> DataFrame:
    """Inter-trade duration microstructure per symbol: the distribution
    of arrival gaps (mean, exact interpolated p50/p95, max), the
    coefficient of variation, and the lag-1 autocorrelation of the
    duration sequence -- CV > 1 plus positive duration autocorrelation
    is the activity-clustering signature the ACD (Engle-Russell 1998)
    family models; it decides whether time-bars or event-bars are the
    right sampling clock for a feed.

    Scale: one (symbol, arrival-order) window pass for the lag (gaps
    are exact integer micro-second diffs), then one symbol-cardinality
    agg; the exact percentile is the value_percentiles discipline.
    Determinism: gaps are exact integers scaled by one IEEE division;
    corr/stddev run on identical doubles; 6-dp final cut."""
    src = events.filter(F.col("value") > 0)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    seq = src.select(
        F.col("event_type").alias("symbol"),
        "ts",
        "event_id",
        ((us - F.lag(us).over(w)) / F.lit(1000000.0)).alias("gap_s"),
    )
    pair_w = Window.partitionBy("symbol").orderBy("ts", "event_id")
    pairs = seq.select(
        "symbol", "gap_s", F.lag("gap_s").over(pair_w).alias("prev_gap")
    ).filter(F.col("gap_s").isNotNull())
    stats = pairs.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        qround(F.avg("gap_s"), 6).alias("mean_gap_s"),
        qround(F.expr("percentile(gap_s, 0.5)"), 6).alias("p50_gap_s"),
        qround(F.expr("percentile(gap_s, 0.95)"), 6).alias("p95_gap_s"),
        qround(F.max("gap_s"), 6).alias("max_gap_s"),
        F.when(
            F.avg("gap_s") != 0,
            qround(F.stddev_pop("gap_s") / F.avg("gap_s"), 6),
        ).alias("cv"),
    )
    # the autocorr runs on COMPLETE (gap, prev_gap) pairs only --
    # _safe_corr mixes pop-stddev over all rows with pairwise covar, so
    # feeding it a frame where prev_gap can be NULL would silently skew
    # the denominator
    auto = (
        pairs.filter(F.col("prev_gap").isNotNull())
        .groupBy("symbol")
        .agg(_safe_corr("gap_s", "prev_gap").alias("lag1_autocorr"))
    )
    return stats.join(auto, "symbol", "left").orderBy("symbol")


def round_number_clustering(events: DataFrame) -> DataFrame:
    """Price-clustering report per symbol: the share of ticks printing
    at integer and half-unit prices, and the chi-square statistic of
    the final cent digit against uniformity -- humans cluster limit
    orders at round numbers (Harris 1991), so a uniform final digit
    means algorithmic flow while a fat 0/5 digit means human flow; the
    trailing-digit cousin of ``benford_check``'s leading-digit screen.

    Scale: pure row-local integer arithmetic fused into the scan, one
    partial-aggregable (symbol, digit) groupBy re-aggregated to symbol
    rows.  Determinism: the cent grid is floor(value*100+0.5) -- one
    identical double op -- and everything after is exact integers until
    the final 6-dp shares."""
    src = events.filter(F.col("value") > 0)
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    binned = src.select(
        F.col("event_type").alias("symbol"),
        cents.alias("cents"),
        (cents % 10).alias("last_digit"),
    )
    # ONE conditional-sum histogram pass (the t_closeness_report shape):
    # the digit domain is fixed (0..9), so the full grid lives in ten
    # conditional aggregates of a single groupBy -- no re-expansion, no
    # left-join grid, and absent digits still contribute their
    # (0 - E)^2/E chi-square term
    digit_cols = [
        F.sum((F.col("last_digit") == d).cast("long")).alias(f"n_d{d}")
        for d in range(10)
    ]
    agg = binned.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum((F.col("cents") % 100 == 0).cast("long")).alias("n_integer"),
        F.sum((F.col("cents") % 50 == 0).cast("long")).alias("n_half"),
        *digit_cols,
    )
    expected = F.col("n_ticks").cast("double") / F.lit(10.0)

    def term_u(d: int):
        diff = F.col(f"n_d{d}").cast("double") - expected
        return F.floor(diff * diff / expected * F.lit(1e6) + F.lit(0.5)).cast(
            "long"
        )

    chi_sum = term_u(0)
    for d in range(1, 10):
        chi_sum = chi_sum + term_u(d)
    chi2 = qround(chi_sum.cast("double") / F.lit(1e6), 6)
    return agg.select(
        "symbol",
        "n_ticks",
        "n_integer",
        "n_half",
        qround(
            F.col("n_integer").cast("double") / F.col("n_ticks").cast("double"), 6
        ).alias("integer_share"),
        qround(
            F.col("n_half").cast("double") / F.col("n_ticks").cast("double"), 6
        ).alias("half_share"),
        chi2.alias("digit_chi2"),
        (chi2 > F.lit(16.919)).alias("clustered"),
    ).orderBy("symbol")


def _pair_residual_arrays(events: DataFrame) -> DataFrame:
    """Internal (sym_a, sym_b, n_days, beta_q, es) frame: the
    Engle-Granger first step shared by ``cointegration_screen`` and
    ``pairs_spread_backtest`` -- day-keyed self-join of the daily
    log-close ladder, per-pair OLS hedge ratio/intercept as left folds
    over ONE day-ordered (pa, pb) array, and the day-ordered quantized
    residual spread array ``es``.  Two tick-wide scans, pair-cardinality
    rows, calendar-bounded arrays."""
    dclose = _daily_closes(events, positive_only=True)
    lp = dclose.select(
        "symbol", "day", qround(F.log(F.col("c")), 12).alias("p")
    )
    a, b = lp.alias("a"), lp.alias("b")
    pairs = a.join(
        b,
        (F.col("a.day") == F.col("b.day"))
        & (F.col("a.symbol") < F.col("b.symbol")),
    ).select(
        F.col("a.symbol").alias("sym_a"),
        F.col("b.symbol").alias("sym_b"),
        F.col("a.day").alias("day"),
        F.col("a.p").alias("pa"),
        F.col("b.p").alias("pb"),
    )
    per = pairs.groupBy("sym_a", "sym_b").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.array_sort(
            F.collect_list(F.struct("day", "pa", "pb"))
        ).alias("seq"),
    ).filter(F.col("n_days") >= 20)
    # Left folds over the day-ordered array: bit-identical in any
    # engine.  Every intermediate (the four moment sums, beta, alpha)
    # is bound ONCE as a SQL lambda variable via the
    # transform(array(x), v -> ...)[0] let-binding idiom: stacked
    # projections would be merged by CollapseProject, re-inlining each
    # subtree into every consumer and growing the analyzed tree
    # combinatorially (the round-12 measured seconds of FLAT
    # per-execution driver cost on pairs_spread_backtest); with the
    # bindings the tree is LINEAR in the formula size.
    fold = "aggregate({terms}, 0D, (acc, x) -> acc + x)"
    pas = "transform(seq, s -> s.pa)"
    pbs = "transform(seq, s -> s.pb)"
    nn = "cast(size(seq) as double)"
    q12 = "floor(({x}) * 1000000000000.0D + 0.5D) / 1000000000000.0D"
    moments = (
        "named_struct("
        f"'spa', {fold.format(terms=pas)},"
        f" 'spb', {fold.format(terms=pbs)},"
        f" 'spapa', {fold.format(terms=f'zip_with({pas}, {pas}, (x, y) -> x * y)')},"
        f" 'spapb', {fold.format(terms=f'zip_with({pas}, {pbs}, (x, y) -> x * y)')},"
        f" 'n', {nn})"
    )
    # identical arithmetic to the round-12 staged version -- the moment
    # folds are simply referenced through the binding instead of being
    # re-spelled, so every IEEE operation (and hence every quantized
    # value the oracle compares) is unchanged
    beta_q = q12.format(
        x="((m.spapb) / m.n - ((m.spa) / m.n) * ((m.spb) / m.n))"
        " / ((m.spapa) / m.n - ((m.spa) / m.n) * ((m.spa) / m.n))"
    )
    alpha_q = q12.format(x="(m.spb) / m.n - beta * ((m.spa) / m.n)")
    resid = (
        "transform(seq, s -> floor((s.pb - alpha - beta * s.pa)"
        " * 1000000000000.0D + 0.5D) / 1000000000000.0D)"
    )
    stats = (
        f"transform(array({moments}), m -> "
        f"transform(array({beta_q}), beta -> "
        f"transform(array({alpha_q}), alpha -> "
        f"named_struct('beta_q', beta, 'es', {resid})"
        ")[0])[0])[0]"
    )
    staged = per.select(
        "sym_a", "sym_b", "n_days", F.expr(stats).alias("st")
    )
    # repartition barrier at PAIR cardinality (tiny): CollapseProject
    # cannot merge across it, so the struct above is analyzed and
    # evaluated ONCE and the two field selects below see a plain
    # attribute instead of re-inlining the whole fold tree per column.
    return staged.repartition("sym_a", "sym_b").select(
        "sym_a",
        "sym_b",
        "n_days",
        F.col("st.beta_q").alias("beta_q"),
        F.col("st.es").alias("es"),
    )


def cointegration_screen(events: DataFrame) -> DataFrame:
    """Engle-Granger two-step cointegration screen over every symbol
    pair's daily LOG PRICES: OLS hedge ratio pb = alpha + beta*pa, then
    the Dickey-Fuller t statistic of the residual spread's mean
    reversion (delta-e_t = rho * e_{t-1} + eps, rho < 0 = reverting)
    and the implied half-life -ln2 / ln(1+rho) -- the pairs-trading
    admission test (correlation says returns move together;
    cointegration says the SPREAD is stationary, which is what a
    stat-arb book actually trades).  adf_t < -2.86 (the 5% constant-
    case DF critical value) flags a candidate pair.

    Shape: the pair frame is one day-keyed equi self-join of the daily
    close ladder (the symbol_correlations join), then EVERYTHING --
    OLS, residual series, DF regression -- runs as JVM array folds over
    ONE day-ordered (pa, pb) array per pair, at pair cardinality: two
    tick-wide scans total, no re-expansion, no second shuffle (the
    garch_filter_vol / macd fold discipline).  Arrays are
    calendar-bounded (|days| elements), never data-bounded.

    Determinism: log prices are 12-dp quantized; every fold walks the
    SAME day-sorted array left-to-right, so double accumulation is
    bit-identical across engines and partitionings; alpha/beta/rho
    re-quantize at 12 dp before entering downstream expressions; the
    DF variance uses the algebraic identity sum(d - rho*p)^2 =
    sum_d2 - 2 rho num + rho^2 den on the already-folded sums."""
    per_pair = _pair_residual_arrays(events)
    fold = "aggregate({terms}, 0D, (acc, x) -> acc + x)"
    prev = "slice(es, 1, size(es) - 1)"
    cur = "slice(es, 2, size(es) - 1)"
    num = fold.format(terms=f"zip_with({prev}, {cur}, (p, c) -> p * (c - p))")
    den = fold.format(terms=f"transform({prev}, p -> p * p)")
    sum_d2 = fold.format(
        terms=f"zip_with({prev}, {cur}, (p, c) -> (c - p) * (c - p))"
    )
    folded = per_pair.select(
        "sym_a",
        "sym_b",
        "n_days",
        "beta_q",
        F.expr(num).alias("num"),
        F.expr(den).alias("den"),
        F.expr(sum_d2).alias("sum_d2"),
    )
    rho_q = F.expr(
        "floor((num / den) * 1000000000000.0D + 0.5D)"
        " / 1000000000000.0D"
    )
    shaped = folded.filter(F.col("den") > 0).select(
        "sym_a",
        "sym_b",
        "n_days",
        "beta_q",
        "num",
        "den",
        "sum_d2",
        rho_q.alias("rho_q"),
    )
    s2 = (
        F.col("sum_d2")
        - F.lit(2.0) * F.col("rho_q") * F.col("num")
        + F.col("rho_q") * F.col("rho_q") * F.col("den")
    ) / (F.col("n_days") - 2).cast("double")
    adf_t = F.when(
        (F.col("den") > 0) & (s2 > 0),
        qround(F.col("rho_q") / F.sqrt(s2 / F.col("den")), 6),
    )
    half_life = F.when(
        (F.col("rho_q") > -1) & (F.col("rho_q") < 0),
        qround(
            F.lit(-0.6931471805599453) / F.log(F.lit(1.0) + F.col("rho_q")), 6
        ),
    )
    return shaped.select(
        "sym_a",
        "sym_b",
        "n_days",
        qround(F.col("beta_q"), 6).alias("hedge_beta"),
        qround(F.col("rho_q"), 6).alias("df_rho"),
        adf_t.alias("adf_t"),
        half_life.alias("half_life_days"),
        (adf_t < F.lit(-2.86)).alias("cointegrated"),
    ).orderBy("sym_a", "sym_b")


def pairs_spread_backtest(events: DataFrame) -> DataFrame:
    """In-sample z-score backtest of the Engle-Granger residual spread
    for every symbol pair: enter short (long) the spread when its
    z-score crosses +2 (-2), exit when it reverts through +0.5 (-0.5),
    and report trades, total P&L in spread (log-price) units, hit rate,
    and average holding period -- the sizing card read AFTER
    ``cointegration_screen`` admits a pair (the screen says the spread
    reverts; this says how tradably).  In-sample z (full-sample mean /
    population sd of the residual array) is the standard first-pass
    convention and is documented as such: walk-forward splits belong to
    an evaluation harness, not the screen.

    Shape: reuses ``_pair_residual_arrays`` (two tick scans, pair
    cardinality); the entire position simulation is ONE sequential
    ``aggregate`` fold per pair over the day-ordered spread array --
    inherently serial state, which is exactly what the fold idiom is
    for (the garch/macd discipline), and calendar-bounded.
    Determinism: the spread array is 12-dp quantized, mean/sd/z
    re-quantize at 12 dp, entries/exits compare identical doubles, and
    the P&L accumulates differences of grid values in a fixed order."""
    per_pair = _pair_residual_arrays(events)
    fold = "aggregate({terms}, 0D, (acc, x) -> acc + x)"
    nn = "cast(size(es) as double)"
    q12 = "floor(({x}) * 1000000000000.0D + 0.5D) / 1000000000000.0D"
    mu_q = q12.format(x=f"({fold.format(terms='es')}) / {nn}")
    sd_q = q12.format(
        x=f"sqrt(({fold.format(terms='transform(es, e -> (e - mu) * (e - mu))')}) / {nn})"
    )
    # mu and sd are let-bound lambda variables (see
    # _pair_residual_arrays): the round-12 staged-projection version was
    # collapsed by CollapseProject into one projection that re-inlined
    # the mu tree into sd, both into the z array, and all of it into the
    # simulation fold -- a combinatorially grown tree whose analysis +
    # codegen was the query's measured 4-5 s FLAT per-execution driver
    # cost.  The z element is computed per residual inside the fold's
    # input transform with the identical floor-grid expression, so every
    # compared value is bit-unchanged.
    txe = (
        "transform(es, e -> named_struct('e', e,"
        " 'z', floor(((e - mu) / sd)"
        " * 1000000000000.0D + 0.5D) / 1000000000000.0D))"
    )
    pnl_close = "acc.pnl + acc.pos * (x.e - acc.entry)"
    win_inc = (
        "CASE WHEN acc.pos * (x.e - acc.entry) > 0.0D THEN 1.0D ELSE 0.0D END"
    )
    step = (
        "CASE "
        "WHEN acc.pos = 0.0D AND x.z >= 2.0D THEN named_struct("
        "'pos', -1.0D, 'entry', x.e, 'pnl', acc.pnl, 'nt', acc.nt,"
        " 'nw', acc.nw, 'hd', acc.hd) "
        "WHEN acc.pos = 0.0D AND x.z <= -2.0D THEN named_struct("
        "'pos', 1.0D, 'entry', x.e, 'pnl', acc.pnl, 'nt', acc.nt,"
        " 'nw', acc.nw, 'hd', acc.hd) "
        "WHEN acc.pos = 0.0D THEN acc "
        "WHEN (acc.pos = 1.0D AND x.z >= -0.5D)"
        " OR (acc.pos = -1.0D AND x.z <= 0.5D) THEN named_struct("
        f"'pos', 0.0D, 'entry', 0.0D, 'pnl', {pnl_close},"
        f" 'nt', acc.nt + 1.0D, 'nw', acc.nw + {win_inc},"
        " 'hd', acc.hd + 1.0D) "
        "ELSE named_struct('pos', acc.pos, 'entry', acc.entry,"
        " 'pnl', acc.pnl, 'nt', acc.nt, 'nw', acc.nw,"
        " 'hd', acc.hd + 1.0D) END"
    )
    sim = (
        f"aggregate({txe}, "
        "named_struct('pos', 0.0D, 'entry', 0.0D, 'pnl', 0.0D,"
        " 'nt', 0.0D, 'nw', 0.0D, 'hd', 0.0D), "
        f"(acc, x) -> {step})"
    )
    # IF keeps the sd division unevaluated for degenerate (sd <= 0)
    # pairs -- the round-12 version filtered on sd_q BEFORE computing z,
    # and Spark 4's ANSI mode would otherwise error on the divide; the
    # sd_q field carries the value out so the same filter applies below.
    wrapped = (
        f"transform(array({mu_q}), mu -> "
        f"transform(array({sd_q}), sd -> "
        f"named_struct('sd_q', sd, 'st', IF(sd > 0.0D, {sim}, NULL))"
        ")[0])[0]"
    )
    folded = per_pair.select(
        "sym_a", "sym_b", "n_days", F.expr(wrapped).alias("w")
    )
    # second pair-cardinality barrier: the final select reads five
    # fields of w.st plus the sd filter -- without the barrier
    # CollapseProject would re-inline the whole simulation tree once
    # per output column, recreating the cost this rewrite removes.
    folded = (
        folded.repartition("sym_a", "sym_b")
        .filter(F.col("w.sd_q") > 0)
        .select("sym_a", "sym_b", "n_days", F.col("w.st").alias("st"))
    )
    nt = F.col("st.nt")
    return folded.select(
        "sym_a",
        "sym_b",
        "n_days",
        nt.cast("long").alias("n_trades"),
        qround(F.col("st.pnl"), 6).alias("total_pnl"),
        F.when(nt > 0, qround(F.col("st.nw") / nt, 6)).alias("hit_rate"),
        F.when(nt > 0, qround(F.col("st.hd") / nt, 6)).alias(
            "avg_hold_days"
        ),
        (F.col("st.pos") != 0).alias("open_at_end"),
    ).orderBy("sym_a", "sym_b")


def component_var_decomposition(events: DataFrame, z: float = 1.645) -> DataFrame:
    """Euler decomposition of parametric portfolio VaR for the
    equal-weight portfolio of all symbols: per symbol the marginal VaR
    (dVaR/dw_i = z * (SIGMA w)_i / sigma_p), the component VaR
    (w_i * marginal -- these sum EXACTLY to the portfolio VaR, Euler's
    theorem on the homogeneous sigma_p), and the risk share.  The
    standard answer to "which position is my VaR" -- a high-vol symbol
    hedged by negative covariance can carry a SMALLER component than a
    mid-vol symbol correlated with everything.

    Covariances run on the COMPLETE panel (days where every symbol
    printed a return) so SIGMA is one Gram matrix and the Euler identity
    holds exactly; with ragged pairwise panels the components drift from
    the total and the decomposition stops being auditable.

    Scale: the panel is (symbols x days) -- calendar cardinality; the
    covariance stage is one day-keyed self-equi-join at |symbols|^2 x
    |days| rows feeding a partial-aggregable covar_pop, the
    symbol_correlations shape.  Row sums and the portfolio variance are
    |symbols|-cardinality aggregates; the 1-row total broadcasts back.
    For a 10k-symbol universe, screen pairs first (symbol_correlations)
    or use a factor model -- documented, not silently sampled."""
    # (symbol x day)-cardinality lineage cut: `rets` fans out into nsym,
    # full_days and BOTH sides of the covariance self-join, so without
    # the cut the corpus-sized day rollup + lag window re-embeds ~12x in
    # the final plan (measured 75 KB of physical plan; driver analysis
    # dominated the query)
    rets = _daily_log_returns(events).localCheckpoint(eager=True)
    nsym = rets.select(F.countDistinct("symbol").alias("n_sym_all"))
    full_days = (
        rets.groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_on_day"))
        .join(F.broadcast(nsym))
        .filter(F.col("n_on_day") == F.col("n_sym_all"))
        .select("day")
    )
    panel = rets.join(full_days, "day")
    a = panel.select(
        F.col("symbol").alias("sym_a"), "day", F.col("lr").alias("ra")
    )
    b = panel.select(
        F.col("symbol").alias("sym_b"),
        F.col("day").alias("day_b"),
        F.col("lr").alias("rb"),
    )
    cov = (
        a.join(b, F.col("day") == F.col("day_b"))
        .groupBy("sym_a", "sym_b")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.covar_pop("ra", "rb").alias("cov"),
        )
    )
    # symbol-cardinality cut: `per` feeds the portfolio-variance total
    # AND the report projection -- without it the |symbols|^2 x |days|
    # covariance join executes once per consumer
    per = cov.groupBy("sym_a").agg(
        F.max("n_days").alias("n_days"),
        F.count(F.lit(1)).alias("n_sym"),
        F.sum("cov").alias("cov_rowsum"),
        F.max(F.when(F.col("sym_b") == F.col("sym_a"), F.col("cov"))).alias(
            "var_own"
        ),
    ).localCheckpoint(eager=True)
    tot = per.agg(
        F.sum(
            F.col("cov_rowsum")
            / (F.col("n_sym").cast("double") * F.col("n_sym").cast("double"))
        ).alias("port_var")
    )
    zc = F.lit(z)
    n_d = F.col("n_sym").cast("double")
    sig_p = F.sqrt(F.col("port_var"))
    mvar = F.when(
        F.col("port_var") > 0, zc * (F.col("cov_rowsum") / n_d) / sig_p
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("sym_a").alias("symbol"),
            "n_days",
            qround(F.lit(1.0) / n_d, 8).alias("weight"),
            qround(F.sqrt(F.col("var_own")), 8).alias("daily_vol"),
            qround(mvar, 8).alias("marginal_var"),
            qround(mvar / n_d, 8).alias("component_var"),
            qround(
                F.when(
                    F.col("port_var") > 0,
                    F.col("cov_rowsum") / (n_d * n_d * F.col("port_var")),
                ),
                6,
            ).alias("risk_share"),
        )
        .orderBy("symbol")
    )


def epps_effect_curve(
    events: DataFrame, intervals: tuple = (1, 5, 15, 30)
) -> DataFrame:
    """Epps effect curve (Epps 1979): pairwise return correlation as a
    function of the sampling interval.  Asynchronous trading and
    microstructure noise bias high-frequency correlations toward zero;
    a desk reads this curve to pick the coarsest interval whose
    correlation has converged (and hayashi_yoshida_covariance to bypass
    the bias entirely -- this is its diagnostic twin).

    Per interval: close bars on the epoch-second grid (exact integer
    bucket ids, no calendar-origin alignment trap between engines),
    12-dp-quantized log returns over consecutive bars, then one
    partial-aggregable guarded Pearson per unordered pair.

    Scale: each interval is one bar-cardinality shuffle + a bar-keyed
    self-equi-join (the symbol_correlations shape); coarser intervals
    are strictly cheaper.  The union stacks a fixed handful of
    interval frames -- no per-row fan-out beyond the |intervals|
    constant."""
    src = events.filter(F.col("value") > 0)
    parts = []
    for m in intervals:
        sec = 60 * int(m)
        bars = src.groupBy(
            F.col("event_type").alias("symbol"),
            F.expr(f"unix_timestamp(ts) div {sec}").alias("bucket"),
        ).agg(_close().alias("c"))
        w = Window.partitionBy("symbol").orderBy("bucket")
        prev = F.lag("c").over(w)
        lr = bars.select(
            "symbol",
            "bucket",
            F.when(prev.isNotNull(), qround(F.log(F.col("c") / prev), 12)).alias(
                "lr"
            ),
        ).filter(F.col("lr").isNotNull())
        a = lr.select(
            F.col("symbol").alias("sym_a"), "bucket", F.col("lr").alias("la")
        )
        b = lr.select(
            F.col("symbol").alias("sym_b"),
            F.col("bucket").alias("bucket_b"),
            F.col("lr").alias("lb"),
        )
        parts.append(
            a.join(
                b,
                (F.col("bucket") == F.col("bucket_b"))
                & (F.col("sym_a") < F.col("sym_b")),
            )
            .groupBy("sym_a", "sym_b")
            .agg(
                F.count(F.lit(1)).alias("n_obs"),
                _safe_corr("la", "lb").alias("corr"),
            )
            .select(
                F.lit(int(m)).alias("interval_min"), "sym_a", "sym_b", "n_obs", "corr"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("interval_min", "sym_a", "sym_b")


def hill_tail_index(events: DataFrame, k_cap: int = 20) -> DataFrame:
    """Hill estimator of the return-distribution tail index per symbol:
    over the top-k order statistics of |daily log return|,
    hill = mean(ln x_(i), i<=k) - ln x_(k+1) and alpha = 1/hill -- the
    extreme-value-theory power-law exponent (alpha ~ 3 is the
    stylized-fact "cubic law" of equity tails; alpha <= 2 means infinite
    variance and parametric VaR underestimates ruin).  Complements the
    quantile views (historical_var_cvar, cornish_fisher_var): those read
    fixed tail POINTS, this estimates the tail LAW.  k adapts as
    min(k_cap, n/4) with n >= 9 so the (k+1)-th statistic exists.

    Scale: returns are calendar-bounded per symbol, so the per-symbol
    sorted array is the garch/macd fold discipline -- one groupBy to
    symbol cardinality, sort + ln-sum as JVM array ops, no window over
    ticks, no collect.  Ten years is ~2.5k doubles per symbol."""
    rets = _daily_log_returns(events)
    ax = F.abs(F.col("lr"))
    per = (
        rets.filter(ax > 0)
        .groupBy("symbol")
        .agg(F.reverse(F.array_sort(F.collect_list(ax))).alias("xs"))
        .filter(F.size("xs") >= 9)
        .withColumn(
            "k",
            F.least(
                F.lit(int(k_cap)),
                F.floor(F.size("xs") / F.lit(4)).cast("int"),
            ),
        )
    )
    hill = (
        F.expr("aggregate(slice(xs, 1, k), 0D, (a, x) -> a + ln(x))")
        / F.col("k").cast("double")
        - F.log(F.element_at("xs", F.col("k") + 1))
    )
    return (
        per.select(
            "symbol",
            F.size("xs").cast("long").alias("n_days"),
            F.col("k").alias("k_tail"),
            qround(hill, 6).alias("hill"),
            qround(F.when(hill > 0, F.lit(1.0) / hill), 6).alias("alpha_tail"),
            qround(hill / F.sqrt(F.col("k").cast("double")), 6).alias("hill_se"),
        )
        .orderBy("symbol")
    )


def permutation_entropy(events: DataFrame) -> DataFrame:
    """Bandt-Pompe permutation entropy (embedding dimension m=3) of the
    daily close series per symbol: each overlapping close triple is
    mapped to its ordinal pattern (one of 3! = 6 rank orders, ties
    broken toward the EARLIER observation, the stable-sort convention of
    the original paper), and the normalized Shannon entropy of the
    pattern distribution H / ln 6 measures how "random" the price path
    is -- 1.0 for an i.i.d. walk, lower when some temporal shapes
    (e.g. monotone runs) dominate.  Complements the moment-based
    dependence screens (ljung_box_autocorr = linear ACF,
    runs_test_randomness = sign runs): ordinal patterns catch nonlinear
    ordering structure with no distributional assumptions.

    Reference scope: extends the reference's daily indicator ladder
    (dashboard.py:42-48) with the standard complexity diagnostic.

    Scale: day-granularity rollup (one partial-aggregable shuffle over
    ticks), ONE symbol-partitioned window pass producing both lagged
    closes, then a (symbol, pattern) groupBy at <= 6 rows per symbol
    and a symbol-cardinality rollup.  Determinism: patterns are exact
    integer codes from raw-double comparisons (identical on any
    engine); counts are BIGINTs; the entropy uses the count identity
    H = ln N - sum(c ln c)/N so one grouped pass suffices, and the only
    doubles are the final identically-written expressions."""
    dclose = _daily_closes(events, positive_only=True)
    w = Window.partitionBy("symbol").orderBy("day")
    tri = dclose.select(
        "symbol",
        F.lag("c", 2).over(w).alias("a"),
        F.lag("c", 1).over(w).alias("b"),
        F.col("c").alias("z"),
    ).filter(F.col("a").isNotNull())
    # stable ascending sort: on a tie the earlier element ranks lower,
    # so "a ranks below b" is a <= b (strict only for later-vs-earlier)
    altb = F.col("a") <= F.col("b")
    altz = F.col("a") <= F.col("z")
    bltz = F.col("b") <= F.col("z")
    pattern = (
        F.when(altb & bltz, F.lit("012"))
        .when(altb & ~bltz & altz, F.lit("021"))
        .when(altb & ~altz, F.lit("201"))
        .when(~altb & altz, F.lit("102"))
        .when(~altb & ~altz & bltz, F.lit("120"))
        .otherwise(F.lit("210"))
    )
    pat_counts = (
        tri.select("symbol", pattern.alias("pattern"))
        .groupBy("symbol", "pattern")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per = pat_counts.groupBy("symbol").agg(
        F.sum("cnt").alias("n_windows"),
        F.count(F.lit(1)).alias("n_patterns"),
        F.sum(F.col("cnt") * F.log(F.col("cnt"))).alias("clogc"),
        F.max("cnt").alias("max_cnt"),
    ).filter(F.col("n_windows") >= 30)
    nw = F.col("n_windows").cast("double")
    h = F.log(nw) - F.col("clogc") / nw
    return per.select(
        "symbol",
        "n_windows",
        "n_patterns",
        qround(h / F.log(F.lit(6.0)), 6).alias("perm_entropy"),
        qround(F.col("max_cnt").cast("double") / nw, 6).alias("max_pattern_share"),
    ).orderBy("symbol")


def granger_causality_pairs(events: DataFrame) -> DataFrame:
    """Bivariate Granger causality screen over every ordered symbol pair
    (cause x -> effect y) at lag 1 on daily log returns: the restricted
    model regresses r_y(t) on [1, r_y(t-1)], the unrestricted model adds
    r_x(t-1), and the F statistic
    F = (RSS_r - RSS_u) * (n - 3) / RSS_u
    tests whether yesterday's x return improves the forecast of today's
    y return beyond y's own history -- the standard lead-lag screen a
    stat-arb desk runs before building cross-asset signals (directional,
    unlike the symmetric cross_correlation_lags view).

    Scale: returns collapse to day granularity first (the
    _daily_log_returns shared stage), so the pair join is a day-keyed
    equi-join of two SYMBOL-DAY frames -- bar cardinality, not ticks --
    and everything after is one partial-aggregable groupBy per ordered
    pair (symbols^2 output rows).  Determinism: the 12-dp-quantized
    returns sit exactly on the 1e-12 grid, every sum is an exact BIGINT
    in pico-units (value sums) or pico-units (product sums, re-quantized
    at 1e12), and the closed-form OLS algebra runs the identical IEEE
    double sequence on both engines (the drawdown_episodes integer-grid
    discipline)."""
    rets = _daily_log_returns(events)
    w = Window.partitionBy("symbol").orderBy("day")
    lagged = rets.select(
        "symbol",
        "day",
        F.col("lr").alias("r"),
        F.lag("lr").over(w).alias("r1"),
    ).filter(F.col("r1").isNotNull())
    grid = F.lit(1e12)

    def u(c):
        return F.floor(c * grid + F.lit(0.5)).cast("long")

    y = lagged.select(
        F.col("symbol").alias("sym_effect"),
        "day",
        F.col("r").alias("ry"),
        F.col("r1").alias("ry1"),
    )
    x = lagged.select(
        F.col("symbol").alias("sym_cause"),
        F.col("day").alias("day_x"),
        F.col("r1").alias("rx1"),
    )
    joined = y.join(
        x,
        (F.col("day") == F.col("day_x"))
        & (F.col("sym_cause") != F.col("sym_effect")),
    )
    sums = joined.groupBy("sym_cause", "sym_effect").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(u(F.col("ry"))).alias("sy_u"),
        F.sum(u(F.col("ry1"))).alias("su_u"),
        F.sum(u(F.col("rx1"))).alias("sv_u"),
        F.sum(u(F.col("ry") * F.col("ry"))).alias("syy_u"),
        F.sum(u(F.col("ry1") * F.col("ry1"))).alias("suu_u"),
        F.sum(u(F.col("rx1") * F.col("rx1"))).alias("svv_u"),
        F.sum(u(F.col("ry1") * F.col("ry"))).alias("suy_u"),
        F.sum(u(F.col("rx1") * F.col("ry"))).alias("svy_u"),
        F.sum(u(F.col("ry1") * F.col("rx1"))).alias("suv_u"),
    ).filter(F.col("n_days") >= 20)
    # centered second moments from the exact integer sums; every
    # expression below is written identically in the SQL oracle so both
    # engines run the same IEEE sequence on the same exact inputs
    g = 1e12
    nd = F.col("n_days").cast("double")

    def d(name):
        return F.col(name).cast("double") / F.lit(g)

    syy = d("syy_u") - d("sy_u") * d("sy_u") / nd
    suu = d("suu_u") - d("su_u") * d("su_u") / nd
    svv = d("svv_u") - d("sv_u") * d("sv_u") / nd
    suy = d("suy_u") - d("su_u") * d("sy_u") / nd
    svy = d("svy_u") - d("sv_u") * d("sy_u") / nd
    suv = d("suv_u") - d("su_u") * d("sv_u") / nd
    stats = sums.select(
        "sym_cause",
        "sym_effect",
        "n_days",
        syy.alias("syy"),
        suu.alias("suu"),
        svv.alias("svv"),
        suy.alias("suy"),
        svy.alias("svy"),
        suv.alias("suv"),
    ).filter(F.col("suu") > 0)
    det = F.col("suu") * F.col("svv") - F.col("suv") * F.col("suv")
    b1 = (F.col("suy") * F.col("svv") - F.col("svy") * F.col("suv")) / det
    b2 = (F.col("svy") * F.col("suu") - F.col("suy") * F.col("suv")) / det
    fitted = stats.filter(det > 0).select(
        "sym_cause",
        "sym_effect",
        "n_days",
        "syy",
        "suy",
        "svy",
        (F.col("syy") - F.col("suy") * F.col("suy") / F.col("suu")).alias(
            "rss_r"
        ),
        (F.col("syy") - b1 * F.col("suy") - b2 * F.col("svy")).alias("rss_u"),
    ).filter(F.col("rss_u") > 0)
    f_stat = (
        (F.col("rss_r") - F.col("rss_u"))
        * (F.col("n_days").cast("double") - F.lit(3.0))
        / F.col("rss_u")
    )
    return fitted.select(
        "sym_cause",
        "sym_effect",
        "n_days",
        qround(F.col("rss_r") / F.col("rss_u"), 6).alias("rss_ratio"),
        qround(f_stat, 4).alias("f_stat"),
        (qround(f_stat, 4) > F.lit(3.8415)).alias("granger_5pct"),
    ).orderBy("sym_cause", "sym_effect")


def _pacf_steps(max_lag: int = 5) -> list[tuple[str, str]]:
    """Durbin-Levinson recursion unrolled to named column steps shared
    verbatim by the Spark engine (successive ``F.expr`` projections) and
    the DuckDB oracle (nested SELECT layers): identical expression TEXT
    guarantees the identical IEEE double sequence on both engines given
    the identical 6-dp-quantized ACF inputs.

    phi_k_k = (acf_k - sum_j phi_{k-1}_j * acf_{k-j})
              / (1 - sum_j phi_{k-1}_j * acf_j)      (NULL if den = 0)
    phi_k_j = phi_{k-1}_j - phi_k_k * phi_{k-1}_{k-j}
    """
    steps: list[tuple[str, str]] = [("phi_1_1", "acf_1 + 0.0")]
    for k in range(2, max_lag + 1):
        num = " + ".join(
            f"phi_{k-1}_{j} * acf_{k-j}" for j in range(1, k)
        )
        den = " + ".join(f"phi_{k-1}_{j} * acf_{j}" for j in range(1, k))
        steps.append(
            (
                f"phi_{k}_{k}",
                f"(acf_{k} - ({num})) / nullif(1.0 - ({den}), 0.0)",
            )
        )
        for j in range(1, k):
            steps.append(
                (
                    f"phi_{k}_{j}",
                    f"phi_{k-1}_{j} - phi_{k}_{k} * phi_{k-1}_{k-j}",
                )
            )
    return steps


def pacf_durbin_levinson(events: DataFrame, max_lag: int = 5) -> DataFrame:
    """Partial autocorrelation function (lags 1..5) of daily log returns
    per symbol via the Durbin-Levinson recursion on the sample ACF --
    the AR-order identification view a quant reads next to the plain ACF
    (ljung_box_autocorr): pacf_k is the correlation between r_t and
    r_{t-k} after regressing out lags 1..k-1, so an AR(p) series cuts
    off sharply after lag p where the raw ACF only decays.

    Scale: reuses the ljung_box_autocorr frame wholesale (day rollup +
    ONE window pass for all lagged products + one partial-aggregable
    groupBy to symbol cardinality); the recursion itself is pure
    symbol-row scalar algebra -- zero extra shuffles.  Determinism: the
    ACF inputs are 6-dp-quantized exact grid points, and the recursion
    is generated from _pacf_steps as the SAME expression text for both
    engines, so every intermediate double is bit-identical; a
    singular step (den = 0) yields NULL identically via nullif."""
    acf = ljung_box_autocorr(events, max_lag=max_lag).select(
        "symbol", "n_days", *[f"acf_{k}" for k in range(1, max_lag + 1)]
    )
    out = acf
    for name, expr in _pacf_steps(max_lag):
        out = out.withColumn(name, F.expr(expr))
    return out.select(
        "symbol",
        "n_days",
        *[
            qround(F.col(f"phi_{k}_{k}"), 6).alias(f"pacf_{k}")
            for k in range(1, max_lag + 1)
        ],
    ).orderBy("symbol")
