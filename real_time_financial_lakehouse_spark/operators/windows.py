"""Window/analytic layer: the dashboard's pandas indicators, Spark-first.

The reference computes SMA(5), first-difference, and RSI(14) in pandas on
the driver (dashboard.py:17-22,46-48) -- single-machine, whole-frame.  We
re-express them as Spark Window expressions so they distribute: one shuffle
partitioned by symbol, then every indicator is computed inside the same
sorted frame with whole-stage codegen -- no Python boundary at all
(SURVEY section 2.10: the engine core is UDF-free).

pandas edge semantics are preserved exactly for oracle parity:

* ``rolling(n).mean()`` emits NULL for the first n-1 rows (min_periods
  defaults to the window size) -> we gate on ``row_number() >= n``.
* ``Series.where(delta > 0, 0)`` maps NaN deltas (first row) to 0, because
  ``NaN > 0`` is False -> Spark's ``when`` does the same with NULL.
* RSI when avg-loss is 0: gain/0 -> inf -> RSI 100 in pandas; we make that
  explicit with a CASE so no engine-specific division-by-zero semantics
  leak in (Spark 4 runs ANSI mode by default).

The reference's analytic layer has no partitionBy (single symbol); we add
``partitionBy(symbol)`` everywhere so multi-symbol data is correct and the
work distributes by symbol at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.numeric import qround

from .relational import gain_loss_split

def minute_series(events: DataFrame) -> DataFrame:
    """Aggregate raw events into the per-(symbol, minute) price series the
    indicator layer consumes -- the silver-table shape (average_price over
    processed-minute) of process_silver.py:50-57, batch mode."""
    return events.groupBy(
        F.col("event_type").alias("symbol"),
        F.date_trunc("minute", F.col("ts")).alias("minute"),
    ).agg(qround(F.avg("value"), 6).alias("price"))

def _ordered_window(symbol_col: str, time_col: str) -> Window:
    return Window.partitionBy(symbol_col).orderBy(time_col)

def with_sma(
    series: DataFrame,
    n: int = 5,
    symbol_col: str = "symbol",
    time_col: str = "minute",
    price_col: str = "price",
) -> DataFrame:
    """W1: n-row simple moving average with pandas null-prefix semantics
    (dashboard.py:46 ``rolling(window=5).mean()``)."""
    w = _ordered_window(symbol_col, time_col)
    frame = w.rowsBetween(-(n - 1), 0)
    rn = F.row_number().over(w)
    sma = F.when(rn >= n, qround(F.avg(price_col).over(frame), 6))
    return series.withColumn("sma", sma)

def with_diff(
    series: DataFrame,
    symbol_col: str = "symbol",
    time_col: str = "minute",
    price_col: str = "price",
) -> DataFrame:
    """W2: first difference (dashboard.py:18 ``data.diff()``)."""
    w = _ordered_window(symbol_col, time_col)
    return series.withColumn(
        "price_diff", qround(F.col(price_col) - F.lag(price_col, 1).over(w), 6)
    )

def with_rsi(
    series: DataFrame,
    n: int = 14,
    symbol_col: str = "symbol",
    time_col: str = "minute",
    price_col: str = "price",
) -> DataFrame:
    """W4: Wilder-style RSI(n) (dashboard.py:17-22): diff -> conditional
    gain/loss -> two n-row rolling means -> 100 - 100/(1+rs)."""
    w = _ordered_window(symbol_col, time_col)
    frame = w.rowsBetween(-(n - 1), 0)
    rn = F.row_number().over(w)
    delta = F.col(price_col) - F.lag(price_col, 1).over(w)
    gain, loss = gain_loss_split(delta)
    avg_gain = F.avg(gain).over(frame)
    avg_loss = F.avg(loss).over(frame)
    rsi = (
        F.when(rn < n, F.lit(None).cast("double"))
        .when(avg_loss == 0, F.lit(100.0))
        .otherwise(qround(F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + avg_gain / avg_loss), 6))
    )
    return series.withColumn("rsi", rsi)

def indicator_frame(events: DataFrame) -> DataFrame:
    """The dashboard's full derived frame (dashboard.py:42-48): ordered
    series + SMA(5) + diff + RSI(14), one Window shuffle for everything."""
    series = minute_series(events)
    return with_rsi(with_diff(with_sma(series)))

def last_prev_delta(
    series: DataFrame,
    symbol_col: str = "symbol",
    time_col: str = "minute",
    price_col: str = "price",
) -> DataFrame:
    """W5: last vs previous row per symbol (dashboard.py:89-92
    ``iloc[-1]`` / ``iloc[-2]`` metric deltas).  A 1-row group yields NULL
    prev/delta, mirroring the reference's guarded branch
    (dashboard.py:91-94)."""
    w = Window.partitionBy(symbol_col).orderBy(F.col(time_col).desc())
    ranked = series.withColumn("rn", F.row_number().over(w))
    last = ranked.filter(F.col("rn") == 1).select(
        F.col(symbol_col).alias("symbol"), F.col(price_col).alias("last_price")
    )
    prev = ranked.filter(F.col("rn") == 2).select(
        F.col(symbol_col).alias("symbol"), F.col(price_col).alias("prev_price")
    )
    return last.join(prev, "symbol", "left").select(
        "symbol",
        "last_price",
        "prev_price",
        qround(F.col("last_price") - F.col("prev_price"), 6).alias("price_delta"),
    )

def ema_per_symbol(events: DataFrame, alpha: str = "0.1") -> DataFrame:
    """Batch twin of the stateful streaming EMA
    (streaming/stateful.py): per-symbol recursive fold
    ``EMA_t = alpha * x_t + (1-alpha) * EMA_{t-1}`` seeded with the first
    value, rows ordered by (ts, event_id).

    Expressed as collect_list -> array_sort -> aggregate fold, all
    JVM-side.  Scale caveat, stated plainly: this materializes each
    symbol's full series in one aggregation buffer, so it is the
    oracle/backfill path for bounded per-key series; the streaming
    operator with O(1) GroupState is the unbounded-scale path.  ``alpha``
    is passed as a decimal string so Spark and the SQL twin parse the
    identical double literal."""
    beta = f"(1.0D - {alpha}D)"
    seq = F.array_sort(F.collect_list(F.struct("ts", "event_id", "value")))
    g = events.groupBy(F.col("event_type").alias("symbol")).agg(
        seq.alias("seq"), F.count(F.lit(1)).alias("n_events")
    )
    vals = "transform(seq, s -> s.value)"
    ema = (
        f"aggregate(slice({vals}, 2, size({vals})), "
        f"cast(element_at({vals}, 1) as double), "
        f"(acc, x) -> {alpha}D * x + {beta} * acc)"
    )
    return g.select(
        "symbol",
        "n_events",
        qround(F.expr(ema), 6).alias("ema"),
    ).orderBy("symbol")

def sessionize(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows: per-user event bursts separated by >= ``gap`` of
    silence -- the sessionization every behavioral/training-data pipeline
    needs and the one window type the reference never uses.

    Uses Spark's native ``session_window`` (dynamic-length windows merged
    at aggregation time; works identically in batch and streaming -- in
    streaming the same expression runs with a watermark and state).  The
    SQL twin is the classic gaps-and-islands formulation with a STRICT
    ``>`` split, which pins the exact merge semantics: Spark merges the
    exactly-touching case (an event at prev_ts + gap extends the
    session; proven by tests/test_round12_ops.py boundary fixture), so a
    new session starts only when the gap is strictly greater than the
    threshold.  Engine and oracle agree at the boundary by construction
    -- no fixture latitude.

    Scale: one shuffle on user_id; session merging is per-key and
    streaming-compatible (state evicted by watermark)."""
    sw = F.session_window(F.col("ts"), gap)
    return (
        events.groupBy(F.col("user_id"), sw)
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
        .orderBy("user_id", "session_start")
    )

def trailing_range_avg(events: DataFrame, seconds: int = 300) -> DataFrame:
    """RANGE-frame window (extension; the reference uses only row frames):
    per-symbol trailing ``seconds`` average at every event -- the
    irregular-time-series moving average row frames get wrong.  The frame
    is anchored on epoch-microseconds so engines agree exactly on
    boundaries and ties."""
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(us)
        .rangeBetween(-seconds * 1_000_000, 0)
    )
    return events.select(
        F.col("event_id"),
        F.col("event_type").alias("symbol"),
        F.col("ts"),
        F.col("value"),
        qround(F.avg("value").over(w), 6).alias("trailing_avg"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    ).orderBy("event_id")

def symbol_bounds(events: DataFrame) -> DataFrame:
    """first_value / last_value / nth_value over an unbounded frame: the
    per-symbol opening, closing, and third tick in one windowed pass --
    the value-positional window family the SMA/RSI layer doesn't touch.

    Scale: one shuffle on the partition key; the unbounded-following
    frame forces full-partition buffering, which is why the result is
    immediately collapsed to one row per symbol (rn = 1) rather than
    carried per-event."""
    w_full = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_rn = Window.partitionBy("event_type").orderBy("ts", "event_id")
    return (
        events.select(
            F.col("event_type").alias("symbol"),
            F.row_number().over(w_rn).alias("rn"),
            qround(F.first("value").over(w_full), 6).alias("open_value"),
            qround(F.last("value").over(w_full), 6).alias("close_value"),
            qround(F.nth_value("value", 3).over(w_full), 6).alias("third_value"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("symbol")
    )

def user_histories(events: DataFrame, first_n: int = 5) -> DataFrame:
    """Per-user ordered event history: collect_list of (ts, event_id)
    structs, array_sort (struct ordering = ts then id, so the array is
    deterministic regardless of arrival order), project the ids, keep the
    first N, and emit them joined as one comma-separated string column
    (`first_events`) -- a scalar, portable shape that every downstream
    consumer (CSV export, hash-based comparison, feature store) can
    digest without array-type support.

    Scale: collect_list buffers each user's rows in the aggregation
    state -- fine for per-entity histories (thousands of events), the
    wrong tool for global keys; at 100 TB the first-N cut belongs BEFORE
    the collect (window rank + filter) so state stays bounded, and that
    variant is exactly `tail_n_by_time` inverted."""
    sorted_ids = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id"))), lambda s: s["event_id"]
    )
    return (
        events.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.slice(sorted_ids, 1, first_n),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("first_events"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )

def user_state_history(events: DataFrame) -> DataFrame:
    """SCD2-style state history: collapse each user's event stream into
    contiguous runs of the same event_type (gaps-and-islands), emitting
    one validity interval per run -- ``valid_from`` = first event of the
    run, ``valid_to`` = start of the next run (NULL + ``is_current`` on
    the open interval).  The slowly-changing-dimension build step a
    lakehouse runs to turn an append-only event log into point-in-time
    joinable history (the reference keeps only latest-state tables; this
    is the history the as-of join consumes).

    Scale: both windows and the groupBy partition by user_id, so Catalyst
    plans ONE exchange and reuses it end-to-end; the second window runs
    at run (not event) cardinality.  Run detection is the standard
    lag-compare + running-sum island id; ties on ts are broken by
    event_id everywhere, and the lead() tiebreak includes run_id so equal
    valid_from values cannot reorder between engines."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    new_run = F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
    runs = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("new_run", new_run)
        .withColumn(
            "run_id",
            F.sum("new_run").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    agg = runs.groupBy("user_id", "run_id", "event_type").agg(
        F.min("ts").alias("valid_from"),
        F.max("ts").alias("last_seen"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "run_id")
    nxt = F.lead("valid_from").over(w2)
    return agg.select(
        "user_id",
        "run_id",
        "event_type",
        "valid_from",
        nxt.alias("valid_to"),
        "last_seen",
        "n_events",
        nxt.isNull().alias("is_current"),
    ).orderBy("user_id", "run_id")

def order_rank_percentiles(orders: DataFrame) -> DataFrame:
    """Distribution-rank analytics over orders: percent_rank and cume_dist
    of each order's total price within its priority class, plus the decile
    (ntile 10).  Completes the ranking-window surface next to
    row_number/rank/dense_rank (top_orders_per_customer).

    Scale: one shuffle on o_orderpriority (5 partitions -- skewed by
    design, same shape as any low-cardinality ranking); at 100 TB the
    ranking itself is the bottleneck, and the fix is pre-aggregating to
    the granularity the ranks are consumed at (here: cents) before the
    window, or computing approximate ranks from a KLL sketch
    (value_percentiles_approx shows that path)."""
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        qround(F.percent_rank().over(w), 6).alias("price_percent_rank"),
        qround(F.cume_dist().over(w), 6).alias("price_cume_dist"),
        F.ntile(10).over(w).cast("long").alias("price_decile"),
    ).orderBy("o_orderpriority", "o_totalprice", "o_orderkey")


def user_transition_matrix(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    lag each user's time-ordered events to form (from_type, to_type)
    steps, count them corpus-wide, and normalize per source state into
    transition probabilities -- the behavioral model behind next-action
    prediction, funnel leak analysis, and bot detection (uniform rows
    are a bot tell).

    Scale: one window exchange on user_id (high cardinality, O(1) lag
    state per task), then a partial-aggregated groupBy at state-pair
    cardinality (|types|^2 rows -- tiny); the per-source normalization
    is a window over that tiny frame.  Nothing data-sized concentrates."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        events.withColumn("from_type", F.lag("event_type").over(w))
        .filter(F.col("from_type").isNotNull())
        .select("from_type", F.col("event_type").alias("to_type"))
    )
    counts = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    totals = W.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        (
            F.floor(
                F.col("n_transitions")
                / F.sum("n_transitions").over(totals)
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("prob"),
    ).orderBy("from_type", "to_type")


def event_pagerank(
    events: DataFrame, d: float = 0.85, n_iter: int = 5
) -> DataFrame:
    """PageRank over the event-type transition graph: nodes are event
    types, edge weights are the per-source transition probabilities of
    ``user_transition_matrix``, with the full treatment -- damping,
    uniform teleport, and dangling-mass redistribution.  On a behavior
    graph this ranks the "gravity" of each state (which state the
    process keeps returning to), the same centrality a 100 TB user/item
    graph pipeline computes -- here at event-type cardinality so every
    iteration is exactly checkable.  ``n_iter=0`` returns the uniform
    1/N start vector; ``d`` outside [0, 1] or a negative ``n_iter``
    raises ``ValueError``.

    Scale: the corpus is scanned ONCE -- one window lag and one
    partial-agg groupBy to (from_type, to_type) counts, at most
    |types|^2 rows.  Each user's first event keeps its NULL from_type,
    so the same counts carry the node set (every event is the to_type
    of its own row).  The counts collapse into ONE row, and the node
    set, edge weights and all ``n_iter`` power iterations are array
    expressions over that row: a single ``aggregate`` fold at node
    cardinality, exploded back to one row per node.  No join, no driver
    round trip, no Spark job while the frame is built, and the plan
    does not grow with ``n_iter``.  A NULL event_type is a node whose
    inflow is dropped (the oracle's NULL-key join does the same)."""
    if not 0.0 <= d <= 1.0:
        raise ValueError(f"event_pagerank: damping d must be in [0, 1], got {d}")
    if n_iter < 0:
        raise ValueError(f"event_pagerank: n_iter must be >= 0, got {n_iter}")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    counts = (
        events.select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    c = F.col("c")
    nodes = F.col("nodes")

    def out_of(v):
        return F.filter(c, lambda x: x["from_type"] == v)

    graph = counts.agg(
        F.collect_list(F.struct("from_type", "to_type", "n")).alias("c")
    ).select(
        c, F.array_sort(F.array_distinct(F.transform(c, lambda x: x["to_type"]))).alias("nodes")
    )
    # per-node out-weight total and out-degree; a 0 total marks a
    # dangling node (the NULL node is one: first events never become edges)
    graph = graph.select(
        c,
        nodes,
        F.transform(
            nodes,
            lambda v: F.aggregate(out_of(v), F.lit(0).cast("bigint"), lambda a, x: a + x["n"]),
        ).alias("out_tot"),
        F.transform(nodes, lambda v: F.size(out_of(v)).cast("bigint")).alias("n_out"),
    )

    # one entry per node: its in-edges as (source position, weight)
    def in_edge(x):
        src = F.array_position(nodes, x["from_type"]).cast("int")
        return F.struct(
            src.alias("src"),
            (x["n"].cast("double") / F.element_at("out_tot", src)).alias("w"),
        )

    graph = graph.select(
        nodes,
        "out_tot",
        "n_out",
        F.transform(
            nodes,
            lambda v: F.transform(
                F.filter(c, lambda x: (x["to_type"] == v) & x["from_type"].isNotNull()),
                in_edge,
            ),
        ).alias("ins"),
    )
    n = F.greatest(F.size(nodes), F.lit(1)).cast("double")

    def step(pr, _):
        m = F.aggregate(
            F.zip_with(pr, "out_tot", lambda p, o: F.when(o == 0, p).otherwise(0.0)),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        return F.transform(
            "ins",
            lambda es: F.lit(1.0 - d) / n
            + F.lit(d)
            * (
                F.aggregate(
                    es,
                    F.lit(0.0),
                    lambda a, e: a + F.element_at(pr, e["src"]) * e["w"],
                )
                + m / n
            ),
        )

    # array_repeat, not sequence: sequence(1, 0) counts down to [1, 0]
    ranks = F.aggregate(
        F.array_repeat(F.lit(0), n_iter), F.array_repeat(F.lit(1.0) / n, F.size(nodes)), step
    )
    row = F.arrays_zip(
        nodes.alias("node"),
        F.transform(ranks, lambda p: qround(p, 6)).alias("pagerank"),
        F.transform("ins", lambda es: F.size(es).cast("bigint")).alias("n_in_edges"),
        F.col("n_out").alias("n_out_edges"),
    )
    return graph.select(F.inline(row)).orderBy("node")


def session_event_pmi(events: DataFrame, gap_min: int = 30) -> DataFrame:
    """Pointwise mutual information between event types co-occurring in
    the same user session (30-minute gap rule): PMI > 0 means the pair
    appears together more than independence predicts -- the association
    signal behind market-basket analysis and item2vec-style co-occurrence
    embeddings, computed exactly at type-pair cardinality.

    Scale: sessionization is one (user, time) window pass (gaps-and-
    islands, O(1) state); sessions collapse to their distinct-type SET
    (bounded by |types|), pairs expand inside that tiny array (the
    _pairs_within_bucket discipline -- never a row self-join), and all
    counting is partial-aggregated at type / type-pair cardinality."""
    from pyspark.sql import Window as W

    from ..functions.numeric import qround

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(
        gap.isNull() | (gap >= gap_min * 60 * 1_000_000), 1
    ).otherwise(0)
    cum = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    sess = events.select(
        "user_id",
        "event_type",
        F.sum(new_sess).over(cum).alias("sess_no"),
    )
    per_sess = sess.groupBy("user_id", "sess_no").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    n_total = per_sess.agg(F.count(F.lit(1)).alias("n_sessions"))
    singles = (
        per_sess.select(F.explode("types").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        per_sess.select(
            F.explode(
                F.expr(
                    "flatten(transform(types, (x, i) ->"
                    " transform(slice(types, i + 2, size(types)),"
                    " y -> named_struct('a', x, 'b', y))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = singles.select(F.col("t").alias("a"), F.col("n").alias("n_a"))
    sb = singles.select(F.col("t").alias("b"), F.col("n").alias("n_b"))
    pmi = F.log(
        F.col("n_both").cast("double")
        * F.col("n_sessions")
        / (F.col("n_a").cast("double") * F.col("n_b"))
    )
    return (
        pairs.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .crossJoin(F.broadcast(n_total))
        .select(
            F.col("a").alias("type_a"),
            F.col("b").alias("type_b"),
            "n_both",
            "n_a",
            "n_b",
            qround(pmi, 6).alias("pmi"),
        )
        .orderBy("type_a", "type_b")
    )


def session_graph_triangles(events: DataFrame, gap_min: int = 30) -> DataFrame:
    """Triangle census of the session co-occurrence graph: nodes are
    event types, an (undirected) edge connects two types that co-occur
    in at least one user session, and the report counts nodes, edges,
    triangles, and the global clustering coefficient
    (3 * triangles / wedges).  The structural readout behind
    association-graph mining, computed with the canonical distributed
    pattern: ordered edges (a < b) self-joined twice, so every triangle
    is counted exactly once as a < b < c.

    Scale: sessionization is the session_event_pmi window pass; the edge
    list lives at |type-pair| cardinality (bounded by |types|^2, tiny
    relative to the event volume), so the two triangle joins and the
    wedge rollup never touch data-sized frames.  On a corpus where nodes
    are unbounded (user graphs), the same shape holds with the heaviest
    hubs degree-capped first -- the standard truncation."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(
        gap.isNull() | (gap >= gap_min * 60 * 1_000_000), 1
    ).otherwise(0)
    cum = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    sess = events.select(
        "user_id", "event_type", F.sum(new_sess).over(cum).alias("sess_no")
    )
    st = sess.select("user_id", "sess_no", "event_type").distinct()
    pairs = (
        st.alias("a")
        .join(
            st.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.sess_no") == F.col("b.sess_no"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .select(
            F.col("a.event_type").alias("ta"), F.col("b.event_type").alias("tb")
        )
        .distinct()
    )
    nodes = pairs.select(F.col("ta").alias("t")).unionAll(
        pairs.select(F.col("tb").alias("t"))
    )
    degrees = nodes.groupBy("t").agg(F.count(F.lit(1)).alias("deg"))
    tri = (
        pairs.alias("e1")
        .join(
            pairs.alias("e2"), F.col("e1.tb") == F.col("e2.ta")
        )
        .join(
            pairs.alias("e3"),
            (F.col("e1.ta") == F.col("e3.ta"))
            & (F.col("e2.tb") == F.col("e3.tb")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    summary = degrees.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.coalesce(F.sum("deg"), F.lit(0)) / 2).cast("long").alias("n_edges"),
        F.coalesce(F.sum(F.col("deg") * (F.col("deg") - 1) / 2), F.lit(0.0))
        .cast("long")
        .alias("n_wedges"),
    )
    return (
        summary.crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                qround(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6),
            ).alias("global_clustering"),
        )
    )


def association_rules(events: DataFrame, gap_min: int = 30) -> DataFrame:
    """Market-basket association rules over session type-sets: for every
    ORDERED pair of event types co-occurring in a session, the standard
    support / confidence / lift triple (lift > 1 = the pair attracts,
    < 1 = repels) -- the directional complement of session_event_pmi's
    symmetric score.

    Scale: same sessionization + distinct-type-set collapse as the PMI
    query (pair expansion inside the bounded per-session array, never a
    row self-join); all metrics compute at type-pair cardinality."""
    from pyspark.sql import Window as W

    from ..functions.numeric import qround

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(
        gap.isNull() | (gap >= gap_min * 60 * 1_000_000), 1
    ).otherwise(0)
    cum = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    sess = events.select(
        "user_id", "event_type", F.sum(new_sess).over(cum).alias("sess_no")
    )
    st = sess.select("user_id", "sess_no", "event_type").distinct()
    n_total = st.select("user_id", "sess_no").distinct().agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    singles = st.groupBy(F.col("event_type").alias("t")).agg(
        F.count(F.lit(1)).alias("n_t")
    )
    pairs = (
        st.alias("a")
        .join(
            st.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.sess_no") == F.col("b.sess_no"))
            & (F.col("a.event_type") != F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("antecedent"),
            F.col("b.event_type").alias("consequent"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    enriched = (
        pairs.join(
            F.broadcast(singles.withColumnRenamed("t", "antecedent")
                        .withColumnRenamed("n_t", "n_ante")),
            "antecedent",
        )
        .join(
            F.broadcast(singles.withColumnRenamed("t", "consequent")
                        .withColumnRenamed("n_t", "n_cons")),
            "consequent",
        )
        .crossJoin(F.broadcast(n_total))
    )
    conf = F.col("n_both") / F.col("n_ante")
    return enriched.select(
        "antecedent",
        "consequent",
        "n_both",
        qround(F.col("n_both") / F.col("n_sessions"), 6).alias("support"),
        qround(conf, 6).alias("confidence"),
        qround(conf / (F.col("n_cons") / F.col("n_sessions")), 6).alias("lift"),
    ).orderBy("antecedent", "consequent")
