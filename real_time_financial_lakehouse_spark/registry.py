"""Named query registry: the SURVEY section-2 operator inventory.

Each entry pairs a Spark DataFrame builder (``QUERIES[name]``, signature
``(spark, sf_dir) -> DataFrame``) with an equivalent ANSI-SQL oracle string
(``ORACLE_SQL[name]``) that DuckDB runs on the same parquet fixtures.
Column names and rounding are aligned on both sides so the driver's
order-insensitive value hash matches (see oracle.py).

Queries whose semantics are not SQL-expressible (streaming state, ML
training) appear in QUERIES without an ORACLE_SQL twin -- the driver then
records a weaker rows-only check, and pytest covers them directly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .operators import relational, rollup, setops, silver, sinks, windows

def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")

# Shared oracle CTE: per-(symbol, minute) price series (the silver-table
# shape the indicator layer consumes).
_SERIES_CTE = """
series AS (
    SELECT event_type AS symbol,
           date_trunc('minute', ts) AS minute,
           floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 AS price
    FROM events
    GROUP BY 1, 2
)
"""

# Shared oracle CTE: Spark-compatible sliding windows (60s window, 30s
# slide => every event belongs to exactly 2 windows whose starts are the
# two slide-aligned points g with g <= ts < g + 60s).
_SLIDING_CTE = """
wins AS (
    SELECT make_timestamp((epoch_us(e.ts) // 30000000 - o.off) * 30000000) AS window_start,
           e.event_type AS symbol,
           e.value
    FROM events e
    CROSS JOIN (SELECT unnest([0, 1]) AS off) o
)
"""

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}

def register(name: str, sql: str | None = None):
    def deco(fn):
        # A duplicate registration silently REPLACES a (possibly
        # driver-verified) query with different semantics -- the
        # round-10 amihud_illiquidity collision.  Fail loudly instead.
        if name in QUERIES:
            raise ValueError(
                f"query {name!r} is already registered -- pick a new name "
                "or remove the old registration explicitly"
            )
        QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn

    return deco

# ---------------------------------------------------------------------------
# Flagship + gold rollups (S4/S7, A3-A6, O1)
# ---------------------------------------------------------------------------

@register(
    "gold_market_summary",
    """
    SELECT event_type AS symbol,
           date_trunc('minute', ts) AS minute_window,
           floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 AS avg_price,
           floor((max(value)) * 1000000.0 + 0.5) / 1000000.0 AS max_price,
           floor((min(value)) * 1000000.0 + 0.5) / 1000000.0 AS min_price,
           floor((stddev_pop(value)) * 1000000.0 + 0.5) / 1000000.0 AS volatility,
           count(*) AS transaction_count
    FROM events
    GROUP BY 1, 2
    ORDER BY 2 DESC, 1
    """,
)
def q_gold_market_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rollup.events_market_summary(_events(spark, sf_dir))

@register(
    "minute_ohlc",
    """
    WITH e AS (
        SELECT event_type AS symbol,
               date_trunc('minute', ts) AS minute_window,
               value, ts, event_id,
               row_number() OVER (PARTITION BY event_type, date_trunc('minute', ts)
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY event_type, date_trunc('minute', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT symbol, minute_window,
           max(CASE WHEN rn_a = 1 THEN value END) AS open_price,
           floor((max(value)) * 1000000.0 + 0.5) / 1000000.0 AS high_price,
           floor((min(value)) * 1000000.0 + 0.5) / 1000000.0 AS low_price,
           max(CASE WHEN rn_d = 1 THEN value END) AS close_price,
           floor((sum(value)) * 1000000.0 + 0.5) / 1000000.0 AS total_value,
           count(*) AS n_trades
    FROM e
    GROUP BY 1, 2
    ORDER BY 2, 1
    """,
)
def q_minute_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rollup.minute_ohlc(_events(spark, sf_dir))

@register(
    "daily_rollup_totals",
    """
    SELECT event_type AS symbol,
           date_trunc('day', ts) AS day,
           count(*) AS n_events,
           floor((sum(value)) * 100.0 + 0.5) / 100.0 AS total_value,
           GROUPING(event_type, date_trunc('day', ts)) AS gid
    FROM events
    GROUP BY ROLLUP (1, 2)
    ORDER BY 5, 1, 2
    """,
)
def q_daily_rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rollup.daily_rollup_totals(_events(spark, sf_dir))

@register(
    "value_percentiles",
    """
    SELECT event_type AS symbol,
           floor(quantile_cont(value, 0.5)  * 1000000.0 + 0.5) / 1000000.0 AS p50,
           floor(quantile_cont(value, 0.9)  * 1000000.0 + 0.5) / 1000000.0 AS p90,
           floor(quantile_cont(value, 0.99) * 1000000.0 + 0.5) / 1000000.0 AS p99
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rollup.value_percentiles(_events(spark, sf_dir))

@register(
    "event_type_pivot",
    """
    SELECT user_id,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
           count(CASE WHEN event_type = 'view' THEN 1 END) AS view
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rollup.event_type_pivot(_events(spark, sf_dir))

# S7: the dbt materialized='table' CTAS, as saveAsTable + re-read -- the
# oracle checks values THROUGH the materialization.
@register("gold_ctas", ORACLE_SQL["gold_market_summary"])
def q_gold_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    gold = rollup.events_market_summary(_events(spark, sf_dir))
    return sinks.ctas(spark, gold, "gold_market_summary_ctas")

# Partition-pruned scan through a date-partitioned write: the filter on
# the partition column prunes directories before any file opens (the
# 100 TB layout from SCALE.md, verified through the sink).
@register(
    "partitioned_day_rollup",
    """
    SELECT event_type AS symbol,
           count(*) AS n_events,
           floor((sum(value)) * 100.0 + 0.5) / 100.0 AS total_value
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') IN ('2024-01-02', '2024-01-03')
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_partitioned_day_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn(
        "day", F.date_format(F.col("ts"), "yyyy-MM-dd")
    )
    path = sinks.partitioned_write(ev, ["day"])
    # explicit schema on the read-back: schema-drift protection on real
    # data, and an empty write (no files, only _SUCCESS) reads as an
    # empty frame instead of UNABLE_TO_INFER_SCHEMA
    part = spark.read.schema(ev.schema).parquet(path).filter(
        F.col("day").cast("string").isin("2024-01-02", "2024-01-03")
    )
    return (
        part.groupBy(F.col("event_type").alias("symbol"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.floor(F.sum("value") * F.lit(100.0) + F.lit(0.5)).cast("double").alias("_tv"),
        )
        .select("symbol", "n_events", (F.col("_tv") / F.lit(100.0)).alias("total_value"))
        .orderBy("symbol")
    )

# S9: the dashboard CSV export (dashboard.py:86), distributed write +
# schema-preserving re-read; timestamps formatted to strings first.
@register(
    "gold_csv_roundtrip",
    """
    SELECT symbol,
           strftime(minute_window, '%Y-%m-%d %H:%M:%S') AS minute_str,
           avg_price, max_price, min_price, volatility, transaction_count
    FROM (
        SELECT event_type AS symbol,
               date_trunc('minute', ts) AS minute_window,
               floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 AS avg_price,
               floor((max(value)) * 1000000.0 + 0.5) / 1000000.0 AS max_price,
               floor((min(value)) * 1000000.0 + 0.5) / 1000000.0 AS min_price,
               floor((stddev_pop(value)) * 1000000.0 + 0.5) / 1000000.0 AS volatility,
               count(*) AS transaction_count
        FROM events
        GROUP BY 1, 2
    )
    """,
)
def q_gold_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    gold = rollup.events_market_summary(_events(spark, sf_dir)).select(
        "symbol",
        F.date_format("minute_window", "yyyy-MM-dd HH:mm:ss").alias("minute_str"),
        "avg_price",
        "max_price",
        "min_price",
        "volatility",
        "transaction_count",
    )
    return sinks.csv_roundtrip(spark, gold)

# ---------------------------------------------------------------------------
# Relational core (P1-P14)
# ---------------------------------------------------------------------------

@register(
    "parse_props_json",
    """
    SELECT event_id, ts, event_type, value,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def q_parse_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.parse_props(_events(spark, sf_dir))

@register(
    "bronze_normalize",
    """
    SELECT event_id,
           event_type AS symbol,
           CAST(value AS DOUBLE) AS price,
           floor((value * 2.5) * 100.0 + 0.5) / 100.0 AS notional,
           epoch_us(ts) // 1000 AS epoch_ms,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS iso_ts
    FROM events
    """,
)
def q_bronze_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.bronze_normalize(_events(spark, sf_dir)).drop("ts_str")

@register(
    "fill_and_flag",
    """
    SELECT event_id, event_type,
           coalesce(value, 0.0) AS value_filled,
           CAST(0.0 AS DOUBLE) AS predicted_price,
           CASE WHEN value > 100.0 THEN value ELSE 0.0 END AS gain,
           CASE WHEN value <= 100.0 THEN -value ELSE 0.0 END AS loss
    FROM events
    """,
)
def q_fill_and_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.fill_and_flag(_events(spark, sf_dir))

@register(
    "interval_shift",
    """
    SELECT event_id,
           ts AS ts_utc,
           ts + INTERVAL 3 HOUR AS ts_local,
           date_trunc('minute', ts + INTERVAL 3 HOUR) AS minute_local
    FROM events
    """,
)
def q_interval_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.shift_timezone(_events(spark, sf_dir))

@register(
    "format_and_time",
    """
    SELECT event_id,
           make_timestamp((epoch_us(ts) // 1000) * 1000) AS ts_ms,
           strftime(ts, '%H:%M:%S') AS hms,
           printf('%.2f', floor(value * 100.0 + 0.5) / 100.0) AS price_fmt,
           format('{:,}', (user_id * 1000000)::BIGINT) AS big_fmt
    FROM events
    """,
)
def q_format_and_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.format_and_time(_events(spark, sf_dir))

@register(
    "json_roundtrip",
    """
    SELECT event_id,
           json_extract_string(j, '$.symbol') AS symbol_rt,
           CAST(json_extract_string(j, '$.price') AS DOUBLE) AS price_rt
    FROM (
        SELECT event_id,
               to_json(struct_pack(symbol := event_type, price := value)) AS j
        FROM events
    )
    """,
)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.json_roundtrip(_events(spark, sf_dir))

# ---------------------------------------------------------------------------
# Silver sliding-window aggregation (A1/A2/T2) + training filter (P5)
# ---------------------------------------------------------------------------

@register(
    "silver_sliding_window",
    f"""
    WITH {_SLIDING_CTE}
    SELECT window_start,
           window_start + INTERVAL 1 MINUTE AS window_end,
           symbol,
           floor((stddev_pop(value)) * 1000000.0 + 0.5) / 1000000.0 AS volatility,
           floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 AS average_price,
           count(*) AS n_events
    FROM wins
    GROUP BY 1, 3
    """,
)
def q_silver_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return silver.sliding_window_agg(_events(spark, sf_dir))

@register(
    "training_filter",
    f"""
    WITH {_SLIDING_CTE},
    agg AS (
        SELECT symbol,
               floor((stddev_pop(value)) * 1000000.0 + 0.5) / 1000000.0 AS volatility,
               floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 AS average_price
        FROM wins
        GROUP BY symbol, window_start
    )
    SELECT symbol, volatility, average_price
    FROM agg
    WHERE average_price > 0 AND volatility >= 0
    """,
)
def q_training_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = silver.sliding_window_agg(_events(spark, sf_dir))
    return relational.positive_filter(agg).select("symbol", "volatility", "average_price")

# ---------------------------------------------------------------------------
# Set ops / sorts / limits (U1, O1-O3)
# ---------------------------------------------------------------------------

@register(
    "union_all_buckets",
    """
    SELECT event_id, event_type, value, 'high' AS bucket FROM events WHERE value >= 100.0
    UNION ALL
    SELECT event_id, event_type, value, 'low' AS bucket FROM events WHERE value < 100.0
    """,
)
def q_union_all_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    high = ev.filter(F.col("value") >= 100.0).select(
        "event_id", "event_type", "value", F.lit("high").alias("bucket")
    )
    low = ev.filter(F.col("value") < 100.0).select(
        "event_id", "event_type", "value", F.lit("low").alias("bucket")
    )
    return setops.union_all(high, low)

@register(
    "distinct_user_event_pairs",
    """
    SELECT DISTINCT user_id, event_type FROM events ORDER BY 1, 2
    """,
)
def q_distinct_user_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return setops.distinct_pairs(_events(spark, sf_dir))

@register(
    "users_intersect",
    """
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    ORDER BY 1
    """,
)
def q_users_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return setops.users_intersect(_events(spark, sf_dir), "click", "purchase")

@register(
    "users_except",
    """
    SELECT user_id FROM events WHERE event_type = 'click'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    ORDER BY 1
    """,
)
def q_users_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    return setops.users_except(_events(spark, sf_dir), "click", "purchase")

@register(
    "latest_20_events",
    """
    SELECT event_id, ts, event_type, value
    FROM events
    ORDER BY ts DESC, event_id DESC
    LIMIT 20
    """,
)
def q_latest_20_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    return setops.tail_n_by_time(ev, 20)

# ---------------------------------------------------------------------------
# Window / analytic layer (W1-W5)
# ---------------------------------------------------------------------------

@register(
    "sma_5",
    f"""
    WITH {_SERIES_CTE}
    SELECT symbol, minute, price,
           CASE WHEN row_number() OVER w >= 5
                THEN floor((avg(price) OVER (PARTITION BY symbol ORDER BY minute
                                            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) * 1000000.0 + 0.5) / 1000000.0
           END AS sma
    FROM series
    WINDOW w AS (PARTITION BY symbol ORDER BY minute)
    """,
)
def q_sma_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.with_sma(windows.minute_series(_events(spark, sf_dir)))

@register(
    "price_diff",
    f"""
    WITH {_SERIES_CTE}
    SELECT symbol, minute, price,
           floor((price - lag(price) OVER (PARTITION BY symbol ORDER BY minute)) * 1000000.0 + 0.5) / 1000000.0 AS price_diff
    FROM series
    """,
)
def q_price_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.with_diff(windows.minute_series(_events(spark, sf_dir)))

@register(
    "rsi_14",
    f"""
    WITH {_SERIES_CTE},
    d AS (
        SELECT symbol, minute, price,
               price - lag(price) OVER (PARTITION BY symbol ORDER BY minute) AS delta,
               row_number() OVER (PARTITION BY symbol ORDER BY minute) AS rn
        FROM series
    ),
    g AS (
        SELECT symbol, minute, price, rn,
               avg(CASE WHEN delta > 0 THEN delta ELSE 0 END)
                   OVER (PARTITION BY symbol ORDER BY minute
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS avg_gain,
               avg(CASE WHEN delta < 0 THEN -delta ELSE 0 END)
                   OVER (PARTITION BY symbol ORDER BY minute
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS avg_loss
        FROM d
    )
    SELECT symbol, minute, price,
           CASE WHEN rn < 14 THEN NULL
                WHEN avg_loss = 0 THEN 100.0
                ELSE floor((100.0 - 100.0 / (1.0 + avg_gain / avg_loss)) * 1000000.0 + 0.5) / 1000000.0
           END AS rsi
    FROM g
    """,
)
def q_rsi_14(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.with_rsi(windows.minute_series(_events(spark, sf_dir)))

@register(
    "last_prev_delta",
    f"""
    WITH {_SERIES_CTE},
    ranked AS (
        SELECT symbol, minute, price,
               row_number() OVER (PARTITION BY symbol ORDER BY minute DESC) AS rn
        FROM series
    )
    SELECT l.symbol,
           l.price AS last_price,
           p.price AS prev_price,
           floor((l.price - p.price) * 1000000.0 + 0.5) / 1000000.0 AS price_delta
    FROM ranked l
    LEFT JOIN ranked p ON l.symbol = p.symbol AND p.rn = 2
    WHERE l.rn = 1
    """,
)
def q_last_prev_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.last_prev_delta(windows.minute_series(_events(spark, sf_dir)))

# ---------------------------------------------------------------------------
# Joins + TPC-H-style gold queries (section 2.7 engine extensions)
# ---------------------------------------------------------------------------

from .functions.numeric import qround_sql as _q  # noqa: E402
from .operators import joins  # noqa: E402

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)

@register(
    "pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_q('sum(l_quantity)', 2)} AS sum_qty,
           {_q('sum(l_extendedprice)', 2)} AS sum_base_price,
           {_q('sum(l_extendedprice * (1.0 - l_discount))', 4)} AS sum_disc_price,
           {_q('sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax))', 6)} AS sum_charge,
           {_q('avg(l_quantity)', 6)} AS avg_qty,
           {_q('avg(l_extendedprice)', 6)} AS avg_price,
           {_q('avg(l_discount)', 6)} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.pricing_summary(_t(spark, sf_dir, "lineitem"))

@register(
    "shipping_priority",
    f"""
    SELECT l_orderkey,
           {_q('sum(l_extendedprice * (1.0 - l_discount))', 4)} AS revenue,
           o_orderdate, o_orderpriority
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1999-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1999-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.shipping_priority(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )

@register(
    "regional_revenue",
    f"""
    SELECT n_name,
           {_q('sum(l_extendedprice * (1.0 - l_discount))', 4)} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY 1
    ORDER BY revenue DESC, n_name
    """,
)
def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.regional_revenue(
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
    )

@register(
    "returned_item_report",
    f"""
    SELECT c_custkey, c_name, n_name,
           {_q('sum(l_extendedprice * (1.0 - l_discount))', 4)} AS revenue
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.returned_item_report(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )

@register(
    "promo_revenue_share",
    f"""
    SELECT {_q("100.0 * sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END) / sum(l_extendedprice * (1.0 - l_discount))", 6)} AS promo_share,
           count(*) AS n_items
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    """,
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.promo_revenue_share(_t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"))

@register(
    "order_priority_counts",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.order_priority_counts(_t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem"))

@register(
    "brand_margin",
    f"""
    SELECT p_brand,
           {_q('sum(l_extendedprice - p_retailprice * l_quantity)', 2)} AS total_margin,
           {_q('avg(l_quantity)', 6)} AS avg_qty,
           count(*) AS n_items
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_brand_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.brand_margin(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"), _t(spark, sf_dir, "supplier")
    )

@register(
    "customers_with_orders",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.customers_with_orders(_t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"))

@register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.customers_without_orders(_t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"))

@register(
    "latest_order_asof",
    """
    WITH j AS (
        SELECT e.event_id, e.ts, e.user_id,
               o.o_orderkey, o.o_orderdate, o.o_totalprice,
               row_number() OVER (PARTITION BY e.event_id
                                  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e
        LEFT JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    )
    SELECT event_id, ts, user_id, o_orderkey, o_orderdate, o_totalprice
    FROM j
    WHERE rn = 1
    """,
)
def q_latest_order_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.latest_order_asof(_t(spark, sf_dir, "events"), _t(spark, sf_dir, "orders"))

# ---------------------------------------------------------------------------
# Streaming (executed, availableNow) + ML (sections 2.8, 2.9)
# ---------------------------------------------------------------------------

from .ml import regression as ml_regression  # noqa: E402
from .operators.relational import positive_filter  # noqa: E402
from .streaming import silver as streaming_silver  # noqa: E402

# Same oracle as the batch sliding window: the streaming pipeline
# (watermark + update mode + foreachBatch append, availableNow trigger)
# must produce byte-identical aggregates to the batch plan.
@register("streaming_silver_roundtrip", ORACLE_SQL["silver_sliding_window"])
def q_streaming_silver_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming_silver.silver_roundtrip(spark, sf_dir)

@register(
    "sessionize_users",
    """
    WITH s AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    g AS (
        SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM s
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           floor((sum(value)) * 100.0 + 0.5) / 100.0 AS total_value
    FROM g
    GROUP BY user_id, sid
    ORDER BY 1, 2
    """,
)
def q_sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.sessionize(_events(spark, sf_dir))

@register(
    "trailing_range_avg",
    """
    SELECT event_id,
           event_type AS symbol,
           ts,
           value,
           floor((avg(value) OVER w) * 1000000.0 + 0.5) / 1000000.0 AS trailing_avg,
           count(*) OVER w AS n_in_window
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                 RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)
def q_trailing_range_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.trailing_range_avg(_events(spark, sf_dir))

@register(
    "distinct_user_counts",
    """
    SELECT event_type AS symbol,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_distinct_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rollup.distinct_user_counts(_events(spark, sf_dir))

# Streaming session windows, append mode: only sessions FINALIZED by the
# watermark are emitted.  The emission predicate is INCLUSIVE --
# end <= max event time - watermark delay -- determined empirically with
# a boundary fixture (a session ending exactly on the final watermark IS
# emitted, for both session and tumbling windows; see
# tests/test_streaming.py::test_append_mode_emits_at_exact_watermark).
# The oracle encodes exactly that subset of the gaps-and-islands sessions.
@register(
    "streaming_sessionize",
    """
    WITH s AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    g AS (
        SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM s
    ),
    sess AS (
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events,
               floor((sum(value)) * 100.0 + 0.5) / 100.0 AS total_value
        FROM g
        GROUP BY user_id, sid
    )
    SELECT * FROM sess
    WHERE session_end <= (SELECT max(ts) - INTERVAL 1 MINUTE FROM events)
    ORDER BY 1, 2
    """,
)
def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.stateful import streaming_sessionize_roundtrip

    return streaming_sessionize_roundtrip(spark, sf_dir)

# Streaming dedup: the doubled stream must collapse back to the plain
# events table (seen-key state across micro-batches).
@register(
    "streaming_dedup",
    """
    SELECT event_id, ts, user_id, event_type, value FROM events
    """,
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming_silver.streaming_dedup_roundtrip(spark, sf_dir)

# Per-symbol recursive EMA: the one indicator no built-in aggregate
# expresses.  Batch twin (collect -> sorted fold) carries the exact
# DuckDB list_reduce oracle; the streaming applyInPandasWithState
# operator is checked against the SAME oracle -- custom GroupState code
# and declarative fold must agree bit-for-bit.
_EMA_SQL = """
    SELECT event_type AS symbol,
           count(*) AS n_events,
           floor(list_reduce(list(value ORDER BY ts, event_id),
                             (acc, x) -> 0.1 * x + 0.9 * acc)
                 * 1000000.0 + 0.5) / 1000000.0 AS ema
    FROM events
    GROUP BY 1
    ORDER BY 1
    """

@register("ema_per_symbol", _EMA_SQL)
def q_ema_per_symbol(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.windows import ema_per_symbol

    return ema_per_symbol(_events(spark, sf_dir))

@register("streaming_ema_stateful", _EMA_SQL)
def q_streaming_ema_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.stateful import streaming_ema_roundtrip

    return streaming_ema_roundtrip(spark, sf_dir)

@register(
    "ols_volatility_price",
    f"""
    WITH {_SLIDING_CTE},
    agg AS (
        SELECT symbol,
               {_q('stddev_pop(value)', 6)} AS volatility,
               {_q('avg(value)', 6)} AS average_price
        FROM wins
        GROUP BY symbol, window_start
    ),
    filtered AS (
        SELECT * FROM agg WHERE average_price > 0 AND volatility >= 0
    )
    SELECT symbol,
           CASE WHEN var_pop(volatility) != 0
                THEN {_q('covar_pop(volatility, average_price) / var_pop(volatility)', 6)}
           END AS slope,
           CASE WHEN var_pop(volatility) != 0
                THEN {_q('avg(average_price) - (covar_pop(volatility, average_price) / var_pop(volatility)) * avg(volatility)', 6)}
           END AS intercept,
           count(*) AS n_obs
    FROM filtered
    GROUP BY symbol
    """,
)
def q_ols_volatility_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = silver.sliding_window_agg(_events(spark, sf_dir))
    filtered = positive_filter(agg).select("symbol", "volatility", "average_price")
    return ml_regression.ols_closed_form(filtered)

# pyspark.ml inference over a model trained ONCE per (session, dataset)
# and served through the S8 save/load path -- the reference's
# train-offline / load-in-stream split, so repeated invocations (and the
# benchmark) measure inference, not LinearRegression.fit.
#
# Oracle-checkable audit form (round 5 -- the last rows-only query in
# the LLM/analytics families to convert): the emitted predicted_price is
# the CLOSED-FORM least-squares prediction, which the oracle recomputes
# exactly -- including the singular case (zero feature variance -> the
# intercept-only model, mean(y)), which is also precisely what MLlib's
# normal-equation solver returns (measured: coef exactly 0.0, intercept
# exactly mean(y)); in the regular case MLlib matches the closed form to
# ~1e-15.  The REAL MLlib path still runs every invocation: its per-row
# prediction folds into the `mllib_close` certificate
# (|mllib - closed| <= 1e-6, nine orders of magnitude of headroom).
@register(
    "ml_price_prediction",
    f"""
    WITH {_SLIDING_CTE},
    agg AS (
        SELECT symbol, window_start,
               {_q('stddev_pop(value)', 6)} AS volatility,
               {_q('avg(value)', 6)} AS average_price
        FROM wins
        GROUP BY symbol, window_start
    ),
    filtered AS (
        SELECT * FROM agg WHERE average_price > 0 AND volatility >= 0
    ),
    st AS (
        SELECT covar_pop(volatility, average_price) AS c,
               var_pop(volatility) AS v,
               avg(average_price) AS my,
               avg(volatility) AS mx
        FROM filtered
    )
    SELECT f.symbol, f.window_start, f.volatility, f.average_price,
           {_q('CASE WHEN st.v != 0 THEN (st.c / st.v) * f.volatility + (st.my - (st.c / st.v) * st.mx) ELSE st.my END', 6)} AS predicted_price,
           TRUE AS mllib_close
    FROM filtered f, st
    ORDER BY f.symbol, f.window_start
    """,
)
def q_ml_price_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = silver.sliding_window_agg(_events(spark, sf_dir))
    filtered = positive_filter(agg)
    model = ml_regression.fit_once(spark, sf_dir, filtered)
    scored = ml_regression.infer_with_fallback(model, filtered)
    st = filtered.agg(
        F.covar_pop("volatility", "average_price").alias("c"),
        F.var_pop("volatility").alias("v"),
        F.avg("average_price").alias("my"),
        F.avg("volatility").alias("mx"),
    )
    slope = F.col("c") / F.col("v")
    closed = F.when(
        F.col("v") != 0,
        slope * F.col("volatility") + (F.col("my") - slope * F.col("mx")),
    ).otherwise(F.col("my"))
    from .functions.numeric import qround

    return (
        scored.crossJoin(F.broadcast(st))
        .select(
            "symbol",
            "window_start",
            "volatility",
            "average_price",
            qround(closed, 6).alias("predicted_price"),
            (F.abs(F.col("predicted_price") - closed) <= 1e-6).alias(
                "mllib_close"
            ),
        )
        .orderBy("symbol", "window_start")
    )

# ---------------------------------------------------------------------------
# Ranking windows, subquery shapes, OLAP grouping sets, outer joins
# ---------------------------------------------------------------------------

@register(
    "top_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey,
           floor(o_totalprice * 100.0 + 0.5) / 100.0 AS total_price,
           rn, quartile, day_rank, day_dense_rank
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER wf AS rn,
               ntile(4) OVER wf AS quartile,
               rank() OVER wd AS day_rank,
               dense_rank() OVER wd AS day_dense_rank
        FROM orders
        WINDOW wf AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
               wd AS (PARTITION BY o_custkey ORDER BY date_trunc('day', o_orderdate))
    )
    WHERE rn <= 3
    ORDER BY 1, 4
    """,
)
def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.top_orders_per_customer(_t(spark, sf_dir, "orders"))

@register(
    "customer_order_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY 1
    )
    GROUP BY 1
    ORDER BY 2 DESC, 1 DESC
    """,
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.customer_order_distribution(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )

@register(
    "small_order_revenue",
    """
    SELECT floor((sum(l.l_extendedprice) / 7.0) * 10000.0 + 0.5) / 10000.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND l.l_quantity < (
          SELECT 0.5 * avg(l2.l_quantity)
          FROM lineitem l2
          WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def q_small_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.small_order_revenue(_t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"))

@register(
    "large_volume_customers",
    """
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           floor(o_totalprice * 100.0 + 0.5) / 100.0 AS total_price,
           floor(big.qty * 100.0 + 0.5) / 100.0 AS sum_qty
    FROM (
        SELECT l_orderkey, sum(l_quantity) AS qty
        FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 200.0
    ) big
    JOIN orders ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY total_price DESC, o_orderkey
    LIMIT 100
    """,
)
def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.large_volume_customers(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )

@register(
    "priority_line_counts",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_priority_line_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.priority_line_counts(_t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem"))

@register(
    "nation_activity",
    """
    SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nationkey,
           n.n_name,
           coalesce(c.n_customers, 0) AS n_customers,
           coalesce(c.customer_balance, 0.0) AS customer_balance,
           coalesce(s.n_suppliers, 0) AS n_suppliers
    FROM (
        SELECT c_nationkey, count(*) AS n_customers,
               floor(sum(c_acctbal) * 100.0 + 0.5) / 100.0 AS customer_balance
        FROM customer GROUP BY 1
    ) c
    FULL OUTER JOIN (
        SELECT s_nationkey, count(*) AS n_suppliers FROM supplier GROUP BY 1
    ) s ON c.c_nationkey = s.s_nationkey
    LEFT JOIN nation n ON coalesce(c.c_nationkey, s.s_nationkey) = n.n_nationkey
    ORDER BY 1
    """,
)
def q_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.nation_activity(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "nation")
    )

@register(
    "cube_totals",
    """
    SELECT event_type AS symbol,
           date_trunc('day', ts) AS day,
           count(*) AS n_events,
           floor(sum(value) * 100.0 + 0.5) / 100.0 AS total_value,
           CAST(GROUPING(event_type, date_trunc('day', ts)) AS BIGINT) AS gid
    FROM events
    GROUP BY CUBE (event_type, date_trunc('day', ts))
    ORDER BY gid, symbol, day
    """,
)
def q_cube_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rollup.cube_totals(_events(spark, sf_dir))

@register(
    "grouping_sets_activity",
    """
    SELECT event_type AS symbol, user_id,
           count(*) AS n_events,
           floor(sum(value) * 100.0 + 0.5) / 100.0 AS total_value,
           CAST(GROUPING(event_type, user_id) AS BIGINT) AS gid
    FROM events
    GROUP BY GROUPING SETS ((event_type), (user_id))
    ORDER BY gid, symbol, user_id
    """,
)
def q_grouping_sets_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rollup.grouping_sets_activity(_events(spark, sf_dir))

@register(
    "streaming_enriched_segments",
    """
    SELECT c_mktsegment,
           count(*) AS n_events,
           floor(sum(value) * 100.0 + 0.5) / 100.0 AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_streaming_enriched_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.stateful import streaming_enrich_roundtrip

    return streaming_enrich_roundtrip(spark, sf_dir)

@register(
    "user_zscores",
    """
    SELECT event_id, user_id, value,
           CASE WHEN stddev_pop(value) OVER w = 0 THEN NULL
                ELSE floor((value - avg(value) OVER w) / (stddev_pop(value) OVER w)
                           * 1000000.0 + 0.5) / 1000000.0
           END AS z
    FROM events
    WINDOW w AS (PARTITION BY user_id)
    ORDER BY event_id
    """,
)
def q_user_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.grouped import user_zscores

    return user_zscores(_events(spark, sf_dir))

@register(
    "value_band_summary",
    """
    WITH bands(band, lo, hi) AS (
        VALUES ('micro', 0.0, 10.0), ('small', 10.0, 50.0), ('medium', 50.0, 150.0),
               ('large', 150.0, 300.0), ('jumbo', 300.0, 1000000000.0)
    )
    SELECT band, count(*) AS n_events,
           floor(sum(value) * 100.0 + 0.5) / 100.0 AS total_value
    FROM events JOIN bands ON value >= lo AND value < hi
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_value_band_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.value_band_summary(_events(spark, sf_dir))

# Salting is an execution strategy, not a semantics change: the oracle is
# the PLAIN join -- the salted plan must produce identical results.
@register(
    "segment_activity_salted",
    """
    SELECT c_mktsegment, event_type, count(*) AS n_events,
           floor(avg(value) * 1000000.0 + 0.5) / 1000000.0 AS avg_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_segment_activity_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.segment_activity_salted(_t(spark, sf_dir, "events"), _t(spark, sf_dir, "customer"))

@register(
    "streaming_click_purchase",
    """
    SELECT c.user_id, count(*) AS n_attributed,
           floor(sum(p.value) * 100.0 + 0.5) / 100.0 AS attributed_value
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_streaming_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.stateful import streaming_click_purchase_join

    return streaming_click_purchase_join(spark, sf_dir)

# LEFT OUTER stream-stream join: matched rows emit as they join;
# unmatched clicks emit null-completed only once the GLOBAL watermark
# (min over both inputs of max-event-time - 1 min) seals their 2-hour
# window; clicks whose window is still open at end-of-drain stay in
# state and never emit.  The oracle encodes exactly that cutoff.
@register(
    "streaming_click_purchase_outer",
    """
    WITH clicks AS (
        SELECT user_id, event_id AS click_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ),
    purch AS (
        SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
        SELECT least((SELECT max(click_ts) FROM clicks),
                     (SELECT max(purchase_ts) FROM purch))
               - INTERVAL 1 MINUTE AS w
    ),
    matched AS (
        SELECT c.user_id, c.click_id, p.purchase_id, p.value
        FROM clicks c
        JOIN purch p
          ON c.user_id = p.user_id
         AND p.purchase_ts > c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 2 HOUR
    ),
    expired_unmatched AS (
        SELECT c.user_id, c.click_id
        FROM clicks c
        WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.click_id = c.click_id)
          AND c.click_ts + INTERVAL 2 HOUR < (SELECT w FROM wm)
    ),
    unioned AS (
        SELECT user_id, purchase_id, value FROM matched
        UNION ALL
        SELECT user_id, NULL, NULL FROM expired_unmatched
    )
    SELECT user_id,
           count(purchase_id) AS n_attributed,
           floor(coalesce(sum(value), 0.0) * 100.0 + 0.5) / 100.0 AS attributed_value,
           sum(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_expired_unmatched
    FROM unioned
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_streaming_click_purchase_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.stateful import streaming_click_purchase_outer

    return streaming_click_purchase_outer(spark, sf_dir)

# Watermark-bounded dedup: same oracle as streaming_dedup (all dups
# arrive within the watermark in the availableNow drain).
@register(
    "streaming_dedup_watermarked",
    """
    SELECT event_id, ts, user_id, event_type, value FROM events
    """,
)
def q_streaming_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming_silver.streaming_dedup_watermarked_roundtrip(spark, sf_dir)

@register(
    "merge_upsert",
    """
    WITH snapshot AS (
        SELECT event_id, user_id, event_type, value FROM events
    ),
    updates AS (
        SELECT event_id, user_id, event_type, value * 2.0 AS value
        FROM snapshot WHERE event_id % 10 = 0
        UNION ALL
        SELECT event_id + 10000000, user_id, 'backfill', value
        FROM snapshot WHERE event_id % 97 = 0
    )
    SELECT coalesce(u.event_id, s.event_id) AS event_id,
           coalesce(u.user_id, s.user_id) AS user_id,
           coalesce(u.event_type, s.event_type) AS event_type,
           coalesce(u.value, s.value) AS value,
           CASE WHEN s.event_id IS NULL THEN 'inserted'
                WHEN u.event_id IS NULL THEN 'kept'
                ELSE 'updated' END AS action
    FROM snapshot s
    FULL OUTER JOIN updates u ON s.event_id = u.event_id
    ORDER BY 1
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.merge_upsert(_events(spark, sf_dir))

@register(
    "streaming_tumbling_counts",
    """
    WITH agg AS (
        SELECT date_trunc('hour', ts) AS window_start,
               event_type AS symbol,
               count(*) AS n_events,
               floor(sum(value) * 100.0 + 0.5) / 100.0 AS total_value
        FROM events
        GROUP BY 1, 2
    )
    SELECT * FROM agg
    WHERE window_start + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 1 MINUTE FROM events)
    ORDER BY 1, 2
    """,
)
def q_streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming_silver.streaming_tumbling_counts(spark, sf_dir)

@register(
    "disjunctive_predicate_revenue",
    """
    SELECT floor(sum(l_extendedprice * (1.0 - l_discount)) * 10000.0 + 0.5) / 10000.0
               AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_type = 'PROMO'   AND p_size BETWEEN 1  AND 10 AND l_quantity BETWEEN 1  AND 20)
       OR (p_type = 'ECONOMY' AND p_size BETWEEN 11 AND 20 AND l_quantity BETWEEN 10 AND 40)
       OR (p_type = 'LARGE'   AND p_size BETWEEN 21 AND 35 AND l_quantity BETWEEN 20 AND 50)
    """,
)
def q_disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.disjunctive_predicate_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )

@register(
    "supplier_part_counts",
    """
    SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_name LIKE '%00000000%'
    )
    GROUP BY 1, 2
    ORDER BY 3 DESC, 1, 2
    """,
)
def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.supplier_part_counts(
        _t(spark, sf_dir, "part"), _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier")
    )

@register(
    "idle_rich_customers",
    """
    SELECT right(c_name, 2) AS code,
           count(*) AS n_customers,
           floor(sum(c_acctbal) * 100.0 + 0.5) / 100.0 AS total_balance
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-06-01')
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.idle_rich_customers(_t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"))

@register(
    "symbol_bounds",
    """
    SELECT symbol, open_value, close_value, third_value
    FROM (
        SELECT event_type AS symbol,
               row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
               floor(first_value(value) OVER w * 1000000.0 + 0.5) / 1000000.0 AS open_value,
               floor(last_value(value) OVER w * 1000000.0 + 0.5) / 1000000.0 AS close_value,
               floor(nth_value(value, 3) OVER w * 1000000.0 + 0.5) / 1000000.0 AS third_value
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    )
    WHERE rn = 1
    ORDER BY 1
    """,
)
def q_symbol_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.symbol_bounds(_events(spark, sf_dir))

@register(
    "user_histories",
    """
    SELECT user_id,
           array_to_string(list_slice(list(event_id ORDER BY ts, event_id), 1, 5), ',') AS first_events,
           count(*) AS n_events
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_user_histories(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.user_histories(_events(spark, sf_dir))

@register(
    "event_type_unpivot",
    """
    SELECT u.user_id, t.event_type, coalesce(c.cnt, 0) AS n_events
    FROM (SELECT DISTINCT user_id FROM events) u
    CROSS JOIN (SELECT unnest(['click', 'error', 'purchase', 'signup', 'view']) AS event_type) t
    LEFT JOIN (
        SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2
    ) c ON c.user_id = u.user_id AND c.event_type = t.event_type
    ORDER BY 1, 2
    """,
)
def q_event_type_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rollup.event_type_unpivot(_events(spark, sf_dir))

# Sketch-path twins of distinct_user_counts / value_percentiles in the
# oracle-checkable audit form (the KMV template): the engine-internal
# sketch estimate is folded into a within-bound certificate column, and
# every emitted column (exact count / exact interpolated percentiles /
# the boolean) is deterministically recomputable by the oracle.
# tests/test_llmdata.py still asserts the raw estimates directly.
@register(
    "distinct_user_counts_approx",
    """
    SELECT event_type AS symbol,
           count(DISTINCT user_id) AS n_users_exact,
           count(*) AS n_events,
           TRUE AS approx_within_bound
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_distinct_user_counts_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rollup.distinct_user_counts_approx(_events(spark, sf_dir))

@register(
    "value_percentiles_approx",
    f"""
    SELECT event_type AS symbol,
           {_q('quantile_cont(value, 0.5)', 6)} AS p50,
           {_q('quantile_cont(value, 0.9)', 6)} AS p90,
           {_q('quantile_cont(value, 0.99)', 6)} AS p99,
           TRUE AS approx_within_bound
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rollup.value_percentiles_approx(_events(spark, sf_dir))

# ---------------------------------------------------------------------------
# Remaining TPC-H shapes (round 2 widening): Q2, Q6, Q7, Q8, Q9, Q11,
# Q15, Q20, Q21.  The fixture has no partsupp / l_commitdate, so
# Q2/Q9/Q11/Q20 substitute lineitem-derived facts and Q21 uses
# last-shipper-in-multi-supplier-order; the join/subquery shapes are
# preserved (see operators/joins.py docstrings).
# ---------------------------------------------------------------------------

@register(
    "forecast_revenue",
    f"""
    SELECT {_q('sum(l_extendedprice * l_discount)', 4)} AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.forecast_revenue(_t(spark, sf_dir, "lineitem"))

@register(
    "min_cost_part_supplier",
    """
    WITH sup AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ),
    jp AS (
        SELECT p.p_partkey, p.p_brand, s.s_suppkey, s.s_name, s.s_acctbal, s.n_name
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pr
        JOIN sup s ON pr.l_suppkey = s.s_suppkey
        JOIN part p ON pr.l_partkey = p.p_partkey
        WHERE p.p_type = 'PROMO'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand
    FROM jp
    WHERE s_acctbal = (SELECT min(j2.s_acctbal) FROM jp j2
                       WHERE j2.p_partkey = jp.p_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q_min_cost_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.min_cost_part_supplier(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )

@register(
    "volume_shipping",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           {_q("sum(l_extendedprice * (1.0 - l_discount))", 4)} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.volume_shipping(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )

@register(
    "market_share",
    f"""
    SELECT year(o_orderdate) AS o_year,
           {_q("sum(CASE WHEN sn.n_name = 'NATION_3' "
                "THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END) "
                "/ sum(l_extendedprice * (1.0 - l_discount))", 6)} AS mkt_share,
           {_q("sum(l_extendedprice * (1.0 - l_discount))", 4)} AS total_volume
    FROM lineitem
    JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.market_share(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "part"),
    )

@register(
    "product_profit",
    f"""
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           {_q("sum(l_extendedprice * (1.0 - l_discount))", 4)} AS sum_profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY 1, 2
    ORDER BY nation, o_year DESC
    """,
)
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.product_profit(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "part"),
    )

@register(
    "important_parts",
    f"""
    WITH per_part AS (
        SELECT l_partkey,
               sum(l_extendedprice * (1.0 - l_discount)) AS value_raw
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_0'
        GROUP BY 1
    )
    SELECT l_partkey, {_q('value_raw', 4)} AS part_value
    FROM per_part
    WHERE value_raw > (SELECT sum(value_raw) FROM per_part) * 0.01
    ORDER BY part_value DESC, l_partkey
    """,
)
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.important_parts(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )

@register(
    "top_supplier_revenue",
    f"""
    WITH rev AS (
        SELECT l_suppkey,
               {_q("sum(l_extendedprice * (1.0 - l_discount))", 4)} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY 1
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM rev
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.top_supplier_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier")
    )

@register(
    "dominant_part_suppliers",
    """
    WITH per_ps AS (
        SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE '%widget%'
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1, 2
    ),
    qual AS (
        SELECT DISTINCT l_suppkey FROM (
            SELECT l_suppkey, supp_qty,
                   sum(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty
            FROM per_ps
        )
        WHERE supp_qty > part_qty * 0.5
    )
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_0'
      AND s_suppkey IN (SELECT l_suppkey FROM qual)
    ORDER BY s_name
    """,
)
def q_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.dominant_part_suppliers(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        part=_t(spark, sf_dir, "part"),
    )

@register(
    "waiting_order_suppliers",
    """
    WITH l1 AS (
        SELECT l_orderkey, l_suppkey, l_shipdate
        FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                             WHERE o_orderstatus = 'F')
    ),
    last_ship AS (
        SELECT DISTINCT a.l_orderkey, a.l_suppkey
        FROM l1 a
        WHERE EXISTS (SELECT 1 FROM l1 b
                      WHERE b.l_orderkey = a.l_orderkey
                        AND b.l_suppkey != a.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM l1 c
                          WHERE c.l_orderkey = a.l_orderkey
                            AND c.l_suppkey != a.l_suppkey
                            AND c.l_shipdate > a.l_shipdate)
    )
    SELECT s_name, count(*) AS numwait
    FROM last_ship
    JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY 1
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q_waiting_order_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.waiting_order_suppliers(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "supplier"),
    )

# ---------------------------------------------------------------------------
# Financial indicators (operators/finance.py): VWAP, Bollinger bands,
# max drawdown, inter-bar gaps -- the dashboard-family completion beyond
# the reference's SMA/RSI/delta (dashboard.py:60-104).
# ---------------------------------------------------------------------------
from .operators import finance  # noqa: E402

@register(
    "vwap_daily",
    f"""
    SELECT event_type AS symbol,
           date_trunc('day', ts) AS day,
           CASE WHEN sum(qty) != 0
                THEN {_q('sum(value * qty) / sum(qty)', 6)} END AS vwap,
           {_q('sum(qty)', 6)} AS total_volume,
           count(*) AS n_trades
    FROM (SELECT *, (json_extract_string(props, '$.k'))::DOUBLE AS qty
          FROM events)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_vwap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.vwap_daily(_events(spark, sf_dir))

@register(
    "bollinger_bands",
    f"""
    SELECT event_id, symbol, ts, price,
           CASE WHEN cnt = 20 THEN {_q('mid', 6)} END AS bb_mid,
           CASE WHEN cnt = 20 THEN {_q('mid + 2.0 * sd', 6)} END AS bb_upper,
           CASE WHEN cnt = 20 THEN {_q('mid - 2.0 * sd', 6)} END AS bb_lower
    FROM (
        SELECT event_id, event_type AS symbol, ts, value AS price,
               avg(value) OVER w AS mid,
               stddev_samp(value) OVER w AS sd,
               count(*) OVER w AS cnt
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    ORDER BY symbol, ts, event_id
    """,
)
def q_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.bollinger_bands(_events(spark, sf_dir))

@register(
    "max_drawdown",
    f"""
    SELECT symbol, {_q('max(dd)', 6)} AS max_drawdown
    FROM (
        SELECT event_type AS symbol,
               CASE WHEN max(value) OVER w > 0
                    THEN (max(value) OVER w - value) / max(value) OVER w
                    ELSE 0.0 END AS dd
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.max_drawdown(_events(spark, sf_dir))

@register(
    "bar_gaps",
    f"""
    WITH e AS (
        SELECT event_type AS symbol,
               date_trunc('minute', ts) AS minute_window,
               value, ts, event_id,
               row_number() OVER (PARTITION BY event_type, date_trunc('minute', ts)
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY event_type, date_trunc('minute', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    ),
    bars AS (
        SELECT symbol, minute_window,
               max(CASE WHEN rn_a = 1 THEN value END) AS open_price,
               max(CASE WHEN rn_d = 1 THEN value END) AS close_price
        FROM e
        GROUP BY 1, 2
    ),
    gaps AS (
        SELECT symbol, minute_window,
               open_price,
               lag(close_price) OVER (PARTITION BY symbol
                                      ORDER BY minute_window) AS prev_close
        FROM bars
    )
    SELECT symbol, minute_window,
           {_q('open_price - prev_close', 6)} AS gap,
           CASE WHEN prev_close > 0
                THEN {_q('(open_price - prev_close) / prev_close', 6)} END AS gap_pct
    FROM gaps
    WHERE prev_close IS NOT NULL
    ORDER BY symbol, minute_window
    """,
)
def q_bar_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.bar_gaps(_events(spark, sf_dir))

_OHLC_CLOSE_SQL = """
        SELECT event_type AS symbol,
               date_trunc('minute', ts) AS minute_window,
               max(CASE WHEN rn_d = 1 THEN value END) AS close_price
        FROM (
            SELECT event_type, ts, value,
                   row_number() OVER (PARTITION BY event_type, date_trunc('minute', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM events
        )
        GROUP BY 1, 2
"""

@register(
    "symbol_correlations",
    f"""
    WITH bars AS ({_OHLC_CLOSE_SQL})
    SELECT a.symbol AS sym_a, b.symbol AS sym_b,
           CASE WHEN var_pop(a.close_price) != 0 AND var_pop(b.close_price) != 0
                THEN {_q('corr(a.close_price, b.close_price)', 6)} END AS corr,
           count(*) AS n_minutes
    FROM bars a
    JOIN bars b ON a.minute_window = b.minute_window AND a.symbol < b.symbol
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_symbol_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.symbol_correlations(_events(spark, sf_dir))

@register(
    "daily_return_volatility",
    f"""
    WITH rets AS (
        SELECT event_type AS symbol,
               date_trunc('day', ts) AS day,
               CASE WHEN value > 0 AND prev > 0 THEN ln(value / prev) END AS r
        FROM (
            SELECT event_type, ts, value,
                   lag(value) OVER (PARTITION BY event_type
                                    ORDER BY ts, event_id) AS prev
            FROM events
        )
    )
    SELECT symbol, day,
           {_q('stddev_pop(r)', 6)} AS realized_vol,
           count(*) AS n_returns
    FROM rets
    WHERE r IS NOT NULL
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_daily_return_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.daily_return_volatility(_events(spark, sf_dir))

# Shared oracle CTE for the bar-based indicators: high/low/close/volume
# per (symbol, minute), unrounded (indicators quantize at the output
# boundary only, mirroring operators/finance.py::_minute_bars).
_BARS_SQL = """
bars AS (
    SELECT event_type AS symbol,
           date_trunc('minute', ts) AS minute_window,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           sum(qty) AS vol
    FROM (
        SELECT event_type, ts, value, event_id,
               (json_extract_string(props, '$.k'))::DOUBLE AS qty,
               row_number() OVER (PARTITION BY event_type, date_trunc('minute', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    GROUP BY 1, 2
)
"""

@register(
    "atr_14",
    f"""
    WITH {_BARS_SQL.strip()},
    tr AS (
        SELECT symbol, minute_window,
               CASE WHEN prev_close IS NULL THEN high - low
                    ELSE greatest(high - low, abs(high - prev_close),
                                  abs(low - prev_close)) END AS tr
        FROM (SELECT *, lag(close) OVER (PARTITION BY symbol
                                         ORDER BY minute_window) AS prev_close
              FROM bars)
    )
    SELECT symbol, minute_window,
           {_q('tr', 6)} AS true_range,
           CASE WHEN count(*) OVER w = 14
                THEN {_q('avg(tr) OVER w', 6)} END AS atr
    FROM tr
    WINDOW w AS (PARTITION BY symbol ORDER BY minute_window
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ORDER BY symbol, minute_window
    """,
)
def q_atr_14(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.atr(_events(spark, sf_dir), n=14)

@register(
    "stochastic_oscillator",
    f"""
    WITH {_BARS_SQL.strip()},
    k AS (
        SELECT symbol, minute_window,
               CASE WHEN cnt = 14 AND high_n != low_n
                    THEN 100.0 * (close - low_n) / (high_n - low_n) END AS k_raw
        FROM (
            SELECT symbol, minute_window, close,
                   min(low) OVER w AS low_n,
                   max(high) OVER w AS high_n,
                   count(*) OVER w AS cnt
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY minute_window
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        )
    )
    SELECT symbol, minute_window,
           {_q('k_raw', 6)} AS pct_k,
           CASE WHEN count(k_raw) OVER d = 3
                THEN {_q('avg(k_raw) OVER d', 6)} END AS pct_d
    FROM k
    WINDOW d AS (PARTITION BY symbol ORDER BY minute_window
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    ORDER BY symbol, minute_window
    """,
)
def q_stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.stochastic_oscillator(_events(spark, sf_dir), n=14, d=3)

@register(
    "obv",
    f"""
    WITH {_BARS_SQL.strip()},
    s AS (
        SELECT symbol, minute_window,
               CASE WHEN delta > 0 THEN vol
                    WHEN delta < 0 THEN -vol
                    ELSE 0.0 END AS signed_vol
        FROM (SELECT *, close - lag(close) OVER (PARTITION BY symbol
                                                 ORDER BY minute_window) AS delta
              FROM bars)
    )
    SELECT symbol, minute_window,
           {_q('sum(signed_vol) OVER (PARTITION BY symbol ORDER BY minute_window ROWS UNBOUNDED PRECEDING)', 6)} AS obv
    FROM s
    ORDER BY symbol, minute_window
    """,
)
def q_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.on_balance_volume(_events(spark, sf_dir))

@register(
    "beta_vs_market",
    f"""
    WITH {_BARS_SQL.strip()},
    rets AS (
        SELECT symbol, minute_window, close / prev - 1.0 AS r
        FROM (SELECT *, lag(close) OVER (PARTITION BY symbol
                                         ORDER BY minute_window) AS prev
              FROM bars)
        WHERE prev IS NOT NULL AND prev != 0
    ),
    mkt AS (SELECT minute_window, avg(r) AS m FROM rets GROUP BY 1),
    j AS (SELECT rets.symbol, rets.r, mkt.m
          FROM rets JOIN mkt USING (minute_window))
    SELECT symbol,
           CASE WHEN var_pop(m) != 0
                THEN {_q('covar_pop(r, m) / var_pop(m)', 6)} END AS beta,
           CASE WHEN var_pop(m) != 0 AND var_pop(r) != 0
                THEN {_q('corr(r, m)', 6)} END AS corr_mkt,
           count(*) AS n_minutes
    FROM j
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_beta_vs_market(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.beta_vs_market(_events(spark, sf_dir))

_MACD_F = "(2.0 / 13.0)"
_MACD_S = "(2.0 / 27.0)"
_MACD_SIG = "(2.0 / 10.0)"
# same single linear fold as the Spark side: accumulator (e12, e26, sig),
# identical expression text so the IEEE sequences agree.  A DOUBLE[3]
# accumulator, NOT a struct: DuckDB 1.0's list_reduce mis-evaluates
# repeated subexpressions against struct accumulators (the 'sig' field's
# copy of the e12 recurrence reads an already-overwritten slot from the
# third element on); the list accumulator folds correctly.
_MACD_E12 = f"{_MACD_F} * x[1] + (1.0 - {_MACD_F}) * acc[1]"
_MACD_E26 = f"{_MACD_S} * x[1] + (1.0 - {_MACD_S}) * acc[2]"
_MACD_FOLD = f"""
    list_reduce(
        list_transform(vals, v -> [v, v, 0.0::DOUBLE]),
        (acc, x) -> [{_MACD_E12},
                     {_MACD_E26},
                     {_MACD_SIG} * (({_MACD_E12}) - ({_MACD_E26}))
                     + (1.0 - {_MACD_SIG}) * acc[3]])
"""

@register(
    "macd_summary",
    f"""
    WITH bars AS ({_OHLC_CLOSE_SQL}),
    g AS (
        SELECT symbol, list(close_price ORDER BY minute_window) AS vals
        FROM bars GROUP BY 1
    ),
    m AS (
        SELECT symbol, len(vals) AS n_bars, {_MACD_FOLD} AS st
        FROM g
    )
    SELECT symbol, n_bars,
           {_q('st[1]', 6)} AS ema_fast,
           {_q('st[2]', 6)} AS ema_slow,
           {_q('st[1] - st[2]', 6)} AS macd,
           {_q('st[3]', 6)} AS signal,
           {_q('(st[1] - st[2]) - st[3]', 6)} AS histogram
    FROM m
    ORDER BY symbol
    """,
)
def q_macd_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.macd_summary(_events(spark, sf_dir))

@register(
    "donchian_channels",
    f"""
    WITH {_BARS_SQL.strip()},
    ch AS (
        SELECT symbol, minute_window, close,
               max(high) OVER w AS upper_raw,
               min(low) OVER w AS lower_raw,
               count(*) OVER w AS cnt
        FROM bars
        WINDOW w AS (PARTITION BY symbol ORDER BY minute_window
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, minute_window,
           CASE WHEN cnt = 20 THEN {_q('upper_raw', 6)} END AS upper_band,
           CASE WHEN cnt = 20 THEN {_q('lower_raw', 6)} END AS lower_band,
           CASE WHEN cnt = 20 THEN {_q('(upper_raw + lower_raw) / 2.0', 6)} END AS mid_band,
           CASE WHEN cnt = 20 AND upper_raw != lower_raw
                THEN {_q('(close - lower_raw) / (upper_raw - lower_raw)', 6)} END AS channel_pos
    FROM ch
    ORDER BY symbol, minute_window
    """,
)
def q_donchian_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.donchian_channels(_events(spark, sf_dir), n=20)

@register(
    "user_state_history",
    """
    WITH s AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w != event_type
                    THEN 1 ELSE 0 END AS new_run
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    g AS (
        SELECT *, (sum(new_run) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING))::BIGINT AS run_id
        FROM s
    ),
    r AS (
        SELECT user_id, run_id, event_type,
               min(ts) AS valid_from, max(ts) AS last_seen, count(*) AS n_events
        FROM g GROUP BY 1, 2, 3
    )
    SELECT user_id, run_id, event_type, valid_from,
           lead(valid_from) OVER w2 AS valid_to, last_seen, n_events,
           lead(valid_from) OVER w2 IS NULL AS is_current
    FROM r
    WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, run_id)
    ORDER BY user_id, run_id
    """,
)
def q_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.user_state_history(_events(spark, sf_dir))

@register(
    "order_rank_percentiles",
    f"""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           {{pr}} AS price_percent_rank,
           {{cd}} AS price_cume_dist,
           ntile(10) OVER w AS price_decile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderpriority, o_totalprice, o_orderkey
    """.format(
        pr="floor((percent_rank() OVER w) * 1000000.0 + 0.5) / 1000000.0",
        cd="floor((cume_dist() OVER w) * 1000000.0 + 0.5) / 1000000.0",
    ),
)
def q_order_rank_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.order_rank_percentiles(_t(spark, sf_dir, "orders"))

# Chained streaming windows: same watermark-finalization filter idiom as
# streaming_tumbling_counts -- only 5-minute bars sealed by the final
# watermark (max event time - 1 minute) are emitted in append mode.
@register(
    "streaming_windowed_rollup",
    """
    WITH minute AS (
        SELECT make_timestamp((epoch_us(ts) // 60000000) * 60000000) AS m_start,
               event_type AS symbol,
               count(*) AS n_events,
               sum(value) AS sum_value
        FROM events
        GROUP BY 1, 2
    ),
    five AS (
        SELECT make_timestamp((epoch_us(m_start) // 300000000) * 300000000) AS window_start,
               symbol,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               count(*) AS n_minutes,
               floor(sum(sum_value) * 100.0 + 0.5) / 100.0 AS total_value
        FROM minute
        GROUP BY 1, 2
    )
    SELECT * FROM five
    WHERE window_start + INTERVAL 5 MINUTE <= (SELECT max(ts) - INTERVAL 1 MINUTE FROM events)
    ORDER BY 1, 2
    """,
)
def q_streaming_windowed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming_silver.streaming_windowed_rollup(spark, sf_dir)

@register(
    "versioned_gold_changes",
    """
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               event_type AS symbol,
               count(*) AS n_events,
               floor(sum(value) * 100.0 + 0.5) / 100.0 AS total_value
        FROM events
        GROUP BY 1, 2
    )
    SELECT day, symbol, n_events, total_value, 'insert' AS change_type
    FROM daily WHERE day >= TIMESTAMP '2024-01-15'
    ORDER BY day, symbol
    """,
)
def q_versioned_gold_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two snapshots of the gold daily table: v0 holds the
    first half of the month, v1 the full month, so the change feed is
    exactly the second half's rows as inserts (first-half aggregates are
    bit-identical across versions and classify as unchanged)."""
    import os

    from .operators import versioned
    from .scratch import scratch_dir

    daily = (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("event_type").alias("symbol"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.floor(F.sum("value") * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0)).alias(
                "total_value"
            ),
        )
    )
    table_dir = os.path.join(scratch_dir("rtfl_cdc_"), "gold_daily")
    versioned.commit_version(daily.filter(F.col("day") < "2024-01-15"), table_dir)
    versioned.commit_version(daily, table_dir)
    return versioned.table_changes(
        spark, table_dir, 0, 1, key_cols=["day", "symbol"]
    )

@register(
    "streaming_table_changes",
    """
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               event_type AS symbol,
               count(*) AS n_events,
               floor(sum(value) * 100.0 + 0.5) / 100.0 AS total_value
        FROM events
        GROUP BY 1, 2
    )
    SELECT day, symbol, n_events, total_value,
           'insert' AS change_type,
           CAST(CASE WHEN day < TIMESTAMP '2024-01-15' THEN 0 ELSE 1 END AS BIGINT) AS version
    FROM daily
    ORDER BY version, day, symbol
    """,
)
def q_streaming_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING consumption of the change feed (Delta
    ``readChangeFeed`` with ``startingVersion=0``): same two-version
    gold table as ``versioned_gold_changes``, but the changes arrive by
    streaming the manifest log -- v0's snapshot lands as baseline
    inserts (version 0), v1's diff as the second half's inserts
    (version 1; first-half aggregates are identical across versions and
    never surface)."""
    import os

    from .operators import versioned
    from .scratch import scratch_dir

    daily = (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("event_type").alias("symbol"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.floor(F.sum("value") * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0)).alias(
                "total_value"
            ),
        )
    )
    base = scratch_dir("rtfl_cdf_stream_")
    table_dir = os.path.join(base, "gold_daily")
    versioned.commit_version(daily.filter(F.col("day") < "2024-01-15"), table_dir)
    versioned.commit_version(daily, table_dir)
    versioned.changes_stream(
        spark,
        table_dir,
        key_cols=["day", "symbol"],
        out_dir=os.path.join(base, "feed"),
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    return (
        versioned.read_changes_feed(spark, os.path.join(base, "feed"))
        .orderBy("version", "day", "symbol")
    )


def _zorder_oracle_sql() -> str:
    from .operators.layout import ZORDER_BITS, _interleave_sql

    n = 1 << ZORDER_BITS
    return f"""
    WITH b AS (
        SELECT min(user_id) AS min_u, max(user_id) AS max_u,
               min(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS min_c,
               max(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS max_c
        FROM events
    ),
    e AS (
        SELECT event_id, user_id,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v_cents
        FROM events
    ),
    buck AS (
        SELECT event_id,
               ((user_id - min_u) * {n}) // (max_u - min_u + 1) AS user_bucket,
               ((v_cents - min_c) * {n}) // (max_c - min_c + 1) AS value_bucket
        FROM e CROSS JOIN b
    )
    SELECT event_id, user_bucket, value_bucket,
           CAST({_interleave_sql("user_bucket", "value_bucket")} AS BIGINT) AS zvalue
    FROM buck
    ORDER BY event_id
    """

@register("zorder_events_layout", _zorder_oracle_sql())
def q_zorder_events_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.layout import zorder_events

    return zorder_events(_events(spark, sf_dir))

@register(
    "streaming_incremental_gold",
    """
    SELECT event_type AS symbol,
           count(*) AS n_events,
           floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS total_value
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_streaming_incremental_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming_silver.streaming_incremental_gold(spark, sf_dir)

@register(
    "versioned_gold_time_travel",
    """
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               event_type AS symbol,
               count(*) AS n_events,
               floor(sum(value) * 100.0 + 0.5) / 100.0 AS total_value
        FROM events
        GROUP BY 1, 2
    )
    SELECT 0 AS version, day, symbol, n_events, total_value
    FROM daily WHERE day < TIMESTAMP '2024-01-15'
    UNION ALL
    SELECT 1 AS version, day, symbol, n_events, total_value
    FROM daily
    ORDER BY version, day, symbol
    """,
)
def q_versioned_gold_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style snapshot semantics on plain parquet: commit the gold
    daily rollup twice (v0 = first half of the month, v1 = full month)
    into a manifest-logged table, then read v0 back via time travel and
    v1 as the latest snapshot.  Mirrors the reference's Delta versioning
    (consumer_lake.py:48-54) without delta-spark (SCALE.md probe)."""
    import os

    from .operators import versioned
    from .scratch import scratch_dir

    daily = (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("event_type").alias("symbol"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.floor(F.sum("value") * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0)).alias(
                "total_value"
            ),
        )
    )
    table_dir = os.path.join(scratch_dir("rtfl_versioned_"), "gold_daily")
    versioned.commit_version(daily.filter(F.col("day") < "2024-01-15"), table_dir)
    versioned.commit_version(daily, table_dir)
    v0 = versioned.read_version(spark, table_dir, 0).withColumn("version", F.lit(0))
    latest = versioned.read_version(spark, table_dir).withColumn("version", F.lit(1))
    return v0.unionByName(latest).select(
        "version", "day", "symbol", "n_events", "total_value"
    ).orderBy("version", "day", "symbol")

@register(
    "versioned_delete_where",
    """
    SELECT event_type AS symbol,
           count(*) AS n_events,
           floor(sum(value) * 100.0 + 0.5) / 100.0 AS total_value
    FROM events
    WHERE value IS NULL OR NOT (value BETWEEN 100.0 AND 150.0)
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_versioned_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE WHERE on the manifest-logged table as a copy-on-write
    commit with parquet-footer data skipping: the snapshot is committed
    range-partitioned on ``value``, so the delete's ``prune`` interval
    lets ``operators/versioned.py::delete_where`` carry the non-
    overlapping files into the new manifest WITHOUT reading them and
    rewrite only the files whose footer min/max intersects the band --
    Delta's stats-pruned DELETE (the reference keeps silver as a Delta
    table, process_silver.py:43-45; row-level deletes are the retention
    / GDPR path of that layer).  The old version stays time-travel
    readable; deletion is logical until vacuum.  A pytest asserts
    files_carried > 0 and old-snapshot readability."""
    import os

    from .operators import versioned
    from .scratch import scratch_dir

    base = _events(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    table_dir = os.path.join(scratch_dir("rtfl_delete_"), "events_v")
    versioned.commit_version(base.repartitionByRange(8, "value"), table_dir)
    versioned.delete_where(
        spark,
        table_dir,
        "value BETWEEN 100.0D AND 150.0D",
        prune=("value", 100.0, 150.0),
    )
    latest = versioned.read_version(spark, table_dir)
    return (
        latest.groupBy(F.col("event_type").alias("symbol"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.floor(F.sum("value") * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0)).alias(
                "total_value"
            ),
        )
        .orderBy("symbol")
    )

@register(
    "versioned_append_evolution",
    """
    WITH h1 AS (
        SELECT CAST(NULL AS TIMESTAMP) AS day, value FROM events
        WHERE ts < TIMESTAMP '2024-01-15'
    ),
    h2 AS (
        SELECT date_trunc('day', ts) AS day, value FROM events
        WHERE ts >= TIMESTAMP '2024-01-15'
    ),
    u AS (SELECT * FROM h1 UNION ALL SELECT * FROM h2)
    SELECT day,
           count(*) AS n_events,
           floor(sum(value) * 100.0 + 0.5) / 100.0 AS total_value
    FROM u
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_versioned_append_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append commit + add-column schema evolution on the manifest log:
    v0 holds the first half-month WITHOUT the ``day`` column, v1 appends
    the second half WITH it -- the append manifest re-references v0's
    files untouched (an append costs only the new data regardless of
    table size), and a ``merge_schema`` read surfaces ``day`` as NULL
    for the pre-evolution files, exactly Delta's add-column semantics
    (old data files are never rewritten).  Mirrors the reference's
    ``mode("append")`` Delta writes (consumer_lake.py:48-54)."""
    import os

    from .operators import versioned
    from .scratch import scratch_dir

    ev = _events(spark, sf_dir)
    cut = F.lit("2024-01-15").cast("timestamp")
    table_dir = os.path.join(scratch_dir("rtfl_evolve_"), "events_v")
    versioned.commit_version(
        ev.filter(F.col("ts") < cut).select("event_id", "event_type", "value"),
        table_dir,
    )
    versioned.commit_version(
        ev.filter(F.col("ts") >= cut).select(
            "event_id",
            "event_type",
            "value",
            F.date_trunc("day", F.col("ts")).alias("day"),
        ),
        table_dir,
        mode="append",
    )
    merged = versioned.read_version(spark, table_dir, merge_schema=True)
    return (
        merged.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.floor(F.sum("value") * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0)).alias(
                "total_value"
            ),
        )
        .orderBy("day")
    )

@register(
    "streaming_symbol_stats",
    f"""
    SELECT event_type AS symbol,
           count(*) AS n_events,
           {{q6}} AS total_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    GROUP BY 1
    ORDER BY 1
    """.format(q6="floor(sum(value) * 1000000.0 + 0.5) / 1000000.0"),
)
def q_streaming_symbol_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.stateful import streaming_symbol_stats

    return streaming_symbol_stats(spark, sf_dir)

@register(
    "sorted_export_events",
    """
    SELECT event_id, ts, event_type AS symbol, value
    FROM events
    ORDER BY symbol, ts, event_id
    """,
)
def q_sorted_export_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "event_id", "ts", F.col("event_type").alias("symbol"), "value"
    )
    out = sinks.sorted_export(spark, ev, ["symbol", "ts", "event_id"])
    # presentation order for the oracle compare; the physical layout's
    # global order is asserted in tests/test_round3_ops.py
    return out.orderBy("symbol", "ts", "event_id")

@register(
    "weighted_symbol_price",
    """
    SELECT event_type AS symbol,
           floor(sum(value * w) / sum(w) * 1000000.0 + 0.5) / 1000000.0 AS weighted_price,
           count(*) AS n_events
    FROM (SELECT event_type, value, CAST(event_id % 10 + 1 AS DOUBLE) AS w FROM events)
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_weighted_symbol_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import grouped

    return grouped.weighted_symbol_price(_events(spark, sf_dir))

@register(
    "funnel_counts",
    """
    WITH a AS (SELECT user_id, min(ts) AS t FROM events
               WHERE event_type = 'view' GROUP BY 1),
    b AS (SELECT e.user_id, min(e.ts) AS t FROM events e
          JOIN a ON e.user_id = a.user_id
          WHERE e.event_type = 'click' AND e.ts > a.t GROUP BY 1),
    c AS (SELECT e.user_id, min(e.ts) AS t FROM events e
          JOIN b ON e.user_id = b.user_id
          WHERE e.event_type = 'purchase' AND e.ts > b.t GROUP BY 1),
    counts AS (
        SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type,
               CAST((SELECT count(*) FROM a) AS BIGINT) AS n_users
        UNION ALL
        SELECT 2, 'click', CAST((SELECT count(*) FROM b) AS BIGINT)
        UNION ALL
        SELECT 3, 'purchase', CAST((SELECT count(*) FROM c) AS BIGINT)
    )
    SELECT stage, event_type, n_users,
           CASE WHEN lag(n_users) OVER (ORDER BY stage) > 0 THEN
             floor(n_users::DOUBLE / lag(n_users) OVER (ORDER BY stage)
                   * 1000000.0 + 0.5) / 1000000.0
           END AS conversion
    FROM counts
    ORDER BY stage
    """,
)
def q_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.funnel_counts(_events(spark, sf_dir))


@register(
    "retention_cohorts",
    """
    WITH first AS (
        SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
        FROM events GROUP BY 1
    ),
    active AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ),
    cells AS (
        SELECT f.cohort_day,
               CAST(date_diff('day', f.cohort_day, a.day) AS INTEGER) AS day_offset,
               CAST(count(*) AS BIGINT) AS n_users
        FROM active a JOIN first f ON a.user_id = f.user_id
        GROUP BY 1, 2
    ),
    size AS (
        SELECT cohort_day, n_users AS cohort_size FROM cells WHERE day_offset = 0
    )
    SELECT c.cohort_day, c.day_offset, c.n_users, s.cohort_size,
           CASE WHEN s.cohort_size > 0 THEN
             floor(c.n_users::DOUBLE / s.cohort_size * 1000000.0 + 0.5) / 1000000.0
           END AS retention
    FROM cells c JOIN size s ON c.cohort_day = s.cohort_day
    ORDER BY 1, 2
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.retention_cohorts(_events(spark, sf_dir))


@register(
    "resample_ffill",
    """
    WITH mc AS (
        SELECT event_type AS symbol,
               date_trunc('minute', ts) AS minute,
               arg_max(value, event_id) AS close
        FROM events GROUP BY 1, 2
    ),
    grid AS (
        SELECT symbol,
               unnest(generate_series(min(minute), max(minute),
                                      INTERVAL 1 minute)) AS minute
        FROM mc GROUP BY symbol
    )
    SELECT g.symbol, g.minute,
           floor((last_value(mc.close IGNORE NULLS)
                  OVER (PARTITION BY g.symbol ORDER BY g.minute)) * 1000000.0
                 + 0.5) / 1000000.0 AS price,
           mc.close IS NULL AS gap_filled
    FROM grid g LEFT JOIN mc USING (symbol, minute)
    ORDER BY 1, 2
    """,
)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.resample_ffill(_events(spark, sf_dir))


@register(
    "hourly_from_minute_rollup",
    """
    WITH e AS (
        SELECT event_type AS symbol,
               date_trunc('minute', ts) AS minute_window,
               value,
               row_number() OVER (PARTITION BY event_type, date_trunc('minute', ts)
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY event_type, date_trunc('minute', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    ),
    minutes AS (
        SELECT symbol, minute_window,
               max(CASE WHEN rn_a = 1 THEN value END) AS open_price,
               floor((max(value)) * 1000000.0 + 0.5) / 1000000.0 AS high_price,
               floor((min(value)) * 1000000.0 + 0.5) / 1000000.0 AS low_price,
               max(CASE WHEN rn_d = 1 THEN value END) AS close_price,
               floor((sum(value)) * 1000000.0 + 0.5) / 1000000.0 AS total_value,
               count(*) AS n_trades
        FROM e GROUP BY 1, 2
    )
    SELECT symbol,
           date_trunc('hour', minute_window) AS hour_window,
           arg_min(open_price, minute_window) AS open_price,
           max(high_price) AS high_price,
           min(low_price) AS low_price,
           arg_max(close_price, minute_window) AS close_price,
           floor((sum(total_value)) * 1000000.0 + 0.5) / 1000000.0 AS total_value,
           CAST(sum(n_trades) AS BIGINT) AS n_trades,
           count(*) AS n_minutes
    FROM minutes
    GROUP BY 1, 2
    ORDER BY 2, 1
    """,
)
def q_hourly_from_minute_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rollup.hourly_from_minute(_events(spark, sf_dir))


@register(
    "latest_order_asof_tolerant",
    """
    WITH j AS (
        SELECT e.event_id, e.ts, e.user_id,
               o.o_orderkey, o.o_orderdate, o.o_totalprice,
               row_number() OVER (PARTITION BY e.event_id
                                  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e
        LEFT JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    )
    SELECT event_id, ts, user_id,
           CASE WHEN o_orderdate >= ts - INTERVAL 30 DAY THEN o_orderkey END AS o_orderkey,
           CASE WHEN o_orderdate >= ts - INTERVAL 30 DAY THEN o_orderdate END AS o_orderdate,
           CASE WHEN o_orderdate >= ts - INTERVAL 30 DAY THEN o_totalprice END AS o_totalprice
    FROM j
    WHERE rn = 1
    """,
)
def q_latest_order_asof_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.latest_order_asof_tolerant(
        _t(spark, sf_dir, "events"), _t(spark, sf_dir, "orders")
    )


@register(
    "rolling_median",
    """
    SELECT event_id,
           event_type AS symbol,
           ts,
           value AS price,
           CASE WHEN count(*) OVER w = 30
                THEN floor((median(value) OVER w) * 1000000.0 + 0.5) / 1000000.0
           END AS rolling_median
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    ORDER BY 2, 3, 1
    """,
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.rolling_median(_events(spark, sf_dir))


@register(
    "winsorize_values",
    """
    WITH fences AS (
        SELECT event_type AS symbol,
               quantile_cont(value, 0.01) AS p_lo,
               quantile_cont(value, 0.99) AS p_hi
        FROM events GROUP BY 1
    )
    SELECT e.event_type AS symbol,
           floor((any_value(f.p_lo)) * 1000000.0 + 0.5) / 1000000.0 AS p_lo,
           floor((any_value(f.p_hi)) * 1000000.0 + 0.5) / 1000000.0 AS p_hi,
           count(*) AS n,
           CAST(sum(CASE WHEN e.value < f.p_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
           CAST(sum(CASE WHEN e.value > f.p_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
           floor((avg(least(greatest(e.value, f.p_lo), f.p_hi))) * 1000000.0
                 + 0.5) / 1000000.0 AS clipped_mean
    FROM events e JOIN fences f ON e.event_type = f.symbol
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import pipeline

    return pipeline.winsorize_values(_events(spark, sf_dir))


# LLM-data-pipeline registrations (dedup / similarity / text / multimodal)
from . import registry_llmdata  # noqa: E402,F401


_PROFILE_COLS = ["event_id", "event_type", "props", "ts", "user_id", "value"]
_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
           count(*) AS n_rows,
           count(*) - count({c}) AS n_nulls,
           count(DISTINCT {c}) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_value,
           CAST(max({c}) AS VARCHAR) AS max_value
    FROM events"""
    for c in _PROFILE_COLS
)


@register("profile_events", f"SELECT * FROM (\n{_PROFILE_ORACLE}\n) ORDER BY 1")
def q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan per-column profile of the events table (null counts,
    exact cardinalities, stringified min/max) -- the survey pass that
    decides partitioning and z-order keys before any pipeline runs.
    ``approx=True`` is the single-pass HLL++ variant for 100 TB (see
    operators/profiling.py)."""
    from .operators.profiling import profile_columns

    return profile_columns(_events(spark, sf_dir), _PROFILE_COLS)


_CMS_BUCKET = "(('0x' || substr(md5(j::VARCHAR || ':' || user_id::VARCHAR), 1, 7))::BIGINT) % 256"


@register(
    "streaming_user_cms",
    f"""
    WITH cnts AS (
        SELECT user_id, count(*) AS exact_count FROM events GROUP BY 1
    ),
    pairs AS (
        SELECT user_id, exact_count, j, {_CMS_BUCKET} AS bucket
        FROM cnts, (SELECT unnest([0, 1, 2, 3]) AS j) js
    ),
    sketch AS (
        SELECT j, bucket, sum(exact_count) AS cell_total
        FROM pairs GROUP BY 1, 2
    ),
    est AS (
        SELECT p.user_id,
               min(s.cell_total)::BIGINT AS est_count,
               any_value(p.exact_count) AS exact_count
        FROM pairs p JOIN sketch s ON p.j = s.j AND p.bucket = s.bucket
        GROUP BY 1
    )
    SELECT user_id, est_count, exact_count,
           est_count - exact_count AS overcount
    FROM est
    ORDER BY est_count DESC, user_id
    LIMIT 20
    """,
)
def q_streaming_user_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch folded across streaming micro-batches; the batch
    SQL oracle is exact because sketch addition commutes with batching
    (see streaming/silver.streaming_user_cms)."""
    return streaming_silver.streaming_user_cms(spark, sf_dir)


@register(
    "key_skew_profile",
    """
    WITH per_key AS (
        SELECT event_type AS k, count(*) AS n FROM events GROUP BY 1
    ),
    top AS (
        SELECT sum(n) AS top_rows
        FROM (SELECT n FROM per_key ORDER BY n DESC, k LIMIT 5)
    )
    SELECT 'event_type' AS key,
           count(*) AS n_keys,
           sum(n)::BIGINT AS n_rows,
           max(n) AS max_per_key,
           floor(quantile_cont(n, 0.99) * 100.0 + 0.5) / 100.0 AS p99_per_key,
           floor(max(n) / avg(n) * 10000.0 + 0.5) / 10000.0 AS skew_ratio,
           floor((SELECT top_rows FROM top) / sum(n) * 10000.0 + 0.5) / 10000.0 AS top5_share
    FROM per_key
    """,
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-strategy survey of the events join key (see
    operators/profiling.key_skew_profile); the salting decision in
    segment_activity_salted starts from this report."""
    from .operators.profiling import key_skew_profile

    return key_skew_profile(_events(spark, sf_dir), "event_type")


@register(
    "bucketed_revenue_join",
    """
    SELECT o_orderpriority,
           count(*) AS n_items,
           floor(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
               AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_bucketed_revenue_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact join over CO-BUCKETED tables: both sides are
    saveAsTable'd bucketed (and sorted) on the join key, so the
    SortMergeJoin runs over bucketed scans with NO Exchange before the
    join -- the standing-workload answer to the orders-x-lineitem
    shuffle SCALE.md calls out (at 100 TB the bucketed layout amortizes
    one shuffle's cost across every subsequent join on that key).
    tests/test_round4_ops.py asserts the Exchange-free join plan; this
    registry entry puts the layout on the value gate (results checked
    THROUGH the bucketed tables against the plain-join oracle)."""
    from .operators import sinks

    ob = sinks.bucketed_table(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        "rtfl_b_orders",
        "o_orderkey",
    )
    lb = sinks.bucketed_table(
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        "rtfl_b_lineitem",
        "l_orderkey",
    )
    o, l = spark.table(ob), spark.table(lb)
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            # per-item cast to DECIMAL makes the sum EXACT and therefore
            # independent of the bucketed layout's addition order -- the
            # float sum straddled a rounding boundary at sf0.1
            (
                F.floor(
                    F.sum(
                        F.expr(
                            "CAST(l_extendedprice * (1.0 - l_discount)"
                            " AS DECIMAL(18,6))"
                        )
                    ).cast("double")
                    * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "debounce_events",
    """
    WITH g AS (
        SELECT event_id, ts, user_id, event_type, value,
               lag(ts) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) AS prev_ts
        FROM events
    )
    SELECT event_id, ts, user_id, event_type, value
    FROM g
    WHERE prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 5000000
    ORDER BY event_id
    """,
)
def q_debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.debounce_events(_events(spark, sf_dir))


@register(
    "user_transition_matrix",
    """
    WITH steps AS (
        SELECT lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS from_type,
               event_type AS to_type
        FROM events
    ),
    counts AS (
        SELECT from_type, to_type, count(*) AS n_transitions
        FROM steps WHERE from_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_transitions,
           floor(n_transitions::DOUBLE
                 / sum(n_transitions) OVER (PARTITION BY from_type)
                 * 1000000.0 + 0.5) / 1000000.0 AS prob
    FROM counts
    ORDER BY 1, 2
    """,
)
def q_user_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.user_transition_matrix(_events(spark, sf_dir))


@register(
    "twap_daily",
    """
    WITH t AS (
        SELECT event_type AS symbol,
               date_trunc('day', ts) AS day,
               value,
               (epoch_us(lead(ts) OVER (PARTITION BY event_type, date_trunc('day', ts)
                                        ORDER BY ts, event_id))
                - epoch_us(ts)) / 1000000.0 AS hold_s
        FROM events
    )
    SELECT symbol, day,
           CASE WHEN sum(hold_s) > 0
                THEN floor(sum(value * hold_s) / sum(hold_s) * 1000000.0 + 0.5) / 1000000.0
           END AS twap,
           floor(sum(hold_s) * 1000.0 + 0.5) / 1000.0 AS span_s,
           count(*) AS n_ticks
    FROM t
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.twap_daily(_events(spark, sf_dir))


@register(
    "engulfing_patterns",
    """
    WITH e AS (
        SELECT event_type AS symbol,
               date_trunc('minute', ts) AS minute,
               value,
               row_number() OVER (PARTITION BY event_type, date_trunc('minute', ts)
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY event_type, date_trunc('minute', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    ),
    bars AS (
        SELECT symbol, minute,
               max(CASE WHEN rn_a = 1 THEN value END) AS o,
               max(CASE WHEN rn_d = 1 THEN value END) AS c
        FROM e GROUP BY 1, 2
    ),
    lagged AS (
        SELECT symbol, minute, o, c,
               lag(o) OVER (PARTITION BY symbol ORDER BY minute) AS po,
               lag(c) OVER (PARTITION BY symbol ORDER BY minute) AS pc
        FROM bars
    )
    SELECT symbol, minute,
           floor(o * 1000000.0 + 0.5) / 1000000.0 AS open,
           floor(c * 1000000.0 + 0.5) / 1000000.0 AS close,
           coalesce(pc < po AND c > o AND o <= pc AND c >= po, FALSE) AS bullish_engulfing,
           coalesce(pc > po AND c < o AND o >= pc AND c <= po, FALSE) AS bearish_engulfing
    FROM lagged
    WHERE coalesce(pc < po AND c > o AND o <= pc AND c >= po, FALSE)
       OR coalesce(pc > po AND c < o AND o >= pc AND c <= po, FALSE)
    ORDER BY 1, 2
    """,
)
def q_engulfing_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.engulfing_patterns(_events(spark, sf_dir))


# Shared oracle CTE: daily OHLC bars (open/close via the row_number
# trick that mirrors Spark's min_by/max_by on (ts, event_id)).
_DAILY_BARS_SQL = """
dbars AS (
    SELECT symbol, day,
           max(CASE WHEN rn_a = 1 THEN value END) AS o,
           max(value) AS h,
           min(value) AS l,
           max(CASE WHEN rn_d = 1 THEN value END) AS c,
           count(*) AS n_ticks
    FROM (
        SELECT event_type AS symbol, date_trunc('day', ts) AS day, value,
               row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    GROUP BY 1, 2
)
"""


@register(
    "range_volatility",
    f"""
    WITH src AS (SELECT * FROM events WHERE value > 0),
    {_DAILY_BARS_SQL.strip().replace("FROM events", "FROM src")}
    SELECT symbol, day, n_ticks,
           {_q('sqrt(ln(h / l) * ln(h / l) / (4 * 0.6931471805599453))', 6)} AS parkinson_vol,
           {_q('sqrt(greatest(0.5 * ln(h / l) * ln(h / l) - (2 * 0.6931471805599453 - 1.0) * ln(c / o) * ln(c / o), 0.0))', 6)} AS garman_klass_vol
    FROM dbars
    ORDER BY symbol, day
    """,
)
def q_range_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.range_volatility(_events(spark, sf_dir))


@register(
    "pivot_points",
    f"""
    WITH {_DAILY_BARS_SQL.strip()},
    lagged AS (
        SELECT symbol, day,
               lag(h) OVER (PARTITION BY symbol ORDER BY day) AS ph,
               lag(l) OVER (PARTITION BY symbol ORDER BY day) AS pl,
               lag(c) OVER (PARTITION BY symbol ORDER BY day) AS pc
        FROM dbars
    )
    SELECT symbol, day,
           {_q('(ph + pl + pc) / 3.0', 6)} AS pivot,
           {_q('2.0 * ((ph + pl + pc) / 3.0) - pl', 6)} AS r1,
           {_q('2.0 * ((ph + pl + pc) / 3.0) - ph', 6)} AS s1,
           {_q('((ph + pl + pc) / 3.0) + (ph - pl)', 6)} AS r2,
           {_q('((ph + pl + pc) / 3.0) - (ph - pl)', 6)} AS s2
    FROM lagged
    WHERE ph IS NOT NULL
    ORDER BY symbol, day
    """,
)
def q_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.pivot_points(_events(spark, sf_dir))


@register(
    "williams_r_14",
    f"""
    WITH {_BARS_SQL.strip()},
    framed AS (
        SELECT symbol, minute_window, close,
               max(high) OVER w AS hh,
               min(low) OVER w AS ll,
               count(*) OVER w AS cnt
        FROM bars
        WINDOW w AS (PARTITION BY symbol ORDER BY minute_window
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, minute_window,
           {_q('close', 6)} AS close,
           {_q('hh', 6)} AS channel_high,
           {_q('ll', 6)} AS channel_low,
           CASE WHEN hh <> ll
                THEN {_q('-100.0 * (hh - close) / (hh - ll)', 6)} END AS williams_r
    FROM framed
    WHERE cnt = 14
    ORDER BY symbol, minute_window
    """,
)
def q_williams_r_14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.williams_r(_events(spark, sf_dir), n=14)


@register(
    "cci_20",
    f"""
    WITH {_BARS_SQL.strip()},
    tps AS (
        SELECT symbol, minute_window, (high + low + close) / 3.0 AS tp
        FROM bars
    ),
    framed AS (
        SELECT symbol, minute_window, tp,
               list(tp) OVER (PARTITION BY symbol ORDER BY minute_window
                              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS ws
        FROM tps
    ),
    stats AS (
        SELECT symbol, minute_window, tp,
               list_aggregate(ws, 'sum') / 20 AS m,
               list_aggregate(list_transform(ws, x ->
                   abs(x - (list_aggregate(ws, 'sum') / 20))), 'sum') / 20 AS mad
        FROM framed
        WHERE len(ws) = 20
    )
    SELECT symbol, minute_window,
           {_q('tp', 6)} AS typical_price,
           {_q('m', 6)} AS tp_sma,
           CASE WHEN mad <> 0
                THEN {_q('(tp - m) / (0.015 * mad)', 6)} END AS cci
    FROM stats
    ORDER BY symbol, minute_window
    """,
)
def q_cci_20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.cci(_events(spark, sf_dir), n=20)


@register(
    "return_autocorr",
    f"""
    WITH {_DAILY_BARS_SQL.strip()},
    rets AS (
        SELECT symbol, day,
               CASE WHEN lag(c) OVER (PARTITION BY symbol ORDER BY day) <> 0
                    THEN c / lag(c) OVER (PARTITION BY symbol ORDER BY day) - 1.0
               END AS r
        FROM dbars
    ),
    pairs AS (
        SELECT symbol, r,
               lag(r) OVER (PARTITION BY symbol ORDER BY day) AS r_prev
        FROM rets
    )
    SELECT symbol,
           count(*) AS n_pairs,
           CASE WHEN stddev_pop(r) * stddev_pop(r_prev) <> 0
                THEN {_q('covar_pop(r, r_prev) / (stddev_pop(r) * stddev_pop(r_prev))', 6)} END AS autocorr_lag1,
           {_q('avg(r)', 6)} AS mean_paired_return
    FROM pairs
    WHERE r IS NOT NULL AND r_prev IS NOT NULL
    GROUP BY symbol
    ORDER BY symbol
    """,
)
def q_return_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.return_autocorr(_events(spark, sf_dir))


@register(
    "mad_outliers",
    f"""
    WITH med AS (
        SELECT event_type AS symbol, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY 1
    ),
    devs AS (
        SELECT e.event_type AS symbol, e.value, m.med
        FROM events e JOIN med m ON e.event_type = m.symbol
    ),
    mad AS (
        SELECT symbol, quantile_cont(abs(value - med), 0.5) AS mad
        FROM devs GROUP BY 1
    )
    SELECT d.symbol,
           count(*) AS n,
           {_q('any_value(d.med)', 6)} AS median_value,
           {_q('any_value(m.mad)', 6)} AS mad,
           sum(CASE WHEN m.mad <> 0
                     AND abs(d.value - d.med) / (1.4826 * m.mad) > 3.5
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
           CASE WHEN any_value(m.mad) <> 0
                THEN {_q('max(abs(d.value - d.med) / (1.4826 * m.mad))', 6)} END
               AS max_robust_z
    FROM devs d JOIN mad m ON d.symbol = m.symbol
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import profiling

    return profiling.mad_outliers(_events(spark, sf_dir))


@register(
    "selfjoin_size_estimate",
    f"""
    WITH keyed AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
    positions AS (
        SELECT r,
               (('0x' || substr(md5(concat_ws(':', r, user_id)), 1, 7))::BIGINT) % 256 AS pos
        FROM keyed, (SELECT unnest([0, 1, 2]) AS r) rs
    ),
    counters AS (SELECT r, pos, count(*) AS c FROM positions GROUP BY 1, 2),
    per_row AS (SELECT r, sum(c * c)::BIGINT AS f2_row FROM counters GROUP BY 1),
    est AS (SELECT min(f2_row) AS estimate FROM per_row),
    exact AS (
        SELECT sum(cnt * cnt)::BIGINT AS exact_size
        FROM (SELECT count(*) AS cnt FROM keyed GROUP BY user_id)
    )
    SELECT 256 AS width, 3 AS depth, estimate, exact_size,
           {_q('(estimate - exact_size) / exact_size::DOUBLE', 6)} AS rel_error
    FROM est, exact
    """,
)
def q_selfjoin_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import profiling

    return profiling.selfjoin_size_estimate(_events(spark, sf_dir))


@register(
    "seasonal_baseline",
    f"""
    WITH hourly AS (
        SELECT event_type AS symbol,
               extract(hour FROM ts)::INT AS hour_of_day,
               count(*) AS n_events,
               avg(value) AS mean_raw,
               stddev_pop(value) AS std_raw
        FROM events GROUP BY 1, 2
    ),
    overall AS (
        SELECT event_type AS symbol, avg(value) AS symbol_mean
        FROM events GROUP BY 1
    )
    SELECT h.symbol, h.hour_of_day, h.n_events,
           {_q('h.mean_raw', 6)} AS mean_value,
           {_q('h.std_raw', 6)} AS std_value,
           CASE WHEN o.symbol_mean <> 0
                THEN {_q('h.mean_raw / o.symbol_mean', 6)} END AS vs_symbol_mean
    FROM hourly h JOIN overall o ON h.symbol = o.symbol
    ORDER BY 1, 2
    """,
)
def q_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import rollup as rollup_ops

    return rollup_ops.seasonal_baseline(_events(spark, sf_dir))


@register(
    "skyline_days",
    f"""
    WITH pts AS (
        SELECT * FROM (
            SELECT event_type AS symbol,
                   date_trunc('day', ts) AS day,
                   {_q("sum((json_extract_string(props, '$.k'))::DOUBLE)", 6)} AS total_volume,
                   {_q('avg(value)', 6)} AS avg_price
            FROM events GROUP BY 1, 2
        ) WHERE total_volume IS NOT NULL AND avg_price IS NOT NULL
    )
    SELECT p.symbol, p.day, p.total_volume, p.avg_price
    FROM pts p
    WHERE NOT EXISTS (
        SELECT 1 FROM pts q
        WHERE q.symbol = p.symbol
          AND q.total_volume >= p.total_volume
          AND q.avg_price >= p.avg_price
          AND (q.total_volume > p.total_volume OR q.avg_price > p.avg_price)
    )
    ORDER BY 1, p.total_volume DESC, 2
    """,
)
def q_skyline_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.skyline_days(_events(spark, sf_dir))


@register(
    "streaming_seasonal_anomaly",
    f"""
    WITH base AS (
        SELECT event_type AS symbol, extract(hour FROM ts)::INT AS hod,
               avg(value) AS mean_v, stddev_pop(value) AS std_v
        FROM events GROUP BY 1, 2
    ),
    flagged AS (
        SELECT e.event_type AS symbol,
               extract(hour FROM e.ts)::INT AS hour_of_day,
               CASE WHEN b.std_v <> 0
                    THEN abs((e.value - b.mean_v) / b.std_v) END AS az
        FROM events e
        JOIN base b ON e.event_type = b.symbol
                   AND extract(hour FROM e.ts)::INT = b.hod
    )
    SELECT symbol, hour_of_day, count(*) AS n_anomalies,
           {_q('max(az)', 6)} AS max_abs_z
    FROM flagged
    WHERE az > 3.0
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_streaming_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.stateful import streaming_seasonal_anomaly_roundtrip

    return streaming_seasonal_anomaly_roundtrip(spark, sf_dir)


@register(
    "event_gap_stats",
    f"""
    WITH gaps AS (
        SELECT event_type AS symbol,
               (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY event_type
                                                      ORDER BY ts, event_id)))
                   / 1000000.0 AS gap_s
        FROM events
    )
    SELECT symbol, count(*) AS n_gaps,
           {_q('avg(gap_s)', 6)} AS mean_gap_s,
           {_q('quantile_cont(gap_s, 0.95)', 6)} AS p95_gap_s,
           {_q('max(gap_s)', 6)} AS max_gap_s,
           sum((gap_s > 300.0)::INT)::BIGINT AS n_outages
    FROM gaps
    WHERE gap_s IS NOT NULL
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import profiling

    return profiling.event_gap_stats(_events(spark, sf_dir))


@register(
    "dollar_bars",
    f"""
    WITH ticks AS (
        SELECT event_type AS symbol, ts, event_id, value,
               value * (json_extract_string(props, '$.k'))::DOUBLE AS dollars,
               floor(sum(value * (json_extract_string(props, '$.k'))::DOUBLE)
                         OVER (PARTITION BY event_type ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING)
                     / 250000.0)::BIGINT AS bar_id
        FROM events
    ),
    rn AS (
        SELECT *,
               row_number() OVER (PARTITION BY symbol, bar_id
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY symbol, bar_id
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM ticks
    )
    SELECT symbol, bar_id,
           {_q('max(CASE WHEN rn_a = 1 THEN value END)', 6)} AS open,
           {_q('max(value)', 6)} AS high,
           {_q('min(value)', 6)} AS low,
           {_q('max(CASE WHEN rn_d = 1 THEN value END)', 6)} AS close,
           {_q('sum(dollars)', 6)} AS dollar_volume,
           count(*) AS n_ticks,
           min(ts) AS bar_start,
           max(ts) AS bar_end
    FROM rn
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_dollar_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.dollar_bars(_events(spark, sf_dir))


@register(
    "versioned_restore",
    """
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               event_type AS symbol,
               count(*) AS n_events,
               floor(sum(value) * 100.0 + 0.5) / 100.0 AS total_value
        FROM events
        GROUP BY 1, 2
    )
    SELECT 3 AS version, day, symbol, n_events, total_value
    FROM daily WHERE day < TIMESTAMP '2024-01-15'
    ORDER BY day, symbol
    """,
)
def q_versioned_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta RESTORE semantics on the manifest log: commit the gold
    rollup three times (v0 = first half, v1 = full month, v2 = second
    half only -- the 'bad deploy'), RESTORE to v0 (one manifest write
    re-referencing v0's files, v3), and read the latest snapshot back --
    which must equal v0's content exactly while v1/v2 stay readable for
    forensics.  History auditing (`table_history`) is pinned in pytest."""
    import os

    from .operators import versioned
    from .scratch import scratch_dir

    daily = (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("event_type").alias("symbol"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.floor(F.sum("value") * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0)).alias(
                "total_value"
            ),
        )
    )
    table_dir = os.path.join(scratch_dir("rtfl_restore_"), "gold_daily")
    versioned.commit_version(daily.filter(F.col("day") < "2024-01-15"), table_dir)
    versioned.commit_version(daily, table_dir)
    versioned.commit_version(daily.filter(F.col("day") >= "2024-01-15"), table_dir)
    v3 = versioned.restore_version(table_dir, 0)
    return (
        versioned.read_version(spark, table_dir)
        .withColumn("version", F.lit(v3))
        .select("version", "day", "symbol", "n_events", "total_value")
        .orderBy("day", "symbol")
    )


@register(
    "versioned_compaction",
    """
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               event_type AS symbol,
               count(*) AS n_events,
               floor(sum(value) * 100.0 + 0.5) / 100.0 AS total_value
        FROM events
        GROUP BY 1, 2
    )
    SELECT day, symbol, n_events, total_value,
           TRUE AS compacted_to_target
    FROM daily
    ORDER BY day, symbol
    """,
)
def q_versioned_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE on the manifest log: three fragmented commits (each
    snapshot deliberately split across 4 files -- the small-file tax of
    streaming cadence), then ``compact`` rewrites the latest snapshot
    into ONE file as a new version.  The query returns the
    post-compaction snapshot -- which must equal the pre-compaction
    content exactly (the oracle recomputes it from raw events) -- plus a
    ``compacted_to_target`` certificate read from the new manifest
    (n_files == target).  Old versions stay time-travelable; history is
    pinned in pytest."""
    import os

    from .operators import versioned
    from .scratch import scratch_dir

    daily = (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("event_type").alias("symbol"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.floor(F.sum("value") * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0)).alias(
                "total_value"
            ),
        )
    )
    table_dir = os.path.join(scratch_dir("rtfl_compact_"), "gold_daily")
    versioned.commit_version(
        daily.filter(F.col("day") < "2024-01-10").repartition(4), table_dir
    )
    versioned.commit_version(
        daily.filter(F.col("day") < "2024-01-20").repartition(4), table_dir
    )
    versioned.commit_version(daily.repartition(4), table_dir)
    v = versioned.compact(spark, table_dir, target_files=1)
    n_files = versioned.read_manifest(table_dir, v)["n_files"]
    return (
        versioned.read_version(spark, table_dir)
        .select(
            "day",
            "symbol",
            "n_events",
            "total_value",
            F.lit(n_files == 1).alias("compacted_to_target"),
        )
        .orderBy("day", "symbol")
    )


@register(
    "pairs_spread_zscore",
    f"""
    WITH bars AS ({_OHLC_CLOSE_SQL}),
    paired AS (
        SELECT a.symbol AS sym_a, b.symbol AS sym_b,
               a.minute_window AS mw,
               a.close_price AS pa, b.close_price AS pb
        FROM bars a
        JOIN bars b ON a.minute_window = b.minute_window AND a.symbol < b.symbol
    ),
    st AS (
        SELECT sym_a, sym_b, count(*) AS n_minutes,
               CASE WHEN var_pop(pb) != 0
                    THEN covar_pop(pa, pb) / var_pop(pb) END AS h
        FROM paired GROUP BY 1, 2
    ),
    sp AS (
        SELECT p.sym_a, p.sym_b, s.n_minutes, s.h,
               p.pa - s.h * p.pb AS spread
        FROM paired p JOIN st s USING (sym_a, sym_b)
    ),
    ss AS (
        SELECT sym_a, sym_b, max(n_minutes) AS n_minutes,
               {_q('max(h)', 6)} AS hedge_ratio,
               {_q('avg(spread)', 6)} AS spread_mean,
               {_q('stddev_pop(spread)', 6)} AS spread_std
        FROM sp GROUP BY 1, 2
    ),
    al AS (
        SELECT p.sym_a, p.sym_b,
               sum(CASE WHEN s.spread_std != 0
                        AND abs((p.spread - s.spread_mean) / s.spread_std) > 2.0
                        THEN 1 ELSE 0 END)::BIGINT AS n_z_alerts,
               {_q("coalesce(max(CASE WHEN s.spread_std != 0 THEN abs((p.spread - s.spread_mean) / s.spread_std) END), 0.0)", 6)} AS max_abs_z
        FROM sp p JOIN ss s USING (sym_a, sym_b) GROUP BY 1, 2
    )
    SELECT sym_a, sym_b, n_minutes, hedge_ratio, spread_mean, spread_std,
           n_z_alerts, max_abs_z
    FROM ss JOIN al USING (sym_a, sym_b)
    ORDER BY 1, 2
    """,
)
def q_pairs_spread_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.pairs_spread_zscore(_events(spark, sf_dir))


@register(
    "tpch_refresh_cycle",
    f"""
    WITH tagged AS (
        SELECT o_orderkey, o_totalprice,
               ((('0x' || substr(md5('rf:' || o_orderkey), 1, 15))::BIGINT)
                % 20 = 0) AS is_refresh
        FROM orders
    ),
    base AS (SELECT * FROM tagged WHERE NOT is_refresh),
    versions AS (
        SELECT 0 AS version, count(*) AS n_orders,
               {_q('coalesce(sum(o_totalprice), 0.0)', 2)} AS total_price
        FROM base
        UNION ALL
        SELECT 1, count(*), {_q('coalesce(sum(o_totalprice), 0.0)', 2)}
        FROM tagged
        UNION ALL
        SELECT 2, count(*), {_q('coalesce(sum(o_totalprice), 0.0)', 2)}
        FROM base
    )
    SELECT version, n_orders, total_price FROM versions ORDER BY version
    """,
)
def q_tpch_refresh_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H refresh functions (RF1 insert / RF2 delete, TPC-H spec
    section 2.27) through the versioned-table layer: v0 commits the base
    95% of orders, RF1 appends the md5-chosen 5% refresh set (v1 =
    base + refresh), RF2 deletes exactly that set again (v2 == v0
    content).  The report reads EVERY version via time travel and emits
    per-version counts and price totals -- the ACID-maintenance cycle
    the 22 query shapes alone don't exercise.

    Scale: each refresh batch is one bounded commit (append = manifest
    add; delete = footer-stats-pruned rewrite of affected files only);
    time travel reads are manifest-resolved, no log replay."""
    import os

    from .functions.hashing import md5_long
    from .operators import versioned
    from .scratch import scratch_dir

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    is_refresh = (
        md5_long(F.concat_ws("", F.lit("rf:"), F.col("o_orderkey"))) % 20 == 0
    )
    tagged = orders.withColumn("is_refresh", is_refresh)
    base = tagged.filter(~F.col("is_refresh")).drop("is_refresh")
    refresh = tagged.filter(F.col("is_refresh")).drop("is_refresh")
    table_dir = os.path.join(scratch_dir("rtfl_rf_"), "orders_v")
    versioned.commit_version(base, table_dir)                      # v0
    versioned.commit_version(base.unionByName(refresh), table_dir) # v1 = RF1
    # RF2: delete the refresh set from the latest snapshot -- the same
    # md5 rule as the split, expressed as a SQL predicate (no key list
    # ever concentrates on the driver)
    versioned.delete_where(
        spark,
        table_dir,
        "cast(conv(substring(md5(concat_ws('', 'rf:', o_orderkey)), 1, 15),"
        " 16, 10) as bigint) % 20 = 0",
    )                                                              # v2
    reports = []
    for v in (0, 1, 2):
        snap = versioned.read_version(spark, table_dir, version=v)
        reports.append(
            snap.agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).alias("n_orders"),
                (
                    F.floor(
                        F.coalesce(F.sum("o_totalprice"), F.lit(0.0)) * 100.0
                        + F.lit(0.5)
                    )
                    / 100.0
                ).alias("total_price"),
            ).select("version", "n_orders", "total_price")
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("version")


_TICK_SIGNS_SQL = """
ticks AS (
    SELECT event_type AS symbol, ts, event_id, value,
           (json_extract_string(props, '$.k'))::DOUBLE AS qty,
           CASE WHEN value - lag(value) OVER w > 0 THEN 1
                WHEN value - lag(value) OVER w < 0 THEN -1 END AS raw_sign
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
),
signed AS (
    SELECT symbol, ts, event_id, value, qty,
           last_value(raw_sign IGNORE NULLS)
               OVER (PARTITION BY symbol ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sign
    FROM ticks
)
"""


@register(
    "order_flow_imbalance",
    f"""
    WITH {_TICK_SIGNS_SQL.strip()}
    SELECT symbol, date_trunc('day', ts) AS day,
           count(*) AS n_ticks,
           sum((sign = 1)::INT)::BIGINT AS n_buys,
           sum((sign = -1)::INT)::BIGINT AS n_sells,
           {_q('sum(sign * coalesce(qty, 0.0))', 6)} AS signed_volume,
           CASE WHEN sum((sign = 1)::INT) + sum((sign = -1)::INT) > 0
                THEN {_q('(sum((sign = 1)::INT) - sum((sign = -1)::INT)) / (sum((sign = 1)::INT) + sum((sign = -1)::INT))::DOUBLE', 6)}
           END AS imbalance
    FROM signed
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_order_flow_imbalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.order_flow_imbalance(_events(spark, sf_dir))


@register(
    "kyle_lambda",
    f"""
    WITH {_TICK_SIGNS_SQL.strip()},
    obs AS (
        SELECT symbol,
               value - lag(value) OVER (PARTITION BY symbol
                                        ORDER BY ts, event_id) AS dp,
               sign * qty AS sv,
               sign, qty
        FROM signed
    )
    SELECT symbol, count(*) AS n_obs,
           CASE WHEN var_pop(sv) <> 0
                THEN {_q('covar_pop(dp, sv) / var_pop(sv)', 9)} END AS kyle_lambda,
           CASE WHEN stddev_pop(dp) * stddev_pop(sv) <> 0
                THEN {_q('covar_pop(dp, sv) / (stddev_pop(dp) * stddev_pop(sv))', 6)} END
               AS flow_corr
    FROM obs
    WHERE sign IS NOT NULL AND dp IS NOT NULL AND qty IS NOT NULL
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_kyle_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.kyle_lambda(_events(spark, sf_dir))


@register(
    "anomaly_episodes",
    f"""
    WITH stats AS (
        SELECT event_type AS symbol, avg(value) AS mean_v,
               stddev_pop(value) AS std_v
        FROM events GROUP BY 1
    ),
    scored AS (
        SELECT e.event_type AS symbol, e.ts, e.event_id,
               CASE WHEN s.std_v <> 0
                    THEN abs((e.value - s.mean_v) / s.std_v) END AS az
        FROM events e JOIN stats s ON e.event_type = s.symbol
    ),
    anomalies AS (SELECT * FROM scored WHERE az > 3.0),
    flagged AS (
        SELECT symbol, ts, event_id, az,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1000000.0 > 300.0
                    THEN 1 ELSE 0 END AS new_ep
        FROM anomalies
        WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id)
    ),
    eps AS (
        SELECT symbol, az, ts,
               sum(new_ep) OVER (PARTITION BY symbol ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS episode
        FROM flagged
    )
    SELECT symbol, episode::BIGINT AS episode,
           min(ts) AS episode_start, max(ts) AS episode_end,
           count(*) AS n_events,
           {_q('max(az)', 6)} AS peak_z
    FROM eps
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_anomaly_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import profiling

    return profiling.anomaly_episodes(_events(spark, sf_dir))


@register(
    "benford_check",
    f"""
    WITH used AS (
        SELECT CASE WHEN raw_digit = 0 THEN 9
                    WHEN raw_digit = 10 THEN 1
                    ELSE raw_digit END AS digit
        FROM (
            SELECT floor(value / pow(10.0, floor(log10(value))))::INT AS raw_digit
            FROM events WHERE value > 0
        )
    ),
    raw_counts AS (SELECT digit, count(*) AS n_obs FROM used GROUP BY 1),
    -- 1..9 spine: zero-observation digits must appear (their chi2 term,
    -- expected * n_total, is the largest possible -- see benford_check)
    counts AS (
        SELECT s.digit, coalesce(c.n_obs, 0) AS n_obs
        FROM (SELECT unnest(generate_series(1, 9))::INT AS digit) s
        LEFT JOIN raw_counts c ON s.digit = c.digit
    ),
    total AS (SELECT coalesce(sum(n_obs), 0)::DOUBLE AS n_total FROM counts)
    SELECT digit, n_obs,
           {_q('CASE WHEN n_total != 0 THEN n_obs / n_total END', 6)} AS obs_share,
           {_q('log10(1.0 + 1.0 / digit)', 6)} AS benford_share,
           {_q('CASE WHEN n_total != 0 THEN (n_obs / n_total - log10(1.0 + 1.0 / digit)) * (n_obs / n_total - log10(1.0 + 1.0 / digit)) / log10(1.0 + 1.0 / digit) * n_total END', 6)} AS chi2_contrib
    FROM counts, total
    ORDER BY digit
    """,
)
def q_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import profiling

    return profiling.benford_check(_events(spark, sf_dir))


@register(
    "volatility_cones",
    f"""
    WITH {_BARS_SQL.strip()},
    rets AS (
        SELECT symbol, minute_window,
               ln(close / lag(close) OVER (PARTITION BY symbol
                                           ORDER BY minute_window)) AS r
        FROM bars WHERE close > 0
    ),
    rv AS (SELECT * FROM rets WHERE r IS NOT NULL),
    rolled AS (
        SELECT symbol,
               CASE WHEN count(r) OVER w5 = 5
                    THEN stddev_samp(r) OVER w5 END AS rv_5,
               CASE WHEN count(r) OVER w20 = 20
                    THEN stddev_samp(r) OVER w20 END AS rv_20,
               CASE WHEN count(r) OVER w60 = 60
                    THEN stddev_samp(r) OVER w60 END AS rv_60
        FROM rv
        WINDOW w5 AS (PARTITION BY symbol ORDER BY minute_window
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
               w20 AS (PARTITION BY symbol ORDER BY minute_window
                       ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
               w60 AS (PARTITION BY symbol ORDER BY minute_window
                       ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
    ),
    stacked AS (
        SELECT symbol, h.horizon,
               CASE h.horizon WHEN 5 THEN rv_5 WHEN 20 THEN rv_20
                    ELSE rv_60 END AS rv
        FROM rolled, (SELECT unnest([5, 20, 60]) AS horizon) h
    )
    SELECT symbol, horizon,
           count(*) AS n_windows,
           {_q('min(rv)', 6)} AS rv_min,
           {_q('quantile_cont(rv, 0.25)', 6)} AS rv_p25,
           {_q('quantile_cont(rv, 0.5)', 6)} AS rv_median,
           {_q('quantile_cont(rv, 0.75)', 6)} AS rv_p75,
           {_q('max(rv)', 6)} AS rv_max
    FROM stacked
    WHERE rv IS NOT NULL
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_volatility_cones(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.volatility_cones(_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# Round-5 additions: data-contract expectations, PSI drift, approx cones
# ---------------------------------------------------------------------------

@register(
    "expectation_report",
    f"""
    WITH ev AS (
        SELECT count(*)::BIGINT AS n_rows,
               coalesce(sum((value IS NULL)::INT), 0)::BIGINT AS f_value_null,
               coalesce(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END), 0)::BIGINT AS f_value_neg,
               coalesce(sum((user_id IS NULL)::INT), 0)::BIGINT AS f_user_null,
               coalesce(sum(CASE WHEN event_type NOT IN
                        ('click','error','purchase','signup','view')
                        THEN 1 ELSE 0 END), 0)::BIGINT AS f_bad_type,
               coalesce(sum(CASE WHEN ts < TIMESTAMP '2000-01-01'
                        OR ts >= TIMESTAMP '2100-01-01'
                        THEN 1 ELSE 0 END), 0)::BIGINT AS f_ts_range
        FROM events
    ),
    checks AS (
        SELECT 'events_value_not_null' AS check_name, n_rows AS n_checked,
               f_value_null AS n_failed FROM ev
        UNION ALL SELECT 'events_value_non_negative', n_rows, f_value_neg FROM ev
        UNION ALL SELECT 'events_user_id_not_null', n_rows, f_user_null FROM ev
        UNION ALL SELECT 'events_event_type_in_enum', n_rows, f_bad_type FROM ev
        UNION ALL SELECT 'events_ts_in_epoch_range', n_rows, f_ts_range FROM ev
        UNION ALL SELECT 'orders_totalprice_positive', count(*)::BIGINT,
               coalesce(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END), 0)::BIGINT
               FROM orders
        UNION ALL SELECT 'orders_custkey_fk_customer',
               (SELECT count(*) FROM orders)::BIGINT,
               (SELECT count(*) FROM orders o WHERE NOT EXISTS
                    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))::BIGINT
        UNION ALL SELECT 'lineitem_orderkey_fk_orders',
               (SELECT count(*) FROM lineitem)::BIGINT,
               (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))::BIGINT
    )
    SELECT check_name, n_checked, n_failed,
           {_q('CASE WHEN n_checked != 0 THEN n_failed::DOUBLE / n_checked ELSE 0.0 END', 6)} AS fail_rate,
           (n_failed = 0) AS passed
    FROM checks
    ORDER BY check_name
    """,
)
def q_expectation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import profiling

    return profiling.expectation_report(
        _events(spark, sf_dir),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "psi_drift",
    f"""
    WITH vals AS (
        SELECT event_type AS symbol, epoch_us(ts) AS us, value
        FROM events WHERE value IS NOT NULL
    ),
    bounds AS (
        SELECT ((min(us) + max(us)) // 2)::BIGINT AS mid_us,
               min(value) AS vmin, max(value) AS vmax
        FROM vals
    ),
    binned AS (
        SELECT symbol, (us > mid_us) AS is_cur,
               (CASE WHEN vmax != vmin
                     THEN least(floor((value - vmin) / (vmax - vmin) * 10), 9)
                     ELSE 0 END)::INT AS bin
        FROM vals, bounds
    ),
    occupied AS (
        SELECT symbol, bin,
               coalesce(sum(CASE WHEN NOT is_cur THEN 1 ELSE 0 END), 0)::BIGINT AS n_ref,
               coalesce(sum(CASE WHEN is_cur THEN 1 ELSE 0 END), 0)::BIGINT AS n_cur
        FROM binned GROUP BY 1, 2
    ),
    -- full (symbol x n_bins) grid (round-12): bins empty in BOTH halves
    -- still carry their +0.5 Laplace mass so shares sum to exactly 1
    cells AS (
        SELECT g.symbol, g.bin,
               coalesce(o.n_ref, 0)::BIGINT AS n_ref,
               coalesce(o.n_cur, 0)::BIGINT AS n_cur
        FROM (SELECT s.symbol, r.range::INT AS bin
              FROM (SELECT DISTINCT symbol FROM vals) s
              CROSS JOIN range(10) r) g
        LEFT JOIN occupied o ON g.symbol = o.symbol AND g.bin = o.bin
    ),
    totals AS (
        SELECT symbol, sum(n_ref)::BIGINT AS t_ref, sum(n_cur)::BIGINT AS t_cur
        FROM cells GROUP BY 1
    ),
    contrib AS (
        SELECT c.symbol, c.n_ref, c.n_cur,
               ((c.n_cur + 0.5) / (t.t_cur + 5.0) - (c.n_ref + 0.5) / (t.t_ref + 5.0))
               * ln(((c.n_cur + 0.5) / (t.t_cur + 5.0))
                    / ((c.n_ref + 0.5) / (t.t_ref + 5.0))) AS c
        FROM cells c JOIN totals t USING (symbol)
    )
    SELECT symbol,
           sum(n_ref)::BIGINT AS n_ref,
           sum(n_cur)::BIGINT AS n_cur,
           {_q('sum(c)', 6)} AS psi,
           (sum(c) > 0.2) AS drift_alert
    FROM contrib
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import profiling

    return profiling.psi_drift(_events(spark, sf_dir))


# Streaming twin: micro-batch partial (symbol, bin) counts merged into
# the identical psi_from_cells rollup -- bit-identical to the batch
# monitor, so it shares psi_drift's oracle verbatim.
@register("streaming_psi_drift", ORACLE_SQL["psi_drift"])
def q_streaming_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.stateful import streaming_psi_drift_roundtrip

    return streaming_psi_drift_roundtrip(spark, sf_dir)


# The documented 100 TB swap for volatility_cones (GK quantile sketch in
# place of the exact per-group sort), in the oracle-checkable audit form:
# exact quantiles recomputed by the oracle + an approx_within_band
# rank-error certificate.  The oracle is the exact cone oracle with the
# TRUE certificate column appended.
@register(
    "volatility_cones_approx",
    "SELECT symbol, horizon, n_windows, rv_min, rv_p25, rv_median, rv_p75,"
    " rv_max, TRUE AS approx_within_band FROM (\n"
    + ORACLE_SQL["volatility_cones"]
    + "\n) ORDER BY symbol, horizon",
)
def q_volatility_cones_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.volatility_cones_approx(_events(spark, sf_dir))


@register(
    "bipower_jump_stats",
    f"""
    WITH {_BARS_SQL.strip()},
    b AS (
        SELECT symbol, minute_window, close,
               date_trunc('day', minute_window) AS day
        FROM bars WHERE close > 0
    ),
    rets AS (
        SELECT symbol, day, minute_window,
               ln(close / lag(close) OVER (PARTITION BY symbol, day
                                           ORDER BY minute_window)) AS r
        FROM b
    ),
    rv AS (SELECT * FROM rets WHERE r IS NOT NULL),
    rr AS (
        SELECT symbol, day, r,
               lag(r) OVER (PARTITION BY symbol, day ORDER BY minute_window) AS pr
        FROM rv
    )
    SELECT symbol, day,
           count(*) AS n_rets,
           {_q('sum(r * r)', 6)} AS realized_var,
           {_q('1.5707963267948966 * coalesce(sum(CASE WHEN pr IS NOT NULL THEN abs(r) * abs(pr) END), 0.0)', 6)} AS bipower_var,
           {_q('greatest(sum(r * r) - 1.5707963267948966 * coalesce(sum(CASE WHEN pr IS NOT NULL THEN abs(r) * abs(pr) END), 0.0), 0.0)', 6)} AS jump_var,
           CASE WHEN sum(r * r) != 0 THEN
               {_q('greatest(sum(r * r) - 1.5707963267948966 * coalesce(sum(CASE WHEN pr IS NOT NULL THEN abs(r) * abs(pr) END), 0.0), 0.0) / sum(r * r)', 6)}
           END AS jump_share
    FROM rr
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_bipower_jump_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.bipower_jump_stats(_events(spark, sf_dir))


@register(
    "ts_monotonicity_report",
    f"""
    WITH tagged AS (
        SELECT event_type AS symbol,
               CASE WHEN (epoch_us(max(ts) OVER (PARTITION BY event_type
                                                 ORDER BY event_id
                                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND 1 PRECEDING))
                          - epoch_us(ts))::DOUBLE / 1e6 > 0
                    THEN (epoch_us(max(ts) OVER (PARTITION BY event_type
                                                 ORDER BY event_id
                                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND 1 PRECEDING))
                          - epoch_us(ts))::DOUBLE / 1e6
               END AS late_s
        FROM events
    )
    SELECT symbol,
           count(*) AS n_events,
           count(late_s) AS n_out_of_order,
           {_q('count(late_s)::DOUBLE / count(*)', 6)} AS ooo_rate,
           {_q('coalesce(max(late_s), 0.0)', 6)} AS max_late_s
    FROM tagged
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_ts_monotonicity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import profiling

    return profiling.ts_monotonicity_report(_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# Custom Python DataSource (Spark 4 connector API) -- the sandbox-real
# stand-in for the reference's Kafka consumer (consumer_lake.py:37-42).
# The tick feed itself is md5-deterministic, so the ORACLE recomputes the
# SOURCE from generate_series and the whole connector path (partitioned
# batch read / offset-managed streaming read -> rollup) is hash-checked.
# ---------------------------------------------------------------------------

_TICK_N = 50_000

def _tick_gold_oracle() -> str:
    from .sources.tick_source import tick_oracle_sql

    return f"""
    WITH ticks AS ({tick_oracle_sql(_TICK_N)})
    SELECT event_type AS symbol,
           date_trunc('minute', ts) AS minute_window,
           floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 AS avg_price,
           floor((max(value)) * 1000000.0 + 0.5) / 1000000.0 AS max_price,
           floor((min(value)) * 1000000.0 + 0.5) / 1000000.0 AS min_price,
           floor((stddev_pop(value)) * 1000000.0 + 0.5) / 1000000.0 AS volatility,
           count(*) AS transaction_count
    FROM ticks
    GROUP BY 1, 2
    ORDER BY 2 DESC, 1
    """


@register("custom_source_gold", _tick_gold_oracle())
def q_custom_source_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship gold rollup fed by the custom ``rtfl_ticks`` batch
    connector: partitions generate executor-side, the rollup is the
    same events_market_summary shape as the parquet path."""
    from .sources import register_tick_source

    register_tick_source(spark)
    ticks = (
        spark.read.format("rtfl_ticks")
        .option("n_ticks", _TICK_N)
        .option("n_partitions", 8)
        .load()
    )
    return rollup.events_market_summary(ticks)


@register("streaming_custom_source_gold", _tick_gold_oracle())
def q_streaming_custom_source_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same gold rollup through the STREAMING face of the custom
    connector: offset-planned micro-batches (checkpointed, replayable)
    drain the bounded feed under availableNow into a parquet bronze,
    which then rolls up -- the Kafka->bronze->gold path with the broker
    swapped for the in-process source."""
    from .scratch import scratch_dir
    from .sources import register_tick_source

    out_dir = scratch_dir("rtfl_ticks_bronze_")
    ckpt_dir = scratch_dir("rtfl_ticks_ckpt_")
    # no stateful operator in this stream (append-only parquet bronze),
    # so no pinned-partition child session is needed -- which also
    # matters because Python data-source registration does not span
    # newSession() children in this build
    register_tick_source(spark)
    stream = (
        spark.readStream.format("rtfl_ticks")
        .option("n_ticks", _TICK_N)
        .option("batch_size", 12_500)
        .load()
    )
    # Python micro-batch streams don't support Trigger.AvailableNow
    # (Spark falls back to ONE batch); drain the bounded feed with
    # processAllAvailable -- the reader returns an empty batch at the
    # same offset once n_ticks is reached, which is the "no new data"
    # signal the drain waits for.
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt_dir)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    from .sources.tick_source import TICK_SCHEMA

    bronze = spark.read.schema(TICK_SCHEMA).parquet(out_dir)
    return rollup.events_market_summary(bronze)


@register(
    "streaming_expectation_gate",
    f"""
    WITH tagged AS (
        SELECT value,
               CASE WHEN value IS NULL THEN 'value_null'
                    WHEN value < 0 THEN 'value_negative'
                    WHEN user_id IS NULL THEN 'user_null'
                    WHEN event_type NOT IN
                         ('click','error','purchase','signup','view')
                         THEN 'bad_event_type' END AS fail_reason
        FROM events
    )
    SELECT * FROM (
        SELECT 'passed' AS status, '' AS reason,
               count(*)::BIGINT AS n_rows,
               {_q('coalesce(sum(value), 0.0)', 6)} AS total_value
        FROM tagged WHERE fail_reason IS NULL
        UNION ALL
        SELECT 'quarantined', fail_reason, count(*)::BIGINT,
               {_q('coalesce(sum(value), 0.0)', 6)}
        FROM tagged WHERE fail_reason IS NOT NULL GROUP BY 2
    )
    ORDER BY status, reason
    """,
)
def q_streaming_expectation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.stateful import streaming_expectation_gate_roundtrip

    return streaming_expectation_gate_roundtrip(spark, sf_dir)


@register("custom_sink_roundtrip", ORACLE_SQL["gold_market_summary"])
def q_custom_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gold rollup THROUGH the custom ``rtfl_jsonl`` writer: executor-side
    JSONL shards + driver-side manifest commit (the two-phase visibility
    protocol), then read back exactly the committed shards.  Values are
    checked through the sink, so the oracle is the flagship's own --
    same contract as gold_csv_roundtrip for the built-in CSV sink."""
    from .scratch import scratch_dir
    from .sources import read_manifested, register_jsonl_sink

    register_jsonl_sink(spark)
    gold = rollup.events_market_summary(_events(spark, sf_dir))
    out_dir = scratch_dir("rtfl_jsonl_sink_")
    gold.write.format("rtfl_jsonl").option("path", out_dir).mode("append").save()
    schema = (
        "symbol string, minute_window timestamp, avg_price double,"
        " max_price double, min_price double, volatility double,"
        " transaction_count long"
    )
    return read_manifested(spark, out_dir, schema).orderBy(
        F.col("minute_window").desc(), F.col("symbol")
    )


# Iterative PageRank, exactly oracle-checked: the five iterations UNROLL
# into CTE chains (the bpe_train_merges discipline applied to a graph
# algorithm) -- inflow aggregation, dangling-mass redistribution, and
# teleport per step, at node/edge cardinality.
def _pagerank_oracle_sql(d: float = 0.85, n_iter: int = 5) -> str:
    sql = f"""
    WITH steps AS (
        SELECT from_type, event_type AS to_type
        FROM (
            SELECT event_type, lag(event_type) OVER (
                PARTITION BY user_id ORDER BY ts, event_id) AS from_type
            FROM events
        )
        WHERE from_type IS NOT NULL
    ),
    counts AS (
        SELECT from_type, to_type, count(*)::BIGINT AS n
        FROM steps GROUP BY 1, 2
    ),
    out_tot AS (SELECT from_type, sum(n)::BIGINT AS tot FROM counts GROUP BY 1),
    edges AS (
        SELECT c.from_type, c.to_type, c.n::DOUBLE / o.tot AS w
        FROM counts c JOIN out_tot o USING (from_type)
    ),
    nodes AS (SELECT DISTINCT event_type AS node FROM events),
    nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    pr_0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes, nn)"""
    for i in range(n_iter):
        sql += f""",
    inflow_{i} AS (
        SELECT e.to_type AS node, sum(p.pr * e.w) AS s
        FROM pr_{i} p JOIN edges e ON e.from_type = p.node GROUP BY 1
    ),
    dang_{i} AS (
        SELECT coalesce(sum(p.pr), 0.0) AS m FROM pr_{i} p
        WHERE NOT EXISTS (SELECT 1 FROM out_tot o WHERE o.from_type = p.node)
    ),
    pr_{i + 1} AS (
        SELECT n.node,
               (1.0 - {d}) / nn.n
               + {d} * (coalesce(f.s, 0.0) + dg.m / nn.n) AS pr
        FROM nodes n
        CROSS JOIN nn
        CROSS JOIN dang_{i} dg
        LEFT JOIN inflow_{i} f ON f.node = n.node
    )"""
    return sql + f"""
    SELECT p.node,
           {_q('p.pr', 6)} AS pagerank,
           coalesce(ie.n_in_edges, 0)::BIGINT AS n_in_edges,
           coalesce(oe.n_out_edges, 0)::BIGINT AS n_out_edges
    FROM pr_{n_iter} p
    LEFT JOIN (SELECT to_type AS node, count(*)::BIGINT AS n_in_edges
               FROM edges GROUP BY 1) ie ON ie.node = p.node
    LEFT JOIN (SELECT from_type AS node, count(*)::BIGINT AS n_out_edges
               FROM edges GROUP BY 1) oe ON oe.node = p.node
    ORDER BY p.node
    """


@register(
    "ses_forecast",
    f"""
    WITH daily AS (
        SELECT event_type AS symbol, date_trunc('day', ts) AS day,
               sum(value) AS x
        FROM events GROUP BY 1, 2
    ),
    series AS (
        SELECT symbol, list(x ORDER BY day) AS xs FROM daily GROUP BY 1
    )
    SELECT symbol,
           len(xs)::INT AS n_days,
           {_q('xs[len(xs)]', 6)} AS last_actual,
           {_q('list_reduce(xs, (acc, x) -> 0.3 * x + 0.7 * acc)', 6)} AS forecast_next,
           CASE WHEN len(xs) >= 2 THEN
               {_q('''list_reduce(
                    list_prepend(0.0,
                        list_transform(generate_series(2, len(xs)),
                            t -> abs(xs[t] - list_reduce(xs[1:t-1],
                                     (acc, x) -> 0.3 * x + 0.7 * acc)))),
                    (acc, e) -> acc + e) / (len(xs) - 1)''', 6)}
           END AS backtest_mae
    FROM series
    ORDER BY symbol
    """,
)
def q_ses_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.ses_forecast(_events(spark, sf_dir))


@register(
    "customer_rfm",
    f"""
    WITH per_cust AS (
        SELECT o_custkey,
               max(o_orderdate) AS last_order,
               count(*)::BIGINT AS frequency,
               sum(o_totalprice) AS monetary
        FROM orders GROUP BY 1
    ),
    ref AS (SELECT max(last_order) AS ref_date FROM per_cust),
    base AS (
        SELECT o_custkey,
               date_diff('day', last_order, ref_date)::INT AS recency_days,
               frequency,
               {_q('monetary', 2)} AS monetary
        FROM per_cust, ref
    ),
    tiled AS (
        SELECT o_custkey, recency_days, frequency, monetary,
               ntile(4) OVER (ORDER BY recency_days ASC, o_custkey) AS r_tile,
               ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_tile,
               ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_tile
        FROM base
    )
    SELECT o_custkey, recency_days, frequency, monetary,
           r_tile::INT AS r_tile, f_tile::INT AS f_tile, m_tile::INT AS m_tile,
           r_tile::VARCHAR || f_tile::VARCHAR || m_tile::VARCHAR AS rfm_cell
    FROM tiled
    ORDER BY o_custkey
    """,
)
def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import customer_rfm

    return customer_rfm(load_table(spark, sf_dir, "orders"))


# The documented 100 TB swap for customer_rfm, registered as a checked
# query (r7 verdict item #9; volatility_cones_approx certificate
# template): cut points emitted are the EXACT quartiles (quantile_cont
# twin), customers bucket by quantized metric vs quantized cuts, and
# the GK-sketch accuracy folds into approx_within_band = TRUE.
@register(
    "customer_rfm_approx",
    f"""
    WITH per_cust AS (
        SELECT o_custkey,
               max(o_orderdate) AS last_order,
               count(*)::BIGINT AS frequency,
               sum(o_totalprice) AS monetary
        FROM orders GROUP BY 1
    ),
    ref AS (SELECT max(last_order) AS ref_date FROM per_cust),
    base AS (
        SELECT o_custkey,
               date_diff('day', last_order, ref_date)::INT AS recency_days,
               frequency,
               {_q('monetary', 2)} AS monetary
        FROM per_cust, ref
    ),
    cuts AS (
        SELECT list_transform(quantile_cont(recency_days, [0.25, 0.5, 0.75]),
                              x -> floor(x * 1000000.0 + 0.5) / 1000000.0) AS cr,
               list_transform(quantile_cont(frequency, [0.25, 0.5, 0.75]),
                              x -> floor(x * 1000000.0 + 0.5) / 1000000.0) AS cf,
               list_transform(quantile_cont(monetary, [0.25, 0.5, 0.75]),
                              x -> floor(x * 1000000.0 + 0.5) / 1000000.0) AS cm
        FROM base
    ),
    stacked AS (
        SELECT 'frequency' AS metric, frequency::DOUBLE AS v, cf AS cuts
        FROM base CROSS JOIN cuts
        UNION ALL
        SELECT 'monetary', monetary, cm FROM base CROSS JOIN cuts
        UNION ALL
        SELECT 'recency', recency_days::DOUBLE, cr FROM base CROSS JOIN cuts
    ),
    tiled AS (
        SELECT metric, v, cuts,
               1 + list_sum(list_transform(cuts, c ->
                       CASE WHEN v > c THEN 1 ELSE 0 END)) AS tile
        FROM stacked
    )
    SELECT metric,
           count(*) AS n_customers,
           min(cuts[1]) AS c25,
           min(cuts[2]) AS c50,
           min(cuts[3]) AS c75,
           sum(CASE WHEN tile = 1 THEN 1 ELSE 0 END)::BIGINT AS n_t1,
           sum(CASE WHEN tile = 2 THEN 1 ELSE 0 END)::BIGINT AS n_t2,
           sum(CASE WHEN tile = 3 THEN 1 ELSE 0 END)::BIGINT AS n_t3,
           sum(CASE WHEN tile = 4 THEN 1 ELSE 0 END)::BIGINT AS n_t4,
           TRUE AS approx_within_band
    FROM tiled
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_customer_rfm_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import customer_rfm_approx

    return customer_rfm_approx(load_table(spark, sf_dir, "orders"))


@register(
    "session_event_pmi",
    f"""
    WITH s AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, event_type,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_no
        FROM s
    ),
    st AS (SELECT DISTINCT user_id, sess_no, event_type FROM sess),
    nt AS (SELECT count(*)::BIGINT AS n
           FROM (SELECT DISTINCT user_id, sess_no FROM sess)),
    singles AS (SELECT event_type AS t, count(*)::BIGINT AS n FROM st GROUP BY 1),
    pairs AS (
        SELECT a.event_type AS ta, b.event_type AS tb, count(*)::BIGINT AS n_both
        FROM st a
        JOIN st b ON a.user_id = b.user_id AND a.sess_no = b.sess_no
                 AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.ta AS type_a, p.tb AS type_b, p.n_both,
           sa.n AS n_a, sb.n AS n_b,
           {_q('ln(p.n_both::DOUBLE * nt.n / (sa.n::DOUBLE * sb.n))', 6)} AS pmi
    FROM pairs p
    JOIN singles sa ON sa.t = p.ta
    JOIN singles sb ON sb.t = p.tb
    CROSS JOIN nt
    ORDER BY 1, 2
    """,
)
def q_session_event_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.windows import session_event_pmi

    return session_event_pmi(_events(spark, sf_dir))


@register("event_pagerank", _pagerank_oracle_sql())
def q_event_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import windows as win_ops

    return win_ops.event_pagerank(_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# Round-5 continuation: market-risk / liquidity family (Amihud, Roll,
# historical VaR/ES, Black-Scholes).  Shared daily-close oracle CTE below.
# ---------------------------------------------------------------------------

_DAILY_CLOSE_SQL = """
dclose AS (
    SELECT event_type AS symbol, date_trunc('day', ts) AS day,
           max(CASE WHEN rn_d = 1 THEN value END) AS c
    FROM (
        SELECT event_type, ts, value,
               row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    GROUP BY 1, 2
)
"""


@register(
    "amihud_illiquidity",
    f"""
    WITH daily AS (
        SELECT event_type AS symbol, date_trunc('day', ts) AS day,
               max(CASE WHEN rn_d = 1 THEN value END) AS c,
               sum(value * qty) AS dv
        FROM (
            SELECT *, (json_extract_string(props, '$.k'))::DOUBLE AS qty,
                   row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM events
        )
        GROUP BY 1, 2
    ),
    rets AS (
        SELECT symbol, dv,
               c / lag(c) OVER (PARTITION BY symbol ORDER BY day) - 1.0 AS r
        FROM daily
    )
    SELECT symbol, count(*)::BIGINT AS n_days,
           {_q('avg(abs(r) / dv) * 1000000.0', 6)} AS amihud_x1e6,
           {_q('avg(dv)', 2)} AS avg_dollar_volume
    FROM rets
    WHERE r IS NOT NULL AND dv > 0
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_amihud_illiquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.amihud_illiquidity(_events(spark, sf_dir))


@register(
    "roll_spread",
    f"""
    WITH bars AS (
        SELECT symbol, minute_window,
               max(CASE WHEN rn_d = 1 THEN value END) AS close
        FROM (
            SELECT event_type AS symbol, date_trunc('minute', ts) AS minute_window,
                   value,
                   row_number() OVER (PARTITION BY event_type, date_trunc('minute', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM events
        )
        GROUP BY 1, 2
    ),
    dps AS (
        SELECT symbol, minute_window,
               close - lag(close) OVER (PARTITION BY symbol ORDER BY minute_window) AS dp
        FROM bars
    ),
    pairs AS (
        SELECT symbol, dp,
               lag(dp) OVER (PARTITION BY symbol ORDER BY minute_window) AS dp_prev
        FROM dps
    )
    SELECT symbol, count(*)::BIGINT AS n_pairs,
           {_q('covar_pop(dp, dp_prev)', 6)} AS serial_cov,
           CASE WHEN {_q('covar_pop(dp, dp_prev)', 6)} < 0
                THEN {_q('2.0 * sqrt(-covar_pop(dp, dp_prev))', 6)}
           END AS roll_spread
    FROM pairs
    WHERE dp IS NOT NULL AND dp_prev IS NOT NULL
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.roll_spread(_events(spark, sf_dir))


@register(
    "var_cvar_report",
    f"""
    WITH {_DAILY_CLOSE_SQL.strip()},
    rets AS (
        SELECT symbol, day,
               c / lag(c) OVER (PARTITION BY symbol ORDER BY day) - 1.0 AS r
        FROM dclose
    ),
    ranked AS (
        SELECT symbol, r,
               row_number() OVER (PARTITION BY symbol ORDER BY r, day) AS rk,
               count(*) OVER (PARTITION BY symbol) AS n
        FROM rets WHERE r IS NOT NULL
    ),
    ks AS (
        SELECT *, greatest(1, ceil(0.05::DOUBLE * n)::BIGINT) AS k FROM ranked
    )
    SELECT symbol, max(n)::BIGINT AS n_days,
           {_q('max(CASE WHEN rk = k THEN r END)', 6)} AS var95,
           {_q('sum(CASE WHEN rk <= k THEN r END) / max(CASE WHEN rk <= k THEN rk END)', 6)} AS cvar95,
           {_q('min(r)', 6)} AS worst_return
    FROM ks
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_var_cvar_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.var_cvar_report(_events(spark, sf_dir))


def _bs_oracle_p3_cte() -> str:
    """Black-Scholes oracle CTE chain (spot/strike/sigma ->
    d1/d2/N(d1)/N(d2) as ``p3``) -- the SQL twin of
    ``finance._bs_priced``, textually identical to the chain inside
    ``_black_scholes_oracle_sql`` (kept verbatim there to leave the
    long-green pricer oracle untouched)."""
    from .operators.finance import _norm_cdf_sql

    rate, t_years = 0.02, 30.0 / 365.0
    sqrt252 = 252.0**0.5
    return f"""src AS (SELECT * FROM events WHERE value > 0),
    {_DAILY_CLOSE_SQL.strip().replace("FROM events", "FROM src")},
    lr AS (
        SELECT symbol, day, c,
               ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day)) AS lr
        FROM dclose
    ),
    per_sym AS (
        SELECT symbol, arg_max(c, day) AS spot, stddev_pop(lr) AS sd_daily,
               count(lr) AS n_rets
        FROM lr GROUP BY 1
    ),
    base AS (
        SELECT symbol, n_rets, spot, floor(spot + 0.5)::DOUBLE AS strike,
               sd_daily * {sqrt252!r} AS sigma
        FROM per_sym WHERE n_rets >= 2 AND spot > 0
    ),
    p1 AS (
        SELECT *, sigma * sqrt({t_years!r}) AS sqt,
               CASE WHEN sigma > 0
                    THEN (ln(spot / strike) + ({rate!r} + sigma * sigma / 2.0)
                          * {t_years!r}) / (sigma * sqrt({t_years!r}))
               END AS d1
        FROM base
    ),
    p2 AS (SELECT *, d1 - sqt AS d2 FROM p1),
    p3 AS (
        SELECT *, {_norm_cdf_sql("d1")} AS nd1, {_norm_cdf_sql("d2")} AS nd2
        FROM p2
    )"""


def _black_scholes_oracle_sql() -> str:
    from .operators.finance import _norm_cdf_sql

    rate, t_years = 0.02, 30.0 / 365.0
    rt = rate * t_years
    sqrt252 = 252.0**0.5
    return f"""
    WITH src AS (SELECT * FROM events WHERE value > 0),
    {_DAILY_CLOSE_SQL.strip().replace("FROM events", "FROM src")},
    lr AS (
        SELECT symbol, day, c,
               ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day)) AS lr
        FROM dclose
    ),
    per_sym AS (
        SELECT symbol, arg_max(c, day) AS spot, stddev_pop(lr) AS sd_daily,
               count(lr) AS n_rets
        FROM lr GROUP BY 1
    ),
    base AS (
        SELECT symbol, n_rets, spot, floor(spot + 0.5)::DOUBLE AS strike,
               sd_daily * {sqrt252!r} AS sigma
        FROM per_sym WHERE n_rets >= 2 AND spot > 0
    ),
    p1 AS (
        SELECT *, sigma * sqrt({t_years!r}) AS sqt,
               CASE WHEN sigma > 0
                    THEN (ln(spot / strike) + ({rate!r} + sigma * sigma / 2.0)
                          * {t_years!r}) / (sigma * sqrt({t_years!r}))
               END AS d1
        FROM base
    ),
    p2 AS (SELECT *, d1 - sqt AS d2 FROM p1),
    p3 AS (
        SELECT *, {_norm_cdf_sql("d1")} AS nd1, {_norm_cdf_sql("d2")} AS nd2
        FROM p2
    )
    SELECT symbol,
           {_q('spot', 6)} AS spot,
           strike,
           {_q('sigma', 6)} AS sigma_annual,
           {_q('d1', 6)} AS d1,
           {_q('d2', 6)} AS d2,
           {_q(f'spot * nd1 - strike * exp(-{rt!r}) * nd2', 6)} AS call_price,
           {_q(f'strike * exp(-{rt!r}) * (1.0 - nd2) - spot * (1.0 - nd1)', 6)} AS put_price
    FROM p3
    ORDER BY symbol
    """


@register("black_scholes_pricer", _black_scholes_oracle_sql())
def q_black_scholes_pricer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.black_scholes_pricer(_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# Round-5 continuation: recursive-fold time series (Holt, Heikin-Ashi,
# CUSUM, Hurst).  The two-state folds use the prepended-init struct-list
# list_reduce trick on the DuckDB side (list_reduce seeds with the FIRST
# element, so the init struct is prepended and data rides in an 'x' field).
# ---------------------------------------------------------------------------


@register(
    "holt_forecast",
    # NB: a struct-accumulator list_reduce would be the natural twin of
    # Spark's aggregate() fold, but DuckDB 1.0 resolves ``acc.l`` inside a
    # LATER struct-literal field as a lateral reference to the output
    # field just computed (not the accumulator) -- silently wrong for any
    # two-state recurrence.  The recursive CTE below carries (l, b) as
    # plain columns, runs the identical IEEE op order, and has no such
    # shadowing.
    f"""
    WITH RECURSIVE daily AS (
        SELECT event_type AS symbol, date_trunc('day', ts) AS day,
               sum(value) AS x
        FROM events GROUP BY 1, 2
    ),
    series AS (
        SELECT symbol, list(x ORDER BY day) AS xs FROM daily GROUP BY 1
        HAVING count(*) >= 2
    ),
    hw AS (
        SELECT symbol, xs, len(xs) AS n, 2 AS t,
               xs[2] AS l, xs[2] - xs[1] AS b
        FROM series
        UNION ALL
        SELECT symbol, xs, n, t + 1,
               0.3 * xs[t + 1] + 0.7 * (l + b),
               0.1 * ((0.3 * xs[t + 1] + 0.7 * (l + b)) - l) + 0.9 * b
        FROM hw WHERE t < n
    )
    SELECT symbol, n::INT AS n_days,
           {_q('xs[n]', 6)} AS last_actual,
           {_q('l', 6)} AS level,
           {_q('b', 6)} AS trend,
           {_q('l + b', 6)} AS forecast_next
    FROM hw
    WHERE t = n
    ORDER BY symbol
    """,
)
def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.holt_forecast(_events(spark, sf_dir))


@register(
    "heikin_ashi",
    f"""
    WITH {_DAILY_BARS_SQL.strip()},
    series AS (
        SELECT symbol,
               list({{'day': day, 'o': o, 'h': h, 'l': l, 'c': c}} ORDER BY day) AS bs
        FROM dbars GROUP BY 1
    ),
    ex AS (
        SELECT symbol, bs,
               unnest(generate_series(1, len(bs))) AS t
        FROM series
    ),
    vals AS (
        SELECT symbol,
               bs[t].day AS day, bs[t].h AS h, bs[t].l AS l,
               list_transform(bs, b -> (b.o + b.h + b.l + b.c) / 4.0)[t] AS hc,
               list_reduce(
                   list_prepend((bs[1].o + bs[1].c) / 2.0,
                       list_transform(bs, b -> (b.o + b.h + b.l + b.c) / 4.0)[1:t-1]),
                   (acc, x) -> (acc + x) / 2.0) AS ho
        FROM ex
    )
    SELECT symbol, day,
           {_q('ho', 6)} AS ha_open,
           {_q('greatest(h, ho, hc)', 6)} AS ha_high,
           {_q('least(l, ho, hc)', 6)} AS ha_low,
           {_q('hc', 6)} AS ha_close,
           ({_q('hc', 6)} > {_q('ho', 6)}) AS bullish
    FROM vals
    ORDER BY symbol, day
    """,
)
def q_heikin_ashi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.heikin_ashi(_events(spark, sf_dir))


@register(
    "cusum_changepoints",
    f"""
    WITH daily AS (
        SELECT event_type AS symbol, date_trunc('day', ts) AS day,
               avg(value) AS x
        FROM events GROUP BY 1, 2
    ),
    series AS (
        SELECT symbol, list(day ORDER BY day) AS ds, list(x ORDER BY day) AS xs
        FROM daily GROUP BY 1
    ),
    staged AS (
        SELECT symbol, ds, xs, len(xs) AS n,
               list_reduce(list_prepend(0.0::DOUBLE, xs),
                           (acc, x) -> acc + x) / len(xs) AS mu
        FROM series
    ),
    staged2 AS (
        SELECT *, sqrt(list_reduce(list_prepend(0.0::DOUBLE, xs),
                       (acc, x) -> acc + (x - mu) * (x - mu)) / n) AS sd
        FROM staged
    ),
    ex AS (
        SELECT symbol, ds, xs, mu, sd,
               unnest(generate_series(1, n)) AS t
        FROM staged2
    ),
    vals AS (
        SELECT symbol, ds[t] AS day, xs[t] AS x, sd,
               list_reduce(list_prepend(0.0::DOUBLE, xs[1:t]),
                   (acc, x) -> greatest(0.0, acc + x - mu - 0.5 * sd)) AS sp,
               list_reduce(list_prepend(0.0::DOUBLE, xs[1:t]),
                   (acc, x) -> greatest(0.0, acc + mu - x - 0.5 * sd)) AS sn
        FROM ex
    )
    SELECT symbol, day,
           {_q('x', 6)} AS x,
           {_q('sp', 6)} AS cusum_pos,
           {_q('sn', 6)} AS cusum_neg,
           ({_q('sp', 6)} > {_q('4.0 * sd', 6)}) AS alarm_pos,
           ({_q('sn', 6)} > {_q('4.0 * sd', 6)}) AS alarm_neg
    FROM vals
    ORDER BY symbol, day
    """,
)
def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.cusum_changepoints(_events(spark, sf_dir))


def _hurst_oracle_sql(scales: tuple = (16, 64, 256)) -> str:
    scale_list = ", ".join(str(int(s)) for s in scales)
    rs_cols = ",\n           ".join(
        f"{_q(f'max(CASE WHEN scale = {int(s)} THEN avg_rs END)', 6)} AS rs_{int(s)}"
        for s in scales
    )
    return f"""
    WITH bars AS (
        SELECT symbol, minute_window,
               max(CASE WHEN rn_d = 1 THEN value END) AS close
        FROM (
            SELECT event_type AS symbol, date_trunc('minute', ts) AS minute_window,
                   value,
                   row_number() OVER (PARTITION BY event_type, date_trunc('minute', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM events
        )
        GROUP BY 1, 2
        HAVING max(CASE WHEN rn_d = 1 THEN value END) > 0
    ),
    rets AS (
        SELECT symbol, minute_window,
               ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY minute_window)) AS r
        FROM bars
    ),
    idxd AS (
        SELECT symbol, r,
               row_number() OVER (PARTITION BY symbol ORDER BY minute_window) - 1 AS idx
        FROM rets WHERE r IS NOT NULL
    ),
    blocks AS (
        SELECT symbol, s.scale, r, idx, (idx // s.scale) AS blk
        FROM idxd CROSS JOIN (SELECT unnest([{scale_list}]) AS scale) s
    ),
    bstats AS (
        SELECT symbol, scale, blk, count(*) AS bn, avg(r) AS bmean,
               stddev_pop(r) AS bsd
        FROM blocks GROUP BY 1, 2, 3
    ),
    cums AS (
        SELECT b.symbol, b.scale, b.blk, st.bsd,
               sum(b.r - st.bmean) OVER (PARTITION BY b.symbol, b.scale, b.blk
                                         ORDER BY b.idx
                                         ROWS UNBOUNDED PRECEDING) AS cum
        FROM blocks b
        JOIN bstats st USING (symbol, scale, blk)
        WHERE st.bn = b.scale AND st.bsd > 0
    ),
    rs AS (
        SELECT symbol, scale, avg(rs_b) AS avg_rs, count(*) AS n_blocks
        FROM (
            SELECT symbol, scale, blk,
                   (max(cum) - min(cum)) / max(bsd) AS rs_b
            FROM cums GROUP BY 1, 2, 3
        )
        GROUP BY 1, 2
    ),
    fit AS (
        SELECT symbol, count(*) AS n_scales,
               CASE WHEN count(*) >= 2 AND var_pop(ln(scale::DOUBLE)) > 0
                    THEN covar_pop(ln(scale::DOUBLE), ln(avg_rs))
                         / var_pop(ln(scale::DOUBLE))
               END AS hurst_raw
        FROM rs GROUP BY 1
    )
    SELECT f.symbol, f.n_scales::BIGINT AS n_scales,
           {_q('max(f.hurst_raw)', 6)} AS hurst,
           {rs_cols}
    FROM fit f JOIN rs USING (symbol)
    GROUP BY 1, 2
    ORDER BY 1
    """


@register("hurst_exponent", _hurst_oracle_sql())
def q_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.hurst_exponent(_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# Round-5 continuation: data-quality audits (referential integrity,
# functional dependencies) + the binned interval join.
# ---------------------------------------------------------------------------

_RI_EDGES = [
    ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier.s_suppkey", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("customer.c_nationkey->nation.n_nationkey", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation.n_nationkey", "supplier", "s_nationkey",
     "nation", "n_nationkey"),
    ("nation.n_regionkey->region.r_regionkey", "nation", "n_regionkey",
     "region", "r_regionkey"),
]


def _ri_orphans_oracle_sql() -> str:
    parts = []
    for edge, child, fk, parent, pk in _RI_EDGES:
        orphans = (
            f"coalesce(sum(CASE WHEN c.{fk} IS NOT NULL AND p.__pk IS NULL"
            f" THEN 1 END), 0)"
        )
        parts.append(f"""
        SELECT '{edge}' AS fk_edge,
               count(*)::BIGINT AS n_rows,
               {orphans}::BIGINT AS n_orphans,
               CASE WHEN count(*) > 0
                    THEN {_q(f'{orphans} / count(*)', 6)}
               END AS orphan_rate
        FROM {child} c
        LEFT JOIN (SELECT DISTINCT {pk} AS __pk FROM {parent}) p
          ON c.{fk} = p.__pk""")
    return " UNION ALL ".join(parts) + " ORDER BY fk_edge"


@register("ri_orphans", _ri_orphans_oracle_sql())
def q_ri_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profiling import ri_orphans

    names = {t for _, c, _, p, _ in _RI_EDGES for t in (c, p)}
    return ri_orphans({n: load_table(spark, sf_dir, n) for n in names})


_FD_RULES = [
    ("customer.c_custkey->c_name", "customer", ["c_custkey"], "c_name"),
    ("orders.o_orderkey->o_custkey", "orders", ["o_orderkey"], "o_custkey"),
    ("lineitem.(l_orderkey,l_linenumber)->l_partkey", "lineitem",
     ["l_orderkey", "l_linenumber"], "l_partkey"),
    ("nation.n_nationkey->n_name", "nation", ["n_nationkey"], "n_name"),
    ("events.event_id->user_id", "events", ["event_id"], "user_id"),
    ("documents.doc_id->source", "documents", ["doc_id"], "source"),
]


def _fd_check_oracle_sql() -> str:
    parts = []
    for rule, table, det, dep in _FD_RULES:
        viol = "coalesce(sum(CASE WHEN nd > 1 THEN 1 END), 0)"
        parts.append(f"""
        SELECT '{rule}' AS dependency,
               count(*)::BIGINT AS n_groups,
               {viol}::BIGINT AS n_violations,
               {viol} = 0 AS holds
        FROM (SELECT count(DISTINCT {dep}) AS nd
              FROM {table} GROUP BY {", ".join(det)})""")
    return " UNION ALL ".join(parts) + " ORDER BY dependency"


@register("fd_check", _fd_check_oracle_sql())
def q_fd_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profiling import fd_check

    names = {t for _, t, _, _ in _FD_RULES}
    return fd_check({n: load_table(spark, sf_dir, n) for n in names})


@register(
    "order_window_activity",
    f"""
    WITH per_day AS (
        SELECT date_trunc('day', l_shipdate) AS ship_day,
               count(*)::BIGINT AS day_cnt,
               sum(l_extendedprice * (1.0 - l_discount)) AS day_rev
        FROM lineitem GROUP BY 1
    )
    SELECT o.o_orderkey, o.o_orderdate,
           coalesce(sum(d.day_cnt), 0)::BIGINT AS n_shipped,
           {_q('coalesce(sum(d.day_rev), 0.0)', 2)} AS window_revenue
    FROM orders o
    LEFT JOIN per_day d
      ON d.ship_day >= date_trunc('day', o.o_orderdate)
     AND d.ship_day < date_trunc('day', o.o_orderdate) + INTERVAL 7 DAY
    GROUP BY 1, 2
    ORDER BY 1
    """,
)
def q_order_window_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.joins import order_window_activity

    return order_window_activity(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


# ---------------------------------------------------------------------------
# Round-5 continuation: ML-flavored evaluation ops -- k-NN vote, centroid
# silhouette, exactly-unrolled Lloyd k-means, naive-Bayes language
# classifier with confusion matrix.  All decisions (argmin/argmax) happen
# on quantized values with deterministic tiebreaks, so the discrete
# choices are bit-identical across engines.
# ---------------------------------------------------------------------------

_EMB_CTE = (
    "emb AS (SELECT vec_id, label,"
    " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)"
)


@register(
    "knn_label_vote",
    f"""
    WITH {_EMB_CTE},
    q AS (SELECT vec_id AS query_id, label AS true_label, v AS q
          FROM emb WHERE vec_id < 20),
    c AS (SELECT vec_id AS neighbor_id, label AS n_label, v
          FROM emb WHERE vec_id >= 20),
    pairs AS (
        SELECT q.query_id, q.true_label, e.neighbor_id, e.n_label,
               CASE WHEN sqrt(list_sum(list_transform(q.q, x -> x * x)))
                         * sqrt(list_sum(list_transform(e.v, x -> x * x))) != 0
                    THEN list_sum(list_transform(generate_series(1, len(q.q)),
                                                 i -> q.q[i] * e.v[i]))
                         / (sqrt(list_sum(list_transform(q.q, x -> x * x)))
                            * sqrt(list_sum(list_transform(e.v, x -> x * x))))
                    ELSE 0.0 END AS cos_raw
        FROM q CROSS JOIN c e
    ),
    topk AS (
        SELECT * FROM (
            SELECT query_id, true_label, n_label,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY {_q('cos_raw', 6)} DESC,
                                               neighbor_id) AS rank
            FROM pairs
        ) WHERE rank <= 5
    ),
    votes AS (
        SELECT query_id, true_label, n_label, count(*)::BIGINT AS n_votes
        FROM topk GROUP BY 1, 2, 3
    )
    SELECT query_id, true_label, n_label AS pred_label, n_votes,
           n_label = true_label AS correct
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY n_votes DESC, n_label) AS vrank
        FROM votes
    )
    WHERE vrank = 1
    ORDER BY query_id
    """,
)
def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity

    return similarity.knn_label_vote(
        load_table(spark, sf_dir, "embeddings"), n_queries=20, k=5
    )


@register(
    "centroid_silhouette",
    f"""
    WITH {_EMB_CTE},
    dims AS (
        SELECT label, i AS pos, v[i] AS x
        FROM (SELECT label, v, unnest(generate_series(1, len(v))) AS i FROM emb)
    ),
    centd AS (SELECT label, pos, {_q('avg(x)', 6)} AS m FROM dims GROUP BY 1, 2),
    cent AS (SELECT label AS c_label, list(m ORDER BY pos) AS c
             FROM centd GROUP BY 1),
    pairs AS (
        SELECT e.vec_id, e.label, ct.c_label,
               sqrt(list_sum(list_transform(generate_series(1, len(e.v)),
                    i -> (e.v[i] - ct.c[i]) * (e.v[i] - ct.c[i])))) AS dist
        FROM emb e CROSS JOIN cent ct
    ),
    per_vec AS (
        SELECT vec_id, label,
               max(CASE WHEN c_label = label THEN dist END) AS a,
               min(CASE WHEN c_label != label THEN dist END) AS b
        FROM pairs GROUP BY 1, 2
    )
    SELECT label, count(*)::BIGINT AS n_vecs,
           {_q('avg(a)', 6)} AS avg_own_dist,
           {_q('avg(b)', 6)} AS avg_other_dist,
           {_q("avg(CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b) ELSE 0.0 END)", 6)} AS avg_silhouette
    FROM per_vec
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_centroid_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity

    return similarity.centroid_silhouette(load_table(spark, sf_dir, "embeddings"))


def _kmeans_oracle_sql(k: int = 4, n_iters: int = 2) -> str:
    def d2(v: str, c: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, len({v})),"
            f" i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])))"
        )

    sql = f"""
    WITH emb AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
    c0 AS (SELECT vec_id::INT AS cluster_id, v AS c FROM emb WHERE vec_id < {k})"""
    prev = "c0"
    for i in range(1, n_iters + 1):
        sql += f""",
    s{i} AS (
        SELECT e.vec_id, e.v, ct.cluster_id, {_q(d2('e.v', 'ct.c'), 6)} AS d2q
        FROM emb e CROSS JOIN {prev} ct
    ),
    a{i} AS (
        SELECT vec_id, v, cluster_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d2q, cluster_id) AS rn
            FROM s{i}
        ) WHERE rn = 1
    ),
    d{i} AS (
        SELECT cluster_id, i AS pos, v[i] AS x
        FROM (SELECT cluster_id, v,
                     unnest(generate_series(1, len(v))) AS i FROM a{i})
    ),
    m{i} AS (SELECT cluster_id, pos, {_q('avg(x)', 6)} AS m
             FROM d{i} GROUP BY 1, 2),
    c{i} AS (SELECT cluster_id, list(m ORDER BY pos) AS c
             FROM m{i} GROUP BY 1)"""
        prev = f"c{i}"
    sql += f""",
    sf AS (
        SELECT e.vec_id, ct.cluster_id, {_q(d2('e.v', 'ct.c'), 6)} AS d2q
        FROM emb e CROSS JOIN {prev} ct
    ),
    af AS (
        SELECT vec_id, cluster_id, d2q FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d2q, cluster_id) AS rn
            FROM sf
        ) WHERE rn = 1
    )
    SELECT a.cluster_id, count(*)::BIGINT AS n_vecs,
           {_q('sum(a.d2q)', 4)} AS inertia,
           {_q('max(ct.c[1])', 6)} AS centroid_dim0
    FROM af a JOIN {prev} ct USING (cluster_id)
    GROUP BY 1
    ORDER BY 1
    """
    return sql


@register("kmeans_unrolled", _kmeans_oracle_sql())
def q_kmeans_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity

    return similarity.kmeans_unrolled(
        load_table(spark, sf_dir, "embeddings"), k=4, n_iters=2
    )


@register(
    "nb_lang_classifier",
    f"""
    WITH docs AS (
        SELECT doc_id, lang,
               (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT) % 100 < 80
                   AS is_train
        FROM documents
    ),
    toks AS (
        SELECT t.doc_id, d.lang, d.is_train, t.term
        FROM (SELECT doc_id,
                     unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
              FROM documents) t
        JOIN docs d USING (doc_id)
        WHERE length(t.term) >= 1
    ),
    train_counts AS (
        SELECT lang AS m_lang, term, count(*)::BIGINT AS cnt
        FROM toks WHERE is_train GROUP BY 1, 2
    ),
    lang_tot AS (SELECT m_lang, sum(cnt)::BIGINT AS tot
                 FROM train_counts GROUP BY 1),
    vocab AS (SELECT count(DISTINCT term)::BIGINT AS vsize FROM train_counts),
    train_docs AS (SELECT * FROM docs WHERE is_train),
    priors AS (
        SELECT lang AS m_lang, ln(count(*) / nt.n) AS ln_prior
        FROM train_docs, (SELECT count(*)::BIGINT AS n FROM train_docs) nt
        GROUP BY 1, nt.n
    ),
    model AS (
        SELECT m_lang, term, ln((cnt + 1) / (tot + vsize)) AS ln_p
        FROM train_counts JOIN lang_tot USING (m_lang), vocab
    ),
    langs AS (
        SELECT m_lang, ln(1.0::DOUBLE / (tot + vsize)) AS ln_unseen
        FROM lang_tot, vocab
    ),
    test_terms AS (
        SELECT doc_id, lang AS true_lang, term, count(*)::BIGINT AS m
        FROM toks WHERE NOT is_train GROUP BY 1, 2, 3
    ),
    ll AS (
        SELECT tt.doc_id, tt.true_lang, l.m_lang,
               sum(tt.m * coalesce(mo.ln_p, l.ln_unseen)) AS ll
        FROM test_terms tt
        CROSS JOIN langs l
        LEFT JOIN model mo ON mo.m_lang = l.m_lang AND mo.term = tt.term
        GROUP BY 1, 2, 3
    ),
    scoredq AS (
        SELECT doc_id, true_lang, m_lang, {_q('ll + ln_prior', 6)} AS score_q
        FROM ll JOIN priors USING (m_lang)
    ),
    preds AS (
        SELECT doc_id, true_lang, m_lang AS pred_lang FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score_q DESC, m_lang) AS prank
            FROM scoredq
        ) WHERE prank = 1
    ),
    conf AS (SELECT true_lang, pred_lang, count(*)::BIGINT AS n_docs
             FROM preds GROUP BY 1, 2)
    SELECT true_lang, pred_lang, n_docs,
           {_q('n_docs / (sum(n_docs) OVER (PARTITION BY true_lang))::BIGINT', 6)} AS share
    FROM conf
    ORDER BY 1, 2
    """,
)
def q_nb_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import text as text_ops

    return text_ops.nb_lang_classifier(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Round-5 continuation: adaptive-fold KAMA, ulcer index, temperature
# mixture weights, session-graph triangle census.
# ---------------------------------------------------------------------------


@register(
    "kama_adaptive_ma",
    f"""
    WITH bars AS (
        SELECT symbol, minute_window,
               max(CASE WHEN rn_d = 1 THEN value END) AS close
        FROM (
            SELECT event_type AS symbol, date_trunc('minute', ts) AS minute_window,
                   value,
                   row_number() OVER (PARTITION BY event_type, date_trunc('minute', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM events
        )
        GROUP BY 1, 2
    ),
    staged AS (
        SELECT symbol, minute_window, close,
               close - lag(close) OVER w AS dc,
               lag(close, 10) OVER w AS c_back
        FROM bars
        WINDOW w AS (PARTITION BY symbol ORDER BY minute_window)
    ),
    scs AS (
        SELECT symbol, minute_window, close,
               CASE WHEN sum(abs(dc)) OVER wn != 0
                    THEN abs(close - c_back) / sum(abs(dc)) OVER wn
                    ELSE 0.0 END AS er,
               c_back
        FROM staged
        WINDOW wn AS (PARTITION BY symbol ORDER BY minute_window
                      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    ),
    ready AS (
        SELECT symbol, minute_window, close,
               pow(er * {2.0 / 3.0 - 2.0 / 31.0!r} + {2.0 / 31.0!r}, 2) AS sc
        FROM scs WHERE c_back IS NOT NULL
    ),
    series AS (
        SELECT symbol,
               list({{'mw': minute_window, 'c': close, 'sc': sc}}
                    ORDER BY minute_window) AS ps
        FROM ready GROUP BY 1
    )
    SELECT symbol, len(ps)::INT AS n_bars,
           {_q('ps[len(ps)].c', 6)} AS last_close,
           {_q('''list_reduce(list_prepend({'mw': ps[1].mw, 'c': ps[1].c, 'sc': 0.0::DOUBLE}, ps[2:]),
                 (acc, e) -> {'mw': e.mw, 'c': acc.c + e.sc * (e.c - acc.c), 'sc': e.sc}).c''', 6)} AS kama
    FROM series
    ORDER BY symbol
    """,
)
def q_kama_adaptive_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.kama_adaptive_ma(_events(spark, sf_dir))


@register(
    "ulcer_index",
    f"""
    WITH {_DAILY_CLOSE_SQL.strip()},
    dd AS (
        SELECT symbol, day,
               CASE WHEN max(c) OVER w != 0
                    THEN 100.0 * (c - max(c) OVER w) / (max(c) OVER w)
                    ELSE 0.0 END AS dd_pct
        FROM dclose
        WINDOW w AS (PARTITION BY symbol ORDER BY day
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT symbol, count(*)::BIGINT AS n_days,
           {_q('sqrt(avg(dd_pct * dd_pct))', 6)} AS ulcer_index,
           {_q('min(dd_pct)', 6)} AS max_drawdown_pct
    FROM dd
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.ulcer_index(_events(spark, sf_dir))


@register(
    "domain_temperature_mixture",
    f"""
    WITH per_src AS (
        SELECT source, count(*)::BIGINT AS n_docs,
               sum(len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')))::BIGINT AS n_tokens
        FROM documents GROUP BY 1
    ),
    tot AS (SELECT sum(n_tokens)::DOUBLE AS t_total FROM per_src),
    shared AS (
        SELECT p.*, p.n_tokens / t.t_total AS nat_share,
               pow(p.n_tokens / t.t_total, 0.7::DOUBLE) AS w_raw
        FROM per_src p, tot t
    ),
    wsum AS (SELECT sum(w_raw) AS w_total FROM shared)
    SELECT source, n_docs, n_tokens,
           {_q('nat_share', 6)} AS nat_share,
           {_q('w_raw / w_total', 6)} AS temp_share,
           {_q('w_raw / w_total * 100000.0', 2)} AS budget_tokens,
           {_q('w_raw / w_total * 100000.0 / n_tokens', 6)} AS epochs
    FROM shared, wsum
    ORDER BY source
    """,
)
def q_domain_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pipeline import domain_temperature_mixture

    return domain_temperature_mixture(load_table(spark, sf_dir, "documents"))


@register(
    "session_graph_triangles",
    """
    WITH s AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, event_type,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_no
        FROM s
    ),
    st AS (SELECT DISTINCT user_id, sess_no, event_type FROM sess),
    pairs AS (
        SELECT DISTINCT a.event_type AS ta, b.event_type AS tb
        FROM st a
        JOIN st b ON a.user_id = b.user_id AND a.sess_no = b.sess_no
                 AND a.event_type < b.event_type
    ),
    degrees AS (
        SELECT t, count(*)::BIGINT AS deg
        FROM (SELECT ta AS t FROM pairs UNION ALL SELECT tb AS t FROM pairs)
        GROUP BY 1
    ),
    tri AS (
        SELECT count(*)::BIGINT AS n_triangles
        FROM pairs e1
        JOIN pairs e2 ON e2.ta = e1.tb
        JOIN pairs e3 ON e3.ta = e1.ta AND e3.tb = e2.tb
    ),
    summary AS (
        SELECT count(*)::BIGINT AS n_nodes,
               (coalesce(sum(deg), 0) / 2)::BIGINT AS n_edges,
               coalesce(sum(deg * (deg - 1) / 2), 0.0)::BIGINT AS n_wedges
        FROM degrees
    )
    SELECT n_nodes, n_edges, n_triangles,
           CASE WHEN n_wedges > 0
                THEN floor((3.0 * n_triangles / n_wedges) * 1000000.0 + 0.5)
                     / 1000000.0
           END AS global_clustering
    FROM summary, tri
    """,
)
def q_session_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.windows import session_graph_triangles

    return session_graph_triangles(_events(spark, sf_dir))


# Third real image codec: indexed-palette GIF89a with variable-width LZW.
# Lossless like PNG, so the decoded mean is exactly recomputable from the
# text bytes -- the oracle is the same tiling arithmetic as the PNG gate
# (pixel_crc is pinned in pytest instead; ord() over chars == utf-8 bytes
# here because the fixture corpus is ASCII, same caveat as the PNG twin).
@register(
    "gif_media_features",
    """
    WITH base AS (
      SELECT doc_id AS asset_id,
             coalesce(text, '') AS txt,
             octet_length(encode(coalesce(text, ''))) AS n
      FROM documents
    ),
    dims AS (
      SELECT asset_id, txt, n,
             (n % 13 + 1) AS w,
             (n % 7 + 1) AS h
      FROM base
    ),
    sums AS (
      SELECT asset_id, w, h, n, w * h AS budget,
             CASE WHEN n = 0 THEN 0
                  ELSE (SELECT coalesce(sum(ord(c)), 0)
                        FROM unnest(string_split(txt, '')) AS t(c)) END AS total,
             CASE WHEN n = 0 THEN 0
                  ELSE (SELECT coalesce(sum(ord(c)), 0)
                        FROM unnest(string_split(substring(txt, 1, (w * h) % n), ''))
                             AS t(c)) END AS rem_sum
      FROM dims
    )
    SELECT asset_id,
           w::INT AS width,
           h::INT AS height,
           1::INT AS channels,
           budget::BIGINT AS n_pixels,
           CASE WHEN n = 0 THEN 0.0
                ELSE floor(((budget // n) * total + rem_sum)::DOUBLE / budget
                           * 1e6 + 0.5) / 1e6 END AS mean_value
    FROM sums
    ORDER BY asset_id
    """,
)
def q_gif_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal

    return multimodal.gif_media_features(
        load_table(spark, sf_dir, "documents")
    ).drop("pixel_crc")


@register(
    "versioned_vacuum",
    """
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               event_type AS symbol,
               count(*) AS n_events,
               floor(sum(value) * 100.0 + 0.5) / 100.0 AS total_value
        FROM events
        GROUP BY 1, 2
    )
    SELECT day, symbol, n_events, total_value,
           TRUE AS vacuum_removed_files,
           TRUE AS time_travel_pruned
    FROM daily
    ORDER BY day, symbol
    """,
)
def q_versioned_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta VACUUM semantics on the manifest log: three commits build a
    retention tail (v0/v1 partial snapshots, v2 the full month), then
    ``vacuum(keep_last=1)`` drops the out-of-retention manifests AND
    their unreferenced data directories.  The query returns the
    surviving latest snapshot -- which must equal the oracle's
    recomputation from raw events, proving the vacuum touched no live
    file -- plus two observed certificates: files were actually removed,
    and time travel to a vacuumed version now fails loudly (the Delta
    retention contract; the oracle asserts both TRUE)."""
    import os

    from .operators import versioned
    from .scratch import scratch_dir

    daily = (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("event_type").alias("symbol"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.floor(F.sum("value") * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0))
            .alias("total_value"),
        )
    )
    table_dir = os.path.join(scratch_dir("rtfl_vacuum_"), "gold_daily")
    versioned.commit_version(daily.filter(F.col("day") < "2024-01-15"), table_dir)
    versioned.commit_version(daily.filter(F.col("day") < "2024-01-22"), table_dir)
    versioned.commit_version(daily, table_dir)
    removed = versioned.vacuum(table_dir, keep_last=1)
    try:
        versioned.read_version(spark, table_dir, version=0)
        pruned = False
    except FileNotFoundError:
        pruned = True
    return (
        versioned.read_version(spark, table_dir)
        .select(
            "day",
            "symbol",
            "n_events",
            "total_value",
            F.lit(len(removed) > 0).alias("vacuum_removed_files"),
            F.lit(pruned).alias("time_travel_pruned"),
        )
        .orderBy("day", "symbol")
    )


@register(
    "streaming_cusum_monitor",
    # The recursive s_t = max(0, s_{t-1} + y_t) via the prefix-sum
    # identity s_t = S_t - min(0, min_j S_j): cumulative windows are
    # incrementally evaluated in frame order on both engines, so the
    # streaming GroupState fold (same identity, same op order) matches
    # bit-for-bit.
    f"""
    WITH c1 AS (
        SELECT event_type AS symbol, ts, event_id,
               sum(value - 50.0 - 5.0) OVER w AS sp_sum,
               sum(50.0 - value - 5.0) OVER w AS sn_sum
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    ),
    c2 AS (
        SELECT symbol, sp_sum, sn_sum,
               min(sp_sum) OVER w AS sp_min,
               min(sn_sum) OVER w AS sn_min,
               row_number() OVER (PARTITION BY symbol
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM c1
        WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    ),
    c3 AS (
        SELECT symbol, rn_d,
               sp_sum - least(0.0, sp_min) AS sp,
               sn_sum - least(0.0, sn_min) AS sn
        FROM c2
    )
    SELECT symbol, count(*)::BIGINT AS n_events,
           {_q('max(CASE WHEN rn_d = 1 THEN sp END)', 6)} AS cusum_pos,
           {_q('max(CASE WHEN rn_d = 1 THEN sn END)', 6)} AS cusum_neg,
           coalesce(sum(CASE WHEN floor(sp * 1000000.0 + 0.5) / 1000000.0 > 500.0
                             THEN 1 END), 0)::BIGINT AS n_alarms_pos,
           coalesce(sum(CASE WHEN floor(sn * 1000000.0 + 0.5) / 1000000.0 > 500.0
                             THEN 1 END), 0)::BIGINT AS n_alarms_neg
    FROM c3
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_streaming_cusum_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.stateful import streaming_cusum_roundtrip

    return streaming_cusum_roundtrip(spark, sf_dir)


@register(
    "rolling_beta",
    f"""
    WITH {_DAILY_CLOSE_SQL.strip()},
    rets AS (
        SELECT symbol, day,
               c / lag(c) OVER (PARTITION BY symbol ORDER BY day) - 1.0 AS rs
        FROM dclose
    ),
    nn AS (SELECT * FROM rets WHERE rs IS NOT NULL),
    mkt AS (SELECT day, {_q('avg(rs)', 9)} AS rm FROM nn GROUP BY 1),
    joined AS (SELECT n.symbol, n.day, n.rs, m.rm FROM nn n JOIN mkt m USING (day)),
    mom AS (
        SELECT symbol, day,
               count(*) OVER wn AS n_obs,
               {_q('avg(rs * rm) OVER wn - (avg(rs) OVER wn) * (avg(rm) OVER wn)', 12)} AS num_q,
               {_q('avg(rm * rm) OVER wn - (avg(rm) OVER wn) * (avg(rm) OVER wn)', 12)} AS den_q
        FROM joined
        WINDOW wn AS (PARTITION BY symbol ORDER BY day
                      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, day, n_obs::BIGINT AS n_obs,
           CASE WHEN n_obs = 10 AND den_q != 0 THEN {_q('num_q / den_q', 6)} END AS beta
    FROM mom
    WHERE n_obs = 10
    ORDER BY symbol, day
    """,
)
def q_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.rolling_beta(_events(spark, sf_dir))


@register(
    "file_skipping_report",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           count(*)::BIGINT AS n_rows,
           min(value) AS v_min,
           max(value) AS v_max,
           max(value) < 450.0 AS can_skip
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_file_skipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.layout import file_skipping_report

    return file_skipping_report(spark, _events(spark, sf_dir))


@register(
    "drawdown_duration",
    f"""
    WITH {_DAILY_CLOSE_SQL.strip()},
    flagged AS (
        SELECT symbol, day,
               c < max(c) OVER (PARTITION BY symbol ORDER BY day
                                ROWS UNBOUNDED PRECEDING) AS uw
        FROM dclose
    ),
    marked AS (
        SELECT symbol, day, uw,
               CASE WHEN uw AND NOT coalesce(lag(uw) OVER w, FALSE)
                    THEN 1 ELSE 0 END AS new_spell
        FROM flagged
        WINDOW w AS (PARTITION BY symbol ORDER BY day)
    ),
    spells AS (
        SELECT symbol, day, uw,
               sum(new_spell) OVER (PARTITION BY symbol ORDER BY day
                                    ROWS UNBOUNDED PRECEDING) AS spell_id,
               row_number() OVER (PARTITION BY symbol ORDER BY day DESC) AS rn_d
        FROM marked
    ),
    lengths AS (
        SELECT symbol, spell_id, count(*)::BIGINT AS len
        FROM spells WHERE uw GROUP BY 1, 2
    ),
    per_sym AS (
        SELECT symbol, count(*)::BIGINT AS n_spells,
               max(len) AS longest_drawdown_days
        FROM lengths GROUP BY 1
    )
    SELECT b.symbol,
           coalesce(p.n_spells, 0)::BIGINT AS n_spells,
           coalesce(p.longest_drawdown_days, 0)::BIGINT AS longest_drawdown_days,
           l.uw AS currently_underwater
    FROM (SELECT DISTINCT symbol FROM dclose) b
    LEFT JOIN per_sym p USING (symbol)
    JOIN (SELECT symbol, uw FROM spells WHERE rn_d = 1) l USING (symbol)
    ORDER BY b.symbol
    """,
)
def q_drawdown_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.drawdown_duration(_events(spark, sf_dir))


@register(
    "cross_correlation_lags",
    f"""
    WITH {_DAILY_CLOSE_SQL.strip()},
    rets AS (
        SELECT symbol, day,
               c / lag(c) OVER (PARTITION BY symbol ORDER BY day) - 1.0 AS r
        FROM dclose
    ),
    nn AS (SELECT * FROM rets WHERE r IS NOT NULL),
    lags AS (SELECT unnest(generate_series(-3, 3)) AS lag),
    paired AS (
        SELECT a.symbol AS symbol_a, b.symbol AS symbol_b, l.lag,
               a.r AS ra, b.r AS rb
        FROM nn a
        CROSS JOIN lags l
        JOIN nn b ON a.symbol < b.symbol
                 AND b.day = a.day + l.lag * INTERVAL 1 DAY
    )
    SELECT symbol_a, symbol_b, lag::INT AS lag,
           count(*)::BIGINT AS n_days,
           CASE WHEN stddev_pop(ra) * stddev_pop(rb) != 0
                THEN {_q('covar_pop(ra, rb) / (stddev_pop(ra) * stddev_pop(rb))', 6)}
           END AS xcorr
    FROM paired
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def q_cross_correlation_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.cross_correlation_lags(_events(spark, sf_dir))


@register(
    "kmv_set_ops",
    f"""
    WITH ha AS (
        SELECT DISTINCT (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT) AS h
        FROM events WHERE event_type = 'click'
    ),
    hb AS (
        SELECT DISTINCT (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT) AS h
        FROM events WHERE event_type = 'purchase'
    ),
    uh AS (SELECT DISTINCT h FROM (SELECT h FROM ha UNION ALL SELECT h FROM hb)),
    sk AS (SELECT h FROM uh ORDER BY h LIMIT 64),
    flags AS (
        SELECT s.h,
               EXISTS (SELECT 1 FROM ha WHERE ha.h = s.h) AS in_a,
               EXISTS (SELECT 1 FROM hb WHERE hb.h = s.h) AS in_b
        FROM sk s
    ),
    agg AS (
        SELECT count(*)::BIGINT AS n_kept, max(h) AS h_k,
               coalesce(sum(CASE WHEN in_a AND in_b THEN 1 END), 0)::BIGINT AS n_rho
        FROM flags
    ),
    ex AS (
        SELECT (SELECT count(*) FROM uh)::BIGINT AS exact_union,
               (SELECT count(*) FROM ha WHERE h IN (SELECT h FROM hb))::BIGINT
                   AS exact_inter
    ),
    est AS (
        SELECT a.*, e.*,
               CASE WHEN a.n_kept < 64 THEN a.n_kept::DOUBLE
                    ELSE 63.0 * 1152921504606846976.0 / a.h_k END AS est_union
        FROM agg a, ex e
    )
    SELECT 64 AS k, n_kept, n_rho,
           {_q('est_union', 4)} AS est_union,
           exact_union,
           CASE WHEN exact_union > 0
                THEN {_q('abs(est_union - exact_union) / exact_union', 6)}
           END AS union_rel_error,
           {_q('n_rho / n_kept * est_union', 4)} AS est_intersection,
           exact_inter AS exact_intersection
    FROM est
    """,
)
def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profiling import kmv_set_ops

    return kmv_set_ops(_events(spark, sf_dir), k=64)


@register(
    "stl_weekly_decompose",
    f"""
    WITH daily AS (
        SELECT event_type AS symbol, date_trunc('day', ts) AS day,
               sum(value) AS x
        FROM events GROUP BY 1, 2
    ),
    trended AS (
        SELECT symbol, day, x, dayofweek(day) AS dow,
               CASE WHEN count(*) OVER wc = 7
                    THEN {_q('avg(x) OVER wc', 6)} END AS trend
        FROM daily
        WINDOW wc AS (PARTITION BY symbol ORDER BY day
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    seasonal AS (
        SELECT symbol, dow, {_q('avg(x - trend)', 6)} AS seasonal
        FROM trended WHERE trend IS NOT NULL GROUP BY 1, 2
    )
    SELECT t.symbol, t.day, t.dow::INT AS dow,
           {_q('t.x', 6)} AS x, t.trend, s.seasonal,
           {_q('t.x - t.trend - s.seasonal', 6)} AS residual
    FROM trended t JOIN seasonal s USING (symbol, dow)
    WHERE t.trend IS NOT NULL
    ORDER BY 1, 2
    """,
)
def q_stl_weekly_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.stl_weekly_decompose(_events(spark, sf_dir))


@register(
    "funnel_time_to_convert",
    f"""
    WITH views AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    conv AS (
        SELECT v.user_id,
               (epoch_us(min(e.ts)) - epoch_us(v.t_view)) / 60000000.0::DOUBLE
                   AS latency_min
        FROM views v
        JOIN events e ON e.user_id = v.user_id
                     AND e.event_type = 'purchase' AND e.ts >= v.t_view
        GROUP BY v.user_id, v.t_view
    ),
    ca AS (
        SELECT count(*)::BIGINT AS n_converted,
               {_q('quantile_cont(latency_min, 0.5)', 4)} AS median_minutes,
               {_q('quantile_cont(latency_min, 0.9)', 4)} AS p90_minutes,
               {_q('max(latency_min)', 4)} AS max_minutes
        FROM conv
    ),
    nv AS (SELECT count(*)::BIGINT AS n_viewers FROM views)
    SELECT nv.n_viewers, ca.n_converted,
           CASE WHEN nv.n_viewers > 0
                THEN {_q('ca.n_converted / nv.n_viewers', 6)}
           END AS conversion_rate,
           ca.median_minutes, ca.p90_minutes, ca.max_minutes
    FROM ca, nv
    """,
)
def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import funnel_time_to_convert

    return funnel_time_to_convert(_events(spark, sf_dir))


@register(
    "shipping_delay_stats",
    f"""
    SELECT o_orderpriority, count(*)::BIGINT AS n_items,
           {_q("avg(date_diff('day', o_orderdate, l_shipdate))", 4)} AS avg_delay_days,
           {_q("quantile_cont(date_diff('day', o_orderdate, l_shipdate), 0.95)", 4)} AS p95_delay_days,
           max(date_diff('day', o_orderdate, l_shipdate))::INT AS max_delay_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_shipping_delay_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.joins import shipping_delay_stats

    return shipping_delay_stats(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


@register(
    "revenue_gini",
    f"""
    WITH per_cust AS (
        SELECT o_custkey, sum(o_totalprice) AS x FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i,
               count(*) OVER () AS n
        FROM per_cust
    )
    SELECT max(n)::BIGINT AS n_customers,
           {_q('sum(x)', 2)} AS total_revenue,
           {_q('(2.0 * sum(i * x) - (max(n) + 1) * sum(x)) / (max(n) * sum(x))', 6)} AS gini,
           {_q('sum(CASE WHEN i > n - floor(0.1::DOUBLE * n) THEN x END) / sum(x)', 6)} AS top_decile_share
    FROM ranked
    """,
)
def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.rollup import revenue_gini

    return revenue_gini(load_table(spark, sf_dir, "orders"))


@register(
    "scd2_point_in_time_join",
    f"""
    WITH src AS (SELECT * FROM events WHERE event_type != 'purchase'),
    runsrc AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w != event_type
                    THEN 1 ELSE 0 END AS new_run
        FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
        SELECT *, sum(new_run) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS run_id
        FROM runsrc
    ),
    agg AS (
        SELECT user_id, run_id, event_type, min(ts) AS valid_from
        FROM runs GROUP BY 1, 2, 3
    ),
    states AS (
        SELECT user_id, event_type AS state, valid_from,
               lead(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY valid_from, run_id) AS valid_to
        FROM agg
    ),
    purch AS (SELECT user_id, ts AS p_ts, value AS p_value
              FROM events WHERE event_type = 'purchase'),
    joined AS (
        SELECT s.state, p.p_value,
               (epoch_us(p.p_ts) - epoch_us(s.valid_from)) / 60000000.0::DOUBLE
                   AS mins
        FROM purch p
        LEFT JOIN states s ON s.user_id = p.user_id
             AND s.valid_from <= p.p_ts
             AND (s.valid_to IS NULL OR p.p_ts < s.valid_to)
    )
    SELECT state, count(*)::BIGINT AS n_purchases,
           {_q('sum(p_value)', 2)} AS total_value,
           {_q('avg(mins)', 4)} AS avg_minutes_in_state
    FROM joined GROUP BY 1 ORDER BY 1
    """,
)
def q_scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.joins import scd2_point_in_time_join

    return scd2_point_in_time_join(_events(spark, sf_dir))


@register(
    "association_rules",
    f"""
    WITH s AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, event_type,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_no
        FROM s
    ),
    st AS (SELECT DISTINCT user_id, sess_no, event_type FROM sess),
    nt AS (SELECT count(*)::BIGINT AS n_sessions
           FROM (SELECT DISTINCT user_id, sess_no FROM st)),
    singles AS (SELECT event_type AS t, count(*)::BIGINT AS n_t
                FROM st GROUP BY 1),
    pairs AS (
        SELECT a.event_type AS antecedent, b.event_type AS consequent,
               count(*)::BIGINT AS n_both
        FROM st a
        JOIN st b ON a.user_id = b.user_id AND a.sess_no = b.sess_no
                 AND a.event_type != b.event_type
        GROUP BY 1, 2
    )
    SELECT p.antecedent, p.consequent, p.n_both,
           {_q('p.n_both / nt.n_sessions', 6)} AS support,
           {_q('p.n_both / sa.n_t', 6)} AS confidence,
           {_q('(p.n_both / sa.n_t) / (sc.n_t / nt.n_sessions)', 6)} AS lift
    FROM pairs p
    JOIN singles sa ON sa.t = p.antecedent
    JOIN singles sc ON sc.t = p.consequent
    CROSS JOIN nt
    ORDER BY 1, 2
    """,
)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.windows import association_rules

    return association_rules(_events(spark, sf_dir))


@register(
    "cohort_ltv",
    f"""
    WITH fo AS (
        SELECT o_custkey, year(min(o_orderdate)) AS cohort_year
        FROM orders GROUP BY 1
    ),
    sized AS (SELECT cohort_year, count(*)::BIGINT AS n_customers
              FROM fo GROUP BY 1),
    placed AS (
        SELECT f.cohort_year,
               year(o.o_orderdate) - f.cohort_year AS year_offset,
               o.o_totalprice
        FROM orders o JOIN fo f USING (o_custkey)
    ),
    curve AS (
        SELECT cohort_year, year_offset, count(*)::BIGINT AS n_orders,
               sum(o_totalprice) AS rev_raw
        FROM placed GROUP BY 1, 2
    )
    SELECT c.cohort_year, c.year_offset, s.n_customers, c.n_orders,
           {_q('c.rev_raw', 2)} AS revenue,
           {_q('''sum(c.rev_raw) OVER (PARTITION BY c.cohort_year ORDER BY c.year_offset
                                       ROWS UNBOUNDED PRECEDING) / s.n_customers''', 2)} AS cum_ltv_per_customer
    FROM curve c JOIN sized s USING (cohort_year)
    ORDER BY 1, 2
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.rollup import cohort_ltv

    return cohort_ltv(load_table(spark, sf_dir, "orders"))


@register(
    "ks_two_sample",
    f"""
    WITH counted AS (
        SELECT event_type AS symbol, value,
               count(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 END)::BIGINT AS c1,
               count(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 END)::BIGINT AS c2
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    cum AS (
        SELECT symbol,
               sum(c1) OVER w AS cum1, sum(c2) OVER w AS cum2,
               sum(c1) OVER t AS n, sum(c2) OVER t AS m
        FROM counted
        WINDOW w AS (PARTITION BY symbol ORDER BY value ROWS UNBOUNDED PRECEDING),
               t AS (PARTITION BY symbol)
    ),
    per AS (
        SELECT symbol, max(n)::BIGINT AS n, max(m)::BIGINT AS m,
               {_q('max(abs(cum1 / n - cum2 / m))', 6)} AS ks_stat
        FROM cum WHERE n > 0 AND m > 0
        GROUP BY 1
    )
    SELECT symbol, n, m, ks_stat,
           {_q('1.36 * sqrt((n + m) / (n * m))', 6)} AS critical_05,
           ks_stat > {_q('1.36 * sqrt((n + m) / (n * m))', 6)} AS drift_detected
    FROM per ORDER BY 1
    """,
)
def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profiling import ks_two_sample

    return ks_two_sample(_events(spark, sf_dir))


@register(
    "bootstrap_mean_ci",
    f"""
    WITH {_DAILY_CLOSE_SQL.strip()},
    rets AS (
        SELECT symbol, day,
               c / lag(c) OVER (PARTITION BY symbol ORDER BY day) - 1.0 AS r
        FROM dclose
    ),
    nn AS (SELECT * FROM rets WHERE r IS NOT NULL),
    series AS (
        SELECT symbol, list(r ORDER BY day) AS xs FROM nn GROUP BY 1
        HAVING count(*) >= 2
    ),
    booted AS (
        SELECT symbol, len(xs)::INT AS n_days,
               {_q('list_reduce(list_prepend(0.0::DOUBLE, xs), (acc, x) -> acc + x) / len(xs)', 6)} AS mean_return,
               xs, t.b
        FROM series CROSS JOIN (SELECT unnest(generate_series(1, 200)) AS b) t
    ),
    means AS (
        SELECT symbol, n_days, mean_return, b,
               list_reduce(list_prepend(0.0::DOUBLE,
                   list_transform(generate_series(1, len(xs)),
                       i -> xs[1 + (('0x' || substr(md5(symbol || ':' || b::VARCHAR || ':' || i::VARCHAR), 1, 15))::BIGINT % len(xs))])),
                   (acc, x) -> acc + x) / len(xs) AS bm
        FROM booted
    ),
    ranked AS (
        SELECT symbol, n_days, mean_return, bm,
               row_number() OVER (PARTITION BY symbol
                                  ORDER BY {_q('bm', 9)}, b) AS rk
        FROM means
    )
    SELECT symbol, n_days, mean_return,
           {_q('max(CASE WHEN rk = 5 THEN bm END)', 6)} AS ci_low,
           {_q('max(CASE WHEN rk = 195 THEN bm END)', 6)} AS ci_high
    FROM ranked GROUP BY 1, 2, 3 ORDER BY 1
    """,
)
def q_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.bootstrap_mean_ci(_events(spark, sf_dir))


@register(
    "copurchase_pairs",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pc AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*)::BIGINT AS n_orders
        FROM op a
        JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    top AS (SELECT * FROM pc ORDER BY n_orders DESC, pa, pb LIMIT 20)
    SELECT row_number() OVER (ORDER BY n_orders DESC, pa, pb) AS rank,
           pa, pb, px.p_name AS name_a, py.p_name AS name_b, n_orders
    FROM top
    JOIN part px ON px.p_partkey = pa
    JOIN part py ON py.p_partkey = pb
    ORDER BY rank
    """,
)
def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.joins import copurchase_pairs

    return copurchase_pairs(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register(
    "ichimoku_cloud",
    f"""
    WITH bars AS (
        SELECT symbol, minute_window,
               max(value) AS high, min(value) AS low,
               max(CASE WHEN rn_d = 1 THEN value END) AS close
        FROM (
            SELECT event_type AS symbol, date_trunc('minute', ts) AS minute_window,
                   value,
                   row_number() OVER (PARTITION BY event_type, date_trunc('minute', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM events
        )
        GROUP BY 1, 2
    ),
    lines AS (
        SELECT symbol, minute_window, close,
               CASE WHEN count(*) OVER w9 = 9
                    THEN (max(high) OVER w9 + min(low) OVER w9) / 2.0 END AS tenkan,
               CASE WHEN count(*) OVER w26 = 26
                    THEN (max(high) OVER w26 + min(low) OVER w26) / 2.0 END AS kijun,
               CASE WHEN count(*) OVER w52 = 52
                    THEN (max(high) OVER w52 + min(low) OVER w52) / 2.0 END AS senkou_b
        FROM bars
        WINDOW w9 AS (PARTITION BY symbol ORDER BY minute_window
                      ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
               w26 AS (PARTITION BY symbol ORDER BY minute_window
                       ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
               w52 AS (PARTITION BY symbol ORDER BY minute_window
                       ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, minute_window,
           {_q('close', 6)} AS close,
           {_q('tenkan', 6)} AS tenkan,
           {_q('kijun', 6)} AS kijun,
           {_q('(tenkan + kijun) / 2.0', 6)} AS senkou_a,
           {_q('senkou_b', 6)} AS senkou_b
    FROM lines
    ORDER BY symbol, minute_window
    """,
)
def q_ichimoku_cloud(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import finance

    return finance.ichimoku_cloud(_events(spark, sf_dir))


@register(
    "target_encoding_loo",
    f"""
    WITH per_cust AS (
        SELECT o.o_custkey, c.c_mktsegment,
               floor(sum(o.o_totalprice) * 100.0 + 0.5)::BIGINT AS own_cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    seg AS (
        SELECT c_mktsegment, sum(own_cents)::BIGINT AS seg_cents,
               count(*)::BIGINT AS seg_n
        FROM per_cust GROUP BY 1
    )
    SELECT p.o_custkey, p.c_mktsegment,
           p.own_cents / 100.0::DOUBLE AS own_total,
           CASE WHEN s.seg_n > 1
                THEN {_q('(s.seg_cents - p.own_cents)::DOUBLE / (s.seg_n - 1) / 100.0::DOUBLE', 2)}
           END AS loo_encoding
    FROM per_cust p JOIN seg s USING (c_mktsegment)
    ORDER BY p.o_custkey
    """,
)
def q_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.joins import target_encoding_loo

    return target_encoding_loo(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )



# ---------------------------------------------------------------------------
# Round 8: money-flow / trend-strength indicators, portfolio math,
# Black-Scholes greeks, and the EWMA / Kalman recursive-state family.
# ---------------------------------------------------------------------------


@register(
    "mfi_14",
    f"""
    WITH {_BARS_SQL.strip()},
    flows AS (
        SELECT symbol, minute_window, tp,
               CASE WHEN tp > prev_tp THEN tp * vol ELSE 0.0 END AS pos_f,
               CASE WHEN tp < prev_tp THEN tp * vol ELSE 0.0 END AS neg_f
        FROM (
            SELECT symbol, minute_window,
                   (high + low + close) / 3.0 AS tp, vol,
                   lag((high + low + close) / 3.0)
                       OVER (PARTITION BY symbol ORDER BY minute_window) AS prev_tp
            FROM bars
        )
    )
    SELECT symbol, minute_window,
           {_q('tp', 6)} AS typical_price,
           CASE WHEN count(*) OVER w = 14
                     AND (sum(pos_f) OVER w + sum(neg_f) OVER w) != 0
                THEN {_q('100.0 * (sum(pos_f) OVER w) / (sum(pos_f) OVER w + sum(neg_f) OVER w)', 6)}
           END AS mfi
    FROM flows
    WINDOW w AS (PARTITION BY symbol ORDER BY minute_window
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ORDER BY symbol, minute_window
    """,
)
def q_mfi_14(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.mfi(_events(spark, sf_dir), n=14)


@register(
    "aroon_10",
    f"""
    WITH {_DAILY_BARS_SQL.strip()},
    st AS (
        SELECT symbol, day, h, l,
               row_number() OVER (PARTITION BY symbol ORDER BY day) AS rn
        FROM dbars
    ),
    wv AS (
        SELECT symbol, day, rn,
               CASE WHEN count(*) OVER w = 11
                    THEN (max(struct_pack(v := h, rn := rn)) OVER w).rn END AS hi_rn,
               CASE WHEN count(*) OVER w = 11
                    THEN (max(struct_pack(v := -l, rn := rn)) OVER w).rn END AS lo_rn
        FROM st
        WINDOW w AS (PARTITION BY symbol ORDER BY day
                     ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, day,
           {_q('100.0 * (10 - (rn - hi_rn)) / 10', 6)} AS aroon_up,
           {_q('100.0 * (10 - (rn - lo_rn)) / 10', 6)} AS aroon_down,
           {_q('100.0 * (10 - (rn - hi_rn)) / 10 - 100.0 * (10 - (rn - lo_rn)) / 10', 6)} AS aroon_osc
    FROM wv
    WHERE hi_rn IS NOT NULL
    ORDER BY symbol, day
    """,
)
def q_aroon_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.aroon(_events(spark, sf_dir), n=10)


@register(
    "min_variance_portfolio",
    f"""
    WITH {_BARS_SQL.strip()},
    rets AS (
        SELECT symbol, minute_window, lr FROM (
            SELECT symbol, minute_window,
                   ln(close / lag(close) OVER (PARTITION BY symbol
                                               ORDER BY minute_window)) AS lr
            FROM bars WHERE close > 0
        ) WHERE lr IS NOT NULL
    ),
    agg AS (
        SELECT a.symbol AS sym1, b.symbol AS sym2,
               count(*) AS n_minutes,
               {_q('var_pop(a.lr)', 12)} AS v1,
               {_q('var_pop(b.lr)', 12)} AS v2,
               {_q('covar_pop(a.lr, b.lr)', 12)} AS c12
        FROM rets a JOIN rets b
          ON a.minute_window = b.minute_window AND a.symbol < b.symbol
        GROUP BY 1, 2
    ),
    wts AS (
        SELECT *, CASE WHEN (v1 + v2 - 2.0 * c12) != 0
                       THEN (v2 - c12) / (v1 + v2 - 2.0 * c12) END AS w1
        FROM agg
    ),
    w2s AS (SELECT *, 1.0 - w1 AS w2 FROM wts)
    SELECT sym1, sym2, n_minutes,
           {_q('sqrt(v1 * 525600.0)', 6)} AS vol1_annual,
           {_q('sqrt(v2 * 525600.0)', 6)} AS vol2_annual,
           CASE WHEN sqrt(v1) * sqrt(v2) != 0
                THEN {_q('c12 / (sqrt(v1) * sqrt(v2))', 6)} END AS corr,
           {_q('w1', 6)} AS w1,
           {_q('w2', 6)} AS w2,
           CASE WHEN w1 IS NOT NULL THEN
           {_q('sqrt(greatest(w1 * w1 * v1 + w2 * w2 * v2 + 2.0 * w1 * w2 * c12, 0.0) * 525600.0)', 6)}
           END AS port_vol_annual
    FROM w2s
    ORDER BY sym1, sym2
    """,
)
def q_min_variance_portfolio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.min_variance_portfolio(_events(spark, sf_dir))


def _bs_greeks_oracle_sql() -> str:
    rate, t_years = 0.02, 30.0 / 365.0
    rt = rate * t_years
    inv_sqrt_2pi = 0.3989422804014327
    sq_t = f"sqrt({t_years!r})"
    return f"""
    WITH {_bs_oracle_p3_cte()},
    p4 AS (SELECT *, {inv_sqrt_2pi!r} * exp(-(d1 * d1) / 2.0) AS pdf1 FROM p3)
    SELECT symbol,
           {_q('spot', 6)} AS spot,
           strike,
           {_q('sigma', 6)} AS sigma_annual,
           {_q('nd1', 6)} AS delta_call,
           {_q('nd1 - 1.0', 6)} AS delta_put,
           {_q('pdf1 / (spot * sqt)', 6)} AS gamma,
           {_q(f'spot * pdf1 * {sq_t}', 6)} AS vega,
           {_q(f'-(spot * pdf1 * sigma) / (2.0 * {sq_t}) - {rate!r} * strike * exp(-{rt!r}) * nd2', 6)} AS theta_call,
           {_q(f'strike * {t_years!r} * exp(-{rt!r}) * nd2', 6)} AS rho_call
    FROM p4
    ORDER BY symbol
    """


@register("bs_greeks", _bs_greeks_oracle_sql())
def q_bs_greeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.bs_greeks(_events(spark, sf_dir))


_KC_TPS = "list_transform(bs, b -> (b.h + b.l + b.c) / 3.0)"
_KC_TRS = (
    "list_transform(generate_series(1, len(bs)), i -> "
    "CASE WHEN i = 1 THEN bs[1].h - bs[1].l "
    "ELSE greatest(bs[i].h - bs[i].l, abs(bs[i].h - bs[i - 1].c), "
    "abs(bs[i].l - bs[i - 1].c)) END)"
)


@register(
    "keltner_channels",
    f"""
    WITH {_DAILY_BARS_SQL.strip()},
    series AS (
        SELECT symbol,
               list({{'day': day, 'o': o, 'h': h, 'l': l, 'c': c}} ORDER BY day) AS bs
        FROM dbars GROUP BY 1
    ),
    ex AS (
        SELECT symbol, bs,
               unnest(generate_series(1, len(bs))) AS t
        FROM series
    ),
    vals AS (
        SELECT symbol, bs[t].day AS day, bs[t].c AS close,
               list_reduce(
                   list_prepend({_KC_TPS}[1], {_KC_TPS}[2:t]),
                   (acc, x) -> 0.2 * x + 0.8 * acc) AS ema,
               CASE WHEN t >= 10 THEN list_reduce(
                   list_prepend(0.0, {_KC_TRS}[t - 9:t]),
                   (acc, x) -> acc + x) / 10.0 END AS atr
        FROM ex
    )
    SELECT symbol, day,
           {_q('close', 6)} AS close,
           {_q('ema', 6)} AS kc_mid,
           {_q('ema + 2.0 * atr', 6)} AS kc_upper,
           {_q('ema - 2.0 * atr', 6)} AS kc_lower
    FROM vals
    WHERE atr IS NOT NULL
    ORDER BY symbol, day
    """,
)
def q_keltner_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.keltner_channels(_events(spark, sf_dir))


_EWMA_RS = "list_transform(generate_series(2, len(xs)), t -> ln(xs[t] / xs[t - 1]))"
_EWMA_VAR = (
    f"list_reduce(list_prepend({_EWMA_RS}[1] * {_EWMA_RS}[1], {_EWMA_RS}[2:]), "
    "(acc, r) -> 0.94 * acc + 0.06 * (r * r))"
)


@register(
    "ewma_riskmetrics_vol",
    f"""
    WITH src AS (SELECT * FROM events WHERE value > 0),
    {_DAILY_CLOSE_SQL.strip().replace("FROM events", "FROM src")},
    series AS (
        SELECT symbol, list(c ORDER BY day) AS xs FROM dclose GROUP BY 1
        HAVING count(*) >= 3
    )
    SELECT symbol,
           (len(xs) - 1)::BIGINT AS n_rets,
           {_q(f'sqrt({_EWMA_VAR})', 6)} AS ewma_vol_daily,
           {_q(f'sqrt({_EWMA_VAR} * 252.0)', 6)} AS ewma_vol_annual
    FROM series
    ORDER BY symbol
    """,
)
def q_ewma_riskmetrics_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.ewma_riskmetrics_vol(_events(spark, sf_dir))


@register(
    "kalman_price_smooth",
    # Recursive CTE carrying (x, p, k) as plain columns -- the
    # holt_forecast discipline (struct-literal list_reduce shadows
    # accumulator fields in DuckDB 1.0).
    f"""
    WITH RECURSIVE {_DAILY_CLOSE_SQL.strip()},
    series AS (
        SELECT symbol, list(c ORDER BY day) AS xs FROM dclose GROUP BY 1
        HAVING count(*) >= 2
    ),
    kf AS (
        SELECT symbol, xs, len(xs) AS n, 1 AS t,
               CAST(xs[1] AS DOUBLE) AS x, CAST(1.0 AS DOUBLE) AS p,
               CAST(0.0 AS DOUBLE) AS k
        FROM series
        UNION ALL
        SELECT symbol, xs, n, t + 1,
               x + ((p + 0.001) / (p + 0.001 + 0.01)) * (xs[t + 1] - x),
               (1.0 - ((p + 0.001) / (p + 0.001 + 0.01))) * (p + 0.001),
               (p + 0.001) / (p + 0.001 + 0.01)
        FROM kf WHERE t < n
    )
    SELECT symbol, n::BIGINT AS n_days,
           {_q('xs[n]', 6)} AS last_close,
           {_q('x', 6)} AS kalman_level,
           {_q('p', 6)} AS error_cov,
           {_q('k', 6)} AS kalman_gain
    FROM kf
    WHERE t = n
    ORDER BY symbol
    """,
)
def q_kalman_price_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.kalman_price_smooth(_events(spark, sf_dir))


# Streaming twin: the SAME recursive-CTE oracle -- the stateful stream
# (event-time bar finalization + provisional emission of the open day)
# must land on the identical filtered level as the batch array fold.
@register("streaming_kalman_level", ORACLE_SQL["kalman_price_smooth"])
def q_streaming_kalman_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.stateful import streaming_kalman_roundtrip

    return streaming_kalman_roundtrip(spark, sf_dir)



@register(
    "versioned_clone_divergence",
    """
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               event_type AS symbol,
               count(*) AS n_events,
               floor(sum(value) * 100.0 + 0.5) / 100.0 AS total_value
        FROM events
        GROUP BY 1, 2
    )
    SELECT 'source' AS side, day, symbol, n_events, total_value FROM daily
    UNION ALL
    SELECT 'clone' AS side, day, symbol, n_events, total_value FROM daily
    UNION ALL
    SELECT 'clone' AS side, day, symbol, n_events, total_value FROM daily
    WHERE day >= TIMESTAMP '2024-01-25'
    ORDER BY side, day, symbol
    """,
)
def q_versioned_clone_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE isolation: commit the gold rollup to a source table,
    zero-copy clone it (one manifest write referencing the SAME parquet
    files), APPEND a late-January correction to the CLONE ONLY, then read
    both sides back.  The oracle expects the source untouched (exactly
    the rollup) and the clone to carry the rollup PLUS the appended tail
    -- if the clone's append leaked into the source, or the clone missed
    the shared files, the side-tagged union hash-fails."""
    import os

    from .operators import versioned
    from .scratch import scratch_dir

    daily = (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("event_type").alias("symbol"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.floor(F.sum("value") * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0)).alias(
                "total_value"
            ),
        )
    )
    base = scratch_dir("rtfl_clone_")
    src_dir = os.path.join(base, "gold_src")
    dst_dir = os.path.join(base, "gold_clone")
    versioned.commit_version(daily, src_dir)
    versioned.clone_table(src_dir, dst_dir)
    versioned.commit_version(
        daily.filter(F.col("day") >= "2024-01-25"), dst_dir, mode="append"
    )
    out = versioned.read_version(spark, src_dir).select(
        F.lit("source").alias("side"), "day", "symbol", "n_events", "total_value"
    ).unionAll(
        versioned.read_version(spark, dst_dir).select(
            F.lit("clone").alias("side"), "day", "symbol", "n_events", "total_value"
        )
    )
    return out.orderBy("side", "day", "symbol")



@register(
    "adx_14",
    f"""
    WITH {_DAILY_BARS_SQL.strip()},
    series AS (
        SELECT symbol,
               list({{'day': day, 'o': o, 'h': h, 'l': l, 'c': c}} ORDER BY day) AS bs
        FROM dbars GROUP BY 1
        HAVING count(*) >= 15
    ),
    s1 AS (
        SELECT symbol, bs,
               list_transform(generate_series(2, len(bs)), i ->
                   greatest(bs[i].h - bs[i].l, abs(bs[i].h - bs[i - 1].c),
                            abs(bs[i].l - bs[i - 1].c))) AS trs,
               list_transform(generate_series(2, len(bs)), i ->
                   CASE WHEN (bs[i].h - bs[i - 1].h) > (bs[i - 1].l - bs[i].l) AND (bs[i].h - bs[i - 1].h) > 0 THEN (bs[i].h - bs[i - 1].h) ELSE 0.0 END) AS dps,
               list_transform(generate_series(2, len(bs)), i ->
                   CASE WHEN (bs[i - 1].l - bs[i].l) > (bs[i].h - bs[i - 1].h) AND (bs[i - 1].l - bs[i].l) > 0 THEN (bs[i - 1].l - bs[i].l) ELSE 0.0 END) AS dms
        FROM series
    ),
    s2 AS (
        SELECT symbol, bs,
               list_transform(generate_series(14, len(trs)), t -> list_reduce(list_prepend(list_reduce(list_prepend(0.0, trs[1:14]), (acc, x) -> acc + x), trs[15:t]), (acc, x) -> acc - acc / 14.0 + x)) AS str_,
               list_transform(generate_series(14, len(dps)), t -> list_reduce(list_prepend(list_reduce(list_prepend(0.0, dps[1:14]), (acc, x) -> acc + x), dps[15:t]), (acc, x) -> acc - acc / 14.0 + x)) AS sdp,
               list_transform(generate_series(14, len(dms)), t -> list_reduce(list_prepend(list_reduce(list_prepend(0.0, dms[1:14]), (acc, x) -> acc + x), dms[15:t]), (acc, x) -> acc - acc / 14.0 + x)) AS sdm
        FROM s1
    ),
    s3 AS (
        SELECT symbol, bs,
               list_transform(generate_series(1, len(str_)), j ->
                   CASE WHEN str_[j] != 0 THEN 100.0 * sdp[j] / str_[j] END) AS dips,
               list_transform(generate_series(1, len(str_)), j ->
                   CASE WHEN str_[j] != 0 THEN 100.0 * sdm[j] / str_[j] END) AS dims_
        FROM s2
    ),
    s4 AS (
        SELECT symbol, bs, dips, dims_,
               list_transform(generate_series(1, len(dips)), j ->
                   CASE WHEN (dips[j] + dims_[j]) != 0
                        THEN 100.0 * abs(dips[j] - dims_[j]) / (dips[j] + dims_[j])
                   END) AS dxs
        FROM s3
    ),
    ex AS (
        SELECT symbol, bs, dips, dims_, dxs,
               unnest(generate_series(14, len(dxs) + 13)) AS t
        FROM s4
    )
    SELECT symbol,
           bs[t + 1].day AS day,
           {_q('dips[t - 13]', 6)} AS di_plus,
           {_q('dims_[t - 13]', 6)} AS di_minus,
           {_q('dxs[t - 13]', 6)} AS dx,
           CASE WHEN t >= 27 THEN {_q('list_reduce(list_prepend(list_reduce(list_prepend(0.0, dxs[1:14]), (acc, x) -> acc + x) / 14.0, dxs[15:t - 13]), (acc, x) -> (acc * 13.0 + x) / 14.0)', 6)} END AS adx
    FROM ex
    ORDER BY symbol, day
    """,
)
def q_adx_14(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.adx(_events(spark, sf_dir))



@register(
    "vpin_toxicity",
    f"""
    WITH ticks AS (
        SELECT event_type AS symbol, ts, event_id, value,
               (json_extract_string(props, '$.k'))::DOUBLE AS qty
        FROM events
    ),
    signed AS (
        SELECT symbol, qty,
               last_value(sgn_raw IGNORE NULLS) OVER w AS sgn,
               sum(qty) OVER w AS cum_qty
        FROM (
            SELECT *,
                   CASE WHEN value - lag(value) OVER (PARTITION BY symbol
                                                      ORDER BY ts, event_id) > 0
                        THEN 1.0
                        WHEN value - lag(value) OVER (PARTITION BY symbol
                                                      ORDER BY ts, event_id) < 0
                        THEN -1.0 END AS sgn_raw
            FROM ticks
        )
        WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    buckets AS (
        SELECT symbol,
               floor(cum_qty / 2000.0)::BIGINT AS bucket_id,
               sum(CASE WHEN sgn = 1.0 THEN qty ELSE 0.0 END) AS b,
               sum(CASE WHEN sgn = -1.0 THEN qty ELSE 0.0 END) AS s,
               sum(qty) AS v
        FROM signed
        GROUP BY 1, 2
    )
    SELECT symbol,
           count(*) AS n_buckets,
           {_q('avg(CASE WHEN v > 0 THEN abs(b - s) / v END)', 6)} AS vpin,
           {_q('max(CASE WHEN v > 0 THEN abs(b - s) / v END)', 6)} AS max_imbalance,
           {_q('sum(v)', 6)} AS total_qty
    FROM buckets
    GROUP BY symbol
    ORDER BY symbol
    """,
)
def q_vpin_toxicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.vpin_toxicity(_events(spark, sf_dir))


# Streaming twin: SAME oracle -- the O(1) bucket-carry GroupState fold
# (provisional close of the open bucket per emission) must land on the
# identical bucket summary as the batch window/groupBy plan.
@register("streaming_vpin", ORACLE_SQL["vpin_toxicity"])
def q_streaming_vpin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.stateful import streaming_vpin_roundtrip

    return streaming_vpin_roundtrip(spark, sf_dir)



@register(
    "supertrend",
    f"""
    WITH RECURSIVE {_DAILY_BARS_SQL.strip()},
    series AS (
        SELECT symbol,
               list({{'day': day, 'o': o, 'h': h, 'l': l, 'c': c}} ORDER BY day) AS bs
        FROM dbars GROUP BY 1
        HAVING count(*) >= 15
    ),
    arrays AS (
        SELECT symbol, bs,
               list_transform(bs, b -> (b.h + b.l) / 2.0) AS mids,
               list_transform(bs, b -> b.c) AS cs,
               list_transform(generate_series(1, len(bs)), i -> CASE WHEN i = 1 THEN bs[1].h - bs[1].l ELSE greatest(bs[i].h - bs[i].l, abs(bs[i].h - bs[i - 1].c), abs(bs[i].l - bs[i - 1].c)) END) AS trs
        FROM series
    ),
    banded AS (
        SELECT symbol, bs, mids, cs, len(bs) AS n,
               list_transform(generate_series(10, len(bs)),
                              t -> mids[t] + 3.0 * (list_reduce(list_prepend(0.0, trs[t - 9:t]), (acc, x) -> acc + x) / 10.0)) AS bubs,
               list_transform(generate_series(10, len(bs)),
                              t -> mids[t] - 3.0 * (list_reduce(list_prepend(0.0, trs[t - 9:t]), (acc, x) -> acc + x) / 10.0)) AS blbs
        FROM arrays
    ),
    st AS (
        SELECT symbol, bs, cs, bubs, blbs, n, 10 AS t,
               bubs[1] AS fub, blbs[1] AS flb,
               CASE WHEN cs[10] >= mids[10] THEN 1.0 ELSE -1.0 END AS dirn
        FROM banded
        UNION ALL
        SELECT symbol, bs, cs, bubs, blbs, n, t + 1,
               CASE WHEN bubs[t - 8] < fub OR cs[t] > fub THEN bubs[t - 8] ELSE fub END,
               CASE WHEN blbs[t - 8] > flb OR cs[t] < flb THEN blbs[t - 8] ELSE flb END,
               CASE WHEN dirn = -1.0
                    THEN (CASE WHEN cs[t + 1] > (CASE WHEN bubs[t - 8] < fub OR cs[t] > fub THEN bubs[t - 8] ELSE fub END)
                               THEN 1.0 ELSE -1.0 END)
                    ELSE (CASE WHEN cs[t + 1] < (CASE WHEN blbs[t - 8] > flb OR cs[t] < flb THEN blbs[t - 8] ELSE flb END)
                               THEN -1.0 ELSE 1.0 END) END
        FROM st WHERE t < n
    )
    SELECT symbol,
           bs[t].day AS day,
           {_q('cs[t]', 6)} AS close,
           {_q('fub', 6)} AS final_upper,
           {_q('flb', 6)} AS final_lower,
           {_q('CASE WHEN dirn = -1.0 THEN fub ELSE flb END', 6)} AS supertrend,
           dirn AS direction
    FROM st
    ORDER BY symbol, day
    """,
)
def q_supertrend(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.supertrend(_events(spark, sf_dir))



@register(
    "almgren_chriss_schedule",
    f"""
    WITH src AS (SELECT * FROM events WHERE value > 0),
    {_DAILY_CLOSE_SQL.strip().replace("FROM events", "FROM src")},
    lr AS (
        SELECT symbol, ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day)) AS lr
        FROM dclose
    ),
    per_sym AS (
        SELECT symbol, stddev_pop(lr) AS sigma, count(lr) AS n_rets
        FROM lr GROUP BY 1 HAVING count(lr) >= 2
    ),
    sched AS (
        SELECT symbol, sigma,
               unnest(generate_series(0, 10)) AS j
        FROM per_sym
    ),
    xs AS (
        SELECT symbol, sigma, j,
               CASE WHEN sigma * sqrt(0.01 / 0.1) > 0 THEN 1000000.0 * ((exp((sigma * sqrt(0.01 / 0.1)) * (1.0 - cast(j as double) / 10.0)) - exp(-((sigma * sqrt(0.01 / 0.1)) * (1.0 - cast(j as double) / 10.0)))) / 2.0) / ((exp((sigma * sqrt(0.01 / 0.1)) * 1.0) - exp(-((sigma * sqrt(0.01 / 0.1)) * 1.0))) / 2.0) ELSE 1000000.0 * (1.0 - cast(j as double) / 10.0) END AS x
        FROM sched
    )
    SELECT symbol,
           {_q('sigma * sqrt(0.01 / 0.1)', 6)} AS kappa,
           j::INT AS slice_id,
           {_q('x', 6)} AS remaining_shares,
           {_q('lag(x) OVER (PARTITION BY symbol ORDER BY j) - x', 6)} AS slice_trade
    FROM xs
    ORDER BY symbol, slice_id
    """,
)
def q_almgren_chriss_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.almgren_chriss_schedule(_events(spark, sf_dir))


@register(
    "spearman_ic_daily",
    f"""
    WITH src AS (SELECT * FROM events WHERE value > 0),
    {_DAILY_CLOSE_SQL.strip().replace("FROM events", "FROM src")},
    rets0 AS (
        SELECT symbol, day,
               ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day)) AS fwd
        FROM dclose
    ),
    rets AS (
        SELECT symbol, day, fwd,
               lag(fwd) OVER (PARTITION BY symbol ORDER BY day) AS sig
        FROM rets0
    ),
    f AS (SELECT * FROM rets WHERE fwd IS NOT NULL AND sig IS NOT NULL),
    ranked AS (
        SELECT day,
               (row_number() OVER (PARTITION BY day ORDER BY sig, symbol))::DOUBLE AS r_sig,
               (row_number() OVER (PARTITION BY day ORDER BY fwd, symbol))::DOUBLE AS r_fwd
        FROM f
    )
    SELECT day, count(*) AS n_assets,
           CASE WHEN stddev_pop(r_sig) * stddev_pop(r_fwd) != 0
                THEN {_q('covar_pop(r_sig, r_fwd) / (stddev_pop(r_sig) * stddev_pop(r_fwd))', 6)}
           END AS ic
    FROM ranked
    GROUP BY day
    HAVING count(*) >= 3
    ORDER BY day
    """,
)
def q_spearman_ic_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.spearman_ic_daily(_events(spark, sf_dir))


def _dp_noise_oracle_sql() -> str:
    from .functions.hashing import md5_long_sql

    u = "(({MD5} % 1048576)::DOUBLE + 0.5) / 1048576.0".format(
        MD5=md5_long_sql("concat_ws(':', 'dp', event_type)")
    )
    noise = f"(-1.0) * sign({u} - 0.5) * ln(1.0 - 2.0 * abs({u} - 0.5))"
    return f"""
    SELECT event_type,
           count(*) AS true_count,
           {_q(noise, 6)} AS laplace_noise,
           {_q(f'count(*) + {noise}', 6)} AS released_count,
           CAST(1.0 AS DOUBLE) AS epsilon
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """


@register("dp_noise_counts", _dp_noise_oracle_sql())
def q_dp_noise_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profiling import dp_noise_counts

    return dp_noise_counts(_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# Round-9 additions: microstructure / labeling / risk / market-breadth
# ---------------------------------------------------------------------------

_CS_K = 3.0 - 2.0 * 2.0**0.5  # Corwin-Schultz 3 - 2*sqrt(2), shared literal
_ANN252 = 252.0**0.5  # annualization sqrt, shared literal
_NEG_LN2 = -0.6931471805599453


@register(
    "corwin_schultz_spread",
    f"""
    WITH bars AS (
        SELECT event_type AS symbol, date_trunc('day', ts) AS day,
               max(value) AS high, min(value) AS low
        FROM events WHERE value > 0 GROUP BY 1, 2
    ),
    leads AS (
        SELECT symbol,
               pow(ln(high / low), 2) AS hl2,
               lead(pow(ln(high / low), 2)) OVER (PARTITION BY symbol ORDER BY day) AS hl2n,
               greatest(high, lead(high) OVER (PARTITION BY symbol ORDER BY day)) AS h2,
               least(low, lead(low) OVER (PARTITION BY symbol ORDER BY day)) AS l2
        FROM bars
    ),
    est AS (
        SELECT symbol,
               (sqrt(2.0 * (hl2 + hl2n)) - sqrt(hl2 + hl2n)) / {_CS_K!r}
               - sqrt(pow(ln(h2 / l2), 2) / {_CS_K!r}) AS alpha
        FROM leads WHERE hl2n IS NOT NULL
    ),
    s AS (
        SELECT symbol,
               2.0 * (exp(alpha) - 1.0) / (1.0 + exp(alpha)) AS s_raw
        FROM est
    )
    SELECT symbol, count(*)::BIGINT AS n_pairs,
           {_q('avg(greatest(s_raw, 0.0))', 6)} AS cs_spread,
           {_q('avg(CASE WHEN s_raw > 0 THEN 1.0 ELSE 0.0 END)', 4)} AS pct_positive
    FROM s GROUP BY 1 ORDER BY 1
    """,
)
def q_corwin_schultz_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.corwin_schultz_spread(_events(spark, sf_dir))


def _tbl_oracle_sql(horizon: int = 5, barrier: float = 0.01) -> str:
    leads = ",\n               ".join(
        f"CASE WHEN c != 0 THEN lead(c, {i}) OVER (PARTITION BY symbol"
        f" ORDER BY day) / c - 1.0 END AS r{i}"
        for i in range(1, horizon + 1)
    )
    label_arms = " ".join(
        f"WHEN r{i} >= {barrier!r} THEN 1 WHEN r{i} <= {-barrier!r} THEN -1"
        for i in range(1, horizon + 1)
    )
    day_arms = " ".join(
        f"WHEN r{i} >= {barrier!r} OR r{i} <= {-barrier!r} THEN {i}"
        for i in range(1, horizon + 1)
    )
    return f"""
    WITH {_DAILY_CLOSE_SQL.strip()},
    fwd AS (
        SELECT symbol,
               {leads}
        FROM dclose
    ),
    lab AS (
        SELECT symbol,
               CASE {label_arms} ELSE 0 END AS label,
               CASE {day_arms} END AS d
        FROM fwd WHERE r{horizon} IS NOT NULL
    )
    SELECT symbol, count(*)::BIGINT AS n_events,
           sum(CASE WHEN label = 1 THEN 1 ELSE 0 END)::BIGINT AS n_up,
           sum(CASE WHEN label = -1 THEN 1 ELSE 0 END)::BIGINT AS n_down,
           sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)::BIGINT AS n_timeout,
           {_q('(count(*) - sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)) / count(*)::DOUBLE', 4)} AS hit_rate,
           {_q('avg(d::DOUBLE)', 4)} AS avg_days_to_hit
    FROM lab GROUP BY 1 ORDER BY 1
    """


@register("triple_barrier_labels", _tbl_oracle_sql())
def q_triple_barrier_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.triple_barrier_labels(_events(spark, sf_dir))


@register(
    "sortino_ratio",
    f"""
    WITH {_DAILY_CLOSE_SQL.strip()},
    rets AS (
        SELECT symbol,
               CASE WHEN lag(c) OVER (PARTITION BY symbol ORDER BY day) != 0
                    THEN c / lag(c) OVER (PARTITION BY symbol ORDER BY day) - 1.0
               END AS r
        FROM dclose
    ),
    st AS (
        SELECT symbol, count(*)::BIGINT AS n_days,
               {_q('avg(r)', 12)} AS mean_r_q,
               {_q('avg(pow(least(r, 0.0), 2))', 12)} AS dvar_q
        FROM rets WHERE r IS NOT NULL
        GROUP BY 1 HAVING count(*) >= 2
    )
    SELECT symbol, n_days,
           {_q('mean_r_q', 6)} AS mean_daily_ret,
           {_q(f'sqrt(dvar_q) * {_ANN252!r}', 6)} AS downside_dev_annual,
           CASE WHEN sqrt(dvar_q) > 0
                THEN {_q(f'mean_r_q / sqrt(dvar_q) * {_ANN252!r}', 6)}
           END AS sortino_annual
    FROM st ORDER BY 1
    """,
)
def q_sortino_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.sortino_ratio(_events(spark, sf_dir))


@register(
    "spread_half_life",
    f"""
    WITH bars AS ({_OHLC_CLOSE_SQL}),
    paired AS (
        SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.minute_window AS mw,
               a.close_price AS pa, b.close_price AS pb
        FROM bars a
        JOIN bars b ON a.minute_window = b.minute_window AND a.symbol < b.symbol
    ),
    st AS (
        SELECT sym_a, sym_b,
               {_q('CASE WHEN var_pop(pb) != 0 THEN covar_pop(pa, pb) / var_pop(pb) END', 6)} AS hedge_ratio
        FROM paired GROUP BY 1, 2
    ),
    sp AS (
        SELECT p.sym_a, p.sym_b, p.mw,
               p.pa - s.hedge_ratio * p.pb AS s
        FROM paired p JOIN st s USING (sym_a, sym_b)
    ),
    lagged AS (
        SELECT sym_a, sym_b, s,
               lag(s) OVER (PARTITION BY sym_a, sym_b ORDER BY mw) AS s_lag
        FROM sp
    ),
    fit AS (
        SELECT sym_a, sym_b, count(*)::BIGINT AS n_obs,
               {_q('1.0 + CASE WHEN var_pop(s_lag) != 0 THEN covar_pop(s - s_lag, s_lag) / var_pop(s_lag) END', 6)} AS ar_coef
        FROM lagged WHERE s_lag IS NOT NULL GROUP BY 1, 2
    )
    SELECT f.sym_a, f.sym_b, f.n_obs, s.hedge_ratio, f.ar_coef,
           CASE WHEN f.ar_coef > 0 AND f.ar_coef < 1
                THEN {_q(f'{_NEG_LN2!r} / ln(f.ar_coef)', 4)}
           END AS half_life_minutes
    FROM fit f JOIN st s USING (sym_a, sym_b)
    ORDER BY 1, 2
    """,
)
def q_spread_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.spread_half_life(_events(spark, sf_dir))


_HAR_DET = "(v_d * v_w - c_dw * c_dw)"
_HAR_BD = f"((c_dy * v_w - c_wy * c_dw) / {_HAR_DET})"
_HAR_BW = f"((c_wy * v_d - c_dy * c_dw) / {_HAR_DET})"


@register(
    "har_rv_regression",
    f"""
    WITH bars AS ({_OHLC_CLOSE_SQL}),
    lr AS (
        SELECT symbol, date_trunc('day', minute_window) AS day,
               CASE WHEN lag(close_price) OVER (
                        PARTITION BY symbol, date_trunc('day', minute_window)
                        ORDER BY minute_window) > 0
                     AND close_price > 0
                    THEN ln(close_price / lag(close_price) OVER (
                        PARTITION BY symbol, date_trunc('day', minute_window)
                        ORDER BY minute_window))
               END AS lr
        FROM bars
    ),
    rv AS (
        SELECT symbol, day, {_q('sum(lr * lr)', 6)} AS rv
        FROM lr WHERE lr IS NOT NULL GROUP BY 1, 2
    ),
    feats AS (
        SELECT rv AS x_d,
               avg(rv) OVER w5 AS x_w,
               count(*) OVER w5 AS n_win,
               lead(rv) OVER (PARTITION BY symbol ORDER BY day) AS y
        FROM rv
        WINDOW w5 AS (PARTITION BY symbol ORDER BY day
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    ),
    m AS (
        SELECT count(*)::BIGINT AS n_obs,
               {_q('avg(x_d)', 6)} AS mx_d,
               {_q('avg(x_w)', 6)} AS mx_w,
               {_q('avg(y)', 6)} AS my,
               {_q('var_pop(x_d)', 6)} AS v_d,
               {_q('var_pop(x_w)', 6)} AS v_w,
               {_q('var_pop(y)', 6)} AS v_y,
               {_q('covar_pop(x_d, x_w)', 6)} AS c_dw,
               {_q('covar_pop(x_d, y)', 6)} AS c_dy,
               {_q('covar_pop(x_w, y)', 6)} AS c_wy
        FROM feats WHERE n_win = 5 AND y IS NOT NULL
    )
    SELECT n_obs,
           CASE WHEN abs({_HAR_DET}) > 1e-9
                THEN {_q(_HAR_BD, 6)} END AS beta_daily,
           CASE WHEN abs({_HAR_DET}) > 1e-9
                THEN {_q(_HAR_BW, 6)} END AS beta_weekly,
           CASE WHEN abs({_HAR_DET}) > 1e-9
                THEN {_q(f'my - {_HAR_BD} * mx_d - {_HAR_BW} * mx_w', 6)}
           END AS intercept,
           CASE WHEN abs({_HAR_DET}) > 1e-9 AND v_y > 0
                THEN {_q(f'({_HAR_BD} * c_dy + {_HAR_BW} * c_wy) / v_y', 6)}
           END AS r2
    FROM m
    """,
)
def q_har_rv_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.har_rv_regression(_events(spark, sf_dir))


@register(
    "volume_profile",
    f"""
    WITH bounds AS (
        SELECT event_type AS symbol, min(value) AS lo, max(value) AS hi
        FROM events GROUP BY 1
    ),
    src AS (
        SELECT e.event_type AS symbol, e.value,
               (json_extract_string(e.props, '$.k'))::DOUBLE AS qty,
               b.lo, b.hi
        FROM events e JOIN bounds b ON e.event_type = b.symbol
    ),
    binned AS (
        SELECT symbol, lo, hi,
               CASE WHEN hi > lo
                    THEN least(floor((value - lo) / (hi - lo) * 10), 9)
                    ELSE 0 END AS bin,
               qty
        FROM src
    ),
    per_bin AS (
        SELECT symbol, bin, max(lo) AS lo, max(hi) AS hi,
               count(*)::BIGINT AS n_ticks,
               {_q('coalesce(sum(qty), 0.0)', 6)} AS volume
        FROM binned GROUP BY 1, 2
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY symbol
                                  ORDER BY volume DESC, bin) AS rnk,
               sum(volume) OVER (PARTITION BY symbol) AS total
        FROM per_bin
    )
    SELECT symbol, bin::INT AS bin,
           {_q('lo + bin * ((hi - lo) / 10)', 6)} AS bin_low,
           {_q('lo + (bin + 1) * ((hi - lo) / 10)', 6)} AS bin_high,
           n_ticks, volume,
           CASE WHEN total > 0 THEN {_q('volume / total', 6)} END AS vol_share,
           (rnk = 1) AS is_poc
    FROM ranked ORDER BY symbol, bin
    """,
)
def q_volume_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.volume_profile(_events(spark, sf_dir))


@register(
    "turnover_hhi",
    f"""
    WITH dv AS (
        SELECT date_trunc('day', ts) AS day, event_type AS symbol,
               sum(value * (json_extract_string(props, '$.k'))::DOUBLE) AS dv
        FROM events GROUP BY 1, 2
    ),
    shares AS (
        SELECT day,
               CASE WHEN sum(dv) OVER (PARTITION BY day) != 0
                    THEN dv / sum(dv) OVER (PARTITION BY day) END AS s
        FROM dv
    ),
    agg AS (
        SELECT day, count(*)::BIGINT AS n_symbols,
               {_q('sum(s * s)', 6)} AS hhi,
               {_q('max(s)', 6)} AS top_share
        FROM shares GROUP BY 1
    )
    SELECT day, n_symbols, hhi,
           CASE WHEN hhi > 0 THEN {_q('1.0 / hhi', 4)} END AS effective_names,
           top_share
    FROM agg ORDER BY day
    """,
)
def q_turnover_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.turnover_hhi(_events(spark, sf_dir))


@register(
    "omega_ratio",
    f"""
    WITH {_DAILY_CLOSE_SQL.strip()},
    rets AS (
        SELECT symbol,
               CASE WHEN lag(c) OVER (PARTITION BY symbol ORDER BY day) != 0
                    THEN c / lag(c) OVER (PARTITION BY symbol ORDER BY day) - 1.0
               END AS r
        FROM dclose
    ),
    st AS (
        SELECT symbol, count(*)::BIGINT AS n_days,
               {_q('avg(greatest(r, 0.0))', 12)} AS gain_q,
               {_q('avg(greatest(-r, 0.0))', 12)} AS loss_q
        FROM rets WHERE r IS NOT NULL
        GROUP BY 1
    )
    SELECT symbol, n_days,
           {_q('gain_q', 6)} AS avg_gain,
           {_q('loss_q', 6)} AS avg_loss,
           CASE WHEN loss_q > 0 THEN {_q('gain_q / loss_q', 6)} END AS omega
    FROM st ORDER BY 1
    """,
)
def q_omega_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.omega_ratio(_events(spark, sf_dir))


@register(
    "calmar_ratio",
    f"""
    WITH dclose AS (
        SELECT event_type AS symbol, date_trunc('day', ts) AS day,
               max(CASE WHEN rn_d = 1 THEN value END) AS c
        FROM (
            SELECT event_type, ts, value,
                   row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM events WHERE value > 0
        )
        GROUP BY 1, 2
    ),
    framed AS (
        SELECT symbol, day, c,
               1.0 - c / max(c) OVER (PARTITION BY symbol ORDER BY day
                                      ROWS UNBOUNDED PRECEDING) AS dd
        FROM dclose
    ),
    st AS (
        SELECT symbol, count(*)::BIGINT AS n_days,
               min_by(c, day) AS first_c,
               max_by(c, day) AS last_c,
               {_q('max(dd)', 6)} AS max_drawdown
        FROM framed GROUP BY 1
    ),
    ann AS (
        SELECT symbol, n_days, max_drawdown,
               {_q('(252.0 / n_days) * ln(last_c / first_c)', 12)} AS ann_q
        FROM st
    )
    SELECT symbol, n_days, max_drawdown,
           {_q('ann_q', 6)} AS annual_log_return,
           CASE WHEN max_drawdown > 0
                THEN {_q('ann_q / max_drawdown', 6)} END AS calmar_log
    FROM ann ORDER BY 1
    """,
)
def q_calmar_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.calmar_ratio(_events(spark, sf_dir))


@register(
    "updown_capture",
    f"""
    WITH {_DAILY_CLOSE_SQL.strip()},
    rets AS (
        SELECT symbol, day,
               CASE WHEN lag(c) OVER (PARTITION BY symbol ORDER BY day) != 0
                    THEN c / lag(c) OVER (PARTITION BY symbol ORDER BY day) - 1.0
               END AS r
        FROM dclose
    ),
    valid AS (SELECT * FROM rets WHERE r IS NOT NULL),
    market AS (SELECT day, avg(r) AS m FROM valid GROUP BY 1),
    joined AS (
        SELECT v.symbol, v.r, mk.m
        FROM valid v JOIN market mk ON v.day = mk.day
    ),
    st AS (
        SELECT symbol, count(*)::BIGINT AS n_days,
               sum(CASE WHEN m > 0 THEN 1 ELSE 0 END)::BIGINT AS n_up_days,
               sum(CASE WHEN m < 0 THEN 1 ELSE 0 END)::BIGINT AS n_down_days,
               {_q('avg(CASE WHEN m > 0 THEN r END)', 12)} AS up_r,
               {_q('avg(CASE WHEN m > 0 THEN m END)', 12)} AS up_m,
               {_q('avg(CASE WHEN m < 0 THEN r END)', 12)} AS dn_r,
               {_q('avg(CASE WHEN m < 0 THEN m END)', 12)} AS dn_m
        FROM joined GROUP BY 1
    )
    SELECT symbol, n_days, n_up_days, n_down_days,
           CASE WHEN up_m != 0 THEN {_q('up_r / up_m', 6)} END AS up_capture,
           CASE WHEN dn_m != 0 THEN {_q('dn_r / dn_m', 6)} END AS down_capture
    FROM st ORDER BY 1
    """,
)
def q_updown_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.updown_capture(_events(spark, sf_dir))


@register(
    "gap_fill_probability",
    f"""
    WITH {_DAILY_BARS_SQL.strip()},
    framed AS (
        SELECT symbol, o, h, l,
               lag(c) OVER (PARTITION BY symbol ORDER BY day) AS prev_c
        FROM dbars
    ),
    st AS (
        SELECT symbol, count(*)::BIGINT AS n_days,
               sum(CASE WHEN o > prev_c THEN 1 ELSE 0 END)::BIGINT AS n_gap_up,
               sum(CASE WHEN o < prev_c THEN 1 ELSE 0 END)::BIGINT AS n_gap_down,
               sum(CASE WHEN o > prev_c AND l <= prev_c THEN 1 ELSE 0 END)::BIGINT AS n_up_filled,
               sum(CASE WHEN o < prev_c AND h >= prev_c THEN 1 ELSE 0 END)::BIGINT AS n_down_filled,
               {_q('avg(abs(o / prev_c - 1.0))', 6)} AS avg_abs_gap
        FROM framed WHERE prev_c IS NOT NULL AND prev_c != 0
        GROUP BY 1
    )
    SELECT symbol, n_days, n_gap_up,
           CASE WHEN n_gap_up > 0
                THEN {_q('n_up_filled / n_gap_up', 4)} END AS pct_up_filled,
           n_gap_down,
           CASE WHEN n_gap_down > 0
                THEN {_q('n_down_filled / n_gap_down', 4)} END AS pct_down_filled,
           avg_abs_gap
    FROM st ORDER BY 1
    """,
)
def q_gap_fill_probability(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.gap_fill_probability(_events(spark, sf_dir))


@register(
    "streaming_turnover_hhi",
    f"""
    WITH dv AS (
        SELECT date_trunc('day', ts) AS day, event_type AS symbol,
               sum(value * (json_extract_string(props, '$.k'))::DOUBLE) AS dv
        FROM events GROUP BY 1, 2
    ),
    shares AS (
        SELECT day,
               CASE WHEN sum(dv) OVER (PARTITION BY day) != 0
                    THEN dv / sum(dv) OVER (PARTITION BY day) END AS s
        FROM dv
    ),
    agg AS (
        SELECT day, count(*)::BIGINT AS n_symbols,
               {_q('sum(s * s)', 6)} AS hhi,
               {_q('max(s)', 6)} AS top_share
        FROM shares GROUP BY 1
    )
    SELECT day, n_symbols, hhi,
           CASE WHEN hhi > 0 THEN {_q('1.0 / hhi', 4)} END AS effective_names,
           top_share
    FROM agg ORDER BY day
    """,
)
def q_streaming_turnover_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming_silver.streaming_turnover_hhi(spark, sf_dir)


@register(
    "mutual_information_profile",
    f"""
    WITH bounds AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
    src AS (SELECT e.event_type AS t, e.value, b.lo, b.hi
            FROM events e CROSS JOIN bounds b),
    binned AS (
        SELECT t,
               CASE WHEN hi > lo
                    THEN least(floor((value - lo) / (hi - lo) * 10), 9)
                    ELSE 0 END AS b
        FROM src
    ),
    cells AS (SELECT t, b, count(*) AS n_ij FROM binned GROUP BY 1, 2),
    framed AS (
        SELECT t, b, n_ij::DOUBLE AS n_ij,
               (sum(n_ij) OVER (PARTITION BY t))::DOUBLE AS n_i,
               (sum(n_ij) OVER (PARTITION BY b))::DOUBLE AS n_j,
               (sum(n_ij) OVER ())::DOUBLE AS n
        FROM cells
    ),
    rows_h AS (
        SELECT {_q('sum(-(n_i / n) * ln(n_i / n))', 12)} AS h_rows
        FROM (SELECT DISTINCT t, n_i, n FROM framed)
    ),
    cols_h AS (
        SELECT {_q('sum(-(n_j / n) * ln(n_j / n))', 12)} AS h_cols
        FROM (SELECT DISTINCT b, n_j, n FROM framed)
    ),
    stats AS (
        SELECT count(*)::BIGINT AS n_cells, max(n)::BIGINT AS n_rows,
               count(DISTINCT t)::BIGINT AS n_types,
               count(DISTINCT b)::BIGINT AS n_bins_used,
               {_q('sum((n_ij / n) * ln(n_ij * n / (n_i * n_j)))', 12)} AS mi_q,
               {_q('max(n) * (sum(n_ij * n_ij / (n_i * n_j)) - 1.0)', 6)} AS chi2
        FROM framed
    )
    SELECT n_rows, n_types, n_bins_used, n_cells,
           {_q('mi_q', 6)} AS mi_nats,
           CASE WHEN sqrt(h_rows * h_cols) > 0
                THEN {_q('mi_q / sqrt(h_rows * h_cols)', 6)} END AS nmi,
           chi2,
           (n_types - 1) * (n_bins_used - 1) AS dof
    FROM stats, rows_h, cols_h
    """,
)
def q_mutual_information_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profiling import mutual_information_profile

    return mutual_information_profile(_events(spark, sf_dir))


@register(
    "k_anonymity_report",
    f"""
    WITH qi AS (
        SELECT event_type AS qi_type, date_trunc('day', ts) AS qi_day,
               floor(value / 100.0) AS qi_band, count(*) AS g
        FROM events GROUP BY 1, 2, 3
    )
    SELECT sum(g)::BIGINT AS n_rows, count(*)::BIGINT AS n_groups,
           min(g)::BIGINT AS min_k,
           {_q('avg(g::DOUBLE)', 4)} AS avg_group_size,
           {_q('sum(CASE WHEN g < 2 THEN g ELSE 0 END) / sum(g)', 6)} AS pct_rows_k_lt_2,
           {_q('sum(CASE WHEN g < 5 THEN g ELSE 0 END) / sum(g)', 6)} AS pct_rows_k_lt_5,
           {_q('sum(CASE WHEN g < 10 THEN g ELSE 0 END) / sum(g)', 6)} AS pct_rows_k_lt_10
    FROM qi
    """,
)
def q_k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profiling import k_anonymity_report

    return k_anonymity_report(_events(spark, sf_dir))



# ---------------------------------------------------------------------------
# round 10: liquidity / jump / random-walk / seasonality / drawdown / tail
# ---------------------------------------------------------------------------

_HALF_PI_SQL = repr(1.5707963267948966)

_DCLOSE_POS_SQL = """
src AS (SELECT * FROM events WHERE value > 0),
dclose AS (
    SELECT event_type AS symbol, date_trunc('day', ts) AS day,
           max(CASE WHEN rn_d = 1 THEN value END) AS c
    FROM (
        SELECT event_type, ts, value,
               row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM src
    )
    GROUP BY 1, 2
)
"""


@register(
    "bipower_variation_jumps",
    f"""
    WITH src AS (SELECT * FROM events WHERE value > 0),
    t AS (
        SELECT event_type AS symbol, date_trunc('day', ts) AS day, ts, event_id, value,
               lag(value) OVER (PARTITION BY event_type, date_trunc('day', ts)
                                ORDER BY ts, event_id) AS pv
        FROM src
    ),
    lr AS (
        SELECT symbol, day, ts, event_id, ln(value / pv) AS lr
        FROM t WHERE pv IS NOT NULL
    ),
    lr2 AS (
        SELECT symbol, day, lr,
               abs(lr) * abs(lag(lr) OVER (PARTITION BY symbol, day
                                           ORDER BY ts, event_id)) AS bp_term
        FROM lr
    ),
    pd AS (
        SELECT symbol, day,
               CAST(floor(sum(lr * lr) * 1000000000000.0 + 0.5) AS BIGINT) AS rv_u,
               CAST(floor(sum(bp_term) * 1.5707963267948966 * 1000000000000.0 + 0.5) AS BIGINT) AS bv_u
        FROM lr2 GROUP BY 1, 2 HAVING count(*) >= 3
    ),
    js AS (
        SELECT symbol, rv_u, bv_u,
               CASE WHEN rv_u > 0 THEN
                    CASE WHEN greatest(rv_u - bv_u, 0)::DOUBLE / rv_u::DOUBLE > 0.25
                         THEN 1 ELSE 0 END
               END AS is_jump
        FROM pd
    ),
    st AS (
        SELECT symbol, count(*)::BIGINT AS n_days,
               sum(rv_u)::BIGINT AS rv_su,
               sum(bv_u)::BIGINT AS bv_su,
               coalesce(sum(is_jump), 0)::BIGINT AS n_jump_days
        FROM js GROUP BY 1
    )
    SELECT symbol, n_days,
           floor((rv_su::DOUBLE / 1000000000000.0) * 100000000.0 + 0.5) / 100000000.0 AS rv_total,
           floor((bv_su::DOUBLE / 1000000000000.0) * 100000000.0 + 0.5) / 100000000.0 AS bv_total,
           CASE WHEN rv_su > 0
                THEN floor((greatest(rv_su - bv_su, 0)::DOUBLE / rv_su::DOUBLE) * 1000000.0 + 0.5) / 1000000.0
           END AS jump_share,
           n_jump_days
    FROM st ORDER BY 1
    """,
)
def q_bipower_variation_jumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.bipower_variation_jumps(_events(spark, sf_dir))


@register(
    "variance_ratio",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    lr AS (
        SELECT symbol, day,
               ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day)) AS lr
        FROM dclose
    ),
    lrf AS (SELECT symbol, day, lr FROM lr WHERE lr IS NOT NULL),
    f AS (
        SELECT symbol, lr,
               CASE WHEN count(lr) OVER w2 = 2 THEN sum(lr) OVER w2 END AS r2,
               CASE WHEN count(lr) OVER w5 = 5 THEN sum(lr) OVER w5 END AS r5
        FROM lrf
        WINDOW w2 AS (PARTITION BY symbol ORDER BY day
                      ROWS BETWEEN 1 PRECEDING AND CURRENT ROW),
               w5 AS (PARTITION BY symbol ORDER BY day
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    ),
    st AS (
        SELECT symbol, count(lr)::BIGINT AS n_days,
               {_q('var_pop(lr)', 12)} AS v1,
               {_q('var_pop(r2)', 12)} AS v2,
               {_q('var_pop(r5)', 12)} AS v5
        FROM f GROUP BY 1 HAVING count(lr) >= 10
    )
    SELECT symbol, n_days,
           CASE WHEN v1 > 0 THEN {_q('v2 / (2.0 * v1)', 6)} END AS vr_2,
           CASE WHEN v1 > 0 THEN {_q('v5 / (5.0 * v1)', 6)} END AS vr_5
    FROM st ORDER BY 1
    """,
)
def q_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.variance_ratio(_events(spark, sf_dir))


@register(
    "intraday_seasonality",
    f"""
    WITH src AS (SELECT * FROM events WHERE value > 0),
    t AS (
        SELECT event_type AS symbol, date_trunc('day', ts) AS day,
               hour(ts) AS hour, ts, event_id, value,
               value * (json_extract_string(props, '$.k'))::DOUBLE AS dollar,
               lag(value) OVER (PARTITION BY event_type, date_trunc('day', ts)
                                ORDER BY ts, event_id) AS pv
        FROM src
    ),
    f AS (
        SELECT symbol, hour,
               CASE WHEN pv IS NOT NULL THEN abs(ln(value / pv)) END AS abs_lr,
               dollar
        FROM t
    ),
    ph AS (
        SELECT symbol, hour, count(*)::BIGINT AS n_ticks,
               {_q('avg(abs_lr)', 8)} AS avg_abs_ret,
               {_q('sum(dollar)', 6)} AS dv_q
        FROM f GROUP BY 1, 2
    )
    SELECT symbol, hour, n_ticks, avg_abs_ret,
           {_q('dv_q', 2)} AS dollar_volume,
           CASE WHEN sum(dv_q) OVER (PARTITION BY symbol) > 0
                THEN {_q('dv_q / sum(dv_q) OVER (PARTITION BY symbol)', 6)}
           END AS dv_share
    FROM ph ORDER BY 1, 2
    """,
)
def q_intraday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.intraday_seasonality(_events(spark, sf_dir))


@register(
    "drawdown_episodes",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    p1 AS (
        SELECT symbol, day, c,
               max(c) OVER (PARTITION BY symbol ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        FROM dclose
    ),
    p2 AS (
        SELECT symbol, day, c, peak,
               sum(CASE WHEN c >= peak THEN 1 ELSE 0 END)
                   OVER (PARTITION BY symbol ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS epi
        FROM p1
    ),
    per_epi AS (
        SELECT symbol, epi, count(*)::BIGINT AS dur_days,
               CAST(floor(max(1.0 - c / peak) * 1000000.0 + 0.5) AS BIGINT) AS depth_u
        FROM p2 WHERE c < peak
        GROUP BY 1, 2
    )
    SELECT symbol, count(*)::BIGINT AS n_drawdowns,
           floor((max(depth_u) / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS max_depth,
           max(dur_days)::BIGINT AS max_duration_days,
           floor((sum(depth_u)::DOUBLE / count(*) / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS avg_depth
    FROM per_epi GROUP BY 1 ORDER BY 1
    """,
)
def q_drawdown_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.drawdown_episodes(_events(spark, sf_dir))


@register(
    "historical_var_cvar",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    rets AS (
        SELECT symbol,
               {_q('ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day))', 12)} AS lr
        FROM dclose
    ),
    r2 AS (SELECT symbol, lr FROM rets WHERE lr IS NOT NULL),
    st AS (
        SELECT symbol, count(*)::BIGINT AS n_days,
               {_q('quantile_cont(lr, 0.05)', 12)} AS q05
        FROM r2 GROUP BY 1 HAVING count(*) >= 10
    ),
    tail AS (
        SELECT r.symbol, count(*)::BIGINT AS n_tail,
               {_q('avg(r.lr)', 6)} AS cvar_95
        FROM r2 r JOIN st ON st.symbol = r.symbol AND r.lr <= st.q05
        GROUP BY 1
    )
    SELECT st.symbol, st.n_days, {_q('st.q05', 6)} AS var_95,
           t.cvar_95, t.n_tail
    FROM st JOIN tail t ON t.symbol = st.symbol
    ORDER BY 1
    """,
)
def q_historical_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.historical_var_cvar(_events(spark, sf_dir))


@register(
    "l_diversity_report",
    f"""
    WITH qi AS (
        SELECT event_type AS qi_type, date_trunc('day', ts) AS qi_day,
               floor(value / 100.0) AS qi_band,
               count(*) AS g, count(DISTINCT user_id) AS l
        FROM events GROUP BY 1, 2, 3
    )
    SELECT sum(g)::BIGINT AS n_rows, count(*)::BIGINT AS n_groups,
           min(l)::BIGINT AS min_l,
           {_q('avg(l::DOUBLE)', 4)} AS avg_l,
           {_q('sum(CASE WHEN l < 2 THEN 1 ELSE 0 END) / count(*)', 6)} AS pct_groups_l_lt_2,
           {_q('sum(CASE WHEN l < 2 THEN g ELSE 0 END) / sum(g)', 6)} AS pct_rows_l_lt_2,
           {_q('sum(CASE WHEN l < 3 THEN g ELSE 0 END) / sum(g)', 6)} AS pct_rows_l_lt_3
    FROM qi
    """,
)
def q_l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profiling import l_diversity_report

    return l_diversity_report(_events(spark, sf_dir))


# Streaming OHLC twin: the drained state table is row-identical to the
# batch minute_ohlc (commutative per-key folds, exact-key open/close
# selection), so it shares the batch query's exact oracle verbatim --
# the streaming_silver_roundtrip precedent.
@register("streaming_minute_ohlc", ORACLE_SQL["minute_ohlc"])
def q_streaming_minute_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.silver import streaming_minute_ohlc

    return streaming_minute_ohlc(spark, sf_dir)


@register(
    "return_moments_profile",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    rets AS (
        SELECT symbol,
               {_q('ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day))', 12)} AS lr
        FROM dclose
    ),
    r2 AS (SELECT symbol, lr FROM rets WHERE lr IS NOT NULL),
    means AS (
        SELECT symbol, count(*)::BIGINT AS n_days, {_q('avg(lr)', 12)} AS mean_q
        FROM r2 GROUP BY 1 HAVING count(*) >= 10
    ),
    mom AS (
        SELECT r.symbol, max(m.n_days) AS n_days, max(m.mean_q) AS mean_q,
               {_q('avg((r.lr - m.mean_q) * (r.lr - m.mean_q))', 12)} AS m2,
               {_q('avg((r.lr - m.mean_q) * (r.lr - m.mean_q) * (r.lr - m.mean_q))', 12)} AS m3,
               {_q('avg((r.lr - m.mean_q) * (r.lr - m.mean_q) * (r.lr - m.mean_q) * (r.lr - m.mean_q))', 12)} AS m4
        FROM r2 r JOIN means m USING (symbol) GROUP BY 1
    ),
    shaped AS (
        SELECT symbol, n_days, {_q('mean_q', 6)} AS mean_daily_ret,
               CASE WHEN m2 > 0 THEN {_q('m3 / (m2 * sqrt(m2))', 6)} END AS skewness,
               CASE WHEN m2 > 0 THEN {_q('m4 / (m2 * m2) - 3.0', 6)} END AS excess_kurtosis
        FROM mom
    )
    SELECT symbol, n_days, mean_daily_ret, skewness, excess_kurtosis,
           CASE WHEN skewness IS NOT NULL AND excess_kurtosis IS NOT NULL
                THEN {_q('n_days * (skewness * skewness / 6.0 + excess_kurtosis * excess_kurtosis / 24.0)', 4)}
           END AS jarque_bera
    FROM shaped ORDER BY 1
    """,
)
def q_return_moments_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.return_moments_profile(_events(spark, sf_dir))


@register(
    "cross_sectional_momentum",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    f AS (
        SELECT symbol, day,
               CASE WHEN lag(c, 5) OVER w != 0
                    THEN c / lag(c, 5) OVER w - 1.0 END AS mom,
               CASE WHEN c != 0 THEN lead(c) OVER w / c - 1.0 END AS fwd
        FROM dclose WINDOW w AS (PARTITION BY symbol ORDER BY day)
    ),
    g AS (SELECT * FROM f WHERE mom IS NOT NULL AND fwd IS NOT NULL),
    t AS (
        SELECT fwd,
               ntile(3) OVER (PARTITION BY day ORDER BY mom DESC, symbol) AS tercile
        FROM g
    )
    SELECT tercile::BIGINT AS tercile, count(*)::BIGINT AS n_obs,
           {_q('avg(fwd)', 6)} AS avg_fwd_ret,
           {_q('sum(CASE WHEN fwd > 0 THEN 1 ELSE 0 END) / count(*)', 4)} AS hit_rate
    FROM t GROUP BY 1 ORDER BY 1
    """,
)
def q_cross_sectional_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.cross_sectional_momentum(_events(spark, sf_dir))


def _implied_vol_oracle_sql(n_iter: int = 8) -> str:
    from .functions.hashing import md5_long_sql
    from .operators.finance import _iv_price_sql, _iv_step_sql

    rate, t_years = 0.02, 30.0 / 365.0
    iters = ",\n    ".join(
        f"i{j} AS (SELECT *, {_iv_step_sql(f's{j - 1}', 'target_px', rate, t_years)}"
        f" AS s{j} FROM " + ("seeded" if j == 1 else f"i{j - 1}") + ")"
        for j in range(1, n_iter + 1)
    )
    return f"""
    WITH src AS (SELECT * FROM events WHERE value > 0),
    per_sym AS (
        SELECT event_type AS symbol,
               max(CASE WHEN rn = 1 THEN value END) AS spot
        FROM (
            SELECT event_type, value,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM src
        )
        GROUP BY 1
    ),
    quoted0 AS (
        SELECT symbol, spot,
               greatest(floor(spot + 0.5), 1.0)::DOUBLE AS strike,
               {_q(f"0.15 + (({md5_long_sql('symbol')}) % 8)::DOUBLE * 0.05", 6)}
                   AS sigma_true
        FROM per_sym WHERE spot > 0
    ),
    quoted AS (
        SELECT symbol, spot, strike, sigma_true,
               {_q(_iv_price_sql('sigma_true', rate, t_years), 6)} AS target_px
        FROM quoted0
    ),
    seeded AS (SELECT *, 0.5 AS s0 FROM quoted WHERE target_px > 0),
    {iters},
    final AS (
        SELECT *, {_iv_price_sql(f's{n_iter}', rate, t_years)} AS repriced
        FROM i{n_iter}
    )
    SELECT symbol, target_px, sigma_true,
           {_q(f's{n_iter}', 6)} AS implied_vol,
           {_q(f'abs(s{n_iter} - sigma_true)', 6)} AS abs_vol_err,
           {_q('abs(repriced - target_px)', 6)} AS reprice_err,
           abs(repriced - target_px) < 1e-4 AS converged
    FROM final
    ORDER BY symbol
    """


@register("implied_vol_newton", _implied_vol_oracle_sql())
def q_implied_vol_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.implied_vol_newton(_events(spark, sf_dir))


# Streaming KMV twin: bottom-k commutes with batching, so the drained
# sketch equals the one-pass batch sketch bit-for-bit -- exact batch SQL
# oracle over the same md5 user hashes.
from .functions.hashing import md5_long_sql as _md5_sql  # noqa: E402


@register(
    "streaming_kmv_distinct",
    f"""
    WITH hashed AS (
        SELECT DISTINCT event_type AS grp,
               {_md5_sql("user_id::VARCHAR")} AS h
        FROM events
    ),
    bottom AS (
        SELECT grp, h,
               row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
        FROM hashed
    ),
    sketch AS (
        SELECT grp, count(*) AS n_kept, max(h) AS h_k
        FROM bottom WHERE rn <= 32 GROUP BY grp
    )
    SELECT grp AS event_type, n_kept::BIGINT AS n_kept,
           {_q("CASE WHEN n_kept < 32 THEN n_kept::DOUBLE ELSE 31.0 * 1152921504606846976.0 / h_k END", 4)}
               AS kmv_estimate
    FROM sketch
    ORDER BY 1
    """,
)
def q_streaming_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.silver import streaming_kmv_distinct

    return streaming_kmv_distinct(spark, sf_dir)


_LB_GRID = "1000000000000.0"
_LB_ACF_TERMS = " + ".join(
    f"acf_{k} * acf_{k} / (n_days::DOUBLE - {float(k)!r})" for k in range(1, 6)
)
_LB_LAG_COLS = ",\n           ".join(
    f"CASE WHEN lag(dev, {k}) OVER w IS NOT NULL"
    f" THEN floor(dev * lag(dev, {k}) OVER w * {_LB_GRID} + 0.5)::BIGINT"
    f" END AS d{k}_u"
    for k in range(1, 6)
)


@register(
    "ljung_box_autocorr",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    rets AS (
        SELECT symbol, day,
               {_q('ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day))', 12)} AS lr
        FROM dclose
    ),
    r2 AS (SELECT symbol, day, lr FROM rets WHERE lr IS NOT NULL),
    means AS (
        SELECT symbol, count(*)::BIGINT AS n_days, {_q('avg(lr)', 12)} AS mean_q
        FROM r2 GROUP BY 1 HAVING count(*) >= 20
    ),
    dev AS (
        SELECT r.symbol, m.n_days, r.day, r.lr - m.mean_q AS dev
        FROM r2 r JOIN means m USING (symbol)
    ),
    lagged AS (
        SELECT symbol, n_days,
           floor(dev * dev * {_LB_GRID} + 0.5)::BIGINT AS d0_u,
           {_LB_LAG_COLS}
        FROM dev WINDOW w AS (PARTITION BY symbol ORDER BY day)
    ),
    agg AS (
        SELECT symbol, max(n_days) AS n_days, sum(d0_u) AS den_u,
               {', '.join(f'sum(d{k}_u) AS num{k}_u' for k in range(1, 6))}
        FROM lagged GROUP BY 1 HAVING sum(d0_u) > 0
    ),
    shaped AS (
        SELECT symbol, n_days,
               {', '.join(_q(f'num{k}_u::DOUBLE / den_u::DOUBLE', 6) + f' AS acf_{k}' for k in range(1, 6))}
        FROM agg
    ),
    final AS (
        SELECT symbol, n_days, acf_1, acf_2, acf_3, acf_4, acf_5,
               {_q(f'n_days::DOUBLE * (n_days::DOUBLE + 2.0) * ({_LB_ACF_TERMS})', 4)} AS ljung_box_q
        FROM shaped
    )
    SELECT symbol, n_days, acf_1, acf_2, acf_3, acf_4, acf_5, ljung_box_q,
           ljung_box_q > 11.0705 AS reject_5pct
    FROM final ORDER BY 1
    """,
)
def q_ljung_box_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.ljung_box_autocorr(_events(spark, sf_dir))


@register(
    "kupiec_var_backtest",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    rets AS (
        SELECT symbol,
               {_q('ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day))', 12)} AS lr
        FROM dclose
    ),
    r2 AS (SELECT symbol, lr FROM rets WHERE lr IS NOT NULL),
    st AS (
        SELECT symbol, count(*)::BIGINT AS n_days,
               {_q('quantile_cont(lr, 0.05)', 12)} AS q05
        FROM r2 GROUP BY 1 HAVING count(*) >= 10
    ),
    br AS (
        SELECT r.symbol, max(st.n_days) AS n_days, max(st.q05) AS q05,
               sum(CASE WHEN r.lr <= st.q05 THEN 1 ELSE 0 END)::BIGINT AS n_breach
        FROM r2 r JOIN st USING (symbol)
        GROUP BY 1
    ),
    calc AS (
        SELECT symbol, n_days, q05, n_breach,
               n_breach::DOUBLE / n_days::DOUBLE AS pi_hat,
               (n_days::DOUBLE - n_breach::DOUBLE) * {_q('ln(0.95)', 12)}
                   + n_breach::DOUBLE * {_q('ln(0.05)', 12)} AS ll_null,
               CASE WHEN n_breach > 0 AND n_breach < n_days
                    THEN (n_days::DOUBLE - n_breach::DOUBLE)
                             * {_q('ln(1.0 - n_breach::DOUBLE / n_days::DOUBLE)', 12)}
                         + n_breach::DOUBLE
                             * {_q('ln(n_breach::DOUBLE / n_days::DOUBLE)', 12)}
                    ELSE 0.0 END AS ll_alt
        FROM br
    ),
    final AS (
        SELECT symbol, n_days, {_q('q05', 6)} AS var_95, n_breach,
               {_q('pi_hat', 6)} AS breach_rate,
               {_q('2.0 * (ll_alt - ll_null)', 4)} AS lr_pof
        FROM calc
    )
    SELECT symbol, n_days, var_95, n_breach, breach_rate, lr_pof,
           lr_pof > 3.8415 AS reject_5pct
    FROM final ORDER BY 1
    """,
)
def q_kupiec_var_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.kupiec_var_backtest(_events(spark, sf_dir))


@register(
    "window_funnel_stages",
    f"""
    WITH anchor AS (
        SELECT user_id, min(ts) AS t1
        FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN anchor v ON v.user_id = e.user_id
        WHERE e.event_type = 'click'
          AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 6 HOUR
        GROUP BY 1
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e
        JOIN anchor v ON v.user_id = e.user_id
        JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase'
          AND e.ts > s2.t2 AND e.ts <= v.t1 + INTERVAL 6 HOUR
        GROUP BY 1
    ),
    stages AS (
        SELECT (1 + (CASE WHEN s2.user_id IS NOT NULL THEN 1 ELSE 0 END)
                  + (CASE WHEN s3.user_id IS NOT NULL THEN 1 ELSE 0 END)
               )::BIGINT AS max_stage
        FROM anchor v
        LEFT JOIN s2 ON s2.user_id = v.user_id
        LEFT JOIN s3 ON s3.user_id = v.user_id
    ),
    hist AS (SELECT max_stage, count(*)::BIGINT AS n_users FROM stages GROUP BY 1),
    tot AS (SELECT sum(n_users) AS total FROM hist)
    SELECT h.max_stage, h.n_users,
           {_q('h.n_users::DOUBLE / t.total::DOUBLE', 6)} AS pct_of_entrants
    FROM hist h CROSS JOIN tot t
    ORDER BY 1
    """,
)
def q_window_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.window_funnel_stages(_events(spark, sf_dir))


@register(
    "tail_dependence_matrix",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    rets AS (
        SELECT symbol, day,
               {_q('ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day))', 12)} AS lr
        FROM dclose
    ),
    r2 AS (SELECT symbol, day, lr FROM rets WHERE lr IS NOT NULL),
    th AS (
        SELECT symbol, count(*)::BIGINT AS n_days_sym,
               {_q('quantile_cont(lr, 0.2)', 12)} AS qtail
        FROM r2 GROUP BY 1 HAVING count(*) >= 10
    ),
    flags AS (
        SELECT r.symbol, r.day, r.lr <= th.qtail AS in_tail
        FROM r2 r JOIN th USING (symbol)
    ),
    pairs AS (
        SELECT a.symbol AS sym_a, b.symbol AS sym_b,
               a.in_tail AS tail_a, b.in_tail AS tail_b
        FROM flags a JOIN flags b ON a.day = b.day AND a.symbol < b.symbol
    ),
    agg AS (
        SELECT sym_a, sym_b, count(*)::BIGINT AS n_days,
               sum(CASE WHEN tail_a THEN 1 ELSE 0 END)::BIGINT AS n_a_tail,
               sum(CASE WHEN tail_b THEN 1 ELSE 0 END)::BIGINT AS n_b_tail,
               sum(CASE WHEN tail_a AND tail_b THEN 1 ELSE 0 END)::BIGINT AS n_both
        FROM pairs GROUP BY 1, 2
    )
    SELECT sym_a, sym_b, n_days, n_a_tail, n_b_tail, n_both,
           CASE WHEN n_b_tail > 0
                THEN {_q('n_both::DOUBLE / n_b_tail::DOUBLE', 6)} END AS lambda_lower,
           CASE WHEN n_a_tail > 0 AND n_b_tail > 0
                THEN {_q('n_both::DOUBLE * n_days::DOUBLE / (n_a_tail::DOUBLE * n_b_tail::DOUBLE)', 4)}
           END AS tail_lift
    FROM agg
    ORDER BY 1, 2
    """,
)
def q_tail_dependence_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.tail_dependence_matrix(_events(spark, sf_dir))


# Shares the batch value_percentiles oracle VERBATIM: the gridded-domain
# histogram state is lossless, so the drained stream reconstructs the
# exact interpolated quantiles (the streaming_minute_ohlc shared-oracle
# precedent).
@register("streaming_value_quantiles", ORACLE_SQL["value_percentiles"])
def q_streaming_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.silver import streaming_value_quantiles

    return streaming_value_quantiles(spark, sf_dir)


@register(
    "js_divergence_drift",
    f"""
    WITH vals AS (
        SELECT event_type AS symbol, epoch_us(ts) AS us, value
        FROM events WHERE value IS NOT NULL
    ),
    bounds AS (
        SELECT ((min(us) + max(us)) // 2)::BIGINT AS mid_us,
               min(value) AS vmin, max(value) AS vmax
        FROM vals
    ),
    binned AS (
        SELECT symbol, (us > mid_us) AS is_cur,
               (CASE WHEN vmax != vmin
                     THEN least(floor((value - vmin) / (vmax - vmin) * 10), 9)
                     ELSE 0 END)::INT AS bin
        FROM vals, bounds
    ),
    occupied AS (
        SELECT symbol, bin,
               coalesce(sum(CASE WHEN NOT is_cur THEN 1 ELSE 0 END), 0)::BIGINT AS n_ref,
               coalesce(sum(CASE WHEN is_cur THEN 1 ELSE 0 END), 0)::BIGINT AS n_cur
        FROM binned GROUP BY 1, 2
    ),
    -- full (symbol x n_bins) grid: bins empty in BOTH halves still
    -- carry their +0.5 Laplace mass so the smoothed P and Q each sum
    -- to exactly 1 (mirrors the round-12 engine fix)
    cells AS (
        SELECT g.symbol, g.bin,
               coalesce(o.n_ref, 0)::BIGINT AS n_ref,
               coalesce(o.n_cur, 0)::BIGINT AS n_cur
        FROM (SELECT s.symbol, r.range::INT AS bin
              FROM (SELECT DISTINCT symbol FROM vals) s
              CROSS JOIN range(10) r) g
        LEFT JOIN occupied o ON g.symbol = o.symbol AND g.bin = o.bin
    ),
    totals AS (
        SELECT symbol, sum(n_ref)::BIGINT AS t_ref, sum(n_cur)::BIGINT AS t_cur
        FROM cells GROUP BY 1
    ),
    probs AS (
        SELECT c.symbol, c.n_ref, c.n_cur,
               (c.n_ref + 0.5) / (t.t_ref + 5.0) AS p,
               (c.n_cur + 0.5) / (t.t_cur + 5.0) AS q
        FROM cells c JOIN totals t USING (symbol)
    ),
    withm AS (SELECT symbol, n_ref, n_cur, p, q, (p + q) / 2.0 AS m FROM probs),
    contrib AS (
        SELECT symbol, n_ref, n_cur,
               floor(0.5 * (p * {_q('ln(p / m)', 12)} + q * {_q('ln(q / m)', 12)})
                     * 1000000000000.0 + 0.5)::BIGINT AS c_u
        FROM withm
    ),
    agg AS (
        SELECT symbol, sum(n_ref)::BIGINT AS n_ref, sum(n_cur)::BIGINT AS n_cur,
               sum(c_u) AS sum_u
        FROM contrib GROUP BY 1
    )
    SELECT symbol, n_ref, n_cur,
           {_q('sum_u::DOUBLE / 1000000000000.0', 6)} AS jsd,
           {_q('sum_u::DOUBLE / 1000000000000.0 / 0.6931471805599453', 6)}
               AS jsd_normalized,
           sum_u::DOUBLE / 1000000000000.0 > 0.1 AS drift_alert
    FROM agg ORDER BY 1
    """,
)
def q_js_divergence_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import profiling

    return profiling.js_divergence_drift(_events(spark, sf_dir))


@register(
    "runs_test_randomness",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    rets AS (
        SELECT symbol, day,
               {_q('ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day))', 12)} AS lr
        FROM dclose
    ),
    r2 AS (SELECT symbol, day, lr FROM rets WHERE lr IS NOT NULL AND lr <> 0),
    signed AS (
        SELECT symbol, day, CASE WHEN lr > 0 THEN 1 ELSE -1 END AS s
        FROM r2
    ),
    flagged AS (
        SELECT symbol, s,
               CASE WHEN lag(s) OVER w IS NULL OR lag(s) OVER w <> s
                    THEN 1 ELSE 0 END AS new_run
        FROM signed WINDOW w AS (PARTITION BY symbol ORDER BY day)
    ),
    agg AS (
        SELECT symbol, count(*)::BIGINT AS n_days,
               sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)::BIGINT AS n_pos,
               sum(CASE WHEN s = -1 THEN 1 ELSE 0 END)::BIGINT AS n_neg,
               sum(new_run)::BIGINT AS n_runs
        FROM flagged GROUP BY 1
        HAVING count(*) >= 20
           AND sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) > 0
           AND sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) > 0
    ),
    shaped AS (
        SELECT symbol, n_days, n_pos, n_neg, n_runs,
               2.0 * n_pos::DOUBLE * n_neg::DOUBLE / n_days::DOUBLE + 1.0 AS mu,
               2.0 * n_pos::DOUBLE * n_neg::DOUBLE
                 * (2.0 * n_pos::DOUBLE * n_neg::DOUBLE - n_days::DOUBLE)
                 / (n_days::DOUBLE * n_days::DOUBLE * (n_days::DOUBLE - 1.0))
                 AS var
        FROM agg
    ),
    final AS (
        SELECT symbol, n_days, n_pos, n_neg, n_runs,
               {_q('mu', 6)} AS expected_runs,
               CASE WHEN var > 0
                    THEN {_q('(n_runs::DOUBLE - mu) / sqrt(var)', 6)}
               END AS z_stat
        FROM shaped
    )
    SELECT symbol, n_days, n_pos, n_neg, n_runs, expected_runs, z_stat,
           abs(z_stat) > 1.96 AS reject_5pct
    FROM final ORDER BY 1
    """,
)
def q_runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.runs_test_randomness(_events(spark, sf_dir))


def _realized_kernel_oracle_sql(bandwidth: int = 5) -> str:
    weights = finance._parzen_weights(bandwidth)
    lag_cols = ",\n           ".join(
        f"CASE WHEN lag(lr, {h}) OVER w IS NOT NULL"
        f" THEN floor(lr * lag(lr, {h}) OVER w * 1000000000000.0 + 0.5)::BIGINT"
        f" END AS g{h}_u"
        for h in range(1, bandwidth + 1)
    )
    sums = ", ".join(
        f"sum(g{h}_u) AS g{h}_u" for h in range(0, bandwidth + 1)
    )
    rk_expr = "g0_u::DOUBLE" + "".join(
        f" + {2.0 * weights[h - 1]!r} * g{h}_u::DOUBLE"
        for h in range(1, bandwidth + 1)
    )
    return f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    rets AS (
        SELECT symbol, day,
               {_q('ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day))', 12)} AS lr
        FROM dclose
    ),
    r2 AS (SELECT symbol, day, lr FROM rets WHERE lr IS NOT NULL),
    framed AS (
        SELECT symbol,
           floor(lr * lr * 1000000000000.0 + 0.5)::BIGINT AS g0_u,
           {lag_cols}
        FROM r2 WINDOW w AS (PARTITION BY symbol ORDER BY day)
    ),
    agg AS (
        SELECT symbol, count(*)::BIGINT AS n_days, {sums}
        FROM framed GROUP BY 1 HAVING count(*) >= {4 * bandwidth}
    ),
    shaped AS (
        SELECT symbol, n_days,
               g0_u::DOUBLE / 1000000000000.0 AS rv_raw,
               {_q(f'({rk_expr}) / 1000000000000.0', 12)} AS rk_q
        FROM agg
    )
    SELECT symbol, n_days,
           {_q('rv_raw', 10)} AS rv,
           {_q('rk_q', 10)} AS rk_variance,
           CASE WHEN rv_raw > 0 THEN {_q('rk_q / rv_raw', 6)} END AS kernel_ratio,
           {_q(f"sqrt({_q('greatest(rk_q, 0.0) * 252.0 / n_days::DOUBLE', 12)})", 6)}
               AS rk_vol_annualized
    FROM shaped ORDER BY 1
    """


@register("realized_kernel_vol", _realized_kernel_oracle_sql())
def q_realized_kernel_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.realized_kernel_vol(_events(spark, sf_dir))


@register(
    "cdar_conditional_drawdown",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    depth AS (
        SELECT symbol, day,
               floor(({_q('1.0 - c / max(c) OVER (PARTITION BY symbol ORDER BY day ROWS UNBOUNDED PRECEDING)', 12)})
                     * 1000000000000.0 + 0.5)::BIGINT AS dd_u
        FROM dclose
    ),
    ranked AS (
        SELECT symbol, dd_u,
               count(*) OVER (PARTITION BY symbol) AS n_days,
               row_number() OVER (PARTITION BY symbol ORDER BY dd_u DESC, day) AS rk
        FROM depth
    ),
    eligible AS (SELECT * FROM ranked WHERE n_days >= 20),
    tail_rows AS (
        SELECT * FROM eligible
        WHERE rk <= ceil(n_days::DOUBLE * 0.05)::BIGINT
    ),
    agg AS (
        SELECT symbol, max(n_days)::BIGINT AS n_days,
               count(*)::BIGINT AS k_tail,
               max(dd_u) AS max_u, sum(dd_u) AS sum_u
        FROM tail_rows GROUP BY 1
    )
    SELECT symbol, n_days, k_tail,
           {_q('max_u::DOUBLE / 1000000000000.0', 6)} AS max_drawdown,
           {_q('sum_u::DOUBLE / k_tail::DOUBLE / 1000000000000.0', 6)} AS cdar
    FROM agg ORDER BY 1
    """,
)
def q_cdar_conditional_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.cdar_conditional_drawdown(_events(spark, sf_dir))


@register(
    "treynor_information_ratios",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    rets AS (
        SELECT symbol, day,
               {_q('ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day))', 12)} AS lr
        FROM dclose
    ),
    r2 AS (SELECT symbol, day, lr FROM rets WHERE lr IS NOT NULL),
    market AS (
        SELECT day, {_q('avg(lr)', 12)} AS m FROM r2 GROUP BY 1
    ),
    joined AS (
        SELECT r.symbol, r.lr, k.m, r.lr - k.m AS active
        FROM r2 r JOIN market k USING (day)
    ),
    agg AS (
        SELECT symbol, count(*)::BIGINT AS n_days,
               {_q('avg(lr)', 12)} AS mean_r,
               CASE WHEN var_pop(m) != 0
                    THEN {_q('covar_pop(lr, m) / var_pop(m)', 6)} END AS beta,
               {_q('avg(active)', 12)} AS mean_active,
               {_q('stddev_pop(active)', 12)} AS te
        FROM joined GROUP BY 1 HAVING count(*) >= 20
    )
    SELECT symbol, n_days, beta,
           CASE WHEN beta IS NOT NULL AND beta != 0
                THEN {_q('mean_r * 252.0 / beta', 6)} END AS treynor_ann,
           {_q('te', 6)} AS tracking_error,
           CASE WHEN te != 0
                THEN {_q('mean_active / te * 15.874507866387544', 6)}
           END AS info_ratio_ann
    FROM agg ORDER BY 1
    """,
)
def q_treynor_information_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.treynor_information_ratios(_events(spark, sf_dir))


@register(
    "lee_ready_tick_classification",
    f"""
    WITH src AS (SELECT * FROM events WHERE value > 0),
    base AS (
        SELECT event_type AS symbol, ts, event_id, value,
               (json_extract_string(props, '$.k'))::DOUBLE AS qty
        FROM src
    ),
    signed AS (
        SELECT *,
               CASE WHEN lag(value) OVER w IS NULL THEN NULL
                    WHEN value > lag(value) OVER w THEN 1
                    WHEN value < lag(value) OVER w THEN -1
                    ELSE 0 END AS tick
        FROM base WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id)
    ),
    flagged AS (
        SELECT symbol, date_trunc('day', ts) AS day, value, qty,
               last_value(CASE WHEN tick != 0 THEN tick END IGNORE NULLS)
                   OVER (PARTITION BY symbol ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS side
        FROM signed
    ),
    rowed AS (
        SELECT symbol, day, side,
               CASE WHEN side IS NOT NULL AND qty IS NOT NULL
                    THEN side::BIGINT * floor(value * qty * 1000000.0 + 0.5)::BIGINT
               END AS flow_u
        FROM flagged
    ),
    agg AS (
        SELECT symbol, day, count(*)::BIGINT AS n_trades,
               sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)::BIGINT AS n_buys,
               sum(CASE WHEN side = -1 THEN 1 ELSE 0 END)::BIGINT AS n_sells,
               sum(CASE WHEN side IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_unclassified,
               sum(flow_u) AS flow_u
        FROM rowed GROUP BY 1, 2
    )
    SELECT symbol, day, n_trades, n_buys, n_sells, n_unclassified,
           CASE WHEN n_buys + n_sells > 0
                THEN {_q('n_buys::DOUBLE / (n_buys + n_sells)::DOUBLE', 6)}
           END AS buy_ratio,
           {_q('coalesce(flow_u, 0)::DOUBLE / 1000000.0', 6)} AS dollar_flow_imbalance
    FROM agg ORDER BY 1, 2
    """,
)
def q_lee_ready_tick_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.lee_ready_tick_classification(_events(spark, sf_dir))


@register(
    "kendall_tau_matrix",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    rets AS (
        SELECT symbol, day,
               {_q('ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day))', 12)} AS lr
        FROM dclose
    ),
    r2 AS (SELECT symbol, day, lr FROM rets WHERE lr IS NOT NULL),
    paired AS (
        SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.day AS day,
               a.lr AS ra, b.lr AS rb
        FROM r2 a JOIN r2 b ON a.day = b.day AND a.symbol < b.symbol
    ),
    dp AS (
        SELECT p1.sym_a, p1.sym_b,
               p1.ra - p2.ra AS da, p1.rb - p2.rb AS db
        FROM paired p1
        JOIN paired p2
          ON p1.sym_a = p2.sym_a AND p1.sym_b = p2.sym_b
         AND p1.day < p2.day
    ),
    agg AS (
        SELECT sym_a, sym_b, count(*)::BIGINT AS n0,
               sum(CASE WHEN da * db > 0 THEN 1 ELSE 0 END)::BIGINT AS concordant,
               sum(CASE WHEN da * db < 0 THEN 1 ELSE 0 END)::BIGINT AS discordant,
               sum(CASE WHEN da = 0 THEN 1 ELSE 0 END)::BIGINT AS ties_a,
               sum(CASE WHEN db = 0 THEN 1 ELSE 0 END)::BIGINT AS ties_b
        FROM dp GROUP BY 1, 2
    )
    SELECT sym_a, sym_b, n0, concordant, discordant, ties_a, ties_b,
           CASE WHEN sqrt((n0 - ties_a)::DOUBLE * (n0 - ties_b)::DOUBLE) > 0
                THEN {_q('(concordant - discordant)::DOUBLE / sqrt((n0 - ties_a)::DOUBLE * (n0 - ties_b)::DOUBLE)', 6)}
           END AS kendall_tau_b
    FROM agg ORDER BY 1, 2
    """,
)
def q_kendall_tau_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.kendall_tau_matrix(_events(spark, sf_dir))


# Long-calendar scale twin of kendall_tau_matrix (round-12; the
# volatility_cones exact/approx discipline): day pairs form only within
# a calendar month, so cost is linear in calendar length; per-month
# tau-b's roll up as an n0-weighted average on an exact 1e-12 BIGINT
# grid (order-independent -- the only floats are the final divisions).
@register(
    "kendall_tau_windowed",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    rets AS (
        SELECT symbol, day,
               {_q('ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day))', 12)} AS lr
        FROM dclose
    ),
    r2 AS (SELECT symbol, day, date_trunc('month', day) AS w, lr
           FROM rets WHERE lr IS NOT NULL),
    paired AS (
        SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.w AS w,
               a.day AS day, a.lr AS ra, b.lr AS rb
        FROM r2 a JOIN r2 b ON a.day = b.day AND a.symbol < b.symbol
    ),
    dp AS (
        SELECT p1.sym_a, p1.sym_b, p1.w,
               p1.ra - p2.ra AS da, p1.rb - p2.rb AS db
        FROM paired p1
        JOIN paired p2
          ON p1.sym_a = p2.sym_a AND p1.sym_b = p2.sym_b
         AND p1.w = p2.w AND p1.day < p2.day
    ),
    perwin AS (
        SELECT sym_a, sym_b, w, count(*)::BIGINT AS n0,
               sum(CASE WHEN da * db > 0 THEN 1 ELSE 0 END)::BIGINT AS c,
               sum(CASE WHEN da * db < 0 THEN 1 ELSE 0 END)::BIGINT AS d,
               sum(CASE WHEN da = 0 THEN 1 ELSE 0 END)::BIGINT AS ta,
               sum(CASE WHEN db = 0 THEN 1 ELSE 0 END)::BIGINT AS tb
        FROM dp GROUP BY 1, 2, 3
    ),
    wtau AS (
        SELECT sym_a, sym_b, n0,
               CASE WHEN sqrt((n0 - ta)::DOUBLE * (n0 - tb)::DOUBLE) > 0
                    THEN floor((c - d)::DOUBLE
                               / sqrt((n0 - ta)::DOUBLE * (n0 - tb)::DOUBLE)
                               * 1000000000000.0 + 0.5)::BIGINT
               END AS tau_u
        FROM perwin
    ),
    roll AS (
        SELECT sym_a, sym_b, count(*)::BIGINT AS n_windows,
               sum(n0)::BIGINT AS n0_total,
               sum(tau_u * n0)::BIGINT AS wsum_u
        FROM wtau WHERE tau_u IS NOT NULL GROUP BY 1, 2
    )
    SELECT sym_a, sym_b, n_windows, n0_total,
           {_q('(wsum_u::DOUBLE / 1000000000000.0) / n0_total::DOUBLE', 6)}
               AS kendall_tau_b_wavg
    FROM roll ORDER BY 1, 2
    """,
)
def q_kendall_tau_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.kendall_tau_windowed(_events(spark, sf_dir))


@register(
    "calendar_anomaly_report",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    rets AS (
        SELECT symbol, day,
               {_q('ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day))', 12)} AS lr
        FROM dclose
    ),
    r2 AS (SELECT symbol, day, lr FROM rets WHERE lr IS NOT NULL),
    agg AS (
        SELECT symbol, isodow(day)::INT AS iso_dow, count(*)::BIGINT AS n_days,
               {_q('avg(lr)', 12)} AS mean_q,
               {_q('stddev_samp(lr)', 12)} AS sd_q
        FROM r2 GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    shaped AS (
        SELECT symbol, iso_dow, n_days, mean_q,
               CASE WHEN sd_q > 0
                    THEN {_q('mean_q / (sd_q / sqrt(n_days::DOUBLE))', 6)}
               END AS t_stat
        FROM agg
    )
    SELECT symbol, iso_dow, n_days,
           {_q('mean_q', 6)} AS mean_lr, t_stat,
           abs(t_stat) > 2.0 AS candidate_anomaly
    FROM shaped ORDER BY 1, 2
    """,
)
def q_calendar_anomaly_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.calendar_anomaly_report(_events(spark, sf_dir))


_NW_LAG_COLS = ",\n           ".join(
    f"CASE WHEN lag(dev, {h}) OVER w IS NOT NULL"
    f" THEN floor(dev * lag(dev, {h}) OVER w * 1000000000000.0 + 0.5)::BIGINT"
    f" END AS g{h}_u"
    for h in range(1, 6)
)
_NW_S_EXPR = "g0_u::DOUBLE" + "".join(
    f" + {2.0 * (1.0 - h / 6.0)!r} * g{h}_u::DOUBLE" for h in range(1, 6)
)


@register(
    "newey_west_tstat",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    rets AS (
        SELECT symbol, day,
               {_q('ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day))', 12)} AS lr
        FROM dclose
    ),
    r2 AS (SELECT symbol, day, lr FROM rets WHERE lr IS NOT NULL),
    means AS (
        SELECT symbol, count(*)::BIGINT AS n_days, {_q('avg(lr)', 12)} AS mean_q
        FROM r2 GROUP BY 1 HAVING count(*) >= 20
    ),
    dev AS (
        SELECT r.symbol, m.n_days, m.mean_q, r.day, r.lr - m.mean_q AS dev
        FROM r2 r JOIN means m USING (symbol)
    ),
    lagged AS (
        SELECT symbol, n_days, mean_q,
           floor(dev * dev * 1000000000000.0 + 0.5)::BIGINT AS g0_u,
           {_NW_LAG_COLS}
        FROM dev WINDOW w AS (PARTITION BY symbol ORDER BY day)
    ),
    agg AS (
        SELECT symbol, max(n_days) AS n_days, max(mean_q) AS mean_q,
               {', '.join(f'sum(g{h}_u) AS g{h}_u' for h in range(0, 6))}
        FROM lagged GROUP BY 1
    ),
    shaped AS (
        SELECT symbol, n_days, mean_q,
               sqrt({_q(f'{_q(f"({_NW_S_EXPR}) / 1000000000000.0 / n_days::DOUBLE", 12)} / n_days::DOUBLE', 12)}) AS se_hac,
               sqrt({_q(f'{_q("g0_u::DOUBLE / 1000000000000.0 / n_days::DOUBLE", 12)} / n_days::DOUBLE', 12)}) AS se_naive
        FROM agg
    ),
    final AS (
        SELECT symbol, n_days, mean_q,
               CASE WHEN se_naive > 0 THEN {_q('mean_q / se_naive', 6)} END AS t_naive,
               CASE WHEN se_hac > 0 THEN {_q('mean_q / se_hac', 6)} END AS t_newey_west
        FROM shaped
    )
    SELECT symbol, n_days, {_q('mean_q', 6)} AS mean_lr,
           t_naive, t_newey_west,
           abs(t_newey_west) > 1.96 AS reject_5pct
    FROM final ORDER BY 1
    """,
)
def q_newey_west_tstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.newey_west_tstat(_events(spark, sf_dir))


@register(
    "hayashi_yoshida_covariance",
    f"""
    WITH src AS (SELECT * FROM events WHERE value > 0),
    ticks AS (
        SELECT event_type AS symbol, event_id,
               epoch_us(lag(ts) OVER w) AS p_us,
               epoch_us(ts) AS t_us,
               {_q('ln(value / lag(value) OVER w)', 12)} AS r
        FROM src WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ),
    spans AS (
        SELECT symbol, event_id, p_us, t_us, r,
               (p_us // 60000000)::BIGINT AS b0,
               (t_us // 60000000)::BIGINT AS b1
        FROM ticks WHERE r IS NOT NULL
    ),
    exploded AS (
        SELECT symbol, event_id, p_us, t_us, r, b0,
               unnest(generate_series(b0, b1)) AS bucket
        FROM spans
    ),
    rv AS (
        SELECT symbol,
               sum(floor(r * r * 1000000000000.0 + 0.5)::BIGINT) AS rv_u,
               count(*)::BIGINT AS n_returns
        FROM spans GROUP BY 1
    ),
    prods AS (
        SELECT a.symbol AS sym_a, b.symbol AS sym_b,
               count(*)::BIGINT AS n_overlap_pairs,
               sum(floor(a.r * b.r * 1000000000000.0 + 0.5)::BIGINT) AS cov_u
        FROM exploded a
        JOIN exploded b
          ON a.bucket = b.bucket
         AND a.symbol < b.symbol
         AND a.p_us < b.t_us
         AND b.p_us < a.t_us
         AND a.bucket = greatest(a.b0, b.b0)
        GROUP BY 1, 2
    )
    SELECT sym_a, sym_b,
           ra.n_returns AS n_a, rb.n_returns AS n_b,
           n_overlap_pairs,
           {_q('cov_u::DOUBLE / 1000000000000.0', 10)} AS hy_cov,
           CASE WHEN sqrt(ra.rv_u::DOUBLE * rb.rv_u::DOUBLE) > 0
                THEN {_q('cov_u::DOUBLE / sqrt(ra.rv_u::DOUBLE * rb.rv_u::DOUBLE)', 6)}
           END AS hy_corr
    FROM prods
    JOIN rv ra ON ra.symbol = sym_a
    JOIN rv rb ON rb.symbol = sym_b
    ORDER BY 1, 2
    """,
)
def q_hayashi_yoshida_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.hayashi_yoshida_covariance(_events(spark, sf_dir))


_GARCH_S2 = "0.02 * acc[3] + 0.08 * x[1] * x[1] + 0.9 * acc[1]"
_GARCH_FOLD = f"""
    list_reduce(
        list_concat([[vhat, 0.0::DOUBLE, vhat]],
                    list_transform(vals, r -> [r, 0.0::DOUBLE, 0.0::DOUBLE])),
        (acc, x) -> [{_GARCH_S2},
                     acc[2] + (CASE WHEN ({_GARCH_S2}) > 2.0 * acc[3]
                               THEN 1.0 ELSE 0.0 END),
                     acc[3]])
"""


@register(
    "garch_filter_vol",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    rets AS (
        SELECT symbol, day,
               {_q('ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day))', 12)} AS lr
        FROM dclose
    ),
    r2 AS (SELECT symbol, day, lr FROM rets WHERE lr IS NOT NULL),
    per AS (
        SELECT symbol, count(*)::BIGINT AS n_days,
               sum(floor(lr * lr * 1000000000000.0 + 0.5)::BIGINT) AS sum_u,
               list(lr ORDER BY day) AS vals
        FROM r2 GROUP BY 1 HAVING count(*) >= 20
    ),
    staged AS (
        SELECT symbol, n_days,
               sum_u::DOUBLE / n_days::DOUBLE / 1000000000000.0 AS vhat,
               vals
        FROM per
    ),
    folded AS (
        SELECT symbol, n_days, vhat, {_GARCH_FOLD} AS st
        FROM staged
    )
    SELECT symbol, n_days,
           {_q(f"sqrt({_q('vhat * 252.0', 12)})", 6)} AS uncond_vol_ann,
           {_q(f"sqrt({_q('greatest(st[1], 0.0) * 252.0', 12)})", 6)} AS garch_vol_ann,
           CASE WHEN vhat > 0
                THEN {_q(f"sqrt({_q('st[1] / vhat', 12)})", 6)}
           END AS terminal_vol_ratio,
           st[2]::BIGINT AS n_high_vol_days,
           {_q('st[2] / n_days::DOUBLE', 6)} AS high_vol_share
    FROM folded ORDER BY 1
    """,
)
def q_garch_filter_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.garch_filter_vol(_events(spark, sf_dir))


@register(
    "mode_per_user",
    f"""
    WITH counts AS (
        SELECT user_id, event_type, count(*)::BIGINT AS n
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT user_id, event_type, n,
               sum(n) OVER (PARTITION BY user_id)::BIGINT AS n_total,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY n DESC, event_type) AS rk
        FROM counts
    )
    SELECT user_id, event_type AS mode_event_type, n AS n_mode, n_total,
           {_q('n::DOUBLE / n_total::DOUBLE', 6)} AS mode_share
    FROM ranked WHERE rk = 1
    ORDER BY 1
    """,
)
def q_mode_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.rollup import mode_per_user

    return mode_per_user(_events(spark, sf_dir))


# Same gaps-and-islands spine as the batch sessionize_users oracle
# (strict-> split, matching session_window's merge-at-boundary), but
# the value total accumulates on the engine's own 1e-8 BIGINT grid:
# per-event u = floor(value*1e8+0.5) summed as BIGINT, rounded to 2 dp
# only at the end.  BIGINT accumulation is order-independent and exact,
# so row-identity with the oracle holds by construction for ANY event
# sum -- the raw-double-sum oracle the query previously shared could in
# principle flip the 0.005 rounding boundary on adversarial sums
# (per-event grid error up to n_events * 0.5e-8; round-11 advisor
# finding).  The batch sessionize_users twin keeps the raw-double
# oracle because its engine (session_window + F.sum(double)) sums raw
# doubles too -- each pair is grid-consistent within itself.
@register(
    "streaming_session_merge",
    """
    WITH s AS (
        SELECT user_id, ts, event_id,
               CAST(floor(value * 100000000.0 + 0.5) AS BIGINT) AS u,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    g AS (
        SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM s
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           floor((sum(u) / 100000000.0) * 100.0 + 0.5) / 100.0 AS total_value
    FROM g
    GROUP BY user_id, sid
    ORDER BY 1, 2
    """,
)
def q_streaming_session_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.silver import streaming_session_merge

    return streaming_session_merge(spark, sf_dir)



# ---------------------------------------------------------------------------
# Round-12 additions (batch 1): range-based volatility, Cornish-Fisher
# VaR, sign Markov chain, downside beta, trade durations, price
# clustering.  Shared daily-OHLC / daily-return CTEs mirror the engine's
# positive-tick _daily_bars / _daily_log_returns stages exactly.
# ---------------------------------------------------------------------------

_DOHLC_SQL = """
src AS (SELECT * FROM events WHERE value > 0),
dohlc AS (
    SELECT event_type AS symbol, date_trunc('day', ts) AS day,
           max(CASE WHEN rn_a = 1 THEN value END) AS o,
           max(value) AS h,
           min(value) AS l,
           max(CASE WHEN rn_d = 1 THEN value END) AS c
    FROM (
        SELECT event_type, ts, event_id, value,
               row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM src
    )
    GROUP BY 1, 2
)
"""


@register(
    "range_vol_estimators",
    f"""
    WITH {_DOHLC_SQL.strip()},
    terms AS (
        SELECT symbol,
               {_q("floor((ln(h / l)) * 1000000000000.0 + 0.5) / 1000000000000.0 * floor((ln(h / l)) * 1000000000000.0 + 0.5) / 1000000000000.0", 12)} AS park_t,
               {_q("0.5 * floor((ln(h / l)) * 1000000000000.0 + 0.5) / 1000000000000.0 * floor((ln(h / l)) * 1000000000000.0 + 0.5) / 1000000000000.0 - 0.3862943611198906 * floor((ln(c / o)) * 1000000000000.0 + 0.5) / 1000000000000.0 * floor((ln(c / o)) * 1000000000000.0 + 0.5) / 1000000000000.0", 12)} AS gk_t,
               {_q("floor((ln(h / o)) * 1000000000000.0 + 0.5) / 1000000000000.0 * floor((ln(h / c)) * 1000000000000.0 + 0.5) / 1000000000000.0 + floor((ln(l / o)) * 1000000000000.0 + 0.5) / 1000000000000.0 * floor((ln(l / c)) * 1000000000000.0 + 0.5) / 1000000000000.0", 12)} AS rs_t
        FROM dohlc
    ),
    agg AS (
        SELECT symbol, count(*)::BIGINT AS n_days,
               {_q('avg(park_t)', 12)} AS m_park,
               {_q('avg(gk_t)', 12)} AS m_gk,
               {_q('avg(rs_t)', 12)} AS m_rs
        FROM terms GROUP BY 1
    )
    SELECT symbol, n_days,
           {_q('sqrt(m_park / 2.772588722239781)', 6)} AS parkinson_vol,
           CASE WHEN m_gk >= 0 THEN {_q('sqrt(m_gk)', 6)} END AS garman_klass_vol,
           CASE WHEN m_rs >= 0 THEN {_q('sqrt(m_rs)', 6)} END AS rogers_satchell_vol
    FROM agg ORDER BY 1
    """,
)
def q_range_vol_estimators(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.range_vol_estimators(_events(spark, sf_dir))





@register(
    "cornish_fisher_var",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    rets AS (
        SELECT symbol, day,
               {_q('ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day))', 12)} AS lr
        FROM dclose
    ),
    r2 AS (SELECT symbol, lr FROM rets WHERE lr IS NOT NULL),
    means AS (
        SELECT symbol, count(*)::BIGINT AS n_days, {_q('avg(lr)', 12)} AS mean_q
        FROM r2 GROUP BY 1 HAVING count(*) >= 10
    ),
    mom AS (
        SELECT r.symbol, m.n_days, m.mean_q,
               {_q('avg((lr - mean_q) * (lr - mean_q))', 12)} AS m2,
               {_q('avg((lr - mean_q) * (lr - mean_q) * (lr - mean_q))', 12)} AS m3,
               {_q('avg((lr - mean_q) * (lr - mean_q) * (lr - mean_q) * (lr - mean_q))', 12)} AS m4
        FROM r2 r JOIN means m ON r.symbol = m.symbol
        GROUP BY 1, 2, 3
    ),
    shaped AS (
        SELECT symbol, n_days, mean_q,
               {_q('sqrt(m2)', 12)} AS sd_q,
               {_q('m3 / (m2 * sqrt(m2))', 12)} AS g1,
               {_q('m4 / (m2 * m2) - 3.0', 12)} AS g2
        FROM mom WHERE m2 > 0
    ),
    consts AS (SELECT (-1.6448536269514722)::DOUBLE AS z),
    zadj AS (
        SELECT shaped.*, z,
               floor((z + (z * z - 1.0) * g1 / 6.0 + (z * z * z - 3.0 * z) * g2 / 24.0 - (2.0 * z * z * z - 5.0 * z) * g1 * g1 / 36.0) * 1000000000000.0 + 0.5) / 1000000000000.0 AS z_cf
        FROM shaped, consts
    )
    SELECT symbol, n_days,
           {_q('mean_q', 6)} AS mean_lr,
           {_q('sd_q', 6)} AS sd_lr,
           {_q('g1', 6)} AS skew,
           {_q('g2', 6)} AS excess_kurtosis,
           {_q('-(mean_q + sd_q * z)', 6)} AS var95_normal,
           {_q('-(mean_q + sd_q * z_cf)', 6)} AS var95_cornish_fisher
    FROM zadj ORDER BY 1
    """,
)
def q_cornish_fisher_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.cornish_fisher_var(_events(spark, sf_dir))


@register(
    "return_sign_markov",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    rets AS (
        SELECT symbol, day,
               {_q('ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day))', 12)} AS lr
        FROM dclose
    ),
    r2 AS (SELECT symbol, day, lr FROM rets WHERE lr IS NOT NULL AND lr != 0),
    trans AS (
        SELECT symbol, (lr > 0)::INT AS s,
               lag((lr > 0)::INT) OVER (PARTITION BY symbol ORDER BY day) AS prev_s
        FROM r2
    ),
    agg AS (
        SELECT symbol, count(*)::BIGINT AS n_trans,
               sum(CASE WHEN prev_s = 1 AND s = 1 THEN 1 ELSE 0 END)::BIGINT AS n_uu,
               sum(CASE WHEN prev_s = 1 AND s = 0 THEN 1 ELSE 0 END)::BIGINT AS n_ud,
               sum(CASE WHEN prev_s = 0 AND s = 1 THEN 1 ELSE 0 END)::BIGINT AS n_du,
               sum(CASE WHEN prev_s = 0 AND s = 0 THEN 1 ELSE 0 END)::BIGINT AS n_dd
        FROM trans WHERE prev_s IS NOT NULL GROUP BY 1
    )
    SELECT symbol, n_trans, n_uu, n_ud, n_du, n_dd,
           CASE WHEN n_uu + n_ud > 0
                THEN {_q('n_uu::DOUBLE / (n_uu + n_ud)::DOUBLE', 6)}
           END AS p_up_given_up,
           CASE WHEN n_du + n_dd > 0
                THEN {_q('n_dd::DOUBLE / (n_du + n_dd)::DOUBLE', 6)}
           END AS p_down_given_down,
           CASE WHEN n_uu + n_ud > 0 AND n_du + n_dd > 0
                THEN {_q('n_uu::DOUBLE / (n_uu + n_ud)::DOUBLE + n_dd::DOUBLE / (n_du + n_dd)::DOUBLE - 1.0', 6)}
           END AS persistence
    FROM agg ORDER BY 1
    """,
)
def q_return_sign_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.return_sign_markov(_events(spark, sf_dir))


@register(
    "downside_beta",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    rets AS (
        SELECT symbol, day,
               {_q('ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day))', 12)} AS lr
        FROM dclose
    ),
    r2 AS (SELECT symbol, day, lr FROM rets WHERE lr IS NOT NULL),
    market AS (
        SELECT day, {_q('avg(lr)', 12)} AS m, count(*)::BIGINT AS n_syms
        FROM r2 GROUP BY 1
    ),
    j AS (SELECT r.symbol, r.lr, mk.m FROM r2 r JOIN market mk USING (day)),
    agg AS (
        SELECT symbol, count(*)::BIGINT AS n_days,
               CASE WHEN var_pop(m) != 0
                    THEN {_q('covar_pop(lr, m) / var_pop(m)', 6)}
               END AS beta_full,
               sum(CASE WHEN m < 0 THEN 1 ELSE 0 END)::BIGINT AS n_down_days,
               CASE WHEN var_pop(m) FILTER (WHERE m < 0) != 0
                    THEN {_q('covar_pop(lr, m) FILTER (WHERE m < 0) / var_pop(m) FILTER (WHERE m < 0)', 6)}
               END AS beta_down
        FROM j GROUP BY 1
    )
    SELECT symbol, n_days, n_down_days, beta_full, beta_down,
           CASE WHEN beta_full IS NOT NULL AND beta_down IS NOT NULL
                THEN {_q('beta_down - beta_full', 6)}
           END AS semibeta_spread
    FROM agg WHERE n_down_days >= 5
    ORDER BY 1
    """,
)
def q_downside_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.downside_beta(_events(spark, sf_dir))


@register(
    "trade_duration_profile",
    f"""
    WITH src AS (SELECT * FROM events WHERE value > 0),
    seq AS (
        SELECT event_type AS symbol, ts, event_id,
               (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0 AS gap_s
        FROM src
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ),
    pairs AS (
        SELECT symbol, gap_s,
               lag(gap_s) OVER (PARTITION BY symbol ORDER BY ts, event_id) AS prev_gap
        FROM seq
    ),
    p2 AS (SELECT * FROM pairs WHERE gap_s IS NOT NULL),
    stats AS (
        SELECT symbol, count(*)::BIGINT AS n_gaps,
               {_q('avg(gap_s)', 6)} AS mean_gap_s,
               {_q('quantile_cont(gap_s, 0.5)', 6)} AS p50_gap_s,
               {_q('quantile_cont(gap_s, 0.95)', 6)} AS p95_gap_s,
               {_q('max(gap_s)', 6)} AS max_gap_s,
               CASE WHEN avg(gap_s) != 0
                    THEN {_q('stddev_pop(gap_s) / avg(gap_s)', 6)}
               END AS cv
        FROM p2 GROUP BY 1
    ),
    auto AS (
        SELECT symbol,
               CASE WHEN stddev_pop(gap_s) * stddev_pop(prev_gap) != 0
                    THEN {_q('covar_pop(gap_s, prev_gap) / (stddev_pop(gap_s) * stddev_pop(prev_gap))', 6)}
               END AS lag1_autocorr
        FROM p2 WHERE prev_gap IS NOT NULL GROUP BY 1
    )
    SELECT s.symbol, s.n_gaps, s.mean_gap_s, s.p50_gap_s, s.p95_gap_s,
           s.max_gap_s, s.cv, a.lag1_autocorr
    FROM stats s LEFT JOIN auto a ON s.symbol = a.symbol
    ORDER BY 1
    """,
)
def q_trade_duration_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.trade_duration_profile(_events(spark, sf_dir))


@register(
    "round_number_clustering",
    f"""
    WITH src AS (SELECT * FROM events WHERE value > 0),
    binned AS (
        SELECT event_type AS symbol,
               floor(value * 100.0 + 0.5)::BIGINT AS cents
        FROM src
    ),
    agg AS (
        SELECT symbol, count(*)::BIGINT AS n_ticks,
               sum(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_integer,
               sum(CASE WHEN cents % 50 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_half,
               sum(CASE WHEN cents % 10 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_d0,
               sum(CASE WHEN cents % 10 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_d1,
               sum(CASE WHEN cents % 10 = 2 THEN 1 ELSE 0 END)::BIGINT AS n_d2,
               sum(CASE WHEN cents % 10 = 3 THEN 1 ELSE 0 END)::BIGINT AS n_d3,
               sum(CASE WHEN cents % 10 = 4 THEN 1 ELSE 0 END)::BIGINT AS n_d4,
               sum(CASE WHEN cents % 10 = 5 THEN 1 ELSE 0 END)::BIGINT AS n_d5,
               sum(CASE WHEN cents % 10 = 6 THEN 1 ELSE 0 END)::BIGINT AS n_d6,
               sum(CASE WHEN cents % 10 = 7 THEN 1 ELSE 0 END)::BIGINT AS n_d7,
               sum(CASE WHEN cents % 10 = 8 THEN 1 ELSE 0 END)::BIGINT AS n_d8,
               sum(CASE WHEN cents % 10 = 9 THEN 1 ELSE 0 END)::BIGINT AS n_d9
        FROM binned GROUP BY 1
    ),
    shaped AS (
        SELECT symbol, n_ticks, n_integer, n_half,
               {_q('(floor((n_d0::DOUBLE - n_ticks::DOUBLE / 10.0) * (n_d0::DOUBLE - n_ticks::DOUBLE / 10.0) / (n_ticks::DOUBLE / 10.0) * 1000000.0 + 0.5)::BIGINT + floor((n_d1::DOUBLE - n_ticks::DOUBLE / 10.0) * (n_d1::DOUBLE - n_ticks::DOUBLE / 10.0) / (n_ticks::DOUBLE / 10.0) * 1000000.0 + 0.5)::BIGINT + floor((n_d2::DOUBLE - n_ticks::DOUBLE / 10.0) * (n_d2::DOUBLE - n_ticks::DOUBLE / 10.0) / (n_ticks::DOUBLE / 10.0) * 1000000.0 + 0.5)::BIGINT + floor((n_d3::DOUBLE - n_ticks::DOUBLE / 10.0) * (n_d3::DOUBLE - n_ticks::DOUBLE / 10.0) / (n_ticks::DOUBLE / 10.0) * 1000000.0 + 0.5)::BIGINT + floor((n_d4::DOUBLE - n_ticks::DOUBLE / 10.0) * (n_d4::DOUBLE - n_ticks::DOUBLE / 10.0) / (n_ticks::DOUBLE / 10.0) * 1000000.0 + 0.5)::BIGINT + floor((n_d5::DOUBLE - n_ticks::DOUBLE / 10.0) * (n_d5::DOUBLE - n_ticks::DOUBLE / 10.0) / (n_ticks::DOUBLE / 10.0) * 1000000.0 + 0.5)::BIGINT + floor((n_d6::DOUBLE - n_ticks::DOUBLE / 10.0) * (n_d6::DOUBLE - n_ticks::DOUBLE / 10.0) / (n_ticks::DOUBLE / 10.0) * 1000000.0 + 0.5)::BIGINT + floor((n_d7::DOUBLE - n_ticks::DOUBLE / 10.0) * (n_d7::DOUBLE - n_ticks::DOUBLE / 10.0) / (n_ticks::DOUBLE / 10.0) * 1000000.0 + 0.5)::BIGINT + floor((n_d8::DOUBLE - n_ticks::DOUBLE / 10.0) * (n_d8::DOUBLE - n_ticks::DOUBLE / 10.0) / (n_ticks::DOUBLE / 10.0) * 1000000.0 + 0.5)::BIGINT + floor((n_d9::DOUBLE - n_ticks::DOUBLE / 10.0) * (n_d9::DOUBLE - n_ticks::DOUBLE / 10.0) / (n_ticks::DOUBLE / 10.0) * 1000000.0 + 0.5)::BIGINT)::DOUBLE / 1000000.0', 6)} AS digit_chi2
        FROM agg
    )
    SELECT symbol, n_ticks, n_integer, n_half,
           {_q('n_integer::DOUBLE / n_ticks::DOUBLE', 6)} AS integer_share,
           {_q('n_half::DOUBLE / n_ticks::DOUBLE', 6)} AS half_share,
           digit_chi2,
           digit_chi2 > 16.919 AS clustered
    FROM shaped ORDER BY 1
    """,
)
def q_round_number_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.round_number_clustering(_events(spark, sf_dir))



# Streaming twin of the exact per-user mode: the count table underneath
# the (non-mergeable) mode IS mergeable across micro-batches, so the
# drained state is row-identical to the batch twin and shares its oracle
# verbatim (the streaming_turnover_hhi precedent, integer-exact here).
@register("streaming_mode_per_user", ORACLE_SQL["mode_per_user"])
def q_streaming_mode_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.silver import streaming_mode_per_user

    return streaming_mode_per_user(spark, sf_dir)



# Streaming twin of the range-vol report: daily OHLC state is a
# commutative per-key fold (keyed open/close re-picks, min/max range),
# so the drained bars are row-identical to the batch positive-tick
# _daily_bars stage and the report shares the batch oracle verbatim.
@register("streaming_range_vol", ORACLE_SQL["range_vol_estimators"])
def q_streaming_range_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.silver import streaming_range_vol

    return streaming_range_vol(spark, sf_dir)



# Streaming twin of the per-label centroid profile (round-13): a float
# mean is NOT mergeable (per-batch partials re-associate the IEEE adds),
# so the state carries exact BIGINT component sums on the 1e-8 grid --
# integer addition commutes with any batching -- and the oracle mirrors
# the grid, so the only doubles on either engine are the identical
# read-time projections gsum / (n * 1e8).
@register(
    "streaming_label_centroids",
    f"""
    WITH dims AS (
        SELECT label, i - 1 AS pos,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 100000000.0 + 0.5)
                    AS BIGINT) AS gx
        FROM embeddings,
             LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
    ),
    cent AS (
        SELECT label, pos, sum(gx) AS gsum, count(*) AS n
        FROM dims GROUP BY 1, 2
    )
    SELECT label,
           max(n) AS n_vectors,
           {_q('sqrt(sum((gsum::DOUBLE / (n::DOUBLE * 100000000.0)) * (gsum::DOUBLE / (n::DOUBLE * 100000000.0))))')} AS centroid_norm,
           {_q('max(CASE WHEN pos = 0 THEN gsum::DOUBLE / (n::DOUBLE * 100000000.0) END)')} AS c0,
           {_q('max(CASE WHEN pos = 1 THEN gsum::DOUBLE / (n::DOUBLE * 100000000.0) END)')} AS c1,
           {_q('max(CASE WHEN pos = 2 THEN gsum::DOUBLE / (n::DOUBLE * 100000000.0) END)')} AS c2,
           {_q('max(CASE WHEN pos = 3 THEN gsum::DOUBLE / (n::DOUBLE * 100000000.0) END)')} AS c3
    FROM cent GROUP BY 1 ORDER BY 1
    """,
)
def q_streaming_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.silver import streaming_label_centroids

    return streaming_label_centroids(spark, sf_dir)



# Engle-Granger pairs cointegration screen (round-12): one day-keyed
# self-join of the daily log-close ladder, then OLS + residual ADF as
# LEFT FOLDS over one day-ordered (pa, pb) list per pair -- bit-
# identical accumulation order in both engines (the garch/macd fold
# discipline); DF variance via the algebraic identity on folded sums.
@register(
    "cointegration_screen",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    lp AS (
        SELECT symbol, day, {_q('ln(c)', 12)} AS p FROM dclose
    ),
    pairs AS (
        SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.day AS day,
               a.p AS pa, b.p AS pb
        FROM lp a JOIN lp b ON a.day = b.day AND a.symbol < b.symbol
    ),
    per AS (
        SELECT sym_a, sym_b, count(*)::BIGINT AS n_days,
               list(pa ORDER BY day) AS pas,
               list(pb ORDER BY day) AS pbs
        FROM pairs GROUP BY 1, 2 HAVING count(*) >= 20
    ),
    betas AS (
        SELECT sym_a, sym_b, n_days, pas, pbs,
               ((list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(pas)), i -> pas[i] * pbs[i])), (acc, x) -> acc + x)) / len(pas)::DOUBLE - ((list_reduce(list_prepend(0.0::DOUBLE, pas), (acc, x) -> acc + x)) / len(pas)::DOUBLE) * ((list_reduce(list_prepend(0.0::DOUBLE, pbs), (acc, x) -> acc + x)) / len(pas)::DOUBLE)) / ((list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(pas)), i -> pas[i] * pas[i])), (acc, x) -> acc + x)) / len(pas)::DOUBLE - ((list_reduce(list_prepend(0.0::DOUBLE, pas), (acc, x) -> acc + x)) / len(pas)::DOUBLE) * ((list_reduce(list_prepend(0.0::DOUBLE, pas), (acc, x) -> acc + x)) / len(pas)::DOUBLE)) AS beta_raw
        FROM per
    ),
    bq AS (
        SELECT *, floor(beta_raw * 1000000000000.0 + 0.5) / 1000000000000.0 AS beta_q
        FROM betas
    ),
    aq AS (
        SELECT *, floor(((list_reduce(list_prepend(0.0::DOUBLE, pbs), (acc, x) -> acc + x)) / len(pas)::DOUBLE - beta_q * ((list_reduce(list_prepend(0.0::DOUBLE, pas), (acc, x) -> acc + x)) / len(pas)::DOUBLE)) * 1000000000000.0 + 0.5) / 1000000000000.0 AS alpha_q FROM bq
    ),
    resid AS (
        SELECT sym_a, sym_b, n_days, beta_q,
               list_transform(generate_series(1, len(pas)), i -> floor((pbs[i] - alpha_q - beta_q * pas[i]) * 1000000000000.0 + 0.5) / 1000000000000.0) AS es
        FROM aq
    ),
    folded AS (
        SELECT sym_a, sym_b, n_days, beta_q,
               list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(es) - 1), i -> es[i] * (es[i+1] - es[i]))), (acc, x) -> acc + x) AS num,
               list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(es) - 1), i -> es[i] * es[i])), (acc, x) -> acc + x) AS den,
               list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(es) - 1), i -> (es[i+1] - es[i]) * (es[i+1] - es[i]))), (acc, x) -> acc + x) AS sum_d2
        FROM resid
    ),
    shaped AS (
        SELECT sym_a, sym_b, n_days, beta_q, num, den, sum_d2,
               floor((num / den) * 1000000000000.0 + 0.5) / 1000000000000.0 AS rho_q
        FROM folded WHERE den > 0
    ),
    scored AS (
        SELECT *,
               (sum_d2 - 2.0 * rho_q * num + rho_q * rho_q * den)
                   / (n_days - 2)::DOUBLE AS s2
        FROM shaped
    )
    SELECT sym_a, sym_b, n_days,
           {_q('beta_q', 6)} AS hedge_beta,
           {_q('rho_q', 6)} AS df_rho,
           CASE WHEN den > 0 AND s2 > 0
                THEN {_q('rho_q / sqrt(s2 / den)', 6)}
           END AS adf_t,
           CASE WHEN rho_q > -1 AND rho_q < 0
                THEN {_q('-0.6931471805599453 / ln(1.0 + rho_q)', 6)}
           END AS half_life_days,
           CASE WHEN den > 0 AND s2 > 0
                THEN {_q('rho_q / sqrt(s2 / den)', 6)} < -2.86
           END AS cointegrated
    FROM scored ORDER BY 1, 2
    """,
)
def q_cointegration_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.cointegration_screen(_events(spark, sf_dir))



# z-score backtest of the Engle-Granger residual spread (round-12):
# same pair-array first step as cointegration_screen, then the ENTIRE
# position simulation as one sequential list_reduce per pair -- the
# inherently-serial state the fold idiom exists for.
@register(
    "pairs_spread_backtest",
    f"""
    WITH RECURSIVE {_DCLOSE_POS_SQL.strip()},
    lp AS (
        SELECT symbol, day, {_q('ln(c)', 12)} AS p FROM dclose
    ),
    pairs AS (
        SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.day AS day,
               a.p AS pa, b.p AS pb
        FROM lp a JOIN lp b ON a.day = b.day AND a.symbol < b.symbol
    ),
    per AS (
        SELECT sym_a, sym_b, count(*)::BIGINT AS n_days,
               list(pa ORDER BY day) AS pas,
               list(pb ORDER BY day) AS pbs
        FROM pairs GROUP BY 1, 2 HAVING count(*) >= 20
    ),
    bq AS (
        SELECT sym_a, sym_b, n_days, pas, pbs,
               floor((((list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(pas)), i -> pas[i] * pbs[i])), (acc, x) -> acc + x)) / len(pas)::DOUBLE - ((list_reduce(list_prepend(0.0::DOUBLE, pas), (acc, x) -> acc + x)) / len(pas)::DOUBLE) * ((list_reduce(list_prepend(0.0::DOUBLE, pbs), (acc, x) -> acc + x)) / len(pas)::DOUBLE)) / ((list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(pas)), i -> pas[i] * pas[i])), (acc, x) -> acc + x)) / len(pas)::DOUBLE - ((list_reduce(list_prepend(0.0::DOUBLE, pas), (acc, x) -> acc + x)) / len(pas)::DOUBLE) * ((list_reduce(list_prepend(0.0::DOUBLE, pas), (acc, x) -> acc + x)) / len(pas)::DOUBLE))) * 1000000000000.0 + 0.5) / 1000000000000.0 AS beta_q
        FROM per
    ),
    aq AS (
        SELECT *, floor(((list_reduce(list_prepend(0.0::DOUBLE, pbs), (acc, x) -> acc + x)) / len(pas)::DOUBLE - beta_q * ((list_reduce(list_prepend(0.0::DOUBLE, pas), (acc, x) -> acc + x)) / len(pas)::DOUBLE)) * 1000000000000.0 + 0.5) / 1000000000000.0 AS alpha_q FROM bq
    ),
    resid AS (
        SELECT sym_a, sym_b, n_days, list_transform(generate_series(1, len(pas)), i -> floor((pbs[i] - alpha_q - beta_q * pas[i]) * 1000000000000.0 + 0.5) / 1000000000000.0) AS es FROM aq
    ),
    mu AS (
        SELECT sym_a, sym_b, n_days, es, floor(((list_reduce(list_prepend(0.0::DOUBLE, es), (acc, x) -> acc + x)) / len(es)::DOUBLE) * 1000000000000.0 + 0.5) / 1000000000000.0 AS mu_q FROM resid
    ),
    sd AS (
        SELECT *, floor((sqrt((list_reduce(list_prepend(0.0::DOUBLE, list_transform(es, e -> (e - mu_q) * (e - mu_q))), (acc, x) -> acc + x)) / len(es)::DOUBLE)) * 1000000000000.0 + 0.5) / 1000000000000.0 AS sd_q FROM mu
    ),
    zf AS (
        SELECT sym_a, sym_b, n_days, es, list_transform(es, e -> floor(((e - mu_q) / sd_q) * 1000000000000.0 + 0.5) / 1000000000000.0) AS zs
        FROM sd WHERE sd_q > 0
    ),
    sim AS (
        SELECT sym_a, sym_b, n_days, es, zs, 1 AS i,
               0.0::DOUBLE AS pos, 0.0::DOUBLE AS entry,
               0.0::DOUBLE AS pnl, 0.0::DOUBLE AS nt,
               0.0::DOUBLE AS nw, 0.0::DOUBLE AS hd
        FROM zf
      UNION ALL
        SELECT sym_a, sym_b, n_days, es, zs, i + 1,
               CASE WHEN pos = 0.0 AND zs[i] >= 2.0 THEN -1.0
                    WHEN pos = 0.0 AND zs[i] <= -2.0 THEN 1.0
                    WHEN pos = 0.0 THEN 0.0
                    WHEN (pos = 1.0 AND zs[i] >= -0.5)
                      OR (pos = -1.0 AND zs[i] <= 0.5) THEN 0.0
                    ELSE pos END,
               CASE WHEN pos = 0.0 AND (zs[i] >= 2.0 OR zs[i] <= -2.0)
                         THEN es[i]
                    WHEN pos = 0.0 THEN 0.0
                    WHEN (pos = 1.0 AND zs[i] >= -0.5)
                      OR (pos = -1.0 AND zs[i] <= 0.5) THEN 0.0
                    ELSE entry END,
               CASE WHEN pos != 0.0 AND ((pos = 1.0 AND zs[i] >= -0.5)
                      OR (pos = -1.0 AND zs[i] <= 0.5))
                         THEN pnl + pos * (es[i] - entry)
                    ELSE pnl END,
               CASE WHEN pos != 0.0 AND ((pos = 1.0 AND zs[i] >= -0.5)
                      OR (pos = -1.0 AND zs[i] <= 0.5))
                         THEN nt + 1.0
                    ELSE nt END,
               CASE WHEN pos != 0.0 AND ((pos = 1.0 AND zs[i] >= -0.5)
                      OR (pos = -1.0 AND zs[i] <= 0.5))
                         THEN nw + (CASE WHEN pos * (es[i] - entry) > 0.0
                                         THEN 1.0 ELSE 0.0 END)
                    ELSE nw END,
               CASE WHEN pos != 0.0 THEN hd + 1.0 ELSE hd END
        FROM sim WHERE i <= len(es)
    )
    SELECT sym_a, sym_b, n_days,
           nt::BIGINT AS n_trades,
           {_q('pnl', 6)} AS total_pnl,
           CASE WHEN nt > 0 THEN {_q('nw / nt', 6)} END AS hit_rate,
           CASE WHEN nt > 0 THEN {_q('hd / nt', 6)} END AS avg_hold_days,
           pos != 0.0 AS open_at_end
    FROM sim WHERE i = len(es) + 1 ORDER BY 1, 2
    """,
)
def q_pairs_spread_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.pairs_spread_backtest(_events(spark, sf_dir))


# Euler VaR decomposition (round-13): covariances on the COMPLETE panel
# (days where every symbol printed) so the components sum exactly to the
# portfolio VaR; covar_pop partials on both engines, outputs quantized.
@register(
    "component_var_decomposition",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    lrw AS (
        SELECT symbol, day,
               {_q("ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day))", 12)} AS lr
        FROM dclose
    ),
    rets AS (SELECT symbol, day, lr FROM lrw WHERE lr IS NOT NULL),
    nsym AS (SELECT count(DISTINCT symbol) AS n_sym_all FROM rets),
    full_days AS (
        SELECT day FROM rets GROUP BY 1
        HAVING count(*) = (SELECT n_sym_all FROM nsym)
    ),
    panel AS (SELECT r.* FROM rets r JOIN full_days USING (day)),
    cov AS (
        SELECT a.symbol AS sym_a, b.symbol AS sym_b,
               count(*)::BIGINT AS n_days, covar_pop(a.lr, b.lr) AS cov
        FROM panel a JOIN panel b ON a.day = b.day
        GROUP BY 1, 2
    ),
    per AS (
        SELECT sym_a, max(n_days)::BIGINT AS n_days,
               count(*)::BIGINT AS n_sym, sum(cov) AS cov_rowsum,
               max(CASE WHEN sym_b = sym_a THEN cov END) AS var_own
        FROM cov GROUP BY 1
    ),
    tot AS (
        SELECT sum(cov_rowsum / (n_sym::DOUBLE * n_sym::DOUBLE)) AS port_var
        FROM per
    )
    SELECT sym_a AS symbol, n_days,
           {_q('1.0 / n_sym::DOUBLE', 8)} AS weight,
           {_q('sqrt(var_own)', 8)} AS daily_vol,
           CASE WHEN port_var > 0 THEN
               {_q('CAST(1.645 AS DOUBLE) * (cov_rowsum / n_sym::DOUBLE) / sqrt(port_var)', 8)}
           END AS marginal_var,
           CASE WHEN port_var > 0 THEN
               {_q('CAST(1.645 AS DOUBLE) * (cov_rowsum / n_sym::DOUBLE) / sqrt(port_var) / n_sym::DOUBLE', 8)}
           END AS component_var,
           CASE WHEN port_var > 0 THEN
               {_q('cov_rowsum / (n_sym::DOUBLE * n_sym::DOUBLE * port_var)', 6)}
           END AS risk_share
    FROM per, tot ORDER BY 1
    """,
)
def q_component_var_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.component_var_decomposition(_events(spark, sf_dir))


def _epps_interval_sql(m: int) -> str:
    sec_us = 60 * m * 1000000
    lag_lr = _q(
        "ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY bucket))", 12
    )
    return f"""
    b{m} AS (
        SELECT symbol, bucket, max(CASE WHEN rn = 1 THEN value END) AS c
        FROM (
            SELECT event_type AS symbol, epoch_us(ts) // {sec_us} AS bucket,
                   value,
                   row_number() OVER (
                       PARTITION BY event_type, epoch_us(ts) // {sec_us}
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM esrc
        ) GROUP BY 1, 2
    ),
    l{m} AS (
        SELECT symbol, bucket, lr FROM (
            SELECT symbol, bucket, {lag_lr} AS lr FROM b{m}
        ) WHERE lr IS NOT NULL
    ),
    c{m} AS (
        SELECT {m} AS interval_min, a.symbol AS sym_a, b.symbol AS sym_b,
               count(*)::BIGINT AS n_obs,
               CASE WHEN stddev_pop(a.lr) * stddev_pop(b.lr) != 0 THEN
                   {_q('covar_pop(a.lr, b.lr) / (stddev_pop(a.lr) * stddev_pop(b.lr))', 6)}
               END AS corr
        FROM l{m} a JOIN l{m} b
          ON a.bucket = b.bucket AND a.symbol < b.symbol
        GROUP BY 1, 2, 3
    )"""


# Epps effect curve (round-13): pairwise correlation vs sampling
# interval on exact epoch-second integer buckets (no calendar-origin
# alignment trap); guarded Pearson per pair per interval.
@register(
    "epps_effect_curve",
    "WITH esrc AS (SELECT * FROM events WHERE value > 0),"
    + ",".join(_epps_interval_sql(m) for m in (1, 5, 15, 30))
    + """
    SELECT * FROM (
        SELECT * FROM c1 UNION ALL SELECT * FROM c5
        UNION ALL SELECT * FROM c15 UNION ALL SELECT * FROM c30
    ) ORDER BY 1, 2, 3
    """,
)
def q_epps_effect_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.epps_effect_curve(_events(spark, sf_dir))


# Hill tail-index (round-13): per-symbol sorted |return| array (the
# calendar-bounded fold discipline), top-k ln fold; alpha = 1/hill.
@register(
    "hill_tail_index",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    lrw AS (
        SELECT symbol, day,
               {_q("ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day))", 12)} AS lr
        FROM dclose
    ),
    rets AS (
        SELECT symbol, abs(lr) AS ax FROM lrw
        WHERE lr IS NOT NULL AND abs(lr) > 0
    ),
    arr AS (
        SELECT symbol, list_sort(list(ax), 'DESC') AS xs,
               count(*)::BIGINT AS n
        FROM rets GROUP BY 1 HAVING count(*) >= 9
    ),
    kk AS (
        SELECT symbol, xs, n, least(20, n // 4)::INT AS k FROM arr
    ),
    h AS (
        SELECT symbol, n, k,
               list_sum(list_transform(xs[1:k], x -> ln(x))) / k::DOUBLE
                   - ln(xs[k + 1]) AS hill
        FROM kk
    )
    SELECT symbol, n AS n_days, k AS k_tail,
           {_q('hill', 6)} AS hill,
           CASE WHEN hill > 0 THEN {_q('1.0 / hill', 6)} END AS alpha_tail,
           {_q('hill / sqrt(k::DOUBLE)', 6)} AS hill_se
    FROM h ORDER BY 1
    """,
)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.hill_tail_index(_events(spark, sf_dir))


# Permutation entropy (round-13): Bandt-Pompe ordinal patterns (m=3,
# ties to the earlier observation) on daily closes; exact integer
# pattern counts, entropy via the count identity.
@register(
    "permutation_entropy",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    tri AS (
        SELECT symbol,
               lag(c, 2) OVER w AS a, lag(c, 1) OVER w AS b, c AS z
        FROM dclose WINDOW w AS (PARTITION BY symbol ORDER BY day)
    ),
    pats AS (
        SELECT symbol,
               CASE WHEN a <= b AND b <= z THEN '012'
                    WHEN a <= b AND NOT b <= z AND a <= z THEN '021'
                    WHEN a <= b AND NOT a <= z THEN '201'
                    WHEN NOT a <= b AND a <= z THEN '102'
                    WHEN NOT a <= b AND NOT a <= z AND b <= z THEN '120'
                    ELSE '210' END AS pattern
        FROM tri WHERE a IS NOT NULL
    ),
    pc AS (
        SELECT symbol, pattern, count(*)::BIGINT AS cnt
        FROM pats GROUP BY 1, 2
    ),
    per AS (
        SELECT symbol, sum(cnt)::BIGINT AS n_windows,
               count(*)::BIGINT AS n_patterns,
               sum(cnt * ln(cnt)) AS clogc, max(cnt) AS max_cnt
        FROM pc GROUP BY 1 HAVING sum(cnt) >= 30
    )
    SELECT symbol, n_windows, n_patterns,
           {_q('(ln(n_windows::DOUBLE) - clogc / n_windows::DOUBLE) / ln(6.0)', 6)} AS perm_entropy,
           {_q('max_cnt::DOUBLE / n_windows::DOUBLE', 6)} AS max_pattern_share
    FROM per ORDER BY 1
    """,
)
def q_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.permutation_entropy(_events(spark, sf_dir))


# Granger causality pairs (round-13): closed-form restricted vs
# unrestricted OLS from exact pico-grid integer sums; every double
# expression below is written with the same structure as the engine's
# column algebra so both engines run the identical IEEE sequence.
_GC_G = "1000000000000.0"
_GC_SUMS = ",\n               ".join(
    f"sum(floor({expr} * {_GC_G} + 0.5)::BIGINT) AS {name}"
    for name, expr in [
        ("sy_u", "ry"),
        ("su_u", "ry1"),
        ("sv_u", "rx1"),
        ("syy_u", "ry * ry"),
        ("suu_u", "ry1 * ry1"),
        ("svv_u", "rx1 * rx1"),
        ("suy_u", "ry1 * ry"),
        ("svy_u", "rx1 * ry"),
        ("suv_u", "ry1 * rx1"),
    ]
)
_GC_MOM = ",\n               ".join(
    f"({ab}_u::DOUBLE / {_GC_G}) - ({a}_u::DOUBLE / {_GC_G})"
    f" * ({b}_u::DOUBLE / {_GC_G}) / n_days::DOUBLE AS {out}"
    for ab, a, b, out in [
        ("syy", "sy", "sy", "syy"),
        ("suu", "su", "su", "suu"),
        ("svv", "sv", "sv", "svv"),
        ("suy", "su", "sy", "suy"),
        ("svy", "sv", "sy", "svy"),
        ("suv", "su", "sv", "suv"),
    ]
)


@register(
    "granger_causality_pairs",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    lrw AS (
        SELECT symbol, day,
               {_q('ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day))', 12)} AS lr
        FROM dclose
    ),
    rets AS (SELECT symbol, day, lr FROM lrw WHERE lr IS NOT NULL),
    lagged AS (
        SELECT symbol, day, lr AS r,
               lag(lr) OVER (PARTITION BY symbol ORDER BY day) AS r1
        FROM rets
    ),
    lag2 AS (SELECT * FROM lagged WHERE r1 IS NOT NULL),
    joined AS (
        SELECT x.symbol AS sym_cause, y.symbol AS sym_effect,
               y.r AS ry, y.r1 AS ry1, x.r1 AS rx1
        FROM lag2 y JOIN lag2 x
          ON y.day = x.day AND x.symbol <> y.symbol
    ),
    sums AS (
        SELECT sym_cause, sym_effect, count(*)::BIGINT AS n_days,
               {_GC_SUMS}
        FROM joined GROUP BY 1, 2 HAVING count(*) >= 20
    ),
    moments AS (
        SELECT sym_cause, sym_effect, n_days,
               {_GC_MOM}
        FROM sums
    ),
    stats AS (SELECT * FROM moments WHERE suu > 0),
    fitted AS (
        SELECT sym_cause, sym_effect, n_days, syy, suy, svy,
               syy - suy * suy / suu AS rss_r,
               syy - (suy * svv - svy * suv) / (suu * svv - suv * suv) * suy
                   - (svy * suu - suy * suv) / (suu * svv - suv * suv) * svy
                   AS rss_u
        FROM stats WHERE suu * svv - suv * suv > 0
    ),
    ok AS (SELECT * FROM fitted WHERE rss_u > 0)
    SELECT sym_cause, sym_effect, n_days,
           {_q('rss_r / rss_u', 6)} AS rss_ratio,
           {_q('(rss_r - rss_u) * (n_days::DOUBLE - 3.0) / rss_u', 4)} AS f_stat,
           {_q('(rss_r - rss_u) * (n_days::DOUBLE - 3.0) / rss_u', 4)} > 3.8415
               AS granger_5pct
    FROM ok ORDER BY 1, 2
    """,
)
def q_granger_causality_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.granger_causality_pairs(_events(spark, sf_dir))


# PACF via Durbin-Levinson (round-13): the ljung_box ACF chain feeds a
# recursion whose expression TEXT is generated once (_pacf_steps) and
# shared verbatim with the engine's F.expr projections.
from .operators.finance import _pacf_steps as _pacf_steps_fn  # noqa: E402


def _pacf_sql() -> str:
    inner = "SELECT symbol, n_days, acf_1, acf_2, acf_3, acf_4, acf_5 FROM shaped"
    for name, expr in _pacf_steps_fn(5):
        inner = f"SELECT *, {expr} AS {name} FROM ({inner})"
    outs = ", ".join(
        f"{_q(f'phi_{k}_{k}', 6)} AS pacf_{k}" for k in range(1, 6)
    )
    return f"SELECT symbol, n_days, {outs} FROM ({inner}) ORDER BY 1"


@register(
    "pacf_durbin_levinson",
    f"""
    WITH {_DCLOSE_POS_SQL.strip()},
    rets AS (
        SELECT symbol, day,
               {_q('ln(c / lag(c) OVER (PARTITION BY symbol ORDER BY day))', 12)} AS lr
        FROM dclose
    ),
    r2 AS (SELECT symbol, day, lr FROM rets WHERE lr IS NOT NULL),
    means AS (
        SELECT symbol, count(*)::BIGINT AS n_days, {_q('avg(lr)', 12)} AS mean_q
        FROM r2 GROUP BY 1 HAVING count(*) >= 20
    ),
    dev AS (
        SELECT r.symbol, m.n_days, r.day, r.lr - m.mean_q AS dev
        FROM r2 r JOIN means m USING (symbol)
    ),
    lagged AS (
        SELECT symbol, n_days,
           floor(dev * dev * {_LB_GRID} + 0.5)::BIGINT AS d0_u,
           {_LB_LAG_COLS}
        FROM dev WINDOW w AS (PARTITION BY symbol ORDER BY day)
    ),
    agg AS (
        SELECT symbol, max(n_days) AS n_days, sum(d0_u) AS den_u,
               {', '.join(f'sum(d{k}_u) AS num{k}_u' for k in range(1, 6))}
        FROM lagged GROUP BY 1 HAVING sum(d0_u) > 0
    ),
    shaped AS (
        SELECT symbol, n_days,
               {', '.join(_q(f'num{k}_u::DOUBLE / den_u::DOUBLE', 6) + f' AS acf_{k}' for k in range(1, 6))}
        FROM agg
    )
    {{PACF_BODY}}
    """.replace("{PACF_BODY}", _pacf_sql()),
)
def q_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.pacf_durbin_levinson(_events(spark, sf_dir))

