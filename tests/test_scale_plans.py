"""Physical-plan assertions: the SCALE.md claims, executable.

These don't check values (the oracle does); they check that Catalyst
produces the plan SHAPE the 100 TB design depends on -- partition pruning
reaches the scan, bucketed joins drop the exchange, dim joins broadcast,
filters push into parquet."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_financial_lakehouse_spark.catalog import load_table
from real_time_financial_lakehouse_spark.operators import sinks

from conftest import SF_SMOKE

def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()

def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()

def test_partition_pruning_reaches_scan(spark):
    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.date_format(F.col("ts"), "yyyy-MM-dd")
    )
    path = sinks.partitioned_write(ev, ["day"])
    filtered = spark.read.parquet(path).filter(F.col("day") == "2024-01-02")
    plan = _optimized(filtered)
    assert "PartitionFilters" in plan
    # the day predicate must land in PartitionFilters, not the data filter
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "day" in pf

def test_bucketed_join_has_no_exchange(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    lineitem = load_table(spark, SF_SMOKE, "lineitem")
    sinks.bucketed_table(orders, "orders_b", "o_orderkey")
    sinks.bucketed_table(lineitem, "lineitem_b", "l_orderkey")
    # force the fact-to-fact path (at smoke SF Catalyst would broadcast)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("orders_b").join(
            spark.table("lineitem_b"), F.col("o_orderkey") == F.col("l_orderkey")
        )
        joined.collect()
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        # bucketed scans co-locate: no shuffle on the join key
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "SelectedBucketsCount" in plan
        # sanity: the same join WITHOUT bucketing shuffles both sides
        unbucketed = orders.join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        unbucketed.collect()
        assert "Exchange hashpartitioning" in _plan(unbucketed)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

def test_dim_join_broadcasts(spark):
    nation = load_table(spark, SF_SMOKE, "nation")
    customer = load_table(spark, SF_SMOKE, "customer")
    joined = customer.join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    )
    assert "BroadcastHashJoin" in _plan(joined)

def test_filter_pushes_into_parquet_scan(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    q = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_quantity")
    plan = _optimized(q)
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "l_returnflag" in pushed
    # column pruning: ReadSchema carries only what the query needs
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema

def test_range_band_join_is_broadcast_nested_loop(spark):
    from real_time_financial_lakehouse_spark.operators import joins

    ev = load_table(spark, SF_SMOKE, "events")
    plan = _plan(joins.value_band_summary(ev))
    # the inequality-only join must broadcast the tiny band table, never
    # shuffle the fact side for the join itself
    assert "BroadcastNestedLoopJoin" in plan

def test_salted_join_spreads_hot_keys(spark):
    from real_time_financial_lakehouse_spark.operators import joins

    ev = load_table(spark, SF_SMOKE, "events")
    cust = load_table(spark, SF_SMOKE, "customer")
    plan = _plan(joins.segment_activity_salted(ev, cust))
    # the join key must include the salt, so each hot user_id spreads
    # over `salts` shuffle partitions
    assert "salt" in plan

def test_single_exchange_serves_both_window_specs(spark):
    from real_time_financial_lakehouse_spark.operators import joins

    orders = load_table(spark, SF_SMOKE, "orders")
    plan = _plan(joins.top_orders_per_customer(orders))
    # both window frames partition by o_custkey: exactly ONE
    # hashpartitioning exchange (the second Exchange is the final sort's
    # rangepartitioning)
    assert plan.count("Exchange hashpartitioning") == 1

def test_asof_sorted_plan_has_no_join(spark):
    """latest_order_asof must run the union-sort as-of: one shuffle, a
    per-key sorted window pass, and NO join node -- the naive ranged join
    materializes every (event, earlier-order) pair before pruning, which
    is quadratic per hot customer."""
    from real_time_financial_lakehouse_spark.operators import joins

    ev = load_table(spark, SF_SMOKE, "events")
    orders = load_table(spark, SF_SMOKE, "orders")
    plan = _plan(joins.latest_order_asof(ev, orders))
    assert "Join" not in plan
    assert "Window" in plan
    assert "Union" in plan

def test_asof_sorted_matches_naive(spark):
    """Differential: the zero-fan-out sorted plan and the naive ranged
    join + keep-latest must agree row-for-row (including events whose
    user has no prior order -> null order columns)."""
    from real_time_financial_lakehouse_spark.operators import joins

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "ts", "user_id")
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    cols = ["event_id", "ts", "user_id", "o_orderkey", "o_orderdate", "o_totalprice"]
    fast = joins.latest_order_asof(ev, orders)
    naive = joins.asof_join(
        ev,
        orders,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        left_id="event_id",
        right_tiebreak="o_orderkey",
    ).select(*cols)
    fast_rows = sorted(map(tuple, fast.collect()))
    naive_rows = sorted(map(tuple, naive.collect()))
    assert fast_rows == naive_rows

def test_q6_every_predicate_pushes_into_scan(spark):
    """forecast_revenue (Q6) is the pushdown stress test: shipdate range,
    discount band, and quantity cap must ALL reach the parquet scan."""
    from real_time_financial_lakehouse_spark.operators import joins

    li = load_table(spark, SF_SMOKE, "lineitem")
    plan = _optimized(joins.forecast_revenue(li))
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed

def test_market_share_is_all_broadcast_one_shuffle(spark):
    """market_share (Q8): six dims must all ride broadcast joins; the
    only hash exchange is the final per-year aggregate."""
    from real_time_financial_lakehouse_spark.operators import joins

    t = lambda n: load_table(spark, SF_SMOKE, n)  # noqa: E731
    plan = _plan(
        joins.market_share(
            t("lineitem"), t("orders"), t("customer"), t("supplier"),
            t("nation"), t("region"), t("part"),
        )
    )
    assert plan.count("BroadcastHashJoin") >= 6
    assert plan.count("Exchange hashpartitioning") == 1

def test_q21_correlations_are_semi_and_anti(spark):
    """waiting_order_suppliers (Q21): EXISTS/NOT EXISTS must compile to
    semi/anti joins (keys only on the wire), never to a materializing
    inner join + dedup."""
    from real_time_financial_lakehouse_spark.operators import joins

    plan = _plan(
        joins.waiting_order_suppliers(
            load_table(spark, SF_SMOKE, "lineitem"),
            load_table(spark, SF_SMOKE, "orders"),
            load_table(spark, SF_SMOKE, "supplier"),
        )
    )
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan

def test_q21_legs_reuse_orderkey_exchange(spark):
    """At fact scale (broadcast off) the three lineitem legs of Q21 must
    share the l_orderkey shuffle via ReusedExchange -- the self-join
    reads the fact table's exchange output, not three fresh shuffles."""
    from real_time_financial_lakehouse_spark.operators import joins

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = joins.waiting_order_suppliers(
            load_table(spark, SF_SMOKE, "lineitem"),
            load_table(spark, SF_SMOKE, "orders"),
            load_table(spark, SF_SMOKE, "supplier"),
        )
        df.collect()  # AQE finalizes the physical plan
        assert "ReusedExchange" in _plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

def test_grouped_head_sample_two_phase_exchanges(spark):
    """The salted sampler must show exactly two hash exchanges: the
    (lang, salt) local phase and the lang re-rank -- proof the global
    window never sees raw-stratum cardinality."""
    from real_time_financial_lakehouse_spark.operators import pipeline

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = _plan(pipeline.grouped_head_sample(docs))
    assert plan.count("Exchange hashpartitioning") == 2

def test_bar_gaps_window_runs_on_bars_not_trades(spark):
    """bar_gaps: the lag window must consume the aggregated OHLC bars --
    its exchange partitions by symbol AFTER the (symbol, minute)
    aggregate, so window state is bar-cardinality."""
    from real_time_financial_lakehouse_spark.operators import finance

    ev = load_table(spark, SF_SMOKE, "events")
    plan = _plan(finance.bar_gaps(ev))
    assert "Window" in plan
    assert plan.count("Exchange hashpartitioning") == 2  # agg + window

def test_contamination_check_has_no_pair_expansion(spark):
    """contamination_check must stay an equi-join on the shingle --
    no nested-loop/cartesian node anywhere in the plan."""
    from real_time_financial_lakehouse_spark.operators import pipeline

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = _plan(pipeline.contamination_check(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

def test_zscores_bucket_grouping_single_exchange(spark):
    from real_time_financial_lakehouse_spark.operators.grouped import user_zscores

    ev = load_table(spark, SF_SMOKE, "events")
    plan = _plan(user_zscores(ev))
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsIn" in plan
    # one exchange for the bucket grouping (+ the final presentation sort)
    assert plan.count("Exchange hashpartitioning") == 1

def test_user_state_history_single_hash_exchange(spark):
    """Both windows and the groupBy partition by user_id: exactly one
    hashpartitioning exchange in the whole plan (the remaining exchange
    is the final sort's rangepartitioning)."""
    from real_time_financial_lakehouse_spark.operators import windows

    ev = load_table(spark, SF_SMOKE, "events")
    plan = _plan(windows.user_state_history(ev))
    assert plan.count("Exchange hashpartitioning") == 1

def test_pack_sequences_ships_only_ints_to_python(spark):
    """The Arrow boundary must carry (doc_id, bucket, n_tokens) only --
    the text column is consumed JVM-side by the token count and never
    crosses into the pandas worker."""
    from real_time_financial_lakehouse_spark.operators import pipeline

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = _plan(pipeline.pack_sequences(docs))
    pandas_node = next(
        ln for ln in plan.splitlines() if "FlatMapGroupsInPandas" in ln
    )
    assert "text" not in pandas_node
    assert "n_tokens" in pandas_node

def test_cluster_assign_broadcasts_seeds(spark):
    """cluster_assign: the seed side is C rows and must broadcast; the
    N x C expansion is a nested-loop over the broadcast, never a
    shuffle-side cartesian."""
    from real_time_financial_lakehouse_spark.operators import similarity

    emb = load_table(spark, SF_SMOKE, "embeddings")
    plan = _plan(similarity.cluster_assign(emb))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan

def test_donchian_single_symbol_exchange(spark):
    """donchian_channels: all four band outputs share ONE chunked window
    frame.  Since the round-14 one-pass rewrite nothing is materialized:
    the whole lineage is visible -- the bar rollup exchange, the
    per-symbol row-number pass, and the EXPLICIT pinned-count
    (symbol, row-block) repartition (REPARTITION_BY_NUM: an unpinned
    by-column repartition is AQE-coalescible by BYTES, which serializes
    the CPU-bound window stage; hashpartitioning(symbol) alone would
    satisfy the window's clustering and serialize it per symbol)."""
    from real_time_financial_lakehouse_spark.operators import finance

    ev = load_table(spark, SF_SMOKE, "events")
    plan = _plan(finance.donchian_channels(ev))
    # exactly three hash exchanges: bar rollup, rn pass, chunk
    # repartition -- and exactly two Windows (rn; the ONE band window
    # serving all four outputs)
    assert plan.count("Exchange hashpartitioning") == 3
    assert "REPARTITION_BY_NUM" in plan
    assert plan.count("Window") == 2

def test_incremental_dedup_is_anti_join_no_expansion(spark):
    """incremental_dedup: a LEFT ANTI equi-join on the fingerprint --
    no pair expansion, no nested loop."""
    from real_time_financial_lakehouse_spark.operators import dedup

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = _plan(dedup.incremental_dedup(docs))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

def test_tf_idf_counts_exchange_reused_at_runtime(spark):
    """tf_idf_terms: the tf and df sides both derive from the identical
    (doc_id, term) count exchange; AQE must reuse it at runtime so the
    explode+count pass -- the trade-cardinality cost -- executes once."""
    from real_time_financial_lakehouse_spark.operators import text

    docs = load_table(spark, SF_SMOKE, "documents")
    df = text.tf_idf_terms(docs)
    df.collect()
    assert "ReusedExchange" in _plan(df)

def test_runtime_bloom_filter_reachable_for_selective_dim_join(spark):
    """Spark injects a runtime bloom filter (dim-side bloom_filter_agg,
    fact-side might_contain) into shuffle joins with a selective creation
    side -- the 100 TB semi-join reduction that prunes fact rows BEFORE
    the exchange.  The fixture sits below the optimizer's size gates
    (creation < 10 MB is met, application > 10 GB is not), so this test
    lowers the application-side gate in a child session to prove the
    engine's configuration leaves the rewrite reachable; at real scale it
    fires with no code changes."""
    ss = spark.newSession()
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ss.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    li = load_table(ss, SF_SMOKE, "lineitem")
    orders = load_table(ss, SF_SMOKE, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .count()
    )
    plan = j._jdf.queryExecution().optimizedPlan().toString()
    assert "bloom_filter_agg" in plan
    assert "might_contain" in plan


def test_hourly_cascade_has_exactly_three_exchanges(spark):
    """The continuous-aggregate cascade must not inherit minute_ohlc's
    presentation sort: minute agg exchange + hour agg exchange + final
    ORDER BY range exchange, nothing else (a fourth exchange means the
    interior global sort of every minute bar came back)."""
    from real_time_financial_lakehouse_spark.operators import rollup

    ev = load_table(spark, SF_SMOKE, "events")
    plan = _plan(rollup.hourly_from_minute(ev))
    assert plan.count("Exchange") == 3


def test_winsorize_broadcasts_fence_table(spark):
    """Pass two must get its fences via broadcast -- no shuffle join of
    the event stream against the tiny per-symbol percentile table."""
    from real_time_financial_lakehouse_spark.operators import pipeline

    ev = load_table(spark, SF_SMOKE, "events")
    plan = _plan(pipeline.winsorize_values(ev))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_redact_pii_is_pure_projection(spark):
    """PII scrubbing must add no shuffle -- it fuses into the scan."""
    docs = load_table(spark, SF_SMOKE, "documents")
    from real_time_financial_lakehouse_spark.operators.pipeline import redact_pii

    plan = _plan(redact_pii(docs))
    # the only exchange allowed is the presentation orderBy's range
    # partitioning; no hashpartitioning anywhere
    assert "Exchange hashpartitioning" not in plan


def test_debounce_single_exchange_on_composite_key(spark):
    from real_time_financial_lakehouse_spark.operators.relational import (
        debounce_events,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    plan = _plan(debounce_events(ev))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "user_id" in plan.split("Exchange hashpartitioning")[1][:120]


def test_bm25_filters_postings_before_joins(spark):
    """Round-14 one-pass shape: the per-query-term counts are
    conditional sums inside the single groupBy(doc_id) tokenize pass
    (lineage-cut at doc cardinality), so every downstream frame scans
    the narrow cut -- corpus-sized frames never join each other, the
    postings prune is the tf > 0 filter on the unpivot, and the final
    ranking is a take-ordered, never a global sort."""
    from real_time_financial_lakehouse_spark.operators.text import bm25_search

    docs = load_table(spark, SF_SMOKE, "documents")
    df = bm25_search(docs)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    # the unpivot prune survives optimization and the plan reads the
    # doc-cardinality cut, not a re-tokenized corpus
    assert "tf#" in optimized and "LogicalRDD" in optimized
    physical = _plan(df)
    assert "TakeOrderedAndProject" in physical
    assert "SortMergeJoin" not in physical and "ShuffledHashJoin" not in physical

def test_pq_adc_no_exchange_before_topk_window(spark):
    """PQ encoding is a pure projection over the broadcast codebook and
    the query LUTs broadcast against the candidate scan: the ONLY hash
    exchange in the whole ADC plan is the per-query top-k window."""
    from real_time_financial_lakehouse_spark.operators import similarity as sim

    emb = load_table(spark, SF_SMOKE, "embeddings")
    df = sim.pq_adc_topk(emb, n_queries=3, k=3)
    df.collect()
    plan = _plan(df)
    assert plan.count("BroadcastExchange") >= 2      # codebook row + query side
    # candidates reach the scoring crossJoin without a hash shuffle: every
    # hashpartitioning exchange in the plan is the rank window's query_id
    # one (AQE prints the plan twice, so compare counts, not totals)
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning(") == plan.count(
        "Exchange hashpartitioning(query_id"
    ), plan
    # and the top-k is WindowGroupLimit-pushed below that exchange
    assert "WindowGroupLimit" in plan


def test_kmv_bottom_k_is_window_group_limited(spark):
    """The per-group bottom-k rank must push a WindowGroupLimit below
    the exchange so each task ships <= k rows per group, not the corpus."""
    from real_time_financial_lakehouse_spark.operators import profiling as pf

    docs = load_table(spark, SF_SMOKE, "documents")
    df = pf.kmv_distinct_estimate(docs, k=8)
    df.collect()
    assert "WindowGroupLimit" in _plan(df)


def test_weighted_sample_is_window_group_limited(spark):
    """A-ES per-source top-n: WindowGroupLimit below the exchange bounds
    the shuffle at O(sources x n)."""
    from real_time_financial_lakehouse_spark.operators import pipeline as pl

    docs = load_table(spark, SF_SMOKE, "documents")
    df = pl.weighted_sample_per_source(docs, n=5)
    df.collect()
    assert "WindowGroupLimit" in _plan(df)


def test_skyline_runs_at_day_cardinality(spark):
    """The skyline sweep must aggregate ticks to days FIRST (one partial
    agg) and run every window at day cardinality -- no pair expansion,
    no nested-loop join anywhere in the plan."""
    from real_time_financial_lakehouse_spark.operators import finance

    ev = load_table(spark, SF_SMOKE, "events")
    df = finance.skyline_days(ev)
    df.collect()
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_selfjoin_estimate_never_joins_the_table(spark):
    """The AMS estimate must come from sketch counters, never from
    materializing the self-join: no join operator over the events table
    appears in the sketch branch (the only join is the final 1x1 cross
    of the two scalar reports)."""
    from real_time_financial_lakehouse_spark.operators import profiling as pf

    ev = load_table(spark, SF_SMOKE, "events")
    df = pf.selfjoin_size_estimate(ev)
    df.collect()
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan      # scalar cross only
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan

def test_tick_windows_share_one_exchange(spark):
    """order_flow_imbalance's lag window and sign-carry window use the
    same (symbol, time) sort: exactly ONE hashpartitioning exchange on
    the symbol feeds both, then the day rollup adds its own."""
    from real_time_financial_lakehouse_spark.operators import finance

    ev = load_table(spark, SF_SMOKE, "events")
    df = finance.order_flow_imbalance(ev)
    df.collect()
    plan = _plan(df)
    # windows partition on event_type/symbol; dedupe AQE's double print
    # by requiring the distinct window-exchange count to be 1
    import re

    exch = {
        m.group(0)
        for m in re.finditer(r"Exchange hashpartitioning\((\w+)#\d+", plan)
        if m.group(1) in ("event_type", "symbol")
    }
    assert len(exch) <= 2, plan      # one window exchange + one rollup


def test_anomaly_episode_window_runs_on_filtered_minority(spark):
    """The gaps-and-islands window must run AFTER the az > cut filter --
    the Filter sits below the Window operators in the plan, so episode
    state is sized by the anomaly rate, not the corpus."""
    from real_time_financial_lakehouse_spark.operators import profiling as pf

    ev = load_table(spark, SF_SMOKE, "events")
    df = pf.anomaly_episodes(ev)
    df.collect()
    plan = _plan(df)
    # the window's sort appears above a filter containing the z cut
    assert "Window" in plan
    w_pos = plan.index("Window")
    assert "Filter" in plan[w_pos:], "anomaly filter must feed the window"


def test_benford_is_single_scan_digit_rollup(spark):
    """Benford is one scan + a 9-row aggregate: no join of data-sized
    frames, no window, the only join is the broadcast of the 1-row
    total."""
    from real_time_financial_lakehouse_spark.operators import profiling as pf

    ev = load_table(spark, SF_SMOKE, "events")
    df = pf.benford_check(ev)
    df.collect()
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    assert "Window " not in plan
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan


def test_volatility_cone_horizons_share_sort(spark):
    """All horizon frames use one (symbol, minute) window sort: a single
    symbol-keyed exchange serves every rolling-vol frame."""
    from real_time_financial_lakehouse_spark.operators import finance

    ev = load_table(spark, SF_SMOKE, "events")
    df = finance.volatility_cones(ev)
    df.collect()
    plan = _plan(df)
    import re

    # count DISTINCT symbol-hash exchanges (AQE prints the plan twice)
    ids = {
        m.group(0)
        for m in re.finditer(r"Exchange hashpartitioning\(symbol#\d+, \d+\)", plan)
    }
    assert len(ids) <= 2, plan       # bar rollup + one shared window sort


def test_winnow_materializes_window_hashes_once(spark):
    """The winnowing window-hash array must appear ONCE in the optimized
    plan: r4's bench regression came from array_min(expr) and size(expr)
    each inlining the full rolling-window transform, doubling the
    per-document work.  n_windows is pure arithmetic on size(th)."""
    from real_time_financial_lakehouse_spark.operators import text as tx

    docs = load_table(spark, SF_SMOKE, "documents")
    df = tx.winnow_fingerprints(docs)
    plan = _optimized(df)
    # the window-hash transform is recognizable by its sequence(0, ...)
    # generator; exactly one per plan section (parsed/analyzed/optimized/
    # physical all print), so count within the optimized section only
    opt = plan.split("== Optimized Logical Plan ==")[1].split("== Physical Plan ==")[0]
    assert opt.count("transform(sequence(0,") == 1, opt


def test_expectation_report_shares_scans_and_broadcasts_fk(spark):
    """The five events-table checks fold into a single aggregation (no
    per-check scans) and every FK check joins without a sort-merge --
    broadcast for the dim side, never a full shuffle sort."""
    from real_time_financial_lakehouse_spark.operators import profiling as pf

    df = pf.expectation_report(
        load_table(spark, SF_SMOKE, "events"),
        load_table(spark, SF_SMOKE, "orders"),
        load_table(spark, SF_SMOKE, "customer"),
        load_table(spark, SF_SMOKE, "lineitem"),
    )
    df.collect()
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # one logical events scan (AQE may print the plan twice)
    assert plan.count("events.parquet") <= 2


def test_psi_drift_is_one_scan_plus_bin_cardinality_work(spark):
    """The corpus-sized work is ONE groupBy at (symbol x bin); global
    bounds ride a broadcast 1-row frame; no windows, no sort-merge."""
    from real_time_financial_lakehouse_spark.operators import profiling as pf

    df = pf.psi_drift(load_table(spark, SF_SMOKE, "events"))
    df.collect()
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    assert "Window " not in plan
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan


def test_embedding_dim_profile_single_partial_agg_pass(spark):
    """posexplode + ONE partially-aggregated groupBy: no joins, no
    windows, a single hash exchange (AQE reprint tolerated)."""
    from real_time_financial_lakehouse_spark.operators import similarity as sim

    df = sim.embedding_dim_profile(load_table(spark, SF_SMOKE, "embeddings"))
    df.collect()
    plan = _plan(df)
    assert "Join" not in plan
    assert "Window " not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "partial" in plan  # map-side combine before the exchange


def test_ann_index_delta_report_is_projection_plus_one_groupby(spark):
    """LSH signatures are pure projections; the report is one
    bucket-cardinality groupBy -- no join anywhere in the plan."""
    from real_time_financial_lakehouse_spark.operators import similarity as sim

    df = sim.ann_index_delta_report(load_table(spark, SF_SMOKE, "embeddings"))
    df.collect()
    plan = _plan(df)
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_bpe_encode_joins_vocab_broadcast_only(spark):
    """Tokenizer application must keep the corpus un-shuffled on the
    word key: the vocab side broadcasts, never a sort-merge join."""
    from real_time_financial_lakehouse_spark.operators import text as tx

    df = tx.bpe_encode_report(
        load_table(spark, SF_SMOKE, "documents"), [("e", "</w>"), ("t", "h")]
    )
    df.collect()
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_order_window_activity_has_no_nested_loop(spark):
    """The interval join must run as a day-binned equi-join (exploded
    window days against a broadcast per-day rollup) -- a raw range
    predicate would plan BroadcastNestedLoopJoin, quadratic at scale."""
    from real_time_financial_lakehouse_spark.operators import joins as jn

    df = jn.order_window_activity(
        load_table(spark, SF_SMOKE, "orders"),
        load_table(spark, SF_SMOKE, "lineitem"),
    )
    df.collect()
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_ri_orphans_counts_without_materializing_orphans(spark):
    """Every dimension-parent edge joins against a broadcast distinct key
    set; orphans are folded into counts -- no sort on the fact side for
    the dim edges."""
    from real_time_financial_lakehouse_spark.operators.profiling import ri_orphans

    tables = {
        n: load_table(spark, SF_SMOKE, n)
        for n in ("orders", "customer", "lineitem", "part", "supplier",
                  "nation", "region")
    }
    df = ri_orphans(tables)
    df.collect()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_knn_vote_broadcasts_queries_no_smj(spark):
    """The held-out query side must broadcast against the corpus scan;
    a sort-merge join would shuffle the full embedding table per query
    batch."""
    from real_time_financial_lakehouse_spark.operators import similarity as sim

    df = sim.knn_label_vote(load_table(spark, SF_SMOKE, "embeddings"))
    df.collect()
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_kmeans_assignment_broadcasts_centroids(spark):
    """Every Lloyd assignment pass joins the embedding scan against k
    centroid rows -- all centroid joins must broadcast; the scan itself
    is never shuffled for assignment."""
    from real_time_financial_lakehouse_spark.operators import similarity as sim

    df = sim.kmeans_unrolled(load_table(spark, SF_SMOKE, "embeddings"))
    df.collect()
    plan = _plan(df)
    assert "SortMergeJoin" not in plan


def test_vpin_windows_share_one_symbol_exchange(spark):
    """VPIN's lag, ignore-nulls sign carry, and running quantity sum are
    three frames over the SAME (symbol | ts, event_id) sort -- exactly
    one hash exchange on the symbol before the bucket rollup."""
    from real_time_financial_lakehouse_spark.operators.finance import vpin_toxicity

    plan = _plan(vpin_toxicity(load_table(spark, SF_SMOKE, "events")))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan


def test_indicator_array_folds_stay_day_cardinality(spark):
    """The recursive-state indicators (keltner / ADX / supertrend /
    EWMA vol / Kalman) do their O(days^2) fold work INSIDE |symbol| rows:
    one day-granularity partial-agg rollup, one symbol-cardinality
    collect -- no window pass over trade cardinality, no Python."""
    from real_time_financial_lakehouse_spark.operators import finance

    ev = load_table(spark, SF_SMOKE, "events")
    for fn in (
        finance.keltner_channels,
        finance.adx,
        finance.supertrend,
        finance.ewma_riskmetrics_vol,
        finance.kalman_price_smooth,
    ):
        plan = _plan(fn(ev))
        assert "BatchEvalPython" not in plan, fn.__name__
        assert "Window" not in plan, f"{fn.__name__} windows trade cardinality"
        # day rollup + symbol collect + output sort: <= 3 exchanges
        assert plan.count("Exchange") <= 3, fn.__name__


def test_bs_greeks_shares_pricer_plan_shape(spark):
    """Greeks run on the same two symbol-cardinality aggregates as the
    pricer; everything after is projection arithmetic in codegen."""
    from real_time_financial_lakehouse_spark.operators.finance import bs_greeks

    plan = _plan(bs_greeks(load_table(spark, SF_SMOKE, "events")))
    assert "BatchEvalPython" not in plan
    assert plan.count("HashAggregate") <= 4  # 2 aggs x partial+final


def test_late_round8_queries_stay_metadata_sized(spark):
    """Almgren-Chriss, Spearman IC, and the DP release all collapse to
    symbol/day/type cardinality after one data-sized rollup -- no
    Python, no cartesian blowup, bounded exchanges."""
    from real_time_financial_lakehouse_spark.operators.finance import (
        almgren_chriss_schedule,
        spearman_ic_daily,
    )
    from real_time_financial_lakehouse_spark.operators.profiling import (
        dp_noise_counts,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    for fn, max_ex in (
        (almgren_chriss_schedule, 4),
        (spearman_ic_daily, 5),
        (dp_noise_counts, 2),
    ):
        plan = _plan(fn(ev))
        assert "BatchEvalPython" not in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__
        assert plan.count("Exchange") <= max_ex, (
            f"{fn.__name__}: {plan.count('Exchange')} exchanges"
        )


def test_retrieval_training_queries_broadcast_probe_side(spark):
    """hard_negative_mining keeps the bounded (n_anchors = 8) probe side
    on a broadcast -- the corpus never shuffles for the pair
    expansion."""
    from real_time_financial_lakehouse_spark.operators.similarity import (
        hard_negative_mining,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    plan = _plan(hard_negative_mining(emb))
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_split_leakage_is_band_bucketed_not_all_pairs(spark):
    """split_leakage_embeddings must never broadcast a corpus-fraction
    side or expand all pairs: the candidate join is an equi-join on
    (band_id, band_val) with a train-side hot-bucket cap.  The former
    crossJoin shape broadcast ~20% of the corpus -- at 100x the data the
    broadcast build alone OOMs an executor."""
    from real_time_financial_lakehouse_spark.operators.similarity import (
        split_leakage_embeddings,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    plan = _plan(split_leakage_embeddings(emb))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    # every join is a key equi-join (band bucket or id fetch); shuffled
    # hash / sort-merge joins are the CORRECT scale shape here -- the
    # point is the absence of any broadcast whose size grows with the
    # corpus (Spark may still broadcast at sf0.001 under AQE thresholds,
    # so assert the pair sources, not the physical join pick)
    assert "posexplode" in plan or "Generate" in plan


def test_round9_queries_stay_bounded(spark):
    """Round-9 additions: the bar-cardinality rollup ladder (Corwin-
    Schultz, triple-barrier, Sortino, HAR-RV, turnover HHI) stays
    window+groupBy shaped -- no Python stage, no cartesian, bounded
    exchanges; volume_profile's per-symbol bounds come back as a
    broadcast, never a shuffle join."""
    from real_time_financial_lakehouse_spark.operators.finance import (
        corwin_schultz_spread,
        har_rv_regression,
        sortino_ratio,
        triple_barrier_labels,
        turnover_hhi,
        volume_profile,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    for fn, max_ex in (
        (corwin_schultz_spread, 4),
        (triple_barrier_labels, 4),
        (sortino_ratio, 4),
        (har_rv_regression, 5),
        (turnover_hhi, 4),
        (volume_profile, 6),
    ):
        plan = _plan(fn(ev))
        assert "BatchEvalPython" not in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__
        assert plan.count("Exchange") <= max_ex, (
            f"{fn.__name__}: {plan.count('Exchange')} exchanges"
        )
    assert "BroadcastExchange" in _plan(volume_profile(ev))


def test_spread_half_life_pairs_equijoin_no_cartesian(spark):
    """The pair expansion is an equi-join on the minute bar (the
    pairs_spread_zscore discipline): SMJ/shuffle on minute_window is
    fine (bar cardinality), a cartesian or Python stage is not."""
    from real_time_financial_lakehouse_spark.operators.finance import (
        spread_half_life,
    )

    plan = _plan(spread_half_life(load_table(spark, SF_SMOKE, "events")))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange") <= 16


def test_retrieval_eval_broadcasts_probe_side(spark):
    """retrieval_mrr_ndcg keeps the bounded (n_queries = 20) probe side
    and the label-cardinality totals on broadcasts -- the corpus scan
    never shuffles for the pair expansion."""
    from real_time_financial_lakehouse_spark.operators.similarity import (
        retrieval_mrr_ndcg,
    )

    plan = _plan(retrieval_mrr_ndcg(load_table(spark, SF_SMOKE, "embeddings")))
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_round9_batch2_queries_stay_bounded(spark):
    """Omega/Calmar/capture/gap-fill ride the day-cardinality rollup
    ladder; tokenizer fertility is row-local work into one slice-
    cardinality groupBy; the semdedup sweep inherits the cell-restricted
    pair join (equi-join on the label cell, constant threshold fan-out,
    broadcast corpus total) -- no Python, no cartesian anywhere."""
    from real_time_financial_lakehouse_spark.operators.finance import (
        calmar_ratio,
        gap_fill_probability,
        omega_ratio,
        updown_capture,
    )
    from real_time_financial_lakehouse_spark.operators.similarity import (
        semdedup_threshold_sweep,
    )
    from real_time_financial_lakehouse_spark.operators.text import (
        tokenizer_fertility,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    for fn, max_ex in (
        (omega_ratio, 4),
        (calmar_ratio, 4),
        # two scans of the rets frame (symbol leg + market leg) + the
        # day-keyed re-join: one more exchange than the single-leg ladders
        (updown_capture, 7),
        (gap_fill_probability, 4),
    ):
        plan = _plan(fn(ev))
        assert "BatchEvalPython" not in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__
        assert plan.count("Exchange") <= max_ex, (
            f"{fn.__name__}: {plan.count('Exchange')} exchanges"
        )
    docs = load_table(spark, SF_SMOKE, "documents")
    plan = _plan(tokenizer_fertility(docs))
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange") <= 3
    emb = load_table(spark, SF_SMOKE, "embeddings")
    plan = _plan(semdedup_threshold_sweep(emb))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan


def test_profiling_round9_queries_stay_bounded(spark):
    """MI profile: broadcast bounds, (type, bin) contingency groupBy,
    cell-cardinality windows; k-anonymity: one QI groupBy into a
    single-row aggregate -- no Python, no unbounded cartesian (the only
    cross joins are 1-row broadcast scalars)."""
    from real_time_financial_lakehouse_spark.operators.profiling import (
        k_anonymity_report,
        mutual_information_profile,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    plan = _plan(mutual_information_profile(ev))
    assert "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan
    plan2 = _plan(k_anonymity_report(ev))
    assert "BatchEvalPython" not in plan2
    assert "CartesianProduct" not in plan2
    assert plan2.count("Exchange") <= 3


def test_round10_queries_stay_bounded(spark):
    """Round-10 additions: the daily-close rollup family (bipower,
    variance ratio, moments, momentum, drawdowns, seasonality) stays
    window+groupBy shaped -- no Python stage, no cartesian; the VaR
    tail cut joins a broadcast symbol-cardinality threshold frame."""
    from real_time_financial_lakehouse_spark.operators import finance

    ev = load_table(spark, SF_SMOKE, "events")
    for fn in (
        finance.bipower_variation_jumps,
        finance.variance_ratio,
        finance.intraday_seasonality,
        finance.drawdown_episodes,
        finance.return_moments_profile,
        finance.cross_sectional_momentum,
    ):
        plan = _plan(fn(ev))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BatchEvalPython" not in plan, fn.__name__
    var_plan = _plan(finance.historical_var_cvar(ev))
    assert "CartesianProduct" not in var_plan
    assert "BroadcastHashJoin" in var_plan or "BroadcastExchange" in var_plan


def test_round10_governance_queries_stay_bounded(spark):
    """ngram_novelty's anti-join must shuffle vocab-cardinality distinct
    sides (never the token stream) with no cartesian; l-diversity, PII
    density and shard skew are pure groupBy ladders with no Python."""
    from real_time_financial_lakehouse_spark.operators import pipeline, text
    from real_time_financial_lakehouse_spark.operators.profiling import (
        l_diversity_report,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    ev = load_table(spark, SF_SMOKE, "events")
    nov = _plan(text.ngram_novelty_rate(docs))
    assert "CartesianProduct" not in nov
    assert "BatchEvalPython" not in nov
    # round-13 optimization: the distinct + left-anti join was fused into
    # one partial-aggregable groupBy(lang, h) boolean-pair pass -- novelty
    # is decided per vocabulary key, so there must be NO join at all and
    # the shingle hash must aggregate (never shuffle the raw token stream)
    assert "Join" not in nov
    assert "HashAggregate" in nov  # the vocabulary-cardinality collapse
    for df in (
        pipeline.pii_density_by_source(docs),
        l_diversity_report(ev),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
    skew = _plan(pipeline.shard_skew_report(docs))
    # the one cross join is the broadcast of the 1-row totals frame
    assert "BroadcastNestedLoopJoin" in skew or "BroadcastExchange" in skew
    assert "BatchEvalPython" not in skew


def test_round11_queries_stay_bounded(spark):
    """Round-11 additions: Ljung-Box and Kupiec ride the daily-close
    rollup ladder with a broadcast symbol-cardinality stats join (one
    window sort per symbol serves every ACF lag); the tail-dependence
    pair expansion is an equi-join ON day (bounded |symbols|^2 fan-out,
    never a row cartesian); the window funnel is ONE user_id exchange
    serving three stacked conditional windows plus the per-user
    collapse -- no Python stage anywhere."""
    from real_time_financial_lakehouse_spark.operators import finance
    from real_time_financial_lakehouse_spark.operators.relational import (
        window_funnel_stages,
    )
    from real_time_financial_lakehouse_spark.operators.similarity import (
        embedding_centroid_drift,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    for fn, max_ex in (
        (finance.ljung_box_autocorr, 7),
        (finance.kupiec_var_backtest, 7),
        (finance.tail_dependence_matrix, 13),
    ):
        plan = _plan(fn(ev))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BatchEvalPython" not in plan, fn.__name__
        assert "BroadcastExchange" in plan, fn.__name__
        assert plan.count("Exchange") <= max_ex, (
            f"{fn.__name__}: {plan.count('Exchange')} exchanges"
        )
    funnel = _plan(window_funnel_stages(ev))
    assert "CartesianProduct" not in funnel
    assert "BatchEvalPython" not in funnel
    # the one-exchange-serves-the-chain claim: a regression back to the
    # join formulation re-expands the anchor subtree into every
    # consumer (14 scans observed); pin the single-scan shape
    assert funnel.count("Scan parquet") <= 2
    emb = load_table(spark, SF_SMOKE, "embeddings")
    drift = _plan(embedding_centroid_drift(emb))
    assert "CartesianProduct" not in drift
    assert "BatchEvalPython" not in drift


def test_round11_batch2_queries_stay_bounded(spark):
    """Runs test / realized kernel / CDaR all ride the daily-close
    rollup ladder: day-granularity partial agg, one symbol-partitioned
    window sort (serving every lag / the running max), one
    symbol-cardinality groupBy -- no cartesian, no Python stage, and a
    bounded exchange count that a regression to a self-join or a
    global window would break."""
    from real_time_financial_lakehouse_spark.operators import finance

    ev = load_table(spark, SF_SMOKE, "events")
    for fn, max_ex in (
        (finance.runs_test_randomness, 7),
        (finance.realized_kernel_vol, 7),
        (finance.cdar_conditional_drawdown, 7),
    ):
        plan = _plan(fn(ev))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BatchEvalPython" not in plan, fn.__name__
        assert plan.count("Exchange") <= max_ex, (
            f"{fn.__name__}: {plan.count('Exchange')} exchanges"
        )
        # exactly one parquet scan each: the ladder is linear
        assert plan.count("Scan parquet") == 1, fn.__name__


def test_round11_governance_queries_stay_bounded(spark):
    """js_divergence_drift shares psi_drift's shape (one broadcast
    bounds row, full materialized (symbol x bin) grid, symbol rollup;
    no window at all); t_closeness_report is the round-11 REWRITE: one
    conditional-sum histogram pass + posexplode over the
    (groups x n_bins)-row frame, with its two single-partition global
    windows (cumulative + total over that tiny histogram frame, never
    the data) whitelisted in plan_audit with a pinned count of 2 --
    two scans total, one of them the column-pruned bounds scan."""
    from real_time_financial_lakehouse_spark.operators.pipeline import (
        t_closeness_report,
    )
    from real_time_financial_lakehouse_spark.operators.profiling import (
        js_divergence_drift,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    jsd = _plan(js_divergence_drift(ev))
    assert "CartesianProduct" not in jsd
    assert "BatchEvalPython" not in jsd
    assert "BroadcastExchange" in jsd
    assert "windowspecdefinition()" not in jsd.replace(" ", "")

    docs = load_table(spark, SF_SMOKE, "documents")
    tcl = _plan(t_closeness_report(docs))
    assert "CartesianProduct" not in tcl
    assert "BatchEvalPython" not in tcl
    # the two-scan shape: one column-pruned bounds scan + ONE data pass
    # (conditional-sum histogram + posexplode -- no spine join, no plan
    # re-expansion; the window_funnel lesson)
    assert tcl.count("Scan parquet") == 2


def test_round11_llmdata_queries_stay_bounded(spark):
    """The PR audit rides the banded, hot-bucket-capped candidate
    generator (never all-pairs) plus hash joins on doc_id and two
    broadcast 1-row aggregates; the code/prose classifier is pure
    scan-fused regexp counting into one source-cardinality groupBy."""
    from real_time_financial_lakehouse_spark.operators.dedup import (
        dedup_precision_recall_audit,
    )
    from real_time_financial_lakehouse_spark.operators.text import (
        code_prose_classifier,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    audit = _plan(dedup_precision_recall_audit(docs))
    assert "CartesianProduct" not in audit
    assert "BatchEvalPython" not in audit
    assert "BroadcastExchange" in audit

    cls = _plan(code_prose_classifier(docs))
    assert "CartesianProduct" not in cls
    assert "BatchEvalPython" not in cls
    assert cls.count("Scan parquet") == 1
    assert cls.count("Exchange") <= 2


def test_round11_microstructure_queries_stay_bounded(spark):
    """Treynor/IR rides the daily ladder with a broadcast day-keyed
    market join; Lee-Ready is ONE symbol-partitioned arrival window
    (lag + running last-non-null share the sort) into a (symbol, day)
    partial agg -- no cartesian, no Python stage."""
    from real_time_financial_lakehouse_spark.operators import finance

    ev = load_table(spark, SF_SMOKE, "events")
    tr = _plan(finance.treynor_information_ratios(ev))
    assert "CartesianProduct" not in tr
    assert "BatchEvalPython" not in tr
    assert "BroadcastExchange" in tr

    lr = _plan(finance.lee_ready_tick_classification(ev))
    assert "CartesianProduct" not in lr
    assert "BatchEvalPython" not in lr
    assert lr.count("Scan parquet") == 1
    # the lag and the carry-forward windows share one symbol exchange
    assert lr.count("Exchange hashpartitioning") <= 2


def test_mode_per_user_single_exchange(spark):
    """The (user, type) partial agg collapses to category cardinality
    per user BEFORE the rank window, and the share window reuses the
    same user_id exchange -- one hashpartitioning total."""
    from real_time_financial_lakehouse_spark.operators.rollup import (
        mode_per_user,
    )

    plan = _plan(mode_per_user(load_table(spark, SF_SMOKE, "events")))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_round11_lm_and_garch_stay_bounded(spark):
    """The trigram LM's probability joins are broadcast-until-large
    against Zipf-small count tables (no cartesian, no Python); the
    GARCH filter is one aggregate fold per symbol over the
    day-cardinality array -- a single window-free rollup ladder."""
    from real_time_financial_lakehouse_spark.operators import finance
    from real_time_financial_lakehouse_spark.operators.text import (
        trigram_interpolated_logprob,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    lm = _plan(trigram_interpolated_logprob(docs))
    assert "CartesianProduct" not in lm
    assert "BatchEvalPython" not in lm
    assert "BroadcastExchange" in lm

    ev = load_table(spark, SF_SMOKE, "events")
    ga = _plan(finance.garch_filter_vol(ev))
    assert "CartesianProduct" not in ga
    assert "BatchEvalPython" not in ga
    assert ga.count("Scan parquet") == 1
    assert ga.count("Exchange") <= 5


def test_hayashi_yoshida_banded_join_no_cartesian(spark):
    """The interval join must be bucket-EQUI-keyed (overlap + claim
    rule as residual filters), never a cartesian: a regression that
    drops the bucket key re-enumerates every cross-symbol return pair."""
    from real_time_financial_lakehouse_spark.operators import finance

    plan = _plan(
        finance.hayashi_yoshida_covariance(load_table(spark, SF_SMOKE, "events"))
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    # the pair join carries bucket as an EQUI key (hash-joinable at any
    # scale; at smoke SF Catalyst broadcasts the small side, at 100 TB
    # the same key shuffles) -- the overlap + claim rule ride as the
    # residual condition
    join_lines = [ln for ln in plan.splitlines() if "HashJoin [bucket" in ln]
    assert join_lines, plan


def test_round11_stats_queries_stay_bounded(spark):
    """Kendall's day-pair expansion is bounded by the CALENDAR, not the
    data (|days|^2 per symbol pair; more rows per day never widen it);
    the calendar screen and the Newey-West ladder are single-window
    daily rollups."""
    from real_time_financial_lakehouse_spark.operators import finance

    ev = load_table(spark, SF_SMOKE, "events")
    kt = _plan(finance.kendall_tau_matrix(ev))
    assert "CartesianProduct" not in kt
    assert "BatchEvalPython" not in kt
    # the round-12 long-calendar twin: the month must ride the pair
    # join as an EQUI key (pairs never form across months -- that
    # equi-key is exactly what makes the expansion linear in calendar
    # length), with day < day as the only residual
    ktw = _plan(finance.kendall_tau_windowed(ev))
    assert "CartesianProduct" not in ktw
    assert "BatchEvalPython" not in ktw
    assert "BroadcastNestedLoopJoin" not in ktw
    pair_joins = [
        ln for ln in ktw.splitlines()
        if ("SortMergeJoin [sym_a" in ln or "HashJoin [sym_a" in ln)
    ]
    assert pair_joins and all(", w#" in ln for ln in pair_joins), ktw
    for fn, max_scans in (
        (finance.calendar_anomaly_report, 1),
        # the broadcast symbol-means join re-expands the daily ladder
        # once (the ljung_box shape): bounded at two scans
        (finance.newey_west_tstat, 2),
    ):
        plan = _plan(fn(ev))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BatchEvalPython" not in plan, fn.__name__
        assert plan.count("Scan parquet") <= max_scans, fn.__name__


def test_round12_queries_stay_bounded(spark):
    """Round-12 additions: every plan free of cartesians and
    row-at-a-time Python, with the scan count pinned to the documented
    pass structure -- the range/CF/Markov family is one daily rollup
    (1 scan; CF re-expands once through the broadcast-means join, the
    return_moments shape), downside_beta re-joins the day-keyed market
    frame (2 scans), duration/clustering are tick rollups (clustering
    re-scans once for the digit grid + totals), and the dispersion /
    length-band reports are linear passes over embeddings/documents."""
    from real_time_financial_lakehouse_spark.operators import finance
    from real_time_financial_lakehouse_spark.operators.pipeline import (
        length_quantile_bands,
    )
    from real_time_financial_lakehouse_spark.operators.similarity import (
        intra_label_cosine_dispersion,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    for fn, max_scans in (
        (finance.range_vol_estimators, 1),
        (finance.cornish_fisher_var, 2),
        (finance.return_sign_markov, 1),
        (finance.downside_beta, 2),
        (finance.trade_duration_profile, 2),
        (finance.round_number_clustering, 3),
    ):
        plan = _plan(fn(ev))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
        assert "BatchEvalPython" not in plan, fn.__name__
        assert plan.count("Scan parquet") <= max_scans, (
            fn.__name__, plan.count("Scan parquet")
        )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    disp = _plan(intra_label_cosine_dispersion(emb))
    assert "CartesianProduct" not in disp
    assert "BatchEvalPython" not in disp
    # the whole point of the sum-vector identity: no pair join -- every
    # join in the plan is equi-keyed on (vec_id/label), never vec x vec
    assert "BroadcastNestedLoopJoin" not in disp

    docs = load_table(spark, SF_SMOKE, "documents")
    bands = _plan(length_quantile_bands(docs))
    assert "CartesianProduct" not in bands
    assert "BatchEvalPython" not in bands
    assert bands.count("Scan parquet") <= 2



def test_round12_fold_queries_stay_bounded(spark):
    """cointegration_screen must do ALL its statistics as array folds at
    pair cardinality: exactly the two tick-wide scans of the day-keyed
    self-join, one equi pair join, no re-expansion for the OLS / ADF
    stages and no Python.  embedding_outlier_report re-scans the
    per-vector distance frame once against the broadcast quantile frame
    (the length_quantile_bands shape) -- four embeddings scans total,
    every join equi-keyed."""
    from real_time_financial_lakehouse_spark.operators import finance
    from real_time_financial_lakehouse_spark.operators.similarity import (
        embedding_outlier_report,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    ci = _plan(finance.cointegration_screen(ev))
    assert "CartesianProduct" not in ci
    assert "BroadcastNestedLoopJoin" not in ci
    assert "BatchEvalPython" not in ci
    assert ci.count("Scan parquet") == 2, ci.count("Scan parquet")

    emb = load_table(spark, SF_SMOKE, "embeddings")
    eo = _plan(embedding_outlier_report(emb))
    assert "CartesianProduct" not in eo
    assert "BroadcastNestedLoopJoin" not in eo
    assert "BatchEvalPython" not in eo
    assert eo.count("Scan parquet") <= 4, eo.count("Scan parquet")


def test_pairs_backtest_is_fold_at_pair_cardinality(spark):
    """The position simulation is one aggregate fold per pair: same
    two-scan bound as cointegration_screen, no extra join or window for
    the z-score/simulation stages."""
    from real_time_financial_lakehouse_spark.operators import finance

    ev = load_table(spark, SF_SMOKE, "events")
    plan = _plan(finance.pairs_spread_backtest(ev))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Scan parquet") == 2, plan.count("Scan parquet")


def test_lazy_queries_launch_no_job_while_built(spark):
    """event_pagerank, cosine_topk and dedup_exact build as pure plans:
    constructing them runs no Spark job, so an eager cut (a
    localCheckpoint, a driver-side count) added to any of them fails
    here.  Table handles are warmed first -- the first read of a parquet
    path runs one schema job in the catalog, not in the query.  An empty
    feed gives event_pagerank's full schema through the plan itself."""
    from real_time_financial_lakehouse_spark import registry
    from real_time_financial_lakehouse_spark.catalog import load_tables
    from real_time_financial_lakehouse_spark.operators.windows import event_pagerank

    load_tables(spark, SF_SMOKE)
    sc = spark.sparkContext
    group = "lazy-build-guard"
    sc.setJobGroup(group, "build only")
    try:
        for name in ("event_pagerank", "cosine_topk", "dedup_exact"):
            registry.QUERIES[name](spark, SF_SMOKE)
        empty = event_pagerank(load_table(spark, SF_SMOKE, "events").limit(0))
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert empty.schema.simpleString() == (
        "struct<node:string,pagerank:double,n_in_edges:bigint,n_out_edges:bigint>"
    )
    assert empty.count() == 0
