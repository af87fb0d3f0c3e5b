"""Semantic tests for the round-3 operators: document chunking,
edit-distance verification of LSH candidates, rank percentiles, chained
streaming window rollup -- planted-structure properties the oracle-parity
check can't express."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from real_time_financial_lakehouse_spark.catalog import load_table
from real_time_financial_lakehouse_spark.operators import dedup, pipeline, windows

from conftest import SF_SMOKE

DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows], DOC_COLS
    )


# ---------------------------------------------------------------------------
# chunk_documents
# ---------------------------------------------------------------------------

def test_chunks_cover_every_character_with_exact_overlap(spark):
    text_330 = "x" * 330  # chunks: [0,200), [150,350)->len 180
    text_short = "short"
    out = pipeline.chunk_documents(
        _docs(spark, [(0, text_330), (1, text_short)]), width=200, stride=150
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    c0 = sorted(by_doc[0], key=lambda r: r["chunk_id"])
    assert [r["char_start"] for r in c0] == [1, 151]
    assert [r["chunk_len"] for r in c0] == [200, 180]
    # last char covered: 151 + 180 - 1 == 330
    assert c0[-1]["char_start"] + c0[-1]["chunk_len"] - 1 == 330
    # overlap region identical in both chunks
    assert c0[0]["chunk_text"][150:] == c0[1]["chunk_text"][:50]
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_text"] == "short"


def test_chunk_fanout_is_len_over_stride(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    got = pipeline.chunk_documents(docs).count()
    expected = docs.select(
        F.sum(
            F.when(F.length("text") <= 200, F.lit(1)).otherwise(
                F.ceil((F.length("text") - 200).cast("double") / 150.0) + 1
            )
        )
    ).collect()[0][0]
    assert got == expected


# ---------------------------------------------------------------------------
# edit_distance_pairs
# ---------------------------------------------------------------------------

def test_edit_distance_zero_for_exact_dups_and_small_for_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog " * 3
    rows = [(0, base), (1, base), (2, base.replace("lazy", "hazy")), (3, "totally different content here")]
    out = {(r["doc_a"], r["doc_b"]): r for r in dedup.edit_distance_pairs(_docs(spark, rows)).collect()}
    assert out[(0, 1)]["edit_distance"] == 0
    assert out[(0, 1)]["edit_similarity"] == 1.0
    # near-dup: 3 chars of 'lazy'->'hazy' edits (x3 repeats)
    assert 0 < out[(0, 2)]["edit_distance"] <= 3
    assert out[(0, 2)]["edit_similarity"] > 0.9
    # the unrelated doc never survives banding
    assert not any(3 in pair for pair in out)


def test_edit_similarity_bounded(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    out = dedup.edit_distance_pairs(docs)
    bad = out.filter((F.col("edit_similarity") < 0) | (F.col("edit_similarity") > 1)).count()
    assert bad == 0


# ---------------------------------------------------------------------------
# order_rank_percentiles
# ---------------------------------------------------------------------------

def test_rank_percentiles_bounds_and_monotonicity(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    out = windows.order_rank_percentiles(orders)
    rows = out.filter(F.col("o_orderpriority") == "1-URGENT").collect()
    assert rows, "fixture should have urgent orders"
    prs = [r["price_percent_rank"] for r in rows]
    cds = [r["price_cume_dist"] for r in rows]
    assert prs[0] == 0.0 and max(prs) <= 1.0
    assert all(a <= b for a, b in zip(cds, cds[1:])), "cume_dist monotone in price order"
    assert cds[-1] == 1.0
    deciles = {r["price_decile"] for r in rows}
    assert deciles == set(range(1, 11))


# ---------------------------------------------------------------------------
# streaming_windowed_rollup
# ---------------------------------------------------------------------------

def test_streaming_rollup_minutes_bounded_and_consistent(spark):
    from real_time_financial_lakehouse_spark.streaming.silver import (
        streaming_windowed_rollup,
    )

    out = streaming_windowed_rollup(spark, SF_SMOKE)
    rows = out.collect()
    assert rows, "rollup should emit sealed 5-minute bars"
    assert all(1 <= r["n_minutes"] <= 5 for r in rows)
    assert all(r["n_events"] >= r["n_minutes"] for r in rows)
    # 5-minute alignment
    assert all(r["window_start"].minute % 5 == 0 and r["window_start"].second == 0 for r in rows)


# ---------------------------------------------------------------------------
# §2.10 surfaces: pandas UDAF + Python UDTF
# ---------------------------------------------------------------------------

def test_weighted_symbol_price_matches_builtin_ratio(spark):
    from real_time_financial_lakehouse_spark.operators import grouped

    events = load_table(spark, SF_SMOKE, "events")
    out = {r["symbol"]: r for r in grouped.weighted_symbol_price(events).collect()}
    w = ((F.col("event_id") % 10) + 1).cast("double")
    ref = {
        r["symbol"]: r
        for r in events.select(F.col("event_type").alias("symbol"), "value", w.alias("w"))
        .groupBy("symbol")
        .agg(
            (F.sum(F.col("value") * F.col("w")) / F.sum("w")).alias("wp"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert set(out) == set(ref)
    for s in out:
        assert out[s]["n_events"] == ref[s]["n"]
        assert out[s]["weighted_price"] == pytest.approx(ref[s]["wp"], abs=1e-5)


def test_term_positions_enumerates_normalized_terms(spark):
    """Both formulations -- the default posexplode built-ins and the
    Python-UDTF API-surface variant -- must emit the identical expansion."""
    from real_time_financial_lakehouse_spark.operators import grouped

    docs = _docs(spark, [(0, "  Hello   World "), (1, "a b c")])
    expected = [
        (0, 1, "hello", 5),
        (0, 2, "world", 5),
        (1, 1, "a", 1),
        (1, 2, "b", 1),
        (1, 3, "c", 1),
    ]
    for rows in (
        grouped.term_positions(docs).collect(),
        grouped.term_positions_udtf(spark, docs).collect(),
    ):
        got = [(r["doc_id"], r["pos"], r["term"], r["term_len"]) for r in rows]
        assert got == expected


# ---------------------------------------------------------------------------
# sorted_export
# ---------------------------------------------------------------------------

def test_sorted_export_files_are_range_disjoint_and_internally_sorted(spark):
    from real_time_financial_lakehouse_spark.operators import sinks

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", F.col("event_type").alias("symbol"), "value"
    )
    out = sinks.sorted_export(spark, ev, ["symbol", "event_id"])
    tagged = out.withColumn("f", F.input_file_name())
    # per-file key ranges must not overlap (global order across files)
    ranges = (
        tagged.groupBy("f")
        .agg(
            F.min(F.struct("symbol", "event_id")).alias("lo"),
            F.max(F.struct("symbol", "event_id")).alias("hi"),
        )
        .collect()
    )
    spans = sorted(
        [((r["lo"]["symbol"], r["lo"]["event_id"]), (r["hi"]["symbol"], r["hi"]["event_id"])) for r in ranges]
    )
    assert len(spans) > 1, "range partitioning should produce multiple files"
    for (_lo, prev_hi), (next_lo, _hi) in zip(spans, spans[1:]):
        assert prev_hi <= next_lo, "file key ranges overlap"
    # rows inside each file are sorted
    from pyspark.sql import Window

    w = Window.partitionBy("f").orderBy(F.monotonically_increasing_id())
    seq = tagged.withColumn(
        "prev", F.lag(F.struct("symbol", "event_id")).over(w)
    ).filter(F.col("prev").isNotNull())
    violations = seq.filter(F.col("prev") > F.struct("symbol", "event_id")).count()
    assert violations == 0


# ---------------------------------------------------------------------------
# running per-symbol stats (streaming.stateful.keyed_fold)
# ---------------------------------------------------------------------------

def test_streaming_symbol_stats_matches_batch_agg(spark):
    from real_time_financial_lakehouse_spark.streaming.stateful import (
        streaming_symbol_stats,
    )

    out = {r["symbol"]: r for r in streaming_symbol_stats(spark, SF_SMOKE).collect()}
    ref = {
        r["symbol"]: r
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy(F.col("event_type").alias("symbol"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert set(out) == set(ref)
    for sym in out:
        assert out[sym]["n_events"] == ref[sym]["n"]
        assert out[sym]["total_value"] == pytest.approx(ref[sym]["s"], abs=1e-5)
        assert out[sym]["min_value"] == ref[sym]["mn"]
        assert out[sym]["max_value"] == ref[sym]["mx"]


# ---------------------------------------------------------------------------
# simhash_near_pairs
# ---------------------------------------------------------------------------

def test_min_label_components_raises_instead_of_returning_upper_bounds(spark):
    """A 6-node chain needs 5 passes plus a quiet one: too few passes and
    a non-positive budget both raise; the default converges to one
    cluster labelled with the minimum id."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "doc_a long, doc_b long"
    )
    universe = spark.range(1, 7).withColumnRenamed("id", "doc_id")
    with pytest.raises(RuntimeError, match="not converged after 2 passes"):
        dedup.min_label_components(edges, universe, max_iter=2)
    with pytest.raises(ValueError, match="max_iter"):
        dedup.min_label_components(edges, universe, max_iter=0)
    out = dedup.min_label_components(edges, universe).collect()
    assert [(r.doc_id, r.cluster_id) for r in out] == [(i, 1) for i in range(1, 7)]


def test_simhash_near_pairs_finds_token_level_near_dups(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    rows = [
        (0, base),
        (1, base),  # identical -> hamming 0
        (2, base.replace("delta", "kappa")),  # one token swapped -> small hamming
        (3, "completely unrelated words nothing shared here at all"),
    ]
    out = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
           dedup.simhash_near_pairs(_docs(spark, rows)).collect()}
    assert out[(0, 1)] == 0
    # one swapped token may or may not flip a majority bit; it must stay
    # within the near-dup Hamming budget either way
    assert (0, 2) in out and out[(0, 2)] <= 3
    assert not any(3 in p for p in out), "unrelated doc must not pair"


def test_simhash_near_pairs_hot_bucket_capped(spark):
    docs = _docs(spark, [(i, "same boilerplate page body " * 5) for i in range(200)])
    # 200 identical fingerprints blow the 64-id bucket cap -> no pairs
    # (exact-dup tier owns this corpus), and no O(n^2) task blowup
    assert dedup.simhash_near_pairs(docs).collect() == []


# ---------------------------------------------------------------------------
# versioned table layer (mini transaction log)
# ---------------------------------------------------------------------------

def test_versioned_time_travel_and_snapshot_isolation(spark, tmp_path):
    import os

    from real_time_financial_lakehouse_spark.operators import versioned

    table = str(tmp_path / "t")
    v0 = versioned.commit_version(spark.range(5).selectExpr("id AS x"), table)
    v1 = versioned.commit_version(spark.range(100, 103).selectExpr("id AS x"), table)
    assert (v0, v1) == (0, 1)
    # time travel sees exactly v0's content after v1 committed
    assert sorted(r["x"] for r in versioned.read_version(spark, table, 0).collect()) == [0, 1, 2, 3, 4]
    assert sorted(r["x"] for r in versioned.read_version(spark, table).collect()) == [100, 101, 102]
    # raw recursive glob bypasses the log and sees BOTH versions' files --
    # the reference's documented raw-glob quirk (SURVEY §4), reproduced
    raw = spark.read.option("recursiveFileLookup", "true").parquet(table)
    assert raw.count() == 8
    # a data directory with no manifest is invisible to log readers
    orphan = os.path.join(table, "data_v2")
    spark.range(1000, 1002).selectExpr("id AS x").write.parquet(orphan)
    assert versioned.table_versions(table) == [0, 1]
    assert versioned.read_version(spark, table).count() == 3


def test_versioned_commit_conflict_loses_cleanly(spark, tmp_path, monkeypatch):
    """Two committers race for the same version number: the winner's data
    files must survive untouched (per-attempt unique data dirs), the
    loser must raise FileExistsError AND remove its own data directory."""
    import os

    import pytest as _pytest

    from real_time_financial_lakehouse_spark.operators import versioned

    table = str(tmp_path / "t2")
    versioned.commit_version(spark.range(3).selectExpr("id AS x"), table)
    # winner claims v1 first
    versioned.commit_version(spark.range(100, 103).selectExpr("id AS x"), table)
    winner_files = set(versioned.read_manifest(table, 1)["files"])
    # loser computed next-version BEFORE the winner's manifest landed:
    # freeze its view of the log at [0] so it also attempts v1
    monkeypatch.setattr(versioned, "table_versions", lambda d: [0])
    with _pytest.raises(FileExistsError):
        versioned.commit_version(spark.range(900, 903).selectExpr("id AS x"), table)
    monkeypatch.undo()
    # winner's commit is intact, byte-for-byte file list
    assert set(versioned.read_manifest(table, 1)["files"]) == winner_files
    for f in winner_files:
        assert os.path.exists(f)
    assert sorted(r["x"] for r in versioned.read_version(spark, table, 1).collect()) == [100, 101, 102]
    # loser left no data directory behind (only log + 2 committed dirs)
    data_dirs = [n for n in os.listdir(table) if n != versioned.LOG_DIR and os.path.isdir(os.path.join(table, n))]
    assert len(data_dirs) == 2


# ---------------------------------------------------------------------------
# multi-batch streaming: state must survive across micro-batches
# ---------------------------------------------------------------------------

def test_streaming_ema_state_carries_across_micro_batches(spark, tmp_path):
    """The fixture is one file, so availableNow drains it in one batch and
    per-key state is never re-loaded.  Re-write events as 4 files and
    stream with maxFilesPerTrigger=1: the EMA fold now crosses 4 batches
    and must still equal the batch twin (state restore + fold order)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F2

    from real_time_financial_lakehouse_spark.catalog import load_table
    from real_time_financial_lakehouse_spark.operators.windows import ema_per_symbol
    from real_time_financial_lakehouse_spark.streaming import pinned_state_partitions
    from real_time_financial_lakehouse_spark.streaming.stateful import ema_stream

    events = load_table(spark, SF_SMOKE, "events")
    src = str(tmp_path / "events_split")
    # deterministic 4-way split ordered by time: file i holds quartile i
    events.withColumn(
        "part", F2.ntile(4).over(Window.orderBy("ts", "event_id"))
    ).write.partitionBy("part").mode("overwrite").parquet(src)

    out = str(tmp_path / "out"); ck = str(tmp_path / "ck")
    stream = pinned_state_partitions(
        spark,
        lambda ss: ema_stream(
            ss.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        ),
        available_now=True,
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, _i: b.write.mode("append").parquet(out)
        )
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    raw = spark.read.parquet(out)
    n_batches = raw.groupBy("symbol").count().agg(F2.max("count")).collect()[0][0]
    assert n_batches >= 4, "stream must have run multiple micro-batches"
    w = Window.partitionBy("symbol").orderBy(F2.col("n_events").desc())
    final = (
        raw.withColumn("rn", F2.row_number().over(w))
        .filter(F2.col("rn") == 1)
        .select("symbol", "n_events", "ema_raw")
        .collect()
    )
    ref = {r["symbol"]: r for r in ema_per_symbol(events).collect()}
    assert {r["symbol"] for r in final} == set(ref)
    for r in final:
        assert r["n_events"] == ref[r["symbol"]]["n_events"]
        ema6 = __import__("math").floor(r["ema_raw"] * 1e6 + 0.5) / 1e6
        assert ema6 == pytest.approx(ref[r["symbol"]]["ema"], abs=2e-6)


def test_streaming_incremental_gold_commits_one_version_per_batch(spark):
    from real_time_financial_lakehouse_spark.operators import versioned
    from real_time_financial_lakehouse_spark.streaming.silver import (
        streaming_incremental_gold,
    )

    out = {r["symbol"]: r for r in streaming_incremental_gold(spark, SF_SMOKE).collect()}
    ref = {
        r["symbol"]: r
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy(F.col("event_type").alias("symbol"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(out) == set(ref)
    for s in out:
        assert out[s]["n_events"] == ref[s]["n"]
        assert out[s]["total_value"] == pytest.approx(ref[s]["s"], abs=1e-5)


def test_idempotent_commit_skips_replayed_batch(spark, tmp_path):
    from real_time_financial_lakehouse_spark.operators import versioned

    table = str(tmp_path / "t3")
    df = spark.range(3).selectExpr("id AS x")
    v = versioned.idempotent_commit(df, table, app_id="app", batch_id=7)
    assert v == 0
    # a foreachBatch retry re-runs the same batch_id: must be a no-op
    assert versioned.idempotent_commit(df, table, app_id="app", batch_id=7) is None
    assert versioned.table_versions(table) == [0]
    # a different writer's batch 7 is NOT deduped against ours
    assert versioned.idempotent_commit(df, table, app_id="other", batch_id=7) == 1


def test_compact_preserves_content_and_history(spark, tmp_path):
    from real_time_financial_lakehouse_spark.operators import versioned

    table = str(tmp_path / "t4")
    df = spark.range(100).selectExpr("id AS x").repartition(8)
    versioned.commit_version(df, table)
    assert versioned.read_manifest(table, 0)["n_files"] == 8
    v = versioned.compact(spark, table, target_files=1)
    assert versioned.read_manifest(table, v)["n_files"] == 1
    assert sorted(r["x"] for r in versioned.read_version(spark, table).collect()) == list(range(100))
    # pre-compaction version still time-travels
    assert versioned.read_version(spark, table, 0).count() == 100


def test_vacuum_enforces_retention_horizon(spark, tmp_path):
    import os

    import pytest as _pytest

    from real_time_financial_lakehouse_spark.operators import versioned

    table = str(tmp_path / "t5")
    for i in range(3):
        versioned.commit_version(spark.range(i * 10, i * 10 + 5).selectExpr("id AS x"), table)
    v0_dirs = {os.path.dirname(f) for f in versioned.read_manifest(table, 0)["files"]}
    # orphan from a failed commit: data dir, no manifest
    orphan = os.path.join(table, "data_v9_deadbeef")
    spark.range(900, 905).selectExpr("id AS x").write.parquet(orphan)
    # a FRESH orphan may be an in-flight commit -> grace period protects it
    versioned.vacuum(table, keep_last=3)
    assert os.path.isdir(orphan), "young orphan must survive the grace period"
    # past the grace window the orphan is a crashed attempt and is reaped
    removed = versioned.vacuum(table, keep_last=1, orphan_grace_s=0.0)
    assert versioned.table_versions(table) == [2]
    assert versioned.read_version(spark, table).count() == 5
    with _pytest.raises(FileNotFoundError):
        versioned.read_version(spark, table, 0)
    for d in v0_dirs:
        assert not os.path.isdir(d)
    assert not os.path.isdir(orphan), "orphan must be vacuumed"
    assert removed


# ---------------------------------------------------------------------------
# Z-order layout
# ---------------------------------------------------------------------------

def test_zorder_files_prune_on_both_dimensions(spark, tmp_path):
    """Quantitative file-skipping check: under a single-column sort the
    secondary column's per-file min/max span covers ~the whole domain
    (no pruning); under Z-order both columns' spans shrink to a fraction
    of the domain.  Uses the value-cents span as the measure."""
    from real_time_financial_lakehouse_spark.operators import layout

    events = load_table(spark, SF_SMOKE, "events")
    cents = F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)")

    def avg_span(path):
        df = spark.read.parquet(path).withColumn("f", F.input_file_name())
        spans = (
            df.groupBy("f")
            .agg((F.max(cents) - F.min(cents)).alias("span"))
            .agg(F.avg("span"))
            .collect()[0][0]
        )
        return float(spans)

    # baseline: sorted by user_id only
    base = str(tmp_path / "by_user")
    (
        events.repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(base)
    )
    zpath = layout.zorder_write(spark, events, n_files=8)
    domain = events.agg((F.max(cents) - F.min(cents))).collect()[0][0]
    base_span, z_span = avg_span(base), avg_span(zpath)
    # single-column sort leaves the other dimension unpruned
    assert base_span > 0.6 * domain
    # z-order must materially shrink the secondary dimension's file spans
    assert z_span < 0.8 * base_span, (base_span, z_span, domain)


def test_zorder_value_is_morton_interleave(spark):
    from real_time_financial_lakehouse_spark.operators.layout import _interleave_sql

    # (a=0b11, b=0b01) -> z = 1:0,1:1 interleaved = 0b1011 = 11
    row = spark.sql(
        f"SELECT CAST({_interleave_sql('3', '1', 2)} AS BIGINT) AS z"
    ).collect()[0]
    assert row["z"] == 0b1011


def test_table_changes_classifies_insert_update_delete(spark, tmp_path):
    from real_time_financial_lakehouse_spark.operators import versioned

    table = str(tmp_path / "cdc")
    v0 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, name string, v double"
    )
    v1 = spark.createDataFrame(
        [(2, "b", 20.0), (3, "c", 99.0), (4, "d", 40.0)], "k int, name string, v double"
    )
    versioned.commit_version(v0, table)
    versioned.commit_version(v1, table)
    changes = {
        r["k"]: r["change_type"]
        for r in versioned.table_changes(spark, table, 0, 1, key_cols=["k"]).collect()
    }
    assert changes == {1: "delete", 3: "update", 4: "insert"}  # 2 unchanged, dropped


def test_versioned_schema_evolution_across_versions(spark, tmp_path):
    """Adding a column is a normal commit: the latest snapshot carries the
    new schema, time travel returns the old one -- no mergeSchema
    in-place mutation, exactly the log-based evolution story."""
    from real_time_financial_lakehouse_spark.operators import versioned

    table = str(tmp_path / "evo")
    versioned.commit_version(spark.range(3).selectExpr("id AS x"), table)
    versioned.commit_version(
        spark.range(3).selectExpr("id AS x", "id * 2 AS y"), table
    )
    assert versioned.read_version(spark, table, 0).columns == ["x"]
    assert versioned.read_version(spark, table).columns == ["x", "y"]


# ---------------------------------------------------------------------------
# resample_ffill / hourly_from_minute / winsorize_values
# ---------------------------------------------------------------------------

def _ticks(spark, rows):
    """rows: (event_id, symbol, ts_str, value)."""
    return spark.createDataFrame(
        [(i, s, t, float(v)) for i, s, t, v in rows],
        "event_id long, event_type string, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))


def test_resample_ffill_fills_gap_minutes_with_last_close(spark):
    from real_time_financial_lakehouse_spark.operators import finance

    ev = _ticks(
        spark,
        [
            (1, "A", "2024-01-01 00:00:10", 10.0),
            (2, "A", "2024-01-01 00:00:50", 11.0),  # close of minute 0
            (3, "A", "2024-01-01 00:03:00", 14.0),  # minutes 1,2 are gaps
            (4, "B", "2024-01-01 00:05:00", 5.0),   # single-minute symbol
        ],
    )
    out = {
        (r["symbol"], str(r["minute"])): (r["price"], r["gap_filled"])
        for r in finance.resample_ffill(ev).collect()
    }
    assert len(out) == 5  # A spans 4 grid minutes, B spans 1
    assert out[("A", "2024-01-01 00:00:00")] == (11.0, False)
    assert out[("A", "2024-01-01 00:01:00")] == (11.0, True)
    assert out[("A", "2024-01-01 00:02:00")] == (11.0, True)
    assert out[("A", "2024-01-01 00:03:00")] == (14.0, False)
    assert out[("B", "2024-01-01 00:05:00")] == (5.0, False)


def test_hourly_cascade_matches_direct_aggregation(spark):
    """The continuous-aggregate algebra: hourly stats re-aggregated from
    minute partials equal a direct hourly aggregation of raw events on
    every decomposable column (open/close chain through the ordered
    minute, so they are checked via the direct (ts, event_id) order)."""
    from real_time_financial_lakehouse_spark.operators import rollup as ro

    ev = load_table(spark, SF_SMOKE, "events")
    cascade = {
        (r["symbol"], r["hour_window"]): r
        for r in ro.hourly_from_minute(ev).collect()
    }
    key = F.struct("ts", "event_id")
    direct = {
        (r["symbol"], r["hour"]): r
        for r in ev.groupBy(
            F.col("event_type").alias("symbol"),
            F.date_trunc("hour", "ts").alias("hour"),
        )
        .agg(
            F.min_by("value", key).alias("open_price"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close_price"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .collect()
    }
    assert cascade.keys() == direct.keys()
    for k, c in cascade.items():
        d = direct[k]
        assert c["n_trades"] == d["n_trades"]
        assert abs(c["high_price"] - d["high"]) < 1e-6
        assert abs(c["low_price"] - d["low"]) < 1e-6
        assert c["open_price"] == d["open_price"]
        assert c["close_price"] == d["close_price"]


def test_winsorize_clips_only_the_tails(spark):
    from real_time_financial_lakehouse_spark.operators import pipeline as pl

    # 101 values 0..100: p01 = 1.0, p99 = 99.0 exactly (interpolation
    # lands on integer ranks), so exactly one value clips at each tail.
    ev = _ticks(
        spark,
        [(i, "A", "2024-01-01 00:00:00", float(i)) for i in range(101)],
    )
    [r] = pl.winsorize_values(ev).collect()
    assert (r["p_lo"], r["p_hi"]) == (1.0, 99.0)
    assert (r["n_clipped_lo"], r["n_clipped_hi"]) == (1, 1)
    assert r["n"] == 101
    # mean after clipping: (sum(0..100) - 0 - 100 + 1 + 99) / 101
    assert abs(r["clipped_mean"] - 50.0) < 1e-6


def test_asof_tolerance_nulls_stale_matches_keeps_boundary(spark):
    from real_time_financial_lakehouse_spark.operators import joins

    left = spark.createDataFrame(
        [(1, "2024-02-01 00:00:00", 10), (2, "2024-03-15 00:00:00", 10)],
        "event_id long, ts string, user_id long",
    ).withColumn("ts", F.to_timestamp("ts"))
    orders = spark.createDataFrame(
        [(100, 10, "2024-01-02", 5.0)],
        "o_orderkey long, o_custkey long, o_orderdate string, o_totalprice double",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    out = {
        r["event_id"]: r["o_orderkey"]
        for r in joins.latest_order_asof_tolerant(
            left, orders, tolerance="30 days"
        ).collect()
    }
    # event 1: order is 30 days old at event time -- exactly at the
    # bound, inclusive, kept; event 2: 73 days old -- nulled, row stays
    assert out == {1: 100, 2: None}


def test_changes_stream_is_exactly_once_across_restarts(spark, tmp_path):
    """The streaming change feed: pass 1 emits v0's snapshot as inserts
    plus v1's diff; after two more commits, pass 2 (same checkpoint)
    emits ONLY v2/v3 changes -- no reprocessing, no duplicates."""
    from real_time_financial_lakehouse_spark.operators import versioned

    table = str(tmp_path / "t")
    out = str(tmp_path / "cdf_out")
    ckpt = str(tmp_path / "ckpt")

    def df(rows):
        return spark.createDataFrame(rows, "k long, v string")

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        versioned.read_changes_feed(spark, out)  # nothing emitted yet
    versioned.commit_version(df([(1, "a"), (2, "b")]), table)          # v0
    versioned.commit_version(df([(1, "a"), (2, "B"), (3, "c")]), table)  # v1
    versioned.changes_stream(spark, table, ["k"], out, ckpt)
    feed1 = {
        (r["version"], r["k"], r["change_type"])
        for r in versioned.read_changes_feed(spark, out).collect()
    }
    assert feed1 == {
        (0, 1, "insert"), (0, 2, "insert"),        # baseline snapshot
        (1, 2, "update"), (1, 3, "insert"),        # v0 -> v1 diff
    }

    versioned.commit_version(df([(2, "B"), (3, "c")]), table)           # v2: delete 1
    versioned.commit_version(df([(2, "B"), (3, "C"), (4, "d")]), table)  # v3
    versioned.changes_stream(spark, table, ["k"], out, ckpt)
    feed2 = {
        (r["version"], r["k"], r["change_type"])
        for r in versioned.read_changes_feed(spark, out).collect()
    }
    assert feed2 == feed1 | {
        (2, 1, "delete"),
        (3, 3, "update"), (3, 4, "insert"),
    }


def test_pca_components_orthonormal_and_projection_exact(spark):
    """PCA properties numpy can pin that SQL cannot: the fitted basis is
    orthonormal, explained variance is non-increasing, and the Spark-side
    projection equals X @ PC computed locally."""
    np = pytest.importorskip("numpy")
    from real_time_financial_lakehouse_spark.operators import similarity

    emb = load_table(spark, SF_SMOKE, "embeddings")
    model = similarity.fit_pca(emb, cache_key="test" + SF_SMOKE, k=4)
    pc = model.pc.toArray()                      # (64, 4)
    assert np.allclose(pc.T @ pc, np.eye(4), atol=1e-9)
    ev = model.explainedVariance.toArray()
    assert all(ev[i] >= ev[i + 1] - 1e-12 for i in range(len(ev) - 1))

    rows = similarity.pca_project(emb, model).collect()
    raw = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    assert len(rows) == len(raw)
    for r in rows[:20]:
        expected = np.array(raw[r["vec_id"]], dtype=np.float64) @ pc
        got = np.array(r["pca"])
        assert np.allclose(got, np.round(expected * 1e6 + 0.5 - 0.5) / 1e6, atol=2e-6)
        assert abs(r["retained_sq_norm"] - float(expected @ expected)) < 1e-3


@pytest.mark.slow  # whole-registry degenerate sweep, ~25-35 s
def test_document_ops_tolerate_null_empty_whitespace_docs(spark):
    """Fixture-regeneration armor: every document operator must survive a
    corpus containing NULL, empty, and whitespace-only texts (Spark 4's
    ANSI mode turns an unguarded ratio into DIVIDE_BY_ZERO -- exactly how
    text_quality broke on this battery before the guard)."""
    from real_time_financial_lakehouse_spark.operators import dedup as dd
    from real_time_financial_lakehouse_spark.operators import pipeline as pl
    from real_time_financial_lakehouse_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (0, None, "en", "s", 0),
            (1, "", "en", "s", 0),
            (2, "   ", "en", "s", 3),
            (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "s", 55),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    quality = {r["doc_id"]: r for r in tx.text_quality(docs).collect()}
    assert quality[1]["punct_ratio"] is None          # 0 chars -> NULL, no error
    assert quality[2]["stopword_ratio"] == 0.0        # split('') -> [''], 1 token
    assert quality[1]["quality_pass"] is False
    assert quality[3]["quality_pass"] is True         # >=50 chars, 10 tokens, 0 punct
    for fn in (
        tx.token_stats, tx.lang_id, tx.word_entropy, tx.unigram_logprob,
        tx.bpe_token_stats, tx.repetition_stats, tx.quality_gate,
        dd.exact_dedup, dd.minhash_signatures, dd.lsh_candidate_pairs,
        dd.simhash_fingerprints, dd.dedup_clusters,
        dd.edit_distance_pairs, dd.simhash_near_pairs, dd.ngram_jaccard_pairs,
        dd.fuzzy_dedup_keep, dd.incremental_dedup, pl.boilerplate_strip,
        dd.dedup_keep_priority, dd.minhash_jaccard_estimate,
        dd.bloom_incremental_dedup, pl.redact_pii, pl.corpus_summary,
        pl.dataset_split_counts, tx.bigram_logprob, tx.heavy_hitters_cms,
        tx.bm25_search, tx.quality_deciles,
        dd.source_overlap_matrix, pl.shard_manifest,
        pl.weighted_sample_per_source, tx.ngram_novelty,
        tx.cross_entropy_eval, tx.bpe_train_merges, tx.zipf_fit,
        lambda d: tx.bpe_encode_report(d, [("a", "l")]),
    ):
        fn(docs).collect()  # must not raise
    from real_time_financial_lakehouse_spark.operators import multimodal as mm

    for fn in (mm.png_media_features, mm.jpeg_media_features,
               mm.wav_media_features):
        fn(docs).collect()  # must not raise
    from real_time_financial_lakehouse_spark.operators import profiling as pf

    pf.kmv_distinct_estimate(docs).collect()  # must not raise


def test_edit_distance_pairs_empty_pair_and_long_doc_cap(spark):
    """Two docs that normalize to empty text ('' and '   ') form an LSH
    candidate pair with zero max-length: similarity must be 1.0, never an
    ANSI DIVIDE_BY_ZERO.  And a degenerate megabyte-scale doc pair must
    hit the max_len truncation, not a 10^12-cell Levenshtein DP."""
    from real_time_financial_lakehouse_spark.operators import dedup as dd

    empties = spark.createDataFrame(
        [(0, "   ", "en", "s", 3), (1, "   ", "en", "s", 3),
         (2, "some real text here", "en", "s", 19)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {(r["doc_a"], r["doc_b"]): r for r in dd.edit_distance_pairs(empties).collect()}
    assert (0, 1) in rows                      # identical raw shingles band together
    assert rows[(0, 1)]["edit_distance"] == 0
    assert rows[(0, 1)]["edit_similarity"] == 1.0

    big = "word " * 2_000                       # 10k chars; cap cuts 1e8 DP cells to 4e6
    longs = spark.createDataFrame(
        [(0, big + "alpha", "en", "s", 1), (1, big + "omega", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = dd.edit_distance_pairs(longs, max_len=2048).collect()
    for r in out:                               # truncated prefixes are identical
        assert r["edit_distance"] == 0
        assert r["edit_similarity"] == 1.0


@pytest.mark.slow  # whole-registry degenerate sweep, ~25-35 s
def test_event_ops_tolerate_degenerate_series(spark):
    """Constant prices (zero variance/range), NULL values, NULL props,
    NULL user_ids: every indicator must return rows or NULLs, never an
    ANSI DIVIDE_BY_ZERO -- F.corr threw on constant series before the
    _safe_corr guard (Catalyst evaluates extracted aggregates even under
    a CASE, so the guard must live in the scalar ratio)."""
    from real_time_financial_lakehouse_spark.operators import (
        finance,
        pipeline,
        rollup,
        windows,
    )

    rows = [
        (1, "2024-01-01 00:00:00", 1, "A", 5.0, '{"k": 2}'),
        (2, "2024-01-01 00:01:00", 1, "A", 5.0, '{"k": 0}'),
        (3, "2024-01-01 00:02:00", 2, "A", 5.0, None),
        (4, "2024-01-01 00:01:00", 2, "B", None, "{}"),
        (5, "2024-01-01 00:02:00", None, "B", 0.0, '{"k": -1}'),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    beta = {r["symbol"]: r for r in finance.beta_vs_market(ev).collect()}
    for r in beta.values():
        assert r["corr_mkt"] is None  # constant returns -> NULL, no error
    for fn in (
        finance.vwap_daily, finance.bollinger_bands, finance.max_drawdown,
        finance.bar_gaps, finance.symbol_correlations,
        finance.daily_return_volatility, finance.atr,
        finance.stochastic_oscillator, finance.on_balance_volume,
        finance.macd_summary, finance.donchian_channels,
        finance.resample_ffill, finance.rolling_median,
        finance.range_volatility, finance.pivot_points,
        finance.williams_r, finance.cci, finance.return_autocorr,
        finance.skyline_days, finance.dollar_bars,
        finance.order_flow_imbalance, finance.kyle_lambda,
        finance.volatility_cones, finance.volatility_cones_approx,
        finance.bipower_jump_stats,
        pipeline.winsorize_values, rollup.minute_ohlc,
        rollup.hourly_from_minute, rollup.seasonal_baseline,
        windows.ema_per_symbol,
    ):
        fn(ev).collect()  # must not raise
    from real_time_financial_lakehouse_spark.operators import profiling as pf

    for fn in (pf.mad_outliers, pf.selfjoin_size_estimate, pf.event_gap_stats,
               pf.anomaly_episodes, pf.benford_check, pf.psi_drift,
               pf.ts_monotonicity_report):
        fn(ev).collect()  # must not raise
    from real_time_financial_lakehouse_spark.operators.windows import (
        event_pagerank,
        session_event_pmi,
    )

    for fn in (finance.ses_forecast, finance.pairs_spread_zscore,
               finance.bipower_jump_stats, event_pagerank, session_event_pmi):
        fn(ev).collect()  # must not raise


@pytest.mark.slow  # whole-registry degenerate sweep, ~25-35 s
def test_queries_survive_fully_empty_tables(spark, tmp_path):
    """Empty-input armor across the query families: zero-row fixtures
    must produce zero-row (or grand-total-free) results, never a read
    error -- the full-registry empty sweep found and fixed three
    read-back bugs (partitioned_day_rollup, streaming_silver_roundtrip,
    streaming_incremental_gold). Known by-design exceptions: Spark emits
    no ROLLUP/CUBE grand-total row on empty input (ANSI does), and the
    ML fits (ml_price_prediction, ann_ivf_kmeans_topk, pca_embeddings)
    require training data."""
    import shutil

    from real_time_financial_lakehouse_spark import registry

    src = SF_SMOKE
    dst = str(tmp_path / "sf_empty")
    (tmp_path / "sf_empty").mkdir()
    for t in ["events", "documents", "orders", "lineitem", "customer", "nation", "region", "embeddings"]:
        df = spark.read.parquet(f"{src}/{t}.parquet").limit(0)
        out_dir = str(tmp_path / f"{t}_w")
        df.coalesce(1).write.mode("overwrite").parquet(out_dir)
        f = next(x for x in __import__("os").listdir(out_dir) if x.endswith(".parquet"))
        shutil.move(f"{out_dir}/{f}", f"{dst}/{t}.parquet")
    for name in [
        "gold_market_summary", "minute_ohlc", "rsi_14", "sma_5",
        "partitioned_day_rollup", "streaming_silver_roundtrip",
        "streaming_incremental_gold", "latest_order_asof",
        "resample_ffill", "winsorize_values", "dedup_exact",
        "text_quality", "pricing_summary", "shipping_priority",
        # round-4 additions that must yield zero rows on zero input
        "debounce_events", "user_transition_matrix", "twap_daily",
        "engulfing_patterns", "bm25_search", "boilerplate_strip",
        "redact_pii", "bigram_logprob", "quality_deciles",
        "heavy_hitters_cms", "dedup_keep_priority",
        "bloom_incremental_dedup", "cosine_topk", "label_centroids",
        "semantic_dedup_keep",
        # round-4 continuation additions
        "range_volatility", "pivot_points", "williams_r_14", "cci_20",
        "return_autocorr", "minhash_jaccard_estimate",
        "edit_distance_pairs", "ann_pq_adc_topk", "kmv_distinct_estimate",
        "source_overlap_matrix", "shard_manifest", "mad_outliers",
        "seasonal_baseline", "skyline_days", "weighted_sample_per_source",
        "event_gap_stats", "dollar_bars", "streaming_seasonal_anomaly",
        "ngram_novelty", "cross_entropy_eval", "bpe_train_merges",
        "hybrid_rrf_search", "ann_ivfpq_topk", "versioned_restore",
        "order_flow_imbalance", "kyle_lambda", "anomaly_episodes",
        "volatility_cones",
        # round-5 additions
        "psi_drift", "volatility_cones_approx", "bpe_encode_report",
        "jpeg_media_features", "embedding_dim_profile",
        "ann_index_delta_report", "streaming_psi_drift",
        "bipower_jump_stats", "ts_monotonicity_report",
        "wav_media_features", "ses_forecast", "event_pagerank",
        "png_media_features", "gif_media_features", "video_media_features",
        "media_feature_summary",
        "pairs_spread_zscore", "customer_rfm", "session_event_pmi",
        # every drained streaming twin but the expectation gate (below)
        "streaming_user_cms", "streaming_click_purchase",
        "streaming_click_purchase_outer", "streaming_cusum_monitor",
        "streaming_dedup", "streaming_dedup_watermarked",
        "streaming_ema_stateful", "streaming_enriched_segments",
        "streaming_kalman_level", "streaming_kmv_distinct",
        "streaming_label_centroids", "streaming_minute_ohlc",
        "streaming_mode_per_user", "streaming_range_vol",
        "streaming_session_merge", "streaming_sessionize",
        "streaming_symbol_stats", "streaming_tumbling_counts",
        "streaming_turnover_hhi", "streaming_value_quantiles",
        "streaming_vpin", "streaming_windowed_rollup",
    ]:
        assert registry.QUERIES[name](spark, dst).count() == 0, name
    # benford_check intentionally emits its constant 1..9 digit spine on
    # ANY input (zero-observation digits carry the largest chi2 term);
    # on empty input that is 9 zero-count rows with NULL shares -- the
    # oracle does the same.
    rows = registry.QUERIES["benford_check"](spark, dst).collect()
    assert [r["digit"] for r in rows] == list(range(1, 10))
    assert all(r["n_obs"] == 0 and r["obs_share"] is None for r in rows)
    # expectation_report likewise reports every declared check on empty
    # tables -- 8 rows, zero failures of zero checks, all passing
    exp = registry.QUERIES["expectation_report"](spark, dst).collect()
    assert len(exp) == 8
    assert all(r["n_checked"] == 0 and r["n_failed"] == 0 and r["passed"]
               for r in exp)
    # the streaming gate reports its "passed" side even when nothing
    # passed: one zero-row line, and no quarantine lines
    gate = registry.QUERIES["streaming_expectation_gate"](spark, dst).collect()
    assert [(r["status"], r["n_rows"]) for r in gate] == [("passed", 0)]


def test_funnel_is_order_sensitive(spark):
    """A purchase BEFORE the user's first view must not convert; one
    strictly-ordered view->click->purchase user converts through all
    three stages."""
    from real_time_financial_lakehouse_spark.operators import relational

    rows = [
        # user 1: full ordered funnel
        (1, "2024-01-01 00:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 00:01:00", 1, "click", 1.0, "{}"),
        (3, "2024-01-01 00:02:00", 1, "purchase", 1.0, "{}"),
        # user 2: purchase first, then view -- stage 1 only
        (4, "2024-01-01 00:00:00", 2, "purchase", 1.0, "{}"),
        (5, "2024-01-01 00:01:00", 2, "view", 1.0, "{}"),
        # user 3: view then click at the SAME timestamp -- strict '>' fails
        (6, "2024-01-01 00:00:00", 3, "view", 1.0, "{}"),
        (7, "2024-01-01 00:00:00", 3, "click", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["stage"]: r for r in relational.funnel_counts(ev).collect()}
    assert (out[1]["n_users"], out[2]["n_users"], out[3]["n_users"]) == (3, 1, 1)
    assert out[1]["conversion"] is None
    assert out[2]["conversion"] == pytest.approx(1 / 3, abs=1e-6)
    assert out[3]["conversion"] == 1.0


def test_retention_triangle_semantics(spark):
    """Planted cohorts: day-0 retention is always 1.0, a user active on
    their cohort day and day 2 (but not day 1) appears only at offsets
    0 and 2, and cohort membership follows FIRST activity."""
    from real_time_financial_lakehouse_spark.operators import relational

    rows = [
        (1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-03 10:00:00", 1, "view", 1.0, "{}"),   # offset 2, skips day 1
        (3, "2024-01-01 11:00:00", 2, "click", 1.0, "{}"),  # same cohort, day 0 only
        (4, "2024-01-02 09:00:00", 3, "view", 1.0, "{}"),   # second cohort
        (5, "2024-01-03 09:00:00", 3, "view", 1.0, "{}"),   # its offset 1
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        (str(r["cohort_day"])[:10], r["day_offset"]): r
        for r in relational.retention_cohorts(ev).collect()
    }
    assert out[("2024-01-01", 0)]["n_users"] == 2
    assert out[("2024-01-01", 0)]["retention"] == 1.0
    assert out[("2024-01-01", 2)]["n_users"] == 1
    assert out[("2024-01-01", 2)]["retention"] == 0.5
    assert ("2024-01-01", 1) not in out                      # nobody active day 1
    assert out[("2024-01-02", 1)]["n_users"] == 1
    assert len(out) == 4


@pytest.mark.slow  # whole-registry degenerate sweep, ~25-35 s
def test_round5_continuation_ops_tolerate_degenerates_and_empty(spark, tmp_path):
    """Armor for the round-5 continuation batch: constant/NULL event
    series through the new indicators (no ANSI DIVIDE_BY_ZERO anywhere),
    and the full zero-row fixture sweep.  By-design spines on empty
    input: ri_orphans always reports its 7 FK edges, fd_check its 6
    rules, session_graph_triangles one all-zero census row."""
    import shutil

    from real_time_financial_lakehouse_spark import registry
    from real_time_financial_lakehouse_spark.operators import finance

    rows = [
        (1, "2024-01-01 00:00:00", 1, "A", 5.0, '{"k": 2}'),
        (2, "2024-01-01 00:01:00", 1, "A", 5.0, '{"k": 0}'),
        (3, "2024-01-02 00:02:00", 2, "A", 5.0, None),
        (4, "2024-01-01 00:01:00", 2, "B", None, "{}"),
        (5, "2024-01-02 00:02:00", None, "B", 0.0, '{"k": -1}'),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    from real_time_financial_lakehouse_spark.operators.windows import (
        session_graph_triangles,
    )

    for fn in (
        finance.amihud_illiquidity, finance.roll_spread,
        finance.var_cvar_report, finance.black_scholes_pricer,
        finance.holt_forecast, finance.heikin_ashi,
        finance.cusum_changepoints, finance.hurst_exponent,
        finance.kama_adaptive_ma, finance.ulcer_index,
        session_graph_triangles,
    ):
        fn(ev).collect()  # constant prices / NULL values: must not raise
    # Roll spread on a constant series: zero covariance -> NULL estimator
    rs = {r["symbol"]: r for r in finance.roll_spread(ev).collect()}
    if "A" in rs:
        assert rs["A"]["roll_spread"] is None
    # Black-Scholes with zero vol: NULL d1/prices, never a division error
    for r in finance.black_scholes_pricer(ev).collect():
        assert r["d1"] is None and r["call_price"] is None

    src = SF_SMOKE
    dst = str(tmp_path / "sf_empty5")
    (tmp_path / "sf_empty5").mkdir()
    for t in ["events", "documents", "orders", "lineitem", "customer",
              "nation", "region", "embeddings", "part", "supplier"]:
        df = spark.read.parquet(f"{src}/{t}.parquet").limit(0)
        out_dir = str(tmp_path / f"{t}_w5")
        df.coalesce(1).write.mode("overwrite").parquet(out_dir)
        f = next(x for x in __import__("os").listdir(out_dir)
                 if x.endswith(".parquet"))
        shutil.move(f"{out_dir}/{f}", f"{dst}/{t}.parquet")
    zero_rows = [
        "amihud_illiquidity", "roll_spread", "var_cvar_report",
        "black_scholes_pricer", "holt_forecast", "heikin_ashi",
        "cusum_changepoints", "hurst_exponent", "order_window_activity",
        "knn_label_vote", "centroid_silhouette", "kmeans_unrolled",
        "nb_lang_classifier", "kama_adaptive_ma", "ulcer_index",
        "domain_temperature_mixture", "gif_media_features",
        "versioned_vacuum", "streaming_cusum_monitor", "rolling_beta",
        "file_skipping_report", "drawdown_duration",
        "cross_correlation_lags", "stl_weekly_decompose",
        "shipping_delay_stats", "scd2_point_in_time_join",
        "association_rules", "cohort_ltv", "ks_two_sample",
        "bootstrap_mean_ci", "copurchase_pairs", "ichimoku_cloud",
        "target_encoding_loo",
    ]
    for name in zero_rows:
        assert registry.QUERIES[name](spark, dst).count() == 0, name
    assert registry.QUERIES["ri_orphans"](spark, dst).count() == 7
    assert registry.QUERIES["fd_check"](spark, dst).count() == 6
    census = registry.QUERIES["session_graph_triangles"](spark, dst).collect()
    assert len(census) == 1 and census[0]["n_edges"] == 0
    # single-row summary ops keep their one-row shape on empty input
    sk = registry.QUERIES["kmv_set_ops"](spark, dst).collect()
    assert len(sk) == 1 and sk[0]["n_kept"] == 0
    fc = registry.QUERIES["funnel_time_to_convert"](spark, dst).collect()
    assert len(fc) == 1 and fc[0]["n_viewers"] == 0 and fc[0]["conversion_rate"] is None
    assert registry.QUERIES["revenue_gini"](spark, dst).count() == 1


def test_pca_power_iteration_aligns_with_numpy_eigenvector(spark):
    """The Gramian-squaring power chain's direction must land close to
    the TRUE top eigenvector of the centered covariance (numpy as
    referee): the oracle pins exactness of the fold, this pins that
    G^(2^7) from the one-pass Gramian actually converges on the fixture
    -- i.e. the query is PCA, not just a deterministic recurrence.
    Scores are checked against the numpy projection up to the sign
    convention and the 6-dp fixed-point quantization."""
    np = pytest.importorskip("numpy")
    from real_time_financial_lakehouse_spark.operators import similarity

    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = similarity.pca_power_iteration(emb).collect()
    raw = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in emb.collect()}
    X = np.stack([raw[k] for k in sorted(raw)])
    mu = np.floor(X.mean(axis=0) * 1e6 + 0.5) / 1e6
    C = X - mu
    # numpy referee: exact top eigenvector of C^T C
    evals, evecs = np.linalg.eigh(C.T @ C)
    top = evecs[:, -1]
    if top.sum() < 0:
        top = -top
    scores = {k: float(c @ top) for k, c in zip(sorted(raw), C)}
    got = {r["vec_id"]: r["pc1_score"] for r in rows}
    assert set(got) == set(raw)
    # alignment: correlation of score vectors ~ cosine of the directions
    a = np.array([got[k] for k in sorted(raw)])
    b = np.array([scores[k] for k in sorted(raw)])
    cos = abs(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b))
    assert cos > 0.99, f"power iteration mis-converged: cos={cos:.4f}"
    # lambda1 approximates the top eigenvalue of C^T C
    lam = rows[0]["lambda1"]
    assert abs(lam - evals[-1]) / evals[-1] < 0.05
