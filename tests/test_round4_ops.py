"""Round-4 operator tests: versioned-table append / DELETE WHERE /
schema evolution, plus the new training-pipeline ops."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from real_time_financial_lakehouse_spark.operators import versioned


# ---------------------------------------------------------------------------
# versioned: append commits
# ---------------------------------------------------------------------------


def test_versioned_append_carries_prior_files(spark, tmp_path):
    table = str(tmp_path / "t")
    versioned.commit_version(spark.range(3).selectExpr("id AS x"), table)
    v0_files = set(versioned.read_manifest(table, 0)["files"])
    versioned.commit_version(
        spark.range(10, 12).selectExpr("id AS x"), table, mode="append"
    )
    v1_files = set(versioned.read_manifest(table, 1)["files"])
    # the append manifest re-references every v0 file plus new ones
    assert v0_files < v1_files
    assert sorted(r["x"] for r in versioned.read_version(spark, table).collect()) == [
        0, 1, 2, 10, 11,
    ]
    # time travel still sees the pre-append snapshot
    assert versioned.read_version(spark, table, 0).count() == 3


def test_versioned_append_rejects_bad_mode(spark, tmp_path):
    with pytest.raises(ValueError):
        versioned.commit_version(
            spark.range(1), str(tmp_path / "t"), mode="upsert"
        )


def test_vacuum_keeps_dirs_carried_into_kept_manifest(spark, tmp_path):
    """A data directory written for v0 but re-referenced by the kept
    (appended) v1 manifest must survive a vacuum of v0."""
    table = str(tmp_path / "t")
    versioned.commit_version(spark.range(3).selectExpr("id AS x"), table)
    versioned.commit_version(
        spark.range(10, 12).selectExpr("id AS x"), table, mode="append"
    )
    versioned.vacuum(table, keep_last=1, orphan_grace_s=0.0)
    assert versioned.table_versions(table) == [1]
    assert sorted(r["x"] for r in versioned.read_version(spark, table).collect()) == [
        0, 1, 2, 10, 11,
    ]


# ---------------------------------------------------------------------------
# versioned: DELETE WHERE with footer-stats pruning
# ---------------------------------------------------------------------------


def test_delete_where_prunes_untouched_files(spark, tmp_path):
    table = str(tmp_path / "t")
    df = spark.range(1000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    versioned.commit_version(df.repartitionByRange(8, "v"), table)
    v = versioned.delete_where(
        spark, table, "v BETWEEN 100.0D AND 199.0D", prune=("v", 100.0, 199.0)
    )
    txn = versioned.read_manifest(table, v)["txn"]
    assert txn["op"] == "delete"
    # the band covers 1/10 of the range-partitioned key space: most
    # files must be carried forward without a read
    assert txn["files_carried"] > 0
    assert txn["files_rewritten"] < 8
    got = sorted(r["k"] for r in versioned.read_version(spark, table).collect())
    assert got == [k for k in range(1000) if not (100 <= k <= 199)]
    # old snapshot untouched (logical delete until vacuum)
    assert versioned.read_version(spark, table, 0).count() == 1000


def test_delete_where_null_predicate_rows_kept(spark, tmp_path):
    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 50.0)], "k INT, v DOUBLE"
    )
    versioned.commit_version(df, table)
    versioned.delete_where(spark, table, "v > 10.0D")
    got = sorted(
        r["k"] for r in versioned.read_version(spark, table).collect()
    )
    # NULL predicate -> row kept (SQL DELETE removes only TRUE rows)
    assert got == [1, 2]


def test_delete_where_without_prune_rewrites_everything(spark, tmp_path):
    table = str(tmp_path / "t")
    df = spark.range(100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    versioned.commit_version(df.repartition(4), table)
    v = versioned.delete_where(spark, table, "v < 10.0D")
    txn = versioned.read_manifest(table, v)["txn"]
    assert txn["files_carried"] == 0
    assert versioned.read_version(spark, table).count() == 90


# ---------------------------------------------------------------------------
# versioned: schema evolution via merge_schema read
# ---------------------------------------------------------------------------


def test_append_schema_evolution_nulls_for_old_files(spark, tmp_path):
    table = str(tmp_path / "t")
    versioned.commit_version(spark.range(3).selectExpr("id AS x"), table)
    versioned.commit_version(
        spark.range(10, 12).selectExpr("id AS x", "id * 2 AS y"),
        table,
        mode="append",
    )
    merged = versioned.read_version(spark, table, merge_schema=True)
    assert set(merged.columns) == {"x", "y"}
    rows = {r["x"]: r["y"] for r in merged.collect()}
    assert rows == {0: None, 1: None, 2: None, 10: 20, 11: 22}


# ---------------------------------------------------------------------------
# boilerplate_strip
# ---------------------------------------------------------------------------


def test_boilerplate_strip_removes_shared_segments(spark):
    from real_time_financial_lakehouse_spark.operators import pipeline

    # width=3: "the quick brown" opens three docs (df=3 -> boilerplate);
    # each doc's tail segments are unique and must survive in order.
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps high over lazy dogs", "en", "s", 0),
            (1, "the quick brown cat sleeps all day long here", "en", "s", 0),
            (2, "the quick brown owl hunts at night time only", "en", "s", 0),
            (3, "completely different words in this document body", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {
        r["doc_id"]: r
        for r in pipeline.boilerplate_strip(docs, width=3, min_df=2).collect()
    }
    assert rows[0]["clean_text"] == "fox jumps high over lazy dogs"
    assert rows[0]["n_segments"] == 3 and rows[0]["n_removed"] == 1
    assert rows[3]["clean_text"].startswith("completely different words")
    assert rows[3]["n_removed"] == 0


def test_boilerplate_strip_fully_boilerplate_doc_empties(spark):
    from real_time_financial_lakehouse_spark.operators import pipeline

    docs = spark.createDataFrame(
        [(0, "same same same", "en", "s", 0), (1, "same same same", "en", "s", 0),
         (2, None, "en", "s", 0), (3, "", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {
        r["doc_id"]: r
        for r in pipeline.boilerplate_strip(docs, width=8, min_df=2).collect()
    }
    # both copies of the duplicated doc reduce to empty
    assert rows[0]["clean_text"] == "" and rows[0]["n_removed"] == 1
    assert rows[1]["clean_text"] == ""
    # NULL and '' normalize to the same '' segment (df=2) -> stripped, no error
    assert rows[2]["clean_text"] == "" and rows[3]["clean_text"] == ""


def test_boilerplate_strip_anti_join_is_broadcast(spark):
    """The boilerplate list must reach the corpus as a broadcast LEFT
    ANTI join -- the corpus side never shuffles for the removal."""
    from real_time_financial_lakehouse_spark.operators import pipeline

    docs = spark.createDataFrame(
        [(i, f"word{i} filler text body segment number {i}", "en", "s", 0) for i in range(10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    plan = pipeline.boilerplate_strip(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


# ---------------------------------------------------------------------------
# heavy_hitters_cms
# ---------------------------------------------------------------------------


def test_cms_never_undercounts_and_bounds_error(spark):
    from real_time_financial_lakehouse_spark.operators import text as tx

    docs = spark.createDataFrame(
        [(i, ("alpha " * 50 + "beta " * 20 + f"unique{i} rare word") , "en", "s", 0)
         for i in range(20)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = tx.heavy_hitters_cms(docs, topn=50).collect()
    assert rows, "expected heavy hitters"
    n_total = 20 * (50 + 20 + 3)
    for r in rows:
        # CMS containment: estimates never undercount
        assert r["est_count"] >= r["exact_count"]
        assert r["overcount"] == r["est_count"] - r["exact_count"]
        # CMS error bound: over by at most (e/width) * N (width=512)
        assert r["overcount"] <= (2.7183 / 512) * n_total + 1
    # the true heavy hitter surfaces first
    assert rows[0]["term"] == "alpha" and rows[0]["exact_count"] == 1000


def test_cms_sketch_is_fixed_size(spark):
    """The sketch the estimates come from must stay depth x width cells
    regardless of vocabulary size."""
    from real_time_financial_lakehouse_spark.functions.hashing import md5_long

    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{j}" for j in range(i, i + 30)), "en", "s", 0)
         for i in range(50)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    cnts = (
        docs.select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term"))
        .filter(F.length("term") >= 3)
        .groupBy("term").count()
    )
    pairs = cnts.select(
        F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("j"), "term"
    ).withColumn("bucket", md5_long(F.concat_ws(":", F.col("j").cast("string"), "term"), hexdigits=7) % 512)
    n_cells = pairs.select("j", "bucket").distinct().count()
    assert n_cells <= 4 * 512


# ---------------------------------------------------------------------------
# ann_hyperplane_topk
# ---------------------------------------------------------------------------


def test_hyperplane_lsh_recall_and_pruning(spark):
    """The banded candidate set must be a real pruning (far fewer pairs
    than brute force) while keeping useful recall vs the exact top-k."""
    from real_time_financial_lakehouse_spark.catalog import load_table
    from real_time_financial_lakehouse_spark.operators import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(emb, n_queries=8, k=3).collect()
        if r["rank"] <= 3
    }
    approx = sim.ann_hyperplane_topk(emb, k=3, n_queries=8).collect()
    got = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.4, f"recall collapsed: {recall}"
    # pruning: every query was scored against fewer candidates than the
    # brute-force N-1 (rank never exceeds the candidate count)
    per_query = {}
    for r in approx:
        per_query.setdefault(r["query_id"], 0)
        per_query[r["query_id"]] += 1
    assert all(v <= 3 for v in per_query.values())
    # the banding itself must prune: count survivors directly
    H = sim.hyperplane_matrix()
    assert len(H) == sim.HP_BITS and len(H[0]) == sim.HP_DIM


def test_hyperplane_matrix_deterministic():
    from real_time_financial_lakehouse_spark.operators import similarity as sim

    a, b = sim.hyperplane_matrix(), sim.hyperplane_matrix()
    assert a == b
    assert all(-1.0 <= x <= 1.0 for row in a for x in row)


# ---------------------------------------------------------------------------
# profile_columns
# ---------------------------------------------------------------------------


def test_profile_columns_counts_nulls_and_cardinality(spark):
    from real_time_financial_lakehouse_spark.operators.profiling import profile_columns

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, 2.5), (3, "a", None), (4, "b", None)],
        "id INT, s STRING, v DOUBLE",
    )
    rows = {r["column_name"]: r for r in profile_columns(df).collect()}
    assert rows["s"]["n_nulls"] == 1 and rows["s"]["n_distinct"] == 2
    assert rows["v"]["n_nulls"] == 2 and rows["v"]["min_value"] == "1.5"
    assert rows["id"]["n_rows"] == 4 and rows["id"]["max_value"] == "4"


def test_profile_columns_approx_is_single_pass(spark):
    """approx=True must avoid the multi-distinct Expand: HLL sketches
    keep the profile a single partial-aggregated scan at 100 TB."""
    from real_time_financial_lakehouse_spark.operators.profiling import profile_columns

    df = spark.range(1000).selectExpr("id AS a", "id % 7 AS b")
    exact_plan = profile_columns(df)._jdf.queryExecution().executedPlan().toString()
    approx_plan = profile_columns(df, approx=True)._jdf.queryExecution().executedPlan().toString()
    # round-13 optimization: the exact path no longer uses the
    # multi-distinct Expand either -- it folds each column's profile
    # from a per-column groupBy branch (no Expand, no all-columns sort)
    assert "Expand" not in exact_plan
    assert "SortAggregate" not in exact_plan
    assert "Expand" not in approx_plan
    rows = {r["column_name"]: r for r in profile_columns(df, approx=True).collect()}
    # HLL cardinalities land within the published ~2% envelope
    assert abs(rows["a"]["n_distinct"] - 1000) <= 50
    assert rows["b"]["n_distinct"] == 7


# ---------------------------------------------------------------------------
# redact_pii
# ---------------------------------------------------------------------------


def test_redact_pii_replaces_and_counts(spark):
    from real_time_financial_lakehouse_spark.operators import pipeline

    docs = spark.createDataFrame(
        [
            (0, "mail bob@example.com or alice.k@corp.io today", "en", "s", 0),
            (1, "see https://ex.co/path?q=1 for info", "en", "s", 0),
            (2, "call 555-123-4567 about account 123456789", "en", "s", 0),
            (3, "nothing sensitive here", "en", "s", 0),
            (4, None, "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r["doc_id"]: r for r in pipeline.redact_pii(docs).collect()}
    assert rows[0]["clean_text"] == "mail <EMAIL> or <EMAIL> today"
    assert rows[0]["n_email"] == 2
    assert rows[1]["clean_text"] == "see <URL> for info" and rows[1]["n_url"] == 1
    assert rows[2]["clean_text"] == "call <PHONE> about account <NUM>"
    assert rows[2]["n_phone"] == 1 and rows[2]["n_longnum"] == 1
    assert rows[3]["clean_text"] == "nothing sensitive here"
    assert all(rows[3][f"n_{k}"] == 0 for k in ("email", "url", "phone", "longnum"))
    assert rows[4]["clean_text"] == "" and rows[4]["n_chars_removed"] == 0


def test_redact_pii_email_wins_over_digit_rules(spark):
    from real_time_financial_lakehouse_spark.operators import pipeline

    docs = spark.createDataFrame(
        [(0, "reach 123456789@numbers.net now", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = pipeline.redact_pii(docs).collect()[0]
    # the digits are consumed by the email replacement, not double-redacted
    assert r["clean_text"] == "reach <EMAIL> now"
    assert r["n_email"] == 1


# ---------------------------------------------------------------------------
# dedup_keep_priority / minhash_jaccard_estimate
# ---------------------------------------------------------------------------


def test_dedup_keep_priority_prefers_first_source(spark):
    from real_time_financial_lakehouse_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [
            (10, "same content here", "en", "web_crawl", 0),
            (3, "same content here", "en", "curated", 0),
            (7, "Same   CONTENT here ", "en", "web_crawl", 0),  # normalizes equal
            (1, "unique text body", "en", "web_crawl", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = dd.dedup_keep_priority(docs).collect()
    by_copies = {r["n_copies"]: r for r in rows}
    assert by_copies[3]["survivor_source"] == "curated"
    assert by_copies[3]["survivor_doc_id"] == 3
    assert by_copies[3]["n_sources"] == 2
    assert by_copies[1]["survivor_doc_id"] == 1


def test_minhash_estimate_brackets_exact_jaccard(spark):
    """Near-identical docs must produce a high estimate AND a high exact
    Jaccard; the estimator's granularity is 1/k."""
    from real_time_financial_lakehouse_spark.operators import dedup as dd

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    docs = spark.createDataFrame(
        [(0, base, "en", "s", 0), (1, base + "lambda mu", "en", "s", 0),
         (2, "totally different words everywhere now always forever", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {(r["doc_a"], r["doc_b"]): r for r in dd.minhash_jaccard_estimate(docs).collect()}
    assert (0, 1) in rows
    r = rows[(0, 1)]
    assert r["exact_jaccard"] > 0.7
    assert r["est_jaccard"] >= 0.625         # >= 5 of 8 components agree
    assert abs(r["abs_error"] - abs(r["est_jaccard"] - r["exact_jaccard"])) < 1e-6


# ---------------------------------------------------------------------------
# streaming_user_cms
# ---------------------------------------------------------------------------


def test_streaming_cms_merges_batches_and_never_undercounts(spark):
    """The stream must drain in several micro-batches and the cell-wise
    sum of batch sketches must behave as one global sketch: estimates
    never undercount the exact per-user counts."""
    from conftest import SF_SMOKE
    from real_time_financial_lakehouse_spark.streaming.silver import (
        streaming_user_cms,
    )

    df = streaming_user_cms(spark, SF_SMOKE)
    rows = df.collect()
    assert rows, "expected heavy hitters"
    for r in rows:
        assert r["est_count"] >= r["exact_count"]
        assert r["overcount"] == r["est_count"] - r["exact_count"]
    # multiple micro-batches actually happened (md5-bucket resharding):
    # the result reads one sketch partition per batch
    batches = {
        part for f in df.inputFiles() for part in f.split("/") if part.startswith("batch=")
    }
    assert len(batches) >= 2, batches


# ---------------------------------------------------------------------------
# key_skew_profile
# ---------------------------------------------------------------------------


def test_key_skew_profile_flags_hot_key(spark):
    from real_time_financial_lakehouse_spark.operators.profiling import (
        key_skew_profile,
    )

    # one key holds 90 of 100 rows
    df = spark.createDataFrame(
        [("hot",)] * 90 + [(f"k{i}",) for i in range(10)], "k STRING"
    )
    r = key_skew_profile(df, "k").collect()[0]
    assert r["n_keys"] == 11 and r["n_rows"] == 100
    assert r["max_per_key"] == 90
    assert r["skew_ratio"] > 9  # 90 / (100/11) ~ 9.9
    assert r["top5_share"] > 0.9


# ---------------------------------------------------------------------------
# bloom_incremental_dedup
# ---------------------------------------------------------------------------


def test_bloom_dedup_agrees_with_exact_and_never_misses(spark):
    from real_time_financial_lakehouse_spark.catalog import load_table
    from real_time_financial_lakehouse_spark.operators import dedup as dd

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    rows = dd.bloom_incremental_dedup(docs).collect()
    assert rows, "delta split produced no docs"
    for r in rows:
        # no false negatives: every confirmed duplicate was a Bloom candidate
        if r["confirmed_dup"]:
            assert r["bloom_candidate"]
        assert r["kept"] == (not r["confirmed_dup"])


def test_bloom_dedup_pruning_on_disjoint_corpora(spark):
    """A delta whose content shares nothing with the base should produce
    (almost) no Bloom candidates -- the map-side filter does the work."""
    from real_time_financial_lakehouse_spark.operators import dedup as dd

    # doc_ids where md5('delta:<id>') % 5 == 0 become the delta
    docs = spark.createDataFrame(
        [(i, f"base text number {i} padded with words", "en", "s", 0) for i in range(60)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = dd.bloom_incremental_dedup(docs).collect()
    n_cand = sum(1 for r in rows if r["bloom_candidate"])
    n_conf = sum(1 for r in rows if r["confirmed_dup"])
    assert n_conf == 0                       # all texts unique
    # false-positive rate stays well under 50% even at this tiny m
    assert n_cand <= max(1, len(rows) // 2)


# ---------------------------------------------------------------------------
# bucketed_revenue_join
# ---------------------------------------------------------------------------


def test_bucketed_revenue_join_has_no_exchange_before_join(spark):
    """Co-bucketed scans must feed the SortMergeJoin directly -- no
    Exchange on the join key on either side (AQE would broadcast at
    smoke SF, so the broadcast threshold is disabled to expose the
    fact-to-fact path the layout exists for)."""
    from real_time_financial_lakehouse_spark.registry import QUERIES

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["bucketed_revenue_join"](spark, "/root/testdata/sf0.001")
        rows = df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "SelectedBucketsCount" in plan
        assert len(rows) >= 1 and all(r["n_items"] > 0 for r in rows)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


# ---------------------------------------------------------------------------
# bigram_logprob
# ---------------------------------------------------------------------------


def test_bigram_logprob_scores_transitions_not_frequency(spark):
    """Scrambled word order must score LOWER than natural repeated order
    even when unigram frequencies are identical -- the signal bigrams add
    over unigram_logprob."""
    from real_time_financial_lakehouse_spark.operators import text as tx

    natural = "the cat sat on the mat " * 10
    scrambled = "mat the on sat cat the " * 5 + "cat mat the sat on the " * 5
    docs = spark.createDataFrame(
        [(0, natural, "en", "s", 0), (1, natural, "en", "s", 0),
         (2, scrambled, "en", "s", 0), (3, "solo", "en", "s", 0),
         (4, "", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r["doc_id"]: r for r in tx.bigram_logprob(docs).collect()}
    assert rows[0]["avg_logprob"] > rows[2]["avg_logprob"]
    # one-token and empty docs: visible with zero bigrams, NULL score
    assert rows[3]["n_bigrams"] == 0 and rows[3]["avg_logprob"] is None
    assert rows[4]["n_bigrams"] == 0 and rows[4]["avg_logprob"] is None


# ---------------------------------------------------------------------------
# corpus_summary / dataset_split_counts
# ---------------------------------------------------------------------------


def test_corpus_summary_counts_duplicates(spark):
    from real_time_financial_lakehouse_spark.operators import pipeline

    docs = spark.createDataFrame(
        [(0, "same text", "en", "a", 0), (1, "Same   TEXT", "en", "b", 0),
         (2, "other words", "fr", "a", 0), (3, None, "fr", "a", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = pipeline.corpus_summary(docs).collect()[0]
    assert r["n_docs"] == 4 and r["n_langs"] == 2 and r["n_sources"] == 2
    # docs 0/1 normalize identically -> 3 distinct contents (incl. empty)
    assert r["n_distinct_contents"] == 3
    assert abs(r["exact_dup_rate"] - 0.25) < 1e-6


def test_dataset_split_is_deterministic_and_roughly_proportioned(spark):
    from real_time_financial_lakehouse_spark.catalog import load_table
    from real_time_financial_lakehouse_spark.operators import pipeline

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    a = {r["split"]: r for r in pipeline.dataset_split_counts(docs).collect()}
    b = {r["split"]: r for r in pipeline.dataset_split_counts(docs).collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert a[k]["n_docs"] == b[k]["n_docs"]          # frozen split
    shares = {k: a[k]["doc_share"] for k in a}
    assert abs(shares.get("train", 0) - 0.8) < 0.08
    assert abs(sum(shares.values()) - 1.0) < 1e-6


# ---------------------------------------------------------------------------
# semantic_dedup_keep
# ---------------------------------------------------------------------------


def test_semantic_dedup_collapses_transitive_chain(spark):
    """A ~ B and B ~ C above threshold must collapse to ONE survivor even
    if cos(A, C) is below threshold -- the transitivity the pairwise
    query cannot express."""
    from real_time_financial_lakehouse_spark.operators import similarity as sim

    def vec(x, y):
        return [float(x), float(y)] + [0.0] * 6

    rows = [
        (0, vec(1.0, 0.0), 1),      # A
        (1, vec(0.9, 0.45), 1),     # B ~ A and ~ C
        (2, vec(0.45, 0.9), 1),     # C ~ B, far from A (cos ~0.66 ok both)
        (3, vec(-1.0, 0.1), 1),     # isolated
        (4, vec(0.0, 1.0), 2),      # different cell: never pairs with 0-3
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["vec_id"]: r for r in sim.semantic_dedup_keep(emb, threshold=0.8).collect()}
    # cos(A,B)=.894? compute: A.B = .9 /(1*1.006)= .894 >= .8; B.C=.81/(1.006*1.006)=.80;
    # A.C=.45/1.006=.447 < .8 -> chain collapses via B
    assert 0 in out and out[0]["n_members"] == 3
    assert 1 not in out and 2 not in out
    assert out[3]["n_members"] == 1
    assert out[4]["n_members"] == 1


# ---------------------------------------------------------------------------
# debounce_events / quality_deciles
# ---------------------------------------------------------------------------


def test_debounce_drops_rapid_repeats_keeps_first(spark):
    from datetime import datetime

    from real_time_financial_lakehouse_spark.operators import relational

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 7, "click", 1.0, "{}"),
        (2, datetime(2024, 1, 1, 12, 0, 2), 7, "click", 1.0, "{}"),   # <5s: drop
        (3, datetime(2024, 1, 1, 12, 0, 9), 7, "click", 1.0, "{}"),   # 7s: keep
        (4, datetime(2024, 1, 1, 12, 0, 1), 7, "view", 1.0, "{}"),    # other type
        (5, datetime(2024, 1, 1, 12, 0, 3), 8, "click", 1.0, "{}"),   # other user
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    kept = sorted(r["event_id"] for r in relational.debounce_events(ev).collect())
    assert kept == [1, 3, 4, 5]


def test_quality_deciles_partition_the_corpus(spark):
    from real_time_financial_lakehouse_spark.catalog import load_table
    from real_time_financial_lakehouse_spark.operators import text as tx

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    rows = tx.quality_deciles(docs).collect()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    assert sum(r["n_docs"] for r in rows) == docs.count()
    # deciles are ordered score bands
    for a, b in zip(rows, rows[1:]):
        assert a["min_score"] <= b["min_score"]


def test_transition_matrix_rows_sum_to_one(spark):
    from real_time_financial_lakehouse_spark.catalog import load_table
    from real_time_financial_lakehouse_spark.operators import windows as wd

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    rows = wd.user_transition_matrix(ev).collect()
    assert rows
    by_from = {}
    for r in rows:
        by_from.setdefault(r["from_type"], 0.0)
        by_from[r["from_type"]] += r["prob"]
        assert r["n_transitions"] > 0
    for total in by_from.values():
        assert abs(total - 1.0) < 1e-4     # per-source probabilities normalize


# ---------------------------------------------------------------------------
# twap_daily / engulfing_patterns / label_centroids
# ---------------------------------------------------------------------------


def test_twap_weights_by_holding_time(spark):
    from datetime import datetime

    from real_time_financial_lakehouse_spark.operators import finance

    # price 10 held for 90s, price 20 held for 10s, last tick unweighted
    rows = [
        (1, datetime(2024, 1, 1, 9, 0, 0), 1, "AAA", 10.0, "{}"),
        (2, datetime(2024, 1, 1, 9, 1, 30), 1, "AAA", 20.0, "{}"),
        (3, datetime(2024, 1, 1, 9, 1, 40), 1, "AAA", 99.0, "{}"),
        (4, datetime(2024, 1, 1, 9, 0, 0), 1, "BBB", 5.0, "{}"),  # single tick
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {r["symbol"]: r for r in finance.twap_daily(ev).collect()}
    assert abs(out["AAA"]["twap"] - (10.0 * 90 + 20.0 * 10) / 100) < 1e-6
    assert out["AAA"]["n_ticks"] == 3
    assert out["BBB"]["twap"] is None  # no prevailing interval


def test_engulfing_detects_bullish_reversal(spark):
    from datetime import datetime

    from real_time_financial_lakehouse_spark.operators import finance

    rows = [
        # bar 1 (down: open 10 -> close 8)
        (1, datetime(2024, 1, 1, 9, 0, 1), 1, "AAA", 10.0, "{}"),
        (2, datetime(2024, 1, 1, 9, 0, 50), 1, "AAA", 8.0, "{}"),
        # bar 2 (up and engulfing: open 7.5 <= 8, close 11 >= 10)
        (3, datetime(2024, 1, 1, 9, 1, 1), 1, "AAA", 7.5, "{}"),
        (4, datetime(2024, 1, 1, 9, 1, 50), 1, "AAA", 11.0, "{}"),
        # bar 3 (up but NOT engulfing bar 2)
        (5, datetime(2024, 1, 1, 9, 2, 1), 1, "AAA", 10.5, "{}"),
        (6, datetime(2024, 1, 1, 9, 2, 50), 1, "AAA", 10.8, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = finance.engulfing_patterns(ev).collect()
    assert len(out) == 1
    assert out[0]["bullish_engulfing"] and not out[0]["bearish_engulfing"]
    assert out[0]["minute"].minute == 1


def test_label_centroids_mean_and_norm(spark):
    import math

    from real_time_financial_lakehouse_spark.operators import similarity as sim

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0], 1), (1, [0.0, 1.0, 0.0, 0.0], 1),
         (2, [2.0, 2.0, 0.0, 0.0], 2)],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r["label"]: r for r in sim.label_centroids(emb).collect()}
    assert out[1]["n_vectors"] == 2
    assert abs(out[1]["c0"] - 0.5) < 1e-6 and abs(out[1]["c1"] - 0.5) < 1e-6
    assert abs(out[1]["centroid_norm"] - math.sqrt(0.5)) < 1e-5
    assert abs(out[2]["centroid_norm"] - math.sqrt(8.0)) < 1e-5


def test_bm25_ranks_term_rich_docs_and_saturates_tf(spark):
    from real_time_financial_lakehouse_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (0, "hash join scan hash join scan extra words here", "en", "s", 0),
            (1, "hash appears once among many other filler words", "en", "s", 0),
            (2, "hash " * 50 + "pad", "en", "s", 0),      # tf spam, long doc
            (3, "no relevant terms at all in this one", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = tx.bm25_search(docs, query_terms=("hash", "join", "scan")).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert 3 not in by_id                       # no query term -> no posting
    assert by_id[0]["n_matched_terms"] == 3
    # multi-term coverage beats single-term tf spam (k1 saturation)
    assert by_id[0]["bm25"] > by_id[2]["bm25"]
    assert by_id[0]["bm25"] > by_id[1]["bm25"]
    # a repeated term counts once
    repeated = tx.bm25_search(docs, query_terms=("hash", "join", "hash", "scan"))
    assert repeated.collect() == rows
    # an empty query is an empty frame with the normal schema
    empty = tx.bm25_search(docs, query_terms=())
    assert empty.schema == tx.bm25_search(docs).schema
    assert empty.collect() == []
    # a quote inside a term is data, not SQL
    quoted = tx.bm25_search(docs, query_terms=("hash", "o'clock")).collect()
    assert {r["doc_id"] for r in quoted} == {0, 1, 2}


# ---------------------------------------------------------------------------
# round-4 continuation: OHLC-derived indicators
# ---------------------------------------------------------------------------


def _ticks(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))


def test_pivot_points_formula_and_ordering(spark):
    """Planted two-day series: day-2 levels derive from day-1 OHLC via
    the floor-trader formulas; each symbol's first day is omitted; the
    level ladder orders s2 < s1 < pivot < r1 < r2 when the prior day
    had range."""
    from real_time_financial_lakehouse_spark.operators import finance

    ev = _ticks(spark, [
        (1, "2024-01-01 09:00:00", 1, "A", 10.0, "{}"),   # day-1 open
        (2, "2024-01-01 10:00:00", 1, "A", 14.0, "{}"),   # high
        (3, "2024-01-01 11:00:00", 1, "A", 8.0, "{}"),    # low
        (4, "2024-01-01 12:00:00", 1, "A", 12.0, "{}"),   # close
        (5, "2024-01-02 09:00:00", 1, "A", 11.0, "{}"),
    ])
    out = finance.pivot_points(ev).collect()
    assert len(out) == 1                      # first day has no prior bar
    r = out[0]
    p = (14.0 + 8.0 + 12.0) / 3
    assert r["pivot"] == pytest.approx(p, abs=1e-6)
    assert r["r1"] == pytest.approx(2 * p - 8.0, abs=1e-6)
    assert r["s1"] == pytest.approx(2 * p - 14.0, abs=1e-6)
    assert r["r2"] == pytest.approx(p + 6.0, abs=1e-6)
    assert r["s2"] == pytest.approx(p - 6.0, abs=1e-6)
    assert r["s2"] < r["s1"] < r["pivot"] < r["r1"] < r["r2"]


def test_williams_r_channel_extremes(spark):
    """A close at the channel high reads %R = 0, at the channel low
    -100; a FLAT channel (high == low across the window) yields NULL
    instead of a division error."""
    from real_time_financial_lakehouse_spark.operators import finance

    base = [
        (i, f"2024-01-01 00:{i:02d}:00", 1, "A", float(v), "{}")
        for i, v in enumerate([5, 9, 7, 5, 9, 3])
    ]
    out = {
        r["minute_window"].minute: r
        for r in finance.williams_r(_ticks(spark, base), n=3).collect()
    }
    # window {9,7,5}: close 5 is the channel low
    assert out[3]["williams_r"] == pytest.approx(-100.0, abs=1e-6)
    # window {5,9}: close 9 is the channel high
    assert out[4]["williams_r"] == pytest.approx(0.0, abs=1e-6)
    flat = [
        (i, f"2024-01-01 00:{i:02d}:00", 1, "A", 4.0, "{}") for i in range(4)
    ]
    flat_rows = finance.williams_r(_ticks(spark, flat), n=3).collect()
    assert flat_rows and all(r["williams_r"] is None for r in flat_rows)


def test_cci_constant_and_planted(spark):
    """Constant bars have zero mean absolute deviation -> NULL CCI (no
    ANSI divide error); a single spike above a flat history lands at
    Lambert's ceiling (1 / 0.015 scaled by the window geometry)."""
    from real_time_financial_lakehouse_spark.operators import finance

    flat = [
        (i, f"2024-01-01 00:{i:02d}:00", 1, "A", 2.0, "{}") for i in range(5)
    ]
    rows = finance.cci(_ticks(spark, flat), n=4).collect()
    assert rows and all(r["cci"] is None for r in rows)

    spiked = flat[:-1] + [(9, "2024-01-01 00:04:00", 1, "A", 6.0, "{}")]
    out = finance.cci(_ticks(spark, spiked), n=4).collect()
    last = out[-1]
    # tp values [2,2,2,6]: mean 3, mad 1.5 -> cci = (6-3)/(0.015*1.5)
    assert last["cci"] == pytest.approx((6 - 3) / (0.015 * 1.5), abs=1e-3)


def test_range_volatility_flat_day_and_nonpositive_guard(spark):
    """A flat day (H == L) has zero Parkinson and Garman-Klass vol; ticks
    with value <= 0 are excluded from the bar rather than producing a
    log-domain error."""
    from real_time_financial_lakehouse_spark.operators import finance

    ev = _ticks(spark, [
        (1, "2024-01-01 09:00:00", 1, "A", 7.0, "{}"),
        (2, "2024-01-01 10:00:00", 1, "A", 7.0, "{}"),
        (3, "2024-01-01 11:00:00", 1, "A", 0.0, "{}"),    # excluded
        (4, "2024-01-01 12:00:00", 1, "A", -3.0, "{}"),   # excluded
    ])
    out = finance.range_volatility(ev).collect()
    assert len(out) == 1
    assert out[0]["n_ticks"] == 2                # nonpositive ticks dropped
    assert out[0]["parkinson_vol"] == 0.0
    assert out[0]["garman_klass_vol"] == 0.0


def test_return_autocorr_alternating_series_reverts(spark):
    """A strictly alternating up/down daily close series has negative
    lag-1 autocorrelation; a constant-return series yields NULL (guarded
    denominator), never a divide error."""
    from real_time_financial_lakehouse_spark.operators import finance

    closes = [10.0, 12.0, 9.6, 12.0, 9.6, 12.0, 9.6, 12.0]
    ev = _ticks(spark, [
        (i, f"2024-01-{i+1:02d} 12:00:00", 1, "A", c, "{}")
        for i, c in enumerate(closes)
    ])
    out = finance.return_autocorr(ev).collect()
    assert len(out) == 1
    assert out[0]["autocorr_lag1"] < -0.5

    const = _ticks(spark, [
        (i, f"2024-01-{i+1:02d} 12:00:00", 1, "A", 5.0, "{}") for i in range(4)
    ])
    out2 = finance.return_autocorr(const).collect()
    assert out2[0]["autocorr_lag1"] is None


# ---------------------------------------------------------------------------
# round-4 continuation: PQ-ADC, KMV sketch, source overlap, shard manifest
# ---------------------------------------------------------------------------


def test_pq_adc_exact_for_anchor_neighbors(spark):
    """A candidate that IS a codebook anchor quantizes to itself, so its
    ADC distance equals its exact squared L2 -- quantization error is
    exactly zero for anchor vectors.  And a duplicate of the query ranks
    first with ADC distance 0 when the query is itself an anchor."""
    import math

    from real_time_financial_lakehouse_spark.operators import similarity as sim

    def vec(seed):
        return [math.sin(seed * 31 + i) for i in range(64)]

    rows = [(i, vec(i), 0) for i in range(10)]
    rows.append((10, vec(0), 0))        # exact duplicate of query 0
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = sim.pq_adc_topk(emb, n_queries=1, k=11)
    got = {r["neighbor_id"]: r for r in out.collect()}
    # anchor neighbors (vec_id < 8, excluding the query itself): ADC == exact
    for nid in range(1, 8):
        assert got[nid]["adc_d2"] == got[nid]["exact_d2"], nid
    # the planted duplicate scores 0 under both metrics and ranks first
    assert got[10]["adc_d2"] == 0.0
    assert got[10]["exact_d2"] == 0.0
    assert got[10]["rank"] == 1


def test_kmv_exact_below_k_and_bounded_error_above(spark):
    """A group with fewer than k distinct contents reports the exact
    count as its estimate (rel_error 0); a 300-distinct group under a
    k=32 sketch lands within the theoretical ~1/sqrt(k) error band
    (asserted loosely at 50%)."""
    from real_time_financial_lakehouse_spark.operators import profiling as pf

    rows = [(i, f"small doc {i % 5}", "en", "tiny", 10) for i in range(20)]
    rows += [(100 + i, f"big unique doc number {i}", "en", "big", 20) for i in range(300)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["source"]: r for r in pf.kmv_distinct_estimate(docs, k=32).collect()}
    assert out["tiny"]["exact_distinct"] == 5
    assert out["tiny"]["kmv_estimate"] == 5.0
    assert out["tiny"]["rel_error"] == 0.0
    assert out["big"]["exact_distinct"] == 300
    assert out["big"]["rel_error"] < 0.5


def test_source_overlap_matrix_planted_counts(spark):
    """Sources A (2 distinct contents) and B (3 distinct) sharing exactly
    one content report n_shared=1 and overlap 1/min(2,3); duplicate rows
    of the same content within a source do not inflate anything."""
    from real_time_financial_lakehouse_spark.operators import dedup as dd

    rows = [
        (0, "shared text", "A", 11),
        (1, "shared text", "A", 11),     # dup within A: still 1 content
        (2, "a only", "A", 6),
        (3, "shared text", "B", 11),
        (4, "b only one", "B", 10),
        (5, "b only two", "B", 10),
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", s, n) for i, t, s, n in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = dd.source_overlap_matrix(docs).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["source_a"], r["source_b"]) == ("A", "B")
    assert (r["n_shared"], r["n_a"], r["n_b"]) == (1, 2, 3)
    assert r["overlap_coeff"] == pytest.approx(0.5, abs=1e-6)


def test_shard_manifest_total_and_balance(spark):
    """Every document lands in exactly one shard (counts sum to the
    corpus size), assignment is deterministic across runs, and the md5
    hash balances 320 docs over 16 shards within a loose 4x max/min."""
    from real_time_financial_lakehouse_spark.operators import pipeline as pl

    docs = spark.createDataFrame(
        [(i, f"doc number {i} with words", "en", f"s{i % 3}", 20) for i in range(320)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    m1 = pl.shard_manifest(docs, n_shards=16).collect()
    m2 = pl.shard_manifest(docs, n_shards=16).collect()
    assert [tuple(r) for r in m1] == [tuple(r) for r in m2]
    counts = [r["n_docs"] for r in m1]
    assert sum(counts) == 320
    assert len(m1) == 16
    assert max(counts) <= 4 * min(counts)


# ---------------------------------------------------------------------------
# round-4 continuation batch 3: robust stats, sketches, skyline, sampling
# ---------------------------------------------------------------------------


def test_mad_outliers_flags_spike_and_guards_constant(spark):
    """One fat-fingered tick among steady prices is flagged by the
    median/MAD rule (and does NOT inflate the robust scale the way it
    would inflate stddev); a constant series has MAD 0 and reports NULL
    z instead of a division error."""
    from real_time_financial_lakehouse_spark.operators import profiling as pf

    vals = [10.0, 10.1, 9.9, 10.2, 9.8, 10.0, 500.0]
    ev = _ticks(spark, [
        (i, f"2024-01-01 00:{i:02d}:00", 1, "A", v, "{}") for i, v in enumerate(vals)
    ] + [
        (10 + i, f"2024-01-01 00:{i:02d}:00", 1, "B", 7.0, "{}") for i in range(4)
    ])
    out = {r["symbol"]: r for r in pf.mad_outliers(ev).collect()}
    assert out["A"]["n_outliers"] == 1
    assert out["A"]["median_value"] == pytest.approx(10.0, abs=1e-6)
    assert out["A"]["mad"] == pytest.approx(0.1, abs=1e-6)   # spike-immune scale
    assert out["B"]["mad"] == 0.0
    assert out["B"]["max_robust_z"] is None
    assert out["B"]["n_outliers"] == 0


def test_selfjoin_estimate_exact_without_collisions_and_overestimates(spark):
    """Self-join size = sum of squared key counts: planted counts
    [3, 2, 1] give exactly 14, and with far fewer keys than sketch
    width there are no collisions, so the CMS estimate is exact; a
    1-wide sketch degenerates to n^2 (all keys collide), always an
    overestimate."""
    from real_time_financial_lakehouse_spark.operators import profiling as pf

    rows = [(i, "2024-01-01 00:00:00", u, "A", 1.0, "{}")
            for i, u in enumerate([1, 1, 1, 2, 2, 3])]
    ev = _ticks(spark, rows)
    r = pf.selfjoin_size_estimate(ev, width=256, depth=3).collect()[0]
    assert r["exact_size"] == 14
    assert r["estimate"] == 14
    assert r["rel_error"] == 0.0
    narrow = pf.selfjoin_size_estimate(ev, width=1, depth=2).collect()[0]
    assert narrow["estimate"] == 36                 # (3+2+1)^2: all collided
    assert narrow["estimate"] >= narrow["exact_size"]


def test_seasonal_baseline_ratio(spark):
    """Planted two-hour profile: the busy hour's mean lands above the
    symbol mean, the quiet hour below, and the ratios are exact."""
    from real_time_financial_lakehouse_spark.operators import rollup as ro

    ev = _ticks(spark, [
        (1, "2024-01-01 09:00:00", 1, "A", 20.0, "{}"),
        (2, "2024-01-02 09:30:00", 1, "A", 20.0, "{}"),
        (3, "2024-01-01 03:00:00", 1, "A", 10.0, "{}"),
        (4, "2024-01-02 03:30:00", 1, "A", 10.0, "{}"),
    ])
    out = {r["hour_of_day"]: r for r in ro.seasonal_baseline(ev).collect()}
    assert out[9]["vs_symbol_mean"] == pytest.approx(20.0 / 15.0, abs=1e-6)
    assert out[3]["vs_symbol_mean"] == pytest.approx(10.0 / 15.0, abs=1e-6)
    assert out[9]["n_events"] == 2


def test_skyline_dominance_ties_and_duplicates(spark):
    """Planted plane: a point dominated on both axes is dropped; a point
    beaten on one axis but better on the other survives; exact duplicate
    points are mutually non-dominating and BOTH survive; equal-volume
    lower-price days are dominated by the same-volume higher-price day."""
    from real_time_financial_lakehouse_spark.operators import finance

    def day(i, val, qty):
        return (i, f"2024-01-{i:02d} 12:00:00", 1, "A", float(val),
                '{"k": %d}' % qty)

    ev = _ticks(spark, [
        day(1, 10, 100),   # vol 100, price 10  -> skyline (max volume)
        day(2, 20, 50),    # vol 50, price 20   -> skyline (better price)
        day(3, 5, 50),     # vol 50, price 5    -> dominated by day 2
        day(4, 9, 80),     # vol 80, price 9    -> dominated by day 1
        day(5, 20, 50),    # duplicate of day 2 -> both survive
    ])
    out = finance.skyline_days(ev).collect()
    days = sorted(r["day"].day for r in out)
    assert days == [1, 2, 5]


def test_weighted_sample_prefers_heavy_docs_and_caps_n(spark):
    """Length-weighted A-ES sampling: with 100 weight-5 docs and 100
    weight-5000 docs in one source, the top-20 is overwhelmingly heavy
    docs; output is deterministic across runs and capped at n per
    source."""
    from real_time_financial_lakehouse_spark.operators import pipeline as pl

    rows = [(i, "light", "en", "s", 5) for i in range(100)]
    rows += [(100 + i, "heavy doc", "en", "s", 5000) for i in range(100)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out1 = pl.weighted_sample_per_source(docs, n=20).collect()
    out2 = pl.weighted_sample_per_source(docs, n=20).collect()
    assert [tuple(r) for r in out1] == [tuple(r) for r in out2]
    assert len(out1) == 20
    n_heavy = sum(1 for r in out1 if r["n_chars"] == 5000)
    assert n_heavy >= 15


def test_event_gap_stats_outage_detection(spark):
    """Planted feed: gaps of 10 s and 390 s give two gaps, one outage
    (> 300 s), and exact mean/max; a single-event symbol has no gaps
    and is absent."""
    from real_time_financial_lakehouse_spark.operators import profiling as pf

    ev = _ticks(spark, [
        (1, "2024-01-01 00:00:00", 1, "A", 1.0, "{}"),
        (2, "2024-01-01 00:00:10", 1, "A", 1.0, "{}"),
        (3, "2024-01-01 00:06:40", 1, "A", 1.0, "{}"),
        (4, "2024-01-01 00:00:00", 1, "B", 1.0, "{}"),
    ])
    out = {r["symbol"]: r for r in pf.event_gap_stats(ev).collect()}
    assert out["A"]["n_gaps"] == 2
    assert out["A"]["n_outages"] == 1
    assert out["A"]["max_gap_s"] == pytest.approx(390.0, abs=1e-6)
    assert out["A"]["mean_gap_s"] == pytest.approx(200.0, abs=1e-6)
    assert "B" not in out


def test_dollar_bars_cut_on_cumulative_dollars(spark):
    """Planted tape with 60-dollar ticks and a 100-dollar bucket: the
    cumulative clock cuts bars at [0, 1, 1, 2 ...] regardless of
    wall-clock spacing, and OHLC reads off each bar's first/last tick."""
    from real_time_financial_lakehouse_spark.operators import finance

    ev = _ticks(spark, [
        (1, "2024-01-01 00:00:00", 1, "A", 6.0, '{"k": 10}'),   # cum 60  -> bar 0
        (2, "2024-01-01 09:00:00", 1, "A", 12.0, '{"k": 5}'),   # cum 120 -> bar 1
        (3, "2024-01-01 09:00:01", 1, "A", 3.0, '{"k": 20}'),   # cum 180 -> bar 1
        (4, "2024-01-01 23:00:00", 1, "A", 10.0, '{"k": 3}'),   # cum 210 -> bar 2
    ])
    out = {r["bar_id"]: r for r in finance.dollar_bars(ev, bucket_dollars=100.0).collect()}
    assert sorted(out) == [0, 1, 2]
    assert out[0]["n_ticks"] == 1
    assert out[1]["n_ticks"] == 2
    assert out[1]["open"] == 12.0 and out[1]["close"] == 3.0
    assert out[1]["high"] == 12.0 and out[1]["low"] == 3.0
    assert out[1]["dollar_volume"] == pytest.approx(120.0, abs=1e-4)


def test_streaming_seasonal_anomaly_flags_planted_spike(spark, tmp_path):
    """A 1000x spike inside an otherwise steady hour is the only flagged
    anomaly after the stream is scored against the batch-learned
    baseline."""
    import os

    from real_time_financial_lakehouse_spark.streaming.stateful import (
        streaming_seasonal_anomaly_roundtrip,
    )

    rows = [(i, f"2024-01-01 09:{i:02d}:00", 1, "A", 10.0 + (i % 3) * 0.1, "{}")
            for i in range(30)]
    rows.append((99, "2024-01-01 09:45:00", 1, "A", 10000.0, "{}"))
    ev = _ticks(spark, rows)
    sf = str(tmp_path / "sf_planted")
    os.makedirs(sf)
    # write with the fixture's vintage (INT64 micros, not INT96) so the
    # stream reader's timestamp normalization sees what it expects
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        ev.coalesce(1).write.parquet(str(tmp_path / "ev_w"))
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    import shutil

    f = next(x for x in os.listdir(tmp_path / "ev_w") if x.endswith(".parquet"))
    shutil.move(str(tmp_path / "ev_w" / f), f"{sf}/events.parquet")
    out = streaming_seasonal_anomaly_roundtrip(spark, sf).collect()
    assert len(out) == 1
    assert out[0]["symbol"] == "A"
    assert out[0]["hour_of_day"] == 9
    assert out[0]["n_anomalies"] == 1
    assert out[0]["max_abs_z"] > 4.0


def test_ngram_novelty_separates_copies_from_originals(spark):
    """Two identical docs share every shingle (novelty 0); a unique doc
    scores 1; a too-short doc reports NULL novelty with zero shingles."""
    from real_time_financial_lakehouse_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog", "en", "s", 44),
            (1, "the quick brown fox jumps over the lazy dog", "en", "s", 44),
            (2, "completely original content nobody else wrote here", "en", "s", 50),
            (3, "too short", "en", "s", 9),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["doc_id"]: r for r in tx.ngram_novelty(docs).collect()}
    assert out[0]["novelty"] == 0.0
    assert out[1]["novelty"] == 0.0
    assert out[2]["novelty"] == 1.0
    assert out[3]["n_shingles"] == 0 and out[3]["novelty"] is None


def test_cross_entropy_oov_and_identity_properties(spark):
    """Guaranteed properties: the train split scored by its own model
    has OOV rate 0 by construction; a corpus of identical docs yields
    equal cross-entropy and zero OOV on every split (the model is the
    same distribution everywhere); and a split whose only content is
    vocabulary absent from train shows a positive OOV rate."""
    from real_time_financial_lakehouse_spark.operators import text as tx

    same = spark.createDataFrame(
        [(i, "alpha beta gamma", "en", "s", 16) for i in range(60)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["split"]: r for r in tx.cross_entropy_eval(same).collect()}
    assert out["train"]["oov_rate"] == 0.0
    ces = {r["cross_entropy"] for r in out.values()}
    assert len(ces) == 1                       # identical distribution everywhere
    assert all(r["oov_rate"] == 0.0 for r in out.values())

    # find a doc_id the md5 split sends to val/test, give it unique vocab
    rows = [(i, "common words shared by all documents", "en", "s", 36)
            for i in range(30)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    base = {r["split"]: r for r in tx.cross_entropy_eval(docs).collect()}
    heldout = [s for s in base if s != "train"]
    assert heldout, "md5 split of 30 ids produced no held-out docs"
    # swap every held-out doc's text for unseen vocabulary
    from real_time_financial_lakehouse_spark.functions.hashing import md5_long
    tagged = docs.withColumn(
        "b", md5_long(F.concat_ws(":", F.lit("split"), F.col("doc_id"))) % 100
    )
    docs2 = tagged.selectExpr(
        "doc_id",
        "CASE WHEN b >= 80 THEN 'xylophone quixotic zephyr' ELSE text END AS text",
        "lang", "source", "n_chars",
    )
    out2 = {r["split"]: r for r in tx.cross_entropy_eval(docs2).collect()}
    assert out2["train"]["oov_rate"] == 0.0
    for s in heldout:
        assert out2[s]["oov_rate"] == 1.0


def _reference_bpe(word_freqs, n_merges):
    """Greedy BPE on a word-frequency dict, lexicographic tiebreak."""
    vocab = {tuple(list(w) + ["</w>"]): f for w, f in word_freqs.items()}
    merges = []
    for step in range(n_merges):
        counts = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get((syms[i], syms[i + 1]), 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), cnt = best
        merges.append((step, l, r, cnt))
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def test_bpe_train_matches_reference_implementation(spark):
    """The distributed BPE trainer must learn the exact merge table a
    reference in-memory greedy BPE learns, tiebreaks included."""
    from real_time_financial_lakehouse_spark.operators import text as tx

    corpus = ["low lower lowest", "low low new newer", "widest wide new"]
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(corpus)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    freqs = {}
    for t in corpus:
        for w in t.split():
            freqs[w] = freqs.get(w, 0) + 1
    expected = _reference_bpe(freqs, 6)
    got = [
        (r["step"], r["left"], r["right"], r["pair_count"])
        for r in tx.bpe_train_merges(docs, n_merges=6).collect()
    ]
    assert got == expected


def test_bpe_train_merge_counts_monotone_enough(spark):
    """Later merges can never count higher than the FIRST merge (the
    global argmax at step 0); empty corpora learn nothing."""
    from real_time_financial_lakehouse_spark.operators import text as tx

    docs = spark.createDataFrame(
        [(i, "banana bandana ban", "en", "s", 18) for i in range(4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = tx.bpe_train_merges(docs, n_merges=5).collect()
    assert rows and all(r["pair_count"] <= rows[0]["pair_count"] for r in rows)
    empty = docs.filter("doc_id < 0")
    assert tx.bpe_train_merges(empty, n_merges=3).count() == 0


def test_hybrid_rrf_fuses_both_rankings(spark):
    """A doc present in BOTH top-20 lists outranks docs present in only
    one at similar positions; rank-1 in a single list scores exactly
    1/61; a doc in both at ranks (r1, r2) scores 1/(60+r1) + 1/(60+r2)."""
    from conftest import SF_SMOKE

    from real_time_financial_lakehouse_spark.catalog import load_table
    from real_time_financial_lakehouse_spark.operators import similarity as sim

    docs = load_table(spark, SF_SMOKE, "documents")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    out = sim.hybrid_rrf_search(docs, emb).collect()
    assert out and out[0]["fused_rank"] == 1
    for r in out:
        expected = 0.0
        if r["rank_lex"] is not None:
            expected += 1.0 / (60 + r["rank_lex"])
        if r["rank_vec"] is not None:
            expected += 1.0 / (60 + r["rank_vec"])
        assert r["rrf_score"] == pytest.approx(expected, abs=1e-6)
    # fused order is non-increasing in rrf_score
    scores = [r["rrf_score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_ivfpq_restricts_to_cell_and_anchor_exactness(spark):
    """IVFADC must only score candidates in the query's coarse cell, and
    anchor-vector candidates still have zero quantization error."""
    import math

    from real_time_financial_lakehouse_spark.operators import similarity as sim

    def vec(seed):
        return [math.sin(seed * 17 + i) for i in range(64)]

    # vec 0 is a query AND an anchor; cells split ids across two labels
    rows = [(i, vec(i), i % 2) for i in range(12)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = sim.ivfpq_adc_topk(emb, n_queries=2, k=10).collect()
    assert out
    for r in out:
        # candidate must share the query's cell
        assert r["cell"] == r["query_id"] % 2
        assert r["neighbor_id"] % 2 == r["cell"]
        if r["neighbor_id"] < 8:          # anchor candidate: ADC == exact
            assert r["adc_d2"] == r["exact_d2"]


def test_observation_metrics_on_gold_rollup(spark):
    """The Observation API (df.observe) collects row-level audit metrics
    in the SAME pass as the query -- no second scan.  The gold rollup
    observed with count/sum must report metrics matching the output."""
    from pyspark.sql import Observation

    from real_time_financial_lakehouse_spark.operators.rollup import (
        events_market_summary,
    )

    ev = spark.createDataFrame(
        [(i, "2024-01-01 00:00:%02d" % (i % 60), 1, "A", float(i), "{}")
         for i in range(50)],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    obs = Observation("audit")
    observed = ev.observe(
        obs, F.count(F.lit(1)).alias("n_in"), F.sum("value").alias("v_in")
    )
    out = events_market_summary(observed).collect()
    assert obs.get["n_in"] == 50
    assert obs.get["v_in"] == pytest.approx(sum(range(50)))
    assert sum(r["transaction_count"] for r in out) == 50


def test_restore_rereferences_without_rewrite_and_history_audits(spark, tmp_path):
    """RESTORE must re-reference the old version's files (no new data
    directory), leave the bad versions readable, and show up in the
    history audit with its source version."""
    table = str(tmp_path / "t")
    versioned.commit_version(spark.range(3).selectExpr("id AS x"), table)
    versioned.commit_version(spark.range(100, 105).selectExpr("id AS x"), table)
    v = versioned.restore_version(table, 0)
    assert v == 2
    # restored manifest references exactly v0's files -- zero data writes
    assert versioned.read_manifest(table, 2)["files"] == \
        versioned.read_manifest(table, 0)["files"]
    assert sorted(r["x"] for r in versioned.read_version(spark, table).collect()) == [0, 1, 2]
    # forensics: the bad version is still readable
    assert versioned.read_version(spark, table, 1).count() == 5
    hist = {r["version"]: r for r in versioned.table_history(spark, table).collect()}
    assert hist[2]["op"] == "restore" and hist[2]["restored_from"] == 0
    assert hist[0]["op"] == "write" and hist[0]["restored_from"] is None
    # vacuum keeping only the restored head must preserve v0's data dirs
    versioned.vacuum(table, keep_last=1, orphan_grace_s=0.0)
    assert sorted(r["x"] for r in versioned.read_version(spark, table).collect()) == [0, 1, 2]


def test_tick_rule_signs_and_imbalance(spark):
    """Planted tape: upticks are buys, downticks sells, zero ticks
    inherit the prior sign; imbalance reflects the counts and the
    leading unclassified tick is counted but excluded from the ratio."""
    from real_time_financial_lakehouse_spark.operators import finance

    ev = _ticks(spark, [
        (1, "2024-01-01 00:00:00", 1, "A", 10.0, '{"k": 1}'),   # no prior: unsigned
        (2, "2024-01-01 00:01:00", 1, "A", 11.0, '{"k": 2}'),   # uptick  -> buy
        (3, "2024-01-01 00:02:00", 1, "A", 11.0, '{"k": 3}'),   # zero    -> buy (carry)
        (4, "2024-01-01 00:03:00", 1, "A", 9.0, '{"k": 4}'),    # downtick-> sell
    ])
    r = finance.order_flow_imbalance(ev).collect()[0]
    assert (r["n_ticks"], r["n_buys"], r["n_sells"]) == (4, 2, 1)
    assert r["signed_volume"] == pytest.approx(2 + 3 - 4, abs=1e-6)
    assert r["imbalance"] == pytest.approx((2 - 1) / 3, abs=1e-6)


def test_kyle_lambda_planted_impact(spark):
    """A tape where every price move is exactly 0.01 per signed unit of
    volume recovers lambda = 0.01; constant signed volume is guarded to
    NULL."""
    from real_time_financial_lakehouse_spark.operators import finance

    # dp_t = 0.01 * sv_t with varying qty -> exact OLS slope 0.01
    rows, price = [], 100.0
    qtys = [1, 3, 2, 5, 4, 2]
    signs = [1, -1, 1, 1, -1, -1]
    for i, (q, s) in enumerate(zip(qtys, signs)):
        price += 0.01 * s * q
        rows.append((i + 2, f"2024-01-01 00:{i+1:02d}:00", 1, "A", round(price, 6),
                     '{"k": %d}' % q))
    rows.insert(0, (1, "2024-01-01 00:00:00", 1, "A", 100.0, '{"k": 1}'))
    ev = _ticks(spark, rows)
    r = finance.kyle_lambda(ev).collect()[0]
    assert r["kyle_lambda"] == pytest.approx(0.01, abs=1e-6)
    assert r["flow_corr"] == pytest.approx(1.0, abs=1e-4)


def test_anomaly_episodes_group_bursts(spark):
    """Two spikes 10 s apart form ONE episode; a third spike 20 min
    later opens a second episode; quiet symbols produce nothing."""
    from real_time_financial_lakehouse_spark.operators import profiling as pf

    base = [(i, f"2024-01-01 00:{i:02d}:00", 1, "A", 10.0 + (i % 2), "{}")
            for i in range(40)]
    spikes = [
        (100, "2024-01-01 01:00:00", 1, "A", 1000.0, "{}"),
        (101, "2024-01-01 01:00:10", 1, "A", 1000.0, "{}"),
        (102, "2024-01-01 01:20:10", 1, "A", 1000.0, "{}"),
    ]
    out = pf.anomaly_episodes(_ticks(spark, base + spikes)).collect()
    assert len(out) == 2
    assert out[0]["n_events"] == 2 and out[1]["n_events"] == 1
    assert out[0]["peak_z"] > 3.0


def test_zipf_fit_flags_uniform_corpus(spark):
    """A perfectly uniform 'corpus' (every term equally frequent) has
    zipf slope 0; a skewed corpus fits a negative slope with strong
    correlation."""
    from real_time_financial_lakehouse_spark.operators import text as tx

    uniform = spark.createDataFrame(
        [(i, "alpha beta gamma delta", "en", "s", 22) for i in range(10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = tx.zipf_fit(uniform).collect()[0]
    assert r["zipf_slope"] == 0.0

    skew_text = " ".join(["the"] * 64 + ["of"] * 16 + ["cat"] * 4 + ["dog"] * 2)
    skewed = spark.createDataFrame(
        [(0, skew_text, "en", "s", len(skew_text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r2 = tx.zipf_fit(skewed).collect()[0]
    assert r2["zipf_slope"] < -0.5
    assert r2["fit_corr"] < -0.9


def test_benford_on_exponential_data_and_digit_extraction(spark):
    """Values spanning several decades with a log-uniform flavor follow
    Benford closely; leading-digit extraction handles sub-1 values; the
    shares sum to 1 and every digit is in 1..9."""
    import math

    from real_time_financial_lakehouse_spark.operators import profiling as pf

    rows = [
        (i, "2024-01-01 00:00:00", 1, "A", math.exp(i * 0.037) * 0.01, "{}")
        for i in range(500)
    ]
    rows.append((9999, "2024-01-01 00:00:00", 1, "A", -5.0, "{}"))   # excluded
    out = pf.benford_check(_ticks(spark, rows)).collect()
    digits = [r["digit"] for r in out]
    assert set(digits) <= set(range(1, 10))
    assert sum(r["n_obs"] for r in out) == 500                # negative excluded
    assert sum(r["obs_share"] for r in out) == pytest.approx(1.0, abs=1e-4)
    by_d = {r["digit"]: r for r in out}
    # exponential growth is Benford-distributed: digit 1 dominates
    assert by_d[1]["obs_share"] > by_d[9]["obs_share"]
    assert sum(r["chi2_contrib"] for r in out) < 20.0          # good fit


def test_volatility_cone_orders_percentiles(spark):
    """Cone quantiles are ordered min <= p25 <= median <= p75 <= max and
    longer horizons have at least one window when the series is long
    enough."""
    from real_time_financial_lakehouse_spark.operators import finance

    rows = [
        (i, f"2024-01-01 {i // 60:02d}:{i % 60:02d}:00", 1, "A",
         10.0 + ((i * 7919) % 100) / 50.0, "{}")
        for i in range(120)
    ]
    out = finance.volatility_cones(_ticks(spark, rows)).collect()
    horizons = {r["horizon"] for r in out}
    assert horizons == {5, 20, 60}
    for r in out:
        assert r["rv_min"] <= r["rv_p25"] <= r["rv_median"] <= r["rv_p75"] <= r["rv_max"]


def test_benford_digit_at_power_of_ten_boundary(spark):
    """Values one double below a power of ten (log10 rounds UP to the
    integer) must land in digit 9, never digit 0 / division error; exact
    powers of ten land in digit 1."""
    from real_time_financial_lakehouse_spark.operators import profiling as pf

    vals = [999.9999999999999, 9.999999999999998, 1000.0, 1.0, 0.1]
    ev = _ticks(spark, [
        (i, "2024-01-01 00:00:00", 1, "A", v, "{}") for i, v in enumerate(vals)
    ])
    out = {r["digit"]: r["n_obs"] for r in pf.benford_check(ev).collect()}
    # the 1..9 spine always reports every digit; unobserved ones at 0
    assert out == {1: 3, 2: 0, 3: 0, 4: 0, 5: 0, 6: 0, 7: 0, 8: 0, 9: 2}


def test_return_autocorr_survives_zero_close_day(spark):
    """A day whose close is 0.0 cannot anchor the next day's return:
    the query must not raise (ANSI doubles) and the zero-anchored return
    drops out of the pair sample."""
    from real_time_financial_lakehouse_spark.operators import finance

    ev = _ticks(spark, [
        (1, "2024-01-01 12:00:00", 1, "A", 10.0, "{}"),
        (2, "2024-01-02 12:00:00", 1, "A", 0.0, "{}"),    # zero close
        (3, "2024-01-03 12:00:00", 1, "A", 12.0, "{}"),
        (4, "2024-01-04 12:00:00", 1, "A", 11.0, "{}"),
        (5, "2024-01-05 12:00:00", 1, "A", 13.0, "{}"),
    ])
    rows = finance.return_autocorr(ev).collect()   # must not raise
    assert len(rows) == 1 and rows[0]["n_pairs"] >= 1


def test_pq_sparse_codebook_stays_aligned(spark):
    """A codebook with a MISSING anchor id (vec_id 3 absent) must not
    shift LUT slots: anchor candidates still show ADC == exact, proving
    every lookup hits its own subspace slot."""
    import math

    from real_time_financial_lakehouse_spark.operators import similarity as sim

    def vec(seed):
        return [math.sin(seed * 31 + i) for i in range(64)]

    rows = [(i, vec(i), 0) for i in range(12) if i != 3]   # anchor 3 missing
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = sim.pq_adc_topk(emb, n_queries=1, k=11).collect()
    got = {r["neighbor_id"]: r for r in out}
    for nid in [1, 2, 4, 5, 6, 7]:          # present anchors: zero quant error
        assert got[nid]["adc_d2"] == got[nid]["exact_d2"], nid
