"""Round-14 optimization equivalence tests.

Every test here pins an optimization's correctness claim:

* the four indicators newly converted to ``_chunked_trailing`` (atr,
  stochastic_oscillator, williams_r, mfi) must be row-identical with
  aggressive chunk seams vs the degenerate one-chunk shape (which IS the
  old plain per-symbol window: one partition per key, same frames);
* bm25_search's one-pass rewrite keeps the no-corpus-rejoin plan shape;
* intra_label_cosine_dispersion's single-explode shape has no
  higher-order-function fallback nodes and one corpus aggregate.
"""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F

from real_time_financial_lakehouse_spark.operators import finance


def _synthetic_events(spark, n_minutes: int = 240, symbols=("AAA", "BBB")):
    """Minute-spaced synthetic tape: enough bars per symbol that a
    chunk_rows in the 20s forces many carry seams, with irregular
    prices so min/max/lag paths all exercise real variation."""
    base = datetime.datetime(2031, 1, 1)
    rows = []
    eid = 0
    for s_i, sym in enumerate(symbols):
        for m in range(n_minutes):
            # two trades per minute so high != low inside a bar
            for j in range(2):
                price = 50.0 + ((m * 37 + j * 11 + s_i * 5) % 101) / 7.0
                rows.append(
                    (
                        eid,
                        sym,
                        base + datetime.timedelta(minutes=m, seconds=j * 10),
                        price,
                        json.dumps({"k": float((m * 13 + j) % 7 + 1)}),
                    )
                )
                eid += 1
    return spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double, props string"
    )


def _force_chunk(monkeypatch, chunk_rows: int):
    """Re-default _chunked_trailing's block size so the indicator under
    test runs with forced seams (or degenerates to one chunk per key)."""
    orig = finance._chunked_trailing.__wrapped__ if hasattr(
        finance._chunked_trailing, "__wrapped__"
    ) else finance._chunked_trailing

    forced = chunk_rows

    def wrapper(df, part_cols, order_cols, max_h, chunk_rows=4096, **kw):  # noqa: ARG001
        return orig(df, part_cols, order_cols, max_h, chunk_rows=forced, **kw)

    monkeypatch.setattr(finance, "_chunked_trailing", wrapper)


def _rows_key(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "fn",
    [
        lambda ev: finance.atr(ev, n=14),
        lambda ev: finance.stochastic_oscillator(ev, n=14, d=3),
        lambda ev: finance.williams_r(ev, n=14),
        lambda ev: finance.mfi(ev, n=14),
    ],
    ids=["atr", "stochastic", "williams_r", "mfi"],
)
def test_chunked_indicators_are_seam_exact(spark, monkeypatch, fn):
    ev = _synthetic_events(spark)
    _force_chunk(monkeypatch, 23)  # > max_h (<= 16 here); many seams at 240 bars
    seamed = _rows_key(fn(ev))
    _force_chunk(monkeypatch, 10**9)  # one chunk per key == plain window
    plain = _rows_key(fn(ev))
    assert seamed == plain
    assert len(plain) > 0
    # the full-window prefix convention must survive chunking: either
    # the first n-1 bars emit NULL for the frame-guarded column (atr,
    # stochastic, mfi) or they are filtered out entirely (williams_r
    # drops rows whose channel is not full) -- both mean the output is
    # strictly smaller than bars x emitted-everywhere
    nulls = [r for r in plain if r[-1] is None]
    assert len(nulls) > 0 or len(plain) < 2 * 240


def test_chunked_indicator_plans_show_block_partitioning(spark):
    """The converted indicators must window by (symbol, __chunk), not by
    the bare symbol -- the whole point of the conversion."""
    ev = _synthetic_events(spark, n_minutes=30)
    for fn in (
        lambda e: finance.atr(e),
        lambda e: finance.stochastic_oscillator(e),
        lambda e: finance.williams_r(e),
        lambda e: finance.mfi(e),
    ):
        plan = fn(ev)._jdf.queryExecution().executedPlan().toString()
        assert "__chunk" in plan


def test_chunked_trailing_rejects_small_blocks():
    with pytest.raises(ValueError, match="chunk_rows"):
        finance._chunked_trailing(None, ["k"], ["i"], max_h=10, chunk_rows=10)


def test_bm25_one_pass_plan(spark, sf_dir):
    """bm25_search tokenizes the corpus once, lazily: its two consumers
    (the one-row N/avgdl/df marginal and the per-doc scoring) read every
    column of the per-doc aggregate, so AQE reuses that one shuffle --
    exactly one Generate explode in the final plan, no lineage cut, and
    the only join is the broadcast of the marginal row."""
    from real_time_financial_lakehouse_spark.catalog import load_table
    from real_time_financial_lakehouse_spark.operators.text import bm25_search

    docs = load_table(spark, sf_dir, "documents")
    df = bm25_search(docs)
    df.collect()  # AQE: reuse decisions only exist in the FINAL plan
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    ).split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("Generate explode") == 1
    assert "ReusedExchange" in plan
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan
    assert "TakeOrderedAndProject" in plan


def test_intra_label_dispersion_no_hof_fallback(spark, sf_dir):
    """The r14 single-explode shape: no interpreted higher-order fold on
    the corpus path (transform/aggregate lambdas are CodegenFallback)
    except the per-row norm fold, and exactly one posexplode pass."""
    from real_time_financial_lakehouse_spark.catalog import load_table
    from real_time_financial_lakehouse_spark.operators.similarity import (
        intra_label_cosine_dispersion,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    plan = (
        intra_label_cosine_dispersion(emb)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("posexplode") == 1
    # the narrow (label, pos) aggregate exists ...
    assert "hashpartitioning(label" in plan
    # ... and the corpus-cardinality (label, vec_id) shape is gone for
    # good: nothing reads vec_id at all (column pruning reaches the scan)
    assert "vec_id" not in plan
