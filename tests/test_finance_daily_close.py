"""One daily-close rule for the finance layer.

A day's close is its last tick by (ts, event_id), optionally over
positive ticks only, and ``operators/finance.py`` builds it in exactly
one helper, ``_daily_closes``.  The fixtures have no same-(symbol, ts)
ties and no non-positive values, so parity runs cannot tell a drifted
tie-break or positive filter apart; the hand-made file below has both.
"""

from __future__ import annotations

import ast
from pathlib import Path

from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parents[1]
FINANCE = REPO / "real_time_financial_lakehouse_spark" / "operators" / "finance.py"


def _is_tick_key(node: ast.AST) -> bool:
    """A ``struct(...)`` call whose arguments name exactly ts, event_id."""
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "struct"
    ):
        return False
    names = [
        n.value
        for arg in node.args
        for n in ast.walk(arg)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    ]
    return names == ["ts", "event_id"]


def test_tick_order_key_is_spelled_once():
    tree = ast.parse(FINANCE.read_text())
    keys = [n.lineno for n in ast.walk(tree) if _is_tick_key(n)]
    assert len(keys) == 1, f"(ts, event_id) key built at lines {keys}"
    defs = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
    assert "_daily_closes" in defs
    assert not defs & {"_daily_close_dv", "_daily_ohlc"}


def _edge_case_events(path: str) -> None:
    """12 days of two symbols.  On day 3, A has two ticks at the same
    15:00 ts (the higher event_id, written first, is the close); on day
    5, A's last tick is non-positive (the positive-only close is the
    12:00 tick)."""
    import pandas as pd

    rows = []
    for sym_i, sym in enumerate(["A", "B"]):
        for d in range(1, 13):
            day = pd.Timestamp(f"2024-01-{d:02d}")
            eid = 1000 * sym_i + 10 * d
            close = 100.0 + 7.0 * ((d * (5 + sym_i)) % 11)
            rows.append((eid, day + pd.Timedelta(hours=10), sym, close - 3.0))
            if sym == "A" and d == 3:
                rows.append((eid + 2, day + pd.Timedelta(hours=15), sym, 40.0))
                rows.append((eid + 1, day + pd.Timedelta(hours=15), sym, 70.0))
            elif sym == "A" and d == 5:
                rows.append((eid + 1, day + pd.Timedelta(hours=12), sym, 55.0))
                rows.append((eid + 2, day + pd.Timedelta(hours=16), sym, -5.0))
            else:
                rows.append((eid + 1, day + pd.Timedelta(hours=15), sym, close))
    pd.DataFrame(
        [(e, ts, 1, s, v, None) for e, ts, s, v in rows],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    ).astype({"props": "string"}).to_parquet(path, index=False)


def _events(spark, tmp_path):
    from real_time_financial_lakehouse_spark.catalog import load_table

    _edge_case_events(str(tmp_path / "events.parquet"))
    return load_table(spark, str(tmp_path), "events")


def test_daily_closes_break_ties_by_event_id_and_skip_non_positive(spark, tmp_path):
    from real_time_financial_lakehouse_spark.operators.finance import _daily_closes

    ev = _events(spark, tmp_path)

    def closes(**kw):
        df = _daily_closes(ev, **kw).filter(F.col("symbol") == "A")
        return {r.d: r.c for r in df.select(F.dayofmonth("day").alias("d"), "c").collect()}

    every, positive = closes(), closes(positive_only=True)
    assert len(every) == len(positive) == 12
    assert every[3] == positive[3] == 40.0
    assert every[5] == -5.0 and positive[5] == 55.0
    extra = _daily_closes(ev, F.count(F.lit(1)).alias("n_ticks"))
    assert extra.columns == ["symbol", "day", "c", "n_ticks"]


def test_close_consumers_match_twins_on_edge_case_ticks(spark, tmp_path):
    """ulcer_index closes over every tick, historical_var_cvar over the
    positive ticks only; both must equal their DuckDB twin on a file
    that exercises the tie-break and the positive filter."""
    import duckdb

    from real_time_financial_lakehouse_spark.operators.finance import (
        historical_var_cvar,
        ulcer_index,
    )
    from real_time_financial_lakehouse_spark.oracle import compare_frames
    from real_time_financial_lakehouse_spark.registry import ORACLE_SQL

    ev = _events(spark, tmp_path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path / 'events.parquet'}')"
    )
    for op in (ulcer_index, historical_var_cvar):
        twin = con.execute(ORACLE_SQL[op.__name__]).fetchdf()
        got = op(ev).toPandas()
        assert len(got) == 2, op.__name__
        assert compare_frames(got, twin) == [], op.__name__
