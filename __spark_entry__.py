"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship gold-rollup query at sf0.001;
``queries()`` / ``oracle_sql()`` expose the SURVEY section-2 operator
inventory implemented in ``real_time_financial_lakehouse_spark`` with
DuckDB-oracle SQL twins.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from real_time_financial_lakehouse_spark import registry
from real_time_financial_lakehouse_spark.catalog import load_table
from real_time_financial_lakehouse_spark.operators.rollup import events_market_summary

SMOKE_SF_DIR = "/root/testdata/sf0.001"

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = load_table(spark, SMOKE_SF_DIR, "events")
    return events_market_summary(events)

def _round(path: Path) -> int:
    return int(path.stem.removeprefix("CORRECTNESS_r"))

def correctness_files() -> list[Path]:
    """The committed driver results beside this file, oldest round first."""
    files = Path(__file__).resolve().parent.glob("CORRECTNESS_r*.json")
    return sorted(files, key=_round)

def driver_order(
    names: Iterable[str], files: Iterable[Path] | None = None
) -> list[str]:
    """Order ``names`` for the driver, which hash-checks only the first 50.

    A query is green in a round when its row there has ``hash_match`` true
    and no ``err``.  Never-green queries come first, in the given order;
    the rest follow from the oldest last-green round to the newest, ties
    broken by position in that round's file (the driver's own order).
    """
    last_green: dict[str, tuple[int, int]] = {}
    for path in correctness_files() if files is None else files:
        for pos, (name, row) in enumerate(json.loads(path.read_text()).items()):
            if row.get("hash_match") is True and row.get("err") is None:
                last_green[name] = (_round(path), pos)
    names = list(names)
    never = [n for n in names if n not in last_green]
    green = sorted((n for n in names if n in last_green), key=last_green.__getitem__)
    return never + green

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, stalest driver check first (``driver_order``)."""
    return {n: registry.QUERIES[n] for n in driver_order(registry.QUERIES)}

def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each oracle-checkable query, in
    the same order as ``queries()``."""
    return {n: registry.ORACLE_SQL[n] for n in driver_order(registry.QUERIES)
            if n in registry.ORACLE_SQL}
