"""The driver's first-50 window, derived from the committed CORRECTNESS files.

No Spark session is needed: ``driver_order`` only reads the JSON files
beside ``__spark_entry__.py`` and the registry's names.
"""

from __future__ import annotations

import json

import __spark_entry__ as e
from real_time_financial_lakehouse_spark import registry

WINDOW = 50


def _round(path) -> int:
    return int(path.stem.removeprefix("CORRECTNESS_r"))


def _keys(rnd: int) -> list[str]:
    (path,) = [p for p in e.correctness_files() if _round(p) == rnd]
    return list(json.loads(path.read_text()))


def test_r13_files_reproduce_the_r14_window():
    # The r14 window was written by hand from the r01..r13 results; the
    # rule must rebuild it.  Its first 14 slots were never-checked names,
    # whose relative order the rule leaves to registration order.
    files = [p for p in e.correctness_files() if _round(p) <= 13]
    got = e.driver_order(registry.QUERIES, files)[:WINDOW]
    want = _keys(14)
    assert got[14:] == want[14:]
    assert set(got[:14]) == set(want[:14])


def test_queries_and_oracles_share_one_order():
    names = list(e.queries())
    assert sorted(names) == sorted(registry.QUERIES)
    assert len(names) == len(registry.QUERIES) == 383
    assert list(e.oracle_sql()) == [n for n in names if n in registry.ORACLE_SQL]
    assert len(e.oracle_sql()) == 383


def test_window_takes_the_stalest_names_first():
    # Rank each name by its last green round (0 = never green): no name
    # inside the window may be fresher than any name left outside it.
    last_green = {}
    for path in e.correctness_files():
        for name, row in json.loads(path.read_text()).items():
            if row["hash_match"] is True and row["err"] is None:
                last_green[name] = _round(path)
    ranks = [last_green.get(n, 0) for n in e.queries()]
    assert max(ranks[:WINDOW]) <= min(ranks[WINDOW:])


def test_only_hash_matched_error_free_rows_count_as_green(tmp_path):
    def row(hash_match, err=None):
        return {"hash_match": hash_match, "err": err}

    r1 = {"a": row(True), "b": row(False), "c": row(None, "TypeError")}
    r2 = {"d": row(True)}
    files = []
    for rnd, rows in ((1, r1), (2, r2)):
        path = tmp_path / f"CORRECTNESS_r{rnd:02d}.json"
        path.write_text(json.dumps(rows))
        files.append(path)
    # never-green names first in the given order, then oldest green
    assert e.driver_order(["d", "c", "b", "a", "e"], files) == ["c", "b", "e", "a", "d"]
