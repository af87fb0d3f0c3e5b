"""Measure what building a registered query does, instead of listing it.

``build_traced`` builds one query and returns, from the SQL status
store, the plan of every SQL execution the build ran: eager jobs, sink
writes and stream micro-batches (which run on the stream thread, outside
any caller job group).  ``profile=True`` also names the bench family:
a stream started -> ``streaming``; else files written -> ``table_io``;
else the first engine operator module entered, via ``MODULE_FAMILY``
(unmapped or none -> ``batch``).  As a script it writes
QUERY_TRAITS.json (``{name: family}``) from a fresh, warmed session at
sf0.001:  ``python scripts/query_traits.py``
"""

from __future__ import annotations

import json
import os
import re
import sys
from typing import NamedTuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TRAITS_PATH = os.path.join(ROOT, "QUERY_TRAITS.json")
OPERATORS = "real_time_financial_lakehouse_spark.operators."
MODULE_FAMILY = {"dedup": "dedup", "similarity": "ann", "text": "text", "multimodal": "text"}
# a micro-batch execution carries its stream's "id = ..., runId = ..." description
_STREAM_MARK = "runId = "
# a file-writing node: v1 file writes (CTAS included) and v2 sink writes
_WRITE_NODE = re.compile(
    r"^\(\d+\) (WriteFiles|AppendData|OverwriteByExpression|OverwritePartitionsDynamic)\b", re.M
)


class Trace(NamedTuple):
    df: object
    plans: list[str]  # physical plan of each SQL execution the build ran
    jobs: int  # Spark jobs under those executions
    family: str | None  # None unless built with profile=True


def build_traced(spark, fn, sf_dir: str, profile: bool = False) -> Trace:
    store = spark._jsparkSession.sharedState().statusStore()
    last = _newest_id(store)
    entered: list[str] = []

    def hook(frame, event, arg):
        module = frame.f_globals.get("__name__", "")
        if event == "call" and module.startswith(OPERATORS):
            entered.append(module[len(OPERATORS):])
            sys.setprofile(None)

    if profile:
        sys.setprofile(hook)
    try:
        df = fn(spark, sf_dir)
    finally:
        if profile:
            sys.setprofile(None)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    runs = _executions_after(store, last)
    plans = [e.physicalPlanDescription() for e in runs]
    family = None
    if profile:
        if any(_STREAM_MARK in (e.description() or "") for e in runs):
            family = "streaming"
        elif any(_WRITE_NODE.search(p) for p in plans):
            family = "table_io"
        else:
            family = MODULE_FAMILY.get(entered[0] if entered else "", "batch")
    return Trace(df, plans, sum(e.jobs().size() for e in runs), family)


def _newest_id(store) -> int:
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


def _executions_after(store, last: int) -> list:
    """Executions newer than ``last``, oldest first (the store is id-ordered)."""
    runs, n = [], store.executionsCount()
    while n and (e := store.executionsList(n - 1, 1).head()).executionId() > last:
        runs.append(e)
        n -= 1
    return runs[::-1]


def main() -> None:
    from __spark_entry__ import SMOKE_SF_DIR
    from real_time_financial_lakehouse_spark import registry
    from real_time_financial_lakehouse_spark.catalog import load_tables
    from real_time_financial_lakehouse_spark.session import get_spark

    spark = get_spark(app_name="query-traits", shuffle_partitions=8)
    for df in load_tables(spark, SMOKE_SF_DIR).values():
        df.count()
    traits = {name: build_traced(spark, registry.QUERIES[name], SMOKE_SF_DIR, profile=True).family
              for name in sorted(registry.QUERIES)}
    with open(TRAITS_PATH, "w") as f:
        json.dump(traits, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
