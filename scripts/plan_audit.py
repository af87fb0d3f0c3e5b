"""Automated physical-plan antipattern sweep over the whole registry.

Every registered query is built once through ``query_traits.build_traced``;
its optimized + physical plan and the plan of every SQL execution its
build ran (eager fits, sink writes, stream micro-batches) are audited for
the shapes that do not survive 100x scale:

* row-at-a-time Python UDFs (``BatchEvalPython``) anywhere;
* ``CartesianProduct`` (a non-broadcast cross join -- every intended
  cross join in the engine is a broadcast of a scalar/tiny frame);
* GLOBAL window functions (``windowspecdefinition`` with an empty
  partition spec -- WindowExec moves every row to ONE partition, the
  classic corpus-cardinality scale-killer).  Queries whose global
  window provably runs at bounded cardinality (vocabulary / cell /
  state / group-count frames, never per-row) are whitelisted by name
  with the justification inline;
* an empty output schema.

Writes PLAN_AUDIT.json (with each build's SQL executions and jobs);
exits non-zero on any flagged query.  tests/test_plan_coverage.py runs
``audit`` on every query.

    python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from query_traits import ROOT, Trace, build_traced  # noqa: E402

# queries whose empty-partition-spec window is justified: the frame
# under the window is bounded (vocabulary / sketch-cell / group-count
# cardinality), never the corpus -- or the query is the documented
# exact small-sf referee of a registered sketch twin.  Every entry
# carries (expected_global_window_count, reason): the count is the
# number of empty-partition-spec windowspecdefinitions in the
# optimized plan as of the round-11 pin, so a regression INSIDE a
# whitelisted query (a new corpus-cardinality global window sneaking
# in next to the justified one) still trips the audit instead of
# hiding behind the name (round-10 advisor finding).  Anything NOT
# listed that grows a global window fails outright.
_GLOBAL_WINDOW_ALLOWED: dict[str, tuple[int, str]] = {
    "vocab_coverage": (2, "running share window runs AFTER the top-N cut (topn rows)"),
    "token_length_histogram": (2, "cumulative window at length-bucket cardinality"),
    "zipf_fit": (1, "rank at min_freq-truncated vocabulary cardinality (documented precedent)"),
    "ngram_coverage_curve": (1, "coverage curve at vocabulary cardinality (zipf_fit precedent)"),
    "mutual_information_profile": (3, "windows at contingency-cell cardinality (r9 design note)"),
    "mixture_sample": (1, "audit-sheet windows at stratum(lang) cardinality (~5 rows)"),
    "token_budget_mixture": (2, "ordering window over per-lang strata (handful of rows)"),
    "funnel_counts": (2, "lag over the per-stage union (len(stages) rows)"),
    "hybrid_rrf_search": (2, "rank windows over per-retriever top-k lists (tens of rows)"),
    "copurchase_pairs": (1, "rank stamp over the topn-row TakeOrdered output"),
    "quality_deciles": (1, "exact NTILE referee of quality_deciles_approx; docstring "
                           "documents the corpus-sort cost, 100 TB path is the approx twin"),
    "customer_rfm": (3, "exact-tile referee of customer_rfm_approx over the aggregated "
                        "customer frame; 100 TB path is the approx twin"),
    "revenue_gini": (2, "rank-sum needs a total order (documented); runs at "
                        "customer cardinality after partial agg"),
    "t_closeness_report": (2, "global cum + global total over the posexploded "
                              "(|lang x source| x n_bins)-row histogram frame"),
}


def _global_window_specs(plan: str) -> int:
    """Count windowspecdefinition(...) occurrences whose partition spec
    is EMPTY: every top-level argument before the trailing
    specifiedwindowframe(...) is an order key (`expr ASC|DESC ...`).
    Balanced-paren parse, so expression-valued keys are classified
    correctly."""
    n_global = 0
    i = 0
    marker = "windowspecdefinition("
    while True:
        j = plan.find(marker, i)
        if j < 0:
            return n_global
        k = j + len(marker)
        depth = 1
        args, cur = [], []
        while k < len(plan) and depth > 0:
            c = plan[k]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            elif c == "," and depth == 1:
                args.append("".join(cur).strip())
                cur = []
                k += 1
                continue
            cur.append(c)
            k += 1
        args.append("".join(cur).strip())
        i = k
        keys = [a for a in args if not a.startswith("specifiedwindowframe")]
        if all(" ASC" in a or " DESC" in a for a in keys):
            n_global += 1


def audit(name: str, trace: Trace) -> dict:
    """Scale flags for one traced build: its build-time plans and its
    final optimized + physical plan."""
    qe = trace.df._jdf.queryExecution()
    optimized = qe.optimizedPlan().toString()
    executed = qe.executedPlan().toString()
    plans = [optimized + executed, *trace.plans]
    flags = []
    if not trace.df.columns:
        flags.append("empty-schema")
    if any("CartesianProduct" in p for p in plans):
        flags.append("cartesian-product")
    # ArrowEvalPython / MapInPandas / mapInArrow are the blessed
    # vectorized boundaries; BatchEvalPython is row-at-a-time
    if any("BatchEvalPython" in p for p in plans):
        flags.append("row-at-a-time-python")
    n_glob = _global_window_specs(optimized)
    max_n = _GLOBAL_WINDOW_ALLOWED.get(name, (0, ""))[0]
    if n_glob > max_n:
        flags.append(f"global-window:{n_glob}>{max_n}")
    return {
        "build_executions": len(trace.plans),
        "build_jobs": trace.jobs,
        "exchanges": executed.count("Exchange "),
        "flags": flags,
    }


def main() -> int:
    from __spark_entry__ import SMOKE_SF_DIR
    from real_time_financial_lakehouse_spark import registry
    from real_time_financial_lakehouse_spark.catalog import load_tables
    from real_time_financial_lakehouse_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SMOKE_SF_DIR
    spark = get_spark(app_name="plan-audit", shuffle_partitions=8)
    for df in load_tables(spark, sf_dir).values():
        df.count()
    report: dict[str, object] = {}
    for name in sorted(registry.QUERIES):
        try:
            report[name] = audit(name, build_traced(spark, registry.QUERIES[name], sf_dir))
        except Exception as ex:  # noqa: BLE001
            report[name] = f"EXC: {type(ex).__name__}: {ex}"[:300]
    with open(os.path.join(ROOT, "PLAN_AUDIT.json"), "w") as f:
        json.dump({"sf_dir": sf_dir, "results": report}, f, indent=1)
    flagged = {k: v if isinstance(v, str) else v["flags"]
               for k, v in report.items() if isinstance(v, str) or v["flags"]}
    print(f"audited {len(report)} queries; flagged {len(flagged)}")
    for k, v in flagged.items():
        print(f"  {k}: {v}")
    spark.stop()
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
