"""Per-query micro-bench for optimization A/Bs: the exact bench.py
protocol (fresh construction per rep, noop sink, median) on a named
subset of queries, so a single query can be re-measured in seconds
instead of re-running the whole inventory.

    python scripts/micro_bench.py bm25_search intra_label_cosine_dispersion \
        --sf /root/testdata/sf0.1 --reps 5

Honors $SPARK_GRAFT_CPUS exactly like bench.py (local[N] master +
shuffle partitions), so 8-core vs 32-core scaling checks are one env
var away.  Prints one JSON line per query with every rep, the median,
and the min; optionally writes the formatted plan next to --plan-dir.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="+", help="query names from the registry")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--plan-dir", default=None,
                    help="also dump explain('formatted') per query here")
    ap.add_argument("--plan-suffix", default="",
                    help="suffix for plan file names, e.g. _before")
    args = ap.parse_args()

    from real_time_financial_lakehouse_spark import registry
    from real_time_financial_lakehouse_spark.session import get_spark

    from bench import time_reps, warm_up

    spark = get_spark(app_name="micro-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # Same one-time warm-up as bench.py so rep medians measure the plan.
    warm_up(spark, args.sf)

    out = {}
    for name in args.names:
        fn = registry.QUERIES[name]
        spark.sparkContext.setJobDescription(f"micro-bench: {name}")
        runs = time_reps(spark, fn, args.sf, args.reps)
        out[name] = {
            "median": round(statistics.median(runs), 3),
            "min": min(runs),
            "reps": runs,
        }
        print(json.dumps({name: out[name]}), flush=True)
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(
                args.plan_dir, f"{name}{args.plan_suffix}.txt"
            )
            with open(path, "w") as f:
                f.write(plan)
    spark.stop()
    print(json.dumps({"cpus": os.environ.get("SPARK_GRAFT_CPUS"),
                      "sf": args.sf, "summary": {k: v["median"] for k, v in out.items()}}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
