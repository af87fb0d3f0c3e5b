"""Count the generated classes a query list compiles, to size Spark's
codegen cache (``session.CODEGEN_CACHE_ENTRIES``).  Runs every query twice
in one ``get_spark`` session, built afresh and executed to ``noop``, and
prints compiles per query per pass, the first-pass total (the working
set) and the metaspace used after a GC.  The default list is every query
outside QUERY_TRAITS.json's ``streaming`` and ``table_io`` families; a
query that compiles on its second pass builds a different plan each run.

    python scripts/codegen_census.py [NAME ...] [--sf /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

def metaspace_used_mb(spark) -> float:
    """Metaspace used by this script's own JVM after a full GC, via jcmd."""
    pid = str(spark._jvm.java.lang.ProcessHandle.current().pid())
    subprocess.run(["jcmd", pid, "GC.run"], check=True, capture_output=True)
    info = subprocess.run(["jcmd", pid, "GC.heap_info"], check=True, capture_output=True, text=True)
    return int(re.search(r"Metaspace\s+used (\d+)K", info.stdout).group(1)) / 1024

def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()
    from real_time_financial_lakehouse_spark import registry
    from real_time_financial_lakehouse_spark.session import get_spark

    with open(os.path.join(ROOT, "QUERY_TRAITS.json")) as f:
        traits = json.load(f)
    names = args.names or [n for n, fam in traits.items() if fam not in ("streaming", "table_io")]
    spark = get_spark(app_name="codegen-census")
    spark.sparkContext.setLogLevel("ERROR")
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    totals = []
    for k in (1, 2):
        per_query = {}
        for name in names:
            c0 = compiles.getCount()
            registry.QUERIES[name](spark, args.sf).write.format("noop").mode("overwrite").save()
            per_query[name] = compiles.getCount() - c0
        totals.append(sum(per_query.values()))
        print(json.dumps({"pass": k, "compiles": per_query}), flush=True)
    print(json.dumps({"queries": len(names), "cap": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
                      "working_set": totals[0], "second_pass": totals[1],
                      "metaspace_used_mb": round(metaspace_used_mb(spark), 1)}))


if __name__ == "__main__":
    main()
