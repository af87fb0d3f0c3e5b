"""Compare two BENCH_FULL.json per-query maps (e.g. the r13 freeze vs
the r14 end-of-round run): canary-adjusted movers table + geomean.

    python scripts/bench_compare.py OLD.json NEW.json [--thresh 1.10]
"""

from __future__ import annotations

import argparse
import json
import math


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--thresh", type=float, default=1.10)
    args = ap.parse_args()
    o = json.load(open(args.old))
    n = json.load(open(args.new))
    oq, nq = o["queries"], n["queries"]
    ocan = (o.get("canary") or {}).get("ratio") or o.get("canary_ratio") or 1.0
    ncan = (n.get("canary") or {}).get("ratio") or n.get("canary_ratio") or 1.0
    adj = (ncan or 1.0) / (ocan or 1.0)  # >1: new host slower
    common = sorted(set(oq) & set(nq))
    logs = []
    movers = []
    for q in common:
        if oq[q] <= 0 or nq[q] <= 0:
            continue
        r = nq[q] / oq[q]
        logs.append(math.log(r))
        r_adj = r / adj
        if r_adj >= args.thresh or r_adj <= 1 / args.thresh:
            movers.append((r_adj, q, oq[q], nq[q]))
    print(f"common={len(common)} old_total={o['value']} new_total={n['value']}")
    print(f"canary old={ocan} new={ncan} host_adj={adj:.4f}")
    if logs:
        gm = math.exp(sum(logs) / len(logs))
        print(f"raw geomean new/old = {gm:.4f}; canary-adjusted = {gm/adj:.4f}")
    else:
        print("no common queries")
    print(f"\nmovers (canary-adjusted ratio beyond {args.thresh}x):")
    for r_adj, q, a, b in sorted(movers):
        print(f"  {r_adj:6.2f}x  {q}: {a:.3f} -> {b:.3f}")
    only_old = sorted(set(oq) - set(nq))
    only_new = sorted(set(nq) - set(oq))
    if only_old:
        print("only in old:", only_old)
    if only_new:
        print("only in new:", only_new)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
