"""The benchmark's two closed-loop workloads, each one driver thread
issuing one operation at a time into the engine's public functions.

* ``llm_data_queries``: one pass runs every query of the mix once, in an
  order drawn from the seed; each query is built with
  ``registry.QUERIES[name](spark, sf_dir)`` and executed to the ``noop``
  sink.
* ``medallion_stream``: one pass drains the seeded trade tape through
  bronze (``json_file_source`` -> ``write_bronze``), silver
  (``run_silver_stream`` with the model fitted at set-up as ``infer``) and
  a gold refresh (``gold_market_summary`` over the silver table).

Every workload first runs an output-check pass and then WARM_PASSES
unmeasured passes; their CPU counts in ``setup_s``, the checks' own
does not.  A traced run
interleaves untraced and traced passes, so the per-layer numbers and the
tracing overhead come from one process.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

from . import data
from .stats import Tally, median
from .trace import Tracer, catalyst_phases_ms, job_group_stats, progress_span_times

LLM_MIX = (
    "event_pagerank",
    "bm25_search",
    "cosine_topk",
    "dedup_exact",
)
# Passes after the output check before measuring starts: the first pass
# of a run is several times slower than later ones (JIT, the engine's
# memos), the second still noticeably.
WARM_PASSES = 1
# Fewer passes when the host is slow keep a run short; the CPU of one pass
# varies by 5-10% within a run, far less than from run to run.
MIN_PASSES = 2
TAPE_FILES = 4
TAPE_ROWS_PER_FILE = 2000
# Each late event lands alone in its two sliding windows (one minute long,
# sliding by 30 s); the stateful operator drops it once per window each
# time the micro-batch plan runs.  The silver foreachBatch callback runs
# that plan more than once (``isEmpty()`` and then the write), so the
# watermark's drop count is at least, not exactly, this many per event.
WINDOWS_PER_EVENT = 2
# Silver doubles are rounded to 6 places on both sides; sums taken in a
# different order can land on either side of a rounding boundary, which
# moves the result by one unit of the sixth place.
VALUE_TOLERANCE = 1.5e-6

OPERATOR_KEYS = (
    "build_s",
    "build_jobs",
    "analysis_ms",
    "optimization_ms",
    "planning_ms",
    "exec_s",
    "exec_jobs",
    "stages",
    "tasks",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)
BRONZE_PHASES = ("addBatch", "walCommit", "commitOffsets")
SILVER_PHASES = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")

@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: Tracer
    traced: bool
    spark_start_s: float  # SparkSession (and JVM) start, part of every set-up
    cpu_s: Callable[[], float]  # CPU seconds used so far by the JVM's working threads and this process
    tally: Tally = field(default_factory=Tally)
    untimed_cpu_s: float = 0.0  # CPU spent making inputs and checking outputs, left out of set-up

@dataclass
class Outcome:
    setup_s: float  # CPU seconds from JVM launch to the end of the warm-up
    setup_wall_s: float
    plain: list[dict]  # untraced passes: wall_s, cpu_s, ops_ms, ops_cpu_ms (by operation)
    detail: dict  # the workload's own figures, by name
    layers: dict[str, float] = field(default_factory=dict)  # traced run only
    traced_passes_s: list[float] = field(default_factory=list)

@contextmanager
def untimed(ctx: Context):
    """Leave the CPU of the block (input generation, output checks) out
    of ``setup_s``."""
    c0 = ctx.cpu_s()
    try:
        yield
    finally:
        ctx.untimed_cpu_s += ctx.cpu_s() - c0

def _setup_cpu_s(ctx: Context) -> float:
    return ctx.cpu_s() - ctx.untimed_cpu_s

def _passes(ctx: Context, run_pass) -> tuple[list, list]:
    """Closed loop: run passes until ``ctx.seconds`` have elapsed, at least
    MIN_PASSES.  A traced run interleaves untraced
    and traced passes in the order U T T U (repeated, at least once
    through), so drift across the run, such as the JIT still warming up,
    cancels out of the overhead.  Returns (untraced results, traced
    results)."""
    plain, traced = [], []
    deadline = time.perf_counter() + ctx.seconds
    k = 0
    while k < (4 if ctx.traced else MIN_PASSES) or time.perf_counter() < deadline:
        ctx.tracer.enabled = ctx.traced and k % 4 in (1, 2)
        (traced if ctx.tracer.enabled else plain).append(run_pass(k))
        k += 1
    ctx.tracer.enabled = False
    return plain, traced

def _run_operator(ctx: Context, name: str, build, sink, sums: dict | None) -> float:
    """Build one DataFrame and execute it into ``sink``; returns seconds.
    Traced, it also splits the time into build/plan/exec spans and adds the
    layer counters of each to ``sums``."""
    tracer = ctx.tracer
    if not tracer.enabled:
        t0 = time.perf_counter()
        sink(build())
        return time.perf_counter() - t0
    sc = ctx.spark.sparkContext
    group = f"{name}#{len(tracer.spans)}"
    t0 = time.perf_counter()
    with tracer.span("query", query=name):
        with tracer.span("build") as attrs:
            sc.setJobGroup(group + "/build", name)
            df = build()
            build_s = time.perf_counter() - t0
            built = job_group_stats(sc, group + "/build")
            attrs.update(built)
        with tracer.span("plan") as attrs:
            phases = catalyst_phases_ms(df)
            attrs.update(phases)
        with tracer.span("exec") as attrs:
            t1 = time.perf_counter()
            sc.setJobGroup(group + "/exec", name)
            sink(df)
            exec_s = time.perf_counter() - t1
            ran = job_group_stats(sc, group + "/exec")
            attrs.update(ran)
        sc.setLocalProperty("spark.jobGroup.id", None)
    if sums is not None:
        sums["build_s"] += build_s
        sums["build_jobs"] += built["jobs"]
        sums["exec_s"] += exec_s
        sums["exec_jobs"] += ran["jobs"]
        for phase, ms in phases.items():
            sums[f"{phase}_ms"] += ms
        for key in ("stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            sums[key] += built[key] + ran[key]
    return time.perf_counter() - t0

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()

def _layer_medians(per_pass: list[dict], prefix: str) -> dict[str, float]:
    return {f"{prefix}{k}": median([p[k] for p in per_pass]) for k in per_pass[0]} if per_pass else {}

# --- query mixes -------------------------------------------------------------

def run_mix(ctx: Context, names: tuple[str, ...]) -> Outcome:
    from real_time_financial_lakehouse_spark import registry
    from real_time_financial_lakehouse_spark.catalog import load_tables
    from real_time_financial_lakehouse_spark.oracle import compare_frames, run_oracle

    spark = ctx.spark
    sf_dir = data.FIXTURE_DIR

    t0 = time.perf_counter()
    load_tables(spark, sf_dir)
    catalog_s = time.perf_counter() - t0

    # The check pass: each query's rows against its DuckDB twin
    # (oracle.check_query's comparison); only the Spark side is set-up.
    t_warm = time.perf_counter()
    for name in names:
        try:
            got = registry.QUERIES[name](spark, sf_dir).toPandas()
        except Exception as exc:  # a failing query is a failed operation
            ctx.tally.record(False, f"{name}: {exc!r}"[:400])
            continue
        with untimed(ctx):
            t0 = time.perf_counter()
            problems = compare_frames(got, run_oracle(registry.ORACLE_SQL[name], sf_dir))
            t_warm += time.perf_counter() - t0
        ctx.tally.record(not problems, f"{name}: {problems[:1]}")

    rng = random.Random(ctx.seed)

    def run_pass(k) -> dict:
        order = rng.sample(names, len(names))
        sums = dict.fromkeys(OPERATOR_KEYS, 0)
        ops, ops_cpu = [], {}
        t0, c0 = time.perf_counter(), ctx.cpu_s()
        with ctx.tracer.span("pass", k=k, order=order):
            for name in order:
                c1 = ctx.cpu_s()
                try:
                    op_s = _run_operator(
                        ctx, name, functools.partial(registry.QUERIES[name], spark, sf_dir), _noop, sums
                    )
                except Exception as exc:
                    ctx.tally.record(False, f"{name}: {exc!r}"[:400])
                    continue
                ctx.tally.record(True)
                ops.append(op_s * 1000.0)
                ops_cpu[name] = (ctx.cpu_s() - c1) * 1000.0
        return {
            "wall_s": time.perf_counter() - t0,
            "cpu_s": ctx.cpu_s() - c0,
            "ops_ms": ops,
            "ops_cpu_ms": ops_cpu,
            "sums": sums,
        }

    for _ in range(WARM_PASSES):
        run_pass("warm")
    warm_s = time.perf_counter() - t_warm
    setup_s = _setup_cpu_s(ctx)
    plain, traced = _passes(ctx, run_pass)
    outcome = Outcome(
        setup_s=setup_s,
        setup_wall_s=ctx.spark_start_s + catalog_s + warm_s,
        plain=plain,
        detail={"mix_queries": len(names), "catalog_s": catalog_s, "warmup_s": warm_s},
        traced_passes_s=[p["wall_s"] for p in traced],
    )
    if traced:
        outcome.layers = {"catalog.load_s": catalog_s, **_layer_medians([p["sums"] for p in traced], "operators.")}
    return outcome

# --- medallion stream --------------------------------------------------------

def trades_view(df):
    """Trade rows as the silver aggregation reads them: symbol as
    ``event_type``, price as ``value``, the ISO string cast to ``ts``."""
    from pyspark.sql import functions as F

    return df.select(
        F.col("symbol").alias("event_type"),
        F.col("price").alias("value"),
        F.col("timestamp").cast("timestamp").alias("ts"),
    )

def read_trades(spark, path: str):
    """Batch view of trade JSON lines, parsed against ``TRADE_SCHEMA``."""
    from real_time_financial_lakehouse_spark.schemas import TRADE_SCHEMA

    return trades_view(spark.read.schema(TRADE_SCHEMA).json(path))

def run_stream(ctx: Context) -> Outcome:
    from real_time_financial_lakehouse_spark.ml.regression import fit_once, infer_with_fallback
    from real_time_financial_lakehouse_spark.operators.silver import sliding_window_agg

    spark = ctx.spark
    tape_dir = os.path.join(ctx.work, "tape")
    with untimed(ctx):
        tape = data.make_tape(ctx.seed, TAPE_FILES, TAPE_ROWS_PER_FILE)
        data.write_tape(tape, tape_dir)

    t0 = time.perf_counter()
    tape_table = read_trades(spark, tape_dir)
    catalog_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    model = fit_once(spark, f"perfbench-tape-{ctx.seed}", sliding_window_agg(tape_table))
    fit_s = time.perf_counter() - t0
    infer = functools.partial(infer_with_fallback, model)

    warm = _stream_pass(ctx, "check", tape_dir, infer)
    if warm is not None:
        with untimed(ctx):
            _check_stream(ctx, tape, warm)
            shutil.rmtree(warm["dir"], ignore_errors=True)

    def run_pass(k):
        result = _stream_pass(ctx, k, tape_dir, infer)
        if result is not None:
            shutil.rmtree(result["dir"], ignore_errors=True)
        return result

    warm_s = sum(p["wall_s"] for p in [warm, *(run_pass("warm") for _ in range(WARM_PASSES))] if p is not None)
    setup_s = _setup_cpu_s(ctx)
    plain, traced = _passes(ctx, run_pass)
    plain = [p for p in plain if p is not None]
    traced = [p for p in traced if p is not None]
    outcome = Outcome(
        setup_s=setup_s,
        setup_wall_s=ctx.spark_start_s + catalog_s + fit_s + warm_s,
        plain=plain,
        detail={
            "tape_rows": tape.rows,
            "late_rows": tape.late_rows,
            "gold_s": median([p["gold_s"] for p in plain]) if plain else None,
            "catalog_s": catalog_s,
            "fit_s": fit_s,
            "warmup_s": warm_s,
        },
        traced_passes_s=[p["wall_s"] for p in traced],
    )
    if traced:
        outcome.layers = {
            "catalog.load_s": catalog_s,
            "ml.fit_s": fit_s,
            **_layer_medians([p["sums"] for p in traced], "operators."),
            **_phase_medians(traced, "bronze", BRONZE_PHASES),
            **_phase_medians(traced, "silver", SILVER_PHASES),
            **_layer_medians([_state_figures(p["silver"]) for p in traced], "streaming.silver."),
            "rollup.gold_jobs": median([p["sums"]["build_jobs"] + p["sums"]["exec_jobs"] for p in traced]),
            "rollup.gold_shuffle_bytes": median([p["sums"]["shuffle_write_bytes"] for p in traced]),
        }
    return outcome

def _stream_pass(ctx: Context, k, tape_dir: str, infer) -> dict | None:
    """Drain the tape through bronze, silver and gold into fresh tables and
    checkpoints.  Returns the pass's timings and progress records, or None
    (counted as failed) when a stage raises."""
    from real_time_financial_lakehouse_spark.operators.rollup import gold_market_summary
    from real_time_financial_lakehouse_spark.schemas import TRADE_SCHEMA
    from real_time_financial_lakehouse_spark.streaming import bronze, silver

    spark, tracer = ctx.spark, ctx.tracer
    root = os.path.join(ctx.work, f"pass-{k}")
    paths = {p: os.path.join(root, p) for p in ("bronze", "bronze_ck", "silver", "silver_ck", "gold")}
    sums = dict.fromkeys(OPERATOR_KEYS, 0)
    t0, c0 = time.perf_counter(), ctx.cpu_s()
    try:
        with tracer.span("pass", k=k):
            with tracer.span("stage", stage="bronze"):
                q = bronze.write_bronze(
                    bronze.json_file_source(spark, tape_dir, max_files_per_trigger=1),
                    paths["bronze"], paths["bronze_ck"], available_now=True,
                )
                q.awaitTermination()
                bronze_progress = q.recentProgress
                for p in bronze_progress:
                    tracer.add("trigger", *progress_span_times(p), batch=p["batchId"], durationMs=p["durationMs"])
            c_silver = ctx.cpu_s()
            with tracer.span("stage", stage="silver"):
                source = trades_view(
                    spark.readStream.schema(TRADE_SCHEMA).option("maxFilesPerTrigger", 1).parquet(paths["bronze"])
                )
                q = silver.run_silver_stream(source, paths["silver"], paths["silver_ck"], infer=infer, available_now=True)
                q.awaitTermination()
                silver_progress = q.recentProgress
                for p in silver_progress:
                    tracer.add("trigger", *progress_span_times(p), batch=p["batchId"], durationMs=p["durationMs"])
            silver_cpu_ms = (ctx.cpu_s() - c_silver) * 1000.0
            t_gold = time.perf_counter()
            with tracer.span("stage", stage="gold"):
                _run_operator(
                    ctx, "gold_market_summary",
                    lambda: gold_market_summary(spark.read.parquet(paths["silver"])),
                    lambda df: df.write.mode("overwrite").parquet(paths["gold"]),
                    sums,
                )
            gold_s = time.perf_counter() - t_gold
    except Exception as exc:  # a failed drain or refresh is a failed operation
        ctx.tally.record(False, f"stream pass {k}: {exc!r}"[:400])
        shutil.rmtree(root, ignore_errors=True)
        return None
    wall_s, cpu_s = time.perf_counter() - t0, ctx.cpu_s() - c0
    ctx.tally.record(True)
    return {
        "dir": root,
        "paths": paths,
        "wall_s": wall_s,
        "cpu_s": cpu_s,
        # the stream's operations are its silver triggers: their latencies,
        # and the silver stage's CPU per trigger
        "ops_ms": [p["durationMs"]["triggerExecution"] for p in silver_progress],
        "ops_cpu_ms": {"silver_trigger": silver_cpu_ms / len(silver_progress)},
        "gold_s": gold_s,
        "bronze": bronze_progress,
        "silver": silver_progress,
        "sums": sums,
    }

def _phase_medians(passes: list[dict], stage: str, phases: tuple[str, ...]) -> dict[str, float]:
    return {
        f"streaming.{stage}.{ph}_ms": median([t["durationMs"].get(ph, 0) for p in passes for t in p[stage]])
        for ph in phases
    }

def _state_figures(progress: list[dict]) -> dict[str, float]:
    ops = [[o for o in p["stateOperators"]] for p in progress]
    return {
        "state_rows": max(sum(o["numRowsTotal"] for o in t) for t in ops),
        "state_bytes": max(sum(o["memoryUsedBytes"] for o in t) for t in ops),
        "dropped_rows": sum(o["numRowsDroppedByWatermark"] for t in ops for o in t),
        "empty_batch_share": sum(p["numInputRows"] == 0 for p in progress) / len(progress),
    }

def _check_stream(ctx: Context, tape: data.Tape, warm: dict) -> None:
    """Output checks on the warm-up drain, each a counted operation:
    bronze keeps every tape row; the last silver refinement per (window,
    symbol) equals the batch sliding-window aggregate over the tape minus
    its late events (so no late event was kept and no on-time one lost);
    the watermark reports dropping every late event's windows; and
    every silver row was scored by the model, not the fallback."""
    from real_time_financial_lakehouse_spark.operators.silver import sliding_window_agg

    spark, tally = ctx.spark, ctx.tally
    bronze_rows = spark.read.parquet(warm["paths"]["bronze"]).count()
    tally.record(bronze_rows == tape.rows, f"bronze rows {bronze_rows} != tape rows {tape.rows}")

    dropped = _state_figures(warm["silver"])["dropped_rows"]
    want = WINDOWS_PER_EVENT * tape.late_rows
    tally.record(dropped >= want, f"watermark dropped {dropped} window rows, expected at least {want}")

    lines = [line for lines in tape.files for line in lines]
    on_time = [line for line, late in zip(lines, tape.late) if not late]
    on_time_dir = os.path.join(ctx.work, "tape_on_time")
    os.makedirs(on_time_dir, exist_ok=True)
    with open(os.path.join(on_time_dir, "part-0000.json"), "w") as f:
        f.write("\n".join(on_time) + "\n")
    keys = ["window_start", "symbol"]
    want_df = sliding_window_agg(read_trades(spark, on_time_dir)).toPandas().sort_values(keys).reset_index(drop=True)
    silver_df = spark.read.parquet(warm["paths"]["silver"]).toPandas()
    scored = bool((silver_df["predicted_price"] != 0.0).all())
    tally.record(scored, "some silver rows carry the lit(0.0) fallback prediction")
    last = (
        silver_df.sort_values("processed_time")
        .groupby(keys, as_index=False)
        .last()
        .sort_values(keys)
        .reset_index(drop=True)
    )
    cols = ["window_start", "window_end", "symbol", "n_events"]
    same = len(last) == len(want_df) and last[cols].equals(want_df[cols])
    if same:
        for c in ("volatility", "average_price"):
            same &= bool(((last[c] - want_df[c]).abs() <= VALUE_TOLERANCE).all())
    tally.record(same, f"silver last refinements differ from the batch reference ({len(last)} vs {len(want_df)} rows)")
