"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Works inside a fresh directory under
``perfbench/.work/``, starts one local[4] Spark session, runs the
workload (set-up, an output-check pass and a warm-up pass, then
closed-loop passes for ``--seconds``), and prints one detail line followed
by the result object as the last line of stdout.  With ``--trace 0`` the
result carries the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` its per-layer metrics, and the spans go to
``perfbench/out/``.  The work directory is deleted on exit and the Spark
JVM is stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import stats  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

CORES = 4  # the workloads are defined on local[4]
WORKLOADS = ("llm_data_queries", "medallion_stream")

def host_facts(work: str) -> dict:
    """What a result depends on besides the code; never compare results
    whose facts differ."""
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "scratch_fs": _filesystem(work),
        "master": f"local[{CORES}]",
    }

def _filesystem(path: str) -> str:
    """Type of the filesystem holding ``path``, from the mount table."""
    best, fstype = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mount = parts[1]
                if (path == mount or path.startswith(mount.rstrip("/") + "/")) and len(mount) > len(best):
                    best, fstype = mount, parts[2]
    except OSError:
        pass
    return fstype

def _isolate(work: str) -> None:
    """Point every scratch location of the engine, Spark and Python at the
    run's own work directory."""
    for sub in ("scratch", "tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["RTFL_SCRATCH_DIR"] = os.path.join(work, "scratch")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)

def _start_spark(work: str):
    from real_time_financial_lakehouse_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
                # a fixed set of JIT compiler threads, so _cpu_clock can
                # tell their CPU apart for the whole run
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark

def _cpu_clock(spark):
    """A clock of the CPU seconds used so far by the Spark JVM, less its
    JIT compiler threads, plus this process.  Unlike wall time it leaves
    out time the host gives to other tenants.  The compiler threads are
    left out because they keep compiling Spark's generated code for
    minutes, at a rate that differs from run to run."""
    pid = spark.sparkContext._gateway.proc.pid
    tick = os.sysconf("SC_CLK_TCK")
    task_dir = f"/proc/{pid}/task"
    compilers = []
    for tid in os.listdir(task_dir):
        with open(f"{task_dir}/{tid}/comm") as f:
            if "CompilerThre" in f.read():
                compilers.append(f"{task_dir}/{tid}/stat")

    def ticks(stat_path: str) -> int:
        with open(stat_path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])  # utime + stime

    def cpu_s() -> float:
        jvm = ticks(f"/proc/{pid}/stat") - sum(ticks(path) for path in compilers)
        return jvm / tick + time.process_time()

    return cpu_s

def _stop_spark(spark) -> None:
    """Stop the context, then close the JVM's stdin (the gateway exits on
    EOF) and wait for the process."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

def _end_to_end(outcome) -> dict[str, float]:
    by_op: dict[str, list[float]] = {}
    for p in outcome.plain:
        for op, ms in p["ops_cpu_ms"].items():
            by_op.setdefault(op, []).append(ms)
    if not by_op:
        raise RuntimeError("no measured operation completed")
    return {
        "setup_s": outcome.setup_s,
        "pass_cpu_s": stats.median([p["cpu_s"] for p in outcome.plain]),
        # each operation's median over the passes, averaged over operations
        "op_cpu_ms": statistics.mean(stats.median(v) for v in by_op.values()),
    }

def _detail(workload: str, outcome) -> dict:
    """The workload's wall-clock figures under the names its users know
    them by: the latency a user waits for.  They move with the host's
    load, so no bound is set on them."""
    out = dict(outcome.detail)
    passes_s = [p["wall_s"] for p in outcome.plain]
    ops_ms = [ms for p in outcome.plain for ms in p["ops_ms"]]
    out["setup_wall_s"] = outcome.setup_wall_s
    out["passes_s"] = passes_s
    out["passes_cpu_s"] = [p["cpu_s"] for p in outcome.plain]
    if not ops_ms:
        return out
    tail = stats.tail(ops_ms)
    tail_fig = {"rank": tail[0], "value": tail[1], "n": len(ops_ms)} if tail else {"n": len(ops_ms)}
    p50_ms = stats.median(ops_ms)
    if workload == "medallion_stream":
        out["events_per_s"] = outcome.detail["tape_rows"] / stats.median(passes_s)
        out["silver_batch_p50_ms"] = p50_ms
        out["silver_batch_tail_ms"] = tail_fig
    else:
        out["mix_s"] = stats.median(passes_s)
        out["query_p50_s"] = p50_ms / 1000.0
        out["query_tail_s"] = {**tail_fig, "value": tail_fig["value"] / 1000.0} if tail else tail_fig
    return out

def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = str(ROOT / "perfbench" / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    spark = ctx = None
    try:
        from perfbench import workloads

        t0 = time.perf_counter()
        spark = _start_spark(work)
        ctx = workloads.Context(
            spark=spark,
            seed=args.seed,
            seconds=args.seconds,
            work=work,
            tracer=Tracer(enabled=False),
            traced=bool(args.trace),
            spark_start_s=time.perf_counter() - t0,
            cpu_s=_cpu_clock(spark),
        )
        if args.workload == "medallion_stream":
            outcome = workloads.run_stream(ctx)
        else:
            outcome = workloads.run_mix(ctx, workloads.LLM_MIX)
        facts = host_facts(work)
    finally:
        for problem in ctx.tally.problems if ctx else ():
            print(f"perfbench: FAILED {problem}", file=sys.stderr)
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, onerror=lambda fn, path, exc: print(f"perfbench: cannot remove {path}: {exc[1]!r}", file=sys.stderr))

    if args.trace:
        plain, traced = [p["wall_s"] for p in outcome.plain], outcome.traced_passes_s
        layers = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0)
        layers.update(outcome.layers)
        layers["trace.pass_s"] = stats.median(traced)
        layers["trace.overhead_s"] = statistics.mean(traced) - statistics.mean(plain)
        metrics = {m["name"]: (layers[m["name"]], m["unit"]) for m in spec["per_layer"]}
        out_dir = ROOT / "perfbench" / "out"
        out_dir.mkdir(exist_ok=True)
        trace_path = out_dir / f"trace-{args.workload}-seed{args.seed}.jsonl"
        ctx.tracer.dump(str(trace_path), {"workload": args.workload, "seed": args.seed, "host": facts})
        detail = {**_detail(args.workload, outcome), "trace_file": str(trace_path.relative_to(ROOT))}
    else:
        e2e = _end_to_end(outcome)
        metrics = {m["name"]: (e2e[m["name"]], m["unit"]) for m in spec["end_to_end"]}
        detail = _detail(args.workload, outcome)
    print("perfbench detail " + json.dumps({"workload": args.workload, "seed": args.seed, "host": facts, **detail}))
    print(json.dumps(stats.result_line(ctx.tally, metrics)))
    return 0

if __name__ == "__main__":
    sys.exit(main())
