"""One way to drain a streaming twin, one action per micro-batch, one
harness for the per-symbol state folds, and scratch space that does not
leak.

No Spark session is needed: the guards read the source, and the scratch
check runs in a child interpreter.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
STREAMING = REPO / "real_time_financial_lakehouse_spark" / "streaming"

# what a hand-written drain spells out; streaming.drain owns all three
DRAIN_WORDS = {"writeStream", "awaitTermination", "checkpointLocation"}


def _words(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.add(n.value)
    return out


def test_streaming_twins_drain_through_one_helper():
    twins, offenders = [], {}
    for module in ("silver.py", "stateful.py"):
        tree = ast.parse((STREAMING / module).read_text())
        for fn in tree.body:
            if isinstance(fn, ast.FunctionDef) and fn.name.startswith("streaming_"):
                twins.append(fn.name)
                hits = DRAIN_WORDS & _words(fn)
                if hits:
                    offenders[f"{module}::{fn.name}"] = sorted(hits)
    assert len(twins) >= 26, twins  # the guard must not pass vacuously
    assert not offenders, f"drain by hand instead of streaming.drain: {offenders}"


def test_scratch_dirs_are_removed_at_interpreter_exit(tmp_path):
    """A scratch directory outlives a forked child that exits (the child
    did not make it) and is gone once its own process exits."""
    code = "\n".join(
        [
            "import os, sys",
            "from real_time_financial_lakehouse_spark.scratch import scratch_dir",
            "d = scratch_dir('rtfl_exit_')",
            "os.makedirs(os.path.join(d, 'batch=0'))",
            "open(os.path.join(d, 'batch=0', 'part.parquet'), 'w').close()",
            "pid = os.fork()",
            "if pid == 0:",
            "    sys.exit(0)",
            "os.waitpid(pid, 0)",
            "print(d, os.path.isdir(d))",
        ]
    )
    env = dict(os.environ, RTFL_SCRATCH_DIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    made, alive_after_fork = out[0], out[1]
    assert made.startswith(str(tmp_path))
    assert alive_after_fork == "True"
    assert not os.path.exists(made)
    assert list(tmp_path.iterdir()) == []


# actions that run a micro-batch's plan: a foreachBatch callback's write
# is its one action, and any of these would run the stateful plan again
BATCH_ACTIONS = {"isEmpty", "count", "collect", "first", "take", "head"}


def test_foreach_batch_callbacks_run_no_extra_action():
    callbacks, offenders = [], {}
    for module in ("silver.py", "__init__.py"):
        tree = ast.parse((STREAMING / module).read_text())
        for fn in ast.walk(tree):
            args = [a.arg for a in fn.args.args] if isinstance(fn, ast.FunctionDef) else []
            if args[-1:] != ["batch_id"]:
                continue
            callbacks.append(fn.name)
            hits = {
                n.func.attr
                for n in ast.walk(fn)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in BATCH_ACTIONS
            }
            if hits:
                offenders[f"{module}::{fn.name}"] = sorted(hits)
    # make_batch_processor's process_batch, drain_merge's commit, drain_latest's append
    assert len(callbacks) >= 3, callbacks
    assert not offenders, f"foreachBatch callbacks that run the batch twice: {offenders}"


SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def _calls_with_key(tree: ast.AST, method: str) -> list[ast.Call]:
    return [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == method
        and n.args
        and isinstance(n.args[0], ast.Constant)
        and n.args[0].value == SHUFFLE_PARTITIONS
    ]


def test_state_partitions_are_set_by_one_rule():
    """Every stream under streaming/ gets its state partition count from
    one rule: the shuffle-partition key is set by exactly one call, whose
    value comes from ``state_partitions``, the key appears nowhere but in
    that call and in reads, and no function keeps a constant partition
    count as a default."""
    sets, reads, uses, int_defaults = [], [], 0, []
    for path in sorted(STREAMING.glob("*.py")):
        tree = ast.parse(path.read_text())
        sets += [(path.name, c) for c in _calls_with_key(tree, "set")]
        reads += _calls_with_key(tree, "get")
        uses += sum(
            isinstance(n, ast.Constant) and n.value == SHUFFLE_PARTITIONS for n in ast.walk(tree)
        )
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and fn.name in {
                "state_partitions",
                "pinned_state_partitions",
                "drain",
            }:
                int_defaults += [
                    f"{path.name}::{fn.name}"
                    for d in fn.args.defaults + fn.args.kw_defaults
                    if isinstance(d, ast.Constant) and type(d.value) is int
                ]
    assert len(sets) == 1, [f"{name}:{c.lineno}" for name, c in sets]
    ((name, call),) = sets
    assert name == "__init__.py"
    assert "state_partitions" in _words(call.args[1])
    assert uses == len(sets) + len(reads), "the key is aliased or set some other way"
    assert not int_defaults, int_defaults


def _method_calls(tree: ast.AST, method: str) -> list[ast.Call]:
    return [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == method
    ]


def test_keyed_folds_share_one_harness():
    """Every per-symbol GroupState fold under streaming/ goes through one
    harness: one ``applyInPandasWithState`` call, one event-order chunk
    sort, and no second state API beside it."""
    group_state, event_sorts, tws = [], [], []
    for path in sorted(STREAMING.glob("*.py")):
        text = path.read_text()
        tree = ast.parse(text)
        group_state += [path.name for _ in _method_calls(tree, "applyInPandasWithState")]
        event_sorts += [
            path.name
            for c in _method_calls(tree, "sort_values")
            if c.args
            and isinstance(c.args[0], ast.List)
            and [getattr(e, "value", None) for e in c.args[0].elts] == ["ts", "event_id"]
        ]
        if "transformWithStateInPandas" in text:
            tws.append(path.name)
    assert group_state == ["stateful.py"], group_state
    assert event_sorts == ["stateful.py"], event_sorts
    assert not tws, tws
