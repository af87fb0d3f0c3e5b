"""One way to drain a streaming twin, and scratch space that does not leak.

No Spark session is needed: the guard reads the source, and the scratch
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
