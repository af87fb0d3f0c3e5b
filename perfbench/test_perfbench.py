"""Tests of the benchmark itself: input determinism, the tail-percentile
rule, failure accounting, and the stream's reference computation.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import filecmp
import json
import os
from unittest import mock

import pytest

from perfbench import data, stats

def test_same_seed_gives_byte_identical_tape(tmp_path):
    for name, seed in (("a", 11), ("b", 11), ("c", 12)):
        data.write_tape(data.make_tape(seed, 4, 300), str(tmp_path / name))
    files = sorted(os.listdir(tmp_path / "a"))
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", files, shallow=False)
    assert match == files and not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", files, shallow=False)
    assert differ

def _offset_s(line: str) -> float:
    ts = dt.datetime.strptime(json.loads(line)["timestamp"], "%Y-%m-%dT%H:%M:%S.%f")
    return (ts - data.TAPE_START).total_seconds()

def test_tape_lateness_is_as_stated():
    """Late events trail everything in earlier files by LATE_LAG_S or more;
    every other event stays within MAX_DISORDER_S of its file's own clock."""
    tape = data.make_tape(3, 6, 400)
    flags = iter(tape.late)
    emitted_max = None
    for k, lines in enumerate(tape.files):
        for line in lines:
            if next(flags):
                assert k >= data.FIRST_LATE_FILE
                assert _offset_s(line) <= emitted_max - data.LATE_LAG_S
            else:
                assert _offset_s(line) >= k * data.FILE_SPAN_S - data.MAX_DISORDER_S
        file_max = max(_offset_s(x) for x in lines)
        emitted_max = file_max if emitted_max is None else max(emitted_max, file_max)
    assert tape.late_rows == 6 - data.FIRST_LATE_FILE

@pytest.mark.parametrize(
    "n, rank",
    [(19, None), (20, 50), (39, 74), (40, 75), (100, 90), (200, 95), (1000, 99)],
)
def test_tail_rank_is_highest_with_ten_beyond(n, rank):
    assert stats.tail_rank(n) == rank
    if rank is not None:
        values = list(range(1, n + 1))
        beyond = sum(v > stats.percentile(values, rank) for v in values)
        assert beyond >= stats.TAIL_MIN_BEYOND
        # one rank higher leaves fewer than ten samples beyond
        assert sum(v > stats.percentile(values, rank + 1) for v in values) < stats.TAIL_MIN_BEYOND

def test_tail_on_shuffled_samples():
    values = [float(v) for v in reversed(range(40))]
    assert stats.tail(values) == (75, 29.0)
    assert stats.tail(values[:19]) is None

def test_failure_accounting():
    tally = stats.Tally()
    assert tally.record(True)
    assert not tally.record(False, "check mismatch")
    tally.record(True)
    assert (tally.attempted, tally.failed) == (3, 1)
    assert tally.failure_share == pytest.approx(1 / 3)
    line = stats.result_line(tally, {"pass_s": (1.5, "s")})
    assert line == {
        "correct": False,
        "attempted": 3,
        "failed": 1,
        "metrics": {"pass_s": {"value": 1.5, "unit": "s"}},
    }
    assert stats.result_line(stats.Tally(), {})["correct"] is True

def test_stream_reference_agrees_on_tiny_tape(tmp_path):
    """Drain a tiny tape through bronze and silver and run the benchmark's
    own output checks on it: all must pass."""
    pytest.importorskip("pyspark")
    from perfbench import run, workloads
    from perfbench.trace import Tracer

    work = str(tmp_path / "work")
    with mock.patch.dict(os.environ):
        run._isolate(work)
        spark = run._start_spark(work)
        try:
            from pyspark.sql import functions as F

            ctx = workloads.Context(
                spark=spark, seed=1, seconds=0, work=work, tracer=Tracer(False), traced=False, spark_start_s=0.0,
                cpu_s=run._cpu_clock(spark),
            )
            tape = data.make_tape(9, 4, 60)
            tape_dir = os.path.join(work, "tape")
            data.write_tape(tape, tape_dir)

            def infer(batch):
                return batch.withColumn("predicted_price", F.lit(1.0))

            result = workloads._stream_pass(ctx, 0, tape_dir, infer)
            assert result is not None
            workloads._check_stream(ctx, tape, result)
        finally:
            run._stop_spark(spark)
    assert ctx.tally.problems == []
    assert ctx.tally.attempted == 5
