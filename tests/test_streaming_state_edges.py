"""Round-9 referees for the advisor-flagged streaming-state edge cases:

* a symbol whose stream has produced only ONE trading day must not emit
  (the batch Kalman twin filters to >= 2 days);
* a micro-batch that merely REFRESHES the still-open day produces a
  second emission tying on n_days -- the roundtrip's batch_id ordering
  (streaming.drain_latest) must pick the fresher provisional state;
* a tick missing ``props.$.k`` (NaN qty) must not poison the VPIN
  accumulators -- the batch twin's null-skipping sum semantics apply.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest

from real_time_financial_lakehouse_spark.operators import finance

# slow: each referee drains a real multi-micro-batch stream (~11 s each,
# ~34 s for the module); excluded from the default driver-window run,
# still one `pytest -m slow` away and unchanged in what it checks.
pytestmark = pytest.mark.slow

SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def _two_file_stream(spark, tmp_path, f1, f2):
    """Write two parquet files with strictly ordered mtimes and return a
    maxFilesPerTrigger=1 file-source stream over them."""
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(f1, SCHEMA).coalesce(1).write.parquet(str(src / "a"))
    spark.createDataFrame(f2, SCHEMA).coalesce(1).write.parquet(str(src / "b"))
    for sub, mt in (("a", 1_000_000_000), ("b", 2_000_000_000)):
        for f in (src / sub).glob("*.parquet"):
            os.utime(f, (mt, mt))
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )


def _run_collect(stream_df, tmp_path):
    out = []

    def _collect(batch_df, batch_id):
        for r in batch_df.collect():
            out.append((batch_id, r))

    q = (
        stream_df.writeStream.foreachBatch(_collect)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out


def test_streaming_kalman_suppresses_single_day(spark, tmp_path):
    """Symbol 'lone' has one trading day in batch 1 and gains its second
    in batch 2: no emission may surface until the second day exists,
    matching the batch twin's HAVING count >= 2."""
    from real_time_financial_lakehouse_spark.streaming.stateful import kalman_stream

    def mk(eid, day, sym, v):
        return (eid, dt.datetime(2024, 1, day), 1, sym, v, "{}")

    f1 = [mk(0, 1, "lone", 100.0), mk(1, 1, "pair", 50.0), mk(2, 2, "pair", 51.0)]
    f2 = [mk(3, 2, "lone", 102.0)]
    out = _run_collect(
        kalman_stream(_two_file_stream(spark, tmp_path, f1, f2)), tmp_path
    )
    assert len({b for b, _ in out}) >= 2, "expected one micro-batch per file"
    lone_batches = sorted(b for b, r in out if r["symbol"] == "lone")
    assert lone_batches and lone_batches[0] > min(b for b, _ in out), (
        "single-day symbol emitted a seeded provisional row before its "
        "second day arrived"
    )
    for b, r in out:
        assert r["n_days"] >= 2


def test_streaming_kalman_same_day_refresh_tiebreak(spark, tmp_path):
    """Batch 2 only refreshes the still-open day (no new day): both
    emissions tie on n_days with DIFFERENT provisional folds, and the
    later batch's state is the one that matches the batch twin -- the
    roundtrip's batch_id tie-break is load-bearing."""
    from real_time_financial_lakehouse_spark.streaming.stateful import kalman_stream

    def mk(eid, day, sec, v):
        return (eid, dt.datetime(2024, 1, day, 0, 0, sec), 1, "s", v, "{}")

    f1 = [mk(0, 1, 0, 100.0), mk(1, 2, 0, 95.0)]
    f2 = [mk(2, 2, 30, 99.0)]  # same calendar day, fresher close
    out = _run_collect(
        kalman_stream(_two_file_stream(spark, tmp_path, f1, f2)), tmp_path
    )
    assert len(out) == 2
    (b1, r1), (b2, r2) = sorted(out, key=lambda t: t[0])
    assert r1["n_days"] == r2["n_days"] == 2, "emissions must tie on n_days"
    assert r1["x_raw"] != r2["x_raw"], "refresh must change the provisional fold"
    batch = finance.kalman_price_smooth(
        spark.createDataFrame(f1 + f2, SCHEMA)
    ).collect()[0]
    # n_days-only ordering could pick either; batch_id DESC picks r2,
    # which is the one agreeing with the batch twin
    assert r2["last_close"] == 99.0
    assert r2["x_raw"] == pytest.approx(batch["kalman_level"], abs=1e-6)
    assert r1["x_raw"] != pytest.approx(batch["kalman_level"], abs=1e-9)


def test_drain_latest_keeps_the_newest_batch_on_a_tie(spark, tmp_path):
    """The same-day refresh above, drained through ``drain_latest``: the
    two emissions tie on n_days and the returned row is batch 2's."""
    from real_time_financial_lakehouse_spark.streaming import drain_latest
    from real_time_financial_lakehouse_spark.streaming.stateful import kalman_stream

    def mk(eid, day, sec, v):
        return (eid, dt.datetime(2024, 1, day, 0, 0, sec), 1, "s", v, "{}")

    f1 = [mk(0, 1, 0, 100.0), mk(1, 2, 0, 95.0)]
    f2 = [mk(2, 2, 30, 99.0)]
    (row,) = drain_latest(
        spark, lambda ss: kalman_stream(_two_file_stream(ss, tmp_path, f1, f2))
    ).collect()
    assert (row["symbol"], row["n_days"], row["last_close"]) == ("s", 2, 99.0)


def test_streaming_vpin_nan_qty_does_not_poison_state(spark, tmp_path):
    """A tick with no props.$.k arrives as NaN qty: it must contribute
    zero volume (batch twin / oracle skip NULL in sums) while its price
    still advances the tick-rule sign carry."""
    from real_time_financial_lakehouse_spark.streaming.stateful import vpin_stream

    def mk(eid, sec, v, props):
        return (eid, dt.datetime(2024, 1, 1, 0, 0, sec), 1, "s", v, props)

    rows = [
        mk(0, 0, 100.0, '{"k": 900.0}'),
        mk(1, 1, 101.0, '{"k": 1300.0}'),
        mk(2, 2, 102.0, "{}"),  # missing k -> NaN qty
        mk(3, 3, 101.0, '{"k": 1100.0}'),
        mk(4, 4, 103.0, '{"k": 700.0}'),
    ]
    out = _run_collect(
        vpin_stream(
            _two_file_stream(spark, tmp_path, rows[:3], rows[3:])
        ),
        tmp_path,
    )
    final = max((r for _, r in out), key=lambda r: r["total_qty_raw"])
    batch = finance.vpin_toxicity(spark.createDataFrame(rows, SCHEMA)).collect()[0]
    assert final["total_qty_raw"] == pytest.approx(4000.0, abs=1e-9)
    assert final["n_buckets"] == batch["n_buckets"]
    assert final["vpin_raw"] == pytest.approx(batch["vpin"], abs=1e-6)
    assert final["max_imb_raw"] == pytest.approx(batch["max_imbalance"], abs=1e-6)
