"""The benchmark's inputs: the query mixes' fixture tables and a seeded
trade tape.

The tables are the engine's sf0.01 test fixtures (TESTDATA.md), kept
read-only under ``perfbench/fixtures/`` so a run needs nothing outside
its checkout; a run's seed only sets the order the mixes issue their
queries in.  The tape is ``TRADE_SCHEMA`` JSON lines, one file per
micro-batch, a pure function of the seed, so two runs with the same seed
see byte-identical input.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np

FIXTURE_DIR = str(Path(__file__).resolve().parent / "fixtures" / "sf0.01")

# --- trade tape ------------------------------------------------------------

SYMBOLS = {"BTCUSDT": 60000.0, "ETHUSDT": 3000.0, "SOLUSDT": 150.0, "BNBUSDT": 600.0}
TAPE_START = dt.datetime(2024, 1, 1)
FILE_SPAN_S = 120  # event time covered by one tape file
OUT_OF_ORDER_SHARE = 0.05  # events moved up to MAX_DISORDER_S behind the file's clock
MAX_DISORDER_S = 45  # < the 60 s watermark delay, so these are never dropped
LATE_LAG_S = 600  # one event per file from the third on lags the emitted max by >= this
FIRST_LATE_FILE = 2

@dataclass(frozen=True)
class Tape:
    """A generated tape: ``files[k]`` is the k-th micro-batch's JSON lines;
    ``late[k]`` says whether line k (in concatenated order) is a late event."""

    files: list[list[str]]
    late: list[bool]

    @property
    def rows(self) -> int:
        return len(self.late)

    @property
    def late_rows(self) -> int:
        return sum(self.late)

def make_tape(seed: int, n_files: int, rows_per_file: int) -> Tape:
    """Random-walk trades on four symbols.  Each file covers FILE_SPAN_S
    seconds of event time.  OUT_OF_ORDER_SHARE of events are displaced
    backwards by up to MAX_DISORDER_S (inside the 1-minute watermark);
    every file from FIRST_LATE_FILE on carries one event placed LATE_LAG_S
    or more behind the largest event time of all earlier files, so the
    silver stream's watermark must drop it.  Spark filters late rows
    against the previous batch's watermark, which only covers the first
    file once the third batch runs; a late event in the second file would
    be kept."""
    rng = np.random.default_rng(seed)
    syms = list(SYMBOLS)
    price = dict(SYMBOLS)
    files: list[list[str]] = []
    late: list[bool] = []
    emitted_max = None
    for k in range(n_files):
        base = k * FILE_SPAN_S
        offs = np.sort(rng.uniform(0, FILE_SPAN_S, rows_per_file))
        disorder = rng.random(rows_per_file) < OUT_OF_ORDER_SHARE
        offs = offs - disorder * rng.uniform(1, MAX_DISORDER_S, rows_per_file)
        offs = np.maximum(offs, 0.0)  # never before the file's own start
        lines, flags = [], []
        for j in range(rows_per_file):
            sym = syms[rng.integers(0, len(syms))]
            price[sym] = round(price[sym] * (1.0 + rng.normal(0.0, 5e-4)), 2)
            qty = round(float(rng.lognormal(0.0, 1.0)), 4)
            lines.append(_trade(sym, price[sym], qty, base + offs[j]))
            flags.append(False)
        if k >= FIRST_LATE_FILE:
            lag = LATE_LAG_S + float(rng.uniform(0, 60))
            sym = syms[k % len(syms)]
            at = int(rng.integers(0, len(lines) + 1))
            lines.insert(at, _trade(sym, price[sym], 1.0, emitted_max - lag))
            flags.insert(at, True)
        emitted_max = max(base + float(offs.max()), emitted_max or 0.0)
        files.append(lines)
        late.extend(flags)
    return Tape(files, late)

def _trade(sym: str, price: float, qty: float, offset_s: float) -> str:
    ts = TAPE_START + dt.timedelta(microseconds=int(round(offset_s * 1e6)))
    return json.dumps(
        {"symbol": sym, "price": price, "quantity": qty,
         "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S.%f")}
    )

def write_tape(tape: Tape, tape_dir: str) -> None:
    """One file per micro-batch.  The file source orders files by
    modification time, so the files get mtimes one second apart in tape
    order; files written within one clock tick would otherwise be read in
    an arbitrary order and scramble the watermark."""
    os.makedirs(tape_dir, exist_ok=True)
    now = time.time()
    for k, lines in enumerate(tape.files):
        path = os.path.join(tape_dir, f"part-{k:04d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        stamp = now - len(tape.files) + k
        os.utime(path, (stamp, stamp))
