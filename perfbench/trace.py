"""In-memory spans plus the Spark-side counters read at layer boundaries.

Spans are recorded by the benchmark around its calls into the engine
(workload -> pass -> query -> build/plan/exec; stream -> stage -> trigger),
kept in memory and written out once at the end.  All spans of one pass
share a trace id.  With tracing off, ``span`` is a no-op and no Spark
counter is read, so an untraced run pays nothing for this module.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from datetime import datetime, timezone

class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block; yields the span's attrs dict
        (None when disabled) so the block can attach counters."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a finished child span of the current one, e.g. a stream
        trigger whose times come from the progress record."""
        if not self.enabled:
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {
                "id": len(self.spans),
                "parent": parent["id"] if parent else None,
                "trace": parent["trace"] if parent else len(self.spans),
                "name": name,
                "start": start,
                "end": end,
                "attrs": attrs,
            }
        )

    def dump(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps({"header": header}) + "\n")
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")

def progress_span_times(progress: dict) -> tuple[float, float]:
    """Start and end (epoch seconds) of one streaming trigger."""
    start = datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start_s = start.replace(tzinfo=timezone.utc).timestamp()
    return start_s, start_s + progress["durationMs"].get("triggerExecution", 0) / 1000.0

def catalyst_phases_ms(df) -> dict[str, int]:
    """Force analysis, optimization and planning of ``df`` and return each
    phase's time from the QueryPlanningTracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        found = phases.get(name)
        out[name] = int(found.get().durationMs()) if found.isDefined() else 0
    return out

def job_group_stats(sc, group: str) -> dict[str, int]:
    """Jobs, executed stages, tasks, shuffle and spill bytes of every job
    launched under ``group``, read from the status store once the listener
    bus has caught up."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = dict(jobs=0, stages=0, tasks=0, shuffle_write_bytes=0, shuffle_read_bytes=0, spill_bytes=0)
    seen: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            if stage_id in seen:
                continue
            seen.add(stage_id)
            stage = store.lastStageAttempt(stage_id)
            if str(stage.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += stage.numCompleteTasks()
            out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
            out["shuffle_read_bytes"] += stage.shuffleReadBytes()
            out["spill_bytes"] += stage.diskBytesSpilled()
    return out
