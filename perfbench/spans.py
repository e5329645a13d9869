"""Spans and engine counters recorded from outside the program.

A span wraps one call into a layer's public function: its name, start,
end, parent span and attributes. Each span that can launch Spark jobs
runs under its own job group, so the jobs, stages and tasks it caused
are read back from ``statusTracker()`` and the status store once the
pass is over. Spans stay in memory and are written out at the end.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._pending: list[dict] = []   # spans whose job stats are unread

    @contextmanager
    def span(self, name: str, *, jobs: bool = False, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        if jobs:
            rec["job_group"] = f"perfbench-{sid}"
            self._sc.setJobGroup(rec["job_group"], name)
            self._pending.append(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            if jobs:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self._stack.pop()

    def collect_job_stats(self) -> None:
        """Attach job/stage/task counts and shuffle/spill bytes to every
        span recorded since the last call. Waits for the listener bus
        first, so the status store has seen every finished job."""
        if not self._pending:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = jsc.statusStore()
        defaults = [getattr(store, f"stageData$default${i}")() for i in range(2, 6)]
        for rec in self._pending:
            stats = dict(jobs=0, stages=0, tasks=0, failed_tasks=0,
                         shuffle_read_bytes=0, shuffle_write_bytes=0,
                         spill_bytes=0)
            for job_id in tracker.getJobIdsForGroup(rec["job_group"]):
                stats["jobs"] += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in (info.stageIds if info else []):
                    attempts = store.stageData(stage_id, *defaults)
                    for i in range(attempts.size()):
                        sd = attempts.apply(i)
                        if sd.status().toString() == "SKIPPED":
                            continue
                        stats["stages"] += 1
                        stats["tasks"] += sd.numTasks()
                        stats["failed_tasks"] += sd.numFailedTasks()
                        stats["shuffle_read_bytes"] += sd.shuffleReadBytes()
                        stats["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                        stats["spill_bytes"] += sd.diskBytesSpilled()
            rec.update(stats)
        self._pending.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")
