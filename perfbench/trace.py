"""Spans and Spark counters recorded from outside the library.

A span times one call into a layer's public function. In traced mode
each span tags the Spark jobs it starts with its own job group
(`setJobGroup`), and on exit reads those jobs' stages from the JVM
status store, which needs neither the UI nor its REST server. Spans
stay in memory and are written once, when the run ends.

Untraced calls do not go through this module, so they run exactly the
Spark jobs the library starts.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes", "executor_run_s",
            "executor_cpu_s")


class SparkCounters:
    """Sums stage metrics over the jobs of one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)

    def job_count(self) -> int:
        """Jobs the status store knows of (any group): lets a caller
        count the jobs an untraced call started without tagging it."""
        self._drain()
        return int(self._jsc.statusStore().jobsList(None).size())

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def for_group(self, group: str) -> dict:
        self._drain()
        store = self._jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        out["jobs"] = len(job_ids)
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, None, False, self._no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += int(sd.numTasks())
                out["failed_tasks"] += int(sd.numFailedTasks())
                out["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
                out["shuffle_read_bytes"] += int(sd.shuffleReadBytes())
                out["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
                out["executor_run_s"] += int(sd.executorRunTime()) / 1e3
                out["executor_cpu_s"] += int(sd.executorCpuTime()) / 1e9
        return out


class Tracer:
    """Nested spans, each tagging its Spark jobs with its own job group.
    Counters are read after a span's end time is taken, so reading them
    is not part of any span's duration."""

    def __init__(self, spark, slots: int):
        self.slots = slots
        self.sc = spark.sparkContext
        self.counters = SparkCounters(spark)
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "parent": parent["id"] if parent else None,
               "name": name}
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"perfbench-{rec['id']}"
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            rec["own_counters"] = self.counters.for_group(group)
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def finish(self) -> None:
        """Self time (duration minus the time covered by child spans)
        and inclusive Spark counters (own jobs plus every descendant's)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        for s in reversed(self.spans):
            ch = kids.get(s["id"], [])
            s["self_s"] = s["dur_s"] - sum(c["dur_s"] for c in ch)
            inc = dict(s["own_counters"])
            for c in ch:
                for k in COUNTERS:
                    inc[k] += c["counters"][k]
            inc["slot_busy_frac"] = inc["executor_run_s"] / max(s["dur_s"] * self.slots, 1e-9)
            s["counters"] = inc

    def write(self, path: str, context: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = []
        for s in self.spans:
            r = {k: v for k, v in s.items() if k not in ("start", "end")}
            r["start_s"] = s["start"] - t0
            r["end_s"] = s["end"] - t0
            rows.append(r)
        with open(path, "w") as f:
            json.dump({"context": context, "spans": rows}, f, indent=1, default=str)
