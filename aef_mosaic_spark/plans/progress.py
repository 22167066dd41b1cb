"""Periodic progress reporting + per-stage wall-time attribution.

The reference runs a metrics reporter thread that prints stage
percentages and GB/s every few seconds
(/root/reference/src/pipeline/metrics.rs:204-234, 331-385). The Spark
twin polls SparkContext.statusTracker() from a daemon thread: active
stages with task progress are printed at `interval_s`, and each
stage's first/last sighting bounds its wall time, giving a per-stage
time breakdown without any listener-bus plumbing (which pyspark does
not expose directly).
"""

from __future__ import annotations

import threading
import time


class ProgressReporter(threading.Thread):
    """Daemon poller: call start() before the action, stop() after.

    The tracker is sampled every _SAMPLE_S; every `interval_s` (and
    once more at stop) one line lists the stages active since the last
    line, so a stage shorter than `interval_s` still shows.
    stage_seconds: {stage_id: approx wall seconds observed active}
    (sample-resolution bounded: a stage shorter than _SAMPLE_S may be
    missed entirely; this is a progress surface, not an exact profile).
    """

    _SAMPLE_S = 0.05

    def __init__(self, spark, interval_s: float = 10.0, sink=print):
        super().__init__(daemon=True)
        self.spark = spark
        self.interval_s = interval_s
        self.sink = sink
        self._halt = threading.Event()
        self._seen: dict[int, tuple[float, float, int, int]] = {}

    def run(self):
        tracker = self.spark.sparkContext.statusTracker()
        active: set[int] = set()  # stages sampled since the last line
        next_line = time.time() + self.interval_s
        while not self._halt.wait(min(self._SAMPLE_S, self.interval_s)):
            now = time.time()
            try:
                for sid in tracker.getActiveStageIds():
                    info = tracker.getStageInfo(sid)
                    if info is None:
                        continue
                    first = self._seen.get(sid, (now, now, 0, 0))[0]
                    self._seen[sid] = (first, now, info.numCompletedTasks,
                                       info.numTasks)
                    active.add(sid)
            except Exception:
                continue  # context shutting down mid-poll
            if now >= next_line:
                self._line(active)
                next_line = now + self.interval_s
        self._line(active)

    def _line(self, active: set[int]) -> None:
        parts = []
        for sid in sorted(active):
            first, last, done, n = self._seen[sid]
            parts.append(f"stage {sid}: {done}/{n} tasks ({last - first:.0f}s)")
        if parts:
            self.sink("[progress] " + "; ".join(parts))
        active.clear()

    def stop(self) -> dict[int, float]:
        self._halt.set()
        self.join(timeout=self.interval_s + 1)
        return self.stage_seconds()

    def stage_seconds(self) -> dict[int, float]:
        """Raw observed span per stage (last sighting - first). A stage
        seen once reports 0.0; true resolution is ±_SAMPLE_S per edge
        — reported as-is rather than inflated to the sample interval,
        which would overstate sub-interval stages and skew the
        stage_pct breakdown (ADVICE r2)."""
        return {sid: round(last - first, 1)
                for sid, (first, last, _, _) in self._seen.items()}
