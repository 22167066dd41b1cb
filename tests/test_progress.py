"""ProgressReporter against a fake status tracker: a stage much
shorter than the line interval still shows in a line and in
stage_seconds."""

import time
from types import SimpleNamespace

from aef_mosaic_spark.plans.progress import ProgressReporter


class _Tracker:
    """Stage 7 is active for the first `active_s` seconds."""

    def __init__(self, active_s):
        self.until = time.time() + active_s

    def getActiveStageIds(self):
        return [7] if time.time() < self.until else []

    def getStageInfo(self, sid):
        return SimpleNamespace(numCompletedTasks=1, numTasks=4)


def test_short_stage_is_reported():
    tracker = _Tracker(0.3)
    spark = SimpleNamespace(sparkContext=SimpleNamespace(statusTracker=lambda: tracker))
    lines = []
    rep = ProgressReporter(spark, interval_s=10.0, sink=lines.append)
    rep.start()
    time.sleep(0.6)
    seconds = rep.stop()
    assert not rep.is_alive()
    assert lines == ["[progress] stage 7: 1/4 tasks (0s)"]
    assert list(seconds) == [7] and 0.1 <= seconds[7] <= 0.4
