"""Token bucket that paces a rate-limited backfill.

A backfill reprocesses history against a shared upstream (object
store / tile service): run flat-out and you starve production
traffic. The reference throttles with an HTTP-fetch semaphore +
bounded channels (src/pipeline/stages.rs:387-410); the Spark-shaped
equivalent is BETWEEN-COMMIT throttling: MosaicJob.run_incremental
splits the keyspace into row bands and, given a bucket, charges each
band's input bytes to it so the AVERAGE input-byte rate stays under
the budget. Burst is bounded by one band's bytes — shrink it by
raising `groups`.

Every band is a durable icelite snapshot, so a kill at any point
loses at most one band and `resume=True` continues from committed
keys.
"""

from __future__ import annotations

import time


class TokenBucket:
    """Classic token bucket: `rate` tokens/s refill up to `capacity`.
    acquire(cost) blocks until the bucket can pay. Costs larger than
    the capacity are allowed (the bucket just drains negative and
    blocks proportionally — "post-paid" accounting, which is how a
    band's actual bytes are charged after its commit reveals them).
    clock/sleep injectable for deterministic tests."""

    def __init__(self, rate: float, capacity: float | None = None,
                 clock=time.monotonic, sleep=time.sleep):
        if rate <= 0:
            raise ValueError("rate must be > 0")
        self.rate = float(rate)
        self.capacity = float(capacity if capacity is not None else rate)
        self._clock = clock
        self._sleep = sleep
        self._tokens = self.capacity
        self._last = clock()

    def _refill(self) -> None:
        now = self._clock()
        self._tokens = min(self.capacity,
                           self._tokens + (now - self._last) * self.rate)
        self._last = now

    def acquire(self, cost: float) -> float:
        """Charge `cost` tokens, sleeping as needed. Returns seconds
        slept."""
        self._refill()
        self._tokens -= cost
        slept = 0.0
        if self._tokens < 0:
            wait = -self._tokens / self.rate
            self._sleep(wait)
            slept = wait
            self._refill()
        return slept
