"""Token-bucket rate limiting (SURVEY.md T1; reference:
SyncCommandBase.php:163-193, config/services.php:41,47).

The reference throttles per-service (Groove 30/min, HelpScout 200/min)
with a sleep-until-window-reset counter in a single thread. On Spark the
budget must hold ACROSS executors with no shared state, so the governor
is conservative by construction (SURVEY.md section 4): each task gets
budget/num_partitions requests per window. Partition counts therefore
bound worst-case concurrency -- callers size the fetch plan's partitions
to match the budget, not the data size.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field


@dataclass
class TokenBucket:
    """Per-task token bucket: ``rate`` requests per ``window`` seconds.

    Used INSIDE mapInPandas/foreachPartition closures; one instance per
    task, sized by ``per_task_rate``.
    """

    rate: int
    window: float = 60.0
    _count: int = field(default=0, init=False)
    _window_start: float = field(default=0.0, init=False)
    slept: float = field(default=0.0, init=False)  # telemetry

    def acquire(self) -> None:
        now = time.monotonic()
        if self._window_start == 0.0:
            self._window_start = now
        elapsed = now - self._window_start
        if elapsed >= self.window:
            self._window_start, self._count = now, 0
        elif self._count >= self.rate:
            wait = self.window - elapsed
            self.slept += wait
            time.sleep(wait)  # reference parity: sleep(60 - elapsed)
            self._window_start, self._count = time.monotonic(), 0
        self._count += 1


def per_task_rate(total_per_minute: int, num_partitions: int) -> int:
    """Split a global budget across tasks, conservatively (floor, min 1)."""
    return max(1, total_per_minute // max(1, num_partitions))
