"""Retry-with-backoff for injected API fetchers (SURVEY.md T4 adjacent).

The reference's operational posture is "batches may fail anytime"
(reference README.md:175) with per-record try/catch fault isolation
(TicketProcessor.php:450-461); it never retries -- a failed call is an
error-report row. At scale, transient API failures (429/5xx) are the
COMMON case, so the engine adds the standard production layer the
reference lacks: bounded exponential backoff around the injected fetch
callable, with permanent errors re-raised immediately so record-level
fault isolation (operators/errors) still sees them.

Everything is injectable and deterministic: no RNG jitter (executors
de-synchronize naturally via the token bucket), ``sleep`` is a
parameter so tests record delays instead of waiting.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from typing import Any, TypeVar

R = TypeVar("R")


class TransientApiError(Exception):
    """A retryable failure: rate-limit (429) or server-side (5xx) analog."""


BACKOFF_FACTOR = 2.0  # each retry waits twice as long as the one before


def with_retries(
    fn: Callable[..., R],
    max_attempts: int = 3,
    backoff_base: float = 0.5,
    sleep: Callable[[float], Any] = time.sleep,
) -> Callable[..., R]:
    """Wrap ``fn`` with bounded exponential backoff on ``TransientApiError``.

    Any other exception propagates immediately (it is a data error for
    the side-channel, not infrastructure weather). The last transient
    failure is re-raised unchanged once the attempt budget is exhausted,
    so callers see the true cause. Wraps per-call fetchers used inside
    mapInPandas tasks: state is per-call, nothing is shared across tasks.
    """
    if max_attempts < 1:
        raise ValueError("max_attempts must be >= 1")

    def wrapped(*args: Any, **kwargs: Any) -> R:
        delay = backoff_base
        for attempt in range(1, max_attempts + 1):
            try:
                return fn(*args, **kwargs)
            except TransientApiError:
                if attempt == max_attempts:
                    raise
                sleep(delay)
                delay *= BACKOFF_FACTOR
        raise AssertionError("unreachable")

    return wrapped
