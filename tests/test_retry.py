"""Retry/backoff tests: driver-side policy behavior plus a recorded
flaky fetcher driven through paginated_source on executors."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from groove_to_helpscout_migration_tool_spark.sources.api import paginated_source
from groove_to_helpscout_migration_tool_spark.sources.retry import (
    TransientApiError,
    with_retries,
)

PAGE_SCHEMA = T.StructType(
    [
        T.StructField("rec_id", T.LongType()),
        T.StructField("payload", T.StringType()),
    ]
)


class TestRetryPolicy:
    def test_transient_then_success_backs_off_exponentially(self):
        calls, delays = [], []

        def flaky():
            calls.append(1)
            if len(calls) < 3:
                raise TransientApiError("429")
            return "ok"

        wrapped = with_retries(
            flaky, max_attempts=4, backoff_base=0.5, sleep=delays.append
        )
        assert wrapped() == "ok"
        assert len(calls) == 3
        assert delays == [0.5, 1.0]

    def test_budget_exhausted_reraises_original(self):
        def always_down():
            raise TransientApiError("503")

        wrapped = with_retries(always_down, max_attempts=3, sleep=lambda _: None)
        with pytest.raises(TransientApiError, match="503"):
            wrapped()

    def test_permanent_error_raises_immediately(self):
        calls = []

        def bad_request():
            calls.append(1)
            raise ValueError("422: not retryable")

        wrapped = with_retries(bad_request, max_attempts=5, sleep=lambda _: None)
        with pytest.raises(ValueError):
            wrapped()
        assert len(calls) == 1

    def test_success_needs_no_sleep(self):
        delays = []
        assert with_retries(lambda: 7, sleep=delays.append)() == 7
        assert delays == []


def make_scripted_flaky_fetch(fail_pages: dict[int, int]):
    """A recorded fetcher: page -> number of transient failures before
    success. Closure state lives inside the single mapInPandas task that
    fetches the page, which is exactly where retries happen. Defined as
    a closure so cloudpickle serializes it by value."""
    attempts: dict[int, int] = {}

    def fetch_page(page: int, per_page: int) -> list[dict]:
        total = 120
        seen = attempts.get(page, 0)
        if seen < fail_pages.get(page, 0):
            attempts[page] = seen + 1
            raise TransientApiError(f"429 on page {page} attempt {seen + 1}")
        start = (page - 1) * per_page
        return [
            {"rec_id": i, "payload": f"rec-{i}"}
            for i in range(start, min(start + per_page, total))
        ]

    return fetch_page


class TestRetryThroughSource:
    def test_flaky_pages_recover_to_identical_scan(self, spark):
        clean = make_scripted_flaky_fetch({})
        flaky = make_scripted_flaky_fetch({1: 2, 3: 1})
        kw = dict(total_count=120, schema=PAGE_SCHEMA, per_page=50,
                  requests_per_minute=600)
        want = sorted(
            r["rec_id"] for r in paginated_source(spark, clean, **kw).collect()
        )
        got = sorted(
            r["rec_id"]
            for r in paginated_source(
                spark, flaky, retry_attempts=3, retry_backoff=0.0, **kw
            ).collect()
        )
        assert got == want == list(range(120))

    def test_exhausted_page_fails_the_task(self, spark):
        doomed = make_scripted_flaky_fetch({2: 99})
        df = paginated_source(
            spark, doomed, total_count=120, schema=PAGE_SCHEMA, per_page=50,
            requests_per_minute=600, retry_attempts=2, retry_backoff=0.0,
        )
        with pytest.raises(Exception, match="429 on page 2"):
            df.collect()


class TestInTaskRetryGovernance:
    """retry_attempts on paginated_source itself (r12): retries happen
    INSIDE the task and every attempt re-acquires a bucket token, so a
    retried wire request can never bypass the rate budget (the chaos
    test asserts the aggregate bound on live TCP; this pins the unit
    semantics without sockets)."""

    def test_in_task_retries_recover_and_count_attempts(self, spark):
        flaky = make_scripted_flaky_fetch({1: 2, 3: 1})
        df = paginated_source(
            spark, flaky, total_count=120, schema=PAGE_SCHEMA, per_page=50,
            requests_per_minute=600, retry_attempts=3, retry_backoff=0.0,
        )
        assert sorted(r["rec_id"] for r in df.collect()) == list(range(120))

    def test_in_task_budget_exhaustion_reraises_cause(self, spark):
        doomed = make_scripted_flaky_fetch({2: 99})
        df = paginated_source(
            spark, doomed, total_count=120, schema=PAGE_SCHEMA, per_page=50,
            requests_per_minute=600, retry_attempts=2, retry_backoff=0.0,
        )
        with pytest.raises(Exception, match="429 on page 2"):
            df.collect()

    def test_default_is_single_attempt(self, spark):
        # retry_attempts defaults to 1: the pre-r12 behavior (transient
        # error fails the task) is unchanged for every existing caller
        flaky = make_scripted_flaky_fetch({1: 1})
        df = paginated_source(
            spark, flaky, total_count=120, schema=PAGE_SCHEMA, per_page=50,
            requests_per_minute=600,
        )
        with pytest.raises(Exception, match="429 on page 1"):
            df.collect()
