"""Paginated API source + idempotent sink plumbing (SURVEY.md S1-S4, K1-K3).

The reference's acquire loop (``while page <= totalPages`` with a
metadata probe first) becomes:

    probe (1 driver-side request)
      -> spark.range(1, total_pages + 1, numPartitions=<rate budget>)
      -> mapInPandas(fetch_page)

so page fetches distribute across executors, each task throttled by its
share of the global budget (ratelimit.py), with no shuffle in the scan.
The fetch function is injected -- tests pass a local fake; production
passes an HTTP client. No live HTTP happens anywhere in this repo's
tests.

The returned frame is lazy: every action over it re-fetches its pages,
unless its consumer materializes it first -- the plans do, with a lazy
local checkpoint at their acquire boundary (plans/ticket_pipeline.py).

Resume (T2): ``start_page``/``stop_page`` filter the page range BEFORE
fetching (partition pruning of remote work). Point lookups (S4) take an
explicit id list. Idempotency (T3) composes with operators.dedup_anti_join
upstream of the sink.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ratelimit import TokenBucket, per_task_rate

# fetch_page(page:int, per_page:int) -> list[dict] (one dict per record)
FetchPage = Callable[[int, int], list[dict[str, Any]]]
# fetch_by_id(id) -> dict | None
FetchById = Callable[[Any], dict[str, Any] | None]


def paginated_source(
    spark: SparkSession,
    fetch_page: FetchPage,
    total_count: int,
    schema: T.StructType,
    per_page: int = 50,
    requests_per_minute: int = 30,
    start_page: int = 1,
    stop_page: int | None = None,
    window_seconds: float = 60.0,
    retry_attempts: int = 1,
    retry_backoff: float = 0.0,
) -> DataFrame:
    """S1/S2: distributed paginated scan with a per-task token bucket.

    ``total_count`` comes from the S3 metadata probe (one driver-side
    call by the caller). The page axis becomes the partition axis; the
    partition count is sized so each task's rate share stays >= 1
    request/min (the conservative global-budget split).

    ``retry_attempts`` > 1 retries transient fetch failures (429/5xx ->
    TransientApiError) INSIDE the task, with EVERY attempt re-acquiring
    a token first. Wrapping the fetch callable in with_retries OUTSIDE
    this source instead would let retry traffic bypass the governor (the
    bucket acquires once per page, not per wire request) -- exactly the
    hammer-a-throttled-API behavior a 429 demands the client stop
    (VERDICT r11 task 7; the reference throttles around failures,
    SyncCommandBase.php:163-193). The aggregate budget then holds by
    construction under failure injection, not just on the happy path.
    """
    total_pages = math.ceil(total_count / per_page)
    stop = total_pages if stop_page is None else min(stop_page, total_pages)
    if start_page > stop:
        # empty range still carries the OUTPUT schema (records + page)
        return spark.createDataFrame(
            [], T.StructType(schema.fields + [T.StructField("page", T.LongType())])
        )
    n_pages = stop - start_page + 1
    num_parts = min(n_pages, max(1, requests_per_minute))
    pages = spark.range(start_page, stop + 1, numPartitions=num_parts).withColumnRenamed(
        "id", "page"
    )
    rate = per_task_rate(requests_per_minute, num_parts)
    out_schema = T.StructType(schema.fields + [T.StructField("page", T.LongType())])

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .retry import with_retries

        bucket = TokenBucket(rate=rate, window=window_seconds)

        def fetch_once(page: int) -> list[dict[str, Any]]:
            bucket.acquire()  # every ATTEMPT consumes budget, retries too
            return fetch_page(page, per_page)

        paced = with_retries(fetch_once, max_attempts=retry_attempts, backoff_base=retry_backoff)
        names = [f.name for f in schema.fields]
        for pdf in batches:
            for page in pdf["page"]:
                records = paced(int(page))
                out = pd.DataFrame(records, columns=names)
                out["page"] = int(page)
                yield out

    return pages.mapInPandas(fetch, schema=out_schema)


def point_lookup_source(
    spark: SparkSession,
    fetch_by_id: FetchById,
    ids: list[Any],
    schema: T.StructType,
    requests_per_minute: int = 30,
) -> DataFrame:
    """S4: fetch an explicit id list (resume-by-key / retry path)."""
    num_parts = min(len(ids), max(1, requests_per_minute)) or 1
    ids_df = spark.createDataFrame([(i,) for i in ids], "lookup_id string").repartition(
        num_parts
    )
    rate = per_task_rate(requests_per_minute, num_parts)

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bucket = TokenBucket(rate=rate)
        names = [f.name for f in schema.fields]
        for pdf in batches:
            rows = []
            for i in pdf["lookup_id"]:
                bucket.acquire()
                rec = fetch_by_id(i)
                if rec is not None:
                    rows.append(rec)
            yield pd.DataFrame(rows, columns=names)

    return ids_df.mapInPandas(fetch, schema=schema)


def foreach_partition_sink(
    df: DataFrame,
    publish: Callable[[list[dict[str, Any]]], None],
    requests_per_minute: int = 200,
    window_seconds: float = 60.0,
) -> None:
    """K1/K2: rate-limited per-record publish via foreachPartition.

    ``publish`` receives record batches; it must be idempotent (the
    reference guards re-runs with the J5 duplicate check upstream)."""
    num_parts = df.rdd.getNumPartitions()
    rate = per_task_rate(requests_per_minute, num_parts)

    def sink(rows) -> None:
        bucket = TokenBucket(rate=rate, window=window_seconds)
        batch = []
        for row in rows:
            bucket.acquire()
            batch.append(row.asDict(recursive=True))
        if batch:
            publish(batch)

    df.foreachPartition(sink)
