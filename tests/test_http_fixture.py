"""Recorded-fixture HTTP client driven end-to-end through the API
source/sink plumbing: probe -> paginated scan (with scripted 429/500
recoveries inside executor tasks) -> transform -> publish sink, with
receipts observable on the driver."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from groove_to_helpscout_migration_tool_spark.sources.api import (
    foreach_partition_sink,
    paginated_source,
    point_lookup_source,
)
from groove_to_helpscout_migration_tool_spark.sources.http_fixture import (
    ApiError,
    FixtureHttpClient,
    RecordedTransport,
    paged_script,
)
from groove_to_helpscout_migration_tool_spark.sources.retry import (
    TransientApiError,
    with_retries,
)

TICKETS = [{"rec_id": i, "payload": f"ticket-{i}"} for i in range(123)]
SCHEMA = T.StructType(
    [T.StructField("rec_id", T.LongType()), T.StructField("payload", T.StringType())]
)


class TestTransport:
    def test_replays_in_order_then_repeats_last(self):
        t = RecordedTransport({"u": [(429, "slow down"), (200, "ok")]})
        assert t.get("u") == (429, "slow down")
        assert t.get("u") == (200, "ok")
        assert t.get("u") == (200, "ok")

    def test_unknown_url_404s(self):
        assert RecordedTransport({}).get("nope")[0] == 404


class TestClientStatusTaxonomy:
    def _client(self, seq):
        base = "https://api.example.test/v1"
        return FixtureHttpClient(
            RecordedTransport({f"{base}/tickets?page=1&per_page=50": seq})
        )

    def test_429_and_5xx_are_transient(self):
        for code in (429, 500, 503):
            with pytest.raises(TransientApiError, match=str(code)):
                self._client([(code, "")]).fetch_page(1, 50)

    def test_other_4xx_is_permanent(self):
        with pytest.raises(ApiError, match="403"):
            self._client([(403, "")]).fetch_page(1, 50)

    def test_retry_wrapper_recovers_through_scripted_failures(self):
        client = self._client(
            [(429, ""), (500, ""), (200, json.dumps({"tickets": TICKETS[:50]}))]
        )
        delays = []
        fetch = with_retries(
            client.fetch_page, max_attempts=3, backoff_base=0.5, sleep=delays.append
        )
        assert len(fetch(1, 50)) == 50
        assert delays == [0.5, 1.0]  # bounded exponential backoff


class TestEndToEnd:
    def test_probe_scan_transform_publish(self, spark, tmp_path):
        spool = str(tmp_path / "receipts")
        script = paged_script(TICKETS, per_page=20, flaky={3: [429, 500], 6: [503]})
        client = FixtureHttpClient(RecordedTransport(script, spool_dir=spool))

        # S3 probe: one driver-side request for total_count
        total = client.probe_total()
        assert total == 123

        df = paginated_source(
            spark, client.fetch_page, total_count=total, schema=SCHEMA, per_page=20,
            requests_per_minute=600, retry_attempts=3, retry_backoff=0.0,
        )
        out = df.select(
            "rec_id", F.upper("payload").alias("payload"), "page"
        ).filter(F.col("rec_id") % 2 == 0)

        foreach_partition_sink(out, client.publish, requests_per_minute=6000)

        published = []
        for path in glob.glob(os.path.join(spool, "post-*.json")):
            with open(path) as f:
                post = json.load(f)
            assert post["url"].endswith("/conversations")
            published.extend(post["payload"])
        assert sorted(r["rec_id"] for r in published) == list(range(0, 123, 2))
        assert all(r["payload"].startswith("TICKET-") for r in published)

    def test_unrecoverable_page_fails_the_job(self, spark):
        script = paged_script(TICKETS, per_page=20, flaky={2: [500] * 10})
        client = FixtureHttpClient(RecordedTransport(script))
        df = paginated_source(
            spark, client.fetch_page, total_count=123, schema=SCHEMA, per_page=20,
            requests_per_minute=600, retry_attempts=2, retry_backoff=0.0,
        )
        with pytest.raises(Exception, match="500"):
            df.collect()

    def test_point_lookup_404_skips_row(self, spark):
        base = "https://api.example.test/v1"
        script = {
            f"{base}/tickets/7": [(200, json.dumps({"rec_id": 7, "payload": "t"}))],
            # id 8 absent -> 404 -> None -> dropped, reference's miss shape
        }
        client = FixtureHttpClient(RecordedTransport(script))
        got = point_lookup_source(
            spark, client.fetch_by_id, ids=["7", "8"], schema=SCHEMA,
            requests_per_minute=600,
        ).collect()
        assert [r["rec_id"] for r in got] == [7]
