"""The migration workload: sync-customers then sync-tickets over HTTP.

The composition is the product's public path, as in
tests/test_http_live.py: ``probe_total`` -> ``paginated_source`` per
resource (with in-task retries) -> ``transform_customers`` /
``build_conversations`` -> ``foreach_partition_sink``, with the error
frames collected. Nothing is cached here, so anything the product
recomputes shows up as extra wire requests at the server.
"""

from __future__ import annotations

import base64
import functools
import json
import os
import subprocess
import sys
import time
import urllib.request
from collections import Counter
from types import SimpleNamespace

from pyspark.sql import types as T

from groove_to_helpscout_migration_tool_spark import schemas
from groove_to_helpscout_migration_tool_spark.observability import PipelineMetrics
from groove_to_helpscout_migration_tool_spark.plans import (
    build_conversations,
    transform_customers,
)
from groove_to_helpscout_migration_tool_spark.sources.api import (
    foreach_partition_sink,
    paginated_source,
)
from groove_to_helpscout_migration_tool_spark.sources.http_fixture import FixtureHttpClient
from groove_to_helpscout_migration_tool_spark.sources.http_live import LiveHttpTransport
from groove_to_helpscout_migration_tool_spark.sources.ratelimit import per_task_rate

import corpus as corpus_mod
from server import record_digest

HERE = os.path.dirname(os.path.abspath(__file__))
RETRY_ATTEMPTS = 3
RETRY_BACKOFF_S = 0.02
DIM_PAGE = 100_000  # one GET returns a whole directory
LATENCY_SLACK_S = 0.15 * 1.5


def _no_page(schema: T.StructType) -> T.StructType:
    return T.StructType([f for f in schema.fields if f.name != "page"])


SCHEMAS = {
    "customers": schemas.GROOVE_CUSTOMER,
    "tickets": _no_page(schemas.GROOVE_TICKET),
    "messages": _no_page(schemas.GROOVE_MESSAGE),
    "attachments": schemas.GROOVE_ATTACHMENT,
}
GROOVE_DIM_SCHEMAS = {"mailboxes": "name string", "agents": "email string",
                      "agent_dir": "agent_id string, email string"}
HS_DIM_SCHEMAS = {"mailboxes": schemas.HELPSCOUT_MAILBOX, "users": schemas.HELPSCOUT_USER,
                  "customers": schemas.HELPSCOUT_CUSTOMER_DIM,
                  "conversations": schemas.HELPSCOUT_CONVERSATION_DIM}


def decode_attachments(records: list[dict]) -> list[dict]:
    for r in records:
        if r["data"] is not None:
            r["data"] = base64.b64decode(r["data"])
    return records


class Pages:
    """FetchPage for one Groove resource, as the product's client fetches it.

    The URL names the scan instance that sends it (task and fetch
    object; a task that runs two copies of one scan holds two token
    buckets), so the server can check each instance's share of the
    budget. Attachment payloads travel as base64 and are decoded here.
    """

    def __init__(self, base: str, resource: str) -> None:
        self.base = base
        self.resource = resource

    def __call__(self, page: int, per_page: int) -> list[dict]:
        from pyspark import TaskContext

        tc = TaskContext.get()
        task = (f"{tc.stageId()}.{tc.partitionId()}.{tc.attemptNumber()}"
                f".{os.getpid()}.{id(self):x}")
        client = FixtureHttpClient(LiveHttpTransport(),
                                   base_url=f"{self.base}/task-{task}/groove/v1")
        records = client.fetch_page(page, per_page, self.resource)
        return decode_attachments(records) if self.resource == "attachments" else records


class ApiProcess:
    """The stub API server process and its admin path."""

    def __init__(self, seed: int, size: dict, threads: int) -> None:
        cmd = [sys.executable, os.path.join(HERE, "server.py"), "--seed", str(seed),
               "--tickets", str(size["tickets"]), "--customers", str(size["customers"]),
               "--threads", str(threads)]
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     text=True)
        line = self.proc.stdout.readline().split()
        if not line or line[0] != "READY":
            self.close()
            raise RuntimeError("API server did not start")
        self.base = f"http://127.0.0.1:{line[1]}"

    def _call(self, path: str, data: bytes | None = None) -> dict:
        with urllib.request.urlopen(self.base + path, data=data, timeout=30) as r:
            return json.loads(r.read())

    def reset(self) -> None:
        self._call("/admin/reset", b"{}")

    def stats(self) -> dict:
        return self._call("/admin/stats")

    def close(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


def _dims(spark, client: FixtureHttpClient, specs: dict) -> dict:
    return {name: spark.createDataFrame(client.fetch_page(1, DIM_PAGE, name), schema)
            for name, schema in specs.items()}


def run_round(spark, base: str, budget: dict, tracer, checkpoint: bool) -> dict:
    """One migration: sync-customers, then sync-tickets. -> round record.

    ``checkpoint`` (traced runs) materializes the acquired frames and the
    conversations so that acquire, process and publish time apart.
    """
    groove = FixtureHttpClient(LiveHttpTransport(), base_url=f"{base}/groove/v1")
    hs = FixtureHttpClient(LiveHttpTransport(), base_url=f"{base}/hs/v2")
    g_rpm, h_rpm, window = budget["groove"], budget["helpscout"], budget["window_s"]

    def scan(resource: str, total: int):
        df = paginated_source(
            spark, Pages(base, resource), total_count=total, schema=SCHEMAS[resource],
            per_page=corpus_mod.PER_PAGE[resource], requests_per_minute=g_rpm,
            window_seconds=window, retry_attempts=RETRY_ATTEMPTS,
            retry_backoff=RETRY_BACKOFF_S)
        return df.localCheckpoint(eager=True) if checkpoint else df

    def publish(df, resource: str) -> None:
        with tracer.span("sources.publish"):
            foreach_partition_sink(df, functools.partial(hs.publish, resource=resource),
                                   requests_per_minute=h_rpm, window_seconds=window)

    out: dict = {}
    with tracer.span("migrate") as root:
        out["t_start"] = time.monotonic()
        # ---- sync-customers ----
        with tracer.span("sources.probe"):
            n_customers = groove.probe_total("customers")
        with tracer.span("sources.acquire"):
            customers = scan("customers", n_customers)
        with tracer.span("plans.customers"):
            hs_customers, warnings = transform_customers(customers, metrics=PipelineMetrics())
            out["warnings"] = Counter(r["error_type"] for r in warnings.collect())
            if checkpoint:
                hs_customers = hs_customers.localCheckpoint(eager=True)
        publish(hs_customers, "customers")
        # ---- sync-tickets ----
        out["t_tickets"] = time.monotonic()
        with tracer.span("sources.probe"):
            totals = {r: groove.probe_total(r) for r in ("tickets", "messages", "attachments")}
            gd = _dims(spark, groove, GROOVE_DIM_SCHEMAS)
            hd = _dims(spark, hs, HS_DIM_SCHEMAS)
        with tracer.span("sources.acquire"):
            g = SimpleNamespace(
                tickets=scan("tickets", totals["tickets"]),
                messages=scan("messages", totals["messages"]),
                attachments=scan("attachments", totals["attachments"]),
                customers=scan("customers", n_customers),
                mailboxes=gd["mailboxes"], agents=gd["agents"], agent_dir=gd["agent_dir"])
        with tracer.span("plans.tickets"):
            conversations, errors = build_conversations(
                g, SimpleNamespace(**hd), metrics=PipelineMetrics())
            out["errors"] = Counter(r["error_type"] for r in errors.collect())
            if checkpoint:
                conversations = conversations.localCheckpoint(eager=True)
        publish(conversations, "conversations")
    out["root"] = root
    return out


def reference(spark, c: corpus_mod.Corpus) -> dict:
    """The same corpus through the same plans, in-process, without HTTP."""
    def frame(records, schema):
        return spark.createDataFrame(records, schema)

    g = SimpleNamespace(
        tickets=frame(c.tickets, SCHEMAS["tickets"]),
        messages=frame(c.messages, SCHEMAS["messages"]),
        attachments=frame(decode_attachments([dict(a) for a in c.attachments]),
                          SCHEMAS["attachments"]),
        customers=frame(c.customers, SCHEMAS["customers"]),
        mailboxes=frame(c.groove_mailboxes, GROOVE_DIM_SCHEMAS["mailboxes"]),
        agents=frame(c.groove_agents, GROOVE_DIM_SCHEMAS["agents"]),
        agent_dir=frame(c.agent_dir, GROOVE_DIM_SCHEMAS["agent_dir"]))
    hs = SimpleNamespace(**{k: frame(getattr(c, f"hs_{k}"), s)
                            for k, s in HS_DIM_SCHEMAS.items()})
    hs_customers, _ = transform_customers(g.customers)
    conversations, _ = build_conversations(g, hs)

    def digest(df) -> int:
        return sum(record_digest(r.asDict(recursive=True)) for r in df.collect()) % (1 << 64)

    return {"customers": digest(hs_customers), "conversations": digest(conversations)}


def max_in_window(stamps: list[float], width: float) -> int:
    """Most arrivals inside any sliding window of ``width`` seconds."""
    stamps, j, worst = sorted(stamps), 0, 0
    for i in range(len(stamps)):
        while stamps[i] - stamps[j] > width:
            j += 1
        worst = max(worst, i - j + 1)
    return worst


def check_round(rnd: dict, stats: dict, c: corpus_mod.Corpus, ref: dict,
                budget: dict | None) -> list[str]:
    """-> problems; empty when every output of the round is right."""
    problems = []
    rc = stats["receipts"]
    for resource, expected in (("customers", len(c.customers)),
                               ("conversations", c.expected_conversations)):
        got = rc[resource]
        if not (got["records"] == got["distinct"] == expected and got["duplicated"] == 0):
            problems.append(f"{resource}: {got['records']} receipts, {got['distinct']} "
                            f"distinct, expected {expected} exactly once")
        if got["checksum"] != ref[resource]:
            problems.append(f"{resource}: receipt checksum differs from the in-process run")
    if rnd["errors"] != c.expected_errors:
        problems.append(f"errors {dict(rnd['errors'])} != planted {dict(c.expected_errors)}")
    if rnd["warnings"] != c.expected_warnings:
        problems.append(f"warnings {dict(rnd['warnings'])} != planted {dict(c.expected_warnings)}")
    if budget is not None:
        for name, worst, limit in window_peaks(stats, c, budget):
            if worst > limit:
                problems.append(f"{name}: {worst} requests in one window > budget {limit}")
    return problems


def window_peaks(stats: dict, c: corpus_mod.Corpus, budget: dict) -> list[tuple]:
    """(what, most requests in any probe window, allowed).

    The governor gives each token bucket of a ``paginated_source`` scan
    the share ``budget // partitions`` (sources/ratelimit.py), so every
    scan instance is checked against its share, and the publish path
    against the HelpScout budget. The probe is the latency-tolerant one
    of tests/test_http_live.py: its 0.85 of a 1.5 s window leaves
    LATENCY_SLACK_S for request latency, and the same slack is left
    here, where the four cores are busy. The Groove budget over all
    scans together is reported (``sources.acquire_budget_use``), not
    checked: a plan that recomputes a scan in several concurrent stages
    spends it more than once."""
    probe = budget["window_s"] - LATENCY_SLACK_S
    by_task: dict[tuple, list[tuple]] = {}
    for g in stats["scan_gets"]:
        by_task.setdefault((g[3].split("?")[0].rsplit("/", 1)[1], g[4]), []).append(g)
    out = []
    for (resource, task), gets in sorted(by_task.items()):
        gets.sort()
        # the transport retries a 429 that carries Retry-After in place, paced
        # by the server and not by the token bucket (sources/http_live.py)
        stamps = [g[0] for prev, g in zip([None] + gets, gets)
                  if not (prev is not None and prev[5] and prev[3] == g[3])]
        share = per_task_rate(budget["groove"], min(c.pages(resource), budget["groove"]))
        out.append((f"{resource} task {task}", max_in_window(stamps, probe), share))
    out.append(("publish", max_in_window([p[0] for p in stats["posts"]], probe),
                budget["helpscout"]))
    return out


def missed_tickets(stats: dict, c: corpus_mod.Corpus) -> int:
    got = stats["receipts"]["conversations"]
    dup = got["duplicated"]
    return abs(c.expected_conversations - got["distinct"]) + dup


def server_counters(stats: dict, budget: dict | None) -> dict:
    """Per-round sources.* counters from the server's own log; the budget
    shares only where a budget binds (``budget`` given)."""
    gets = stats["scan_gets"]
    ok = [g for g in gets if g[2] == 200]
    distinct = len({g[3] for g in ok})
    posts = stats["posts"]
    records = sum(p[3] for p in posts)
    first = min(g[0] for g in gets)
    last = max(g[1] for g in gets)
    busy = sum(g[1] - g[0] for g in gets)
    handler = sorted(stats["handler_s"])
    out = {
        "sources.http_gets": len(gets) + stats["other_gets"],
        "sources.http_posts": len(posts),
        "sources.records_per_post": records / len(posts),
        "sources.fetch_amplification": len(ok) / distinct,
        "sources.retry_share": (len(gets) - len(ok)) / len(gets),
        "sources.inflight_mean": busy / (last - first),
        "sources.server_p50_ms": 1000 * handler[len(handler) // 2],
        "sources.server_p99_ms": 1000 * handler[min(len(handler) - 1, int(len(handler) * 0.99))],
    }
    if budget is not None:
        window = budget["window_s"]
        get_span = max(last - first, window)
        post_span = max(max(p[0] for p in posts) - min(p[0] for p in posts), window)
        out["sources.acquire_budget_use"] = len(gets) / (get_span / window) / budget["groove"]
        out["sources.publish_budget_use"] = (
            len(posts) / (post_span / window) / budget["helpscout"])
    return out
