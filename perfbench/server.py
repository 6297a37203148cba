"""Groove + HelpScout stub API, one process, a fixed pool of handler threads.

    python3 perfbench/server.py --seed 7 --tickets 2000 --customers 800 --threads 4

Builds the seeded corpus (corpus.py), prints ``READY <port>`` on stdout
and serves until terminated or until its stdin closes (so it never
outlives the benchmark that started it):

    GET  /groove/v1/<resource>?page=P&per_page=N   paginated scan / probe
    GET  /groove/v1/<dim>?page=1&per_page=N        small Groove directories
    GET  /hs/v2/<dim>?page=1&per_page=N            HelpScout directories
    POST /hs/v2/customers | /hs/v2/conversations   publish; one receipt per record
    GET  /admin/stats                              counters, arrival stamps, receipts
    POST /admin/reset                              new round: clear stats, re-arm chaos

Chaos: a seeded share of page URLs answers 429, 429 with Retry-After, or
5xx on its first requests of a round, then 200. Arrival stamps are
``time.monotonic()``, which every process on the host shares, so the
benchmark can line them up with its own clock.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys
import threading
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import urlsplit

import corpus as corpus_mod

GROOVE_DIMS = {"mailboxes": "groove_mailboxes", "agents": "groove_agents",
               "agent_dir": "agent_dir"}
HS_DIMS = {"mailboxes": "hs_mailboxes", "users": "hs_users",
           "customers": "hs_customers", "conversations": "hs_conversations"}
RECEIPT_KEY = {"customers": "source_email", "conversations": "groove_ticket_number"}
RETRY_AFTER_S = "1"  # whole seconds, as HTTP gives it


def record_digest(rec: dict) -> int:
    """Order-free content digest of one published record (64-bit)."""
    blob = json.dumps(rec, sort_keys=True, separators=(",", ":")).encode()
    return int.from_bytes(hashlib.sha256(blob).digest()[:8], "big")


class Receipts:
    def __init__(self) -> None:
        self.keys: Counter = Counter()
        self.checksum = 0
        self.last_accepted = 0.0

    def add(self, records: list[dict], key: str, now: float) -> None:
        for rec in records:
            self.keys[str(rec.get(key))] += 1
            self.checksum = (self.checksum + record_digest(rec)) % (1 << 64)
        self.last_accepted = now

    def summary(self) -> dict:
        return {"records": sum(self.keys.values()), "distinct": len(self.keys),
                "duplicated": sum(1 for v in self.keys.values() if v > 1),
                "checksum": self.checksum, "last_accepted": self.last_accepted}


class StubApi:
    def __init__(self, c: corpus_mod.Corpus) -> None:
        self.corpus = c
        self.routes: dict[str, bytes] = {}
        for resource in corpus_mod.SCANNED:
            recs, per = c.records(resource), corpus_mod.PER_PAGE[resource]
            meta = {"pagination": {"total_count": len(recs), "per_page": per}}
            self.routes[f"/groove/v1/{resource}?page=1&per_page=1"] = json.dumps(
                {resource: recs[:1], "meta": meta}).encode()
            for page in range(1, c.pages(resource) + 1):
                body = {resource: recs[(page - 1) * per: page * per], "meta": meta}
                self.routes[f"/groove/v1/{resource}?page={page}&per_page={per}"] = (
                    json.dumps(body).encode())
        self.dims = {f"/groove/v1/{k}": getattr(c, v) for k, v in GROOVE_DIMS.items()}
        self.dims.update({f"/hs/v2/{k}": getattr(c, v) for k, v in HS_DIMS.items()})
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self.lock:
            self.calls: Counter = Counter()
            # (arrival, end, status, path, task, answered with Retry-After)
            self.scan_gets: list[tuple] = []
            self.other_gets = 0
            self.posts: list[tuple] = []       # (arrival, end, status, n_records)
            self.handler_s: list[float] = []
            self.receipts = {r: Receipts() for r in RECEIPT_KEY}

    def get(self, path: str) -> tuple[int, bytes, dict]:
        body = self.routes.get(path)
        if body is not None:
            with self.lock:
                i = self.calls[path]
                self.calls[path] = i + 1
            chaos = self.corpus.chaos.get(path, [])
            if i < len(chaos):
                code = chaos[i]
                if code == "429RA":
                    return 429, b'{"error":"slow down"}', {"Retry-After": RETRY_AFTER_S}
                return int(code), json.dumps({"error": code}).encode(), {}
            return 200, body, {}
        parts = urlsplit(path)
        dim = self.dims.get(parts.path)
        if dim is None:
            return 404, b'{"error":"not found"}', {}
        name = parts.path.rsplit("/", 1)[1]
        return 200, json.dumps({name: dim}).encode(), {}

    def post(self, path: str, payload: list[dict], now: float) -> int:
        resource = path.rsplit("/", 1)[1]
        if not path.startswith("/hs/v2/") or resource not in RECEIPT_KEY:
            return 404
        with self.lock:
            self.receipts[resource].add(payload, RECEIPT_KEY[resource], now)
        return 201

    def stats(self) -> dict:
        with self.lock:
            return {"scan_gets": self.scan_gets, "other_gets": self.other_gets,
                    "posts": self.posts, "handler_s": self.handler_s,
                    "receipts": {r: v.summary() for r, v in self.receipts.items()}}


class PooledHTTPServer(HTTPServer):
    """HTTPServer whose requests run on a fixed pool of worker threads."""

    request_queue_size = 64

    def __init__(self, addr, handler, workers: int) -> None:
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=workers)

    def process_request(self, request, client_address) -> None:
        self.pool.submit(self._work, request, client_address)

    def _work(self, request, client_address) -> None:
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


def make_handler(api: StubApi):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args) -> None:
            pass

        def _reply(self, status: int, body: bytes, headers: dict | None = None) -> None:
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            for k, v in (headers or {}).items():
                self.send_header(k, v)
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:
            t0 = time.monotonic()
            if self.path == "/admin/stats":
                self._reply(200, json.dumps(api.stats()).encode())
                return
            # a scan task prefixes its identity: /task-<stage>.<partition>.<attempt>/...
            task, path = "", self.path
            if path.startswith("/task-"):
                task, path = path[6:].split("/", 1)
                path = "/" + path
            status, body, headers = api.get(path)
            self._reply(status, body, headers)
            t1 = time.monotonic()
            with api.lock:
                if path in api.routes and not path.endswith("&per_page=1"):
                    api.scan_gets.append((t0, t1, status, path, task, "Retry-After" in headers))
                else:
                    api.other_gets += 1
                api.handler_s.append(t1 - t0)

        def do_POST(self) -> None:
            t0 = time.monotonic()
            n = int(self.headers.get("Content-Length", 0))
            raw = self.rfile.read(n)
            if self.path == "/admin/reset":
                api.reset()
                self._reply(200, b"{}")
                return
            payload = json.loads(raw or b"[]")
            status = api.post(self.path, payload, t0)
            self._reply(status, b'{"ok":true}' if status == 201 else b"{}")
            t1 = time.monotonic()
            with api.lock:
                api.posts.append((t0, t1, status, len(payload)))
                api.handler_s.append(t1 - t0)

    return Handler


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--tickets", type=int, required=True)
    ap.add_argument("--customers", type=int, required=True)
    ap.add_argument("--threads", type=int, required=True)
    args = ap.parse_args()
    api = StubApi(corpus_mod.build(args.seed, args.tickets, args.customers))
    httpd = PooledHTTPServer(("127.0.0.1", 0), make_handler(api), args.threads)
    print(f"READY {httpd.server_port}", flush=True)
    threading.Thread(target=lambda: (sys.stdin.read(), httpd.shutdown()), daemon=True).start()
    try:
        httpd.serve_forever(poll_interval=0.1)
    finally:
        httpd.pool.shutdown(wait=True)
        httpd.server_close()


if __name__ == "__main__":
    sys.exit(main())
