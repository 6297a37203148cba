"""Seeded Groove-shaped corpus for the migration workloads.

One pure function of (seed, size) builds everything the API server serves
and everything the benchmark checks against:

  - Groove: customers, tickets, messages, attachments, mailboxes, agents
    and the agent-id -> email directory;
  - HelpScout: mailboxes, users, the customer directory and the
    conversations that are already migrated (the J5 duplicate skip);
  - the chaos schedule: which page URLs answer 429 / 429 + Retry-After /
    5xx before they answer 200;
  - the expected outcome: conversation count and error count per
    ``error_type``, derived from the planted edge cases alone.

Every edge case is planted on exactly ``round(rate * n)`` records, at
seeded positions, and each record carries at most one, so the expected
counts follow from the plants without running the pipeline and the
corpus has the same shape (record and page counts) for every seed; the
seed moves contents and positions only. Page sizes are the reference's:
tickets 10, customers and messages 50.
"""

from __future__ import annotations

import base64
import random
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta

PER_PAGE = {"customers": 50, "tickets": 10, "messages": 50, "attachments": 50}
SCANNED = tuple(PER_PAGE)

GROOVE = "https://api.groovehq.com/v1"
EPOCH = datetime(2016, 1, 1)
ATTACH_CAP = 10_485_760  # the pipeline's size guard (TicketProcessor.php:301)
N_AGENTS = 10            # agents with a HelpScout user
N_GHOST_AGENTS = 2       # agents in the directory with no HelpScout user
STATES = ["opened", "pending", "closed", "spam", "unread"]
GROOVE_MAILBOXES = ["Support", "Billing", "Sales", "Returns"]
HS_MAILBOXES = [(10, "Support"), (11, "BILLING"), (12, "Default"),
                (13, "sales"), (14, "Returns")]
MAGIC = [b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff\xe0", b"%PDF-1.4", b"GIF89a", b"\x00\x01"]

# planted edge-case rates
CUSTOMER_EDGES = {"multi_email": 0.05, "invalid_email": 0.04,
                  "long_last_name": 0.03, "long_org": 0.03}
TICKET_EDGES = {"no_link": 0.03, "unresolvable": 0.03, "bad_state": 0.03,
                "unknown_mailbox": 0.05, "migrated": 0.08}
GHOST_AUTHOR = 0.03      # share of agent-authored messages by an unknown agent
ATTACH_SHARE = 0.15      # share of messages with attachments
ATTACH_EDGES = {"oversize": 0.05, "failed": 0.05}  # over the size cap / download failed
CHAOS = 0.2              # share of page URLs that fail before succeeding, at least
                         # one per kind
MAX_MESSAGES = 6         # messages per ticket cycle through 1..MAX_MESSAGES
CHAOS_KINDS = ([429], [429, 500], [503], ["429RA"])


@dataclass
class Corpus:
    customers: list[dict]
    tickets: list[dict]
    messages: list[dict]
    attachments: list[dict]          # data base64-encoded (JSON wire form)
    groove_mailboxes: list[dict]
    groove_agents: list[dict]
    agent_dir: list[dict]
    hs_mailboxes: list[dict]
    hs_users: list[dict]
    hs_customers: list[dict]
    hs_conversations: list[dict]
    chaos: dict[str, list] = field(default_factory=dict)  # path -> failures
    expected_conversations: int = 0
    expected_errors: Counter = field(default_factory=Counter)
    expected_warnings: Counter = field(default_factory=Counter)

    def records(self, resource: str) -> list[dict]:
        return getattr(self, resource)

    def pages(self, resource: str) -> int:
        n, per = len(self.records(resource)), PER_PAGE[resource]
        return (n + per - 1) // per


def _plant(rng: random.Random, n: int, rates: dict[str, float]) -> list[str | None]:
    """-> one edge name (or None) per record: exactly ``round(rate * n)``
    records per edge, at seeded positions."""
    edges = [name for name, rate in rates.items() for _ in range(round(rate * n))]
    edges += [None] * (n - len(edges))
    rng.shuffle(edges)
    return edges


def _ts(seconds: int, minutes: int) -> str:
    t = EPOCH + timedelta(seconds=seconds, minutes=minutes)
    return t.strftime("%Y-%m-%d %H:%M:%S")


def build(seed: int, tickets: int, customers: int) -> Corpus:
    rng = random.Random(seed)
    warnings: Counter = Counter()

    # ---- customers (P1-P5 edge cases) ----
    n_customers, customers, linkable = customers, [], []
    for i, edge in enumerate(_plant(rng, n_customers, CUSTOMER_EDGES)):
        email = f"cust{i}@ex{i % 7}.com"
        name = f"First{i} Last{i}"
        org = f"Org {i % 97}"
        if edge == "multi_email":
            email = f"{email};alt{i}@ex.org"
        elif edge == "invalid_email":
            email = f"{email} not-an-email"
            warnings["InvalidEmailWarning"] += 1
        elif edge == "long_last_name":
            name = f"First{i} " + "L" * (41 + i % 9)
            warnings["TruncationWarning"] += 1
        elif edge == "long_org":
            org = "O" * (61 + i % 9)
            warnings["TruncationWarning"] += 1
        if edge not in ("multi_email", "invalid_email"):
            linkable.append(email)
        customers.append({
            "email": email, "name": name, "about": f"about {i}",
            "twitter_username": f"tw{i}" if i % 3 == 0 else None,
            "linkedin_username": f"li{i}" if i % 4 == 0 else None,
            "title": f"Title {i % 13}", "company_name": org,
            "phone_number": f"555-{i:04d}" if i % 2 == 0 else None,
            "location": f"City {i % 31}",
            "website_url": f"https://c{i}.ex" if i % 5 == 0 else None,
        })
    hs_customers = [
        {"id": 5000 + k, "email": e.upper() if k % 4 == 0 else e}
        for k, e in enumerate(linkable) if k % 5 < 3
    ]

    # ---- agents, mailboxes ----
    agent_email = {f"agent-{a}": f"agent{a}@co.test"
                   for a in range(1, N_AGENTS + N_GHOST_AGENTS + 1)}
    groove_agents = [{"email": agent_email[f"agent-{a}"]} for a in range(1, N_AGENTS + 1)]
    agent_dir = [{"agent_id": k, "email": v.upper() if k.endswith("3") else v}
                 for k, v in agent_email.items()]
    hs_users = [{"id": 100 + a, "firstName": "Agent", "lastName": str(a),
                 "email": agent_email[f"agent-{a}"]} for a in range(1, N_AGENTS + 1)]
    hs_mailboxes = [{"id": i, "name": n, "email": f"{n.lower()}@co.test"}
                    for i, n in HS_MAILBOXES]

    # ---- tickets -> messages -> attachments ----
    errors: Counter = Counter()
    n_tickets, tickets, messages, attachments, migrated = tickets, [], [], [], []
    n_good = 0
    n_messages = [1 + i % MAX_MESSAGES for i in range(n_tickets)]
    rng.shuffle(n_messages)
    n_msg = sum(n_messages)
    ghost = iter(_plant(rng, sum(k // 2 for k in n_messages), {"ghost": GHOST_AUTHOR}))
    attached = _plant(rng, n_msg, {"one": ATTACH_SHARE / 2, "two": ATTACH_SHARE / 2})
    attach_edge = iter(_plant(rng, attached.count("one") + 2 * attached.count("two"),
                              ATTACH_EDGES))
    attached = iter(attached)
    for n, edge in enumerate(_plant(rng, n_tickets, TICKET_EDGES), start=1):
        cust = linkable[rng.randrange(len(linkable))]
        href = f"{GROOVE}/customers/{cust}"
        if edge == "no_link":
            href = None
        elif edge == "unresolvable":
            href = f"{GROOVE}/customers/cust-{n}"
        created = _ts(n * 3613, 0)
        title = f"Ticket {n} about {rng.choice(['login', 'billing', 'refund', 'bug'])}"
        mailbox = "Archive" if edge == "unknown_mailbox" else rng.choice(GROOVE_MAILBOXES)
        tickets.append({
            "number": n, "title": title, "summary": f"summary of {n}",
            "state": "bogus" if edge == "bad_state" else rng.choice(STATES),
            "mailbox": mailbox,
            "tags": [f"t{n % 5}", f"t{n % 11}"] if n % 3 else None,
            "created_at": created,
            "links": {"customer": {"href": href},
                      "assignee": {"href": f"{GROOVE}/agents/agent-{n % N_AGENTS + 1}"}},
        })
        if edge == "migrated":
            migrated.append({"number": 90000 + n, "subject": title.upper(),
                             "modifiedAt": created})
        good = edge in (None, "unknown_mailbox")
        if edge in ("no_link", "unresolvable", "bad_state"):
            errors["ValidationException"] += 1
        n_good += good
        for j in range(n_messages[n - 1]):
            mid = f"m{n}-{j}"
            by_agent = j % 2 == 1
            if by_agent:
                a = rng.randrange(1, N_AGENTS + 1)
                if next(ghost):
                    a = N_AGENTS + rng.randrange(1, N_GHOST_AGENTS + 1)
                    errors["ValidationException"] += good
                author = f"{GROOVE}/agents/agent-{a}"
                recipient = f"{GROOVE}/customers/{cust}"
            else:
                author, recipient, a = f"{GROOVE}/customers/{cust}", None, 0
            msg_ok = good and a <= N_AGENTS
            n_att = {None: 0, "one": 1, "two": 2}[next(attached)]
            messages.append({
                "ticket_number": n, "message_id": mid,
                "note": rng.random() < 0.1, "agent_response": by_agent,
                "body": f"<p>message {j} of ticket {n}</p>",
                "created_at": _ts(n * 3613, j + 1),
                "href": f"{GROOVE}/messages/{mid}",
                "links": {"author": {"href": author},
                          "recipient": {"href": recipient},
                          "attachments": {"href": f"{GROOVE}/attachments?message={mid}"
                                          if n_att else None}},
            })
            for k in range(n_att):
                payload = MAGIC[rng.randrange(len(MAGIC))] + rng.randbytes(rng.randint(8, 120))
                size = len(payload)
                att_edge = next(attach_edge)
                if att_edge == "oversize":
                    size = ATTACH_CAP + 1 + rng.randrange(10_000_000)
                    errors["AttachmentSizeWarning"] += msg_ok
                elif att_edge == "failed":
                    payload = None
                    errors["AttachmentMigrationFailure"] += msg_ok
                attachments.append({
                    "message_id": mid, "filename": f"file{n}-{j}-{k}.bin",
                    "size": size, "url": f"https://files.ex/{mid}/{k}",
                    "data": None if payload is None else base64.b64encode(payload).decode(),
                })

    corpus = Corpus(
        customers=customers, tickets=tickets, messages=messages,
        attachments=attachments,
        groove_mailboxes=[{"name": m} for m in GROOVE_MAILBOXES],
        groove_agents=groove_agents, agent_dir=agent_dir,
        hs_mailboxes=hs_mailboxes, hs_users=hs_users,
        hs_customers=hs_customers, hs_conversations=migrated,
        expected_conversations=n_good, expected_errors=errors,
        expected_warnings=warnings,
    )
    paths = [f"/groove/v1/{resource}?page={page}&per_page={PER_PAGE[resource]}"
             for resource in SCANNED for page in range(1, corpus.pages(resource) + 1)]
    n_chaos = min(len(paths), max(len(CHAOS_KINDS), round(CHAOS * len(paths))))
    for i, path in enumerate(rng.sample(paths, n_chaos)):
        corpus.chaos[path] = CHAOS_KINDS[i % len(CHAOS_KINDS)]
    return corpus
