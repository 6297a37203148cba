"""SURVEY.md section 2 reference operators, exercised on the test tables.

The reference's inputs are REST entities; the driver's correctness gate
runs on the TPC-H-ish parquet tables. Each query here synthesizes the
reference operator's input shape deterministically FROM those tables
(identically in Spark and the DuckDB oracle) and then applies the
engine's transform library, so the oracle checks the operator's exact
semantics -- including every quirky fallback path SURVEY.md section 7
calls out.

Scale: every transform is a per-row Column expression (no shuffle); the
lookups are broadcast hash joins; the validations/dedups are anti-joins
that shuffle only the key columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import (
    classify_thread,
    extract_link_id,
    groove_state_to_helpscout_status,
    is_valid_email,
    link_kind,
    split_and_validate_emails,
    split_full_name,
    to_iso8601,
    truncate_with_flag,
)
from ..operators.errors import group_error_report
from ..registry import register
from ..session import load_tables

EMAIL_RE_SQL = "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$"


# ---------------------------------------------------------------------------
# S1/S2/S3 -- paginated scans + pagination metadata probe
# ---------------------------------------------------------------------------
@register(
    "ref_s1_paginated_scan",
    oracle="""
SELECT CAST(floor(c_custkey / 50) AS BIGINT) AS page,
       count(*) AS n_records,
       min(c_custkey) AS first_key,
       max(c_custkey) AS last_key
FROM customer
GROUP BY 1
""",
    doc="S1 paginated scan (SyncCustomers.php:71-83): page = key/50; page column enables partition pruning.",
)
def ref_s1_paginated_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer"])
    return (
        t.customer.withColumn(
            "page", F.floor(F.col("c_custkey") / 50).cast("bigint")
        )
        .groupBy("page")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.min("c_custkey").alias("first_key"),
            F.max("c_custkey").alias("last_key"),
        )
    )


@register(
    "ref_s3_pagination_probe",
    oracle="""
SELECT count(*) AS total_count,
       CAST(ceil(count(*) / 50.0) AS BIGINT) AS total_pages
FROM customer
""",
    doc="S3 metadata probe (SyncCustomers.php:57-63): sizes the page-range plan.",
)
def ref_s3_pagination_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer"])
    return t.customer.agg(
        F.count(F.lit(1)).alias("total_count"),
        F.ceil(F.count(F.lit(1)) / 50.0).cast("bigint").alias("total_pages"),
    )


@register(
    "ref_s2_page_range_scan",
    oracle="""
SELECT CAST(floor(o_orderkey / 10) AS BIGINT) AS page, count(*) AS n_tickets
FROM orders
WHERE floor(o_orderkey / 10) BETWEEN 5 AND 20
GROUP BY 1
""",
    doc="S2 + T2: startPage/stopPage pruned scan (SyncTickets.php:160-205); filter prunes before the agg.",
)
def ref_s2_page_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    paged = t.orders.withColumn("page", F.floor(F.col("o_orderkey") / 10).cast("bigint"))
    return (
        paged.filter((F.col("page") >= 5) & (F.col("page") <= 20))
        .groupBy("page")
        .agg(F.count(F.lit(1)).alias("n_tickets"))
    )


@register(
    "ref_s4_point_lookup",
    oracle="""
SELECT o_orderkey AS orderkey, o_custkey AS custkey,
       o_orderstatus AS status, round(o_totalprice, 2) AS totalprice
FROM orders WHERE o_orderkey IN (1, 42, 117, 1001, 999999)
""",
    doc="S4 point lookup by explicit id list (SyncTickets.php:120-146); IN-list pushes to the scan.",
)
def ref_s4_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    return t.orders.filter(
        F.col("o_orderkey").isin(1, 42, 117, 1001, 999999)
    ).select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.round("o_totalprice", 2).alias("totalprice"),
    )


@register(
    "ref_s5_nested_scan_fanout",
    oracle="""
SELECT o_orderkey AS ticket_number,
       count(l_linenumber) AS n_messages,
       CAST(ceil(count(l_linenumber) / 50.0) AS BIGINT) AS n_pages
FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderkey
""",
    doc=(
        "S5 nested per-ticket message scan (TicketProcessor.php:56-66): the "
        "reference's do..while page < total_pages loop SKIPS the last page when "
        "total_pages > 1 (off-by-one at :199); this engine uses <= semantics "
        "(full fan-out), divergence documented per SURVEY S5."
    ),
)
def ref_s5_nested_scan_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    return (
        t.orders.join(
            t.lineitem, F.col("l_orderkey") == F.col("o_orderkey"), "left"
        )
        .groupBy(F.col("o_orderkey").alias("ticket_number"))
        .agg(
            F.count("l_linenumber").alias("n_messages"),
            F.ceil(F.count("l_linenumber") / 50.0).cast("bigint").alias("n_pages"),
        )
    )


# ---------------------------------------------------------------------------
# P2/P3 -- name split + truncation
# ---------------------------------------------------------------------------
@register(
    "ref_p2_name_split",
    oracle="""
WITH named AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 5 = 0 THEN c_name
              ELSE c_name || ' ' || c_mktsegment || ' Jr' END AS full_name
  FROM customer
)
SELECT c_custkey AS custkey, full_name,
       split_part(full_name, ' ', 1) AS first_name,
       CASE WHEN strpos(full_name, ' ') > 0
            THEN trim(substr(full_name, strpos(full_name, ' ') + 1))
            ELSE NULL END AS last_name
FROM named
""",
    doc="P2 full-name split on FIRST space; no-space -> last NULL (APIHelper.php:166-176).",
)
def ref_p2_name_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer"])
    named = t.customer.withColumn(
        "full_name",
        F.when(F.col("c_custkey") % 5 == 0, F.col("c_name")).otherwise(
            F.concat(F.col("c_name"), F.lit(" "), F.col("c_mktsegment"), F.lit(" Jr"))
        ),
    )
    split = split_full_name(F.col("full_name"))
    return named.select(
        F.col("c_custkey").alias("custkey"),
        "full_name",
        split.getField("first_name").alias("first_name"),
        split.getField("last_name").alias("last_name"),
    )


@register(
    "ref_p3_truncation",
    oracle="""
WITH raw AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 3 = 0 THEN c_name
              ELSE c_name || '-' || c_mktsegment || '-' || c_name END AS org
  FROM customer
)
SELECT c_custkey AS custkey,
       CASE WHEN length(org) > 40 THEN substr(org, 1, 40) ELSE org END AS org_value,
       length(org) > 40 AS was_truncated
FROM raw
""",
    doc="P3 length cap w/ warning flag (APIHelper.php:180-189, CustomerProcessor.php:65-76).",
)
def ref_p3_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer"])
    raw = t.customer.withColumn(
        "org",
        F.when(F.col("c_custkey") % 3 == 0, F.col("c_name")).otherwise(
            F.concat_ws("-", "c_name", "c_mktsegment", "c_name")
        ),
    )
    tr = truncate_with_flag(F.col("org"), 40)
    return raw.select(
        F.col("c_custkey").alias("custkey"),
        tr.getField("value").alias("org_value"),
        tr.getField("was_truncated").alias("was_truncated"),
    )


# ---------------------------------------------------------------------------
# P4/P11 -- multi-email split & validate with all-or-nothing fallback
# ---------------------------------------------------------------------------
@register(
    "ref_p4_email_split",
    oracle=f"""
WITH raw AS (
  SELECT c_custkey,
         lower(replace(c_name, '#', '')) AS base,
         CASE
           WHEN c_custkey % 7 = 0 THEN lower(replace(c_name, '#', '')) || '@a.com;not-an-email'
           WHEN c_custkey % 3 = 0 THEN lower(replace(c_name, '#', '')) || '@a.com '
                                       || lower(replace(c_name, '#', '')) || '@b.org'
           ELSE lower(replace(c_name, '#', '')) || '@example.com'
         END AS email_raw
  FROM customer
), split AS (
  SELECT c_custkey, email_raw,
         list_filter(str_split_regex(email_raw, '[ ;,]'), x -> x <> '') AS frags
  FROM raw
), judged AS (
  SELECT c_custkey, email_raw, frags,
         len(list_filter(frags, x -> regexp_matches(x, '{EMAIL_RE_SQL}'))) = len(frags)
           AS all_valid
  FROM split
)
SELECT c_custkey AS custkey,
       all_valid,
       CASE WHEN all_valid THEN frags[1] ELSE email_raw END AS primary_email,
       CASE WHEN all_valid THEN CAST(len(frags) AS BIGINT) ELSE 1 END AS n_emails,
       CASE WHEN all_valid THEN array_to_string(frags, '|') ELSE email_raw END AS emails_joined
FROM judged
""",
    doc=(
        "P4 multi-email split (CustomerProcessor.php:90-133): split on space/;/,, "
        "skip blanks, validate each; ANY invalid -> keep the ORIGINAL unsplit string."
    ),
)
def ref_p4_email_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer"])
    base = F.lower(F.regexp_replace("c_name", "#", ""))
    raw = t.customer.withColumn(
        "email_raw",
        F.when(F.col("c_custkey") % 7 == 0, F.concat(base, F.lit("@a.com;not-an-email")))
        .when(
            F.col("c_custkey") % 3 == 0,
            F.concat(base, F.lit("@a.com "), base, F.lit("@b.org")),
        )
        .otherwise(F.concat(base, F.lit("@example.com"))),
    )
    res = split_and_validate_emails(F.col("email_raw"))
    return raw.select(
        F.col("c_custkey").alias("custkey"),
        res.getField("all_valid").alias("all_valid"),
        res.getField("primary").alias("primary_email"),
        F.size(res.getField("emails")).cast("bigint").alias("n_emails"),
        F.array_join(res.getField("emails"), "|").alias("emails_joined"),
    )


# ---------------------------------------------------------------------------
# P6 -- link href -> (kind, id) regex extraction
# ---------------------------------------------------------------------------
@register(
    "ref_p6_link_extract",
    oracle="""
WITH hrefs AS (
  SELECT c_custkey,
         CASE
           WHEN c_custkey % 3 = 0 THEN 'https://api.groovehq.com/v1/customers/'
                                       || lower(replace(c_name, '#', '')) || '@example.com'
           WHEN c_custkey % 3 = 1 THEN 'https://api.groovehq.com/v1/agents/agent-' || c_custkey
           ELSE 'https://elsewhere.example.com/thing/' || c_custkey
         END AS href
  FROM customer
)
SELECT c_custkey AS custkey, href,
       CASE
         WHEN regexp_extract(href, '^https?://api\\.groovehq\\.com/v1/customers/(.*)$', 1) <> ''
           THEN 'customer'
         WHEN regexp_extract(href, '^https?://api\\.groovehq\\.com/v1/agents/(.*)$', 1) <> ''
           THEN 'agent'
         ELSE 'error'
       END AS kind,
       CASE
         WHEN regexp_extract(href, '^https?://api\\.groovehq\\.com/v1/customers/(.*)$', 1) <> ''
           THEN regexp_extract(href, '^https?://api\\.groovehq\\.com/v1/customers/(.*)$', 1)
         ELSE regexp_extract(href, '^https?://api\\.groovehq\\.com/v1/agents/(.*)$', 1)
       END AS link_id
FROM hrefs
""",
    doc="P6 href regex id recovery; no-match -> error row, not exception (TicketProcessor.php:210-223).",
)
def ref_p6_link_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer"])
    email = F.concat(F.lower(F.regexp_replace("c_name", "#", "")), F.lit("@example.com"))
    hrefs = t.customer.withColumn(
        "href",
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(F.lit("https://api.groovehq.com/v1/customers/"), email),
        )
        .when(
            F.col("c_custkey") % 3 == 1,
            F.concat(F.lit("https://api.groovehq.com/v1/agents/agent-"), F.col("c_custkey")),
        )
        .otherwise(
            F.concat(F.lit("https://elsewhere.example.com/thing/"), F.col("c_custkey"))
        ),
    )
    return hrefs.select(
        F.col("c_custkey").alias("custkey"),
        "href",
        link_kind(F.col("href")).alias("kind"),
        extract_link_id(F.col("href")).alias("link_id"),
    )


# ---------------------------------------------------------------------------
# P7 -- state -> status enum map (unknown -> NULL + error channel)
# ---------------------------------------------------------------------------
@register(
    "ref_p7_state_enum_map",
    oracle="""
WITH stated AS (
  SELECT o_orderkey,
         CASE CAST(o_orderkey % 6 AS INTEGER)
           WHEN 0 THEN 'unread' WHEN 1 THEN 'opened' WHEN 2 THEN 'pending'
           WHEN 3 THEN 'closed' WHEN 4 THEN 'spam' ELSE 'bogus-state' END AS state
  FROM orders
)
SELECT state,
       CASE state
         WHEN 'unread' THEN 'active' WHEN 'opened' THEN 'active'
         WHEN 'pending' THEN 'pending' WHEN 'closed' THEN 'closed'
         WHEN 'spam' THEN 'spam' ELSE NULL END AS status,
       count(*) AS n,
       count(*) FILTER (WHERE CASE state
         WHEN 'unread' THEN 'active' WHEN 'opened' THEN 'active'
         WHEN 'pending' THEN 'pending' WHEN 'closed' THEN 'closed'
         WHEN 'spam' THEN 'spam' ELSE NULL END IS NULL) AS n_errors
FROM stated GROUP BY state
""",
    doc="P7 Groove state -> HelpScout status; unknown -> NULL + error count (APIHelper.php:198-218).",
)
def ref_p7_state_enum_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    stated = t.orders.withColumn(
        "state",
        F.element_at(
            F.array(
                F.lit("unread"), F.lit("opened"), F.lit("pending"),
                F.lit("closed"), F.lit("spam"), F.lit("bogus-state"),
            ),
            (F.col("o_orderkey") % 6).cast("int") + 1,
        ),
    )
    mapped = stated.withColumn(
        "status", groove_state_to_helpscout_status(F.col("state"))
    )
    return mapped.groupBy("state", "status").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("status").isNull(), 1)).alias("n_errors"),
    )


# ---------------------------------------------------------------------------
# P8/P12 -- thread classification with customer-emails override
# ---------------------------------------------------------------------------
@register(
    "ref_p8_thread_classify",
    oracle="""
WITH msgs AS (
  SELECT event_id,
         event_type = 'error' AS is_note,
         event_type IN ('purchase', 'signup') AS is_agent_response,
         'user' || user_id || '@example.com' AS author_email
  FROM events
)
SELECT event_id,
       CASE
         WHEN is_note AND NOT (lower(author_email) IN ('user3@example.com', 'user7@example.com'))
           THEN 'note'
         WHEN is_note THEN 'customer'
         WHEN is_agent_response THEN 'message'
         ELSE 'customer'
       END AS thread_type
FROM msgs
""",
    doc=(
        "P8 thread subtype: note unless author in customerEmails override (case-"
        "insensitive, P12), agent_response -> message, else customer "
        "(TicketProcessor.php:74-97)."
    ),
)
def ref_p8_thread_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    msgs = t.events.select(
        "event_id",
        (F.col("event_type") == "error").alias("is_note"),
        F.col("event_type").isin("purchase", "signup").alias("is_agent_response"),
        F.concat(F.lit("user"), F.col("user_id"), F.lit("@example.com")).alias(
            "author_email"
        ),
    )
    overrides = F.array(F.lit("USER3@example.com"), F.lit("user7@EXAMPLE.COM"))
    return msgs.select(
        "event_id",
        classify_thread(
            F.col("is_note"),
            F.col("is_agent_response"),
            F.col("author_email"),
            overrides,
        ).alias("thread_type"),
    )


# ---------------------------------------------------------------------------
# P10 -- timestamp -> ISO-8601
# ---------------------------------------------------------------------------
@register(
    "ref_p10_timestamp_iso8601",
    oracle="""
SELECT o_orderkey AS orderkey,
       strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS created_at_iso
FROM orders
""",
    doc="P10 timestamp normalize to ISO-8601 (TicketProcessor.php:436-437).",
)
def ref_p10_timestamp_iso8601(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    return t.orders.select(
        F.col("o_orderkey").alias("orderkey"),
        to_iso8601(F.col("o_orderdate")).alias("created_at_iso"),
    )


# ---------------------------------------------------------------------------
# P14 -- size guard side-output
# ---------------------------------------------------------------------------
@register(
    "ref_p14_size_guard",
    oracle="""
SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
       CAST(l_quantity * 1000000 AS BIGINT) AS size_bytes,
       l_quantity * 1000000 > 10485760 AS oversize_warn
FROM lineitem
WHERE l_quantity * 1000000 > 10485760
""",
    doc="P14 attachment size guard (warn > 10,485,760 B; TicketProcessor.php:301-303).",
)
def ref_p14_size_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    size = F.col("l_quantity") * 1000000
    return (
        t.lineitem.withColumn("size_bytes", size.cast("bigint"))
        .withColumn("oversize_warn", size > 10485760)
        .filter(F.col("oversize_warn"))
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            "size_bytes",
            "oversize_warn",
        )
    )


# ---------------------------------------------------------------------------
# P16 -- tags passthrough (array column hygiene)
# ---------------------------------------------------------------------------
@register(
    "ref_p16_tags_passthrough",
    oracle="""
WITH tagged AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 4 = 0 THEN []::VARCHAR[]
              ELSE [o_orderstatus, o_orderpriority] END AS tags
  FROM orders
)
SELECT o_orderkey AS orderkey,
       array_to_string(tags, ',') AS tags_joined,
       CAST(len(tags) AS INTEGER) AS n_tags
FROM tagged WHERE len(tags) > 0
""",
    doc="P16 non-empty tags passthrough (TicketProcessor.php:403-406).",
)
def ref_p16_tags_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    tagged = t.orders.withColumn(
        "tags",
        F.when(F.col("o_orderkey") % 4 == 0, F.array().cast("array<string>")).otherwise(
            F.array("o_orderstatus", "o_orderpriority")
        ),
    )
    return (
        tagged.filter(F.size("tags") > 0)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.array_join("tags", ",").alias("tags_joined"),
            F.size("tags").alias("n_tags"),
        )
    )


# ---------------------------------------------------------------------------
# J1/J2 -- case-insensitive broadcast lookup with default fallback
# ---------------------------------------------------------------------------
@register(
    "ref_j1_mailbox_lookup_default",
    oracle="""
WITH facts AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN 'Missing Mailbox'
              ELSE upper(n.n_name) END AS mailbox_name
  FROM customer JOIN nation n ON c_nationkey = n.n_nationkey
)
SELECT f.c_custkey AS custkey,
       f.mailbox_name,
       coalesce(d.n_nationkey, -1) AS mailbox_id,
       d.n_nationkey IS NULL AS used_default
FROM facts f LEFT JOIN nation d ON lower(f.mailbox_name) = lower(d.n_name)
""",
    doc=(
        "J1: case-insensitive name lookup against a broadcast dim; miss -> "
        "default-mailbox fallback instead of error (APIHelper.php:130-141, "
        "TicketProcessor.php:382-401)."
    ),
)
def ref_j1_mailbox_lookup_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "nation"])
    facts = (
        t.customer.join(
            F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .withColumn(
            "mailbox_name",
            F.when(F.col("c_custkey") % 10 == 0, F.lit("Missing Mailbox")).otherwise(
                F.upper(F.col("n_name"))
            ),
        )
        .select("c_custkey", "mailbox_name")
    )
    dim = t.nation.select(
        F.col("n_nationkey").alias("d_key"), F.lower(F.col("n_name")).alias("d_name")
    )
    return (
        facts.join(
            F.broadcast(dim), F.lower(F.col("mailbox_name")) == F.col("d_name"), "left"
        )
        .select(
            F.col("c_custkey").alias("custkey"),
            "mailbox_name",
            F.coalesce(F.col("d_key"), F.lit(-1)).alias("mailbox_id"),
            F.col("d_key").isNull().alias("used_default"),
        )
    )


# ---------------------------------------------------------------------------
# J3 -- user lookup; miss -> per-record error side-channel (not fail-fast)
# ---------------------------------------------------------------------------
@register(
    "ref_j3_user_lookup_errors",
    oracle="""
SELECT s_suppkey AS suppkey,
       n.n_nationkey AS user_id,
       CASE WHEN n.n_nationkey IS NULL THEN 'error' ELSE 'ok' END AS status,
       CASE WHEN n.n_nationkey IS NULL
            THEN 'user not found for agent ' || s_name ELSE NULL END AS error_detail
FROM supplier LEFT JOIN (SELECT * FROM nation WHERE n_nationkey < 13) n
  ON s_nationkey = n.n_nationkey
""",
    doc=(
        "J3 user-by-email lookup; a miss fails the RECORD not the job -- error "
        "side-channel row (APIHelper.php:148-159; TicketProcessor.php:154-164)."
    ),
)
def ref_j3_user_lookup_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["supplier", "nation"])
    dim = t.nation.filter(F.col("n_nationkey") < 13)
    return (
        t.supplier.join(
            F.broadcast(dim), F.col("s_nationkey") == F.col("n_nationkey"), "left"
        )
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("n_nationkey").alias("user_id"),
            F.when(F.col("n_nationkey").isNull(), "error").otherwise("ok").alias("status"),
            F.when(
                F.col("n_nationkey").isNull(),
                F.concat(F.lit("user not found for agent "), F.col("s_name")),
            ).alias("error_detail"),
        )
    )


# ---------------------------------------------------------------------------
# J4 -- enrichment cascade: primary dim, then fallback dim on the miss subset
# ---------------------------------------------------------------------------
@register(
    "ref_j4_enrichment_cascade",
    oracle="""
WITH primary_dim AS (SELECT * FROM nation WHERE n_nationkey % 2 = 0)
SELECT c.c_custkey AS custkey,
       coalesce(p.n_name, f.n_name) AS nation_name,
       CASE WHEN p.n_nationkey IS NOT NULL THEN 'helpscout_search'
            WHEN f.n_nationkey IS NOT NULL THEN 'groove_refetch'
            ELSE 'unresolved' END AS resolved_via
FROM customer c
LEFT JOIN primary_dim p ON c.c_nationkey = p.n_nationkey
LEFT JOIN nation f ON c.c_nationkey = f.n_nationkey
""",
    doc=(
        "J4 customer enrichment cascade: HelpScout search first, Groove refetch "
        "on the miss subset, coalesce (TicketProcessor.php:118-151)."
    ),
)
def ref_j4_enrichment_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "nation"])
    primary = t.nation.filter(F.col("n_nationkey") % 2 == 0).select(
        F.col("n_nationkey").alias("p_key"), F.col("n_name").alias("p_name")
    )
    fallback = t.nation.select(
        F.col("n_nationkey").alias("f_key"), F.col("n_name").alias("f_name")
    )
    return (
        t.customer.join(F.broadcast(primary), F.col("c_nationkey") == F.col("p_key"), "left")
        .join(F.broadcast(fallback), F.col("c_nationkey") == F.col("f_key"), "left")
        .select(
            F.col("c_custkey").alias("custkey"),
            F.coalesce(F.col("p_name"), F.col("f_name")).alias("nation_name"),
            F.when(F.col("p_key").isNotNull(), "helpscout_search")
            .when(F.col("f_key").isNotNull(), "groove_refetch")
            .otherwise("unresolved")
            .alias("resolved_via"),
        )
    )


# ---------------------------------------------------------------------------
# J5 -- duplicate-skip LEFT ANTI join
# ---------------------------------------------------------------------------
@register(
    "ref_j5_dedup_antijoin",
    oracle="""
WITH existing AS (
  SELECT o_orderdate, lower(o_orderpriority) AS subject_lc
  FROM orders WHERE o_orderkey % 10 = 0
)
SELECT o_orderkey AS orderkey
FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM existing e
  WHERE e.o_orderdate = o.o_orderdate AND e.subject_lc = lower(o.o_orderpriority)
)
""",
    doc=(
        "J5 duplicate-ticket semi-join: skip tickets whose (created_at, "
        "lower(subject)) already exists in the sink (TicketProcessor.php:353-372)."
    ),
)
def ref_j5_dedup_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    existing = (
        t.orders.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            F.col("o_orderdate").alias("e_date"),
            F.lower(F.col("o_orderpriority")).alias("e_subject"),
        )
        .distinct()
    )
    return (
        t.orders.join(
            F.broadcast(existing),
            (F.col("o_orderdate") == F.col("e_date"))
            & (F.lower(F.col("o_orderpriority")) == F.col("e_subject")),
            "left_anti",
        ).select(F.col("o_orderkey").alias("orderkey"))
    )


# ---------------------------------------------------------------------------
# J6 -- fail-fast validation anti-joins
# ---------------------------------------------------------------------------
@register(
    "ref_j6_validation_antijoin",
    oracle="""
SELECT 'mailbox_missing' AS check_name,
       n_name AS entity,
       'Groove mailbox ' || n_name || ' has no HelpScout match' AS detail
FROM nation
WHERE NOT EXISTS (SELECT 1 FROM region WHERE r_regionkey = n_regionkey - 3)
UNION ALL
SELECT 'agent_missing' AS check_name,
       s_name AS entity,
       'Groove agent ' || s_name || ' has no HelpScout user' AS detail
FROM supplier
WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = s_nationkey AND n_nationkey < 5)
""",
    doc=(
        "J6 fail-fast validation: every Groove mailbox/agent must match a "
        "HelpScout dim; misses are collected and abort the run "
        "(SyncTickets.php:70-115). The engine raises iff this is non-empty."
    ),
)
def ref_j6_validation_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["nation", "region", "supplier"])
    mail = (
        t.nation.join(
            F.broadcast(t.region),
            F.col("n_regionkey") - 3 == F.col("r_regionkey"),
            "left_anti",
        ).select(
            F.lit("mailbox_missing").alias("check_name"),
            F.col("n_name").alias("entity"),
            F.concat(
                F.lit("Groove mailbox "), F.col("n_name"), F.lit(" has no HelpScout match")
            ).alias("detail"),
        )
    )
    users = t.nation.filter(F.col("n_nationkey") < 5)
    agents = (
        t.supplier.join(
            F.broadcast(users), F.col("s_nationkey") == F.col("n_nationkey"), "left_anti"
        ).select(
            F.lit("agent_missing").alias("check_name"),
            F.col("s_name").alias("entity"),
            F.concat(
                F.lit("Groove agent "), F.col("s_name"), F.lit(" has no HelpScout user")
            ).alias("detail"),
        )
    )
    return mail.unionByName(agents)


# ---------------------------------------------------------------------------
# A2 -- error grouping -> flattened report
# ---------------------------------------------------------------------------
@register(
    "ref_a2_error_grouping",
    oracle="""
WITH errors AS (
  SELECT CASE CAST(o_orderkey % 3 AS INTEGER)
           WHEN 0 THEN 'ValidationException' WHEN 1 THEN 'ApiRateLimitExceededException'
           ELSE 'CurlException' END AS error_type,
         'order-' || o_orderkey AS detail
  FROM orders WHERE o_orderkey % 17 = 0
)
SELECT error_type,
       count(*) AS n_occurrences,
       string_agg(detail, '|' ORDER BY detail) AS details_joined
FROM errors GROUP BY error_type
""",
    doc=(
        "A2 error aggregation: group by message, collect occurrences, flatten "
        "for the CSV report (TicketPublisher.php:56-75; APIHelper.php:252-261)."
    ),
)
def ref_a2_error_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    errors = t.orders.filter(F.col("o_orderkey") % 17 == 0).select(
        F.element_at(
            F.array(
                F.lit("ValidationException"),
                F.lit("ApiRateLimitExceededException"),
                F.lit("CurlException"),
            ),
            (F.col("o_orderkey") % 3).cast("int") + 1,
        ).alias("error_type"),
        F.concat(F.lit("order-"), F.col("o_orderkey")).alias("detail"),
    )
    return group_error_report(errors).select(
        "error_type", "n_occurrences", F.array_join("details", "|").alias("details_joined")
    )


# ---------------------------------------------------------------------------
# Group-back: threads re-assembled per conversation in event-time order
# (the loops-become-joins core of the ticket pipeline, SURVEY section 3.2)
# ---------------------------------------------------------------------------
@register(
    "ref_groupback_threads",
    oracle="""
SELECT o_orderkey AS ticket_number,
       count(*) AS n_threads,
       string_agg(CAST(l_linenumber AS VARCHAR), ','
                  ORDER BY l_shipdate, l_linenumber) AS thread_order
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderkey
""",
    doc=(
        "Fan-out -> group-back with per-conversation thread ordering by "
        "timestamp (threads appended in message order, TicketProcessor.php:189): "
        "sort_array(collect_list(struct(ts, id))) preserves order without a "
        "per-group window shuffle. Round 7: aggregate BELOW the join -- "
        "lineitem groups by its own key first, then a broadcast LEFT SEMI "
        "join against orders keeps only real tickets. The orders join adds "
        "no columns (it only filters), so running it after the group-back "
        "probes one aggregated row per ticket instead of fanning every "
        "thread row through the join before aggregating. At 100 TB drop "
        "the broadcast hint: the aggregate output is already hash-"
        "partitioned on the key, so a shuffle semi join reuses that "
        "exchange and only the orders key column moves."
    ),
)
def ref_groupback_threads(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    grouped = (
        t.lineitem.groupBy(F.col("l_orderkey").alias("ticket_number"))
        .agg(
            F.count(F.lit(1)).alias("n_threads"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("l_shipdate", "l_linenumber"))
                    ),
                    lambda s: s.getField("l_linenumber").cast("string"),
                ),
                ",",
            ).alias("thread_order"),
        )
    )
    # inner-join semantics of the original orders JOIN lineitem: an
    # orderkey absent from orders must drop (semi), one absent from
    # lineitem never reaches the aggregate. orders is unique on the key
    # so the join could never multiply rows -- it is purely a filter.
    return grouped.join(
        F.broadcast(t.orders.select(F.col("o_orderkey").alias("ticket_number"))),
        "ticket_number",
        "left_semi",
    )
