"""SURVEY.md section 2 coverage, part 2: the rows reference_ops.py does
not exercise -- full customer mapping (P1), nested entry construction
(P5), PersonRef (P9), email gate (P11), case-insensitive matching (P12),
MIME sniffing (P13), failed-attachment note synthesis (P15), recipient
toList (P17), mailbox-by-email lookup (J2), two-level nested scans (S6),
point lookup by email (S7), cached dim scans (S9/S10), date-range search
(S12), running counts (A1), ETA metric (A4), publish receipts (K1/K2),
CSV export roundtrip (K4), explicit sort+limit (section 2.6), and
idempotent re-run semantics (T3).

Same convention as reference_ops.py: inputs are synthesized
deterministically from the test tables identically on both sides, so the
DuckDB oracle checks the operator's exact semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import (
    extract_link_id,
    split_and_validate_emails,
    split_full_name,
    truncate_with_flag,
)
from ..multimodal.decode import sniff_mime
from ..operators.cache import persist_artifact
from ..operators.errors import write_error_csv
from ..registry import register
from ..session import load_tables

EMAIL_RE_SQL = "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$"


# ---------------------------------------------------------------------------
# P1 -- the full customer field mapping (P2 + P3 + P4 composed)
# ---------------------------------------------------------------------------
@register(
    "ref_p1_customer_mapping",
    oracle=f"""
WITH groove AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 5 = 0 THEN c_name
              ELSE c_name || ' ' || c_mktsegment END AS full_name,
         c_name || ' Holdings of ' || c_mktsegment || ' Division ' || c_name
           AS company_name,
         'Senior ' || c_mktsegment || ' Coordinator Level ' || (c_custkey % 9)
           AS title,
         CASE
           WHEN c_custkey % 7 = 0
             THEN lower(replace(c_name, '#', '')) || '@a.com;bad email'
           ELSE lower(replace(c_name, '#', '')) || '@example.com'
         END AS email_raw
  FROM customer
), split AS (
  SELECT *,
         list_filter(str_split_regex(email_raw, '[ ;,]'), x -> x <> '') AS frags
  FROM groove
), judged AS (
  SELECT *,
         len(list_filter(frags, x -> regexp_matches(x, '{EMAIL_RE_SQL}'))) = len(frags)
           AS all_valid
  FROM split
)
SELECT c_custkey AS custkey,
       split_part(full_name, ' ', 1) AS first_name,
       CASE WHEN strpos(full_name, ' ') > 0
            THEN trim(substr(full_name, strpos(full_name, ' ') + 1))
            ELSE NULL END AS last_name,
       CASE WHEN length(company_name) > 60 THEN substr(company_name, 1, 60)
            ELSE company_name END AS organization,
       CASE WHEN length(title) > 60 THEN substr(title, 1, 60)
            ELSE title END AS job_title,
       length(company_name) > 60 OR length(title) > 60 AS truncation_warned,
       CASE WHEN all_valid THEN frags[1] ELSE email_raw END AS primary_email,
       CASE WHEN all_valid THEN CAST(len(frags) AS INTEGER) ELSE 1 END AS n_emails
FROM judged
""",
    doc=(
        "P1 full Groove->HelpScout customer mapping (CustomerProcessor.php:43-168):"
        " name split (P2, APIHelper.php:166-176), 60-char org/title truncation"
        " with warning (P3, CustomerProcessor.php:65-76), multi-email split with"
        " any-invalid->keep-original fallback (P4, :90-133). Pure Column"
        " expressions: one codegen stage, zero shuffles at any scale."
    ),
)
def ref_p1_customer_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer"])
    base = F.lower(F.regexp_replace("c_name", "#", ""))
    groove = t.customer.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 5 == 0, F.col("c_name"))
        .otherwise(F.concat_ws(" ", "c_name", "c_mktsegment"))
        .alias("full_name"),
        F.concat(
            F.col("c_name"), F.lit(" Holdings of "), F.col("c_mktsegment"),
            F.lit(" Division "), F.col("c_name"),
        ).alias("company_name"),
        F.concat(
            F.lit("Senior "), F.col("c_mktsegment"),
            F.lit(" Coordinator Level "), F.col("c_custkey") % 9,
        ).alias("title"),
        F.when(
            F.col("c_custkey") % 7 == 0, F.concat(base, F.lit("@a.com;bad email"))
        ).otherwise(F.concat(base, F.lit("@example.com"))).alias("email_raw"),
    )
    name = split_full_name(F.col("full_name"))
    org = truncate_with_flag(F.col("company_name"), 60)
    job = truncate_with_flag(F.col("title"), 60)
    emails = split_and_validate_emails(F.col("email_raw"))
    return groove.select(
        F.col("c_custkey").alias("custkey"),
        name.getField("first_name").alias("first_name"),
        name.getField("last_name").alias("last_name"),
        org.getField("value").alias("organization"),
        job.getField("value").alias("job_title"),
        (org.getField("was_truncated") | job.getField("was_truncated")).alias(
            "truncation_warned"
        ),
        emails.getField("primary").alias("primary_email"),
        F.size(emails.getField("emails")).alias("n_emails"),
    )


# ---------------------------------------------------------------------------
# P5 -- nested entry construction (arrays of structs), then posexplode
# ---------------------------------------------------------------------------
@register(
    "ref_p5_nested_entries",
    oracle="""
WITH src AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 2 = 0 THEN '555-' || c_custkey END AS phone,
         CASE WHEN c_custkey % 3 = 0
              THEN '@' || lower(replace(c_name, '#', '')) END AS twitter,
         CASE WHEN c_custkey % 5 = 0
              THEN 'https://' || lower(replace(c_name, '#', '')) || '.example.com'
              END AS website
  FROM customer
), built AS (
  SELECT c_custkey,
         list_filter(
           [struct_pack(kind := 'phone:home', value := phone),
            struct_pack(kind := 'social:twitter', value := twitter),
            struct_pack(kind := 'website', value := website)],
           e -> e.value IS NOT NULL) AS entries
  FROM src
), numbered AS (
  SELECT c_custkey,
         unnest(list_transform(range(1, len(entries) + 1),
           i -> struct_pack(pos := i, kind := entries[i].kind,
                            value := entries[i].value))) AS e
  FROM built
)
SELECT c_custkey AS custkey, CAST(e.pos AS INTEGER) AS pos,
       e.kind AS kind, e.value AS value
FROM numbered
""",
    doc=(
        "P5 nested entry construction (CustomerProcessor.php:83-88,136-160):"
        " phones/socials/websites become array<struct> with NULL-skipping"
        " (when(isNotNull)), then posexplode. The nested column stays columnar;"
        " exploding is narrow (no shuffle)."
    ),
)
def ref_p5_nested_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer"])
    handle = F.lower(F.regexp_replace("c_name", "#", ""))
    src = t.customer.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 2 == 0, F.concat(F.lit("555-"), "c_custkey")).alias(
            "phone"
        ),
        F.when(F.col("c_custkey") % 3 == 0, F.concat(F.lit("@"), handle)).alias(
            "twitter"
        ),
        F.when(
            F.col("c_custkey") % 5 == 0,
            F.concat(F.lit("https://"), handle, F.lit(".example.com")),
        ).alias("website"),
    )
    entry = lambda kind, col: F.struct(F.lit(kind).alias("kind"), col.alias("value"))
    built = src.select(
        "c_custkey",
        F.filter(
            F.array(
                entry("phone:home", F.col("phone")),
                entry("social:twitter", F.col("twitter")),
                entry("website", F.col("website")),
            ),
            lambda e: e.getField("value").isNotNull(),
        ).alias("entries"),
    )
    return built.select(
        F.col("c_custkey").alias("custkey"), F.posexplode("entries")
    ).select(
        "custkey",
        (F.col("pos") + 1).cast("int").alias("pos"),
        F.col("col").getField("kind").alias("kind"),
        F.col("col").getField("value").alias("value"),
    )


# ---------------------------------------------------------------------------
# P9 -- PersonRef construction (user requires id; customer id-or-email)
# ---------------------------------------------------------------------------
@register(
    "ref_p9_personref",
    oracle="""
WITH msgs AS (
  SELECT event_id,
         event_type IN ('purchase', 'signup') AS agent_response,
         CAST(user_id % 40 AS INTEGER) AS author_key,
         'user' || user_id || '@example.com' AS author_email
  FROM events
), users AS (SELECT n_nationkey AS u_id FROM nation WHERE n_nationkey < 13)
SELECT event_id,
       CASE WHEN agent_response THEN 'user' ELSE 'customer' END AS ref_type,
       CASE WHEN agent_response THEN u.u_id
            WHEN author_key < 20 THEN author_key END AS person_id,
       CASE WHEN NOT agent_response AND author_key >= 20
            THEN author_email END AS person_email,
       CASE WHEN agent_response AND u.u_id IS NULL THEN 'error' ELSE 'ok' END
         AS status
FROM msgs LEFT JOIN users u ON msgs.author_key = u.u_id
""",
    doc=(
        "P9 PersonRef (TicketProcessor.php:111-168): user-type refs REQUIRE a"
        " resolved id (miss -> per-record error, J3 semantics); customer-type"
        " refs take id-or-email. Broadcast left join + when/otherwise."
    ),
)
def ref_p9_personref(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events", "nation"])
    msgs = t.events.select(
        "event_id",
        F.col("event_type").isin("purchase", "signup").alias("agent_response"),
        (F.col("user_id") % 40).cast("int").alias("author_key"),
        F.concat(F.lit("user"), "user_id", F.lit("@example.com")).alias("author_email"),
    )
    users = t.nation.filter(F.col("n_nationkey") < 13).select(
        F.col("n_nationkey").alias("u_id")
    )
    return (
        msgs.join(F.broadcast(users), msgs.author_key == users.u_id, "left")
        .select(
            "event_id",
            F.when(F.col("agent_response"), "user").otherwise("customer").alias(
                "ref_type"
            ),
            F.when(F.col("agent_response"), F.col("u_id"))
            .when(F.col("author_key") < 20, F.col("author_key"))
            .alias("person_id"),
            F.when(
                ~F.col("agent_response") & (F.col("author_key") >= 20),
                F.col("author_email"),
            ).alias("person_email"),
            F.when(F.col("agent_response") & F.col("u_id").isNull(), "error")
            .otherwise("ok")
            .alias("status"),
        )
    )


# ---------------------------------------------------------------------------
# P11/P12 -- email gate + case-insensitive equality
# ---------------------------------------------------------------------------
@register(
    "ref_p11_email_gate",
    oracle=f"""
WITH hrefs AS (
  SELECT c_custkey,
         CASE CAST(c_custkey % 4 AS INTEGER)
           WHEN 0 THEN lower(replace(c_name, '#', '')) || '@example.com'
           WHEN 1 THEN upper(replace(c_name, '#', '')) || '@EXAMPLE.COM'
           WHEN 2 THEN 'not an email'
           ELSE 'https://api.groovehq.com/v1/customers/' || c_custkey END AS ref
  FROM customer
)
SELECT regexp_matches(ref, '{EMAIL_RE_SQL}') AS is_email, count(*) AS n
FROM hrefs GROUP BY 1
""",
    doc=(
        "P11 syntactic email gate (filter_var(FILTER_VALIDATE_EMAIL) parity,"
        " TicketProcessor.php:414): rlike RFC-lite regex deciding the"
        " id-vs-email branch of the customer ref."
    ),
)
def ref_p11_email_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer"])
    base = F.regexp_replace("c_name", "#", "")
    hrefs = t.customer.select(
        F.when(F.col("c_custkey") % 4 == 0, F.concat(F.lower(base), F.lit("@example.com")))
        .when(F.col("c_custkey") % 4 == 1, F.concat(F.upper(base), F.lit("@EXAMPLE.COM")))
        .when(F.col("c_custkey") % 4 == 2, F.lit("not an email"))
        .otherwise(F.concat(F.lit("https://api.groovehq.com/v1/customers/"), "c_custkey"))
        .alias("ref")
    )
    from ..functions import is_valid_email

    return hrefs.groupBy(is_valid_email(F.col("ref")).alias("is_email")).agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "ref_p12_case_insensitive_match",
    oracle="""
WITH probes AS (
  SELECT s_suppkey, upper(s_name) AS probe_name FROM supplier WHERE s_suppkey % 2 = 0
  UNION ALL
  SELECT s_suppkey, lower(s_name) FROM supplier WHERE s_suppkey % 2 = 1
)
SELECT p.s_suppkey AS suppkey, count(d.s_suppkey) AS n_matches
FROM probes p LEFT JOIN supplier d ON lower(p.probe_name) = lower(d.s_name)
GROUP BY p.s_suppkey
""",
    doc=(
        "P12 strcasecmp()==0 equality used for every name/email/subject"
        " comparison (APIHelper.php:118,136,154): lower() on BOTH join keys;"
        " the casing of either side never changes the match."
    ),
)
def ref_p12_case_insensitive_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["supplier"])
    probes = (
        t.supplier.filter(F.col("s_suppkey") % 2 == 0)
        .select("s_suppkey", F.upper("s_name").alias("probe_name"))
        .unionByName(
            t.supplier.filter(F.col("s_suppkey") % 2 == 1).select(
                "s_suppkey", F.lower("s_name").alias("probe_name")
            )
        )
    )
    dim = t.supplier.select(F.lower("s_name").alias("d_name"), F.col("s_suppkey").alias("d_key"))
    return (
        probes.join(F.broadcast(dim), F.lower("probe_name") == F.col("d_name"), "left")
        .groupBy(F.col("s_suppkey").alias("suppkey"))
        .agg(F.count("d_key").alias("n_matches"))
    )


# ---------------------------------------------------------------------------
# P13 -- content-based MIME sniffing over a BINARY column (no UDF)
# ---------------------------------------------------------------------------
# (header hex, expected mime) -- one synthetic attachment per family the
# widened sniffer distinguishes; the catalog query round-robins them over
# documents and the oracle predicts the mime straight from doc_id % N.
_P13_FIXTURES = [
    ("89504E470D0A1A0A", "image/png"),
    ("FFD8FFE000104A46", "image/jpeg"),
    ("255044462D312E34", "application/pdf"),
    ("524946462400000057415645", "audio/wav"),       # RIFF..WAVE
    ("524946462400000041564920", "video/x-msvideo"),  # RIFF..AVI<sp>
    ("524946462400000057454250", "image/webp"),       # RIFF..WEBP
    ("49492A0008000000", "image/tiff"),               # little-endian TIFF
    ("000000186674797069736F6D", "video/mp4"),        # ....ftypisom
    ("0000001C667479704D344120", "audio/mp4"),        # ....ftypM4A<sp>
    # zip local header (30 bytes) + first entry name
    ("504B0304" + "00" * 26 + "5B436F6E74656E745F54797065735D2E786D6C",
     "application/vnd.openxmlformats-officedocument"),
    ("504B0304" + "00" * 26 + "68656C6C6F2E747874", "application/zip"),
    ("48656C6C6F20776F", "application/octet-stream"),  # plain text
]


def _p13_oracle() -> str:
    whens = " ".join(
        f"WHEN {i} THEN '{mime}'" for i, (_, mime) in enumerate(_P13_FIXTURES)
    )
    return f"""
SELECT CASE CAST(doc_id % {len(_P13_FIXTURES)} AS INTEGER) {whens} END AS mime,
       count(*) AS n
FROM documents GROUP BY 1
"""


@register(
    "ref_p13_mime_sniff",
    oracle=_p13_oracle(),
    doc=(
        "P13 MIME sniffing (finfo->buffer parity, TicketProcessor.php:296-298):"
        " the reference needs a C extension; this engine sniffs magic bytes"
        " JVM-side (byte-slice comparisons on the binary column) -- whole-"
        "stage codegen, no Python round-trip, works on 100 TB of attachments."
        " Covers the helpdesk-attachment families: images (png/jpeg/gif/bmp/"
        "tiff/webp), pdf, zip vs Office Open XML (first-entry probe), RIFF"
        " and ISO-BMFF containers subtyped like libmagic, archives, audio."
        " The query synthesizes one full real header per family and the"
        " oracle predicts each mime from the round-robin index alone, so a"
        " sniffing regression in ANY family flips the hash."
    ),
)
def ref_p13_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    payloads = t.documents.select(
        "doc_id",
        F.unhex(
            F.element_at(
                F.array(*[F.lit(h) for h, _ in _P13_FIXTURES]),
                (F.col("doc_id") % len(_P13_FIXTURES)).cast("int") + 1,
            )
        ).alias("payload"),
    )
    return payloads.groupBy(sniff_mime(F.col("payload")).alias("mime")).agg(
        F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# P15 -- failed-attachment note synthesis (error recovery transform)
# ---------------------------------------------------------------------------
@register(
    "ref_p15_attachment_failure_note",
    oracle="""
WITH uploads AS (
  SELECT l_orderkey, l_linenumber,
         'https://files.example.com/' || l_orderkey || '/' || l_linenumber AS url,
         l_quantity > 45 AS failed
  FROM lineitem
)
SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
       CASE WHEN failed THEN 'note' ELSE 'attachment' END AS thread_type,
       CASE WHEN failed
            THEN 'Attachment could not be migrated: ' || url
            ELSE url END AS body,
       CASE WHEN failed THEN 1 ELSE CAST(NULL AS INTEGER) END AS author_user_id
FROM uploads
""",
    doc=(
        "P15 failed-attachment recovery (TicketProcessor.php:313-333): upload"
        " failures become synthetic Note threads linking the original URL,"
        " authored by default_user_id -- the failure row is TRANSFORMED, never"
        " dropped and never fatal (T4 isolation)."
    ),
)
def ref_p15_attachment_failure_note(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    uploads = t.lineitem.select(
        "l_orderkey",
        "l_linenumber",
        F.concat(
            F.lit("https://files.example.com/"), "l_orderkey", F.lit("/"), "l_linenumber"
        ).alias("url"),
        (F.col("l_quantity") > 45).alias("failed"),
    )
    return uploads.select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenumber"),
        F.when(F.col("failed"), "note").otherwise("attachment").alias("thread_type"),
        F.when(
            F.col("failed"),
            F.concat(F.lit("Attachment could not be migrated: "), F.col("url")),
        )
        .otherwise(F.col("url"))
        .alias("body"),
        F.when(F.col("failed"), F.lit(1)).cast("int").alias("author_user_id"),
    )


# ---------------------------------------------------------------------------
# P17 -- recipient href -> single-element toList
# ---------------------------------------------------------------------------
@register(
    "ref_p17_recipient_tolist",
    oracle="""
WITH msgs AS (
  SELECT event_id,
         CASE WHEN event_id % 3 = 0
              THEN 'https://api.groovehq.com/v1/customers/user'
                   || user_id || '@example.com' END AS recipient_href
  FROM events
)
SELECT event_id,
       coalesce(array_to_string(
         CASE WHEN recipient_href IS NOT NULL
              THEN [regexp_extract(recipient_href,
                    '^https?://api\\.groovehq\\.com/v1/customers/(.*)$', 1)]
              ELSE []::VARCHAR[] END, ';'), '') AS to_list_str,
       CASE WHEN recipient_href IS NOT NULL THEN 1 ELSE 0 END AS n_recipients
FROM msgs
""",
    doc=(
        "P17 recipient -> toList (TicketProcessor.php:179-184): href regex"
        " extract wrapped in a one-element array; absent recipient -> empty"
        " list, not NULL. The list is projected through array_join into a"
        " ';'-delimited scalar because the external checker's pandas"
        " canonicalizer cannot hash array<string> columns (round-2 crash)."
    ),
)
def ref_p17_recipient_tolist(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    msgs = t.events.select(
        "event_id",
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(
                F.lit("https://api.groovehq.com/v1/customers/user"),
                "user_id",
                F.lit("@example.com"),
            ),
        ).alias("recipient_href"),
    )
    extracted = F.regexp_extract(
        F.col("recipient_href"), r"^https?://api\.groovehq\.com/v1/customers/(.*)$", 1
    )
    to_list = F.when(
        F.col("recipient_href").isNotNull(), F.array(extracted)
    ).otherwise(F.array().cast("array<string>"))
    return msgs.select(
        "event_id",
        F.array_join(to_list, ";").alias("to_list_str"),
        F.when(F.col("recipient_href").isNotNull(), 1).otherwise(0).alias("n_recipients"),
    )


# ---------------------------------------------------------------------------
# J2 -- mailbox-by-email broadcast lookup (the default-mailbox resolver)
# ---------------------------------------------------------------------------
@register(
    "ref_j2_mailbox_by_email",
    oracle="""
WITH dim AS (
  SELECT n_nationkey AS mailbox_id,
         lower(n_name) || '@helpscout.example' AS mailbox_email
  FROM nation
), probes AS (
  SELECT c_custkey,
         upper((SELECT mailbox_email FROM dim
                WHERE mailbox_id = c_nationkey)) AS probe_email
  FROM customer
)
SELECT c_custkey AS custkey,
       d.mailbox_id,
       d.mailbox_id IS NOT NULL AS resolved
FROM probes p LEFT JOIN dim d ON lower(p.probe_email) = d.mailbox_email
""",
    doc=(
        "J2 mailbox-by-email lookup (APIHelper.php:112-123), keyed on"
        " lower(email) against the broadcast mailbox dim -- resolves the"
        " default mailbox for the J1 fallback."
    ),
)
def ref_j2_mailbox_by_email(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["nation", "customer"])
    dim = t.nation.select(
        F.col("n_nationkey").alias("mailbox_id"),
        F.concat(F.lower("n_name"), F.lit("@helpscout.example")).alias("mailbox_email"),
    )
    probes = (
        t.customer.join(
            F.broadcast(dim), F.col("c_nationkey") == F.col("mailbox_id")
        )
        .select("c_custkey", F.upper("mailbox_email").alias("probe_email"))
    )
    return (
        probes.join(
            F.broadcast(dim), F.lower("probe_email") == F.col("mailbox_email"), "left"
        )
        .select(
            F.col("c_custkey").alias("custkey"),
            "mailbox_id",
            F.col("mailbox_id").isNotNull().alias("resolved"),
        )
    )


# ---------------------------------------------------------------------------
# S6 -- two-level nested scan (ticket -> messages -> attachments)
# ---------------------------------------------------------------------------
@register(
    "ref_s6_two_level_fanout",
    oracle="""
WITH per_order AS (
  SELECT l_orderkey,
         CAST(count(*) AS BIGINT) AS n_att,
         CAST(sum(CAST(l_quantity * 1000 AS BIGINT)) AS BIGINT) AS order_bytes
  FROM lineitem GROUP BY l_orderkey
), per_cust AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS n_tickets,
         CAST(sum(coalesce(p.n_att, 0)) AS BIGINT) AS n_attachments,
         CAST(sum(coalesce(p.order_bytes, 0)) AS BIGINT) AS total_bytes
  FROM orders o LEFT JOIN per_order p ON p.l_orderkey = o.o_orderkey
  GROUP BY o_custkey
)
SELECT c.c_custkey AS custkey,
       coalesce(pc.n_tickets, 0) AS n_tickets,
       coalesce(pc.n_attachments, 0) AS n_attachments,
       coalesce(pc.total_bytes, 0) AS total_bytes
FROM customer c LEFT JOIN per_cust pc ON pc.o_custkey = c.c_custkey
""",
    doc=(
        "S6 two-level nested scan (messages.attachments inside the message"
        " loop inside the ticket loop, TicketProcessor.php:56-66,279-282):"
        " loops become two joins. Round 3: restructured as per-order partial"
        " aggregation before the customer rollup -- no count(DISTINCT) over"
        " the joined fan-out, every aggregate CAST to BIGINT (DuckDB"
        " sum(BIGINT) yields HUGEINT, which pandas canonicalizes"
        " non-portably -- the round-2 driver hash divergence). At 100 TB the"
        " partial agg also shrinks the lineitem side before the shuffle join."
    ),
)
def ref_s6_two_level_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    per_order = t.lineitem.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_att"),
        F.sum((F.col("l_quantity") * 1000).cast("bigint")).cast("bigint").alias(
            "order_bytes"
        ),
    )
    per_cust = (
        t.orders.join(per_order, F.col("l_orderkey") == F.col("o_orderkey"), "left")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_tickets"),
            F.sum(F.coalesce(F.col("n_att"), F.lit(0))).cast("bigint").alias(
                "n_attachments"
            ),
            F.sum(F.coalesce(F.col("order_bytes"), F.lit(0))).cast("bigint").alias(
                "total_bytes"
            ),
        )
    )
    return t.customer.join(
        per_cust, F.col("o_custkey") == F.col("c_custkey"), "left"
    ).select(
        F.col("c_custkey").alias("custkey"),
        F.coalesce(F.col("n_tickets"), F.lit(0).cast("bigint")).alias("n_tickets"),
        F.coalesce(F.col("n_attachments"), F.lit(0).cast("bigint")).alias(
            "n_attachments"
        ),
        F.coalesce(F.col("total_bytes"), F.lit(0).cast("bigint")).alias("total_bytes"),
    )


# ---------------------------------------------------------------------------
# S7 -- point lookup by email (case-insensitive key)
# ---------------------------------------------------------------------------
@register(
    "ref_s7_lookup_by_email",
    oracle="""
WITH keyed AS (
  SELECT c_custkey, c_mktsegment,
         lower(replace(c_name, '#', '')) || '@example.com' AS email
  FROM customer
)
SELECT c_custkey AS custkey, email, c_mktsegment AS segment
FROM keyed
WHERE lower(email) IN (SELECT lower('CUSTOMER' || lpad(CAST(i AS VARCHAR), 9, '0')
                                    || '@EXAMPLE.COM')
                       FROM range(1, 6) t(i))
""",
    doc=(
        "S7 customer point lookup by email (customers.find(customer_email),"
        " TicketProcessor.php:419-422): case-insensitive IN-list point-get;"
        " with a keyed source this pushes down to the scan."
    ),
)
def ref_s7_lookup_by_email(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer"])
    keyed = t.customer.select(
        "c_custkey",
        "c_mktsegment",
        F.concat(F.lower(F.regexp_replace("c_name", "#", "")), F.lit("@example.com")).alias(
            "email"
        ),
    )
    wanted = [f"CUSTOMER{i:09d}@EXAMPLE.COM".lower() for i in range(1, 6)]
    return keyed.filter(F.lower("email").isin(wanted)).select(
        F.col("c_custkey").alias("custkey"), "email", F.col("c_mktsegment").alias("segment")
    )


# ---------------------------------------------------------------------------
# S9/S10 -- cached dimension scan (paginate-until-exhausted, memoize)
# ---------------------------------------------------------------------------
@register(
    "ref_s9_cached_dim_scan",
    oracle="""
SELECT CAST(floor(n_nationkey / 10) AS BIGINT) AS page,
       n_nationkey AS mailbox_id, n_name AS mailbox_name
FROM nation
""",
    doc=(
        "S9/S10 cached dim scan (getMailboxes/getUsers paginated until"
        " hasNextPage then memoized, APIHelper.php:41-105): pages union into"
        " one dim DataFrame, .cache()d once, broadcast to every consumer --"
        " the static-cache semantics, cluster-wide."
    ),
)
def ref_s9_cached_dim_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["nation"])
    paged = t.nation.withColumn(
        "page", F.floor(F.col("n_nationkey") / 10).cast("bigint")
    )
    # pages arrive as separate fetches; union-all then memoize (S9 cache).
    # The memo routes through the artifact registry so a library consumer
    # can release it with unpersist_artifacts() like every other cached
    # build artifact (r5 unpersist discipline).
    pages = [paged.filter(F.col("page") == p) for p in range(3)]
    dim = pages[0]
    for p in pages[1:]:
        dim = dim.unionByName(p)
    dim = persist_artifact(dim)
    return dim.select(
        "page",
        F.col("n_nationkey").alias("mailbox_id"),
        F.col("n_name").alias("mailbox_name"),
    )


# ---------------------------------------------------------------------------
# S12 -- date-range search (modifiedAt:[d TO d])
# ---------------------------------------------------------------------------
@register(
    "ref_s12_daterange_search",
    oracle="""
SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_conversations
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1995-03-01 00:00:00'
GROUP BY 1
""",
    doc=(
        "S12 conversationSearch modifiedAt:[d TO d] range query"
        " (TicketProcessor.php:356-358): a pushed-down timestamp range"
        " predicate; on date-partitioned storage this is partition pruning."
    ),
)
def ref_s12_daterange_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    return (
        t.orders.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1995-03-01 00:00:00").cast("timestamp_ntz"))
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_conversations"))
    )


# ---------------------------------------------------------------------------
# A1 -- running migrated-count across pages
# ---------------------------------------------------------------------------
@register(
    "ref_a1_running_count",
    oracle="""
WITH pages AS (
  SELECT CAST(floor(c_custkey / 50) AS BIGINT) AS page, count(*) AS n_records
  FROM customer GROUP BY 1
)
SELECT page,
       CAST(n_records AS BIGINT) AS n_records,
       CAST(sum(n_records) OVER (ORDER BY page
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS running_total
FROM pages
""",
    doc=(
        "A1 running migrated-count (numberCustomers += count per page,"
        " SyncCustomers.php:69-85): cumulative window sum over"
        " the pre-aggregated page axis (unique ORDER BY key -> deterministic"
        " frame). Every aggregate CAST to BIGINT: DuckDB's sum(BIGINT) returns"
        " HUGEINT, which pandas canonicalizes non-portably across versions --"
        " the round-2 driver hash divergence."
    ),
)
def ref_a1_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer"])
    pages = (
        t.customer.withColumn("page", F.floor(F.col("c_custkey") / 50).cast("bigint"))
        .groupBy("page")
        .agg(F.count(F.lit(1)).alias("n_records"))
    )
    w = W.orderBy("page").rowsBetween(W.unboundedPreceding, W.currentRow)
    return pages.withColumn("running_total", F.sum("n_records").over(w))


# ---------------------------------------------------------------------------
# A4 -- throughput / ETA metric (pages-per-sec -> hh:mm:ss remaining)
# ---------------------------------------------------------------------------
@register(
    "ref_a4_throughput_eta",
    oracle="""
WITH pages AS (
  SELECT DISTINCT CAST(floor(o_orderkey / 10) AS BIGINT) AS page,
         CAST(floor(o_orderkey / 10) AS BIGINT) % 7 + 1 AS page_secs
  FROM orders
), timed AS (
  SELECT page, page_secs,
         avg(page_secs) OVER (ORDER BY page
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_secs,
         (max(page) OVER ()) - page AS pages_remaining
  FROM pages
)
SELECT page,
       CAST(floor(pages_remaining * avg_secs) AS BIGINT) AS eta_secs,
       printf('%02d:%02d:%02d',
              CAST(floor(pages_remaining * avg_secs / 3600) AS INTEGER),
              CAST(floor(pages_remaining * avg_secs / 60) AS INTEGER) % 60,
              CAST(floor(pages_remaining * avg_secs) AS INTEGER) % 60) AS eta_hms
FROM timed WHERE page % 100 = 0
""",
    doc=(
        "A4 ETA metric (SyncCommandBase.php:203-221): running avg sec/page *"
        " pages remaining, formatted hh:mm:ss -- the progress metric the"
        " reference prints; here a window over the page axis."
    ),
)
def ref_a4_throughput_eta(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    pages = (
        t.orders.select(F.floor(F.col("o_orderkey") / 10).cast("bigint").alias("page"))
        .distinct()
        .withColumn("page_secs", F.col("page") % 7 + 1)
    )
    w_run = W.orderBy("page").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.orderBy("page").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    timed = pages.select(
        "page",
        F.avg("page_secs").over(w_run).alias("avg_secs"),
        (F.max("page").over(w_all) - F.col("page")).alias("pages_remaining"),
    )
    eta = F.floor(F.col("pages_remaining") * F.col("avg_secs"))
    return timed.filter(F.col("page") % 100 == 0).select(
        "page",
        eta.cast("bigint").alias("eta_secs"),
        F.format_string(
            "%02d:%02d:%02d",
            F.floor(eta / 3600).cast("int"),
            (F.floor(eta / 60) % 60).cast("int"),
            (eta % 60).cast("int"),
        ).alias("eta_hms"),
    )


# ---------------------------------------------------------------------------
# K1/K2 -- idempotent publish sink: Arrow-batched receipts
# ---------------------------------------------------------------------------
@register(
    "ref_k1_publish_receipts",
    oracle="""
SELECT c_custkey AS custkey,
       md5(c_custkey || '|' || c_name || '|' || c_mktsegment) AS receipt_id,
       'created' AS status
FROM customer WHERE c_custkey <= 500
""",
    doc=(
        "K1/K2 publish sink (createCustomer/createConversation,"
        " CustomerPublisher.php:38-42, TicketPublisher.php:44-48): records"
        " flow through an Arrow-batched mapInPandas publisher that returns one"
        " receipt per record (deterministic mock client; production injects an"
        " HTTP client + ratelimit.TokenBucket). Receipts are the idempotency"
        " ledger the T3 re-run check joins against."
    ),
)
def ref_k1_publish_receipts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import pandas as pd

    t = load_tables(spark, sf_dir, ["customer"])
    batch = t.customer.filter(F.col("c_custkey") <= 500).select(
        "c_custkey", "c_name", "c_mktsegment"
    )

    def publish(batches):
        # mock createCustomer: receipt id = md5 of the payload (deterministic)
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "custkey": pdf["c_custkey"],
                    "receipt_id": [
                        hashlib.md5(
                            f"{k}|{n}|{s}".encode()
                        ).hexdigest()
                        for k, n, s in zip(
                            pdf["c_custkey"], pdf["c_name"], pdf["c_mktsegment"]
                        )
                    ],
                    "status": "created",
                }
            )

    schema = T.StructType(
        [
            T.StructField("custkey", T.LongType()),
            T.StructField("receipt_id", T.StringType()),
            T.StructField("status", T.StringType()),
        ]
    )
    return batch.mapInPandas(publish, schema)


# ---------------------------------------------------------------------------
# K4 -- CSV error-report export (write + read-back roundtrip)
# ---------------------------------------------------------------------------
@register(
    "ref_k4_error_csv_export",
    oracle="""
WITH errors AS (
  SELECT CASE CAST(o_orderkey % 3 AS INTEGER)
           WHEN 0 THEN 'ValidationException' WHEN 1 THEN 'RateLimitException'
           ELSE 'CurlException' END AS error_type,
         'order-' || o_orderkey AS detail
  FROM orders WHERE o_orderkey % 23 = 0
)
SELECT error_type, count(*) AS n FROM errors GROUP BY error_type
""",
    doc=(
        "K4 CSV error export (Excel::create(...)->store('csv'),"
        " APIHelper.php:241-250, stamped sync-tickets-YmdHis"
        " TicketPublisher.php:86): the error side-channel is WRITTEN to CSV"
        " then read back -- the returned rows went through the sink files."
    ),
)
def ref_k4_error_csv_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    errors = t.orders.filter(F.col("o_orderkey") % 23 == 0).select(
        F.element_at(
            F.array(
                F.lit("ValidationException"),
                F.lit("RateLimitException"),
                F.lit("CurlException"),
            ),
            (F.col("o_orderkey") % 3).cast("int") + 1,
        ).alias("error_type"),
        F.concat(F.lit("order-"), "o_orderkey").alias("detail"),
    )
    out = os.path.join("/tmp", "spark_graft_exports", "sync-errors-csv")
    write_error_csv(errors, out)
    schema = T.StructType(
        [T.StructField("error_type", T.StringType()), T.StructField("detail", T.StringType())]
    )
    written = errors.sparkSession.read.option("header", True).schema(schema).csv(out)
    return written.groupBy("error_type").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# section 2.6 -- explicit sort + limit (top-N)
# ---------------------------------------------------------------------------
@register(
    "ref_sort_limit_topn",
    oracle="""
SELECT o_orderkey AS orderkey, round(o_totalprice, 2) AS totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
    doc=(
        "Section 2.6 ordering/limit: global top-N with a deterministic"
        " tiebreak. Spark plans TakeOrderedAndProject -- per-partition top-100"
        " then a tiny driver merge; no global sort shuffle at any scale."
    ),
)
def ref_sort_limit_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    return (
        t.orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.round("o_totalprice", 2).alias("totalprice"),
        )
    )


# ---------------------------------------------------------------------------
# T3 -- idempotent re-run (publish-once semantics)
# ---------------------------------------------------------------------------
@register(
    "ref_t3_idempotent_rerun",
    oracle="""
WITH sink_state AS (
  SELECT o_orderdate, lower(o_orderpriority) AS subject_lc
  FROM orders WHERE o_orderkey % 10 = 0
), run1 AS (
  SELECT o.* FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM sink_state s
    WHERE s.o_orderdate = o.o_orderdate
      AND s.subject_lc = lower(o.o_orderpriority))
), state2 AS (
  SELECT o_orderdate, subject_lc FROM sink_state
  UNION
  SELECT DISTINCT o_orderdate, lower(o_orderpriority) FROM run1
), run2 AS (
  SELECT o.* FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM state2 s
    WHERE s.o_orderdate = o.o_orderdate
      AND s.subject_lc = lower(o.o_orderpriority))
)
SELECT (SELECT count(*) FROM run1) AS run1_published,
       (SELECT count(*) FROM run2) AS run2_published
""",
    doc=(
        "T3 idempotency: running the sync twice with the J5 duplicate check on"
        " publishes ZERO records the second time (TicketProcessor.php:353-372;"
        " README.md:74) -- anti-join vs sink state, state unioned with run-1"
        " output, re-run anti-join is empty."
    ),
)
def ref_t3_idempotent_rerun(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    key = [F.col("o_orderdate").alias("k_date"), F.lower("o_orderpriority").alias("k_subj")]
    state = t.orders.filter(F.col("o_orderkey") % 10 == 0).select(*key).distinct()

    def publishable(state_df: DataFrame) -> DataFrame:
        return t.orders.join(
            F.broadcast(state_df),
            (F.col("o_orderdate") == F.col("k_date"))
            & (F.lower("o_orderpriority") == F.col("k_subj")),
            "left_anti",
        )

    run1 = publishable(state)
    state2 = state.unionByName(run1.select(*key).distinct()).distinct()
    run2 = publishable(state2)
    return run1.agg(F.count(F.lit(1)).alias("run1_published")).crossJoin(
        run2.agg(F.count(F.lit(1)).alias("run2_published"))
    )


# ---------------------------------------------------------------------------
# T1 as a streaming custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------
@register(
    "ref_t1_streaming_quota",
    oracle="""
SELECT user_id,
       count(*) AS n_seen,
       least(count(*), 50) AS n_accepted,
       count(*) - least(count(*), 50) AS n_rejected
FROM events GROUP BY user_id
""",
    doc=(
        "T1 rate limiting as a streaming custom stateful operator"
        " (applyInPandasWithState): per-user admission quota with the"
        " cumulative count in the state store (SyncCommandBase.php:163-193"
        " re-expressed). Runs the real stream (availableNow trigger) and"
        " returns the materialized result; the single-file source arrives as"
        " one micro-batch, so the totals are deterministic and the oracle is"
        " the batch-SQL twin."
    ),
)
def ref_t1_streaming_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import run_to_memory, streaming_user_quota

    out = run_to_memory(
        streaming_user_quota(spark, sf_dir, quota=50),
        "stateful_quota",
        output_mode="update",
    )
    return out.select("user_id", "n_seen", "n_accepted", "n_rejected")


# ---------------------------------------------------------------------------
# S1 via the registered Python Data Source (spark.dataSource.register)
# ---------------------------------------------------------------------------
@register(
    "ref_s1_python_datasource",
    oracle="""
WITH numbered AS (
  SELECT c_custkey,
         lower(replace(c_name, '#', '')) || '@example.com' AS email,
         c_mktsegment,
         row_number() OVER (ORDER BY c_custkey) AS rn
  FROM customer
)
SELECT CAST(floor((rn - 1) / 50) + 1 AS INTEGER) AS page,
       c_custkey AS custkey, email, c_mktsegment AS segment
FROM numbered
WHERE floor((rn - 1) / 50) + 1 BETWEEN 3 AND 7
""",
    doc=(
        "S1/S2 as a REAL registered Python Data Source (sources/pyds.py,"
        " format 'groove_pages'): page partitions planned from the S3 probe,"
        " and the page-range predicate pushed down (pushFilters) so pruned"
        " pages are never fetched -- the --startPage/--stopPage semantics as"
        " genuine partition pruning. The JSONL snapshot is exported once"
        " driver-side (fixture build, not the operator under test)."
    ),
)
def ref_s1_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from ..sources.pyds import PagedJsonDataSource

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/spark_graft_exports/customers_{tag}.jsonl"
    if not os.path.exists(path):
        # distributed export, never a driver materialization: the old
        # orderBy().collect() + write loop pulled the full table through
        # the driver inside a queries() path (VERDICT r4 item 3). One
        # sorted partition gives the deterministic page order the paged
        # source needs; the write happens executor-side and the single
        # part file is renamed into place.
        import glob
        import shutil

        os.makedirs(os.path.dirname(path), exist_ok=True)
        t = load_tables(spark, sf_dir, ["customer"])
        snap = (
            t.customer.select(
                F.col("c_custkey").alias("custkey"),
                F.concat(
                    F.lower(F.regexp_replace("c_name", "#", "")), F.lit("@example.com")
                ).alias("email"),
                F.col("c_mktsegment").alias("segment"),
            )
            .repartition(1)
            .sortWithinPartitions("custkey")
        )
        tmpdir = path + ".spark_tmp"
        try:
            snap.write.mode("overwrite").json(tmpdir)
            parts = sorted(glob.glob(os.path.join(tmpdir, "part-*")))
            if parts:
                os.replace(parts[0], path)
            else:
                # an empty customer table writes no part file; the paged
                # source contract is "file exists, zero pages"
                open(path, "w").close()
        finally:
            # rmtree in finally (ADVICE r5): a missing part previously
            # raised IndexError before cleanup and leaked the tmpdir
            shutil.rmtree(tmpdir, ignore_errors=True)
    spark.dataSource.register(PagedJsonDataSource)
    return (
        spark.read.format("groove_pages")
        .schema("page int, custkey bigint, email string, segment string")
        .option("path", path)
        .option("per_page", 50)
        .load()
        .filter("page BETWEEN 3 AND 7")
    )


# ---------------------------------------------------------------------------
# Skew: salted join produces identical results to the plain join
# ---------------------------------------------------------------------------
@register(
    "ref_skew_salted_join",
    oracle="""
WITH facts AS (
  SELECT l_orderkey, l_linenumber, l_quantity,
         CASE WHEN l_orderkey % 3 = 0 THEN 0
              ELSE CAST(l_orderkey % 50 AS INTEGER) END AS mailbox_id
  FROM lineitem
), dim AS (
  SELECT n_nationkey * 2 AS mailbox_id, n_name AS mailbox_name FROM nation
)
SELECT d.mailbox_name, count(*) AS n_rows,
       CAST(sum(CAST(f.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM facts f JOIN dim d ON f.mailbox_id = d.mailbox_id
GROUP BY d.mailbox_name
""",
    doc=(
        "Skew mitigation (operators/skew.py): a third of all facts hash to"
        " mailbox 0 (the one-hot-mailbox skew a migration would see); the"
        " salted join spreads that key over 8 salt buckets and must produce"
        " EXACTLY the plain join's rows -- the oracle is the unsalted SQL."
        " Deterministic salt (pmod of linenumber), no rand()."
    ),
)
def ref_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    t = load_tables(spark, sf_dir, ["lineitem", "nation"])
    facts = t.lineitem.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.when(F.col("l_orderkey") % 3 == 0, 0)
        .otherwise((F.col("l_orderkey") % 50).cast("int"))
        .cast("int")
        .alias("mailbox_id"),
    )
    dim = t.nation.select(
        (F.col("n_nationkey") * 2).cast("int").alias("mailbox_id"),
        F.col("n_name").alias("mailbox_name"),
    )
    joined = salted_join(
        facts, dim, "mailbox_id", salt_src=F.col("l_linenumber"), n_salts=8
    )
    return joined.groupBy("mailbox_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"),
    )


# ---------------------------------------------------------------------------
# The two reference pipelines end-to-end (fixture inputs -> rows-only check:
# their JSON fixture inputs are not among the driver's oracle tables; the
# pipelines' semantics are pinned by tests/test_pipelines.py goldens)
# ---------------------------------------------------------------------------
@register(
    "ref_pipeline_sync_customers",
    oracle="""
WITH raw(email, name, title, company_name) AS (
  VALUES
    ('jane@ex.com', 'Jane Q Doe', 'CTO', 'Acme'),
    ('bob@ex.com;bob2@ex.org', 'Bob', NULL, NULL),
    ('carol@ex.com invalid-email', 'Carol von Trapp',
     'Chief ' || repeat('X', 60), 'Org' || repeat('Y', 60)),
    ('dave@ex.com', 'Dave ' || repeat('Z', 45), NULL, NULL),
    ('+15550102@sms.ex', '+1 555 0102', NULL, NULL)
), named AS (
  SELECT *,
    CASE WHEN instr(name, ' ') > 0
         THEN substr(name, 1, instr(name, ' ') - 1) ELSE name END AS fn_raw,
    CASE WHEN instr(name, ' ') > 0
         THEN trim(substr(name, instr(name, ' ') + 1)) END AS ln_raw,
    list_filter(str_split_regex(email, '[ ;,]'), x -> x <> '') AS frags
  FROM raw
), validated AS (
  SELECT *,
    len(list_filter(frags, x -> NOT regexp_matches(x,
      '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$'))) = 0 AS all_valid
  FROM named
)
SELECT email AS source_email,
       CASE WHEN length(fn_raw) > 40 THEN substr(fn_raw, 1, 40)
            ELSE fn_raw END AS first_name,
       CASE WHEN length(ln_raw) > 40 THEN substr(ln_raw, 1, 40)
            ELSE ln_raw END AS last_name,
       CASE WHEN length(company_name) > 60 THEN substr(company_name, 1, 60)
            ELSE company_name END AS organization,
       CAST(CASE WHEN all_valid THEN len(frags) ELSE 1 END AS INTEGER)
         AS n_emails
FROM validated
""",
    doc=(
        "sync-customers end-to-end (SURVEY section 3.1): Groove fixture ->"
        " P1-P5 transforms -> HelpScout customer rows. Map-only, zero"
        " shuffles, fully codegen'd; warnings ride the side-channel. Flattened"
        " here to scalar lineage columns for the driver's schema check. The"
        " oracle INDEPENDENTLY recomputes the P2/P3/P4 transforms in DuckDB"
        " SQL over the same raw fixture literals (sources/fixtures.py)"
        " embedded as a VALUES CTE -- no filesystem dependency."
    ),
)
def ref_pipeline_sync_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.customer_pipeline import transform_customers
    from ..sources.fixtures import groove_fixtures

    customers, warnings = transform_customers(groove_fixtures(spark).customers)
    return customers.select(
        "source_email",
        F.col("firstName").alias("first_name"),
        F.col("lastName").alias("last_name"),
        "organization",
        F.size("emails").alias("n_emails"),
    ).orderBy("source_email")


@register(
    "ref_pipeline_sync_tickets",
    oracle="""
SELECT * FROM (VALUES
  (1, 'Login broken', 'active', 3, 1),
  (4, 'Spam offer', 'spam', 1, CAST(NULL AS INTEGER))
) AS t(ticket_number, subject, status, n_threads, n_tags)
""",
    doc=(
        "sync-tickets end-to-end (SURVEY section 3.2): validation anti-joins,"
        " dedup semi-join, message fan-out, thread classification/person"
        " resolution, attachment handling with failure-note recovery, ordered"
        " group-back -- conversations + error side-channel, summarized to"
        " scalar columns for the driver's stable-schema check. The pipeline"
        " is not SQL-expressible end-to-end, so the oracle is GOLDEN-PINNED:"
        " the expected rows are the same goldens tests/test_pipelines.py"
        " asserts field-by-field (ticket 1 happy path with 3 threads; ticket"
        " 4 spam with the attachment-failure note thread; tickets 2/5/6"
        " dropped by validation, ticket 3 deduped against the existing HS"
        " conversation). The driver check is thereby a golden regression"
        " gate rather than an independent recompute."
    ),
)
def ref_pipeline_sync_tickets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.ticket_pipeline import build_conversations
    from ..sources.fixtures import groove_fixtures, helpscout_fixtures

    conversations, errors = build_conversations(
        groove_fixtures(spark, include_invalid=False), helpscout_fixtures(spark)
    )
    return conversations.select(
        F.col("groove_ticket_number").alias("ticket_number"),
        "subject",
        "status",
        F.size("threads").alias("n_threads"),
        F.size("tags").alias("n_tags"),
    ).orderBy("ticket_number")


# ---------------------------------------------------------------------------
# K3 -- content-addressed attachment dedup (upload each distinct blob once)
# ---------------------------------------------------------------------------
@register(
    "ref_k3_content_hash_dedup",
    oracle="""
WITH payloads AS (
  SELECT l_orderkey, l_linenumber,
         'attachment-' || CAST(l_orderkey % 500 AS VARCHAR) AS content
  FROM lineitem WHERE l_linenumber <= 2
)
SELECT sha256(content) AS content_hash,
       count(*) AS n_references,
       min(octet_length(encode(content))) AS n_bytes
FROM payloads GROUP BY sha256(content)
""",
    doc=(
        "K3 attachment upload with content addressing (TicketProcessor.php:"
        "305-311 generalized; SURVEY section 7 risk 3): hash the bytes, group"
        " references per distinct blob, upload ONCE per hash and carry the"
        " hash, never the bytes, through the rest of the plan. At 100 TB the"
        " upload fan-out collapses to |distinct blobs| and the shuffle after"
        " this point moves 32-byte hashes."
    ),
)
def ref_k3_content_hash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    payloads = t.lineitem.filter(F.col("l_linenumber") <= 2).select(
        "l_orderkey",
        "l_linenumber",
        F.concat(
            F.lit("attachment-"), (F.col("l_orderkey") % 500).cast("string")
        ).alias("content"),
    )
    return payloads.groupBy(F.sha2("content", 256).alias("content_hash")).agg(
        F.count(F.lit(1)).alias("n_references"),
        F.min(F.octet_length(F.encode("content", "UTF-8"))).alias("n_bytes"),
    )


# ---------------------------------------------------------------------------
# S8 -- raw-URL author fetch (fallback when the HS customer search misses)
# ---------------------------------------------------------------------------
@register(
    "ref_s8_raw_author_fetch",
    oracle="""
WITH msgs AS (
  SELECT c_custkey AS custkey,
         CASE WHEN c_custkey % 7 = 0
              THEN 'groove://broken/' || CAST(c_custkey AS VARCHAR)
              ELSE 'https://api.groovehq.com/v1/customers/'
                   || lower(replace(c_name, '#', '')) || '@example.com'
         END AS author_href,
         replace(c_name, '#', ' ') AS full_name
  FROM customer
), parsed AS (
  SELECT custkey, full_name,
         regexp_extract(author_href,
                        '^https?://api\\.groovehq\\.com/v1/customers/(.*)$', 1)
           AS author_email
  FROM msgs
)
SELECT custkey,
       CASE WHEN author_email <> '' THEN author_email END AS author_email,
       CASE WHEN author_email <> ''
            THEN CASE WHEN instr(full_name, ' ') > 0
                      THEN split_part(full_name, ' ', 1) ELSE full_name END
       END AS first_name,
       CASE WHEN author_email <> '' AND instr(full_name, ' ') > 0
            THEN trim(substr(full_name, instr(full_name, ' ') + 1))
       END AS last_name,
       CASE WHEN author_email = '' THEN 'CustomerFetchFailure' END AS error_type
FROM parsed
""",
    doc=(
        "S8 raw-URL author fetch (TicketProcessor.php:133-142): when the"
        " HelpScout customer search misses, the reference fetches the Groove"
        " author from links.author.href directly and splits the full name"
        " (APIHelper::extractFirstAndLastNameFromFullName); a malformed href"
        " becomes an error row, never an exception. Spark shape: regex"
        " extract on the href (P6), name split (P2), error column for the"
        " side-channel -- one narrow projection, no driver round-trips."
    ),
)
def ref_s8_raw_author_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer"])
    msgs = t.customer.select(
        F.col("c_custkey").alias("custkey"),
        F.when(
            F.col("c_custkey") % 7 == 0,
            F.concat(F.lit("groove://broken/"), F.col("c_custkey").cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("https://api.groovehq.com/v1/customers/"),
                F.lower(F.regexp_replace("c_name", "#", "")),
                F.lit("@example.com"),
            )
        )
        .alias("author_href"),
        F.regexp_replace("c_name", "#", " ").alias("full_name"),
    )
    parsed = msgs.withColumn("author_email", extract_link_id(F.col("author_href")))
    ok = F.col("author_email") != ""
    name = split_full_name(F.col("full_name"))
    return parsed.select(
        "custkey",
        F.when(ok, F.col("author_email")).alias("author_email"),
        F.when(ok, name["first_name"]).alias("first_name"),
        F.when(ok, name["last_name"]).alias("last_name"),
        F.when(~ok, F.lit("CustomerFetchFailure")).alias("error_type"),
    )


# ---------------------------------------------------------------------------
# S1 over the recorded-fixture HTTP client: cassette -> probe -> scan
# ---------------------------------------------------------------------------
@register(
    "ref_s1_http_fixture_scan",
    oracle="""
SELECT i AS rec_id,
       'ticket-' || CAST(i AS VARCHAR) AS payload,
       CAST(i // 20 + 1 AS BIGINT) AS page
FROM range(0, 123) t(i)
""",
    doc=(
        "S1 paginated scan driven through the HTTP-shaped seam"
        " (sources/http_fixture.py): a VCR-style cassette scripts 429/500"
        " prefixes on two pages, the metadata probe supplies total_count"
        " (S3, APIHelper.php:41-105), and paginated_source's in-task retries"
        " (sources/retry.py), each attempt paced by the task's token bucket,"
        " recover inside the task that owns the page --"
        " the full production fetch path minus the socket."
    ),
)
def ref_s1_http_fixture_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.api import paginated_source
    from ..sources.http_fixture import (
        FixtureHttpClient,
        RecordedTransport,
        paged_script,
    )

    records = [{"rec_id": i, "payload": f"ticket-{i}"} for i in range(123)]
    script = paged_script(records, per_page=20, flaky={3: [429, 500], 6: [503]})
    client = FixtureHttpClient(RecordedTransport(script))
    schema = T.StructType(
        [
            T.StructField("rec_id", T.LongType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    return paginated_source(
        spark,
        client.fetch_page,
        total_count=client.probe_total(),
        schema=schema,
        per_page=20,
        requests_per_minute=600,
        retry_attempts=3,
        retry_backoff=0.0,
    )


# ---------------------------------------------------------------------------
# K5/A4 -- observed metrics surface (DataFrame.observe, zero extra jobs)
# ---------------------------------------------------------------------------
@register(
    "ref_k5_observed_metrics",
    oracle="""
WITH src AS (
  SELECT l_orderkey, l_quantity FROM lineitem WHERE l_linenumber = 1
), gated AS (SELECT * FROM src WHERE l_quantity < 45)
SELECT * FROM (
  SELECT 'scan' AS step, 'n_rows' AS metric,
         CAST(count(*) AS DOUBLE) AS value FROM src
  UNION ALL
  SELECT 'size_gate', 'n_rows', CAST(count(*) AS DOUBLE) FROM gated
  UNION ALL
  SELECT 'size_gate', 'qty_total', CAST(sum(l_quantity) AS DOUBLE) FROM gated
) m
""",
    doc=(
        "K5/A4 metrics surface (SyncCommandBase.php:106-127,203-221): every"
        " pipeline phase reports counts via DataFrame.observe -- named"
        " aggregates evaluated INSIDE the pipeline's own action, accumulated"
        " map-side per task, merged on the driver: zero extra jobs/scans at"
        " any scale (vs a count() per metric re-running the plan). The"
        " oracle recomputes the observed values as plain aggregates."
    ),
)
def ref_k5_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..observability import PipelineMetrics

    pm = PipelineMetrics()
    t = load_tables(spark, sf_dir, ["lineitem"])
    src = pm.track(
        t.lineitem.filter(F.col("l_linenumber") == 1).select(
            "l_orderkey", "l_quantity"
        ),
        "scan",
    )
    gated = pm.track(
        src.filter(F.col("l_quantity") < 45),
        "size_gate",
        F.count(F.lit(1)).cast("double").alias("n_rows"),
        F.sum("l_quantity").cast("double").alias("qty_total"),
    )
    gated.write.format("noop").mode("overwrite").save()  # the pipeline's action
    return pm.snapshot(spark).select(
        "step", "metric", F.col("value").cast("double").alias("value")
    )


# ---------------------------------------------------------------------------
# T3 idempotency via the state store (dropDuplicatesWithinWatermark)
# ---------------------------------------------------------------------------
@register(
    "ref_t3_streaming_state_dedup",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events GROUP BY event_type
""",
    doc=(
        "T3 idempotent re-run as a STREAMING STATE-STORE operator: every"
        " event is duplicated in-stream (the replayed-page scenario of"
        " TicketProcessor.php:353-372) and dropDuplicatesWithinWatermark"
        " on event_id drops the replay inside the state store, with state"
        " expiring at the watermark instead of growing with the corpus."
        " Per-type totals after dedup must equal the batch totals of the"
        " ORIGINAL table -- the oracle is that batch twin. Complements"
        " ref_t3_idempotent_rerun (batch anti-join) and the foreachBatch"
        " merge sink (sink-side dedup)."
    ),
)
def ref_t3_streaming_state_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import run_to_memory, streaming_dedup_counts

    return run_to_memory(
        streaming_dedup_counts(spark, sf_dir), "state_dedup", output_mode="complete"
    )
