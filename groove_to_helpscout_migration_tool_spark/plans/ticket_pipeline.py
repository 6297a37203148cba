"""sync-tickets pipeline (SURVEY.md section 3.2; reference:
app/Console/Commands/SyncTickets.php + Processors/TicketProcessor.php).

The reference's nested per-ticket loops (messages -> attachments ->
author lookups) become joins + group-backs:

    tickets --J6 validate--> --J5 dedup anti-join-->
      --J1 mailbox broadcast join--> --P6/P11/J4 customer resolve-->
    messages --P8 classify--> --J3 author resolve--> --attachments join-->
      --P13/P14/P15 attachment handling-->
    groupBy(ticket) sort_array(collect_list(thread)) --> conversations

Error isolation (T4): a failed THREAD precursor never kills its
conversation unless the conversation itself is invalid; every failure is
an error-side-channel row, never an exception.

Scale: mailbox/user/customer/conversation dims broadcast; the only
shuffles are messages->groupBy(ticket_number) and the final
conversation join, both on the same key so AQE can coalesce. At 100 TB
attachment bytes are dropped right after hashing (T6) so the group-back
never carries binaries.

The acquire boundary: each input is read once. Every ``groove.*`` and
``hs.*`` frame read by more than one branch or action is a lazy local
checkpoint taken at the top of the plan, before any observation or
branch; the first action that reads it (the validation collect, the
errors collect) fills it and the other branches and the publish read its
blocks, so no page is re-fetched and no dimension re-evaluated.
Attachments are materialized post-hash: MIME and content hash depend on
the attachment row alone, so they are computed ahead of the message join
and the stored rows never hold the binary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from types import SimpleNamespace

from ..functions import (
    classify_thread,
    groove_state_to_helpscout_status,
    link_kind,
    extract_link_id,
    to_iso8601,
)
from ..multimodal import sniff_mime
from ..observability import PipelineMetrics
from ..operators import (
    dedup_anti_join,
    run_validations,
    split_errors,
    validation_anti_join,
    warning_rows,
    with_error,
)

ATTACH_SIZE_CAP = 10_485_760  # TicketProcessor.php:301
ATTACH_MSG_RE = r"attachments\?message=(.*)$"


def _resolve_customer(base: DataFrame, hs_customers: DataFrame, groove_customers: DataFrame) -> DataFrame:
    """P6/P11 + J4 enrichment cascade for the ticket's customer link."""
    base = base.withColumn("cust_link_id", extract_link_id(F.col("links.customer.href")))
    hs = hs_customers.select(
        F.lower(F.col("email")).alias("hs_email"), F.col("id").alias("hs_customer_id")
    )
    gr = groove_customers.select(
        F.lower(F.col("email")).alias("gr_email"), F.col("name").alias("gr_name")
    )
    return (
        base.join(F.broadcast(hs), F.lower(F.col("cust_link_id")) == F.col("hs_email"), "left")
        .join(F.broadcast(gr), F.lower(F.col("cust_link_id")) == F.col("gr_email"), "left")
        .withColumn(
            "customer_ref",
            F.when(
                F.col("hs_customer_id").isNotNull(),
                F.struct(
                    F.lit("customer").alias("type"),
                    F.col("hs_customer_id").cast("string").alias("id"),
                    F.col("cust_link_id").alias("email"),
                ),
            ).when(
                F.col("gr_name").isNotNull(),
                F.struct(
                    F.lit("customer").alias("type"),
                    F.lit(None).cast("string").alias("id"),
                    F.col("cust_link_id").alias("email"),
                ),
            ),
        )
    )


def _read_once(inputs: SimpleNamespace, *names: str) -> SimpleNamespace:
    """-> ``inputs`` with the named frames materialized lazily, once.

    A lazy local checkpoint is filled by the first action that reads
    it; every later branch and action reads its blocks. So no page is
    re-fetched and no dimension re-evaluated, and a fetch failure still
    surfaces at the caller's action. An action that reads only some
    partitions (a capped collect) makes Spark run one more job to fill
    the rest, so name frames whose first read is a full one. The blocks
    live as long as the returned frames: the ContextCleaner frees them
    (session.py sets ``cleanCheckpoints``)."""
    return SimpleNamespace(**{
        name: df.localCheckpoint(eager=False) if name in names else df
        for name, df in vars(inputs).items()
    })


def build_conversations(
    groove: SimpleNamespace,
    hs: SimpleNamespace,
    check_duplicates: bool = True,
    bypass_validation: bool = False,
    default_mailbox_id: int | None = 12,
    default_user_id: int | None = 100,
    timezone: str | None = None,
    metrics: "PipelineMetrics | None" = None,
) -> tuple[DataFrame, DataFrame]:
    """-> (conversations, errors). ``groove``/``hs`` carry the fixture-shaped
    DataFrames (sources/fixtures.py); live adapters produce the same shapes.

    ``metrics`` (observability.PipelineMetrics) observes per-phase row
    counts inside the pipeline's own action -- the K5/A4 progress
    surface, zero extra jobs.
    """
    def _track(df: DataFrame, step: str) -> DataFrame:
        return metrics.track(df, step) if metrics is not None else df

    # ---- Acquire -> Process boundary: every input is read once ----
    # P13 MIME sniff from magic bytes (JVM-side, no UDF);
    # K3 content hash then DROP the binary (T6 memory hygiene). Both
    # depend on the attachment row alone, so they run before the message
    # join and the materialized attachments never hold a binary.
    atts = (
        groove.attachments.withColumnRenamed("message_id", "att_src_msg_id")
        .withColumn("mime", sniff_mime(F.col("data")))
        .withColumn("content_hash", F.md5(F.col("data")))
        .drop("data")
        .localCheckpoint(eager=False)
    )
    # Groove mailboxes and agents feed only the validation below: one
    # capped collect that reads as few partitions as it needs, where a
    # checkpoint would add a job per frame to fill the rest.
    groove = _read_once(groove, "tickets", "messages", "customers", "agent_dir")
    hs = _read_once(hs, "mailboxes", "users", "customers", "conversations")

    # ---- Phase 1: fail-fast validation (J6; SyncTickets.php:70-115) ----
    run_validations(
        [
            validation_anti_join(
                groove.mailboxes, hs.mailboxes, F.col("name"), F.col("name"),
                "mailbox_missing", F.col("name"),
            ),
            validation_anti_join(
                groove.agents, hs.users,
                groove.agents["email"], hs.users["email"],
                "agent_missing", groove.agents["email"],
            ),
        ],
        bypass=bypass_validation,
    )

    tickets = _track(groove.tickets, "tickets_in")

    # ---- Phase 2: duplicate skip (J5; TicketProcessor.php:353-372) ----
    if check_duplicates:
        existing = hs.conversations.select(
            F.col("modifiedAt").alias("e_modified"),
            F.lower(F.col("subject")).alias("e_subject"),
        )
        tickets = dedup_anti_join(
            tickets, existing,
            [(F.col("created_at"), F.col("e_modified")),
             (F.lower(F.col("title")), F.col("e_subject"))],
        )

    # ---- Phase 3: conversation base (J1, P6/P11/J4, P7, P10, P16) ----
    mb = hs.mailboxes.select(
        F.lower(F.col("name")).alias("mb_name"), F.col("id").alias("mb_id")
    )
    base = (
        tickets.join(F.broadcast(mb), F.lower(F.col("mailbox")) == F.col("mb_name"), "left")
        .withColumn("mailbox_defaulted", F.col("mb_id").isNull())
        .withColumn("mailbox_id", F.coalesce(F.col("mb_id"), F.lit(default_mailbox_id)))
    )
    base = _resolve_customer(base, hs.customers, groove.customers)
    base = (
        base.withColumn("status", groove_state_to_helpscout_status(F.col("state")))
        .withColumn("created_at_iso", to_iso8601(F.to_timestamp("created_at"), timezone))
        .withColumn(
            "tags_out",
            F.when(F.size(F.coalesce(F.col("tags"), F.array().cast("array<string>"))) > 0, F.col("tags")),
        )
    )

    # per-record conversation errors (T4: record skipped, pipeline
    # continues); the first failing check names the error
    ticket = F.concat(F.lit(" [ticket "), F.col("number"), F.lit(": "), F.col("summary"), F.lit("]"))
    good, conv_errors = split_errors(with_error(base, [
        (failed, "ValidationException", F.concat(F.lit(msg), ticket))
        for failed, msg in [
            (F.col("links.customer.href").isNull(), "ticket has no customer link"),
            (F.col("customer_ref").isNull(), "customer could not be resolved"),
            (F.col("status").isNull(), "unknown ticket state"),
            (F.col("mailbox_id").isNull(), "no mailbox and no default"),
        ]
    ]))

    # ---- Phase 4: threads (S5 fan-out already materialized as messages) ----
    msgs = groove.messages.withColumn(
        "author_kind", link_kind(F.col("links.author.href"))
    ).withColumn("author_id", extract_link_id(F.col("links.author.href")))

    # P8 + override: a note authored by the ticket's customer email is a
    # customer thread (TicketProcessor.php:76-83); case-insensitive (P12)
    ticket_cust = good.select(
        F.col("number").alias("t_number"),
        F.lower(F.col("cust_link_id")).alias("t_cust_email"),
        F.col("status").alias("conv_status"),
    )
    # ticket_cust is one row per TICKET (a fact, not a dim): no broadcast
    # hint -- the join key (ticket_number) matches the group-back
    # partitioning, so a shuffle join co-partitions with the rest of the
    # pipeline and AQE auto-broadcasts when the side is genuinely small.
    msgs = msgs.join(
        ticket_cust, F.col("ticket_number") == F.col("t_number"), "inner"
    )
    msgs = msgs.withColumn(
        "thread_type",
        classify_thread(
            F.col("note"),
            F.col("agent_response"),
            F.when(F.col("author_kind") == "customer", F.col("author_id")),
            F.array(F.col("t_cust_email")),
        ),
    )

    # P9/J3: author PersonRef. Agent authors resolve agent_id -> email
    # (S8 directory) -> HS user (J3); miss FAILS THE RECORD (thread).
    adir = groove.agent_dir.select(
        F.col("agent_id").alias("a_id"), F.lower(F.col("email")).alias("a_email")
    )
    users = hs.users.select(
        F.lower(F.col("email")).alias("u_email"), F.col("id").alias("u_id")
    )
    hs_cust = hs.customers.select(
        F.lower(F.col("email")).alias("hc_email"), F.col("id").alias("hc_id")
    )
    msgs = (
        msgs.join(F.broadcast(adir), F.col("author_id") == F.col("a_id"), "left")
        .join(F.broadcast(users), F.col("a_email") == F.col("u_email"), "left")
        .join(
            F.broadcast(hs_cust),
            (F.col("author_kind") == "customer")
            & (F.lower(F.col("author_id")) == F.col("hc_email")),
            "left",
        )
    )
    msgs = msgs.withColumn(
        "created_by",
        F.when(
            F.col("author_kind") == "agent",
            F.when(
                F.col("u_id").isNotNull(),
                F.struct(
                    F.lit("user").alias("type"),
                    F.col("u_id").cast("string").alias("id"),
                    F.col("a_email").alias("email"),
                ),
            ),
        ).when(
            F.col("author_kind") == "customer",
            F.struct(
                F.lit("customer").alias("type"),
                F.col("hc_id").cast("string").alias("id"),
                F.lower(F.col("author_id")).alias("email"),
            ),
        ),
    )
    # P17 recipient -> toList
    msgs = msgs.withColumn(
        "to_list",
        F.when(
            F.col("links.recipient.href").isNotNull(),
            F.array(extract_link_id(F.col("links.recipient.href"))),
        ),
    )

    # thread-level errors: agent author with no HS user (J3 miss), or an
    # author href that parses to no known kind
    good_msgs, thread_errors = split_errors(with_error(msgs, [
        (failed, "ValidationException", F.concat(F.lit(msg), F.col("message_id")))
        for failed, msg in [
            ((F.col("author_kind") == "agent") & F.col("u_id").isNull(),
             "no HelpScout user for author of message "),
            (F.col("author_kind") == "error", "unparseable author href on message "),
        ]
    ]))

    # ---- Phase 5: attachments (S6/S13/K3/P13/P14/P15) ----
    att_msgs = good_msgs.withColumn(
        "att_msg_id", F.regexp_extract(F.col("links.attachments.href"), ATTACH_MSG_RE, 1)
    )
    # atts carries mime/content_hash from the acquire boundary
    sniffed = att_msgs.filter(F.col("att_msg_id") != "").select(
        "ticket_number", "message_id", "att_msg_id", "conv_status"
    ).join(atts, F.col("att_msg_id") == F.col("att_src_msg_id"), "inner")

    # P14 oversize and P15 failed download: side output, record continues
    attach_warnings = warning_rows(sniffed, [
        (F.col("size") > ATTACH_SIZE_CAP, "AttachmentSizeWarning",
         F.concat(F.col("filename"), F.lit(" is "), F.col("size"),
                  F.lit(" bytes (cap "), F.lit(ATTACH_SIZE_CAP), F.lit(")"))),
        (F.col("content_hash").isNull(), "AttachmentMigrationFailure",
         F.concat(F.lit("failed to download "), F.col("url"))),
    ])

    ok_atts = sniffed.filter(F.col("content_hash").isNotNull()).select(
        F.col("ticket_number").alias("a_ticket"),
        F.col("message_id").alias("a_message"),
        F.struct(
            F.col("filename").alias("fileName"),
            F.col("mime").alias("mimeType"),
            F.col("size").alias("size"),
            F.col("content_hash").alias("hash"),
        ).alias("attachment"),
    )
    att_by_msg = ok_atts.groupBy("a_ticket", "a_message").agg(
        F.sort_array(F.collect_list("attachment")).alias("attachments")
    )

    # P15: failed download (data NULL) -> synthetic note thread linking the
    # original URL, authored by default_user_id (TicketProcessor.php:313-333)
    failed = sniffed.filter(F.col("content_hash").isNull())
    synthetic_notes = failed.select(
        F.col("ticket_number"),
        F.lit("synthetic").alias("message_id"),
        F.lit("note").alias("thread_type"),
        F.concat(
            F.lit("Attachment could not be migrated: <a href=\""), F.col("url"),
            F.lit("\">"), F.col("filename"), F.lit("</a>"),
        ).alias("body"),
        F.lit(None).cast("string").alias("created_at"),
        F.col("conv_status"),
        F.struct(
            F.lit("user").alias("type"),
            F.lit(str(default_user_id)).alias("id"),
            F.lit(None).cast("string").alias("email"),
        ).alias("created_by"),
        F.lit(None).cast("array<string>").alias("to_list"),
        F.lit(None).cast(
            "array<struct<fileName:string,mimeType:string,size:bigint,hash:string>>"
        ).alias("attachments"),
        F.lit(1).alias("seq_group"),  # synthetic notes sort after real threads
    )

    # ---- Phase 6: group-back (collect_list of thread structs, ordered) ----
    threads = (
        # att_by_msg is one row per message-with-attachments (data-sized):
        # no broadcast hint for the same reason as ticket_cust above.
        good_msgs.join(
            att_by_msg,
            (F.col("ticket_number") == F.col("a_ticket"))
            & (F.col("message_id") == F.col("a_message")),
            "left",
        )
        .select(
            "ticket_number", "message_id", "thread_type",
            F.col("body"), F.col("created_at"), F.col("conv_status"),
            "created_by", "to_list", "attachments",
            F.lit(0).alias("seq_group"),
        )
        .unionByName(synthetic_notes)
    )
    thread_struct = F.struct(
        F.col("seq_group"),
        F.col("created_at"),
        F.col("message_id"),
        F.col("thread_type").alias("type"),
        F.col("body"),
        to_iso8601(F.to_timestamp("created_at"), timezone).alias("createdAt"),
        F.col("conv_status").alias("status"),
        F.col("created_by").alias("createdBy"),
        F.col("to_list").alias("toList"),
        F.col("attachments"),
    )
    per_ticket = (
        threads.withColumn("t", thread_struct)
        .groupBy("ticket_number")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("t")),
                lambda s: s.dropFields("seq_group", "created_at", "message_id"),
            ).alias("threads")
        )
    )

    # ---- Phase 7: conversation assembly (HybridConversation lineage) ----
    conversations = (
        good.join(per_ticket, F.col("number") == F.col("ticket_number"), "left")
        .select(
            F.col("number").alias("groove_ticket_number"),  # lineage column
            F.lit("email").alias("type"),
            F.col("title").alias("subject"),
            F.col("mailbox_id"),
            F.col("mailbox_defaulted"),
            F.col("tags_out").alias("tags"),
            F.col("customer_ref").alias("customer"),
            F.col("customer_ref").alias("createdBy"),
            F.col("created_at_iso").alias("createdAt"),
            F.col("status"),
            F.coalesce(
                F.col("threads"),
                F.array().cast(
                    "array<struct<type:string,body:string,createdAt:string,"
                    "status:string,createdBy:struct<type:string,id:string,email:string>,"
                    "toList:array<string>,"
                    "attachments:array<struct<fileName:string,mimeType:string,size:bigint,hash:string>>>>"
                ),
            ).alias("threads"),
            F.lit(True).alias("imported"),  # K2: imported=true, prevents spam
        )
    )

    errors = conv_errors.unionByName(thread_errors).unionByName(attach_warnings)
    return _track(conversations, "conversations_out"), _track(errors, "errors_out")


def view_ticket(tickets: DataFrame, number: int) -> DataFrame:
    """view-ticket command (SURVEY.md section 3.3): point lookup by number."""
    return tickets.filter(F.col("number") == number)
