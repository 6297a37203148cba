"""Golden-style tests for the customer and ticket pipelines against the
deterministic fixtures -- every quirky reference fallback path
(SURVEY.md section 7 'hard parts') is asserted here."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from groove_to_helpscout_migration_tool_spark.plans import (
    build_conversations,
    transform_customers,
    view_ticket,
)
from groove_to_helpscout_migration_tool_spark.operators import ValidationError, group_error_report
from groove_to_helpscout_migration_tool_spark.sources import groove_fixtures, helpscout_fixtures


@pytest.fixture(scope="module")
def groove(spark):
    return groove_fixtures(spark, include_invalid=False)


@pytest.fixture(scope="module")
def groove_bad(spark):
    return groove_fixtures(spark, include_invalid=True)


@pytest.fixture(scope="module")
def hs(spark):
    return helpscout_fixtures(spark)


class TestCustomerPipeline:
    @pytest.fixture(scope="class")
    def result(self, groove):
        out, warnings = transform_customers(groove.customers)
        rows = {r["source_email"]: r for r in out.collect()}
        return rows, warnings.collect()

    def test_simple_customer(self, result):
        rows, _ = result
        jane = rows["jane@ex.com"]
        assert jane["firstName"] == "Jane"
        assert jane["lastName"] == "Q Doe"
        assert jane["organization"] == "Acme"
        assert jane["jobTitle"] == "CTO"
        assert jane["background"] == "vip"
        assert [e["value"] for e in jane["emails"]] == ["jane@ex.com"]
        assert jane["emails"][0]["location"] == "primary"
        assert jane["phones"] == [("555-0100", "home")] or (
            jane["phones"][0]["value"] == "555-0100" and jane["phones"][0]["location"] == "home"
        )
        assert {s["type"] for s in jane["socialProfiles"]} == {"twitter", "linkedin"}
        assert jane["websites"][0]["value"] == "https://jane.ex"

    def test_multi_email_primary_other(self, result):
        rows, _ = result
        bob = rows["bob@ex.com;bob2@ex.org"]
        assert [(e["value"], e["location"]) for e in bob["emails"]] == [
            ("bob@ex.com", "primary"), ("bob2@ex.org", "other"),
        ]
        assert bob["lastName"] is None  # no-space name

    def test_invalid_email_fallback_keeps_original(self, result):
        rows, warnings = result
        carol = rows["carol@ex.com invalid-email"]
        assert [e["value"] for e in carol["emails"]] == ["carol@ex.com invalid-email"]
        assert any(w["error_type"] == "InvalidEmailWarning" for w in warnings)

    def test_truncation_caps_and_warnings(self, result):
        rows, warnings = result
        carol = rows["carol@ex.com invalid-email"]
        assert len(carol["jobTitle"]) == 60
        assert len(carol["organization"]) == 60
        dave = rows["dave@ex.com"]
        assert len(dave["lastName"]) == 40
        kinds = {w["error_type"] for w in warnings}
        assert "TruncationWarning" in kinds

    def test_phone_number_as_name(self, result):
        rows, _ = result
        r = rows["+15550102@sms.ex"]
        assert r["firstName"] == "+1"
        assert r["lastName"] == "555 0102"

    def test_warnings_row_for_row(self, result):
        _, warnings = result
        # carol's one record yields three warnings; the record itself stays
        assert sorted(map(tuple, warnings)) == [
            ("InvalidEmailWarning", "unsplittable email kept verbatim: carol@ex.com invalid-email"),
            ("TruncationWarning", "job title truncated to 60 chars for carol@ex.com invalid-email"),
            ("TruncationWarning", "last name truncated to 40 chars for dave@ex.com"),
            ("TruncationWarning", "organization truncated to 60 chars for carol@ex.com invalid-email"),
        ]


class TestTicketPipeline:
    @pytest.fixture(scope="class")
    def result(self, groove, hs):
        convs, errors = build_conversations(groove, hs)
        return {r["groove_ticket_number"]: r for r in convs.collect()}, errors.collect()

    def test_validation_fail_fast(self, groove_bad, hs):
        with pytest.raises(ValidationError) as e:
            build_conversations(groove_bad, hs)
        names = {f[0] for f in e.value.failures}
        assert names == {"mailbox_missing", "agent_missing"}

    def test_bypass_validation(self, groove_bad, hs):
        convs, _ = build_conversations(groove_bad, hs, bypass_validation=True)
        assert convs.count() > 0

    def test_dedup_skips_existing_conversation(self, result):
        convs, _ = result
        # ticket 3 matches an existing HS conversation on
        # (created_at == modifiedAt, lower(title) == lower(subject)) -> skipped
        assert 3 not in convs

    def test_dedup_toggle(self, groove, hs):
        convs, _ = build_conversations(groove, hs, check_duplicates=False)
        assert 3 in {r["groove_ticket_number"] for r in convs.collect()}

    def test_happy_path_conversation(self, result):
        convs, _ = result
        c = convs[1]
        assert c["subject"] == "Login broken"
        assert c["mailbox_id"] == 10
        assert c["status"] == "active"  # opened -> active
        assert c["customer"]["id"] == "200"
        assert c["createdAt"] == "2016-02-01T10:00:00"
        assert c["tags"] == ["bug"]
        assert c["imported"] is True

    def test_thread_assembly_order_and_types(self, result):
        convs, _ = result
        threads = convs[1]["threads"]
        assert [t["type"] for t in threads] == ["customer", "message", "note"]
        bodies = [t["body"] for t in threads]
        assert bodies[0].startswith("<p>")
        # createdBy resolution: agent author -> user ref via case-insensitive J3
        assert threads[1]["createdBy"]["type"] == "user"
        assert threads[1]["createdBy"]["id"] == "100"
        # P17 recipient -> toList
        assert threads[1]["toList"] == ["jane@ex.com"]
        # attachment on m1 with sniffed PNG mime + hash, binary dropped
        att = threads[0]["attachments"][0]
        assert att["fileName"] == "screenshot.png"
        assert att["mimeType"] == "image/png"
        assert att["hash"] is not None

    def test_note_by_customer_becomes_customer_thread(self, result):
        convs, _ = result
        # ticket 4: note authored by DAVE@ex.com (the ticket's own customer,
        # case differs) -> customer thread despite note=true (P8 override)
        threads = convs[4]["threads"]
        assert [t["type"] for t in threads] == ["customer"]
        assert threads[0]["createdBy"]["type"] == "customer"

    def test_nonemail_href_ticket_errors(self, result):
        convs, _ = result
        # ticket 2's customer href is a non-email id (cust-77) that resolves
        # nowhere -> whole ticket errors (per-record, job continues)
        assert 2 not in convs

    def test_nonemail_customer_href_errors(self, result):
        _, errors = result
        assert any("customer could not be resolved" in e["detail"] for e in errors)

    def test_unknown_state_errors_record_not_job(self, result):
        convs, errors = result
        assert 5 not in convs  # bogus state
        assert any("unknown ticket state" in e["detail"] for e in errors)

    def test_missing_customer_link_errors(self, result):
        convs, errors = result
        assert 6 not in convs
        assert any("no customer link" in e["detail"] for e in errors)

    def test_mailbox_default_fallback(self, result):
        convs, _ = result
        # ticket 4 ('Nonexistent Box') falls back to the default mailbox (12)
        c = convs[4]
        assert c["mailbox_id"] == 12
        assert c["mailbox_defaulted"] is True
        assert c["status"] == "spam"
        # J4 cascade: dave missing from HS customers -> resolved via Groove
        assert c["customer"]["id"] is None
        assert c["customer"]["email"] == "dave@ex.com"

    def test_multipage_messages_included(self, result):
        convs, _ = result
        # ticket 4's conversation exists even with zero resolvable messages;
        # ticket 3 was deduped, so its page-2 message is moot -- instead
        # verify ticket 1 kept all 3 threads (the engine's <= page semantics)
        assert len(convs[1]["threads"]) == 3

    def test_attachment_failure_synthesizes_note(self, groove, hs):
        convs, errors = build_conversations(groove, hs, check_duplicates=False)
        c = {r["groove_ticket_number"]: r for r in convs.collect()}[3]
        # gone.pdf download failed -> synthetic note referencing the URL
        notes = [t for t in c["threads"] if t["type"] == "note"]
        assert any("unreachable.pdf" in (t["body"] or "") for t in notes)
        assert any(e["error_type"] == "AttachmentMigrationFailure" for e in errors.collect())

    def test_oversize_attachment_warns(self, groove, hs):
        _, errors = build_conversations(groove, hs, check_duplicates=False)
        assert any(e["error_type"] == "AttachmentSizeWarning" for e in errors.collect())

    def test_errors_row_for_row(self, result, groove, hs):
        _, errors = result
        skipped = [
            ("ValidationException", "customer could not be resolved [ticket 2: charge twice]"),
            ("ValidationException", "ticket has no customer link [ticket 6: orphan]"),
            ("ValidationException", "unknown ticket state [ticket 5: ???]"),
        ]
        assert sorted(map(tuple, errors)) == skipped
        # without the dedup, ticket 3's attachments warn and the record continues
        _, errors = build_conversations(groove, hs, check_duplicates=False)
        assert sorted(map(tuple, errors.collect())) == [
            ("AttachmentMigrationFailure", "failed to download https://files.ex/unreachable.pdf"),
            ("AttachmentSizeWarning", "huge.bin is 20000000 bytes (cap 10485760)"),
            *skipped,
        ]

    def test_first_failed_check_names_the_error(self, spark, groove, hs):
        from types import SimpleNamespace

        from groove_to_helpscout_migration_tool_spark import schemas

        api = "https://api.groovehq.com/v1/"
        # ticket 7 fails all four conversation checks (no customer link, so
        # no customer either; bogus state; unknown mailbox with no default)
        tickets = spark.createDataFrame([
            (7, "Everything wrong", "all bad", "bogus", "Nowhere", None,
             "2016-02-07 09:00:00", ((None,), (None,)), 1),
        ], schemas.GROOVE_TICKET)
        # on ticket 1: an agent with no HelpScout user, and an author href
        # that names neither a customer nor an agent
        messages = spark.createDataFrame([
            (1, "m8", False, True, "from a ghost", "2016-02-01 10:07:00", api + "messages/m8",
             ((api + "agents/agent-9",), (None,), (None,)), 1),
            (1, "m9", False, False, "from nowhere", "2016-02-01 10:08:00", api + "messages/m9",
             ((api + "widgets/w1",), (None,), (None,)), 1),
        ], schemas.GROOVE_MESSAGE)
        g = SimpleNamespace(**{
            **vars(groove),
            "tickets": groove.tickets.unionByName(tickets),
            "messages": groove.messages.unionByName(messages),
        })
        convs, errors = build_conversations(g, hs, default_mailbox_id=None)
        assert sorted(map(tuple, errors.collect())) == [
            ("ValidationException", "customer could not be resolved [ticket 2: charge twice]"),
            ("ValidationException", "no HelpScout user for author of message m8"),
            ("ValidationException", "no mailbox and no default [ticket 4: buy now]"),
            ("ValidationException", "ticket has no customer link [ticket 6: orphan]"),
            ("ValidationException", "ticket has no customer link [ticket 7: all bad]"),
            ("ValidationException", "unknown ticket state [ticket 5: ???]"),
            ("ValidationException", "unparseable author href on message m9"),
        ]
        # the failed threads are skipped; their conversation is not
        convs = {r["groove_ticket_number"]: r for r in convs.collect()}
        assert list(convs) == [1] and len(convs[1]["threads"]) == 3

    def test_error_grouping_report(self, result, spark):
        _, errors = result
        report = group_error_report(spark.createDataFrame(errors))
        by_type = {r["error_type"]: r for r in report.collect()}
        assert by_type["ValidationException"]["n_occurrences"] >= 3


class TestViewTicket:
    def test_point_lookup(self, groove):
        df = view_ticket(groove.tickets, 2)
        rows = df.collect()
        assert len(rows) == 1 and rows[0]["title"] == "Billing question"


class TestPipelineMetrics:
    def test_customer_pipeline_observes_counts(self, spark):
        from groove_to_helpscout_migration_tool_spark.observability import PipelineMetrics
        from groove_to_helpscout_migration_tool_spark.plans import transform_customers
        from groove_to_helpscout_migration_tool_spark.sources.fixtures import (
            groove_fixtures,
        )

        pm = PipelineMetrics()
        groove = groove_fixtures(spark)
        out, warnings = transform_customers(groove.customers, metrics=pm)
        n_out, n_warn = out.count(), warnings.count()
        n_in = groove.customers.count()
        assert n_in == 5

        metrics = {
            (r["step"], r["metric"]): r["value"]
            for r in pm.snapshot(spark).collect()
        }
        assert metrics[("customers_in", "n_rows")] == n_in
        assert metrics[("customers_out", "n_rows")] == n_out
        assert metrics[("warnings_out", "n_rows")] == n_warn

    def test_ticket_pipeline_observes_counts(self, spark):
        from groove_to_helpscout_migration_tool_spark.observability import PipelineMetrics
        from groove_to_helpscout_migration_tool_spark.plans import build_conversations
        from groove_to_helpscout_migration_tool_spark.sources.fixtures import (
            groove_fixtures,
            helpscout_fixtures,
        )

        pm = PipelineMetrics()
        groove = groove_fixtures(spark)
        convs, errors = build_conversations(
            groove,
            helpscout_fixtures(spark),
            bypass_validation=True,
            metrics=pm,
        )
        n_convs, n_errors = convs.count(), errors.count()
        n_in = groove.tickets.count()
        metrics = {
            (r["step"], r["metric"]): r["value"]
            for r in pm.snapshot(spark).collect()
        }
        assert metrics[("conversations_out", "n_rows")] == n_convs
        assert metrics[("errors_out", "n_rows")] == n_errors
        # observed above the inputs' materialization: each row once
        assert metrics[("tickets_in", "n_rows")] == n_in

    def test_log_renders_progress_lines(self, spark):
        from pyspark.sql import functions as F

        from groove_to_helpscout_migration_tool_spark.observability import (
            PipelineMetrics,
            eta_hms,
        )

        pm = PipelineMetrics()
        df = pm.track(spark.range(10).toDF("n"), "stage_a")
        df.count()
        lines = []
        pm.log(printer=lines.append)
        assert any("[stage_a] n_rows=10" in ln for ln in lines)
        assert eta_hms(50, 100, 100.0) == "00:01:40"
        assert eta_hms(0, 100, 5.0) == "--:--:--"

    def test_snapshot_before_action_does_not_block(self, spark):
        """Observation.get blocks forever until the observed frame's
        action runs; snapshot/log must instead return partial metrics
        for the stages that HAVE run (ADVICE r2)."""
        from groove_to_helpscout_migration_tool_spark.observability import PipelineMetrics

        pm = PipelineMetrics()
        ran = pm.track(spark.range(5).toDF("n"), "ran_stage")
        pm.track(spark.range(7).toDF("n"), "pending_stage")  # no action
        ran.count()

        rows = pm.snapshot(spark).collect()
        steps = {r["step"] for r in rows}
        assert steps == {"ran_stage"}

        lines = []
        pm.log(printer=lines.append)
        assert any("[ran_stage] n_rows=5" in ln for ln in lines)
        assert any("pending_stage" in ln and "pending" in ln for ln in lines)
