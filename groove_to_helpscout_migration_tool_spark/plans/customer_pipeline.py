"""sync-customers pipeline (SURVEY.md section 3.1; reference:
app/Console/Commands/SyncCustomers.php + Processors/CustomerProcessor.php).

Groove customer -> HelpScout Customer struct (P1-P5) as one declarative
select -- map-only ETL, zero shuffles, fully codegen'd. Warnings
(truncations, unsplittable emails) go to the side-channel in one pass
(operators/errors.warning_rows); nothing aborts a record.

Scale: the acquire boundary. The input is read once: a lazy local
checkpoint at the top of the plan is filled by the caller's first action
(the warnings collect), and the publish reads its blocks, so no Groove
page is fetched twice. Observations sit above it, so ``customers_in``
counts each input row once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import split_and_validate_emails, split_full_name, truncate_with_flag
from ..observability import PipelineMetrics
from ..operators import warning_rows

NAME_CAP = 40   # APIHelper.php:180-189
ORG_CAP = 60    # CustomerProcessor.php:65-68
TITLE_CAP = 60  # CustomerProcessor.php:72-76


def transform_customers(
    groove_customers: DataFrame,
    metrics: "PipelineMetrics | None" = None,
) -> tuple[DataFrame, DataFrame]:
    """-> (helpscout_customers, warnings).

    helpscout_customers matches schemas.HELPSCOUT_CUSTOMER_OUT plus a
    lineage ``source_email`` column (the HybridConversation idea: lineage
    is a carried column, never a wrapper object). ``metrics`` observes
    in/out/warning counts inside the caller's action (K5/A4 surface).
    """
    groove_customers = groove_customers.localCheckpoint(eager=False)
    if metrics is not None:
        groove_customers = metrics.track(groove_customers, "customers_in")
    name = split_full_name(F.col("name"))
    first = truncate_with_flag(name.getField("first_name"), NAME_CAP)
    last = truncate_with_flag(name.getField("last_name"), NAME_CAP)
    org = truncate_with_flag(F.col("company_name"), ORG_CAP)
    title = truncate_with_flag(F.col("title"), TITLE_CAP)
    emails = split_and_validate_emails(F.col("email"))

    # emails[]: first valid = 'primary', rest 'other' (CustomerProcessor.php:122-127)
    email_entries = F.transform(
        emails.getField("emails"),
        lambda e, i: F.struct(
            e.alias("value"),
            F.when(i == 0, F.lit("primary")).otherwise(F.lit("other")).alias("location"),
        ),
    )
    phones = F.when(
        F.col("phone_number").isNotNull(),
        F.array(F.struct(F.col("phone_number").alias("value"), F.lit("home").alias("location"))),
    ).otherwise(F.array().cast("array<struct<value:string,location:string>>"))
    socials = F.filter(
        F.array(
            F.when(
                F.col("twitter_username").isNotNull(),
                F.struct(F.col("twitter_username").alias("value"), F.lit("twitter").alias("type")),
            ),
            F.when(
                F.col("linkedin_username").isNotNull(),
                F.struct(F.col("linkedin_username").alias("value"), F.lit("linkedin").alias("type")),
            ),
        ),
        lambda s: s.isNotNull(),
    )
    websites = F.when(
        F.col("website_url").isNotNull(),
        F.array(F.struct(F.col("website_url").alias("value"))),
    ).otherwise(F.array().cast("array<struct<value:string>>"))

    staged = groove_customers.select(
        F.col("email").alias("source_email"),
        first.getField("value").alias("firstName"),
        first.getField("was_truncated").alias("_w_first"),
        last.getField("value").alias("lastName"),
        last.getField("was_truncated").alias("_w_last"),
        org.getField("value").alias("organization"),
        org.getField("was_truncated").alias("_w_org"),
        title.getField("value").alias("jobTitle"),
        title.getField("was_truncated").alias("_w_title"),
        F.col("location"),
        F.col("about").alias("background"),
        phones.alias("phones"),
        email_entries.alias("emails"),
        emails.getField("all_valid").alias("_emails_valid"),
        socials.alias("socialProfiles"),
        websites.alias("websites"),
    )

    warn_cols = {
        "_w_first": "first name truncated to 40 chars",
        "_w_last": "last name truncated to 40 chars",
        "_w_org": "organization truncated to 60 chars",
        "_w_title": "job title truncated to 60 chars",
    }
    warnings = warning_rows(staged, [
        *[(F.col(c), "TruncationWarning", F.concat(F.lit(msg + " for "), F.col("source_email")))
          for c, msg in warn_cols.items()],
        (~F.col("_emails_valid"), "InvalidEmailWarning",
         F.concat(F.lit("unsplittable email kept verbatim: "), F.col("source_email"))),
    ])

    out = staged.drop(*warn_cols, "_emails_valid")
    if metrics is not None:
        out = metrics.track(out, "customers_out")
        warnings = metrics.track(warnings, "warnings_out")
    return out, warnings
