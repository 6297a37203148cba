"""Error side-channel convention (SURVEY.md T4, A2, K4).

The reference never aborts on a bad record: each failure is captured as
(error_type, detail), and at the end errors are grouped by message and
exported to CSV (TicketPublisher.php:56-90; APIHelper.php:241-261). Here
both kinds of side-channel row are column expressions -- never a
Python-side try/except per row, so the hot path stays in codegen:

  * a record-skipping error: ``with_error`` tags the row with its first
    failed check (the reference's first-failure-skips order) and one
    ``split_errors`` splits the tagged frame into ok rows and error rows;
  * a record-continuing warning: ``warning_rows`` emits one row per
    condition that holds, several for one record if several hold.

Scale: ``split_errors`` returns two filters over one tagged plan, and
nothing is cached between them: the errors action and the publish each
evaluate the plan above the inputs' own checkpoints. A lazy checkpoint of
the tagged frame would let them share one pass, but it cuts the query
there: the ticket plan's 7 broadcast hints vanish from the analyzed plan
below it, and observations upstream of it (``tickets_in``) stop counting.
The final grouping shuffles only (type, detail) strings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ERROR_COL = "_error"
ERROR_SCHEMA = "struct<error_type:string,detail:string>"


def _entry(error_type: str, detail: Column) -> Column:
    return F.struct(F.lit(error_type).alias("error_type"), detail.alias("detail"))


def with_error(df: DataFrame, checks: list[tuple[Column, str, Column]]) -> DataFrame:
    """Tag each row with the ``(error_type, detail)`` of the first
    ``(condition, error_type, detail)`` check that holds on it, in one
    projection. An earlier tag wins (a tag from a previous call, then the
    list order), mirroring the reference's first-failure-skips."""
    existing = F.col(ERROR_COL) if ERROR_COL in df.columns else F.lit(None).cast(ERROR_SCHEMA)
    tags = [F.when(cond, _entry(etype, detail)) for cond, etype, detail in checks]
    return df.withColumn(ERROR_COL, F.coalesce(existing, *tags))


def split_errors(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``with_error``'s tagged frame -> (ok_rows without the tag column,
    error_rows as (error_type, detail))."""
    ok = df.filter(F.col(ERROR_COL).isNull()).drop(ERROR_COL)
    errs = df.filter(F.col(ERROR_COL).isNotNull()).select(f"{ERROR_COL}.*")
    return ok, errs


def warning_rows(df: DataFrame, warnings: list[tuple[Column, str, Column]]) -> DataFrame:
    """-> (error_type, detail), one row per ``(condition, error_type,
    detail)`` that holds on a row of ``df``; the record itself carries on.
    One pass: each row's entries are filtered and exploded together."""
    entries = F.array(*[F.when(cond, _entry(etype, detail)) for cond, etype, detail in warnings])
    return df.select(F.inline(F.filter(entries, lambda e: e.isNotNull())))


def group_error_report(errors: DataFrame) -> DataFrame:
    """A2: group by message, collect occurrences (sorted for determinism)."""
    return errors.groupBy("error_type").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.array_sort(F.collect_list("detail")).alias("details"),
    )


def write_error_csv(errors: DataFrame, path: str) -> None:
    """K4: flatten the grouped report back to (type, detail) rows and write
    CSV (the reference stamps sync-tickets-YmdHis; the caller passes the
    stamped path so results stay deterministic/testable)."""
    flat = group_error_report(errors).select(
        "error_type", F.explode("details").alias("detail")
    )
    flat.write.mode("overwrite").option("header", True).csv(path)
