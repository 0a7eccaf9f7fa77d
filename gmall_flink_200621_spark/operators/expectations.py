"""Declarative data-quality expectations — the constraint-validation layer
a warehouse runs before publishing a table (dbt tests / Deequ class of
functionality), expressed as DataFrame aggregates so validation scales
exactly like the queries it protects.

Each check compiles to ONE aggregate (or one anti-join + aggregate for
referential integrity) returning a single (rule, violations) row; a suite
unions the per-check rows. Nothing collects raw data: FK checks broadcast
the parent KEY SET only when the parent is dimension-sized, and every
check's scan prunes to the checked columns (ReadSchema-narrow).

Used by `plans/extras.tpch_expectations` (oracle-certified).

Reference parity note: the reference has no validation layer at all —
this is part of the beyond-reference warehouse surface, alongside
compaction, range layout, and the WAP sink."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def check_not_null(df: DataFrame, col: str, rule: str | None = None) -> DataFrame:
    return df.agg(
        F.lit(rule or f"not_null:{col}").alias("rule"),
        F.count(F.when(F.col(col).isNull(), 1)).alias("violations"),
    )


def check_unique(df: DataFrame, cols: list[str], rule: str | None = None) -> DataFrame:
    """Violations = extra copies beyond the first per key (0 ⇔ unique)."""
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(
            F.lit(rule or f"unique:{','.join(cols)}").alias("rule"),
            F.coalesce(F.sum(F.col("_n") - 1), F.lit(0)).alias("violations"),
        )
    )


def check_expression(df: DataFrame, predicate_sql: str, rule: str) -> DataFrame:
    """Violations = rows where the SQL predicate is NOT satisfied (false
    OR null) — the free-form row-level invariant check (cross-column
    consistency, computed-field agreement)."""
    ok = F.expr(predicate_sql)
    return df.agg(
        F.lit(rule).alias("rule"),
        F.count(F.when(~F.coalesce(ok, F.lit(False)), 1)).alias("violations"),
    )


def check_accepted_range(
    df: DataFrame, col: str, lo, hi, rule: str | None = None
) -> DataFrame:
    return df.agg(
        F.lit(rule or f"range:{col}").alias("rule"),
        F.count(
            F.when(F.col(col).isNull() | (F.col(col) < lo) | (F.col(col) > hi), 1)
        ).alias("violations"),
    )


def check_accepted_values(
    df: DataFrame, col: str, values: list, rule: str | None = None
) -> DataFrame:
    return df.agg(
        F.lit(rule or f"accepted:{col}").alias("rule"),
        F.count(F.when(~F.col(col).isin(*values), 1)).alias("violations"),
    )


def check_referential(
    child: DataFrame,
    col: str,
    parent: DataFrame,
    pcol: str,
    rule: str | None = None,
    broadcast_parent: bool = True,
) -> DataFrame:
    """Orphaned foreign keys: child rows whose key has no parent. The
    parent collapses to its distinct key column first; broadcast it for
    dimension parents, leave the shuffle anti-join for fact-sized ones."""
    keys = parent.select(F.col(pcol).alias(col)).distinct()
    if broadcast_parent:
        keys = F.broadcast(keys)
    return child.select(col).join(keys, col, "left_anti").agg(
        F.lit(rule or f"fk:{col}").alias("rule"),
        F.count(F.lit(1)).alias("violations"),
    )


def run_suite(checks: list[DataFrame]) -> DataFrame:
    """Union the one-row check frames into the suite report. Each check
    keeps its own scan; Spark schedules them as independent stages of one
    job — at 100 TB, group multi-check tables into shared-scan variants
    if the same fact is read more than twice."""
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out
