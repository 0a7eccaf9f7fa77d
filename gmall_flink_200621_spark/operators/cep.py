"""CEP-lite: the reference's Flink-CEP patterns as reusable batch
operators (SURVEY §2.8 C1-C4).

Flink CEP's NFA machinery isn't needed for the pattern shapes the
reference uses — each has an exact window-function / join rewrite that
Catalyst executes as one shuffle:

- `consecutive_within`: `Pattern.begin(A).times(n).consecutive().within(t)`
  (LoginFailAppWithCep.java:61-69) → lag chain over the keyed sequence;
  any non-matching event between occurrences breaks adjacency, exactly
  like `consecutive()`.
- `Pattern.begin(A).followedBy(B).within(t)`
  (OrderTimeoutAppWithCep.java:46-56) → earliest-B-after-A range join;
  unmatched As are the pattern-timeout side output. That join is
  `plans/pipelines.order_timeout`.

Streaming twins live in streaming/stateful.py (per-key state machines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def consecutive_within(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    match: Column,
    n: int,
    within_s: int,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Rows ending a run of `n` strictly-consecutive `match` events whose
    span fits `within_s` seconds. Output: key cols + ts_0..ts_{n-1}
    (epoch seconds of each event in the match)."""
    order = [ts_col, *(order_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    out = df.withColumn("__m", match)
    for i in range(1, n):
        out = out.withColumn(f"__m_{i}", F.lag("__m", i).over(w)).withColumn(
            f"__ts_{i}", F.lag(F.col(ts_col).cast("long"), i).over(w)
        )
    cond = F.col("__m")
    for i in range(1, n):
        cond = cond & F.col(f"__m_{i}")
    span_ok = (F.col(ts_col).cast("long") - F.col(f"__ts_{n - 1}")) <= within_s
    matched = out.filter(cond & span_ok)
    ts_cols = [F.col(f"__ts_{n - 1 - i}").alias(f"ts_{i}") for i in range(n - 1)] + [
        F.col(ts_col).cast("long").alias(f"ts_{n - 1}")
    ]
    return matched.select(*key_cols, *ts_cols)


def relaxed_times_within(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    match: Column,
    n: int,
    within_s: int,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Flink's DEFAULT contiguity for `Pattern.begin(A).times(n).within(t)`
    — relaxed, i.e. without the `.consecutive()` the reference adds at
    LoginFailAppWithCep.java:63. Non-matching events between occurrences
    are skipped; matching events cannot be skipped (skipping matches too
    would be `followedByAny`/combinations mode, a different operator).

    That makes relaxed contiguity exactly strict contiguity over the
    match-FILTERED subsequence, so the rewrite is: filter to matching
    events, then the same lag-chain (`consecutive_within` with an
    always-true predicate). Catalyst sees filter → window: the predicate
    is pushed to the scan and the shuffle carries only matching rows —
    strictly cheaper than the unfiltered strict form at any scale.
    Output: key cols + ts_0..ts_{n-1} (epoch seconds of each occurrence).
    """
    return consecutive_within(
        df.filter(match), key_cols, ts_col, F.lit(True), n, within_s, order_cols
    )
