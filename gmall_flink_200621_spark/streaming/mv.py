"""Incremental materialized view: a continuously-maintained aggregate
table over a stream — the production pattern behind every "pv by hour"
dashboard table that cannot rescan the raw stream per refresh.

Shape: an UPDATE-mode streaming aggregation emits only the groups each
micro-batch changed; foreachBatch rewrites exactly those groups'
partitions of a parquet table via dynamic partition overwrite. The
combination is exactly-once WITHOUT a transaction log:

- update mode → the per-batch frame is the complete new value of every
  changed group (not a delta), so rewriting its partition is idempotent —
  a retried/replayed batch rewrites byte-identical content;
- the writer option `partitionOverwriteMode=dynamic` (scoped to the one
  write, never the session conf) → only partitions present in the batch
  are replaced; untouched history stays as-is. No read-modify-write
  of the table, no MERGE, no driver state;
- late data is handled for free: a late event changes its window's
  aggregate, the window re-emits, its partition is rewritten.

At 100 TB the partition key is the time bucket (+ any coarse dimension):
each micro-batch touches O(changed buckets) files regardless of table
size, and readers get partition pruning on the dominant predicate. The
same code runs unchanged over a transactional table format when
snapshot-isolated readers are needed (the rewrite becomes a commit).

Two variants, the trade each way:

- `run_pv_mv_stream` (update mode, NO watermark): state holds every
  window ever seen and ANY lateness still updates the table — simplest
  and always-exact, but state grows with the window domain.
- `run_pv_mv_stream_bounded` (watermark + append mode): state holds only
  OPEN windows (bounded by the lateness delay regardless of stream age —
  the production default for unbounded window domains); a window's
  partition is written exactly once when the watermark closes it, and
  closed partitions are never mutated. Rows arriving beyond the watermark
  are NOT silently dropped: a companion audit stream lands them in a side
  table (the reference's late-data side output,
  HotUrlApp.java:52-61 `sideOutputLateData`), so `table + audit`
  conserves every event.

Reference parity: UvWithBloomApp / PageView-style hourly rollups
maintained as tables; late-data semantics from HotUrlApp.java:52-61.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _write_partitions(batch_df: DataFrame, table_path: str) -> None:
    """Replace the `window_end_s` partitions present in `batch_df` at
    `table_path`, leaving every other partition as it is."""
    batch_df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        "window_end_s"
    ).parquet(table_path)


def run_pv_mv_stream(
    spark: SparkSession,
    stage_dir: str,
    table_path: str,
    query_name: str = "pv_mv",
    checkpoint_dir: str | None = None,
):
    """Maintain an hourly page-view MV (window_end_s, pv) at `table_path`,
    partitioned by window_end_s, from a staged events file stream.

    Exactly-once scope: WITHIN a run, retried batches rewrite
    byte-identical partitions (update-mode frames are full group values).
    ACROSS restarts it additionally requires `checkpoint_dir` — without
    one, a restarted query replays the source from scratch, which is
    idempotent here only because the staged source is replayable-from-
    start and the rewrite is deterministic; pass a checkpoint for any
    source that isn't."""
    from ..sources.loaders import events_parquet_stream

    if os.path.exists(table_path):
        shutil.rmtree(table_path)

    counts = (
        events_parquet_stream(spark, stage_dir, maxFilesPerTrigger=1)
        .filter(F.col("event_type") == "view")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("pv"))
        .select(F.col("w.end").cast("long").alias("window_end_s"), "pv")
    )

    def rewrite_changed_partitions(batch_df: DataFrame, epoch_id: int) -> None:
        _write_partitions(batch_df, table_path)

    w = (
        counts.writeStream.outputMode("update")
        .foreachBatch(rewrite_changed_partitions)
        .queryName(query_name)
    )
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w.start()


def run_pv_mv_stream_bounded(
    spark: SparkSession,
    stage_dir: str,
    table_path: str,
    audit_path: str,
    delay: str = "30 minutes",
    query_name: str = "pv_mv_bounded",
    checkpoint_dir: str | None = None,
):
    """Bounded-state MV: `withWatermark(delay)` + APPEND mode — a window's
    (window_end_s, pv) partition is written exactly once, when the
    watermark passes its end; streaming state holds only the open windows
    (O(delay / window-size) groups per key domain, independent of stream
    age). Rows arriving after their window closed are dropped by the
    aggregation — a companion raw-stream query detects exactly those rows
    and appends them to `audit_path` (reference side-output semantics,
    HotUrlApp.java:52-61), so no event is silently lost:

        batch_pv(w) == mv_pv(w) + audit_count(w)   for every closed w.

    The audit query tracks the engine's own watermark definition —
    max(event time over prior batches) − delay — per batch (same exact
    max−delay tracking as streaming/late_data.py); a row is late iff its
    window end ≤ that pre-batch watermark, which is precisely the
    aggregation's drop predicate (`watermarkPredicateForData`). Both
    queries read the same staged file sequence one file per trigger, so
    their batch boundaries — and hence watermark trajectories — coincide.

    Returns (mv_query, audit_query); stop both. Restart-exactly-once
    needs `checkpoint_dir` (two sub-dirs are derived from it)."""
    from ..sources.loaders import events_parquet_stream

    for p in (table_path, audit_path):
        if os.path.exists(p):
            shutil.rmtree(p)

    counts = (
        events_parquet_stream(spark, stage_dir, maxFilesPerTrigger=1)
        .withWatermark("ts", delay)
        .filter(F.col("event_type") == "view")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("pv"))
        .select(F.col("w.end").cast("long").alias("window_end_s"), "pv")
    )

    def write_closed_partitions(batch_df: DataFrame, epoch_id: int) -> None:
        # append-mode frames are complete, final window values — dynamic
        # partition overwrite keeps a retried batch idempotent while never
        # touching other (closed) partitions.
        if not batch_df.isEmpty():
            _write_partitions(batch_df, table_path)

    # Engine-exact watermark replica, in MILLIseconds (Spark collects event
    # time stats as floor(micros/1000) and evicts/drops on
    # `window.end ≤ (max_ms − delay_ms)` — WatermarkSupport's
    # LessThanOrEqual predicate), so the audit's late set is exactly the
    # aggregation's drop set, down to the sub-second edge.
    delay_ms = _parse_interval_seconds(delay) * 1000
    wm_state = {"wm_ms": None}

    def audit_late(batch_df: DataFrame, epoch_id: int) -> None:
        wm_ms = wm_state["wm_ms"]
        rows = batch_df.select(
            "user_id",
            "event_type",
            F.floor(F.unix_micros("ts") / 1000).alias("ts_ms"),
            (F.floor(F.unix_micros("ts") / 3_600_000_000) * 3600 + 3600).alias("window_end_s"),
        ).persist()
        try:
            if wm_ms is not None:
                late = rows.filter(
                    (F.col("event_type") == "view") & (F.col("window_end_s") * 1000 <= wm_ms)
                )
                if not late.isEmpty():
                    late.write.mode("append").parquet(audit_path)
            mx = rows.agg(F.max("ts_ms")).collect()[0][0]
            if mx is not None:
                cand = mx - delay_ms
                wm_state["wm_ms"] = cand if wm_ms is None else max(wm_ms, cand)
        finally:
            rows.unpersist()

    mv_w = counts.writeStream.outputMode("append").foreachBatch(write_closed_partitions).queryName(query_name)
    raw = events_parquet_stream(spark, stage_dir, maxFilesPerTrigger=1)
    audit_w = raw.writeStream.outputMode("append").foreachBatch(audit_late).queryName(query_name + "_audit")
    if checkpoint_dir:
        mv_w = mv_w.option("checkpointLocation", os.path.join(checkpoint_dir, "mv"))
        audit_w = audit_w.option("checkpointLocation", os.path.join(checkpoint_dir, "audit"))
    return mv_w.start(), audit_w.start()


def _parse_interval_seconds(s: str) -> int:
    m = re.fullmatch(r"\s*(\d+)\s*(second|minute|hour|day)s?\s*", s)
    if not m:
        raise ValueError(f"unsupported interval: {s!r}")
    return int(m.group(1)) * {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[m.group(2)]
