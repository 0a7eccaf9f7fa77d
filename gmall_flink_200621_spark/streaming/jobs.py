"""Structured Streaming variants of the windowed pipelines.

The reference is streaming-first (Flink DataStream); here each batch plan
from plans/pipelines.py has a streaming twin: same logical query over
`readStream` + `withWatermark`. Batch/stream parity is tested in
tests/test_streaming.py by replaying the events parquet as a file stream
and comparing final results against the batch plan — the reference never
had such a check (SURVEY §5: it eyeballed print() output).

Watermark policy (SURVEY §2.4 WM1/WM2): the reference used ascending or
1-3 s bounded out-of-orderness; we default to 10 s, which subsumes both.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import scalars as S

WATERMARK = "10 seconds"


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-replay streaming source over the events table (S1 as a stream).

    Physical-type handling (nanos vs naive micros ts) lives in
    `events_parquet_stream` — one probe, shared by every streaming job."""
    # the streaming file source requires a *directory*; stage a symlink dir
    # holding just the events file (testdata dirs mix all tables)
    import tempfile

    from ..sources.loaders import events_parquet_stream

    stage = os.path.join(tempfile.gettempdir(), "spark_graft_stream", sf_dir.strip("/").replace("/", "_"))
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    return events_parquet_stream(spark, stage).withWatermark("ts", WATERMARK)


def page_view_stream(events: DataFrame) -> DataFrame:
    """Hourly PV as a stream (PageViewApp): tumbling window agg, append mode
    emits each window once its watermark passes."""
    return (
        events.filter(F.col("event_type") == "view")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("pv"))
        .select(F.col("w.end").cast("long").alias("window_end_s"), "pv")
    )


def uv_stream(events: DataFrame) -> DataFrame:
    """Hourly approx UV (UvCountWithBloomFilterApp semantics: bounded-memory
    distinct): HLL++ replaces the Bloom/Redis bitmap."""
    return (
        events.filter(F.col("event_type") == "view")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.approx_count_distinct("user_id", rsd=0.01).alias("uv_approx"))
        .select(F.col("w.end").cast("long").alias("window_end_s"), "uv_approx")
    )


def market_by_channel_stream(events: DataFrame) -> DataFrame:
    """MarketByChannelApp streaming twin (W3 sliding 1h/15min): per
    (channel, behavior) counts, UNINSTALL-analog excluded
    (MarketByChannelApp.java:31-34). Same logical query as the batch
    `plans.pipelines.market_by_channel`; append mode emits each window
    once the watermark closes it."""
    return (
        events.filter(F.col("event_type") != "error")
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"),
            S.channel().alias("channel"),
            F.col("event_type").alias("behavior"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.end").cast("long").alias("window_end_s"), "channel", "behavior", "cnt")
    )


def ad_click_by_province_stream(events: DataFrame) -> DataFrame:
    """AdClickByProvinceApp count-side streaming twin (W3 sliding
    1h/20min, AdClickByProvinceApp.java:58-61): per-province click counts
    under a watermark — the stream==batch pair for
    `plans.pipelines.ad_click_by_province`."""
    return (
        events.filter(F.col("event_type") == "click")
        .groupBy(
            F.window("ts", "1 hour", "20 minutes").alias("w"),
            S.province().alias("province"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.end").cast("long").alias("window_end_s"), "province", "cnt")
    )


def hot_items_windowed_counts_stream(events: DataFrame) -> DataFrame:
    """HotItemApp stage 1 (windowed per-item counts) as an append stream.
    The Top-N stage runs per-microbatch in foreachBatch (see
    `run_hot_items_stream`) — the Spark-idiomatic place for a ranking that
    must re-emit per window (the reference's onTimer sort)."""
    return (
        events.filter(F.col("event_type") == "view")
        .withColumn("item_k", S.item_k())
        .groupBy(F.window("ts", "1 hour", "5 minutes").alias("w"), "item_k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.end").cast("long").alias("window_end_s"), "item_k", "cnt")
    )


def order_receipt_join_stream(spark: SparkSession, sf_dir: str, delay: str = "30 days") -> DataFrame:
    """J1 as Spark's NATIVE stream-stream interval join — the exact
    streaming analog of `intervalJoin.between(-3s, +5s)` on txId
    (OrderReceiptAppWithJoin.java:58-61): two independent watermarked
    streams, equi key + event-time band, inner join.

    Spark's symmetric hash join emits matches eagerly and uses the
    watermark + band to evict buffered rows, exactly Flink's interval-join
    state retention. `delay` is the WM2 out-of-orderness budget: it must
    cover the source's worst reordering (the staged replay defers rows by
    up to one chunk span ≈ 10 days, so 30 days keeps results batch-exact;
    a production deployment would use the reference's seconds-scale
    delay, trading late matches for state size)."""
    from ..plans.pipelines import RECEIPT_HI, RECEIPT_LO
    from .late_data import staged_replay_source

    pays = (
        staged_replay_source(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("event_id").alias("pay_id"), F.col("ts").alias("pay_ts"))
        .withWatermark("pay_ts", delay)
    )
    receipts = (
        staged_replay_source(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("receipt_id"),
            F.col("ts").alias("receipt_ts"),
        )
        .withWatermark("receipt_ts", delay)
    )
    lo, hi = F.expr(f"INTERVAL {RECEIPT_LO}"), F.expr(f"INTERVAL {RECEIPT_HI}")
    return (
        pays.join(
            receipts,
            (F.col("user_id") == F.col("r_user"))
            & (F.col("receipt_ts") >= F.col("pay_ts") - lo)
            & (F.col("receipt_ts") <= F.col("pay_ts") + hi),
            "inner",
        )
        .select(
            "user_id",
            "pay_id",
            F.col("pay_ts").cast("long").alias("pay_ts_s"),
            "receipt_id",
            F.col("receipt_ts").cast("long").alias("receipt_ts_s"),
        )
    )


def run_hot_items_retract_stream(
    spark: SparkSession, sf_dir: str, top_n: int = 5, queryName: str = "hot_items_retract"
):
    """Retract-stream parity for the SQL Top-N (HotItemsWithSQLApp.java:65
    `toRetractStream`): downstream sees (is_add, row) pairs — every ranking
    change emits a retraction of the old row then an addition of the new,
    exactly Flink's retract encoding at micro-batch granularity.

    Shape: events explode into their 12 sliding-window assignments
    (stateless), then ONE `applyInPandasWithState` keyed by window fuses
    count + rank + diff — per-window item counts and the current top-N
    live in keyed state on the executors, and only the (is_add, row)
    delta rows leave the operator. No driver-side state, no collect():
    Spark disallows a stateful map after a streaming aggregation, so the
    aggregation moves INTO the keyed state instead of feeding it. State
    per key is O(items-in-window) — the same cardinality the windowed
    aggregate itself would hold — and delta traffic is O(rank changes).
    No watermark is set, so every late update still retracts-and-replaces
    (the unbounded-state trade Flink's retract mode makes too)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..functions import scalars as S
    from .late_data import staged_replay_source

    assigns = (
        staged_replay_source(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(S.item_k().alias("item_k"), F.col("ts").cast("long").alias("ts_s"))
        # windows ending at the next 5-min boundary and the 11 after it
        .withColumn("first_end", (F.floor(F.col("ts_s") / 300) + 1) * 300)
        .select(
            "item_k",
            F.explode(
                F.sequence(F.col("first_end"), F.col("first_end") + 11 * 300, F.lit(300))
            ).alias("window_end_s"),
        )
    )

    def topn_retract_fn(key, pdf_iter, state):
        (wend,) = key
        st = state.get if state.exists else ([], [], [], [], [])
        counts = dict(zip(st[0] or [], st[1] or []))
        old = {
            int(i): (int(c), int(r))
            for i, c, r in zip(st[2] or [], st[3] or [], st[4] or [])
        }
        for pdf in pdf_iter:
            for item, n in pdf["item_k"].value_counts().items():
                counts[int(item)] = counts.get(int(item), 0) + int(n)
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:top_n]
        new = {item: (cnt, i + 1) for i, (item, cnt) in enumerate(ranked)}
        out = []
        for item, (cnt, rank) in old.items():  # retract first, like Flink
            if new.get(item) != (cnt, rank):
                out.append((False, wend, item, cnt, rank))
        for item, (cnt, rank) in new.items():
            if old.get(item) != (cnt, rank):
                out.append((True, wend, item, cnt, rank))
        state.update(
            (
                list(counts.keys()),
                list(counts.values()),
                [i for i in new],
                [c for c, _ in new.values()],
                [r for _, r in new.values()],
            )
        )
        if out:
            yield pd.DataFrame(
                out, columns=["is_add", "window_end_s", "item_k", "cnt", "rank"]
            )

    deltas = assigns.groupBy("window_end_s").applyInPandasWithState(
        topn_retract_fn,
        outputStructType="is_add BOOLEAN, window_end_s LONG, item_k INT, cnt LONG, rank INT",
        stateStructType=(
            "items ARRAY<LONG>, cnts ARRAY<LONG>, "
            "top_items ARRAY<LONG>, top_cnts ARRAY<LONG>, top_ranks ARRAY<LONG>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        deltas.writeStream.outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
    )


def run_hot_items_stream(spark: SparkSession, sf_dir: str, top_n: int = 5, queryName: str = "hot_items_stream"):
    """End-to-end streaming Top-N: windowed counts (append mode past the
    watermark) → per-batch row_number ranking in foreachBatch → memory
    sink table named `queryName`. The ranking runs as a distributed batch
    job inside foreachBatch and the sink write is executor-side — no
    driver collect anywhere on the path."""
    from ..operators.topn import top_n_per_group

    counts = hot_items_windowed_counts_stream(events_stream(spark, sf_dir))

    def rank_batch(batch_df: DataFrame, epoch_id: int) -> None:
        ranked = top_n_per_group(batch_df, ["window_end_s"], "cnt", top_n, tiebreak_cols=["item_k"])
        ranked.write.mode("append").saveAsTable(queryName)

    spark.sql(f"DROP TABLE IF EXISTS {queryName}")
    # the warehouse dir outlives the in-memory catalog across sessions; a
    # stale location would fail the first saveAsTable
    import re
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(re.sub(r"^file:/*", "/", warehouse), queryName.lower())
    if os.path.exists(loc):
        shutil.rmtree(loc)
    return (
        counts.writeStream.outputMode("append")
        .foreachBatch(rank_batch)
        .queryName(queryName + "_q")
        .start()
    )
