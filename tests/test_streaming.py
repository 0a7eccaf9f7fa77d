"""Streaming-vs-batch equivalence + stateful-operator tests.

The reference validated streaming output by eyeballing print() (SURVEY §5);
here every streaming job is checked against its batch twin on the same
data — final results must agree (modulo in-flight windows held back by the
watermark, handled by replay completion).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _drain(query):
    query.processAllAvailable()
    query.stop()


class TestStreamBatchEquivalence:
    def test_page_view_stream_matches_batch(self, spark, sf_dir):
        from gmall_flink_200621_spark.plans.pipelines import page_view
        from gmall_flink_200621_spark.streaming.jobs import events_stream, page_view_stream

        agg = page_view_stream(events_stream(spark, sf_dir))
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName("pv_stream_out")
            .start()
        )
        _drain(q)
        got = {
            r.window_end_s: r.pv
            for r in spark.sql("SELECT * FROM pv_stream_out").collect()
        }
        expected = {r.window_end_s: r.pv for r in page_view(spark, sf_dir).collect()}
        # append mode emits only watermark-closed windows; all emitted
        # windows must match batch exactly, and nearly all windows close
        assert got
        assert all(expected.get(k) == v for k, v in got.items())
        assert len(got) >= len(expected) - 1  # last window may be in flight

    def test_market_by_channel_stream_matches_batch(self, spark, sf_dir):
        """W3 sliding 1h/15min twin: every watermark-closed window the
        stream emits must equal the batch two-level sliding count exactly;
        every window whose end the final watermark passed must be present."""
        from gmall_flink_200621_spark.plans.pipelines import market_by_channel
        from gmall_flink_200621_spark.sources.loaders import load_table
        from gmall_flink_200621_spark.streaming.jobs import (
            events_stream,
            market_by_channel_stream,
        )

        agg = market_by_channel_stream(events_stream(spark, sf_dir))
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName("mbc_stream_out")
            .start()
        )
        _drain(q)
        got = {
            (r.window_end_s, r.channel, r.behavior): r.cnt
            for r in spark.sql("SELECT * FROM mbc_stream_out").collect()
        }
        expected = {
            (r.window_end_s, r.channel, r.behavior): r.cnt
            for r in market_by_channel(spark, sf_dir).collect()
        }
        assert got
        assert all(expected.get(k) == v for k, v in got.items())
        # the watermark tracks the FILTERED stream (Catalyst pushes the
        # deterministic filter below the watermark operator), so the final
        # watermark is pinned to the last non-error event
        wm_s = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_type") != "error")
            .agg(F.max(F.col("ts").cast("long")))
            .first()[0]
            - 10  # jobs.WATERMARK
        )
        closed = {k for k in expected if k[0] < wm_s}
        assert closed <= set(got)

    def test_ad_click_by_province_stream_matches_batch(self, spark, sf_dir):
        """W3 sliding 1h/20min twin for the AdClickByProvince count side."""
        from gmall_flink_200621_spark.plans.pipelines import ad_click_by_province
        from gmall_flink_200621_spark.sources.loaders import load_table
        from gmall_flink_200621_spark.streaming.jobs import (
            ad_click_by_province_stream,
            events_stream,
        )

        agg = ad_click_by_province_stream(events_stream(spark, sf_dir))
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName("acp_stream_out")
            .start()
        )
        _drain(q)
        got = {
            (r.window_end_s, r.province): r.cnt
            for r in spark.sql("SELECT * FROM acp_stream_out").collect()
        }
        expected = {
            (r.window_end_s, r.province): r.cnt
            for r in ad_click_by_province(spark, sf_dir).collect()
        }
        assert got
        assert all(expected.get(k) == v for k, v in got.items())
        # watermark rides the click-filtered stream (filter pushed below
        # the watermark operator) — closure is relative to the last click
        wm_s = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_type") == "click")
            .agg(F.max(F.col("ts").cast("long")))
            .first()[0]
            - 10
        )
        closed = {k for k in expected if k[0] < wm_s}
        assert closed <= set(got)

    def test_uv_stream_within_hll_error_of_batch(self, spark, sf_dir):
        """A6 streaming twin: per-window HLL++ approx UV must land within
        the estimator's error envelope (5% >> 3 sigma at rsd=1%) of the
        exact batch distinct count for every watermark-closed window."""
        from gmall_flink_200621_spark.plans.pipelines import uv_exact
        from gmall_flink_200621_spark.streaming.jobs import events_stream, uv_stream

        agg = uv_stream(events_stream(spark, sf_dir))
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName("uv_stream_out")
            .start()
        )
        _drain(q)
        got = {
            r.window_end_s: r.uv_approx
            for r in spark.sql("SELECT * FROM uv_stream_out").collect()
        }
        expected = {r.window_end_s: r.uv for r in uv_exact(spark, sf_dir).collect()}
        assert got
        for wend, approx in got.items():
            exact = expected[wend]
            assert abs(approx - exact) <= max(1, 0.05 * exact), (wend, approx, exact)

    def test_hot_items_stream_matches_batch(self, spark, sf_dir):
        from gmall_flink_200621_spark.plans.pipelines import hot_items
        from gmall_flink_200621_spark.streaming.jobs import run_hot_items_stream

        q = run_hot_items_stream(spark, sf_dir, queryName="hi_stream_out")
        _drain(q)
        got = {
            (r.window_end_s, r.item_k): (r.cnt, r.rank)
            for r in spark.table("hi_stream_out").collect()
        }
        expected = {
            (r.window_end_s, r.item_k): (r.cnt, r.rank)
            for r in hot_items(spark, sf_dir).collect()
        }
        assert got
        matched = sum(1 for k, v in got.items() if expected.get(k) == v)
        assert matched / len(got) > 0.95  # in-flight tail windows excluded

    def test_retract_stream_replays_to_batch_ranking(self, spark, sf_dir):
        """toRetractStream parity (HotItemsWithSQLApp.java:65): applying the
        (is_add, row) log in order — retract removes exactly the previously
        added row — must converge to the batch Top-N, and the staged replay
        must actually force retractions (late deltas re-rank windows).
        The delta log now comes from keyed state via the memory sink —
        nothing is collected on the driver inside the streaming query."""
        from gmall_flink_200621_spark.plans.pipelines import hot_items
        from gmall_flink_200621_spark.streaming.jobs import run_hot_items_retract_stream

        q = run_hot_items_retract_stream(spark, sf_dir, queryName="hi_retract")
        _drain(q)
        log = [tuple(r) for r in spark.sql("SELECT * FROM hi_retract").collect()]
        assert any(not entry[0] for entry in log), "no retractions exercised"
        state: dict = {}
        for is_add, wend, item, cnt, rank in log:
            if is_add:
                state[(wend, item)] = (cnt, rank)
            else:
                assert state.pop((wend, item)) == (cnt, rank)
        expected = {
            (r.window_end_s, r.item_k): (r.cnt, r.rank) for r in hot_items(spark, sf_dir).collect()
        }
        assert state == expected

    def test_order_receipt_join_stream_matches_batch(self, spark, sf_dir):
        """J1 streaming form: Spark's native symmetric-hash stream-stream
        join must reproduce the oracle-exact batch interval join row-for-row
        (OrderReceiptAppWithJoin.java:58-61)."""
        from gmall_flink_200621_spark.plans.pipelines import order_receipt_join
        from gmall_flink_200621_spark.streaming.jobs import order_receipt_join_stream

        j = order_receipt_join_stream(spark, sf_dir)
        q = j.writeStream.outputMode("append").format("memory").queryName("orj_stream").start()
        q.processAllAvailable()
        progress = q.recentProgress
        q.stop()
        # the actual stream-stream join operator ran (not a batch fallback)
        assert any(
            "symmetricHashJoin" in (op.get("operatorName") or "")
            for p in progress
            for op in (p.get("stateOperators") or [])
        )
        got = {tuple(r) for r in spark.sql("SELECT * FROM orj_stream").collect()}
        expected = {tuple(r) for r in order_receipt_join(spark, sf_dir).collect()}
        assert got
        assert got == expected


@pytest.mark.parametrize("drop", [False])


class TestStatefulProcessors:
    def _run_stateful(self, spark, sf_dir, build):
        from gmall_flink_200621_spark.streaming.jobs import events_stream

        out = build(events_stream(spark, sf_dir))
        name = f"stateful_out_{abs(hash(str(build))) % 10**8}"
        q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
        q.processAllAvailable()
        q.stop()
        return spark.sql(f"SELECT * FROM {name}").toPandas()

    def test_login_fail_processor_matches_batch(self, spark, sf_dir, drop):
        from gmall_flink_200621_spark.plans.pipelines import login_fail
        from gmall_flink_200621_spark.streaming.stateful import login_fail_stream

        got = self._run_stateful(spark, sf_dir, login_fail_stream)
        expected = login_fail(spark, sf_dir).toPandas()
        key = ["user_id", "first_fail_ts_s", "second_fail_ts_s"]
        g = set(map(tuple, got[key].values.tolist()))
        e = set(map(tuple, expected[key].values.tolist()))
        # streaming sees events in file order (ts-sorted parquet) — results
        # must match the batch lag-rewrite exactly
        assert g == e

    def test_order_timeout_processor_tags(self, spark, sf_dir, drop):
        from gmall_flink_200621_spark.streaming.stateful import order_timeout_stream

        got = self._run_stateful(spark, sf_dir, order_timeout_stream)
        assert len(got) > 0
        assert set(got.status.unique()) <= {"payed", "timeout", "payed timeout", "payed but no create"}
        payed = got[got.status == "payed"]
        assert ((payed.pay_ts_s - payed.create_ts_s) <= 900).all()


class TestCheckpointRecovery:
    def test_windowed_agg_resumes_exactly_once(self, spark, sf_dir, tmp_path):
        """Kill-and-restart with the same checkpoint + file sink: the
        restarted query resumes the watermark/window state from the
        checkpoint and the transactional file-sink log yields exactly-once
        output — every emitted window appears once and matches the batch
        twin on the full data."""
        import pandas as pd

        from gmall_flink_200621_spark.plans.pipelines import page_view
        from gmall_flink_200621_spark.sources.loaders import events_parquet_stream

        stage = tmp_path / "stage"
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")
        stage.mkdir()
        pdf = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values("ts")
        half = len(pdf) // 2
        pdf.iloc[:half].to_parquet(stage / "part-0.parquet", index=False)

        def start():
            ev = events_parquet_stream(spark, str(stage)).withWatermark("ts", "10 seconds")
            agg = (
                ev.filter(F.col("event_type") == "view")
                .groupBy(F.window("ts", "1 hour").alias("w"))
                .agg(F.count(F.lit(1)).alias("pv"))
                .select(F.col("w.end").cast("long").alias("window_end_s"), "pv")
            )
            return (
                agg.writeStream.outputMode("append")
                .format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .start()
            )

        q1 = start()
        q1.processAllAvailable()
        q1.stop()
        q1.awaitTermination()
        n_phase1 = spark.read.parquet(sink).count()

        pdf.iloc[half:].to_parquet(stage / "part-1.parquet", index=False)
        q2 = start()
        q2.processAllAvailable()
        q2.stop()
        q2.awaitTermination()

        got = {r.window_end_s: r.pv for r in spark.read.parquet(sink).collect()}
        rows = spark.read.parquet(sink).collect()
        assert len(rows) == len(got), "a window was emitted twice across the restart"
        assert len(got) > n_phase1, "restart produced no new windows"
        expected = {r.window_end_s: r.pv for r in page_view(spark, sf_dir).collect()}
        assert all(expected.get(k) == v for k, v in got.items())
        assert len(got) >= len(expected) - 1  # final window may be in flight
