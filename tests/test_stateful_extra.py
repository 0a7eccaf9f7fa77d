"""Streaming tests for the remaining §2.9 stateful wirings: blacklist
(A7/A8/P9) and pay↔receipt reconcile (J2)."""

from __future__ import annotations

from collections import Counter

import pandas as pd


def _run(spark, sf_dir, build, name):
    from gmall_flink_200621_spark.streaming.jobs import events_stream

    out = build(events_stream(spark, sf_dir))
    q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}").toPandas()


class TestBlacklistStream:
    def test_warning_emitted_once_and_clicks_suppressed(self, spark, sf_dir):
        from gmall_flink_200621_spark.plans.pipelines import ad_click_blacklist
        from gmall_flink_200621_spark.streaming.stateful import blacklist_stream

        got = _run(spark, sf_dir, blacklist_stream, "bl_stream")
        warnings = got[got.tag == "blacklist_warning"]
        # exactly one warning per (user, ad, day) that crossed the cap
        assert warnings.duplicated(["user_id", "ad_k", "day_s"]).sum() == 0
        # warned pairs must be exactly the batch blacklist (same threshold)
        batch = ad_click_blacklist(spark, sf_dir).toPandas()
        w = set(map(tuple, warnings[["user_id", "ad_k", "day_s"]].values.tolist()))
        b = set(map(tuple, batch[["user_id", "ad_k", "day_s"]].values.tolist()))
        assert w == b
        # passed-through clicks stay below the cap per key/day
        clicks = got[got.tag == "click"]
        per_key = clicks.groupby(["user_id", "ad_k", "day_s"]).size()
        from gmall_flink_200621_spark.streaming.stateful import BLACKLIST_THRESHOLD

        assert (per_key < BLACKLIST_THRESHOLD).all()


class TestPayReceiptStream:
    def test_reconcile_tags_and_timeouts(self, spark, sf_dir):
        from gmall_flink_200621_spark.streaming.stateful import pay_receipt_stream

        got = _run(spark, sf_dir, pay_receipt_stream, "pr_stream")
        tags = Counter(got.tag)
        assert tags["matched"] > 0
        # matched rows carry both sides; diagnostics carry exactly one
        m = got[got.tag == "matched"]
        assert m.pay_ts_s.notna().all() and m.receipt_ts_s.notna().all()
        lone_pay = got[got.tag == "payButNoReceipt"]
        assert lone_pay.receipt_ts_s.isna().all()
        lone_receipt = got[got.tag == "receiptButNoPay"]
        assert lone_receipt.pay_ts_s.isna().all()

    def test_conservation_no_event_lost_or_duplicated(self, spark, sf_dir):
        """ADVICE regression: with FIFO list buffers a second same-side
        event can no longer overwrite the pending one. Conservation: every
        pay/receipt whose deadline the final watermark passed appears in
        the output EXACTLY as many times as it appeared in the input
        (matched or timed out); nothing is emitted more often than it
        arrived."""
        from collections import Counter

        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.sources.loaders import load_table
        from gmall_flink_200621_spark.streaming.stateful import PAY_WAIT_S, RECEIPT_WAIT_S, pay_receipt_stream

        got = _run(spark, sf_dir, pay_receipt_stream, "pr_conserve")
        e = load_table(spark, sf_dir, "events")

        def side_in(event_type):
            return Counter(
                (r.user_id, r.ts_s)
                for r in e.filter(F.col("event_type") == event_type)
                .select("user_id", F.col("ts").cast("long").alias("ts_s"))
                .collect()
            )

        pays_in, receipts_in = side_in("purchase"), side_in("signup")
        wm_s = e.agg(F.max(F.col("ts").cast("long"))).first()[0] - 10  # jobs.WATERMARK

        pays_out = Counter(
            (r.user_id, int(r.pay_ts_s)) for r in got.itertuples() if not pd.isna(r.pay_ts_s)
        )
        receipts_out = Counter(
            (r.user_id, int(r.receipt_ts_s)) for r in got.itertuples() if not pd.isna(r.receipt_ts_s)
        )
        for out, inp, wait in (
            (pays_out, pays_in, PAY_WAIT_S),
            (receipts_out, receipts_in, RECEIPT_WAIT_S),
        ):
            # never emit an event more often than it arrived
            assert all(n <= inp[k] for k, n in out.items())
            # every expired-or-matched event accounted for exactly once
            for (u, ts), n in inp.items():
                if ts + wait <= wm_s:
                    assert out[(u, ts)] == n, (u, ts, out[(u, ts)], n)

