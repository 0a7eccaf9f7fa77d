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

    def test_sessionize_stream_matches_batch(self, spark, sf_dir):
        """Dynamic-gap session windows: every session the stream emits
        (append mode, watermark-closed) must be byte-identical to the
        batch session_window result; only per-user tail sessions (not yet
        closed when the stream drains) may be missing."""
        from gmall_flink_200621_spark.plans.extras import sessionize_native
        from gmall_flink_200621_spark.streaming.jobs import sessionize_stream

        agg = sessionize_stream(spark, sf_dir)
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName("sess_stream_out")
            .start()
        )
        _drain(q)
        got = {
            (r.user_id, r.session_start_s): (r.session_end_s, r.n_events)
            for r in spark.sql("SELECT * FROM sess_stream_out").collect()
        }
        batch = {
            (r.user_id, r.session_start_s): (r.session_end_s, r.n_events)
            for r in sessionize_native(spark, sf_dir).collect()
        }
        assert got
        assert all(batch.get(k) == v for k, v in got.items())
        n_users = len({u for u, _ in batch})
        assert len(got) >= len(batch) - n_users  # ≤1 in-flight session/user

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

    def test_dedup_redelivery_stream_exactly_once(self, spark, sf_dir):
        """dropDuplicatesWithinWatermark turns the at-least-once replay
        (every 7th event re-delivered in a later file) back into
        exactly-once: the deduped stream equals the distinct batch rows."""
        from gmall_flink_200621_spark.sources.loaders import load_table
        from gmall_flink_200621_spark.streaming.jobs import dedup_redelivery_stream

        out = dedup_redelivery_stream(spark, sf_dir)
        q = out.writeStream.outputMode("append").format("memory").queryName("dedup_stream").start()
        q.processAllAvailable()
        q.stop()
        got = [tuple(r) for r in spark.sql("SELECT * FROM dedup_stream").collect()]
        assert len(got) == len(set(got)), "duplicates survived"
        expected = {
            (r.event_id, r.user_id, r.ts_s, r.event_type)
            for r in load_table(spark, sf_dir, "events")
            .selectExpr("event_id", "user_id", "cast(ts as long) AS ts_s", "event_type")
            .collect()
        }
        assert set(got) == expected

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

    def test_salted_join_hot_key_bounded_and_identical(self, spark, tmp_path):
        """VERDICT r08 item #7: a planted hot user (200 pays + 4 receipts
        in-band) must (a) produce the IDENTICAL join result through the
        salted variant, (b) have its pays spread across all RECEIPT_SALTS
        sub-keys with a bounded per-sub-key share — the state-partition
        bound that keeps one task from owning the whole hot key — and
        (c) carry the salt in the streaming join's equi-keys (plan pin)."""
        import collections

        import pandas as pd

        from gmall_flink_200621_spark.streaming.jobs import (
            RECEIPT_SALTS,
            hot_join_keys,
            order_receipt_join_stream,
            order_receipt_join_stream_salted,
        )

        rows = []
        eid = 0
        # hot user 7: 200 purchases at t=1000+i, 4 signups in-band
        for i in range(200):
            rows.append((eid, 1_000_000 + i, 7, "purchase", 1.0, "{}")); eid += 1
        for i in range(4):
            rows.append((eid, 1_000_500 + i * 100, 7, "signup", 1.0, "{}")); eid += 1
        # cold users 100..104: one pay + one in-band receipt each
        for u in range(100, 105):
            rows.append((eid, 2_000_000 + u, u, "purchase", 1.0, "{}")); eid += 1
            rows.append((eid, 2_000_100 + u, u, "signup", 1.0, "{}")); eid += 1
        pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        ).astype({"ts": "datetime64[s]"}).to_parquet(tmp_path / "events.parquet", index=False)
        sf = str(tmp_path)

        def run(df, name):
            q = df.writeStream.outputMode("append").format("memory").queryName(name).start()
            q.processAllAvailable()
            q.stop()
            return {tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()}

        # hot detection from the planted history finds exactly user 7
        from gmall_flink_200621_spark.sources.loaders import load_table
        from pyspark.sql import functions as F

        pays_hist = load_table(spark, sf, "events").filter(F.col("event_type") == "purchase")
        assert hot_join_keys(pays_hist, "user_id", 100) == [7]

        salted = order_receipt_join_stream_salted(spark, sf, hot_threshold=100)
        plan = salted._jdf.queryExecution().analyzed().toString()
        assert "salt" in plan  # (c) the salt is part of the join condition

        got = run(salted, "orj_salted")
        want = run(order_receipt_join_stream(spark, sf), "orj_plain")
        assert got == want  # (a) row-identical output
        assert len({t for t in got if t[0] == 7}) == 200 * 4  # hot pairs all present

        # (b) per-sub-key bound: replicate the pay-side salt assignment
        # and check the hot key's 200 pays split across every sub-key,
        # none holding more than half the unsalted mass
        pays = pays_hist.filter(F.col("user_id") == 7).select(
            F.pmod(F.xxhash64("event_id"), F.lit(RECEIPT_SALTS)).cast("int").alias("salt")
        )
        per_salt = collections.Counter(r.salt for r in pays.collect())
        assert len(per_salt) == RECEIPT_SALTS
        assert max(per_salt.values()) <= 100  # ≤ half of the 200-row hot key


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


class TestBrowseAbandonStream:
    def test_stream_matches_batch_for_closed_windows(self, spark, sf_dir):
        """Absence detection (notFollowedBy) stream vs batch: every view
        the stream declares abandoned must be abandoned in batch (no false
        fires — a purchase the stream missed would be a state bug), and
        every batch-abandoned view whose timer PROVABLY fired (window end
        below the final watermark) must have been emitted. Views whose
        window is still open at end-of-stream legitimately stay pending —
        that is watermark semantics, not loss."""
        import pandas as pd

        from gmall_flink_200621_spark.plans.pipelines import browse_abandon
        from gmall_flink_200621_spark.sources.loaders import load_table
        from gmall_flink_200621_spark.streaming.jobs import events_stream
        from gmall_flink_200621_spark.streaming.stateful import (
            BROWSE_ABANDON_S,
            browse_abandon_stream,
        )

        out = browse_abandon_stream(events_stream(spark, sf_dir))
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("browse_abandon_out")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = spark.sql("SELECT * FROM browse_abandon_out").toPandas()
        batch = browse_abandon(spark, sf_dir).toPandas()
        gset = set(map(tuple, got[["user_id", "event_id", "ts_s"]].values.tolist()))
        bset = set(map(tuple, batch[["user_id", "event_id", "ts_s"]].values.tolist()))
        # 1. no false abandons
        assert gset <= bset
        # 2. completeness for provably-expired windows: final watermark is
        # max event ts minus the 10 s delay (exact max−delay tracking)
        from pyspark.sql import functions as F

        max_ts = (
            load_table(spark, sf_dir, "events").agg(F.max(F.col("ts").cast("long"))).first()[0]
        )
        wm_s = max_ts - 10
        must_fire = {t for t in bset if t[2] + BROWSE_ABANDON_S < wm_s}
        missing = must_fire - gset
        assert not missing, f"{len(missing)} expired abandons never fired"
        assert len(must_fire) > 0  # the property is non-vacuous on testdata


class TestDynamicRules:
    def test_rules_update_applies_without_restart(self, spark, sf_dir, tmp_path):
        """Broadcast-state analog: the rules table is re-resolved inside
        foreachBatch every micro-batch, so a rules snapshot published
        between batches changes what later batches filter — no restart."""
        import pandas as pd

        from gmall_flink_200621_spark.sources.loaders import events_parquet_stream
        from gmall_flink_200621_spark.streaming.jobs import publish_rules, run_rules_filter_stream

        stage = tmp_path / "stage"
        rules_dir = tmp_path / "rules"  # becomes publish_rules' symlink
        stage.mkdir()

        pdf = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values("event_id")
        half = len(pdf) // 2
        a, b = pdf.iloc[:half], pdf.iloc[half:]
        a.to_parquet(stage / "part-0.parquet", index=False)

        def publish(blocked):
            # the enforced atomic publication path (snapshot + symlink flip)
            publish_rules(spark, blocked, str(rules_dir))

        publish(["error"])
        q = run_rules_filter_stream(
            events_parquet_stream(spark, str(stage)).withWatermark("ts", "10 seconds"),
            str(rules_dir),
            "rules_out",
        )
        q.processAllAvailable()
        phase_a = {r.event_id: r.event_type for r in spark.table("rules_out").collect()}

        publish(["error", "click"])
        b.to_parquet(stage / "part-1.parquet", index=False)
        q.processAllAvailable()
        q.stop()
        all_rows = {r.event_id: r.event_type for r in spark.table("rules_out").collect()}

        a_ids, b_ids = set(a.event_id), set(b.event_id)
        # phase A: errors blocked, clicks pass
        assert all(t != "error" for t in phase_a.values())
        assert any(t == "click" for t in phase_a.values())
        # phase B rows (new ids only): clicks now blocked too
        phase_b = {i: t for i, t in all_rows.items() if i in b_ids}
        assert phase_b and all(t not in ("error", "click") for t in phase_b.values())
        # phase A emissions are append-only history — unchanged by the update
        assert {i: t for i, t in all_rows.items() if i in a_ids} == phase_a


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


class TestIncrementalMV:
    def test_mv_converges_to_batch_and_rewrites_idempotently(self, spark, sf_dir, tmp_path):
        """The incrementally-maintained pv-by-hour table must equal the
        batch aggregate after the replay drains — EVERY window, including
        ones updated across multiple micro-batches (update mode + dynamic
        partition overwrite rewrites a window's partition each time it
        changes, so the last write wins with the full aggregate)."""
        import pandas as pd

        from gmall_flink_200621_spark.plans.pipelines import page_view
        from gmall_flink_200621_spark.streaming.mv import run_pv_mv_stream

        stage = tmp_path / "stage"
        stage.mkdir()
        pdf = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values("ts")
        # 3 chunks with overlapping hours → several windows change twice
        third = len(pdf) // 3
        for i in range(3):
            lo = i * third
            hi = (i + 1) * third if i < 2 else len(pdf)
            pdf.iloc[lo:hi].to_parquet(stage / f"part-{i}.parquet", index=False)

        table = str(tmp_path / "pv_mv_table")
        q = run_pv_mv_stream(spark, str(stage), table, query_name="pv_mv_test")
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        got = {r.window_end_s: r.pv for r in spark.read.parquet(table).collect()}
        expected = {r.window_end_s: r.pv for r in page_view(spark, sf_dir).collect()}
        assert got == expected  # no watermark: every window present and exact
        # partition layout: one directory per window (pruning for readers)
        import glob

        parts = glob.glob(f"{table}/window_end_s=*")
        assert len(parts) == len(expected)

    def test_bounded_mv_audits_late_rows_and_keeps_state_small(self, spark, sf_dir, tmp_path):
        """The production MV variant (watermark + append): closed windows
        are written once and never mutated; rows beyond the watermark land
        in the audit side table instead of silently vanishing — so for
        every closed window, batch_pv == mv_pv + audit_count (event
        conservation, the reference's HotUrlApp side-output invariant);
        and streaming state holds only OPEN windows (bounded by the delay),
        not the whole window history the update-mode variant keeps."""
        import os

        import pandas as pd

        from gmall_flink_200621_spark.plans.pipelines import page_view
        from gmall_flink_200621_spark.streaming.mv import run_pv_mv_stream_bounded

        stage = tmp_path / "stage"
        stage.mkdir()
        pdf = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values("ts").reset_index(drop=True)
        # hold back an early slice and replay it LAST — months beyond the
        # 30-minute watermark by then, so the aggregation must drop it
        late = pdf.iloc[100:130]
        on_time = pdf.drop(late.index)
        n = len(on_time) // 4
        for i in range(4):
            lo, hi = i * n, (i + 1) * n if i < 3 else len(on_time)
            on_time.iloc[lo:hi].to_parquet(stage / f"part-{i}.parquet", index=False)
        late.to_parquet(stage / "part-9late.parquet", index=False)

        table = str(tmp_path / "mv_table")
        audit = str(tmp_path / "mv_audit")
        q_mv, q_audit = run_pv_mv_stream_bounded(
            spark, str(stage), table, audit, delay="30 minutes", query_name="pv_mv_bounded_test"
        )
        q_mv.processAllAvailable()
        q_audit.processAllAvailable()
        state_rows = q_mv.lastProgress["stateOperators"][0]["numRowsTotal"]
        q_mv.stop(), q_audit.stop()
        q_mv.awaitTermination(), q_audit.awaitTermination()

        got = {r.window_end_s: r.pv for r in spark.read.parquet(table).collect()}
        expected = {r.window_end_s: r.pv for r in page_view(spark, sf_dir).collect()}
        assert os.path.exists(audit), "planted late views produced no audit rows"
        audit_counts: dict[int, int] = {}
        for r in spark.read.parquet(audit).collect():
            audit_counts[r.window_end_s] = audit_counts.get(r.window_end_s, 0) + 1
        # 1) the audit holds exactly the planted late views — the on-time
        #    files are in ts order, so nothing else can be late
        n_late_views = int((late["event_type"] == "view").sum())
        assert n_late_views > 0 and sum(audit_counts.values()) == n_late_views
        # 2) conservation on every closed window; closed partitions were
        #    never mutated by the late replay (mv keeps the pre-late value)
        assert got, "no windows closed"
        for w, pv in got.items():
            assert expected[w] == pv + audit_counts.get(w, 0), w
        # 3) bounded state: only open windows survive eviction — a fraction
        #    of the full window history the unbounded variant would hold
        assert state_rows <= 5, state_rows
        assert state_rows < len(expected) / 4


class TestQualityGateStream:
    def test_kept_and_audit_partition_the_corpus(self, spark, sf_dir):
        """Stream==batch for the stateless rule gate, plus the side-output
        contract: kept ∪ audit == every doc exactly once, flags identical
        to the batch operator row-for-row."""
        from gmall_flink_200621_spark.operators.textops import quality_gopher
        from gmall_flink_200621_spark.sources.loaders import load_table
        from gmall_flink_200621_spark.streaming.jobs import run_quality_gate_stream

        q = run_quality_gate_stream(spark, sf_dir, name="qg_test")
        _drain(q)
        spark.catalog.refreshTable("qg_test_kept")
        spark.catalog.refreshTable("qg_test_audit")
        kept = {r.doc_id: r for r in spark.table("qg_test_kept").collect()}
        audit = {r.doc_id: r for r in spark.table("qg_test_audit").collect()}
        assert kept and audit
        assert not (set(kept) & set(audit))
        batch = {r.doc_id: r for r in quality_gopher(load_table(spark, sf_dir, "documents")).collect()}
        assert set(kept) | set(audit) == set(batch)
        for d, r in batch.items():
            got = kept[d] if r.keep == 1 else audit[d]
            assert (
                got.flag_word_count,
                got.flag_mean_word_len,
                got.flag_stopwords,
                got.flag_repetition,
                got.keep,
            ) == (r.flag_word_count, r.flag_mean_word_len, r.flag_stopwords, r.flag_repetition, r.keep)

    def test_checkpoint_recovery_reads_only_new_chunks(self, spark, sf_dir, tmp_path):
        """Stop after two chunks, add the rest, restart from the same
        checkpoint: only the new files are read and kept ∪ audit still
        partitions the corpus exactly."""
        import os
        import shutil

        from gmall_flink_200621_spark.streaming.ingest import stage_document_chunks
        from gmall_flink_200621_spark.streaming.jobs import run_quality_gate_stream

        full = stage_document_chunks(sf_dir, n_chunks=4)
        incr = tmp_path / "stage"
        incr.mkdir()
        ckpt = str(tmp_path / "ckpt")
        for f in ("part-0.parquet", "part-1.parquet"):
            shutil.copy2(os.path.join(full, f), incr / f)

        q = run_quality_gate_stream(
            spark, sf_dir, name="qg_rec", stage_dir=str(incr), checkpoint_dir=ckpt
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        n1 = spark.table("qg_rec_kept").count() + spark.table("qg_rec_audit").count()

        for f in ("part-2.parquet", "part-3.parquet"):
            shutil.copy2(os.path.join(full, f), incr / f)
        q2 = run_quality_gate_stream(
            spark, sf_dir, name="qg_rec", stage_dir=str(incr), checkpoint_dir=ckpt, reset_tables=False
        )
        q2.processAllAvailable()
        restarted = [p for p in q2.recentProgress if p["numInputRows"] > 0]
        q2.stop()
        q2.awaitTermination()
        assert len(restarted) == 2  # offsets restored — old chunks not re-read

        from gmall_flink_200621_spark.sources.loaders import load_table

        spark.catalog.refreshTable("qg_rec_kept")
        spark.catalog.refreshTable("qg_rec_audit")
        kept = {r.doc_id for r in spark.table("qg_rec_kept").collect()}
        audit = {r.doc_id for r in spark.table("qg_rec_audit").collect()}
        alldocs = {r.doc_id for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()}
        assert not (kept & audit)
        assert kept | audit == alldocs
        assert len(kept) + len(audit) == len(alldocs) > n1

    def test_replayed_epoch_is_idempotent(self, spark, sf_dir, tmp_path):
        """foreachBatch's at-least-once crash case: re-running an epoch
        must leave both sinks unchanged (dynamic overwrite of the epoch
        partition), never append duplicates."""
        from gmall_flink_200621_spark.sources.loaders import load_table
        from gmall_flink_200621_spark.streaming.epochs import create_state_table
        from gmall_flink_200621_spark.streaming.jobs import _gate_epoch

        cols = (
            "doc_id BIGINT, n_words INT, mean_word_len DOUBLE, stop_count INT, "
            "top_unigram_ratio DOUBLE, flag_word_count INT, flag_mean_word_len INT, "
            "flag_stopwords INT, flag_repetition INT, keep INT"
        )
        for t in ("qg_replay_kept", "qg_replay_audit"):
            create_state_table(spark, t, cols)

        docs = load_table(spark, sf_dir, "documents")
        b0 = docs.filter("doc_id % 2 = 0")
        b1 = docs.filter("doc_id % 2 = 1")
        _gate_epoch(b0, 0, "qg_replay_kept", "qg_replay_audit")
        _gate_epoch(b1, 1, "qg_replay_kept", "qg_replay_audit")
        spark.catalog.refreshTable("qg_replay_kept")
        before = sorted((r.doc_id, r.epoch) for r in spark.table("qg_replay_kept").collect())
        n_audit = spark.table("qg_replay_audit").count()
        assert before and n_audit

        _gate_epoch(b0, 0, "qg_replay_kept", "qg_replay_audit")  # crash-replay of epoch 0
        spark.catalog.refreshTable("qg_replay_kept")
        spark.catalog.refreshTable("qg_replay_audit")
        after = sorted((r.doc_id, r.epoch) for r in spark.table("qg_replay_kept").collect())
        assert after == before
        assert spark.table("qg_replay_audit").count() == n_audit


class TestDynamicGapSessionStream:
    def test_stream_matches_batch(self, spark, sf_dir):
        """Per-event-gap sessions: every watermark-closed session the
        stream emits equals the batch dynamic-gap result exactly; only
        per-user tail sessions may be in flight."""
        from gmall_flink_200621_spark.plans.extras import sessionize_dynamic_gap
        from gmall_flink_200621_spark.streaming.jobs import sessionize_dynamic_gap_stream

        q = (
            sessionize_dynamic_gap_stream(spark, sf_dir)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("dyn_sess_out")
            .start()
        )
        _drain(q)
        got = {
            (r.user_id, r.session_start_s): (r.session_end_s, r.n_events)
            for r in spark.sql("SELECT * FROM dyn_sess_out").collect()
        }
        batch = {
            (r.user_id, r.session_start_s): (r.session_end_s, r.n_events)
            for r in sessionize_dynamic_gap(spark, sf_dir).collect()
        }
        assert got
        assert all(batch.get(k) == v for k, v in got.items())
        n_users = len({u for u, _ in batch})
        assert len(got) >= len(batch) - n_users
