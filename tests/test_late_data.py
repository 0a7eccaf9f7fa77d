"""W7/W8/T3 semantics tests against the hand-rolled Flink-exact lateness
state machine (streaming/late_data.py).

The invariant that pins everything down is CONSERVATION: for every
(window, url), live count + post-expiry dropped count == the batch-mode
count. Nothing double-counted by re-fires, nothing silently lost."""

from __future__ import annotations

from collections import Counter


def _window_ends(ts_s: int) -> list[int]:
    """Epoch-aligned sliding-window ends containing ts (same assignment as
    F.window / the DuckDB oracle)."""
    from gmall_flink_200621_spark.streaming.late_data import SLIDE_S, WINDOW_S

    bucket = ts_s - ts_s % SLIDE_S
    return [bucket + j * SLIDE_S for j in range(1, WINDOW_S // SLIDE_S + 1)]


def _run(spark, sf_dir, name):
    from gmall_flink_200621_spark.streaming.late_data import STATE, run_hot_urls_late_stream

    q = run_hot_urls_late_stream(spark, sf_dir, query_name=name)
    q.processAllAvailable()
    progress = q.recentProgress
    q.stop()
    return STATE[name], progress


class TestLateDataSemantics:
    def test_conservation_and_refires(self, spark, sf_dir):
        from gmall_flink_200621_spark.plans.pipelines import hot_urls
        from gmall_flink_200621_spark.operators.windows import windowed_agg
        from gmall_flink_200621_spark.sources.loaders import load_table
        from pyspark.sql import functions as F
        from gmall_flink_200621_spark.functions import scalars as S

        st, progress = _run(spark, sf_dir, "late_conservation")

        # ≥3 micro-batches actually ran (else lateness was never exercised)
        assert len([p for p in progress if p["numInputRows"] > 0]) >= 3

        # distributed shape: keyed state lives in the stateful operator and
        # the sink is the parquet file sink — no driver collect of the stream
        with_data = [p for p in progress if p["numInputRows"] > 0]
        assert any(p.get("stateOperators") for p in with_data)
        assert all("FileSink" in p["sink"]["description"] for p in with_data)

        # batch-mode windowed counts (ground truth)
        e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
        batch = {
            (r.window_end_s, r.url_k): r.cnt
            for r in windowed_agg(
                e, "ts", "10 minutes", "5 minutes", keys={"url_k": S.url_k()}
            ).collect()
        }

        # conservation: live + dropped == batch, for every (window, url)
        merged: Counter = Counter(st["counts"])
        merged.update(st["dropped"])
        assert dict(merged) == batch

        # the jittered replay must exercise BOTH late paths
        assert st["refires"], "no within-budget late re-fires happened"
        assert st["side"], "no beyond-budget side-output events happened"

        # every side-output event's windows are all expired ⇒ every one of
        # its (window,url) contributions sits in dropped, none in counts
        for ts_s, url in st["side"][:50]:
            for wend in _window_ends(ts_s):
                assert (wend, url) in st["dropped"]

    def test_checkpoint_recovery_equals_uninterrupted_run(self, spark, sf_dir, tmp_path):
        """Kill the stateful lateness query after its first micro-batch and
        restart from the checkpoint: keyed state, watermark, source offsets
        and the file sink's metadata log all resume, so the finalized view
        (counts, dropped, re-fires, side output) is identical to a run that
        was never interrupted — the restart a production operator of this
        pipeline performs most."""
        import os
        import shutil

        from gmall_flink_200621_spark.streaming.late_data import (
            STATE,
            run_hot_urls_late_stream,
            stage_events_replay,
        )

        full = stage_events_replay(sf_dir)
        incr = tmp_path / "stage"
        incr.mkdir()
        log, ckpt = str(tmp_path / "log"), str(tmp_path / "ckpt")
        shutil.copy2(os.path.join(full, "part-0.parquet"), incr / "part-0.parquet")

        q = run_hot_urls_late_stream(
            spark, sf_dir, query_name="late_rec", stage_dir=str(incr), log_dir=log, checkpoint_dir=ckpt
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        for f in ("part-1.parquet", "part-2.parquet"):
            shutil.copy2(os.path.join(full, f), incr / f)
        q2 = run_hot_urls_late_stream(
            spark, sf_dir, query_name="late_rec", stage_dir=str(incr), log_dir=log, checkpoint_dir=ckpt
        )
        q2.processAllAvailable()
        restarted = [p for p in q2.recentProgress if p["numInputRows"] > 0]
        q2.stop()
        q2.awaitTermination()
        # resumed, not replayed: the restarted query processed ONLY the two
        # new files (part-0's offsets came from the checkpoint)
        assert len(restarted) == 2

        st = STATE["late_rec"]
        ref, _ = _run(spark, sf_dir, "late_rec_ref")
        assert st["counts"] == ref["counts"]
        assert st["dropped"] == ref["dropped"]
        assert st["refires"] == ref["refires"]
        assert Counter(st["side"]) == Counter(ref["side"])
        assert [tuple(r) for r in st["ranking"]] == [tuple(r) for r in ref["ranking"]]

    def test_upsert_ranking_is_consistent_with_live_counts(self, spark, sf_dir):
        from gmall_flink_200621_spark.operators.topn import top_n_per_group

        st, _ = _run(spark, sf_dir, "late_rank")
        data = [(w, u, c) for (w, u), c in st["counts"].items()]
        expected = {
            (r.window_end_s, r.url_k): (r.cnt, r.rank)
            for r in top_n_per_group(
                spark.createDataFrame(data, "window_end_s long, url_k string, cnt long"),
                ["window_end_s"],
                "cnt",
                5,
                tiebreak_cols=["url_k"],
            ).collect()
        }
        got = {(r.window_end_s, r.url_k): (r.cnt, r.rank) for r in st["ranking"]}
        assert got == expected
