"""CEP-lite operator tests (C1-C4) on hand-computed inputs, plus
cross-checks against the lag-rewrites used by the pipeline queries."""

from __future__ import annotations

from pyspark.sql import functions as F


def _login_df(spark, rows):
    return spark.createDataFrame(rows, "user_id long, ts long, event_type string")


class TestConsecutiveWithin:
    def test_three_consecutive_within(self, spark):
        from gmall_flink_200621_spark.operators.cep import consecutive_within

        df = _login_df(
            spark,
            [
                (1, 10, "fail"),
                (1, 11, "fail"),
                (1, 12, "fail"),   # run of 3 within 2s → match at ts=12
                (1, 13, "success"),
                (1, 14, "fail"),
                (1, 15, "fail"),   # only 2 → no 3-match
                (2, 10, "fail"),
                (2, 30, "fail"),
                (2, 31, "fail"),   # span 21s > within → no match at 31? span is ts0=10..31
            ],
        )
        out = consecutive_within(
            df, ["user_id"], "ts", F.col("event_type") == "fail", n=3, within_s=5
        ).collect()
        assert [(r.user_id, r.ts_0, r.ts_1, r.ts_2) for r in out] == [(1, 10, 11, 12)]

    def test_matches_pipeline_login_fail(self, spark, sf_dir):
        """n=2 over the events table must equal the pipeline's lag rewrite."""
        from gmall_flink_200621_spark.operators.cep import consecutive_within
        from gmall_flink_200621_spark.plans.pipelines import login_fail
        from gmall_flink_200621_spark.sources.loaders import load_table

        e = load_table(spark, sf_dir, "events")
        out = consecutive_within(
            e, ["user_id"], "ts", F.col("event_type") == "error", n=2, within_s=3600,
            order_cols=["event_id"],
        )
        got = {(r.user_id, r.ts_0, r.ts_1) for r in out.collect()}
        expected = {
            (r.user_id, r.first_fail_ts_s, r.second_fail_ts_s)
            for r in login_fail(spark, sf_dir).collect()
        }
        assert got == expected


class TestRelaxedTimesWithin:
    def test_skips_non_matching_events(self, spark):
        """Flink default contiguity: a success BETWEEN failures is skipped,
        not pattern-breaking — the exact case where strict consecutive()
        returns nothing."""
        from gmall_flink_200621_spark.operators.cep import (
            consecutive_within,
            relaxed_times_within,
        )

        df = _login_df(
            spark,
            [
                (1, 10, "fail"),
                (1, 11, "success"),  # skipped under relaxed, breaks strict
                (1, 12, "fail"),
                (1, 13, "fail"),
                (2, 10, "fail"),
                (2, 100, "fail"),
                (2, 101, "fail"),  # span 91 > within → no match either mode
            ],
        )
        match = F.col("event_type") == "fail"
        relaxed = relaxed_times_within(df, ["user_id"], "ts", match, n=3, within_s=5).collect()
        assert [(r.user_id, r.ts_0, r.ts_1, r.ts_2) for r in relaxed] == [(1, 10, 12, 13)]
        strict = consecutive_within(df, ["user_id"], "ts", match, n=3, within_s=5).collect()
        assert strict == []
