"""Source coverage (SURVEY §2.1): malformed CSV rows, the streaming
source's footer probe, the footer-derived load schema, expectation
checks, operator error paths and the query/bench CLIs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


class TestMalformedRows:
    def test_csv_malformed_row_policies(self, spark, tmp_path):
        """S1 robustness: a production CSV scan must survive bad rows.
        PERMISSIVE nulls out unparseable fields (row count preserved);
        DROPMALFORMED drops exactly the bad rows. The reference's
        String.split parse maps throw on the first bad row instead."""
        from gmall_flink_200621_spark.sources.loaders import read_csv

        p = tmp_path / "mixed.csv"
        p.write_text("1,100,ok\n2,not_a_number,bad\n3,300,ok\n")
        schema = "id INT, val INT, tag STRING"

        permissive = read_csv(spark, str(p), schema).collect()
        assert len(permissive) == 3
        byid = {r.id: (r.val, r.tag) for r in permissive}
        assert byid[2] == (None, "bad")  # field nulled, row kept
        assert byid[1] == (100, "ok") and byid[3] == (300, "ok")

        dropped = read_csv(spark, str(p), schema, mode="DROPMALFORMED").collect()
        assert {r.id for r in dropped} == {1, 3}


class TestStreamSourceProbe:
    def test_empty_dir_fails_loudly(self, spark, tmp_path):
        from gmall_flink_200621_spark.sources.loaders import events_parquet_stream

        with pytest.raises(FileNotFoundError, match="no parquet files"):
            events_parquet_stream(spark, str(tmp_path / "nothing"))

    def test_mixed_layout_fails_loudly(self, spark, tmp_path):
        """A stage dir mixing TIMESTAMP(NANOS) and TIMESTAMP(MICROS) files
        (stale files surviving a testdata regeneration) must error, not
        silently misread whichever layout wasn't probed."""
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from gmall_flink_200621_spark.sources.loaders import events_parquet_stream

        d = tmp_path / "mixed"
        d.mkdir()
        pdf = pd.DataFrame(
            {
                "event_id": [1],
                "ts": pd.to_datetime(["2020-06-21 12:00:00"]),
                "user_id": [7],
                "event_type": ["click"],
                "value": [1.0],
                "props": ["{}"],
            }
        )
        t = pa.Table.from_pandas(pdf, preserve_index=False)
        micros = t.set_column(1, "ts", t.column("ts").cast(pa.timestamp("us")))
        nanos = t.set_column(1, "ts", t.column("ts").cast(pa.timestamp("ns")))
        pq.write_table(micros, d / "a.parquet", use_deprecated_int96_timestamps=False)
        pq.write_table(nanos, d / "b.parquet", use_deprecated_int96_timestamps=False)
        with pytest.raises(ValueError, match="mixed ts layouts"):
            events_parquet_stream(spark, str(d))


class TestWriteAuditPublish:
    def test_expectation_checks_unit(self, spark, sf_dir):
        """Every FK/range/accepted rule is zero on the testdata — and the
        suite legitimately CATCHES the one constraint the synthetic
        generator violates: lineitem's classic (l_orderkey, l_linenumber)
        PK has duplicates, which the unique rule reports as exactly the
        extra-copy count a direct groupBy confirms."""
        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.plans.extras import tpch_expectations
        from gmall_flink_200621_spark.sources.loaders import load_table

        out = {r.rule: r.violations for r in tpch_expectations(spark, sf_dir).collect()}
        assert len(out) == 11
        dup_rule = "unique:l_orderkey,l_linenumber"
        assert all(v == 0 for k, v in out.items() if k != dup_rule)
        expected_dups = (
            load_table(spark, sf_dir, "lineitem")
            .groupBy("l_orderkey", "l_linenumber")
            .count()
            .agg(F.sum(F.col("count") - 1))
            .first()[0]
        )
        assert out[dup_rule] == expected_dups > 0

        from gmall_flink_200621_spark.operators.expectations import (
            check_accepted_values,
            check_referential,
        )

        child = spark.createDataFrame([(1,), (2,), (9,)], "k long")
        parent = spark.createDataFrame([(1,), (2,)], "p long")
        assert check_referential(child, "k", parent, "p").collect()[0].violations == 1
        df = spark.createDataFrame([("x",), ("F",)], "s string")
        assert check_accepted_values(df, "s", ["F", "O"]).collect()[0].violations == 1


class TestErrorPaths:
    def test_asof_overlap_guard_raises(self, spark):
        from gmall_flink_200621_spark.operators.asof import asof_join

        l = spark.createDataFrame([(1, 1, 1)], "k long, ts long, payload long")
        r = spark.createDataFrame([(1, 1, 2)], "k long, rts long, payload long")
        import pytest as _pytest

        with _pytest.raises(ValueError, match="payload"):
            asof_join(l, r, ["k"], "ts", "rts", ["payload"])

    def test_expectations_on_empty_frame_report_zero(self, spark):
        from gmall_flink_200621_spark.operators.expectations import (
            check_not_null,
            check_referential,
            check_unique,
            run_suite,
        )

        empty = spark.createDataFrame([], "id long, v string")
        parent = spark.createDataFrame([], "p long")
        out = {
            r.rule: r.violations
            for r in run_suite(
                [
                    check_unique(empty, ["id"]),
                    check_not_null(empty, "v"),
                    check_referential(empty, "id", parent, "p"),
                ]
            ).collect()
        }
        assert out == {"unique:id": 0, "not_null:v": 0, "fk:id": 0}

    def test_heavy_hitters_rejects_unsafe_denominator(self, spark):
        """denom beyond the Misra-Gries no-false-negative bound must be
        refused, not silently approximate."""
        import pytest as _pytest

        from gmall_flink_200621_spark.operators.frequency import heavy_hitters

        df = spark.range(10).select(F.col("id").alias("user_id"))
        with _pytest.raises(ValueError, match="superset"):
            heavy_hitters(df, "user_id", denom=100_000)


class TestRunQueryCli:
    def test_cli_lists_and_runs_a_query(self):
        """tools/run_query.py end-to-end in a fresh interpreter: --list
        enumerates the registry; running one query prints rows."""
        import subprocess
        import sys

        ls = subprocess.run(
            [sys.executable, "tools/run_query.py", "--list"],
            capture_output=True, text=True, cwd="/root/repo", timeout=240,
        )
        assert ls.returncode == 0
        assert "quality_gopher" in ls.stdout and "tpch_q1" in ls.stdout


class TestBenchCompare:
    def test_flags_regressions_and_recovers_truncated_tails(self, tmp_path):
        import json
        import subprocess
        import sys

        old = {"metric": "t", "value": 2.0, "queries": {"a": 1.0, "b": 1.0}, "sf": 0.1}
        new = {"metric": "t", "value": 2.6, "queries": {"a": 1.0, "b": 1.6, "c": 0.2}, "sf": 0.1}
        (tmp_path / "old.json").write_text(json.dumps(old))
        (tmp_path / "new.json").write_text(json.dumps(new))
        r = subprocess.run(
            [sys.executable, "tools/bench_compare.py", str(tmp_path / "old.json"),
             str(tmp_path / "new.json"), "--threshold", "0.25"],
            capture_output=True, text=True, cwd="/root/repo",
        )
        assert r.returncode == 1 and "REGRESSION" in r.stdout and "'c'" in r.stdout

        # driver-artifact tail truncated mid-key still yields the complete pairs
        art = {"tail": '_cut": 0.5, "a": 1.0, "b": 1.0}, "queries_median": {"a": 9.9}}'}
        (tmp_path / "art.json").write_text(json.dumps(art))
        r2 = subprocess.run(
            [sys.executable, "tools/bench_compare.py", str(tmp_path / "art.json"),
             str(tmp_path / "new.json"), "--threshold", "10.0"],
            capture_output=True, text=True, cwd="/root/repo",
        )
        assert r2.returncode == 0 and "common 2" in r2.stdout


class TestLoaderSchemaTwin:
    """r14: load_table passes an explicit footer-derived schema to the
    parquet reader (skipping Spark's ~70 ms/call schema inference). The
    derived schema must be bit-identical to what inference yields, or the
    loader must fall back to inference."""

    def test_footer_schema_matches_inference(self, spark, sf_dir):
        from gmall_flink_200621_spark.schemas import TESTDATA_TABLES
        from gmall_flink_200621_spark.sources.loaders import _read_schema_for

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        for t in TESTDATA_TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if not os.path.exists(p):
                continue
            st = _read_schema_for(p)
            assert st is not None, f"{t}: footer types left the whitelist"
            assert st == spark.read.parquet(p).schema, t

    def test_unknown_type_falls_back(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from gmall_flink_200621_spark.sources.loaders import _read_schema_for

        p = str(tmp_path / "dec.parquet")
        pq.write_table(
            pa.table({"d": pa.array([1], type=pa.decimal128(10, 2))}), p
        )
        assert _read_schema_for(p) is None  # decimal → inferred read

    def test_load_table_values_identical(self, spark, sf_dir):
        """The explicit-schema read returns the same rows as inference
        (events exercises the ts normalization path)."""
        from gmall_flink_200621_spark.sources.loaders import load_table

        df = load_table(spark, sf_dir, "events")
        inferred = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        if dict(inferred.dtypes).get("ts") == "bigint":
            inferred = inferred.withColumn(
                "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
            )
        assert df.schema == inferred.schema
        a = df.orderBy("event_id").limit(100).collect()
        b = inferred.orderBy("event_id").limit(100).collect()
        assert a == b

    def test_rewritten_table_reads_new_schema(self, spark, tmp_path):
        """A table file rewritten in place with another schema in the same
        session is read with the NEW schema, not the cached one."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from gmall_flink_200621_spark.sources.loaders import load_table

        p = str(tmp_path / "t_rw.parquet")
        pq.write_table(pa.table({"a": pa.array([1, 2], type=pa.int64())}), p)
        assert load_table(spark, str(tmp_path), "t_rw").dtypes == [("a", "bigint")]
        pq.write_table(
            pa.table({"a": pa.array(["x", "y", "z"]), "b": pa.array([0.5, 1.5, 2.5])}), p
        )
        df = load_table(spark, str(tmp_path), "t_rw")
        assert df.dtypes == [("a", "string"), ("b", "double")]
        assert sorted(map(tuple, df.collect())) == [("x", 0.5), ("y", 1.5), ("z", 2.5)]
