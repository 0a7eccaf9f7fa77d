from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    import shutil

    from gmall_flink_200621_spark.session import get_spark

    # Process-unique warehouse: the suite's fixed-name catalog fixtures
    # (t_compact, t_cdc, t_ingest, ...) collide when pytest and a verify
    # harness share ./spark-warehouse (r08's only red was a stale
    # t_compact dir from a concurrent run → LOCATION_ALREADY_EXISTS).
    # A pid-suffixed warehouse makes every test table collision-free by
    # construction — registry stream-view tables created during the suite
    # land here too, so a concurrent verify's warehouse is never touched.
    # Removed on teardown; the pid suffix means even a crashed run's
    # leftovers can't collide with the next run.
    wh = os.path.abspath(f"spark-warehouse/pytest-{os.getpid()}")
    # get_spark's 48 g driver heap is sized for a cluster driver. On a
    # 16 GB, 4-core box the suite's JVM commits heap faster than it
    # collects (11.6 GB RSS within 5 minutes) until the kernel OOM
    # killer ends it and every later test fails with "Connection
    # refused". The sf0.001 suite fits in 4 g, like perfbench's 2 g runs.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield s
    shutil.rmtree(wh, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def built_query(spark, sf_dir):
    """name → (PLANS.md row, pandas result or the exception its build or
    collect raised) of one `queries()` entry at the session's sf_dir.

    Each entry is built on first request through
    `tools/plan_audit.build_query` (empty cache, plan row read before the
    frame executes), collected at once and memoized, so no registry query,
    stream views included, runs twice in a session, and a targeted run
    builds only the queries it asks for. It also serves as the `build`
    hook of `plan_audit.generate_rows`. No lazy frame is kept: state
    tables share one name per family, so a frame held past its build
    would read another view's state."""
    import __spark_entry__ as entry_mod
    import tools.plan_audit as pa

    records = {}

    def build(name, fn=None):
        if name not in records:
            row, df = pa.build_query(spark, sf_dir, name, fn or entry_mod.queries()[name])
            if not isinstance(df, Exception):
                try:
                    df = df.toPandas()
                except Exception as exc:
                    df = exc
            records[name] = (row, df)
        return records[name]

    return build


@pytest.fixture(scope="session")
def swept_frame(built_query):
    """name → the registry query's result from `built_query`; raises what
    its build or collect raised."""

    def frame(name):
        out = built_query(name)[1]
        if isinstance(out, Exception):
            raise out
        return out

    return frame


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")
    return con


@pytest.fixture(scope="session")
def oracle_frame(duck):
    """DuckDB result of an oracle SQL string, run once per session."""
    frames = {}

    def frame(sql):
        if sql not in frames:
            frames[sql] = duck.sql(sql).df()
        return frames[sql]

    return frame
