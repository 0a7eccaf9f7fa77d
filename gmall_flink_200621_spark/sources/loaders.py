"""Sources: batch + streaming loaders (SURVEY.md §2.1 S1).

The reference reads header-less positional CSV (`env.readTextFile`,
HotItemApp.java:36), sockets (HotUrlApp.java:38) and a generator
source (MarketBehaviorSource.java); here every source is a declarative `spark.read` /
`spark.readStream` over files so Catalyst gets pushdown and pruning, and
a stream is a file replay of the same data. Parquet is the primary
format (the driver's testdata); the CSV loader replicates the
reference's split-and-cast parse maps (HotItemApp.java:37-44) as a
schema'd read instead of per-row Python.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F



# (realpath(sf_dir), table, mtime, size) → the Spark read schema derived from ONE
# pyarrow footer read (~0.1 ms, no JVM). This is reader METADATA, not
# data or results: every action still scans the parquet. Spark's own
# schema inference costs ~65-75 ms of driver time PER read.parquet()
# call (file listing + a JVM footer pass), and the bench constructs
# every query's scans fresh each pass — ~200 load_table calls per bench
# pass made inference alone ~10-15 s of pure fixed cost (guide §6: give
# the reader an explicit schema; the repo's schemaless-source loaders
# already require one for exactly this reason). The file's mtime and
# size are in the key, so a table rewritten in place is probed afresh.
_READ_SCHEMAS: dict[tuple, object] = {}

def _read_schema_for(path: str):
    """StructType twin of Spark's inferred schema for `path`, from the
    pyarrow footer — replicating what inference yields under
    nanosAsLong=true + inferTimestampNTZ=false (all fields nullable).
    Strict whitelist: returns None on any column type outside it (caller
    falls back to the inferred read)."""
    import pyarrow.parquet as pq

    from pyspark.sql import types as T

    spark_type = {
        "int32": T.IntegerType(),
        "int64": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
        "large_string": T.StringType(),
        "timestamp[us]": T.TimestampType(),
        "timestamp[ns]": T.LongType(),  # TIMESTAMP(NANOS) under nanosAsLong
    }

    fields = []
    for f in pq.read_schema(path):
        ts = str(f.type)
        if ts in spark_type:
            fields.append(T.StructField(f.name, spark_type[ts], True))
        elif ts.startswith("list<") and str(f.type.value_type) in spark_type:
            fields.append(
                T.StructField(f.name, T.ArrayType(spark_type[str(f.type.value_type)], True), True)
            )
        else:
            return None
    return T.StructType(fields)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table. Parquet scan → full pushdown/pruning.

    Timestamp normalization: the testdata's timestamp columns are naive
    (isAdjustedToUTC=false) parquet timestamps. Spark's default NTZ
    inference would surface them as TIMESTAMP_NTZ, which cannot be cast to
    epoch seconds and behaves differently under watermarks/windows; we
    disable the inference so they read as session-zone TimestampType (the
    session is pinned to UTC, so the wall-clock values are identical to
    what DuckDB sees). Older generator versions wrote `events.ts` as
    TIMESTAMP(NANOS); the nanosAsLong + rebuild path below keeps those
    readable too (the footer-derived schema surfaces them as bigint,
    exactly as inference does under the legacy flag)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        info = os.stat(path)
        key = (os.path.realpath(sf_dir), name, info.st_mtime_ns, info.st_size)
    except OSError:  # missing path: the read below raises Spark's own error
        key = (os.path.realpath(sf_dir), name, None, None)
    if key not in _READ_SCHEMAS:
        try:
            _READ_SCHEMAS[key] = _read_schema_for(path)
        except Exception:  # noqa: BLE001 — any probe failure → inferred read
            _READ_SCHEMAS[key] = None
    st = _READ_SCHEMAS[key]
    reader = spark.read.schema(st) if st is not None else spark.read
    df = reader.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def events_parquet_stream(spark: SparkSession, directory: str, **options) -> DataFrame:
    """Streaming file-source scan over a directory of events parquet files,
    normalizing `ts` to session-zone TimestampType regardless of the
    on-disk physical type.

    The driver's testdata has shipped two layouts: TIMESTAMP(NANOS)
    (readable only as a long under `legacy.parquet.nanosAsLong`, then
    rebuilt at µs precision) and naive TIMESTAMP(MICROS) (readable
    directly as TimestampType once NTZ inference is off). The streaming
    source needs an explicit schema, so we probe every file's parquet
    footer with pyarrow — no Spark job — and pick the matching schema +
    rebuild step. All streaming jobs go through here so the layout
    assumption lives in exactly one place. A directory with no parquet
    files or with MIXED physical layouts (e.g. a stage dir surviving a
    testdata regeneration) fails loudly instead of silently misreading
    the non-probed layout."""
    import glob

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    files = sorted(glob.glob(os.path.join(directory, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"events_parquet_stream: no parquet files in {directory}")
    layouts = {str(pq.read_schema(f).field("ts").type) for f in files}
    if len(layouts) > 1:
        raise ValueError(
            f"events_parquet_stream: mixed ts layouts {sorted(layouts)} in {directory} — "
            "stale files from a previous testdata generation? Clear the stage dir."
        )
    nanos = layouts == {"timestamp[ns]"}
    ts_type = "long" if nanos else "timestamp"
    schema = (
        f"event_id long, ts {ts_type}, user_id long, event_type string, "
        "value double, props string"
    )
    reader = spark.readStream.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.parquet(directory)
    if nanos:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def read_csv(
    spark: SparkSession, path: str, schema, sep: str = ",", mode: str = "PERMISSIVE"
) -> DataFrame:
    """Positional header-less CSV with an explicit schema.

    Replaces the reference's per-row `String.split(",")` parse maps
    (e.g. HotItemApp.java:37-44) with a schema'd scan — the parse happens
    JVM-side inside the CSV datasource, not in user code. `mode` is the
    malformed-row policy: PERMISSIVE (default — unparseable fields null
    out, rows survive), DROPMALFORMED, or FAILFAST; the reference's
    split-and-cast maps would instead throw mid-stream on the first bad
    row."""
    return spark.read.csv(path, schema=schema, sep=sep, header=False, mode=mode)
