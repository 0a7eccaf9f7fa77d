"""Physical data-layout operators: Z-order/Hilbert clustering keys and
small-file compaction — the warehouse-maintenance surface that decides how much of
100 TB a query actually READS.

Why this module exists: Spark's scan-side pruning (partition pruning,
parquet row-group min/max skipping) is only as good as the physical
layout of the files. A table sorted on one column skips beautifully on
that column and not at all on any other; a table ingested append-only
degrades into thousands of small files whose per-file overhead (footer
reads, task scheduling, open/close) dominates the scan. The two
operators here are the standard remedies:

- `zorder_value`: multi-dimensional clustering key. Interleaving the
  bits of k bounded columns into one Z-value and RANGE-partitioning +
  sorting on it gives every output file a compact hyper-rectangle of the key
  space, so parquet min/max stats are tight on EVERY interleaved column
  at once — a point/box predicate on any of them prunes most files. The
  Z-value is pure integer bit arithmetic (built-ins only, exactly
  reproducible in any engine).
- `compact_small_files`: partition-selective bin-packing rewrite. Only
  partitions whose file population is actually fragmented (more files
  than `ceil(bytes/target)` would need, above a tolerance) are
  rewritten, via dynamic partition overwrite — untouched partitions are
  physically untouched (same discipline as the streaming MV tables'
  touched-bucket writes in streaming/ingest.py).

Scale shape: a Z-ordered write is one range shuffle (sampled boundaries —
Spark's RangePartitioner samples, it never sorts globally) + a
per-partition sort, exactly what a 1000-executor rewrite job wants; the
compactor reads only the partitions it rewrites and the driver handles
only per-partition (path, bytes, n_files) triples — O(partitions)
scalars, never data.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

ZORDER_BITS = 11  # bits per dimension (2048 cells/dim); 2 dims → 22-bit zval


def zorder_value(cols: list[Column], bits: int = ZORDER_BITS) -> Column:
    """Bit-interleaved Z-value of k ALREADY-BOUNDED non-negative integer
    columns (each must fit in `bits` bits — callers bound with pmod /
    bucketing first): bit b of column i lands at position b·k + i. The
    expression is a flat sum of shift/mask terms (k·bits of them) —
    whole-stage-codegen-friendly, no UDF, no shuffle; identical integer
    arithmetic in DuckDB certifies it under the oracle gate."""
    k = len(cols)
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        for b in range(bits):
            z = z + F.shiftleft(
                F.shiftrightunsigned(c.cast("long"), b).bitwiseAND(F.lit(1)), b * k + i
            )
    return z


def _partition_predicate(types: dict, p: str):
    """Typed Column predicate for one SHOW PARTITIONS spec string.

    SHOW PARTITIONS returns PATH-ESCAPED values (space → %20, '=' →
    %3D, …) — formatting them back into an F.expr string breaks on any
    value holding a quote or escape, so: unquote each value, then
    compare with a TYPED literal (`lit(v).cast(col_type)` — a foldable
    literal, so partition pruning still reaches the scan; casting the
    COLUMN instead would defeat pruning). `__HIVE_DEFAULT_PARTITION__`
    means the null partition. `types` is the table's {name: dataType}
    map, resolved ONCE by the caller — not per spec (a 10k-partition
    sweep must not do 10k catalog round-trips)."""
    from functools import reduce
    from operator import and_
    from urllib.parse import unquote

    conds = []
    for kv in p.split("/"):
        k, v = kv.split("=", 1)
        v = unquote(v)
        if v == "__HIVE_DEFAULT_PARTITION__":
            conds.append(F.col(k).isNull())
        else:
            conds.append(F.col(k) == F.lit(v).cast(types[k]))
    return reduce(and_, conds)


def _hashable_cols(df: DataFrame) -> list[str]:
    """Columns whose type tree contains no MapType — Spark's hash
    expressions reject maps (non-deterministic entry order). Used to
    pick the row-hash inputs for file-slot binning; the bin only spreads
    rows across a partition's files, so dropping unhashable columns
    costs nothing but bin uniformity in the (rare) all-else-equal case."""
    from pyspark.sql import types as T

    def ok(dt) -> bool:
        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.ArrayType):
            return ok(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(ok(f.dataType) for f in dt.fields)
        return True

    return [f.name for f in df.schema.fields if ok(f.dataType)]


def compact_small_files(
    spark: SparkSession,
    table: str,
    target_bytes: int = 128 * 1024 * 1024,
    tolerance: int = 1,
    batch_partitions: int = 256,
) -> dict[str, tuple[int, int]]:
    """Bin-pack fragmented partitions of a partitioned parquet TABLE:
    any partition holding more than `ceil(bytes / target_bytes) +
    tolerance` files is rewritten via dynamic partition overwrite in
    BATCHES of `batch_partitions`; every other partition is left
    physically untouched. Returns {partition_spec: (files_before,
    files_after)} for the rewritten partitions — ≤ n_partitions tiny
    tuples to the driver, never rows.

    O(fragmented / batch_partitions) jobs with BOUNDED storage, not one
    job pair per partition (the r07 serial loop scheduled one checkpoint
    + one write per partition — a nightly pass over 10k fragmented
    partitions was 20k sequential Spark jobs) and not one unbounded
    all-partitions materialization either (checkpointing every
    fragmented partition at once would pin ~batch-count × target_bytes
    × ideal of executor storage; the chunking caps it at
    ~batch_partitions × partition size). Per batch:
    1. metadata sweep (listStatus per partition, no jobs) selects the
       fragmented specs and assigns each a file-slot range
       [offset, offset + ideal) in a slot space of P slots;
    2. ONE localCheckpoint job materializes the union of the batch's
       partitions' rows (required: a write plan that still read the
       table would be rejected as read-and-overwrite);
    3. ONE write job: a broadcast join against the tiny spec→(offset,
       ideal) map assigns every row gid = offset + xxhash64(row) %
       ideal (map-typed columns excluded — hash expressions reject
       them), and repartition(8·P, gid) routes slots to tasks — each
       task writes one file per partition directory it holds, so a
       partition gets ≤ ideal files (exactly ideal when no two of its
       gids hash-collide into one task; the 8× headroom makes a merge
       the exception, and a merge only means one file ~2× target —
       never wrong data). files_after is re-listed from the filesystem
       afterwards, so the returned map reports what actually landed.

    This is the maintenance companion of the streaming MV sinks
    (streaming/ingest.py): their touched-bucket overwrites keep write IO
    O(delta) per epoch, at the price of each bucket accreting one small
    file per epoch that touches it; a periodic compaction pass restores
    scan efficiency without rewriting the table. Correctness is
    content-identity: rewrite is `INSERT OVERWRITE` of the partitions'
    own rows (replay-idempotent — a crashed pass re-finds the same
    fragmented partitions; a replayed one finds them compact and writes
    nothing; each batch commits independently, so a crash mid-sweep
    loses at most one batch's worth of compaction, never data)."""
    from functools import reduce
    from operator import or_
    from urllib.parse import unquote

    parts = [r[0] for r in spark.sql(f"SHOW PARTITIONS {table}").collect()]
    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
        .filter(F.col("col_name") == "Location")
        .first()[1]
    )
    # Hadoop FileSystem API, not os.* — works for file://, hdfs://, s3a://
    # alike; per-partition listStatus is a metadata call, O(files) names,
    # zero data movement.
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()

    def n_files(p: str) -> tuple[int, int]:
        jpath = jvm.org.apache.hadoop.fs.Path(os.path.join(loc, p))
        fs = jpath.getFileSystem(hconf)
        sizes = [
            st.getLen()
            for st in fs.listStatus(jpath)
            if st.isFile() and not st.getPath().getName().startswith(("_", "."))
        ]
        return len(sizes), sum(sizes)

    frags: list[tuple[str, int, int]] = []  # (spec, before, ideal)
    for p in parts:
        n, total = n_files(p)
        ideal = max(1, math.ceil(total / target_bytes))
        if n <= ideal + tolerance:
            continue
        frags.append((p, n, ideal))
    if not frags:
        return {}

    tbl = spark.table(table)
    types = {f.name: f.dataType for f in tbl.schema.fields}
    pkeys = [kv.split("=", 1)[0] for kv in frags[0][0].split("/")]
    hash_cols = _hashable_cols(tbl)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        for i in range(0, len(frags), batch_partitions):
            chunk = frags[i : i + batch_partitions]
            union_pred = reduce(or_, [_partition_predicate(types, p) for p, *_ in chunk])
            jsc = spark.sparkContext._jsc
            rdds_before = set(jsc.getPersistentRDDs().keys())
            rows = tbl.filter(union_pred).localCheckpoint(eager=True)

            # tiny spec map: partition-key values (typed) → (offset, ideal)
            map_rows, off = [], 0
            for p, _n, ideal in chunk:
                vals = [
                    None
                    if (u := unquote(kv.split("=", 1)[1])) == "__HIVE_DEFAULT_PARTITION__"
                    else u
                    for kv in p.split("/")
                ]
                map_rows.append((*vals, off, ideal))
                off += ideal
            mdf = spark.createDataFrame(
                map_rows,
                ", ".join([f"`{k}` string" for k in pkeys] + ["__off long", "__ideal long"]),
            ).select(*[F.col(k).cast(types[k]).alias(k) for k in pkeys], "__off", "__ideal")
            join_cond = reduce(
                lambda a, b: a & b, [rows[k].eqNullSafe(mdf[k]) for k in pkeys]
            )
            rhash = (
                F.xxhash64(*[rows[c] for c in hash_cols]) if hash_cols else F.lit(0)
            )
            out = (
                rows.join(F.broadcast(mdf), join_cond)
                .drop(*[mdf[k] for k in pkeys])
                .withColumn("__gid", F.col("__off") + F.pmod(rhash, F.col("__ideal")))
                .repartition(8 * off, F.col("__gid"))
                .select(*rows.columns)
            )
            out.write.mode("overwrite").insertInto(table, overwrite=True)
            # release this batch's checkpointed blocks before the next
            # chunk starts — the bounded-storage claim (≤ one batch of
            # partitions pinned at a time) must not depend on when the
            # driver's ContextCleaner happens to run (r08 ADVICE #1).
            # RDD-level unpersist, because Dataset.unpersist only touches
            # CacheManager entries, not localCheckpoint blocks (probed)
            pers = jsc.getPersistentRDDs()
            for rid in list(pers.keys()):
                if rid not in rdds_before:
                    pers[rid].unpersist(False)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    spark.catalog.refreshTable(table)
    return {p: (n, n_files(p)[0]) for p, n, _ideal in frags}


def hilbert_index(
    df: DataFrame,
    xcol: str,
    ycol: str,
    bits: int = ZORDER_BITS,
    out: str = "hd",
) -> DataFrame:
    """Hilbert-curve index of two ALREADY-BOUNDED non-negative integer
    columns — the seam-free alternative to `zorder_value`: the Z-curve
    jumps across quadrant boundaries (a range-partitioned Z-file that
    straddles a seam spans a wide extent in one dimension — observed and
    documented in tests/test_layout.py), while consecutive Hilbert
    indices are always grid-adjacent, so EVERY contiguous index range is
    a compact blob and no file inherits a seam.

    The canonical xy2d bit-walk (d += s²·((3·rx) ⊕ ry); reflect + swap
    when ry = 0) is unrolled into `bits` chained projections — each
    level's (x, y, d) update references the PREVIOUS level's columns by
    name via one simultaneous withColumns, keeping the plan linear in
    `bits` (folding the recurrence into a single expression would double
    the tree per level: 2^bits nodes). Intermediate x/y go negative by
    design; `&` on negatives is two's-complement int64 in Spark, DuckDB
    and Python alike (verified), so the oracle replicates it exactly.
    Pure integer arithmetic, no UDF, no shuffle."""
    d = df.withColumns(
        {
            "__hx": F.col(xcol).cast("long"),
            "__hy": F.col(ycol).cast("long"),
            out: F.lit(0).cast("long"),
        }
    )
    one, zero = F.lit(1).cast("long"), F.lit(0).cast("long")
    for i in reversed(range(bits)):
        s = 1 << i
        d = d.withColumns(
            {
                "__rx": F.when(F.col("__hx").bitwiseAND(F.lit(s)) > 0, one).otherwise(zero),
                "__ry": F.when(F.col("__hy").bitwiseAND(F.lit(s)) > 0, one).otherwise(zero),
            }
        )
        d = d.withColumns(
            {
                out: F.col(out)
                + F.lit(s * s) * (F.lit(3) * F.col("__rx")).bitwiseXOR(F.col("__ry")),
                "__hx": F.when(F.col("__ry") == 1, F.col("__hx"))
                .when(F.col("__rx") == 1, F.lit(s - 1) - F.col("__hy"))
                .otherwise(F.col("__hy")),
                "__hy": F.when(F.col("__ry") == 1, F.col("__hy"))
                .when(F.col("__rx") == 1, F.lit(s - 1) - F.col("__hx"))
                .otherwise(F.col("__hx")),
            }
        )
    return d.drop("__hx", "__hy", "__rx", "__ry")
