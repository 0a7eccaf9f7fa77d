"""Epoch-partitioned state tables: the one owner of how a stream
maintainer creates, writes, reads, folds and garbage-collects its state.

Every state table a `foreachBatch` maintainer keeps is partitioned by
the micro-batch epoch (or by a hash bucket) and declares DYNAMIC
partition overwrite as a table option (`create_state_table`), so an
`insertInto(overwrite=True)` replaces exactly the partitions it writes:
a replayed epoch rewrites its own partition byte-identically, whatever
the session's `spark.sql.sources.partitionOverwriteMode` says. The
overwrite policy is a property of the table; nothing here touches
session conf, so streams sharing a session (or threads sharing one) see
no global side effect.

Folds coalesce old epochs into negative-encoded BASE partitions (tiered,
LSM-style); `live` reads only the rows the fold watermarks leave live,
and `gc_apply` owns the drop/rewrite mechanics of every purge.

`commit_epoch` lands an epoch's whole state change in ONE commit: it
plans the fold and its refold cascade from one SHOW PARTITIONS
(`_plan`), then runs one dynamic-overwrite insert of the epoch's
partition and every base the plan keeps, one multi-spec DROP of the
partitions the plan retires, and one refreshTable. Crash-safety comes
from the encoding, not atomicity. The insert commits partition by
partition (rename into place), so a crash inside it can land some
written partitions and not others, and a crash before the DROP leaves
every retired partition on disk. Either way a replay of the epoch
converges: the epoch's partition is a function of its replayed batch,
and each written base a pure function of partitions the commit does
not write (its absorbed sources, which stay on disk until the DROP),
so rewriting either is content-identical; and `live`
ignores positives and bases at or below a landed watermark, so a landed
base hides its sources from readers and the replayed plan finds them
absorbed and only drops them.
"""

from __future__ import annotations

import functools
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _drop_table(spark: SparkSession, name: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(re.sub(r"^file:/*", "/", warehouse), name.lower())
    if os.path.exists(loc):
        shutil.rmtree(loc)


def create_state_table(
    spark: SparkSession, table: str, cols: str, by: str = "epoch BIGINT"
) -> None:
    """Drop `table` (and its files), then create it as a parquet table
    with columns `cols`, partitioned by `by`, whose overwrites are
    dynamic: a write replaces only the partitions present in its rows."""
    _drop_table(spark, table)
    spark.sql(
        f"CREATE TABLE {table} ({cols}) USING parquet PARTITIONED BY ({by})"
        f" OPTIONS (partitionOverwriteMode 'dynamic')"
    )


def write_epoch(df: DataFrame, table: str, epoch_id: int) -> None:
    """Overwrite partition `epoch_id` of `table` with `df`'s rows (the
    table's columns in order, without `epoch`)."""
    df.withColumn("epoch", F.lit(epoch_id).cast("long")).write.mode(
        "overwrite"
    ).insertInto(table, overwrite=True)


# Fold-watermark encoding. A tier-t base (t = 0 for first-level folds)
# covering the epoch window topped by w is stored at epoch =
# -(t·TIER_OFF + w + 1), so tier-1 bases (t = 0) keep the original
# -(w + 1) encoding and the tier is recoverable from the partition value
# alone (epochs stay < TIER_OFF forever: at one epoch per second that is
# ~31k years).
TIER_OFF = 10**12


def _base_tiers(eps: list[int]) -> list[tuple[int, int]]:
    """Decode negative partition values to (tier, window-top) pairs."""
    return [((-e - 1) // TIER_OFF, (-e - 1) % TIER_OFF) for e in eps if e < 0]


def _enc(t: int, w: int) -> int:
    """Partition value of the tier-t base whose window-top is w."""
    return -(t * TIER_OFF + w + 1)


def _partition_epochs(spark: SparkSession, table: str) -> list[int]:
    """Partition values from catalog METADATA — no data scan."""
    return [
        int(r[0].split("=")[1]) for r in spark.sql(f"SHOW PARTITIONS {table}").collect()
    ]


def live(spark: SparkSession, table: str) -> DataFrame:
    """`table`'s LIVE rows under the TIERED fold-watermark encoding:
    bases at every tier (epoch = -(t·TIER_OFF + w + 1), each covering
    the epoch interval up to its w) plus only positive epochs > the
    newest window-top. Liveness per level: a positive epoch is live iff
    above EVERY base's window-top; a tier-t base is live iff its
    window-top is above every HIGHER-tier base's (higher tiers absorb
    contiguous prefixes of lower ones, so the comparison is total).
    Stale partitions — an absorbed epoch or base left on disk by a crash
    between a fold's write and its GC, or a replayed old batch rewriting
    its partition — are ignored, never double-read. Windows at one level
    never overlap (each fold/refold builds only from live entries above
    the then-newest watermark of its target tier, and watermarks
    increase monotonically), so reading all live rows is exact. With no
    base present, every epoch ≥ 0 is live.

    The watermarks come from SHOW PARTITIONS — metadata only, no
    aggregate sub-scan per read. `ingest.live_epochs` is the relational
    form of the same filter."""
    tw = _base_tiers(_partition_epochs(spark, table))
    wm = max((w for _, w in tw), default=-1)
    live_neg = [
        _enc(t, w) for t, w in tw if w > max((w2 for t2, w2 in tw if t2 > t), default=-1)
    ]
    cond = F.col("epoch") > F.lit(wm)
    if live_neg:
        cond = cond | F.col("epoch").isin(live_neg)
    return spark.table(table).filter(cond)


def before(spark: SparkSession, table: str, epoch_id: int) -> DataFrame:
    """The replay gate: `table`'s live rows of epochs before `epoch_id`,
    without the epoch column. Excluding the in-flight epoch's own
    partition makes a checkpointed last-epoch replay read exactly the
    pre-batch state its first attempt read (folds never cover it)."""
    return live(spark, table).filter(F.col("epoch") != epoch_id).drop("epoch")


def identity(df: DataFrame) -> DataFrame:
    """The fold merge of append-only row stores: the window's rows as
    they are."""
    return df


def _plan(
    eps: list[int], w: int | None, width: int | None
) -> tuple[dict[int, list[int]], list[int], list[int]]:
    """The fold → refold rules, run on a partition list alone.

    FOLD (`w` not None; TIERED, not absorbing): the positive epochs in
    (newest window-top of any base, w] become ONE tier-0 base at
    window-top w; older bases are untouched. An absorbing fold (new base
    = old base + window) would re-read and re-write the ENTIRE
    accumulated state every fold — O(lifetime) IO per fold on the ingest
    hot path. Tiered, every row is written once at ingest and once per
    tier it passes through, and per-fold IO is O(fold_every batches).
    Positives at or below the new watermark drop. With no positive in
    the window (a replayed fold whose base already landed) there is
    nothing to build, only stale positives to drop.

    REFOLD (`width` ≥ 2; LSM-style): tier by tier upward, a tier's bases
    at or below a higher tier's window-top drop (absorbed, left by a
    crash), and once a tier holds `width` live bases they merge into ONE
    base a tier up at their max window-top; repeat until no tier is
    full. Live partitions stay O(width · log_width(lifetime)). width=1
    would never terminate (one live base always fills its tier), and the
    kwarg is public on every run_*_stream entry point, so it means no
    refold.

    Returns (recipes, writes, drops): `recipes` maps each new base to its
    sources — on-disk partitions or new bases made earlier in the plan;
    `writes` are the new bases still live at the end (a base the cascade
    absorbs at once is never written); `drops` are the on-disk
    partitions no longer live. A new base never exists on disk as a live
    partition, so every write lands at a partition no recipe reads."""
    parts = set(eps)
    recipes: dict[int, list[int]] = {}
    if w is not None:
        floor = max((w2 for _, w2 in _base_tiers(parts)), default=-1)
        srcs = sorted(e for e in parts if floor < e <= w)
        if srcs:
            recipes[_enc(0, w)] = srcs
            parts.add(_enc(0, w))
        wm = w if srcs else floor
        parts -= {e for e in parts if 0 <= e <= wm}
    while width and width >= 2:
        tw = _base_tiers(parts)
        for t in sorted({t2 for t2, _ in tw}):
            hi_wm = max((w2 for t2, w2 in tw if t2 > t), default=-1)
            parts -= {_enc(t, w2) for t2, w2 in tw if t2 == t and w2 <= hi_wm}
            live_w = sorted(w2 for t2, w2 in tw if t2 == t and w2 > hi_wm)
            if len(live_w) >= width:
                srcs = [_enc(t, w2) for w2 in live_w]
                recipes[_enc(t + 1, live_w[-1])] = srcs
                parts = (parts - set(srcs)) | {_enc(t + 1, live_w[-1])}
                break  # partition set changed; cascade from the bottom
        else:
            break
    return recipes, [b for b in recipes if b in parts], sorted(set(eps) - parts)


def _as_table(df: DataFrame, fields) -> DataFrame:
    """`df`'s columns cast, by position, to the table's non-epoch
    columns — what a store and read-back would give."""
    return df.select(
        *[F.col(c).cast(f.dataType).alias(f.name) for c, f in zip(df.columns, fields)]
    )


def _commit(
    spark: SparkSession,
    table: str,
    df: DataFrame | None,
    epoch_id: int | None,
    w: int | None,
    merge,
    width: int | None,
) -> None:
    """Write `df` as partition `epoch_id` (df None: no epoch write) and
    apply `_plan(…, w, width)` in ONE commit: one dynamic-overwrite
    insert of the epoch and every written base, one multi-spec DROP,
    one refreshTable. A base's content is `merge` over its sources'
    rows; a source the same plan makes is fed in as an expression, cast
    to the table's types as a stored copy would read back."""
    pieces = [] if df is None else [(df, epoch_id)]
    drops: list[int] = []
    planned = w is not None or bool(width and width >= 2)
    if planned:
        recipes, writes, drops = _plan(_partition_epochs(spark, table), w, width)
        fields = [f for f in spark.table(table).schema.fields if f.name != "epoch"]

        def content(b: int) -> DataFrame:
            disk = [e for e in recipes[b] if e not in recipes]
            srcs = [content(e) for e in recipes[b] if e in recipes]
            if disk:
                srcs.insert(0, spark.table(table).filter(F.col("epoch").isin(disk)).drop("epoch"))
            return _as_table(merge(functools.reduce(DataFrame.union, srcs)), fields)

        if df is not None and writes:  # a union matches by position and type
            pieces = [(_as_table(df, fields), epoch_id)]
        pieces += [(content(b), b) for b in writes]
    if pieces:
        # the plan reads the partitions it absorbs and writes others only
        # (`_plan`), and dynamic overwrite replaces written partitions
        # only, so reading and overwriting one table needs no barrier
        functools.reduce(
            DataFrame.union,
            [p.withColumn("epoch", F.lit(e).cast("long")) for p, e in pieces],
        ).write.mode("overwrite").insertInto(table, overwrite=True)
    if drops:
        specs = ", ".join(f"PARTITION (epoch={e})" for e in drops)
        spark.sql(f"ALTER TABLE {table} DROP IF EXISTS {specs}")
    if pieces or planned:
        spark.catalog.refreshTable(table)


def commit_epoch(
    spark: SparkSession,
    table: str,
    df: DataFrame | None,
    epoch_id: int,
    fold_every: int | None,
    merge=identity,
    refold_width: int | None = None,
) -> None:
    """One epoch's state change in one commit: write `df` as partition
    `epoch_id` (None: fold only) and, every `fold_every`-th epoch, fold
    the strictly-older window (≤ epoch−1 — never the in-flight epoch,
    whose replay semantics stay untouched), then cascade every tier that
    reached `refold_width` live bases into the tier above. `merge(df)`
    maps a window's rows (epoch column excluded) to the base's content:
    an associative re-aggregation for partial aggregates, the identity
    (the default) for append-only row stores; either way a pure function
    of the source rows, so a replayed commit is content-identical."""
    due = bool(fold_every) and epoch_id > 0 and epoch_id % fold_every == 0
    _commit(
        spark, table, df, epoch_id,
        epoch_id - 1 if due else None, merge, refold_width if due else None,
    )


def gc_apply(
    spark: SparkSession, table: str, flagged: DataFrame, dead: list[int], mixed: list[int]
) -> int:
    """Shared partition-GC mechanics for the MV purge/expiry passes:
    `flagged` = the table's LIVE rows with a boolean `_dead` column,
    `dead`/`mixed` = its fully-dead and partly-dead partitions, however
    the caller found them. Fully-dead POSITIVE epochs drop as catalog
    metadata (one multi-spec DROP); fully-dead BASES are TRUNCATEd —
    emptied, still listed, no Spark job (never dropped: a base's
    window-top carries the fold watermark liveness reads from); mixed
    partitions rewrite in place without their dead rows, in one dynamic
    overwrite that reads the partitions it replaces (safe without a
    barrier: dynamic overwrite stages its output and swaps each
    partition in only after every task has read its input). What counts
    as dead — and whether purging it is replay-safe — is the CALLER's
    contract; this owns only the partition mechanics. Returns partitions
    touched."""
    full_dead = [e for e in dead if e >= 0]
    if full_dead:
        specs = ", ".join(f"PARTITION (epoch={e})" for e in full_dead)
        spark.sql(f"ALTER TABLE {table} DROP IF EXISTS {specs}")
    for e in dead:
        if e < 0:
            spark.sql(f"TRUNCATE TABLE {table} PARTITION (epoch={e})")
    if mixed:
        cols = [f.name for f in spark.table(table).schema.fields if f.name != "epoch"]
        flagged.filter(F.col("epoch").isin(mixed) & ~F.col("_dead")).select(
            *cols, "epoch"
        ).write.mode("overwrite").insertInto(table, overwrite=True)
    spark.catalog.refreshTable(table)
    return len(dead) + len(mixed)


def gc_partitions(spark: SparkSession, table: str, flagged: DataFrame) -> int:
    """Purge what `flagged` — the table's LIVE rows with a boolean
    `_dead` column — marks dead (`gc_apply`), its fully-dead and mixed
    partitions found in one aggregate pass. Returns partitions touched."""
    per_epoch = (
        flagged.groupBy("epoch")
        .agg(
            F.count(F.lit(1)).alias("n_all"),
            F.count(F.when(F.col("_dead"), 1)).alias("n_dead"),
        )
        .filter(F.col("n_dead") > 0)
        .collect()  # one row per live partition — metadata-scale
    )
    return gc_apply(
        spark,
        table,
        flagged,
        [r.epoch for r in per_epoch if r.n_dead == r.n_all],
        [r.epoch for r in per_epoch if r.n_dead < r.n_all],
    )


def drain(spark: SparkSession, q, *tables: str) -> None:
    """Run a staged replay to completion: process every available input,
    stop the query, wait for it, then refresh `tables` so this session
    sees the files the stream's cloned session wrote."""
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    for t in tables:
        spark.catalog.refreshTable(t)
