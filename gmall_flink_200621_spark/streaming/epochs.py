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
and `gc_partitions` owns the drop/rewrite mechanics of every purge.
"""

from __future__ import annotations

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
        -(t * TIER_OFF + w + 1)
        for t, w in tw
        if w > max((w2 for t2, w2 in tw if t2 > t), default=-1)
    ]
    cond = F.col("epoch") > F.lit(wm)
    if live_neg:
        cond = cond | F.col("epoch").isin(live_neg)
    return spark.table(table).filter(cond)


def identity(df: DataFrame) -> DataFrame:
    """The fold merge of append-only row stores: the window's rows as
    they are."""
    return df


def fold(spark: SparkSession, table: str, w: int, merge) -> None:
    """TIERED fold: merge the positive epochs in (wm_prev, w] into ONE
    new base partition encoded epoch = -(w + 1), leaving older bases
    untouched — the bound that keeps a minutes-cadence stream from
    accreting one parquet partition per epoch forever (a year ≈ 500k
    partition footers becomes ≈ 500k/fold_every bases).

    Tiered, not absorbing, on purpose: an absorbing fold (new base =
    old base + window) re-reads and re-writes the ENTIRE accumulated
    state every fold — O(lifetime) IO per fold on the ingest hot path,
    O(lifetime²/fold_every) cumulative (the r08 review's finding).
    Tiered folds touch only the window: every row is written exactly twice
    ever — once at ingest, once when its window folds — and per-fold IO
    is O(fold_every batches), preserving the streams' O(batch)
    maintenance contract. The trade is reader fan-in over O(#bases)
    partitions instead of 1, which is the footer-count problem already
    being solved, just divided by fold_every.

    `merge(df)` maps the window's rows (epoch column excluded) to the
    base's content — an associative re-aggregation for partial
    aggregates (corpus stats), identity for append-only row stores
    (PQ codes, edge logs); either way a pure function of the source
    ROWS, so a replayed fold is content-identical or an early-return.

    Crash-safety comes from the encoding, not atomicity: readers go
    through `live`, so between the base write and the partition GC
    below, the already-folded positive epochs still on disk are simply
    ignored. Only epochs ABOVE the previous watermark feed the new base
    — any on-disk epoch ≤ wm_prev is an already-absorbed copy. A
    replayed fold (its base already landed) takes the GC-only path: no
    rewrite, just dropping stale positives ≤ the watermark. GC is
    metadata-only (ALTER TABLE DROP PARTITION on a bounded list); bases
    are never dropped."""
    eps = _partition_epochs(spark, table)
    tw = _base_tiers(eps)
    floor = max((w2 for _, w2 in tw), default=-1)
    srcs = [e for e in eps if floor < e <= w]
    if srcs:
        # reads and overwrites the same table in ONE plan with no
        # checkpoint barrier — safe ONLY because the written base
        # partition -(w+1) is disjoint from the read positive epochs
        # (srcs > floor ≥ every base window-top) and dynamic overwrite
        # touches written partitions only; any future merge fn that reads
        # a BASE partition must localCheckpoint first (the
        # compact_small_files discipline)
        merged = merge(spark.table(table).filter(F.col("epoch").isin(srcs)).drop("epoch"))
        write_epoch(merged, table, -(w + 1))
        wm_new = w
    else:
        # replay after a crash: the base for this window already landed
        # (wm_prev ≥ w) — nothing to rewrite, only stale positives to GC
        wm_new = floor
    for e in eps:
        if 0 <= e <= wm_new:
            spark.sql(f"ALTER TABLE {table} DROP IF EXISTS PARTITION (epoch={e})")
    spark.catalog.refreshTable(table)


def refold(spark: SparkSession, table: str, merge, width: int | None) -> None:
    """SECOND-tier (LSM-style) fold: tier-1 bases still accrete one per
    `fold_every` epochs forever; whenever a tier accumulates `width`
    live bases, they merge into ONE base at the tier above (same
    negative-epoch watermark encoding, window-top = the merged bases'
    max), cascading upward like an LSM compaction. Live partitions are
    then bounded by width · #tiers = O(width · log_width(lifetime)), and
    each row is written once per tier it passes through — O(log) writes
    per row over the table's lifetime, the same amortization argument as
    every LSM tree.

    Crash-safety is the SAME argument as `fold`, one level up: the
    super-base is built ONLY from live tier-t bases above the tier-(t+1)
    watermark; readers (`live`) ignore any tier-t base at-or-below a
    higher tier's window-top, so a crash between the super-base write
    and the GC below leaves ignored-not-double-read stale bases that the
    next refold GCs; a replayed refold finds its absorbed inputs no
    longer live and takes the GC-only path. The read-then-overwrite is
    barrier-free for the same disjointness reason: the written partition
    lives at tier t+1, the reads at tier t."""
    if not width or width < 2:
        # width=1 would never terminate: a single live base always
        # satisfies len(live) >= 1, so each pass promotes it one tier
        # higher forever — the kwarg is public on every run_*_stream
        # entry point, so guard rather than assume call-site discipline
        return
    changed = True
    while changed:  # cascade: a refold may fill the tier above
        changed = False
        tw = _base_tiers(_partition_epochs(spark, table))
        for t in sorted({t2 for t2, _ in tw}):
            hi_wm = max((w2 for t2, w2 in tw if t2 > t), default=-1)
            # GC bases this tier already absorbed above (crash leftovers)
            for t2, w2 in tw:
                if t2 == t and w2 <= hi_wm:
                    spark.sql(
                        f"ALTER TABLE {table} DROP IF EXISTS PARTITION"
                        f" (epoch={-(t * TIER_OFF + w2 + 1)})"
                    )
            live_w = sorted(w2 for t2, w2 in tw if t2 == t and w2 > hi_wm)
            if len(live_w) >= width:
                srcs = [-(t * TIER_OFF + w2 + 1) for w2 in live_w]
                merged = merge(
                    spark.table(table).filter(F.col("epoch").isin(srcs)).drop("epoch")
                )
                write_epoch(merged, table, -((t + 1) * TIER_OFF + live_w[-1] + 1))
                for e in srcs:
                    spark.sql(f"ALTER TABLE {table} DROP IF EXISTS PARTITION (epoch={e})")
                changed = True
                break  # partition set changed; re-list and cascade
    spark.catalog.refreshTable(table)


def maybe_fold(
    spark: SparkSession,
    table: str,
    epoch_id: int,
    fold_every: int | None,
    merge=identity,
    refold_width: int | None = None,
) -> None:
    """Shared fold cadence gate for the foreachBatch loops: every
    `fold_every`-th epoch, fold the strictly-older window (≤ epoch−1 —
    never the in-flight epoch, whose replay semantics stay untouched),
    then cascade any tier that reached `refold_width` live bases into
    the tier above. The default merge is the identity (append-only row
    stores)."""
    if fold_every and epoch_id > 0 and epoch_id % fold_every == 0:
        fold(spark, table, epoch_id - 1, merge)
        refold(spark, table, merge, refold_width)


def gc_partitions(spark: SparkSession, table: str, flagged: DataFrame) -> int:
    """Shared partition-GC mechanics for the MV purge/expiry passes:
    `flagged` = the table's LIVE rows with a boolean `_dead` column.
    Fully-dead POSITIVE epochs drop as catalog metadata; fully-dead
    BASES are overwritten EMPTY through a static partition spec (never
    dropped — a base's window-top carries the fold watermark liveness
    reads from, and a zero-row dynamic overwrite would never touch it);
    mixed partitions rewrite in place without their dead rows. The kept
    columns and the typed empty select come from the table's schema.
    What counts as dead — and whether purging it is replay-safe — is the
    CALLER's contract; this owns only the partition mechanics. Returns
    partitions touched."""
    fields = [f for f in spark.table(table).schema.fields if f.name != "epoch"]
    per_epoch = (
        flagged.groupBy("epoch")
        .agg(
            F.count(F.lit(1)).alias("n_all"),
            F.count(F.when(F.col("_dead"), 1)).alias("n_dead"),
        )
        .filter(F.col("n_dead") > 0)
        .collect()  # one row per live partition — metadata-scale
    )
    full_dead = [r.epoch for r in per_epoch if r.n_dead == r.n_all and r.epoch >= 0]
    dead_bases = [r.epoch for r in per_epoch if r.n_dead == r.n_all and r.epoch < 0]
    rewrite = [r.epoch for r in per_epoch if r.n_dead < r.n_all]
    for e in full_dead:
        spark.sql(f"ALTER TABLE {table} DROP IF EXISTS PARTITION (epoch={e})")
    if dead_bases:
        empty = ", ".join(
            f"CAST(NULL AS {f.dataType.simpleString()}) AS {f.name}" for f in fields
        )
        for e in dead_bases:
            spark.sql(
                f"INSERT OVERWRITE TABLE {table} PARTITION (epoch={e})"
                f" SELECT {empty} WHERE false"
            )
    if rewrite:
        keep = (
            flagged.filter(F.col("epoch").isin(rewrite) & ~F.col("_dead"))
            .select(*[f.name for f in fields], "epoch")
            .localCheckpoint(eager=True)  # barrier: overwrite reads its own input
        )
        keep.write.mode("overwrite").insertInto(table, overwrite=True)
    spark.catalog.refreshTable(table)
    return len(full_dead) + len(dead_bases) + len(rewrite)


def drain(spark: SparkSession, q, *tables: str) -> None:
    """Run a staged replay to completion: process every available input,
    stop the query, wait for it, then refresh `tables` so this session
    sees the files the stream's cloned session wrote."""
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    for t in tables:
        spark.catalog.refreshTable(t)
