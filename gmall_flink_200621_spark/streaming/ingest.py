"""Incremental corpus ingest: the streaming form of the training-data prep
pipeline (plans/training.corpus_prep's dedup ∘ quality ∘ lang gates).

A production corpus is not built in one batch — documents arrive
continuously and each increment must be deduplicated against EVERYTHING
already accepted, then quality-gated, then appended. This module runs that
loop on Structured Streaming:

  docs stream → foreachBatch:
      fingerprint (md5)                       — operators/dedup machinery
    → in-batch exact dedup (min doc_id / fp)
    → cross-batch dedup: left_anti against the accumulated fingerprint
      table (every fp ever seen, accepted or rejected — a re-sent
      duplicate of a rejected doc must not be re-evaluated)
    → quality + language gates (same thresholds as corpus_prep)
    → overwrite this epoch's partition of `<name>_kept` (accepted rows)
      and `<name>_fps` (new fps) — crash-replay idempotent

Both tables are epoch-partitioned warehouse tables that declare dynamic
partition overwrite themselves (`epochs.create_state_table`; no session
conf is touched), and every maintainer in this module keeps its state
the same way through `epochs`. The anti-join probe is a shuffle join
on the 16-byte fp. At 100 TB the fp table is the corpus' fingerprint
index — bucketed by fp it joins co-located, and a bloom/cuckoo filter
in front absorbs the common no-hit case; the foreachBatch body is
identical.

Exactness: replaying the corpus ordered by doc_id reproduces the batch
pipeline exactly — the min-doc_id copy of every duplicate group arrives
first (in-batch min handles same-chunk ties), and exact duplicates share
byte-identical text, hence identical quality/lang verdicts. The test
asserts set equality of kept doc_ids against batch corpus_prep.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.similarity import KNN_GRAPH_BUCKET_CAP as _KNN_GRAPH_CAP_DEFAULT
from .epochs import (
    TIER_OFF,
    _base_tiers,
    _drop_table,
    _partition_epochs,
    create_state_table,
    gc_partitions,
    identity,
    live,
    maybe_fold,
    write_epoch,
)

QUALITY_MIN = 0.5  # same gates as plans/training.corpus_prep
LANG_KEEP = "en"
CDC_BUCKETS = 64  # hash buckets partitioning the maintained state tables


def _start(feed: DataFrame, epoch_fn, query_name: str, checkpoint_dir: str | None):
    """Start `feed` into the foreachBatch maintainer `epoch_fn`; returns
    the StreamingQuery."""
    w = feed.writeStream.foreachBatch(epoch_fn).queryName(query_name)
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w.start()


def stage_document_chunks(sf_dir: str, n_chunks: int = 5) -> str:
    """Split documents.parquet into n_chunks files ordered by doc_id — the
    chunked-arrival replay source (one file per micro-batch)."""
    import pyarrow.parquet as pq

    stage = tempfile.mkdtemp(prefix="spark_graft_ingest_")
    pdf = pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pandas()
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    n = len(pdf)
    base = None
    for i in range(n_chunks):
        lo, hi = i * n // n_chunks, (i + 1) * n // n_chunks
        path = os.path.join(stage, f"part-{i}.parquet")
        pdf.iloc[lo:hi].to_parquet(path, index=False)
        # FileStreamSource orders files by modification time; chunks written
        # within the same mtime granularity would tie and could be picked up
        # out of doc_id order, breaking the kept==batch replay equivalence.
        # Pin strictly increasing mtimes so arrival order IS doc_id order.
        if base is None:
            base = os.stat(path).st_mtime
        os.utime(path, (base + i, base + i))
    return stage


def run_corpus_ingest_stream(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 5,
    name: str = "corpus_ingest",
    stage_dir: str | None = None,
    checkpoint_dir: str | None = None,
    reset_tables: bool = True,
    fold_every: int | None = None,
    refold_width: int | None = None,
):
    """Start the ingest stream; returns the StreamingQuery. Results land in
    tables `<name>_kept` (accepted docs + stats) and `<name>_fps` (every
    fingerprint ever seen).

    Restartability: pass the same (stage_dir, checkpoint_dir) with
    reset_tables=False and a new invocation resumes from the checkpointed
    source offset — already-ingested chunks are not re-read, and the kept/
    fps tables continue accumulating. Crash semantics: both sinks are
    epoch-partitioned tables that declare dynamic overwrite, so each
    write replaces only its own epoch's partition, and the fps probe
    excludes the replayed epoch's own partition (`_ingest_epoch`), so
    the last-epoch replay a checkpointed source performs rewrites
    byte-identical rows — effectively-once, no doubling and no silent
    loss (test-pinned).

    Reader caveat: the stream appends through the micro-batch's CLONED
    session, which does not invalidate other sessions' cached file
    listings for these parquet catalog tables — a session that read
    `<name>_kept` before a restart must `spark.catalog.refreshTable` it
    (or reopen) to see post-restart appends. (A transactional table
    format lifts this; the ingest logic is unchanged.)

    `fold_every=N` (opt-in) bounds both tables' partition counts via the
    tiered watermark fold; with folds on, read the tables through
    `live` (as the fps probe does) — a raw `spark.table` read can
    transiently see an absorbed epoch alongside its base in the
    crash-before-GC window."""
    kept_t, fps_t = f"{name}_kept", f"{name}_fps"
    if reset_tables:
        create_state_table(
            spark, kept_t, "doc_id BIGINT, n_tokens INT, n_bpe_est BIGINT, quality_score DOUBLE"
        )
        create_state_table(spark, fps_t, "fp STRING")

    stage = stage_dir or stage_document_chunks(sf_dir, n_chunks)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    docs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)

    def ingest_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # fold BEFORE the probe (window ≤ epoch−1): the fps probe's
        # `epoch != epoch_id` composes with `live` — the base rows
        # are negative epochs (kept), stale positives ≤ watermark drop
        for t in (kept_t, fps_t):
            maybe_fold(batch_df.sparkSession, t, epoch_id, fold_every, refold_width=refold_width)
        _ingest_epoch(batch_df, epoch_id, kept_t, fps_t)

    return _start(docs, ingest_batch, name + "_q", checkpoint_dir)


def _ingest_epoch(batch_df: DataFrame, epoch_id: int, kept_t: str, fps_t: str) -> None:
    """One micro-batch of the exact-dedup ingest, idempotent under the
    last-epoch crash replay: both sinks are epoch-partitioned and
    dynamic-OVERWRITTEN, and the cross-batch fingerprint probe EXCLUDES
    the replayed epoch's own partition (`epoch != epoch_id`) — so a
    replay anti-joins exactly the pre-batch state and rewrites identical
    rows, instead of seeing its own crashed attempt and emitting an
    empty batch (silent data loss, the failure mode the plain-append
    version documented as 'kept rows could double')."""
    from ..operators.dedup import doc_fingerprints
    from ..operators.textops import doc_stats, lang_id, token_counts

    s = batch_df.sparkSession
    batch_df = batch_df.persist()
    fresh = None
    try:
        # in-batch exact dedup: canonical (min) doc_id per fingerprint
        fps = doc_fingerprints(batch_df)
        canon = fps.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
        # cross-batch dedup vs PRIOR epochs only (replay-safe): `live`
        # keeps fold bases + the positive tail; `!= epoch_id` then excludes
        # this epoch's own crashed-attempt rows (folds never cover it)
        seen = live(s, fps_t).filter(F.col("epoch") != epoch_id).select("fp")
        fresh = canon.join(seen, "fp", "left_anti").persist()
        survivors = batch_df.join(fresh.select("doc_id"), "doc_id")
        gated = (
            doc_stats(survivors)
            .select("doc_id", "n_tokens", "quality_score")
            .join(lang_id(survivors), "doc_id")
            .join(token_counts(survivors).select("doc_id", "n_bpe_est"), "doc_id")
            .filter((F.col("quality_score") >= QUALITY_MIN) & (F.col("lang_pred") == LANG_KEEP))
            .select("doc_id", "n_tokens", "n_bpe_est", "quality_score")
        )
        write_epoch(gated, kept_t, epoch_id)
        write_epoch(fresh.select("fp"), fps_t, epoch_id)
    finally:
        if fresh is not None:
            fresh.unpersist()
        batch_df.unpersist()


def _neardup_epoch(
    batch_df: DataFrame, epoch_id: int, bands_t: str, shs_t: str, pairs_t: str
) -> None:
    """One micro-batch of the incremental near-dup detector, written
    idempotently for the LAST-epoch crash-replay case (the one a
    checkpointed stream actually replays): all three sinks dynamic-
    OVERWRITE their epoch partition, and the computation tolerates the
    crashed attempt's own state rows being present — the state-probe then
    re-finds the batch's pairs through the state copy, which collapses to
    the identical set under the final distinct. Replays of OLDER epochs
    (which a checkpointed source never performs) are NOT idempotent by
    design: state has advanced, and the detector would legitimately find
    more pairs. Exported as the unit the replay test drives directly."""
    from ..functions.text import h60
    from ..operators.dedup import (
        JACCARD_THRESHOLD,
        _doc_shingles,
        minhash_signatures,
        stacked_band_frame,
    )

    s = batch_df.sparkSession
    held: list[DataFrame] = []  # persisted frames, released however the epoch ends

    def hold(df: DataFrame) -> DataFrame:
        held.append(df.persist())
        return held[-1]

    try:
        sh = hold(_doc_shingles(batch_df, df_cap=None))
        new_bands = hold(stacked_band_frame(minhash_signatures(batch_df, shingle_frame=sh)))
        new_shs = hold(
            sh.select("doc_id", h60(F.col("shingle")).alias("h"))
            .groupBy("doc_id")
            .agg(F.array_sort(F.collect_set("h")).alias("shs"))
            .select("doc_id", "shs", F.size("shs").cast("int").alias("n_sh"))
        )
        # fold-aware read (identical to a plain read when the owning
        # stream never folds — no base partitions exist)
        old_bands = live(s, bands_t).select("doc_id", "bi", "bv")
        # candidates: within-batch self-join ∪ new-vs-state probe
        x = new_bands.select(F.col("doc_id").alias("id_x"), "bi", "bv")
        within = x.join(new_bands.select(F.col("doc_id").alias("id_y"), "bi", "bv"), ["bi", "bv"])
        cross = x.join(old_bands.select(F.col("doc_id").alias("id_y"), "bi", "bv"), ["bi", "bv"])
        cands = (
            within.unionByName(cross)
            .select(F.least("id_x", "id_y").alias("id_a"), F.greatest("id_x", "id_y").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
            .distinct()
        )
        allsets = live(s, shs_t).select("doc_id", "shs", "n_sh").unionByName(new_shs)
        sa = allsets.select(F.col("doc_id").alias("id_a"), F.col("shs").alias("sa"), F.col("n_sh").alias("n_a"))
        sb = allsets.select(F.col("doc_id").alias("id_b"), F.col("shs").alias("sb"), F.col("n_sh").alias("n_b"))
        verified = (
            cands.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn("n_common", F.size(F.array_intersect("sa", "sb")))
            .withColumn("jaccard", F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
            .select("id_a", "id_b", "jaccard")
            # a replayed epoch sees its docs TWICE (state copy + batch): the
            # duplicate join legs produce identical rows — collapse them
            .distinct()
        )
        write_epoch(verified, pairs_t, epoch_id)
        write_epoch(new_bands, bands_t, epoch_id)
        write_epoch(new_shs, shs_t, epoch_id)
    finally:
        for fr in held:
            fr.unpersist()


def run_neardup_ingest_stream(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    name: str = "neardup_ingest",
    stage_dir: str | None = None,
    checkpoint_dir: str | None = None,
    reset_tables: bool = True,
    fold_every: int | None = None,
    refold_width: int | None = None,
):
    """Incremental NEAR-duplicate detection: the streaming form of
    `dedup_minhash_lsh`, where each arriving increment is checked against
    EVERYTHING already ingested — the curation loop a growing corpus
    actually runs (the exact-dup analog is `run_corpus_ingest_stream`;
    this catches the ~paraphrase/boilerplate class exact hashing misses).

    State tables (day-one warehouse tables; at 100 TB bucket `_bands` by
    (bi, bv) and `_shsets` by doc_id for co-located joins):
    - `<name>_bands`  (doc_id, bi, bv): stacked LSH band values — the
      incremental inverted index new batches probe;
    - `<name>_shsets` (doc_id, shs array<long>, n_sh): each doc's
      distinct shingle-hash set, stored so cross-batch candidate pairs
      verify EXACT Jaccard from state without re-reading old text;
    - `<name>_pairs`  (id_a, id_b, jaccard): verified output, appended.

    Per micro-batch: band/shingle frames for the new docs (the SAME
    helpers the batch operator uses — `stacked_band_frame`,
    `minhash_signatures` — so bucketing is bit-identical), candidates =
    new×new ∪ new×stored on (bi, bv), exact-verify via stored shingle
    sets (size(array_intersect)), append pairs + new state rows.

    Semantics note: runs UNCAPPED shingles (df_cap=None). The batch op's
    hot-shingle cap is a corpus-GLOBAL statistic a per-increment pass
    cannot know; on cap-free corpora (testdata max df ≈ 9 ≪ 50) the
    replayed stream's pair set equals the batch op EXACTLY (pinned by
    test); on cap-triggering corpora the incremental path keeps more
    boilerplate shingles — monitor the band-bucket histogram and refresh
    state with a batch recompute when it skews."""
    bands_t, shs_t, pairs_t = f"{name}_bands", f"{name}_shsets", f"{name}_pairs"
    if reset_tables:
        # epoch-partitioned so a crash-replayed micro-batch dynamic-
        # OVERWRITES its own partition with byte-identical rows instead
        # of appending duplicates (same protocol as the quality gate);
        # safe to write directly — each sink's rows derive from the batch
        # and/or the OTHER tables, never its own
        create_state_table(spark, bands_t, "doc_id BIGINT, bi INT, bv STRING")
        create_state_table(spark, shs_t, "doc_id BIGINT, shs ARRAY<BIGINT>, n_sh INT")
        create_state_table(spark, pairs_t, "id_a BIGINT, id_b BIGINT, jaccard DOUBLE")

    stage = stage_dir or stage_document_chunks(sf_dir, n_chunks)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    docs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)

    def neardup_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # fold BEFORE the probes (window ≤ epoch−1): tiered identity
        # coalesce bounds the state tables' partition counts — the
        # `fold_every` contract shared by every MV stream here
        for t in (bands_t, shs_t, pairs_t):
            maybe_fold(batch_df.sparkSession, t, epoch_id, fold_every, refold_width=refold_width)
        _neardup_epoch(batch_df, epoch_id, bands_t, shs_t, pairs_t)

    return _start(docs, neardup_batch, f"{name}_q", checkpoint_dir)


def run_neardup_cdc_stream(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 3,
    name: str = "ndcdc",
    stage_dir: str | None = None,
    checkpoint_dir: str | None = None,
    reset_tables: bool = True,
    fold_every: int | None = None,
    refold_width: int | None = None,
    delete_mod: int = 6,
):
    """The incremental near-dup detector as a CDC CONSUMER — the curation
    corpus is not append-only (takedowns, re-crawls, license pulls), and
    a dedup index that can't forget keeps suppressing against ghosts.
    Same maintenance as `run_neardup_ingest_stream` plus `side='D_DEL'`
    key-only tombstones in `<name>_del`:

    - ΔD (the batch's inserts) is CLEANSED against live tombstones
      (historical ∪ this batch's) before entering state or probing — a
      delete wins at ANY arrival order, including delete-before-insert:
      the late insert never enters the band index, so its pairs never
      materialize.
    - State-side probes are deliberately NOT cleansed: a pair found
      while both docs were alive is retracted by the READ
      (`neardup_pairs_view` anti-joins live tombstones on both sides),
      which covers post-insert deletes without rewriting history;
      `purge_neardup_dead` later retires the bytes.
    - Redelivered deletes are idempotent (anti-joins; the tombstone
      write is a dynamic epoch overwrite).

    Served contract: `neardup_pairs_view` == batch `dedup_minhash_lsh`
    over SURVIVING documents (oracle-gated; the insert path's
    uncapped-shingle caveat carries over — deletes only LOWER shingle
    df, so a cap-free corpus stays cap-free)."""
    bands_t, shs_t = f"{name}_bands", f"{name}_shsets"
    pairs_t, del_t = f"{name}_pairs", f"{name}_del"
    if reset_tables:
        create_state_table(spark, bands_t, "doc_id BIGINT, bi INT, bv STRING")
        create_state_table(spark, shs_t, "doc_id BIGINT, shs ARRAY<BIGINT>, n_sh INT")
        create_state_table(spark, pairs_t, "id_a BIGINT, id_b BIGINT, jaccard DOUBLE")
        create_state_table(spark, del_t, "doc_id BIGINT")

    stage = stage_dir or stage_document_cdc_chunks(sf_dir, n_chunks, delete_mod)
    schema = (
        "side string, doc_id long, text string, lang string,"
        " source string, n_chars long"
    )
    feed = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)

    def ndcdc_batch(df: DataFrame, epoch_id: int) -> None:
        s = df.sparkSession
        for t in (bands_t, shs_t, pairs_t, del_t):
            maybe_fold(s, t, epoch_id, fold_every, refold_width=refold_width)
        d_del = df.filter(F.col("side") == "D_DEL").select("doc_id")
        hist = (
            live(s, del_t)
            .filter(F.col("epoch") != epoch_id)
            .drop("epoch")
        )
        dead = hist.unionByName(d_del)
        ins = (
            df.filter(F.col("side") == "D")
            .drop("side")
            .join(dead, "doc_id", "left_anti")
        )
        _neardup_epoch(ins, epoch_id, bands_t, shs_t, pairs_t)
        _ivm_write_epoch(s, d_del, del_t, epoch_id)

    return _start(feed, ndcdc_batch, f"{name}_q", checkpoint_dir)


def neardup_pairs_view(spark: SparkSession, name: str = "ndcdc") -> DataFrame:
    """Serve the maintained near-dup pairs over SURVIVORS: live pairs
    with both sides alive (tombstones anti-joined on id_a AND id_b) —
    equals batch `dedup_minhash_lsh` over never-deleted documents. Read
    cost O(pairs), never a corpus or shingle rescan."""
    pairs = live(spark, f"{name}_pairs").drop(
        "epoch"
    )
    if spark.catalog.tableExists(f"{name}_del"):
        dead = (
            live(spark, f"{name}_del")
            .drop("epoch")
            .distinct()
        )
        pairs = pairs.join(
            dead.withColumnRenamed("doc_id", "id_a"), "id_a", "left_anti"
        ).join(dead.withColumnRenamed("doc_id", "id_b"), "id_b", "left_anti")
    return pairs.select("id_a", "id_b", "jaccard")


def purge_neardup_dead(spark: SparkSession, name: str = "ndcdc") -> int:
    """Physically retire dead docs from the near-dup index — bands and
    shingle sets of tombstoned docs, and pairs with a dead side — via
    the house partition mechanics (`gc_partitions`). REPLAY GUARD (the
    purge_quantile_rows discipline): only docs whose tombstone sits
    OUTSIDE the newest live positive epoch are purgeable — the newest
    epoch's checkpoint replay re-probes band/shingle state, and purging
    on the strength of a newest-epoch-only tombstone would make the
    replayed pairs partition differ from the original bytes. Tombstones
    themselves are KEPT (a late re-insert of a deleted doc must still be
    cleansed). Idempotent; returns partitions touched."""
    del_t = f"{name}_del"
    if not spark.catalog.tableExists(del_t):
        return 0
    pos = [e for e in _partition_epochs(spark, del_t) if e >= 0]
    d_live = live(spark, del_t)
    if pos:
        d_live = d_live.filter(F.col("epoch") != max(pos))
    dead = d_live.select("doc_id").distinct().withColumn("_dd", F.lit(True))
    touched = 0
    for t in (f"{name}_bands", f"{name}_shsets"):
        flagged = (
            live(spark, t)
            .join(F.broadcast(dead), "doc_id", "left")
            .withColumn("_dead", F.coalesce(F.col("_dd"), F.lit(False)))
            .drop("_dd")
        )
        touched += gc_partitions(spark, t, flagged)
    pairs_t = f"{name}_pairs"
    da = dead.select(F.col("doc_id").alias("id_a"), F.col("_dd").alias("_da"))
    db = dead.select(F.col("doc_id").alias("id_b"), F.col("_dd").alias("_db"))
    flagged_p = (
        live(spark, pairs_t)
        .join(F.broadcast(da), "id_a", "left")
        .join(F.broadcast(db), "id_b", "left")
        .withColumn(
            "_dead",
            F.coalesce(F.col("_da"), F.lit(False))
            | F.coalesce(F.col("_db"), F.lit(False)),
        )
        .drop("_da", "_db")
    )
    touched += gc_partitions(spark, pairs_t, flagged_p)
    return touched


def stage_embedding_chunks(sf_dir: str, n_chunks: int = 4) -> str:
    """embeddings.parquet split into n_chunks files ordered by vec_id —
    the chunked-arrival source for the vector streams (same mtime-pinning
    as stage_document_chunks)."""
    import pyarrow.parquet as pq

    stage = tempfile.mkdtemp(prefix="spark_graft_vecingest_")
    pdf = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pandas()
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    n = len(pdf)
    base = None
    for i in range(n_chunks):
        lo, hi = i * n // n_chunks, (i + 1) * n // n_chunks
        path = os.path.join(stage, f"part-{i}.parquet")
        pdf.iloc[lo:hi].to_parquet(path, index=False)
        if base is None:
            base = os.stat(path).st_mtime
        os.utime(path, (base + i, base + i))
    return stage


def stage_event_chunks(sf_dir: str, n_chunks: int = 3) -> str:
    """events.parquet split into n_chunks files in (ts, event_id) order —
    the in-order chunked-arrival source for the CDC/SCD2 maintenance
    streams (same mtime-pinning as stage_document_chunks, so arrival
    order IS event-time order)."""
    import pyarrow.parquet as pq

    stage = tempfile.mkdtemp(prefix="spark_graft_eventingest_")
    pdf = pq.read_table(os.path.join(sf_dir, "events.parquet")).to_pandas()
    pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
    n = len(pdf)
    base = None
    for i in range(n_chunks):
        lo, hi = i * n // n_chunks, (i + 1) * n // n_chunks
        path = os.path.join(stage, f"part-{i}.parquet")
        pdf.iloc[lo:hi].to_parquet(path, index=False)
        if base is None:
            base = os.stat(path).st_mtime
        os.utime(path, (base + i, base + i))
    return stage


def run_kmeans_stream(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    name: str = "km_stream",
    cent_mod: int | None = None,
    stage_dir: str | None = None,
):
    """Mini-batch k-means (Sculley 2010) over a vector stream: centroids
    live in a warehouse table and every micro-batch moves them by the
    count-weighted running mean —

        c' = round((c·n_old + Σ q_batch) / (n_old + n_batch))

    — entirely in Q_SCALE int64 fixed point (sums < 2^53 for the
    documented cluster-size bound), so the trajectory is DETERMINISTIC:
    same chunks in the same order ⇒ bit-identical centroid table, which
    the rerun-equality test pins. Seeds are the first batch's
    vec_id % cent_mod == 1 vectors with n=0, so the first update is the
    plain batch mean; clusters unseen in a batch keep their centroid.

    Scale shape per batch: batch vectors never shuffle (assignment is
    the broadcast-centroid argmax agg of the batch operator —
    `_assign_to_cents` is shared code); the update shuffles only
    (cluster, pos, partial-sum) triples; the centroid table is
    ~N/cent_mod rows, rewritten per batch. Unlike Lloyd's, mini-batch
    converges to a slightly different optimum — the test gates QUALITY
    (mean assignment cosine ≥ batch k-means') rather than equality."""
    from ..operators.similarity import KM_CENT_MOD, _assign_to_cents, _idot, quantize

    cent_mod = cent_mod or KM_CENT_MOD
    cents_t = f"{name}_centroids"
    _drop_table(spark, cents_t)
    spark.sql(
        f"CREATE TABLE {cents_t} (cent_id BIGINT, cq ARRAY<BIGINT>, cn2 BIGINT, n_total BIGINT) USING parquet"
    )

    stage = stage_dir or stage_embedding_chunks(sf_dir, n_chunks)
    vecs = (
        spark.readStream.schema("vec_id long, embedding array<float>, label int")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )

    def km_batch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        e = batch_df.select("vec_id", quantize(F.col("embedding")).alias("q"))
        e = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).persist()
        # every batch PROMOTES its not-yet-seen seed-eligible vectors to
        # fresh centroids (n=0) before assignment — the stream discovers
        # clusters as their regions arrive, ending with the same ~N/mod
        # centroid population the batch seeding produces (first-batch-only
        # seeding measured 37% worse mean cosine: too few clusters)
        existing = s.read.table(cents_t)
        new_seeds = (
            e.filter(F.col("vec_id") % cent_mod == 1)
            .join(
                existing.select(F.col("cent_id").alias("vec_id")), "vec_id", "left_anti"
            )
            .select(
                F.col("vec_id").alias("cent_id"),
                F.col("q").alias("cq"),
                F.col("n2").alias("cn2"),
                F.lit(0).cast("long").alias("n_total"),
            )
        )
        cents = existing.unionByName(new_seeds).persist()
        assign = _assign_to_cents(e, cents.select("cent_id", "cq", "cn2"))
        upd = (
            assign.select("cluster", F.posexplode("q").alias("pos", "qx"))
            .groupBy("cluster", "pos")
            .agg(F.sum("qx").alias("bs"), F.count(F.lit(1)).alias("bn"))
        )
        old = cents.select(
            F.col("cent_id").alias("cluster"), F.posexplode("cq").alias("pos", "oq"), "n_total"
        )
        merged = (
            old.join(upd, ["cluster", "pos"], "left")
            .withColumn(
                "nq",
                F.when(
                    F.col("bn").isNotNull(),
                    F.round(
                        (F.col("oq") * F.col("n_total") + F.col("bs"))
                        / (F.col("n_total") + F.col("bn"))
                    ).cast("long"),
                ).otherwise(F.col("oq")),
            )
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "nq"))), lambda st: st.nq
                ).alias("cq"),
                (F.first("n_total") + F.coalesce(F.first("bn"), F.lit(0))).alias("n_total"),
            )
            .select(
                F.col("cluster").alias("cent_id"),
                "cq",
                _idot(F.col("cq"), F.col("cq")).alias("cn2"),
                "n_total",
            )
        )
        out = merged.collect()  # centroid table: ~N/cent_mod tiny rows
        cents.unpersist()
        e.unpersist()
        s.createDataFrame(out, s.table(cents_t).schema).coalesce(1).write.mode(
            "overwrite"
        ).saveAsTable(cents_t)
        spark.catalog.refreshTable(cents_t)

    return vecs.writeStream.foreachBatch(km_batch).queryName(f"{name}_q").start()


def stage_knn_edge_chunks(spark: SparkSession, sf_dir: str, n_chunks: int = 3) -> str:
    """The corpus k-NN edge list (knn_graph, computed once in batch —
    deterministic) split into n_chunks files ordered by (src_id, nbr_id):
    the chunked-arrival source for the incremental PageRank stream."""
    from ..operators.similarity import knn_graph
    from ..sources.loaders import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    pdf = (
        knn_graph(emb)
        .select("src_id", "nbr_id")
        .toPandas()
        .sort_values(["src_id", "nbr_id"])
        .reset_index(drop=True)
    )
    stage = tempfile.mkdtemp(prefix="spark_graft_edgeingest_")
    n = len(pdf)
    base = None
    for i in range(n_chunks):
        lo, hi = i * n // n_chunks, (i + 1) * n // n_chunks
        path = os.path.join(stage, f"part-{i}.parquet")
        pdf.iloc[lo:hi].to_parquet(path, index=False)
        if base is None:
            base = os.stat(path).st_mtime
        os.utime(path, (base + i, base + i))
    return stage


def _overwrite_changed_buckets(new_rows: DataFrame, table: str) -> None:
    """Write `new_rows` (which must carry a kb hash-bucket column and be
    the COMPLETE desired content of `table`) by dynamic-overwriting ONLY
    the buckets whose content changed — the MV-refresh write discipline
    shared by the pagerank and dedup-cluster maintenance streams:

    - changed = new_rows LEFT ANTI old_table on ALL columns — a row is
      "changed" if it is new or any field differs (rows are never
      removed from these tables: vertex/doc universes only grow);
    - touched buckets = the distinct kb of changed rows (at most the
      bucket count in scalars to the driver — the driver-sees-a-scalar
      discipline);
    - dynamic partition overwrite of new_rows restricted to touched kb.

    Per-epoch write IO is O(changed buckets' rows), not O(table) — the
    compute is still the caller's full refresh, but the warehouse churn
    (and downstream cache/file invalidation) tracks the delta. Crash
    replay CONVERGES: a replayed refresh diffs against state that
    already absorbed it (changed = ∅ ⇒ no write), and a refresh that
    crashed mid-write re-finds exactly the not-yet-written buckets."""
    s = new_rows.sparkSession
    new_rows = new_rows.persist()
    try:
        changed = new_rows.join(s.table(table), on=new_rows.columns, how="left_anti")
        touched = [r.kb for r in changed.select("kb").distinct().collect()]
        if touched:
            new_rows.filter(F.col("kb").isin(touched)).write.mode(
                "overwrite"
            ).insertInto(table, overwrite=True)
            s.catalog.refreshTable(table)
    finally:
        new_rows.unpersist()


def run_pagerank_stream(
    spark: SparkSession,
    stage_dir: str,
    name: str = "pr_stream",
    iters: int | None = None,
    checkpoint_dir: str | None = None,
    fresh_tables: bool = True,
    refresh_every: int = 1,
    final_epoch: int | None = None,
    n_buckets: int = CDC_BUCKETS,
    fold_every: int | None = None,
    refold_width: int | None = None,
):
    """Incremental PageRank over an edge-ingest stream — the MV
    discipline applied to the graph family (its only batch-only member
    until now): edges arrive in micro-batches, accumulate in an
    epoch-partitioned warehouse table, and the ranks table refreshes by
    re-running the fixed-point batch `pagerank` on the accumulated
    edges. The refreshed table after the last chunk is BIT-IDENTICAL to
    batch `pagerank_knn` (integer fixed-point ranks — no float drift
    between refresh cadences), pinned in pytest.

    Refresh cadence (`refresh_every`): the fixed-point run is the honest
    O(graph) cost of exactness (rank mass is global — a delta-bounded
    incremental PageRank needs approximation budgets this engine's
    exactness contract excludes), so it runs only on every
    `refresh_every`-th epoch (and on `final_epoch`, when the caller
    knows it — a staged replay of n chunks ends at epoch n-1);
    intermediate epochs ONLY append their edge partition. At 100 TB this
    is the knob that amortizes the refresh over ingest volume.

    Ranks write (`n_buckets`): `<name>_ranks` is hash-bucketed on
    pmod(vertex_id, n_buckets) and each refresh dynamic-overwrites ONLY
    the buckets holding a vertex whose (out_deg, rank) row changed —
    per-refresh write IO is O(changed), not O(|V|): integer fixed-point
    ranks make "unchanged" exact (no float jitter forcing full
    rewrites), so edges that touch one component leave other
    components' buckets physically untouched (mtime-pinned in pytest).

    Exactly-once/crash-replay: the edge sink is epoch-partitioned and
    dynamic-OVERWRITTEN (a replayed batch rewrites its own partition
    byte-identically — the `_ingest_epoch` discipline), and the ranks
    refresh is a deterministic pure function of the accumulated edges
    diffed against state — a replayed refresh finds nothing changed and
    writes nothing. With a checkpoint, kill-and-restart resumes from the
    committed offset (pinned).

    Vertices derive from the accumulated edges (src ∪ nbr) — on k-NN
    graphs every vector is a src, so this equals the embedding universe.
    """
    from ..operators.graph import PR_ITERS

    iters = iters or PR_ITERS
    edges_t, ranks_t = f"{name}_edges", f"{name}_ranks"
    if fresh_tables:
        create_state_table(spark, edges_t, "src_id BIGINT, nbr_id BIGINT")
        create_state_table(
            spark,
            ranks_t,
            "vertex_id BIGINT, out_deg BIGINT, rank_units BIGINT, rank DOUBLE, kb INT",
            "kb",
        )

    edges = (
        spark.readStream.schema("src_id long, nbr_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )

    def pr_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        write_epoch(batch_df.select("src_id", "nbr_id"), edges_t, epoch_id)
        # fold BEFORE the refresh so the refresh reads the bounded log
        # (identity merge — edges are immutable rows)
        maybe_fold(s, edges_t, epoch_id, fold_every, refold_width=refold_width)
        due = (epoch_id + 1) % refresh_every == 0 or (
            final_epoch is not None and epoch_id >= final_epoch
        )
        if not due:
            return
        refresh_pagerank_ranks(s, name, iters=iters, n_buckets=n_buckets)

    return _start(edges, pr_epoch, f"{name}_q", checkpoint_dir)


def refresh_pagerank_ranks(
    spark: SparkSession,
    name: str = "pr_stream",
    iters: int | None = None,
    n_buckets: int = CDC_BUCKETS,
) -> None:
    """Refresh `<name>_ranks` from the accumulated `<name>_edges` — the
    standalone form of the stream's refresh, for callers running a
    coarse `refresh_every` cadence who need ranks current NOW (e.g.
    after the stream drains, when no `final_epoch` was known up front).
    Edges read through `live`, so a folded edge log (and a crash
    mid-fold) refreshes identically."""
    from ..operators.graph import PR_ITERS, pagerank

    acc = live(spark, f"{name}_edges").select("src_id", "nbr_id")
    verts = acc.select(F.col("src_id").alias("vertex_id")).unionByName(
        acc.select(F.col("nbr_id").alias("vertex_id"))
    )
    ranks = pagerank(acc, verts, iters=iters or PR_ITERS).withColumn(
        "kb", F.pmod(F.col("vertex_id"), F.lit(n_buckets)).cast("int")
    )
    _overwrite_changed_buckets(ranks, f"{name}_ranks")


def run_dedup_clusters_stream(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    name: str = "cluster_ingest",
    stage_dir: str | None = None,
    checkpoint_dir: str | None = None,
    reset_tables: bool = True,
    n_buckets: int = CDC_BUCKETS,
    fold_every: int | None = None,
    refold_width: int | None = None,
):
    """Incremental duplicate CLUSTERING: the near-dup ingest
    (`_neardup_epoch` — same state tables, same protocol) plus a
    per-epoch connected-components refresh of a `<name>_clusters` table:
    every ingested doc's canonical_id, maintained as data arrives — the
    MV discipline applied to `dedup_clusters`, exactly as
    `run_pagerank_stream` applies it to pagerank. A corpus build that
    dedups incrementally needs the CLUSTER view incrementally too (the
    canonical assignment changes when a new doc bridges two existing
    clusters — only a refresh over the accumulated pair graph gets that
    transitive merge right).

    Tables: the three near-dup state tables, plus `<name>_docs`
    (doc_id, epoch — the full ingested universe, so shingle-less docs
    still appear as singletons) and `<name>_clusters`
    (doc_id, canonical_id, kb — hash-bucketed on pmod(doc_id, n_buckets);
    each refresh dynamic-overwrites ONLY buckets holding a doc whose
    canonical changed or that is new this epoch, so per-epoch write IO
    is O(changed buckets' rows), not O(corpus) — a batch whose docs and
    transitive merges confine to few buckets leaves the others
    physically untouched, mtime-pinned in pytest. Crash replays diff
    against already-absorbed state and write nothing).

    Refresh cost is the CC loop over the accumulated DUP-GRAPH vertices
    (dedup_clusters' data-minimal iteration space — percent-scale of the
    corpus), not the corpus; the full doc table joins back once. Final
    table after the last chunk == batch `dedup_clusters` (pinned; holds
    under the same df_cap-free condition the near-dup twin documents).

    `fold_every=N`: every Nth epoch, each of the four epoch-partitioned
    state tables coalesces its window into a tiered watermark base
    (identity merge — see `epochs.fold`); every reader
    (the band/shingle probes in `_neardup_epoch`, the pairs/docs reads
    here) routes through `live`, so detection and clustering are
    bit-identical with folds on."""
    from ..operators.dedup import dedup_clusters

    bands_t, shs_t, pairs_t = f"{name}_bands", f"{name}_shsets", f"{name}_pairs"
    docs_t, clusters_t = f"{name}_docs", f"{name}_clusters"
    if reset_tables:
        create_state_table(spark, bands_t, "doc_id BIGINT, bi INT, bv STRING")
        create_state_table(spark, shs_t, "doc_id BIGINT, shs ARRAY<BIGINT>, n_sh INT")
        create_state_table(spark, pairs_t, "id_a BIGINT, id_b BIGINT, jaccard DOUBLE")
        create_state_table(spark, docs_t, "doc_id BIGINT")
        create_state_table(spark, clusters_t, "doc_id BIGINT, canonical_id BIGINT, kb INT", "kb")

    stage = stage_dir or stage_document_chunks(sf_dir, n_chunks)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    docs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)

    def cluster_batch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        # fold BEFORE this epoch's probes/refresh (window ≤ epoch−1, so
        # the in-flight batch is unaffected): the epoch's own reads then
        # go through the bounded base — both cheaper (the CC refresh
        # scans O(fold_every) partitions + bases, not O(epoch)) and what
        # puts the fold-read path under the registry gate
        for t in (bands_t, shs_t, pairs_t, docs_t):
            maybe_fold(s, t, epoch_id, fold_every, refold_width=refold_width)
        _neardup_epoch(batch_df, epoch_id, bands_t, shs_t, pairs_t)
        write_epoch(batch_df.select("doc_id"), docs_t, epoch_id)
        clusters = dedup_clusters(
            live(s, docs_t).select("doc_id"),
            pairs=live(s, pairs_t).select("id_a", "id_b"),
        ).withColumn("kb", F.pmod(F.col("doc_id"), F.lit(n_buckets)).cast("int"))
        _overwrite_changed_buckets(clusters, clusters_t)

    return _start(docs, cluster_batch, f"{name}_q", checkpoint_dir)


def run_cdc_compaction_stream(
    spark: SparkSession,
    stage_dir: str,
    name: str = "cdc_stream",
    n_buckets: int = CDC_BUCKETS,
    checkpoint_dir: str | None = None,
    fresh_tables: bool = True,
    compact_every: int | None = None,
):
    """Incremental CDC latest-wins MERGE: the streaming twin of
    plans/analytics.cdc_compaction, maintaining the compacted current
    table as events arrive — the poor-man's `MERGE INTO` on plain
    parquet: the state table is hash-bucketed on pmod(user_id, 64), and
    each micro-batch rewrites ONLY the buckets containing batch keys via
    dynamic partition overwrite — per-epoch IO is O(touched buckets),
    not O(table) (on a transactional format the same body becomes a real
    MERGE commit).

    Correctness properties, all pinned in tests:
    - latest-wins over the total (ts_us, event_id) order is an
      idempotent, commutative, associative merge (a join-semilattice
      max), so crash-replayed batches and at-least-once redeliveries
      CONVERGE — a replay merges the same rows into state that already
      absorbed them and rewrites byte-identical buckets;
    - DELETE rows are retained as TOMBSTONES in state (filtered from the
      read view), so a late-arriving upsert older than the delete cannot
      resurrect the key — dropping tombstones physically is a compaction
      policy decision (safe once the watermark passes), not part of the
      merge;
    - the final view equals the one-shot batch compaction.

    `compact_every=N`: every Nth epoch, after the merge commits, run
    `operators/layout.compact_small_files` over the state table — the
    in-loop form of the maintenance the touched-bucket write discipline
    creates a need for (a hot bucket accretes one file per epoch that
    touches it). Compaction is content-preserving and idempotent, so it
    composes with crash replay: a replayed epoch merges into (possibly
    compacted) state and rewrites the same logical content."""
    state_t = f"{name}_state"
    if fresh_tables:
        create_state_table(
            spark,
            state_t,
            "user_id BIGINT, ts_us BIGINT, event_id BIGINT, op STRING, v_cents BIGINT,"
            " kb INT",
            "kb",
        )

    from ..sources.loaders import events_parquet_stream

    events = events_parquet_stream(spark, stage_dir, maxFilesPerTrigger=1)

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        rows = batch_df.select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            F.col("event_type").alias("op"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("v_cents"),
            F.pmod(F.col("user_id"), F.lit(n_buckets)).cast("int").alias("kb"),
        ).persist()
        touched = [r.kb for r in rows.select("kb").distinct().collect()]
        if not touched:
            rows.unpersist()
            return
        state = s.table(state_t).filter(F.col("kb").isin(touched))
        merged = (
            state.unionByName(rows)
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(
                        F.desc("ts_us"), F.desc("event_id")
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        merged.select("user_id", "ts_us", "event_id", "op", "v_cents", "kb").write.mode(
            "overwrite"
        ).insertInto(state_t, overwrite=True)
        s.catalog.refreshTable(state_t)
        rows.unpersist()
        if compact_every and (epoch_id + 1) % compact_every == 0:
            from ..operators.layout import compact_small_files

            compact_small_files(s, state_t)

    return _start(events, merge_batch, f"{name}_q", checkpoint_dir)


def cdc_current_view(spark: SparkSession, name: str = "cdc_stream") -> DataFrame:
    """The compacted CURRENT table the stream maintains: tombstones
    filtered, same schema as the batch cdc_compaction."""
    from ..plans.analytics import CDC_DELETE_TYPE

    return (
        spark.table(f"{name}_state")
        .filter(F.col("op") != CDC_DELETE_TYPE)
        .select(
            "user_id",
            F.col("ts_us").alias("last_ts_us"),
            F.col("event_id").alias("last_event_id"),
            F.col("op").alias("last_op"),
            F.col("v_cents").alias("last_v_cents"),
        )
    )


def run_scd2_stream(
    spark: SparkSession,
    stage_dir: str,
    name: str = "scd2_stream",
    n_buckets: int = CDC_BUCKETS,
    checkpoint_dir: str | None = None,
    fresh_tables: bool = True,
    on_late: str = "error",
):
    """Incremental SCD2 dimension maintenance: the streaming twin of
    plans/analytics.scd2_snapshot — per-user validity intervals
    maintained as events arrive, the warehouse dimension-build loop run
    continuously instead of as a nightly batch.

    State = the versions table itself, hash-bucketed on
    pmod(user_id, {CDC_BUCKETS}) like the CDC merge. Per micro-batch,
    touched keys' VERSION STARTS (user, state, valid_from, src event) —
    which are precisely the collapsed representation of their event
    history — union with the batch's new events and re-collapse under
    the same (t, event_id) window the batch operator uses; version
    ordinals and valid_to recompute inside the touched keys' windows,
    and only touched buckets rewrite (dynamic overwrite).

    In-order contract — ENFORCED, not assumed (`on_late`): the collapse
    is exact only when events arrive in event-time order across batches
    (a late event older than an already-collapsed run would need
    history the state no longer holds). A per-stream high-watermark
    (max event time over all PRIOR epochs, kept in the epoch-partitioned
    `<name>_wm` table so crash replays probe pre-batch state — the
    `_ingest_epoch` fps discipline) guards every batch:

    - on_late='error' (default): a batch whose min event time precedes
      the watermark raises, failing the stream — silent wrong versions
      become an explicit failure;
    - on_late='quarantine': the offending rows route to the
      epoch-partitioned `<name>_quarantine` table (replay-idempotent
      dynamic overwrite) and the in-order remainder processes normally —
      the versions table stays exact over what it ingested, and the
      quarantine is the retry/inspection queue (feed it back through
      the late-data engine's buffering for full out-of-order support).

    Boundary ties (batch min == watermark) pass: the collapse re-sorts
    touched keys' version starts with the batch under the same total
    (t, event_id) order, which is exact as long as no same-timestamp
    run of one key was ALREADY collapsed across the tie — arrange chunk
    boundaries on distinct timestamps where possible.

    LAST-epoch crash replay is idempotent: a replayed event either
    duplicates an existing version start (identical (t, event_id,
    state) row — the lag-collapse drops it) or extends a same-state run
    (collapsed), so the rewritten buckets are byte-identical; the wm
    probe excludes the replayed epoch's own row, and the quarantine
    rewrite is a dynamic overwrite of its own epoch partition."""
    if on_late not in ("error", "quarantine"):
        raise ValueError(f"on_late must be 'error' or 'quarantine', got {on_late!r}")
    state_t, wm_t, quar_t = f"{name}_state", f"{name}_wm", f"{name}_quarantine"
    if fresh_tables:
        create_state_table(
            spark,
            state_t,
            "user_id BIGINT, state STRING, valid_from_us BIGINT, src_event_id BIGINT,"
            " valid_to_us BIGINT, version BIGINT, kb INT",
            "kb",
        )
        create_state_table(spark, wm_t, "max_t BIGINT")
        create_state_table(
            spark, quar_t, "user_id BIGINT, state STRING, t BIGINT, event_id BIGINT, kb INT"
        )

    from ..sources.loaders import events_parquet_stream

    events = events_parquet_stream(spark, stage_dir, maxFilesPerTrigger=1)

    def scd2_batch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        newe = batch_df.select(
            "user_id",
            F.col("event_type").alias("state"),
            F.unix_micros("ts").alias("t"),
            "event_id",
            F.pmod(F.col("user_id"), F.lit(n_buckets)).cast("int").alias("kb"),
        ).persist()
        newe_all = newe
        # in-order guard: batch bounds vs the prior-epoch high-watermark
        # (one 1-row agg — the driver-sees-a-scalar discipline)
        bounds = newe.agg(F.min("t").alias("lo"), F.max("t").alias("hi")).first()
        if bounds.lo is None:
            newe_all.unpersist()
            return
        wm = (
            s.table(wm_t)
            .filter(F.col("epoch") != epoch_id)
            .agg(F.max("max_t"))
            .first()[0]
        )
        if wm is not None and bounds.lo < wm:
            if on_late == "error":
                newe_all.unpersist()
                raise ValueError(
                    f"run_scd2_stream[{name}] epoch {epoch_id}: out-of-order batch "
                    f"(min event time {bounds.lo} < high-watermark {wm}); the SCD2 "
                    "collapse would silently produce wrong versions — front the "
                    "stream with the late-data engine or use on_late='quarantine'"
                )
            write_epoch(
                newe.filter(F.col("t") < wm).select("user_id", "state", "t", "event_id", "kb"),
                quar_t,
                epoch_id,
            )
            newe = newe.filter(F.col("t") >= wm)
        touched = [r.kb for r in newe.select("kb").distinct().collect()]
        if not touched:
            newe_all.unpersist()
            return
        hist = (
            s.table(state_t)
            .filter(F.col("kb").isin(touched))
            .select(
                "user_id",
                "state",
                F.col("valid_from_us").alias("t"),
                F.col("src_event_id").alias("event_id"),
                "kb",
            )
        )
        w = Window.partitionBy("user_id").orderBy("t", "event_id")
        merged = (
            hist.unionByName(newe)
            .withColumn("prev", F.lag("state").over(w))
            .filter(F.col("prev").isNull() | (F.col("prev") != F.col("state")))
            .select(
                "user_id",
                "state",
                F.col("t").alias("valid_from_us"),
                F.col("event_id").alias("src_event_id"),
                F.lead("t").over(w).alias("valid_to_us"),
                F.row_number().over(w).cast("long").alias("version"),
                "kb",
            )
        )
        merged.write.mode("overwrite").insertInto(state_t, overwrite=True)
        # advance the high-watermark: max event time of the PROCESSED
        # rows (any in-order row ≥ wm > every quarantined row, so the
        # batch max always comes from a processed row)
        write_epoch(s.createDataFrame([(int(bounds.hi),)], "max_t long"), wm_t, epoch_id)
        s.catalog.refreshTable(state_t)
        newe_all.unpersist()

    return _start(events, scd2_batch, f"{name}_q", checkpoint_dir)


def scd2_current_view(spark: SparkSession, name: str = "scd2_stream") -> DataFrame:
    """Batch-shaped read of the maintained SCD2 table."""
    return spark.table(f"{name}_state").select(
        "user_id", "state", "valid_from_us", "valid_to_us", "version"
    )


def live_epochs(p: DataFrame) -> DataFrame:
    """Relational form of `epochs.live`: the same LIVE-row filter over
    the tiered fold-watermark encoding, with the per-tier watermarks
    derived from the rows themselves instead of SHOW PARTITIONS — the
    reference the metadata path is tested against."""
    # one tiny (≤ #tiers rows → 1 row) broadcast frame of per-tier max
    # window-tops; each row's threshold folds over it
    vt = F.expr(f"(-epoch - 1) DIV {TIER_OFF}")
    vw = F.expr(f"pmod(-epoch - 1, {TIER_OFF})")
    wms = (
        p.filter(F.col("epoch") < 0)
        .select(vt.alias("tier"), vw.alias("wtop"))
        .groupBy("tier")
        .agg(F.max("wtop").alias("mw"))
        .agg(F.collect_list(F.struct("tier", "mw")).alias("tws"))
    )
    wm_all = F.aggregate(
        "tws", F.lit(-1).cast("long"), lambda acc, s: F.greatest(acc, s.mw)
    )
    thr = F.aggregate(
        "tws",
        F.lit(-1).cast("long"),
        lambda acc, s: F.when(s.tier > vt, F.greatest(acc, s.mw)).otherwise(acc),
    )
    return (
        p.crossJoin(F.broadcast(wms))
        .filter(
            ((F.col("epoch") >= 0) & (F.col("epoch") > wm_all))
            | ((F.col("epoch") < 0) & (vw > thr))
        )
        .drop("tws")
    )


def _cstats_merge(df: DataFrame) -> DataFrame:
    """Corpus-stats fold merge: the same associative integer sums the
    view performs."""
    return df.groupBy("source", "lang").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_tokens").alias("total_tokens"),
        F.sum("total_chars").alias("total_chars"),
        F.sum("sum_scaled_q").alias("sum_scaled_q"),
    )


def run_corpus_stats_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str = "cstats",
    n_chunks: int = 3,
    stage_dir: str | None = None,
    checkpoint_dir: str | None = None,
    fresh_tables: bool = True,
    fold_every: int | None = None,
    refold_width: int | None = None,
):
    """Incrementally-maintained corpus profile — the SELF-MAINTAINABLE
    AGGREGATE member of the MV family: unlike the pagerank/cluster twins
    (whose refresh is an honest O(accumulated) fixed point), every
    column of `corpus_profile` is a decomposable sum/count, so each
    micro-batch contributes a per-(source, lang) PARTIAL aggregate and
    the maintenance cost is O(batch) + O(groups) — never a corpus
    re-scan, at any scale.

    Exactly-once without read-modify-write: partials land in the
    epoch-partitioned `<name>_partials` table via dynamic overwrite (a
    replayed batch rewrites its own partition byte-identically — the
    `_ingest_epoch` discipline; no state is ever read during the write,
    so there is no increment to double-apply). `corpus_stats_view` then
    folds the partials: integer sums re-associate exactly, and the final
    avg_quality is ONE double division of exact ints — the view is
    BIT-IDENTICAL to batch `corpus_profile` over the ingested docs at
    every epoch boundary (pinned; the registry's
    corpus_stats_stream_view runs it under corpus_profile's own DuckDB
    oracle). With a checkpoint, kill-and-restart resumes from the
    committed offset.

    `fold_every=N` bounds the partials table: every Nth epoch, the
    window of epochs since the last fold collapses into ONE
    watermark-encoded base partition (tiered — see
    `epochs.fold`). The view is bit-identical before and
    after a fold (pinned in tests); partition count drops from one per
    epoch to one per N epochs at O(window) fold IO — each partial row
    is written at most twice ever."""
    from ..functions.text import tokens

    parts_t = f"{name}_partials"
    if fresh_tables:
        create_state_table(
            spark,
            parts_t,
            "source STRING, lang STRING, n_docs BIGINT, total_tokens BIGINT,"
            " total_chars BIGINT, sum_scaled_q BIGINT",
        )

    stage = stage_dir or stage_document_chunks(sf_dir, n_chunks)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    docs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)

    def stats_batch(df, epoch_id: int) -> None:
        s = df.sparkSession
        t = df.select(
            "source", "lang", F.length("text").alias("nc"), tokens("text").alias("toks")
        ).select(
            "source",
            "lang",
            "nc",
            F.size("toks").alias("nt"),
            F.size(F.array_distinct("toks")).alias("nu"),
        )
        # the corpus_profile integer quality scaling, verbatim (shared
        # semantics → the stream view shares its oracle)
        scaled = (
            5000 * F.least(F.lit(100), F.col("nt"))
            + F.expr("(500000 * CAST(nu AS BIGINT)) DIV nt")
        ).cast("long")
        part = t.groupBy("source", "lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("total_tokens"),
            F.sum("nc").alias("total_chars"),
            F.sum(scaled).alias("sum_scaled_q"),
        )
        write_epoch(part, parts_t, epoch_id)
        s.catalog.refreshTable(parts_t)
        maybe_fold(s, parts_t, epoch_id, fold_every, merge=_cstats_merge, refold_width=refold_width)

    return _start(docs, stats_batch, f"{name}_q", checkpoint_dir)


def corpus_stats_view(spark: SparkSession, name: str = "cstats") -> DataFrame:
    """Fold the epoch partials to the current corpus profile — integer
    sums plus corpus_profile's single terminal double division, so the
    result is bit-identical to the batch operator over the same docs.

    Fold-aware: reads through `live`, so partially-GC'd folds
    (crash between base write and partition drop) never double-count."""
    return (
        live(spark, f"{name}_partials").groupBy("source", "lang")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("total_tokens").alias("total_tokens"),
            F.sum("total_chars").alias("total_chars"),
            (F.sum("sum_scaled_q") / (F.sum("n_docs") * F.lit(1e6))).alias(
                "avg_quality"
            ),
        )
    )


def run_uv_sketch_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str = "uvsk",
    stage_dir: str | None = None,
    checkpoint_dir: str | None = None,
    fresh_tables: bool = True,
    fold_every: int | None = None,
    refold_width: int | None = None,
):
    """Stream-maintained UV: the MERGEABLE-SKETCH member of the MV family
    (batch twin: `uv_sketch_rollup` — the A6 scale path). Two state
    tables, both epoch-partitioned with the standard replay discipline:

    - `<name>_sketches` (day, sk, pv): per-epoch per-day HLL sketches +
      page-view counts — a pure function of the batch, so a crash replay
      dynamic-overwrites byte-identical rows;
    - `<name>_users` (user_id): FIRST-SEEN users, maintained with the
      exact-dedup probe (anti-join live state excluding the replayed
      epoch's own partition) — the exact-UV side of the batch twin's
      est-vs-exact contract.

    The sketch fold merge is the point: `epochs.fold` gets a
    REGISTER-MAX merge (groupBy day → hll_union_agg + sum pv), proving
    the tiered fold generalizes beyond integer sums (corpus stats) and
    identity (codes/edges) to any associative+commutative state. HLL
    union is exactly mergeable — the union of per-epoch sketches has the
    SAME registers as a one-shot sketch over all rows — so the view's
    estimate is bit-identical to batch at every epoch boundary, folds
    included, and the whole thing sits under `uv_sketch_rollup`'s
    bounded-error DuckDB oracle. At 100 TB the maintained state is one
    4 KB sketch per (epoch, day) folding toward one per day, plus the
    first-seen user set; per-batch cost is O(batch) + O(days)."""
    from .late_data import staged_replay_source

    sk_t, users_t = f"{name}_sketches", f"{name}_users"
    if fresh_tables:
        create_state_table(spark, sk_t, "day DATE, sk BINARY, pv BIGINT")
        create_state_table(spark, users_t, "user_id BIGINT")

    events = staged_replay_source(spark, sf_dir).filter(F.col("event_type") == "view")

    def uv_batch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        # fold BEFORE the probe (window ≤ epoch−1), the ingest discipline
        maybe_fold(s, sk_t, epoch_id, fold_every, merge=_uvsk_merge, refold_width=refold_width)
        maybe_fold(s, users_t, epoch_id, fold_every, refold_width=refold_width)
        v = batch_df.persist()
        daily = v.groupBy(F.to_date("ts").alias("day")).agg(
            F.hll_sketch_agg("user_id").alias("sk"), F.count(F.lit(1)).alias("pv")
        )
        seen = (
            live(s, users_t)
            .filter(F.col("epoch") != epoch_id)
            .select("user_id")
        )
        newu = v.select("user_id").distinct().join(seen, "user_id", "left_anti")
        write_epoch(daily, sk_t, epoch_id)
        write_epoch(newu, users_t, epoch_id)
        for t in (sk_t, users_t):
            s.catalog.refreshTable(t)
        v.unpersist()

    return _start(events, uv_batch, f"{name}_q", checkpoint_dir)


def _uvsk_merge(df: DataFrame) -> DataFrame:
    """UV-sketch fold merge: per-day HLL register-max union + pv sum —
    associative and commutative, so folded state is register-identical
    to unfolded."""
    return df.groupBy("day").agg(
        F.hll_union_agg("sk").alias("sk"), F.sum("pv").alias("pv")
    )


def uv_sketch_view(spark: SparkSession, name: str = "uvsk") -> DataFrame:
    """Batch-shaped read of the maintained UV state — same four columns
    and arithmetic as `uv_sketch_rollup`: exact uv from the first-seen
    user set (rows are unique by the probe invariant; `live` drops
    any crash-stale absorbed partition), merged-sketch estimate checked
    against it at the 5% bound."""
    sk = live(spark, f"{name}_sketches")
    merged = sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__est"),
        F.sum("pv").alias("pv_total"),
        F.countDistinct("day").alias("n_days"),
    )
    users = live(spark, f"{name}_users")
    exact = users.agg(F.count(F.lit(1)).alias("uv"))
    return merged.crossJoin(exact).select(
        "uv",
        "pv_total",
        "n_days",
        (F.abs(F.col("__est") - F.col("uv")) <= F.col("uv") * F.lit(0.05)).alias(
            "est_ok"
        ),
    )


def run_pq_index_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str = "pqidx",
    n_chunks: int | None = None,
    stage_dir: str | None = None,
    checkpoint_dir: str | None = None,
    fresh_tables: bool = True,
    fold_every: int | None = None,
    refold_width: int | None = None,
    store_vectors: bool = False,
):
    """Stream-maintained PQ vector index — the FAISS `index.add()`
    lifecycle as an MV: the FIRST batch trains the per-subspace
    codebooks (stored in `<name>_codebook`, then FROZEN — the production
    contract: an index's codebooks never retrain on add, or every
    stored code silently re-means); every batch, including the first,
    only ENCODES its own vectors against the frozen codebooks and
    appends them to the epoch-partitioned `<name>_codes` table. Per-epoch
    maintenance is O(batch · codebook) — no corpus re-scan, no
    re-encode, ever; at 100 TB the index grows by appending 8-byte codes.

    Exactly-once: the codebook is a deterministic pure function of the
    first batch (a replay rewrites identical content behind an
    idempotent overwrite), and each epoch's codes land by dynamic
    overwrite of their own partition (the `_ingest_epoch` discipline).
    Search (`knn_pq_index_view`) runs knn_pq's ADC scan — per-query
    lookup tables against the STORED codebook, scored over the STORED
    codes — and is oracle-certified end-to-end: the DuckDB twin
    re-derives the same first-chunk-trained codebooks and full-corpus
    encoding, so the driver's hash gate certifies the maintenance loop
    (freeze + incremental encode + replay) against ANSI-SQL ground
    truth.

    `fold_every=N`: every Nth epoch, the code partitions written since
    the last fold coalesce into one watermark base via
    `epochs.fold` with the IDENTITY merge — codes are
    immutable rows, so the fold is a pure rewrite of ONLY that window
    (each code is written at most twice ever; the O(batch) add contract
    survives) and partition count drops from one per epoch to one per N
    epochs. Search reads through `live`.

    `store_vectors=True` additionally appends each batch's quantized
    full vectors to `<name>_vecs` (identity-folded like the codes) —
    the storage FAISS's IndexRefineFlat keeps next to the code index,
    enabling `pq_index_search_refine`'s exact re-rank. The trade is
    explicit: vectors are ~32× the code bytes, so a deployment opts in
    per index."""
    from ..operators.similarity import (
        PQ_CODE_MOD,
        PQ_INDEX_CHUNKS,
        PQ_ITERS,
        _idot,
        _pq_encode,
        _pq_subvectors,
        _pq_train,
        quantize,
    )

    n_chunks = n_chunks or PQ_INDEX_CHUNKS
    cb_t, codes_t, vecs_t = f"{name}_codebook", f"{name}_codes", f"{name}_vecs"
    if fresh_tables:
        _drop_table(spark, cb_t)
        if store_vectors:
            create_state_table(spark, vecs_t, "vec_id BIGINT, q ARRAY<BIGINT>, n2 BIGINT")
        spark.sql(
            f"CREATE TABLE {cb_t} (m INT, code BIGINT, cv ARRAY<BIGINT>, cn2 BIGINT)"
            f" USING parquet"
        )
        create_state_table(spark, codes_t, "vec_id BIGINT, codes ARRAY<BIGINT>, rn2 BIGINT")

    stage = stage_dir or stage_embedding_chunks(sf_dir, n_chunks)
    emb = (
        spark.readStream.schema("vec_id long, embedding array<float>, label int")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )

    def index_batch(df, epoch_id: int) -> None:
        s = df.sparkSession
        e = df.select("vec_id", quantize(F.col("embedding")).alias("q"))
        sub = _pq_subvectors(e).persist()
        if not s.table(cb_t).head(1):
            # first batch: train + freeze (deterministic ⇒ a crash replay
            # that re-enters here rewrites identical content)
            _pq_train(sub, PQ_CODE_MOD, PQ_ITERS).select(
                "m", "code", "cv", "cn2"
            ).write.mode("overwrite").insertInto(cb_t, overwrite=True)
            s.catalog.refreshTable(cb_t)
        write_epoch(_pq_encode(sub, s.table(cb_t)), codes_t, epoch_id)
        if store_vectors:
            write_epoch(e.withColumn("n2", _idot(F.col("q"), F.col("q"))), vecs_t, epoch_id)
        s.catalog.refreshTable(codes_t)
        if store_vectors:
            s.catalog.refreshTable(vecs_t)
        sub.unpersist()
        maybe_fold(s, codes_t, epoch_id, fold_every, refold_width=refold_width)
        if store_vectors:
            maybe_fold(s, vecs_t, epoch_id, fold_every, refold_width=refold_width)

    return _start(emb, index_batch, f"{name}_q", checkpoint_dir)


def pq_index_search(
    spark: SparkSession, queries_e, name: str = "pqidx", k: int | None = None
) -> DataFrame:
    """ADC top-k over the stream-maintained index: per-query lookup
    tables against the stored codebook, scored as a pure scan of the
    stored codes (knn_pq's search path, reading state tables instead of
    retraining). `queries_e` must carry (vec_id, q, n2). Codes read
    through `live`, so a folded index (and a crash mid-fold)
    searches identically."""
    from ..operators.similarity import KNN_K, _pq_query_luts, _pq_rank

    lut = _pq_query_luts(queries_e, spark.table(f"{name}_codebook"))
    codes = live(spark, f"{name}_codes").select("vec_id", "codes", "rn2")
    scored = codes.join(F.broadcast(lut), F.col("query_id") != F.col("vec_id"))
    return _pq_rank(scored, k or KNN_K)


def pq_index_search_refine(
    spark: SparkSession,
    queries_e,
    name: str = "pqidx",
    k: int | None = None,
    refine_c: int | None = None,
) -> DataFrame:
    """Exact-refine search over the stream-maintained index — FAISS's
    IndexRefineFlat composed with the MV: the ADC scan ranks a
    top-`refine_c` shortlist from the stored codes, then the shortlist
    re-scores with exact int64 cosines against the stream-stored full
    vectors (`<name>_vecs`, requires the index to have run with
    `store_vectors=True`) and re-ranks to top-k. Same scale shape as
    `knn_ivfpq_refine`: the shortlist is |queries|·refine_c id pairs —
    broadcast — so full vectors move only for shortlisted rows; the
    vectors table reads through `live` like every MV state."""
    from pyspark.sql import Window

    from ..operators.similarity import KNN_K, REFINE_C, _idot

    kk, cc = k or KNN_K, refine_c or REFINE_C
    shortlist = pq_index_search(spark, queries_e, name, k=cc).select(
        "query_id", "neighbor_id"
    )
    vecs = live(spark, f"{name}_vecs").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("nq"),
        F.col("n2").alias("nn2"),
    )
    qv = queries_e.select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq"), F.col("n2").alias("qn2")
    )
    exact = (
        vecs.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "cosine",
            _idot(F.col("qq"), F.col("nq"))
            / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("nn2").cast("double"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# --------------------------------------------------- join-IVM (delta rule)


def stage_order_lineitem_chunks(
    sf_dir: str,
    n_chunks: int = 3,
    delete_mod: int | None = None,
    line_delete_mod: int | None = None,
    update_mod: int | None = None,
) -> str:
    """Stage orders + lineitem as ONE interleaved chunked-arrival feed
    (the CDC-topic shape: both tables' inserts multiplexed through a
    single ordered stream, each row tagged with its `side`). Orders land
    in chunk o_orderkey % n; lineitems in (l_orderkey + l_linenumber) % n
    — an order's lines spread across chunks, so every delta-rule term is
    exercised: ΔO⋈L_state, O_state⋈ΔL, and same-epoch ΔO⋈ΔL.

    `delete_mod=m` adds an `O_DEL` event for every order with
    o_orderkey % m == 0, routed to chunk (key % n + 1) % n — one rule
    that covers delete-after-insert (keys inserted in chunks 0..n−2) AND
    the out-of-order delete-BEFORE-insert case (keys inserted in the
    last chunk get their delete in chunk 0).

    `line_delete_mod=m` adds an `L_DEL` event — keyed (l_orderkey,
    l_linenumber), the lineitem-granularity tombstone a per-row CDC feed
    emits — for every line with (l_orderkey + l_linenumber) % m == 0,
    routed one chunk after its insert by the same +1 rule (so the last
    chunk's lines get their delete in chunk 0: delete-before-insert at
    line granularity). Note the synthetic lineitem has duplicate
    (l_orderkey, l_linenumber) pairs; an L_DEL therefore tombstones
    every row carrying that key — exactly the key-tombstone contract.

    `update_mod=m` adds an `O_UPD` upsert event for every order with
    o_orderkey % m == 0 — new attributes (status 'U', custkey + 1000, so
    updates move revenue ACROSS customers and a broken retraction shows
    in the per-customer hashes), routed TWO chunks after the insert by
    (key % n + 2) % n. Under arrival-epoch last-write-wins that means
    only keys inserted in chunk 0 see their update win; chunks 1/2 keys
    get the update BEFORE the insert, and the later insert supersedes it
    — the out-of-order case the oracle pins (their attributes stay
    original)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("side", pa.string()),
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()),
            ("l_orderkey", pa.int64()),
            ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
        ]
    )
    o = pq.read_table(os.path.join(sf_dir, "orders.parquet")).to_pandas()
    li = pq.read_table(os.path.join(sf_dir, "lineitem.parquet")).to_pandas()
    stage = tempfile.mkdtemp(prefix="spark_graft_ivm_")
    base = None
    for i in range(n_chunks):
        oc = o[o["o_orderkey"] % n_chunks == i]
        lc = li[(li["l_orderkey"] + li["l_linenumber"]) % n_chunks == i]
        dk = []
        if delete_mod:
            d = o[(o["o_orderkey"] % delete_mod == 0) & ((o["o_orderkey"] % n_chunks + 1) % n_chunks == i)]
            dk = list(d["o_orderkey"])
        ld = li.iloc[0:0]
        if line_delete_mod:
            lkey = li["l_orderkey"] + li["l_linenumber"]
            ld = li[
                (lkey % line_delete_mod == 0) & ((lkey % n_chunks + 1) % n_chunks == i)
            ].drop_duplicates(subset=["l_orderkey", "l_linenumber"])
        up = o.iloc[0:0]
        if update_mod:
            up = o[
                (o["o_orderkey"] % update_mod == 0)
                & ((o["o_orderkey"] % n_chunks + 2) % n_chunks == i)
            ]
        n_o, n_l, n_d, n_ld, n_u = len(oc), len(lc), len(dk), len(ld), len(up)
        cols = {
            "side": ["O"] * n_o + ["L"] * n_l + ["O_DEL"] * n_d + ["L_DEL"] * n_ld
            + ["O_UPD"] * n_u,
            "o_orderkey": pa.array(
                list(oc["o_orderkey"]) + [None] * n_l + dk + [None] * n_ld
                + list(up["o_orderkey"]),
                pa.int64(),
            ),
            "o_custkey": pa.array(
                list(oc["o_custkey"]) + [None] * (n_l + n_d + n_ld)
                + [int(x) + 1000 for x in up["o_custkey"]],
                pa.int64(),
            ),
            "o_orderstatus": pa.array(
                list(oc["o_orderstatus"]) + [None] * (n_l + n_d + n_ld) + ["U"] * n_u,
                pa.string(),
            ),
            "l_orderkey": pa.array(
                [None] * n_o + list(lc["l_orderkey"]) + [None] * n_d
                + list(ld["l_orderkey"]) + [None] * n_u,
                pa.int64(),
            ),
            "l_linenumber": pa.array(
                [None] * n_o
                + [int(x) for x in lc["l_linenumber"]]
                + [None] * n_d
                + [int(x) for x in ld["l_linenumber"]]
                + [None] * n_u,
                pa.int32(),
            ),
            "l_quantity": pa.array(
                [None] * n_o + list(lc["l_quantity"]) + [None] * (n_d + n_ld + n_u),
                pa.float64(),
            ),
            "l_extendedprice": pa.array(
                [None] * n_o + list(lc["l_extendedprice"]) + [None] * (n_d + n_ld + n_u),
                pa.float64(),
            ),
            "l_discount": pa.array(
                [None] * n_o + list(lc["l_discount"]) + [None] * (n_d + n_ld + n_u),
                pa.float64(),
            ),
        }
        path = os.path.join(stage, f"part-{i}.parquet")
        pq.write_table(pa.table(cols, schema=schema), path)
        if base is None:
            base = os.stat(path).st_mtime
        os.utime(path, (base + i, base + i))
    return stage


def run_join_ivm_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str = "orderwide",
    n_chunks: int = 3,
    stage_dir: str | None = None,
    checkpoint_dir: str | None = None,
    fresh_tables: bool = True,
    fold_every: int | None = None,
    refold_width: int | None = None,
    maintain_agg: bool = True,
    maintain_max: bool = False,
    maintain_distinct: bool = False,
    maintain_topk: int | None = None,
    maintain_topk_grouped: int | None = None,
):
    """Incrementally-maintained JOIN view — the delta-rule member of the
    MV family (the others maintain aggregates, fixed points, or indexes;
    this maintains orders ⋈ lineitem itself). For append-only inserts the
    classical rule collapses to two terms per epoch:

        ΔV = ΔO ⋈ (L_state ∪ ΔL)  ∪  O_state ⋈ ΔL

    (the ΔO⋈ΔL same-epoch pairs ride in the first term). Maintenance
    cost is O(|Δ| + matching state rows) per epoch — the view is NEVER
    recomputed from full inputs; each delta side is micro-batch-sized
    and BROADCAST against the epoch-partitioned state table, so state
    never shuffles (the IVM promise that makes a 100 TB fact-table view
    maintainable by a minutes-cadence stream). State and view hold only
    the view's projected columns (ingest-time column pruning).

    DELETIONS at BOTH granularities: the view's negative deltas are
    TOMBSTONES, not partition rewrites. `side='O_DEL'` (order key only)
    accumulates in the epoch-partitioned `<name>_d` table; `side='L_DEL'`
    — the lineitem-granularity tombstone keyed (l_orderkey,
    l_linenumber) that a per-row CDC feed emits — accumulates in
    `<name>_ld`. Every ΔV term anti-joins both delete sets (historical ∪
    this epoch's), and `order_wide_view` anti-joins live tombstones of
    both kinds at read. A delete is terminal (no re-insert of a deleted
    key — the CDC-upsert stream is the family member for keys that come
    back): deletes arriving BEFORE their row's insert win too, because
    ΔO and ΔL are anti-joined against ALL live tombstones, so the late
    insert never enters state or the view.

    Exactly-once is the `_ingest_epoch` discipline: all four tables are
    epoch-partitioned and dynamic-overwritten; the state reads exclude
    the in-flight epoch (`epoch != epoch_id`, composed with
    `live`), so a checkpointed last-epoch replay recomputes ΔV
    from identical state and rewrites byte-identical partitions. Readers
    (`order_wide_view`) go through `live`; `fold_every` bounds all
    four partition counts via the tiered watermark fold (identity
    merge — join rows and tombstones are immutable).

    UPSERTS (`side='O_UPD'`, full new attributes): arrival-epoch
    LAST-WRITE-WINS versioning — the retract-and-emit update case. Every
    O/O_UPD event carries its arrival epoch as `o_version` (a DATA
    column on state and view rows, so versioning survives the watermark
    fold — partition epochs don't). A key's re-upsert logs (key, epoch)
    to `<name>_u`; a key is "re-upserted" when a CURRENT prior version
    exists, so an O_UPD arriving before its insert simply inserts (and
    the later insert supersedes it — last write wins). At the upsert
    epoch the key's current join rows are retracted from the aggregate
    MVs and the full row set re-emits with the new attributes
    (O(matching lineitems) — the ΔO term's own shape); readers keep,
    per key, only rows whose o_version equals the key's newest upsert
    epoch (or any version for never-re-upserted keys). The `_u` latest
    map broadcasts into maintenance and reads — valid while re-upserted
    keys ≪ state (the CDC-compaction stream is the family member for
    update volumes at state scale). Superseded-version rows remain on
    disk and are read-filtered, like tombstoned rows pre-purge.

    `maintain_agg=False` skips the retractable aggregate MV (`<name>_agg`
    partials + `revenue_by_cust_view`) for callers that only read the
    join view — the partial computation and fifth table write are not
    free on the ingest hot path. `maintain_max=True` additionally
    maintains the NON-INVERTIBLE aggregate MV (`<name>_mx` partials +
    `revenue_max_by_cust_view`): per-customer MAX(revenue), the classic
    IVM hard case — sum's sign trick doesn't apply, so tombstone epochs
    re-derive the max from live view rows for ONLY the touched keys and
    write a REBASE partial that supersedes that customer's older
    partials (see `_ivm_epoch`).

    `maintain_distinct=True` maintains the COUNT(DISTINCT) MV
    (`<name>_dc` partials + `distinct_qty_by_cust_view`): per-customer
    distinct l_quantity count, the OTHER classic hard retraction case —
    a delete only lowers a distinct count when it kills the LAST row
    carrying that value. Exactness comes from REFCOUNTING at the
    (customer, value) grain: each epoch writes signed per-(customer,
    value) row counts (+ΔV, − retired), the fold merges them by sum,
    and the read side counts values whose net refcount is positive
    (see `_ivm_epoch`)."""
    o_t, l_t, v_t, d_t = f"{name}_o", f"{name}_l", f"{name}_v", f"{name}_d"
    ld_t, u_t = f"{name}_ld", f"{name}_u"
    agg_t = f"{name}_agg" if maintain_agg else None
    mx_t = f"{name}_mx" if maintain_max else None
    dc_t = f"{name}_dc" if maintain_distinct else None
    tk_t = f"{name}_tk" if maintain_topk else None
    tkg_t = f"{name}_tkg" if maintain_topk_grouped else None
    aggg_t = f"{name}_aggg" if maintain_topk_grouped else None
    if maintain_topk and not maintain_agg:
        raise ValueError("maintain_topk rides on the aggregate MV partials")
    if fresh_tables:
        # the agg/mx/dc tables are dropped even when not maintained: a
        # stale aggregate from an earlier same-name run must not survive
        # a fresh rebuild of the view it claims to summarize
        for suffix, t in (
            ("agg", agg_t), ("mx", mx_t), ("dc", dc_t), ("tk", tk_t), ("tkg", tkg_t),
            ("aggg", aggg_t),
        ):
            if not t:
                _drop_table(spark, f"{name}_{suffix}")
        create_state_table(spark, d_t, "o_orderkey BIGINT")
        create_state_table(spark, ld_t, "l_orderkey BIGINT, l_linenumber INT")
        create_state_table(spark, u_t, "o_orderkey BIGINT, ue BIGINT")
        if agg_t:
            create_state_table(spark, agg_t, "o_custkey BIGINT, n BIGINT, rev DECIMAL(18,6)")
        if mx_t:
            create_state_table(spark, mx_t, "o_custkey BIGINT, mx DOUBLE, rebase BOOLEAN")
        if dc_t:
            create_state_table(spark, dc_t, "o_custkey BIGINT, qty DOUBLE, c BIGINT")
        if tk_t:
            create_state_table(
                spark,
                tk_t,
                "o_custkey BIGINT, rev DECIMAL(18,6), b DECIMAL(18,6), rebased BOOLEAN,"
                " ve BIGINT",
            )
        if tkg_t:
            create_state_table(
                spark, aggg_t, "grp STRING, o_custkey BIGINT, n BIGINT, rev DECIMAL(18,6)"
            )
            create_state_table(
                spark,
                tkg_t,
                "grp STRING, o_custkey BIGINT, rev DECIMAL(18,6), b DECIMAL(18,6),"
                " rebased BOOLEAN, ve BIGINT",
            )
        create_state_table(
            spark,
            o_t,
            "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_version BIGINT",
        )
        create_state_table(
            spark,
            l_t,
            "l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE,"
            " l_discount DOUBLE",
        )
        create_state_table(
            spark,
            v_t,
            "o_orderkey BIGINT, l_linenumber INT, o_custkey BIGINT, o_orderstatus STRING,"
            " l_quantity DOUBLE, revenue DOUBLE, o_version BIGINT",
        )

    stage = stage_dir or stage_order_lineitem_chunks(sf_dir, n_chunks)
    schema = (
        "side string, o_orderkey long, o_custkey long, o_orderstatus string,"
        " l_orderkey long, l_linenumber int, l_quantity double,"
        " l_extendedprice double, l_discount double"
    )
    feed = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)

    def ivm_batch(df: DataFrame, epoch_id: int) -> None:
        _ivm_epoch(
            df, epoch_id, o_t, l_t, v_t, d_t, agg_t, fold_every, refold_width,
            ld_t=ld_t, mx_t=mx_t, u_t=u_t, dc_t=dc_t,
            tk_t=tk_t, topk_k=maintain_topk or 0,
            tkg_t=tkg_t, aggg_t=aggg_t, topkg_k=maintain_topk_grouped or 0,
        )

    return _start(feed, ivm_batch, f"{name}_q", checkpoint_dir)


def _ivm_write_epoch(s: SparkSession, df: DataFrame, table: str, epoch_id: int) -> None:
    write_epoch(df, table, epoch_id)
    s.catalog.refreshTable(table)


def _ivm_epoch(
    df: DataFrame,
    epoch_id: int,
    o_t: str,
    l_t: str,
    v_t: str,
    d_t: str | None = None,
    agg_t: str | None = None,
    fold_every: int | None = None,
    refold_width: int | None = None,
    ld_t: str | None = None,
    mx_t: str | None = None,
    u_t: str | None = None,
    dc_t: str | None = None,
    tk_t: str | None = None,
    topk_k: int = 0,
    tkg_t: str | None = None,
    aggg_t: str | None = None,
    topkg_k: int = 0,
) -> None:
    """One delta-rule micro-batch, idempotent under last-epoch replay:
    the state reads exclude the in-flight epoch (`epoch != epoch_id`
    composed with `live`), so a replay after a crash mid-writes
    recomputes ΔV from identical state and dynamic-overwrites every
    epoch partition byte-identically. Deletes tombstone at BOTH
    granularities — side='O_DEL' (order key → `d_t`) and side='L_DEL'
    ((l_orderkey, l_linenumber) → `ld_t`): every ΔV term and both state
    inserts anti-join the live delete sets (historical ∪ this batch's),
    so a deleted key never re-enters state — including the out-of-order
    delete-before-insert case at either granularity.

    `agg_t` (optional) additionally maintains a RETRACTABLE aggregate MV
    on top of the join view — per-customer (net row count, DECIMAL
    revenue) partials: +ΔV's contribution each epoch, MINUS the retired
    view rows' contribution at the epoch a tombstone lands (scanned from
    the live pre-delete view rows — O(matching rows)). Retraction is
    idempotent under at-least-once delivery (CDC's norm): only
    FIRST-SEEN delete keys (distinct within the batch, anti-joined
    against the historical tombstone set) trigger it, and a row retired
    by an earlier epoch's tombstone of EITHER granularity is excluded
    from later retire scans — a redelivered or overlapping delete
    retracts nothing. DECIMAL sums re-associate exactly, so the
    read-side rollup is bit-identical to a batch aggregate over
    never-deleted rows.

    `mx_t` (optional) maintains the NON-INVERTIBLE aggregate MV:
    per-customer MAX(revenue). Inserts are monotone (a per-epoch
    (o_custkey, max ΔV revenue) partial merges by max at read), but a
    delete can LOWER a max and no sign trick recovers it — the classic
    IVM hard case. At a tombstone's arrival epoch the max is re-derived
    from the live post-delete view rows for ONLY the touched customers
    and written as a REBASE partial (rebase=true; NULL mx when every row
    died); the read side (`revenue_max_by_cust_view`) ignores a
    customer's partials older than their newest rebase. The rebase
    ordering lives in the epoch column, so `mx_t` is EXCLUDED from the
    watermark fold (a fold would replace epochs with negative base
    encodings and break the epoch ≥ rebase comparison — bounded instead
    by rebases collapsing history at every delete epoch, plus the
    offline `compact_max_mv`).

    `u_t` (optional) enables O_UPD upserts — arrival-epoch
    last-write-wins versioning via the `o_version` DATA column (see
    `run_join_ivm_stream`'s UPSERTS paragraph); fold-compatible by
    construction (data columns survive folds), so `u_t` itself folds
    with the per-key max merge.

    `dc_t` (optional) maintains the COUNT(DISTINCT) MV: per-customer
    distinct l_quantity. Distinct-count is non-invertible at the GROUP
    grain (a delete lowers the count only if it removed the value's
    last carrier) but EXACTLY invertible one grain down: refcount rows
    per (o_custkey, qty). Each epoch writes signed per-(customer,
    value) counts — +ΔV's rows, − the retired rows — and the read side
    (`distinct_qty_by_cust_view`) counts values whose net refcount > 0.
    Pure sums, so the partials fold with the same associative merge as
    the agg MV and replay idempotence is inherited; no rebase scan is
    ever needed (unlike max) because the value grain never loses
    information."""
    s = df.sparkSession
    # fold BEFORE the state reads so the fold-read path is under the
    # same replay gate as the probes (window ≤ epoch−1 only); mx_t is
    # deliberately NOT folded (see docstring)
    merges = {
        agg_t: _ivm_agg_merge, u_t: _ivm_u_merge, dc_t: _ivm_dc_merge,
        tk_t: _ivm_tk_merge, tkg_t: _ivm_tkg_merge, aggg_t: _ivm_aggg_merge,
    }
    for t in (o_t, l_t, v_t) + tuple(
        x for x in (d_t, ld_t, u_t, agg_t, dc_t, tk_t, tkg_t, aggg_t) if x
    ):
        maybe_fold(s, t, epoch_id, fold_every, merges.get(t, identity), refold_width)
    if u_t is not None:
        # upsert resolve: O and O_UPD are both VERSIONS of the key; within
        # a batch the winner is deterministic (O_UPD over O, then greatest
        # attribute struct — a CDC feed with sequence numbers would order
        # by those instead). One batch-sized hash agg, no state touched.
        d_o = (
            df.filter(F.col("side").isin("O", "O_UPD"))
            .select(
                "o_orderkey",
                F.when(F.col("side") == "O_UPD", F.lit(1)).otherwise(F.lit(0)).alias("prio"),
                "o_custkey",
                "o_orderstatus",
            )
            .groupBy("o_orderkey")
            .agg(F.max(F.struct("prio", "o_custkey", "o_orderstatus")).alias("m"))
            .select(
                "o_orderkey",
                F.col("m.o_custkey").alias("o_custkey"),
                F.col("m.o_orderstatus").alias("o_orderstatus"),
            )
        )
    else:
        d_o = df.filter(F.col("side") == "O").select(
            "o_orderkey", "o_custkey", "o_orderstatus"
        )
    # every order version is stamped with its arrival epoch as DATA
    # (fold-proof — partition epochs vanish into bases); the stamp is
    # unconditional because the table schema carries it either way
    d_o = d_o.withColumn("o_version", F.lit(epoch_id).cast("long"))
    d_l = df.filter(F.col("side") == "L").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"
    )
    o_state = (
        live(s, o_t)
        .filter(F.col("epoch") != epoch_id)
        .drop("epoch")
    )
    l_state = (
        live(s, l_t)
        .filter(F.col("epoch") != epoch_id)
        .drop("epoch")
    )
    u_lat = None
    if u_t is not None:
        u_lat = (
            live(s, u_t)
            .filter(F.col("epoch") != epoch_id)
            .drop("epoch")
            .groupBy("o_orderkey")
            .agg(F.max("ue").alias("ue"))
        )
        # last-write-wins: keep only each key's NEWEST version in state.
        # Broadcast is sound while re-upserted keys ≪ state (docstring).
        o_state = (
            o_state.join(F.broadcast(u_lat), "o_orderkey", "left")
            .filter(F.col("ue").isNull() | (F.col("o_version") == F.col("ue")))
            .drop("ue")
        )
    d_del = hist_o = None
    if d_t is not None:
        d_del = df.filter(F.col("side") == "O_DEL").select("o_orderkey")
        hist_o = (
            live(s, d_t)
            .filter(F.col("epoch") != epoch_id)
            .drop("epoch")
        )
        dead = hist_o.unionByName(d_del)
        # ΔO is cleansed BEFORE entering state (deletes win over inserts,
        # any arrival order); o_state is cleansed per epoch because its
        # rows may predate their key's tombstone
        d_o = d_o.join(dead, "o_orderkey", "left_anti")
        o_state = o_state.join(dead, "o_orderkey", "left_anti")
    d_ldel = hist_ld = None
    lkey = ["l_orderkey", "l_linenumber"]
    if ld_t is not None:
        d_ldel = df.filter(F.col("side") == "L_DEL").select(*lkey)
        hist_ld = (
            live(s, ld_t)
            .filter(F.col("epoch") != epoch_id)
            .drop("epoch")
        )
        dead_l = hist_ld.unionByName(d_ldel)
        # same discipline one granularity down: ΔL cleansed before state,
        # l_state cleansed per epoch — a line-deleted key never joins
        d_l = d_l.join(dead_l, lkey, "left_anti")
        l_state = l_state.join(dead_l, lkey, "left_anti")

    d_u = None
    o_state_t2 = o_state
    if u_t is not None and not d_o.isEmpty():
        # a key is RE-upserted iff a CURRENT prior version exists (an
        # O_UPD arriving before its insert simply inserts; the later
        # insert then supersedes it — last write wins). The probe is one
        # map-only state scan against the broadcast batch keys — the
        # same per-epoch read shape as the O_state⋈ΔL term.
        d_u = (
            o_state.select("o_orderkey")
            .join(F.broadcast(d_o.select("o_orderkey")), "o_orderkey", "left_semi")
            .distinct()
            .withColumn("ue", F.lit(epoch_id).cast("long"))
        )
        # term 2 must not join ΔL against a superseded version: keys
        # (re-)upserted THIS batch are fully covered by term 1
        # (new attrs ⋈ (L ∪ ΔL)), so exclude them from the state side
        o_state_t2 = o_state.join(
            F.broadcast(d_o.select("o_orderkey")), "o_orderkey", "left_anti"
        )

    def proj(j: DataFrame) -> DataFrame:
        return j.select(
            "o_orderkey",
            "l_linenumber",
            "o_custkey",
            "o_orderstatus",
            "l_quantity",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
                "revenue"
            ),
            # term 1 rows carry this batch's version, term 2 rows the
            # emitting order-state row's — the version the row REFLECTS
            "o_version",
        )

    d_v = proj(
        F.broadcast(d_o).join(
            l_state.unionByName(d_l), F.col("o_orderkey") == F.col("l_orderkey")
        )
    ).unionByName(
        proj(o_state_t2.join(F.broadcast(d_l), F.col("o_orderkey") == F.col("l_orderkey")))
    )
    # ΔV is written FIRST and every aggregate consumer reads this epoch's
    # partition BACK from the table (r14, guide §1.2/§2): the ΔV tree
    # (two state joins + the delete anti-joins) used to be re-derived
    # inside EVERY maintained MV's write plan — the grouped top-K epoch
    # alone embedded it ~5× via the partial frame, measured ~28 s/epoch
    # of duplicated subtree execution at sf0.001. A parquet roundtrip is
    # value-exact (IEEE doubles and DECIMALs are stored losslessly) and
    # every consumer is order-insensitive (sums/max/window ranks).
    # Replay-safe for the same reason replay itself is: the retire scan
    # below reads v_t with `epoch != epoch_id`, so the already-written
    # in-flight partition is invisible to it — exactly the replay case
    # (where the partition pre-exists) that the design already handles.
    _ivm_write_epoch(s, d_v, v_t, epoch_id)
    d_v = s.table(v_t).filter(F.col("epoch") == epoch_id).drop("epoch")

    # ---- shared retire computation (agg and mx both consume it) ----
    # gate the O(accumulated-view) retire scan on the micro-batch actually
    # carrying deletes or re-upserts (cheap batch/probe-sized checks) —
    # quiet epochs keep the documented O(|Δ|+matches) bound
    has_od = d_del is not None and not d_del.isEmpty()
    has_ld = d_ldel is not None and not d_ldel.isEmpty()
    has_upd = d_u is not None and not d_u.isEmpty()
    retired = post_live = None
    if (agg_t or mx_t or dc_t or tkg_t) and (has_od or has_ld or has_upd):
        pre_v = (
            live(s, v_t)
            .filter(F.col("epoch") != epoch_id)
            .drop("epoch")
        )
        # rows superseded by an EARLIER epoch's upsert were retracted at
        # that upsert's epoch — keep only each key's current version
        if u_lat is not None:
            pre_v = (
                pre_v.join(F.broadcast(u_lat), "o_orderkey", "left")
                .filter(F.col("ue").isNull() | (F.col("o_version") == F.col("ue")))
                .drop("ue")
            )
        # rows already retired by an EARLIER epoch's tombstone (either
        # granularity) are out of scope — the first-seen discipline
        eligible = pre_v
        if hist_o is not None:
            eligible = eligible.join(hist_o, "o_orderkey", "left_anti")
        fs_l = None
        if hist_ld is not None:
            # view rows key the line by (o_orderkey, l_linenumber) — the
            # join condition made o_orderkey == l_orderkey
            hist_ld_v = hist_ld.withColumnRenamed("l_orderkey", "o_orderkey")
            eligible = eligible.join(hist_ld_v, ["o_orderkey", "l_linenumber"], "left_anti")
            fs_l = (
                d_ldel.distinct()
                .join(hist_ld, lkey, "left_anti")
                .withColumnRenamed("l_orderkey", "o_orderkey")
            )
        fs_o = (
            d_del.distinct().join(hist_o, "o_orderkey", "left_anti")
            if d_del is not None
            else None
        )
        # each eligible row is retired by AT MOST ONE first-seen delete:
        # order-tombstoned rows first, then line tombstones over the rest
        parts = []
        rest = eligible
        if fs_o is not None:
            parts.append(eligible.join(F.broadcast(fs_o), "o_orderkey", "left_semi"))
            rest = eligible.join(F.broadcast(fs_o), "o_orderkey", "left_anti")
        if fs_l is not None:
            parts.append(
                rest.join(F.broadcast(fs_l), ["o_orderkey", "l_linenumber"], "left_semi")
            )
            rest = rest.join(
                F.broadcast(fs_l), ["o_orderkey", "l_linenumber"], "left_anti"
            )
        if has_upd:
            # upsert-superseded rows: the key's current version is being
            # replaced this epoch — retract the old rows wholesale (the
            # new full row set rides ΔV via term 1). Runs AFTER the
            # delete terms so a row deleted and re-upserted in one batch
            # retires exactly once (and the delete wins: d_o was cleansed,
            # so no new rows re-emit for it).
            uk = d_u.select("o_orderkey")
            parts.append(rest.join(F.broadcast(uk), "o_orderkey", "left_semi"))
            rest = rest.join(F.broadcast(uk), "o_orderkey", "left_anti")
        retired = parts[0]
        for p in parts[1:]:
            retired = retired.unionByName(p)
        # delta-sized by the retire bound; persisted because up to four
        # MV partials consume it (unpersisted when the epoch ends, also
        # when a write fails)
        retired = retired.persist()
        post_live = rest  # live pre-epoch rows after this batch's deletes/upserts

    try:
        if agg_t is not None:
            # retractable aggregate partial: +ΔV, −(view rows retired by this
            # batch's FIRST-SEEN tombstones). Replay-deterministic: every
            # input is pre-epoch live state or the batch itself.
            signed = d_v.select("o_custkey", "revenue", F.lit(1).alias("sign"))
            if retired is not None:
                signed = signed.unionByName(
                    retired.select("o_custkey", "revenue", F.lit(-1).alias("sign"))
                )
            partial = signed.groupBy("o_custkey").agg(
                F.sum("sign").cast("long").alias("n"),
                F.sum(F.col("sign") * F.col("revenue").cast("decimal(18,6)"))
                .cast("decimal(18,6)")
                .alias("rev"),
            )
            # the retire scan reads v_t with epoch != epoch_id, so the
            # already-written in-flight ΔV partition is invisible to it
            # (replay-identical reads — see the ΔV write note above)
            _ivm_write_epoch(s, partial, agg_t, epoch_id)
            if tk_t is not None:
                # the top-K epoch consumes the partial it can now READ BACK
                # (several references → table scans, not plan copies)
                partial = s.table(agg_t).filter(F.col("epoch") == epoch_id).drop("epoch")
                _ivm_topk_epoch(s, partial, agg_t, tk_t, topk_k, epoch_id)
        if tkg_t is not None:
            signed_g = d_v.select(
                F.col("o_orderstatus").alias("grp"), "o_custkey", "revenue",
                F.lit(1).alias("sign"),
            )
            if retired is not None:
                signed_g = signed_g.unionByName(
                    retired.select(
                        F.col("o_orderstatus").alias("grp"), "o_custkey", "revenue",
                        F.lit(-1).alias("sign"),
                    )
                )
            partial_g = signed_g.groupBy("grp", "o_custkey").agg(
                F.sum("sign").cast("long").alias("n"),
                F.sum(F.col("sign") * F.col("revenue").cast("decimal(18,6)"))
                .cast("decimal(18,6)")
                .alias("rev"),
            )
            _ivm_write_epoch(s, partial_g, aggg_t, epoch_id)
            # read the just-written partial back: the grouped top-K epoch
            # references it ~5× (touched keys/groups, pool, rebase) — as a
            # table scan each reference is cheap; as the signed_g plan it
            # re-executed the ΔV+retire tree per reference
            partial_g = s.table(aggg_t).filter(F.col("epoch") == epoch_id).drop("epoch")
            _ivm_topk_grouped_epoch(s, partial_g, aggg_t, tkg_t, topkg_k, epoch_id)
        if mx_t is not None:
            # insert partial: max over ΔV per customer (inserts only raise a
            # max, so per-epoch max partials merge exactly at read)
            parts_mx = (
                d_v.groupBy("o_custkey")
                .agg(F.max("revenue").alias("mx"))
                .withColumn("rebase", F.lit(False))
            )
            if retired is not None:
                # rebase: re-derive the max from live POST-delete rows for
                # only the touched customers — O(touched customers' rows).
                # LEFT join keeps fully-retired customers as NULL-mx rebases
                # (they drop out at read unless later inserts arrive).
                touched = retired.select("o_custkey").distinct()
                rebased = (
                    touched.join(
                        post_live.groupBy("o_custkey").agg(F.max("revenue").alias("mx")),
                        "o_custkey",
                        "left",
                    )
                    .withColumn("rebase", F.lit(True))
                )
                parts_mx = parts_mx.unionByName(rebased)
            _ivm_write_epoch(s, parts_mx, mx_t, epoch_id)
        if dc_t is not None:
            # refcount partial at the (customer, value) grain: +1 per ΔV
            # row, −1 per retired row. A value's refcount only hits zero
            # when its LAST carrier dies — exactly when COUNT(DISTINCT)
            # drops — so the read-side `> 0` filter is exact with no
            # rebase scan. One batch-sized hash agg; same replay
            # determinism as the agg partial (inputs are pre-epoch state
            # + the batch).
            signed_dc = d_v.select(
                "o_custkey", F.col("l_quantity").alias("qty"), F.lit(1).alias("sign")
            )
            if retired is not None:
                signed_dc = signed_dc.unionByName(
                    retired.select(
                        "o_custkey",
                        F.col("l_quantity").alias("qty"),
                        F.lit(-1).alias("sign"),
                    )
                )
            partial_dc = signed_dc.groupBy("o_custkey", "qty").agg(
                F.sum("sign").cast("long").alias("c")
            )
            _ivm_write_epoch(s, partial_dc, dc_t, epoch_id)
        _ivm_write_epoch(s, d_o, o_t, epoch_id)
        _ivm_write_epoch(s, d_l, l_t, epoch_id)
        if d_t is not None:
            _ivm_write_epoch(s, d_del, d_t, epoch_id)
        if ld_t is not None:
            _ivm_write_epoch(s, d_ldel, ld_t, epoch_id)
        if u_t is not None:
            if d_u is None:
                d_u = s.createDataFrame([], "o_orderkey long, ue long")
            _ivm_write_epoch(s, d_u, u_t, epoch_id)
    finally:
        if retired is not None:
            retired.unpersist()


def _ivm_agg_merge(df: DataFrame) -> DataFrame:
    """Join-IVM aggregate fold merge: the same associative (count,
    DECIMAL) sums the view performs — negative retraction partials
    cancel into the base exactly."""
    return df.groupBy("o_custkey").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("rev").cast("decimal(18,6)").alias("rev"),
    )


def _ivm_u_merge(df: DataFrame) -> DataFrame:
    """Upsert-log fold merge: readers only consume the per-key MAX(ue),
    and max re-associates — ue is a data column, so the fold's loss of
    partition epochs is immaterial (the o_version design's point)."""
    return df.groupBy("o_orderkey").agg(F.max("ue").alias("ue"))


def _ivm_tk_merge(df: DataFrame) -> DataFrame:
    """Top-K candidate-set fold merge: the tk table is VERSIONED state,
    not additive partials — each epoch writes the complete new candidate
    set tagged with its writing epoch (`ve`, a data column, so the
    version survives the fold's partition-epoch erasure). The merge
    keeps only the newest version's rows; older candidate sets are
    superseded whole."""
    mx = df.agg(F.max("ve").alias("_mv"))
    return df.join(F.broadcast(mx), F.col("ve") == F.col("_mv")).drop("_mv")


def _ivm_topk_epoch(
    s: SparkSession, partial: DataFrame, agg_t: str, tk_t: str, k: int, epoch_id: int
) -> None:
    """Maintain the TOP-K aggregate MV — the RANKING hard case of
    incremental view maintenance: which customers currently have the K
    largest maintained revenues, under inserts AND retractions, without
    re-ranking the whole group-grain MV every epoch.

    The classical bounded-candidates design (the shape FAISS-style
    shortlists and streaming top-k both use): keep M = 4K candidates
    plus an EVICTION BOUND `b` = the largest total any key ever had at
    the moment it was evicted from the candidate set. A non-candidate's
    total only changes when the key is touched by a delta — and a
    touched key always re-enters the pool for re-ranking — so every
    absent key's current total is its total at last eviction, which is
    ≤ b by construction. Serving the top-K from the candidate set alone
    is therefore exact whenever the K-th candidate's total is STRICTLY
    above b. Inserts raise candidate totals and never threaten the
    invariant; retractions shrink them, and when the K-th total sinks
    to ≤ b the epoch REBASES: one O(group-grain MV) re-rank rebuilds the
    pool and resets b to the (M+1)-th total — the LARGEST EXCLUDED key's
    total, so b is exactly the non-candidate bound and boundary ties
    cannot force a rebase every epoch. Amortized cost:
    O(|touched| + M) per epoch, with rare MV-sized rebases only under
    delete pressure near the boundary — never a fact-table scan.

    Every epoch also writes a SENTINEL row (NULL customer) carrying
    (b, ve): an epoch that retracts every candidate still versions the
    set forward to empty instead of leaving max(ve) pointing at the
    pre-retraction rows (the stale-serve hazard the grouped twin's
    sentinels exist for).

    Replay-deterministic like every other partial: inputs are pre-epoch
    live state (agg partials and the previous candidate set, both read
    with `epoch != epoch_id`) plus this batch's own partial frame. The
    previous candidate set is bounded (≤ M+1 rows per live version), so
    ONE collect serves the version pick, the bound and the prior
    candidates together; the pool ranking collects M+1 rows."""
    m = 4 * k
    live_agg = (
        live(s, agg_t)
        .filter(F.col("epoch") != epoch_id)
        .drop("epoch")
    )
    tk_rows = (
        live(s, tk_t)
        .filter(F.col("epoch") != epoch_id)
        .drop("epoch")
        .collect()  # bounded: ≤ (M+1) rows per live version
    )
    pv = max((r.ve for r in tk_rows), default=None)
    prev_rows = [r for r in tk_rows if r.ve == pv] if pv is not None else []
    b_prev = max((r.b for r in prev_rows if r.b is not None), default=None)
    prev_cand_rows = [(r.o_custkey, r.rev) for r in prev_rows if r.o_custkey is not None]

    touched = partial.select("o_custkey").distinct()
    cur_touched = (
        live_agg.join(F.broadcast(touched), "o_custkey", "left_semi")
        .select("o_custkey", "n", "rev")
        .unionByName(partial.select("o_custkey", "n", "rev"))
        .groupBy("o_custkey")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("rev").cast("decimal(18,6)").alias("rev"),
        )
        .filter(F.col("n") > 0)  # fully-retracted keys leave the ranking
        .select("o_custkey", "rev")
    )

    def full_rerank():
        full = (
            live_agg.select("o_custkey", "n", "rev")
            .unionByName(partial.select("o_custkey", "n", "rev"))
            .groupBy("o_custkey")
            .agg(
                F.sum("n").cast("long").alias("n"),
                F.sum("rev").cast("decimal(18,6)").alias("rev"),
            )
            .filter(F.col("n") > 0)
            .select("o_custkey", "rev")
        )
        rows = full.orderBy(F.desc("rev"), F.asc("o_custkey")).limit(m + 1).collect()
        # b = the largest EXCLUDED total — exactly the non-candidate bound
        cands, b = rows[:m], (rows[m].rev if len(rows) > m else None)
        return cands, b, True

    if pv is None:
        cands, b, rebased = full_rerank()
    else:
        prev_cand = s.createDataFrame(
            prev_cand_rows, "o_custkey long, rev decimal(18,6)"
        )
        pool = (
            prev_cand.join(F.broadcast(touched), "o_custkey", "left_anti")
            .unionByName(cur_touched)
        )
        rows = pool.orderBy(F.desc("rev"), F.asc("o_custkey")).limit(m + 1).collect()
        cands = rows[:m]
        evicted_max = rows[m].rev if len(rows) > m else None
        b = max(x for x in (b_prev, evicted_max) if x is not None) if (
            b_prev is not None or evicted_max is not None
        ) else None
        kth = cands[k - 1].rev if len(cands) >= k else None
        valid = b is None or (kth is not None and kth > b)
        if valid:
            rebased = False
        else:
            cands, b, rebased = full_rerank()

    out = s.createDataFrame(
        [(r.o_custkey, r.rev, b, rebased, epoch_id) for r in cands]
        + [(None, None, b, None, epoch_id)],  # sentinel: always version forward
        "o_custkey long, rev decimal(18,6), b decimal(18,6), rebased boolean, ve long",
    )
    _ivm_write_epoch(s, out, tk_t, epoch_id)


def _ivm_aggg_merge(df: DataFrame) -> DataFrame:
    """Grouped aggregate fold merge: (grp, customer)-grain signed sums."""
    return df.groupBy("grp", "o_custkey").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("rev").cast("decimal(18,6)").alias("rev"),
    )


def _ivm_tkg_merge(df: DataFrame) -> DataFrame:
    """Grouped top-K fold merge: versioned PER GROUP — keep each group's
    newest version's rows (sentinel marker rows included)."""
    from pyspark.sql import Window

    w = Window.partitionBy("grp")
    return (
        df.withColumn("_mv", F.max("ve").over(w))
        .filter(F.col("ve") == F.col("_mv"))
        .drop("_mv")
    )


def _ivm_topk_grouped_epoch(
    s: SparkSession, partial_g: DataFrame, aggg_t: str, tkg_t: str, k: int, epoch_id: int
) -> None:
    """The GROUPED top-K retraction MV — `_ivm_topk_epoch`'s design with
    the per-epoch decision kept ENTIRELY distributed: with one ranking
    per group there is no bounded scalar to collect, so candidate
    ranking, the eviction-bound update, the validity test AND the
    selective rebase are all window/join operations — the shape that
    survives a million groups on a cluster, where the global variant's
    driver-side M+1-row peek would not.

    Per epoch, for TOUCHED groups only (a group's ranking can only
    change when one of its keys is touched): pool = previous candidates
    minus touched keys ∪ touched keys' current totals; rank per group;
    keep M = 4K; b' = greatest(b, largest evicted total). Groups whose
    K-th candidate no longer clears b' REBASE from the (grp, customer)
    aggregate partials — left-semi-filtered to exactly the violated
    groups, so rebase IO is O(violated groups' MV rows), never the whole
    MV. Every touched group also writes a SENTINEL row (NULL customer)
    carrying (b, ve): a group whose candidates all retract still
    versions forward instead of serving a stale older set. Untouched
    groups keep their previous version; reads and folds pick each
    group's newest (`_ivm_tkg_merge`)."""
    from pyspark.sql import Window

    m = 4 * k
    live_g = (
        live(s, aggg_t)
        .filter(F.col("epoch") != epoch_id)
        .drop("epoch")
    )
    tkg_live = (
        live(s, tkg_t)
        .filter(F.col("epoch") != epoch_id)
        .drop("epoch")
    )
    w_g = Window.partitionBy("grp")
    prev = (
        tkg_live.withColumn("_mv", F.max("ve").over(w_g))
        .filter(F.col("ve") == F.col("_mv"))
        .drop("_mv", "ve", "rebased")
    )
    touched_k = partial_g.select("grp", "o_custkey")
    touched_g = partial_g.select("grp").distinct()

    cur_touched = (
        live_g.join(F.broadcast(touched_k), ["grp", "o_custkey"], "left_semi")
        .select("grp", "o_custkey", "n", "rev")
        .unionByName(partial_g)
        .groupBy("grp", "o_custkey")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("rev").cast("decimal(18,6)").alias("rev"),
        )
        .filter(F.col("n") > 0)
        .select("grp", "o_custkey", "rev")
    )
    b_prev = prev.groupBy("grp").agg(F.max("b").alias("b_prev"))
    pool = (
        prev.filter(F.col("o_custkey").isNotNull())
        .select("grp", "o_custkey", "rev")
        .join(F.broadcast(touched_g), "grp", "left_semi")
        .join(F.broadcast(touched_k), ["grp", "o_custkey"], "left_anti")
        .unionByName(cur_touched)
    )
    w_rank = Window.partitionBy("grp").orderBy(F.desc("rev"), F.asc("o_custkey"))
    ranked = pool.withColumn("_r", F.row_number().over(w_rank))
    stats = (
        touched_g.join(  # spine: a touched group with an EMPTY pool must
            # still version forward (decide + sentinel), not serve stale rows
            ranked.groupBy("grp").agg(
                F.max(F.when(F.col("_r") == m + 1, F.col("rev"))).alias("evicted_max"),
                F.max(F.when(F.col("_r") == k, F.col("rev"))).alias("kth"),
            ),
            "grp",
            "left",
        )
        .join(b_prev, "grp", "left")
        .select(
            "grp",
            F.greatest("b_prev", "evicted_max").alias("b_new"),
            "kth",
        )
        .withColumn(
            "_valid",
            F.col("b_new").isNull()
            | (F.col("kth").isNotNull() & (F.col("kth") > F.col("b_new"))),
        )
    )
    valid_g = stats.filter(F.col("_valid")).select("grp", "b_new")
    violated_g = stats.filter(~F.col("_valid")).select("grp")

    kept_valid = (
        ranked.filter(F.col("_r") <= m)
        .join(F.broadcast(valid_g), "grp")
        .select("grp", "o_custkey", "rev", F.col("b_new").alias("b"),
                F.lit(False).alias("rebased"))
    )
    full_v = (
        live_g.select("grp", "o_custkey", "n", "rev")
        .unionByName(partial_g)
        .join(F.broadcast(violated_g), "grp", "left_semi")
        .groupBy("grp", "o_custkey")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("rev").cast("decimal(18,6)").alias("rev"),
        )
        .filter(F.col("n") > 0)
        .withColumn("_r", F.row_number().over(w_rank))
    )
    b_rebase = full_v.groupBy("grp").agg(
        F.max(F.when(F.col("_r") == m + 1, F.col("rev"))).alias("b")
    )
    kept_rebased = (
        full_v.filter(F.col("_r") <= m)
        .join(b_rebase, "grp", "left")
        .select("grp", "o_custkey", "rev", "b", F.lit(True).alias("rebased"))
    )
    # sentinel: every touched group versions forward even if it kept
    # zero candidates (all retracted) — carries the group's new bound
    bounds = valid_g.select("grp", F.col("b_new").alias("b")).unionByName(
        violated_g.join(b_rebase, "grp", "left").select("grp", "b")
    )
    sentinels = bounds.select(
        "grp",
        F.lit(None).cast("long").alias("o_custkey"),
        F.lit(None).cast("decimal(18,6)").alias("rev"),
        "b",
        F.lit(None).cast("boolean").alias("rebased"),
    )
    out = (
        kept_valid.unionByName(kept_rebased)
        .unionByName(sentinels)
        .withColumn("ve", F.lit(epoch_id).cast("long"))
        .select("grp", "o_custkey", "rev", "b", "rebased", "ve")
    )
    _ivm_write_epoch(s, out, tkg_t, epoch_id)


def top_customers_by_group_view(
    spark: SparkSession, name: str = "orderwide", k: int = 5
) -> DataFrame:
    """Serve the grouped maintained top-K: each group's newest version,
    re-ranked (≤ M rows per group), cut to K — sentinel rows dropped
    after version selection. Read cost O(groups · M); the group-grain
    aggregate MV and the fact tables are never touched."""
    from pyspark.sql import Window

    tkg = live(spark, f"{name}_tkg")
    w_g = Window.partitionBy("grp")
    cur = (
        tkg.withColumn("_mv", F.max("ve").over(w_g))
        .filter((F.col("ve") == F.col("_mv")) & F.col("o_custkey").isNotNull())
    )
    w = Window.partitionBy("grp").orderBy(F.desc("rev"), F.asc("o_custkey"))
    return (
        cur.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("grp").alias("o_orderstatus"),
            "o_custkey",
            F.col("rev").cast("double").alias("revenue"),
            "rank",
        )
    )


def top_customers_by_rev_view(
    spark: SparkSession, name: str = "orderwide", k: int = 10
) -> DataFrame:
    """Serve the maintained top-K: the newest candidate-set version,
    re-ranked (M rows — constant), cut to K. Never touches the
    group-grain aggregate MV, let alone the join view or fact tables:
    the read is O(M) against a table bounded by M rows per live
    partition."""
    from pyspark.sql import Window

    tk = live(spark, f"{name}_tk")
    mx = tk.agg(F.max("ve")).collect()[0][0]
    # sentinel rows (NULL customer) exist so an all-retracted epoch still
    # versions forward — drop them after the version pick
    cur = tk.filter((F.col("ve") == F.lit(mx)) & F.col("o_custkey").isNotNull())
    w = Window.orderBy(F.desc("rev"), F.asc("o_custkey"))
    return (
        cur.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "o_custkey", F.col("rev").cast("double").alias("revenue"), "rank"
        )
    )


def _ivm_dc_merge(df: DataFrame) -> DataFrame:
    """Distinct-count refcount fold merge: signed per-(customer, value)
    counts sum associatively — retraction partials cancel into the base
    exactly. Zero-netted pairs are DROPPED from the base: a retraction
    always lands in a later epoch than the insert it cancels (retire
    scans only pre-epoch live rows; delete-before-insert keys never
    enter ΔV at all), and folds merge contiguous oldest-epoch prefixes,
    so any −1 inside the window has its +1 inside too — a zero net is
    a dead pair, never a partial retraction awaiting its insert.
    Dropping it is exact for future sums (0 adds nothing) and bounds
    the state table by LIVE (customer, value) pairs instead of
    ever-seen ones — the dc-table analog of `compact_max_mv`'s rebase
    collapse."""
    return (
        df.groupBy("o_custkey", "qty")
        .agg(F.sum("c").cast("long").alias("c"))
        .filter(F.col("c") != 0)
    )


def revenue_by_cust_view(spark: SparkSession, name: str = "orderwide") -> DataFrame:
    """The retractable aggregate MV's current state: per-customer net
    item count + DECIMAL-exact revenue over the maintained join view.
    Customers whose every order was deleted net to n = 0 and drop out —
    identically to a batch aggregate that never saw them. Emits revenue
    as double AFTER the exact decimal rollup (the money discipline)."""
    return (
        live(spark, f"{name}_agg").groupBy("o_custkey")
        .agg(
            F.sum("n").cast("long").alias("n_items"),
            F.sum("rev").cast("decimal(18,6)").alias("_rev"),
        )
        .filter(F.col("n_items") > 0)
        .select(
            "o_custkey", "n_items", F.col("_rev").cast("double").alias("revenue")
        )
    )


def order_wide_view_asof(
    spark: SparkSession, epoch: int, name: str = "orderwide"
) -> DataFrame:
    """TIME-TRAVEL read of the maintained join view: its exact contents
    as of the end of `epoch` — the capability epoch-partitioned deltas
    give almost for free (a Delta/Iceberg snapshot read, derived from
    the MV's own layout, no extra state): keep view rows, tombstones and
    upsert-log entries with partition epoch ≤ `epoch` and apply the SAME
    read-side filters the live view applies. Every delta is written in
    exactly one epoch and never mutated, so the ≤-filtered composition
    IS the historical view (pinned in tests against a replay stopped at
    that chunk).

    Fold interaction, explicitly: the watermark fold trades PER-EPOCH
    history for bounded partition counts — a folded base carries the
    whole window at its top watermark. Time travel is therefore exact
    for epochs ≥ the newest fold watermark (bases cover prefixes ≤ wm);
    asking for an epoch below a fold watermark raises rather than
    silently answering from coarser bases. At 100 TB this is the same
    trade lakehouse formats make: VACUUM/compaction bounds retention."""
    wm = max((w for _, w in _base_tiers(_partition_epochs(spark, f"{name}_v"))), default=-1)
    if epoch < wm:
        raise ValueError(
            f"epoch {epoch} predates the fold watermark {wm}: its deltas were "
            f"absorbed into a base (run without fold_every to keep full history)"
        )

    def upto(table: str) -> DataFrame:
        return (
            live(spark, table)
            .filter(F.col("epoch") <= epoch)
            .drop("epoch")
        )

    v = upto(f"{name}_v")
    if spark.catalog.tableExists(f"{name}_d"):
        v = v.join(upto(f"{name}_d"), "o_orderkey", "left_anti")
    if spark.catalog.tableExists(f"{name}_ld"):
        dead_l = upto(f"{name}_ld").withColumnRenamed("l_orderkey", "o_orderkey")
        v = v.join(dead_l, ["o_orderkey", "l_linenumber"], "left_anti")
    if spark.catalog.tableExists(f"{name}_u"):
        u_lat = (
            upto(f"{name}_u").groupBy("o_orderkey").agg(F.max("ue").alias("ue"))
        )
        v = (
            v.join(F.broadcast(u_lat), "o_orderkey", "left")
            .filter(F.col("ue").isNull() | (F.col("o_version") == F.col("ue")))
            .drop("ue")
        )
    return v.drop("o_version") if "o_version" in v.columns else v


def compact_max_mv(spark: SparkSession, name: str = "orderwide") -> int:
    """Compaction pass for the max-MV partials table — the growth story
    its fold-exclusion defers to (`<name>_mx` can't take the watermark
    fold: negative base encodings would break the epoch ≥ rebase
    comparison). Collapse the table to ONE rebase row per customer at
    the NEWEST existing epoch — the max re-derived through the served
    view for live customers, NULL-mx for customers whose every row died
    (they must stay superseded: dropping them instead would resurrect
    their pre-rebase insert partials if a crash leaves old partitions
    behind) — then GC every older partition. Read-identical by
    construction (the view's last-rebase filter then sees exactly the
    top-epoch rebase plus nothing older per customer), idempotent, and
    crash-safe in the fold family's style: with the top-epoch write
    landed, every older partition is superseded for every customer, so
    the drops are pure GC a re-run completes. Run quiesced, like
    `purge_tombstoned_rows`. Returns partitions GC'd."""
    mx_t = f"{name}_mx"
    if not spark.catalog.tableExists(mx_t):
        return 0
    eps = _partition_epochs(spark, mx_t)
    if len(eps) <= 1:
        return 0
    top = max(eps)
    custs = spark.table(mx_t).select("o_custkey").distinct()
    served = revenue_max_by_cust_view(spark, name).select(
        "o_custkey", F.col("max_revenue").alias("mx")
    )
    rebased = (
        custs.join(served, "o_custkey", "left")
        .withColumn("rebase", F.lit(True))
        # barrier: the overwrite reads the partitions it replaces
        .localCheckpoint(eager=True)
    )
    _ivm_write_epoch(spark, rebased, mx_t, top)
    dropped = [e for e in eps if e != top]
    for e in dropped:
        spark.sql(f"ALTER TABLE {mx_t} DROP IF EXISTS PARTITION (epoch={e})")
    spark.catalog.refreshTable(mx_t)
    return len(dropped)


def order_wide_view(spark: SparkSession, name: str = "orderwide") -> DataFrame:
    """The maintained join view's live rows — equals the batch
    orders ⋈ lineitem projection over every ingested row whose order was
    never deleted and whose line key was never line-deleted, at each
    order's NEWEST upserted version (each join pair is emitted by
    exactly one delta term in exactly one epoch: the epoch its LATER
    side arrived; view rows written before their key's tombstone — at
    either granularity — are anti-joined out at read, and rows of
    superseded versions are o_version-filtered out). Fold-aware via
    `live` on every table; the version filter keys on the
    o_version DATA column, so it survives folds too."""
    v = live(spark, f"{name}_v").drop("epoch")
    # targeted existence probes — a bare try/except here would swallow
    # real read errors and silently serve UNDELETED rows
    if spark.catalog.tableExists(f"{name}_d"):
        dead = live(spark, f"{name}_d").drop("epoch")
        v = v.join(dead, "o_orderkey", "left_anti")
    if spark.catalog.tableExists(f"{name}_ld"):
        dead_l = (
            live(spark, f"{name}_ld")
            .drop("epoch")
            # view rows key the line by (o_orderkey, l_linenumber)
            .withColumnRenamed("l_orderkey", "o_orderkey")
        )
        v = v.join(dead_l, ["o_orderkey", "l_linenumber"], "left_anti")
    if spark.catalog.tableExists(f"{name}_u"):
        u_lat = (
            live(spark, f"{name}_u")
            .drop("epoch")
            .groupBy("o_orderkey")
            .agg(F.max("ue").alias("ue"))
        )
        v = (
            v.join(F.broadcast(u_lat), "o_orderkey", "left")
            .filter(F.col("ue").isNull() | (F.col("o_version") == F.col("ue")))
            .drop("ue")
        )
    return v.drop("o_version") if "o_version" in v.columns else v


def revenue_max_by_cust_view(spark: SparkSession, name: str = "orderwide") -> DataFrame:
    """The NON-INVERTIBLE aggregate MV's current state: per-customer
    MAX(revenue) over the maintained join view. Partials are per-epoch
    insert maxima plus REBASE rows written at delete epochs (the max
    re-derived from live rows for only the touched customers); a
    customer's answer is the max over partials at-or-after their newest
    rebase — older insert partials may include since-deleted rows and
    are superseded. Customers whose every row died carry a NULL-mx
    rebase and drop out, identically to a batch aggregate that never saw
    them. The epoch comparison is exact because `<name>_mx` is never
    watermark-folded (see `_ivm_epoch`)."""
    mx = live(spark, f"{name}_mx")
    last_rb = (
        mx.filter(F.col("rebase"))
        .groupBy("o_custkey")
        .agg(F.max("epoch").alias("rb_epoch"))
    )
    return (
        mx.join(last_rb, "o_custkey", "left")
        .filter(F.col("rb_epoch").isNull() | (F.col("epoch") >= F.col("rb_epoch")))
        .groupBy("o_custkey")
        .agg(F.max("mx").alias("max_revenue"))
        .filter(F.col("max_revenue").isNotNull())
    )


def distinct_qty_by_cust_view(spark: SparkSession, name: str = "orderwide") -> DataFrame:
    """The COUNT(DISTINCT) MV's current state: per-customer distinct
    l_quantity count over the maintained join view. The rollup sums the
    signed refcount partials per (customer, value), keeps values whose
    net refcount is positive, and counts them — exact under deletion at
    either granularity because a value leaves the count precisely when
    its last carrier row was retired. Customers with no surviving value
    produce no rows after the > 0 filter and drop out, identically to a
    batch COUNT(DISTINCT) that never saw them. Two hash aggregates over
    MV-sized (not view-sized) state; both keyed on o_custkey first, so
    AQE coalesces them onto one exchange."""
    ref = (
        live(spark, f"{name}_dc").groupBy("o_custkey", "qty")
        .agg(F.sum("c").cast("long").alias("c"))
        .filter(F.col("c") > 0)
    )
    return ref.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("n_qty")
    )


def stage_cust_order_lineitem_chunks(
    sf_dir: str,
    n_chunks: int = 3,
    delete_mod: int | None = None,
    update_mod: int | None = None,
    cust_update_mod: int | None = None,
) -> str:
    """Stage customer + orders + lineitem as ONE interleaved arrival feed
    for the THREE-way join IVM: three tables' inserts multiplexed through
    a single ordered stream. Customers land in chunk c_custkey % n,
    orders in o_orderkey % n, lineitems in (l_orderkey + l_linenumber)
    % n — so every relative arrival order the ternary delta rule must
    handle occurs: customer-before-order, order-before-customer, lines
    before/with/after both. `delete_mod` adds O_DEL tombstones routed one
    chunk after the insert (last chunk's keys delete in chunk 0 —
    delete-before-insert), same contract as the binary feed.

    `update_mod=m` adds an `O_UPD` upsert for every order with
    o_orderkey % m == 0, routed TWO chunks after the insert by
    (key % n + 2) % n — the binary feed's contract, so only chunk-0
    keys' updates WIN under arrival-epoch last-write-wins. The new
    attribute is the ternary-specific hard case: o_custkey moves to
    `o_custkey % max(c_custkey) + 1` — always a DIFFERENT, EXISTING
    customer (keys are 1..N contiguous), so a winning upsert re-routes
    the order's revenue through another customer's nation and a broken
    retract-and-emit shows in the per-nation aggregate hashes.

    `cust_update_mod=m` adds a `C_UPD` DIMENSION update for every
    customer with c_custkey % m == 0 — new c_nationkey = (old + 1) % 25
    — routed two chunks after the insert by the same rule. This is the
    SCD-vs-IVM hard case: a dimension-side update must retract and
    re-emit EVERY fact row already joined through that customer, at
    O(that customer's rows), never a view rebuild."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("side", pa.string()),
            ("c_custkey", pa.int64()),
            ("c_nationkey", pa.int32()),
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("l_orderkey", pa.int64()),
            ("l_linenumber", pa.int32()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
        ]
    )
    c = pq.read_table(os.path.join(sf_dir, "customer.parquet")).to_pandas()
    o = pq.read_table(os.path.join(sf_dir, "orders.parquet")).to_pandas()
    li = pq.read_table(os.path.join(sf_dir, "lineitem.parquet")).to_pandas()
    max_ck = int(c["c_custkey"].max())
    stage = tempfile.mkdtemp(prefix="spark_graft_ivm3_")
    base = None
    for i in range(n_chunks):
        cc = c[c["c_custkey"] % n_chunks == i]
        oc = o[o["o_orderkey"] % n_chunks == i]
        lc = li[(li["l_orderkey"] + li["l_linenumber"]) % n_chunks == i]
        dk = []
        if delete_mod:
            d = o[
                (o["o_orderkey"] % delete_mod == 0)
                & ((o["o_orderkey"] % n_chunks + 1) % n_chunks == i)
            ]
            dk = list(d["o_orderkey"])
        up = o.iloc[0:0]
        if update_mod:
            up = o[
                (o["o_orderkey"] % update_mod == 0)
                & ((o["o_orderkey"] % n_chunks + 2) % n_chunks == i)
            ]
        cu = c.iloc[0:0]
        if cust_update_mod:
            cu = c[
                (c["c_custkey"] % cust_update_mod == 0)
                & ((c["c_custkey"] % n_chunks + 2) % n_chunks == i)
            ]
        n_c, n_o, n_l, n_d, n_u, n_cu = (
            len(cc), len(oc), len(lc), len(dk), len(up), len(cu),
        )
        cols = {
            "side": ["C"] * n_c + ["O"] * n_o + ["L"] * n_l + ["O_DEL"] * n_d
            + ["O_UPD"] * n_u + ["C_UPD"] * n_cu,
            "c_custkey": pa.array(
                list(cc["c_custkey"]) + [None] * (n_o + n_l + n_d + n_u)
                + list(cu["c_custkey"]),
                pa.int64(),
            ),
            "c_nationkey": pa.array(
                [int(x) for x in cc["c_nationkey"]] + [None] * (n_o + n_l + n_d + n_u)
                + [(int(x) + 1) % 25 for x in cu["c_nationkey"]],
                pa.int32(),
            ),
            "o_orderkey": pa.array(
                [None] * n_c + list(oc["o_orderkey"]) + [None] * n_l + dk
                + list(up["o_orderkey"]) + [None] * n_cu,
                pa.int64(),
            ),
            "o_custkey": pa.array(
                [None] * n_c + list(oc["o_custkey"]) + [None] * (n_l + n_d)
                + [int(x) % max_ck + 1 for x in up["o_custkey"]] + [None] * n_cu,
                pa.int64(),
            ),
            "l_orderkey": pa.array(
                [None] * (n_c + n_o) + list(lc["l_orderkey"])
                + [None] * (n_d + n_u + n_cu),
                pa.int64(),
            ),
            "l_linenumber": pa.array(
                [None] * (n_c + n_o)
                + [int(x) for x in lc["l_linenumber"]]
                + [None] * (n_d + n_u + n_cu),
                pa.int32(),
            ),
            "l_extendedprice": pa.array(
                [None] * (n_c + n_o) + list(lc["l_extendedprice"])
                + [None] * (n_d + n_u + n_cu),
                pa.float64(),
            ),
            "l_discount": pa.array(
                [None] * (n_c + n_o) + list(lc["l_discount"])
                + [None] * (n_d + n_u + n_cu),
                pa.float64(),
            ),
        }
        path = os.path.join(stage, f"part-{i}.parquet")
        pq.write_table(pa.table(cols, schema=schema), path)
        if base is None:
            base = os.stat(path).st_mtime
        os.utime(path, (base + i, base + i))
    return stage


def run_join3_ivm_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str = "custwide",
    n_chunks: int = 3,
    stage_dir: str | None = None,
    checkpoint_dir: str | None = None,
    fresh_tables: bool = True,
    fold_every: int | None = None,
    refold_width: int | None = None,
    maintain_agg: bool = True,
):
    """THREE-way incrementally-maintained join view — customer ⋈ orders
    ⋈ lineitem. The binary family proves the delta rule's tombstone /
    upsert / fold depth; this member proves its GENERALITY: for an
    n-way join the rule is one term per input, each joining that
    input's delta against the LATER-ARRIVAL closure of the inputs to
    its right and the pre-epoch state of those to its left (so every
    joined tuple is emitted exactly once — in the epoch its latest
    side arrived, by the term owning that side):

        ΔV = ΔC ⋈ (O∪ΔO) ⋈ (L∪ΔL)
           ∪  C ⋈ ΔO ⋈ (L∪ΔL)
           ∪  C ⋈  O ⋈  ΔL

    Every term starts from a batch-sized delta, broadcasts it (or the
    delta-derived intermediate) against exactly one epoch-partitioned
    state table per hop, and never shuffles state — the per-epoch cost
    stays O(|Δ| + matching rows) regardless of how many inputs the view
    joins, which is the property that makes wide star-schema views
    maintainable at 100 TB fact scale. O_DEL tombstones and the
    retractable per-NATION aggregate MV (`<name>_agg` →
    `revenue_by_nation_ivm_view`) reuse the binary family's first-seen
    retire discipline verbatim.

    O_UPD UPSERTS are the binary family's arrival-epoch last-write-wins
    design (`run_join_ivm_stream`'s UPSERTS paragraph) carried to n-way:
    every O/O_UPD event stamps its arrival epoch as the `o_version` DATA
    column, re-upserts log (key, epoch) to `<name>_u`, and readers keep
    each key's newest version. The ternary-new consequence: a winning
    upsert can change o_custkey, so the new rows must join through the
    CUSTOMER hop again — term 2 joins the resolved ΔO against customer
    state, term 1 covers a same-epoch new customer — and the retraction
    pulls the old rows out of the OLD customer's nation while ΔV adds
    them under the new one (cross-NATION movement, pinned by the
    per-nation oracle). Time travel (`order_cust_wide_view_asof`) is the
    same epoch-≤ composition as the binary AS-OF.

    C_UPD DIMENSION updates are the same design applied at the CUSTOMER
    hop — the SCD-vs-IVM case (see `_ivm3_epoch`): a winning dimension
    update retracts every fact row joined through that customer and
    re-emits the full current set with the new attributes, O(that
    customer's rows); `c_version` + the `<name>_cu` log mirror the
    order-side machinery symmetrically."""
    c_t, o_t, l_t = f"{name}_c", f"{name}_o", f"{name}_l"
    v_t, d_t, u_t, cu_t = f"{name}_v", f"{name}_d", f"{name}_u", f"{name}_cu"
    agg_t = f"{name}_agg" if maintain_agg else None
    if fresh_tables:
        if not agg_t:
            _drop_table(spark, f"{name}_agg")
        create_state_table(spark, c_t, "c_custkey BIGINT, c_nationkey INT, c_version BIGINT")
        create_state_table(spark, o_t, "o_orderkey BIGINT, o_custkey BIGINT, o_version BIGINT")
        create_state_table(
            spark,
            l_t,
            "l_orderkey BIGINT, l_linenumber INT, l_extendedprice DOUBLE, l_discount DOUBLE",
        )
        create_state_table(
            spark,
            v_t,
            "o_orderkey BIGINT, l_linenumber INT, o_custkey BIGINT, c_nationkey INT,"
            " revenue DOUBLE, o_version BIGINT, c_version BIGINT",
        )
        create_state_table(spark, d_t, "o_orderkey BIGINT")
        create_state_table(spark, u_t, "o_orderkey BIGINT, ue BIGINT")
        create_state_table(spark, cu_t, "c_custkey BIGINT, cue BIGINT")
        if agg_t:
            create_state_table(spark, agg_t, "c_nationkey INT, n BIGINT, rev DECIMAL(18,6)")

    stage = stage_dir or stage_cust_order_lineitem_chunks(sf_dir, n_chunks)
    schema = (
        "side string, c_custkey long, c_nationkey int, o_orderkey long,"
        " o_custkey long, l_orderkey long, l_linenumber int,"
        " l_extendedprice double, l_discount double"
    )
    feed = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)

    def ivm3_batch(df: DataFrame, epoch_id: int) -> None:
        _ivm3_epoch(
            df, epoch_id, c_t, o_t, l_t, v_t, d_t, agg_t, fold_every, refold_width,
            u_t=u_t, cu_t=cu_t,
        )

    return _start(feed, ivm3_batch, f"{name}_q", checkpoint_dir)


def _ivm3_epoch(
    df: DataFrame,
    epoch_id: int,
    c_t: str,
    o_t: str,
    l_t: str,
    v_t: str,
    d_t: str | None,
    agg_t: str | None,
    fold_every: int | None,
    refold_width: int | None,
    u_t: str | None = None,
    cu_t: str | None = None,
) -> None:
    """One ternary delta-rule micro-batch — the later-side-emit triangle
    in three dimensions, under the same exactly-once discipline as
    `_ivm_epoch` (state reads exclude the in-flight epoch; every write
    is a dynamic partition overwrite, so a crashed-epoch replay is
    byte-identical). Term shapes (deltas/delta-derived frames always
    the broadcast side):

      term1  ΔC ⋈ (O∪ΔO) ⋈ (L∪ΔL) — pairs whose NEWEST side is the
             customer (same-epoch ΔO/ΔL ride in the closures);
      term2  C ⋈ ΔO ⋈ (L∪ΔL)      — newest side the order (C strictly
             older: term1 owns same-epoch customers);
      term3  C ⋈ O ⋈ ΔL           — newest side the line.

    O_DEL cleansing happens at the ORDER hop only: ΔO and O-state are
    anti-joined against live tombstones, and every term reaches
    lineitems through a cleansed order frame — so a deleted order's
    rows never materialize regardless of which side arrived last.

    O_UPD upserts are the binary `_ivm_epoch` machinery verbatim, with
    one n-way addition: every STATE-side appearance of the order input
    (term 1's closure AND term 3) excludes keys touched by this batch's
    resolved ΔO — a re-upserted key's full new row set re-emits through
    the delta terms (2, or 1 for a same-epoch new customer), so a
    superseded version must not co-emit anywhere. Retraction then pulls
    the key's current pre-epoch rows (which carry the OLD o_custkey /
    nation) out of the aggregate MV — the cross-customer movement
    case.

    C_UPD DIMENSION updates apply the identical design at the CUSTOMER
    hop — the SCD-vs-IVM case: a winning dimension update RETRACTS every
    fact row currently joined through that customer (they carry the old
    c_nationkey) and term 1 re-emits the customer's full current row set
    with the new attributes — O(that customer's rows), never a view
    rebuild. Versioning is symmetric: `c_version` data column on
    customer state and view rows, re-updates logged to `cu_t`, state and
    retire scans keep each customer's newest version, and terms 2/3 use
    customer state EXCLUDING this batch's ΔC keys (term 1 owns them)."""
    s = df.sparkSession
    merges = {agg_t: _ivm3_agg_merge, u_t: _ivm_u_merge, cu_t: _ivm3_cu_merge}
    for t in (c_t, o_t, l_t, v_t) + tuple(x for x in (d_t, u_t, cu_t, agg_t) if x):
        maybe_fold(s, t, epoch_id, fold_every, merges.get(t, identity), refold_width)
    if cu_t is not None:
        # dimension-update resolve: C and C_UPD are both versions of the
        # customer; within a batch C_UPD wins, then greatest attributes
        d_c = (
            df.filter(F.col("side").isin("C", "C_UPD"))
            .select(
                "c_custkey",
                F.when(F.col("side") == "C_UPD", F.lit(1)).otherwise(F.lit(0)).alias("prio"),
                "c_nationkey",
            )
            .groupBy("c_custkey")
            .agg(F.max(F.struct("prio", "c_nationkey")).alias("m"))
            .select("c_custkey", F.col("m.c_nationkey").alias("c_nationkey"))
        )
    else:
        d_c = df.filter(F.col("side") == "C").select("c_custkey", "c_nationkey")
    d_c = d_c.withColumn("c_version", F.lit(epoch_id).cast("long"))
    if u_t is not None:
        # upsert resolve: O and O_UPD are both versions of the key;
        # within a batch O_UPD wins, then the greatest attribute struct —
        # the binary family's deterministic in-batch tiebreak
        d_o = (
            df.filter(F.col("side").isin("O", "O_UPD"))
            .select(
                "o_orderkey",
                F.when(F.col("side") == "O_UPD", F.lit(1)).otherwise(F.lit(0)).alias("prio"),
                "o_custkey",
            )
            .groupBy("o_orderkey")
            .agg(F.max(F.struct("prio", "o_custkey")).alias("m"))
            .select("o_orderkey", F.col("m.o_custkey").alias("o_custkey"))
        )
    else:
        d_o = df.filter(F.col("side") == "O").select("o_orderkey", "o_custkey")
    d_o = d_o.withColumn("o_version", F.lit(epoch_id).cast("long"))
    d_l = df.filter(F.col("side") == "L").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    c_state = (
        live(s, c_t).filter(F.col("epoch") != epoch_id).drop("epoch")
    )
    o_state = (
        live(s, o_t).filter(F.col("epoch") != epoch_id).drop("epoch")
    )
    l_state = (
        live(s, l_t).filter(F.col("epoch") != epoch_id).drop("epoch")
    )
    u_lat = None
    if u_t is not None:
        u_lat = (
            live(s, u_t)
            .filter(F.col("epoch") != epoch_id)
            .drop("epoch")
            .groupBy("o_orderkey")
            .agg(F.max("ue").alias("ue"))
        )
        # last-write-wins: keep only each key's newest version in state
        o_state = (
            o_state.join(F.broadcast(u_lat), "o_orderkey", "left")
            .filter(F.col("ue").isNull() | (F.col("o_version") == F.col("ue")))
            .drop("ue")
        )
    cu_lat = None
    if cu_t is not None:
        cu_lat = (
            live(s, cu_t)
            .filter(F.col("epoch") != epoch_id)
            .drop("epoch")
            .groupBy("c_custkey")
            .agg(F.max("cue").alias("cue"))
        )
        # symmetric last-write-wins at the dimension hop
        c_state = (
            c_state.join(F.broadcast(cu_lat), "c_custkey", "left")
            .filter(F.col("cue").isNull() | (F.col("c_version") == F.col("cue")))
            .drop("cue")
        )
    d_del = hist_o = None
    if d_t is not None:
        d_del = df.filter(F.col("side") == "O_DEL").select("o_orderkey")
        hist_o = (
            live(s, d_t)
            .filter(F.col("epoch") != epoch_id)
            .drop("epoch")
        )
        dead = hist_o.unionByName(d_del)
        d_o = d_o.join(dead, "o_orderkey", "left_anti")
        o_state = o_state.join(dead, "o_orderkey", "left_anti")

    d_u = None
    o_state_x = o_state
    if u_t is not None and not d_o.isEmpty():
        # a key is RE-upserted iff a current prior version exists (an
        # O_UPD arriving before its insert simply inserts; the later
        # insert supersedes it — last write wins)
        d_u = (
            o_state.select("o_orderkey")
            .join(F.broadcast(d_o.select("o_orderkey")), "o_orderkey", "left_semi")
            .distinct()
            .withColumn("ue", F.lit(epoch_id).cast("long"))
        )
        # keys touched this batch are fully covered by the delta terms —
        # exclude their (superseded) state versions from terms 1 and 3
        o_state_x = o_state.join(
            F.broadcast(d_o.select("o_orderkey")), "o_orderkey", "left_anti"
        )
    d_cu = None
    c_state_x = c_state
    if cu_t is not None and not d_c.isEmpty():
        # a customer is RE-updated iff a current prior version exists
        # (a C_UPD arriving before its insert simply inserts; the later
        # insert supersedes it)
        d_cu = (
            c_state.select("c_custkey")
            .join(F.broadcast(d_c.select("c_custkey")), "c_custkey", "left_semi")
            .distinct()
            .withColumn("cue", F.lit(epoch_id).cast("long"))
        )
        # customers touched this batch are owned by term 1 (ΔC ⋈ the O
        # closure re-emits their full row set) — exclude their superseded
        # state versions from terms 2 and 3
        c_state_x = c_state.join(
            F.broadcast(d_c.select("c_custkey")), "c_custkey", "left_anti"
        )
    o_all = o_state_x.unionByName(d_o)
    l_all = l_state.unionByName(d_l)

    def proj(j: DataFrame) -> DataFrame:
        return j.select(
            "o_orderkey",
            "l_linenumber",
            "o_custkey",
            "c_nationkey",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
                "revenue"
            ),
            # each view row carries the versions of the order AND
            # customer rows that emitted it — the read-side
            # last-write-wins filters' keys
            "o_version",
            "c_version",
        )

    mo1 = F.broadcast(d_c).join(o_all, F.col("c_custkey") == F.col("o_custkey"))
    t1 = proj(F.broadcast(mo1).join(l_all, F.col("o_orderkey") == F.col("l_orderkey")))
    mo2 = F.broadcast(d_o).join(c_state_x, F.col("o_custkey") == F.col("c_custkey"))
    t2 = proj(F.broadcast(mo2).join(l_all, F.col("o_orderkey") == F.col("l_orderkey")))
    ol3 = F.broadcast(d_l).join(o_state_x, F.col("o_orderkey") == F.col("l_orderkey"))
    t3 = proj(c_state_x.join(F.broadcast(ol3), F.col("c_custkey") == F.col("o_custkey")))
    d_v = t1.unionByName(t2).unionByName(t3)

    has_od = d_del is not None and not d_del.isEmpty()
    has_upd = d_u is not None and not d_u.isEmpty()
    has_cupd = d_cu is not None and not d_cu.isEmpty()
    retired = None
    if agg_t is not None and (has_od or has_upd or has_cupd):
        pre_v = (
            live(s, v_t)
            .filter(F.col("epoch") != epoch_id)
            .drop("epoch")
        )
        # rows superseded by an EARLIER upsert (either hop) were
        # retracted at that epoch — only current versions are in scope
        if u_lat is not None:
            pre_v = (
                pre_v.join(F.broadcast(u_lat), "o_orderkey", "left")
                .filter(F.col("ue").isNull() | (F.col("o_version") == F.col("ue")))
                .drop("ue")
            )
        if cu_lat is not None:
            cu_lat_v = cu_lat.withColumnRenamed("c_custkey", "o_custkey")
            pre_v = (
                pre_v.join(F.broadcast(cu_lat_v), "o_custkey", "left")
                .filter(F.col("cue").isNull() | (F.col("c_version") == F.col("cue")))
                .drop("cue")
            )
        eligible = pre_v
        if hist_o is not None:
            eligible = eligible.join(hist_o, "o_orderkey", "left_anti")
        # each eligible row retires at most once: first-seen deletes win
        # over same-batch upserts (d_o was delete-cleansed, so no new
        # rows re-emit for a deleted key), order upserts over dimension
        # updates (the order's rows fully re-emit under term 1/2 either
        # way — priority only keeps the retraction single-counted)
        parts = []
        rest = eligible
        if has_od:
            fs_o = d_del.distinct().join(hist_o, "o_orderkey", "left_anti")
            parts.append(rest.join(F.broadcast(fs_o), "o_orderkey", "left_semi"))
            rest = rest.join(F.broadcast(fs_o), "o_orderkey", "left_anti")
        if has_upd:
            uk = d_u.select("o_orderkey")
            parts.append(rest.join(F.broadcast(uk), "o_orderkey", "left_semi"))
            rest = rest.join(F.broadcast(uk), "o_orderkey", "left_anti")
        if has_cupd:
            ck = d_cu.select(F.col("c_custkey").alias("o_custkey"))
            parts.append(rest.join(F.broadcast(ck), "o_custkey", "left_semi"))
            rest = rest.join(F.broadcast(ck), "o_custkey", "left_anti")
        retired = parts[0]
        for p in parts[1:]:
            retired = retired.unionByName(p)
    if agg_t is not None:
        signed = d_v.select("c_nationkey", "revenue", F.lit(1).alias("sign"))
        if retired is not None:
            signed = signed.unionByName(
                retired.select("c_nationkey", "revenue", F.lit(-1).alias("sign"))
            )
        partial = signed.groupBy("c_nationkey").agg(
            F.sum("sign").cast("long").alias("n"),
            F.sum(F.col("sign") * F.col("revenue").cast("decimal(18,6)"))
            .cast("decimal(18,6)")
            .alias("rev"),
        )
        _ivm_write_epoch(s, partial, agg_t, epoch_id)
    _ivm_write_epoch(s, d_v, v_t, epoch_id)
    _ivm_write_epoch(s, d_c, c_t, epoch_id)
    _ivm_write_epoch(s, d_o, o_t, epoch_id)
    _ivm_write_epoch(s, d_l, l_t, epoch_id)
    if d_t is not None:
        _ivm_write_epoch(s, d_del, d_t, epoch_id)
    if u_t is not None:
        if d_u is None:
            d_u = s.createDataFrame([], "o_orderkey long, ue long")
        _ivm_write_epoch(s, d_u, u_t, epoch_id)
    if cu_t is not None:
        if d_cu is None:
            d_cu = s.createDataFrame([], "c_custkey long, cue long")
        _ivm_write_epoch(s, d_cu, cu_t, epoch_id)


def _ivm3_agg_merge(df: DataFrame) -> DataFrame:
    """Ternary join-IVM aggregate fold merge — associative (count,
    DECIMAL) sums keyed by nation."""
    return df.groupBy("c_nationkey").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("rev").cast("decimal(18,6)").alias("rev"),
    )


def _ivm3_cu_merge(df: DataFrame) -> DataFrame:
    """Dimension-update-log fold merge: readers only consume the
    per-customer MAX(cue) — `_ivm_u_merge`'s contract at the customer
    hop."""
    return df.groupBy("c_custkey").agg(F.max("cue").alias("cue"))


def order_cust_wide_view(spark: SparkSession, name: str = "custwide") -> DataFrame:
    """The maintained three-way join view's live rows — equals the batch
    customer ⋈ orders ⋈ lineitem projection over never-deleted orders
    with each upserted order's — and dimension-updated customer's —
    newest version's attributes. Fold-aware via `live`; order
    tombstones anti-joined and superseded versions of BOTH hops filtered
    at read, exactly like the binary view."""
    v = live(spark, f"{name}_v").drop("epoch")
    if spark.catalog.tableExists(f"{name}_d"):
        dead = live(spark, f"{name}_d").drop("epoch")
        v = v.join(dead, "o_orderkey", "left_anti")
    if spark.catalog.tableExists(f"{name}_u"):
        u_lat = (
            live(spark, f"{name}_u")
            .drop("epoch")
            .groupBy("o_orderkey")
            .agg(F.max("ue").alias("ue"))
        )
        v = (
            v.join(F.broadcast(u_lat), "o_orderkey", "left")
            .filter(F.col("ue").isNull() | (F.col("o_version") == F.col("ue")))
            .drop("ue")
        )
    if spark.catalog.tableExists(f"{name}_cu"):
        cu_lat = (
            live(spark, f"{name}_cu")
            .drop("epoch")
            .groupBy("c_custkey")
            .agg(F.max("cue").alias("cue"))
            .withColumnRenamed("c_custkey", "o_custkey")
        )
        v = (
            v.join(F.broadcast(cu_lat), "o_custkey", "left")
            .filter(F.col("cue").isNull() | (F.col("c_version") == F.col("cue")))
            .drop("cue")
        )
    return v.drop("o_version", "c_version")


def order_cust_wide_view_asof(
    spark: SparkSession, epoch: int, name: str = "custwide"
) -> DataFrame:
    """TIME-TRAVEL read of the ternary join view — the binary
    `order_wide_view_asof` composition applied to three inputs: view
    rows, tombstones and upsert-log entries with partition epoch ≤
    `epoch`, then the live view's own read filters. Exact for epochs ≥
    the fold watermark; below it the deltas were absorbed into a base
    and the read refuses rather than answering from coarser state."""
    wm = max((w for _, w in _base_tiers(_partition_epochs(spark, f"{name}_v"))), default=-1)
    if epoch < wm:
        raise ValueError(
            f"epoch {epoch} predates the fold watermark {wm}: its deltas were "
            f"absorbed into a base (run without fold_every to keep full history)"
        )

    def upto(table: str) -> DataFrame:
        return (
            live(spark, table)
            .filter(F.col("epoch") <= epoch)
            .drop("epoch")
        )

    v = upto(f"{name}_v")
    if spark.catalog.tableExists(f"{name}_d"):
        v = v.join(upto(f"{name}_d"), "o_orderkey", "left_anti")
    if spark.catalog.tableExists(f"{name}_u"):
        u_lat = upto(f"{name}_u").groupBy("o_orderkey").agg(F.max("ue").alias("ue"))
        v = (
            v.join(F.broadcast(u_lat), "o_orderkey", "left")
            .filter(F.col("ue").isNull() | (F.col("o_version") == F.col("ue")))
            .drop("ue")
        )
    if spark.catalog.tableExists(f"{name}_cu"):
        cu_lat = (
            upto(f"{name}_cu")
            .groupBy("c_custkey")
            .agg(F.max("cue").alias("cue"))
            .withColumnRenamed("c_custkey", "o_custkey")
        )
        v = (
            v.join(F.broadcast(cu_lat), "o_custkey", "left")
            .filter(F.col("cue").isNull() | (F.col("c_version") == F.col("cue")))
            .drop("cue")
        )
    return v.drop("o_version", "c_version")


def revenue_by_nation_ivm_view(spark: SparkSession, name: str = "custwide") -> DataFrame:
    """The ternary IVM's retractable aggregate MV: per-nation net item
    count + DECIMAL-exact revenue, rolled up from the signed epoch
    partials. Same money discipline as `revenue_by_cust_view`: the
    double cast happens AFTER the exact decimal sum."""
    return (
        live(spark, f"{name}_agg").groupBy("c_nationkey")
        .agg(
            F.sum("n").cast("long").alias("n_items"),
            F.sum("rev").cast("decimal(18,6)").alias("_rev"),
        )
        .filter(F.col("n_items") > 0)
        .select(
            "c_nationkey", "n_items", F.col("_rev").cast("double").alias("revenue")
        )
    )


def revenue_by_region_ivm_view(
    spark: SparkSession, nation: DataFrame, name: str = "custwide"
) -> DataFrame:
    """AGGREGATE NAVIGATION over the maintained MV: per-REGION revenue
    rolled up from the per-nation partials — the classic stacked-view
    read (Kimball's aggregate navigator; Materialize's view-on-view).
    The rollup never touches the fact table or the join view: it reads
    MV-sized partials, broadcast-joins the 25-row nation dim, and
    re-aggregates — the DECIMAL sums re-associate exactly across the
    extra grouping level, so stacking costs no precision. The double
    cast still happens last (money discipline)."""
    nat = nation.select(
        F.col("n_nationkey").cast("int").alias("c_nationkey"),
        F.col("n_regionkey").cast("int").alias("n_regionkey"),
    )
    return (
        live(spark, f"{name}_agg").join(F.broadcast(nat), "c_nationkey")
        .groupBy("n_regionkey")
        .agg(
            F.sum("n").cast("long").alias("n_items"),
            F.sum("rev").cast("decimal(18,6)").alias("_rev"),
        )
        .filter(F.col("n_items") > 0)
        .select(
            "n_regionkey", "n_items", F.col("_rev").cast("double").alias("revenue")
        )
    )


def purge_tombstoned_rows(spark: SparkSession, name: str = "orderwide") -> int:
    """Physically retire dead join rows — the compaction pass the
    tombstone/versioning design defers to: rewrite ONLY the live view
    partitions that actually contain dead rows (order- or line-granular
    tombstones alike, plus upsert-SUPERSEDED versions — rows whose
    o_version is older than their key's newest upsert; dynamic
    overwrite, same bytes discipline as `compact_small_files`), dropping
    those rows; fully-dead POSITIVE epochs are dropped as partitions
    outright. Returns the number of partitions touched.

    Semantics are read-identical by construction: `order_wide_view`
    anti-joins tombstones anyway, so purge changes bytes, not results
    (pinned in tests, along with untouched-partition mtimes). Tombstones
    are KEPT — future late arrivals for a deleted key must still be
    cleansed at maintenance time. Two safety rails:
    - partitions with no dead rows are never rewritten (the touched set
      comes from a broadcast semi-join of dead keys against live rows);
    - a fully-dead BASE partition (negative epoch) is emptied, never
      dropped: base watermarks define `live` liveness, and removing the
      newest base would resurrect any stale positives in the crash-GC
      window (`gc_partitions` owns these mechanics). Bases shed their
      dead rows when rewritten with ≥1 surviving row, like any touched
      partition."""
    v_t, d_t, ld_t, u_tt = f"{name}_v", f"{name}_d", f"{name}_ld", f"{name}_u"
    has_d = spark.catalog.tableExists(d_t)
    has_ld = spark.catalog.tableExists(ld_t)
    has_u = spark.catalog.tableExists(u_tt)
    if not has_d and not has_ld and not has_u:
        return 0
    # a row is dead if its order was tombstoned, its (o_orderkey,
    # l_linenumber) line key was, OR a newer upserted version superseded
    # it. Tombstone sets are distinct: a redelivered delete can tombstone
    # one key twice, and a join against duplicates would multiply rows.
    # No forced broadcast: the tombstone sets are kept forever by design,
    # so they outgrow broadcast limits eventually; let the planner choose.
    flagged = live(spark, v_t)
    dead = F.lit(False)
    if has_d:
        dead_o = live(spark, d_t).drop("epoch").distinct().withColumn("_do", F.lit(True))
        flagged = flagged.join(dead_o, "o_orderkey", "left")
        dead = dead | F.col("_do").isNotNull()
    if has_ld:
        dead_l = (
            live(spark, ld_t)
            .drop("epoch")
            .distinct()
            .withColumnRenamed("l_orderkey", "o_orderkey")
            .withColumn("_dl", F.lit(True))
        )
        flagged = flagged.join(dead_l, ["o_orderkey", "l_linenumber"], "left")
        dead = dead | F.col("_dl").isNotNull()
    if has_u:
        u_lat = live(spark, u_tt).groupBy("o_orderkey").agg(F.max("ue").alias("_ue"))
        flagged = flagged.join(u_lat, "o_orderkey", "left")
        dead = dead | (F.col("_ue").isNotNull() & (F.col("o_version") != F.col("_ue")))
    return gc_partitions(spark, v_t, flagged.withColumn("_dead", dead))


def run_sq8_index_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str = "sq8idx",
    n_chunks: int | None = None,
    stage_dir: str | None = None,
    checkpoint_dir: str | None = None,
    fresh_tables: bool = True,
    fold_every: int | None = None,
    refold_width: int | None = None,
):
    """Stream-maintained SQ8 index — the scalar-quantizer sibling of
    `run_pq_index_stream`, same train-once/FREEZE/append contract: the
    first batch trains the per-dimension (mn, step) ranges (stored in
    `<name>_stats`, one row, never retrained — retraining would silently
    re-mean every stored code); every batch encodes its own vectors
    against the frozen quantizer and appends (vec_id, x̂, ‖x̂‖²) to the
    epoch-partitioned `<name>_codes`. The honest drift semantics a frozen
    range quantizer has in production are kept, not hidden: later
    arrivals OUTSIDE the trained ranges saturate to code 0/255
    (`sq8_xhat_el`'s clamp — FAISS's saturating cast), and the oracle
    models the same clamp, so the driver's hash gate certifies exactly
    that behavior. Per-epoch maintenance is O(batch); fold/live
    semantics identical to the PQ index."""
    from ..operators.similarity import PQ_INDEX_CHUNKS, _idot, _sq8_stats, quantize, sq8_xhat_el

    n_chunks = n_chunks or PQ_INDEX_CHUNKS
    stats_t, codes_t = f"{name}_stats", f"{name}_codes"
    if fresh_tables:
        _drop_table(spark, stats_t)
        spark.sql(
            f"CREATE TABLE {stats_t} (mn ARRAY<BIGINT>, step ARRAY<BIGINT>) USING parquet"
        )
        create_state_table(spark, codes_t, "vec_id BIGINT, xh ARRAY<BIGINT>, rn2 BIGINT")

    stage = stage_dir or stage_embedding_chunks(sf_dir, n_chunks)
    emb = (
        spark.readStream.schema("vec_id long, embedding array<float>, label int")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )

    def index_batch(df, epoch_id: int) -> None:
        s = df.sparkSession
        # persist: the training epoch scans e twice (stats + encode) —
        # the run_pq_index_stream `sub` discipline
        e = df.select("vec_id", quantize(F.col("embedding")).alias("q")).persist()
        if not s.table(stats_t).head(1):
            # first batch: train + freeze (deterministic min/max ⇒ a
            # crash replay rewrites identical content)
            _sq8_stats(e).write.mode("overwrite").insertInto(stats_t, overwrite=True)
            s.catalog.refreshTable(stats_t)
        enc = (
            e.crossJoin(F.broadcast(s.table(stats_t)))
            .select("vec_id", F.transform("q", sq8_xhat_el).alias("xh"))
            .withColumn("rn2", _idot(F.col("xh"), F.col("xh")))
        )
        _ivm_write_epoch(s, enc, codes_t, epoch_id)
        e.unpersist()
        maybe_fold(s, codes_t, epoch_id, fold_every, refold_width=refold_width)

    return _start(emb, index_batch, f"{name}_q", checkpoint_dir)


def sq8_index_search(
    spark: SparkSession, queries_e, name: str = "sq8idx", k: int | None = None
) -> DataFrame:
    """Asymmetric top-k over the stream-maintained SQ8 index: exact
    query vectors against the stored dequantized candidates (knn_sq8's
    search tail reading state instead of re-training). `queries_e` must
    carry (vec_id, q, n2). Codes read through `live`."""
    from pyspark.sql import Window

    from ..operators.similarity import KNN_K, _idot

    qs = queries_e.select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq"), F.col("n2").alias("qn2")
    )
    codes = live(spark, f"{name}_codes").select(
        "vec_id", "xh", "rn2"
    )
    if spark.catalog.tableExists(f"{name}_del"):
        # CDC-maintained index: live tombstones cleanse the read path
        # (callers pass survivor queries — neither neighbor nor query)
        dead = (
            live(spark, f"{name}_del")
            .select("vec_id")
            .distinct()
        )
        codes = codes.join(F.broadcast(dead), "vec_id", "left_anti")
    scored = codes.join(F.broadcast(qs), F.col("query_id") != F.col("vec_id")).withColumn(
        "cosine_sq8",
        _idot(F.col("qq"), F.col("xh"))
        / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("rn2").cast("double"))),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sq8"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= (k or KNN_K))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cosine_sq8", 6).alias("cosine_sq8"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def stage_document_cdc_chunks(
    sf_dir: str, n_chunks: int = 3, delete_mod: int = 6
) -> str:
    """Documents as a CDC feed: side='D' inserts chunked by doc_id % n,
    side='D_DEL' tombstones (doc_id only) for every doc_id % delete_mod
    == 0, routed one chunk after the insert — the last chunk's keys
    delete in chunk 0 (delete-before-insert), same contract as the
    order/lineitem CDC stages."""
    import pandas as pd
    import pyarrow.parquet as pq

    pdf = pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pandas()
    stage = tempfile.mkdtemp(prefix="spark_graft_bmcdc_")
    base = None
    for i in range(n_chunks):
        ins = pdf[pdf["doc_id"] % n_chunks == i].copy()
        ins.insert(0, "side", "D")
        d = pdf[
            (pdf["doc_id"] % delete_mod == 0)
            & ((pdf["doc_id"] % n_chunks + 1) % n_chunks == i)
        ]
        dels = pd.DataFrame(
            {
                "side": ["D_DEL"] * len(d),
                "doc_id": d["doc_id"].values,
                "text": [None] * len(d),
                "lang": [None] * len(d),
                "source": [None] * len(d),
                "n_chars": pd.array([None] * len(d), dtype="Int64"),
            }
        )
        out = pd.concat([ins, dels], ignore_index=True)
        path = os.path.join(stage, f"part-{i}.parquet")
        out.to_parquet(path, index=False)
        if base is None:
            base = os.stat(path).st_mtime
        os.utime(path, (base + i, base + i))
    return stage


def run_bm25_index_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str = "bmidx",
    n_chunks: int = 3,
    stage_dir: str | None = None,
    checkpoint_dir: str | None = None,
    fresh_tables: bool = True,
    fold_every: int | None = None,
    refold_width: int | None = None,
    cdc: bool = False,
):
    """Stream-maintained BM25 full-text index — the lexical-search member
    of the index-MV family (PQ/SQ8 maintain vector indexes; this
    maintains the INVERTED INDEX a search engine serves from). Three
    epoch-partitioned tables, each O(batch) to maintain:

      `<name>_post`  (term, doc_id, tf)  — full-vocabulary postings for
                     the batch's docs (an index can't know queries in
                     advance, so unlike the batch operator the explode
                     is NOT term-filtered; a search later reads only the
                     query terms' postings via predicate pushdown —
                     bucket `<name>_post` BY term at warehouse scale for
                     partition-pruned lookups);
      `<name>_dl`    (doc_id, dl)        — document lengths;
      `<name>_st`    (n, sum_dl)         — ONE corpus-stats partial row
                     per epoch, sum-merged at fold and at read, so the
                     global N and Σdl BM25 needs never rescan documents.

    Docs are epoch-unique (append-only corpus), so postings and lengths
    fold with the identity merge; the search view
    (`bm25_index_search`) rebuilds (tf, dl, stats) from the maintained
    tables and hands them to the SAME `bm25_rank` scoring tail as the
    batch operator — identical IEEE expression tree, so index-served
    results hash-match the batch search exactly (the driver-gated
    claim). Per-epoch cost: tokenize + one (doc, term) hash agg over
    the batch — the corpus is never re-scanned.

    `cdc=True` consumes a side-tagged feed (`stage_document_cdc_chunks`)
    with D_DEL document tombstones: deleted docs' postings and lengths
    are tombstoned in `<name>_del` (read-filtered at search — exactly
    the order-tombstone discipline, delete-before-insert included), and
    the corpus-stats partials turn SIGNED — the delete epoch writes
    −(count, Σdl) for the first-seen deleted docs, re-derived from the
    maintained dl table in O(matched rows). A deletion therefore shifts
    EVERY survivor's score (df, N and avgdl all move); the delete
    gate's oracle pins that global effect, not just the dead doc's
    disappearance."""
    from ..functions.text import tokens as _tokens

    post_t, dl_t, st_t = f"{name}_post", f"{name}_dl", f"{name}_st"
    del_t = f"{name}_del" if cdc else None
    if fresh_tables:
        if del_t:
            create_state_table(spark, del_t, "doc_id BIGINT")
        else:
            _drop_table(spark, f"{name}_del")
        create_state_table(spark, post_t, "term STRING, doc_id BIGINT, tf BIGINT")
        create_state_table(spark, dl_t, "doc_id BIGINT, dl BIGINT")
        create_state_table(spark, st_t, "n BIGINT, sum_dl BIGINT")

    if stage_dir:
        stage = stage_dir
    elif cdc:
        stage = stage_document_cdc_chunks(sf_dir, n_chunks)
    else:
        stage = stage_document_chunks(sf_dir, n_chunks)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    if cdc:
        schema = "side string, " + schema
    feed = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)

    def index_batch(df: DataFrame, epoch_id: int) -> None:
        s = df.sparkSession
        for t in (post_t, dl_t) + ((del_t,) if del_t else ()):
            maybe_fold(s, t, epoch_id, fold_every, refold_width=refold_width)
        maybe_fold(
            s, st_t, epoch_id, fold_every, merge=_bm25_st_merge,
            refold_width=refold_width,
        )
        d_del = hist_d = None
        if cdc:
            d_del = df.filter(F.col("side") == "D_DEL").select("doc_id")
            hist_d = (
                live(s, del_t)
                .filter(F.col("epoch") != epoch_id)
                .drop("epoch")
            )
            # deletes win at any arrival order: a tombstoned doc's insert
            # never enters postings, lengths, or stats
            df = df.filter(F.col("side") == "D").join(
                hist_d.unionByName(d_del), "doc_id", "left_anti"
            )
        toked = df.select("doc_id", _tokens("text").alias("toks"))
        dl = toked.select("doc_id", F.size("toks").cast("long").alias("dl"))
        # the one frame feeding three writes — materialize it once
        dl = dl.localCheckpoint(eager=True)
        post = (
            toked.select("doc_id", F.explode("toks").alias("term"))
            .groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .select("term", "doc_id", "tf")
        )
        st = dl.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("dl").cast("long").alias("sum_dl"),
        )
        if cdc and not d_del.isEmpty():
            # stats retraction for FIRST-SEEN deletes: −(count, Σdl) of
            # the dead docs, re-derived from the maintained dl table
            # (O(matched rows); pre-epoch state only — replay-safe)
            fs = d_del.distinct().join(hist_d, "doc_id", "left_anti")
            dead_dl = (
                live(s, dl_t)
                .filter(F.col("epoch") != epoch_id)
                .drop("epoch")
                .join(F.broadcast(fs), "doc_id", "left_semi")
            )
            ret = dead_dl.agg(
                (-F.count(F.lit(1))).cast("long").alias("n"),
                (-F.coalesce(F.sum("dl"), F.lit(0))).cast("long").alias("sum_dl"),
            )
            st = st.unionByName(ret)
        _ivm_write_epoch(s, post, post_t, epoch_id)
        _ivm_write_epoch(s, dl.select("doc_id", "dl"), dl_t, epoch_id)
        _ivm_write_epoch(s, st, st_t, epoch_id)
        if cdc:
            _ivm_write_epoch(s, d_del, del_t, epoch_id)

    return _start(feed, index_batch, f"{name}_q", checkpoint_dir)


def _bm25_st_merge(df: DataFrame) -> DataFrame:
    """Corpus-stats fold merge: (n, Σdl) partials sum associatively."""
    return df.agg(
        F.sum("n").cast("long").alias("n"), F.sum("sum_dl").cast("long").alias("sum_dl")
    )


def bm25_index_search(
    spark: SparkSession,
    name: str = "bmidx",
    query_terms: tuple[str, ...] | None = None,
    k1: float | None = None,
    b: float | None = None,
    topk: int | None = None,
) -> DataFrame:
    """Top-k BM25 over the stream-maintained index: postings are read
    filtered to the QUERY TERMS (pushdown-prunable — only ~|query|
    postings lists move), document lengths join on the candidate set,
    and the corpus stats come from the MV-sized `<name>_st` partials.
    Scoring delegates to the batch operator's own `bm25_rank`, so the
    index-served ranking is bit-identical to searching the corpus
    directly."""
    from ..operators.textops import BM25_B, BM25_K1, BM25_QUERY, BM25_TOPK, bm25_rank

    terms = query_terms or BM25_QUERY
    post = (
        live(spark, f"{name}_post")
        .drop("epoch")
        .filter(F.col("term").isin(*terms))
    )
    dead = None
    if spark.catalog.tableExists(f"{name}_del"):
        dead = (
            live(spark, f"{name}_del")
            .drop("epoch")
            .distinct()
        )
        post = post.join(dead, "doc_id", "left_anti")
    # docs are epoch-unique; the sum is a no-op defensively kept so a
    # re-chunked doc (two fragments of one doc_id in different epochs)
    # would still score on its total tf
    tf = post.groupBy("doc_id", "term").agg(F.sum("tf").cast("long").alias("tf"))
    dl = live(spark, f"{name}_dl").drop("epoch")
    if dead is not None:
        dl = dl.join(dead, "doc_id", "left_anti")
    stats = live(spark, f"{name}_st").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum("sum_dl").cast("long").alias("sum_dl"),
    )
    return bm25_rank(
        tf, dl, stats, terms, k1 or BM25_K1, b or BM25_B, topk or BM25_TOPK
    )


def run_flat_index_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str = "flatidx",
    n_chunks: int = 4,
    stage_dir: str | None = None,
    checkpoint_dir: str | None = None,
    fresh_tables: bool = True,
    fold_every: int | None = None,
    refold_width: int | None = None,
):
    """Stream-maintained FLAT vector store (FAISS IndexFlat's add()
    lifecycle): each epoch quantizes its arrivals to the fixed-point
    contract and appends (vec_id, q, ‖q‖²) — no training, no
    compression, exact search at read. The lossless member of the index
    family (PQ/SQ8 trade recall for memory; flat is the recall-1.0
    baseline a search stack needs for reranking and for the hybrid
    fusion's semantic half). Per-epoch cost O(batch); identity fold."""
    from ..operators.similarity import _idot, quantize

    vec_t = f"{name}_vec"
    if fresh_tables:
        create_state_table(spark, vec_t, "vec_id BIGINT, q ARRAY<BIGINT>, n2 BIGINT")

    stage = stage_dir or stage_embedding_chunks(sf_dir, n_chunks)
    feed = (
        spark.readStream.schema("vec_id long, embedding array<float>, label int")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )

    def index_batch(df: DataFrame, epoch_id: int) -> None:
        s = df.sparkSession
        maybe_fold(s, vec_t, epoch_id, fold_every, refold_width=refold_width)
        e = df.select("vec_id", quantize(F.col("embedding")).alias("q"))
        e = e.withColumn("n2", _idot(F.col("q"), F.col("q")))
        _ivm_write_epoch(s, e.select("vec_id", "q", "n2"), vec_t, epoch_id)

    return _start(feed, index_batch, f"{name}_q", checkpoint_dir)


def hybrid_index_search(
    spark: SparkSession,
    bm_name: str = "bmidx",
    vec_name: str = "flatidx",
) -> DataFrame:
    """The FULL SEARCH STACK served from maintained indexes: the lexical
    top list from the BM25 inverted index (`bm25_index_search`) and the
    semantic top list from the flat vector store, fused by reciprocal
    rank — no corpus or embedding scan anywhere on the read path. The
    formulas are the batch `hybrid_search_rrf`'s own (integer ranks,
    fixed two-term double sum), so index-served fusion hash-matches the
    batch operator exactly. Scale shape mirrors the batch twin: the
    semantic arm prunes with orderBy().limit(RRF_SEM_K)
    (TakeOrderedAndProject — per-partition top-K + K-row merge), so
    both rank windows run over limit-bounded ≤RRF_SEM_K-row frames,
    never the full live vector store."""
    from pyspark.sql import Window

    from ..operators.similarity import _idot
    from ..plans.training import RRF_K, RRF_QUERY_VEC, RRF_SEM_K, RRF_TOPK

    lex = bm25_index_search(spark, bm_name).select(
        "doc_id", F.col("rank").alias("r_lex")
    )
    e = live(spark, f"{vec_name}_vec").drop(
        "epoch"
    )
    if spark.catalog.tableExists(f"{vec_name}_del"):
        # CDC-maintained store: live tombstones cleanse the semantic arm
        # (the lexical arm's bm25_index_search already anti-joins its own
        # del table), so a takedown vanishes from the FUSED ranking and
        # every survivor's r_sem/rrf shifts to the surviving store
        dead_v = (
            live(spark, f"{vec_name}_del")
            .select("vec_id")
            .distinct()
        )
        e = e.join(F.broadcast(dead_v), "vec_id", "left_anti")
    qv = e.filter(F.col("vec_id") == RRF_QUERY_VEC).select(
        F.col("q").alias("qq"), F.col("n2").alias("qn2")
    )
    cos = (
        e.crossJoin(F.broadcast(qv))
        .where(F.col("vec_id") != RRF_QUERY_VEC)
        .select(
            "vec_id",
            (
                _idot(F.col("q"), F.col("qq"))
                / (
                    F.sqrt(F.col("n2").cast("double"))
                    * F.sqrt(F.col("qn2").cast("double"))
                )
            ).alias("cosine"),
        )
    )
    wsem = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    sem = (
        cos.orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(RRF_SEM_K)
        .withColumn("r_sem", F.row_number().over(wsem))
        .select(F.col("vec_id").alias("doc_id"), "r_sem")
    )
    fused = sem.join(lex, "doc_id", "outer").select(
        "doc_id",
        "r_lex",
        "r_sem",
        (
            F.coalesce(1.0 / (F.lit(RRF_K) + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("r_sem")), F.lit(0.0))
        ).alias("rrf"),
    )
    wf = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(RRF_TOPK)
        .withColumn("rank", F.row_number().over(wf))
        .select(
            "doc_id", "r_lex", "r_sem", "rrf", F.col("rank").cast("int").alias("rank")
        )
    )


def hybrid_pq_index_search(
    spark: SparkSession,
    queries_e,
    bm_name: str = "bmidx",
    pq_name: str = "pqidx",
) -> DataFrame:
    """The search stack with its semantic arm served from the
    COMPRESSED store — at 100 TB the flat vector store does not fit
    serving memory; the PQ codes (~32× smaller) are the arm a
    production deployment actually scans, and this fuses the BM25
    lexical top list with the PQ index's ADC top list by the same
    reciprocal-rank formula as `hybrid_index_search`. `queries_e` is
    the query VECTOR frame (vec_id, q, n2) — one row, the demo query;
    queries are inputs at serving time, never read from the index. The
    semantic candidate list ranks by ADC cosine (integer LUT sums over
    the frozen codebook — `knn_pq`'s arithmetic exactly, which the
    DuckDB oracle replays), pruned with orderBy().limit(RRF_SEM_K)
    before its rank window; fusion windows run over limit-bounded
    frames only. If the store carries a `_del` table (PQ-CDC), live
    tombstones cleanse the arm — a takedown vanishes from the FUSED
    ranking and every survivor's r_sem recloses over surviving codes."""
    from pyspark.sql import Window

    from ..operators.similarity import PQ_M, _pq_query_luts
    from ..plans.training import RRF_K, RRF_SEM_K, RRF_TOPK

    lex = bm25_index_search(spark, bm_name).select(
        "doc_id", F.col("rank").alias("r_lex")
    )
    lut = _pq_query_luts(queries_e, spark.table(f"{pq_name}_codebook"))
    codes = live(spark, f"{pq_name}_codes").select(
        "vec_id", "codes", "rn2"
    )
    if spark.catalog.tableExists(f"{pq_name}_del"):
        dead = (
            live(spark, f"{pq_name}_del")
            .select("vec_id")
            .distinct()
        )
        codes = codes.join(F.broadcast(dead), "vec_id", "left_anti")
    adot = F.aggregate(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        F.lit(0).cast("long"),
        lambda acc, m: acc
        + F.element_at(F.element_at("luts", m + 1), F.element_at("codes", m + 1)),
    )
    cos = (
        codes.join(F.broadcast(lut), F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "cosine_pq",
            adot
            / (
                F.sqrt(F.col("qn2").cast("double"))
                * F.sqrt(F.col("rn2").cast("double"))
            ),
        )
        .select("vec_id", "cosine_pq")
    )
    wsem = Window.orderBy(F.desc("cosine_pq"), F.asc("vec_id"))
    sem = (
        cos.orderBy(F.desc("cosine_pq"), F.asc("vec_id"))
        .limit(RRF_SEM_K)
        .withColumn("r_sem", F.row_number().over(wsem))
        .select(F.col("vec_id").alias("doc_id"), "r_sem")
    )
    fused = sem.join(lex, "doc_id", "outer").select(
        "doc_id",
        "r_lex",
        "r_sem",
        (
            F.coalesce(1.0 / (F.lit(RRF_K) + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("r_sem")), F.lit(0.0))
        ).alias("rrf"),
    )
    wf = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(RRF_TOPK)
        .withColumn("rank", F.row_number().over(wf))
        .select(
            "doc_id", "r_lex", "r_sem", "rrf", F.col("rank").cast("int").alias("rank")
        )
    )


def purge_bm25_index(spark: SparkSession, name: str = "bmidx") -> int:
    """Physically retire tombstoned documents from the BM25 index — the
    search-stack VACUUM: rewrite only the postings/length partitions
    that hold dead docs' rows (dynamic overwrite), drop fully-dead
    positive epochs, never drop a base (`gc_partitions`, applied per
    table). Tombstones are KEPT — a late re-insert
    of a deleted doc must still be cleansed at maintenance time. Stats
    partials are untouched: they were already retracted by the signed
    row at the delete epoch, so purge changes bytes, not results (the
    purged gate twin shares the delete twin's oracle). Returns
    partitions touched across both tables."""
    del_t = f"{name}_del"
    if not spark.catalog.tableExists(del_t):
        return 0
    dead = live(spark, del_t).drop("epoch").distinct().withColumn("_dd", F.lit(True))
    touched = 0
    for t in (f"{name}_post", f"{name}_dl"):
        flagged = (
            live(spark, t)
            .join(dead, "doc_id", "left")
            .withColumn("_dead", F.coalesce(F.col("_dd"), F.lit(False)))
        )
        touched += gc_partitions(spark, t, flagged)
    return touched


def run_window_agg_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str = "hotw",
    n_chunks: int = 3,
    stage_dir: str | None = None,
    checkpoint_dir: str | None = None,
    fresh_tables: bool = True,
    fold_every: int | None = None,
    refold_width: int | None = None,
):
    """Stream-maintained WINDOWED aggregate with a RETENTION horizon —
    the reference's flagship hot-items workload (HotItemApp.java:54-64:
    per-item view counts over sliding 1h/5min windows) recast as an
    incrementally maintained view whose state is bounded by DATA TIME,
    not stream length.

    Maintenance is the corpus-stats discipline at the 5-minute-bucket
    grain: each micro-batch writes per-(bucket_end, item) view-count
    partials into the epoch-partitioned `<name>_buckets` table (dynamic
    overwrite → replay-idempotent), and the fold merge re-sums by
    (bucket_end, item). The sliding-window rollup (each bucket feeds its
    12 containing windows) and the top-5 ranking happen at READ over the
    bucket-grain MV — O(live buckets · 12), never an event rescan; raw
    events are never retained at all.

    The RETENTION contract is the new axis: `hot_window_view` serves
    only buckets newer than (max bucket_end seen − retention), i.e. the
    watermark implied by the data itself, and `expire_window_buckets`
    makes that cutoff PHYSICAL — positive epochs whose buckets are all
    expired are dropped as pure catalog metadata (arrival order tracks
    event time for an in-order feed, so whole old epochs die at once),
    and mixed/base partitions are rewritten in place without their dead
    buckets. Correctness never depends on GC having run (the read view
    re-filters), so expiry can lag, crash mid-pass, or re-run — the
    purge discipline. At 100 TB this is the difference between state
    that grows with the stream's lifetime and state bounded by
    |items in retention| · |buckets in retention|.
    """
    b_t = f"{name}_buckets"
    if fresh_tables:
        create_state_table(spark, b_t, "bucket_end BIGINT, item_k INT, cnt BIGINT")

    stage = stage_dir or stage_event_chunks(sf_dir, n_chunks)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    feed = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)

    def bucket_batch(df: DataFrame, epoch_id: int) -> None:
        s = df.sparkSession
        part = (
            df.filter(F.col("event_type") == "view")
            .select(
                F.window("ts", "5 minutes").end.cast("long").alias("bucket_end"),
                F.get_json_object("props", "$.k").cast("int").alias("item_k"),
            )
            .filter(F.col("item_k").isNotNull())  # null keys sort
            # engine-dependently (Spark NULLS FIRST vs DuckDB NULLS LAST)
            # in the serve rank — excluded by contract, mirrored in oracle
            .groupBy("bucket_end", "item_k")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        _ivm_write_epoch(s, part, b_t, epoch_id)
        maybe_fold(s, b_t, epoch_id, fold_every, merge=_wagg_merge, refold_width=refold_width)

    return _start(feed, bucket_batch, f"{name}_q", checkpoint_dir)


def _wagg_merge(df: DataFrame) -> DataFrame:
    """Fold merge for the windowed-agg MV: counts re-sum by (bucket,
    item) — plain associative integer addition, so folded state is
    bit-identical to unfolded."""
    return df.groupBy("bucket_end", "item_k").agg(F.sum("cnt").alias("cnt"))


def _wagg_cutoff(spark: SparkSession, name: str, retention_s: int) -> int | None:
    """The data-time expiry cutoff: (newest bucket_end in live state) −
    retention. Self-contained — derived from the MV itself, no side
    watermark table; the newest bucket can never expire, so the cutoff
    is stable under any amount of GC."""
    b_t = f"{name}_buckets"
    r = (
        live(spark, b_t)
        .agg(F.max("bucket_end").alias("m"))
        .collect()[0]
    )
    return None if r.m is None else int(r.m) - retention_s


def expire_window_buckets(spark: SparkSession, name: str, retention_s: int) -> int:
    """PHYSICAL retention GC for the windowed-agg MV: every live
    partition sheds its buckets older than the cutoff — whole-dead
    positive epochs as metadata drops (the common case for an in-order
    feed: old arrival epochs expire together), bases and mixed
    partitions by in-place rewrite (`gc_partitions`). Replay-safe at
    any time: maintenance never reads the bucket table, and the served
    view applies the same cutoff filter, so a half-finished pass only
    means some dead buckets wait for the next one. Idempotent; returns
    partitions touched."""
    b_t = f"{name}_buckets"
    cutoff = _wagg_cutoff(spark, name, retention_s)
    if cutoff is None:
        return 0
    flagged = live(spark, b_t).withColumn(
        "_dead", F.col("bucket_end") <= F.lit(cutoff)
    )
    return gc_partitions(spark, b_t, flagged)


def hot_window_view(
    spark: SparkSession, name: str = "hotw", retention_s: int = 7 * 86400, top_n: int = 5
) -> DataFrame:
    """Serve hot-items from the maintained bucket MV: live buckets newer
    than the retention cutoff roll up into their 12 containing sliding
    windows (the batch hot_items two-level plan's own upper level), then
    row_number ≤ top_n per window end. Only windows FULLY covered by
    retained buckets are emitted (window's oldest bucket > cutoff) — a
    partially-expired window would report a count no batch query over
    the retained range agrees with. Read cost is O(live buckets · 12):
    the MV is bucket-grain, events are long gone."""
    from pyspark.sql import Window

    b_t = f"{name}_buckets"
    cutoff = _wagg_cutoff(spark, name, retention_s)
    if cutoff is None:
        cutoff = -(1 << 62)
    live_rows = (
        live(spark, b_t)
        .filter(F.col("bucket_end") > F.lit(cutoff))
        .groupBy("bucket_end", "item_k")
        .agg(F.sum("cnt").alias("cnt"))
    )
    counts = (
        live_rows.select(
            "bucket_end",
            "item_k",
            "cnt",
            F.explode(F.sequence(F.lit(1), F.lit(12))).alias("j"),
        )
        .select(
            (F.col("bucket_end") + (F.col("j") - 1) * 300).alias("window_end_s"),
            "item_k",
            "cnt",
        )
        .groupBy("window_end_s", "item_k")
        .agg(F.sum("cnt").alias("cnt"))
        .filter(F.col("window_end_s") - 3300 > F.lit(cutoff))
    )
    w = Window.partitionBy("window_end_s").orderBy(F.desc("cnt"), F.asc("item_k"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_n)
        .select("window_end_s", "item_k", "cnt", "rank")
    )


def stage_event_chunks_unordered(sf_dir: str, n_chunks: int = 3) -> str:
    """events.parquet split into n_chunks by event_id hash — an
    OUT-OF-ORDER arrival feed (each chunk spans the full time range), so
    consumers that maintain time-contiguous state (sessionization) see
    late events that bridge and MERGE previously-separate fragments.
    Same mtime-pinning as stage_event_chunks."""
    import pyarrow.parquet as pq

    stage = tempfile.mkdtemp(prefix="spark_graft_eventuo_")
    pdf = pq.read_table(os.path.join(sf_dir, "events.parquet")).to_pandas()
    base = None
    for i in range(n_chunks):
        path = os.path.join(stage, f"part-{i}.parquet")
        pdf[pdf["event_id"] % n_chunks == i].to_parquet(path, index=False)
        if base is None:
            base = os.stat(path).st_mtime
        os.utime(path, (base + i, base + i))
    return stage


def run_session_ivm_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str = "sessmv",
    n_chunks: int = 3,
    stage_dir: str | None = None,
    checkpoint_dir: str | None = None,
    fresh_tables: bool = True,
    fold_every: int | None = None,
    refold_width: int | None = None,
    gap_s: int = 1800,
):
    """Incrementally-maintained SESSIONIZATION — the MV family's
    INTERVAL-MERGE member, and the stateful-window hard case native
    session windows solve with watermark-scoped state: a late event can
    BRIDGE two previously-closed sessions, so maintenance must be able
    to merge (and thereby retract) earlier results, at ANY arrival
    order and with no watermark bound on lateness.

    State is per-user VERSIONED session lists in the epoch-partitioned
    `<name>_sess` table: each epoch reads only the TOUCHED users'
    current sessions (batch keys broadcast into a semi-join — state is
    never scanned whole), unions them with the batch's events as unit
    intervals, re-merges intervals per user with the gap rule (strict
    `start − max(prior end) > gap` starts a session — the
    session_window/sessionize semantics), and writes each touched
    user's complete new list tagged `ve = epoch`. Reads and folds keep
    only each user's newest version (`_sess_merge`), so a merge that
    collapses three fragments into one session supersedes the old rows
    wholesale — retraction by versioning, the SCD2 discipline applied
    to window state. Per-epoch cost: O(batch + touched users'
    sessions); per-user session lists are bounded by activity, and the
    interval merge is a per-user-partition window function, shuffled by
    user exactly once per epoch.

    Replay-idempotent like every MV here: state reads exclude the
    in-flight epoch, inputs are pre-epoch state + the batch, and the
    epoch's partition dynamic-overwrites byte-identically on replay."""
    from ..sources.loaders import events_parquet_stream

    sess_t = f"{name}_sess"
    if fresh_tables:
        create_state_table(
            spark,
            sess_t,
            "user_id BIGINT, start_s BIGINT, end_s BIGINT, n_events BIGINT, ve BIGINT",
        )

    stage = stage_dir or stage_event_chunks_unordered(sf_dir, n_chunks)
    feed = events_parquet_stream(spark, stage, maxFilesPerTrigger=1)

    def sess_batch(df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import Window

        s = df.sparkSession
        maybe_fold(s, sess_t, epoch_id, fold_every, merge=_sess_merge, refold_width=refold_width)
        ev = df.select("user_id", F.col("ts").cast("long").alias("ts_s"))
        touched = ev.select("user_id").distinct()
        state = (
            live(s, sess_t)
            .filter(F.col("epoch") != epoch_id)
            .drop("epoch")
            .join(F.broadcast(touched), "user_id", "left_semi")
        )
        w_u = Window.partitionBy("user_id")
        st_cur = (
            state.withColumn("_mv", F.max("ve").over(w_u))
            .filter(F.col("ve") == F.col("_mv"))
            .select("user_id", "start_s", "end_s", "n_events")
        )
        comb = st_cur.unionByName(
            ev.select(
                "user_id",
                F.col("ts_s").alias("start_s"),
                F.col("ts_s").alias("end_s"),
                F.lit(1).cast("long").alias("n_events"),
            )
        )
        w_prev = (
            Window.partitionBy("user_id")
            .orderBy("start_s", "end_s")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_run = (
            Window.partitionBy("user_id")
            .orderBy("start_s", "end_s")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        run_end = F.max("end_s").over(w_prev)
        flagged = comb.withColumn(
            "_new",
            F.when(
                run_end.isNull() | (F.col("start_s") - run_end > gap_s), 1
            ).otherwise(0),
        ).withColumn("_sid", F.sum("_new").over(w_run))
        merged = (
            flagged.groupBy("user_id", "_sid")
            .agg(
                F.min("start_s").alias("start_s"),
                F.max("end_s").alias("end_s"),
                F.sum("n_events").cast("long").alias("n_events"),
            )
            .withColumn("ve", F.lit(epoch_id).cast("long"))
            .select("user_id", "start_s", "end_s", "n_events", "ve")
        )
        _ivm_write_epoch(s, merged, sess_t, epoch_id)

    return _start(feed, sess_batch, f"{name}_q", checkpoint_dir)


def _sess_merge(df: DataFrame) -> DataFrame:
    """Session-MV fold merge: per-user versioned state — keep each
    user's newest version's rows; older session lists are superseded
    whole (a merge rewrote them)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id")
    return (
        df.withColumn("_mv", F.max("ve").over(w))
        .filter(F.col("ve") == F.col("_mv"))
        .drop("_mv")
    )


def sessions_view(spark: SparkSession, name: str = "sessmv") -> DataFrame:
    """Current sessions: each user's newest version from live state —
    the columns (and hence the oracle) of batch `sessionize_native`."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id")
    return (
        live(spark, f"{name}_sess").withColumn("_mv", F.max("ve").over(w))
        .filter(F.col("ve") == F.col("_mv"))
        .select(
            "user_id",
            F.col("start_s").alias("session_start_s"),
            F.col("end_s").alias("session_end_s"),
            "n_events",
        )
    )


def stage_event_cdc_chunks(
    sf_dir: str, n_chunks: int = 3, delete_mod: int | None = None
) -> str:
    """events as a side-tagged CDC feed: inserts (side='E') chunked by
    event_id % n, plus an 'E_DEL' tombstone — KEY ONLY, the shape a real
    CDC topic emits — for every event_id % delete_mod == 0, routed one
    chunk after its insert by the +1 rule (the last chunk's deletes land
    in chunk 0: delete-before-insert)."""
    import pandas as pd
    import pyarrow.parquet as pq

    stage = tempfile.mkdtemp(prefix="spark_graft_evcdc_")
    pdf = pq.read_table(os.path.join(sf_dir, "events.parquet")).to_pandas()
    base = None
    for i in range(n_chunks):
        ins = pdf[pdf["event_id"] % n_chunks == i].copy()
        ins["side"] = "E"
        out = ins[["side", "event_id", "ts", "event_type", "value"]]
        if delete_mod:
            d = pdf[
                (pdf["event_id"] % delete_mod == 0)
                & ((pdf["event_id"] % n_chunks + 1) % n_chunks == i)
            ].copy()
            d["side"] = "E_DEL"
            d["event_type"] = ""
            d["value"] = 0.0
            out = pd.concat(
                [out, d[["side", "event_id", "ts", "event_type", "value"]]],
                ignore_index=True,
            )
        path = os.path.join(stage, f"part-{i}.parquet")
        out.to_parquet(path, index=False)
        if base is None:
            base = os.stat(path).st_mtime
        os.utime(path, (base + i, base + i))
    return stage


def run_quantile_ivm_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str = "qmv",
    n_chunks: int = 3,
    stage_dir: str | None = None,
    checkpoint_dir: str | None = None,
    fresh_tables: bool = True,
    fold_every: int | None = None,
    refold_width: int | None = None,
):
    """Retractable EXACT-QUANTILE MV — the ORDER-STATISTIC member of the
    retraction family. Like COUNT(DISTINCT), a quantile is
    non-invertible at the group grain but exactly invertible one grain
    down: the state is signed REFCOUNTS per (event_type, value) — value
    fixed-pointed to cents so the grain is integer-exact — and the read
    side inverts the histogram into interpolated percentiles with
    Spark's frequency-weighted `percentile`, which is definitionally
    the percentile of the expanded multiset. Deletes are key-only
    tombstones (the CDC shape): a first-seen E_DEL finds its row's
    (type, value) in pre-epoch state or the same batch and writes a −1
    partial; refcount sums fold associatively, so replay idempotence
    and the tier cascade are inherited wholesale from the partial-MV
    discipline.

    State: `<name>_rows` (event_id → type, value — the lookup a key-only
    delete needs), `<name>_d` (tombstones), `<name>_hist` (the signed
    refcounts the quantile reads). All epoch-partitioned; reads exclude
    the in-flight epoch; deletes win at any arrival order (inserts and
    row-state are anti-joined against live ∪ batch tombstones, so a
    delete-before-insert's late insert never enters)."""
    rows_t, d_t, h_t = f"{name}_rows", f"{name}_d", f"{name}_hist"
    if fresh_tables:
        create_state_table(spark, rows_t, "event_id BIGINT, event_type STRING, value_c BIGINT")
        create_state_table(spark, d_t, "event_id BIGINT")
        create_state_table(spark, h_t, "event_type STRING, value_c BIGINT, c BIGINT")

    stage = stage_dir or stage_event_cdc_chunks(sf_dir, n_chunks, delete_mod=7)
    schema = "side string, event_id long, ts timestamp, event_type string, value double"
    feed = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)

    def q_batch(df: DataFrame, epoch_id: int) -> None:
        s = df.sparkSession
        for t, merge in ((rows_t, identity), (d_t, identity), (h_t, _qhist_merge)):
            maybe_fold(s, t, epoch_id, fold_every, merge=merge, refold_width=refold_width)
        d_ins = df.filter(F.col("side") == "E").select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("value_c"),
        )
        d_del = df.filter(F.col("side") == "E_DEL").select("event_id")
        hist_d = (
            live(s, d_t)
            .filter(F.col("epoch") != epoch_id)
            .drop("epoch")
        )
        dead = hist_d.unionByName(d_del)
        # deletes win at any arrival order: cleanse ΔE before it reaches
        # either state table or the histogram
        d_ins = d_ins.join(dead, "event_id", "left_anti")
        rows_state = (
            live(s, rows_t)
            .filter(F.col("epoch") != epoch_id)
            .drop("epoch")
        )
        # first-seen deletes only (redelivery-idempotent), resolved to
        # their row's (type, value) from pre-epoch state — O(|Δdel| +
        # matches), the key-only tombstone's one state probe
        first_del = d_del.distinct().join(hist_d, "event_id", "left_anti")
        retired = rows_state.join(F.broadcast(first_del), "event_id", "left_semi")
        partial = (
            d_ins.select("event_type", "value_c", F.lit(1).alias("sign"))
            .unionByName(
                retired.select("event_type", "value_c", F.lit(-1).alias("sign"))
            )
            .groupBy("event_type", "value_c")
            .agg(F.sum("sign").cast("long").alias("c"))
        )
        _ivm_write_epoch(s, partial, h_t, epoch_id)
        _ivm_write_epoch(s, d_ins, rows_t, epoch_id)
        _ivm_write_epoch(s, d_del, d_t, epoch_id)

    return _start(feed, q_batch, f"{name}_q", checkpoint_dir)


def _qhist_merge(df: DataFrame) -> DataFrame:
    """Quantile-histogram fold merge: signed refcounts sum associatively;
    zero-netted (type, value) pairs drop from the base (same argument as
    the dc merge: folds absorb oldest-epoch prefixes, a retraction is
    always epoch-later than its insert, so a zero net is a dead pair) —
    state bounded by LIVE distinct values per group."""
    return (
        df.groupBy("event_type", "value_c")
        .agg(F.sum("c").cast("long").alias("c"))
        .filter(F.col("c") != 0)
    )


def value_quantile_view(spark: SparkSession, name: str = "qmv") -> DataFrame:
    """Invert the maintained histogram into exact interpolated
    percentiles: frequency-weighted `percentile` over live refcounts is
    the percentile of the expanded multiset — no event rescan, read cost
    O(live distinct values). Columns match batch quantile semantics on
    the cent-quantized value."""
    h = (
        live(spark, f"{name}_hist").groupBy("event_type", "value_c")
        .agg(F.sum("c").cast("long").alias("c"))
        .filter(F.col("c") > 0)
    )
    return (
        h.select("event_type", (F.col("value_c") / 100.0).alias("v"), "c")
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(v, 0.5, c)"), 6).alias("p50"),
            F.round(F.expr("percentile(v, 0.9, c)"), 6).alias("p90"),
            F.sum("c").cast("long").alias("n"),
        )
    )


def run_heavy_hitters_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str = "hhmv",
    n_chunks: int = 3,
    k: int = 32,
    stage_dir: str | None = None,
    checkpoint_dir: str | None = None,
    fresh_tables: bool = True,
    fold_every: int | None = None,
    refold_width: int | None = None,
):
    """Stream-maintained HEAVY-HITTERS summary — the MERGEABLE-SKETCH
    member with a deterministic Misra-Gries-style compression (Agarwal
    et al. 2013's mergeable summaries, with the compression pinned to an
    exact rule both engines can replay): each epoch counts its batch's
    items exactly, subtracts the (k+1)-th largest count t from every
    counter (dropping non-positives — at most k survivors), and records
    t as the epoch's ERROR MASS in a null-key row. Compression is
    per-epoch and NOWHERE else: the fold merge is a plain lossless
    key-sum (counters and error rows alike), so the served result is
    independent of fold timing/tree shape — which is exactly what makes
    the sketch hash-certifiable against an oracle that replays the same
    chunking.

    Read contract: for every key, Σcounters is a LOWER bound on its true
    count and Σcounters + Σt an UPPER bound (each epoch understates any
    key by at most its t); any key with true count > Σt is guaranteed
    present. State is ≤ k counters + 1 error row per live partial —
    constant per epoch, collapsing under the sum-fold — versus the exact
    top-k MV's group-grain rebase: this is the bounded-memory,
    bounded-error end of the same tradeoff."""
    mg_t = f"{name}_mg"
    if fresh_tables:
        create_state_table(spark, mg_t, "item_k INT, c BIGINT")

    from ..sources.loaders import events_parquet_stream

    stage = stage_dir or stage_event_chunks(sf_dir, n_chunks)
    feed = events_parquet_stream(spark, stage, maxFilesPerTrigger=1)

    def hh_batch(df: DataFrame, epoch_id: int) -> None:
        s = df.sparkSession
        maybe_fold(s, mg_t, epoch_id, fold_every, merge=_mg_merge, refold_width=refold_width)
        counts = (
            df.filter(F.col("event_type") == "view")
            .select(F.get_json_object("props", "$.k").cast("int").alias("item_k"))
            .filter(F.col("item_k").isNotNull())  # null keys would pollute the
            # null-key ERROR row and sort engine-dependently — excluded by
            # contract (mirrored in the oracle's counts CTE)
            .groupBy("item_k")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # top-(k+1) via TakeOrderedAndProject (per-partition top-K + a
        # (k+1)-row merge) — never a partition-less row_number() window
        # over the batch's full item-grain frame. The collect is bounded
        # by the constant k+1; any row with c > t necessarily ranks ≤ k.
        cand = counts.orderBy(F.desc("c"), F.asc("item_k")).limit(k + 1).collect()
        t_val = int(cand[k].c) if len(cand) > k else 0
        kept_rows = [
            (int(r.item_k), int(r.c) - t_val) for r in cand if int(r.c) > t_val
        ]
        out = s.createDataFrame(kept_rows + [(None, t_val)], "item_k int, c long")
        _ivm_write_epoch(s, out, mg_t, epoch_id)

    return _start(feed, hh_batch, f"{name}_q", checkpoint_dir)


def _mg_merge(df: DataFrame) -> DataFrame:
    """Heavy-hitters fold merge: LOSSLESS key-sum (null-key error rows
    included) — compression only ever happens per-epoch, so the merged
    summary (and hence the served bounds) is independent of fold timing
    and tree shape."""
    return df.groupBy("item_k").agg(F.sum("c").cast("long").alias("c"))


def heavy_hitters_view(spark: SparkSession, name: str = "hhmv") -> DataFrame:
    """Serve the merged summary: per-key lower bound (Σ surviving
    counters), upper bound (+ the total error mass Σt), sorted
    deterministically. Any key whose true count exceeds the error mass
    is guaranteed a row; every bound is exact arithmetic over live
    partials — no rescan of events, read cost O(k · live partials)."""
    merged = live(spark, f"{name}_mg").groupBy("item_k").agg(F.sum("c").cast("long").alias("c"))
    err = merged.filter(F.col("item_k").isNull()).select(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("_err")
    )
    return (
        merged.filter(F.col("item_k").isNotNull())
        .filter(F.col("c") > 0)
        .crossJoin(F.broadcast(err))
        .select(
            "item_k",
            F.col("c").alias("c_lb"),
            (F.col("c") + F.col("_err")).alias("c_ub"),
        )
    )


def purge_quantile_rows(spark: SparkSession, name: str = "qmv") -> int:
    """Physical purge for the quantile MV's row state: tombstoned rows
    (kept so far only because key-only deletes are read-filtered, the
    join-IVM discipline) are rewritten out of exactly the partitions
    that hold them (`gc_partitions`).

    REPLAY GUARD: only rows whose tombstone appears OUTSIDE the newest
    live positive epoch are purgeable. The newest epoch is the one a
    checkpoint restart can replay, and its replay re-derives the −1
    histogram partial by probing rows_t for its FIRST-SEEN deletes — a
    row purged on the strength of a newest-epoch-only tombstone would
    make that probe come up empty and the replayed partial lose the
    retraction. Tombstones in older positive epochs or in folded bases
    are committed (folds only ever cover ≤ epoch−1), so their rows'
    retractions can never be recomputed; for those the purge is safe at
    any time. Idempotent; returns partitions touched."""
    rows_t, d_t = f"{name}_rows", f"{name}_d"
    pos = [e for e in _partition_epochs(spark, d_t) if e >= 0]
    d_live = live(spark, d_t)
    if pos:
        d_live = d_live.filter(F.col("epoch") != max(pos))
    dead = d_live.select("event_id").distinct()
    flagged = (
        live(spark, rows_t)
        .join(F.broadcast(dead.withColumn("_dead", F.lit(True))), "event_id", "left")
        .withColumn("_dead", F.coalesce(F.col("_dead"), F.lit(False)))
    )
    return gc_partitions(spark, rows_t, flagged)


def purge_superseded_sessions(spark: SparkSession, name: str = "sessmv") -> int:
    """Version GC for the sessionization MV: drop session-list versions
    superseded by a COMMITTED-SAFE newer version. Replay safety is the
    whole design: the newest epoch L can always be replayed from its
    checkpoint, and that replay reads each touched user's CURRENT
    sessions from partitions ≠ L — so a version superseded only by ve=L
    rows is replay INPUT and must survive. Purgeable = rows with
    ve < (the user's newest version strictly below the newest live
    epoch): the replay's max-ve filter lands on that committed version
    whether or not older ones exist. Partition mechanics are the house
    purge discipline (drop fully-superseded positive epochs, rewrite
    mixed ones and bases). Idempotent; returns partitions touched."""
    from pyspark.sql import Window

    sess_t = f"{name}_sess"
    alive = live(spark, sess_t)
    max_e = alive.agg(F.max("ve")).collect()[0][0]
    if max_e is None:
        return 0
    w = Window.partitionBy("user_id")
    flagged = alive.withColumn(
        "_safe_sup",
        F.max(F.when(F.col("ve") < max_e, F.col("ve"))).over(w),
    ).withColumn(
        # coalesce: _safe_sup is NULL for users whose only version is the
        # newest epoch; NULL must read as alive (matching
        # purge_quantile_rows / purge_flat_index), or a rewrite of a mixed
        # partition would silently drop NULL-flagged rows via ~_dead
        "_dead",
        F.coalesce(F.col("ve") < F.col("_safe_sup"), F.lit(False)),
    )
    return gc_partitions(spark, sess_t, flagged)


def purge_superseded_topk_groups(spark: SparkSession, name: str = "orderwide") -> int:
    """Version GC for the GROUPED top-K MV: candidate-set versions
    accrete per (grp, ve) between folds — every touched group writes a
    complete new set each epoch and older ones are only read-filtered.
    Drop versions superseded by a COMMITTED-SAFE newer one, under the
    sessions/quantile replay guard: the newest live epoch L can be
    replayed from its checkpoint, and that replay reads each group's
    CURRENT candidate set from partitions ≠ L (`_ivm_topk_grouped_epoch`'s
    prev pick is max-ve) — so a version superseded only by ve=L rows is
    replay INPUT and must survive. Purgeable = rows with ve < (the
    group's newest version strictly below the newest live ve): the
    replay's max-ve filter lands on that committed version whether or
    not older ones exist. Sentinel rows version-travel with their set
    and purge with it. Partition mechanics are the house discipline
    (`gc_partitions`). Idempotent; returns partitions touched."""
    from pyspark.sql import Window

    tkg_t = f"{name}_tkg"
    alive = live(spark, tkg_t)
    max_e = alive.agg(F.max("ve")).collect()[0][0]
    if max_e is None:
        return 0
    w = Window.partitionBy("grp")
    flagged = alive.withColumn(
        "_safe_sup",
        F.max(F.when(F.col("ve") < max_e, F.col("ve"))).over(w),
    ).withColumn(
        # NULL _safe_sup (group's only version is the newest epoch) must
        # read as alive — the purge_quantile_rows/sessions coalesce rule
        "_dead",
        F.coalesce(F.col("ve") < F.col("_safe_sup"), F.lit(False)),
    )
    return gc_partitions(spark, tkg_t, flagged)


def stage_embedding_cdc_chunks(
    sf_dir: str, n_chunks: int = 4, delete_mod: int = 9, delete_rem: int = 5
) -> str:
    """embeddings as a side-tagged CDC feed: inserts (side='V') chunked
    by vec_id % n, plus a KEY-ONLY 'V_DEL' tombstone for every
    vec_id % delete_mod == delete_rem, routed one chunk after its insert
    (last chunk's deletes land in chunk 0 — delete-before-insert). The
    default rule intersects the query set (vec_id 500 is both a query
    and deleted at the test SFs), so the gate also certifies that a
    deleted QUERY disappears from the served results."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    stage = tempfile.mkdtemp(prefix="spark_graft_veccdc_")
    pdf = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pandas()
    base = None
    for i in range(n_chunks):
        ins = pdf[pdf["vec_id"] % n_chunks == i].copy()
        ins["side"] = "V"
        out = ins[["side", "vec_id", "embedding", "label"]]
        d = pdf[
            (pdf["vec_id"] % delete_mod == delete_rem)
            & ((pdf["vec_id"] % n_chunks + 1) % n_chunks == i)
        ].copy()
        if len(d):
            d["side"] = "V_DEL"
            d["embedding"] = [np.zeros(0, dtype="float32")] * len(d)
            d["label"] = np.int32(0)
            out = pd.concat([out, d[["side", "vec_id", "embedding", "label"]]], ignore_index=True)
        path = os.path.join(stage, f"part-{i}.parquet")
        out.to_parquet(path, index=False)
        if base is None:
            base = os.stat(path).st_mtime
        os.utime(path, (base + i, base + i))
    return stage


def run_flat_index_cdc_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str = "flatcdc",
    n_chunks: int = 4,
    stage_dir: str | None = None,
    checkpoint_dir: str | None = None,
    fresh_tables: bool = True,
    fold_every: int | None = None,
    refold_width: int | None = None,
):
    """The flat vector store as a CDC CONSUMER — FAISS remove_ids() for
    the search stack's semantic half (the lexical half already has its
    delete twin in `run_bm25_index_stream`): V_DEL tombstones accumulate
    in `<name>_del`, inserts are cleansed against live ∪ batch
    tombstones before appending (delete wins at ANY arrival order,
    delete-before-insert included), and `flat_index_search` anti-joins
    live tombstones at read — so a deleted vector neither serves as a
    neighbor NOR as a query. Same quantize/append/identity-fold shape as
    `run_flat_index_stream`; `purge_flat_index` is the physical pass."""
    from ..operators.similarity import _idot, quantize

    vec_t, del_t = f"{name}_vec", f"{name}_del"
    if fresh_tables:
        create_state_table(spark, vec_t, "vec_id BIGINT, q ARRAY<BIGINT>, n2 BIGINT")
        create_state_table(spark, del_t, "vec_id BIGINT")

    stage = stage_dir or stage_embedding_cdc_chunks(sf_dir, n_chunks)
    feed = (
        spark.readStream.schema("side string, vec_id long, embedding array<float>, label int")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )

    def index_batch(df: DataFrame, epoch_id: int) -> None:
        s = df.sparkSession
        for t in (vec_t, del_t):
            maybe_fold(s, t, epoch_id, fold_every, refold_width=refold_width)
        d_del = df.filter(F.col("side") == "V_DEL").select("vec_id")
        hist_d = (
            live(s, del_t)
            .filter(F.col("epoch") != epoch_id)
            .drop("epoch")
        )
        dead = hist_d.unionByName(d_del)
        ins = (
            df.filter(F.col("side") == "V")
            .join(dead, "vec_id", "left_anti")
            .select("vec_id", quantize(F.col("embedding")).alias("q"))
        )
        ins = ins.withColumn("n2", _idot(F.col("q"), F.col("q")))
        _ivm_write_epoch(s, ins.select("vec_id", "q", "n2"), vec_t, epoch_id)
        _ivm_write_epoch(s, d_del, del_t, epoch_id)

    return _start(feed, index_batch, f"{name}_q", checkpoint_dir)


def flat_index_search(
    spark: SparkSession, name: str = "flatcdc", k: int = 5, query_mod: int = 100
) -> DataFrame:
    """Exact cosine top-k served from the maintained store (knn_brute's
    own semantics and columns): surviving rows only — live tombstones
    anti-joined — with queries drawn from the surviving store itself, so
    a deleted query's result rows vanish too. Read cost O(|store|·|Q|)
    scored pairs, the flat store's honest contract (recall 1.0; the
    PQ/SQ8 indexes are the compressed members)."""
    from pyspark.sql import Window

    vec_t, del_t = f"{name}_vec", f"{name}_del"
    dead = live(spark, del_t).select("vec_id").distinct()
    e = (
        live(spark, vec_t)
        .drop("epoch")
        .join(F.broadcast(dead), "vec_id", "left_anti")
    )
    qs = e.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq"), F.col("n2").alias("qn2")
    )
    from ..operators.similarity import _idot

    scored = (
        e.crossJoin(F.broadcast(qs))
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _idot(F.col("q"), F.col("qq"))
                / (F.sqrt(F.col("n2").cast("double")) * F.sqrt(F.col("qn2").cast("double")))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def run_pq_index_cdc_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str = "pqcdc",
    n_chunks: int = 4,
    stage_dir: str | None = None,
    checkpoint_dir: str | None = None,
    fresh_tables: bool = True,
    fold_every: int | None = None,
    refold_width: int | None = None,
):
    """The stream-maintained PQ index as a CDC CONSUMER — FAISS
    `remove_ids()` on the COMPRESSED index, completing the delete story
    across every maintained index family (BM25, flat store, near-dup
    LSH, now PQ codes). Same train-on-first-batch-then-freeze contract
    as `run_pq_index_stream` — deletes NEVER retrain the codebook
    (neither does FAISS: stored codes would silently re-mean) — with
    V_DEL tombstones in `<name>_del`:

    - inserts are cleansed against live ∪ batch tombstones before
      encoding (delete wins at any arrival order; a delete-before-insert
      key never produces codes);
    - the codebook trains on the first NON-EMPTY cleansed batch (the
      head-check re-arms until then — an all-deleted first chunk just
      defers training);
    - `pq_index_cdc_search` anti-joins live tombstones at read, so a
      deleted vector's codes stop serving immediately;
    - `purge_pq_index_dead` physically retires dead codes — replay-safe
      at any time, since per-epoch maintenance never probes the codes
      table (each epoch encodes only its own batch)."""
    from ..operators.similarity import (
        PQ_CODE_MOD,
        PQ_ITERS,
        _pq_encode,
        _pq_subvectors,
        _pq_train,
        quantize,
    )

    cb_t, codes_t, del_t = f"{name}_codebook", f"{name}_codes", f"{name}_del"
    if fresh_tables:
        _drop_table(spark, cb_t)
        spark.sql(
            f"CREATE TABLE {cb_t} (m INT, code BIGINT, cv ARRAY<BIGINT>, cn2 BIGINT)"
            f" USING parquet"
        )
        # label rides the code rows as the filter payload (FAISS stores
        # selector ids alongside codes) — attribute-scoped search reads
        # it in-scan, never via a second corpus join
        create_state_table(
            spark, codes_t, "vec_id BIGINT, codes ARRAY<BIGINT>, rn2 BIGINT, label INT"
        )
        create_state_table(spark, del_t, "vec_id BIGINT")

    stage = stage_dir or stage_embedding_cdc_chunks(sf_dir, n_chunks)
    feed = (
        spark.readStream.schema("side string, vec_id long, embedding array<float>, label int")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )

    def index_batch(df: DataFrame, epoch_id: int) -> None:
        s = df.sparkSession
        for t in (codes_t, del_t):
            maybe_fold(s, t, epoch_id, fold_every, refold_width=refold_width)
        d_del = df.filter(F.col("side") == "V_DEL").select("vec_id")
        hist_d = (
            live(s, del_t)
            .filter(F.col("epoch") != epoch_id)
            .drop("epoch")
        )
        dead = hist_d.unionByName(d_del)
        e = (
            df.filter(F.col("side") == "V")
            .join(dead, "vec_id", "left_anti")
            .select("vec_id", "label", quantize(F.col("embedding")).alias("q"))
        )
        sub = _pq_subvectors(e).persist()
        if not s.table(cb_t).head(1) and sub.head(1):
            _pq_train(sub, PQ_CODE_MOD, PQ_ITERS).select(
                "m", "code", "cv", "cn2"
            ).write.mode("overwrite").insertInto(cb_t, overwrite=True)
            s.catalog.refreshTable(cb_t)
        # re-attach the label payload after encoding — batch-grain join
        codes = _pq_encode(sub, s.table(cb_t)).join(
            e.select("vec_id", "label"), "vec_id"
        )
        _ivm_write_epoch(
            s, codes.select("vec_id", "codes", "rn2", "label"), codes_t, epoch_id
        )
        _ivm_write_epoch(s, d_del, del_t, epoch_id)
        sub.unpersist()

    return _start(feed, index_batch, f"{name}_q", checkpoint_dir)


def pq_index_cdc_search(
    spark: SparkSession, queries_e, name: str = "pqcdc", k: int | None = None
) -> DataFrame:
    """`pq_index_search` with the CDC read contract: stored codes
    anti-join live tombstones before scoring, so a deleted vector never
    serves as a neighbor (callers pass survivor queries, completing the
    neither-neighbor-nor-query rule)."""
    from ..operators.similarity import KNN_K, _pq_query_luts, _pq_rank

    lut = _pq_query_luts(queries_e, spark.table(f"{name}_codebook"))
    codes = live(spark, f"{name}_codes").select(
        "vec_id", "codes", "rn2"
    )
    dead = (
        live(spark, f"{name}_del")
        .select("vec_id")
        .distinct()
    )
    codes = codes.join(dead, "vec_id", "left_anti")
    scored = codes.join(F.broadcast(lut), F.col("query_id") != F.col("vec_id"))
    return _pq_rank(scored, k or KNN_K)


def pq_index_filtered_search(
    spark: SparkSession, queries_e, name: str = "pqcdc", k: int | None = None
) -> DataFrame:
    """FILTERED search served from the MAINTAINED compressed index —
    `knn_ivfpq_filtered`'s in-scan design (FAISS IVFPQ + IDSelector) on
    the PQ-CDC store: the label predicate lands on the stored code rows
    BEFORE the ADC lookup, composed with the tombstone anti-join, so an
    attribute-scoped query reads only same-label survivor codes (never a
    post-filter of an unfiltered top-k, which under-returns whenever the
    true same-label neighbors rank below k globally). `queries_e` must
    carry (vec_id, q, n2, label); callers pass survivor queries,
    completing the neither-neighbor-nor-query delete rule.

    Scale shape: per-query LUTs + label broadcast; the code table scans
    once with the label conjunct folded into the broadcast-join
    condition, cutting ADC-scored rows to |codes|/|labels| per query —
    the production path for tenant-scoped search on a compressed store."""
    from ..operators.similarity import KNN_K, _pq_query_luts, _pq_rank

    lut = _pq_query_luts(queries_e, spark.table(f"{name}_codebook")).join(
        queries_e.select(
            F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
        ),
        "query_id",
    )
    codes = live(spark, f"{name}_codes").select(
        "vec_id", "codes", "rn2", "label"
    )
    dead = (
        live(spark, f"{name}_del")
        .select("vec_id")
        .distinct()
    )
    codes = codes.join(dead, "vec_id", "left_anti")
    scored = codes.join(
        F.broadcast(lut),
        (F.col("label") == F.col("qlabel"))
        & (F.col("query_id") != F.col("vec_id")),
    )
    return _pq_rank(scored, k or KNN_K)


def purge_pq_index_dead(spark: SparkSession, name: str = "pqcdc") -> int:
    """FAISS remove_ids made physical on the code index: rewrite only
    the code partitions holding tombstoned vectors (`gc_partitions`);
    tombstones stay (a late re-insert must still be cleansed); the
    frozen codebook is untouched by design. Replay-safe at any time —
    per-epoch maintenance never probes the codes table. Purge changes
    bytes, never served results. Idempotent; returns partitions
    touched."""
    codes_t, del_t = f"{name}_codes", f"{name}_del"
    dead = live(spark, del_t).select("vec_id").distinct()
    flagged = (
        live(spark, codes_t)
        .join(F.broadcast(dead.withColumn("_dead", F.lit(True))), "vec_id", "left")
        .withColumn("_dead", F.coalesce(F.col("_dead"), F.lit(False)))
    )
    return gc_partitions(spark, codes_t, flagged)


def run_sq8_index_cdc_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str = "sq8cdc",
    n_chunks: int = 4,
    stage_dir: str | None = None,
    checkpoint_dir: str | None = None,
    fresh_tables: bool = True,
    fold_every: int | None = None,
    refold_width: int | None = None,
):
    """The stream-maintained SQ8 index as a CDC CONSUMER — FAISS
    `remove_ids()` on the scalar-quantized index, completing the delete
    story across ALL FIVE maintained index families (BM25, flat store,
    near-dup LSH, PQ codes, now SQ8 codes). Same train-on-first-
    non-empty-cleansed-batch-then-FREEZE contract as
    `run_sq8_index_stream` (deletes never retrain the per-dim ranges —
    stored codes would silently re-mean), with V_DEL tombstones in
    `<name>_del`: inserts cleansed against live ∪ batch tombstones
    before encoding (delete wins at any arrival order),
    `sq8_index_search` anti-joins live tombstones at read, and
    `purge_sq8_index_dead` physically retires dead codes (replay-safe:
    per-epoch maintenance never probes the codes table)."""
    from ..operators.similarity import _idot, _sq8_stats, quantize, sq8_xhat_el

    stats_t, codes_t, del_t = f"{name}_stats", f"{name}_codes", f"{name}_del"
    if fresh_tables:
        _drop_table(spark, stats_t)
        spark.sql(
            f"CREATE TABLE {stats_t} (mn ARRAY<BIGINT>, step ARRAY<BIGINT>) USING parquet"
        )
        # label rides the code rows as the filter payload (FAISS stores
        # selector ids alongside codes) — attribute-scoped search reads
        # it in-scan, never via a second corpus join
        create_state_table(spark, codes_t, "vec_id BIGINT, xh ARRAY<BIGINT>, rn2 BIGINT, label INT")
        create_state_table(spark, del_t, "vec_id BIGINT")

    stage = stage_dir or stage_embedding_cdc_chunks(sf_dir, n_chunks)
    feed = (
        spark.readStream.schema("side string, vec_id long, embedding array<float>, label int")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )

    def index_batch(df: DataFrame, epoch_id: int) -> None:
        s = df.sparkSession
        for t in (codes_t, del_t):
            maybe_fold(s, t, epoch_id, fold_every, refold_width=refold_width)
        d_del = df.filter(F.col("side") == "V_DEL").select("vec_id")
        hist_d = (
            live(s, del_t)
            .filter(F.col("epoch") != epoch_id)
            .drop("epoch")
        )
        dead = hist_d.unionByName(d_del)
        e = (
            df.filter(F.col("side") == "V")
            .join(dead, "vec_id", "left_anti")
            .select("vec_id", "label", quantize(F.col("embedding")).alias("q"))
            .persist()
        )
        if not s.table(stats_t).head(1) and e.head(1):
            _sq8_stats(e).write.mode("overwrite").insertInto(stats_t, overwrite=True)
            s.catalog.refreshTable(stats_t)
        enc = (
            e.crossJoin(F.broadcast(s.table(stats_t)))
            .select("vec_id", "label", F.transform("q", sq8_xhat_el).alias("xh"))
            .withColumn("rn2", _idot(F.col("xh"), F.col("xh")))
        )
        _ivm_write_epoch(
            s, enc.select("vec_id", "xh", "rn2", "label"), codes_t, epoch_id
        )
        _ivm_write_epoch(s, d_del, del_t, epoch_id)
        e.unpersist()

    return _start(feed, index_batch, f"{name}_q", checkpoint_dir)


def purge_sq8_index_dead(spark: SparkSession, name: str = "sq8cdc") -> int:
    """FAISS remove_ids made physical on the SQ8 code index: rewrite
    only the code partitions holding tombstoned vectors; tombstones
    stay; the frozen ranges are untouched by design. Replay-safe —
    maintenance never probes the codes table. Idempotent; returns
    partitions touched."""
    codes_t, del_t = f"{name}_codes", f"{name}_del"
    dead = live(spark, del_t).select("vec_id").distinct()
    flagged = (
        live(spark, codes_t)
        .join(F.broadcast(dead.withColumn("_dead", F.lit(True))), "vec_id", "left")
        .withColumn("_dead", F.coalesce(F.col("_dead"), F.lit(False)))
    )
    return gc_partitions(spark, codes_t, flagged)


def sq8_index_filtered_search(
    spark: SparkSession, queries_e, name: str = "sq8cdc", k: int | None = None
) -> DataFrame:
    """FILTERED search on the MAINTAINED SQ8 index — the in-scan design
    `pq_index_filtered_search` carries (FAISS IDSelector on the
    quantized store), completing the filtered story across maintained
    families: the label predicate lands on the stored code rows BEFORE
    the asymmetric scoring, composed with the tombstone anti-join, so an
    attribute-scoped query scores only same-label survivor codes (never
    a post-filter of an unfiltered top-k, which under-returns whenever
    the true same-label neighbors rank below k globally). `queries_e`
    must carry (vec_id, q, n2, label); callers pass survivor queries.

    Scale shape: queries broadcast with their labels; the code table
    scans once with the label conjunct folded into the broadcast-join
    condition, cutting scored rows to |codes|/|labels| per query — the
    production path for tenant-scoped search on a quantized store."""
    from pyspark.sql import Window

    from ..operators.similarity import KNN_K, _idot

    qs = queries_e.select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("n2").alias("qn2"),
        F.col("label").alias("qlabel"),
    )
    codes = live(spark, f"{name}_codes").select(
        "vec_id", "xh", "rn2", "label"
    )
    dead = (
        live(spark, f"{name}_del")
        .select("vec_id")
        .distinct()
    )
    codes = codes.join(F.broadcast(dead), "vec_id", "left_anti")
    scored = codes.join(
        F.broadcast(qs),
        (F.col("label") == F.col("qlabel")) & (F.col("query_id") != F.col("vec_id")),
    ).withColumn(
        "cosine_sq8",
        _idot(F.col("qq"), F.col("xh"))
        / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("rn2").cast("double"))),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sq8"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= (k or KNN_K))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cosine_sq8", 6).alias("cosine_sq8"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def run_knn_graph_cdc_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str = "kngcdc",
    n_chunks: int = 4,
    stage_dir: str | None = None,
    checkpoint_dir: str | None = None,
    fresh_tables: bool = True,
    fold_every: int | None = None,
    refold_width: int | None = None,
    bucket_cap: int | None = _KNN_GRAPH_CAP_DEFAULT,
):
    """STREAM-MAINTAINED corpus k-NN graph under vector CDC — the
    substrate graph-based ANN (HNSW-class) and the graph operators
    (components/label-prop/triangles/PageRank) consume, kept incremental
    instead of rebuilt: per epoch the maintainer bands the cleansed
    arrivals (`sign_band_frame`, the batch operator's own LSH), joins
    them against the LIVE band index to find every bucket-mate pair with
    ≥1 new member, and scores those pairs exactly (the per-bucket int64
    numpy matmul — the same documented Arrow exception as batch
    `knn_graph`). Four epoch-partitioned tables, each O(batch·bucket) to
    maintain: `<name>_vec` (quantized vectors + norms), `<name>_band`
    (the LSH band index), `<name>_edge` (UNDIRECTED scored candidate
    pairs, id_a < id_b), `<name>_del` (V_DEL tombstones).

    The edge table stores the FULL same-bucket candidate-pair scores —
    deliberately NOT pre-pruned to per-src top-k: under deletes, a
    neighbor that was crowded out of a top-k at scoring time must be
    RECALLABLE when the crowding vector dies (the graph-index delete
    problem; a pruned index would need bucket re-scoring). Storing
    Σbucket² scored pairs is the same volume the batch operator scores
    per rebuild — paid once per pair here, and bounded at scale by the
    banding selectivity (deepen `rows` as N grows), so a delete is pure
    read-side retraction and `knn_graph_cdc_view` serves the exact batch
    graph over survivors at any arrival order.

    Coverage argument: a surviving pair (a, b) sharing a band bucket is
    scored exactly at epoch max(arrival(a), arrival(b)) — within-batch
    pairs by the self-side of the join, cross-epoch pairs by the
    band-index side — so the union of epochs is the union of all
    same-bucket survivor pairs, the batch operator's candidate set.

    Hot-bucket backstop (`bucket_cap`, default the batch operator's
    KNN_GRAPH_BUCKET_CAP): a scored group larger than the cap — a
    near-duplicate-saturated bucket that no sign depth splits, the
    pathology batch `_capped_buckets` stage 2 exists for — is
    deterministically hash-split on vec_id inside the pandas group and
    scored within residues, bounding every matmul at ~cap² and per-group
    work at O(B·cap). The batch cap's stage-1 (deeper sign re-banding)
    is deliberately NOT mirrored here: its sub-bucket width depends on
    full bucket membership, which changes as the stream grows — the
    production lever for chronically hot buckets is deeper `rows_b`
    banding; the cap is the can't-OOM guarantee. Below the cap (every
    test-SF bucket, by orders of magnitude) the maintainer is
    byte-identical to the uncapped path, so the oracle gates stay
    hash-green; above it, only same-band pairs straddling a residue are
    skipped, and other bands still propose them."""
    import numpy as np
    import pandas as pd

    from ..operators.similarity import (
        LSH_PLANES,
        LSH_SIGN_BANDS,
        _idot,
        quantize,
        sign_band_frame,
    )

    bands, rows_b = LSH_SIGN_BANDS, LSH_PLANES // 2
    vec_t, band_t = f"{name}_vec", f"{name}_band"
    edge_t, del_t = f"{name}_edge", f"{name}_del"
    if fresh_tables:
        create_state_table(spark, vec_t, "vec_id BIGINT, q ARRAY<BIGINT>, n2 BIGINT")
        create_state_table(spark, band_t, "vec_id BIGINT, bi INT, bv BIGINT")
        create_state_table(spark, edge_t, "id_a BIGINT, id_b BIGINT, cosine DOUBLE")
        create_state_table(spark, del_t, "vec_id BIGINT")

    stage = stage_dir or stage_embedding_cdc_chunks(sf_dir, n_chunks)
    feed = (
        spark.readStream.schema("side string, vec_id long, embedding array<float>, label int")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )

    empty_pairs = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
        {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
    )

    def _score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        m = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
        g = m @ m.T  # exact int64 dots (same bound as batch knn_graph)
        rt = np.sqrt(pdf["n2"].to_numpy().astype(np.float64))
        cos = g / (rt[:, None] * rt[None, :])
        new = pdf["is_new"].to_numpy()
        iu, ju = np.triu_indices(len(ids), k=1)
        mask = new[iu] | new[ju]  # only pairs this epoch introduces
        if not mask.any():
            return empty_pairs
        ia, ib = ids[iu[mask]], ids[ju[mask]]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "cosine": cos[iu[mask], ju[mask]],
            }
        )

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2 or not pdf["is_new"].any():
            return empty_pairs
        if bucket_cap is None or len(pdf) <= bucket_cap:
            return _score_group(pdf)
        # hot-bucket backstop (batch `_capped_buckets` stage-2 parity):
        # a near-duplicate-saturated bucket that no sign depth splits
        # would otherwise give this group an unbounded B×B matmul and an
        # unbounded stored edge set. Deterministically hash-split the
        # group on vec_id (Knuth multiplicative mix — id-only, so a
        # vector lands in the same residue whenever the epoch's split
        # width matches) and score within residues: each matmul is
        # ≤ ~cap², total work O(B·cap) not O(B²). Lossy ONLY above cap,
        # and only for pairs straddling a residue IN THIS BAND — other
        # bands still propose them; below the cap (every test-SF bucket,
        # by orders of magnitude) the path is byte-identical to the
        # uncapped maintainer, which keeps the oracle gates hash-green.
        nsub = -(-len(pdf) // bucket_cap)
        mix = (
            pdf["vec_id"].to_numpy().astype(np.uint64) * np.uint64(2654435761)
        ) % np.uint64(1 << 32)
        sub = (mix % np.uint64(nsub)).astype(np.int64)
        parts = [
            _score_group(pdf[sub == s])
            for s in range(nsub)
            if (sub == s).sum() >= 2
        ]
        return pd.concat(parts, ignore_index=True) if parts else empty_pairs

    def index_batch(df: DataFrame, epoch_id: int) -> None:
        s = df.sparkSession
        for t in (vec_t, band_t, edge_t, del_t):
            maybe_fold(s, t, epoch_id, fold_every, refold_width=refold_width)
        d_del = df.filter(F.col("side") == "V_DEL").select("vec_id")
        hist_d = (
            live(s, del_t)
            .filter(F.col("epoch") != epoch_id)
            .drop("epoch")
        )
        dead = hist_d.unionByName(d_del)
        e = (
            df.filter(F.col("side") == "V")
            .join(dead, "vec_id", "left_anti")
            .select("vec_id", quantize(F.col("embedding")).alias("q"))
            .withColumn("n2", _idot(F.col("q"), F.col("q")))
            .persist()
        )
        bnew = sign_band_frame(e, bands, rows_b)  # (vec_id, bi, bv), persisted
        # candidate groups: live historical members of the buckets this
        # batch touches (tombstone-cleansed — dead vectors stop making
        # NEW edges immediately) plus the batch members themselves
        touched = bnew.select("bi", "bv").distinct()
        hist_b = (
            live(s, band_t)
            .filter(F.col("epoch") != epoch_id)
            .drop("epoch")
            .join(dead, "vec_id", "left_anti")
            .join(F.broadcast(touched), ["bi", "bv"], "left_semi")
        )
        hist_v = (
            live(s, vec_t)
            .filter(F.col("epoch") != epoch_id)
            .drop("epoch")
        )
        members = (
            hist_b.join(hist_v, "vec_id")
            .withColumn("is_new", F.lit(False))
            .unionByName(bnew.join(e, "vec_id").withColumn("is_new", F.lit(True)))
        )
        pairs = members.groupBy("bi", "bv").applyInPandas(
            bucket_pairs, "id_a long, id_b long, cosine double"
        )
        # a pair sharing several bands carries the identical cosine —
        # max() is dedup, not selection (cross-epoch replays dedup at read)
        edges = pairs.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))
        _ivm_write_epoch(s, edges.select("id_a", "id_b", "cosine"), edge_t, epoch_id)
        _ivm_write_epoch(s, e.select("vec_id", "q", "n2"), vec_t, epoch_id)
        _ivm_write_epoch(s, bnew.select("vec_id", "bi", "bv"), band_t, epoch_id)
        _ivm_write_epoch(s, d_del, del_t, epoch_id)
        bnew.unpersist()
        e.unpersist()

    return _start(feed, index_batch, f"{name}_q", checkpoint_dir)


def knn_graph_cdc_view(
    spark: SparkSession, name: str = "kngcdc", k: int | None = None
) -> DataFrame:
    """The maintained k-NN graph served over survivors: live edges with
    EITHER side tombstoned are retracted (read-side delete — the stored
    unpruned pair scores make the crowded-out neighbors recallable with
    no re-scoring), the undirected pairs expand to both directions, and
    the per-src exact top-k ranks over the candidate union — batch
    `knn_graph`'s own ordering and columns, so the gate hash-certifies
    index-served == rebuild-over-survivors."""
    from pyspark.sql import Window

    from ..operators.similarity import KNN_GRAPH_K

    dead = (
        live(spark, f"{name}_del")
        .select("vec_id")
        .distinct()
    )
    e = (
        live(spark, f"{name}_edge")
        .drop("epoch")
        .join(F.broadcast(dead.withColumnRenamed("vec_id", "id_a")), "id_a", "left_anti")
        .join(F.broadcast(dead.withColumnRenamed("vec_id", "id_b")), "id_b", "left_anti")
    )
    sym = e.select(
        F.col("id_a").alias("src_id"), F.col("id_b").alias("nbr_id"), "cosine"
    ).unionByName(
        e.select(F.col("id_b").alias("src_id"), F.col("id_a").alias("nbr_id"), "cosine")
    )
    # replay-safe dedup (a redelivered epoch re-emits identical scores)
    uniq = sym.groupBy("src_id", "nbr_id").agg(F.max("cosine").alias("cosine"))
    w = Window.partitionBy("src_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        uniq.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= (k or KNN_GRAPH_K))
        .select(
            "src_id",
            "nbr_id",
            F.round("cosine", 6).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def purge_knn_graph_dead(spark: SparkSession, name: str = "kngcdc") -> int:
    """Physical delete pass for the maintained k-NN graph: rewrite only
    the vector/band/edge partitions holding dead-sided rows
    (`gc_partitions` per table); tombstones stay (late re-inserts must
    still be cleansed). Replay-safe: per-epoch maintenance reads the
    band/vec tables only through the same tombstone anti-join, so a
    purged row was already invisible. Purge changes bytes, never the
    served graph. Idempotent; returns partitions touched."""
    dead = (
        live(spark, f"{name}_del")
        .select("vec_id")
        .distinct()
    )
    touched = 0
    for t in (f"{name}_vec", f"{name}_band"):
        flagged = (
            live(spark, t)
            .join(F.broadcast(dead.withColumn("_dead", F.lit(True))), "vec_id", "left")
            .withColumn("_dead", F.coalesce(F.col("_dead"), F.lit(False)))
        )
        touched += gc_partitions(spark, t, flagged)
    et = f"{name}_edge"
    da = dead.select(F.col("vec_id").alias("id_a")).withColumn("_da", F.lit(True))
    db = dead.select(F.col("vec_id").alias("id_b")).withColumn("_db", F.lit(True))
    flagged = (
        live(spark, et)
        .join(F.broadcast(da), "id_a", "left")
        .join(F.broadcast(db), "id_b", "left")
        .withColumn(
            "_dead",
            F.coalesce(F.col("_da"), F.lit(False))
            | F.coalesce(F.col("_db"), F.lit(False)),
        )
        .drop("_da", "_db")
    )
    touched += gc_partitions(spark, et, flagged)
    return touched


def purge_flat_index(spark: SparkSession, name: str = "flatcdc") -> int:
    """FAISS remove_ids made physical: rewrite only the store partitions
    holding tombstoned vectors (`gc_partitions`); tombstones stay (a
    late re-insert must still be cleansed). Replay-safe at any time —
    maintenance never probes the store, so no replayed epoch re-reads a
    purged row. Purge changes bytes, never served results (the read
    already anti-joins). Idempotent; returns partitions touched."""
    vec_t, del_t = f"{name}_vec", f"{name}_del"
    dead = live(spark, del_t).select("vec_id").distinct()
    flagged = (
        live(spark, vec_t)
        .join(F.broadcast(dead.withColumn("_dead", F.lit(True))), "vec_id", "left")
        .withColumn("_dead", F.coalesce(F.col("_dead"), F.lit(False)))
    )
    return gc_partitions(spark, vec_t, flagged)
