"""Incremental corpus ingest (streaming/ingest.py): chunked replay through
the dedup ∘ quality ∘ lang gates must reproduce the batch pipeline."""

from __future__ import annotations

import pytest


class TestCorpusIngest:
    def test_incremental_ingest_equals_batch_prep(self, spark, sf_dir):
        from gmall_flink_200621_spark.plans.training import corpus_prep
        from gmall_flink_200621_spark.streaming.ingest import run_corpus_ingest_stream

        q = run_corpus_ingest_stream(spark, sf_dir, n_chunks=4, name="t_ingest")
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        kept = {
            r.doc_id: (r.n_tokens, r.n_bpe_est, round(r.quality_score, 9))
            for r in spark.table("t_ingest_kept").collect()
        }
        batch = {
            r.doc_id: (r.n_tokens, r.n_bpe_est, round(r.quality_score, 9))
            for r in corpus_prep(spark, sf_dir).collect()
        }
        # every accepted doc, with stats, identical to the one-shot batch prep
        assert kept == batch

        # the fingerprint index holds exactly one row per distinct text —
        # duplicates arriving in later chunks were anti-joined out, and
        # rejected (low-quality / non-en) texts are remembered too
        from gmall_flink_200621_spark.sources.loaders import load_table

        n_distinct = (
            load_table(spark, sf_dir, "documents").select("text").distinct().count()
        )
        assert spark.table("t_ingest_fps").count() == n_distinct

    def test_folded_ingest_equals_batch_prep(self, spark, sf_dir):
        """fold_every=2 over 5 chunks: the kept/fps tables coalesce into
        tiered watermark bases mid-stream, the fps probe (live_epochs +
        epoch != epoch_id) still anti-joins exactly the prior state, and
        the accepted set read through live_epochs is identical to batch
        corpus_prep — with bounded partitions."""
        from gmall_flink_200621_spark.plans.training import corpus_prep
        from gmall_flink_200621_spark.streaming.ingest import (
            live_epochs,
            run_corpus_ingest_stream,
        )

        q = run_corpus_ingest_stream(
            spark, sf_dir, n_chunks=5, name="t_ingf", fold_every=2
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        kept = {
            r.doc_id: (r.n_tokens, r.n_bpe_est, round(r.quality_score, 9))
            for r in live_epochs(spark.table("t_ingf_kept")).collect()
        }
        batch = {
            r.doc_id: (r.n_tokens, r.n_bpe_est, round(r.quality_score, 9))
            for r in corpus_prep(spark, sf_dir).collect()
        }
        assert kept == batch
        for t in ("t_ingf_kept", "t_ingf_fps"):
            eps = sorted(
                int(r[0].split("=")[1])
                for r in spark.sql(f"SHOW PARTITIONS {t}").collect()
            )
            assert eps[0] < 0 and len([e for e in eps if e >= 0]) <= 2, (t, eps)

    def test_redelivered_chunk_is_idempotent(self, spark, sf_dir):
        """Replaying with a duplicated chunk (at-least-once file source)
        must not change the accepted set: every fp in the re-sent chunk is
        already in the index."""
        import os
        import shutil

        from gmall_flink_200621_spark.streaming.ingest import (
            run_corpus_ingest_stream,
            stage_document_chunks,
        )

        # stage normally, then append a copy of chunk 0 as a later file
        stage = stage_document_chunks(sf_dir, n_chunks=3)
        shutil.copyfile(
            os.path.join(stage, "part-0.parquet"), os.path.join(stage, "part-9redeliver.parquet")
        )

        import gmall_flink_200621_spark.streaming.ingest as I

        orig = I.stage_document_chunks
        I.stage_document_chunks = lambda *a, **k: stage
        try:
            q = run_corpus_ingest_stream(spark, sf_dir, n_chunks=3, name="t_ingest2")
            q.processAllAvailable()
            q.stop()
            q.awaitTermination()
        finally:
            I.stage_document_chunks = orig

        from gmall_flink_200621_spark.plans.training import corpus_prep

        kept_ids = {r.doc_id for r in spark.table("t_ingest2_kept").collect()}
        batch_ids = {r.doc_id for r in corpus_prep(spark, sf_dir).collect()}
        assert kept_ids == batch_ids

    def test_checkpoint_recovery_resumes_without_rereading(self, spark, sf_dir, tmp_path):
        """Stop the ingest after two chunks, add the rest, restart from the
        same checkpoint with reset_tables=False: the restarted query reads
        ONLY the new chunks (offsets restored), and the final kept table
        equals the uninterrupted batch prep — stats and all."""
        import os
        import shutil

        from gmall_flink_200621_spark.plans.training import corpus_prep
        from gmall_flink_200621_spark.streaming.ingest import (
            run_corpus_ingest_stream,
            stage_document_chunks,
        )

        full = stage_document_chunks(sf_dir, n_chunks=4)
        incr = tmp_path / "stage"
        incr.mkdir()
        ckpt = str(tmp_path / "ckpt")
        for f in ("part-0.parquet", "part-1.parquet"):
            shutil.copy2(os.path.join(full, f), incr / f)  # copy2 keeps mtime order

        def start(reset):
            return run_corpus_ingest_stream(
                spark, sf_dir, name="t_ingest_rec", stage_dir=str(incr), checkpoint_dir=ckpt, reset_tables=reset
            )

        q = start(True)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        n_phase1 = spark.table("t_ingest_rec_kept").count()

        for f in ("part-2.parquet", "part-3.parquet"):
            shutil.copy2(os.path.join(full, f), incr / f)
        q2 = start(False)
        q2.processAllAvailable()
        restarted = [p for p in q2.recentProgress if p["numInputRows"] > 0]
        q2.stop()
        q2.awaitTermination()
        assert len(restarted) == 2  # only the two NEW chunks were read

        # the phase-1 read cached this session's file listing; the stream's
        # cloned session appended behind it (module docstring caveat)
        spark.catalog.refreshTable("t_ingest_rec_kept")
        kept = {
            r.doc_id: (r.n_tokens, r.n_bpe_est, round(r.quality_score, 9))
            for r in spark.table("t_ingest_rec_kept").collect()
        }
        batch = {
            r.doc_id: (r.n_tokens, r.n_bpe_est, round(r.quality_score, 9))
            for r in corpus_prep(spark, sf_dir).collect()
        }
        assert kept == batch
        assert len(kept) > n_phase1  # the restart actually ingested new docs


class TestNearDupIngest:
    def test_replay_equals_batch_lsh(self, spark, sf_dir):
        """Chunked replay of the corpus must surface EXACTLY the batch
        dedup_minhash_lsh pair set — including pairs whose two docs
        arrived in different chunks (the cross-batch probe against the
        accumulated band index), with identical jaccard values."""
        from gmall_flink_200621_spark.operators.dedup import dedup_minhash_lsh
        from gmall_flink_200621_spark.sources.loaders import load_table
        from gmall_flink_200621_spark.streaming.ingest import run_neardup_ingest_stream

        q = run_neardup_ingest_stream(spark, sf_dir, n_chunks=4, name="t_neardup")
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        spark.catalog.refreshTable("t_neardup_pairs")
        got = {
            (r.id_a, r.id_b): r.jaccard for r in spark.table("t_neardup_pairs").collect()
        }
        batch = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup_minhash_lsh(load_table(spark, sf_dir, "documents")).collect()
        }
        assert got == batch and got
        # and the planted dups genuinely span chunks: at least one pair's
        # docs are far enough apart in doc_id order to arrive separately
        n = load_table(spark, sf_dir, "documents").count()
        chunk = n // 4
        assert any(a // chunk != min(b // chunk, 3) for (a, b) in got)

    def test_neardup_cdc_deletes_and_purge(self, spark, sf_dir):
        """The near-dup index FORGETS: D_DEL tombstones make the served
        pairs equal batch dedup_minhash_lsh over SURVIVORS; dead docs
        never suppress or produce pairs. delete_mod=7 (coprime to the
        3 chunks, unlike the gate's 6) spreads tombstones across all
        chunks, so delete-BEFORE-insert genuinely occurs (chunk-2 keys
        delete in chunk 0). Physical purge is read-identical and
        idempotent, and the replay guard keeps newest-epoch tombstones'
        state rows on disk."""
        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.operators.dedup import dedup_minhash_lsh
        from gmall_flink_200621_spark.sources.loaders import load_table
        from gmall_flink_200621_spark.streaming import epochs
        from gmall_flink_200621_spark.streaming.ingest import (
            neardup_pairs_view,
            purge_neardup_dead,
            run_neardup_cdc_stream,
        )

        q = run_neardup_cdc_stream(
            spark, sf_dir, n_chunks=3, name="t_ndcdc", delete_mod=7,
            fold_every=2, refold_width=2,
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        for t in ("t_ndcdc_bands", "t_ndcdc_shsets", "t_ndcdc_pairs", "t_ndcdc_del"):
            spark.catalog.refreshTable(t)
        got = sorted(map(tuple, neardup_pairs_view(spark, "t_ndcdc").collect()))
        survivors = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 7 != 0
        )
        want = sorted(
            (r.id_a, r.id_b, r.jaccard) for r in dedup_minhash_lsh(survivors).collect()
        )
        assert got == want and got
        # no served pair touches a dead doc
        assert all(a % 7 != 0 and b % 7 != 0 for a, b, _ in got)
        n1 = purge_neardup_dead(spark, "t_ndcdc")
        n2 = purge_neardup_dead(spark, "t_ndcdc")
        assert n1 > 0 and n2 == 0
        for t in ("t_ndcdc_bands", "t_ndcdc_shsets", "t_ndcdc_pairs"):
            spark.catalog.refreshTable(t)
        after = sorted(map(tuple, neardup_pairs_view(spark, "t_ndcdc").collect()))
        assert after == got  # purge changes bytes, not results
        # committed dead docs (tombstone outside the newest live positive
        # del epoch, or in a folded base) physically gone from the band
        # index; tombstones themselves kept for late re-inserts
        from gmall_flink_200621_spark.streaming.ingest import (
            _partition_epochs,
        )

        pos = [e for e in _partition_epochs(spark, "t_ndcdc_del") if e >= 0]
        committed_dead = epochs.live(spark, "t_ndcdc_del")
        if pos:
            committed_dead = committed_dead.filter(F.col("epoch") != max(pos))
        committed_dead = committed_dead.select("doc_id").distinct()
        assert committed_dead.count() > 0
        leftover = (
            epochs.live(spark, "t_ndcdc_bands")
            .join(committed_dead, "doc_id", "left_semi")
            .count()
        )
        assert leftover == 0

    def test_folded_replay_equals_batch_lsh(self, spark, sf_dir):
        """fold_every=2: the band/shingle state folds into tiered bases
        mid-replay and the cross-batch probes read through live_epochs —
        the pair set is STILL exactly the batch detector's, partitions
        bounded."""
        from gmall_flink_200621_spark.operators.dedup import dedup_minhash_lsh
        from gmall_flink_200621_spark.sources.loaders import load_table
        from gmall_flink_200621_spark.streaming.ingest import (
            live_epochs,
            run_neardup_ingest_stream,
        )

        q = run_neardup_ingest_stream(
            spark, sf_dir, n_chunks=4, name="t_ndf", fold_every=2
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        spark.catalog.refreshTable("t_ndf_pairs")
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in live_epochs(spark.table("t_ndf_pairs")).collect()
        }
        batch = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup_minhash_lsh(load_table(spark, sf_dir, "documents")).collect()
        }
        assert got == batch and got
        for t in ("t_ndf_bands", "t_ndf_shsets", "t_ndf_pairs"):
            eps = sorted(
                int(r[0].split("=")[1])
                for r in spark.sql(f"SHOW PARTITIONS {t}").collect()
            )
            assert eps[0] < 0 and len([e for e in eps if e >= 0]) <= 2, (t, eps)

    def test_checkpoint_recovery_resumes_neardup(self, spark, sf_dir, tmp_path):
        """Stop after two chunks, add the rest, restart from checkpoint:
        only new chunks are read and the final pair set still equals the
        batch detector exactly."""
        import os
        import shutil

        from gmall_flink_200621_spark.operators.dedup import dedup_minhash_lsh
        from gmall_flink_200621_spark.sources.loaders import load_table
        from gmall_flink_200621_spark.streaming.ingest import (
            run_neardup_ingest_stream,
            stage_document_chunks,
        )

        full = stage_document_chunks(sf_dir, n_chunks=4)
        incr = tmp_path / "stage"
        incr.mkdir()
        ckpt = str(tmp_path / "ckpt")
        for f in ("part-0.parquet", "part-1.parquet"):
            shutil.copy2(os.path.join(full, f), incr / f)

        q = run_neardup_ingest_stream(
            spark, sf_dir, name="t_nd_rec", stage_dir=str(incr), checkpoint_dir=ckpt
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        for f in ("part-2.parquet", "part-3.parquet"):
            shutil.copy2(os.path.join(full, f), incr / f)
        q2 = run_neardup_ingest_stream(
            spark, sf_dir, name="t_nd_rec", stage_dir=str(incr), checkpoint_dir=ckpt,
            reset_tables=False,
        )
        q2.processAllAvailable()
        restarted = [p for p in q2.recentProgress if p["numInputRows"] > 0]
        q2.stop()
        q2.awaitTermination()
        assert len(restarted) == 2

        spark.catalog.refreshTable("t_nd_rec_pairs")
        got = {(r.id_a, r.id_b): r.jaccard for r in spark.table("t_nd_rec_pairs").collect()}
        batch = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup_minhash_lsh(load_table(spark, sf_dir, "documents")).collect()
        }
        assert got == batch


    def test_last_epoch_crash_replay_is_idempotent(self, spark, sf_dir):
        """The crash case a CHECKPOINTED stream actually replays: the
        final micro-batch re-runs after its state writes landed.
        Re-invoking the epoch body with the same (chunk, epoch) must
        leave pairs/bands/shsets byte-unchanged — the state-probe re-finds
        the batch's own pairs through the crashed attempt's state copy,
        and every epoch partition is rewritten with identical rows.
        (Replays of OLDER epochs are legitimately non-idempotent: the
        detector sees advanced state; a checkpointed source never does
        that.)"""
        from gmall_flink_200621_spark.streaming.ingest import (
            _neardup_epoch,
            run_neardup_ingest_stream,
            stage_document_chunks,
        )

        stage = stage_document_chunks(sf_dir, n_chunks=2)
        q = run_neardup_ingest_stream(spark, sf_dir, name="t_nd_idem", stage_dir=stage)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        def snap():
            out = {}
            for t in ("t_nd_idem_pairs", "t_nd_idem_bands", "t_nd_idem_shsets"):
                spark.catalog.refreshTable(t)
                out[t] = sorted(map(str, spark.table(t).collect()))
            return out

        before = snap()
        last_chunk = spark.read.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        ).parquet(stage + "/part-1.parquet")
        _neardup_epoch(last_chunk, 1, "t_nd_idem_bands", "t_nd_idem_shsets", "t_nd_idem_pairs")
        assert snap() == before


class TestKmeansStream:
    def test_deterministic_and_quality_vs_batch(self, spark, sf_dir):
        """Two identical replays produce a bit-identical centroid table
        (fixed-point trajectory), and the final mini-batch centroids
        assign the corpus nearly as tightly as batch Lloyd's: mean cosine
        ≥ 0.90× — single-pass mini-batch is genuinely below 3-pass
        Lloyd's (measured 0.94× here); the gate leaves headroom for
        seed-order variation while still catching the first-batch-only
        seeding bug, which measured 0.63×."""
        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.operators.similarity import (
            _assign_to_cents,
            _idot,
            kmeans_embeddings,
            quantize,
        )
        from gmall_flink_200621_spark.sources.loaders import load_table
        from gmall_flink_200621_spark.streaming.ingest import run_kmeans_stream

        def run(name):
            q = run_kmeans_stream(spark, sf_dir, n_chunks=4, name=name)
            q.processAllAvailable()
            q.stop()
            q.awaitTermination()
            spark.catalog.refreshTable(f"{name}_centroids")
            return {
                r.cent_id: (tuple(r.cq), r.n_total)
                for r in spark.table(f"{name}_centroids").collect()
            }

        c1 = run("km_a")
        c2 = run("km_b")
        assert c1 == c2 and c1  # deterministic trajectory

        emb = load_table(spark, sf_dir, "embeddings")
        e = emb.select("vec_id", quantize(F.col("embedding")).alias("q"))
        e = e.withColumn("n2", _idot(F.col("q"), F.col("q")))
        cents = spark.table("km_a_centroids").select("cent_id", "cq", "cn2")
        stream_q = (
            _assign_to_cents(e, cents).agg(F.avg("cosine")).first()[0]
        )
        batch_q = kmeans_embeddings(emb).agg(F.avg("cosine")).first()[0]
        assert stream_q >= batch_q * 0.90, (stream_q, batch_q)



class TestIngestCrashReplay:
    def test_last_epoch_replay_neither_doubles_nor_loses(self, spark, sf_dir):
        """Replaying the final ingest micro-batch must rewrite identical
        kept/fps rows: no doubled kept docs (the plain-append failure)
        and no empty rewrite (the naive fix's silent-loss failure — the
        fps probe must exclude the replayed epoch's own partition)."""
        from gmall_flink_200621_spark.streaming.ingest import (
            _ingest_epoch,
            run_corpus_ingest_stream,
            stage_document_chunks,
        )

        stage = stage_document_chunks(sf_dir, n_chunks=2)
        q = run_corpus_ingest_stream(
            spark, sf_dir, name="t_ing_idem", stage_dir=stage
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        def snap():
            out = {}
            for t in ("t_ing_idem_kept", "t_ing_idem_fps"):
                spark.catalog.refreshTable(t)
                out[t] = sorted(map(str, spark.table(t).collect()))
            return out

        before = snap()
        assert before["t_ing_idem_kept"]
        last_chunk = spark.read.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        ).parquet(stage + "/part-1.parquet")
        _ingest_epoch(last_chunk, 1, "t_ing_idem_kept", "t_ing_idem_fps")
        assert snap() == before


class TestPagerankStream:
    def test_chunked_replay_final_ranks_equal_batch(self, spark, sf_dir):
        """After the last edge chunk, the refreshed ranks table must be
        BIT-identical (integer rank_units included) to the batch
        pagerank_knn over the full corpus — the MV-discipline contract
        for the graph family's streaming twin."""
        from gmall_flink_200621_spark.plans.training import pagerank_knn
        from gmall_flink_200621_spark.streaming.ingest import (
            run_pagerank_stream,
            stage_knn_edge_chunks,
        )

        stage = stage_knn_edge_chunks(spark, sf_dir, n_chunks=3)
        q = run_pagerank_stream(spark, stage, name="t_pr")
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        got = {
            r.vertex_id: (r.out_deg, r.rank_units, r.rank)
            for r in spark.table("t_pr_ranks").collect()
        }
        want = {
            r.vertex_id: (r.out_deg, r.rank_units, r.rank)
            for r in pagerank_knn(spark, sf_dir).collect()
        }
        assert got == want and len(got) > 0

    def test_crash_replay_and_checkpoint_recovery(self, spark, sf_dir, tmp_path):
        """Kill after the first chunk, restart on the same checkpoint with
        the remaining chunks staged: the restart reads ONLY the new
        files, the epoch-partitioned edge table holds each edge once,
        and the final ranks equal the batch run."""
        import os
        import shutil

        from gmall_flink_200621_spark.plans.training import pagerank_knn
        from gmall_flink_200621_spark.streaming.ingest import (
            run_pagerank_stream,
            stage_knn_edge_chunks,
        )

        full = stage_knn_edge_chunks(spark, sf_dir, n_chunks=3)
        incr = tmp_path / "stage"
        incr.mkdir()
        ckpt = str(tmp_path / "ckpt")
        shutil.copy2(os.path.join(full, "part-0.parquet"), incr / "part-0.parquet")

        q = run_pagerank_stream(spark, str(incr), name="t_pr_rec", checkpoint_dir=ckpt)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        for f in ("part-1.parquet", "part-2.parquet"):
            shutil.copy2(os.path.join(full, f), incr / f)
        q2 = run_pagerank_stream(
            spark, str(incr), name="t_pr_rec", checkpoint_dir=ckpt, fresh_tables=False
        )
        q2.processAllAvailable()
        restarted = [p for p in q2.recentProgress if p["numInputRows"] > 0]
        q2.stop()
        q2.awaitTermination()
        assert len(restarted) == 2  # offsets resumed: only the new chunks

        spark.catalog.refreshTable("t_pr_rec_edges")
        spark.catalog.refreshTable("t_pr_rec_ranks")
        import pyarrow.parquet as pq

        n_edges_staged = sum(
            pq.read_metadata(os.path.join(full, f)).num_rows
            for f in os.listdir(full)
        )
        assert spark.table("t_pr_rec_edges").count() == n_edges_staged

        got = {
            r.vertex_id: (r.out_deg, r.rank_units)
            for r in spark.table("t_pr_rec_ranks").collect()
        }
        want = {
            r.vertex_id: (r.out_deg, r.rank_units)
            for r in pagerank_knn(spark, sf_dir).collect()
        }
        assert got == want and len(got) > 0


class TestPagerankStreamCadence:
    def test_refresh_every_skips_intermediate_epochs(self, spark, sf_dir, tmp_path):
        """refresh_every=2: epoch 0 must ONLY append edges (ranks table
        stays empty — no fixed-point run), the explicit refresh helper
        brings ranks current, and a restart carrying final_epoch ends
        bit-identical to batch pagerank_knn."""
        import os
        import shutil

        from gmall_flink_200621_spark.plans.training import pagerank_knn
        from gmall_flink_200621_spark.streaming.ingest import (
            refresh_pagerank_ranks,
            run_pagerank_stream,
            stage_knn_edge_chunks,
        )

        full = stage_knn_edge_chunks(spark, sf_dir, n_chunks=3)
        incr = tmp_path / "stage"
        incr.mkdir()
        ckpt = str(tmp_path / "ckpt")
        shutil.copy2(os.path.join(full, "part-0.parquet"), incr / "part-0.parquet")

        q = run_pagerank_stream(
            spark, str(incr), name="t_pr_cad", checkpoint_dir=ckpt, refresh_every=2
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        # epoch 0 is not a refresh epoch: edges landed, no ranks ran
        spark.catalog.refreshTable("t_pr_cad_edges")
        assert spark.table("t_pr_cad_edges").count() > 0
        assert spark.table("t_pr_cad_ranks").count() == 0

        # the standalone refresh catches ranks up to the accumulated edges
        refresh_pagerank_ranks(spark, "t_pr_cad")
        assert spark.table("t_pr_cad_ranks").count() > 0

        for f in ("part-1.parquet", "part-2.parquet"):
            shutil.copy2(os.path.join(full, f), incr / f)
        q2 = run_pagerank_stream(
            spark,
            str(incr),
            name="t_pr_cad",
            checkpoint_dir=ckpt,
            fresh_tables=False,
            refresh_every=2,
            final_epoch=2,
        )
        q2.processAllAvailable()
        q2.stop()
        q2.awaitTermination()

        spark.catalog.refreshTable("t_pr_cad_ranks")
        got = {
            r.vertex_id: (r.out_deg, r.rank_units)
            for r in spark.table("t_pr_cad_ranks").collect()
        }
        want = {
            r.vertex_id: (r.out_deg, r.rank_units)
            for r in pagerank_knn(spark, sf_dir).collect()
        }
        assert got == want and len(got) > 0

    def test_untouched_component_buckets_not_rewritten(self, spark, tmp_path):
        """Two disconnected components, the second epoch adding edges to
        one only: the other component's ranks are unchanged integers, so
        its hash bucket must not be rewritten (partition mtime pinned —
        the O(changed) write claim observed, not assumed)."""
        import os
        import time

        import pandas as pd

        from gmall_flink_200621_spark.operators.graph import pagerank
        from gmall_flink_200621_spark.streaming.ingest import run_pagerank_stream

        def chunk(path, edges, mt):
            pd.DataFrame(
                {"src_id": [e[0] for e in edges], "nbr_id": [e[1] for e in edges]}
            ).to_parquet(path, index=False)
            os.utime(path, (mt, mt))

        stage = tmp_path / "stage"
        stage.mkdir()
        t0 = time.time()
        # component A: 10 ↔ 74 (both ≡ 10 mod 64); component B: 5 → 69 (≡ 5)
        chunk(stage / "part-0.parquet", [(10, 74), (74, 10), (5, 69)], t0)
        q = run_pagerank_stream(spark, str(stage), name="t_pr_mt", n_buckets=64)
        q.processAllAvailable()
        wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        bA = os.path.join(wh, "t_pr_mt_ranks", "kb=10")
        mt_before = os.path.getmtime(bA)
        # epoch 1: close component B's cycle — A's ranks cannot change
        chunk(stage / "part-1.parquet", [(69, 5)], t0 + 1)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        assert os.path.getmtime(bA) == mt_before  # A's bucket untouched
        spark.catalog.refreshTable("t_pr_mt_ranks")
        got = {
            r.vertex_id: (r.out_deg, r.rank_units)
            for r in spark.table("t_pr_mt_ranks").collect()
        }
        edges = spark.createDataFrame(
            [(10, 74), (74, 10), (5, 69), (69, 5)], "src_id long, nbr_id long"
        )
        verts = edges.selectExpr("src_id AS vertex_id").unionByName(
            edges.selectExpr("nbr_id AS vertex_id")
        )
        want = {
            r.vertex_id: (r.out_deg, r.rank_units)
            for r in pagerank(edges, verts).collect()
        }
        assert got == want and len(got) == 4


class TestDedupClustersStream:
    def test_final_clusters_equal_batch(self, spark, sf_dir):
        """The per-epoch CC refresh over the accumulated near-dup state:
        after the last chunk, every doc's canonical_id equals the
        one-shot batch dedup_clusters — including transitive merges
        where a later chunk's doc bridges two earlier clusters."""
        from gmall_flink_200621_spark.operators.dedup import dedup_clusters
        from gmall_flink_200621_spark.sources.loaders import load_table
        from gmall_flink_200621_spark.streaming.ingest import run_dedup_clusters_stream

        q = run_dedup_clusters_stream(spark, sf_dir, n_chunks=4, name="t_cc")
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        got = {
            r.doc_id: r.canonical_id for r in spark.table("t_cc_clusters").collect()
        }
        batch = {
            r.doc_id: r.canonical_id
            for r in dedup_clusters(load_table(spark, sf_dir, "documents")).collect()
        }
        assert got == batch and len(got) > 0
        # sanity: at least one non-trivial cluster was merged
        assert any(d != c for d, c in got.items())

    def test_folded_state_tables_clusters_unchanged(self, spark, sf_dir):
        """fold_every=2 over 4 chunks: each of the four epoch-partitioned
        state tables coalesces its window into tiered watermark bases,
        every probe/read routes through live_epochs, and the final
        canonical assignment is STILL bit-identical to batch — the fold
        never changes what the detector sees, only how many parquet
        partitions hold it."""
        from gmall_flink_200621_spark.operators.dedup import dedup_clusters
        from gmall_flink_200621_spark.sources.loaders import load_table
        from gmall_flink_200621_spark.streaming.ingest import run_dedup_clusters_stream

        q = run_dedup_clusters_stream(
            spark, sf_dir, n_chunks=4, name="t_ccf", fold_every=2
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        got = {
            r.doc_id: r.canonical_id for r in spark.table("t_ccf_clusters").collect()
        }
        batch = {
            r.doc_id: r.canonical_id
            for r in dedup_clusters(load_table(spark, sf_dir, "documents")).collect()
        }
        assert got == batch and len(got) > 0
        # 4 epochs folded at epochs 2 (w=1): every state table holds a
        # base plus the ≤ 2-epoch tail instead of 4 epoch partitions
        for t in ("t_ccf_bands", "t_ccf_shsets", "t_ccf_pairs", "t_ccf_docs"):
            eps = sorted(
                int(r[0].split("=")[1])
                for r in spark.sql(f"SHOW PARTITIONS {t}").collect()
            )
            assert eps and eps[0] < 0, (t, eps)  # a fold base exists
            assert len([e for e in eps if e >= 0]) <= 2, (t, eps)


class TestDedupClustersStreamBuckets:
    def test_untouched_cluster_buckets_not_rewritten(self, spark, tmp_path):
        """A second epoch whose docs neither join nor bridge the first
        epoch's clusters must rewrite only its own docs' hash buckets —
        the first epoch's cluster rows are unchanged, so their bucket
        partitions stay physically untouched (mtime pinned)."""
        import os
        import time

        import pandas as pd

        from gmall_flink_200621_spark.streaming.ingest import run_dedup_clusters_stream

        dup_text = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(8))
        other_text = " ".join(f"delta{i} epsilon{i} zeta{i}" for i in range(8))

        def chunk(path, rows, mt):
            pd.DataFrame(
                {
                    "doc_id": [r[0] for r in rows],
                    "text": [r[1] for r in rows],
                    "lang": ["en"] * len(rows),
                    "source": ["t"] * len(rows),
                    "n_chars": [len(r[1]) for r in rows],
                }
            ).to_parquet(path, index=False)
            os.utime(path, (mt, mt))

        stage = tmp_path / "stage"
        stage.mkdir()
        t0 = time.time()
        # epoch 0: docs 1 and 2 are exact near-dups (buckets 1 and 2)
        chunk(stage / "part-0.parquet", [(1, dup_text), (2, dup_text)], t0)
        q = run_dedup_clusters_stream(
            spark, sf_dir="", stage_dir=str(stage), name="t_ccb", n_buckets=64
        )
        q.processAllAvailable()
        wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        b1 = os.path.join(wh, "t_ccb_clusters", "kb=1")
        b2 = os.path.join(wh, "t_ccb_clusters", "kb=2")
        mt1, mt2 = os.path.getmtime(b1), os.path.getmtime(b2)
        # epoch 1: doc 67 (bucket 3), unrelated text — a singleton
        chunk(stage / "part-1.parquet", [(67, other_text)], t0 + 1)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        assert os.path.getmtime(b1) == mt1 and os.path.getmtime(b2) == mt2
        spark.catalog.refreshTable("t_ccb_clusters")
        got = {
            r.doc_id: r.canonical_id for r in spark.table("t_ccb_clusters").collect()
        }
        assert got == {1: 1, 2: 1, 67: 67}


class TestCdcCompactionStream:
    @staticmethod
    def _stage(sf_dir, tmp_path, n_chunks=3):
        import os

        import pyarrow.parquet as pq

        pdf = pq.read_table(os.path.join(sf_dir, "events.parquet")).to_pandas()
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        stage = tmp_path / "stage"
        stage.mkdir()
        n = len(pdf)
        base = None
        for i in range(n_chunks):
            lo, hi = i * n // n_chunks, (i + 1) * n // n_chunks
            p = stage / f"part-{i}.parquet"
            pdf.iloc[lo:hi].to_parquet(p, index=False)
            if base is None:
                base = os.stat(p).st_mtime
            os.utime(p, (base + i, base + i))
        return stage

    def test_final_view_equals_batch_compaction(self, spark, sf_dir, tmp_path):
        from gmall_flink_200621_spark.plans.analytics import cdc_compaction
        from gmall_flink_200621_spark.streaming.ingest import (
            cdc_current_view,
            run_cdc_compaction_stream,
        )

        stage = self._stage(sf_dir, tmp_path)
        q = run_cdc_compaction_stream(spark, str(stage), name="t_cdc")
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        got = sorted(map(tuple, cdc_current_view(spark, "t_cdc").collect()))
        want = sorted(map(tuple, cdc_compaction(spark, sf_dir).collect()))
        assert got == want and len(got) > 0

    def test_redelivered_chunk_converges(self, spark, sf_dir, tmp_path):
        """Latest-wins is an idempotent semilattice: replaying chunk 0
        after everything else must leave the state byte-identical —
        including tombstones (a re-sent old upsert cannot resurrect a
        deleted key)."""
        import shutil

        from gmall_flink_200621_spark.plans.analytics import cdc_compaction
        from gmall_flink_200621_spark.streaming.ingest import (
            cdc_current_view,
            run_cdc_compaction_stream,
        )

        stage = self._stage(sf_dir, tmp_path)
        shutil.copyfile(stage / "part-0.parquet", stage / "part-9redeliver.parquet")
        q = run_cdc_compaction_stream(spark, str(stage), name="t_cdc2")
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        got = sorted(map(tuple, cdc_current_view(spark, "t_cdc2").collect()))
        want = sorted(map(tuple, cdc_compaction(spark, sf_dir).collect()))
        assert got == want

    def test_tombstone_blocks_late_upsert_and_buckets_are_partial(self, spark, tmp_path):
        """Planted changelog: key 1 upserted then deleted; a LATER chunk
        redelivers the OLD upsert — the tombstone must win. Key 2 only
        ever lives in chunk 0's bucket; the epoch processing chunk 1
        must not rewrite key 2's bucket (partition mtime unchanged —
        the O(touched buckets) claim observed, not assumed)."""
        import os
        import time

        import pandas as pd

        from gmall_flink_200621_spark.streaming.ingest import (
            cdc_current_view,
            run_cdc_compaction_stream,
        )

        def chunk(path, rows, mt):
            pd.DataFrame(
                {
                    "event_id": [r[0] for r in rows],
                    "ts": [pd.Timestamp(r[1], unit="s") for r in rows],
                    "user_id": [r[2] for r in rows],
                    "event_type": [r[3] for r in rows],
                    "value": [float(r[4]) for r in rows],
                    "props": ["{}"] * len(rows),
                }
            ).to_parquet(path, index=False)
            os.utime(path, (mt, mt))

        stage = tmp_path / "stage"
        stage.mkdir()
        t0 = time.time()
        # chunk 0: key 1 upsert @10 then delete @20; key 2 upsert @10
        chunk(stage / "part-0.parquet",
              [(1, 10, 1, "view", 5.0), (2, 20, 1, "error", 0.0), (3, 10, 2, "view", 7.0)], t0)
        q = run_cdc_compaction_stream(spark, str(stage), name="t_cdc3", n_buckets=64)
        q.processAllAvailable()
        # key 2's bucket dir mtime after epoch 0
        wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        b2 = os.path.join(wh, "t_cdc3_state", "kb=2")
        mt_before = os.path.getmtime(b2)
        # chunk 1: redeliver key 1's OLD upsert (ts 10) — tombstone at 20 must win;
        # also a fresh key 65 (bucket 1, != key 2's bucket)
        chunk(stage / "part-1.parquet", [(1, 10, 1, "view", 5.0), (4, 30, 65, "click", 9.0)], t0 + 1)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        view = {r.user_id: (r.last_op, r.last_v_cents) for r in cdc_current_view(spark, "t_cdc3").collect()}
        assert 1 not in view  # tombstone blocked the late upsert
        assert view[2] == ("view", 700)
        assert view[65] == ("click", 900)
        state_ops = {
            (r.user_id): r.op for r in spark.table("t_cdc3_state").collect()
        }
        assert state_ops[1] == "error"  # tombstone retained in state
        assert os.path.getmtime(b2) == mt_before  # untouched bucket not rewritten


class TestScd2Stream:
    def test_final_versions_equal_batch_scd2(self, spark, sf_dir, tmp_path):
        """Chunked in-order replay: the maintained versions table equals
        the one-shot batch SCD2 — version ordinals, validity bounds, and
        open (NULL valid_to) rows included, with cross-chunk transitions
        (a version opened in chunk 1 closed by chunk 2's first event)
        handled by the re-collapse."""
        from gmall_flink_200621_spark.plans.analytics import scd2_snapshot
        from gmall_flink_200621_spark.streaming.ingest import (
            run_scd2_stream,
            scd2_current_view,
        )

        stage = TestCdcCompactionStream._stage(sf_dir, tmp_path)
        q = run_scd2_stream(spark, str(stage), name="t_scd2")
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        got = sorted(map(tuple, scd2_current_view(spark, "t_scd2").collect()))
        want = sorted(
            (r.user_id, r.state, r.valid_from_us, r.valid_to_us, r.version)
            for r in scd2_snapshot(spark, sf_dir).collect()
        )
        assert got == want and len(got) > 0

    def test_checkpoint_recovery(self, spark, sf_dir, tmp_path):
        """Kill after chunk 0, restart on the checkpoint with the rest
        staged: only new chunks read, final table still equals batch."""
        import os
        import shutil

        from gmall_flink_200621_spark.plans.analytics import scd2_snapshot
        from gmall_flink_200621_spark.streaming.ingest import (
            run_scd2_stream,
            scd2_current_view,
        )

        full = TestCdcCompactionStream._stage(sf_dir, tmp_path)
        incr = tmp_path / "incr"
        incr.mkdir()
        ckpt = str(tmp_path / "ckpt")
        shutil.copy2(os.path.join(full, "part-0.parquet"), incr / "part-0.parquet")
        q = run_scd2_stream(spark, str(incr), name="t_scd2r", checkpoint_dir=ckpt)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        for f in ("part-1.parquet", "part-2.parquet"):
            shutil.copy2(os.path.join(full, f), incr / f)
        q2 = run_scd2_stream(
            spark, str(incr), name="t_scd2r", checkpoint_dir=ckpt, fresh_tables=False
        )
        q2.processAllAvailable()
        restarted = [p for p in q2.recentProgress if p["numInputRows"] > 0]
        q2.stop()
        q2.awaitTermination()
        assert len(restarted) == 2

        spark.catalog.refreshTable("t_scd2r_state")
        got = sorted(map(tuple, scd2_current_view(spark, "t_scd2r").collect()))
        want = sorted(
            (r.user_id, r.state, r.valid_from_us, r.valid_to_us, r.version)
            for r in scd2_snapshot(spark, sf_dir).collect()
        )
        assert got == want and len(got) > 0


class TestScd2StreamWatermark:
    @staticmethod
    def _chunk(path, rows, mt):
        import os

        import pandas as pd

        pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": [pd.Timestamp(r[1], unit="s") for r in rows],
                "user_id": [r[2] for r in rows],
                "event_type": [r[3] for r in rows],
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        ).to_parquet(path, index=False)
        os.utime(path, (mt, mt))

    def test_out_of_order_batch_fails_fast_by_default(self, spark, tmp_path):
        """The in-order contract is enforced, not assumed: a batch whose
        min event time precedes the prior-epoch high-watermark raises
        (terminating the stream) instead of silently writing wrong
        versions."""
        import time

        import pytest

        from gmall_flink_200621_spark.streaming.ingest import run_scd2_stream

        stage = tmp_path / "stage"
        stage.mkdir()
        t0 = time.time()
        self._chunk(stage / "part-0.parquet", [(1, 10, 1, "view"), (2, 20, 1, "click")], t0)
        self._chunk(stage / "part-1.parquet", [(3, 15, 1, "error")], t0 + 1)  # late!
        q = run_scd2_stream(spark, str(stage), name="t_scd2_oo")
        with pytest.raises(Exception, match="out-of-order"):
            q.processAllAvailable()
            q.awaitTermination(30)
        q.stop()

    def test_quarantine_routes_late_rows_and_keeps_versions_exact(self, spark, tmp_path):
        """on_late='quarantine': late rows land in the quarantine table
        (with their epoch), the in-order remainder processes, and the
        versions table equals the batch SCD2 over exactly the processed
        events."""
        import time

        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.streaming.ingest import (
            run_scd2_stream,
            scd2_current_view,
        )

        stage = tmp_path / "stage"
        stage.mkdir()
        t0 = time.time()
        self._chunk(stage / "part-0.parquet", [(1, 10, 1, "view"), (2, 20, 1, "click")], t0)
        # chunk 1 mixes a late row (ts 15 < wm 20) with in-order rows
        self._chunk(
            stage / "part-1.parquet", [(3, 15, 1, "error"), (4, 30, 1, "view")], t0 + 1
        )
        q = run_scd2_stream(spark, str(stage), name="t_scd2_qr", on_late="quarantine")
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        spark.catalog.refreshTable("t_scd2_qr_quarantine")
        quar = [
            (r.event_id, r.t, r.epoch)
            for r in spark.table("t_scd2_qr_quarantine").collect()
        ]
        assert quar == [(3, 15_000_000, 1)]

        spark.catalog.refreshTable("t_scd2_qr_state")
        got = sorted(map(tuple, scd2_current_view(spark, "t_scd2_qr").collect()))
        # batch SCD2 over the PROCESSED events (1, 2, 4)
        e = spark.createDataFrame(
            [(1, 10_000_000, "view"), (2, 20_000_000, "click"), (4, 30_000_000, "view")],
            "event_id long, t long, state string",
        ).withColumn("user_id", F.lit(1).cast("long"))
        w = Window.partitionBy("user_id").orderBy("t", "event_id")
        want = sorted(
            map(
                tuple,
                e.withColumn("prev", F.lag("state").over(w))
                .filter(F.col("prev").isNull() | (F.col("prev") != F.col("state")))
                .select(
                    "user_id",
                    "state",
                    F.col("t").alias("valid_from_us"),
                    F.lead("t").over(w).alias("valid_to_us"),
                    F.row_number().over(w).cast("long").alias("version"),
                )
                .collect(),
            )
        )
        assert got == want and len(got) == 3


class TestCorpusStatsStream:
    def test_view_equals_batch_profile(self, spark, sf_dir):
        """After full replay the folded partials are bit-identical to
        batch corpus_profile (integer partials + one terminal division)."""
        from gmall_flink_200621_spark.plans.training import corpus_profile
        from gmall_flink_200621_spark.streaming.ingest import (
            corpus_stats_view,
            run_corpus_stats_stream,
        )

        q = run_corpus_stats_stream(spark, sf_dir, name="t_cst", n_chunks=3)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        spark.catalog.refreshTable("t_cst_partials")
        got = sorted(map(tuple, corpus_stats_view(spark, "t_cst").collect()))
        want = sorted(map(tuple, corpus_profile(spark, sf_dir).collect()))
        assert got == want and len(got) > 0

    def test_incremental_o_batch_maintenance(self, spark, sf_dir, tmp_path):
        """The self-maintainable-aggregate claim observed: each epoch
        writes ONLY its own partial partition (earlier epochs' partitions
        physically untouched), and a kill-and-restart resumes from the
        committed offset without double-counting any partial."""
        import os
        import shutil

        from gmall_flink_200621_spark.plans.training import corpus_profile
        from gmall_flink_200621_spark.streaming.ingest import (
            corpus_stats_view,
            run_corpus_stats_stream,
            stage_document_chunks,
        )

        full = stage_document_chunks(sf_dir, n_chunks=3)
        incr = tmp_path / "stage"
        incr.mkdir()
        ckpt = str(tmp_path / "ckpt")
        shutil.copy2(os.path.join(full, "part-0.parquet"), incr / "part-0.parquet")
        q = run_corpus_stats_stream(
            spark, sf_dir="", stage_dir=str(incr), name="t_csr", checkpoint_dir=ckpt
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        e0 = os.path.join(wh, "t_csr_partials", "epoch=0")
        mt0 = os.path.getmtime(e0)
        n0 = corpus_stats_view(spark, "t_csr").agg({"n_docs": "sum"}).first()[0]

        for f in ("part-1.parquet", "part-2.parquet"):
            shutil.copy2(os.path.join(full, f), incr / f)
        q2 = run_corpus_stats_stream(
            spark,
            sf_dir="",
            stage_dir=str(incr),
            name="t_csr",
            checkpoint_dir=ckpt,
            fresh_tables=False,
        )
        q2.processAllAvailable()
        q2.stop()
        q2.awaitTermination()

        assert os.path.getmtime(e0) == mt0  # epoch-0 partial never rewritten
        spark.catalog.refreshTable("t_csr_partials")
        got = sorted(map(tuple, corpus_stats_view(spark, "t_csr").collect()))
        want = sorted(map(tuple, corpus_profile(spark, sf_dir).collect()))
        assert got == want
        assert corpus_stats_view(spark, "t_csr").agg({"n_docs": "sum"}).first()[0] > n0

    def test_fold_bounds_partitions_and_preserves_view(self, spark, sf_dir):
        """VERDICT r07 item #4: with fold_every=2 over 5 epochs the
        partials table holds ≤ fold_every + 1 partitions (one watermark
        base + the unfolded tail), the view stays bit-identical to batch
        corpus_profile through every fold, a REPLAYED fold (same
        watermark re-run, the crash-recovery path) is a byte-level
        no-op for the view, and a terminal fold that absorbs everything
        still reproduces the exact profile from the single base row set."""
        from gmall_flink_200621_spark.plans.training import corpus_profile
        from gmall_flink_200621_spark.streaming import epochs
        from gmall_flink_200621_spark.streaming.ingest import (
            _cstats_merge,
            corpus_stats_view,
            run_corpus_stats_stream,
        )

        q = run_corpus_stats_stream(
            spark, sf_dir, name="t_csf", n_chunks=5, fold_every=2
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        spark.catalog.refreshTable("t_csf_partials")

        eps = sorted(
            int(r[0].split("=")[1])
            for r in spark.sql("SHOW PARTITIONS t_csf_partials").collect()
        )
        assert len(eps) <= 3  # 5 epochs collapsed to base + tail
        assert eps[0] < 0  # a fold base exists
        want = sorted(map(tuple, corpus_profile(spark, sf_dir).collect()))
        assert sorted(map(tuple, corpus_stats_view(spark, "t_csf").collect())) == want

        # replayed fold: re-running the newest fold's watermark must leave
        # the view (and the partition set) unchanged — crash recovery path
        wm = max(-e - 1 for e in eps if e < 0)
        epochs.fold(spark, "t_csf_partials", wm, _cstats_merge)
        eps2 = sorted(
            int(r[0].split("=")[1])
            for r in spark.sql("SHOW PARTITIONS t_csf_partials").collect()
        )
        assert eps2 == eps
        assert sorted(map(tuple, corpus_stats_view(spark, "t_csf").collect())) == want

        # crash-before-GC path: a fold that wrote its base but died before
        # dropping the absorbed partitions leaves stale epochs ≤ watermark
        # on disk. Simulate by resurrecting an absorbed epoch with GARBAGE
        # partials: both the view AND the next fold must ignore it (the
        # r08 review found the fold double-counting exactly this state).
        from pyspark.sql import functions as F

        prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            spark.createDataFrame(
                [("zz", "zz", 10**6, 10**6, 10**6, 10**6, 0)],
                "source string, lang string, n_docs long, total_tokens long,"
                " total_chars long, sum_scaled_q long, epoch long",
            ).write.mode("overwrite").insertInto("t_csf_partials", overwrite=True)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
        spark.catalog.refreshTable("t_csf_partials")
        assert sorted(map(tuple, corpus_stats_view(spark, "t_csf").collect())) == want

        # terminal fold over the live tail: the stale copy is ignored
        # AND garbage-collected; view still exact; and the fold is
        # TIERED — the oldest base is physically untouched (an absorbing
        # fold would rewrite O(accumulated) state every fold, the r08
        # review's scale finding)
        import os as _os

        wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        oldest_base = _os.path.join(wh, "t_csf_partials", f"epoch={min(eps)}")
        mt_base = _os.path.getmtime(oldest_base)
        epochs.fold(spark, "t_csf_partials", max(eps), _cstats_merge)
        assert _os.path.getmtime(oldest_base) == mt_base  # tiered, not absorbing
        assert sorted(map(tuple, corpus_stats_view(spark, "t_csf").collect())) == want
        eps3 = [
            int(r[0].split("=")[1])
            for r in spark.sql("SHOW PARTITIONS t_csf_partials").collect()
        ]
        assert 0 not in eps3  # resurrected epoch GC'd by the fold
        assert min(eps) in eps3  # older base still live (tiered encoding)

    def test_refold_bounds_bases_across_cycles(self, spark, sf_dir):
        """VERDICT r08 item #4 (second-tier LSM fold): with fold_every=2
        + refold_width=2, tier-1 bases cascade into super-bases, so the
        LIVE partition count is O(log epochs) — doubling the replay from
        8 to 16 epochs adds at most one partition — while the view stays
        bit-identical to batch. Also pins: the 16-epoch end state holds
        EXACTLY the expected LSM shape (tier-3 + tier-2 + tier-1 bases +
        2 positives after 4 super-fold cycles); older super-bases are
        never rewritten by later folds (mtime ordering); a crash-stale
        absorbed base is ignored by BOTH live_epochs paths and GC'd by
        the next refold; and the metadata and relational live_epochs
        paths agree row-for-row on a multi-tier table."""
        import os as _os

        from gmall_flink_200621_spark.plans.training import corpus_profile
        from gmall_flink_200621_spark.streaming import epochs
        from gmall_flink_200621_spark.streaming.ingest import (
            TIER_OFF,
            _cstats_merge,
            corpus_stats_view,
            live_epochs,
            run_corpus_stats_stream,
        )

        want = sorted(map(tuple, corpus_profile(spark, sf_dir).collect()))

        def replay(name: str, n_chunks: int) -> list[int]:
            q = run_corpus_stats_stream(
                spark, sf_dir, name=name, n_chunks=n_chunks, fold_every=2, refold_width=2
            )
            q.processAllAvailable()
            q.stop()
            q.awaitTermination()
            spark.catalog.refreshTable(f"{name}_partials")
            assert sorted(map(tuple, corpus_stats_view(spark, name).collect())) == want
            return sorted(
                int(r[0].split("=")[1])
                for r in spark.sql(f"SHOW PARTITIONS {name}_partials").collect()
            )

        eps8 = replay("t_rf8", 8)
        eps16 = replay("t_rf16", 16)
        # O(log) growth: 2x the epochs, at most +1 live partition
        assert len(eps8) <= 4 and len(eps16) <= 5

        # exact 16-epoch LSM shape: folds at e=2..14 produced tier-1
        # bases w=1..13; cascades absorbed them into tier-3 w7 (at e=8),
        # tier-2 w11 (e=12), leaving tier-1 w13 + positives 14, 15
        t3 = -(2 * TIER_OFF + 7 + 1)
        t2 = -(1 * TIER_OFF + 11 + 1)
        t1 = -(13 + 1)
        assert eps16 == sorted([t3, t2, t1, 14, 15])

        # later folds never rewrite older super-bases: strictly older
        # mtimes down the tier ladder (tier-3 landed at e=8, tier-2 at
        # e=12, tier-1 at e=14)
        wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        mt = lambda e: _os.path.getmtime(_os.path.join(wh, "t_rf16_partials", f"epoch={e}"))
        assert mt(t3) < mt(t2) < mt(t1)

        # metadata and relational live_epochs agree on the tiered table
        p = spark.table("t_rf16_partials")
        rel = sorted(map(tuple, live_epochs(p).collect()))
        meta = sorted(map(tuple, epochs.live(spark, "t_rf16_partials").collect()))
        assert rel == meta and rel

        # crash-before-GC at the BASE level: resurrect an absorbed tier-1
        # base (w=1, long since folded into tier-3) with garbage — both
        # read paths must ignore it, and the next refold GCs it
        prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            spark.createDataFrame(
                [("zz", "zz", 10**6, 10**6, 10**6, 10**6, -(1 + 1))],
                "source string, lang string, n_docs long, total_tokens long,"
                " total_chars long, sum_scaled_q long, epoch long",
            ).write.mode("overwrite").insertInto("t_rf16_partials", overwrite=True)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
        spark.catalog.refreshTable("t_rf16_partials")
        assert sorted(map(tuple, corpus_stats_view(spark, "t_rf16").collect())) == want
        p = spark.table("t_rf16_partials")
        assert sorted(map(tuple, live_epochs(p).collect())) == meta  # relational too
        epochs.refold(spark, "t_rf16_partials", _cstats_merge, 2)
        eps_after = sorted(
            int(r[0].split("=")[1])
            for r in spark.sql("SHOW PARTITIONS t_rf16_partials").collect()
        )
        assert -(1 + 1) not in eps_after  # stale base GC'd
        assert sorted(map(tuple, corpus_stats_view(spark, "t_rf16").collect())) == want


class TestPqIndexRefine:
    def test_stored_vectors_refine_beats_adc_and_folds(self, spark, sf_dir):
        """store_vectors=True keeps the quantized vectors next to the
        codes (the IndexRefineFlat storage trade); the refine search must
        strictly beat the plain ADC scan's brute-agreement on this
        corpus, and the vecs table must fold to the same LSM shape as
        the codes (identity merge, fold_every=1 + refold_width=2)."""
        from gmall_flink_200621_spark.operators.similarity import _idot, knn_brute, quantize
        from gmall_flink_200621_spark.sources.loaders import load_table
        from gmall_flink_200621_spark.streaming.ingest import (
            TIER_OFF,
            pq_index_search,
            pq_index_search_refine,
            run_pq_index_stream,
        )
        from pyspark.sql import functions as F

        q = run_pq_index_stream(
            spark, sf_dir, name="t_pqrf", fold_every=1, refold_width=2,
            store_vectors=True,
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        for t in ("t_pqrf_codes", "t_pqrf_vecs"):
            spark.catalog.refreshTable(t)

        for t in ("t_pqrf_codes", "t_pqrf_vecs"):
            eps = sorted(
                int(r[0].split("=")[1])
                for r in spark.sql(f"SHOW PARTITIONS {t}").collect()
            )
            assert eps == [-(TIER_OFF + 1 + 1), 2], t  # tier-2 base + tail

        emb = load_table(spark, sf_dir, "embeddings")
        e = emb.select("vec_id", quantize(F.col("embedding")).alias("q"))
        qs = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).filter(
            F.col("vec_id") % 100 == 0
        )
        exact = {(r.query_id, r.neighbor_id) for r in knn_brute(emb).collect()}
        plain = {
            (r.query_id, r.neighbor_id)
            for r in pq_index_search(spark, qs, "t_pqrf").collect()
        }
        refined = {
            (r.query_id, r.neighbor_id)
            for r in pq_index_search_refine(spark, qs, "t_pqrf").collect()
        }
        assert len(refined & exact) > len(plain & exact)


class TestUvSketchStream:
    def test_view_matches_batch_and_sketch_fold_is_register_exact(self, spark, sf_dir):
        """The seventh MV stream: per-epoch HLL partials + first-seen
        exact-user probe, replayed with fold_every=1 + refold_width=2 so
        the REGISTER-MAX sketch merge runs in both the tier-1 fold and a
        super-fold. The view must equal batch uv_sketch_rollup on all
        four columns (HLL union is exactly mergeable, so folded partials
        give the identical estimate), and the sketches table must end
        LSM-shaped (a tier-2 base + the unfolded tail)."""
        from gmall_flink_200621_spark.plans.extras import uv_sketch_rollup
        from gmall_flink_200621_spark.streaming.ingest import (
            TIER_OFF,
            run_uv_sketch_stream,
            uv_sketch_view,
        )

        q = run_uv_sketch_stream(
            spark, sf_dir, name="t_uvsk", fold_every=1, refold_width=2
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        for t in ("t_uvsk_sketches", "t_uvsk_users"):
            spark.catalog.refreshTable(t)

        got = [tuple(r) for r in uv_sketch_view(spark, "t_uvsk").collect()]
        want = [tuple(r) for r in uv_sketch_rollup(spark, sf_dir).collect()]
        assert got == want and got[0][3] is True  # est_ok

        eps = sorted(
            int(r[0].split("=")[1])
            for r in spark.sql("SHOW PARTITIONS t_uvsk_sketches").collect()
        )
        # 3 epochs, folds at 1 (w0) and 2 (w1) → refold to tier-2 w1 + epoch 2
        assert eps == [-(TIER_OFF + 1 + 1), 2]


class TestPqIndexStream:
    def test_frozen_codebook_and_incremental_encode(self, spark, sf_dir, tmp_path):
        """The index lifecycle observed: the first chunk trains the
        codebook, later chunks ONLY append codes (codebook table mtime
        pinned across epochs 1-2 — frozen, the O(batch) claim), every
        ingested vector is encoded exactly once, and a kill-and-restart
        resumes without retraining or re-encoding."""
        import os
        import shutil

        from gmall_flink_200621_spark.streaming.ingest import (
            run_pq_index_stream,
            stage_embedding_chunks,
        )

        full = stage_embedding_chunks(sf_dir, n_chunks=3)
        incr = tmp_path / "stage"
        incr.mkdir()
        ckpt = str(tmp_path / "ckpt")
        shutil.copy2(os.path.join(full, "part-0.parquet"), incr / "part-0.parquet")
        q = run_pq_index_stream(
            spark, sf_dir="", stage_dir=str(incr), name="t_pqi", checkpoint_dir=ckpt
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        cb_dir = os.path.join(wh, "t_pqi_codebook")
        cb_mt = max(
            os.path.getmtime(os.path.join(cb_dir, f)) for f in os.listdir(cb_dir)
        )
        n0 = spark.table("t_pqi_codes").count()
        assert n0 > 0 and spark.table("t_pqi_codebook").count() > 0

        for f in ("part-1.parquet", "part-2.parquet"):
            shutil.copy2(os.path.join(full, f), incr / f)
        q2 = run_pq_index_stream(
            spark,
            sf_dir="",
            stage_dir=str(incr),
            name="t_pqi",
            checkpoint_dir=ckpt,
            fresh_tables=False,
        )
        q2.processAllAvailable()
        q2.stop()
        q2.awaitTermination()

        cb_mt2 = max(
            os.path.getmtime(os.path.join(cb_dir, f)) for f in os.listdir(cb_dir)
        )
        assert cb_mt2 == cb_mt  # frozen: epochs 1-2 never touched the codebook
        spark.catalog.refreshTable("t_pqi_codes")
        import pyarrow.parquet as pq

        n_all = pq.read_metadata(f"{sf_dir}/embeddings.parquet").num_rows
        codes = spark.table("t_pqi_codes")
        assert codes.count() == n_all  # every vector encoded...
        assert codes.select("vec_id").distinct().count() == n_all  # ...once

    def test_search_view_matches_oracle_twin_recompute(self, spark, sf_dir):
        """The maintained index's search equals a from-scratch recompute
        with the same train-on-first-third contract: frozen-codebook
        encode of the full corpus, ADC top-k."""
        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.operators.similarity import (
            PQ_CODE_MOD,
            PQ_ITERS,
            _idot,
            _pq_encode,
            _pq_query_luts,
            _pq_rank,
            _pq_subvectors,
            _pq_train,
            quantize,
        )
        from gmall_flink_200621_spark.plans.training import knn_pq_index_view
        from gmall_flink_200621_spark.sources.loaders import load_table

        got = sorted(map(tuple, knn_pq_index_view(spark, sf_dir).collect()))

        emb = load_table(spark, sf_dir, "embeddings")
        n = emb.count()
        e = emb.select("vec_id", quantize(F.col("embedding")).alias("q"))
        e = e.withColumn("n2", _idot(F.col("q"), F.col("q")))
        first = (
            e.orderBy("vec_id").limit(n // 3).select("vec_id")
        )  # stage chunk 0 = smallest third by vec_id
        sub = _pq_subvectors(e).persist()
        cb = _pq_train(sub.join(first, "vec_id"), PQ_CODE_MOD, PQ_ITERS)
        codes = _pq_encode(sub, cb)
        qs = e.filter(F.col("vec_id") % 100 == 0)
        lut = _pq_query_luts(qs, cb)
        scored = codes.join(F.broadcast(lut), F.col("query_id") != F.col("vec_id"))
        want = sorted(map(tuple, _pq_rank(scored, 5).collect()))
        assert got == want and len(got) > 0

    def test_codes_fold_bounds_partitions_search_unchanged(self, spark, sf_dir):
        """Identity fold over the codes table: with fold_every=2 across
        5 arrival chunks the partition count stays bounded, search
        results are identical to the unfolded index (same codebook
        contract), a resurrected stale epoch with garbage codes is
        ignored by the search, and the next fold GCs it."""
        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.operators.similarity import _idot, quantize
        from gmall_flink_200621_spark.streaming import epochs
        from gmall_flink_200621_spark.streaming.ingest import (
            pq_index_search,
            run_pq_index_stream,
        )
        from gmall_flink_200621_spark.sources.loaders import load_table

        def search(name: str):
            emb = load_table(spark, sf_dir, "embeddings")
            e = emb.select("vec_id", quantize(F.col("embedding")).alias("q"))
            qs = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).filter(
                F.col("vec_id") % 100 == 0
            )
            return sorted(map(tuple, pq_index_search(spark, qs, name).collect()))

        for name, fold in (("t_pqf", 2), ("t_pqnf", None)):
            q = run_pq_index_stream(spark, sf_dir, name=name, n_chunks=5, fold_every=fold)
            q.processAllAvailable()
            q.stop()
            q.awaitTermination()
            spark.catalog.refreshTable(f"{name}_codes")

        eps = sorted(
            int(r[0].split("=")[1])
            for r in spark.sql("SHOW PARTITIONS t_pqf_codes").collect()
        )
        assert len(eps) <= 3 and eps[0] < 0  # 5 epochs → base + tail
        want = search("t_pqnf")  # unfolded twin, same 5-chunk contract
        assert search("t_pqf") == want and len(want) > 0

        # crash-before-GC: resurrect a stale epoch with garbage codes
        prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            spark.createDataFrame(
                [(999_999_999, [0] * 16, 1, 0)],
                "vec_id long, codes array<bigint>, rn2 long, epoch long",
            ).write.mode("overwrite").insertInto("t_pqf_codes", overwrite=True)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
        spark.catalog.refreshTable("t_pqf_codes")
        assert search("t_pqf") == want  # stale epoch ignored by live_epochs

        epochs.fold(spark, "t_pqf_codes", max(eps), lambda df: df)
        assert search("t_pqf") == want
        eps2 = [
            int(r[0].split("=")[1])
            for r in spark.sql("SHOW PARTITIONS t_pqf_codes").collect()
        ]
        assert 0 not in eps2  # garbage epoch GC'd


class TestCdcCompactEvery:
    def test_in_loop_compaction_restores_one_file_per_bucket(self, spark, tmp_path):
        """compact_every=1: the touched-bucket overwrite writes one file
        per non-empty shuffle task (a hot bucket fragments WITHIN one
        epoch), and the in-loop compaction pass restores one file —
        content identical to an uncompacted replay of the same events."""
        import os

        import pandas as pd

        from gmall_flink_200621_spark.streaming.ingest import (
            cdc_current_view,
            run_cdc_compaction_stream,
        )

        def stage_one_chunk(d):
            d.mkdir()
            users = [64 * i for i in range(8)]  # all kb=0 under 64 buckets
            path = d / "part-0.parquet"
            pd.DataFrame(
                {
                    "event_id": list(range(1, 9)),
                    "ts": pd.to_datetime([10 * i for i in range(1, 9)], unit="s"),
                    "user_id": users,
                    "event_type": ["view"] * 8,
                    "value": [1.0] * 8,
                    "props": ["{}"] * 8,
                }
            ).to_parquet(path, index=False)
            return str(d)

        wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")

        def nfiles(name):
            p = os.path.join(wh, f"{name}_state", "kb=0")
            return len([f for f in os.listdir(p) if f.endswith(".parquet")])

        # At toy scale AQE coalesces the merge shuffle to one task and no
        # fragmentation occurs; at production bucket sizes AQE targets
        # ~64 MB per task and a hot bucket genuinely receives several
        # tasks' files. Disable coalescing here to reproduce that regime.
        coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
        prev = spark.conf.get(coalesce_key, "true")
        spark.conf.set(coalesce_key, "false")
        try:
            # control: no in-loop compaction — the hot bucket holds >1 file
            q = run_cdc_compaction_stream(
                spark, stage_one_chunk(tmp_path / "s1"), name="t_cc0"
            )
            q.processAllAvailable()
            q.stop()
            q.awaitTermination()
            assert nfiles("t_cc0") > 1  # the fragmentation the cadence exists for

            q = run_cdc_compaction_stream(
                spark, stage_one_chunk(tmp_path / "s2"), name="t_cc1", compact_every=1
            )
            q.processAllAvailable()
            q.stop()
            q.awaitTermination()
            assert nfiles("t_cc1") == 1
        finally:
            spark.conf.set(coalesce_key, prev)

        spark.catalog.refreshTable("t_cc0_state")
        spark.catalog.refreshTable("t_cc1_state")
        a = sorted(map(tuple, cdc_current_view(spark, "t_cc0").collect()))
        b = sorted(map(tuple, cdc_current_view(spark, "t_cc1").collect()))
        assert a == b and len(a) == 8


class TestJoinIvm:
    def _batch_join(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.sources.loaders import load_table

        o = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        return o.join(li, o.o_orderkey == li.l_orderkey).select(
            "o_orderkey",
            "l_linenumber",
            "o_custkey",
            "o_orderstatus",
            "l_quantity",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
                "revenue"
            ),
        )

    def test_failed_epoch_releases_persisted_retire_frame(self, spark, monkeypatch):
        """An epoch whose MV write raises must not leave its persisted
        `retired` frame in the CacheManager (foreachBatch retries of a
        failing batch would otherwise pile up cached blocks). Drives
        `_ivm_epoch` directly on two tiny batches — an insert, then a
        delete whose retraction persists `retired` — with the second
        `write_epoch` call of the delete epoch failing."""
        import gmall_flink_200621_spark.streaming.ingest as I
        from gmall_flink_200621_spark.streaming.epochs import create_state_table

        t = {k: f"t_ivmleak_{k}" for k in ("o", "l", "v", "d", "agg")}
        create_state_table(
            spark, t["o"], "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_version BIGINT"
        )
        create_state_table(
            spark,
            t["l"],
            "l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE,"
            " l_discount DOUBLE",
        )
        create_state_table(
            spark,
            t["v"],
            "o_orderkey BIGINT, l_linenumber INT, o_custkey BIGINT, o_orderstatus STRING,"
            " l_quantity DOUBLE, revenue DOUBLE, o_version BIGINT",
        )
        create_state_table(spark, t["d"], "o_orderkey BIGINT")
        create_state_table(spark, t["agg"], "o_custkey BIGINT, n BIGINT, rev DECIMAL(18,6)")
        schema = (
            "side string, o_orderkey long, o_custkey long, o_orderstatus string,"
            " l_orderkey long, l_linenumber int, l_quantity double,"
            " l_extendedprice double, l_discount double"
        )

        def epoch(rows, epoch_id):
            I._ivm_epoch(
                spark.createDataFrame(rows, schema), epoch_id, t["o"], t["l"], t["v"],
                d_t=t["d"], agg_t=t["agg"],
            )

        epoch(
            [("O", 1, 7, "O", None, None, None, None, None),
             ("L", None, None, None, 1, 1, 2.0, 10.0, 0.0)],
            0,
        )
        assert spark.table(t["v"]).count() == 1

        persisted = []
        df_cls = type(spark.range(1))
        persist = df_cls.persist

        def recording_persist(df, *a, **k):
            persisted.append(df)
            return persist(df, *a, **k)

        calls = []
        write_epoch = I.write_epoch

        def failing_write_epoch(df, table, epoch_id):
            calls.append(table)
            if len(calls) == 2:
                raise RuntimeError("injected write failure")
            write_epoch(df, table, epoch_id)

        monkeypatch.setattr(df_cls, "persist", recording_persist)
        monkeypatch.setattr(I, "write_epoch", failing_write_epoch)
        with pytest.raises(RuntimeError, match="injected"):
            epoch([("O_DEL", 1, None, None, None, None, None, None, None)], 1)
        assert len(calls) == 2 and persisted, "the delete epoch must persist its retire frame"
        # no frame the failed epoch persisted is still in the CacheManager
        assert [df for df in persisted if df.storageLevel.useMemory or df.storageLevel.useDisk] == []

    def test_view_equals_batch_join_and_deltas_spread(self, spark, sf_dir):
        """After full replay the maintained view equals the batch join as
        a MULTISET (row-for-row — this is the exactly-once-per-pair proof:
        any pair emitted by two delta terms would surplus the multiset;
        note (l_orderkey, l_linenumber) is NOT unique in the synthetic
        lineitem, so a key-based uniqueness check would be wrong). Every
        epoch's partition must be non-empty and strictly smaller than the
        whole view — deltas, not per-epoch recomputes."""
        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.streaming import epochs
        from gmall_flink_200621_spark.streaming.ingest import (
            order_wide_view,
            run_join_ivm_stream,
        )

        q = run_join_ivm_stream(spark, sf_dir, name="t_ivm", n_chunks=3)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        spark.catalog.refreshTable("t_ivm_v")
        got = sorted(map(tuple, order_wide_view(spark, "t_ivm").collect()))
        want = sorted(map(tuple, self._batch_join(spark, sf_dir).collect()))
        assert got == want and len(got) > 0
        per_epoch = {
            r["epoch"]: r["n"]
            for r in epochs.live(spark, "t_ivm_v")
            .groupBy("epoch")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert set(per_epoch) == {0, 1, 2}
        assert all(0 < n < len(got) for n in per_epoch.values())
        assert sum(per_epoch.values()) == len(got)

    def test_incremental_not_recompute_and_checkpoint_recovery(
        self, spark, sf_dir, tmp_path
    ):
        """The IVM claim observed physically: when later chunks arrive,
        epoch-0's view partition is NEVER rewritten (maintenance touches
        only the new epoch's partitions — no view recompute), and a
        kill-and-restart on the checkpoint resumes without re-reading
        committed chunks or double-emitting any pair."""
        import os
        import shutil

        from gmall_flink_200621_spark.streaming.ingest import (
            order_wide_view,
            run_join_ivm_stream,
            stage_order_lineitem_chunks,
        )

        full = stage_order_lineitem_chunks(sf_dir, n_chunks=3)
        incr = tmp_path / "stage"
        incr.mkdir()
        ckpt = str(tmp_path / "ckpt")
        shutil.copy2(os.path.join(full, "part-0.parquet"), incr / "part-0.parquet")
        q = run_join_ivm_stream(
            spark, sf_dir="", stage_dir=str(incr), name="t_ivmr", checkpoint_dir=ckpt
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        e0 = os.path.join(wh, "t_ivmr_v", "epoch=0")
        mt0 = os.path.getmtime(e0)
        n0 = order_wide_view(spark, "t_ivmr").count()

        for f in ("part-1.parquet", "part-2.parquet"):
            shutil.copy2(os.path.join(full, f), incr / f)
        q2 = run_join_ivm_stream(
            spark,
            sf_dir="",
            stage_dir=str(incr),
            name="t_ivmr",
            checkpoint_dir=ckpt,
            fresh_tables=False,
        )
        q2.processAllAvailable()
        q2.stop()
        q2.awaitTermination()

        assert os.path.getmtime(e0) == mt0  # epoch-0 delta never rewritten
        spark.catalog.refreshTable("t_ivmr_v")
        got = sorted(map(tuple, order_wide_view(spark, "t_ivmr").collect()))
        want = sorted(map(tuple, self._batch_join(spark, sf_dir).collect()))
        assert got == want and len(got) > n0

    def test_last_epoch_crash_replay_is_idempotent(self, spark, sf_dir):
        """The crash case a checkpointed stream actually replays: the
        final micro-batch re-runs after some or all of its three writes
        landed. Re-invoking the epoch body with the same (chunk, epoch)
        must leave view and both state tables byte-unchanged — the
        `epoch != epoch_id` state reads recompute ΔV from identical
        pre-epoch state."""
        from gmall_flink_200621_spark.streaming.ingest import (
            _ivm_epoch,
            run_join_ivm_stream,
            stage_order_lineitem_chunks,
        )

        stage = stage_order_lineitem_chunks(sf_dir, n_chunks=2)
        q = run_join_ivm_stream(spark, sf_dir, name="t_ivmc", stage_dir=stage)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        def snap():
            out = {}
            for t in ("t_ivmc_o", "t_ivmc_l", "t_ivmc_v", "t_ivmc_d", "t_ivmc_agg"):
                spark.catalog.refreshTable(t)
                out[t] = sorted(map(str, spark.table(t).collect()))
            return out

        before = snap()
        last = spark.read.schema(
            "side string, o_orderkey long, o_custkey long, o_orderstatus string,"
            " l_orderkey long, l_linenumber int, l_quantity double,"
            " l_extendedprice double, l_discount double"
        ).parquet(stage + "/part-1.parquet")
        _ivm_epoch(last, 1, "t_ivmc_o", "t_ivmc_l", "t_ivmc_v", "t_ivmc_d", "t_ivmc_agg")
        assert snap() == before

    def test_deletes_tombstone_any_arrival_order(self, spark, sf_dir):
        """With delete_mod=7 every %7==0 order is tombstoned: keys
        inserted in chunks 0/1 get their delete one chunk later
        (delete-after-insert), keys inserted in chunk 2 get it in chunk 0
        (delete-BEFORE-insert). The converged view must equal the batch
        join over never-deleted orders; the out-of-order case must have
        actually occurred (epoch-0 tombstones exist); and lineitems of
        deleted orders stay in their state table (deletes remove ORDERS —
        the join rows vanish via the anti-join, not via lineitem loss)."""
        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.streaming.ingest import (
            order_wide_view,
            run_join_ivm_stream,
            stage_order_lineitem_chunks,
        )

        stage = stage_order_lineitem_chunks(sf_dir, n_chunks=3, delete_mod=7)
        q = run_join_ivm_stream(spark, sf_dir="", stage_dir=stage, name="t_ivmd")
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        for t in ("t_ivmd_v", "t_ivmd_d", "t_ivmd_o", "t_ivmd_l"):
            spark.catalog.refreshTable(t)
        got = sorted(map(tuple, order_wide_view(spark, "t_ivmd").collect()))
        want = sorted(
            map(
                tuple,
                self._batch_join(spark, sf_dir)
                .filter(F.col("o_orderkey") % 7 != 0)
                .collect(),
            )
        )
        assert got == want and len(got) > 0
        # the out-of-order case occurred: chunk-2 orders' deletes landed in epoch 0
        assert spark.table("t_ivmd_d").filter("epoch = 0").count() > 0
        # a key whose delete PRECEDED its insert (chunk-2 inserts, chunk-0
        # deletes) never entered order state — the cleansed-ΔO path; keys
        # deleted AFTER insert legitimately remain as tombstoned state
        assert (
            spark.table("t_ivmd_o")
            .filter((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 3 == 2))
            .count()
            == 0
        )
        assert spark.table("t_ivmd_o").filter(F.col("o_orderkey") % 7 == 0).count() > 0
        # their lineitems are retained state (only the join rows vanish)
        assert spark.table("t_ivmd_l").filter(F.col("l_orderkey") % 7 == 0).count() > 0

    def test_purge_physically_retires_tombstoned_rows(self, spark, sf_dir):
        """purge_tombstoned_rows rewrites ONLY the view partitions that
        contain a deleted key's rows: after purge the raw table holds no
        dead rows in rewritten partitions, the served view is byte-
        identical, untouched partitions' directories keep their mtimes,
        and a second purge is a no-op (touched set drains to zero
        rewrites)."""
        import os

        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.streaming import epochs
        from gmall_flink_200621_spark.streaming.ingest import (
            order_wide_view,
            purge_tombstoned_rows,
            run_join_ivm_stream,
            stage_order_lineitem_chunks,
        )

        stage = stage_order_lineitem_chunks(sf_dir, n_chunks=3, delete_mod=7)
        q = run_join_ivm_stream(spark, sf_dir="", stage_dir=stage, name="t_ivmp")
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        for t in ("t_ivmp_v", "t_ivmp_d"):
            spark.catalog.refreshTable(t)

        wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        live = epochs.live(spark, "t_ivmp_v")
        dead_per_epoch = {
            r.epoch: r.n
            for r in live.filter(F.col("o_orderkey") % 7 == 0)
            .groupBy("epoch")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        all_epochs = {r.epoch for r in live.select("epoch").distinct().collect()}
        untouched = all_epochs - set(dead_per_epoch)
        assert dead_per_epoch, "staging must plant dead rows in the view"
        mt_before = {
            e: os.path.getmtime(os.path.join(wh, "t_ivmp_v", f"epoch={e}"))
            for e in untouched
        }
        before = sorted(map(tuple, order_wide_view(spark, "t_ivmp").collect()))

        n = purge_tombstoned_rows(spark, "t_ivmp")
        assert n == len(dead_per_epoch)
        # dead rows physically gone from the live partitions
        live2 = epochs.live(spark, "t_ivmp_v")
        assert live2.filter(F.col("o_orderkey") % 7 == 0).count() == 0
        # served view unchanged
        assert sorted(map(tuple, order_wide_view(spark, "t_ivmp").collect())) == before
        # untouched partitions not rewritten
        for e, mt in mt_before.items():
            assert os.path.getmtime(os.path.join(wh, "t_ivmp_v", f"epoch={e}")) == mt
        # idempotent: nothing left to purge
        assert purge_tombstoned_rows(spark, "t_ivmp") == 0

    def test_retractable_aggregate_equals_batch_rollup(self, spark, sf_dir):
        """The aggregate MV maintained ON TOP of the join view, under
        deletes: equals the batch per-customer rollup over never-deleted
        orders (DECIMAL-exact), the partials table physically contains
        NEGATIVE retraction rows (the delete epoch's −contribution), and
        retractions fired exactly where tombstones landed — no partial
        rewrites, no view rescans."""
        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.streaming.ingest import (
            revenue_by_cust_view,
            run_join_ivm_stream,
            stage_order_lineitem_chunks,
        )

        stage = stage_order_lineitem_chunks(sf_dir, n_chunks=3, delete_mod=7)
        q = run_join_ivm_stream(spark, sf_dir="", stage_dir=stage, name="t_ivma")
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        spark.catalog.refreshTable("t_ivma_agg")
        got = sorted(map(tuple, revenue_by_cust_view(spark, "t_ivma").collect()))
        want = sorted(
            map(
                tuple,
                self._batch_join(spark, sf_dir)
                .filter(F.col("o_orderkey") % 7 != 0)
                .groupBy("o_custkey")
                .agg(
                    F.count(F.lit(1)).alias("n_items"),
                    F.sum(F.col("revenue").cast("decimal(18,6)"))
                    .cast("decimal(18,6)")
                    .cast("double")
                    .alias("revenue"),
                )
                .collect(),
            )
        )
        assert got == want and len(got) > 0
        neg = spark.table("t_ivma_agg").filter(F.col("n") < 0)
        assert neg.count() > 0  # physical retraction partials exist
        # retractions only in epochs where a tombstone landed
        del_epochs = {r.epoch for r in spark.table("t_ivma_d").select("epoch").distinct().collect()}
        assert {r.epoch for r in neg.select("epoch").distinct().collect()} <= del_epochs

    def test_fold_preserves_view_and_bounds_partitions(self, spark, sf_dir, tmp_path):
        """With fold_every=2 over 6 epochs the view table's partitions
        collapse to watermark bases + the tail, the folded view equals
        the unfolded one, and the delta joins keep broadcasting the
        micro-batch side (state side never broadcast)."""
        import os
        import shutil

        from gmall_flink_200621_spark.streaming.ingest import (
            order_wide_view,
            run_join_ivm_stream,
            stage_order_lineitem_chunks,
        )

        full = stage_order_lineitem_chunks(sf_dir, n_chunks=6)
        q = run_join_ivm_stream(
            spark, sf_dir="", stage_dir=full, name="t_ivmf", fold_every=2, refold_width=2
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        spark.catalog.refreshTable("t_ivmf_v")
        n_parts = spark.sql("SHOW PARTITIONS t_ivmf_v").count()
        assert n_parts <= 5, n_parts  # bases + unfolded tail, not 6 epochs
        got = sorted(map(tuple, order_wide_view(spark, "t_ivmf").collect()))
        want = sorted(map(tuple, self._batch_join(spark, sf_dir).collect()))
        assert got == want

    def test_line_deletes_tombstone_any_arrival_order(self, spark, sf_dir):
        """L_DEL tombstones at (l_orderkey, l_linenumber) granularity,
        interleaved with order-level O_DELs: the converged view equals
        the batch join minus BOTH delete sets (a row covered by both
        retires once), the out-of-order line case occurred (epoch-0 line
        tombstones exist), and a line whose delete PRECEDED its insert
        never entered lineitem state (the cleansed-ΔL path)."""
        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.streaming.ingest import (
            order_wide_view,
            run_join_ivm_stream,
            stage_order_lineitem_chunks,
        )

        stage = stage_order_lineitem_chunks(
            sf_dir, n_chunks=3, delete_mod=7, line_delete_mod=5
        )
        q = run_join_ivm_stream(spark, sf_dir="", stage_dir=stage, name="t_ivmld")
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        for t in ("t_ivmld_v", "t_ivmld_d", "t_ivmld_ld", "t_ivmld_l"):
            spark.catalog.refreshTable(t)
        got = sorted(map(tuple, order_wide_view(spark, "t_ivmld").collect()))
        want = sorted(
            map(
                tuple,
                self._batch_join(spark, sf_dir)
                .filter(
                    (F.col("o_orderkey") % 7 != 0)
                    & ((F.col("o_orderkey") + F.col("l_linenumber")) % 5 != 0)
                )
                .collect(),
            )
        )
        assert got == want and len(got) > 0
        # the out-of-order line case occurred: lines inserted in chunk 2
        # have (l_orderkey + l_linenumber) % 3 == 2, so their deletes
        # landed in chunk (2+1)%3 == 0
        assert spark.table("t_ivmld_ld").filter("epoch = 0").count() > 0
        # a line whose delete preceded its insert never entered state
        lkey = F.col("l_orderkey") + F.col("l_linenumber")
        assert (
            spark.table("t_ivmld_l")
            .filter((lkey % 5 == 0) & (lkey % 3 == 2))
            .count()
            == 0
        )
        # lines deleted AFTER insert legitimately remain as tombstoned state
        assert spark.table("t_ivmld_l").filter(lkey % 5 == 0).count() > 0

    def test_redelivered_deletes_do_not_double_retract(self, spark, sf_dir):
        """At-least-once delivery pin (r09 ADVICE): the SAME O_DEL and
        L_DEL events redelivered in a LATER chunk must retract nothing a
        second time — only first-seen delete keys fire the retire term.
        Both the retractable sum MV and the max MV must equal their batch
        rollups despite every delete arriving twice."""
        import os

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq_
        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.streaming.ingest import (
            revenue_by_cust_view,
            revenue_max_by_cust_view,
            run_join_ivm_stream,
            stage_order_lineitem_chunks,
        )

        stage = stage_order_lineitem_chunks(
            sf_dir, n_chunks=3, delete_mod=7, line_delete_mod=5
        )
        # redeliver every delete event as an extra fourth chunk
        base = os.stat(os.path.join(stage, "part-0.parquet")).st_mtime
        chunks = [
            pq_.read_table(os.path.join(stage, f"part-{i}.parquet")) for i in range(3)
        ]
        dup = pa.concat_tables(
            t.filter(pc.is_in(t["side"], value_set=pa.array(["O_DEL", "L_DEL"])))
            for t in chunks
        )
        assert dup.num_rows > 0
        path = os.path.join(stage, "part-3-redelivered.parquet")
        pq_.write_table(dup, path)
        os.utime(path, (base + 3, base + 3))

        q = run_join_ivm_stream(
            spark, sf_dir="", stage_dir=stage, name="t_ivmrd", maintain_max=True
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        for t in ("t_ivmrd_agg", "t_ivmrd_mx"):
            spark.catalog.refreshTable(t)
        surviving = self._batch_join(spark, sf_dir).filter(
            (F.col("o_orderkey") % 7 != 0)
            & ((F.col("o_orderkey") + F.col("l_linenumber")) % 5 != 0)
        )
        got = sorted(map(tuple, revenue_by_cust_view(spark, "t_ivmrd").collect()))
        want = sorted(
            map(
                tuple,
                surviving.groupBy("o_custkey")
                .agg(
                    F.count(F.lit(1)).alias("n_items"),
                    F.sum(F.col("revenue").cast("decimal(18,6)"))
                    .cast("decimal(18,6)")
                    .cast("double")
                    .alias("revenue"),
                )
                .collect(),
            )
        )
        assert got == want and len(got) > 0
        got_mx = sorted(map(tuple, revenue_max_by_cust_view(spark, "t_ivmrd").collect()))
        want_mx = sorted(
            map(
                tuple,
                surviving.groupBy("o_custkey")
                .agg(F.max("revenue").alias("max_revenue"))
                .collect(),
            )
        )
        assert got_mx == want_mx
        # epoch 3 (pure redelivery) wrote NO retraction partials
        assert spark.table("t_ivmrd_agg").filter("epoch = 3 AND n < 0").count() == 0

    @staticmethod
    def _planted_mx_stage(tmp_path) -> str:
        """Two-chunk feed planting the max-MV hard cases: cust 1 loses its
        max order to an O_DEL, cust 2 its max line to an L_DEL, cust 3
        loses everything."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq_

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

        def row(side, ok=None, ck=None, lk=None, ln=None, px=None):
            return {
                "side": side,
                "o_orderkey": ok,
                "o_custkey": ck,
                "o_orderstatus": "F" if side == "O" else None,
                "l_orderkey": lk,
                "l_linenumber": ln,
                "l_quantity": 1.0 if side == "L" else None,
                "l_extendedprice": px,
                "l_discount": 0.0 if side == "L" else None,
            }

        # cust 1: orders 10 (rev 100 — the max) and 11 (rev 10); O_DEL 10
        # cust 2: order 20, lines 1 (rev 50 — the max) and 2 (rev 5); L_DEL (20, 1)
        # cust 3: order 30 only (rev 7); O_DEL 30 → customer drops out
        chunk0 = [
            row("O", ok=10, ck=1),
            row("O", ok=11, ck=1),
            row("O", ok=20, ck=2),
            row("O", ok=30, ck=3),
            row("L", lk=10, ln=1, px=100.0),
            row("L", lk=11, ln=1, px=10.0),
            row("L", lk=20, ln=1, px=50.0),
            row("L", lk=20, ln=2, px=5.0),
            row("L", lk=30, ln=1, px=7.0),
        ]
        chunk1 = [
            row("O_DEL", ok=10),
            row("L_DEL", lk=20, ln=1),
            row("O_DEL", ok=30),
        ]
        stage = str(tmp_path / "mxstage")
        os.makedirs(stage)
        base = None
        for i, rows in enumerate((chunk0, chunk1)):
            p = os.path.join(stage, f"part-{i}.parquet")
            pq_.write_table(
                pa.Table.from_pylist(rows, schema=schema), p
            )
            base = base or os.stat(p).st_mtime
            os.utime(p, (base + i, base + i))
        return stage

    def test_max_mv_delete_of_current_max(self, spark, tmp_path):
        """The non-invertible hard case, planted: deleting the row that
        HOLDS a customer's current max must lower the served max to the
        true runner-up (sum's sign trick can't do this — the rebase
        re-derivation must). Covers an O_DEL of the max order, an L_DEL
        of the max line, and a fully-deleted customer dropping out; also
        pins the mechanism (rebase rows supersede older insert partials)."""
        from gmall_flink_200621_spark.streaming.ingest import (
            revenue_max_by_cust_view,
            run_join_ivm_stream,
        )

        stage = self._planted_mx_stage(tmp_path)
        q = run_join_ivm_stream(
            spark, sf_dir="", stage_dir=stage, name="t_ivmmx",
            maintain_agg=False, maintain_max=True,
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        spark.catalog.refreshTable("t_ivmmx_mx")
        got = {
            r.o_custkey: r.max_revenue
            for r in revenue_max_by_cust_view(spark, "t_ivmmx").collect()
        }
        assert got == {1: 10.0, 2: 5.0}  # maxes LOWERED; cust 3 gone
        mx = spark.table("t_ivmmx_mx")
        # mechanism: epoch 0 holds the pre-delete insert maxima ...
        e0 = {r.o_custkey: r.mx for r in mx.filter("epoch = 0 AND NOT rebase").collect()}
        assert e0 == {1: 100.0, 2: 50.0, 3: 7.0}
        # ... superseded by epoch-1 rebases, incl. cust 3's NULL-mx one
        rb = {r.o_custkey: r.mx for r in mx.filter("epoch = 1 AND rebase").collect()}
        assert rb == {1: 10.0, 2: 5.0, 3: None}

    @staticmethod
    def _planted_dc_stage(tmp_path) -> str:
        """Two-chunk feed planting the distinct-count hard cases for one
        customer: value 1.0 carried by TWO lines (one dies — value must
        stay counted), value 2.0 carried by ONE line (dies — value must
        leave), value 3.0 untouched; plus cust 2 fully deleted."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq_

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

        def row(side, ok=None, ck=None, lk=None, ln=None, qty=None):
            return {
                "side": side,
                "o_orderkey": ok,
                "o_custkey": ck,
                "o_orderstatus": "F" if side == "O" else None,
                "l_orderkey": lk,
                "l_linenumber": ln,
                "l_quantity": qty,
                "l_extendedprice": 1.0 if side == "L" else None,
                "l_discount": 0.0 if side == "L" else None,
            }

        chunk0 = [
            row("O", ok=10, ck=1),
            row("O", ok=20, ck=2),
            row("L", lk=10, ln=1, qty=1.0),
            row("L", lk=10, ln=2, qty=1.0),  # duplicate carrier of 1.0
            row("L", lk=10, ln=3, qty=2.0),  # sole carrier of 2.0
            row("L", lk=10, ln=4, qty=3.0),
            row("L", lk=20, ln=1, qty=9.0),
        ]
        chunk1 = [
            row("L_DEL", lk=10, ln=2),  # one carrier of 1.0 dies
            row("L_DEL", lk=10, ln=3),  # 2.0's LAST carrier dies
            row("O_DEL", ok=20),  # cust 2 drops out entirely
        ]
        stage = str(tmp_path / "dcstage")
        os.makedirs(stage)
        base = None
        for i, rows in enumerate((chunk0, chunk1)):
            p = os.path.join(stage, f"part-{i}.parquet")
            pq_.write_table(pa.Table.from_pylist(rows, schema=schema), p)
            base = base or os.stat(p).st_mtime
            os.utime(p, (base + i, base + i))
        return stage

    def test_distinct_mv_refcount_semantics(self, spark, tmp_path):
        """The distinct-count hard case, planted: deleting ONE of a
        value's duplicate carriers must NOT lower the count (naive −1
        retraction of the group count would), deleting a value's LAST
        carrier must, and a fully-deleted customer drops out. Also pins
        the mechanism: the epoch-1 partial carries the signed refcounts,
        and the surviving duplicate's net refcount is 1 (not 0)."""
        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.streaming.ingest import (
            distinct_qty_by_cust_view,
            run_join_ivm_stream,
        )

        stage = self._planted_dc_stage(tmp_path)
        q = run_join_ivm_stream(
            spark, sf_dir="", stage_dir=stage, name="t_ivmdc",
            maintain_agg=False, maintain_distinct=True,
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        spark.catalog.refreshTable("t_ivmdc_dc")
        got = {
            r.o_custkey: r.n_qty
            for r in distinct_qty_by_cust_view(spark, "t_ivmdc").collect()
        }
        # cust 1 keeps {1.0, 3.0}: duplicate-carrier delete didn't evict
        # 1.0, last-carrier delete evicted 2.0; cust 2 gone
        assert got == {1: 2}
        dc = spark.table("t_ivmdc_dc")
        e1 = {
            (r.o_custkey, r.qty): r.c
            for r in dc.filter("epoch = 1").collect()
        }
        assert e1 == {(1, 1.0): -1, (1, 2.0): -1, (2, 9.0): -1}
        net = {
            (r.o_custkey, r.qty): r.net
            for r in dc.groupBy("o_custkey", "qty").agg(
                F.sum("c").alias("net")
            ).collect()
        }
        assert net == {(1, 1.0): 1, (1, 2.0): 0, (1, 3.0): 1, (2, 9.0): 0}

    @staticmethod
    def _planted_3way_stage(tmp_path) -> str:
        """Two-chunk ternary feed planting the arrival-order cases: cust 1
        arrives AFTER its order and line (term-1 emit), order 20 arrives
        after its line (term-2 emit), order 30's delete arrives BEFORE its
        insert, order 40 is deleted after insert (agg retraction)."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq_

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

        def row(side, ck=None, nk=None, ok=None, ock=None, lk=None, ln=None, px=None):
            return {
                "side": side,
                "c_custkey": ck,
                "c_nationkey": nk,
                "o_orderkey": ok,
                "o_custkey": ock,
                "l_orderkey": lk,
                "l_linenumber": ln,
                "l_extendedprice": px,
                "l_discount": 0.0 if side == "L" else None,
            }

        chunk0 = [
            row("O", ok=10, ock=1),  # cust 1 not yet arrived
            row("L", lk=10, ln=1, px=100.0),
            row("L", lk=20, ln=1, px=50.0),  # order 20 not yet arrived
            row("C", ck=2, nk=200),
            row("O_DEL", ok=30),  # delete BEFORE insert
            row("O", ok=40, ock=2),
            row("L", lk=40, ln=1, px=7.0),
        ]
        chunk1 = [
            row("C", ck=1, nk=100),  # late customer → term 1 emits 10's rows
            row("O", ok=20, ock=2),  # late order → term 2 emits 20's rows
            row("O", ok=30, ock=1),  # tombstoned key's insert — must not join
            row("L", lk=30, ln=1, px=999.0),
            row("O_DEL", ok=40),  # delete after insert → agg retracts 7.0
        ]
        stage = str(tmp_path / "w3stage")
        os.makedirs(stage)
        base = None
        for i, rows in enumerate((chunk0, chunk1)):
            p = os.path.join(stage, f"part-{i}.parquet")
            pq_.write_table(pa.Table.from_pylist(rows, schema=schema), p)
            base = base or os.stat(p).st_mtime
            os.utime(p, (base + i, base + i))
        return stage

    def test_join3_ivm_dimension_update_retract_and_emit(self, spark, tmp_path):
        """Planted C_UPD semantics: (a) update-after-insert WINS — every
        fact row joined through the customer retracts from the old
        nation and re-emits with the new one; (b) update-BEFORE-insert
        is superseded by the later insert (last write wins); (c) an
        untouched customer's rows and aggregate are byte-unaffected."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq_

        from gmall_flink_200621_spark.streaming.ingest import (
            order_cust_wide_view,
            revenue_by_nation_ivm_view,
            run_join3_ivm_stream,
        )

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

        def row(side, ck=None, nk=None, ok=None, ock=None, lk=None, ln=None, px=None):
            return {
                "side": side, "c_custkey": ck, "c_nationkey": nk,
                "o_orderkey": ok, "o_custkey": ock, "l_orderkey": lk,
                "l_linenumber": ln, "l_extendedprice": px,
                "l_discount": 0.0 if side == "L" else None,
            }

        chunk0 = [
            row("C", ck=1, nk=100),
            row("O", ok=10, ock=1),
            row("L", lk=10, ln=1, px=100.0),
            row("L", lk=10, ln=2, px=30.0),
            row("C_UPD", ck=2, nk=999),  # update BEFORE insert — must lose
            row("C", ck=3, nk=300),  # untouched control
            row("O", ok=31, ock=3),
            row("L", lk=31, ln=1, px=5.0),
        ]
        chunk1 = [
            row("C_UPD", ck=1, nk=101),  # winning dim update: both of 10's
            # rows retract from nation 100 and re-emit under 101
            row("C", ck=2, nk=200),  # later insert supersedes the C_UPD
            row("O", ok=20, ock=2),
            row("L", lk=20, ln=1, px=50.0),
        ]
        stage = str(tmp_path / "cu3stage")
        os.makedirs(stage)
        base = None
        for i, rows in enumerate((chunk0, chunk1)):
            p = os.path.join(stage, f"part-{i}.parquet")
            pq_.write_table(pa.Table.from_pylist(rows, schema=schema), p)
            base = base or os.stat(p).st_mtime
            os.utime(p, (base + i, base + i))

        q = run_join3_ivm_stream(spark, sf_dir="", stage_dir=stage, name="t_ivm3cu")
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        for t in ("t_ivm3cu_v", "t_ivm3cu_cu", "t_ivm3cu_agg"):
            spark.catalog.refreshTable(t)
        got = sorted(
            (r.o_orderkey, r.l_linenumber, r.o_custkey, r.c_nationkey, r.revenue)
            for r in order_cust_wide_view(spark, "t_ivm3cu").collect()
        )
        assert got == [
            (10, 1, 1, 101, 100.0),  # re-emitted with the new nation
            (10, 2, 1, 101, 30.0),
            (20, 1, 2, 200, 50.0),  # the losing C_UPD left no trace
            (31, 1, 3, 300, 5.0),  # untouched
        ]
        agg = {
            r.c_nationkey: (r.n_items, r.revenue)
            for r in revenue_by_nation_ivm_view(spark, "t_ivm3cu").collect()
        }
        # nation 100 netted to zero (retracted wholesale) and dropped;
        # 101 carries the full re-emitted mass; 999 never materialized
        assert agg == {101: (2, 130.0), 200: (1, 50.0), 300: (1, 5.0)}

    def test_join3_ivm_arrival_orders_and_retraction(self, spark, tmp_path):
        """Ternary delta rule, planted: every relative arrival order of a
        tuple's three sides emits it exactly once, delete-before-insert
        wins at the order hop, and the per-nation aggregate retracts a
        post-insert delete's contribution."""
        from gmall_flink_200621_spark.streaming.ingest import (
            order_cust_wide_view,
            revenue_by_nation_ivm_view,
            run_join3_ivm_stream,
        )

        stage = self._planted_3way_stage(tmp_path)
        q = run_join3_ivm_stream(
            spark, sf_dir="", stage_dir=stage, name="t_ivm3",
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        for t in ("t_ivm3_v", "t_ivm3_d", "t_ivm3_agg"):
            spark.catalog.refreshTable(t)
        got = sorted(
            (r.o_orderkey, r.l_linenumber, r.o_custkey, r.c_nationkey, r.revenue)
            for r in order_cust_wide_view(spark, "t_ivm3").collect()
        )
        # orders 10 (late customer) and 20 (late order) emitted exactly
        # once; 30 (deleted before insert) and 40 (deleted after) absent
        assert got == [(10, 1, 1, 100, 100.0), (20, 1, 2, 200, 50.0)]
        agg = {
            r.c_nationkey: (r.n_items, r.revenue)
            for r in revenue_by_nation_ivm_view(spark, "t_ivm3").collect()
        }
        # nation 200 netted 50.0: order 40's 7.0 was added then retracted
        assert agg == {100: (1, 100.0), 200: (1, 50.0)}
        # purge generalizes to the ternary view unmodified (kept columns
        # come from the table schema, dead keys from `<name>_d`):
        # read-identical, and the dead rows are physically gone
        from gmall_flink_200621_spark.streaming.ingest import purge_tombstoned_rows

        n = purge_tombstoned_rows(spark, "t_ivm3")
        assert n >= 1
        spark.catalog.refreshTable("t_ivm3_v")
        after = sorted(
            (r.o_orderkey, r.l_linenumber, r.o_custkey, r.c_nationkey, r.revenue)
            for r in order_cust_wide_view(spark, "t_ivm3").collect()
        )
        assert after == got
        raw_keys = {r.o_orderkey for r in spark.table("t_ivm3_v").collect()}
        assert 30 not in raw_keys and 40 not in raw_keys

    def test_compact_max_mv_is_read_identical_and_bounds_partitions(
        self, spark, tmp_path
    ):
        """The max MV's compaction story (`<name>_mx` is fold-excluded by
        design): after compaction the served maxes are identical, the
        table holds ONE partition, fully-deleted customers stay
        superseded (NULL-mx rebases written, not dropped), a crash
        between the rebase write and the GC still reads identically, and
        a second pass is a no-op."""
        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.streaming.ingest import (
            _partition_epochs,
            compact_max_mv,
            revenue_max_by_cust_view,
            run_join_ivm_stream,
        )

        stage = self._planted_mx_stage(tmp_path)
        q = run_join_ivm_stream(
            spark, sf_dir="", stage_dir=stage, name="t_ivmcm",
            maintain_agg=False, maintain_max=True,
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        spark.catalog.refreshTable("t_ivmcm_mx")
        before = sorted(map(tuple, revenue_max_by_cust_view(spark, "t_ivmcm").collect()))
        n_parts = len(_partition_epochs(spark, "t_ivmcm_mx"))
        assert n_parts > 1
        # fully-deleted customers exist in partials but not in the view
        all_custs = {r.o_custkey for r in spark.table("t_ivmcm_mx").select("o_custkey").distinct().collect()}
        assert all_custs - {t[0] for t in before}, "need a fully-retired customer"

        # crash-sim: the rebase write landed but the GC didn't — replay
        # compact's write phase alone, leaving every old partition behind
        from gmall_flink_200621_spark.streaming.ingest import _ivm_write_epoch

        top = max(_partition_epochs(spark, "t_ivmcm_mx"))
        custs = spark.table("t_ivmcm_mx").select("o_custkey").distinct()
        served = revenue_max_by_cust_view(spark, "t_ivmcm").select(
            "o_custkey", F.col("max_revenue").alias("mx")
        )
        rebased = (
            custs.join(served, "o_custkey", "left")
            .withColumn("rebase", F.lit(True))
            .localCheckpoint(eager=True)
        )
        _ivm_write_epoch(spark, rebased, "t_ivmcm_mx", top)
        assert len(_partition_epochs(spark, "t_ivmcm_mx")) == n_parts  # GC pending
        assert sorted(map(tuple, revenue_max_by_cust_view(spark, "t_ivmcm").collect())) == before

        n = compact_max_mv(spark, "t_ivmcm")
        assert n == n_parts - 1
        assert sorted(map(tuple, revenue_max_by_cust_view(spark, "t_ivmcm").collect())) == before
        assert len(_partition_epochs(spark, "t_ivmcm_mx")) == 1
        # dead customers stayed superseded as NULL-mx rebases
        assert (
            spark.table("t_ivmcm_mx").filter(F.col("mx").isNull() & F.col("rebase")).count()
            == len(all_custs - {t[0] for t in before})
        )
        # idempotent
        assert compact_max_mv(spark, "t_ivmcm") == 0
        assert sorted(map(tuple, revenue_max_by_cust_view(spark, "t_ivmcm").collect())) == before

    def test_upsert_last_write_wins_and_max_rebase(self, spark, tmp_path):
        """O_UPD semantics, planted: (a) an update AFTER the insert wins —
        the key's join rows re-emit with the new attributes and the
        revenue MOVES to the new customer in both aggregate MVs; (b) an
        update BEFORE the insert is superseded by the later insert
        (arrival-epoch last-write-wins); (c) a delete in the update's own
        batch beats it (deletes are terminal); (d) the superseded
        version's rows are version-filtered at read, not rewritten."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq_
        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.streaming.ingest import (
            order_wide_view,
            revenue_by_cust_view,
            revenue_max_by_cust_view,
            run_join_ivm_stream,
        )

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

        def row(side, ok=None, ck=None, st=None, lk=None, ln=None, px=None):
            return {
                "side": side,
                "o_orderkey": ok,
                "o_custkey": ck,
                "o_orderstatus": st if st is not None else ("F" if side == "O" else None),
                "l_orderkey": lk,
                "l_linenumber": ln,
                "l_quantity": 1.0 if side == "L" else None,
                "l_extendedprice": px,
                "l_discount": 0.0 if side == "L" else None,
            }

        chunk0 = [
            # (a) cust 1's only order — later re-homed to cust 5
            row("O", ok=10, ck=1),
            row("L", lk=10, ln=1, px=100.0),
            # (b) update arrives BEFORE the insert
            row("O_UPD", ok=40, ck=6, st="U"),
            row("L", lk=40, ln=1, px=20.0),
            # (c) delete and update in the same later batch
            row("O", ok=50, ck=7),
            row("L", lk=50, ln=1, px=30.0),
        ]
        chunk1 = [
            row("O_UPD", ok=10, ck=5, st="U"),
            row("O", ok=40, ck=4),  # supersedes chunk-0's early update
            row("O_DEL", ok=50),
            row("O_UPD", ok=50, ck=9, st="U"),  # loses to the delete
        ]
        stage = str(tmp_path / "upstage")
        os.makedirs(stage)
        base = None
        for i, rows in enumerate((chunk0, chunk1)):
            p = os.path.join(stage, f"part-{i}.parquet")
            pq_.write_table(pa.Table.from_pylist(rows, schema=schema), p)
            base = base or os.stat(p).st_mtime
            os.utime(p, (base + i, base + i))

        q = run_join_ivm_stream(
            spark, sf_dir="", stage_dir=stage, name="t_ivmu", maintain_max=True
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        for t in ("t_ivmu_v", "t_ivmu_u", "t_ivmu_agg", "t_ivmu_mx"):
            spark.catalog.refreshTable(t)

        view = {
            (r.o_orderkey, r.l_linenumber): (r.o_custkey, r.o_orderstatus, r.revenue)
            for r in order_wide_view(spark, "t_ivmu").collect()
        }
        assert view == {
            (10, 1): (5, "U", 100.0),  # (a) update won, re-homed
            (40, 1): (4, "F", 20.0),   # (b) later insert superseded the update
            # (50, 1) deleted — (c)
        }
        agg = {r.o_custkey: (r.n_items, r.revenue) for r in revenue_by_cust_view(spark, "t_ivmu").collect()}
        assert agg == {5: (1, 100.0), 4: (1, 20.0)}  # cust 1/6/7 fully retracted
        mx = {r.o_custkey: r.max_revenue for r in revenue_max_by_cust_view(spark, "t_ivmu").collect()}
        assert mx == {5: 100.0, 4: 20.0}
        # (d) the superseded rows physically remain, version-filtered
        raw = spark.table("t_ivmu_v").filter("o_orderkey = 10").count()
        assert raw == 2  # v1 (cust 1) + v2 (cust 5)
        # the upsert log recorded the re-upserts (keys 10 and 40), not 50
        ue = {r.o_orderkey: r.ue for r in spark.table("t_ivmu_u").collect()}
        assert ue == {10: 1, 40: 1}
        # purge physically retires superseded versions too, read-identically
        from gmall_flink_200621_spark.streaming.ingest import purge_tombstoned_rows

        before = sorted(map(tuple, order_wide_view(spark, "t_ivmu").collect()))
        assert purge_tombstoned_rows(spark, "t_ivmu") > 0
        assert sorted(map(tuple, order_wide_view(spark, "t_ivmu").collect())) == before
        assert spark.table("t_ivmu_v").filter("o_orderkey = 10").count() == 1
        assert purge_tombstoned_rows(spark, "t_ivmu") == 0

    def test_asof_time_travel_matches_stopped_replay(self, spark, sf_dir, tmp_path):
        """order_wide_view_asof(e) equals the live view of a replay
        STOPPED after chunk e — for every epoch, under the full CDC mix
        (inserts, upserts, both delete granularities). Pure read-side
        epoch filtering; no state is copied. Below a fold watermark the
        read refuses (history absorbed into a base) instead of answering
        from coarser data."""
        import os
        import shutil

        import pytest

        from gmall_flink_200621_spark.streaming.ingest import (
            order_wide_view,
            order_wide_view_asof,
            run_join_ivm_stream,
            stage_order_lineitem_chunks,
        )

        full = stage_order_lineitem_chunks(
            sf_dir, n_chunks=3, delete_mod=7, line_delete_mod=5, update_mod=11
        )
        # incremental replay capturing the served view after each chunk
        incr = tmp_path / "stage"
        incr.mkdir()
        ckpt = str(tmp_path / "ckpt")
        snaps = []
        for i in range(3):
            shutil.copy2(os.path.join(full, f"part-{i}.parquet"), incr / f"part-{i}.parquet")
            q = run_join_ivm_stream(
                spark, sf_dir="", stage_dir=str(incr), name="t_ivmt",
                checkpoint_dir=ckpt, fresh_tables=(i == 0), maintain_agg=False,
            )
            q.processAllAvailable()
            q.stop()
            q.awaitTermination()
            for t in ("t_ivmt_v", "t_ivmt_d", "t_ivmt_ld", "t_ivmt_u"):
                spark.catalog.refreshTable(t)
            snaps.append(sorted(map(tuple, order_wide_view(spark, "t_ivmt").collect())))
        assert snaps[0] != snaps[2]  # deltas actually changed the view
        for e in range(3):
            got = sorted(map(tuple, order_wide_view_asof(spark, e, "t_ivmt").collect()))
            assert got == snaps[e], f"asof({e}) != stopped replay"

        # fold-watermark refusal: re-run folded, then ask below the watermark
        q = run_join_ivm_stream(
            spark, sf_dir="", stage_dir=full, name="t_ivmt2",
            fold_every=2, refold_width=2, maintain_agg=False,
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        spark.catalog.refreshTable("t_ivmt2_v")
        with pytest.raises(ValueError, match="fold watermark"):
            order_wide_view_asof(spark, 0, "t_ivmt2")
        # at/above the watermark it still answers, identically to live
        live = sorted(map(tuple, order_wide_view(spark, "t_ivmt2").collect()))
        assert sorted(map(tuple, order_wide_view_asof(spark, 2, "t_ivmt2").collect())) == live

    def test_cascade_fires_and_bounds_partitions(self, spark, sf_dir):
        """The gated-cascade configuration (8 chunks, fold_every=2,
        refold_width=2) drives `_refold_bases` inside the replay: the
        view table ends with a TIER-2 base (epoch < -TIER_OFF), at most
        4 live partitions per state table, and the served view equals
        the batch join across the three-level layout."""
        from gmall_flink_200621_spark.streaming.ingest import (
            TIER_OFF,
            _partition_epochs,
            order_wide_view,
            run_join_ivm_stream,
        )

        q = run_join_ivm_stream(
            spark, sf_dir, name="t_ivmcas", n_chunks=8, fold_every=2, refold_width=2,
            maintain_agg=False,
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        for t in ("t_ivmcas_v", "t_ivmcas_o", "t_ivmcas_l"):
            spark.catalog.refreshTable(t)
            eps = _partition_epochs(spark, t)
            assert any(e < -TIER_OFF for e in eps), (t, eps)  # tier-2 base exists
            # tier-2 base + tier-1 base + positive epochs 6, 7
            assert len(eps) <= 4, (t, sorted(eps))
        got = sorted(map(tuple, order_wide_view(spark, "t_ivmcas").collect()))
        want = sorted(map(tuple, self._batch_join(spark, sf_dir).collect()))
        assert got == want

    def test_purge_crash_between_drop_and_rewrite(self, spark, sf_dir):
        """Crash-sim for the purge's two phases (r09 verdict item 8):
        after the DROP of fully-dead partitions but BEFORE the rewrite of
        partially-dead ones, the served view must already be
        read-identical (tombstone anti-joins don't need the purged
        bytes); re-running purge from that state completes the rewrite
        and stays read-identical and idempotent."""
        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.streaming import epochs
        from gmall_flink_200621_spark.streaming.ingest import (
            order_wide_view,
            purge_tombstoned_rows,
            run_join_ivm_stream,
            stage_order_lineitem_chunks,
        )

        stage = stage_order_lineitem_chunks(sf_dir, n_chunks=3, delete_mod=7)
        q = run_join_ivm_stream(spark, sf_dir="", stage_dir=stage, name="t_ivmpc")
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        for t in ("t_ivmpc_v", "t_ivmpc_d"):
            spark.catalog.refreshTable(t)
        before = sorted(map(tuple, order_wide_view(spark, "t_ivmpc").collect()))
        assert before

        # phase 1 alone (the crash point): drop every fully-dead positive
        # partition exactly as purge_tombstoned_rows computes them
        live = epochs.live(spark, "t_ivmpc_v")
        dead = epochs.live(spark, "t_ivmpc_d").drop("epoch").distinct()
        counts = (
            live.join(dead, "o_orderkey", "left_semi")
            .groupBy("epoch")
            .agg(F.count(F.lit(1)).alias("n_dead"))
            .join(live.groupBy("epoch").agg(F.count(F.lit(1)).alias("n_all")), "epoch")
            .collect()
        )
        full_dead = [r.epoch for r in counts if r.n_dead == r.n_all and r.epoch >= 0]
        partial = [r.epoch for r in counts if 0 < r.n_dead < r.n_all]
        assert partial, "staging must leave partially-dead partitions to rewrite"
        for e in full_dead:
            spark.sql(f"ALTER TABLE t_ivmpc_v DROP IF EXISTS PARTITION (epoch={e})")
        spark.catalog.refreshTable("t_ivmpc_v")
        # crashed-mid-purge state: served view identical
        assert sorted(map(tuple, order_wide_view(spark, "t_ivmpc").collect())) == before

        # resume: completes the rewrites, still identical, then drains
        n = purge_tombstoned_rows(spark, "t_ivmpc")
        assert n == len(partial)
        assert sorted(map(tuple, order_wide_view(spark, "t_ivmpc").collect())) == before
        live2 = epochs.live(spark, "t_ivmpc_v")
        assert live2.filter(F.col("o_orderkey") % 7 == 0).count() == 0
        assert purge_tombstoned_rows(spark, "t_ivmpc") == 0


class TestSq8IndexStream:
    def test_freeze_clamp_and_search(self, spark, sf_dir, tmp_path):
        """The SQ8 index's freeze contract observed: (1) the stats row is
        written once (file mtime unchanged by later epochs); (2) a later
        chunk with PLANTED out-of-range vectors saturates to the trained
        range bounds (the clamp is load-bearing, not decorative) without
        erroring; (3) search over the maintained codes returns exactly k
        ranked neighbors per query with dequantized candidates inside the
        trained ranges."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq_

        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.operators.similarity import _idot, quantize
        from gmall_flink_200621_spark.sources.loaders import load_table
        from gmall_flink_200621_spark.streaming import epochs
        from gmall_flink_200621_spark.streaming.ingest import (
            run_sq8_index_stream,
            sq8_index_search,
            stage_embedding_chunks,
        )

        # stage normal chunks, then append one chunk of 4× out-of-range
        # vectors (components beyond any trained min/max)
        stage = stage_embedding_chunks(sf_dir, n_chunks=2)
        src = pq_.read_table(f"{sf_dir}/embeddings.parquet")
        big = src.to_pandas().head(50)
        big["vec_id"] = big["vec_id"] + 10_000_000
        big["embedding"] = big["embedding"].map(lambda v: [4.0 * float(x) for x in v])
        path = os.path.join(stage, "part-zz-outofrange.parquet")
        # keep the staged element type (list<float32>), not pandas float64
        pq_.write_table(
            pa.Table.from_pandas(big, preserve_index=False).cast(src.schema), path
        )
        mt = os.path.getmtime(os.path.join(stage, "part-1.parquet"))
        os.utime(path, (mt + 10, mt + 10))

        # run the FIRST chunk alone so the frozen stats' mtime can be
        # captured before later epochs arrive (checkpointed resume)
        import shutil

        incr = tmp_path / "stage"
        incr.mkdir()
        ckpt = str(tmp_path / "ckpt")
        chunks = sorted(os.listdir(stage))
        shutil.copy2(os.path.join(stage, chunks[0]), incr / chunks[0])
        q = run_sq8_index_stream(
            spark, sf_dir="", stage_dir=str(incr), name="t_sq8i", checkpoint_dir=ckpt
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        stats_dir = os.path.join(wh, "t_sq8i_stats")
        mt_stats = max(
            os.path.getmtime(os.path.join(stats_dir, f)) for f in os.listdir(stats_dir)
        )
        for f in chunks[1:]:
            shutil.copy2(os.path.join(stage, f), incr / f)
        q = run_sq8_index_stream(
            spark,
            sf_dir="",
            stage_dir=str(incr),
            name="t_sq8i",
            checkpoint_dir=ckpt,
            fresh_tables=False,
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        for t in ("t_sq8i_stats", "t_sq8i_codes"):
            spark.catalog.refreshTable(t)

        # FROZEN: later epochs never rewrote the quantizer
        assert (
            max(
                os.path.getmtime(os.path.join(stats_dir, f))
                for f in os.listdir(stats_dir)
            )
            == mt_stats
        )
        stats = spark.table("t_sq8i_stats").collect()[0]
        hi = [m + s for m, s in zip(stats.mn, stats.step)]

        codes = epochs.live(spark, "t_sq8i_codes")
        planted = codes.filter(F.col("vec_id") >= 10_000_000)
        assert planted.count() == 50
        # every dequantized component within [mn, mn+step]; the planted
        # 4× vectors must SATURATE at a bound on ≥1 component each
        mnlit = F.array(*[F.lit(int(m)).cast("long") for m in stats.mn])
        hilit = F.array(*[F.lit(int(h)).cast("long") for h in hi])
        checked = codes.withColumn(
            "bad",
            F.exists(
                F.zip_with("xh", mnlit, lambda x, m: x < m), lambda b: b
            )
            | F.exists(F.zip_with("xh", hilit, lambda x, h: x > h), lambda b: b),
        )
        assert checked.filter("bad").count() == 0
        saturated = planted.withColumn(
            "sat",
            F.exists(
                F.zip_with("xh", hilit, lambda x, h: x == h), lambda b: b
            )
            | F.exists(F.zip_with("xh", mnlit, lambda x, m: x == m), lambda b: b),
        )
        assert saturated.filter("sat").count() == 50

        emb = load_table(spark, sf_dir, "embeddings")
        e = emb.select("vec_id", quantize(F.col("embedding")).alias("q"))
        qs = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).filter(
            F.col("vec_id") % 100 == 0
        )
        out = sq8_index_search(spark, qs, "t_sq8i")
        n_q = qs.count()
        assert out.count() == 5 * n_q
        assert out.groupBy("query_id").count().filter("count != 5").count() == 0


class TestBm25IndexStream:
    def test_index_search_equals_batch_on_novel_query(self, spark, sf_dir):
        """The maintained inverted index must serve ANY query, not just
        the gated demo one: build the index by 4-chunk replay (folds
        on), then search a different term set and compare bit-for-bit
        against the batch operator scanning the corpus directly. Also
        pins the full-vocabulary property — postings exist for terms no
        query has asked for yet."""
        from gmall_flink_200621_spark.operators.textops import bm25_search
        from gmall_flink_200621_spark.sources.loaders import load_table
        from gmall_flink_200621_spark.streaming.ingest import (
            bm25_index_search,
            run_bm25_index_stream,
        )

        q = run_bm25_index_stream(
            spark, sf_dir, name="t_bmidx", n_chunks=4, fold_every=2, refold_width=2
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        for t in ("t_bmidx_post", "t_bmidx_dl", "t_bmidx_st"):
            spark.catalog.refreshTable(t)
        terms = ("data", "query", "stream")
        got = sorted(
            map(tuple, bm25_index_search(spark, "t_bmidx", query_terms=terms).collect())
        )
        want = sorted(
            map(
                tuple,
                bm25_search(load_table(spark, sf_dir, "documents"), query_terms=terms).collect(),
            )
        )
        assert got == want and len(got) > 0
        # full-vocab postings: strictly more distinct terms indexed than
        # any single query touches
        n_terms = spark.table("t_bmidx_post").select("term").distinct().count()
        assert n_terms > len(terms)

    def test_purge_physically_removes_dead_docs(self, spark, sf_dir):
        """After the CDC replay + purge, the RAW postings/length tables
        hold no tombstoned doc's rows (served results already pinned
        identical by the purged gate's shared oracle), and a second
        purge is a no-op."""
        from gmall_flink_200621_spark.streaming.ingest import (
            purge_bm25_index,
            run_bm25_index_stream,
        )

        q = run_bm25_index_stream(
            spark, sf_dir, name="t_bmpg", n_chunks=3, fold_every=2,
            refold_width=2, cdc=True,
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        for t in ("t_bmpg_post", "t_bmpg_dl", "t_bmpg_del"):
            spark.catalog.refreshTable(t)
        assert purge_bm25_index(spark, "t_bmpg") >= 1
        dead = {r.doc_id for r in spark.table("t_bmpg_del").select("doc_id").collect()}
        assert dead  # the feed really planted deletes
        for t in ("t_bmpg_post", "t_bmpg_dl"):
            n = (
                spark.table(t)
                .filter(spark.table(t).doc_id.isin(*[int(d) for d in dead]))
                .count()
            )
            assert n == 0, t
        assert purge_bm25_index(spark, "t_bmpg") == 0


class TestWindowAggStream:
    """The windowed-agg MV with a retention horizon: maintenance partials,
    data-time expiry (metadata drops for whole-old epochs, in-place
    rewrites for bases), and the read-side rollup."""

    RET = 7 * 86400

    def _oracle(self, duck):
        from gmall_flink_200621_spark.plans.training_oracle import HOT_ITEMS_MV

        return sorted(map(tuple, duck.sql(HOT_ITEMS_MV).fetchall()))

    def _replay(self, spark, sf_dir, name, **kw):
        from gmall_flink_200621_spark.streaming.ingest import run_window_agg_stream

        q = run_window_agg_stream(spark, sf_dir, name=name, **kw)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        spark.catalog.refreshTable(f"{name}_buckets")

    def test_view_matches_oracle_and_expiry_preserves_it(self, spark, sf_dir, duck):
        """Unfolded replay: the served view equals the batch oracle, the
        physical expiry drops whole expired arrival epochs as METADATA
        (epoch=0 partition gone, no rewrite of survivors), leaves zero
        live rows below the cutoff, and the view is identical before and
        after GC (correctness never depends on GC having run)."""
        from gmall_flink_200621_spark.streaming import epochs
        from gmall_flink_200621_spark.streaming.ingest import (
            _wagg_cutoff,
            expire_window_buckets,
            hot_window_view,
        )
        from pyspark.sql import functions as F

        self._replay(spark, sf_dir, "t_wagg", n_chunks=3)
        before = sorted(map(tuple, hot_window_view(spark, "t_wagg", self.RET).collect()))
        assert before == self._oracle(duck) and len(before) > 0

        cutoff = _wagg_cutoff(spark, "t_wagg", self.RET)
        parts0 = {r[0] for r in spark.sql("SHOW PARTITIONS t_wagg_buckets").collect()}
        assert "epoch=0" in parts0  # 3 in-order chunks over 30 days: chunk 0 is all-expired
        touched = expire_window_buckets(spark, "t_wagg", self.RET)
        assert touched >= 1
        parts1 = {r[0] for r in spark.sql("SHOW PARTITIONS t_wagg_buckets").collect()}
        assert "epoch=0" not in parts1

        live = epochs.live(spark, "t_wagg_buckets")
        assert live.filter(F.col("bucket_end") <= F.lit(cutoff)).count() == 0
        after = sorted(map(tuple, hot_window_view(spark, "t_wagg", self.RET).collect()))
        assert after == before
        # idempotent: nothing left to expire
        assert expire_window_buckets(spark, "t_wagg", self.RET) == 0

    def test_folded_replay_rewrites_bases_never_drops(self, spark, sf_dir, duck):
        """fold_every=1 + refold_width=2 routes every epoch through the
        tiered fold before GC: expiry must REWRITE live bases in place
        (a dropped base would rewind the fold watermark), the view still
        equals the oracle, and state physically sheds expired buckets."""
        from gmall_flink_200621_spark.streaming import epochs
        from gmall_flink_200621_spark.streaming.ingest import (
            _wagg_cutoff,
            expire_window_buckets,
            hot_window_view,
        )
        from pyspark.sql import functions as F

        self._replay(spark, sf_dir, "t_waggf", n_chunks=3, fold_every=1, refold_width=2)
        neg0 = [
            p[0] for p in spark.sql("SHOW PARTITIONS t_waggf_buckets").collect()
            if int(p[0].split("=")[1]) < 0
        ]
        assert neg0  # the fold actually ran
        assert expire_window_buckets(spark, "t_waggf", self.RET) >= 1
        neg1 = [
            p[0] for p in spark.sql("SHOW PARTITIONS t_waggf_buckets").collect()
            if int(p[0].split("=")[1]) < 0
        ]
        assert set(neg1) == set(neg0)  # bases rewritten, never dropped
        cutoff = _wagg_cutoff(spark, "t_waggf", self.RET)
        live = epochs.live(spark, "t_waggf_buckets")
        assert live.filter(F.col("bucket_end") <= F.lit(cutoff)).count() == 0
        got = sorted(map(tuple, hot_window_view(spark, "t_waggf", self.RET).collect()))
        assert got == self._oracle(duck)

    def test_state_bounded_by_retention_not_stream_length(self, spark, sf_dir):
        """The 100 TB claim in miniature: after GC, live state rows are
        exactly the (bucket, item) pairs inside the retention horizon —
        growing the replayed history (3 → 6 chunks over the same data)
        leaves the post-GC state identical."""
        from gmall_flink_200621_spark.streaming import epochs
        from gmall_flink_200621_spark.streaming.ingest import (
            expire_window_buckets,
        )

        def live_state(name, n_chunks):
            self._replay(spark, sf_dir, name, n_chunks=n_chunks, fold_every=2)
            expire_window_buckets(spark, name, self.RET)
            return sorted(
                map(
                    tuple,
                    epochs.live(spark, f"{name}_buckets")
                    .groupBy("bucket_end", "item_k")
                    .agg(F.sum("cnt").alias("cnt"))
                    .collect(),
                )
            )

        from pyspark.sql import functions as F

        assert live_state("t_wagg3", 3) == live_state("t_wagg6", 6)


class TestTopkIvm:
    """The top-K retraction MV: bounded candidate set + eviction bound,
    rebase-on-violation, versioned fold."""

    ORDER_COLS = [
        "side", "o_orderkey", "o_custkey", "o_orderstatus", "l_orderkey",
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
    ]

    def _stage(self, tmp_path, chunks):
        """Write hand-built feed chunks (list of pandas frames in the
        staged-feed schema) with mtimes encoding arrival order."""
        import os as _os

        import pandas as pd
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
        stage = tmp_path / "tkstage"
        stage.mkdir()
        base = None
        for i, pdf in enumerate(chunks):
            p = str(stage / f"part-{i}.parquet")
            pq.write_table(
                pa.Table.from_pandas(pdf[ [f.name for f in schema] ], schema=schema, preserve_index=False), p
            )
            if base is None:
                base = _os.stat(p).st_mtime
            _os.utime(p, (base + i, base + i))
        return str(stage)

    def _replay(self, spark, stage, name, **kw):
        from gmall_flink_200621_spark.streaming.ingest import run_join_ivm_stream

        q = run_join_ivm_stream(
            spark, sf_dir="", stage_dir=stage, name=name, maintain_topk=10, **kw
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        spark.catalog.refreshTable(f"{name}_tk")

    def _feed_frames(self, sf_dir):
        import os as _os

        import numpy as np
        import pandas as pd
        import pyarrow.parquet as pq

        o = pq.read_table(_os.path.join(sf_dir, "orders.parquet")).to_pandas()
        li = pq.read_table(_os.path.join(sf_dir, "lineitem.parquet")).to_pandas()
        oin = pd.DataFrame(
            {
                "side": "O",
                "o_orderkey": o["o_orderkey"],
                "o_custkey": o["o_custkey"],
                "o_orderstatus": o["o_orderstatus"],
                "l_orderkey": np.int64(0),
                "l_linenumber": np.int32(0),
                "l_quantity": 0.0,
                "l_extendedprice": 0.0,
                "l_discount": 0.0,
            }
        )
        lin = pd.DataFrame(
            {
                "side": "L",
                "o_orderkey": np.int64(0),
                "o_custkey": np.int64(0),
                "o_orderstatus": "",
                "l_orderkey": li["l_orderkey"],
                "l_linenumber": li["l_linenumber"].astype("int32"),
                "l_quantity": li["l_quantity"],
                "l_extendedprice": li["l_extendedprice"],
                "l_discount": li["l_discount"],
            }
        )
        return o, li, pd.concat([oin, lin], ignore_index=True)

    def test_insert_only_never_rebases_after_seed(self, spark, sf_dir, duck, tmp_path):
        """Inserts only raise candidate totals: epoch 0 seeds the pool
        (a rebase by construction), every later epoch serves from the
        candidate set alone, and the final top-10 equals the batch rank."""
        import pandas as pd

        o, li, all_rows = self._feed_frames(sf_dir)
        thirds = [
            all_rows[all_rows.index % 3 == i].reset_index(drop=True) for i in range(3)
        ]
        stage = self._stage(tmp_path, thirds)
        self._replay(spark, stage, "t_tki")

        from gmall_flink_200621_spark.streaming.ingest import top_customers_by_rev_view

        flags = {
            (r.epoch, r.rebased)
            for r in spark.table("t_tki_tk").select("epoch", "rebased").distinct().collect()
        }
        assert (0, True) in flags
        assert all(not reb for ep, reb in flags if ep > 0)

        got = sorted(map(tuple, top_customers_by_rev_view(spark, "t_tki", 10).collect()))
        want = sorted(
            map(
                tuple,
                duck.sql(
                    """
            WITH tot AS (
              SELECT o.o_custkey,
                     sum(CAST(round(l.l_extendedprice * (1 - l.l_discount), 6)
                              AS DECIMAL(18,6))) AS rev
              FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
              GROUP BY o.o_custkey
            ), ranked AS (
              SELECT o_custkey, CAST(rev AS DOUBLE) AS revenue,
                     CAST(row_number() OVER (ORDER BY rev DESC, o_custkey ASC) AS INT) AS rank
              FROM tot
            ) SELECT o_custkey, revenue, rank FROM ranked WHERE rank <= 10
            """
                ).fetchall(),
            )
        )
        assert got == want

    def test_deleting_every_candidate_forces_rebase(self, spark, sf_dir, duck, tmp_path):
        """The hard case the eviction bound exists for: chunk 1 deletes
        EVERY order of all 40 candidates, sinking the K-th total to the
        bound — the epoch must rebase from the group-grain MV, and the
        served top-10 must equal the batch rank over surviving orders."""
        import pandas as pd

        o, li, all_rows = self._feed_frames(sf_dir)
        stage0 = self._stage(tmp_path, [all_rows])
        self._replay(spark, stage0, "t_tkseed")
        cand = {
            r.o_custkey
            for r in spark.table("t_tkseed_tk").select("o_custkey").collect()
            if r.o_custkey is not None  # drop the version-forward sentinel
        }
        assert len(cand) == 40

        dead_orders = o[o["o_custkey"].isin(cand)]["o_orderkey"]
        dels = pd.DataFrame(
            {
                "side": "O_DEL",
                "o_orderkey": dead_orders,
                "o_custkey": 0,
                "o_orderstatus": "",
                "l_orderkey": 0,
                "l_linenumber": 0,
                "l_quantity": 0.0,
                "l_extendedprice": 0.0,
                "l_discount": 0.0,
            }
        ).astype(all_rows.dtypes.to_dict())
        (tmp_path / "two").mkdir()
        stage = self._stage(tmp_path / "two", [all_rows, dels])
        self._replay(spark, stage, "t_tkreb")

        from gmall_flink_200621_spark.streaming.ingest import top_customers_by_rev_view

        reb1 = (
            spark.table("t_tkreb_tk")
            .filter("epoch = 1 AND rebased")
            .count()
        )
        assert reb1 > 0  # the delete epoch rebased

        ck_list = ",".join(str(k) for k in sorted(cand))
        want = sorted(
            map(
                tuple,
                duck.sql(
                    f"""
            WITH tot AS (
              SELECT o.o_custkey,
                     sum(CAST(round(l.l_extendedprice * (1 - l.l_discount), 6)
                              AS DECIMAL(18,6))) AS rev
              FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
              WHERE o.o_custkey NOT IN ({ck_list})
              GROUP BY o.o_custkey
            ), ranked AS (
              SELECT o_custkey, CAST(rev AS DOUBLE) AS revenue,
                     CAST(row_number() OVER (ORDER BY rev DESC, o_custkey ASC) AS INT) AS rank
              FROM tot
            ) SELECT o_custkey, revenue, rank FROM ranked WHERE rank <= 10
            """
                ).fetchall(),
            )
        )
        got = sorted(map(tuple, top_customers_by_rev_view(spark, "t_tkreb", 10).collect()))
        assert got == want


class TestSessionIvm:
    """Incremental sessionization: interval merge by versioning, any
    arrival order."""

    def _stage_events(self, tmp_path, chunks):
        import os as _os

        import pandas as pd

        stage = tmp_path / "sessstage"
        stage.mkdir()
        base = None
        for i, rows in enumerate(chunks):
            pdf = pd.DataFrame(
                rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
            )
            pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s").astype("datetime64[us]")
            p = str(stage / f"part-{i}.parquet")
            pdf.to_parquet(p, index=False)
            if base is None:
                base = _os.stat(p).st_mtime
            _os.utime(p, (base + i, base + i))
        return str(stage)

    def _replay(self, spark, stage, name, **kw):
        from gmall_flink_200621_spark.streaming.ingest import run_session_ivm_stream

        q = run_session_ivm_stream(spark, sf_dir="", stage_dir=stage, name=name, **kw)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        spark.catalog.refreshTable(f"{name}_sess")

    def test_late_event_bridges_and_merges_sessions(self, spark, tmp_path):
        """Chunk 0 creates two separate sessions (events 3600 s apart);
        chunk 1's late bridging event lands between them, within the gap
        of both — the maintained view must collapse them into ONE
        session of three events (the retract-by-versioning case no
        grow-only window state can express)."""
        from gmall_flink_200621_spark.streaming.ingest import sessions_view

        t0 = 1_700_000_000
        stage = self._stage_events(
            tmp_path,
            [
                [(1, t0, 7, "view", 0.0, "{}"), (2, t0 + 3600, 7, "view", 0.0, "{}")],
                [(3, t0 + 1800, 7, "view", 0.0, "{}")],
            ],
        )
        self._replay(spark, stage, "t_sessbr", gap_s=1800)

        mid = sorted(
            map(
                tuple,
                spark.table("t_sessbr_sess").filter("epoch = 0")
                .select("start_s", "end_s", "n_events").collect(),
            )
        )
        assert mid == [(t0, t0, 1), (t0 + 3600, t0 + 3600, 1)]  # two fragments pre-bridge
        got = sorted(map(tuple, sessions_view(spark, "t_sessbr").collect()))
        assert got == [(7, t0, t0 + 3600, 3)]  # one merged session served

    def test_unordered_replay_matches_batch_sessionize(self, spark, sf_dir, duck):
        """Full out-of-order replay + folds: the served sessions equal
        batch sessionize_native's oracle rows exactly."""
        from gmall_flink_200621_spark.plans.extras import EXTRA_ORACLES, SESSION_GAP_S
        from gmall_flink_200621_spark.streaming.ingest import (
            sessions_view,
            stage_event_chunks_unordered,
        )

        stage = stage_event_chunks_unordered(sf_dir, n_chunks=3)
        self._replay(
            spark, stage, "t_sessuo", gap_s=SESSION_GAP_S, fold_every=2, refold_width=2
        )
        got = sorted(map(tuple, sessions_view(spark, "t_sessuo").collect()))
        want = sorted(map(tuple, duck.sql(EXTRA_ORACLES["sessionize_native"]).fetchall()))
        assert got == want and len(got) > 0


class TestQuantileIvm:
    """Retractable exact-quantile MV: key-only tombstones, refcount
    histogram, zero-net fold drops."""

    def _stage(self, tmp_path, chunks):
        import os as _os

        import pandas as pd

        stage = tmp_path / "qstage"
        stage.mkdir()
        base = None
        for i, rows in enumerate(chunks):
            pdf = pd.DataFrame(rows, columns=["side", "event_id", "ts", "event_type", "value"])
            pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s").astype("datetime64[us]")
            p = str(stage / f"part-{i}.parquet")
            pdf.to_parquet(p, index=False)
            if base is None:
                base = _os.stat(p).st_mtime
            _os.utime(p, (base + i, base + i))
        return str(stage)

    def _replay(self, spark, stage, name, **kw):
        from gmall_flink_200621_spark.streaming.ingest import run_quantile_ivm_stream

        q = run_quantile_ivm_stream(spark, sf_dir="", stage_dir=stage, name=name, **kw)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        for t in ("rows", "hist", "d"):
            spark.catalog.refreshTable(f"{name}_{t}")

    def test_delete_before_insert_and_zero_net_fold(self, spark, tmp_path):
        """A tombstone arriving BEFORE its insert suppresses the late
        insert entirely; an insert-then-delete pair nets to zero and the
        fold physically drops the dead (type, value) pair from the base."""
        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.streaming import epochs
        from gmall_flink_200621_spark.streaming.ingest import (
            value_quantile_view,
        )

        t0 = 1_700_000_000
        stage = self._stage(
            tmp_path,
            [
                # chunk 0: delete for id 5 (insert comes later) + insert id 7
                [("E_DEL", 5, t0, "", 0.0), ("E", 7, t0, "view", 3.21)],
                # chunk 1: late insert id 5 (must never land), survivor id 6,
                # delete id 7 (retracts the 3.21 refcount)
                [("E", 5, t0, "view", 9.99), ("E", 6, t0, "view", 1.0), ("E_DEL", 7, t0, "", 0.0)],
                # chunk 2: one more survivor — its fold (tier cascade at
                # refold_width=2) absorbs epoch 1's −1 into the base
                # holding the +1, where the zero-net pair drops
                [("E", 8, t0, "view", 2.0)],
            ],
        )
        self._replay(spark, stage, "t_qmv", fold_every=1, refold_width=2)

        rows = {
            r.event_id
            for r in epochs.live(spark, "t_qmv_rows").collect()
        }
        # 5 never landed (delete-before-insert); 7's tombstoned row stays
        # on disk until a purge — the HISTOGRAM is what retracts
        assert rows == {6, 7, 8}
        hist = epochs.live(spark, "t_qmv_hist")
        pairs = {(r.event_type, r.value_c, r.c) for r in hist.collect()}
        # fold drops the zero-netted 3.21 pair; 9.99 never entered
        assert pairs == {("view", 100, 1), ("view", 200, 1)}
        got = [tuple(r) for r in value_quantile_view(spark, "t_qmv").collect()]
        assert got == [("view", 1.5, 1.9, 2)]


class TestHeavyHittersStream:
    """Mergeable heavy-hitters sketch: bounds contract and fold-shape
    independence."""

    def _replay(self, spark, sf_dir, name, **kw):
        from gmall_flink_200621_spark.streaming.ingest import run_heavy_hitters_stream

        q = run_heavy_hitters_stream(spark, sf_dir, name=name, **kw)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        spark.catalog.refreshTable(f"{name}_mg")

    def test_bounds_contract_and_fold_independence(self, spark, sf_dir, duck):
        """Every key's true count lies in [c_lb, c_ub]; every key with
        true count above the total error mass is present; and the served
        summary is identical with and without folds (compression is
        per-epoch only — merge is lossless, so fold timing can't move
        the bounds)."""
        from gmall_flink_200621_spark.streaming.ingest import heavy_hitters_view

        self._replay(spark, sf_dir, "t_hhn", n_chunks=3, k=32)
        self._replay(spark, sf_dir, "t_hhf", n_chunks=3, k=32, fold_every=1, refold_width=2)
        plain = sorted(map(tuple, heavy_hitters_view(spark, "t_hhn").collect()))
        folded = sorted(map(tuple, heavy_hitters_view(spark, "t_hhf").collect()))
        assert plain == folded and len(plain) > 0

        truth = dict(
            duck.sql(
                """SELECT CAST(props->>'k' AS INT), count(*) FROM events
                   WHERE event_type = 'view' GROUP BY 1"""
            ).fetchall()
        )
        got = {r[0]: (r[1], r[2]) for r in plain}
        err_mass = next(iter(got.values()))[1] - next(iter(got.values()))[0]
        for k_, (lb, ub) in got.items():
            assert lb <= truth[k_] <= ub, (k_, lb, truth[k_], ub)
        for k_, n in truth.items():
            if n > err_mass:
                assert k_ in got, (k_, n, err_mass)


class TestMvPurges:
    """Physical GC for the quantile rows and session versions: bytes
    change, served results don't; replay inputs survive."""

    def test_quantile_rows_purge(self, spark, sf_dir, duck):
        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.plans.training_oracle import VALUE_QUANTILE_VIEW
        from gmall_flink_200621_spark.streaming import epochs
        from gmall_flink_200621_spark.streaming.ingest import (
            purge_quantile_rows,
            run_quantile_ivm_stream,
            value_quantile_view,
        )

        q = run_quantile_ivm_stream(spark, sf_dir, name="t_qpg", n_chunks=3)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        for t in ("rows", "hist", "d"):
            spark.catalog.refreshTable(f"t_qpg_{t}")
        d_live = epochs.live(spark, "t_qpg_d")
        dead = d_live.select("event_id").distinct()
        n_dead_before = (
            epochs.live(spark, "t_qpg_rows")
            .join(dead, "event_id", "left_semi").count()
        )
        assert n_dead_before > 0
        assert purge_quantile_rows(spark, "t_qpg") > 0
        after = epochs.live(spark, "t_qpg_rows")
        # REPLAY GUARD: rows tombstoned only by the newest (replayable)
        # epoch's deletes survive the purge — they are that epoch's
        # replay inputs; everything committed-dead is physically gone
        newest = max(
            int(r[0].split("=")[1])
            for r in spark.sql("SHOW PARTITIONS t_qpg_d").collect()
            if int(r[0].split("=")[1]) >= 0
        )
        committed_dead = (
            d_live.filter(F.col("epoch") != newest).select("event_id").distinct()
        )
        newest_only_dead = dead.join(committed_dead, "event_id", "left_anti")
        assert after.join(committed_dead, "event_id", "left_semi").count() == 0
        assert (
            after.join(newest_only_dead, "event_id", "left_semi").count()
            == newest_only_dead.join(
                epochs.live(spark, "t_qpg_rows"),
                "event_id", "left_semi",
            ).count()
        )
        got = sorted(map(tuple, value_quantile_view(spark, "t_qpg").collect()))
        want = sorted(map(tuple, duck.sql(VALUE_QUANTILE_VIEW).fetchall()))
        assert got == want
        assert purge_quantile_rows(spark, "t_qpg") == 0  # idempotent

    def test_session_version_purge_keeps_replay_inputs(self, spark, sf_dir, duck):
        from pyspark.sql import functions as F
        from pyspark.sql import Window

        from gmall_flink_200621_spark.plans.extras import EXTRA_ORACLES, SESSION_GAP_S
        from gmall_flink_200621_spark.streaming import epochs
        from gmall_flink_200621_spark.streaming.ingest import (
            purge_superseded_sessions,
            run_session_ivm_stream,
            sessions_view,
            stage_event_chunks_unordered,
        )

        stage = stage_event_chunks_unordered(sf_dir, n_chunks=3)
        q = run_session_ivm_stream(spark, sf_dir="", stage_dir=stage, name="t_spg", gap_s=SESSION_GAP_S)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        spark.catalog.refreshTable("t_spg_sess")

        before = epochs.live(spark, "t_spg_sess").count()
        assert purge_superseded_sessions(spark, "t_spg") > 0
        alive = epochs.live(spark, "t_spg_sess")
        assert alive.count() < before

        # replay-input invariant: for every user, the newest version
        # strictly below the newest epoch (the committed fallback the
        # last epoch's replay reads) is still present
        w = Window.partitionBy("user_id")
        max_e = alive.agg(F.max("ve")).collect()[0][0]
        dead_left = alive.withColumn(
            "_sup", F.max(F.when(F.col("ve") < max_e, F.col("ve"))).over(w)
        ).filter(F.col("ve") < F.col("_sup")).count()
        assert dead_left == 0  # everything purgeable is gone
        got = sorted(map(tuple, sessions_view(spark, "t_spg").collect()))
        want = sorted(map(tuple, duck.sql(EXTRA_ORACLES["sessionize_native"]).fetchall()))
        assert got == want
        assert purge_superseded_sessions(spark, "t_spg") == 0  # idempotent


    def test_topk_group_version_purge_keeps_replay_inputs(self, spark, sf_dir):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.streaming import epochs
        from gmall_flink_200621_spark.streaming.ingest import (
            purge_superseded_topk_groups,
            run_join_ivm_stream,
            stage_order_lineitem_chunks,
            top_customers_by_group_view,
        )

        stage = stage_order_lineitem_chunks(sf_dir, n_chunks=3, delete_mod=7)
        q = run_join_ivm_stream(
            spark, sf_dir="", stage_dir=stage, name="t_tkgp",
            maintain_agg=False, maintain_topk_grouped=5,
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        spark.catalog.refreshTable("t_tkgp_tkg")

        served_before = sorted(
            map(tuple, top_customers_by_group_view(spark, "t_tkgp", k=5).collect())
        )
        before = epochs.live(spark, "t_tkgp_tkg").count()
        assert purge_superseded_topk_groups(spark, "t_tkgp") > 0
        alive = epochs.live(spark, "t_tkgp_tkg")
        assert alive.count() < before

        # replay-input invariant: for every group, the newest version
        # strictly below the newest epoch (the committed fallback the
        # last epoch's replay reads as `prev`) is still present
        w = Window.partitionBy("grp")
        max_e = alive.agg(F.max("ve")).collect()[0][0]
        dead_left = alive.withColumn(
            "_sup", F.max(F.when(F.col("ve") < max_e, F.col("ve"))).over(w)
        ).filter(F.col("ve") < F.col("_sup")).count()
        assert dead_left == 0  # everything purgeable is gone
        served_after = sorted(
            map(tuple, top_customers_by_group_view(spark, "t_tkgp", k=5).collect())
        )
        assert served_after == served_before  # purge changes bytes, not results
        assert purge_superseded_topk_groups(spark, "t_tkgp") == 0  # idempotent


class TestFlatIndexCdc:
    """The flat vector store's delete path: any arrival order, physical
    purge, deleted-query disappearance."""

    def test_deletes_purge_and_deleted_query(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.streaming import epochs
        from gmall_flink_200621_spark.streaming.ingest import (
            flat_index_search,
            purge_flat_index,
            run_flat_index_cdc_stream,
        )

        q = run_flat_index_cdc_stream(spark, sf_dir, name="t_fcdc", n_chunks=4)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        for t in ("vec", "del"):
            spark.catalog.refreshTable(f"t_fcdc_{t}")

        res = flat_index_search(spark, "t_fcdc", k=5)
        bad = res.filter(
            (F.col("query_id") % 9 == 5) | (F.col("neighbor_id") % 9 == 5)
        ).count()
        assert bad == 0  # no deleted vector serves as query OR neighbor
        before = sorted(map(tuple, res.collect()))
        assert len(before) > 0

        # the delete-before-insert case exists in the staging (last
        # chunk's inserts get their tombstone in chunk 0) — those keys
        # must never have entered the store at all
        dead = epochs.live(spark, "t_fcdc_del")
        store = epochs.live(spark, "t_fcdc_vec")
        # delete-after-insert rows remain on disk pre-purge (read-filtered)
        assert store.join(dead.select("vec_id"), "vec_id", "left_semi").count() > 0
        assert purge_flat_index(spark, "t_fcdc") > 0
        store2 = epochs.live(spark, "t_fcdc_vec")
        assert store2.join(dead.select("vec_id"), "vec_id", "left_semi").count() == 0
        after = sorted(map(tuple, flat_index_search(spark, "t_fcdc", k=5).collect()))
        assert after == before  # purge changes bytes, not results
        assert purge_flat_index(spark, "t_fcdc") == 0  # idempotent


class TestTopkGroupedIvm:
    """Grouped top-K: group-local rebase, sentinel versioning, stale-serve
    prevention."""

    def test_group_local_rebase_and_sentinel(self, spark, sf_dir, duck, tmp_path):
        """Chunk 1 deletes EVERY order of one group's candidates (status
        'O'): that group must rebase; the other groups' versions stay at
        epoch 0 (their rankings can't change untouched); and the final
        per-group top-5 equals the batch rank over survivors."""
        import os as _os

        import pandas as pd
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from gmall_flink_200621_spark.streaming.ingest import (
            run_join_ivm_stream,
            top_customers_by_group_view,
        )

        helper = TestTopkIvm()
        o, li, all_rows = helper._feed_frames(sf_dir)
        stage0 = helper._stage(tmp_path, [all_rows])
        q = run_join_ivm_stream(
            spark, sf_dir="", stage_dir=stage0, name="t_tkgs",
            maintain_agg=False, maintain_topk_grouped=5,
        )
        q.processAllAvailable(); q.stop(); q.awaitTermination()
        spark.catalog.refreshTable("t_tkgs_tkg")
        cand_o = {
            r.o_custkey
            for r in spark.table("t_tkgs_tkg")
            .filter("grp = 'O' AND o_custkey IS NOT NULL").collect()
        }
        assert len(cand_o) == 20  # M = 4K

        dead_orders = o[(o["o_custkey"].isin(cand_o)) & (o["o_orderstatus"] == "O")][
            "o_orderkey"
        ]
        dels = pd.DataFrame(
            {
                "side": "O_DEL", "o_orderkey": dead_orders, "o_custkey": 0,
                "o_orderstatus": "", "l_orderkey": 0, "l_linenumber": 0,
                "l_quantity": 0.0, "l_extendedprice": 0.0, "l_discount": 0.0,
            }
        ).astype(all_rows.dtypes.to_dict())
        (tmp_path / "two").mkdir()
        stage = helper._stage(tmp_path / "two", [all_rows, dels])
        q = run_join_ivm_stream(
            spark, sf_dir="", stage_dir=stage, name="t_tkgr",
            maintain_agg=False, maintain_topk_grouped=5,
        )
        q.processAllAvailable(); q.stop(); q.awaitTermination()
        spark.catalog.refreshTable("t_tkgr_tkg")

        e1 = spark.table("t_tkgr_tkg").filter("epoch = 1")
        assert e1.filter("grp = 'O' AND rebased").count() > 0  # group rebased
        assert e1.filter("grp <> 'O'").count() == 0  # others untouched

        ck_list = ",".join(str(k) for k in sorted(cand_o))
        want = sorted(
            map(
                tuple,
                duck.sql(
                    f"""
            WITH tot AS (
              SELECT o.o_orderstatus, o.o_custkey,
                     sum(CAST(round(l.l_extendedprice * (1 - l.l_discount), 6)
                              AS DECIMAL(18,6))) AS rev
              FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
              WHERE NOT (o.o_custkey IN ({ck_list}) AND o.o_orderstatus = 'O')
              GROUP BY 1, 2
            ), ranked AS (
              SELECT o_orderstatus, o_custkey, CAST(rev AS DOUBLE) AS revenue,
                     CAST(row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY rev DESC, o_custkey ASC) AS INT) AS rank
              FROM tot
            ) SELECT * FROM ranked WHERE rank <= 5
            """
                ).fetchall(),
            )
        )
        got = sorted(
            map(tuple, top_customers_by_group_view(spark, "t_tkgr", 5).collect())
        )
        assert got == want


class TestTopkSentinel:
    def test_all_retracted_epoch_serves_empty_not_stale(self, spark, sf_dir, tmp_path):
        """An epoch that deletes EVERY customer's orders must version the
        candidate set forward to EMPTY — without the sentinel row,
        max(ve) would still point at the pre-retraction set and the view
        would serve stale top-10 forever."""
        import pandas as pd

        from gmall_flink_200621_spark.streaming.ingest import (
            run_join_ivm_stream,
            top_customers_by_rev_view,
        )

        helper = TestTopkIvm()
        o, li, all_rows = helper._feed_frames(sf_dir)
        dels = pd.DataFrame(
            {
                "side": "O_DEL", "o_orderkey": o["o_orderkey"], "o_custkey": 0,
                "o_orderstatus": "", "l_orderkey": 0, "l_linenumber": 0,
                "l_quantity": 0.0, "l_extendedprice": 0.0, "l_discount": 0.0,
            }
        ).astype(all_rows.dtypes.to_dict())
        stage = helper._stage(tmp_path, [all_rows, dels])
        q = run_join_ivm_stream(
            spark, sf_dir="", stage_dir=stage, name="t_tksent", maintain_topk=10
        )
        q.processAllAvailable(); q.stop(); q.awaitTermination()
        spark.catalog.refreshTable("t_tksent_tk")
        assert top_customers_by_rev_view(spark, "t_tksent", 10).count() == 0
