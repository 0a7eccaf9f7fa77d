"""Training-data pipeline queries: `(spark, sf_dir) -> DataFrame` wrappers
around operators/{dedup,similarity,textops}.py over the `documents` and
`embeddings` tables."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import graph as G
from ..operators import similarity as V
from ..operators import textops as T
from ..sources.loaders import load_table
from ..streaming.epochs import drain


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.doc_fingerprints(_docs(spark, sf_dir))


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_exact(_docs(spark, sf_dir))


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_ngram_jaccard(_docs(spark, sf_dir))


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_minhash_lsh(_docs(spark, sf_dir))


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_signatures(_docs(spark, sf_dir))


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_fingerprints(_docs(spark, sf_dir))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_simhash(_docs(spark, sf_dir))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_clusters(_docs(spark, sf_dir))


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_substring(_docs(spark, sf_dir))


def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.doc_stats(_docs(spark, sf_dir))


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.lang_id(_docs(spark, sf_dir))


def rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.rolling_fingerprint(_docs(spark, sf_dir))


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.token_counts(_docs(spark, sf_dir))


def corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data prep pipeline, one query: keep exactly
    the documents that (a) survive exact dedup (lowest doc_id per md5),
    (b) pass the quality gate (score ≥ 0.5), and (c) are confidently
    English by the marker heuristic — emitting the kept docs with their
    stats and token budget.

    FUSED single-scan form: quality, language, and token budget are all
    row-local functions of the token array, so they're computed inline on
    one tokenize — not as three separate scans of `documents` joined back
    on doc_id (the previous shape: 4 scans + 4 shuffles; at 100 TB that's
    3 redundant corpus reads). The only shuffle left is the dedup
    hash-partition on the md5 fingerprint, which doubles as the dedup
    window; rows carry ~40 bytes of computed stats through it, never the
    text. Semantics are pinned to doc_stats/lang_id/token_counts by the
    shared constants and the corpus_prep oracle."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.text import tokens
    from ..operators.partitioning import fan_out
    from ..operators.textops import BPE_CHARS_PER_TOKEN, LANG_MARKERS

    t = fan_out(_docs(spark, sf_dir)).select(
        "doc_id", F.md5("text").alias("fp"), tokens("text").alias("toks")
    )
    t = t.select("doc_id", "fp", "toks", F.array_distinct("toks").alias("utoks"))
    n_tok = F.size("toks")
    quality = F.round(
        0.5 * F.least(F.lit(1.0), n_tok / 100.0) + 0.5 * (F.size("utoks") / n_tok), 6
    )
    bpe = F.aggregate(
        "toks",
        F.lit(0).cast("long"),
        lambda acc, tk: acc
        + F.floor((F.length(tk) + BPE_CHARS_PER_TOKEN - 1) / BPE_CHARS_PER_TOKEN).cast("long"),
    )
    score_cols = {
        lang: F.size(F.array_intersect(F.col("utoks"), F.array(*[F.lit(m) for m in ms])))
        for lang, ms in LANG_MARKERS.items()
    }
    best = F.greatest(*score_cols.values())
    pred = F.lit("unk")
    # reverse-sorted so earlier languages win ties via later when() override
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when((score_cols[lang] == best) & (best > 0), F.lit(lang)).otherwise(pred)
    enriched = t.select(
        "doc_id",
        "fp",
        n_tok.alias("n_tokens"),
        bpe.cast("long").alias("n_bpe_est"),
        quality.alias("quality_score"),
        pred.alias("lang_pred"),
    )
    keep = F.min("doc_id").over(Window.partitionBy("fp"))
    return (
        enriched.withColumn("keep_id", keep)
        .filter(
            (F.col("doc_id") == F.col("keep_id"))
            & (F.col("quality_score") >= 0.5)
            & (F.col("lang_pred") == "en")
        )
        .select("doc_id", "n_tokens", "n_bpe_est", "quality_score")
    )


def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.doc_repetition(_docs(spark, sf_dir))


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_containment(_docs(spark, sf_dir))


def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (source, lang) corpus rollup: doc counts, token/char budgets,
    mean quality. The numbers a data-mixture design reads off before
    sampling weights are chosen. Mean quality is an integer-scaled sum
    divided once at the end — partition-order-independent, unlike a naive
    avg(double); the per-doc scaling is pure integer arithmetic
    (millionths, floored), never a rounded float, so both engines agree
    bit-for-bit: q_scaled = 5000·min(100, n_tokens) + (500000·n_uniq)
    DIV n_tokens."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    stats = T.doc_stats(docs).select(
        "doc_id", "n_tokens", "n_chars_actual", "n_uniq_tokens"
    )
    j = docs.select("doc_id", "source", "lang").join(stats, "doc_id")
    scaled_q = (
        5000 * F.least(F.lit(100), F.col("n_tokens"))
        + F.expr("(500000 * CAST(n_uniq_tokens AS BIGINT)) DIV n_tokens")
    ).cast("long")
    return j.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars_actual").alias("total_chars"),
        (F.sum(scaled_q) / (F.count(F.lit(1)) * F.lit(1e6))).alias("avg_quality"),
    )


def corpus_stats_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAM-MAINTAINED corpus profile under the oracle gate:
    replay documents through `run_corpus_stats_stream` (3 micro-batches
    of per-epoch partial aggregates) and fold the partials — same
    schema, same integer arithmetic, same DuckDB oracle as the batch
    `corpus_profile`, so the driver's hash check certifies the
    incremental-aggregate maintenance loop itself. fold_every=2 routes
    the replay through the partials FOLD, and 6 chunks +
    refold_width=2 pushes it through the SECOND-tier fold too (tier-1
    bases at w=1 and w=3 merge into a tier-2 super-base mid-replay), so
    the LSM base-compaction path — super-base write, absorbed-base GC,
    mixed-tier live read — sits under the same hash gate."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        corpus_stats_view,
        run_corpus_stats_stream,
        stage_document_chunks,
    )

    name = f"q_cstats_{sf_namespace(sf_dir)}"
    stage = stage_document_chunks(sf_dir, 6)
    q = run_corpus_stats_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, f"{name}_partials")
    return corpus_stats_view(spark, name)


def corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible mixture sampling: English docs kept at 30%, everything
    else at 10% — the data-mixture knob, deterministic in (seed, doc_id)
    so the sample is identical on any engine or partitioning (no
    rand()/sampleBy nondeterminism in a corpus definition)."""
    from pyspark.sql import functions as F

    from ..operators.textops import _hash_bucket

    docs = _docs(spark, sf_dir)
    rate = F.when(F.col("lang") == "en", F.lit(300)).otherwise(F.lit(100))
    return docs.filter(_hash_bucket("s0") < rate).select("doc_id", "lang")


def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.corpus_split(_docs(spark, sf_dir))


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.decontaminate(_docs(spark, sf_dir))


def shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.shingle_novelty(_docs(spark, sf_dir))


def top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.top_terms(_docs(spark, sf_dir))


def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.stratified_sample(_docs(spark, sf_dir))


def knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    return V.knn_brute(_emb(spark, sf_dir))


def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return V.knn_lsh(_emb(spark, sf_dir))


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return V.knn_ivf(_emb(spark, sf_dir))


def knn_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a k-means-trained quantizer — see
    operators/similarity.knn_ivf_trained."""
    return V.knn_ivf_trained(_emb(spark, sf_dir))


def knn_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine in the Johnson-Lindenstrauss random-projected space
    (64 → 16 dims) — see operators/similarity.rp_project / knn_rp."""
    return V.knn_rp(_emb(spark, sf_dir))


def knn_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization (8-bit per-dim) ANN with asymmetric distance —
    see operators/similarity.knn_sq8."""
    return V.knn_sq8(_emb(spark, sf_dir))


def knn_ivfsq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 composite (FAISS IndexIVFScalarQuantizer) — see
    operators/similarity.knn_ivfsq8."""
    return V.knn_ivfsq8(_emb(spark, sf_dir))


def knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance (ADC) lookup-
    table scoring over 8-byte codes — see operators/similarity.knn_pq."""
    return V.knn_pq(_emb(spark, sf_dir))


def knn_pq_rotated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ over the integer Walsh-Hadamard rotation (OPQ's train-free
    structured-rotation rung, Ge et al. 2013) — see
    operators/similarity.knn_pq_rotated."""
    return V.knn_pq_rotated(_emb(spark, sf_dir))


def knn_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with residual encoding (FAISS IVFPQ, Jégou 2011 §V.A):
    codes quantize x − c(list) — see operators/similarity."""
    return V.knn_ivfpq_residual(_emb(spark, sf_dir))


def knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: inverted-list candidate pruning + ADC scoring over 8-byte
    codes — see operators/similarity.knn_ivfpq."""
    return V.knn_ivfpq(_emb(spark, sf_dir))


def knn_brute_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact FILTERED vector search — per-query top-k restricted to
    same-label corpus rows (pre-filter strategy, recall 1 over the
    eligible set). See operators/similarity.knn_brute_filtered."""
    return V.knn_brute_filtered(_emb(spark, sf_dir))


def knn_ivfsq8_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered search on the SQ8 compressed rung: label predicate in-scan
    on the IVF-SQ8 asymmetric-distance path, probes widened.
    See operators/similarity.knn_ivfsq8_filtered."""
    return V.knn_ivfsq8_filtered(_emb(spark, sf_dir))


def knn_ivfpq_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered search on the compressed rung: label predicate in-scan on
    the IVF-PQ ADC path, probes widened for the predicate's selectivity.
    See operators/similarity.knn_ivfpq_filtered."""
    return V.knn_ivfpq_filtered(_emb(spark, sf_dir))


def knn_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered IVF search — label predicate applied inside the probed
    lists (FAISS IDSelector-during-scan), probe width raised for the
    predicate's selectivity. See operators/similarity.knn_ivf_filtered."""
    return V.knn_ivf_filtered(_emb(spark, sf_dir))


def knn_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH (Lv et al. 2007): per band, also probe the
    buckets reached by flipping the lowest-|projection| sign bits —
    recall lift at fixed index memory. See
    operators/similarity.knn_lsh_multiprobe."""
    return V.knn_lsh_multiprobe(_emb(spark, sf_dir))


def knn_ivfpq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ + exact re-rank of the ADC top-C shortlist (FAISS
    IndexRefineFlat) — see operators/similarity.knn_ivfpq_refine."""
    return V.knn_ivfpq_refine(_emb(spark, sf_dir))


def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return V.knn_graph(_emb(spark, sf_dir))


def label_propagation_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label spreading over the corpus k-NN graph with
    1-in-LP_SEED_MOD ground-truth seeds — see
    operators/graph.label_propagation."""
    emb = _emb(spark, sf_dir)
    edges = V.knn_graph(emb).select("src_id", "nbr_id")
    return G.label_propagation(edges, emb.select("vec_id", "label"))


def components_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the corpus k-NN graph — the same
    hop+pointer-jump min-label machinery as dedup_clusters
    (operators/dedup.py), instantiated on similarity edges instead of
    near-duplicate pairs: one CC operator, two surfaces. Component ids
    are the min vec_id per component; singletons map to themselves."""
    emb = _emb(spark, sf_dir)
    edges = V.knn_graph(emb).select("src_id", "nbr_id")
    verts = emb.select(F.col("vec_id").alias("doc_id"), F.lit("").alias("text"))
    pairs = edges.select(F.col("src_id").alias("id_a"), F.col("nbr_id").alias("id_b"))
    out = D.dedup_clusters(verts, pairs=pairs)
    return out.select(
        F.col("doc_id").alias("vertex_id"), F.col("canonical_id").alias("component_id")
    )


def knn_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count / clustering coefficient over the corpus k-NN graph
    — see operators/graph.triangle_count."""
    emb = _emb(spark, sf_dir)
    edges = V.knn_graph(emb).select("src_id", "nbr_id")
    return G.triangle_count(edges, emb.select("vec_id"))


def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding data-quality audit: histogram of squared-norm MAGNITUDE
    (bucket = bit_length of the fixed-point ∑q², the integer-exact
    floor(log2) trick from skew_audit) with per-bucket counts and exact
    min/max. Catches the three classic vector-corpus defects before any
    ANN/clustering run — zero vectors (bucket 0), truncated/half-written
    vectors (low-magnitude outlier buckets), and unnormalized mixtures
    (mass in >1 bucket when the corpus claims unit norm). All integer:
    no sqrt, no float mean, partition-order independent."""
    from ..operators.similarity import _idot, quantize

    e = _emb(spark, sf_dir).select(
        "vec_id", _idot(quantize(F.col("embedding")), quantize(F.col("embedding"))).alias("n2")
    )
    return (
        e.withColumn("bucket", (F.length(F.bin("n2")) - 1).cast("int"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("n2").alias("min_n2"),
            F.max("n2").alias("max_n2"),
        )
    )


def source_minhash_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-merged set ops between sources — see
    operators/dedup.source_minhash_setops."""
    from ..operators.dedup import source_minhash_setops as _op

    return _op(_docs(spark, sf_dir))


def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation report: per-source duplication statistics — docs, unique
    texts, within-source duplicate count/rate, and how many of the
    source's distinct texts ALSO appear in at least one other source
    (the cross-source contamination count). The summary every corpus
    build publishes next to its dedup pass. Shape: one (source, fp)
    collapse (the only doc-cardinality shuffle — ~40-byte rows), a
    fp-keyed source-count frame for the shared flag, two tiny re-aggs."""
    d = _docs(spark, sf_dir).select("source", F.md5("text").alias("fp"))
    per = d.groupBy("source", "fp").agg(F.count(F.lit(1)).alias("n"))
    fp_sources = per.groupBy("fp").agg(F.count(F.lit(1)).alias("n_sources"))
    joined = per.join(fp_sources, "fp")
    return joined.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        F.sum(F.col("n") - 1).alias("n_dup_docs"),
        (F.sum(F.col("n") - 1) / F.sum("n")).alias("dup_rate"),
        F.count(F.when(F.col("n_sources") > 1, F.lit(1))).alias("n_shared_fps"),
    )


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents for the fixed demo query by BM25 — see
    operators/textops.bm25_search."""
    return T.bm25_search(_docs(spark, sf_dir))


RRF_K = 60  # the standard reciprocal-rank-fusion constant
RRF_QUERY_VEC = 0  # vec_id of the demo query vector
RRF_SEM_K = 100  # semantic candidate-list depth
RRF_TOPK = 20


def rrf_fuse(lex: DataFrame, cand: DataFrame, score: str) -> DataFrame:
    """The reciprocal-rank fusion tail every hybrid search shares: the
    semantic list is `cand`'s (vec_id, `score`) rows pruned to the top
    RRF_SEM_K with orderBy().limit() (TakeOrderedAndProject — a
    per-partition top-K then a K-row merge) and ranked by `score`, ties
    by vec_id; it full-outer-joins the lexical (doc_id, r_lex) list on
    doc_id = vec_id; rrf = 1/(K+r_lex) + 1/(K+r_sem), an absent rank
    contributing 0; the top RRF_TOPK are ranked by rrf, ties by doc_id.
    Both rank windows run over limit-bounded frames only."""
    from pyspark.sql import Window

    wsem = Window.orderBy(F.desc(score), F.asc("vec_id"))
    sem = (
        cand.orderBy(F.desc(score), F.asc("vec_id"))
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
        .select("doc_id", "r_lex", "r_sem", "rrf", F.col("rank").cast("int").alias("rank"))
    )


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the LEXICAL top list (bm25_search, fixed
    term query) with a SEMANTIC top list (exact cosine of each doc's
    embedding to the demo query vector, vec_id == doc_id, depth
    RRF_SEM_K) by reciprocal-rank fusion over the UNION of candidates:
    rrf = 1/(K+r_lex) + 1/(K+r_sem), an absent rank contributing 0 —
    the industry-standard fusion that needs no score calibration
    between retrievers.

    Determinism: ranks are integers and the fused score is a fixed
    two-term sum of exact-rational doubles — no order-dependent float
    aggregation anywhere. Scale shape: ONE broadcast query vector (the
    knn_brute query-subset posture); the semantic top list is pruned
    with orderBy().limit(RRF_SEM_K) — TakeOrderedAndProject, a
    per-partition top-K then a K-row merge, never an all-N
    single-partition Window — and the rank window runs only over that
    ≤RRF_SEM_K-row bounded frame; fusion is a full-outer join of two
    candidate lists of ≤ RRF_SEM_K rows, its final rank window equally
    limit-bounded (`rrf_fuse`)."""
    from ..operators.similarity import _idot, quantize

    docs = _docs(spark, sf_dir)
    lex = T.bm25_search(docs).select("doc_id", F.col("rank").alias("r_lex"))
    e = _emb(spark, sf_dir).select("vec_id", quantize(F.col("embedding")).alias("q"))
    e = e.withColumn("n2", _idot(F.col("q"), F.col("q")))
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
                / (F.sqrt(F.col("n2").cast("double")) * F.sqrt(F.col("qn2").cast("double")))
            ).alias("cosine"),
        )
    )
    return rrf_fuse(lex, cos, "cosine")


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer-fertility audit: how many subword tokens a
    word costs in each (predicted) language — the number that drives
    per-language token-budget and vocabulary-allocation decisions
    (high-fertility languages burn budget). fertility = Σ bpe_est /
    Σ ws_tokens and pieces_per_word = Σ pre-tok pieces / Σ ws_tokens,
    aggregated from the pinned `token_counts` estimates grouped by the
    pinned `lang_id` prediction.

    Scale shape: two row-local per-doc frames (each one scan) joined on
    doc_id — the join carries ~30-byte stat rows, never text — then a
    |languages|-row aggregate. Integer sums; the two divisions convert
    exact integers identically in both engines."""
    docs = _docs(spark, sf_dir)
    j = T.token_counts(docs).join(T.lang_id(docs), "doc_id")
    return j.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_ws_tokens").alias("ws_tokens"),
        F.sum("n_bpe_est").alias("bpe_tokens"),
        F.sum(F.col("n_pieces").cast("long")).alias("pieces"),
        (F.sum("n_bpe_est") / F.sum("n_ws_tokens")).alias("fertility"),
        (F.sum(F.col("n_pieces").cast("long")) / F.sum("n_ws_tokens")).alias(
            "pieces_per_word"
        ),
    )


def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation surface: the (true lang × predicted lang)
    confusion matrix for the marker-stopword lang_id, with each cell's
    share of its true-language row — the per-class recall diagonal. One
    join of two doc-keyed frames + a 25-cell aggregate; the share is the
    only non-integer and divides two exact counts."""
    docs = _docs(spark, sf_dir)
    from pyspark.sql import Window

    preds = T.lang_id(docs)
    cm = (
        docs.select("doc_id", "lang")
        .join(preds, "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang")
    return cm.select(
        "lang",
        "lang_pred",
        "n",
        (F.col("n") / F.sum("n").over(w)).alias("share_of_lang"),
    )


def perceptron_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed batch-perceptron training + scoring — see
    operators/classifier.perceptron_lang."""
    from ..operators.classifier import perceptron_lang as _p

    return _p(_docs(spark, sf_dir))


def pagerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the corpus k-NN graph: edges from
    knn_graph (banded sign-LSH candidates, exact top-k), vertices = every
    embedding. Fixed-point integer ranks — see operators/graph.pagerank."""
    emb = _emb(spark, sf_dir)
    edges = V.knn_graph(emb).select("src_id", "nbr_id")
    return G.pagerank(edges, emb.select("vec_id"))


def embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return V.embedding_dedup(_emb(spark, sf_dir))


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return V.embedding_centroids(_emb(spark, sf_dir))


def bigram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.bigram_stats(_docs(spark, sf_dir))


def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return V.kmeans_embeddings(_emb(spark, sf_dir))


def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return V.semdedup(_emb(spark, sf_dir))


def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.sequence_pack(_docs(spark, sf_dir))


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.doc_chunks(_docs(spark, sf_dir))


def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.corpus_mixture(_docs(spark, sf_dir))


def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (τ=2) source sampling — see
    operators/textops.mixture_temperature."""
    return T.mixture_temperature(_docs(spark, sf_dir))


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.pii_scrub(_docs(spark, sf_dir))


def quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.quality_gopher(_docs(spark, sf_dir))


def importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.importance_weights(_docs(spark, sf_dir))


def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    return V.hard_negatives(_emb(spark, sf_dir))


def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.perplexity_buckets(_docs(spark, sf_dir))


def tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.tfidf_terms(_docs(spark, sf_dir))


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return V.embedding_quantize(_emb(spark, sf_dir))


def contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.contamination_matrix(_docs(spark, sf_dir))


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.weighted_sample(_docs(spark, sf_dir))


def dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_eval(_docs(spark, sf_dir))


def term_counts_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.frequency import term_counts_cms as _cms

    return _cms(_docs(spark, sf_dir))


def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.split_leakage_audit(_docs(spark, sf_dir))


def cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.cluster_aware_split(_docs(spark, sf_dir))


def boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.boilerplate_scrub(_docs(spark, sf_dir))


def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.bigram_lm_score(_docs(spark, sf_dir))


def sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.sparse_cosine_pairs(_docs(spark, sf_dir))


def duplicate_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.duplicate_cluster_sizes(_docs(spark, sf_dir))


def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.token_entropy(_docs(spark, sf_dir))


def source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.source_divergence(_docs(spark, sf_dir))


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no oracle_sql entry BY DESIGN: each round's argmax feeds the next
    # round's input — the non-SQL-expressible iterative class (driver
    # records rows-only; exactness is pinned merge-for-merge against a
    # pure-Python reference in tests/test_operators.py::TestBpe)
    from ..operators.bpe import bpe_merges as _bpe

    return _bpe(_docs(spark, sf_dir))


def unigram_lm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only like bpe_merges (EM: each round's fitted distribution
    # weights the next round's lattice — the non-SQL-expressible
    # iterative class); exactness pinned piece-for-piece against a pure-
    # Python quantized-EM reference in tests TestUnigramLm
    from ..operators.unigram import unigram_lm_vocab as _uni

    return _uni(_docs(spark, sf_dir))


def wordpiece_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only like bpe_merges (same non-SQL-expressible iterative
    # class: each round's likelihood argmax depends on the previous
    # merges' recounts); exactness pinned merge-for-merge against a
    # pure-Python reference in tests TestWordPiece
    from ..operators.wordpiece import wordpiece_vocab as _wp

    return _wp(_docs(spark, sf_dir))


# per-user scoping: /tmp is world-writable and shared — another user
# pre-owning a fixed path would break os.makedirs/os.replace, and two
# users' stale files would union into each other's oracle vocab CTEs
ORACLE_SIDECAR_DIR = os.path.join(
    tempfile.gettempdir(), f"spark_graft_oracle_vocab_{os.getuid()}"
)
# corpus content fingerprint: Σ per-doc int(md5(text)[:15 hex], 16),
# folded mod 2^62 so it stores in one int64 column — DuckDB computes the
# identical value from its own `documents` view (md5 + hex cast), so a
# (n_docs, n_chars) collision between different corpora can no longer
# union both matching sidecar files into the oracle's vocab CTE
SIDECAR_FP_MOD = 1 << 62


def _corpus_fp(texts) -> int:
    import hashlib

    return (
        sum(
            int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
            for t in texts
            if t is not None
        )
        % SIDECAR_FP_MOD
    )


def _write_oracle_sidecar(kind: str, sf_dir: str, cols: dict[str, list]) -> None:
    """Write a trained vocabulary as ORACLE INPUT DATA — the gate design
    for operators whose TRAINED artifact isn't SQL-derivable but whose
    consuming step is: the Spark query (which the gate always runs
    FIRST) writes the vocab to a per-SF parquet, and the DuckDB oracle
    reads it back with a glob filtered on (doc count, total text chars,
    corpus content hash) — a fingerprint the oracle derives from its
    OWN views (doc count alone collides: sf0.001 and sf0.01 both carry
    500 documents; the md5-sum term pins the CONTENT, not just the
    shape), so concurrent verifies at different SFs each read their own
    file. Writes are tempfile + os.replace (atomic on POSIX) and the
    content is a deterministic function of the SF, so a same-SF race is
    byte-identical either way. The dir is per-user (see
    ORACLE_SIDECAR_DIR) — stale files from other users can't interfere
    or accumulate into the glob."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs_t = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["text"]
    )
    n_docs = docs_t.num_rows
    import pyarrow.compute as pc

    n_chars = int(pc.sum(pc.utf8_length(docs_t.column("text"))).as_py() or 0)
    n_fp = _corpus_fp(docs_t.column("text").to_pylist())
    os.makedirs(ORACLE_SIDECAR_DIR, exist_ok=True)
    n = len(next(iter(cols.values())))
    table = pa.table(
        {
            **cols,
            "n_docs": pa.array([n_docs] * n, pa.int64()),
            "n_chars": pa.array([n_chars] * n, pa.int64()),
            "n_fp": pa.array([n_fp] * n, pa.int64()),
        }
    )
    fd, tmp = tempfile.mkstemp(suffix=".tmp", dir=ORACLE_SIDECAR_DIR)
    os.close(fd)
    pq.write_table(table, tmp)
    # the filename carries the FULL fingerprint (docs, chars, content
    # hash) so two corpora colliding on (n_docs, n_chars) — e.g. the
    # driver's sf0.001/sf0.01 pair both at 500 docs — write DISTINCT
    # files and coexist; the oracle's _SIDECAR_MATCH WHERE clause picks
    # the right one out of the glob either way
    os.replace(
        tmp,
        os.path.join(
            ORACLE_SIDECAR_DIR, f"{kind}_{n_docs}_{n_chars}_{n_fp}.parquet"
        ),
    )
    _prune_oracle_sidecars(kind)


# the per-uid dir accumulates one file per (kind, corpus) forever across
# rounds; keep the freshest few per kind — enough for the three test SFs
# plus concurrent verifies — and age the rest out on each write
SIDECAR_KEEP_PER_KIND = 8


def _prune_oracle_sidecars(kind: str) -> None:
    import glob as _glob

    files = _glob.glob(os.path.join(ORACLE_SIDECAR_DIR, f"{kind}_*.parquet"))
    if len(files) <= SIDECAR_KEEP_PER_KIND:
        return
    # sort newest-first by mtime; a file raced away by a concurrent
    # prune is fine to skip
    def _mtime(p: str) -> float:
        try:
            return os.path.getmtime(p)
        except OSError:
            return 0.0

    files.sort(key=_mtime, reverse=True)
    for stale in files[SIDECAR_KEEP_PER_KIND:]:
        try:
            os.remove(stale)
        except OSError:
            pass


def wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HASH-GATED via the vocab-as-input design: the trained vocab is the
    # iterative trainer's product (not SQL-derivable), but the ENCODE
    # step is — so this query writes the trained vocab as an oracle
    # sidecar parquet (`_write_oracle_sidecar`) and WORDPIECE_ENCODE
    # replays the identical greedy longest-match walk (the _freq twin's
    # recursive CTE) over that vocab read back as data. Also pinned
    # token-for-token against a pure-Python reference in TestWordPiece.
    from ..operators.wordpiece import (
        wordpiece_base_vocab,
        wordpiece_encode as _wp_enc,
        wordpiece_vocab as _wp_train,
    )

    docs = _docs(spark, sf_dir)
    vocab = wordpiece_base_vocab(docs) + [r.token for r in _wp_train(docs).collect()]
    _write_oracle_sidecar("wp", sf_dir, {"piece": sorted(set(vocab))})
    return _wp_enc(docs, vocab)


def wordpiece_vocab_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only like wordpiece_vocab; sample exactness + prefix agreement
    # with the full trainer pinned in TestWordPiece
    from ..operators.wordpiece import wordpiece_vocab_sampled as _wp_s

    return _wp_s(_docs(spark, sf_dir), rate_per_mille=500)


def wordpiece_encode_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HASH-GATED twin of wordpiece_encode: the identical greedy
    # longest-match Arrow encoder, run over the closed-form frequency
    # vocabulary (one aggregation — SQL-derivable, unlike the trained
    # vocab), which the DuckDB oracle re-derives and replays with a
    # recursive-CTE greedy walk per distinct word. This certifies the
    # encoder ENGINE (longest-match, '##' continuations, whole-word
    # [UNK]) under the driver hash gate; the trained-vocab entry above
    # stays rows-only because its vocab is the iterative trainer's
    # product.
    from ..operators.wordpiece import (
        wordpiece_encode as _wp_enc,
        wordpiece_freq_vocab,
    )

    docs = _docs(spark, sf_dir)
    return _wp_enc(docs, wordpiece_freq_vocab(docs))


def unigram_encode_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HASH-GATED Viterbi twin: the lattice DP engine (unigram_encode's
    # scale shape) under the INTEGER objective (max Σ piece score, then
    # fewer pieces) over closed-form frequency scores — log-free, so
    # the DuckDB oracle replays the DP exactly as an unrolled per-
    # position max (comb = score·64 + (63 − pieces)). The trained
    # float-prob encoder stays rows-only (EM product + libm log).
    from ..operators.unigram import unigram_encode_freq as _uni_enc, unigram_freq_scores

    docs = _docs(spark, sf_dir)
    return _uni_enc(docs, unigram_freq_scores(docs))


def unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HASH-GATED via the vocab-as-input design (see wordpiece_encode):
    # the EM-trained vocab writes to an oracle sidecar parquet and
    # UNIGRAM_ENCODE replays the float Viterbi as an unrolled DP with
    # DuckDB's ln() — bit-reproducible because both engines run the
    # SAME recurrence (one int→double division per piece, one ln, one
    # add per candidate, max with smallest-split-point tie-break) on the
    # same host libm; the gate would surface any drift. Also pinned
    # against a Python Viterbi in TestUnigramLm; the DP engine is
    # independently certified by unigram_encode_freq's integer twin.
    from ..operators.unigram import (
        unigram_encode as _uni_enc,
        unigram_lm_vocab as _uni_train,
    )

    docs = _docs(spark, sf_dir)
    vocab = [(r.piece, int(r.count_q)) for r in _uni_train(docs).collect()]
    # the DuckDB twin (_unigram_encode_sql) unrolls the Viterbi DP to a
    # fixed depth: 16 word positions × 4-char max piece. A longer word
    # would silently fall back to np=length(w) in the oracle while Spark
    # runs full Viterbi — a confusing hash mismatch instead of a clear
    # cap violation — so check both caps HERE, where they can fail loud.
    # ValueError, not assert: these guards exist to fail LOUD, and
    # assert is stripped under `python -O` — which would silently revert
    # to the confusing-hash-mismatch failure mode they prevent
    max_piece = max(len(p) for p, _ in vocab)
    if max_piece > 4:
        raise ValueError(
            f"unigram vocab piece length {max_piece} exceeds the oracle's "
            f"4-char DP unroll — regenerate _unigram_encode_sql(max_len=...)"
        )
    max_word = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .agg(F.max(F.length("w")))
        .collect()[0][0]
    )
    if max_word is None or max_word > 16:
        raise ValueError(
            f"corpus word length {max_word} exceeds the oracle's 16-position "
            f"DP unroll — regenerate _unigram_encode_sql(max_w=...)"
        )
    _write_oracle_sidecar(
        "uni",
        sf_dir,
        {"piece": [p for p, _ in vocab], "count_q": [c for _, c in vocab]},
    )
    return _uni_enc(docs, vocab)


def bpe_merges_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only like bpe_merges (same non-SQL-expressible iterative class);
    # exactness on the sample + prefix-agreement with the full-corpus
    # trainer are pinned in tests/test_operators.py::TestBpe
    from ..operators.bpe import bpe_merges_sampled as _bpe_s

    return _bpe_s(_docs(spark, sf_dir), rate_per_mille=500)


TRAINING_QUERIES = {
    "kmeans_embeddings": kmeans_embeddings,
    "semdedup": semdedup,
    "sequence_pack": sequence_pack,
    "doc_fingerprint": doc_fingerprint,
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "minhash_signatures": minhash_signatures,
    "simhash_fingerprints": simhash_fingerprints,
    "dedup_simhash": dedup_simhash,
    "dedup_clusters": dedup_clusters,
    "dedup_substring": dedup_substring,
    "doc_stats": doc_stats,
    "lang_id": lang_id,
    "rolling_fingerprint": rolling_fingerprint,
    "token_counts": token_counts,
    "corpus_prep": corpus_prep,
    "doc_repetition": doc_repetition,
    "dedup_containment": dedup_containment,
    "corpus_profile": corpus_profile,
    "corpus_stats_stream_view": corpus_stats_stream_view,
    "corpus_sample": corpus_sample,
    "corpus_split": corpus_split,
    "decontaminate": decontaminate,
    "shingle_novelty": shingle_novelty,
    "top_terms": top_terms,
    "corpus_sample_stratified": corpus_sample_stratified,
    "knn_brute": knn_brute,
    "knn_brute_filtered": knn_brute_filtered,
    "knn_ivf_filtered": knn_ivf_filtered,
    "knn_ivfpq_filtered": knn_ivfpq_filtered,
    "knn_ivfsq8_filtered": knn_ivfsq8_filtered,
    "knn_lsh": knn_lsh,
    "knn_lsh_multiprobe": knn_lsh_multiprobe,
    "knn_ivf": knn_ivf,
    "knn_ivf_trained": knn_ivf_trained,
    "knn_rp": knn_rp,
    "knn_pq": knn_pq,
    "knn_pq_rotated": knn_pq_rotated,
    "knn_sq8": knn_sq8,
    "knn_ivfsq8": knn_ivfsq8,
    "knn_ivfpq": knn_ivfpq,
    "knn_ivfpq_residual": knn_ivfpq_residual,
    "knn_ivfpq_refine": knn_ivfpq_refine,
    "embedding_dedup": embedding_dedup,
    "embedding_centroids": embedding_centroids,
    "bigram_stats": bigram_stats,
    "doc_chunks": doc_chunks,
    "corpus_mixture": corpus_mixture,
    "mixture_temperature": mixture_temperature,
    "pii_scrub": pii_scrub,
    "quality_gopher": quality_gopher,
    "importance_weights": importance_weights,
    "hard_negatives": hard_negatives,
    "perplexity_buckets": perplexity_buckets,
    "tfidf_terms": tfidf_terms,
    "embedding_quantize": embedding_quantize,
    "contamination_matrix": contamination_matrix,
    "weighted_sample": weighted_sample,
    "dedup_eval": dedup_eval,
    "term_counts_cms": term_counts_cms,
    "bpe_merges": bpe_merges,
    "bpe_merges_sampled": bpe_merges_sampled,
    "unigram_lm_vocab": unigram_lm_vocab,
    "wordpiece_vocab": wordpiece_vocab,
    "wordpiece_vocab_sampled": wordpiece_vocab_sampled,
    "wordpiece_encode": wordpiece_encode,
    "wordpiece_encode_freq": wordpiece_encode_freq,
    "unigram_encode_freq": unigram_encode_freq,
    "unigram_encode": unigram_encode,
    "split_leakage_audit": split_leakage_audit,
    "duplicate_cluster_sizes": duplicate_cluster_sizes,
    "token_entropy": token_entropy,
    "source_divergence": source_divergence,
    "knn_graph": knn_graph,
    "pagerank_knn": pagerank_knn,
    "perceptron_lang": perceptron_lang,
    "lang_confusion": lang_confusion,
    "tokenizer_fertility": tokenizer_fertility,
    "embedding_norm_audit": embedding_norm_audit,
    "bm25_search": bm25_search,
    "hybrid_search_rrf": hybrid_search_rrf,
    "dedup_rate_by_source": dedup_rate_by_source,
    "source_minhash_setops": source_minhash_setops,
    "knn_triangles": knn_triangles,
    "components_knn": components_knn,
    "label_propagation_knn": label_propagation_knn,
    "cluster_aware_split": cluster_aware_split,
    "boilerplate_scrub": boilerplate_scrub,
    "bigram_lm_score": bigram_lm_score,
    "sparse_cosine_pairs": sparse_cosine_pairs,
}


def ann_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated ANN audit — one row per approximate method with its
    recall@5 against knn_brute, driver-hash-certified (the dedup_eval
    discipline applied to the whole vector family): the honest numbers a
    user needs BEFORE picking an index for their corpus, as a query
    instead of a docstring claim. Columns: method, n_exact, n_method,
    n_common, recall. Each method frame reuses the certified operator
    verbatim; the brute pair set is computed once and semi-joined per
    method — only (query, neighbor) pairs move, never vectors."""
    from pyspark.sql import functions as F

    emb = _emb(spark, sf_dir)
    exact = V.knn_brute(emb).select("query_id", "neighbor_id").persist()
    n_exact = exact.count()  # one bounded scalar; reused in every row
    methods = {
        "ivf": V.knn_ivf,
        "ivf_trained": V.knn_ivf_trained,
        "ivfpq": V.knn_ivfpq,
        "ivfpq_refine": V.knn_ivfpq_refine,
        "ivfpq_residual": V.knn_ivfpq_residual,
        "lsh": V.knn_lsh,
        "lsh_multiprobe": V.knn_lsh_multiprobe,
        "ivfsq8": V.knn_ivfsq8,
        "pq": V.knn_pq,
        "pq_rotated": V.knn_pq_rotated,
        "rp": V.knn_rp,
        "sq8": V.knn_sq8,
    }
    rows = []
    for name, op in sorted(methods.items()):
        m = op(emb).select("query_id", "neighbor_id")
        rows.append(
            m.join(exact, ["query_id", "neighbor_id"], "left_semi")
            .agg(F.count(F.lit(1)).alias("n_common"))
            .crossJoin(m.agg(F.count(F.lit(1)).alias("n_method")))
            .select(
                F.lit(name).alias("method"),
                F.lit(n_exact).cast("long").alias("n_exact"),
                F.col("n_method").cast("long"),
                F.col("n_common").cast("long"),
                F.round(F.col("n_common") / F.lit(n_exact), 6).alias("recall"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def pagerank_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAM-MAINTAINED PageRank ranks table under the oracle gate:
    stage the knn edge graph as 3 arrival chunks, replay them through
    `run_pagerank_stream` with refresh_every=2 + final_epoch=2 — so the
    replay exercises an edge-append-only epoch, an intermediate
    touched-bucket refresh AND the final-epoch refresh — then read the
    maintained ranks. Same columns as batch `pagerank_knn`; the oracle
    (`PAGERANK_STREAM_VIEW`) derives its vertex universe from the edges
    — src ∪ nbr, the stream's own contract, since its only input IS the
    edge stream. On k-NN graphs every vector is a src, so this equals
    pagerank_knn's all-embeddings universe; on a corpus with isolated
    vectors the two differ by exactly those teleport-only rows. The
    driver's hash check thus certifies the MV maintenance loop
    (epoch-partitioned edge accumulation, cadence, changed-bucket ranks
    writes), not an assumption about the corpus."""
    from ..session import sf_namespace
    from ..streaming.ingest import run_pagerank_stream, stage_knn_edge_chunks

    name = f"q_prview_{sf_namespace(sf_dir)}"
    stage = stage_knn_edge_chunks(spark, sf_dir, n_chunks=3)
    # fold_every=2 also coalesces edge partitions 0-1 into a watermark
    # base mid-replay, so the identity-fold + `live` edge read is
    # under this gate too
    q = run_pagerank_stream(
        spark, stage, name=name, refresh_every=2, final_epoch=2, fold_every=2
    )
    drain(spark, q, f"{name}_ranks")
    return spark.table(f"{name}_ranks").select(
        "vertex_id", "out_deg", "rank_units", "rank"
    )


def dedup_clusters_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAM-MAINTAINED duplicate-cluster table under the oracle
    gate: replay documents in 3 chunks through
    `run_dedup_clusters_stream` (incremental near-dup ingest — new docs
    compare only against colliding LSH buckets — plus the per-epoch
    connected-components refresh over the accumulated pair graph), then
    read the maintained canonical assignment. Same columns and oracle as
    batch `dedup_clusters`, so the transitive-merge maintenance (a new
    doc bridging two existing clusters re-canonicalizes both) is itself
    hash-certified."""
    from ..session import sf_namespace
    from ..streaming.ingest import run_dedup_clusters_stream, stage_document_chunks

    name = f"q_dcview_{sf_namespace(sf_dir)}"
    # fold_every=2 coalesces the four state tables' epoch partitions
    # mid-replay, so the tiered identity fold + `live` probes sit
    # under this gate too
    stage = stage_document_chunks(sf_dir, 3)
    q = run_dedup_clusters_stream(spark, stage, name=name, fold_every=2)
    drain(spark, q, f"{name}_clusters")
    return spark.table(f"{name}_clusters").select("doc_id", "canonical_id")


def knn_pq_index_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAM-MAINTAINED PQ index under the oracle gate: replay the
    embeddings through `run_pq_index_stream` (first chunk trains the
    frozen codebook; every chunk appends its codes), then ADC-search the
    maintained index — the driver's hash check certifies the
    freeze/incremental-encode maintenance loop end-to-end. fold_every=1
    routes the replay through the codes-partition fold every epoch, and
    refold_width=2 pushes the two resulting tier-1 bases (w=0, w=1)
    through the SECOND-tier identity refold mid-replay, so the
    LSM-compacted codes log + `live` read path sits under the same
    gate (the aggregate-merge refold twin is gated by
    corpus_stats_stream_view). n_chunks stays at the default 3: the
    codebook trains on the FIRST chunk, so the chunking is part of the
    oracle's contract — only the fold cadence varies here."""
    from pyspark.sql import functions as F

    from ..operators.similarity import _idot, quantize
    from ..session import sf_namespace
    from ..streaming.ingest import (
        pq_index_search,
        run_pq_index_stream,
        stage_embedding_chunks,
    )

    name = f"q_pqidx_{sf_namespace(sf_dir)}"
    stage = stage_embedding_chunks(sf_dir, V.PQ_INDEX_CHUNKS)
    q = run_pq_index_stream(spark, stage, name=name, fold_every=1, refold_width=2)
    drain(spark, q, f"{name}_codes", f"{name}_del")
    e = _emb(spark, sf_dir).select("vec_id", quantize(F.col("embedding")).alias("q"))
    qs = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).filter(
        F.col("vec_id") % 100 == 0
    )
    return pq_index_search(spark, qs, name)


TRAINING_QUERIES["ann_eval"] = ann_eval


def filtered_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered-search family audit — `ann_eval`'s discipline for the
    attribute-scoped rungs: recall of each in-scan filtered method
    against `knn_brute_filtered` (the exact pre-filter baseline, recall
    1 over the eligible set by construction). The ladder is the
    compression-resolution story a deployment picks from: exact-scored
    IVF keeps recall 1.0 at FILTERED_NPROBE here, SQ8's per-dim codes
    match it, PQ's coarse codes pay measurably — live numbers, not
    docstring claims."""
    from pyspark.sql import functions as F

    emb = _emb(spark, sf_dir)
    exact = V.knn_brute_filtered(emb).select("query_id", "neighbor_id").persist()
    # n_exact evaluates INSIDE the plan (cross-joined 1-row aggregate,
    # the DuckDB oracle's `ex` subquery shape) — no construction-time
    # count(), so re-executing the returned frame after data changes
    # never mixes snapshots, and an empty exact baseline surfaces as a
    # visible n_exact=0 row (null recall) instead of a baked-in constant
    ex_n = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    methods = {
        "ivf_filtered": V.knn_ivf_filtered,
        "ivfpq_filtered": V.knn_ivfpq_filtered,
        "ivfsq8_filtered": V.knn_ivfsq8_filtered,
    }
    rows = []
    for name, op in sorted(methods.items()):
        m = op(emb).select("query_id", "neighbor_id")
        rows.append(
            m.join(exact, ["query_id", "neighbor_id"], "left_semi")
            .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
            .crossJoin(ex_n)
            .crossJoin(m.agg(F.count(F.lit(1)).cast("long").alias("n_method")))
            .select(
                F.lit(name).alias("method"),
                "n_exact",
                "n_method",
                "n_common",
                F.round(F.col("n_common") / F.col("n_exact"), 6).alias("recall"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


TRAINING_QUERIES["filtered_eval"] = filtered_eval
def knn_pq_index_refine_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-maintained PQ index searched through the EXACT-REFINE
    path (FAISS IndexRefineFlat composed with the MV): the replay runs
    with store_vectors=True — the index keeps its quantized full vectors
    next to the codes, both identity-folded — then the ADC top-C
    shortlist re-ranks against the stored vectors. Under its own DuckDB
    oracle (first-chunk-trained codebooks + refine tail), so the driver
    hash-certifies the whole composition: freeze, incremental encode,
    vector storage, fold, shortlist, exact re-rank."""
    from pyspark.sql import functions as F

    from ..operators.similarity import _idot, quantize
    from ..session import sf_namespace
    from ..streaming.ingest import (
        pq_index_search_refine,
        run_pq_index_stream,
        stage_embedding_chunks,
    )

    name = f"q_pqrf_{sf_namespace(sf_dir)}"
    stage = stage_embedding_chunks(sf_dir, V.PQ_INDEX_CHUNKS)
    q = run_pq_index_stream(
        spark, stage, name=name, fold_every=1, refold_width=2, store_vectors=True
    )
    drain(spark, q, f"{name}_codes", f"{name}_vecs", f"{name}_del")
    e = _emb(spark, sf_dir).select("vec_id", quantize(F.col("embedding")).alias("q"))
    qs = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).filter(
        F.col("vec_id") % 100 == 0
    )
    return pq_index_search_refine(spark, qs, name)


TRAINING_QUERIES["knn_pq_index_view"] = knn_pq_index_view


def knn_pq_index_delete_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained PQ index as a CDC consumer under the oracle gate —
    FAISS remove_ids() on the compressed index: the 4-chunk embedding
    CDC replay carries V_DEL tombstones (vec_id % 9 == 5, routed +1
    chunk — delete-before-insert occurs), the codebook stays frozen on
    the first chunk's cleansed inserts, and the search anti-joins live
    tombstones. Queries are survivors too, so a deleted vector is
    neither neighbor nor query; the oracle replays the same frozen
    training + survivor scoring in SQL."""
    from pyspark.sql import functions as F

    from ..operators.similarity import _idot, quantize
    from ..session import sf_namespace
    from ..streaming.ingest import (
        pq_index_search,
        run_pq_index_stream,
        stage_embedding_cdc_chunks,
    )

    name = f"q_pqcdcd_{sf_namespace(sf_dir)}"
    stage = stage_embedding_cdc_chunks(sf_dir)
    q = run_pq_index_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, f"{name}_codes", f"{name}_del")
    e = _emb(spark, sf_dir).select("vec_id", quantize(F.col("embedding")).alias("q"))
    qs = (
        e.withColumn("n2", _idot(F.col("q"), F.col("q")))
        .filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") % 9 != 5))
    )
    return pq_index_search(spark, qs, name)


TRAINING_QUERIES["knn_pq_index_delete_view"] = knn_pq_index_delete_view


def knn_pq_index_purged_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC PQ index after PHYSICAL purge (`purge_pq_index_dead`, run
    twice to pin idempotence): dead codes rewritten out of exactly the
    partitions holding them, the frozen codebook untouched; served
    search must be read-identical, so the twin shares the delete gate's
    oracle."""
    from pyspark.sql import functions as F

    from ..operators.similarity import _idot, quantize
    from ..session import sf_namespace
    from ..streaming.ingest import (
        pq_index_search,
        purge_pq_index_dead,
        run_pq_index_stream,
        stage_embedding_cdc_chunks,
    )

    name = f"q_pqcdcp_{sf_namespace(sf_dir)}"
    stage = stage_embedding_cdc_chunks(sf_dir)
    q = run_pq_index_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, f"{name}_codes", f"{name}_del")
    n1 = purge_pq_index_dead(spark, name)
    n2 = purge_pq_index_dead(spark, name)
    assert n1 > 0 and n2 == 0, f"PQ-index purge not idempotent: {n1} then {n2}"
    spark.catalog.refreshTable(f"{name}_codes")
    e = _emb(spark, sf_dir).select("vec_id", quantize(F.col("embedding")).alias("q"))
    qs = (
        e.withColumn("n2", _idot(F.col("q"), F.col("q")))
        .filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") % 9 != 5))
    )
    return pq_index_search(spark, qs, name)


TRAINING_QUERIES["knn_pq_index_purged_view"] = knn_pq_index_purged_view
TRAINING_QUERIES["knn_pq_index_refine_view"] = knn_pq_index_refine_view


def knn_pq_index_filtered_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED search on the MAINTAINED compressed index under the
    oracle gate — production attribute-scoped search: the PQ-CDC replay
    (V_DEL vec_id % 9 == 5, frozen first-chunk codebook) stores the
    label payload alongside every code row, and the read applies the
    query's label predicate IN-SCAN on the tombstone-cleansed ADC path
    (`pq_index_filtered_search` — the `knn_ivfpq_filtered` design moved
    onto the stream-maintained store). Queries are same-rule survivors
    carrying their labels. The oracle replays frozen training + ADC
    scoring restricted to same-label survivors on both sides, so the
    driver hash-certifies the filter composes with deletes AND
    compression — not a post-filter of an unfiltered top-k."""
    from pyspark.sql import functions as F

    from ..operators.similarity import _idot, quantize
    from ..session import sf_namespace
    from ..streaming.ingest import (
        pq_index_filtered_search,
        run_pq_index_stream,
        stage_embedding_cdc_chunks,
    )

    name = f"q_pqcdcf_{sf_namespace(sf_dir)}"
    stage = stage_embedding_cdc_chunks(sf_dir)
    q = run_pq_index_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, f"{name}_codes", f"{name}_del")
    e = _emb(spark, sf_dir).select(
        "vec_id", "label", quantize(F.col("embedding")).alias("q")
    )
    qs = (
        e.withColumn("n2", _idot(F.col("q"), F.col("q")))
        .filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") % 9 != 5))
    )
    return pq_index_filtered_search(spark, qs, name)


TRAINING_QUERIES["knn_pq_index_filtered_view"] = knn_pq_index_filtered_view


def pq_index_filtered_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit for the index-served filtered search — the
    `filtered_eval` rung the maintained store was missing: the PQ-CDC
    filtered read measured against `knn_brute_filtered` over SURVIVOR
    embeddings (the exact pre-filter baseline on the same eligible set
    the index is allowed to serve from). n_exact evaluates INSIDE the
    plan (cross-joined 1-row aggregate, like the DuckDB oracle's `ex`
    subquery), so re-executing the frame after data changes never mixes
    snapshots. PQ codes pay a measured recall price vs the exact
    baseline — a live number under the hash gate, not a docstring
    claim."""
    from pyspark.sql import functions as F

    from ..operators.similarity import _idot, quantize
    from ..session import sf_namespace
    from ..streaming.ingest import (
        pq_index_filtered_search,
        run_pq_index_stream,
        stage_embedding_cdc_chunks,
    )

    name = f"q_pqcdcfe_{sf_namespace(sf_dir)}"
    stage = stage_embedding_cdc_chunks(sf_dir)
    q = run_pq_index_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, f"{name}_codes", f"{name}_del")
    e = _emb(spark, sf_dir).select(
        "vec_id", "label", quantize(F.col("embedding")).alias("q")
    )
    qs = (
        e.withColumn("n2", _idot(F.col("q"), F.col("q")))
        .filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") % 9 != 5))
    )
    m = pq_index_filtered_search(spark, qs, name).select("query_id", "neighbor_id")
    surv = _emb(spark, sf_dir).filter(F.col("vec_id") % 9 != 5)
    exact = V.knn_brute_filtered(surv).select("query_id", "neighbor_id")
    return (
        m.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .crossJoin(exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact")))
        .crossJoin(m.agg(F.count(F.lit(1)).cast("long").alias("n_method")))
        .select(
            F.lit("pq_index_filtered").alias("method"),
            "n_exact",
            "n_method",
            "n_common",
            F.round(F.col("n_common") / F.col("n_exact"), 6).alias("recall"),
        )
    )


TRAINING_QUERIES["pq_index_filtered_eval"] = pq_index_filtered_eval


def knn_graph_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAM-MAINTAINED corpus k-NN graph under vector CDC, under
    the oracle gate: the 4-chunk embedding replay (V_DEL vec_id % 9 ==
    5, routed +1 chunk — delete-before-insert occurs) incrementally
    bands arrivals, scores only the pairs each epoch introduces against
    the live band index, and retracts dead-sided edges at read. The
    oracle is batch `knn_graph` over SURVIVORS, so the driver
    hash-certifies the maintained graph == a full rebuild over the
    surviving corpus — including neighbors that were crowded out of a
    top-k while a later-deleted vector was alive (the unpruned stored
    pair scores make them recallable; a pruned graph index could not
    serve this without re-scoring). Unifies the vector-CDC and graph
    families: components/label-prop/triangles/PageRank can now consume
    an incrementally-maintained edge list."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        knn_graph_cdc_view,
        run_knn_graph_cdc_stream,
        stage_embedding_cdc_chunks,
    )

    name = f"q_kngcdc_{sf_namespace(sf_dir)}"
    stage = stage_embedding_cdc_chunks(sf_dir, 4)
    q = run_knn_graph_cdc_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, *(f"{name}_{t}" for t in ("vec", "band", "edge", "del")))
    return knn_graph_cdc_view(spark, name)


TRAINING_QUERIES["knn_graph_stream_view"] = knn_graph_stream_view


def knn_graph_purged_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC k-NN graph after PHYSICAL purge (`purge_knn_graph_dead`,
    run twice to pin idempotence): dead vectors' store/band rows and
    dead-sided edges rewritten out of exactly the partitions holding
    them, tombstones kept. The served graph must be read-identical, so
    the twin shares the delete gate's oracle — graph compaction changes
    bytes, never neighbors."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        knn_graph_cdc_view,
        purge_knn_graph_dead,
        run_knn_graph_cdc_stream,
        stage_embedding_cdc_chunks,
    )

    name = f"q_kngcdcp_{sf_namespace(sf_dir)}"
    stage = stage_embedding_cdc_chunks(sf_dir, 4)
    q = run_knn_graph_cdc_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, *(f"{name}_{t}" for t in ("vec", "band", "edge", "del")))
    n1 = purge_knn_graph_dead(spark, name)
    n2 = purge_knn_graph_dead(spark, name)
    assert n1 > 0 and n2 == 0, f"knn-graph purge not idempotent: {n1} then {n2}"
    return knn_graph_cdc_view(spark, name)


TRAINING_QUERIES["knn_graph_purged_stream_view"] = knn_graph_purged_stream_view


def _quantized(spark: SparkSession, sf_dir: str, where=None) -> DataFrame:
    """Quantized (vec_id, q, n2) frame for the graph-ANN family,
    returned MATERIALIZED via lazy localCheckpoint rather than persist():
    every consumer reads it across all beam hops, but a persist() here
    outlives the query — the CacheManager pins cached plans until an
    explicit unpersist, so a full 251-query gate run would accumulate
    one leaked quantized corpus per graph-ANN entry. localCheckpoint
    blocks are ContextCleaner-reclaimed as soon as the gate drops the
    returned DataFrame; eager=False keeps construction side-effect free
    (the operators/ranking.py contract — executor loss after
    materialization fails loud, acceptable for a deterministic scan)."""
    from ..operators.similarity import _idot, quantize

    e = _emb(spark, sf_dir)
    if where is not None:
        e = e.filter(where)
    e = e.select("vec_id", quantize(F.col("embedding")).alias("q"))
    return e.withColumn("n2", _idot(F.col("q"), F.col("q"))).localCheckpoint(
        eager=False
    )


def knn_graph_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based ANN search (HNSW-class, single-layer deterministic
    beam variant) over the corpus k-NN graph — the serving-time rung the
    ANN ladder gains on top of the LSH/IVF/PQ families: fixed entry
    points, GRAPH_ANN_HOPS beam-search rounds over the symmetrized
    edges, exact re-scoring, no corpus scan after graph construction.
    Fully deterministic (ties (cosine desc, id asc) everywhere), so the
    DuckDB oracle replays the identical walk hop-for-hop and the driver
    HASH-gates the whole search path, not just a recall bound. See
    operators/similarity.graph_ann_search."""
    edges = V.knn_graph(_emb(spark, sf_dir), k=V.GRAPH_ANN_DEG).select(
        "src_id", "nbr_id"
    )
    e = _quantized(spark, sf_dir)
    return V.graph_ann_search(e, edges)


TRAINING_QUERIES["knn_graph_ann"] = knn_graph_ann


def graph_ann_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit for the graph-ANN rung vs `knn_brute` — ann_eval's
    discipline for the graph path: the measured price of beam search
    over an LSH-built k-NN graph against the exact baseline, as a
    hash-gated live number (n_exact in-plan, the oracle's ex-subquery
    shape)."""
    edges = V.knn_graph(_emb(spark, sf_dir), k=V.GRAPH_ANN_DEG).select(
        "src_id", "nbr_id"
    )
    e = _quantized(spark, sf_dir)
    m = V.graph_ann_search(e, edges).select("query_id", "neighbor_id")
    exact = V.knn_brute(_emb(spark, sf_dir)).select("query_id", "neighbor_id")
    return (
        m.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .crossJoin(exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact")))
        .crossJoin(m.agg(F.count(F.lit(1)).cast("long").alias("n_method")))
        .select(
            F.lit("graph_ann").alias("method"),
            "n_exact",
            "n_method",
            "n_common",
            F.round(F.col("n_common") / F.col("n_exact"), 6).alias("recall"),
        )
    )


TRAINING_QUERIES["graph_ann_eval"] = graph_ann_eval


def knn_graph_ann_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ANN served from the STREAM-MAINTAINED k-NN graph under
    deletes — the full production loop closed: vector CDC maintains the
    graph incrementally (`run_knn_graph_cdc_stream`), tombstones retract
    dead-sided edges at read, and the SAME deterministic beam search
    runs over the maintained survivor graph with survivor entry points
    and queries. The oracle replays graph construction + the walk over
    survivors from scratch, so the hash certifies serve-from-maintained
    == rebuild-and-search at any delete arrival order."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        knn_graph_cdc_view,
        run_knn_graph_cdc_stream,
        stage_embedding_cdc_chunks,
    )

    name = f"q_kngann_{sf_namespace(sf_dir)}"
    stage = stage_embedding_cdc_chunks(sf_dir, 4)
    q = run_knn_graph_cdc_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, *(f"{name}_{t}" for t in ("vec", "band", "edge", "del")))
    edges = knn_graph_cdc_view(spark, name, k=V.GRAPH_ANN_DEG).select(
        "src_id", "nbr_id"
    )
    e = _quantized(spark, sf_dir, where=F.col("vec_id") % 9 != 5)
    return V.graph_ann_search(e, edges)


TRAINING_QUERIES["knn_graph_ann_stream_view"] = knn_graph_ann_stream_view


def components_knn_cdc_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components COMPOSED ON the stream-maintained k-NN graph
    — the claim "components/label-prop/triangles/PageRank can consume a
    maintained edge list" turned into a hash gate: vector CDC replays
    4 chunks with V_DEL (vec_id % 9 == 5) through
    `run_knn_graph_cdc_stream`, `knn_graph_cdc_view` retracts dead-sided
    edges at read, and the SAME min-label hop + pointer-jump CC operator
    batch `components_knn` uses runs over the maintained survivor edges
    and survivor vertices. The oracle rebuilds the graph + transitive
    closure over survivors from scratch, so the hash certifies
    DELETE-CORRECT TRANSITIVE-CLOSURE RETRACTION — the hard case where
    removing a bridge vector must SPLIT a component, which a maintainer
    that only dropped the bridge's own rows (but kept any stale derived
    connectivity) would get wrong. The planted-bridge split itself is
    pinned in tests/test_graph_cdc.py."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        knn_graph_cdc_view,
        run_knn_graph_cdc_stream,
        stage_embedding_cdc_chunks,
    )

    name = f"q_ccknng_{sf_namespace(sf_dir)}"
    stage = stage_embedding_cdc_chunks(sf_dir, 4)
    q = run_knn_graph_cdc_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, *(f"{name}_{t}" for t in ("vec", "band", "edge", "del")))
    edges = knn_graph_cdc_view(spark, name).select("src_id", "nbr_id")
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") % 9 != 5)
    verts = emb.select(F.col("vec_id").alias("doc_id"), F.lit("").alias("text"))
    pairs = edges.select(F.col("src_id").alias("id_a"), F.col("nbr_id").alias("id_b"))
    out = D.dedup_clusters(verts, pairs=pairs)
    return out.select(
        F.col("doc_id").alias("vertex_id"), F.col("canonical_id").alias("component_id")
    )


TRAINING_QUERIES["components_knn_cdc_stream_view"] = components_knn_cdc_stream_view


def _cdc_graph_edges(spark: SparkSession, sf_dir: str, tag: str):
    """Shared setup for the graph-operator-over-maintained-graph gates:
    run the 4-chunk V_DEL replay, return (survivor edge list, survivor
    embeddings). Each gate keeps its own table namespace (`tag`), so
    concurrent verifies never share state."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        knn_graph_cdc_view,
        run_knn_graph_cdc_stream,
        stage_embedding_cdc_chunks,
    )

    name = f"q_{tag}_{sf_namespace(sf_dir)}"
    stage = stage_embedding_cdc_chunks(sf_dir, 4)
    q = run_knn_graph_cdc_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, *(f"{name}_{t}" for t in ("vec", "band", "edge", "del")))
    edges = knn_graph_cdc_view(spark, name).select("src_id", "nbr_id")
    surv = _emb(spark, sf_dir).filter(F.col("vec_id") % 9 != 5)
    return edges, surv


def knn_triangles_cdc_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count / clustering coefficient COMPOSED ON the
    CDC-maintained k-NN graph — with components, the second member of
    the graph-operator family certified over the maintained edge list:
    deleting a vector must retract every triangle through it and move
    its neighbors' clustering coefficients, which the oracle pins by
    rebuilding graph + wedges over survivors from scratch."""
    edges, surv = _cdc_graph_edges(spark, sf_dir, "triknng")
    return G.triangle_count(edges, surv.select("vec_id"))


TRAINING_QUERIES["knn_triangles_cdc_stream_view"] = knn_triangles_cdc_stream_view


def label_prop_knn_cdc_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation COMPOSED ON the CDC-maintained k-NN graph —
    the third graph operator certified over the maintained edge list:
    a deleted seed stops voting and a deleted bridge stops carrying
    labels across regions, so every propagated label re-derives over
    the survivor graph; the oracle replays the LP_ITERS majority-vote
    rounds over a from-scratch survivor rebuild."""
    edges, surv = _cdc_graph_edges(spark, sf_dir, "lpknng")
    return G.label_propagation(edges, surv.select("vec_id", "label"))


TRAINING_QUERIES["label_prop_knn_cdc_stream_view"] = label_prop_knn_cdc_stream_view


def pagerank_knn_cdc_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank COMPOSED ON the CDC-maintained k-NN graph — the fourth
    and last graph operator certified over the maintained edge list
    (COVERAGE.md's composition claim, now a hash gate family-wide): a
    deleted hub stops both receiving and donating rank mass, so every
    survivor's fixed-point integer rank re-derives over the survivor
    graph; the oracle replays the PR_ITERS damped iterations over a
    from-scratch survivor rebuild with the batch operator's own
    integer arithmetic."""
    edges, surv = _cdc_graph_edges(spark, sf_dir, "prknng")
    return G.pagerank(edges, surv.select("vec_id"))


TRAINING_QUERIES["pagerank_knn_cdc_stream_view"] = pagerank_knn_cdc_stream_view
TRAINING_QUERIES["pagerank_stream_view"] = pagerank_stream_view
TRAINING_QUERIES["dedup_clusters_stream_view"] = dedup_clusters_stream_view


def order_wide_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAM-MAINTAINED orders ⋈ lineitem view under the oracle
    gate — the delta-rule IVM member of the MV family: replay both
    tables' inserts as 3 interleaved arrival chunks through
    `run_join_ivm_stream` (ΔV = ΔO⋈(L∪ΔL) ∪ O⋈ΔL per epoch, delta sides
    broadcast, state never shuffled or rescanned), then read the
    maintained view. The oracle is the plain batch join, so the driver
    hash-certifies that every join pair was emitted by exactly one delta
    term in exactly one epoch. fold_every=2 + refold_width=2 route the
    replay through the tiered identity fold on all THREE tables (both
    state sides and the view itself) mid-replay."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        order_wide_view,
        run_join_ivm_stream,
        stage_order_lineitem_chunks,
    )

    name = f"q_owview_{sf_namespace(sf_dir)}"
    stage = stage_order_lineitem_chunks(sf_dir, 3)
    q = run_join_ivm_stream(
        spark, stage, name=name, fold_every=2, refold_width=2,
        maintain_agg=False,  # this gate reads only the join view
    )
    drain(spark, q, f"{name}_v")
    return order_wide_view(spark, name)


TRAINING_QUERIES["order_wide_stream_view"] = order_wide_stream_view


def order_wide_delete_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-IVM stream WITH DELETIONS under the oracle gate: every
    o_orderkey % 7 == 0 order gets an O_DEL tombstone event routed one
    chunk AFTER its insert — except the last chunk's orders, whose
    deletes arrive in chunk 0, BEFORE the insert (the out-of-order case).
    The oracle is the batch join restricted to never-deleted orders, so
    the driver hash-certifies tombstone semantics end-to-end: delete
    wins at any arrival order, pre-delete view rows are anti-joined out,
    post-delete lineitem arrivals never resurrect the key."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        order_wide_view,
        run_join_ivm_stream,
        stage_order_lineitem_chunks,
    )

    name = f"q_owdview_{sf_namespace(sf_dir)}"
    stage = stage_order_lineitem_chunks(sf_dir, n_chunks=3, delete_mod=7)
    q = run_join_ivm_stream(
        spark, stage, name=name, fold_every=2, refold_width=2,
        maintain_agg=False,  # the aggregate twin gate (revenue_by_cust_
        # stream_view) runs its own replay WITH the agg maintained
    )
    drain(spark, q, f"{name}_v", f"{name}_d")
    return order_wide_view(spark, name)


TRAINING_QUERIES["order_wide_delete_stream_view"] = order_wide_delete_stream_view


def revenue_by_cust_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RETRACTABLE AGGREGATE MV under the oracle gate: the same
    deletes-staged join-IVM replay additionally maintains per-customer
    (net count, DECIMAL revenue) partials — +ΔV each epoch, minus the
    retired rows' contribution at each tombstone's arrival epoch. The
    oracle is the batch rollup over never-deleted orders, so the hash
    gate certifies that every insert contributed exactly once, every
    delete retracted exactly the rows it retired (at any arrival order),
    and fully-deleted customers net out of the view entirely."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        revenue_by_cust_view,
        run_join_ivm_stream,
        stage_order_lineitem_chunks,
    )

    name = f"q_rbcview_{sf_namespace(sf_dir)}"
    stage = stage_order_lineitem_chunks(sf_dir, n_chunks=3, delete_mod=7)
    q = run_join_ivm_stream(
        spark, stage, name=name, fold_every=2, refold_width=2
    )
    drain(spark, q, f"{name}_agg")
    return revenue_by_cust_view(spark, name)


TRAINING_QUERIES["revenue_by_cust_stream_view"] = revenue_by_cust_stream_view


def order_wide_purged_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deletes-staged join-IVM replay followed by the PHYSICAL purge
    pass (`purge_tombstoned_rows` rewrites only partitions holding dead
    rows, drops fully-dead positive epochs), then the served view — same
    oracle as the tombstone-only twin, so the driver hash-certifies that
    compaction changes bytes, never results."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        order_wide_view,
        purge_tombstoned_rows,
        run_join_ivm_stream,
        stage_order_lineitem_chunks,
    )

    name = f"q_owpview_{sf_namespace(sf_dir)}"
    stage = stage_order_lineitem_chunks(sf_dir, n_chunks=3, delete_mod=7)
    q = run_join_ivm_stream(
        spark, stage, name=name, fold_every=2, refold_width=2,
        maintain_agg=False,
    )
    drain(spark, q, f"{name}_v", f"{name}_d")
    purge_tombstoned_rows(spark, name)
    return order_wide_view(spark, name)


TRAINING_QUERIES["order_wide_purged_stream_view"] = order_wide_purged_stream_view


def order_wide_line_delete_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-IVM stream with deletes at BOTH granularities under the
    oracle gate: every o_orderkey % 7 == 0 order gets an O_DEL and every
    (l_orderkey + l_linenumber) % 5 == 0 line an L_DEL, each routed one
    chunk after its insert (the last chunk's keys get their delete in
    chunk 0 — delete-before-insert at order AND line granularity). The
    oracle is the batch join minus deleted orders minus deleted line
    keys, so the driver hash-certifies the lineitem-granularity
    tombstone contract end-to-end — including rows covered by both
    tombstone kinds retiring exactly once."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        order_wide_view,
        run_join_ivm_stream,
        stage_order_lineitem_chunks,
    )

    name = f"q_owldv_{sf_namespace(sf_dir)}"
    stage = stage_order_lineitem_chunks(
        sf_dir, n_chunks=3, delete_mod=7, line_delete_mod=5
    )
    q = run_join_ivm_stream(
        spark, stage, name=name, fold_every=2, refold_width=2,
        maintain_agg=False,
    )
    drain(spark, q, f"{name}_v", f"{name}_d", f"{name}_ld")
    return order_wide_view(spark, name)


TRAINING_QUERIES["order_wide_line_delete_stream_view"] = order_wide_line_delete_stream_view


def revenue_max_by_cust_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NON-INVERTIBLE aggregate MV under the oracle gate: the
    both-granularity deletes replay additionally maintains per-customer
    MAX(revenue) — per-epoch insert maxima plus rebase partials
    re-derived from live rows at each delete epoch (sum's sign trick
    doesn't apply to max; see `_ivm_epoch`). The oracle is the batch
    max over never-deleted rows, so the hash gate certifies that every
    delete-of-a-current-max lowered the served max to the true runner-up
    and fully-deleted customers dropped out."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        revenue_max_by_cust_view,
        run_join_ivm_stream,
        stage_order_lineitem_chunks,
    )

    name = f"q_rmxview_{sf_namespace(sf_dir)}"
    stage = stage_order_lineitem_chunks(
        sf_dir, n_chunks=3, delete_mod=7, line_delete_mod=5
    )
    q = run_join_ivm_stream(
        spark, stage, name=name, fold_every=2, refold_width=2,
        maintain_agg=False, maintain_max=True,
    )
    drain(spark, q, f"{name}_mx")
    return revenue_max_by_cust_view(spark, name)


TRAINING_QUERIES["revenue_max_by_cust_stream_view"] = revenue_max_by_cust_stream_view


def distinct_qty_by_cust_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COUNT(DISTINCT) MV under the oracle gate: the
    both-granularity deletes replay additionally maintains per-customer
    distinct l_quantity via signed REFCOUNT partials at the (customer,
    value) grain — the exact-retraction construction for the other
    non-invertible classic (a delete lowers a distinct count only when
    it kills the value's last carrier; see `_ivm_epoch`). The oracle is
    the batch COUNT(DISTINCT) over never-deleted rows, so the hash gate
    certifies that values with surviving duplicate carriers stayed
    counted, last-carrier deletes dropped their value, and fully-deleted
    customers left the view — at any delete arrival order, across
    watermark folds."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        distinct_qty_by_cust_view,
        run_join_ivm_stream,
        stage_order_lineitem_chunks,
    )

    name = f"q_dqcview_{sf_namespace(sf_dir)}"
    stage = stage_order_lineitem_chunks(
        sf_dir, n_chunks=3, delete_mod=7, line_delete_mod=5
    )
    q = run_join_ivm_stream(
        spark, stage, name=name, fold_every=2, refold_width=2,
        maintain_agg=False, maintain_distinct=True,
    )
    drain(spark, q, f"{name}_dc")
    return distinct_qty_by_cust_view(spark, name)


TRAINING_QUERIES["distinct_qty_by_cust_stream_view"] = distinct_qty_by_cust_stream_view


def order_cust_wide_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THREE-way join IVM under the oracle gate: customer + orders +
    lineitem multiplexed as one chunked CDC feed (customers chunked by
    c_custkey, so order-before-customer arrivals occur), replayed
    through the ternary delta rule with O_DEL tombstones and watermark
    folds, then the served view. The oracle is the batch three-way join
    minus deleted orders — certifying each joined tuple was emitted by
    exactly one of the three delta terms in exactly one epoch, at any
    relative arrival order of its three sides."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        order_cust_wide_view,
        run_join3_ivm_stream,
        stage_cust_order_lineitem_chunks,
    )

    name = f"q_ocwview_{sf_namespace(sf_dir)}"
    stage = stage_cust_order_lineitem_chunks(sf_dir, n_chunks=3, delete_mod=7)
    q = run_join3_ivm_stream(
        spark, stage, name=name, fold_every=2, refold_width=2,
        maintain_agg=False,
    )
    drain(spark, q, f"{name}_v", f"{name}_d")
    return order_cust_wide_view(spark, name)


TRAINING_QUERIES["order_cust_wide_stream_view"] = order_cust_wide_stream_view


def revenue_by_nation_ivm_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ternary IVM's retractable per-NATION aggregate MV under the
    oracle gate — same replay as `order_cust_wide_stream_view` with the
    signed (count, DECIMAL revenue) partials maintained; the oracle is
    the batch rollup over never-deleted orders. Certifies the retire
    discipline generalizes unchanged to views with more than two
    inputs."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        revenue_by_nation_ivm_view,
        run_join3_ivm_stream,
        stage_cust_order_lineitem_chunks,
    )

    name = f"q_rbnview_{sf_namespace(sf_dir)}"
    stage = stage_cust_order_lineitem_chunks(sf_dir, n_chunks=3, delete_mod=7)
    q = run_join3_ivm_stream(
        spark, stage, name=name, fold_every=2, refold_width=2
    )
    drain(spark, q, f"{name}_agg")
    return revenue_by_nation_ivm_view(spark, name)


TRAINING_QUERIES["revenue_by_nation_ivm_stream_view"] = revenue_by_nation_ivm_stream_view


def revenue_by_region_ivm_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MV STACKING under the oracle gate: the ternary replay maintains
    the per-nation partials, then the per-REGION rollup is served by
    aggregate navigation — MV-sized partials ⋈ broadcast 25-row nation
    dim, re-aggregated in DECIMAL. The oracle is the batch 4-table
    join's region rollup, so the hash certifies the stacked read equals
    recomputation from facts without ever scanning them."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        revenue_by_region_ivm_view,
        run_join3_ivm_stream,
        stage_cust_order_lineitem_chunks,
    )

    name = f"q_rbrview_{sf_namespace(sf_dir)}"
    stage = stage_cust_order_lineitem_chunks(sf_dir, n_chunks=3, delete_mod=7)
    q = run_join3_ivm_stream(
        spark, stage, name=name, fold_every=2, refold_width=2
    )
    drain(spark, q, f"{name}_agg")
    return revenue_by_region_ivm_view(spark, load_table(spark, sf_dir, "nation"), name)


TRAINING_QUERIES["revenue_by_region_ivm_stream_view"] = revenue_by_region_ivm_stream_view


def order_cust_wide_upsert_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TERNARY join IVM under the full CDC mix — inserts, O_DEL
    tombstones and O_UPD upserts whose winning version MOVES the order
    to a different existing customer (o_custkey % max(c_custkey) + 1),
    so the new rows must re-join the CUSTOMER hop. Updates route +2
    chunks after the insert: only chunk-0 keys' updates win under
    arrival-epoch last-write-wins; chunk-1/2 keys' later inserts
    supersede them (the out-of-order contract is IN the hash).
    fold_every exercises o_version surviving the watermark fold."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        order_cust_wide_view,
        run_join3_ivm_stream,
        stage_cust_order_lineitem_chunks,
    )

    name = f"q_ocwuview_{sf_namespace(sf_dir)}"
    stage = stage_cust_order_lineitem_chunks(
        sf_dir, n_chunks=3, delete_mod=7, update_mod=11
    )
    q = run_join3_ivm_stream(
        spark, stage, name=name, fold_every=2, refold_width=2,
        maintain_agg=False,
    )
    drain(spark, q, f"{name}_v", f"{name}_d", f"{name}_u")
    return order_cust_wide_view(spark, name)


TRAINING_QUERIES["order_cust_wide_upsert_stream_view"] = order_cust_wide_upsert_stream_view


def revenue_by_nation_ivm_upsert_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ternary retractable per-NATION MV under the full CDC mix: a
    winning upsert must retract the order's rows from the OLD customer's
    nation and re-add them under the NEW one — cross-NATION revenue
    movement, the failure mode a broken n-way retract-and-emit can't
    hide from the per-nation hashes."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        revenue_by_nation_ivm_view,
        run_join3_ivm_stream,
        stage_cust_order_lineitem_chunks,
    )

    name = f"q_rbnuview_{sf_namespace(sf_dir)}"
    stage = stage_cust_order_lineitem_chunks(
        sf_dir, n_chunks=3, delete_mod=7, update_mod=11
    )
    q = run_join3_ivm_stream(
        spark, stage, name=name, fold_every=2, refold_width=2
    )
    drain(spark, q, f"{name}_agg")
    return revenue_by_nation_ivm_view(spark, name)


TRAINING_QUERIES["revenue_by_nation_ivm_upsert_stream_view"] = (
    revenue_by_nation_ivm_upsert_stream_view
)


def order_cust_wide_asof_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TRAVEL on the ternary view: replay all 3 chunks inserts-only,
    read AS OF epoch 1. Each three-way tuple lands in the epoch its
    LATEST side arrived (customers chunk c_custkey % 3, orders
    o_orderkey % 3, lines (l_orderkey + l_linenumber) % 3), so the
    oracle is closed-form — tuples with greatest(all three chunks) ≤ 1 —
    and the hash certifies the snapshot filter AND the exactly-one-epoch
    emit placement of the THREE-dimensional later-side-emit rule."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        order_cust_wide_view_asof,
        run_join3_ivm_stream,
        stage_cust_order_lineitem_chunks,
    )

    name = f"q_ocwasof_{sf_namespace(sf_dir)}"
    stage = stage_cust_order_lineitem_chunks(sf_dir, n_chunks=3)
    q = run_join3_ivm_stream(
        spark, stage, name=name, maintain_agg=False
    )
    drain(spark, q, f"{name}_v")
    return order_cust_wide_view_asof(spark, 1, name)


TRAINING_QUERIES["order_cust_wide_asof_stream_view"] = order_cust_wide_asof_stream_view


def order_cust_wide_dimupd_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ternary view under the FULL CDC mix including C_UPD DIMENSION
    updates — the SCD-vs-IVM case: a winning customer update (new
    nationkey = old + 1 mod 25) must retract every fact row already
    joined through that customer and re-emit it with the new attributes,
    at O(that customer's rows). Same +2-chunk routing, so only chunk-0
    customers' updates win and chunk-1/2 customers' later inserts
    supersede theirs — both arrival orders in the hash. Runs alongside
    O_DEL tombstones and cross-customer O_UPD order upserts, so the
    retire priority chain (delete > order-upsert > dim-update, each row
    once) is exercised, and fold_every pins both version data columns
    surviving the watermark fold."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        order_cust_wide_view,
        run_join3_ivm_stream,
        stage_cust_order_lineitem_chunks,
    )

    name = f"q_ocwcuview_{sf_namespace(sf_dir)}"
    stage = stage_cust_order_lineitem_chunks(
        sf_dir, n_chunks=3, delete_mod=7, update_mod=11, cust_update_mod=13
    )
    q = run_join3_ivm_stream(
        spark, stage, name=name, fold_every=2, refold_width=2,
        maintain_agg=False,
    )
    drain(spark, q, f"{name}_v", f"{name}_d", f"{name}_u", f"{name}_cu")
    return order_cust_wide_view(spark, name)


TRAINING_QUERIES["order_cust_wide_dimupd_stream_view"] = order_cust_wide_dimupd_stream_view


def revenue_by_nation_dimupd_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-NATION MV under dimension updates: a winning C_UPD moves
    the customer's ENTIRE revenue mass from the old nation to the new
    one — the aggregate-level signature of the SCD retract-and-emit,
    which a broken dimension-hop retraction cannot hide from the
    25-row per-nation hashes."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        revenue_by_nation_ivm_view,
        run_join3_ivm_stream,
        stage_cust_order_lineitem_chunks,
    )

    name = f"q_rbncuview_{sf_namespace(sf_dir)}"
    stage = stage_cust_order_lineitem_chunks(
        sf_dir, n_chunks=3, delete_mod=7, update_mod=11, cust_update_mod=13
    )
    q = run_join3_ivm_stream(
        spark, stage, name=name, fold_every=2, refold_width=2
    )
    drain(spark, q, f"{name}_agg")
    return revenue_by_nation_ivm_view(spark, name)


TRAINING_QUERIES["revenue_by_nation_dimupd_stream_view"] = (
    revenue_by_nation_dimupd_stream_view
)


def bm25_index_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-maintained BM25 inverted index under the oracle gate:
    documents replayed in 3 chunks build full-vocabulary postings,
    document lengths and corpus-stats partials (folded at fold_every=2);
    the search view then serves the fixed demo query from the INDEX —
    postings pruned to the query terms, stats from MV-sized partials,
    scoring via the batch operator's own `bm25_rank`. The oracle is the
    batch BM25 search, so the hash certifies index-served ranking ==
    scan-the-corpus ranking, bit-for-bit."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        bm25_index_search,
        run_bm25_index_stream,
        stage_document_chunks,
    )

    name = f"q_bmidx_{sf_namespace(sf_dir)}"
    stage = stage_document_chunks(sf_dir, 3)
    q = run_bm25_index_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, f"{name}_post", f"{name}_dl", f"{name}_st", f"{name}_del")
    return bm25_index_search(spark, name)


TRAINING_QUERIES["bm25_index_stream_view"] = bm25_index_stream_view


def bm25_index_delete_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 index as a CDC consumer under the oracle gate: the
    3-chunk replay carries D_DEL tombstones for every doc_id % 6 == 0
    (routed one chunk after the insert; the last chunk's keys delete in
    chunk 0 — delete-before-insert), with SIGNED corpus-stats partials
    retracting the dead docs' (count, Σdl). The oracle is the batch
    BM25 over surviving documents — certifying not just that deleted
    docs vanished from the ranking but that every SURVIVOR's score
    shifted to the new df/N/avgdl, at any delete arrival order, across
    folds."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        bm25_index_search,
        run_bm25_index_stream,
        stage_document_cdc_chunks,
    )

    name = f"q_bmidxd_{sf_namespace(sf_dir)}"
    stage = stage_document_cdc_chunks(sf_dir, 3)
    q = run_bm25_index_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, f"{name}_post", f"{name}_dl", f"{name}_st", f"{name}_del")
    return bm25_index_search(spark, name)


TRAINING_QUERIES["bm25_index_delete_stream_view"] = bm25_index_delete_stream_view


def dedup_lsh_index_delete_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NEAR-DUP index as a CDC consumer under the oracle gate: the
    3-chunk document replay carries D_DEL tombstones for every
    doc_id % 7 == 0 (7 is coprime to the 3 chunks, so tombstones spread
    across ALL chunks and delete-before-insert genuinely occurs:
    chunk-2 keys delete in chunk 0),
    inserts cleansed against live tombstones, pairs retracted at read
    when either side died. The oracle is batch MinHash-LSH over
    SURVIVING documents — certifying a dedup index that FORGETS:
    deleted docs neither suppress future near-dups nor appear in served
    pairs, at any delete arrival order, across folds."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        neardup_pairs_view,
        run_neardup_ingest_stream,
        stage_document_cdc_chunks,
    )

    name = f"q_ndcdcd_{sf_namespace(sf_dir)}"
    stage = stage_document_cdc_chunks(sf_dir, 3, delete_mod=7)
    q = run_neardup_ingest_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, f"{name}_bands", f"{name}_shsets", f"{name}_pairs", f"{name}_del")
    return neardup_pairs_view(spark, name)


TRAINING_QUERIES["dedup_lsh_index_delete_stream_view"] = dedup_lsh_index_delete_stream_view


def dedup_lsh_index_purged_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup CDC index after PHYSICAL purge: dead docs' bands,
    shingle sets and dead-sided pairs rewritten out of exactly the
    partitions that hold them (newest-epoch replay guard — see
    `purge_neardup_dead`), run twice to pin idempotence; the served
    pairs must be read-identical, so the twin shares the delete gate's
    oracle. Purge changes bytes, not results."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        neardup_pairs_view,
        purge_neardup_dead,
        run_neardup_ingest_stream,
        stage_document_cdc_chunks,
    )

    name = f"q_ndcdcp_{sf_namespace(sf_dir)}"
    stage = stage_document_cdc_chunks(sf_dir, 3, delete_mod=7)
    q = run_neardup_ingest_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, f"{name}_bands", f"{name}_shsets", f"{name}_pairs", f"{name}_del")
    n1 = purge_neardup_dead(spark, name)
    n2 = purge_neardup_dead(spark, name)
    assert n1 > 0 and n2 == 0, f"near-dup purge not idempotent: {n1} then {n2}"
    return neardup_pairs_view(spark, name)


TRAINING_QUERIES["dedup_lsh_index_purged_stream_view"] = dedup_lsh_index_purged_stream_view


def hybrid_index_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL SEARCH STACK maintained incrementally, under the oracle
    gate: the BM25 inverted index (3-chunk doc replay) and the flat
    vector store (4-chunk embedding replay, FAISS IndexFlat add()
    lifecycle) are each stream-built with folds on, then the hybrid RRF
    query is served ENTIRELY from the two indexes. The oracle is the
    batch `hybrid_search_rrf`, so the hash certifies the index-served
    stack returns the identical fused ranking a corpus scan would."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        hybrid_index_search,
        run_bm25_index_stream,
        run_flat_index_stream,
        stage_document_chunks,
        stage_embedding_chunks,
    )

    ns = sf_namespace(sf_dir)
    bm, fl = f"q_hybm_{ns}", f"q_hyfl_{ns}"
    q1 = run_bm25_index_stream(
        spark, stage_document_chunks(sf_dir, 3), name=bm, fold_every=2, refold_width=2
    )
    drain(spark, q1)
    q2 = run_flat_index_stream(
        spark, stage_embedding_chunks(sf_dir, 4), name=fl, fold_every=2, refold_width=2
    )
    drain(spark, q2, f"{bm}_post", f"{bm}_dl", f"{bm}_st", f"{bm}_del", f"{fl}_vec", f"{fl}_del")
    return hybrid_index_search(spark, bm, fl)


TRAINING_QUERIES["hybrid_index_stream_view"] = hybrid_index_stream_view


def hybrid_index_delete_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full search stack as a CDC consumer under the oracle gate —
    the read side of the index-delete story CLOSED AT THE FUSION layer:
    the BM25 index replays documents with D_DEL tombstones (doc_id % 6
    == 0, routed +1 chunk — delete-before-insert occurs) and the flat
    vector store replays embeddings with V_DEL tombstones (vec_id % 9 ==
    5, same routing), then the hybrid RRF query is served entirely from
    the two tombstone-cleansed indexes. The oracle is batch
    `hybrid_search_rrf` over SURVIVORS on both sides, so the driver
    hash-certifies that a takedown disappears from the FUSED ranking —
    and that every survivor's fused score shifts through BOTH arms (the
    lexical side's df/N/avgdl all move; the semantic side's rank list
    recloses over the surviving store) at any delete arrival order,
    across folds."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        hybrid_index_search,
        run_bm25_index_stream,
        run_flat_index_stream,
        stage_document_cdc_chunks,
        stage_embedding_cdc_chunks,
    )

    ns = sf_namespace(sf_dir)
    bm, fl = f"q_hybmd_{ns}", f"q_hyfld_{ns}"
    q1 = run_bm25_index_stream(
        spark, stage_document_cdc_chunks(sf_dir, 3), name=bm, fold_every=2, refold_width=2
    )
    drain(spark, q1)
    q2 = run_flat_index_stream(
        spark, stage_embedding_cdc_chunks(sf_dir, 4), name=fl, fold_every=2, refold_width=2
    )
    drain(spark, q2, f"{bm}_post", f"{bm}_dl", f"{bm}_st", f"{bm}_del", f"{fl}_vec", f"{fl}_del")
    return hybrid_index_search(spark, bm, fl)


TRAINING_QUERIES["hybrid_index_delete_stream_view"] = hybrid_index_delete_stream_view


def hybrid_index_purged_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC search stack after PHYSICAL purge on BOTH indexes
    (`purge_bm25_index` + `purge_flat_index`, each run twice to pin
    idempotence): dead postings/lengths and dead vectors rewritten out
    of exactly the partitions holding them, tombstones kept, stats
    partials untouched (already retracted by the signed rows). The
    served fusion must be read-identical, so the twin shares the delete
    gate's oracle — search-stack compaction changes bytes, never the
    fused ranking."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        hybrid_index_search,
        purge_bm25_index,
        purge_flat_index,
        run_bm25_index_stream,
        run_flat_index_stream,
        stage_document_cdc_chunks,
        stage_embedding_cdc_chunks,
    )

    ns = sf_namespace(sf_dir)
    bm, fl = f"q_hybmp_{ns}", f"q_hyflp_{ns}"
    q1 = run_bm25_index_stream(
        spark, stage_document_cdc_chunks(sf_dir, 3), name=bm, fold_every=2, refold_width=2
    )
    drain(spark, q1)
    q2 = run_flat_index_stream(
        spark, stage_embedding_cdc_chunks(sf_dir, 4), name=fl, fold_every=2, refold_width=2
    )
    drain(spark, q2, f"{bm}_post", f"{bm}_dl", f"{bm}_st", f"{bm}_del", f"{fl}_vec", f"{fl}_del")
    b1, b2 = purge_bm25_index(spark, bm), purge_bm25_index(spark, bm)
    f1, f2 = purge_flat_index(spark, fl), purge_flat_index(spark, fl)
    assert b1 > 0 and b2 == 0, f"BM25 purge not idempotent: {b1} then {b2}"
    assert f1 > 0 and f2 == 0, f"flat purge not idempotent: {f1} then {f2}"
    return hybrid_index_search(spark, bm, fl)


TRAINING_QUERIES["hybrid_index_purged_stream_view"] = hybrid_index_purged_stream_view


def hybrid_pq_index_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The search stack with the semantic arm served from the
    COMPRESSED (PQ) store, under the oracle gate — the serving-memory
    story at 100 TB: the flat vector store is ~32× the PQ codes, so the
    production hybrid scans ADC codes, not vectors. BM25 replays
    documents (insert-only), the PQ index replays embeddings
    (first-chunk-frozen codebook), and `hybrid_pq_index_search` fuses
    the lexical top list with the ADC top list by the batch RRF
    formula. The oracle re-derives the frozen codebook + full-corpus
    codes and recomputes the SAME integer LUT-sum arithmetic for the
    semantic ranks (the knn_pq oracle pattern), so the driver
    hash-certifies fusion-over-compression end-to-end — including every
    rank shift the lossy codes introduce vs the flat-store hybrid."""
    from pyspark.sql import functions as F

    from ..operators.similarity import _idot, quantize
    from ..session import sf_namespace
    from ..streaming.ingest import (
        hybrid_pq_index_search,
        run_bm25_index_stream,
        run_pq_index_stream,
        stage_document_chunks,
        stage_embedding_chunks,
    )

    ns = sf_namespace(sf_dir)
    bm, pq = f"q_hypqbm_{ns}", f"q_hypqpq_{ns}"
    q1 = run_bm25_index_stream(
        spark, stage_document_chunks(sf_dir, 3), name=bm, fold_every=2, refold_width=2
    )
    drain(spark, q1)
    q2 = run_pq_index_stream(
        spark, stage_embedding_chunks(sf_dir, V.PQ_INDEX_CHUNKS), name=pq,
        fold_every=2, refold_width=2,
    )
    drain(
        spark, q2,
        f"{bm}_post", f"{bm}_dl", f"{bm}_st", f"{bm}_del", f"{pq}_codebook", f"{pq}_codes",
        f"{pq}_del",
    )
    e = _emb(spark, sf_dir).select("vec_id", quantize(F.col("embedding")).alias("q"))
    qv = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).filter(
        F.col("vec_id") == RRF_QUERY_VEC
    )
    return hybrid_pq_index_search(spark, qv, bm, pq)


TRAINING_QUERIES["hybrid_pq_index_stream_view"] = hybrid_pq_index_stream_view


def hybrid_pq_index_delete_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compressed-arm search stack as a CDC consumer — the delete
    twin `hybrid_pq_index_stream_view` needs to be production-complete:
    BM25 replays documents with D_DEL tombstones (doc_id % 6 == 0,
    routed +1 chunk) and the PQ-CDC store replays embeddings with V_DEL
    tombstones (vec_id % 9 == 5), codebook frozen on chunk 0's cleansed
    inserts. The fused query reads both tombstone-cleansed indexes —
    `hybrid_pq_index_search` anti-joins the PQ tombstones in the
    semantic arm. The oracle recomputes frozen training + ADC ranks
    restricted to survivors on both arms, so the driver hash-certifies
    a takedown vanishes from the FUSED ranking at any arrival order
    while the survivors' ranks reclose over the surviving codes."""
    from pyspark.sql import functions as F

    from ..operators.similarity import _idot, quantize
    from ..session import sf_namespace
    from ..streaming.ingest import (
        hybrid_pq_index_search,
        run_bm25_index_stream,
        run_pq_index_stream,
        stage_document_cdc_chunks,
        stage_embedding_cdc_chunks,
    )

    ns = sf_namespace(sf_dir)
    bm, pq = f"q_hypqbmd_{ns}", f"q_hypqpqd_{ns}"
    q1 = run_bm25_index_stream(
        spark, stage_document_cdc_chunks(sf_dir, 3), name=bm, fold_every=2, refold_width=2
    )
    drain(spark, q1)
    q2 = run_pq_index_stream(
        spark, stage_embedding_cdc_chunks(sf_dir), name=pq, fold_every=2, refold_width=2
    )
    drain(
        spark, q2,
        f"{bm}_post", f"{bm}_dl", f"{bm}_st", f"{bm}_del", f"{pq}_codebook", f"{pq}_codes",
        f"{pq}_del",
    )
    e = _emb(spark, sf_dir).select("vec_id", quantize(F.col("embedding")).alias("q"))
    qv = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).filter(
        F.col("vec_id") == RRF_QUERY_VEC
    )
    return hybrid_pq_index_search(spark, qv, bm, pq)


TRAINING_QUERIES["hybrid_pq_index_delete_stream_view"] = (
    hybrid_pq_index_delete_stream_view
)


def bm25_index_purged_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC BM25 index replay followed by the PHYSICAL purge pass
    (`purge_bm25_index` rewrites only partitions holding dead docs'
    postings/lengths), then the served search — same oracle as the
    delete twin, so the driver hash-certifies that search-stack
    compaction changes bytes, never rankings."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        bm25_index_search,
        purge_bm25_index,
        run_bm25_index_stream,
        stage_document_cdc_chunks,
    )

    name = f"q_bmidxp_{sf_namespace(sf_dir)}"
    stage = stage_document_cdc_chunks(sf_dir, 3)
    q = run_bm25_index_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, f"{name}_post", f"{name}_dl", f"{name}_st", f"{name}_del")
    purge_bm25_index(spark, name)
    return bm25_index_search(spark, name)


TRAINING_QUERIES["bm25_index_purged_stream_view"] = bm25_index_purged_stream_view


def order_wide_cascade_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-IVM replay run long enough (8 chunks, fold_every=2,
    refold_width=2) that the SECOND-tier LSM fold (the refold cascade of
    `epochs.commit_epoch`) fires INSIDE the hash-gated path: folds at
    epochs 2 and 4 leave two live tier-1 bases, which cascade into a
    tier-2 base before epoch 6's fold — so the gate certifies reads
    across a three-level partition layout (tier-2 base + tier-1 base +
    fresh positives) on all three tables. Same oracle as the plain
    stream view: the batch join."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        order_wide_view,
        run_join_ivm_stream,
        stage_order_lineitem_chunks,
    )

    name = f"q_owcasc_{sf_namespace(sf_dir)}"
    stage = stage_order_lineitem_chunks(sf_dir, 8)
    q = run_join_ivm_stream(
        spark, stage, name=name, fold_every=2, refold_width=2, maintain_agg=False
    )
    drain(spark, q, f"{name}_v")
    return order_wide_view(spark, name)


TRAINING_QUERIES["order_wide_cascade_stream_view"] = order_wide_cascade_stream_view


def order_wide_upsert_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-IVM stream under the full CDC event mix — inserts,
    O_UPD upserts (status → 'U', custkey + 1000: revenue MOVES across
    customers), O_DEL and L_DEL tombstones — under the oracle gate.
    Updates route +2 chunks after the insert, so only chunk-0 keys'
    updates WIN under arrival-epoch last-write-wins; chunk-1/2 keys get
    the update before the insert and the later insert supersedes it
    (their attributes stay original — the out-of-order contract is IN
    the hash). fold_every exercises the o_version data-column design:
    versioning must survive the watermark fold."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        order_wide_view,
        run_join_ivm_stream,
        stage_order_lineitem_chunks,
    )

    name = f"q_owuview_{sf_namespace(sf_dir)}"
    stage = stage_order_lineitem_chunks(
        sf_dir, n_chunks=3, delete_mod=7, line_delete_mod=5, update_mod=11
    )
    q = run_join_ivm_stream(
        spark, stage, name=name, fold_every=2, refold_width=2,
        maintain_agg=False,
    )
    drain(spark, q, f"{name}_v", f"{name}_d", f"{name}_ld", f"{name}_u")
    return order_wide_view(spark, name)


TRAINING_QUERIES["order_wide_upsert_stream_view"] = order_wide_upsert_stream_view


def revenue_by_cust_upsert_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retractable sum MV under the full CDC mix: a winning upsert
    must retract the key's rows from the OLD customer and re-add them
    under the NEW one (custkey + 1000), so a broken retract-and-emit
    shows directly in the per-customer hashes. Same arrival-order and
    fold coverage as the view twin."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        revenue_by_cust_view,
        run_join_ivm_stream,
        stage_order_lineitem_chunks,
    )

    name = f"q_rbcuview_{sf_namespace(sf_dir)}"
    stage = stage_order_lineitem_chunks(
        sf_dir, n_chunks=3, delete_mod=7, line_delete_mod=5, update_mod=11
    )
    q = run_join_ivm_stream(
        spark, stage, name=name, fold_every=2, refold_width=2
    )
    drain(spark, q, f"{name}_agg")
    return revenue_by_cust_view(spark, name)


TRAINING_QUERIES["revenue_by_cust_upsert_stream_view"] = revenue_by_cust_upsert_stream_view


def order_wide_asof_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TRAVEL read under the oracle gate: replay all 3 chunks, then
    read the view AS OF epoch 1. Each join pair lands in the epoch its
    LATER side arrived (the delta rule's emit contract), so the oracle
    is closed-form: pairs with greatest(order chunk, line chunk) ≤ 1 —
    the hash certifies both the snapshot filter AND the exactly-one-epoch
    emit placement of every pair."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        order_wide_view_asof,
        run_join_ivm_stream,
        stage_order_lineitem_chunks,
    )

    name = f"q_owasof_{sf_namespace(sf_dir)}"
    stage = stage_order_lineitem_chunks(sf_dir, 3)
    q = run_join_ivm_stream(spark, stage, name=name, maintain_agg=False)
    drain(spark, q, f"{name}_v")
    return order_wide_view_asof(spark, 1, name)


TRAINING_QUERIES["order_wide_asof_stream_view"] = order_wide_asof_stream_view


def knn_sq8_index_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAM-MAINTAINED SQ8 index under the oracle gate: replay the
    embeddings in 3 chunks through `run_sq8_index_stream` (first chunk
    trains the frozen per-dim ranges; every chunk appends clamped
    dequantized codes; fold_every=1 + refold_width=2 route the replay
    through tier-1 AND second-tier folds), then search with exact query
    vectors. The oracle re-derives the first-chunk quantizer and the
    SAME saturating clamp, so the gate certifies the freeze contract
    including its honest drift semantics."""
    from pyspark.sql import functions as F

    from ..operators.similarity import _idot, quantize
    from ..session import sf_namespace
    from ..streaming.ingest import (
        run_sq8_index_stream,
        sq8_index_search,
        stage_embedding_chunks,
    )

    name = f"q_sq8idx_{sf_namespace(sf_dir)}"
    stage = stage_embedding_chunks(sf_dir, V.PQ_INDEX_CHUNKS)
    q = run_sq8_index_stream(spark, stage, name=name, fold_every=1, refold_width=2)
    drain(spark, q, f"{name}_stats", f"{name}_codes", f"{name}_del")
    e = _emb(spark, sf_dir).select("vec_id", quantize(F.col("embedding")).alias("q"))
    qs = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).filter(
        F.col("vec_id") % 100 == 0
    )
    return sq8_index_search(spark, qs, name)


TRAINING_QUERIES["knn_sq8_index_view"] = knn_sq8_index_view


def knn_sq8_index_delete_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained SQ8 index as a CDC consumer under the oracle gate
    — FAISS remove_ids() on the scalar-quantized index, the FIFTH and
    last maintained index family to gain the delete story: the 4-chunk
    embedding CDC replay carries V_DEL tombstones (vec_id % 9 == 5,
    routed +1 chunk — delete-before-insert occurs), the per-dim ranges
    stay frozen on the first chunk's cleansed inserts, and the search
    anti-joins live tombstones. Queries are survivors too; the oracle
    replays frozen training + survivor scoring (same clamp semantics)
    in SQL."""
    from pyspark.sql import functions as F

    from ..operators.similarity import _idot, quantize
    from ..session import sf_namespace
    from ..streaming.ingest import (
        run_sq8_index_stream,
        sq8_index_search,
        stage_embedding_cdc_chunks,
    )

    name = f"q_sq8cdcd_{sf_namespace(sf_dir)}"
    stage = stage_embedding_cdc_chunks(sf_dir)
    q = run_sq8_index_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, f"{name}_stats", f"{name}_codes", f"{name}_del")
    e = _emb(spark, sf_dir).select("vec_id", quantize(F.col("embedding")).alias("q"))
    qs = (
        e.withColumn("n2", _idot(F.col("q"), F.col("q")))
        .filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") % 9 != 5))
    )
    return sq8_index_search(spark, qs, name)


TRAINING_QUERIES["knn_sq8_index_delete_view"] = knn_sq8_index_delete_view


def knn_sq8_index_purged_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC SQ8 index after PHYSICAL purge (`purge_sq8_index_dead`,
    run twice to pin idempotence): dead codes rewritten out of exactly
    the partitions holding them, the frozen ranges untouched; served
    search must be read-identical, so the twin shares the delete gate's
    oracle."""
    from pyspark.sql import functions as F

    from ..operators.similarity import _idot, quantize
    from ..session import sf_namespace
    from ..streaming.ingest import (
        purge_sq8_index_dead,
        run_sq8_index_stream,
        sq8_index_search,
        stage_embedding_cdc_chunks,
    )

    name = f"q_sq8cdcp_{sf_namespace(sf_dir)}"
    stage = stage_embedding_cdc_chunks(sf_dir)
    q = run_sq8_index_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, f"{name}_stats", f"{name}_codes", f"{name}_del")
    n1 = purge_sq8_index_dead(spark, name)
    n2 = purge_sq8_index_dead(spark, name)
    assert n1 > 0 and n2 == 0, f"SQ8-index purge not idempotent: {n1} then {n2}"
    spark.catalog.refreshTable(f"{name}_codes")
    e = _emb(spark, sf_dir).select("vec_id", quantize(F.col("embedding")).alias("q"))
    qs = (
        e.withColumn("n2", _idot(F.col("q"), F.col("q")))
        .filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") % 9 != 5))
    )
    return sq8_index_search(spark, qs, name)


TRAINING_QUERIES["knn_sq8_index_purged_view"] = knn_sq8_index_purged_view


def knn_sq8_index_filtered_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED search on the MAINTAINED SQ8 index under the oracle gate
    — `knn_pq_index_filtered_view`'s attribute-scoped design on the
    scalar-quantized store, completing the in-scan filtered story across
    maintained families: the SQ8-CDC replay (V_DEL vec_id % 9 == 5,
    frozen first-chunk ranges) stores the label payload alongside every
    code row, and the read applies the query's label predicate IN-SCAN
    on the tombstone-cleansed asymmetric-scoring path
    (`sq8_index_filtered_search`). Queries are same-rule survivors
    carrying their labels. The oracle replays frozen training +
    dequantized scoring restricted to same-label survivors on both
    sides, so the driver hash-certifies the filter composes with deletes
    AND quantization — not a post-filter of an unfiltered top-k."""
    from pyspark.sql import functions as F

    from ..operators.similarity import _idot, quantize
    from ..session import sf_namespace
    from ..streaming.ingest import (
        run_sq8_index_stream,
        sq8_index_filtered_search,
        stage_embedding_cdc_chunks,
    )

    name = f"q_sq8cdcfv_{sf_namespace(sf_dir)}"
    stage = stage_embedding_cdc_chunks(sf_dir)
    q = run_sq8_index_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, f"{name}_stats", f"{name}_codes", f"{name}_del")
    e = _emb(spark, sf_dir).select(
        "vec_id", "label", quantize(F.col("embedding")).alias("q")
    )
    qs = (
        e.withColumn("n2", _idot(F.col("q"), F.col("q")))
        .filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") % 9 != 5))
    )
    return sq8_index_filtered_search(spark, qs, name)


TRAINING_QUERIES["knn_sq8_index_filtered_view"] = knn_sq8_index_filtered_view


def sq8_index_filtered_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit for the SQ8-served filtered search vs
    `knn_brute_filtered` over SURVIVOR embeddings — pq_index_filtered_
    eval's discipline for the scalar-quantized family: the measured
    price of 8-bit codes on attribute-scoped search against the exact
    pre-filter baseline on the same eligible set, as a hash-gated live
    number (n_exact in-plan, the oracle's ex-subquery shape)."""
    from pyspark.sql import functions as F

    from ..operators.similarity import _idot, quantize
    from ..session import sf_namespace
    from ..streaming.ingest import (
        run_sq8_index_stream,
        sq8_index_filtered_search,
        stage_embedding_cdc_chunks,
    )

    name = f"q_sq8cdcfe_{sf_namespace(sf_dir)}"
    stage = stage_embedding_cdc_chunks(sf_dir)
    q = run_sq8_index_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, f"{name}_stats", f"{name}_codes", f"{name}_del")
    e = _emb(spark, sf_dir).select(
        "vec_id", "label", quantize(F.col("embedding")).alias("q")
    )
    qs = (
        e.withColumn("n2", _idot(F.col("q"), F.col("q")))
        .filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") % 9 != 5))
    )
    m = sq8_index_filtered_search(spark, qs, name).select("query_id", "neighbor_id")
    surv = _emb(spark, sf_dir).filter(F.col("vec_id") % 9 != 5)
    exact = V.knn_brute_filtered(surv).select("query_id", "neighbor_id")
    return (
        m.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .crossJoin(exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact")))
        .crossJoin(m.agg(F.count(F.lit(1)).cast("long").alias("n_method")))
        .select(
            F.lit("sq8_index_filtered").alias("method"),
            "n_exact",
            "n_method",
            "n_common",
            F.round(F.col("n_common") / F.col("n_exact"), 6).alias("recall"),
        )
    )


TRAINING_QUERIES["sq8_index_filtered_eval"] = sq8_index_filtered_eval


def hot_items_mv_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WINDOWED aggregate MV under the oracle gate — the reference's
    flagship hot-items query (HotItemApp.java:54-64) served from a
    stream-maintained, RETENTION-BOUNDED bucket view: replay events as 3
    arrival chunks through `run_window_agg_stream` (per-(5-min bucket,
    item) count partials, fold_every=1 + refold_width=2 so the replay
    crosses both fold tiers), run the PHYSICAL retention GC
    (`expire_hot_window_view` — whole expired arrival epochs drop as
    catalog metadata; folded bases rewrite in place), then serve top-5
    per sliding 1h window from the surviving buckets at the GC's own
    cutoff. The oracle is the batch windowed rollup over events
    restricted to the same data-time retention horizon, so the driver
    hash-certifies maintenance, fold, expiry, and the read-side rollup
    together."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        expire_hot_window_view,
        run_window_agg_stream,
        stage_event_chunks,
    )

    name = f"q_hotw_{sf_namespace(sf_dir)}"
    stage = stage_event_chunks(sf_dir, 3)
    q = run_window_agg_stream(spark, stage, name=name, fold_every=1, refold_width=2)
    drain(spark, q, f"{name}_buckets")
    return expire_hot_window_view(spark, name, retention_s=7 * 86400)


TRAINING_QUERIES["hot_items_mv_stream_view"] = hot_items_mv_stream_view


def top_customers_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TOP-K aggregate MV under the oracle gate — the RANKING member
    of the retraction family (sum is invertible, max rebases touched
    keys, distinct refcounts one grain down; top-k keeps a bounded
    candidate set with an eviction bound and rebases from the group-
    grain MV when retractions sink the K-th candidate to the bound).
    Same deletes-staged join-IVM replay as revenue_by_cust_stream_view
    with maintain_topk=10 stacked on the aggregate partials; the oracle
    is the batch top-10 customers by revenue over surviving orders, so
    the driver hash-certifies candidate maintenance, the eviction-bound
    invariant, and rebase correctness together."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        run_join_ivm_stream,
        stage_order_lineitem_chunks,
        top_customers_by_rev_view,
    )

    name = f"q_tkview_{sf_namespace(sf_dir)}"
    stage = stage_order_lineitem_chunks(sf_dir, n_chunks=3, delete_mod=7)
    q = run_join_ivm_stream(
        spark, stage, name=name, fold_every=2, refold_width=2,
        maintain_topk=10,
    )
    drain(spark, q, f"{name}_tk")
    return top_customers_by_rev_view(spark, name, k=10)


TRAINING_QUERIES["top_customers_stream_view"] = top_customers_stream_view


def value_quantile_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retractable EXACT-QUANTILE MV under the oracle gate — order
    statistics under key-only CDC deletes: replay events as a 3-chunk
    side-tagged feed (every event_id % 7 == 0 gets an E_DEL tombstone
    one chunk after its insert; the last chunk's deletes arrive FIRST)
    through `run_quantile_ivm_stream` with fold_every=2 +
    refold_width=2, then invert the maintained per-(type, value)
    refcount histogram into interpolated p50/p90. The oracle is the
    batch quantile over surviving events at the same cent grain, so the
    driver hash-certifies tombstone resolution, refcount retraction,
    the zero-net-dropping fold, and the order-statistic read."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        run_quantile_ivm_stream,
        stage_event_cdc_chunks,
        value_quantile_view,
    )

    name = f"q_qmv_{sf_namespace(sf_dir)}"
    stage = stage_event_cdc_chunks(sf_dir, 3, delete_mod=7)
    q = run_quantile_ivm_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, f"{name}_hist")
    return value_quantile_view(spark, name)


TRAINING_QUERIES["value_quantile_stream_view"] = value_quantile_stream_view


def heavy_hitters_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable heavy-hitters sketch MV under the oracle gate: the
    per-epoch Misra-Gries-style compression is an exact deterministic
    rule (subtract the (k+1)-th largest batch count, keep survivors,
    bank the subtraction as error mass) and folds are lossless key-sums,
    so the DuckDB oracle replays the identical chunking and compression
    and the driver hash-certifies the served (lower, upper) bounds —
    a sketch under a full hash gate, not a bounded-error one."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        heavy_hitters_view,
        run_heavy_hitters_stream,
        stage_event_chunks,
    )

    name = f"q_hhmv_{sf_namespace(sf_dir)}"
    stage = stage_event_chunks(sf_dir, 3)
    q = run_heavy_hitters_stream(
        spark, stage, name=name, k=32, fold_every=2, refold_width=2
    )
    drain(spark, q, f"{name}_mg")
    return heavy_hitters_view(spark, name)


TRAINING_QUERIES["heavy_hitters_stream_view"] = heavy_hitters_stream_view


def value_quantile_purged_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile-MV replay followed by the PHYSICAL row purge
    (`purge_quantile_rows` rewrites only partitions holding tombstoned
    rows), then the served quantiles — same oracle as the un-purged
    twin, so the driver hash-certifies that the purge changes bytes,
    never results."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        purge_quantile_rows,
        run_quantile_ivm_stream,
        stage_event_cdc_chunks,
        value_quantile_view,
    )

    name = f"q_qmvp_{sf_namespace(sf_dir)}"
    stage = stage_event_cdc_chunks(sf_dir, 3, delete_mod=7)
    q = run_quantile_ivm_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, *(f"{name}_{t}" for t in ("rows", "hist", "d")))
    purge_quantile_rows(spark, name)
    return value_quantile_view(spark, name)


TRAINING_QUERIES["value_quantile_purged_stream_view"] = value_quantile_purged_stream_view


def hot_items_mv_unordered_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The windowed-agg MV replayed OUT OF ORDER (hash-split chunks —
    every epoch spans the full time range, so no arrival epoch can
    metadata-expire whole and GC must take the rewrite path everywhere):
    same oracle as the in-order twin, so the driver hash-certifies that
    bucket maintenance, retention semantics and expiry are
    arrival-order-independent — the retention cutoff is DATA time,
    derived from the maintained buckets themselves."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        expire_hot_window_view,
        run_window_agg_stream,
        stage_event_chunks_unordered,
    )

    name = f"q_hotwu_{sf_namespace(sf_dir)}"
    stage = stage_event_chunks_unordered(sf_dir, n_chunks=3)
    q = run_window_agg_stream(
        spark, stage, name=name, fold_every=1, refold_width=2
    )
    drain(spark, q, f"{name}_buckets")
    return expire_hot_window_view(spark, name, retention_s=7 * 86400)


TRAINING_QUERIES["hot_items_mv_unordered_stream_view"] = hot_items_mv_unordered_stream_view


def flat_index_delete_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flat vector store as a CDC consumer under the oracle gate —
    FAISS remove_ids for the search stack's semantic half: replay
    embeddings as 4 side-tagged chunks (every vec_id % 9 == 5 gets a
    V_DEL one chunk after its insert; the rule intersects the query set,
    so a DELETED QUERY's rows must vanish too), then serve exact cosine
    top-5 from surviving store rows. The oracle is knn_brute over
    surviving vectors, so the driver hash-certifies tombstone cleansing
    at any arrival order on both the corpus and the query side."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        flat_index_search,
        run_flat_index_stream,
        stage_embedding_cdc_chunks,
    )

    name = f"q_fcdc_{sf_namespace(sf_dir)}"
    stage = stage_embedding_cdc_chunks(sf_dir, 4)
    q = run_flat_index_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, *(f"{name}_{t}" for t in ("vec", "del")))
    return flat_index_search(spark, name, k=5)


TRAINING_QUERIES["flat_index_delete_stream_view"] = flat_index_delete_stream_view


def flat_index_purged_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC flat store followed by the PHYSICAL purge
    (`purge_flat_index` rewrites only partitions holding dead vectors),
    then the same search under the same oracle — bytes change, served
    neighbors don't."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        flat_index_search,
        purge_flat_index,
        run_flat_index_stream,
        stage_embedding_cdc_chunks,
    )

    name = f"q_fcdcp_{sf_namespace(sf_dir)}"
    stage = stage_embedding_cdc_chunks(sf_dir, 4)
    q = run_flat_index_stream(spark, stage, name=name, fold_every=2, refold_width=2)
    drain(spark, q, *(f"{name}_{t}" for t in ("vec", "del")))
    purge_flat_index(spark, name)
    return flat_index_search(spark, name, k=5)


TRAINING_QUERIES["flat_index_purged_stream_view"] = flat_index_purged_stream_view


def top_customers_by_status_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GROUPED top-K retraction MV under the oracle gate — the
    fully-DISTRIBUTED variant of top_customers_stream_view: one ranking
    per order status, so candidate maintenance, the eviction-bound
    update, the validity test and the selective per-group rebase are all
    window/join operations with no driver-side scalars (the shape that
    survives a million groups). Same deletes-staged replay; the oracle
    is the batch per-status top-5 over surviving orders."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        run_join_ivm_stream,
        stage_order_lineitem_chunks,
        top_customers_by_group_view,
    )

    name = f"q_tkgview_{sf_namespace(sf_dir)}"
    stage = stage_order_lineitem_chunks(sf_dir, n_chunks=3, delete_mod=7)
    q = run_join_ivm_stream(
        spark, stage, name=name, fold_every=2, refold_width=2,
        maintain_agg=False, maintain_topk_grouped=5,
    )
    drain(spark, q, f"{name}_tkg")
    return top_customers_by_group_view(spark, name, k=5)


TRAINING_QUERIES["top_customers_by_status_stream_view"] = top_customers_by_status_stream_view


def top_customers_by_status_purged_stream_view(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The grouped top-K MV after VERSION GC: same replay as
    `top_customers_by_status_stream_view`, then
    `purge_superseded_topk_groups` physically drops candidate-set
    versions superseded by a committed-safe newer one (the
    sessions/quantile newest-epoch replay guard), run TWICE to pin
    idempotence — and the served result must be read-identical, so the
    twin shares the unpurged gate's oracle. Purge changes bytes, not
    results."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        purge_superseded_topk_groups,
        run_join_ivm_stream,
        stage_order_lineitem_chunks,
        top_customers_by_group_view,
    )

    name = f"q_tkgpview_{sf_namespace(sf_dir)}"
    stage = stage_order_lineitem_chunks(sf_dir, n_chunks=3, delete_mod=7)
    q = run_join_ivm_stream(
        spark, stage, name=name, fold_every=2, refold_width=2,
        maintain_agg=False, maintain_topk_grouped=5,
    )
    drain(spark, q, f"{name}_tkg")
    n1 = purge_superseded_topk_groups(spark, name)
    n2 = purge_superseded_topk_groups(spark, name)  # idempotent second pass
    assert n2 == 0, f"grouped top-K purge not idempotent: {n1} then {n2}"
    return top_customers_by_group_view(spark, name, k=5)


TRAINING_QUERIES["top_customers_by_status_purged_stream_view"] = (
    top_customers_by_status_purged_stream_view
)
