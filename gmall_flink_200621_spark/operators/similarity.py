"""Vector similarity search over the `embeddings` table.

Numeric contract — fixed-point quantization: each float32 component is
mapped to `round(x · 2^24)` as int64 once, and all dot products / squared
norms are *integer* sums over those. Integer addition is associative, so
results are bit-identical regardless of partitioning, reduction order, or
engine — a requirement both for the DuckDB oracle and for deterministic
re-runs on a 1000-executor cluster (double reductions are
order-nondeterministic under AQE). Quantization error is ~2^-24 per
component — orders of magnitude below any meaningful similarity
threshold. Cosine is then a double computed from identical integers.

Scale shape:
- knn_brute: small query set broadcast against the corpus — the corpus is
  never shuffled; ranking shuffles only (query, neighbor, score) triples.
  O(Q·N·d) compute, embarrassingly parallel.
- knn_lsh: random-hyperplane sign buckets (deterministic integer
  coefficients) cut candidates to the query's bucket — the 100 TB path.
- embedding_dedup: near-dup pairs blocked by `label` — Σ per-block²
  instead of N².
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .partitioning import fan_out as _fan_out

KNN_K = 5
LSH_PLANES = 8
DIM = 64
Q_SCALE = 1 << 24  # fixed-point scale; |x|≤~0.53, dim 64 ⇒ sums ≪ 2^63


def quantize(emb: Column) -> Column:
    """array<float> → array<long> fixed-point (round half away from zero,
    identical in Spark and DuckDB)."""
    return F.transform(emb, lambda x: F.round(x.cast("double") * Q_SCALE).cast("long"))


def _idot(a: Column, b: Column) -> Column:
    """Integer dot product of two quantized vectors (order-independent)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v)


def _rank_topk(scored: DataFrame, k: int, score_col: str, nbr_col: str = "neighbor_id") -> DataFrame:
    """The family's shared ranking tail: per-query top-k over a scored
    candidate frame with the canonical deterministic order
    (score desc, neighbor id asc) and the fixed output shape
    (query_id, neighbor_id, round(score, 6), rank int). Only (query,
    neighbor, score) triples enter this shuffle — never vectors."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score_col), F.asc(nbr_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(nbr_col).alias("neighbor_id"),
            F.round(score_col, 6).alias(score_col),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def knn_brute(embeddings: DataFrame, k: int = KNN_K, query_mod: int = 100) -> DataFrame:
    """Exact top-k cosine neighbors for query vectors (vec_id % query_mod == 0).

    Norms are precomputed once per vector (O(N·d)), not per pair (O(Q·N·d))
    — the integer norm is exact, so cosine values are unchanged."""
    e = _fan_out(embeddings).select("vec_id", quantize(F.col("embedding")).alias("q"))
    e = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).persist()  # feeds both join sides
    q = e.select(F.col("vec_id").alias("query_id"), F.col("q").alias("qq"), F.col("n2").alias("qn2"))
    q = q.filter(F.col("query_id") % query_mod == 0)
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("q").alias("qc"), F.col("n2").alias("cn2"))
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).withColumn(
        "cosine",
        _idot(F.col("qq"), F.col("qc")) / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("cn2").cast("double"))),
    )
    return _rank_topk(scored, k, "cosine")


def _plane_coeff(p: int, d: int) -> int:
    """Deterministic pseudo-random hyperplane coefficient in [-500, 499]."""
    return ((p * DIM + d) * 2_654_435_761 + 12_345) % 1000 - 500


LSH_SIGN_BANDS = 4  # bands × rows = 16 planes; candidate iff ANY band matches


def sign_band_frame(e: DataFrame, bands: int, rows: int) -> DataFrame:
    """Stacked banded sign-LSH frame (vec_id, bi, bv) over a quantized
    corpus `e` (vec_id, q, …) — `bands` band values of `rows` sign bits
    each; two vectors are LSH candidates iff ANY band value matches
    (MinHash's OR-amplification applied to random hyperplanes).

    The bands·rows projections run as a RELATIONAL matrix product —
    explode vector components, broadcast-join the (plane, dim, coeff)
    table, two combinable aggregations to (vec, band) buckets. Per-row
    higher-order-function dots (zip_with/aggregate lambdas) are
    INTERPRETED expressions in Spark, measured ~250 µs per row per
    plane here — the join/agg form runs in whole-stage codegen and is
    ~4× faster end-to-end at sf0.1. At scale it shuffles
    (vec, plane, partial) rows — map-side combined, never the vectors.
    Returned persisted: every caller feeds it to BOTH sides of a join."""
    spark = e.sparkSession
    coef = spark.createDataFrame(
        [(p, d, _plane_coeff(p, d)) for p in range(bands * rows) for d in range(DIM)],
        "p int, d int, c long",
    )
    qd = e.select("vec_id", F.posexplode("q").alias("d", "qx"))
    projs = (
        qd.join(F.broadcast(coef), "d")
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("qx") * F.col("c")).alias("proj"))
    )
    return (
        projs.groupBy("vec_id", F.expr(f"p DIV {rows}").cast("int").alias("bi"))
        .agg(
            F.sum(
                F.when(F.col("proj") > 0, F.expr(f"shiftleft(1, p % {rows})"))
                .otherwise(F.lit(0))
                .cast("long")
            ).alias("bv")
        )
        .persist()
    )


def knn_lsh(
    embeddings: DataFrame,
    k: int = KNN_K,
    query_mod: int = 100,
    bands: int = LSH_SIGN_BANDS,
    rows: int = LSH_PLANES // 2,
) -> DataFrame:
    """ANN top-k via BANDED sign-LSH: bands × rows hyperplanes, a
    candidate on ANY whole-band sign match, exact-cosine rerank of the
    candidate union. The single-bucket form (match on all planes at once)
    recalled only 4% of brute's top-k on the test corpus — one 8-bit
    bucket is far too selective; banding is the same OR-amplification
    that makes MinHash-LSH work (P[candidate] = 1-(1-s^rows)^bands), and
    measured recall on the same corpus is ~20× higher at a still-bounded
    candidate count. Scale shape unchanged: bucketing is `bands`
    integer-dot projections per vector, the band frame is stacked long
    form (one (band, bucket) join, not `bands` join branches — the
    minhash trick), only the query subset broadcasts, and the corpus
    never shuffles."""
    e = _fan_out(embeddings).select("vec_id", quantize(F.col("embedding")).alias("q"))
    e = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).persist()
    stacked = sign_band_frame(e, bands, rows)
    qb = stacked.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"), "bi", "bv"
    )
    cands = (
        stacked.select(F.col("vec_id").alias("neighbor_id"), "bi", "bv")
        .join(F.broadcast(qb), ["bi", "bv"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _exact_rerank(e, cands, query_mod, k)


def _exact_rerank(e: DataFrame, cands: DataFrame, query_mod: int, k: int) -> DataFrame:
    """Exact-cosine top-k over a (query_id, neighbor_id) candidate frame
    against the quantized corpus `e` (vec_id, q, n2) — the shared rerank
    tail of every candidate-generation ANN variant: query vectors
    broadcast, corpus vectors join only for candidate rows."""
    qv = e.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq"), F.col("n2").alias("qn2")
    )
    cv = e.select(F.col("vec_id").alias("neighbor_id"), F.col("q").alias("qc"), F.col("n2").alias("cn2"))
    scored = (
        cands.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn(
            "cosine",
            _idot(F.col("qq"), F.col("qc"))
            / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("cn2").cast("double"))),
        )
    )
    return _rank_topk(scored, k, "cosine")


LSH_MULTIPROBE = 2  # extra single-bit-flip probe buckets per band


def knn_lsh_multiprobe(
    embeddings: DataFrame,
    k: int = KNN_K,
    query_mod: int = 100,
    bands: int = LSH_SIGN_BANDS,
    rows: int = LSH_PLANES // 2,
    probes: int = LSH_MULTIPROBE,
) -> DataFrame:
    """Multi-probe sign-LSH (Lv et al., VLDB 2007): recall lift at FIXED
    memory. `knn_lsh` raises recall by adding hash tables (bands) — more
    index storage per vector; multi-probe instead probes, per band, the
    query's own bucket PLUS the `probes` buckets reached by flipping the
    lowest-confidence sign bits — the planes whose projection magnitude
    is smallest, i.e. where the query sits closest to the hyperplane and
    a true neighbor most plausibly lands on the other side. The corpus
    index is IDENTICAL to knn_lsh's (same bands × rows band frame, same
    bytes); only the query's probe set grows, by bands·probes extra
    bucket lookups per query. Deterministic: flip order is
    (|proj| asc, plane asc), so the oracle replays it bit-for-bit.

    Scale shape: probe generation touches only the query subset (the
    per-plane projection frame is |queries|·bands·rows rows); the
    expanded probe frame — (1+probes)× the single-probe one, still tiny —
    broadcasts against the unchanged corpus band frame exactly as in
    knn_lsh; the rerank moves vectors only for candidate rows. Recall at
    equal bands is pinned strictly above knn_lsh's in
    tests/test_ann_eval.py."""
    spark = embeddings.sparkSession
    e = _fan_out(embeddings).select("vec_id", quantize(F.col("embedding")).alias("q"))
    e = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).persist()
    stacked = sign_band_frame(e, bands, rows)

    # query-side raw projections (the probe-confidence signal knn_lsh
    # aggregates away): relational dot against the broadcast coefficient
    # table, queries only
    coef = spark.createDataFrame(
        [(p, d, _plane_coeff(p, d)) for p in range(bands * rows) for d in range(DIM)],
        "p int, d int, c long",
    )
    qd = e.filter(F.col("vec_id") % query_mod == 0).select(
        "vec_id", F.posexplode("q").alias("d", "qx")
    )
    qprojs = (
        qd.join(F.broadcast(coef), "d")
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("qx") * F.col("c")).alias("proj"))
        .persist()
    )
    bi = F.expr(f"p DIV {rows}").cast("int").alias("bi")
    qband = qprojs.groupBy("vec_id", bi).agg(
        F.sum(
            F.when(F.col("proj") > 0, F.expr(f"shiftleft(1, p % {rows})"))
            .otherwise(F.lit(0))
            .cast("long")
        ).alias("bv")
    )
    flips_w = Window.partitionBy("vec_id", "bi").orderBy(
        F.abs(F.col("proj")).asc(), F.col("p").asc()
    )
    flips = (
        qprojs.select("vec_id", "proj", "p", bi, F.expr(f"p % {rows}").alias("bit"))
        .withColumn("rn", F.row_number().over(flips_w))
        .filter(F.col("rn") <= probes)
        .join(qband, ["vec_id", "bi"])
        .select(
            "vec_id",
            "bi",
            F.col("bv").bitwiseXOR(F.expr("shiftleft(1, bit)").cast("long")).alias("bv"),
        )
    )
    qprobe = (
        qband.select("vec_id", "bi", "bv")
        .unionByName(flips)
        .select(F.col("vec_id").alias("query_id"), "bi", "bv")
    )
    cands = (
        stacked.select(F.col("vec_id").alias("neighbor_id"), "bi", "bv")
        .join(F.broadcast(qprobe), ["bi", "bv"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _exact_rerank(e, cands, query_mod, k)


KNN_GRAPH_K = 3
KNN_GRAPH_BUCKET_CAP = 4096  # max vectors per scored (band, bucket) group
_BUCKET_CAP_MAX_EXTRA = 16  # deepest re-band: 2^16 sub-buckets per band value


_ROW_BOUND_MAX_FILES = 64  # driver-side footer reads are sequential I/O


# Logical plan nodes that can emit more rows than they read.
_FANOUT_NODES = frozenset({
    "Join", "LateralJoin", "AsOfJoin", "Generate", "Union", "Expand", "CoGroup",
    "Sample", "MapPartitions", "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow",
    "FlatMapGroupsInPandasWithState", "FlatMapGroupsWithState",
})


def _plan_node_names(node) -> set[str]:
    """Node names of a JVM logical plan and all its descendants."""
    names, stack = set(), [node]
    while stack:
        n = stack.pop()
        names.add(n.nodeName())
        kids = n.children()
        stack += [kids.apply(i) for i in range(kids.size())]
    return names


def _static_row_bound(df: DataFrame, cap: int | None = None) -> int | None:
    """Upper bound on df's row count from parquet FOOTER metadata alone —
    no Spark job. Returns None when the bound is unknowable (non-file
    source, non-parquet, non-local scheme, or more than
    _ROW_BOUND_MAX_FILES files — at 100 TB the input is 10⁵-10⁶ files and
    a full footer sweep is minutes of sequential driver I/O spent to
    learn the bound is useless, so give up after a bounded prefix).
    When `cap` is given, stops at the FIRST file that pushes the running
    total past it and returns that partial total — only valid for
    testing `bound > cap`, not as a full-count upper bound.

    Any relational pipeline over a scan yields at most the scan's rows
    unless it contains a fan-out (join/explode/union), so the bound is
    only sound on row-preserving projections/filters of the scan. That
    invariant is ENFORCED here (not left to callers): any fan-out node
    in the analyzed plan ⇒ None."""
    try:
        files = df.inputFiles()
        if not files or len(files) > _ROW_BOUND_MAX_FILES:
            return None
        # fan-out guard: a join, generator, union, expand, sample (with
        # replacement) or Python map/flatMap node above the scan can
        # multiply rows past the footer total, silently disabling the
        # hot-bucket cap. Current callers pass raw scans; enforce anyway.
        if _plan_node_names(df._jdf.queryExecution().analyzed()) & _FANOUT_NODES:
            return None
    except Exception:  # noqa: BLE001 — e.g. checkpointed/foreign plans
        return None
    import pyarrow.parquet as _pq

    total = 0
    for f in files:
        p = f[7:] if f.startswith("file://") else f[5:] if f.startswith("file:") else f
        if not os.path.isfile(p) or not p.endswith(".parquet"):
            return None
        try:
            total += _pq.ParquetFile(p).metadata.num_rows
        except Exception:  # noqa: BLE001 — unreadable footer ⇒ no bound
            return None
        if cap is not None and total > cap:
            return total  # early exit: enough to prove the bound fails
    return total


def _capped_buckets(
    e: DataFrame,
    stacked: DataFrame,
    bands: int,
    rows: int,
    bucket_cap: int | None,
    n_bound: int | None = None,
) -> DataFrame:
    """(vec_id, bi, bv, sub, sub2, q, n2) with every (bi, bv, sub, sub2)
    group bounded to ~bucket_cap members — the hot-bucket guard for
    `knn_graph`'s per-bucket O(B²·d) matmul.

    Two-stage split, overflow rows only (the common path — no bucket over
    cap — adds ONE count aggregation over the stacked band frame and
    nothing else):

    1. RE-BAND with deeper rows: members of an over-cap (bi, bv) bucket
       get `depth = ceil(log2(bcnt/cap))` additional sign bits from
       hyperplanes BEYOND the banding's bands·rows planes (same
       deterministic coefficient stream, same relational projection as
       sign_band_frame), splitting the bucket ~2^depth ways while keeping
       genuinely-dissimilar members apart — near neighbors share the
       deeper signs too, so recall inside a splittable hot bucket is
       preserved.
    2. HASH-SPLIT the residue: a bucket saturated with near-duplicates
       has near-identical signs at ANY depth (the pathology that makes
       re-banding alone unbounded), so still-over-cap (bi, bv, sub)
       groups get a deterministic `pmod(xxhash64(vec_id), ceil(cnt/cap))`
       split. This is the only lossy stage: same-bucket pairs straddling
       a hash split are missed BY THAT BAND (other bands still propose
       them; within a dup-saturated bucket any k of the ~identical
       neighbors are interchangeable at equal cosine anyway).

    Work bound: stage-2 groups have expected size ≤ cap under the hash
    uniformity of vec_id — so per-group matmul cost is O(cap²·d)
    regardless of corpus pathology.

    Short-circuit, two rungs (r13): a bucket is a subset of the corpus,
    so when the PARQUET FOOTERS already prove N ≤ bucket_cap (callers
    pass `n_bound` from `_static_row_bound` on the pre-projection scan)
    no bucket can overflow and the guard is decided for FREE — no job at
    all. This matters because the probe job ran at PLAN-CONSTRUCTION
    time inside every graph-family query (knn_graph, components/LP/PR/
    triangles, both graph-ANN rungs): ~1.6 s per query at sf0.1, pure
    fixed overhead at test scale. When the bound is inconclusive (real
    corpora: N ≫ cap, or a non-parquet source), fall through to the
    original one-row count-aggregate probe (map-side-combined (bi, bv)
    pairs → a 1-row max, the driver-sees-a-scalar discipline) that
    decides whether ANY bucket overflows; the common no-overflow case
    then keeps the original plan — without this, the overflow branch's
    empty-input stages still scheduled (+~2 s per graph query at sf0.1)
    and its subtrees bloated every consumer's plan."""
    bucketed = stacked.join(e, "vec_id")
    if bucket_cap is not None and n_bound is not None and n_bound <= bucket_cap:
        bucket_cap = None  # provably no over-cap bucket — footer bound
    if bucket_cap is not None:
        sizes = stacked.groupBy("bi", "bv").agg(F.count(F.lit(1)).alias("bcnt"))
        mx = sizes.agg(F.max("bcnt")).first()[0]
        if mx is None or mx <= bucket_cap:
            bucket_cap = None
    if bucket_cap is None:
        return bucketed.withColumn("sub", F.lit(0).cast("long")).withColumn(
            "sub2", F.lit(0).cast("long")
        )
    bucketed = bucketed.join(
        sizes.filter(F.col("bcnt") > bucket_cap), ["bi", "bv"], "left"
    )
    ok = bucketed.filter(F.col("bcnt").isNull()).select(
        "vec_id",
        "bi",
        "bv",
        F.lit(0).cast("long").alias("sub"),
        F.lit(0).cast("long").alias("sub2"),
        "q",
        "n2",
    )
    over = bucketed.filter(F.col("bcnt").isNotNull())
    # ---- stage 1: deeper sign bits for overflow-bucket members only ----
    p0 = bands * rows
    spark = e.sparkSession
    coef = spark.createDataFrame(
        [
            (p, d, _plane_coeff(p0 + p, d))
            for p in range(_BUCKET_CAP_MAX_EXTRA)
            for d in range(DIM)
        ],
        "p int, d int, c long",
    )
    over_vecs = over.select("vec_id").distinct()
    abits = (
        e.join(over_vecs, "vec_id")
        .select("vec_id", F.posexplode("q").alias("d", "qx"))
        .join(F.broadcast(coef), "d")
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("qx") * F.col("c")).alias("proj"))
        .groupBy("vec_id")
        .agg(
            F.sum(
                F.when(F.col("proj") > 0, F.expr("shiftleft(1, p)"))
                .otherwise(F.lit(0))
                .cast("long")
            ).alias("abits")
        )
    )
    over = (
        over.join(abits, "vec_id")
        .withColumn(
            "depth",
            F.least(
                F.lit(_BUCKET_CAP_MAX_EXTRA),
                F.ceil(F.log2(F.col("bcnt") / F.lit(bucket_cap))).cast("int"),
            ),
        )
        .withColumn("sub", F.col("abits").bitwiseAND(F.expr("shiftleft(1, depth) - 1")))
    )
    # ---- stage 2: hash-split any still-saturated (bi, bv, sub) group ----
    resid = over.groupBy("bi", "bv", "sub").agg(F.count(F.lit(1)).alias("cnt2"))
    over = (
        over.join(resid, ["bi", "bv", "sub"])
        .withColumn(
            "sub2",
            F.when(
                F.col("cnt2") > bucket_cap,
                F.pmod(
                    F.xxhash64("vec_id"),
                    F.ceil(F.col("cnt2") / F.lit(bucket_cap)).cast("long"),
                ),
            ).otherwise(F.lit(0).cast("long")),
        )
        .select("vec_id", "bi", "bv", "sub", "sub2", "q", "n2")
    )
    return ok.unionByName(over)


def knn_graph(
    embeddings: DataFrame,
    k: int = KNN_GRAPH_K,
    bands: int = LSH_SIGN_BANDS,
    rows: int = LSH_PLANES // 2,
    bucket_cap: int | None = KNN_GRAPH_BUCKET_CAP,
) -> DataFrame:
    """Corpus-wide k-NN GRAPH: top-k cosine neighbors for EVERY vector
    (not a query subset) — the all-pairs step behind graph-based
    clustering, label propagation over embeddings, and connectivity-based
    curation. Brute force is Θ(N²); this is the Σ-bucket² shape: banded
    sign-LSH buckets (same `sign_band_frame` as knn_lsh), dense
    within-bucket scoring, exact global top-k over the candidate union.

    Within-bucket scoring runs as an Arrow-batched numpy matmul per
    (band, bucket) group (`applyInPandas`) — a documented Pandas-UDF
    exception alongside simhash: a bucket of B vectors needs B²·d
    multiply-adds, which the expression path can only express by either
    interpreted per-row HOF dots (measured ~250 µs/row — hours at bucket
    scale) or a d× row explosion through a join; one int64 BLAS-shaped
    matmul per bucket does the same integer math exactly. Per-src
    pre-pruning to the bucket-local top-k is EXACT (a global top-k pair
    ranks ≤ k within its own bucket under the identical
    (cosine desc, nbr asc) order — the top_n_per_group argument), so each
    bucket emits ≤ B·k rows, not B².

    100 TB shape: vectors shuffle once per band (bands·N rows total, not
    N²); per-bucket cost is bounded by the banding selectivity (rows bits
    ⇒ E[B] ≈ N/2^rows per band — deepen `rows` as N grows to hold bucket
    sizes) AND hard-capped at `bucket_cap` members per scored group by
    `_capped_buckets`: over-cap buckets re-band with deeper sign planes,
    and near-duplicate-saturated residues (which no sign depth splits)
    hash-split deterministically — per-group work is O(bucket_cap²·d)
    under any corpus pathology. At the test SFs every bucket is far under
    the default cap, so the guard is plan-inert there (pinned in
    TestKnnGraphBucketCap alongside a planted-hot-bucket split test).
    Dots are Q_SCALE int64 — dot ≤ 64·(0.53·2²⁴)² < 2⁵³, so the float64
    conversion and the sqrt/divide are IEEE-identical to the DuckDB
    oracle."""
    import numpy as np
    import pandas as pd

    # footer-derived row bound BEFORE any transform (the checkpointed
    # frame below no longer reports its input files): lets the hot-bucket
    # guard skip its probe job when N ≤ cap is already provable
    n_bound = _static_row_bound(embeddings, cap=bucket_cap)
    e = _fan_out(embeddings).select("vec_id", quantize(F.col("embedding")).alias("q"))
    # lazy localCheckpoint, not persist(): this frame feeds banding AND
    # the bucket matmuls, but a persist() is CacheManager-pinned past the
    # query's lifetime — graph consumers invoke knn_graph repeatedly in a
    # full gate run, so the blocks must be GC-reclaimable (ContextCleaner
    # drops checkpoint blocks once the frame is unreachable)
    e = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).localCheckpoint(eager=False)
    stacked = sign_band_frame(e, bands, rows)
    bucketed = _capped_buckets(e, stacked, bands, rows, bucket_cap, n_bound=n_bound)

    def bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"src_id": [], "nbr_id": [], "cosine": []}).astype(
                {"src_id": "int64", "nbr_id": "int64", "cosine": "float64"}
            )
        ids = pdf["vec_id"].to_numpy()
        m = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
        g = m @ m.T  # exact int64 dots
        rt = np.sqrt(pdf["n2"].to_numpy().astype(np.float64))
        cos = g / (rt[:, None] * rt[None, :])
        out_s, out_n, out_c = [], [], []
        for i in range(len(ids)):
            row = cos[i]
            # order: cosine desc, nbr_id asc; self excluded
            order = np.lexsort((ids, -row))
            taken = 0
            for j in order:
                if j == i:
                    continue
                out_s.append(ids[i])
                out_n.append(ids[j])
                out_c.append(row[j])
                taken += 1
                if taken >= k:
                    break
        return pd.DataFrame({"src_id": out_s, "nbr_id": out_n, "cosine": out_c})

    pairs = bucketed.groupBy("bi", "bv", "sub", "sub2").applyInPandas(
        bucket_topk, "src_id long, nbr_id long, cosine double"
    )
    # a pair found by several bands carries the identical cosine — max() is
    # pure dedup, not selection
    uniq = pairs.groupBy("src_id", "nbr_id").agg(F.max("cosine").alias("cosine"))
    w = Window.partitionBy("src_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        uniq.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "src_id",
            "nbr_id",
            F.round("cosine", 6).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# search budget ≈ beam·hops·degree scored candidates per query —
# INDEPENDENT of N, the property that makes graph ANN the serving-time
# default. Tuned like HNSW efSearch: measured recall on this isotropic
# corpus (no navigable cluster structure — the hard case) is 0.48/0.42
# at sf0.01/sf0.1, above raw LSH bucketing's 0.32/0.40 (graph_ann_eval
# serves the live number; beam 8 → 0.16/0.04, beam 64 → 0.84/0.52 —
# the budget-recall dial a deployment turns).
GRAPH_ANN_BEAM = 32  # beam width per query (≥ KNN_K)
GRAPH_ANN_HOPS = 5  # expansion rounds — graph diameter budget
# beam seeds = the query's nearest entry-probe CENTROIDS (graph nodes).
# Scoring the centroid table already touches every centroid per query, so
# seeding at beam-width costs nothing extra and maximizes entry diversity.
GRAPH_ANN_ENTRY_PROBES = 32
# the WALK graph's out-degree — the recall lever (HNSW's M): deg 3 caps
# beam search at 0.60 recall on the isotropic test corpus (the walk
# converges to a local optimum regardless of hops); deg 8 reaches 0.88 at
# sf0.01 (measured, ratchet-pinned). Only the ANN rung pays the denser
# graph — other graph consumers keep KNN_GRAPH_K.
GRAPH_ANN_DEG = 8


def graph_ann_search(
    e: DataFrame,
    edges: DataFrame,
    k: int = KNN_K,
    beam: int = GRAPH_ANN_BEAM,
    hops: int = GRAPH_ANN_HOPS,
    entry_probes: int = GRAPH_ANN_ENTRY_PROBES,
    query_mod: int = 100,
) -> DataFrame:
    """GRAPH-based ANN search — the HNSW-class production default
    (Malkov & Yashunin 2018, single-layer greedy variant), served from a
    k-NN graph instead of an inverted or quantized index: every query
    enters the graph through the house COARSE QUANTIZER (the HNSW
    upper-hierarchy's cheapest approximation — `_seed_cents` + the
    `_ivf_probes` scaffold knn_ivf uses): the query scores the
    index-sized centroid table and the beam seeds AT its `entry_probes`
    nearest centroids — seed vectors are corpus vectors, hence graph
    nodes — so the walk starts in the query's own region instead of at
    uniform fixed seeds, and the hops descend to the exact neighborhood
    from there (recall 0.48 → see test_ann_eval ratchet at the same
    walk budget). `hops` rounds of
    beam search then each expand the current beam by its graph
    neighbors (both edge directions), exactly re-score the union, and
    keep the top `beam` by (cosine desc, id asc) — all deterministic,
    so both engines walk the identical path. cand_i ⊇ beam_{i-1}, so
    beam quality is monotone; the final top-k is the answer. `e`
    carries (vec_id, q, n2); `edges` is a directional per-src top-k
    edge list (batch `knn_graph`'s output or the CDC-maintained
    `knn_graph_cdc_view`), symmetrized here.

    Scale shape: the frontier frames are |Q|·beam rows; each hop is one
    broadcast-joinable edge expansion + an exact re-score against the
    vector store keyed by candidate id (only the frontier's vectors
    move, never the corpus) + a per-query top-beam window over
    ≤ |Q|·beam·(deg+1) rows. No corpus scan anywhere after graph
    construction — the property that makes graph ANN the default at
    serving time. Recall is audited in `graph_ann_eval`; determinism
    makes the whole walk hash-gateable, not just bounded."""
    # checkpointed EAGERLY: every hop joins the symmetrized edge list —
    # without lineage truncation the per-hop plan re-embeds the ENTIRE
    # graph-construction subtree (LSH banding + bucket matmuls) once per
    # hop (measured 20 s vs ~3 s at sf0.1 for hops=5), and the compounded
    # plan TREE itself grows geometrically (a default-heap session OOMs
    # just rendering its explain string). eager=True (r13): a LAZY
    # checkpoint only truncates at materialization, so plan CONSTRUCTION
    # still analyzed the geometric tree on the driver — measured 7.4 s of
    # pure py4j/Catalyst analysis per call at sf0.1 (vs 0.3 s execution)
    # and 10 MiB serialized task binaries; truncating at construction
    # makes each hop's analysis start from a leaf (build 7.4 s → sub-1 s,
    # values unchanged — a checkpoint never changes data)
    sym_lazy = edges.select("src_id", "nbr_id").unionByName(
        edges.select(
            F.col("nbr_id").alias("src_id"), F.col("src_id").alias("nbr_id")
        )
    )
    qs = e.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("n2").alias("qn2"),
    )
    cand_store = e.select(
        F.col("vec_id").alias("cand"), F.col("q").alias("cq"), F.col("n2").alias("cn2")
    )

    def score_top(cands: DataFrame, width: int) -> DataFrame:
        # broadcast the FRONTIER into the store, not the store into the
        # frontier: the candidate set is |Q|·beam·(deg+1) rows by
        # construction (bounded by the query batch, like `qs`), while
        # the vector store is corpus-sized — a plain equi-join here
        # could shuffle the store once per hop at scale; broadcasting
        # the small side pins the store to a scan + hash probe.
        # CEILING (shared with the qs broadcast below): |Q| here is
        # N/query_mod, so both hints assume a bounded query BATCH, not a
        # corpus-proportional one — at |Q|·beam·(deg+1) ≳ 10⁸ rows the
        # broadcast hits the 8 GB / 512M-row relation cap and the hint
        # must be dropped (the equi-join degrades gracefully to a
        # store-side shuffle per hop). Serving at 100 TB batches queries
        # well under that; the mod-sampled eval harness is test-scale.
        scored = (
            cand_store.join(F.broadcast(cands.distinct()), "cand")
            .join(F.broadcast(qs), "query_id")
            .filter(F.col("cand") != F.col("query_id"))
            .select(
                "query_id",
                "cand",
                (
                    _idot(F.col("qq"), F.col("cq"))
                    / (
                        F.sqrt(F.col("qn2").cast("double"))
                        * F.sqrt(F.col("cn2").cast("double"))
                    )
                ).alias("cosine"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand"))
        return (
            scored.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= width)
            .drop("_r")
        )

    # coarse-quantizer entry — the HNSW upper-layer descent: score the
    # query against the centroid table ONLY (seed vectors, index-sized —
    # N/cent_mod rows, never the corpus) and enter the graph AT the
    # entry_probes nearest centroids, which are corpus vectors and hence
    # graph nodes; the walk's own hops do the local refinement from
    # there. Serve cost = |Q|·|centroids| dots + the flat beam·hops·deg
    # walk — measured SERVE-FLAT under 40× corpus growth by
    # tools/ann_serve_scale_curve.py (the first cut joined the probed
    # lists' MEMBERS via a corpus×centroid argmax assignment at serve
    # time — an O(N·nlists) pass per call, 46× at 40× corpus; list
    # membership is maintenance state, not serve work).
    cents = _seed_cents(e, IVF_CENT_MOD)
    qvecs = e.filter(F.col("vec_id") % query_mod == 0)
    c0 = _ivf_probes(qvecs, cents, entry_probes).select(
        "query_id", F.col("list_id").alias("cand")
    )
    # The entry beam checkpoints EAGERLY (truncating the centroid-probe
    # subtree out of every hop plan), then each hop checkpoints LAZILY:
    # `b` is consumed twice per hop so the un-truncated tree still
    # doubles per hop, but after the two eager cuts above it doubles over
    # LEAF-sized scans (2^hops × a handful of plan nodes — cheap to
    # analyze), while execution stays one pipelined job (lazy checkpoints
    # materialize inside it; no per-hop barrier). Measured at sf0.1,
    # interleaved in one session under bench methodology: this split
    # (5.93 s) beats all-eager (6.07 s — six barrier jobs, and 1.60×
    # in the full-bench context) and all-lazy (6.47 s — geometric
    # analysis over the FULL graph+probe subtrees, 10 MiB task
    # binaries; the shape that measured 7.4 s of pure driver analysis).
    # The two eager checkpoints are INDEPENDENT subtrees (the symmetrized
    # edge list embeds the knn_graph build; the entry beam embeds the
    # centroid probe + first re-score — neither references the other), so
    # their barrier jobs run in PARALLEL threads (r14, guide §1.2:
    # sequential barriers serialized ~1.5 s of graph build behind ~1 s of
    # beam scoring on an otherwise idle scheduler; interleaved A/B at
    # sf0.1: 6.08 s -> 5.44 s min-of-5). Spark job submission is
    # thread-safe; values are unchanged — a checkpoint never changes data.
    from concurrent.futures import ThreadPoolExecutor

    b_lazy = score_top(c0, beam)
    with ThreadPoolExecutor(2) as _ex:
        _fsym = _ex.submit(lambda: sym_lazy.localCheckpoint(eager=True))
        _fb = _ex.submit(lambda: b_lazy.localCheckpoint(eager=True))
        sym, b = _fsym.result(), _fb.result()
    for _ in range(hops):
        nbrs = b.join(
            sym, b["cand"] == sym["src_id"]
        ).select("query_id", F.col("nbr_id").alias("cand"))
        b = score_top(
            b.select("query_id", "cand").unionByName(nbrs), beam
        ).localCheckpoint(eager=False)
    return _rank_topk(
        b.select("query_id", F.col("cand").alias("neighbor_id"), "cosine"), k, "cosine"
    )


IVF_CENT_MOD = 137  # seed-vector centroids: vec_id % mod == 1 (~N/137 lists)
IVF_NPROBE = 4


# --------------------------------------------------- shared IVF scaffold
# Every IVF composite (knn_ivf, knn_ivf_trained, knn_ivfsq8, knn_ivfpq,
# the residual/refine pair, and streaming/ingest's index searches) is the
# same three-stage skeleton — coarse quantizer → argmax list assignment →
# top-nprobe probe selection — differing only in WHERE the centroids come
# from (seed vectors vs k-means) and WHICH payload rides through to the
# scoring stage (exact vectors, SQ8 reconstructions, PQ codes, nothing).
# One parameterized builder per stage; the composites only compose.


def _seed_cents(e: DataFrame, cent_mod: int) -> DataFrame:
    """Seed-vector coarse quantizer: the vec_id % cent_mod == 1 rows of a
    quantized corpus (vec_id, q, n2) as (cent_id, cq, cn2) — deterministic
    across engines (k-means would refine placement, not operator shape);
    `_kmeans_state`'s centroid frame is the drop-in TRAINED alternative."""
    return e.filter(F.col("vec_id") % cent_mod == 1).select(
        F.col("vec_id").alias("cent_id"), F.col("q").alias("cq"), F.col("n2").alias("cn2")
    )


def _cent_cos() -> Column:
    """Row-vs-centroid cosine over in-scope (q, n2) × (cq, cn2) columns."""
    return _idot(F.col("q"), F.col("cq")) / (
        F.sqrt(F.col("n2").cast("double")) * F.sqrt(F.col("cn2").cast("double"))
    )


def _ivf_assign(frame: DataFrame, cents: DataFrame, payload: dict[str, str], id_alias: str = "neighbor_id") -> DataFrame:
    """Inverted-list assignment: argmax centroid cosine per vector as ONE
    hash aggregation (max over (cos, -cent_id) structs == cos desc,
    cent_id asc) — no per-vector sort window on the corpus-sized frame.
    `payload` (out_name → in_name) columns ride through the agg (first()
    — constant within the group), so the candidate join needs no second
    corpus join to fetch them. The centroid frame broadcasts; the corpus
    never shuffles — the ×nlists fan-out collapses map-side."""
    carried = [F.first(src).alias(dst) for dst, src in payload.items()]
    return (
        frame.crossJoin(F.broadcast(cents))
        .withColumn("ccos", _cent_cos())
        .groupBy("vec_id")
        .agg(
            F.max(F.struct(F.col("ccos").alias("c"), (-F.col("cent_id")).alias("nc"))).alias("m"),
            *carried,
        )
        .select(
            F.col("vec_id").alias(id_alias),
            (-F.col("m.nc")).alias("list_id"),
            *payload.keys(),
        )
    )


def _ivf_probes(qs: DataFrame, cents: DataFrame, nprobe: int, extra: dict[str, Column] | None = None) -> DataFrame:
    """Top-`nprobe` list selection per query: (query_id, list_id[, extras])
    with the deterministic (centroid cosine desc, cent_id asc) probe
    order. `extra` columns (e.g. the residual composite's dot(query,
    centroid) base term) are computed on the probe row while the centroid
    vector is still in scope. Only the query subset fans out ×nlists."""
    probes_w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cent_id"))
    cols = [F.col("vec_id").alias("query_id"), F.col("cent_id").alias("list_id")]
    if extra:
        cols += [expr.alias(name) for name, expr in extra.items()]
    return (
        qs.crossJoin(F.broadcast(cents))
        .withColumn("ccos", _cent_cos())
        .withColumn("pr", F.row_number().over(probes_w))
        .filter(F.col("pr") <= nprobe)
        .select(*cols)
    )


def _ivf_rank(probes: DataFrame, inv: DataFrame, qv: DataFrame, k: int, vec_col: str, n2_col: str, score_col: str) -> DataFrame:
    """Probe → candidate join → asymmetric scoring → top-k, for the IVF
    variants whose inverted index carries a scorable vector payload
    (exact `q` or a dequantized reconstruction). The broadcast side must
    be the QUERY SUBSET, not the corpus: only ~N/query_mod rows can ever
    match probes' query ids, and a corpus-sized broadcast hash table is a
    driver/executor OOM at scale (the tpch q2/q17 anti-pattern)."""
    scored = (
        probes.join(inv, "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            score_col,
            _idot(F.col("qq"), F.col(vec_col))
            / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col(n2_col).cast("double"))),
        )
    )
    return _rank_topk(scored, k, score_col)


def knn_ivf(
    embeddings: DataFrame,
    k: int = KNN_K,
    query_mod: int = 100,
    cent_mod: int = IVF_CENT_MOD,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF-style ANN (the third scale path beside brute and LSH): a
    deterministic coarse quantizer partitions the corpus into inverted
    lists; each query probes its `nprobe` nearest lists and reranks those
    candidates exactly.

    Centroids are seed vectors (`_seed_cents`) rather than k-means
    iterates — same IVF structure, fully deterministic across engines, so
    the DuckDB oracle replicates the identical lists.
    100 TB shape: assignment is one corpus pass against ~N/cent_mod
    broadcast centroids (no corpus shuffle); the candidate join fans each
    query out to Σ probed-list sizes ≈ nprobe·N/nlist rows, not N.
    Recall < 1 by design — the brute operator is the exact baseline."""
    e = _fan_out(embeddings).select("vec_id", quantize(F.col("embedding")).alias("q"))
    e = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).persist()
    cents = _seed_cents(e, cent_mod)
    # the vector + norm ride through the assignment as the scoring payload
    assign = _ivf_assign(e, cents, {"qc": "q", "cn2": "n2"})
    qs = e.filter(F.col("vec_id") % query_mod == 0)
    probes = _ivf_probes(qs, cents, nprobe)
    qv = qs.select(F.col("vec_id").alias("query_id"), F.col("q").alias("qq"), F.col("n2").alias("qn2"))
    return _ivf_rank(probes, assign, qv, k, "qc", "cn2", "cosine")


FILTERED_NPROBE = IVF_NPROBE + 2  # predicate thins lists — probe wider


def knn_brute_filtered(
    embeddings: DataFrame, k: int = KNN_K, query_mod: int = 100
) -> DataFrame:
    """FILTERED vector search, exact baseline: per-query top-k cosine
    restricted to corpus rows sharing the query's `label` — the
    tenant-/attribute-scoped search every production vector store
    exposes (FAISS `IDSelector`, Qdrant/Milvus payload filters). This is
    the PRE-FILTER strategy: the predicate lands before scoring, so
    recall over the eligible set is exactly 1 (post-filtering a plain
    top-k instead can return < k or miss eligible neighbors entirely —
    the classic filtered-ANN failure mode).

    Scale shape: identical to `knn_brute` (queries broadcast, corpus
    never shuffles) with the label-equality conjunct folded into the
    broadcast-join condition, cutting scored pairs to Q·N/|labels|."""
    e = _fan_out(embeddings).select(
        "vec_id", "label", quantize(F.col("embedding")).alias("q")
    )
    e = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).persist()
    q = e.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("q").alias("qq"),
        F.col("n2").alias("qn2"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.col("q").alias("qc"),
        F.col("n2").alias("cn2"),
    )
    scored = c.join(
        F.broadcast(q),
        (F.col("label") == F.col("qlabel"))
        & (F.col("query_id") != F.col("neighbor_id")),
    ).withColumn(
        "cosine",
        _idot(F.col("qq"), F.col("qc"))
        / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("cn2").cast("double"))),
    )
    return _rank_topk(scored, k, "cosine")


def knn_ivf_filtered(
    embeddings: DataFrame,
    k: int = KNN_K,
    query_mod: int = 100,
    cent_mod: int = IVF_CENT_MOD,
    nprobe: int = FILTERED_NPROBE,
) -> DataFrame:
    """FILTERED IVF search: the label predicate is applied to CANDIDATES
    inside the probed lists (FAISS's IDSelector-during-scan strategy) —
    not by post-filtering the unfiltered top-k, which under-returns
    whenever the true same-label neighbors rank below k globally.

    Because the predicate thins every list by ~|labels|×, the default
    probe width is raised (`FILTERED_NPROBE`) — the production tuning
    rule for filtered IVF: probe wider as selectivity grows, degrading
    toward a filtered scan for very selective predicates. The label
    rides the inverted index as assignment payload, so the filter costs
    no extra join. `knn_brute_filtered` is the exact baseline the
    recall pin measures against."""
    e = _fan_out(embeddings).select(
        "vec_id", "label", quantize(F.col("embedding")).alias("q")
    )
    e = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).persist()
    cents = _seed_cents(e, cent_mod)
    # label joins the scoring payload: the candidate filter needs no
    # second corpus join
    assign = _ivf_assign(e, cents, {"qc": "q", "cn2": "n2", "nlabel": "label"})
    qs = e.filter(F.col("vec_id") % query_mod == 0)
    probes = _ivf_probes(qs, cents, nprobe, extra={"qlabel": F.col("label")})
    qv = qs.select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq"), F.col("n2").alias("qn2")
    )
    scored = (
        probes.join(assign, "list_id")
        .filter(
            (F.col("nlabel") == F.col("qlabel"))
            & (F.col("query_id") != F.col("neighbor_id"))
        )
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "cosine",
            _idot(F.col("qq"), F.col("qc"))
            / (
                F.sqrt(F.col("qn2").cast("double"))
                * F.sqrt(F.col("cn2").cast("double"))
            ),
        )
    )
    return _rank_topk(scored, k, "cosine")


RP_DIM = 16  # Johnson-Lindenstrauss target dimensionality (64 → 16)
RP_PLANE_OFFSET = 1000  # coeff stream offset — independent of the LSH planes
RP_SHIFT = 4096  # power-of-two post-projection downscale (keeps dots < 2^63)


def rp_project(e: DataFrame, out_dim: int = RP_DIM) -> DataFrame:
    """Random-projection (Johnson-Lindenstrauss) dimensionality reduction
    64 → `out_dim`, entirely in the fixed-point integer contract: the
    projection matrix is the deterministic `_plane_coeff` stream (offset
    so it shares nothing with the LSH planes), applied as the SAME
    relational matmul as `sign_band_frame` (posexplode + broadcast coeff
    join + combinable sum — whole-stage codegen, map-side combined,
    vectors never shuffle whole). Projected components downscale by a
    power of two via floor(x/4096) — exact on doubles below 2^53 and
    identical in DuckDB — so 16-dim dots stay < 2^63
    (|q_i| ≤ 0.53·2^24, |c| ≤ 500 ⇒ |proj| ≤ 2.8e11 ⇒ scaled ≤ 6.9e7 ⇒
    dot ≤ 16·(6.9e7)² ≈ 7.6e16). Output: (vec_id, qp array<long>, n2p).

    The JL use-case: any downstream distance computation (ANN probing,
    clustering, dedup blocking) runs 4× fewer multiply-adds per pair at
    a bounded cosine distortion — `knn_rp`'s pinned recall measures that
    distortion on this corpus."""
    spark = e.sparkSession
    coef = spark.createDataFrame(
        [
            (p, d, _plane_coeff(RP_PLANE_OFFSET + p, d))
            for p in range(out_dim)
            for d in range(DIM)
        ],
        "p int, d int, c long",
    )
    qd = e.select("vec_id", F.posexplode("q").alias("d", "qx"))
    return (
        qd.join(F.broadcast(coef), "d")
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("qx") * F.col("c")).alias("proj"))
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "p",
                            F.floor(F.col("proj") / F.lit(float(RP_SHIFT)))
                            .cast("long")
                            .alias("s"),
                        )
                    )
                ),
                lambda st: st.s,
            ).alias("qp")
        )
        .withColumn("n2p", _idot(F.col("qp"), F.col("qp")))
    )


def knn_rp(
    embeddings: DataFrame,
    k: int = KNN_K,
    query_mod: int = 100,
    out_dim: int = RP_DIM,
) -> DataFrame:
    """Exact top-k cosine in the RANDOM-PROJECTED space (`rp_project`) —
    the JL speed/recall trade measured end-to-end: the scan and ranking
    shape is knn_brute's (query subset broadcasts, corpus never
    shuffles), but every pair costs out_dim multiply-adds instead of 64.
    Projected cosine ≠ original cosine (that's the point — recall vs
    brute IS the distortion metric, pinned exactly in tests: 0.04 /
    0.08 at sf0.001/sf0.01). That near-floor recall is itself the
    finding this audit exists to surface: the synthetic testdata is
    isotropic noise, whose top-k gaps are smaller than JL's ε ≈
    √(ln n / out_dim) distortion — a REAL embedding corpus concentrates
    near a low-dimensional manifold and keeps most of its neighborhood
    structure at 4× compression. Run knn_rp vs knn_brute on a corpus
    sample BEFORE adopting projected distances anywhere downstream; a
    recall this low says don't. Within the operator everything is
    integer-exact, so the oracle hash-certifies it like the rest of the
    family."""
    e = _fan_out(embeddings).select("vec_id", quantize(F.col("embedding")).alias("q"))
    p = rp_project(e, out_dim).persist()  # feeds both join sides
    q = p.select(
        F.col("vec_id").alias("query_id"), F.col("qp").alias("qq"), F.col("n2p").alias("qn2")
    ).filter(F.col("query_id") % query_mod == 0)
    c = p.select(
        F.col("vec_id").alias("neighbor_id"), F.col("qp").alias("qc"), F.col("n2p").alias("cn2")
    )
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).withColumn(
        "cosine_rp",
        _idot(F.col("qq"), F.col("qc"))
        / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("cn2").cast("double"))),
    )
    return _rank_topk(scored, k, "cosine_rp")


def knn_ivf_trained(
    embeddings: DataFrame,
    k: int = KNN_K,
    query_mod: int = 100,
    cent_mod: int | None = None,
    iters: int | None = None,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF with a k-means-TRAINED coarse quantizer — the production FAISS
    IVF recipe (train centroids, assign inverted lists, probe) where
    `knn_ivf` uses raw seed vectors: trained centroids sit at cluster
    means, balancing list sizes. On clustered corpora that lifts
    recall-per-candidate; on this near-uniform synthetic testdata the
    effect is data-dependent (measured same-nlist: 0.56 vs seed 0.64 at
    sf0.001, 0.60 vs 0.52 at sf0.01 — pinned exactly in tests, no
    superiority claimed), the operator's value being the trained-quantizer
    SHAPE. The whole pipeline stays in the engine's fixed-point contract —
    `_kmeans_state` is the exact deterministic Lloyd's core
    kmeans_embeddings certifies, so the DuckDB oracle replicates training
    AND probing bit-for-bit.

    Scale shape: training is `_kmeans_state`'s (corpus passes against
    broadcast centroids, (cluster, pos, partial) update shuffles); the
    probe phase reuses the final assignment frame — which already carries
    each vector and norm — as the inverted index, so no corpus re-join;
    only the query subset broadcasts (the knn_ivf discipline, never the
    corpus)."""
    cent_mod = cent_mod or KM_CENT_MOD
    iters = KM_ITERS if iters is None else iters
    e, assign, cents = _kmeans_state(embeddings, cent_mod, iters)
    # the final k-means assignment — which already carries each vector and
    # norm — IS the inverted index; no corpus re-join, no second _ivf_assign
    inv = assign.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cluster").alias("list_id"),
        F.col("q").alias("qc"),
        F.col("n2").alias("cn2"),
    )
    qs = e.filter(F.col("vec_id") % query_mod == 0)
    probes = _ivf_probes(qs, cents, nprobe)
    qv = qs.select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq"), F.col("n2").alias("qn2")
    )
    return _ivf_rank(probes, inv, qv, k, "qc", "cn2", "cosine")


EMB_DEDUP_THRESHOLD = 0.35  # testdata has no planted vector dups; 0.35 ≈ top 0.1% of intra-label pairs


def embedding_dedup(embeddings: DataFrame, threshold: float = EMB_DEDUP_THRESHOLD) -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ threshold), label-blocked."""
    e = _fan_out(embeddings).select("vec_id", "label", quantize(F.col("embedding")).alias("q"))
    e = e.withColumn("n2", _idot(F.col("q"), F.col("q")))
    a = e.select(F.col("vec_id").alias("id_a"), F.col("q").alias("qa"), F.col("n2").alias("na"), "label")
    b = e.select(F.col("vec_id").alias("id_b"), F.col("q").alias("qb"), F.col("n2").alias("nb"), "label")
    pairs = a.join(b, "label").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn(
            "cosine",
            _idot(F.col("qa"), F.col("qb")) / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


KM_CENT_MOD = 29  # seed centroids: vec_id % mod == 1 (~N/29 clusters)
KM_ITERS = 2  # centroid updates; iters+1 assignment passes total
# Lloyd/PQ centroid-frame checkpoints are LAZY (eager=False at the call
# sites, r13 A/B): the frame materializes inside the next consuming job
# (broadcast build or the final action) instead of paying one barrier
# job per training round. Values are unchanged either way.
SEMDEDUP_THRESHOLD = 0.42  # testdata has no planted dups; ≈ top intra-cluster pairs


def _assign_to_cents(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Argmax-cosine cluster assignment as ONE hash aggregation (max over
    (cos, -cent_id) structs == cosine desc, cent_id asc) — the same
    no-window shape as knn_ivf's list assignment. `cents` is broadcast;
    the corpus never shuffles.

    The vector and its norm ride THROUGH the aggregation (`first` is
    deterministic — q/n2 are constant within a vec_id group), so
    downstream stages (the centroid update, semdedup's pair join) consume
    them directly instead of re-joining the corpus frame — one shuffle
    join per Lloyd iteration removed; the shuffle payload is the same
    (vec_id, q) rows the join would have moved anyway."""
    ccos = _idot(F.col("q"), F.col("cq")) / (
        F.sqrt(F.col("n2").cast("double")) * F.sqrt(F.col("cn2").cast("double"))
    )
    return (
        e.crossJoin(F.broadcast(cents))
        .withColumn("ccos", ccos)
        .groupBy("vec_id")
        .agg(
            F.max(F.struct(F.col("ccos").alias("c"), (-F.col("cent_id")).alias("nc"))).alias("m"),
            F.first("q").alias("q"),
            F.first("n2").alias("n2"),
        )
        .select(
            "vec_id",
            (-F.col("m.nc")).alias("cluster"),
            F.col("m.c").alias("cosine"),
            "q",
            "n2",
        )
    )


def _kmeans_state(
    embeddings: DataFrame, cent_mod: int, iters: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared Lloyd's-iteration core: returns (quantized corpus `e`
    [persisted], final assignment (vec_id, cluster, cosine), final
    centroid frame (cent_id, cq, cn2) — the assignment's quantizer).

    Entirely in Q_SCALE fixed point so every engine reproduces it
    bit-for-bit: seeds are the vec_id % cent_mod == 1 vectors; each update
    recomputes centroid components as round(Σ q[pos] / n) — an exact
    int64 sum (cluster sizes < 2^28 keep it < 2^53, documented bound) and
    one correctly-rounded IEEE division, so the re-quantized centroid is
    identical in Spark and DuckDB. Cluster identity stays the seed vec_id;
    clusters that lose all members drop out in both engines alike.

    100 TB shape: the corpus frame is scanned once per assignment pass
    against ~N/cent_mod broadcast centroids (no corpus shuffle); each
    update shuffles only (cluster, pos, partial-sum) triples — map-side
    combined, never the vectors. The tiny centroid frame is
    localCheckpoint-ed per iteration so the loop's logical plan stays
    constant-size (the dedup_clusters lesson)."""
    e = _fan_out(embeddings).select("vec_id", quantize(F.col("embedding")).alias("q"))
    e = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).persist()
    cents = e.filter(F.col("vec_id") % cent_mod == 1).select(
        F.col("vec_id").alias("cent_id"), F.col("q").alias("cq"), F.col("n2").alias("cn2")
    )
    assign = _assign_to_cents(e, cents)
    for _ in range(iters):
        # assign carries q — the update consumes it directly, no corpus re-join
        upd = (
            assign.select("cluster", F.posexplode("q").alias("pos", "qx"))
            .groupBy("cluster", "pos")
            .agg(F.sum("qx").alias("s"), F.count(F.lit(1)).alias("n"))
            .withColumn("cq_el", F.round(F.col("s") / F.col("n")).cast("long"))
        )
        cents = (
            upd.groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cq_el"))), lambda s: s.cq_el
                ).alias("cq")
            )
            .select(F.col("cluster").alias("cent_id"), "cq")
            .withColumn("cn2", _idot(F.col("cq"), F.col("cq")))
            .localCheckpoint(eager=False)
        )
        assign = _assign_to_cents(e, cents)
    return e, assign, cents


def kmeans_embeddings(
    embeddings: DataFrame, cent_mod: int = KM_CENT_MOD, iters: int = KM_ITERS
) -> DataFrame:
    """Deterministic k-means over the embedding column (kmeans_embeddings:
    seed → assign → update ×iters → final assignment) — the clustering
    step of SemDeDup-style curation, topic bucketing, and IVF training."""
    _, assign, _cents = _kmeans_state(embeddings, cent_mod, iters)
    return assign.select(
        "vec_id", F.col("cluster").cast("long").alias("cluster"), F.round("cosine", 6).alias("cosine")
    )


def semdedup(
    embeddings: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    cent_mod: int = KM_CENT_MOD,
    iters: int = KM_ITERS,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-dup removal blocked by
    k-means cluster — pairs are only scored within a cluster, so the pair
    space is Σ cluster² instead of N². A vector is dropped iff some
    smaller-vec_id cluster-mate sits at cosine ≥ threshold (greedy
    keep-lowest-id, same canonical rule as dedup_exact); emitted as
    (vec_id, cluster, is_dup) so downstream filters keep `NOT is_dup`."""
    _, assign, _cents = _kmeans_state(embeddings, cent_mod, iters)
    # m feeds BOTH sides of the pair join and the final output — persist,
    # or the whole final assignment pass (crossJoin + argmax agg) re-runs
    # three times; assign already carries q/n2, no corpus re-join needed
    m = assign.select("vec_id", "cluster", "q", "n2").persist()
    a = m.select(F.col("vec_id").alias("id_a"), "cluster", F.col("q").alias("qa"), F.col("n2").alias("na"))
    b = m.select(F.col("vec_id").alias("id_b"), "cluster", F.col("q").alias("qb"), F.col("n2").alias("nb"))
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            _idot(F.col("qa"), F.col("qb")) / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))),
        )
        .filter(F.col("cosine") >= threshold)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        m.select("vec_id", F.col("cluster").cast("long").alias("cluster"))
        .join(dropped, "vec_id", "left")
        .select("vec_id", "cluster", F.coalesce("is_dup", F.lit(False)).alias("is_dup"))
    )


def embedding_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid of the embedding column, in long form
    (label, pos, sum_q, n_vecs, centroid) — the aggregation every
    embedding-space pipeline needs (cluster centers, class prototypes,
    drift monitoring; also one full iteration of Lloyd's k-means with
    labels as the assignment).

    Element-wise float summation is order-dependent, so the sum runs in
    the same Q_SCALE fixed point as the kNN family: posexplode the
    quantized vector, one hash-agg on (label, pos) with map-side partial
    sums — the only shuffle carries (label, pos, partial_sum), never the
    vectors. The centroid is ONE IEEE division of two exact ints, so both
    engines produce identical doubles. Long form avoids the
    collect_list/sort re-assembly a vector-shaped output would need (and
    re-assembly is one `sort_array(collect_list(struct(pos, val)))` away
    when a consumer wants it)."""
    q = _fan_out(embeddings).select("label", F.posexplode(quantize(F.col("embedding"))).alias("pos0", "qx"))
    return (
        q.groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(F.sum("qx").alias("sum_q"), F.count(F.lit(1)).alias("n_vecs"))
        .select(
            "label",
            F.col("pos").cast("long").alias("pos"),
            "sum_q",
            "n_vecs",
            (F.col("sum_q") / (F.col("n_vecs") * F.lit(float(Q_SCALE)))).alias("centroid"),
        )
    )


HN_K = 3
HN_QUERY_MOD = 50


def hard_negatives(embeddings: DataFrame, k: int = HN_K, query_mod: int = HN_QUERY_MOD) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector (vec_id % query_mod == 0), the top-k most-similar vectors with
    a DIFFERENT label — the near-boundary negatives that make contrastive
    batches informative (high-cosine, wrong-class).

    Same scale shape as `knn_brute`: the small query subset (with its
    labels) is broadcast, the corpus is scanned in place and never
    shuffled; only (query, neighbor, cosine) triples enter the ranking
    shuffle. The label-mismatch predicate rides in the join condition so
    same-class pairs are dropped before the cosine is computed. For
    corpus-scale mining (every doc a query), swap the broadcast for the
    `knn_lsh`/`knn_ivf` bucketed candidate generation and apply the same
    label filter in the bucket join."""
    e = _fan_out(embeddings).select("vec_id", "label", quantize(F.col("embedding")).alias("q"))
    e = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).persist()
    qs = e.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("q").alias("qq"),
        F.col("n2").alias("qn2"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("q").alias("qc"),
        F.col("n2").alias("cn2"),
    )
    scored = c.join(F.broadcast(qs), F.col("query_label") != F.col("neighbor_label")).withColumn(
        "cosine",
        _idot(F.col("qq"), F.col("qc"))
        / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("cn2").cast("double"))),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            F.round("cosine", 6).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


INT8_MAX = 127


def embedding_quantize(embeddings: DataFrame) -> DataFrame:
    """Per-vector int8 scalar-quantization report: symmetric per-row scale
    (max |x| / 127), quantize-dequantize round trip, and the resulting
    max-abs / mean-squared reconstruction error — the audit a pipeline
    runs before switching ANN serving or training-data storage to int8.

    Entirely row-local (one scan, zero shuffle); errors are computed in
    double from the float32 components widened exactly as the DuckDB
    oracle widens them, so values hash-match. Vectors of all-zeros get
    scale 0 and zero error (guarded division)."""
    e = _fan_out(embeddings).select("vec_id", F.col("embedding").alias("v"))
    absmax = F.array_max(F.transform("v", lambda x: F.abs(x.cast("double"))))
    scale = absmax / INT8_MAX
    err = F.transform(
        "v",
        lambda x: F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(
            F.abs(
                x.cast("double")
                - F.least(
                    F.lit(float(INT8_MAX)), F.greatest(F.lit(float(-INT8_MAX)), F.round(x.cast("double") / F.col("scale")))
                )
                * F.col("scale")
            )
        ),
    )
    t = e.withColumn("scale", scale).withColumn("err", err)
    return t.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.round(F.array_max("err"), 6).alias("max_abs_err"),
        F.round(
            F.aggregate("err", F.lit(0.0), lambda acc, x: acc + x * x) / F.size("v"), 6
        ).alias("mse"),
    )


# ------------------------------------------------------- scalar quantizer

SQ_LEVELS = 255  # 8-bit codes: 256 levels, codes in [0, 255]


def _rdiv(n: Column, d: Column) -> Column:
    """Round-half-up of n/d for non-negative int64 n, positive int64 d —
    exact: floor((2n + d) / (2d)). The double division is safe to floor:
    operands < 2^53 so the correctly-rounded quotient differs from the
    exact rational by < ulp ≈ 3e-14, while the rational (denominator
    2d ≤ ~7e7) is never closer than ~1.4e-8 to an integer it doesn't
    equal — identical in DuckDB, so codes hash-match cross-engine."""
    return F.floor((2 * n + d) / (2 * d)).cast("long")


def _sq8_stats(e: DataFrame) -> DataFrame:
    """The trained SQ8 quantizer as ONE broadcastable row (mn, step):
    per-dimension min and (max − min) over the quantized corpus. Fully
    distributed — posexplode to (pos, x), per-dim min/max collapse
    map-side to DIM rows per partition, then one array_sort(collect_list)
    fold to arrays; the corpus is scanned once and never shuffled."""
    dims = (
        e.select(F.posexplode("q").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), (F.max("x") - F.min("x")).alias("st"))
    )
    return dims.groupBy().agg(
        F.transform(F.array_sort(F.collect_list(F.struct("pos", "mn"))), lambda s: s.mn).alias("mn"),
        F.transform(F.array_sort(F.collect_list(F.struct("pos", "st"))), lambda s: s.st).alias("step"),
    )


def sq8_xhat_el(x: Column, i: Column) -> Column:
    """One dequantized SQ8 component over in-scope `mn`/`step` array
    columns: code = round-half-up((x−mn)·255/step) CLAMPED to [0, 255],
    x̂ = mn + round-half-up(code·step/255). The clamp is a no-op when the
    quantizer trained on the full corpus (x ∈ [mn, mn+step] by
    construction) and is load-bearing for a FROZEN quantizer serving
    later arrivals outside the trained ranges (`run_sq8_index_stream`) —
    FAISS's saturating-cast behavior, identically in the oracle."""
    mn, st = F.get("mn", i), F.get("step", i)
    code = F.least(
        F.lit(SQ_LEVELS).cast("long"),
        F.greatest(F.lit(0).cast("long"), _rdiv((x - mn) * SQ_LEVELS, st)),
    )
    return mn + F.when(st <= 0, F.lit(0).cast("long")).otherwise(
        _rdiv(code * st, F.lit(SQ_LEVELS).cast("long"))
    )


def knn_sq8(embeddings: DataFrame, k: int = KNN_K, query_mod: int = 100) -> DataFrame:
    """Scalar-quantization ANN (FAISS IndexScalarQuantizer QT_8bit): the
    third compression point on the bytes-per-candidate axis — float32
    (brute) → 8-bit-per-dim (this, 4×) → PQ codes (knn_pq, 32×). Train =
    per-DIMENSION (min, max) over the corpus; encode = one uint8 level
    per component, code = round((x−mn)·255/step); search = asymmetric
    distance, EXACT query against the dequantized candidate
    x̂ = mn + round(code·step/255).

    Complements `embedding_quantize` (the per-ROW symmetric int8 audit):
    this is the per-dim TRAINED quantizer actually serving, certified
    end-to-end under the oracle. All arithmetic stays in the family's
    int64 fixed-point contract (`_rdiv` round-half-up on the 2^24-scaled
    components, then exact integer dots), so train/encode/search are
    bit-identical across partitionings and engines. Unlike PQ there is
    no codebook k-means — training is one min/max scan, the cheapest
    trained index in the family; recall is correspondingly the highest
    of the compressed methods (8-bit per-dim error ≈ step/510 ≈ 0.2% of
    the range — `ann_eval` reports it next to pq/ivfpq honestly).

    Scale shape — knn_brute's exactly: the 1-row quantizer broadcasts,
    encode is a map-only scan (corpus never shuffles), and only (query,
    neighbor, score) triples enter the top-k ranking shuffle. At 100 TB
    the dequantized scan reads 4× fewer candidate bytes than brute while
    keeping per-dim resolution (use PQ when the index must fit RAM;
    SQ8 when recall matters more than memory)."""
    e = _fan_out(embeddings).select("vec_id", quantize(F.col("embedding")).alias("q"))
    e = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).persist()
    c = (
        e.crossJoin(F.broadcast(_sq8_stats(e)))
        .select("vec_id", F.transform("q", sq8_xhat_el).alias("xh"))
        .withColumn("rn2", _idot(F.col("xh"), F.col("xh")))
    )
    qs = e.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq"), F.col("n2").alias("qn2")
    )
    scored = c.join(F.broadcast(qs), F.col("query_id") != F.col("vec_id")).withColumn(
        "cosine_sq8",
        _idot(F.col("qq"), F.col("xh"))
        / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("rn2").cast("double"))),
    )
    return _rank_topk(scored, k, "cosine_sq8", nbr_col="vec_id")


def knn_ivfsq8(
    embeddings: DataFrame,
    k: int = KNN_K,
    query_mod: int = 100,
    cent_mod: int = IVF_CENT_MOD,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF-SQ8 composite ANN (FAISS IndexIVFScalarQuantizer): knn_ivf's
    inverted lists cut CANDIDATES (each query scores only its nprobe
    probed lists), knn_sq8's per-dim 8-bit codes cut BYTES-PER-CANDIDATE
    (4×) — the high-recall sibling of knn_ivfpq for deployments where the
    4× (not 32×) compression still fits memory: SQ8's per-dim resolution
    keeps recall near the uncompressed IVF's instead of PQ's coarse-code
    levels (measured in `ann_eval`, pinned in tests).

    Composition is literal: the coarse quantizer, list assignment and
    probe selection are knn_ivf's exactly (the shared `_seed_cents` /
    `_ivf_assign` / `_ivf_probes` scaffold, corpus never shuffled); the
    candidate payload carried through the assignment aggregation is the
    dequantized x̂/‖x̂‖² instead of the exact vector; scoring is knn_sq8's
    asymmetric distance. All integer fixed-point, so the DuckDB oracle
    composes the same two certified CTE blocks."""
    e = _fan_out(embeddings).select("vec_id", quantize(F.col("embedding")).alias("q"))
    e = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).persist()
    ec = (
        e.crossJoin(F.broadcast(_sq8_stats(e)))
        .select("vec_id", "q", "n2", F.transform("q", sq8_xhat_el).alias("xh"))
        .withColumn("rn2", _idot(F.col("xh"), F.col("xh")))
    )
    cents = _seed_cents(e, cent_mod)
    assign = _ivf_assign(ec, cents, {"xh": "xh", "rn2": "rn2"})
    qs = e.filter(F.col("vec_id") % query_mod == 0)
    probes = _ivf_probes(qs, cents, nprobe)
    qv = qs.select(F.col("vec_id").alias("query_id"), F.col("q").alias("qq"), F.col("n2").alias("qn2"))
    return _ivf_rank(probes, assign, qv, k, "xh", "rn2", "cosine_sq8")


def knn_ivfsq8_filtered(
    embeddings: DataFrame,
    k: int = KNN_K,
    query_mod: int = 100,
    cent_mod: int = IVF_CENT_MOD,
    nprobe: int = FILTERED_NPROBE,
) -> DataFrame:
    """FILTERED search on the SQ8 compressed rung — the label predicate
    applied in-scan on knn_ivfsq8's asymmetric-distance path (FAISS
    IndexIVFScalarQuantizer + IDSelector), completing the filtered
    family across both compressed representations (PQ codes:
    `knn_ivfpq_filtered`). Same production tuning rule: probes widen to
    FILTERED_NPROBE because the predicate thins every list. The label
    rides the assignment payload next to the dequantized vector, so the
    filter costs no extra join; recall vs `knn_brute_filtered` tracks
    the unfiltered SQ8-vs-exact gap (per-dim 8-bit resolution, near-IVF
    recall — the high-recall compressed option)."""
    e = _fan_out(embeddings).select(
        "vec_id", "label", quantize(F.col("embedding")).alias("q")
    )
    e = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).persist()
    ec = (
        e.crossJoin(F.broadcast(_sq8_stats(e)))
        .select("vec_id", "label", "q", "n2", F.transform("q", sq8_xhat_el).alias("xh"))
        .withColumn("rn2", _idot(F.col("xh"), F.col("xh")))
    )
    cents = _seed_cents(e, cent_mod)
    assign = _ivf_assign(ec, cents, {"xh": "xh", "rn2": "rn2", "nlabel": "label"})
    qs = e.filter(F.col("vec_id") % query_mod == 0)
    probes = _ivf_probes(qs, cents, nprobe, extra={"qlabel": F.col("label")})
    qv = qs.select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq"), F.col("n2").alias("qn2")
    )
    scored = (
        probes.join(assign, "list_id")
        .filter(
            (F.col("nlabel") == F.col("qlabel"))
            & (F.col("query_id") != F.col("neighbor_id"))
        )
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "cosine_sq8",
            _idot(F.col("qq"), F.col("xh"))
            / (
                F.sqrt(F.col("qn2").cast("double"))
                * F.sqrt(F.col("rn2").cast("double"))
            ),
        )
    )
    return _rank_topk(scored, k, "cosine_sq8")


# ---------------------------------------------------------------- PQ / ADC

PQ_M = 16  # subspaces (64 dims → 16 × 4)
PQ_CODE_MOD = 16  # codewords per subspace = 4-bit codes (production: 256/1 byte)
PQ_SUBDIM = DIM // PQ_M
PQ_ITERS = 1  # Lloyd refinements of the per-subspace codebooks


def _pq_subvectors(e: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(id, m, sv): each quantized vector split into its PQ_M contiguous
    subspace blocks, one row per block — the long form every PQ stage
    (training, encoding, LUT build) consumes."""
    subs = F.array(*[F.slice("q", m * PQ_SUBDIM + 1, PQ_SUBDIM) for m in range(PQ_M)])
    return e.select(F.col(id_col), F.posexplode(subs).alias("m", "sv"))


def _pq_assign(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """Nearest-codeword assignment per (vec, subspace), as ONE hash
    aggregation (min over (dist, code) structs == L2 asc, code asc — the
    `_assign_to_cents` shape, argmin instead of argmax). L2 ranking only
    needs `cn2 − 2·⟨sv, cv⟩` (the ‖sv‖² term is constant per row), all
    int64: |2·⟨sv,cv⟩| ≤ 2·PQ_SUBDIM·(0.53·2²⁴)² ≈ 6e14 ≪ 2⁶³ (and the
    ADC sum over all PQ_M subspaces stays ≤ DIM·(0.53·2²⁴)² ≈ 5e15). The codebook
    (PQ_M·PQ_CODE_MOD rows) broadcasts; the corpus never shuffles —
    the min-struct agg collapses the ×codewords fan-out map-side."""
    d = F.col("cn2") - 2 * _idot(F.col("sv"), F.col("cv"))
    return (
        sub.join(F.broadcast(cb), "m")
        .withColumn("d", d)
        .groupBy("vec_id", "m")
        .agg(
            F.min(
                F.struct(F.col("d").alias("d"), F.col("code").alias("c"), F.col("cn2").alias("n"))
            ).alias("mn"),
            F.first("sv").alias("sv"),
        )
        .select("vec_id", "m", F.col("mn.c").alias("code"), F.col("mn.n").alias("cn2"), "sv")
    )


def _pq_codebook(assigned: DataFrame) -> DataFrame:
    """Codebook from an assignment: per (m, code, pos) exact-int rounded
    mean of member subvector components (the `_kmeans_state` update shape
    — the only shuffle carries (m, code, pos, partial-sum) triples,
    map-side combined; vectors never shuffle). localCheckpoint keeps the
    Lloyd loop's plan constant-size. Codes that lose all members drop
    out — identically in the DuckDB oracle."""
    upd = (
        assigned.select("m", "code", F.posexplode("sv").alias("pos", "x"))
        .groupBy("m", "code", "pos")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        .withColumn("cv_el", F.round(F.col("s") / F.col("n")).cast("long"))
    )
    return (
        upd.groupBy("m", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv_el"))), lambda s: s.cv_el
            ).alias("cv")
        )
        .withColumn("cn2", _idot(F.col("cv"), F.col("cv")))
        .localCheckpoint(eager=False)
    )


def knn_pq(
    embeddings: DataFrame,
    k: int = KNN_K,
    query_mod: int = 100,
    code_mod: int = PQ_CODE_MOD,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance (ADC) scoring —
    the memory-side member of the ANN family (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): brute/LSH/IVF
    cut CANDIDATES; PQ cuts BYTES-PER-CANDIDATE. Each vector is stored
    as PQ_M codebook indices (16 × 4-bit = 8 bytes here vs 256 float
    bytes — 32×; production uses 8-bit codes) instead of 64 floats;
    queries scan those codes with per-subspace lookup tables. Subspace
    geometry chosen by measured recall on this corpus: 4 × 16-dim
    subspaces gave recall@5 of 0.04-0.2, 16 × 4-dim gives 0.32 / 0.40
    (sf0.001 / sf0.01, pinned in tests) — on ISOTROPIC synthetic data,
    PQ's worst case (no correlated coordinate blocks to exploit).

    Stages, all in the family's fixed-point integer contract so the
    DuckDB oracle reproduces every step bit-for-bit:
    1. train: per-subspace codebooks, hash-bucket init (code₀ =
       vec_id % code_mod — one aggregation, no sampling pass) + `iters`
       Lloyd refinements; codebook training is fully distributed and
       map-side combined, never materializing more than
       PQ_M·code_mod·PQ_SUBDIM longs on the driver side of a broadcast.
    2. encode: nearest-codeword argmin per (vec, subspace) against the
       broadcast codebook; the corpus compresses to (vec_id, codes[PQ_M],
       recon_n2) where recon_n2 = Σₘ ‖cvₘ‖² is the EXACT squared norm of
       the reconstruction (subspaces are disjoint coordinate blocks, so
       cross terms vanish).
    3. search: each query precomputes dot(query_subₘ, cv) for every
       codeword — a (PQ_M × code_mod) table, built per query and
       broadcast as an array of maps. Scoring is then a pure scan of the
       code frame: adot = Σₘ LUTₘ[codeₘ] — PQ_M map lookups per
       candidate, no vector arithmetic, no corpus shuffle; only (query,
       neighbor, score) triples enter the top-k ranking shuffle
       (knn_brute's shape at a fraction of the per-pair cost and ~64×
       smaller candidate payload — the piece that lets a 100 TB corpus's
       index live in cluster RAM).

    approx cosine = adot / (‖q‖·‖x̂‖) — asymmetric: exact query vs
    reconstructed candidate. Recall vs knn_brute is deterministic and
    pinned in tests (the honest-audit discipline knn_rp set: report the
    measured trade, don't claim superiority). Compose with knn_ivf's
    inverted lists for IVF-PQ when the scan itself must shrink."""
    e = _fan_out(embeddings).select("vec_id", quantize(F.col("embedding")).alias("q"))
    e = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).persist()
    qs = e.filter(F.col("vec_id") % query_mod == 0)
    codes, cb = _pq_train_encode(e, code_mod, iters)
    lut = _pq_query_luts(qs, cb)
    scored = codes.join(F.broadcast(lut), F.col("query_id") != F.col("vec_id"))
    return _pq_rank(scored, k)


def hadamard_q(qcol, dim: int = DIM):
    """Integer Walsh-Hadamard rotation of a quantized vector: r[i] =
    Σⱼ (−1)^popcount(i∧j) · q[j], computed as an O(d²) matvec against
    the ±1 matrix folded in as literals. Unnormalized (entries ±1, not
    ±1/√d), so every output stays an EXACT int64 and both norms scale by
    exactly d — cosine is invariant under any scaled orthogonal
    transform, so downstream similarity semantics are unchanged.
    Overflow-safe by Parseval/Cauchy–Schwarz: ‖r‖² = d·‖q‖² ≤ 64·2²⁴·…
    ≈ 3·10¹⁷ < 2⁶³, and every partial dot-product sum is bounded by
    ‖r_a‖·‖r_b‖."""
    h = F.array(
        *[
            F.array(
                *[
                    F.lit(1 if bin(i & j).count("1") % 2 == 0 else -1)
                    for j in range(dim)
                ]
            )
            for i in range(dim)
        ]
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.aggregate(
            F.zip_with(qcol, F.element_at(h, i + 1), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    )


def hadamard_rotate(e: DataFrame, dim: int = DIM) -> DataFrame:
    """Arrow-vectorized twin of `hadamard_q`: rotates a (vec_id, q0)
    frame to (vec_id, q, n2) with r = H·q as ONE exact int64 numpy
    matmul per Arrow batch — the same documented Pandas-UDF exception as
    knn_graph's bucket matmul (BLAS-shaped integer math the expression
    path can only express badly: the `hadamard_q` form folds the 64×64
    ±1 matrix in as 4096 literals, and Catalyst analysis + codegen of
    that tree measured ~2.6 s per query at sf0.1 — pure plan overhead,
    ~64 KB of generated code, zero data). Values are IDENTICAL to
    `hadamard_q` (integer adds/subtracts in both paths; pinned in
    TestHadamard), so the DuckDB oracle's ±1-matvec replay is unchanged.
    ‖r‖² = d·‖q‖² ≤ 64·64·(0.53·2²⁴)² ≈ 3·10¹⁷ < 2⁶³ — every
    intermediate stays exact int64 (the `hadamard_q` overflow note).
    Map-only: zero shuffle, O(batch·d²) per batch through BLAS."""
    import numpy as np
    import pandas as pd

    def rotate(batches):
        # the 8-bit popcount lookup below masks (i & j) to one byte, so a
        # dim > 256 would silently build the WRONG ±1 matrix — fail instead
        assert dim <= 256, f"hadamard_rotate popcount table is 8-bit; dim={dim}"
        idx = np.arange(dim)
        par = np.bitwise_and.outer(idx, idx)
        # popcount parity of (i & j) via 8-bit lookup (dim ≤ 256 ⇒ one byte)
        pop = np.array([bin(v).count("1") for v in range(256)], dtype=np.int64)
        h = np.where(pop[par & 0xFF] % 2 == 0, 1, -1).astype(np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"vec_id": [], "q": [], "n2": []}).astype(
                    {"vec_id": "int64", "n2": "int64"}
                )
                continue
            m = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["q0"]])
            r = m @ h.T  # r[i] = Σⱼ h[i,j]·q[j], exact int64
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "q": list(r),
                    "n2": (r * r).sum(axis=1),
                }
            )

    return e.select("vec_id", "q0").mapInPandas(
        rotate, "vec_id long, q array<long>, n2 long"
    )


def knn_pq_rotated(
    embeddings: DataFrame,
    k: int = KNN_K,
    query_mod: int = 100,
    code_mod: int = PQ_CODE_MOD,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """PQ over a ROTATED vector space — the rotation rung of the ANN
    ladder (Ge et al., "Optimized Product Quantization", CVPR 2013: PQ's
    quantization error depends on how variance distributes across the
    subspace split; a rotation applied before splitting is the lever,
    with the deterministic structured rotation — the paper's RR baseline,
    also the Fast-JL transform — as the train-free member; full OPQ
    alternates the rotation with the codebooks). Here the rotation is
    the integer Walsh-Hadamard matrix: exact in the family's fixed-point
    contract (no floats, no training), map-only O(d²) per row at encode
    time, and cosine-invariant since both sides scale by exactly d.

    On THIS corpus the data is isotropic — the distribution is
    rotation-invariant, so the rotation buys nothing and measured recall
    sits at plain knn_pq's noise level (0.28 / 0.28 vs pq's 0.32 / 0.40
    at sf0.001 / sf0.01, pinned in ann_eval); the pin certifies the
    mechanics, not superiority. On real embedding
    corpora (correlated, energy concentrated in few directions) the
    rotation is what rescues PQ from its worst case — OPQ Fig. 1 — which
    is why the rung exists in every production PQ stack. Every stage
    downstream of the rotation is knn_pq's own machinery; the DuckDB
    oracle replays the rotation as the same ±1 matvec."""
    e = _fan_out(embeddings).select(
        "vec_id", quantize(F.col("embedding")).alias("q0")
    )
    # Arrow twin of hadamard_q — identical int64 values, ~2.6 s less
    # Catalyst analysis/codegen per call (r13; see hadamard_rotate)
    e = hadamard_rotate(e).persist()
    qs = e.filter(F.col("vec_id") % query_mod == 0)
    codes, cb = _pq_train_encode(e, code_mod, iters)
    lut = _pq_query_luts(qs, cb)
    scored = codes.join(F.broadcast(lut), F.col("query_id") != F.col("vec_id"))
    return _pq_rank(scored, k)


PQ_INDEX_CHUNKS = 3  # arrival chunks for the stream-maintained PQ index


def _pq_train(sub: DataFrame, code_mod: int, iters: int) -> DataFrame:
    """Codebooks from a (vec_id, m, sv) training frame: hash-bucket init
    + `iters` Lloyd refinements. Returns (m, code, cv, cn2)."""
    cb = _pq_codebook(sub.withColumn("code", F.pmod(F.col("vec_id"), F.lit(code_mod))))
    for _ in range(iters):
        cb = _pq_codebook(_pq_assign(sub, cb))
    return cb


def _pq_encode(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """Encode a (vec_id, m, sv) frame against a codebook: (vec_id, codes
    array in subspace order, exact reconstruction norm rn2)."""
    return (
        _pq_assign(sub, cb)
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "code"))), lambda s: s.code
            ).alias("codes"),
            F.sum("cn2").alias("rn2"),
        )
    )


def _pq_train_encode(e: DataFrame, code_mod: int, iters: int) -> tuple[DataFrame, DataFrame]:
    """Train the per-subspace codebooks and encode the corpus: returns
    (codes — (vec_id, codes array in subspace order, exact recon norm
    rn2), codebook — (m, code, cv, cn2))."""
    sub = _pq_subvectors(e).persist()  # feeds init + every assign pass
    cb = _pq_train(sub, code_mod, iters)
    return _pq_encode(sub, cb), cb


def _pq_query_luts(qs: DataFrame, cb: DataFrame) -> DataFrame:
    """Per-query ADC lookup tables: (query_id, luts — array (by m) of
    code→dot maps, qn2). `qs` must carry (vec_id, q, n2)."""
    return (
        _pq_subvectors(qs)
        .join(F.broadcast(cb), "m")
        .withColumn("dot", _idot(F.col("sv"), F.col("cv")))
        .groupBy(F.col("vec_id").alias("query_id"), F.col("m"))
        .agg(F.array_sort(F.collect_list(F.struct("code", "dot"))).alias("ent"))
        .groupBy("query_id")
        .agg(
            # maps aren't orderable, so sort struct(m, entries-array) first
            # and build each code→dot map from the sorted entry arrays
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "ent"))),
                lambda s: F.map_from_entries(s.ent),
            ).alias("luts")
        )
        .join(
            qs.select(F.col("vec_id").alias("query_id"), F.col("n2").alias("qn2")),
            "query_id",
        )
    )


def _pq_rank(scored: DataFrame, k: int, base_col: str | None = None) -> DataFrame:
    """ADC score + top-k: `scored` rows carry (query_id, vec_id, codes,
    rn2, luts, qn2). `base_col` names an optional per-row long added to
    the LUT sum — the residual composite passes dot(query, coarse
    centroid) here, since dot(q, x̂) = dot(q, c) + Σₘ dot(qₘ, cvₘ)."""
    adot = F.aggregate(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        F.lit(0).cast("long"),
        lambda acc, m: acc
        + F.element_at(F.element_at("luts", m + 1), F.element_at("codes", m + 1)),
    )
    if base_col is not None:
        adot = adot + F.col(base_col)
    scored = scored.withColumn(
        "cosine_pq",
        adot / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("rn2").cast("double"))),
    )
    return _rank_topk(scored, k, "cosine_pq", nbr_col="vec_id")


def knn_ivfpq(
    embeddings: DataFrame,
    k: int = KNN_K,
    query_mod: int = 100,
    cent_mod: int = IVF_CENT_MOD,
    nprobe: int = IVF_NPROBE,
    code_mod: int = PQ_CODE_MOD,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """IVF-PQ — the production ANN shape (FAISS's IVFPQ index; Jégou et
    al. 2011 §V): knn_ivf's inverted lists cut CANDIDATES to the nprobe
    nearest lists, knn_pq's 8-byte codes + ADC lookup tables cut
    BYTES-PER-CANDIDATE — composed, a 100 TB corpus is searched by
    touching nprobe/nlists of an index that is ~32× smaller than the
    vectors. Both component quantizers are the family's fixed-point
    constructions (seed-vector coarse lists; hash-init + Lloyd PQ
    codebooks), so the whole composite stays hash-exact under the DuckDB
    oracle.

    Plan shape: the coarse assignment is one corpus scan against
    broadcast centroids (struct-max agg, no window); the code frame
    joins it once (vec_id-keyed — the inverted index WITH codes);
    probing fans each query to nprobe lists and the candidate join moves
    (query, codes[16], rn2) triples — never vectors; ADC scoring is
    PQ_M map lookups per candidate against the broadcast per-query LUTs.
    Recall vs brute is pinned in tests; it is bounded above by knn_ivf's
    recall (same candidates, approximate scores) — the measured price of
    scanning codes instead of vectors."""
    e = _fan_out(embeddings).select("vec_id", quantize(F.col("embedding")).alias("q"))
    e = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).persist()
    qs = e.filter(F.col("vec_id") % query_mod == 0)

    # coarse quantizer: seed-vector lists via the shared IVF scaffold —
    # no payload rides through; the code frame joins the lists by vec_id
    cents = _seed_cents(e, cent_mod)
    lists = _ivf_assign(e, cents, {}, id_alias="vec_id")
    probes = _ivf_probes(qs, cents, nprobe)

    codes, cb = _pq_train_encode(e, code_mod, iters)
    ix = lists.join(codes, "vec_id")  # inverted index rows WITH codes
    lut = _pq_query_luts(qs, cb)
    scored = (
        probes.join(ix, "list_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .join(F.broadcast(lut), "query_id")
    )
    return _pq_rank(scored, k)


def knn_ivfpq_filtered(
    embeddings: DataFrame,
    k: int = KNN_K,
    query_mod: int = 100,
    cent_mod: int = IVF_CENT_MOD,
    nprobe: int = FILTERED_NPROBE,
    code_mod: int = PQ_CODE_MOD,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """FILTERED search on the COMPRESSED rung — the label predicate
    applied in-scan on knn_ivfpq's ADC path (FAISS `IVFPQ` +
    `IDSelector`): candidates from the probed inverted lists are
    label-filtered BEFORE any LUT lookup, so the per-query top-k is
    taken over eligible codes only. This is where production vector
    stores actually run attribute-scoped search — the index that fits
    RAM at 100 TB is the compressed one, so the filter must compose
    with ADC, not force a fallback to exact vectors. Post-filtering the
    unfiltered ADC top-k instead under-returns catastrophically
    (`tests/test_ann_eval.py` pins the 1/25 eligible-pair collapse for
    the family).

    Construction = knn_ivfpq with two deltas, both FAISS-faithful: the
    label rides the inverted index as assignment payload (no second
    corpus join — FAISS stores the selector's ids alongside codes), and
    the probe width is `FILTERED_NPROBE` (probe wider as the predicate
    thins lists — the same production tuning rule as knn_ivf_filtered).
    Recall is measured against `knn_brute_filtered` (the exact
    pre-filter baseline), bounded above by knn_ivf_filtered's (same
    candidates, approximate scores)."""
    e = _fan_out(embeddings).select(
        "vec_id", "label", quantize(F.col("embedding")).alias("q")
    )
    e = e.withColumn("n2", _idot(F.col("q"), F.col("q"))).persist()
    qs = e.filter(F.col("vec_id") % query_mod == 0)

    cents = _seed_cents(e, cent_mod)
    # label is the only payload: codes join by vec_id as in knn_ivfpq
    lists = _ivf_assign(e, cents, {"nlabel": "label"}, id_alias="vec_id")
    probes = _ivf_probes(qs, cents, nprobe, extra={"qlabel": F.col("label")})

    codes, cb = _pq_train_encode(e, code_mod, iters)
    ix = lists.join(codes, "vec_id")  # inverted index rows WITH codes + label
    lut = _pq_query_luts(qs, cb)
    scored = (
        probes.join(ix, "list_id")
        .filter(
            (F.col("nlabel") == F.col("qlabel"))
            & (F.col("query_id") != F.col("vec_id"))
        )
        .join(F.broadcast(lut), "query_id")
    )
    return _pq_rank(scored, k)


def knn_ivfpq_residual(
    embeddings: DataFrame,
    k: int = KNN_K,
    query_mod: int = 100,
    cent_mod: int = IVF_CENT_MOD,
    coarse_iters: int = KM_ITERS,
    nprobe: int = IVF_NPROBE,
    code_mod: int = PQ_CODE_MOD,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the full FAISS IVFPQ construction
    (Jégou et al. 2011 §V.A): the coarse quantizer is k-means-TRAINED
    (`_kmeans_state`, same nlists as knn_ivfpq's seed quantizer) and the
    PQ codebooks quantize r = x − c(list), the vector's offset from its
    list MEAN, not the raw vector. Residuals vs means is the point:
    E‖x − mean‖² ≤ E‖x‖², so the same 8-byte code budget quantizes a
    smaller signal (against a raw SEED vector the residual has ~2× the
    variance of x on isotropic data and recall REGRESSES — measured
    0.16/0.24 vs the non-residual composite's 0.32/0.40 before the
    trained coarse quantizer went in). Measured on THIS corpus
    (isotropic synthetic noise, PQ's worst case — no cluster structure
    for the residual step to exploit): recall@5 0.32/0.36 at
    sf0.001/sf0.01 vs knn_ivfpq's 0.32/0.40 — parity, not a win, and
    ann_eval keeps reporting the live number so a real (clustered)
    corpus shows its own. No superiority over knn_ivfpq is claimed —
    the operator's value is the faithful production shape.

    Everything stays in the family's fixed-point contract: residuals of
    longs are longs, codebook centroids are exact rounded means, and the
    reconstruction x̂ = c + recon(r) decomposes over the disjoint
    subspaces, so ‖x̂‖² = Σₘ ‖cₘ + cvₘ‖² is an exact int64 computed once
    per (list, subspace, code) — a nlists·PQ_M·code_mod table, broadcast.
    ADC scoring splits the same way: dot(q, x̂) = dot(q, c) (carried on
    the probe row) + Σₘ LUTₘ[codeₘ] (the residual-codebook LUT lookups).

    Plan shape matches knn_ivfpq — coarse training is `_kmeans_state`'s
    (corpus scans against broadcast centroids, updates shuffle only
    (cluster, pos, partial-sum) triples), codebook training likewise, the
    candidate join moves (query, codes[PQ_M], rn2) never vectors — plus
    one extra broadcast join against the residual frame (corpus joined
    to its list centroid, no shuffle beyond the list assignment's)."""
    _, scored = _ivfpq_residual_scored(
        embeddings, query_mod, cent_mod, coarse_iters, nprobe, code_mod, iters
    )
    return _pq_rank(scored, k, base_col="qcdot")


def _ivfpq_residual_scored(
    embeddings: DataFrame,
    query_mod: int,
    cent_mod: int,
    coarse_iters: int,
    nprobe: int,
    code_mod: int,
    iters: int,
) -> tuple[DataFrame, DataFrame]:
    """Residual-IVF-PQ candidate construction shared by
    `knn_ivfpq_residual` (ADC rank = final answer) and
    `knn_ivfpq_refine` (ADC rank = shortlist for exact re-rank): returns
    (quantized corpus e, scored candidate frame ready for `_pq_rank`)."""
    e, assign, kcents = _kmeans_state(embeddings, cent_mod, coarse_iters)
    qs = e.filter(F.col("vec_id") % query_mod == 0)
    cents = kcents  # trained (cent_id, cq, cn2) — _seed_cents's drop-in
    lists = assign.select("vec_id", F.col("cluster").alias("list_id"))

    # residual corpus: r = x − c(list); broadcast the centroid frame, so
    # the only shuffle here is the vec_id-keyed join with the assignment
    resid = (
        e.join(lists, "vec_id")
        .join(F.broadcast(cents.select(F.col("cent_id").alias("list_id"), "cq")), "list_id")
        .select("vec_id", "list_id", F.zip_with("q", "cq", lambda a, b: a - b).alias("q"))
    )
    rsub = _pq_subvectors(resid).persist()
    cb = _pq_train(rsub, code_mod, iters)
    asg = _pq_assign(rsub, cb)  # (vec_id, m, code, cn2, sv)

    # exact reconstruction norms per (list, subspace, code): ‖cₘ + cvₘ‖²
    csub = _pq_subvectors(
        cents.select(F.col("cent_id").alias("list_id"), F.col("cq").alias("q")),
        id_col="list_id",
    ).withColumnRenamed("sv", "csv")
    cbx = (
        cb.join(csub, "m")
        .withColumn("xh", F.zip_with("csv", "cv", lambda a, b: a + b))
        .select("list_id", "m", "code", _idot(F.col("xh"), F.col("xh")).alias("xn2"))
    )
    codes = (
        asg.join(lists, "vec_id")
        .join(F.broadcast(cbx), ["list_id", "m", "code"])
        .groupBy("vec_id", "list_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "code"))), lambda s: s.code
            ).alias("codes"),
            F.sum("xn2").alias("rn2"),
        )
    )

    # the dot(query, list centroid) ADC base term is computed on the probe
    # row while the centroid vector is still in scope
    probes = _ivf_probes(
        qs, cents, nprobe, extra={"qcdot": _idot(F.col("q"), F.col("cq"))}
    )

    lut = _pq_query_luts(qs, cb)
    scored = (
        probes.join(codes, "list_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .join(F.broadcast(lut), "query_id")
    )
    return e, scored


REFINE_C = 4 * KNN_K  # ADC shortlist size for the exact re-rank stage


def knn_ivfpq_refine(
    embeddings: DataFrame,
    k: int = KNN_K,
    query_mod: int = 100,
    cent_mod: int = IVF_CENT_MOD,
    coarse_iters: int = KM_ITERS,
    nprobe: int = IVF_NPROBE,
    code_mod: int = PQ_CODE_MOD,
    iters: int = PQ_ITERS,
    refine_c: int = REFINE_C,
) -> DataFrame:
    """IVF-PQ with exact re-ranking — FAISS's IndexRefineFlat stage on
    top of the residual composite: ADC ranks the probed lists' codes as
    usual, but instead of returning its top-k it returns a top-`refine_c`
    SHORTLIST, which is re-scored EXACTLY (int64 dot of the stored full
    vectors, `knn_brute`'s arithmetic) and re-ranked to the final top-k.
    This converts PQ's lossy-score problem into a candidate-recall
    problem: any true neighbor the ADC pass ranks within refine_c (4×k
    here; FAISS ships k_factor the same way) is recovered with its exact
    cosine, so recall is bounded below by the residual composite's and in
    practice strictly above it (pinned in tests/test_ann_eval.py).

    Scale shape: the shortlist is |queries|·refine_c (id, id) pairs —
    tiny — so the exact stage BROADCASTS it against the corpus; full
    vectors move only for shortlisted rows (≤ refine_c per query), never
    for whole probed lists. Everything upstream is knn_ivfpq_residual's
    plan unchanged; the refine stage adds one broadcast semi-join scan +
    one broadcast query-vector join, no new shuffle of vector payloads."""
    e, scored = _ivfpq_residual_scored(
        embeddings, query_mod, cent_mod, coarse_iters, nprobe, code_mod, iters
    )
    shortlist = _pq_rank(scored, refine_c, base_col="qcdot").select(
        "query_id", "neighbor_id"
    )
    qv = e.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq"), F.col("n2").alias("qn2")
    )
    nv = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("nq"),
        F.col("n2").alias("nn2"),
    )
    exact = (
        nv.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "cosine",
            _idot(F.col("qq"), F.col("nq"))
            / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("nn2").cast("double"))),
        )
    )
    return _rank_topk(exact, k, "cosine")
