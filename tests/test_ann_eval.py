"""Regression ratchet for the ANN family's recall (VERDICT r07 item #6).

ann_eval is deterministic (fixed-point quantizers, deterministic seeds),
so every method's recall@5 at sf0.001 is an exact constant. Pinning the
full frame means a future change to any quantizer that silently degrades
recall fails a TEST, not just a docstring claim. If a change legitimately
moves a number (e.g. a better codebook init), re-measure at BOTH SFs,
update the constant here, and say so in the commit message.
"""

from __future__ import annotations

import pytest

# (n_exact, n_method, n_common, recall) per method per SF — measured
# 2026-08-15, round 8 (trained-coarse residual IVF-PQ included). Both
# supported test SFs are pinned; an unrecognized SPARK_GRAFT_TEST_SF_DIR
# skips (the oracle-parity suite still gates those runs).
EXPECTED = {
    "sf0.001": {
        "ivf": (25, 25, 25, 1.00),
        "ivf_trained": (25, 25, 14, 0.56),
        "ivfpq": (25, 25, 8, 0.32),
        "ivfpq_refine": (25, 25, 17, 0.68),
        "ivfpq_residual": (25, 25, 8, 0.32),
        "ivfsq8": (25, 25, 23, 0.92),
        "lsh": (25, 25, 8, 0.32),
        "lsh_multiprobe": (25, 25, 15, 0.60),
        "pq": (25, 25, 8, 0.32),
        # rotated PQ on isotropic data: rotation-invariant distribution,
        # recall at pq's noise level — the pin certifies mechanics
        "pq_rotated": (25, 25, 7, 0.28),
        "rp": (25, 25, 1, 0.04),
        "sq8": (25, 25, 23, 0.92),
    },
    "sf0.01": {
        "ivf": (25, 25, 25, 1.00),
        "ivf_trained": (25, 25, 15, 0.60),
        "ivfpq": (25, 25, 10, 0.40),
        "ivfpq_refine": (25, 25, 20, 0.80),
        "ivfpq_residual": (25, 25, 9, 0.36),
        "ivfsq8": (25, 25, 24, 0.96),
        "lsh": (25, 25, 10, 0.40),
        "lsh_multiprobe": (25, 25, 16, 0.64),
        "pq": (25, 25, 10, 0.40),
        "pq_rotated": (25, 25, 7, 0.28),
        "rp": (25, 25, 2, 0.08),
        "sq8": (25, 25, 24, 0.96),
    },
}


def _expected_for(sf_dir: str) -> dict:
    for sf, vals in EXPECTED.items():
        if sf_dir.rstrip("/").endswith(sf):
            return vals
    pytest.skip(f"no pinned ann_eval constants for {sf_dir}")


def test_ann_eval_pinned(swept_frame, sf_dir):
    want = _expected_for(sf_dir)
    rows = {
        r["method"]: (r["n_exact"], r["n_method"], r["n_common"], round(r["recall"], 6))
        for r in swept_frame("ann_eval").to_dict("records")
    }
    assert rows == want


def test_refine_strictly_beats_residual(sf_dir):
    """VERDICT r08 item #5's done-bar: the exact re-rank stage must lift
    recall strictly above the pure-ADC residual composite at every pinned
    SF — if a change ever collapses the refine stage into a no-op (e.g.
    shortlist == k), this fails even though both rows stay oracle-green."""
    for sf, vals in EXPECTED.items():
        assert vals["ivfpq_refine"][3] > vals["ivfpq_residual"][3], sf
    want = _expected_for(sf_dir)
    assert want["ivfpq_refine"][3] > want["ivfpq_residual"][3]


def test_multiprobe_strictly_beats_lsh(sf_dir):
    """VERDICT r08 item #6's done-bar: multi-probe at EQUAL bands (same
    index memory) must recall strictly more than single-probe knn_lsh at
    every pinned SF."""
    for sf, vals in EXPECTED.items():
        assert vals["lsh_multiprobe"][3] > vals["lsh"][3], sf
    want = _expected_for(sf_dir)
    assert want["lsh_multiprobe"][3] > want["lsh"][3]


def test_sq8_tops_compressed_methods(sf_dir):
    """knn_sq8's done-bar: 8-bit-per-dim keeps full dimensional resolution
    (error ≈ 0.2% of each dim's range), so its recall must strictly beat
    every coarser compressed index (pq / ivfpq / residual / refine) at
    every pinned SF — the honest 4×-memory-vs-recall trade the docstring
    claims, as a test."""
    for sf, vals in EXPECTED.items():
        for m in ("pq", "ivfpq", "ivfpq_residual", "ivfpq_refine"):
            assert vals["sq8"][3] > vals[m][3], (sf, m)
        # the IVF composite keeps SQ8's recall (seed-IVF recalls 1.0 at
        # these SFs) while scanning only nprobe lists per query
        assert vals["ivfsq8"][3] == vals["sq8"][3], sf
    want = _expected_for(sf_dir)
    assert want["sq8"][3] > want["pq"][3]


def test_ann_eval_oracle_matches(oracle_frame, sf_dir):
    """The DuckDB oracle reproduces the same pinned frame — guards the
    oracle side of the gate against drifting separately from Spark."""
    from gmall_flink_200621_spark.plans.training_oracle import ANN_EVAL

    want = _expected_for(sf_dir)
    df = oracle_frame(ANN_EVAL)
    rows = {
        r.method: (r.n_exact, r.n_method, r.n_common, round(r.recall, 6))
        for r in df.itertuples()
    }
    assert rows == want


# (n_exact, n_method, n_common, recall) for the FILTERED pair, plus the
# eligible pairs a naive POST-filter of the unfiltered brute top-k keeps —
# measured 2026-08-15, round 10. Filtered IVF probes FILTERED_NPROBE lists,
# which covers the small list counts at these SFs completely (recall 1.0,
# same as plain seed-IVF); the post-filter count is the evidence for WHY
# the pre-filter/in-scan strategies exist.
FILTERED_EXPECTED = {
    "sf0.001": {"filtered": (25, 25, 25, 1.0), "postfilter_common": 1},
    "sf0.01": {"filtered": (25, 25, 25, 1.0), "postfilter_common": 1},
}

# the compressed rung: in-scan label filter on the IVF-PQ ADC path.
# Recall < ivf_filtered's 1.0 by construction (same candidate lists,
# approximate scores) — the honest PQ price on this isotropic corpus,
# pinned as a ratchet. Measured 2026-08-16, round 11.
FILTERED_PQ_EXPECTED = {
    "sf0.001": (25, 25, 16, 0.64),
    "sf0.01": (25, 25, 12, 0.48),
}

# the SQ8 rung keeps per-dim resolution, so its filtered recall matches
# the exact-scored ivf_filtered at these SFs — the PQ-vs-SQ8 contrast
# (0.48-0.64 vs 1.0) is the compression-resolution tradeoff, pinned.
FILTERED_SQ8_EXPECTED = {
    "sf0.001": (25, 25, 25, 1.0),
    "sf0.01": (25, 25, 25, 1.0),
}


def test_filtered_ann_recall_pinned(spark, sf_dir):
    """Filtered-search ratchet: knn_ivf_filtered's recall against the
    exact filtered baseline is pinned, and the naive alternative —
    post-filtering the UNFILTERED top-k by label — is pinned at its
    catastrophic eligible-pair count (1/25 here): same-label neighbors
    almost never rank in the global top-5, so post-filtering returns
    nearly nothing. That contrast is the operator's reason to exist."""
    from gmall_flink_200621_spark.operators import similarity as V
    from gmall_flink_200621_spark.plans.training import _emb

    want = None
    for sf, vals in FILTERED_EXPECTED.items():
        if sf_dir.rstrip("/").endswith(sf):
            want = vals
    if want is None:
        pytest.skip(f"no pinned filtered-ann constants for {sf_dir}")

    emb = _emb(spark, sf_dir)
    exact = V.knn_brute_filtered(emb).select("query_id", "neighbor_id")
    m = V.knn_ivf_filtered(emb).select("query_id", "neighbor_id")
    n_exact, n_method = exact.count(), m.count()
    n_common = m.join(exact, ["query_id", "neighbor_id"], "left_semi").count()
    got = (n_exact, n_method, n_common, round(n_common / n_exact, 6))
    assert got == want["filtered"]
    post = (
        V.knn_brute(emb)
        .select("query_id", "neighbor_id")
        .join(exact, ["query_id", "neighbor_id"], "left_semi")
        .count()
    )
    assert post == want["postfilter_common"]
    # the structural claim, independent of the pinned constants: the
    # in-scan filter strategy dominates post-filtering
    assert n_common > post

    # the compressed rung: knn_ivfpq_filtered ranks the SAME eligible
    # candidates by ADC codes instead of exact vectors — recall is pinned
    # (a ratchet), bounded above by the exact-scored ivf_filtered, and
    # still dominates naive post-filtering by an order of magnitude
    pqf = None
    for sf, vals in FILTERED_PQ_EXPECTED.items():
        if sf_dir.rstrip("/").endswith(sf):
            pqf = vals
    mq = V.knn_ivfpq_filtered(emb).select("query_id", "neighbor_id")
    nm_q = mq.count()
    nc_q = mq.join(exact, ["query_id", "neighbor_id"], "left_semi").count()
    got_q = (n_exact, nm_q, nc_q, round(nc_q / n_exact, 6))
    assert got_q == pqf
    assert nc_q <= n_common  # ADC never beats exact scoring of the same lists
    assert nc_q > post

    # the SQ8 rung: per-dim 8-bit codes keep enough resolution that its
    # filtered recall matches the exact-scored ivf_filtered here — the
    # compression-resolution tradeoff vs the PQ rung, pinned
    sq8f = None
    for sf, vals in FILTERED_SQ8_EXPECTED.items():
        if sf_dir.rstrip("/").endswith(sf):
            sq8f = vals
    ms = V.knn_ivfsq8_filtered(emb).select("query_id", "neighbor_id")
    nm_s = ms.count()
    nc_s = ms.join(exact, ["query_id", "neighbor_id"], "left_semi").count()
    assert (n_exact, nm_s, nc_s, round(nc_s / n_exact, 6)) == sq8f
    assert nc_s >= nc_q  # SQ8 resolution dominates PQ codes on this corpus


# graph-ANN recall ratchet (VERDICT r12 item #6): coarse-quantizer entry
# (beam seeds AT the query's nearest centroids — the HNSW upper-layer
# descent; serve cost = centroid-table dots + the flat walk, measured
# SERVE-FLAT under 40x corpus growth by tools/ann_serve_scale_curve.py)
# + a deg-8 walk graph (HNSW's M — deg 3 capped the beam at 0.60
# regardless of hops; only the ANN rung pays the denser graph). Recall
# rises from the fixed-uniform-seed era's 0.64/0.48. An earlier r13 cut
# hit 1.0/1.0 by joining the probed lists' MEMBERS — an O(N·nlists)
# corpus assignment at serve time, reverted as corpus-bound (46x at 40x
# corpus). Measured 2026-08-17, r13.
GRAPH_ANN_EXPECTED = {
    "sf0.001": (25, 25, 23, 0.92),
    "sf0.01": (25, 25, 22, 0.88),
}


def test_graph_ann_recall_pinned(swept_frame, sf_dir):
    """The graph-ANN rung's recall vs brute, pinned as a ratchet: a
    future change to entry selection, beam ordering, or the k-NN graph
    build that silently degrades the walk fails HERE, not in a
    docstring. The oracle-parity gate certifies the walk hop-for-hop;
    this pins its measured quality."""
    want = None
    for sf, vals in GRAPH_ANN_EXPECTED.items():
        if sf_dir.rstrip("/").endswith(sf):
            want = vals
    if want is None:
        pytest.skip(f"no pinned graph_ann constants for {sf_dir}")
    row = next(swept_frame("graph_ann_eval").itertuples())
    got = (row.n_exact, row.n_method, row.n_common, float(row.recall))
    assert got == want, got
