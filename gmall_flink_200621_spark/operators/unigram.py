"""Unigram language-model tokenizer induction on Spark — the OTHER
production subword algorithm (Kudo 2018; SentencePiece's default), the
third member of the engine's iterative-algorithm class after connected
components and BPE. Where BPE grows a vocabulary bottom-up by merging,
the unigram LM starts from an over-complete substring seed vocabulary and
fits piece probabilities by EM over all segmentations of every word, then
ranks/prunes — the shape used for most modern multilingual tokenizers
(T5, mT5, XLNet, LLaMA's SentencePiece).

Spark decomposition (the driver-sees-only-the-model discipline):

- the corpus collapses ONCE to the distinct word × frequency table (the
  same O(|vocab-of-words|) trick as `bpe.bpe_merges`);
- the SEED vocabulary (all characters + the top multi-char substrings by
  occurrence count) is a distributed substring-explode + count + top-K —
  the only rows the driver ever holds are the model itself (≤ SEED_KEEP
  pieces);
- each EM iteration is ONE distributed Arrow `mapInPandas` pass over the
  word table: per word, forward-backward over its segmentation lattice
  (O(len × max_piece_len) per word) with the current piece probabilities
  in-closure, emitting per-batch pre-aggregated expected counts; a
  vocabulary-sized groupBy-sum reduces them and the driver collects the
  ≤|vocab|-row count table for the M-step re-normalization. Shuffle per
  iteration is O(|vocab| × partitions) count rows — never words, never
  text;
- per-word fractional expected counts are QUANTIZED to integers
  (round(c × 10⁶)) before the global sum, so the fitted model is exact
  under any partitioning/reduction order — the family's fixed-point
  contract applied to EM (float sums across rows would be
  order-dependent; the within-word DP is sequential and deterministic).

No SQL oracle, by the same carve-out as BPE: each EM round's output
distribution feeds the next round's lattice weights — the
non-SQL-expressible iterative class (the driver records rows-only).
Exactness is pinned instead by tests/test_operators.py::TestUnigramLm
against a pure-Python reference running the identical quantized EM,
piece-for-piece, and the Viterbi encoder against a Python Viterbi.

Reference scope note: the gmall reference has no tokenizer induction at
all; this (like BPE) is part of the beyond-reference training-data
mandate.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

UNI_MAX_PIECE_LEN = 4  # seed substrings up to this length
UNI_SEED_KEEP = 128  # multi-char seed pieces kept (top by count, piece asc)
UNI_EM_ITERS = 3
UNI_VOCAB_SIZE = 96  # final vocabulary (chars always survive the prune)
UNI_SCALE = 10**6  # per-word expected-count quantization


def _word_freqs(docs: DataFrame) -> DataFrame:
    """(w, freq) distinct-word table — the corpus collapse."""
    return (
        docs.select(F.explode(tokens("text")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _seed_vocab(wf: DataFrame, max_len: int, seed_keep: int) -> list[tuple[str, int]]:
    """Seed pieces with occurrence counts: every character, plus the top
    `seed_keep` substrings of length 2..max_len by (count desc, piece
    asc). All-JVM: substrings enumerate via sequence/transform (no Python
    in the corpus-sized pass); only the model-sized top-K reaches the
    driver."""
    subs = wf.select(
        "freq",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length("w")),
                    lambda i: F.transform(
                        F.sequence(
                            F.lit(1),
                            F.least(F.lit(max_len), F.length("w") - i + 1),
                        ),
                        lambda n: F.col("w").substr(i, n),
                    ),
                )
            )
        ).alias("piece"),
    )
    counts = subs.groupBy("piece").agg(F.sum("freq").alias("cnt"))
    chars = (
        counts.filter(F.length("piece") == 1)
        .orderBy(F.asc("piece"))
        .collect()
    )
    multi = (
        counts.filter(F.length("piece") >= 2)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(seed_keep)
        .collect()
    )
    return [(r.piece, int(r.cnt)) for r in chars] + [(r.piece, int(r.cnt)) for r in multi]


def _em_expected_counts(word_freqs, vocab_probs: dict[str, float], scale: int):
    """Per-word forward-backward expected piece counts, quantized.

    Pure function used by BOTH the Spark mapInPandas closure and the
    test's pandas reference — one implementation, two harnesses, so the
    exactness pin is about the distributed plumbing, not a re-derivation.
    Yields (piece, quantized_count) pairs aggregated over the given
    (word, freq) iterable."""
    max_len = max(len(p) for p in vocab_probs)
    out: dict[str, int] = {}
    for w, freq in word_freqs:
        n = len(w)
        # forward: alpha[i] = total prob of segmentations of w[:i]
        alpha = [0.0] * (n + 1)
        alpha[0] = 1.0
        for j in range(1, n + 1):
            a = 0.0
            for i in range(max(0, j - max_len), j):
                p = vocab_probs.get(w[i:j])
                if p is not None and alpha[i] > 0.0:
                    a += alpha[i] * p
            alpha[j] = a
        z = alpha[n]
        if z <= 0.0:
            continue  # unsegmentable (cannot happen while chars stay in vocab)
        # backward: beta[i] = total prob of segmentations of w[i:]
        beta = [0.0] * (n + 1)
        beta[n] = 1.0
        for i in range(n - 1, -1, -1):
            b = 0.0
            for j in range(i + 1, min(n, i + max_len) + 1):
                p = vocab_probs.get(w[i:j])
                if p is not None and beta[j] > 0.0:
                    b += p * beta[j]
            beta[i] = b
        for i in range(n):
            for j in range(i + 1, min(n, i + max_len) + 1):
                piece = w[i:j]
                p = vocab_probs.get(piece)
                if p is None:
                    continue
                occ = alpha[i] * p * beta[j] / z
                if occ > 0.0:
                    c = int(round(occ * freq * scale))
                    if c:
                        out[piece] = out.get(piece, 0) + c
    return out.items()


def viterbi_segment(w: str, vocab_probs: dict[str, float]) -> list[str]:
    """Most-probable segmentation (ties: fewer pieces, then earlier
    longer piece — deterministic). Shared by the Spark encoder closure
    and the Python test reference."""
    max_len = max(len(p) for p in vocab_probs)
    n = len(w)
    NEG = float("-inf")
    best = [NEG] * (n + 1)
    best[0] = 0.0
    back = [0] * (n + 1)
    for j in range(1, n + 1):
        for i in range(max(0, j - max_len), j):
            p = vocab_probs.get(w[i:j])
            if p is None or best[i] == NEG:
                continue
            s = best[i] + math.log(p)
            # strictly-better, or equal score with an earlier (longer-
            # piece) split point — deterministic tie-break
            if s > best[j] or (s == best[j] and i < back[j]):
                best[j], back[j] = s, i
    if best[n] == NEG:
        return list(w)  # per-char fallback (unreachable while chars stay)
    pieces, j = [], n
    while j > 0:
        i = back[j]
        pieces.append(w[i:j])
        j = i
    return pieces[::-1]


def unigram_lm_vocab(
    docs: DataFrame,
    em_iters: int = UNI_EM_ITERS,
    vocab_size: int = UNI_VOCAB_SIZE,
    max_len: int = UNI_MAX_PIECE_LEN,
    seed_keep: int = UNI_SEED_KEEP,
) -> DataFrame:
    """Train the unigram-LM vocabulary; returns (rank, piece, count_q) —
    rank 1 is the most probable piece after the final EM pass, count_q
    its quantized expected count (the sufficient statistic the
    probability is count_q/Σ of). Characters always survive the prune
    (coverage guarantee), then pieces by (count desc, piece asc)."""
    spark = docs.sparkSession
    wf = _word_freqs(docs).localCheckpoint(eager=True)
    seed = _seed_vocab(wf, max_len, seed_keep)
    tot = sum(c for _, c in seed)
    probs = {p: c / tot for p, c in seed}

    for _ in range(em_iters):
        vocab = dict(probs)  # closure snapshot for this pass

        def em_pass(batches, _vocab=vocab):
            import pandas as pd

            for pdf in batches:
                items = _em_expected_counts(
                    zip(pdf["w"], pdf["freq"]), _vocab, UNI_SCALE
                )
                out = pd.DataFrame(items, columns=["piece", "c"])
                if len(out):
                    yield out

        counts = (
            wf.mapInPandas(em_pass, "piece string, c long")
            .groupBy("piece")
            .agg(F.sum("c").alias("c"))
            .collect()
        )  # ≤ |vocab| rows — the model, the bounded driver read
        cmap = {r.piece: int(r.c) for r in counts}
        tot = sum(cmap.values())
        probs = {p: c / tot for p, c in cmap.items() if c > 0}
        # coverage: characters never drop out, even at count 0
        for p, _ in seed:
            if len(p) == 1 and p not in probs:
                probs[p] = 1.0 / tot

    final = [(p, int(round(probs[p] * tot))) for p in probs]
    # prune: all single chars + top multi-char pieces by (count desc,
    # piece asc) up to vocab_size total
    chars = sorted([(p, c) for p, c in final if len(p) == 1])
    multi = sorted(
        [(p, c) for p, c in final if len(p) > 1], key=lambda pc: (-pc[1], pc[0])
    )[: max(0, vocab_size - len(chars))]
    ranked = sorted(chars + multi, key=lambda pc: (-pc[1], pc[0]))
    rows = [(i + 1, p, c) for i, (p, c) in enumerate(ranked)]
    return spark.createDataFrame(rows, "rank int, piece string, count_q long")


UNI_FREQ_MAX_LEN = 3  # closed-form vocab: substrings up to this length
UNI_FREQ_DENOM = 20  # keep pieces with cnt ≥ 1/denom of total word occurrences


def unigram_freq_scores(
    docs: DataFrame, max_len: int = UNI_FREQ_MAX_LEN, denom: int = UNI_FREQ_DENOM
) -> list[tuple[str, int]]:
    """CLOSED-FORM integer piece scores — the hash-gated Viterbi twin's
    contract (`wordpiece_freq_vocab`'s stance applied here): every plain
    substring of length ≤ max_len whose frequency-weighted occurrence
    count reaches 1/denom of total word occurrences, scored by that
    count. One aggregation, integer threshold arithmetic — the DuckDB
    oracle re-derives vocabulary AND scores exactly. The collect is
    vocab-bounded."""
    wf = _word_freqs(docs)
    pieces = wf.select(
        "freq",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length("w")),
                    lambda i: F.transform(
                        F.sequence(
                            F.lit(1),
                            F.least(F.lit(max_len), F.length("w") - i + 1),
                        ),
                        lambda n: F.col("w").substr(i, n),
                    ),
                )
            )
        ).alias("piece"),
    )
    total = int(wf.agg(F.sum("freq")).first()[0] or 0)
    kept = (
        pieces.groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
        .filter(F.col("cnt") * denom >= F.lit(total))
        .collect()
    )
    return [(r.piece, int(r.cnt)) for r in kept]


def viterbi_segment_int(w: str, scores: dict[str, int], max_len: int) -> int:
    """Integer-exact Viterbi piece count: the segmentation maximizing
    (Σ piece score, then FEWER pieces) — the log-free member of the
    Viterbi family. The float encoder (`viterbi_segment`) maximizes
    Σ log p, which is libm-dependent and therefore outside the engine's
    cross-engine hash contract; this twin's objective is pure int64
    comparison, so the DuckDB oracle replays it bit-for-bit (encoded
    there as comb = score·64 + (63 − pieces), lexicographic max —
    requires pieces ≤ 63 per word, i.e. words under 64 chars; longer
    words belong to the float encoder). A word with no full path (a
    character below the vocab threshold) falls back to per-char count
    len(w) — deterministic in both engines. Only the piece COUNT is
    returned: third-level ties (same score, same count, different
    splits) are output-invisible by construction."""
    n = len(w)
    best: list[tuple[int, int] | None] = [None] * (n + 1)
    best[0] = (0, 0)  # (score, -pieces)
    for j in range(1, n + 1):
        for i in range(max(0, j - max_len), j):
            if best[i] is None:
                continue
            s = scores.get(w[i:j])
            if s is None:
                continue
            cand = (best[i][0] + s, best[i][1] - 1)
            if best[j] is None or cand > best[j]:
                best[j] = cand
    if best[n] is None:
        return n
    return -best[n][1]


def unigram_encode_freq(
    docs: DataFrame, scores: list[tuple[str, int]], max_len: int = UNI_FREQ_MAX_LEN
) -> DataFrame:
    """Viterbi-encode the corpus under the closed-form integer scores —
    `unigram_encode`'s exact scale shape (pure Arrow map, zero shuffles,
    per-distinct-word memo) with `viterbi_segment_int` as the DP. This
    is the hash-gated twin certifying the lattice DP engine end-to-end;
    the trained-vocab encoder stays rows-only because its probabilities
    are the EM trainer's product and its scores go through libm log."""
    smap = dict(scores)

    def encode(batches):
        from decimal import ROUND_HALF_UP, Decimal

        import pandas as pd

        def round6(x: float) -> float:
            # mirror Spark/DuckDB round(double, 6) HALF_UP (Python round
            # is half-even — the wordpiece_encode trick; load-bearing
            # here because this twin IS hash-gated)
            return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

        memo: dict[str, int] = {}
        for pdf in batches:
            n_words, n_pieces, n_chars = [], [], []
            for text in pdf["text"]:
                words = [w for w in text.split(" ") if w]
                np_ = nc = 0
                for w in words:
                    k = memo.get(w)
                    if k is None:
                        k = viterbi_segment_int(w, smap, max_len)
                        memo[w] = k
                    np_ += k
                    nc += len(w)
                n_words.append(len(words))
                n_pieces.append(np_)
                n_chars.append(nc)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_words": pd.Series(n_words, dtype="int32"),
                    "n_pieces": pd.Series(n_pieces, dtype="int64"),
                    "chars_per_piece": [
                        round6(c / p) if p else 0.0
                        for c, p in zip(n_chars, n_pieces)
                    ],
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        encode, "doc_id long, n_words int, n_pieces long, chars_per_piece double"
    )


def unigram_encode(docs: DataFrame, vocab: list[tuple[str, int]]) -> DataFrame:
    """Viterbi-encode the corpus under a trained vocabulary — the
    corpus-scale side, a pure Arrow map (zero shuffles, zero driver
    round-trips): (doc_id, n_words, n_pieces,
    chars_per_piece). `vocab` is the (piece, count_q) list from
    `unigram_lm_vocab`; probabilities renormalize from the counts."""
    tot = sum(c for _, c in vocab)
    probs = {p: c / tot for p, c in vocab if c > 0}
    # zero-count survivors (coverage chars) get the same epsilon the
    # trainer's M-step floor gives them
    eps = 1.0 / max(tot, 1)
    for p, c in vocab:
        if c <= 0:
            probs.setdefault(p, eps)

    def encode(batches):
        from decimal import ROUND_HALF_UP, Decimal

        import pandas as pd

        def round6(x: float) -> float:
            # mirror Spark/DuckDB round(double, 6) HALF_UP (Python round
            # is half-even) — load-bearing since the vocab-as-input gate
            # made this encoder hash-certified too
            return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

        memo: dict[str, int] = {}
        for pdf in batches:
            n_words, n_pieces, n_chars = [], [], []
            for text in pdf["text"]:
                words = [w for w in text.split(" ") if w]
                np_ = nc = 0
                for w in words:
                    k = memo.get(w)
                    if k is None:
                        k = len(viterbi_segment(w, probs))
                        memo[w] = k
                    np_ += k
                    nc += len(w)
                n_words.append(len(words))
                n_pieces.append(np_)
                n_chars.append(nc)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_words": pd.Series(n_words, dtype="int32"),
                    "n_pieces": pd.Series(n_pieces, dtype="int64"),
                    "chars_per_piece": [
                        round6(c / p) if p else 0.0
                        for c, p in zip(n_chars, n_pieces)
                    ],
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        encode, "doc_id long, n_words int, n_pieces long, chars_per_piece double"
    )
