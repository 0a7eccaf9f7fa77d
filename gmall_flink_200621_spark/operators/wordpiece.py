"""WordPiece vocabulary trainer — the third subword family next to BPE
(`operators/bpe.py`) and unigram-LM (`operators/unigram.py`), completing
the set a production tokenization pipeline chooses from (BERT-style
models ship WordPiece; GPT-style ship BPE; T5/SentencePiece default to
unigram).

Reference behavior modeled: the original WordPiece objective (Schuster &
Nakajima 2012, as popularized by BERT) — identical greedy merge loop to
BPE but the pair picked each round maximizes the LIKELIHOOD score
count(a,b) / (count(a) · count(b)) instead of raw pair count, i.e. the
merge that most increases a unigram LM's corpus likelihood. Non-initial
symbols carry the `##` continuation prefix, and merging (a, ##b) yields
a+b without the marker (so vocabulary entries are real substrings).

Spark decomposition — `bpe_merges`' incremental-delta machinery with one
extra maintained aggregate: alongside the (a, b, cnt) pair frame the
trainer keeps the (s, scnt) symbol-frequency table, both updated by
retract-and-add deltas over only the words containing the merged pair
(a full recount of affected words, so greedy-overlap cases like
's s s' — 2 adjacencies but 1 applied merge — stay exact). Both tables
are vocabulary-bounded driver-held state (see bpe_merges), the scoring
argmax is a Python min() over them, and the merge application is a
shuffle-free conditional projection. The score division is a per-row
pure double over exact int64 counts (no cross-row float reduction), so
training is bit-deterministic under any partitioning — pinned in tests
against a pure-Python reference, `bpe_merges`' certification discipline
(rows-only driver gate: the merge loop is iterative/stateful, outside
ANSI-SQL's reach — same documented stance as bpe_merges/unigram_lm_vocab).

At 100 TB the sample-then-train stance applies verbatim (the trainer
composes with `textops.deterministic_sample` exactly as
`bpe_merges_sampled` does); `wordpiece_encode` below is the
corpus-facing inference side — greedy longest-match-first over the
trained vocab, a pure Arrow map.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from .bpe import SPEC_LOOKAHEAD, _apply_merges_frame, _count_frame, _net_step

WP_MERGES = 12
# trainer-loop checkpoints are LAZY (eager=False below; see bpe.py's
# r13 note — one job per merge round instead of four)
WP_CONT = "##"


def _wp_syms(word):
    """word → WordPiece initial symbols: first character bare, every
    following character prefixed with the `##` continuation marker."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.when(i == 1, word.substr(i, F.lit(1))).otherwise(
            F.concat(F.lit(WP_CONT), word.substr(i, F.lit(1)))
        ),
    )


def _merged_token(a: str, b: str) -> str:
    """Merged vocabulary entry: a + b without b's continuation marker
    (a keeps its own marker iff word-internal)."""
    return a + (b[len(WP_CONT) :] if b.startswith(WP_CONT) else b)


def wordpiece_vocab(
    docs: DataFrame,
    n_merges: int = WP_MERGES,
    word_partitions: int | None = None,
    lookahead: int = SPEC_LOOKAHEAD,
) -> DataFrame:
    """Train a WordPiece merge table; returns (rank, left, right, token,
    pair_count, left_count, right_count, score) — rank 1 is the first
    merge. Selection compares the RAW double score (ties break on
    (left, right) ascending); the reported score column is rounded to 9
    decimals for display only, after selection."""
    spark = docs.sparkSession
    wf = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("freq", _wp_syms(F.col("w")).alias("syms"))
    )
    if word_partitions is not None:
        wf = wf.coalesce(word_partitions)
    wf = wf.localCheckpoint(eager=False)

    # DRIVER-HELD pair/symbol-count state (r14 — bpe_merges' rationale,
    # see the note there): both tables are vocabulary-bounded working
    # state (pairs ≤ (alphabet + n_merges)², symbols ≤ alphabet +
    # n_merges), so the per-round scoring join + argmax runs as a Python
    # min() over the dicts instead of an 8-scheduler-job Catalyst plan
    # (measured ~0.85 s/round at sf0.1 — 101 jobs for a 12-merge train).
    # The data plane keeps ONE map-only job per accepted speculation
    # batch (`bpe._count_frame` with with_syms=True: the affected words'
    # signed pair+symbol recount, netted partition-locally, no exchange).
    # Exactness: the score is float(cnt)/float(ca·cb), as in the
    # distributed form (Spark's Divide casts each side long→double), and
    # ties break on UTF-8 byte order to match Spark's binary string
    # ordering. The product differs past 2^63 only: Python multiplies
    # exact integers, where the Spark plan multiplied as int64 and would
    # overflow (symbol counts above ~3·10^9 each); below that the two
    # agree bit for bit. Merge-for-merge parity with the distributed
    # form stays pinned in TestWordPiece.
    pc: dict[tuple[str, str], int] = {}
    sc: dict[str, int] = {}
    for r in _count_frame(wf, None, with_syms=True).collect():
        if r.kind == 0:
            pc[(r.a, r.b)] = pc.get((r.a, r.b), 0) + r.d
        else:
            sc[r.a] = sc.get(r.a, 0) + r.d
    key = lambda kv: (  # noqa: E731 — likelihood score, Spark byte tie-break
        -(float(kv[1]) / float(sc[kv[0][0]] * sc[kv[0][1]])),
        kv[0][0].encode(),
        kv[0][1].encode(),
    )
    rows: list[tuple] = []
    while len(rows) < n_merges and pc:
        # speculative candidate ladder by CURRENT score (bpe_merges' r14
        # shape — see the note there): one step-tagged delta job for the
        # top-J candidates applied sequentially; accept the longest
        # argmax-consistent prefix. Bit-identical to one-merge-per-job.
        ladder = [
            (a, b, _merged_token(a, b))
            for (a, b), _ in sorted(pc.items(), key=key)[
                : max(1, min(lookahead, n_merges - len(rows)))
            ]
        ]
        drows = _count_frame(wf, ladder, with_syms=True).collect()
        accepted: list[tuple[str, str, str]] = []
        for i, (a, b, tok) in enumerate(ladder):
            if i > 0 and min(pc.items(), key=key)[0] != (a, b):
                break  # a prior step moved the score ranking — discard tail
            ca, cb, cnt = int(sc[a]), int(sc[b]), int(pc[(a, b)])
            rows.append(
                (len(rows) + 1, a, b, tok, cnt, ca, cb, round(cnt / (ca * cb), 9))
            )
            accepted.append((a, b, tok))
            _net_step(pc, drows, i, with_syms=True, sc=sc)
            if not pc:
                break
        wf = _apply_merges_frame(wf, accepted).localCheckpoint(eager=False)
    return spark.createDataFrame(
        rows,
        "rank int, left string, right string, token string, "
        "pair_count long, left_count long, right_count long, score double",
    )


WP_SAMPLE_PER_MILLE = 250
WP_SAMPLE_PARTITIONS = 4


def wordpiece_vocab_sampled(
    docs: DataFrame,
    n_merges: int = WP_MERGES,
    rate_per_mille: int = WP_SAMPLE_PER_MILLE,
    seed: str = "wp0",
    word_partitions: int = WP_SAMPLE_PARTITIONS,
) -> DataFrame:
    """Sampled WordPiece trainer — `bpe_merges_sampled`'s stance applied
    to the likelihood objective: the score cnt/(ca·cb) is a RATIO of
    corpus-level Zipfian frequencies, so a uniform document sample
    preserves its ranking at modest rates just as it preserves raw pair
    ranks (both numerator and denominators shrink proportionally; the
    ~1/√n noise hits head pairs last). The sample is
    `textops.deterministic_sample` (md5-bucket on seed||doc_id) — the
    trained vocabulary is bit-reproducible on any engine/partitioning —
    and the loop on the sample is the same merge-for-merge-exact trainer
    (coalesce changes task count, never values). Prefix agreement with
    the full-corpus trainer is pinned in TestWordPiece."""
    from .textops import deterministic_sample

    return wordpiece_vocab(
        deterministic_sample(docs, rate_per_mille, seed),
        n_merges,
        word_partitions=word_partitions,
    )


WP_FREQ_MAX_LEN = 3  # closed-form vocab: positional pieces up to this length
WP_FREQ_DENOM = 20  # keep pieces with cnt ≥ 1/denom of total word occurrences


def wordpiece_freq_vocab(
    docs: DataFrame, max_len: int = WP_FREQ_MAX_LEN, denom: int = WP_FREQ_DENOM
) -> list[str]:
    """CLOSED-FORM frequency vocabulary — the hash-gated twin's contract:
    every positional piece (word-initial bare, continuation ##-marked) of
    length ≤ max_len whose frequency-weighted occurrence count reaches
    1/denom of total word occurrences. Unlike the trained vocabulary
    (an iterative product, rows-only by the BPE carve-out) this is one
    aggregation — the DuckDB oracle re-derives it exactly, which is what
    lets `wordpiece_encode_freq` put the greedy longest-match ENCODER
    under the hash gate. Threshold arithmetic is integer
    (cnt·denom ≥ total), so both engines keep identical vocabularies.
    The collect is vocab-bounded (≤ 2·alphabet^max_len positional
    pieces — the centroid-table class of driver read)."""
    wf = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
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
                        lambda n: F.when(i == 1, F.col("w").substr(i, n)).otherwise(
                            F.concat(F.lit(WP_CONT), F.col("w").substr(i, n))
                        ),
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
    return [r.piece for r in kept]


def wordpiece_base_vocab(docs: DataFrame) -> list[str]:
    """The trained vocabulary's BASE layer: every single-character symbol
    (bare word-initial + '##'-marked continuation) occurring in the
    corpus. Distributed distinct over the exploded symbol frame; the
    collect is alphabet-bounded (≤ 2× distinct characters — the
    centroid-table class of bounded driver read)."""
    w = docs.select(F.explode(tokens("text")).alias("w")).filter(F.length("w") > 0)
    return [
        r.s for r in w.select(F.explode(_wp_syms(F.col("w"))).alias("s")).distinct().collect()
    ]


def wordpiece_encode(docs: DataFrame, vocab: list[str]) -> DataFrame:
    """Apply a trained WordPiece vocabulary: greedy LONGEST-MATCH-FIRST
    tokenization (BERT's WordpieceTokenizer — inference is NOT merge
    replay: each word is segmented by repeatedly taking the longest
    vocab prefix, continuations matched with the '##' marker; a word
    with no decomposition becomes one [UNK] token). Output per doc:
    (doc_id, n_words, n_wp_tokens, n_unk_words, chars_per_token).

    Scale shape: a pure
    `mapInPandas` map (zero shuffles, zero driver round-trips), the
    vocab a broadcast-closure set, each DISTINCT word segmented once
    per Arrow batch (Zipfian memo hit rate). Longest-match costs
    O(|word|²) set probes per NEW word — bounded by word length, not
    vocab size. Exactness is pinned against a pure-Python reference
    (rows-only certification, same stance as the trainer: the vocab it
    consumes is itself the product of the iterative trainer)."""
    vset = frozenset(vocab)

    def encode_batches(batches):
        from decimal import ROUND_HALF_UP, Decimal

        import pandas as pd

        def round6(x: float) -> float:
            # mirror Spark round(double, 6) HALF_UP
            return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

        memo: dict[str, tuple[int, int]] = {}

        def enc(word: str) -> tuple[int, int]:
            got = memo.get(word)
            if got is not None:
                return got
            pieces, i, n = 0, 0, len(word)
            out = (1, 1)  # [UNK]: one token, one unk word
            while i < n:
                j = n
                while j > i:
                    cand = word[i:j] if i == 0 else WP_CONT + word[i:j]
                    if cand in vset:
                        break
                    j -= 1
                else:
                    break  # no prefix matched → whole word is [UNK]
                pieces += 1
                i = j
            else:
                out = (pieces, 0)
            memo[word] = out
            return out

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                ws = [w for w in text.split(" ") if w]
                toks = unks = chars = 0
                for w in ws:
                    t, u = enc(w)
                    toks += t
                    unks += u
                    chars += len(w)
                rows.append(
                    (doc_id, len(ws), toks, unks, round6(chars / toks) if toks else 0.0)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_words",
                    "n_wp_tokens",
                    "n_unk_words",
                    "chars_per_token",
                ],
            )

    return docs.select("doc_id", "text").mapInPandas(
        encode_batches,
        "doc_id long, n_words int, n_wp_tokens long, n_unk_words int, chars_per_token double",
    )
