"""BPE tokenizer-vocabulary induction on Spark — the merge-table training
step of byte-pair encoding (Sennrich et al. 2016), the second member of
the engine's iterative-algorithm class (with `dedup_clusters`' connected
components): a driver-orchestrated loop where each round is one
distributed aggregation plus one distributed map, and the driver sees only
the 1-row argmax.

Per merge round over the word-frequency table (NOT the corpus — the
corpus collapses once to distinct words × frequency, the standard BPE
trick that makes round cost O(|vocab|), not O(corpus)):

1. adjacent symbol pairs per word via two `slice`+`arrays_zip` (no
   explode of single characters — pairs only), weighted by word frequency;
2. global argmax pair = orderBy(count desc, pair asc).limit(1) — a 1-row
   collect, the same driver-sees-a-scalar shape as the CC loop's
   convergence probe;
3. apply the accepted merges with a left-to-right pass over each word's
   symbol array in one Arrow map (`_apply_merges_frame`) —
   non-overlapping greedy, matching the canonical implementation — and
   `localCheckpoint` so the plan stays O(1) deep across rounds.

No SQL oracle: the loop's argmax feeds the next round's input, which a
single DuckDB statement cannot express — this is exactly the
"genuinely non-SQL-expressible iterative algorithm" carve-out of the
driver contract (rows-only check there); exactness is pinned instead by
`tests/test_operators.py::TestBpe` against a pure-Python reference BPE
on the same corpus, merge-for-merge."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

BPE_MERGES = 12
# trainer-loop checkpoints are LAZY (eager=False below, r13 A/B: lazy
# won or tied twice — the next round's argmax materializes them in its
# own job, so a round costs ONE job instead of three barrier jobs)


def _chars(word):
    """word → array of single-character symbols (split('', ...) is
    version-fragile around empty edges; substring indexing is not)."""
    return F.transform(F.sequence(F.lit(1), F.length(word)), lambda i: word.substr(i, F.lit(1)))


def _apply_merge_py(syms: list[str], a: str, b: str, tok: str) -> list[str]:
    """One merge applied to one word: the left-to-right non-overlapping
    greedy pass of the canonical implementation."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(tok)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _count_frame(
    src: DataFrame,
    merges: list[tuple[str, str, str]] | None,
    with_syms: bool,
) -> DataFrame:
    """Partition-local signed (pair[, symbol]) recount of a (freq, syms)
    word frame as ONE map-only Arrow pass — no exchange: each partition
    emits its partial (step, kind, a, b, d) sums (kind 0 = adjacent
    pair, kind 1 = symbol) and the DRIVER nets them (exact int sums,
    order-free). With `merges=None` counts are positive at step 0 (the
    trainer's initial state); with a SPECULATIVE candidate ladder
    `merges=[(a, b, tok), ...]` each word applies the candidates
    SEQUENTIALLY and step i carries (counts after merges 0..i) MINUS
    (counts after merges 0..i−1) — a full word recount per step, so
    greedy-overlap cases stay exact by construction, and the driver can
    accept any PREFIX of the ladder (step i's delta is exactly round
    i's delta iff steps 0..i−1 were accepted). Words a step leaves
    unchanged contribute nothing to it. Output rows are
    pair-vocabulary-bounded per partition (the bounded-driver-read
    class of the centroid tables)."""
    mg = merges

    def gen(batches):
        from collections import Counter

        import pandas as pd

        cnt: Counter = Counter()

        def bump(step, syms, freq, sgn):
            for p in zip(syms, syms[1:]):
                cnt[(step, 0, p[0], p[1])] += sgn * freq
            if with_syms:
                for sym in syms:
                    cnt[(step, 1, sym, "")] += sgn * freq

        for pdf in batches:
            for freq, syms in zip(pdf["freq"], pdf["syms"]):
                freq = int(freq)
                syms = list(syms)
                if mg is None:
                    bump(0, syms, freq, 1)
                    continue
                for step, (a, b, tok) in enumerate(mg):
                    new = _apply_merge_py(syms, a, b, tok)
                    if len(new) != len(syms):
                        bump(step, syms, freq, -1)
                        bump(step, new, freq, 1)
                        syms = new
        rows = [(st, k, a, b, d) for (st, k, a, b), d in cnt.items() if d != 0]
        yield pd.DataFrame(
            rows or None, columns=["step", "kind", "a", "b", "d"]
        ).astype(
            {"step": "int32", "kind": "int32", "a": "object", "b": "object", "d": "int64"}
        )

    return src.select("freq", "syms").mapInPandas(
        gen, "step int, kind int, a string, b string, d long"
    )


def _apply_merges_frame(wf: DataFrame, merges: list[tuple[str, str, str]]) -> DataFrame:
    """Apply an ACCEPTED merge sequence to the (freq, syms) word frame as
    one Arrow map — `_apply_merge_py` per word per merge. Replaces the per-round
    conditional-fold projection (whose `when(exists…, aggregate…)`
    expression cost a fresh Catalyst analysis every round and cannot
    chain k merges without 3^k expression growth)."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for syms in pdf["syms"]:
                syms = list(syms)
                for a, b, tok in merges:
                    syms = _apply_merge_py(syms, a, b, tok)
                out.append(syms)
            yield pd.DataFrame({"freq": pdf["freq"], "syms": out})

    return wf.select("freq", "syms").mapInPandas(gen, "freq long, syms array<string>")


def _net_step(tgt: dict, rows, step: int, with_syms: bool, sc: dict | None = None) -> None:
    """Net one accepted step's collected delta rows into the driver-held
    count dicts (pairs into `tgt`, symbols into `sc`), deleting keys
    whose count nets to zero (retraction ≤ prior contribution, so < 0 is
    impossible)."""
    for r in rows:
        if r.step != step:
            continue
        if r.kind == 0:
            key, d = (r.a, r.b), tgt
        else:
            key, d = r.a, sc
        nv = d.get(key, 0) + r.d
        if nv > 0:
            d[key] = nv
        else:
            d.pop(key, None)


# speculative lookahead width: each round's ONE delta job recounts the
# top-J candidate merges applied sequentially; the driver accepts the
# longest prefix that stays argmax-consistent (always ≥ 1 — candidate 0
# IS the current argmax), so a 12-merge train needs between 12/J and 12
# jobs instead of exactly 12. J trades per-job recount work (each word
# is re-merged up to J times) against scheduler round-trips; 4 measured
# best at the ~0.25 s/job local floor and is harmless at scale (the
# recount stays one corpus-free map over the word table).
SPEC_LOOKAHEAD = 4


def bpe_merges(
    docs: DataFrame,
    n_merges: int = BPE_MERGES,
    word_partitions: int | None = None,
    lookahead: int = SPEC_LOOKAHEAD,
) -> DataFrame:
    """Train a BPE merge table on the corpus; returns
    (rank, left, right, pair_count) — rank 1 is the first (most frequent)
    merge. Deterministic: ties break on (left, right) ascending.

    INCREMENTAL pair counts (the change that makes a 32k–50k-merge
    production vocabulary feasible, vs full re-aggregation per round):
    the (a, b)→cnt table is materialized once from the whole word table,
    then maintained by DELTA after each merge — each affected word fully
    recounts (old pairs retracted, post-merge pairs added), so
    neighbor-pair shifts and overlap cases like 'a a a' are exact by
    construction. The count table is pair-vocabulary-bounded and lives
    on the DRIVER (see the note below); per round the cluster runs ONE
    map-only Arrow pass (`_count_frame` — partition-local netting, no
    exchange) and the merge application is one Arrow projection over the
    word frame. `lookahead` J speculates the top-J candidates per job
    and accepts the longest argmax-consistent prefix — values are
    bit-identical at every J (collision pin in tests), only the job
    count changes.

    `word_partitions`: optional coalesce target for the word-frequency
    frame. Per-round wall time on a SMALL word table (the
    sampled-trainer case) is dominated by task scheduling, so the
    sampled caller coalesces to a handful of partitions sized to its
    word count. Coalesce never changes values, only task count; the
    full-corpus default (None) keeps the session's parallelism."""
    spark = docs.sparkSession
    wf = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("freq", _chars(F.col("w")).alias("syms"))
    )
    if word_partitions is not None:
        wf = wf.coalesce(word_partitions)
    wf = wf.localCheckpoint(eager=False)
    # DRIVER-HELD pair-count state (r14, guide §1.2/§5): the (a, b, cnt)
    # table is the trainer's working state and is PAIR-VOCABULARY-bounded
    # (distinct observed adjacent symbol pairs ≤ (alphabet + n_merges)²,
    # corpus-size-independent — the same bounded-driver-read class as the
    # centroid tables, and exactly the state every production BPE trainer
    # (SentencePiece, HF tokenizers) holds in memory). Keeping it
    # distributed cost 4 scheduler jobs + a fresh Catalyst analysis of the
    # argmax-join-sort plan EVERY round (measured ~0.5 s/round at sf0.1 —
    # 52 jobs for a 12-merge train); the data plane now runs ONE map-only
    # job per ACCEPTED SPECULATION BATCH (`_count_frame`: the affected
    # words' signed recount, netted partition-locally, no exchange), and
    # the argmax is a driver-side min() over the dict.
    # Exactness: counts are exact int64 sums either way; the tie-break
    # (cnt desc, a asc, b asc) compares strings as UTF-8 BYTES to match
    # Spark's binary string ordering. Merge-for-merge parity with the
    # distributed form stays pinned in TestBpe.
    pc: dict[tuple[str, str], int] = {}
    for r in _count_frame(wf, None, with_syms=False).collect():
        pc[(r.a, r.b)] = pc.get((r.a, r.b), 0) + r.d
    key = lambda kv: (-kv[1], kv[0][0].encode(), kv[0][1].encode())  # noqa: E731
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < n_merges and pc:
        # SPECULATIVE ladder (r14, guide §1.2): candidate 0 is the true
        # argmax; candidates 1..J−1 are the next-best pairs by CURRENT
        # counts. One map-only job recounts all J applied sequentially,
        # step-tagged; the driver then replays the deltas and accepts
        # the longest prefix whose every next candidate is still the
        # argmax after the previous steps' netting — bit-identical to
        # the one-merge-per-job loop, in ~J× fewer scheduler jobs when
        # the count ranking is locally stable (it usually is: a merge
        # only perturbs pairs sharing its symbols).
        ladder = [
            (a, b, a + b)
            for (a, b), _ in sorted(pc.items(), key=key)[
                : max(1, min(lookahead, n_merges - len(merges)))
            ]
        ]
        rows = _count_frame(wf, ladder, with_syms=False).collect()
        accepted: list[tuple[str, str, str]] = []
        for i, (a, b, tok) in enumerate(ladder):
            if i > 0 and min(pc.items(), key=key)[0] != (a, b):
                break  # speculation collided — discard steps i..J−1
            merges.append((len(merges) + 1, a, b, int(pc[(a, b)])))
            accepted.append((a, b, tok))
            # delta = (post-merge) − (pre-merge) full recount of affected
            # words, so neighbor-pair shifts and greedy-overlap cases
            # like 'a a a' stay exact by construction
            _net_step(pc, rows, i, with_syms=False)
            if not pc:
                break
        # ONE Arrow projection applies the accepted prefix; the lazy
        # checkpoint materializes inside the next round's delta job
        # (partition count stays fixed — never a union)
        wf = _apply_merges_frame(wf, accepted).localCheckpoint(eager=False)
    return spark.createDataFrame(merges, "rank int, left string, right string, pair_count long")


# sampled-trainer defaults: 250‰ = a 4× corpus reduction that keeps pair
# statistics stable (prefix-agreement pinned in tests), and a word-table
# partition count small enough that per-round task scheduling stops
# dominating a sampled run
BPE_SAMPLE_PER_MILLE = 250
BPE_SAMPLE_PARTITIONS = 4


def bpe_merges_sampled(
    docs: DataFrame,
    n_merges: int = BPE_MERGES,
    rate_per_mille: int = BPE_SAMPLE_PER_MILLE,
    seed: str = "bpe0",
    word_partitions: int = BPE_SAMPLE_PARTITIONS,
) -> DataFrame:
    """Sampled BPE trainer — the production stance for 32k–50k-merge
    vocabularies (SCALING.md §BPE): train the merge table on a
    DETERMINISTIC hash-sample of the corpus, then encode the full corpus
    with the trained table (a pure map, corpus-scale-safe).

    Why this is the right trade at 100 TB: merge ranks are a function of
    corpus-level pair frequencies, which are Zipfian — a uniform document
    sample preserves the frequency RANKING long before it pins the counts,
    so the learned merge sequence converges to the full-corpus one at
    modest rates (GPT-2/SentencePiece both train on corpus subsets for
    exactly this reason). The trainer's per-round cost then scales with
    the SAMPLE's distinct-word table, not the corpus: fewer/smaller tasks
    per argmax round (word_partitions caps task count), while the
    round-count × driver-latency floor is amortized by running rounds over
    a frame that fits a handful of partitions. The sample is
    `textops.deterministic_sample` (md5-bucket on seed||doc_id), so the
    trained vocabulary is bit-reproducible on any engine or partitioning —
    a training-data pipeline requirement, not a nicety.

    Exactness contract: on the SAMPLE the loop is the same
    merge-for-merge-exact trainer as `bpe_merges` (coalesce changes task
    count, never values); representativeness (sampled merge table ==
    full-corpus prefix) is pinned in tests/test_operators.py::TestBpe."""
    from .textops import deterministic_sample

    return bpe_merges(
        deterministic_sample(docs, rate_per_mille, seed),
        n_merges,
        word_partitions=word_partitions,
    )
