"""Partitioning helpers shared by the CPU-heavy text/vector operators."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

# (session id, semanticHash, input-file-listing hash) → scan partition
# count. getNumPartitions forces a full physical plan; memoizing per
# canonical plan means each distinct input pays planning once, not once per
# wrapping operator (fan_out wraps nearly every text/vector operator and
# runs 3× per ingest micro-batch). The file-listing hash invalidates the
# entry when the same path's contents change (growing stage dirs,
# regenerated testdata) — without it a stale large count would silently
# disable the one-core guard for the life of the session. inputFiles() only
# consults the already-materialized file index (no physical planning), so
# the key stays cheap.
_PARTITIONS_CACHE: dict[tuple[int, int, int], int] = {}
_CACHE_CAP = 1024

# bytes of input per fan-out slice: below this per-core share, the
# round-robin exchange costs more than single-threaded execution of the
# whole input (measured at sf0.1: a ~160 KB documents scan ran 0.33 s on
# one core vs 0.54 s behind a 32-way repartition — the exchange itself
# dominated). 256 KB/slice keeps tiny inputs unshuffled while a corpus of
# even a few MB still fans out to every core.
FANOUT_BYTES_PER_SLICE = 256 * 1024


def _input_bytes(files: list[str]) -> int | None:
    total = 0
    for f in files:
        p = f[7:] if f.startswith("file://") else f[5:] if f.startswith("file:") else f
        if not os.path.isfile(p):  # non-local scheme — size unknown
            return None
        total += os.path.getsize(p)
    return total


def fan_out(df: DataFrame) -> DataFrame:
    """Parallelism guard for CPU-heavy per-row work (tokenize → shingle →
    hash, regex extraction, vectorized UDF batches): a small input arrives
    as one scan partition (one parquet file ⇒ one split ⇒ ONE core does
    all the work), so fan out toward the cluster's parallelism first. At
    real scale the scan already has ≥ defaultParallelism splits and this
    is a no-op.

    The fan-out TARGET is sized to the input, not the cluster: tiny
    inputs (< FANOUT_BYTES_PER_SLICE per prospective slice) stay
    unshuffled, because for them the round-robin exchange costs more than
    the single-core work it parallelizes; the target grows with input
    bytes up to defaultParallelism. The partition probe reads the pre-AQE
    count (what the scan would produce — the quantity that matters for
    the one-core hazard) and is memoized per canonicalized plan so
    repeated wrapping of the same input doesn't re-trigger physical
    planning."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    files: list[str] | None
    try:
        files = df.inputFiles()
        key = (id(df.sparkSession), df.semanticHash(), hash(tuple(sorted(files))))
    except Exception:  # semanticHash/inputFiles unavailable — probe direct
        files = None
        key = None
    if files is not None:
        nbytes = _input_bytes(files)
        if nbytes is not None:
            target = max(1, min(target, nbytes // FANOUT_BYTES_PER_SLICE))
    if key is not None and key in _PARTITIONS_CACHE:
        n = _PARTITIONS_CACHE[key]
    else:
        n = df.rdd.getNumPartitions()
        if key is not None:
            if len(_PARTITIONS_CACHE) >= _CACHE_CAP:
                _PARTITIONS_CACHE.clear()
            _PARTITIONS_CACHE[key] = n
    if n < target:
        return df.repartition(target)
    return df
