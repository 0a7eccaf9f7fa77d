"""Allowed lateness + late-data side output + upsert Top-N (SURVEY §2.4
W7/W8, §2.6 T3 — the reference's HotUrlApp/HotUrlApp2, the hardest
streaming parity case).

Flink semantics being reproduced (HotUrlApp.java:52-61, HotUrlApp2.java:111-190):
- a window keeps accepting (and re-firing for) late events until
  `window.end + allowedLateness <= watermark`; each re-fire REPLACES the
  key's previous row (HotUrlApp2's MapState upsert, T3);
- an event whose every window has expired goes to the side output
  (`sideOutputLateData`, W8) instead of vanishing;
- watermark = max event time − bounded out-of-orderness (WM2).

DISTRIBUTED DESIGN (round 2 — replaces the round-1 driver-side dict):
the whole per-(window, key) state machine runs inside
`applyInPandasWithState` keyed by `url_k`, i.e. in executor-side keyed
state exactly like the reference's per-key MapState
(HotUrlApp2.java:124-128). Verified properties of Spark's operator that
make this exact:

- the handler must see EVERY late event to own the live/expired/side
  classification — but Spark (unlike a Flink ProcessFunction) DOES
  pre-filter stateful-operator input against the late-events watermark
  (the value the PREVIOUS batch used). On a back-to-back replay the
  two-batch lag hides this; an idle/empty finalization batch — which a
  checkpoint restart always inserts — promotes the fresh watermark and
  the engine then silently eats rows our handler should have classified
  (found by the r05 recovery test). Disabled exactly, not approximately:
  the watermark is declared on a SHIFTED column `ts + SHIFT` with delay
  `SHIFT + out_of_orderness`, so the watermark VALUE the engine tracks
  is still max(ts) − out_of_orderness (classification and timers
  unchanged) while the filter compares `ts + SHIFT` against it — never
  true for SHIFT beyond any physical lateness. Flink parity restored:
  the operator sees everything, the handler decides;
- `GroupState.getCurrentWatermarkMs()` exposes the query-global watermark
  (max event time seen in prior batches − delay) — precisely WM2 — so no
  driver-side watermark tracking is needed ("watermark broadcast via
  batch max" is what Spark's WatermarkTracker already does);
- state expiry uses `GroupStateTimeout.EventTimeTimeout` armed at
  `min(live window end) + allowedLateness` — the reference's cleanup
  timer at windowEnd+60s (HotUrlApp2.java:139,145-149).

Per key and micro-batch the handler is vectorized (numpy over the Arrow
batch, no per-row Python loop) and emits *delta rows*:

- tag='fire'/'refire': a (window, url) count changed — carries the new
  cumulative count (the T3 upsert; 'refire' when the window had already
  fired, i.e. window_end <= watermark);
- tag='dropped':      contributions arriving after the window expired
  (what batch mode would still have credited — conservation witness);
- tag='side':         an event whose every window has expired (W8).

The stream sink is Spark's distributed parquet file sink — the raw
stream is NEVER collected to the driver. `STATE[name]` (the test- and
user-observable view: final counts, dropped, refires, side output, final
upsert ranking) is materialized lazily AFTER the query finishes by
aggregating the delta log with ordinary DataFrame ops; only final
aggregates are collected, bounded by |windows × urls|, not by the event
count.

The staged replay source makes the scenario real: time-contiguous chunks
so the watermark advances batch by batch, plus a jittered fraction of
each chunk deferred to the next file — those arrive late by up to a chunk
span, some within the lateness budget (window re-fires) and some beyond
it (side output).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import scalars as S
from ..operators.topn import top_n_per_group

WINDOW_S = 600  # 10 min window (W2)
SLIDE_S = 300  # 5 min slide
OUT_OF_ORDER_S = 3600  # WM2, scaled to testdata density
ALLOWED_LATENESS_S = 5 * 86400  # W7 budget, scaled (reference: 60 s on demo data)
LATE_FRACTION = 0.05  # of each chunk deferred one batch
# Watermark-column shift that disables the engine's pre-operator late-row
# filter (see module docstring): must exceed any physical row lateness.
# 100 years — i.e. "never second-guess the handler".
WM_SHIFT_S = 100 * 365 * 86400

DELTA_SCHEMA = "url_k STRING, window_end_s LONG, cnt LONG, ts_s LONG, tag STRING"
_STATE_SCHEMA = "wends ARRAY<LONG>, cnts ARRAY<LONG>"

# query name -> (spark, delta-log dir, top_n); consumed lazily by STATE
_RUNS: dict[str, tuple] = {}


class _StateView(dict):
    """Test-/user-observable view of a finished query: materialized on
    first access by aggregating the distributed delta log (final
    aggregates only — never the raw stream)."""

    def __getitem__(self, name):  # noqa: D105
        if name in _RUNS:
            super().__setitem__(name, _finalize(*_RUNS.pop(name)))
        return super().__getitem__(name)


STATE: dict[str, dict] = _StateView()


def staged_replay_source(spark: SparkSession, sf_dir: str, n_files: int = 3) -> DataFrame:
    """Replay the events table as n time-contiguous micro-batches with a
    deterministic ~5% of each chunk deferred to the next batch (late
    arrivals spanning both sides of the lateness budget)."""
    from ..sources.loaders import events_parquet_stream

    return events_parquet_stream(spark, stage_events_replay(sf_dir, n_files), maxFilesPerTrigger=1)


def stage_events_replay(sf_dir: str, n_files: int = 3) -> str:
    """Build (or reuse) the staged replay files; returns the stage dir.

    The staged files are a pure function of (events.parquet, n_files), so
    staging is cached: built once under a content-keyed directory (atomic
    rename — readers never see a partial stage) and reused by every later
    run in any process."""
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "events.parquet")
    key = f"{sf_dir.strip('/').replace('/', '_')}_{n_files}_{os.path.getmtime(src):.0f}"
    stage = os.path.join(tempfile.gettempdir(), "spark_graft_late_stage", key)
    if not os.path.isdir(stage):
        build = tempfile.mkdtemp(prefix="spark_graft_late_")
        pdf = pq.read_table(src).to_pandas().sort_values("ts").reset_index(drop=True)
        n = len(pdf)
        bounds = [(i * n // n_files, (i + 1) * n // n_files) for i in range(n_files)]
        files: list[list] = [[] for _ in range(n_files)]
        for i, (lo, hi) in enumerate(bounds):
            chunk = pdf.iloc[lo:hi]
            # defer every 20th event (deterministic) to the next file
            late_mask = (chunk.index % int(1 / LATE_FRACTION)) == 0
            if i + 1 < n_files:
                files[i + 1].append(chunk[late_mask])
                files[i].append(chunk[~late_mask])
            else:
                files[i].append(chunk)
        for i in range(n_files):
            pd.concat(files[i]).to_parquet(os.path.join(build, f"part-{i}.parquet"), index=False)
        os.makedirs(os.path.dirname(stage), exist_ok=True)
        try:
            os.rename(build, stage)
        except OSError:  # lost a race to a concurrent builder — theirs is identical
            pass
    return stage


def _late_fn(key, pdf_iter: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    """Per-url lateness state machine (executor-side keyed state).

    State = the live {window_end: cumulative count} map (HotUrlApp2's
    MapState); windows past `end + allowedLateness` are evicted — their
    final count was already carried by their last fire/refire delta."""
    wm_ms = state.getCurrentWatermarkMs()
    wm = wm_ms // 1000 if wm_ms > 0 else None  # None == -inf (no data yet)

    st_wends, st_cnts = state.get if state.exists else ([], [])
    live = dict(zip(list(st_wends), list(st_cnts)))

    def evict_and_persist() -> None:
        if wm is not None:
            for w in [w for w in live if w + ALLOWED_LATENESS_S <= wm]:
                del live[w]  # cleanup timer analogue (HotUrlApp2.java:145-149)
        if live:
            state.update((list(live.keys()), [int(c) for c in live.values()]))
            state.setTimeoutTimestamp((min(live) + ALLOWED_LATENESS_S) * 1000)
        else:
            state.remove()

    if state.hasTimedOut:
        evict_and_persist()
        return

    (url_k,) = key
    pdfs = [p for p in pdf_iter if len(p)]
    if not pdfs:
        evict_and_persist()
        return
    ts = pd.concat(pdfs)["ts_s"].to_numpy(dtype=np.int64)
    buckets = ts - ts % SLIDE_S
    n_slides = WINDOW_S // SLIDE_S
    all_wends = np.concatenate([buckets + j * SLIDE_S for j in range(1, n_slides + 1)])

    if wm is None:
        live_mask = np.ones(len(all_wends), dtype=bool)
        side_mask = np.zeros(len(ts), dtype=bool)
    else:
        live_mask = all_wends + ALLOWED_LATENESS_S > wm  # W7: window still accepts
        side_mask = buckets + WINDOW_S + ALLOWED_LATENESS_S <= wm  # W8: all expired

    out: list[tuple] = []
    wends_u, deltas = np.unique(all_wends[live_mask], return_counts=True)
    for wend, delta in zip(wends_u.tolist(), deltas.tolist()):
        cnt = live.get(wend, 0) + delta
        live[wend] = cnt
        refire = wm is not None and wend <= wm  # window had already fired
        out.append((url_k, wend, cnt, None, "refire" if refire else "fire"))
    d_wends, d_deltas = np.unique(all_wends[~live_mask], return_counts=True)
    for wend, delta in zip(d_wends.tolist(), d_deltas.tolist()):
        out.append((url_k, wend, delta, None, "dropped"))
    for t in ts[side_mask].tolist():
        out.append((url_k, None, None, t, "side"))

    evict_and_persist()
    if out:
        yield pd.DataFrame(out, columns=["url_k", "window_end_s", "cnt", "ts_s", "tag"])


def _finalize(spark: SparkSession, log_dir: str, top_n: int) -> dict:
    """Aggregate the delta log into the observable view. DataFrame ops
    end-to-end; only final (window × url)-bounded aggregates are
    collected."""
    try:
        log = spark.read.schema(DELTA_SCHEMA).parquet(log_dir)
    except Exception:  # no file ever written (empty stream)
        return {"counts": {}, "dropped": {}, "refires": set(), "side": [], "ranking": []}
    log = log.persist()
    # fire counts are cumulative per (window, url): the final value is the max
    counts_df = (
        log.filter(F.col("tag").isin("fire", "refire"))
        .groupBy("window_end_s", "url_k")
        .agg(F.max("cnt").alias("cnt"))
        .persist()
    )
    counts = {(r.window_end_s, r.url_k): r.cnt for r in counts_df.collect()}
    dropped = {
        (r.window_end_s, r.url_k): r.cnt
        for r in (
            log.filter(F.col("tag") == "dropped")
            .groupBy("window_end_s", "url_k")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        )
    }
    refires = {
        (r.window_end_s, r.url_k)
        for r in log.filter(F.col("tag") == "refire").select("window_end_s", "url_k").distinct().collect()
    }
    side = [(r.ts_s, r.url_k) for r in log.filter(F.col("tag") == "side").select("ts_s", "url_k").collect()]
    ranking = top_n_per_group(
        counts_df.select("window_end_s", "url_k", "cnt"),
        ["window_end_s"],
        "cnt",
        top_n,
        tiebreak_cols=["url_k"],
    ).collect()
    counts_df.unpersist()
    log.unpersist()
    return {"counts": counts, "dropped": dropped, "refires": refires, "side": side, "ranking": ranking}


def run_hot_urls_late_stream(
    spark: SparkSession,
    sf_dir: str,
    top_n: int = 5,
    query_name: str = "hot_urls_late",
    stage_dir: str | None = None,
    log_dir: str | None = None,
    checkpoint_dir: str | None = None,
):
    """HotUrlApp2 end-to-end with exact Flink lateness semantics, fully
    distributed: keyed state in `applyInPandasWithState`, delta output to
    the parquet file sink, no driver collect anywhere on the stream path.

    Pass (stage_dir, log_dir, checkpoint_dir) together to make the run
    restartable: a new invocation with the same three dirs resumes from
    the checkpoint — keyed state, watermark, and source offsets restored;
    the file sink's transactional metadata log keeps the delta log
    exactly-once across the restart."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..sources.loaders import events_parquet_stream

    stage = stage_dir or stage_events_replay(sf_dir)
    clicks = (
        events_parquet_stream(spark, stage, maxFilesPerTrigger=1)
        .filter(F.col("event_type") == "click")
        # shifted watermark column: value tracked = max(ts) − OUT_OF_ORDER_S
        # (exact WM2), but the engine's late-row pre-filter compares
        # wm_ts = ts + SHIFT against it — never true, so the handler sees
        # every late row (module docstring; r05 recovery-test find)
        .withColumn("wm_ts", F.col("ts") + F.expr(f"INTERVAL {WM_SHIFT_S} SECONDS"))
        .withWatermark("wm_ts", f"{WM_SHIFT_S + OUT_OF_ORDER_S} seconds")
        .select("wm_ts", F.col("ts").cast("long").alias("ts_s"), S.url_k().alias("url_k"))
    )

    deltas = clicks.groupBy("url_k").applyInPandasWithState(
        _late_fn,
        outputStructType=DELTA_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )

    log_dir = log_dir or tempfile.mkdtemp(prefix="spark_graft_latelog_")
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="spark_graft_lateckpt_")
    STATE.pop(query_name, None)
    _RUNS[query_name] = (spark, log_dir, top_n)
    # Size the stateful operator's partitioning to the key domain
    # (URL_KEY_DOMAIN distinct url_k values): partitions beyond the domain
    # can never hold state — they're pure per-micro-batch scheduling
    # overhead (a Python worker round-trip each, every batch). NOTE the
    # conf-snapshot assumption: DataStreamWriter.start() resolves the
    # query's shuffle partitioning synchronously from the session conf
    # (offsets/state layout are fixed at query start and checkpointed), so
    # setting before start() and restoring right after is safe and scoped
    # to this query.
    from ..functions.scalars import URL_KEY_DOMAIN

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(min(URL_KEY_DOMAIN, int(prev))))
    try:
        return (
            deltas.writeStream.outputMode("append")
            .format("parquet")
            .option("path", log_dir)
            .option("checkpointLocation", ckpt)
            .queryName(query_name)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
