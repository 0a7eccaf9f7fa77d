"""In-memory span tracer for the benchmark's traced run.

Spans are recorded from the benchmark's own files only: the public
functions of the package's layer modules are replaced by timing wrappers
before the query registry is imported, and a few PySpark entry points
(catalog statements, streaming-query control) are wrapped on their
classes. Nothing inside the package is edited.

Every span carries the id of the operation it ran under, so one
operation's spans can be pulled apart after the run. Wall time is split
by self time: each instant of an operation is charged to the innermost
open span, taken across threads as the most recently started one (the
epoch callbacks of a streaming query run on their own thread). The
operation's own root span keeps what no layer span covers, reported as
`trace.unattributed_s`, so the per-bucket self times add up to the
operation wall time exactly.
"""

from __future__ import annotations

import functools
import heapq
import importlib
import inspect
import json
import re
import sys
import threading
import time
from collections import defaultdict

PKG = "gmall_flink_200621_spark"
OPERATOR_MODULES = (
    "asof", "bpe", "cep", "classifier", "dedup", "expectations", "frequency", "graph", "layout",
    "multimodal", "partitioning", "rangejoin", "ranking", "similarity", "textops", "topn",
    "unigram", "windows", "wordpiece",
)
SOURCE_MODULES = ("loaders", "sinks", "bucketed", "pydatasource")
STREAMING_MODULES = ("ingest", "jobs", "late_data", "mv", "stateful")
CATALOG_KINDS = ("show_partitions", "drop_partition", "create", "refresh_table", "insert_into")

_SQL_KINDS = (
    (re.compile(r"^\s*SHOW\s+PARTITIONS\b", re.I), "show_partitions"),
    (re.compile(r"^\s*ALTER\s+TABLE\b.*\bDROP\b.*\bPARTITION\b", re.I | re.S), "drop_partition"),
    (re.compile(r"^\s*CREATE\b", re.I), "create"),
)


def streaming_bucket(fn_name: str) -> str:
    """Bucket of a public streaming-module function, by its name."""
    if fn_name.startswith("stage_"):
        return "sources.stage"  # replay staging
    if fn_name.startswith(("purge_", "expire_", "compact_")):
        return "streaming.gc"
    if fn_name.endswith("_view") or "_view_" in fn_name:
        return "streaming.view_read"
    if fn_name.startswith("run_"):
        return "streaming.replay"
    return "streaming.other"


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.op: int | None = None
        self.spans: list[tuple] = []  # (op, bucket, name, t0, t1, thread)
        self.progress: dict[int, list] = defaultdict(list)
        self._lock = threading.Lock()

    # -- recording -------------------------------------------------------
    def begin_op(self, op: int | None) -> None:
        self.op = op

    def end_op(self) -> None:
        self.op = None

    def record(self, bucket: str, name: str, t0: float, t1: float) -> None:
        with self._lock:
            self.spans.append((self.op, bucket, name, t0, t1, threading.get_ident()))

    def record_op(self, op: int, t0: float, t1: float, t2: float) -> None:
        """The operation's root span and its two phases."""
        tid = threading.get_ident()
        with self._lock:
            self.spans += [
                (op, "op", "op", t0, t2, tid),
                (op, "plans.build", "build", t0, t1, tid),
                (op, "exec.sink", "sink", t1, t2, tid),
            ]

    def wrap(self, fn, bucket: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled or tracer.op is None:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.record(bucket, name, t0, time.perf_counter())

        return traced

    # -- installation ----------------------------------------------------
    def install(self) -> None:
        """Wrap the layer modules' public functions; call before the
        registry is imported."""
        self._wrappers: dict[int, object] = {}  # id(original) -> wrapper
        layers = (
            [(f"{PKG}.operators.{m}", lambda n, m=m: f"operators.{m}") for m in OPERATOR_MODULES]
            + [(f"{PKG}.sources.{m}", lambda n: "sources.load_table" if n == "load_table" else "sources.other")
               for m in SOURCE_MODULES]
            + [(f"{PKG}.streaming.{m}", streaming_bucket) for m in STREAMING_MODULES]
        )
        for mod_name, bucket_of in layers:
            mod = importlib.import_module(mod_name)
            for name, fn in list(vars(mod).items()):
                if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod_name:
                    continue
                wrapped = self.wrap(fn, bucket_of(name), f"{mod_name.rsplit('.', 1)[1]}.{name}")
                setattr(mod, name, wrapped)
                self._wrappers[id(fn)] = wrapped
        self._install_pyspark()
        self.rebind()

    def rebind(self) -> None:
        """Point names that other package modules imported by value at the
        wrappers (`from ..operators.topn import top_n_per_group`)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name.startswith(PKG) or mod_name == "__spark_entry__"):
                continue
            for name, val in list(vars(mod).items()):
                w = self._wrappers.get(id(val))
                if w is not None and w is not val:
                    setattr(mod, name, w)

    def _install_pyspark(self) -> None:
        from pyspark.sql import DataFrameWriter, SparkSession
        from pyspark.sql.catalog import Catalog
        from pyspark.sql.streaming.query import StreamingQuery

        tracer = self
        orig_sql = SparkSession.sql

        @functools.wraps(orig_sql)
        def sql(session, sql_text, *args, **kwargs):
            if tracer.enabled and tracer.op is not None and isinstance(sql_text, str):
                for pat, kind in _SQL_KINDS:
                    if pat.match(sql_text):
                        t0 = time.perf_counter()
                        try:
                            return orig_sql(session, sql_text, *args, **kwargs)
                        finally:
                            tracer.record(f"catalog.{kind}", kind, t0, time.perf_counter())
            return orig_sql(session, sql_text, *args, **kwargs)

        SparkSession.sql = sql
        Catalog.refreshTable = self.wrap(Catalog.refreshTable, "catalog.refresh_table", "refreshTable")
        DataFrameWriter.insertInto = self.wrap(DataFrameWriter.insertInto, "catalog.insert_into", "insertInto")
        DataFrameWriter.saveAsTable = self.wrap(DataFrameWriter.saveAsTable, "catalog.create", "saveAsTable")

        orig_stop = StreamingQuery.stop

        @functools.wraps(orig_stop)
        def stop(query):
            if tracer.enabled and tracer.op is not None:
                tracer.progress[tracer.op].extend(query.recentProgress)
            return orig_stop(query)

        StreamingQuery.stop = self.wrap(stop, "streaming.replay", "stop")
        for meth in ("processAllAvailable", "awaitTermination"):
            setattr(StreamingQuery, meth, self.wrap(getattr(StreamingQuery, meth), "streaming.replay", meth))

    # -- analysis --------------------------------------------------------
    def self_times(self, op: int) -> tuple[dict[str, float], dict[str, int]]:
        """Per-bucket self time and call count of one operation. The op's
        root span (bucket "op") must be among its spans."""
        spans = [s for s in self.spans if s[0] == op]
        calls: dict[str, int] = defaultdict(int)
        events = []
        for i, (_, bucket, _, t0, t1, _) in enumerate(spans):
            calls[bucket] += 1
            events.append((t0, 1, i))
            events.append((t1, 0, i))
        events.sort()
        selfs: dict[str, float] = defaultdict(float)
        # latest-started open span on top; of two starting together, the
        # one ending first is the inner one
        heap: list[tuple[float, float, int]] = []
        closed: set[int] = set()
        prev = None
        for t, kind, i in events:
            while heap and heap[0][2] in closed:
                heapq.heappop(heap)
            if prev is not None and heap:
                selfs[spans[heap[0][2]][1]] += t - prev
            prev = t
            if kind == 1:
                heapq.heappush(heap, (-spans[i][3], spans[i][4], i))
            else:
                closed.add(i)
        return dict(selfs), dict(calls)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for op, bucket, name, t0, t1, tid in self.spans:
                f.write(json.dumps({"op": op, "bucket": bucket, "name": name, "t0": t0, "t1": t1, "thread": tid}) + "\n")


def job_group_stats(sc, group: str) -> dict[str, float]:
    """Scheduler and executor counters of one job group, read from the
    driver's AppStatusStore after the group's jobs ended."""
    from py4j.protocol import Py4JError

    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Py4JError:  # best effort: the walk still reads what has landed
        pass
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = defaultdict(float)
    out["jobs"] = len(jobs)
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JError:  # stage evicted or not yet recorded
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["run_s"] += sd.executorRunTime() / 1e3
        out["cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["shuffle_fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["input_bytes"] += sd.inputBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return dict(out)
