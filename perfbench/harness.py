"""One benchmark run, inside the environment `run.py` prepared.

    python3 perfbench/harness.py WORKLOAD SEED SECONDS TRACE DATA_DIR OUT_JSON

Phases, in order:
1. input generation from the seed (not part of set-up);
2. set-up: imports, JVM/session start, table footer warm-up, and the
   workload's first query run once as the warm-up operation; `setup_s`
   is process start to the end of that operation, less phase 1;
3. correctness: every query's output, collected, against its DuckDB
   oracle (untimed);
4. the timed window: whole passes in a seeded order until SECONDS elapse,
   or with TRACE=1 four passes, the middle two with spans and job groups
   on, giving the per-layer split and the tracing overhead.

The full result goes to OUT_JSON (and the spans beside it); `run.py`
prints its summary line.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import datagen  # noqa: E402
from spans import CATALOG_KINDS, OPERATOR_MODULES, Tracer, job_group_stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TABLES = datagen.TABLES
# The end-to-end metrics the result line carries. Wall-clock latency and
# throughput are measured and printed too, but on a machine whose CPU
# steal changes from minute to minute they do not repeat closely enough
# to gate a change; CPU seconds per operation do.
GATED = ("setup_s", "op_cpu_s", "peak_rss_mb")


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def run_cpu_s(marker: bytes) -> float:
    """CPU seconds used so far by every process of this run (this
    harness, the JVM, PySpark's daemon and workers, and the children
    they reaped): all inherit the run's marker variable."""
    ticks = 0
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                if marker not in f.read():
                    continue
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def tail_of(values: list[float]) -> tuple[float, float]:
    """Highest value with at least ten samples above it, and its
    percentile; the maximum when there are fewer than twenty samples,
    where that value would sit at or below the median."""
    v = sorted(values)
    n = len(v)
    if n < 20:
        return v[-1], 100.0
    return v[n - 11], 100.0 * (n - 10) / n


def source_digest() -> str:
    h = hashlib.sha256()
    for base in ("gmall_flink_200621_spark", "__spark_entry__.py"):
        path = os.path.join(ROOT, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".py")
        )
        for p in sorted(files):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    import subprocess

    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def warehouse_state(warehouse: str) -> tuple[int, int]:
    """(partition directories, bytes) of every table in the warehouse."""
    parts = size = 0
    for d, dirs, files in os.walk(warehouse):
        if "=" in os.path.basename(d) and not any("=" in x for x in dirs):
            parts += 1
        size += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return parts, size


def main() -> None:
    name, seed, seconds, trace, data_dir, out_path = sys.argv[1:7]
    seed, seconds, trace = int(seed), float(seconds), trace == "1"
    wl = WORKLOADS[name]
    load_start = loadavg()

    marker = f"PERFBENCH_RUN={os.environ['PERFBENCH_RUN']}\0".encode()
    t, c = time.perf_counter(), time.process_time()
    rows = datagen.generate(data_dir, wl.sf, seed)
    gen_s, gen_cpu_s = time.perf_counter() - t, time.process_time() - c

    tracer = Tracer()
    if trace:
        tracer.install()  # before the registry is imported

    t = time.perf_counter()
    from gmall_flink_200621_spark.session import get_spark

    spark = get_spark(
        f"perfbench-{name}",
        extra_conf={
            "spark.sql.warehouse.dir": os.environ["PERFBENCH_WAREHOUSE"],
            "spark.ui.showConsoleProgress": "false",
        },
    )
    sc = spark.sparkContext
    session_s = time.perf_counter() - t

    t = time.perf_counter()
    import __spark_entry__ as entry
    from gmall_flink_200621_spark.sources.loaders import load_table

    if trace:
        tracer.rebind()
    queries = entry.queries()
    for table in TABLES:
        load_table(spark, data_dir, table)
    footer_s = time.perf_counter() - t

    def release_caches() -> None:
        spark.catalog.clearCache()
        for rdd in list(sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(False)

    def run_op(q: str, group: str | None = None):
        """One operation: registry call, then the noop-sink write."""
        t0 = time.perf_counter()
        if group:
            sc.setJobGroup(f"{group}-build", q)
        df = queries[q](spark, data_dir)
        t1 = time.perf_counter()
        if group:
            sc.setJobGroup(f"{group}-exec", q)
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        if group:
            sc.setJobGroup("", "")
        return df, t0, t1, t2

    # warm-up operation: the first query
    t = time.perf_counter()
    run_op(wl.queries[0])
    release_caches()
    warmup_s = time.perf_counter() - t
    setup_s = time.perf_counter() - T_PROCESS - gen_s
    setup_cpu_s = run_cpu_s(marker) - gen_cpu_s

    # correctness, untimed
    import duckdb
    from tools.verify_oracle import norm_hash

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for table in TABLES:
        con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{os.path.join(data_dir, table + '.parquet')}'")
    expected = {}

    def check(q: str, df) -> bool:
        if q not in expected:
            odf = con.sql(oracles[q]).df()
            expected[q] = (len(odf), sorted(odf.columns), norm_hash(odf))
        pdf = df.toPandas()
        n, cols, h = expected[q]
        return len(pdf) == n and sorted(pdf.columns) == cols and norm_hash(pdf) == h

    t = time.perf_counter()
    bad: set[str] = set()
    errors: list[str] = []
    for q in wl.queries:
        try:
            df = queries[q](spark, data_dir)
            if not check(q, df):
                bad.add(q)
        except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
            bad.add(q)
            errors.append(f"{q}: {type(e).__name__}: {str(e)[:300]}")
        release_caches()
    check_s = time.perf_counter() - t

    rng = random.Random(seed)
    op_log: list[dict] = []
    errors_before = len(errors)

    def timed_op(q: str, traced: bool) -> float:
        """Run one operation; returns the time spent checking its output."""
        op_id = len(op_log)
        group = f"op{op_id}" if traced else None
        c = 0.0
        try:
            cpu0 = run_cpu_s(marker)
            tracer.begin_op(op_id if traced else None)
            df, t0, t1, t2 = run_op(q, group)
            tracer.end_op()
            cpu = run_cpu_s(marker) - cpu0
            if traced:
                tracer.record_op(op_id, t0, t1, t2)
            ok = q not in bad
            if ok and wl.check_each_op:
                c0 = time.perf_counter()
                ok = check(q, df)
                c = time.perf_counter() - c0
            del df
        except Exception as e:  # noqa: BLE001 - a failing operation is a counted failure
            tracer.end_op()
            errors.append(f"{q}: {type(e).__name__}: {str(e)[:300]}")
            ok, t0, t2, cpu = False, 0.0, 0.0, 0.0
        op_log.append({"op": op_id, "query": q, "traced": traced, "ok": ok, "wall_s": t2 - t0, "cpu_s": cpu})
        if traced:
            op_log[-1]["jobs"] = {phase: job_group_stats(sc, f"{group}-{phase}") for phase in ("build", "exec")}
        release_caches()
        return c

    # Untimed runs: whole passes until SECONDS elapse, each query
    # `repeats` times a pass. Traced runs: four passes of each query once,
    # untraced/traced/traced/untraced, so the JIT warm-up trend cancels
    # out of the tracing overhead.
    pattern = [False, True, True, False] if trace else None
    w0 = time.perf_counter()
    checking = n_passes = 0
    while (pattern is None and (n_passes == 0 or time.perf_counter() - w0 - checking < seconds)) or (
        pattern is not None and n_passes < len(pattern)
    ):
        order = list(wl.queries) * (1 if trace else wl.repeats)
        rng.shuffle(order)
        tracer.enabled = bool(pattern and pattern[n_passes])
        for q in order:
            checking += timed_op(q, tracer.enabled)
        n_passes += 1
    tracer.enabled = False
    window_s = time.perf_counter() - w0 - checking

    attempted = len(op_log)
    failed = sum(not o["ok"] for o in op_log)
    plain = [o for o in op_log if o["ok"] and not o["traced"]]
    if not plain:
        raise SystemExit(f"no operation completed: {errors[errors_before:][:3]}")
    walls = [o["wall_s"] for o in plain]
    per_query: dict[str, list[float]] = defaultdict(list)
    for o in plain:
        per_query[o["query"]].append(o["wall_s"])
    op_tail, tail_pct = tail_of(walls)
    jvm_pid = sc._gateway.proc.pid
    rss_py_mb, rss_jvm_mb = vm_hwm_kb("self") / 1024.0, vm_hwm_kb(jvm_pid) / 1024.0
    peak_rss_mb = rss_py_mb + rss_jvm_mb
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "op_tail_s": (op_tail, "s"),
        "ops_per_s": (len(walls) / window_s, "1/s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "setup_cpu_s": (setup_cpu_s, "s"),
        "op_cpu_s": (sum(o["cpu_s"] for o in plain) / len(plain), "s"),
    }
    notes = {
        "op_samples": len(walls),
        "op_tail_percentile": round(tail_pct, 1),
        "passes": n_passes,
        "window_s": window_s,
        "failed_frac": failed / attempted,
        "per_query_median_s": {q: statistics.median(v) for q, v in per_query.items()},
        "phases_s": {"gen": gen_s, "session": session_s, "footer": footer_s, "warmup": warmup_s, "check": check_s},
        "input_rows": rows,
        "peak_rss_split_mb": {"python": rss_py_mb, "jvm": rss_jvm_mb},
    }

    layer = {}
    if trace:
        layer = layer_metrics(tracer, op_log)
        layer.update({
            "session.start_s": (session_s, "s"),
            "sources.footer_s": (footer_s, "s"),
            "warmup_s": (warmup_s, "s"),
        })
        parts, size = warehouse_state(os.environ["PERFBENCH_WAREHOUSE"])
        layer["streaming.state_partitions"] = (parts, "count")
        layer["streaming.state_bytes"] = (size, "bytes")
        tracer.dump(out_path.replace(".json", ".spans.jsonl"))

    result = {
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": u}
            for k, (v, u) in (layer.items() if trace else ((k, metrics[k]) for k in GATED))
        },
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "notes": notes,
        "check_failed": sorted(bad),
        "errors": errors[:20],
        "ops": op_log,
        "provenance": {
            "workload": name,
            "seed": seed,
            "seconds": seconds,
            "trace": trace,
            "sf": wl.sf,
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "master": sc.master,
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "affinity_cpus": len(os.sched_getaffinity(0)),
            "versions": versions(spark),
            "git_sha": git_sha(),
            "source_digest": source_digest(),
            "loadavg_start": load_start,
            "loadavg_end": loadavg(),
        },
    }
    spark.stop()
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, default=float)


def versions(spark) -> dict[str, str]:
    import duckdb
    import numpy
    import pandas
    import pyarrow

    return {
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
    }


def layer_metrics(tracer: Tracer, op_log: list[dict]) -> dict:
    """Per-layer metrics, as means per traced operation."""
    ops = [o for o in op_log if o["traced"] and o["ok"]]
    base: dict[str, list[float]] = defaultdict(list)
    traced: dict[str, list[float]] = defaultdict(list)
    for o in op_log:
        if o["ok"]:
            (traced if o["traced"] else base)[o["query"]].append(o["wall_s"])
    n = max(len(ops), 1)
    selfs: dict[str, float] = defaultdict(float)
    calls: dict[str, float] = defaultdict(float)
    jobs: dict[str, float] = defaultdict(float)
    epochs: list[dict] = []
    for o in ops:
        s, c = tracer.self_times(o["op"])
        for k, v in s.items():
            selfs[k] += v
        for k, v in c.items():
            calls[k] += v
        for phase, st in o["jobs"].items():
            jobs[f"jobs_{phase}"] += st.get("jobs", 0)
            for k, v in st.items():
                if k != "jobs":
                    jobs[k] += v
        epochs.extend(p for p in tracer.progress.get(o["op"], []) if p.get("numInputRows", 0) > 0)

    def dur(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in epochs) / 1e3 / n

    wall = sum(o["wall_s"] for o in ops)
    # overhead: traced over untraced per-query medians, on the queries both ran
    common = [q for q in traced if q in base]
    t_sum = sum(statistics.median(traced[q]) for q in common)
    b_sum = sum(statistics.median(base[q]) for q in common)
    m = {
        "sources.load_table_calls": (calls["sources.load_table"] / n, "count"),
        "sources.load_table_s": (selfs["sources.load_table"] / n, "s"),
        "sources.stage_s": (selfs["sources.stage"] / n, "s"),
        "sources.other_s": (selfs["sources.other"] / n, "s"),
        "plans.build_self_s": (selfs["plans.build"] / n, "s"),
        "operators.calls": (sum(v for k, v in calls.items() if k.startswith("operators.")) / n, "count"),
        "operators.busy_s": (sum(v for k, v in selfs.items() if k.startswith("operators.")) / n, "s"),
    }
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}.calls"] = (calls[f"operators.{mod}"] / n, "count")
        m[f"operators.{mod}.busy_s"] = (selfs[f"operators.{mod}"] / n, "s")
    m.update({
        "scheduler.jobs_build": (jobs["jobs_build"] / n, "count"),
        "scheduler.jobs_exec": (jobs["jobs_exec"] / n, "count"),
        "scheduler.stages": (jobs["stages"] / n, "count"),
        "scheduler.tasks": (jobs["tasks"] / n, "count"),
        "executor.run_s": (jobs["run_s"] / n, "s"),
        "executor.cpu_s": (jobs["cpu_s"] / n, "s"),
        "executor.gc_s": (jobs["gc_s"] / n, "s"),
        "executor.shuffle_fetch_wait_s": (jobs["shuffle_fetch_wait_s"] / n, "s"),
        "executor.shuffle_read_bytes": (jobs["shuffle_read_bytes"] / n, "bytes"),
        "executor.shuffle_write_bytes": (jobs["shuffle_write_bytes"] / n, "bytes"),
        "executor.input_bytes": (jobs["input_bytes"] / n, "bytes"),
        "executor.spill_bytes": (jobs["spill_bytes"] / n, "bytes"),
        "exec.sink_s": (selfs["exec.sink"] / n, "s"),
        "streaming.epochs": (len(epochs) / n, "count"),
        "streaming.input_rows": (sum(p["numInputRows"] for p in epochs) / n, "count"),
        "streaming.add_batch_s": (dur("addBatch"), "s"),
        "streaming.wal_commit_s": (dur("walCommit"), "s"),
        "streaming.query_planning_s": (dur("queryPlanning"), "s"),
        "streaming.epoch_p50_s": (
            statistics.median(p["durationMs"]["triggerExecution"] for p in epochs) / 1e3 if epochs else 0.0,
            "s",
        ),
        "streaming.replay_s": (selfs["streaming.replay"] / n, "s"),
        "streaming.view_read_s": (selfs["streaming.view_read"] / n, "s"),
        "streaming.gc_s": (selfs["streaming.gc"] / n, "s"),
        "streaming.other_s": (selfs["streaming.other"] / n, "s"),
    })
    for kind in CATALOG_KINDS:
        m[f"catalog.{kind}.calls"] = (calls[f"catalog.{kind}"] / n, "count")
        m[f"catalog.{kind}.busy_s"] = (selfs[f"catalog.{kind}"] / n, "s")
    m.update({
        "trace.op_wall_s": (wall / n, "s"),
        "trace.unattributed_s": (selfs["op"] / n, "s"),
        "trace.attributed_sum_s": (sum(selfs.values()) / n, "s"),
        "trace.spans": (sum(calls.values()) / n, "count"),
        "trace.overhead_frac": (t_sum / b_sum - 1.0 if b_sum else 0.0, "frac"),
    })
    return m


if __name__ == "__main__":
    main()
