"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_apps --seed 1 --seconds 10 --trace 0 [--tag NAME]

Run from the repository root. Prepares an isolated environment for one
run (its own TMPDIR, SPARK_LOCAL_DIRS, warehouse and input directory
under `.perfbench_out/`, pinned cores and driver memory), runs
`harness.py` in a child process group, prints the human-readable lines,
and as its last line the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. The full result (provenance, per-operation log, and with tracing
the spans) is kept as `.perfbench_out/results/<tag>.json`; the tag is
`--tag`, or workload, seed and trace mode.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
TIMEOUT_S = 150
# pinned so runs compare across machines and fit a 15 GB box
CPUS = "4"
DRIVER_MEM = "2g"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--tag")
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print("run from a checkout of the repository: __spark_entry__.py not found", file=sys.stderr)
        return 2

    tag = args.tag or f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(OUT, "runs", f"{tag}-{os.getpid()}")
    results = os.path.join(OUT, "results")
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "data")}
    for d in [results, *dirs.values()]:
        os.makedirs(d, exist_ok=True)
    out_json = os.path.join(results, f"{tag}.json")
    if os.path.exists(out_json):
        os.remove(out_json)

    env = dict(os.environ)
    env.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        PERFBENCH_WAREHOUSE=dirs["warehouse"],
        SPARK_GRAFT_CPUS=CPUS,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PERFBENCH_RUN=run_dir,
        # every JVM of the run (launcher and driver) keeps its temporary
        # files (stream checkpoints, native libraries) in the run directory
        # and writes no perf-counter file to the system temp directory. The
        # serial collector sizes the heap by what survives a collection;
        # G1 sizes it by pause times, which on a shared host move the
        # JVM's resident memory by a quarter from run to run.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData -XX:+UseSerialGC",
    )
    env.pop("SPARK_MASTER", None)
    cmd = [
        sys.executable, os.path.join(HERE, "harness.py"), args.workload, str(args.seed),
        str(args.seconds), args.trace, dirs["data"], out_json,
    ]
    log_path = os.path.join(run_dir, "stderr.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_all(proc, f"PERFBENCH_RUN={run_dir}\0".encode())
    if rc != 0 or not os.path.exists(out_json):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"run failed: exit {rc}" if rc is not None else f"run timed out after {TIMEOUT_S}s", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1
    shutil.rmtree(run_dir, ignore_errors=True)

    with open(out_json) as f:
        res = json.load(f)
    report(res, args.trace == "1")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


def run_pids(marker: bytes) -> list[int]:
    """Processes started for this run: they inherit its marker variable.
    PySpark's worker daemon leaves the process group, so the group alone
    does not find them."""
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/environ", "rb") as f:
                    if marker in f.read():
                        pids.append(int(d))
            except OSError:
                pass
    return pids


def stop_all(proc: subprocess.Popen, marker: bytes) -> None:
    """Stop the child, its JVM and the JVM's Python workers; wait for each."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        proc.poll()
        pids = run_pids(marker)
        if not pids:
            break
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline and run_pids(marker):
            proc.poll()
            time.sleep(0.1)
    proc.wait()


def report(res: dict, trace: bool) -> None:
    p, n = res["provenance"], res["notes"]
    print(
        f"workload {p['workload']}  seed {p['seed']}  sf {p['sf']}  master {p['master']}"
        f"  driver_memory {p['driver_memory']}  spark {p['versions']['spark']}"
        f"  source {p['source_digest']}  git {p['git_sha']}"
    )
    print(f"loadavg start {p['loadavg_start']}  end {p['loadavg_end']}")
    print(f"{'failed_frac':<22} {n['failed_frac']:.6g} frac ({res['failed']}/{res['attempted']})")
    if not trace:
        for k, m in res["end_to_end"].items():
            gate = "" if k in res["metrics"] else "  (reported, not gated)"
            print(f"{k:<22} {m['value']:.6g} {m['unit']}{gate}")
        print(
            f"op samples {n['op_samples']} in {n['passes']} pass(es); op_tail_s is the"
            f" p{n['op_tail_percentile']:g} value"
        )
    if res["check_failed"] or res["errors"]:
        print(f"correctness failures: {res['check_failed']}  errors: {res['errors']}")
    if trace:
        for k, m in res["metrics"].items():
            print(f"{k:<36} {m['value']:.6g} {m['unit']}")


if __name__ == "__main__":
    sys.exit(main())
