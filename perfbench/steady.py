"""Steadiness check: do two sets of runs of the same code agree?

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads a,b] [--seed0 1]

Runs the benchmark command from BENCHMARK.json `--runs` times per set on
each workload, each run with its own seed, alternating between the sets.
For every workload and end-to-end metric it prints each set's median and
spread (interquartile range over median, quartiles as
`statistics.quantiles(n=4)` gives them) and a verdict:

- `unresolved`: a set's spread exceeds the metric's bound (for `setup_s`
  only the medians are compared), so agreement cannot be judged;
- `worse`: the second set's median is worse than the first's by more
  than the bound;
- `agree`: otherwise.

With `--sets 1` only the spreads are reported, each flagged when above a
third of its bound. The per-run result lines and the summary are written
to `.perfbench_out/steady-<tag>.json`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-2000:])
        raise SystemExit(f"run failed: {workload} seed {seed}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    # the ungated end-to-end figures (wall-clock latency, throughput) ride along
    with open(os.path.join(ROOT, ".perfbench_out", "results", f"{workload}-seed{seed}-trace0.json")) as f:
        res["reported"] = json.load(f)["end_to_end"]
    return res


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=2)
    ap.add_argument("--workloads")
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--tag", default="check")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    gated = {m["name"] for m in metrics}
    runs: dict[str, list[list[dict]]] = {}
    summary = []
    for w in names:
        sets: list[list[dict]] = [[] for _ in range(args.sets)]
        for i in range(args.runs):
            for s in range(args.sets):
                seed = args.seed0 + i + 1000 * s
                res = run_once(bench, w, seed)
                if not res["correct"] or res["failed"]:
                    print(f"{w} seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']}")
                sets[s].append(res)
        runs[w] = sets
        reported = [k for k in sets[0][0]["reported"] if k not in gated]
        for m in metrics + [{"name": k, "unit": sets[0][0]["reported"][k]["unit"], "bound": None} for k in reported]:
            vals = [[r["reported"][m["name"]]["value"] for r in rs] for rs in sets]
            meds = [statistics.median(v) for v in vals]
            spreads = [spread(v) for v in vals]
            row = {"workload": w, "metric": m["name"], "unit": m["unit"], "bound": m["bound"],
                   "medians": meds, "spreads": spreads, "values": vals}
            if m["bound"] is None:
                row["verdict"] = "not gated"
            elif args.sets == 1:
                row["verdict"] = "steady" if spreads[0] < m["bound"] / 3 or m["name"] == "setup_s" else "wide"
            else:
                worse = (meds[1] - meds[0]) / meds[0] * (1 if m["better"] == "lower" else -1)
                row["worse_by"] = worse
                if m["name"] != "setup_s" and max(spreads) > m["bound"]:
                    row["verdict"] = "unresolved"
                else:
                    row["verdict"] = "worse" if worse > m["bound"] else "agree"
            summary.append(row)
            print(
                f"{w:<14} {m['name']:<12} medians {' '.join(f'{x:.4g}' for x in meds)} {m['unit']}"
                f"  spreads {' '.join(f'{x:.3f}' for x in spreads)}  bound {m['bound'] or '-'}  {row['verdict']}",
                flush=True,
            )
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench_out", f"steady-{args.tag}.json"), "w") as f:
        json.dump({"summary": summary, "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
