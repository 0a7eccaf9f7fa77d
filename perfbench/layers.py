"""Per-layer split of a traced run, per workload and per query.

    python3 perfbench/layers.py .perfbench_out/results/<tag>.json [...]

Reads the result and span files a `--trace 1` run wrote, and prints for
each traced query the mean wall time per operation, the self time of
every layer (shares of that wall), the dominant layer, and how far the
self times plus the unattributed rest are from the wall time.
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Tracer  # noqa: E402


def layer_of(bucket: str) -> str:
    """Top-level layer of a span bucket; the op's own root span is the
    unattributed rest."""
    if bucket == "op":
        return "unattributed"
    if bucket == "exec.sink":
        return "exec (sink)"
    return bucket.split(".")[0]


def split(result_path: str) -> None:
    with open(result_path) as f:
        res = json.load(f)
    tracer = Tracer()
    with open(result_path.replace(".json", ".spans.jsonl")) as f:
        for line in f:
            s = json.loads(line)
            tracer.spans.append((s["op"], s["bucket"], s["name"], s["t0"], s["t1"], s["thread"]))
    per_query: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    walls: dict[str, list[float]] = defaultdict(list)
    for o in res["ops"]:
        if not (o["traced"] and o["ok"]):
            continue
        walls[o["query"]].append(o["wall_s"])
        for bucket, v in tracer.self_times(o["op"])[0].items():
            per_query[o["query"]][layer_of(bucket)] += v
    total: dict[str, float] = defaultdict(float)
    print(f"# {res['provenance']['workload']} (seed {res['provenance']['seed']}, sf {res['provenance']['sf']})")
    print("query | wall s/op | dominant | layer shares of wall | sum/wall")
    print("---|---|---|---|---")
    for q in sorted(per_query):
        n = len(walls[q])
        wall = sum(walls[q]) / n
        layers = {k: v / n for k, v in per_query[q].items()}
        for k, v in layers.items():
            total[k] += v * n
        top = max((k for k in layers if k != "unattributed"), key=layers.get)
        shares = ", ".join(f"{k} {v / wall:.0%}" for k, v in sorted(layers.items(), key=lambda kv: -kv[1]) if v / wall >= 0.01)
        print(f"{q} | {wall:.3f} | {top} | {shares} | {sum(layers.values()) / wall:.3f}")
    wall = sum(sum(v) for v in walls.values())
    top = max((k for k in total if k != "unattributed"), key=total.get)
    shares = ", ".join(f"{k} {v / wall:.0%}" for k, v in sorted(total.items(), key=lambda kv: -kv[1]) if v / wall >= 0.01)
    print(f"**all** | {wall / sum(len(v) for v in walls.values()):.3f} | {top} | {shares} | {sum(total.values()) / wall:.3f}")


if __name__ == "__main__":
    for path in sys.argv[1:]:
        split(path)
        print()
