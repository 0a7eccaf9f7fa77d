"""Generate PLANS.md: a physical-plan inventory of every query in
`__spark_entry__.queries()` — the per-query audit of the properties that
matter at 100 TB (join strategies, aggregation phases, exchanges, Python
boundaries, scan pushdown).

Run: python tools/plan_audit.py [sf_dir]   (default /root/testdata/sf0.001)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Partition-less unbounded Windows that are ACCEPTED, with why. The only
# legitimate entries are frames provably bounded by something structural
# detection can't see (grain, not limits). Everything else must go through
# orderBy().limit() / global_rank_ntile / global_prefix_sum / a 1-row agg.
GLOBAL_WINDOW_ALLOWLIST = {
    # lag() needs row adjacency (no limit applies); the frame is
    # month-grain — bounded by the calendar range, not the data volume
    "revenue_seasonality": "month-grain lag",
    # the cumulative-share windows read the groupBy("decile") aggregate —
    # a ≤10-row frame by the ntile domain, which the detector can't
    # prove statically (the r12 streamed-side tightening removed the
    # accidental proof via the ranking primitive's _pid agg sitting on a
    # broadcast BUILD side). Directly pinned by
    # tests/test_plan_shapes.py::test_decile_queries_have_no_datawide_
    # single_partition_sort (every SinglePartition subtree aggregates on
    # decile or _pid).
    "revenue_pareto": "10-row decile aggregate",
}

MARKS = [
    ("BHJ", "BroadcastHashJoin"),
    ("SMJ", "SortMergeJoin"),
    ("SHJ", "ShuffledHashJoin"),
    ("BNLJ", "BroadcastNestedLoopJoin"),
    ("cartesian", "CartesianProduct"),
    ("semi", "LeftSemi"),
    ("anti", "LeftAnti"),
    ("agg", "HashAggregate"),
    ("objagg", "ObjectHashAggregate"),
    ("sortagg", "SortAggregate"),
    ("win", "Window"),
    ("exch", "Exchange"),
    ("expand", "Expand"),
    ("py", "EvalPython"),  # Batch/ArrowEvalPython
    ("pandas", "FlatMapGroupsInPandas"),
    ("mapPandas", "MapInPandas"),
]

# The scale factor PLANS.md is generated at (its header records it).
PLANS_SF_DIR = "/root/testdata/sf0.001"


def build_query(spark, sf_dir: str, name: str, fn):
    """(PLANS.md row, built frame) of one queries() entry, or (error row,
    the exception) when its build raises.

    Each query builds against an empty cache: CacheManager substitutes
    InMemoryRelation into any plan whose subtree matches a
    previously-persisted frame, so persists leaking from an earlier caller
    (the test session) OR from an alphabetically-earlier query would make
    a row's shape depend on which other queries exist or ran first.
    Clearing per build keeps each row a pure function of that query alone
    (a query's own persist() calls still show up in its own plan — those
    register before its plan compiles)."""
    spark.catalog.clearCache()
    try:
        df = fn(spark, sf_dir)
    except Exception as exc:  # pragma: no cover
        return error_row(name, exc), exc
    return plan_row(name, df), df


def generate_rows(spark, sf_dir: str, build=None) -> list[tuple[str, str, str]]:
    """(query, operator marks, pushdown note) for every queries() entry,
    in name order. Plan compilation only (executedPlan is the
    pre-adaptive physical plan), except operators whose construction is
    eager by design (dedup_clusters checkpoints its iterations).

    `build(name, fn)` returns one entry's (row, frame); it defaults to
    `build_query` at `sf_dir`. The test session passes a memoizing one,
    so the rows it checks come from the same builds whose results it
    collects."""
    import __spark_entry__ as entry_mod

    if build is None:
        def build(name, fn):
            return build_query(spark, sf_dir, name, fn)

    return [build(name, fn)[0] for name, fn in sorted(entry_mod.queries().items())]


def error_row(name: str, exc: Exception) -> tuple[str, str, str]:
    return (name, f"ERROR: {exc}", "")


def plan_row(name: str, df) -> tuple[str, str, str]:
    """The PLANS.md row of one built frame. Call it before the frame
    executes: after an action, AQE's executedPlan prints its final plan,
    not the pre-adaptive one the inventory records."""
    try:
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        formatted = qe.explainString(mode)
    except Exception as exc:  # pragma: no cover
        return error_row(name, exc)
    marks = []
    for label, pat in MARKS:
        c = plan.count(pat)
        if c:
            marks.append(f"{label}×{c}")
    off = global_window_offenders(df)
    if off:
        # single-task-sort scale cliff: forbidden (tests fail on the
        # GLOBALWIN mark) unless explicitly allowlisted with a reason
        if name in GLOBAL_WINDOW_ALLOWLIST:
            marks.append(f"gwin-ok({GLOBAL_WINDOW_ALLOWLIST[name]})")
        else:
            marks.append(f"GLOBALWIN×{len(off)}")
    pushed = sorted(set(re.findall(r"PushedFilters: \[([^\]]+)\]", formatted)))
    pushed_note = "pushdown" if any(p.strip() for p in pushed) else ""
    return (name, " ".join(marks) or "scan-only", pushed_note)


# Physical nodes that bound the row count flowing into a downstream
# single-partition Window: explicit limits, Spark 4's inferred window-group
# limits (InferWindowGroupLimit turns `row_number().over(orderBy) +
# filter(rank <= k)` into per-partition TakeOrdered pruning), and the
# engine's own range-partitioned ranking primitive, whose only global
# window runs over the P-row per-partition offset frame (grouped by the
# reserved `_pid` column — operators/ranking.py).
_BOUNDING_NODES = (
    "TakeOrderedAndProjectExec",
    "GlobalLimitExec",
    "LocalLimitExec",
    "CollectLimitExec",
    "WindowGroupLimitExec",
)


def _walk_plan(node):
    """Depth-first physical-plan traversal that descends through AQE
    wrappers (AdaptiveSparkPlanExec/QueryStageExec hide their subtree
    from children())."""
    yield node
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _walk_plan(node.inputPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _walk_plan(node.plan())
        return
    ch = node.children()
    for i in range(ch.length()):
        yield from _walk_plan(ch.apply(i))


def _bounded_walk(node):
    """`_walk_plan` restricted to the ROW-PRODUCING path: broadcast
    joins descend only their STREAMED child, so a `limit(K)` sitting on
    a broadcast (build) branch can't vouch for an unbounded probe side —
    the `limited_dim JOIN unbounded_fact` shape a global Window above
    must still flag. Shuffled joins (SMJ/SHJ) keep the both-sides
    approximation: their output multiplicity isn't statically bounded by
    either input alone, and every legitimate bounded plan in the
    registry bounds the probe side of a BROADCAST join (the
    TakeOrdered → rank-window shape), so the looser rule there is a
    documented residual, not a load-bearing exemption (see
    tests/test_plan_shapes.py::TestNoGlobalWindows)."""
    yield node
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _bounded_walk(node.inputPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _bounded_walk(node.plan())
        return
    if cls in ("BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec"):
        streamed = (
            node.right()
            if node.buildSide().toString() == "BuildLeft"
            else node.left()
        )
        yield from _bounded_walk(streamed)
        return
    ch = node.children()
    for i in range(ch.length()):
        yield from _bounded_walk(ch.apply(i))


def _subtree_bounded(node) -> bool:
    """True if the row-producing path into `node`'s subtree passes a
    bounding node (limit / inferred group-limit) or the `_pid` offset
    aggregate — i.e. the frame a global Window above it would sort is
    constant- or partition-count-bounded, not data-sized. Broadcast
    joins contribute only their streamed side (see `_bounded_walk`);
    shuffled joins remain an existence approximation."""
    for n in _bounded_walk(node):
        cls = n.getClass().getSimpleName()
        if cls in _BOUNDING_NODES:
            return True
        if cls.endswith("AggregateExec") and "_pid" in n.simpleString(30):
            return True
    return False


def global_window_offenders(df) -> list[str]:
    """Names of partition-less WindowExec nodes whose input subtree is
    NOT frame-bounded — the `Exchange SinglePartition` + one-task-sort
    scale cliff (pinned by tests/test_plan_shapes.py). Empty list =
    every global window in the plan sorts a bounded frame."""
    out = []
    for n in _walk_plan(df._jdf.queryExecution().executedPlan()):
        cls = n.getClass().getSimpleName()
        if cls in ("WindowExec", "WindowInPandasExec") and n.partitionSpec().isEmpty():
            if not _subtree_bounded(n.children().apply(0)):
                out.append(n.simpleString(25))
    return out


def render(rows: list[tuple[str, str, str]], sf_dir: str) -> str:
    lines = [
        "# PLANS — physical-plan inventory (auto-generated by tools/plan_audit.py)",
        "",
        f"Every `queries()` entry at `{sf_dir}`. Abbreviations: BHJ/SMJ/SHJ/BNLJ",
        "join strategies, agg=HashAggregate, win=Window, exch=Exchange,",
        "expand=Expand, py=row/arrow Python eval, pandas/mapPandas = the",
        "explicitly-Arrow operators. GLOBALWIN marks a partition-less",
        "WindowExec over a non-frame-bounded subtree (the one-task-sort",
        "scale cliff — forbidden; gwin-ok = allowlisted with reason).",
        "Invariants enforced by",
        "tests/test_plan_shapes.py: no CartesianProduct in joins, no Python",
        "eval in declarative plans, no GLOBALWIN, partial+final aggregation,",
        "pushdown on selective scans, zero-Exchange bucketed fact joins.",
        "",
        "| query | physical operators | scan |",
        "|---|---|---|",
    ]
    for name, marks, pushed in rows:
        lines.append(f"| {name} | {marks} | {pushed} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else PLANS_SF_DIR
    # same session factory + confs as the pytest fixture, so the staleness
    # test (tests/test_plan_shapes.py) regenerates identical rows
    from gmall_flink_200621_spark.session import get_spark

    # per-process temp warehouse — same rationale as verify_oracle: the
    # stream views this tool EXECUTES to read their plans materialize
    # per-SF-named catalog tables, and a concurrent same-SF verify run
    # sharing $PWD/spark-warehouse would cross-contaminate state
    import tempfile

    spark = get_spark(
        "plan_audit",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="sg_plans_wh_")
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    rows = generate_rows(spark, sf_dir)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write(render(rows, sf_dir))
    print(f"wrote {out} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
