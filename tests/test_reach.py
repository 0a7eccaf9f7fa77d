"""Static guard: every top-level def/class of the package is reached from
what the project runs, not only from its tests. Walks the ASTs (no Spark).

Reach is a name-based closure. A name is reached when it occurs (as a
name, an attribute, or an identifier-like string constant — registries
and getattr lookups name functions by string) in a root or in the body
of a reached top-level def/class or named module-level assignment. The
roots are `__spark_entry__.py`, `bench.py`, `tools/*.py`, `perfbench/*.py`
and the package's other module-level statements. Imports are not roots:
an import binds a name, it does not use it.

The test fails on a top-level def/class whose name is not reached and
that is not on the allowlist below with its reason, and on an allowlist
entry that no longer names an unreached def."""

from __future__ import annotations

import ast
import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "gmall_flink_200621_spark")
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")

_APP = "Structured Streaming form of a reference Flink app, pinned stream-against-batch by its tests"

# (path under the package, top-level name) -> why it stays unreached
ALLOWED = {
    ("streaming/jobs.py", "page_view_stream"): _APP + " (PageViewApp)",
    ("streaming/jobs.py", "uv_stream"): _APP + " (UvCountWithBloomFilterApp)",
    ("streaming/jobs.py", "market_by_channel_stream"): _APP + " (MarketByChannelApp)",
    ("streaming/jobs.py", "ad_click_by_province_stream"): _APP + " (AdClickByProvinceApp)",
    ("streaming/jobs.py", "run_hot_items_stream"): _APP + " (HotItemApp)",
    ("streaming/jobs.py", "run_hot_items_retract_stream"): _APP + " (HotItemsWithSQLApp retract stream)",
    ("streaming/jobs.py", "order_receipt_join_stream"): _APP + " (OrderReceiptAppWithJoin)",
    ("streaming/stateful.py", "login_fail_stream"): _APP + " (LoginFailApp2)",
    ("streaming/stateful.py", "order_timeout_stream"): _APP + " (OrderTimeoutAppWithState)",
    ("streaming/stateful.py", "blacklist_stream"): _APP + " (AdClickByProvinceApp blacklist)",
    ("streaming/stateful.py", "pay_receipt_stream"): _APP + " (OrderReceiptAppWithConnect)",
    ("operators/similarity.py", "hadamard_q"): (
        "reference implementation that tests compare the reached hadamard_rotate against"
    ),
    ("streaming/ingest.py", "live_epochs"): (
        "reference implementation that tests compare the reached epochs.live against"
    ),
}


def _refs(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and IDENT.match(n.value):
            out.add(n.value)
    return out


def _package():
    """(bodies: name -> [nodes], defs: [(path, name)], module-level roots)."""
    bodies: dict[str, list[ast.AST]] = {}
    defs: list[tuple[str, str]] = []
    roots: set[str] = set()
    for root, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(root, f), PKG).replace(os.sep, "/")
            with open(os.path.join(root, f)) as fh:
                tree = ast.parse(fh.read(), rel)
            for st in tree.body:
                if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    bodies.setdefault(st.name, []).append(st)
                    defs.append((rel, st.name))
                elif isinstance(st, ast.Assign) and all(isinstance(t, ast.Name) for t in st.targets):
                    for t in st.targets:
                        bodies.setdefault(t.id, []).append(st)
                elif isinstance(st, ast.AnnAssign) and isinstance(st.target, ast.Name):
                    bodies.setdefault(st.target.id, []).append(st)
                elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                    roots |= _refs(st)
    return bodies, defs, roots


def _closure(bodies: dict[str, list[ast.AST]], roots: set[str]) -> set[str]:
    reached, todo = set(), list(roots)
    while todo:
        n = todo.pop()
        if n in reached:
            continue
        reached.add(n)
        for node in bodies.get(n, ()):
            todo.extend(_refs(node) - reached)
    return reached


def _entry_roots() -> set[str]:
    paths = [os.path.join(REPO, "__spark_entry__.py"), os.path.join(REPO, "bench.py")]
    paths += sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
    paths += sorted(glob.glob(os.path.join(REPO, "perfbench", "*.py")))
    roots: set[str] = set()
    for p in paths:
        with open(p) as fh:
            roots |= _refs(ast.parse(fh.read(), p))
    return roots


def test_every_top_level_def_is_reached():
    bodies, defs, pkg_roots = _package()
    roots = pkg_roots | _entry_roots()
    reached = _closure(bodies, roots)
    # allowlisted defs reach their own helpers
    with_allowed = _closure(bodies, roots | {name for _, name in ALLOWED})
    bad = sorted(f"{rel}:{name}" for rel, name in defs if name not in with_allowed)
    assert not bad, "top-level defs that only tests (or nothing) reach: " + ", ".join(bad)
    # a stale entry would hide the next unreached def of that name
    stale = sorted(k for k in ALLOWED if k not in defs or k[1] in reached)
    assert not stale, f"allowlist entries that are gone or reached: {stale}"
