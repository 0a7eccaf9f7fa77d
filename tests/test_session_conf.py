"""Static guard: no operator changes session-global Spark conf as a side
effect. Walks the package's AST (no Spark) and fails on any
`<x>.conf.set(...)` call outside `session.py`, which builds the session,
unless the call's enclosing function is on the allowlist below with its
reason."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "gmall_flink_200621_spark")

# (path under the package, enclosing function) -> why the write is allowed
ALLOWED = {
    ("operators/layout.py", "compact_small_files"): (
        "rewrites caller-owned tables, which do not declare dynamic overwrite themselves"
    ),
    ("streaming/late_data.py", "run_hot_urls_late_stream"): (
        "narrows shuffle partitions around one query's start(); to be scoped per query"
    ),
    ("sources/loaders.py", "load_table"): (
        "parquet timestamp read flags for the testdata footers; to be scoped per read"
    ),
    ("sources/loaders.py", "events_parquet_stream"): (
        "parquet timestamp read flags for the testdata footers; to be scoped per read"
    ),
}


def _conf_sets(tree: ast.AST):
    """(enclosing function, line) of every `<x>.conf.set(...)` call."""
    out = []

    def visit(node: ast.AST, fn: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and fn == "<module>":
            fn = node.name  # outermost function names the call site
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "set"
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "conf"
        ):
            out.append((fn, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, "<module>")
    return out


def test_no_session_conf_writes_outside_session_module():
    bad, seen = [], set()
    for root, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(root, f), PKG).replace(os.sep, "/")
            if rel == "session.py":
                continue
            with open(os.path.join(root, f)) as fh:
                tree = ast.parse(fh.read(), rel)
            for fn, line in _conf_sets(tree):
                if (rel, fn) in ALLOWED:
                    seen.add((rel, fn))
                else:
                    bad.append(f"{rel}:{line} in {fn}")
    assert not bad, "session conf set outside session.py: " + ", ".join(bad)
    # a stale allowlist entry would hide the next regression in that function
    assert seen == set(ALLOWED), f"allowlist entries with no conf.set: {set(ALLOWED) - seen}"
