"""Builders are functions of (spark, sf_dir): no hidden module state.

A module-level empty container that code fills at run time is how
in-process fit memos (dicts keyed by path and data mtime) creep back
in: the harness then has to clear them by hand before every timed
run. This guard parses every module under `flink_rc_spark/` and fails
on any module-level assignment of an empty `{}`, `[]`, `set()`,
`dict()` or `list()` that is not on the allow-list below.
"""

from __future__ import annotations

import ast
import os

import flink_rc_spark

# (module path relative to flink_rc_spark/, name) -> why it may stay.
ALLOWED = {
    ("registry.py", "REGISTRY"): "the key registry itself, filled by @register at import",
    ("util.py", "_FIXTURE_DIRS"): "process-lifetime temp dirs, removed at exit",
    ("util.py", "_SHIPPED"): "application ids whose executors already have the package zip",
    ("sources/pyds.py", "_REGISTERED"): "application ids with the data source registered",
    ("plans/inspect.py", "PRE_CHECKPOINT_VIOLATIONS"): "audit findings drained by the plan tests",
}


def _is_empty_container(node: ast.expr | None) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.List):
        return not node.elts
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in {"dict", "list", "set"}
        and not node.args
        and not node.keywords
    )


def _module_level(stmts):
    """Statements executed at import: the module body plus the bodies
    of top-level if/try/with blocks (not function or class bodies)."""
    for st in stmts:
        yield st
        if isinstance(st, (ast.If, ast.Try, ast.With)):
            for field in ("body", "orelse", "finalbody"):
                yield from _module_level(getattr(st, field, []))
            for h in getattr(st, "handlers", []):
                yield from _module_level(h.body)


def _empty_module_containers() -> set[tuple[str, str]]:
    root = os.path.dirname(os.path.abspath(flink_rc_spark.__file__))
    found = set()
    for d, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=path)
            for st in _module_level(tree.body):
                if isinstance(st, ast.Assign):
                    targets, value = st.targets, st.value
                elif isinstance(st, ast.AnnAssign):
                    targets, value = [st.target], st.value
                else:
                    continue
                if _is_empty_container(value):
                    found |= {
                        (rel, t.id) for t in targets if isinstance(t, ast.Name)
                    }
    return found


def test_no_module_level_memos():
    found = _empty_module_containers()
    unexpected = found - ALLOWED.keys()
    assert not unexpected, (
        "module-level mutable state (memo/cache?) — make the builder "
        f"stateless or justify it in ALLOWED: {sorted(unexpected)}"
    )
    # the allow-list may not outlive the state it excuses
    assert ALLOWED.keys() <= found, sorted(ALLOWED.keys() - found)
