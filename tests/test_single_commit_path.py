"""Only ``sources.lake._commit`` moves staged files into a table and
writes a snapshot: ``_commit_manifest`` and ``_move_staged_in`` each
have exactly one call site, inside it. A writer that calls either
directly bypasses the commit lock's re-read and the conflict rule."""

from __future__ import annotations

import ast
import os

import tf_aws_lakeformation_governed_datalake_demo_spark as pkg

ROOT = os.path.dirname(pkg.__file__)
COMMIT_STEPS = ("_commit_manifest", "_move_staged_in")


def _call_sites(name):
    """``(module, enclosing function)`` of every call to ``name`` in the
    package, by plain name or as a module attribute."""
    sites = []
    for dirpath, _dirs, files in os.walk(ROOT):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), filename=path)
            rel = os.path.relpath(path, ROOT)

            def visit(node, func):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    func = node.name if func is None else func
                if isinstance(node, ast.Call):
                    callee = node.func
                    called = getattr(callee, "id", None) or getattr(
                        callee, "attr", None
                    )
                    if called == name:
                        sites.append((rel, func))
                for child in ast.iter_child_nodes(node):
                    visit(child, func)

            visit(tree, None)
    return sites


def test_commit_steps_are_called_only_from_commit():
    for name in COMMIT_STEPS:
        assert _call_sites(name) == [(os.path.join("sources", "lake.py"), "_commit")]
