"""Only ``sources.lake._commit`` moves staged files into a table and
writes a snapshot: ``_commit_manifest`` and ``_move_staged_in`` each
have exactly one call site, inside it. A writer that calls either
directly bypasses the commit lock's re-read and the conflict rule.
The file rewriters (OPTIMIZE, compaction, tombstone purge, IVF
retrain) stage and commit only through ``_replace_files``."""

from __future__ import annotations

import ast
import os

import tf_aws_lakeformation_governed_datalake_demo_spark as pkg

ROOT = os.path.dirname(pkg.__file__)
COMMIT_STEPS = ("_commit_manifest", "_move_staged_in")


def _sites(match):
    """``(module, enclosing function)`` of every AST node in the package
    that ``match`` accepts (function None at module level)."""
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
                if match(node):
                    sites.append((rel, func))
                for child in ast.iter_child_nodes(node):
                    visit(child, func)

            visit(tree, None)
    return sites


def _call_sites(name):
    """``(module, enclosing function)`` of every call to ``name`` in the
    package, by plain name or as a module attribute."""

    def match(node):
        if not isinstance(node, ast.Call):
            return False
        callee = node.func
        return (getattr(callee, "id", None) or getattr(callee, "attr", None)) == name

    return _sites(match)


def test_commit_steps_are_called_only_from_commit():
    for name in COMMIT_STEPS:
        assert _call_sites(name) == [(os.path.join("sources", "lake.py"), "_commit")]


def test_file_rewriters_go_through_replace_files():
    """OPTIMIZE, compaction, tombstone purge and IVF retrain stage and
    commit only through ``lake._replace_files``."""
    rewriters = {
        (os.path.join("sources", "lake.py"), "optimize_binpack"),
        (os.path.join("sources", "lake.py"), "purge_deleted_rows"),
        (os.path.join("sources", "lake.py"), "compact_in_place"),
        (os.path.join("operators", "similarity.py"), "retrain_ivf"),
    }
    for name in ("_stage", "_commit", "publish_overwrite"):
        assert not rewriters & set(_call_sites(name)), name
    assert rewriters <= set(_call_sites("_replace_files"))


def test_merge_schema_option_only_in_reader():
    """A mergeSchema read is the schema-less fallback of ``lake._reader``
    alone; every other read declares the snapshot's schema."""
    sites = _sites(lambda n: isinstance(n, ast.Constant) and n.value == "mergeSchema")
    assert sites == [(os.path.join("sources", "lake.py"), "_reader")]
