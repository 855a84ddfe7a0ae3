"""No ``assert`` statement in the package: ``python -O`` strips them, so
a check written as one silently stops checking. Package code raises
instead (``operators.registry._require`` for builder self-checks)."""

from __future__ import annotations

import ast
import os

import tf_aws_lakeformation_governed_datalake_demo_spark as pkg

ROOT = os.path.dirname(pkg.__file__)


def test_package_has_no_assert_statements():
    found = []
    for dirpath, _dirs, files in os.walk(ROOT):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), filename=path)
            found += [
                f"{os.path.relpath(path, ROOT)}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Assert)
            ]
    assert not found, f"assert statements in package code: {found}"
