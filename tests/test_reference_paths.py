"""No Python file of the repo (tracked, or new and not ignored) names a
path in the reference tree outside a docstring.  Code that reads that tree
cannot run where it is absent, so Tier-1 and the driver contract must pass
from the repo alone; docstrings may still cite it as provenance."""

from __future__ import annotations

import ast
import os
import subprocess

REFERENCE_ROOT = "/root/reference"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OWN = os.path.relpath(os.path.abspath(__file__), REPO)


def _code_strings(tree: ast.AST) -> list:
    """Every ``str`` constant in ``tree`` that is not a docstring."""
    docs = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                docs.add(first.value)
    return [n for n in ast.walk(tree)
            if isinstance(n, ast.Constant) and isinstance(n.value, str) and n not in docs]


def test_no_code_names_the_reference_tree():
    """The one allowed literal is ``REFERENCE_ROOT`` above; the import probe
    of ``test_catalog_oracles.py`` watches that root through it."""
    files = subprocess.run(
        ["git", "ls-files", "--cached", "--others", "--exclude-standard", "*.py"],
        cwd=REPO, check=True, capture_output=True, text=True).stdout.split()
    assert OWN in files
    hits = []
    for rel in files:
        with open(os.path.join(REPO, rel), encoding="utf-8") as f:
            tree = ast.parse(f.read(), rel)
        allowed = set()
        if rel == OWN:
            allowed = {n.value for n in tree.body if isinstance(n, ast.Assign)
                       and [getattr(t, "id", None) for t in n.targets] == ["REFERENCE_ROOT"]}
        hits += [f"{rel}:{n.lineno}: {n.value!r}" for n in _code_strings(tree)
                 if n.value.startswith(REFERENCE_ROOT) and n not in allowed]
    assert not hits
