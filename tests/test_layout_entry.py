"""One layout entry point for the sized kernels.

A kernel lays its edges out and scopes its plan by opening
``superstep.sized_layout``, which calls ``colocate_edges_sized`` and
releases the layout when the kernel returns. A direct call would lay
out edges that no scope releases, so this scans ``ugfraud_spark/`` and
``scripts/`` for calls to ``colocate_edges_sized`` and allows exactly
one: the one inside ``sized_layout``."""

from __future__ import annotations

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCANNED = ("ugfraud_spark", "scripts")


def layout_calls(source: str) -> list[tuple[str, int]]:
    """(enclosing function, line) of every call to
    ``colocate_edges_sized`` in ``source``, by name or attribute;
    ``<module>`` for a call outside any function."""
    calls = []

    def visit(node: ast.AST, fn: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name == "colocate_edges_sized":
                calls.append((fn, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(ast.parse(source), "<module>")
    return calls


@pytest.mark.parametrize("snippet,want", [
    ("e, m = colocate_edges_sized(x)", [("<module>", 1)]),
    ("def k(x):\n    return superstep.colocate_edges_sized(x, 'dst')",
     [("k", 2)]),
    ("def sized_layout(e):\n    def inner():\n"
     "        colocate_edges_sized(e)\n", [("inner", 3)]),
    ("def f(x):\n    return colocate_edges(x)", []),
    ("from .superstep import colocate_edges_sized", []),
])
def test_checker_finds_layout_calls(snippet, want):
    assert layout_calls(snippet) == want


def test_sized_layout_is_the_only_layout_caller():
    found = [(str(p.relative_to(ROOT)), fn)
             for d in SCANNED for p in sorted((ROOT / d).rglob("*.py"))
             for fn, _ in layout_calls(p.read_text())]
    assert found == [("ugfraud_spark/operators/superstep.py",
                      "sized_layout")], found
