"""No literal partition widths in the engine.

A shuffle width is derived from the data (``superstep.layout_width``,
``colocate_edges_sized``), taken from the session conf, or scoped by
``sized_plan``; a number written into the code is tuned for one host
and wrong on every other. This scans ``ugfraud_spark/`` (the DuckDB
mirrors in ``oracle.py`` aside) for ``repartition(<int>``,
``repartitionByRange(<int>``, ``coalesce(<int>``, a numeric
``numPartitions=`` and a numeric default of an ``n_parts`` parameter.
``n_blocks`` is the block-id domain of the CSR layout, not a width,
so it is not checked."""

from __future__ import annotations

import ast
import pathlib

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "ugfraud_spark"
WIDTH_CALLS = {"repartition", "repartitionByRange", "coalesce"}


def _numeric(node: ast.AST) -> bool:
    return any(isinstance(n, ast.Constant) and type(n.value) in (int, float)
               for n in ast.walk(node))


def literal_widths(source: str) -> list[int]:
    """Line numbers of literal partition widths in ``source``."""
    hits = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            name = node.func.attr
            # F.coalesce is the null-coalescing column function
            column_fn = (isinstance(node.func.value, ast.Name)
                         and node.func.value.id == "F")
            if (name in WIDTH_CALLS and not column_fn and node.args
                    and _numeric(node.args[0])):
                hits.append(node.lineno)
            hits += [node.lineno for kw in node.keywords
                     if kw.arg == "numPartitions" and _numeric(kw.value)]
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            pos = a.posonlyargs + a.args
            pairs = list(zip(pos[len(pos) - len(a.defaults):], a.defaults))
            pairs += [(k, d) for k, d in zip(a.kwonlyargs, a.kw_defaults)
                      if d is not None]
            hits += [d.lineno for arg, d in pairs
                     if arg.arg == "n_parts" and _numeric(d)]
    return hits


@pytest.mark.parametrize("snippet", [
    "df.repartition(32, 'id')",
    "df.repartitionByRange(8, 'v')",
    "df.coalesce(1)",
    "spark.range(0, n, numPartitions=p or 32)",
    "def f(d, n_parts=32): pass",
    "def f(d, *, n_parts: int = 4): pass",
])
def test_checker_catches_literal_widths(snippet):
    assert literal_widths(snippet) == [1]


@pytest.mark.parametrize("snippet", [
    "df.repartition('id')",
    "df.repartition(m, 'src')",
    "df.repartitionByRange('v')",
    "F.coalesce(0, F.col('x'))",
    "def f(d, n_blocks=32): pass",
])
def test_checker_passes_derived_widths(snippet):
    assert literal_widths(snippet) == []


def test_engine_has_no_literal_partition_widths():
    found = [f"{p.relative_to(PKG.parent)}:{line}"
             for p in sorted(PKG.rglob("*.py")) if p.name != "oracle.py"
             for line in literal_widths(p.read_text())]
    assert found == []
