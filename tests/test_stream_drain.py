"""One staged source and one drain for every Structured Streaming runner.

Every runner in ``ugfraud_spark/streaming/`` stages its source with
``drain.staged`` and drains through ``drain.drain``. This pins the
staging contract (symlinks per delivery, ``FileNotFoundError`` when no
parquet resolves, the dir removed on exit, also on raise), that no
runner leaves a staged dir behind when it raises, and, by an AST scan,
that no other module stages a source or opens a memory sink itself."""

from __future__ import annotations

import ast
import os
import pathlib
import tempfile

import pytest

from ugfraud_spark.streaming import corpus, drain, events

ROOT = pathlib.Path(__file__).resolve().parent.parent
STREAMING = ROOT / "ugfraud_spark" / "streaming"


def staging_calls(source: str) -> list[tuple[str, int]]:
    """(what, line) of every ``mkdtemp`` or ``symlink`` call and every
    ``.format("memory")`` in ``source``."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if name in ("mkdtemp", "symlink"):
            found.append((name, node.lineno))
        elif (name == "format" and node.args
              and isinstance(node.args[0], ast.Constant)
              and node.args[0].value == "memory"):
            found.append(("memory sink", node.lineno))
    return found


@pytest.mark.parametrize("snippet,want", [
    ("d = tempfile.mkdtemp(prefix='x')", [("mkdtemp", 1)]),
    ("from tempfile import mkdtemp\nmkdtemp()", [("mkdtemp", 2)]),
    ("def f(a, b):\n    os.symlink(a, b)", [("symlink", 2)]),
    ("q = df.writeStream.format('memory').start()", [("memory sink", 1)]),
    ("q = df.writeStream.format('parquet').start()", []),
    ("s = '{}'.format(x)", []),
])
def test_checker_finds_staging_calls(snippet, want):
    assert staging_calls(snippet) == want


def test_drain_module_is_the_only_stager():
    found = {(p.name, what)
             for p in sorted(STREAMING.glob("*.py"))
             for what, _ in staging_calls(p.read_text())}
    assert found == {("drain.py", "mkdtemp"), ("drain.py", "symlink"),
                     ("drain.py", "memory sink")}, found


@pytest.fixture
def tmp_root(tmp_path, monkeypatch):
    """A fresh ``tempfile`` root, so a test sees every dir a runner
    stages and every dir it leaves behind."""
    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    return root


def test_staged_links_each_delivery_and_removes_the_dir(tmp_path, tmp_root):
    src = tmp_path / "src"
    src.mkdir()
    for name in ("a.parquet", "b.parquet", "notes.txt"):
        (src / name).write_text("x")
    with drain.staged(str(src), deliveries=2) as d:
        assert os.path.dirname(d) == str(tmp_root)
        links = sorted(os.listdir(d))
        assert links == ["delivery0_a.parquet", "delivery0_b.parquet",
                         "delivery1_a.parquet", "delivery1_b.parquet"]
        assert all(os.path.islink(os.path.join(d, n)) for n in links)
    with drain.staged(str(src / "a.parquet")) as d:
        assert os.listdir(d) == ["delivery0_a.parquet"]
    with pytest.raises(KeyError):
        with drain.staged(str(src)):
            raise KeyError("inside the scope")
    assert os.listdir(tmp_root) == []


RUNNERS = {
    "run_stream_sessionize": events.run_stream_sessionize,
    "stateful_user_stats_stream": events.stateful_user_stats_stream,
    "run_stream_dedup": events.run_stream_dedup,
    "run_stream_once": events.run_stream_once,
    "run_stream_approx_distinct": events.run_stream_approx_distinct,
    "run_stream_attribution": events.run_stream_attribution,
    "run_stream_quality": corpus.run_stream_quality,
    "run_stream_incremental_dedup": corpus.run_stream_incremental_dedup,
    "run_stream_frontier": corpus.run_stream_frontier,
}


@pytest.mark.parametrize("name", sorted(RUNNERS))
def test_runner_without_parquet_raises_and_leaves_nothing(
        spark, tmp_path, tmp_root, name):
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(FileNotFoundError):
        RUNNERS[name](spark, str(empty))
    assert os.listdir(tmp_root) == []


def test_failed_build_leaves_nothing(spark, sf_small, tmp_root, monkeypatch):
    """A frame that fails to analyze raises before the drain starts."""
    monkeypatch.setattr(events, "windowed_event_stats",
                        lambda src, minutes: src.select("no_such_column"))
    with pytest.raises(Exception, match="no_such_column"):
        events.run_stream_once(spark, f"{sf_small}/events.parquet")
    assert os.listdir(tmp_root) == []


def test_failed_stream_leaves_nothing(spark, sf_small, tmp_root, monkeypatch):
    """A micro-batch that raises fails the query; the wait re-raises,
    and the staged dir, checkpoint and sink go with it."""
    def fail(*_a, **_k):
        raise RuntimeError("admission check failed")

    monkeypatch.setattr(corpus, "incremental_dedup", fail)
    with pytest.raises(Exception, match="admission check failed"):
        corpus.run_stream_incremental_dedup(
            spark, f"{sf_small}/documents.parquet")
    assert os.listdir(tmp_root) == []
    assert not [q for q in spark.streams.active]
