"""Self-test of the benchmark at its shipped sizes (sf0.001 tables, a
200k-edge probe), each run as short as the harness allows. Run from the
repository root:

    python -m pytest perfbench/tests -q -p no:cacheprovider

Each test that runs the harness starts its own Spark driver; the whole
file takes three to six minutes on a 4-core host.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _cli(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(res: dict, kind: str) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    got = {name: m["unit"] for name, m in res["metrics"].items()}
    assert got == want
    assert all(isinstance(m["value"], (int, float)) for m in res["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_present(workload):
    res = _result(_cli(ROOT, "--workload", workload, "--seed", "3",
                       "--seconds", "0", "--trace", "0"))
    _assert_metrics(res, "end_to_end")
    assert all(m["value"] > 0 for m in res["metrics"].values())


# layers each workload must reach in its traced pass
LAYERS = {
    "link": ("superstep.layout_s", "superstep.loop_s", "catalog.write_s",
             "adjacency.build_s", "tables.derive_s", "query.consume_s"),
    "fraud_corpus": ("fraudar.peel_s", "linalg.factor_s", "tables.derive_s",
                     "query.consume_s"),
}


@pytest.mark.parametrize("workload", sorted(LAYERS))
def test_traced_run_reports_every_layer(workload):
    res = _result(_cli(ROOT, "--workload", workload, "--seed", "3",
                       "--seconds", "0", "--trace", "1"))
    _assert_metrics(res, "per_layer")
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for name in LAYERS[workload]:
        assert m[name] > 0, name
    if workload == "link":
        assert m["catalog.writes"] >= 1 and m["superstep.supersteps"] >= 1
    else:  # the bypass workload never enters the loop
        assert m["superstep.loop_s"] == 0 and m["catalog.writes"] == 0
    assert m["spark.failed_tasks"] == 0


def test_perturbed_output_counts_as_failure():
    from pyspark.sql import functions as F

    from perfbench import harness, workloads

    w = workloads.workloads()["link"]
    q = next(q for q in w.queries if q.name == "pagerank_blocks_2")
    build = q.build
    q.build = lambda inp: build(inp).withColumn("pagerank", F.col("pagerank") + 1e-3)
    w.queries = [q]
    res = harness.run(w, seed=3, seconds=0, trace=False, root=ROOT)
    passes = harness.WARM_PASSES + harness.MIN_TIMED_PASSES
    assert res["attempted"] == passes and res["failed"] == passes
    assert "output mismatch" in res["reasons"]["pagerank_blocks_2"][0]


def test_digest_ties_scores_to_ids():
    """Swapping two rows' scores keeps the row count, the id hash and the
    plain score sum; the weighted sum must still catch it."""
    from ugfraud_spark.plans.session import get_spark

    from perfbench import digest

    rows = [(i, float(i) / 7) for i in range(50)]
    swapped = [(i, rows[1 - i][1] if i < 2 else v) for i, v in rows]
    spark = get_spark("perfbench-test", master="local[1]", shuffle_partitions=1)
    try:
        a, b = (digest.digest(spark.createDataFrame(r, "id long, score double"))
                for r in (rows, swapped))
    finally:
        spark.stop()
    assert a["rows"] == b["rows"] and a["hsum"] == b["hsum"]
    assert math.isclose(a["sums"]["score"], b["sums"]["score"], rel_tol=1e-12)
    assert not digest.matches(b, a)


def test_seeds_give_different_inputs(tmp_path):
    a = datagen.write_tables(str(tmp_path / "a"), 0.001, 1, ["lineitem"])
    b = datagen.write_tables(str(tmp_path / "b"), 0.001, 2, ["lineitem"])
    c = datagen.write_tables(str(tmp_path / "c"), 0.001, 1, ["lineitem"])
    read = lambda d: open(os.path.join(d, "lineitem.parquet"), "rb").read()  # noqa: E731
    assert read(a) == read(c)
    assert read(a) != read(b)


def test_probe_graphs_differ_by_seed():
    from ugfraud_spark.plans.session import get_spark
    from ugfraud_spark.sources import tables

    from perfbench import digest

    spark = get_spark("perfbench-test", master="local[2]", shuffle_partitions=2)
    try:
        d1, d2, d1b = (digest.digest(tables.synthetic_web_edges(spark, 20_000, 1_250, seed=s))
                       for s in (1, 2, 1))
    finally:
        spark.stop()
    assert d1 == d1b
    assert d1 != d2


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _cli(str(tmp_path), "--workload", "link", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
