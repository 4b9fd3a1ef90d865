"""Superstep loop fixed costs: Spark jobs per superstep, the residual
fused into the checkpoint job, per-step metrics, and the CSR-block
cogroup's executed width.

Results are pinned elsewhere (the pagerank-family, GANG and ZooBP
oracle gates); these tests pin the mechanisms, so a refactor that
brings back the second residual job or the n_blocks-wide cogroup fails
here even though every output stays the same."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ugfraud_spark.operators import adjacency, pagerank
from ugfraud_spark.operators.superstep import (
    LAYOUT_ROWS_PER_PARTITION,
    _checkpoint_l1,
    l1_residual,
)


def _loop_jobs(monkeypatch, spark, group: str) -> list[int]:
    """Wrap ``pagerank.iterate`` so only the loop's jobs land in
    ``group``; returns the (filled after the run) list of their ids."""
    sc = spark.sparkContext
    real = pagerank.iterate
    jobs: list[int] = []

    def grouped(*args, **kwargs):
        sc.setJobGroup(group, group)
        try:
            res = real(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))
        return res

    monkeypatch.setattr(pagerank, "iterate", grouped)
    return jobs


def _skewed_edges(spark, n: int = 3000):
    # in-degrees differ per vertex, so the residual stays > 0 for many steps
    return spark.range(n).select(
        (F.col("id") % 97).alias("src"),
        ((F.col("id") * F.col("id")) % 89).alias("dst"),
    ).where("src != dst")


def test_converging_superstep_runs_one_job(spark, monkeypatch):
    jobs = _loop_jobs(monkeypatch, spark, "test-l1-loop")
    res = pagerank.pagerank(_skewed_edges(spark), max_iter=3, tol=1e-15)
    assert res.iterations == 3 and not res.converged
    assert all(r > 0 for r in res.residuals)
    assert len(jobs) == 3, jobs


def test_fixed_mode_metrics_add_no_job(spark, monkeypatch):
    jobs = _loop_jobs(monkeypatch, spark, "test-fixed-loop")
    res = pagerank.pagerank(_skewed_edges(spark), max_iter=3,
                            checkpoint_every=2)
    # checkpoints after supersteps 2 and 3 (the last), nothing else
    assert len(jobs) == 2, jobs
    assert [m["superstep"] for m in res.metrics] == [1, 2, 3]
    assert "num_partitions" not in res.metrics[0]
    for m in res.metrics[1:]:
        assert m["num_partitions"] >= 1
        assert m["aqe"] is False  # pagerank runs its loop under fixed_plan
    assert all("residual" not in m for m in res.metrics)
    walls = [m["wall_s"] for m in res.metrics]
    assert walls == sorted(walls)


def test_converging_metrics_carry_residual_and_layout(spark):
    res = pagerank.pagerank(_skewed_edges(spark), max_iter=2, tol=1e-15)
    assert [m["residual"] for m in res.metrics] == res.residuals
    assert all(m["num_partitions"] >= 1 and m["aqe"] is False
               for m in res.metrics)


def test_fused_l1_matches_join_residual(spark):
    # ids 0-4 only in old, 10-14 only in new: neither may contribute
    old = spark.createDataFrame(
        [(i, 0.5 * i) for i in range(10)], "id long, value double")
    new = spark.createDataFrame(
        [(i, 1.0 + i * i, i % 3) for i in range(5, 15)],
        "id long, value double, out_deg long")
    out, r = _checkpoint_l1(old, new)
    want = sum(abs((1.0 + i * i) - 0.5 * i) for i in range(5, 10))
    assert r == pytest.approx(want, rel=1e-15)
    assert r == pytest.approx(l1_residual(old, new), rel=1e-15)
    assert out.columns == new.columns
    assert sorted(out.collect()) == sorted(new.collect())

    disjoint = spark.createDataFrame([(99, 1.0)], "id long, value double")
    _, r0 = _checkpoint_l1(old, disjoint)
    assert r0 == 0.0 == l1_residual(old, disjoint)


@pytest.mark.parametrize("n_blocks,width", [(8, 3), (2, 2)])
def test_block_cogroup_runs_at_sized_width(spark, monkeypatch, n_blocks,
                                           width):
    """Every stage of the block loop — the Python cogroup included —
    executes ``min(m, n_blocks)`` tasks, where ``m`` is the sized edge
    layout's width (3 here, under a session width of 4)."""
    n_edges = 2 * LAYOUT_ROWS_PER_PARTITION + 1000
    # a different graph per case: equal plans would reuse the previous
    # case's caches, laid out at that case's width
    edges = spark.range(n_edges).select(
        (F.col("id") % 5000).alias("src"),
        ((F.col("id") * 7919 + n_blocks) % 4999).alias("dst"),
    )
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) > width
    built = []
    real_build = adjacency.build_adjacency_blocks

    def build(*args, **kwargs):
        built.append(real_build(*args, **kwargs))
        return built[-1]

    monkeypatch.setattr(adjacency, "build_adjacency_blocks", build)
    laid = []
    real_layout = pagerank.colocate_edges_sized

    def layout(*args, **kwargs):
        laid.append(real_layout(*args, **kwargs))
        return laid[-1]

    monkeypatch.setattr(pagerank, "colocate_edges_sized", layout)
    jobs = _loop_jobs(monkeypatch, spark, f"test-blocks-{n_blocks}")
    res = pagerank.pagerank_blocks(edges, max_iter=2, n_blocks=n_blocks)
    assert res.iterations == 2
    assert built[0].n_blocks == n_blocks
    assert built[0].blocks.rdd.getNumPartitions() == width
    # the |E| edge layout is released once blocks and base are built
    level = laid[0][0].storageLevel
    assert not (level.useMemory or level.useDisk), level

    tracker = spark.sparkContext.statusTracker()
    tasks = set()
    for jid in jobs:
        for sid in tracker.getJobInfo(jid).stageIds:
            info = tracker.getStageInfo(sid)
            # a job also lists the skipped stages of its cached inputs'
            # lineage (the layout build); only the executed ones count
            if info is not None and info.numCompletedTasks > 0:
                tasks.add(info.numTasks)
    assert tasks == {width}, tasks
    built[0].blocks.unpersist()
    built[0].routes.unpersist()
