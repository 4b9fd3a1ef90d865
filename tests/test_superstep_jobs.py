"""Superstep loop fixed costs: Spark jobs per superstep, residuals
observed inside the checkpoint job (PageRank's l1, connected
components' Σlbl, SpEagle's Σ|Δmsg|, ``pagerank_dangling``'s
dangling mass), one job per link-analysis
half-step (HITS, eigenvector centrality, SALSA, BiRank), per-step
metrics, and the CSR-block cogroup's executed width.

Results are pinned elsewhere (the pagerank-family, GANG, ZooBP and
link-analysis oracle gates); these tests pin the mechanisms, so a
refactor that brings back the second residual job, a per-half-step
persist or collect, or the n_blocks-wide cogroup fails here even
though every output stays the same."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ugfraud_spark.operators import (adjacency, birank, components, hits,
                                    pagerank, salsa, speagle, superstep)
from ugfraud_spark.operators.superstep import (
    LAYOUT_ROWS_PER_PARTITION,
    l1_residual,
)


def _loop_jobs(monkeypatch, spark, group: str, module=pagerank) -> list[int]:
    """Wrap ``module.iterate`` so only the loop's jobs land in
    ``group``; returns the (filled after the run) list of their ids."""
    sc = spark.sparkContext
    real = module.iterate
    jobs: list[int] = []

    def grouped(*args, **kwargs):
        sc.setJobGroup(group, group)
        try:
            res = real(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store is async
        # the group holds every loop job so far (a kernel may loop twice)
        jobs[:] = sc.statusTracker().getJobIdsForGroup(group)
        return res

    monkeypatch.setattr(module, "iterate", grouped)
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
        assert m["aqe"] is False  # pagerank's sized_plan turns AQE off
    assert all("residual" not in m for m in res.metrics)
    walls = [m["wall_s"] for m in res.metrics]
    assert walls == sorted(walls)


def test_converging_metrics_carry_residual_and_layout(spark):
    res = pagerank.pagerank(_skewed_edges(spark), max_iter=2, tol=1e-15)
    assert [m["residual"] for m in res.metrics] == res.residuals
    assert all(m["num_partitions"] >= 1 and m["aqe"] is False
               for m in res.metrics)


def _dangling_edges(spark):
    # dst 200..204 are never a src: their mass dangles every superstep
    return _skewed_edges(spark).unionAll(spark.range(5).select(
        F.col("id").alias("src"), (F.col("id") + 200).alias("dst")))


@pytest.mark.parametrize("tol", [None, 1e-15])
def test_pagerank_dangling_runs_one_job_per_superstep(spark, monkeypatch,
                                                      tol):
    """The dangling mass is observed inside the checkpoint job and read
    as a literal by the next superstep: no side job per superstep."""
    jobs = _loop_jobs(monkeypatch, spark, f"test-dangling-loop-{tol}")
    res = pagerank.pagerank_dangling(_dangling_edges(spark), max_iter=4,
                                     tol=tol)
    assert res.iterations == 4
    assert len(jobs) == 4, jobs
    total = res.state.agg(F.sum("value")).first()[0]
    assert total == pytest.approx(1.0, abs=1e-12)


def test_pagerank_dangling_reads_a_planned_superstep(spark):
    """With ``checkpoint_every=2`` every other superstep is only
    planned, so the next one sums its dangling mass in a job of its
    own; the ranks equal the checkpoint-every-step run's."""
    edges = _dangling_edges(spark)
    every = dict(pagerank.pagerank_dangling(edges, max_iter=5)
                 .state.collect())
    other = dict(pagerank.pagerank_dangling(edges, max_iter=5,
                                            checkpoint_every=2)
                 .state.collect())
    assert other.keys() == every.keys()
    assert all(other[v] == pytest.approx(every[v], rel=1e-12) for v in every)


def _join_l1(old, new) -> float:
    """The two-action reference: Σ|new − old| over an inner join on id
    of two materialized states."""
    j = new.alias("n").join(old.alias("o"), on="id", how="inner")
    row = j.select(
        F.sum(F.abs(F.col("n.value") - F.col("o.value"))).alias("r")
    ).collect()[0]
    return float(row["r"] if row["r"] is not None else 0.0)


def _observed(residual_fn, old, new):
    frame, read = residual_fn(old, new)
    out = frame.localCheckpoint(eager=True)
    return out, read()


def test_fused_l1_matches_join_residual(spark):
    # ids 0-4 only in old, 10-14 only in new: neither may contribute
    old = spark.createDataFrame(
        [(i, 0.5 * i) for i in range(10)], "id long, value double")
    new = spark.createDataFrame(
        [(i, 1.0 + i * i, i % 3) for i in range(5, 15)],
        "id long, value double, out_deg long")
    out, r = _observed(l1_residual, old, new)
    want = sum(abs((1.0 + i * i) - 0.5 * i) for i in range(5, 10))
    assert r == pytest.approx(want, rel=1e-15)
    assert r == pytest.approx(_join_l1(old, new), rel=1e-15)
    assert out.columns == new.columns
    assert sorted(out.collect()) == sorted(new.collect())

    disjoint = spark.createDataFrame([(99, 1.0)], "id long, value double")
    _, r0 = _observed(l1_residual, old, disjoint)
    assert r0 == 0.0 == _join_l1(old, disjoint)


def test_connected_components_one_job_per_superstep(spark, monkeypatch):
    # a 40-vertex path needs more doubling rounds than one superstep runs
    edges = spark.range(39).select(F.col("id").alias("a"),
                                   (F.col("id") + 1).alias("b"))
    jobs = _loop_jobs(monkeypatch, spark, "test-cc-loop", components)
    info: dict = {}
    cc = components.connected_components(edges, info=info)
    assert info["converged"]
    steps = info["iterations"] // components.ROUNDS_PER_STEP
    assert steps >= 2
    assert len(jobs) == steps, jobs
    assert {r["component"] for r in cc.collect()} == {0}


LINK_ANALYSIS = {
    # kernel, its module, supersteps (half-steps) for 3 iterations
    "hits": (lambda e: hits.hits(e, iters=3), hits, 6),
    "eigenvector_centrality": (
        lambda e: hits.eigenvector_centrality(e, iters=3), hits, 3),
    # two chains (authority, hub) of 2 half-steps per iteration
    "salsa": (lambda e: salsa.salsa(e, iters=3), salsa, 12),
    "birank": (lambda e: birank.birank(
        e.select("src", (F.col("dst") + 1000).alias("dst"),
                 F.lit(1.0).alias("weight")), iters=3), birank, 6),
}


@pytest.mark.parametrize("name", sorted(LINK_ANALYSIS))
def test_link_analysis_runs_one_job_per_half_step(spark, monkeypatch, name):
    """HITS, eigenvector centrality, SALSA and BiRank run every
    half-step as one ``iterate`` superstep of one Spark job: the HITS
    norm is observed inside the checkpoint job, and no half-step
    persists, collects or broadcasts on the side."""
    kernel, module, steps = LINK_ANALYSIS[name]
    jobs = _loop_jobs(monkeypatch, spark, f"test-{name}-loop", module)
    assert kernel(_skewed_edges(spark)).count() > 0
    assert len(jobs) == steps, jobs


def _speagle_inputs(spark):
    e = spark.range(600).select(
        (F.col("id") % 41).alias("src"),
        (1000 + (F.col("id") * 7) % 29).alias("dst"),
    ).distinct()

    def prior(key, mod):
        return ((key % mod + 1) / (mod + 2.0)).alias("prior")

    up = e.select(F.col("src").alias("id")).distinct()
    pp = e.select(F.col("dst").alias("id")).distinct()
    return (e, up.select("id", prior(F.col("id"), 7)),
            pp.select("id", prior(F.col("id"), 5)),
            e.select("src", "dst", prior(F.col("src") + F.col("dst"), 3)))


def test_converging_speagle_runs_fixed_mode_jobs(spark, monkeypatch):
    inputs = _speagle_inputs(spark)
    fixed_jobs = _loop_jobs(monkeypatch, spark, "test-speagle-fixed", speagle)
    fixed, *_ = speagle.speagle(*inputs, max_iter=3)
    monkeypatch.undo()
    conv_jobs = _loop_jobs(monkeypatch, spark, "test-speagle-conv", speagle)
    conv, *_ = speagle.speagle(*inputs, max_iter=3, tol=0.0)
    assert fixed.iterations == conv.iterations == 3
    assert len(conv.residuals) == 3 and all(r > 0 for r in conv.residuals)
    assert len(conv_jobs) == len(fixed_jobs), (conv_jobs, fixed_jobs)
    assert sorted(conv.state.collect()) == sorted(fixed.state.collect())


@pytest.mark.parametrize("max_iter", [0, 2])
def test_speagle_runs_no_job_after_its_loop(spark, monkeypatch, max_iter):
    """``iterate`` leaves its last state checkpointed (and ``state0`` is
    checkpointed before the loop), so nothing after the loop runs a
    Spark job: the returned state is the loop's own checkpoint."""
    sc = spark.sparkContext
    real = speagle.iterate
    out: dict = {}

    def then_group(*args, **kwargs):
        out["loop"] = real(*args, **kwargs)
        sc.setJobGroup("test-speagle-after", "test-speagle-after")
        return out["loop"]

    monkeypatch.setattr(speagle, "iterate", then_group)
    try:
        res, *beliefs = speagle.speagle(*_speagle_inputs(spark),
                                        max_iter=max_iter)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store is async
    assert sc.statusTracker().getJobIdsForGroup("test-speagle-after") == []
    assert res is out["loop"] and res.iterations == max_iter
    assert all(b.count() > 0 for b in beliefs)


def test_observed_speagle_residual_matches_join(spark, monkeypatch):
    """The observed Σ|Δmsg| equals the (src, dst) join of the two
    checkpointed states it replaced."""
    msgs = ["ur0", "ur1", "ru0", "ru1", "rp0", "rp1", "pr0", "pr1"]
    states = []
    real = speagle.iterate

    def capture(state0, step, residual_fn, **kw):
        def rf(old, new):
            states.append(old)
            return residual_fn(old, new)
        return real(state0, step, rf, **kw)

    monkeypatch.setattr(speagle, "iterate", capture)
    res, *_ = speagle.speagle(*_speagle_inputs(spark), max_iter=4, tol=0.0)
    states.append(res.state)
    assert len(states) == len(res.residuals) + 1 == 5
    delta = sum(F.abs(F.col(f"n.{c}") - F.col(f"o.{c}")) for c in msgs)
    for r, old, new in zip(res.residuals, states, states[1:]):
        want = (new.alias("n").join(old.alias("o"), ["src", "dst"])
                .select(F.sum(delta)).collect()[0][0])
        assert r == pytest.approx(want, rel=1e-12, abs=0.0)


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
    real_layout = superstep.colocate_edges_sized

    def layout(*args, **kwargs):
        laid.append(real_layout(*args, **kwargs))
        return laid[-1]

    # sized_layout calls it through the module's globals
    monkeypatch.setattr(superstep, "colocate_edges_sized", layout)
    jobs = _loop_jobs(monkeypatch, spark, f"test-blocks-{n_blocks}")
    res = pagerank.pagerank_blocks(edges, max_iter=2, n_blocks=n_blocks)
    assert res.iterations == 2
    assert built[0].n_blocks == n_blocks
    assert built[0].blocks.rdd.getNumPartitions() == width
    # the kernel's scope released the edge layout and the blocks
    for frame in (laid[0][0], built[0].blocks, built[0].routes):
        level = frame.storageLevel
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
