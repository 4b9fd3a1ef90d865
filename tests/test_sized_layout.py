"""Round-6 optimization internals: size-derived layouts and scoped conf.

These pin the NEW mechanisms (not results — every consumer query stays
oracle-gated): the sketch-partition sizing rule, the measured-size
colocate variant, the conf restore discipline of ``sized_plan`` (a
raise inside a loop must never leak AQE-off or a shrunken shuffle
width into the rest of the session — the ADVICE-r3 failure mode),
that nothing a sized kernel returns runs outside its scope, and that
the scope releases what the kernel cached and nothing the caller
cached."""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from ugfraud_spark.operators import (betweenness, bfs, birank, components,
                                    fraudar, gang, hits, labelprop, pagerank,
                                    salsa, triangles, walks, zoobp)
from ugfraud_spark.operators.linalg import sketch_partitions
from ugfraud_spark.operators.superstep import (
    LAYOUT_ROWS_PER_PARTITION,
    _vertex_base,
    colocate_edges_sized,
    sized_plan,
)


def test_sketch_partitions_rule():
    # bench-scale case from the measured sweep: 600k edges, 20k cols,
    # l=136 → traffic rule ~9, rows rule ~10 → 9
    assert sketch_partitions(600_000, 20_000, 136, 32) == 9
    # small-blob case (fbox l=66): traffic rule alone would say 18+,
    # the rows cap holds it in the measured 6-10 basin
    assert sketch_partitions(600_000, 20_000, 66, 32) <= 10
    # conf saturation: huge edge side → the session conf rules
    assert sketch_partitions(10**9, 20_000, 136, 32) == 32
    # floor: tiny inputs never go below one partition
    assert sketch_partitions(10, 10, 4, 32) == 1


def test_colocate_edges_sized_shrinks_and_preserves_rows(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        edges = spark.range(1000).select(
            (F.col("id") % 50).alias("src"), (F.col("id") % 97).alias("dst")
        )
        out, m = colocate_edges_sized(edges)
        # 1000 rows ≪ 8 × LAYOUT_ROWS_PER_PARTITION → shrunk to 1
        assert m == 1
        assert out.rdd.getNumPartitions() == 1
        assert out.count() == 1000
        assert sorted(r["src"] for r in out.collect()) == sorted(
            r["src"] for r in edges.collect()
        )
        out.unpersist()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_colocate_edges_sized_conf_saturated(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        n = 2 * LAYOUT_ROWS_PER_PARTITION + 10  # above the conf cap
        edges = spark.range(n).select(
            F.col("id").alias("src"), F.col("id").alias("dst")
        )
        out, m = colocate_edges_sized(edges)
        assert m == 2  # capped at conf — identical to plain colocate
        assert out.rdd.getNumPartitions() == 2
        out.unpersist()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_scoped_plan_contexts_restore_on_raise(spark):
    aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    n0 = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError):
        with sized_plan(spark, 3):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == n0
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe0

    # adaptive_off=False variant scopes ONLY the width
    with sized_plan(spark, 3, adaptive_off=False):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
        assert spark.conf.get("spark.sql.adaptive.enabled") == aqe0
    assert spark.conf.get("spark.sql.shuffle.partitions") == n0


def _cached(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


RAISING = {
    # the empty-edge ValueError is raised inside the kernel's scope,
    # after the edge layout is cached
    "hits": lambda spark: hits.hits(
        spark.createDataFrame([], "src long, dst long")),
    "eigenvector_centrality": lambda spark: hits.eigenvector_centrality(
        spark.createDataFrame([], "src long, dst long")),
    # no seed in the graph: raised after the layout and the kept vertex
    # base are cached
    "personalized_pagerank": lambda spark: pagerank.personalized_pagerank(
        spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long"),
        spark.createDataFrame([(99,)], "id long")),
}


@pytest.mark.parametrize("name", sorted(RAISING))
def test_kernel_raise_restores_conf(spark, name):
    """A kernel that raises inside its scope restores the width, AQE
    and the session's cache as it found them."""
    aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    n0 = spark.conf.get("spark.sql.shuffle.partitions")
    cached0 = _cached(spark)
    with pytest.raises(ValueError):
        RAISING[name](spark)
    assert spark.conf.get("spark.sql.shuffle.partitions") == n0
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe0
    assert _cached(spark) == cached0


def _tiny_inputs(spark) -> SimpleNamespace:
    """A 40-vertex 4-regular graph (so k-cores exist) as directed
    ``e``, undirected ``ab`` and symmetric ``sym`` edges; a bipartite
    signed review graph ``bip`` with ``priors``; one BFS seed."""
    pairs = [(i, (i + d) % 40) for d in (1, 2) for i in range(40)]
    e = spark.createDataFrame(pairs, "src long, dst long")
    bip = spark.range(200).select(
        (F.col("id") % 23).alias("src"), (100 + F.col("id") % 7).alias("dst"),
        (1 + F.col("id") % 2).cast("int").alias("sign")).distinct()
    return SimpleNamespace(
        e=e,
        ab=e.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        sym=e.unionAll(e.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst"))),
        bip=bip,
        priors=bip.select(F.col("src").alias("id")).unionAll(
            bip.select(F.col("dst").alias("id"))).distinct().select(
            "id", ((F.col("id") % 10) / 10.0).alias("prior")),
        seeds=spark.createDataFrame([(0,)], "id long"),
    )


KERNELS = {
    "pagerank": lambda t: pagerank.pagerank(t.e, max_iter=3).state,
    "connected_components": lambda t: components.connected_components(t.ab),
    "lpa": lambda t: labelprop.lpa(t.ab),
    "label_spreading": lambda t: labelprop.label_spreading(t.ab),
    "gang": lambda t: gang.gang(t.bip, t.priors).state,
    "zoobp": lambda t: zoobp.zoobp(t.bip, t.priors).state,
    "bfs_hops": lambda t: bfs.bfs_hops(t.sym, t.seeds),
    "sssp_weighted": lambda t: bfs.sssp_weighted(
        t.e.withColumn("w", F.col("src") % 3 + 1), t.seeds),
    "hits": lambda t: hits.hits(t.e),
    "eigenvector_centrality": lambda t: hits.eigenvector_centrality(t.e),
    "salsa": lambda t: salsa.salsa(t.e),
    "birank": lambda t: birank.birank(t.bip.withColumn("weight", F.lit(1.0))),
    "wl_refinement": lambda t: labelprop.wl_refinement(t.ab),
    "kcore": lambda t: hits.kcore(t.sym, k=3),
    "coreness": lambda t: hits.coreness(t.sym),
    # finish_max_edges=0: the Spark peel, not the driver finisher
    "bulk_peel": lambda t: fraudar.bulk_peel(t.bip, finish_max_edges=0),
}


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_kernel_output_runs_at_sized_width(spark, name):
    """A sized kernel's output runs nothing at the session width: with
    the session at 8 partitions (AQE coalescing off, so 8 stays 8) and
    a tiny input (m = 1), no stage of a job that consumes the output
    may run 8 tasks — a shuffle left lazy in the returned frame would
    run after the kernel's sized_plan scope, at the session width."""
    sc = spark.sparkContext
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled")
    prev = [spark.conf.get(k) for k in keys]
    group = f"test-sized-output-{name}"
    try:
        spark.conf.set(keys[0], "8")
        spark.conf.set(keys[1], "false")
        out = KERNELS[name](_tiny_inputs(spark))
        sc.setJobGroup(group, group)
        try:
            assert out.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    finally:
        for k, v in zip(keys, prev):
            spark.conf.set(k, v)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store is async
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert jobs
    tasks = [tracker.getStageInfo(sid).numTasks
             for j in jobs for sid in tracker.getJobInfo(j).stageIds]
    assert max(tasks) < 8, tasks


PAGERANK_FAMILY = {
    "pagerank": KERNELS["pagerank"],
    "personalized_pagerank": lambda t: pagerank.personalized_pagerank(
        t.e, t.seeds, max_iter=3).state,
    "teleport_pagerank": lambda t: pagerank.teleport_pagerank(
        t.e, t.seeds.withColumn("w", F.lit(1.0)), max_iter=3).state,
    "pagerank_from": lambda t: pagerank.pagerank_from(
        t.e, t.seeds.withColumn("value", F.lit(1.0)), max_iter=3).state,
    "topic_ppr": lambda t: pagerank.topic_ppr(
        t.e, t.seeds.withColumn("topic", F.lit(0)), n_topics=1,
        max_iter=3).state,
    "pagerank_dangling": lambda t: pagerank.pagerank_dangling(
        t.e, max_iter=3).state,
    "katz": lambda t: pagerank.katz(t.e, max_iter=3).state,
    "pagerank_blocks": lambda t: pagerank.pagerank_blocks(
        t.e, max_iter=3).state,
    "pagerank_weighted": lambda t: pagerank.pagerank_weighted(
        t.e.withColumn("weight", F.col("src") % 3 + 1), max_iter=3).state,
}


# kernels that run at the session width but cache an edge or neighbor
# layout inside ``cache_scope``
UNSIZED = {
    "betweenness": lambda t: betweenness.betweenness(t.e),
    "triangles_per_vertex": lambda t: triangles.triangles_per_vertex(t.ab),
    "random_walks": lambda t: walks.random_walks(t.e),
    "node2vec_walks": lambda t: walks.node2vec_walks(t.e),
}


@pytest.mark.parametrize(
    "name", sorted(KERNELS.keys() | PAGERANK_FAMILY.keys() | UNSIZED.keys()))
def test_kernel_releases_what_it_persisted(spark, name):
    """A kernel's scope releases every frame it persisted (edge
    layouts, vertex bases, CSR blocks, per-round deltas) when it
    returns: one call on a fresh input leaves the session's cache as
    it found it, and the output still reads."""
    kernel = {**KERNELS, **PAGERANK_FAMILY, **UNSIZED}[name]
    inputs = _tiny_inputs(spark)
    before = _cached(spark)
    out = kernel(inputs)
    assert _cached(spark) == before
    assert out.count() > 0


def test_kernel_keeps_what_the_caller_cached(spark):
    """The cache matches plans, not frame objects: a frame the caller
    cached before the call survives it, also when the kernel's own
    ``persist()`` of an equal plan was a no-op. Here the caller holds
    the input, pagerank's exact edge layout (one partition, the width
    the tiny input sizes to) and its vertex base."""
    t = _tiny_inputs(spark)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        layout = t.e.select("src", "dst").repartition(1, "src")
        mine = [t.e.persist(), layout.persist(),
                _vertex_base(layout).persist()]
        for f in mine:
            f.count()
        before = _cached(spark)
        ranks = pagerank.pagerank(t.e, max_iter=3).state
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    try:
        assert _cached(spark) == before
        for f in mine:
            assert f.storageLevel.useMemory, f.storageLevel
        assert ranks.count() == 40
    finally:
        for f in reversed(mine):
            f.unpersist()
