"""CSR-block SpMV (north_star layout): equivalence with the join kernel,
hub salting behavior, and route/block invariants."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ugfraud_spark.operators import pagerank
from ugfraud_spark.operators.adjacency import build_adjacency_blocks, spmv_arrow
from ugfraud_spark.sources import tables


def _ranks(df):
    return {r["id"]: r["value"] for r in df.collect()}


def test_block_pagerank_matches_join_pagerank(spark, sf_small):
    e = tables.uni_edges_directed(spark, sf_small)
    a = _ranks(pagerank.pagerank(e, max_iter=5).state)
    b = _ranks(pagerank.pagerank_blocks(e, max_iter=5, n_blocks=8).state)
    assert set(a) == set(b)
    av = np.array([a[k] for k in sorted(a)])
    bv = np.array([b[k] for k in sorted(b)])
    assert np.allclose(av, bv, atol=1e-12)


def test_block_pagerank_matches_under_hub_salting(spark, sf_small):
    # hub_cap=5 forces every vertex with out-degree > 5 to split across
    # salt groups — results must be identical regardless
    e = tables.uni_edges_directed(spark, sf_small)
    a = _ranks(pagerank.pagerank(e, max_iter=3).state)
    b = _ranks(
        pagerank.pagerank_blocks(e, max_iter=3, n_blocks=8, hub_cap=5).state
    )
    av = np.array([a[k] for k in sorted(a)])
    bv = np.array([b[k] for k in sorted(b)])
    assert np.allclose(av, bv, atol=1e-12)


def test_salting_splits_hubs(spark):
    # star graph: one hub with 100 out-edges; cap 10 → ≥2 route rows
    hub = spark.range(100).select(
        F.lit(0).alias("src"), (F.col("id") + 1).alias("dst")
    )
    adj = build_adjacency_blocks(hub, n_blocks=16, hub_cap=10)
    n_routes = adj.routes.where(F.col("id") == 0).count()
    assert n_routes >= 2
    # every edge lands in exactly one block
    total = (
        adj.blocks.select(F.explode("dst_codes").alias("d")).count()
    )
    assert total == 100


def _join_mass(edges, state):
    """The join message step over (id, c) sources — the kernel the
    pagerank-family oracles gate."""
    return {r["id"]: r["mass"] for r in pagerank._contribs(
        edges, state.withColumn("out_deg", F.lit(1)), {"mass": F.col("c")}
    ).collect()}


def test_spmv_exact_small(spark):
    # A = {(0,2,2.0), (1,2,3.0), (0,1,1.0)}, c = {0: 10, 1: 100}
    edges = spark.createDataFrame(
        [(0, 2, 2.0), (1, 2, 3.0), (0, 1, 1.0)], "src long, dst long, weight double"
    )
    state = spark.createDataFrame([(0, 10.0), (1, 100.0)], "id long, c double")
    adj = build_adjacency_blocks(edges, n_blocks=4)
    out = {r["id"]: r["mass"] for r in spmv_arrow(adj, state).collect()}
    want = {2: 2.0 * 10 + 3.0 * 100, 1: 10.0}
    assert out == want
    assert _join_mass(edges.withColumnRenamed("weight", "w"), state) == want


def test_spmv_arrow_matches_join_step(spark, sf_small):
    """The applyInArrow block kernel must agree with the join message
    step edge-for-edge on a real graph with hub salting: 1e-12 (the
    float summation order inside a block may differ)."""
    e = tables.uni_edges_directed(spark, sf_small)
    adj = build_adjacency_blocks(e, n_blocks=8, hub_cap=50)
    st = e.select(F.col("src").alias("id")).distinct().select(
        "id", (F.col("id") % 7 + 1.0).alias("c")
    )
    a = _join_mass(e.select("src", "dst"), st)
    b = {r["id"]: r["mass"] for r in spmv_arrow(adj, st).collect()}
    assert set(a) == set(b)
    assert max(abs(a[k] - b[k]) for k in a) < 1e-12
