"""Approximate betweenness centrality — Brandes (2001) from a fixed
pivot set, bounded depth.

Exact betweenness needs one SSSP per vertex (O(|V|·|E|)) — out of the
question on a web graph. The standard estimator (Brandes & Pich 2007;
Bader et al. 2007) runs Brandes' dependency accumulation from k sampled
pivots and sums the per-pivot dependencies; here the pivots are
deterministic (the k smallest vertex ids with out-degree > 0) so the
DuckDB oracle replays them verbatim, and the BFS is truncated at a
fixed ``depth`` like every other frontier kernel in this engine
(``bfs_hops``, ``bowtie``) — the unbounded-diameter tail is the same
documented impossibility-honesty trade as W2/bowtie, and on a web graph
the effective diameter is small (see ``effective_diameter``).

All k pivots advance in ONE DataFrame keyed by (pivot, id) — k
interleaved BFS sweeps cost k·|V| state rows, not k jobs:

  forward  t = 1..depth:  σ_t(v) = Σ_{(u,v)∈E, u∈F_{t-1}} σ(u)
                          for v unseen (path counts, exact BIGINT)
  backward L = depth-1..0: δ(v) = Σ_{(v,w)∈E, dist(w)=L+1}
                          (σ(v)/σ(w))·(1+δ(w))

and bc(v) = Σ_pivots δ_s(v) over non-pivot rows. The per-term float
shape (σv/σw)·(1+δw) is mirrored exactly by the oracle; σ stays
integer (BIGINT) throughout, so only the dependency sweep is floating
point, rounded once at the output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .superstep import cache_scope, colocate_edges

N_PIVOTS = 8
DEPTH = 5


def pivots(edges: DataFrame, k: int = N_PIVOTS) -> DataFrame:
    """(pivot): the k smallest vertex ids with out-degree > 0 — the
    deterministic stand-in for the estimator's sampled sources."""
    return (
        edges.select("src").distinct()
        .orderBy("src").limit(k)
        .select(F.col("src").alias("pivot"))
    )


def betweenness(edges: DataFrame, k: int = N_PIVOTS,
                depth: int = DEPTH) -> DataFrame:
    """edges(src, dst) directed → (id, bc): summed Brandes dependencies
    from the k deterministic pivots, BFS truncated at ``depth``.
    Pivot rows themselves are excluded (a source's dependency on its
    own paths is 0 by definition); vertices on no shortest path get 0.
    The output is checkpointed before the edge layout and the vertex
    set are released."""
    with cache_scope(edges.sparkSession) as keep:
        e = keep(colocate_edges(edges.select("src", "dst")))
        verts = keep(
            e.select(F.col("src").alias("id"))
            .unionAll(e.select(F.col("dst").alias("id")))
            .distinct()
            .repartition("id")
            .persist()
        )
        verts.count()

        piv = pivots(e, k)
        f0 = piv.select(
            "pivot", F.col("pivot").alias("id"),
            F.lit(0).alias("dist"), F.lit(1).cast("long").alias("sigma"),
        )
        vis = f0.localCheckpoint(eager=True)
        frontier = vis
        # forward: path-count BFS, all pivots interleaved in one frame
        for t in range(1, depth + 1):
            cand = (
                e.join(frontier.withColumnRenamed("id", "src")
                       .hint("shuffle_hash"), "src")
                .groupBy("pivot", F.col("dst").alias("id"))
                .agg(F.sum("sigma").alias("sigma"))
            )
            frontier = (
                cand.join(vis.select("pivot", "id"), ["pivot", "id"],
                          "left_anti")
                .select("pivot", "id", F.lit(t).alias("dist"), "sigma")
                .localCheckpoint(eager=True)
            )
            vis = vis.unionAll(frontier).localCheckpoint(eager=True)

        # backward: dependency accumulation level by level, deepest first.
        # Level `depth` has no successors inside the truncation → δ = 0.
        dl = (
            vis.where(F.col("dist") == depth)
            .select("pivot", "id", "sigma", F.lit(0.0).alias("delta"))
        )
        acc = dl.select("pivot", "id", "delta")
        for lvl in range(depth - 1, -1, -1):
            vl = vis.where(F.col("dist") == lvl).select("pivot", "id", "sigma")
            msg = (
                e.join(vl.withColumnRenamed("id", "src").hint("shuffle_hash"),
                       "src")
                .join(
                    dl.select("pivot", F.col("id").alias("dst"),
                              F.col("sigma").alias("w_sigma"),
                              F.col("delta").alias("w_delta")),
                    ["pivot", "dst"],
                )
                .groupBy("pivot", F.col("src").alias("id"))
                .agg(F.sum(
                    (F.col("sigma") / F.col("w_sigma"))
                    * (F.lit(1.0) + F.col("w_delta"))
                ).alias("d"))
            )
            dl = (
                vl.join(msg, ["pivot", "id"], "left")
                .select("pivot", "id", "sigma",
                        F.coalesce("d", F.lit(0.0)).alias("delta"))
                .localCheckpoint(eager=True)
            )
            acc = acc.unionAll(dl.select("pivot", "id", "delta"))

        bc = (
            acc.where(F.col("id") != F.col("pivot"))
            .groupBy("id").agg(F.sum("delta").alias("bc"))
        )
        return (
            verts.join(bc, "id", "left")
            .select("id", F.round(F.coalesce("bc", F.lit(0.0)), 6).alias("bc"))
            .localCheckpoint(eager=True)
        )
