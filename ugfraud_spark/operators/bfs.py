"""BFS hop distances by iterative frontier relaxation (reference T4).

Reference: ``/root/reference/UGFraud/Detector/SpEagle.py:354-379`` uses a
driver-side BFS (visited set + queue) to build its schedule; the Spark
re-expression is the standard synchronous relaxation

    dist_0(seed) = 0
    dist_{t+1}(v) = min(dist_t(v), 1 + min_{(u,v)∈E} dist_t(u))

— per superstep one join edges⋈frontier + one groupBy(min), the same
gather-scatter shape as every other kernel here, so it shares the
superstep driver (checkpointing, metrics, resume). K iterations bound
the hop radius; vertices never reached are absent from the output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .superstep import SuperstepResult, iterate, sized_layout


def bfs_hops(edges_sym: DataFrame, seeds: DataFrame, *,
             iters: int = 6, checkpoint_every: int = 1,
             checkpoint_dir: str | None = None) -> DataFrame:
    """edges_sym(src, dst) directed-both-ways + seeds(id) → (id, dist).

    Fixed ``iters`` supersteps (oracle-parity mode: the DuckDB oracle
    unrolls the same recurrence); dist is exact for every vertex within
    ``iters`` hops of a seed.
    """
    with sized_layout(edges_sym.select("src", "dst"),
                      adaptive_off=False) as (edges_sym, _, _):
        state0 = seeds.select("id", F.lit(0).alias("dist"))

        def step(state: DataFrame, i: int) -> DataFrame:
            # frontier-delta relaxation: with unit hops, a vertex's dist is
            # final the round it is first reached, and a vertex first reached
            # at round i carries dist == i exactly — so the frontier is a
            # pure FILTER on the state (no old⋈new comparison join), and the
            # gather join sees |frontier| rows instead of the whole reached
            # set. Re-propagating already-settled vertices only re-derives
            # minima that already won; output is identical to the full
            # relaxation the oracle unrolls.
            relaxed = (
                edges_sym.join(
                    state.where(F.col("dist") == i)
                    .select(F.col("id").alias("src"), "dist").hint("shuffle_hash"),
                    "src",
                )
                .select(F.col("dst").alias("id"), (F.col("dist") + 1).alias("dist"))
            )
            return (
                state.unionAll(relaxed)
                .groupBy("id")
                .agg(F.min("dist").alias("dist"))
            )

        res: SuperstepResult = iterate(
            state0, step, max_iter=iters,
            checkpoint_every=checkpoint_every, checkpoint_dir=checkpoint_dir,
        )
    return res.state


def sssp_weighted(edges_w: DataFrame, seeds: DataFrame, *,
                  iters: int = 6, checkpoint_every: int = 1,
                  checkpoint_dir: str | None = None) -> DataFrame:
    """edges_w(src, dst, w) directed + seeds(id) → (id, dist): weighted
    single-source shortest paths by synchronous Bellman–Ford relaxation.

    The distributed analog of the reference's Dijkstra ``local_schedule``
    node selection (``SpEagle.py:389-422``; its exact heap-order schedule
    is a sequential sweep by construction, which the engine does not
    reproduce). K supersteps bound path LENGTH (edge count), matching
    the oracle's unrolled recurrence; dist is exact for every vertex whose
    shortest path uses ≤ ``iters`` edges.

    Frontier-delta relaxation generalized to weights: unit-hop BFS can
    filter the frontier on ``dist == round``, but a weighted dist is not
    determined by the round it settles — so the state carries ``upd``,
    the round that last IMPROVED the vertex, and the frontier is
    ``upd == round``. The reduce takes the lexicographic min of
    ``struct(dist, upd)``: an equal-dist offer loses to the older row
    (smaller upd), so ties never re-enter the frontier and propagation
    fires only for strict improvements — at every round the dist column
    equals full Bellman–Ford's (a non-frontier vertex's offer was already
    made, verbatim, the round after it last improved; min is idempotent),
    which is what the DuckDB oracle unrolls. Per superstep: one
    |frontier|⋈|E| shuffle-hash gather + one groupBy min — the edge
    payload is colocated once and never moves again.
    """
    with sized_layout(edges_w.select("src", "dst", "w"),
                      adaptive_off=False) as (edges_w, _, _):
        state0 = seeds.select(
            "id", F.lit(0).cast("long").alias("dist"), F.lit(0).alias("upd"))

        def step(state: DataFrame, i: int) -> DataFrame:
            relaxed = (
                edges_w.join(
                    state.where(F.col("upd") == i)
                    .select(F.col("id").alias("src"), "dist").hint("shuffle_hash"),
                    "src",
                )
                .select(F.col("dst").alias("id"),
                        (F.col("dist") + F.col("w")).alias("dist"),
                        F.lit(i + 1).alias("upd"))
            )
            return (
                state.unionAll(relaxed)
                .groupBy("id")
                .agg(F.min(F.struct("dist", "upd")).alias("s"))
                .select("id", F.col("s.dist").alias("dist"),
                        F.col("s.upd").alias("upd"))
            )

        res: SuperstepResult = iterate(
            state0, step, max_iter=iters,
            checkpoint_every=checkpoint_every, checkpoint_dir=checkpoint_dir,
        )
    return res.state.select("id", "dist")
