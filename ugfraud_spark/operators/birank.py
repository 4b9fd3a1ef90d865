"""BiRank over the user-product bipartite review graph.

He-Gao-Kan-Liu-Sugiyama, *BiRank: Towards Ranking on Bipartite
Graphs* (TKDE 2017): the symmetrically-normalized smoothing iteration

    p ← α·Sᵀu + (1−α)·p⁰,   u ← α·S p + (1−α)·u⁰,
    S_ij = w_ij / sqrt(d_i · d_j)

— the bipartite analog of personalized PageRank, and the ranking the
paper motivates with exactly this engine's domain (review/rating
graphs, where HITS's unnormalized mutual reinforcement lets hub mass
explode and plain PageRank ignores the two-sidedness). Priors are the
house hash priors (sources.tables.vertex_priors — the stand-in for
the reference's priors.pkl, UGFraud/Utils/helper.py).

Scale shape: the normalized edge weight 1/sqrt(d_src·d_dst) is
computed ONCE from the two sides' vertex bases (id, out_deg = weighted
degree, x0 = prior) and laid out in both directions at the sized width.
Each half-step is one ``iterate`` superstep: the shared message step
``_contribs`` (edge⋈state on src, map-side-combined ``groupBy(dst)``
sum, weighted by the normalized edge) joined onto the receiving side's
base — the PageRank superstep's shuffle class, alternating sides, one
Spark job per half-step with AQE off. Float discipline: raw double
arithmetic through the loop, ROUND 6 once at the end (the pagerank
contract); the oracle unrolls the same recurrence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import vertex_priors
from .superstep import (
    _contribs,
    colocate_edges,
    iterate,
    sized_layout,
)

BIRANK_ALPHA = 0.85
BIRANK_ITERS = 5


def birank(bip: DataFrame, alpha: float = BIRANK_ALPHA,
           iters: int = BIRANK_ITERS) -> DataFrame:
    """bip(src, dst, weight) → (id, birank): both sides' final scores
    (users = src namespace, products = dst namespace) after ``iters`` ≥
    1 rounds, 6dp-rounded. The result projects the loop's last two
    checkpointed states; the ``sized_layout`` scope releases every
    frame the kernel persisted."""
    with sized_layout(bip.select("src", "dst", F.col("weight")
                                 .cast("double").alias("w"))) as (e, _, keep):
        users, prods = keep(_side(e, "src")), keep(_side(e, "dst"))
        fwd = keep(colocate_edges(
            e.join(users.select(F.col("id").alias("src"),
                                F.col("out_deg").alias("du")), "src")
            .join(prods.select(F.col("id").alias("dst"),
                               F.col("out_deg").alias("dp")), "dst")
            .select("src", "dst",
                    (F.col("w") / F.sqrt(F.col("du") * F.col("dp")))
                    .alias("w"))))
        rev = keep(colocate_edges(fwd.select(F.col("dst").alias("src"),
                                             F.col("src").alias("dst"), "w")))
        sides = [(fwd, prods), (rev, users)]
        seen = []

        def step(state: DataFrame, i: int) -> DataFrame:
            edges, base = sides[i % 2]
            seen.append(state)
            return (
                _contribs(edges, state, {"m": F.col("x")})
                .join(base.hint("shuffle_hash"), "id")
                .select("id", "out_deg", "x0",
                        (F.lit(float(alpha)) * F.col("m")
                         + F.lit(1.0 - alpha) * F.col("x0")).alias("x"))
            )

        u = iterate(users.withColumn("x", F.col("x0")), step,
                    max_iter=2 * iters, checkpoint_every=1).state
    return (
        u.select("id", F.round("x", 6).alias("birank"))
        .unionAll(seen[-1].select("id", F.round("x", 6).alias("birank")))
    )


def _side(e: DataFrame, key: str) -> DataFrame:
    """(id, out_deg, x0) for one side: its vertices under ``key``, their
    weighted degree and their hash prior."""
    d = e.groupBy(F.col(key).alias("id")).agg(F.sum("w").alias("out_deg"))
    return d.join(vertex_priors(d), "id").select(
        "id", "out_deg", F.col("prior").alias("x0")).persist()
