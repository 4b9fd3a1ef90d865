"""SALSA hubs & authorities (Lempel & Moran, WWW'00) — the random-walk
counterpart of HITS.

Not in the reference (UGFraud's spectral family plays the analogous
role — see ``operators/hits.py``); included because the north rule's
deliverable is a general link-graph engine over web pages, and SALSA is
the link-analysis kernel production web search actually shipped (e.g.
as a query-time neighborhood ranker): it resists the tightly-knit-
community (TKC) effect that makes HITS score a dense spam farm above a
genuinely endorsed page.

Authority chain: a two-step random walk that from authority ``v`` steps
*backward* along a uniformly-chosen in-link to a hub, then *forward*
along a uniformly-chosen out-link to the next authority:

    hm_{t}(u) = Σ_{(u,v)∈E} a_t(v) / ind(v)
    a_{t+1}(w) = Σ_{(u,w)∈E} hm_t(u) / outd(u)

and the hub chain is its mirror (forward first, then backward). Both
are stochastic, so **L1 mass is preserved exactly and no per-half-step
normalization exists** — unlike HITS there is zero scalar aggregation
inside the loop; each iteration is four co-partitioned SpMV joins and
nothing else (the known closed form — within one connected bipartite
support component the stationary authority weight is proportional to
in-degree — is pinned as a property test).

Plan shape: each chain is ``iterate`` over half-step supersteps —
the shared message step ``_contribs`` sending x / out_deg (the
PageRank contribution) over the edge layout of its direction, joined
onto that direction's vertex base for the next direction's out-degree.
The edge frames are hash-partitioned once on the message-join key and
the two vertex bases (out- and in-degree, from ``_vertex_base``) on id,
all at the sized width, so only the message side shuffles. One Spark
job per half-step, AQE off; no collect inside the loop — the iteration
count is a fixed hyperparameter the DuckDB oracle unrolls step for
step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .superstep import (
    _contribs,
    _vertex_base,
    colocate_edges,
    iterate,
    sized_layout,
)


def salsa(edges: DataFrame, iters: int = 5) -> DataFrame:
    """edges(src, dst) directed → (id, hub, authority).

    Authority/hub scores are each a probability distribution over the
    vertices with in-/out-degree > 0 (L1 = 1); vertices outside a
    side's support get exactly 0.0 for that side. The output is
    materialized inside the ``sized_layout`` scope, which releases
    every frame the kernel persisted.
    """
    with sized_layout(edges.select("src", "dst")) as (fwd, _, keep):
        rev = keep(colocate_edges(fwd.select(F.col("dst").alias("src"),
                                             F.col("src").alias("dst"))))
        # (id, out_deg): out- resp. in-degree, NULL outside the support
        out_b = keep(_vertex_base(fwd).persist())
        in_b = keep(_vertex_base(rev).persist())
        # authority chain: backward (÷ind) then forward (÷outd);
        # hub chain: forward (÷outd) then backward (÷ind)
        auth = _walk(in_b, [(rev, out_b), (fwd, in_b)], iters)
        hub = _walk(out_b, [(fwd, in_b), (rev, out_b)], iters)
        return (
            out_b.join(hub.withColumnRenamed("x", "hub"), "id", "left")
            .join(auth.withColumnRenamed("x", "authority"), "id", "left")
            .select(
                "id",
                F.coalesce("hub", F.lit(0.0)).alias("hub"),
                F.coalesce("authority", F.lit(0.0)).alias("authority"),
            )
            .localCheckpoint(eager=True)
        )


def _walk(base: DataFrame, sides: list[tuple[DataFrame, DataFrame]],
          iters: int) -> DataFrame:
    """One chain: ``2·iters`` half-steps alternating over ``sides``
    (``(edges, next base)`` pairs) from the uniform distribution over
    ``base``'s support (its non-NULL ``out_deg``); returns (id, x)."""
    x0 = base.where(F.col("out_deg").isNotNull())
    x0 = x0.withColumn("x", F.lit(1.0) / F.lit(float(x0.count())))

    def step(state: DataFrame, i: int) -> DataFrame:
        edges, nxt = sides[i % 2]
        return _contribs(
            edges, state, {"x": F.col("x") / F.col("out_deg")}
        ).join(nxt.hint("shuffle_hash"), "id")

    res = iterate(x0, step, max_iter=2 * iters, checkpoint_every=1)
    return res.state.select("id", "x")
